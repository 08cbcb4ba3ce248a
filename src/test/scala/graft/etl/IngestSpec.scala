package graft.etl

import graft.{Tables, TestSpark}
import graft.sources.ParquetSource
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** Seed (W9) and CSV ingest (W10/W13) round-trips through real files. */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("seed round-trips schema and rows (snapshot copy)") {
    val dst = s"/tmp/graft-test-seed-${System.nanoTime()}"
    val src = s"${TestSpark.Sf}/nation.parquet"
    Pipelines.seedPipeline(spark, ParquetSource(src), dst, Seq("n_nationkey"))
    val out = Snapshot.read(spark, dst)
    val in  = spark.read.parquet(src)
    assert(out.count() == in.count())
    assert(out.schema == in.schema)
  }

  test("csv ingest infers schema and preserves rows (flatfile pipeline)") {
    val csvDir = s"/tmp/graft-test-csv-${System.nanoTime()}"
    val root   = s"/tmp/graft-test-csv-out-${System.nanoTime()}"
    val nation = Tables.t(spark, TestSpark.Sf, "nation")
    nation.write.option("header", "true").csv(csvDir)
    Pipelines.flatfilePipeline(spark, Map("nation" -> Seq(csvDir)), root)
    val back = Snapshot.read(spark, s"$root/nation")
    assert(back.count() == nation.count())
    assert(back.columns.sorted.sameElements(nation.columns.sorted))
    assert(back.schema("n_nationkey").dataType == IntegerType)
  }

  test("dirty csv rows quarantine instead of aborting or silently nulling") {
    val dir = s"/tmp/graft-test-csv-dirty-${System.nanoTime()}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.csv"),
      """id,qty
        |1,10
        |2,not-a-number
        |3,30
        |""".stripMargin)
    val q = CsvIngest.readCsvQuarantined(
      spark, "id BIGINT, qty BIGINT", s"$dir/data.csv")
    try {
      assert(q.clean.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
      val bad = q.quarantined.collect().map(_.getString(0))
      assert(bad.length == 1 && bad(0).contains("not-a-number"))
    } finally q.release()
  }

  test("bucketed seed enables shuffle-free self-join on the bucket column") {
    val t = s"orders_bucketed_${System.nanoTime()}"
    val out = Seed.seedBucketed(
      spark.read.parquet(s"${TestSpark.Sf}/orders.parquet"), "o_custkey", t,
      s"/tmp/graft-test-bucketed-${System.nanoTime()}")
    assert(out.count() == 1500)
    // force a shuffling join shape (the table is small enough to broadcast,
    // which would bypass bucketing entirely)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(t).alias("a")
        .join(spark.table(t).alias("b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned seed prunes the scan to the filtered date partition") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    val dst = s"/tmp/graft-test-seed-part-${System.nanoTime()}"
    val ev  = Tables.t(spark, TestSpark.Sf, "events")
      .withColumn("event_date", to_date(col("ts")))
    val back = Snapshot.commit(TypeNormalizer.normalize(ev), dst,
      partitionCols = Seq("event_date"))
    assert(back.count() == ev.count())

    val oneDay = back.filter(col("event_date") === lit("2024-01-15"))
    val scans = oneDay.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // the date predicate must prune at the directory level, not per-row
    assert(scans.head.partitionFilters.nonEmpty,
      s"no PartitionFilters:\n${oneDay.queryExecution.executedPlan}")
    val expected = ev.filter(col("event_date") === lit("2024-01-15")).count()
    assert(oneDay.count() == expected && expected > 0)
  }

  test("cosine_sim is SQL-callable via GraftExtensions") {
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c""")
      .collect()(0).getDouble(0)
    assert(r == 1.0)
  }

  test("safe insert splits conflicts from insertables") {
    import spark.implicits._
    val existing = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val incoming = Seq((2L, "b2"), (3L, "c")).toDF("id", "v")
    assert(SafeInsert.conflicts(incoming, existing, "id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(SafeInsert.insertable(incoming, existing, "id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }
}
