package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import graft.{SourceGuard, TestSpark}
import graft.TestSpark.jobsDuring
import graft.sources.ParquetSchema
import org.apache.hadoop.fs.Path
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Crash-atomicity of the versioned snapshot commit: a writer killed
  * between any two phases must leave readers on a complete snapshot
  * (the reference's transactional write, operations.py:181, at snapshot
  * granularity). Each "kill" is simulated by reproducing on disk exactly
  * the state the protocol passes through.
  */
class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def df(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"row$i")).toDF("id", "payload")
  }

  private def freshRoot() = s"/tmp/graft-test-snap-${System.nanoTime()}"

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** The schema a snapshot read takes for one directory (its footer). */
  private def footer(dir: String): StructType =
    ParquetSchema.read(spark, dir).schema

  /** What schema inference says about the same directory. */
  private def inferred(dir: String): StructType =
    spark.read.parquet(dir).schema

  private def writeFile(path: String, text: String): Unit = {
    val out = fs.create(new Path(path), true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Rows as a set of plain values, for order-free comparison. */
  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Spark's "All paths were ignored" warnings logged while `body` runs. */
  private def ignoredPathWarnings(body: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("ignored-paths", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
              .startsWith("All paths were ignored")) {
          seen.incrementAndGet(); ()
        }
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try body
    finally { logger.removeAppender(appender); appender.stop() }
    seen.get
  }

  /** Rewrite `root`'s pointer to name `nDeltas` stacked deltas. */
  private def setDeltaCount(root: String, nDeltas: Long): Unit = {
    val in = fs.open(new Path(root, "_current"))
    val line = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val p = Snapshot.parsePointer(line)
    writeFile(s"$root/_current", p.copy(nDeltas = nDeltas).line)
  }

  test("commit round-trips and bumps the version") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    Snapshot.commit(df(7), root)
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(Snapshot.read(spark, root).count() == 7)
  }

  test("kill during the snapshot write: readers stay on the old version") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    // phase-1 crash state: a partial _v2 (one stray non-parquet file, no
    // _SUCCESS, pointer untouched) — exactly what a killed executor leaves
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val partial = new Path(root, "_v2/part-00000.parquet")
    val out = fs.create(partial, true)
    out.write("torn bytes, not parquet".getBytes(UTF_8)); out.close()

    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.read(spark, root).count() == 5)
    // recovery: the next commit skips the orphan version and GCs it
    Snapshot.commit(df(9), root)
    assert(Snapshot.currentVersion(spark, root).contains(3L))
    assert(Snapshot.read(spark, root).count() == 9)
    assert(!fs.exists(new Path(root, "_v2")))
  }

  test("kill between pointer-temp write and rename: reader unaffected") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // phase-2 crash state: complete _v2 exists, pointer temp written but
    // never renamed over _current
    Snapshot.commit(df(8), root) // produce a real _v2...
    val tmp = new Path(root, "_current.tmp")
    val o = fs.create(tmp, true); o.write("99".getBytes(UTF_8)); o.close()

    // the stray temp never shadows the committed pointer
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(Snapshot.read(spark, root).count() == 8)
    // and the next commit just rolls forward past it
    Snapshot.commit(df(3), root)
    assert(Snapshot.read(spark, root).count() == 3)
  }

  test("GC keeps the previous version for in-flight readers, drops older") {
    val root = freshRoot()
    Snapshot.commit(df(1), root)
    Snapshot.commit(df(2), root)
    Snapshot.commit(df(3), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(root, "_v1")))
    assert(fs.exists(new Path(root, "_v2"))) // reader grace window
    assert(fs.exists(new Path(root, "_v3")))
  }

  test("retain=N widens the time-travel window to N bases (policy knob)") {
    val root = freshRoot()
    Snapshot.commit(df(1), root, retain = 3)
    Snapshot.commit(df(2), root, retain = 3)
    Snapshot.commit(df(3), root, retain = 3)
    Snapshot.commit(df(4), root, retain = 3)
    // newest 3 committed bases readable, each as of its final state
    assert(Snapshot.versions(spark, root) == Seq(2L, 3L, 4L))
    assert(Snapshot.readVersion(spark, root, 2L).count() == 2)
    assert(Snapshot.readVersion(spark, root, 3L).count() == 3)
    assert(Snapshot.readVersion(spark, root, 4L).count() == 4)
    // v1 is outside the window: data dir GC'd, marker gone, loud failure
    val e = intercept[IllegalArgumentException] {
      Snapshot.readVersion(spark, root, 1L)
    }
    assert(e.getMessage.contains("not retained"))
    // narrowing the policy back to the default shrinks the window again
    Snapshot.commit(df(5), root)
    assert(Snapshot.versions(spark, root) == Seq(4L, 5L))
  }

  test("readVersion time-travels across the retained window") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    Snapshot.commit(df(7), root)
    // both retained versions readable, each as of ITS final state
    assert(Snapshot.versions(spark, root) == Seq(1L, 2L))
    assert(Snapshot.readVersion(spark, root, 1L).count() == 5)
    assert(Snapshot.readVersion(spark, root, 2L).count() == 7)
    // next commit rolls the window: v1 is GC'd and fails loudly, naming
    // what IS readable
    Snapshot.commit(df(9), root)
    assert(Snapshot.versions(spark, root) == Seq(2L, 3L))
    val e = intercept[IllegalArgumentException] {
      Snapshot.readVersion(spark, root, 1L)
    }
    assert(e.getMessage.contains("not retained"))
    assert(Snapshot.readVersion(spark, root, 2L).count() == 7)
  }

  test("readVersion of a past base folds the deltas that base carried") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(3), root) // v1 = rows 1..3
    // two deltas on v1: update row 1, add row 10
    Snapshot.commitDelta(Seq((1L, "patched")).toDF("id", "payload"),
      root, "id")
    Snapshot.commitDelta(Seq((10L, "new")).toDF("id", "payload"),
      root, "id")
    Snapshot.commit(df(2), root) // v2 supersedes everything
    // as-of v1 = base ⊎ its deltas (4 rows, patch applied), not raw v1
    val v1 = Snapshot.readVersion(spark, root, 1L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(v1.toSeq == Seq((1L, "patched"), (2L, "row2"), (3L, "row3"),
      (10L, "new")))
    assert(Snapshot.read(spark, root).count() == 2)
  }

  test("legacy plain-parquet roots read through and upgrade on commit") {
    val root = freshRoot()
    df(4).write.parquet(root) // pre-protocol destination layout
    assert(Snapshot.read(spark, root).count() == 4)
    Snapshot.commit(df(6), root)
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.read(spark, root).count() == 6)
    // the pre-protocol top-level files are gone: a reader still on the old
    // contract fails loudly instead of silently reading the frozen
    // pre-upgrade snapshot forever
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(root))
      .forall(_.getPath.getName.startsWith("_")))
  }

  test("partitioned commit lays the version out hive-partitioned") {
    import spark.implicits._
    val root = freshRoot()
    val data = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "grp")
    Snapshot.commit(data, root, partitionCols = Seq("grp"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(root, "_v1/grp=a")))
    assert(Snapshot.read(spark, root).count() == 3)
  }

  test("commitDelta stacks deltas; read folds latest-wins per pk") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), root)
    Snapshot.commitDelta(
      Seq((2L, "b2"), (3L, "c")).toDF("id", "payload"), root, "id")
    Snapshot.commitDelta(Seq((3L, "c2")).toDF("id", "payload"), root, "id")
    assert(Snapshot.currentVersion(spark, root).contains(1L))
    assert(Snapshot.currentDeltaCount(spark, root) == 2L)
    val out = Snapshot.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c2")))
  }

  test("delta commit is O(batch): the base version's files are untouched") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(100), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val before = fs.listStatus(new Path(root, "_v1"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    Snapshot.commitDelta(Seq((1L, "upd")).toDF("id", "payload"), root, "id")
    val after = fs.listStatus(new Path(root, "_v1"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    assert(before == after) // no O(table) rewrite on the delta path
    assert(Snapshot.read(spark, root).count() == 100)
  }

  test("the delta stack compacts into a new base at the threshold") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(Seq((0L, "base")).toDF("id", "payload"), root)
    (1 to Snapshot.CompactThreshold.toInt).foreach { i =>
      Snapshot.commitDelta(
        Seq((i.toLong, s"d$i")).toDF("id", "payload"), root, "id")
    }
    // the threshold-th delta triggered compaction: new base, empty stack
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(Snapshot.currentDeltaCount(spark, root) == 0L)
    assert(Snapshot.read(spark, root).count() == 1 + Snapshot.CompactThreshold)
    // the old stack dies with its base at the next base commit
    Snapshot.commit(df(2), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(root, "_v1")))
    assert(!fs.exists(new Path(root, "_v1_d1")))
  }

  test("compaction preserves the base's hive-partition layout and pk") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    val base = (1 to 10).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", s"v$i"))
      .toDF("id", "grp", "payload")
    Snapshot.commit(base, root, partitionCols = Seq("grp"))
    (1 to Snapshot.CompactThreshold).foreach { i =>
      Snapshot.commitDelta(
        Seq((i.toLong, "a", s"upd$i")).toDF("id", "grp", "payload"),
        root, "id")
    }
    // folded into a new base, still hive-partitioned on grp
    assert(Snapshot.currentVersion(spark, root).contains(2L))
    assert(Snapshot.currentDeltaCount(spark, root) == 0L)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(root, "_v2/grp=a")))
    // deltas won: every id <= threshold reads back as its update
    val upd = Snapshot.read(spark, root).filter(col("id") === 2L).collect()
    assert(upd.map(_.getAs[String]("payload")).toSeq == Seq("upd2"))
    // the pk survived compaction: a drifting pk still fails loudly
    intercept[IllegalArgumentException] {
      Snapshot.commitDelta(
        Seq((1L, "a", "x")).toDF("id", "grp", "payload"), root, "grp")
    }
  }

  test("kill between delta write and pointer swap: torn delta invisible, " +
       "retry recovers by overwrite") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(3), root)
    // crash state: _v1_d1 written (torn) but the pointer still names 0
    // deltas — readers must not see it
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val torn = new Path(root, "_v1_d1/part-00000.parquet")
    val o = fs.create(torn, true)
    o.write("torn bytes, not parquet".getBytes(UTF_8)); o.close()
    assert(Snapshot.currentDeltaCount(spark, root) == 0L)
    assert(Snapshot.read(spark, root).count() == 3)
    // the retried delta commit lands on the SAME index, replacing the
    // torn directory whole — read folds only committed data
    Snapshot.commitDelta(Seq((99L, "x")).toDF("id", "payload"), root, "id")
    assert(Snapshot.currentDeltaCount(spark, root) == 1L)
    assert(Snapshot.read(spark, root).count() == 4)
  }

  test("commitDelta on a legacy plain-parquet root upgrades without " +
       "dropping the legacy rows") {
    import spark.implicits._
    val root = freshRoot()
    df(4).write.parquet(root) // pre-protocol layout, no pointer
    Snapshot.commitDelta(Seq((99L, "x")).toDF("id", "payload"), root, "id")
    assert(Snapshot.read(spark, root).count() == 5)
    assert(Snapshot.currentVersion(spark, root).contains(1L))
  }

  test("a delta with a different pk than the stack's fails loudly") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(2), root)
    Snapshot.commitDelta(Seq((9L, "x")).toDF("id", "payload"), root, "id")
    intercept[IllegalArgumentException] {
      Snapshot.commitDelta(
        Seq((9L, "x")).toDF("id", "payload"), root, "payload")
    }
  }

  test("concurrent base commits: one winner, the loser fails loudly and " +
       "the winner's data survives") {
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    // writer A passes its data-write phase, then writer B commits fully,
    // then A reaches its pointer swap — A must detect B and fail, not
    // blind-overwrite B's committed pointer
    intercept[Snapshot.ConcurrentCommitException] {
      Snapshot.commitHooked(df(7), root, Nil,
        beforeSwap = () => { Snapshot.commit(df(9), root); () })
    }
    assert(Snapshot.read(spark, root).count() == 9) // B's commit intact
    // the loser's orphan version dir is GC'd by the next commit
    Snapshot.commit(df(2), root)
    assert(Snapshot.read(spark, root).count() == 2)
  }

  test("delta schema drift across the stack null-fills at read") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(Seq((1L, "a")).toDF("id", "payload"), root)
    Snapshot.commitDelta(
      Seq((2L, "b", 42L)).toDF("id", "payload", "extra"), root, "id")
    val out = Snapshot.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(out.toSeq == Seq((1L, None), (2L, Some(42L))))
  }

  test("a re-typed delta is rejected before anything is written") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(Seq((1L, 10), (2L, 20)).toDF("id", "v"), root)
    // w exists only in the stacked delta: the check reads base + deltas
    Snapshot.commitDelta(Seq((3L, 30, 7)).toDF("id", "v", "w"), root, "id")
    val pointer = new Path(root, "_current")
    def pointerLine() = {
      val in = fs.open(pointer)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    def rows() = Snapshot.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val before = (pointerLine(), rows())
    assert(before._2 == Seq((1L, 10), (2L, 20), (3L, 30)))
    val retyped = Seq(
      "v" -> Seq((4L, "forty")).toDF("id", "v"),
      "v" -> Seq((4L, 40L)).toDF("id", "v"),
      "w" -> Seq((4L, 40, "seven")).toDF("id", "v", "w"))
    retyped.foreach { case (column, delta) =>
      val e = intercept[UpsertKernel.SchemaDriftException] {
        Snapshot.commitDelta(delta, root, "id")
      }
      assert(e.drifted.map(_._1) == Seq(column), e.getMessage)
      assert(e.getMessage.contains(root), e.getMessage)
      assert(!fs.exists(new Path(root, "_v1_d2")))
      assert((pointerLine(), rows()) == before)
    }
  }

  test("a same-typed delta lands on a hive-partitioned base") {
    import spark.implicits._
    // path inference types both partition columns int: `year` was
    // written bigint, `bucket` a numeric-looking string
    val root = freshRoot()
    Snapshot.commit(Seq((1L, 2020L, "10", 1.0), (2L, 2021L, "20", 2.0))
      .toDF("id", "year", "bucket", "v"), root,
      partitionCols = Seq("year", "bucket"))
    assert(Snapshot.read(spark, root).schema("year").dataType == IntegerType)
    // the second delta resolves against base plus the first
    Snapshot.commitDelta(Seq((2L, 2021L, "20", 2.5))
      .toDF("id", "year", "bucket", "v"), root, "id")
    Snapshot.commitDelta(Seq((3L, 2022L, "30", 3.0))
      .toDF("id", "year", "bucket", "v"), root, "id")
    assert(Snapshot.currentDeltaCount(spark, root) == 2)
    val got = Snapshot.read(spark, root).orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Any]("year").toString,
        r.getAs[Any]("bucket").toString, r.getAs[Double]("v"))).toSeq
    assert(got == Seq((1L, "2020", "10", 1.0), (2L, "2021", "20", 2.5),
      (3L, "2022", "30", 3.0)))
    // a data column is still checked
    intercept[UpsertKernel.SchemaDriftException] {
      Snapshot.commitDelta(Seq((4L, 2022L, "30", "x"))
        .toDF("id", "year", "bucket", "v"), root, "id")
    }
  }

  test("no parquet write under graft/etl bypasses Snapshot") {
    // Seed.seedBucketed is the one writer outside Snapshot: its bucket
    // metadata lives in the catalog (saveAsTable)
    def writesParquet(code: String) = !code.contains("read.") &&
      (code.contains(".parquet(") || code.contains("format(\"parquet\")"))
    val sites = SourceGuard.sitesWhere(Seq("src/main/scala/graft/etl"),
      exempt = "Snapshot.scala")(writesParquet)
      .filterNot(_.contains("/Seed.scala:"))
    assert(sites.isEmpty, s"land tables with Snapshot.commit: $sites")
  }

  test("a missing committed version fails loudly, not with wrong data") {
    val root = freshRoot()
    Snapshot.commit(df(2), root)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, "_v1"), true)
    intercept[IllegalArgumentException] { Snapshot.read(spark, root) }
  }

  test("each committed directory reads with the schema inference gives") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(3), root)
    assert(footer(s"$root/_v1") == inferred(s"$root/_v1"))
    assert(Snapshot.read(spark, root).schema == inferred(s"$root/_v1"))
    // deltas that add a column, then drop one
    Snapshot.commitDelta(
      Seq((4L, "d", 7L)).toDF("id", "payload", "extra"), root, "id")
    Snapshot.commitDelta(Seq(5L).toDF("id"), root, "id")
    Seq("_v1_d1", "_v1_d2").foreach { d =>
      assert(footer(s"$root/$d") == inferred(s"$root/$d"), d)
    }
    assert(footer(s"$root/_v1_d1").fieldNames.contains("extra"))
    assert(footer(s"$root/_v1_d2").fieldNames.toSeq == Seq("id"))
    assert(Snapshot.read(spark, root).schema.fieldNames.toSeq ==
      Seq("id", "payload", "extra"))
    assert(Snapshot.read(spark, root).count() == 5)
  }

  test("a hive-partitioned commit reads with the inferred partition types") {
    import spark.implicits._
    val root = freshRoot()
    // a string partition column with numeric-looking values: inference
    // types it int, and a read through the footer must say the same
    val data = Seq((1L, "10", "a"), (2L, "20", "b"), (3L, "10", "c"))
      .toDF("id", "bucket", "payload")
    Snapshot.commit(data, root, partitionCols = Seq("bucket"))
    val dir = s"$root/_v1"
    assert(inferred(dir)("bucket").dataType == IntegerType)
    assert(footer(dir) == inferred(dir))
    val got = Snapshot.read(spark, root)
    assert(got.schema == inferred(dir))
    assert(got.collect().toSet == spark.read.parquet(dir).collect().toSet)
  }

  test("directories without a schema file read by inference, same rows") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(4), root)
    Snapshot.commitDelta(Seq((2L, "b2")).toDF("id", "payload"), root, "id")
    Snapshot.commitDelta(
      Seq((9L, "n", 1L)).toDF("id", "payload", "extra"), root, "id")
    // a commit writes its data and nothing beside it
    assert(fs.globStatus(new Path(root, "_v*/_schema.json")).isEmpty)
    val got = Snapshot.read(spark, root)
    assert(got.schema == StructType(Seq(StructField("id", LongType),
      StructField("payload", StringType), StructField("extra", LongType))))
    val rows = got.orderBy("id").collect().toSeq.map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(2))))
    assert(rows == Seq((1L, "row1", None), (2L, "b2", None),
      (3L, "row3", None), (4L, "row4", None), (9L, "n", Some(1L))))
  }

  test("a stale or bogus _schema.json from older commits is ignored") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(4), root)
    Snapshot.commitDelta(Seq((2L, "b2")).toDF("id", "payload"), root, "id")
    Snapshot.commitDelta(
      Seq((9L, "n", 1L)).toDF("id", "payload", "extra"), root, "id")
    def rows() = Snapshot.read(spark, root).orderBy("id").collect().toSeq
    val before = rows()
    // directories committed by older code carry a recorded schema; here
    // one names a column that does not exist, one is not JSON at all
    writeFile(s"$root/_v1/_schema.json",
      StructType(Seq(StructField("stale", StringType))).json)
    writeFile(s"$root/_v1_d1/_schema.json", "{ not a schema")
    writeFile(s"$root/_v1_d2/_schema.json",
      StructType(Seq(StructField("id", StringType))).json)
    assert(rows() == before)
    assert(Snapshot.read(spark, root).schema ==
      StructType(Seq(StructField("id", LongType),
        StructField("payload", StringType), StructField("extra", LongType))))
    Seq("_v1", "_v1_d1", "_v1_d2").foreach { d =>
      assert(footer(s"$root/$d") == inferred(s"$root/$d"), d)
    }
  }

  test("a retried delta commit replaces a torn directory's schema file") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(3), root)
    // crash state: _v1_d1 holds torn data and an older commit's stale
    // schema file, and the pointer still names 0 deltas
    writeFile(s"$root/_v1_d1/part-00000.parquet", "torn bytes, not parquet")
    writeFile(s"$root/_v1_d1/_schema.json",
      StructType(Seq(StructField("stale", StringType))).json)
    assert(Snapshot.read(spark, root).count() == 3)
    Snapshot.commitDelta(
      Seq((99L, "x", 1.5)).toDF("id", "payload", "w"), root, "id")
    val dir = s"$root/_v1_d1"
    assert(footer(dir) == inferred(dir))
    assert(footer(dir).fieldNames.toSeq == Seq("id", "payload", "w"))
    assert(!fs.exists(new Path(dir, "_schema.json")))
    val got = Snapshot.read(spark, root)
    assert(got.count() == 4)
    assert(got.filter("id = 99").select("w").collect().map(_.getDouble(0))
      .toSeq == Seq(1.5))
  }

  test("snapshot reads launch no jobs; a delta commit launches only " +
       "its writes") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(10), root)
    (1 to 3).foreach { i =>
      Snapshot.commitDelta(
        Seq((i.toLong, s"d$i")).toDF("id", "payload"), root, "id")
    }
    // building the merged view over base + 3 deltas: no inference jobs
    assert(jobsDuring { Snapshot.read(spark, root) } == 0)
    assert(jobsDuring { Snapshot.readVersion(spark, root, 1L) } == 0)
    // a commit costs exactly what writing its rows costs
    val delta = Seq((20L, "e")).toDF("id", "payload")
    val writes = jobsDuring {
      delta.write.mode("overwrite").parquet(s"${freshRoot()}-plain")
    }
    assert(writes >= 1)
    assert(jobsDuring { Snapshot.commitDelta(delta, root, "id") } == writes)
    assert(Snapshot.read(spark, root).count() == 11)
  }

  test("a read plans base and deltas as two file relations at any depth") {
    import spark.implicits._
    Seq(1, 3, 7).foreach { n =>
      val root = freshRoot()
      Snapshot.commit(df(10), root)
      (1 to n).foreach { i =>
        Snapshot.commitDelta(
          Seq((i.toLong, s"d$i")).toDF("id", "payload"), root, "id")
      }
      var got: DataFrame = null
      assert(jobsDuring { got = Snapshot.read(spark, root) } == 0, n)
      val relations = got.queryExecution.analyzed.collect {
        case r: LogicalRelation => r
      }
      assert(relations.size == 2, s"$n deltas: ${relations.size} relations")
      assert(rowSet(got) == (1 to 10).map(i =>
        Seq(i.toLong, if (i <= n) s"d$i" else s"row$i")).toSet, n)
    }
  }

  test("the newest delta wins per key across the stack") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(4), root)
    Seq(Seq((1L, "d1"), (3L, "d1")), Seq((5L, "d2")),
        Seq((1L, "d3"), (2L, "d3"))).foreach { rows =>
      Snapshot.commitDelta(rows.toDF("id", "payload"), root, "id")
    }
    val got = Snapshot.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "d3"), (2L, "d3"), (3L, "d1"), (4L, "row4"),
      (5L, "d2")))
  }

  test("columns added then dropped across deltas null-fill as iterated " +
       "UpsertKernel.merge does") {
    import spark.implicits._
    val root = freshRoot()
    val base = df(3)
    val deltas = Seq(
      Seq((2L, "b1", 7L)).toDF("id", "payload", "extra"),
      Seq((3L, "c2"), (4L, "n2")).toDF("id", "payload"),
      Seq((1L, 0.5), (2L, 1.5)).toDF("id", "w"))
    Snapshot.commit(base, root)
    deltas.foreach(Snapshot.commitDelta(_, root, "id"))
    val want = deltas.foldLeft(base)(UpsertKernel.merge(_, _, "id"))
    val got = Snapshot.read(spark, root)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    assert(got.schema.fieldNames.toSeq == Seq("id", "payload", "extra", "w"))
    assert(rowSet(got) == rowSet(want))
  }

  test("readVersion of a past base returns the rows it read as current") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(5), root)
    Snapshot.commitDelta(Seq((2L, "b", 1L)).toDF("id", "payload", "x"),
      root, "id")
    Snapshot.commitDelta(Seq((6L, "f")).toDF("id", "payload"), root, "id")
    Snapshot.commitDelta(Seq((2L, "b3", 3L)).toDF("id", "payload", "x"),
      root, "id")
    val current = Snapshot.read(spark, root)
    val (schema, rows) = (current.schema, rowSet(current))
    Snapshot.commit(df(2), root)
    val past = Snapshot.readVersion(spark, root, 1L)
    assert(past.schema == schema)
    assert(rowSet(past) == rows)
    assert(rows.contains(Seq(2L, "b3", 3L)))
  }

  test("a merging session and a data-less delta read as Spark's own " +
       "read does") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(4), root)
    Snapshot.commitDelta(Seq((1L, "d1", 1L)).toDF("id", "payload", "x"),
      root, "id")
    Snapshot.commitDelta(Seq((2L, "d2")).toDF("id", "payload"), root, "id")
    Snapshot.commitDelta(Seq((3L, "d3")).toDF("id", "payload"), root, "id")
    val plain = Snapshot.read(spark, root)
    val (schema, rows) = (plain.schema, rowSet(plain))
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      val merging = Snapshot.read(spark, root)
      assert(merging.schema == schema)
      assert(rowSet(merging) == rows)
    } finally spark.conf.unset(key)
    // _d2 keeps only its _SUCCESS marker: it contributes no rows, as in
    // Spark's merging read of the three delta directories
    fs.listStatus(new Path(root, "_v1_d2")).map(_.getPath)
      .filterNot(_.getName == "_SUCCESS").foreach(fs.delete(_, false))
    val deltaDirs = (1 to 3).map(d => s"$root/_v1_d$d")
    assert(spark.read.option("mergeSchema", "true").parquet(deltaDirs: _*)
      .count() == 2)
    val got = Snapshot.read(spark, root)
    assert(got.schema == schema)
    assert(rowSet(got) == rows - Seq(2L, "d2", null) + Seq(2L, "row2", null))
  }

  test("a legacy stack whose deltas re-type a column fails naming it") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(Seq((1L, 10)).toDF("id", "v"), root)
    Snapshot.commitDelta(Seq((2L, 20)).toDF("id", "v"), root, "id")
    // written before commitDelta checked drift: _d2 stores v as a string
    Seq((3L, "thirty")).toDF("id", "v").write.parquet(s"$root/_v1_d2")
    setDeltaCount(root, 2L)
    val e = intercept[IllegalArgumentException](Snapshot.read(spark, root))
    assert(e.getMessage.contains("v (string in"), e.getMessage)
    assert(e.getMessage.contains("_v1_d2"), e.getMessage)
  }

  test("reading base + deltas logs no All-paths-ignored warning") {
    import spark.implicits._
    val root = freshRoot()
    Snapshot.commit(df(4), root)
    (1 to 3).foreach { i =>
      Snapshot.commitDelta(
        Seq((i.toLong, s"d$i")).toDF("id", "payload"), root, "id")
    }
    // the appender hears Spark's warning for a hidden directory
    assert(ignoredPathWarnings(spark.read.parquet(s"$root/_v1")) >= 1)
    assert(ignoredPathWarnings {
      assert(Snapshot.read(spark, root).count() == 4)
      assert(Snapshot.readVersion(spark, root, 1L).count() == 4)
      Snapshot.commitDelta(Seq((9L, "n")).toDF("id", "payload"), root, "id")
    } == 0)
    // a legacy reader of the root still sees no snapshot's files
    assert(fs.listStatus(new Path(root))
      .forall(_.getPath.getName.startsWith("_")))
  }
}
