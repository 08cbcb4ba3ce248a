package graft.sources

import java.nio.file.{Files, Paths}

import graft.{SourceGuard, TestSpark, Tables}
import graft.TestSpark.jobsDuring
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** [[ParquetSchema]] returns the schema Spark's inference would, raises
  * Spark's errors where inference would fail, and starts no job. */
class ParquetSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshDir() = s"/tmp/graft-test-pqschema-${System.nanoTime()}"

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def inferred(path: String): StructType =
    spark.read.parquet(path).schema

  private def assertSameAsInference(path: String): Unit = {
    assert(ParquetSchema.read(spark, path).schema == inferred(path), path)
    assert(ParquetSchema.of(spark, path).isDefined, path)
  }

  private def write(df: DataFrame, path: String): String = {
    df.write.mode("overwrite").parquet(path); path
  }

  /** The one data file Spark wrote into `dir`. */
  private def dataFile(dir: String): Path =
    fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head

  test("the session does not merge parquet schemas") {
    // the footer read reproduces the non-merging inference only
    assert(!spark.sessionState.conf.isParquetSchemaMergingEnabled)
  }

  test("every fixture table reads with the schema inference gives") {
    // the loader's settings: nanos read as long, no TIMESTAMP_NTZ
    Tables.t(spark, TestSpark.Sf, "region")
    for {
      sf <- Seq(TestSpark.Sf,
        Paths.get(TestSpark.Sf).resolveSibling("sf0.1").toString)
      if Files.isDirectory(Paths.get(sf))
      name <- Tables.all
    } assertSameAsInference(s"$sf/$name.parquet")
  }

  test("timestamp, decimal, nested and empty frames match inference") {
    val rich = spark.sql(
      """SELECT id, timestamp_micros(id * 1000003) AS ts,
        |  CAST(id / 7 AS DECIMAL(12, 3)) AS d, array(id, id + 1) AS xs,
        |  map('k', id) AS m, named_struct('a', id, 'b', 'x') AS s,
        |  id % 2 = 0 AS flag
        |FROM range(5)""".stripMargin)
    assertSameAsInference(write(rich, freshDir()))
    assertSameAsInference(write(rich.limit(0), freshDir()))
  }

  test("hive partitions are discovered and typed as inference types them") {
    import spark.implicits._
    val dir = freshDir()
    Seq((1L, "10", "a"), (2L, "20", "b")).toDF("id", "bucket", "payload")
      .write.partitionBy("bucket").parquet(dir)
    assert(ParquetSchema.read(spark, dir).schema("bucket").dataType ==
      IntegerType)
    assertSameAsInference(dir)
    assert(ParquetSchema.read(spark, dir).collect().toSet ==
      spark.read.parquet(dir).collect().toSet)
  }

  test("the footer is picked as inference picks it") {
    import spark.implicits._
    val dir = freshDir()
    write(Seq((1L, "a")).toDF("id", "payload"), dir)
    // hidden names sort first and are skipped
    val other = write(Seq(2.5).toDF("w"), freshDir())
    FileUtil.copy(fs, dataFile(other), fs, new Path(dir, "_early.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    FileUtil.copy(fs, dataFile(other), fs, new Path(dir, ".early.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    assertSameAsInference(dir)
    assert(ParquetSchema.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("id", "payload"))
    // a summary file wins over every data file, _common_metadata first
    Seq("_metadata", "_common_metadata").foreach { summary =>
      val source =
        write(Seq((3, true)).toDF(s"from$summary", "flag"), freshDir())
      FileUtil.copy(fs, dataFile(source), fs, new Path(dir, summary),
        false, spark.sparkContext.hadoopConfiguration)
      assertSameAsInference(dir)
      assert(ParquetSchema.read(spark, dir).schema.fieldNames.head ==
        s"from$summary")
    }
    // among data files, the first by path
    val two = freshDir()
    write(Seq(1L).toDF("later"), s"$two/b")
    write(Seq(1L).toDF("first"), s"$two/a")
    Seq("a", "b").foreach { d =>
      fs.rename(dataFile(s"$two/$d"), new Path(two, s"part-$d.parquet"))
    }
    assertSameAsInference(two)
    assert(ParquetSchema.read(spark, two).schema.fieldNames.toSeq ==
      Seq("first"))
  }

  test("missing paths and data-less directories raise Spark's errors") {
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    val missing = freshDir()
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    assert(condition(ParquetSchema.read(spark, missing)) == "PATH_NOT_FOUND")
    val empty = freshDir()
    fs.mkdirs(new Path(empty))
    fs.create(new Path(empty, "_SUCCESS")).close()
    assert(condition(spark.read.parquet(empty)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(ParquetSchema.read(spark, empty)) ==
      "UNABLE_TO_INFER_SCHEMA")
  }

  test("table, source and partitioned reads start no job") {
    import spark.implicits._
    assert(jobsDuring { Tables.t(spark, TestSpark.Sf, "orders") } == 0)
    val path = s"${TestSpark.Sf}/lineitem.parquet"
    assert(jobsDuring { ParquetSource(path).read(spark) } == 0)
    val dir = freshDir()
    Seq((1L, "x")).toDF("id", "p").write.partitionBy("p").parquet(dir)
    assert(jobsDuring { ParquetSchema.read(spark, dir) } == 0)
  }

  test("readDirs reads several directories as Spark's merging read does") {
    import spark.implicits._
    val root = freshDir()
    val dirs = Seq(
      write(Seq((1L, "a")).toDF("id", "payload"), s"$root/_d1"),
      write(Seq((2L, "b", 7L)).toDF("id", "payload", "extra"), s"$root/_d2"),
      write(Seq((3L, 1.5)).toDF("id", "w"), s"$root/_d3"))
    val merging = spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    var got: DataFrame = null
    assert(jobsDuring { got = ParquetSchema.readDirs(spark, dirs) } == 0)
    assert(got.schema == merging.schema)
    assert(got.schema.fieldNames.toSeq == Seq("id", "payload", "extra", "w"))
    assert(got.collect().toSet == merging.collect().toSet)
    assert(got.inputFiles.toSet == merging.inputFiles.toSet)
    // one directory: the schema and rows of read, partitions included
    val parts = freshDir()
    Seq((1L, "10", "a"), (2L, "20", "b")).toDF("id", "bucket", "payload")
      .write.partitionBy("bucket").parquet(s"$parts/_v1")
    val one = ParquetSchema.readDirs(spark, Seq(s"$parts/_v1"))
    assert(one.schema == inferred(s"$parts/_v1"))
    assert(one.collect().toSet == spark.read.parquet(s"$parts/_v1")
      .collect().toSet)
  }

  test("readDirs falls back to Spark's read where a footer cannot decide") {
    import spark.implicits._
    val root = freshDir()
    val full = write(Seq((1L, "a")).toDF("id", "payload"), s"$root/_d1")
    val empty = s"$root/_d2"
    fs.mkdirs(new Path(empty))
    fs.create(new Path(empty, "_SUCCESS")).close()
    val both = Seq(full, empty)
    val merging = spark.read.option("mergeSchema", "true").parquet(both: _*)
    val got = ParquetSchema.readDirs(spark, both)
    assert(got.schema == merging.schema)
    assert(got.collect().toSet == merging.collect().toSet)
    val missing = freshDir()
    assert(intercept[AnalysisException](
      ParquetSchema.readDirs(spark, Seq(full, missing))).getCondition ==
      "PATH_NOT_FOUND")
  }

  test("readDirs names a column two directories type differently") {
    import spark.implicits._
    val root = freshDir()
    val dirs = Seq(
      write(Seq((1L, 10)).toDF("id", "v"), s"$root/_d1"),
      write(Seq((2L, "x")).toDF("id", "v"), s"$root/_d2"))
    val e = intercept[IllegalArgumentException] {
      ParquetSchema.readDirs(spark, dirs)
    }
    assert(e.getMessage.contains("v (string in"), e.getMessage)
    assert(e.getMessage.contains("_d2"), e.getMessage)
  }

  test("the read-chain scan sees builder chains across lines") {
    def lines(code: String) =
      SourceGuard.readLines(code.split("\n").toSeq, "parquet")
    assert(lines("val d = spark.read.parquet(p)") == Seq(1))
    assert(lines("x\nspark.read.schema(StructType(Seq(f)))\n" +
      "  .option(\"a\", g(1))\n  .parquet(dirs: _*)") == Seq(2))
    assert(lines("df.write.mode(\"overwrite\").parquet(p)").isEmpty)
    assert(lines("spark.readStream.schema(s).parquet(p)").isEmpty)
    assert(lines("Snapshot.read(spark, root).write.parquet(p)").isEmpty)
    assert(lines("spark.read.csv(p).write.parquet(q)").isEmpty)
    assert(lines("// spark.read.parquet(p)\n * spark.read.parquet(p)")
      .isEmpty)
  }

  test("no parquet read outside ParquetSchema starts an inference job") {
    val sites = SourceGuard.readSites(Seq("src/main/scala"), "parquet",
      exempt = "ParquetSchema.scala")
    assert(sites.isEmpty, s"read parquet with ParquetSchema: $sites")
  }
}
