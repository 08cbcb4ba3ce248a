package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drift guard for [[GraftSession]]: the test session, every entry point and
  * the benchmark harness plan queries under one set of settings. */
class GraftSessionSpec extends AnyFunSuite {

  // spelled in two parts so this file does not match its own scan
  private val BuilderCall = "SparkSession" + ".builder()"

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir),
      s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("the test session carries the factory's plan-shaping settings") {
    val spark = TestSpark.spark
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "8k")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    GraftSession.Fixed.foreach { case (k, v) => assert(conf.get(k) == v, k) }
  }

  test("no session is built outside GraftSession") {
    val sites = for {
      f <- scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
      if f.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      // scaladoc and line comments show usage, they build nothing
      if !code.startsWith("*") && !code.startsWith("//")
      if code.contains(BuilderCall)
    } yield s"$f:${i + 1}"
    assert(sites.isEmpty, s"build the session with GraftSession.builder: $sites")
  }

  test("the benchmark harness builds its session with the factory's settings") {
    val harness =
      Files.readString(Paths.get("perfbench/src/perfbench/Harness.scala"))
    GraftSession.Fixed.foreach { case (k, v) =>
      assert(harness.contains(s""".config("$k", "$v")"""), k)
    }
  }
}
