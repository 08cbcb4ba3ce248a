package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for [[GraftSession]]: the test session, every entry point and
  * the benchmark harness plan queries under one set of settings. */
class GraftSessionSpec extends AnyFunSuite {

  // spelled in two parts so this file does not match its own scan
  private val BuilderCall = "SparkSession" + ".builder()"

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
    val sites = SourceGuard.sites(Seq("src/main/scala", "src/test/scala"),
      BuilderCall, exempt = "GraftSession.scala")
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
