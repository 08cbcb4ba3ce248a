package graft.llm

import graft.{Tables, TestSpark}
import graft.functions.TrigramProfileHits.trigramProfileHits
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused trigram-profile counter vs an independent generator-based
  * reference computation, plus the codepoint and codegen contracts q72
  * relies on.
  */
class TrigramProfileHitsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Profiles = Seq(
    Seq("the", "he ", " th", "of ", "and"),
    Seq("tab", "row", " ro", "le "),
    Seq("dat", "val", " va", "ta "))

  test("counts equal the explode-based formulation on the fixture corpus") {
    val docs = Tables.t(spark, TestSpark.Sf, "documents")
    val txt  = lower(col("text"))
    val hits = trigramProfileHits(txt, Profiles)
    // independent reference: materialize every trigram, count membership
    val grams = when(length(txt) >= 3,
      transform(sequence(lit(1), length(txt) - 2),
        (i: Column) => substr(txt, i, lit(3))))
      .otherwise(array().cast("array<string>"))
    def ref(p: Seq[String]): Column =
      size(filter(grams, (g: Column) => g.isInCollection(p))).cast("long")
    val diff = docs.select(
        hits.getItem(0).as("f0"), hits.getItem(1).as("f1"),
        hits.getItem(2).as("f2"),
        ref(Profiles(0)).as("r0"), ref(Profiles(1)).as("r1"),
        ref(Profiles(2)).as("r2"))
      .filter(col("f0") =!= col("r0") || col("f1") =!= col("r1") ||
        col("f2") =!= col("r2"))
    assert(diff.count() == 0)
  }

  test("short strings count zero; null input yields null") {
    import spark.implicits._
    val out = Seq(Some(""), Some("th"), Some("the"), None).toDF("t")
      .select(trigramProfileHits(col("t"), Seq(Seq("the"))).as("h"))
      .collect()
    assert(out(0).getSeq[Long](0) == Seq(0L))
    assert(out(1).getSeq[Long](0) == Seq(0L))
    assert(out(2).getSeq[Long](0) == Seq(1L))
    assert(out(3).isNullAt(0))
  }

  test("windows slide by codepoint, not UTF-16 unit") {
    import spark.implicits._
    // U+1F600 is a surrogate pair in UTF-16; trigrams must treat it as one
    // character, so "a😀b" is a single trigram of the 5-codepoint string
    val out = Seq("a\ud83d\ude00b\ud83d\ude00c").toDF("t")
      .select(trigramProfileHits(col("t"),
        Seq(Seq("a\ud83d\ude00b"), Seq("\ud83d\ude00b\ud83d\ude00"))).as("h"))
      .collect()(0).getSeq[Long](0)
    assert(out == Seq(1L, 1L))
  }

  test("overlapping occurrences all count") {
    import spark.implicits._
    val out = Seq("aaaa").toDF("t")
      .select(trigramProfileHits(col("t"), Seq(Seq("aaa"))).as("h"))
      .collect()(0).getSeq[Long](0)
    assert(out == Seq(2L))
  }

  test("participates in whole-stage codegen") {
    // parquet-backed input: a local Seq collapses to LocalTableScan and
    // never reaches codegen. Raw read, not Tables.t: the r14 scan-fanout
    // exchange would hide the codegen span this probe greps for.
    val plan = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .limit(10)
      .select(trigramProfileHits(col("text"), Seq(Seq("the"))).as("h"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("trigramprofilehits") && l.contains("*(")),
      s"not codegen'd:\n$plan")
  }

  test("q72 plan has no generator and no aggregation exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = graft.SparkEntry.queries("q72_langid_ngram")(
      spark, TestSpark.Sf).queryExecution.executedPlan
    assert(!plan.toString.contains("Generate"),
      s"generator crept back:\n$plan")
    // the only hash exchange allowed is the loader's single scan fanout
    // (Tables.t: xxhash64(doc_id) directly over the documents scan)
    val (fanout, other) = new AdaptiveSparkPlanHelper {}
      .collect(plan) { case s: ShuffleExchangeLike => s }
      .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
      .partition(graft.PlanGuardSpec.isScanFanout)
    assert(fanout.size <= 1, s"more than one scan fanout:\n$plan")
    assert(other.isEmpty, s"aggregation shuffle crept back:\n$plan")
  }
}
