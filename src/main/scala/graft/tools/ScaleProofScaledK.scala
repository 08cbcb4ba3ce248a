// Dev scratch: the scaled-k IVF scale proof (VERDICT r7 directive #2 +
// the q214 20x finding). q173/q89 confine their quadratic term to IVF
// cells and q214's mutual-kNN build scores label-blocked all-pairs; with
// FIXED cells the candidate volume grows ~quadratically. The production
// fix is k ∝ √N cells (the q90 trainer). This run measures BOTH
// configurations at sf0.1, the 10x fixture, and (when present) the 20x
// fixture, reporting:
//   - wall-clock medians (3 passes) per configuration,
//   - candidate volume (the structural, deterministic metric).
// Run: sbt "runMain graft.tools.ScaleProofScaledK [q173|q89|q214]"
// — pass a section name for a SOLO clean-window run: successive heavy
// sections interfere through JVM heap state (documented in
// SCALE_PROOF.md), so 20x conclusions come from solo runs only.
package graft.tools

import graft.GraftSession
import graft.llm.SimilarityQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object ScaleProofScaledK {
  def main(args: Array[String]): Unit = {
    // optional section filter: q173 | q89 | q214 (solo clean-window runs
    // — successive heavy sections interfere through JVM heap state)
    val only: Option[String] = args.headOption
    val dirs = Seq(
      "sf0.1" -> "/root/testdata/sf0.1",
      "sf1"   -> sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "scaledata/sf1")) ++
      (if (new java.io.File("scaledata/sf2").isDirectory)
        Seq("sf2" -> "scaledata/sf2") else Seq.empty)
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def emb(dir: String): DataFrame =
      graft.Tables.t(spark, dir, "embeddings")

    def medianOf(body: () => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.Checkpoints.freeingAfter(spark)(body())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }

    println(f"${"config"}%-26s ${"dir"}%-6s ${"N"}%8s ${"k"}%5s " +
      f"${"median_s"}%9s ${"candidates"}%12s")
    for ((tag, dir) <- dirs) {
      val e = emb(dir)
      val n = e.count()
      val kScaled = math.ceil(math.sqrt(n.toDouble)).toInt

      // fixed-k (the declared q173 configuration: label cells)
      if (only.forall(_ == "q173")) {
      val tFixed = medianOf(() =>
        graft.SparkEntry.queries("q173_knn_eval")(spark, dir)
          .write.format("noop").mode("overwrite").save())
      val candFixed = graft.Checkpoints.freeingAfter(spark) {
        val sc = SimilarityQueries.ivfProbe(e, 2)
          .groupBy(col("probe_label")).agg(count(lit(1)).as("probes"))
        val post = SimilarityQueries.ivfAssign(e)
          .groupBy(col("assigned_label")).agg(count(lit(1)).as("posts"))
        sc.join(post, col("probe_label") === col("assigned_label"))
          .agg(sum(col("probes") * col("posts"))).head().getLong(0)
      }
      println(f"${"q173 fixed-k (labels)"}%-26s $tag%-6s $n%8d ${10}%5d " +
        f"$tFixed%9.2f $candFixed%12d")

      // scaled-k (k-means cells, k = ceil(sqrt(N)), 2 Lloyd rounds)
      val tScaled = medianOf(() =>
        SimilarityQueries.knnEvalScaledK(e, kScaled, 2)
          .write.format("noop").mode("overwrite").save())
      val candScaled = graft.Checkpoints.freeingAfter(spark) {
        val scored = SimilarityQueries.knnScoredScaledK(e, kScaled, 2)
        val probes = scored.groupBy(col("cell"))
          .agg(count(lit(1)).as("probes"))
        val posts = scored.filter(col("rnk") === 1).groupBy(col("cell"))
          .agg(count(lit(1)).as("posts"))
        probes.join(posts, "cell")
          .agg(sum(col("probes") * col("posts"))).head().getLong(0)
      }
      println(f"${"q173 scaled-k (kmeans)"}%-26s $tag%-6s $n%8d $kScaled%5d " +
        f"$tScaled%9.2f $candScaled%12d")
      }

      if (only.forall(_ == "q89")) {
      // q89 semantic dedup, both cell structures (candidate volume for the
      // within-cell pair join is sum over cells of c*(c-1)/2)
      val tSemF = medianOf(() =>
        graft.SparkEntry.queries("q89_semantic_dedup")(spark, dir)
          .write.format("noop").mode("overwrite").save())
      val pairsF = graft.Checkpoints.freeingAfter(spark) {
        SimilarityQueries.ivfAssign(e)
          .groupBy(col("assigned_label")).agg(count(lit(1)).as("c"))
          .agg(sum((col("c") * (col("c") - 1) / 2).cast("long")))
          .head().getLong(0)
      }
      println(f"${"q89 fixed-k (labels)"}%-26s $tag%-6s $n%8d ${10}%5d " +
        f"$tSemF%9.2f $pairsF%12d")

      val tSemS = medianOf(() =>
        SimilarityQueries.semDedupScaledK(e, 0.97, kScaled, 2)
          .write.format("noop").mode("overwrite").save())
      val pairsS = graft.Checkpoints.freeingAfter(spark) {
        SimilarityQueries.knnScoredScaledK(e, kScaled, 2)
          .filter(col("rnk") === 1)
          .groupBy(col("cell")).agg(count(lit(1)).as("c"))
          .agg(sum((col("c") * (col("c") - 1) / 2).cast("long")))
          .head().getLong(0)
      }
      println(f"${"q89 scaled-k (kmeans)"}%-26s $tag%-6s $n%8d $kScaled%5d " +
        f"$tSemS%9.2f $pairsS%12d")
      }

      if (only.forall(_ == "q214")) {
      // q214 link prediction over both kNN-graph builders. The exact
      // builder scores label-blocked ALL-PAIRS (N²/|labels| cosines —
      // the quadratic the 20x point exposed); the scaled-k builder's
      // candidates come from 2 probed IVF cells (N·√N). Candidate
      // volume = rows entering the top-k ranking.
      val tLpF = medianOf(() =>
        graft.SparkEntry.queries("q214_link_prediction")(spark, dir)
          .write.format("noop").mode("overwrite").save())
      // measured like the other rows: sum over label blocks of c*(c-1)
      // ordered pairs (each vector scores every other in its block)
      val candLpF = graft.Checkpoints.freeingAfter(spark) {
        e.groupBy(col("label")).agg(count(lit(1)).as("c"))
          .agg(sum((col("c") * (col("c") - 1)).cast("long")))
          .head().getLong(0)
      }
      println(f"${"q214 exact kNN (labels)"}%-26s $tag%-6s $n%8d ${10}%5d " +
        f"$tLpF%9.2f $candLpF%12d")

      val tLpS = medianOf(() =>
        graft.ops.GraphQueries.linkPrediction(
          SimilarityQueries.mutualKnnEdgesScaledK(e, 5, kScaled, 2)
            .select(col("label"), col("a_id"), col("b_id")))
          .write.format("noop").mode("overwrite").save())
      val candS214 = graft.Checkpoints.freeingAfter(spark) {
        val scored = SimilarityQueries.knnScoredScaledK(e, kScaled, 2)
        val probes = scored.groupBy(col("cell"))
          .agg(count(lit(1)).as("probes"))
        val posts = scored.filter(col("rnk") === 1).groupBy(col("cell"))
          .agg(count(lit(1)).as("posts"))
        probes.join(posts, "cell")
          .agg(sum(col("probes") * col("posts"))).head().getLong(0)
      }
      println(f"${"q214 scaled-k kNN"}%-26s $tag%-6s $n%8d $kScaled%5d " +
        f"$tLpS%9.2f ${candS214}%12d")
      }
    }
    spark.stop()
  }
}
