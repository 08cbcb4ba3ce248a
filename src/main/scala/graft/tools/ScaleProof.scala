// Dev scratch: the 10x scale proof — run the expensive queries at sf0.1
// and at the ScaleGen 10x fixture, compare medians and AQE-final plan
// shapes (broadcast-join flips, cartesian appearances, shuffle counts).
// Linear-ish time growth + a stable plan is the empirical evidence behind
// every "100 TB design" claim in the Scaladoc.
// Run: sbt "runMain graft.tools.ScaleProof [queries...]"
package graft.tools

import graft.{GraftSession, SparkEntry}

object ScaleProof {
  val Default = Seq(
    "q71_dedup_clusters", "q107_pagerank", "q34_jaccard_pairs",
    "q104_winsorize", "q36_minhash_pairs", "q116_eval_overlap",
    "q89_semantic_dedup", "q90_kmeans_train", "q99_pq_encode",
    "q77_stat_aggs", "q119_bigram_lm", "q110_session_paths",
    "q113_spend_gini", "q91_sequence_pack", "q51_tfidf",
    "q118_correlated_sub")

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Default
    val sf01 = "/root/testdata/sf0.1"
    val sf1  = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "scaledata/sf1")
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def planStats(name: String, dir: String): (Int, Int, Int, Boolean) = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save() // AQE-final plan
      val p = df.queryExecution.executedPlan.toString
      (p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin"),
        p.sliding("SortMergeJoin".length).count(_ == "SortMergeJoin"),
        p.sliding("Exchange".length).count(_ == "Exchange"),
        p.contains("CartesianProduct"))
    }
    def medianOf(name: String, dir: String, n: Int): Double = {
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime()
        graft.Checkpoints.freeingAfter(spark) {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(n / 2)
    }

    println(f"${"query"}%-22s ${"sf0.1"}%8s ${"sf1"}%8s ${"ratio"}%6s  " +
      "bhj smj exch cart (sf0.1 -> sf1)")
    names.foreach { name =>
      try {
        val (b0, s0, e0, c0) = planStats(name, sf01) // also warms codegen
        val (b1, s1, e1, c1) = planStats(name, sf1)
        val t0 = medianOf(name, sf01, 3)
        val t1 = medianOf(name, sf1, 3)
        println(f"$name%-22s $t0%8.2f $t1%8.2f ${t1 / t0}%6.1f  " +
          f"$b0->$b1 $s0->$s1 $e0->$e1 $c0->$c1")
      } catch {
        case e: Throwable => println(s"$name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
