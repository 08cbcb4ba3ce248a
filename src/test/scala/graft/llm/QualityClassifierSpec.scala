package graft.llm

import graft.{Checkpoints, Fns, Tables, TestSpark}
import graft.functions.DotProduct
import java.lang.Double.doubleToRawLongBits
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** q311/q312 — the trained document-quality filter. The oracle proves
  * bit-equality of the weight trajectory; this spec pins the MODEL
  * properties the hash can't state: the convergence guard (monotone
  * MSE — the eta < 2/lambda_max precondition actually held), that the
  * label is non-degenerate at the gate fixture, and that the trained
  * scorer genuinely recovers the rule gate (accuracy, not parroting —
  * the trainer never sees the thresholds, only the 21 features).
  */
class QualityClassifierSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  /** The trained (z, y) frame and weights on the small fixture, for the
    * round-level cases. */
  private var trainedOnce: Option[QualityClassifier.Trained] = None
  private def trained = trainedOnce.getOrElse {
    val t = QualityClassifier.trainFrame(
      Tables.t(spark, TestSpark.Sf, "documents"), 3.0)
    trainedOnce = Some(t)
    t
  }

  override def afterAll(): Unit = trainedOnce.foreach(t => Checkpoints.free(t.z))

  test("score(w) is bit-identical to the left-associated literal fold") {
    val t = trained
    def fold(w: Seq[Double]) = w.indices
      .map(j => element_at(col("z"), j + 1) * lit(w(j))).reduce(_ + _)
    val plan = t.z.select(QualityClassifier.score(t.w))
      .queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[DotProduct])), plan)
    // round 1's all-zero weights, and the trained ones
    Seq(t.w.map(_ => 0.0), t.w).foreach { w =>
      val rows = t.z.select(QualityClassifier.score(w), fold(w)).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(doubleToRawLongBits(r.getDouble(0)) ==
          doubleToRawLongBits(r.getDouble(1)),
          s"fused ${r.getDouble(0)} vs fold ${r.getDouble(1)}")
      }
    }
  }

  test("a GD round after the first compiles no class and runs one job") {
    val t = trained
    val w1 = t.w.map(_ * 0.5)
    val w2 = t.w.map(_ * 0.25)
    QualityClassifier.roundSums(t.z, w1)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var sums = Seq.empty[Double]
    val jobs = TestSpark.jobsDuring { sums = QualityClassifier.roundSums(t.z, w2) }
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "a new weight vector compiled a class")
    assert(jobs == 1, s"$jobs jobs for one round")
    // the observed sums are the ones a collected aggregate gives
    val r = QualityClassifier.score(w2) - col("y")
    val aggs = t.w.indices.map(j => Fns.dsum18(r * element_at(col("z"), j + 1))) :+
      Fns.dsum18(r * r)
    val row = t.z.agg(aggs.head, aggs.tail: _*).head()
    assert(sums.map(doubleToRawLongBits) ==
      sums.indices.map(i => doubleToRawLongBits(row.getDouble(i))))
  }

  test("q311: per-round MSE is strictly non-increasing (convergence guard)") {
    val traj = QualityClassifier.queries("q311_quality_train")(spark, sf)
      .select("round", "mse").distinct().orderBy("round")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(traj.length == QualityClassifier.Rounds,
      s"one MSE per round, got ${traj.length}")
    traj.sliding(2).foreach { case Array((r1, m1), (r2, m2)) =>
      assert(m2 <= m1, f"MSE rose $m1%.6f -> $m2%.6f at round $r1->$r2")
    }
    // and it actually LEARNED: the final MSE is far below round 1's
    // (round 1's MSE is the base-rate variance — the all-zero model)
    assert(traj.last._2 < traj.head._2 * 0.25,
      s"final MSE ${traj.last._2} did not drop below 25% of ${traj.head._2}")
  }

  test("q319: the trained scorer ranks the gate near-perfectly (AUC)") {
    val r = QualityClassifier.queries("q319_quality_auc")(spark, sf).head()
    val (nPos, nNeg, auc) = (r.getLong(0), r.getLong(1), r.getDouble(3))
    assert(nPos > 0 && nNeg > 0, s"degenerate classes: $nPos/$nNeg")
    assert(auc >= 0.95, s"AUC $auc below 0.95")
    assert(auc <= 1.0, s"AUC $auc out of range")
  }

  test("q320: the probe generalizes to the leakage-safe held-out bucket") {
    val rows = QualityClassifier.queries("q320_quality_holdout")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(rows.keySet == Set("train", "heldout"),
      s"expected both splits, got ${rows.keySet}")
    val (hPos, hNeg, hAuc) = rows("heldout")
    val (tPos, tNeg, tAuc) = rows("train")
    // both sides carry both classes (the md5 cluster split didn't
    // starve either tally)
    assert(hPos > 0 && hNeg > 0, s"degenerate held-out classes: $hPos/$hNeg")
    assert(tPos > 0 && tNeg > 0, s"degenerate train classes: $tPos/$tNeg")
    // the honest generalization floor: the model never saw the
    // held-out docs NOR their near-dup relatives (cluster-keyed split),
    // and still ranks the gate
    assert(hAuc >= 0.9, s"held-out AUC $hAuc below 0.9")
    assert(hAuc <= 1.0 && tAuc <= 1.0, s"AUC out of range: $hAuc / $tAuc")
  }

  test("q312: the trained scorer recovers the rule gate") {
    val rows = QualityClassifier.queries("q312_quality_score")(spark, sf)
      .collect()
    val nDocs = rows.map(_.getLong(1)).sum
    val nPos = rows.map(_.getLong(2)).sum
    val nKeep = rows.map(_.getLong(3)).sum
    val nAgree = rows.map(_.getLong(4)).sum
    // non-degenerate label: both classes present with real mass
    assert(nPos > nDocs / 10 && nPos < nDocs * 9 / 10,
      s"label degenerate: $nPos positive of $nDocs")
    // the probe distills the gate: >= 90% agreement corpus-wide
    assert(nAgree.toDouble / nDocs >= 0.9,
      s"accuracy ${nAgree.toDouble / nDocs} below 0.9")
    // and it actually filters (keeps neither nothing nor everything)
    assert(nKeep > 0 && nKeep < nDocs,
      s"keep rate degenerate: $nKeep of $nDocs")
  }
}
