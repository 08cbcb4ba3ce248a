package graft.llm

import graft.{Checkpoints, Fns, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based document-quality filtering — the FineWeb-Edu / DCLM
  * pipeline stage (Penedo et al. 2024 §3.3; Li et al. 2024 §4.2): train
  * a linear classifier on labeled documents, then score EVERY document
  * with it and keep the high scorers. The engine already had the
  * featurizer (q180's hashed signed-sum vectors), the labels (q88's
  * Gopher rule gate), and the fixed-round iterative-kernel recipe
  * (q90 Lloyd, q292 Bellman-Ford, q301 BPE); this module is the
  * trainer/scorer that composes them.
  *
  * q311 (train): k fixed rounds of full-batch gradient descent on
  * squared loss over standardized features. Determinism is engineered
  * end to end so the DuckDB oracle reproduces every weight bit for bit:
  *  - features are per-row IEEE scalar ops on exact integer counts
  *    (identical in both engines, the q88/q180 argument);
  *  - standardization stats (mean, then variance about that mean) ride
  *    [[Fns.dsum18]] exact-decimal sums — order-independent — followed
  *    by single IEEE divisions and one SQRT (correctly rounded in both
  *    engines); a zero-variance feature standardizes with sd = 1
  *    (constant column -> z = 0, which GD correctly ignores);
  *  - the per-document prediction is a FIXED-ORDER left-to-right
  *    double dot product against the round's weights (engine: the fused
  *    [[graft.functions.DotProduct]] over z and one weight-array
  *    literal, j = 0..21 from +0.0; oracle: the explicit left-associated
  *    sum over a pivoted 1-row weight table), so both engines execute
  *    the identical IEEE sequence — the leading +0.0 can only turn a
  *    −0.0 sum into +0.0, and the bias term (1.0 times a weight that
  *    starts at +0.0 and is never −0.0) already does that;
  *  - gradient components and the MSE are dsum18 sums of per-row
  *    products, divided by the document count and scaled by the DYADIC
  *    learning rate 0.5 — every update is exactly reproducible.
  * Convergence is guaranteed, not hoped for: squared-loss GD descends
  * monotonically whenever eta < 2/lambda_max(X'X/n), and standardized
  * features pin lambda_max near the feature correlation scale
  * (measured 2.86 on the fixture, bound 4.0 at eta = 0.5); the spec
  * asserts the per-round MSE trajectory is strictly non-increasing —
  * the convergence guard the q301 recipe calls for.
  *
  * q312 (score): one scan-local pass applying the trained weights to
  * every document — per source the kept count, the agreement with the
  * rule-gate label, and the keep rate (98%+ agreement on the fixture:
  * the classifier genuinely distills the gate, it does not parrot it —
  * it never sees the rule thresholds, only the 21 features).
  *
  * Scale shape (the 100 TB story): the feature frame is built by ONE
  * corpus scan plus the q180 vocabulary-sized sign join, then
  * checkpointed; every training round is ONE job, a shuffle-free scan
  * of that frame whose 23 exact sums ride `Dataset.observe` — each task
  * reduces its partition to one 23-value buffer and the driver merges
  * them. No corpus-sized shuffle ever repeats; the weight vector (22
  * doubles, one array literal held by reference) is the only state that
  * moves between rounds, exactly how a parameter server would run it,
  * and rounds after the first reuse the first round's generated
  * classes. Reference scope: quality filtering extends the corpus
  * pipeline the reference seeds (pyopenetl/pipelines.py:1-60);
  * training-stage prep is the SURVEY §2.3 extension surface.
  */
object QualityClassifier extends QueryModule {

  /** Fixed GD round count — the operator's own parameter (DCLM-style
    * filters train to a fixed budget, not to a tolerance). */
  val Rounds = 10

  /** Dyadic learning rate: exactly representable, and < 2/lambda_max
    * for standardized features on this corpus family (measured 2.86). */
  val Eta = 0.5

  private val HashDims = 16
  private val D = HashDims + 5 + 1 // + 5 quality metrics + bias

  /** Everything q311/q312 share: the standardized feature frame
    * (doc_id, source, y, z: array[D]) with z(D) = 1.0 the bias slot,
    * the document count, the per-round weight/MSE trajectory, and the
    * final weights. */
  private[llm] case class Trained(z: DataFrame, nDocs: Long,
                             traj: Seq[(Int, Int, Double, Double)],
                             w: Seq[Double], mu: Seq[Double],
                             sd: Seq[Double])

  /** Mann-Whitney tallies → AUC row(s), optionally grouped. Expects
    * columns (n_pos, n_neg, neg_offset, local_neg_below) per distinct
    * score. The pair products ride DECIMAL(38,0) — each long factor
    * casts to DECIMAL(19,0), the product and its sum fit 38 digits —
    * so at multi-billion-document scale the gt/tie accumulators never
    * overflow BIGINT (P·Q approaches Long.MaxValue at ~3e9 per class);
    * the one final IEEE division happens after the exact accumulation
    * and the oracle states the identical decimal spelling, so the AUC
    * double still crosses engines bit-for-bit. */
  private def aucFinish(t: DataFrame, groupCols: Seq[String] = Nil)
      : DataFrame = {
    def d19(c: Column) = c.cast("decimal(19,0)")
    val withPair = t.select(groupCols.map(col) ++ Seq(
      col("n_pos"), col("n_neg"),
      (d19(col("n_pos")) * d19(col("neg_offset") + col("local_neg_below")))
        .as("gt"),
      (d19(col("n_pos")) * d19(col("n_neg"))).as("tie")): _*)
    val aggs = Seq(
      sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"),
      count(lit(1)).as("n_distinct_scores"),
      sum(col("gt")).as("gtp"), sum(col("tie")).as("tiep"))
    val g =
      if (groupCols.isEmpty) withPair.agg(aggs.head, aggs.tail: _*)
      else withPair.groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    g.select(groupCols.map(col) ++ Seq(
      col("n_pos"), col("n_neg"), col("n_distinct_scores"),
      ((col("gtp").cast("double") + lit(0.5) * col("tiep").cast("double")) /
        (d19(col("n_pos")) * d19(col("n_neg"))).cast("double"))
        .as("auc")): _*)
  }

  /** ROC-AUC of `score` against the label `y`, per `groupCols`, as the
    * Mann-Whitney statistic: AUC = (#(pos > neg) + ½·#(pos = neg)) /
    * (P·Q) over all pos/neg score pairs. The pair counts come from
    * per-distinct-score tallies and a cumulative negatives-below count —
    * never the O(n²) pair join — and the cumulative rides the q91
    * two-phase distributed prefix sum (bucket = floor(score·64):
    * within-bucket window + a broadcast #buckets-row offset table), so
    * no corpus-sized frame ever passes through a single-partition
    * window. Everything is exact long arithmetic until [[aucFinish]]'s
    * one IEEE division, so the raw AUC double crosses engines bit for
    * bit. */
  private def auc(scored: DataFrame, groupCols: Seq[String] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val v = scored.groupBy(g :+ col("score"): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
      .withColumn("bucket", floor(col("score") * 64).cast("long"))
    val wLocal = Window.partitionBy(g :+ col("bucket"): _*)
      .orderBy(col("score")).rowsBetween(Window.unboundedPreceding, -1)
    val local = v.withColumn("local_neg_below",
      coalesce(sum(col("n_neg")).over(wLocal), lit(0L)))
    val wB = Window.partitionBy(g: _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = v.groupBy(g :+ col("bucket"): _*)
      .agg(sum(col("n_neg")).as("bt"))
      .withColumn("neg_offset", coalesce(sum(col("bt")).over(wB), lit(0L)))
      .select(g :+ col("bucket") :+ col("neg_offset"): _*)
    aucFinish(local.join(broadcast(offsets), groupCols :+ "bucket"), groupCols)
  }

  /** q169's leakage-safe train/held-out partition as a (doc_id,
    * is_train) frame: the q103 md5 bucket keyed on the near-dup CLUSTER
    * id (q71's connected components; singletons key on their own id),
    * so a near-duplicate family never straddles the two sides — the
    * within-corpus leak that would quietly inflate a held-out AUC.
    * Returned localCheckpointed (the CC propagation must not re-run for
    * every consumer); caller frees it.
    */
  private def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    val cc = DedupQueries.nearDupClusters(docs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val key = coalesce(col("cluster_id"), col("doc_id"))
    val bucket = conv(substring(
      md5(key.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") % 10
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), (bucket < 8).as("is_train"))
      .transform(graft.Checkpoints.ckpt)
  }

  /** Builds the feature frame and runs the GD rounds. With
    * `split = Some(frame)` — (doc_id, is_train) — the standardization
    * stats AND every GD aggregate see ONLY the train-side rows (the
    * held-out side must not leak into the model through mu/sd either),
    * while the returned z frame standardizes ALL documents with the
    * train-side stats and carries `is_train`; `nDocs` is then the
    * train-side count (the GD denominator). */
  private def train(s: SparkSession, dir: String,
                    splitOpt: Option[DataFrame] = None): Trained =
    trainFrame(Tables.t(s, dir, "documents"), 3.0, splitOpt)

  /** Per-doc gate metrics/label (`lab`) and the long-format feature
    * rows (`f`, un-checkpointed) for an arbitrary (doc_id, source,
    * text) frame. `mlLo` is the gate's mean-word-length floor — 3.0 on
    * the fixture corpus, 2.0 on the Zipf ledger domain (the q317
    * tuning: gate thresholds are per-corpus parameters). */
  private def featurize(docs: DataFrame, mlLo: Double)
      : (DataFrame, DataFrame) = {
    val tok = Tokens.words(col("text"))
    val n = size(tok)
    val sumLen = aggregate(tok, lit(0L),
      (acc: Column, t: Column) => acc + length(t).cast("long"))
    val ml = sumLen.cast("double") / n.cast("double")
    val af = size(filter(tok, (t: Column) => t.rlike("[a-z]")))
      .cast("double") / n.cast("double")
    val sf = Tokens.gate(tok).stopRatio
    val tfr = graft.functions.NGramStats.ngramStats(col("text"), 1)
      .getField("top").cast("double") / n.cast("double")
    val y = when(n.between(50, 100000) && ml.between(mlLo, 10.0) &&
      af >= lit(0.8) && tfr <= lit(0.2), lit(1.0)).otherwise(lit(0.0))
    // Materialized once (r14): `lab` is referenced by the five met()
    // union branches, fHash's n join, and the caller's z/y join —
    // Spark plans share no subtrees, so un-checkpointed each reference
    // re-scanned the corpus and re-evaluated its pruned slice of the
    // gate metrics (the NGramStats top-count pass twice, split() ~7×).
    // Eight narrow scalars per doc: cheap to hold, freed by the
    // harness' freeingAfter scope.
    val lab = docs.select(col("doc_id"), col("source"),
      n.cast("long").as("n"), ml.as("ml"), af.as("af"), sf.as("sf"),
      tfr.as("tfr"), y.as("y"))
      .transform(graft.Checkpoints.ckpt)

    // q180's hashed signed-sum dims, length-normalized to [-1, 1]
    val tf = docs
      .select(col("doc_id"), explode(tok).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
    val signs = tf.select(col("t")).distinct()
      .withColumn("h", md5(col("t").cast("binary")))
      .select(col("t"), explode(expr(
        s"""transform(sequence(0, ${HashDims - 1}), j -> named_struct(
           |'j', j,
           |'sgn', CAST(conv(substring(h, 1 + 2 * j, 2), 16, 10) AS LONG)
           |       % 2L * 2L - 1L))""".stripMargin)).as("js"))
      .select(col("t"), col("js.j").as("j"), col("js.sgn").as("sgn"))
    val hvl = tf.join(broadcast(signs), "t")
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("c") * col("sgn")).as("v"))

    // long-format raw features j = 0..D-2 (bias joins after z-scoring)
    val fHash = hvl.join(lab.select(col("doc_id"), col("n")), "doc_id")
      .select(col("doc_id"), col("j").cast("int").as("j"),
        (col("v").cast("double") / col("n").cast("double")).as("x"))
    def met(j: Int, x: Column) = lab.select(col("doc_id"),
      lit(j).as("j"), x.as("x"))
    val f = fHash
      .unionByName(met(HashDims, col("ml") / lit(10.0)))
      .unionByName(met(HashDims + 1, col("af")))
      .unionByName(met(HashDims + 2, col("sf")))
      .unionByName(met(HashDims + 3, col("tfr")))
      .unionByName(met(HashDims + 4,
        least(col("n"), lit(1000L)).cast("double") / lit(1000.0)))
    (lab, f)
  }

  /** The wide standardized frame (doc_id, z) of long-format features
    * `f` (doc_id, j, x): z(1..D-1) is x standardized by `mu`/`sd` in j
    * order, z(D) = bias 1.0. */
  private def standardized(f: DataFrame, mu: Seq[Double], sd: Seq[Double])
      : DataFrame = {
    val muLit = typedlit(mu)
    val sdLit = typedlit(sd)
    f.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("j"), col("x")))).as("jx"))
      .select(col("doc_id"), concat(transform(col("jx"), e =>
        (e.getField("x") - element_at(muLit, e.getField("j") + 1)) /
          element_at(sdLit, e.getField("j") + 1)), array(lit(1.0))).as("z"))
  }

  private[llm] def trainFrame(docs: DataFrame, mlLo: Double,
                              splitOpt: Option[DataFrame] = None)
      : Trained = {
    val (lab, fRaw) = featurize(docs, mlLo)
    // r15 (guide §2.2 fewer/larger tasks): the 6-branch feature union
    // (hash dims + 5 metric branches) CONCATENATES its branches'
    // partition lists — 6× the parent width — and the checkpoint bakes
    // that in, so every later pass (mu stats, variance stats, the zw
    // assembly) scheduled 6N tiny tasks (profiled in q320: three
    // 192-task stages × ~35 s task time for ~57k rows). Pack the union
    // back to the parent frame's own width before materializing: a
    // shuffle-free coalesce whose N tasks each read their 6 slices.
    // Scale-adaptive — N is lab's width at any corpus size.
    val f = fRaw.coalesce(math.max(1, lab.rdd.getNumPartitions))
      .transform(graft.Checkpoints.ckpt)

    // standardization stats: exact-decimal mean, then exact-decimal
    // variance ABOUT that mean (the two-pass spelling both engines
    // state identically — E[x^2]-mu^2 would be different arithmetic);
    // under a split, stats come from the TRAIN side only
    val fStat = splitOpt match {
      case Some(sp) => f.join(sp.filter(col("is_train"))
        .select(col("doc_id")), "doc_id")
      case None => f
    }
    val muRows = fStat.groupBy(col("j"))
      .agg(Fns.dsum18(col("x")).as("ms"), count(lit(1)).as("c"))
      .collect()
    val nDocs = muRows.head.getLong(2)
    val mu = Array.ofDim[Double](D - 1)
    muRows.foreach(r => mu(r.getInt(0)) = r.getDouble(1) / nDocs.toDouble)
    val muLit = typedlit(mu.toSeq)
    val varRows = fStat.groupBy(col("j"))
      .agg(Fns.dsum18(
        (col("x") - element_at(muLit, col("j") + 1)) *
        (col("x") - element_at(muLit, col("j") + 1))).as("vs"))
      .collect()
    val sd = Array.ofDim[Double](D - 1)
    varRows.foreach { r =>
      val v = r.getDouble(1) / nDocs.toDouble
      sd(r.getInt(0)) = if (v == 0.0) 1.0 else math.sqrt(v)
    }

    // ALL docs standardize (with the train-side stats under a split)
    val zwAll = standardized(f, mu.toSeq, sd.toSeq)
      .join(lab.select(col("doc_id"), col("source"), col("y")), "doc_id")
      .select(col("doc_id"), col("source"), col("y"), col("z"))
    val zw = splitOpt.fold(zwAll)(sp => zwAll.join(sp, "doc_id"))
      .transform(graft.Checkpoints.ckpt)
    Checkpoints.free(f)
    // the GD rounds see only the train side; nDocs (from the
    // train-filtered stats pass) is already the matching denominator
    val gd = splitOpt.fold(zw)(_ => zw.filter(col("is_train")))

    // k rounds: one observed pass each; weights live on the driver
    // (22 doubles — the dimension-bounded state the PCA covariance
    // collect precedent blesses, SimilarityQueries.scala:311)
    val w = Array.fill(D)(0.0)
    val traj = Seq.newBuilder[(Int, Int, Double, Double)]
    for (r <- 1 to Rounds) {
      val sums = roundSums(gd, w.toSeq)
      val mse = sums(D) / nDocs.toDouble
      for (j <- 0 until D)
        w(j) = w(j) - Eta * (sums(j) / nDocs.toDouble)
      traj ++= (0 until D).map(j => (r, j, w(j), mse))
    }
    Trained(zw, nDocs, traj.result(), w.toSeq, mu.toSeq, sd.toSeq)
  }

  /** Each document's prediction under weights `w`: z · w, accumulated
    * left to right from +0.0. `w` rides the plan as ONE array literal,
    * which [[graft.functions.FuseDotProduct]] fuses with z into a
    * [[graft.functions.DotProduct]]; generated code reads the array by
    * reference, so a new weight vector compiles no new class. */
  private[llm] def score(w: Seq[Double]): Column =
    SimilarityQueries.dot(col("z"), typedlit(w))

  /** One GD round's exact [[Fns.dsum18]] sums over the (z, y) frame
    * `gd`: Σ r·z_j for j < D, then Σ r², of the residual r = score(w) − y.
    * r is a projection of its own (its 24 references keep CollapseProject
    * from inlining it), so the sums' code never sees the weights; they
    * are observed on one noop scan: one job per round, no collect. */
  private[llm] def roundSums(gd: DataFrame, w: Seq[Double]): Seq[Double] = {
    val r = col("r")
    val terms = (0 until D).map(j => r * element_at(col("z"), j + 1)) :+ r * r
    val sums = terms.indices.map(i => Fns.dsum18(terms(i)).as(s"s$i"))
    val obs = new org.apache.spark.sql.Observation()
    gd.select(col("z"), (score(w) - col("y")).as("r"))
      .observe(obs, sums.head, sums.tail: _*)
      .write.format("noop").mode("overwrite").save()
    sums.indices.map(i => obs.get(s"s$i").asInstanceOf[Double])
  }

  /** The ledger's classifier stage (q322): train the probe ON `input`
    * (gate label at `mlLo`), score every input doc — returns a
    * checkpointed (doc_id, score) frame; the z frame is freed. */
  private[llm] def scoredDocs(input: DataFrame, mlLo: Double): DataFrame = {
    val t = trainFrame(input, mlLo)
    val out = t.z.select(col("doc_id"), score(t.w).as("score"))
      .transform(graft.Checkpoints.ckpt)
    Checkpoints.free(t.z)
    out
  }

  /** The oracle's spelling of [[score]]: the explicit left-associated
    * sum over `zs` and the pivoted weight row `wp`. */
  private val ScoreSql =
    (0 until D).map(j => s"zs[${j + 1}] * wp.w$j").mkString("(", " + ", ")")

  /** CTE `name`: the (j, w) weight table `from` pivoted to one row of
    * w0..w{D-1}. */
  private def pivotSql(name: String, from: String): String =
    s"""$name AS (
       |  SELECT ${(0 until D).map(j =>
            s"MAX(CASE WHEN j = $j THEN w END) AS w$j").mkString(", ")}
       |  FROM $from)""".stripMargin

  /** The SQL twin of [[scoredDocs]]' readout: the wpf weight pivot +
    * the per-doc score CTE, appended after [[chainFrom]] — exposes
    * `mscore` (doc_id, score) to the embedding query. */
  private[llm] def modelScoreSql: String =
    s""",
       |${pivotSql("wpf", s"w$Rounds")},
       |mscore AS MATERIALIZED (
       |  SELECT zw.doc_id, $ScoreSql AS score
       |  FROM zw CROSS JOIN wpf wp)""".stripMargin

  /** The deployable model artifact: weights PLUS the frozen train-time
    * standardization stats — mu/sd are part of the model (a serving
    * path that recomputed them per batch would score differently batch
    * to batch). 22 + 21 + 21 doubles: broadcast-trivial at any scale. */
  private[graft] case class QualityModel(
      w: Seq[Double], mu: Seq[Double], sd: Seq[Double])

  /** Train on the corpus at `dir` and keep only the model arrays —
    * what a serving/streaming path loads. */
  private[graft] def fitModel(s: SparkSession, dir: String): QualityModel = {
    val t = train(s, dir)
    Checkpoints.free(t.z)
    QualityModel(t.w, t.mu, t.sd)
  }

  /** Score raw (doc_id, source, text) rows with a FROZEN model — the
    * serving twin of q312 and the per-batch body of the streaming
    * scorer. Everything is per-doc: the hash-dim signs are per-token
    * md5 arithmetic (no corpus-level vocabulary state), the
    * standardization uses the model's mu/sd literals, and the dot is
    * the trainer's own [[score]] — so ANY subset of a corpus scores
    * identically to the full pass, which is exactly the
    * split-invariance the streaming spec asserts. */
  private[graft] def scoreRaw(docs: DataFrame, m: QualityModel,
                              mlLo: Double = 3.0): DataFrame = {
    val (_, f) = featurize(docs, mlLo)
    standardized(f, m.mu, m.sd).select(col("doc_id"), score(m.w).as("score"))
  }

  override def queries
      : Map[String, (SparkSession, String) => DataFrame] = Map(

    // The trainer: emits the full weight trajectory — per round the
    // post-update weight vector and the MSE the round observed (with
    // the PRE-update weights), so the oracle checks every intermediate
    // state, not just the final model, and the monotone-MSE convergence
    // guard is visible in the row itself.
    "q311_quality_train" -> { (s, dir) =>
      import s.implicits._
      val t = train(s, dir)
      Checkpoints.free(t.z) // trajectory is driver data; z is done
      t.traj.toDF("round", "j", "w", "mse").orderBy("round", "j")
    },

    // ROC-AUC of the trained scorer against the gate label — the
    // canonical threshold-free eval of a quality classifier, computed
    // EXACTLY ([[auc]]); the oracle states the same tallies with a
    // plain cumulative window — same values, any plan. Measured 0.9994
    // at sf0.01 (0.9988 at sf0.001): a near-perfect ranker of the gate
    // it never saw.
    "q319_quality_auc" -> { (s, dir) =>
      val t = train(s, dir)
      auc(t.z.select(col("y"), score(t.w).as("score")))
    },

    // Held-out generalization AUC — the honest FineWeb-Edu number the
    // in-sample q319 cannot give: train the probe on q169's
    // leakage-safe TRAIN bucket only (the md5 split keyed on the q71
    // near-dup cluster id, so a near-duplicate family never straddles
    // the sides and scores the model on its own training twin), with
    // standardization stats ALSO train-side only (mu/sd are part of
    // the model), then report the Mann-Whitney AUC on the held-out
    // 20% beside the in-sample number — one row per split, each the
    // exact [[auc]]. Measured heldout 0.998 at sf0.01: the probe
    // genuinely generalizes — the 21 features, not memorized rows,
    // carry the gate.
    "q320_quality_holdout" -> { (s, dir) =>
      val spl = leakageSafeSplit(s, dir)
      val t = train(s, dir, Some(spl))
      Checkpoints.free(spl)
      auc(t.z.select(col("is_train"), col("y"), score(t.w).as("score")),
        Seq("is_train"))
        .select(when(col("is_train"), lit("train"))
          .otherwise(lit("heldout")).as("split"),
          col("n_pos"), col("n_neg"), col("n_distinct_scores"),
          col("auc"))
        .orderBy("split")
    },

    // The scorer: the trained model applied to every document — per
    // source the label/prediction/agreement census. Accuracy ~0.98 on
    // the fixture: the linear probe genuinely recovers the rule gate
    // from features alone.
    "q312_quality_score" -> { (s, dir) =>
      val t = train(s, dir)
      t.z.select(col("source"), col("y"), score(t.w).as("score"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_label_pos"),
          sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_pred_keep"),
          sum(when((col("score") >= 0.5) === (col("y") === 1.0), 1L)
            .otherwise(0L)).as("n_agree"))
        .select(col("source"), col("n_docs"), col("n_label_pos"),
          col("n_pred_keep"), col("n_agree"),
          (col("n_agree").cast("double") / col("n_docs").cast("double"))
            .as("accuracy"),
          (col("n_pred_keep").cast("double") / col("n_docs").cast("double"))
            .as("keep_rate"))
        .orderBy("source")
    })

  /** The shared oracle CTE chain: features, labels, standardization,
    * and `rounds` unrolled GD rounds (w0..w{rounds}) — the q301
    * unrolled-CTE recipe. The dot product is spelled as the SAME
    * left-associated explicit sum the engine folds, against a pivoted
    * 1-row weight table. With `split = true` the chain is prefixed by
    * q169's recursive-CTE cluster split (spl: doc_id → is_train) and
    * every model-side CTE — the doc count, the standardization stats,
    * and each GD round's residual frame — filters to the train side,
    * while zl/zw still standardize ALL documents with those stats. */
  private def chain(rounds: Int, split: Boolean = false): String =
    chainFrom(rounds, split, "documents", "3.0", standalone = true)

  /** [[chain]] generalized for embedding: `docsRel` is the relation the
    * feature chain reads (a CTE name when embedded), `mlLo` the gate's
    * mean-word-length floor as SQL text, and `standalone = false` emits
    * the CTE list WITHOUT the leading WITH (the embedding query opened
    * its own WITH RECURSIVE; split is standalone-only). */
  private[llm] def chainFrom(rounds: Int, split: Boolean, docsRel: String,
                             mlLo: String, standalone: Boolean): String = {
    require(standalone || !split, "split chain must be standalone")
    // appended after the last JOIN of a stats/GD CTE to restrict it to
    // the train bucket (WHERE legally follows the join list)
    val tf = if (split) " JOIN spl USING (doc_id) WHERE spl.is_train"
             else ""
    val prefix = if (split)
      s"""WITH RECURSIVE pairs AS (
         |${TextQueries.Q34OracleSql}),
         |eg AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |cnodes AS (SELECT DISTINCT src AS id FROM eg),
         |reach AS (
         |  SELECT id, id AS r FROM cnodes
         |  UNION
         |  SELECT eg.dst AS id, reach.r
         |  FROM reach JOIN eg ON eg.src = reach.id),
         |cc AS (SELECT id AS doc_id, MIN(r) AS cluster_id
         |       FROM reach GROUP BY id),
         |spl AS MATERIALIZED (
         |  SELECT dd.doc_id,
         |    CAST(('0x' || SUBSTRING(MD5(CAST(
         |      COALESCE(cc.cluster_id, dd.doc_id) AS VARCHAR)), 1, 4))
         |      AS BIGINT) % 10 < 8 AS is_train
         |  FROM documents dd LEFT JOIN cc ON cc.doc_id = dd.doc_id),
         |""".stripMargin
    else if (standalone) "WITH " else ""
    val head = prefix +
      s"""d AS MATERIALIZED (
         |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
         |  FROM $docsRel),
         |lab AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CAST(LEN(tok) AS BIGINT) AS n,
         |    CAST(LIST_SUM(LIST_TRANSFORM(tok, t -> LENGTH(t))) AS DOUBLE)
         |      / LEN(tok) AS ml,
         |    CAST(LEN(LIST_FILTER(tok,
         |      t -> REGEXP_MATCHES(t, '[a-z]'))) AS DOUBLE)
         |      / LEN(tok) AS af,
         |    CAST(LEN(LIST_FILTER(tok,
         |      t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
         |      / LEN(tok) AS sf,
         |    CAST(LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(tok),
         |      u -> LEN(LIST_FILTER(tok, t -> t = u)))) AS DOUBLE)
         |      / LEN(tok) AS tfr
         |  FROM d),
         |y AS MATERIALIZED (
         |  SELECT doc_id, source,
         |    CASE WHEN n BETWEEN 50 AND 100000 AND ml BETWEEN $mlLo AND 10.0
         |      AND af >= 0.8 AND tfr <= 0.2 THEN 1.0 ELSE 0.0 END AS y
         |  FROM lab),
         |tf AS (
         |  SELECT doc_id, t, COUNT(*) AS c
         |  FROM (SELECT doc_id, UNNEST(tok) AS t FROM d) GROUP BY 1, 2),
         |signs AS (
         |  SELECT t, j,
         |    CAST(('0x' || SUBSTRING(MD5(t), 1 + 2 * j, 2)) AS BIGINT)
         |      % 2 * 2 - 1 AS sgn
         |  FROM (SELECT DISTINCT t FROM tf),
         |    UNNEST(GENERATE_SERIES(0, ${HashDims - 1})) AS g(j)),
         |hv AS (
         |  SELECT tf.doc_id, s.j, CAST(SUM(tf.c * s.sgn) AS BIGINT) AS v
         |  FROM tf JOIN signs s ON s.t = tf.t GROUP BY 1, 2),
         |f AS MATERIALIZED (
         |  SELECT h.doc_id, CAST(h.j AS INTEGER) AS j,
         |    CAST(h.v AS DOUBLE) / l.n AS x
         |  FROM hv h JOIN lab l USING (doc_id)
         |  UNION ALL SELECT doc_id, ${HashDims}, ml / 10.0 FROM lab
         |  UNION ALL SELECT doc_id, ${HashDims + 1}, af FROM lab
         |  UNION ALL SELECT doc_id, ${HashDims + 2}, sf FROM lab
         |  UNION ALL SELECT doc_id, ${HashDims + 3}, tfr FROM lab
         |  UNION ALL SELECT doc_id, ${HashDims + 4},
         |    CAST(LEAST(n, 1000) AS DOUBLE) / 1000.0 FROM lab),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM y$tf),
         |mu AS (
         |  SELECT j, CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
         |    / COUNT(*) AS mu
         |  FROM f$tf GROUP BY j),
         |st AS MATERIALIZED (
         |  SELECT j, mu, CASE WHEN v = 0 THEN 1.0 ELSE SQRT(v) END AS sd
         |  FROM (
         |    SELECT f.j, ANY_VALUE(m.mu) AS mu,
         |      CAST(SUM(CAST((f.x - m.mu) * (f.x - m.mu)
         |        AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS v
         |    FROM f JOIN mu m USING (j)$tf GROUP BY f.j)),
         |zl AS MATERIALIZED (
         |  SELECT f.doc_id, f.j, (f.x - st.mu) / st.sd AS z
         |  FROM f JOIN st USING (j)
         |  UNION ALL SELECT doc_id, ${D - 1}, 1.0 FROM y),
         |zw AS MATERIALIZED (
         |  SELECT doc_id, LIST(z ORDER BY j) AS zs FROM zl GROUP BY doc_id),
         |w0 AS (
         |  SELECT CAST(j AS INTEGER) AS j, 0.0 AS w
         |  FROM UNNEST(GENERATE_SERIES(0, ${D - 1})) AS g(j))""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""${pivotSql(s"wp${r - 1}", s"w${r - 1}")},
         |d$r AS MATERIALIZED (
         |  SELECT zw.doc_id, $ScoreSql - y.y AS resid
         |  FROM zw CROSS JOIN wp${r - 1} wp JOIN y USING (doc_id)$tf),
         |g$r AS MATERIALIZED (
         |  SELECT zl.j, CAST(SUM(CAST(d.resid * zl.z AS DECIMAL(38,18)))
         |    AS DOUBLE) / (SELECT n FROM nn) AS g
         |  FROM zl JOIN d$r d USING (doc_id) GROUP BY zl.j),
         |m$r AS MATERIALIZED (
         |  SELECT CAST(SUM(CAST(resid * resid AS DECIMAL(38,18)))
         |    AS DOUBLE) / (SELECT n FROM nn) AS mse
         |  FROM d$r),
         |w$r AS MATERIALIZED (
         |  SELECT w.j, w.w - $Eta * g.g AS w
         |  FROM w${r - 1} w JOIN g$r g USING (j))""".stripMargin
    }
    head + ",\n" + steps.mkString(",\n")
  }

  override def oracles: Map[String, String] = Map(
    // same trained scores, the Mann-Whitney tallies with a plain
    // cumulative window (same exact values as the engine's two-phase)
    "q319_quality_auc" -> (chain(Rounds) + s""",
       |${pivotSql("wpf", s"w$Rounds")},
       |sc AS (
       |  SELECT y.y,
       |    $ScoreSql AS score
       |  FROM zw CROSS JOIN wpf wp JOIN y USING (doc_id)),
       |v AS (
       |  SELECT score, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pos
       |  FROM sc GROUP BY score),
       |v2 AS (
       |  SELECT score, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg FROM v),
       |c AS (
       |  SELECT n_pos, n_neg,
       |    CAST(COALESCE(SUM(n_neg) OVER (ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS neg_below
       |  FROM v2)
       |SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       |  CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       |  COUNT(*) AS n_distinct_scores,
       |  (CAST(SUM(CAST(n_pos AS DECIMAL(19,0))
       |      * CAST(neg_below AS DECIMAL(19,0))) AS DOUBLE)
       |    + 0.5 * CAST(SUM(CAST(n_pos AS DECIMAL(19,0))
       |      * CAST(n_neg AS DECIMAL(19,0))) AS DOUBLE))
       |    / CAST(CAST(SUM(n_pos) AS DECIMAL(19,0))
       |           * CAST(SUM(n_neg) AS DECIMAL(19,0)) AS DOUBLE) AS auc
       |FROM c""".stripMargin),

    // the split-filtered chain scored over ALL docs, tallied per side;
    // same decimal pair accumulators as q319
    "q320_quality_holdout" -> (chain(Rounds, split = true) + s""",
       |${pivotSql("wpf", s"w$Rounds")},
       |sc AS (
       |  SELECT spl.is_train, y.y,
       |    $ScoreSql AS score
       |  FROM zw CROSS JOIN wpf wp JOIN y USING (doc_id)
       |  JOIN spl USING (doc_id)),
       |v AS (
       |  SELECT is_train, score, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pos
       |  FROM sc GROUP BY 1, 2),
       |v2 AS (
       |  SELECT is_train, score, n_pos, CAST(n - n_pos AS BIGINT) AS n_neg
       |  FROM v),
       |c AS (
       |  SELECT is_train, n_pos, n_neg,
       |    CAST(COALESCE(SUM(n_neg) OVER (PARTITION BY is_train
       |      ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS neg_below
       |  FROM v2)
       |SELECT CASE WHEN is_train THEN 'train' ELSE 'heldout' END AS split,
       |  CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       |  CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       |  COUNT(*) AS n_distinct_scores,
       |  (CAST(SUM(CAST(n_pos AS DECIMAL(19,0))
       |      * CAST(neg_below AS DECIMAL(19,0))) AS DOUBLE)
       |    + 0.5 * CAST(SUM(CAST(n_pos AS DECIMAL(19,0))
       |      * CAST(n_neg AS DECIMAL(19,0))) AS DOUBLE))
       |    / CAST(CAST(SUM(n_pos) AS DECIMAL(19,0))
       |           * CAST(SUM(n_neg) AS DECIMAL(19,0)) AS DOUBLE) AS auc
       |FROM c GROUP BY is_train ORDER BY split""".stripMargin),

    "q311_quality_train" -> (chain(Rounds) + "\n" +
      (1 to Rounds).map(r =>
        s"""SELECT CAST($r AS INTEGER) AS round, w.j, w.w AS w,
           |  (SELECT mse FROM m$r) AS mse FROM w$r w""".stripMargin)
        .mkString("\nUNION ALL\n") +
      "\nORDER BY round, j"),
    "q312_quality_score" -> (chain(Rounds) + s""",
       |${pivotSql("wpf", s"w$Rounds")},
       |sc AS (
       |  SELECT y.source, y.y,
       |    $ScoreSql AS score
       |  FROM zw CROSS JOIN wpf wp JOIN y USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_label_pos,
       |  CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pred_keep,
       |  CAST(SUM(CASE WHEN (score >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_agree,
       |  CAST(SUM(CASE WHEN (score >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*) AS accuracy,
       |  CAST(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS keep_rate
       |FROM sc GROUP BY source ORDER BY source""".stripMargin))
}
