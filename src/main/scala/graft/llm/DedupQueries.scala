package graft.llm

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Probabilistic near-dedup operators (north-star extension set, SURVEY.md
  * §2.3): MinHash + LSH banding and SimHash. These are the 100 TB scale path
  * — the exact inverted-index Jaccard (q34) degrades with posting-list
  * length, while LSH only ever joins on (band, band-hash) buckets.
  *
  * The hash-seeded operators (MinHash/SimHash/winnowing) have no DuckDB
  * oracle — they hinge on hash functions with no cross-engine twin — and
  * are ScalaTest-verified instead: candidate pairs are
  * exact-Jaccard-verified inside the query (precision 1 by construction)
  * and recall is asserted against q34's exact answer. The clustering
  * operator (q71) IS oracle-checked, via a recursive-CTE fixpoint.
  */
object DedupQueries extends QueryModule {

  val NumHashes = 32
  val Bands     = 8
  val RowsPerBand = NumHashes / Bands

  /** Per-doc MinHash signature columns sig0..sig{n-1}: min over the doc's
    * distinct tokens of a seeded hash. Two-level hashing — each token STRING
    * is hashed once, then the n lanes re-hash the resulting fixed-width long
    * (seeded xxhash64, so ANSI mode can't overflow-error like `a*h+b`
    * would). Computed entirely scan-local with array higher-order functions:
    * no explode, no shuffle — the signature step costs zero exchanges at any
    * scale.
    */
  def signatures(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      transform(array_distinct(Tokens.words(col("text"))),
        (t: Column) => xxhash64(t)).as("th"))
    val sigs = (0 until NumHashes).map(i =>
      array_min(transform(col("th"), (h: Column) => xxhash64(lit(i), h)))
        .as(s"sig$i"))
    base.select(col("doc_id") +: col("source") +: sigs: _*)
  }

  /** (doc_id, source, band, band_hash) — one row per band; candidate pairs
    * are docs sharing any (band, band_hash) bucket.
    */
  def bands(sig: DataFrame): DataFrame = {
    val bandRows = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"sig${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("band_hash"))
    }
    sig.select(col("doc_id"), col("source"),
        explode(array(bandRows: _*)).as("bb"))
      .select(col("doc_id"), col("source"),
        col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** LSH candidate pairs (a_id < b_id, same source), deduplicated across
    * bands. One aggregation to buckets, then pairs are generated inside each
    * bucket array — no self-join, so the signature pipeline is computed once
    * and the only shuffles are the bucket groupBy and the final distinct.
    * Blowup is bounded by bucket size (genuinely-hot buckets are quadratic
    * by the problem's definition).
    *
    * Band hashes come from the fused [[graft.functions.MinHashBands]]
    * expression (one scan-local pass; bit-identical to
    * [[signatures]]+[[bands]], property-tested), exploded by the
    * generator so the expression evaluates exactly once per document.
    */
  def candidatePairs(docs: DataFrame): DataFrame = {
    val bb = docs.select(col("doc_id"), col("source"),
      posexplode(graft.functions.MinHashBands.minhashBands(
        col("text"), NumHashes, Bands)).as(Seq("band", "band_hash")))
    bb.groupBy(col("source"), col("band"), col("band_hash"))
      .agg(collect_set(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .withColumn("sids", array_sort(col("ids")))
      .select(col("source"), explode(expr(
        """flatten(transform(sids,
          |  (x, i) -> transform(slice(sids, i + 2, size(sids)),
          |            y -> struct(x AS a_id, y AS b_id))))""".stripMargin))
        .as("p"))
      .select(col("source"), col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, exact-Jaccard-verified: same output shape
    * as q34 but candidates come from LSH buckets, not a full inverted-index
    * join.
    */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // verification compares SORTED hashed token sets: set sizes and
    // intersection counts are preserved (64-bit collisions negligible), and
    // the fused two-pointer SortedIntersectCount expression walks both
    // arrays allocation-free — array_intersect would build a hash set per
    // candidate pair, the dominant cost at high near-dup density
    val toks = docs.select(col("doc_id"),
      Tokens.hashedSet(Tokens.words(col("text"))).as("tok"))
    val cand = candidatePairs(docs)
    cand
      .join(toks.select(col("doc_id").as("a_id"), col("tok").as("a_tok")), "a_id")
      .join(toks.select(col("doc_id").as("b_id"), col("tok").as("b_tok")), "b_id")
      .withColumn("n_common",
        graft.functions.SortedIntersectCount.sortedIntersectCount(
          col("a_tok"), col("b_tok")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("a_tok")) + size(col("b_tok")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("source"), col("a_id"), col("b_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("source", "a_id", "b_id")
  }

  /** 64-bit SimHash over distinct tokens: per bit, sum +1/-1 weighted by the
    * token hash's bit, then reassemble the sign vector with bitwise OR (no
    * additive overflow under ANSI mode). One explode + one aggregation —
    * shuffles once on doc_id.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(Tokens.words(col("text")))).as("token"))
      .withColumn("h", xxhash64(col("token")))
    val bitSums = (0 until 64).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1))
        .as(s"b$i"))
    val agg = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 64).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("doc_id"), sh.as("simhash"))
  }

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected components over a near-dup pair list — the dedup endgame:
    * pairs alone don't say which docs to drop; components do (keep one
    * canonical doc per component). Iterative min-label propagation: every
    * node starts labeled with its own id and repeatedly takes the minimum
    * label in its neighborhood until a fixpoint — the unique fixpoint labels
    * every node with its component's minimum id, so the output is
    * deterministic regardless of iteration schedule.
    *
    * Each round is one equi-join + one aggregation on node id — all
    * distributed; the driver only orchestrates rounds and checks the
    * converged count (the standard shape for iterative algorithms — ALS,
    * PageRank — on Spark). `localCheckpoint` truncates the growing lineage
    * so round N's plan doesn't replay rounds 1..N-1. Rounds needed = graph
    * diameter; near-dup components are clique-like (diameter 1-3).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** Token-set Jaccard at or above which two same-source documents are
    * near-duplicates (q34's relation). */
  val NearDupJaccard = 0.6

  /** The exact near-dup pairs `(source, a_id, b_id, jaccard)` of a
    * `(doc_id, source, text)` frame: [[Tokens.tokenSets]] through the
    * prefix-filtered join at [[NearDupJaccard]], unsorted (consumers
    * join or aggregate the edge set, so a total sort is waste). */
  def nearDupPairs(docs: DataFrame): DataFrame =
    TextQueries.prefixJaccardPairs(Tokens.tokenSets(docs), NearDupJaccard,
      presentationSort = false)

  /** `(id, label)`: the [[connectedComponents]] of [[nearDupPairs]] —
    * every near-duplicated document labeled with its cluster's minimum
    * doc_id. */
  def nearDupClusters(docs: DataFrame): DataFrame =
    connectedComponents(nearDupPairs(docs))

  /** [[connectedComponents]] plus the number of propagation rounds it ran
    * — the diagnostic ProfileQ71@cf1ba66 reports (probing with increasing
    * maxIter would redo the whole pair join per attempt). */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // edges hash-partitioned on dst before their checkpoint, labels on
    // id. Under AQE the localCheckpoint records no output partitioning
    // (`AdaptiveSparkPlanExec` exposes none; GraphQueries' object doc),
    // so every round's edges-to-labels join re-exchanges the checkpointed
    // edges on dst beside the groupBy(src) aggregation; the checkpoint
    // still spares each round the pair plan. Symmetrization is an
    // explode of both directions — ONE pass over the pair plan: a union
    // of the pair frame with its own reversal evaluates the (expensive —
    // prefix-filtered inverted-index join in the q71 caller) pair plan
    // once per branch, and only the exchanges, not the final stages, get
    // reused between branches.
    val edges = pairs
      .select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .transform(graft.Checkpoints.ckpt)
    // seed with min(id, min neighbor): the first propagation round as a
    // plain aggregation, saving one full join round. Checkpointed because
    // round 1 references the labels TWICE (join probe + fold side) and
    // Spark plans have no subtree sharing — unmaterialized, the seed
    // would compute once per reference.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("id"),
        least(col("src"), col("m")).as("label"))
      .transform(graft.Checkpoints.ckpt)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // ONE propagation step per materialized round. (A two-steps-per-
      // checkpoint variant was tried and reverted: propagateRound
      // references its labels input twice, and with no materialization
      // between steps Spark re-evaluates the inner step once per
      // reference — tripling per-action compute to save one action.)
      // Convergence is an `observe` metric on the checkpoint write
      // itself: the changed-row count rides the same job that
      // materializes the round, so each round is exactly one action (a
      // separate filter+isEmpty pass would re-run the round's join).
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$iter")
      labels = graft.Checkpoints.roll(
        propagateRound(edges, labels)
          .observe(obs, coalesce(sum(when(col("chg"), 1L).otherwise(0L)),
            lit(0L)).as("changed"))
          .drop("chg"),
        labels)
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      iter += 1
    }
    // superseded rounds are already freed (Checkpoints.roll); the edge
    // list is dead once the loop exits — the returned labels frame is a
    // checkpoint with no lineage into it
    graft.Checkpoints.free(edges)
    // fail loudly: returning mid-propagation labels would silently split
    // components (a >maxIter-diameter chain is pathological, not silent)
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds")
    (labels, iter)
  }

  /** One min-label propagation round: equi-join to the neighborhood, min
    * per node, fold into the labels (with the changed flag the loop's
    * observe metric sums). Exposed so the plan guard can assert the
    * per-round join topology — inside [[connectedComponents]] every round
    * is immediately localCheckpoint'd, which truncates the lineage the
    * guard would otherwise inspect.
    */
  private[graft] def propagateRound(edges: DataFrame, labels: DataFrame)
      : DataFrame = {
    val nbrMin = edges.join(labels, edges("dst") === labels("id"))
      .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
    labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
      .select(labels("id"),
        least(col("label"), coalesce(col("nbr_label"), col("label")))
          .as("label"),
        (coalesce(col("nbr_label"), col("label")) < col("label")).as("chg"))
  }

  val WinnowWindow = 4

  /** Winnowing fingerprints (the rolling-hash fingerprint scheme): hash
    * every 3-token shingle, then keep the minimum hash of each sliding
    * window of [[WinnowWindow]] shingles — a deterministic, position-robust
    * sample of the document guaranteeing any match of sufficient length
    * shares a fingerprint. Documents shorter than window+2 tokens are
    * excluded.
    *
    * Shape: the fingerprint is a per-document scalar, so it's computed
    * INSIDE the row by the native [[graft.functions.WinnowFingerprints]]
    * expression — zero extra rows, zero shuffles (the fused-q72 pattern).
    * This retired the generator spelling (posexplode → rows-frame window
    * min → collect_set: ~n_tokens rows per doc and two doc_id shuffles;
    * bit-identical output asserted in WinnowFingerprintsSpec) and the
    * even older pure-HOF form (~10x slower again: CollapseProject
    * re-evaluates the shingle array per window).
    *
    * No oracle: fingerprints are xxhash64-valued (engine-specific); the
    * invariants are ScalaTest-checked.
    */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    val tok = Tokens.words(col("text"))
    docs
      .filter(size(tok) >= 3 + WinnowWindow - 1)
      .select(col("doc_id"),
        graft.functions.WinnowFingerprints.winnow(col("text"), WinnowWindow)
          .as("fingerprints"))
      .select(col("doc_id"), col("fingerprints"),
        size(col("fingerprints")).cast("long").as("n_fingerprints"))
  }

  /** Probe-vs-index exact-Jaccard pairs: every (probe doc, index doc) pair
    * with token-set Jaccard >= threshold. [[TextQueries.prefixJaccardPairs]]
    * re-oriented for TWO relations — there the self-join keeps every bound
    * as a predicate on ONE postings branch so the exchange is computed
    * once; here the sides are genuinely different tables, so each builds
    * its own prefix postings and the join is probe x index.
    *
    * Prefix positions are in DOCUMENT-FREQUENCY order over the INDEX
    * corpus ((df, h) — one fixed total order both sides share; probe
    * tokens unseen by the index take df 0, which is harmless: they have
    * no index postings to meet anyway). The positional and asymmetric-
    * prefix bounds hold for ANY shared total order — a true pair always
    * survives via its order-smallest shared token, which sits inside
    * both t-prefixes and inside the (length, id)-lex smaller side's
    * shorter index prefix (the same three exact prunes as q34, none
    * relation-specific) — and df-order is the one that makes prefixes
    * RARE tokens: the array-order spelling joined hot tokens against
    * corpus-wide posting lists and measured 55x time at 10x data
    * (q165's first scale proof); df-ordered it scales with the true
    * match density (the q148 lesson, applied to the two-relation form).
    * Scale shape: the probe side is dump-sized (far below corpus size),
    * only df-rare prefix tokens of either side become postings, and
    * every candidate that reaches the verify join already passed all
    * three bounds. The df table is vocabulary-sized and checkpointed
    * once (both sides' rank windows read it).
    */
  def probeIndexJaccardPairs(probe: DataFrame, index: DataFrame,
                             threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def prefixLen(n: Column) =
      n - ceil(lit(threshold) * n - lit(1e-9)).cast("long") + lit(1L)
    val tIdx = 2 * threshold / (1 + threshold)
    def idxPrefixLen(n: Column) =
      n - ceil(lit(tIdx) * n - lit(1e-9)).cast("long") + lit(1L)
    val dfreq = index
      .select(explode(col("tok")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .transform(graft.Checkpoints.ckpt)
    def post(d: DataFrame, side: String) = {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      d.select(col("doc_id"), size(col("tok")).cast("long").as("ntok"),
          explode(col("tok")).as("h"))
        .join(dfreq, Seq("h"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L)))
        .withColumn("pos", row_number().over(w).cast("long"))
        .filter(col("pos") <= prefixLen(col("ntok")))
        .select(col("h"), col("doc_id").as(s"${side}_id"),
          col("ntok").as(s"${side}_n"), col("pos").as(s"${side}_p"))
    }
    val cand = post(probe, "a").join(post(index, "b"), Seq("h"))
      .filter(
        least(col("a_n"), col("b_n")).cast("double") >=
          lit(threshold) * greatest(col("a_n"), col("b_n")) - lit(1e-9) &&
        lit(1) + least(col("a_n") - col("a_p"), col("b_n") - col("b_p")) >=
          ceil(lit(threshold) * (col("a_n") + col("b_n"))
            / lit(1 + threshold) - lit(1e-9)) &&
        when(col("a_n") < col("b_n") ||
            (col("a_n") === col("b_n") && col("a_id") < col("b_id")),
          col("a_p") <= idxPrefixLen(col("a_n")))
          .otherwise(col("b_p") <= idxPrefixLen(col("b_n"))))
      .select(col("a_id"), col("b_id")).distinct()
    cand
      .join(probe.select(col("doc_id").as("a_id"), col("tok").as("a_tok")),
        "a_id")
      .join(index.select(col("doc_id").as("b_id"), col("tok").as("b_tok")),
        "b_id")
      .withColumn("n_common",
        graft.functions.SortedIntersectCount.sortedIntersectCount(
          col("a_tok"), col("b_tok")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("a_tok")) + size(col("b_tok")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Directed containment pairs within each source block: every ordered
    * (a, b), a != b, with |A n B| / |A| >= threshold. `docs` needs
    * (doc_id, source, tok) with tok an ascending-sorted distinct hash
    * array (the sorted-merge verify kernel's requirement; the PRUNES use
    * their own df-order positions — see below).
    *
    * Exactness of the prunes (no true pair dropped): order each doc's
    * tokens by (document frequency, hash) — a total order shared by both
    * sides. An overlap of m = ceil(t*|A|) tokens cannot fit entirely in
    * A's last m-1 df-order positions, so some common token sits within
    * A's first |A| - m + 1 — that token's posting survives the A-prefix
    * cut (B posts every token, so the B side never drops it). At that
    * match position the remaining-overlap bound
    * 1 + min(|A|-pA, |B|-pB) >= m holds for a true pair (overlap beyond
    * this point is capped by what is left of either side's df-order
    * tail), and |B| >= m because the intersection fits inside B. Every
    * candidate is then verified exactly — the prunes only bound the
    * candidate volume, never the answer.
    */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def prefixLen(n: Column) =
      n - ceil(lit(threshold) * n - lit(1e-9)).cast("long") + lit(1L)
    val need = ceil(lit(threshold) * col("a_n") - lit(1e-9)).cast("long")
    // Positions in DOCUMENT-FREQUENCY order (q34's dfOrdered path), not
    // array order: the pigeonhole/positional arguments hold for ANY total
    // order shared by both sides, and df-order makes A's prefix its
    // RAREST tokens — the B side posts every token, so an array-order
    // prefix joins frequent tokens against their full posting lists and
    // the candidate product grows quadratically with corpus size (the
    // first spelling measured 16x time at 10x data; df-ordered it
    // re-joins only rare postings and scales with the true pair count).
    val toks = docs.select(col("source"), col("doc_id"),
      size(col("tok")).cast("long").as("ntok"), explode(col("tok")).as("h"))
    val dfreq = toks.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("source"), col("doc_id"))
      .orderBy(col("df"), col("h"))
    // materialized once: the probe and index branches both read the
    // ranked postings, and Spark plans share no subtrees — un-checkpointed,
    // the df join + rank window run twice (measured ~1.5 s of q148's
    // 5.5 s floor at sf0.1); the frame is postings-sized (corpus-linear)
    // and freed by the caller's Checkpoints.freeingAfter scope
    val ranked = toks.join(dfreq, Seq("source", "h"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .transform(graft.Checkpoints.ckpt)
    val aPost = ranked.filter(col("pos") <= prefixLen(col("ntok")))
      .select(col("source"), col("h"), col("doc_id").as("a_id"),
        col("ntok").as("a_n"), col("pos").as("a_p"))
    val bPost = ranked.select(col("source"), col("h"),
      col("doc_id").as("b_id"), col("ntok").as("b_n"),
      col("pos").as("b_p"))
    val cand = aPost.join(bPost, Seq("source", "h"))
      .filter(col("a_id") =!= col("b_id") &&
        col("b_n") >= need &&
        lit(1) + least(col("a_n") - col("a_p"), col("b_n") - col("b_p"))
          >= need)
      .select(col("source"), col("a_id"), col("b_id")).distinct()
    cand
      .join(docs.select(col("source"), col("doc_id").as("a_id"),
        col("tok").as("a_tok")), Seq("source", "a_id"))
      .join(docs.select(col("source"), col("doc_id").as("b_id"),
        col("tok").as("b_tok")), Seq("source", "b_id"))
      .withColumn("n_common",
        graft.functions.SortedIntersectCount.sortedIntersectCount(
          col("a_tok"), col("b_tok")))
      .withColumn("containment",
        col("n_common").cast("double") / size(col("a_tok")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("source"), col("a_id"), col("b_id"), col("containment"))
  }

  /** The 25-token boilerplate run q285 plants (no apostrophes — it is
    * interpolated into single-quoted SQL verbatim). */
  val PlantedRun: String =
    "terms of service apply to all content on this page and may change " +
      "at any time without notice please review the policy carefully " +
      "before proceeding"

  /** Substring-grain duplicate-RUN removal (the ExactSubstr niche of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): any token RUN of length >= L that occurs more than once
    * across the WHOLE corpus — at ARBITRARY offsets, the grain q96's
    * chunked spans, q125's prefixes, and q148's containment all miss —
    * keeps only its first occurrence (lowest doc_id, then offset); every
    * other occurrence's tokens are removed and each document is rebuilt
    * from its surviving tokens.
    *
    * Spark-first re-expression of the paper's suffix-array pass: a RUN
    * of length >= L duplicates iff all its length-L subruns duplicate,
    * so marking every non-canonical occurrence of a duplicated L-gram
    * and taking the per-doc interval UNION removes exactly the
    * duplicated-run cover. Plan: L-gram postings come from the fused
    * scan-local [[graft.functions.ShingleHashes]] (fixed-width 64-bit
    * shuffle keys — the q96/q87 idiom; the oracle partitions by the gram
    * STRING), first-occurrence ranking is one hash-keyed window,
    * interval coalescing is q236's per-doc sweep (running max-end), and
    * the rebuild is a scan-local higher-order filter over the token
    * array — shingle-keyed and doc-keyed shuffles only, never doc×doc.
    */
  def substringDedup(docs: DataFrame, minRun: Int): DataFrame = {
    val tok = Tokens.words(col("text"))
    val grams = docs.select(col("doc_id"),
        posexplode(graft.functions.ShingleHashes
          .positionalShingleHashes(col("text"), minRun)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("st"), col("h"))
    val wFirst = Window.partitionBy(col("h"))
      .orderBy(col("doc_id").asc, col("st").asc)
    val marked = grams.withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("st").as("s"),
        (col("st") + minRun - 1).as("e"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ivs = marked
      .withColumn("pmax", max(col("e")).over(wPrev))
      .withColumn("is_new",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("isl", sum(col("is_new")).over(wRun))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    docs.select(col("doc_id"), tok.as("tok"))
      .join(ivs, Seq("doc_id"), "left")
      .withColumn("ivs",
        coalesce(col("ivs"),
          expr("cast(array() as array<struct<s:bigint,e:bigint>>)")))
      .withColumn("kept", filter(col("tok"), (x: Column, i: Column) =>
        !exists(col("ivs"), iv =>
          i + 1 >= iv.getField("s") && i + 1 <= iv.getField("e"))))
      .select(col("doc_id"),
        size(col("tok")).cast("long").as("n_tokens"),
        (size(col("tok")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MinHash-LSH near-dup pairs (no oracle — hash-dependent candidates;
    // ScalaTest asserts recall vs q34's exact pairs).
    "q36_minhash_pairs" -> { (s, dir) =>
      minhashPairs(Tables.t(s, dir, "documents"), NearDupJaccard)
    },

    // Substring-grain duplicate-RUN removal over the fixture corpus with
    // a deterministically PLANTED boilerplate run (the q67/q268 planting
    // recipe): every doc_id ≡ 0 (mod 7) carries the same appended
    // 25-token run, so the canonical copy (the lowest planted doc_id)
    // keeps it and every other planted doc loses exactly those tokens —
    // plus whatever >= 12-token runs duplicate natively (both engines
    // state the identical relational semantics, so native runs agree
    // too). Non-vacuous at every SF: ~1/7 of the corpus is planted.
    "q285_substring_dedup" -> { (s, dir) =>
      val planted = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" " + PlantedRun)))
            .otherwise(col("text")).as("text"))
      substringDedup(planted, 12).orderBy("doc_id")
    },

    // SimHash fingerprints (no oracle — Spark-specific xxhash64; ScalaTest
    // asserts identical token sets give identical simhash).
    "q37_simhash" -> { (s, dir) =>
      simhash(Tables.t(s, dir, "documents")).orderBy("doc_id")
    },

    // MinHash-LSH accuracy contract, declared (r9, the q192 pattern):
    // q36's pair list is hash-dependent so it can't hash-match DuckDB,
    // but its two quality guarantees CAN — per source, the exact
    // near-dup pair count (oracle: the q34 SQL), a no-invented-pairs
    // verdict (precision 1: every LSH candidate is exact-verified
    // in-query) and a recall ≥ 0.8 verdict vs the exact pairs. The
    // oracle asserts both verdicts TRUE, so LSH recall drifting under
    // its contract turns the driver row red — DedupSpec's bound now has
    // a driver-checked twin. Scale shape: the exact side is q34's
    // df-ordered prefix-filter pipeline (never all-pairs), the LSH side
    // q36's banded buckets; the comparison joins two pair lists that
    // are both near-dup-density-sized.
    "q250_minhash_recall" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val exact = nearDupPairs(docs)
        .select(col("source"), col("a_id"), col("b_id"))
      val lsh = minhashPairs(docs, NearDupJaccard)
        .select(col("source"), col("a_id"), col("b_id"))
      val caught = exact.join(lsh.withColumn("hit", lit(1)),
        Seq("source", "a_id", "b_id"), "left")
      val invented = lsh.join(exact,
          Seq("source", "a_id", "b_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_inv"))
      caught.groupBy(col("source"))
        .agg(count(lit(1)).as("n_true_pairs"),
          sum(coalesce(col("hit"), lit(0))).as("n_caught"))
        .join(invented, Seq("source"), "left")
        .select(col("source"), col("n_true_pairs"),
          (coalesce(col("n_inv"), lit(0L)) === 0L).as("no_invented_pairs"),
          (col("n_caught").cast("double") >=
            col("n_true_pairs").cast("double") * 0.8).as("recall_ge_80"))
        .orderBy("source")
    },

    // SimHash separation contract (r9, the q250/q192 pattern): q37's
    // fingerprints are xxhash64-specific so the VALUES can't cross an
    // engine boundary, but the property that makes SimHash a dedup key
    // CAN — true near-dup pairs (q34's exact Jaccard ≥ 0.6) must sit
    // MUCH closer in Hamming space than a deterministic non-dup
    // baseline (each doc paired with its same-source doc_id successor,
    // exact pairs excluded). Output: the two pair counts (exact,
    // oracle-recomputed) plus two verdicts the oracle asserts TRUE —
    // mean dup Hamming ≤ 14 bits and baseline mean at least 4 bits
    // above it (measured 11.2 vs 17.8-18.3 at sf0.001/0.01/0.1 —
    // ProbeSimhash@cf1ba66; the narrow ~40-word fixture vocabulary compresses
    // all distances, so the margin is set from the measured floor, not
    // the random-64-bit ideal). A hash-mixing or bit-vote regression
    // collapses the separation toward zero and turns the driver
    // row red instead of only failing DedupSpec. Both pair lists are
    // near-dup-density / corpus-sized — never all-pairs.
    "q266_simhash_contract" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val exact = nearDupPairs(docs)
        .select(col("source"), col("a_id"), col("b_id"))
        .transform(graft.Checkpoints.ckpt)
      val sh = simhash(docs).transform(graft.Checkpoints.ckpt)
      def withHamming(pairs: DataFrame): DataFrame = pairs
        .join(sh.select(col("doc_id").as("a_id"),
          col("simhash").as("ha")), "a_id")
        .join(sh.select(col("doc_id").as("b_id"),
          col("simhash").as("hb")), "b_id")
        .withColumn("hd", hammingDistance(col("ha"), col("hb"))
          .cast("long"))
      val wS = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val base = docs.select(col("source"), col("doc_id"))
        .withColumn("b_id", lead(col("doc_id"), 1).over(wS))
        .filter(col("b_id").isNotNull)
        .select(col("source"), col("doc_id").as("a_id"), col("b_id"))
        .join(exact, Seq("source", "a_id", "b_id"), "left_anti")
      val dup = withHamming(exact)
        .agg(count(lit(1)).as("n_dup_pairs"),
          sum(col("hd")).as("sd"))
      val bas = withHamming(base)
        .agg(count(lit(1)).as("n_base_pairs"),
          sum(col("hd")).as("sb"))
      val dupMean = col("sd").cast("double") /
        col("n_dup_pairs").cast("double")
      val baseMean = col("sb").cast("double") /
        col("n_base_pairs").cast("double")
      dup.crossJoin(broadcast(bas))
        .select(col("n_dup_pairs"), col("n_base_pairs"),
          coalesce(dupMean <= 14.0, lit(true)).as("dup_mean_le_14"),
          coalesce(baseMean - dupMean >= 4.0, lit(true))
            .as("separation_ge_4"))
    },

    // Near-dup clustering: connected components over the exact Jaccard
    // pairs (same pair semantics as q34), labeling each involved doc with
    // its component's minimum doc_id; is_canonical marks the survivor per
    // cluster. Oracle: recursive-CTE reachability fixpoint in DuckDB.
    "q71_dedup_clusters" -> { (s, dir) =>
      nearDupClusters(Tables.t(s, dir, "documents"))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
          (col("id") === col("label")).as("is_canonical"))
        .orderBy("doc_id")
    },

    // Dedup survivor pick — the endgame AFTER clustering: q71 labels every
    // clustered doc, this decides which doc each cluster KEEPS. The
    // production rule is quality-based, not min-id (RefinedWeb/FineWeb
    // keep the longest/highest-quality member): survivor = argmax by
    // (n_chars, then min doc_id) within each component. Scale shape:
    // q71's propagation plus ONE broadcast-joinable metadata join and one
    // per-cluster rank window — cluster count is far below doc count, and
    // per-cluster state is one row.
    "q122_dedup_survivors" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val cc = nearDupClusters(docs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      cc.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("rk", row_number().over(w))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(when(col("rk") === 1, col("doc_id"))).as("survivor_id"),
          min(when(col("rk") === 1, col("n_chars"))).as("survivor_chars"))
        .orderBy("cluster_id")
    },

    // Golden-record construction (MDM survivorship): where q122 keeps
    // one MEMBER per near-dup cluster, this MERGES the cluster into a
    // canonical record field-by-field — majority vote for source and
    // lang (ties to the lexicographically smallest — the one-struct-min
    // argmax, no sort), longest member for the payload pointer. The
    // per-field rules are the standard survivorship vocabulary of
    // master-data pipelines; everything after q71's components is
    // cluster-keyed aggregation over member rows — cluster sizes are
    // near-dup-bounded, never corpus-sized.
    "q219_golden_record" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val cc = nearDupClusters(docs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val mem = cc.join(docs.select(col("doc_id"), col("source"),
        col("lang"), col("n_chars")), "doc_id")
      def vote(field: String) = mem
        .groupBy(col("cluster_id"), col(field))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("cluster_id"))
        .agg(min(struct((-col("c")).as("nc"), col(field).as("v")))
          .as("m"))
        .select(col("cluster_id"), col("m.v").as(s"canonical_$field"))
      val wL = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val longest = mem.withColumn("rk", row_number().over(wL))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(when(col("rk") === 1, col("doc_id"))).as("canonical_doc_id"),
          min(when(col("rk") === 1, col("n_chars"))).as("canonical_chars"))
      longest
        .join(vote("source"), "cluster_id")
        .join(vote("lang"), "cluster_id")
        .select(col("cluster_id"), col("n_members"),
          col("canonical_doc_id"), col("canonical_chars"),
          col("canonical_source"), col("canonical_lang"))
        .orderBy("cluster_id")
    },

    // Winnowing GUARANTEE contract (r9, the q250/q266/q267 pattern):
    // the Schleimer/Wilkerson/Aiken theorem says two texts sharing a
    // verbatim run of ≥ window + k − 1 = 6 tokens MUST share at least
    // one fingerprint — that, not bag similarity, is what winnowing
    // detects (measured: token-Jaccard near-dups share ~0 fingerprints
    // on this fixture because they share words, not RUNS —
    // ProbeWinnow@cf1ba66).
    // The contract plants the run deterministically: every ≥10-token doc
    // is paired with itself minus its first two tokens (shared suffix
    // run ≥ 8 ≥ 6), and the verdict asserts every such pair shares a
    // fingerprint. A shingle/window/hash regression breaks the theorem
    // and turns the driver row red. Scan-local fingerprints, one
    // doc-keyed join, sources-sized rollup.
    "q268_winnow_contract" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .filter(size(Tokens.words(col("text"))) >= 10)
      val derived = docs.select(col("doc_id"),
        array_join(slice(Tokens.words(col("text")), 3, 1000000), " ")
          .as("text"))
      val fa = winnowFingerprints(docs)
        .select(col("doc_id"), array_sort(col("fingerprints")).as("fa"))
      val fb = winnowFingerprints(derived)
        .select(col("doc_id"), array_sort(col("fingerprints")).as("fb"))
      docs.select(col("doc_id"), col("source"))
        .join(fa, "doc_id").join(fb, "doc_id")
        .withColumn("shared", graft.functions.SortedIntersectCount
          .sortedIntersectCount(col("fa"), col("fb")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (min(col("shared")) >= 1).as("guarantee_holds"))
        .orderBy("source")
    },

    // Winnowing rolling-window fingerprints (no oracle — hash-valued;
    // invariants ScalaTest-checked). The declared output serializes the
    // fingerprint set to a sorted CSV string: the harness row-hashes results
    // through pandas, and an array-typed column is unhashable there — the
    // scalar form is equivalent (sorted, total) and driver-safe.
    "q57_winnow_fingerprint" -> { (s, dir) =>
      winnowFingerprints(Tables.t(s, dir, "documents"))
        .select(col("doc_id"),
          array_join(array_sort(col("fingerprints")), ",").as("fingerprints"),
          col("n_fingerprints"))
        .orderBy("doc_id")
    },

    // Token-prefix dedup — the cheap standing approximation of substring
    // dedup (suffix-array dedup a la Lee et al. 2022 finds any shared
    // span; crawl near-dups overwhelmingly share their OPENING span —
    // templates, mirrored pages, partial re-crawls — so an identical
    // first-20-token prefix is the high-precision slice of that signal).
    // Docs sharing a prefix collapse to one survivor: longest member,
    // ties by smallest doc_id (q122's keep rule). Scale shape: the prefix
    // key is exact-dedup plumbing — one hash groupBy on a short string
    // key; no pair joins, no corpus-wide window. The rank window
    // partitions by prefix group, whose size is the duplication
    // multiplicity (bounded); singleton groups pass through unranked in
    // the same pass.
    "q125_prefix_dedup" -> { (s, dir) =>
      val pfx = concat_ws(" ", slice(Tokens.words(col("text")), 1, 20))
      val byPfx = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pfx"))
      val w = byPfx.orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), pfx.as("pfx"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_group", count(lit(1)).over(byPfx))
        .select(col("doc_id"), col("n_group"), (col("rk") === 1).as("kept"))
        .orderBy("doc_id")
    },

    // New-source admission check — the gate a corpus runs BEFORE mixing a
    // new crawl/source in (the per-dump dedup pass of RefinedWeb/FineWeb):
    // how much of the candidate source near-duplicates each EXISTING
    // source? Probe = src0, index = every other source, exact token-set
    // Jaccard >= 0.6 via the probe-vs-index PPJoin; the report aggregates
    // per existing source: probe docs hit, pair count, mean overlap.
    // Scale shape: [[probeIndexJaccardPairs]] — the probe side is one
    // dump, all three PPJoin bounds prune before verify, and the report
    // is #sources rows. mean_jaccard is davg over 4-rounded values: the
    // decimal cast is exact-order-independent and a dyadic double never
    // sits on a 1e-6 half boundary, so both engines agree bit-for-bit.
    "q130_source_admission" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val d = Tokens.tokenSets(docs)
      val pairs = probeIndexJaccardPairs(
        d.filter(col("source") === "src0").drop("source"),
        d.filter(col("source") =!= "src0").drop("source"), NearDupJaccard)
      pairs
        .join(docs.select(col("doc_id").as("b_id"), col("source")), "b_id")
        .groupBy(col("source"))
        .agg(countDistinct(col("a_id")).as("n_probe_docs"),
          count(lit(1)).as("n_pairs"),
          graft.Fns.davg(round(col("jaccard"), 4)).as("mean_jaccard"))
        .orderBy("source")
    },

    // Directed containment pairs — the near-dup relation symmetric
    // Jaccard MISSES: a short doc quoted wholesale inside a longer one
    // (C(A->B) = |A n B| / |A| >= 0.8) scores low Jaccard when |B| >>
    // |A|, yet is exactly the subset-duplicate a curation pass must
    // catch (quote farms, wrapper pages, partial mirrors). Prefix filter
    // for containment: only A needs a prefix (|A| - ceil(t|A|) + 1
    // hash-sorted tokens — pigeonhole: an overlap of ceil(t|A|) tokens
    // must touch it), the index side posts ALL tokens (containment puts
    // no lower bound on B's share of B). Size bound |B| >= ceil(t|A|)
    // and the positional remaining-overlap bound both apply as
    // predicates before the verify join — the q34 discipline, one
    // candidate distinct, exact sorted-intersect verify.
    "q148_containment_pairs" -> { (s, dir) =>
      val d = Tokens.tokenSets(Tables.t(s, dir, "documents"))
      containmentPairs(d, 0.8)
        .select(col("source"), col("a_id"), col("b_id"),
          round(col("containment"), 4).as("containment"))
        .orderBy("source", "a_id", "b_id")
    },

    // Per-source near-dup rate — the curation dashboard's first column:
    // what fraction of each source participates in at least one exact-
    // Jaccard pair (q34 semantics). A source with a high rate is crawl-
    // duplicated (mirrors, re-crawls) and its effective token yield after
    // dedup is proportionally lower — this and q156's threshold sweep are
    // how a mixture planner discounts a source BEFORE running the full
    // clustering. Scale shape: the pair plan IS q34's (every PPJoin bound
    // intact); touched-doc extraction is one explode + distinct on the
    // pair-sized edge list, and the report is #sources rows.
    "q153_source_dup_rate" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val pairs = nearDupPairs(docs)
      val dup = pairs
        .select(col("source"),
          explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup_docs"))
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(dup, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
          (coalesce(col("n_dup_docs"), lit(0L)).cast("double") /
            col("n_docs").cast("double")).as("dup_rate"))
        .orderBy("source")
    },

    // Dedup yield curve — the threshold-sensitivity sweep run BEFORE
    // committing to a dedup threshold: for each candidate threshold, how
    // many pairs survive and how many docs would the cheap keep-min-id
    // rule drop (a doc is dropped iff some SMALLER doc_id near-dups it —
    // the standard greedy rule; transitive chains make it an upper bound
    // on CC-canonical removal). One pair plan evaluated at the LOOSEST
    // threshold serves every tighter one: the sweep is a 4-way explode
    // over the pair-sized edge list, never a re-run of candidate
    // generation. Thresholds compare against the 4-rounded jaccard both
    // engines compute bit-identically (q34 precedent), so no boundary
    // can disagree.
    "q156_dedup_yield_curve" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val pairs = nearDupPairs(docs)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      pairs
        .withColumn("threshold", explode(array(
          lit(0.6), lit(0.7), lit(0.8), lit(0.9))))
        .filter(col("jaccard") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("b_id")).as("n_docs_dropped"))
        .crossJoin(broadcast(nDocs))
        .select(col("threshold"), col("n_pairs"), col("n_docs_dropped"),
          (lit(1.0) - col("n_docs_dropped").cast("double") /
            col("n_docs").cast("double")).as("yield_frac"))
        .orderBy("threshold")
    },

    // Incremental dump dedup — the decision table a per-dump pipeline
    // actually emits (RefinedWeb/FineWeb dedup each new crawl against
    // the corpus so far): the NEWEST 20% of doc_ids play the incoming
    // dump, every older doc is the standing index, and each new doc is
    // kept iff it near-dups nothing existing (exact Jaccard >= 0.6 via
    // the probe-vs-index PPJoin — q130's kernel emitting per-doc
    // decisions instead of a per-source rollup). Scale shape:
    // [[probeIndexJaccardPairs]] — the probe side is dump-sized, all
    // three prefix bounds prune before verify; the decision join is one
    // left join of the dump against the match aggregate. The split
    // itself is a scan-local id threshold from a broadcast 1-row
    // percentile (cross-engine exact: ids are exact longs).
    "q165_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val d = Tokens.tokenSets(docs)
      val cut = docs.agg(
        expr("percentile(doc_id, 0.8)").as("cut_id"))
      val dd = d.crossJoin(broadcast(cut))
      // the dump side is referenced three times (probe postings, verify
      // join, decision join) but stays LAZY: re-running a codegen'd
      // scan+tokenize is cheaper than serializing token arrays through a
      // checkpoint (measured +2 s at sf0.1) — and at 100 TB both sides
      // are tables you re-scan, not frames you materialize
      val newDocs = dd.filter(col("doc_id").cast("double") > col("cut_id"))
        .drop("cut_id")
      val oldDocs = dd.filter(col("doc_id").cast("double") <= col("cut_id"))
        .drop("cut_id")
      val hits = probeIndexJaccardPairs(
        newDocs.drop("source"), oldDocs.drop("source"), NearDupJaccard)
        .groupBy(col("a_id").as("doc_id"))
        .agg(count(lit(1)).as("n_matches"),
          max(round(col("jaccard"), 4)).as("best_jaccard"))
      newDocs.select(col("doc_id"), col("source"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
          col("n_matches").isNull.as("kept"))
        .orderBy("doc_id")
    },

    // The near-dup index as a PERSISTED, VERSIONED artifact — q286's
    // snapshot recipe applied to the MinHash-LSH band postings, closing
    // q165's remaining scale gap: q165 answers each dump's admission
    // question by recomputing corpus postings (O(corpus) per dump);
    // here the standing corpus' postings are committed ONCE via
    // [[graft.etl.Snapshot.commit]], the dump's admission candidates
    // come from one equi-join of its O(batch) postings against the
    // snapshot read-back, every candidate is exact-Jaccard-verified
    // (precision 1 by construction), and only the SURVIVORS' postings
    // land via [[graft.etl.Snapshot.commitDelta]] (admit, then index —
    // O(batch) per dump, the 100 TB property). Declared as a contract
    // row (the q250/q286 pattern — band hashes are Spark-hash-specific,
    // so the POSTINGS can't cross engines, but the quality verdicts
    // can): per source, the dump size and the EXACT duplicate count
    // (oracle: q165's PPJoin SQL), plus three verdicts the oracle
    // asserts TRUE — no invented drops (deterministic: drops are
    // exact-verified), recall >= 0.8 vs the exact decision (q250's
    // measured LSH contract, here answered from the index), and
    // read-back == from-scratch postings over old ∪ admitted (the
    // q286 write→delta→merge→read proof). The exact PPJoin runs here
    // ONLY as the contract baseline; the production path never touches
    // corpus-sized postings work.
    "q302_lsh_index_snapshot" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val cut = docs.agg(expr("percentile(doc_id, 0.8)").as("cut_id"))
      val dd = docs.crossJoin(broadcast(cut))
      val oldDocs = dd.filter(col("doc_id").cast("double") <= col("cut_id"))
        .drop("cut_id")
      val newDocs = dd.filter(col("doc_id").cast("double") > col("cut_id"))
        .drop("cut_id")
      // per-run scratch root (the q257/q286 token: two harness processes
      // over the same fixture must not race on /tmp)
      val root = "/tmp/graft_lshidx_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      graft.etl.Snapshot.commit(DedupStore.bandPostings(oldDocs), root)
      val standing = graft.etl.Snapshot.read(s, root)
      def toks(d: DataFrame) = d.select(col("doc_id"),
        Tokens.hashedSet(Tokens.words(col("text"))).as("tok"))
      val dumpPost = DedupStore.bandPostings(newDocs).transform(graft.Checkpoints.ckpt)
      val drops = DedupStore.dropsAgainstIndex(dumpPost, standing,
        toks(newDocs), toks(oldDocs), NearDupJaccard)
        .transform(graft.Checkpoints.ckpt)
      graft.etl.Snapshot.commitDelta(
        dumpPost.join(drops.select(col("doc_id")), Seq("doc_id"),
          "left_anti"),
        root, "posting_id")
      // read-back vs from-scratch rebuild over old ∪ admitted: every
      // posting row must appear in BOTH frames (rows are posting_id-
      // unique in each, so union-count 2 ⇔ present in both)
      val rebuilt = DedupStore.bandPostings(oldDocs.unionByName(
        newDocs.join(drops.select(col("doc_id")), Seq("doc_id"),
          "left_anti")))
      // localCheckpoint (eager) cuts the lineage to the on-disk store so
      // the scratch root can be destroyed below — without it every
      // harness/test run leaves a new /tmp tree behind (version GC only
      // bounds growth within ONE app)
      val mism = graft.etl.Snapshot.read(s, root)
        .select("posting_id", "doc_id", "band", "band_hash")
        .unionByName(rebuilt
          .select("posting_id", "doc_id", "band", "band_hash"))
        .groupBy("posting_id", "doc_id", "band", "band_hash")
        .agg(count(lit(1)).as("c")).filter(col("c") =!= 2)
        .agg(count(lit(1)).as("n_mismatch"))
        .transform(graft.Checkpoints.ckpt)
      graft.etl.Snapshot.destroy(s, root)
      // the exact decision — the contract baseline only
      val exact =
        probeIndexJaccardPairs(toks(newDocs), toks(oldDocs), NearDupJaccard)
        .groupBy(col("a_id").as("doc_id")).agg(count(lit(1)).as("nm"))
      newDocs.select(col("doc_id"), col("source"))
        .join(drops.select(col("doc_id"), lit(1).as("lsh")),
          Seq("doc_id"), "left")
        .join(exact.select(col("doc_id"), lit(1).as("ex")),
          Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_new"),
          sum(coalesce(col("ex"), lit(0))).cast("long").as("n_dup_exact"),
          sum(when(col("lsh") === 1 && col("ex").isNull, 1).otherwise(0))
            .as("n_invented"),
          sum(when(col("lsh") === 1 && col("ex") === 1, 1).otherwise(0))
            .as("n_caught"))
        .crossJoin(broadcast(mism))
        .select(col("source"), col("n_new"), col("n_dup_exact"),
          (col("n_invented") === 0).as("no_invented_drops"),
          (col("n_dup_exact") === 0 || col("n_caught").cast("double") >=
            col("n_dup_exact").cast("double") * 0.8).as("recall_ge_80"),
          (col("n_mismatch") === 0L).as("index_matches_rebuild"))
        .orderBy("source")
    },

    // Leakage-safe train/val/test split: q103's deterministic md5 bucket,
    // but the hash KEY is the near-dup cluster id (q71's connected
    // components), so a near-duplicate family can never straddle train
    // and test — the within-corpus leak that benchmark decontamination
    // (q87/q97, which only guard against EXTERNAL eval sets) cannot see.
    // Singleton docs (no near-dup) key on their own id, which IS their
    // (degenerate) cluster id — one rule, not two. Scale shape: q71's
    // propagation (the dominant cost, corpus-linear pair generation +
    // 4-round label propagation) plus one left join and a scan-local
    // hash; the split itself adds nothing corpus-quadratic.
    "q169_leakage_split" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val cc = nearDupClusters(docs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val key = coalesce(col("cluster_id"), col("doc_id"))
      val bucket = conv(substring(
        md5(key.cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 10
      docs.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), key.as("split_key"),
          when(bucket < 8, lit("train"))
            .when(bucket === 8, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    })

  override def oracles: Map[String, String] = Map(
    // q165's exact PPJoin SQL rolled up per source; the three contract
    // verdicts restated as the TRUEs the engine must earn (see the
    // engine-side doc for why each is decidable)
    "q302_lsh_index_snapshot" ->
      """WITH cut AS (
        |  SELECT QUANTILE_CONT(doc_id, 0.8) AS cut_id FROM documents),
        |d AS (
        |  SELECT doc_id, source,
        |    LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS tok
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, CAST(LEN(tok) AS BIGINT) AS ntok,
        |    UNNEST(tok) AS token
        |  FROM d),
        |c AS (
        |  SELECT a.doc_id AS a_id, a.ntok AS a_n,
        |    b.doc_id AS b_id, b.ntok AS b_n, COUNT(*) AS n_common
        |  FROM t a JOIN t b ON a.token = b.token
        |  CROSS JOIN cut
        |  WHERE CAST(a.doc_id AS DOUBLE) > cut.cut_id
        |    AND CAST(b.doc_id AS DOUBLE) <= cut.cut_id
        |  GROUP BY 1, 2, 3, 4),
        |p AS (
        |  SELECT DISTINCT a_id FROM c
        |  WHERE CAST(n_common AS DOUBLE) / (a_n + b_n - n_common) >= 0.6)
        |SELECT d.source, COUNT(*) AS n_new,
        |  CAST(SUM(CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_exact,
        |  TRUE AS no_invented_drops, TRUE AS recall_ge_80,
        |  TRUE AS index_matches_rebuild
        |FROM d CROSS JOIN cut LEFT JOIN p ON p.a_id = d.doc_id
        |WHERE CAST(d.doc_id AS DOUBLE) > cut.cut_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // the same relational semantics over gram STRINGS (the engine's
    // xxhash64 keys are hash-invariant grouping, the q96 argument):
    // plant, mark non-canonical occurrences of duplicated 12-grams,
    // coalesce intervals per doc (q236's sweep), rebuild from the
    // surviving positions
    "q285_substring_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' $PlantedRun'
         |         ELSE text END AS text
         |  FROM documents),
         |t AS MATERIALIZED (
         |  SELECT doc_id, STR_SPLIT(text, ' ') AS tok FROM d),
         |g AS (
         |  SELECT doc_id, st,
         |    ARRAY_TO_STRING(LIST_SLICE(tok, st, st + 11), ' ') AS gram
         |  FROM t, UNNEST(RANGE(1, LEN(tok) - 10)) AS u(st)),
         |m AS (
         |  SELECT doc_id, st AS s, st + 11 AS e FROM (
         |    SELECT doc_id, st,
         |      ROW_NUMBER() OVER (PARTITION BY gram
         |                         ORDER BY doc_id, st) AS rn
         |    FROM g) WHERE rn > 1),
         |c AS (
         |  SELECT doc_id, s, e,
         |    CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
         |      THEN 1 ELSE 0 END AS is_new
         |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |i AS (
         |  SELECT doc_id, isl, MIN(s) AS s, MAX(e) AS e FROM (
         |    SELECT doc_id, s, e,
         |      SUM(is_new) OVER (PARTITION BY doc_id ORDER BY s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |    FROM c) GROUP BY doc_id, isl),
         |p AS (
         |  SELECT doc_id, UNNEST(tok) AS tk,
         |    GENERATE_SUBSCRIPTS(tok, 1) AS pos FROM t),
         |k AS (
         |  SELECT p.doc_id, p.pos, p.tk
         |  FROM p LEFT JOIN i
         |    ON i.doc_id = p.doc_id AND p.pos BETWEEN i.s AND i.e
         |  WHERE i.doc_id IS NULL)
         |SELECT t.doc_id,
         |  CAST(LEN(t.tok) AS BIGINT) AS n_tokens,
         |  CAST(LEN(t.tok) - COUNT(k.pos) AS BIGINT) AS n_removed,
         |  COALESCE(ARRAY_TO_STRING(LIST(k.tk ORDER BY k.pos)
         |    FILTER (WHERE k.pos IS NOT NULL), ' '), '') AS clean_text
         |FROM t LEFT JOIN k ON k.doc_id = t.doc_id
         |GROUP BY t.doc_id, LEN(t.tok)
         |ORDER BY t.doc_id""".stripMargin,

    // the LSH contract's exact side is q34's own SQL; the verdicts are
    // asserted TRUE (precision is structural, recall is the LSH design
    // bound — a drift under either hash-fails the row)
    "q250_minhash_recall" ->
      s"""WITH x AS (
         |${TextQueries.Q34OracleSql})
         |SELECT source, COUNT(*) AS n_true_pairs,
         |  TRUE AS no_invented_pairs, TRUE AS recall_ge_80
         |FROM x GROUP BY 1 ORDER BY source""".stripMargin,

    // both pair counts exact (the q34 CTE + the successor baseline);
    // the Hamming-separation verdicts asserted TRUE
    "q266_simhash_contract" ->
      s"""WITH ex AS (
         |${TextQueries.Q34OracleSql}),
         |nx AS (
         |  SELECT source, doc_id AS a_id,
         |    LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
         |      AS b_id
         |  FROM documents),
         |base AS (
         |  SELECT nx.source, nx.a_id, nx.b_id FROM nx
         |  WHERE b_id IS NOT NULL AND NOT EXISTS (
         |    SELECT 1 FROM ex WHERE ex.source = nx.source
         |      AND ex.a_id = nx.a_id AND ex.b_id = nx.b_id))
         |SELECT (SELECT COUNT(*) FROM ex) AS n_dup_pairs,
         |  (SELECT COUNT(*) FROM base) AS n_base_pairs,
         |  TRUE AS dup_mean_le_14,
         |  TRUE AS separation_ge_4""".stripMargin,

    // per-source count of the ≥10-token docs the planted-run pairing
    // covers; the theorem verdict asserted TRUE
    "q268_winnow_contract" ->
      """SELECT source, COUNT(*) AS n_docs, TRUE AS guarantee_holds
        |FROM documents
        |WHERE LEN(STRING_SPLIT(text, ' ')) >= 10
        |GROUP BY 1 ORDER BY source""".stripMargin,

    // reachability fixpoint: every node's cluster is the min id that can
    // reach it through the symmetric pair edges
    "q71_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |${TextQueries.oracles("q34_jaccard_pairs")}),
         |e AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id)
         |SELECT id AS doc_id, MIN(r) AS cluster_id,
         |  id = MIN(r) AS is_canonical
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // the q71 fixpoint extended with the survivor argmax: longest member
    // wins, ties broken by doc_id
    "q122_dedup_survivors" ->
      s"""WITH RECURSIVE pairs AS (
         |${TextQueries.oracles("q34_jaccard_pairs")}),
         |e AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
         |cc AS (SELECT id AS doc_id, MIN(r) AS cluster_id
         |       FROM reach GROUP BY id),
         |m AS (
         |  SELECT cc.cluster_id, cc.doc_id, d.n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
         |      ORDER BY d.n_chars DESC, cc.doc_id ASC) AS rk
         |  FROM cc JOIN documents d ON d.doc_id = cc.doc_id)
         |SELECT cluster_id, COUNT(*) AS n_members,
         |  MIN(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
         |  MIN(CASE WHEN rk = 1 THEN n_chars END) AS survivor_chars
         |FROM m GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "q219_golden_record" ->
      s"""WITH RECURSIVE pairs AS (
         |${TextQueries.oracles("q34_jaccard_pairs")}),
         |e AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
         |cc AS (SELECT id AS doc_id, MIN(r) AS cluster_id
         |       FROM reach GROUP BY id),
         |mem AS (
         |  SELECT cc.cluster_id, cc.doc_id, d.source, d.lang, d.n_chars
         |  FROM cc JOIN documents d ON d.doc_id = cc.doc_id),
         |sv AS (
         |  SELECT cluster_id, source AS canonical_source,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY COUNT(*) DESC, source ASC) AS rk
         |  FROM mem GROUP BY cluster_id, source),
         |lv AS (
         |  SELECT cluster_id, lang AS canonical_lang,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY COUNT(*) DESC, lang ASC) AS rk
         |  FROM mem GROUP BY cluster_id, lang),
         |lg AS (
         |  SELECT cluster_id, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id ASC) AS rk
         |  FROM mem),
         |base AS (
         |  SELECT cluster_id, COUNT(*) AS n_members,
         |    MIN(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc_id,
         |    MIN(CASE WHEN rk = 1 THEN n_chars END) AS canonical_chars
         |  FROM lg GROUP BY cluster_id)
         |SELECT base.cluster_id, n_members, canonical_doc_id,
         |  canonical_chars, sv.canonical_source, lv.canonical_lang
         |FROM base
         |JOIN sv ON sv.cluster_id = base.cluster_id AND sv.rk = 1
         |JOIN lv ON lv.cluster_id = base.cluster_id AND lv.rk = 1
         |ORDER BY base.cluster_id""".stripMargin,

    "q125_prefix_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    ARRAY_TO_STRING(LIST_SLICE(STRING_SPLIT(text, ' '), 1, 20), ' ')
        |      AS pfx
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY pfx
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rk,
        |    COUNT(*) OVER (PARTITION BY pfx) AS n_group
        |  FROM d)
        |SELECT doc_id, CAST(n_group AS BIGINT) AS n_group, rk = 1 AS kept
        |FROM r ORDER BY doc_id""".stripMargin,

    // the naive probe x index posting join states the same semantics the
    // PPJoin bounds only accelerate
    "q130_source_admission" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS tok
         |  FROM documents),
         |t AS (
         |  SELECT source, doc_id, CAST(LEN(tok) AS BIGINT) AS ntok,
         |    UNNEST(tok) AS token
         |  FROM d),
         |c AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, b.source AS src_b,
         |    a.ntok AS a_n, b.ntok AS b_n, COUNT(*) AS n_common
         |  FROM t a JOIN t b ON a.token = b.token
         |   AND a.source = 'src0' AND b.source <> 'src0'
         |  GROUP BY 1, 2, 3, 4, 5),
         |p AS (
         |  SELECT src_b AS source, a_id,
         |    CAST(n_common AS DOUBLE) / (a_n + b_n - n_common) AS jacc
         |  FROM c
         |  WHERE CAST(n_common AS DOUBLE) / (a_n + b_n - n_common) >= 0.6)
         |SELECT source, COUNT(DISTINCT a_id) AS n_probe_docs,
         |  COUNT(*) AS n_pairs,
         |  ${graft.Fns.davgSql("ROUND(jacc, 4)")} AS mean_jaccard
         |FROM p GROUP BY source ORDER BY source""".stripMargin,

    // the naive all-common-token count states the semantics the prefix /
    // positional / size prunes only accelerate
    "q148_containment_pairs" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS tok
        |  FROM documents),
        |t AS (
        |  SELECT source, doc_id, CAST(LEN(tok) AS BIGINT) AS ntok,
        |    UNNEST(tok) AS token
        |  FROM d),
        |c AS (
        |  SELECT a.source, a.doc_id AS a_id, a.ntok AS a_n,
        |    b.doc_id AS b_id, COUNT(*) AS n_common
        |  FROM t a JOIN t b
        |    ON a.source = b.source AND a.token = b.token
        |   AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT source, a_id, b_id,
        |  ROUND(CAST(n_common AS DOUBLE) / CAST(a_n AS DOUBLE), 4)
        |    AS containment
        |FROM c
        |WHERE CAST(n_common AS DOUBLE) / CAST(a_n AS DOUBLE) >= 0.8
        |ORDER BY source, a_id, b_id""".stripMargin,

    "q153_source_dup_rate" ->
      s"""WITH pairs AS (
         |${TextQueries.oracles("q34_jaccard_pairs")}),
         |d AS (SELECT source, UNNEST([a_id, b_id]) AS doc_id FROM pairs),
         |du AS (SELECT DISTINCT source, doc_id FROM d),
         |dc AS (SELECT source, COUNT(*) AS n_dup_docs FROM du GROUP BY 1),
         |t AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
         |SELECT t.source, t.n_docs,
         |  CAST(COALESCE(dc.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
         |  CAST(COALESCE(dc.n_dup_docs, 0) AS DOUBLE)
         |    / CAST(t.n_docs AS DOUBLE) AS dup_rate
         |FROM t LEFT JOIN dc ON dc.source = t.source
         |ORDER BY t.source""".stripMargin,

    "q156_dedup_yield_curve" ->
      s"""WITH pairs AS (
         |${TextQueries.oracles("q34_jaccard_pairs")}),
         |sw AS (
         |  SELECT CAST(tt.threshold AS DOUBLE) AS threshold,
         |    p.jaccard, p.b_id
         |  FROM pairs p
         |  CROSS JOIN (VALUES (0.6), (0.7), (0.8), (0.9)) AS tt(threshold)
         |  WHERE p.jaccard >= CAST(tt.threshold AS DOUBLE)),
         |g AS (
         |  SELECT threshold, COUNT(*) AS n_pairs,
         |    COUNT(DISTINCT b_id) AS n_docs_dropped
         |  FROM sw GROUP BY 1)
         |SELECT threshold, n_pairs, n_docs_dropped,
         |  1.0 - CAST(n_docs_dropped AS DOUBLE)
         |    / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS yield_frac
         |FROM g ORDER BY threshold""".stripMargin,

    // the naive probe x index posting join states the decision semantics
    // the PPJoin bounds only accelerate (q130's oracle shape, per-doc)
    "q165_incremental_dedup" ->
      """WITH cut AS (
        |  SELECT QUANTILE_CONT(doc_id, 0.8) AS cut_id FROM documents),
        |d AS (
        |  SELECT doc_id, source,
        |    LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS tok
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, CAST(LEN(tok) AS BIGINT) AS ntok,
        |    UNNEST(tok) AS token
        |  FROM d),
        |c AS (
        |  SELECT a.doc_id AS a_id, a.ntok AS a_n,
        |    b.doc_id AS b_id, b.ntok AS b_n, COUNT(*) AS n_common
        |  FROM t a JOIN t b ON a.token = b.token
        |  CROSS JOIN cut
        |  WHERE CAST(a.doc_id AS DOUBLE) > cut.cut_id
        |    AND CAST(b.doc_id AS DOUBLE) <= cut.cut_id
        |  GROUP BY 1, 2, 3, 4),
        |p AS (
        |  SELECT a_id,
        |    ROUND(CAST(n_common AS DOUBLE) / (a_n + b_n - n_common), 4)
        |      AS jacc
        |  FROM c
        |  WHERE CAST(n_common AS DOUBLE) / (a_n + b_n - n_common) >= 0.6),
        |h AS (
        |  SELECT a_id AS doc_id, COUNT(*) AS n_matches,
        |    MAX(jacc) AS best_jaccard
        |  FROM p GROUP BY 1)
        |SELECT d.doc_id, d.source,
        |  CAST(COALESCE(h.n_matches, 0) AS BIGINT) AS n_matches,
        |  COALESCE(h.best_jaccard, 0.0) AS best_jaccard,
        |  h.n_matches IS NULL AS kept
        |FROM d CROSS JOIN cut
        |LEFT JOIN h ON h.doc_id = d.doc_id
        |WHERE CAST(d.doc_id AS DOUBLE) > cut.cut_id
        |ORDER BY d.doc_id""".stripMargin,

    // the q71 fixpoint feeding q103's md5 bucket, keyed on the cluster id
    "q169_leakage_split" ->
      s"""WITH RECURSIVE pairs AS (
         |${TextQueries.oracles("q34_jaccard_pairs")}),
         |e AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
         |cc AS (SELECT id AS doc_id, MIN(r) AS cluster_id
         |       FROM reach GROUP BY id),
         |k AS (
         |  SELECT d.doc_id,
         |    COALESCE(cc.cluster_id, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
         |b AS (
         |  SELECT doc_id, split_key,
         |    CAST(('0x' || SUBSTRING(MD5(CAST(split_key AS VARCHAR)), 1, 4))
         |        AS BIGINT) % 10 AS b
         |  FROM k)
         |SELECT doc_id, split_key,
         |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin)
}
