package graft.llm

import graft.{Fns, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star extension
  * set, SURVEY.md §2.3): exact dedup, per-corpus text statistics, quality
  * scoring, document fingerprinting, language ID, and exact n-gram-Jaccard
  * near-dup pairs. All built-in codegen'd functions — no UDFs.
  */
object TextQueries extends QueryModule {
  import Fns.{davgSql, davg}

  /** Exact Jaccard near-dup pairs via df-ordered prefix filtering
    * (the all-pairs similarity-join technique of Chaudhuri et al. 2006 /
    * Bayardo et al. 2007). Input: `(doc_id, source, tok)` where `tok` is the
    * ascending-sorted array of distinct 64-bit token hashes.
    *
    * A naive inverted-index self-join is quadratic in hot-token document
    * frequency — the classic scale-killer on skewed text ("the"). Prefix
    * filtering keeps it EXACT while bounding the postings: order each doc's
    * tokens by ascending global df (rarest first, ties by hash) and index
    * only the first `|d| - ceil(t*|d|) + 1`. Any pair with Jaccard >= t
    * shares >= ceil(t*|d|) tokens, so its globally-smallest common token
    * provably lands in BOTH prefixes — no pair is lost — while hot tokens
    * sort to the un-indexed suffix and their posting lists all but vanish.
    * Candidates are then verified exactly with the fused two-pointer
    * [[graft.functions.SortedIntersectCount]] over the full sorted hash
    * arrays (allocation-free; `array_intersect` builds a hash set per pair).
    *
    * Any TOTAL global order makes the prefix bound correct; df-ascending is
    * the one that starves hot-token postings. `dfOrdered = false` instead
    * uses the hash order the `tok` array is already sorted in — the prefix
    * is then a plain `slice`, no df aggregation / join / window, which wins
    * when the token space is high-cardinality (3-shingles: df ≈ 1
    * everywhere, so df-ordering buys nothing and each extra plan branch
    * re-evaluates the expensive shingle-hash array).
    *
    * Shuffles (df-ordered): token df aggregation, one window on
    * (source, doc_id) for the df-rank, the prefix equi-join, and two hash
    * joins to attach the full arrays — all equi-keyed and AQE-replannable;
    * the df lookup table is one row per distinct (source, token) and
    * broadcasts while small. Hash-ordered drops the first two.
    *
    * Split as candidates ([[prefixCandidates]], exposed so profiling tools
    * measure the SHIPPED stage instead of a drifting copy) + exact verify
    * ([[prefixJaccardPairs]]).
    */
  def prefixCandidates(docs: DataFrame, threshold: Double,
                       dfOrdered: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 1e-9 slack: ceil must never overshoot when t*|d| lands on an integer
    // (a too-long prefix only costs time; a too-short one loses pairs)
    def prefixLen(n: Column) =
      n - ceil(lit(threshold) * n - lit(1e-9)).cast("long") + lit(1L)
    // postings carry the token's 1-based rank in the doc's global-order
    // token list — the positional filter's input
    val postings = if (dfOrdered) {
      val toks = docs.select(col("source"), col("doc_id"),
        size(col("tok")).cast("long").as("ntok"),
        explode(col("tok")).as("h"))
      val dfreq = toks.groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("source"), col("doc_id"))
        .orderBy(col("df"), col("h"))
      toks.join(dfreq, Seq("source", "h"))
        .withColumn("pos", row_number().over(w).cast("long"))
        .filter(col("pos") <= prefixLen(col("ntok")))
        .select(col("source"), col("h"), col("doc_id"), col("ntok"),
          col("pos"))
    } else
      docs.select(col("source"), col("doc_id"),
        size(col("tok")).cast("long").as("ntok"),
        posexplode(slice(col("tok"), lit(1),
          prefixLen(size(col("tok")).cast("long")).cast("int")))
          .as(Seq("p0", "h")))
        .select(col("source"), col("h"), col("doc_id"), col("ntok"),
          (col("p0") + 1).cast("long").as("pos"))
    // Two exact prunes applied pair-wise, both BEFORE any candidate
    // becomes verify work:
    //  - length filter: J >= t forces min(|A|,|B|) >= t*max(|A|,|B|);
    //  - positional filter (the PPJoin bound, Xiao et al. 2008): overlap
    //    o >= ceil(t*(|A|+|B|)/(1+t)), and from this shared token on, at
    //    most 1 + min(|A|-posA, |B|-posB) common tokens remain. For a
    //    pair's globally-smallest shared token no earlier common token
    //    can exist, so the bound is valid there and every true pair
    //    survives via that posting; pairs admitted through a later token
    //    are a superset the exact verify kills — output is provably
    //    unchanged (property-tested against the naive oracle).
    def lengthOk(aN: Column, bN: Column): Column =
      least(aN, bN).cast("double") >=
        lit(threshold) * greatest(aN, bN) - lit(1e-9)
    def positionOk(aN: Column, aP: Column, bN: Column, bP: Column): Column =
      lit(1) + least(aN - aP, bN - bP) >=
        ceil(lit(threshold) * (aN + bN) / lit(1 + threshold) - lit(1e-9))
    //  - asymmetric index prefix (the PPJoin indexing bound): for a true
    //    pair J >= t, orient A = the (|d|, id)-lex smaller side; then
    //    |A| >= t*|B| (J >= t forces it), so the required overlap
    //    o >= ceil(t/(1+t)*(|A|+|B|)) >= ceil(2t/(1+t)*|A|), and the
    //    pair's globally-smallest shared token sits within A's first
    //    |A| - ceil(2t/(1+t)*|A|) + 1 tokens — a strictly shorter prefix
    //    than the probing t-prefix (0.25|A| vs 0.4|A| at t=0.6). Applied
    //    as a pure predicate over the SAME postings (no extra plan
    //    branch): every pair must present its shared token inside the
    //    shorter side's index prefix, or another posting of the same pair
    //    will (the guaranteed token does) — candidates shrink, output is
    //    provably unchanged (property-tested against the naive oracle).
    val tIdx = 2 * threshold / (1 + threshold)
    def idxPrefixLen(n: Column) =
      n - ceil(lit(tIdx) * n - lit(1e-9)).cast("long") + lit(1L)
    def indexPrefixOk(aN: Column, aP: Column, aId: Column,
                      bN: Column, bP: Column, bId: Column): Column =
      when(aN < bN || (aN === bN && aId < bId),
        aP <= idxPrefixLen(aN)).otherwise(bP <= idxPrefixLen(bN))
    // Pair generation splits by posting-list shape (profiled at sf0.1):
    //  - df-ordered (word tokens): posting lists are longer and skewed, so
    //    pairs come from a partition-parallel self-join — a hot token's
    //    pair expansion spreads over its probe rows instead of serializing
    //    inside one aggregation row (the in-array spelling was 2.7x slower
    //    here).
    //  - hash-ordered (shingles, df≈1): buckets are tiny and uniform, so
    //    one aggregation + in-array expansion (the q36 bucket shape) wins
    //    — one shuffle instead of two, the postings pipeline runs once,
    //    and no join machinery for 2-element buckets (1.7x faster, and
    //    the positional filter halves the candidates).
    if (dfOrdered) {
      // shuffle_hash (not the planner's broadcast pick): both sides are
      // the SAME postings subplan, so with identical hashpartitioning
      // exchanges Spark's ReuseExchange computes the whole postings
      // pipeline (scan -> tokenize -> df agg -> rank window) ONCE — a
      // broadcast join instead rebuilds it per side (profiled 2x the
      // stage cost at sf0.1). At 100 TB this is also the only honest
      // plan: prefix postings don't broadcast, and the df-ordered prefix
      // is what keeps (source, h) un-skewed (hot tokens live in the
      // un-indexed suffix), so the shuffle is safe.
      postings.hint("shuffle_hash")
        .select(col("source"), col("h"), col("doc_id").as("a_id"),
          col("ntok").as("a_n"), col("pos").as("a_p"))
        .join(postings.hint("shuffle_hash").select(col("source"), col("h"),
          col("doc_id").as("b_id"), col("ntok").as("b_n"),
          col("pos").as("b_p")), Seq("source", "h"))
        .filter(col("a_id") < col("b_id") &&
          lengthOk(col("a_n"), col("b_n")) &&
          positionOk(col("a_n"), col("a_p"), col("b_n"), col("b_p")) &&
          indexPrefixOk(col("a_n"), col("a_p"), col("a_id"),
            col("b_n"), col("b_p"), col("b_id")))
        .select(col("source"), col("a_id"), col("b_id"))
        .distinct()
    } else {
      val t = threshold
      postings
        .groupBy(col("source"), col("h"))
        .agg(array_sort(collect_list(
          struct(col("doc_id"), col("ntok"), col("pos")))).as("ds"))
        .filter(size(col("ds")) > 1)
        .select(col("source"), explode(expr(
          s"""flatten(transform(ds, (x, i) ->
             |  filter(
             |    transform(slice(ds, i + 2, size(ds)), y ->
             |      struct(x.doc_id AS a_id, y.doc_id AS b_id,
             |             x.ntok AS a_n, y.ntok AS b_n,
             |             x.pos AS a_p, y.pos AS b_p)),
             |    p ->
             |      CAST(least(p.a_n, p.b_n) AS DOUBLE) >=
             |        $t * greatest(p.a_n, p.b_n) - 1e-9
             |      AND 1 + least(p.a_n - p.a_p, p.b_n - p.b_p) >=
             |        ceil($t * (p.a_n + p.b_n) / (1 + $t) - 1e-9)
             |      AND (CASE WHEN p.a_n <= p.b_n
             |        THEN p.a_p <= p.a_n - ceil($tIdx * p.a_n - 1e-9) + 1
             |        ELSE p.b_p <= p.b_n - ceil($tIdx * p.b_n - 1e-9) + 1
             |        END))))"""
            .stripMargin)).as("p"))
        .select(col("source"), col("p.a_id").as("a_id"),
          col("p.b_id").as("b_id"))
        .distinct()
    }
  }

  /** `presentationSort = false` skips the final total ORDER BY — for
    * consumers like q71's clustering that only need the edge set, the
    * sort's range exchange is pure waste. */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double,
                         dfOrdered: Boolean = true,
                         presentationSort: Boolean = true): DataFrame = {
    val cand = prefixCandidates(docs, threshold, dfOrdered)
    val sides = docs.select(col("doc_id"), col("tok"))
    val verified = cand
      .join(sides.select(col("doc_id").as("a_id"), col("tok").as("a_tok")),
        "a_id")
      .join(sides.select(col("doc_id").as("b_id"), col("tok").as("b_tok")),
        "b_id")
      .withColumn("n_common",
        graft.functions.SortedIntersectCount.sortedIntersectCount(
          col("a_tok"), col("b_tok")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("a_tok")) + size(col("b_tok")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("source"), col("a_id"), col("b_id"),
        round(col("jaccard"), 4).as("jaccard"))
    if (presentationSort) verified.orderBy("source", "a_id", "b_id")
    else verified
  }

  /** Deterministic Zipf-vocabulary REPLACEMENT token stream — the rich
    * fixture the vocabulary-shaped contracts (q304–q309) run on. The
    * harness documents fixture has a ~31-word vocabulary, so Zipf
    * slope / hapax / Heaps structure is degenerate there (the operators
    * pass, but on a domain that can't discriminate). This regenerates
    * each document's tokens IN PLACE (same doc count, same per-doc
    * length — corpus size still tracks SF) from an exactly
    * cross-engine-computable log-uniform vocabulary: per position j,
    * m = first-8-hex of md5(doc_id:j) (the q64/q164 key-tied hash — 32
    * exact uniform bits), octave e = m mod ZipfOctaves, and the word
    * is rank r = 2^e + ((m div ZipfOctaves) mod 2^e) — within-octave
    * uniform, per-type probability (1/octaves)·2⁻ᵉ, i.e. a stair-step
    * Zipf(1) over 2^octaves − 1 potential types. INTEGER arithmetic
    * end to end (shift, mod, div — no pow/exp whose libm rounding
    * could diverge between JVM and DuckDB), so both engines regenerate
    * the identical corpus. The octave count is the slope-vs-tail dial
    * and must track the fixture's PER-SOURCE sample size (~1.4k tokens
    * at the sf0.01 gate, ~13.5k at sf0.1): simulation at N=1380 gives
    * OLS-over-all-types slope/hapax of −0.97/0.46 at 9 octaves,
    * −0.82/0.58 at 10, −0.65/0.73 at 12 — a vocabulary far above the
    * sample drowns the regression in its own count-1 plateau (exactly
    * as on real corpora sampled far below their vocabulary), which is
    * why 9 octaves (V = 511) is pinned here and why a 100 TB corpus
    * would raise the dial to 20+. The realized corpus has a frequent
    * head (rank 1 at ~1/octaves of tokens), log-log slope ≈ −1, and an
    * unsaturated tail — exactly the structure the six contracts
    * measure. Scan-local per document (one
    * nested HOF transform, no UDF); the md5-per-position cost is the
    * corpus tokenization cost, paid once per query like split().
    */
  val ZipfOctaves = 9

  val zipfTokArray: org.apache.spark.sql.Column = zipfDraws("doc_id")

  /** The Zipf regeneration both token arrays share: one md5 draw per
    * [[Tokens.words]] position j of `text`, keyed on `key` (SQL text over
    * doc_id and j) and ':' j, mapped to its octave token. The lambdas
    * stay SQL text so the plan names their variables j and m. */
  private def zipfDraws(key: String): org.apache.spark.sql.Column = {
    val positions = sequence(lit(0), size(Tokens.words(col("text"))) - 1)
    val draws = call_function("transform", positions, expr(
      s"""j -> cast(conv(substring(md5(cast(concat(cast($key as string),
        |       ':', cast(j as string)) as binary)), 1, 8), 16, 10)
        |     as bigint)""".stripMargin))
    call_function("transform", draws, expr(
      s"""m -> concat('w', cast(shiftleft(1L, cast(m % $ZipfOctaves as int))
        |       + (m div $ZipfOctaves)
        |         % shiftleft(1L, cast(m % $ZipfOctaves as int))
        |     as string))""".stripMargin))
  }

  /** The (source, t) exploded form of [[zipfTokArray]]. */
  def zipfTokens(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(zipfTokArray).as("t"))

  /** [[zipfTokArray]] with PLANTED NEAR-DUPLICATE FAMILIES — the rich
    * fixture the dedup/ANN ACCURACY contracts (q313–q315) measure on.
    * The q304–q309 re-anchor fixed the vocabulary-shaped contracts but
    * left the accuracy contracts (q250/q266/q267) on the ~31-type
    * fixture, where token-set Jaccard is saturated and the measured
    * precision/recall may not transfer. Same recipe, one addition:
    * same-source docs {a, a+20, a+40} (source = doc_id mod 20 in the
    * fixture) form a FAMILY keyed on the anchor a = doc_id − 20·((doc_id
    * div 20) mod 3); a family member draws position j from the ANCHOR's
    * md5 stream except at its own noise positions ((j + doc_id) mod 8 =
    * 0, ~12.5%), which re-key on the member itself. Members therefore
    * share most positions but keep their own lengths and noise, so the
    * realized exact-Jaccard spectrum is a realistic gradient (measured
    * at sf0.01: 168 true pairs ≥ 0.6 spread over 0.60–0.92, every
    * source ≥ 3; max non-family pair 0.31 — clean separation), instead
    * of the old domain's saturated wall. Integer-only arithmetic like
    * the base generator — both engines regenerate the identical corpus.
    */
  val zipfFamilyTokArray: org.apache.spark.sql.Column = zipfDraws(
    """CASE WHEN (j + doc_id) % 8 = 0 THEN doc_id
      |     ELSE doc_id - 20 * ((doc_id div 20) % 3) END""".stripMargin)

  /** DuckDB restatement of [[zipfFamilyTokArray]], long format (source,
    * doc_id, j, t) — the shared CTE body of the q313–q315 oracles. Same
    * embedding rule as [[ZipfTokensSql]]: no line may begin with `||`. */
  val ZipfFamilyTokensSql: String =
    s"""SELECT source, doc_id, j,
      |  'w' || CAST(((CAST(1 AS BIGINT) << (m % $ZipfOctaves))
      |    + ((m // $ZipfOctaves)
      |       % (CAST(1 AS BIGINT) << (m % $ZipfOctaves)))) AS VARCHAR)
      |    AS t
      |FROM (
      |  SELECT source, doc_id, j,
      |    CAST(('0x' || SUBSTRING(MD5(CAST(
      |        CASE WHEN (j + doc_id) % 8 = 0 THEN doc_id
      |             ELSE doc_id - 20 * ((doc_id // 20) % 3) END
      |        AS VARCHAR) || ':' ||
      |        CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) AS m
      |  FROM (SELECT source, doc_id,
      |      UNNEST(RANGE(0, LEN(STRING_SPLIT(text, ' ')))) AS j
      |    FROM documents))""".stripMargin

  /** The q34 exact-Jaccard pair CTE body over the FAMILY corpus —
    * (source, a_id, b_id) at threshold 0.6; composite oracles embed it
    * like [[Q34OracleSql]]. */
  val ZipfFamilyPairsSql: String =
    s"""SELECT source, a_id, b_id FROM (
      |  SELECT a.source, a.doc_id AS a_id, a.ntok AS a_n,
      |    b.doc_id AS b_id, b.ntok AS b_n, COUNT(*) AS n_common
      |  FROM (
      |    SELECT source, doc_id, CAST(LEN(tok) AS BIGINT) AS ntok,
      |      UNNEST(tok) AS token
      |    FROM (SELECT source, doc_id, LIST_DISTINCT(LIST(t)) AS tok
      |          FROM zft GROUP BY 1, 2)) a
      |  JOIN (
      |    SELECT source, doc_id, CAST(LEN(tok) AS BIGINT) AS ntok,
      |      UNNEST(tok) AS token
      |    FROM (SELECT source, doc_id, LIST_DISTINCT(LIST(t)) AS tok
      |          FROM zft GROUP BY 1, 2)) b
      |    ON a.source = b.source AND a.token = b.token
      |   AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4, 5)
      |WHERE CAST(n_common AS DOUBLE) / (a_n + b_n - n_common) >= 0.6""".stripMargin

  /** DuckDB restatement of [[zipfTokens]] — the shared CTE body of the
    * q304–q309 oracles (columns source, doc_id, j, t). NOTE: no line
    * here may begin with `||` — this body is re-embedded inside the
    * oracles' own stripMargin blocks, which would eat the first pipe.
    */
  val ZipfTokensSql: String =
    s"""SELECT source, doc_id, j,
      |  'w' || CAST(((CAST(1 AS BIGINT) << (m % $ZipfOctaves))
      |    + ((m // $ZipfOctaves)
      |       % (CAST(1 AS BIGINT) << (m % $ZipfOctaves)))) AS VARCHAR)
      |    AS t
      |FROM (
      |  SELECT source, doc_id, j,
      |    CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR) || ':' ||
      |        CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) AS m
      |  FROM (SELECT source, doc_id,
      |      UNNEST(RANGE(0, LEN(STRING_SPLIT(text, ' ')))) AS j
      |    FROM documents))""".stripMargin

  /** q128's census body over any (source, t) token stream. */
  def vocabGrowthOf(tokens: DataFrame): DataFrame =
    tokens
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        count(when(col("c") === 1, 1)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"),
        (col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_share"))
      .orderBy("source")

  /** q132's rank-regression body over any (source, t) token stream. */
  def zipfSlopeOf(tokens: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("c").desc, col("t").asc)
    val ranked = tokens
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(w))
      .select(col("source"),
        log(col("r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        graft.Fns.dsum18(col("x")).as("sx"),
        graft.Fns.dsum18(col("y")).as("sy"),
        graft.Fns.dsum18(col("x") * col("y")).as("sxy"),
        graft.Fns.dsum18(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_types"),
        round((col("n_types").cast("double") * col("sxy")
            - col("sx") * col("sy")) /
          (col("n_types").cast("double") * col("sxx")
            - col("sx") * col("sx")), 4).as("zipf_slope"))
      .orderBy("source")
  }

  /** q276's Chao1 body over any (source, t) token stream. */
  def chao1Of(tokens: DataFrame): DataFrame = {
    val chao1 = col("v_obs").cast("double") +
      (col("f1") * (col("f1") - lit(1L))).cast("double") /
        (lit(2.0) * (col("f2") + lit(1L)).cast("double"))
    tokens
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("v_obs"),
        count(when(col("c") === 1, 1)).as("f1"),
        count(when(col("c") === 2, 1)).as("f2"))
      .select(col("source"), col("v_obs"), col("f1"), col("f2"),
        (round(chao1, 4) + lit(0.0)).as("chao1"),
        (round(col("v_obs").cast("double") / chao1, 4) + lit(0.0))
          .as("coverage"))
      .orderBy("source")
  }

  /** q168's n-gram census body over any (source, tok ARRAY) frame. */
  def hapaxCensusOf(d: DataFrame): DataFrame = {
    // IF guards short docs: sequence(1, 0) DESCENDS in Spark, which
    // would probe element_at(tok, 0) and throw
    def gramList(n: Int): String =
      s"IF(size(tok) >= $n, transform(sequence(1, size(tok) - ${n - 1}), " +
        "i -> concat_ws(' ', " +
        (0 until n).map(j => s"element_at(tok, i + $j)").mkString(", ") +
        ")), CAST(array() AS ARRAY<STRING>))"
    val grams = d
      .select(col("source"), explode(array(
        struct(lit(2).as("n"), expr(gramList(2)).as("g")),
        struct(lit(3).as("n"), expr(gramList(3)).as("g")))).as("gn"))
      .select(col("source"), col("gn.n").as("n"),
        explode(col("gn.g")).as("gram"))
    grams.groupBy(col("source"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("c")).as("n_occurrences"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("source"), col("n"), col("n_vocab"),
        col("n_occurrences"), col("n_hapax"), col("n_dis"),
        (col("n_hapax").cast("double") / col("n_vocab").cast("double"))
          .as("hapax_vocab_share"),
        (col("n_hapax").cast("double")
          / col("n_occurrences").cast("double")).as("hapax_mass_share"))
      .orderBy("source", "n")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Edit-distance fuzzy matching under blocking keys — the third
    // near-dup family next to token-set Jaccard (q34) and embeddings
    // (q49): levenshtein is O(len²) per pair, so all-pairs is never an
    // option; candidates are blocked on (brand, first two name tokens)
    // and length-prefiltered (|len(a)-len(b)| > k implies dist > k —
    // lossless for threshold k) BEFORE the quadratic comparator runs. At
    // 100 TB the blocking key is the shuffle key and block sizes bound
    // the work — blocking granularity is the recall/cost dial every
    // production fuzzy-matcher exposes (one token: ~9 parts/block at
    // sf0.1 but quadratic creep as the table grows; two tokens holds
    // block sizes near 1).
    "q78_edit_distance" -> { (s, dir) =>
      val p = Tables.t(s, dir, "part").select(
        col("p_partkey"), col("p_brand"),
        array_join(slice(Tokens.words(col("p_name")), 1, 2), " ").as("blk"),
        col("p_name"))
      val a = p.select(col("p_brand"), col("blk"),
        col("p_partkey").as("a_key"), col("p_name").as("a_name"))
      val b = p.select(col("p_brand"), col("blk"),
        col("p_partkey").as("b_key"), col("p_name").as("b_name"))
      a.join(b, Seq("p_brand", "blk"))
        .filter(col("a_key") < col("b_key") &&
          abs(length(col("a_name")) - length(col("b_name"))) <= 12)
        .select(col("p_brand"), col("a_key"), col("b_key"),
          levenshtein(col("a_name"), col("b_name")).as("edit_dist"))
        .filter(col("edit_dist") <= 12)
        .orderBy("p_brand", "a_key", "b_key")
    },

    // Exact dedup by content hash (SURVEY.md §2.3): canonical id = min id
    // per hash — the deterministic version of dropDuplicates. At 100 TB this
    // is one shuffle on a 128-bit key; the md5 is computed scan-side.
    "q31_dedup_exact" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(
          min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("text_hash")
    },

    // Per-source Gini concentration of token mass (the Lorenz-curve
    // rank formula G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n): does a source's
    // token budget come from many balanced documents or a few huge
    // ones? The mixture-planning complement of q133's length histogram
    // and q135's token entropy — a high-Gini source's weight is carried
    // by few documents, so per-DOC quota sampling (q120/q164) and
    // per-SOURCE token budgeting (q134) disagree exactly there. Ranks
    // come from one source-keyed window (sources are high-cardinality
    // at corpus scale, so the sort parallelizes; ties in x leave Σi·x
    // invariant, doc_id tiebreak pins determinism anyway); all three
    // moments are exact longs, G is one double expression — identical
    // bits in both engines.
    "q290_source_gini" -> { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(Tokens.words(col("text"))).cast("long").as("x"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("x").asc, col("doc_id").asc)
      d.withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("x")).as("total_tokens"),
          sum(col("i") * col("x")).as("six"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          (round(lit(2.0) * col("six").cast("double") /
            (col("n_docs") * col("total_tokens")).cast("double") -
            (col("n_docs") + 1).cast("double") /
              col("n_docs").cast("double"), 6) + lit(0.0)).as("gini"))
        .orderBy("source")
    },

    // Corpus statistics per (lang, source).
    "q32_text_stats" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          davg(col("n_chars").cast("double")).as("avg_chars"),
          sum(size(Tokens.words(col("text"))).cast("long")).as("total_tokens"),
          max(col("n_chars")).as("max_chars"),
          min(col("n_chars")).as("min_chars"))
        .orderBy("lang", "source")
    },

    // Per-document quality scoring: token stats, stopword ratio, lexical
    // diversity. Ratios are exact-int divisions -> deterministic doubles.
    "q33_quality_score" -> { (s, dir) =>
      val tok = Tokens.words(col("text"))
      val g = Tokens.gate(tok)
      Tables.t(s, dir, "documents").select(
        col("doc_id"),
        col("lang"),
        size(tok).cast("long").as("n_tokens"),
        (col("n_chars").cast("double") / g.nTok).as("chars_per_token"),
        g.stopRatio.as("stopword_ratio"),
        g.distinctRatio.as("distinct_ratio"),
        g.quality.as("quality"))
        .orderBy("doc_id")
    },

    // Calibration / reliability table (Murphy 1973's decomposition
    // inputs) — the model-eval readout missing beside the data audits:
    // treat q33's quality score as a PREDICTOR of "long document"
    // (n_tokens ≥ the fixture median 56) and report, per predicted-score
    // decile, the count, exact mean prediction, observed positive rate,
    // and the bin's Brier contribution Σ(p−y)²/n_b. A well-calibrated
    // score has mean_p ≈ frac_pos per bin; the drift between them is
    // exactly the reliability term a scorer recalibration (q150) would
    // remove. Scale shape: one scan computes p and y row-local, one
    // 10-key aggregation; means ride exact-decimal sums over identical
    // doubles (p is exact-integer-ratio arithmetic in both engines).
    "q281_calibration_table" -> { (s, dir) =>
      val tok = Tokens.words(col("text"))
      val p = Tokens.gate(tok).quality
      Tables.t(s, dir, "documents")
        .select(p.as("p"),
          when(size(tok) >= 56, 1L).otherwise(0L).as("y"))
        .withColumn("bin", least(floor(col("p") * 10), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          Fns.dsum18(col("p")).as("sp"),
          sum(col("y")).as("ny"),
          Fns.dsum18((col("p") - col("y").cast("double")) *
            (col("p") - col("y").cast("double"))).as("sb"))
        .select(col("bin"), col("n"),
          (round(col("sp") / col("n").cast("double"), 6) + lit(0.0))
            .as("mean_p"),
          (round(col("ny").cast("double") / col("n").cast("double"), 6)
            + lit(0.0)).as("frac_pos"),
          (round(col("sb") / col("n").cast("double"), 6) + lit(0.0))
            .as("bin_brier"))
        .orderBy("bin")
    },

    // Cohen's kappa (1960) between two rule annotators — the
    // inter-annotator agreement readout a labeling pipeline computes
    // before trusting ANY quality rule as ground truth: chance-corrected
    // agreement κ = (p_o − p_e)/(1 − p_e) from the exact 2×2 confusion
    // counts. Annotator A is the corpus-prep gate's composite-quality
    // rule (q85's threshold), annotator B an independent stopword-only
    // rule (stop_ratio ≤ the fixture median 0.06); raw agreement alone
    // would overstate their consistency — κ is the honest number.
    // One scan labels row-local, one aggregation; p_o/p_e/κ are a few
    // IEEE ops on exact longs, identical in both engines.
    "q282_cohens_kappa" -> { (s, dir) =>
      val g = Tokens.gate(Tokens.words(col("text")))
      val m = Tables.t(s, dir, "documents")
        .select(when(g.quality >= 0.72, 1L).otherwise(0L).as("a"),
          when(g.stopRatio <= 0.06, 1L).otherwise(0L).as("b"))
        .agg(count(lit(1)).as("n"),
          sum(col("a") * col("b")).as("n11"),
          sum(col("a") * (lit(1L) - col("b"))).as("n10"),
          sum((lit(1L) - col("a")) * col("b")).as("n01"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      val nD = col("n").cast("double")
      val po = (col("n11") + col("n00")).cast("double") / nD
      val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
        (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .cast("double") / (nD * nD)
      m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        (round(po, 6) + lit(0.0)).as("p_observed"),
        (round(pe, 6) + lit(0.0)).as("p_expected"),
        (round((po - pe) / (lit(1.0) - pe), 6) + lit(0.0)).as("kappa"))
    },

    // Sparse TF-IDF cosine similarity join over 5-token shingles — the
    // term-vector complement of q131's set-grain weighted Jaccard: docs
    // are tf·idf vectors in shingle space (idf = ln((N+1)/(df+1))) and
    // pairs score by exact cosine. Blocking is the rare-term inverted
    // index (Bayardo et al. 2007's df-pruning intuition): candidate pairs
    // share at least one shingle with 2 ≤ df ≤ 5, so per-shingle fan-out
    // is ≤ C(5,2) and candidates stay corpus-linear (near-dup shingles
    // are rare by construction at any corpus size; single TOKENS would be
    // a vacuous block here — the fixture vocabulary is 31 words, every
    // token's df is huge — and a hot-token block is the all-pairs
    // quadratic this shape exists to avoid). The scored dot product runs
    // over ALL shared shingles of each candidate (pair-keyed joins onto
    // the one checkpointed weighted-postings frame — |pairs|×|doc| rows,
    // never doc×doc); norms and weights carry [[Fns.dsum18]] exact-
    // decimal sums so the cosine is one IEEE divide of identical doubles
    // in both engines (LN bit-compat as in q214's Adamic-Adar).
    "q293_tfidf_cosine" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val ts = Tokens.words(col("text"))
      val post = docs
        .filter(size(ts) >= 5)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(ts) - lit(5)),
            (i: Column) => concat_ws(" ", slice(ts, i + lit(1), lit(5)))))
            .as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("tf"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val idf = post.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select(col("g"), col("df"),
          log((col("n_docs") + 1).cast("double") /
            (col("df") + 1).cast("double")).as("idf"))
      // one materialization feeds norms, the rare-shingle block, and
      // both sides of the pair-keyed scoring join
      val w = post.join(idf, "g")
        .select(col("doc_id"), col("g"), col("df"),
          (col("tf").cast("double") * col("idf")).as("w"))
        .transform(graft.Checkpoints.ckpt)
      val norms = w.groupBy(col("doc_id"))
        .agg(sqrt(graft.Fns.dsum18(col("w") * col("w"))).as("nrm"))
      val rare = w.filter(col("df").between(2, 5))
        .select(col("g"), col("doc_id"))
      val pairs = rare
        .join(rare.withColumnRenamed("doc_id", "b_id"), "g")
        .filter(col("doc_id") < col("b_id"))
        .select(col("doc_id").as("a_id"), col("b_id")).distinct()
      val dot = pairs
        .join(w.select(col("doc_id").as("a_id"), col("g"),
          col("w").as("wa")), "a_id")
        .join(w.select(col("doc_id").as("b_id"), col("g"),
          col("w").as("wb")), Seq("b_id", "g"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_shared"),
          graft.Fns.dsum18(col("wa") * col("wb")).as("dot"))
      // w stays checkpointed for the caller's execution (the returned
      // plan reads it three ways; freeing here would tear its blocks
      // out from under the lazy result)
      dot
        .join(norms.select(col("doc_id").as("a_id"),
          col("nrm").as("na")), "a_id")
        .join(norms.select(col("doc_id").as("b_id"),
          col("nrm").as("nb")), "b_id")
        .select(col("a_id"), col("b_id"), col("n_shared"),
          (round(col("dot") / (col("na") * col("nb")), 6) + lit(0.0))
            .as("cosine"))
        .orderBy("a_id", "b_id")
    },

    // Document fingerprint: canonical form (lowercase, collapsed whitespace)
    // -> md5; short prefix as a shard/bucket key.
    "q35_fingerprint" -> { (s, dir) =>
      val normd = lower(Tokens.collapse(col("text")))
      Tables.t(s, dir, "documents").select(
        col("doc_id"),
        md5(normd.cast("binary")).as("fingerprint"),
        substring(md5(normd.cast("binary")), 1, 8).as("fp_bucket"))
        .orderBy("doc_id")
    },

    // Exact token-set Jaccard near-dup pairs within a source, via a
    // prefix-filtered inverted index ([[prefixJaccardPairs]]): identical
    // output to the naive posting self-join (the oracle SQL still states
    // that semantics) without its quadratic hot-token term. Tokens join as
    // 64-bit hashes so the verify step can use the fused sorted-intersect
    // expression. The probabilistic MinHash/LSH variant is q36.
    "q34_jaccard_pairs" -> { (s, dir) =>
      prefixJaccardPairs(Tokens.tokenSets(Tables.t(s, dir, "documents")),
        DedupQueries.NearDupJaccard)
    },

    // Word count via explode — the Generator/UDTF surface (SURVEY.md §2.2):
    // built-in generators subsume custom UDTFs for tokenization.
    "q53_token_freq" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "token")
    },

    // TF-IDF as groupBy + join (SURVEY.md §2.3): tf per (doc, token), df per
    // token, corpus size via a broadcast 1-row aggregate (no driver-side
    // count action).
    "q51_tfidf" -> { (s, dir) =>
      val tok = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(Tokens.words(col("text"))).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tok.groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = Tables.t(s, dir, "documents").agg(count(lit(1)).as("n"))
      tf.join(df, "token")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 4)
            .as("tfidf"))
        .orderBy("doc_id", "token")
    },

    // n-gram (3-shingle) Jaccard near-dup pairs — the order-sensitive
    // variant of q34: token-set-identical docs in different order score low
    // here. Same prefix-filtered shape over distinct shingle hashes
    // ([[prefixJaccardPairs]]); shingles are long and high-cardinality, so
    // fixed-width 64-bit keys also shrink the shuffle payload. The
    // shingle set itself is built by the fused ShingleHashes expression —
    // one scan-local pass per document (bit-equal to the HOF
    // slice/join/hash spelling, asserted in FusedExprPropertiesSpec)
    // instead of interpreted lambdas that re-slice the token array per
    // shingle.
    "q50_shingle_jaccard" -> { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.ShingleHashes.shingleHashes(col("text"), 3)
            .as("tok"))
        .filter(size(col("tok")) >= 1) // docs with < 3 tokens have no shingles
      // hash-ordered prefix: shingle df ≈ 1, so the df aggregation would
      // only add plan branches that re-evaluate the shingle arrays
      prefixJaccardPairs(d, 0.4, dfOrdered = false)
    },

    // Language-ID by character-trigram profile scoring — the actual
    // n-gram mechanism (textcat-style): slide a 3-char window over the
    // lowercased text, count hits against each language's trigram profile,
    // argmax with a fixed tie-break. The window slides INSIDE the row via
    // the native TrigramProfileHits expression — one scan-local pass, one
    // hash probe per position, all profiles at once. This retired the
    // generator + aggregation formulation (which exploded ~length(text)
    // rows per document into a doc_id shuffle, the round-2 bench's #4
    // query) and the even older pure-HOF spelling (9x slower again:
    // CollapseProject re-evaluates the trigram array per profile).
    // Subexpression elimination evaluates the hits array once for all
    // four output references.
    "q72_langid_ngram" -> { (s, dir) =>
      // profiles over the fixture's vocabulary: common trigrams with the
      // space context that distinguishes function words from substrings
      val hits = graft.functions.TrigramProfileHits.trigramProfileHits(
        lower(col("text")),
        Seq(Seq("the", "he ", " th", "of ", "and"),
            Seq("tab", "row", " ro", "le "),
            Seq("dat", "val", " va", "ta ")))
      val gEn = hits.getItem(0)
      val gDa = hits.getItem(1)
      val gEs = hits.getItem(2)
      val top = greatest(gEn, gDa, gEs)
      Tables.t(s, dir, "documents").select(
          col("doc_id"), col("lang"),
          gEn.as("g_en"), gDa.as("g_da"), gEs.as("g_es"),
          when(gEn >= top, "en").when(gDa >= top, "da")
            .otherwise("es").as("pred_lang"))
        .orderBy("doc_id")
    },

    // Language-ID by marker-token profile scoring: count hits per language
    // profile, predict the argmax with a fixed tie-break order. The
    // char-n-gram variant is q72; the mechanism here (profile score
    // -> argmax, one scan, no shuffle) is identical.
    "q42_langid" -> { (s, dir) =>
      val tok = Tokens.words(col("text"))
      def score(words: Seq[String]): Column =
        size(filter(tok, (t: Column) => t.isInCollection(words))).cast("long")
      val sEn = score(Seq("the", "a", "of"))
      val sDe = score(Seq("table", "row"))
      val sEs = score(Seq("data", "value"))
      val sFr = score(Seq("filter", "join"))
      val sZh = score(Seq("spark", "vector"))
      val top = greatest(sEn, sDe, sEs, sFr, sZh)
      Tables.t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        sEn.as("s_en"), sDe.as("s_de"), sEs.as("s_es"),
        sFr.as("s_fr"), sZh.as("s_zh"),
        when(sDe >= top, "de").when(sEn >= top, "en")
          .when(sEs >= top, "es").when(sFr >= top, "fr")
          .otherwise("zh").as("pred_lang"))
        .orderBy("doc_id")
    },

    // Collocation mining via pointwise mutual information (the word2vec-
    // phrases / NLTK collocation statistic): adjacent-bigram counts
    // against unigram marginals, PMI = ln(p(x,y) / (p(x)p(y))). Bigrams
    // expand scan-locally from the materialized token array (one struct
    // per adjacent pair — no self-join, no window over the token stream);
    // both aggregations shuffle VOCABULARY-sized keys, never corpus-sized
    // rows, and the corpus totals ride in as broadcast 1-row tables. The
    // count ratio is built from exact int64 counts cast to double in one
    // fixed operation order, so the rounded PMI is cross-engine
    // deterministic (q51's LN + ROUND precedent) — EXCEPT the sign of
    // zero: for a bigram whose PMI rounds to zero from below, DuckDB's
    // ROUND (std::round(x*1e4)/1e4) yields IEEE -0.0 while Spark's
    // BigDecimal-based round yields +0.0, one bit apart at the hash
    // layer. `+ 0.0` on both sides is the IEEE identity that folds
    // -0.0 to +0.0 and leaves every other value untouched. min-count 5
    // mirrors the standard collocation support floor.
    "q102_bigram_pmi" -> { (s, dir) =>
      val pairs = Tables.t(s, dir, "documents")
        .select(Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tok) - 1), " +
            "i -> named_struct('x', element_at(tok, i), " +
            "'y', element_at(tok, i + 1)))")).as("bg"))
        .select(col("bg.x").as("x"), col("bg.y").as("y"))
      val cxy = pairs.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      val uni = Tables.t(s, dir, "documents")
        .select(explode(Tokens.words(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val n1 = uni.agg(sum(col("c")).as("n1"))
      val n2 = cxy.agg(sum(col("c_xy")).as("n2"))
      cxy.filter(col("c_xy") >= 5)
        .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
        .join(uni.select(col("t").as("y"), col("c").as("c_y")), "y")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("x"), col("y"), col("c_xy"),
          (round(log(
            (col("c_xy").cast("double") * col("n1").cast("double")
              * col("n1").cast("double")) /
            (col("n2").cast("double") * col("c_x").cast("double")
              * col("c_y").cast("double"))), 4) + lit(0.0)).as("pmi"))
        .orderBy("x", "y")
    },

    // Context-window co-occurrence PMI — q102's statistic over the
    // word2vec-style ±3 window instead of adjacent bigrams (Church &
    // Hanks' association ratio; the input to PPMI embedding matrices).
    // The (center, context) pairs expand scan-locally as a nested
    // transform over the materialized token array — window size bounds
    // the expansion at 3× tokens, no self-join, no window function over
    // the token stream — and everything downstream shuffles
    // VOCABULARY-sized keys exactly like q102 (same broadcast totals,
    // same exact-int ratio into one LN, same 4-decimal round, same -0.0
    // fold).
    "q117_window_pmi" -> { (s, dir) =>
      val pairs = Tables.t(s, dir, "documents")
        .select(Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(explode(expr(
          "flatten(transform(sequence(1, size(tok) - 1), " +
            "i -> transform(sequence(i + 1, least(i + 3, size(tok))), " +
            "j -> named_struct('x', element_at(tok, i), " +
            "'y', element_at(tok, j)))))")).as("pr"))
        .select(col("pr.x").as("x"), col("pr.y").as("y"))
      val cxy = pairs.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      val uni = Tables.t(s, dir, "documents")
        .select(explode(Tokens.words(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val n1 = uni.agg(sum(col("c")).as("n1"))
      val n2 = cxy.agg(sum(col("c_xy")).as("n2"))
      cxy.filter(col("c_xy") >= 5)
        .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
        .join(uni.select(col("t").as("y"), col("c").as("c_y")), "y")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("x"), col("y"), col("c_xy"),
          (round(log(
            (col("c_xy").cast("double") * col("n1").cast("double")
              * col("n1").cast("double")) /
            (col("n2").cast("double") * col("c_x").cast("double")
              * col("c_y").cast("double"))), 4) + lit(0.0)).as("pmi"))
        .orderBy("x", "y")
    },

    // Bigram language-model document scoring — the CCNet/perplexity
    // filtering move: train an add-1-smoothed bigram LM on the corpus
    // itself, score every document by its mean bigram log-probability
    // (low score = improbable token sequences = gibberish/boilerplate).
    // The MODEL is vocabulary-sized: unigram and bigram counts enrich
    // into one (x, y, logp) table before any corpus-sized row touches a
    // join — at fixture scale that table broadcasts; at 100 TB it
    // becomes a vocab-keyed shuffle join, never an all-pairs term.
    // Determinism is the q106 recipe: each term's logp is one LN of an
    // exact-int ratio (identical bits both engines), summed through the
    // scale-18 decimal so partitioning can't reorder doubles, divided by
    // the exact bigram count, rounded at 4. Scores are strictly negative
    // in practice (every smoothed probability < 1), but a mean in
    // (-0.00005, 0) would round to -0.0 vs +0.0 across engines — the same
    // one-bit hash divergence q102/q117 guard against — so the free
    // `+ 0.0` fold is applied on both sides anyway.
    "q119_bigram_lm" -> { (s, dir) =>
      val bg = Tables.t(s, dir, "documents")
        .select(col("doc_id"), Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tok) - 1), " +
            "i -> named_struct('x', element_at(tok, i), " +
            "'y', element_at(tok, i + 1)))")).as("bg"))
        .select(col("doc_id"), col("bg.x").as("x"), col("bg.y").as("y"))
      val uni = Tables.t(s, dir, "documents")
        .select(explode(Tokens.words(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val v = uni.agg(count(lit(1)).as("v"))
      val model = bg.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("c_xy"))
        .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
        .crossJoin(broadcast(v))
        .select(col("x"), col("y"),
          log((col("c_xy") + 1).cast("double") /
            (col("c_x") + col("v")).cast("double")).as("logp"))
      bg.join(model, Seq("x", "y"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          graft.Fns.dsum18(col("logp")).as("sum_logp"))
        .select(col("doc_id"), col("n_bigrams"),
          (round(col("sum_logp") / col("n_bigrams").cast("double"), 4)
            + lit(0.0)).as("mean_logp"))
        .orderBy("doc_id")
    },

    // Tokenizer fertility — the budgeting constant every training run
    // needs per language/source: subword pieces per whitespace word
    // (fertility) and chars per piece, under the q68 BPE pre-tokenizer
    // split. A corpus whose fertility drifts between sources tokenizes to
    // very different sequence lengths for the same text volume — this is
    // the per-slice conversion table from raw bytes to token budget.
    // Scale shape: every count is scan-local (two regex/split sizes per
    // row); one #slices-sized aggregation, ratios as single IEEE
    // divisions of exact longs — deterministic in both engines.
    "q126_token_fertility" -> { (s, dir) =>
      val pat = " ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+" +
        "|[ \\t\\n\\f\\r]+"
      val pieces = size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long")
      val words = size(Tokens.words(col("text"))).cast("long")
      Tables.t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(words).as("n_words"),
          sum(pieces).as("n_pieces"),
          sum(col("n_chars")).as("total_chars"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
          col("n_pieces"),
          (col("n_pieces").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          (col("total_chars").cast("double") / col("n_pieces").cast("double"))
            .as("chars_per_piece"))
        .orderBy("lang", "source")
    },

    // Vocabulary growth census — the Heaps/Zipf diagnostic per source:
    // type count (distinct tokens), token count, type-token ratio, and
    // hapax share (tokens seen exactly once — the long-tail mass a
    // tokenizer's vocab-size choice trades against). Template/boilerplate
    // sources show depressed TTR and hapax share; genuinely novel text is
    // hapax-heavy. Scale shape: one (source, token) count aggregation —
    // vocabulary-sized shuffle, never corpus-sized — then a #sources-row
    // rollup; ratios are exact-long IEEE divisions.
    "q128_vocab_growth" -> { (s, dir) =>
      vocabGrowthOf(Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("t")))
    },

    // q128's census on the Zipf-regenerated corpus ([[zipfTokArray]]):
    // the same contract over a domain where it discriminates — hapax
    // share comes out far from 0 and TTR tracks Heaps growth, where the
    // ~31-word harness vocabulary pins both near degenerate constants.
    "q304_zipf_vocab_growth" -> { (s, dir) =>
      vocabGrowthOf(zipfTokens(Tables.t(s, dir, "documents")))
    },

    // IDF-weighted Jaccard — near-dup scoring where RARE shared tokens
    // count for more: two docs sharing distinctive vocabulary are closer
    // than two sharing stopwords at the same unweighted overlap (the
    // weighted-MinHash motivation, Ioffe 2010, computed exactly on q34's
    // pair set). wj = sum(idf over shared) / sum(idf over union), with
    // idf = ln((N+1)/(df+1)). Scale shape: the pair set comes from the
    // PPJoin (never all-pairs), each doc's weighted token set rides as ONE
    // sorted array column, and shared/total idf masses are computed
    // scan-locally per pair row by the fused
    // [[graft.functions.SortedWeightedIntersectSum]] merge (a postings
    // re-join spelling paid two pair x token shuffles and ran 5x slower;
    // an array_intersect + decimal-fold HOF spelling ran interpreted and
    // re-executed under the sort's range sampling). Exactness: each
    // token's DECIMAL(27,18) idf is split into (int, frac-in-1e-18) longs
    // by exact-decimal casts below — every step keeps scale 18 (or 9) with
    // precision headroom, so nothing rounds — and the kernel's carry
    // arithmetic reproduces the oracle's order-independent DECIMAL(38,18)
    // sum bit-for-bit.
    "q131_weighted_jaccard" -> { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val giga = lit(1000000000L).cast("decimal(10,0)")
      val idf = docs.select(explode(array_distinct(transform(
          Tokens.words(col("text")), (t: Column) => xxhash64(t)))).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select(col("h"),
          log((col("n_docs") + 1).cast("double") /
            (col("df") + 1).cast("double")).cast("decimal(27,18)").as("d"))
        // exact (ip, fr) split: ip truncates toward zero (idf >= 0, so it
        // is the floor); the 18 fractional digits leave as two exact
        // 9-digit limbs
        .withColumn("ip", col("d").cast("bigint"))
        .withColumn("fd",
          (col("d") - col("ip").cast("decimal(27,18)"))
            .cast("decimal(19,18)"))
        .withColumn("f9hi", col("fd") * giga)
        .withColumn("hi9", col("f9hi").cast("bigint"))
        .withColumn("rem9",
          (col("f9hi") - col("hi9").cast("decimal(30,18)"))
            .cast("decimal(10,9)"))
        .withColumn("low9", (col("rem9") * giga).cast("bigint"))
        .select(col("h"), col("ip"),
          (col("hi9") * lit(1000000000L) + col("low9")).as("fr"))
      val wtok = docs.select(col("doc_id"),
          explode(array_distinct(transform(Tokens.words(col("text")),
            (t: Column) => xxhash64(t)))).as("h"))
        .join(idf, "h")
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("h"), col("ip"), col("fr"))))
          .as("wt"))
        .withColumn("w", graft.functions.SortedWeightedIntersectSum
          .weightedIntersectSum(col("wt"), col("wt")))
      DedupQueries.nearDupPairs(docs)
        .select(col("source"), col("a_id"), col("b_id"))
        .join(wtok.select(col("doc_id").as("a_id"), col("wt").as("a_wt"),
          col("w").as("a_w")), "a_id")
        .join(wtok.select(col("doc_id").as("b_id"), col("wt").as("b_wt"),
          col("w").as("b_w")), "b_id")
        .withColumn("inter_w", graft.functions.SortedWeightedIntersectSum
          .weightedIntersectSum(col("a_wt"), col("b_wt")))
        .select(col("source"), col("a_id"), col("b_id"),
          round(col("inter_w") / (col("a_w") + col("b_w") - col("inter_w")),
            4).as("weighted_jaccard"))
        .orderBy("source", "a_id", "b_id")
    },

    // Zipf slope — the one-number lexical-diversity fingerprint per
    // source: OLS slope of ln(freq) on ln(rank) over the source's
    // vocabulary (natural text sits near -1; templated/boilerplate
    // sources flatten, spam steepens). Scale shape: token counts are a
    // vocabulary-sized shuffle, the rank window partitions by source over
    // vocabulary rows (never corpus rows), and the regression reduces to
    // five exact dsum18 moments — the slope is then pure IEEE arithmetic
    // on identical doubles in both engines.
    "q132_zipf_slope" -> { (s, dir) =>
      zipfSlopeOf(Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("t")))
    },

    // q132 on the Zipf-regenerated corpus: the regression must recover
    // a slope near the generator's designed −1 (stair-step log-uniform)
    // — a discriminating anchor where the harness corpus' ~31 types
    // make the fit near-meaningless.
    "q305_zipf_slope_rich" -> { (s, dir) =>
      zipfSlopeOf(zipfTokens(Tables.t(s, dir, "documents")))
    },

    // Per-document keyword extraction — the top-3 TF-IDF terms per doc
    // (the classic retrieval-free summarizer / routing signal). Rides
    // q51's exact tf/df/n spine; the per-doc rank is a window over each
    // doc's OWN term rows (doc-sized partitions, never corpus-wide), and
    // it compares UNROUNDED scores with a token tie-break, so both
    // engines rank identically (the q129 unrounded-cosine precedent) and
    // only the emitted score is grid-rounded.
    "q141_doc_keywords" -> { (s, dir) =>
      val tok = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(Tokens.words(col("text"))).as("token"))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tok.groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = Tables.t(s, dir, "documents").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token").asc)
      tf.join(df, "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          col("tf") * log(col("n").cast("double") / col("df")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"),
          round(col("tfidf"), 4).as("tfidf"))
        .orderBy("doc_id", "rnk")
    },

    // Bigram conditional entropy H(next | current) per source — the
    // sequence-level predictability fingerprint completing the text-stats
    // family (q135 unigram entropy, q102 association strength, q119 LM
    // fit): templated/boilerplate sources have few continuations per
    // context (low H), diverse prose many (high H).
    // H(Y|X) = -Σ_{x,y} p(x,y) ln(c_xy / c_x). Scale shape: bigrams
    // expand scan-locally (q102's transform — no window function over the
    // token stream), counts shuffle bigram-vocabulary keys once; the
    // per-context and per-source totals are windows OVER those count rows
    // (q106's one-pass trick — never a second corpus pass), and the
    // summands reduce through the exact-decimal sum.
    "q142_conditional_entropy" -> { (s, dir) =>
      val pairs = Tables.t(s, dir, "documents")
        .select(col("source"), Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(tok) - 1), " +
            "i -> named_struct('x', element_at(tok, i), " +
            "'y', element_at(tok, i + 1)))")).as("bg"))
        .select(col("source"), col("bg.x").as("x"), col("bg.y").as("y"))
      val cxy = pairs.groupBy(col("source"), col("x"), col("y"))
        .agg(count(lit(1)).as("c_xy"))
      val wX = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("x"))
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      val p = col("c_xy").cast("double") / col("n_s").cast("double")
      val cond = col("c_xy").cast("double") / col("c_x").cast("double")
      cxy
        .withColumn("c_x", sum(col("c_xy")).over(wX))
        .withColumn("n_s", sum(col("c_xy")).over(wS))
        .select(col("source"), col("n_s"), (-p * log(cond)).as("summand"))
        .groupBy(col("source"), col("n_s").as("n_bigrams"))
        .agg(graft.Fns.dsum18(col("summand")).as("h_cond"))
        .select(col("source"), col("n_bigrams"), col("h_cond"))
        .orderBy("source")
    },

    // Token burstiness (Fano factor): variance-to-mean ratio of a token's
    // per-document counts, over the documents that contain it (Church &
    // Gale's burstiness) — content words cluster (b >> 1), function words
    // spread evenly (b ≈ their mean-adjusted floor); the signal keyword
    // extractors and stopword inducers split on. All moments are exact
    // int64 sums of the (token, doc) count table, so the ratio is a chain
    // of deterministic IEEE ops on identical doubles — no rounding needed
    // (the davg argument). Scale: one (token, doc) aggregation, one
    // token-keyed aggregation — vocabulary-sized shuffles only.
    "q144_burstiness" -> { (s, dir) =>
      val df = col("df").cast("double")
      val mean = col("tf").cast("double") / df
      val fano = (col("s2").cast("double") / df - mean * mean) / mean
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(Tokens.words(col("text"))).as("t"))
        .groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
          sum(col("c") * col("c")).as("s2"))
        .filter(col("df") >= 10)
        .select(col("t"), col("df"), col("tf"), fano.as("burstiness"))
        .orderBy("t")
    },

    // Cross-source score calibration — the step between per-doc quality
    // scoring (q33) and a single global admission threshold: raw scores
    // are not comparable across sources (a boilerplate-heavy source's
    // median sits far below a clean one's), so each doc gets its
    // PERCENT_RANK within its source — the calibrated [0,1] coordinate a
    // corpus-wide "keep top X%" policy actually cuts on (per-slice
    // quantile normalization, the CCNet/FineWeb bucketing trick). Scale
    // shape: quality is scan-local (q33's expressions); the only shuffle
    // is the per-source rank window — source cardinality bounds the
    // partition count and AQE splits a skewed source's sort. percent_rank
    // is (rank-1)/(n-1) off bit-identical quality doubles (q33 is oracle-
    // green), so ranks agree exactly; the division of exact longs is one
    // IEEE op.
    "q150_score_calibrate" -> { (s, dir) =>
      val quality = Tokens.gate(Tokens.words(col("text"))).quality
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality"), col("doc_id"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), quality.as("quality"))
        .withColumn("calibrated", percent_rank().over(w))
        .select(col("doc_id"), col("source"), col("quality"),
          col("calibrated"))
        .orderBy("doc_id")
    },

    // Per-source quality profile — the distribution summary next to
    // q150's per-doc calibration: quartiles + exact-decimal mean of the
    // q33 quality score per source, the table a mixture planner reads to
    // see WHICH sources are quality-bimodal before setting per-source
    // admission cuts. Scale shape: the score is scan-local; one exact
    // percentile aggregation per source (the q56 QUANTILE_CONT pattern —
    // both engines interpolate identically over bit-identical score
    // doubles); #sources rows out.
    "q158_source_quality_profile" -> { (s, dir) =>
      val quality = Tokens.gate(Tokens.words(col("text"))).quality
      Tables.t(s, dir, "documents")
        .select(col("source"), quality.as("quality"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(quality, 0.25)"), 4).as("q25"),
          round(expr("percentile(quality, 0.5)"), 4).as("median"),
          round(expr("percentile(quality, 0.75)"), 4).as("q75"),
          (round(graft.Fns.dsum18(col("quality")) /
            count(lit(1)).cast("double"), 6) + lit(0.0)).as("mean_quality"))
        .orderBy("source")
    },

    // Language-label audit — the confusion matrix between the DECLARED
    // lang column and q42's marker-token prediction: per (declared,
    // predicted) cell, count and within-declared share. Mislabeled
    // slices (a "da"-declared source predicting mostly "en") are the
    // label-noise a lang-filtered training mix silently inherits — this
    // is the QA table read before trusting the lang column at all.
    // Scale shape: the prediction is q42's scan-local profile argmax;
    // one #langs²-key aggregation; shares as a window over those
    // matrix-sized rows.
    "q163_langid_confusion" -> { (s, dir) =>
      val tok = Tokens.words(col("text"))
      def score(words: Seq[String]): Column =
        size(filter(tok, (t: Column) => t.isInCollection(words))).cast("long")
      val sEn = score(Seq("the", "a", "of"))
      val sDe = score(Seq("table", "row"))
      val sEs = score(Seq("data", "value"))
      val sFr = score(Seq("filter", "join"))
      val sZh = score(Seq("spark", "vector"))
      val top = greatest(sEn, sDe, sEs, sFr, sZh)
      val wL = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
      Tables.t(s, dir, "documents")
        .select(col("lang"),
          when(sDe >= top, "de").when(sEn >= top, "en")
            .when(sEs >= top, "es").when(sFr >= top, "fr")
            .otherwise("zh").as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", col("n").cast("double") /
          sum(col("n")).over(wL).cast("double"))
        .orderBy("lang", "pred_lang")
    },

    // Hapax-legomena census (Baayen's vocabulary-richness tail) at
    // bigram and trigram order: per source and order, how much of the
    // gram vocabulary occurs exactly once (and exactly twice). q128
    // already reads the unigram hapax point; on a closed synthetic
    // vocabulary that saturates near zero — the n-gram orders are where
    // the rarity tail actually lives, and the ORDER-over-order growth of
    // hapax share is the richness curve an LM's context-length appetite
    // cares about (q145's top-k coverage measures the HEAD; this is the
    // TAIL). Scale shape: gram building is scan-local (transform over
    // the token array, no self-join), counts are one corpus-sized
    // (source, n, gram) aggregation, the census is one vocabulary-sized
    // rollup to #sources×2 rows. Shares are single IEEE divisions of
    // exact longs.
    // Chao1 unseen-vocabulary estimate (Chao 1984, bias-corrected form):
    // V̂ = V + F1(F1−1)/(2(F2+1)) from the hapax (F1) and dis legomena
    // (F2) counts — the capture-recapture answer to "has this source's
    // vocabulary SATURATED, or does more crawl buy new tokens?" The
    // coverage ratio V/V̂ is the per-source stop-crawling signal q128's
    // raw hapax share only hints at. One token aggregation (q128's
    // counts — map-side combinable, vocabulary-sized shuffle), integer
    // F1/F2, one double expression identical in both engines.
    "q276_chao1_vocab" -> { (s, dir) =>
      chao1Of(Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("t")))
    },

    // q276 on the Zipf-regenerated corpus: F1/F2 are large and the
    // Chao1 estimate sits well above V_obs (coverage < 1 — the
    // unsaturated-vocabulary regime the estimator exists for), where
    // the harness corpus saturates its 31 types and degenerates to
    // coverage 1.
    "q309_zipf_chao1" -> { (s, dir) =>
      chao1Of(zipfTokens(Tables.t(s, dir, "documents")))
    },

    "q168_hapax_census" -> { (s, dir) =>
      hapaxCensusOf(Tables.t(s, dir, "documents")
        .select(col("source"), Tokens.words(col("text")).as("tok")))
    },

    // q168 on the Zipf-regenerated corpus: with ~500 unigram types the
    // bigram space alone is ~260k — far above the sample, so the
    // n-gram hapax shares land near 1 (novel-text regime) instead of
    // the template-corpus floor the 31-type fixture produces.
    "q308_zipf_hapax" -> { (s, dir) =>
      hapaxCensusOf(Tables.t(s, dir, "documents")
        .select(col("source"), zipfTokArray.as("tok")))
    },

    // Feature-hashing doc embeddings (Weinberger et al. 2009 — the
    // Vowpal-Wabbit trick): each token maps to a ±1 sign per dimension
    // read off its md5 bytes, and a document's vector is the
    // count-weighted signed sum — a dense, model-free embedding whose
    // cosine approximates token-profile similarity, built without any
    // trained weights (the representation the similarity family
    // (q38/q84) consumes when no neural embedding exists yet). 16 dims
    // ride ONE md5 per distinct token: the per-(token, dim) sign table
    // is VOCABULARY-sized and broadcast — the realistic shape, since the
    // hash table IS the "model" and the corpus never rehashes a token
    // per occurrence. Components are exact-long sums; the norm is one
    // sqrt of an exact sum; the vector ships as CSV (the q83/q57
    // serialization rule).
    "q180_feature_hash" -> { (s, dir) =>
      val nd = 16
      val tf = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(Tokens.words(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      val signs = tf.select(col("t")).distinct()
        .withColumn("h", md5(col("t").cast("binary")))
        .select(col("t"), explode(expr(
          s"""transform(sequence(0, ${nd - 1}), j -> named_struct(
             |'j', j,
             |'sgn', CAST(conv(substring(h, 1 + 2 * j, 2), 16, 10) AS LONG)
             |       % 2L * 2L - 1L))""".stripMargin)).as("js"))
        .select(col("t"), col("js.j").as("j"), col("js.sgn").as("sgn"))
      tf.join(broadcast(signs), "t")
        .groupBy(col("doc_id"), col("j"))
        .agg(sum(col("c") * col("sgn")).as("v"))
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("j"), col("v"))))
          .as("jv"), sum(col("v") * col("v")).as("sq"))
        .select(col("doc_id"),
          array_join(expr("transform(jv, s -> CAST(s.v AS STRING))"), ",")
            .as("vec"),
          round(sqrt(col("sq").cast("double")), 4).as("norm"))
        .orderBy("doc_id")
    },

    // Collocation-graph communities: q102's high-PMI bigrams become
    // edges of a WORD graph and connected components label its
    // communities — the phrase-cluster readout (multiword expressions,
    // domain jargon groups) that tells a tokenizer team which strings
    // deserve merged tokens. The third consumer of the CC kernel proves
    // it generic over node type (docs in q71, vec_ids in q170, STRINGS
    // here — min-label works on any ordered key). Scale shape: the
    // graph is VOCABULARY-sized (pairs already aggregated), so the
    // propagation loop runs over vocab-row frames; thresholds reuse
    // q102's engine-identical rounded PMI.
    "q183_word_communities" -> { (s, dir) =>
      val pairs = Tables.t(s, dir, "documents")
        .select(Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tok) - 1), " +
            "i -> named_struct('x', element_at(tok, i), " +
            "'y', element_at(tok, i + 1)))")).as("bg"))
        .select(col("bg.x").as("x"), col("bg.y").as("y"))
      val cxy = pairs.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("c_xy"))
      val uni = Tables.t(s, dir, "documents")
        .select(explode(Tokens.words(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val n1 = uni.agg(sum(col("c")).as("n1"))
      val n2 = cxy.agg(sum(col("c_xy")).as("n2"))
      val pmi = round(log(
        (col("c_xy").cast("double") * col("n1").cast("double")
          * col("n1").cast("double")) /
        (col("n2").cast("double") * col("c_x").cast("double")
          * col("c_y").cast("double"))), 4) + lit(0.0)
      val edges = cxy.filter(col("c_xy") >= 5)
        .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
        .join(uni.select(col("t").as("y"), col("c").as("c_y")), "y")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .filter(pmi >= 0.35 && col("x") =!= col("y"))
        .select(col("x").as("a_id"), col("y").as("b_id")).distinct()
      val cc = DedupQueries.connectedComponents(edges)
      val wC = org.apache.spark.sql.expressions.Window
        .partitionBy(col("community"))
      cc.select(col("id").as("word"), col("label").as("community"))
        .withColumn("community_size", count(lit(1)).over(wC))
        .orderBy("community", "word")
    },

    // Exact corpus heavy hitters through a BOUNDED-STATE nomination
    // phase: a mergeable Misra-Gries sketch (256 slots per partial
    // buffer — see functions/MisraGriesSketch) nominates candidate
    // tokens, then ONE broadcast semi-join recounts just the candidates
    // exactly. The full-domain `groupBy(token)` this replaces shuffles
    // every distinct token (billions at web scale); here the shuffle
    // carries ≤256 entries per map task, and the recount shuffles only
    // the ≤256-key candidate subset of the token stream. The MG bound
    // (undercount ≤ n/257, preserved across merges) guarantees no token
    // above the n/100 report threshold can be missed, so the output is
    // EXACT and the oracle is the plain exact-count SQL.
    "q197_heavy_hitters" -> { (s, dir) =>
      import graft.functions.MisraGriesSketch.misraGries
      val toks = Tables.t(s, dir, "documents")
        .select(explode(Tokens.words(col("text"))).as("tok"))
      val cand = toks.agg(misraGries(col("tok"), 256).as("mg"))
        .select(explode(map_keys(col("mg"))).as("tok"))
      val n = toks.agg(count(lit(1)).as("n_tok"))
      toks.join(broadcast(cand), "tok")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(n))
        .filter(col("cnt") * 100 > col("n_tok"))
        .select(col("tok"), col("cnt"),
          (round(col("cnt").cast("double") /
            col("n_tok").cast("double"), 10) + lit(0.0)).as("share"))
        .orderBy("tok")
    },

    // Code-switch detection: per-SEGMENT language structure inside each
    // document — q72's trigram-profile language ID applied to disjoint
    // 10-token chunks, then gaps-and-islands over the chunk sequence to
    // count maximal same-language runs. A document-level argmax (q42/
    // q72) calls a half-English-half-Spanish doc "en" and moves on;
    // curation pipelines need to know it SWITCHES (mixed-language docs
    // are dropped or routed to per-segment processing). Chunking and
    // scoring are scan-local (the fused TrigramProfileHits per chunk);
    // the only shuffles are doc-keyed (island window + two doc-level
    // aggregations), so cost is one pass over tokens at any corpus
    // size.
    "q217_code_switch" -> { (s, dir) =>
      val win = 10
      val chunks = Tables.t(s, dir, "documents")
        .select(col("doc_id"), Tokens.words(col("text")).as("tok"))
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, (size(tok) - 1) div $win), " +
            s"i -> array_join(slice(tok, i * $win + 1, $win), ' '))"))
          .as(Seq("chunk_idx", "chunk")))
      val hits = graft.functions.TrigramProfileHits.trigramProfileHits(
        lower(col("chunk")),
        Seq(Seq("the", "he ", " th", "of ", "and"),
            Seq("tab", "row", " ro", "le "),
            Seq("dat", "val", " va", "ta ")))
      val top = greatest(col("g_en"), col("g_da"), col("g_es"))
      val scored = chunks.withColumn("h", hits)
        .withColumn("g_en", col("h").getItem(0))
        .withColumn("g_da", col("h").getItem(1))
        .withColumn("g_es", col("h").getItem(2))
        .withColumn("pred", when(col("g_en") >= top, "en")
          .when(col("g_da") >= top, "da").otherwise("es"))
      val wD = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("chunk_idx"))
      val segs = scored
        .withColumn("chg", when(lag(col("pred"), 1).over(wD).isNull ||
            lag(col("pred"), 1).over(wD) =!= col("pred"), 1L)
          .otherwise(0L))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chg")).as("n_segments"),
          countDistinct(col("pred")).as("n_langs"))
      val dom = scored.groupBy(col("doc_id"), col("pred"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(min(struct((-col("c")).as("nc"), col("pred").as("p")))
          .as("m"))
        .select(col("doc_id"), col("m.p").as("dominant_lang"))
      segs.join(dom, "doc_id")
        .select(col("doc_id"), col("n_chunks"), col("n_segments"),
          col("n_langs"), col("dominant_lang"),
          when(col("n_langs") > 1, 1).otherwise(0).as("code_switched"))
        .orderBy("doc_id")
    },

    // Readability scoring (Flesch reading ease, heuristic syllables) —
    // the classic document-difficulty prior corpus curation mixes with
    // q33's surface-quality score: curriculum schedules start easy
    // (high FRE) and anneal hard, and an out-of-band FRE flags OCR
    // garbage and boilerplate. All three inputs are scan-local regex
    // counts over the text column (words = whitespace split, sentences
    // = terminal-punctuation runs, syllables ≈ vowel-group runs — the
    // standard dictionary-free approximation), so the operator is one
    // projection: zero shuffles except the output sort; the formula is
    // pure double arithmetic on exact ints, identical in both engines.
    "q231_readability" -> { (s, dir) =>
      val words = size(Tokens.words(col("text"))).cast("long")
      val sents = greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long"))
      val syll = greatest(lit(1L),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
          lit(0))).cast("long"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), words.as("n_words"),
          sents.as("n_sentences"), syll.as("n_syllables"))
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          (round(lit(206.835)
            - lit(1.015) * col("n_words").cast("double")
              / col("n_sentences").cast("double")
            - lit(84.6) * col("n_syllables").cast("double")
              / col("n_words").cast("double"), 4) + lit(0.0))
            .as("flesch"))
        .orderBy("doc_id")
    },

    // Per-document character entropy — the compressibility proxy
    // quality filters use (Gopher-style: highly compressible text =
    // repeated boilerplate/spam; incompressible = binary junk/noise —
    // clean prose sits in a band): H = ln(n)/ln 2 − Σc·ln(c)/(n·ln 2)
    // over the doc's character histogram. Scale shape: the char explode
    // is scan-local and the ONE aggregation keys on (doc, char) —
    // bounded by doc length × alphabet; the per-doc entropy closes on a
    // ≤|alphabet|-row group. Determinism: counts are exact longs, the
    // c·ln(c) sum rides the scale-18 carry, and both engines state the
    // same LN-based expression (no LOG2 builtin, whose libm can differ
    // in the last bit), rounded at 6.
    "q242_char_entropy" -> { (s, dir) =>
      val chars = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("."), lit(0)))
            .as("ch"))
      val cnt = chars.groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("c"))
      cnt.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_chars"),
          count(lit(1)).as("n_distinct_chars"),
          graft.Fns.dsum18(col("c").cast("double") *
            log(col("c").cast("double"))).as("sclnc"))
        .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
          (round((log(col("n_chars").cast("double")) -
            col("sclnc") / col("n_chars").cast("double")) /
            log(lit(2.0)), 6) + lit(0.0)).as("entropy_bits"))
        .orderBy("doc_id")
    },

    // Unigram-LM cross-entropy scoring — the CCNet/Wenzek-style quality
    // filter: score every document by how surprising it is under the
    // CORPUS's own unigram language model (add-1 smoothed). q135 scores
    // each source's distribution against itself (entropy); this is the
    // per-DOCUMENT readout against the shared model — the ranked
    // keep/drop signal a pretraining pipeline thresholds on. Scale
    // shape: token counts per (doc, token) are scan-local explodes; the
    // LM is one vocabulary-sized table that BROADCASTS onto the per-doc
    // counts (vocab ≪ corpus); per-doc CE closes on the doc key and the
    // per-source rollup is sources-sized. Determinism: p(w) is one IEEE
    // division of exact longs, ln per row, scale-18 carry for the doc
    // sum, one division per doc, scale-18 carry for the source mean.
    "q256_unigram_ce" -> { (s, dir) =>
      val dt = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(Tokens.words(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("doc_id"), col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val vocab = dt.groupBy(col("w")).agg(sum(col("c")).as("cw"))
      val stats = vocab.agg(sum(col("cw")).as("n_tok"),
        count(lit(1)).as("v"))
      val lm = vocab.crossJoin(broadcast(stats))
        .select(col("w"), log((col("cw") + lit(1L)).cast("double") /
          (col("n_tok") + col("v")).cast("double")).as("lnp"))
      val docCe = dt.join(broadcast(lm), Seq("w"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).as("len"),
          graft.Fns.dsum18(-col("c").cast("double") * col("lnp"))
            .as("nll"))
        .select(col("doc_id"), col("source"), col("len"),
          (col("nll") / col("len").cast("double")).as("ce"))
      docCe.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (round(graft.Fns.dsum18(col("ce")) /
            count(lit(1)).cast("double"), 6) + lit(0.0)).as("avg_ce"),
          (round(min(col("ce")), 6) + lit(0.0)).as("min_ce"),
          (round(max(col("ce")), 6) + lit(0.0)).as("max_ce"))
        .orderBy("source")
    },

    // Hashed-bigram Stupid-Backoff LM scoring (Brants et al. 2007 §3 —
    // the web-scale LM that replaces discounting with one backoff
    // multiplier, because at corpus scale relative frequencies are
    // enough): S(y|x) = c(xy)/c(x) when the bigram was seen, else
    // 0.4 · p(y). CCNet's actual filter is a 5-gram KenLM; this is the
    // same mechanism at n = 2 with DSIR's hashed-n-gram state trick
    // (q263): both count tables hash into 4096 buckets, so the MODEL is
    // FIXED-size however large the training corpus — the property that
    // lets a 100 TB run broadcast it to every executor. The LM trains
    // on the reference domain (src0–src3, the q263 target split) and
    // scores EVERY document, so unseen bigrams genuinely hit empty
    // buckets and the backoff branch fires (backoff_frac in the output
    // proves it non-vacuous). The unigram leg is add-1 smoothed over
    // buckets — pure Stupid Backoff leaves unseen-unigram mass zero,
    // which would ln() to -inf on out-of-domain tokens. Determinism:
    // counts exact longs, S is one CASE of IEEE divisions (0.4 parses
    // to the identical double in both engines), one ln per bigram,
    // scale-18 carries for the doc and source sums, round 6 with the
    // -0.0 fold. Scale shape: ONE bigram explode feeds training counts
    // and scoring; the two 4096-row tables broadcast; per-doc scores
    // close on the doc key; the rollup is sources-sized.
    "q316_stupid_backoff" -> { (s, dir) =>
      val B = 4096L
      val tgt = Seq("src0", "src1", "src2", "src3")
      val isT = col("source").isin(tgt: _*)
      def bucket(c: Column): Column =
        conv(substring(md5(c.cast("binary")), 1, 4), 16, 10)
          .cast("long") % B
      val bg = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(1, size(tok) - 1), " +
            "i -> named_struct('x', element_at(tok, i), " +
            "'y', element_at(tok, i + 1)))")).as("g"))
        .select(col("doc_id"), col("source"),
          bucket(concat(col("g.x"), lit(" "), col("g.y"))).as("b2"),
          bucket(col("g.x")).as("bx"), bucket(col("g.y")).as("by"))
      val uni = Tables.t(s, dir, "documents")
        .filter(isT)
        .select(explode(Tokens.words(col("text"))).as("t"))
        .select(bucket(col("t")).as("b1"))
        .groupBy(col("b1")).agg(count(lit(1)).as("c1"))
      val big = bg.filter(isT).groupBy(col("b2"))
        .agg(count(lit(1)).as("c2"))
      val n = uni.agg(sum(col("c1")).as("n_tok"))
      val backoff = col("c2").isNull || col("cx").isNull
      val sb = when(!backoff,
        col("c2").cast("double") / col("cx").cast("double"))
        .otherwise(lit(0.4) *
          ((coalesce(col("cy"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_tok") + lit(B)).cast("double")))
      val docScore = bg
        .join(broadcast(big), Seq("b2"), "left")
        .join(broadcast(uni.select(col("b1").as("bx"),
          col("c1").as("cx"))), Seq("bx"), "left")
        .join(broadcast(uni.select(col("b1").as("by"),
          col("c1").as("cy"))), Seq("by"), "left")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("source"),
          when(backoff, 1L).otherwise(0L).as("n_backoff"),
          log(sb).as("lnsb"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("n_backoff")).as("n_backoff"),
          graft.Fns.dsum18(col("lnsb")).as("slnsb"))
        .select(col("doc_id"), col("source"), col("n_bigrams"),
          col("n_backoff"),
          (col("slnsb") / col("n_bigrams").cast("double")).as("score"))
      docScore.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (round(graft.Fns.dsum18(col("score")) /
            count(lit(1)).cast("double"), 6) + lit(0.0)).as("avg_lnsb"),
          (round(min(col("score")), 6) + lit(0.0)).as("min_lnsb"),
          (round(max(col("score")), 6) + lit(0.0)).as("max_lnsb"),
          (sum(col("n_backoff")).cast("double") /
            sum(col("n_bigrams")).cast("double")).as("backoff_frac"))
        .orderBy("source")
    },

    // q316 extended to the full TRIGRAM backoff chain — the KenLM
    // fidelity step (CCNet filters with a 5-gram model; the chain
    // mechanics are identical at every n, so n = 3 with a real
    // two-level backoff is the structural fidelity point):
    //   S(z|xy) = c3(xyz)/c2(xy)          when the trigram was seen,
    //           = 0.4 · c2(yz)/c1(y)      else, when the bigram was,
    //           = 0.4 · 0.4 · p₊₁(z)      else.
    // All three count tables hash into 4096 buckets (one broadcast each
    // — 3 × 4096 rows of model state however large the corpus); the
    // SAME bigram table serves both the trigram's denominator c2(xy)
    // and the backoff numerator c2(yz) — two aliases of one broadcast,
    // exactly how a KenLM trie shares levels. Per-source level-usage
    // fractions (tri/bi/uni) prove each chain level genuinely fires.
    // Determinism: the q316 argument verbatim (exact counts, IEEE CASE,
    // one ln, scale-18 carries, round 6 with the -0.0 fold).
    "q318_stupid_backoff_trigram" -> { (s, dir) =>
      val docScore = trigramSbDocScores(s, dir)
      docScore.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (round(graft.Fns.dsum18(col("score")) /
            count(lit(1)).cast("double"), 6) + lit(0.0)).as("avg_lnsb"),
          (round(min(col("score")), 6) + lit(0.0)).as("min_lnsb"),
          (round(max(col("score")), 6) + lit(0.0)).as("max_lnsb"),
          (sum(col("n_tri")).cast("double") /
            sum(col("n_grams")).cast("double")).as("tri_frac"),
          (sum(col("n_bi")).cast("double") /
            sum(col("n_grams")).cast("double")).as("bi_frac"),
          (sum(col("n_uni")).cast("double") /
            sum(col("n_grams")).cast("double")).as("uni_frac"))
        .orderBy("source")
    },

    // CCNet's perplexity-bucket filter (Wenzek et al. 2020 §4.3) — the
    // production APPLICATION of the q318 LM, the last pipeline stage
    // the chain was built for: per source (CCNet: per language),
    // documents split at the 1/3 and 2/3 score terciles into
    // head / middle / tail by LM fluency (score = mean ln S, so head =
    // highest score = lowest perplexity), tail dropped — the keep
    // decision plus the per-bucket doc/gram mass a curation run
    // reports. Tercile thresholds come from ONE exact-percentile
    // aggregation per source broadcast back onto the scored frame (the
    // q127 recipe: percentile-THRESHOLD assignment, never a
    // corpus-sized single-partition NTILE; at 100 TB the same
    // aggregation rides approx_percentile with stated error — the
    // assignment stays scan-local either way). Cuts round to 4 (the
    // q127 ulp absorber); both engines then compare identical score
    // doubles against identical rounded cuts, so buckets agree
    // bit-for-bit; shares are single IEEE divisions of exact longs,
    // and the share windows run over the sources×3 grouped frame —
    // dimension-sized, never corpus-sized.
    "q321_ccnet_terciles" -> { (s, dir) =>
      // materialized once (r14): `ds` is referenced twice (the tercile
      // aggregation and the bucket-assignment join) and un-checkpointed
      // the ENTIRE trigram scorer — five broadcast joins over every
      // gram — re-ran once per reference (the audited plan carried 33
      // exchanges for an 11-exchange query); the frame is docs-sized
      // (7 scalar columns), the cheapest thing in the query to hold.
      // Measured floor 3.81 → 2.53 s at sf0.1 (5-pass bench).
      val ds = trigramSbDocScores(s, dir).transform(graft.Checkpoints.ckpt)
      val cuts = ds.groupBy(col("source"))
        .agg(expr("percentile(score, array(CAST(1.0/3.0 AS DOUBLE), " +
          "CAST(2.0/3.0 AS DOUBLE)))").as("pp"))
        .select(col("source"),
          round(element_at(col("pp"), 1), 4).as("c_lo"),
          round(element_at(col("pp"), 2), 4).as("c_hi"))
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      ds.join(broadcast(cuts), "source")
        .select(col("source"),
          when(col("score") > col("c_hi"), lit("head"))
            .when(col("score") > col("c_lo"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"),
          col("n_grams"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("n_grams"))
        .withColumn("keep", col("bucket") =!= "tail")
        .withColumn("doc_share",
          col("n_docs").cast("double") /
            sum(col("n_docs")).over(wS).cast("double"))
        .withColumn("gram_share",
          col("n_grams").cast("double") /
            sum(col("n_grams")).over(wS).cast("double"))
        .select("source", "bucket", "keep", "n_docs", "n_grams",
          "doc_share", "gram_share")
        .orderBy("source", "bucket")
    },

    // Corpus keyness — Dunning's log-likelihood ratio G² (Dunning 1993,
    // the corpus-linguistics standard for "which words characterize
    // THIS corpus vs that one"): per token, the G² statistic of its
    // target-corpus count a vs rest-count b against the pooled
    // expectation. Distinct from q102's PMI (word-word association)
    // and q149's KL (whole-distribution drift): keyness is per-token
    // SIGNIFICANCE, robust at low counts where PMI explodes — the
    // domain-vocabulary readout a mixture designer reads before
    // reweighting. Scale shape: one token aggregation (map-side
    // combinable), the (nt, nr) totals broadcast onto the vocab-sized
    // frame, top-20 via TakeOrderedAndProject. Determinism: counts
    // exact, expectations one IEEE chain, direction by exact integer
    // cross-multiplication (the q223 trick — no rate division).
    "q265_keyness" -> { (s, dir) =>
      val tgt = Seq("src0", "src1", "src2", "src3")
      val isT = col("source").isin(tgt: _*)
      val counts = Tables.t(s, dir, "documents")
        .select(col("source"), explode(Tokens.words(col("text"))).as("t"))
        .filter(length(col("t")) > 0)
        .groupBy(col("t"))
        .agg(sum(when(isT, 1L).otherwise(0L)).as("a"),
          sum(when(!isT, 1L).otherwise(0L)).as("b"))
      val tot = counts.agg(sum(col("a")).as("nt"), sum(col("b")).as("nr"))
      val ea = col("nt").cast("double") *
        (col("a") + col("b")).cast("double") /
        (col("nt") + col("nr")).cast("double")
      val eb = col("nr").cast("double") *
        (col("a") + col("b")).cast("double") /
        (col("nt") + col("nr")).cast("double")
      val g2 = lit(2.0) * (
        when(col("a") > 0,
          col("a").cast("double") * log(col("a").cast("double") / ea))
          .otherwise(lit(0.0)) +
        when(col("b") > 0,
          col("b").cast("double") * log(col("b").cast("double") / eb))
          .otherwise(lit(0.0)))
      counts.crossJoin(broadcast(tot))
        .select(col("t"), col("a"), col("b"),
          (round(g2, 6) + lit(0.0)).as("g2"),
          when(col("a") * col("nr") > col("b") * col("nt"), lit("target"))
            .otherwise(lit("rest")).as("leans"))
        .orderBy(col("g2").desc, col("t")).limit(20)
    })

  /** The q34 exact-Jaccard oracle, hoisted so composite oracles (q71,
    * q122, q131) can ride it in as a CTE without recursing into
    * [[oracles]] during its own construction.
    */

  /** The per-document trigram Stupid-Backoff scores q318 rolls up and
    * q321's CCNet tercile filter cuts on: (doc_id, source, n_grams,
    * n_tri, n_bi, n_uni, score) for every document with >= 3 tokens.
    * See q318's declared-row doc for the model/determinism argument.
    */
  private[llm] def trigramSbDocScores(s: SparkSession, dir: String)
      : DataFrame = {
      val B = 4096L
      val tgt = Seq("src0", "src1", "src2", "src3")
      val isT = col("source").isin(tgt: _*)
      def bucket(c: Column): Column =
        conv(substring(md5(c.cast("binary")), 1, 4), 16, 10)
          .cast("long") % B
      val grams = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 3)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(1, size(tok) - 2), " +
            "i -> named_struct('x', element_at(tok, i), " +
            "'y', element_at(tok, i + 1), " +
            "'z', element_at(tok, i + 2)))")).as("g"))
        .select(col("doc_id"), col("source"),
          bucket(concat(col("g.x"), lit(" "), col("g.y"), lit(" "),
            col("g.z"))).as("b3"),
          bucket(concat(col("g.x"), lit(" "), col("g.y"))).as("bxy"),
          bucket(concat(col("g.y"), lit(" "), col("g.z"))).as("byz"),
          bucket(col("g.y")).as("by"), bucket(col("g.z")).as("bz"))
      val docs = Tables.t(s, dir, "documents")
      val uni = docs.filter(isT)
        .select(explode(Tokens.words(col("text"))).as("t"))
        .select(bucket(col("t")).as("b1"))
        .groupBy(col("b1")).agg(count(lit(1)).as("c1"))
      val bi = docs.filter(isT)
        .select(Tokens.words(col("text")).as("tok"))
        .filter(size(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(tok) - 1), " +
            "i -> concat(element_at(tok, i), ' ', element_at(tok, i + 1)))"))
          .as("p"))
        .select(bucket(col("p")).as("b2"))
        .groupBy(col("b2")).agg(count(lit(1)).as("c2"))
      val tri = grams.filter(isT).groupBy(col("b3"))
        .agg(count(lit(1)).as("c3"))
      val n = uni.agg(sum(col("c1")).as("n_tok"))
      val lvl3 = col("c3").isNotNull && col("cxy").isNotNull
      val lvl2 = col("cyz").isNotNull && col("cy").isNotNull
      val sb = when(lvl3,
        col("c3").cast("double") / col("cxy").cast("double"))
        .when(lvl2, lit(0.4) *
          (col("cyz").cast("double") / col("cy").cast("double")))
        .otherwise(lit(0.4) * lit(0.4) *
          ((coalesce(col("cz"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_tok") + lit(B)).cast("double")))
      val docScore = grams
        .join(broadcast(tri), Seq("b3"), "left")
        .join(broadcast(bi.select(col("b2").as("bxy"),
          col("c2").as("cxy"))), Seq("bxy"), "left")
        .join(broadcast(bi.select(col("b2").as("byz"),
          col("c2").as("cyz"))), Seq("byz"), "left")
        .join(broadcast(uni.select(col("b1").as("by"),
          col("c1").as("cy"))), Seq("by"), "left")
        .join(broadcast(uni.select(col("b1").as("bz"),
          col("c1").as("cz"))), Seq("bz"), "left")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("source"),
          when(lvl3, 1L).otherwise(0L).as("n_tri"),
          when(!lvl3 && lvl2, 1L).otherwise(0L).as("n_bi"),
          when(!lvl3 && !lvl2, 1L).otherwise(0L).as("n_uni"),
          log(sb).as("lnsb"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"),
          sum(col("n_tri")).as("n_tri"), sum(col("n_bi")).as("n_bi"),
          sum(col("n_uni")).as("n_uni"),
          graft.Fns.dsum18(col("lnsb")).as("slnsb"))
        .select(col("doc_id"), col("source"), col("n_grams"),
          col("n_tri"), col("n_bi"), col("n_uni"),
          (col("slnsb") / col("n_grams").cast("double")).as("score"))
    docScore
  }

  val Q34OracleSql: String =
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
      |    b.doc_id AS b_id, b.ntok AS b_n, COUNT(*) AS n_common
      |  FROM t a JOIN t b
      |    ON a.source = b.source AND a.token = b.token
      |   AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4, 5)
      |SELECT source, a_id, b_id,
      |  ROUND(CAST(n_common AS DOUBLE) / (a_n + b_n - n_common), 4)
      |    AS jaccard
      |FROM c
      |WHERE CAST(n_common AS DOUBLE) / (a_n + b_n - n_common) >= 0.6
      |ORDER BY source, a_id, b_id""".stripMargin

  /** The q318 oracle chain through the per-doc score CTE `dsc` —
    * shared with q321's tercile filter. */
  private val TrigramSbDscSql: String =
    """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |g3 AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    CAST(('0x' || SUBSTRING(MD5(tok[i] || ' ' || tok[i + 1]
        |      || ' ' || tok[i + 2]), 1, 4)) AS BIGINT) % 4096 AS b3,
        |    CAST(('0x' || SUBSTRING(MD5(tok[i] || ' ' || tok[i + 1]),
        |      1, 4)) AS BIGINT) % 4096 AS bxy,
        |    CAST(('0x' || SUBSTRING(MD5(tok[i + 1] || ' ' || tok[i + 2]),
        |      1, 4)) AS BIGINT) % 4096 AS byz,
        |    CAST(('0x' || SUBSTRING(MD5(tok[i + 1]), 1, 4)) AS BIGINT)
        |      % 4096 AS by,
        |    CAST(('0x' || SUBSTRING(MD5(tok[i + 2]), 1, 4)) AS BIGINT)
        |      % 4096 AS bz
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 2)) AS g(i)
        |  WHERE LEN(tok) >= 3),
        |uni AS MATERIALIZED (
        |  SELECT CAST(('0x' || SUBSTRING(MD5(t), 1, 4)) AS BIGINT)
        |    % 4096 AS b1, COUNT(*) AS c1
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t
        |        FROM documents
        |        WHERE source IN ('src0','src1','src2','src3'))
        |  GROUP BY 1),
        |bi AS MATERIALIZED (
        |  SELECT CAST(('0x' || SUBSTRING(MD5(p), 1, 4)) AS BIGINT)
        |    % 4096 AS b2, COUNT(*) AS c2
        |  FROM (
        |    SELECT tok[i] || ' ' || tok[i + 1] AS p
        |    FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS g(i)
        |    WHERE LEN(tok) >= 2
        |      AND source IN ('src0','src1','src2','src3'))
        |  GROUP BY 1),
        |tri AS MATERIALIZED (
        |  SELECT b3, COUNT(*) AS c3 FROM g3
        |  WHERE source IN ('src0','src1','src2','src3') GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_tok FROM uni),
        |sc AS (
        |  SELECT g3.doc_id, g3.source,
        |    CASE WHEN t.c3 IS NOT NULL AND cxy.c2 IS NOT NULL
        |      THEN 1 ELSE 0 END AS n_tri,
        |    CASE WHEN NOT (t.c3 IS NOT NULL AND cxy.c2 IS NOT NULL)
        |      AND (cyz.c2 IS NOT NULL AND cy.c1 IS NOT NULL)
        |      THEN 1 ELSE 0 END AS n_bi,
        |    CASE WHEN NOT (t.c3 IS NOT NULL AND cxy.c2 IS NOT NULL)
        |      AND NOT (cyz.c2 IS NOT NULL AND cy.c1 IS NOT NULL)
        |      THEN 1 ELSE 0 END AS n_uni,
        |    LN(CASE WHEN t.c3 IS NOT NULL AND cxy.c2 IS NOT NULL
        |      THEN CAST(t.c3 AS DOUBLE) / CAST(cxy.c2 AS DOUBLE)
        |      WHEN cyz.c2 IS NOT NULL AND cy.c1 IS NOT NULL
        |      THEN 0.4 * (CAST(cyz.c2 AS DOUBLE) / CAST(cy.c1 AS DOUBLE))
        |      ELSE 0.4 * 0.4 * (CAST(COALESCE(cz.c1, 0) + 1 AS DOUBLE)
        |        / CAST(n.n_tok + 4096 AS DOUBLE)) END) AS lnsb
        |  FROM g3 LEFT JOIN tri t USING (b3)
        |    LEFT JOIN bi cxy ON cxy.b2 = g3.bxy
        |    LEFT JOIN bi cyz ON cyz.b2 = g3.byz
        |    LEFT JOIN uni cy ON cy.b1 = g3.by
        |    LEFT JOIN uni cz ON cz.b1 = g3.bz
        |  CROSS JOIN n),
        |dsc AS (
        |  SELECT doc_id, source, COUNT(*) AS n_grams,
        |    CAST(SUM(n_tri) AS BIGINT) AS n_tri,
        |    CAST(SUM(n_bi) AS BIGINT) AS n_bi,
        |    CAST(SUM(n_uni) AS BIGINT) AS n_uni,
        |    CAST(SUM(CAST(lnsb AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
        |      AS score
        |  FROM sc GROUP BY 1, 2)"""

  override def oracles: Map[String, String] = Map(
    // same hashed buckets, same CASE, same decimal carries
    "q316_stupid_backoff" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    CAST(('0x' || SUBSTRING(MD5(tok[i] || ' ' || tok[i + 1]),
        |      1, 4)) AS BIGINT) % 4096 AS b2,
        |    CAST(('0x' || SUBSTRING(MD5(tok[i]), 1, 4)) AS BIGINT)
        |      % 4096 AS bx,
        |    CAST(('0x' || SUBSTRING(MD5(tok[i + 1]), 1, 4)) AS BIGINT)
        |      % 4096 AS by
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS g(i)
        |  WHERE LEN(tok) >= 2),
        |uni AS MATERIALIZED (
        |  SELECT CAST(('0x' || SUBSTRING(MD5(t), 1, 4)) AS BIGINT)
        |    % 4096 AS b1, COUNT(*) AS c1
        |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t
        |        FROM documents
        |        WHERE source IN ('src0','src1','src2','src3'))
        |  GROUP BY 1),
        |big AS MATERIALIZED (
        |  SELECT b2, COUNT(*) AS c2 FROM bg
        |  WHERE source IN ('src0','src1','src2','src3') GROUP BY 1),
        |n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_tok FROM uni),
        |sc AS (
        |  SELECT bg.doc_id, bg.source,
        |    CASE WHEN c2.c2 IS NOT NULL AND cx.c1 IS NOT NULL
        |      THEN 0 ELSE 1 END AS n_backoff,
        |    LN(CASE WHEN c2.c2 IS NOT NULL AND cx.c1 IS NOT NULL
        |      THEN CAST(c2.c2 AS DOUBLE) / CAST(cx.c1 AS DOUBLE)
        |      ELSE 0.4 * (CAST(COALESCE(cy.c1, 0) + 1 AS DOUBLE)
        |        / CAST(n.n_tok + 4096 AS DOUBLE)) END) AS lnsb
        |  FROM bg LEFT JOIN big c2 USING (b2)
        |    LEFT JOIN uni cx ON cx.b1 = bg.bx
        |    LEFT JOIN uni cy ON cy.b1 = bg.by
        |  CROSS JOIN n),
        |dsc AS (
        |  SELECT doc_id, source, COUNT(*) AS n_bigrams,
        |    CAST(SUM(n_backoff) AS BIGINT) AS n_backoff,
        |    CAST(SUM(CAST(lnsb AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
        |      AS score
        |  FROM sc GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_docs,
        |  ROUND(CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE)
        |    / COUNT(*), 6) + 0.0 AS avg_lnsb,
        |  ROUND(MIN(score), 6) + 0.0 AS min_lnsb,
        |  ROUND(MAX(score), 6) + 0.0 AS max_lnsb,
        |  CAST(SUM(n_backoff) AS DOUBLE) / CAST(SUM(n_bigrams) AS DOUBLE)
        |    AS backoff_frac
        |FROM dsc GROUP BY source ORDER BY source""".stripMargin,

    // same three hashed tables, same two-level CASE, same carries
    "q318_stupid_backoff_trigram" ->
      (TrigramSbDscSql + """
        |SELECT source, COUNT(*) AS n_docs,
        |  ROUND(CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE)
        |    / COUNT(*), 6) + 0.0 AS avg_lnsb,
        |  ROUND(MIN(score), 6) + 0.0 AS min_lnsb,
        |  ROUND(MAX(score), 6) + 0.0 AS max_lnsb,
        |  CAST(SUM(n_tri) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE)
        |    AS tri_frac,
        |  CAST(SUM(n_bi) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE)
        |    AS bi_frac,
        |  CAST(SUM(n_uni) AS DOUBLE) / CAST(SUM(n_grams) AS DOUBLE)
        |    AS uni_frac
        |FROM dsc GROUP BY source ORDER BY source""").stripMargin,

    // the same per-doc scores, per-source QUANTILE_CONT tercile cuts
    // (rounded 4, the q127 twin of percentile-array), the same CASE
    "q321_ccnet_terciles" ->
      (TrigramSbDscSql + """,
        |cuts AS (
        |  SELECT source,
        |    ROUND(QUANTILE_CONT(score, CAST(1.0/3.0 AS DOUBLE)), 4)
        |      AS c_lo,
        |    ROUND(QUANTILE_CONT(score, CAST(2.0/3.0 AS DOUBLE)), 4)
        |      AS c_hi
        |  FROM dsc GROUP BY source),
        |bk AS (
        |  SELECT d.source,
        |    CASE WHEN d.score > c.c_hi THEN 'head'
        |         WHEN d.score > c.c_lo THEN 'middle'
        |         ELSE 'tail' END AS bucket,
        |    d.n_grams
        |  FROM dsc d JOIN cuts c USING (source)),
        |t AS (
        |  SELECT source, bucket, COUNT(*) AS n_docs,
        |    CAST(SUM(n_grams) AS BIGINT) AS n_grams
        |  FROM bk GROUP BY 1, 2)
        |SELECT source, bucket, bucket <> 'tail' AS keep, n_docs, n_grams,
        |  CAST(n_docs AS DOUBLE)
        |    / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE)
        |    AS doc_share,
        |  CAST(n_grams AS DOUBLE)
        |    / CAST(SUM(n_grams) OVER (PARTITION BY source) AS DOUBLE)
        |    AS gram_share
        |FROM t ORDER BY source, bucket""").stripMargin,

    // the same rank formula over the same exact longs
    "q290_source_gini" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(LEN(STR_SPLIT(text, ' ')) AS BIGINT) AS x
        |  FROM documents),
        |r AS (
        |  SELECT source, x,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY x ASC, doc_id ASC) AS i
        |  FROM d)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(x) AS BIGINT) AS total_tokens,
        |  ROUND(2.0 * CAST(SUM(i * x) AS DOUBLE)
        |      / CAST(COUNT(*) * SUM(x) AS DOUBLE)
        |    - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    + 0.0 AS gini
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q102_bigram_pmi" ->
      """WITH d AS (
        |  SELECT STRING_SPLIT(text, ' ') AS tok FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
        |bg AS (
        |  SELECT tok[i] AS x, tok[i + 1] AS y
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS g(i)),
        |cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
        |uni AS (
        |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
        |cu AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY 1),
        |n1 AS (SELECT SUM(c) AS n1 FROM cu),
        |n2 AS (SELECT SUM(c_xy) AS n2 FROM cxy)
        |SELECT cxy.x, cxy.y, c_xy,
        |  ROUND(LN((CAST(c_xy AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      * CAST(n1 AS DOUBLE))
        |    / (CAST(n2 AS DOUBLE) * CAST(cx.c AS DOUBLE)
        |      * CAST(cy.c AS DOUBLE))), 4) + 0.0 AS pmi
        |FROM cxy
        |JOIN cu cx ON cx.t = cxy.x
        |JOIN cu cy ON cy.t = cxy.y
        |CROSS JOIN n1 CROSS JOIN n2
        |WHERE c_xy >= 5
        |ORDER BY x, y""".stripMargin,

    "q119_bigram_lm" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, tok[i] AS x, tok[i + 1] AS y
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS g(i)),
        |cu AS (
        |  SELECT t, COUNT(*) AS c FROM (
        |    SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents)
        |  GROUP BY 1),
        |v AS (SELECT COUNT(*) AS v FROM cu),
        |model AS (
        |  SELECT x, y,
        |    LN(CAST(c_xy + 1 AS DOUBLE) / CAST(c_x + v AS DOUBLE)) AS logp
        |  FROM (SELECT x, y, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2)
        |  JOIN (SELECT t AS x, c AS c_x FROM cu) USING (x)
        |  CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(logp AS DECIMAL(38,18))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 4) + 0.0 AS mean_logp
        |FROM bg JOIN model USING (x, y)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q117_window_pmi" ->
      """WITH d AS (
        |  SELECT STRING_SPLIT(text, ' ') AS tok FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
        |pr AS (
        |  SELECT tok[i] AS x, tok[j] AS y
        |  FROM d,
        |    UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS g(i),
        |    UNNEST(GENERATE_SERIES(i + 1, LEAST(i + 3, LEN(tok)))) AS h(j)),
        |cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM pr GROUP BY 1, 2),
        |uni AS (
        |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
        |cu AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY 1),
        |n1 AS (SELECT SUM(c) AS n1 FROM cu),
        |n2 AS (SELECT SUM(c_xy) AS n2 FROM cxy)
        |SELECT cxy.x, cxy.y, c_xy,
        |  ROUND(LN((CAST(c_xy AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      * CAST(n1 AS DOUBLE))
        |    / (CAST(n2 AS DOUBLE) * CAST(cx.c AS DOUBLE)
        |      * CAST(cy.c AS DOUBLE))), 4) + 0.0 AS pmi
        |FROM cxy
        |JOIN cu cx ON cx.t = cxy.x
        |JOIN cu cy ON cy.t = cxy.y
        |CROSS JOIN n1 CROSS JOIN n2
        |WHERE c_xy >= 5
        |ORDER BY x, y""".stripMargin,

    // no length prefilter needed: it is lossless at the same threshold,
    // so the oracle states the plain blocked comparison
    "q78_edit_distance" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand,
        |    ARRAY_TO_STRING(STRING_SPLIT(p_name, ' ')[1:2], ' ') AS blk,
        |    p_name
        |  FROM part)
        |SELECT a.p_brand, a.p_partkey AS a_key, b.p_partkey AS b_key,
        |  CAST(LEVENSHTEIN(a.p_name, b.p_name) AS INTEGER) AS edit_dist
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.blk = b.blk
        |  AND a.p_partkey < b.p_partkey
        |WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 12
        |ORDER BY a.p_brand, a_key, b_key""".stripMargin,

    "q31_dedup_exact" ->
      """SELECT MD5(text) AS text_hash,
        |  MIN(doc_id) AS canonical_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY MD5(text) ORDER BY text_hash""".stripMargin,

    "q32_text_stats" ->
      s"""SELECT lang, source,
         |  COUNT(*) AS n_docs,
         |  ${davgSql("CAST(n_chars AS DOUBLE)")} AS avg_chars,
         |  CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS total_tokens,
         |  MAX(n_chars) AS max_chars,
         |  MIN(n_chars) AS min_chars
         |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q33_quality_score" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(LEN(tok) AS BIGINT) AS n_tokens,
        |    CAST(n_chars AS DOUBLE) / LEN(tok) AS chars_per_token,
        |    CAST(LEN(LIST_FILTER(tok,
        |      t -> t IN ('the','a','of','and','to'))) AS DOUBLE) / LEN(tok)
        |      AS stopword_ratio,
        |    CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok)
        |      AS distinct_ratio
        |  FROM d)
        |SELECT doc_id, lang, n_tokens, chars_per_token, stopword_ratio,
        |  distinct_ratio,
        |  distinct_ratio * 0.5 + (1.0 - stopword_ratio) * 0.5 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    // the same row-local p/y, bin floor, and exact-sum means
    "q281_calibration_table" ->
      s"""WITH d AS (
         |  SELECT STRING_SPLIT(text, ' ') AS tok FROM documents),
         |m AS (
         |  SELECT
         |    CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok) * 0.5
         |      + (1.0 - CAST(LEN(LIST_FILTER(tok,
         |          t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
         |          / LEN(tok)) * 0.5 AS p,
         |    CASE WHEN LEN(tok) >= 56 THEN 1 ELSE 0 END AS y
         |  FROM d),
         |b AS (
         |  SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin, p, y
         |  FROM m),
         |g AS (
         |  SELECT bin, COUNT(*) AS n,
         |    ${Fns.dsum18Sql("p")} AS sp,
         |    CAST(SUM(y) AS BIGINT) AS ny,
         |    ${Fns.dsum18Sql(
               "(p - CAST(y AS DOUBLE)) * (p - CAST(y AS DOUBLE))")} AS sb
         |  FROM b GROUP BY bin)
         |SELECT bin, n,
         |  ROUND(sp / CAST(n AS DOUBLE), 6) + 0.0 AS mean_p,
         |  ROUND(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
         |    AS frac_pos,
         |  ROUND(sb / CAST(n AS DOUBLE), 6) + 0.0 AS bin_brier
         |FROM g ORDER BY bin""".stripMargin,

    // the same rule annotators and exact-count kappa arithmetic
    "q282_cohens_kappa" ->
      """WITH d AS (
        |  SELECT STRING_SPLIT(text, ' ') AS tok FROM documents),
        |r AS (
        |  SELECT
        |    CASE WHEN CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok)
        |        * 0.5 + (1.0 - CAST(LEN(LIST_FILTER(tok,
        |          t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |          / LEN(tok)) * 0.5 >= 0.72 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN CAST(LEN(LIST_FILTER(tok,
        |        t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |        / LEN(tok) <= 0.06 THEN 1 ELSE 0 END AS b
        |  FROM d),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(a * b) AS BIGINT) AS n11,
        |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
        |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
        |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        |  FROM r)
        |SELECT n, n11, n10, n01, n00,
        |  ROUND(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
        |    AS p_observed,
        |  ROUND(CAST((n11 + n10) * (n11 + n01)
        |      + (n01 + n00) * (n10 + n00) AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) + 0.0
        |    AS p_expected,
        |  ROUND((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST((n11 + n10) * (n11 + n01)
        |        + (n01 + n00) * (n10 + n00) AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |    / (1.0 - CAST((n11 + n10) * (n11 + n01)
        |        + (n01 + n00) * (n10 + n00) AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) + 0.0
        |    AS kappa
        |FROM m""".stripMargin,

    // same shingle grain, same rare-df block, same exact-decimal sums;
    // DuckDB list slicing ts[i:i+4] is 1-based inclusive = Spark
    // slice(ts, i+1, 5), and LN matches Spark's log (natural)
    "q293_tfidf_cosine" ->
      s"""WITH tok AS (
         |  SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
         |post AS MATERIALIZED (
         |  SELECT doc_id, ARRAY_TO_STRING(ts[i:i+4], ' ') AS g,
         |    COUNT(*) AS tf
         |  FROM tok, UNNEST(RANGE(1, LEN(ts) - 3)) AS u(i)
         |  WHERE LEN(ts) >= 5
         |  GROUP BY 1, 2),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |idf AS (
         |  SELECT g, COUNT(*) AS df,
         |    LN(CAST((SELECT n_docs FROM n) + 1 AS DOUBLE)
         |      / CAST(COUNT(*) + 1 AS DOUBLE)) AS idf
         |  FROM post GROUP BY g),
         |w AS MATERIALIZED (
         |  SELECT p.doc_id, p.g, i.df, CAST(p.tf AS DOUBLE) * i.idf AS w
         |  FROM post p JOIN idf i ON i.g = p.g),
         |nrm AS (
         |  SELECT doc_id, SQRT(${graft.Fns.dsum18Sql("w * w")}) AS nrm
         |  FROM w GROUP BY doc_id),
         |rare AS (SELECT g, doc_id FROM w WHERE df BETWEEN 2 AND 5),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM rare a JOIN rare b
         |    ON a.g = b.g AND a.doc_id < b.doc_id),
         |dot AS (
         |  SELECT p.a_id, p.b_id, COUNT(*) AS n_shared,
         |    ${graft.Fns.dsum18Sql("wa.w * wb.w")} AS dot
         |  FROM pairs p
         |  JOIN w wa ON wa.doc_id = p.a_id
         |  JOIN w wb ON wb.doc_id = p.b_id AND wb.g = wa.g
         |  GROUP BY 1, 2)
         |SELECT d.a_id, d.b_id, d.n_shared,
         |  ROUND(d.dot / (na.nrm * nb.nrm), 6) + 0.0 AS cosine
         |FROM dot d
         |JOIN nrm na ON na.doc_id = d.a_id
         |JOIN nrm nb ON nb.doc_id = d.b_id
         |ORDER BY d.a_id, d.b_id""".stripMargin,

    "q35_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    LOWER(TRIM(REGEXP_REPLACE(text, '[ \t\n\f\r]+', ' ', 'g')))
        |      AS normd
        |  FROM documents)
        |SELECT doc_id, MD5(normd) AS fingerprint,
        |  SUBSTRING(MD5(normd), 1, 8) AS fp_bucket
        |FROM n ORDER BY doc_id""".stripMargin,

    "q34_jaccard_pairs" -> Q34OracleSql,

    "q53_token_freq" ->
      """SELECT source, token, COUNT(*) AS n
        |FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY source, token ORDER BY source, token""".stripMargin,

    "q51_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.token,
        |  ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf
        |FROM tf JOIN df USING (token) CROSS JOIN n
        |ORDER BY tf.doc_id, tf.token""".stripMargin,

    "q50_shingle_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        |s AS (
        |  SELECT doc_id, source,
        |    LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tok) - 1),
        |      i -> ARRAY_TO_STRING(LIST_SLICE(tok, i, i + 2), ' '))) AS sh
        |  FROM d),
        |t AS (
        |  SELECT source, doc_id, CAST(LEN(sh) AS BIGINT) AS nsh,
        |    UNNEST(sh) AS shingle
        |  FROM s),
        |c AS (
        |  SELECT a.source, a.doc_id AS a_id, a.nsh AS a_n,
        |    b.doc_id AS b_id, b.nsh AS b_n, COUNT(*) AS n_common
        |  FROM t a JOIN t b
        |    ON a.source = b.source AND a.shingle = b.shingle
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT source, a_id, b_id,
        |  ROUND(CAST(n_common AS DOUBLE) / (a_n + b_n - n_common), 4)
        |    AS jaccard
        |FROM c
        |WHERE CAST(n_common AS DOUBLE) / (a_n + b_n - n_common) >= 0.4
        |ORDER BY source, a_id, b_id""".stripMargin,

    "q72_langid_ngram" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    LIST_TRANSFORM(
        |      RANGE(1, GREATEST(LENGTH(LOWER(text)) - 2, 0) + 1),
        |      i -> SUBSTRING(LOWER(text), i, 3)) AS grams
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    CAST(LEN(LIST_FILTER(grams,
        |      x -> x IN ('the','he ',' th','of ','and'))) AS BIGINT) AS g_en,
        |    CAST(LEN(LIST_FILTER(grams,
        |      x -> x IN ('tab','row',' ro','le '))) AS BIGINT) AS g_da,
        |    CAST(LEN(LIST_FILTER(grams,
        |      x -> x IN ('dat','val',' va','ta '))) AS BIGINT) AS g_es
        |  FROM g)
        |SELECT doc_id, lang, g_en, g_da, g_es,
        |  CASE WHEN g_en >= GREATEST(g_en, g_da, g_es) THEN 'en'
        |       WHEN g_da >= GREATEST(g_en, g_da, g_es) THEN 'da'
        |       ELSE 'es' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "q42_langid" ->
      """WITH d AS (
        |  SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('the','a','of'))) AS BIGINT)
        |      AS s_en,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('table','row'))) AS BIGINT)
        |      AS s_de,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('data','value'))) AS BIGINT)
        |      AS s_es,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('filter','join'))) AS BIGINT)
        |      AS s_fr,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('spark','vector'))) AS BIGINT)
        |      AS s_zh
        |  FROM d)
        |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
        |  CASE WHEN s_de >= GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en >= GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es >= GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr >= GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    // same Java-regex/RE2-shared pattern as q68 — whitespace stays the
    // explicit [ \t\n\f\r] class
    "q126_token_fertility" ->
      """WITH d AS (
        |  SELECT lang, source, n_chars,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS words,
        |    CAST(LEN(REGEXP_EXTRACT_ALL(text,
        |      ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\p{L}\p{N}]+|[ \t\n\f\r]+'))
        |      AS BIGINT) AS pieces
        |  FROM documents)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(words) AS BIGINT) AS n_words,
        |  CAST(SUM(pieces) AS BIGINT) AS n_pieces,
        |  CAST(SUM(pieces) AS DOUBLE) / CAST(SUM(words) AS DOUBLE)
        |    AS fertility,
        |  CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(pieces) AS DOUBLE)
        |    AS chars_per_piece
        |FROM d GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q128_vocab_growth" ->
      """WITH c AS (
        |  SELECT source, t, COUNT(*) AS c
        |  FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY source, t)
        |SELECT source, COUNT(*) AS n_types,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(CASE WHEN c = 1 THEN 1 END) AS n_hapax,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
        |    AS type_token_ratio,
        |  CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS hapax_share
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // q128's SQL over the regenerated stream — the zt CTE restates
    // zipfTokArray's integer spelling exactly
    "q304_zipf_vocab_growth" ->
      s"""WITH zt AS MATERIALIZED (
         |$ZipfTokensSql),
         |c AS (SELECT source, t, COUNT(*) AS c FROM zt GROUP BY source, t)
         |SELECT source, COUNT(*) AS n_types,
         |  CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  COUNT(CASE WHEN c = 1 THEN 1 END) AS n_hapax,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         |    AS type_token_ratio,
         |  CAST(COUNT(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS hapax_share
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q305_zipf_slope_rich" ->
      s"""WITH zt AS MATERIALIZED (
         |$ZipfTokensSql),
         |c AS (SELECT source, t, COUNT(*) AS c FROM zt GROUP BY source, t),
         |r AS (
         |  SELECT source,
         |    LN(CAST(ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY c DESC, t ASC) AS DOUBLE)) AS x,
         |    LN(CAST(c AS DOUBLE)) AS y
         |  FROM c),
         |a AS (
         |  SELECT source, COUNT(*) AS n_types,
         |    ${graft.Fns.dsum18Sql("x")} AS sx,
         |    ${graft.Fns.dsum18Sql("y")} AS sy,
         |    ${graft.Fns.dsum18Sql("x * y")} AS sxy,
         |    ${graft.Fns.dsum18Sql("x * x")} AS sxx
         |  FROM r GROUP BY source)
         |SELECT source, CAST(n_types AS BIGINT) AS n_types,
         |  ROUND((CAST(n_types AS DOUBLE) * sxy - sx * sy)
         |    / (CAST(n_types AS DOUBLE) * sxx - sx * sx), 4) AS zipf_slope
         |FROM a ORDER BY source""".stripMargin,

    // q168's SQL with the gram source rebuilt from zt via LIST ORDER BY
    "q308_zipf_hapax" ->
      s"""WITH zt AS MATERIALIZED (
         |$ZipfTokensSql),
         |d AS (
         |  SELECT source, doc_id, LIST(t ORDER BY j) AS tok
         |  FROM zt GROUP BY source, doc_id),
         |g AS (
         |  SELECT source, 2 AS n, tok[i] || ' ' || tok[i + 1] AS gram
         |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS t(i)
         |  UNION ALL
         |  SELECT source, 3 AS n,
         |    tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2] AS gram
         |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 2)) AS t(i)),
         |c AS (
         |  SELECT source, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
         |a AS (
         |  SELECT source, n, COUNT(*) AS n_vocab,
         |    CAST(SUM(c) AS BIGINT) AS n_occurrences,
         |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hapax,
         |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dis
         |  FROM c GROUP BY 1, 2)
         |SELECT source, n, n_vocab, n_occurrences, n_hapax, n_dis,
         |  CAST(n_hapax AS DOUBLE) / CAST(n_vocab AS DOUBLE)
         |    AS hapax_vocab_share,
         |  CAST(n_hapax AS DOUBLE) / CAST(n_occurrences AS DOUBLE)
         |    AS hapax_mass_share
         |FROM a ORDER BY source, n""".stripMargin,

    "q309_zipf_chao1" ->
      s"""WITH zt AS MATERIALIZED (
         |$ZipfTokensSql),
         |c AS (SELECT source, t, COUNT(*) AS c FROM zt GROUP BY source, t),
         |m AS (
         |  SELECT source, COUNT(*) AS v_obs,
         |    COUNT(CASE WHEN c = 1 THEN 1 END) AS f1,
         |    COUNT(CASE WHEN c = 2 THEN 1 END) AS f2
         |  FROM c GROUP BY source)
         |SELECT source, v_obs, f1, f2,
         |  ROUND(CAST(v_obs AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE)
         |    / (2.0 * CAST(f2 + 1 AS DOUBLE)), 4) + 0.0 AS chao1,
         |  ROUND(CAST(v_obs AS DOUBLE) / (CAST(v_obs AS DOUBLE)
         |    + CAST(f1 * (f1 - 1) AS DOUBLE)
         |    / (2.0 * CAST(f2 + 1 AS DOUBLE))), 4) + 0.0 AS coverage
         |FROM m ORDER BY source""".stripMargin,

    // the q34 oracle rides in as the pair CTE (its ORDER BY is legal and
    // inert inside a CTE); idf spelled with the identical cast tree
    "q131_weighted_jaccard" ->
      s"""WITH pairs AS (
         |$Q34OracleSql),
         |post AS (
         |  SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' ')))
         |    AS t
         |  FROM documents),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |idf AS (
         |  SELECT t, LN(CAST(n_docs + 1 AS DOUBLE)
         |    / CAST(COUNT(*) + 1 AS DOUBLE)) AS idf
         |  FROM post CROSS JOIN n GROUP BY t, n_docs),
         |docw AS (
         |  SELECT doc_id, ${graft.Fns.dsum18Sql("idf")} AS w
         |  FROM post JOIN idf USING (t) GROUP BY doc_id),
         |inter AS (
         |  SELECT p.source, p.a_id, p.b_id,
         |    ${graft.Fns.dsum18Sql("idf.idf")} AS inter_w
         |  FROM pairs p
         |  JOIN post pa ON pa.doc_id = p.a_id
         |  JOIN post pb ON pb.doc_id = p.b_id AND pb.t = pa.t
         |  JOIN idf ON idf.t = pa.t
         |  GROUP BY 1, 2, 3)
         |SELECT i.source, i.a_id, i.b_id,
         |  ROUND(i.inter_w / (wa.w + wb.w - i.inter_w), 4)
         |    AS weighted_jaccard
         |FROM inter i
         |JOIN docw wa ON wa.doc_id = i.a_id
         |JOIN docw wb ON wb.doc_id = i.b_id
         |ORDER BY i.source, i.a_id, i.b_id""".stripMargin,

    "q132_zipf_slope" ->
      s"""WITH c AS (
         |  SELECT source, t, COUNT(*) AS c
         |  FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
         |        FROM documents)
         |  GROUP BY source, t),
         |r AS (
         |  SELECT source,
         |    LN(CAST(ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY c DESC, t ASC) AS DOUBLE)) AS x,
         |    LN(CAST(c AS DOUBLE)) AS y
         |  FROM c),
         |a AS (
         |  SELECT source, COUNT(*) AS n_types,
         |    ${graft.Fns.dsum18Sql("x")} AS sx,
         |    ${graft.Fns.dsum18Sql("y")} AS sy,
         |    ${graft.Fns.dsum18Sql("x * y")} AS sxy,
         |    ${graft.Fns.dsum18Sql("x * x")} AS sxx
         |  FROM r GROUP BY source)
         |SELECT source, CAST(n_types AS BIGINT) AS n_types,
         |  ROUND((CAST(n_types AS DOUBLE) * sxy - sx * sy)
         |    / (CAST(n_types AS DOUBLE) * sxx - sx * sx), 4) AS zipf_slope
         |FROM a ORDER BY source""".stripMargin,

    "q141_doc_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.token,
        |    tf.tf * LN(CAST(n.n AS DOUBLE) / df.df) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, token, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, token ASC) AS rnk
        |  FROM sc)
        |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, token,
        |  ROUND(tfidf, 4) AS tfidf
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q142_conditional_entropy" ->
      s"""WITH d AS (
         |  SELECT source, STRING_SPLIT(text, ' ') AS tok FROM documents
         |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
         |bg AS (
         |  SELECT source, tok[i] AS x, tok[i + 1] AS y
         |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS g(i)),
         |cxy AS (
         |  SELECT source, x, y, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2, 3),
         |w AS (
         |  SELECT source, c_xy,
         |    SUM(c_xy) OVER (PARTITION BY source, x) AS c_x,
         |    CAST(SUM(c_xy) OVER (PARTITION BY source) AS BIGINT) AS n_s
         |  FROM cxy),
         |sm AS (
         |  SELECT source, n_s,
         |    -(CAST(c_xy AS DOUBLE) / CAST(n_s AS DOUBLE))
         |      * LN(CAST(c_xy AS DOUBLE) / CAST(c_x AS DOUBLE)) AS summand
         |  FROM w)
         |SELECT source, n_s AS n_bigrams,
         |  ${graft.Fns.dsum18Sql("summand")} AS h_cond
         |FROM sm GROUP BY source, n_s ORDER BY source""".stripMargin,

    "q144_burstiness" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |  FROM documents),
        |td AS (SELECT t, doc_id, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |st AS (
        |  SELECT t, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS tf,
        |    CAST(SUM(c * c) AS BIGINT) AS s2
        |  FROM td GROUP BY 1)
        |SELECT t, df, tf,
        |  (CAST(s2 AS DOUBLE) / CAST(df AS DOUBLE)
        |     - (CAST(tf AS DOUBLE) / CAST(df AS DOUBLE))
        |       * (CAST(tf AS DOUBLE) / CAST(df AS DOUBLE)))
        |    / (CAST(tf AS DOUBLE) / CAST(df AS DOUBLE)) AS burstiness
        |FROM st WHERE df >= 10 ORDER BY t""".stripMargin,

    // q33's quality expression, percent-ranked within source (doc_id
    // tiebreak makes every rank distinct -> engine-independent)
    "q150_score_calibrate" ->
      """WITH d AS (
        |  SELECT doc_id, source, STRING_SPLIT(text, ' ') AS tok
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source,
        |    CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok) * 0.5
        |      + (1.0 - CAST(LEN(LIST_FILTER(tok,
        |          t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |          / LEN(tok)) * 0.5 AS quality
        |  FROM d)
        |SELECT doc_id, source, quality,
        |  PERCENT_RANK() OVER (PARTITION BY source
        |                       ORDER BY quality, doc_id) AS calibrated
        |FROM q ORDER BY doc_id""".stripMargin,

    "q158_source_quality_profile" ->
      s"""WITH d AS (
         |  SELECT source, STRING_SPLIT(text, ' ') AS tok FROM documents),
         |q AS (
         |  SELECT source,
         |    CAST(LEN(LIST_DISTINCT(tok)) AS DOUBLE) / LEN(tok) * 0.5
         |      + (1.0 - CAST(LEN(LIST_FILTER(tok,
         |          t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
         |          / LEN(tok)) * 0.5 AS quality
         |  FROM d)
         |SELECT source, COUNT(*) AS n_docs,
         |  ROUND(QUANTILE_CONT(quality, 0.25), 4) AS q25,
         |  ROUND(QUANTILE_CONT(quality, 0.5), 4) AS median,
         |  ROUND(QUANTILE_CONT(quality, 0.75), 4) AS q75,
         |  ROUND(${graft.Fns.dsum18Sql("quality")}
         |    / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS mean_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin,

    // q42's scoring CTE, rolled up to the (declared, predicted) matrix
    "q163_langid_confusion" ->
      """WITH d AS (
        |  SELECT lang, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |s AS (
        |  SELECT lang,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('the','a','of'))) AS BIGINT)
        |      AS s_en,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('table','row'))) AS BIGINT)
        |      AS s_de,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('data','value'))) AS BIGINT)
        |      AS s_es,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('filter','join'))) AS BIGINT)
        |      AS s_fr,
        |    CAST(LEN(LIST_FILTER(tok, t -> t IN ('spark','vector'))) AS BIGINT)
        |      AS s_zh
        |  FROM d),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN s_de >= GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
        |         WHEN s_en >= GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
        |         WHEN s_es >= GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
        |         WHEN s_fr >= GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
        |         ELSE 'zh' END AS pred_lang
        |  FROM s),
        |g AS (SELECT lang, pred_lang, COUNT(*) AS n FROM p GROUP BY 1, 2)
        |SELECT lang, pred_lang, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS share
        |FROM g ORDER BY lang, pred_lang""".stripMargin,

    // the same CAST shapes as Spark's expression tree: F1(F1−1) exact in
    // BIGINT then one divide and one add in DOUBLE
    "q276_chao1_vocab" ->
      """WITH c AS (
        |  SELECT source, t, COUNT(*) AS c
        |  FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY source, t),
        |m AS (
        |  SELECT source, COUNT(*) AS v_obs,
        |    COUNT(CASE WHEN c = 1 THEN 1 END) AS f1,
        |    COUNT(CASE WHEN c = 2 THEN 1 END) AS f2
        |  FROM c GROUP BY source)
        |SELECT source, v_obs, f1, f2,
        |  ROUND(CAST(v_obs AS DOUBLE) + CAST(f1 * (f1 - 1) AS DOUBLE)
        |    / (2.0 * CAST(f2 + 1 AS DOUBLE)), 4) + 0.0 AS chao1,
        |  ROUND(CAST(v_obs AS DOUBLE) / (CAST(v_obs AS DOUBLE)
        |    + CAST(f1 * (f1 - 1) AS DOUBLE)
        |    / (2.0 * CAST(f2 + 1 AS DOUBLE))), 4) + 0.0 AS coverage
        |FROM m ORDER BY source""".stripMargin,

    "q168_hapax_census" ->
      """WITH d AS (
        |  SELECT source, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |g AS (
        |  SELECT source, 2 AS n, tok[i] || ' ' || tok[i + 1] AS gram
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS t(i)
        |  UNION ALL
        |  SELECT source, 3 AS n,
        |    tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2] AS gram
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 2)) AS t(i)),
        |c AS (
        |  SELECT source, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
        |a AS (
        |  SELECT source, n, COUNT(*) AS n_vocab,
        |    CAST(SUM(c) AS BIGINT) AS n_occurrences,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dis
        |  FROM c GROUP BY 1, 2)
        |SELECT source, n, n_vocab, n_occurrences, n_hapax, n_dis,
        |  CAST(n_hapax AS DOUBLE) / CAST(n_vocab AS DOUBLE)
        |    AS hapax_vocab_share,
        |  CAST(n_hapax AS DOUBLE) / CAST(n_occurrences AS DOUBLE)
        |    AS hapax_mass_share
        |FROM a ORDER BY source, n""".stripMargin,

    "q180_feature_hash" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT DISTINCT t FROM tf),
        |signs AS (
        |  SELECT t, j,
        |    CAST(('0x' || SUBSTRING(MD5(t), 1 + 2 * j, 2)) AS BIGINT)
        |      % 2 * 2 - 1 AS sgn
        |  FROM vocab, UNNEST(GENERATE_SERIES(0, 15)) AS g(j)),
        |dv AS (
        |  SELECT tf.doc_id, s.j, CAST(SUM(tf.c * s.sgn) AS BIGINT) AS v
        |  FROM tf JOIN signs s ON s.t = tf.t GROUP BY 1, 2)
        |SELECT doc_id,
        |  STRING_AGG(CAST(v AS VARCHAR), ',' ORDER BY j) AS vec,
        |  ROUND(SQRT(CAST(SUM(v * v) AS DOUBLE)), 4) AS norm
        |FROM dv GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q102's PMI chain filtered to edges, then the q71 reachability
    // fixpoint over WORDS (MIN works on VARCHAR like on ids)
    "q183_word_communities" ->
      """WITH RECURSIVE d AS (
        |  SELECT STRING_SPLIT(text, ' ') AS tok FROM documents
        |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
        |bg AS (
        |  SELECT tok[i] AS x, tok[i + 1] AS y
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS g(i)),
        |cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
        |u0 AS (
        |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
        |uni AS (SELECT t, COUNT(*) AS c FROM u0 GROUP BY 1),
        |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n1 FROM uni),
        |n2 AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n2 FROM cxy),
        |pm AS (
        |  SELECT cxy.x, cxy.y FROM cxy
        |  JOIN uni ux ON ux.t = cxy.x
        |  JOIN uni uy ON uy.t = cxy.y
        |  CROSS JOIN n1 CROSS JOIN n2
        |  WHERE cxy.c_xy >= 5 AND cxy.x <> cxy.y
        |    AND ROUND(LN(CAST(c_xy AS DOUBLE) * CAST(n1.n1 AS DOUBLE)
        |          * CAST(n1.n1 AS DOUBLE)
        |        / (CAST(n2.n2 AS DOUBLE) * CAST(ux.c AS DOUBLE)
        |          * CAST(uy.c AS DOUBLE))), 4) + 0.0 >= 0.35),
        |e AS (
        |  SELECT x AS src, y AS dst FROM pm
        |  UNION ALL SELECT y, x FROM pm),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |reach AS (
        |  SELECT id, id AS r FROM nodes
        |  UNION
        |  SELECT e.dst AS id, reach.r FROM reach JOIN e ON e.src = reach.id),
        |cc AS (SELECT id AS word, MIN(r) AS community FROM reach GROUP BY id)
        |SELECT word, community,
        |  COUNT(*) OVER (PARTITION BY community) AS community_size
        |FROM cc ORDER BY community, word""".stripMargin,

    "q197_heavy_hitters" ->
      """WITH t AS (
        |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
        |n AS (SELECT COUNT(*) AS n_tok FROM t),
        |g AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1)
        |SELECT tok, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / CAST(n_tok AS DOUBLE), 10) + 0.0
        |    AS share
        |FROM g CROSS JOIN n
        |WHERE cnt * 100 > n_tok
        |ORDER BY tok""".stripMargin,

    "q217_code_switch" ->
      """WITH d AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS tok FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |    LOWER(ARRAY_TO_STRING(
        |      LIST_SLICE(tok, i * 10 + 1, i * 10 + 10), ' ')) AS chunk
        |  FROM d, UNNEST(GENERATE_SERIES(0, (LEN(tok) - 1) // 10))
        |    AS g(i)),
        |sc AS (
        |  SELECT doc_id, chunk_idx,
        |    LIST_TRANSFORM(
        |      RANGE(1, GREATEST(LENGTH(chunk) - 2, 0) + 1),
        |      i -> SUBSTRING(chunk, i, 3)) AS grams
        |  FROM ch),
        |s AS (
        |  SELECT doc_id, chunk_idx,
        |    CAST(LEN(LIST_FILTER(grams,
        |      x -> x IN ('the','he ',' th','of ','and'))) AS BIGINT)
        |      AS g_en,
        |    CAST(LEN(LIST_FILTER(grams,
        |      x -> x IN ('tab','row',' ro','le '))) AS BIGINT) AS g_da,
        |    CAST(LEN(LIST_FILTER(grams,
        |      x -> x IN ('dat','val',' va','ta '))) AS BIGINT) AS g_es
        |  FROM sc),
        |p AS (
        |  SELECT doc_id, chunk_idx,
        |    CASE WHEN g_en >= GREATEST(g_en, g_da, g_es) THEN 'en'
        |         WHEN g_da >= GREATEST(g_en, g_da, g_es) THEN 'da'
        |         ELSE 'es' END AS pred
        |  FROM s),
        |isl AS (
        |  SELECT doc_id, pred,
        |    CASE WHEN LAG(pred) OVER w IS NULL
        |        OR LAG(pred) OVER w <> pred THEN 1 ELSE 0 END AS chg
        |  FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_idx)),
        |segs AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks,
        |    CAST(SUM(chg) AS BIGINT) AS n_segments,
        |    CAST(COUNT(DISTINCT pred) AS BIGINT) AS n_langs
        |  FROM isl GROUP BY 1),
        |pl AS (
        |  SELECT doc_id, pred, COUNT(*) AS c FROM p GROUP BY 1, 2),
        |dm AS (
        |  SELECT doc_id, pred AS dominant_lang,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY c DESC, pred) AS rk
        |  FROM pl)
        |SELECT segs.doc_id, n_chunks, n_segments, n_langs,
        |  dm.dominant_lang,
        |  CASE WHEN n_langs > 1 THEN 1 ELSE 0 END AS code_switched
        |FROM segs JOIN dm
        |  ON segs.doc_id = dm.doc_id AND dm.rk = 1
        |ORDER BY segs.doc_id""".stripMargin,

    // the same three regex counts; both engines agree on these simple
    // character-class patterns
    "q231_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_words,
        |    GREATEST(1, CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+'))
        |      AS BIGINT)) AS n_sentences,
        |    GREATEST(1, CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
        |      '[aeiouy]+')) AS BIGINT)) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(206.835
        |    - 1.015 * CAST(n_words AS DOUBLE)
        |      / CAST(n_sentences AS DOUBLE)
        |    - 84.6 * CAST(n_syllables AS DOUBLE)
        |      / CAST(n_words AS DOUBLE), 4) + 0.0 AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,

    "q242_char_entropy" -> (
      """WITH ch AS (
        |  SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(text, '.')) AS ch
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
        |m AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
        |    COUNT(*) AS n_distinct_chars,
        |    """.stripMargin +
        graft.Fns.dsum18Sql("CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))") +
        """ AS sclnc
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  ROUND((LN(CAST(n_chars AS DOUBLE))
        |    - sclnc / CAST(n_chars AS DOUBLE)) / LN(2.0), 6) + 0.0
        |    AS entropy_bits
        |FROM m ORDER BY doc_id""".stripMargin),

    // same exact-long LM (add-1 over the shared vocab), same per-row
    // ln(p), same scale-18 carries at doc and source grain
    "q256_unigram_ce" -> (
      """WITH dt AS (
        |  SELECT doc_id, source, w, COUNT(*) AS c
        |  FROM (SELECT doc_id, source,
        |          UNNEST(STRING_SPLIT(text, ' ')) AS w
        |        FROM documents)
        |  WHERE LEN(w) > 0 GROUP BY 1, 2, 3),
        |vocab AS (
        |  SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM dt GROUP BY 1),
        |stats AS (
        |  SELECT CAST(SUM(cw) AS BIGINT) AS n_tok, COUNT(*) AS v
        |  FROM vocab),
        |lm AS (
        |  SELECT w, LN(CAST(cw + 1 AS DOUBLE) /
        |    CAST(n_tok + v AS DOUBLE)) AS lnp
        |  FROM vocab, stats),
        |docce AS (
        |  SELECT doc_id, source, CAST(SUM(c) AS BIGINT) AS len,
        |    """.stripMargin +
        graft.Fns.dsum18Sql("-CAST(c AS DOUBLE) * lnp") +
        """ AS nll
        |  FROM dt JOIN lm USING (w) GROUP BY 1, 2),
        |ce AS (
        |  SELECT doc_id, source, nll / CAST(len AS DOUBLE) AS ce
        |  FROM docce)
        |SELECT source, COUNT(*) AS n_docs,
        |  ROUND(""".stripMargin +
        graft.Fns.dsum18Sql("ce") +
        """ / CAST(COUNT(*) AS DOUBLE), 6) + 0.0 AS avg_ce,
        |  ROUND(MIN(ce), 6) + 0.0 AS min_ce,
        |  ROUND(MAX(ce), 6) + 0.0 AS max_ce
        |FROM ce GROUP BY 1 ORDER BY source""".stripMargin),

    // identical pooled expectations and x·ln(x/E) terms on exact longs;
    // direction by the same integer cross-multiplication
    "q265_keyness" ->
      """WITH tk AS (
        |  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
        |  FROM documents),
        |c AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS b
        |  FROM tk WHERE LEN(t) > 0 GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(a) AS BIGINT) AS nt,
        |    CAST(SUM(b) AS BIGINT) AS nr FROM c),
        |g AS (
        |  SELECT t, a, b,
        |    2.0 * (
        |      (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) *
        |        LN(CAST(a AS DOUBLE) /
        |          (CAST(nt AS DOUBLE) * CAST(a + b AS DOUBLE) /
        |           CAST(nt + nr AS DOUBLE))) ELSE 0.0 END) +
        |      (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) *
        |        LN(CAST(b AS DOUBLE) /
        |          (CAST(nr AS DOUBLE) * CAST(a + b AS DOUBLE) /
        |           CAST(nt + nr AS DOUBLE))) ELSE 0.0 END)) AS g2,
        |    CASE WHEN a * nr > b * nt THEN 'target' ELSE 'rest' END
        |      AS leans
        |  FROM c, tot)
        |SELECT t, a, b, ROUND(g2, 6) + 0.0 AS g2, leans
        |FROM g ORDER BY g2 DESC, t LIMIT 20""".stripMargin)
}
