package graft.llm

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings fixture (SURVEY.md §2.3):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path (candidates come from matching
  * sign-buckets instead of the full cross product).
  *
  * All vector math runs in double precision via higher-order functions
  * (`zip_with` + `aggregate`) — 64-term double sums carry ~1e-15 error, far
  * below the ROUND(.,4) grid and the gaps between neighbor cosines, so
  * ranking and rounded values are cross-engine deterministic.
  */
object SimilarityQueries extends QueryModule {

  val Dim = 64

  /** embedding (float array) -> double array column. */
  private def asDouble(c: Column): Column =
    transform(c, (x: Column) => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x: Column, y: Column) => x * y),
      lit(0.0), (acc: Column, x: Column) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc: Column, x: Column) => acc + x * x))

  /** Higher-order-function formulation — kept as the reference semantics
    * (and for the bit-equality test against the native expression). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Production path: the fused native expression (one codegen'd loop, no
    * intermediate arrays — graft.functions.CosineSimilarity). Bit-identical
    * to [[cosineHof]]: same sequential accumulation order.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosineSim(a, b)

  /** Mutual-kNN edge list — the undirected graph corpus-curation starts
    * from (mutual-neighbor clustering, kNN-graph community detection,
    * SemDeDup's neighborhood variant): an edge (a, b) exists iff b is in
    * a's top-k cosine neighbors AND a is in b's — mutuality kills the
    * hub-vector edges a one-sided kNN graph drowns in. Blocked by the IVF
    * cell key (label — q70's coarse cells at 100 TB): the quadratic
    * scoring term is confined to one cell, the kNN rank is a per-vector
    * window over cell-local rows, and the mutuality check is a self-join
    * of the n*k edge LIST — corpus-linear, never pair-quadratic. Returns
    * one row per undirected edge (a_id < b_id) with the unrounded cosine
    * (the fused CosineSimilarity expression accumulates in DuckDB
    * LIST_COSINE_SIMILARITY's order, so both engines rank identically).
    *
    * This is the EXACT twin — label-blocked all-pairs scoring, N²/|labels|
    * cosines, declared as q129 for its oracle-checkable semantics. The
    * PRODUCTION build at scale is [[mutualKnnEdgesScaledK]] (k-means
    * cells, k ∝ √N, N^1.5 candidates), itself declared + oracle-checked
    * as q244; at 100 TB you run THAT and keep this as the small-sample
    * ground-truth for recall audits.
    */
  def mutualKnnEdges(embeddings: DataFrame, k: Int): DataFrame = {
    val e = embeddings
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("v"))
    val a = e.select(col("label"), col("vec_id").as("a_id"), col("v").as("av"))
    val b = e.select(col("label"), col("vec_id").as("b_id"), col("v").as("bv"))
    val w = Window.partitionBy(col("label"), col("a_id"))
      .orderBy(col("cos").desc, col("b_id").asc)
    val knn = a.join(b, Seq("label")).filter(col("a_id") =!= col("b_id"))
      .withColumn("cos", cosine(col("av"), col("bv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
    val rev = knn.select(col("label"), col("a_id").as("b_id"),
      col("b_id").as("a_id"))
    knn.join(rev, Seq("label", "a_id", "b_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
  }

  /** [[mutualKnnEdges]] with the PRODUCTION candidate generation: each
    * vector's kNN comes from its 2 probed scaled-k IVF cells
    * ([[knnScoredScaledK]] — k-means cells, `cells` ∝ √N) instead of the
    * exact label-blocked all-pairs scoring. The exact build does
    * N²/|labels| cosines (the quadratic ScaleProof flagged on q214's
    * 20× point); this one does N·√N — per vector O(√N) candidates, the
    * IVF balance point — which is how billion-node kNN graphs are built
    * (approximate-kNN first, graph ops after). Same output contract:
    * oriented mutual edges (label, a_id, b_id); every downstream graph
    * op (triangles, k-core, link prediction, clustering coefficient,
    * assortativity) takes the edge frame as input and is agnostic to
    * which builder produced it.
    */
  def mutualKnnEdgesScaledK(embeddings: DataFrame, k: Int,
                            cells: Int, iters: Int): DataFrame = {
    val scored = knnScoredScaledK(embeddings, cells, iters)
    val cands = scored.filter(col("rnk") === 1)
      .select(col("cell"), col("vec_id").as("b_id"), col("u").as("bu"))
    val probes = scored
      .select(col("cell"), col("vec_id").as("a_id"),
        col("label").as("label"), col("u").as("au"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("b_id").asc)
    val knn = probes.join(cands, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cos", dot(col("au"), col("bu")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
    val rev = knn.select(col("a_id").as("b_id"), col("b_id").as("a_id"))
    knn.join(rev, Seq("a_id", "b_id"))
      .filter(col("a_id") < col("b_id"))
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
  }

  /** Brute-force top-k cosine neighbors for each query vector. The query
    * side is tiny -> broadcast; ranking via per-query row_number (planner:
    * one shuffle on query_id, per-partition top-k heaps under AQE).
    */
  def topK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("cos"), 4).as("cosine"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Random-hyperplane LSH: bucket = sign bits of dot(v, plane_j). Planes
    * are deterministic pseudo-random (fixed-seed), embedded as literals.
    * Neighbor candidates share the bucket -> join on bucket id, then exact
    * cosine re-rank inside the bucket.
    */
  def lshBuckets(e: DataFrame, nPlanes: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nPlanes)(Array.fill(Dim)(rnd.nextGaussian()))
    val bucketBits = (0 until nPlanes).map { j =>
      val p = typedlit(planes(j).toSeq)
      when(dot(col("v"), p) >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    e.withColumn("bucket", bucketBits.reduce((a, b) => a.bitwiseOR(b)))
  }

  /** [[lshBuckets]] over L independent tables: one (table, bucket) row per
    * vector per table (the classic L× index-size trade). A single sign-bit
    * table has miss probability (1 − p^b) that is close to 1 for realistic
    * neighbor angles — measured recall@10 on the fixture was ~0 — while L
    * tables miss only (1 − p^b)^L: the union of bucket-mates restores
    * recall without touching latency shape (every join stays equi-keyed on
    * (table, bucket)).
    */
  def lshBucketsMulti(e: DataFrame, nPlanes: Int, tables: Int,
                      seed: Long, activeDims: Int = Dim): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val tb = (0 until tables).map { t =>
      // Each plane always draws Dim gaussians (keeping the RNG sequence
      // — and therefore every bucket assignment — identical for any
      // activeDims), then truncates to the caller's active prefix:
      // a vector whose trailing dims are structurally zero (q315's
      // 16-dim hashed embeddings) projects identically onto the
      // truncated plane, paying a quarter of the multiplies (r14).
      val planes = Array.fill(nPlanes)(
        Array.fill(Dim)(rnd.nextGaussian()).take(activeDims))
      val bits = (0 until nPlanes).map { j =>
        val p = typedlit(planes(j).toSeq)
        when(dot(col("v"), p) >= 0, lit(1L << j)).otherwise(lit(0L))
      }
      struct(lit(t).as("tbl"), bits.reduce(_.bitwiseOR(_)).as("bucket"))
    }
    e.select(col("*"), explode(array(tb: _*)).as("tb"))
      .select(e.columns.map(col) :+ col("tb.tbl").as("tbl") :+
        col("tb.bucket").as("bucket"): _*)
  }

  /** ANN top-k via multi-table hyperplane LSH (16 tables × 6 sign bits by
    * default): candidates are the UNION of each table's bucket-mates
    * (deduped), then the exact fused cosine reranks and keeps k. The
    * single-table configuration this replaced had measured recall@10 ≈ 0
    * at every fixture scale (ProbeAnn@cf1ba66) — a correct-but-useless index;
    * q267 declares the multi-table configuration's measured recall floor
    * as a driver-checked contract. Scale shape: the index is L rows per
    * vector (the documented LSH memory trade), every join equi-keyed,
    * queries broadcast.
    */
  def annTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 6, tables: Int = 16,
              seed: Long = 42L, activeDims: Int = Dim): DataFrame = {
    val e = lshBucketsMulti(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v")),
      nPlanes, tables, seed, activeDims)
    val q = lshBucketsMulti(
      queries.select(col("vec_id"), asDouble(col("embedding")).as("v")),
      nPlanes, tables, seed, activeDims)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("tbl"),
        col("bucket"))
    val scored = e.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("v"), col("qv"))
      // union of tables: each candidate scored once (v/qv are functionally
      // determined by the ids, so the pick is deterministic)
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("cos"), 4).as("cosine"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Grouped similarity: per label, the strongest cross-pair among the
    * label's first 20 vectors — exercises filtered/grouped search.
    */
  def strongestPairPerLabel(embeddings: DataFrame): DataFrame = {
    val e = embeddings.filter(col("vec_id") % 100 < 20)
      .select(col("label"), col("vec_id"), asDouble(col("embedding")).as("v"))
    val a = e.select(col("label"), col("vec_id").as("a_id"), col("v").as("av"))
    val b = e.select(col("label"), col("vec_id").as("b_id"), col("v").as("bv"))
    val pairs = a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine(col("av"), col("bv")))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos").desc, col("a_id").asc, col("b_id").asc)
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("label"), col("a_id"), col("b_id"),
        round(col("cos"), 4).as("cosine"))
      .orderBy("label")
  }

  /** Per-label centroids, one row per (label, dimension): posexplode the
    * vectors and average per dimension with the exact-decimal mean, so the
    * centroid is cross-engine deterministic. (davg's DECIMAL(27,6) cast
    * ROUNDS the full-precision components — safe cross-engine because a
    * binary float can never sit exactly on a 6-decimal half boundary:
    * (2k+1)/(2*10^6) has a factor 5^-6 and dyadic rationals don't — so
    * both engines round the same double the same way, and the sum of
    * identically-rounded decimals is exact.) This is the training half of
    * an IVF index (labels standing in for learned coarse cells): one
    * generator pass + one aggregation, shuffling (label, dim) pairs — never
    * whole vectors.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(graft.Fns.davg(col("x").cast("double")).as("centroid"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        col("centroid"), col("n"))

  /** Upper-triangle exact covariance of the embedding dimensions:
    * (i, j, cov) for j >= i, unrounded. Pair generation is scan-local —
    * posexplode the vector, then posexplode the slice from each position —
    * so no self-join exists and the N*d(d+1)/2 product rows flow straight
    * into a partial aggregation on d(d+1)/2 keys. First moments don't
    * depend on the pair: sum(x_i) per (i,j) group equals the per-dim sum
    * (the decimal reduction is exact, hence order-independent), so only
    * the product moment rides the pair stream; Σx and n come from the
    * d-row aggregation and broadcast back onto the d(d+1)/2-row result.
    * The repartition before the double-explode matters locally: the
    * fixture parquet is one split, and the blow-up must happen AFTER the
    * rows are spread across cores (at 100 TB the scan's own splits
    * provide this; the shuffle moves N skinny rows, far cheaper than
    * single-threading N*2080).
    */
  def covUpper(embeddings: DataFrame): DataFrame = {
    // r14: the hard-coded repartition(32) this carried is gone —
    // Tables.t's scale-adaptive scan fanout now spreads the single-split
    // fixture scan across the session's cores for every consumer, so the
    // double-explode already starts parallel (and 32 was exactly the
    // local-constant the fanout parameterizes away).
    val e = embeddings.select(asDouble(col("embedding")).as("v"))
    val fst = e.select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
    val dims = fst.groupBy(col("i"))
      .agg(count(lit(1)).as("n"), graft.Fns.dsum18(col("xi")).as("sx"))
    val pairs = fst.select(col("i"), col("xi"),
      posexplode(slice(col("v"), col("i") + 1, lit(Dim)))
        .as(Seq("p", "xj")))
    val nD = col("n").cast("double")
    val cov = col("sxy") / nD - (col("sx") / nD) * (col("sy") / nD)
    pairs
      .groupBy(col("i"), (col("i") + col("p")).as("j"))
      .agg(graft.Fns.dsum18(col("xi") * col("xj")).as("sxy"))
      .join(broadcast(dims), "i")
      .join(broadcast(dims.select(col("i").as("j"), col("sx").as("sy"))),
        "j")
      .select(col("i").cast("long").as("i"),
        col("j").cast("long").as("j"), cov.as("cov"))
  }

  /** PC1 of the embedding covariance: (axis, lambda, mean). The
    * corpus-sized work is [[covUpper]]'s distributed moment pass; what's
    * collected is d(d+1)/2 = 2,080 metadata rows plus the d-row mean —
    * dimension-bounded, corpus-independent — and the eigen-iteration is
    * driver arithmetic on that metadata (the same altitude as q90's
    * driver-held centroid array). Deterministic: fixed uniform start,
    * fixed 2000 iterations (the spectral gap can be small - the PcaSpec residual bound certifies convergence), sign fixed by pointing the largest-magnitude
    * component positive.
    */
  def pc1Axis(embeddings: DataFrame): (Array[Double], Double, Array[Double]) = {
    val (v, l, m, _) = pc1AxisCov(embeddings)
    (v, l, m)
  }

  /** [[pc1Axis]] plus the collected covariance matrix, so contract
    * queries (q269) can check the eigenpair residual without a SECOND
    * corpus-sized covariance pass. */
  def pc1AxisCov(embeddings: DataFrame)
      : (Array[Double], Double, Array[Double], Array[Array[Double]]) = {
    val d = Dim
    val cov = Array.ofDim[Double](d, d)
    covUpper(embeddings).collect().foreach { r =>
      val i = r.getLong(0).toInt
      val j = r.getLong(1).toInt
      cov(i)(j) = r.getDouble(2)
      cov(j)(i) = r.getDouble(2)
    }
    val mean = new Array[Double](d)
    embeddings.select(asDouble(col("embedding")).as("v"))
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(graft.Fns.davg(col("x")).as("m"))
      .collect().foreach(r => mean(r.getInt(0)) = r.getDouble(1))
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    for (_ <- 1 to 2000) {
      val w = Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += cov(i)(j) * v(j); j += 1 }
        acc
      }
      lambda = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / lambda)
    }
    val k = v.indices.maxBy(i => math.abs(v(i)))
    if (v(k) < 0) v = v.map(x => -x)
    (v, lambda, mean, cov)
  }

  /** Every vector scored against every label centroid (the centroid table
    * is tiny — one row per label — and broadcast), ranked per vector by
    * cosine. Shared by coarse assignment (rnk = 1) and multi-probe search
    * (rnk <= nprobe) — the same plan either way.
    */
  private def ivfScored(embeddings: DataFrame): DataFrame = {
    val cArr = labelCentroids(embeddings)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid"))))
        .as("dc"))
      .select(col("label").as("c_label"),
        expr("transform(dc, s -> s.centroid)").as("cv"))
    val v = embeddings.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("c_label").asc)
    v.crossJoin(broadcast(cArr))
      .withColumn("cos", cosine(col("v"), col("cv")))
      .withColumn("rnk", row_number().over(w))
  }

  /** IVF coarse assignment: nearest centroid per vector — the probe half
    * of an IVF index at nprobe = 1. */
  def ivfAssign(embeddings: DataFrame): DataFrame =
    ivfScored(embeddings)
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("label"),
        col("c_label").as("assigned_label"),
        round(col("cos"), 4).as("cosine"),
        (col("label") === col("c_label")).as("own_label"))
      .orderBy("vec_id")

  /** Multi-probe IVF: each vector keeps its `nprobe` nearest cells — the
    * recall dial of IVF search (the candidate set unions the probed
    * cells' postings; more probes, more recall, linearly more work).
    * Identical plan to [[ivfAssign]], only the rank cutoff differs.
    */
  def ivfProbe(embeddings: DataFrame, nprobe: Int): DataFrame =
    ivfScored(embeddings)
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id"),
        col("c_label").as("probe_label"),
        col("rnk").cast("long").as("probe_rank"),
        round(col("cos"), 4).as("cosine"))
      .orderBy("vec_id", "probe_rank")

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, one-pass
    * variant): block vectors by their IVF cell (nearest centroid — the
    * paper's k-means cluster), then inside each cell drop every vector
    * whose cosine to some LOWER-id cell-mate reaches the threshold; the
    * lowest id of each similar group survives as the representative.
    *
    * Scale shape: the quadratic term is confined to one cell — exactly
    * the confinement the paper uses to run on billions of embeddings —
    * and cell count grows with the corpus (here the label-trained
    * centroids of [[labelCentroids]]; a real deployment trains k ∝ √N).
    * Everything else is the broadcast centroid probe of [[ivfAssign]]
    * plus one aggregation, no all-pairs term across cells.
    */
  def semDedup(embeddings: DataFrame, threshold: Double): DataFrame =
    semDedupOnCells(
      ivfScored(embeddings)
        .filter(col("rnk") === 1)
        .select(col("vec_id"), col("c_label").as("cell"), col("v")),
      threshold)

  /** The cell-confined pairwise half of [[semDedup]], over any cell
    * structure (vec_id, cell, v) — label centroids in the declared q89,
    * scaled-k unsupervised cells in [[semDedupScaledK]]. */
  private def semDedupOnCells(cells: DataFrame, threshold: Double): DataFrame = {
    val a = cells.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("av"))
    val b = cells.select(col("cell"), col("vec_id").as("b_id"),
      col("v").as("bv"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id") &&
        cosine(col("av"), col("bv")) >= threshold)
      .select(col("b_id").as("vec_id"))
      .distinct()
      .withColumn("kept", lit(false))
    cells.select(col("vec_id"), col("cell"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("kept"), lit(true)).as("kept"))
      .orderBy("vec_id")
  }

  /** [[semDedup]] with the production cell structure: k-means cells,
    * k ∝ √N ([[kmeansCentroids]], the q90 trainer). With k = √N the
    * expected cell population is N/k = √N, so the per-cell quadratic
    * term is N/k² · N = N per cell-population — total candidate volume
    * O(N^1.5) instead of the fixed-k O(N²/k); per VECTOR the confined
    * work is O(√N). This is the configuration the SemDeDup paper runs at
    * billions of embeddings; SCALE_PROOF.md carries the measured curve.
    */
  def semDedupScaledK(embeddings: DataFrame, threshold: Double,
                      k: Int, iters: Int): DataFrame = {
    val v = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val cells = assignToCentroids(v, kmeansCentroids(embeddings, k, iters))
      .select(col("vec_id"), col("cid").as("cell"), col("v"))
    semDedupOnCells(cells, threshold)
  }

  /** Distributed spherical k-means (Lloyd's algorithm) — the actual
    * unsupervised trainer behind an IVF index, where [[labelCentroids]]
    * stands in with supervised cells. Deterministic by construction:
    * centroids initialize from the k lowest vec_ids, assignment is
    * nearest-by-cosine with a cid tie-break, and the centroid update is
    * the exact-decimal per-dimension mean (order-independent, so any
    * partitioning of a 100 TB input trains the identical model).
    *
    * Scale shape per iteration: one broadcast probe of the centroid
    * table (k rows — independent of corpus size) + one (cid, dim)
    * scalar-pair aggregation — never a whole-vector shuffle. Each
    * iteration's centroid table is localCheckpointed (k·d doubles, the
    * cheapest checkpoint there is) so plan depth stays bounded at ANY
    * iteration count — without it the lineage re-nests the full
    * assignment chain per round (the q71 lesson).
    */
  def kmeans(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    assignToCentroids(v, kmeansCentroids(embeddings, k, iters))
      .select(col("vec_id"), col("cid").as("cluster"),
        round(col("cos"), 4).as("cosine"))
      .orderBy("vec_id")
  }

  /** Nearest-centroid assignment: one broadcast probe of the k-row
    * centroid table, nearest-by-cosine with a cid tie-break. */
  private def assignToCentroids(v: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cid").asc)
    v.crossJoin(broadcast(cents))
      .withColumn("cos", cosine(col("v"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("v"), col("cid"), col("cos"))
  }

  /** The trained centroid table (cid, cv) after `iters` Lloyd rounds —
    * [[kmeans]]'s model half, exposed so audits (q171's silhouette) can
    * probe ALL centroids, not just each vector's argmax. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val v = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    def recenter(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(graft.Fns.davg(col("x").cast("double")).as("c"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
        .select(col("cid"), expr("transform(dc, s -> s.c)").as("cv"))
    var cents = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    var it = 0
    while (it < iters) {
      // roll: checkpoint the new centroid table, free the superseded one
      // (the final table stays live — the returned assignment reads it)
      cents = graft.Checkpoints.roll(
        recenter(assignToCentroids(v, cents)), cents)
      it += 1
    }
    cents
  }

  /** Product quantization (Jégou et al. 2011) — the memory lever PAST
    * int8 (q83): each vector splits into `m` contiguous `subDim`-wide
    * subspaces, each subspace trains an independent `k`-code codebook
    * (one Lloyd iteration of L2 k-means seeded from the k lowest
    * vec_ids' sub-vectors — deterministic by construction, the q90
    * recipe), and every vector encodes as its nearest code per subspace:
    * 64 floats → 4 bytes here, 64× — the compression regime billion-
    * vector IVF-PQ indexes run at, where int8's fixed 4× stops helping.
    *
    * Scale shape per stage: the codebook is m·k rows (independent of
    * corpus size) and BROADCASTS to both the training assign and the
    * encode probe; the recenter shuffles (sub, cid, dim) scalar triples,
    * never whole vectors — identical posture to [[kmeans]]. Encoding is
    * one broadcast join + per-row window over m·k candidate rows.
    */
  /** Subspace squared-L2 — sequential index-order accumulation, matching
    * DuckDB's `LIST_SUM(LIST_TRANSFORM(...))` bit for bit (the q99
    * precedent). */
  private def subL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x: Column, y: Column) => (x - y) * (x - y)),
      lit(0.0), (acc: Column, z: Column) => acc + z)

  /** Per-vector subspace slices: (vec_id, sub, sv). */
  private def pqSubspaces(embeddings: DataFrame, m: Int,
                          subDim: Int): DataFrame =
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      // materialize v with the generator; slice in the NEXT projection
      // (slicing inside a lambda re-evaluates the cast per subspace)
      .select(col("vec_id"), col("v"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("vec_id"), col("sub"),
        slice(col("v"), col("sub") * subDim + 1, lit(subDim)).as("sv"))

  private def pqNearest(sub: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d").asc, col("cid").asc)
    sub.join(broadcast(cents), Seq("sub"))
      .withColumn("d", subL2(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  /** PQ codebooks (q99's one-Lloyd-round training): (sub, cid, cv). */
  def pqCodebooks(embeddings: DataFrame, m: Int, subDim: Int,
                  k: Int): DataFrame = {
    val sub = pqSubspaces(embeddings, m, subDim)
    val seeds = sub.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").as("cid"), col("sv").as("cv"))
    pqNearest(sub, seeds)
      .select(col("sub"), col("cid"),
        posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy(col("sub"), col("cid"), col("dim"))
      .agg(graft.Fns.davg(col("x")).as("c"))
      .groupBy(col("sub"), col("cid"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("sub"), col("cid"), expr("transform(dc, s -> s.c)").as("cv"))
  }

  /** q286's frozen index artifacts, trained on the BASE corpus only:
    * the broadcastable coarse-cell centroid array (label centroids as
    * vectors) and the PQ codebooks — checkpointed so the base build and
    * every later delta assignment reuse them without re-training. */
  def annIndexArtifacts(base: DataFrame): (DataFrame, DataFrame) = {
    val cArr = labelCentroids(base)
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid"))))
        .as("dc"))
      .select(col("label").as("c_label"),
        expr("transform(dc, s -> s.centroid)").as("cv"))
      .transform(graft.Checkpoints.ckpt)
    val cb = pqCodebooks(base, 4, 16, 16).transform(graft.Checkpoints.ckpt)
    (cArr, cb)
  }

  /** One index row per vector of `part`, assigned into the FROZEN
    * artifacts (no retrain): (vec_id, cell, code_0..code_3) — q286's
    * commit/delta payload, shared with the crash-recovery spec. */
  def annIndexRows(part: DataFrame, cArr: DataFrame,
                   cb: DataFrame): DataFrame = {
    val v = part.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("c_label").asc)
    val cells = v.crossJoin(broadcast(cArr))
      .withColumn("cos", cosine(col("v"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("c_label").as("cell"))
    val codes = pqAssign(part, cb, 4, 16)
      .groupBy(col("vec_id"))
      .agg(max(when(col("sub") === 0, col("code"))).as("code_0"),
        max(when(col("sub") === 1, col("code"))).as("code_1"),
        max(when(col("sub") === 2, col("code"))).as("code_2"),
        max(when(col("sub") === 3, col("code"))).as("code_3"))
    cells.join(codes, Seq("vec_id"))
  }

  /** Encode every vector against trained codebooks: (vec_id, sub, code). */
  def pqAssign(embeddings: DataFrame, codebooks: DataFrame, m: Int,
               subDim: Int): DataFrame =
    pqNearest(pqSubspaces(embeddings, m, subDim), codebooks)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("cid").cast("long").as("code"))

  def pqEncode(embeddings: DataFrame, m: Int, subDim: Int, k: Int): DataFrame =
    pqAssign(embeddings, pqCodebooks(embeddings, m, subDim, k), m, subDim)
      .orderBy("vec_id", "sub")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Product-quantization codebook train + encode: 4 subspaces × 16
    // codes — every vector becomes 4 small ints.
    "q99_pq_encode" -> { (s, dir) =>
      pqEncode(Tables.t(s, dir, "embeddings"), 4, 16, 16)
    },

    // Semantic dedup over the embedding corpus: IVF-cell blocking, keep
    // the lowest-id representative of every within-cell similar group.
    "q89_semantic_dedup" -> { (s, dir) =>
      semDedup(Tables.t(s, dir, "embeddings"), 0.3)
    },

    // k-means IVF training: 2 Lloyd iterations from the 4 lowest-id
    // seeds, reporting the final cluster assignment.
    "q90_kmeans_train" -> { (s, dir) =>
      kmeans(Tables.t(s, dir, "embeddings"), 4, 2)
    },

    // Exact brute-force cosine top-10 for query vectors vec_id < 5.
    "q38_cosine_topk" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      topK(e, e.filter(col("vec_id") < 5), 10)
    },

    // ANN via hyperplane LSH (no oracle — bucket membership is
    // seed-dependent; ScalaTest asserts every returned cosine matches the
    // brute-force value and results are subsets of the bucket).
    "q39_ann_topk" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      annTopK(e, e.filter(col("vec_id") < 5), 10)
    },

    // ANN recall contract (r9, the q250/q266 pattern): q39's pair list
    // is plane-seed-specific, but its recall against q38's exact top-10
    // is the property that makes the index USABLE — and this round's
    // measurement found the original single-table configuration at
    // recall ≈ 0 (ProbeAnn@cf1ba66), a correct-but-useless index that only this
    // kind of declared contract catches. The multi-table replacement
    // measures ≥ 0.4 per query at sf0.001/0.01/0.1; the declared verdict
    // is ≥ 0.3 (floor minus margin), asserted TRUE by the oracle — an
    // LSH regression (seed drift, table loss, bucket-join bug) turns
    // the driver row red.
    "q267_ann_recall" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val exact = topK(e, q, 10).select(col("query_id"), col("vec_id"))
      val ann = annTopK(e, q, 10)
        .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
      exact.join(ann, Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0))).as("n_caught"))
        .select(col("query_id"), col("n_exact"),
          (col("n_caught").cast("double") >=
            col("n_exact").cast("double") * 0.3).as("recall_ge_30"))
        .orderBy("query_id")
    },

    // PC1 eigen-invariant contract (r9): q140's projection values are
    // iteration-seeded so they stay ScalaTest-pinned, but the properties
    // that make them a PCA — unit-norm axis, eigenpair residual
    // ‖Σv − λv‖/λ at solver precision, and explained-variance share
    // above the isotropic floor — are verdicts the driver can check.
    // Measured: norm = 1 exactly, residual ≤ 1.4e-13, explained share
    // 0.0209–0.0289 at sf0.001/0.01/0.1 (ProbePca@cf1ba66; isotropic baseline
    // 1/64 ≈ 0.0156); declared bounds 1e-9 / ≥ 0.018. The covariance
    // collect is 64×64 — dimension-bounded, the same driver-side closure
    // q140 itself uses.
    "q269_pca_contract" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.t(s, dir, "embeddings")
      val (axis, lambda, _, cov) = pc1AxisCov(emb)
      val d = axis.length
      val av = Array.tabulate(d)(i =>
        (0 until d).map(j => cov(i)(j) * axis(j)).sum)
      val resid = math.sqrt(av.zip(axis)
        .map { case (a, v) => val e = a - lambda * v; e * e }.sum)
      val trace = (0 until d).map(i => cov(i)(i)).sum
      val nVecs = emb.count()
      Seq((d.toLong, nVecs,
        math.abs(math.sqrt(axis.map(x => x * x).sum) - 1.0) <= 1e-9,
        resid / lambda <= 1e-9,
        lambda / trace >= 0.018))
        .toDF("d", "n_vecs", "unit_norm", "eigen_residual_ok",
          "explained_ge_1_8pct")
    },

    // Strongest pair per label group.
    "q40_label_pairs" -> { (s, dir) =>
      strongestPairPerLabel(Tables.t(s, dir, "embeddings"))
    },

    // Per-label centroids (the IVF training step).
    "q69_embed_centroids" -> { (s, dir) =>
      labelCentroids(Tables.t(s, dir, "embeddings")).orderBy("label", "dim")
    },

    // IVF coarse assignment: nearest centroid per vector.
    "q70_ivf_assign" -> { (s, dir) =>
      ivfAssign(Tables.t(s, dir, "embeddings"))
    },

    // Multi-probe IVF: the 2 nearest cells per vector (the recall dial).
    "q84_ivf_multiprobe" -> { (s, dir) =>
      ivfProbe(Tables.t(s, dir, "embeddings"), 2)
    },

    // Int8 scalar quantization, per vector (the memory lever for
    // billion-vector ANN: 4 bytes -> 1 byte per dimension, here with
    // per-vector min/max scaling so no global pass is needed). Entirely
    // scan-local — zero shuffles at any scale; the quantized codes ride
    // as a CSV string because the driver's hash compare can't take raw
    // arrays (same serialization rule as q57). floor() keeps the
    // cross-engine determinism argument: identical double inputs through
    // an identical expression tree, no round-half boundary.
    "q83_quantize_embed" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), (x: Column) => x.cast("double")).as("v"))
      val mn = array_min(col("v"))
      val mx = array_max(col("v"))
      val q = transform(col("v"), (x: Column) =>
        when(mx === mn, lit(0L)).otherwise(
          floor((x - mn) * lit(255.0) / (mx - mn)).cast("long")))
      e.select(col("vec_id"), mn.as("v_min"), mx.as("v_max"),
          array_join(q, ",").as("q8"))
        .orderBy("vec_id")
    },

    // Embedding-cosine near-dup pairs within a label partition. Brute force
    // within the partition key is the exact baseline; at 100 TB the label
    // join becomes the LSH bucket join (q39's bucketing) — same shape,
    // probabilistic key.
    "q49_embedding_neardup" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings").select(col("label"),
        col("vec_id"),
        transform(col("embedding"), (x: Column) => x.cast("double")).as("v"))
      val a = e.select(col("label"), col("vec_id").as("a_id"), col("v").as("av"))
      val b = e.select(col("label"), col("vec_id").as("b_id"), col("v").as("bv"))
      a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
        .withColumn("cos", cosine(col("av"), col("bv")))
        .filter(col("cos") >= 0.3)
        .select(col("label"), col("a_id"), col("b_id"),
          round(col("cos"), 4).as("cosine"))
        .orderBy("label", "a_id", "b_id")
    },

    // Contrastive hard-negative mining: for each query vector, the 3 most
    // similar vectors carrying a DIFFERENT label — the near-boundary
    // negatives a contrastive trainer (SimCLR/InfoNCE, triplet loss) puts
    // in the batch because they carry the gradient; random negatives are
    // too easy. Exact baseline over the broadcast query set (q38's shape
    // plus the label-mismatch predicate); at scale the candidate side
    // comes from the IVF probe (q84) instead of the full corpus, with the
    // identical scoring/ranking tail.
    "q101_hard_negatives" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("v").as("qv"))
      val scored = e.join(broadcast(q), col("label") =!= col("q_label"))
        .withColumn("cos", cosine(col("v"), col("qv")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("query_id"), col("q_label"), col("vec_id").as("neg_id"),
          col("label").as("neg_label"), round(col("cos"), 4).as("cosine"),
          col("rnk"))
        .orderBy("query_id", "rnk")
    },

    // Mutual-kNN graph — the edge set graph-based corpus curation starts
    // from (mutual-neighbor clustering, kNN-graph community detection,
    // SemDeDup's neighborhood variant): an edge (a, b) exists iff b is in
    // a's top-5 cosine neighbors AND a is in b's — mutuality kills the
    // hub-vector edges a one-sided kNN graph drowns in. Blocked by the
    // IVF cell key (label — q70's coarse cells at 100 TB): the quadratic
    // scoring term is confined to one cell (q49/q89's argument), the kNN
    // rank is a per-vector window over cell-local rows, and the mutuality
    // check is a self-join of the n*k edge LIST — corpus-linear, never
    // pair-quadratic. Ranking compares unrounded cosines: the fused
    // CosineSimilarity expression accumulates in LIST_COSINE_SIMILARITY's
    // order, so both engines rank identically (the q38 precedent).
    "q129_mutual_knn" -> { (s, dir) =>
      mutualKnnEdges(Tables.t(s, dir, "embeddings"), 5)
        .select(col("label"), col("a_id"), col("b_id"),
          round(col("cos"), 4).as("cosine"))
        .orderBy("label", "a_id", "b_id")
    },

    // Exact covariance + correlation matrix of the embedding dimensions —
    // the whitening / PCA-preprocessing statistic (a d x d summary a
    // driver-side eigensolver turns into projection axes; d = 64 here so
    // the matrix is metadata-sized however big the corpus is). Scale
    // shape: pair generation is scan-local — posexplode the vector, then
    // posexplode the slice from each position — so N*d(d+1)/2 product
    // rows flow straight into a partial aggregation on d(d+1)/2 keys;
    // no self-join, no shuffle wider than the 2,080-key agg. The moment
    // sums use the exact-decimal reduction (order-independent), and the
    // covariance arithmetic runs on identical doubles in both engines;
    // the +0.0 folds normalize -0.0 from near-zero negative covariances.
    "q136_embed_covariance" -> { (s, dir) =>
      val cv = covUpper(Tables.t(s, dir, "embeddings"))
      val di = cv.filter(col("i") === col("j"))
        .select(col("i"), col("cov").as("var_i"))
      val dj = di.select(col("i").as("j"), col("var_i").as("var_j"))
      cv.join(broadcast(di), "i").join(broadcast(dj), "j")
        .select(col("i"), col("j"),
          (round(col("cov"), 6) + lit(0.0)).as("cov"),
          (round(col("cov") / sqrt(col("var_i") * col("var_j")), 6)
            + lit(0.0)).as("corr"))
        .orderBy("i", "j")
    },

    // Class-separation audit — per-label cohesion of the embedding space
    // (the dataset-QA readout before training a classifier on it): each
    // vector's cosine to its OWN label centroid, aggregated to the mean
    // and the worst member per label. A label whose mean is low is
    // mislabeled or heterogeneous; a clean label with one low min is an
    // outlier member (q124's MAD idea in embedding space). Scale shape:
    // q70's exactly — centroids are one (label, dim) aggregation collected
    // to #labels tiny arrays, broadcast; scoring is scan-local; the final
    // agg lands on #labels rows. Cosines are rounded to the 1e-4 grid
    // BEFORE averaging (the q38/q70 cross-engine contract), so the
    // decimal-sum mean is bit-identical too.
    "q138_class_separation" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val cArr = labelCentroids(Tables.t(s, dir, "embeddings"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("dim"), col("centroid"))))
          .as("dc"))
        .select(col("label"), expr("transform(dc, s -> s.centroid)").as("cv"))
      e.join(broadcast(cArr), "label")
        .withColumn("rc", round(cosine(col("v"), col("cv")), 4))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          graft.Fns.davg(col("rc")).as("mean_cos"),
          min(col("rc")).as("min_cos"))
        .orderBy("label")
    },

    // PC1 projection — every vector's score along the corpus's leading
    // principal axis (the 1-D curriculum / diversity coordinate; also the
    // whitening direction q136's matrix feeds an eigensolver for). No
    // oracle: eigensolvers aren't SQL-expressible — PcaSpec pins the
    // quantitative bounds instead (Rayleigh quotient >= every coordinate
    // variance, residual ||Cv - lambda*v|| <= 1e-8 * lambda, projection
    // variance equal to lambda on centered data). Scale shape: the
    // corpus-sized work is covUpper's one moment pass; the collect is
    // dimension-bounded metadata (2,080 + 64 rows regardless of corpus
    // size), and the projection is one scan-local pass with the centered
    // axis riding as broadcast literals.
    "q140_pca_projection" -> { (s, dir) =>
      val emb = Tables.t(s, dir, "embeddings")
      val (axis, _, mean) = pc1Axis(emb)
      val pcLit = array(axis.toIndexedSeq.map(lit): _*)
      val meanLit = array(mean.toIndexedSeq.map(lit): _*)
      emb.select(col("vec_id"), col("label"),
          asDouble(col("embedding")).as("v"))
        .withColumn("pc1", round(
          dot(zip_with(col("v"), meanLit,
            (x: Column, m: Column) => x - m), pcLit), 4))
        .select(col("vec_id"), col("label"), col("pc1"))
        .orderBy("vec_id")
    },

    // Per-dimension standardization (whitening-lite) + Mahalanobis-style
    // norm outliers — the embedding-QA gate before any cosine-threshold
    // op: a dimension with runaway variance dominates every dot product,
    // and a vector whose z-score norm is far above sqrt(d) is a corrupt /
    // out-of-distribution row to quarantine. Scale shape: the per-dim
    // moment pass is q136's argument (N*d rows into a d-key aggregation,
    // exact-decimal sums so both engines derive identical mean/std); the
    // d stats rows pack into one broadcast row of parallel arrays, and
    // the z-transform + norm is a scan-local zip_with + fused dot product
    // (FuseDotProduct) — sequential left-to-right accumulation, matching
    // DuckDB's list_dot_product loop order bit-for-bit (the q38 ordered-
    // accumulation precedent). Nothing corpus-sized shuffles twice.
    "q152_embed_standardize" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val nd = col("n").cast("double")
      val stats = e.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(count(lit(1)).as("n"), graft.Fns.dsum18(col("x")).as("sx"),
          graft.Fns.dsum18(col("x") * col("x")).as("sxx"))
        .select(col("i"), (col("sx") / nd).as("mean"),
          sqrt(col("sxx") / nd - (col("sx") / nd) * (col("sx") / nd))
            .as("std"))
      val packed = stats
        .agg(array_sort(collect_list(struct(col("i"), col("mean"),
          col("std")))).as("ms"))
        .select(expr("transform(ms, s -> s.mean)").as("means"),
          expr("transform(ms, s -> s.std)").as("stds"))
      e.crossJoin(broadcast(packed))
        .withColumn("z", zip_with(
          zip_with(col("v"), col("means"), (x: Column, m: Column) => x - m),
          col("stds"), (u: Column, sd: Column) => u / sd))
        .withColumn("znorm", round(sqrt(dot(col("z"), col("z"))), 4))
        .select(col("vec_id"), col("label"), col("znorm"),
          (col("znorm") > lit(10.0)).as("is_outlier"))
        .orderBy("vec_id")
    },

    // Simplified silhouette (the centroid form — Hruschka et al. 2004)
    // over q90's trained clustering: per vector, a = cosine distance to
    // its own centroid, b = distance to the nearest OTHER centroid,
    // s = (b-a)/max(a,b); reported as a per-cluster mean with the member
    // count. The cluster-quality audit a curation pipeline reads before
    // trusting q90's cells for semantic dedup or q84's IVF probes — full
    // silhouette is O(n²) pairwise; the centroid form is the standard
    // linear-cost surrogate and the ONLY one that scales. Shapes: the
    // k-row centroid table broadcasts into one scan probe (all k cosines
    // per vector ride the same row — rnk 1 and 2 from one window), then
    // one k-row aggregation via the exact-decimal mean. s is a chain of
    // single IEEE ops on engine-identical cosines, so davg sees the same
    // doubles in both engines.
    "q171_silhouette" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val v = e.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val cents = kmeansCentroids(e, 4, 2)
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("cid").asc)
      val top2 = v.crossJoin(broadcast(cents))
        .withColumn("cos", cosine(col("v"), col("cv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
      val own = top2.filter(col("rnk") === 1)
        .select(col("vec_id"), col("cid"), col("cos").as("c1"))
      val second = top2.filter(col("rnk") === 2)
        .select(col("vec_id"), col("cos").as("c2"))
      val a = lit(1.0) - col("c1")
      val b = lit(1.0) - col("c2")
      own.join(second, "vec_id")
        .withColumn("sil", when(greatest(a, b) > 0.0,
          (b - a) / greatest(a, b)).otherwise(0.0))
        .groupBy(col("cid").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          graft.Fns.davg(col("sil")).as("mean_silhouette"))
        .orderBy("cluster")
    },

    // Leave-one-out 1-NN label accuracy through the IVF index — the
    // embedding-quality eval (is the space good enough that nearest
    // neighbors share labels?) run the way it must run at scale: each
    // query probes its 2 nearest cells (q84's dial) and takes the best
    // candidate from THOSE postings only, so the quadratic term stays
    // confined to probed cells (the q89 confinement) instead of an
    // all-pairs scan. A candidate's home cell is unique, so the 2-probe
    // join yields each candidate at most once — no dedup pass. Accuracy
    // is one IEEE division of exact counts; ranking ties break on
    // candidate id over engine-identical cosines.
    "q173_knn_eval" -> { (s, dir) =>
      // materialized once: cells and probes both read the ranked probe
      // frame, and Spark plans share no subtrees — un-checkpointed, the
      // centroid chain and the rank window run once per branch (the q148
      // ranked-postings lesson); the frame is 2 rows/vector and freed by
      // the caller's Checkpoints.freeingAfter scope. Vectors are
      // UNIT-NORMALIZED at checkpoint time — each norm is computed once
      // per vector instead of once per candidate PAIR (cosine recomputes
      // both norms per pair: ~3x the arithmetic of the plain dot over
      // pre-normalized units; with the sort-free max_by argmax, measured
      // 5.1 s -> 1.9 s at sf0.1, 20.7 s -> 9.0 s at sf1).
      knnEvalFromScored(
        ivfScored(Tables.t(s, dir, "embeddings"))
          .filter(col("rnk") <= 2)
          .withColumn("nrm", norm(col("v")))
          .select(col("vec_id"), col("label"),
            col("c_label").as("cell"),
            transform(col("v"), (x: Column) => x / col("nrm")).as("u"),
            col("rnk"))
          .transform(graft.Checkpoints.ckpt))
    },

    // Per-source embedding drift — did a new crawl/source land in the
    // same region of embedding space as the rest of the corpus? Each
    // source collapses to its mean vector (one (source, dim) exact-
    // decimal aggregation — the only corpus-sized stage) plus a mean
    // vector NORM readout; sources then compare pairwise by cosine of
    // mean vectors — a #sources² table of metadata rows. Low pairwise
    // cosine = the source occupies a different region (distribution
    // shift worth a curation look); mean-norm near zero = the source's
    // vectors cancel (isotropic/noisy). Deterministic: per-dim means
    // are exact decimal ÷ exact count; the cosine runs over the
    // identically-reconstructed mean arrays in both engines.
    "q238_embedding_drift" -> { (s, dir) =>
      val m = Tables.t(s, dir, "embeddings")
        .select(col("label").as("source"),
          posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
        .groupBy(col("source"), col("dim"))
        .agg((graft.Fns.dsum18(col("x")) /
          count(lit(1)).cast("double")).as("mu"))
        .groupBy(col("source"))
        .agg(array_sort(collect_list(struct(col("dim"), col("mu"))))
          .as("dm"))
        .select(col("source"), expr("transform(dm, s -> s.mu)").as("mv"))
      val a = m.select(col("source").as("src_a"), col("mv").as("va"))
      val b = m.select(col("source").as("src_b"), col("mv").as("vb"))
      a.join(broadcast(b), col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          (round(cosine(col("va"), col("vb")), 6) + lit(0.0))
            .as("mean_cosine"))
        .orderBy("src_a", "src_b")
    },

    // The PRODUCTION kNN-graph build, declared: mutual-kNN edges over
    // scaled-k k-means cells (cells = ⌈√N⌉, 2 Lloyd rounds, 2 probes)
    // — the N^1.5 configuration SCALE_PROOF.md measures, now with its
    // own oracle row instead of living only in specs. q129 is the
    // label-blocked EXACT twin (oracle-checkable all-pairs semantics);
    // this is the plan you'd actually run at 100 TB. Deterministic end
    // to end: k from an exact count, centroid init from the k lowest
    // vec_ids, every rank tie broken by id, and the cosines ride the
    // fused dot over unit vectors — bit-identical to DuckDB's
    // LIST_DOT_PRODUCT over LIST_TRANSFORM-normalized lists (the q173
    // precedent), so both engines keep identical top-5 sets.
    "q244_knn_scaledk" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val cells = math.ceil(math.sqrt(e.count().toDouble)).toInt
      mutualKnnEdgesScaledK(e, 5, cells, 2)
        .select(col("label"), col("a_id"), col("b_id"),
          round(col("cos"), 4).as("cosine"))
        .orderBy("label", "a_id", "b_id")
    },

    // Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the
    // hybrid-retrieval combiner: two rankings of the same corpus for the
    // same query (here cosine vs Euclidean, which genuinely disagree on
    // unnormalized vectors) fuse by Σ 1/(60+rank) — rank-space fusion
    // needs no score calibration between metrics, which is why RRF is
    // the default hybrid (dense+sparse) merge in production retrieval.
    // ONE scored pass computes both metrics (the L2 rides the SAME
    // fused dot via |a|²+|b|²−2a·b, so both engines rank identical
    // doubles); both rank windows and the fusion window share the
    // query_id partitioning — one shuffle, three window passes, never a
    // second scoring join. RRF scores are rational arithmetic on small
    // integer ranks: bit-identical across engines before the round.
    // Matryoshka truncation audit (Kusupati et al. 2022 — MRL
    // embeddings): how much retrieval quality survives truncating the
    // 64-dim vectors to their first 16 dims (a 4× memory/IO cut on the
    // ANN index, the production question before shipping a truncated
    // index)? For each probe query, rank all candidates by full-dim and
    // by 16-dim cosine, report top-10 overlap and the exact Spearman ρ
    // between the two rankings. One scored pass computes both cosines
    // (broadcast 5-query side); both rank windows and the final rollup
    // share the query_id partitioning — one shuffle. Ranks are integers
    // (ties by vec_id over bit-identical cosines), so ρ is rational
    // arithmetic — identical in both engines before the round.
    "q277_matryoshka_audit" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("v"), col("qv")).as("cos_full"),
          cosine(slice(col("v"), 1, 16), slice(col("qv"), 1, 16))
            .as("cos_16"))
      val byQ = Window.partitionBy(col("query_id"))
      scored.select(col("query_id"), col("vec_id"),
          row_number().over(byQ.orderBy(col("cos_full").desc,
            col("vec_id").asc)).as("r_full"),
          row_number().over(byQ.orderBy(col("cos_16").desc,
            col("vec_id").asc)).as("r_16"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("r_full") <= 10 && col("r_16") <= 10, 1L)
            .otherwise(0L)).as("top10_overlap"),
          sum(((col("r_full") - col("r_16")) *
            (col("r_full") - col("r_16"))).cast("long")).as("d2"))
        .select(col("query_id"), col("n"), col("top10_overlap"),
          (round(lit(1.0) - lit(6.0) * col("d2").cast("double") /
            (col("n").cast("double") *
              (col("n") * col("n") - 1).cast("double")), 6) + lit(0.0))
            .as("spearman"))
        .orderBy("query_id")
    },

    // Histogram-based outlier score (HBOS, Goldstein & Dengel 2012) —
    // the density-estimation member of the outlier family: q124 is
    // robust-location (MAD), q152 is z-score distance; HBOS scores each
    // vector by how EMPTY its per-dimension histogram bins are,
    // hbos(v) = Σ_d −ln(c(d, bin_d(v)) / N) over the first 8 dims ×
    // 16 equi-width bins — the O(N) unsupervised anomaly pass a corpus
    // triage runs when pairwise distances are too expensive. Plan: one
    // posexplode (8 rows/vec), a broadcast 16-row-per-dim range + hist
    // join (the histogram is FIXED-size state at any corpus size — the
    // sketch property), one vec-keyed regroup; bin indices are exact
    // (identical IEEE (x−mn)/(mx−mn)·16 then floor in both engines,
    // min/max are exact picks) and the 8 −ln contributions sum through
    // the scale-18 exact-decimal carry.
    "q294_hbos_outliers" -> { (s, dir) =>
      val emb = Tables.t(s, dir, "embeddings")
      val dims = 8; val bins = 16
      val x = emb
        .select(col("vec_id"),
          posexplode(slice(col("embedding"), 1, dims)).as(Seq("d", "xf")))
        .select(col("vec_id"), col("d"), col("xf").cast("double").as("x"))
      val rng = x.groupBy(col("d"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val binned = x.join(broadcast(rng), "d")
        .select(col("vec_id"), col("d"),
          when(col("mx") > col("mn"),
            least(floor((col("x") - col("mn")) / (col("mx") - col("mn"))
              * bins).cast("long"), lit(bins - 1L)))
            .otherwise(lit(0L)).as("b"))
      val nTot = emb.agg(count(lit(1)).as("n_vecs"))
      val hist = binned.groupBy(col("d"), col("b"))
        .agg(count(lit(1)).as("c"))
      binned.join(broadcast(hist), Seq("d", "b"))
        .crossJoin(broadcast(nTot))
        .select(col("vec_id"),
          (-log(col("c").cast("double") / col("n_vecs").cast("double")))
            .as("contrib"))
        .groupBy(col("vec_id"))
        .agg((round(graft.Fns.dsum18(col("contrib")), 6) + lit(0.0))
          .as("hbos"))
        .orderBy("vec_id")
    },

    // nDCG@10 retrieval evaluation (Järvelin & Kekäläinen 2002) — the
    // graded, position-aware quality readout that completes the
    // retrieval-eval family: q267 grades recall (set membership), q277
    // overlap + rank correlation; nDCG is what a production search/RAG
    // team actually reports, because it rewards putting the BEST
    // neighbors first. System under test = the Matryoshka-truncated
    // 16-dim ranking (q277's cost-cut candidate); ground truth = the
    // full-dim cosine ranking, graded rel = 11 − rank for the true
    // top-10. DCG terms (2^rel − 1)/log₂(rank+1) ride the scale-18
    // exact-decimal sum so the 10-term additions are order-independent
    // and bit-identical in both engines; one scored pass, both rank
    // windows on the query_id partitioning — one shuffle.
    "q289_ndcg_eval" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("v"), col("qv")).as("cos_full"),
          cosine(slice(col("v"), 1, 16), slice(col("qv"), 1, 16))
            .as("cos_16"))
      val byQ = Window.partitionBy(col("query_id"))
      val ranked = scored.select(col("query_id"), col("vec_id"),
        row_number().over(byQ.orderBy(col("cos_full").desc,
          col("vec_id").asc)).as("r_full"),
        row_number().over(byQ.orderBy(col("cos_16").desc,
          col("vec_id").asc)).as("r_16"))
      val rel = when(col("r_full") <= 10, lit(11) - col("r_full"))
        .otherwise(lit(0))
      val gain = (pow(lit(2.0), rel.cast("double")) - lit(1.0))
      ranked
        .groupBy(col("query_id"))
        .agg(
          graft.Fns.dsum18(when(col("r_16") <= 10,
            gain / (log(col("r_16").cast("double") + 1.0) / lit(math.log(2.0))))
            .otherwise(lit(0.0))).as("dcg"),
          graft.Fns.dsum18(when(col("r_full") <= 10,
            gain / (log(col("r_full").cast("double") + 1.0) / lit(math.log(2.0))))
            .otherwise(lit(0.0))).as("idcg"))
        .select(col("query_id"),
          (round(col("dcg"), 6) + lit(0.0)).as("dcg10"),
          (round(col("dcg") / col("idcg"), 6) + lit(0.0)).as("ndcg10"))
        .orderBy("query_id")
    },

    "q249_rrf_fusion" -> { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("v"), col("qv")).as("cos"),
          (dot(col("v"), col("v")) + dot(col("qv"), col("qv")) -
            lit(2.0) * dot(col("v"), col("qv"))).as("d2"))
      val byQ = Window.partitionBy(col("query_id"))
      val ranked = scored.select(col("query_id"), col("vec_id"),
        row_number().over(byQ.orderBy(col("cos").desc, col("vec_id").asc))
          .as("rank_cos"),
        row_number().over(byQ.orderBy(col("d2").asc, col("vec_id").asc))
          .as("rank_l2"))
      val rrf = lit(1.0) / (lit(60) + col("rank_cos")) +
        lit(1.0) / (lit(60) + col("rank_l2"))
      ranked.select(col("query_id"), col("vec_id"), col("rank_cos"),
          col("rank_l2"), rrf.as("rrf"),
          row_number().over(byQ.orderBy(rrf.desc, col("vec_id").asc))
            .as("rnk"))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("vec_id"),
          (round(col("rrf"), 6) + lit(0.0)).as("rrf"),
          col("rnk"), col("rank_cos"), col("rank_l2"))
        .orderBy("query_id", "rnk")
    },

    // IVF-PQ search, end to end — THE production ANN stack at 100 TB
    // (FAISS's IndexIVFPQ shape): coarse IVF cells prune the corpus to
    // 2 probed postings lists, PQ codes (4 subspaces × 16 centroids →
    // 4 small ints per vector, a 32× memory cut) rank candidates by
    // asymmetric distance (per-query 64-row lookup table, one join —
    // never a full-vector scan), and only the top-10 survivors get an
    // exact full-vector rerank. Every stage is a declared sibling's
    // kernel: cells/probes = q70/q84's centroid scoring, codebooks/codes
    // = q99's training, rerank = q38's fused cosine. Determinism: the
    // ADC sum over 4 subspace lookups rides an exact-decimal sum, and
    // each lookup is the LIST_SUM/LIST_TRANSFORM-matching subL2 — both
    // engines rank identical values, ties by vec_id. Scale shape: the
    // dtable is 3×4×16 rows (broadcast), candidates are postings-sized,
    // the rerank touches ≤10 full vectors per query.
    "q253_ivfpq_search" -> { (s, dir) =>
      val emb = Tables.t(s, dir, "embeddings")
      val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val scored = ivfScored(emb).transform(graft.Checkpoints.ckpt)
      val posting = scored.filter(col("rnk") === 1)
        .select(col("vec_id"), col("c_label").as("cell"))
      val probes = scored
        .filter(col("vec_id") < 3 && col("rnk") <= 2)
        .select(col("vec_id").as("query_id"), col("c_label").as("cell"))
      val cb = pqCodebooks(emb, 4, 16, 16)
      val codes = pqAssign(emb, cb, 4, 16)
      val dt = pqSubspaces(emb.filter(col("vec_id") < 3), 4, 16)
        .select(col("vec_id").as("query_id"), col("sub"), col("sv"))
        .join(broadcast(cb), Seq("sub"))
        .select(col("query_id"), col("sub"), col("cid").as("code"),
          subL2(col("sv"), col("cv")).as("dt"))
      val cand = posting.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"))
      val adc = cand.join(codes, Seq("vec_id"))
        .join(broadcast(dt), Seq("query_id", "sub", "code"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(graft.Fns.dsum18(col("dt")).as("adc"))
      val short = adc.withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("adc").asc, col("vec_id").asc)))
        .filter(col("rn") <= 10)
      short
        .join(v, "vec_id")
        .join(broadcast(v.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))),
          Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          (round(col("adc"), 6) + lit(0.0)).as("adc"),
          cosine(col("v"), col("qv")).as("cos"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .select(col("query_id"), col("vec_id"), col("adc"),
          round(col("cos"), 4).as("cosine"), col("rnk"))
        .orderBy("query_id", "rnk")
    },

    // The ANN index as a PERSISTED, VERSIONED table artifact — how a
    // production vector store actually composes with the etl layer:
    // q253 rebuilds centroids/postings/codes per run; here the index
    // rows (coarse cell + 4 PQ codes per vector) are trained ONCE on
    // the base corpus (vec_id % 8 ≠ 7), committed crash-atomically via
    // [[graft.etl.Snapshot.commit]], and the remaining vectors arrive
    // as an INCREMENTAL batch — assigned into the EXISTING structure
    // (no retrain: the cells/codebooks are the frozen artifact) and
    // landed with [[graft.etl.Snapshot.commitDelta]] (merge-on-read by
    // vec_id). The declared result reads the committed snapshot back —
    // so the oracle, which restates the same assignment relationally
    // (base-trained centroids/codebooks applied to every vector),
    // verifies the whole write→delta→merge→read path lands the exact
    // index a from-scratch build of the same semantics produces. Scale
    // shape: train/assign are q70/q99's broadcast-probe plans, the
    // snapshot write is a partitioned parquet commit, and the delta
    // path touches ONLY the new vectors — the 100 TB property that
    // makes nightly index refreshes affordable.
    "q286_ann_index_snapshot" -> { (s, dir) =>
      val emb = Tables.t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 8 =!= 7)
      val delta = emb.filter(col("vec_id") % 8 === 7)
      val (cArr, cb) = annIndexArtifacts(base)
      // per-run scratch root (the q257 token: two harness processes over
      // the same fixture must not race on /tmp)
      val root = "/tmp/graft_annidx_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      graft.etl.Snapshot.commit(annIndexRows(base, cArr, cb), root)
      graft.etl.Snapshot.commitDelta(annIndexRows(delta, cArr, cb), root,
        "vec_id")
      graft.etl.Snapshot.read(s, root)
        .select(col("vec_id"), col("cell"), col("code_0"), col("code_1"),
          col("code_2"), col("code_3"))
        .orderBy("vec_id")
    },

    // Int8 scalar-quantization audit (the FAISS-SQ8 analog) — the OTHER
    // embedding compression lever: where PQ (q99/q253) trades dimensions
    // for codebook indices, SQ8 keeps every dimension at 1 byte via a
    // per-vector symmetric scale s = max|x|, q = floor(x·127/s + 0.5) —
    // a 4× memory/bandwidth cut that leaves distances almost intact.
    // This query quantizes, dequantizes, and reports the per-label error
    // profile (mean MSE, worst absolute error) — the audit that decides
    // whether the index can run on SQ8. Scan-local per row (the ideal
    // 100 TB shape), one label-keyed rollup. Determinism: float→double
    // is exact, the per-element chain is the identical left-assoc IEEE
    // tree in both engines, FLOOR never sits on a boundary dyadics can't
    // express, per-row sums fold the same 64 elements in order, and the
    // label rollup rides the scale-18 carry.
    "q261_int8_quant" -> { (s, dir) =>
      val v = Tables.t(s, dir, "embeddings")
        .select(col("label"), col("vec_id"),
          asDouble(col("embedding")).as("v"))
        .withColumn("sc",
          array_max(transform(col("v"), (x: Column) => abs(x))))
        .withColumn("err", transform(col("v"), (x: Column) =>
          x - floor(x * lit(127.0) / col("sc") + lit(0.5)) *
            col("sc") / lit(127.0)))
        .select(col("label"),
          when(col("sc") > 0,
            aggregate(col("err"), lit(0.0),
              (acc: Column, e: Column) => acc + e * e) /
              size(col("v")).cast("double"))
            .otherwise(lit(0.0)).as("mse"),
          when(col("sc") > 0,
            array_max(transform(col("err"), (e: Column) => abs(e))))
            .otherwise(lit(0.0)).as("maxe"))
      v.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          (round(graft.Fns.dsum18(col("mse")) /
            count(lit(1)).cast("double"), 10) + lit(0.0)).as("avg_mse"),
          (round(max(col("maxe")), 10) + lit(0.0)).as("max_abs_err"))
        .orderBy("label")
    })

  /** The probe/argmax/accuracy half of q173 over a ranked, unit-
    * normalized, checkpointed probe frame (vec_id, label, cell, u, rnk)
    * — shared by the declared label-cell query and the scaled-k path. */
  private def knnEvalFromScored(scored: DataFrame): DataFrame = {
    val cells = scored.filter(col("rnk") === 1)
      .select(col("vec_id").as("c_id"), col("label").as("c_lbl"),
        col("cell"), col("u").as("cu"))
    val probes = scored.filter(col("rnk") <= 2)
      .select(col("vec_id").as("q_id"), col("label").as("q_lbl"),
        col("cell"), col("u").as("qu"))
    // per-query argmax as a hash aggregation (max_by over a composite
    // (cos, -id) key) — no candidate-set sort window
    probes.join(cells, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", dot(col("qu"), col("cu")))
      .groupBy(col("q_id"), col("q_lbl"))
      .agg(max_by(col("c_lbl"),
        struct(col("cos"), (-col("c_id")).cast("double"))).as("pred"))
      .groupBy(col("q_lbl").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("q_lbl") === col("pred"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        (col("n_correct").cast("double") / col("n").cast("double"))
          .as("accuracy"))
      .orderBy("label")
  }

  /** q173's ranked 2-probe frame over the PRODUCTION cell structure:
    * unsupervised k-means cells with k ∝ √N (the q90 trainer) instead of
    * the fixture's fixed label centroids. With k = √N each cell holds
    * ~√N vectors, so probed-candidate volume is nprobe·N·√N — per query
    * O(√N), the classic IVF balance point — where fixed-k volume is
    * nprobe·N²/k. Exposed separately so ScaleProofScaledK can both time
    * the eval and COUNT the candidate volume (the structural metric the
    * timer only approximates at harness sizes). */
  def knnScoredScaledK(embeddings: DataFrame, k: Int,
                       iters: Int): DataFrame = {
    val cents = kmeansCentroids(embeddings, k, iters)
    val v = embeddings.select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cid").asc)
    v.crossJoin(broadcast(cents))
      .withColumn("cos", cosine(col("v"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .withColumn("nrm", norm(col("v")))
      .select(col("vec_id"), col("label"), col("cid").as("cell"),
        transform(col("v"), (x: Column) => x / col("nrm")).as("u"),
        col("rnk"))
      .transform(graft.Checkpoints.ckpt)
  }

  /** Leave-one-out 1-NN label accuracy with scaled-k cells — the
    * configuration a real deployment runs (see [[knnScoredScaledK]]). */
  def knnEvalScaledK(embeddings: DataFrame, k: Int,
                     iters: Int): DataFrame =
    knnEvalFromScored(knnScoredScaledK(embeddings, k, iters))

  override def oracles: Map[String, String] = Map(
    // five query rows, exact top-10 always fills, recall verdict TRUE
    "q267_ann_recall" ->
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_exact,
        |  TRUE AS recall_ge_30
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,

    // dimension + corpus count exact; the three eigen verdicts TRUE
    "q269_pca_contract" ->
      """SELECT CAST(64 AS BIGINT) AS d, COUNT(*) AS n_vecs,
        |  TRUE AS unit_norm, TRUE AS eigen_residual_ok,
        |  TRUE AS explained_ge_1_8pct
        |FROM embeddings""".stripMargin,

    "q101_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id AS query_id, label AS q_label, v AS qv
        |  FROM e WHERE vec_id < 20),
        |s AS (
        |  SELECT query_id, q_label, vec_id, label,
        |    LIST_COSINE_SIMILARITY(v, qv) AS cos
        |  FROM e, q WHERE label <> q_label),
        |r AS (
        |  SELECT query_id, q_label, vec_id, label, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, vec_id ASC) AS rnk
        |  FROM s)
        |SELECT query_id, q_label, vec_id AS neg_id, label AS neg_label,
        |  ROUND(cos, 4) AS cosine, CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    // the q90 recipe at subspace granularity: the single Lloyd iteration
    // unrolled as CTE pairs, uniformly over the `sub` grouping column (L2
    // distances restated as LIST_SUM over the same squared differences)
    // the rebuilt-from-scratch restatement of the committed index:
    // label centroids + PQ codebooks trained on the base slice
    // (vec_id % 8 ≠ 7: q70's cent/carr + q99's seed/assign/average
    // spellings over the filtered CTEs), then EVERY vector — base and
    // delta alike — assigned against the frozen artifacts; equality
    // with the engine's snapshot read-back proves commit → delta →
    // merge-on-read → read lands exactly this table
    "q286_ann_index_snapshot" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |vb AS (SELECT * FROM v WHERE vec_id % 8 <> 7),
         |d AS (
         |  SELECT label, UNNEST(v) AS x, GENERATE_SUBSCRIPTS(v, 1) AS dim
         |  FROM vb),
         |cent AS (
         |  SELECT label AS c_label, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d GROUP BY label, dim),
         |carr AS (
         |  SELECT c_label, LIST(c ORDER BY dim) AS cv
         |  FROM cent GROUP BY c_label),
         |cel AS (
         |  SELECT vec_id, c_label AS cell FROM (
         |    SELECT v.vec_id, carr.c_label,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |        ORDER BY LIST_COSINE_SIMILARITY(v.v, carr.cv) DESC,
         |                 carr.c_label ASC) AS rnk
         |    FROM v CROSS JOIN carr) WHERE rnk = 1),
         |sub AS (
         |  SELECT vec_id, s.sub,
         |    LIST_SLICE(v, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
         |  FROM v CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS sub) s),
         |subb AS (SELECT * FROM sub WHERE vec_id % 8 <> 7),
         |sd0 AS (
         |  SELECT sub, vec_id AS cid, sv AS cv FROM subb WHERE vec_id < 16),
         |s1 AS (
         |  SELECT a.vec_id, a.sub, a.sv, c.cid,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
         |      i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) AS d
         |  FROM subb a JOIN sd0 c ON a.sub = c.sub),
         |a1 AS (
         |  SELECT vec_id, sub, sv, cid FROM (
         |    SELECT vec_id, sub, sv, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                         ORDER BY d ASC, cid ASC) AS rn
         |    FROM s1) WHERE rn = 1),
         |d1 AS (
         |  SELECT sub, cid, GENERATE_SUBSCRIPTS(sv, 1) AS dim, UNNEST(sv) AS x
         |  FROM a1),
         |m1 AS (
         |  SELECT sub, cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d1 GROUP BY sub, cid, dim),
         |c1 AS (
         |  SELECT sub, cid, LIST(c ORDER BY dim) AS cv
         |  FROM m1 GROUP BY sub, cid),
         |s2 AS (
         |  SELECT a.vec_id, a.sub, c.cid,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
         |      i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) AS d
         |  FROM sub a JOIN c1 c ON a.sub = c.sub),
         |codes AS (
         |  SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                         ORDER BY d ASC, cid ASC) AS rn
         |    FROM s2) WHERE rn = 1),
         |pc AS (
         |  SELECT vec_id,
         |    CAST(MAX(CASE WHEN sub = 0 THEN cid END) AS BIGINT) AS code_0,
         |    CAST(MAX(CASE WHEN sub = 1 THEN cid END) AS BIGINT) AS code_1,
         |    CAST(MAX(CASE WHEN sub = 2 THEN cid END) AS BIGINT) AS code_2,
         |    CAST(MAX(CASE WHEN sub = 3 THEN cid END) AS BIGINT) AS code_3
         |  FROM codes GROUP BY vec_id)
         |SELECT cel.vec_id, cel.cell,
         |  pc.code_0, pc.code_1, pc.code_2, pc.code_3
         |FROM cel JOIN pc USING (vec_id)
         |ORDER BY cel.vec_id""".stripMargin,

    "q99_pq_encode" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sub AS (
         |  SELECT vec_id, s.sub,
         |    LIST_SLICE(v, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
         |  FROM v CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS sub) s),
         |c0 AS (
         |  SELECT sub, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 16),
         |s1 AS (
         |  SELECT a.vec_id, a.sub, a.sv, c.cid,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
         |      i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) AS d
         |  FROM sub a JOIN c0 c ON a.sub = c.sub),
         |a1 AS (
         |  SELECT vec_id, sub, sv, cid FROM (
         |    SELECT vec_id, sub, sv, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                         ORDER BY d ASC, cid ASC) AS rn
         |    FROM s1) WHERE rn = 1),
         |d1 AS (
         |  SELECT sub, cid, GENERATE_SUBSCRIPTS(sv, 1) AS dim, UNNEST(sv) AS x
         |  FROM a1),
         |m1 AS (
         |  SELECT sub, cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d1 GROUP BY sub, cid, dim),
         |c1 AS (
         |  SELECT sub, cid, LIST(c ORDER BY dim) AS cv
         |  FROM m1 GROUP BY sub, cid),
         |s2 AS (
         |  SELECT a.vec_id, a.sub, c.cid,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
         |      i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) AS d
         |  FROM sub a JOIN c1 c ON a.sub = c.sub)
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code
         |FROM (
         |  SELECT vec_id, sub, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                       ORDER BY d ASC, cid ASC) AS rn
         |  FROM s2) WHERE rn = 1
         |ORDER BY vec_id, sub""".stripMargin,

    // the 2 Lloyd iterations unrolled as CTE pairs (assign_i, centroids_i)
    // — the same nearest-by-cosine / exact-decimal-mean steps the engine
    // iterates
    "q90_kmeans_train" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 4),
         |s1 AS (
         |  SELECT v.vec_id, v.v, c0.cid,
         |    LIST_COSINE_SIMILARITY(v.v, c0.cv) AS cos
         |  FROM v CROSS JOIN c0),
         |a1 AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, cid ASC) AS rnk
         |    FROM s1) WHERE rnk = 1),
         |d1 AS (
         |  SELECT cid, GENERATE_SUBSCRIPTS(v, 1) AS dim, UNNEST(v) AS x
         |  FROM a1),
         |m1 AS (
         |  SELECT cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d1 GROUP BY cid, dim),
         |c1 AS (
         |  SELECT cid, LIST(c ORDER BY dim) AS cv FROM m1 GROUP BY cid),
         |s2 AS (
         |  SELECT v.vec_id, v.v, c1.cid,
         |    LIST_COSINE_SIMILARITY(v.v, c1.cv) AS cos
         |  FROM v CROSS JOIN c1),
         |a2 AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, cid ASC) AS rnk
         |    FROM s2) WHERE rnk = 1),
         |d2 AS (
         |  SELECT cid, GENERATE_SUBSCRIPTS(v, 1) AS dim, UNNEST(v) AS x
         |  FROM a2),
         |m2 AS (
         |  SELECT cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d2 GROUP BY cid, dim),
         |c2 AS (
         |  SELECT cid, LIST(c ORDER BY dim) AS cv FROM m2 GROUP BY cid),
         |s3 AS (
         |  SELECT v.vec_id, c2.cid,
         |    LIST_COSINE_SIMILARITY(v.v, c2.cv) AS cos
         |  FROM v CROSS JOIN c2),
         |a3 AS (
         |  SELECT vec_id, cid, cos FROM (
         |    SELECT vec_id, cid, cos,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, cid ASC) AS rnk
         |    FROM s3) WHERE rnk = 1)
         |SELECT vec_id, cid AS cluster, ROUND(cos, 4) AS cosine
         |FROM a3 ORDER BY vec_id""".stripMargin,

    // same centroid/assignment CTEs as q70; the drop rule is restated as
    // an EXISTS over lower-id cell-mates
    "q89_semantic_dedup" ->
      s"""WITH d AS (
         |  SELECT label,
         |    UNNEST(CAST(embedding AS DOUBLE[])) AS x,
         |    GENERATE_SUBSCRIPTS(embedding, 1) AS dim
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS c_label, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d GROUP BY label, dim),
         |carr AS (
         |  SELECT c_label, LIST(c ORDER BY dim) AS cv
         |  FROM cent GROUP BY c_label),
         |v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |s AS (
         |  SELECT vec_id, c_label,
         |    LIST_COSINE_SIMILARITY(v, cv) AS cos, v
         |  FROM v CROSS JOIN carr),
         |cells AS (
         |  SELECT vec_id, c_label AS cell, v FROM (
         |    SELECT vec_id, c_label, v,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, c_label ASC) AS rnk
         |    FROM s) WHERE rnk = 1),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM cells a JOIN cells b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE LIST_COSINE_SIMILARITY(a.v, b.v) >= 0.3)
         |SELECT c.vec_id, c.cell, dr.vec_id IS NULL AS kept
         |FROM cells c LEFT JOIN dropped dr ON c.vec_id = dr.vec_id
         |ORDER BY c.vec_id""".stripMargin,

    "q83_quantize_embed" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (
        |  SELECT vec_id, v, LIST_MIN(v) AS mn, LIST_MAX(v) AS mx FROM e)
        |SELECT vec_id, mn AS v_min, mx AS v_max,
        |  ARRAY_TO_STRING(LIST_TRANSFORM(v, x ->
        |    CASE WHEN mx = mn THEN 0
        |         ELSE CAST(FLOOR((x - mn) * 255.0 / (mx - mn)) AS BIGINT)
        |    END), ',') AS q8
        |FROM m ORDER BY vec_id""".stripMargin,

    "q84_ivf_multiprobe" ->
      s"""WITH d AS (
         |  SELECT label,
         |    UNNEST(CAST(embedding AS DOUBLE[])) AS x,
         |    GENERATE_SUBSCRIPTS(embedding, 1) AS dim
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS c_label, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d GROUP BY label, dim),
         |carr AS (
         |  SELECT c_label, LIST(c ORDER BY dim) AS cv
         |  FROM cent GROUP BY c_label),
         |v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |s AS (
         |  SELECT vec_id, c_label,
         |    LIST_COSINE_SIMILARITY(v, cv) AS cos
         |  FROM v CROSS JOIN carr),
         |r AS (
         |  SELECT vec_id, c_label, cos,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |                       ORDER BY cos DESC, c_label ASC) AS rnk
         |  FROM s)
         |SELECT vec_id, c_label AS probe_label,
         |  CAST(rnk AS BIGINT) AS probe_rank, ROUND(cos, 4) AS cosine
         |FROM r WHERE rnk <= 2 ORDER BY vec_id, probe_rank""".stripMargin,

    "q69_embed_centroids" ->
      s"""WITH d AS (
         |  SELECT label,
         |    UNNEST(CAST(embedding AS DOUBLE[])) AS x,
         |    GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim
         |  FROM embeddings)
         |SELECT label, CAST(dim AS BIGINT) AS dim,
         |  ${graft.Fns.davgSql("x")} AS centroid,
         |  COUNT(*) AS n
         |FROM d GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "q70_ivf_assign" ->
      s"""WITH d AS (
         |  SELECT label,
         |    UNNEST(CAST(embedding AS DOUBLE[])) AS x,
         |    GENERATE_SUBSCRIPTS(embedding, 1) AS dim
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS c_label, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d GROUP BY label, dim),
         |carr AS (
         |  SELECT c_label, LIST(c ORDER BY dim) AS cv
         |  FROM cent GROUP BY c_label),
         |v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |s AS (
         |  SELECT vec_id, label, c_label,
         |    LIST_COSINE_SIMILARITY(v, cv) AS cos
         |  FROM v CROSS JOIN carr),
         |r AS (
         |  SELECT vec_id, label, c_label, cos,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |                       ORDER BY cos DESC, c_label ASC) AS rnk
         |  FROM s)
         |SELECT vec_id, label, c_label AS assigned_label,
         |  ROUND(cos, 4) AS cosine, label = c_label AS own_label
         |FROM r WHERE rnk = 1 ORDER BY vec_id""".stripMargin,

    "q38_cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |s AS (
        |  SELECT query_id, vec_id,
        |    LIST_COSINE_SIMILARITY(v, qv) AS cos
        |  FROM e, q WHERE vec_id <> query_id),
        |r AS (
        |  SELECT query_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, vec_id ASC) AS rnk
        |  FROM s)
        |SELECT query_id, vec_id, ROUND(cos, 4) AS cosine,
        |  CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "q49_embedding_neardup" ->
      """WITH e AS (
        |  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |    LIST_COSINE_SIMILARITY(a.v, b.v) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT label, a_id, b_id, ROUND(cos, 4) AS cosine
        |FROM p WHERE cos >= 0.3
        |ORDER BY label, a_id, b_id""".stripMargin,

    "q40_label_pairs" ->
      """WITH e AS (
        |  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 100 < 20),
        |p AS (
        |  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |    LIST_COSINE_SIMILARITY(a.v, b.v) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id),
        |r AS (
        |  SELECT label, a_id, b_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY label
        |                       ORDER BY cos DESC, a_id ASC, b_id ASC) AS rnk
        |  FROM p)
        |SELECT label, a_id, b_id, ROUND(cos, 4) AS cosine
        |FROM r WHERE rnk = 1 ORDER BY label""".stripMargin,

    "q129_mutual_knn" ->
      """WITH e AS (
        |  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |    LIST_COSINE_SIMILARITY(a.v, b.v) AS cos
        |  FROM e a JOIN e b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT label, a_id, b_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY a_id
        |                       ORDER BY cos DESC, b_id ASC) AS rnk
        |  FROM s),
        |knn AS (SELECT label, a_id, b_id, cos FROM r WHERE rnk <= 5)
        |SELECT k.label, k.a_id, k.b_id, ROUND(k.cos, 4) AS cosine
        |FROM knn k JOIN knn m
        |  ON k.label = m.label AND k.a_id = m.b_id AND k.b_id = m.a_id
        |WHERE k.a_id < k.b_id
        |ORDER BY k.label, k.a_id, k.b_id""".stripMargin,

    "q136_embed_covariance" ->
      s"""WITH e AS (
         |  SELECT vec_id,
         |    CAST(UNNEST(embedding) AS DOUBLE) AS x,
         |    GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i
         |  FROM embeddings),
         |p AS (
         |  SELECT a.i AS i, b.i AS j, a.x AS xi, b.x AS xj
         |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i),
         |c AS (
         |  SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |    COUNT(*) AS n,
         |    ${graft.Fns.dsum18Sql("xi")} AS sx,
         |    ${graft.Fns.dsum18Sql("xj")} AS sy,
         |    ${graft.Fns.dsum18Sql("xi * xj")} AS sxy
         |  FROM p GROUP BY 1, 2),
         |cv AS (
         |  SELECT i, j,
         |    sxy / CAST(n AS DOUBLE)
         |      - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)) AS cov
         |  FROM c),
         |d AS (SELECT i AS k, cov AS var FROM cv WHERE i = j)
         |SELECT cv.i, cv.j, ROUND(cv.cov, 6) + 0.0 AS cov,
         |  ROUND(cv.cov / SQRT(di.var * dj.var), 6) + 0.0 AS corr
         |FROM cv JOIN d di ON cv.i = di.k JOIN d dj ON cv.j = dj.k
         |ORDER BY i, j""".stripMargin,

    "q138_class_separation" ->
      s"""WITH d AS (
         |  SELECT label,
         |    UNNEST(CAST(embedding AS DOUBLE[])) AS x,
         |    GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim
         |  FROM embeddings),
         |cent AS (
         |  SELECT label, dim, ${graft.Fns.davgSql("x")} AS m
         |  FROM d GROUP BY 1, 2),
         |carr AS (SELECT label, LIST(m ORDER BY dim) AS cv
         |         FROM cent GROUP BY 1),
         |e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |s AS (
         |  SELECT e.label,
         |    ROUND(LIST_COSINE_SIMILARITY(e.v, carr.cv), 4) AS rc
         |  FROM e JOIN carr USING (label))
         |SELECT label, COUNT(*) AS n, ${graft.Fns.davgSql("rc")} AS mean_cos,
         |  MIN(rc) AS min_cos
         |FROM s GROUP BY label ORDER BY label""".stripMargin,

    // per-dim moments via the exact-decimal sums (identical doubles in
    // both engines), z-vector assembled in dim order, and the norm via
    // LIST_DOT_PRODUCT — same sequential accumulation as the fused Spark
    // expression
    "q152_embed_standardize" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |x AS (
         |  SELECT CAST(UNNEST(v) AS DOUBLE) AS x,
         |    GENERATE_SUBSCRIPTS(v, 1) AS i
         |  FROM e),
         |st AS (
         |  SELECT i, COUNT(*) AS n,
         |    ${graft.Fns.dsum18Sql("x")} AS sx,
         |    ${graft.Fns.dsum18Sql("x * x")} AS sxx
         |  FROM x GROUP BY i),
         |sm AS (
         |  SELECT i, sx / CAST(n AS DOUBLE) AS mean,
         |    SQRT(sxx / CAST(n AS DOUBLE)
         |      - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE))) AS std
         |  FROM st),
         |z AS (
         |  SELECT e.vec_id, e.label,
         |    LIST((e.v[sm.i] - sm.mean) / sm.std ORDER BY sm.i) AS zv
         |  FROM e CROSS JOIN sm
         |  GROUP BY e.vec_id, e.label),
         |n AS (
         |  SELECT vec_id, label,
         |    ROUND(SQRT(LIST_DOT_PRODUCT(zv, zv)), 4) AS znorm
         |  FROM z)
         |SELECT vec_id, label, znorm, znorm > 10.0 AS is_outlier
         |FROM n ORDER BY vec_id""".stripMargin,

    // q90's two-Lloyd-round centroid chain (c2), then the centroid-form
    // silhouette over rnk-1/rnk-2 cosines from one ranked probe
    "q171_silhouette" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 4),
         |s1 AS (
         |  SELECT v.vec_id, v.v, c0.cid,
         |    LIST_COSINE_SIMILARITY(v.v, c0.cv) AS cos
         |  FROM v CROSS JOIN c0),
         |a1 AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, cid ASC) AS rnk
         |    FROM s1) WHERE rnk = 1),
         |d1 AS (
         |  SELECT cid, GENERATE_SUBSCRIPTS(v, 1) AS dim, UNNEST(v) AS x
         |  FROM a1),
         |m1 AS (
         |  SELECT cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d1 GROUP BY cid, dim),
         |c1 AS (
         |  SELECT cid, LIST(c ORDER BY dim) AS cv FROM m1 GROUP BY cid),
         |s2 AS (
         |  SELECT v.vec_id, v.v, c1.cid,
         |    LIST_COSINE_SIMILARITY(v.v, c1.cv) AS cos
         |  FROM v CROSS JOIN c1),
         |a2 AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, cid ASC) AS rnk
         |    FROM s2) WHERE rnk = 1),
         |d2 AS (
         |  SELECT cid, GENERATE_SUBSCRIPTS(v, 1) AS dim, UNNEST(v) AS x
         |  FROM a2),
         |m2 AS (
         |  SELECT cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d2 GROUP BY cid, dim),
         |c2 AS (
         |  SELECT cid, LIST(c ORDER BY dim) AS cv FROM m2 GROUP BY cid),
         |s3 AS (
         |  SELECT v.vec_id, c2.cid,
         |    LIST_COSINE_SIMILARITY(v.v, c2.cv) AS cos
         |  FROM v CROSS JOIN c2),
         |rk AS (
         |  SELECT vec_id, cid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |                       ORDER BY cos DESC, cid ASC) AS rnk
         |  FROM s3),
         |own AS (SELECT vec_id, cid, cos AS c1c FROM rk WHERE rnk = 1),
         |sec AS (SELECT vec_id, cos AS c2c FROM rk WHERE rnk = 2),
         |sil AS (
         |  SELECT own.cid,
         |    CASE WHEN GREATEST(1.0 - c1c, 1.0 - c2c) > 0.0
         |         THEN ((1.0 - c2c) - (1.0 - c1c))
         |              / GREATEST(1.0 - c1c, 1.0 - c2c)
         |         ELSE 0.0 END AS s
         |  FROM own JOIN sec ON own.vec_id = sec.vec_id)
         |SELECT cid AS cluster, COUNT(*) AS n_members,
         |  ${graft.Fns.davgSql("s")} AS mean_silhouette
         |FROM sil GROUP BY cid ORDER BY cluster""".stripMargin,

    // the q89/q70 label-centroid chain, 2-probe candidate join, 1-NN
    // argmax, label-match rollup
    "q173_knn_eval" ->
      s"""WITH d AS (
         |  SELECT label,
         |    UNNEST(CAST(embedding AS DOUBLE[])) AS x,
         |    GENERATE_SUBSCRIPTS(embedding, 1) AS dim
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS c_label, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d GROUP BY label, dim),
         |carr AS (
         |  SELECT c_label, LIST(c ORDER BY dim) AS cv
         |  FROM cent GROUP BY c_label),
         |v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |sc AS (
         |  SELECT vec_id, label, v, c_label,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |                       ORDER BY cos DESC, c_label ASC) AS rnk
         |  FROM (
         |    SELECT v.vec_id, v.label, v.v, carr.c_label,
         |      LIST_COSINE_SIMILARITY(v.v, carr.cv) AS cos
         |    FROM v CROSS JOIN carr)),
         |cells AS (
         |  SELECT vec_id AS c_id, label AS c_lbl, c_label AS cell,
         |    LIST_TRANSFORM(v, x -> x / SQRT(LIST_DOT_PRODUCT(v, v)))
         |      AS cu
         |  FROM sc WHERE rnk = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, label AS q_lbl, c_label AS cell,
         |    LIST_TRANSFORM(v, x -> x / SQRT(LIST_DOT_PRODUCT(v, v)))
         |      AS qu
         |  FROM sc WHERE rnk <= 2),
         |nn AS (
         |  SELECT q_id, q_lbl, c_lbl,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY LIST_DOT_PRODUCT(qu, cu) DESC, c_id ASC)
         |      AS r
         |  FROM probes JOIN cells USING (cell)
         |  WHERE q_id <> c_id)
         |SELECT q_lbl AS label, COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN q_lbl = c_lbl THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST(CAST(SUM(CASE WHEN q_lbl = c_lbl THEN 1 ELSE 0 END)
         |        AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS accuracy
         |FROM nn WHERE r = 1 GROUP BY q_lbl ORDER BY label""".stripMargin,

    "q238_embedding_drift" -> (
      """WITH e AS (
        |  SELECT label AS source, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |x AS (
        |  SELECT source, g.i AS dim, v[g.i] AS x
        |  FROM e, UNNEST(GENERATE_SERIES(1, LEN(v))) AS g(i)),
        |mu AS (
        |  SELECT source, dim,
        |    """.stripMargin + graft.Fns.dsum18Sql("x") +
        """ / CAST(COUNT(*) AS DOUBLE) AS mu
        |  FROM x GROUP BY 1, 2),
        |m AS (
        |  SELECT source, LIST(mu ORDER BY dim) AS mv FROM mu GROUP BY 1)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  ROUND(LIST_COSINE_SIMILARITY(a.mv, b.mv), 6) + 0.0
        |    AS mean_cosine
        |FROM m a JOIN m b ON a.source < b.source
        |ORDER BY src_a, src_b""".stripMargin),

    // the scaled-k pipeline end to end: dynamic k = ⌈√N⌉, q90's two
    // unrolled Lloyd rounds, q173's unit-normalization + dot ranking,
    // q129's mutuality join — each stage the SQL spelling its green
    // sibling already pinned
    "q244_knn_scaledk" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |kk AS (
         |  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k FROM v),
         |c0 AS (
         |  SELECT vec_id AS cid, v AS cv FROM v
         |  WHERE vec_id < (SELECT k FROM kk)),
         |s1 AS (
         |  SELECT v.vec_id, v.v, c0.cid,
         |    LIST_COSINE_SIMILARITY(v.v, c0.cv) AS cos
         |  FROM v CROSS JOIN c0),
         |a1 AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, cid ASC) AS rnk
         |    FROM s1) WHERE rnk = 1),
         |d1 AS (
         |  SELECT cid, GENERATE_SUBSCRIPTS(v, 1) AS dim, UNNEST(v) AS x
         |  FROM a1),
         |m1 AS (
         |  SELECT cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d1 GROUP BY cid, dim),
         |c1 AS (
         |  SELECT cid, LIST(c ORDER BY dim) AS cv FROM m1 GROUP BY cid),
         |s2 AS (
         |  SELECT v.vec_id, v.v, c1.cid,
         |    LIST_COSINE_SIMILARITY(v.v, c1.cv) AS cos
         |  FROM v CROSS JOIN c1),
         |a2 AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id
         |                         ORDER BY cos DESC, cid ASC) AS rnk
         |    FROM s2) WHERE rnk = 1),
         |d2 AS (
         |  SELECT cid, GENERATE_SUBSCRIPTS(v, 1) AS dim, UNNEST(v) AS x
         |  FROM a2),
         |m2 AS (
         |  SELECT cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d2 GROUP BY cid, dim),
         |c2 AS (
         |  SELECT cid, LIST(c ORDER BY dim) AS cv FROM m2 GROUP BY cid),
         |sc AS (
         |  SELECT vec_id, label, v, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |                       ORDER BY cos DESC, cid ASC) AS rnk
         |  FROM (
         |    SELECT v.vec_id, v.label, v.v, c2.cid,
         |      LIST_COSINE_SIMILARITY(v.v, c2.cv) AS cos
         |    FROM v CROSS JOIN c2)),
         |u AS (
         |  SELECT vec_id, label, cid, rnk,
         |    LIST_TRANSFORM(v, x -> x / SQRT(LIST_DOT_PRODUCT(v, v)))
         |      AS u
         |  FROM sc WHERE rnk <= 2),
         |cands AS (
         |  SELECT cid, vec_id AS b_id, u AS bu FROM u WHERE rnk = 1),
         |probes AS (
         |  SELECT cid, vec_id AS a_id, label, u AS au FROM u),
         |knn AS (
         |  SELECT label, a_id, b_id, cos FROM (
         |    SELECT p.label, p.a_id, c.b_id,
         |      LIST_DOT_PRODUCT(p.au, c.bu) AS cos,
         |      ROW_NUMBER() OVER (PARTITION BY p.a_id
         |        ORDER BY LIST_DOT_PRODUCT(p.au, c.bu) DESC, c.b_id ASC)
         |        AS rnk
         |    FROM probes p JOIN cands c USING (cid)
         |    WHERE p.a_id <> c.b_id) WHERE rnk <= 5)
         |SELECT k.label, k.a_id, k.b_id, ROUND(k.cos, 4) AS cosine
         |FROM knn k JOIN knn m
         |  ON k.a_id = m.b_id AND k.b_id = m.a_id
         |WHERE k.a_id < k.b_id
         |ORDER BY k.label, k.a_id, k.b_id""".stripMargin,

    // q277's scored pass and rank windows; gains are exact powers of 2,
    // DCG terms ride the scale-18 decimal sum so the 10-term additions
    // are order-independent in both engines
    "q289_ndcg_eval" -> {
      val dcgTerm = "CASE WHEN r_16 <= 10 THEN gain / " +
        "(LN(CAST(r_16 AS DOUBLE) + 1.0) / LN(2)) ELSE 0.0 END"
      val idcgTerm = "CASE WHEN r_full <= 10 THEN gain / " +
        "(LN(CAST(r_full AS DOUBLE) + 1.0) / LN(2)) ELSE 0.0 END"
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM v
         |      WHERE vec_id < 5),
         |s AS (
         |  SELECT q.query_id, v.vec_id,
         |    LIST_COSINE_SIMILARITY(v.v, q.qv) AS cos_full,
         |    LIST_COSINE_SIMILARITY(v.v[1:16], q.qv[1:16]) AS cos_16
         |  FROM v JOIN q ON v.vec_id <> q.query_id),
         |r AS (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_full DESC, vec_id ASC) AS r_full,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_16 DESC, vec_id ASC) AS r_16
         |  FROM s),
         |g AS (
         |  SELECT query_id, r_full, r_16,
         |    POWER(CAST(2 AS DOUBLE),
         |      CAST(CASE WHEN r_full <= 10 THEN 11 - r_full ELSE 0 END
         |        AS DOUBLE)) - 1.0 AS gain
         |  FROM r),
         |a AS (
         |  SELECT query_id,
         |    ${graft.Fns.dsum18Sql(dcgTerm)} AS dcg,
         |    ${graft.Fns.dsum18Sql(idcgTerm)} AS idcg
         |  FROM g GROUP BY query_id)
         |SELECT query_id, ROUND(dcg, 6) + 0.0 AS dcg10,
         |  ROUND(dcg / idcg, 6) + 0.0 AS ndcg10
         |FROM a ORDER BY query_id""".stripMargin
    },

    // both cosines through LIST_COSINE_SIMILARITY (full and the 1-based
    // inclusive 16-slice), integer ranks, ρ in the same double shapes
    // same 8-dim × 16-bin grid; RANGE(0,8) matches posexplode's 0-based
    // dim index, list indexing is 1-based in both engines' spellings
    "q294_hbos_outliers" ->
      s"""WITH x AS (
         |  SELECT vec_id, d, CAST(embedding[CAST(d AS INTEGER) + 1]
         |    AS DOUBLE) AS x
         |  FROM embeddings, UNNEST(RANGE(0, 8)) AS t(d)),
         |rng AS (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM x GROUP BY d),
         |b AS MATERIALIZED (
         |  SELECT x.vec_id, x.d,
         |    CASE WHEN rng.mx > rng.mn THEN
         |      LEAST(CAST(FLOOR((x.x - rng.mn) / (rng.mx - rng.mn) * 16)
         |        AS BIGINT), 15)
         |    ELSE 0 END AS b
         |  FROM x JOIN rng ON rng.d = x.d),
         |n AS (SELECT COUNT(*) AS n_vecs FROM embeddings),
         |hist AS (SELECT d, b, COUNT(*) AS c FROM b GROUP BY 1, 2)
         |SELECT b.vec_id,
         |  ROUND(${graft.Fns.dsum18Sql(
              "-LN(CAST(hist.c AS DOUBLE) / CAST((SELECT n_vecs FROM n) AS DOUBLE))")},
         |    6) + 0.0 AS hbos
         |FROM b JOIN hist ON hist.d = b.d AND hist.b = b.b
         |GROUP BY b.vec_id
         |ORDER BY b.vec_id""".stripMargin,

    "q277_matryoshka_audit" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v
        |      WHERE vec_id < 5),
        |s AS (
        |  SELECT q.query_id, v.vec_id,
        |    LIST_COSINE_SIMILARITY(v.v, q.qv) AS cos_full,
        |    LIST_COSINE_SIMILARITY(v.v[1:16], q.qv[1:16]) AS cos_16
        |  FROM v JOIN q ON v.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_full DESC, vec_id ASC) AS r_full,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_16 DESC, vec_id ASC) AS r_16
        |  FROM s),
        |m AS (
        |  SELECT query_id, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN r_full <= 10 AND r_16 <= 10
        |      THEN 1 ELSE 0 END) AS BIGINT) AS top10_overlap,
        |    CAST(SUM((r_full - r_16) * (r_full - r_16)) AS BIGINT) AS d2
        |  FROM r GROUP BY 1)
        |SELECT query_id, n, top10_overlap,
        |  ROUND(1.0 - 6.0 * CAST(d2 AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n * n - 1 AS DOUBLE)), 6) + 0.0
        |    AS spearman
        |FROM m ORDER BY query_id""".stripMargin,

    // the L2 spelled through the same dot products ((a+b) − 2*c, same
    // associativity), RRF through CAST(1.0 AS DOUBLE) so DuckDB divides
    // doubles, not decimals
    "q249_rrf_fusion" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM v
        |      WHERE vec_id < 5),
        |s AS (
        |  SELECT q.query_id, v.vec_id,
        |    LIST_COSINE_SIMILARITY(v.v, q.qv) AS cos,
        |    LIST_DOT_PRODUCT(v.v, v.v) + LIST_DOT_PRODUCT(q.qv, q.qv)
        |      - 2.0 * LIST_DOT_PRODUCT(v.v, q.qv) AS d2
        |  FROM v JOIN q ON v.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, vec_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank_cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY d2 ASC, vec_id ASC) AS INTEGER) AS rank_l2
        |  FROM s),
        |f AS (
        |  SELECT query_id, vec_id, rank_cos, rank_l2,
        |    CAST(1.0 AS DOUBLE) / (60 + rank_cos)
        |      + CAST(1.0 AS DOUBLE) / (60 + rank_l2) AS rrf
        |  FROM r),
        |t AS (
        |  SELECT query_id, vec_id, rrf, rank_cos, rank_l2,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY rrf DESC, vec_id ASC) AS INTEGER) AS rnk
        |  FROM f)
        |SELECT query_id, vec_id, ROUND(rrf, 6) + 0.0 AS rrf, rnk,
        |  rank_cos, rank_l2
        |FROM t WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    // the whole IVF-PQ stack as CTEs: q99's codebook/code CTEs verbatim,
    // q70's centroid CTEs for the coarse index, then the ADC lookup sum
    // (exact decimal) and the q38-style cosine rerank on the survivors
    "q253_ivfpq_search" ->
      s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sub AS (
         |  SELECT vec_id, s.sub,
         |    LIST_SLICE(v, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
         |  FROM v CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS sub) s),
         |c0 AS (
         |  SELECT sub, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 16),
         |s1 AS (
         |  SELECT a.vec_id, a.sub, a.sv, c.cid,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
         |      i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) AS d
         |  FROM sub a JOIN c0 c ON a.sub = c.sub),
         |a1 AS (
         |  SELECT vec_id, sub, sv, cid FROM (
         |    SELECT vec_id, sub, sv, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                         ORDER BY d ASC, cid ASC) AS rn
         |    FROM s1) WHERE rn = 1),
         |d1 AS (
         |  SELECT sub, cid, GENERATE_SUBSCRIPTS(sv, 1) AS dim, UNNEST(sv) AS x
         |  FROM a1),
         |m1 AS (
         |  SELECT sub, cid, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM d1 GROUP BY sub, cid, dim),
         |c1 AS (
         |  SELECT sub, cid, LIST(c ORDER BY dim) AS cv
         |  FROM m1 GROUP BY sub, cid),
         |s2 AS (
         |  SELECT a.vec_id, a.sub, c.cid,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
         |      i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) AS d
         |  FROM sub a JOIN c1 c ON a.sub = c.sub),
         |codes AS (
         |  SELECT vec_id, sub, cid AS code FROM (
         |    SELECT vec_id, sub, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
         |                         ORDER BY d ASC, cid ASC) AS rn
         |    FROM s2) WHERE rn = 1),
         |dd AS (
         |  SELECT label,
         |    UNNEST(CAST(embedding AS DOUBLE[])) AS x,
         |    GENERATE_SUBSCRIPTS(embedding, 1) AS dim
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS c_label, dim, ${graft.Fns.davgSql("x")} AS c
         |  FROM dd GROUP BY label, dim),
         |carr AS (
         |  SELECT c_label, LIST(c ORDER BY dim) AS cv
         |  FROM cent GROUP BY c_label),
         |sc AS (
         |  SELECT v.vec_id, carr.c_label,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY LIST_COSINE_SIMILARITY(v.v, carr.cv) DESC,
         |               carr.c_label ASC) AS rnk
         |  FROM v CROSS JOIN carr),
         |posting AS (SELECT vec_id, c_label AS cell FROM sc WHERE rnk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, c_label AS cell
         |  FROM sc WHERE vec_id < 3 AND rnk <= 2),
         |qsub AS (
         |  SELECT vec_id AS query_id, sub, sv FROM sub WHERE vec_id < 3),
         |dtab AS (
         |  SELECT q.query_id, q.sub, c.cid AS code,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
         |      i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) AS dt
         |  FROM qsub q JOIN c1 c ON q.sub = c.sub),
         |cand AS (
         |  SELECT p.query_id, po.vec_id
         |  FROM posting po JOIN probes p ON po.cell = p.cell
         |  WHERE po.vec_id <> p.query_id),
         |adc AS (
         |  SELECT c.query_id, c.vec_id,
         |    CAST(SUM(CAST(dtab.dt AS DECIMAL(38,18))) AS DOUBLE) AS adc
         |  FROM cand c
         |  JOIN codes k ON k.vec_id = c.vec_id
         |  JOIN dtab ON dtab.query_id = c.query_id AND dtab.sub = k.sub
         |    AND dtab.code = k.code
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT query_id, vec_id, adc FROM (
         |    SELECT query_id, vec_id, adc,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |                         ORDER BY adc ASC, vec_id ASC) AS rn
         |    FROM adc) WHERE rn <= 10),
         |re AS (
         |  SELECT s.query_id, s.vec_id, s.adc,
         |    LIST_COSINE_SIMILARITY(cv.v, qv.v) AS cos
         |  FROM short s
         |  JOIN v cv ON cv.vec_id = s.vec_id
         |  JOIN v qv ON qv.vec_id = s.query_id)
         |SELECT query_id, vec_id, ROUND(adc, 6) + 0.0 AS adc,
         |  ROUND(cos, 4) AS cosine,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rnk
         |FROM re ORDER BY query_id, rnk""".stripMargin,

    // the identical left-assoc quantize/dequantize chain per element,
    // the same in-order 64-element fold, the same scale-18 label carry
    "q261_int8_quant" -> (
      """WITH p AS (
        |  SELECT label, vec_id,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sct AS (
        |  SELECT label, vec_id, v,
        |    LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) AS sc
        |  FROM p),
        |e AS (
        |  SELECT label, vec_id, sc, LEN(v) AS d,
        |    LIST_TRANSFORM(v, x ->
        |      x - FLOOR(x * 127.0 / sc + 0.5) * sc / 127.0) AS err
        |  FROM sct),
        |m AS (
        |  SELECT label,
        |    CASE WHEN sc > 0 THEN
        |      LIST_SUM(LIST_TRANSFORM(err, x -> x * x)) / CAST(d AS DOUBLE)
        |      ELSE 0.0 END AS mse,
        |    CASE WHEN sc > 0 THEN
        |      LIST_MAX(LIST_TRANSFORM(err, x -> ABS(x)))
        |      ELSE 0.0 END AS maxe
        |  FROM e)
        |SELECT label, COUNT(*) AS n_vecs,
        |  ROUND(""".stripMargin +
        graft.Fns.dsum18Sql("mse") +
        """ / CAST(COUNT(*) AS DOUBLE), 10) + 0.0 AS avg_mse,
        |  ROUND(MAX(maxe), 10) + 0.0 AS max_abs_err
        |FROM m GROUP BY label ORDER BY label""".stripMargin))
}
