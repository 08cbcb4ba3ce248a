package graft.llm

import graft.etl.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-run exact dedup against a persistent fingerprint store — the
  * production shape of one-shot content-hash dedup (q31) run as a daily
  * crawl pipeline: each batch drops documents whose content was ever seen
  * by ANY previous run, then records its own novel fingerprints, all
  * through the crash-atomic [[Snapshot]] delta protocol (O(batch) work
  * per run, compacted past the stack threshold; a killed run never
  * corrupts the store).
  *
  * The store holds fingerprints only — (content_hash, doc_id), never
  * text — so at 100 TB it is a vanishing fraction of corpus bytes and
  * the anti-join shuffles the incoming batch against a 128-bit key.
  * Within-batch duplicates collapse to the lowest-key row first (the
  * deterministic canonical, same tie-break as the one-shot dedup), so a
  * batch carrying its own repeats still commits one fingerprint each.
  */
object DedupStore {

  /** The batch rows novel to (store ∪ earlier rows of this batch), with
    * their `content_hash` attached; commits NOTHING. The returned frame
    * is pinned to the store version current at call time (Snapshot.read
    * resolves the pointer eagerly), so later commits don't re-filter it.
    */
  def novelAgainstStore(batch: DataFrame, storePath: String,
                        textCol: String = "text",
                        keyCol: String = "doc_id"): DataFrame = {
    val spark = batch.sparkSession
    val hashed = batch.withColumn("content_hash", sha2(col(textCol), 256))
    val w = Window.partitionBy(col("content_hash")).orderBy(col(keyCol))
    val canon = hashed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    Snapshot.currentVersion(spark, storePath) match {
      case None => canon // first run: everything is novel
      case Some(_) =>
        canon.join(Snapshot.read(spark, storePath).select("content_hash"),
          Seq("content_hash"), "left_anti")
    }
  }

  /** Append the novel rows' fingerprints to the store (O(batch) delta
    * commit). In a two-destination pipeline (corpus + store), commit the
    * CORPUS first: a crash between the two commits then leaves content
    * unrecorded — the replayed batch re-commits the same rows, which the
    * pk-folded snapshot read absorbs — whereas fingerprints-first would
    * make the replay see its own content as "seen" and drop it forever.
    */
  def recordFingerprints(novel: DataFrame, storePath: String,
                         keyCol: String = "doc_id"): Unit = {
    Snapshot.commitDelta(
      novel.select(col("content_hash"), col(keyCol)),
      storePath, pk = "content_hash")
    ()
  }

  /** One-call form: novel rows returned, fingerprints committed. */
  def dedupeAgainstStore(batch: DataFrame, storePath: String,
                         textCol: String = "text",
                         keyCol: String = "doc_id"): DataFrame = {
    val novel = novelAgainstStore(batch, storePath, textCol, keyCol)
    recordFingerprints(novel, storePath, keyCol)
    novel
  }

  /** MinHash-LSH band postings for `docs` — the NEAR-dup twin of the
    * fingerprint store above, and the persistable half of
    * [[DedupQueries.candidatePairs]]: one row per (doc, band) with the
    * band's bucket hash. `posting_id = doc_id * Bands + band` is the
    * snapshot pk: each document owns exactly `Bands` posting ids, so a
    * re-landed document's delta replaces precisely its own rows under
    * the store's latest-wins-per-pk merge-on-read — never another
    * doc's. Store size is Bands rows × 2 longs per document — like the
    * exact store, a vanishing fraction of corpus bytes at 100 TB.
    */
  def bandPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.MinHashBands.minhashBands(
          col("text"), DedupQueries.NumHashes, DedupQueries.Bands))
          .as(Seq("band", "band_hash")))
      .select(
        (col("doc_id") * DedupQueries.Bands + col("band")).as("posting_id"),
        col("doc_id"), col("band"), col("band_hash"))

  /** Admission decisions for a batch against the SEEN store — the
    * postings + token arrays of every document landed so far, INCLUDING
    * this batch's own rows: doc d is dropped iff some seen doc e with
    * `e.doc_id < d.doc_id` exact-verifies at `threshold`. The strict id
    * order is what makes the streaming sink's land-then-decide ordering
    * crash-safe: a doc never matches itself, batch-mates with smaller
    * ids are tested exactly as if they had arrived one batch earlier,
    * and a REPLAYED batch (whose postings already sit in the store under
    * their pk) computes the identical decisions — admission is a pure
    * function of (store contents, batch ids), not of how the stream was
    * split. Returns one row per dropped batch doc: (doc_id, n_matches,
    * best_jaccard). Scale shape: one equi-join of the batch's O(batch)
    * postings against the index on (band, band_hash), then a
    * candidate-sized verify join — never batch × corpus.
    */
  def dropsAgainstSeen(batchPostings: DataFrame, batchToks: DataFrame,
                       seenPostings: DataFrame, seenToks: DataFrame,
                       threshold: Double): DataFrame =
    verify(bandPairs(batchPostings, seenPostings)
      .filter(col("b_id") < col("a_id")), // earlier doc survives
      batchToks, seenToks, threshold)

  /** The incoming dump's near-dup drops answered FROM the standing
    * postings index — no recompute of corpus postings: candidates come
    * from one equi-join of the dump's O(batch) postings against the
    * index on (band, band_hash), then exact Jaccard verification at
    * `threshold` against the candidate old docs' token arrays (so every
    * drop is a TRUE near-dup — LSH only gates recall, never precision).
    * Returns one row per dropped dump doc: (doc_id, n_matches,
    * best_jaccard). Scale shape: the index join touches index rows
    * co-keyed by band hash (bucket-sized blowup, the q36 argument), the
    * verify join is candidate-sized — never dump × corpus.
    */
  def dropsAgainstIndex(dumpPostings: DataFrame, index: DataFrame,
                        dumpToks: DataFrame, oldToks: DataFrame,
                        threshold: Double): DataFrame =
    verify(bandPairs(dumpPostings, index), dumpToks, oldToks, threshold)

  /** Doc pairs (a_id, b_id) whose postings share a band bucket, with
    * the bucket's (band, band_hash). */
  private def bandPairs(aPostings: DataFrame, bPostings: DataFrame)
      : DataFrame =
    aPostings
      .select(col("doc_id").as("a_id"), col("band"), col("band_hash"))
      .join(bPostings.select(col("doc_id").as("b_id"), col("band"),
        col("band_hash")), Seq("band", "band_hash"))

  /** The candidate-verify tail both drop queries share: the distinct
    * (a_id, b_id) pairs of `pairs`, exact-verified at `threshold` Jaccard
    * on their token arrays; one row per dropped `a` doc. */
  private def verify(pairs: DataFrame, aToks: DataFrame, bToks: DataFrame,
                     threshold: Double): DataFrame = {
    val cand = pairs.select(col("a_id"), col("b_id")).distinct()
    cand
      .join(aToks.select(col("doc_id").as("a_id"),
        col("tok").as("a_tok")), "a_id")
      .join(bToks.select(col("doc_id").as("b_id"),
        col("tok").as("b_tok")), "b_id")
      .withColumn("n_common",
        graft.functions.SortedIntersectCount.sortedIntersectCount(
          col("a_tok"), col("b_tok")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("a_tok")) + size(col("b_tok")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("a_id").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(round(col("jaccard"), 4)).as("best_jaccard"))
  }
}
