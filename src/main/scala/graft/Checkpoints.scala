package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Deterministic cleanup for iterative algorithms' localCheckpoints.
  *
  * `Dataset.localCheckpoint` caches its materialized rows in an internal
  * RDD that `Dataset.unpersist` does NOT release (the data bypasses the
  * CacheManager), so per-round checkpoints of an iterative kernel
  * (connected components, PageRank, k-means) accumulate in executor
  * storage until the JVM happens to garbage-collect the Dataset and the
  * async ContextCleaner notices — under heap pressure that shows up as
  * multi-second GC stalls landing on whatever query runs NEXT. Iterative
  * kernels instead free each superseded round as soon as its successor is
  * materialized, keeping live checkpoint storage bounded by one round
  * (plus the edge list) at any moment, on a laptop or on a 1000-executor
  * cluster.
  */
object Checkpoints {
  /** Cluster-safety switch (r15). `localCheckpoint` truncates lineage to
    * EXECUTOR-LOCAL blocks: cheap and exactly right for single-process
    * local mode, but on a real cluster an executor loss mid-query makes
    * every frame that read the lost blocks unrecoverable (no lineage
    * left to recompute from — the job dies). At 100 TB the shared-subplan
    * materializations (HITS half-steps, the classifier's lab/z frames,
    * q321's scorer) and per-round iterative states should instead use
    * RELIABLE checkpoints: set `spark.graft.checkpoint.reliable=true`
    * and a checkpoint dir (`spark.checkpoint.dir`, any HDFS-compatible
    * path) and every ckpt() and [[ckptSerialized]] site — which is every
    * checkpoint in the program — writes its rows there, surviving executor
    * loss at the cost of one distributed write+read. Local default stays
    * `false`: the bench/verify sessions are one JVM, where local blocks
    * are both safe and measurably cheaper. (Reliable checkpoint FILES
    * are reclaimed by the ContextCleaner only with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; set it
    * alongside. [[free]]/[[freeingAfter]] unpersist block-backed
    * checkpoints and are harmless no-ops on file-backed ones.)
    */
  def ckpt(df: DataFrame): DataFrame =
    if (reliable(df))
      df.checkpoint()
    else df.localCheckpoint()

  /** [[ckpt]] for the corpus-scale edge lists PageRank, BFS and SSSP
    * hold across every round: local blocks are stored serialized (one
    * byte array per block, not millions of row objects for GC to trace). */
  def ckptSerialized(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint()
    else df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.checkpoint.reliable", "false")
      .toBoolean

  /** Release the cached blocks behind a localCheckpointed frame. The
    * frame must not be read again (its lineage is truncated — there is
    * nothing left to recompute from). Non-blocking: removal proceeds in
    * the background while the next round runs.
    *
    * ROOT-ONLY on purpose: a frame qualifies only when its analyzed plan
    * IS the checkpoint's `LogicalRDD` (what `localCheckpoint()` returns).
    * A derived frame (e.g. an un-checkpointed seed built FROM a
    * checkpointed edge list) silently no-ops — walking the tree instead
    * would tear the edge blocks out from under every later iteration.
    */
  def free(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** `localCheckpoint` then free the superseded previous round — the
    * one-liner iterative kernels use in their loops. */
  def roll(next: DataFrame, prev: DataFrame): DataFrame = {
    val n = ckpt(next)
    free(prev)
    n
  }

  /** Run `body`, then release every RDD it left persisted (the delta of
    * `sc.getPersistentRDDs`). Iterative kernels free each superseded
    * round themselves, but their RETURNED frame is a localCheckpoint the
    * caller owns — in a harness that executes many independent queries in
    * one JVM (Bench, Verify) those final frames would otherwise strand a
    * block set per execution until storage squeezes execution. Wrap each
    * query: once its result is consumed, the delta is dead weight.
    * Non-blocking, so the removal overlaps the next query.
    *
    * SINGLE-CONCURRENT-SCOPE ASSUMPTION (r15, ADVICE): the delta is
    * computed against the SESSION-GLOBAL persistent-RDD set, so two
    * freeingAfter scopes racing on one SparkSession can unpersist each
    * other's checkpoints — and a localCheckpoint torn out from under a
    * reader fails unrecoverably (its lineage is truncated). Every
    * current caller is sequential by construction: Bench/Verify run
    * queries one at a time, and the streaming sinks wrap foreachBatch
    * bodies of a single AvailableNow stream whose micro-batches are
    * serial. Code that runs concurrent work on a shared session must
    * NOT wrap it in freeingAfter; track and free its own frames
    * instead (Checkpoints.free on the specific checkpoints). */
  def freeingAfter[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs
      .filterNot { case (id, _) => before(id) }
      .values.foreach(_.unpersist(blocking = false))
  }
}
