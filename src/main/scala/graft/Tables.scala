package graft

import graft.sources.ParquetSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Fixture-table loader (TESTDATA.md / FIXTURES.md).
  *
  * Parquet stands in for the reference's external RDBMS/warehouse tables
  * (python-openetl keeps all data in Postgres-family or BigQuery —
  * `pyopenetl/connections.py:42-212`); a scan here is the analog of the
  * reference's `SELECT * FROM {table}` chunked read
  * (`pyopenetl/operations.py:39-51`), with Spark partitions playing the role
  * of the 100k-row pandas chunks.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The payload and fact tables whose scan `t` fans out. The fanout hashes
    * each table's leading column, which assumes that column is the table's
    * key or a well-spread key: `documents.doc_id`, `embeddings.vec_id` and
    * `orders.o_orderkey` are unique, `lineitem.l_orderkey` holds at most 12
    * rows per key (checked on the sf0.001 fixture). A table added here must
    * lead with such a column, or one hot key lands on one task. */
  private val FanoutTables = Set("documents", "embeddings", "lineitem", "orders")

  /** Fanout width: one task per this many bytes of file. */
  private val FanoutTaskBytes = 16384L

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects
    // ([PARQUET_TYPE_ILLEGAL]); read it as raw nanos and floor to micros.
    // Whole-µs fixture values make this lossless, and flooring agrees with
    // how µs-precision engines compare against whole-second literals.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // A µs-precision fixture written without the UTC-adjusted annotation
    // (pyarrow timestamp[us]) would otherwise surface as TIMESTAMP_NTZ,
    // which unix_micros/window-range arithmetic reject. The session runs
    // in UTC, so reading it as an instant preserves every face value and
    // matches the oracle's naive-timestamp comparisons.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df0 = ParquetSchema.read(spark, s"$sfDir/$name.parquet")
    val df =
      if (name == "events" && df0.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df0
    // Scan fanout (r14; guide §2.5 "input skew — one huge unsplittable
    // file"): the fixture tables are SINGLE-ROW-GROUP parquet files, so
    // however the session splits byte ranges, exactly one scan task
    // carries rows — and every per-row expression fused into the scan
    // (tokenization, hash regeneration, MinHash banding, n-gram
    // explodes) serializes on one core while the other 31 idle
    // (profiled: q165's dominant stage was 1 task × 8.2 s, q293's two
    // 1 task × 2.4 s each). One round-robin repartition right after the
    // read spreads the rows across the session's cores. Scale-adaptive,
    // not a local constant: the branch fires only when the file's own
    // split math (size / maxPartitionBytes) cannot reach the session's
    // parallelism — at production scale inputs are thousands of
    // splittable files, estimated splits exceed the core count, and the
    // plan is untouched (no shuffle added). Results are unaffected by
    // construction: every declared query is partitioning-order
    // independent (the oracle-hash discipline), and repartition(n) with
    // an explicit count is exempt from AQE coalescing.
    // r15 re-tune of the gate, from the r14 per-query census
    // (OPTIMIZATION_r15.md): the fanout's win concentrates where the
    // scan fuses CPU-dense per-row work — the text/vector payload tables
    // (documents/embeddings: net −36 s at sf0.1) and the fact tables'
    // aggregation-heavy consumers (lineitem/orders) — while on events
    // (windows/sessionization that immediately re-key by user) and the
    // dimension tables it was pure fixed tax (+15.2 s net on events
    // alone). The loader knows the table kind (exactly the catalog-hint
    // knowledge a production loader has), so the fanout fires only for
    // the payload/fact tables (`FanoutTables`).
    val par = spark.sparkContext.defaultParallelism
    // NonFatal (r15, ADVICE): the intended miss case is a non-local path
    // where Files.size throws an IO error — a fatal error (OOM, linkage)
    // must propagate, not silently become "no fanout".
    val bytes = try java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$sfDir/$name.parquet"))
    catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val splits = math.max(1L,
      bytes / spark.sessionState.conf.filesMaxPartitionBytes)
    if (!FanoutTables.contains(name) || splits >= par) df
    else {
      // Width scales with input size (r15): one fanout task per
      // `FanoutTaskBytes` of file, capped at the core count — a small
      // table keeps its 1-task scan (the exchange's fixed scheduling
      // cost exceeds anything it could parallelize) while the
      // corpus-sized tables still reach every core.
      val width = math.min(par.toLong, bytes / FanoutTaskBytes)
      if (width <= splits) df
      else
        // Key-hash fanout (r15, guide §2.5 "derive the synthetic key
        // deterministically"): r14's keyless repartition(n) paid a
        // map-side sort of the WHOLE table inside the single scan task
        // (spark.sql.execution.sortBeforeRepartition, on by default so
        // retried tasks reproduce their row-to-partition assignment) —
        // serialized on one core by construction here, and the dominant
        // share of the fanout's fixed tax. Hashing the table's leading
        // column (a key on every `FanoutTables` entry) spreads rows
        // with NO map-side sort, stays deterministic under task retry
        // by construction, and — unlike hashing every column — leaves
        // column pruning intact (the exchange adds one narrow key
        // column to the read, not the whole row).
        df.repartition(width.toInt,
          org.apache.spark.sql.functions.xxhash64(df.col(df.columns.head)))
    }
  }
}
