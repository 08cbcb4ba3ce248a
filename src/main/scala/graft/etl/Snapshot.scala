package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Crash-atomic snapshot commit over plain parquet — the reference wraps
  * every chunk write in a transaction (`pyopenetl/operations.py:181`
  * `sql_conn.begin()`); this restores that atomicity at snapshot
  * granularity without a table-format dependency (the full Delta/Iceberg
  * log remains the seam for row-level commits, SURVEY.md §7.3).
  *
  * Layout: `root/_v<N>/` holds complete parquet base snapshots;
  * `root/_v<N>_d<M>/` holds incremental delta snapshots on top of base
  * `<N>` (see [[commitDelta]]); `root/_current` is a one-line pointer file
  * naming the committed (base, delta-count) pair. Every base and delta
  * directory also carries `_schema.json`, the schema Spark inferred from
  * the directory right after writing it; reads pass that schema to the
  * parquet reader, so resolving a snapshot launches no schema-inference
  * job (one per directory otherwise, base and every stacked delta).
  * Directories committed before the file existed have none and are read
  * with inference. Base commit order:
  *
  *   1. write the new snapshot into a fresh `_v<N+1>` directory and record
  *      its `_schema.json` — readers never look at it because the pointer
  *      still names `<N>`;
  *   2. write the pointer to a temp file and atomically rename it over
  *      `_current` ([[FileContext.rename]] with OVERWRITE — atomic on
  *      HDFS and POSIX; on S3-likes the pointer is one small object so
  *      the swap is a single atomic PUT), then read it back and verify it
  *      carries this writer's commit token — two committers racing the
  *      same version fail loudly instead of silently dropping a commit;
  *   3. garbage-collect all versions (and their deltas) except the new
  *      one and its predecessor (kept for readers that resolved the
  *      pointer just before the swap).
  *
  * A crash at any point leaves either the old pointer + a dead `_v` dir
  * (invisible to readers — underscore-prefixed paths are also ignored by
  * Spark's file index, so even a legacy `spark.read.parquet(root)` never
  * sees a partial version) or the new pointer + a complete snapshot. The
  * next successful commit always picks `max(pointer, existing dirs) + 1`,
  * so a crashed writer's orphan directory is never reused, and the GC pass
  * removes it.
  *
  * Concurrency contract: optimistic single-winner. The pointer swap is the
  * commit point; each writer stamps a unique token into the pointer and
  * re-reads it after the rename — the writer whose token survives won, any
  * other raises [[Snapshot.ConcurrentCommitException]] with nothing
  * half-committed (its orphan data directory is GC'd later). True
  * lock-free multi-writer (compare-and-swap on the pointer) remains the
  * table-format seam.
  */
object Snapshot {

  /** Thrown when the post-rename pointer read-back shows another writer's
    * commit landed on top of ours — the loser of an optimistic race. The
    * winning commit is intact; the caller retries from a fresh read. */
  final class ConcurrentCommitException(msg: String)
      extends RuntimeException(msg)

  private val PointerName = "_current"

  /** Deltas folded into a new base once a commitDelta would exceed this
    * many stacked deltas (merge-on-read cost is linear in the stack). */
  val CompactThreshold = 8

  /** Default retention depth: the new base plus its predecessor (the
    * reader grace window). [[commit]]'s `retain` parameter widens this —
    * keep N bases and their markers and the time-travel window becomes a
    * policy knob (audit depth) instead of an implementation accident;
    * each retained base holds one full table copy of storage. */
  val DefaultRetain = 2

  /** Committed pointer state: base version, number of stacked deltas, the
    * upsert key the deltas merge on (empty until the first commitDelta),
    * the base's hive-partition columns (comma-separated; compaction must
    * re-lay the folded base out identically or a partitioned destination
    * silently loses its pruning), and the committing writer's unique
    * token. */
  private[etl] final case class Pointer(base: Long, nDeltas: Long,
                                        pk: String, partCols: Seq[String],
                                        token: String) {
    def line: String =
      s"$base:$nDeltas:$pk:${partCols.mkString(",")}:$token"
  }

  private[etl] def parsePointer(s: String): Pointer = {
    val t = s.trim
    t.toLongOption match {
      case Some(v) => Pointer(v, 0L, "", Nil, "") // legacy plain-version
      case None =>
        // limit=-1 keeps trailing empties: "3:2:id::" splits to 5 fields
        val parts = t.split(":", -1)
        require(parts.length == 5, s"unparseable snapshot pointer: $t")
        Pointer(parts(0).toLong, parts(1).toLong, parts(2),
          parts(3).split(",").toSeq.filter(_.nonEmpty), parts(4))
    }
  }

  private def conf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  private def versionDir(root: String, v: Long) = new Path(root, s"_v$v")

  private def deltaDir(root: String, v: Long, d: Long) =
    new Path(root, s"_v${v}_d$d")

  /** The raw pointer line — kept verbatim (not re-serialized) because the
    * optimistic-concurrency check compares it byte-for-byte. */
  private def readPointerLine(spark: SparkSession, root: String)
      : Option[String] = {
    val ptr = new Path(root, PointerName)
    val fs  = ptr.getFileSystem(conf(spark))
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try Some(new String(in.readAllBytes(), UTF_8).trim)
      finally in.close()
    }
  }

  private def readPointer(spark: SparkSession, root: String)
      : Option[Pointer] =
    readPointerLine(spark, root).map(parsePointer)

  /** The committed base version, if the root has ever been committed to. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    readPointer(spark, root).map(_.base)

  private def commitsDir(root: String) = new Path(root, "_commits")

  /** Time-travel surface: the base versions currently readable via
    * [[readVersion]] — committed versions whose data directories the GC
    * still retains (the newest `retain` bases; see [[commitHooked]]'s
    * grace-window rule), oldest first. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val cd = commitsDir(root)
    val fs = cd.getFileSystem(conf(spark))
    val committed =
      Option(fs.globStatus(new Path(cd, "v*_d*"))).toSeq.flatten
        .flatMap(_.getPath.getName.stripPrefix("v")
          .takeWhile(_ != '_').toLongOption).toSet
    listVersions(spark, root).filter(committed).sorted
  }

  /** Read the table AS OF a retained base version — the committed state
    * after that base's LAST pointer swap (deltas stacked on it included),
    * exactly what [[read]] returned while that version was current. Every
    * pointer swap also writes a tiny marker file under `_commits/` naming
    * the swapped pointer line; resolving a past version replays the
    * newest marker for that base, which skips torn delta directories the
    * pointer never named (same crash-safety rule as the live path).
    * Retention is the GC's: the newest `retain` committed bases
    * ([[commit]]'s knob, default current + predecessor — older versions
    * fail loudly here). The unbounded-history variant is the table-format
    * (Delta/Iceberg log) seam — this is the N-version undo/audit window
    * a plain-parquet destination can afford at N table-copies of storage.
    */
  def readVersion(spark: SparkSession, root: String, version: Long)
      : DataFrame = {
    val cur = readPointer(spark, root)
    if (cur.exists(_.base == version)) read(spark, root)
    else {
      val dir = versionDir(root, version)
      val fs  = dir.getFileSystem(conf(spark))
      require(fs.exists(dir),
        s"version $version is not retained at $root " +
          s"(readable: ${versions(spark, root).mkString(", ")})")
      val cd = commitsDir(root)
      val marker =
        Option(fs.globStatus(new Path(cd, s"v${version}_d*"))).toSeq.flatten
        .sortBy(_.getPath.getName.split("_d").last.toLong)
        .lastOption
        .getOrElse(throw new IllegalArgumentException(
          s"version $version has a data directory but no commit marker " +
            s"at $root — it predates the time-travel protocol"))
      val in = fs.open(marker.getPath)
      val p = try parsePointer(new String(in.readAllBytes(), UTF_8))
        finally in.close()
      val base = readDir(spark, dir)
      if (p.nDeltas == 0L) base
      else mergedView(base, (1L to p.nDeltas).map(d =>
        readDir(spark, deltaDir(root, version, d))), p.pk)
    }
  }

  /** The number of delta snapshots stacked on the committed base. */
  def currentDeltaCount(spark: SparkSession, root: String): Long =
    readPointer(spark, root).map(_.nDeltas).getOrElse(0L)

  /** All `_v<N>` base directories present, committed or not (delta dirs
    * `_v<N>_d<M>` fail the toLong parse and drop out). */
  private def listVersions(spark: SparkSession, root: String): Seq[Long] = {
    val p  = new Path(root)
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) Nil
    else fs.globStatus(new Path(root, "_v*")).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName.stripPrefix("_v").toLongOption)
  }

  /** All `_d<M>` indices present for base `v`, committed or not. */
  private def listDeltas(spark: SparkSession, root: String, v: Long)
      : Seq[Long] = {
    val p  = new Path(root)
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) Nil
    else fs.globStatus(new Path(root, s"_v${v}_d*")).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName.stripPrefix(s"_v${v}_d").toLongOption)
  }

  /** Resolve the pointer and read the committed table: the base snapshot
    * with any committed deltas folded in, newest delta winning per key
    * (exactly iterated [[UpsertKernel.merge]], restated as one window).
    * Roots that have never been committed through [[commit]] fall back to
    * a plain parquet read, so legacy destinations upgrade on their next
    * commit.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readPointer(spark, root) match {
      case Some(p) =>
        val dir = versionDir(root, p.base)
        require(dir.getFileSystem(conf(spark)).exists(dir),
          s"snapshot pointer names _v${p.base} but the directory is missing: $root")
        val base = readDir(spark, dir)
        if (p.nDeltas == 0L) base
        else mergedView(base, (1L to p.nDeltas).map(d =>
          readDir(spark, deltaDir(root, p.base, d))), p.pk)
      case None => spark.read.parquet(root)
    }

  private val SchemaFile = "_schema.json"

  /** Infer the schema of a directory this writer just filled (one Spark
    * job over a parquet footer) and record it as `_schema.json` inside
    * the directory. Called before the pointer swap: a crash leaves the
    * file in a directory no pointer names, and a retried delta commit
    * overwrites it with the directory. The `_` prefix keeps it out of
    * Spark's file index. */
  private def recordSchema(spark: SparkSession, dir: Path): Unit = {
    val schema = spark.read.parquet(dir.toString).schema
    val out = dir.getFileSystem(conf(spark))
      .create(new Path(dir, SchemaFile), true)
    try out.write(schema.json.getBytes(UTF_8)) finally out.close()
  }

  /** Read one committed base or delta directory with its recorded schema
    * (no inference job); a directory committed before schemas were
    * recorded has no `_schema.json` and falls back to inference. */
  private def readDir(spark: SparkSession, dir: Path): DataFrame = {
    val file = new Path(dir, SchemaFile)
    val reader =
      try {
        val in = file.getFileSystem(conf(spark)).open(file)
        val json = try new String(in.readAllBytes(), UTF_8) finally in.close()
        spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
      } catch { case _: java.io.FileNotFoundException => spark.read }
    reader.parquet(dir.toString)
  }

  /** base ⊎ deltas with latest-wins-per-pk semantics: one union + one
    * window on pk — O(base + Σdeltas) with a single shuffle, not the
    * O(nDeltas) chained anti-joins of iterated merge. `unionByName` with
    * null-fill tolerates per-delta schema drift (added/dropped columns),
    * matching [[UpsertKernel.merge]]'s documented policy. Rows within one
    * source are assumed pk-unique ([[commitDelta]]'s contract). */
  private def mergedView(base: DataFrame, deltas: Seq[DataFrame],
                         pk: String): DataFrame = {
    val ranked = (base +: deltas).zipWithIndex
      .map { case (df, i) => df.withColumn("__prec", lit(i)) }
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(pk)).orderBy(col("__prec").desc)
    ranked.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__prec", "__rn")
  }

  /** Commit `df` as the next base version of `root` (see object doc for
    * the crash-safety argument) and return a reader over the committed
    * files. `partitionCols` lays the version out hive-partitioned
    * (directory pruning inside the committed snapshot). Resets the delta
    * stack: a base commit is the whole table.
    */
  def commit(df: DataFrame, root: String,
             partitionCols: Seq[String] = Nil,
             retain: Int = DefaultRetain): DataFrame =
    commitHooked(df, root, partitionCols, () => (), retain = retain)

  /** [[commit]] with a phase hook fired between the data write and the
    * pointer swap — the deterministic seam the concurrent-commit test
    * interleaves through (production callers never pass it) — and the
    * pk carried forward by compaction (a fresh full commit resets it). */
  private[etl] def commitHooked(df: DataFrame, root: String,
                                partitionCols: Seq[String],
                                beforeSwap: () => Unit,
                                pk: String = "",
                                retain: Int = DefaultRetain): DataFrame = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val spark = df.sparkSession
    val prevLine = readPointerLine(spark, root)
    val prev  = prevLine.map(parsePointer)
    // one listing serves both the next-version pick and GC; on an object
    // store that's one LIST per commit, not two
    val seen  = listVersions(spark, root)
    val next  =
      (prev.map(_.base).getOrElse(0L) max seen.maxOption.getOrElse(0L)) + 1

    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(versionDir(root, next).toString)
    recordSchema(spark, versionDir(root, next))
    beforeSwap()
    swapPointer(spark, root,
      Pointer(next, 0L, pk, partitionCols, newToken()), prevLine)

    val fs = new Path(root).getFileSystem(conf(spark))
    // GC dead bases and their delta stacks, keeping the newest `retain`
    // COMMITTED bases (marker-backed — a crashed writer's orphan dir has
    // no marker and always dies). retain=2 is the minimum grace window:
    // an in-flight reader may hold a pointer resolved just before the
    // swap, deltas included; larger values are the time-travel policy.
    val committed =
      (Option(fs.globStatus(new Path(commitsDir(root), "v*_d*"))).toSeq
        .flatten
        .flatMap(_.getPath.getName.stripPrefix("v")
          .takeWhile(_ != '_').toLongOption)
        .toSet ++ prev.map(_.base)) - next
    val keep = committed.toSeq.sorted.takeRight(retain - 1).toSet + next
    seen.filterNot(keep)
      .foreach { v =>
        fs.delete(versionDir(root, v), true)
        listDeltas(spark, root, v)
          .foreach(d => fs.delete(deltaDir(root, v, d), true))
        // markers die with their version (readVersion lists data dirs
        // first, but a live marker for dead data would make the error
        // message lie about what is readable); globStatus is null when
        // _commits does not exist yet (legacy roots)
        Option(fs.globStatus(new Path(commitsDir(root), s"v${v}_d*")))
          .toSeq.flatten.foreach(st => fs.delete(st.getPath, false))
      }
    // first commit over a legacy plain-parquet root: drop the pre-protocol
    // top-level files, otherwise a reader still on the old contract
    // (spark.read.parquet(root)) silently reads the frozen pre-upgrade
    // snapshot forever and the dead copy holds its disk. After cleanup a
    // legacy read fails loudly instead — the correct outcome once the
    // root's contract has changed.
    if (prev.isEmpty)
      fs.listStatus(new Path(root))
        .filter(st => !st.getPath.getName.startsWith("_"))
        .foreach(st => fs.delete(st.getPath, true))
    readDir(spark, versionDir(root, next))
  }

  /** Commit `delta` incrementally: O(batch) write of a `_v<N>_d<M+1>`
    * delta directory + the atomic pointer swap — never a rewrite of the
    * base. [[read]] resolves base ⊎ deltas with latest-wins-per-`pk`
    * merge semantics (the upsert kernel's `ON CONFLICT DO UPDATE`), so a
    * continuously-running update pipeline (the reference's hourly
    * `UpdatePipeline`, pipelines.py:73-115) costs per micro-batch what
    * the batch carries, not what the table holds. Once the stack would
    * exceed [[CompactThreshold]] the resolved view is folded into a new
    * base — O(table) once every K batches, amortized O(batch + table/K).
    *
    * Contract: `delta` rows are pk-unique (the streaming sink dedups
    * deterministically before committing); `pk` must match the stack's
    * (verified — a key change mid-stack would silently corrupt the
    * merge). A root with no base yet takes the delta as base version 1.
    *
    * Returns nothing: read the committed table with [[read]]. Beyond its
    * write jobs a commit launches one schema-inference job, for the
    * `_schema.json` of the directory it wrote (plus the compaction's own
    * write and inference when the stack folds).
    *
    * Crash-safety is the base protocol's: a crash before the swap leaves
    * a torn `_d<M+1>` directory the pointer never names — invisible to
    * readers, and overwritten whole, schema file included, by the retried
    * commit (the next index is always pointer-count + 1); base commits GC
    * the whole stack of dead versions.
    */
  def commitDelta(delta: DataFrame, root: String, pk: String): Unit = {
    val spark = delta.sparkSession
    val prevLine = readPointerLine(spark, root)
    prevLine.map(parsePointer) match {
      case None =>
        val p  = new Path(root)
        val fs = p.getFileSystem(conf(spark))
        val legacyData = fs.exists(p) && fs.listStatus(p)
          .exists(!_.getPath.getName.startsWith("_"))
        if (legacyData) {
          // pre-protocol root with live data: upgrade it to base v1 first
          // (one O(table) pass, once), THEN stack the delta — committing
          // the delta as the table would silently drop the legacy rows
          commit(spark.read.parquet(root), root)
          commitDelta(delta, root, pk)
        } else commit(delta, root) // first ever write: delta IS the table
      case Some(p) =>
        require(p.pk.isEmpty || p.pk == pk,
          s"delta pk '$pk' does not match the stack's pk '${p.pk}' at $root")
        // always pointer-count + 1: a crashed writer's torn _d<M+1> is
        // invisible (the pointer never named it) and the retry's
        // mode=overwrite IS the recovery — deriving the index from
        // directory listings instead would skip past the orphan and
        // then read would fold the torn data in (indices 1..nDeltas
        // are what read resolves)
        val nextD = p.nDeltas + 1
        delta.write.mode("overwrite")
          .parquet(deltaDir(root, p.base, nextD).toString)
        recordSchema(spark, deltaDir(root, p.base, nextD))
        swapPointer(spark, root,
          Pointer(p.base, nextD, pk, p.partCols, newToken()), prevLine)
        // compaction preserves the base's hive-partition layout (recorded
        // in the pointer) — folding deltas must not flatten a partitioned
        // destination's directory pruning
        if (nextD >= CompactThreshold)
          commitHooked(read(spark, root), root, p.partCols, () => (), pk)
    }
  }

  /** Delete the WHOLE store (every version, delta, marker, and the
    * pointer) — the end-of-life complement of version GC, for stores
    * whose lifetime is one run (a contract row's scratch index):
    * version GC only bounds growth WITHIN an app, so a per-run root
    * left behind accumulates across runs. Callers must have
    * materialized (localCheckpoint/collect) anything still reading the
    * store — a lazy plan over [[read]] fails after this.
    */
  def destroy(spark: SparkSession, root: String): Unit = {
    val p  = new Path(root)
    val fs = p.getFileSystem(conf(spark))
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def newToken(): String = java.util.UUID.randomUUID().toString

  /** Pointer swap: temp write + atomic OVERWRITE rename, so readers see
    * the old or the new pointer, never a torn one. Optimistic-concurrency
    * commit point, checked on BOTH edges:
    *  - before the rename, the pointer must still read exactly what this
    *    writer saw at commit start (`expected`) — a writer that would
    *    otherwise blind-overwrite an interloper's committed pointer fails
    *    loudly instead, with the interloper's commit intact;
    *  - after the rename, the pointer must read back this writer's token
    *    — a racer whose rename landed on top of ours makes US the loser,
    *    and we must not report success.
    * A racer landing exactly between the check and the rename can still
    * be clobbered — closing that window needs a true compare-and-swap,
    * which is the table-format (Delta/Iceberg log) seam. */
  private def swapPointer(spark: SparkSession, root: String,
                          p: Pointer, expected: Option[String]): Unit = {
    val ptr = new Path(root, PointerName)
    val tmp = new Path(root, s"$PointerName.tmp")
    val fs  = ptr.getFileSystem(conf(spark))
    val atStart = readPointerLine(spark, root)
    if (atStart != expected)
      throw new ConcurrentCommitException(
        s"lost commit race at $root: pointer moved from " +
          s"'${expected.getOrElse("<none>")}' to " +
          s"'${atStart.getOrElse("<none>")}' while this commit was " +
          "writing — another writer committed; retry from a fresh read")
    val out = fs.create(tmp, true)
    try { out.write(p.line.getBytes(UTF_8)); out.hflush() }
    finally out.close()
    FileContext.getFileContext(ptr.toUri, conf(spark))
      .rename(tmp, ptr, Options.Rename.OVERWRITE)
    val found = readPointerLine(spark, root)
    if (!found.contains(p.line))
      throw new ConcurrentCommitException(
        s"lost commit race at $root: wrote pointer '${p.line}' but found " +
          s"'${found.getOrElse("<none>")}' — another writer committed " +
          "concurrently; retry from a fresh read")
    // time-travel marker (one tiny PUT, after the commit point): the
    // newest v<base>_d<n> marker is how readVersion replays a PAST base's
    // final pointer state. A crash here loses only the marker — the live
    // pointer is already committed, and readVersion of the CURRENT base
    // routes through read() anyway.
    val mf = new Path(commitsDir(root), s"v${p.base}_d${p.nDeltas}")
    val mout = fs.create(mf, true)
    try { mout.write(p.line.getBytes(UTF_8)); mout.hflush() }
    finally mout.close()
  }
}
