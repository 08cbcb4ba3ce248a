package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming variants of the engine's incremental semantics
  * (SURVEY.md §2.2 "Streaming"). The reference is batch-incremental: server
  * cursors (`pyopenetl/connections.py:58,84,118-121`) stream rows, and the
  * `data_interval_hours` lookback (`operations.py:539-540`) is a crude
  * late-data allowance — re-reading n hours tolerates data arriving up to n
  * hours late. Structured Streaming makes both explicit: micro-batches
  * replace cursor chunks, watermarks replace the lookback.
  *
  * Batch twins of each transform live in `graft.ops.EventQueries`
  * (q28/q29/q30) where the DuckDB oracle can check them; these streaming
  * shapes are ScalaTest-verified with MemoryStream.
  */
object StreamingOps {

  /** Tumbling-window aggregation with a 1-hour watermark (batch twin: q28).
    * State is bounded: windows older than watermark are finalized and
    * dropped.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding-window aggregation: 1-hour windows every 30 minutes, so each
    * event contributes to two overlapping windows (batch twin: q61). State
    * is 2x the tumbling variant's — one open window per slide step — and
    * still watermark-bounded.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Session windows with a 30-minute inactivity gap (batch twin: q29). */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"),
        col("session_value"))

  /** Streaming per-window top-k via the bounded-heap native aggregate
    * (batch twin: q207). The heap state is the whole point in a stream:
    * each open window holds ≤k (value, id) slots per event type — a
    * few hundred bytes — no matter how many events the window sees,
    * and incremental batches MERGE heaps instead of re-sorting history
    * (TypedImperativeAggregate's merge path is exactly Structured
    * Streaming's state-update path). Windows past the watermark
    * finalize and drop.
    */
  def topkStream(events: DataFrame, k: Int): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.TopKByAggregate
        .topKBy(col("value"), col("event_id"), k).as("top"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("top"))

  /** Streaming exact-k weighted sample per event-time window (batch
    * twin: q303): key = -ln(u)/w with u tied to the event KEY (md5 of
    * event_id — replay-stable, the q64/q164 argument: a reshuffled or
    * re-delivered stream draws the same u per event) and w = the
    * event's value, aggregated with the bounded-heap
    * [[graft.functions.BottomKByAggregate]]. State per open window is
    * <= k (key, id) slots however many events the window sees, and the
    * heap merge is associative + deterministic under its (v ASC, id
    * ASC) total order, so ANY micro-batch split folds to the identical
    * sample a single batch pass produces — StreamingSpec asserts the
    * arrays bit-equal. The exact-sampling counterpart of
    * [[topkStream]]'s deterministic top-k.
    */
  def weightedSampleStream(events: DataFrame, k: Int): DataFrame =
    weightedSampleWindowed(events.withWatermark("ts", "1 hour"), k)

  /** The one-pass batch twin over the same rows (the [[amsF2Windowed]]
    * pattern) — StreamingSpec asserts the streamed samples bit-equal
    * this, whatever the micro-batch split. */
  def weightedSampleWindowed(events: DataFrame, k: Int): DataFrame = {
    val u = (conv(substring(md5(col("event_id").cast("string")
      .cast("binary")), 1, 8), 16, 10).cast("double") + lit(1.0)) /
      lit(4294967297.0)
    events
      // Weighted sampling is only defined for positive finite weights:
      // value <= 0 / NaN would make -ln(u)/value Inf, negative, or NaN
      // — silently ranking non-weights first and feeding NaN into the
      // heap's total order. Drop such rows up front (a weight of zero
      // means "never sample me", which the filter states exactly).
      .filter(col("value") > lit(0.0) && !isnan(col("value")))
      .select(col("ts"), col("event_id"), (-log(u) / col("value")).as("key"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.BottomKByAggregate
        .bottomKBy(col("key"), col("event_id"), k).as("sample"))
      .select(col("window.start").as("win_start"), col("sample"))
  }

  /** Streaming trending-terms via the mergeable Misra-Gries summary
    * (batch twin: q197): per hourly window, the ≤k-slot frequent-items
    * sketch over the event-type stream. Same bounded-state argument as
    * [[topkStream]] — an exact per-window `groupBy(term).count` would
    * hold every distinct term seen in the window as state; the MG
    * buffer holds k slots however wide the term domain grows, and its
    * n/(k+1) undercount bound means anything above that floor is
    * guaranteed present (the candidates a downstream exact recount
    * would confirm).
    */
  def trendingStream(events: DataFrame, k: Int): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.MisraGriesSketch
        .misraGries(col("event_type"), k).as("trending"))
      .select(col("window.start").as("win_start"), col("trending"))

  /** Count-min counting per event-time window — the counting complement
    * to [[trendingStream]]'s Misra-Gries candidates (MG says WHICH keys
    * are frequent, CMS says roughly HOW frequent any key is), and the
    * streaming twin of q254's relational sketch contract. State per
    * window is the FIXED d×w counter array regardless of the key domain,
    * and the sketch's elementwise-sum merge is exactly associative, so
    * any micro-batch split of the stream folds to the identical array a
    * single batch pass produces — StreamingSpec asserts the arrays are
    * equal bit for bit and that estimates carry the never-under /
    * Markov-envelope guarantees across batch boundaries.
    */
  def cmsStream(events: DataFrame, d: Int = 4, w: Int = 1024): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.CountMinSketchAgg
        .cms(col("event_type"), d, w).as("cms"))
      .select(col("window.start").as("win_start"), col("cms"))

  /** Distinct users per event-time window through a mergeable
    * Datasketches HLL (the q262 batch sketch under Structured
    * Streaming) — the third bounded-state streaming sketch beside
    * [[trendingStream]] (MG candidates) and [[cmsStream]] (CMS counts):
    * an exact per-window `approx == distinct` needs per-key state, the
    * HLL keeps one fixed-size sketch per window no matter how many
    * users arrive, and its union-merge is associative across
    * micro-batches. StreamingSpec splits the stream across batches and
    * asserts the estimates match the batch twin exactly (identical
    * sketches) and sit within the 5% band of the true distinct counts.
    */
  def distinctStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))")
        .as("approx_users"))
      .select(col("window.start").as("win_start"), col("approx_users"))

  /** Per-window quantile sketch through the mergeable
    * [[graft.functions.DdSketchAgg]] (DDSketch, Masson et al. 2019) —
    * the QUANTILE member of the bounded-state streaming sketch family
    * beside [[trendingStream]] (MG candidates), [[cmsStream]] (CMS
    * counts) and [[distinctStream]] (HLL distincts): exact per-window
    * percentiles need every value buffered, the sketch keeps one
    * fixed-budget bucket map per window at a guaranteed relative error
    * α, and its bucket-wise-sum merge is exactly associative across
    * micro-batches. StreamingSpec splits windows across batch
    * boundaries and asserts the bucket arrays equal the batch twin's
    * bit for bit, and that the rank-walk estimates hold the α band
    * against the exact per-window order statistics. Batch contract
    * twin: q287.
    */
  def quantileStream(events: DataFrame, alpha: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.DdSketchAgg.ddSketch(col("value"), alpha)
        .as("dd"))
      .select(col("window.start").as("win_start"), col("dd"))

  /** Per-window AMS tug-of-war F₂ sketch (Alon-Matias-Szegedy 1996;
    * batch contract twin: q295) — the SELF-join-size member of the
    * bounded-state streaming sketch family beside [[trendingStream]]
    * (MG candidates), [[cmsStream]] (CMS counts), [[distinctStream]]
    * (HLL distincts) and [[quantileStream]] (DDSketch quantiles): an
    * exact per-window Σf² needs per-key state, the sketch keeps 64
    * exact-long ±1 counters per window no matter how many keys arrive.
    * Each event contributes its q180-idiom md5 signs scan-locally and
    * the counters are plain SUMs — Spark's own partial aggregation is
    * the merge, exactly associative, so any micro-batch split folds to
    * the identical counter array a single batch pass produces
    * (StreamingSpec asserts bit-equality plus the 4σ envelope of the
    * mean-of-squares estimate against the exact per-window F₂).
    */
  def amsF2Stream(events: DataFrame): DataFrame =
    amsF2Windowed(events.withWatermark("ts", "1 hour"))

  /** The windowed AMS aggregation itself — shared by the stream and its
    * batch twin (the spec runs THIS over the whole fixture in one pass
    * and asserts the split stream folded to the identical arrays). */
  def amsF2Windowed(events: DataFrame): DataFrame = {
    def sgn(b: Int, i: Int) =
      conv(substring(md5(concat(col("user_id").cast("string"),
          lit("#" + b)).cast("binary")), 1 + 2 * i, 2), 16, 10)
        .cast("long") % 2L * 2L - 1L
    val sums = for (b <- 0 until 4; i <- 0 until 16)
      yield sum(sgn(b, i)).as(s"c${b * 16 + i}")
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(sums.head, sums.tail: _*)
      .select(col("window.start").as("win_start"),
        array((0 until 64).map(j => col(s"c$j")): _*).as("counters"))
  }

  /** The q295 estimator over a counter array: mean of the squares. */
  def amsF2Estimate(counters: Seq[Long]): Double =
    counters.map(c => BigDecimal(c.toDouble * c.toDouble))
      .sum.toDouble / counters.size

  /** Stateful stream dedup bounded by the watermark (batch twin: q30). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Watermarked stream-stream join (batch twin: q48's range join): each
    * error joined to the same user's clicks in the following 10 minutes.
    * Both sides are watermarked and the join condition time-bounds the
    * buffered state, so Spark can evict rows older than
    * watermark - interval — unbounded-state stream joins don't survive a
    * 100 TB day; the time bound is what makes this one production-shaped.
    */
  def errorClickJoin(events: DataFrame): DataFrame =
    errorClickJoin(events, "inner")

  private def errorClickJoin(events: DataFrame, joinType: String)
      : DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    errors.join(clicks,
      expr("""user_id = click_user AND
              click_ts > err_ts AND
              click_ts <= err_ts + INTERVAL 10 MINUTES"""),
      joinType)
      .select(col("error_id"), col("user_id"), col("err_ts"), col("click_ts"))
  }

  /** Left-outer watermarked stream-stream join — the state-eviction hard
    * case: an error with no click in its 10-minute window must still emit
    * (with a null click_ts), but only once the watermark proves no
    * matching click can arrive. Same time-bounded condition as
    * [[errorClickJoin]]; the outer side's null emission is what the
    * watermark makes safe (without it the row would wait forever).
    */
  def errorClickJoinLeft(events: DataFrame): DataFrame =
    errorClickJoin(events, "leftOuter")

  /** Input/output shapes for the custom-state operator. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
                         last_seen: java.sql.Timestamp)

  /** Custom keyed state via flatMapGroupsWithState (SURVEY.md §2.2 UDF/state
    * surface): a per-user running profile (count, value total, last-seen),
    * emitted on every update — the hand-rolled generalization of what
    * session_window/dropDuplicatesWithinWatermark do with built-in state.
    * (No state timeout: a ProcessingTimeTimeout makes the scheduler keep
    * firing empty batches to evaluate expirations, which livelocks
    * processAllAvailable-style draining; production eviction belongs to an
    * event-time watermark policy.)
    */
  def runningUserProfile(events: Dataset[UserEvent])
      : Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent],
         state: GroupState[UserRunning]) =>
          val prev = state.getOption
            .getOrElse(UserRunning(userId, 0L, 0.0, null))
          val updated = rows.foldLeft(prev) { (acc, e) =>
            val newer = acc.last_seen == null || e.ts.after(acc.last_seen)
            UserRunning(userId, acc.n_events + 1,
              acc.total_value + e.value,
              if (newer) e.ts else acc.last_seen)
          }
          state.update(updated)
          Iterator.single(updated)
      }
  }

  /** Input/output shapes for the stateful throttle. */
  case class TypedEvent(user_id: Long, event_type: String,
                        ts: java.sql.Timestamp, event_id: Long)
  case class ThrottleDecision(user_id: Long, event_type: String,
                              event_id: Long, kept: Boolean)

  /** Keep-dependent throttle via flatMapGroupsWithState — the TRUE
    * sequential semantics whose closed-form approximation is the q151
    * batch lag rule: an event is kept iff it arrives >= minGapMs after
    * the last KEPT event of its (user, type) key, so a long burst keeps
    * one event per gap window (the lag rule, comparing against the
    * previous event kept or not, drops the whole burst after its first
    * event). This is exactly the semantics that NEEDS per-key sequential
    * state — unreachable for a closed-form window function — and the
    * state is one timestamp per key, watermark-evictable in production.
    * Within a micro-batch, events apply in (ts, event_id) order, so a
    * batch boundary never changes the decision sequence (StreamingSpec
    * asserts the same decisions for one batch vs a straddling split).
    */
  def throttleStream(events: Dataset[TypedEvent], minGapMs: Long)
      : Dataset[ThrottleDecision] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, ThrottleDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((uid, etype), rows, state) =>
          var lastKept = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .map { e =>
              val kept = lastKept == Long.MinValue ||
                e.ts.getTime - lastKept >= minGapMs
              if (kept) lastKept = e.ts.getTime
              ThrottleDecision(uid, etype, e.event_id, kept)
            }
          state.update(lastKept)
          out.iterator
      }
  }

  case class CodedItem(ts_us: Long, event_id: Long, code: String)
  case class PatternBuf(items: Seq[CodedItem])
  case class SessionPattern(user_id: Long, day_idx: Long, path: String,
                            browse_buy: Boolean, error_no_buy: Boolean,
                            instant_buy: Boolean)

  /** Streaming CEP — the continuous twin of q264's session pattern
    * matching (the MATCH_RECOGNIZE / Flink-CEP niche): per (user, day),
    * buffer the arriving type codes with their (ts, event_id) order keys,
    * and when the EVENT-TIME watermark passes the day's end the state
    * times out, the buffer sorts into the definitive code string, the
    * sequence regexes evaluate, and ONE verdict row per user-day emits —
    * identical to the batch kernel on the same rows regardless of
    * arrival order or micro-batch boundaries (the sort at finalization
    * is what buys out-of-order tolerance; an emit-per-batch design would
    * have to retract). State per key is the day's events for that user —
    * the q110 per-user-day bound — and is REMOVED at emission, so live
    * state is one open day per active user, watermark-evicted. The
    * timeout timestamp is the day end; the 1-hour watermark delay is the
    * late-data allowance (the reference's `data_interval_hours` made
    * event-time-exact).
    */
  def sessionPatternStream(events: Dataset[TypedEvent])
      : Dataset[SessionPattern] = {
    import events.sparkSession.implicits._
    val DayUs = 86400000000L
    // exact micros from the Timestamp — getTime*1000 truncates to the
    // millisecond and two events inside one millisecond could then sort
    // differently than the batch kernel's unix_micros order; floorDiv
    // (not /) keeps the day key a FLOOR for pre-epoch timestamps, the
    // same day date_trunc('day') assigns in the batch twin
    def micros(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(e => (e.user_id, Math.floorDiv(micros(e.ts), DayUs)))
      .flatMapGroupsWithState[PatternBuf, SessionPattern](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((uid, day), rows, state) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            val path = buf.items
              .sortBy(i => (i.ts_us, i.event_id)).map(_.code).mkString
            Iterator.single(SessionPattern(uid, day, path,
              "v.*c.*p".r.findFirstIn(path).isDefined,
              path.contains("e") &&
                "e.*p".r.findFirstIn(path).isEmpty,
              path.startsWith("p")))
          } else {
            val prev = state.getOption.getOrElse(PatternBuf(Nil))
            val add = rows.map(e => CodedItem(micros(e.ts),
              e.event_id, e.event_type.take(1))).toSeq
            state.update(PatternBuf(prev.items ++ add))
            // finalize when the watermark passes this day's end
            state.setTimeoutTimestamp((day + 1) * 86400000L)
            Iterator.empty
          }
      }
  }

  /** The corpus-prep pipeline (q85's batch composition) as a continuous
    * stream: clean → quality gate → near-arrival dedup → context-length
    * chunking, over a stream of `(doc_id, ts, text)` — the shape of a
    * crawler feeding training shards continuously instead of in daily
    * batches. Cleaning, the quality gate, and the chunk generator are
    * scan-local (they stream unchanged); dedup becomes
    * `dropDuplicatesWithinWatermark` on the content hash — state bounded
    * by the watermark, keeping the FIRST-ARRIVED copy (the batch twin
    * keeps min doc_id; a streaming engine cannot know a smaller id is
    * coming — the canonical-choice difference is inherent and
    * documented). Output is append-mode safe: every operator here is
    * stateless or watermark-evicted.
    */
  def corpusPrepStream(docs: DataFrame, chunkSize: Int = 50,
                       stride: Int = 40): DataFrame = {
    val stripped  = regexp_replace(col("text"), "<[^>]*>", " ")
    val collapsed = trim(regexp_replace(stripped, "[ \\t\\n\\f\\r]+", " "))
    val cleaned = docs.select(col("doc_id"), col("ts"),
      lower(collapsed).as("clean_text"))
    val tok   = split(col("clean_text"), " ")
    val nTok  = size(tok).cast("double")
    val nStop = size(filter(tok, (t: Column) =>
      t.isInCollection(Seq("the", "a", "of", "and", "to")))).cast("double")
    val nDist = size(array_distinct(tok)).cast("double")
    val quality = nDist / nTok * lit(0.5) +
      (lit(1.0) - nStop / nTok) * lit(0.5)
    val ctok = split(col("clean_text"), " ")
    cleaned
      .filter(size(tok) >= 10 && quality >= 0.6)
      .withColumn("h", md5(col("clean_text").cast("binary")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), ctok.as("tok"),
        posexplode(sequence(lit(1),
          greatest(size(ctok) - (chunkSize - stride), lit(1)),
          lit(stride))).as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(slice(col("tok"), col("start"), lit(chunkSize)))
          .cast("long").as("n_tokens"),
        array_join(slice(col("tok"), col("start"), lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** Streaming upsert sink: every micro-batch runs the batch upsert kernel
    * against the destination snapshot — exactly `UpdatePipeline` as a
    * stream (`pyopenetl/pipelines.py:73-115` made continuous). `foreachBatch`
    * reuses the tested batch kernel, so streaming and batch cannot diverge.
    */
  def upsertSink(delta: DataFrame, destPath: String, pk: String,
                 deltaCol: String = "ts"): DataStreamWriter[Row] =
    upsertSinkHooked(delta, destPath, pk, deltaCol, _ => ())

  /** [[upsertSink]] with a phase hook fired AFTER the snapshot commit but
    * BEFORE the micro-batch returns (i.e. before Structured Streaming
    * commits the batch's offsets) — the SnapshotSpec kill-between-phases
    * pattern lifted to the streaming runtime. A hook that throws models
    * the worst crash window: data committed, offsets not, so the restart
    * REPLAYS the batch and the commit-absorption argument must hold. */
  private[graft] def upsertSinkHooked(
      delta: DataFrame, destPath: String, pk: String,
      deltaCol: String, afterCommit: Long => Unit): DataStreamWriter[Row] = {
    delta.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // deterministic in-batch dedup: a micro-batch can carry several
        // versions of one key; keep the newest by deltaCol (dropDuplicates
        // would pick an arbitrary row and could resurrect an older version).
        // deltaCol ties (same-timestamp double update) break on a content
        // hash so a replayed batch always persists the same version.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(pk))
          .orderBy(col(deltaCol).desc,
            xxhash64(to_json(struct(batch.columns.map(col): _*))).asc)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // crash-atomic INCREMENTAL commit (graft.etl.Snapshot.commitDelta):
        // the micro-batch writes only its own deduped rows as a _d<M>
        // delta, records its schema (one footer read) and swings the
        // pointer atomically — O(batch) per trigger, not O(table), and
        // nothing is read back; Snapshot.read folds the stack latest-wins
        // on pk (exactly UpsertKernel.merge semantics) and the stack
        // compacts into a new base every CompactThreshold batches. A crash
        // mid-batch leaves readers on the old complete pointer state, and
        // the replayed batch recommits the same content. Row-level file
        // rewrites (beyond snapshot+delta) remain the Delta/Iceberg seam
        // at 100 TB (SURVEY.md §7.3).
        graft.etl.Snapshot.commitDelta(latest, destPath, pk)
        afterCommit(batchId)
        ()
      }
  }

  /** Streaming cross-run dedup sink: every micro-batch drops documents
    * whose content the store has EVER seen (any earlier batch, any
    * earlier run — state that outlives the stream, unlike
    * dropDuplicatesWithinWatermark's watermark-bounded store), appends
    * the novel rows to the corpus destination and their fingerprints to
    * the seen-store — both through crash-atomic O(batch) delta commits.
    * `foreachBatch` reuses the tested batch kernel
    * ([[graft.llm.DedupStore]]), so streaming and batch cannot diverge.
    */
  def dedupSink(docs: DataFrame, destPath: String, storePath: String,
                textCol: String = "text", keyCol: String = "doc_id")
      : DataStreamWriter[Row] =
    dedupSinkHooked(docs, destPath, storePath, textCol, keyCol, () => ())

  /** [[dedupSink]] with a hook fired BETWEEN the corpus commit and the
    * fingerprint commit — the crash window the corpus-before-fingerprints
    * ordering exists for. A throwing hook leaves the corpus committed and
    * the content unrecorded; the restarted stream must re-see the batch
    * as novel and converge without losing or duplicating a document. */
  private[graft] def dedupSinkHooked(
      docs: DataFrame, destPath: String, storePath: String,
      textCol: String, keyCol: String,
      betweenCommits: () => Unit): DataStreamWriter[Row] = {
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val novel = graft.llm.DedupStore
          .novelAgainstStore(batch, storePath, textCol, keyCol)
        // corpus BEFORE fingerprints: a crash between the commits makes
        // the replayed batch re-commit the same rows (absorbed by the
        // pk-folded read) — the reverse order would record the content
        // as seen and lose it on replay (DedupStore.recordFingerprints)
        graft.etl.Snapshot.commitDelta(
          novel.drop("content_hash"), destPath, keyCol)
        betweenCommits()
        graft.llm.DedupStore.recordFingerprints(novel, storePath, keyCol)
        ()
      }
  }

  /** Streaming model-quality scorer — q312's SERVING twin, completing
    * the train-batch/serve-stream pattern the Snapshot-backed indexes
    * follow: the model is trained once in batch
    * ([[graft.llm.QualityClassifier.fitModel]] — 22 weights plus the
    * train-time mu/sd, which ARE part of the model: a serving path
    * that recomputed standardization stats per batch would score
    * differently batch to batch), then every micro-batch is scored
    * scan-local by [[graft.llm.QualityClassifier.scoreRaw]] — the
    * hash-dim signs are per-token md5 arithmetic with no corpus-level
    * vocabulary state, so ANY split of the stream scores each document
    * bit-identically to the one-pass batch run (StreamingSpec asserts
    * it) — and the (doc_id, score) rows land via crash-atomic Snapshot
    * deltas (pk doc_id: a replayed batch re-lands the same rows,
    * absorbed by the latest-wins read). Completely stateless across
    * batches; at 100 TB/day the model is 64 doubles folded into the
    * plan as literals and each trigger costs one batch-local
    * featurize + score.
    */
  def qualityScoreSink(docs: DataFrame,
                       model: graft.llm.QualityClassifier.QualityModel,
                       destPath: String): DataStreamWriter[Row] = {
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // freeingAfter (r14): scoreRaw's featurize materializes the
        // per-batch gate-metric frame; release it once the delta is
        // committed so a long-running stream never accumulates
        // batch-sized checkpoint blocks across triggers.
        graft.Checkpoints.freeingAfter(batch.sparkSession) {
          graft.etl.Snapshot.commitDelta(
            graft.llm.QualityClassifier.scoreRaw(batch, model),
            destPath, "doc_id")
        }
        ()
      }
  }

  /** Streaming NEAR-dup dedup sink — q302's persisted MinHash-LSH index
    * run continuously: every micro-batch LANDS its band postings and
    * token arrays into the snapshot store, then answers its own
    * admission from the store read-back ([[graft.llm.DedupStore
    * .dropsAgainstSeen]]: dropped iff a seen doc with a SMALLER doc_id
    * exact-verifies at `threshold`) and commits the per-doc decisions —
    * three O(batch) crash-atomic delta commits per trigger, never a
    * corpus-postings recompute. Land-then-decide is the crash-safe
    * order: the postings/toks commits are pk-keyed (latest-wins), so a
    * replayed batch re-lands the same rows and — because the strict
    * `b_id < a_id` predicate means a doc never matches its own landed
    * postings — recomputes the IDENTICAL decisions. Split-invariance
    * (StreamingSpec: any micro-batch split lands the row-identical
    * decisions store) holds when batches arrive in non-decreasing
    * doc_id order — the dump sequence; a violated order only affects
    * docs that arrive before a smaller-id near-dup of theirs. The sink
    * DETECTS a violated order instead of silently diverging from the
    * batch semantics: a batch whose min doc_id falls below the largest
    * id already DECIDED — excluding the batch's own ids, so a crash
    * replay (whose prior decisions ARE its own ids) never
    * false-positives — is out of order, and the sink reports it loudly
    * before proceeding. The check is one aggregate over the
    * fingerprint-sized decisions read-back; no corpus-sized work.
    */
  def lshDedupSink(docs: DataFrame, storeRoot: String,
                   threshold: Double = 0.6): DataStreamWriter[Row] =
    lshDedupSinkHooked(docs, storeRoot, threshold, _ => ())

  /** [[lshDedupSink]] with a hook fired AFTER the postings/toks commits
    * but BEFORE the decisions commit — the widest crash window: index
    * updated, decisions unrecorded; the restarted stream replays the
    * batch against a store that already contains it and must converge
    * to the same decisions. `onOutOfOrder(batchMinId, decidedMaxId)`
    * fires when the arrival-order precondition is violated (default: a
    * loud stderr warning). */
  private[graft] def lshDedupSinkHooked(
      docs: DataFrame, storeRoot: String, threshold: Double,
      afterLand: Long => Unit,
      onOutOfOrder: (Long, Long) => Unit = (mn, mx) =>
        System.err.println(s"[lshDedupSink] OUT-OF-ORDER batch: min " +
          s"doc_id $mn arrives after id $mx was already decided — " +
          "first-occurrence-survives no longer matches the batch run " +
          "for docs whose smaller-id near-dup arrives late"))
      : DataStreamWriter[Row] = {
    docs.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sparkB = batch.sparkSession
        val batchIds = batch.select(col("doc_id")).distinct()
        if (graft.etl.Snapshot
            .currentVersion(sparkB, s"$storeRoot/decisions").isDefined) {
          val prior = graft.etl.Snapshot
            .read(sparkB, s"$storeRoot/decisions")
            .join(batchIds, Seq("doc_id"), "left_anti")
            .agg(max(col("doc_id")).as("mx")).head()
          val mnRow = batchIds.agg(min(col("doc_id")).as("mn")).head()
          if (!prior.isNullAt(0) && !mnRow.isNullAt(0) &&
              mnRow.getLong(0) < prior.getLong(0))
            onOutOfOrder(mnRow.getLong(0), prior.getLong(0))
        }
        val toks = batch.select(col("doc_id"),
          array_sort(array_distinct(transform(split(col("text"), " "),
            (t: Column) => xxhash64(t)))).as("tok"))
        val post = graft.llm.DedupStore.bandPostings(batch)
        graft.etl.Snapshot.commitDelta(post, s"$storeRoot/postings",
          "posting_id")
        graft.etl.Snapshot.commitDelta(toks, s"$storeRoot/toks", "doc_id")
        afterLand(batchId)
        val spark = batch.sparkSession
        val drops = graft.llm.DedupStore.dropsAgainstSeen(
          post, toks,
          graft.etl.Snapshot.read(spark, s"$storeRoot/postings"),
          graft.etl.Snapshot.read(spark, s"$storeRoot/toks"), threshold)
        val decisions = batch.select(col("doc_id")).distinct()
          .join(drops, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("n_matches").isNull.as("admitted"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
        graft.etl.Snapshot.commitDelta(decisions, s"$storeRoot/decisions",
          "doc_id")
        ()
      }
  }
}
