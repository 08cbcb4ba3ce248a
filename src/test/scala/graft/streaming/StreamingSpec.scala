package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming shapes verified with MemoryStream against their batch twins
  * (SURVEY.md §5 strategy: batch twins carry the DuckDB oracle; the
  * streaming runs are checked here).
  */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
              event_type: String, value: Double)

/** [[Ev]] with `value` re-typed double -> string. */
case class EvRetyped(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                     event_type: String, value: String)

case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

case class QDoc(doc_id: Long, source: String, text: String)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val fixture = Seq(
    Ev(0, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
    Ev(1, ts("2024-01-01 10:15:00"), 1, "click", 2.0),
    Ev(2, ts("2024-01-01 11:05:00"), 1, "view", 3.0),
    Ev(3, ts("2024-01-01 10:20:00"), 2, "click", 4.0),
    Ev(4, ts("2024-01-01 12:30:00"), 2, "click", 5.0),
    Ev(5, ts("2024-01-01 12:40:00"), 2, "click", 6.0))

  private def runStream(out: org.apache.spark.sql.DataFrame, name: String) = {
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("streaming hourly counts match the batch twin") {
    val ms = MemoryStream[Ev](spark)
    ms.addData(fixture: _*)
    val got = runStream(StreamingOps.hourlyCounts(ms.toDF()), "hourly")
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    val want = fixture.groupBy(e =>
        (e.ts.toLocalDateTime.withMinute(0).withSecond(0), e.event_type))
      .map { case ((h, t), es) => (java.sql.Timestamp.valueOf(h).toString, t, es.size.toLong) }
      .toSeq.sorted
    assert(got.toSeq.sorted == want)
  }

  test("streaming CMS sketch merges across micro-batches to the batch array") {
    import graft.functions.CountMinSketchAgg
    val (d, w) = (4, 64)
    // stream in three micro-batches, deliberately splitting windows
    // across batch boundaries
    val ms = MemoryStream[Ev](spark)
    val q = StreamingOps.cmsStream(ms.toDF(), d, w).writeStream
      .format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    ms.addData(fixture.take(2): _*)
    q.processAllAvailable()
    ms.addData(fixture.slice(2, 4): _*)
    q.processAllAvailable()
    ms.addData(fixture.drop(4): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("cms_stream").orderBy("win_start").collect()
      .map(r => r.getTimestamp(0).toString -> r.getSeq[Long](1)).toMap
    // the batch twin over the same rows in ONE pass: elementwise-sum
    // merge is exactly associative, so the arrays must be identical
    // regardless of how the stream was micro-batched
    val batch = fixture.toDF()
      .groupBy(window(col("ts"), "1 hour"))
      .agg(CountMinSketchAgg.cms(col("event_type"), d, w).as("cms"))
      .select(col("window.start").as("h"), col("cms"))
      .collect().map(r => r.getTimestamp(0).toString -> r.getSeq[Long](1))
      .toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (h, arr) =>
      assert(arr == batch(h), s"sketch arrays diverge in window $h")
    }
    // guarantees across the batch boundary: never-under + the 4n/w
    // Markov envelope for every true (window, type) count
    val truth = fixture.groupBy(e =>
        (e.ts.toLocalDateTime.withMinute(0).withSecond(0), e.event_type))
      .map { case ((h, t), es) =>
        (java.sql.Timestamp.valueOf(h).toString, t, es.size.toLong) }
    truth.foreach { case (h, t, n) =>
      val windowN = fixture.count(e =>
        java.sql.Timestamp.valueOf(
          e.ts.toLocalDateTime.withMinute(0).withSecond(0)).toString == h)
      val est = CountMinSketchAgg.estimate(got(h).toIndexedSeq, t, d, w)
      assert(est >= n, s"CMS under-counted $t in $h")
      assert(est - n <= 4L * windowN / w + 1,
        s"CMS overcount outside the envelope for $t in $h")
    }
  }

  test("streaming HLL distinct merges across micro-batches like the batch twin") {
    val ms = MemoryStream[Ev](spark)
    val q = StreamingOps.distinctStream(ms.toDF()).writeStream
      .format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    ms.addData(fixture.take(2): _*)
    q.processAllAvailable()
    ms.addData(fixture.drop(2): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("hll_stream").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // batch twin over the same rows in one pass — union-merge is
    // associative, so the sketches (and hence estimates) are identical
    val batch = fixture.toDF()
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("a"))
      .select(col("window.start").as("h"), col("a"))
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(got == batch)
    // and the estimates hold the 5% band against true distincts
    val truth = fixture.groupBy(e =>
        java.sql.Timestamp.valueOf(
          e.ts.toLocalDateTime.withMinute(0).withSecond(0)).toString)
      .map { case (h, es) => h -> es.map(_.user_id).distinct.size.toLong }
    truth.foreach { case (h, n) =>
      assert(math.abs(got(h) - n) <= math.max(1L, n / 20),
        s"HLL estimate off in $h: got ${got(h)}, true $n")
    }
  }

  test("streaming AMS F2 counters merge across micro-batches to the batch array") {
    val ms = MemoryStream[Ev](spark)
    val q = StreamingOps.amsF2Stream(ms.toDF()).writeStream
      .format("memory").queryName("ams_stream")
      .outputMode("complete").start()
    // three micro-batches, windows deliberately split across boundaries
    ms.addData(fixture.take(2): _*)
    q.processAllAvailable()
    ms.addData(fixture.slice(2, 4): _*)
    q.processAllAvailable()
    ms.addData(fixture.drop(4): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("ams_stream").collect()
      .map(r => r.getTimestamp(0).toString -> r.getSeq[Long](1)).toMap
    // batch twin over the same rows in ONE pass: the counters are plain
    // exact-long sums, so any micro-batch split folds to the identical
    // array
    val batch = StreamingOps.amsF2Windowed(fixture.toDF())
      .collect().map(r => r.getTimestamp(0).toString -> r.getSeq[Long](1))
      .toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (h, arr) =>
      assert(arr == batch(h), s"counter arrays diverge in window $h")
      assert(arr.size == 64)
    }
    // the mean-of-squares estimate holds the 4σ envelope (Var ≤ 2F2²/64)
    // against the exact per-window F2 over user_id
    val truth = fixture.groupBy(e =>
        java.sql.Timestamp.valueOf(
          e.ts.toLocalDateTime.withMinute(0).withSecond(0)).toString)
      .map { case (h, es) =>
        h -> es.groupBy(_.user_id).values
          .map(g => g.size.toLong * g.size).sum }
    truth.foreach { case (h, f2) =>
      val est = StreamingOps.amsF2Estimate(got(h))
      assert(math.abs(est - f2.toDouble) <=
        4.0 * math.sqrt(2.0 / 64) * f2 + 1e-9,
        s"AMS estimate outside the envelope in $h: est $est, exact $f2")
    }
  }

  test("streaming DDSketch quantiles merge across micro-batches to the batch array") {
    import graft.functions.DdSketchAgg
    val alpha = 0.02
    val ms = MemoryStream[Ev](spark)
    val q = StreamingOps.quantileStream(ms.toDF(), alpha).writeStream
      .format("memory").queryName("dd_stream")
      .outputMode("complete").start()
    // three micro-batches, windows deliberately split across boundaries
    ms.addData(fixture.take(2): _*)
    q.processAllAvailable()
    ms.addData(fixture.slice(2, 4): _*)
    q.processAllAvailable()
    ms.addData(fixture.drop(4): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("dd_stream").collect()
      .map(r => r.getTimestamp(0).toString -> r.getSeq[Long](1)).toMap
    // the batch twin over the same rows in ONE pass: bucket-wise-sum
    // merge is exactly associative (no collapse at this size), so the
    // pair arrays must be identical however the stream was batched
    val batch = fixture.toDF()
      .groupBy(window(col("ts"), "1 hour"))
      .agg(DdSketchAgg.ddSketch(col("value"), alpha).as("dd"))
      .select(col("window.start").as("h"), col("dd"))
      .collect().map(r => r.getTimestamp(0).toString -> r.getSeq[Long](1))
      .toMap
    assert(got.keySet == batch.keySet)
    got.foreach { case (h, arr) =>
      assert(arr == batch(h), s"sketch arrays diverge in window $h")
    }
    // the α guarantee across batch boundaries: for each window and each
    // q, the walk's estimate is within α of the exact order statistic
    // of the same rank ⌈q·n⌉
    val byWin = fixture.groupBy(e => java.sql.Timestamp.valueOf(
      e.ts.toLocalDateTime.withMinute(0).withSecond(0)).toString)
    byWin.foreach { case (h, es) =>
      val xs = es.map(_.value).sorted
      for (p <- Seq(0.25, 0.5, 0.9, 1.0)) {
        val r = math.max(1, math.ceil(p * xs.size).toInt)
        val exact = xs(r - 1)
        val est = DdSketchAgg.quantile(got(h).toIndexedSeq, alpha, p)
        assert(math.abs(est - exact) <= alpha * exact + 1e-12,
          s"window $h q=$p: est $est vs exact $exact")
      }
    }
  }

  test("streaming sliding windows assign each event to two windows") {
    val ms = MemoryStream[Ev](spark)
    ms.addData(fixture: _*)
    val got = runStream(StreamingOps.slidingCounts(ms.toDF()), "sliding")
    // 1-hour windows sliding every 30 min: every event lands in exactly two
    assert(got.agg(sum("n_events")).collect()(0).getLong(0) ==
      fixture.size * 2L)
    // clicks at 10:05/10:15/10:20 → windows 09:30+10:00; 12:30/12:40 →
    // 12:00+12:30
    val clicks = got.filter(col("event_type") === "click")
      .orderBy("win_start").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2)))
    assert(clicks.toSeq == Seq(
      ("2024-01-01 09:30:00.0", 3L), ("2024-01-01 10:00:00.0", 3L),
      ("2024-01-01 12:00:00.0", 2L), ("2024-01-01 12:30:00.0", 2L)))
  }

  test("streaming session windows close on the 30-minute gap") {
    val ms = MemoryStream[Ev](spark)
    ms.addData(fixture: _*)
    val got = runStream(StreamingOps.sessionAgg(ms.toDF()), "sessions")
    // user 1: events at 10:05,10:15 (one session) and 11:05 (new session);
    // user 2: 10:20 alone, then 12:30+12:40 together
    val counts = got.orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(counts.toSeq == Seq((1L, 2L), (1L, 1L), (2L, 1L), (2L, 2L)))
  }

  test("streaming bounded-heap top-k merges state across micro-batches") {
    val ms = MemoryStream[Ev](spark)
    val q = StreamingOps.topkStream(ms.toDF(), 2).writeStream
      .format("memory").queryName("topk").outputMode("complete").start()
    // two micro-batches so the 10:00 window's heap state (built from
    // batch 1's clicks at 1.0/2.0) must MERGE with batch 2's 4.0 click
    // and evict the 1.0 entry — the TypedImperativeAggregate merge path
    ms.addData(fixture.take(3): _*)
    q.processAllAvailable()
    ms.addData(fixture.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("topk").orderBy("win_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(e => (e.getDouble(0), e.getLong(1))).toList))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "click", List((4.0, 3L), (2.0, 1L))),
      ("2024-01-01 11:00:00.0", "view", List((3.0, 2L))),
      ("2024-01-01 12:00:00.0", "click", List((6.0, 5L), (5.0, 4L)))))
  }

  test("streaming MG trending sketch surfaces every above-floor term") {
    val ms = MemoryStream[Ev](spark)
    val q = StreamingOps.trendingStream(ms.toDF(), 2).writeStream
      .format("memory").queryName("trending").outputMode("complete").start()
    ms.addData(fixture.take(3): _*)
    q.processAllAvailable()
    ms.addData(fixture.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("trending").orderBy("win_start").collect()
      .map(r => (r.getTimestamp(0).toString,
        r.getMap[String, Long](1).toMap.keySet))
    // 10:00 window sees click×3 (above the n/(k+1)=1 floor with k=2,
    // so the guarantee REQUIRES it); 11:00 view and 12:00 click are
    // their windows' only terms
    assert(got.map(_._1).toSeq ==
      Seq("2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0",
        "2024-01-01 12:00:00.0"))
    assert(got(0)._2.contains("click"))
    assert(got(1)._2 == Set("view"))
    assert(got(2)._2 == Set("click"))
  }

  test("stream-stream join pairs errors with clicks in the next 10 minutes") {
    val ms = MemoryStream[Ev](spark)
    ms.addData(
      Ev(10, ts("2024-01-01 10:00:00"), 1, "error", 0.0),
      Ev(11, ts("2024-01-01 10:05:00"), 1, "click", 1.0), // within 10 min
      Ev(12, ts("2024-01-01 10:20:00"), 1, "click", 1.0), // too late
      Ev(13, ts("2024-01-01 10:04:00"), 2, "click", 1.0), // other user
      Ev(14, ts("2024-01-01 10:30:00"), 2, "error", 0.0)) // no click after
    val q = StreamingOps.errorClickJoin(ms.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssjoin").orderBy("error_id", "click_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(3).toString))
    assert(got.toSeq == Seq((10L, "2024-01-01 10:05:00.0")))
  }

  test("left-outer stream-stream join emits unmatched errors after the watermark") {
    val ms = MemoryStream[Ev](spark)
    ms.addData(
      Ev(0, ts("2024-01-01 10:00:00"), 1, "error", 0.0),
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),  // matches error 0
      Ev(2, ts("2024-01-01 11:00:00"), 2, "error", 0.0))  // never matched
    val q = StreamingOps.errorClickJoinLeft(ms.toDF())
      .writeStream.format("memory").queryName("left_join")
      .outputMode("append").start()
    q.processAllAvailable()
    // null emission for error 2 requires the GLOBAL watermark (min across
    // both input streams) to pass 11:00 + 10 min + 1 h, so BOTH the error
    // and click branches need a later event (a filtered-out event type
    // never reaches either watermark node); the advance lands at the END
    // of its batch, so the outer row emits one batch later (the second
    // nudge). The 14:xx nudge error itself stays unmatched in state —
    // the watermark never passes ITS horizon, so it never emits.
    ms.addData(Ev(9, ts("2024-01-01 14:00:00"), 98, "error", 0.0),
               Ev(10, ts("2024-01-01 14:00:00"), 99, "click", 0.0))
    q.processAllAvailable()
    ms.addData(Ev(11, ts("2024-01-01 14:01:00"), 98, "error", 0.0),
               Ev(12, ts("2024-01-01 14:01:00"), 99, "click", 0.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("left_join").orderBy("error_id").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(3)).map(_.toString)))
    assert(rows.toSeq == Seq(
      (0L, Some("2024-01-01 10:05:00.0")),   // matched within the window
      (2L, None)))                           // watermark-proven unmatched
  }

  test("dropDuplicatesWithinWatermark keeps one row per user+type") {
    val ms = MemoryStream[Ev](spark)
    ms.addData(fixture: _*)
    val q = StreamingOps.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup").groupBy("user_id", "event_type").count()
    assert(got.filter(col("count") > 1).count() == 0)
    assert(spark.table("dedup").count() == 3) // (1,click)(1,view)(2,click)
  }

  test("flatMapGroupsWithState keeps a running per-user profile") {
    val ms = MemoryStream[StreamingOps.UserEvent](spark)
    ms.addData(
      StreamingOps.UserEvent(1, ts("2024-01-01 10:00:00"), 1.0),
      StreamingOps.UserEvent(1, ts("2024-01-01 10:05:00"), 2.0),
      StreamingOps.UserEvent(2, ts("2024-01-01 10:01:00"), 5.0))
    val q = StreamingOps.runningUserProfile(ms.toDS())
      .writeStream.format("memory").queryName("profiles")
      .outputMode("append").start()
    q.processAllAvailable()
    // second micro-batch: user 1 gets one more event — state must carry over
    ms.addData(StreamingOps.UserEvent(1, ts("2024-01-01 10:10:00"), 4.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("profiles")
      .orderBy("user_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // emissions: batch1 → (1, 2 events, 3.0), (2, 1, 5.0); batch2 → (1, 3, 7.0)
    assert(rows.toSeq == Seq((1L, 2L, 3.0), (1L, 3L, 7.0), (2L, 1L, 5.0)))
  }

  test("stateful throttle keeps one event per gap window (keep-dependent)") {
    import StreamingOps.TypedEvent
    def ev(id: Long, t: String) = TypedEvent(1L, "click", ts(t), id)
    // 0s, 3s, 6s with a 5s window: 0s kept; 3s dropped (3s since KEPT);
    // 6s KEPT (6s since the kept 0s event — the closed-form lag rule of
    // q151 would drop it: only 3s since the PREVIOUS event)
    val batch1 = Seq(ev(0, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:00:03"),
      ev(2, "2024-01-01 10:00:06"))
    val ms = MemoryStream[TypedEvent](spark)
    ms.addData(batch1: _*)
    val q = StreamingOps.throttleStream(ms.toDS(), 5000L)
      .writeStream.format("memory").queryName("throttle")
      .outputMode("append").start()
    q.processAllAvailable()
    // second micro-batch straddles the burst: 8s is 2s after the kept 6s
    // event — state must carry the last KEPT timestamp across batches
    ms.addData(ev(3, "2024-01-01 10:00:08"), ev(4, "2024-01-01 10:00:11"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("throttle").orderBy("event_id")
      .collect().map(r => (r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq((0L, true), (1L, false), (2L, true),
      (3L, false), (4L, true)))
  }

  test("streaming CEP finalizes user-day patterns on the event-time watermark") {
    import StreamingOps.TypedEvent
    def ev(uid: Long, tp: String, t: String, id: Long) =
      TypedEvent(uid, tp, ts(t), id)
    val ms = MemoryStream[TypedEvent](spark)
    // batch 1: user 1's view and PURCHASE (the later event arrives FIRST
    // relative to the click below), user 2's error
    ms.addData(
      ev(1, "view", "2024-01-01 10:00:00", 1),
      ev(1, "purchase", "2024-01-01 10:30:00", 3),
      ev(2, "error", "2024-01-01 11:00:00", 4))
    val q = StreamingOps.sessionPatternStream(ms.toDS())
      .writeStream.format("memory").queryName("cep")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("cep").count() == 0) // day still open
    // batch 2: the out-of-order click lands BETWEEN already-buffered
    // events; user 2 gets a trailing view
    ms.addData(
      ev(1, "click", "2024-01-01 10:20:00", 2),
      ev(2, "view", "2024-01-01 11:10:00", 5))
    q.processAllAvailable()
    // batch 3+4: an event past day end + 1h pushes the watermark over
    // the timeout; timeouts fire on the batch AFTER the watermark moves
    ms.addData(ev(3, "view", "2024-01-02 02:00:00", 6))
    q.processAllAvailable()
    ms.addData(ev(3, "view", "2024-01-02 02:00:01", 7))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("cep").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5)))
    // the finalization sort restores event order despite arrival order
    assert(rows.toSeq == Seq(
      (1L, "vcp", true, false, false),
      (2L, "ev", false, true, false)))
    // user 3's day is still open — no premature emission
    assert(!rows.exists(_._1 == 3L))
  }

  test("stateful aggregation runs on the RocksDB state store (SCALE.md posture)") {
    // the production state-store configuration from SCALE.md, exercised
    // for real: same results as the default in-memory provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      val ms = MemoryStream[Ev](spark)
      ms.addData(fixture: _*)
      val got = runStream(StreamingOps.hourlyCounts(ms.toDF()), "rocksdb_hourly")
      assert(got.agg(sum("n_events")).collect()(0).getLong(0) ==
        fixture.size.toLong)
      // state survives across micro-batches inside RocksDB, not the heap
      ms.addData(Ev(6, ts("2024-01-01 10:25:00"), 3, "click", 7.0))
      val q2 = StreamingOps.hourlyCounts(ms.toDF()).writeStream
        .format("memory").queryName("rocksdb_hourly2")
        .outputMode("complete").start()
      q2.processAllAvailable(); q2.stop()
      val hour10clicks = spark.table("rocksdb_hourly2")
        .filter(col("event_type") === "click" &&
          col("hour") === ts("2024-01-01 10:00:00"))
        .collect()(0).getLong(2)
      assert(hour10clicks == 4L) // 3 fixture clicks + the late arrival
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stateful query restarts from its checkpoint and carries state over") {
    // the durability claim behind SCALE.md's checkpoint guidance: stop a
    // stateful query mid-stream, start a NEW query from the same
    // checkpoint, and the aggregation state must carry over (not recount
    // from zero / not reprocess consumed offsets)
    val ckpt = s"/tmp/graft-test-restart-ckpt-${System.nanoTime()}"
    val ms = MemoryStream[Ev](spark)
    ms.addData(fixture: _*) // 4 clicks total, 3 in the 10:00 hour
    val q1 = StreamingOps.hourlyCounts(ms.toDF())
      .writeStream.format("memory").queryName("restart_a")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    q1.processAllAvailable(); q1.stop()

    ms.addData(Ev(7, ts("2024-01-01 10:45:00"), 3, "click", 1.0))
    val q2 = StreamingOps.hourlyCounts(ms.toDF())
      .writeStream.format("memory").queryName("restart_b")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    q2.processAllAvailable(); q2.stop()
    val hour10 = spark.table("restart_b")
      .filter(col("event_type") === "click" &&
        col("hour") === ts("2024-01-01 10:00:00"))
      .collect()(0).getLong(2)
    // 3 pre-restart clicks recovered from state + 1 post-restart
    assert(hour10 == 4L)
  }

  test("streaming corpus prep cleans, gates, dedups, and chunks") {
    val ms = MemoryStream[Doc](spark)
    val good =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    ms.addData(
      // same content as doc 2 once tags strip and case folds — one copy
      // must survive (which doc_id wins within a batch is unspecified)
      Doc(1, ts("2024-01-01 10:00:00"),
        "<b>Alpha</b> beta gamma delta epsilon zeta eta theta iota " +
          "kappa lambda mu"),
      Doc(2, ts("2024-01-01 10:05:00"), good),
      // stopword-only: quality 0.5 * distinct/12 + 0.5 * (1 - 1) < 0.6
      Doc(3, ts("2024-01-01 10:06:00"),
        "the the the the the the the the the the the the"),
      Doc(4, ts("2024-01-01 10:07:00"),
        "one two three four five six seven eight nine ten eleven twelve"))
    val q = StreamingOps.corpusPrepStream(ms.toDF()).writeStream
      .format("memory").queryName("corpus_prep").outputMode("append")
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("corpus_prep").orderBy("doc_id", "chunk_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.length == 2) // dup collapsed, low-quality gated
    assert(got.count(r => (r._1 == 1L || r._1 == 2L) && r._4 == good) == 1)
    assert(got.count(_._1 == 4L) == 1)
    assert(got.forall(r => r._2 == 0L && r._3 == 12L)) // one 12-token chunk
  }

  test("foreachBatch dedup sink drops content seen by ANY earlier run") {
    val base = s"/tmp/graft-test-dedupsink-${System.nanoTime()}"
    val dest = s"$base/corpus"
    val store = s"$base/seen"
    // run 1: two distinct texts (one repeated in-batch)
    val ms1 = MemoryStream[Doc](spark)
    ms1.addData(Doc(1, ts("2024-01-01 10:00:00"), "alpha"),
                Doc(2, ts("2024-01-01 10:01:00"), "beta"),
                Doc(3, ts("2024-01-01 10:02:00"), "alpha"))
    val q1 = StreamingOps.dedupSink(ms1.toDF(), dest, store).start()
    q1.awaitTermination(60000)
    // run 2 (fresh stream = restart): one repeat, one new — the seen
    // state survives the stream because it lives in the store snapshot
    val ms2 = MemoryStream[Doc](spark)
    ms2.addData(Doc(10, ts("2024-01-02 10:00:00"), "beta"),
                Doc(11, ts("2024-01-02 10:01:00"), "gamma"))
    val q2 = StreamingOps.dedupSink(ms2.toDF(), dest, store).start()
    q2.awaitTermination(60000)
    val ids = graft.etl.Snapshot.read(spark, dest)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 11L))
    assert(graft.etl.Snapshot.read(spark, store).count() == 3)
  }

  test("dedup sink restarted from its checkpoint resumes exactly-once") {
    // VERDICT r4 §8: the crash-BETWEEN-commits ordering is covered in
    // DedupStoreSpec; this is the restart-RESUME path — stop a
    // checkpointed dedupSink stream, add data, start a new query from the
    // same checkpoint, and prove batch 1 is neither reprocessed (offsets
    // resume) nor re-committed (each doc lands in exactly one physical
    // delta row — the pk-folded Snapshot.read would HIDE a double commit,
    // so the assertion counts raw rows across the delta stack).
    val base = s"/tmp/graft-test-dedupsink-restart-${System.nanoTime()}"
    val dest = s"$base/corpus"
    val store = s"$base/seen"
    val ckpt = s"$base/ckpt"
    val ms = MemoryStream[Doc](spark)
    ms.addData(Doc(1, ts("2024-01-01 10:00:00"), "alpha"),
               Doc(2, ts("2024-01-01 10:01:00"), "beta"))
    val q1 = StreamingOps.dedupSink(ms.toDF(), dest, store)
      .option("checkpointLocation", ckpt).start()
    q1.awaitTermination(60000)
    assert(graft.etl.Snapshot.read(spark, dest).count() == 2)

    // restart: same source, same checkpoint — a new query resumes from
    // the committed offsets, so only the post-restart rows are processed
    ms.addData(Doc(10, ts("2024-01-02 10:00:00"), "alpha"), // seen in run 1
               Doc(11, ts("2024-01-02 10:01:00"), "gamma"))
    val q2 = StreamingOps.dedupSink(ms.toDF(), dest, store)
      .option("checkpointLocation", ckpt).start()
    q2.awaitTermination(60000)

    val ids = graft.etl.Snapshot.read(spark, dest)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 11L))
    // exactly-once at the physical layer: 3 novel docs → 3 raw rows
    // total across base+delta dirs (a replayed/re-committed batch would
    // leave 5), and the fingerprint store carries one row per content
    assert(spark.read.parquet(s"$dest/_v*").count() == 3)
    assert(graft.etl.Snapshot.read(spark, store).count() == 3)
  }

  test("foreachBatch upsert sink applies the batch kernel per micro-batch") {
    val dest = s"/tmp/graft-test-upsert-${System.nanoTime()}"
    Seq(Ev(100, ts("2024-01-01 09:00:00"), 9, "seed", 0.0))
      .toDF().write.mode("overwrite").parquet(dest)
    val ms = MemoryStream[Ev](spark)
    ms.addData(Ev(100, ts("2024-01-01 10:00:00"), 9, "updated", 1.0),
               Ev(101, ts("2024-01-01 10:01:00"), 9, "new", 2.0))
    val q = StreamingOps.upsertSink(ms.toDF(), dest, "event_id").start()
    q.awaitTermination(60000)
    val out = graft.etl.Snapshot.read(spark, dest).orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    assert(out.toSeq == Seq((100L, "updated"), (101L, "new")))
  }

  test("upsert sink fails the stream on a re-typed batch; D reads as before") {
    val dest = s"/tmp/graft-test-upsert-drift-${System.nanoTime()}"
    graft.etl.Snapshot.commit(
      Seq(Ev(100, ts("2024-01-01 09:00:00"), 9, "seed", 0.5)).toDF(), dest)
    def rows() = graft.etl.Snapshot.read(spark, dest).orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getString(3), r.getDouble(4)))
      .toSeq
    val before = rows()
    val ms = MemoryStream[EvRetyped](spark)
    ms.addData(EvRetyped(100, ts("2024-01-01 10:00:00"), 9, "bad", "1.5"),
               EvRetyped(101, ts("2024-01-01 10:01:00"), 9, "bad", "2.5"))
    val q = StreamingOps.upsertSink(ms.toDF(), dest, "event_id").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(60000)
      throw q.exception.get
    }
    val drift = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case d: graft.etl.UpsertKernel.SchemaDriftException => d }
    assert(drift.isDefined, e.toString)
    assert(drift.get.getMessage.contains(dest), drift.get.getMessage)
    assert(graft.etl.Snapshot.currentDeltaCount(spark, dest) == 0L)
    assert(rows() == before)
  }

  test("upsert sink killed after the data commit recovers exactly-once") {
    // VERDICT r7 §5: the worst crash window for the foreachBatch→Snapshot
    // sink — the snapshot commit lands, the process dies BEFORE the
    // streaming offsets commit. On restart Structured Streaming REPLAYS
    // that micro-batch; the table must converge to the batch twin (the
    // replayed commit absorbed by the pk-folded read), not double-apply.
    val base = s"/tmp/graft-test-upsert-crash-${System.nanoTime()}"
    val dest = s"$base/table"
    val ckpt = s"$base/ckpt"
    val ms = MemoryStream[Ev](spark)
    // batch 0: commits clean
    ms.addData(Ev(100, ts("2024-01-01 10:00:00"), 9, "v1", 1.0),
               Ev(101, ts("2024-01-01 10:01:00"), 9, "a", 1.0))
    val q0 = StreamingOps.upsertSink(ms.toDF(), dest, "event_id")
      .option("checkpointLocation", ckpt).start()
    q0.awaitTermination(60000)

    // batch 1: the hook throws AFTER Snapshot.commitDelta — data durable,
    // offsets not (the injected kill between commit phases)
    ms.addData(Ev(100, ts("2024-01-01 11:00:00"), 9, "v2", 2.0),
               Ev(102, ts("2024-01-01 11:01:00"), 9, "b", 3.0))
    val q1 = StreamingOps.upsertSinkHooked(ms.toDF(), dest, "event_id",
        "ts", _ => throw new RuntimeException("injected crash after commit"))
      .option("checkpointLocation", ckpt).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(60000)
      throw q1.exception.get // AvailableNow surfaced the failure
    }
    // the data commit IS visible to readers despite the crash
    val mid = graft.etl.Snapshot.read(spark, dest)
      .orderBy("event_id").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(mid.toSeq == Seq((100L, "v2"), (101L, "a"), (102L, "b")))

    // restart from the same checkpoint: the uncommitted batch replays
    // (recommitting identical content), then new data flows
    ms.addData(Ev(103, ts("2024-01-01 12:00:00"), 9, "c", 4.0))
    val q2 = StreamingOps.upsertSink(ms.toDF(), dest, "event_id")
      .option("checkpointLocation", ckpt).start()
    q2.awaitTermination(60000)

    // exactly-once vs the batch twin: newest version per pk, pk-unique
    val fin = graft.etl.Snapshot.read(spark, dest).orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    assert(fin.toSeq ==
      Seq((100L, "v2"), (101L, "a"), (102L, "b"), (103L, "c")))
  }

  test("dedup sink killed between corpus and fingerprint commits converges") {
    // the crash window the corpus-before-fingerprints ordering exists
    // for: corpus committed, content NOT yet recorded as seen. The
    // replayed batch re-sees its docs as novel and re-commits — absorbed
    // by the pk fold — then records fingerprints; nothing lost, nothing
    // duplicated. (The reverse order would drop the batch forever.)
    val base = s"/tmp/graft-test-dedupsink-crash-${System.nanoTime()}"
    val dest = s"$base/corpus"
    val store = s"$base/seen"
    val ckpt = s"$base/ckpt"
    val ms = MemoryStream[Doc](spark)
    ms.addData(Doc(1, ts("2024-01-01 10:00:00"), "alpha"),
               Doc(2, ts("2024-01-01 10:01:00"), "beta"))
    val q1 = StreamingOps.dedupSinkHooked(ms.toDF(), dest, store,
        "text", "doc_id",
        () => throw new RuntimeException("injected crash between commits"))
      .option("checkpointLocation", ckpt).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(60000)
      throw q1.exception.get
    }
    // corpus committed, store empty — exactly the modeled crash state
    assert(graft.etl.Snapshot.read(spark, dest).count() == 2)
    assert(!new java.io.File(store).exists() ||
      graft.etl.Snapshot.read(spark, store).count() == 0)

    // restart: replay converges, then a later batch dedups against the
    // now-recorded content
    ms.addData(Doc(10, ts("2024-01-02 10:00:00"), "alpha"), // dup content
               Doc(11, ts("2024-01-02 10:01:00"), "gamma"))
    val q2 = StreamingOps.dedupSink(ms.toDF(), dest, store)
      .option("checkpointLocation", ckpt).start()
    q2.awaitTermination(60000)
    val ids = graft.etl.Snapshot.read(spark, dest)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 11L))
    assert(graft.etl.Snapshot.read(spark, store).count() == 3)
  }

  // near-dup fixtures for the LSH dedup sink: 10-token docs, one token
  // swapped = set Jaccard 9/11 ≈ 0.82 (well over the 0.6 threshold and
  // deterministically caught by the 32-hash/8-band LSH)
  private val lshDocs = Seq(
    Doc(1, ts("2024-01-01 10:00:00"),
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    Doc(2, ts("2024-01-01 10:01:00"),
      "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
    Doc(3, ts("2024-01-01 10:02:00"),
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11"), // near-dup of 1
    Doc(4, ts("2024-01-01 10:03:00"),
      "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"),
    Doc(5, ts("2024-01-01 10:04:00"),
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w12"), // near-dup of 1 AND 3
    Doc(6, ts("2024-01-01 10:05:00"),
      "x1 x2 x3 x4 x5 x6 x7 x8 x9 x11")) // near-dup of 2

  private def decisionsOf(root: String) =
    graft.etl.Snapshot.read(spark, s"$root/decisions")
      .select("doc_id", "admitted", "n_matches", "best_jaccard")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1).toSeq

  test("lsh dedup sink: any micro-batch split lands the identical " +
       "decisions and postings as the single-batch run") {
    val rootA = s"/tmp/graft-test-lshsink-a-${System.nanoTime()}"
    val rootB = s"/tmp/graft-test-lshsink-b-${System.nanoTime()}"
    // run A: everything in one micro-batch
    val msA = MemoryStream[Doc](spark)
    msA.addData(lshDocs: _*)
    val qA = StreamingOps.lshDedupSink(msA.toDF(), rootA).start()
    qA.awaitTermination(60000)
    // run B: three restarts of two docs each (id-ordered, the dump
    // sequence) — the seen state lives in the store, not the stream
    for (chunk <- lshDocs.grouped(2)) {
      val ms = MemoryStream[Doc](spark)
      ms.addData(chunk: _*)
      val q = StreamingOps.lshDedupSink(ms.toDF(), rootB).start()
      q.awaitTermination(60000)
    }
    val a = decisionsOf(rootA)
    val b = decisionsOf(rootB)
    assert(a == b, "split must not change admission decisions")
    // the semantics themselves: first occurrence survives, later
    // near-dups drop whatever batch they landed in
    assert(a.filter(_._2).map(_._1) == Seq(1L, 2L, 4L))
    assert(a.find(_._1 == 5L).get._3 == 2L) // 5 matches both 1 and 3
    // and the landed postings index is split-invariant too
    def postings(root: String) = graft.etl.Snapshot
      .read(spark, s"$root/postings")
      .select("posting_id", "doc_id", "band", "band_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(postings(rootA) == postings(rootB))
  }

  test("lsh dedup sink: crash after landing, before the decisions " +
       "commit, replays to the identical decisions") {
    val root = s"/tmp/graft-test-lshsink-crash-${System.nanoTime()}"
    val ckpt = s"$root/ckpt"
    val ms = MemoryStream[Doc](spark)
    ms.addData(lshDocs.take(2): _*)
    val q0 = StreamingOps.lshDedupSink(ms.toDF(), root)
      .option("checkpointLocation", ckpt).start()
    q0.awaitTermination(60000)
    // batch 2 dies in the widest window: postings + toks landed,
    // decisions unrecorded, offsets uncommitted
    ms.addData(lshDocs.slice(2, 4): _*)
    val q1 = StreamingOps.lshDedupSinkHooked(ms.toDF(), root, 0.6,
      _ => throw new RuntimeException("crash before decisions"))
      .option("checkpointLocation", ckpt).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(60000)
    }
    assert(decisionsOf(root).map(_._1) == Seq(1L, 2L),
      "crashed batch must not have recorded decisions")
    // restart replays batch 2 against a store that ALREADY contains its
    // postings; the strict b_id < a_id predicate must converge it
    val q2 = StreamingOps.lshDedupSink(ms.toDF(), root)
      .option("checkpointLocation", ckpt).start()
    q2.awaitTermination(60000)
    val got = decisionsOf(root)
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(got.filter(_._2).map(_._1) == Seq(1L, 2L, 4L),
      "replayed batch must reach the same admissions as an uncrashed run")
  }

  test("lsh dedup sink: an out-of-order batch is detected; ordered " +
       "runs and crash replays are not") {
    val root = s"/tmp/graft-test-lshsink-ooo-${System.nanoTime()}"
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def run(docs: Seq[Doc]): Unit = {
      val ms = MemoryStream[Doc](spark)
      ms.addData(docs: _*)
      val q = StreamingOps.lshDedupSinkHooked(ms.toDF(), root, 0.6,
        _ => (), (mn, mx) => hits.synchronized { hits += ((mn, mx)) })
        .start()
      q.awaitTermination(60000)
    }
    run(lshDocs.take(2)) // ids 1-2: first batch, nothing decided yet
    run(lshDocs.slice(2, 4)) // ids 3-4: in order
    assert(hits.isEmpty, s"ordered batches must not flag: $hits")
    // a replay of ids 3-4 (same batch re-delivered) is NOT a violation:
    // the prior decisions excluding the batch's own ids end at 2
    run(lshDocs.slice(2, 4))
    assert(hits.isEmpty, s"replayed batch must not flag: $hits")
    // ids 5-6 decided, then id-3's twin arriving late IS a violation
    run(lshDocs.slice(4, 6))
    run(Seq(Doc(3, ts("2024-01-01 10:06:00"),
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11")))
    assert(hits.toSeq == Seq((3L, 6L)),
      s"late batch (min 3 after 6 decided) must flag once: $hits")
  }

  test("quality score sink: streamed micro-batches score bit-equal " +
       "to the frozen-model batch scorer") {
    val dir = "/root/testdata/sf0.001"
    val model = graft.llm.QualityClassifier.fitModel(spark, dir)
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "source", "text")
    val rows = docs.as[QDoc].collect().toSeq.sortBy(_.doc_id)
    val expected = graft.llm.QualityClassifier.scoreRaw(docs, model)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1).toSeq
    assert(expected.nonEmpty)
    val dest = s"/tmp/graft-test-qscore-${System.nanoTime()}"
    // uneven splits, separate restarts: the model is the only carried
    // state, so every split must land the identical scores
    for (chunk <- rows.grouped(rows.size / 3 + 1)) {
      val ms = MemoryStream[QDoc](spark)
      ms.addData(chunk: _*)
      val q = StreamingOps.qualityScoreSink(ms.toDF(), model, dest).start()
      q.awaitTermination(60000)
    }
    val got = graft.etl.Snapshot.read(spark, dest)
      .select("doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1).toSeq
    assert(got == expected,
      "streamed scores must bit-equal the batch scorer")
  }

  test("streaming weighted sample merges to the batch twin bit-equally " +
       "and matches an independent Scala derivation") {
    val ms = MemoryStream[Ev](spark)
    val q = StreamingOps.weightedSampleStream(ms.toDF(), 2).writeStream
      .format("memory").queryName("wsample")
      .outputMode("complete").start()
    // three micro-batches, windows split across boundaries: the 10:00
    // window's heap state must merge entries arriving in batches 1 AND 2
    ms.addData(fixture.take(2): _*)
    q.processAllAvailable()
    ms.addData(fixture.slice(2, 4): _*)
    q.processAllAvailable()
    ms.addData(fixture.drop(4): _*)
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getTimestamp(0).toString ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getDouble(0), e.getLong(1))).toList).toMap
    val got = rows(spark.table("wsample"))
    // batch twin in ONE pass over the same rows: heap merge is
    // associative and deterministically ordered, so any split folds to
    // the identical (key, id) arrays — bit-equal doubles included
    val batch = rows(StreamingOps.weightedSampleWindowed(fixture.toDF(), 2))
    assert(got == batch, "micro-batch split must not change the sample")
    // independent truth: recompute every key in plain Scala (same md5 ->
    // first-8-hex u, same -ln(u)/w) and take the 2 smallest per window
    def key(e: Ev): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(e.event_id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) /
        4294967297.0
      -math.log(u) / e.value
    }
    val want = fixture.groupBy(e => java.sql.Timestamp.valueOf(
        e.ts.toLocalDateTime.withMinute(0).withSecond(0)).toString)
      .view.mapValues(_.map(e => (key(e), e.event_id))
        .sortBy(identity).take(2).toList).toMap
    assert(got == want, "sample must be the exact 2 smallest keys/window")
  }
}
