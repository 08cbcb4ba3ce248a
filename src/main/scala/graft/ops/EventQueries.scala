package graft.ops

import graft.{Fns, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch twins of the streaming operators (SURVEY.md §2.2 "Streaming"):
  * each Structured Streaming variant in `graft.streaming.StreamingOps` has a
  * deterministic batch formulation here so the DuckDB oracle can check the
  * semantics; the streaming runs themselves are ScalaTest-verified.
  *
  * The reference's "streaming" is batch-incremental: server-side cursors
  * (`pyopenetl/connections.py:58,84,118-121`) and an hourly delta window
  * (`operations.py:539-540`) acting as a crude late-data allowance — the
  * watermark made explicit.
  */
object EventQueries extends QueryModule {
  import Fns.{dsum, dsumSql, dsum18, dsum18Sql}

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling-window aggregation (streaming: groupBy(window($"ts","1 hour"))).
    "q28_events_hourly" -> { (s, dir) =>
      Tables.t(s, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"),
          Fns.davg(col("value")).as("avg_value"))
        .orderBy("hour", "event_type")
    },

    // Sliding-window aggregation (streaming: StreamingOps.slidingCounts):
    // 1-hour windows every 30 minutes, so each event lands in exactly two
    // overlapping windows. Uses the same built-in `window()` generator as
    // the streaming variant — windows are epoch-aligned multiples of the
    // slide; the oracle states the overlap by exploding each event to its
    // two candidate window starts.
    "q61_sliding_window" -> { (s, dir) =>
      Tables.t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("win_start", "event_type")
    },

    // Sessionization with a 30-minute inactivity gap (streaming:
    // session_window). Two windows — a lag to mark session starts, a running
    // sum to number them — then one aggregation; shuffles once on user_id.
    "q29_sessionize" -> { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
               col("ts") - col("prev_ts") > expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          dsum(col("value")).as("session_value"))
        .orderBy("user_id", "session_id")
    },

    // Pivot: long-to-wide reshape with an explicit value list (required for
    // determinism — an inferred list costs an extra scan and can reorder).
    "q55_pivot" -> { (s, dir) =>
      Tables.t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    },

    // Salted two-phase aggregation over the 5-value event_type key — the
    // genuinely-hot-key shape (every row lands on one of five groups). Same
    // result as a direct groupBy; the salt spreads each hot key over 16
    // partial groups first (graft.ops.Skew).
    "q54_salted_agg" -> { (s, dir) =>
      Skew.saltedSumCount(
        Tables.t(s, dir, "events"),
        col("event_type"), "event_type", col("value"),
        pmod(col("event_id"), lit(16)))
        .orderBy("event_type")
    },

    // Time-series gap fill: daily counts per event_type with missing days
    // materialized as zero rows — the calendar-spine pattern (generate the
    // observed date span, cross it with the dimension values, left-join
    // the real counts). Both spine and dimension sides are a handful of
    // rows at any data scale (days × types), so the grid cross join is a
    // broadcast of nothing against nothing; the only real work is the
    // daily aggregation.
    "q79_gap_fill" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("event_type"), col("value"))
      val spine = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("d"))
      val types = ev.select(col("event_type")).distinct()
      val daily = ev.groupBy(col("d"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      spine.crossJoin(types)
        .join(daily, Seq("d", "event_type"), "left")
        .select(col("d"), col("event_type"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("d", "event_type")
    },

    // Time-series LINEAR interpolation — the value counterpart of q79's
    // zero-fill: q79 materializes missing grid cells as zeros (right for
    // counts), but a gauge metric (daily mean value) needs the gap
    // bridged between its neighbors, the standard sensor/metric backfill
    // before feature assembly (q203) or decomposition (q234). An outage
    // is SIMULATED deterministically (daily points on days ≡ 1 mod 3
    // are dropped — stated identically in the oracle), then each gap
    // day takes v_prev + (v_next − v_prev)·Δd/Δspan from the nearest
    // observed neighbors via IGNORE-NULLS running windows; edge gaps
    // (no neighbor on one side) stay null and are labeled. Scale shape:
    // the windows run over the SPINE grid (days × types — dimension-
    // sized at any corpus scale, the q79 argument), never the event
    // scan; the only corpus-sized work is the daily aggregation.
    // Determinism: daily means ride the exact-decimal davg, the
    // interpolation is ONE double expression with the same shape in
    // both engines, rounded at 6.
    "q279_linear_interpolation" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("event_type"), col("value"))
      val spine = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("d"))
      val types = ev.select(col("event_type")).distinct()
      val epoch = to_date(lit("1970-01-01"))
      val daily = ev.groupBy(col("d"), col("event_type"))
        .agg(Fns.davg(col("value")).as("v"))
        .filter(datediff(col("d"), epoch) % 3 =!= 1) // simulated outage
      val grid = spine.crossJoin(types)
        .join(daily, Seq("d", "event_type"), "left")
        .withColumn("dd", datediff(col("d"), epoch).cast("long"))
      val wPrev = Window.partitionBy(col("event_type")).orderBy(col("dd"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wNext = Window.partitionBy(col("event_type")).orderBy(col("dd"))
        .rowsBetween(0, Window.unboundedFollowing)
      val vp  = last(col("v"), ignoreNulls = true).over(wPrev)
      val ddp = last(when(col("v").isNotNull, col("dd")),
        ignoreNulls = true).over(wPrev)
      val vn  = first(col("v"), ignoreNulls = true).over(wNext)
      val ddn = first(when(col("v").isNotNull, col("dd")),
        ignoreNulls = true).over(wNext)
      grid.select(col("d"), col("event_type"), col("v"),
          vp.as("vp"), ddp.as("ddp"), vn.as("vn"), ddn.as("ddn"),
          col("dd"))
        .select(col("d"), col("event_type"),
          when(col("v").isNotNull, lit("observed"))
            .when(col("vp").isNotNull && col("vn").isNotNull,
              lit("interpolated"))
            .otherwise(lit("edge")).as("kind"),
          (round(
            when(col("v").isNotNull, col("v"))
              .otherwise(col("vp") + (col("vn") - col("vp")) *
                ((col("dd") - col("ddp")).cast("double") /
                  (col("ddn") - col("ddp")).cast("double"))), 6) + lit(0.0))
            .as("value_filled"))
        .orderBy("event_type", "d")
    },

    // Mutual information between event type and day-of-week — the
    // feature-dependence audit (does WHEN predict WHAT?) completing the
    // info-theory family: q135/q242 entropy, q142 conditional entropy,
    // q149 KL, q265 keyness measure distributions one at a time; MI is
    // the PAIRWISE dependence readout feature selection and leakage
    // hunts run before training on a column pair. I(T;W) = Σ p(t,w)
    // ln(p(t,w)/(p(t)p(w))) from exact counts, plus both marginal
    // entropies and the uncertainty coefficient U = I/H(T) (Theil's U —
    // the normalized "how much of T does W explain"). Scale shape: ONE
    // corpus aggregation to the |types|×7 grid (checkpointed so margins
    // don't re-scan), margins and totals are grid-sized broadcasts, the
    // ratio inside ln is a product of exact longs — identical doubles
    // in both engines. Weekday is calendar-function-free (q202's
    // epoch-mod-7) so both engines bucket identically.
    "q280_mutual_information" -> { (s, dir) =>
      val epoch = to_date(lit("1970-01-01"))
      val ev = Tables.t(s, dir, "events")
        .select(col("event_type").as("t"),
          pmod(datediff(to_date(col("ts")), epoch), lit(7)).as("w"))
      val ctw = ev.groupBy(col("t"), col("w"))
        .agg(count(lit(1)).as("c_tw")).transform(graft.Checkpoints.ckpt)
      val ct = ctw.groupBy(col("t")).agg(sum(col("c_tw")).as("c_t"))
      val cw = ctw.groupBy(col("w")).agg(sum(col("c_tw")).as("c_w"))
      val n = ctw.agg(sum(col("c_tw")).as("n"))
      val nD = col("n").cast("double")
      val mi = ctw.join(broadcast(ct), "t").join(broadcast(cw), "w")
        .crossJoin(broadcast(n))
        .select(col("n"),
          ((col("c_tw").cast("double") / nD) *
            log((col("c_tw") * col("n")).cast("double") /
              (col("c_t") * col("c_w")).cast("double"))).as("mi_s"))
        .groupBy(col("n"))
        .agg(Fns.dsum18(col("mi_s")).as("mi_nats"))
      val ht = ct.crossJoin(broadcast(n))
        .select((-(col("c_t").cast("double") / nD) *
          log(col("c_t").cast("double") / nD)).as("h_s"))
        .agg(Fns.dsum18(col("h_s")).as("h_type"))
      val hw = cw.crossJoin(broadcast(n))
        .select((-(col("c_w").cast("double") / nD) *
          log(col("c_w").cast("double") / nD)).as("h_s"))
        .agg(Fns.dsum18(col("h_s")).as("h_dow"))
      mi.crossJoin(broadcast(ht)).crossJoin(broadcast(hw))
        .select(col("n").as("n_events"),
          (round(col("mi_nats"), 6) + lit(0.0)).as("mi_nats"),
          (round(col("h_type"), 6) + lit(0.0)).as("h_type"),
          (round(col("h_dow"), 6) + lit(0.0)).as("h_dow"),
          (round(col("mi_nats") / col("h_type"), 6) + lit(0.0))
            .as("uncertainty_coeff"))
    },

    // Deterministic first-event dedup (streaming:
    // dropDuplicatesWithinWatermark) — row_number is also the reference's
    // upsert dedup kernel shape (SURVEY.md §2.1 W14).
    "q30_dedup_first" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
        .orderBy("user_id", "event_type")
    },

    // Per-group z-score anomaly flagging — the monitoring pass a pipeline
    // runs over a metric stream before training on it: per event_type,
    // mean and stddev from the exact-decimal moments (q77's recipe, so
    // both engines derive bit-identical thresholds), then every row more
    // than 3 sigma out is reported. The moments table is a handful of
    // rows — broadcast back onto the scan; the only shuffles are the
    // moment aggregation and the presentation sort.
    "q105_value_anomalies" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val m = ev.groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          dsum(col("value")).as("sx"),
          dsum(col("value") * col("value")).as("sx2"))
        .select(col("event_type"),
          (col("sx") / col("n")).as("mean"),
          sqrt((col("sx2") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("sd"))
      val z = (col("value") - col("mean")) / col("sd")
      ev.join(broadcast(m), "event_type")
        .filter(abs(z) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(z, 4).as("zscore"))
        .orderBy("event_id")
    },

    // Robust (MAD-based) outlier census — q105's z-score flags break down
    // exactly where outlier detection matters (heavy tails inflate the
    // SD and hide the outliers); the median absolute deviation does not.
    // Per event_type: med = p50(value), mad = p50(|value − med|), outlier
    // iff |value − med| > 3·1.4826·mad (the Gaussian-consistent scale).
    // Two grouped aggregations with the thresholds broadcast back —
    // q104's winsorize shape, ONE percentile sort per aggregation. Both
    // percentiles round at 4 BEFORE the comparisons (q56's grid argument)
    // so the census counts identical values in both engines; the
    // deviation |v − med| is one IEEE subtraction of identical doubles.
    "q124_mad_outliers" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val med = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy(col("event_type"), col("med"))
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 4).as("mad"))
      ev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("med")).as("med"), max(col("mad")).as("mad"),
          count_if(abs(col("value") - col("med")) >
            lit(3.0) * lit(1.4826) * col("mad")).as("n_outliers"))
        .orderBy("event_type")
    },

    // Ordered conversion funnel (view → click within 24 h → purchase
    // within 24 h of the click): how many users reach each stage IN ORDER
    // and in time — min(view ts), the first click inside the attribution
    // window after it, the first purchase inside the window after that.
    // Three per-user conditional aggregations; every join is user-keyed
    // and the stage tables only shrink, so the follow-up joins ride the
    // first shuffle's partitioning. Stage timestamps compare exactly
    // (microsecond longs), so the funnel is deterministic.
    "q108_funnel" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts") >= col("t_view") &&
          col("ts") <= col("t_view") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id"), col("t_view"))
        .agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c.select(col("user_id"), col("t_click")), "user_id")
        .filter(col("ts") >= col("t_click") &&
          col("ts") <= col("t_click") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      // stage tables chain user-keyed left joins (no new exchange after
      // the first user_id partitioning) into ONE counting aggregate —
      // count(col) skips nulls, so each count is that stage's user count.
      // Single-row result: no trailing ORDER BY (q58's documented
      // exemption).
      v.join(c.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .agg(count(col("t_view")).as("n_view"),
          count(col("t_click")).as("n_view_click"),
          count(col("t_purchase")).as("n_view_click_purchase"))
    },

    // Retention cohorts: users grouped by the week of their first
    // qualifying action (here: a high-value purchase), counted in every
    // later week they return — the engagement matrix behind any "week N
    // retention" dashboard. One aggregation derives the cohort table
    // (users-sized), joined back on user_id; distinct (user, week) pairs
    // collapse before the final count so a chatty user weighs once. Weeks
    // are DATEs in both engines (DuckDB's week-trunc yields DATE).
    "q109_retention_cohorts" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value") > 0.9)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), col("wk"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "wk")
    },

    // Session path mining: q29's gap sessionization, then each session's
    // ordered event-type sequence as a '>' -joined string, then the top
    // 20 most-common paths — the behavioral clickstream summary. The
    // per-session collect is bounded by session length (the 30-minute gap
    // rule caps it), never a user's full history; path counting shuffles
    // path strings (bounded by alphabet^length in practice).
    "q110_session_paths" -> { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Tables.t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
               col("ts") - col("prev_ts") > expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(wRun))
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(array_join(expr("transform(array_sort(" +
          "collect_list(struct(ts, event_id, event_type))), " +
          "x -> x.event_type)"), ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    },

    // Fixed-width value histogram per event type — the distribution
    // profile a monitoring pass draws before alerting on drift. Bin ids
    // come from floor(value / width) on exact doubles (identical binning
    // in both engines, no percentile pass); entirely one aggregation.
    "q111_value_histogram" -> { (s, dir) =>
      Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / lit(0.25)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
        .orderBy("event_type", "bin")
    },

    // First-order Markov transition matrix over each user's event
    // sequence (lead window per user, then count and row-normalize) —
    // the behavioral model q110's raw paths feed. The probability is one
    // exact int64 ratio through a single division, so every cell is
    // bit-identical across engines; the from-state totals attach via a
    // window over the (from, to) count table (states² rows — tiny at any
    // corpus scale).
    "q114_markov_transitions" -> { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.t(s, dir, "events")
        .withColumn("to_type", lead(col("event_type"), 1).over(wOrd))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("n_from",
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("n_from").cast("double")).as("p"))
        .orderBy("from_type", "to_type")
    },

    // Population-stability-index drift monitor — the production data-
    // quality check a pipeline runs before retraining on fresh data: per
    // event type, PSI = Σ (p_cur - p_base) ln(p_cur / p_base) between the
    // first and second half of the time range, over q111's fixed-width
    // value bins with Laplace (+1) smoothing so empty bins stay finite.
    // PSI < 0.1 stable / 0.1-0.25 moderate / > 0.25 drifted (the industry
    // rule of thumb). Scale shape: midpoint from a broadcast 1-row min/max
    // agg; one count aggregation on (type, bin, half); totals and bin
    // counts as windows over those histogram-sized rows; exact-decimal
    // summand reduction. Nothing corpus-sized crosses a shuffle twice.
    "q143_psi_drift" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("event_type"), col("value"),
          unix_micros(col("ts")).as("us"))
      val mm = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      val counts = ev.crossJoin(broadcast(mm))
        .select(col("event_type"),
          floor(col("value") / lit(0.25)).cast("long").as("bin"),
          (col("us") >= expr("lo + (hi - lo) div 2")).as("cur"))
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("cur"), 0L).otherwise(1L)).as("n_base"),
          sum(when(col("cur"), 1L).otherwise(0L)).as("n_cur"))
      val wT = Window.partitionBy(col("event_type"))
      val pB = (col("n_base") + 1).cast("double") /
        (col("tot_base") + col("k")).cast("double")
      val pC = (col("n_cur") + 1).cast("double") /
        (col("tot_cur") + col("k")).cast("double")
      counts
        .withColumn("tot_base", sum(col("n_base")).over(wT))
        .withColumn("tot_cur", sum(col("n_cur")).over(wT))
        .withColumn("k", count(lit(1)).over(wT))
        .select(col("event_type"), ((pC - pB) * log(pC / pB)).as("summand"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_bins"),
          graft.Fns.dsum18(col("summand")).as("psi"))
        .orderBy("event_type")
    },

    // Debounce / throttle dedup — the telemetry-cleaning pass before any
    // event analytics: an event arriving under 5 s after the PREVIOUS
    // event of the same (user, type) is a bounce/retry artifact, not a
    // signal (closed-form lag rule, deliberately not the keep-dependent
    // iterative variant — that needs per-key sequential state, the
    // streaming mapGroupsWithState twin's job). Scale shape: one lag
    // window partitioned by (user_id, event_type) — per-key state is one
    // row, key cardinality spreads across the cluster — then a
    // #types-sized aggregation. The tie-break (ts, event_id) makes lag
    // deterministic under equal timestamps.
    "q151_event_throttle" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("kept", col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") >= lit(5000000L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .select(col("event_type"), col("n_events"), col("n_kept"),
          (col("n_kept").cast("double") / col("n_events").cast("double"))
            .as("keep_ratio"))
        .orderBy("event_type")
    },

    // Inter-arrival distribution — the cadence fingerprint behind
    // bot/burst detection and the empirical basis for q151's throttle
    // window: per event type, median and p95 of the gap between
    // consecutive same-(user, type) events. Scale shape: the same
    // (user_id, event_type) lag window as q151 (per-key state is one
    // row), then one exact percentile aggregation per type — the q56
    // cross-engine pattern (Spark `percentile` and DuckDB QUANTILE_CONT
    // share linear interpolation; gaps are exact-long micros over one
    // IEEE division, so both engines sort identical doubles).
    "q155_interarrival_stats" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_s",
          (unix_micros(col("ts")) - col("prev_us")).cast("double") /
            lit(1000000.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap_s, 0.5)"), 4).as("median_gap_s"),
          round(expr("percentile(gap_s, 0.95)"), 4).as("p95_gap_s"))
        .orderBy("event_type")
    },

    // Recency-weighted aggregation — the freshness-decayed rollup feeding
    // trend dashboards and decayed feature stores: each event's value
    // weights by 0.5^floor(age/7d) (weekly half-life against the
    // corpus's max timestamp). The decay is DELIBERATELY transcendental-
    // free: floor() of identical IEEE doubles is identical in both
    // engines and 0.5^k with integral k is an exact dyadic — no exp()
    // whose last-ulp behavior could differ between libm implementations
    // and leak through the exact-decimal sums. Scale shape: the as-of
    // anchor is a broadcast 1-row max; weighting is scan-local; one
    // #types-key aggregation.
    "q157_decayed_value" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("event_type"), col("value"),
          unix_micros(col("ts")).as("us"))
      val mx = ev.agg(max(col("us")).as("asof_us"))
      val ageDays = (col("asof_us") - col("us")).cast("double") /
        lit(86400000000.0)
      val wgt = pow(lit(0.5), floor(ageDays / lit(7.0)))
      ev.crossJoin(broadcast(mx))
        .select(col("event_type"), col("value"), wgt.as("w"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.Fns.dsum18(col("w")).as("weight_mass"),
          graft.Fns.dsum18(col("w") * col("value")).as("decayed_sum"))
        .select(col("event_type"), col("n_events"),
          (round(col("weight_mass"), 6) + lit(0.0)).as("weight_mass"),
          (round(col("decayed_sum") / col("weight_mass"), 4) + lit(0.0))
            .as("decayed_mean"))
        .orderBy("event_type")
    },

    // Conversion latency distribution — q108's funnel tells HOW MANY
    // convert; this tells HOW FAST: hours from a user's first view to
    // their first purchase at or after it, summarized as median/p90.
    // Scale shape: two user-keyed min-aggregations and one equi-join on
    // user_id (the funnel's own shape), then a single exact-percentile
    // aggregation over #converted-users rows. Latencies are exact-long
    // microsecond differences over one IEEE division, so both engines
    // sort identical doubles (the q56/q155 percentile pattern).
    "q160_conversion_latency" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("view_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        .join(v, "user_id")
        .filter(col("p_us") >= col("view_us"))
        .groupBy(col("user_id"))
        .agg(min(col("p_us")).as("purchase_us"),
          min(col("view_us")).as("view_us2"))
      p.select(((col("purchase_us") - col("view_us2")).cast("double") /
          lit(3600000000.0)).as("latency_h"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(latency_h, 0.5)"), 4).as("median_hours"),
          round(expr("percentile(latency_h, 0.9)"), 4).as("p90_hours"))
    },

    // Count-burst report — q105 flags anomalous VALUES, this ranks
    // anomalous ARRIVAL RATES: the 5 busiest minute-buckets per event
    // type with their z-score against that type's observed buckets, and
    // is_burst marking the mean + 3*stddev exceedances (bot floods,
    // retry storms, scraper bursts — what q151's throttle then cleans).
    // A top-k report instead of a bare threshold filter: the peak
    // minutes are the answer an on-call reads even when nothing crosses
    // 3 sigma (and a uniform fixture — sf0.001's all-singleton buckets,
    // where std = 0 — still yields rows; z defines to 0 there). Empty
    // minutes are absent by construction (stats are over observed
    // buckets — documented). Scale shape: one (type, minute) count
    // aggregation, #types-row moment stats broadcast back, a
    // #types-partitioned top-k rank window. All moments are exact longs,
    // so mean/std/z are identical doubles.
    "q162_burst_detection" -> { (s, dir) =>
      val b = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("minute", col("ts")).as("minute"))
        .agg(count(lit(1)).as("n"))
      val st = b.groupBy(col("event_type"))
        .agg(count(lit(1)).as("nb"), sum(col("n")).as("s"),
          sum(col("n") * col("n")).as("s2"))
      val mean = col("s").cast("double") / col("nb").cast("double")
      val std = sqrt(col("s2").cast("double") / col("nb").cast("double")
        - mean * mean)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("minute").asc)
      b.join(broadcast(st), "event_type")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("event_type"), col("minute"), col("n"),
          (when(std > 0.0,
            round((col("n").cast("double") - mean) / std, 4))
            .otherwise(0.0) + lit(0.0)).as("z"),
          (col("n").cast("double") > mean + lit(3.0) * std).as("is_burst"))
        .orderBy("event_type", "minute")
    },

    // Last-touch attribution: each purchase credits the LATEST preceding
    // view/click by the same user within a 7-day lookback — the marketing
    // twin of q160's first-touch conversion latency (which engagement
    // gets the credit vs how long conversion takes). Purchases with no
    // qualifying touch keep NULL touch columns — the unattributed share
    // IS a readout. One user-timeline window (last-ignoring-nulls over
    // rows-preceding carries the most recent touch forward — never a
    // per-purchase rescan of the history), so the whole operator rides a
    // single user_id partitioning; gap seconds are exact integer
    // microsecond arithmetic.
    "q172_last_touch" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("view", "click"),
        struct(unix_micros(col("ts")).as("us"),
          col("event_id").as("id"), col("event_type").as("tp")))
      val within = col("t.us").isNotNull &&
        unix_micros(col("ts")) - col("t.us") <= lit(7L * 24 * 3600 * 1000000L)
      ev.withColumn("t", last(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_us"), col("value"),
          when(within, col("t.id")).as("touch_id"),
          when(within, col("t.tp")).as("touch_type"),
          when(within,
            expr("(unix_micros(ts) - t.us) div 1000000")).as("gap_s"))
        .orderBy("purchase_id")
    },

    // Daily-volume trend per event type: the least-squares slope of
    // counts over epoch-day index — the direction readout next to q143's
    // PSI (is the mix drifting?) and q162's bursts (did a minute spike?):
    // a steady climb flags growth or a ramping scraper that never
    // bursts. Slope from the closed form (n·Sxy − Sx·Sy)/(n·Sxx − Sx²):
    // every moment is an exact-long sum over the #days-sized daily
    // rollup (epoch-day indices need no global min — slope is
    // shift-invariant), and the slope/intercept are single IEEE ops on
    // those exact longs. One corpus-sized aggregation; everything after
    // is #types rows.
    "q174_trend_slope" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("x"))
        .agg(count(lit(1)).as("n"))
      val slopeNum = col("np") * col("sxy") - col("sx") * col("sy")
      val slopeDen = col("np") * col("sxx") - col("sx") * col("sx")
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("np"), sum(col("x")).as("sx"),
          sum(col("n")).as("sy"), sum(col("x") * col("n")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("np").as("n_days"),
          col("sy").as("total"),
          (slopeNum.cast("double") / slopeDen.cast("double"))
            .as("slope_per_day"))
        .orderBy("event_type")
    },

    // Kendall rank correlation, tie-aware tau-b (Kendall 1938) — the
    // pairwise-concordance member of the correlation family: q181's
    // Spearman ranks values then correlates the ranks (tie handling via
    // midranks), tau-b asks the direct question "across day pairs, do
    // these two event types move TOGETHER?" and is the standard report
    // when the series are short and tied (daily counts are). Per type
    // pair, over all C(days,2) day pairs: concordant/discordant by the
    // sign product of the count deltas, tie counts per side, then
    // tau_b = (C − D) / √((n0 − tx)(n0 − ty)). Everything up to the
    // final expression is exact-long counting — the lone double op is
    // one sqrt-divide, identical bits in both engines. Scale shape: ONE
    // corpus-sized aggregation to the days×types grid; the type-pair ×
    // day-pair fan-out is C(5,2)·C(30,2) — GRID-quadratic only, never
    // event-touching.
    "q300_kendall_tau" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .agg(count(lit(1)).as("n"))
        .transform(graft.Checkpoints.ckpt)
      val byDay = daily.select(col("event_type").as("ta"),
          col("d"), col("n").as("na"))
        .join(daily.select(col("event_type").as("tb"), col("d"),
          col("n").as("nb")), Seq("d"))
        .filter(col("ta") < col("tb"))
      val pairs = byDay.select(col("ta"), col("tb"), col("d").as("d1"),
          col("na").as("na1"), col("nb").as("nb1"))
        .join(byDay.select(col("ta"), col("tb"), col("d").as("d2"),
          col("na").as("na2"), col("nb").as("nb2")), Seq("ta", "tb"))
        .filter(col("d1") < col("d2"))
      val m = pairs.groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("n0"),
          sum(when((col("na2") > col("na1")) === (col("nb2") > col("nb1"))
              && col("na2") =!= col("na1") && col("nb2") =!= col("nb1"),
            1L).otherwise(0L)).as("concordant"),
          sum(when((col("na2") > col("na1")) =!= (col("nb2") > col("nb1"))
              && col("na2") =!= col("na1") && col("nb2") =!= col("nb1"),
            1L).otherwise(0L)).as("discordant"),
          sum(when(col("na2") === col("na1"), 1L).otherwise(0L))
            .as("ties_x"),
          sum(when(col("nb2") === col("nb1"), 1L).otherwise(0L))
            .as("ties_y"))
      // a fully-tied series (constant daily count) zeroes the denominator;
      // Spark's double x/0 yields Inf/NaN while DuckDB NULLs — declare the
      // degenerate case NULL in BOTH engines so they agree
      m.select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("n0").as("n_pairs"), col("concordant"), col("discordant"),
          col("ties_x"), col("ties_y"),
          when(col("n0") > col("ties_x") && col("n0") > col("ties_y"),
            round((col("concordant") - col("discordant")).cast("double") /
              sqrt((col("n0") - col("ties_x")).cast("double") *
                (col("n0") - col("ties_y")).cast("double")), 6) + lit(0.0))
            .otherwise(lit(null).cast("double"))
            .as("tau_b"))
        .orderBy("type_a", "type_b")
    },

    // Theil-Sen robust trend (Theil 1950 / Sen 1968) — the
    // breakdown-resistant twin of q174's least-squares slope: the
    // median of all pairwise day-to-day slopes shrugs off the outlier
    // days (launch spikes, logging gaps) that swing OLS, the estimator
    // monitoring teams actually want on dirty volume series. Slope =
    // lower-median of (n_j − n_i)/(x_j − x_i) over day pairs, intercept
    // = lower-median of the residuals n − slope·x. Determinism is pick-
    // not-sum: each pairwise slope is ONE IEEE division of exact longs,
    // the median is an order statistic (equal values make the rank-th
    // VALUE unique even when row identity is not), and the residual
    // median repeats the trick — no accumulation anywhere. Scale shape:
    // the pair set is C(days, 2) per type — GRID-sized (435 rows/type
    // here), quadratic only in the dimension, never in events; one
    // corpus-sized rollup feeds everything.
    "q298_theil_sen" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("x"))
        .agg(count(lit(1)).as("n"))
        .transform(graft.Checkpoints.ckpt)
      val a = daily.select(col("event_type"), col("x").as("xa"),
        col("n").as("na"))
      val b = daily.select(col("event_type"), col("x").as("xb"),
        col("n").as("nb"))
      val pairs = a.join(b, Seq("event_type"))
        .filter(col("xa") < col("xb"))
        .select(col("event_type"),
          ((col("nb") - col("na")).cast("double") /
            (col("xb") - col("xa")).cast("double")).as("m"))
      val wS = Window.partitionBy(col("event_type")).orderBy(col("m"))
      val wC = Window.partitionBy(col("event_type"))
      val med = pairs
        .withColumn("rn", row_number().over(wS))
        .withColumn("cnt", count(lit(1)).over(wC))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("m").as("slope"),
          col("cnt").as("n_pairs"))
      val wR = Window.partitionBy(col("event_type"))
        .orderBy(col("r"))
      daily.join(med, Seq("event_type"))
        .select(col("event_type"), col("slope"), col("n_pairs"),
          (col("n").cast("double") -
            col("slope") * col("x").cast("double")).as("r"))
        .withColumn("rn", row_number().over(wR))
        .withColumn("nd", count(lit(1)).over(wC))
        .filter(col("rn") === expr("(nd + 1) div 2"))
        .select(col("event_type"), col("n_pairs"),
          (round(col("slope"), 10) + lit(0.0)).as("ts_slope"),
          (round(col("r"), 6) + lit(0.0)).as("ts_intercept"))
        .orderBy("event_type")
    },

    // Exponentially-weighted moving average of daily value per event
    // type (α = 0.5, calendar-decayed) — the monitoring smoother next
    // to q174's trend and q175's changepoint: EWMA_t =
    // Σ 0.5^(t−i)·x_i / Σ 0.5^(t−i). The recursion is rewritten
    // associatively: weight w_i = 0.5^(dmax − d_i) attaches scan-local
    // (one broadcast 1-row max), the common 0.5^(dmax−t) factor cancels
    // in the ratio, and both cumulative sums ride exact-decimal window
    // sums — order-independent, so the smoother is bit-identical in
    // both engines despite being "sequential" on paper. α = 0.5 keeps
    // every power exactly dyadic (no libm pow divergence). Windows run
    // over the daily rollup only (days × |types| rows — the corpus
    // never sees a window), decayed mass below 1e-18 rounds identically
    // under the dsum18 half-boundary argument.
    "q251_ewma" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
      val mx = daily.agg(max(col("d")).as("dmax"))
      val w = daily.crossJoin(broadcast(mx))
        .select(col("event_type"), col("d"), col("n"), col("v"),
          pow(lit(0.5), (col("dmax") - col("d")).cast("double")).as("w"))
      val win = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      w.select(col("event_type"), col("d").as("day_idx"), col("n"),
          (round(col("v"), 4) + lit(0.0)).as("day_value"),
          (round(
            sum((col("w") * col("v")).cast("decimal(38,18)")).over(win)
              .cast("double") /
            sum(col("w").cast("decimal(38,18)")).over(win)
              .cast("double"), 6) + lit(0.0)).as("ewma"))
        .orderBy("event_type", "day_idx")
    },

    // Holt double exponential smoothing (level + linear trend) per event
    // type over the daily value series — the forecasting primitive
    // between q251's EWMA (level only, closed-form weights) and q234's
    // seasonal decomposition: l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}),
    // b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, classic init l_1 = x_1,
    // b_1 = x_2−x_1, and the one-step forecast l_t + b_t. The recursion
    // is inherently sequential, but the series is DIMENSION-sized
    // (days × types — fixed at any corpus scale), so after the one
    // corpus-sized daily rollup the whole recursion runs scan-local as
    // an array fold inside the per-type row: no iterative jobs, no
    // driver loop, no low-cardinality corpus window. α = β = 0.5
    // (dyadic) and both engines execute the IDENTICAL IEEE expression
    // sequence (the fold here, the recursive CTE in DuckDB), so levels
    // and trends agree bit for bit before the round.
    "q291_holt_trend" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .agg(dsum(col("value")).cast("double").as("v"))
      daily.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("d"), col("v"))))
          .as("sv"))
        .select(col("event_type"), explode(expr(
          """CASE WHEN size(sv) >= 2 THEN
            |aggregate(
            |  slice(sv, 3, size(sv) - 2),
            |  array(named_struct(
            |    'd', element_at(sv, 2).d,
            |    'l', 0.5D * element_at(sv, 2).v +
            |         0.5D * (element_at(sv, 1).v +
            |           (element_at(sv, 2).v - element_at(sv, 1).v)),
            |    'b', 0.5D * ((0.5D * element_at(sv, 2).v +
            |           0.5D * (element_at(sv, 1).v +
            |             (element_at(sv, 2).v - element_at(sv, 1).v))) -
            |           element_at(sv, 1).v) +
            |         0.5D * (element_at(sv, 2).v - element_at(sv, 1).v))),
            |  (acc, x) -> concat(acc, array(named_struct(
            |    'd', x.d,
            |    'l', 0.5D * x.v + 0.5D * (element_at(acc, -1).l +
            |           element_at(acc, -1).b),
            |    'b', 0.5D * ((0.5D * x.v + 0.5D * (element_at(acc, -1).l +
            |           element_at(acc, -1).b)) - element_at(acc, -1).l) +
            |         0.5D * element_at(acc, -1).b))),
            |  acc -> acc)
            |END""".stripMargin)).as("h"))
        .select(col("event_type"), col("h.d").as("day_idx"),
          (round(col("h.l"), 6) + lit(0.0)).as("level"),
          (round(col("h.b"), 6) + lit(0.0)).as("trend"),
          (round(col("h.l") + col("h.b"), 6) + lit(0.0)).as("forecast"))
        .orderBy("event_type", "day_idx")
    },

    // Holt-Winters additive seasonal smoothing (m = 7) — the third rung
    // of the forecasting ladder: q251 smooths level, q291 adds trend,
    // this adds the weekly seasonal state s_t the other two alias into
    // their residuals. l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1}+b_{t−1}),
    // b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, s_t = γ(x_t − l_t) +
    // (1−γ)s_{t−m}; init from the first two seasons (l = mean of season
    // 2, b = season-mean difference / 7, seasonals = season-2 residuals)
    // and the recursion runs days 15+. α = β = γ = 0.5 (dyadic) and the
    // fold carries the last 7 seasonals as a sliding array — the q291
    // execution shape: ONE corpus rollup, then the inherently-sequential
    // recursion runs scan-local as an array fold on the DIMENSION-sized
    // per-type row (no iterative jobs, no driver loop); the oracle's
    // recursive CTE states the identical IEEE sequence, so state and
    // forecast agree bit-for-bit. Positions, not calendar dates, index
    // the season (robust to day gaps, and identical in both engines).
    "q297_holt_winters" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .agg(dsum(col("value")).cast("double").as("v"))
      val init = daily.groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("d"), col("v"))))
          .as("sv"))
        .filter(size(col("sv")) >= 15)
        .withColumn("m1", expr(
          """(element_at(sv,1).v + element_at(sv,2).v + element_at(sv,3).v
            | + element_at(sv,4).v + element_at(sv,5).v
            | + element_at(sv,6).v + element_at(sv,7).v) / 7.0D"""
            .stripMargin))
        .withColumn("l0", expr(
          """(element_at(sv,8).v + element_at(sv,9).v + element_at(sv,10).v
            | + element_at(sv,11).v + element_at(sv,12).v
            | + element_at(sv,13).v + element_at(sv,14).v) / 7.0D"""
            .stripMargin))
        .withColumn("b0", expr("(l0 - m1) / 7.0D"))
        .withColumn("ss0",
          expr("transform(sequence(8, 14), k -> element_at(sv, k).v - l0)"))
      // the new level/seasonal recur inside sibling struct fields, so
      // the formulas repeat textually (named_struct fields cannot
      // reference each other); identical recomputation of the same
      // expression is bit-identical, so only the SHAPE must match the
      // oracle, which it does term for term
      val lN = "(0.5D * (e.v - element_at(acc.ss, 1)) " +
        "+ 0.5D * (acc.l + acc.b))"
      val bN = s"(0.5D * ($lN - acc.l) + 0.5D * acc.b)"
      val sN = s"(0.5D * (e.v - $lN) + 0.5D * element_at(acc.ss, 1))"
      val fN = s"($lN + $bN + element_at(acc.ss, 2))"
      init.select(col("event_type"), explode(expr(
          s"""aggregate(
             |  slice(sv, 15, size(sv) - 14),
             |  named_struct('l', l0, 'b', b0, 'ss', ss0,
             |    'out', array(named_struct(
             |      'd', CAST(-1 AS BIGINT), 'l', CAST(0 AS DOUBLE),
             |      'b', CAST(0 AS DOUBLE), 's', CAST(0 AS DOUBLE),
             |      'f', CAST(0 AS DOUBLE)))),
             |  (acc, e) -> named_struct(
             |    'l', $lN,
             |    'b', $bN,
             |    'ss', concat(slice(acc.ss, 2, 6), array($sN)),
             |    'out', concat(acc.out, array(named_struct(
             |      'd', e.d, 'l', $lN, 'b', $bN, 's', $sN, 'f', $fN)))),
             |  acc -> slice(acc.out, 2, size(acc.out) - 1))"""
            .stripMargin)).as("h"))
        .select(col("event_type"), col("h.d").as("day_idx"),
          (round(col("h.l"), 6) + lit(0.0)).as("level"),
          (round(col("h.b"), 6) + lit(0.0)).as("trend"),
          (round(col("h.s"), 6) + lit(0.0)).as("seasonal"),
          (round(col("h.f"), 6) + lit(0.0)).as("forecast"))
        .orderBy("event_type", "day_idx")
    },

    // CUSUM changepoint per event type: the day where the cumulative
    // deviation of daily counts from the type's mean peaks — WHERE the
    // level shifted, where q174 says whether it trends and q162 when a
    // minute burst hit. Exactness without a running double sum: the
    // cumulative deviation telescopes to P_t − t·(total/n_days) with P_t
    // an exact-long prefix count and t the day's 1-based rank, so each
    // day's statistic is two IEEE ops on exact ints — no
    // accumulation-order hazard. Windows run over the daily rollup only;
    // the argmax is a sort-free max_by on (|cusum|, earliest-day) ties.
    "q175_cusum_changepoint" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("x"))
        .agg(count(lit(1)).as("n"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("x"))
      val wAll = Window.partitionBy(col("event_type"))
      val cusum = col("p").cast("double") -
        col("t").cast("double") *
          (col("total").cast("double") / col("nd").cast("double"))
      daily
        .withColumn("p", sum(col("n")).over(wOrd))
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("total", sum(col("n")).over(wAll))
        .withColumn("nd", count(lit(1)).over(wAll))
        .withColumn("cusum", cusum)
        .groupBy(col("event_type"))
        .agg(max(col("nd")).as("n_days"),
          max_by(col("x"), struct(abs(col("cusum")), -col("t")))
            .as("cp_day"),
          max_by(col("cusum"), struct(abs(col("cusum")), -col("t")))
            .as("cusum_at_cp"))
        .orderBy("event_type")
    },

    // Rolling 7-day active users (exact windowed distinct): each event
    // fans out to the 7 trailing windows that contain its day, then ONE
    // (window, user) distinct aggregation counts every window — the
    // explode-into-windows spelling that replaces the 7-way self-join a
    // naive rolling distinct needs (distinct counts don't merge across
    // days, so there is no prefix-sum shortcut; ×7 linear fan-out IS the
    // scalable exact form, and the probabilistic alternative is q44's
    // HLL sketch). DAU rides the i=0 slice of the same fan-out. Windows
    // report only on days that actually have events (join against the
    // observed-day set — trailing windows anchored on empty days would
    // restate their last observed sibling).
    "q176_rolling_active" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("d"), col("user_id"))
      val fan = ev.select(col("user_id"),
          explode(expr("sequence(0L, 6L)")).as("i"),
          col("d"))
        .select(col("user_id"), (col("d") + col("i")).as("w"),
          (col("i") === 0).as("is_day"))
      val obs = ev.select(col("d")).distinct()
      fan.join(obs.withColumnRenamed("d", "w"), Seq("w"))
        .groupBy(col("w").as("day_idx"), col("user_id"))
        .agg(max(col("is_day")).as("active_today"))
        .groupBy(col("day_idx"))
        .agg(sum(when(col("active_today"), 1L).otherwise(0L)).as("dau"),
          count(lit(1)).as("wau7"))
        .orderBy("day_idx")
    },

    // Holdout experiment readout: users split 50/50 by the md5 parity of
    // their id (the q103 split rule at user granularity — any real A/B
    // assignment IS a deterministic user-keyed hash, so this exercises
    // the exact production shape), metric = purchases per user, and the
    // Welch z statistic says whether the arms differ beyond sampling
    // noise — the significance gate every experiment dashboard puts next
    // to its lift number (and the calibration check for an A/A split
    // like this one: |z| should be small). A binary-conversion variant
    // degenerates on this fixture (every user purchases → pooled
    // variance 0), which is itself the lesson: rate metrics need
    // variance. One user-level rollup + a 2-row pivot; every moment is
    // an exact long (counts of counts), so means/variances/z are the
    // same doubles in both engines.
    "q178_holdout_ztest" -> { (s, dir) =>
      val arm = conv(substring(
        md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 2
      val users = Tables.t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("x"))
        .select(arm.as("arm"), col("x"))
      def m(i: Int) = col(s"s$i").cast("double") / col(s"n$i").cast("double")
      def v(i: Int) = (col(s"q$i").cast("double")
        - col(s"s$i").cast("double") * col(s"s$i").cast("double")
          / col(s"n$i").cast("double")) /
        (col(s"n$i") - 1).cast("double")
      val se = sqrt(v(0) / col("n0").cast("double")
        + v(1) / col("n1").cast("double"))
      users.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("q"))
        .agg(max(when(col("arm") === 0, col("n"))).as("n0"),
          max(when(col("arm") === 1, col("n"))).as("n1"),
          max(when(col("arm") === 0, col("s"))).as("s0"),
          max(when(col("arm") === 1, col("s"))).as("s1"),
          max(when(col("arm") === 0, col("q"))).as("q0"),
          max(when(col("arm") === 1, col("q"))).as("q1"))
        .select(col("n0"), col("n1"), m(0).as("mean0"), m(1).as("mean1"),
          (m(1) - m(0)).as("lift"), ((m(1) - m(0)) / se).as("z"))
    },

    // Stationary distribution of q114's Markov chain: where a user's
    // event process spends its time in the long run — the equilibrium
    // readout over the same transition matrix whose single steps q114
    // reports (a state whose stationary mass dwarfs its arrival share is
    // a sink; one that starves is an exit). Ten unrolled power-iteration
    // rounds from uniform — the q107 kernel shrunk to its essential
    // shape: the state vector is #states rows, each round one join +
    // one exact-decimal aggregation, and the
    // transition matrix materializes ONCE (localCheckpoint) because ten
    // rounds would otherwise re-run the corpus-sized LEAD pass each.
    "q179_markov_stationary" -> { (s, dir) =>
      val wUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wFrom = Window.partitionBy(col("from_type"))
      val trans = Tables.t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(wUser).as("to_type"))
        .filter(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double") /
          sum(col("n")).over(wFrom).cast("double"))
        .select(col("from_type"), col("to_type"), col("p"))
        .transform(graft.Checkpoints.ckpt)
      val states = trans.select(col("from_type").as("state")).distinct()
      val nStates = states.agg(count(lit(1)).as("ns"))
      var pi = states.crossJoin(broadcast(nStates))
        .select(col("state"),
          (lit(1.0) / col("ns").cast("double")).as("pi"))
        .transform(graft.Checkpoints.ckpt)
      (0 until 10).foreach { _ =>
        pi = graft.Checkpoints.roll(
          trans.join(pi, trans("from_type") === pi("state"))
            .groupBy(col("to_type").as("state"))
            .agg(graft.Fns.dsum18(col("p") * col("pi")).as("pi")),
          pi)
      }
      // ten rounds compound the engines' DECIMAL-cast ulp differences to
      // ~1e-17; the published vector rounds to the 1e-10 grid, far above
      // the drift and far below anything a reader of a probability cares
      // about
      pi.orderBy("state")
        .select(col("state").as("event_type"), round(col("pi"), 10).as("pi"))
    },

    // Watermark planning profile under a deterministic REPLAY SHUFFLE:
    // how late would events be if the transport reordered them? The
    // fixture's log arrives in perfect event-time order (every event
    // on-time — true, and useless for sizing a watermark), so the
    // profile replays arrivals in md5(event_id) order — the standard
    // adversarial-reorder stress a streaming job must survive — and
    // measures each event's lateness against the event-time high-water
    // mark among earlier REPLAY arrivals. The histogram is the empirical
    // basis for a Structured Streaming `withWatermark` delay
    // (streaming/StreamingOps consumes one): the share a 1/5/15-minute
    // watermark would drop under this reorder is read straight off the
    // rows. The running max is q91's two-phase scan — the bucket key is
    // a PREFIX of the replay sort key, so bucket-local maxima plus a
    // #buckets-row prefix replace one global single-partition window;
    // the oracle states the single-window spelling.
    "q184_lateness_profile" -> { (s, dir) =>
      val d = Tables.t(s, dir, "events")
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("h",
          md5(col("event_id").cast("string").cast("binary")))
        .withColumn("bucket", substring(col("h"), 1, 2))
      val wLocal = Window.partitionBy(col("bucket"))
        .orderBy(col("h"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wB = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = d.groupBy(col("bucket")).agg(max(col("us")).as("bmax"))
        .withColumn("off", coalesce(max(col("bmax")).over(wB), lit(-1L)))
        .select(col("bucket"), col("off"))
      val prevMax = greatest(
        coalesce(max(col("us")).over(wLocal), lit(-1L)), col("off"))
      val lateS = when(prevMax > col("us"),
        expr("(prev_max - us) div 1000000")).otherwise(0L)
      val wAll = Window.partitionBy(lit(0))
      d.join(broadcast(offsets), "bucket")
        .withColumn("prev_max", prevMax)
        .withColumn("late_s", lateS)
        .select(col("late_s"),
          when(col("late_s") === 0, 0).when(col("late_s") <= 60, 1)
            .when(col("late_s") <= 300, 2).when(col("late_s") <= 900, 3)
            .otherwise(4).as("ord"))
        .groupBy(col("ord"))
        .agg(count(lit(1)).as("n"), max(col("late_s")).as("max_late_s"))
        .withColumn("share", col("n").cast("double") /
          sum(col("n")).over(wAll).cast("double"))
        .select(col("ord"),
          element_at(array(lit("on_time"), lit("le_1m"), lit("le_5m"),
            lit("le_15m"), lit("gt_15m")), col("ord") + 1).as("bucket"),
          col("n"), col("share"), col("max_late_s"))
        .orderBy("ord")
    },

    // q176's rolling actives re-expressed the way a 100 TB deployment
    // actually runs it: ONE HLL sketch per day (Datasketches
    // `hll_sketch_agg` — a few KB regardless of user count), then any
    // window is a SKETCH UNION instead of a re-aggregation of raw
    // events. The exact spelling re-touches every event for every
    // window it falls in (×7 fan-out); the sketch path fans out
    // day-sized sketches only — this mergeability is why engines
    // precompute daily sketches at all. ORACLE-CHECKED via the exact
    // twin (r9): the output carries q176's exact counts next to a
    // per-day |est − exact|/exact ≤ 10% verdict on BOTH estimates; the
    // oracle computes the exact side and states the verdicts TRUE, so a
    // sketch that drifts out of bound turns the driver row red — the
    // accuracy contract is now driver-verified, not just
    // ApproxBoundsSpec-verified. (The estimates themselves stay out of
    // the hashed columns: their exact doubles are engine-specific.)
    "q192_hll_rolling" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("d"), col("user_id"))
      val daily = ev.groupBy(col("d"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val obs = ev.select(col("d")).distinct()
      val skFan = daily
        .select(col("d"), col("sk"), explode(expr("sequence(0L, 6L)"))
          .as("i"))
        .select((col("d") + col("i")).as("w"), col("sk"))
      val est = skFan.join(obs.withColumnRenamed("d", "w"), Seq("w"))
        .groupBy(col("w").as("day_idx"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("wau7_est"))
        .join(daily.select(col("d").as("day_idx"),
          expr("hll_sketch_estimate(sk)").as("dau_est")), "day_idx")
      val exFan = ev.select(col("user_id"),
          explode(expr("sequence(0L, 6L)")).as("i"), col("d"))
        .select(col("user_id"), (col("d") + col("i")).as("w"),
          (col("i") === 0).as("is_day"))
      val exact = exFan.join(obs.withColumnRenamed("d", "w"), Seq("w"))
        .groupBy(col("w").as("day_idx"), col("user_id"))
        .agg(max(col("is_day")).as("active_today"))
        .groupBy(col("day_idx"))
        .agg(sum(when(col("active_today"), 1L).otherwise(0L)).as("dau"),
          count(lit(1)).as("wau7"))
      exact.join(est, "day_idx")
        .select(col("day_idx"), col("dau"), col("wau7"),
          (abs(col("dau_est") - col("dau").cast("double")) <=
            col("dau").cast("double") * 0.1).as("dau_within_10pct"),
          (abs(col("wau7_est") - col("wau7").cast("double")) <=
            col("wau7").cast("double") * 0.1).as("wau7_within_10pct"))
        .orderBy("day_idx")
    },

    // Kaplan-Meier survival over user lifetimes with right-censoring —
    // the retention curve estimator product analytics runs on churn
    // data. A user's lifetime is last-minus-first event day; a user
    // still active in the final 7 days of the log is CENSORED (their
    // true lifetime is only known to exceed the observed one), which is
    // exactly what the KM product-limit estimator handles and a naive
    // retention ratio gets wrong. One user-keyed aggregation collapses
    // the event log to a lifetime table; everything after operates on
    // the ≤(log-span-in-days) life-table rows, so the single-partition
    // cumulative windows are over a DAY-domain table that stays tiny at
    // any corpus scale. Survival is exp of an ordered cumulative sum of
    // per-day ln factors — both engines sum the identical doubles in
    // the identical (day-ordered) sequence, then one 6-decimal round.
    "q196_survival_km" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val span = ev.groupBy(col("user_id"))
        .agg(min(col("us")).as("f"), max(col("us")).as("l"))
      val m = ev.agg(max(col("us")).as("m_us"))
      val lif = span.crossJoin(broadcast(m))
        .select(expr("(l - f) div 86400000000").as("t"),
          when(col("l") <= col("m_us") - lit(604800000000L), 1L)
            .otherwise(0L).as("event"))
      val table = lif.groupBy(col("t"))
        .agg(count(lit(1)).as("ending"), sum(col("event")).as("d"))
      val wPrev = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.orderBy(col("t")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      table
        .withColumn("n_users", sum(col("ending")).over(wAll))
        .withColumn("n_risk", col("n_users") -
          coalesce(sum(col("ending")).over(wPrev), lit(0L)))
        .withColumn("lnf", log(
          (col("n_risk") - col("d")).cast("double") /
            col("n_risk").cast("double")))
        .withColumn("survival",
          round(exp(sum(col("lnf")).over(wCum)), 6) + lit(0.0))
        .select(col("t").as("day"), col("n_risk"),
          col("d").as("d_churned"),
          (col("ending") - col("d")).as("c_censored"), col("survival"))
        .orderBy("day")
    },

    // Seasonality-adjusted volume anomalies: q105's z-score with the
    // day-of-week baseline a real traffic monitor needs (Mondays are
    // not anomalies of Sundays). Daily counts per event type, then
    // mean/stddev PER (type, weekday) from exact integer sums — the
    // moment table is ≤ 7×|types| rows, broadcast back onto the daily
    // rollup. The weekday comes from the epoch-day index mod 7, not a
    // calendar function, so both engines bucket identically. Everything
    // past the first rollup is calendar-sized at any event volume.
    "q202_dow_seasonal" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", expr("(d + 4) % 7"))
      val m = daily.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).cast("double").as("k"),
          sum(col("n")).as("sx"), sum(col("n") * col("n")).as("sx2"))
        .filter(col("k") >= 2)
        .select(col("event_type"), col("dow"),
          (col("sx").cast("double") / col("k")).as("mean"),
          sqrt(greatest(
            (col("sx2").cast("double") -
              col("sx").cast("double") * col("sx").cast("double") /
                col("k")) / (col("k") - 1),
            lit(0.0))).as("sd"))
        .filter(col("sd") > 0)
      val z = (col("n").cast("double") - col("mean")) / col("sd")
      daily.join(broadcast(m), Seq("event_type", "dow"))
        .select(col("event_type"), col("d").as("day"), col("dow"),
          col("n"),
          (round(z, 6) + lit(0.0)).as("zscore"),
          when(abs(z) > 2.0, 1).otherwise(0).as("is_anomaly"))
        .orderBy("event_type", "day")
    },

    // Forecasting feature assembly — per-user calendar-lag and trailing
    // rolling features over the daily activity rollup, the step between
    // an event log and a demand/engagement model's training matrix.
    // RANGE frames over the integer day index make every feature
    // GAP-ROBUST without a calendar spine: lag_1 is "the count on day
    // d-1" (absent day → 0, never the last observed day), and the
    // trailing 7-day window covers exactly days d-6..d regardless of
    // which of them exist. One user-keyed shuffle for the rollup; the
    // windows ride the same partitioning; counts are exact integers and
    // the value sum is the exact-decimal dsum.
    "q203_lag_features" -> { (s, dir) =>
      def overDays(lo: Long, hi: Long) = Window.partitionBy(col("user_id"))
        .orderBy(col("d")).rangeBetween(lo, hi)
      val daily = Tables.t(s, dir, "events")
        .groupBy(col("user_id"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
      daily
        .select(col("user_id"), col("d").as("day"), col("n"), col("v"),
          coalesce(sum(col("n")).over(overDays(-1, -1)), lit(0L))
            .as("lag1_n"),
          coalesce(sum(col("n")).over(overDays(-7, -7)), lit(0L))
            .as("lag7_n"),
          sum(col("n")).over(overDays(-6, 0)).as("roll7_n"),
          count(lit(1)).over(overDays(-6, 0)).as("roll7_days"),
          max(col("n")).over(overDays(-6, 0)).as("roll7_max"))
        .orderBy("user_id", "day")
    },

    // Activity-bitmap rollup: each user's day-grain activity packed
    // into ONE 64-bit mask — the bitmap-index trick behind fast
    // retention engines (Druid / ClickHouse roaring bitmaps): cohort/
    // retention questions become bit algebra on a longs column instead
    // of a re-scan of day-grain rows. Span safety (a log longer than
    // 64 days would silently wrap Spark's shiftleft, which reduces the
    // shift amount mod 64): the mask is defined as the user's FIRST-64-
    // DAYS fingerprint — bit j = active on (own first day + j), bits
    // for j >= 64 dropped explicitly — so every shift amount is in
    // [0, 64) for any span. Week-over-week retention is computed
    // exactly from the full day SET (a user_id-co-partitioned
    // self-join: some day i with i-7 also active), not from the
    // truncated mask, so it stays exact beyond day 63. The longest
    // consecutive-day streak comes from the gaps-and-islands run
    // numbering (i − row_number is constant within a run) on the same
    // user partitioning.
    "q205_activity_bitmap" -> { (s, dir) =>
      val d0 = Tables.t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .distinct()
      val dmin = d0.agg(min(col("d")).as("d_min"))
      val days = d0.crossJoin(broadcast(dmin))
        .select(col("user_id"), (col("d") - col("d_min")).as("i"))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("i"))
      val streaks = days
        .withColumn("grp", col("i") - row_number().over(wU))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(max(col("len")).as("max_streak"))
      val masks = days
        .withColumn("i_u",
          col("i") - min(col("i")).over(Window.partitionBy(col("user_id"))))
        .groupBy(col("user_id"))
        .agg(bit_or(when(col("i_u") < 64,
            expr("shiftleft(1L, CAST(i_u AS INT))")).otherwise(lit(0L)))
            .as("mask"),
          count(lit(1)).as("n_active_days"),
          min(col("i")).as("first_i"), max(col("i")).as("last_i"))
      val wow = days.as("a")
        .join(days.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.i") === col("b.i") + 7, "left_semi")
        .select(col("a.user_id")).distinct()
        .withColumn("wow", lit(1))
      masks.join(streaks, "user_id")
        .join(wow, Seq("user_id"), "left")
        .select(col("user_id"), col("mask"), col("n_active_days"),
          col("first_i"), col("last_i"), col("max_streak"),
          coalesce(col("wow"), lit(0)).as("wow_retained"))
        .orderBy("user_id")
    },

    // Cohort LTV triangle — cumulative purchase revenue per signup
    // cohort by age week, normalized per cohort user: the
    // lifetime-value readout finance runs beside q109's retention
    // counts (which only count users; this follows the money). Cohort =
    // calendar week of a user's first event (one user-keyed agg);
    // every later step is cohort×age-sized. Revenue cells are
    // exact-decimal sums; the cumulative walk is an ordered window over
    // a cohort's ≤(weeks) cells, summed in the identical order by both
    // engines.
    "q209_cohort_ltv" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"),
          col("event_type"), col("value"))
      val fc = ev.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
        .select(col("user_id"), expr("d0 div 7").as("cohort_w"))
      val sz = fc.groupBy(col("cohort_w"))
        .agg(count(lit(1)).as("cohort_users"))
      val cells = ev.filter(col("event_type") === "purchase")
        .join(fc, "user_id")
        .withColumn("age_w", expr("d div 7") - col("cohort_w"))
        .groupBy(col("cohort_w"), col("age_w"))
        .agg(countDistinct(col("user_id")).as("n_buyers"),
          dsum(col("value")).as("revenue"))
      val wCum = Window.partitionBy(col("cohort_w"))
        .orderBy(col("age_w"))
        .rowsBetween(Window.unboundedPreceding, 0)
      cells.join(broadcast(sz), "cohort_w")
        .withColumn("cum_rev", sum(col("revenue")).over(wCum))
        .select(col("cohort_w"), col("age_w"), col("cohort_users"),
          col("n_buyers"), col("revenue"),
          (round(col("cum_rev"), 4) + lit(0.0)).as("cum_revenue"),
          (round(col("cum_rev") / col("cohort_users").cast("double"), 6)
            + lit(0.0)).as("ltv_per_user"))
        .orderBy("cohort_w", "age_w")
    },

    // Late-data backfill merge: rebuild the hourly rollup after a late
    // batch arrives by recomputing ONLY the affected hours and keeping
    // every untouched state row as-is — the incremental-maintenance
    // pattern a warehouse runs nightly instead of full re-aggregation
    // (etl.IncrementalAgg's idea expressed at the query layer). A
    // deterministic md5 lane marks ~1/16 of events "late"; affected
    // hours come from one distinct over the late slice (calendar-sized,
    // broadcast), the kept state anti-joins it, the recompute
    // semi-joins it — on an hour-partitioned lake both sides prune to
    // the affected partitions and the merge cost is O(late hours), not
    // O(history). The oracle is the plain full rollup: equality PROVES
    // the incremental path reconstructs it exactly.
    "q210_window_backfill" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"),
          expr("date_trunc('hour', ts)").as("h"))
        .withColumn("late",
          substring(md5(col("event_id").cast("string").cast("binary")),
            1, 1) === "f")
      val state = ev.filter(!col("late"))
        .groupBy(col("h"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      val affected = ev.filter(col("late")).select(col("h")).distinct()
      val kept = state.join(broadcast(affected), Seq("h"), "left_anti")
      val recomputed = ev.join(broadcast(affected), Seq("h"))
        .groupBy(col("h"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      kept.unionByName(recomputed)
        .select(col("h").as("hour"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("hour", "event_type")
    },

    // CUPED variance-reduced A/B readout (Deng et al., WSDM'13) — the
    // modern experimentation twin of q178's Welch z: each user's
    // post-period purchase value is adjusted by their PRE-period value
    // (y − θ(x − x̄), θ = cov/var from the pooled pre/post moments),
    // which absorbs stable between-user spending variance and shrinks
    // the detectable-effect floor at no cost in bias (arms share θ and
    // x̄). One user-keyed aggregation with conditional exact-decimal
    // sums builds (x, y); every moment after is a 1-row or 2-row
    // frame. θ and the adjusted means are single-expression double
    // algebra over exact decimal sums — bit-identical cross-engine.
    "q212_cuped" -> { (s, dir) =>
      val split = lit(1705276800000000L) // 2024-01-15 00:00:00 UTC, µs
      val arm = conv(substring(
        md5(col("user_id").cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long") % 2
      val isP = col("event_type") === "purchase"
      val users = Tables.t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(
          dsum(when(isP && col("us") < split, col("value"))
            .otherwise(0.0)).as("x"),
          dsum(when(isP && col("us") >= split, col("value"))
            .otherwise(0.0)).as("y"))
        .select(arm.as("arm"), col("x"), col("y"))
      val pooled = users.agg(
        count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum18(col("x") * col("y")).as("sxy"),
        dsum18(col("x") * col("x")).as("sxx"))
        .select(col("n"),
          ((col("sxy") - col("sx") * col("sy") / col("n").cast("double"))
            / (col("sxx") - col("sx") * col("sx")
              / col("n").cast("double"))).as("theta"),
          (col("sx") / col("n").cast("double")).as("xbar"))
      users.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_arm"),
          dsum(col("x")).as("sx_a"), dsum(col("y")).as("sy_a"))
        .crossJoin(broadcast(pooled))
        .select(col("arm"), col("n_arm"),
          (round(col("sy_a") / col("n_arm").cast("double"), 6)
            + lit(0.0)).as("mean_y"),
          (round(col("sx_a") / col("n_arm").cast("double"), 6)
            + lit(0.0)).as("mean_x"),
          (round(col("theta"), 6) + lit(0.0)).as("theta"),
          (round(col("sy_a") / col("n_arm").cast("double")
            - col("theta") * (col("sx_a") / col("n_arm").cast("double")
              - col("xbar")), 6) + lit(0.0)).as("mean_y_adj"))
        .orderBy("arm")
    },

    // Linear multi-touch attribution — q172's last-touch rule replaced
    // by equal credit across EVERY view/click in the 7 days before a
    // purchase (the other standard attribution model; position-weighted
    // is the same plan with a weight expression). The touch↔conversion
    // pairing is a user-keyed equi-join with a time-range predicate —
    // co-partitioned, fan-out bounded by one user's 7-day activity,
    // never a global range join — and the per-conversion touch count is
    // one window over the pair set. Credit fractions (1/n) sum through
    // the scale-18 exact-decimal carry so channel totals are
    // order-independent.
    "q213_linear_attribution" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"), col("event_id"))
      val convs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("cus"),
          col("event_id").as("conv_id"))
      val touches = ev
        .filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("us").as("tus"),
          col("event_type").as("touch_type"))
      val wC = Window.partitionBy(col("conv_id"))
      convs.join(touches, Seq("user_id"))
        .filter(col("tus") < col("cus") &&
          col("tus") >= col("cus") - lit(604800000000L))
        .withColumn("n_touch", count(lit(1)).over(wC))
        .withColumn("credit", lit(1.0) / col("n_touch").cast("double"))
        .groupBy(col("touch_type"))
        .agg(dsum18(col("credit")).as("credit"),
          count(lit(1)).as("n_touch_events"),
          countDistinct(col("conv_id")).as("n_conversions"))
        .select(col("touch_type"),
          (round(col("credit"), 6) + lit(0.0)).as("credit"),
          col("n_touch_events"), col("n_conversions"))
        .orderBy("touch_type")
    },

    // Session-concurrency profile by sweep line: how many user sessions
    // (q29's 30-minute-gap sessions) are open simultaneously, peak per
    // day — the capacity-planning readout (connection pools, serving
    // fleet sizing) that interval tables hide. Each session emits a +1
    // at its start and a −1 at its end; the running sum over the
    // merged, totally-ordered event stream IS the live concurrency.
    // Scale shape: the running sum uses the q184/q91 two-phase trick —
    // the DAY is a prefix of the (us, delta, …) sort key, so day-local
    // running sums plus a broadcast day-offset table replace the
    // single-partition global window (sessions spanning midnight are
    // exactly what the carried offset handles); the per-day peak is
    // then one aggregation. Ordering is total (us, delta, user_id,
    // session_id) so both engines walk identical prefixes.
    "q218_concurrency_profile" -> { (s, dir) =>
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val sessions = Tables.t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            col("ts") - col("prev_ts") > expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(unix_micros(min(col("ts"))).as("sus"),
          unix_micros(max(col("ts"))).as("eus"))
      val sweep = sessions
        .select(col("user_id"), col("session_id"),
          col("sus").as("us"), lit(1L).as("delta"))
        .unionByName(sessions.select(col("user_id"), col("session_id"),
          col("eus").as("us"), lit(-1L).as("delta")))
        .withColumn("d", expr("us div 86400000000"))
      // two-phase running sum: day-local cumulative + prior-day offsets
      val wLoc = Window.partitionBy(col("d"))
        .orderBy(col("us"), col("delta"), col("user_id"),
          col("session_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wOff = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = sweep.groupBy(col("d"))
        .agg(sum(col("delta")).as("dsum"),
          sum(when(col("delta") === 1L, 1L).otherwise(0L))
            .as("n_started"))
        .withColumn("off", coalesce(sum(col("dsum")).over(wOff), lit(0L)))
        .select(col("d"), col("off"), col("n_started"))
      sweep.join(broadcast(offs), "d")
        .withColumn("conc", col("off") + sum(col("delta")).over(wLoc))
        .groupBy(col("d").as("day"))
        .agg(max(col("conc")).as("max_concurrent"),
          max(col("n_started")).as("n_sessions_started"))
        .orderBy("day")
    },

    // Missing-value imputation — the ML-preprocessing step between a
    // raw metric stream and a training matrix: error events carry no
    // meaningful value, so each is filled with ITS USER's mean of valid
    // observations (per-entity imputation beats a global constant when
    // per-user levels differ), falling back to the global mean for
    // users with no valid history. Means come from [[Fns.davg]] (exact
    // decimal sum ÷ count — bit-equal doubles cross-engine, no rounding
    // needed); the user-mean table is user-keyed (one aggregation, one
    // co-keyed left join), the global fallback a broadcast 1-row cross.
    "q221_mean_impute" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val valid = ev.filter(col("event_type") =!= "error")
      val um = valid.groupBy(col("user_id"))
        .agg(Fns.davg(col("value")).as("user_mean"))
      val g = valid.agg(Fns.davg(col("value")).as("global_mean"))
      ev.join(um, Seq("user_id"), "left")
        .crossJoin(broadcast(g))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"),
          when(col("event_type") === "error",
            coalesce(col("user_mean"), col("global_mean")))
            .otherwise(col("value")).as("value_filled"),
          when(col("event_type") === "error", 1).otherwise(0)
            .as("imputed"))
        .orderBy("event_id")
    },

    // Rolling-origin backtest folds — time-series cross-validation
    // (forecasting's answer to k-fold, which would leak the future into
    // training): four expanding-window folds over the 30-day log, each
    // training on everything before its cutoff day and testing on the
    // next 3 days. Emits the fold design table (per fold × split: row /
    // user counts and the day range) that a backtest harness consumes.
    // The fold spine is a 4-row literal exploded scan-locally and
    // broadcast onto the DAILY rollup — the event table is touched
    // once; fold membership is integer day arithmetic, so the design
    // is identical on any engine and any partitioning.
    "q222_rolling_origin" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("d"))
        .agg(count(lit(1)).as("n"))
      val dmin = daily.agg(min(col("d")).as("d0"))
      val folds = daily.crossJoin(broadcast(dmin))
        .withColumn("rel", col("d") - col("d0"))
        .select(col("rel"), col("n"),
          explode(expr("sequence(1, 4)")).as("fold"))
        .withColumn("cut", col("fold") * 6 + 3)
        .withColumn("split",
          when(col("rel") < col("cut"), "train")
            .when(col("rel") < col("cut") + 3, "test"))
        .filter(col("split").isNotNull)
      folds.groupBy(col("fold"), col("split"))
        .agg(sum(col("n")).as("n_events"),
          min(col("rel")).as("first_day"),
          max(col("rel")).as("last_day"),
          count(lit(1)).as("n_days"))
        .orderBy("fold", "split")
    },

    // Daily new-vs-returning split — the growth-accounting decomposition
    // of daily actives (is today's DAU acquisition or retention?). One
    // user-day distinct, one user-keyed first-day aggregation joined
    // back on the user key, then a day-keyed rollup: a user is NEW on
    // their first active day and RETURNING on every later one; the
    // ratio column is the day's returning share. All exact integers
    // until one final division; both aggregations ride the same user
    // partitioning before the calendar-sized day rollup.
    "q224_new_returning" -> { (s, dir) =>
      val ud = Tables.t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .distinct()
      val first = ud.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      ud.join(first, "user_id")
        .groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("d") === col("d0"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("d") > col("d0"), 1L).otherwise(0L))
            .as("n_returning"))
        .withColumn("returning_share",
          round(col("n_returning").cast("double") /
            col("n_active").cast("double"), 10) + lit(0.0))
        .orderBy("day")
    },

    // Interval-overlap join — the two-sided generalization of q48's
    // point-in-interval range join: user sessions (q29's 30-minute-gap
    // intervals) against system "incident windows" (contiguous runs of
    // busy hours: hours whose event count is ≥ 2× the average hourly
    // rate, an exact-integer rule). Which sessions ran during an
    // incident, and for how long? Naive interval-interval is a
    // cartesian with range predicates; the scale spelling buckets BOTH
    // sides by hour (each session explodes into its covered hours —
    // bounded by session span; each incident into its run of hours) so
    // candidates come from a hash equi-join on the hour key, then
    // dedup per (session, incident) and measure exact-microsecond
    // overlap. At 100 TB the bucket grain is the tuning dial: candidate
    // volume tracks true temporal co-occurrence, never |sessions| ×
    // |incidents|.
    "q227_interval_join" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = ev
        .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
               col("ts") - col("prev_ts") > expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(expr("unix_micros(ts)")).as("s_us"),
          max(expr("unix_micros(ts)")).as("e_us"))
      val hourly = ev
        .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
          .as("h"))
        .agg(count(lit(1)).as("n"))
      val tot = hourly.agg(count(lit(1)).as("n_hours"),
        sum(col("n")).as("total"))
      val busy = hourly.crossJoin(broadcast(tot))
        .filter(col("n") * col("n_hours") >= col("total") * 2)
      val wIsl = Window.orderBy(col("h"))
      val incidents = busy
        .withColumn("grp", col("h") - row_number().over(wIsl))
        .groupBy(col("grp"))
        .agg(min(col("h")).as("ih0"), max(col("h")).as("ih1"))
        .select(col("ih0").as("incident_id"),
          (col("ih0") * 3600000000L).as("is_us"),
          ((col("ih1") + 1) * 3600000000L).as("ie_us"),
          explode(expr("sequence(ih0, ih1)")).as("h"))
      val sHours = sess.select(col("user_id"), col("session_id"),
        col("s_us"), col("e_us"),
        explode(expr("sequence(s_us div 3600000000, e_us div 3600000000)"))
          .as("h"))
      val pairs = sHours.join(incidents, "h")
        .groupBy(col("user_id"), col("session_id"), col("incident_id"),
          col("s_us"), col("e_us"), col("is_us"), col("ie_us"))
        .agg(count(lit(1)).as("shared_hours"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_incidents"),
          sum(greatest(lit(0L),
            least(col("e_us"), col("ie_us")) -
              greatest(col("s_us"), col("is_us")))).as("overlap_us"))
      sess.join(pairs, Seq("user_id", "session_id"), "left")
        .select(col("user_id"), col("session_id"), col("s_us"),
          col("e_us"),
          coalesce(col("n_incidents"), lit(0L)).as("n_incidents"),
          coalesce(col("overlap_us"), lit(0L)).as("overlap_us"))
        .orderBy("user_id", "session_id")
    },

    // Additive seasonal decomposition (STL-lite): daily volume splits
    // into trend (centered 7-day moving average), day-of-week seasonal
    // (mean detrended value per weekday slot), and residual — the
    // decomposition behind q202's anomaly flags, exposed as a table so
    // forecasting/monitoring reads each component directly. Scale
    // shape: the ONLY corpus-sized stage is the first day rollup;
    // every window after runs on the day-domain frame (≤ log-span
    // rows). Trend divisions are single IEEE ops on exact longs; the
    // seasonal mean sums detrended doubles through the scale-18 carry
    // so weekday groups aggregate order-independently.
    "q234_seasonal_decomposition" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("d"))
        .agg(count(lit(1)).as("n"))
      val wMa = Window.orderBy(col("d")).rangeBetween(-3, 3)
      val t = daily
        .withColumn("trend",
          sum(col("n")).over(wMa).cast("double") /
            count(lit(1)).over(wMa).cast("double"))
        .withColumn("det", col("n").cast("double") - col("trend"))
      val seas = t.groupBy((col("d") % 7).as("dow"))
        .agg((dsum18(col("det")) /
          count(lit(1)).cast("double")).as("seasonal"))
      t.join(broadcast(seas), col("d") % 7 === col("dow"))
        .select(col("d").as("day"), col("n"),
          (round(col("trend"), 6) + lit(0.0)).as("trend"),
          (round(col("seasonal"), 6) + lit(0.0)).as("seasonal"),
          (round(col("det") - col("seasonal"), 6) + lit(0.0))
            .as("residual"))
        .orderBy("day")
    },

    // Autocorrelation function of daily volume at lags 1..7 — is the
    // series weekly-periodic (high ACF at 7), trending (slow decay), or
    // noise (flat)? The one-table readout that decides whether q202's
    // weekday model or q234's decomposition is even warranted. Scale
    // shape: day rollup once, then a lag-spine × day-domain self-join —
    // both sides ≤ log-span rows, every sum an exact integer product;
    // Pearson r per lag is one double expression over the moment row.
    "q235_autocorrelation" -> { (s, dir) =>
      val daily = Tables.t(s, dir, "events")
        .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("d"))
        .agg(count(lit(1)).as("n"))
        .transform(graft.Checkpoints.ckpt)
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val pairs = daily.select(col("d"), col("n").as("x"))
        .crossJoin(broadcast(lags))
        .join(daily.select((col("d")).as("d2"), col("n").as("y")),
          col("d") === col("d2") + col("lag"))
      val m = pairs.groupBy(col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val nD = col("n_pairs").cast("double")
      val num = nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val vx = nD * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val vy = nD * col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double")
      m.select(col("lag"), col("n_pairs"),
          when(vx > 0 && vy > 0,
            round(num / sqrt(vx * vy), 6) + lit(0.0)).as("acf"))
        .orderBy("lag")
    },

    // Audience-overlap matrix — exact Jaccard between the USER SETS of
    // every event-type pair (do viewers buy? do error-hitters click?):
    // the segment-overlap readout growth teams pull before targeting,
    // and the same shape as comparing any two behavioral cohorts. Scale
    // shape: one distinct collapses the log to (type, user) pairs; the
    // pair counts come from a user-co-keyed self-join of that collapsed
    // frame (each user contributes deg² ≤ |types|² rows — bounded by
    // the FIXED type vocabulary, never corpus-quadratic); set sizes
    // join on from a |types|-row aggregate, and Jaccard is one IEEE
    // division of exact longs via inclusion-exclusion.
    "q243_audience_overlap" -> { (s, dir) =>
      val tu = Tables.t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sz = tu.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      val both = tu.select(col("event_type").as("type_a"), col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      both
        .join(broadcast(sz.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), "type_a")
        .join(broadcast(sz.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), "type_b")
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          (round(col("n_both").cast("double") /
            (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
            + lit(0.0)).as("jaccard"))
        .orderBy("type_a", "type_b")
    },

    // Activity-gap census — q205's complement: instead of presence
    // streaks, the ABSENCE runs (how many gaps, how long, how much
    // calendar time missed per user) — the churn-risk / re-engagement
    // readout. One user-keyed window pass over the user-day distinct:
    // gap = day minus previous active day minus 1 where positive; the
    // per-user rollup rides the same partitioning. User cardinality is
    // high, so the window parallelizes; all values exact integers.
    "q237_gap_census" -> { (s, dir) =>
      val ud = Tables.t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("d"))
        .distinct()
      val wU = Window.partitionBy(col("user_id")).orderBy(col("d"))
      ud.withColumn("gap", col("d") - lag(col("d"), 1).over(wU) - 1)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_active_days"),
          (max(col("d")) - min(col("d")) + 1).as("span_days"),
          sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
          coalesce(max(when(col("gap") > 0, col("gap"))), lit(0L))
            .as("longest_gap"),
          coalesce(sum(when(col("gap") > 0, col("gap"))), lit(0L))
            .as("days_missed"))
        .orderBy("user_id")
    },

    // Time-weighted average (TWAP) per event type — the irregular-
    // sampling mean: each observation holds until the next one, so its
    // weight is its holding interval, not 1. The plain AVG over-counts
    // burst periods (many short-lived samples) exactly where monitoring
    // data is densest; q251's EWMA decays by age, q157 decays by recency
    // — TWAP is the third, integral-weighted, member of the family.
    // Scale shape: event_type is a LOW-cardinality key, so a per-type
    // lead() window would single-thread each type's whole stream — the
    // q91/q184/q218 two-phase spelling applies instead: in-day intervals
    // come from a (type, day)-keyed window (high cardinality,
    // parallelizes), and the day-BOUNDARY interval (last observation of
    // a day holding until the next observed day's first) closes on the
    // tiny types×days rollup. Union of the two = exactly the consecutive
    // pairs of the type's global (ts, event_id) order. Determinism:
    // intervals are exact microsecond longs, v·Δt is one IEEE product
    // per row riding the scale-18 carry, tie order pinned by the unique
    // (ts, event_id).
    "q260_twap" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("t"), col("value"))
        .withColumn("d", expr("t div 86400000000"))
      val wD = Window.partitionBy(col("event_type"), col("d"))
        .orderBy(col("t"), col("event_id"))
      val inDay = ev
        .withColumn("dt_us", lead(col("t"), 1).over(wD) - col("t"))
        .filter(col("dt_us").isNotNull)
        .select(col("event_type"), col("value"), col("dt_us"))
      // types×days rollup: each day's first instant and its last
      // observation (struct-max over the unique (t, event_id) order)
      val days = ev.groupBy(col("event_type"), col("d"))
        .agg(min(col("t")).as("first_t"),
          max(struct(col("t"), col("event_id"), col("value"))).as("last"))
      val wT = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val boundary = days // types×days rows — the window input is tiny
        .withColumn("next_first_t", lead(col("first_t"), 1).over(wT))
        .filter(col("next_first_t").isNotNull)
        .select(col("event_type"), col("last.value").as("value"),
          (col("next_first_t") - col("last.t")).as("dt_us"))
      inDay.unionByName(boundary)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt_us")).as("span_us"),
          // q230/q235 convention: a stream whose observations are all
          // simultaneous spans zero time — NULL, never 0/0
          (round(when(sum(col("dt_us")) > 0,
            graft.Fns.dsum18(col("value") * col("dt_us").cast("double")) /
              sum(col("dt_us")).cast("double")), 6)
            + lit(0.0)).as("twap"))
        .orderBy("event_type")
    },

    // Sketch-based audience overlap — q243's SCALABLE twin: instead of
    // the exact user-co-keyed self-join, each type's user set collapses
    // to ONE Datasketches HLL (hll_sketch_agg — mergeable, map-side
    // combinable, fixed 2^12-register size at any cardinality), pair
    // unions come from hll_union over the |types|-row sketch table, and
    // Jaccard falls out of inclusion-exclusion on the estimates. At
    // 100 TB the exact twin's distinct is the expensive stage; the
    // sketch path never materializes (type, user) at all. Declared on
    // the q44/q192 contract pattern: the engine-specific estimates stay
    // OUT of the hashed columns — the output carries the exact counts
    // plus verdicts that the sketch union landed within 5% and the
    // estimated Jaccard within 0.05 absolute, which the oracle asserts
    // TRUE (an estimator leaving its envelope turns the driver row red).
    "q262_sketch_overlap" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("event_type"), col("user_id"))
      val tu = ev.distinct()
      val sz = tu.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      val both = tu.select(col("event_type").as("type_a"), col("user_id"))
        .join(tu.select(col("event_type").as("type_b"), col("user_id")),
          "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      val sk = ev.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
      val pairs = both
        .join(broadcast(sz.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), "type_a")
        .join(broadcast(sz.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), "type_b")
        .join(broadcast(sk.select(col("event_type").as("type_a"),
          col("sk").as("sk_a"), col("est").as("est_a"))), "type_a")
        .join(broadcast(sk.select(col("event_type").as("type_b"),
          col("sk").as("sk_b"), col("est").as("est_b"))), "type_b")
        .withColumn("est_union",
          hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
      val exactUnion = (col("n_a") + col("n_b") - col("n_both"))
        .cast("double")
      val exactJ = col("n_both").cast("double") / exactUnion
      val estJ = (col("est_a") + col("est_b") - col("est_union")) /
        col("est_union")
      pairs.select(col("type_a"), col("type_b"),
          col("n_a"), col("n_b"), col("n_both"),
          (round(exactJ, 6) + lit(0.0)).as("jaccard"),
          (abs(col("est_union") - exactUnion) <= exactUnion * 0.05)
            .as("union_within_5pct"),
          (abs(estJ - exactJ) <= lit(0.05)).as("jaccard_within_005"))
        .orderBy("type_a", "type_b")
    },

    // Behavioral pattern matching (CEP-lite, the MATCH_RECOGNIZE /
    // Flink-CEP primitive): each user-day's event stream collapses to
    // an ORDERED code string (first letter of the type — unique across
    // this vocabulary: c,e,p,s,v), and sequence patterns become plain
    // regexes over it — "viewed then clicked then bought" is v.*c.*p,
    // "hit an error and never bought after" is e ∧ ¬e.*p, "bought
    // first thing" is ^p. q108's funnel counts ONE fixed 3-step shape
    // with time bounds; this is the general ordered-pattern engine.
    // Scale shape: the collect is (user, day)-keyed and bounded by a
    // user-day's event count (the q110 argument); the regex pass is
    // scan-local over session-sized strings; the rollup is day-keyed.
    // Determinism: the struct sort orders by the unique (ts, event_id),
    // identical to the oracle's STRING_AGG ORDER BY; patterns are
    // RE2-safe.
    "q264_session_patterns" -> { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          substring(col("event_type"), 1, 1).as("code"))
        .withColumn("d",
          expr("unix_micros(date_trunc('day', ts)) div 86400000000"))
      ev.groupBy(col("user_id"), col("d"))
        .agg(array_join(expr("transform(array_sort(" +
          "collect_list(struct(ts, event_id, code))), x -> x.code)"), "")
          .as("p"))
        .groupBy(col("d").as("day_idx"))
        .agg(count(lit(1)).as("n_user_days"),
          sum(when(col("p").rlike("v.*c.*p"), 1L).otherwise(0L))
            .as("n_browse_buy"),
          sum(when(col("p").rlike("e") && !col("p").rlike("e.*p"), 1L)
            .otherwise(0L)).as("n_error_no_buy"),
          sum(when(col("p").rlike("^p"), 1L).otherwise(0L))
            .as("n_instant_buy"))
        .orderBy("day_idx")
    })

  override def oracles: Map[String, String] = Map(
    "q114_markov_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT *, SUM(n) OVER (PARTITION BY from_type) AS n_from FROM c)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
        |FROM t ORDER BY from_type, to_type""".stripMargin,

    "q110_session_paths" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked),
        |paths AS (
        |  SELECT user_id, session_id,
        |    STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM sessions GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM paths
        |GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

    "q111_value_histogram" ->
      s"""SELECT event_type,
         |  CAST(FLOOR(value / 0.25) AS BIGINT) AS bin,
         |  COUNT(*) AS n,
         |  ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,

    "q108_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |       (SELECT COUNT(*) FROM c) AS n_view_click,
        |       (SELECT COUNT(*) FROM p) AS n_view_click_purchase""".stripMargin,

    "q109_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS wk
        |  FROM events WHERE event_type = 'purchase' AND value > 0.9),
        |cohort AS (
        |  SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1)
        |SELECT cohort_wk, wk, COUNT(*) AS n_users
        |FROM ev JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q105_value_anomalies" ->
      s"""WITH m AS (
         |  SELECT event_type,
         |    CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${dsumSql("value")} AS sx,
         |    ${dsumSql("value * value")} AS sx2
         |  FROM events GROUP BY event_type),
         |t AS (
         |  SELECT event_type, (sx / n) AS mean,
         |    SQRT((sx2 - sx * sx / n) / (n - 1)) AS sd
         |  FROM m)
         |SELECT event_id, event_type, value,
         |  ROUND((value - mean) / sd, 4) AS zscore
         |FROM events JOIN t USING (event_type)
         |WHERE ABS((value - mean) / sd) > 3.0
         |ORDER BY event_id""".stripMargin,

    "q124_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, ROUND(QUANTILE_CONT(value, 0.5), 4) AS med
        |  FROM events GROUP BY event_type),
        |mad AS (
        |  SELECT e.event_type, m.med,
        |    ROUND(QUANTILE_CONT(ABS(e.value - m.med), 0.5), 4) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type, m.med)
        |SELECT e.event_type, COUNT(*) AS n,
        |  MAX(t.med) AS med, MAX(t.mad) AS mad,
        |  CAST(COALESCE(SUM(CASE WHEN ABS(e.value - t.med)
        |                         > 3.0 * 1.4826 * t.mad THEN 1 END), 0)
        |    AS BIGINT) AS n_outliers
        |FROM events e JOIN mad t USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin,

    "q79_gap_fill" ->
      s"""WITH ev AS (
         |  SELECT CAST(ts AS DATE) AS d, event_type, value FROM events),
         |span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ev),
         |spine AS (
         |  SELECT CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY))
         |    AS DATE) AS d
         |  FROM span),
         |types AS (SELECT DISTINCT event_type FROM ev),
         |daily AS (
         |  SELECT d, event_type, COUNT(*) AS n_events,
         |    ${dsumSql("value")} AS sum_value
         |  FROM ev GROUP BY d, event_type)
         |SELECT s.d, t.event_type,
         |  COALESCE(daily.n_events, 0) AS n_events,
         |  COALESCE(daily.sum_value, 0.0) AS sum_value
         |FROM spine s CROSS JOIN types t
         |LEFT JOIN daily ON daily.d = s.d AND daily.event_type = t.event_type
         |ORDER BY s.d, t.event_type""".stripMargin,

    // same epoch-mod-7 weekday, the ratio inside ln as a product of
    // exact BIGINTs, the same double shapes
    "q280_mutual_information" ->
      s"""WITH ev AS (
         |  SELECT event_type AS t,
         |    (CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS w
         |  FROM events),
         |ctw AS (
         |  SELECT t, w, COUNT(*) AS c_tw FROM ev GROUP BY 1, 2),
         |ct AS (SELECT t, CAST(SUM(c_tw) AS BIGINT) AS c_t
         |       FROM ctw GROUP BY 1),
         |cw AS (SELECT w, CAST(SUM(c_tw) AS BIGINT) AS c_w
         |       FROM ctw GROUP BY 1),
         |nn AS (SELECT CAST(SUM(c_tw) AS BIGINT) AS n FROM ctw),
         |mi AS (
         |  SELECT n, ${Fns.dsum18Sql(
               "(CAST(c_tw AS DOUBLE) / CAST(n AS DOUBLE)) * " +
               "LN(CAST(c_tw * n AS DOUBLE) / CAST(c_t * c_w AS DOUBLE))")}
         |    AS mi_nats
         |  FROM ctw JOIN ct USING (t) JOIN cw USING (w) CROSS JOIN nn
         |  GROUP BY n),
         |ht AS (
         |  SELECT ${Fns.dsum18Sql(
               "-(CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE)) * " +
               "LN(CAST(c_t AS DOUBLE) / CAST(n AS DOUBLE))")} AS h_type
         |  FROM ct CROSS JOIN nn),
         |hw AS (
         |  SELECT ${Fns.dsum18Sql(
               "-(CAST(c_w AS DOUBLE) / CAST(n AS DOUBLE)) * " +
               "LN(CAST(c_w AS DOUBLE) / CAST(n AS DOUBLE))")} AS h_dow
         |  FROM cw CROSS JOIN nn)
         |SELECT n AS n_events,
         |  ROUND(mi_nats, 6) + 0.0 AS mi_nats,
         |  ROUND(h_type, 6) + 0.0 AS h_type,
         |  ROUND(h_dow, 6) + 0.0 AS h_dow,
         |  ROUND(mi_nats / h_type, 6) + 0.0 AS uncertainty_coeff
         |FROM mi CROSS JOIN ht CROSS JOIN hw""".stripMargin,

    // the same simulated-outage predicate, IGNORE-NULLS running
    // windows, and the identical one-expression interpolation shape
    "q279_linear_interpolation" ->
      s"""WITH ev AS (
         |  SELECT CAST(ts AS DATE) AS d, event_type, value FROM events),
         |span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ev),
         |spine AS (
         |  SELECT CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY))
         |    AS DATE) AS d
         |  FROM span),
         |types AS (SELECT DISTINCT event_type FROM ev),
         |daily AS (
         |  SELECT d, event_type, ${Fns.davgSql("value")} AS v
         |  FROM ev GROUP BY d, event_type
         |  HAVING (d - DATE '1970-01-01') % 3 <> 1),
         |grid AS (
         |  SELECT s.d, t.event_type, daily.v,
         |    CAST(s.d - DATE '1970-01-01' AS BIGINT) AS dd
         |  FROM spine s CROSS JOIN types t
         |  LEFT JOIN daily
         |    ON daily.d = s.d AND daily.event_type = t.event_type),
         |w AS (
         |  SELECT d, event_type, v, dd,
         |    LAST_VALUE(v IGNORE NULLS) OVER wp AS vp,
         |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN dd END IGNORE NULLS)
         |      OVER wp AS ddp,
         |    FIRST_VALUE(v IGNORE NULLS) OVER wn AS vn,
         |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN dd END IGNORE NULLS)
         |      OVER wn AS ddn
         |  FROM grid
         |  WINDOW wp AS (PARTITION BY event_type ORDER BY dd
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |  wn AS (PARTITION BY event_type ORDER BY dd
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT d, event_type,
         |  CASE WHEN v IS NOT NULL THEN 'observed'
         |       WHEN vp IS NOT NULL AND vn IS NOT NULL THEN 'interpolated'
         |       ELSE 'edge' END AS kind,
         |  ROUND(CASE WHEN v IS NOT NULL THEN v
         |    ELSE vp + (vn - vp) * (CAST(dd - ddp AS DOUBLE)
         |      / CAST(ddn - ddp AS DOUBLE)) END, 6) + 0.0 AS value_filled
         |FROM w ORDER BY event_type, d""".stripMargin,

    "q28_events_hourly" ->
      s"""SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
         |  COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value,
         |  ${Fns.davgSql("value")} AS avg_value
         |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q61_sliding_window" ->
      s"""WITH w AS (
         |  SELECT TIMESTAMP '1970-01-01 00:00:00'
         |      + (CAST(FLOOR(EPOCH(ts) / 1800) AS BIGINT) - off)
         |        * INTERVAL 30 MINUTE AS win_start,
         |    event_type, value
         |  FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS off) offs)
         |SELECT win_start, event_type,
         |  COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value
         |FROM w GROUP BY win_start, event_type
         |ORDER BY win_start, event_type""".stripMargin,

    "q29_sessionize" ->
      s"""WITH marked AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sessions AS (
         |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS session_id
         |  FROM marked)
         |SELECT user_id, session_id,
         |  COUNT(*) AS n_events,
         |  MIN(ts) AS session_start,
         |  MAX(ts) AS session_end,
         |  ${dsumSql("value")} AS session_value
         |FROM sessions GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "q55_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q54_salted_agg" ->
      s"""SELECT event_type,
         |  ${dsumSql("value")} AS sum_value,
         |  COUNT(*) AS n_rows
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q30_dedup_first" ->
      """WITH ranked AS (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id, ts, value
        |FROM ranked WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q143_psi_drift" ->
      s"""WITH ev AS (
         |  SELECT event_type, value, EPOCH_US(ts) AS us FROM events),
         |mm AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM ev),
         |b AS (
         |  SELECT event_type,
         |    CAST(FLOOR(value / 0.25) AS BIGINT) AS bin,
         |    us >= lo + (hi - lo) // 2 AS cur
         |  FROM ev CROSS JOIN mm),
         |c AS (
         |  SELECT event_type, bin,
         |    SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS n_base,
         |    SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS n_cur
         |  FROM b GROUP BY 1, 2),
         |w AS (
         |  SELECT event_type, n_base, n_cur,
         |    SUM(n_base) OVER (PARTITION BY event_type) AS tot_base,
         |    SUM(n_cur) OVER (PARTITION BY event_type) AS tot_cur,
         |    COUNT(*) OVER (PARTITION BY event_type) AS k
         |  FROM c),
         |sm AS (
         |  SELECT event_type,
         |    (CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + k AS DOUBLE)
         |       - CAST(n_base + 1 AS DOUBLE) / CAST(tot_base + k AS DOUBLE))
         |      * LN((CAST(n_cur + 1 AS DOUBLE) / CAST(tot_cur + k AS DOUBLE))
         |          / (CAST(n_base + 1 AS DOUBLE) / CAST(tot_base + k AS DOUBLE)))
         |      AS summand
         |  FROM w)
         |SELECT event_type, COUNT(*) AS n_bins,
         |  ${graft.Fns.dsum18Sql("summand")} AS psi
         |FROM sm GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q151_event_throttle" ->
      """WITH l AS (
        |  SELECT event_type, ts,
        |    LAG(ts) OVER (PARTITION BY user_id, event_type
        |                  ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN prev_ts IS NULL
        |         OR ts - prev_ts >= INTERVAL 5 SECOND
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN prev_ts IS NULL
        |         OR ts - prev_ts >= INTERVAL 5 SECOND
        |       THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS keep_ratio
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q155_interarrival_stats" ->
      """WITH l AS (
        |  SELECT event_type,
        |    EPOCH_US(ts) AS us,
        |    LAG(EPOCH_US(ts)) OVER (PARTITION BY user_id, event_type
        |                            ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    CAST(us - prev_us AS DOUBLE) / 1000000.0 AS gap_s
        |  FROM l WHERE prev_us IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  ROUND(QUANTILE_CONT(gap_s, 0.5), 4) AS median_gap_s,
        |  ROUND(QUANTILE_CONT(gap_s, 0.95), 4) AS p95_gap_s
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q157_decayed_value" ->
      s"""WITH e AS (
         |  SELECT event_type, value, EPOCH_US(ts) AS us FROM events),
         |mx AS (SELECT MAX(us) AS asof_us FROM e),
         |w AS (
         |  SELECT event_type, value,
         |    POWER(0.5, FLOOR((CAST(asof_us - us AS DOUBLE) / 86400000000.0)
         |      / 7.0)) AS w
         |  FROM e CROSS JOIN mx),
         |g AS (
         |  SELECT event_type, COUNT(*) AS n_events,
         |    ${graft.Fns.dsum18Sql("w")} AS weight_mass,
         |    ${graft.Fns.dsum18Sql("w * value")} AS decayed_sum
         |  FROM w GROUP BY 1)
         |SELECT event_type, n_events,
         |  ROUND(weight_mass, 6) + 0.0 AS weight_mass,
         |  ROUND(decayed_sum / weight_mass, 4) + 0.0 AS decayed_mean
         |FROM g ORDER BY event_type""".stripMargin,

    "q160_conversion_latency" ->
      """WITH v AS (
        |  SELECT user_id, MIN(EPOCH_US(ts)) AS view_us FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(EPOCH_US(e.ts)) AS purchase_us,
        |    MIN(v.view_us) AS view_us2
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND EPOCH_US(e.ts) >= v.view_us
        |  GROUP BY 1),
        |l AS (
        |  SELECT CAST(purchase_us - view_us2 AS DOUBLE) / 3600000000.0
        |    AS latency_h
        |  FROM p)
        |SELECT COUNT(*) AS n_converted,
        |  ROUND(QUANTILE_CONT(latency_h, 0.5), 4) AS median_hours,
        |  ROUND(QUANTILE_CONT(latency_h, 0.9), 4) AS p90_hours
        |FROM l""".stripMargin,

    "q162_burst_detection" ->
      """WITH b AS (
        |  SELECT event_type, DATE_TRUNC('minute', ts) AS minute,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, COUNT(*) AS nb,
        |    CAST(SUM(n) AS BIGINT) AS s, CAST(SUM(n * n) AS BIGINT) AS s2
        |  FROM b GROUP BY 1),
        |j AS (
        |  SELECT b.event_type, b.minute, b.n,
        |    ROW_NUMBER() OVER (PARTITION BY b.event_type
        |                       ORDER BY b.n DESC, b.minute ASC) AS rk,
        |    CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE) AS mean,
        |    SQRT(CAST(st.s2 AS DOUBLE) / CAST(st.nb AS DOUBLE)
        |      - (CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE))
        |        * (CAST(st.s AS DOUBLE) / CAST(st.nb AS DOUBLE))) AS std
        |  FROM b JOIN st USING (event_type))
        |SELECT event_type, minute, n,
        |  CASE WHEN std > 0.0
        |       THEN ROUND((CAST(n AS DOUBLE) - mean) / std, 4)
        |       ELSE 0.0 END + 0.0 AS z,
        |  CAST(n AS DOUBLE) > mean + 3.0 * std AS is_burst
        |FROM j
        |WHERE rk <= 5
        |ORDER BY event_type, minute""".stripMargin,

    "q172_last_touch" ->
      """WITH m AS (
        |  SELECT event_id, user_id, ts, event_type, value,
        |    LAST_VALUE(CASE WHEN event_type IN ('view', 'click') THEN
        |        {'us': EPOCH_US(ts), 'id': event_id, 'tp': event_type}
        |      END IGNORE NULLS) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tch
        |  FROM events),
        |p AS (
        |  SELECT *, tch.us IS NOT NULL
        |      AND EPOCH_US(ts) - tch.us <= 604800000000 AS ok
        |  FROM m WHERE event_type = 'purchase')
        |SELECT event_id AS purchase_id, user_id,
        |  EPOCH_US(ts) AS purchase_us, value,
        |  CASE WHEN ok THEN tch.id END AS touch_id,
        |  CASE WHEN ok THEN tch.tp END AS touch_type,
        |  CASE WHEN ok THEN (EPOCH_US(ts) - tch.us) // 1000000 END AS gap_s
        |FROM p ORDER BY purchase_id""".stripMargin,

    "q174_trend_slope" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS x,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, COUNT(*) AS np,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(n) AS BIGINT) AS sy,
        |    CAST(SUM(x * n) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, np AS n_days, sy AS total,
        |  CAST(np * sxy - sx * sy AS DOUBLE)
        |    / CAST(np * sxx - sx * sx AS DOUBLE) AS slope_per_day
        |FROM m ORDER BY event_type""".stripMargin,

    // exact-long concordance counting restated directly; the lone
    // double op is the final sqrt-divide
    "q300_kendall_tau" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |byday AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb, a.d,
        |    a.n AS na, b.n AS nb
        |  FROM daily a JOIN daily b
        |    ON a.d = b.d AND a.event_type < b.event_type),
        |p AS (
        |  SELECT x.ta, x.tb,
        |    x.na AS na1, x.nb AS nb1, y.na AS na2, y.nb AS nb2
        |  FROM byday x JOIN byday y
        |    ON x.ta = y.ta AND x.tb = y.tb AND x.d < y.d),
        |m AS (
        |  SELECT ta, tb, COUNT(*) AS n0,
        |    CAST(SUM(CASE WHEN (na2 > na1) = (nb2 > nb1)
        |      AND na2 <> na1 AND nb2 <> nb1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS concordant,
        |    CAST(SUM(CASE WHEN (na2 > na1) <> (nb2 > nb1)
        |      AND na2 <> na1 AND nb2 <> nb1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS discordant,
        |    CAST(SUM(CASE WHEN na2 = na1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ties_x,
        |    CAST(SUM(CASE WHEN nb2 = nb1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ties_y
        |  FROM p GROUP BY 1, 2)
        |SELECT ta AS type_a, tb AS type_b, n0 AS n_pairs,
        |  concordant, discordant, ties_x, ties_y,
        |  CASE WHEN n0 > ties_x AND n0 > ties_y THEN
        |    ROUND(CAST(concordant - discordant AS DOUBLE)
        |      / SQRT(CAST(n0 - ties_x AS DOUBLE)
        |           * CAST(n0 - ties_y AS DOUBLE)), 6) + 0.0
        |  END AS tau_b
        |FROM m ORDER BY type_a, type_b""".stripMargin,

    // the same pick-not-sum spelling: pairwise exact-long divisions,
    // lower-median rank picks for slope and residual
    "q298_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS x,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(b.n - a.n AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS m
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.x < b.x),
        |rs AS (
        |  SELECT event_type, m,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM p),
        |med AS (
        |  SELECT event_type, m AS slope, cnt AS n_pairs
        |  FROM rs WHERE rn = (cnt + 1) // 2),
        |res AS (
        |  SELECT d.event_type, med.slope, med.n_pairs,
        |    CAST(d.n AS DOUBLE) - med.slope * CAST(d.x AS DOUBLE) AS r
        |  FROM daily d JOIN med ON med.event_type = d.event_type),
        |rr AS (
        |  SELECT event_type, slope, n_pairs, r,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM res)
        |SELECT event_type, n_pairs,
        |  ROUND(slope, 10) + 0.0 AS ts_slope,
        |  ROUND(r, 6) + 0.0 AS ts_intercept
        |FROM rr WHERE rn = (nd + 1) // 2
        |ORDER BY event_type""".stripMargin,

    // the associative EWMA rewrite spelled identically: scan-local
    // dyadic weights, exact-decimal cumulative window sums, one IEEE
    // division
    "q251_ewma" ->
      s"""WITH daily AS (
         |  SELECT event_type,
         |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
         |    COUNT(*) AS n, ${dsumSql("value")} AS v
         |  FROM events GROUP BY 1, 2),
         |mx AS (SELECT MAX(d) AS dmax FROM daily),
         |w AS (
         |  SELECT event_type, d, n, v,
         |    POWER(0.5, CAST(dmax - d AS DOUBLE)) AS w
         |  FROM daily CROSS JOIN mx)
         |SELECT event_type, d AS day_idx, n,
         |  ROUND(v, 4) + 0.0 AS day_value,
         |  ROUND(
         |    CAST(SUM(CAST(w * v AS DECIMAL(38,18))) OVER win AS DOUBLE)
         |    / CAST(SUM(CAST(w AS DECIMAL(38,18))) OVER win AS DOUBLE),
         |    6) + 0.0 AS ewma
         |FROM w
         |WINDOW win AS (PARTITION BY event_type ORDER BY d
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY event_type, day_idx""".stripMargin,

    // the same init and update expressions, stated as a recursive CTE
    // over the per-type day rank — identical IEEE sequences per step
    "q291_holt_trend" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type,
         |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
         |    CAST(${dsumSql("value")} AS DOUBLE) AS v
         |  FROM events GROUP BY 1, 2),
         |r AS (
         |  SELECT event_type, d, v,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t
         |  FROM daily),
         |holt AS (
         |  SELECT r2.event_type, r2.d, CAST(2 AS BIGINT) AS t,
         |    0.5 * r2.v + 0.5 * (r1.v + (r2.v - r1.v)) AS l,
         |    0.5 * ((0.5 * r2.v + 0.5 * (r1.v + (r2.v - r1.v))) - r1.v)
         |      + 0.5 * (r2.v - r1.v) AS b
         |  FROM r r1 JOIN r r2 ON r1.event_type = r2.event_type
         |    AND r1.t = 1 AND r2.t = 2
         |  UNION ALL
         |  SELECT h.event_type, nx.d, h.t + 1,
         |    0.5 * nx.v + 0.5 * (h.l + h.b),
         |    0.5 * ((0.5 * nx.v + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
         |  FROM holt h JOIN r nx ON nx.event_type = h.event_type
         |    AND nx.t = h.t + 1)
         |SELECT event_type, d AS day_idx,
         |  ROUND(l, 6) + 0.0 AS level,
         |  ROUND(b, 6) + 0.0 AS trend,
         |  ROUND(l + b, 6) + 0.0 AS forecast
         |FROM holt ORDER BY event_type, day_idx""".stripMargin,

    // the q291 recursion recipe with the 7-seasonal sliding LIST carried
    // as a recursive-CTE column; every formula is term-for-term the
    // engine's fold, so the doubles match bit-for-bit before the ROUND
    "q297_holt_winters" -> {
      val lN = "(0.5 * (nx.v - h.ss[1]) + 0.5 * (h.l + h.b))"
      val bN = s"(0.5 * ($lN - h.l) + 0.5 * h.b)"
      val sN = s"(0.5 * (nx.v - $lN) + 0.5 * h.ss[1])"
      val fN = s"($lN + $bN + h.ss[2])"
      s"""WITH RECURSIVE daily AS (
         |  SELECT event_type,
         |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
         |    CAST(${dsumSql("value")} AS DOUBLE) AS v
         |  FROM events GROUP BY 1, 2),
         |r AS (
         |  SELECT event_type, d, v,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t
         |  FROM daily),
         |xs AS (
         |  SELECT event_type, LIST(v ORDER BY t) AS xs
         |  FROM r GROUP BY 1 HAVING COUNT(*) >= 15),
         |init AS (
         |  SELECT event_type,
         |    (xs[1] + xs[2] + xs[3] + xs[4] + xs[5] + xs[6] + xs[7])
         |      / 7.0 AS m1,
         |    (xs[8] + xs[9] + xs[10] + xs[11] + xs[12] + xs[13] + xs[14])
         |      / 7.0 AS l0,
         |    ((xs[8] + xs[9] + xs[10] + xs[11] + xs[12] + xs[13] + xs[14])
         |       / 7.0
         |     - (xs[1] + xs[2] + xs[3] + xs[4] + xs[5] + xs[6] + xs[7])
         |       / 7.0) / 7.0 AS b0,
         |    LIST_TRANSFORM(xs[8:14],
         |      x -> x - (xs[8] + xs[9] + xs[10] + xs[11] + xs[12]
         |                + xs[13] + xs[14]) / 7.0) AS ss0
         |  FROM xs),
         |hw AS (
         |  SELECT i.event_type, CAST(14 AS BIGINT) AS t,
         |    CAST(NULL AS BIGINT) AS d, i.l0 AS l, i.b0 AS b,
         |    i.ss0 AS ss, CAST(NULL AS DOUBLE) AS s,
         |    CAST(NULL AS DOUBLE) AS f
         |  FROM init i
         |  UNION ALL
         |  SELECT h.event_type, h.t + 1, nx.d,
         |    $lN, $bN,
         |    h.ss[2:7] || [$sN],
         |    $sN, $fN
         |  FROM hw h JOIN r nx ON nx.event_type = h.event_type
         |    AND nx.t = h.t + 1)
         |SELECT event_type, d AS day_idx,
         |  ROUND(l, 6) + 0.0 AS level,
         |  ROUND(b, 6) + 0.0 AS trend,
         |  ROUND(s, 6) + 0.0 AS seasonal,
         |  ROUND(f, 6) + 0.0 AS forecast
         |FROM hw WHERE s IS NOT NULL
         |ORDER BY event_type, day_idx""".stripMargin
    },

    "q175_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS x,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, x,
        |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY x)
        |      AS BIGINT) AS p,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS t,
        |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS total,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM daily),
        |k AS (
        |  SELECT event_type, x, nd,
        |    CAST(p AS DOUBLE) - CAST(t AS DOUBLE)
        |      * (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE)) AS cusum,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ABS(CAST(p AS DOUBLE) - CAST(t AS DOUBLE)
        |        * (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE))) DESC,
        |        t ASC) AS rk
        |  FROM c)
        |SELECT event_type, nd AS n_days, x AS cp_day,
        |  cusum AS cusum_at_cp
        |FROM k WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "q176_rolling_active" ->
      """WITH ev AS (
        |  SELECT EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    user_id
        |  FROM events),
        |fan AS (
        |  SELECT user_id, d + i AS w, i = 0 AS is_day
        |  FROM ev, UNNEST(GENERATE_SERIES(0, 6)) AS g(i)),
        |obs AS (SELECT DISTINCT d FROM ev),
        |pu AS (
        |  SELECT f.w AS day_idx, f.user_id,
        |    MAX(f.is_day) AS active_today
        |  FROM fan f JOIN obs ON obs.d = f.w
        |  GROUP BY 1, 2)
        |SELECT day_idx,
        |  CAST(SUM(CASE WHEN active_today THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dau,
        |  COUNT(*) AS wau7
        |FROM pu GROUP BY 1 ORDER BY day_idx""".stripMargin,

    // the exact twin states the sketch's accuracy CONTRACT: exact counts
    // (q176's spelling) + verdicts asserted TRUE — a >10% HLL drift on
    // any day hash-fails the row
    "q192_hll_rolling" ->
      """WITH ev AS (
        |  SELECT EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    user_id
        |  FROM events),
        |fan AS (
        |  SELECT user_id, d + i AS w, i = 0 AS is_day
        |  FROM ev, UNNEST(GENERATE_SERIES(0, 6)) AS g(i)),
        |obs AS (SELECT DISTINCT d FROM ev),
        |pu AS (
        |  SELECT f.w AS day_idx, f.user_id,
        |    MAX(f.is_day) AS active_today
        |  FROM fan f JOIN obs ON obs.d = f.w
        |  GROUP BY 1, 2)
        |SELECT day_idx,
        |  CAST(SUM(CASE WHEN active_today THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dau,
        |  COUNT(*) AS wau7,
        |  TRUE AS dau_within_10pct,
        |  TRUE AS wau7_within_10pct
        |FROM pu GROUP BY 1 ORDER BY day_idx""".stripMargin,

    "q178_holdout_ztest" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT CAST(('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)),
        |      1, 4)) AS BIGINT) % 2 AS arm, x
        |  FROM u),
        |g AS (
        |  SELECT arm, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s,
        |    CAST(SUM(x * x) AS BIGINT) AS q
        |  FROM a GROUP BY 1),
        |w AS (
        |  SELECT
        |    MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        |    MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        |    MAX(CASE WHEN arm = 0 THEN s END) AS s0,
        |    MAX(CASE WHEN arm = 1 THEN s END) AS s1,
        |    MAX(CASE WHEN arm = 0 THEN q END) AS q0,
        |    MAX(CASE WHEN arm = 1 THEN q END) AS q1
        |  FROM g)
        |SELECT n0, n1,
        |  CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean0,
        |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean1,
        |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS lift,
        |  (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |  / SQRT(
        |    ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
        |        / CAST(n0 AS DOUBLE)) / CAST(n0 - 1 AS DOUBLE))
        |      / CAST(n0 AS DOUBLE)
        |    + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |        / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE))
        |      / CAST(n1 AS DOUBLE)) AS z
        |FROM w""".stripMargin,

    // q114's transition matrix MATERIALIZED once, ten power-iteration
    // rounds unrolled (the q107/q170 oracle recipe)
    "q179_markov_stationary" -> {
      val rounds = (0 until 10).map { i =>
        s"""r${i + 1} AS (
           |  SELECT t.to_type AS state,
           |    ${graft.Fns.dsum18Sql("t.p * r.pi")} AS pi
           |  FROM t JOIN r$i r ON r.state = t.from_type
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH p0 AS (
         |  SELECT user_id, event_type AS from_type,
         |    LEAD(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS to_type
         |  FROM events),
         |c AS (
         |  SELECT from_type, to_type, COUNT(*) AS n FROM p0
         |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |t AS MATERIALIZED (
         |  SELECT from_type, to_type,
         |    CAST(n AS DOUBLE)
         |      / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
         |      AS p
         |  FROM c),
         |s AS (SELECT DISTINCT from_type AS state FROM t),
         |ns AS (SELECT COUNT(*) AS c FROM s),
         |r0 AS (
         |  SELECT state, 1.0 / CAST(c AS DOUBLE) AS pi
         |  FROM s CROSS JOIN ns),
         |$rounds
         |SELECT state AS event_type, ROUND(pi, 10) AS pi
         |FROM r10 ORDER BY state"""
        .stripMargin
    },

    // the oracle states the single-window running max the two-phase
    // scan must equal
    "q184_lateness_profile" ->
      """WITH d AS (
        |  SELECT event_id, EPOCH_US(ts) AS us,
        |    MD5(CAST(event_id AS VARCHAR)) AS h
        |  FROM events),
        |m AS (
        |  SELECT event_id, us,
        |    COALESCE(MAX(us) OVER (ORDER BY h, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      AS prev_max
        |  FROM d),
        |l AS (
        |  SELECT CASE WHEN prev_max > us
        |              THEN (prev_max - us) // 1000000 ELSE 0 END AS late_s
        |  FROM m),
        |b AS (
        |  SELECT late_s,
        |    CASE WHEN late_s = 0 THEN 0 WHEN late_s <= 60 THEN 1
        |         WHEN late_s <= 300 THEN 2 WHEN late_s <= 900 THEN 3
        |         ELSE 4 END AS ord
        |  FROM l),
        |g AS (
        |  SELECT ord, COUNT(*) AS n,
        |    CAST(MAX(late_s) AS BIGINT) AS max_late_s
        |  FROM b GROUP BY 1)
        |SELECT ord,
        |  (['on_time', 'le_1m', 'le_5m', 'le_15m', 'gt_15m'])[ord + 1]
        |    AS bucket,
        |  n, CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
        |  max_late_s
        |FROM g ORDER BY ord""".stripMargin,

    "q196_survival_km" ->
      """WITH ev AS (
        |  SELECT user_id, EPOCH_US(ts) AS us FROM events),
        |span AS (
        |  SELECT user_id, MIN(us) AS f, MAX(us) AS l
        |  FROM ev GROUP BY 1),
        |m AS (SELECT MAX(us) AS m_us FROM ev),
        |lif AS (
        |  SELECT (l - f) // 86400000000 AS t,
        |    CASE WHEN l <= m_us - 604800000000 THEN 1 ELSE 0 END AS event
        |  FROM span CROSS JOIN m),
        |tab AS (
        |  SELECT t, COUNT(*) AS ending, CAST(SUM(event) AS BIGINT) AS d
        |  FROM lif GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_users FROM lif),
        |risk AS (
        |  SELECT t, ending, d,
        |    n_users - COALESCE(SUM(ending) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM tab CROSS JOIN tot),
        |f AS (
        |  SELECT *,
        |    LN(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      AS lnf
        |  FROM risk)
        |SELECT t AS day, CAST(n_risk AS BIGINT) AS n_risk,
        |  d AS d_churned, CAST(ending - d AS BIGINT) AS c_censored,
        |  ROUND(EXP(SUM(lnf) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) + 0.0
        |    AS survival
        |FROM f ORDER BY day""".stripMargin,

    "q202_dow_seasonal" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dd AS (SELECT *, (d + 4) % 7 AS dow FROM daily),
        |m AS (
        |  SELECT event_type, dow,
        |    CAST(COUNT(*) AS DOUBLE) AS k,
        |    CAST(SUM(n) AS BIGINT) AS sx,
        |    CAST(SUM(n * n) AS BIGINT) AS sx2
        |  FROM dd GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |s AS (
        |  SELECT event_type, dow,
        |    CAST(sx AS DOUBLE) / k AS mean,
        |    SQRT(GREATEST((CAST(sx2 AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / k) / (k - 1),
        |      0.0)) AS sd
        |  FROM m)
        |SELECT dd.event_type, dd.d AS day, dd.dow, dd.n,
        |  ROUND((CAST(dd.n AS DOUBLE) - s.mean) / s.sd, 6) + 0.0
        |    AS zscore,
        |  CASE WHEN ABS((CAST(dd.n AS DOUBLE) - s.mean) / s.sd) > 2.0
        |       THEN 1 ELSE 0 END AS is_anomaly
        |FROM dd JOIN s
        |  ON dd.event_type = s.event_type AND dd.dow = s.dow
        |WHERE s.sd > 0
        |ORDER BY dd.event_type, day""".stripMargin,

    "q203_lag_features" -> (
      """WITH daily AS (
        |  SELECT user_id,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    COUNT(*) AS n,
        |    """.stripMargin + dsumSql("value") + """ AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, d AS day, n, v,
        |  COALESCE(CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY d
        |    RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |    AS lag1_n,
        |  COALESCE(CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY d
        |    RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS BIGINT), 0)
        |    AS lag7_n,
        |  CAST(SUM(n) OVER w7 AS BIGINT) AS roll7_n,
        |  COUNT(*) OVER w7 AS roll7_days,
        |  MAX(n) OVER w7 AS roll7_max
        |FROM daily
        |WINDOW w7 AS (PARTITION BY user_id ORDER BY d
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin),

    "q205_activity_bitmap" ->
      """WITH d0 AS (
        |  SELECT DISTINCT user_id,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d
        |  FROM events),
        |m AS (SELECT MIN(d) AS d_min FROM d0),
        |days AS (SELECT user_id, d - d_min AS i FROM d0 CROSS JOIN m),
        |du AS (
        |  SELECT user_id, i,
        |    i - MIN(i) OVER (PARTITION BY user_id) AS i_u
        |  FROM days),
        |runs AS (
        |  SELECT user_id,
        |    i - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY i)
        |      AS grp
        |  FROM days),
        |st AS (
        |  SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak FROM (
        |    SELECT user_id, grp, COUNT(*) AS len FROM runs GROUP BY 1, 2)
        |  GROUP BY 1),
        |mk AS (
        |  SELECT user_id,
        |    CAST(BIT_OR(CASE WHEN i_u < 64
        |      THEN 1::BIGINT << CAST(i_u AS INTEGER)
        |      ELSE 0::BIGINT END) AS BIGINT) AS mask,
        |    COUNT(*) AS n_active_days,
        |    MIN(i) AS first_i, MAX(i) AS last_i
        |  FROM du GROUP BY 1),
        |w7 AS (
        |  SELECT DISTINCT a.user_id FROM days a
        |  JOIN days b ON a.user_id = b.user_id AND a.i = b.i + 7)
        |SELECT mk.user_id, mask, n_active_days, first_i, last_i,
        |  max_streak,
        |  CASE WHEN w7.user_id IS NOT NULL THEN 1 ELSE 0 END
        |    AS wow_retained
        |FROM mk JOIN st ON mk.user_id = st.user_id
        |LEFT JOIN w7 ON mk.user_id = w7.user_id
        |ORDER BY mk.user_id""".stripMargin,

    "q209_cohort_ltv" -> (
      """WITH ev AS (
        |  SELECT user_id,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    event_type, value
        |  FROM events),
        |f AS (SELECT user_id, MIN(d) AS d0 FROM ev GROUP BY 1),
        |fc AS (SELECT user_id, d0 // 7 AS cohort_w FROM f),
        |sz AS (
        |  SELECT cohort_w, COUNT(*) AS cohort_users FROM fc GROUP BY 1),
        |cells AS (
        |  SELECT fc.cohort_w, ev.d // 7 - fc.cohort_w AS age_w,
        |    COUNT(DISTINCT ev.user_id) AS n_buyers,
        |    """.stripMargin + dsumSql("value") + """ AS revenue
        |  FROM ev JOIN fc ON ev.user_id = fc.user_id
        |  WHERE ev.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT cells.*, sz.cohort_users,
        |    SUM(revenue) OVER (PARTITION BY cells.cohort_w ORDER BY age_w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_rev
        |  FROM cells JOIN sz ON cells.cohort_w = sz.cohort_w)
        |SELECT cohort_w, age_w, cohort_users, n_buyers, revenue,
        |  ROUND(cum_rev, 4) + 0.0 AS cum_revenue,
        |  ROUND(cum_rev / CAST(cohort_users AS DOUBLE), 6) + 0.0
        |    AS ltv_per_user
        |FROM w ORDER BY cohort_w, age_w""".stripMargin),

    // the plain full rollup — matching it proves the incremental
    // backfill merge is exact
    "q210_window_backfill" -> (
      """SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  """.stripMargin + dsumSql("value") + """ AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),

    "q212_cuped" -> (
      """WITH u AS (
        |  SELECT user_id,
        |    """.stripMargin +
        dsumSql("CASE WHEN event_type = 'purchase' AND " +
          "EPOCH_US(ts) < 1705276800000000 THEN value ELSE 0.0 END") +
        """ AS x,
        |    """.stripMargin +
        dsumSql("CASE WHEN event_type = 'purchase' AND " +
          "EPOCH_US(ts) >= 1705276800000000 THEN value ELSE 0.0 END") +
        """ AS y
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT CAST(('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)),
        |      1, 4)) AS BIGINT) % 2 AS arm, x, y
        |  FROM u),
        |p AS (
        |  SELECT COUNT(*) AS n,
        |    """.stripMargin + dsumSql("x") + """ AS sx,
        |    """.stripMargin + dsumSql("y") + """ AS sy,
        |    """.stripMargin + dsum18Sql("x * y") + """ AS sxy,
        |    """.stripMargin + dsum18Sql("x * x") + """ AS sxx
        |  FROM a),
        |t AS (
        |  SELECT n,
        |    (sxy - sx * sy / CAST(n AS DOUBLE))
        |      / (sxx - sx * sx / CAST(n AS DOUBLE)) AS theta,
        |    sx / CAST(n AS DOUBLE) AS xbar
        |  FROM p),
        |g AS (
        |  SELECT arm, COUNT(*) AS n_arm,
        |    """.stripMargin + dsumSql("x") + """ AS sx_a,
        |    """.stripMargin + dsumSql("y") + """ AS sy_a
        |  FROM a GROUP BY 1)
        |SELECT arm, n_arm,
        |  ROUND(sy_a / CAST(n_arm AS DOUBLE), 6) + 0.0 AS mean_y,
        |  ROUND(sx_a / CAST(n_arm AS DOUBLE), 6) + 0.0 AS mean_x,
        |  ROUND(theta, 6) + 0.0 AS theta,
        |  ROUND(sy_a / CAST(n_arm AS DOUBLE)
        |    - theta * (sx_a / CAST(n_arm AS DOUBLE) - xbar), 6) + 0.0
        |    AS mean_y_adj
        |FROM g CROSS JOIN t
        |ORDER BY arm""".stripMargin),

    "q213_linear_attribution" -> (
      """WITH ev AS (
        |  SELECT user_id, EPOCH_US(ts) AS us, event_type, event_id
        |  FROM events),
        |c AS (
        |  SELECT user_id, us AS cus, event_id AS conv_id FROM ev
        |  WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, us AS tus, event_type AS touch_type FROM ev
        |  WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.conv_id, t.touch_type
        |  FROM c JOIN t ON c.user_id = t.user_id
        |  WHERE t.tus < c.cus AND t.tus >= c.cus - 604800000000),
        |w AS (
        |  SELECT touch_type,
        |    1.0 / CAST(COUNT(*) OVER (PARTITION BY conv_id) AS DOUBLE)
        |      AS credit,
        |    conv_id
        |  FROM j)
        |SELECT touch_type,
        |  ROUND(""".stripMargin + dsum18Sql("credit") + """, 6) + 0.0
        |    AS credit,
        |  COUNT(*) AS n_touch_events,
        |  CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions
        |FROM w GROUP BY touch_type
        |ORDER BY touch_type""".stripMargin),

    // the single-window spelling — the engine's two-phase day-offset
    // running sum must reproduce it exactly
    "q218_concurrency_profile" ->
      """WITH m AS (
        |  SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
        |      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |se AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id
        |  FROM m),
        |sess AS (
        |  SELECT user_id, session_id,
        |    EPOCH_US(MIN(ts)) AS sus, EPOCH_US(MAX(ts)) AS eus
        |  FROM se GROUP BY 1, 2),
        |sweep AS (
        |  SELECT user_id, session_id, sus AS us, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT user_id, session_id, eus, -1 FROM sess),
        |r AS (
        |  SELECT us // 86400000000 AS d, delta,
        |    SUM(delta) OVER (ORDER BY us, delta, user_id, session_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM sweep)
        |SELECT d AS day, CAST(MAX(conc) AS BIGINT) AS max_concurrent,
        |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sessions_started
        |FROM r GROUP BY 1 ORDER BY day""".stripMargin,

    "q221_mean_impute" -> (
      """WITH v AS (
        |  SELECT * FROM events WHERE event_type <> 'error'),
        |um AS (
        |  SELECT user_id, """.stripMargin +
        graft.Fns.davgSql("value") + """ AS user_mean
        |  FROM v GROUP BY user_id),
        |g AS (
        |  SELECT """.stripMargin + graft.Fns.davgSql("value") +
        """ AS global_mean FROM v)
        |SELECT e.event_id, e.user_id, e.event_type, e.value,
        |  CASE WHEN e.event_type = 'error'
        |       THEN COALESCE(um.user_mean, g.global_mean)
        |       ELSE e.value END AS value_filled,
        |  CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END AS imputed
        |FROM events e
        |LEFT JOIN um ON e.user_id = um.user_id
        |CROSS JOIN g
        |ORDER BY event_id""".stripMargin),

    "q222_rolling_origin" ->
      """WITH daily AS (
        |  SELECT EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |m AS (SELECT MIN(d) AS d0 FROM daily),
        |f AS (
        |  SELECT daily.d - m.d0 AS rel, daily.n, g.fold,
        |    g.fold * 6 + 3 AS cut
        |  FROM daily CROSS JOIN m,
        |    UNNEST(GENERATE_SERIES(1, 4)) AS g(fold)),
        |sp AS (
        |  SELECT rel, n, CAST(fold AS INTEGER) AS fold,
        |    CASE WHEN rel < cut THEN 'train'
        |         WHEN rel < cut + 3 THEN 'test' END AS split
        |  FROM f)
        |SELECT fold, split, CAST(SUM(n) AS BIGINT) AS n_events,
        |  MIN(rel) AS first_day, MAX(rel) AS last_day,
        |  COUNT(*) AS n_days
        |FROM sp WHERE split IS NOT NULL
        |GROUP BY 1, 2 ORDER BY fold, split""".stripMargin,

    "q224_new_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d
        |  FROM events),
        |f AS (SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY 1),
        |g AS (
        |  SELECT ud.d AS day, COUNT(*) AS n_active,
        |    CAST(SUM(CASE WHEN ud.d = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(SUM(CASE WHEN ud.d > f.d0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_returning
        |  FROM ud JOIN f ON ud.user_id = f.user_id
        |  GROUP BY 1)
        |SELECT day, n_active, n_new, n_returning,
        |  ROUND(CAST(n_returning AS DOUBLE) / CAST(n_active AS DOUBLE),
        |    10) + 0.0 AS returning_share
        |FROM g ORDER BY day""".stripMargin,

    "q227_interval_join" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id,
        |    EPOCH_US(ts) AS us
        |  FROM marked),
        |sb AS (
        |  SELECT user_id, session_id, MIN(us) AS s_us, MAX(us) AS e_us
        |  FROM sess GROUP BY 1, 2),
        |hourly AS (
        |  SELECT EPOCH_US(DATE_TRUNC('hour', ts)) // 3600000000 AS h,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_hours, SUM(n) AS total FROM hourly),
        |busy AS (
        |  SELECT h FROM hourly CROSS JOIN tot
        |  WHERE n * n_hours >= total * 2),
        |isl AS (
        |  SELECT h, h - ROW_NUMBER() OVER (ORDER BY h) AS grp FROM busy),
        |inc AS (
        |  SELECT MIN(h) AS incident_id,
        |    MIN(h) * 3600000000 AS is_us,
        |    (MAX(h) + 1) * 3600000000 AS ie_us,
        |    MIN(h) AS h0, MAX(h) AS h1
        |  FROM isl GROUP BY grp),
        |ih AS (
        |  SELECT incident_id, is_us, ie_us, UNNEST(
        |    GENERATE_SERIES(h0, h1)) AS h
        |  FROM inc),
        |sh AS (
        |  SELECT user_id, session_id, s_us, e_us, UNNEST(
        |    GENERATE_SERIES(s_us // 3600000000, e_us // 3600000000)) AS h
        |  FROM sb),
        |pr AS (
        |  SELECT DISTINCT user_id, session_id, incident_id,
        |    s_us, e_us, is_us, ie_us
        |  FROM sh JOIN ih USING (h)),
        |ag AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_incidents,
        |    CAST(SUM(GREATEST(0, LEAST(e_us, ie_us)
        |      - GREATEST(s_us, is_us))) AS BIGINT) AS overlap_us
        |  FROM pr GROUP BY 1, 2)
        |SELECT sb.user_id, sb.session_id, sb.s_us, sb.e_us,
        |  COALESCE(ag.n_incidents, 0) AS n_incidents,
        |  COALESCE(ag.overlap_us, 0) AS overlap_us
        |FROM sb LEFT JOIN ag
        |  ON ag.user_id = sb.user_id AND ag.session_id = sb.session_id
        |ORDER BY sb.user_id, sb.session_id""".stripMargin,

    "q234_seasonal_decomposition" -> (
      """WITH daily AS (
        |  SELECT EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT d, n,
        |    CAST(SUM(n) OVER w AS DOUBLE)
        |      / CAST(COUNT(*) OVER w AS DOUBLE) AS trend
        |  FROM daily
        |  WINDOW w AS (ORDER BY d RANGE BETWEEN 3 PRECEDING
        |    AND 3 FOLLOWING)),
        |dt AS (SELECT d, n, trend, CAST(n AS DOUBLE) - trend AS det
        |  FROM t),
        |se AS (
        |  SELECT d % 7 AS dow,
        |    """.stripMargin + dsum18Sql("det") +
        """ / CAST(COUNT(*) AS DOUBLE) AS seasonal
        |  FROM dt GROUP BY 1)
        |SELECT d AS day, n,
        |  ROUND(trend, 6) + 0.0 AS trend,
        |  ROUND(seasonal, 6) + 0.0 AS seasonal,
        |  ROUND(det - seasonal, 6) + 0.0 AS residual
        |FROM dt JOIN se ON dt.d % 7 = se.dow
        |ORDER BY day""".stripMargin),

    "q235_autocorrelation" ->
      """WITH daily AS (
        |  SELECT EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |lags AS (SELECT UNNEST(GENERATE_SERIES(1, 7)) AS lag),
        |p AS (
        |  SELECT l.lag, a.n AS x, b.n AS y
        |  FROM lags l
        |  JOIN daily a ON TRUE
        |  JOIN daily b ON a.d = b.d + l.lag),
        |m AS (
        |  SELECT lag, COUNT(*) AS n_pairs,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM p GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
        |    ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / SQRT((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
        |  END AS acf
        |FROM m ORDER BY lag""".stripMargin,

    "q243_audience_overlap" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1),
        |b AS (
        |  SELECT a.event_type AS type_a, c.event_type AS type_b,
        |    COUNT(*) AS n_both
        |  FROM tu a JOIN tu c ON a.user_id = c.user_id
        |    AND a.event_type < c.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  ROUND(CAST(n_both AS DOUBLE)
        |    / CAST(sa.n + sb.n - n_both AS DOUBLE), 6) + 0.0 AS jaccard
        |FROM b
        |JOIN sz sa ON sa.event_type = b.type_a
        |JOIN sz sb ON sb.event_type = b.type_b
        |ORDER BY type_a, type_b""".stripMargin,

    "q237_gap_census" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d
        |  FROM events),
        |g AS (
        |  SELECT user_id, d,
        |    d - LAG(d) OVER (PARTITION BY user_id ORDER BY d) - 1 AS gap
        |  FROM ud)
        |SELECT user_id, COUNT(*) AS n_active_days,
        |  MAX(d) - MIN(d) + 1 AS span_days,
        |  CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gaps,
        |  COALESCE(MAX(CASE WHEN gap > 0 THEN gap END), 0)
        |    AS longest_gap,
        |  CAST(COALESCE(SUM(CASE WHEN gap > 0 THEN gap END), 0)
        |    AS BIGINT) AS days_missed
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // same code strings (STRING_AGG over the unique (ts, event_id)
    // order), same RE2 patterns, exact-integer rollup
    "q264_session_patterns" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, ts,
        |    EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS d,
        |    SUBSTRING(event_type, 1, 1) AS code
        |  FROM events),
        |p AS (
        |  SELECT user_id, d,
        |    STRING_AGG(code, '' ORDER BY ts, event_id) AS p
        |  FROM ev GROUP BY 1, 2)
        |SELECT d AS day_idx, COUNT(*) AS n_user_days,
        |  CAST(SUM(CASE WHEN REGEXP_MATCHES(p, 'v.*c.*p')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_browse_buy,
        |  CAST(SUM(CASE WHEN REGEXP_MATCHES(p, 'e')
        |    AND NOT REGEXP_MATCHES(p, 'e.*p')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_error_no_buy,
        |  CAST(SUM(CASE WHEN REGEXP_MATCHES(p, '^p')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_instant_buy
        |FROM p GROUP BY 1 ORDER BY day_idx""".stripMargin,

    // exact counts recomputed; the sketch verdicts asserted TRUE — an
    // HLL leaving its 5%/0.05 envelope hash-fails the row
    "q262_sketch_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1),
        |b AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_both
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  ROUND(CAST(n_both AS DOUBLE) /
        |    CAST(sa.n + sb.n - n_both AS DOUBLE), 6) + 0.0 AS jaccard,
        |  TRUE AS union_within_5pct,
        |  TRUE AS jaccard_within_005
        |FROM b JOIN sz sa ON sa.event_type = b.type_a
        |       JOIN sz sb ON sb.event_type = b.type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // same (ts, event_id) tie order, same exact-µs intervals, same
    // scale-18 carry for the v·Δt mass
    "q260_twap" -> (
      """WITH iv AS (
        |  SELECT event_type, value,
        |    EPOCH_US(LEAD(ts, 1) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id)) - EPOCH_US(ts) AS dt_us
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_intervals,
        |  CAST(SUM(dt_us) AS BIGINT) AS span_us,
        |  ROUND(CASE WHEN SUM(dt_us) > 0 THEN """.stripMargin +
        dsum18Sql("value * CAST(dt_us AS DOUBLE)") +
        """ / CAST(SUM(dt_us) AS DOUBLE) END, 6) + 0.0 AS twap
        |FROM iv WHERE dt_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin))
}
