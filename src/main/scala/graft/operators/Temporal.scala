package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Temporal operators over `events` that Spark has no single built-in for
  * — as-of join, banded range join, gap sessionization — each written in
  * its scalable formulation (SURVEY.md §2.8 extension surface).
  *
  * Precision note: events.ts is µs-aligned in the source data (verified:
  * epoch_ns % 1000 == 0 for every row), so Spark's µs timestamps and
  * DuckDB's ns timestamps order and compare identically; gaps/outputs are
  * surfaced at second granularity per the repo convention.
  */
object Temporal {

  /** a14: max staleness (seconds) for a view to still count as the as-of
    * match of a purchase — the merge_asof(tolerance) bound.
    */
  val AsofToleranceSec = 3600L

  /** a01/a14 core: each purchase with its user's latest view at or before
    * it (`view_ts`), from one running max over (ts, event_id) order.
    */
  private def asofViews(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.filter(col("event_type").isin("view", "purchase"))
      .withColumn("view_ts",
        max(when(col("event_type") === "view", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
  }

  /** a03/a09 core: per-user `session_seq` (and `ts_sec`), a new session
    * after a gap of more than 30 minutes in (ts, event_id) order.
    */
  private def gapSessions(events: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events.withColumn("ts_sec", col("ts").cast("long"))
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(wOrd))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") > 1800L, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("is_new")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** a04 core over any events frame, batch or stream: per-user 30-minute
    * session windows on second-truncated time, with `nTypes` as the
    * distinct event-type count (s08 passes size(collect_set), since
    * countDistinct does not run in streaming).
    */
  private[graft] def sessionWindows(events: DataFrame, nTypes: Column): DataFrame =
    events.withColumn("tss", timestamp_seconds(col("ts").cast("long")))
      .groupBy(session_window(col("tss"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), nTypes.as("n_types"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("n_types"))

  /** a08/a13 core: each user's hourly last reading `hv` — a max_by HASH
    * AGG over (ts, event_id), not a row_number window (round 13): the
    * argmax reduces map-side, one row per (user, hour) leaves each task,
    * where the window form shuffled and sorted EVERY event by (user,
    * hsec, ts); (ts, event_id) is unique per row, so the pick equals the
    * old (ts DESC, event_id DESC) rn = 1 exactly — and the per-user grid
    * of every hour between the first and last observed one. Grid bounds
    * come off the HOURLY table, which carries every distinct (user, hsec)
    * of the events, so the events scan runs once.
    */
  private def hourlyGrid(events: DataFrame): (DataFrame, DataFrame) = {
    val e = events.select(col("user_id"), col("event_id"), col("ts"),
      expr("(cast(ts as long) div 3600) * 3600").as("hsec"), col("value"))
    val hourly = e.groupBy(col("user_id"), col("hsec"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("hv"))
    val grid = hourly.groupBy("user_id").agg(min("hsec").as("h0"), max("hsec").as("h1"))
      .select(col("user_id"), explode(expr("sequence(h0, h1, 3600)")).as("hsec"))
    (hourly, grid)
  }

  /** a12 core over any events frame, batch or stream (s16 runs it as a
    * complete-mode streaming aggregate): hourly OHLC bars per user.
    */
  private[graft] def ohlcBars(events: DataFrame): DataFrame = {
    val ord = struct(col("ts_sec"), col("event_id"))
    events.withColumn("ts_sec", col("ts").cast("long"))
      .withColumn("hsec", expr("(ts_sec div 3600) * 3600"))
      .groupBy("user_id", "hsec")
      .agg(
        min_by(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(timestamp_seconds(col("hsec")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
  }

  /** Funnel core over (user_id, event_type, sec) rows — extracted so the
    * stall paths (stage-1/stage-2 users, click-before-view) can be
    * unit-tested on crafted events: the shipped fixture happens to take
    * every user to stage 3, which would leave the left-join/stage logic
    * unexercised by the oracle gate alone.
    */
  private[operators] def funnel(e: DataFrame): DataFrame = {
    val tA = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("sec").as("t_view"))
    val tB = e.filter(col("event_type") === "click").join(tA, "user_id")
      .filter(col("sec") > col("t_view"))
      .groupBy("user_id").agg(min("sec").as("t_click"))
    val tC = e.filter(col("event_type") === "purchase").join(tB, "user_id")
      .filter(col("sec") > col("t_click"))
      .groupBy("user_id").agg(min("sec").as("t_purchase"))
    tA.join(tB, Seq("user_id"), "left").join(tC, Seq("user_id"), "left")
      .select(col("user_id"),
        date_format(timestamp_seconds(col("t_view")), "yyyy-MM-dd HH:mm:ss").as("first_view"),
        date_format(timestamp_seconds(col("t_click")), "yyyy-MM-dd HH:mm:ss").as("first_click_after"),
        date_format(timestamp_seconds(col("t_purchase")), "yyyy-MM-dd HH:mm:ss").as("first_purchase_after"),
        (lit(1L) + when(col("t_click").isNotNull, 1L).otherwise(0L)
          + when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy("user_id")
  }

  /** a15: conversion windows — a click must land within 1 h of the first
    * view, a purchase within 24 h of that click, or the funnel stalls.
    */
  val ClickWindowSec = 3600L
  val PurchaseWindowSec = 86400L

  /** a15 core over (user_id, event_type, sec) rows — a05's staged
    * conditional mins with per-stage conversion DEADLINES: stage n+1 only
    * counts if it lands within the window after stage n's time. Extracted
    * (like `funnel`) so the expiry paths — a click just past the hour, a
    * purchase at exactly the 24 h bound — are unit-testable on crafted
    * events; the shipped fixture's timing happens to exercise only some
    * boundaries. Same scale shape as a05: three hash aggs + two
    * user-keyed equi-joins, never a per-user sequence scan.
    */
  private[operators] def constrainedFunnel(e: DataFrame): DataFrame = {
    val tA = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("sec").as("t_view"))
    val tB = e.filter(col("event_type") === "click").join(tA, "user_id")
      .filter(col("sec") > col("t_view") &&
        col("sec") <= col("t_view") + ClickWindowSec)
      .groupBy("user_id").agg(min("sec").as("t_click"))
    val tC = e.filter(col("event_type") === "purchase").join(tB, "user_id")
      .filter(col("sec") > col("t_click") &&
        col("sec") <= col("t_click") + PurchaseWindowSec)
      .groupBy("user_id").agg(min("sec").as("t_purchase"))
    tA.join(tB, Seq("user_id"), "left").join(tC, Seq("user_id"), "left")
      .select(col("user_id"),
        date_format(timestamp_seconds(col("t_view")), "yyyy-MM-dd HH:mm:ss").as("first_view"),
        (col("t_click") - col("t_view")).as("click_delay_sec"),
        (col("t_purchase") - col("t_click")).as("purchase_delay_sec"),
        (lit(1L) + when(col("t_click").isNotNull, 1L).otherwise(0L)
          + when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy("user_id")
  }

  /** a16 core over (user_id, ts: timestamp) rows — trailing-7-day
    * distinct users per day. Extracted so window membership (a user-day
    * covers exactly end-days d..d+6), within-window dedup, and the
    * grid clip at the last active day are unit-testable on crafted rows.
    */
  private[operators] def slidingDistinct(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), expr("cast(ts as long) div 86400").as("day"))
      .distinct()
    val span = ud.agg(max("day").as("d1"))
    ud.select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("end_day"))
      .distinct()
      .crossJoin(broadcast(span))
      .filter(col("end_day") <= col("d1"))
      .groupBy("end_day")
      .agg(count(lit(1)).as("n_users_7d"))
      .select(date_format(timestamp_seconds(col("end_day") * 86400L), "yyyy-MM-dd").as("day"),
        col("n_users_7d"))
      .orderBy("day")
  }

  /** a08 core over (user_id, event_id, ts: timestamp, value) rows —
    * extracted so fill semantics (multi-hour gaps carry the LAST reading
    * of the last observed hour; leading hour always observed; per-user
    * grid bounds) are unit-testable on crafted series.
    */
  private[operators] def gapFill(events: DataFrame): DataFrame = {
    val (hourly, grid) = hourlyGrid(events)
    val wFill = Window.partitionBy("user_id").orderBy("hsec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hsec"), "left")
      .withColumn("value_filled", last(col("hv"), ignoreNulls = true).over(wFill))
      .select(col("user_id"),
        date_format(timestamp_seconds(col("hsec")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("value_filled"),
        when(col("hv").isNotNull, 1L).otherwise(0L).as("is_observed"))
      .orderBy("user_id", "hour")
  }

  /** a09 core over (start_sec, end_sec) inclusive intervals — extracted so
    * the sweep-line + two-phase prefix sum is unit-testable on crafted
    * intervals (midnight-crossing carry-in, nested/disjoint overlap,
    * tie-at-max picks the earliest second).
    */
  private[operators] def intervalConcurrency(sess: DataFrame): DataFrame = {
    val deltas = sess.select(col("start_sec").as("sec"), lit(1L).as("d"))
      .unionAll(sess.select((col("end_sec") + 1).as("sec"), lit(-1L).as("d")))
      .groupBy("sec").agg(sum("d").as("d"))
      .withColumn("day", expr("sec div 86400"))
    val wIn = Window.partitionBy("day").orderBy("sec")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partial = deltas.withColumn("run_in_day", sum("d").over(wIn))
    val totals = deltas.groupBy("day").agg(sum("d").as("day_total"))
    // single-partition window — but over the per-day totals, a
    // metadata-sized frame (one row per day regardless of corpus size)
    val wDays = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("carry", coalesce(sum("day_total").over(wDays), lit(0L)))
      .select("day", "carry")
    val conc = partial.join(broadcast(offsets), "day")
      .withColumn("conc", col("carry") + col("run_in_day"))
    val wPick = Window.partitionBy("day").orderBy(col("conc").desc, col("sec").asc)
    conc.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .select(
        date_format(timestamp_seconds(col("day") * 86400), "yyyy-MM-dd").as("day"),
        col("conc").as("max_concurrency"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd HH:mm:ss").as("at_ts"))
      .orderBy("day")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // AS-OF JOIN: for each purchase, the user's most recent view at-or-
    // before it. NOT a join at all in the scalable form: union both sides,
    // one shuffle on user_id, one ordered pass with a running "last view"
    // — O(n log n) per user vs. the naive inequality join's O(n²). This is
    // how an as-of survives 100 TB: no range-condition nested loop, no
    // per-key explosion, state = one value.
    "a01_asof_join" -> ((s, dir) => {
      asofViews(Tables.events(s, dir))
        .select(
          col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_view_ts"),
          (col("ts").cast("long") - col("view_ts").cast("long")).as("staleness_sec"))
        .orderBy("event_id")
    }),

    // AS-OF WITH TOLERANCE — a01's running-max form plus the staleness
    // bound every production as-of carries (pandas merge_asof(tolerance),
    // kdb wj): a purchase matches its most recent view ONLY if that view
    // is within Δt; older context is stale and the row reports no match
    // (the null-preserving semantics — the purchase is still emitted,
    // like a left as-of). Same single shuffle + one ordered pass as a01:
    // the tolerance is a post-pass filter on the already-computed
    // running max, NOT a different algorithm — which is exactly why the
    // bounded variant costs nothing extra at 100 TB.
    "a14_asof_tolerance" -> ((s, dir) => {
      asofViews(Tables.events(s, dir))
        .withColumn("stale_sec", col("ts").cast("long") - col("view_ts").cast("long"))
        .select(
          col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          when(col("stale_sec") <= AsofToleranceSec,
            date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss")).as("asof_view_ts"),
          when(col("stale_sec") <= AsofToleranceSec, col("stale_sec")).as("staleness_sec"),
          (col("view_ts").isNotNull && col("stale_sec") > AsofToleranceSec).as("dropped_stale"))
        .orderBy("event_id")
    }),

    // BANDED RANGE JOIN: purchases within 10 minutes after a view by the
    // same user. The range condition is turned into an equi-join by
    // bucketing time into band-width buckets and joining each view to
    // (bucket, bucket+1) — candidate pairs are O(events per 2 buckets),
    // never O(n²), and the join is a plain shuffled equi-join Catalyst
    // already knows how to plan. The exact range predicate then prunes.
    "a02_range_join" -> ((s, dir) => {
      val bandSec = 600L
      val e = Tables.events(s, dir).withColumn("ts_sec", col("ts").cast("long"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts_sec").as("view_sec"),
          explode(array((col("ts_sec") / bandSec).cast("long"),
            (col("ts_sec") / bandSec).cast("long") + 1)).as("bucket"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_sec").as("purchase_sec"),
          (col("ts_sec") / bandSec).cast("long").as("bucket"))
      views.join(purchases, Seq("user_id", "bucket"))
        .filter(col("purchase_sec") > col("view_sec") &&
                col("purchase_sec") <= col("view_sec") + bandSec)
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          (col("purchase_sec") - col("view_sec")).as("gap_sec"))
        .distinct() // a pair can match in both candidate buckets
        .orderBy("user_id", "view_id", "purchase_id")
    }),

    // TIME-RANGE trailing window — the "per event, stats over the
    // preceding hour" shape (rate limiting, rolling engagement, fraud
    // velocity checks). RANGE frame over epoch seconds, so the frame is
    // defined by TIME distance, not row count (a10's rolling z-score is
    // the row-count cousin); tied timestamps are peers and enter the
    // frame together in both engines. One user-keyed shuffle; frame
    // width is bounded by events-per-user-per-hour, so per-row cost is
    // bounded at any corpus size. Decimal window sums → exact parity.
    "a11_trailing_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_sec"))
        .rangeBetween(-3599L, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("ts_sec", col("ts").cast("long"))
        .select(col("user_id"), col("event_id"), col("ts_sec"),
          count(lit(1)).over(w).as("n_trailing_1h"),
          sum(col("value").cast("decimal(38,6)")).over(w).cast("double").as("sum_trailing_1h"))
        .orderBy("user_id", "event_id")
    }),

    // OHLC DOWNSAMPLING — the time-series resample shape (candlestick
    // bars, metric rollups): per (user, hour), the first/last value by
    // event order plus the min/max. open/close are min_by/max_by over a
    // (ts, event_id) STRUCT key — deterministic under any partitioning
    // (q47's tie-break discipline) and ONE hash agg carrying a constant
    // few values per group: no window sort, no self-join, map-side
    // partial aggregation. The values pass through untouched (no
    // arithmetic), so doubles compare exactly. At 100 TB this is the
    // downsampling pass that turns a raw event stream into a
    // bars/metrics table orders of magnitude smaller.
    "a12_ohlc_bars" -> ((s, dir) =>
      ohlcBars(Tables.events(s, dir)).orderBy("user_id", "hour")),

    // Spark's native session_window operator — same gap semantics as a03
    // but via the built-in merging session assigner (the operator the
    // STREAMING path uses with a watermark; in batch it plans as a single
    // shuffle + sort per key). ts truncated to seconds first so the gap
    // decision arithmetic is engine-portable; session_window starts a new
    // session at gap >= 30 min (prev_ts + gap is an exclusive end), which
    // the oracle mirrors with >=.
    "a04_session_window" -> ((s, dir) =>
      sessionWindows(Tables.events(s, dir), countDistinct(col("event_type")))
        .orderBy("user_id", "session_start")),

    // FUNNEL: view → click → purchase in strict temporal order, per-user
    // first-passage times. Each stage is one conditional min AFTER the
    // previous stage's time — three hash aggs + two equi-joins keyed by
    // user (never a sequence scan per user pair, never a window over the
    // whole event stream). Left joins keep users who stall mid-funnel;
    // `stage` counts how far each got.
    "a05_funnel" -> ((s, dir) => {
      funnel(Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts").cast("long").as("sec")))
    }),

    // COHORT RETENTION: users grouped by first-active week, activity
    // counted per (cohort_week, week) cell — the classic retention
    // triangle. Shuffles only (user, week) pairs; the matrix is
    // weeks² cells regardless of corpus size.
    "a06_retention" -> ((s, dir) => {
      val w = Tables.events(s, dir)
        .select(col("user_id"),
          date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
        .distinct()
      val cohort = w.groupBy("user_id").agg(min("week").as("cohort_week"))
      // `w` is already distinct on (user_id, week) and cohort adds one row
      // per user, so users are unique within every cell — a plain count
      // avoids the distinct-aggregate Expand pass entirely
      w.join(cohort, "user_id")
        .groupBy("cohort_week", "week")
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort_week", "week")
    }),

    // CONSTRAINED FUNNEL — a05 with conversion DEADLINES, the form a
    // product-analytics funnel is actually defined in: a click only
    // converts if it lands within 1 h of the first view, a purchase
    // within 24 h of that click. Same staged-conditional-min plan as a05
    // (three hash aggs + two user-keyed joins — no per-user sequence
    // scan, no whole-stream window), with each stage's filter gaining an
    // upper bound; the delay columns are integer second arithmetic, so
    // the whole funnel sits under the exact gate.
    "a15_constrained_funnel" -> ((s, dir) => {
      constrainedFunnel(Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts").cast("long").as("sec")))
    }),

    // TRAILING-7-DAY DISTINCT USERS per day — the rolling-MAU/WAU shape.
    // COUNT(DISTINCT) OVER a sliding frame doesn't exist in Spark (or in
    // most engines) and the naive form re-scans 7 days of events per day;
    // the scalable identity: a user active on day d is a member of the
    // trailing window of every end-day in [d, d+6], so distinct
    // (user, day) pairs ×7 cover-days → distinct (user, end_day) → count
    // per end_day. Work is |distinct user-days| × 7 — corpus-linear with
    // a constant factor of the window length, never window-quadratic, and
    // the raw event stream collapses to user-days at the first agg. The
    // grid is clipped to days the data actually spans (1-row broadcast).
    "a16_sliding_distinct" -> ((s, dir) =>
      slidingDistinct(Tables.events(s, dir).select(col("user_id"), col("ts")))),

    // TIME-WEIGHTED AVERAGE — the correct mean for irregularly-sampled
    // series (sensor readings, prices, metrics): each value is weighted
    // by how long it was "current" (until the next event), so a value
    // held for an hour counts 60× one held for a minute. One shuffle on
    // user_id; per-user arrays are bounded by per-key event counts, and
    // the weighted sum is an ORDER-PINNED sequential fold over the
    // time-sorted events — float summation order is part of the
    // semantics, so both engines fold left over the identical sequence
    // and the doubles match bit-for-bit (HOFs are interpreted, fine at
    // per-user array sizes).
    "a07_time_weighted_avg" -> ((s, dir) => {
      val arr = Tables.events(s, dir)
        .select(col("user_id"),
          struct(expr("unix_micros(ts)").as("ts_us"), col("event_id"),
            col("value").as("v")).as("e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("e"))).as("evs"),
          count(lit(1)).as("n_events"))
      arr.filter(size(col("evs")) > 1)
        .withColumn("span_us",
          element_at(col("evs"), -1).getField("ts_us") -
            element_at(col("evs"), 1).getField("ts_us"))
        .filter(col("span_us") > 0L)
        .withColumn("wsum", expr(
          """aggregate(
            |  transform(sequence(1, size(evs) - 1), i ->
            |    evs[i-1].v * (cast(evs[i].ts_us - evs[i-1].ts_us as double) / 1000000.0d)),
            |  cast(0.0d as double), (acc, x) -> acc + x)""".stripMargin))
        .select(col("user_id"), col("n_events"),
          (col("span_us").cast("double") / 1000000.0d).as("span_sec"),
          (col("wsum") / (col("span_us").cast("double") / 1000000.0d)).as("twa_value"))
        .orderBy("user_id")
    }),

    // GAP-FILL / RESAMPLE: the missing-data cousin of a07 — project each
    // user's irregular series onto a regular hourly grid and forward-fill
    // the last observed value. Three scalable pieces: (1) an hourly
    // "last reading" reduction (row_number per (user, hour) — one
    // shuffle, state = 1 row); (2) grid generation with sequence() —
    // rows bounded by the user's time span, no driver loop; (3) the fill
    // itself as last(ignoreNulls) over a per-user ordered window. Nothing
    // global: every stage partitions by user_id.
    "a08_gap_fill" -> ((s, dir) =>
      gapFill(Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")))),

    // LINEAR INTERPOLATION resampling — a08's forward-fill upgraded to
    // the estimate a metrics/feature pipeline actually wants between
    // observations: on the same per-user hourly grid, each missing hour
    // gets prev + (next − prev) · elapsed-fraction from its bracketing
    // observations (edges clamp to the nearest one). Two ignore-nulls
    // window passes per direction over the user-partitioned grid — same
    // single user-keyed shuffle as a08. The arithmetic is stated in ONE
    // fixed double-expression order mirrored verbatim in the oracle, so
    // the interpolated values gate hash-exactly.
    "a13_interpolate" -> ((s, dir) => {
      val (hourly, grid) = hourlyGrid(Tables.events(s, dir))
      val wBack = Window.partitionBy("user_id").orderBy("hsec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the bracketing NEXT observation stated as a REVERSED running
      // frame, not [currentRow, unboundedFollowing]: Spark evaluates a
      // following-unbounded frame by re-aggregating the whole remaining
      // partition for EVERY row — O(rows²) per user (measured 26 s at
      // sf0.1) — while a running frame over the descending sort is the
      // incremental O(rows) form of the same answer (1.5 s). Costs one
      // extra in-partition sort, no extra shuffle.
      val wFwdRev = Window.partitionBy("user_id").orderBy(col("hsec").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hsec"), "left")
        .withColumn("next_val", last(col("hv"), ignoreNulls = true).over(wFwdRev))
        .withColumn("next_t",
          last(when(col("hv").isNotNull, col("hsec")), ignoreNulls = true).over(wFwdRev))
        .withColumn("prev_val", last(col("hv"), ignoreNulls = true).over(wBack))
        .withColumn("prev_t",
          last(when(col("hv").isNotNull, col("hsec")), ignoreNulls = true).over(wBack))
        .withColumn("value_interp",
          when(col("hv").isNotNull, col("hv"))
            .when(col("prev_t").isNull, col("next_val"))
            .when(col("next_t").isNull, col("prev_val"))
            .otherwise(col("prev_val") + (col("next_val") - col("prev_val")) *
              ((col("hsec") - col("prev_t")).cast("double") /
                (col("next_t") - col("prev_t")).cast("double"))))
        .select(col("user_id"),
          date_format(timestamp_seconds(col("hsec")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("value_interp"),
          when(col("hv").isNotNull, 1L).otherwise(0L).as("is_observed"))
        .orderBy("user_id", "hour")
    }),

    // INTERVAL CONCURRENCY (sweep line): peak number of simultaneously
    // open sessions per day. The classic formulation is a GLOBAL ordered
    // running sum — a single-partition window that dies at scale — so
    // this is the two-phase prefix sum instead: (1) partial running sums
    // within each day partition; (2) carry-in offsets from the per-day
    // totals, a metadata-sized frame (one row per day regardless of
    // corpus size) whose single-partition window is therefore free, then
    // broadcast back. Same decomposition t11 uses for packing; it is how
    // any global prefix sum survives 100 TB.
    "a09_interval_concurrency" -> ((s, dir) => {
      // +1 when a session opens, -1 the second after it closes (inclusive
      // intervals); same-second deltas pre-summed inside the core so
      // ordering within a timestamp can never matter
      intervalConcurrency(gapSessions(Tables.events(s, dir)).groupBy("user_id", "session_seq")
        .agg(min("ts_sec").as("start_sec"), max("ts_sec").as("end_sec")))
    }),

    // ROLLING Z-SCORE ANOMALY FLAGGING: each reading scored against the
    // mean/stddev of its user's trailing 20-event window — the streaming-
    // monitor primitive (alert when |z| > 3). One shuffle on user_id;
    // frames are ROWS-bounded so state is 20 rows regardless of history.
    // Exactness discipline: windowed Σv and Σv² accumulate as decimals
    // (exact, association-free), variance/z then happen in a FIXED
    // double-expression order — so the flags AND the scores are
    // bit-identical across engines and partitionings. stddev_samp()
    // itself is deliberately avoided: engines disagree on its
    // accumulation algorithm (Welford vs naive), decimals cannot.
    "a10_rolling_zscore" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-19, Window.currentRow)
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("ts"), col("value"),
          // (18,6) not (38,6): the vd*vd product must stay inside both
          // engines' 38-digit decimal ceiling
          col("value").cast("decimal(18,6)").as("vd"))
        .withColumn("n_w", count(lit(1)).over(w))
        .withColumn("sum_w", sum(col("vd")).over(w))
        .withColumn("sumsq_w", sum(col("vd") * col("vd")).over(w))
        .filter(col("n_w") >= 20)
      // var = (Σv² − (Σv)²/n) / (n−1), every operand exact until the one
      // double conversion per term
      val mean = col("sum_w").cast("double") / col("n_w").cast("double")
      val variance = (col("sumsq_w").cast("double") -
        col("sum_w").cast("double") * col("sum_w").cast("double") / col("n_w").cast("double")) /
        (col("n_w").cast("double") - 1.0d)
      e.select(col("user_id"), col("event_id"), col("ts_s").as("ts"), col("value"),
          mean.as("mean_20"),
          sqrt(greatest(variance, lit(0.0d))).as("sd_20"))
        .withColumn("z", (col("value") - col("mean_20")) / col("sd_20"))
        .withColumn("is_anomaly", (abs(col("z")) > 3.0d).cast("boolean"))
        .orderBy("user_id", "event_id")
    }),

    // GAP SESSIONIZATION: 30-minute-inactivity sessions per user — the
    // batch analog of streaming session windows. One shuffle on user_id,
    // two window passes (flag starts, running-sum session ids), one
    // aggregate. Session ids are (user, seq) — globally unique without any
    // driver-side coordination.
    "a03_sessionize" -> ((s, dir) => {
      gapSessions(Tables.events(s, dir)).groupBy("user_id", "session_seq")
        .agg(
          count(lit(1)).as("n_events"),
          date_format(timestamp_seconds(min(col("ts_sec"))), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          (max(col("ts_sec")) - min(col("ts_sec"))).as("duration_sec"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy("user_id", "session_seq")
    }),

    // EVENT-TYPE TRANSITION MATRIX — the Markov-chain view of user
    // journeys (what follows what): per-user consecutive event pairs via
    // one lag window, then a global (from, to) count with an exact
    // per-source probability. Scale shape: ONE user-keyed shuffle for the
    // lag (each key sorts only its own events), then a hash agg on the
    // |types|² transition space — O(types²) rows ever shuffle upward, so
    // the matrix costs a scan regardless of corpus size. Counts are
    // BIGINT; the probability is one IEEE division of exact longs (both
    // engines round-to-nearest-even identically), so the matrix gates.
    "a17_transition_matrix" -> ((s, dir) =>
      transitionMatrix(Tables.events(s, dir)
        .withColumn("ts_sec", col("ts").cast("long"))
        .select(col("user_id"), col("ts_sec"), col("event_id"), col("event_type")))),

    // ACTIVITY PROFILE — the (ISO weekday × hour) seasonality matrix per
    // event type, with peak cells flagged: the load-shaping/anomaly
    // baseline every event pipeline maintains. One hash agg over at most
    // |types|·7·24 output rows (map-side combined — the matrix costs a
    // scan at any corpus size), then a |matrix|-row window for the
    // per-type max. ISO weekday (1 = Monday) because Spark's dayofweek
    // and DuckDB's dayofweek disagree on the Sunday origin — weekday()+1
    // ≡ isodow() is the cross-engine-stable form. All counts BIGINT ⇒
    // exact gate.
    "a18_activity_profile" -> ((s, dir) => {
      val wType = Window.partitionBy("event_type")
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          (weekday(col("ts")) + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("is_peak", col("n") === max(col("n")).over(wType))
        .orderBy("event_type", "dow", "hour")
    }),

    // BURST DETECTION — the rate-anomaly flag an ingestion monitor raises
    // when one hour's event rate blows past the type's own average: an
    // hour bursts iff n · active_hours > 3 · type_total (integer
    // cross-multiplication — "this hour ran at > 3× the type's mean
    // hourly rate over its active hours"; both engines decide
    // identically, no float rate anywhere in the gate). Scale shape:
    // one (type, hour)-keyed count agg (map-side combined) collapses any
    // event volume to |types|·|hours| rows — years of data stay
    // metadata-sized — then per-type windows over that small frame.
    "a19_burst_flags" -> ((s, dir) =>
      burstFlags(Tables.events(s, dir)
        .select(col("event_type"), col("ts").cast("long").as("ts_sec")))),

    // LAST-TOUCH ATTRIBUTION — assign each purchase to the user's latest
    // PRECEDING non-purchase event within an hour (the conversion-credit
    // rollup a growth team reads next to a05's funnel): the carried touch
    // is last(... IGNORE NULLS) over a rows-frame ending at 1 PRECEDING —
    // strictly earlier by the (ts_sec, event_id) unique order, so a
    // purchase never attributes to itself or a co-timestamped later
    // event; 'none' = no prior touch ever, 'expired' = touch older than
    // the window. One user-keyed window pass + a |types|-row rollup.
    "a20_attribution" -> ((s, dir) =>
      lastTouchAttribution(Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("ts_sec"), col("event_type")))),

    // ENGAGEMENT CONCENTRATION — the "who holds the event mass" audit
    // behind per-user caps, k01's salting rationale, and sampling
    // design: users bucket by activity RELATIVE TO THE MAX
    // (least(ne·10 ∕ mx, 9) — p13's integer decile, scan-level, NO
    // global rank sort: a rank-based Lorenz needs a full sort of |users|
    // rows in one task at any scale, while this bucketing is one agg +
    // a broadcast max), then per bucket: users, events, event/user
    // shares, and the cumulative event share (a ≤10-row window). A
    // heavy-tailed corpus shows the top bucket holding most of the
    // mass — the number that says whether per-user caps bite. All
    // counts exact longs; shares are single divisions of exact ints.
    "a22_engagement_concentration" -> ((s, dir) => {
      val cnts = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("ne"))
      val mx = cnts.agg(max("ne").as("mx"))
      val bucketed = cnts.crossJoin(broadcast(mx))
        .select(least(expr("ne * 10 DIV mx"), lit(9L)).as("bucket"), col("ne"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_users"), sum("ne").as("n_events"))
      val tot = bucketed.agg(sum("n_users").as("tu"), sum("n_events").as("te"))
      val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
      bucketed.crossJoin(broadcast(tot))
        .withColumn("cum_events", sum("n_events").over(w))
        .select(col("bucket"), col("n_users"), col("n_events"),
          (col("n_events").cast("double") / col("te").cast("double")).as("event_share"),
          (col("cum_events").cast("double") / col("te").cast("double")).as("cum_event_share"),
          (col("n_users").cast("double") / col("tu").cast("double")).as("user_share"))
        .orderBy("bucket")
    }),

    // TIME-DECAYED ENGAGEMENT — the recency-weighted feature every
    // ranking/feature-store pipeline maintains ("activity score with a
    // 1-day half-life"), in EXACT integer arithmetic: each event's value
    // snaps to a 2^-20 fixed-point grid (floor of an exact power-of-two
    // product — bit-identical in any IEEE engine), then decays by
    // INTEGER SHIFT — dfp div 2^(age div halflife) — instead of a float
    // exp(-λt) whose summation order no engine pins. The decayed sum is
    // a decimal(38,0) SUM of integers: commutative, partition-invariant,
    // retry-safe. "now" is the corpus max timestamp (broadcast 1-row) so
    // the answer is a pure function of the data. The decay divides with
    // an EXPLICIT floor (see decayedEngagement's CASE), so halving is
    // floor(v/2^s) for signed engagement values too — not only on the
    // nonnegative corpus where trunc-div happens to coincide.
    // Scale shape: one scan + one (user, type)-keyed map-side-combined
    // agg — a08/a11's class.
    "a21_decayed_engagement" -> ((s, dir) =>
      decayedEngagement(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          col("ts").cast("long").as("ts_sec"), col("value")))),

    // INTER-ARRIVAL SPECTRUM — the distribution of per-user gaps between
    // consecutive events, log2-bucketed: the cadence fingerprint a
    // capacity planner / bot-detector reads (human sessions pile into
    // the minutes-to-hours buckets, scripted traffic into sub-second
    // ones). The bucket is INTEGER bit-length — length(bin(gap)), both
    // engines converting the same BIGINT to the same binary string — so
    // no float log sits near the hash gate (bucket b ⟺ gap ∈ [2^(b−1),
    // 2^b); gap 0 is bucket 0). Scale shape: one user-partitioned lag
    // window (orders within each user's partition only — no global
    // sort) collapsed by a ≤64-row bucket agg; ties in the same second
    // are ordered by event_id so the lag is deterministic.
    "a23_interarrival_spectrum" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts").cast("long").as("sec"))
        .withColumn("gap", col("sec") - lag("sec", 1).over(w))
        .filter(col("gap").isNotNull)
        .select(when(col("gap") === 0L, lit(0L))
          .otherwise(length(bin(col("gap"))).cast("long")).as("gap_bucket"),
          col("gap"))
        .groupBy("gap_bucket")
        .agg(count(lit(1)).as("n_gaps"),
          min("gap").as("min_gap_s"),
          max("gap").as("max_gap_s"),
          sum(col("gap").cast("decimal(38,0)")).as("sg"))
        .select(col("gap_bucket"), col("n_gaps"), col("min_gap_s"), col("max_gap_s"),
          (col("sg").cast("double") / col("n_gaps").cast("double")).as("mean_gap_s"))
        .orderBy("gap_bucket")
    }),

    // GROWTH ACCOUNTING — the weekly new/retained/resurrected/churned
    // ledger every activity dashboard leads with (and the identity it
    // must satisfy: active_w = new + retained + resurrected;
    // churned_w = users active in w−1 and silent in w). Weeks are the
    // integer epoch-day div 7 (an absolute grid — both engines bucket
    // identically with no week-origin convention to reconcile, the a18
    // isodow lesson). One (user, week)-distinct agg collapses any event
    // volume, then ONE user-keyed window pass (lag + running min — state
    // is two longs per user, never a collected list) classifies every
    // active week and dates each churn; the ledger is ≤ weeks rows.
    // Churn for the week AFTER the corpus's last observed week is
    // unknowable, so rows stop at max_wk (documented, both engines).
    "a24_growth_accounting" -> ((s, dir) =>
      growthLedger(Tables.events(s, dir)
        .select(col("user_id"),
          expr("datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7").as("wk"))
        .distinct()))
  )

  /** a24 core over DISTINCT (user_id, wk) rows — extracted so the
    * streaming sibling (s29: Complete-mode user-week state drained into
    * the same ledger) shares one definition and the two cannot drift.
    * One user-keyed window pass (lag/lead + running min — two longs of
    * state per user, never a collected list) classifies every active
    * week and dates each churn; the ledger is ≤ weeks rows.
    */
  private[graft] def growthLedger(uwRaw: DataFrame): DataFrame = {
    // the presence table feeds the window pass, the corpus max, AND the
    // churn scan — materialized so the upstream distinct runs once
    val uw = graft.Materialize(uwRaw)
    val wUser = Window.partitionBy("user_id").orderBy("wk")
    val flags = uw
      .withColumn("first_wk", min("wk").over(
        Window.partitionBy("user_id").orderBy("wk")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_wk", lag("wk", 1).over(wUser))
      .withColumn("next_wk", lead("wk", 1).over(wUser))
    val maxWk = uw.agg(max("wk").as("max_wk"))
    val active = flags.groupBy("wk").agg(
      count(lit(1)).as("n_active"),
      sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L)).as("n_new"),
      sum(when(col("wk") =!= col("first_wk") && col("prev_wk") === col("wk") - 1, 1L)
        .otherwise(0L)).as("n_retained"),
      sum(when(col("wk") =!= col("first_wk") && (col("prev_wk") =!= col("wk") - 1), 1L)
        .otherwise(0L)).as("n_resurrected"))
    val churn = flags.crossJoin(broadcast(maxWk))
      .filter((col("next_wk").isNull || col("next_wk") > col("wk") + 1) &&
        col("wk") + 1 <= col("max_wk"))
      .groupBy((col("wk") + 1).as("wk")).agg(count(lit(1)).as("n_churned"))
    // FULL outer, not left: the week spine is the union of active weeks
    // and churn weeks, so churn dated into a fully-silent week (nobody
    // active, somebody churned) still gets its ledger row (n_active = 0)
    // and the identity churned_w = active_{w-1} − retained_w holds for
    // every week — a left join from `active` silently dropped those
    // rows and undercounted total churn.
    active.join(churn, Seq("wk"), "full_outer")
      .select(col("wk"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("wk")
  }

  /** a21 half-life: one day of seconds. */
  val DecayHalfLifeSec = 86400L

  /** a21 core over (user_id, event_type, ts_sec, value) rows. The decay
    * is an EXPLICIT floor division by the power-of-two — spelled as
    * `CASE WHEN v ≥ 0 THEN v DIV p ELSE −((−v + p − 1) DIV p) END`, whose
    * branches both divide nonnegative operands, so it reads identically
    * under trunc-div (Spark DIV) and floor-div semantics. Halving
    * therefore means floor(v∕2^s) for SIGNED values too, not just the
    * nonnegative corpus the previous trunc-div form silently assumed;
    * the oracle mirrors the CASE verbatim.
    */
  private[operators] def decayedEngagement(e: DataFrame): DataFrame = {
    val now = e.agg(max("ts_sec").as("now"))
    decayedTotals(e.crossJoin(broadcast(now))
      .select(col("user_id"), col("event_type"),
        expr(s"CAST(floor(value * 1048576.0) AS BIGINT)").as("vfp"),
        expr(s"shiftleft(1L, CAST(LEAST((now - ts_sec) DIV $DecayHalfLifeSec, 62L) AS INT))")
          .as("pw"))
      .select(col("user_id"), col("event_type"),
        expr("CASE WHEN vfp >= 0 THEN vfp DIV pw ELSE -((-vfp + pw - 1) DIV pw) END")
          .as("dfp")), count(lit(1)))
  }

  /** a21/s27 tail over (user_id, event_type, dfp) rows: `nEvents` and the
    * exact decimal sum of the decayed fixed-point values per (user, type),
    * surfaced as fixed point and as value units.
    */
  private def decayedTotals(d: DataFrame, nEvents: Column): DataFrame =
    d.groupBy("user_id", "event_type")
      .agg(nEvents.as("n_events"),
        sum(col("dfp").cast("decimal(38,0)")).as("sfp"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("sfp").cast("long").as("decayed_fp"),
        (col("sfp").cast("double") / 1048576.0).as("decayed_value"))
      .orderBy("user_id", "event_type")

  /** s27 rollup core over drained (user_id, event_type, day, n_events,
    * sum_vfp) calendar-day sums: decay each day's SUM by the integer
    * shift for its whole-day age against the corpus max day, with the
    * same signed explicit-floor CASE as a21. This is the incremental
    * (forward-maintainable) variant of a21: a stream can keep the
    * per-day sums additively (Complete-mode agg state = active (user,
    * type, day) rows) and the decay applies at read time; the per-day
    * floor makes it a deliberately distinct, documented semantics from
    * a21's per-event floor (the two coincide when each (u, t, day)
    * holds one event). Exposed for TemporalSpec's closed-form pins.
    */
  private[graft] def dayDecayRollup(sums: DataFrame): DataFrame = {
    val nowd = sums.agg(max("day").as("now_day"))
    decayedTotals(sums.crossJoin(broadcast(nowd))
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("sum_vfp").cast("long").as("s"),
        expr("shiftleft(1L, CAST(LEAST(now_day - day, 62L) AS INT))").as("pw"))
      .select(col("user_id"), col("event_type"), col("n_events"),
        expr("CASE WHEN s >= 0 THEN s DIV pw ELSE -((-s + pw - 1) DIV pw) END")
          .as("dfp")), sum("n_events"))
  }

  /** a20 window seconds: a touch older than this is 'expired'. */
  val AttributionWindowSec = 3600L

  /** a20 core over (user_id, event_id, ts_sec, event_type) rows. */
  private[operators] def lastTouchAttribution(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_sec").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = e.withColumn("touch",
      last(when(col("event_type") =!= "purchase",
        struct(col("ts_sec"), col("event_id"), col("event_type"))),
        ignoreNulls = true).over(w))
    val p = touched.filter(col("event_type") === "purchase")
      .select(when(col("touch").isNull, "none")
        .when(col("ts_sec") - col("touch.ts_sec") > AttributionWindowSec, "expired")
        .otherwise(col("touch.event_type")).as("touch_type"))
    val tot = p.agg(count(lit(1)).as("np"))
    p.groupBy("touch_type").agg(count(lit(1)).as("n_purchases"))
      .crossJoin(broadcast(tot))
      .select(col("touch_type"), col("n_purchases"),
        (col("n_purchases").cast("double") / col("np").cast("double")).as("share"))
      .orderBy("touch_type")
  }

  /** a19 core over (event_type, ts_sec) rows — extracted so the burst
    * arithmetic is unit-testable on crafted hours (note n·H > 3T is
    * satisfiable only for types active in > 3 hours: with H ≤ 3 even a
    * single hour holding ALL the type's events stays under 3× its mean).
    */
  private[operators] def burstFlags(e: DataFrame): DataFrame =
    burstRollup(
      e.groupBy(col("event_type"), expr("ts_sec div 3600").as("hr"))
        .agg(count(lit(1)).as("n")))

  /** The flag arithmetic over an already-counted (event_type, hr, n)
    * frame — shared verbatim by a19 (batch) and s25 (the streaming agg
    * feeds the same rollup), so the two cannot drift.
    */
  private[graft] def burstRollup(m: DataFrame): DataFrame = {
    val wType = Window.partitionBy("event_type")
    m.withColumn("type_total", sum("n").over(wType))
      .withColumn("n_hours", count(lit(1)).over(wType))
      .select(col("event_type"), col("hr"), col("n"), col("type_total"),
        col("n_hours"),
        (col("n") * col("n_hours") > col("type_total") * 3).as("is_burst"),
        ((col("n") * col("n_hours")).cast("double") /
          col("type_total").cast("double")).as("rate_ratio"))
      .orderBy("event_type", "hr")
  }

  /** a17 core over (user_id, ts_sec, event_id, event_type) rows —
    * extracted so the chain semantics (per-user adjacency, cross-user
    * isolation, row-stochastic probabilities) are unit-testable on
    * crafted sequences.
    */
  private[operators] def transitionMatrix(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_sec").asc, col("event_id").asc)
    transitionShares(e.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions")))
  }

  /** The a17 tail over counted (from_type, to_type, n_transitions) rows —
    * shared with s21, whose streamed pairs are counted on the sink table.
    */
  private[graft] def transitionShares(counts: DataFrame): DataFrame =
    counts.withColumn("from_total", sum(col("n_transitions")).over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        col("from_total"),
        (col("n_transitions").cast("double") / col("from_total").cast("double"))
          .as("p_transition"))
      .orderBy("from_type", "to_type")

  /** The transition-matrix oracle SQL, shared verbatim by a17 (batch)
    * and s21 (streaming — micro-batching + carried state must be
    * answer-invisible). One definition so the two rows cannot drift.
    * `from_total` is CAST to BIGINT: DuckDB widens `SUM(BIGINT) OVER`
    * to HUGEINT (→ float64 through Arrow), which fails a typed hash
    * compare against Spark's int64 even when values are identical.
    */
  val transitionMatrixOracle: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type) OVER (
      |      PARTITION BY user_id
      |      ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT) ASC, event_id ASC
      |    ) AS next_type
      |  FROM events
      |), tr AS (
      |  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n_transitions
      |  FROM seq WHERE next_type IS NOT NULL
      |  GROUP BY 1, 2
      |)
      |SELECT from_type, to_type, n_transitions,
      |  CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT) AS from_total,
      |  n_transitions::DOUBLE / (SUM(n_transitions) OVER (PARTITION BY from_type))::DOUBLE
      |    AS p_transition
      |FROM tr
      |ORDER BY from_type, to_type""".stripMargin

  /** a08's hourly grid: `e` buckets every event to its hour `hsec`,
    * `h(user_id, hsec, hv)` keeps each observed hour's last value, and
    * `grid(user_id, hsec)` lists every hour of the user's span. a13
    * interpolates over the same grid.
    */
  private val duckHourGridCtes: String =
    """e AS (
      |  SELECT user_id, event_id, ts,
      |    (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS hsec, "value"
      |  FROM events
      |), h AS (
      |  SELECT user_id, hsec, "value" AS hv FROM (
      |    SELECT user_id, hsec, "value",
      |      ROW_NUMBER() OVER (PARTITION BY user_id, hsec ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM e) WHERE rn = 1
      |), b AS (
      |  SELECT user_id, MIN(hsec) AS h0, MAX(hsec) AS h1 FROM e GROUP BY user_id
      |), grid AS (
      |  SELECT user_id, unnest(range(h0, h1 + 3600, 3600)) AS hsec FROM b
      |)""".stripMargin

  /** a05's funnel head: `e(user_id, event_type, sec)` the funnel events
    * on second-truncated time, `a(user_id, t_view)` each user's first
    * view. a15 bounds the later steps on the same head.
    */
  private val duckFunnelViewCtes: String =
    """e AS (
      |  SELECT user_id, event_type, epoch(date_trunc('second', ts)) AS sec
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
      |), a AS (
      |  SELECT user_id, MIN(sec) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id
      |)""".stripMargin

  def oracles: Map[String, String] = Map(
    // isodow ≡ Spark weekday+1 (both 1 = Monday); counts exact
    "a18_activity_profile" ->
      """WITH m AS (
        |  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hour, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT event_type, dow, hour, n,
        |  n = MAX(n) OVER (PARTITION BY event_type) AS is_peak
        |FROM m
        |ORDER BY event_type, dow, hour""".stripMargin,

    // same integer cross-multiplication burst gate; window SUM widens to
    // HUGEINT → cast back to BIGINT
    "a19_burst_flags" ->
      """WITH m AS (
        |  SELECT event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600 AS hr,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT event_type, hr, n,
        |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS type_total,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_hours
        |  FROM m
        |)
        |SELECT event_type, hr, n, type_total, n_hours,
        |  n * n_hours > type_total * 3 AS is_burst,
        |  CAST(n * n_hours AS DOUBLE) / CAST(type_total AS DOUBLE) AS rate_ratio
        |FROM w
        |ORDER BY event_type, hr""".stripMargin,

    // the same IGNORE NULLS carried touch (q42's window idiom), the same
    // strictly-preceding frame and (ts_sec, event_id) unique order
    "a20_attribution" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id,
         |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec, event_type
         |  FROM events
         |), t AS (
         |  SELECT *,
         |    last_value(CASE WHEN event_type <> 'purchase'
         |        THEN struct_pack(ts := ts_sec, id := event_id, ty := event_type) END
         |      IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts_sec ASC, event_id ASC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         |  FROM e
         |), p AS (
         |  SELECT CASE WHEN touch IS NULL THEN 'none'
         |              WHEN ts_sec - touch.ts > $AttributionWindowSec THEN 'expired'
         |              ELSE touch.ty END AS touch_type
         |  FROM t WHERE event_type = 'purchase'
         |), tot AS (
         |  SELECT COUNT(*) AS np FROM p
         |)
         |SELECT touch_type, COUNT(*) AS n_purchases,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(tot.np AS DOUBLE) AS share
         |FROM p CROSS JOIN tot
         |GROUP BY touch_type, tot.np
         |ORDER BY touch_type""".stripMargin,

    // the same integer bucketing (LEAST + floor-div against the
    // broadcast max), exact-long sums, a ≤10-row cumulative window
    "a22_engagement_concentration" ->
      """WITH c AS (
        |  SELECT user_id, COUNT(*) AS ne FROM events GROUP BY user_id
        |), m AS (
        |  SELECT MAX(ne) AS mx FROM c
        |), b AS (
        |  SELECT CAST(LEAST(ne * 10 // mx, 9) AS BIGINT) AS bucket,
        |    COUNT(*) AS n_users, CAST(SUM(ne) AS BIGINT) AS n_events
        |  FROM c CROSS JOIN m GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n_users) AS BIGINT) AS tu,
        |    CAST(SUM(n_events) AS BIGINT) AS te FROM b
        |)
        |SELECT bucket, n_users, n_events,
        |  CAST(n_events AS DOUBLE) / CAST(te AS DOUBLE) AS event_share,
        |  CAST(SUM(n_events) OVER (ORDER BY bucket) AS DOUBLE) / CAST(te AS DOUBLE)
        |    AS cum_event_share,
        |  CAST(n_users AS DOUBLE) / CAST(tu AS DOUBLE) AS user_share
        |FROM b CROSS JOIN t
        |ORDER BY bucket""".stripMargin,

    // same second-truncated lag, same (sec, event_id) tie order, same
    // integer bit-length bucket via bin()
    "a23_interarrival_spectrum" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events
        |), g AS (
        |  SELECT sec - LAG(sec) OVER (PARTITION BY user_id
        |    ORDER BY sec ASC, event_id ASC) AS gap
        |  FROM e
        |), b AS (
        |  SELECT CASE WHEN gap = 0 THEN 0
        |              ELSE CAST(length(bin(gap)) AS BIGINT) END AS gap_bucket, gap
        |  FROM g WHERE gap IS NOT NULL
        |)
        |SELECT gap_bucket, COUNT(*) AS n_gaps,
        |  MIN(gap) AS min_gap_s, MAX(gap) AS max_gap_s,
        |  CAST(SUM(gap) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_gap_s
        |FROM b GROUP BY gap_bucket
        |ORDER BY gap_bucket""".stripMargin,

    // weeks on the same absolute epoch-day div-7 grid; the lag/lead
    // classification and the churn dating restated verbatim
    "a24_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) // 7 AS wk
        |  FROM events
        |), f AS (
        |  SELECT user_id, wk,
        |    MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
        |    LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
        |    LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
        |  FROM uw
        |), mx AS (
        |  SELECT MAX(wk) AS max_wk FROM uw
        |), act AS (
        |  SELECT wk, COUNT(*) AS n_active,
        |    CAST(SUM(CASE WHEN wk = first_wk THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN wk <> first_wk AND prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN wk <> first_wk AND prev_wk <> wk - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM f GROUP BY wk
        |), ch AS (
        |  SELECT f.wk + 1 AS wk, COUNT(*) AS n_churned
        |  FROM f CROSS JOIN mx
        |  WHERE (f.next_wk IS NULL OR f.next_wk > f.wk + 1) AND f.wk + 1 <= mx.max_wk
        |  GROUP BY f.wk + 1
        |)
        |SELECT wk, COALESCE(a.n_active, 0) AS n_active,
        |  COALESCE(a.n_new, 0) AS n_new,
        |  COALESCE(a.n_retained, 0) AS n_retained,
        |  COALESCE(a.n_resurrected, 0) AS n_resurrected,
        |  COALESCE(c.n_churned, 0) AS n_churned
        |FROM act a FULL JOIN ch c USING (wk)
        |ORDER BY wk""".stripMargin,

    // the same fixed-point snap, explicit floor-div decay (the CASE's
    // branches divide nonnegative operands, so trunc-div and floor-div
    // engines agree for signed values too), and HUGEINT sum; the corpus
    // max rides a CROSS JOIN exactly like Spark's broadcast
    "a21_decayed_engagement" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type,
         |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec, value
         |  FROM events
         |), nw AS (
         |  SELECT MAX(ts_sec) AS now FROM e
         |), fp AS (
         |  SELECT user_id, event_type,
         |    CAST(floor(value * 1048576.0) AS BIGINT) AS vfp,
         |    (1::BIGINT << CAST(LEAST((nw.now - ts_sec) // $DecayHalfLifeSec, 62) AS INT)) AS pw
         |  FROM e CROSS JOIN nw
         |), d AS (
         |  SELECT user_id, event_type,
         |    CASE WHEN vfp >= 0 THEN vfp // pw ELSE -((-vfp + pw - 1) // pw) END AS dfp
         |  FROM fp
         |)
         |SELECT user_id, event_type, COUNT(*) AS n_events,
         |  CAST(SUM(dfp) AS BIGINT) AS decayed_fp,
         |  CAST(SUM(dfp) AS DOUBLE) / 1048576.0 AS decayed_value
         |FROM d GROUP BY user_id, event_type
         |ORDER BY user_id, event_type""".stripMargin,

    // same lag ordering (ts_sec, event_id — unique, so no tie ambiguity);
    // probability = one division of exact BIGINTs in both engines
    "a17_transition_matrix" -> transitionMatrixOracle,
    // identical fold order: 1-based DuckDB lists, list_reduce left-fold
    // over the same time-sorted term sequence the Spark aggregate() folds
    "a07_time_weighted_avg" ->
      """WITH l AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    list(struct_pack(ts_us := epoch_us(ts), event_id := event_id, v := "value")
        |         ORDER BY epoch_us(ts), event_id) AS evs
        |  FROM events
        |  GROUP BY user_id
        |), t AS (
        |  SELECT user_id, n_events,
        |    evs[len(evs)].ts_us - evs[1].ts_us AS span_us,
        |    list_reduce(
        |      list_prepend(0.0::DOUBLE, list_transform(range(2, len(evs) + 1), i ->
        |        evs[i-1].v * ((evs[i].ts_us - evs[i-1].ts_us)::DOUBLE / 1000000.0))),
        |      (a, b) -> a + b) AS wsum
        |  FROM l
        |  WHERE len(evs) > 1
        |)
        |SELECT user_id, n_events,
        |  span_us::DOUBLE / 1000000.0 AS span_sec,
        |  wsum / (span_us::DOUBLE / 1000000.0) AS twa_value
        |FROM t
        |WHERE span_us > 0
        |ORDER BY user_id""".stripMargin,

    // grid = range(h0, h1+3600, 3600) (end-exclusive) ≡ Spark's inclusive
    // sequence(h0, h1, 3600); the fill is the same last-ignore-nulls
    // window both engines define identically
    "a08_gap_fill" ->
      s"""WITH $duckHourGridCtes
        |SELECT g.user_id AS user_id,
        |  strftime(to_timestamp(g.hsec), '%Y-%m-%d %H:%M:%S') AS hour,
        |  LAST_VALUE(hv IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hsec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |  CAST(CASE WHEN hv IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_observed
        |FROM grid g LEFT JOIN h USING (user_id, hsec)
        |ORDER BY user_id, hour""".stripMargin,

    // the interpolation arithmetic is the same fixed double-expression
    // order as the Spark side: prev + (next − prev) · (Δt / span)
    "a13_interpolate" ->
      s"""WITH $duckHourGridCtes, w AS (
        |  SELECT g.user_id AS user_id, g.hsec AS hsec, hv,
        |    LAST_VALUE(hv IGNORE NULLS) OVER wb AS prev_val,
        |    LAST_VALUE(CASE WHEN hv IS NOT NULL THEN g.hsec END IGNORE NULLS) OVER wb AS prev_t,
        |    FIRST_VALUE(hv IGNORE NULLS) OVER wf AS next_val,
        |    FIRST_VALUE(CASE WHEN hv IS NOT NULL THEN g.hsec END IGNORE NULLS) OVER wf AS next_t
        |  FROM grid g LEFT JOIN h USING (user_id, hsec)
        |  WINDOW wb AS (PARTITION BY g.user_id ORDER BY g.hsec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY g.user_id ORDER BY g.hsec
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id,
        |  strftime(to_timestamp(hsec), '%Y-%m-%d %H:%M:%S') AS hour,
        |  CASE WHEN hv IS NOT NULL THEN hv
        |       WHEN prev_t IS NULL THEN next_val
        |       WHEN next_t IS NULL THEN prev_val
        |       ELSE prev_val + (next_val - prev_val) *
        |         ((hsec - prev_t)::DOUBLE / (next_t - prev_t)::DOUBLE) END AS value_interp,
        |  CAST(CASE WHEN hv IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_observed
        |FROM w
        |ORDER BY user_id, hour""".stripMargin,

    // decimal window sums → one double conversion per term, fixed
    // expression order — mirrors the Spark side exactly
    "a10_rolling_zscore" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, "value",
        |    CAST("value" AS DECIMAL(18,6)) AS vd
        |  FROM events
        |), win AS (
        |  SELECT user_id, event_id, ts, "value",
        |    COUNT(*) OVER w AS n_w,
        |    SUM(vd) OVER w AS sum_w,
        |    SUM(vd * vd) OVER w AS sumsq_w
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |), m AS (
        |  SELECT user_id, event_id, ts, "value",
        |    sum_w::DOUBLE / n_w::DOUBLE AS mean_20,
        |    sqrt(greatest(
        |      (sumsq_w::DOUBLE - sum_w::DOUBLE * sum_w::DOUBLE / n_w::DOUBLE)
        |        / (n_w::DOUBLE - 1.0), 0.0)) AS sd_20
        |  FROM win WHERE n_w >= 20
        |)
        |SELECT user_id, event_id,
        |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts,
        |  "value", mean_20, sd_20,
        |  ("value" - mean_20) / sd_20 AS z,
        |  abs(("value" - mean_20) / sd_20) > 3.0 AS is_anomaly
        |FROM m
        |ORDER BY user_id, event_id""".stripMargin,

    // single flat running sum (DuckDB is single-node — the oracle needs
    // no prefix-sum decomposition); sessions CTE = a03's exact semantics
    "a09_interval_concurrency" ->
      s"""WITH ${DuckSql.sessionCtes("user_id, event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec",
                                          seqOrder = "ts_sec")}, sess AS (
        |  SELECT user_id, session_seq, MIN(ts_sec) AS start_sec, MAX(ts_sec) AS end_sec
        |  FROM numbered GROUP BY user_id, session_seq
        |), d0 AS (
        |  SELECT start_sec AS sec, 1 AS d FROM sess
        |  UNION ALL
        |  SELECT end_sec + 1 AS sec, -1 AS d FROM sess
        |), deltas AS (
        |  SELECT sec, SUM(d) AS d FROM d0 GROUP BY sec
        |), run AS (
        |  SELECT sec, sec // 86400 AS day,
        |    SUM(d) OVER (ORDER BY sec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM deltas
        |), pick AS (
        |  SELECT day, conc, sec,
        |    ROW_NUMBER() OVER (PARTITION BY day ORDER BY conc DESC, sec ASC) AS rn
        |  FROM run
        |)
        |SELECT strftime(to_timestamp(day * 86400), '%Y-%m-%d') AS day,
        |  CAST(conc AS BIGINT) AS max_concurrency,
        |  strftime(to_timestamp(sec), '%Y-%m-%d %H:%M:%S') AS at_ts
        |FROM pick WHERE rn = 1
        |ORDER BY day""".stripMargin,

    "a01_asof_join" ->
      """SELECT event_id, user_id,
        |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  strftime(date_trunc('second', view_ts), '%Y-%m-%d %H:%M:%S') AS asof_view_ts,
        |  CAST(epoch(date_trunc('second', ts)) - epoch(date_trunc('second', view_ts)) AS BIGINT) AS staleness_sec
        |FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ts
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // a01's oracle plus the tolerance CASE on the same second-truncated
    // staleness both engines compute identically
    "a14_asof_tolerance" ->
      s"""SELECT event_id, user_id,
         |  strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  CASE WHEN stale_sec <= $AsofToleranceSec
         |    THEN strftime(date_trunc('second', view_ts), '%Y-%m-%d %H:%M:%S') END AS asof_view_ts,
         |  CASE WHEN stale_sec <= $AsofToleranceSec THEN stale_sec END AS staleness_sec,
         |  (view_ts IS NOT NULL AND stale_sec > $AsofToleranceSec) AS dropped_stale
         |FROM (
         |  SELECT *, CAST(epoch(date_trunc('second', ts)) - epoch(date_trunc('second', view_ts)) AS BIGINT) AS stale_sec
         |  FROM (
         |    SELECT event_id, user_id, event_type, ts,
         |      MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
         |        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_ts
         |    FROM events WHERE event_type IN ('view', 'purchase')
         |  )
         |)
         |WHERE event_type = 'purchase'
         |ORDER BY event_id""".stripMargin,

    "a05_funnel" ->
      s"""WITH $duckFunnelViewCtes, b AS (
        |  SELECT e.user_id, MIN(sec) AS t_click FROM e JOIN a USING (user_id)
        |  WHERE event_type = 'click' AND sec > t_view GROUP BY e.user_id
        |), c AS (
        |  SELECT e.user_id, MIN(sec) AS t_purchase FROM e JOIN b USING (user_id)
        |  WHERE event_type = 'purchase' AND sec > t_click GROUP BY e.user_id
        |)
        |SELECT a.user_id,
        |  strftime(to_timestamp(t_view), '%Y-%m-%d %H:%M:%S') AS first_view,
        |  strftime(to_timestamp(t_click), '%Y-%m-%d %H:%M:%S') AS first_click_after,
        |  strftime(to_timestamp(t_purchase), '%Y-%m-%d %H:%M:%S') AS first_purchase_after,
        |  CAST(1 + CASE WHEN t_click IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stage
        |FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "a15_constrained_funnel" ->
      s"""WITH $duckFunnelViewCtes, b AS (
        |  SELECT e.user_id, MIN(sec) AS t_click FROM e JOIN a USING (user_id)
        |  WHERE event_type = 'click' AND sec > t_view AND sec <= t_view + $ClickWindowSec
        |  GROUP BY e.user_id
        |), c AS (
        |  SELECT e.user_id, MIN(sec) AS t_purchase FROM e JOIN b USING (user_id)
        |  WHERE event_type = 'purchase' AND sec > t_click AND sec <= t_click + $PurchaseWindowSec
        |  GROUP BY e.user_id
        |)
        |SELECT a.user_id,
        |  strftime(to_timestamp(t_view), '%Y-%m-%d %H:%M:%S') AS first_view,
        |  CAST(t_click - t_view AS BIGINT) AS click_delay_sec,
        |  CAST(t_purchase - t_click AS BIGINT) AS purchase_delay_sec,
        |  CAST(1 + CASE WHEN t_click IS NULL THEN 0 ELSE 1 END
        |    + CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stage
        |FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "a16_sliding_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day
        |  FROM events
        |), span AS (
        |  SELECT MAX(day) AS d1 FROM ud
        |), cov AS (
        |  SELECT DISTINCT user_id, day + i AS end_day
        |  FROM ud, range(0, 7) AS t(i), span
        |  WHERE day + i <= d1
        |)
        |SELECT strftime(to_timestamp(end_day * 86400), '%Y-%m-%d') AS day,
        |  COUNT(*) AS n_users_7d
        |FROM cov
        |GROUP BY end_day
        |ORDER BY day""".stripMargin,

    "a06_retention" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week
        |  FROM events
        |), c AS (
        |  SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id
        |)
        |SELECT cohort_week, week, COUNT(*) AS n_active
        |FROM w JOIN c USING (user_id)
        |GROUP BY cohort_week, week
        |ORDER BY cohort_week, week""".stripMargin,

    "a11_trailing_window" ->
      """SELECT user_id, event_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec,
        |  COUNT(*) OVER w AS n_trailing_1h,
        |  CAST(SUM(CAST("value" AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sum_trailing_1h
        |FROM events
        |WINDOW w AS (
        |  PARTITION BY user_id
        |  ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // open/close stated as first_value over (sec, event_id) asc/desc —
    // the window form of Spark's struct-keyed min_by/max_by tie-break;
    // values pass through with no arithmetic so doubles compare exactly
    "a12_ohlc_bars" ->
      """WITH e AS (
        |  SELECT user_id, event_id, "value",
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |    (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS hsec
        |  FROM events
        |), w AS (
        |  SELECT user_id, hsec, "value",
        |    FIRST_VALUE("value") OVER (PARTITION BY user_id, hsec
        |      ORDER BY sec ASC, event_id ASC) AS open_v,
        |    FIRST_VALUE("value") OVER (PARTITION BY user_id, hsec
        |      ORDER BY sec DESC, event_id DESC) AS close_v
        |  FROM e
        |)
        |SELECT user_id,
        |  strftime(to_timestamp(hsec), '%Y-%m-%d %H:%M:%S') AS hour,
        |  MIN(open_v) AS open, MAX("value") AS high, MIN("value") AS low,
        |  MIN(close_v) AS close, COUNT(*) AS n_events
        |FROM w
        |GROUP BY user_id, hsec
        |ORDER BY user_id, hour""".stripMargin,

    "a02_range_join" ->
      """SELECT v.user_id AS user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  CAST(epoch(date_trunc('second', p.ts)) - epoch(date_trunc('second', v.ts)) AS BIGINT) AS gap_sec
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND epoch(date_trunc('second', p.ts)) > epoch(date_trunc('second', v.ts))
        | AND epoch(date_trunc('second', p.ts)) <= epoch(date_trunc('second', v.ts)) + 600
        |ORDER BY user_id, view_id, purchase_id""".stripMargin,

    "a03_sessionize" ->
      s"""WITH ${DuckSql.sessionCtes()}
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  COUNT(*) AS n_events,
        |  strftime(to_timestamp(MIN(ts_sec)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(MAX(ts_sec) - MIN(ts_sec) AS BIGINT) AS duration_sec,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM numbered
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "a04_session_window" ->
      s"""WITH ${DuckSql.sessionCtes(gap = ">=")}
        |SELECT user_id,
        |  strftime(to_timestamp(MIN(ts_sec)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(to_timestamp(MAX(ts_sec) + 1800), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM numbered
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin
  )
}
