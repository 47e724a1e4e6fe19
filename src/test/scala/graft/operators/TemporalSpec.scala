package graft.operators

import graft.SparkSpec

/** Crafted-event coverage for the funnel's distinctive semantics — the
  * shipped fixture takes every user to stage 3, so the stall paths (left
  * joins, stage arithmetic, strict temporal order) would otherwise be
  * unexercised by the oracle gate.
  */
class TemporalSpec extends SparkSpec {

  test("funnel stall paths: view-only, mid-funnel, click-before-view, strict order") {
    import spark.implicits._
    val e = Seq(
      (1L, "view", 100L),                                               // stage 1: view only
      (2L, "view", 100L), (2L, "click", 150L),                          // stage 2: no purchase
      (3L, "click", 50L), (3L, "view", 100L), (3L, "purchase", 200L),   // click BEFORE view ⇒ stage 1
      (4L, "view", 100L), (4L, "click", 150L), (4L, "purchase", 200L),  // full funnel
      (5L, "click", 10L), (5L, "purchase", 20L),                        // never viewed ⇒ absent
      (6L, "view", 100L), (6L, "click", 100L),                          // same-second click: strict > excludes ⇒ stage 1
      (7L, "view", 100L), (7L, "purchase", 150L), (7L, "click", 200L)   // purchase precedes the click ⇒ stage 2
    ).toDF("user_id", "event_type", "sec")

    val got = Temporal.funnel(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), Option(r.getString(2)), Option(r.getString(3))))
      .toMap

    assert(got.keySet === Set(1L, 2L, 3L, 4L, 6L, 7L), "users with no view must be absent")
    assert(got(1L)._1 === 1L && got(1L)._2.isEmpty)
    assert(got(2L)._1 === 2L && got(2L)._2.isDefined && got(2L)._3.isEmpty)
    assert(got(3L)._1 === 1L, "a click before the first view must not count")
    assert(got(4L)._1 === 3L && got(4L)._3.isDefined)
    assert(got(6L)._1 === 1L, "same-second click fails the strict > ordering")
    assert(got(7L)._1 === 2L, "a purchase before the click must not complete the funnel")
  }

  test("a08 gap fill: multi-hour gaps carry the hour's LAST reading; grid spans per user") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: readings in hour 0 (two — the later must win) and hour 3;
    // hours 1-2 are gaps. user 2: a single hour — one observed row, no fill.
    val e = Seq(
      (1L, 10L, 100L, 1.0), (1L, 11L, 200L, 2.0), // hour 0, last = 2.0
      (1L, 12L, 3 * 3600L + 5L, 9.0),             // hour 3
      (2L, 20L, 86400L, 7.0)
    ).toDF("user_id", "event_id", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")

    val rows = Temporal.gapFill(e).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val u1 = rows.filter(_._1 == 1L)
    assert(u1.length === 4, "grid covers min..max hour inclusive")
    assert(u1.map(_._3).toSeq === Seq(2.0, 2.0, 2.0, 9.0),
      "gap hours inherit the LAST reading of the last observed hour")
    assert(u1.map(_._4).toSeq === Seq(1L, 0L, 0L, 1L), "is_observed flags gaps")
    val u2 = rows.filter(_._1 == 2L)
    assert(u2.toSeq === Seq((2L, "1970-01-02 00:00:00", 7.0, 1L)),
      "single-hour user: one observed row, no synthetic neighbors")
  }

  test("a09 sweep line: midnight carry-in, overlap counting, earliest-second tie-break") {
    import spark.implicits._
    // day 0: [100,200] and [150,300] overlap → peak 2 at sec=150.
    // [85000,90000] opens in day 0 but closes in day 1, so day 1 starts
    // with carry-in concurrency 1; [88000,89000]'s open at 88000 (day 1)
    // stacks on that carry → day-1 peak 2. Concurrency is evaluated at
    // delta points (it is piecewise-constant between them).
    val sess = Seq(
      (100L, 200L), (150L, 300L),       // day 0 overlap
      (85000L, 90000L),                 // crosses into day 1 (86400)
      (88000L, 89000L)                  // entirely in day 1
    ).toDF("start_sec", "end_sec")
    val got = Temporal.intervalConcurrency(sess).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.length === 2)
    assert(got(0)._1 === "1970-01-01" && got(0)._2 === 2L,
      "two overlapping sessions peak at 2")
    assert(got(0)._3 === "1970-01-01 00:02:30", "tie at max picks the earliest second")
    assert(got(1)._1 === "1970-01-02" && got(1)._2 === 2L,
      "day-1 peak = midnight carry-in (1) + the day-1 open (1) — the " +
        "cross-day prefix sum must thread through the per-day offsets")
  }

  test("a09 two-phase prefix sum equals the flat single-window formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // randomized-ish but deterministic intervals spanning several days
    val sess = (1 to 300).map { i =>
      val start = (i * 7919L) % (4 * 86400L)
      (start, start + (i * 104729L) % 50000L)
    }.toDF("start_sec", "end_sec")
    val fast = Temporal.intervalConcurrency(sess).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq

    // reference: one flat global running sum (the formulation that dies
    // at scale but is trivially correct single-node)
    val deltas = sess.select(col("start_sec").as("sec"), lit(1L).as("d"))
      .unionAll(sess.select((col("end_sec") + 1).as("sec"), lit(-1L).as("d")))
      .groupBy("sec").agg(sum("d").as("d"))
    val wAll = Window.orderBy("sec").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy("day").orderBy(col("conc").desc, col("sec").asc)
    val slow = deltas.withColumn("conc", sum("d").over(wAll))
      .withColumn("day", expr("sec div 86400"))
      .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .select(
        date_format(timestamp_seconds(col("day") * 86400), "yyyy-MM-dd").as("day"),
        col("conc"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd HH:mm:ss").as("at_ts"))
      .orderBy("day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(fast === slow, "day-partitioned prefix sum + carry ≡ flat running sum")
  }

  test("a12 OHLC: struct-keyed min_by/max_by ≡ the window first/last form, incl. ties") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // crafted rows INCLUDING a timestamp tie inside one hour — the
    // event_id tie-break must decide open/close deterministically
    val e = Seq(
      (1L, 10L, 7200L, 5.0), (1L, 11L, 7300L, 9.0), (1L, 12L, 7300L, 2.0),
      (1L, 13L, 9000L, 4.0), // second hour
      (2L, 20L, 7200L, 1.0), (2L, 21L, 7200L, 8.0) // pure tie: ids decide
    ).toDF("user_id", "event_id", "ts_sec", "value")
      .withColumn("hsec", expr("ts_sec div 3600 * 3600"))

    val agg = e.groupBy("user_id", "hsec")
      .agg(min_by(col("value"), struct(col("ts_sec"), col("event_id"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_sec"), col("event_id"))).as("close"),
        count(lit(1)).as("n"))
      .orderBy("user_id", "hsec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).toSeq

    val w = Window.partitionBy("user_id", "hsec").orderBy(col("ts_sec").asc, col("event_id").asc)
    val ref = e
      .withColumn("open", first(col("value")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("close", last(col("value")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy("user_id", "hsec")
      .agg(min("open").as("open"), max("value").as("high"), min("value").as("low"),
        min("close").as("close"), count(lit(1)).as("n"))
      .orderBy("user_id", "hsec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).toSeq

    assert(agg === ref)
    // the tie rows land per the id order: user 2's open is id 20's value
    assert(agg.find(_._1 == 2L).get._3 === 1.0)
    assert(agg.find(_._1 == 2L).get._6 === 8.0)
  }

  test("a15 conversion deadlines: inclusive bounds, expiry, delays") {
    import spark.implicits._
    val cw = Temporal.ClickWindowSec      // 3600
    val pw = Temporal.PurchaseWindowSec   // 86400
    val e = Seq(
      // click at EXACTLY view + 1h: inclusive bound admits; purchase at
      // exactly click + 24h: admits too — full funnel with max delays
      (1L, "view", 100L), (1L, "click", 100L + cw), (1L, "purchase", 100L + cw + pw),
      // click one second past the window: stalls at stage 1 even though a
      // purchase follows (an unconstrained a05 would reach stage 3 here)
      (2L, "view", 100L), (2L, "click", 100L + cw + 1L), (2L, "purchase", 200L + cw),
      // in-window click, purchase one second past ITS window: stage 2
      (3L, "view", 100L), (3L, "click", 200L), (3L, "purchase", 200L + pw + 1L),
      // a second, in-window click after an expired first click does not
      // resurrect the funnel stage — but the MIN is over in-window clicks
      // only, so the 2nd-click path converts: (late click ignored, timely
      // click counts regardless of order seen)
      (4L, "view", 100L), (4L, "click", 100L + cw + 9L), (4L, "click", 500L),
      (4L, "purchase", 600L)
    ).toDF("user_id", "event_type", "sec")

    val got = Temporal.constrainedFunnel(e).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(4), Option(r.get(2)).map(_.asInstanceOf[Long]), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toMap

    assert(got(1L) === ((3L, Some(cw), Some(pw))), "deadline bounds are inclusive")
    assert(got(2L)._1 === 1L, "a click past view+1h must not convert")
    assert(got(3L)._1 === 2L, "a purchase past click+24h must not convert")
    assert(got(4L) === ((3L, Some(400L), Some(100L))),
      "the earliest IN-WINDOW click defines the purchase window")
  }

  test("a16 trailing-7d distinct: window membership, dedup within window, grid clip") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // day numbers: u1 active day 0 and day 3 (ONE distinct user in every
    // window covering either); u2 active day 0 twice (must not double-
    // count); u3 active day 9 — the u1/u2 mass expires after end-day 6
    // resp. 9, and the grid must stop at the LAST ACTIVE day (9), not
    // run to day 3 + 6 = 9 only by luck of u3 — so also check no end-day
    // past 9 appears
    val e = Seq(
      (1L, 0L), (1L, 3L * 86400L + 7L),   // u1: days 0, 3
      (2L, 10L),                          // u2: day 0
      (2L, 20L),                          // u2 again day 0 — dedup
      (3L, 9L * 86400L)                   // u3: day 9
    ).toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
      .select(col("user_id"), col("ts"))

    val got = Temporal.slidingDistinct(e).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap

    // windows ending days 0-6 contain u1 (day 0 or 3) and u2 (day 0 for
    // end-days 0-6); u1's day-3 activity covers end-days 3-9; u3 covers 9
    val exp = Map(
      "1970-01-01" -> 2L, "1970-01-02" -> 2L, "1970-01-03" -> 2L,
      "1970-01-04" -> 2L, "1970-01-05" -> 2L, "1970-01-06" -> 2L,
      "1970-01-07" -> 2L,                   // end-day 6: u2 day0 still in [0..6]
      "1970-01-08" -> 1L, "1970-01-09" -> 1L, // u1 via day 3
      "1970-01-10" -> 2L)                   // end-day 9: u1 (day 3) + u3 (day 9)
    assert(got === exp)
  }

  test("a18 activity profile: ISO weekday origin, hour bucketing, peak ties all flagged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2024-01-15 is a Monday (isodow 1). Two cells for type "a" tie at
    // n=2 (both must flag); type "b" has a single peak.
    val e = Seq(
      ("a", "2024-01-15 09:10:00"), ("a", "2024-01-15 09:50:00"),  // Mon h9 ×2
      ("a", "2024-01-16 14:00:00"), ("a", "2024-01-16 14:30:00"),  // Tue h14 ×2 (tie)
      ("a", "2024-01-21 23:59:59"),                                // Sun h23 ×1
      ("b", "2024-01-17 08:00:00")                                 // Wed h8 ×1
    ).toDF("event_type", "s").withColumn("ts", to_timestamp(col("s")))
    val got = e.groupBy(col("event_type"),
        (weekday(col("ts")) + 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("is_peak", col("n") === max(col("n"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
      .collect().map(r => ((r.getString(0), r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getBoolean(4)))).toMap
    assert(got === Map(
      ("a", 1L, 9L) -> ((2L, true)), ("a", 2L, 14L) -> ((2L, true)),
      ("a", 7L, 23L) -> ((1L, false)), ("b", 3L, 8L) -> ((1L, true))))
  }

  test("a19 burst closed form: 5-hour spike flags, uniform type silent, H<=3 unflaggable") {
    import spark.implicits._
    // type a: hours 0..4 with counts 9,1,1,1,1 → T=13, H=5; only hour 0
    // bursts (9·5=45 > 39); type b: 2 events in each of 4 hours — uniform,
    // never bursts; type c: ALL 7 events in one of its 2 active hours —
    // still unflaggable (7·2=14 ≤ 24), pinning the H ≤ 3 impossibility.
    val e = (Seq.fill(9)(("a", 10L)) ++ Seq(("a", 3610L), ("a", 7210L),
        ("a", 10810L), ("a", 14410L)) ++
      (0 until 4).flatMap(h => Seq.fill(2)(("b", h * 3600L + 5))) ++
      Seq.fill(7)(("c", 100L)) ++ Seq(("c", 3700L))
    ).toDF("event_type", "ts_sec")
    val got = Temporal.burstFlags(e).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5), r.getDouble(6)))).toMap
    assert(got(("a", 0L)) === ((9L, 13L, 5L, true, 45.0 / 13.0)))
    assert(got(("a", 1L)) === ((1L, 13L, 5L, false, 5.0 / 13.0)))
    (0L until 4L).foreach { h =>
      assert(got(("b", h)) === ((2L, 8L, 4L, false, 1.0)))
    }
    assert(got(("c", 0L)) === ((7L, 8L, 2L, false, 14.0 / 8.0)))
    assert(got(("c", 1L)) === ((1L, 8L, 2L, false, 2.0 / 8.0)))
  }

  test("a20 attribution closed form: touch, expiry, none, and purchase-skipping carry") {
    import spark.implicits._
    val e = Seq(
      (1L, 1L, 0L, "view"), (1L, 2L, 100L, "purchase"),     // → view
      (1L, 3L, 200L, "click"), (1L, 4L, 5000L, "purchase"), // 4800s → expired
      (2L, 5L, 50L, "purchase"),                            // no prior → none
      (2L, 6L, 60L, "view"),                                // AFTER the purchase — ignored
      (3L, 7L, 10L, "view"), (3L, 8L, 20L, "purchase"),
      (3L, 9L, 30L, "purchase")                             // skips purchase@20 → view
    ).toDF("user_id", "event_id", "ts_sec", "event_type")
    val got = Temporal.lastTouchAttribution(e).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(
      "expired" -> ((1L, 0.2)),
      "none" -> ((1L, 0.2)),
      "view" -> ((3L, 0.6))))
  }

  test("a17 transition matrix: per-user chains, cross-user isolation, row-stochastic") {
    import spark.implicits._
    // u1: a→b→a (transitions a→b, b→a); u2: a→a→c (a→a, a→c); u3: lone
    // event, no transition. u1's last event and u2's first are adjacent
    // in TIME but different users — must NOT pair. Same-second pair in
    // u2 ordered by event_id.
    val e = Seq(
      (1L, 100L, 1L, "a"), (1L, 200L, 2L, "b"), (1L, 300L, 3L, "a"),
      (2L, 301L, 4L, "a"), (2L, 400L, 5L, "a"), (2L, 400L, 6L, "c"),
      (3L, 999L, 7L, "z")
    ).toDF("user_id", "ts_sec", "event_id", "event_type")

    val got = Temporal.transitionMatrix(e).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n_transitions"), r.getAs[Long]("from_total"),
          r.getAs[Double]("p_transition")))).toMap

    assert(got.keySet === Set(("a", "b"), ("b", "a"), ("a", "a"), ("a", "c")),
      "cross-user adjacency and lone events must produce no transitions")
    assert(got(("a", "b")) === ((1L, 3L, 1.0 / 3.0)))
    assert(got(("a", "a")) === ((1L, 3L, 1.0 / 3.0)))
    assert(got(("a", "c")) === ((1L, 3L, 1.0 / 3.0)))
    assert(got(("b", "a")) === ((1L, 1L, 1.0)))
    // row-stochastic: probabilities per from_type sum to 1 exactly
    // (each is n/total with a common total; the sums here are exact)
    assert(got.toSeq.groupBy(_._1._1).forall { case (_, rows) =>
      rows.map(_._2._3).sum === 1.0
    })
  }

  test("a21 closed form: halving per elapsed half-life, exact fixed-point sum") {
    import spark.implicits._
    val now = 1704103200L
    val e = Seq(
      (1L, "c", now, 2.0),                    // age 0  → 2.0  (fp 2097152)
      (1L, "c", now - 86400L, 2.0),           // 1 hl   → 1.0  (fp 1048576)
      (1L, "c", now - 3 * 86400L, 2.0),       // 3 hl   → 0.25 (fp 262144)
      (2L, "v", now - 86399L, 4.0)            // <1 hl  → 4.0  (no decay)
    ).toDF("user_id", "event_type", "ts_sec", "value")
    val got = Temporal.decayedEngagement(e).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got((1L, "c")) === ((3L, 3407872L, 3.25)))
    assert(got((2L, "v")) === ((1L, 4194304L, 4.0)))
  }

  test("a22 concentration: buckets bounded, shares tile, cumulative reaches exactly 1") {
    val rows = Temporal.queries("a22_engagement_concentration")(spark, sfDir)
      .collect().sortBy(_.getLong(0))
    val n = graft.Tables.events(spark, sfDir).count()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(0) >= 0L && r.getLong(0) <= 9L))
    assert(rows.map(_.getLong(2)).sum === n, "buckets tile the event mass")
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-9)
    // cumulative share is monotone and its last value is exactly te/te
    val cums = rows.map(_.getDouble(4))
    assert(cums.zip(cums.drop(1)).forall { case (a, b) => b >= a })
    assert(cums.last === 1.0)
    // the max-activity user guarantees a populated top bucket
    assert(rows.last.getLong(0) === 9L && rows.last.getLong(1) >= 1L)
  }

  test("a21 signed values: decay is floor-div halving, not trunc toward zero") {
    import spark.implicits._
    val now = 1704103200L
    val e = Seq(
      (1L, "c", now, 0.0),                    // pins "now"; contributes 0
      // -3 fp units (floor(-3·2^-20·2^20) = -3) after one half-life:
      // floor(-1.5) = -2 while trunc(-1.5) = -1 — the operator must emit
      // the floor, -2, for halving to mean halving on signed values.
      (1L, "c", now - 86400L, -3.0 / 1048576.0),
      // a plain negative value, 2 half-lives: floor(-5·2^20 / 4)
      (2L, "v", now, 0.0),
      (2L, "v", now - 2 * 86400L, -5.0)
    ).toDF("user_id", "event_type", "ts_sec", "value")
    val got = Temporal.decayedEngagement(e).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got((1L, "c")) === -2L,
      "floor(-3/2) must be -2; trunc-div would give -1")
    assert(got((2L, "v")) === (-5L * 1048576L) / 4L,
      "-5·2^20 is divisible by 4, so floor and trunc agree here")
  }

  test("s27 day-decay rollup: per-DAY floor, signed floor division, global now_day") {
    import spark.implicits._
    // now_day = 2 (global max). user 1: day-0 sum 100 decays by 2
    // shifts → floor(100/4) = 25; day-2 sum 101 undecayed → 126 total.
    // user 2's single negative day-1 sum −7 must floor: −((7+1) div 2)
    // = −4 = floor(−3.5), not trunc's −3.
    val sums = Seq(
      (1L, "a", 0L, 1L, 100L),
      (1L, "a", 2L, 2L, 101L),
      (2L, "b", 1L, 1L, -7L)).toDF("user_id", "event_type", "day", "n_events", "sum_vfp")
    val got = Temporal.dayDecayRollup(sums).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      (1L, "a", 3L, 126L, 126.0 / 1048576.0),
      (2L, "b", 1L, -4L, -4.0 / 1048576.0)))
  }

  test("a23 inter-arrival spectrum: buckets tile powers of two, gap population = events minus users") {
    import org.apache.spark.sql.functions._
    val rows = Temporal.queries("a23_interarrival_spectrum")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (b, n, lo, hi, mean) =>
      assert(n > 0)
      if (b == 0L) { assert(lo === 0L && hi === 0L) }
      else {
        assert(lo >= (1L << (b - 1).toInt) && hi < (1L << b.toInt), s"bucket $b range")
      }
      assert(mean >= lo.toDouble && mean <= hi.toDouble, s"bucket $b mean")
    }
    // every event except each user's first contributes exactly one gap
    val ev = graft.Tables.events(spark, sfDir)
    val expected = ev.count() - ev.select(countDistinct(col("user_id"))).head().getLong(0)
    assert(rows.map(_._2).sum === expected)
  }

  test("a24 growth accounting hand trace: new/retained/resurrected/churned ledger") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // weeks on the epoch-day div-7 grid: 1970-01-01 = wk0, +7d = wk1, +14d = wk2
    // A: wk0, wk1          (retained at wk1, churned at wk2)
    // B: wk0               (churned at wk1)
    // C: wk0, wk2          (churned at wk1, resurrected at wk2)
    // D: wk2               (new at wk2)
    val dir = SparkSpec.tmpDir("graft-a24")
    try {
      Seq(
        ("A", "1970-01-01 10:00:00"), ("A", "1970-01-08 10:00:00"),
        ("A", "1970-01-01 11:00:00"), // same-week repeat: must not double-count
        ("B", "1970-01-02 10:00:00"),
        ("C", "1970-01-03 10:00:00"), ("C", "1970-01-15 10:00:00"),
        ("D", "1970-01-16 10:00:00"))
        .toDF("u", "s")
        .select(hash(col("u")).cast("long").as("user_id"), to_timestamp(col("s")).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = Temporal.queries("a24_growth_accounting")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSeq
      assert(got === Seq(
        (0L, 3L, 3L, 0L, 0L, 0L),  // A,B,C all new
        (1L, 1L, 0L, 1L, 0L, 2L),  // A retained; B,C churned
        (2L, 2L, 1L, 0L, 1L, 1L))) // D new, C resurrected; A churned
      // the accounting identity holds row by row
      got.foreach { case (_, act, nw, ret, res, _) => assert(act === nw + ret + res) }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a24 silent week: churn dated into a week with zero actives still gets its ledger row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // A: wk0 only; B: wk0, wk2. wk1 has NO active user, but A and B both
    // churn at wk1 — the full-outer week spine must emit (wk1, 0 active,
    // 2 churned) instead of dropping the week (the pre-round-12 left join
    // silently undercounted total churn by exactly such rows).
    val dir = SparkSpec.tmpDir("graft-a24s")
    try {
      Seq(("A", "1970-01-01 10:00:00"),
        ("B", "1970-01-02 10:00:00"), ("B", "1970-01-15 10:00:00"))
        .toDF("u", "s")
        .select(hash(col("u")).cast("long").as("user_id"), to_timestamp(col("s")).as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = Temporal.queries("a24_growth_accounting")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSeq
      assert(got === Seq(
        (0L, 2L, 2L, 0L, 0L, 0L),  // A, B new
        (1L, 0L, 0L, 0L, 0L, 2L),  // SILENT week: nobody active, both churned
        (2L, 1L, 0L, 0L, 1L, 0L))) // B resurrected
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a24 on the fixture: identities hold (active = new+retained+resurrected, sum(new) = users)") {
    import org.apache.spark.sql.functions._
    val rows = Temporal.queries("a24_growth_accounting")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (wk, act, nw, ret, res, _) =>
      assert(act === nw + ret + res, s"wk $wk identity")
    }
    val users = graft.Tables.events(spark, sfDir)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(rows.map(_._3).sum === users, "every user is new exactly once")
    // churned_w <= active_{w-1}, and the first week churns nobody
    val byWk = rows.map(r => r._1 -> r).toMap
    rows.foreach { case (wk, _, _, _, _, ch) =>
      byWk.get(wk - 1) match {
        case Some((_, prevAct, _, _, _, _)) => assert(ch <= prevAct, s"wk $wk churn bound")
        case None => assert(ch === 0L, s"wk $wk: no prior week, churn must be 0")
      }
    }
  }
}
