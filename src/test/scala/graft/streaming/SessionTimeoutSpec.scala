package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.SparkSpec
import graft.sources.EnvelopeSynthSource

case class SessEv(shard_id: String, arrival_ts: java.sql.Timestamp, ts_ms: Long)
case class SessAcc(n: Long, minTs: Long, maxTs: Long)
/** One row of `Envelope.schema`. */
case class EnvelopeRow(shard_id: String, partition_key: String, sequence_number: Long,
    arrival_ts: java.sql.Timestamp, data: String)

/** True streaming sessionization: flatMapGroupsWithState with
  * EventTimeTimeout — sessions are emitted when the WATERMARK passes
  * session-end + gap, i.e. by the passage of (event) time, not by seeing
  * a terminator record. This is the streaming counterpart of batch
  * a03/a04 and the state-timeout surface the reference's per-shard
  * lifecycle (§2.5) maps onto when chunks become unbounded.
  */
class SessionTimeoutSpec extends SparkSpec {

  test("event-time timeout emits closed sessions once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[EnvelopeRow]
    // burst 1: the source's records 1..100 over 4 shards, ts base+1..base+100 ms
    // (one session per shard)
    val burst = synthBatch(100, 4).as[EnvelopeRow].collect().toSeq
    // watermark drivers on DISJOINT keys (same-key data would extend the
    // open sessions instead of letting them time out): one row two hours
    // of event time ahead advances the watermark, and one more row after
    // it gives the engine a batch that RUNS with that watermark — timeouts
    // fire during batch processing, and the watermark lags one batch.
    // Each lands in its own micro-batch, after every burst-1 row.
    def driver(shard: String, seq: Long) = burst.head.copy(shard_id = shard, sequence_number = seq,
      arrival_ts = new java.sql.Timestamp(EnvelopeSynthSource.BaseTsMicros / 1000 + seq))
    val arrivals = Seq(burst, Seq(driver("wm-driver-1", 7200000L)), Seq(driver("wm-driver-2", 7300000L)))

    val gapMs = 60000L
    // the watermark column must remain visible to the stateful operator
    val typed = mem.toDF()
      .withWatermark("arrival_ts", "10 seconds")
      .select(col("shard_id"), col("arrival_ts"), unix_millis(col("arrival_ts")).as("ts_ms"))
      .as[SessEv]

    val sessions = typed
      .groupByKey(_.shard_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (shard: String, evs: Iterator[SessEv], state: GroupState[SessAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator((shard, s.n, s.maxTs - s.minTs))
          } else {
            var s = state.getOption.getOrElse(SessAcc(0L, Long.MaxValue, Long.MinValue))
            evs.foreach { e =>
              s = SessAcc(s.n + 1, math.min(s.minTs, e.ts_ms), math.max(s.maxTs, e.ts_ms))
            }
            state.update(s)
            // clamp: a session fed by late (sub-watermark) data must still
            // set a timeout at/after the watermark or the engine rejects it
            state.setTimeoutTimestamp(
              math.max(s.maxTs + gapMs, state.getCurrentWatermarkMs + 1))
            Iterator.empty
          }
      }
      .toDF("shard_id", "n_events", "duration_ms")

    val q = sessions.writeStream
      .format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append())
      .start()
    try arrivals.foreach { rows => mem.addData(rows); q.processAllAvailable() }
    finally q.stop()

    val got = spark.table("sessions_out").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // burst-1 sessions (one per shard) closed by the watermark, and so did
    // wm-driver-1's (driver-2 pushed the watermark past its gap); only the
    // last session standing (wm-driver-2) is open and correctly NOT emitted
    val expected = burst.groupBy(_.shard_id).map { case (shard, rows) =>
      val seqs = rows.map(_.sequence_number)
      shard -> ((seqs.size.toLong, seqs.max - seqs.min)) // session span = ms span of its seqs
    }
    assert(got.size === expected.size + 1, s"4 shard sessions + wm-driver-1: $got")
    assert(got.contains("wm-driver-1") && !got.contains("wm-driver-2"))
    assert(got - "wm-driver-1" === expected)
  }

  test("s12 session fold: strict-1800s boundary, order-freeness, degenerate inputs") {
    def ev(id: Long, t: Long, typ: String = "click") = SessEvent(7L, id, t, typ)

    // gap of exactly 1800 s stays ONE session (strict > breaks)
    val exact = StreamingQueries.splitSessions(7L, Seq(ev(1, 1000), ev(2, 2800)))
    assert(exact.map(s => (s.start_sec, s.end_sec, s.n_events)) === Seq((1000L, 2800L, 2L)))

    // 1801 s splits
    val split = StreamingQueries.splitSessions(7L, Seq(ev(1, 1000), ev(2, 2801)))
    assert(split.map(s => (s.start_sec, s.end_sec)) === Seq((1000L, 1000L), (2801L, 2801L)))

    // the fold sorts its own input: shuffled arrival order changes nothing
    val shuffled = StreamingQueries.splitSessions(7L, Seq(ev(2, 2801), ev(1, 1000)))
    assert(shuffled === split)

    // chain of ≤1800 gaps never splits even when first-to-last exceeds it
    val chain = StreamingQueries.splitSessions(7L,
      Seq(ev(1, 0), ev(2, 1800), ev(3, 3600), ev(4, 5400)))
    assert(chain.map(s => (s.start_sec, s.end_sec, s.n_events)) === Seq((0L, 5400L, 4L)))

    // n_types counts distinct event types per session, not globally
    val types = StreamingQueries.splitSessions(7L,
      Seq(ev(1, 0, "a"), ev(2, 10, "b"), ev(3, 5000, "a")))
    assert(types.map(_.n_types) === Seq(2L, 1L))

    // degenerate inputs
    assert(StreamingQueries.splitSessions(7L, Nil) === Nil)
    assert(StreamingQueries.splitSessions(7L, Seq(ev(1, 42))).map(_.n_events) === Seq(1L))
  }
}
