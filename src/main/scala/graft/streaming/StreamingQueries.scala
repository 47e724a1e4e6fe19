package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQueryListener, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import graft.Tables
import graft.operators.dsum

/** Structured Streaming queries over the `events` table, run to completion
  * with `Trigger.AvailableNow` into a memory sink so the final answer is a
  * plain DataFrame — which makes REAL streaming execution (micro-batches,
  * state store, complete/append modes) verifiable against the batch DuckDB
  * oracle. This is the §2 capability-parity surface executed the way the
  * reference executes: as a stream.
  *
  * events.ts has shipped as both INT64 TIMESTAMP(NANOS) and `timestamp[us]`
  * parquet across testdata generations; the stream schema is derived from a
  * batch footer probe at plan time and the ts rebuild adapts
  * (`Tables.adaptiveTs`) — a declared-schema stream can't infer, so probing
  * is the only drift-proof option.
  */
case class UserEvent(user_id: Long, event_id: Long, ts_sec: Long)
case class UserState(n: Long, minId: Long, maxTs: Long)
case class SessEvent(user_id: Long, event_id: Long, ts_sec: Long, event_type: String)
case class SessionRow(user_id: Long, start_sec: Long, end_sec: Long,
                      n_events: Long, n_types: Long)
case class UserStateOut(user_id: Long, n_events: Long, min_event_id: Long, max_ts_sec: Long)
case class LastEvent(ts_sec: Long, event_id: Long, event_type: String)
case class Transition(user_id: Long, from_type: String, to_type: String)
case class PackDoc(doc_id: Long, source: String, n_tokens: Long)
case class PackedDoc(doc_id: Long, source: String, n_tokens: Long,
    start_off: Long, first_seq: Long, last_seq: Long, n_seqs: Long)

/** s14: the s04 per-user fold re-expressed in Spark 4's arbitrary-state v2
  * API (`transformWithState`) — typed ValueState on the RocksDB store,
  * replacing mapGroupsWithState's single opaque blob with named, schema'd,
  * independently-evolvable state variables. Order-free like s04's fold, so
  * the emission is exact under the same oracle.
  */
class UserStateProcessor extends StatefulProcessor[Long, UserEvent, UserStateOut] {
  @transient private var st: ValueState[UserState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[UserState]("agg", Encoders.product[UserState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                               tv: TimerValues): Iterator[UserStateOut] = {
    val next = StreamingQueries.userStep(if (st.exists()) Some(st.get()) else None, rows)
    st.update(next)
    Iterator.single(UserStateOut(key, next.n, next.minId, next.maxTs))
  }
}

object StreamingQueries {

  private val runIds = new AtomicInteger(0)

  /** `table` as a bounded file stream.
    *
    * File streams require a declared schema, so we take the batch footer's
    * (`Tables.parquet`: inferred once per JVM, no Spark job after that)
    * and declare whatever physical encoding the current testdata carries.
    * Hard-coding the schema is what silently corrupted 11 streaming
    * queries when the testdata's ts encoding changed under us
    * (nanos-as-long read as raw µs compressed every timestamp 1000×); the
    * embeddings label column has likewise shipped as both int32 and int64.
    */
  private def tableStream(s: SparkSession, dir: String, table: String): DataFrame =
    s.readStream
      .schema(Tables.parquet(s, s"$dir/$table.parquet").schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)

  /** events as a bounded file stream (ts: µs timestamp): the ts rebuild
    * branches on the probed encoding the same way the batch loader does.
    */
  private def eventsStream(s: SparkSession, dir: String): DataFrame =
    Tables.adaptiveTs(tableStream(s, dir, "events"))

  /** Run `df` (a streaming frame) to completion into a memory sink and
    * return the sink table. One micro-batch per `maxFilesPerTrigger` file
    * set; AvailableNow terminates when the backlog is drained.
    *
    * Stateful operators open and commit one state store per shuffle
    * partition per micro-batch. They run at the partition count of the
    * frame's session (one per core from `CatalogRunner.session`), which
    * the query's first checkpoint pins; nothing here changes a session
    * conf, so concurrent runners on the same session are safe.
    *
    * The memory sink registers its table as a temp view; the returned
    * frame is analyzed against the sink itself, so the view is dropped at
    * once instead of staying registered for the rest of the session.
    */
  private def runToTable(df: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_stream_${runIds.incrementAndGet()}"
    runToEnd(df.writeStream
      .format("memory")
      .queryName(name), mode)
    val table = df.sparkSession.table(name)
    df.sparkSession.catalog.dropTempView(name)
    table
  }

  /** Start `w` in `mode` under AvailableNow and block until it has
    * drained the backlog and terminated.
    */
  private def runToEnd(w: DataStreamWriter[Row], mode: OutputMode): Unit =
    w.outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** K3/C4-shaped sink runner: micro-batches land in a parquet directory
    * through `foreachBatch` guarded by [[SinkRetry]] — the
    * producer-with-retry topology of the reference's Kinesis sink (emit
    * batch, retry transient errors on the composed schedule, fail loud on
    * anything else). Used by s09 so the retry wrapper sits on a
    * hard-gated query, not just in specs; with no injected faults the
    * result is identical to the memory-sink runner. The sink dir is a
    * `Materialize.scratchPath`, made before the stream starts, so a stream
    * with no rows reads back as an empty frame.
    */
  private def runViaRetryingSink(df: DataFrame, mode: OutputMode): DataFrame = {
    val s = df.sparkSession
    val out = graft.Materialize.scratchPath(s, "retry_sink")
    val dir = new org.apache.hadoop.fs.Path(out)
    dir.getFileSystem(s.sparkContext.hadoopConfiguration).mkdirs(dir)
    runToEnd(df.writeStream
      .foreachBatch(SinkRetry.foreachBatchWithRetry() { (batch, _) =>
        batch.write.mode("append").parquet(out)
      }), mode)
    s.read.schema(df.schema).parquet(out)
  }

  /** s17 core: run `stream` (any frame with a double `value` column) to
    * completion under AvailableNow, observing per-micro-batch quality
    * metrics, and fold them across batches — longs add, the value mass
    * folds as exact decimals. Returns (1-row folded frame, n_batches) so
    * the spec can assert the fold really crossed batch boundaries.
    */
  private[streaming] def observeQuality(stream: DataFrame): (DataFrame, Int) = {
    import scala.jdk.CollectionConverters._
    val s = stream.sparkSession
    val name = s"graft_stream_obs_${runIds.incrementAndGet()}"
    // Per-batch metrics come from a StreamingQueryListener registered for
    // THIS run, not from q.recentProgress: recentProgress is a ring buffer
    // capped at spark.sql.streaming.numRecentProgressUpdates (default
    // 100), so an AvailableNow run that splits into >100 micro-batches
    // would silently drop the early batches' metrics and undercount the
    // fold. The listener sees every progress event; the terminated event
    // (delivered in order, after all progress events) is the flush
    // barrier that makes the async bus safe to read.
    val metricsBuf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      // started is delivered synchronously inside start(), so runId is
      // set before any progress/terminated event (which carry no name)
      // can race the comparison below
      @volatile private var runId: java.util.UUID = null
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == name) runId = e.runId
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId == runId)
          e.progress.observedMetrics.asScala.get("quality")
            .foreach(r => metricsBuf.synchronized { metricsBuf += r })
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == runId) done.countDown()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    }
    s.streams.addListener(listener)
    val metrics = try {
      // foreachBatch + executor-side noop write, NOT a memory sink: the
      // observation needs every row to FLOW (the batch write forces full
      // evaluation), but nothing needs to land on the driver — a memory
      // sink appends the raw stream driver-side, which the 10× probe
      // measured as the whole cost (5.4 s vs scan-speed) and which at
      // 100 TB is a driver OOM. This is the production shape: observe
      // rides whatever real sink the pipeline already has.
      runToEnd(stream
        .observe("quality",
          count(lit(1)).as("n_rows"),
          count(when(col("value") >= 100.0, 1)).as("n_hi"),
          sum(col("value").cast("decimal(38,6)")).as("sum_value"))
        .writeStream
        .foreachBatch((batch: DataFrame, _: Long) =>
          batch.write.format("noop").mode("overwrite").save())
        .queryName(name), OutputMode.Append())
      if (!done.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(
          "observeQuality: listener bus did not deliver the terminated event " +
            "within 60 s; folding without the barrier could drop batches")
      metricsBuf.synchronized { metricsBuf.toSeq }
    } finally {
      s.streams.removeListener(listener)
    }
    val nRows = metrics.map(_.getAs[Long]("n_rows")).sum
    val nHi = metrics.map(_.getAs[Long]("n_hi")).sum
    val sumV = metrics
      .flatMap(r => Option(r.getAs[java.math.BigDecimal]("sum_value")))
      .map(BigDecimal(_)).sum
    import s.implicits._
    (Seq((nRows, nHi, sumV.toDouble)).toDF("n_rows", "n_hi", "sum_value"),
      metrics.size)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — the reference's one analytic (global count conservation,
    // FlattenChunksTest.scala:59) as a complete-mode streaming aggregate.
    "s01_stream_count" -> ((s, dir) => {
      val agg = eventsStream(s, dir).groupBy().agg(count(lit(1)).as("n"))
      runToTable(agg, OutputMode.Complete()).orderBy("n")
    }),

    // event-time tumbling windows as a STREAMING aggregation (state-store
    // backed); complete mode emits the final window set, which must equal
    // the batch q17 answer.
    "s02_stream_tumbling" -> ((s, dir) =>
      runToTable(graft.operators.Relational.tumblingWindows(eventsStream(s, dir)),
        OutputMode.Complete()).orderBy("win_start", "event_type")),

    // stream-STATIC enrichment — the most common production streaming
    // join: each micro-batch joins a broadcast dimension (stateless — no
    // state store, no watermark needed), then aggregates. At scale the
    // dimension re-broadcasts per batch and the stream side never
    // shuffles for the join; output = plain batch join answer, so the
    // oracle is ordinary SQL.
    "s10_stream_static_enrich" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
      val agg = eventsStream(s, dir)
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      runToTable(agg, OutputMode.Complete())
        .orderBy("c_mktsegment", "event_type")
    }),

    // watermark FINALIZATION in append mode — the semantic complete-mode
    // s02 cannot show: a window row is emitted exactly once, and only
    // after the event-time watermark (max ts − 30 min) passes its end.
    // With AvailableNow the final no-data micro-batch flushes every
    // window the terminal watermark closed, so the emitted set is
    // deterministic: windows with end ≤ max(ts) − 30 min — which is what
    // the oracle states in closed form. Windows still open at shutdown
    // (the last half hour of data) are correctly ABSENT: that
    // at-most-the-watermark emission contract is the exactly-once story
    // a downstream consumer relies on.
    "s09_stream_append_finalized" -> ((s, dir) => {
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"))
      runViaRetryingSink(agg, OutputMode.Append())
        .orderBy("win_start", "event_type")
    }),

    // TTL-BOUNDED STREAMING DEDUP — s03's unbounded dropDuplicates state
    // is the textbook streaming-dedup memory leak at 100 TB: state grows
    // with distinct keys FOREVER. s22 is the production form: the dedup
    // key carries the 1-hour tumbling window of the WATERMARKED event
    // time, so the watermark evicts finished buckets' state — state is
    // O(keys active in the windows still in flight), never O(all keys
    // ever seen). Emission is deterministic and closed-form (append mode
    // finalizes exactly the windows the terminal watermark passed —
    // s09's discipline): per finalized (window, user, type) bucket, the
    // FIRST event as an order-free struct-min over (ts_sec, event_id),
    // plus how many duplicates the bucket absorbed.
    "s22_stream_dedup_ttl" -> ((s, dir) => {
      runToTable(ttlDedupAgg(eventsStream(s, dir)), OutputMode.Append())
        .orderBy("win_start", "user_id", "event_type")
    }),

    // streaming dedup (C5's exactly-once upgrade path): distinct
    // (user_id, event_type) pairs via dropDuplicates state, append mode.
    "s03_stream_dedup" -> ((s, dir) => {
      val distinctPairs = eventsStream(s, dir)
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
      runToTable(distinctPairs, OutputMode.Append()).orderBy("user_id", "event_type")
    }),

    // A3/A4 — per-key running state via mapGroupsWithState (the per-shard
    // fold + last-processed Ref of CheckpointOnChunkEndStreamClient.scala:
    // 52-85, keyed by user). Order-independent state so the emission is
    // exact however the events are cut into micro-batches.
    "s04_stream_user_state" -> ((s, dir) => userStateFold(userEvents(s, dir))),

    // the NEW stateful API (Spark 4 transformWithState / state v2): s04's
    // exact semantics — same oracle — through a StatefulProcessor with a
    // named typed ValueState on the RocksDB state-store provider, which
    // the API requires. The provider is set on a private child session
    // (`newSession()`: shared SparkContext, own SQLConf — the
    // Materialize.loopSession discipline), so the caller's session never
    // sees it, not even while the stream runs.
    // What the API buys at scale over mapGroupsWithState: named state
    // variables with independent schemas (evolvable without rebuilding
    // the checkpoint), TTL per variable, timers decoupled from output
    // mode — this query pins the engine to the CURRENT state API, not
    // just its deprecated-in-spirit predecessor.
    "s14_stream_tws_state" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      userStateTws(userEvents(s2, dir))
    }),

    // STREAMING OHLC — a12's downsampling as a stateful streaming agg:
    // bars built incrementally from the live event stream (the tick→bar
    // pipeline every metrics/market system runs). min_by/max_by carry
    // their (value, struct-key) pairs through the state store exactly
    // like any other agg state — constant state per open (user, hour)
    // bar; complete mode emits the final bar set, which must equal the
    // batch a12 answer — same oracle.
    "s16_stream_ohlc" -> ((s, dir) =>
      runToTable(graft.operators.Temporal.ohlcBars(eventsStream(s, dir)), OutputMode.Complete())
        .orderBy("user_id", "hour")),

    // STREAMING OBSERVABILITY — `Dataset.observe()`: named aggregate
    // metrics computed ON the stream as it flows (no second pass, no
    // separate query), surfaced per micro-batch in the query progress.
    // Production uses exactly this for data-quality circuit breakers:
    // row counts, domain-violation counts, value mass per batch, alerted
    // on from the listener bus while the pipeline runs. Deterministic
    // under AvailableNow, so observability itself sits under the hard
    // gate: the per-batch metrics folded across all batches (longs add;
    // the value sum folds as exact decimals) must equal the batch
    // answer over the same input. At scale observe() costs one
    // accumulator update per row inside the existing pass — nothing
    // shuffles, nothing is collected but the per-batch scalar row.
    "s17_stream_observe" -> ((s, dir) => observeQuality(eventsStream(s, dir))._1),

    // STREAMING CDC APPLY — q51 run as a stream: the latest-wins merge
    // folds per micro-batch in the state store (max_by keeps ONE
    // (ordering-key, value) pair per user — constant state per key, the
    // reason CDC compaction streams at any key cardinality), complete
    // mode emits the final state, tombstones filter on the way out. The
    // streamed answer must equal batch q51 under the same oracle — the
    // batch↔stream parity pattern of a12/s16.
    "s18_stream_cdc" -> ((s, dir) => graft.operators.Relational.cdcApply(
      eventsStream(s, dir), runToTable(_, OutputMode.Complete()))),

    // session windows as a STREAMING aggregation (state-store session
    // merging, the dynamic-gap machinery a04 runs in batch): complete
    // mode emits the final merged session set, which must equal the batch
    // a04 answer — same oracle. countDistinct is unsupported in
    // streaming; size(collect_set(...)) computes the identical value.
    "s08_stream_sessions" -> ((s, dir) =>
      runToTable(graft.operators.Temporal.sessionWindows(eventsStream(s, dir),
          size(collect_set(col("event_type"))).cast("long")), OutputMode.Complete())
        .orderBy("user_id", "session_start")),

    // stream-stream interval self-join UNDER THE ORACLE GATE (the spec
    // suite exercises the mechanism on sharded files; this pins the
    // ANSWER): same-user event pairs within 10 minutes, both sides
    // watermarked, append mode. Inner SS-join state is range-bounded by
    // the watermark at scale; with AvailableNow the emission is exactly
    // the batch join's answer, which is what DuckDB computes.
    "s07_stream_stream_join" -> ((s, dir) => followUps(s, dir, "inner")),

    // stream-stream LEFT OUTER join — the production shape for "did this
    // event get a follow-up?": same-user follow-ups within 10 minutes;
    // rows with none emit ONCE, with nulls, when the watermark closes
    // their join window (left state evicted unmatched). Under AvailableNow
    // the final no-data batch advances the watermark to max(ts) − 30 min,
    // so the emitted set is deterministic and closed-form: all matched
    // pairs, plus null rows exactly for the unmatched left rows whose
    // 10-minute window that terminal watermark passed — left rows still
    // inside it are correctly ABSENT (the at-most-the-watermark contract,
    // same as s09). State is range-bounded by the watermark at scale.
    "s11_stream_left_outer" -> ((s, dir) => followUps(s, dir, "left_outer")),

    // custom per-key session state via flatMapGroupsWithState — the
    // reference's fold-with-Ref pattern (CheckpointOnChunkEndStreamClient
    // .scala:52-85) generalized to MULTI-ROW emission per key: one output
    // row per session, split on >30 min gaps. The group iterator is
    // unordered (shuffle order), so the fold sorts its own events — the
    // state logic must be order-free to be exactly-once, same discipline
    // as s04. Semantics mirror a03's batch sessionization (strict >30 min
    // break on second-truncated time), so the oracle is the same
    // lag/running-sum SQL.
    "s12_stream_custom_sessions" -> ((s, dir) => {
      import s.implicits._
      val sessions = sessEvents(s, dir)
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[SessEvent], state: GroupState[Long]) =>
            splitSessions(user, rows.toSeq).iterator
        }
      val df = sessions.toDF()
        .select(col("user_id"),
          date_format(timestamp_seconds(col("start_sec")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(timestamp_seconds(col("end_sec")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("n_types"))
      runToTable(df, OutputMode.Append())
        .orderBy("user_id", "session_start")
    }),

    // STREAMING TRANSITION MATRIX — a17's streaming twin, and the only
    // catalog entry whose state is a per-key LAST EVENT carried ACROSS
    // micro-batches: the first event of batch n+1 pairs with the last
    // event of batch n (the reference's per-shard "last processed" Ref,
    // A4, promoted from a watermark to a join operand). Per batch each
    // user's rows sort locally, chain onto the carried event, and emit
    // one (from, to) row per consecutive pair; the matrix rollup runs on
    // the sink table (batch side). State is O(users) × one event — the
    // smallest possible; emission is append-only so the sink never
    // rewrites. Oracle = a17's batch SQL: batching must be answer-
    // invisible, which TransitionStreamSpec pins by re-running the same
    // events split 1-file-per-batch.
    "s21_stream_transitions" -> ((s, dir) =>
      transitionRollup(runToTable(transitionsStream(sessEvents(s, dir)), OutputMode.Append()))),

    // CHAINED time-window aggregations — TWO stateful operators in ONE
    // streaming query (the multi-stateful-operator support of Spark
    // 3.5+): hourly counts per type, re-aggregated into daily rollups of
    // those hourly counts. Stage 2's event-time column IS stage 1's
    // window struct. Both stages watermark-finalize in append mode, so
    // the emitted set is closed-form (s09's contract, one level up):
    // exactly the days whose end the terminal watermark passed. A day
    // finalizes only after all its hours did (hour end ≤ day end ≤ wm),
    // so the chain introduces no new emission edge cases.
    "s13_stream_chained_windows" -> ((s, dir) => {
      val hourly = eventsStream(s, dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour").as("hw"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val daily = hourly
        .groupBy(window(col("hw"), "1 day").as("dw"), col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum("n_events").as("n_day"),
          max("n_events").as("max_hourly"))
        .select(date_format(col("dw.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n_hours"), col("n_day"), col("max_hourly"))
      runToTable(daily, OutputMode.Append())
        .orderBy("day", "event_type")
    }),

    // S1 under the hard gate: the engine's OWN DSv2 source (the
    // shardedStream analog) driven through real micro-batch execution —
    // 32 shards, 4 admission-controlled batches of 25k — then the
    // reference topology (decode → count, FlattenChunksTest.scala:35-53).
    // The source is deterministic, so the oracle is closed form: n = R,
    // sum(id) = R(R+1)/2 proves every record arrived exactly once AND
    // decoded (a dropped batch, duplicated offset range, or mangled JSON
    // all break the sum).
    "s05_synth_source_count" -> ((s, dir) => {
      val agg = Envelope.decoded(synthStream(s)).groupBy()
        .agg(count(lit(1)).as("n"), sum(col("id").cast("long")).as("sum_id"))
      runToTable(agg, OutputMode.Complete()).orderBy("n")
    }),

    // A4 on the DSv2 source: the engine's per-shard fold
    // (Pipelines.perShardState — record count + last sequence number, the
    // per-shard "last processed" Ref of
    // CheckpointOnChunkEndStreamClient.scala:52-85), its last emission per
    // shard. Oracle = the same routing hash evaluated driver-side in plain
    // Scala — independent of every distributed moving part under test
    // (partition planning, offset ranges, batch assembly).
    "s06_synth_source_shards" -> ((s, dir) =>
      lastEmission(Pipelines.perShardState(Envelope.decoded(synthStream(s)))
        .toDF("shard_id", "n", "last_seq"), "shard_id")
        .select(col("shard_id"), col("last.n"), col("last.last_seq"))
        .orderBy("shard_id")),

    // STREAMING CURATION GATES — p02's gate chain (quality → language →
    // deterministic mixture sampling) run as a structured stream over the
    // documents table: the stateless gates execute per micro-batch at
    // scan speed (no state store, no watermark — the same narrow maps as
    // batch), and only the per-source admission tally is stateful. This
    // is the shape a continuous-ingest curation pipeline has in
    // production: gates on the stream, manifest as a complete-mode agg.
    // Because every gate is deterministic, the streamed answer equals the
    // batch answer and the same oracle gates both.
    "s15_stream_curation_gates" -> ((s, dir) =>
      runToTable(graft.operators.Curation.mixAdmitted(tableStream(s, dir, "documents")),
        OutputMode.Complete()).orderBy("source")),

    // STREAMING NEAR-DUP GATE — d05's SimHash sketch applied as a
    // continuous-ingest dedup filter: sketch each arriving document
    // (scalar codegen'd expressions, no state), drop any doc whose sketch
    // was already admitted (dropDuplicates state store — the streaming
    // form of "have I seen this content before"), census the admitted
    // sketches. Everything downstream of the dedup keys on the SKETCH
    // (shard = pmod(sketch, 8)), never on the surviving row's other
    // columns — which row of a duplicate pair survives depends on arrival
    // order, but its sketch doesn't, so the streamed answer is
    // deterministic and the batch oracle (distinct sketches per shard;
    // HUGEINT-vs-signed mod agrees because 8 divides 2^64) gates it
    // exactly. State is O(distinct sketches); on an unbounded production
    // stream this key set grows with the corpus, so the real-time form
    // bounds it with dropDuplicatesWithinWatermark (C5's events-side
    // dedup shows that pattern) — the bounded-ingest gate here is the
    // backfill/catch-up shape.
    "s19_stream_neardup_gate" -> ((s, dir) => {
      import graft.functions.TextFunctions.wordShingles
      import graft.functions.HashingFunctions.simhash64
      val agg = tableStream(s, dir, "documents")
        .select(wordShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(simhash64(col("sh")).as("simhash"))
        .dropDuplicates("simhash")
        .groupBy(pmod(col("simhash"), lit(8L)).as("sketch_shard"))
        .agg(count(lit(1)).as("n_unique"))
      runToTable(agg, OutputMode.Complete()).orderBy("sketch_shard")
    }),

    // STREAMING QUOTA SAMPLE — t21's deterministic exactly-k-per-source
    // sample maintained CONTINUOUSLY: the TopKAggregator's k-bounded
    // buffer rides the state store (state = k (score, id) pairs per
    // source, CONSTANT as the stream grows — the streaming version of the
    // "shuffle carries k rows, not the corpus" argument), so at every
    // micro-batch the store holds the current sample of everything
    // ingested so far. The hash rank is arrival-order-free (a doc's rank
    // never depends on when it arrived), so the streamed sample equals
    // the batch sample and t21's window-form oracle gates it exactly.
    // The posexplode runs on the materialized result, batch-side — the
    // streaming plan is pure bounded-state agg.
    // STREAM/BATCH GATE PARITY — p01's quality + language gates run
    // under Structured Streaming, per-source disposition counts in
    // Complete mode. The gates are stateless scan expressions, so the
    // only state is the per-source counter row — micro-batching must be
    // answer-invisible, and the oracle states the gates in batch SQL
    // (the same scoreExprs/langCase text p01's oracle uses). This is
    // the ingest-time shape of curation: score at the edge, admit
    // counts per source, leave the corpus-level stages (dedup,
    // contamination) to the batch pipeline.
    "s23_stream_gate_counts" -> ((s, dir) => {
      import graft.functions.TextFunctions.{langId, qualityScore}
      val q = graft.operators.Curation.QualityMin
      val g = tableStream(s, dir, "documents")
        .select(col("source"),
          (qualityScore(col("text")) >= q).as("q_ok"),
          (langId(col("text")) === "en").as("l_ok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("q_ok"), 1L).otherwise(0L)).as("n_q_ok"),
          sum(when(col("l_ok"), 1L).otherwise(0L)).as("n_l_ok"),
          sum(when(col("q_ok") && col("l_ok"), 1L).otherwise(0L)).as("n_pass"))
      runToTable(g, OutputMode.Complete()).orderBy("source")
    }),

    "s20_stream_quota_sample" -> ((s, dir) => graft.operators.TextAnalysis.quotaSample(
      tableStream(s, dir, "documents"), runToTable(_, OutputMode.Complete()))),

    // STREAMING SEQUENCE PACKING — t11's training-sequence packer as an
    // incremental pipeline: the per-source token offset is the ONLY state
    // (one Long per source, carried across micro-batches in GroupState),
    // each batch's docs fold onto it in doc_id order and emit their pack
    // coordinates append-only. The batch/stream parity contract is the
    // oracle itself: the driver checks this output against t11's SQL
    // verbatim (one definition — the s23 discipline), and the multi-batch
    // carry is pinned by PackStreamSpec on a crafted 2-file input.
    // Cross-batch exactness assumes per-source batch-monotonic doc_id
    // arrival (s21's caveat; holds for the single-file fixture and for
    // any ingest that appends in id order).
    "s24_stream_pack" -> ((s, dir) => {
      import s.implicits._
      val typed = tableStream(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokenCountWs(col("text")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
        .as[PackDoc]
      val packed = typed.groupByKey(_.source)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
          (src: String, rows: Iterator[PackDoc], state: GroupState[Long]) =>
            val (out, cum) = packStep(src, rows.toSeq,
              state.getOption.getOrElse(0L))
            state.update(cum)
            out.iterator
        }
      runToTable(packed.toDF(), OutputMode.Append())
        .orderBy("doc_id")
    }),

    // STREAMING BURST DETECTION — a19's rate-anomaly audit as a live
    // monitor: the streaming side maintains ONLY the (type, hour) counts
    // (Complete-mode agg, state ≤ |types|·|hours| rows), and the flag
    // arithmetic runs on the drained result through the SAME
    // Temporal.burstRollup a19 uses (the s24 one-definition rule for
    // Scala, the s23 rule for the oracle: a19's SQL verbatim).
    "s25_stream_burst" -> ((s, dir) => {
      val m = eventsStream(s, dir)
        .select(col("event_type"), expr("cast(ts as long) div 3600").as("hr"))
        .groupBy("event_type", "hr")
        .agg(count(lit(1)).as("n"))
      graft.operators.Temporal.burstRollup(
        runToTable(m, OutputMode.Complete()))
    }),

    // STREAMING α-RATE ADMISSION — p12's mixture plan ENFORCED at the
    // ingest edge: the batch-side plan (yesterday's corpus stats → per-
    // source rate_ppm) joins the document stream STREAM-STATIC and
    // admission is the p08 hash-threshold discipline — admit iff
    // pmod(xxhash64(doc_id), 10⁶) < rate_ppm. Stateless per row (the
    // rates broadcast; no state store beyond the Complete-mode tally),
    // deterministic under task retry AND arrival order (the hash is row
    // identity), so the streamed admission equals the batch predicate
    // and ONE oracle gates plan + enforcement together — the
    // plan/enforcement pair cannot drift (the s24/s25 parity-by-
    // construction discipline). Expected admitted tokens ≈
    // planned_tokens source by source; that closeness is d16-style
    // estimator honesty and is what the report surfaces.
    "s26_stream_alpha_admit" -> ((s, dir) => {
      import graft.functions.TextFunctions.tokenCountWs
      val rates = graft.operators.Curation.queries("p12_alpha_mixture")(s, dir)
        .select(col("source"), col("rate_ppm"))
      val agg = tableStream(s, dir, "documents")
        .select(col("doc_id"), col("source"), tokenCountWs(col("text")).as("nt"))
        .filter(col("nt") > 0)
        .join(broadcast(rates), "source")
        .filter(pmod(xxhash64(col("doc_id")), lit(1000000L)) < col("rate_ppm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_admitted"), sum("nt").as("admitted_tokens"))
      runToTable(agg, OutputMode.Complete())
        .join(rates, "source")
        .select(col("source"), col("rate_ppm"), col("n_admitted"),
          col("admitted_tokens"))
        .orderBy("source")
    }),

    // STREAMING LEADERBOARD — top-5 users per event type by running
    // event count. The stream maintains ONLY the additive per-(type,
    // user) counts (Complete-mode hash agg: state = |active pairs| rows,
    // map-side combined, never per-event); the rank is a read-time
    // window over that state table, so the leaderboard is recomputed
    // from O(state) work per refresh, not O(stream). Ties pinned by
    // (n DESC, user_id ASC). Batch/stream parity by construction: the
    // oracle is the same groupBy+rank over the events table.
    "s28_stream_topk" -> ((s, dir) => {
      val m = eventsStream(s, dir)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n_events"))
      val t = runToTable(m, OutputMode.Complete())
      val w = Window.partitionBy("event_type")
        .orderBy(col("n_events").desc, col("user_id").asc)
      t.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("event_type", "rank", "user_id", "n_events")
        .orderBy("event_type", "rank")
    }),

    // STREAMING DECAYED ENGAGEMENT — a21's recency feature maintained
    // incrementally: the stream keeps ONLY additive per-(user, type,
    // calendar-day) fixed-point sums (Complete-mode agg; state = active
    // triples, never per-event), and the decay applies at read time
    // through Temporal.dayDecayRollup — the forward-maintainable form of
    // the feature (per-DAY floor, a deliberately documented variant of
    // a21's per-event floor; identical when a day holds one event). The
    // rollup core is shared with the spec pins (the s24/s25
    // one-definition rule) and the oracle restates the day-sum + decay
    // chain end to end.
    "s27_stream_decay" -> ((s, dir) => {
      val m = eventsStream(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("cast(ts as long) div 86400").as("day"),
          expr("CAST(floor(value * 1048576.0) AS BIGINT)").as("vfp"))
        .groupBy("user_id", "event_type", "day")
        .agg(count(lit(1)).as("n_events"), sum("vfp").as("sum_vfp"))
      graft.operators.Temporal.dayDecayRollup(
        runToTable(m, OutputMode.Complete()))
    }),

    // STREAMING GROWTH ACCOUNTING — a24's weekly new/retained/
    // resurrected/churned ledger fed live (the s27 shape): streaming
    // state is the ADDITIVE (user_id, wk) presence table — Complete-mode
    // count agg, one row per user-week, no lag/lead anywhere near the
    // stream — and the drained state runs through Temporal.growthLedger,
    // the SAME core a24 compiles to, so batch/stream parity holds by
    // construction (one definition of the ledger, one oracle). Week =
    // the epoch-day div-7 integer grid; state is |user-weeks| rows.
    "s29_stream_growth" -> ((s, dir) => {
      val uw = eventsStream(s, dir)
        .select(col("user_id"),
          expr("datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7").as("wk"))
        .groupBy("user_id", "wk")
        .agg(count(lit(1)).as("n"))
      graft.operators.Temporal.growthLedger(
        runToTable(uw, OutputMode.Complete())
          .select("user_id", "wk"))
    }),

    // STREAMING OUTLIER GATE — e29's fence ENFORCED at the embedding
    // ingest edge (the s26 shape: batch derives the policy, the stream
    // applies it): per-label centroids + mean−2σ fences come from the
    // STANDING corpus (Similarity's shared cores — one definition, one
    // oracle chain for audit AND enforcement), broadcast stream-static;
    // each arriving vector is scored on the same ppb1 grid and admitted
    // iff it clears its label's fence. Stateless per row + a
    // |labels|-row Complete-mode tally — arrival order, micro-batch
    // boundaries, and retries cannot move a count.
    "s30_stream_outlier_gate" -> ((s, dir) => {
      import graft.operators.Similarity
      val eStatic = graft.Tables.embeddings(s, dir)
      val gate = Similarity.centroidFences(Similarity.centroidPpb1(eStatic))
        .select(col("label"), col("fence_ppb1"))
        .join(Similarity.ownLabelCentroids(eStatic)
          .select(col("label").cast("long").as("label"), col("centroid")), "label")
      val tally = tableStream(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
        .join(broadcast(gate), "label")
        // the ppb1 expression is centroidPpb1's verbatim (the score must
        // be the one the fence was derived on)
        .select(col("label"),
          (floor((graft.functions.VectorFunctions.cosine_similarity(
            col("embedding"), col("centroid")) + lit(1.0)) * lit(1.0e9))
            .cast("long") >= col("fence_ppb1")).as("admit"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_seen"),
          sum(when(col("admit"), 1L).otherwise(0L)).as("n_admitted"),
          sum(when(!col("admit"), 1L).otherwise(0L)).as("n_rejected"))
      runToTable(tally, OutputMode.Complete())
        .join(broadcast(gate.select("label", "fence_ppb1")), "label")
        .select("label", "n_seen", "n_admitted", "n_rejected", "fence_ppb1")
        .orderBy("label")
    })
  )

  /** Reference topology scale: 100k records over 32 shards. */
  val SynthRecords = 100000L
  val SynthShards = 32

  private def synthStream(s: SparkSession): DataFrame =
    s.readStream.format("graft.sources.EnvelopeSynthSource")
      .option("records", SynthRecords.toString)
      .option("shards", SynthShards.toString)
      .option("maxRecordsPerBatch", "50000") // 2 micro-batches: multi-batch semantics without per-batch overhead dominating
      .load()

  /** s22 core over any streaming frame with (ts: timestamp, user_id,
    * event_type, event_id): the watermarked window-keyed dedup agg.
    * Exposed so TtlDedupStreamSpec can drive it over a crafted
    * multi-batch input and pin the part the oracle can't — that the
    * watermark actually EVICTS a finalized bucket's state, so a
    * later-batch duplicate beyond the lateness bound is dropped
    * instead of resurrecting the bucket.
    */
  private[streaming] def ttlDedupAgg(src: DataFrame): DataFrame = src
    .withWatermark("ts", "30 minutes")
    .select(col("ts"), col("user_id"), col("event_type"),
      col("event_id"), col("ts").cast("long").as("ts_sec"))
    .groupBy(window(col("ts"), "1 hour").as("win"), col("user_id"), col("event_type"))
    .agg(min(struct(col("ts_sec"), col("event_id"))).as("first"),
      count(lit(1)).as("n_events"))
    .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
      col("user_id"), col("event_type"),
      col("first.event_id").as("first_event_id"),
      (col("n_events") - 1).as("n_dups"))

  /** s21 streaming core: typed SessEvent stream → one Transition row per
    * consecutive per-user pair, with the last event carried in GroupState
    * across micro-batches. Exposed so TransitionStreamSpec can drive it
    * over a crafted multi-file (multi-batch) input.
    */
  private[streaming] def transitionsStream(
      typed: org.apache.spark.sql.Dataset[SessEvent]): DataFrame = {
    import typed.sparkSession.implicits._
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessEvent], state: GroupState[LastEvent]) =>
          val (out, last) = transitionStep(user, rows.toSeq, state.getOption)
          state.update(last)
          out.iterator
      }.toDF()
  }

  /** s21 batch-side rollup over the emitted (user_id, from_type, to_type)
    * pair table — identical output contract to a17.
    */
  private[streaming] def transitionRollup(pairs: DataFrame): DataFrame =
    graft.operators.Temporal.transitionShares(pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions")))

  /** s07/s11: same-user follow-ups within 10 minutes as a stream-stream
    * interval self-join of type `joinType`, both sides watermarked at
    * 30 minutes, drained in append mode.
    */
  private def followUps(s: SparkSession, dir: String, joinType: String): DataFrame = {
    val a = eventsStream(s, dir)
      .select(col("event_id").as("event_id_a"), col("user_id"), col("ts").as("ts_a"))
      .withWatermark("ts_a", "30 minutes")
    val b = eventsStream(s, dir)
      .select(col("event_id").as("event_id_b"), col("user_id").as("user_id_b"),
        col("ts").as("ts_b"))
      .withWatermark("ts_b", "30 minutes")
    val j = a.join(b,
        col("user_id") === col("user_id_b") &&
          col("event_id_a") =!= col("event_id_b") &&
          col("ts_b") >= col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr("INTERVAL 10 MINUTES"),
        joinType)
      .select(col("user_id"), col("event_id_a"), col("event_id_b"),
        (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("gap_us"))
    runToTable(j, OutputMode.Append())
      .orderBy("user_id", "event_id_a", "event_id_b")
  }

  /** s12/s21 input: one typed row per event, ts in whole epoch seconds. */
  private def sessEvents(s: SparkSession, dir: String): Dataset[SessEvent] = {
    import s.implicits._
    eventsStream(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("ts_sec"),
        col("event_type"))
      .as[SessEvent]
  }

  /** s04/s14 input: one typed row per event, ts in epoch seconds. */
  private def userEvents(s: SparkSession, dir: String): Dataset[UserEvent] = {
    import s.implicits._
    eventsStream(s, dir)
      .select(col("user_id"), col("event_id"), col("ts").cast("long").as("ts_sec"))
      .as[UserEvent]
  }

  /** s04's fold over `events`: mapGroupsWithState, one row per user. */
  private[streaming] def userStateFold(events: Dataset[UserEvent]): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    userStateRows(events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserState]) =>
          val next = userStep(state.getOption, rows)
          state.update(next)
          UserStateOut(user, next.n, next.minId, next.maxTs)
      }.toDF())
  }

  /** s14's fold over `events`, whose session must use the RocksDB state
    * store: transformWithState, one row per user.
    */
  private[streaming] def userStateTws(events: Dataset[UserEvent]): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    userStateRows(events.groupByKey(_.user_id)
      .transformWithState(new UserStateProcessor, TimeMode.None(), OutputMode.Update()).toDF())
  }

  /** Drain an Update-mode state stream and keep each `key`'s last emission:
    * its other columns, as the struct `last`. The sink keeps every
    * micro-batch's emission; the folds here lead those columns with a
    * count that grows with each one, so a key's largest struct is its
    * final state.
    */
  private def lastEmission(stated: DataFrame, key: String): DataFrame =
    runToTable(stated, OutputMode.Update())
      .groupBy(key).agg(max(struct(stated.columns.filter(_ != key).map(col): _*)).as("last"))

  /** s04/s14 output: each user's final state, max ts as text. */
  private def userStateRows(stated: DataFrame): DataFrame =
    lastEmission(stated, "user_id")
      .select(col("user_id"), col("last.n_events"), col("last.min_event_id"),
        date_format(timestamp_seconds(col("last.max_ts_sec")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
      .orderBy("user_id")

  /** s04/s14 per-user step: fold one batch's events onto the carried
    * (count, min event id, max ts). Order-free, so the emission is exact.
    * Pure — the mapGroupsWithState body and UserStateProcessor are just
    * this + a state update.
    */
  private[streaming] def userStep(prev: Option[UserState], rows: Iterator[UserEvent]): UserState =
    rows.foldLeft(prev.getOrElse(UserState(0L, Long.MaxValue, Long.MinValue))) { (st, r) =>
      UserState(st.n + 1, math.min(st.minId, r.event_id), math.max(st.maxTs, r.ts_sec))
    }

  /** s24 per-key step: fold one source's batch docs onto the carried
    * token offset in doc_id order, emitting t11's pack coordinates for
    * each and returning the new offset. Pure — unit-tested directly on
    * crafted batches (incl. the cross-batch carry), and the
    * flatMapGroupsWithState body is just this + a state update.
    */
  private[streaming] def packStep(src: String, rows: Seq[PackDoc],
      cum0: Long): (Seq[PackedDoc], Long) = {
    val b = graft.operators.TextAnalysis.SeqBudget.toLong
    var cum = cum0
    val out = rows.sortBy(_.doc_id).map { d =>
      val start = cum
      cum += d.n_tokens
      PackedDoc(d.doc_id, src, d.n_tokens, start,
        start / b, (cum - 1) / b, (cum - 1) / b - start / b + 1)
    }
    (out, cum)
  }

  /** s21 per-key step: merge the carried last event INTO this batch's
    * rows by (ts_sec, event_id), emit one Transition per consecutive
    * pair, and return the new last event. Pure — unit-tested directly,
    * and the flatMapGroupsWithState body is just this + a state update.
    *
    * Cross-batch exactness assumes per-user batch-monotonic arrival
    * (a later micro-batch carries no earlier event) — the reference's
    * per-shard sequence-order contract — but the assumption is no
    * longer load-bearing for sanity: the carried event is SORTED into
    * the chain rather than unconditionally prepended, so a late event
    * (ts before the carried state) produces locally-ordered transitions
    * and a non-regressing carried timestamp instead of a reversed pair
    * and state that travels backwards. Already-emitted transitions are
    * not retracted (that is what the batch-side a17 rollup being
    * answer-equal certifies under in-order input); WITHIN a batch the
    * sort makes the fold order-free (s04/s12 discipline). Under
    * in-order arrival the merge is position-identical to the old
    * prepend, so the oracle is unchanged.
    */
  private[streaming] def transitionStep(user: Long, rows: Seq[SessEvent],
      prev: Option[LastEvent]): (Seq[Transition], LastEvent) = {
    val chain = (prev.map(p => SessEvent(user, p.event_id, p.ts_sec, p.event_type)).toSeq ++ rows)
      .sortBy(e => (e.ts_sec, e.event_id))
    val out = chain.sliding(2).collect {
      case Seq(a, b) => Transition(user, a.event_type, b.event_type)
    }.toSeq
    val last = chain.last
    (out, LastEvent(last.ts_sec, last.event_id, last.event_type))
  }

  /** The s12 state fold, order-free (sorts its own input): split one
    * user's events into sessions on a STRICT >30 min gap between
    * second-truncated times (a03's batch semantics). Exposed so the
    * boundary cases the fixture never hits (gap exactly 1800 s, single
    * event, empty input) are unit-testable — the oracle gate only
    * exercises what the fixture contains.
    */
  private[streaming] def splitSessions(user: Long, rows: Seq[SessEvent]): Seq[SessionRow] = {
    val evs = rows.toArray.sortBy(e => (e.ts_sec, e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
    var i = 0
    while (i < evs.length) {
      var j = i
      while (j + 1 < evs.length && evs(j + 1).ts_sec - evs(j).ts_sec <= 1800L) j += 1
      val sess = evs.slice(i, j + 1)
      out += SessionRow(user, sess.head.ts_sec, sess.last.ts_sec,
        sess.length.toLong, sess.map(_.event_type).distinct.length.toLong)
      i = j + 1
    }
    out.toSeq
  }

  /** s04's per-user fold over the batch table; s14 gates on it too. */
  private val userStateOracle: String =
    """SELECT user_id, COUNT(*) AS n_events, MIN(event_id) AS min_event_id,
      |  strftime(date_trunc('second', MAX(ts)), '%Y-%m-%d %H:%M:%S') AS max_ts
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "s01_stream_count" -> "SELECT COUNT(*) AS n FROM events",

    // a17's batch matrix verbatim (one shared definition — see
    // Temporal.transitionMatrixOracle): micro-batching + carried state
    // must be answer-invisible
    "s21_stream_transitions" -> graft.operators.Temporal.transitionMatrixOracle,

    // the batch q17 window count — micro-batching must be answer-invisible
    "s02_stream_tumbling" -> graft.operators.Relational.oracles("q17_event_tumbling"),

    "s10_stream_static_enrich" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type
        |ORDER BY c_mktsegment, event_type""".stripMargin,

    // closed-form watermark: only windows whose end the terminal
    // watermark (max ts − 30 min) passed are finalized and emitted
    "s09_stream_append_finalized" ->
      """WITH m AS (
        |  SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events
        |), w AS (
        |  SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type, n
        |FROM w, m
        |WHERE ws + INTERVAL 1 HOUR <= wm
        |ORDER BY win_start, event_type""".stripMargin,

    "s03_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // s09's terminal-watermark closed form on the (window, user, type)
    // grain; first event = the (ts_sec, event_id)-min via row_number
    "s22_stream_dedup_ttl" ->
      """WITH m AS (
        |  SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events
        |), e AS (
        |  SELECT date_trunc('hour', ts) AS ws, user_id, event_type, event_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec
        |  FROM events
        |), r AS (
        |  SELECT ws, user_id, event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY ws, user_id, event_type ORDER BY ts_sec, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY ws, user_id, event_type) AS n
        |  FROM e
        |)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, user_id, event_type,
        |  event_id AS first_event_id, CAST(n - 1 AS BIGINT) AS n_dups
        |FROM r, m
        |WHERE rn = 1 AND ws + INTERVAL 1 HOUR <= wm
        |ORDER BY win_start, user_id, event_type""".stripMargin,

    "s04_stream_user_state" -> userStateOracle,

    // identical semantics to the batch a04 oracle (Temporal.oracles)
    "s08_stream_sessions" -> graft.operators.Temporal.oracles("a04_session_window"),

    // streamed bars ≡ batch bars (deterministic order-free agg state)
    "s16_stream_ohlc" -> graft.operators.Temporal.oracles("a12_ohlc_bars"),

    // the streamed CDC state must equal the batch q51 answer
    "s18_stream_cdc" -> graft.operators.Relational.oracles("q51_cdc_apply"),

    // the observed metrics folded across micro-batches must equal the
    // plain batch aggregate over the same input
    "s17_stream_observe" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN value >= 100.0 THEN 1 END) AS n_hi,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin,

    // s14 ≡ s04 by construction (same fold, new state API) — same oracle
    "s14_stream_tws_state" -> userStateOracle,

    "s07_stream_stream_join" ->
      """SELECT a.user_id, a.event_id AS event_id_a, b.event_id AS event_id_b,
        |  date_diff('microsecond', a.ts, b.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |ORDER BY a.user_id, event_id_a, event_id_b""".stripMargin,

    // left outer = inner pairs + null rows for unmatched left rows whose
    // 10-min window the terminal watermark (max ts − 30 min) closed;
    // left rows with open windows are absent (s09's emission contract)
    "s11_stream_left_outer" ->
      """WITH m AS (SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events)
        |SELECT a.user_id, a.event_id AS event_id_a, b.event_id AS event_id_b,
        |  date_diff('microsecond', a.ts, b.ts) AS gap_us
        |FROM events a
        |LEFT JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |CROSS JOIN m
        |WHERE b.event_id IS NOT NULL OR a.ts + INTERVAL 10 MINUTE < wm
        |ORDER BY 1, 2, 3""".stripMargin,

    // batch sessionization restated (a03's strict >30 min break on
    // second-truncated time), emitted by the custom state fold
    "s12_stream_custom_sessions" ->
      s"""WITH ${graft.operators.DuckSql.sessionCtes()}
        |SELECT user_id,
        |  strftime(to_timestamp(MIN(ts_sec)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(to_timestamp(MAX(ts_sec)), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM numbered
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin,

    // two-level closed form: daily rollups of hourly counts, emitted for
    // days the terminal watermark (max ts − 30 min) closed
    "s13_stream_chained_windows" ->
      """WITH m AS (
        |  SELECT max(ts) - INTERVAL 30 MINUTE AS wm FROM events
        |), h AS (
        |  SELECT date_trunc('hour', ts) AS hs, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), d AS (
        |  SELECT date_trunc('day', hs) AS ds, event_type,
        |    COUNT(*) AS n_hours, CAST(SUM(n) AS BIGINT) AS n_day, MAX(n) AS max_hourly
        |  FROM h GROUP BY 1, 2
        |)
        |SELECT strftime(ds, '%Y-%m-%d') AS day, event_type, n_hours, n_day, max_hourly
        |FROM d, m
        |WHERE ds + INTERVAL 1 DAY <= wm
        |ORDER BY day, event_type""".stripMargin,

    // closed form: the source enumerates 1..R exactly once
    "s05_synth_source_count" ->
      s"""SELECT CAST($SynthRecords AS BIGINT) AS n,
         |  CAST(${SynthRecords * (SynthRecords + 1) / 2} AS BIGINT) AS sum_id""".stripMargin,

    // per-shard expectation from the routing hash evaluated in plain
    // driver-side Scala (nothing distributed), emitted as a VALUES literal
    "s06_synth_source_shards" -> {
      val rows = (1L to SynthRecords)
        .groupBy(i => graft.sources.EnvelopeSynthSource.shardOf(i, SynthShards))
        .toSeq.sortBy(_._1)
        .map { case (sh, ids) =>
          s"('shardId-${"%012d".format(sh)}', CAST(${ids.size} AS BIGINT), CAST(${ids.max} AS BIGINT))"
        }
      s"""SELECT * FROM (VALUES
         |  ${rows.mkString(",\n  ")}
         |) AS t(shard_id, n, last_seq)
         |ORDER BY shard_id""".stripMargin
    },

    // p02's gate CTEs (Curation.duckQualityCtes), minus the packing arithmetic —
    // the streamed manifest must equal the batch answer exactly
    "s15_stream_curation_gates" ->
      s"""WITH ${graft.operators.Curation.duckQualityCtes}
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
         |FROM quality
         |WHERE q >= ${graft.operators.Curation.QualityMin}
         |  AND (${graft.operators.Curation.langCase}) = 'en'
         |  AND doc_id % 1000003 * 2654435761 % 100
         |    < 30 + TRY_CAST(regexp_extract(source, '[0-9]+') AS BIGINT) % 10 * 7
         |  AND len(toks) > 0
         |GROUP BY source
         |ORDER BY source""".stripMargin,

    // d05's simhash CTE chain (Spark-exact XXH64 + majority vote), then
    // distinct-sketch counts per sketch shard — dropDuplicates(sketch)
    // keeps exactly one row per distinct sketch, so the admitted tally IS
    // COUNT(DISTINCT sketch); hu is the unsigned HUGEINT, and hu % 8 =
    // pmod(signed, 8) because 2^64 ≡ 0 (mod 8)
    "s19_stream_neardup_gate" ->
      s"""WITH ${graft.operators.Dedup.duckSimhashCtes}
         |SELECT CAST(hu % 8 AS BIGINT) AS sketch_shard,
         |  COUNT(DISTINCT hu) AS n_unique
         |FROM sh
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    // t21's window-form oracle verbatim: the streamed bounded-state
    // sample must equal the batch sample (the rank hash is
    // arrival-order-free)
    "s20_stream_quota_sample" -> graft.operators.TextAnalysis.oracles("t21_stratified_sample"),

    // p01's gate CTEs (the shared Curation.duckQualityCtes) —
    // the stream's per-source counters must equal the batch gates
    "s23_stream_gate_counts" ->
      s"""WITH ${graft.operators.Curation.duckQualityCtes}
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN q >= ${graft.operators.Curation.QualityMin} THEN 1 ELSE 0 END) AS BIGINT) AS n_q_ok,
         |  CAST(SUM(CASE WHEN (${graft.operators.Curation.langCase}) = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_l_ok,
         |  CAST(SUM(CASE WHEN q >= ${graft.operators.Curation.QualityMin}
         |    AND (${graft.operators.Curation.langCase}) = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
         |FROM quality GROUP BY source ORDER BY source""".stripMargin,

    // batch/stream parity BY CONSTRUCTION: the streaming packer is
    // checked against t11's SQL verbatim — one oracle definition for
    // both operators (the s23 shared-text discipline)
    "s24_stream_pack" -> graft.operators.TextAnalysis.oracles("t11_pack_sequences"),

    // a19's SQL verbatim — the streaming agg + shared rollup must land
    // on exactly the batch answer
    "s25_stream_burst" -> graft.operators.Temporal.oracles("a19_burst_flags"),

    // p12's shared rate chain (duckAlphaCtes) + p08's xxhash64 signed
    // pmod — plan and enforcement in ONE statement
    "s26_stream_alpha_admit" ->
      s"""WITH ${graft.operators.Curation.duckAlphaCtes}, ids AS (
         |  SELECT doc_id, doc_id AS x FROM documents
         |), ${graft.operators.DuckHash.xxhash64LongCtes("doc_id")}, tk AS (
         |  SELECT doc_id, source,
         |    CAST(len(${graft.operators.DuckSql.tokens()}) AS BIGINT) AS nt
         |  FROM documents
         |), adm AS (
         |  SELECT t.source, t.nt
         |  FROM tk t
         |  JOIN hashed h USING (doc_id)
         |  JOIN arates r USING (source)
         |  WHERE t.nt > 0 AND ((h.hv % 1000000) + 1000000) % 1000000 < r.rate_ppm
         |)
         |SELECT a.source, r.rate_ppm,
         |  COUNT(*) AS n_admitted,
         |  CAST(SUM(a.nt) AS BIGINT) AS admitted_tokens
         |FROM adm a JOIN arates r USING (source)
         |GROUP BY a.source, r.rate_ppm
         |ORDER BY a.source""".stripMargin,

    // the day-sum + day-decay chain end to end: per-(user, type, day)
    // fixed-point sums, integer-shift decay of each DAY SUM against the
    // corpus max day (s27's documented per-day-floor semantics), signed
    // explicit-floor CASE mirrored from a21
    "s27_stream_decay" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
        |    CAST(floor("value" * 1048576.0) AS BIGINT) AS vfp
        |  FROM events
        |), ds AS (
        |  SELECT user_id, event_type, day,
        |    COUNT(*) AS n_events, CAST(SUM(vfp) AS BIGINT) AS s
        |  FROM e GROUP BY user_id, event_type, day
        |), nw AS (
        |  SELECT MAX(day) AS now_day FROM ds
        |), d AS (
        |  SELECT user_id, event_type, n_events,
        |    CASE WHEN s >= 0 THEN s // pw ELSE -((-s + pw - 1) // pw) END AS dfp
        |  FROM (SELECT ds.*,
        |          (1::BIGINT << CAST(LEAST(nw.now_day - ds.day, 62) AS INT)) AS pw
        |        FROM ds CROSS JOIN nw)
        |)
        |SELECT user_id, event_type, CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  CAST(SUM(dfp) AS BIGINT) AS decayed_fp,
        |  CAST(SUM(dfp) AS DOUBLE) / 1048576.0 AS decayed_value
        |FROM d GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    // the same counts + rank over the batch table (parity by
    // construction: one definition of the leaderboard)
    "s28_stream_topk" ->
      """WITH c AS (
        |  SELECT event_type, user_id, COUNT(*) AS n_events
        |  FROM events GROUP BY event_type, user_id
        |), rk AS (
        |  SELECT event_type, user_id, n_events,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY n_events DESC, user_id ASC) AS rank
        |  FROM c
        |)
        |SELECT event_type, CAST(rank AS BIGINT) AS rank, user_id, n_events
        |FROM rk WHERE rank <= 5
        |ORDER BY event_type, rank""".stripMargin,

    // batch/stream parity by construction: the streaming side drains its
    // (user, wk) presence state into Temporal.growthLedger — the same
    // core a24 compiles to — so ONE oracle defines the ledger for both
    "s29_stream_growth" -> graft.operators.Temporal.oracles("a24_growth_accounting"),

    // e29's shared chain gates the ENFORCEMENT too (the s26/duckAlphaCtes
    // pattern): the fence the stream admits against is the same cp_st row
    // the batch audit publishes
    "s30_stream_outlier_gate" ->
      s"""WITH ${graft.operators.Similarity.duckCentroidPpb1Ctes}
         |SELECT s.label, COUNT(*) AS n_seen,
         |  CAST(SUM(CASE WHEN s.ppb1 >= st.mean_ppb1 - 2 * st.sigma_ppb1 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(SUM(CASE WHEN s.ppb1 < st.mean_ppb1 - 2 * st.sigma_ppb1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
         |  st.mean_ppb1 - 2 * st.sigma_ppb1 AS fence_ppb1
         |FROM cp_scored s JOIN cp_st st USING (label)
         |GROUP BY s.label, st.mean_ppb1, st.sigma_ppb1
         |ORDER BY s.label""".stripMargin
  )
}
