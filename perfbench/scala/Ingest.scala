package graftbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryProgress, Trigger}
import graft.sources.EnvelopeSynthSource
import graft.streaming.{Envelope, Pipelines, SinkRetry}

/** The sharded-ingest workloads: `EnvelopeSynthSource` (one input partition
  * per shard, `maxRecordsPerBatch` records per micro-batch) →
  * `Envelope.decoded` → `Pipelines.perShardState` → a `foreachBatch` sink
  * wrapped in `SinkRetry.foreachBatchWithRetry`, checkpointed on local
  * disk and drained with `Trigger.AvailableNow`.
  *
  * Options: `--records --batch --shards`, `--transient-at B` (the sink
  * throws a transient error once at batch B; SinkRetry retries it in
  * place), `--fatal-at B` (the sink throws a fatal error once at batch B;
  * the query dies and is restarted from its checkpoint), `--decode-probe
  * 0|1|2` (none / null-id count / timed standalone read and decode),
  * `--drop-at B` (sabotage: the sink loses batch B), `--error-at B`
  * (sabotage: the sink throws a non-transient error at batch B on every
  * attempt, so the query fails and is not restarted).
  *
  * A stream failure other than the injected fatal error is recorded with
  * its class and message, and the batches committed before it are still
  * recorded and checked.
  */
object Ingest {

  final class InjectedFatal(batch: Long) extends RuntimeException(s"injected fatal sink error at batch $batch")

  def run(spark: SparkSession, a: Args, rec: Record, tracer: Option[Tracer]): Unit = {
    val records = a.long("records")
    val batchSize = a.long("batch")
    val shards = a.int("shards")
    val transientAt = a.get("transient-at").map(_.toLong).getOrElse(-1L)
    val fatalAt = a.get("fatal-at").map(_.toLong).getOrElse(-1L)
    val dropAt = a.get("drop-at").map(_.toLong).getOrElse(-1L)
    val errorAt = a.get("error-at").map(_.toLong).getOrElse(-1L)
    val ckpt = new File(a("work"), "checkpoint").getAbsolutePath
    rec("records") = records
    rec("batch_size") = batchSize
    rec("shards") = shards
    rec("transient_at") = transientAt
    rec("fatal_at") = fatalAt

    // sink side: what each committed batch delivered, per shard (count, last_seq)
    val delivered = new ConcurrentHashMap[Long, Map[String, (Long, Long)]]()
    val replayMismatch = new AtomicLong(0)
    val retries = new AtomicLong(0)
    val sinkBusyMs = new AtomicLong(0)
    @volatile var transientFired = false
    @volatile var fatalFired = false
    @volatile var replayedRows = 0L
    // what the fatal batch delivered before it threw, compared with its replay
    @volatile var preCrash = Map.empty[String, (Long, Long)]

    val write: (DataFrame, Long) => Unit = (df, id) => {
      val t0 = System.currentTimeMillis()
      try {
        if (id == transientAt && !transientFired) {
          transientFired = true
          throw new java.io.IOException(s"injected transient sink error at batch $id")
        }
        if (id == errorAt)
          throw new IllegalStateException(s"injected non-transient sink error at batch $id")
        val rows = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        if (id == fatalAt && !fatalFired) {
          fatalFired = true
          preCrash = rows
          throw new InjectedFatal(id)
        }
        if (fatalFired && id == fatalAt) {
          replayedRows = rows.size.toLong
          if (rows != preCrash) replayMismatch.incrementAndGet()
        }
        if (id != dropAt) {
          val prev = delivered.putIfAbsent(id, rows)
          if (prev != null && prev != rows) replayMismatch.incrementAndGet()
        }
      } finally {
        val t1 = System.currentTimeMillis()
        sinkBusyMs.addAndGet(t1 - t0)
        tracer.foreach(_.addSpan(s"sink:$id", "sink", t0, t1))
      }
    }
    val sink = SinkRetry.foreachBatchWithRetry(maxRetries = 3, baseDelay = 20.millis,
      sleep = d => { retries.incrementAndGet(); Thread.sleep(d.toMillis) })(write)

    def start(): StreamingQuery = {
      val src = spark.readStream.format("graft.sources.EnvelopeSynthSource")
        .option("records", records.toString).option("shards", shards.toString)
        .option("maxRecordsPerBatch", batchSize.toString).load()
      val fb: (Dataset[(String, Long, Long)], Long) => Unit = (ds, id) => sink(ds.toDF(), id)
      Pipelines.perShardState(Envelope.decoded(src))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(fb)
        .start()
    }

    /** Runs one incarnation to its end. True when it died of the injected
      * fatal error (first incarnation only); any other failure is recorded.
      */
    def drain(incarnation: Int): (Array[StreamingQueryProgress], Boolean) = {
      val q = start()
      val crashed = Trace.span(tracer, s"stream:$incarnation", "query") {
        try { q.awaitTermination(); false }
        catch {
          case e: StreamingQueryException
              if incarnation == 1 && Harness.rootCause(e).isInstanceOf[InjectedFatal] => true
          case e: StreamingQueryException => rec.failure(s"stream:$incarnation", e); false
        }
      }
      (q.recentProgress, crashed)
    }

    val (first, crashed) = drain(1)
    val progress = if (crashed) {
      rec("restart_ms") = System.currentTimeMillis()
      first.map(_ -> 1) ++ drain(2)._1.map(_ -> 2)
    } else first.map(_ -> 1)

    progress.foreach { case (p, inc) =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators.headOption
      rec.add("batches", Map(
        "batch_id" -> p.batchId, "incarnation" -> inc,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows, "duration_ms" -> d,
        "state" -> st.map(s => Map(
          "rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
          "commit_ms" -> s.commitTimeMs, "all_updates_ms" -> s.allUpdatesTimeMs,
          "memory_bytes" -> s.memoryUsedBytes)).getOrElse(Map.empty)))
    }
    rec("sink_busy_ms") = sinkBusyMs.get
    rec("sink_retries") = retries.get
    rec("sink_failures") = if (fatalFired) 1L else 0L

    // ---- exactly-once checks against the driver-side routing oracle ----
    val committed = progress.map(_._1.batchId).distinct.sorted
    val expectedBatches = (records + batchSize - 1) / batchSize
    rec.check("batch_count", committed.toSeq == (0L until expectedBatches),
      s"committed ${committed.length} batches, expected $expectedBatches")
    val missing = committed.filterNot(delivered.containsKey)
    rec.check("sink_exactly_once", missing.isEmpty && replayMismatch.get == 0,
      s"batches the sink lost: ${missing.take(10).mkString(",")}; replays with content other than the first delivery: ${replayMismatch.get}")

    val rowsOf = progress.map { case (p, _) => p.batchId -> p.numInputRows }.toMap
    var sinkView = Map.empty[String, (Long, Long)]
    var badIncrements = List.empty[Long]
    committed.filter(delivered.containsKey).foreach { id =>
      val b = delivered.get(id)
      val inc = b.map { case (s, (c, _)) => c - sinkView.get(s).map(_._1).getOrElse(0L) }.sum
      if (inc != rowsOf(id)) badIncrements ::= id
      sinkView ++= b
    }
    rec.check("batch_increments", badIncrements.isEmpty,
      s"batches whose per-shard count increments differ from their input rows: ${badIncrements.reverse.take(10).mkString(",")}")

    val cnt = Array.fill(shards)(0L)
    val last = Array.fill(shards)(-1L)
    var i = 1L
    while (i <= records) { val s = EnvelopeSynthSource.shardOf(i, shards); cnt(s) += 1; last(s) = i; i += 1 }
    val oracle = (0 until shards).filter(cnt(_) > 0).map(s => f"shardId-$s%012d" -> ((cnt(s), last(s)))).toMap
    val wrong = oracle.keys.filter(k => !sinkView.get(k).contains(oracle(k))).toSeq.sorted
    val total = sinkView.values.map(_._1).sum
    rec.check("per_shard_oracle", wrong.isEmpty && sinkView.size == oracle.size && total == records,
      s"total $total of $records; shards off the oracle: ${wrong.take(5).mkString(",")}")

    if (transientAt >= 0)
      rec.check("transient_retried", transientFired && retries.get == 1, s"retries ${retries.get}")
    if (fatalAt >= 0)
      rec.check("fatal_restarted", fatalFired && crashed && replayedRows > 0,
        s"fired=$fatalFired crashed=$crashed replayed_rows=$replayedRows")

    a.get("decode-probe").map(_.toInt).getOrElse(0) match {
      case 0 =>
      case level => decodeProbe(spark, records, shards, batchSize, level == 2, rec, tracer)
    }
  }

  /** Standalone batch read with the streaming run's options: the read
    * alone into a noop sink (level 2 only), then read + decode folded into
    * the row and null-id counts.
    */
  private def decodeProbe(spark: SparkSession, records: Long, shards: Int, batchSize: Long,
                          timed: Boolean, rec: Record, tracer: Option[Tracer]): Unit = {
    val src = spark.read.format("graft.sources.EnvelopeSynthSource")
      .option("records", records.toString).option("shards", shards.toString)
      .option("maxRecordsPerBatch", batchSize.toString).load()
    if (timed) {
      val t0 = System.nanoTime()
      Trace.span(tracer, "probe:read", "probe")(src.write.format("noop").mode("overwrite").save())
      rec("probe_read_s") = (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val r = Trace.span(tracer, "probe:read_decode", "probe") {
      Envelope.decoded(src).agg(count(lit(1)), count_if(col("id").isNull)).head()
    }
    if (timed) rec("probe_read_decode_s") = (System.nanoTime() - t0) / 1e9
    rec("probe_rows") = r.getLong(0)
    rec("probe_null_ids") = r.getLong(1)
    rec.check("decoded_rows", r.getLong(0) == records && r.getLong(1) == 0L,
      s"decoded ${r.getLong(0)} of $records rows, ${r.getLong(1)} null ids")
  }

}
