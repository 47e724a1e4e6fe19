package graft.streaming

import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkSpec

/** E2E mirror of the reference's FlattenChunksTest: produce N records in
  * batches across 32 shards, consume as a stream, assert exact count
  * conservation (the reference's single invariant,
  * FlattenChunksTest.scala:59).
  */
class StreamingPipelineSpec extends SparkSpec {

  test("count conservation at reference scale: 100k records == 100k counted across 32 shards") {
    // exact reference workload parameters: nrRecords = 100000, batchSize =
    // 500, nrShards = 32 (FlattenChunksTest.scala:25-27), same invariant
    // (:59) — processed count conserved across all shards.
    val dir = SparkSpec.tmpDir("graft-ingest")
    val ckpt = SparkSpec.tmpDir("graft-ckpt")
    val n = 100000L
    val producer = new ShardedBatchProducer(dir, nrShards = 32, batchSize = 500)
    producer.emit(1, n + 1)

    val counts = Pipelines.runningCount(Envelope.decoded(Pipelines.ingest(spark, dir)))
    val q = counts.writeStream
      .format("memory").queryName("conservation")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    assert(spark.table("conservation").head().getLong(0) === n)
  }

  test("s17 observe: metrics fold across real micro-batch boundaries to the batch answer") {
    import org.apache.spark.sql.functions._
    // the sf fixture is one parquet file (one batch); here 6 files +
    // maxFilesPerTrigger(1) force a genuinely multi-batch run, so the
    // cross-batch fold (longs add, decimal value mass) is what's tested
    val dir = SparkSpec.tmpDir("graft-observe")
    val df = spark.range(600).select(
      col("id").as("event_id"),
      (col("id") % 7 * 30.5 + 1.0).as("value"))
    df.repartition(6).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(df.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val (folded, nBatches) = StreamingQueries.observeQuality(stream)
    val got = folded.head()
    val exact = spark.read.parquet(dir).agg(
      count(lit(1)),
      count(when(col("value") >= 100.0, 1)),
      sum(col("value").cast("decimal(38,6)")).cast("double")).head()
    assert(nBatches >= 2, s"expected multiple micro-batches, got $nBatches")
    assert(got.getLong(0) === exact.getLong(0))
    assert(got.getLong(1) === exact.getLong(1))
    assert(got.getDouble(2) === exact.getDouble(2))
  }

  test("per-shard counts and last-seq match the producer's deterministic routing") {
    val dir = SparkSpec.tmpDir("graft-shards")
    val n = 2000L
    val producer = new ShardedBatchProducer(dir, nrShards = 8, batchSize = 250)
    producer.emit(1, n + 1)

    val expected = (1L to n).groupBy(producer.shardOf)
      .map { case (s, ids) => (f"shardId-$s%012d", ids.size.toLong, ids.max) }

    val decoded = Envelope.decoded(Pipelines.ingest(spark, dir, maxFilesPerTrigger = Some(2)))
    val q = Pipelines.perShardState(decoded)
      .writeStream.format("memory").queryName("per_shard")
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // every micro-batch emits each shard it saw; the count only grows, so
    // a shard's last emission is the one with the largest count
    val emitted = spark.table("per_shard").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(emitted.length > expected.size, "expected emissions from more than one micro-batch")
    val got = emitted.groupBy(_._1).values.map(_.maxBy(_._2)).toSet
    assert(got === expected.toSet)
  }

  test("decode: malformed payloads null out in PERMISSIVE, survive the count in envelope form") {
    import spark.implicits._
    val env = Seq(
      ("s-0", "key1", 1L, "{ \"id\": 1 }"),
      ("s-0", "key2", 2L, "not json at all"))
      .toDF("shard_id", "partition_key", "sequence_number", "data")
    val out = Envelope.decoded(env).collect()
    assert(out.length === 2)
    assert(out.find(_.getLong(2) == 1L).get.getAs[Int]("id") === 1)
    assert(out.find(_.getLong(2) == 2L).get.isNullAt(out.head.fieldIndex("id")))
  }

  test("decode: FAILFAST mode surfaces malformed payloads as errors (reference's fail-the-effect)") {
    import spark.implicits._
    val env = Seq(("s-0", "key1", 1L, "not json at all"))
      .toDF("shard_id", "partition_key", "sequence_number", "data")
    val ex = intercept[org.apache.spark.SparkException] {
      Envelope.decoded(env, failFast = true).collect()
    }
    assert(ex.getMessage.contains("MALFORMED_RECORD_IN_PARSING") ||
      ex.getCause != null, s"unexpected error shape: ${ex.getMessage.take(200)}")
  }

  test("perShardState: a non-JSON payload fails with NOT_NULL_ASSERT_VIOLATION on ShardRecord.id") {
    import spark.implicits._
    // PERMISSIVE decode nulls the id; the typed ShardRecord view refuses
    // it, so a malformed record can never be folded into a shard's count
    val env = Seq(
      ("s-0", "key1", 1L, "{ \"id\": 1 }"),
      ("s-0", "key2", 2L, "not json at all"))
      .toDF("shard_id", "partition_key", "sequence_number", "data")
    val ex = intercept[Exception] {
      Pipelines.perShardState(Envelope.decoded(env)).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(msgs.contains("NOT_NULL_ASSERT_VIOLATION"), msgs.take(500))
    assert(msgs.contains("\"id\"") && msgs.contains("graft.streaming.ShardRecord"), msgs.take(500))
  }

  test("runToTable leaves no graft_stream_ view behind once s01 and s16 are built and collected") {
    val s01 = StreamingQueries.queries("s01_stream_count")(spark, sfDir)
    val s16 = StreamingQueries.queries("s16_stream_ohlc")(spark, sfDir)
    // both frames still read their sink after its view is dropped, twice
    assert(s01.collect().toSeq === s01.collect().toSeq)
    assert(s01.head().getLong(0) === graft.Tables.events(spark, sfDir).count())
    val bars = s16.collect().toSeq
    assert(bars.nonEmpty && bars === s16.collect().toSeq)
    assert(bars === graft.operators.Temporal.queries("a12_ohlc_bars")(spark, sfDir).collect().toSeq)
    val left = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_stream_"))
    assert(left.isEmpty, s"views left registered: ${left.mkString(", ")}")
  }

  test("stream-stream interval join: two sharded streams join on key within a time bound") {
    import org.apache.spark.sql.functions._
    val dirA = SparkSpec.tmpDir("graft-ss-a")
    val dirB = SparkSpec.tmpDir("graft-ss-b")
    new ShardedBatchProducer(dirA, nrShards = 4, batchSize = 200).emit(1, 1001)
    new ShardedBatchProducer(dirB, nrShards = 4, batchSize = 200).emit(500, 1501)

    // watermarks on both sides bound the join state (the 100 TB-safe
    // form); producer arrival_ts is base+seq ms, so matching keys land
    // inside the interval.
    val a = Pipelines.ingest(spark, dirA).withWatermark("arrival_ts", "1 hour")
      .select(col("sequence_number").as("k"), col("arrival_ts").as("ts_a"))
    val b = Pipelines.ingest(spark, dirB).withWatermark("arrival_ts", "1 hour")
      .select(col("sequence_number").as("k2"), col("arrival_ts").as("ts_b"))
    val joined = a.join(b,
      col("k") === col("k2") &&
        col("ts_b") >= col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("interval 10 minutes"))

    val q = joined.writeStream
      .format("memory").queryName("ss_join")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("ss_join").select("k").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (500L to 1000L).toSeq, "join = overlap of the two key ranges")
  }

  test("s09 append emission is the finalized prefix of the complete-mode answer") {
    // append mode must emit a SUBSET of complete mode's windows — exactly
    // those the terminal watermark (max ts − 30 min) closed; the withheld
    // tail is exactly the windows still open at shutdown
    val complete = StreamingQueries.queries("s02_stream_tumbling")(spark, sfDir)
      .select("win_start", "event_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val append = StreamingQueries.queries("s09_stream_append_finalized")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(append.nonEmpty && append.size < complete.size,
      s"append (${append.size}) should finalize strictly fewer windows than complete (${complete.size})")
    append.foreach { case (k, n) =>
      assert(complete.get(k).contains(n), s"window $k: append count $n disagrees with complete")
    }
    val withheldStarts = (complete.keySet -- append.keySet).map(_._1)
    val latestFinalized = append.keySet.map(_._1).max
    withheldStarts.foreach(ws => assert(ws > latestFinalized,
      s"withheld window $ws is older than an emitted one — not a watermark tail"))
  }

  test("s09's retry sink writes under spark.graft.scratchDir and leaves no temp dir behind") {
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    def sinkDirs() = Option(tmpRoot.list()).toSeq.flatten.filter(_.startsWith("graft_retry_sink_")).toSet
    val before = sinkDirs()
    val scratch = SparkSpec.tmpDir("graft-s09-scratch")
    val s = spark.newSession()
    s.conf.set("spark.graft.scratchDir", scratch)
    val s09 = StreamingQueries.queries("s09_stream_append_finalized")(s, sfDir)
    assert(s09.count() > 0)
    assert(s09.inputFiles.nonEmpty && s09.inputFiles.forall(_.contains(scratch)),
      s"s09 read back outside $scratch: ${s09.inputFiles.mkString(", ")}")
    assert((sinkDirs() -- before).isEmpty, s"new temp dirs: ${(sinkDirs() -- before).mkString(", ")}")
  }

  test("stream limit: listener stops the query once >= N records are ingested") {
    val dir = SparkSpec.tmpDir("graft-limit")
    val n = 5000L
    val limit = 1200L
    val producer = new ShardedBatchProducer(dir, nrShards = 4, batchSize = 100)
    producer.emit(1, n + 1) // 50 files of 100

    val lim = new StreamLimit(spark, limit)
    // 5 files (500 rows) per micro-batch; listener should stop after ~3 batches.
    val src = Pipelines.ingest(spark, dir, maxFilesPerTrigger = Some(5))
    val q = Envelope.decoded(src).writeStream
      .format("noop")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    lim.attach(q) // attach BEFORE register: un-attached listeners count nothing
    lim.register()
    q.awaitTermination(120000L)
    assert(!q.isActive, "limit listener should have stopped the query")
    assert(lim.totalSeen >= limit && lim.totalSeen < n,
      s"stopped after ${lim.totalSeen} records (limit $limit, produced $n)")
  }

  test("s19 near-dup gate: streamed dedup census equals the batch answer and drops real duplicates") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.wordShingles
    import graft.functions.HashingFunctions.simhash64
    val streamed = StreamingQueries.queries("s19_stream_neardup_gate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchSketches = graft.Tables.documents(spark, sfDir)
      .select(wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(simhash64(col("sh")).as("simhash"))
    val batch = batchSketches.dropDuplicates("simhash")
      .groupBy(pmod(col("simhash"), lit(8L)).as("shard"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch, "streamed census must equal the batch dedup census")
    val nDocs: Long = batchSketches.count()
    val nUnique: Long = streamed.values.sum
    assert(nUnique <= nDocs)
  }

  test("s20 quota sample: streamed bounded-state sample equals the batch t21 sample") {
    val streamed = StreamingQueries.queries("s20_stream_quota_sample")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.TextAnalysis.queries("t21_stratified_sample")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the rank hash is arrival-order-free and the aggregator's merge is
    // commutative-associative, so micro-batched arrival must not change
    // the sample at all — bit-identical rows, same order
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("s29 growth ledger: streamed user-week state drains to exactly the batch a24 ledger") {
    val streamed = StreamingQueries.queries("s29_stream_growth")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Temporal.queries("a24_growth_accounting")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the streaming side only accumulates the additive (user, wk)
    // presence table; the ledger itself is the SAME growthLedger core —
    // parity is by construction and must be bit-identical
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("s30 outlier gate: streamed rejections are exactly e29's audited outliers, label for label") {
    val gate = StreamingQueries.queries("s30_stream_outlier_gate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val audit = graft.operators.Similarity.queries("e29_centroid_outliers")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(5), r.getLong(4)))
      .toMap
    assert(gate.nonEmpty && gate.keySet === audit.keySet)
    gate.foreach { case (label, (seen, admitted, rejected, fence)) =>
      val (n, outliers, auditFence) = audit(label)
      assert(seen === n, s"label $label population")
      assert(admitted + rejected === seen, s"label $label partition")
      // reject = ppb1 < fence is PRECISELY e29's outlier predicate, and
      // the fence the stream enforces is the one the audit publishes
      assert(rejected === outliers, s"label $label rejected != audited outliers")
      assert(fence === auditFence, s"label $label fence drift")
    }
  }
}
