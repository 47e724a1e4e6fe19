package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.Envelope

/** The DSv2 sharded source (S1): shards packed onto one input partition
  * per core, each shard whole and in sequence order inside one partition.
  */
class EnvelopeSynthSourceSpec extends SparkSpec {

  /** (partition index, shard_id, sequence_number) of every row, in read order. */
  private def layout(records: Long, shards: Int) =
    synthBatch(records, shards).select("shard_id", "sequence_number").rdd
      .mapPartitionsWithIndex((p, it) => it.map(r => (p, r.getString(0), r.getLong(1))))
      .collect()

  private val shardCounts = Seq(2, 7, 32) // fewer than the cores, not divisible by the groups, the paper's

  test("min(shards, cores) input partitions, every record once") {
    shardCounts.foreach { shards =>
      val df = synthBatch(records = 20000, shards = shards)
      assert(df.rdd.getNumPartitions === math.min(shards, spark.sparkContext.defaultParallelism),
        s"$shards shards pack onto one input partition per core")
      assert(df.count() === 20000L)
      assert(df.select("sequence_number").distinct().count() === 20000L)
      assert(df.select("shard_id").distinct().count() === shards.toLong)
    }
  }

  test("rows live in the partition their shard hash says (no cross-shard leakage)") {
    shardCounts.foreach { shards =>
      val rows = layout(records = 70000, shards = shards) // a reader hashes 65,536 records at a time
      val groups = math.min(shards, spark.sparkContext.defaultParallelism)
      rows.groupBy(_._2).foreach { case (shard, rs) =>
        val s = shard.stripPrefix("shardId-").toInt
        val parts = rs.map(_._1).distinct
        assert(parts.length === 1, s"$shard spans partitions ${parts.mkString(",")}")
        assert(parts.head === s % groups, s"$shard sits in its group")
        val seqs = rs.map(_._3)
        assert(seqs.zip(seqs.drop(1)).forall { case (a, b) => a < b },
          s"$shard's sequence numbers ascend within its partition")
        assert(seqs.forall(EnvelopeSynthSource.shardOf(_, shards) == s))
      }
    }
  }

  test("load rejects shards < 1") {
    val e = intercept[IllegalArgumentException](synthBatch(records = 100, shards = 0))
    assert(e.getMessage.contains("shards must be >= 1, got 0"))
  }

  test("load rejects records < 0") {
    val e = intercept[IllegalArgumentException](synthBatch(records = -1, shards = 4))
    assert(e.getMessage.contains("records must be >= 0, got -1"))
  }

  test("load rejects maxRecordsPerBatch < 1") {
    val e = intercept[IllegalArgumentException] {
      synthStream(records = 100, shards = 4, maxRecordsPerBatch = 0)
    }
    assert(e.getMessage.contains("maxRecordsPerBatch must be >= 1, got 0"))
  }

  test("Trigger.Once reads the whole backlog; AvailableNow chunks") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    def batches(trigger: Trigger): Map[Long, Seq[Long]] = {
      val got = scala.collection.concurrent.TrieMap.empty[Long, Seq[Long]]
      val q = synthStream(records = 2100, shards = 8, maxRecordsPerBatch = 400)
        .writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          got.put(id, df.select("sequence_number").collect().map(_.getLong(0)).toSeq)
          ()
        }
        .option("checkpointLocation", SparkSpec.tmpDir("synth-trigger"))
        .trigger(trigger)
        .start()
      q.awaitTermination()
      got.toMap
    }
    val once = batches(Trigger.Once())
    assert(once.keySet === Set(0L), "Trigger.Once runs one batch")
    assert(once(0L).sorted === (1L to 2100L), "the whole backlog, each record once")
    val now = batches(Trigger.AvailableNow())
    assert(now.size === 6, "ceil(2100 / 400) batches")
    assert(now.values.forall(_.size <= 400))
    assert(now.values.flatten.toSeq.sorted === (1L to 2100L))
  }

  test("perShardState survives a sink failure and a restart") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.streaming.{Pipelines, SinkRetry}
    val shards = 7
    val ckpt = SparkSpec.tmpDir("synth-state-ckpt")
    val emitted = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    val transientFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fatalFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sink = SinkRetry.foreachBatchWithRetry(sleep = _ => ()) { (df: DataFrame, id: Long) =>
      if (id == 1L && transientFired.compareAndSet(false, true))
        throw new java.io.IOException("injected transient sink error") // retried in place
      val rows = df.collect()
      if (id == 3L && fatalFired.compareAndSet(false, true))
        throw new IllegalStateException("injected fatal sink error") // kills the query
      rows.foreach(r => emitted.put(r.getString(0), (r.getLong(1), r.getLong(2))))
    }
    def run(records: Long): Unit = {
      val q = Pipelines.perShardState(Envelope.decoded(synthStream(records, shards))).toDF("shard_id", "count", "last_seq")
        .writeStream
        .foreachBatch(sink)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run(3000))
    assert(fatalFired.get && transientFired.get)
    // restart over grown input: replays batch 3 from the offset log over
    // the restored state, then extends that state with records 3001..5000
    run(5000)
    assert(emitted.toMap === SparkSpec.shardOracle(5000, shards))
  }

  /** One AvailableNow run of the decoded stream of records 1..`records`
    * (8 shards, 400 per micro-batch) into the parquet `sink`, resuming from
    * `ckpt`.
    */
  private def drainTo(ckpt: String, sink: String, records: Long): Unit = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val q = Envelope.decoded(synthStream(records, 8, maxRecordsPerBatch = 400)) // non-default: proves camelCase options resolve
      .select("sequence_number", "shard_id", "id")
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("micro-batch stream: chunked batches, offsets are sequence checkpoints, restart resumes") {
    val ckpt = SparkSpec.tmpDir("synth-stream-ckpt")
    val sink = SparkSpec.tmpDir("synth-stream-sink")
    drainTo(ckpt, sink, 2000) // 5 batches of 400 (chunk-sized admission control)
    drainTo(ckpt, sink, 5000) // restart over grown input: resumes at 2000, emits only 2001..5000
    val out = spark.read.parquet(sink)
    assert(out.count() === 5000L, "restart resumed from the committed offset")
    assert(out.select("sequence_number").distinct().count() === 5000L, "exactly once")
    val ids = out.agg(min("id"), max("id")).head()
    assert(ids.getInt(0) === 1 && ids.getInt(1) === 5000, "every payload decoded")
    // offsets in the checkpoint are human-readable sequence numbers
    val offsets = new java.io.File(ckpt, "offsets").listFiles().map(_.getName).sorted
    assert(offsets.length >= 5, s"chunked micro-batches expected, got ${offsets.length}")
  }

  test("a restart with fewer records than the committed offset fails, naming both, and commits nothing") {
    val ckpt = SparkSpec.tmpDir("synth-shrink-ckpt")
    val sink = SparkSpec.tmpDir("synth-shrink-sink")
    drainTo(ckpt, sink, 2000)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drainTo(ckpt, sink, 1000))
    assert(e.getMessage.contains("records=1000 is below the committed offset 2000"), e.getMessage)
    // the failed run moved no offset back, so growing input still resumes at 2000
    drainTo(ckpt, sink, 3000)
    val out = spark.read.parquet(sink)
    assert(out.count() === 3000L, "no record re-delivered")
    assert(out.select("sequence_number").distinct().count() === 3000L)
  }
}
