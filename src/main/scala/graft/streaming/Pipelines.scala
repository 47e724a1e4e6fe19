package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Per-shard running state (SURVEY.md §2.4 A3/A4): the Spark form of the
  * reference's per-shard fold (`ZSink.foldLeftM`,
  * `CheckpointOnChunkEndStreamClient.scala:80-85`) plus its
  * last-processed-record `Ref` (`:52-61`). State lives in the streaming
  * state store, checkpointed with the query — restart restores it.
  */
case class ShardState(count: Long, lastSeq: Long)

/** One decoded envelope row (typed view for stateful ops). */
case class ShardRecord(shard_id: String, sequence_number: Long, id: Int)

/** Streaming pipeline builders reproducing the reference's consumer
  * semantics (SURVEY.md §2) on Structured Streaming. Each takes the
  * envelope stream produced by [[ingest]] — the offline stand-in for a
  * Kinesis connector source, with shard ⇒ source partition — or by the
  * DSv2 synthetic source. [[perShardState]] is the one per-shard fold:
  * catalog query s06 and the ingest benchmark both run it.
  */
object Pipelines {

  /** S1 analog: the sharded source. File-stream over the producer's batch
    * files; `maxFilesPerTrigger` bounds a micro-batch the way the KCL's
    * chunking bounds a chunk.
    */
  def ingest(spark: SparkSession, dir: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(ShardedBatchProducer.wireSchema)
    val r2 = maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
    r2.json(dir)
      .withColumn("arrival_ts", timestamp_millis(col("arrival_ts")))
  }

  /** A1: the reference's one analytic — global running count
    * (`Ref[Int]`, asserted == 100000 at `FlattenChunksTest.scala:59`).
    * Complete-mode aggregate; exact, state-store-backed.
    */
  def runningCount(decoded: DataFrame): DataFrame =
    decoded.groupBy().count()

  /** A2+A3+A4, the engine's one per-shard fold: per-shard running record
    * count plus the last-processed position, the checkpointable high-water
    * mark the reference tracks in `maybeLastProcessed`
    * (`CheckpointOnChunkEndStreamClient.scala:52-61`), as explicit
    * user-visible state via `mapGroupsWithState`. Update-mode emission per
    * shard per micro-batch; the count only grows, so a shard's emission
    * with the largest count is its final state. State survives restart via
    * the query checkpoint.
    */
  def perShardState(decoded: DataFrame): Dataset[(String, Long, Long)] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.select(col("shard_id"), col("sequence_number"), col("id"))
      .as[ShardRecord]
      .groupByKey(_.shard_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (shard: String, records: Iterator[ShardRecord], state: GroupState[ShardState]) =>
          val prev = state.getOption.getOrElse(ShardState(0L, -1L))
          var count = prev.count
          var lastSeq = prev.lastSeq
          records.foreach { r =>
            count += 1
            if (r.sequence_number > lastSeq) lastSeq = r.sequence_number
          }
          state.update(ShardState(count, lastSeq))
          (shard, count, lastSeq)
      }
  }

  /** C5 upgrade path: at-least-once → effectively-exactly-once by dropping
    * redelivered records on their producer-assigned id within the watermark
    * horizon (bounded state — the 100 TB-safe form of streaming dedup).
    */
  def dedupedWithinWatermark(envelope: DataFrame, watermark: String = "10 minutes"): DataFrame =
    envelope
      .withWatermark("arrival_ts", watermark)
      .dropDuplicatesWithinWatermark("sequence_number")
}
