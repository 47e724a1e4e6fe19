package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Offline analog of the reference's `putRecordsEmitter`
  * (`TestUtils.scala:73-93`): emits sequential records `{ "id": i }` in
  * batches of `batchSize`, each with partition key `key$i`; the key is
  * hashed onto one of `nrShards` shards (Kinesis does this server-side —
  * here it's an explicit deterministic hash so tests can predict shard
  * populations).
  *
  * Each batch lands as ONE json-lines file, moved into `dir` atomically
  * (write to a staging dir, then rename) — the contract Spark's file
  * stream source requires of producers: a file is only visible once
  * complete, so a micro-batch never reads a half-written batch. Batch
  * files are the offline stand-in for the reference's `putRecords` calls;
  * file-arrival order plays the role of the producer's 500 ms cadence.
  */
class ShardedBatchProducer(dir: String, nrShards: Int = 32, batchSize: Int = 500) {

  private val target = Paths.get(dir)
  private val staging = Paths.get(dir + ".staging")
  Files.createDirectories(target)
  Files.createDirectories(staging)

  /** Shard of `key$i`: the synthetic source's routing hash. */
  def shardOf(i: Long): Int = graft.sources.EnvelopeSynthSource.shardOf(i, nrShards)

  private def recordJson(i: Long): String = {
    // NB: the `s` interpolator processes escapes even in triple quotes, so
    // \\" yields a literal \" — the JSON-escaped quote inside `data`.
    val data = s"""{ \\"id\\": $i }"""
    val shard = f"shardId-${shardOf(i)}%012d"
    // arrival_ts: deterministic base + 1ms per record (epoch 2026-01-01).
    val tsMillis = 1767225600000L + i
    s"""{"shard_id":"$shard","partition_key":"key$i","sequence_number":$i,""" +
      s""""arrival_ts":$tsMillis,"data":"$data"}"""
  }

  /** Emit records [from, until) as ceil(n/batchSize) batch files. Returns
    * the emitted file paths in order.
    */
  def emit(from: Long, until: Long): Seq[Path] =
    (from until until).grouped(batchSize).zipWithIndex.map { case (ids, _) =>
      val name = f"batch_${ids.head}%012d.json"
      val tmp = staging.resolve(name)
      val lines = ids.map(recordJson).mkString("", "\n", "\n")
      Files.write(tmp, lines.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }.toSeq
}

object ShardedBatchProducer {
  /** Envelope schema as emitted on the wire: arrival_ts travels as epoch
    * millis (long) and is cast to timestamp at ingest — json-lines have no
    * native timestamp type.
    */
  val wireSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("partition_key", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("sequence_number", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("arrival_ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("data", org.apache.spark.sql.types.StringType)))
}
