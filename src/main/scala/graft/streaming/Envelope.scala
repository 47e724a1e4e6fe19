package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The record payload of the reference pipeline — `TestMsg.scala:3` in
  * googley42/zio-kinesis-example (`case class TestMsg(id: Int)`).
  */
case class TestMsg(id: Int)

/** The sharded-record envelope (SURVEY.md §1.4): what the reference's
  * `DynamicConsumer.Record[T]` carries per record — shard identity, the
  * producer partition key (`TestUtils.scala:80`), a per-shard monotonic
  * sequence number, arrival time, and the raw payload bytes-as-string.
  *
  * In production this is the schema a Kinesis/Kafka connector source emits
  * (mapped by [[graft.sources.KinesisEnvelopeSource.envelope]]); offline
  * it is generated by [[graft.sources.EnvelopeSynthSource]], the one
  * offline sharded source — the shard is the unit of source parallelism
  * either way.
  */
object Envelope {

  val schema: StructType = StructType(Seq(
    StructField("shard_id", StringType, nullable = false),
    StructField("partition_key", StringType, nullable = false),
    StructField("sequence_number", LongType, nullable = false),
    StructField("arrival_ts", TimestampType, nullable = false),
    StructField("data", StringType, nullable = false)))

  /** Payload schema — mirrors the reference's static case-class schema
    * (`TestMsg.scala:3`): never inferred, so malformed JSON surfaces as a
    * null struct instead of silently reshaping the pipeline.
    */
  val msgSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false)))

  /** Decode direction of the serde (`TestMsgJsonSerde.scala:17-23`):
    * JSON text → typed column. PERMISSIVE by default (null on malformed);
    * pass `failFast = true` for the reference's fail-the-effect behavior.
    */
  def decoded(envelope: DataFrame, failFast: Boolean = false): DataFrame = {
    val opts = if (failFast) Map("mode" -> "FAILFAST") else Map.empty[String, String]
    envelope.withColumn("msg", from_json(col("data"), msgSchema, opts))
      .withColumn("id", col("msg.id"))
      .drop("msg")
  }

  /** Encode direction (`TestMsgJsonSerde.scala:25-26`): typed → JSON text. */
  def encode(id: Column): Column = to_json(struct(id.as("id")))
}
