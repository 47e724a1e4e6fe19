package graft.sources

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader
import org.apache.spark.sql.types._

/** Opt-in PRODUCTION Kinesis source surface (SURVEY.md §2.1 S1) — the live
  * counterpart of [[graft.sources.EnvelopeSynthSource]], the offline
  * sharded source, matching the reference's consumer topology
  * (`CheckpointOnChunkEndStreamClient.scala:19-22`: stream name + consumer
  * application + starting position, consumed per shard).
  *
  * COMPILE-ONLY in this build: no Kinesis connector jar ships here (zero
  * egress), so `load()` fails with a clear message. At runtime a Spark
  * DSv2 Kinesis connector (the spark-sql-kinesis family) must be on the
  * classpath to resolve `format("kinesis")`. Everything
  * downstream of [[envelope]] — JSON decode, per-shard folds, checkpointed
  * restart — is connector-agnostic and verified offline against the same
  * wire shape by KinesisSurfaceSpec (MemoryStream contract test).
  */
final case class KinesisSourceConfig(
    streamName: String,
    region: String,
    /** LATEST | TRIM_HORIZON | AT_TIMESTAMP — the reference consumes from
      * the application's checkpointed position, i.e. TRIM_HORIZON on first
      * run; Spark's streaming checkpoint plays the KCL lease table's role.
      */
    startingPosition: String = "TRIM_HORIZON",
    /** KCL application-name analog (`applicationNamePrefix`,
      * `TestUtils.scala:42`): consumer group identity for enhanced fan-out.
      */
    consumerName: Option[String] = None,
    endpointUrl: Option[String] = None) {

  /** The connector option map — the `format("kinesis")` spelling of the
    * reference's consumer constructor arguments.
    */
  def options: Map[String, String] =
    Map(
      "streamName" -> streamName,
      "region" -> region,
      "startingPosition" -> startingPosition) ++
      consumerName.map("consumerName" -> _) ++
      endpointUrl.map("endpointUrl" -> _)

  def reader(spark: SparkSession): DataStreamReader =
    spark.readStream.format("kinesis").options(options)

  /** Resolve the source. Without a connector jar this build cannot run
    * it: the lookup fails with `DATA_SOURCE_NOT_FOUND`, rethrown here with
    * a clear message, which beats a DataSource-lookup stack trace
    * mid-pipeline.
    */
  def load(spark: SparkSession): DataFrame =
    try reader(spark).load()
    catch {
      case e: Exception with SparkThrowable if e.getCondition == "DATA_SOURCE_NOT_FOUND" =>
        throw new IllegalArgumentException(
          "Kinesis source is compile-only in this build: put a Spark Kinesis " +
            "DSv2 connector on the classpath to consume a live stream", e)
    }
}

object KinesisEnvelopeSource {

  /** The record frame a DSv2 Kinesis connector emits (the
    * spark-sql-kinesis family contract): payload bytes plus per-record
    * Kinesis metadata.
    */
  val connectorWireSchema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("streamName", StringType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", StringType),
    StructField("approximateArrivalTimestamp", TimestampType),
    StructField("shardId", StringType)))

  /** Kinesis sequence numbers are decimal strings of up to ~56 digits —
    * too wide for any fixed-width numeric type — but non-negative, so
    * (length, digits) lexicographic order IS numeric order. Folds that
    * track a per-shard high-water mark (`Pipelines.perShardState`, A4) order by this
    * key on the live path where the synthetic path compares its long ids.
    */
  def seqOrderKey(seq: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    struct(length(seq).as("l"), seq.as("s"))

  /** Connector wire frame → the engine's envelope columns. The payload is
    * the reference's UTF-8 JSON (`TestMsgJsonSerde.scala`), so bytes
    * decode to the `data` string every downstream operator already
    * consumes; `sequence_number` stays the connector's string (see
    * [[seqOrderKey]]).
    */
  def envelope(raw: DataFrame): DataFrame =
    raw.select(
      col("shardId").as("shard_id"),
      col("partitionKey").as("partition_key"),
      col("sequenceNumber").as("sequence_number"),
      col("approximateArrivalTimestamp").as("arrival_ts"),
      col("data").cast(StringType).as("data"))
}
