package graft.sources

import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.streaming.Envelope

/** DataSource V2 implementation of the reference's sharded source (SURVEY
  * §2.1 S1/S2): generates the `putRecordsEmitter` workload — envelope
  * records `{ "id": i }` with partition keys `key$i` hash-routed onto
  * shards. Shards are packed onto `min(shards, P)` input partitions, P the
  * leaf parallelism file sources pack small splits to
  * (`spark.sql.leafNodeDefaultParallelism`, else the default parallelism);
  * shard `s` goes to partition `s % groups`, whole and in sequence order —
  * what a Kinesis shard iterator gives, without one task per shard on
  * every micro-batch. Deterministic: same options ⇒ same data on every
  * executor and every retry. The batch read is the range `(0, records]`;
  * [[SynthMicroBatchStream]] plans the same partitions per offset range.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.EnvelopeSynthSource")
  *   .option("records", "100000").option("shards", "32").load()
  * }}}
  */
class EnvelopeSynthSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Envelope.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // Spark hands getTable the ORIGINAL-case option map; re-wrap it so
    // `.option("maxRecordsPerBatch", ...)` and friends resolve.
    val opts = new CaseInsensitiveStringMap(properties)
    val records = Option(opts.get("records")).map(_.toLong).getOrElse(1000L)
    val shards = Option(opts.get("shards")).map(_.toInt).getOrElse(32)
    val maxPerBatch = Option(opts.get("maxrecordsperbatch")).map(_.toLong).getOrElse(500L)
    require(shards >= 1, s"EnvelopeSynthSource: shards must be >= 1, got $shards")
    require(records >= 0, s"EnvelopeSynthSource: records must be >= 0, got $records")
    require(maxPerBatch >= 1, s"EnvelopeSynthSource: maxRecordsPerBatch must be >= 1, got $maxPerBatch")
    new SynthTable(records, shards, maxPerBatch)
  }
}

object EnvelopeSynthSource {
  /** Shard of record `i`: stand-in for Kinesis' MD5-of-partition-key routing. */
  def shardOf(i: Long, nrShards: Int): Int = {
    var h = i * 0x9E3779B97F4A7C15L
    h ^= (h >>> 32)
    ((h % nrShards + nrShards) % nrShards).toInt
  }

  val BaseTsMicros: Long = 1767225600000L * 1000L // 2026-01-01 UTC, µs
}

private[sources] class SynthTable(records: Long, shards: Int, maxPerBatch: Long)
    extends Table with SupportsRead {

  override def name(): String = s"envelope_synth(records=$records, shards=$shards)"
  override def schema(): StructType = Envelope.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SynthScanBuilder(records, shards, maxPerBatch)
}

private[sources] class SynthScanBuilder(records: Long, shards: Int, maxPerBatch: Long)
    extends ScanBuilder with Scan with Batch {

  // read once on the driver, when the scan is built
  private val groups = {
    val spark = SparkSession.active
    val parallelism = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    math.max(1, math.min(shards, parallelism))
  }

  override def build(): Scan = this
  override def readSchema(): StructType = Envelope.schema
  override def toBatch: Batch = this
  override def description(): String = s"EnvelopeSynth[$records records, $shards shards, $groups partitions]"

  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SynthMicroBatchStream(records, shards, maxPerBatch, groups)

  override def planInputPartitions(): Array[InputPartition] =
    Array.tabulate(groups)(g => SynthShardGroup(g, groups, shards, 0L, records))

  override def createReaderFactory(): PartitionReaderFactory = new SynthRangeReaderFactory
}
