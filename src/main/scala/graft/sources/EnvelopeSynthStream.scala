package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.unsafe.types.UTF8String

/** Micro-batch streaming side of [[EnvelopeSynthSource]]: the offset IS a
  * global sequence-number high-water mark — exactly the reference's
  * checkpoint model (KCL sequence checkpoints, SURVEY §2.5 C1/C2), so
  * Spark's offset log plays the role of the DynamoDB lease table natively.
  *
  *  - admission control (`maxRecordsPerBatch`) bounds each micro-batch the
  *    way the reference's 500-record chunks do; `ReadAllAvailable`
  *    (Trigger.Once) takes the whole backlog and `ReadMaxRows` caps it;
  *  - Trigger.AvailableNow drains the backlog and stops (the bounded-test
  *    shape of FlattenChunksTest);
  *  - restart resumes from the committed offset: no loss, no duplication
  *    (the partition layout is not in the offset log). A restart may keep
  *    or grow `records`, never shrink it below that offset.
  */
class SynthMicroBatchStream(records: Long, shards: Int, maxPerBatch: Long, groups: Int)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = SeqOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control latestOffset is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].seq
    // an end below the start would be committed, and re-delivered later
    if (records < s) throw new IllegalStateException(
      s"EnvelopeSynthSource: records=$records is below the committed offset $s; a restart may not shrink records")
    val take = limit match {
      case _: ReadAllAvailable => records - s
      case m: ReadMaxRows => m.maxRows
      case _ => maxPerBatch
    }
    SeqOffset(s + math.min(take, records - s))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerBatch)

  override def prepareForTriggerAvailableNow(): Unit = ()
  override def reportLatestOffset(): Offset = SeqOffset(records)

  override def deserializeOffset(json: String): Offset = SeqOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[SeqOffset].seq, end.asInstanceOf[SeqOffset].seq)
    Array.tabulate(groups)(g => SynthShardGroup(g, groups, shards, s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory = new SynthRangeReaderFactory
}

/** Offset = highest sequence number emitted so far (exclusive start). */
case class SeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

/** Records `(startSeq, endSeq]` of the shards `s % groups == group`: the
  * full generation recipe, so readers are stateless and retry-safe.
  */
case class SynthShardGroup(group: Int, groups: Int, shards: Int, startSeq: Long, endSeq: Long)
    extends InputPartition

private[sources] class SynthRangeReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SynthShardGroup]
    new PartitionReader[InternalRow] {
      // the group's shard names by shard index, null for other groups' shards
      private val names = Array.tabulate(p.shards)(s =>
        if (s % p.groups == p.group) UTF8String.fromString(f"shardId-$s%012d") else null)
      // the range is hashed once, a window at a time; a window's records of
      // this group are emitted sorted by (shard, sequence), so the per-shard
      // grouping downstream sees runs of one shard (faster on large batches)
      private val keys = new Array[Long](math.max(0L, math.min(1L << 16, p.endSeq - p.startSeq)).toInt)
      private var lo = p.startSeq // the window is (lo, lo + n]
      private var n = 0
      private var m = 0 // keys(k) = shard << 32 | offset in the window, for k < m
      private var j = -1

      override def next(): Boolean = {
        j += 1
        while (j >= m && lo + n < p.endSeq) {
          lo += n
          n = math.min(keys.length.toLong, p.endSeq - lo).toInt
          m = 0
          for (k <- 0 until n) {
            val s = EnvelopeSynthSource.shardOf(lo + k + 1, p.shards)
            if (names(s) != null) { keys(m) = s.toLong << 32 | k; m += 1 }
          }
          java.util.Arrays.sort(keys, 0, m)
          j = 0
        }
        j < m
      }

      override def get(): InternalRow = {
        val i = lo + (keys(j) & 0xFFFFFFFFL) + 1
        InternalRow(
          names((keys(j) >>> 32).toInt),
          UTF8String.fromString(s"key$i"),
          i,
          EnvelopeSynthSource.BaseTsMicros + i * 1000L,
          UTF8String.fromString(s"""{ "id": $i }"""))
      }

      override def close(): Unit = ()
    }
  }
}
