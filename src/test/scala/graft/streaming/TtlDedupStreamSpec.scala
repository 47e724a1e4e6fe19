package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkSpec

/** s22's TTL contract, pinned on a crafted MULTI-batch run: the part the
  * sf-fixture oracle cannot exercise (it drains in one batch) is that the
  * watermark actually EVICTS a finalized bucket's state — a later-batch
  * duplicate beyond the lateness bound must be DROPPED, not resurrect
  * the bucket or re-emit it. That drop is the deliberate trade TTL'd
  * state makes vs s03's unbounded dedup, so it is asserted, not hidden.
  */
class TtlDedupStreamSpec extends SparkSpec {

  import StreamingQueries.ttlDedupAgg

  test("watermark evicts finalized buckets: a too-late duplicate is dropped, not counted") {
    import spark.implicits._
    val dir = SparkSpec.tmpDir("graft-ttl")

    def writeBatch(name: String, mtimeOffsetMs: Long,
                   rows: Seq[(Long, Long, String, Long)]): Unit = {
      val tmp = s"$dir/_tmp_$name"
      rows.toDF("epoch", "user_id", "event_type", "event_id")
        .select(timestamp_seconds(col("epoch")).as("ts"),
          col("user_id"), col("event_type"), col("event_id"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(dir, s"$name.parquet")
      assert(part.renameTo(dest))
      dest.setLastModified(System.currentTimeMillis() + mtimeOffsetMs)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }

    val h10 = 1704103200L // 2024-01-01 10:00:00 UTC
    // batch 1: two u1 'view's + one u2 'click' in hour 10, and a
    // watermark pusher at 13:00 (terminal watermark 12:30+ — hour 10 is
    // finalized and its state evicted after this batch)
    writeBatch("b1", 0L, Seq(
      (h10, 1L, "view", 1L), (h10 + 600L, 1L, "view", 2L),
      (h10 + 1200L, 2L, "click", 3L),
      (h10 + 3L * 3600L, 9L, "z", 9L)))
    // batch 2: another pusher (the watermark computed from batch 1
    // becomes the active late-filter one batch later)
    writeBatch("b2", 60000L, Seq(
      (h10 + 3L * 3600L + 300L, 9L, "z", 11L)))
    // batch 3: a duplicate u1 'view' INSIDE the long-finalized hour
    // (10:25 << watermark 12:30+) — must be dropped, not resurrect the
    // bucket (a resurrected bucket would append a THIRD output row)
    writeBatch("b3", 120000L, Seq(
      (h10 + 1500L, 1L, "view", 10L),
      (h10 + 3L * 3600L + 600L, 9L, "z", 12L)))

    val src = spark.readStream
      .schema("ts TIMESTAMP, user_id LONG, event_type STRING, event_id LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = ttlDedupAgg(src).writeStream
      .format("memory").queryName("ttl_out")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "need a real multi-batch run")

    val got = spark.table("ttl_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    // ONLY hour-10 buckets finalize (13:00's window end never passes the
    // terminal watermark), and u1's count reflects batch 1 alone: the
    // batch-2 duplicate was dropped by the eviction, so n_dups is 1, not 2
    assert(got === Set(
      ("2024-01-01 10:00:00", 1L, "view", 1L, 1L),
      ("2024-01-01 10:00:00", 2L, "click", 3L, 0L)))
  }
}
