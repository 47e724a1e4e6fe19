package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener, Trigger}
import graft.SparkSpec

/** T3 (`tap` side-channel counting, SURVEY.md §2.2): the reference bumps a
  * `Ref[Int]` per record while records pass through unchanged. Spark's
  * first-class form is `observe()` — metrics computed on the flowing rows
  * without forking the stream or adding an aggregation shuffle, surfaced
  * per micro-batch through the listener bus.
  */
class ObserveMetricsSpec extends SparkSpec {

  test("observe(): per-batch metrics count the stream without altering it") {
    val n = 3000L

    val seenRows = new AtomicLong(0)
    val seenIdSum = new AtomicLong(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get("tap")
        if (m != null) {
          seenRows.addAndGet(m.getAs[Long]("n"))
          seenIdSum.addAndGet(m.getAs[Long]("id_sum"))
        }
      }
    }
    spark.streams.addListener(listener)
    try {
      val q = Envelope.decoded(synthStream(n, 8, maxRecordsPerBatch = 1000))
        .observe("tap", count(lit(1)).as("n"), sum(col("id").cast("long")).as("id_sum"))
        .writeStream
        .format("noop")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // listener bus is async — wait for the terminate event to drain
      var waited = 0
      while (seenRows.get() < n && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(seenRows.get() === n, "observed count == produced count (A1 via T3)")
      assert(seenIdSum.get() === n * (n + 1) / 2, "observed sum over all batches")
    } finally spark.streams.removeListener(listener)
  }
}
