package graft.streaming

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkSpec

/** C4 (SURVEY.md §2.5): the composed retry schedule —
  * transient-only × max-5 × exponential-from-base — matching the
  * reference's `retryOnResourceNotFound` (`TestUtils.scala:45-50`).
  */
class SinkRetrySpec extends SparkSpec {

  private class FakeResourceNotFoundException extends RuntimeException("stream not ready")
  private class SchemaMismatchException extends RuntimeException("fatal: wrong schema")

  test("transient-then-success: retries with exponential delays, then delivers") {
    val sleeps = ArrayBuffer.empty[FiniteDuration]
    var attempts = 0
    val out = SinkRetry.retrying(maxRetries = 5, baseDelay = 2.seconds,
      sleep = sleeps += _) {
      attempts += 1
      if (attempts <= 3) throw new FakeResourceNotFoundException
      "delivered"
    }
    assert(out === "delivered")
    assert(attempts === 4)
    assert(sleeps.toSeq === Seq(2.seconds, 4.seconds, 8.seconds),
      "exponential from the base, one sleep per failed attempt")
  }

  test("non-transient errors rethrow immediately — zero retries") {
    val sleeps = ArrayBuffer.empty[FiniteDuration]
    var attempts = 0
    intercept[SchemaMismatchException] {
      SinkRetry.retrying(sleep = sleeps += _) {
        attempts += 1
        throw new SchemaMismatchException
      }
    }
    assert(attempts === 1 && sleeps.isEmpty)
  }

  test("transient error outliving the budget rethrows after maxRetries sleeps") {
    val sleeps = ArrayBuffer.empty[FiniteDuration]
    var attempts = 0
    intercept[FakeResourceNotFoundException] {
      SinkRetry.retrying(maxRetries = 5, baseDelay = 2.seconds, sleep = sleeps += _) {
        attempts += 1
        throw new FakeResourceNotFoundException
      }
    }
    assert(attempts === 6, "initial try + 5 retries")
    assert(sleeps.toSeq === Seq(2, 4, 8, 16, 32).map(_.seconds))
  }

  test("default classifier: reference's allowlist plus generic IO/timeout") {
    assert(SinkRetry.defaultTransient(new FakeResourceNotFoundException))
    assert(SinkRetry.defaultTransient(new java.io.IOException("conn reset")))
    assert(SinkRetry.defaultTransient(new java.util.concurrent.TimeoutException))
    assert(!SinkRetry.defaultTransient(new SchemaMismatchException))
    assert(!SinkRetry.defaultTransient(new IllegalStateException))
  }

  test("foreachBatch wrapper rides out an injected transient sink outage end-to-end") {
    val sink = SparkSpec.tmpDir("graft-retry-sink")

    val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(2)
    val sleeps = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Envelope.decoded(synthStream(400, 4))
      .select("sequence_number", "shard_id", "id")
      .writeStream
      .foreachBatch(SinkRetry.foreachBatchWithRetry(sleep = _ => sleeps.incrementAndGet()) {
        (batch, _) =>
          // fail BEFORE writing — a transient outage, not a partial write
          if (failuresLeft.getAndDecrement() > 0) throw new FakeResourceNotFoundException
          batch.write.mode("append").parquet(sink)
      })
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    assert(sleeps.get() === 2, "two transient failures, two backoff sleeps")
    val out = spark.read.parquet(sink)
    assert(out.count() === 400L, "every record delivered despite the outage")
    assert(out.select("sequence_number").distinct().count() === 400L, "exactly once")
  }
}
