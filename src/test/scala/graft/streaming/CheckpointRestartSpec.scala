package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkSpec

/** C1–C3/C5 (SURVEY.md §2.5): checkpoint/restart semantics. The reference's
  * two checkpoint strategies both reduce to Spark's WAL-then-commit
  * protocol; these tests pin the observable contract — stop mid-stream,
  * restart from the same checkpoint, no loss and no duplication in an
  * idempotent (file) sink.
  */
class CheckpointRestartSpec extends SparkSpec {

  test("s19 dedup-state restart: a sketch admitted before the crash still blocks its duplicate after") {
    import graft.functions.TextFunctions.wordShingles
    import graft.functions.HashingFunctions.simhash64
    val s = spark
    import s.implicits._
    val src = SparkSpec.tmpDir("graft-dedup-src")
    val ckpt = SparkSpec.tmpDir("graft-dedup-ckpt")

    def doc(id: Long, text: String) = (id, text)
    // tranche 1: three distinct docs
    val t1 = Seq(
      doc(1L, "alpha beta gamma delta epsilon zeta"),
      doc(2L, "one two three four five six seven"),
      doc(3L, "red orange yellow green blue indigo"))
    // tranche 2 (arrives AFTER the restart): one exact duplicate of doc 1
    // — only the restored dedup state can know to drop it — plus one new
    val t2 = Seq(
      doc(4L, "alpha beta gamma delta epsilon zeta"),
      doc(5L, "north south east west up down around"))

    val census = scala.collection.concurrent.TrieMap.empty[Long, Long]
    def runOnce(): Unit = {
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
        .parquet(src)
      val q = stream
        .select(wordShingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(simhash64(col("sh")).as("simhash"))
        .dropDuplicates("simhash")
        .groupBy(pmod(col("simhash"), lit(8L)).as("shard"))
        .agg(count(lit(1)).as("n"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          census.clear()
          batch.collect().foreach(r => census.put(r.getLong(0), r.getLong(1)))
        }
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    t1.toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce() // admit tranche 1, commit dedup state, stop
    t2.toDF("doc_id", "text").write.mode("append").parquet(src)
    runOnce() // restart: doc 4's sketch must hit the RESTORED state

    val expected = (t1 ++ t2).map(_._2).toDF("text")
      .select(wordShingles(col("text"), 3).as("sh"))
      .select(simhash64(col("sh")).as("simhash"))
      .dropDuplicates("simhash")
      .groupBy(pmod(col("simhash"), lit(8L)).as("shard"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(census.toMap === expected,
      "post-restart census must equal batch dedup over BOTH tranches")
    assert(census.values.sum === 4L,
      "doc 4 (exact duplicate of pre-crash doc 1) must be dropped by the restored state")
  }

  test("chaos: repeated kill/restart over growing input conserves the count exactly") {
    // The reference's strongest evidence is the with-errors run
    // (log_output/chunkedCheckpointing100kWithErrors.log: 77 lease
    // conflicts, count still conserved). Same shape here: the consumer is
    // killed mid-stream 3 times, each incarnation restarting over 2,500
    // more records than the last in 100-record micro-batches (more than it
    // drains before its kill), then a final drain in larger micro-batches
    // (the offset log pins ranges, not their size). The WAL-then-commit
    // checkpoint + file-sink metadata log must deliver EXACTLY the
    // records — no loss from the kills, no duplication from re-run
    // in-flight batches.
    val ckpt = SparkSpec.tmpDir("graft-chaos-ckpt")
    val sink = SparkSpec.tmpDir("graft-chaos-sink")
    val total = 10000L

    def start(records: Long, trigger: Trigger, perBatch: Long = 100L) =
      Envelope.decoded(synthStream(records, 8, maxRecordsPerBatch = perBatch))
        .select("sequence_number", "shard_id", "id")
        .writeStream
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(trigger)
        .start()

    for (k <- 1 to 3) { // three kill cycles, each mid-flight
      val q = start(2500L * k, Trigger.ProcessingTime(0L))
      Thread.sleep(800L + 400L * k)
      q.stop() // kill with batches in flight — not a graceful drain
    }
    val drain = start(total, Trigger.AvailableNow(), perBatch = 2500L)
    drain.awaitTermination(120000L)

    val out = spark.read.parquet(sink) // reads ONLY _spark_metadata-committed files
    assert(out.count() === total, "count conserved across kills")
    assert(out.select("sequence_number").distinct().count() === total, "no duplicates")
    assert(out.agg(sum(col("id").cast("long"))).head().getLong(0) === total * (total + 1) / 2,
      "content conserved, not just cardinality")
  }

  test("two competing workers on one checkpoint: takeover conserves the count; refusal is loud with takeover off") {
    // The reference's with-errors run IS a two-competing-workers fight:
    // coordinator incarnation 2 steals shard leases from incarnation 1,
    // the loser logs 77 lease-token conflicts, and the count is still
    // conserved (log_output/chunkedCheckpointing100kWithErrors.log:
    // 170-335). Spark's analog is explicit, both halves pinned here:
    //  - default (spark.sql.streaming.stopActiveRunOnRestart=true): the
    //    NEWEST incarnation wins — starting worker B on a live worker A's
    //    checkpoint STOPS A and B takes over, and the WAL-then-commit
    //    protocol + file-sink metadata keep delivery exactly-once across
    //    the takeover (the lease-steal end-state);
    //  - with takeover disabled: B's start() is REFUSED loudly ("same id
    //    is already active") and A is untouched — never two writers
    //    interleaving commits on one checkpoint.
    val ckpt = SparkSpec.tmpDir("graft-compete-ckpt")
    val sink = SparkSpec.tmpDir("graft-compete-sink")

    // each incarnation starts over more input than the one it displaces
    def start(records: Long) =
      Envelope.decoded(synthStream(records, 8, maxRecordsPerBatch = 100))
        .select("sequence_number", "shard_id", "id")
        .writeStream
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.ProcessingTime(0L))
        .start()

    val workerA = start(2000L)
    // wait until A owns the checkpoint (first batch committed)
    var deadline = System.currentTimeMillis() + 60000L
    while (workerA.lastProgress == null && System.currentTimeMillis() < deadline)
      Thread.sleep(100L)
    assert(workerA.lastProgress != null, "worker A never made progress")

    // contention 1 — default takeover: B starts mid-stream over 1,000 more
    // records, A must be stopped BY THE SYSTEM (incarnation 2 steals the lease)
    val workerB = start(3000L)
    assert(workerA.awaitTermination(60000L),
      "takeover must stop the old incarnation")
    assert(workerB.isActive, "the new incarnation must be the live one")

    // contention 2 — takeover disabled: C's start on the live B throws
    val old = spark.conf.getOption("spark.sql.streaming.stopActiveRunOnRestart")
    spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "false")
    try {
      val ex = intercept[Exception] { start(4000L) }
      assert(ex.getMessage != null && ex.getMessage.toLowerCase.contains("active"),
        s"expected a loud already-active refusal, got: ${ex.getMessage}")
      assert(workerB.isActive, "the refusal must not take down the survivor")
    } finally {
      old match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", v)
        case None    => spark.conf.unset("spark.sql.streaming.stopActiveRunOnRestart")
      }
    }

    deadline = System.currentTimeMillis() + 120000L
    while (spark.read.parquet(sink).count() < 3000L &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(250L)
    workerB.stop()

    val out = spark.read.parquet(sink)
    assert(out.count() === 3000L, "exactly-once across the takeover: every record delivered")
    assert(out.select("sequence_number").distinct().count() === 3000L, "no duplicates")
    assert(out.agg(sum(col("id").cast("long"))).head().getLong(0) === 3000L * 3001L / 2,
      "content conserved, not just cardinality")
  }

  test("at-least-once to exactly-once: dropDuplicatesWithinWatermark collapses redelivery") {
    import spark.implicits._
    // simulated redelivery (C5): the union of two reads of the same range,
    // in different micro-batch sizes, so a record's second copy arrives
    // in the same micro-batch as its first or in a later one
    def redelivered() =
      synthStream(500, 4, maxRecordsPerBatch = 100).union(synthStream(500, 4, maxRecordsPerBatch = 250))

    // non-deduped count sees the duplicates...
    val q1 = Pipelines.runningCount(Envelope.decoded(redelivered()))
      .writeStream.format("memory").queryName("dup_raw")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    assert(spark.table("dup_raw").head().getLong(0) === 1000L, "every record delivered twice")

    // ...the watermark-bounded dedup delivers each sequence number once
    val deduped = Pipelines.dedupedWithinWatermark(redelivered())
    val q2 = deduped.select("sequence_number").writeStream
      .format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val seqs = spark.table("dedup_out").as[Long].collect()
    assert(seqs.length === 500, "each sequence number delivered exactly once")
    assert(seqs.toSet === (1L to 500L).toSet)
  }
}
