package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkSpec

/** s21's cross-batch state contract, pinned on a crafted MULTI-batch run:
  * the first event of batch n+1 must pair with the last event of batch n
  * (the carried GroupState), and the final matrix must equal the batch
  * (a17) answer on the same rows — micro-batching answer-invisible.
  */
class TransitionStreamSpec extends SparkSpec {

  import StreamingQueries.{transitionStep, transitionsStream, transitionRollup}

  test("transitionStep: sorts within batch, chains onto carried state") {
    import graft.streaming.{LastEvent, SessEvent => _}
    // unsorted batch input; no prior state
    val (t0, last0) = transitionStep(1L, Seq(
      SessEvent(1L, 2L, 200L, "b"), SessEvent(1L, 1L, 100L, "a")), None)
    assert(t0.map(t => (t.from_type, t.to_type)) === Seq(("a", "b")))
    assert(last0 === LastEvent(200L, 2L, "b"))
    // next batch chains onto the carried event
    val (t1, last1) = transitionStep(1L, Seq(SessEvent(1L, 3L, 300L, "c")), Some(last0))
    assert(t1.map(t => (t.from_type, t.to_type)) === Seq(("b", "c")))
    assert(last1 === LastEvent(300L, 3L, "c"))
    // same-second pair orders by event_id
    val (t2, _) = transitionStep(1L, Seq(
      SessEvent(1L, 9L, 500L, "z"), SessEvent(1L, 8L, 500L, "y")), None)
    assert(t2.map(t => (t.from_type, t.to_type)) === Seq(("y", "z")))
  }

  test("transitionStep: a LATE event merges by (ts, id) instead of reversing the chain") {
    import graft.streaming.LastEvent
    // carried state at ts=400; the next batch delivers ts=300 (late) and
    // ts=500. The old prepend emitted the reversed pair d→c and carried
    // whatever the batch's max was; the merge orders the chain
    // c(300) → d(400,state) → e(500): locally-ordered transitions and a
    // monotone carried timestamp.
    val (t, last) = transitionStep(1L, Seq(
      SessEvent(1L, 7L, 500L, "e"), SessEvent(1L, 6L, 300L, "c")),
      Some(LastEvent(400L, 5L, "d")))
    assert(t.map(x => (x.from_type, x.to_type)) === Seq(("c", "d"), ("d", "e")))
    assert(last === LastEvent(500L, 7L, "e"))
    // an ONLY-late batch must not regress the carried state
    val (t2, last2) = transitionStep(1L, Seq(SessEvent(1L, 8L, 100L, "b")),
      Some(LastEvent(400L, 5L, "d")))
    assert(t2.map(x => (x.from_type, x.to_type)) === Seq(("b", "d")))
    assert(last2 === LastEvent(400L, 5L, "d"))
  }

  test("multi-batch stream: state carries across batches, matrix == batch answer") {
    import spark.implicits._
    val dir = SparkSpec.tmpDir("graft-trans")

    // one parquet file per micro-batch, mtime-ordered (the file source
    // processes in modification-time order; maxFilesPerTrigger=1 makes
    // each file its own batch)
    def writeBatch(name: String, mtimeOffsetMs: Long,
                   rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = s"$dir/_tmp_$name"
      rows.toDF("user_id", "event_id", "ts_sec", "event_type")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(dir, s"$name.parquet")
      assert(part.renameTo(dest))
      dest.setLastModified(System.currentTimeMillis() + mtimeOffsetMs)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }
    // u1's chain a→b→c→a and u2's x→y are SPLIT across the three files:
    // every cross-file adjacency is a cross-batch transition
    writeBatch("b1", 0L, Seq((1L, 1L, 100L, "a"), (1L, 2L, 200L, "b"), (2L, 3L, 100L, "x")))
    writeBatch("b2", 60000L, Seq((1L, 4L, 300L, "c"), (2L, 5L, 400L, "y")))
    writeBatch("b3", 120000L, Seq((1L, 6L, 500L, "a")))

    val schema = "user_id LONG, event_id LONG, ts_sec LONG, event_type STRING"
    val typed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[SessEvent]
    val q = transitionsStream(typed).writeStream
      .format("memory").queryName("trans_out")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected >= 3 data micro-batches, saw $dataBatches")

    val pairs: DataFrame = spark.table("trans_out")
    val got = transitionRollup(pairs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // b→c and c→a pair across files 1→2 and 2→3; x→y across 1→2
    assert(got === Map(
      ("a", "b") -> ((1L, 1L, 1.0)),
      ("b", "c") -> ((1L, 1L, 1.0)),
      ("c", "a") -> ((1L, 1L, 1.0)),
      ("x", "y") -> ((1L, 1L, 1.0))),
      "cross-batch adjacencies must pair via the carried state")
  }
}
