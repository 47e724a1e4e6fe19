package graft.streaming

import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkSpec

/** s24's cross-batch state contract: the carried per-source token offset
  * must make batch n+1's first doc start exactly where batch n ended (the
  * part the driver's t11-parity oracle can't see on a single-file input),
  * with sources isolated. The pack arithmetic itself (budget boundaries,
  * straddles) is pinned on packStep directly.
  */
class PackStreamSpec extends SparkSpec {

  import StreamingQueries.packStep

  test("packStep: sorts within batch, folds onto the carried offset, straddles budgets") {
    // budget is TextAnalysis.SeqBudget = 512
    val (out0, cum0) = packStep("s", Seq(
      PackDoc(2L, "s", 3L), PackDoc(1L, "s", 2L)), 0L)
    assert(out0 === Seq(
      PackedDoc(1L, "s", 2L, 0L, 0L, 0L, 1L),
      PackedDoc(2L, "s", 3L, 2L, 0L, 0L, 1L)))
    assert(cum0 === 5L)
    // next batch folds onto cum=5; 600 tokens straddle the 512 boundary
    val (out1, cum1) = packStep("s", Seq(PackDoc(3L, "s", 600L)), cum0)
    assert(out1 === Seq(PackedDoc(3L, "s", 600L, 5L, 0L, 1L, 2L)))
    assert(cum1 === 605L)
    // an empty batch leaves the state untouched
    assert(packStep("s", Seq.empty, cum1) === ((Seq.empty, 605L)))
  }

  test("multi-batch stream: offsets carry across batches per source") {
    import spark.implicits._
    val dir = SparkSpec.tmpDir("graft-pack")

    def writeBatch(name: String, mtimeOffsetMs: Long,
                   rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$dir/_tmp_$name"
      rows.toDF("doc_id", "source", "text")
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(dir, s"$name.parquet")
      assert(part.renameTo(dest))
      dest.setLastModified(System.currentTimeMillis() + mtimeOffsetMs)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
    }
    // s1's docs split across the two files (cross-batch carry); s2 only
    // in batch 2 (fresh state mid-stream); the empty doc 4 never packs
    writeBatch("b1", 0L, Seq((1L, "s1", "a b"), (2L, "s1", "c d e")))
    writeBatch("b2", 60000L, Seq((3L, "s1", "f"), (4L, "s1", ""), (10L, "s2", "x y")))

    val typed = spark.readStream
      .schema("doc_id LONG, source STRING, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        graft.functions.TextFunctions.tokenCountWs(
          org.apache.spark.sql.functions.col("text")).as("n_tokens"))
      .filter(org.apache.spark.sql.functions.col("n_tokens") > 0)
      .as[PackDoc]
    val packed = typed.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[PackDoc],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val (out, cum) = packStep(src, rows.toSeq, state.getOption.getOrElse(0L))
          state.update(cum)
          out.iterator
      }
    val q = packed.toDF().writeStream
      .format("memory").queryName("pack_out")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 2, s"expected >= 2 data micro-batches, saw $dataBatches")

    val got = spark.table("pack_out").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 3 starts at s1's carried offset 5, NOT 0; s2 starts fresh at 0
    assert(got === Map(
      1L -> (("s1", 2L, 0L)),
      2L -> (("s1", 3L, 2L)),
      3L -> (("s1", 1L, 5L)),
      10L -> (("s2", 2L, 0L))))
  }

  test("s25 equals a19 row-for-row on the fixture (stream/batch burst parity)") {
    val batch = graft.operators.Temporal.queries("a19_burst_flags")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val stream = StreamingQueries.queries("s25_stream_burst")(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(stream === batch, "the streaming agg + shared rollup must be batch-identical")
    assert(batch.nonEmpty)
  }
}
