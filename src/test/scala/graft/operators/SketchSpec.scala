package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The approx-vs-exact tolerance assertions for the sketch family. Since
  * round 7, q27's GATED output is the exact ground truth (exact distinct,
  * exact dyadic percentiles — hash-matched against DuckDB); the sketch
  * numbers themselves are engine-specific internals, so their accuracy
  * contract lives here: approx_count_distinct and approx_percentile over
  * the same table must land within configured error bounds of the gated
  * exact columns. q52's HLL binaries remain spec-only for the same
  * reason.
  */
class SketchSpec extends SparkSpec {

  test("q27: approx_count_distinct within rsd bound; approx_percentile tracks the gated exact percentiles") {
    val gated = Relational.queries("q27_approx_distinct")(spark, sfDir).collect()
    assert(gated.nonEmpty)
    val li = Tables.lineitem(spark, sfDir)
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        expr("approx_percentile(l_quantity, array(0.5, 0.75, 0.875))").as("apcts"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Double](2)))).toMap
    gated.foreach { r =>
      val flag = r.getString(0)
      val exactParts = r.getLong(1)
      val (approxParts, apcts) = approx(flag)
      // rsd 0.02 configured; allow 5 sigma
      assert(math.abs(approxParts - exactParts).toDouble / exactParts <= 0.10,
        s"$flag: approx_count_distinct $approxParts vs exact $exactParts")
      // approx_percentile returns actual data values with rank error
      // bounded by the accuracy default — at these group sizes that is
      // within one value step of the interpolated exact percentile
      Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4)).zip(apcts).foreach {
        case (exactP, approxP) =>
          assert(math.abs(approxP - exactP) <= 1.0,
            s"$flag: approx_percentile $approxP vs exact $exactP")
      }
    }
  }

  test("q52: HLL union is lossless (parts == whole) and estimates track exact counts") {
    val ev = Tables.events(spark, sfDir)
    val got = Relational.queries("q52_sketch_union")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.contains("ALL") && got.size > 2)

    // Mergeability — the at-scale claim: the union of per-group sketches
    // must equal a single-pass sketch over the whole column. HLL merge is
    // a register-wise max, so this is exact equality, not a tolerance.
    val onePass = ev
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))"))
      .head().getLong(0)
    assert(got("ALL") === onePass,
      s"union-of-parts ${got("ALL")} != one-pass sketch $onePass")

    // Accuracy: lgConfigK=12 → RSE ≈ 1.04/sqrt(4096) ≈ 1.6%; allow 5 sigma.
    val exactByType = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    (exactByType + ("ALL" -> exactAll)).foreach { case (k, exact) =>
      assert(math.abs(got(k) - exact).toDouble / exact <= 0.08,
        s"$k: hll estimate ${got(k)} vs exact $exact")
    }

    // The union must actually dedup: users appear under several event
    // types, so ALL is strictly below the sum of the per-type estimates.
    val sumParts = (got - "ALL").values.sum
    assert(got("ALL") < sumParts,
      s"union ${got("ALL")} should be < sum of per-type estimates $sumParts")

    // Storability — the half of the idiom the query can't show: sketches
    // written to parquet and unioned from the STORED table must answer
    // identically to the inline union (binary round-trip is lossless).
    val dir = SparkSpec.tmpDir("graft-hll")
    try {
      ev.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .write.mode("overwrite").parquet(s"$dir/sketches.parquet")
      val fromStore = spark.read.parquet(s"$dir/sketches.parquet")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))"))
        .head().getLong(0)
      assert(fromStore === got("ALL"),
        s"stored-sketch union $fromStore != inline union ${got("ALL")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
