package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch
import graft.{SparkSpec, Tables}
import graft.functions.ArrayFunctions._
import graft.functions.HashingFunctions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Evidence that the custom expressions participate in whole-stage codegen
  * — the "functions, not UDFs" design position made checkable. A UDF (or a
  * CodegenFallback expression) would appear OUTSIDE WholeStageCodegen
  * spans and break the fused pipeline exactly where the per-row work is
  * hottest.
  */
class CodegenSpec extends SparkSpec {

  private def codegenPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Runs `body` on the interpreted path: no whole-stage codegen and
    * NO_CODEGEN projections, so every custom expression answers through
    * `nullSafeEval` instead of its generated code.
    */
  private def withEvalPath[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("custom scalar expressions evaluate inside WholeStageCodegen spans") {
    val d = Tables.documents(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir)
    val plans = Seq(
      codegenPlan(d.select(rolling_fingerprint(col("text")).as("fp"))),
      codegenPlan(d.select(minhash_signature(wordShingles(col("text"), 3), 16).as("sig"))),
      codegenPlan(d.select(simhash64(wordShingles(col("text"), 3)).as("h"))),
      codegenPlan(d.select(wordNgrams(col("text"), 2).as("g"))),
      codegenPlan(d.select(sorted_intersect_count(
        array(col("doc_id")), array(col("doc_id"), col("doc_id") + 1)).as("c"))),
      codegenPlan(e.select(cosine_similarity(col("embedding"), col("embedding")).as("c"))),
      codegenPlan(e.select(dot_product(col("embedding"), col("embedding")).as("dp"))),
      codegenPlan(e.select(squared_norm(col("embedding")).as("n2"))),
      codegenPlan(e.select(hyperplane_lsh_multi(col("embedding"), 4, 2, 64, 7L).as("b"))),
      codegenPlan(d.select(charHistogram(col("text"), 16).as("hist"))))
    plans.foreach { p =>
      // "*(n)" prefixes mark operators fused into a whole-stage-codegen
      // stage; the Project carrying the custom expression must be starred,
      // not a standalone interpreted Project
      assert(!p.contains("CodegenFallback"), s"codegen fallback leaked into:\n$p")
      assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
        s"projection not fused into codegen:\n$p")
    }
  }

  test("codegen and interpreted paths agree for every custom expression") {
    import spark.implicits._
    // row 0 is the pinned input; the others vary the lengths and hit the
    // edges: empty text, empty and disjoint arrays, zero vectors
    val row0 = (0, "The cat saw the cat sit", Seq(1L, 3L, 5L, 9L, 12L), Seq(3L, 4L, 9L, 12L, 20L),
      Seq(1.0f, 2.0f, -0.5f, 3.0f), Seq(0.5f, -1.0f, 2.0f, 1.5f), 3L)
    val words = Seq("alpha", "beta", "gamma", "delta", "beta", "Alpha")
    val rest = (1 to 40).map { i =>
      (i, (0 until i % 9).map(j => words((i * 7 + j) % words.length)).mkString(" "),
        (0L until 30L).filter(v => (v * 7919 + i) % 3 != 0 && i % 10 != 0),
        (0L until 30L).filter(v => (v * 104729 + i) % 4 != 0),
        Seq.tabulate(i % 7)(j => ((i * 31 + j * 17) % 11 - 5) / 4.0f),
        Seq.tabulate(4)(j => ((i * 13 + j * 5) % 9 - 4) / 2.0f),
        (i % 13).toLong)
    }
    val in = spark.sparkContext.parallelize(row0 +: rest, 2).toDF("id", "text", "a", "b", "x", "y", "k")
    val sketch = {
      val s = CountMinSketch.create(0.01, 0.99, 7)
      Seq(3L, 3L, 7L, 11L).foreach(s.addLong)
      s.toByteArray
    }
    // (name, expression, its answer on row 0): generated code and eval
    // call one kernel, so parity alone cannot catch a kernel edit; the
    // pinned answer can
    val cases: Seq[(String, Column, Any)] = Seq(
      ("sorted_intersect_count", sorted_intersect_count(col("a"), col("b")), 3L),
      ("sorted_intersect", sorted_intersect(col("a"), col("b")), Seq(3L, 9L, 12L)),
      ("cosine_similarity", cosine_similarity(col("x"), col("y")), 0.1934603333626698),
      ("dot_product", dot_product(col("x"), col("y")), 2.0),
      ("squared_norm", squared_norm(col("x")), 14.25),
      ("hyperplane_lsh", hyperplane_lsh_multi(col("x"), 8, 3, 4, 7L), Seq(77L, 253L, 5L)),
      ("minhash_signature", minhash_signature(wordShingles(col("text"), 2), 4),
        Seq(-7557724136672564867L, -8918753398920480955L, -7968655015224836793L, -5993579123876642207L)),
      ("simhash64", simhash64(wordShingles(col("text"), 2)), 7630294260759179558L),
      ("rolling_fingerprint", rolling_fingerprint(col("text")), 569038699674063413L),
      ("word_shingles", wordShingles(col("text"), 2), Seq("the cat", "cat saw", "saw the", "cat sit")),
      ("char_histogram", charHistogram(col("text"), 8), Seq(7, 4, 0, 4, 5, 2, 0, 1)),
      ("cms_min_count", cms_min_count(sketch, col("k")), 2L))
    val q = in.select(col("id") +: cases.map { case (n, c, _) => c.as(n) }: _*)
    def snapshot() = q.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Int]).toSeq
    val viaCodegen = snapshot()
    val viaEval = withEvalPath(snapshot())
    cases.zipWithIndex.foreach { case ((n, _, pinned), i) =>
      assert(viaCodegen.map(_(i + 1)) === viaEval.map(_(i + 1)), s"$n: generated code and eval disagree")
      assert(viaCodegen.head(i + 1) === pinned, s"$n: answer on the pinned row moved")
    }
  }

  test("sorted_intersect: codegen'd, agrees with array_intersect") {
    import spark.implicits._
    val pairs = (1 to 200).map { i =>
      val a = (0L until 40L).filter(v => (v * 7919 + i) % 3 != 0).toArray.sorted
      val b = (0L until 40L).filter(v => (v * 104729 + i) % 4 != 0).toArray.sorted
      (a, b)
    }.toDF("a", "b")
    val p = codegenPlan(pairs.select(sorted_intersect(col("a"), col("b")).as("x")))
    assert(!p.contains("CodegenFallback"), s"codegen fallback leaked into:\n$p")
    pairs.select(sorted_intersect(col("a"), col("b")).as("x"),
        array_intersect(col("a"), col("b")).as("y"))
      .collect().foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1).sorted,
          "merge result must equal array_intersect on sorted-unique input")
      }
  }

  test("cms probe is codegen'd and its estimates are usable") {
    val d = Tables.documents(spark, sfDir)
      .select(xxhash64(col("text")).as("h"))
    val cms = d.agg(cms_sketch_agg(col("h"), 0.001, 0.99, 7).as("c"))
      .head().getAs[Array[Byte]](0)
    val probed = d.select(col("h"), cms_min_count(cms, col("h")).as("est"))
    val plan = codegenPlan(probed)
    assert(!plan.contains("CodegenFallback"), s"cms probe fell back:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"cms probe not fused into codegen:\n$plan")
    // every present key estimates >= 1
    assert(probed.collect().forall(_.getLong(1) >= 1L))
  }
}
