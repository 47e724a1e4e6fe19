package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.functions.HashingFunctions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.cosine_similarity

/** The SQL-text surface must agree exactly with the Scala DSL surface —
  * same builders, so any divergence means a registration bug. (The
  * `GraftExtensions` injector shares these builders verbatim; it needs a
  * fresh SparkContext to exercise, so the runtime `register` path is what
  * the shared-session spec drives.)
  */
class GraftFunctionsSpec extends SparkSpec {

  test("SQL-registered functions agree with the DSL expressions on real docs") {
    GraftFunctions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("docs_sqlfn")

    val sql = spark.sql("""
      SELECT doc_id,
        simhash64(word_shingles(text, 3)) AS sh,
        rolling_fingerprint(lower(text)) AS fp,
        minhash_signature(word_shingles(text, 3), 16)[0] AS mh0,
        size(word_ngrams(text, 2)) AS n2
      FROM docs_sqlfn WHERE size(word_shingles(text, 3)) > 0
      ORDER BY doc_id""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))

    val dsl = Tables.documents(spark, sfDir)
      .filter(size(wordShingles(col("text"), 3)) > 0)
      .select(col("doc_id"),
        simhash64(wordShingles(col("text"), 3)).as("sh"),
        rolling_fingerprint(lower(col("text"))).as("fp"),
        minhash_signature(wordShingles(col("text"), 3), 16).getItem(0).as("mh0"),
        size(wordNgrams(col("text"), 2)).as("n2"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))

    assert(sql.nonEmpty)
    assert(sql.toSeq === dsl.toSeq)
  }

  test("SQL cosine_similarity matches the DSL on embedding pairs") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("emb_sqlfn")
    val sql = spark.sql("""
      SELECT a.vec_id, b.vec_id, cosine_similarity(a.embedding, b.embedding) AS c
      FROM emb_sqlfn a JOIN emb_sqlfn b ON a.vec_id < b.vec_id AND b.vec_id < 20
      ORDER BY 1, 2""").collect().map(_.getDouble(2))
    val e = Tables.embeddings(spark, sfDir)
    val dsl = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") < col("ib") && col("ib") < 20)
      .select(col("ia"), col("ib"), cosine_similarity(col("ea"), col("eb")).as("c"))
      .orderBy("ia", "ib").collect().map(_.getDouble(2))
    assert(sql.nonEmpty && sql.toSeq === dsl.toSeq)
  }

  test("SQL cms_min_count probes a hex-literal sketch consistently with the DSL") {
    GraftFunctions.register(spark)
    val d = Tables.documents(spark, sfDir)
      .select(xxhash64(col("text")).as("h")).limit(100)
    val bytes = d.agg(cms_sketch_agg(col("h"), 0.1, 0.9, 3).as("c"))
      .head().getAs[Array[Byte]](0)
    d.createOrReplaceTempView("cms_probe_in")
    val hex = bytes.map("%02X".format(_)).mkString
    val viaSql = spark.sql(s"SELECT h, cms_min_count(X'$hex', h) AS est FROM cms_probe_in")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaDsl = d.select(col("h"), cms_min_count(bytes, col("h")).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaSql.nonEmpty && viaSql === viaDsl)
  }

  test("non-literal tuning parameters fail fast with the function name") {
    GraftFunctions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("docs_sqlfn2")
    val ex = intercept[Exception] {
      spark.sql("SELECT minhash_signature(word_shingles(text, 3), CAST(doc_id AS INT)) FROM docs_sqlfn2")
        .collect()
    }
    assert(ex.getMessage.contains("minhash_signature"))
  }

  test("SQL hyperplane_lsh_multi rejects a non-positive dim, naming the function") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("emb_sqlfn2")
    val ex = intercept[Exception] {
      spark.sql("SELECT hyperplane_lsh_multi(embedding, 4, 2, 0) FROM emb_sqlfn2").collect()
    }
    assert(ex.getMessage.contains("hyperplane_lsh_multi"), ex.getMessage)
  }

  test("SQL sorted_intersect_count matches the DSL") {
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 5L, 9L), array(3L, 4L, 9L))").head().getLong(0)
    assert(viaSql === 2L)
  }
}
