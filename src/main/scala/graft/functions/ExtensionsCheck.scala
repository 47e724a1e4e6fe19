package graft.functions

import graft.CatalogRunner

/** Proves the cluster-deployment registration path end to end: a FRESH
  * session built with `spark.sql.extensions=graft.functions.GraftExtensions`
  * must resolve the custom functions from SQL text with no runtime
  * `register` call. (The spec suite cannot exercise this — its shared
  * session already exists, and builder extensions only apply at session
  * creation — so this main runs in its own forked JVM.)
  *
  *   sbt "runMain graft.functions.ExtensionsCheck"
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = CatalogRunner.session("spark.sql.extensions" -> "graft.functions.GraftExtensions")
    val row = spark.sql(
      """SELECT simhash64(array('alpha', 'beta')) AS sh,
        |  rolling_fingerprint('hello') AS fp,
        |  size(minhash_signature(array('a b c'), 8)) AS k,
        |  cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c
        |""".stripMargin).head()
    assert(row.getInt(2) == 8, s"minhash k: ${row.getInt(2)}")
    assert(math.abs(row.getDouble(3) - 1.0) < 1e-12, s"cos: ${row.getDouble(3)}")
    println(s"[extensions-check] OK: sh=${row.getLong(0)} fp=${row.getLong(1)} k=${row.getInt(2)} c=${row.getDouble(3)}")
    spark.stop()
  }
}
