package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare and manifest.json,
  * which `tools/check.py` scores so a query that did not run fails the gate.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir>"
  */
object Verify {
  /** Per-query wall budget: the sf0.01 gate must stay cheap, so a query
    * over it is flagged in the round it regresses.
    */
  val BudgetSec = 10.0

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = CatalogRunner.session()
    dump(spark, SparkEntry.queries, sfDir, outDir)
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${CatalogRunner.json(k)}: ${CatalogRunner.json(v)}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes every selected query to `<outDir>/<name>/` and one
    * `<outDir>/manifest.json` entry per selected name: status (`ok` or
    * `failed`), the error's `Class: message`, and seconds.
    */
  def dump(spark: SparkSession, queries: Iterable[(String, CatalogRunner.Query)],
           sfDir: String, outDir: String): Seq[CatalogRunner.Result] = {
    new java.io.File(outDir).mkdirs()
    val results = CatalogRunner.run(spark, queries, sfDir) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    results.foreach(r => r.error.foreach(e => System.err.println(s"[verify] ${r.name} failed: $e")))
    val over = results.filter(_.seconds > BudgetSec).sortBy(-_.seconds)
    if (over.nonEmpty) System.err.println(s"[verify] over_budget(${BudgetSec}s): " +
      over.map(r => f"${r.name}=${r.seconds}%.1fs").mkString(", "))
    System.err.println(f"[verify] ${results.count(_.ok)}/${results.size} queries dumped in " +
      f"${results.map(_.seconds).sum}%.1f s")
    val manifest = results.sortBy(_.name).map { r =>
      val status = if (r.ok) "ok" else "failed"
      s"${CatalogRunner.json(r.name)}: {\"status\": \"$status\", " +
        s"\"error\": ${r.error.map(CatalogRunner.json).getOrElse("null")}, \"seconds\": ${r.seconds}}"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    results
  }
}
