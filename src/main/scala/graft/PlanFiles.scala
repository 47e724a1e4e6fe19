package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps `.explain("formatted")` for catalog queries, one file per query:
  * the human-readable plan evidence (scan pushdown, broadcast choices, agg
  * phases) next to the machine-checked guarantees in PlanShapeSpec.
  *
  *   sbt "runMain graft.PlanFiles <outDir> <suffix> [name1,name2,...] [sfDir]"
  *
  * writes <outDir>/<name>_<suffix>.txt for each query; an absent or empty
  * name list dumps the flagships. sfDir defaults to the bench default.
  * Every parquet write that building a query runs on this session (its
  * `Materialize` fixture builds and scratch carries, not a loop's writes
  * on its own `Materialize.loopSession`) lands next to it as
  * <name>_<suffix>_build<i>.txt, in write order; the fixture memo is reset
  * before each name, so a fixture another name built first is built (and
  * dumped) again.
  */
object PlanFiles {

  val Flagships = Seq(
    "p01_curation_pipeline", "d03_minhash_lsh", "e04b_embedding_nn_dedup_lsh",
    "t13_bloom_decontaminate", "q01_agg_pricing_summary", "e08_kmeans_step",
    "q43_lateral_topk", "g01_triangle_count", "a09_interval_concurrency",
    "e10_ivf_pq_ann", "d10_containment", "t18_boilerplate_spans",
    "t19_heavy_hitters", "m09_phash_neardup", "q52_sketch_union",
    "d12_substring_dup_mass", "e11_semdedup", "k03_hot_key_isolation",
    "e12_hybrid_rrf", "g04_edge_jaccard", "p05_dedup_report",
    "p07_release_manifest", "e12b_hybrid_rrf_indexed", "e16_coverage_select",
    "t28_bpe_apply", "p08_source_cap_sample", "t30_bigram_surprisal",
    "g07_local_clustering", "d13_cross_source_dup_matrix", "e17_ivf_balance",
    "z06_bloom_skipping", "t32_source_divergence", "e19_ivf_probe_sweep",
    "m13_multimodal_pack", "e21_ivf_subcell_sweep", "e18b_nn_descent_converge",
    "d16_minhash_calibration", "e22_sq_rerank")

  def main(args: Array[String]): Unit = {
    val (outDir, suffix) = (args(0), args(1))
    val names = args.lift(2).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Flagships)
    val sfDir = args.lift(3).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = CatalogRunner.session()
    val formatted = ExplainMode.fromString("formatted")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[DataWritingCommand]) writes.add(qe.explainString(formatted))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      Materialize.resetFixtureMemo()
      val df = SparkEntry.queries(name)(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        df.queryExecution.explainString(formatted))
      org.apache.spark.sql.graft.Bridge.drainListeners(spark)
      Iterator.continually(writes.poll()).takeWhile(_ != null).zipWithIndex.foreach { case (plan, i) =>
        Files.writeString(Paths.get(s"$outDir/${name}_${suffix}_build$i.txt"), plan)
      }
      System.err.println(s"[plans] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
