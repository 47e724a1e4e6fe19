package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The offline sharded source, `graft.sources.EnvelopeSynthSource`:
    * records 1..`records` routed onto `shards`, as one batch read.
    */
  def synthBatch(records: Long, shards: Int): DataFrame =
    spark.read.format("graft.sources.EnvelopeSynthSource")
      .option("records", records).option("shards", shards).load()

  /** The same records as a stream of micro-batches of at most
    * `maxRecordsPerBatch`; a restart over the same checkpoint resumes at
    * its committed offset, so a larger `records` there is input that grew.
    */
  def synthStream(records: Long, shards: Int, maxRecordsPerBatch: Long = 500L): DataFrame =
    spark.readStream.format("graft.sources.EnvelopeSynthSource")
      .option("records", records).option("shards", shards)
      .option("maxRecordsPerBatch", maxRecordsPerBatch).load()
}

object SparkSpec {
  lazy val session: SparkSession = CatalogRunner.session()

  /** A fresh `prefix`-named dir under `Materialize.defaultRoot`, the
    * per-JVM root whose shutdown hook removes it, so no spec leaves a temp
    * dir behind. The catalog runner's fence sweeps only the root's
    * `scratch`, never these.
    */
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(
      Files.createDirectories(Paths.get(Materialize.defaultRoot, "spec")), prefix).toString

  /** Per-shard `(count, last sequence number)` of records 1..`records`
    * under the synthetic source's routing, keyed by shard name.
    */
  def shardOracle(records: Long, shards: Int): Map[String, (Long, Long)] =
    (1L to records).groupBy(graft.sources.EnvelopeSynthSource.shardOf(_, shards)).map {
      case (s, ids) => f"shardId-$s%012d" -> ((ids.size.toLong, ids.max))
    }
}
