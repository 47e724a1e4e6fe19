package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
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
}
