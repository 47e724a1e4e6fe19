package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The shared session factory and catalog runner: a throwing entry is
  * recorded with its reason instead of vanishing, the loop goes on past
  * it, and Verify's manifest lists every selected name, so the oracle gate
  * can fail a query that did not run.
  */
class CatalogRunnerSpec extends SparkSpec {

  private val boom: CatalogRunner.Query = (_, _) => throw new IllegalStateException("boom")
  private val good: CatalogRunner.Query = (s, _) => s.range(1000).toDF("id")
  private val twoEntries = Seq("x_boom" -> boom, "y_good" -> good)

  test("a throwing entry is reported with class and message; the next entry still runs and is timed") {
    var ran = Seq.empty[String]
    val rs = CatalogRunner.run(spark, twoEntries, sfDir, only = None) { (name, df) =>
      df.write.format("noop").mode("overwrite").save()
      ran :+= name
    }
    assert(rs.map(_.name) == Seq("x_boom", "y_good"))
    assert(rs.head.error.contains("java.lang.IllegalStateException: boom"))
    assert(rs(1).ok && rs(1).seconds > 0, rs(1).toString)
    assert(ran == Seq("y_good"))
  }

  test("every query but q52 has an oracle, every oracle names a query, none is left uninterpolated") {
    // tools/check.py scores a query without an oracle rows-only and still
    // exits 0, so a dropped or misnamed oracle key would weaken the gate
    // without failing it
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet.subsetOf(queries), (oracles.keySet -- queries).toString)
    assert(queries -- oracles.keySet == Set("q52_sketch_union"))
    // a fragment spliced into a plain """ string stays literal text:
    // `${frag}` or `$frag` (DuckDB's own `$` only opens JSON paths, `$.`)
    val literal = """\$(\{|[A-Za-z_])""".r
    val raw = oracles.collect { case (k, v) if literal.findFirstIn(v).isDefined => k }
    assert(raw.isEmpty, s"uninterpolated oracle text in ${raw.toSeq.sorted}")
  }

  test("prefix selection runs only the matching names") {
    val rs = CatalogRunner.run(spark, twoEntries :+ ("y_other" -> good), sfDir,
      only = Some(Seq("y_", "z"))) { (_, df) => df.count() }
    assert(rs.map(_.name) == Seq("y_good", "y_other") && rs.forall(_.ok))
  }

  test("the fence leaves no persisted RDD from a predecessor") {
    val pinned: CatalogRunner.Query = (s, _) => Materialize(s.range(100).toDF("id"))
    var seen = Map.empty[String, Int]
    val rs = CatalogRunner.run(spark, Seq("a_pin" -> pinned, "b_next" -> good), sfDir, only = None) {
      (name, df) => df.count(); seen += name -> spark.sparkContext.getPersistentRDDs.size
    }
    assert(rs.forall(_.ok), rs.toString)
    assert(seen("a_pin") >= 1, "the predecessor must have pinned a block for the fence to drop")
    assert(seen("b_next") == 0, s"persisted RDDs survived the fence: $seen")
  }

  test("on the default scratch base the fence removes a query's toStorage dir and keeps fixtures") {
    assert(spark.conf.getOption("spark.graft.scratchDir").isEmpty)
    var fx: org.apache.spark.sql.DataFrame = null
    var stored = Seq.empty[java.io.File]
    val store: CatalogRunner.Query = (s, dir) => {
      fx = Materialize.fixture(s, "fence-spec", dir)(s.range(3).toDF("id"))
      Materialize.toStorage(s.range(5).toDF("id"), "fence_spec")
    }
    val rs = CatalogRunner.run(spark, Seq("a_store" -> store, "b_next" -> good), sfDir, only = None) {
      (name, df) =>
        df.count()
        if (name == "a_store")
          stored = df.inputFiles.map(f => new java.io.File(new java.net.URI(f)).getParentFile).distinct.toSeq
    }
    assert(rs.forall(_.ok), rs.toString)
    assert(stored.nonEmpty, "the query must have read back a stored copy")
    assert(stored.forall(!_.exists), s"a toStorage dir survived the fence: ${stored.mkString(", ")}")
    assert(fx.count() == 3, "a fixture must survive the fence")
  }

  test("the factory session runs local[nproc] with the catalog-sized codegen cache") {
    val n = Runtime.getRuntime.availableProcessors
    assert(spark.conf.get("spark.sql.shuffle.partitions") == n.toString)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.sparkContext.master == s"local[$n]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("a Verify dump writes a manifest listing every selected entry, failed ones with their reason") {
    val out = SparkSpec.tmpDir("graft_verify_spec")
    val rs = Verify.dump(spark, twoEntries, sfDir, out)
    assert(rs.size == 2)
    val manifest = new ObjectMapper().readTree(new java.io.File(s"$out/manifest.json"))
    assert(manifest.size == 2)
    assert(manifest.get("x_boom").get("status").asText == "failed")
    assert(manifest.get("x_boom").get("error").asText == "java.lang.IllegalStateException: boom")
    assert(manifest.get("y_good").get("status").asText == "ok")
    assert(manifest.get("y_good").get("error").isNull)
    assert(manifest.get("y_good").get("seconds").asDouble > 0)
    assert(spark.read.parquet(s"$out/y_good").count() == 1000)
    assert(!new java.io.File(s"$out/x_boom").exists())
  }
}
