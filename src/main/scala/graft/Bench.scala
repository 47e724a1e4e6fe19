package graft

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, writes the per-query detail to bench_detail.json and
  * prints ONE JSON line.
  *
  * Three full executions per query through `CatalogRunner` (noop sink,
  * fence before each); the reported time is the MIN of the three. Pass 1
  * doubles as warmup (JIT, codegen, parquet footers), and the min discards
  * the one-off GC spikes this box's 2–3× run-to-run swings are made of.
  * Nothing is cached between passes (the fence unpersists everything), so
  * the min is a real end-to-end time. A query that failed in any pass
  * reports -1 and its first reason goes to the detail's `errors`.
  */
object Bench {
  val Passes = 3
  /** Any query whose median-of-passes exceeds this is listed (printed, not
    * failed: the by-design heavies live over the line), so erosion shows in
    * the round it happens.
    */
  val BudgetSec = 10.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = CatalogRunner.session()
    // noop write forces EVERY output column — a bare count() would let
    // Catalyst skip projection work and under-time scan-heavy queries
    val passes = (1 to Passes).flatMap(_ =>
      CatalogRunner.run(spark, SparkEntry.queries, sfDir) { (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      })
    val byName = passes.groupBy(_.name).toSeq.sortBy(_._1)
    def pick(rs: Seq[CatalogRunner.Result])(f: Seq[Double] => Double): Double =
      if (rs.forall(_.ok)) f(rs.map(_.seconds)) else -1.0
    val mins = byName.map { case (n, rs) => n -> pick(rs)(_.min) }
    val medians = byName.map { case (n, rs) => n -> pick(rs)(ts => ts.sorted.apply(ts.size / 2)) }
    val errors = byName.flatMap { case (n, rs) => rs.flatMap(_.error).headOption.map(n -> _) }

    def fmt(v: Double, dp: Int): String =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toString
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${CatalogRunner.json(k)}:$v" }.mkString("{", ",", "}")
    val total = mins.map(_._2).filter(_ >= 0).sum
    val medTotal = medians.map(_._2).filter(_ >= 0).sum
    val overBudget = medians.filter(_._2 > BudgetSec).map(_._1)
    val overJson = s""","budget_sec":$BudgetSec,"over_budget":${
      overBudget.map(CatalogRunner.json).mkString("[", ",", "]")}"""
    // The full per-query detail goes to a file: the metric line is scraped
    // from only the LAST ~2000 chars of the run log, and a per-query map on the
    // printed line (~4 kB at 261 queries) pushed its start out of that
    // window. A SPARK_GRAFT_ONLY subset run writes a side file so it never
    // replaces the full-catalog record.
    val detailName = if (CatalogRunner.only.isEmpty) "bench_detail.json" else "bench_detail_subset.json"
    val passesJson = obj(byName.map { case (n, rs) =>
      n -> rs.map(r => fmt(if (r.ok) r.seconds else -1.0, 3)).mkString("[", ",", "]")
    })
    val errorsJson = obj(errors.map { case (n, e) => n -> CatalogRunner.json(e) })
    java.nio.file.Files.write(java.nio.file.Paths.get(detailName),
      (s"""{"metric":"total","value":${fmt(total, 3)},"median_total":${fmt(medTotal, 3)},"unit":"sec",""" +
        s""""queries":${obj(mins.map { case (n, v) => n -> fmt(v, 3) })},""" +
        s""""medians":${obj(medians.map { case (n, v) => n -> fmt(v, 3) })},""" +
        s""""passes":$passesJson$overJson,"errors":$errorsJson,""" +
        s""""sf":"$sfDir"}""").getBytes("UTF-8"))
    // stop() BEFORE the metric println: shutdown logging must not land
    // after the one line scraped from the tail
    spark.stop()
    // "queries" holds only the 12 slowest, keyed by family code (the
    // prefix before '_'), so the line stays ~300 bytes however the catalog
    // grows; full names are the fallback should two codes ever collide,
    // since duplicate JSON keys would silently lose a timing
    val slowest = mins.filter(_._2 >= 0).sortBy(-_._2).take(12)
    val codes = slowest.map(_._1.takeWhile(_ != '_'))
    val keys = if (codes.distinct.size == codes.size) codes else slowest.map(_._1)
    val slowestJson = obj(keys.zip(slowest.map(r => fmt(r._2, 1))))
    println(s"""{"metric":"total","value":${fmt(total, 1)},"median_total":${fmt(medTotal, 1)},"unit":"sec",""" +
      s""""n_queries":${mins.size},"n_failed":${mins.count(_._2 < 0)},"queries":$slowestJson$overJson,"sf":"$sfDir"}""")
    Console.out.flush()
  }
}
