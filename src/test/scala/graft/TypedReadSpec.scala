package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Pins that a typed parquet read is the same read as an inferred one.
  * `Tables.parquet` hands the reader a memoized footer schema and
  * `Materialize.toStorage` hands it the written frame's schema; either is
  * only a speed-up if the frame it returns has exactly the schema and rows
  * that `spark.read.parquet` (one inference job per call) would return.
  */
class TypedReadSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

  private def assertSame(typed: DataFrame, inferred: DataFrame, what: String): Unit = {
    assert(typed.schema == inferred.schema, s"$what: schema differs")
    assert(typed.exceptAll(inferred).isEmpty && inferred.exceptAll(typed).isEmpty,
      s"$what: rows differ")
  }

  test("Tables.parquet has the schema and rows of spark.read.parquet for every table") {
    tables.foreach { t =>
      val path = s"$sfDir/$t.parquet"
      assertSame(Tables.parquet(spark, path), spark.read.parquet(path), t)
    }
  }

  test("a toStorage round trip keeps schema and rows of nested, decimal, binary and time columns") {
    val df = spark.sql(
      """SELECT id,
        |  named_struct('a', id, 'b', cast(id AS string), 'c', array(id)) AS st,
        |  array(id, id + 1, NULL) AS arr,
        |  map(cast(id AS string), id * 2) AS m,
        |  cast(id * 1.125 AS decimal(12, 3)) AS dec,
        |  cast(concat('b', cast(id AS string)) AS binary) AS bin,
        |  date_add(DATE'2024-02-28', cast(id AS int)) AS d,
        |  timestamp_micros(1709251200123456L + id) AS ts,
        |  cast(timestamp_micros(1709251200123456L + id) AS timestamp_ntz) AS ntz
        |FROM range(5)""".stripMargin)
    val back = Materialize.toStorage(df, "spec_typed_rt")
    val dir = new org.apache.hadoop.fs.Path(back.inputFiles.head).getParent.toString
    val inferred = spark.read.parquet(dir)
    assert(back.schema == inferred.schema)
    // maps cannot be compared by a set operation; the rows are few
    def rows(f: DataFrame) = f.orderBy("id").collect().toSeq
    assert(rows(back) == rows(inferred))
    assert(rows(back) == rows(df))
  }

  test("the second read of a table in a session launches no Spark job") {
    val probe = "typed-read-probe"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    val path = s"$sfDir/orders.parquet"
    // listener events arrive asynchronously but in order: a job run after
    // the reads whose start has been seen fences every earlier job start
    def jobsOf(read: => DataFrame): Int = {
      seen.clear()
      sc.setJobDescription(probe)
      try read finally sc.setJobDescription(null)
      sc.setJobDescription("typed-read-fence")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("typed-read-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("typed-read-fence"), "fence job never reached the listener")
      seen.toArray.count(_ == probe)
    }
    sc.addSparkListener(listener)
    try {
      Materialize.resetFixtureMemo()
      assert(jobsOf(Tables.parquet(spark, path)) >= 1, "the first read must infer (a counted job)")
      assert(jobsOf(Tables.parquet(spark, path)) == 0)
    } finally sc.removeSparkListener(listener)
  }
}
