package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import graft.SparkSpec

/** s04/s14's per-user fold, pinned on a crafted MULTI-batch run: the
  * Update-mode sink sees one emission per user per micro-batch, and the
  * answer must still be one row per user, equal to the 1-part answer.
  */
class UserStateStreamSpec extends SparkSpec {

  test("s04/s14 folds: a 3-part stream, one file per batch, gives the 1-part answer") {
    import spark.implicits._
    val base = SparkSpec.tmpDir("graft-userstate")
    // users 1 and 2 appear in every part, so each part re-emits them
    val parts = Seq(
      Seq((1L, 5L, 100L), (2L, 7L, 150L), (1L, 3L, 300L)),
      Seq((3L, 9L, 200L), (1L, 8L, 250L), (2L, 2L, 50L)),
      Seq((2L, 6L, 400L), (3L, 1L, 500L), (1L, 4L, 120L)))
    // append each part as its own parquet file, mtimes rising part by part
    // (the file source takes files in modification-time order)
    def write(dir: String, parts: Seq[Seq[(Long, Long, Long)]]): Unit = {
      val t0 = System.currentTimeMillis()
      parts.zipWithIndex.foreach { case (rows, i) =>
        val before = Option(new java.io.File(dir).list()).fold(Set.empty[String])(_.toSet)
        rows.toDF("user_id", "event_id", "ts_sec").coalesce(1).write.mode("append").parquet(dir)
        new java.io.File(dir).listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
          .foreach(_.setLastModified(t0 + i * 60000L))
      }
    }
    write(s"$base/one", Seq(parts.flatten))
    write(s"$base/three", parts)
    def events(s: SparkSession, dir: String): Dataset[UserEvent] = {
      import s.implicits._
      s.readStream.schema("user_id LONG, event_id LONG, ts_sec LONG")
        .option("maxFilesPerTrigger", "1").parquet(dir).as[UserEvent]
    }
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val folds = Seq[(String, String => Seq[Row])](
      "s04" -> (d => StreamingQueries.userStateFold(events(spark, d)).collect().toSeq),
      "s14" -> (d => StreamingQueries.userStateTws(events(rocks, d)).collect().toSeq))
    for ((name, fold) <- folds) {
      val one = fold(s"$base/one")
      assert(one.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ===
        Seq((1L, 4L, 3L), (2L, 3L, 2L), (3L, 2L, 1L)), s"$name: (user, n_events, min_event_id)")
      assert(fold(s"$base/three") === one, s"$name: 3 micro-batches must give the 1-part answer")
    }
  }
}
