package graft

import org.apache.spark.sql.functions.col

/** A query that needs a different conf (q49 raises the recursion row cap,
  * connectedComponents resizes shuffle partitions, s14 needs the RocksDB
  * state store) sets it on a private child session, never on the caller's:
  * an unreset conf leaks into every later query in the session — q49's
  * unreset recursion cap, for example, would silently remove the
  * runaway-recursion guard for the rest of a 145-query run — and a conf
  * set-and-restored on the caller's session is swapped under any
  * concurrent runner. This spec asserts the session conf map is
  * bit-identical before, during and after those queries, and that loading
  * events sets no conf either.
  */
class ConfHygieneSpec extends SparkSpec {

  /** The confs the conf-scoping queries touch, plus the global defaults
    * that would catch an accidental new mutation nearby.
    */
  private val watched = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.cteRecursionRowLimit",
    "spark.sql.adaptive.enabled",
    "spark.sql.ansi.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  private def snapshot(s: org.apache.spark.sql.SparkSession = spark): Map[String, String] =
    watched.map(k => k -> s.conf.getOption(k).getOrElse("<unset>")).toMap

  test("conf-mutating queries restore every session conf they touch") {
    val before = snapshot()
    // recursion cap (q49) and CC-loop shuffle partitions (d07), both set
    // on child sessions, and a stateful stream (s04), which runs at the
    // session's own partitioning
    for (name <- Seq("q49_recursive_cte", "d07_dup_clusters", "s04_stream_user_state")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
      assert(snapshot() === before, s"session conf drifted after $name")
    }
    assert(snapshot() === before)
  }

  test("loading events, batch or stream, changes no conf of a fresh child session") {
    // the nanosAsLong that INT64 TIMESTAMP(NANOS) events need comes from
    // the session builder, so a child session has it before any load
    val fresh = spark.newSession()
    val before = snapshot(fresh)
    assert(Tables.events(fresh, sfDir).count() > 0)
    assert(snapshot(fresh) === before, "Tables.events changed a session conf")
    assert(SparkEntry.queries("s01_stream_count")(fresh, sfDir).count() > 0)
    assert(snapshot(fresh) === before, "s01 changed a session conf")
    assert(before("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("d07's partition override is invisible to a query running CONCURRENTLY on the same context") {
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    // Round 7: the CC loop (d07) and the recursive walk (q49) run their
    // conf overrides on isolated child sessions. The old restore-in-
    // finally discipline kept the conf clean BETWEEN queries but mutated
    // it DURING — a concurrent runner could have its shuffle partitioning
    // (or recursion guard) swapped mid-plan. This drives both at once on
    // one SparkContext and asserts the foreground query's results and
    // session conf stay bit-identical at every probe while d07 is live.
    val expected = SparkEntry.queries("q04_join_sortmerge")(spark, sfDir).collect().toSeq
    val before = snapshot()
    val d07 = Future(SparkEntry.queries("d07_dup_clusters")(spark, sfDir).count())
    var probes = 0
    while (!d07.isCompleted && probes < 50) {
      assert(snapshot() === before, "session conf mutated mid-flight by concurrent d07")
      val got = SparkEntry.queries("q04_join_sortmerge")(spark, sfDir).collect().toSeq
      assert(got === expected, "q04 result drifted while d07 ran concurrently")
      probes += 1
    }
    assert(probes > 0, "d07 finished before any concurrent probe ran — rerun with a slower box or bigger sf")
    assert(Await.result(d07, 10.minutes) > 0)
    assert(snapshot() === before)
  }

  test("stateful streams change no session conf while they run") {
    import scala.concurrent._
    import scala.concurrent.duration._
    import ExecutionContext.Implicits.global
    // A set-and-restore of a session conf around a stream passes the
    // before/after check above but swaps the conf under every concurrent
    // runner for the whole run. s04 (mapGroupsWithState) and s14
    // (transformWithState on RocksDB) run in the background while the
    // foreground snapshots the watched confs in a tight loop; every
    // snapshot must equal the starting one. The first drift is recorded
    // and asserted after both streams finish, so a failure leaves no
    // stream running into the next test.
    val before = snapshot()
    val streams = Future(Seq("s04_stream_user_state", "s14_stream_tws_state")
      .map(name => SparkEntry.queries(name)(spark, sfDir).count()))
    var probes = 0L
    var drift = Option.empty[Map[String, String]]
    while (!streams.isCompleted) {
      val now = snapshot()
      if (drift.isEmpty && now != before) drift = Some(now)
      probes += 1
    }
    assert(Await.result(streams, 10.minutes).forall(_ > 0))
    assert(probes > 0)
    assert(drift.isEmpty, s"session conf changed while a stream ran: $before -> $drift")
    assert(snapshot() === before)
  }

  test("a full no-op pass over a query leaves no persisted-RDD leak beyond materializations") {
    // Materialize-d frames stay cached by design (Bench sweeps them
    // between queries); what must NOT grow is the count across REPEATED
    // invocations of the same query — that would be a per-invocation leak.
    SparkEntry.queries("d07_dup_clusters")(spark, sfDir).count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SparkEntry.queries("d07_dup_clusters")(spark, sfDir).count()
    val n1 = spark.sparkContext.getPersistentRDDs.size
    SparkEntry.queries("d07_dup_clusters")(spark, sfDir).count()
    val n2 = spark.sparkContext.getPersistentRDDs.size
    assert(n2 <= n1 + 1,
      s"repeated d07 invocations grew the persisted-RDD set: $n1 -> $n2")
  }
}
