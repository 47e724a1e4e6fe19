package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way every main and spec builds a session, and the one loop that
  * runs catalog queries, so the oracle gate, the bench and the specs all
  * run the same engine.
  */
object CatalogRunner {

  type Query = (SparkSession, String) => DataFrame

  /** One selected query's outcome: wall seconds from the entry call through
    * the action's end, and `Class: message` when either threw.
    */
  final case class Result(name: String, seconds: Double, error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  /** `local[n]` with n = this machine's processors and one shuffle
    * partition per core, plus any caller confs. The 5000-entry codegen
    * class cache is catalog-sized: at Spark's default of 100, every pass
    * over 263 queries recompiled every generated class (measured pass
    * totals 661/563/388 s before it). nanosAsLong: the parquet reader
    * rejects an INT64 TIMESTAMP(NANOS) column ([PARQUET_TYPE_ILLEGAL])
    * unless it reads it as a raw long, and `events.ts` has shipped in that
    * encoding (`Tables.adaptiveTs`); files without such a column read the
    * same either way. Set here, it is in the SparkConf that `newSession()`
    * children inherit, so no loader writes a conf on a caller's session.
    * Log level ERROR: Bench's JSON line is scraped from a ~2000-char log
    * tail, and benign WARNs crowded it out.
    */
  def session(confs: (String, String)*): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors.toString
    val base = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `SPARK_GRAFT_ONLY=q01,g0`: comma-separated name prefixes that limit a
    * run to a subset (local iteration only).
    */
  val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  /** Runs `act` on every selected query's frame, in `queries` order, and
    * returns one result per selected name. A query that throws, while
    * building its frame or in `act`, is recorded with its reason and the
    * loop goes on.
    *
    * The untimed fence before each query drops predecessors' persisted
    * RDDs (148 queries' pinned blocks once tripled late-run timings: g01
    * 5.3 s isolated vs 23.5 s late), sweeps the session's scratch dir and
    * runs a GC, so a heavy predecessor's debris is not collected inside
    * the next query's timing. Dropping the RDDs is safe because
    * `Materialize` persists and never truncates lineage: a swept block is
    * recomputed on next use. Sweeping scratch is safe because no query
    * re-reads its `toStorage` output after it completes; fixtures live
    * under their own dir and survive.
    */
  def run(spark: SparkSession, queries: Iterable[(String, Query)], sfDir: String,
          only: Option[Seq[String]] = only)(act: (String, DataFrame) => Unit): Seq[Result] =
    queries.iterator.filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .map { case (name, query) =>
        fence(spark)
        val t0 = System.nanoTime()
        val error =
          try { act(name, query(spark, sfDir)); None }
          catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        Result(name, (System.nanoTime() - t0) / 1e9, error)
      }.toList

  private def fence(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    Materialize.sweepScratch(spark)
    System.gc()
  }

  /** JSON string literal: escapes quote, backslash and every control
    * char, so a tab in an error message or oracle SQL cannot break a
    * reader's `json.load`.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
