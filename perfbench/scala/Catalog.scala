package graftbench

import java.io.File
import java.math.MathContext
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.metrics.source.CodegenMetrics
import graft.operators._
import graft.streaming.StreamingQueries

/** The catalog workload: a fixed slice of `graft.operators.<Module>.queries`
  * entries, run in the given order twice in one fresh JVM — pass 1 cold
  * (fixture builds, codegen, JIT), pass 2 warm.
  *
  * Each query is split into three contiguous phases:
  *  - build: the entry returns its DataFrame, including any eager fixture
  *    and scratch jobs it runs;
  *  - plan: forcing `executedPlan` (optimizer and physical planning);
  *  - exec: executing that physical plan and consuming every row of every
  *    column, folded into an order-insensitive fingerprint.
  * Between queries an untimed fence drops persisted RDDs, sweeps the
  * scratch dir and runs a full GC.
  *
  * Options: `--data DIR --queries a,b,c`, `--throw-entry NAME` (sabotage:
  * that entry throws instead of building its frame).
  */
object Catalog {

  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> Relational.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Multimodal" -> Multimodal.queries, "Temporal" -> Temporal.queries,
    "Skew" -> Skew.queries, "Curation" -> Curation.queries, "Graph" -> Graph.queries,
    "Layout" -> Layout.queries, "StreamingQueries" -> StreamingQueries.queries)

  def run(spark: SparkSession, a: Args, rec: Record, tracer: Option[Tracer], work: File): Unit = {
    val data = new File(a("data")).getAbsolutePath
    val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val throwEntry = a.get("throw-entry")
    val scratch = new File(work, "scratch")
    val fixtures = new File(work, "fixtures")
    val sc = spark.sparkContext

    def fence(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Option(scratch.listFiles()).foreach(_.foreach(Session.deleteRecursively))
      System.gc()
    }

    for (pass <- 1 to 2) {
      Trace.span(tracer, s"pass:$pass", "pass") {
        names.foreach { name =>
          fence()
          val fixDirs0 = Option(fixtures.list()).map(_.length).getOrElse(0)
          val fixBytes0 = Session.dirBytes(fixtures)
          val (cgCount0, cgMs0) = codegen()
          val found = modules.collectFirst { case (m, qs) if qs.contains(name) => (m, qs(name)) }
          val module = found.map(_._1).getOrElse("?")
          if (tracer.isDefined) sc.setJobGroup(name, s"graftbench pass $pass")
          val base = Map[String, Any]("pass" -> pass, "name" -> name, "module" -> module)
          val t0 = System.nanoTime()
          try Trace.span(tracer, s"query:$name", "query") {
            val entry = found.map(_._2).getOrElse(throw new NoSuchElementException(s"no catalog entry $name"))
            val df = Trace.span(tracer, s"build:$name", "build") {
              if (throwEntry.contains(name)) throw new IllegalStateException(s"injected failure in entry $name")
              entry(spark, data)
            }
            val t1 = System.nanoTime()
            val qe = df.queryExecution
            Trace.span(tracer, s"plan:$name", "plan")(qe.executedPlan)
            val t2 = System.nanoTime()
            val (rows, hash) = Trace.span(tracer, s"exec:$name", "exec")(fingerprint(qe, df.schema))
            val t3 = System.nanoTime()
            val phases = qe.tracker.phases
            def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
            val (cgCount1, cgMs1) = codegen()
            rec.add("queries", base ++ Map(
              "ok" -> true,
              "wall_ms" -> (t3 - t0) / 1e6, "build_ms" -> (t1 - t0) / 1e6,
              "plan_ms" -> (t2 - t1) / 1e6, "exec_ms" -> (t3 - t2) / 1e6,
              "analysis_ms" -> phaseMs("analysis"), "optimization_ms" -> phaseMs("optimization"),
              "physical_ms" -> phaseMs("planning"),
              "rows" -> rows, "hash" -> f"$hash%016x",
              "scratch_bytes" -> Session.dirBytes(scratch),
              "fixture_bytes" -> (Session.dirBytes(fixtures) - fixBytes0),
              "fixture_builds" -> (Option(fixtures.list()).map(_.length).getOrElse(0) - fixDirs0),
              "codegen_compiles" -> (cgCount1 - cgCount0), "codegen_ms" -> (cgMs1 - cgMs0)))
          } catch {
            case t: Throwable =>
              rec.failure(s"query:$name:pass$pass", t)
              rec.add("queries", base ++ Map("ok" -> false, "wall_ms" -> (System.nanoTime() - t0) / 1e6))
          } finally if (tracer.isDefined) sc.clearJobGroup()
        }
      }
    }
  }

  /** Generated-class compiles so far and their summed compile time (ms).
    * The histogram keeps every sample up to its reservoir size (1028);
    * past that the sum is estimated as mean × count.
    */
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val sum = if (n <= snap.size) snap.getValues.map(_.toDouble).sum else snap.getMean * n
    (n, sum)
  }

  /** Row count and order-insensitive 64-bit hash of the executed plan's
    * output; doubles are rounded to 6 significant digits first.
    */
  def fingerprint(qe: QueryExecution, schema: StructType): (Long, Long) = {
    val parts = qe.toRdd.mapPartitions { it =>
      val conv = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var h = 0L
      it.foreach { r => h += rowHash(conv(r).asInstanceOf[Row]); n += 1 }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(s, 0x1f1f).toLong & 0xffffffffL)
  }

  private val Digits = new MathContext(6)

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString
}
