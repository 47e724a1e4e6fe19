package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. One process runs one workload once and writes
  * a raw JSON record (per-unit timings, checks, spans, layer counters);
  * `run.py` turns that record into the printed metrics.
  *
  * {{{
  * java ... graftbench.Harness --mode ingest|catalog --cpus 4 --work DIR
  *   --out record.json --trace 0|1 [mode options]
  * }}}
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val rec = new Record
    val work = new File(a("work")).getAbsoluteFile
    work.mkdirs()
    val cpus = a.int("cpus")
    val spark = Session.build(cpus, work)
    rec("ready_ms") = System.currentTimeMillis()
    rec("cpus") = cpus
    rec("spark_version") = spark.version
    rec("java_version") = System.getProperty("java.version")
    rec("xmx_mb") = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val tracer = if (a.int("trace") == 1) Some(new Tracer(spark)) else None
    try {
      a("mode") match {
        case "ingest" => Ingest.run(spark, a, rec, tracer)
        case "catalog" => Catalog.run(spark, a, rec, tracer, work)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
    } catch {
      case t: Throwable => rec.failure("harness", t)
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    rec("retained_heap_mb") = Session.retainedHeapMb()
    tracer.foreach(_.finish(rec))
    spark.stop()
    rec.write(new File(a("out")))
  }

  def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
}

/** `--key value` command-line pairs. */
case class Args(argv: Array[String]) {
  private val kv: Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
  def apply(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def get(k: String): Option[String] = kv.get(k)
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
}

/** The session the catalog benchmark main builds (same confs, codegen cache
  * and private scratch), at `local[cpus]`, with every directory it writes
  * under the run's work dir.
  */
object Session {
  def build(cpus: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.graft.scratchDir", new File(work, "scratch").getPath)
      .config("spark.graft.fixtureDir", new File(work, "fixtures").getPath)
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // the default of 100 silently drops older batches from recentProgress
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap still in use after a full collection, in MiB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}

/** Raw run record: a flat map of values plus lists of JSON objects. */
final class Record {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  private val lists = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Map[String, Any]]]

  def update(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def add(list: String, m: Map[String, Any]): Unit =
    synchronized { lists.getOrElseUpdate(list, mutable.ArrayBuffer.empty) += m }

  /** An unexpected failure: its class and message are kept, never swallowed. */
  def failure(where: String, t: Throwable): Unit = {
    val root = Harness.rootCause(t)
    add("failures", Map("where" -> where, "error_class" -> root.getClass.getName,
      "message" -> String.valueOf(root.getMessage).take(2000)))
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    add("checks", Map("name" -> name, "ok" -> ok, "detail" -> detail))

  def write(f: File): Unit = synchronized {
    val all = fields.toSeq ++ lists.toSeq.map { case (k, v) => k -> v.toSeq }
    Files.write(f.toPath, Json.obj(all).getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
