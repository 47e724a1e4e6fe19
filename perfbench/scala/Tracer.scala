package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run instrumentation, registered from outside the program through
  * Spark's public listener APIs only: a SparkListener (jobs, stages, task
  * metrics), a QueryExecutionListener (actions run while a query builds
  * its frame) and a StreamingQueryListener (micro-batch progress).
  *
  * Spans stay in memory and are written into the record when the run
  * ends. A span whose parent is unknown when it is recorded (jobs on the
  * stream thread, listener callbacks) carries `parent = null`; `run.py`
  * assigns it to the innermost span that contains it.
  */
final class Tracer(spark: SparkSession) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Option[Long])]()
  val counters: Map[String, AtomicLong] = Seq(
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes")
    .map(_ -> new AtomicLong(0)).toMap
  private val SpanProp = "graftbench.span"

  def addSpan(name: String, kind: String, startMs: Long, endMs: Long,
              parent: Option[Long] = None): Long = {
    val id = ids.incrementAndGet()
    val s = Map("id" -> id, "name" -> name, "kind" -> kind, "start" -> startMs,
      "end" -> endMs, "parent" -> parent, "run" -> runId)
    spans.synchronized { spans += s }
    id
  }

  /** Time `body` as a span. The enclosing span on this thread is its
    * parent, and jobs it submits name it as theirs, through a local
    * property.
    */
  def span[T](name: String, kind: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    val parent = Option(prev).map(_.toLong)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanProp, prev)
      val s = Map("id" -> id, "name" -> name, "kind" -> kind, "start" -> t0,
        "end" -> t1, "parent" -> parent, "run" -> runId)
      spans.synchronized { spans += s }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
      jobStarts.put(e.jobId, (e.time, parent))
      counters("jobs").incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, parent) =>
        addSpan(s"job:${e.jobId}", "job", t0, e.time, parent)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters("stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters("tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        counters("task_run_ms").addAndGet(m.executorRunTime)
        counters("task_cpu_ns").addAndGet(m.executorCpuTime)
        counters("gc_ms").addAndGet(m.jvmGCTime)
        counters("shuffle_read_bytes").addAndGet(
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        counters("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        counters("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        counters("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.currentTimeMillis()
      addSpan(s"action:$funcName", "action", end - durationNs / 1000000L, end)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Micro-batch phases in the order the engine runs them. Progress gives
    * their durations, not their start times, so the phase spans are laid
    * end to end from the batch start.
    */
  val BatchPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val batch = addSpan(s"batch:${p.batchId}", "batch", t0, t0 + d.getOrElse("triggerExecution", 0L))
      var t = t0
      BatchPhases.foreach { ph =>
        val ms = d.getOrElse(ph, 0L)
        addSpan(s"phase:$ph", "phase", t, t + ms, Some(batch))
        t += ms
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait for the listener buses to drain, detach, and write spans and
    * counters into the record.
    */
  def finish(rec: Record): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (!jobStarts.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    rec("run_id") = runId
    rec("counters") = counters.map { case (k, v) => k -> v.get }
    spans.synchronized { spans.foreach(rec.add("spans", _)) }
  }
}

/** Spans when tracing, plain execution otherwise. */
object Trace {
  def span[T](tracer: Option[Tracer], name: String, kind: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, kind)(body)
      case None => body
    }
}
