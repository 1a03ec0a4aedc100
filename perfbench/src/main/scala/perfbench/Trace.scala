package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval. Times are epoch nanoseconds; `attrs` holds the
  * counts recorded at the span's boundaries (listener totals for jobs,
  * planning phases and codegen deltas for phases). */
final class Span(val id: Long, val parent: Long, val name: String,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  val attrs = new ConcurrentHashMap[String, Any]()
  def add(k: String, v: Double): Unit =
    attrs.merge(k, v, (a: Any, b: Any) =>
      a.asInstanceOf[Double] + b.asInstanceOf[Double])
}

/** In-memory span recorder plus the Spark listener that attributes jobs,
  * stages, tasks and planning phases (from the QueryExecution of each SQL
  * execution-end event) to the phase span that launched them. Attribution rides on the job group: each phase sets
  * `pb:<span id>` as the calling thread's job group, and Spark copies
  * local properties onto every job (and SQL execution) that thread
  * starts. When tracing is off nothing is registered and phases only
  * run their body. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + clockOffset

  def open(name: String, parent: Span): Span = {
    val s = new Span(ids.incrementAndGet(), if (parent == null) 0L else parent.id,
      name, now())
    if (on) { spans.add(s); byId.put(s.id, s) }
    s
  }

  def close(s: Span): Unit = s.endNs = now()

  /** Run `body` as phase `name` under `parent`; returns (result, seconds). */
  def phase[T](spark: SparkSession, parent: Span, name: String)(body: => T): (T, Double) = {
    val s = open(name, parent)
    val sc = spark.sparkContext
    val cg0 = if (on) CodeGenerator.compileTime else 0L
    val cc0 = if (on) CodegenMetrics.METRIC_COMPILATION_TIME.getCount else 0L
    if (on) sc.setJobGroup(s"pb:${s.id}", name, interruptOnCancel = false)
    try {
      val r = body
      close(s)
      (r, (s.endNs - s.startNs) / 1e9)
    } finally {
      if (s.endNs < 0) close(s)
      if (on) {
        sc.clearJobGroup()
        s.add("codegen_compile_ms", (CodeGenerator.compileTime - cg0) / 1e6)
        s.add("codegen_classes", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0).toDouble)
      }
    }
  }

  /** Block until the listener bus has delivered every event so far. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def install(spark: SparkSession): Unit = if (on) spark.sparkContext.addSparkListener(listener)

  private def groupSpan(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:"))
      .map(g => byId.get(g.drop(3).toLong)).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = groupSpan(e.properties)
      if (phase != null) {
        val s = new Span(ids.incrementAndGet(), phase.id, "spark.job",
          math.max(e.time * 1000000L, phase.startNs))
        s.attrs.put("job_id", e.jobId)
        spans.add(s)
        jobSpan.put(e.jobId, s)
        e.stageIds.foreach(st => stageJob.put(st, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobSpan.remove(e.jobId)
      if (s != null) {
        val parentEnd = Option(byId.get(s.parent)).map(_.endNs).filter(_ > 0)
        s.endNs = math.max(s.startNs,
          parentEnd.fold(e.time * 1000000L)(pe => math.min(pe, e.time * 1000000L)))
        s.add("jobs", 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stageJob.get(e.stageInfo.stageId)
      if (s != null) s.add("stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.add("tasks", 1)
        s.add("task_ms", m.executorRunTime.toDouble)
        s.add("task_cpu_ms", m.executorCpuTime / 1e6)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("input_rows", m.inputMetrics.recordsRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        s.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        st.jobGroupId.filter(_.startsWith("pb:"))
          .map(g => byId.get(g.drop(3).toLong))
          .foreach(s => if (s != null) execSpan.put(st.executionId, s))
      case end: SparkListenerSQLExecutionEnd =>
        val s = execSpan.remove(end.executionId)
        val qe = PerfbenchSql.queryExecution(end)
        if (s != null && qe != null) {
          val ph = qe.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            ph.get(p).foreach(x => s.add(s"${p}_ms", (x.endTimeMs - x.startTimeMs).toDouble))
          }
          s.add("queries", 1)
        }
      case _ =>
    }
  }
}
