package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` is the id of the
  * benchmark operation that caused it; `parent` is the enclosing span
  * (-1 for an operation's root span). */
final case class Span(id: Long, parent: Long, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span and counter store of the traced run. Spans are kept
  * until the run ends and written out once. Disabled, every call is a
  * no-op apart from running the wrapped block. */
object Trace {
  @volatile var enabled = false
  /** Listener events count only while this is set (the traced window). */
  @volatile var listening = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val stack = mutable.Stack.empty[Long]
  @volatile var currentOp: Int = -1
  /** While set, the innermost open span is also kept in the local property
    * `SpanProp`, so that a Spark job is parented to the span that was open
    * when it was submitted. */
  @volatile var context: SparkContext = null
  val SpanProp = "perfbench.span"

  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  def add(name: String, v: Double): Unit =
    if (enabled) counters.synchronized { counters(name) += v }

  def addHeard(name: String, v: Double): Unit = if (listening) add(name, v)

  def record(s: Span): Unit = spans.synchronized { spans += s }

  def newId(): Long = spans.synchronized { nextId += 1; nextId }

  private def parentId: Long = if (stack.isEmpty) -1L else stack.top

  /** Run `body` inside a span named `name` (the benchmark's main thread only). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = parentId
      stack.push(id)
      setSpanProp(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        setSpanProp(parent)
        record(Span(id, parent, currentOp, name, t0, t1))
      }
    }

  private def setSpanProp(id: Long): Unit = {
    val sc = context
    if (sc != null) sc.setLocalProperty(SpanProp, if (id < 0) null else id.toString)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

/** Scheduler-side counters: jobs, stages, tasks and their metrics, of
  * the jobs a benchmark operation started (named in the job's local
  * properties, with the operation's class). A job span is parented to
  * the span that was innermost when the job was submitted (the
  * `Trace.SpanProp` local property), so a span's self time excludes the
  * jobs it waited for. */
class ExecListener(monoOffsetNs: Long) extends SparkListener {
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long, Long)]
  private val stageCls = mutable.HashMap.empty[Int, String]

  private def prop(props: java.util.Properties, k: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(k)))

  // listener times are wall-clock ms; spans are monotonic ns
  private def toMono(ms: Long): Long = ms * 1000000L - monoOffsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    prop(e.properties, "perfbench.op").filter(_ => Trace.listening).foreach { op =>
      val parent = prop(e.properties, Trace.SpanProp).map(_.toLong).getOrElse(-1L)
      jobStart(e.jobId) = (op.toInt, e.time, parent)
      val cls = prop(e.properties, "perfbench.cls").getOrElse("")
      e.stageIds.foreach(stageCls(_) = cls)
      Trace.addHeard("exec.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0, parent) =>
      Trace.record(Span(Trace.newId(), parent, op, "exec.job",
        toMono(t0), toMono(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (stageCls.contains(e.stageInfo.stageId)) Trace.addHeard("exec.stages", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageCls.contains(e.stageId) && e.taskInfo != null) {
      Trace.addHeard("exec.tasks", 1)
      if (!e.taskInfo.successful) Trace.addHeard("exec.failed_tasks", 1)
      stageSubmit.get(e.stageId).foreach(s =>
        Trace.addHeard("exec.task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
      val m = e.taskMetrics
      if (m != null) {
        Trace.addHeard("exec.task_run_ms", m.executorRunTime)
        Trace.addHeard("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        Trace.addHeard("exec.gc_ms", m.jvmGCTime)
        Trace.addHeard("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        Trace.addHeard("exec.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        Trace.addHeard("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        Trace.addHeard("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        Trace.addHeard("exec.input_bytes", m.inputMetrics.bytesRead)
        Trace.addHeard("exec.output_bytes", m.outputMetrics.bytesWritten)
        Trace.addHeard(s"exec.output_bytes.${stageCls(e.stageId)}",
          m.outputMetrics.bytesWritten)
      }
    }
  }
}

/** Planner-side counters: the tracker's phase times of every executed
  * query, and file-scan SQL metrics read from the executed plan. */
class PlanListener extends QueryExecutionListener {
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other =>
      other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    if (!Trace.listening) return
    Trace.addHeard("plans.queries", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      Trace.addHeard(s"plans.${phase}_ms", s.durationMs.toDouble)
    }
    scans(qe.executedPlan).foreach { s =>
      def metric(k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
      val total = s.relation.location.inputFiles.length
      val packed = s.relation.partitionSchema.fieldNames
        .contains(graft.sources.StatsSidecar.PackCol)
      val prefix =
        if (packed) s"scan.packed.${s.relation.location.rootPaths.head.getName}"
        else "scan"
      Trace.addHeard(s"$prefix.files_read", metric("numFiles"))
      Trace.addHeard(s"$prefix.files_total", total)
      Trace.addHeard(s"$prefix.rows", metric("numOutputRows"))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    Trace.addHeard("plans.failed_queries", 1)
}
