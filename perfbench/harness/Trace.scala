package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span at a layer boundary. `phase` is the part of the run it
  * belongs to: setup, pass0 (cold), pass1.. (warm), round0 (cold) and
  * sessions, round1.. and tumbling1.. (warm). */
final case class Span(id: Int, parent: Int, kind: String, name: String, phase: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of one run, kept in memory and written out when the run ends.
  * Timings the end-to-end metrics need are read from the same spans, so
  * the untraced run records them too; only the Spark listeners and the
  * per-operation drains belong to the traced run. */
final class Trace(val runId: String) {
  private var nextId = 1
  private var stack: List[Int] = List(0)
  val spans = mutable.ArrayBuffer[Span]()
  var phase = "setup"

  def current: Int = stack.head

  def span[T](kind: String, name: String)(f: => T): T = {
    val s = Span(nextId, stack.head, kind, name, phase, System.nanoTime)
    nextId += 1
    stack = s.id :: stack
    try f
    finally {
      s.endNs = System.nanoTime
      stack = stack.tail
      spans += s
    }
  }

  def of(kind: String, phases: Set[String]): Seq[Span] =
    spans.toSeq.filter(s => s.kind == kind && phases(s.phase))
}

/** Counts taken at the span boundaries: Spark jobs are tied to the span
  * that was current when they started through the `perfbench.span`
  * local property; query executions are tied to the span being flushed
  * (the run drains the listener bus before each flush). */
final class Counters extends SparkListener with QueryExecutionListener {
  val bySpan = mutable.Map[Int, mutable.Map[String, Double]]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val pendingQe = mutable.ArrayBuffer[QueryExecution]()

  private def add(span: Int, key: String, v: Double): Unit = synchronized {
    val m = bySpan.getOrElseUpdate(span, mutable.Map[String, Double]())
    m(key) = m.getOrElse(key, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toInt).getOrElse(0)
    synchronized { e.stageIds.foreach(stageSpan(_) = span) }
    add(span, "sched.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(synchronized(stageSpan.getOrElse(e.stageInfo.stageId, 0)), "sched.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = synchronized(stageSpan.getOrElse(e.stageId, 0))
    add(span, "sched.tasks", 1)
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime)
    add(span, "sched.delay_s", (delay + m.executorDeserializeTime) / 1e3)
    add(span, "exec.run_s", m.executorRunTime / 1e3)
    add(span, "exec.cpu_s", m.executorCpuTime / 1e9)
    add(span, "exec.gc_s", m.jvmGCTime / 1e3)
    add(span, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
    add(span, "shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
    add(span, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
    add(span, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add(span, "shuffle.spill_mb", m.diskBytesSpilled / 1048576.0)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { pendingQe += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { pendingQe += qe }

  /** Attribute every query execution delivered so far to `span`. */
  def flush(span: Int): Unit = {
    val qes = synchronized { val q = pendingQe.toList; pendingQe.clear(); q }
    qes.foreach { qe =>
      val ph = qe.tracker.phases
      add(span, "plan.analysis_ms", ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
      add(span, "plan.optimization_ms",
        ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0))
      add(span, "plan.physical_ms", ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0))
      val plan = qe.executedPlan
      add(span, "plan.chars", plan.toString.length.toDouble)
      def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      Counters.nodes(plan).foreach { p =>
        if (p.nodeName.startsWith("Execute InsertInto")) add(span, "out.rows", metric(p, "numOutputRows"))
        if (p.metrics.contains("numFiles") && p.nodeName.startsWith("Scan")) {
          add(span, "scan.files", metric(p, "numFiles"))
          add(span, "scan.bytes", metric(p, "filesSize"))
          add(span, "scan.rows", metric(p, "numOutputRows"))
          add(span, "scan.metadata_ms", metric(p, "metadataTime"))
        }
        if (p.nodeName.contains("Join")) add(span, "join.rows", metric(p, "numOutputRows"))
      }
    }
  }
}

object Counters {
  /** Every physical node of an executed plan, through adaptive wrappers,
    * query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other =>
      // a command's physical plan hangs off CommandResultExec as an inner child
      val inner = if (other.nodeName == "CommandResult")
        other.innerChildren.collect { case sp: SparkPlan => sp } else Nil
      other +: (other.children ++ other.subqueries ++ inner).flatMap(nodes)
  }
}
