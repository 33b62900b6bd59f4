package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval. Times are epoch microseconds so spans line up
  * with Spark's millisecond event times. `parent` is 0 for a root
  * (one workload operation); `op` is the root's id; `key` lets a span
  * recorded on another thread (the server's handler) find its parent. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startUs: Long, endUs: Long, group: String, key: String) {
  def wallUs: Long = endUs - startUs
}

/** In-memory span recorder. Disabled, `span` only runs its body. Each
  * span sets a Spark job group on its thread, so jobs the body starts
  * are attributed to it by [[SparkCounters]]. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  private val nano0 = System.nanoTime()
  private val micro0 = System.currentTimeMillis() * 1000L

  def nowUs: Long = micro0 + (System.nanoTime() - nano0) / 1000L

  def spans: Seq[Span] = done.asScala.toSeq

  private val lastClosed = new ThreadLocal[Span]()

  /** Label this thread's later jobs with the group of the span that just
    * closed on it — for work a span hands back to be run by its caller. */
  def relabel(): Unit =
    if (enabled) Option(lastClosed.get).foreach(s => sc.setJobGroup(s.group, s.name, interruptOnCancel = false))

  def span[T](name: String, key: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val id = ids.incrementAndGet()
      val group = s"pb-$id"
      val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val open = Span(id, name, if (parent == null) 0L else parent.id,
        if (parent == null) id else parent.op, nowUs, 0L, group, key)
      current.set(open)
      try body
      finally {
        val closed = open.copy(endUs = nowUs)
        done.add(closed)
        lastClosed.set(closed)
        current.set(parent)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      }
    }
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** Spark-side counters, keyed by job group: a `SparkListener`, attached
  * to the benchmark's own session only, for jobs, tasks and SQL
  * executions. Each finished execution's planning tracker gives its
  * analysis/optimization/planning times (`qe.tracker`, the figures a
  * `QueryExecutionListener` sees) and its executed plan gives the scan
  * and filter node metrics. */
final class SparkCounters extends SparkListener {
  final case class Job(group: String, startUs: Long, var endUs: Long)
  final case class Task(group: String, atUs: Long, cpuMs: Double, shuffleBytes: Long,
                        recordsRead: Long, bytesWritten: Long, recordsWritten: Long)
  final case class Exec(group: String, startUs: Long, var endUs: Long,
                        var plan: PlanStats = PlanStats(0.0, 0L, 0L, 0L, 0L)) {
    def planMs: Double = plan.planMs
    def files: Long = plan.files
    def scanRows: Long = plan.scanRows
    def candidates: Long = plan.candidates
    def pairsOut: Long = plan.pairsOut
  }
  /** Per-execution figures read from the executed plan: phase times,
    * files and rows scanned, and rows into / out of a Jaccard filter
    * (near-dup candidates verified / pairs kept). */
  final case class PlanStats(planMs: Double, files: Long, scanRows: Long,
                             candidates: Long, pairsOut: Long)

  private val lock = new Object
  private val jobs = scala.collection.mutable.Map.empty[Int, Job]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, (String, Long)]
  private val tasks = scala.collection.mutable.ArrayBuffer.empty[Task]
  private val execs = scala.collection.mutable.Map.empty[Long, Exec]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.JobGroupKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = groupOf(e.properties)
    jobs(e.jobId) = Job(g, e.time * 1000L, -1L)
    e.stageIds.foreach(s => stageGroup(s) = (g, e.time * 1000L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val (g, at) = stageGroup.getOrElse(e.stageId, ("", e.taskInfo.launchTime * 1000L))
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(g, at, m.executorCpuTime / 1e6,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized {
      val x = Exec(s.jobGroupId.getOrElse(""), s.time * 1000L, -1L)
      execs(s.executionId) = x
    }
    case s: SparkListenerSQLExecutionEnd =>
      lock.synchronized(execs.get(s.executionId).foreach(_.endUs = s.time * 1000L))
      queryExecution(s).foreach(qe => record(s.executionId, qe))
    case _ =>
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The end event carries its `QueryExecution` in a field Spark keeps
    * package-private; it is the only link from an execution id to its
    * planning tracker and executed plan. */
  private def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    try Option(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
    catch { case _: ReflectiveOperationException => None }

  private def record(executionId: Long, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    def fed(p: SparkPlan): Long =
      if (p.metrics.contains("numOutputRows")) rows(p) else p.children.map(fed).sum
    val plan = qe.executedPlan
    val scans = Plans.collect(plan) {
      case p if p.metrics.contains("numFiles") => (p.metrics("numFiles").value, rows(p))
    }
    // Dedup's near-dup verification: `jaccard >= τ` over the pair's hash
    // arrays `_ha`, `_hb`; the optimizer inlines it, and may push it into
    // the join that brings `_hb`, so take any node whose own expressions
    // read both arrays: rows in from the side carrying `_ha`, rows out
    val jaccard = Plans.collect(plan) {
      case p if p.metrics.contains("numOutputRows") && {
          val refs = p.expressions.flatMap(_.references.map(_.name)).toSet
          refs("_ha") && refs("_hb")
        } => (p.children.filter(_.output.exists(_.name == "_ha")).map(fed).sum, rows(p))
    }
    val stats = PlanStats(planMs, scans.map(_._1).sum, scans.map(_._2).sum,
      jaccard.map(_._1).sum, jaccard.map(_._2).sum)
    lock.synchronized(execs.get(executionId).foreach(_.plan = stats))
  }

  /** Wait until every started job and SQL execution has been seen to end
    * (the listener bus delivers asynchronously), at most `timeoutMs`. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = lock.synchronized(jobs.values.count(_.endUs < 0) + execs.values.count(_.endUs < 0))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def snapshot(): (Seq[Job], Seq[Task], Seq[Exec]) = lock.synchronized(
    (jobs.values.map(_.copy()).toSeq, tasks.toSeq, execs.values.map(_.copy()).toSeq))

  def reset(): Unit = lock.synchronized {
    jobs.clear(); stageGroup.clear(); tasks.clear(); execs.clear()
  }
}
