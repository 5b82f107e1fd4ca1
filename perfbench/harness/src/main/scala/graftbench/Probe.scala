package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, as Spark's listener API reports it. */
final case class TaskRec(stage: Int, launchMs: Long, durMs: Long, cpuNs: Long,
                         outputBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long)

/** One executed query: its planning phases (wall-clock ms, from
  * `QueryExecution.tracker`) and its execution duration. */
final case class QueryRec(phases: Map[String, (Long, Long)], durNs: Long)

/** Task, job and query evidence from Spark's public `SparkListener` and
  * `QueryExecutionListener` APIs. Nothing here changes what runs. */
final class Probe extends SparkListener with QueryExecutionListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobStartsMs = new ConcurrentLinkedQueue[Long]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val scans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.duration, m.executorCpuTime, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStartsMs.add(e.time)

  private def phases(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }

  override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit = {
    queries.add(QueryRec(phases(qe), durNs))
    scans.synchronized { Probe.fileScans(qe.executedPlan).foreach(scans.add) }
  }

  /** Rows read from files by every file scan executed so far, each scan
    * counted once however often its cached result was read again. */
  def fileRowsRead: Long = scans.synchronized {
    scans.asScala.toSeq.map(_.metrics.get("numOutputRows").map(_.value)
      .getOrElse(0L)).sum
  }

  override def onFailure(func: String, qe: QueryExecution,
                         e: Exception): Unit =
    queries.add(QueryRec(phases(qe), 0L))

  def install(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Removes and returns everything recorded so far. */
  def take(): (Seq[TaskRec], Seq[Long], Seq[QueryRec]) = {
    def pop[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toList
    (pop(tasks), pop(jobStartsMs), pop(queries))
  }
}

object Probe extends AdaptiveSparkPlanHelper {
  /** The file scans of an executed plan, through adaptive stages,
    * subqueries and the plans of cached relations. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
    }.flatten

  val Phases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  /** Offset that maps `currentTimeMillis` onto the `nanoTime` axis. */
  val msToNanoOffset: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  def msToNs(ms: Long): Long = ms * 1000000L + msToNanoOffset

  def phaseNs(q: QueryRec, phase: String): Long =
    q.phases.get(phase).map { case (a, b) => (b - a) * 1000000L }.getOrElse(0L)

  /** Places each query's planning phases under the innermost span that
    * contains them. */
  def attach(tr: Tracer, queries: Seq[QueryRec]): Unit = {
    val spans = tr.spans
    queries.foreach { q =>
      val ends = q.phases.values.map(_._2)
      if (ends.nonEmpty) {
        val anchor = msToNs(ends.max)
        val home = spans.filter(s => s.startNs <= anchor && anchor <= s.endNs)
          .sortBy(_.durNs).headOption
        home.foreach { h =>
          Phases.foreach { p =>
            q.phases.get(p).foreach { case (a, b) =>
              tr.record(s"driver.$p", h.id, msToNs(a), msToNs(b)) }
          }
        }
      }
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Cumulative Janino compile time of generated code, in ns. */
  def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}
