package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer of the program. Times are wall-clock
  * milliseconds (to match Spark's event times) plus nanoTime for the
  * duration itself. */
final class Span(val id: Int, val name: String, val parent: Int,
    val runId: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"$runId-span-$id"
}

/** One executed join: the names of its key attributes, rows out and rows in
  * (both sides). */
final case class JoinStat(keys: Set[String], rowsOut: Long, rowsIn: Long)

/** Per-span totals gathered from Spark's listener events. */
final class SpanSpark {
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var planMs = 0L
  val joins = mutable.ArrayBuffer.empty[JoinStat]
  /** (table, files read, rows out) per executed file scan. */
  val scans = mutable.ArrayBuffer.empty[(String, Long, Long)]
}

/**
 * Spans around the benchmark's calls into the program's layers.
 *
 * Disabled (the untraced run), `span` and `call` just run their body. In a
 * traced run, each span sets a Spark job group so the listeners below can
 * attribute task metrics to it, and `call` forces the relation a layer
 * function returns with an eager local checkpoint inside the span, so the
 * span covers that function's work and the next call starts from its
 * materialized output. Spans stay in memory until the run writes them out.
 */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val sc = spark.sparkContext

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val s = new Span(spans.length, name, stack.headOption.fold(-1)(_.id), runId,
      System.nanoTime(), System.currentTimeMillis())
    spans.synchronized { spans += s }
    stack = s :: stack
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def call(name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body else span(name)(body.localCheckpoint(true))

  /** Self time: the span's duration minus the union of its children's. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (kids.nonEmpty) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/**
 * Spark listener + query-execution listener that fold task, job and
 * SQL-plan metrics into the span whose job group (for jobs and tasks) or
 * time window (for query planning and executed-plan metrics) they fall in.
 */
final class SparkProbe(spark: SparkSession, tracer: Tracer) extends SparkListener
    with QueryExecutionListener {
  private val byGroup = new ConcurrentHashMap[String, SpanSpark]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()

  private def of(group: String): SpanSpark = byGroup.computeIfAbsent(group, _ => new SpanSpark)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      jobGroup.put(e.jobId, group)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageGroup.put(_, group))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { group =>
      val s = of(group)
      s.synchronized {
        s.jobs += 1
        s.jobIntervals += ((jobStart.get(e.jobId), e.time))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val m = e.taskMetrics
      if (m != null) {
        val s = of(group)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val at = phases.map(_.startTimeMs).min
      spanAt(at).foreach { sp =>
        val s = of(sp.group)
        val joins = PlanWalk.joins(qe.executedPlan)
        val scans = PlanWalk.scans(qe.executedPlan)
        s.synchronized {
          s.planMs += phases.map(_.durationMs).sum
          s.joins ++= joins
          s.scans ++= scans
        }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The innermost span open at wall time `ms`. */
  private def spanAt(ms: Long): Option[Span] = tracer.spans.synchronized {
    tracer.spans.filter(s => s.startMs <= ms && (ms <= s.endMs || s.endNs == s.startNs))
      .sortBy(-_.startNs).headOption
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Totals of one span (not including its children). */
  def totals(s: Span): SpanSpark = {
    PerfbenchAccess.drainListeners(spark.sparkContext)
    Option(byGroup.get(s.group)).getOrElse(new SpanSpark)
  }

  /** Joins executed inside the spans named `name`. */
  def joinsIn(name: String): Seq[JoinStat] =
    tracer.spans.filter(_.name == name).flatMap(s => totals(s).joins).toSeq

  /** File scans executed inside the spans named `name`. */
  def scansIn(name: String): Seq[(String, Long, Long)] =
    tracer.spans.filter(_.name == name).flatMap(s => totals(s).scans).toSeq

  /** A task or job total summed over the spans named `name`. */
  def sumIn(name: String)(f: SpanSpark => Long): Long =
    tracer.spans.filter(_.name == name).map(s => f(totals(s))).sum
}

/** Reads joins and file scans out of an executed (possibly adaptive) plan. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").fold(0L)(_.value)

  /** Rows produced below `p`: the first node down a single-child chain
    * that counts its output rows (sorts and exchanges do not). */
  private def inRows(p: SparkPlan): Long = p match {
    case q: QueryStageExec => inRows(q.plan)
    case _ if p.metrics.contains("numOutputRows") => rows(p)
    case _ if p.children.size == 1 => inRows(p.children.head)
    case _ => 0L
  }

  def joins(plan: SparkPlan): Seq[JoinStat] =
    collectWithSubqueries(plan) { case j: BaseJoinExec =>
      JoinStat((j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet,
        rows(j), j.children.map(inRows).sum)
    }

  def scans(plan: SparkPlan): Seq[(String, Long, Long)] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      (s.tableIdentifier.fold(s.relation.location.rootPaths.mkString(","))(_.table),
        s.metrics.get("numFiles").fold(0L)(_.value), rows(s))
    }
}

object Tracer {
  def off(spark: SparkSession): Tracer = new Tracer(spark, "off", enabled = false)
}
