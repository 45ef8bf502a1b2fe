package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Interval arithmetic for job attribution. AQE runs a query's stage jobs
  * concurrently, so summing job walls double-counts; the busy time of a
  * query is the length of the UNION of its job intervals, and the driver
  * gap is the query wall minus that union, which can never go negative.
  */
object Intervals {
  /** Length of the union of the [start, end) intervals clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }

  def driverGap(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - unionLength(intervals, lo, hi)

  /** Overlapping, nested, touching and out-of-window job intervals. */
  def selfTest(): Option[String] = {
    val lo = 100L
    val hi = 200L
    val jobs = Seq((90L, 120L), (110L, 130L), (112L, 118L), (130L, 140L),
      (150L, 190L), (160L, 250L), (300L, 400L), (10L, 20L))
    val union = unionLength(jobs, lo, hi)
    val gap = driverGap(jobs, lo, hi)
    val summed = jobs.map { case (s, e) => math.max(0L, math.min(e, hi) - math.max(s, lo)) }.sum
    if (union != 90L) Some(s"interval union: expected 90, got $union")
    else if (gap < 0 || gap > hi - lo) Some(s"driver gap $gap outside [0, ${hi - lo}]")
    else if (summed - (hi - lo) <= 0) Some("self-test intervals do not overlap")
    else None
  }
}

/** Spark scheduler counters per job group, collected by a listener that is
  * registered only for traced rounds.
  */
object SparkCounters {
  final case class TaskRec(runMs: Long, shuffleBytes: Long, spillBytes: Long, gcMs: Long)
  final case class GroupStats(jobs: Int, untaggedJobs: Int, intervals: Seq[(Long, Long)],
      stageTasks: Seq[Seq[TaskRec]])
}

final class SparkCounters extends SparkListener {
  import SparkCounters._
  private final class Job(val group: String, val site: String, val start: Long) { var end: Long = -1L }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val tasks = mutable.HashMap[Int, mutable.ArrayBuffer[TaskRec]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val site = e.stageInfos.lastOption.map(_.name).orNull
    jobs(e.jobId) = new Job(g, site, e.time)
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += TaskRec(
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
  }

  /** Removes and returns everything recorded for `group`, plus the number of
    * jobs without any group that started in [lo, hi] (those cannot be
    * attributed; the answer checks run after the query and are untagged).
    */
  def take(group: String, lo: Long, hi: Long): GroupStats = synchronized {
    val mine = jobs.filter(_._2.group == group)
    val untaggedJobs = jobs.values.filter(j => j.group == null && j.start >= lo && j.start <= hi)
    untaggedJobs.foreach(j => Main.log(s"job without a group during the query: ${j.site}"))
    val untagged = untaggedJobs.size
    val stages = stageGroup.filter(_._2 == group).keys.toSeq.sorted
    val st = stages.flatMap(tasks.get).map(_.toSeq)
    jobs.clear()
    stages.foreach { s => stageGroup.remove(s); tasks.remove(s) }
    GroupStats(mine.size, untagged, mine.values.map(j => (j.start, j.end)).toSeq, st)
  }
}

/** Captures the QueryExecution of every action (registered only for traced
  * rounds); after the action ran, its AQE plan is final and carries the
  * operators' SQL metrics.
  */
final class PlanCapture extends QueryExecutionListener {
  private val captured = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    captured.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = {
    val out = mutable.ArrayBuffer[QueryExecution]()
    var q = captured.poll()
    while (q != null) { out += q; q = captured.poll() }
    out.toSeq
  }
}

/** Operator counters summed over the final physical plans of one query. */
final class PlanCounters {
  var planMs = 0L
  var exchanges = 0L
  var indexedJoins = 0L
  var candidateRows = 0L
  var indexedOutputRows = 0L
  var explodeIn = 0L
  var explodeOut = 0L
  var cellJoinRows = 0L
  var cellJoins = 0L
  var scanRows = 0L
  var filesRead = 0L
  var filesTotal = 0L
  var writeBytes = 0L
  var filesWritten = 0L
}

object PlanReader {
  // the engine's grid sjoin, nearest and sphere joins all equi-join on a
  // column named `_cell` after exploding each row to its grid cells
  private val CellKey = "_cell"

  /** Visits every operator of an executed plan, descending into the FINAL
    * plan of each adaptive node and into query stages. A reused exchange is
    * not descended into: its work and metrics belong to the original.
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case _: ReusedExchangeExec => ()
      case other => other.children.foreach(walk(_)(f))
    }
    p.subqueries.foreach(walk(_)(f))
  }

  private def metric(p: SparkPlan, name: String): Option[Long] =
    p.metrics.get(name).map(_.value)

  /** Rows entering `p`: the row count of the nearest single-child
    * descendant that counts its output, through row-preserving wrappers.
    */
  private def rowsInto(p: SparkPlan): Option[Long] = {
    var cur: SparkPlan = p
    var found: Option[Long] = None
    var done = false
    while (!done) {
      val next: Option[SparkPlan] = cur match {
        case a: AdaptiveSparkPlanExec => Some(a.executedPlan)
        case s: QueryStageExec => Some(s.plan)
        case c if c.children.size == 1 => Some(c.children.head)
        case _ => None
      }
      next match {
        case Some(n) =>
          metric(n, "numOutputRows") match {
            case Some(v) => found = Some(v); done = true
            case None => cur = n
          }
        case None => done = true
      }
    }
    found
  }

  def read(qes: Seq[QueryExecution], datasetFiles: Seq[String] => Long): PlanCounters = {
    val c = new PlanCounters
    qes.foreach { qe =>
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      walk(qe.executedPlan) {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c.exchanges += 1
        case j: graft.plans.IndexedSpatialJoinExec =>
          c.indexedJoins += 1
          c.candidateRows += metric(j, "candidateRows").getOrElse(0L)
          c.indexedOutputRows += metric(j, "numOutputRows").getOrElse(0L)
        case g: GenerateExec =>
          rowsInto(g).foreach { in =>
            c.explodeIn += in
            c.explodeOut += metric(g, "numOutputRows").getOrElse(0L)
          }
        case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == CellKey)) =>
          c.cellJoins += 1
          c.cellJoinRows += metric(j, "numOutputRows").getOrElse(0L)
        case s: FileSourceScanExec =>
          c.scanRows += metric(s, "numOutputRows").getOrElse(0L)
          c.filesRead += metric(s, "numFiles").getOrElse(0L)
          c.filesTotal += datasetFiles(s.relation.location.rootPaths.map(_.toString))
        case w: DataWritingCommandExec =>
          c.writeBytes += metric(w, "numOutputBytes").getOrElse(0L)
          c.filesWritten += metric(w, "numFiles").getOrElse(0L)
        case _ => ()
      }
    }
    c
  }
}

/** One span per public call the benchmark makes; spans of one query share
  * the query's id. Kept in memory and written out when the run ends.
  */
final case class Span(query: String, round: Int, name: String, kind: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}
