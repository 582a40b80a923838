package gatebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A half-open wall-clock interval in epoch milliseconds. */
final case class Iv(start: Long, end: Long)

object Iv {
  def union(ivs: Iterable[Iv]): List[Iv] =
    ivs.filter(i => i.end > i.start).toList.sortBy(_.start).foldLeft(List.empty[Iv]) {
      case (last :: rest, i) if i.start <= last.end => Iv(last.start, math.max(last.end, i.end)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  def length(ivs: Iterable[Iv]): Long = union(ivs).map(i => i.end - i.start).sum

  /** Parts of `a` not covered by `b`. */
  def minus(a: Iterable[Iv], b: Iterable[Iv]): List[Iv] = {
    val cut = union(b)
    union(a).flatMap { i =>
      var pieces = List(i)
      cut.foreach { c =>
        pieces = pieces.flatMap { p =>
          if (c.end <= p.start || c.start >= p.end) List(p)
          else List(Iv(p.start, c.start), Iv(c.end, p.end)).filter(x => x.end > x.start)
        }
      }
      pieces
    }
  }

  def clip(ivs: Iterable[Iv], w: Iv): List[Iv] =
    ivs.map(i => Iv(math.max(i.start, w.start), math.min(i.end, w.end)))
      .filter(i => i.end > i.start).toList
}

/** Plan facts read from a QueryExecution that ran. */
final case class PlanFacts(exchanges: Long, reusedExchanges: Long, bcastJoins: Long,
    rowsScanned: Long, rowsOut: Long, leaves: Long, leavesWithRows: Long,
    graftRuleNs: Long)

object PlanFacts {
  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  /** Every node of the final plan: AQE wrappers are opened on their
    * final plan, query stages on the plan they ran, and subqueries are
    * included. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Output rows of the query under any write node: the first node, top
    * down, that counts its output rows. */
  private def firstCounted(p: SparkPlan): Long = {
    val q = mutable.Queue(p)
    while (q.nonEmpty) {
      val n = q.dequeue()
      n match {
        case a: AdaptiveSparkPlanExec => q.enqueue(a.executedPlan)
        case s: QueryStageExec => q.enqueue(s.plan)
        case _ =>
          if (n.metrics.contains("numOutputRows")) return metric(n, "numOutputRows")
          q.enqueueAll(n.children)
      }
    }
    0L
  }

  def of(qe: QueryExecution): PlanFacts = {
    val all = nodes(qe.executedPlan)
    val scans = all.filter {
      case _: DataSourceScanExec | _: DataSourceV2ScanExecBase => true
      case _ => false
    }
    val leaves = qe.optimizedPlan.collectLeaves()
    val rules = qe.tracker.rules
    PlanFacts(
      exchanges = all.count {
        case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
        case _ => false
      },
      reusedExchanges = all.count(_.isInstanceOf[ReusedExchangeExec]),
      bcastJoins = all.count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      },
      rowsScanned = scans.map(metric(_, "numOutputRows")).sum,
      rowsOut = firstCounted(qe.executedPlan),
      leaves = leaves.size,
      leavesWithRows = leaves.count(l => scala.util.Try(l.stats.rowCount.isDefined).getOrElse(false)),
      graftRuleNs = rules.collect { case (k, v) if k.startsWith("graft.") => v.totalTimeNs }.sum)
  }
}

/** One QueryExecution the session ran, as the listener saw it. */
final case class QeEvent(tracker: QueryPlanningTracker, facts: Option[PlanFacts])

/** Benchmark-owned listeners for the traced run. The QueryExecution
  * listener keeps each executed plan's planning-tracker phases and plan
  * facts; the Spark listener keeps SQL execution spans, jobs, stages and
  * task metrics keyed by job group, which the harness sets to the
  * statement id. */
final class Tracer extends SparkListener with QueryExecutionListener {
  /** Events are kept only while enabled (the traced rounds). */
  @volatile var enabled = false
  val qeEvents = new ConcurrentLinkedQueue[QeEvent]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())
  private def touch(): Unit = lastEvent.set(System.currentTimeMillis())

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (enabled) {
    qeEvents.add(QeEvent(qe.tracker, scala.util.Try(PlanFacts.of(qe)).toOption)); touch()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = if (enabled) {
    qeEvents.add(QeEvent(qe.tracker, None)); touch()
  }

  final class GroupStats {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var gcMs = 0L
    val jobIvs = mutable.ArrayBuffer.empty[Iv]
    val sqlIvs = mutable.ArrayBuffer.empty[Iv]
  }
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private def group(g: String) = groups.computeIfAbsent(g, _ => new GroupStats)
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val sqlStart = new ConcurrentHashMap[Long, (String, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    group(g).synchronized { group(g).jobs += 1 }
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobGroup.remove(e.jobId)).foreach { case (g, t0) =>
      val s = group(g); s.synchronized { s.jobIvs += Iv(t0, e.time) }
    }
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = group(g); s.synchronized { s.stages += 1 }
    }
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageGroup.get(e.stageId)).filter(_ => m != null).foreach { g =>
      val s = group(g)
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }
    touch()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if enabled =>
      sqlStart.put(s.executionId, (s.jobGroupId.getOrElse(""), s.time)); touch()
    case x: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(x.executionId)).foreach { case (g, t0) =>
        val s = group(g); s.synchronized { s.sqlIvs += Iv(t0, x.time) }
      }
      touch()
    case _ =>
  }

  /** Waits until no listener event has arrived for `quietMs`, so the
    * asynchronous listener bus has delivered everything of the run. */
  def drain(quietMs: Long = 400, maxMs: Long = 15000): Unit = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - lastEvent.get() < quietMs &&
        System.currentTimeMillis() - t0 < maxMs) Thread.sleep(50)
  }
}
