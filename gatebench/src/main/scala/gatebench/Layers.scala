package gatebench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** Splits each traced statement's wall time across graft's layers.
  *
  * A statement owns the QueryExecutions whose planning began inside its
  * wall-clock window, plus the tracker of the DataFrame it built, and the
  * SQL executions and jobs of its job group. Layer times are interval
  * unions made disjoint in a fixed order, so they add up to at most the
  * statement's wall time:
  *  - sql.parse: tracker "parsing" phases;
  *  - plans.optimize, plans.physical: "optimization" and "planning"
  *    phases not already counted;
  *  - exec.run: SQL execution spans not already counted;
  *  - plans.analyze: "analysis" phases and DataFrame construction not
  *    already counted.
  * Per-layer values are per measured round (sum over the round's
  * statements), except ratios.
  */
object Layers {
  final case class Split(parse: Long, analyze: Long, optimize: Long, physical: Long, exec: Long,
      graftRuleNs: Long, facts: Seq[PlanFacts], commitMs: Long) {
    def planning: Long = parse + analyze + optimize + physical
    def accounted: Long = planning + exec
  }

  private def phases(t: QueryPlanningTracker, w: Iv): Map[String, List[Iv]] =
    t.phases.map { case (k, v) => k -> Iv.clip(Seq(Iv(v.startTimeMs, v.endTimeMs)), w) }

  /** Assigns each listener event to the statement whose window holds the
    * start of its earliest phase. */
  private def owners(tracer: Tracer, stmts: Seq[StmtRec]): Map[String, Seq[QeEvent]] = {
    val byStart = stmts.sortBy(_.window.start)
    tracer.qeEvents.asScala.toSeq.flatMap { e =>
      val starts = e.tracker.phases.values.map(_.startTimeMs)
      if (starts.isEmpty) None
      else {
        val s0 = starts.min
        byStart.find(s => s.window.start <= s0 && s0 <= s.window.end).map(_.id -> e)
      }
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** The statement's own tracker and those of the executions it ran,
    * each once (a write can reuse the tracker of the DataFrame it writes). */
  private def trackers(s: StmtRec, events: Seq[QeEvent]): Seq[QueryPlanningTracker] = {
    val byId = mutable.LinkedHashMap.empty[Int, QueryPlanningTracker]
    (s.tracker.toSeq ++ events.map(_.tracker)).foreach(t => byId(System.identityHashCode(t)) = t)
    byId.values.toSeq
  }

  def split(tracer: Tracer, s: StmtRec, events: Seq[QeEvent]): Split = {
    val ts = trackers(s, events)
    val ph = ts.map(phases(_, s.window))
    def all(name: String) = ph.flatMap(_.getOrElse(name, Nil))
    val g = Option(tracer.groups.get(s.id))
    val sql = Iv.clip(g.map(x => x.synchronized(x.sqlIvs.toList)).getOrElse(Nil), s.window)
    val jobs = Iv.clip(g.map(x => x.synchronized(x.jobIvs.toList)).getOrElse(Nil), s.window)
    val p = all(QueryPlanningTracker.PARSING)
    val o = Iv.minus(all(QueryPlanningTracker.OPTIMIZATION), p)
    val pl = Iv.minus(all(QueryPlanningTracker.PLANNING), p ++ o)
    val x = Iv.minus(sql, p ++ o ++ pl)
    val an = Iv.minus(all(QueryPlanningTracker.ANALYSIS) :+ s.build, p ++ o ++ pl ++ x)
    val graftNs = ts.map(_.rules.collect {
      case (k, v) if k.startsWith("graft.") => v.totalTimeNs }.sum).sum
    // driver-side execution outside jobs: for a write, its commit
    val commit = if (s.kind == "write") Iv.length(Iv.minus(x, jobs)) else 0L
    Split(Iv.length(p), Iv.length(an), Iv.length(o), Iv.length(pl), Iv.length(x), graftNs,
      events.flatMap(_.facts), commit)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def compute(tracer: Tracer, traced: Seq[RoundRec], untraced: Seq[RoundRec], cores: Int): Map[String, Double] = {
    val n = traced.size.toDouble
    val stmts = traced.flatMap(_.stmts).filter(_.ok)
    val own = owners(tracer, traced.flatMap(_.stmts))
    val splits = stmts.map(s => s -> split(tracer, s, own.getOrElse(s.id, Nil)))
    def perRound(f: Split => Double) = splits.map(x => f(x._2)).sum / n
    val facts = splits.flatMap(_._2.facts)
    def factSum(f: PlanFacts => Long) = facts.map(f).sum.toDouble
    val groups = stmts.flatMap(s => Option(tracer.groups.get(s.id)))
    def groupSum(f: tracer.GroupStats => Long) = groups.map(g => g.synchronized(f(g))).sum.toDouble
    val execMs = perRound(_.exec.toDouble)
    val cpuMs = groupSum(_.cpuNs) / 1e6 / n
    val reads = splits.filter(_._1.kind == "read")
    val writes = splits.filter(_._1.kind == "write")
    val readWall = reads.map(_._1.secs * 1000).sum
    val within = splits.count { case (s, sp) =>
      math.abs(s.secs * 1000 - sp.accounted) <= 0.1 * s.secs * 1000 }
    val wall = splits.map(_._1.secs * 1000).sum
    val changed = writes.map(_._1.changed).sum
    val rewritten = writes.flatMap(_._2.facts.map(_.rowsOut)).sum
    val mb = 1048576.0
    Map(
      "sql.lower_ms" -> stmts.map(_.lowerMs).sum / n,
      "sql.parse_ms" -> perRound(_.parse.toDouble),
      "plans.analyze_ms" -> perRound(_.analyze.toDouble),
      "plans.optimize_ms" -> perRound(_.optimize.toDouble),
      "plans.physical_ms" -> perRound(_.physical.toDouble),
      "plans.graft_rules_ms" -> perRound(_.graftRuleNs / 1e6),
      "plans.stats_covered_frac" -> (if (factSum(_.leaves) > 0) factSum(_.leavesWithRows) / factSum(_.leaves) else 0.0),
      "plans.exchanges" -> factSum(_.exchanges) / n,
      "plans.reused_exchanges" -> factSum(_.reusedExchanges) / n,
      "plans.bcast_joins" -> factSum(_.bcastJoins) / n,
      "plans.read_wall_share" -> (if (readWall > 0) reads.map(_._2.planning).sum / readWall else 0.0),
      "exec.run_ms" -> execMs,
      "exec.jobs" -> groupSum(_.jobs) / n,
      "exec.stages" -> groupSum(_.stages) / n,
      "exec.tasks" -> groupSum(_.tasks) / n,
      "exec.task_cpu_ms" -> cpuMs,
      "exec.cpu_util" -> (if (execMs > 0) cpuMs / (execMs * cores) else 0.0),
      "exec.shuffle_write_mb" -> groupSum(_.shuffleWrite) / mb / n,
      "exec.shuffle_read_mb" -> groupSum(_.shuffleRead) / mb / n,
      "exec.spill_mb" -> groupSum(_.spill) / mb / n,
      "exec.gc_ms" -> groupSum(_.gcMs) / n,
      "sources.rows_scanned" -> factSum(_.rowsScanned) / n,
      "sources.rows_scanned_per_row_out" ->
        (if (factSum(_.rowsOut) > 0) factSum(_.rowsScanned) / factSum(_.rowsOut) else 0.0),
      "sources.commit_ms" -> (if (writes.nonEmpty) writes.map(_._2.commitMs).sum.toDouble / writes.size else 0.0),
      "sources.rows_rewritten_per_row_changed" -> (if (changed > 0) rewritten.toDouble / changed else 0.0),
      "trace.accounted_frac" -> (if (wall > 0) splits.map(_._2.accounted).sum / wall else 0.0),
      "trace.stmts_within_10pct_frac" -> (if (splits.nonEmpty) within.toDouble / splits.size else 0.0),
      "trace.overhead_frac" -> (median(traced.map(_.wallSecs)) / median(untraced.map(_.wallSecs)) - 1)
    )
  }

  /** Writes each traced statement's wall time and its split across the
    * layers, in ms: the per-statement view behind the per-round sums. */
  def writeStatements(tracer: Tracer, traced: Seq[RoundRec], out: File): Unit = {
    val own = owners(tracer, traced.flatMap(_.stmts))
    val rows = traced.flatMap(_.stmts).filter(_.ok).map { s =>
      val sp = split(tracer, s, own.getOrElse(s.id, Nil))
      Map("stmt" -> s.id, "name" -> s.name, "kind" -> s.kind, "wall_ms" -> s.secs * 1000,
        "lower_ms" -> s.lowerMs, "parse_ms" -> sp.parse, "analyze_ms" -> sp.analyze,
        "optimize_ms" -> sp.optimize, "physical_ms" -> sp.physical, "exec_ms" -> sp.exec)
    }
    java.nio.file.Files.write(out.toPath, Json.write(rows).getBytes("UTF-8"))
  }

  /** Writes the traced statements' spans: the statement, its client-side
    * build and lowering, tracker phases, SQL executions and jobs. */
  def writeSpans(tracer: Tracer, traced: Seq[RoundRec], out: File): Unit = {
    val own = owners(tracer, traced.flatMap(_.stmts))
    val spans = traced.flatMap(_.stmts).flatMap { s =>
      def span(name: String, iv: Iv, parent: String) =
        Map("name" -> name, "start_ms" -> iv.start, "end_ms" -> iv.end, "parent" -> parent, "stmt" -> s.id)
      val g = Option(tracer.groups.get(s.id))
      Seq(span(s"statement:${s.name}", s.window, ""), span("client.build", s.build, "statement")) ++
        trackers(s, own.getOrElse(s.id, Nil)).flatMap(t => t.phases.map { case (k, v) =>
          span(s"phase.$k", Iv(v.startTimeMs, v.endTimeMs), "statement") }) ++
        g.toSeq.flatMap(x => x.synchronized(
          x.sqlIvs.map(span("sql_execution", _, "statement")) ++ x.jobIvs.map(span("job", _, "sql_execution"))))
    }
    java.nio.file.Files.write(out.toPath, Json.write(spans).getBytes("UTF-8"))
  }
}
