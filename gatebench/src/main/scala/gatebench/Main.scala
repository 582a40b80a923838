package gatebench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import graft.Sessions
import graft.sql.PrestoDialect

/** One executed statement of a measured round. */
final case class StmtRec(id: String, name: String, kind: String, secs: Double, ok: Boolean,
    err: String, changed: Long, window: Iv, build: Iv, tracker: Option[QueryPlanningTracker],
    lowerMs: Double)

final case class RoundRec(index: Int, traced: Boolean, wallSecs: Double, cpuSecs: Double, stmts: Seq[StmtRec])

/** Runs one workload: input generation, set-up, a warm-up pass with the
  * one-off output checks, then measured rounds in a closed loop with one
  * client thread. With tracing on, untraced and traced rounds alternate and the traced
  * ones feed the per-layer split. Writes the run record to
  * `<out>/raw.json`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <n> --out <dir>
  */
object Main {
  // Measured rounds: one per RoundSecs of the --seconds budget, at least
  // three, as the first still runs slower than the next ones. The count
  // depends on the budget only, never on how fast rounds run, so every
  // run of a workload takes the median over the same rounds.
  private val RoundSecs = 5.0
  private val MinRounds = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val runDir = new File(a("out")).getAbsoluteFile
    runDir.mkdirs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(m: String): Unit =
      System.err.println(f"[gatebench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $m")

    def session(): SparkSession = {
      val s = Sessions.builder(s"local[$cores]", "gatebench")
        .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
        .config("spark.local.dir", new File(runDir, "local").getPath)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    // ---- set-up: session, inputs, the workload's state; the warm-up
    // below is part of it too
    val spark = session()
    val ctx = Ctx(spark, seed, cores, runDir)
    log("session up")
    wl.generate(ctx)
    log("inputs generated")
    wl.setup(ctx)
    log("set-up done")
    val sc = spark.sparkContext
    val checkFailures = mutable.ArrayBuffer.empty[(String, String)]

    val tracer = new Tracer
    if (traced) {
      spark.listenerManager.register(tracer)
      sc.addSparkListener(tracer)
    }

    def runStmt(id: String, s: Stmt, tracing: Boolean): StmtRec = {
      val lowerMs = if (tracing) s.text.map { t =>
        val t0 = System.nanoTime(); PrestoDialect.transform(t); (System.nanoTime() - t0) / 1e6
      }.getOrElse(0.0) else 0.0
      sc.setJobGroup(id, s.name, interruptOnCancel = false)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var b1 = w0
      var df: DataFrame = null
      val (ok, err) =
        try {
          df = s.build()
          b1 = System.currentTimeMillis()
          s.act(df) match { case None => (true, ""); case Some(m) => (false, m) }
        } catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val secs = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      sc.clearJobGroup()
      if (!ok) System.err.println(s"[gatebench] ${s.name} failed: ${err.take(500)}")
      StmtRec(id, s.name, s.kind, secs, ok, err, s.changed, Iv(w0, w1), Iv(w0, b1),
        Option(df).map(_.queryExecution.tracker), lowerMs)
    }

    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def endRound(r: Int, recs: Seq[StmtRec]): Seq[StmtRec] = wl.endRound(ctx, r) match {
      case None => recs
      case Some(m) =>
        System.err.println(s"[gatebench] round $r check failed: $m")
        recs.map(x => if (x.kind == "write") x.copy(ok = false, err = m) else x)
    }

    def runRound(r: Int, tracing: Boolean): RoundRec = {
      tracer.enabled = tracing
      val t0 = System.nanoTime()
      val cpu0 = os.getProcessCpuTime
      val recs = wl.round(ctx, r).zipWithIndex.map { case (s, i) => runStmt(s"r$r-$i", s, tracing) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      if (tracing) { tracer.drain(); tracer.enabled = false }
      RoundRec(r, tracing, wall, cpu, endRound(r, recs))
    }

    // ---- warm-up, untimed: a pass over the reads on one thread per core
    // (in a session each where the workload needs it) next to the one-off
    // output checks, then the workload's writes. A failure still fails
    // the run.
    val warm0 = System.nanoTime()
    val warm = new java.util.concurrent.ConcurrentLinkedQueue[StmtRec]()
    Workload.inParallel(cores + 1)((0 until cores).map { i => () =>
      val c = if (wl.sessionPerWarmupThread) ctx.copy(spark = spark.newSession()) else ctx
      wl.reads(c, 0).zipWithIndex.foreach { case (s, j) =>
        if (j % cores == i) warm.add(runStmt(s"w-r$j", s, tracing = false))
      }
    } :+ (() => { checkFailures.synchronized(checkFailures ++= wl.checks(ctx)); () }))
    val warmWrites = wl.warmupWrites(ctx).zipWithIndex.map { case (s, j) => runStmt(s"w-w$j", s, tracing = false) }
    (warm.asScala.toSeq ++ endRound(0, warmWrites)).filterNot(_.ok)
      .foreach(x => checkFailures += x.name -> s"warm-up: ${x.err}")
    val warmupSecs = (System.nanoTime() - warm0) / 1e9
    log("warm-up and checks done")

    // set-up time: process start to the first timed statement, less the
    // box-noise probe that runs in between
    val setupSecs = (System.currentTimeMillis() - jvmStart) / 1e3
    val loadBefore = os.getSystemLoadAverage
    val probeBefore = Probe.cpu(spark)

    // ---- measured rounds
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    var tracedGcMs = 0L
    val rounds = mutable.ArrayBuffer.empty[RoundRec]
    heapPools.foreach(_.resetPeakUsage())
    // a traced run alternates untraced and traced rounds after the first
    val nRounds = math.max(if (traced) 5 else MinRounds, (seconds / RoundSecs).toInt)
    for (_ <- 1 to nRounds) {
      val tracing = traced && rounds.size % 2 == 1
      val g0 = gcMs
      rounds += runRound(rounds.size + 1, tracing)
      if (tracing) tracedGcMs += gcMs - g0
      log(f"round ${rounds.size} done: ${rounds.last.wallSecs}%.2f s")
    }
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val probeAfter = Probe.cpu(spark)
    val loadAfter = os.getSystemLoadAverage

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tr = rounds.filter(_.traced).toSeq
        val (probed, probeFailures) = wl.probes(ctx)
        checkFailures ++= probeFailures
        Layers.compute(tracer, tr, rounds.filterNot(_.traced).drop(1).toSeq, cores) ++ probed ++ Map(
            "jvm.gc_ms" -> tracedGcMs.toDouble / tr.size,
            "jvm.heap_peak_mb" -> heapPeakMb)
      }
    if (traced) {
      val tr = rounds.filter(_.traced).toSeq
      Layers.writeSpans(tracer, tr, new File(runDir, "trace_spans.json"))
      Layers.writeStatements(tracer, tr, new File(runDir, "trace_statements.json"))
    }

    val record = Map(
      "workload" -> a("workload"), "seed" -> seed, "traced" -> traced,
      "cores" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "inputs" -> wl.inputs,
      "setup_s" -> setupSecs, "warmup_secs" -> warmupSecs,
      "check_failures" -> checkFailures.map { case (n, m) => Map("name" -> n, "error" -> m) },
      "probe_before_s" -> probeBefore, "probe_after_s" -> probeAfter,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
      "peak_rss_mb" -> Probe.peakRssMb,
      "rounds" -> rounds.map(r => Map("index" -> r.index, "traced" -> r.traced, "wall_s" -> r.wallSecs,
        "cpu_s" -> r.cpuSecs, "stmts" -> r.stmts.map(s => Map("name" -> s.name, "kind" -> s.kind,
          "secs" -> s.secs, "ok" -> s.ok, "error" -> s.err)))),
      "layers" -> layers)
    java.nio.file.Files.write(new File(runDir, "raw.json").toPath, Json.write(record).getBytes("UTF-8"))
    spark.stop()
  }
}

object Probe {
  /** Fixed CPU-bound job (rows through a 16-deep xxhash64 chain, one
    * partial-aggregate row per task, no shuffle payload): its wall time
    * shows how busy the machine is around a run. Best of two: the first
    * run of the job compiles its code. */
  def cpu(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, max, xxhash64}
    def rep(): Double = {
      val t0 = System.nanoTime()
      val h = (1 to 16).foldLeft(col("id"))((c, _) => xxhash64(c))
      spark.range(0, 4000000L, 1, 64).select(max(h)).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(rep(), rep())
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally status.close()
  }
}
