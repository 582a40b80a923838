package graft.tools

import graft.Sessions
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming scale-evidence harness — the streaming tier's analogue of
  * the TPC-H generator lane (bench/SCALING_TPCH.md): MEASURE the
  * watermark-bounded-state claim instead of arguing it from operator
  * shape. Generates deterministic synthetic event corpora at 1×/10×/100×
  * the sf0.1 events volume (rows AND distinct users scale together, so
  * per-entry state — live windows, open sessions, buffered join rows —
  * scales with the corpus, exercising the round-12 state-partition
  * derivation at sizes the fixed parquet fixtures never reach), then
  * runs the three drained-replay streaming entries end-to-end and prints
  * the decade-ratio table recorded in SCALING_STREAM.md.
  *
  * The synthetic corpus mirrors the real `events` table: same 6-column
  * schema, same 5-type domain, uniform 30-day window, value in [0, 560).
  * All columns derive from hash(event_id) — no RNG state, so re-runs and
  * re-generations are bit-identical. Each corpus is written as a single
  * `events.parquet` FILE (the tumbling entry's file-source glob matches
  * the file name), built once and cached under target/stream_scale/.
  *
  * Wall times include each entry's own replay staging (the sessions
  * entry re-stages events + sentinels per run by design) — these are
  * end-to-end drained-replay numbers, not kernel times.
  */
object StreamScale {

  private val BaseRows = 100000L // sf0.1 events volume
  private val BaseUsers = 1500L

  private def genEvents(spark: SparkSession, n: Long, dir: java.io.File): Unit = {
    val f = new java.io.File(dir, "events.parquet")
    if (f.exists()) return
    dir.mkdirs()
    val types = array(lit("signup"), lit("purchase"), lit("view"), lit("click"), lit("error"))
    // Burst-structured timestamps: each event lands in one of its user's
    // 8 activity bursts (burst start = a hash-chosen hour of the 30-day
    // window; offset within burst <= 20 min). ~8 events per (user,
    // burst) at every scale -> mean in-burst gap ~145 s, far under the
    // 1800 s session gap, so sessions are MULTI-EVENT (~8 sessions/user)
    // and the sessionization fold does real work. Uniform timestamps
    // would make nearly every event its own session: the drained replay
    // would then buffer O(events) rows in the memory sink and measure
    // driver materialization instead of the state machine.
    val users = BaseUsers * n
    val df = spark.range(BaseRows * n).select(
      col("id").as("event_id"),
      expr(s"""timestampadd(SECOND,
               pmod(hash(pmod(hash(id, 13), ${users}L), pmod(hash(id, 43), 8)), 720) * 3600
                 + pmod(hash(id, 41), 1200),
               timestamp'2024-01-01 00:00:00')""").as("ts"),
      pmod(hash(col("id"), lit(13)), lit(users)).cast("long").as("user_id"),
      element_at(types, (pmod(hash(col("id"), lit(29)), lit(5)) + 1).cast("int"))
        .as("event_type"),
      (pmod(hash(col("id"), lit(31)), lit(56021)) / lit(100.0)).as("value"),
      concat(lit("{\"k\":"), (col("id") % 100).cast("string"), lit("}")).as("props"))
    val w = new java.io.File(dir, "w_events")
    df.repartition(1).write.mode("overwrite").parquet(w.getPath)
    val part = w.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, f.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(w)
  }

  /** The lane's event-based entries, in rotation order (Bench's 100×
    * round-robin indexes this). stream_dedup streams the documents table
    * and has its own oracle entry plus DedupScale-side evidence. */
  val laneEntryNames: Seq[String] = Seq("stream_tumbling", "stream_sessions", "stream_join")

  /** Runs the lane; shared by the standalone main (1×/10×/100×) and the
    * per-bench artifact emitter (1×/10×, budget-guarded, plus the 100×
    * rotation). `names` narrows the legs — Bench's rotation runs one.
    * Wall times include each entry's own replay staging. */
  def run(spark: SparkSession, budgetSecs: Double,
          scales: Seq[Long] = Seq(1L, 10L, 100L),
          reps: Map[Long, Int] = Map(1L -> 2, 10L -> 2).withDefaultValue(1),
          names: Set[String] = laneEntryNames.toSet): LaneDiscipline.LaneResult[DataFrame] = {
    val dirs = scales.map { n =>
      val d = new java.io.File(s"target/stream_scale/x$n")
      genEvents(spark, n, d)
      n -> d.getPath
    }.toMap
    // Result validation at every scale, on the memory-sink table the
    // timed rep already materialized (outside the timed window): event
    // conservation where a closed form exists (every event lands in
    // exactly one window/session), an INDEPENDENT batch plan otherwise.
    def check(n: Long, what: String, got: Long, want: Long): Seq[String] =
      if (got != want) Seq(s"x$n $what: got $got want $want") else Nil
    def validate(name: String, n: Long, df: DataFrame): Seq[String] = {
      val ev = graft.Catalog.load(spark, dirs(n), "events")
      name match {
        case "stream_tumbling" =>
          check(n, "tumbling event conservation",
            df.agg(sum(col("n"))).head().getLong(0), BaseRows * n)
        case "stream_sessions" =>
          check(n, "sessions event conservation",
            df.agg(sum(col("n_events"))).head().getLong(0), BaseRows * n) ++
          check(n, "sessions vs batch gaps-and-islands",
            df.count(), Streams.sessionsBatch(spark, ev).count())
        case "stream_join" =>
          val p = ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts"))
          val c = ev.filter(col("event_type") === "click")
            .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
          val batch = p.join(c, col("user_id") === col("c_uid") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts")).count()
          check(n, "interval join vs batch twin", df.count(), batch)
        case _ => Nil
      }
    }
    val legs = Streams.entries.collect { case (name, fn, _)
        if laneEntryNames.contains(name) && names(name) =>
      LaneDiscipline.Leg[DataFrame](name, n => {
        val df = fn(spark, dirs(n))
        df.write.format("noop").mode("overwrite").save()
        df
      }, validate(name, _, _))
    }
    LaneDiscipline.run(spark, LaneDiscipline.Lane("stream", "bench/stream_scale.json",
      scales, reps, budgetSecs, legs))
  }

  /** `--names a,b --scales 1,10,100 --reps N` narrow a standalone run to
    * specific legs (targeted quiet re-evidence for suspect legs without
    * paying for the whole lane). Defaults reproduce the full lane. */
  def main(args: Array[String]): Unit = {
    def argOf(flag: String): Option[String] =
      args.indexOf(flag) match { case -1 => None; case i => args.lift(i + 1) }
    val names = argOf("--names").map(_.split(',').toSet).getOrElse(laneEntryNames.toSet)
    val scales = argOf("--scales").map(_.split(',').map(_.trim.toLong).toSeq)
      .getOrElse(Seq(1L, 10L, 100L))
    val reps = argOf("--reps").map(_.toInt) match {
      case Some(k) => Map.empty[Long, Int].withDefaultValue(k)
      case None => Map(1L -> 2, 10L -> 2).withDefaultValue(1)
    }
    val spark = Sessions.builder(master = "local[32]", appName = "graft-stream-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, budgetSecs = Double.MaxValue,
      scales = scales, reps = reps, names = names)
    LaneDiscipline.printReport(r)
    spark.stop()
    require(r.validationFailures.isEmpty,
      s"stream scale lane validation failed: ${r.validationFailures.mkString("; ")}")
  }
}
