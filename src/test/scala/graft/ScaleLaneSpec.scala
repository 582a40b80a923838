package graft

import org.apache.spark.sql.functions._

/** Pins for the scale lanes' RESULT-validation machinery (round 13,
  * verdict ask #2: lanes must fail loudly on a wrong answer, not just
  * time it). Each lane's invariants are exercised here at the smallest
  * scale so a drifting generator or a broken closed form is caught by
  * `sbt test`, not discovered mid-lane.
  */
class ScaleLaneSpec extends SparkSpec {

  test("DedupScale 1x corpus: planted ground truth recovered by every probe") {
    // Runs the REAL lane — generator, probes, and closed-form checks —
    // at 1x only. An empty failure list means every operator recovered
    // exactly the planted structure (20 near-dup pairs, 2 five-doc CC
    // components, {2 exact, 3 near} incremental rejections and 20
    // span-cut docs per 100-doc block).
    val r = tools.DedupScale.run(spark, budgetSecs = 1e9, scales = Seq(1L),
      reps = Map.empty[Long, Int].withDefaultValue(1))
    assert(r.validationFailures.isEmpty, r.validationFailures.mkString("; "))
    assert(r.superlinear.isEmpty)
    // 9 probes as of round 14 (simhash, the embedding scale path, and
    // the fixed-eval decontamination asymmetry)
    assert(r.entries.size == 9 && r.entries.forall(_.times.head > 0))
  }

  test("DedupScale corpus generator: deterministic, planted structure in the text itself") {
    val dir = new java.io.File("target/dedup_scale/x1")
    tools.DedupScale.genDocs(spark, 1L, dir)
    val docs = spark.read.parquet(s"${dir.getPath}/documents.parquet").cache()
    assert(docs.count() == 5000)
    // exact cluster: 5 identical texts per block
    val ex = docs.filter(col("doc_id") % 100 >= 80 && col("doc_id") % 100 <= 84)
      .filter(col("doc_id") < 100)
      .select(col("text")).distinct().count()
    assert(ex == 1, s"exact cluster should be one distinct text, got $ex")
    // near cluster: 5 distinct texts per block, but sharing the seed body
    val nr = docs.filter(col("doc_id") >= 85 && col("doc_id") <= 89)
      .select(col("text")).collect().map(_.getString(0))
    assert(nr.distinct.length == 5)
    // each member differs from each other member at exactly 2 word slots
    val words = nr.map(_.split(" "))
    for (a <- words; b <- words if a ne b)
      assert(a.zip(b).count { case (x, y) => x != y } == 2)
    // boilerplate: docs 90-99 of one block share a suffix, different
    // blocks get different boilerplate
    def boiler(id: Long): String = docs.filter(col("doc_id") === id)
      .head().getAs[String]("text").split(" ").takeRight(30).mkString(" ")
    assert(boiler(90) == boiler(97))
    assert(boiler(90) != boiler(190))
    docs.unpersist(blocking = false)
  }

  test("TPC-H lane q1 invariant arithmetic holds at sf0.001 (generator parquet twin)") {
    // The Bench lane re-derives q1's surface through an independent
    // ungrouped recount at sf1; pin the same arithmetic here on the
    // fixture so the invariant itself cannot drift.
    val q1rows = queries.Tpch.q1(tables).collect()
    val indep = tables.lineitem
      .filter(col("l_shipdate") < lit("1998-09-03").cast("timestamp"))
      .agg(count(lit(1)), sum(col("l_quantity")),
        countDistinct(col("l_returnflag"), col("l_linestatus"))).head()
    assert(q1rows.length.toLong == indep.getLong(2))
    assert(q1rows.map(_.getAs[Long]("count_order")).sum == indep.getLong(0))
    val sumQty = q1rows.map(_.getAs[Double]("sum_qty")).sum
    assert(math.abs(sumQty - indep.getDouble(1)) <= 1e-4 * math.max(1.0, indep.getDouble(1)))
  }

  test("stream lane invariants: event conservation + batch-twin equality at sf0.001") {
    val ev = Catalog.load(spark, sfDir, "events")
    val total = ev.count()
    val tumb = streaming.Streams.tumblingStreamedEntry(spark, sfDir)
    assert(tumb.agg(sum(col("n"))).head().getLong(0) == total)
    val sess = streaming.Streams.sessionsStreamedEntry(spark, sfDir)
    assert(sess.agg(sum(col("n_events"))).head().getLong(0) == total)
    assert(sess.count() == streaming.Streams.sessionsBatch(spark, ev).count())
  }

  test("committed lane references parse and cover every lane entry (round 17)") {
    // The self-heal compares measured legs against these files; a file
    // that drifts out of parseable shape or loses an entry silently
    // disables the heal for that entry — exactly how BENCH_r16's
    // neardup_embedding flag shipped unfalsifiable. Pin: all three
    // lanes' committed twins parse, carry the 1/10/100 scales, and
    // name every entry the lane emits.
    def check(file: String, wantNames: Seq[String]): Unit = {
      val (scales, entries) = tools.LaneDiscipline.committed(file, "spec")
      assert(scales == Seq(1L, 10L, 100L), s"$file scales: $scales")
      val missing = wantNames.filterNot(entries.contains)
      assert(missing.isEmpty, s"$file missing entries: ${missing.mkString(", ")}")
      assert(entries.values.forall(v => v.length == 3 && v.forall(_ > 0)),
        s"$file has a malformed value row")
    }
    check("bench/dedup_scale.json", tools.DedupScale.probes.map(_.name))
    check("bench/geo_scale.json",
      Seq("geo_distance_join", "geo_contains_scan", "geo_relate_scan", "geo_union_agg"))
    check("bench/stream_scale.json", tools.StreamScale.laneEntryNames)
    check("bench/ann_scale.json", Seq("ann_brute", "ann_ivf"))
  }

  test("LaneDiscipline round 18: over-gate noise floor, contended verdicts, skip ledgers") {
    import tools.LaneDiscipline._
    // over-gate breach = 2x ratio AND >0.25s absolute (the r17 rc=1 on
    // a 61ms excess over a 60ms baseline must be impossible)
    assert(!overGateBreach(0.121, 0.06)) // the exact r17 failure case
    assert(overGateBreach(1.2, 0.5)) // real 2x+ regression on a real entry
    assert(!overGateBreach(0.9, 0.5)) // under 2x
    assert(overGateBreach(0.55, 0.2)) // 2.75x and 0.35s absolute -> trips
    assert(!overGateBreach(0.3, 0.1)) // 3x but 0.2s absolute -> floored
    // normalized hard rule: the exit-code gate. Measured degraded-mode
    // cases (run median 1.32, tiny entries at 3.3x, quiet journals)
    // must NOT trip; a differential regression on a real entry must.
    assert(!overGateBreachNorm(0.56, 0.17, 1.32)) // degraded-mode tiny entry
    assert(!overGateBreachNorm(0.56, 0.17, 1.0))  // tiny entry under the 0.5s floor
    assert(overGateBreachNorm(2.2, 1.0, 1.0))     // genuine 2.2x on a 1s entry
    assert(!overGateBreachNorm(2.2, 1.0, 1.32))   // same entry in a degraded run: ambiguous, not fatal
    assert(overGateBreachNorm(5.0, 1.0, 1.32))    // 5x sticks out of any run mode
    assert(overGateBreachNorm(2.2, 1.0, 0.5))     // m clamps to >= 1: same verdict as m = 1
    // m clamps ABOVE at RatioMedianCap (r18 advice, medium): a uniform
    // 3x code regression raises the run median itself to ~3 — unbounded
    // normalization would make the gate unfireable at any magnitude
    assert(RatioMedianCap == 1.5)
    assert(overGateBreachNorm(4.0, 1.0, 3.0))  // m=3 capped to 1.5: 4.0 > 3.0 fires
    assert(!overGateBreachNorm(2.9, 1.0, 3.0)) // inside the capped band
    // uniform-regression alarm: quiet-median-steal run over the band
    // trips; a loud-steal run is weather by the same policy that
    // converts its legs; NaN steal (journal lost) stays visible
    assert(ratioMedianAlarm(2.5, 0.3, gate = 1.5))
    assert(!ratioMedianAlarm(2.5, 5.0, gate = 1.5))
    assert(!ratioMedianAlarm(1.4, 0.3, gate = 1.5))
    assert(ratioMedianAlarm(2.5, Double.NaN, gate = 1.5))
    assert(!ratioMedianAlarm(Double.NaN, 0.3, gate = 1.5))
    assert(ratioMedianAlarm(2.5, 0.3, gate = 0.0)) // gate off: steal unknownable, fire on m
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    // contendedRep: steal above the gate marks; NaN steal never marks;
    // load marks only against a known floor
    assert(contendedRep(steal = 3.0, load = 2.0, loadFloor = Double.NaN, gate = 1.5))
    assert(!contendedRep(steal = 0.2, load = 2.0, loadFloor = Double.NaN, gate = 1.5))
    assert(!contendedRep(steal = Double.NaN, load = 2.0, loadFloor = Double.NaN, gate = 1.5))
    assert(!contendedRep(steal = 3.0, load = 2.0, loadFloor = Double.NaN, gate = 0.0)) // gate off
    assert(contendedRep(steal = Double.NaN, load = 20.0, loadFloor = 1.5, gate = 1.5))
    assert(!contendedRep(steal = Double.NaN, load = 10.0, loadFloor = 1.5, gate = 1.5))
    // contendedLegs: only legs BOTH over 2x committed AND contended
    // convert; a quiet over-2x leg stays (real regression visible)
    val times = Array(1.0, 30.0, 40.0)
    val loads = Array(2.0, 2.0, 2.0)
    val steals = Array(0.1, 5.0, 0.1)
    val scales = Seq(1L, 10L, 100L)
    val comm = Some(Seq(1.0, 5.0, 30.0))
    val hits = contendedLegs(times, loads, steals, scales, scales, comm, gate = 1.5)
    assert(hits.map(_._1) == Seq(1), s"got $hits") // leg1: 30 > 2*5 AND steal 5.0
    // leg2 is 40 > 2*30? no (40 < 60) -> not over; make it over but quiet:
    val hits2 = contendedLegs(Array(1.0, 30.0, 100.0), loads, steals, scales,
      scales, comm, gate = 1.5)
    assert(hits2.map(_._1) == Seq(1), "quiet over-2x leg must NOT convert")
    assert(hits.head._2.startsWith("contended "))
  }

  test("LaneDiscipline round 19: env-suspect annotation and pending-leg ledger") {
    import tools.LaneDiscipline._
    val scales = Seq(1L, 10L, 100L)
    val comm = Some(Seq(1.0, 5.0, 30.0))
    // leg1 is over 2x committed at QUIET steal (exactly the legs the
    // contended conversion keeps): annotated only when the lane's worst
    // calibration ratio exceeded the gate
    val times = Array(1.0, 30.0, 40.0)
    val quietSteals = Array(0.1, 0.2, 0.1)
    assert(envSuspectLegs(times, quietSteals, scales, scales, comm,
      calibMax = 2.0, gate = 1.5).map(_._1) == Seq(1))
    // calibration quiet -> a real regression, NO annotation
    assert(envSuspectLegs(times, quietSteals, scales, scales, comm,
      calibMax = 1.2, gate = 1.5).isEmpty)
    // no calibration reference -> never adjudicates
    assert(envSuspectLegs(times, quietSteals, scales, scales, comm,
      calibMax = Double.NaN, gate = 1.5).isEmpty)
    // loud-steal over-2x legs belong to the CONTENDED conversion, not here
    assert(envSuspectLegs(times, Array(0.1, 5.0, 0.1), scales, scales, comm,
      calibMax = 2.0, gate = 1.5).isEmpty)
    assert(envSuspectLegs(times, quietSteals, scales, scales, comm,
      calibMax = 2.0, gate = 1.5).head._2.contains("env-suspect"))
    // pending-leg ledger: round-trips through target/, tolerates absence
    assert(pendingLegs("spec_lane_never_written").isEmpty)
    // (write path is gated off under SPARK_GRAFT_LANE_LEDGER=off — the
    // spec env — so starved spec runs can't steer the next real bench)
    writePendingLegs("spec_lane", Seq("a@100x", "b@10x"))
    assert(pendingLegs("spec_lane").isEmpty, "test env must not persist the ledger")
  }

  test("DedupScale skip ledger: a budget-starved leg records a named reason, not a bare null") {
    // budget 0 admits the 1x legs (never budget-gated) but starves the
    // 10x tier -> every probe's 10x leg must appear in `skipped` as
    // "budget" and its time as NaN (round-18 artifact-honesty ask #3).
    // One probe (the `only` filter) keeps the runtime bounded; the
    // ledger logic is shared across probes.
    val r = tools.DedupScale.run(spark, budgetSecs = 0.0, scales = Seq(1L, 10L),
      reps = Map.empty[Long, Int].withDefaultValue(1),
      only = Some("^neardup_minhash$"))
    val e = r.entries.find(_.name == "neardup_minhash").get
    assert(!e.times.head.isNaN && e.times(1).isNaN, e.toString)
    assert(r.skipped.get("neardup_minhash@10x").contains("budget"), r.skipped.toString)
    assert(r.contended.isEmpty) // steal gate is pinned off in test env
  }

  test("LaneDiscipline.committed: anchored to the entries object, warns on bad rows") {
    // a top-level numeric array outside "entries" must NOT be absorbed
    // as a heal reference (round-18 advice)
    val f = java.io.File.createTempFile("lane_committed", ".json")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath,
      """{"scales": [1, 10], "loads": [9.9, 8.8],
        |"entries": {"probe_a": [1.0, 2.0], "probe_bad": [1.0, null]}}""".stripMargin
        .getBytes("UTF-8"))
    val (scales, entries) = tools.LaneDiscipline.committed(f.getPath, "spec")
    assert(scales == Seq(1L, 10L))
    assert(entries.keySet == Set("probe_a"), s"got ${entries.keySet}")
    assert(entries("probe_a") == Seq(1.0, 2.0))
  }

  test("LaneDiscipline.suspect: decade and committed triggers, noise floors") {
    val scales = Seq(1L, 10L, 100L)
    val comm = Some(Seq(1.0, 2.0, 5.0))
    // over 2x committed at the 100x leg -> suspect
    assert(tools.LaneDiscipline.suspect(Array(1.0, 2.0, 10.1), 2, scales, scales, comm, 12.0))
    // within 2x committed, sane decade -> not suspect
    assert(!tools.LaneDiscipline.suspect(Array(1.0, 2.0, 9.9), 2, scales, scales, comm, 12.0))
    // >12x decade flags even with no committed reference
    assert(tools.LaneDiscipline.suspect(Array(1.0, 13.0, 20.0), 1, scales, Nil, None, 12.0))
    // sub-0.5s committed value is noise-floored (no heal on tiny legs)
    assert(!tools.LaneDiscipline.suspect(Array(0.9, 0.9, 0.9), 2, scales, scales,
      Some(Seq(0.1, 0.1, 0.1)), 12.0))
    // sub-0.5s previous leg never flags a decade
    assert(!tools.LaneDiscipline.suspect(Array(0.4, 9.0, 9.0), 1, scales, Nil, None, 12.0))
    // NaN legs (budget-skipped) never flag
    assert(!tools.LaneDiscipline.suspect(Array(1.0, Double.NaN, 30.0), 2, scales, Nil, None, 12.0))
    // scale absent from the committed file -> only the decade trigger applies
    assert(!tools.LaneDiscipline.suspect(Array(1.0, 2.0, 100.0), 2, scales, Seq(1L, 10L),
      Some(Seq(1.0, 2.0)), 60.0))
  }

  test("LaneDiscipline.run: budget skips, worst-first heals, decade flags, pending legs first") {
    import tools.LaneDiscipline._
    // Sleep-timed fake legs against a temp committed reference. "flat"
    // sleeps 1.1 s at 1x (over 2x its committed 0.5 s -> healed) and
    // barely at 10x; "steep" sleeps 0.5 s at 1x and 7 s at 10x (a 14x
    // decade, no committed row -> healed and still flagged).
    val comm = java.io.File.createTempFile("lane_fake", ".json")
    comm.deleteOnExit()
    java.nio.file.Files.write(comm.toPath,
      """{"scales": [1, 10], "entries": {"flat": [0.5, 20.0]}}""".getBytes("UTF-8"))
    val sleepMs = Map("flat" -> Map(1L -> 1100L, 10L -> 50L), "steep" -> Map(1L -> 500L, 10L -> 7000L))
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def lane(budget: Double) = Lane("spec-fake", comm.getPath, Seq(1L, 10L),
      Map.empty[Long, Int].withDefaultValue(1), budget,
      Seq("flat", "steep").map(name => probe(name) { n =>
        ran += s"$name@${n}x"; Thread.sleep(sleepMs(name)(n)); Nil }))
    // budget 0: the 1x legs run, every 10x leg is skipped as "budget"
    val starved = tools.LaneDiscipline.run(spark, lane(0.0))
    assert(starved.entries.forall(e => !e.times.head.isNaN && e.times(1).isNaN), starved.entries)
    assert(starved.skipped == Map("flat@10x" -> "budget", "steep@10x" -> "budget"))
    // the pending ledger names steep@10x, so it runs before flat@10x even
    // though flat's costlier 1x leg would otherwise put flat first
    val ledger = new java.io.File("target/spec-fake10_pending")
    ledger.getParentFile.mkdirs()
    java.nio.file.Files.write(ledger.toPath, "steep@10x".getBytes("UTF-8"))
    ran.clear()
    val r = try tools.LaneDiscipline.run(spark, lane(1e9)) finally ledger.delete()
    assert(ran.take(4) == Seq("flat@1x", "steep@1x", "steep@10x", "flat@10x"), ran)
    assert(r.healed.toSet == Set("flat@1x", "steep@10x"), r.healed)
    assert(r.superlinear == Seq("steep@1x->10x"), r.superlinear)
    assert(r.skipped.isEmpty && r.contended.isEmpty && r.validationFailures.isEmpty)
  }
}
