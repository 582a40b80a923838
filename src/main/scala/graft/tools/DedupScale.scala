package graft.tools

import graft.{Sessions, Tables}
import graft.llm.{Corpus, Dedup, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup/text-tier scale-evidence harness — the LAST tier whose 100×
  * claim was argued from the sf0.01→sf0.1 decade alone (SCALING.md)
  * while TPC-H, ANN and streaming all have measured lanes. Generates a
  * deterministic synthetic document corpus at 1×/10×/100× the sf0.1
  * volume (5k → 500k docs) with PLANTED structure, so every banded join
  * does real work AND every result is checkable against closed-form
  * ground truth. The TIMED ACTION of every entry IS the validating
  * aggregate (the AnnScale recall discipline): each rep executes the
  * full operator plan plus a one-row invariant aggregate, so a wrong
  * answer at any scale fails the lane instead of timing beautifully —
  * the round-12 verdict's "validate results AT scale" ask.
  *
  * Corpus (all content from hash(id) — no RNG state, bit-identical
  * re-runs; vocabulary 30k words with a quadratic skew so shingle
  * frequencies are non-uniform like real text, docs 150 words so a
  * single-word mutation keeps Jaccard = 142/154 ≈ 0.922, comfortably
  * above the τ=0.8 near-dup threshold with LSH recall ≈ 1−1e-9):
  * per 100-doc block —
  *  - ids 0–79: unique docs (content seed = doc id);
  *  - ids 80–84: an exact-duplicate cluster (5 identical texts);
  *  - ids 85–89: a near-duplicate cluster (shared seed, each member
  *    mutates ONE word at its own interior position);
  *  - ids 90–99: unique bodies + a BLOCK-LOCAL 30-word boilerplate
  *    suffix (shared 64-char grams for the span ops; block-local so
  *    boilerplate pairs stay O(corpus), never O(corpus²)).
  *
  * Ground truth per block (B = #blocks = 50·scale): 20 near-dup pairs
  * (10 exact-cluster at J=1, 10 near-cluster at J≈0.92), 2 CC
  * components of size 5, incremental parity-split rejections
  * {exact: 2 (ids 81,83), near: 3 (ids 85,87,89)}, and 20 docs whose
  * span-cut text shrinks (the two clusters + the 10 boilerplated).
  * Random cross-doc collisions are negligible by construction (a chance
  * J ≥ 0.8 needs 80% of 148 skew-drawn shingles to coincide; a chance
  * shared 64-char gram needs ~9 identical consecutive words).
  *
  * The asymmetric incremental leg holds the DELTA FIXED (odd docs of
  * every scale-th block ≈ 2.5k docs) while the base grows with the
  * corpus — the production crawl shape; its planted rejections
  * (100 exact / 150 near) are scale-invariant.
  *
  * Running this lane at 100× found and fixed two real scale cliffs
  * (bench/SCALING_DEDUP.md): AQE's compressed-size heuristic flipping
  * the digest/band/shingle joins to driver-killing runtime broadcasts
  * (now size-aware merge-pinned in llm/Dedup), and the 8 GB fork heap
  * starving 32 concurrent aggregation tasks (now 16 GB default).
  */
object DedupScale {

  private val BaseDocs = 5000L // sf0.1 documents volume

  private[graft] def genDocs(spark: SparkSession, n: Long, dir: java.io.File): Unit = {
    val f = new java.io.File(dir, "documents.parquet")
    // Cache key = a fingerprint of the generator itself (the planted-
    // structure SQL + the row count), not mere existence: a reused stale
    // corpus would make the lane's closed-form checks judge the WRONG
    // data. On any generator change the marker mismatches and the corpus
    // regenerates; hand-rolled marker beats a version constant someone
    // forgets to bump.
    val marker = new java.io.File(dir, "_gen_fingerprint")
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$GenSql|${BaseDocs * n}|v1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val have =
      if (marker.exists()) new String(
        java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim
      else ""
    if (f.exists() && have == want) return
    dir.mkdirs()
    val df = spark.range(BaseDocs * n).select(
      col("id").as("doc_id"),
      expr(GenSql).as("text"))
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("crawl"), col("doc_id") % 7))
      .withColumn("n_chars", length(col("text")).cast("long"))
    df.repartition(32).write.mode("overwrite").parquet(f.getPath)
    java.nio.file.Files.write(marker.toPath, want.getBytes("UTF-8"))
  }

  /** The planted-structure generator expression; hashed into the corpus
    * cache marker so any edit regenerates. */
  private val GenSql =
        """CASE WHEN id % 100 >= 90 THEN
             concat(
               concat_ws(' ', transform(sequence(0, 149), i ->
                 concat('w', CAST(floor(30000 * pow(
                   pmod(hash(id, i, 11), 1000000) / 1000000.0, 2)) AS INT)))),
               ' ',
               concat_ws(' ', transform(sequence(0, 29), i ->
                 concat('b', pmod(hash(id DIV 100, i, 17), 1000000)))))
           ELSE
             concat_ws(' ', transform(sequence(0, 149), i ->
               CASE WHEN id % 100 BETWEEN 85 AND 89 AND i = 10 + 30 * (id % 100 - 85)
                    THEN concat('mut', id)
                    ELSE concat('w', CAST(floor(30000 * pow(
                      pmod(hash(CASE WHEN id % 100 BETWEEN 80 AND 84
                                     THEN id - id % 100 + 80
                                     WHEN id % 100 BETWEEN 85 AND 89
                                     THEN id - id % 100 + 85
                                     ELSE id END, i, 11), 1000000) / 1000000.0,
                      2)) AS INT)) END))
           END"""

  /** Planted-structure embeddings mirroring the document clusters
    * (round 14, verdict Next #5): dim 64, coordinates U(−1, 1) from
    * hash(seed, i). The exact-duplicate cluster (ids 80–84) shares ONE
    * seed — identical vectors, pairwise cos = 1 exactly; the near
    * cluster (85–89) shares a base seed plus a per-doc perturbation
    * U(−0.025, 0.025) per coordinate — pairwise cos ≈ 0.9994 (two
    * perturbations of RMS 0.0144 against a base of RMS 0.577), safely
    * above the probe's τ = 0.95 and below its exact-pair gate 0.9999;
    * everything else is fully per-id random, where a chance cos ≥ 0.95
    * needs ~7.6σ of the 1/√64 cosine spread — ≪ 1 expected false pair
    * even over the 100× corpus's 1.25e11 possible pairs. */
  private val VecDims = 64
  private val VecSql =
    s"""transform(sequence(0, ${VecDims - 1}), i -> cast(
          pmod(hash(CASE WHEN id % 100 BETWEEN 80 AND 84
                         THEN id - id % 100 + 80
                         WHEN id % 100 BETWEEN 85 AND 89
                         THEN id - id % 100 + 85
                         ELSE id END, i, 7), 1000) / 500.0 - 1.0
          + CASE WHEN id % 100 BETWEEN 85 AND 89
                 THEN pmod(hash(id, i, 19), 50) / 1000.0 - 0.025
                 ELSE 0.0 END AS double))"""

  private[graft] def genVecs(spark: SparkSession, n: Long, dir: java.io.File): Unit = {
    val f = new java.io.File(dir, "embeddings.parquet")
    val marker = new java.io.File(dir, "_vec_fingerprint")
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$VecSql|${BaseDocs * n}|v1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val have =
      if (marker.exists()) new String(
        java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim
      else ""
    if (f.exists() && have == want) return
    dir.mkdirs()
    spark.range(BaseDocs * n)
      .select(col("id").as("vec_id"), expr(VecSql).as("e"))
      .repartition(32).write.mode("overwrite").parquet(f.getPath)
    java.nio.file.Files.write(marker.toPath, want.getBytes("UTF-8"))
  }

  /** One lane entry: `probe` runs the operator AND returns invariant
    * failures — the probe's single action is what gets timed. */
  private[graft] final case class Probe(name: String, probe: (Tables, Long) => Seq[String])

  private def fails(n: Long, checks: (String, Long, Long)*): Seq[String] =
    checks.collect { case (what, got, want) if got != want =>
      s"x$n $what: got $got want $want" }

  private[graft] val probes: Seq[Probe] = Seq(
    Probe("neardup_minhash", (t, n) => {
      val b = 50 * n
      val r = Dedup.neardupMinhash(t).agg(
        count(lit(1)), count(when(col("jacc") >= 0.999, 1)),
        count(when(col("jacc") < 0.8, 1))).head()
      fails(n, ("minhash pairs", r.getLong(0), 20 * b),
        ("minhash J=1 pairs", r.getLong(1), 10 * b),
        ("minhash sub-threshold rows", r.getLong(2), 0))
    }),
    Probe("neardup_jaccard_prefix", (t, n) => {
      val b = 50 * n
      val r = Dedup.neardupJaccardPrefix(t).agg(
        count(lit(1)), count(when(col("jacc") < 0.8, 1))).head()
      fails(n, ("prefix pairs", r.getLong(0), 20 * b),
        ("prefix sub-threshold rows", r.getLong(1), 0))
    }),
    Probe("neardup_simhash", (t, n) => {
      // same planted truth as minhash: the two-level (simhash chunk,
      // MinHash band) bucket key must recover every J ≥ 0.8 pair —
      // exact clusters at J = 1, near clusters at J ≈ 0.92 (hd ≤ 15
      // covers the measured token-simhash noise) — with the exact
      // Jaccard verification keeping precision 1.
      val b = 50 * n
      val r = Dedup.neardupSimhash(t).agg(
        count(lit(1)), count(when(col("jacc") >= 0.999, 1)),
        count(when(col("jacc") < 0.8, 1))).head()
      fails(n, ("simhash pairs", r.getLong(0), 20 * b),
        ("simhash J=1 pairs", r.getLong(1), 10 * b),
        ("simhash sub-threshold rows", r.getLong(2), 0))
    }),
    Probe("neardup_embedding", (t, n) => {
      // the embedding tier's scale path (sign-LSH with log2(N)-scaled
      // bits, IVF off — Dedup.neardupEmbeddingAtScale documents why the
      // fixed-16-list IVF union cannot survive 100×): per block, the 5
      // identical vectors give 10 pairs at cos = 1 and the 5 perturbed
      // ones 10 pairs at cos ≈ 0.9994 — recovered exactly, nothing
      // below τ.
      val b = 50 * n
      val vecs = t.embeddings.select(col("vec_id"), col("e"))
      val r = Dedup.neardupEmbeddingAtScale(t.spark, vecs, 0.95, BaseDocs * n)
        .agg(count(lit(1)), count(when(col("cos") >= 0.9999, 1)),
          count(when(col("cos") < 0.95, 1))).head()
      fails(n, ("embedding pairs", r.getLong(0), 20 * b),
        ("embedding identical pairs", r.getLong(1), 10 * b),
        ("embedding sub-threshold rows", r.getLong(2), 0))
    }),
    Probe("dedup_incremental", (t, n) => {
      val b = 50 * n
      val m = Dedup.dedupIncremental(t)
        .groupBy(col("reason")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      fails(n, ("incremental exact rejects", m.getOrElse("exact", 0L), 2 * b),
        ("incremental near rejects", m.getOrElse("near", 0L), 3 * b))
    }),
    Probe("dedup_incremental_asym", (t, n) => {
      // fixed delta (odd docs of every n-th block), base grows with the
      // corpus: rejections are scale-INVARIANT — 50 delta blocks × (2
      // exact + 3 near)
      val m = Dedup.dedupIncrementalSplit(t,
          (expr("doc_id DIV 100") % n === 0) && col("doc_id") % 2 === 1,
          col("doc_id") % 2 === 0)
        .groupBy(col("reason")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      fails(n, ("asym exact rejects", m.getOrElse("exact", 0L), 100),
        ("asym near rejects", m.getOrElse("near", 0L), 150))
    }),
    Probe("decontaminate_asym", (t, n) => {
      // the decontamination production shape: a FIXED eval suite (one
      // block-0 boilerplated doc) against a corpus growing 10×/leg.
      // Boilerplate is block-local, so ground truth is scale-invariant:
      // exactly the other 9 boilerplated docs of block 0 match, each on
      // exactly the 28 word-3-grams of the 30-word shared suffix
      // (junction grams carry doc-specific body words and never match;
      // a chance cross-block triple over the 10⁶ b-vocabulary is
      // ~1e-18 per position — widened from 10³ in round 16, where the
      // 100-block eval axis measured ONE real cross-block collision).
      val r = TextStats.decontaminateAgainst(
          t.documents.filter(col("doc_id") =!= 90),
          t.documents.filter(col("doc_id") === 90))
        .agg(count(lit(1)), count(when(col("n_contaminated") === 28, 1))).head()
      fails(n, ("decontaminated docs", r.getLong(0), 9),
        ("docs at 28 shared grams", r.getLong(1), 9))
    }),
    Probe("dedup_cluster_cc", (t, n) => {
      val b = 50 * n
      val r = Corpus.dedupClusterCC(t).agg(
        count(lit(1)), countDistinct(col("component")),
        count(when(col("cluster_n") =!= 5, 1))).head()
      fails(n, ("cc nodes", r.getLong(0), 10 * b),
        ("cc components", r.getLong(1), 2 * b),
        ("cc wrong-size clusters", r.getLong(2), 0))
    }),
    Probe("text_dup_span_cut", (t, n) => {
      val b = 50 * n
      val r = TextStats.dupSpanCut(t)
        .join(t.documents.select(col("doc_id"), col("n_chars")), "doc_id")
        .agg(count(lit(1)),
          count(when(length(col("cleaned_text")) < col("n_chars"), 1))).head()
      fails(n, ("span-cut corpus rows", r.getLong(0), BaseDocs * n),
        ("span-cut shrunken docs", r.getLong(1), 20 * b))
    }))

  /** Shuffle partitions sized to the corpus: 32 is right for 5k docs,
    * but at 500k docs the 135M-row anchor aggregation would hand each of
    * 32 concurrent tasks a multi-hundred-MB hash map at once — the lane
    * OOM'd before this derivation. AQE coalesces the stages that end up
    * small, so oversizing costs nothing. */
  private def partitions(n: Long) = math.min(256L, 32L * math.max(1L, n / 4)).toString

  /** Runs the lane; shared by the standalone main and the Bench artifact
    * emitter. `budgetSecs` bounds total lane wall (>1× legs are skipped
    * once exceeded — skipped legs record NaN); `only` is a probe-name
    * regex. The heal reference is bench/dedup_scale.json, the machine-
    * readable twin of SCALING_DEDUP.md's results table. */
  def run(spark: SparkSession, budgetSecs: Double,
          scales: Seq[Long] = Seq(1L, 10L, 100L),
          reps: Map[Long, Int] = Map(1L -> 2, 10L -> 2).withDefaultValue(1),
          only: Option[String] = None): LaneDiscipline.LaneResult[Seq[String]] = {
    val tables = scales.map { n =>
      val d = new java.io.File(s"target/dedup_scale/x$n")
      genDocs(spark, n, d)
      genVecs(spark, n, d)
      n -> Tables(spark, d.getPath)
    }.toMap
    val legs = probes.filter(p => only.forall(_.r.findFirstIn(p.name).isDefined)).map(p =>
      LaneDiscipline.probe(p.name) { n =>
        spark.conf.set("spark.sql.shuffle.partitions", partitions(n))
        p.probe(tables(n), n)
      })
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try LaneDiscipline.run(spark, LaneDiscipline.Lane("dedup", "bench/dedup_scale.json",
      scales, reps, budgetSecs, legs))
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  // ------------------------------------------- decontamination eval axis
  final case class EvalAxisLeg(name: String, evalDocs: Long, path: String,
                               sec: Double, load: Double = Double.NaN)

  /** Eval-SUITE-size axis for decontamination (round-14 verdict Next
    * #5): the `decontaminate_asym` probe holds the eval suite at ONE
    * doc, but real suites run 10³–10⁵ docs and the broadcast gram set
    * grows with them. Against the lane's 100× corpus (500k docs) this
    * measures suites of 1 / 100 / 10,000 docs through BOTH physical
    * paths — the exact-gram broadcast and the bloom-prefilter fallback
    * (TextStats.decontaminateAgainst) — with closed-form ground truth:
    * each eval "benchmark doc" is the 30-word block-local boilerplate
    * SUFFIX of a boilerplated id (90, and 91 for the 10k suite) of the
    * first E blocks — the realistic suite shape (short benchmark texts,
    * not full documents), and the reason the truth is exact: pure-b
    * eval grams can only match the pure-b suffix grams of the blocks'
    * boilerplated docs, so exactly the REMAINING boilerplated docs of
    * those blocks match, each on exactly the suffix's 28 word-3-grams
    * (over the 10⁶ b-vocabulary a cross-block gram collision is ~4e-10
    * per axis — the 10³ vocabulary this replaced measurably collided
    * once in 100 blocks). The timed action is the validating aggregate,
    * lane discipline. Numbers + the broadcast-fit threshold they
    * calibrate land in bench/SCALING_DEDUP.md. */
  def decontaminateEvalAxis(spark: SparkSession, budgetSecs: Double,
                            scale: Long = 100L): (Seq[EvalAxisLeg], Seq[String]) = {
    val d = new java.io.File(s"target/dedup_scale/x$scale")
    genDocs(spark, scale, d)
    val blocks = BaseDocs * scale / 100
    // the e100/e10000 suite expectations are closed forms over >=5000
    // blocks; a smaller corpus would fail validation on a CORRECT run
    require(blocks >= 5000,
      s"eval axis needs >=5000 blocks (scale >= 100 at the default corpus), got $blocks")
    val t0 = System.nanoTime(); def spent = (System.nanoTime() - t0) / 1e9
    val legs = Seq.newBuilder[EvalAxisLeg]
    val failsB = Seq.newBuilder[String]
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions(scale))
    try {
      val t = Tables(spark, d.getPath)
      val block = expr("doc_id DIV 100")
      // eval text = the 30-word boilerplate suffix (words 151..180)
      val suffixText = concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 151, 30))
      // untimed warmup: one full corpus-gram pass (page cache + codegen
      // JIT) so the FIRST timed leg doesn't read 2× slow and skew the
      // broadcast-vs-bloom comparison (the GeoScale discipline)
      TextStats.decontaminateAgainst(
          t.documents.filter(col("doc_id") =!= 90),
          t.documents.filter(col("doc_id") === 90).select(col("doc_id"), suffixText.as("text")),
          forcePath = Some("broadcast"))
        .agg(count(lit(1))).head()
      // (tag, eval predicate, #eval docs, expected contaminated docs)
      val suites = Seq(
        ("e1", col("doc_id") === 90, 1L, 9L),
        ("e100", col("doc_id") % 100 === 90 && block < 100, 100L, 900L),
        ("e10000", (col("doc_id") % 100).isin(90, 91) && block < 5000, 10000L, 8L * 5000))
      // Sized legs run min-of-2 (budget-permitting) with a per-rep
      // loadavg journal (round-17 ask #6): these numbers feed the
      // committed broadcast-to-bloom threshold claim (~2M grams), so a
      // contended single rep must not be the shipped evidence — the
      // same discipline as the TPC-H spots and the dedup lane.
      for ((tag, isEval, nEval, expect) <- suites; path <- Seq("broadcast", "bloom")) {
        var best = Double.NaN
        var bestLoad = Double.NaN
        for (rep <- 1 to 2 if spent <= budgetSecs && (rep == 1 || !best.isNaN)) {
          val tA = System.nanoTime()
          val r = TextStats.decontaminateAgainst(
              t.documents.filter(!isEval),
              t.documents.filter(isEval).select(col("doc_id"), suffixText.as("text")),
              forcePath = Some(path))
            .agg(count(lit(1)), count(when(col("n_contaminated") === 28, 1))).head()
          val dt = (System.nanoTime() - tA) / 1e9
          val ld = LaneDiscipline.loadavg
          if (r.getLong(0) != expect) failsB +=
            s"decon $tag/$path: got ${r.getLong(0)} contaminated want $expect"
          if (r.getLong(1) != expect) failsB +=
            s"decon $tag/$path: got ${r.getLong(1)} at 28 grams want $expect"
          if (best.isNaN || dt < best) { best = dt; bestLoad = ld }
          System.err.println(
            f"[decon-eval] x$scale $tag%-7s $path%-9s $dt%7.2f s (rep $rep, load $ld%.1f)")
        }
        if (!best.isNaN) legs += EvalAxisLeg(tag, nEval, path, best, bestLoad)
      }
      // Cap-crossing leg (round 16): a FULL-TEXT 20k-doc suite (~2.7M
      // distinct grams from the skewed body vocabulary) sits PAST the
      // 256 MB broadcast cap — assert `auto` actually flips to bloom at
      // a measured size, and pin PATH EQUIVALENCE there: at a suite
      // size where chance body-gram matches are expected behavior there
      // is no closed form, but the two physical paths must produce
      // IDENTICAL (doc, count) sets — exact, oracle-free.
      if (spent <= budgetSecs) {
        val isEval = col("doc_id") % 100 < 4 && block < 5000
        val evalDf = t.documents.filter(isEval)
        val trainDf = t.documents.filter(!isEval)
        val chosen = TextStats.decontaminateAutoPath(evalDf)
        if (chosen != "bloom")
          failsB += s"decon e20k_fulltext: auto chose '$chosen', want bloom past the cap"
        val tA = System.nanoTime()
        // localCheckpoint: one corpus pass per path; the count and the
        // two exceptAll comparisons then reuse the materialized results
        val bcast = TextStats.decontaminateAgainst(trainDf, evalDf,
          forcePath = Some("broadcast")).localCheckpoint(true)
        val bloom = TextStats.decontaminateAgainst(trainDf, evalDf,
          forcePath = Some("bloom")).localCheckpoint(true)
        val nB = bloom.count()
        val diff = bloom.exceptAll(bcast).count() + bcast.exceptAll(bloom).count()
        val dt = (System.nanoTime() - tA) / 1e9
        val ld = LaneDiscipline.loadavg
        if (nB == 0) failsB += "decon e20k_fulltext: zero contaminated docs (vacuous)"
        if (diff != 0) failsB += s"decon e20k_fulltext: paths diverge on $diff rows"
        legs += EvalAxisLeg("e20k_fulltext", 20000L, "both+equiv", dt, ld)
        System.err.println(
          f"[decon-eval] x$scale e20k_fulltext both-paths+equivalence $dt%7.2f s " +
          s"(auto=$chosen, contaminated=$nB)")
      }
      (legs.result(), failsB.result())
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(master = "local[32]", appName = "graft-dedup-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.contains("--eval-axis-only")) {
      val (legs, fails) = decontaminateEvalAxis(spark, budgetSecs = 1e9)
      legs.foreach(l => println(f"${l.name}%-8s ${l.evalDocs}%6d docs ${l.path}%-9s ${l.sec}%7.2f s"))
      println(s"eval-axis validation: ${if (fails.isEmpty) "ALL PASS" else fails.mkString("; ")}")
      spark.stop(); return
    }
    val scales = if (args.contains("--small")) Seq(1L, 10L) else Seq(1L, 10L, 100L)
    LaneDiscipline.printReport(run(spark, budgetSecs = 1e9, scales = scales))
    // --no-eval-axis: a lane-only re-run skips the decontamination
    // eval-suite axis sweep
    if (!args.contains("--small") && !args.contains("--no-eval-axis")) {
      val (legs, fails) = decontaminateEvalAxis(spark, budgetSecs = 1e9)
      println("| eval suite | docs | broadcast s | bloom s |")
      println("|---|---|---|---|")
      legs.groupBy(_.name).toSeq.sortBy(_._2.head.evalDocs).foreach { case (tag, ls) =>
        def of(p: String) = ls.find(_.path == p).map(l => f"${l.sec}%.2f").getOrElse("-")
        println(s"| $tag | ${ls.head.evalDocs} | ${of("broadcast")} | ${of("bloom")} |")
      }
      println(s"eval-axis validation: ${if (fails.isEmpty) "ALL PASS" else fails.mkString("; ")}")
    }
    spark.stop()
  }
}
