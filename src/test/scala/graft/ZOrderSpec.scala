package graft

import graft.sources.ZOrder
import org.apache.spark.sql.functions._

/** Z-order layout: the point of Morton clustering is that every file's
  * bounding box is tight in BOTH dimensions, so min/max stats can prune
  * on either column. These tests measure that property directly on the
  * written files — the honest stand-in for a file-stats catalog. */
class ZOrderSpec extends SparkSpec {

  /** Fresh per-run root for every directory this spec writes, so a rerun
    * in the same checkout never sees an earlier run's output (the NaN
    * test asserts its directory does not exist yet). */
  private lazy val root: String = {
    val d = java.nio.file.Files.createTempDirectory("zorder-spec").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.getPath
  }

  private val zDir = s"$root/z"
  private val aDir = s"$root/asort"

  /** Per-file [min, max] of both dims, normalized to [0, 1] spans. */
  private def fileBoxes(dir: String): Seq[(Double, Double, Double, Double)] = {
    val full = spark.read.parquet(dir)
    val g = full.agg(
      min("o_custkey").cast("double"), max("o_custkey").cast("double"),
      min("o_totalprice").cast("double"), max("o_totalprice").cast("double")).head()
    val (aLo, aHi, bLo, bHi) = (g.getDouble(0), g.getDouble(1), g.getDouble(2), g.getDouble(3))
    full.groupBy(input_file_name())
      .agg(
        min("o_custkey").cast("double"), max("o_custkey").cast("double"),
        min("o_totalprice").cast("double"), max("o_totalprice").cast("double"))
      .collect()
      .map { r =>
        ((r.getDouble(1) - aLo) / (aHi - aLo), (r.getDouble(2) - aLo) / (aHi - aLo),
          (r.getDouble(3) - bLo) / (bHi - bLo), (r.getDouble(4) - bLo) / (bHi - bLo))
      }
      .toSeq
  }

  private lazy val written: Unit = {
    val df = tables.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    ZOrder.zorderWrite(df, "o_custkey", "o_totalprice", zDir, nFiles = 16)
    df.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
      .write.mode("overwrite").parquet(aDir)
  }

  test("per-file extent of the NON-leading dimension is bounded (vs full-range under single-column sort)") {
    written
    val zSpanB = fileBoxes(zDir).map { case (_, _, bMin, bMax) => bMax - bMin }
    val aSpanB = fileBoxes(aDir).map { case (_, _, bMin, bMax) => bMax - bMin }
    val (zAvg, aAvg) = (zSpanB.sum / zSpanB.size, aSpanB.sum / aSpanB.size)
    // Single-column sort leaves each file spanning ~the whole price range;
    // 16 z-files split a 2-D space into ~4×4 tiles, so ~1/4 span per dim.
    assert(aAvg > 0.9, f"control layout unexpectedly clustered: avg price span $aAvg%.2f")
    assert(zAvg < aAvg / 2, f"z-order span $zAvg%.2f not < half of $aAvg%.2f")
  }

  test("a selective predicate on the non-leading dimension intersects fewer file boxes") {
    written
    // File-stats pruning keeps a file only if its box intersects the
    // predicate range — count survivors for o_totalprice in a 10% band.
    def survivors(dir: String): Int =
      fileBoxes(dir).count { case (_, _, bMin, bMax) => bMax >= 0.45 && bMin <= 0.55 }
    val (zs, as) = (survivors(zDir), survivors(aDir))
    assert(as >= 14, s"single-col sort should keep nearly all 16 files, kept $as")
    assert(zs <= as / 2, s"z-order kept $zs of 16 files, not < half of $as")
  }

  test("z-order relayout is lossless: row set identical to the source") {
    written
    val src = tables.orders.select("o_orderkey", "o_custkey", "o_totalprice")
    assert(spark.read.parquet(zDir).except(src).count() == 0)
    assert(src.except(spark.read.parquet(zDir)).count() == 0)
  }

  test("stats-pruned read skips files yet returns the exact filtered result") {
    val pruned = ZOrder.zorderPrunedRead(tables)
    val expected = tables.orders
      .filter(col("o_totalprice").between(100000.0, 150000.0))
      .agg(count(lit(1)), round(sum(col("o_totalprice")), 2),
        countDistinct(col("o_custkey"))).head()
    val got = pruned.head()
    assert((got.getLong(0), got.getDouble(1), got.getLong(2)) ==
      (expected.getLong(0), expected.getDouble(1), expected.getLong(2)))
    // and the plan genuinely reads fewer than the 16 written files
    val survivors = ZOrder.fileStats(
      spark.read.parquet("/root/repo/target/zorder/orders_zorder"), "o_totalprice")
      .count { case (_, lo, hi) => hi >= 100000.0 && lo <= 150000.0 }
    assert(survivors < 16, s"band predicate should skip files, kept $survivors/16")
  }

  test("manifest metadata table drives the prune and matches recomputed file boxes") {
    // The query path's skip decision comes from the write-time manifest
    // (no data scan, no full stats array on the driver); this test
    // cross-checks it against boxes recomputed by scanning the data.
    val dir = "/root/repo/target/zorder/orders_zorder"
    ZOrder.zorderWrite(
      tables.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "o_custkey", "o_totalprice", dir, nFiles = 16)
    val viaManifest =
      ZOrder.pruneFilesByManifest(spark, dir, "o_totalprice", 100000.0, 150000.0).toSet
    val viaScan = ZOrder.fileStats(spark.read.parquet(dir), "o_totalprice")
      .collect { case (f, lo, hi) if hi >= 100000.0 && lo <= 150000.0 => f }.toSet
    assert(viaManifest == viaScan,
      s"manifest survivors != recomputed survivors:\n$viaManifest\n$viaScan")
    assert(viaManifest.nonEmpty && viaManifest.size < 16,
      s"expected a real prune, kept ${viaManifest.size}/16")
    // the manifest is a metadata table: 16 rows, one per data file
    assert(spark.read.parquet(ZOrder.manifestDir(dir)).count() == 16)
  }

  test("NaN in an FP layout column is refused up front with a named error (manifest soundness)") {
    // Round 20 (verdict ask #5): parquet footer min/max for FP columns
    // EXCLUDE NaN while the old scan manifest (Spark min/max) ordered
    // NaN greatest, so a NaN-bearing file's footer box would silently
    // under-cover and a pruned read could drop rows. zorderWrite now
    // refuses NaN before writing anything (previously the write died
    // mid-flight on bucket16's ANSI cast, leaving partial output).
    import spark.implicits._
    val dir = s"$root/nan"
    val df = Seq((1L, 1.0, 2.0), (2L, 3.0, Double.NaN), (3L, 5.0, 6.0))
      .toDF("k", "x", "y")
    val e = intercept[IllegalArgumentException] {
      ZOrder.zorderWrite(df, "x", "y", dir, nFiles = 2)
    }
    assert(e.getMessage.contains("NaN"), e.getMessage)
    assert(e.getMessage.contains("y") || e.getMessage.contains("x"), e.getMessage)
    // nothing half-written: the refusal happens before the data write
    assert(!new java.io.File(dir).exists(), "refusal must precede the write")
    // NaN-free FP data keeps the footer-stats manifest path (sound now
    // by construction): same df minus the NaN row round-trips with a
    // manifest that matches a data re-scan
    val clean = df.filter(!isnan(col("y")))
    ZOrder.zorderWrite(clean, "x", "y", dir, nFiles = 2)
    val viaManifest = spark.read.parquet(ZOrder.manifestDir(dir))
    assert(viaManifest.count() >= 1)
    val boxes = viaManifest.collect().map(r =>
      (r.getAs[String]("f"), r.getAs[Double]("x_lo"), r.getAs[Double]("x_hi"),
        r.getAs[Double]("y_lo"), r.getAs[Double]("y_hi"))).toSet
    val rescan = spark.read.parquet(dir).groupBy(input_file_name().as("f"))
      .agg(min("x"), max("x"), min("y"), max("y")).collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(boxes == rescan, s"footer manifest != rescan:\n$boxes\n$rescan")
  }

  test("FileIndex-integrated read prunes inside scan planning: fewer files, exact result") {
    // A plain read + filter — no caller-side path list. The scan's
    // ZOrderFileIndex translates the pushed band predicate into a
    // manifest query, so the FileSourceScanExec itself plans fewer files.
    val dir = s"$root/fidx"
    ZOrder.zorderWrite(
      tables.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "o_custkey", "o_totalprice", dir, nFiles = 16)
    val df = graft.sources.ZOrderFileIndex.read(spark, dir, Seq("o_custkey", "o_totalprice"))
      .filter(col("o_totalprice").between(100000.0, 150000.0))
    val expected = tables.orders
      .filter(col("o_totalprice").between(100000.0, 150000.0))
      .agg(count(lit(1)), round(sum(col("o_totalprice")), 2),
        countDistinct(col("o_custkey"))).head()
    val got = df.agg(count(lit(1)), round(sum(col("o_totalprice")), 2),
      countDistinct(col("o_custkey"))).head()
    assert((got.getLong(0), got.getDouble(1), got.getLong(2)) ==
      (expected.getLong(0), expected.getDouble(1), expected.getLong(2)))
    val scan = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val planned = scan.selectedPartitions.totalNumberOfFiles
    assert(planned > 0 && planned < 16,
      s"index should plan a strict subset of the 16 files, planned $planned")
    // an unselective query through the same index still sees every file
    val full = graft.sources.ZOrderFileIndex.read(spark, dir, Seq("o_custkey", "o_totalprice"))
    assert(full.count() == tables.orders.count())
    // a disjunction is untranslatable → must fall back to NO prune (all
    // rows correct), never to a wrong subset
    val orPred = col("o_totalprice") < 50000.0 || col("o_totalprice") > 400000.0
    val viaIndex = graft.sources.ZOrderFileIndex.read(spark, dir, Seq("o_custkey", "o_totalprice"))
      .filter(orPred).count()
    assert(viaIndex == tables.orders.filter(orPred).count())
    // IN-list on the leading layout dimension: boxes bound o_custkey too,
    // so a few nearby keys prune files AND return the exact rows
    val inDf = graft.sources.ZOrderFileIndex.read(spark, dir, Seq("o_custkey", "o_totalprice"))
      .filter(col("o_custkey").isin(1L, 2L, 3L))
    assert(inDf.count() == tables.orders.filter(col("o_custkey").isin(1L, 2L, 3L)).count())
    val inScan = inDf.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val inPlanned = inScan.selectedPartitions.totalNumberOfFiles
    assert(inPlanned > 0 && inPlanned < 16,
      s"IN-list should prune via the manifest, planned $inPlanned")
  }

  test("temporal layout column: time band prunes through the manifest, exact result") {
    // o_orderdate is timestamp[ms] (TimestampNTZ in Spark) — round-10:
    // numify encodes temporal layout columns as epoch micros, matching
    // the internal form of pushed timestamp literals, so time × id
    // (the natural time-series z-order) prunes like any numeric dim.
    val dir = s"$root/tidx"
    ZOrder.zorderWrite(
      tables.orders.select(col("o_orderkey"), col("o_orderdate"), col("o_custkey")),
      "o_orderdate", "o_custkey", dir, nFiles = 16)
    val band = col("o_orderdate").between(
      lit("1996-01-01").cast("timestamp_ntz"), lit("1996-06-30").cast("timestamp_ntz"))
    val df = graft.sources.ZOrderFileIndex.read(spark, dir, Seq("o_orderdate", "o_custkey"))
      .filter(band)
    assert(df.count() == tables.orders.filter(band).count())
    val scan = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val planned = scan.selectedPartitions.totalNumberOfFiles
    assert(planned > 0 && planned < 16,
      s"half-year band over ~6.5 years should prune, planned $planned/16")
    // unsupported layout type still refuses fast with a clear message
    val e = intercept[IllegalArgumentException] {
      ZOrder.zorderWrite(tables.orders.select(col("o_orderstatus"), col("o_custkey")),
        "o_orderstatus", "o_custkey", dir + "-bad", nFiles = 2)
    }
    assert(e.getMessage.contains("z-order layout column"), e.getMessage)
  }

  test("decimal layout column: bands prune with NO false prune across random bands") {
    // DECIMAL layout columns encode via numify's double cast; the
    // 1-ulp-widened box comparisons keep equality/range pruning sound
    // under that rounding. Property-style: every random band over the
    // decimal dimension returns exactly the unpruned answer.
    val dir = s"$root/decidx"
    val src = tables.orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(12,2)").as("o_price_dec"))
    ZOrder.zorderWrite(src, "o_price_dec", "o_custkey", dir, nFiles = 16)
    val idx = () => graft.sources.ZOrderFileIndex.read(spark, dir, Seq("o_price_dec", "o_custkey"))
    val rnd = new scala.util.Random(42)
    var prunedAtLeastOnce = false
    (1 to 6).foreach { _ =>
      val lo = 1000.0 + rnd.nextDouble() * 400000.0
      val hi = lo + rnd.nextDouble() * 60000.0
      val band = col("o_price_dec").between(
        lit(lo).cast("decimal(12,2)"), lit(hi).cast("decimal(12,2)"))
      val df = idx().filter(band)
      assert(df.count() == src.filter(band).count(), s"band [$lo,$hi] lost rows under prune")
      val planned = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.selectedPartitions.totalNumberOfFiles
      if (planned < 16) prunedAtLeastOnce = true
    }
    assert(prunedAtLeastOnce, "no band ever pruned a file — index inert on decimal layout")
    // point equality on a REAL decimal value must both prune and match
    val v = src.select(col("o_price_dec")).head().getDecimal(0)
    val eq = idx().filter(col("o_price_dec") === lit(v).cast("decimal(12,2)"))
    assert(eq.count() == src.filter(col("o_price_dec") === lit(v).cast("decimal(12,2)")).count())
  }

  test("a data file missing from the manifest disables the prune (no silent wrong results)") {
    // Soundness gate for out-of-band appends: zorderWrite's manifest
    // only knows the files IT wrote. If the directory later gains a file
    // (append/compaction), translated predicates must fall back to the
    // full listing — pruning by a manifest that never saw the file would
    // silently drop its rows.
    val dir = s"$root/stale"
    val src = tables.orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    ZOrder.zorderWrite(src.filter(col("o_orderkey") % 2 === 0), "o_custkey", "o_totalprice",
      dir, nFiles = 8)
    // out-of-band append: odd keys land in a file the manifest never saw
    src.filter(col("o_orderkey") % 2 === 1)
      .write.mode("append").parquet(dir)
    val pred = col("o_totalprice").between(100000.0, 150000.0)
    val viaIndex = graft.sources.ZOrderFileIndex.read(spark, dir, Seq("o_custkey", "o_totalprice"))
      .filter(pred)
    assert(viaIndex.count() == src.filter(pred).count(),
      "stale manifest must fall back to the unpruned listing, not drop appended rows")
    val planned = viaIndex.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head.selectedPartitions.totalNumberOfFiles
    val listed = spark.read.parquet(dir).inputFiles.length
    assert(planned == listed, s"expected no prune ($listed files), planned $planned")
  }

  test("morton interleave places bit i of x at 2i and of y at 2i+1") {
    import spark.implicits._
    val df = Seq((5L, 3L)).toDF("x", "y") // x=101, y=011 -> z = 011011 + x bit2 at 4 -> 0b011011=27? compute below
    val z = df.select(ZOrder.interleave(col("x"), col("y"))).head().getLong(0)
    // x bits: 1@0, 0@1, 1@2 -> z bits 1@0, 1@4; y bits: 1@0, 1@1 -> z bits 1@1, 1@3
    assert(z == ((1L << 0) | (1L << 4) | (1L << 1) | (1L << 3)))
  }
}
