package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Sessions

/** Scale lane for the geospatial operators (round 15) — the DedupScale
  * discipline applied to the spatial join: deterministic
  * planted-structure point clouds at 1×/10×/100×, where the timed
  * action IS a closed-form validation aggregate, so a wrong answer at
  * any scale fails the lane rather than timing beautifully.
  *
  * Corpus: n grid points with 8-unit spacing (side = ⌈√n⌉ columns), so
  * the domain GROWS with n and density stays constant — the join's
  * per-cell candidate load is scale-invariant, which is exactly the
  * 100 TB claim being tested (work linear in points, never all-pairs).
  * Every 10th point gets a twin offset by (2.1, 2.1): with radius 5,
  * spacing 8 keeps every non-twin pair ≥ 8−2·2.97 > 5 apart EXCEPT the
  * planted twins at exactly √(2·2.1²) = 2.9698…, so the join must
  * return exactly n/10 pairs, every one at that distance.
  *
  * A second probe times the scalar-kernel throughput: st_contains of
  * each point against a fixed 21-vertex polygon, whose accepted count
  * has a closed form from the grid geometry.
  *
  * Usage: runMain graft.tools.GeoScale [baseN]
  */
object GeoScale {

  private val Radius = 5.0
  private val Spacing = 8.0
  private val TwinOff = 2.1
  val TwinDist: Double = math.sqrt(2 * TwinOff * TwinOff)

  /** n base points + n/10 twins, deterministic from the index. */
  def cloud(spark: SparkSession, n: Long): DataFrame = {
    val side = math.ceil(math.sqrt(n.toDouble)).toLong
    // Spark's `/` on longs is DOUBLE division — the row index needs floor
    val base = spark.range(n).select(
      col("id"),
      (col("id") % side).cast("double") * Spacing,
      floor(col("id") / side).cast("double") * Spacing)
      .toDF("id", "x", "y")
    val twins = spark.range(0, n, 10).select(
      (col("id") + n).as("id"),
      ((col("id") % side).cast("double") * Spacing + TwinOff).as("x"),
      (floor(col("id") / side).cast("double") * Spacing + TwinOff).as("y"))
    base.union(twins)
  }

  def run(spark: SparkSession, baseN: Long,
      scales: Seq[Long] = Seq(1L, 10L, 100L)): LaneDiscipline.LaneResult[Seq[String]] = {
    // The closed forms assume exactly n/10 twins (spark.range(0, n, 10)
    // has ceil(n/10) elements) and ≥13 grid columns for the contains
    // cut — reject configurations where a CORRECT run would fail
    // validation instead of emitting confusing lane failures.
    require(baseN % 10 == 0 && baseN >= 1000,
      s"GeoScale baseN must be a multiple of 10 and >= 1000 (got $baseN): " +
      "the planted-pair and contains closed forms assume it")
    // untimed warmup of BOTH probe pipelines: codegen + join machinery
    // JIT, else the 1× legs carry ~4 s of first-query cost and the
    // decade ratios read <1
    graft.queries.Geo.distanceJoinPoints(cloud(spark, baseN), Radius)
      .agg(count(lit(1))).head()
    cloud(spark, baseN)
      .filter(call_function("st_contains",
        call_function("st_geometryfromtext",
          lit("POLYGON ((0 -1, 50 -1, 50 50, 0 50, 0 -1))")),
        call_function("st_point", col("x"), col("y"))))
      .count()
    cloud(spark, baseN)
      .filter(call_function("st_relate",
        call_function("st_geometryfromtext",
          lit("POLYGON ((0 -1, 50 -1, 50 50, 0 50, 0 -1))")),
        call_function("st_point", col("x"), col("y")), lit("T*****FF*")))
      .count()
    spark.range(100).select((col("id") % 2).as("g"),
      call_function("st_geometryfromtext", concat(
        lit("POLYGON (("), col("id") * 2, lit(" 0, "), col("id") * 2 + 3,
        lit(" 0, "), col("id") * 2 + 3, lit(" 2, "), col("id") * 2,
        lit(" 2, "), col("id") * 2, lit(" 0))"))).as("t"))
      .groupBy(col("g"))
      .agg(call_function("st_area", call_function("geometry_union_agg", col("t"))))
      .head()
    def joinProbe(n: Long): Seq[String] = {
      val r = graft.queries.Geo.distanceJoinPoints(cloud(spark, n), Radius)
        .agg(count(lit(1)), min(col("dist")), max(col("dist"))).head()
      val bad = Seq.newBuilder[String]
      if (r.getLong(0) != n / 10)
        bad += s"join@x${n / baseN}: pairs ${r.getLong(0)} want ${n / 10}"
      if (math.abs(r.getDouble(1) - TwinDist) > 1e-9 ||
          math.abs(r.getDouble(2) - TwinDist) > 1e-9)
        bad += s"join@x${n / baseN}: dist range [${r.getDouble(1)}, ${r.getDouble(2)}] " +
          s"want $TwinDist"
      bad.result()
    }
    // Scalar-kernel throughput: points inside x < cut (as a convex
    // polygon contains test, exercising the WKT parse once per call
    // site and the PIP kernel per row). Base points with x = (id %
    // side)·8 < cut ⇔ id % side ≤ ⌊(cut−ε)/8⌋; twins shift by 2.1.
    val cut = 100.0
    val polyWkt = s"POLYGON ((0 -1, $cut -1, $cut 1000000, 0 1000000, 0 -1))"
    def pipProbe(n: Long): Seq[String] = {
      val side = math.ceil(math.sqrt(n.toDouble)).toLong
      val got = cloud(spark, n)
        .filter(call_function("st_contains",
          call_function("st_geometryfromtext", lit(polyWkt)),
          call_function("st_point", col("x"), col("y"))))
        .count()
      // strict interior: base x in (0, cut) ⇔ 1 ≤ id%side ≤ 12
      // (x = 8·k < 100, k ≥ 1); twins at 8·k + 2.1 < 100 ⇔ k ≤ 12,
      // incl. k = 0 (x = 2.1 interior)
      def baseRows(colMax: Long): Long = {
        val full = n / side
        val rem = n % side
        (1L to colMax).map(k => full + (if (k < rem) 1L else 0L)).sum
      }
      def twinRows(colMax: Long): Long = {
        // twin hosts: every 10th id; host column k = id % side
        (0L until n by 10).count(id => id % side <= colMax)
      }
      val want = baseRows(12) + twinRows(12)
      if (got != want) Seq(s"contains@x${n / baseN}: got $got want $want") else Nil
    }
    // DE-9IM kernel throughput (round 16): the same grid closed forms
    // through the relate matrix — st_relate with the contains pattern
    // (T*****FF*) must count exactly what the contains leg counts, and
    // st_touches counts exactly the k = 0 column sitting ON the
    // polygon's left edge (twins at 8k + 2.1 never hit a boundary, and
    // the y-range [-1, 1e6] swallows every grid row).
    def relProbe(n: Long): Seq[String] = {
      val side = math.ceil(math.sqrt(n.toDouble)).toLong
      val poly = call_function("st_geometryfromtext", lit(polyWkt))
      val pt = call_function("st_point", col("x"), col("y"))
      val r = cloud(spark, n).agg(
        count(when(call_function("st_relate", poly, pt, lit("T*****FF*")), 1)),
        count(when(call_function("st_touches", poly, pt), 1))).head()
      def colCount(k: Long): Long = n / side + (if (k < n % side) 1L else 0L)
      val wantIn = (1L to 12L).map(colCount).sum +
        (0L until n by 10).count(id => id % side <= 12)
      val wantTouch = colCount(0)
      val bad = Seq.newBuilder[String]
      if (r.getLong(0) != wantIn)
        bad += s"relate@x${n / baseN}: contains-pattern ${r.getLong(0)} want $wantIn"
      if (r.getLong(1) != wantTouch)
        bad += s"relate@x${n / baseN}: touches ${r.getLong(1)} want $wantTouch"
      bad.result()
    }
    // Constructive-aggregate throughput (round 17): geometry_union_agg
    // over overlapping tile chains — 50 tiles [2i, 2i+3]×[0, 2] per
    // group, group count scaling with n, so per-group state stays
    // bounded while total work grows linearly (the 100 TB claim for a
    // union aggregate: map-side partials tree-compact, never a
    // quadratic re-noding of the accumulation). The timed action is
    // the validating aggregate: every group's union must collapse to
    // the single slab whose area is the exact integer closed form
    // 2·(2·max_i + 3). Sized at n/10 — the per-row cost is a full
    // overlay union, ~50× a PIP probe.
    def uaProbe(nDisp: Long): Seq[String] = {
      val n = nDisp / 10
      val s = nDisp / baseN
      val groups = math.max(1L, n / 50)
      val i = floor(col("id") / groups).cast("long")
      val tiles = spark.range(n).select(
        (col("id") % groups).as("g"),
        call_function("st_geometryfromtext", concat(
          lit("POLYGON (("), i * 2, lit(" 0, "), i * 2 + 3, lit(" 0, "),
          i * 2 + 3, lit(" 2, "), i * 2, lit(" 2, "), i * 2, lit(" 0))")))
          .as("t"))
      val r = tiles.groupBy(col("g"))
        .agg(call_function("st_area",
          call_function("geometry_union_agg", col("t"))).as("a"))
        .agg(sum(col("a")), count(lit(1))).head()
      val want = (0L until groups).map(gi => 2.0 * (2 * ((n - 1 - gi) / groups) + 3)).sum
      val bad = Seq.newBuilder[String]
      if (r.getLong(1) != groups)
        bad += s"union_agg@x$s: groups ${r.getLong(1)} want $groups"
      if (math.abs(r.getDouble(0) - want) > 1e-6)
        bad += s"union_agg@x$s: slab-area sum ${r.getDouble(0)} want $want"
      bad.result()
    }
    // no budget: the geo lane is cheap at every scale it runs
    LaneDiscipline.run(spark, LaneDiscipline.Lane("geo", "bench/geo_scale.json", scales,
      Map.empty[Long, Int].withDefaultValue(1), Double.MaxValue, Seq(
        LaneDiscipline.probe("geo_distance_join")(s => joinProbe(baseN * s)),
        LaneDiscipline.probe("geo_contains_scan")(s => pipProbe(baseN * s)),
        LaneDiscipline.probe("geo_relate_scan")(s => relProbe(baseN * s)),
        LaneDiscipline.probe("geo_union_agg")(s => uaProbe(baseN * s)))))
  }

  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toLong).getOrElse(20000L)
    val spark = Sessions.builder(master = "local[32]", appName = "graft-geo-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, baseN)
    LaneDiscipline.printReport(r)
    spark.stop()
    if (r.validationFailures.nonEmpty) sys.exit(1)
  }
}
