package graft.tools

import graft.{Sessions, Tables}
import graft.llm.Ann
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN scale-evidence harness — the embedding tier's analogue of the
  * TPC-H generator lane and tools/StreamScale: MEASURE the IVF claims
  * (bounded probes, constant-size codebook training) against brute
  * force at 1×/10×/100× the sf0.1 embeddings volume (2k → 200k
  * vectors), and CHECK that recall@5 vs the exact answer holds as the
  * corpus grows — a probe fraction that was enough at 2k vectors is a
  * claim, not a given, at 200k.
  *
  * The synthetic corpus mirrors the real `embeddings` table (vec_id,
  * 64-float embedding, int label) with planted cluster structure: each
  * vector = one of 32 hash-chosen centers + per-coordinate noise, so
  * IVF's k-means codebook has real structure to find (uniform noise
  * would make every list a random slice and measure nothing but
  * throughput). All values derive from hash(vec_id) — deterministic,
  * cached under target/ann_scale/.
  *
  * Recall is computed exactly: both entries' (q_id, neighbor_id) top-5
  * sets are NQueries×K rows, collected and intersected.
  */
object AnnScale {

  private val BaseVecs = 2000L // sf0.1 embeddings volume
  private val Dims = 64
  private val Centers = 32

  private def genEmbeddings(spark: SparkSession, n: Long, dir: java.io.File): Unit = {
    val f = new java.io.File(dir, "embeddings.parquet")
    if (f.exists()) return
    dir.mkdirs()
    val df = spark.range(BaseVecs * n).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(0, ${Dims - 1}), i -> cast(
                 pmod(hash(pmod(hash(id), $Centers), i), 1000) / 500.0 - 1.0
                   + pmod(hash(id, i + 100), 200) / 1000.0 - 0.1 AS float))""")
        .as("embedding"),
      pmod(hash(col("id"), lit(5)), lit(10)).cast("int").as("label"))
    df.write.mode("overwrite").parquet(f.getPath)
  }

  private def topk(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder(master = "local[32]", appName = "graft-ann-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val scales = Seq(1L, 10L, 100L)
    val tables = scales.map { n =>
      val d = new java.io.File(s"target/ann_scale/x$n")
      genEmbeddings(spark, n, d)
      n -> Tables(spark, d.getPath)
    }.toMap
    // The production ANN workload scales QUERIES with the corpus
    // (index-everything: every new vector queries the index), and
    // production IVF sizes the codebook with the corpus (~sqrt N lists,
    // FAISS guidance), probing a fixed fraction of them. The 1x row keeps
    // the registered entries' exact sizing (16 lists, probe 6, 20 queries).
    def queries(n: Long) = 20L * n
    def lists(n: Long) = math.max(16, math.min(128, math.sqrt((BaseVecs * n).toDouble).toInt))
    // Probe count stays FIXED as lists grow (the FAISS pattern: nprobe
    // grows much slower than nlist), so the probed fraction — and with
    // it the candidate volume per query — SHRINKS with corpus size:
    // 6·3/44 = 41% at 1x, 6·3/128 = 14% at 10x/100x.
    val nProbe = 6
    // Each leg's answer is its top-5 set; recall is scored on the KEPT
    // rep's answers, so the recall printed for a time is that run's.
    def leg(name: String, fn: (Tables, Long) => DataFrame) =
      LaneDiscipline.Leg[Set[(Long, Long)]](name, n => topk(fn(tables(n), n)), (_, _) => Nil)
    val r = LaneDiscipline.run(spark, LaneDiscipline.Lane("ann", "bench/ann_scale.json", scales,
      Map(100L -> 1).withDefaultValue(2), Double.MaxValue, Seq(
        leg("ann_brute", (t, n) => Ann.annBruteforce(t, queries(n))),
        leg("ann_ivf", (t, n) => Ann.annIvf(t, nProbe, queries(n), lists(n))))))
    println("| scale | vectors | queries | lists/probe | brute top-5 (s) | IVF top-5 (s) | IVF recall@5 vs brute |")
    println("|---|---|---|---|---|---|---|")
    for ((n, i) <- scales.zipWithIndex) {
      val Seq(b, v) = r.entries.map(_.times(i))
      val exact = r.answers.getOrElse(s"ann_brute@${n}x", Set.empty)
      val recall = (exact & r.answers.getOrElse(s"ann_ivf@${n}x", Set.empty)).size.toDouble / exact.size
      println(f"| ${n}x | ${BaseVecs * n} | ${queries(n)} | ${lists(n)}/$nProbe | $b%.2f | $v%.2f | $recall%.3f |")
    }
    LaneDiscipline.printReport(r)
    spark.stop()
  }
}
