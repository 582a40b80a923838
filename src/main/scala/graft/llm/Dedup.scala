package graft.llm

import graft.Tables
import graft.functions.NativeExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication over the `documents` table.
  *
  * Four tiers, all pure Spark SQL expressions (whole-stage codegen, no
  * UDFs) and all driver-loop-free:
  *
  *  - exact:    hash-groupBy on sha2(text) — one shuffle on the digest.
  *  - exact n-gram Jaccard: inverted-index join on shingles (candidate
  *    pairs share ≥1 shingle — never an all-pairs product). This is the
  *    ground-truth baseline the approximate tiers are verified against.
  *  - MinHash + banded LSH: 64 permutations, 16 bands × 4 rows. At 100 TB
  *    the only shuffle is on (band, bandHash) buckets; candidates are
  *    verified with exact Jaccard, so precision is 1 and recall is
  *    1-(1-s^4)^16 (≈1 for s ≥ 0.9).
  *  - SimHash: 64-bit signature over token hashes; banded into 16×4-bit
  *    chunks (pigeonhole: any pair within Hamming distance 15 shares a
  *    chunk). At larger scale use wider chunks with a lower distance
  *    bound to shrink buckets.
  *
  * All near-dup variants emit the same (doc_a, doc_b, jacc) schema with
  * jacc ≥ 0.8, so one DuckDB all-pairs oracle checks them all — the
  * approximate tiers must reach recall 1.0 on data whose true pairs sit
  * at J ≥ 0.9 (this corpus: 25 pairs at J ≥ 0.9, next at 0.07).
  */
object Dedup {

  // ------------------------------------------------------------ shingles
  /** Distinct word 3-gram shingles per doc; docs with <3 tokens get an
    * empty set. The token array is materialized as its own projection
    * FIRST: referencing an inline split(...) from inside the shingle
    * lambda makes Catalyst re-evaluate the regex split per element_at
    * (~170 splits per row — measured 8.7 s for 5k docs before this
    * restructure, <1 s after). CollapseProject keeps the split
    * un-inlined because it is non-cheap and multiply referenced. */
  private[llm] def shingleOf(w: Column): Column =
    when(size(w) >= 3,
      array_distinct(transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** documents spread to cluster parallelism: the corpus arrives as few
    * parquet splits at small scale (one 2 MB file = ONE partition = one
    * core), while every downstream stage here is compute-bound per row.
    * The 2 MB shuffle is free; the 32x parallelism is not. At 100 TB the
    * scan has thousands of natural splits and this coalesces to a no-op
    * (repartition to the same parallelism Spark already has).　*/
  private def docsSpread(t: Tables): DataFrame =
    t.documents.repartition(t.spark.sparkContext.defaultParallelism)

  /** SIZE-AWARE broadcast suppression (round 13, found by the DedupScale
    * lane): corpus-derived sides — digest sets, band streams, shingle
    * arrays — compress ~10× on the shuffle wire (repetitive text, small
    * ints), so AQE's compressed-bytes heuristic reads a sub-threshold
    * "small side" and converts the designed shuffle join into a runtime
    * broadcast; at the lane's 100× corpus that hash-built most of a GB
    * on the driver and died. Below [[BroadcastSafeCorpusBytes]] those
    * conversions are genuinely profitable (a 5 MB corpus's digests ARE a
    * cheap build side), so the merge pin engages only once the corpus
    * outgrows the regime where ANY corpus-derived side may broadcast —
    * the same storage-size-driven physical choice a per-table optimizer
    * makes, keyed off the parquet footer stats already in the plan. */
  private val BroadcastSafeCorpusBytes = BigInt(256L << 20)

  private def corpusIsBig(t: Tables): Boolean =
    t.documents.queryExecution.optimizedPlan.stats.sizeInBytes > BroadcastSafeCorpusBytes

  /** merge-pin `df` when the corpus is past the broadcast-safe regime. */
  private def noBcastAtScale(df: DataFrame, big: Boolean): DataFrame =
    if (big) df.hint("merge") else df

  /** NOTE the filter is on size(w), BEFORE shingling — the equivalent
    * post-hoc `filter(size(shingles) > 0)` gets predicate-pushed below
    * the projection, substituting the whole shingle expression (and then
    * the split) into the condition: the regex split re-evaluates per
    * element and the filter alone cost 7.6 s vs 0.6 s for the projection
    * at sf0.1. Token-count is the same predicate, one cheap split. */
  private def shingled(t: Tables): DataFrame =
    docsSpread(t)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), shingleOf(col("w")).as("shingles"))

  /** One (doc_id, shingle) row per shingle. The generator argument is the
    * INLINE expression: exploding a shingle attribute produced by a
    * separate (interpreted, HOFs have no codegen) projection re-evaluates
    * the array construction inside the generate loop — measured 16 s vs
    * 0.4 s at sf0.1 for the same output. */
  private def shingleRows(t: Tables): DataFrame =
    docsSpread(t)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), explode(shingleOf(col("w"))).as("s"))

  /** Exact pairwise Jaccard on two shingle-set columns. */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Shared DuckDB CTE chain computing the exact near-dup ground truth:
    * 3-gram shingles, inverted-index join (not an O(n²) scan), exact
    * Jaccard; `pairs` carries the intersection counts, `pj` the edges at
    * tau ≥ 0.8. The cluster oracles in Corpus compose on top of this ONE
    * definition — a shingle-size or tau change cannot silently leave a
    * cluster oracle verifying against a different edge set (round-17
    * review: this chain was pasted verbatim in three places). */
  private[llm] val neardupPairsCte: String =
    """toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
       ), sh AS (
         SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w)-1)]) AS shingles
         FROM toks WHERE len(w) >= 3
       ), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
       ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2
       ),
       pj AS (
         SELECT doc_a, doc_b
         FROM pairs
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
       )"""

  /** The common DuckDB ground-truth oracle: all pairs with 3-gram-shingle
    * Jaccard ≥ 0.8, with the exact similarity recomputed for the output. */
  private val neardupOracleSql: String =
    s"""WITH $neardupPairsCte
       SELECT doc_a, doc_b,
              round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jacc
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8"""

  // --------------------------------------------------------- exact dedup
  /** Exact duplicate groups: hash-groupBy on a 256-bit content digest —
    * the scalable form of GROUP BY text (the shuffle carries 32-byte
    * digests, not document bodies). The oracle groups by the text itself;
    * identical output absent sha2 collisions. */
  def dedupExact(t: Tables): DataFrame =
    t.documents
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
  val dedupExactSql: String =
    "SELECT min(doc_id) AS canonical_id, count(*) AS n_copies FROM documents GROUP BY text"

  /** Exact dedup keeping the BEST copy per content group (not the first):
    * canonical = highest distinct-token ratio, doc_id tie-break — the
    * policy real corpus builds use (keep the cleanest duplicate). One
    * shuffle on the digest + a window over the (tiny) duplicate groups. */
  def dedupKeepBest(t: Tables): DataFrame = {
    val w = col("w")
    val scored = t.documents
      .select(col("doc_id"), col("text"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), col("text"),
        (size(array_distinct(w)).cast("double") / size(w)).as("quality"))
    val rankW = Window.partitionBy(sha2(col("text"), 256))
      .orderBy(col("quality").desc, col("doc_id"))
    scored
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1)
      .select(col("doc_id"), round(col("quality"), 4).as("quality"))
  }
  val dedupKeepBestSql: String =
    """WITH scored AS (
         SELECT doc_id, text,
                len(list_distinct(string_split_regex(trim(text), '\s+'))) * 1.0
                  / len(string_split_regex(trim(text), '\s+')) AS quality
         FROM documents)
       SELECT doc_id, round(quality, 4) AS quality
       FROM (SELECT doc_id, quality,
               row_number() OVER (PARTITION BY text
                 ORDER BY quality DESC, doc_id) AS rn
             FROM scored) s
       WHERE rn = 1"""

  // --------------------------------------- exact n-gram Jaccard (ground)
  def neardupJaccard(t: Tables): DataFrame = {
    val sh = shingled(t)
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("n"))
    // Optimization round 19: materialize the exploded shingle stream
    // ONCE in the broadcast-safe (small-corpus) regime — the self-join
    // otherwise re-runs the split+shingle extraction for EACH side (the
    // withAnchors compute-once idiom). This is the intentionally-naive
    // ground-truth tier, so only the redundant extraction goes; the
    // quadratic pair enumeration it exists to exhibit stays (the scale
    // path is [[neardupJaccardPrefix]]). Past the broadcast-safe corpus
    // size the checkpoint is skipped — pinning a corpus-sized stream
    // into executor storage is the round-13 thrash the anchor pipeline
    // already rejected.
    val ex0 = shingleRows(t)
    val ex = if (corpusIsBig(t)) ex0 else ex0.localCheckpoint(true)
    val pairs = ex.as("a")
      .join(ex.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("j", col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter")))
      .filter(col("j") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jacc"))
  }

  /** Exact Jaccard with PREFIX FILTERING (SSJoin/PPJoin): order each
    * doc's shingles by ascending global frequency; for threshold τ, two
    * sets with J ≥ τ MUST share a shingle within their first
    * n−⌈τ·n⌉+1 shingles (if all prefix shingles differed, too few
    * common elements could remain). The inverted-index join then runs
    * only on the prefixes — the rarest ~20% of each doc's shingles — so
    * hot shingles never drive the candidate blowup. Same output as
    * [[neardupJaccard]], verified against the same oracle. */
  def neardupJaccardPrefix(t: Tables): DataFrame = {
    val tau = 0.8
    val ex = shingleRows(t)
    val freq = ex.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val ranked = ex.join(freq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("f"), col("s"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    val prefix = ranked.filter(col("rk") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select(col("doc_id"), col("s"))
    val cands = prefix.as("a")
      .join(prefix.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val shTbl = shingled(t)
    // size-aware pin like the minhash confirm: shingle arrays never
    // broadcast once the corpus is past the broadcast-safe regime.
    val big = corpusIsBig(t)
    cands
      .join(noBcastAtScale(
        shTbl.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), big), "doc_a")
      .join(noBcastAtScale(
        shTbl.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), big), "doc_b")
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jacc"))
  }

  // ------------------------------------------------------- MinHash + LSH
  private val NumPerm = 64
  private val Bands = 16
  private val Rows = NumPerm / Bands // 4

  /** 64-wide MinHash signature + 16-band bucket stream (doc_id, band,
    * bh), shared by the symmetric near-dup join and the incremental
    * delta-vs-base join. Signature via the native kernel (one compiled
    * k-by-n loop per row; the same logic as nested transform/array_min
    * HOFs evaluates interpreted and was 40x slower at sf0.1).
    * The repartition is an OPTIMIZATION BARRIER as much as a spread:
    * without it CollapseProject inlines graft_minhash into the band
    * generator's lambda, re-evaluating the 64-permutation signature per
    * BAND (16x per doc — measured 8.2 s vs 2.3 s warm at sf0.1). An
    * exchange of 5k (id, 512B sig) rows is noise; recomputing
    * signatures 16x at 100 TB is not.
    * Bucket key = (band index, hash of the band's 4-row slice) — only
    * same-bucket docs ever meet in a join. The banded stream carries
    * ONLY (doc_id, band, bh): exploding with the shingle array attached
    * would push 16 copies of every doc's array through the bucket
    * shuffle — at 100 TB that 16x's the exchange for data the join
    * never reads. */
  private def bandedSignatures(t: Tables, sh: DataFrame): DataFrame = {
    val sig = sh.select(col("doc_id"),
      call_function("graft_minhash", col("shingles")).as("sig"))
      .repartition(t.spark.sparkContext.defaultParallelism)
    sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)), j =>
        hash(slice(col("sig"), j * Rows + 1, lit(Rows)), j))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
  }

  def neardupMinhash(t: Tables): DataFrame = {
    NativeExprs.ensureRegistered(t.spark)
    val sh = shingled(t) // already token-filtered: no doc has empty shingles
    val bands = bandedSignatures(t, sh)
    val cands = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // Verify candidates with exact Jaccard -> precision 1; shingle sets
    // join in AFTER pair dedup, once per side; [[noBcastAtScale]] keeps
    // the corpus-sized shingle frames out of AQE's runtime broadcast
    // once the corpus outgrows the broadcast-safe regime.
    val big = corpusIsBig(t)
    cands
      .join(noBcastAtScale(
        sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), big), "doc_a")
      .join(noBcastAtScale(
        sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), big), "doc_b")
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jacc"))
  }

  // ------------------------------------------------------------- SimHash
  /** 64-bit SimHash over distinct token hashes, PACKED INTO ONE BIGINT:
    * bit k is set iff the signed sum of token-hash bit-k contributions is
    * positive. Candidates then carry two longs and Hamming distance is
    * bit_count(xor) — the coarse 4-bit buckets produce a multi-million
    * pair stream at scale, so per-pair work must be O(1), not O(64). */
  def neardupSimhash(t: Tables): DataFrame = {
    NativeExprs.ensureRegistered(t.spark)
    // 16 chunks x 4 bits: any pair at Hamming distance <= 15 shares a
    // chunk (pigeonhole). Token-SimHash over short word-soup docs is
    // noisy — measured true-pair distances reach hd=12 here — so the
    // guarantee must cover hd <= 15. On a
    // large real corpus (longer docs -> tighter signatures) use wider
    // chunks with a lower distance bound for far smaller buckets.
    //
    // BUCKET KEY: on a vocabulary-collapsed corpus the chunk buckets
    // alone DEGENERATE — nearly every pair shares a chunk value
    // (measured ~12.5M of 12.5M possible pairs at sf0.1), so the r13-r19
    // shape keyed candidates on (simhash chunk × MinHash band) — 256
    // rows per doc. Round 20 (guide §2.3 shuffle fewer bytes, §3):
    // the chunk half of that key adds NO selectivity to the final
    // candidate set — the post-join filter keeps hd ≤ 15 pairs only,
    // and hd ≤ 15 over 16 disjoint 4-bit chunks already IMPLIES a
    // shared chunk (pigeonhole: 16 all-differing chunks need ≥ 16
    // differing bits). So candidates key on the MinHash bands alone
    // (16 bands x 4 rows; P[band hit] = 1-(1-J^4)^16 ≈ 1 for J ≥ 0.8):
    // 16 exploded rows per doc instead of 256, 16× fewer bytes through
    // the self-join exchange, and ≤ 16 (not ≤ 256) duplicate emissions
    // per true pair into the dropDuplicates. The hd ≤ 15 filter runs
    // where the join-key chunk equality used to, on the same sig64
    // longs, so the surviving pair set is IDENTICAL (oracle-pinned).
    // This is also the neardup_minhash join shape, whose 100× lane leg
    // runs ~5× cheaper than this entry's did under the 256-row key.
    val base = docsSpread(t)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3) // cheap-predicate form; see shingled()
      .select(col("doc_id"), col("w"), shingleOf(col("w")).as("shingles"))
      .select(col("doc_id"),
        call_function("graft_simhash64", array_distinct(col("w"))).as("sig64"),
        call_function("graft_minhash", col("shingles")).as("mh"))
    val keyed = base.select(col("doc_id"), col("sig64"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)), b =>
        hash(slice(col("mh"), b * Rows + 1, lit(Rows)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val candIds = keyed.as("x")
      .join(keyed.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(expr("bit_count(x.sig64 ^ y.sig64) <= 15"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // Exact set-Jaccard verification on the (tiny) surviving stream.
    val shTbl = shingled(t)
    candIds
      .join(shTbl.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(shTbl.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("j") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jacc"))
  }

  // ----------------------------------------- embedding-cosine near-dup
  /** Embedding-cosine similarity pairs at a MID threshold (τ = 0.45) —
    * bucketed candidate generation + exact-cosine verify, never an
    * all-pairs product. Two independent deterministic candidate
    * families, unioned:
    *
    *  - IVF-list blocking: every vector joins the lists of its 5
    *    nearest coarse centroids ([[NativeExprs.IvfAssign]], a pure
    *    projection over a fixed-size TRAINED codebook literal
    *    ([[graft.llm.Ann.trainCodebook]]) — the broadcast model idiom,
    *    no join product in the plan). Candidates are pairs sharing a
    *    list. Lists scale as the codebook size k, so candidate volume
    *    is O(n·listSize) — linear in the corpus for fixed k-per-
    *    data-density, never O(n²).
    *  - sign-LSH banding (32 tables × 6 bits): hyperplane buckets patch
    *    IVF boundary misses with an independent hash family.
    *
    * Every candidate is verified with exact cosine, so precision is 1 by
    * construction; recall is parameter-governed (nAssign / tables /
    * bits). Both families are deterministic (deterministically trained
    * fixed-k codebook, fixed hyperplane seed), and on this corpus the
    * union reproduces the
    * exact all-pairs ground truth — each family ALONE reaches recall
    * 1.0 at the verification scale (measured) — so
    * the all-pairs DuckDB oracle stays hash-checkable while living only
    * on the oracle side. Dense mid-threshold similarity has no
    * subquadratic exact algorithm (the prefix-filter family needs
    * sparsity); this tiered union is the honest 100 TB contract: at true
    * near-dup thresholds (≥0.9) the same shape has provable recall (see
    * [[Ann.annSignLshNearDup]]); at τ = 0.45 recall is tuned, verified,
    * and exact-verified per candidate. */
  def neardupEmbedding(t: Tables): DataFrame = {
    val v = t.embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    neardupEmbeddingOver(t.spark, v, 0.45)
  }

  /** Core tiered pipeline over any (vec_id: long, e: array<double>)
    * frame — parameterized so tests can plant near-dups and assert
    * recall against an exact all-pairs check.
    *
    * `maxLshBucket` caps the sign-LSH family's bucket size (hot-bucket
    * guard): a bucket larger than the cap is dropped from the LSH tier,
    * bounding its candidate volume by tables·n·cap — LINEAR in the
    * corpus — instead of quadratic when a dense region collapses into
    * one bucket. Dense regions are exactly where the IVF lists (size-
    * bounded by the codebook: ~stride·nAssign per list) still generate
    * candidates, so the cap degrades recall gracefully rather than
    * abruptly; at the verification scales no bucket approaches the
    * default cap and the output is unchanged. */
  def neardupEmbeddingOver(spark: org.apache.spark.sql.SparkSession,
                           vecs: DataFrame, tau: Double,
                           maxLshBucket: Int = 256,
                           lshTables: Int = 32, lshBits: Int = 6,
                           withIvf: Boolean = true): DataFrame = {
    NativeExprs.ensureRegistered(spark)
    val v = vecs.withColumn("norm", sqrt(call_function("graft_vecdot", col("e"), col("e"))))
    // Family 1: IVF multi-assign lists (keys namespaced above 2^62 so
    // they can never collide with sign-LSH's (table<<32 | bucket) keys).
    // SCALE KNOB (round 14, measured in the DedupScale lane): the
    // fixed-16 codebook's lists grow LINEARLY with the corpus and the
    // per-list pair join quadratically — at the lane's 100× (500k
    // vectors, ~156k per list) the IVF tier alone would enumerate
    // ~10^10 pairs. The deployment's near-dup scale path disables the
    // IVF tier (withIvf=false) and scales the LSH bits with log2(N)
    // instead; the dense mid-threshold (τ≈0.45) oracle contract keeps
    // the union at its verification scale, where each family alone has
    // measured recall 1.0.
    val cents: Seq[Seq[Double]] =
      if (!withIvf) Nil
      else Ann
        // Coarse codebook: the Ann.trainCodebook fixed-k spherical
        // k-means model. The collect is bounded by the codebook size k
        // (16 rows) — a model artifact like any broadcast ML model —
        // NEVER the corpus: training is distributed (broadcast assign +
        // (c_id, dim) shuffle) and only the k trained centroids come
        // back to the driver to form the graft_ivf_assign literal.
        .trainCodebook(v.select(col("vec_id"), col("e"), col("norm")))
        .orderBy(col("c_id"))
        .select(col("ce")).collect().map(_.getSeq[Double](0)).toSeq
    val centsLit = typedlit(cents)
    val ivfKeys = v.select(col("vec_id"),
      explode(call_function("graft_ivf_assign", col("e"), centsLit, lit(5))).as("list_id"))
      .select(col("vec_id"), (lit(1L << 62) + col("list_id")).as("key"))
    // Family 2: sign-LSH buckets, hot buckets dropped (see maxLshBucket;
    // the size window shuffles on the same key the candidate join needs).
    val lshKeys = v.select(col("vec_id"),
      explode(call_function("graft_signlsh", col("e"), lit(lshTables), lit(lshBits))).as("key"))
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("key"))))
      .filter(col("bsz") <= maxLshBucket)
      .drop("bsz")
    val keys = if (withIvf) ivfKeys.unionByName(lshKeys) else lshKeys
    // Candidates share a bucket key — one equi-join shuffle on the key;
    // the stream carries only (vec_id, key), vectors join back after
    // pair dedup, once per side.
    val cands = keys.as("x")
      .join(keys.as("y"), col("x.key") === col("y.key") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    cands
      .join(v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("norm").as("na")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("norm").as("nb")), "vec_b")
      .withColumn("cos", call_function("graft_vecdot", col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }
  /** The embedding near-dup tier's 100 TB shape: sign-LSH only, with
    * the bit WIDTH scaled to the corpus — bits = ceil(log2(n /
    * targetBucket)) keeps expected bucket size constant as the corpus
    * grows, so candidate volume stays ~tables·n·bucket/2 (linear)
    * while a true near-dup pair (θ small) still collides in ≥1 of the
    * 16 tables with probability 1 − (1 − (1−θ/π)^bits)^16 — at the
    * lane's planted θ (cos ≈ 0.9994) the per-corpus expected miss count
    * stays below 1e-6 at every scale. The exact cosine verification
    * keeps precision 1 regardless. targetBucket = 2 keeps the verify
    * join's candidate stream (the dominant cost — each candidate drags
    * two 64-dim vectors through the join) at ~tables·n, strictly
    * linear; the first lane run at targetBucket = 6 / 32 tables paid a
    * 22M-candidate join-back at 100× and flagged super-linear off its
    * overhead-dominated 10× base. Measured in the DedupScale lane at
    * 1×/10×/100× with planted ground truth. */
  def neardupEmbeddingAtScale(spark: org.apache.spark.sql.SparkSession,
                              vecs: DataFrame, tau: Double, nVecs: Long,
                              targetBucket: Long = 2L): DataFrame = {
    val bits = math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, nVecs / math.max(1L, targetBucket)) - 1))
    neardupEmbeddingOver(spark, vecs, tau, lshBits = math.min(30, bits),
      lshTables = 16, withIvf = false)
  }

  /** Oracle-scale correctness pin of [[neardupEmbeddingAtScale]] (the
    * lane measures its scaling; this entry puts its RESULT in the
    * driver's DuckDB gate). Planted structure by the
    * [[Ann.annSignLshNearDup]] construction: every base vector gets a
    * +0.001-perturbed twin (cos ≈ 1 − 1e-7 against its base), τ = 0.99.
    * At that θ a pair misses all 16 tables with p < 1e-29 even at the
    * smallest bit width, so the LSH path's answer equals the oracle's
    * all-pairs scan exactly; any NATURAL base-pair at cos ≥ 0.99 sits
    * at θ ≤ 8.1° and is likewise recovered (miss < 1e-8). The corpus
    * row count that sizes the bits comes from count() — at deployment
    * scale the same number arrives from table statistics. */
  def neardupEmbeddingScale(t: Tables): DataFrame = {
    val base = t.embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    val pert = base.select((-(col("vec_id") + 1)).as("vec_id"),
      transform(col("e"), x => x + lit(0.001)).as("e"))
    neardupEmbeddingAtScale(t.spark, base.unionByName(pert), 0.99,
      2 * t.embeddings.count())
  }
  val neardupEmbeddingScaleSql: String =
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       pert AS (SELECT -(vec_id + 1) AS vec_id, list_transform(e, x -> x + 0.001) AS e FROM base),
       corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round(list_cosine_similarity(a.e, b.e), 4) AS cos
       FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.e, b.e) >= 0.99"""

  val neardupEmbeddingSql: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
       FROM embeddings a, embeddings b
       WHERE a.vec_id < b.vec_id
         AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45"""

  // -------------------------------------- incremental (delta-vs-base)
  /** Incremental corpus admission — the production dedup shape at 100 TB:
    * each new crawl (DELTA) is admitted against the existing training
    * corpus (BASE) without ever re-comparing base×base (re-deduping a
    * 100 TB corpus per crawl is the cost this op exists to avoid). Here
    * base = even doc_id, delta = odd — a deterministic split of
    * `documents` so the DuckDB oracle reproduces it exactly.
    *
    * A delta doc is REJECTED with reason `exact` when its 256-bit content
    * digest already exists in base (the semi-join shuffles 32-byte
    * digests, never text; on a shuffle join Spark's runtime bloom-filter
    * injection prunes the delta side before the exchange — the
    * ship-a-bloom-not-the-corpus pattern), else `near` when 3-gram
    * shingle Jaccard ≥ 0.8 with any base doc. Near candidates come from
    * the SAME 64-permutation / 16-band MinHash signature as
    * [[neardupMinhash]] — delta band buckets joined to base band buckets
    * ONLY (an operational pipeline keeps the base bucket stream
    * materialized between crawls, making a crawl's cost O(delta), not
    * O(corpus)) — and are confirmed with exact Jaccard, so precision
    * is 1. Evidence column `base_id` = the smallest matching base doc;
    * reason precedence exact > near. Admitted delta docs simply don't
    * appear (the verdict list is rejection-sized, not corpus-sized). */
  def dedupIncremental(t: Tables): DataFrame =
    dedupIncrementalSplit(t, col("doc_id") % 2 === 1, col("doc_id") % 2 === 0)

  /** The same delta-vs-base admission with the crawl split injected —
    * the scale lane (tools/DedupScale) uses a FIXED-size delta against a
    * base that grows with the corpus (the production asymmetry: crawls
    * stay crawl-sized while the corpus accretes), while the oracle entry
    * keeps the parity split DuckDB can reproduce. */
  private[graft] def dedupIncrementalSplit(t: Tables, isDelta: Column,
                                           isBase: Column): DataFrame = {
    NativeExprs.ensureRegistered(t.spark)
    val docs = docsSpread(t)
    // Past the broadcast-safe corpus size the digest join is PINNED to
    // sort-merge: the whole point of the exact layer is shuffling
    // 32-byte digests with a runtime bloom — never materializing either
    // crawl's digest set in one place. AQE would happily flip it to
    // broadcast when the compressed delta shuffle dips under the
    // threshold (hex digests compress ~2×), and at 100× the lane corpus
    // that runtime conversion built a corpus-sized hashed relation on
    // the driver and died — exactly the cliff a 100 TB base hits, found
    // by measuring (bench/SCALING_DEDUP.md).
    val big = corpusIsBig(t)
    val exact = noBcastAtScale(docs.filter(isDelta)
        .select(col("doc_id"), sha2(col("text"), 256).as("dg")), big)
      .join(docs.filter(isBase)
        .select(sha2(col("text"), 256).as("dg"), col("doc_id").as("b_id")), "dg")
      .groupBy(col("doc_id")).agg(min(col("b_id")).as("base_id"))
      .withColumn("reason", lit("exact"))
    val sh = shingled(t)
    val bands = bandedSignatures(t, sh)
    // Same pin for the delta×base band-bucket join: 16 band rows per
    // delta doc compress to almost nothing on the wire, so AQE's
    // runtime conversion sees a "small" side and hash-builds millions
    // of rows on the driver; the designed shape at scale is a
    // bucket-partitioned shuffle on (band, bh).
    val cands = noBcastAtScale(bands.filter(isDelta), big).as("x")
      .join(bands.filter(isBase).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("b_id"))
      .dropDuplicates("doc_id", "b_id")
    // And for the exact-Jaccard confirm join-backs: the shingle-array
    // frames are CORPUS-sized (kB-scale arrays per doc) yet their
    // repetitive word text compresses an order of magnitude on the
    // shuffle wire, so AQE's size-based conversion reads "10 MB" and
    // hash-builds the better part of a GB. Shingles never broadcast at
    // scale.
    val near = cands
      .join(noBcastAtScale(
        sh.select(col("doc_id"), col("shingles").as("sh_d")), big), "doc_id")
      .join(noBcastAtScale(
        sh.select(col("doc_id").as("b_id"), col("shingles").as("sh_b")), big), "b_id")
      .filter(jaccard(col("sh_d"), col("sh_b")) >= 0.8)
      .groupBy(col("doc_id")).agg(min(col("b_id")).as("base_id"))
      .withColumn("reason", lit("near"))
    // Precedence exact > near ('exact' sorts first); the window runs over
    // per-doc groups of at most two verdict rows.
    exact.unionByName(near)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("reason"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("reason"), col("base_id"))
  }
  val dedupIncrementalSql: String =
    """WITH ex AS (
         SELECT d.doc_id, min(b.doc_id) AS base_id, 'exact' AS reason
         FROM documents d JOIN documents b
           ON d.text = b.text AND d.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         GROUP BY d.doc_id),
       toks AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
       ), sh AS (
         SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w)-1)]) AS shingles
         FROM toks WHERE len(w) >= 3
       ), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
       exd AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       inter AS (
         SELECT a.doc_id AS doc_id, b.doc_id AS b_id, count(*) AS i
         FROM exd a JOIN exd b ON a.s = b.s
         WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         GROUP BY 1, 2),
       nr AS (
         SELECT i.doc_id, min(i.b_id) AS base_id, 'near' AS reason
         FROM inter i
         JOIN sizes sa ON sa.doc_id = i.doc_id
         JOIN sizes sb ON sb.doc_id = i.b_id
         WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.8
         GROUP BY i.doc_id),
       allr AS (SELECT * FROM ex UNION ALL SELECT * FROM nr)
       SELECT doc_id, reason, base_id
       FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                          ORDER BY reason) AS rk
             FROM allr) z
       WHERE rk = 1"""

  val all: Seq[(String, Tables => DataFrame, String)] = Seq(
    ("dedup_exact", dedupExact _, dedupExactSql),
    ("dedup_incremental", dedupIncremental _, dedupIncrementalSql),
    ("dedup_keep_best", dedupKeepBest _, dedupKeepBestSql),
    ("neardup_jaccard", neardupJaccard _, neardupOracleSql),
    ("neardup_jaccard_prefix", neardupJaccardPrefix _, neardupOracleSql),
    ("neardup_minhash", neardupMinhash _, neardupOracleSql),
    ("neardup_simhash", neardupSimhash _, neardupOracleSql),
    ("neardup_embedding", neardupEmbedding _, neardupEmbeddingSql),
    ("neardup_embedding_scale", neardupEmbeddingScale _, neardupEmbeddingScaleSql))
}
