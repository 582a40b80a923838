package graft.llm

import graft.Tables
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators: the stages between "scored documents"
  * and "training shards" of a large-scale LLM data pipeline —
  * duplicate-cluster resolution, deterministic downsampling, context
  * packing, chunking, and corpus-level term statistics.
  *
  * Everything here is declarative Spark (codegen'd expressions, no UDFs)
  * except the connected-components fixpoint, which is inherently
  * iterative: that loop is data-parallel per iteration and converges in
  * O(cluster diameter) rounds — near-dup clusters are shallow (duplicate
  * families, not social graphs), so 3-5 rounds in practice.
  */
object Corpus {

  private def toks = split(trim(col("text")), "\\s+")

  /** documents spread to cluster parallelism — the small-SF corpus is one
    * parquet file = ONE scan partition, and the explode-heavy operators
    * below are compute-bound per row (see Dedup.docsSpread). */
  private def spread(t: Tables): DataFrame =
    t.documents.repartition(t.spark.sparkContext.defaultParallelism)

  // ----------------------------------------- duplicate-cluster resolution
  /** Connected components over the verified near-dup pair graph
    * (MinHash+LSH candidates, exact-Jaccard verified at τ=0.8 — see
    * [[Dedup.neardupMinhash]]), via hash-min label propagation: every
    * node starts as its own component; each round every node takes the
    * min label among itself and its neighbors; fixpoint = components.
    *
    * This is THE missing step between pair finding and actual dedup: a
    * doc pair list doesn't say which docs to drop — transitive groups do
    * (keep one canonical doc per component).
    *
    * Scale notes (100 TB): each round is one equi-join + one groupBy on
    * the edge list — no driver-side data, only a converged? count. The
    * lineage is cut per round with localCheckpoint, or the plan doubles
    * every iteration. Rounds needed = graph diameter; for adversarial
    * long-chain graphs switch to the large-star/small-star algorithm
    * (alternating min-propagation that halves path lengths, O(log d)
    * rounds) — same join shape, different edge rewrite.
    */
  def dedupClusterCC(t: Tables): DataFrame = {
    val sc = t.spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    // Materialize the pair list ONCE before mirroring it: the union's two
    // branches would otherwise each re-run the whole MinHash pipeline.
    val pairs = Dedup.neardupMinhash(t).select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .localCheckpoint(true)
    // Init already folds one propagation round in (comp = min(self, direct
    // neighbors)): the first round always relabels every non-singleton
    // node, so starting from the identity labeling would spend a full
    // join + convergence check discovering that.
    var comp = edges
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("m"))
      .select(col("id"), least(col("id"), col("m")).as("comp"))
      .localCheckpoint(true)
    var converged = false
    var round = 0
    while (!converged && round < 20) {
      val nbrMin = edges
        .join(comp.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("nbr_min"))
      // The moved flag rides along into the checkpoint so convergence is a
      // filter-count on already-materialized rows, not a second join pass.
      val next = comp.as("o")
        .join(nbrMin.as("n"), col("o.id") === col("n.id"), "left")
        .select(col("o.id").as("id"),
          least(col("o.comp"), coalesce(col("n.nbr_min"), col("o.comp"))).as("comp"),
          (coalesce(col("n.nbr_min"), col("o.comp")) < col("o.comp")).as("moved"))
        .localCheckpoint(true)
      val changed = next.filter(col("moved")).count()
      comp = next.drop("moved")
      converged = changed == 0
      round += 1
    }
    // hash-min propagates one hop per round, so a component of diameter
    // > 20 (boilerplate families chained by overlapping shingles) would
    // exit the loop with NON-minimal labels — a silent wrong answer.
    // Escalate to the O(log d) large-star/small-star variant, which
    // converges on any diameter (round-17 review; previously the cap
    // returned the unconverged labeling unmarked).
    if (!converged) comp = connectedComponentsStar(pairs)._1
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_n"))
    val result = comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("component"), col("cluster_n"))
      .localCheckpoint(true)
    releaseLoopCheckpoints(sc, persistedBefore)
    result
  }

  /** Release a query's intermediate loop checkpoints: each round parks one
    * cached block set in the block manager, and in a long batch session
    * (Bench runs 140+ queries in one JVM) that residue degrades later
    * queries. The result's own checkpoint — the newest persisted RDD —
    * stays; nothing persisted by other queries is touched (ids
    * snapshotted on entry).
    */
  private def releaseLoopCheckpoints(sc: org.apache.spark.SparkContext,
                                     persistedBefore: scala.collection.Set[Int]): Unit = {
    val persistedNow = sc.getPersistentRDDs
    val created = persistedNow.keySet -- persistedBefore
    if (created.nonEmpty) {
      val keep = created.max // result checkpoint: created last
      created.filter(_ != keep).foreach(id =>
        persistedNow.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  /** Alternating large-star / small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14): same
    * labeling semantics as the hash-min loop in [[dedupClusterCC]], but
    * path lengths halve every round, so convergence is O(log diameter)
    * rounds instead of O(diameter) — the variant to reach for when
    * near-dup chains are adversarially long (boilerplate families,
    * templated pages chained by overlapping shingles).
    *
    * The edge list is kept directed high→low (`a > b`). One round is two
    * passes, each a single join + groupBy over the edges — nothing ever
    * needs the graph centralized:
    *  - large-star: every neighbor v > u is re-attached to u's minimum
    *    neighbor (over the symmetric view);
    *  - small-star: every neighbor v < u, and u itself, is attached to
    *    u's overall minimum.
    * At the fixpoint the edge list IS the labeling: every non-root node
    * carries exactly one edge to its component's minimum id. Convergence
    * is detected by a (count, xor-of-hashes) set signature — two scans,
    * no driver-side edge materialization (bit_xor, unlike sum, cannot
    * overflow under ANSI mode).
    *
    * Returns (labels `(id, comp)`, rounds run).
    */
  private[graft] def connectedComponentsStar(pairs: DataFrame): (DataFrame, Int) = {
    var edges = pairs.toDF("pa", "pb")
      .select(greatest(col("pa"), col("pb")).as("a"), least(col("pa"), col("pb")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var curSig = signature(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 30) {
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val largeMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(largeMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      val smallMin = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val withM = ls.join(smallMin, "a")
      val ss = withM.select(col("b").as("x"), col("m"))
        .union(smallMin.select(col("a").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("a"), col("m").as("b"))
        .distinct()
        .localCheckpoint(true)
      val nextSig = signature(ss)
      converged = nextSig == curSig
      curSig = nextSig
      edges = ss
      rounds += 1
    }
    val comp = edges.select(col("a").as("id"), col("b").as("comp"))
      .union(edges.select(col("b").as("id"), col("b").as("comp")))
      .distinct()
    (comp, rounds)
  }

  /** [[dedupClusterCC]]'s output computed by [[connectedComponentsStar]]:
    * identical (doc_id, component, cluster_n) contract and oracle, O(log
    * diameter) rounds. */
  def dedupClusterCCStar(t: Tables): DataFrame = {
    val sc = t.spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val pairs = Dedup.neardupMinhash(t).select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    val (comp, _) = connectedComponentsStar(pairs)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_n"))
    val result = comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("component"), col("cluster_n"))
      .localCheckpoint(true)
    releaseLoopCheckpoints(sc, persistedBefore)
    result
  }

  /** DuckDB ground truth: transitive closure by recursive CTE over the
    * same exact-Jaccard ≥ 0.8 edges; component = min reachable id. */
  val dedupClusterCCSql: String =
    s"""WITH RECURSIVE ${Dedup.neardupPairsCte},
       edges AS (SELECT doc_a AS a, doc_b AS b FROM pj
                 UNION SELECT doc_b, doc_a FROM pj),
       reach AS (
         SELECT DISTINCT a AS id, a AS r FROM edges
         UNION
         SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r
       ),
       comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       cs AS (SELECT component, count(*) AS cluster_n FROM comp GROUP BY component)
       SELECT c.id AS doc_id, c.component, cs.cluster_n
       FROM comp c JOIN cs ON cs.component = c.component"""

  /** Canonical-doc selection per near-dup CLUSTER: composes the CC
    * labeling with the keep-best policy (highest distinct-token ratio,
    * id tie-break) — the final "which copy survives" decision of a dedup
    * pipeline, made per transitive group rather than per pair. */
  def dedupClusterKeepBest(t: Tables): DataFrame = {
    val scored = t.documents
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"),
        (size(array_distinct(col("w"))).cast("double") / size(col("w"))).as("quality"))
    dedupClusterCC(t).join(scored, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("component")).orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("canonical_id"),
        round(col("quality"), 4).as("quality"), col("cluster_n"))
  }
  val dedupClusterKeepBestSql: String =
    s"""WITH RECURSIVE ${Dedup.neardupPairsCte},
       edges AS (SELECT doc_a AS a, doc_b AS b FROM pj
                 UNION SELECT doc_b, doc_a FROM pj),
       reach AS (
         SELECT DISTINCT a AS id, a AS r FROM edges
         UNION
         SELECT reach.id, e.b AS r FROM reach JOIN edges e ON e.a = reach.r
       ),
       comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       cs AS (SELECT component, count(*) AS cluster_n FROM comp GROUP BY component),
       q AS (SELECT doc_id, len(list_distinct(w)) * 1.0 / len(w) AS quality FROM toks)
       SELECT component, doc_id AS canonical_id, round(quality, 4) AS quality, cluster_n
       FROM (SELECT c.id AS doc_id, c.component, cs.cluster_n, q.quality,
               row_number() OVER (PARTITION BY c.component
                                  ORDER BY q.quality DESC, c.id) AS rk
             FROM comp c
             JOIN cs ON cs.component = c.component
             JOIN q ON q.doc_id = c.id) s
       WHERE rk = 1"""

  // -------------------------------------------------- deterministic sample
  /** Stratified downsampling with a DETERMINISTIC content hash — the
    * corpus-mixing stage (e.g. upsample wiki, downsample crawl). Every
    * doc maps to one of 256 buckets via its md5 prefix; a per-source
    * threshold keeps bucket < thr of 256 (thr/256 = the source's mix
    * rate). Content-hash bucketing (not rand()) makes the sample
    * reproducible across runs/engines and consistent for identical texts.
    *
    * Scale: pure narrow projection + filter — runs at scan speed, no
    * shuffle, and the filter prunes before any downstream stage. */
  def sampleStratified(t: Tables): DataFrame = {
    val hex = "0123456789abcdef"
    val b1 = expr(s"instr('$hex', substr(md5(text), 1, 1)) - 1")
    val b2 = expr(s"instr('$hex', substr(md5(text), 2, 1)) - 1")
    val thr = expr("""CASE CAST(substr(source, 4) AS INT) % 4
                        WHEN 0 THEN 256 WHEN 1 THEN 128
                        WHEN 2 THEN 64 ELSE 32 END""")
    t.documents
      .withColumn("bucket", (b1 * 16 + b2).cast("bigint"))
      .filter(col("bucket") < thr)
      .select(col("doc_id"), col("source"), col("bucket"))
  }
  val sampleStratifiedSql: String =
    """WITH b AS (
         SELECT doc_id, source,
                CAST((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                     + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1 AS BIGINT) AS bucket
         FROM documents)
       SELECT doc_id, source, bucket FROM b
       WHERE bucket < CASE CAST(substr(source, 4) AS INT) % 4
                        WHEN 0 THEN 256 WHEN 1 THEN 128
                        WHEN 2 THEN 64 ELSE 32 END"""

  /** Fixed-size per-stratum sample (5 docs per source), ranked by content
    * hash — the deterministic equivalent of per-group reservoir sampling:
    * md5 order is uniform-pseudorandom yet reproducible across runs and
    * engines (a true reservoir's output depends on encounter order).
    * One shuffle on source; rank window per stratum has no hot keys. */
  def sampleReservoir(t: Tables): DataFrame =
    t.documents
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(md5(col("text")), col("doc_id"))).cast("bigint"))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("doc_id"))
  val sampleReservoirSql: String =
    """SELECT source, rk, doc_id FROM (
         SELECT source, doc_id,
                row_number() OVER (PARTITION BY source
                                   ORDER BY md5(text), doc_id) AS rk
         FROM documents) s
       WHERE rk <= 5"""

  // ------------------------------------------------------ context packing
  /** Packing core over any (source, doc_id, n_tok) relation — separated
    * so properties (token conservation, overflow spill, bin contiguity)
    * are checkable on arbitrary generated corpora, not just the fixture. */
  private[graft] def packBins(docs: DataFrame, ctx: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / lit(ctx.toDouble)))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"))
      .select(col("source"), col("bin"), col("n_docs"), col("bin_tokens"))
  }

  /** Greedy sequential packing of documents into fixed-token contexts
    * (CTX=2048): docs are laid end-to-end in doc_id order and a doc
    * starts in bin ⌊cum_before/CTX⌋ — the first-come packing used to
    * build training batches. The running sum is windowed PER SOURCE
    * (= per shard): a single global ordering would serialize the scan at
    * 100 TB, while per-shard packing is embarrassingly parallel and is
    * what production packers do (pack within each input shard). */
  def packSequences(t: Tables): DataFrame =
    packBins(t.documents.select(col("source"), col("doc_id"), size(toks).as("n_tok")), 2048)
  val packSequencesSql: String =
    """WITH s AS (
         SELECT source, doc_id,
                len(string_split_regex(trim(text), '\s+')) AS n_tok FROM documents
       ), c AS (
         SELECT source, doc_id, n_tok,
                sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         FROM s)
       SELECT source, CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin,
              count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
       FROM c GROUP BY 1, 2"""

  // ----------------------------------------------------- sliding chunking
  /** Sliding-window chunking (64-token chunks, stride 32) — the
    * doc→context-window explosion for embedding/retrieval pipelines.
    * Emits (chunk_id, length, head token) per window; the generator input
    * is the INLINE sequence expression (an attribute from a separate
    * projection would re-evaluate its producer per generated row — see
    * Dedup.shingleRows). Narrow op: one generate, no shuffle. */
  def docChunkSliding(t: Tables): DataFrame =
    spread(t)
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(32))).as("s"))
      .select(col("doc_id"),
        (col("s") / 32).cast("bigint").as("chunk_id"),
        least(lit(64), size(col("w")) - col("s")).cast("bigint").as("n_tok"),
        element_at(col("w"), col("s") + 1).as("head_tok"))
  val docChunkSlidingSql: String =
    """WITH s AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
       ), st AS (
         SELECT doc_id, len(w) AS n, w, unnest(range(0, len(w), 32)) AS strt FROM s)
       SELECT doc_id, CAST(floor(strt / 32.0) AS BIGINT) AS chunk_id,
              CAST(least(64, n - strt) AS BIGINT) AS n_tok,
              w[strt + 1] AS head_tok
       FROM st"""

  // ----------------------------------------------- end-to-end shard build
  /** The capstone composition a training-data pipeline ships nightly:
    * quality filter → exact dedup (keep min id) → deterministic 50%
    * stratified sample → 2048-token context packing per source →
    * Hive-partitioned shard write → per-source shard stats read back
    * from the materialized output (so the digest verifies the WRITTEN
    * data, not the plan). One declarative plan plus one partitioned
    * write; every stage is an operator proven green on its own above. */
  def shardBuild(t: Tables): DataFrame = {
    val b1 = expr("instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1")
    val b2 = expr("instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1")
    val kept = t.documents.filter(length(col("text")) >= 50 &&
      size(array_distinct(toks)).cast("double") / size(toks) >= 0.2)
    val deduped = kept
      .withColumn("rn", row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val sampled = deduped.filter((b1 * 16 + b2) < 128)
    val packed = sampled
      .select(col("source"), col("doc_id"), size(toks).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / 2048.0))
      .select(col("source"), col("doc_id"), col("n_tok"), col("bin"))
    val dir = "/root/repo/target/corpus/shards"
    packed.write.mode("overwrite").partitionBy("source").parquet(dir)
    t.spark.read.parquet(dir)
      .groupBy(col("source"))
      .agg(countDistinct(col("bin")).as("n_bins"), count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"))
  }
  val shardBuildSql: String =
    """WITH kept AS (
         SELECT * FROM documents
         WHERE length(text) >= 50
           AND len(list_distinct(string_split_regex(trim(text), '\s+'))) * 1.0
               / len(string_split_regex(trim(text), '\s+')) >= 0.2
       ), ded AS (
         SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY text
                          ORDER BY doc_id) AS rn FROM kept) s WHERE rn = 1
       ), samp AS (
         SELECT * FROM ded
         WHERE (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
               + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1 < 128
       ), pk AS (
         SELECT source, doc_id,
                len(string_split_regex(trim(text), '\s+')) AS n_tok,
                sum(len(string_split_regex(trim(text), '\s+'))) OVER (
                  PARTITION BY source ORDER BY doc_id) AS cum
         FROM samp)
       SELECT source,
              count(DISTINCT CAST(floor((cum - n_tok) / 2048.0) AS BIGINT)) AS n_bins,
              count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       FROM pk GROUP BY 1"""

  // -------------------------------------------------------------- TF-IDF
  /** Top-3 TF-IDF terms per document (smooth idf = ln((1+N)/(1+df))+1,
    * sklearn convention). Scores are floor-quantized to 1e-4 BEFORE
    * ranking so the order is identical across engines (ties then break
    * on the term itself). The doc count joins in as a broadcast single
    * row; tf and df are two shuffles on (doc, term) / term.
    *
    * Scale: df for hot terms is a skewed groupBy — partial aggregation
    * absorbs it map-side; the per-doc rank window partitions by doc_id
    * (no hot keys). */
  def tfidfTopTerms(t: Tables): DataFrame = {
    // tf feeds BOTH the df aggregation and the score join; without a
    // materialization Spark recomputes the whole tokenize+groupBy
    // subtree for each consumer — ReuseExchange cannot dedupe the two
    // occurrences because column pruning rewrites the df branch's
    // exchange to (term) only (round-20 profile: the join stage's
    // marginal cost equaled tf's own full cost).
    // localCheckpoint is the within-query materialization discipline
    // the near-dup tier already uses; one tokenize pass instead of two
    // at any scale.
    val tf = spread(t)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = t.documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_q",
        floor(col("tf") * (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1.0) * 10000))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score_q").desc, col("term"))).cast("bigint"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("score_q"))
  }
  val tfidfTopTermsSql: String =
    """WITH tfx AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents
       ), tfg AS (
         SELECT doc_id, term, count(*) AS tf FROM tfx GROUP BY 1, 2
       ), dfg AS (
         SELECT term, count(*) AS df FROM tfg GROUP BY 1
       ), n AS (SELECT count(*) AS n_docs FROM documents),
       sc AS (
         SELECT tfg.doc_id, tfg.term,
                CAST(floor(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) * 10000) AS BIGINT) AS score_q
         FROM tfg JOIN dfg ON tfg.term = dfg.term CROSS JOIN n)
       SELECT doc_id, rk, term, score_q FROM (
         SELECT doc_id, term, score_q,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_q DESC, term) AS rk
         FROM sc) r WHERE rk <= 3"""

  // ------------------------------------------------------- corpus n-grams
  /** Corpus-wide top-20 bigrams — the n-gram census behind contamination
    * filters and boilerplate detection. Top-k via global sort-limit
    * (TakeOrdered: per-partition top-20 then a 20-row driver merge — no
    * full sort even at 100 TB); ties break on the bigram. */
  def ngramTopBigrams(t: Tables): DataFrame =
    spread(t)
      .select(toks.as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1),
             i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))""")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)
  val ngramTopBigramsSql: String =
    """WITH s AS (
         SELECT string_split_regex(trim(text), '\s+') AS w FROM documents
       ), bg AS (
         SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
         FROM s WHERE len(w) >= 2)
       SELECT bigram, count(*) AS cnt FROM bg
       GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20"""

  // ------------------------------------------------ domain mixture
  /** Domain-mixture construction: downsample each source to hit target
    * mixture WEIGHTS within a document budget — the op that turns a
    * scored corpus into a training mix (web 40% / code 30% / ... ). Per
    * source s: keepFrac_s = min(1, budget·w_s / n_s); a document
    * survives iff its deterministic per-doc uniform (Knuth
    * multiplicative hash of doc_id, pure BIGINT arithmetic both engines
    * reproduce exactly) falls below keepFrac_s. Unlisted sources are
    * excluded (mixture spec is exhaustive).
    *
    * Scale: per-source counts are one tiny aggregation broadcast back
    * onto the corpus — the filter itself is map-side; no corpus
    * shuffle, no driver-side data. Deterministic → exactly
    * reproducible mixes across reruns and engines (vs rand()-based
    * sampling, which is neither). */
  /** Parameterized mixture API: `weights` must be positive and sum to 1
    * (the mixture spec is a partition of the budget), `budget` positive.
    * The per-doc uniform bounds doc_id into [0, 2^31) BEFORE the Knuth
    * multiply so the product stays inside int64 at any id — Spark would
    * silently wrap on overflow where DuckDB raises, so an unbounded
    * `doc_id * 2654435761` stops being cross-engine-exact at
    * doc_id ≳ 3.5e9 (multi-billion-document corpora). */
  def corpusMixtureOver(docs: DataFrame, weights: Seq[(String, Double)],
                        budget: Long): DataFrame = {
    require(budget > 0, s"mixture budget must be positive, got $budget")
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"every mixture weight must be positive: $weights")
    val wsum = weights.map(_._2).sum
    require(math.abs(wsum - 1.0) < 1e-9,
      s"mixture weights must sum to 1, got $wsum: $weights")
    val w = docs.sparkSession.createDataFrame(weights).toDF("source", "wgt")
    val fracs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      .join(w, "source")
      .withColumn("keep_frac", least(lit(1.0), lit(budget) * col("wgt") / col("n_src")))
    docs.join(broadcast(fracs), "source")
      .withColumn("h", pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L),
        lit(1000000L)))
      .filter(col("h") < col("keep_frac") * 1000000)
      .select(col("doc_id"), col("source"))
  }

  def corpusMixture(t: Tables): DataFrame =
    corpusMixtureOver(t.documents,
      Seq(("src0", 0.4), ("src1", 0.3), ("src2", 0.2), ("src3", 0.1)), budget = 60L)
  val corpusMixtureSql: String =
    """WITH w(source, wgt) AS (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
       c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
       f AS (SELECT c.source, least(1.0, 60 * w.wgt / c.n_src) AS keep_frac
             FROM c JOIN w ON c.source = w.source)
       SELECT d.doc_id, d.source
       FROM documents d JOIN f ON d.source = f.source
       WHERE ((d.doc_id % 2147483648) * 2654435761) % 1000000 < f.keep_frac * 1000000"""

  val all: Seq[(String, Tables => DataFrame, String)] = Seq(
    ("dedup_cluster_cc", dedupClusterCC _, dedupClusterCCSql),
    ("dedup_cluster_cc_star", dedupClusterCCStar _, dedupClusterCCSql),
    ("dedup_cluster_keep_best", dedupClusterKeepBest _, dedupClusterKeepBestSql),
    ("sample_stratified", sampleStratified _, sampleStratifiedSql),
    ("sample_reservoir", sampleReservoir _, sampleReservoirSql),
    ("sample_mixture", corpusMixture _, corpusMixtureSql),
    ("pack_sequences", packSequences _, packSequencesSql),
    ("doc_chunk_sliding", docChunkSliding _, docChunkSlidingSql),
    ("pipeline_shard_build", shardBuild _, shardBuildSql),
    ("tfidf_top_terms", tfidfTopTerms _, tfidfTopTermsSql),
    ("ngram_top_bigrams", ngramTopBigrams _, ngramTopBigramsSql))
}
