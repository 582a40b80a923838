package gatebench

import java.io.File
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Catalog, SparkEntry, Tables}
import graft.functions.NativeExprs
import graft.llm.{Corpus, Dedup, TextStats}
import graft.queries.{Presto, Tpch, Tpch2}
import graft.sources.TpchGen
import graft.sql.PrestoRewriter

/** What a workload sees of the run: its session, seed, core count and
  * the run's private scratch directory. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, runDir: File) {
  def dir(name: String): File = new File(runDir, name)
}

/** One timed statement: `build` makes its DataFrame (for SQL this parses
  * and analyzes; DML executes inside it), `act` runs the action and
  * returns an output-check failure if any. `text` is the SQL text for
  * statements that have one; `changed` is the number of rows a write
  * changes (0 for reads). */
final case class Stmt(name: String, kind: String, text: Option[String], changed: Long,
    build: () => DataFrame, act: DataFrame => Option[String])

trait Workload {
  /** Inputs as recorded in the run's output. */
  def inputs: Map[String, Any]
  /** Generates the workload's input files, once per run, before set-up. */
  def generate(c: Ctx): Unit = ()
  /** Builds the workload's state over its inputs, once per run. */
  def setup(c: Ctx): Unit
  /** One-off output checks outside the timed statements, run next to
    * the warm-up reads: (statement name, failure). */
  def checks(c: Ctx): Seq[(String, String)]
  /** The read statements of round `r`, in the round's order. */
  def reads(c: Ctx, r: Int): Seq[Stmt]
  /** The statement list of round `r`: its reads, with any writes
    * interleaved. */
  def round(c: Ctx, r: Int): Seq[Stmt] = reads(c, r)
  /** Writes run once, untimed, after the warm-up reads. */
  def warmupWrites(c: Ctx): Seq[Stmt] = Nil
  /** Whether concurrent warm-up reads need a session each. */
  def sessionPerWarmupThread: Boolean = false
  /** Check after round `r` (0 after the warm-up): a failure marks the
    * round's writes failed. */
  def endRound(c: Ctx, r: Int): Option[String] = None
  /** Layer probes for the traced run: metrics and output-check failures. */
  def probes(c: Ctx): (Map[String, Double], Seq[(String, String)]) = (Map.empty, Nil)
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  val toNoop: DataFrame => Option[String] = df => { noop(df); None }

  /** Runs the tasks on `threads` threads and waits for all of them. */
  def inParallel(threads: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Compares two results: columns by name, rows sorted, numbers to a
    * relative 1e-9. Returns the first difference. */
  def diff(got: DataFrame, want: DataFrame): Option[String] = {
    def rows(df: DataFrame): Seq[Seq[Any]] = {
      val names = df.columns.sorted.toSeq
      df.select(names.map(col): _*).collect().toSeq.map(_.toSeq.map {
        case n: java.lang.Number => n.doubleValue
        case null => null
        case x => x.toString
      }).sortBy(_.map {
        case d: Double => f"$d%.6e"
        case x => String.valueOf(x)
      }.mkString("\u0001"))
    }
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      case _ => a == b
    }
    val (gc, wc) = (got.columns.sorted.toSeq, want.columns.sorted.toSeq)
    if (gc != wc) Some(s"columns ${gc.mkString(",")} vs ${wc.mkString(",")}")
    else {
      val (g, w) = (rows(got), rows(want))
      if (g.size != w.size) Some(s"${g.size} rows vs ${w.size}")
      else if (g.isEmpty) Some("empty result")
      else g.zip(w).collectFirst {
        case (a, b) if !a.zip(b).forall { case (x, y) => same(x, y) } =>
          s"row ${a.mkString(",")} vs ${b.mkString(",")}"
      }
    }
  }

  def medianMs(reps: Int)(f: => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(ts.size / 2)
  }

  def apply(name: String): Workload = name match {
    case "tpch_gen_sf01" => new TpchGenWorkload("sf0_1")
    case "presto_rw_sf001" => new PrestoRwWorkload
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** DataFrame TPC-H queries on the storage-free generator connector,
  * written to the noop sink: the six slowest at sf0.1 in the repo's TPC-H
  * sweep (bench/SCALING_TPCH.md), which stops above a tie for seventh.
  * The seed permutes query order per round. */
final class TpchGenWorkload(schema: String) extends Workload {
  private val picked = Set(2, 5, 9, 11, 16, 21).map(i => s"tpch_q$i")
  private val queries = (Tpch.all ++ Tpch2.all).collect { case (n, q, sql) if picked(n) => (n, q, sql) }
  private val sf = TpchGen.scaleOf(schema).get
  // the generator tables as temp views of their own session, for the
  // queries' SQL texts
  @volatile private var sqlSession: SparkSession = _

  def inputs: Map[String, Any] = Map("catalog" -> s"graft_tpch.$schema",
    "lineitem_rows_approx" -> TpchGen.orders(sf) * 4, "queries" -> queries.size)

  private def tables(c: Ctx) = Tables(c.spark, s"graft_tpch:$schema")

  def setup(c: Ctx): Unit = {
    // about two generator splits per core on the fact tables
    c.spark.conf.set("graft.tpch.rowsPerSplit", math.max(1000L, TpchGen.orders(sf) / (2 * c.cores)).toString)
    val t = tables(c)
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
      .foreach(n => t(n).schema)
    sqlSession = c.spark.newSession()
    sqlSession.conf.set("graft.tpch.rowsPerSplit", c.spark.conf.get("graft.tpch.rowsPerSplit"))
    val views = Tables(sqlSession, s"graft_tpch:$schema")
    Catalog.tableNames.take(7).foreach(n => views(n).createOrReplaceTempView(n))
  }

  def checks(c: Ctx): Seq[(String, String)] = {
    val t = tables(c)
    val bad = Seq.newBuilder[(String, String)]
    // q1 against an independent ungrouped recount of the same rows
    val q1rows = Tpch.q1(t).collect()
    val indep = t.lineitem
      .filter(col("l_shipdate") < lit("1998-09-03").cast("timestamp"))
      .agg(count(lit(1)), sum(col("l_quantity")),
        countDistinct(col("l_returnflag"), col("l_linestatus"))).head()
    if (q1rows.length.toLong != indep.getLong(2))
      bad += "tpch_q1" -> s"groups: got ${q1rows.length} want ${indep.getLong(2)}"
    val sumCount = q1rows.map(_.getAs[Long]("count_order")).sum
    if (sumCount != indep.getLong(0))
      bad += "tpch_q1" -> s"sum(count_order): got $sumCount want ${indep.getLong(0)}"
    val sumQty = q1rows.map(_.getAs[Double]("sum_qty")).sum
    if (math.abs(sumQty - indep.getDouble(1)) > 1e-4 * math.max(1.0, math.abs(indep.getDouble(1))))
      bad += "tpch_q1" -> f"sum_qty: got $sumQty%.2f want ${indep.getDouble(1)}%.2f"
    // q12's storage-partitioned join against the classic shuffle join,
    // planned in a session of its own over the same splits
    val spj = Tpch.q12(t).collect().map(_.toString).sorted.toSeq
    val plain = c.spark.newSession()
    plain.conf.set("graft.tpch.rowsPerSplit", c.spark.conf.get("graft.tpch.rowsPerSplit"))
    plain.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    val shuffled = Tpch.q12(Tables(plain, s"graft_tpch:$schema")).collect().map(_.toString).sorted.toSeq
    if (spj != shuffled || spj.isEmpty)
      bad += "tpch_q12" -> s"storage-partitioned join vs shuffle join: ${spj.size} vs ${shuffled.size} rows"
    bad.result()
  }

  /** Round 0 is the warm-up pass: each query's result is checked there
    * against its SQL text run on the same generator tables. */
  def reads(c: Ctx, r: Int): Seq[Stmt] = {
    val t = tables(c)
    new Random(c.seed * 7919 + r).shuffle(queries).map { case (n, q, sql) =>
      Stmt(n, "read", None, 0, () => q(t),
        if (r != 0) Workload.toNoop
        else df => Workload.diff(df, sqlSession.sql(sql)).map(m => s"DataFrame vs SQL text: $m"))
    }
  }

  override def probes(c: Ctx): (Map[String, Double], Seq[(String, String)]) = {
    val t = tables(c)
    val scan = Workload.medianMs(3) { Workload.noop(t.lineitem); Workload.noop(t.orders) }
    val (llm, bad) = new LlmProbe(2000).run(c)
    (llm + ("sources.scan_only_ms" -> scan), bad)
  }
}

/** A Presto session over TPC-H sf0.01 written from the generator into the
  * run's scratch directory: read statements (the TPC-H SQL texts and the
  * read-only Presto SELECT entries) and, at one write per four reads, an
  * INSERT/UPDATE/MERGE/DELETE stream on a graft_mem table held at a fixed
  * row count per cycle. */
final class PrestoRwWorkload extends Workload {
  private val table = "graft_mem.default.gb_rw"
  private val batch = 50
  private val tableRows = 5000
  private val newIdBase = 1000000L
  private val one = "FROM (VALUES 1) AS v(one)"

  /** Read statements: name -> Presto SQL text. Of the 22 TPC-H SQL texts
    * and the read-only Presto SELECT entries, the 18 whose planning
    * (parse, analysis, optimization, physical planning) took at least a
    * fifth of their wall time in a traced run over this data; the shares
    * are in gatebench/DESIGN.md. Eighteen reads take the four writes of
    * one INSERT/UPDATE/MERGE/DELETE cycle per round. */
  val readTexts: Seq[(String, String)] =
    (Tpch.all ++ Tpch2.all).collect {
      case (n, _, sql) if Set(7, 8, 17).map(i => s"tpch_q$i")(n) => (s"${n}_sql", sql)
    } ++ Seq(
      "presto_try_quantified" -> Presto.tryQuantifiedPresto,
      "presto_map_fns" -> Presto.mapFnsPresto,
      "presto_quantified" -> Presto.quantifiedPresto,
      "presto_unnest_multi" -> Presto.unnestMultiPresto,
      "presto_array_fns" -> Presto.arrayFnsPresto,
      "presto_strings" -> Presto.stringsPresto,
      "presto_geo" -> Presto.geoPresto,
      "presto_unicode_literal" -> Presto.unicodeLiteralPresto,
      "presto_url_fns" -> Presto.urlFnsPresto,
      "presto_token_stats" -> Presto.tokenStatsPresto,
      "presto_cosine" -> Presto.cosinePresto,
      "presto_ip_fns" -> Presto.ipFnsPresto,
      "presto_dist_fns" -> Presto.distFnsPresto,
      "presto_unnest_from" -> Presto.unnestFromPresto,
      "presto_unicode_fns" -> Presto.unicodeFnsPresto)

  def inputs: Map[String, Any] = Map("data" -> "TPC-H sf0.01 from graft_tpch.tiny plus generated documents/events/embeddings",
    "reads_per_round" -> readTexts.size, "write_table_rows" -> tableRows, "write_batch_rows" -> batch)

  private def dataDir(c: Ctx) = c.dir("data/sf001").getPath
  private def sql(c: Ctx, text: String): DataFrame = PrestoRewriter.sql(c.spark, dataDir(c), text)

  // The harness's model of the write table: id -> val.
  private val model = mutable.LongMap.empty[Long]
  private var baseRows = 0L
  private var writes = 0L

  override def generate(c: Ctx): Unit = {
    val spark = c.spark
    val dir = dataDir(c)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val t = Tables(spark, "graft_tpch:tiny")
    val saves = Seq.newBuilder[() => Unit]
    def save(name: String, df: DataFrame): Unit =
      saves += (() => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    save("region", t.region.select(col("r_regionkey").cast("int"), col("r_name")))
    save("nation", t.nation.select(col("n_nationkey").cast("int"), col("n_name"),
      col("n_regionkey").cast("int")))
    save("customer", t.customer.select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("int"),
      col("c_acctbal"), col("c_mktsegment")))
    save("supplier", t.supplier.select(col("s_suppkey"), col("s_name"), col("s_nationkey").cast("int"),
      col("s_acctbal")))
    save("part", t.part.select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")))
    save("orders", t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate").cast("timestamp"), col("o_orderpriority")))
    save("lineitem", t.lineitem.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate").cast("timestamp")))
    val s = c.seed
    val words = "key agg row scan slow fast table value part hash merge batch a the line sort window " +
      "order data column join small customer query big stream filter group spark"
    save("documents", spark.range(500).select(col("id").as("doc_id"),
      expr(s"""concat_ws(' ', transform(sequence(0, 15 + pmod(hash(id, $s), 40)), i ->
        element_at(split('$words', ' '), 1 + pmod(hash(id, i, $s), ${words.split(' ').length}))))""").as("text"),
      expr(s"element_at(array('en', 'en', 'en', 'de', 'fr'), 1 + pmod(hash(id, 1, $s), 5))").as("lang"),
      expr(s"concat('src', pmod(hash(id, 2, $s), 5))").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    save("events", spark.range(2000).select(col("id").as("event_id"),
      expr(s"timestamp_seconds(1704067200 + id * 200 + pmod(hash(id, $s), 200))").as("ts"),
      expr(s"pmod(hash(id, 1, $s), 100)").cast("long").as("user_id"),
      expr(s"element_at(array('click', 'view', 'error', 'purchase'), 1 + pmod(hash(id, 2, $s), 4))").as("event_type"),
      expr(s"round(pmod(hash(id, 3, $s), 2000) / 100.0, 2)").as("value"),
      expr(s"""concat('{"k": ', pmod(hash(id, 4, $s), 100), '}')""").as("props")))
    save("embeddings", spark.range(500).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, 15), i -> CAST(pmod(hash(id, i, $s), 2000) / 1000.0 - 1.0 AS FLOAT))").as("embedding"),
      expr(s"pmod(hash(id, 5, $s), 5)").cast("int").as("label")))
    Workload.inParallel(c.cores)(saves.result())
  }

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    val dir = dataDir(c)
    // in-process ANALYZE of the TPC-H tables, one thread per core: row
    // counts and column stats for the cost-based join order
    Workload.inParallel(c.cores)(Catalog.tableNames.take(7).map(n =>
      () => { graft.plans.Analyze.table(spark, Catalog.load(spark, dir, n)); () }))
    sql(c, s"""CREATE TABLE $table AS
      SELECT o_orderkey AS id, o_custkey % 100 AS grp, CAST(o_totalprice AS BIGINT) AS val
      FROM orders WHERE o_orderkey <= $tableRows""")
    spark.table(table).select("id", "val").collect().foreach(r => model(r.getLong(0)) = r.getLong(1))
    baseRows = model.size
  }

  /** The first warm-up pass wrote each read's result to check/<name>; the
    * DuckDB oracle compares them after the run (gatebench/oracle.py). */
  def checks(c: Ctx): Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.write(new File(c.runDir, "oracle.json").toPath, Json.write(Map(
      "data" -> dataDir(c),
      "queries" -> readTexts.map { case (n, _) => n -> oracle.getOrElse(n, "") }.toMap)).getBytes("UTF-8"))
    Nil
  }

  /** The next write of the INSERT -> UPDATE -> MERGE -> DELETE cycle. The
    * cycle inserts 2 x batch new ids and deletes them again, so the row
    * count returns to the base after every cycle. */
  private def nextWrite(c: Ctx, rnd: Random): Stmt = {
    val k = writes; writes += 1
    val d = 1 + rnd.nextInt(9)
    def fresh(j: Long) = newIdBase + k * batch + j
    def origRange = { val a = 1L + rnd.nextInt((baseRows - batch).toInt); (a, a + batch - 1) }
    def dml(name: String, text: String, changed: Long) =
      Stmt(name, "write", Some(text), changed, () => sql(c, text), _ => None)
    (k % 4) match {
      case 0 =>
        val (a, b) = (fresh(0), fresh(batch - 1))
        (a to b).foreach(id => model(id) = id * 3)
        val text = s"INSERT INTO $table SELECT x AS id, x % 100 AS grp, x * 3 AS val $one CROSS JOIN UNNEST(sequence($a, $b)) AS u(x)"
        dml("dml_insert", text, batch)
      case 1 =>
        val (a, b) = origRange
        (a to b).foreach(id => model.get(id).foreach(v => model(id) = v + d))
        val text = s"UPDATE $table SET val = val + $d WHERE id BETWEEN $a AND $b"
        dml("dml_update", text, batch)
      case 2 =>
        val (a, b) = origRange
        val (fa, fb) = (fresh(0), fresh(batch - 1))
        (a to b).foreach(id => model.get(id).foreach(v => model(id) = v + d))
        (fa to fb).foreach(id => model(id) = id * 3)
        val text = s"""MERGE INTO $table t
          USING (SELECT x AS id, x % 100 AS grp, x * 3 AS val
                 $one CROSS JOIN UNNEST(concat(sequence($a, $b), sequence($fa, $fb))) AS u(x)) s
          ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET val = t.val + $d
          WHEN NOT MATCHED THEN INSERT (id, grp, val) VALUES (s.id, s.grp, s.val)"""
        dml("dml_merge", text, 2L * batch)
      case _ =>
        val gone = model.keys.filter(_ >= newIdBase).toSeq
        gone.foreach(model.remove)
        val text = s"DELETE FROM $table WHERE id >= $newIdBase"
        dml("dml_delete", text, gone.size.toLong)
    }
  }

  override def sessionPerWarmupThread: Boolean = true

  /** Round 0 is the first warm-up pass: its reads write their results for
    * the oracle check instead of to the noop sink. */
  def reads(c: Ctx, r: Int): Seq[Stmt] =
    new Random(c.seed * 7919 + r).shuffle(readTexts).map { case (n, text) =>
      Stmt(n, "read", Some(text), 0, () => sql(c, text),
        if (r != 0) Workload.toNoop
        else df => { df.write.mode("overwrite").parquet(c.dir(s"check/$n").getPath); None })
    }

  private def expire(c: Ctx): Stmt = {
    val text = s"CALL graft_mem.system.expire_history('default.gb_rw', 4)"
    Stmt("dml_expire_history", "write", Some(text), 0, () => sql(c, text), df => { df.collect(); None })
  }

  override def round(c: Ctx, r: Int): Seq[Stmt] = {
    val rnd = new Random(c.seed * 7919 + r)
    reads(c, r).zipWithIndex.flatMap { case (s, i) =>
      if (i % 4 == 3) Seq(s, nextWrite(c, rnd)) else Seq(s)
    } :+ expire(c)
  }

  override def warmupWrites(c: Ctx): Seq[Stmt] = {
    val rnd = new Random(c.seed)
    Seq.fill(4)(nextWrite(c, rnd)) :+ expire(c)
  }

  override def endRound(c: Ctx, r: Int): Option[String] = {
    val got = c.spark.table(table).agg(count(lit(1)), sum(col("val")),
      sum(col("id") * pmod(col("val"), lit(1000L)))).head()
    val want = (model.size.toLong, model.values.sum, model.map { case (id, v) => id * Math.floorMod(v, 1000L) }.sum)
    val have = (got.getLong(0), got.getLong(1), got.getLong(2))
    if (have == want) None else Some(s"write table after round $r: got $have want $want")
  }

  override def probes(c: Ctx): (Map[String, Double], Seq[(String, String)]) = {
    val snaps = sql(c, "CALL graft_mem.system.snapshots('default.gb_rw')").collect().length
    (Map("sources.snapshots_retained" -> snaps.toDouble), Nil)
  }
}

/** The LLM data-preparation operators as a layer probe of the traced run,
  * over a seeded corpus with planted duplicates (DedupScale's
  * planted-structure generator with the seed mixed into its hash): per
  * 100-doc block, one exact-duplicate cluster of 5 and one near-duplicate
  * cluster of 5. Each stage runs once as a one-row fingerprint aggregate
  * checked against the planted truth, and the NativeExprs kernels are
  * timed over the corpus against the same scan projecting length(text). */
final class LlmProbe(docs: Long) {
  private val blocks = docs / 100

  private def genSql(seed: Long): String =
    s"""CASE WHEN id % 100 >= 90 THEN
         concat(
           concat_ws(' ', transform(sequence(0, 149), i ->
             concat('w', CAST(floor(30000 * pow(
               pmod(hash(id, i, 11, $seed), 1000000) / 1000000.0, 2)) AS INT)))),
           ' ',
           concat_ws(' ', transform(sequence(0, 29), i ->
             concat('b', pmod(hash(id DIV 100, i, 17, $seed), 1000000)))))
       ELSE
         concat_ws(' ', transform(sequence(0, 149), i ->
           CASE WHEN id % 100 BETWEEN 85 AND 89 AND i = 10 + 30 * (id % 100 - 85)
                THEN concat('mut', id)
                ELSE concat('w', CAST(floor(30000 * pow(
                  pmod(hash(CASE WHEN id % 100 BETWEEN 80 AND 84
                                 THEN id - id % 100 + 80
                                 WHEN id % 100 BETWEEN 85 AND 89
                                 THEN id - id % 100 + 85
                                 ELSE id END, i, 11, $seed), 1000000) / 1000000.0,
                  2)) AS INT)) END))
       END"""

  private def longs(df: DataFrame): Seq[Long] = {
    val r = df.head()
    (0 until r.length).map(i => if (r.isNullAt(i)) -1L else r.getAs[Number](i).longValue)
  }

  /** Per-layer metrics and output-check failures. */
  def run(c: Ctx): (Map[String, Double], Seq[(String, String)]) = {
    val dir = c.dir("data/corpus").getPath
    c.spark.range(docs).select(col("id").as("doc_id"), expr(genSql(c.seed)).as("text"))
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("crawl"), col("doc_id") % 7))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(2 * c.cores)
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val t = Tables(c.spark, dir)
    val chars = t.documents.agg(sum(col("n_chars"))).head().getLong(0)
    val b = blocks
    val stages: Seq[(String, () => DataFrame, Seq[Long])] = Seq(
      ("quality", () => TextStats.quality(t).agg(count(lit(1)),
        count(when(col("verdict") === "keep", 1)), sum(col("n_chars"))), Seq(docs, docs, chars)),
      ("pii_scrub", () => TextStats.piiScrub(t).agg(count(lit(1)), sum(col("n_emails")),
        sum(col("n_phones")), count(when(col("redacted").contains("@"), 1))), Seq(docs, docs, docs, 0L)),
      ("exact_dedup", () => Dedup.dedupExact(t).agg(count(lit(1)), sum(col("n_copies")),
        count(when(col("n_copies") === 5, 1))), Seq(docs - 4 * b, docs, b)),
      ("minhash_neardup", () => Dedup.neardupMinhash(t).agg(count(lit(1)),
        count(when(col("jacc") >= 0.999, 1)), count(when(col("jacc") < 0.8, 1))), Seq(20 * b, 10 * b, 0L)),
      ("cluster_cc", () => Corpus.dedupClusterCC(t).agg(count(lit(1)),
        countDistinct(col("component")), count(when(col("cluster_n") =!= 5, 1))), Seq(10 * b, 2 * b, 0L)),
      ("tfidf", () => Corpus.tfidfTopTerms(t).agg(count(lit(1)), countDistinct(col("doc_id"))),
        Seq(3 * docs, docs)))
    val bad = Seq.newBuilder[(String, String)]
    var pairs = 0L
    val secs = stages.map { case (name, df, want) =>
      val t0 = System.nanoTime()
      val got = longs(df())
      val dt = (System.nanoTime() - t0) / 1e9
      if (name == "minhash_neardup") pairs = got.head
      if (got != want) bad += s"llm_$name" -> s"got ${got.mkString(",")} want ${want.mkString(",")}"
      s"llm.${name}_s" -> dt
    }
    NativeExprs.ensureRegistered(c.spark)
    // five copies of every document: enough kernel work to stand above the
    // per-query floor
    val rows = t.documents.crossJoin(c.spark.range(5))
    def timed(e: String) = Workload.medianMs(3)(Workload.noop(rows.agg(max(expr(e)))))
    val base = timed("length(text)")
    val perDoc = 1e6 / (5 * docs)
    (secs.toMap ++ Map(
      "functions.minhash_ns_per_doc" -> (timed("graft_minhash(split(text, ' '))[0]") - base) * perDoc,
      "functions.simhash_ns_per_doc" -> (timed("graft_simhash64(split(text, ' '))") - base) * perDoc,
      "llm.planted_pairs_found_frac" -> pairs.toDouble / (20 * b)), bad.result())
  }
}
