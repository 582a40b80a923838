package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** The six TPC-H queries the reference's own test set omits
  * (q4, q15, q18, q20, q21, q22 — tpch.queries/ has 16 of 22), adapted
  * to the driver's reduced schema. Implementing them EXCEEDS the
  * reference's exercised surface; they carry the heaviest subquery
  * shapes: EXISTS with non-equi correlation (q4), a reused view with a
  * scalar-subquery max (q15), IN over a grouped HAVING (q18/q20),
  * EXISTS + NOT EXISTS double correlation (q21), and a scalar-subquery
  * average with NOT EXISTS (q22).
  *
  * Adaptations (missing columns): "late" = shipped > N days after order
  * date (no commit/receipt dates); partsupp-based availability proxied
  * through lineitem aggregates; c_phone country code proxied as
  * c_nationkey % 10.
  */
object Tpch2 {

  private def ts(s: String) = lit(s).cast("timestamp")

  // ---------------------------------------------------------------- q4
  /** Order priority checking — EXISTS with a non-equi conjunct. */
  def q4(t: Tables): DataFrame =
    t.orders
      .filter(col("o_orderdate") >= ts("1996-07-01") && col("o_orderdate") < ts("1996-10-01"))
      .join(t.lineitem,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // --------------------------------------------------------------- q15
  /** Top supplier — a named subrelation used twice + scalar-subquery max. */
  def q15(t: Tables): DataFrame = {
    val revenue0 = t.lineitem
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("total_revenue"))
    val maxRev = revenue0.agg(max(col("total_revenue")).as("max_rev"))
    t.supplier
      .join(revenue0, col("s_suppkey") === col("supplier_no"))
      .crossJoin(maxRev)
      .filter(col("total_revenue") === col("max_rev"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }
  val q15Sql: String =
    """WITH revenue0 AS (
         SELECT l_suppkey AS supplier_no,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_revenue
       FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
       WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
       ORDER BY s_suppkey"""

  // --------------------------------------------------------------- q18
  /** Large-volume customer — IN over grouped HAVING + 3-way join. */
  def q18(t: Tables): DataFrame = {
    val bigOrders = t.lineitem.groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > 300)
    // Round 13: the >300 filter keeps a vanishing fraction of orders, so
    // join it to orders FIRST — AQE sees the runtime size and broadcasts
    // bigOrders, and then the surviving orders, so neither the orders nor
    // the customer side ever crosses an exchange. The old order
    // (customer⋈orders first) sort-merge-joined the two biggest unfiltered
    // tables and threw ~all of the result away.
    t.orders
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(t.customer, col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }
  val q18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
         round(o_totalprice, 2) AS o_totalprice, sum_qty
       FROM customer, orders,
            (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
             FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) lq
       WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
       ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"""

  // --------------------------------------------------------------- q20
  /** Potential part promotion (adapted: partsupp availability proxied as
    * total shipped qty per (supplier, red part) > 50) — nested IN +
    * grouped HAVING. */
  def q20(t: Tables): DataFrame = {
    val redSuppliers = t.lineitem
      .join(t.part.filter(col("p_name").like("%red%")),
        col("p_partkey") === col("l_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 50)
      .select(col("l_suppkey")).distinct()
    t.supplier
      .join(redSuppliers, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }
  val q20Sql: String =
    """SELECT s_suppkey, s_name FROM supplier
       WHERE s_suppkey IN (
         SELECT l_suppkey FROM lineitem
         WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
         GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 50)
       ORDER BY s_suppkey"""

  // --------------------------------------------------------------- q21
  /** Suppliers who kept orders waiting (adapted: late = shipped > 60 days
    * after order date) — EXISTS + NOT EXISTS double correlation. */
  def q21(t: Tables): DataFrame = {
    // One pass over lineitem⋈orders (round 13), min/max aggregate form
    // (round 15): both correlations are per-order
    // supplier-set questions that collapse to constant-width
    // aggregates — EXISTS another supplier on o ⇔ min(suppkey) ≠
    // max(suppkey); NOT EXISTS another LATE supplier ⇔ min and max of
    // the late suppliers coincide (and that value IS the waiting
    // supplier); the counted rows are the order's late lines, which
    // all belong to that one supplier. The round-13 collect_set
    // WINDOW answered the same questions but WindowExec sorts every
    // partition and buffers frames (and a collect_set AGGREGATE is
    // worse still — ObjectHashAggregate falls back to sort-based at
    // 128 distinct groups; measured 2.9 s at sf10). Pure min/max/count
    // stay in codegen'd HashAggregate with map-side partials, and the
    // aggregate's ClusteredDistribution(l_orderkey) is satisfied by
    // the join's own output partitioning — no exchange added, the
    // same reuse the window had. sf10: 2.44 → 1.75 s probe min-of-2.
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
    t.lineitem
      .join(t.orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), late.as("is_late"))
      .groupBy(col("l_orderkey"))
      .agg(
        min(col("l_suppkey")).as("supp_min"),
        max(col("l_suppkey")).as("supp_max"),
        min(when(col("is_late"), col("l_suppkey"))).as("late_min"),
        max(when(col("is_late"), col("l_suppkey"))).as("late_max"),
        count(when(col("is_late"), 1)).as("late_lines"))
      .filter(col("supp_min") =!= col("supp_max") &&
        col("late_min").isNotNull && col("late_min") === col("late_max"))
      .select(col("late_min").as("w_suppkey"), col("late_lines"))
      .join(broadcast(t.supplier.select(col("s_suppkey"), col("s_name"))),
        col("s_suppkey") === col("w_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }
  val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
       FROM supplier, lineitem l1, orders
       WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
         AND o_orderstatus = 'F'
         AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""

  // --------------------------------------------------------------- q22
  /** Global sales opportunity (adapted: country code = c_nationkey % 10)
    * — scalar-subquery average + NOT EXISTS. */
  def q22(t: Tables): DataFrame = {
    val code = (col("c_nationkey") % 10).as("cntrycode")
    val codes = Seq(1, 3, 5, 7)
    val eligible = t.customer.filter((col("c_nationkey") % 10).isin(codes: _*))
    val avgBal = eligible.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    eligible
      .crossJoin(avgBal)
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(t.orders, col("o_custkey") === col("c_custkey"), "left_anti")
      .select(code, col("c_acctbal"))
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }
  val q22Sql: String =
    """SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
       FROM (SELECT c_nationkey % 10 AS cntrycode, c_acctbal
             FROM customer
             WHERE c_nationkey % 10 IN (1, 3, 5, 7)
               AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                WHERE c_acctbal > 0 AND c_nationkey % 10 IN (1, 3, 5, 7))
               AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) custsale
       GROUP BY cntrycode ORDER BY cntrycode"""

  val all: Seq[(String, Tables => DataFrame, String)] = Seq(
    ("tpch_q4", q4 _, q4Sql),
    ("tpch_q15", q15 _, q15Sql),
    ("tpch_q18", q18 _, q18Sql),
    ("tpch_q20", q20 _, q20Sql),
    ("tpch_q21", q21 _, q21Sql),
    ("tpch_q22", q22 _, q22Sql))
}
