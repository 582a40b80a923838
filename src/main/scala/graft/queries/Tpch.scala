package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's benchmark query set — TPC-H q1,q2,q3,q5..q14,q16,q17,q19
  * (axiom/optimizer/tests/tpch.queries/q-star-.sql) — re-expressed on the Spark
  * DataFrame API and adapted to the driver's reduced TPC-H schema (no
  * partsupp table; several comment/address columns absent — see
  * TESTDATA.md). Queries whose official text needs a missing table keep
  * their *shape* (join pattern, subquery class, aggregation structure) on
  * available columns; each notes the adaptation.
  *
  * Scale notes (100 TB design):
  *  - region/nation are constant-size → always `broadcast()`.
  *  - All other joins are left to Catalyst/AQE: equi-join conditions are
  *    expressed declaratively so AQE can pick broadcast vs shuffled-hash
  *    at runtime from true sizes, and re-split skewed partitions.
  *  - Aggregates are declarative → partial/final split (map-side combine)
  *    is automatic; no collect()-side logic anywhere.
  *  - Money aggregates are rounded to 2 decimals (avg to 4) in BOTH the
  *    Spark plan and the DuckDB oracle so float summation order cannot
  *    flip the comparison hash.
  */
object Tpch {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** revenue expression used by most queries */
  private def revenue(c: Column, d: Column): Column = c * (lit(1.0) - d)

  // ---------------------------------------------------------------- q1
  /** Pricing summary report — scan → filter → 8-agg groupBy → sort.
    * Reference: tpch.queries/q1.sql (verbatim semantics). */
  def q1(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") < ts("1998-09-03"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(revenue(col("l_extendedprice"), col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
       FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-03'
       GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

  // ---------------------------------------------------------------- q2
  /** Min-cost supplier (adapted: no partsupp → "cost" is supplier acctbal
    * among suppliers that actually shipped the part, via lineitem).
    * Keeps q2's correlated-scalar-subquery shape — expressed in the
    * DataFrame API as its decorrelated form: per-part min over an
    * aggregated (part, supplier) relation joined back on equality, which
    * is exactly how the reference lowers single-row subqueries
    * (axiom/optimizer/DerivedTable.cpp:182 findSingleRowDts). */
  def q2(t: Tables): DataFrame = {
    // One-shuffle form (round 13; was window-min over the distinct
    // (part, supplier) relation — two full-width exchanges plus a sort).
    // The p_size predicate touches only the PART side of the correlation,
    // so it pushes below the aggregation: a broadcast semi-shrink of
    // lineitem to ~1/50 of its rows before anything shuffles. The scalar
    // subquery (min acctbal over ALL suppliers of the part — not just
    // EUROPE ones, so the region filter must stay above) and the tie set
    // then come out of a single partial-aggregated collect_set per part:
    // map-side combine dedups (supplier, bal) pairs inside each scan
    // task, and the only exchange carries per-part sets bounded by the
    // suppliers-per-part fan-in — at 100 TB that is one shrunken shuffle
    // where the window form re-exchanged and fully sorted the relation.
    val sized = t.part.filter(col("p_size") === 15)
      .select(col("p_partkey"), col("p_name"))
    t.lineitem.select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(sized), col("l_partkey") === col("p_partkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"))
      .agg(min(col("s_acctbal")).as("min_bal"),
        collect_set(struct(col("s_acctbal"), col("s_suppkey"), col("s_name"),
          col("s_nationkey"))).as("sups"))
      .select(col("p_partkey"), col("p_name"), col("min_bal"),
        explode(col("sups")).as("s"))
      .filter(col("s.s_acctbal") === col("min_bal"))
      .join(broadcast(t.nation), col("s.s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("p_partkey"), col("p_name"), col("s.s_name").as("s_name"),
        round(col("s.s_acctbal"), 2).as("acctbal"), col("n_name"))
      .orderBy(col("p_partkey"), col("s_name"))
  }

  val q2Sql: String =
    """WITH partsupp AS (
         SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
       ), ps AS (
         SELECT l_partkey, s_suppkey, s_name, s_acctbal, s_nationkey
         FROM partsupp JOIN supplier ON l_suppkey = s_suppkey
       )
       SELECT p_partkey, p_name, s_name, round(s_acctbal, 2) AS acctbal, n_name
       FROM ps
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       JOIN part ON l_partkey = p_partkey
       WHERE r_name = 'EUROPE' AND p_size = 15
         AND s_acctbal = (SELECT min(s2.s_acctbal)
                          FROM ps ps2 JOIN supplier s2 ON ps2.s_suppkey = s2.s_suppkey
                          WHERE ps2.l_partkey = p_partkey)
       ORDER BY p_partkey, s_name"""

  // ---------------------------------------------------------------- q3
  /** Shipping priority (adapted: no o_shippriority column → dropped from
    * projection/grouping; otherwise verbatim q3.sql). */
  def q3(t: Tables): DataFrame =
    t.customer.filter(col("c_mktsegment") === "BUILDING")
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < ts("1997-03-15"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > ts("1997-03-15"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)

  val q3Sql: String =
    """SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
         AND l_orderkey = o_orderkey
         AND o_orderdate < TIMESTAMP '1997-03-15'
         AND l_shipdate > TIMESTAMP '1997-03-15'
       GROUP BY l_orderkey, o_orderdate
       ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""

  // ---------------------------------------------------------------- q5
  /** Local supplier volume — 6-way join + agg. Semantics of q5.sql
    * (date window shifted into the synthetic data's 1995-2001 range).
    *
    * Round-14 eager-aggregation shape (measured: sf10 8.5 → 2.3 s,
    * rounded rows identical): the c_custkey join only
    * exists to enforce c_nationkey = s_nationkey, so revenue is
    * partial-summed per (o_custkey, supplier nation) BEFORE customer
    * enters — the fact-stream exchange carries bounded per-customer
    * partials instead of every joined line. orders ⋈ lineitem rides the
    * connector's storage-partitioned orderkey buckets; supplier/nation/
    * region reach the stream as broadcasts from statistics (no forced
    * hint on supplier — at extreme SF it should shuffle, not flood the
    * driver); customer is pruned to (c_custkey, c_nationkey). */
  def q5(t: Tables): DataFrame =
    t.orders
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("o_custkey"), col("s_nationkey"), col("n_name"))
      .agg(sum(revenue(col("l_extendedprice"), col("l_discount"))).as("pr"))
      .join(t.customer.select(col("c_custkey"), col("c_nationkey")),
        col("c_custkey") === col("o_custkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("pr")), 2).as("revenue"))
      .orderBy(col("revenue").desc)

  val q5Sql: String =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name ORDER BY revenue DESC"""

  // ---------------------------------------------------------------- q6
  /** Forecasting revenue change — pure scan+filter+agg. Verbatim q6.sql
    * (date window shifted). */
  def q6(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01")
        && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  val q6Sql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""

  // ---------------------------------------------------------------- q7
  /** Volume shipping — two nation aliases + disjunctive pair filter +
    * year extraction. Verbatim shape of q7.sql. */
  def q7(t: Tables): DataFrame = {
    val n1 = broadcast(t.nation.select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t.nation.select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
    t.supplier
      .join(t.lineitem, col("s_suppkey") === col("l_suppkey"))
      .filter(col("l_shipdate").between(ts("1996-01-01"), ts("1997-12-31")))
      .join(t.orders, col("o_orderkey") === col("l_orderkey"))
      .join(t.customer, col("c_custkey") === col("o_custkey"))
      .join(n1, col("s_nationkey") === col("n1_key"))
      .join(n2, col("c_nationkey") === col("n2_key"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .withColumn("l_year", year(col("l_shipdate")))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q7Sql: String =
    """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    extract(year FROM l.l_shipdate) AS l_year,
                    l.l_extendedprice * (1 - l.l_discount) AS volume
             FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
             WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
               AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey
               AND c.c_nationkey = n2.n_nationkey
               AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
               AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
            ) shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year"""

  // ---------------------------------------------------------------- q8
  /** National market share — 8-way join, conditional aggregation ratio.
    * Adapted constants: p_type = 'ECONOMY', nation 'NATION_3',
    * region 'ASIA'. Shape of q8.sql preserved. */
  // Round-17 A/B note: reshaping the region predicate into an
  // ASIA-customer pre-filter (region ⋈ nation resolved to a broadcast
  // nationkey set, customer semi-shrunk BEFORE the orders join) was
  // measured and REJECTED — parquet sf0.1 min-of-8 0.913 s vs 0.864 s
  // for this shape (q5 control within 2%), generator lane sf1 0.32 vs
  // 0.37 (inside noise), sf10 single-rep worse. The lane broadcasts the
  // whole customer dim either way (64 MB threshold, the deployment
  // setting), so the pre-filter only adds a stage; the CBO warmup
  // already reorders this join tree when stats justify it
  // (HistoryStatsSpec).
  def q8(t: Tables): DataFrame = {
    val n1 = broadcast(t.nation.select(col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region")))
    val n2 = broadcast(t.nation.select(col("n_nationkey").as("n2_key"), col("n_name").as("nation")))
    t.part.filter(col("p_type") === "ECONOMY")
      .join(t.lineitem, col("p_partkey") === col("l_partkey"))
      .join(t.supplier, col("s_suppkey") === col("l_suppkey"))
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate").between(ts("1996-01-01"), ts("1997-12-31")))
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(n1, col("c_nationkey") === col("n1_key"))
      .join(broadcast(t.region), col("n1_region") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .join(n2, col("s_nationkey") === col("n2_key"))
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("volume", revenue(col("l_extendedprice"), col("l_discount")))
      .groupBy(col("o_year"))
      .agg(round(
        sum(when(col("nation") === "NATION_3", col("volume")).otherwise(0.0)) / sum(col("volume")),
        6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val q8Sql: String =
    """SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END) / sum(volume), 6) AS mkt_share
       FROM (SELECT extract(year FROM o.o_orderdate) AS o_year,
                    l.l_extendedprice * (1 - l.l_discount) AS volume,
                    n2.n_name AS nation
             FROM part p, supplier s, lineitem l, orders o, customer c,
                  nation n1, nation n2, region r
             WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
               AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
               AND c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = r.r_regionkey
               AND r.r_name = 'ASIA' AND s.s_nationkey = n2.n_nationkey
               AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
               AND p.p_type = 'ECONOMY') all_nations
       GROUP BY o_year ORDER BY o_year"""

  // ---------------------------------------------------------------- q9
  /** Product type profit (adapted: no partsupp → supply cost modeled as
    * p_retailprice * l_quantity * 0.1; p_name LIKE kept). Shape of
    * q9.sql preserved: 6-way join, expression agg, two-level grouping. */
  def q9(t: Tables): DataFrame =
    t.part.filter(col("p_name").like("%red%"))
      .join(t.lineitem, col("p_partkey") === col("l_partkey"))
      .join(t.supplier, col("s_suppkey") === col("l_suppkey"))
      .join(t.orders, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("amount",
        revenue(col("l_extendedprice"), col("l_discount")) -
          col("p_retailprice") * col("l_quantity") * lit(0.1))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(round(sum(col("amount")), 2).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)

  val q9Sql: String =
    """SELECT n_name AS nation, extract(year FROM o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1), 2) AS sum_profit
       FROM part, lineitem, supplier, orders, nation
       WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
         AND p_name LIKE '%red%'
       GROUP BY n_name, extract(year FROM o_orderdate)
       ORDER BY nation, o_year DESC"""

  // ---------------------------------------------------------------- q10
  /** Returned item reporting (adapted: c_address/c_phone/c_comment absent
    * → dropped from projection). Shape of q10.sql preserved. */
  /** Round-14 eager-aggregation shape (the q5 pattern): c_custkey
    * functionally determines every other grouping column, so revenue is
    * summed per o_custkey on the orders⋈lineitem stream FIRST (which
    * rides the connector's storage-partitioned orderkey buckets) and
    * customer attributes join 1:1 onto the bounded per-customer sums —
    * no second aggregation, and the custkey exchange carries at most
    * one row per active customer instead of every returned line. */
  def q10(t: Tables): DataFrame =
    t.orders
      .filter(col("o_orderdate") >= ts("1996-10-01") && col("o_orderdate") < ts("1997-01-01"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_returnflag") === "R")
      .groupBy(col("o_custkey"))
      .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2).as("revenue"))
      .join(t.customer, col("c_custkey") === col("o_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        round(col("c_acctbal"), 2).as("acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  val q10Sql: String =
    """SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS acctbal, n_name
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
         AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20"""

  // ---------------------------------------------------------------- q11
  /** Important stock identification (adapted: no partsupp → "stock value"
    * is lineitem revenue by supplier nation; HAVING over a scalar
    * subquery of the global total is preserved — the reference plans
    * this as a single-row derived table cross join,
    * axiom/optimizer/Optimization.cpp:1280 placeSingleRowDt). */
  def q11(t: Tables): DataFrame = {
    // One pass over lineitem⋈supplier: pre-aggregate by s_nationkey (≤25
    // groups), then derive BOTH the HAVING denominator (sum over the
    // pre-nation-join relation — matching the oracle's scalar subquery,
    // which omits the nation join) and the per-nation values from that
    // tiny aggregate. Nation join is broadcast over 25 rows.
    val byNationKey = t.lineitem
      .join(t.supplier, col("l_suppkey") === col("s_suppkey"))
      .withColumn("v", revenue(col("l_extendedprice"), col("l_discount")))
      .groupBy(col("s_nationkey")).agg(sum(col("v")).as("value_raw"))
    val total = byNationKey.agg(sum(col("value_raw")).as("total"))
    val byNation = byNationKey
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(sum(col("value_raw")).as("value_raw"))
    byNation.crossJoin(total)
      .filter(col("value_raw") > col("total") * 0.04)
      .select(col("n_name"), round(col("value_raw"), 2).as("value"))
      .orderBy(col("value").desc)
  }

  val q11Sql: String =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS value
       FROM lineitem, supplier, nation
       WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       GROUP BY n_name
       HAVING sum(l_extendedprice * (1 - l_discount)) >
              (SELECT sum(l_extendedprice * (1 - l_discount)) * 0.04
               FROM lineitem, supplier
               WHERE l_suppkey = s_suppkey)
       ORDER BY value DESC"""

  // ---------------------------------------------------------------- q12
  /** Shipping modes / priority (adapted: no l_shipmode/commitdate/
    * receiptdate → "late" = shipped >90 days after order date; grouped by
    * l_linestatus). Conditional-count aggregation shape of q12.sql kept. */
  def q12(t: Tables): DataFrame =
    t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH", 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" && col("o_orderpriority") =!= "2-HIGH", 1L)
          .otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))

  val q12Sql: String =
    """SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders, lineitem
       WHERE o_orderkey = l_orderkey
         AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_shipdate > o_orderdate + INTERVAL 90 DAY
       GROUP BY l_linestatus ORDER BY l_linestatus"""

  // ---------------------------------------------------------------- q13
  /** Customer distribution — left outer join + two-level aggregation
    * (adapted: o_comment filter → o_orderpriority filter). q13.sql shape:
    * count per customer, then histogram of counts. */
  def q13(t: Tables): DataFrame = {
    val perCustomer = t.customer
      .join(t.orders.filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCustomer.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """SELECT c_count, count(*) AS custdist
       FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             FROM customer LEFT OUTER JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             GROUP BY c_custkey) c_orders
       GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""

  // ---------------------------------------------------------------- q14
  /** Promotion effect — join + conditional-ratio agg. Verbatim shape of
    * q14.sql; p_type LIKE 'PROMO%' matches the synthetic 'PROMO' type. */
  def q14(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") >= ts("1996-09-01") && col("l_shipdate") < ts("1996-10-01"))
      .join(t.part, col("l_partkey") === col("p_partkey"))
      .agg(round(
        sum(when(col("p_type").like("PROMO%"), revenue(col("l_extendedprice"), col("l_discount")))
          .otherwise(0.0)) * 100.0 / sum(revenue(col("l_extendedprice"), col("l_discount"))),
        4).as("promo_revenue"))

  val q14Sql: String =
    """SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
       FROM lineitem, part
       WHERE l_partkey = p_partkey
         AND l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'"""

  // ---------------------------------------------------------------- q16
  /** Part/supplier relationship (adapted: partsupp → distinct lineitem
    * (part, supplier) pairs; NOT IN subquery on supplier kept — lowered
    * by the reference as an anti join edge, QueryGraph.h:505-513
    * makeNotExists). */
  def q16(t: Tables): DataFrame = {
    val excluded = t.supplier.filter(col("s_name").like("%000000009%"))
      .select(col("s_suppkey").as("ex_suppkey"))
    // Part filter BEFORE any dedup (round 13): the brand/type/size
    // predicate keeps ~13% of parts, so joining lineitem to the filtered
    // part first shrinks every downstream stage ~8×.
    val goodParts = t.part
      .filter(col("p_brand") =!= "Brand#1" && !col("p_type").like("MEDIUM%")
        && col("p_size").isin(1, 4, 7, 10, 15, 23, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    // Round 15 (SCALING_TPCH.md): the explicit
    // pair-distinct stage was semantically redundant (count DISTINCT is
    // idempotent to duplicate rows) and its wide exchange carried ~50 B
    // of group-key strings per row. The distinct (brand, type, size)
    // dim is combinatorially bounded — constant in SF — so each group
    // gets a dense int gid dim-side (a window over a dim-sized input,
    // never the fact stream), the fact rows carry (gid, l_suppkey)
    // through the one wide exchange of the distinct-aggregate
    // expansion (12 B keys, int hashing), and a broadcast join on the
    // group-count result restores the strings. sf10: 2.4 s vs 3.4 s
    // shipped r14, 4.9 s committed sweep; the dim/window overhead is a
    // fixed ~0.2 s that shows at sf1 and vanishes into the fact cost
    // from sf10 up. partGid carries one int per surviving part — no
    // broadcast hint, statistics decide, same extreme-SF discipline as
    // q5's supplier side; dim IS hinted (bounded by brand×type×size).
    val dim = goodParts.select(col("p_brand"), col("p_type"), col("p_size")).distinct()
      .withColumn("gid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("p_brand"), col("p_type"), col("p_size"))))
    val partGid = goodParts
      .join(broadcast(dim), Seq("p_brand", "p_type", "p_size"))
      .select(col("p_partkey"), col("gid"))
    t.lineitem.select(col("l_partkey"), col("l_suppkey"))
      .join(partGid, col("p_partkey") === col("l_partkey"))
      .join(excluded, col("l_suppkey") === col("ex_suppkey"), "left_anti")
      .groupBy(col("gid"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .join(broadcast(dim), "gid")
      .select(col("p_brand"), col("p_type"), col("p_size"), col("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps, part
       WHERE p_partkey = l_partkey AND p_brand <> 'Brand#1'
         AND p_type NOT LIKE 'MEDIUM%'
         AND p_size IN (1, 4, 7, 10, 15, 23, 45, 49)
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_name LIKE '%000000009%')
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  // ---------------------------------------------------------------- q17
  /** Small-quantity-order revenue (adapted: p_container absent → brand
    * filter only). Correlated aggregate subquery (avg qty per part)
    * expressed as its decorrelated aggregate-join form. */
  def q17(t: Tables): DataFrame = {
    // Semi-reduce lineitem to Brand#3 parts FIRST (~1/25 of parts at any
    // scale), then the correlated avg-qty subquery is a window avg over
    // the reduced relation — per-part averages are unchanged by the part
    // filter since they only range within a partkey. One lineitem scan,
    // no full-table pre-aggregation (vs aggregating avg qty over ALL
    // parts before filtering).
    t.part.filter(col("p_brand") === "Brand#3")
      .join(t.lineitem, col("p_partkey") === col("l_partkey"))
      .withColumn("half_avg_qty",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))) * 0.5)
      .filter(col("l_quantity") < col("half_avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
       FROM lineitem, part
       WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
         AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                           FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""

  // ---------------------------------------------------------------- q19
  /** Discounted revenue — disjunction of conjunctive range predicates
    * (adapted: p_container clauses dropped). The reference plans this as
    * a join with a post-join OR filter (RelationOp.h:345-347 multi-table
    * filters placed after joins); Spark evaluates it as a join residual. */
  def q19(t: Tables): DataFrame =
    t.lineitem
      .join(t.part, col("p_partkey") === col("l_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
          && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
          && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)
          && col("l_quantity").between(20, 30)))
      .agg(round(sum(revenue(col("l_extendedprice"), col("l_discount"))), 2).as("revenue"))

  val q19Sql: String =
    """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM lineitem, part
       WHERE p_partkey = l_partkey
         AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))"""

  /** name → (query fn, oracle SQL) for SparkEntry registration. */
  val all: Seq[(String, Tables => DataFrame, String)] = Seq(
    ("tpch_q1", q1 _, q1Sql),
    ("tpch_q2", q2 _, q2Sql),
    ("tpch_q3", q3 _, q3Sql),
    ("tpch_q5", q5 _, q5Sql),
    ("tpch_q6", q6 _, q6Sql),
    ("tpch_q7", q7 _, q7Sql),
    ("tpch_q8", q8 _, q8Sql),
    ("tpch_q9", q9 _, q9Sql),
    ("tpch_q10", q10 _, q10Sql),
    ("tpch_q11", q11 _, q11Sql),
    ("tpch_q12", q12 _, q12Sql),
    ("tpch_q13", q13 _, q13Sql),
    ("tpch_q14", q14 _, q14Sql),
    ("tpch_q16", q16 _, q16Sql),
    ("tpch_q17", q17 _, q17Sql),
    ("tpch_q19", q19 _, q19Sql))
}
