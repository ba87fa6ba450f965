package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Ranking, Tables}

/** General OLAP queries (TPC-H-shaped) over the star schema.
  *
  * Scale notes (100 TB): lineitem/orders are the fact tables. Only the
  * FIXED-cardinality dims (nation=25, region=5 rows at any scale factor)
  * carry explicit broadcast hints; tables that scale with SF (customer,
  * part, supplier, orders) are left to AQE, which broadcasts them while
  * they fit and falls back to shuffle joins (with skew handling) when
  * they don't. Aggregations are partial (map-side combine) by
  * construction.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** TPC-H Q1: pricing summary report. */
  def q1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3 (adapted): shipping priority — top 10 undelivered orders by
    * revenue for one market segment. Customer dim is broadcast.
    */
  def q3(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 (adapted): revenue by nation for one region, local suppliers
    * only (c_nationkey = s_nationkey). All dims broadcast.
    */
  def q5(s: SparkSession, dir: String): DataFrame = {
    val dims = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
    t(s, dir, "lineitem")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(dims,
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** Running revenue per customer over order dates (cumulative window). */
  def runningRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
      round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
  }

  /** TPC-H Q4 (adapted): order priority count with EXISTS semi-join. */
  def orderPriority(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    ord.join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Revenue by part brand with a HAVING floor (broadcast part dim). */
  def topParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 50)

  /** TPC-H Q6: forecasting revenue change — single scan, all predicates
    * pushed to the parquet reader.
    */
  def q6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01")
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("cnt"))

  /** TPC-H Q10 (adapted): top returned-item customers by lost revenue. */
  def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q12 (adapted to this schema): line-status priority split. */
  def q12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
          .as("low_line_count"))

  /** TPC-H Q14 (adapted): promo revenue share via conditional aggregation. */
  def q14(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type").startsWith("STANDARD"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0))
          / sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("standard_revenue_pct"))

  /** TPC-H Q19 (adapted): disjunctive multi-attribute predicates — tests
    * OR-of-ANDs pushdown and join-then-filter planning.
    */
  def q19(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("cnt"))

  /** TPC-H Q22 (adapted): customers above the average balance with no
    * RECENT orders — scalar subquery + filtered anti-join.
    */
  def q22(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("avg_bal"))
    val recent = t(s, dir, "orders").filter(col("o_orderdate") >= lit("2000-01-01"))
    cust
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
  }

  /** TPC-H Q13: customer order-count distribution — left outer join with
    * a double aggregation (customers with zero orders included).
    */
  def q13(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))

  /** TPC-H Q2 (adapted — no partsupp table in this schema): cheapest
    * supplier per part. Supply cost of (part, supplier) = min observed
    * unit price over their lineitems; keep the suppliers hitting the
    * per-part minimum (the correlated-min subquery shape, decorrelated
    * into an aggregate + self-join that Catalyst plans as two shuffles on
    * l_partkey — no per-row subquery execution).
    *
    * The part predicate is applied BEFORE the fact aggregate: lineitem is
    * semi-joined against the filtered part keys, so the
    * (l_partkey, l_suppkey) groupBy only shuffles lines of qualifying
    * parts — per-part min cost is unaffected by dropping other parts. No
    * broadcast hint: the filtered part side still grows with the corpus,
    * so the build-vs-shuffle choice is left to AQE's size estimate.
    */
  def q2(s: SparkSession, dir: String): DataFrame = {
    val wantedParts = t(s, dir, "part")
      .filter(col("p_size") <= 5 && col("p_type") === "STANDARD")
    val supply = t(s, dir, "lineitem")
      .join(wantedParts.select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
    // min-cost-per-part as a l_partkey-partitioned window over the
    // aggregated supply (|qualifying parts x suppliers| rows), not a
    // self-join back to the fact — the self-join shape scans lineitem
    // twice because the two branches' pushed filters differ and defeat
    // exchange reuse.
    supply
      .withColumn("min_cost",
        min(col("cost")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))))
      .filter(col("cost") === col("min_cost"))
      .join(wantedParts, col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_name"), graft.functions.Hashing.rd4(col("cost")).as("cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q7 (adapted): bilateral shipping volume between two nations by
    * ship year — double nation-role join (supplier nation × customer
    * nation) with a symmetric OR predicate.
    */
  def q7(s: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nkey"))
      .join(n2, col("c_nationkey") === col("c_nkey"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** TPC-H Q8 (adapted): one nation's market share of a region's part-type
    * market per order year — conditional aggregation over a 6-way join.
    */
  def q8(s: SparkSession, dir: String): DataFrame = {
    val custRegion = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("s_nkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(graft.functions.Hashing.rd4(
        sum(when(col("supp_nation") === "NATION_5", col("volume")).otherwise(0.0))
          / sum(col("volume"))).as("mkt_share"))
  }

  /** TPC-H Q15 (adapted): top supplier(s) by quarterly revenue — the
    * view/CTE-with-scalar-max shape; the 1-row max is broadcast into the
    * filter, never a global sort.
    */
  def q15(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("mx"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** TPC-H Q21 (adapted — no commit/receipt dates in this schema):
    * suppliers who were the ONLY late shipper (>60 days after the order
    * date) on a multi-supplier finalized order.
    *
    * Rather than translating EXISTS/NOT EXISTS into a left-semi plus a
    * left-anti join (which re-shuffles the same lineitem⋈orders
    * projection three times), ONE per-order aggregation answers both
    * predicates: an order contributes iff it has >1 distinct supplier
    * and exactly 1 distinct LATE supplier, in which case all its late
    * lines belong to that sole supplier. The (order, supplier) fold and
    * the per-order census both ride the join's orderkey partitioning —
    * a single Exchange on l_orderkey replaces the r12 shape's three.
    */
  def q21(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
    // Explicit orderkey repartition: HashPartitioning(l_orderkey)
    // satisfies BOTH downstream clusterings ((l_orderkey, l_suppkey) and
    // (l_orderkey)), so the two aggregates share ONE Exchange. Left to
    // itself the first groupBy picks the compound key and the second
    // reshuffles. Map-side combine would not have helped: lineitem has
    // ~1 line per (order, supplier), so raw rows ≈ partial-agged rows.
    val perSupp = lines.repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("any_late"),
        count(when(col("late"), lit(1))).as("n_late_lines"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("any_late"), lit(1L)).otherwise(lit(0L))).as("n_late_supp"),
        max(when(col("any_late"), col("l_suppkey"))).as("late_suppkey"),
        sum(when(col("any_late"), col("n_late_lines")).otherwise(lit(0L)))
          .as("n_late_lines"))
    perOrder
      .filter(col("n_late_supp") === 1 && col("n_supp") > 1)
      .join(t(s, dir, "supplier"), col("late_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_lines")).cast("long").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** TPC-H Q9 (adapted — cost proxy 0.5·p_retailprice·l_quantity replaces
    * the absent partsupp.ps_supplycost): product-line profit by supplier
    * nation and order year.
    *
    * Profit is summed in exact DECIMAL: the inputs are 2-decimal money
    * values, so the per-row term is exact on a 1e-4 grid and group sums
    * are order-independent — double sums here straddle round-half
    * boundaries differently per engine (observed at sf0.01).
    */
  def q9(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(col("p_name").contains("gear")),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(
        col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1) - col("l_discount").cast("decimal(3,2)"))
          - lit(0.5).cast("decimal(2,1)")
            * col("p_retailprice").cast("decimal(12,2)")
            * col("l_quantity").cast("decimal(4,1)")), 2)
        .cast("double").as("profit"))

  /** TPC-H Q11 (adapted — shipped value replaces partsupp stock value):
    * parts whose value supplied by one nation exceeds a fraction of that
    * nation's grand total. The grand total is a 1-row aggregate broadcast
    * into the filter; comparisons use the same 2-decimal grid as the
    * output so both engines make identical keep/drop decisions.
    */
  def q11(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "lineitem")
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("l_partkey"))
      .agg(round(sum(col("l_extendedprice")), 2).as("value"))
    val total = v.agg(round(sum(col("value")) * 0.002, 2).as("threshold"))
    v.crossJoin(broadcast(total))
      .filter(col("value") > col("threshold"))
      .select(col("l_partkey"), col("value"))
  }

  /** TPC-H Q16 (adapted): supplier diversity per part attribute triple,
    * excluding a supplier blacklist — the NOT-IN subquery becomes a
    * left-anti join.
    */
  def q16(s: SparkSession, dir: String): DataFrame = {
    val excluded = t(s, dir, "supplier").filter(col("s_acctbal") < 0.0)
      .select(col("s_suppkey").as("x_suppkey"))
    t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(
          col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)),
        col("l_partkey") === col("p_partkey"))
      .join(excluded, col("l_suppkey") === col("x_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q17: small-quantity-order revenue — the per-part avg-quantity
    * correlated subquery, decorrelated into an aggregate + equi-join.
    * Quantities are integer-valued, so the 0.2·avg threshold is exact on
    * both engines regardless of summation order.
    */
  def q17(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val pa = li.groupBy(col("l_partkey").as("pa_partkey"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_lim"))
    li.join(t(s, dir, "part").filter(col("p_brand") === "Brand#5"),
        col("l_partkey") === col("p_partkey"))
      .join(pa, col("l_partkey") === col("pa_partkey"))
      .filter(col("l_quantity") < col("qty_lim"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("cnt"))
  }

  /** TPC-H Q20 (adapted — shipped-share replaces partsupp availqty):
    * suppliers who shipped over 30% of their all-time quantity of one
    * part family inside a single year (the nested IN subquery becomes a
    * left-semi join; integer-valued quantity sums are exact).
    */
  def q20(s: SparkSession, dir: String): DataFrame = {
    val shipped = t(s, dir, "lineitem")
      .join(t(s, dir, "part").filter(col("p_name").startsWith("red")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(
        sum(when(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01"), col("l_quantity")).otherwise(0.0)).as("q96"),
        sum(col("l_quantity")).as("qall"))
      .filter(col("q96") > lit(0.3) * col("qall"))
    t(s, dir, "supplier")
      .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  /** OLAP cube report: revenue and order counts at every granularity of
    * (order year × priority) in ONE pass — `cube` expands to grouping
    * sets, so Spark computes all four levels (year×priority, year, ALL
    * — priority, grand total) from a single scan+shuffle instead of four
    * queries. Null dims mark subtotal rows, as in ANSI CUBE.
    */
  def cubeReport(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(year(col("o_orderdate")).as("order_year"),
        col("o_orderpriority").as("priority"))
      // exact LONG cents sum (o_totalprice is a 2-dec grid value), the
      // q_rfm/customerRevenue contract: the grand-total cell folds the
      // whole fact table, and a double sum there rounds differently
      // than the oracle's at a .005 boundary (caught by the 10× stress
      // re-green — one cell off by 0.01 at 1.5M orders)
      .agg((sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** TPC-H Q18 (adapted): large-volume orders (HAVING subquery join). */
  def q18(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > 150)
    big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Inter-order gap analysis: days between a customer's consecutive
    * orders (lag window per customer), summarized per market segment —
    * the purchase-cadence read behind retention/replenishment models.
    * Date arithmetic is integer days; the only doubles are rd4 ratios
    * of integer sums. Windows run per customer (co-partitioned with the
    * groupBy); the segment dimension joins broadcast-small.
    */
  def orderGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = t(s, dir, "orders")
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_date").isNotNull)
      .select(col("o_custkey"), datediff(col("o_orderdate"), col("prev_date")).as("gap_days"))
    gaps
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_days").cast("long")).as("total_gap_days"))
      .withColumn("avg_gap_days", graft.functions.Hashing.rd4(
        col("total_gap_days") / col("n_gaps")))
  }

  /** Year-over-year revenue growth per nation: the per-(nation, year)
    * aggregate (grid-rounded) with a lag window per nation — first
    * years report NULL growth rather than being dropped. Facts
    * aggregate before the window; nation is a broadcast dim.
    */
  def yoyGrowth(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("order_year"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("order_year"))
    rev
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("yoy_growth", graft.functions.Hashing.rd4(
        (col("revenue") - col("prev_revenue")) / col("prev_revenue")))
  }

  /** Per-customer revenue aggregate shared by the decile / pareto cuts.
    * The money sum must be EXACT and order-independent — a double sum
    * drifts with partial-aggregation order and, across ~150k customers,
    * lands a few sums close enough to a .005 rounding boundary to round
    * differently than the oracle's sequential sum (observed at sf0.1).
    * Price and discount are 2-dec grid values, so the sum runs in integer
    * 1e-4 units (cents × discount-percent): exact LONG arithmetic with
    * the codegen fast path decimal aggregation lacks (~3× faster here),
    * and the half-up round to cents is integer math — no double-rounding
    * knife edge for DuckDB to disagree with. Revenue lands on the 2-dec
    * grid BEFORE ranking and the tie break is the key, so rank order is
    * deterministic on any engine. Overflow headroom: 1e-4 units overflow
    * LONG at ~9e14 dollars per customer.
    */
  private def customerRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")
          * (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("__e4"))
      // keep the exact integer cents alongside: downstream running sums
      // and share filters stay in LONG arithmetic (order-independent),
      // only display values go through the one exact /100.0 division
      .select(col("o_custkey"), expr("(__e4 + 50) div 100").as("__cents"),
        (expr("(__e4 + 50) div 100") / 100.0).as("revenue"))

  /** The per-customer revenue aggregate, materialized ONCE for reuse: the
    * decile, pareto and RFM-style reports all start from this orders ⋈
    * lineitem aggregate, and a real workload running several of them
    * should pay its fact shuffle once, not once per report (the
    * registered bench queries stay cold-start on purpose — each measures
    * its own full cost). Eager local checkpoint, like MetricStore's
    * materialized rollups: |customers|-sized, partition-distributed, and
    * frozen so every consumer reads the same aggregate. On a
    * multi-executor cluster prefer writing it to a table/checkpoint dir.
    */
  def customerRevenueView(s: SparkSession, dir: String): DataFrame =
    customerRevenue(s, dir).localCheckpoint()

  /** [[revenueDeciles]] over a precomputed [[customerRevenueView]]. */
  def revenueDecilesOf(rev: DataFrame): DataFrame = decilesFrom(rev)

  /** [[paretoCustomers]] over a precomputed [[customerRevenueView]]. */
  def paretoCustomersOf(rev: DataFrame, cut: Double = 0.8): DataFrame =
    paretoFrom(rev, cut)

  /** RFM segmentation: per-customer Recency (last order date),
    * Frequency (order count) and Monetary (total spend), each quartiled
    * with key tie-breaks (1 = best), concatenated into the classic 'rfm'
    * segment code. Quartiles are EXACT NTILE(4) semantics, but the only
    * ranked rows anyone needs are the nine tile boundaries — so they
    * come from [[graft.core.Ranking.boundaryRowsDesc]]'s shuffle-free
    * two-pass selection (three map-side jobs shared by all metrics)
    * and quartile assignment is a map-only broadcast comparison over
    * the checkpointed base: no |customers|-sized sort, window, range
    * shuffle or join anywhere.
    */
  def rfm(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        // exact LONG cents sum (o_totalprice is a 2-dec grid value), like
        // customerRevenue: a double sum is partial-aggregation-ordered and
        // can round differently than the oracle's sequential sum at a
        // .005 boundary, flipping monetary (and the m_score rank) by 0.01
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("monetary"))
      // eager: materialized once BEFORE the three concurrent rank passes
      // below — lazy would let all three threads race into computing it
      .localCheckpoint()
    // Exact NTILE(4) without materializing ranked tables or joining them
    // back: each metric's rank pass runs ONCE just to COLLECT the three
    // tile-boundary tuples (the first (value, custkey) of tiles 2..4 in
    // that metric's total order), then quartile assignment is a map-only
    // broadcast comparison over the checkpointed base — a row's rank is
    // ≥ a boundary's rank iff its (value, key) tuple sorts at-or-after
    // the boundary tuple, because (value desc, custkey) is a TOTAL
    // order. Values compare exactly: every boundary value is collected
    // from the same column it is compared against. Replaces three
    // 100%-of-customers shuffle joins with nine driver-held tuples.
    //
    // r15: the nine tuples come from [[Ranking.boundaryRowsDesc]] — a
    // THREE-JOB shuffle-free exact selection shared by all metrics
    // (approx-percentile brackets, exact count verification, candidate-
    // only collect) instead of three full range-shuffle rank passes; a
    // metric whose bracket fails verification (pathological tie flood
    // past the collect cap) falls back to its exact rank pass. Each
    // metric selects on a LONG total-order twin (epoch days / count /
    // exact cents) but the emitted score expression compares the
    // ORIGINAL column against the boundary row's own value from that
    // column, so assignment arithmetic is unchanged from the rank-pass
    // form.
    // NTILE row split (Ranking.ntileOfRank's contract): first `rem`
    // tiles take q+1 rows, the rest take q
    def boundaryRanks(n: Long): Seq[Long] = {
      val q4 = n / 4; val rem = n % 4
      def firstRankOfTile(t: Long): Long =
        if (t - 1 <= rem) (t - 1) * (q4 + 1) + 1
        else rem * (q4 + 1) + (t - 1 - rem) * q4 + 1
      (2L to 4L).map(firstRankOfTile)
    }
    val metricCols = Seq[(String, org.apache.spark.sql.Column, Int)](
      ("r", col("last_order"), 1), ("f", col("frequency"), 2), ("m", col("monetary"), 3))
    // order-isomorphic LONG twin of last_order under either vintage of
    // the generator schema (DATE or TIMESTAMP_NTZ)
    val recencyNum =
      if (base.schema("last_order").dataType ==
        org.apache.spark.sql.types.DateType) expr("unix_date(last_order)")
      else expr("unix_micros(CAST(last_order AS TIMESTAMP))")
    val selected = Ranking.boundaryRowsDesc(base, col("o_custkey"),
      Seq("r" -> recencyNum, "f" -> col("frequency"),
        "m" -> round(col("monetary") * 100)),
      boundaryRanks)
    def scoreExpr(metric: org.apache.spark.sql.Column,
        bounds: Seq[(Any, Long)], name: String) =
      bounds.foldLeft(lit(1L)) { case (acc, (bv, bk)) =>
        // at-or-after boundary (bv, bk) in (metric desc, custkey asc)
        acc + when(metric < lit(bv) ||
          (metric === lit(bv) && col("o_custkey") >= lit(bk)), 1L).otherwise(0L)
      }.as(name)
    // exact-rank fallback for a metric the selection could not resolve
    def rankPassBounds(metric: org.apache.spark.sql.Column): Seq[(Any, Long)] = {
      val n = base.count()
      val bs = boundaryRanks(n).filter(_ <= n)
      Ranking.withGlobalRank(base, Seq(metric.desc, col("o_custkey")), "__rnk")
        .filter(col("__rnk").isin(bs: _*))
        .select(metric.as("__v"), col("o_custkey"))
        .collect()
        .map(r => (r.get(0), r.getLong(1))).toSeq
    }
    val scores = metricCols.map { case (tag, metric, idx) =>
      val bounds = selected(tag) match {
        case Some(rows) => rows.map(r => (r.get(idx), r.getLong(0)))
        case None => rankPassBounds(metric)
      }
      scoreExpr(metric, bounds, tag match {
        case "r" => "r_score"; case "f" => "f_score"; case _ => "m_score"
      })
    }
    base
      .select(col("o_custkey") +: col("last_order") +: col("frequency") +:
        col("monetary") +: scores: _*)
      .withColumn("segment", concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** Pareto analysis: the smallest customer set covering 80% of revenue.
    * The cumulative sum over the ORDERED per-customer aggregate (revenue
    * desc, key tie-break) runs through [[ranked]] — per-range-partition
    * running sums plus broadcast partial-sum offsets — so the scan is
    * 32-way parallel instead of one unpartitioned window task. The sum
    * runs over the EXACT integer cents (long path — order-independent,
    * no summation-grouping ULPs), so the kept-set filter
    * compares a deterministic double quotient of identical integers on
    * both engines; a double revenue sum here could flip a row whose
    * exclusive share sits within ULPs of the cut. A customer is kept
    * while the share BEFORE them is under the cut, so the row that
    * crosses 80% is included.
    */
  def paretoCustomers(s: SparkSession, dir: String, cut: Double = 0.8): DataFrame =
    paretoFrom(customerRevenue(s, dir), cut)

  /** The customer-revenue aggregate ranked by (revenue desc, custkey):
    * global rank `__rnk`, row total `__tot`, exact cents running sum
    * `cum` and its grand total `tot`, all from ONE range shuffle
    * ([[graft.core.Ranking.withRankAndSums]]) — the input of both the
    * decile and the pareto report.
    */
  private def ranked(rev: DataFrame): DataFrame =
    Ranking.withRankAndSums(rev, Seq(col("revenue").desc, col("o_custkey")), "__rnk",
      Seq((col("__cents"), "cum")),
      totalCol = Some("__tot"), valueTotals = Map("cum" -> "tot"))

  private def paretoFrom(rev: DataFrame, cut: Double): DataFrame =
    ranked(rev)
      .filter((col("cum") - col("__cents")) / col("tot") < cut)
      .select(col("o_custkey"), col("revenue"),
        graft.functions.Hashing.rd4(col("cum") / col("tot")).as("cum_share"))

  /** Customer-value decile report: per-customer revenue → exact NTILE(10)
    * deciles → per-decile volume/revenue summary (the marketing LTV cut).
    * Decile assignment is rank-based via [[graft.core.Ranking]] (range
    * shuffle + broadcast offsets, no unpartitioned window), then a
    * 10-group aggregate.
    */
  def revenueDeciles(s: SparkSession, dir: String): DataFrame =
    decilesFrom(customerRevenue(s, dir))

  private def decilesFrom(rev: DataFrame): DataFrame =
    ranked(rev)
      .withColumn("decile", Ranking.ntileOfRank(10, col("__rnk"), col("__tot")))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        // exact LONG cents sum, carried through from customerRevenue
        (sum(col("__cents")) / 100.0).as("total_revenue"),
        min(col("revenue")).as("min_revenue"),
        max(col("revenue")).as("max_revenue"))

  /** Market-basket affinity: support and lift for part pairs that
    * co-occur in ≥ minSup orders — the association-rules read behind
    * "frequently bought together". The within-order pair explode is
    * bounded by basket size (observed ≤ 11 distinct parts per order in
    * this generator → ≤ 55 pairs
    * per order), so the self-join co-partitions on l_orderkey and
    * never goes quadratic in the fact table; the marginals join is
    * part-keyed. All counts are exact integers; lift =
    * (pair_count · n_orders) / (cnt_a · cnt_b) is one rd4'd division
    * of exact LONG products, and top-k is a TakeOrdered with full key
    * tie-breaks — no global sort at any width. Overflow headroom: the
    * numerator product needs pair_count·n_orders > 9.2e18 to wrap
    * (pair_count ≤ n_orders ⇒ safe below ~3e9 orders; DuckDB errors
    * loudly rather than wrapping if ever exceeded).
    */
  def marketBasket(s: SparkSession, dir: String,
      minSup: Long = 2L, topK: Int = 50): DataFrame = {
    // FULLY CODEGEN shape (r12 A/B): one distinct (order, part)
    // projection feeds an orderkey-equi self-join (a.part < b.part —
    // output bounded by C(basket,2) ≤ 55/order, the AnalyticsViewSpec
    // bound, never quadratic in the fact table), the part-keyed
    // marginals, and the order count. Earlier rounds built per-order
    // arrays with collect_set + an in-row pair transform; that
    // ObjectHashAggregate allocates 1.5M JVM arrays at sf1 and its cost
    // swung 2x with the surrounding JVM's heap pressure, while this
    // join pipeline is whole-stage-codegen'd end to end and measured
    // both faster AND stable (2.5 s vs 3.0–6.4 s at sf1). Marginals are
    // part-count-bounded (≤ #parts) — AQE broadcasts them at bench
    // scale and falls back to a keyed shuffle join if a 100TB parts
    // dimension ever outgrows the broadcast threshold (no hint on
    // purpose); the order total is a 1-row broadcast.
    // distinct under an orderkey-only repartition: HashPartitioning(ok)
    // satisfies the (ok, pk) clustering the dedup aggregate needs AND
    // the self-join's orderkey distribution, so the basket table is
    // exchanged ONCE instead of distinct-keyed then re-exchanged on ok.
    //
    // Exchange-reuse discipline (r13 plan audit: the r12 shape ran the
    // lineitem scan + orderkey repartition FIVE times — 252 tasks /
    // 300 MB shuffled vs 201 / 223 after this fix — because each
    // consumer's subtree canonicalized differently and AQE stage reuse
    // never fired): (a) the isnotnull join-key filters are applied HERE,
    // once, so the self-join sides don't infer extra filters the other
    // consumers lack; (b) the order total keeps l_partkey referenced in
    // its inner aggregate (count(pk), not a pruned distinct-on-ok), so
    // its scan+exchange subtree is byte-identical to dp's and reuses the
    // same shuffle instead of adding a fifth scan.
    val dp = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .repartition(col("l_orderkey"))
      .distinct()
    val pairs = dp.as("a")
      .join(dp.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minSup)
    val marg = dp.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    // the tautological __nparts >= 0 filter is load-bearing: without a
    // consumer of the inner count, the optimizer eliminates it, the
    // branch collapses to a distinct-on-orderkey whose pruned exchange
    // no longer canonically matches dp's, and the totals branch pays
    // its own lineitem scan + shuffle (verified via ProfilePlan: stage
    // 7 re-scanned lineitem before this filter, ReusedExchange after)
    val totals = dp.groupBy(col("l_orderkey"))
      .agg(count(col("l_partkey")).as("__nparts"))
      .filter(col("__nparts") >= 0)
      .agg(count(lit(1)).as("n_orders"))
    pairs
      .join(marg.select(col("l_partkey").as("part_a"), col("cnt").as("cnt_a")), "part_a")
      .join(marg.select(col("l_partkey").as("part_b"), col("cnt").as("cnt_b")), "part_b")
      .crossJoin(broadcast(totals))
      .select(col("part_a"), col("part_b"), col("pair_count"),
        col("cnt_a"), col("cnt_b"),
        graft.functions.Hashing.rd4(
          (col("pair_count") * col("n_orders")) / (col("cnt_a") * col("cnt_b")))
          .as("lift"))
      .orderBy(col("pair_count").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Cohort LTV triangle: customers cohorted by their first-order month,
    * every order billed to its (cohort_month, age_months) cell, per cell
    * the active-customer count and exact-cents revenue — the
    * revenue-retention read behind "how do cohorts decay". Months are
    * exact integer indexes (year·12+month), so cohort and age arithmetic
    * is engine-identical; revenue is the exact LONG cents sum divided
    * once. Scale shape: the first-order table is a per-customer min
    * aggregate (map-side combined, |customers| rows), the triangle is
    * ONE customer-keyed join plus a (cohort, age) aggregate — no windows,
    * no self-joins, shuffles bounded by |orders| then |customers|.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("ym"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("ym")).as("cohort_ym"))
    o.join(first, "o_custkey")
      .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym")).as("age_months"))
      .agg(countDistinct(col("o_custkey")).as("n_active_customers"),
        (sum(col("cents")) / 100.0).as("revenue"))
  }

  /** Supplier concentration per part type: the Herfindahl–Hirschman index
    * over suppliers' revenue shares within each p_type — the
    * supply-chain-risk read ("which part types depend on one supplier").
    * Each supplier's share is snapped once to the 1e-6 grid (one double
    * division of exact longs — identical on both engines), squared and
    * summed as exact integers (Σ share6² ≤ (Σ share6)² = 1e12, no
    * overflow), divided once at the end. Scale shape: lineitem⋈part is
    * the broadcast-dim pattern (AQE falls back to a keyed shuffle if the
    * part dimension outgrows the threshold), then two part-type-keyed
    * aggregates — shares never shuffle raw line items twice.
    */
  def hhiConcentration(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
          .cast("long").as("cents"))
    val sup = li.groupBy(col("p_type"), col("l_suppkey"))
      .agg(sum(col("cents")).as("sc"))
    val tot = sup.groupBy(col("p_type"))
      .agg(sum(col("sc")).as("tot"), count(lit(1)).as("n_suppliers"))
    sup.join(tot, "p_type")
      .select(col("p_type"), col("n_suppliers"),
        floor(col("sc").cast("double") / col("tot").cast("double") * 1000000.0 + 0.5)
          .cast("long").as("share6"))
      .groupBy(col("p_type"), col("n_suppliers"))
      .agg(sum(col("share6") * col("share6")).as("q6"))
      .select(col("p_type"), col("n_suppliers"),
        graft.functions.Hashing.rd4(col("q6").cast("double") / 1.0e12).as("hhi"))
  }

  /** Top-3 customers by order revenue within every nation — windowed
    * top-k per group WITHOUT a per-nation window: nation cardinality is
    * fixed (25), so `PARTITION BY nation ORDER BY revenue` would sort
    * 1/25th of the customer base in ONE task (the one-task-per-language
    * hazard the ranking machinery exists to kill). The per-nation rank
    * comes from [[graft.core.Ranking.withRunningSum]] (value 1 ⇒
    * consecutive per-stratum rank; a nation spans many partitions).
    * Revenue is an exact cents sum; nation is a fixed-size broadcast.
    */
  def topCustomersPerNation(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val rev = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("cents"))
    val j = rev
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("o_custkey").as("custkey"), col("cents"))
      // the two-phase rank scans its input twice (range histogram, then
      // the ranked pass); freezing the per-customer projection (one row
      // per customer-with-orders — orders of magnitude smaller than the
      // fact table) runs the join subtree once instead of twice
      .localCheckpoint()
    Ranking.withRunningSum(j, Some("nation"),
      Seq(col("cents").desc, col("custkey")), lit(1L), "rnk")
      .filter(col("rnk") <= k)
      .select(col("nation"), col("rnk"), col("custkey"),
        (col("cents").cast("double") / 100.0).as("revenue"))
  }

  /** Discount elasticity per part type: OLS slope of line-item quantity
    * against discount — "does discounting move volume, and where" (the
    * pricing-team read). Closed-form slope from EXACT integer sums
    * (quantity is integer-valued, discount lives on the 0.01 grid →
    * ×100 longs), one double division at the end, rescaled to
    * quantity-per-full-discount-unit; the [[graft.core.Tsdb]]
    * capacity-forecast arithmetic applied to a fact⋈dim join (part
    * broadcasts under AQE, the aggregation is map-side partial on the
    * bounded p_type key). Degenerate groups (no discount variance)
    * are dropped.
    */
  def discountElasticity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("p_type"),
        floor(col("l_discount") * 100.0 + 0.5).cast("long").as("x"),
        floor(col("l_quantity") + 0.5).cast("long").as("y"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2L &&
        (col("n") * col("sxx") - col("sx") * col("sx")) =!= 0L)
      .select(col("p_type"), col("n"),
        graft.functions.Hashing.rd4(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")) * 100.0)
          .as("qty_per_discount_unit"))

  /** Skyline (Pareto frontier) of parts: minimize retail price, maximize
    * size — no other part is both cheaper-or-equal and bigger-or-equal
    * with one strict. Sort-based sweep, not a quadratic dominance join:
    * collapse to per-price-group max size (one map-side-combine
    * aggregate over the distinct-price grid), take the EXCLUSIVE prefix
    * max over strictly-cheaper groups via [[graft.core.Ranking
    * .withRunningMax]] (range shuffle + broadcast offsets — no
    * unpartitioned window), then a part survives iff it is its price
    * group's max size AND beats every cheaper group's max. Equal-price
    * equal-size ties all survive (neither dominates — dominance needs
    * one strict inequality). Prices ride the exact cents grid.
    */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    val pr = t(s, dir, "part").select(
      col("p_partkey"),
      floor(col("p_retailprice") * 100.0 + 0.5).cast("long").as("pc"),
      col("p_size").cast("long").as("sz"))
    val g = pr.groupBy(col("pc")).agg(max(col("sz")).as("gmax"))
    val gm = Ranking.withRunningMax(g, Seq(col("pc")), col("gmax"), "prevmax")
    pr.join(gm, Seq("pc"))
      .filter(col("sz") === col("gmax") &&
        (col("prevmax").isNull || col("sz") > col("prevmax")))
      .select(col("p_partkey"),
        (col("pc").cast("double") / 100.0).as("price"),
        col("sz").as("size"))
  }
}
