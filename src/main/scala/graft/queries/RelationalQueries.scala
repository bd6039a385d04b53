package graft.queries

import graft.GraftConf
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational query surface — the downstream analytics layer the
  * reference delegates to Spark (reference `README.md:27-33`,
  * `docs/introduction.rst:110-113`; see SURVEY.md §2 tail + §7.1 `queries`).
  *
  * Scale notes (100 TB design intent):
  *  - fact-side filters appear before joins so Catalyst pushes them into the
  *    parquet scan (verify with `.explain`: PushedFilters / ReadSchema);
  *  - dimension tables (region/nation/supplier/customer/part) are explicitly
  *    `broadcast()`-hinted — at warehouse scale these stay O(MB..GB) while
  *    facts are O(TB), so every dim join is a map-side hash join, no shuffle;
  *  - aggregates are plain `groupBy.agg` → Spark performs partial (map-side)
  *    aggregation automatically; the only shuffles left are the final
  *    group-by-key exchanges, which AQE coalesces at runtime.
  *
  * Oracle-parity notes: money math is done in exact DECIMAL so the sum is
  * order-independent (double summation is not associative — hash-compare vs
  * DuckDB would flake), then cast to DOUBLE at the output edge.
  */
object RelationalQueries {

  /** `l_extendedprice` as an exact decimal: values are 2-dp. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  /** Exact revenue term: price * (1 - discount), all in decimal. */
  private def revenue: Column =
    (dec(col("l_extendedprice")) * (lit(1).cast("decimal(3,2)") - dec(col("l_discount")).cast("decimal(3,2)")))
  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1-style pricing summary: scan-heavy, pure partial-agg pipeline.
    * At 100 TB this is the canonical "one pass over the fact table" query:
    * only 8 of 11 lineitem columns are read (column pruning) and the
    * group-by cardinality is tiny (|flag|x|status| ~ 6), so the shuffle
    * after partial aggregation moves a few KB regardless of input size. */
  def q1(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(revenue).cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(REVEXPR) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q3
  /** TPC-H Q3-style: selective dim filter -> broadcast join -> top-N.
    * customer is filtered then broadcast (a 1/5 mktsegment slice of the
    * customer dim is small even at SF-100k); orders/lineitem join shuffles
    * on orderkey — both sides are pre-filtered so the shuffle carries only
    * the date-qualified slice. Top-N uses a total order with a unique
    * tie-break key so LIMIT is deterministic for the oracle. */
  def q3(spark: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1997-03-15").cast("timestamp")
    val c = customer(spark, d).filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = orders(spark, d).filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = lineitem(spark, d).filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), revenue.as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .withColumn("o_orderdate_ms", unix_millis(col("o_orderdate").cast("timestamp")))
      .drop("o_orderdate")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderpriority,
      |  CAST(SUM(REVEXPR) AS DOUBLE) AS revenue,
      |  epoch_ms(o_orderdate) AS o_orderdate_ms
      |FROM lineitem, orders, customer
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1997-03-15'
      |  AND l_shipdate  > TIMESTAMP '1997-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q5
  /** TPC-H Q5-style star join: region->nation->(customer,supplier) are all
    * broadcast; the only shuffle is lineitem x orders on orderkey plus the
    * final tiny group-by. The c_nationkey = s_nationkey condition rides on
    * the broadcast hash join of the supplier dim. */
  def q5(spark: SparkSession, d: String): DataFrame = {
    val n = nation(spark, d).join(
      broadcast(region(spark, d).filter(col("r_name") === "ASIA")),
      col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val c = customer(spark, d).join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val s = supplier(spark, d).select("s_suppkey", "s_nationkey")
    val o = orders(spark, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    lineitem(spark, d)
      .select(col("l_orderkey"), col("l_suppkey"), revenue.as("rev"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
                          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
  }

  val q5Sql: String =
    """SELECT n_name, CAST(SUM(REVEXPR) AS DOUBLE) AS revenue
      |FROM lineitem, orders, customer, supplier, nation, region
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY n_name""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q7
  /** TPC-H Q7-style volume shipping: bilateral trade (supplier nation ↔
    * customer nation) by ship year for two chosen nations. The classic
    * many-dim star: the fact table (lineitem) is scanned ONCE and every
    * other input — orders is keyed fact-sized in real TPC-H, but the
    * nation-filtered customer/supplier sides here — broadcasts, so the
    * only big exchange is the lineitem↔orders key join; the nation-pair
    * filter applies BEFORE the join via the broadcast hash sides (row
    * reduction at the scan, not post-join). Exact decimal money, double at
    * the edge. */
  def q7(spark: SparkSession, d: String): DataFrame = {
    val picked = Seq("NATION_3", "NATION_7")
    val n = nation(spark, d)
      .filter(col("n_name").isInCollection(picked))
      .select(col("n_nationkey"), col("n_name"))
    val s = supplier(spark, d)
      .join(broadcast(n.select(col("n_nationkey").as("sk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sk"))
      .select("s_suppkey", "supp_nation")
    val c = customer(spark, d)
      .join(broadcast(n.select(col("n_nationkey").as("ck"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("ck"))
      .select("c_custkey", "cust_nation")
    val o = orders(spark, d).select("o_orderkey", "o_custkey")
    lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"), revenue.as("rev"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
  }

  val q7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    year(l_shipdate) AS l_year, REVEXPR AS volume
      |  FROM lineitem, orders, customer, supplier, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND n1.n_name IN ('NATION_3', 'NATION_7')
      |    AND n2.n_name IN ('NATION_3', 'NATION_7')
      |    AND n1.n_name <> n2.n_name
      |    AND l_shipdate >= TIMESTAMP '1995-01-01'
      |    AND l_shipdate <  TIMESTAMP '1997-01-01')
      |GROUP BY 1, 2, 3""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q13
  /** TPC-H Q13-style customer distribution: how many customers placed k
    * orders (k = 0 included — the LEFT join is the point). Two-phase
    * aggregation: phase 1 shuffles on the join/group key (custkey — both
    * sides large, a legitimate sort-merge), phase 2 groups by the tiny
    * order-count domain, so the second exchange moves |distinct k| rows.
    * The zero bucket cannot be produced by any inner-join formulation —
    * it is the classic "count absent children" outer-join shape. */
  def q13(spark: SparkSession, d: String): DataFrame = {
    // Orders pre-aggregate per customer BEFORE the outer join (guide §2.3
    // aggregate-before-you-shuffle): the join-then-group form shuffled
    // every joined order row on c_custkey; the per-custkey counts combine
    // map-side, so the exchange moves <= one row per (custkey, map split)
    // and the post-join group-by-custkey disappears. o_orderkey is never
    // null, so count(o_orderkey) per customer == the pre-agg count, with
    // order-less customers restored by coalesce(.., 0) — same rows.
    // raw scan: the first shuffle here is the o_custkey aggregate, so the
    // o_orderkey-keyed fixture rebalance can never be reused (tableRaw
    // opt-out pattern)
    val perCust = ordersRaw(spark, d)
      .filter(!col("o_orderpriority").startsWith("1-URGENT"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    customer(spark, d).select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-URGENT%'
      |  GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  // ---------------------------------------------------------------- q10
  /** TPC-H Q10-style returned-item ranking: revenue lost to returns per
    * customer in a quarter, top 20. Fact scan with pushed returnflag +
    * date predicates → one key join to the (filtered) orders → broadcast
    * customer attributes onto the 20-row result is the real-cluster plan;
    * here customer broadcasts pre-agg (it is dim-sized). Top-k is
    * TakeOrderedAndProject, never a global sort. */
  def q10(spark: SparkSession, d: String): DataFrame = {
    val o = orders(spark, d)
      .filter(col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val rev = lineitem(spark, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revenue.as("rev"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).as("drev"))
    rev.join(broadcast(customer(spark, d)
        .select("c_custkey", "c_name", "c_acctbal")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"),
        col("drev").cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
      |  CAST(SUM(REVEXPR) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1995-10-01'
      |  AND o_orderdate <  TIMESTAMP '1996-01-01'
      |  AND l_returnflag = 'R'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q18
  /** TPC-H Q18-style large-volume customers: orders whose total lineitem
    * quantity clears a threshold, with the buyer attached. The classic
    * aggregate-HAVING semi-join: the fact table aggregates FIRST (one
    * map-side-combinable shuffle on orderkey, quantities in exact
    * decimal), the tiny surviving set then joins orders and broadcast
    * customer — never orders x lineitem before the filter. Top-k by
    * quantity is TakeOrdered. */
  private val Q18MinQty = 300
  def q18(spark: SparkSession, d: String): DataFrame = {
    val bulky = lineitem(spark, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > Q18MinQty)
    // the bulky set is tiny at ANY scale (the quantity filter is Q18's
    // point), but the optimizer can't see that through the aggregate:
    // left unhinted it broadcasts ORDERS instead at 16x sf0.1 — whose
    // pruned-column size estimate slips under the threshold while its ROW
    // count is the full fact table (a 4.6M-entry driver hash build,
    // caught by ScaleProbe); at warehouse scale the unhinted plan decays
    // further, to a full SMJ of orders against the 0.3%-selectivity agg
    broadcast(bulky)
      .join(orders(spark, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(spark, d).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  val q18Sql: String =
    s"""WITH bulky AS (
       |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
       |  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > $Q18MinQty)
       |SELECT c_custkey, c_name, o_orderkey,
       |  ROUND(o_totalprice, 2) AS o_totalprice,
       |  CAST(total_qty AS DOUBLE) AS total_qty
       |FROM bulky, orders, customer
       |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
       |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q6
  /** TPC-H Q6-style: the pure-pushdown query. All three predicates reach the
    * parquet scan as PushedFilters; output is a single row — zero shuffle
    * beyond the final partial-agg gather. */
  def q6(spark: SparkSession, d: String): DataFrame =
    lineitemRaw(spark, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")).cast("decimal(3,2)"))
        .cast("double").as("revenue"))

  val q6Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                CAST(CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(3,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- q4
  /** TPC-H Q4-style EXISTS via left-semi join: the semi join shuffles both
    * sides on orderkey but materializes nothing from the lineitem side —
    * at scale the semi-join build side is only the distinct orderkeys. */
  def q4(spark: SparkSession, d: String): DataFrame = {
    val o = orders(spark, d)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1996-10-01").cast("timestamp"))
    val l = lineitem(spark, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey")
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate <  TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- window top-n
  /** Per-group top-N via ranked window — the scalable idiom for "top 3 parts
    * per brand" (shuffle on the partition key once, no self-join). Unique
    * tie-break on p_partkey keeps the result deterministic. */
  def topnWindow(spark: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    part(spark, d)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  val topnWindowSql: String =
    """SELECT p_brand, p_partkey, p_retailprice, rk FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand
      |                       ORDER BY p_retailprice DESC, p_partkey) AS rk
      |  FROM part) WHERE rk <= 3""".stripMargin

  // ---------------------------------------------------------------- rollup
  /** Multi-level aggregate via ROLLUP (region -> nation -> total): one
    * shuffle, grouping-sets expansion handled by Catalyst's Expand node. */
  def rollupRevenue(spark: SparkSession, d: String): DataFrame = {
    val n = nation(spark, d).join(broadcast(region(spark, d)),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
    customer(spark, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_acctbal"),
           count(lit(1)).as("n_customers"))
  }

  val rollupRevenueSql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
      |  COUNT(*) AS n_customers
      |FROM customer, nation, region
      |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  // ---------------------------------------------------------------- q8
  /** TPC-H Q8-style national market share: NATION_5's share of ASIA's PROMO
    * part volume by order year. Every non-fact input broadcasts (filtered
    * part, customer tagged with its region via broadcast nation/region), so
    * the only exchanges are lineitem↔orders on orderkey and the tiny
    * per-year gather. The share is a ratio of two exact decimal sums,
    * divided in double at the edge — order-independent either way. */
  def q8(spark: SparkSession, d: String): DataFrame = {
    val n = nation(spark, d).join(
      broadcast(region(spark, d).filter(col("r_name") === "ASIA")),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = customer(spark, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val p = part(spark, d).filter(col("p_type") === "PROMO").select("p_partkey")
    val o = orders(spark, d).select(col("o_orderkey"), col("o_custkey"),
      year(col("o_orderdate")).as("o_year"))
    lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey"), revenue.as("vol"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_year"))
      .agg((sum(when(col("n_name") === "NATION_5", col("vol"))
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
            sum(col("vol")).cast("double")).as("mkt_share"))
  }

  val q8Sql: String =
    """SELECT o_year,
      |  CAST(SUM(CASE WHEN n_name = 'NATION_5' THEN vol ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(SUM(vol) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT year(o_orderdate) AS o_year, REVEXPR AS vol, n_name
      |  FROM part, lineitem, orders, customer, nation, region
      |  WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
      |    AND o_custkey = c_custkey AND c_nationkey = n_nationkey
      |    AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      |    AND p_type = 'PROMO')
      |GROUP BY o_year""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q12
  /** TPC-H Q12-style (adapted: the fixture lacks shipmode/commit/receipt
    * dates, so "late" = shipped >60 days after the order date, "very late"
    * = >120). Per order priority, count late vs very-late lines — the
    * two-branch conditional-SUM shape of the original. One orderkey join
    * (both sides fact-sized → legitimate shuffle), then a 5-row group. */
  def q12(spark: SparkSession, d: String): DataFrame = {
    // raw scan: this side rides a BroadcastExchange, so the fixture
    // rebalance was a full-table shuffle feeding a broadcast — pure waste
    // (the tableRaw opt-out pattern; q6/q15/q17/q22 precedent)
    val o = ordersRaw(spark, d).select("o_orderkey", "o_orderdate", "o_orderpriority")
    lineitem(spark, d).select("l_orderkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"), 1)
          .otherwise(0)).as("very_late_count"),
        sum(when(col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 120 DAYS"), 1)
          .otherwise(0)).as("late_count"))
  }

  val q12Sql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN l_shipdate >  o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS BIGINT) AS very_late_count,
      |  CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_count
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q14
  /** TPC-H Q14-style promotion effect: PROMO parts' share of one month's
    * revenue. Part broadcasts; the date predicate is pushed into the fact
    * scan; output is one row. Same exact-decimal-ratio edge as q8. */
  def q14(spark: SparkSession, d: String): DataFrame =
    lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1996-04-01").cast("timestamp"))
      .select(col("l_partkey"), revenue.as("rev"))
      .join(broadcast(part(spark, d).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
        sum(col("rev")).cast("double")).as("promo_revenue"))

  val q14Sql: String =
    """SELECT 100.0 *
      |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN REVEXPR ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |  / CAST(SUM(REVEXPR) AS DOUBLE) AS promo_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-03-01'
      |  AND l_shipdate <  TIMESTAMP '1996-04-01'""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q15
  /** TPC-H Q15-style top supplier: the supplier(s) whose quarter revenue
    * equals the maximum. The per-supplier aggregate shuffles once on
    * suppkey; its one-row max then joins back BROADCAST (never a
    * single-partition window — supplier cardinality is unbounded at
    * warehouse scale). Exact decimal revenue makes "equals max" stable. */
  def q15(spark: SparkSession, d: String): DataFrame = {
    val rev = lineitemRaw(spark, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revenue).as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(top), col("total_revenue") === col("max_revenue"))
      .join(broadcast(supplier(spark, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
  }

  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey, SUM(REVEXPR) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM rev, supplier
      |WHERE l_suppkey = s_suppkey
      |  AND total_revenue = (SELECT MAX(total_revenue) FROM rev)""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q17
  /** TPC-H Q17-style small-quantity revenue (adapted: brand + size stands
    * in for the missing container). "Below half the part's average
    * quantity" is decided integer-exactly: qty < sum/(2*cnt) ⟺
    * 2*qty*cnt < sum, so no double average ever exists.
    *
    * ONE lineitem pass: the per-part average and the probe read the same
    * brand-filtered rows, so the aggregate-then-rejoin formulation scanned
    * lineitem twice (the column-pruned scans differ, so neither the scan
    * nor its exchange dedup via ReuseExchange — the r12 before-plan shows
    * both subtrees executing). A window over l_partkey computes the same
    * (sum_qty, cnt) on the selective post-broadcast-join slice and shuffles
    * only that slice — at warehouse scale one full fact scan replaces two,
    * the new exchange carrying just the brand's rows. */
  def q17(spark: SparkSession, d: String): DataFrame = {
    val p = part(spark, d)
      .filter(col("p_brand") === "Brand#3" && col("p_size") < 10)
      .select("p_partkey")
    val w = Window.partitionBy(col("l_partkey"))
    lineitemRaw(spark, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("sum_qty", sum(dec(col("l_quantity"))).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(dec(col("l_quantity")) * 2 * col("cnt") < col("sum_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem, part,
      |  (SELECT l_partkey AS agg_partkey,
      |     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty, COUNT(*) AS cnt
      |   FROM lineitem, part
      |   WHERE l_partkey = p_partkey AND p_brand = 'Brand#3' AND p_size < 10
      |   GROUP BY 1) agg
      |WHERE p_partkey = l_partkey AND agg_partkey = l_partkey
      |  AND p_brand = 'Brand#3' AND p_size < 10
      |  AND CAST(l_quantity AS DECIMAL(18,2)) * 2 * cnt < sum_qty""".stripMargin

  // ---------------------------------------------------------------- q19
  /** TPC-H Q19-style discounted revenue: three (brand, size-range,
    * qty-range) branches OR'd together — the disjunctive-pushdown probe.
    * The part side pre-filters to the union of brands and broadcasts; the
    * residual OR evaluates inside the hash join. One row out. */
  def q19(spark: SparkSession, d: String): DataFrame = {
    val p = part(spark, d)
      .filter(col("p_brand").isInCollection(Seq("Brand#12", "Brand#23", "Brand#34")))
      .select("p_partkey", "p_brand", "p_size")
    val branch = (
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(10, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(20, 35) &&
        col("l_quantity").between(20, 30)))
    lineitem(spark, d)
      .select(col("l_partkey"), col("l_quantity"), revenue.as("rev"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(sum(col("rev")).cast("double").as("revenue"))
  }

  val q19Sql: String =
    """SELECT CAST(SUM(REVEXPR) AS DOUBLE) AS revenue
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND (
      |     (p_brand = 'Brand#12' AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 11)
      |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 20)
      |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 35 AND l_quantity BETWEEN 20 AND 30))""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q21
  /** TPC-H Q21-style waiting suppliers (adapted: "late" = shipped >60 days
    * after the order date). A supplier "kept an order waiting" when its
    * line was the ONLY late one in a multi-supplier order — the classic
    * EXISTS / NOT-EXISTS pair, expressed distributively as per-order
    * supplier counts (total distinct suppliers > 1, late suppliers = 1)
    * instead of correlated subqueries: two keyed aggregates + one orderkey
    * join, no per-row re-probes. Top 20 by wait count. */
  def q21(spark: SparkSession, d: String): DataFrame = {
    // ONE pass derives everything: per (order, supplier) whether any line
    // was late, then per order the supplier count, late count and the
    // lone late supplier — three keyed aggregates chained on shrinking
    // data, instead of recomputing the late-pair stream per predicate
    // (the naive EXISTS/NOT-EXISTS translation scanned lineitem three
    // times and ran six exchanges; this shape halved the sf0.1 time).
    val pairLate = lineitem(spark, d)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(orders(spark, d).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1)
        .otherwise(0)).as("is_late"))
    val perOrder = pairLate
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(col("is_late")).as("n_late"),
        min(when(col("is_late") === 1, col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    perOrder
      .join(broadcast(supplier(spark, d).select("s_suppkey", "s_name")),
        col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q21Sql: String =
    """WITH late AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY),
      |order_supps AS (
      |  SELECT l_orderkey AS ok, COUNT(DISTINCT l_suppkey) AS n_supp
      |  FROM lineitem GROUP BY 1),
      |late_supps AS (
      |  SELECT l_orderkey AS ok2, COUNT(*) AS n_late FROM late GROUP BY 1)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM late, order_supps, late_supps, supplier
      |WHERE l_orderkey = ok AND l_orderkey = ok2
      |  AND n_supp > 1 AND n_late = 1
      |  AND s_suppkey = l_suppkey
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q22
  /** TPC-H Q22-style dormant high-balance customers (adapted: a nationkey
    * subset stands in for the missing phone country codes; "dormant" = no
    * order since 1999). The global positive-balance average is compared
    * integer-exactly (bal*cnt > sum — no double average), its one row
    * broadcast; dormancy is a shuffle anti-join of customer against the
    * date-filtered orders keys. Output: per-nation count + total balance. */
  def q22(spark: SparkSession, d: String): DataFrame = {
    val picked = Seq(1, 3, 5, 7, 9)
    val c = customer(spark, d)
      .filter(col("c_nationkey").isInCollection(picked))
      .select(col("c_custkey"), col("c_nationkey"), dec(col("c_acctbal")).as("bal"))
    val avgRow = c.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("sum_bal"), count(lit(1)).as("cnt_bal"))
    val recent = ordersRaw(spark, d)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select("o_custkey")
    c.join(broadcast(avgRow))
      .filter(col("bal") * col("cnt_bal") > col("sum_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal")).cast("double").as("totacctbal"))
  }

  val q22Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      |  FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)),
      |a AS (
      |  SELECT SUM(bal) AS sum_bal, COUNT(*) AS cnt_bal FROM c WHERE bal > 0)
      |SELECT c_nationkey, COUNT(*) AS numcust,
      |  CAST(SUM(bal) AS DOUBLE) AS totacctbal
      |FROM c, a
      |WHERE bal * cnt_bal > sum_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY c_nationkey""".stripMargin

  // ------------------------------------------------------------ partsupp
  /** Derived part-supplier dim: the fixture ships no partsupp table, so the
    * TPC-H shapes that need one (q2/q9/q11/q16/q20) run against a
    * DETERMINISTIC derivation both engines rebuild identically — 4
    * suppliers per part, `(p + 7j + p DIV 13) mod |supplier|` (injective
    * for the fixture's supplier counts: gcd(7, S) = 1 and 4 ≤ S), integer
    * availqty and supply-cost-in-cents formulas. Cents stay integers
    * through every aggregate — division by 100 happens only at double
    * output edges — so all five oracles hash-check exactly. */
  private def partsupp(spark: SparkSession, d: String): DataFrame = {
    val sCnt = supplier(spark, d).agg(count(lit(1)).as("S"))
    part(spark, d).select(col("p_partkey"))
      .crossJoin(broadcast(sCnt))
      .select(col("p_partkey"), explode(sequence(lit(0), lit(3))).as("j"), col("S"))
      .select(
        col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") + col("j") * 7 + expr("p_partkey DIV 13")) % col("S"))
          .as("ps_suppkey"),
        ((col("p_partkey") * 7 + col("j") * 11) % 9999 + 1).as("ps_availqty"),
        ((col("p_partkey") * 13 + col("j") * 17) % 100000 + 1)
          .as("ps_supplycost_cents"))
  }

  private val psSql: String =
    """ps AS (SELECT p_partkey AS ps_partkey,
      |         (p_partkey + j * 7 + p_partkey // 13) % S AS ps_suppkey,
      |         (p_partkey * 7 + j * 11) % 9999 + 1 AS ps_availqty,
      |         (p_partkey * 13 + j * 17) % 100000 + 1 AS ps_supplycost_cents
      |       FROM part, (SELECT unnest(generate_series(0, 3)) AS j),
      |            (SELECT COUNT(*) AS S FROM supplier))""".stripMargin

  // ---------------------------------------------------------------- q2
  /** TPC-H Q2-style minimum-cost supplier: for each qualifying part, the
    * EUROPE supplier(s) quoting the minimum supply cost — the correlated
    * min-subquery decorrelated into a per-part aggregate joined back
    * (both sides dim-sized; everything broadcasts). Integer cents make
    * "equals min" exact. */
  def q2(spark: SparkSession, d: String): DataFrame = {
    val n = nation(spark, d).join(
      broadcast(region(spark, d).filter(col("r_name") === "EUROPE")),
      col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val s = supplier(spark, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val p = part(spark, d)
      .filter(col("p_size") === 15)
      .select("p_partkey")
    val offers = partsupp(spark, d)
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(s), col("ps_suppkey") === col("s_suppkey"))
    val minCost = offers.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("ps_supplycost_cents")).as("min_cents"))
    offers.join(broadcast(minCost),
        col("p_partkey") === col("mk") &&
          col("ps_supplycost_cents") === col("min_cents"))
      .select(round(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"),
        col("n_name"), col("p_partkey"),
        (col("ps_supplycost_cents").cast("double") / 100).as("supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(20)
  }

  val q2Sql: String =
    s"""WITH $psSql
       |SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
       |  CAST(ps_supplycost_cents AS DOUBLE) / 100 AS supplycost
       |FROM ps, part, supplier, nation, region
       |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
       |  AND p_size = 15
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'EUROPE'
       |  AND ps_supplycost_cents = (
       |    SELECT MIN(ps2.ps_supplycost_cents) FROM ps ps2, supplier s2,
       |      nation n2, region r2
       |    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
       |      AND s2.s_nationkey = n2.n_nationkey
       |      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q9
  /** TPC-H Q9-style product-type profit: per supplier nation and order
    * year, revenue minus supply cost for STANDARD parts. The fact scans
    * once; part/supplier broadcast. partsupp is fact-scale (4 rows per
    * part — ~8B rows at 100x), so it must NEVER be a broadcast build
    * side: it is pruned to the STANDARD slice by the same broadcast part
    * dim the fact uses, then joined on the composite key as a pinned
    * shuffle-hash join — the shape that survives warehouse scale (both
    * sides already pruned, no sort, partition-local builds).
    * Profit = exact decimal revenue minus exact integer cost-cents,
    * subtracted in double only at the output edge. */
  def q9(spark: SparkSession, d: String): DataFrame = {
    val p = part(spark, d).filter(col("p_type") === "STANDARD").select("p_partkey")
    val s = supplier(spark, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(nation(spark, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    // Size-gated broadcast with the shuffle-hash fallback (the row-bounded
    // dim-broadcast pattern the event queries use): ps has exactly
    // 4 * |part| rows by construction, so the gate needs no extra Spark job
    // — and the explode-derived plan defeats the planner's size estimate,
    // which is why this was a hint rather than an automatic choice. Within
    // the bound, broadcasting removes BOTH fact-side exchanges (lineitem
    // re-shuffled by (partkey, suppkey) + the ps shuffle); beyond it —
    // partsupp is SF-sized — the shuffled hash join is the scale plan.
    val psRows = 4L * CountMemo.getOrCompute(spark, ("part-count", d))(
      part(spark, d).count())
    val maxPsBroadcastRows = GraftConf.RelationalMaxBroadcastRows.get(spark)
    val psBase = partsupp(spark, d)
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
      .select("ps_partkey", "ps_suppkey", "ps_supplycost_cents")
    val ps = if (psRows <= maxPsBroadcastRows) broadcast(psBase)
             else psBase.hint("shuffle_hash")
    val o = orders(spark, d).select(col("o_orderkey"),
      year(col("o_orderdate")).as("o_year"))
    lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), revenue.as("rev"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg((sum(col("rev")).cast("double") -
        sum(col("ps_supplycost_cents") * col("l_quantity").cast("long"))
          .cast("double") / 100).as("profit"))
  }

  val q9Sql: String =
    s"""WITH $psSql
       |SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |  CAST(SUM(REVEXPR) AS DOUBLE)
       |    - CAST(SUM(ps_supplycost_cents * CAST(l_quantity AS BIGINT)) AS DOUBLE)
       |      / 100 AS profit
       |FROM lineitem, orders, part, ps, supplier, nation
       |WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
       |  AND l_partkey = ps_partkey AND l_suppkey = ps_suppkey
       |  AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |  AND p_type = 'STANDARD'
       |GROUP BY 1, 2""".stripMargin
      .replace("REVEXPR", revenueSql)

  // ---------------------------------------------------------------- q11
  /** TPC-H Q11-style important stock: parts whose stock value (cost x
    * availqty, exact cents) in the chosen nations exceeds TWICE the
    * average part's — the HAVING-vs-scalar-subquery shape, decided
    * integer-exactly as `value * n_parts > 2 * total`. (The original's
    * fixed 0.1%-of-total threshold empties as the part count grows — TPC-H
    * itself scales it by 1/SF; an average-relative cut is sf-invariant.)
    * Both aggregates are map-side-combinable; the one-row total
    * broadcasts. */
  def q11(spark: SparkSession, d: String): DataFrame = {
    val picked = Seq(1, 3, 5)
    val s = supplier(spark, d)
      .filter(col("s_nationkey").isInCollection(picked))
      .select("s_suppkey")
    val values = partsupp(spark, d)
      .join(broadcast(s), col("ps_suppkey") === col("s_suppkey"))
      .select(col("ps_partkey"),
        (col("ps_supplycost_cents") * col("ps_availqty")).as("v"))
    val perPart = values.groupBy(col("ps_partkey"))
      .agg(sum(col("v")).as("value_cents"))
    val total = values.agg(sum(col("v")).as("total_cents"),
      countDistinct(col("ps_partkey")).as("n_parts"))
    perPart.join(broadcast(total))
      .filter(col("value_cents") * col("n_parts") > col("total_cents") * 2)
      .select(col("ps_partkey"),
        (col("value_cents").cast("double") / 100).as("stock_value"))
  }

  val q11Sql: String =
    s"""WITH $psSql,
       | v AS (SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS v
       |       FROM ps, supplier
       |       WHERE ps_suppkey = s_suppkey AND s_nationkey IN (1, 3, 5)),
       | t AS (SELECT CAST(SUM(v) AS BIGINT) AS total_cents,
       |              COUNT(DISTINCT ps_partkey) AS n_parts FROM v)
       |SELECT ps_partkey, CAST(value_cents AS DOUBLE) / 100 AS stock_value
       |FROM (SELECT ps_partkey, CAST(SUM(v) AS BIGINT) AS value_cents
       |      FROM v GROUP BY 1), t
       |WHERE value_cents * n_parts > total_cents * 2""".stripMargin

  // ---------------------------------------------------------------- q16
  /** TPC-H Q16-style supplier counts: how many distinct suppliers offer
    * each (brand, type, size) combination, excluding one brand and
    * negative-balance suppliers (the complaints stand-in). The distinct
    * count is the only real exchange; part attributes broadcast onto the
    * derived partsupp. */
  def q16(spark: SparkSession, d: String): DataFrame = {
    val p = part(spark, d)
      .filter(col("p_brand") =!= "Brand#5" &&
        col("p_size").isInCollection(Seq(1, 4, 9, 14, 19, 23, 36, 45)))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val badSupp = supplier(spark, d)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    partsupp(spark, d)
      .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(badSupp), col("ps_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
  }

  val q16Sql: String =
    s"""WITH $psSql
       |SELECT p_brand, p_type, p_size,
       |  COUNT(DISTINCT ps_suppkey) AS supplier_cnt
       |FROM ps, part
       |WHERE p_partkey = ps_partkey
       |  AND p_brand <> 'Brand#5'
       |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
       |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
       |                         WHERE s_acctbal < 0)
       |GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q20
  /** TPC-H Q20-style potential promotion: NATION_3 suppliers holding more
    * than half a year's shipments of an ECONOMY part in stock
    * (`2 * availqty > shipped qty`, integer-vs-decimal exact). The
    * shipment aggregate is the one fact exchange; everything else
    * broadcasts; the final step is a semi-join onto suppliers. */
  def q20(spark: SparkSession, d: String): DataFrame = {
    val p = part(spark, d).filter(col("p_type") === "ECONOMY").select("p_partkey")
    val shipped = lineitem(spark, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).as("shipped_qty"))
    val qualified = partsupp(spark, d)
      .join(shipped, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(dec(col("ps_availqty") * 2) > col("shipped_qty"))
      .select(col("ps_suppkey")).distinct()
    supplier(spark, d)
      .join(broadcast(nation(spark, d).filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualified, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_name"), round(col("s_acctbal"), 2).as("s_acctbal"))
      .orderBy(col("s_name"))
  }

  val q20Sql: String =
    s"""WITH $psSql,
       | shipped AS (
       |   SELECT l_partkey, l_suppkey,
       |     SUM(CAST(l_quantity AS DECIMAL(18,2))) AS shipped_qty
       |   FROM lineitem, part
       |   WHERE l_partkey = p_partkey AND p_type = 'ECONOMY'
       |     AND l_shipdate >= TIMESTAMP '1996-01-01'
       |     AND l_shipdate <  TIMESTAMP '1997-01-01'
       |   GROUP BY 1, 2),
       | qualified AS (
       |   SELECT DISTINCT ps_suppkey FROM ps, shipped
       |   WHERE ps_partkey = l_partkey AND ps_suppkey = l_suppkey
       |     AND CAST(ps_availqty * 2 AS DECIMAL(18,2)) > shipped_qty)
       |SELECT s_name, ROUND(s_acctbal, 2) AS s_acctbal
       |FROM supplier, nation
       |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
       |  AND s_suppkey IN (SELECT ps_suppkey FROM qualified)
       |ORDER BY s_name""".stripMargin

  // ------------------------------------------------- record linkage
  /** Fellegi-Sunter record linkage (Fellegi & Sunter 1969; the Splink /
    * dedupe.io production shape): link the customer table against a noisy
    * registry, deciding match / review per pair from summed per-field
    * agreement weights. The registry is a DETERMINISTIC dirty twin derived
    * in-query from the same table (digit transposition for custkey%3=0,
    * '#'→'-' for %5=0, +1.5 balance drift for %7=0 — all IEEE-exact
    * arithmetic both engines replay bit-identically), standing in for the
    * second source a real pipeline links against.
    *
    * Stages, each the at-scale shape:
    *  - BLOCKING: candidate pairs come from an equi-join on
    *    (nationkey, mktsegment) — never an all-pairs product. At warehouse
    *    scale the blocking key set is the tuning surface (more selective
    *    keys, multiple passes unioned); the join stays keyed either way,
    *    and the registry side broadcasts while it is dim-sized.
    *  - COMPARE: name distance is unrestricted Damerau-Levenshtein (the
    *    native [[graft.functions.DamerauLev]] expression — transposition
    *    twins sit at distance 1, unlike plain Levenshtein's 2); balance
    *    agreement is exact double equality (the twin either carries the
    *    identical bits or an exactly-representable +1.5 drift).
    *  - DECIDE: Fellegi-Sunter log-odds agreement weights as pinned
    *    integer constants (the trained-offline m/u probabilities of a real
    *    linker drop into the same CASE), summed and thresholded into
    *    match / review; sub-review pairs are dropped in-query so the
    *    output is decision-sized, not block-sized.
    *
    * The transposition twin deliberately creates imposters: custkey 30's
    * clean name equals registry 3's transposed name (dl=0, score 21), yet
    * the TRUE pair 3↔3 still outranks it (dl=1 + balance agreement = 22)
    * — the multi-field weighting doing exactly the job single-field
    * matching cannot. `is_true` labels each emitted pair so
    * precision/recall of the thresholds is readable off the output.
    *
    * Oracle: DuckDB's NATIVE damerau_levenshtein over the same blocked
    * pairs — an independent engine's implementation of the distance, not
    * a replay of ours. */
  def recordLink(spark: SparkSession, d: String): DataFrame = {
    val cust = customer(spark, d)
    val reg = cust.selectExpr(
      "c_custkey AS reg_key",
      """CASE WHEN c_custkey % 3 = 0
        |     THEN concat(substring(c_name, 1, length(c_name) - 2),
        |                 substring(c_name, length(c_name), 1),
        |                 substring(c_name, length(c_name) - 1, 1))
        |     WHEN c_custkey % 5 = 0 THEN replace(c_name, '#', '-')
        |     ELSE c_name END AS reg_name""".stripMargin,
      "CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1.5D ELSE c_acctbal END AS reg_bal",
      "c_nationkey AS reg_nation", "c_mktsegment AS reg_segment")
    // The compare stage does |block| DL evaluations PER PROBE ROW, so task
    // parallelism must be sized to the pair fan-out, not the probe scan's
    // bytes (a dim-sized probe file is one split — serial without this;
    // measured 11.4s -> 1.1s at sf0.1 on 32 cores). Round-robin keeps the
    // output set identical; at warehouse scale the probe side arrives
    // multi-partition and the exchange coalesces away under AQE.
    val probes = cust.repartition(spark.sparkContext.defaultParallelism)
    // Sound pre-compare prune: only dl <= 2 pairs can reach score >= 9
    // (dl >= 3 scores at most -12 + 6 = -6), and every Damerau-Levenshtein
    // op moves the byte multiset's symmetric difference by <= 2
    // (transposition by 0 — the same metric fact [[graft.queries
    // .DocQueries.typoPairs]]' blocking rests on), so
    // histL1 > 4 or |len diff| > 2 pairs provably cannot survive and skip
    // the O(n*m) DP entirely (~64 int ops instead of a ~400-cell DP + two
    // array allocations per non-matching pair — the overwhelming majority
    // of the block fan-out). CharHistSpec pins the DL bound on randomized
    // edit pairs.
    // The score threshold is written INTO the join condition, LAST, with a
    // SINGLE DL call (`score >= 9` ⇔ `dl <= (bal_agree ? 2 : 1)`): left as
    // a post-join filter, Catalyst pushed it into the join AHEAD of the
    // prunes as a 3x-repeated `CASE damerau... CASE damerau...` conjunct —
    // the measured plan ran up to three O(n·m) DPs per blocked pair before
    // the ~64-int-op histogram check ever fired (15.9 self-CPU-s at sf0.1;
    // the doc_typo_pairs r12 lesson). Conjuncts in an explicit join
    // condition keep their written cheap→expensive order. Survivors
    // (decision-sized, not block-sized) recompute dl once in the output
    // projection.
    val dlCond = graft.functions.GraftFunctions
      .damerauLevenshtein(col("c_name"), col("reg_name")) <=
        when(col("c_acctbal") === col("reg_bal"), 2).otherwise(1)
    val pairs = probes
      .withColumn("h", graft.functions.GraftFunctions.charHist64(col("c_name")))
      .join(broadcast(reg
          .withColumn("reg_h",
            graft.functions.GraftFunctions.charHist64(col("reg_name")))),
        col("c_nationkey") === col("reg_nation") &&
          col("c_mktsegment") === col("reg_segment") &&
          abs(length(col("c_name")) - length(col("reg_name"))) <= 2 &&
          graft.functions.GraftFunctions.histL1(col("h"), col("reg_h")) <= 4 &&
          dlCond)
      .select(col("c_custkey").as("cust_a"), col("reg_key").as("cust_b"),
        graft.functions.GraftFunctions
          .damerauLevenshtein(col("c_name"), col("reg_name"))
          .cast("int").as("dl"),
        (col("c_acctbal") === col("reg_bal")).as("bal_agree"))
    pairs
      .withColumn("score",
        (when(col("dl") === 0, 24).when(col("dl") === 1, 16)
          .when(col("dl") === 2, 4).otherwise(-12) +
          when(col("bal_agree"), 6).otherwise(-3)).cast("int"))
      .select(col("cust_a"), col("cust_b"), col("dl"), col("bal_agree"),
        col("score"),
        when(col("score") >= 21, "match").otherwise("review").as("decision"),
        (col("cust_a") === col("cust_b")).as("is_true"))
  }

  val recordLinkSql: String =
    """WITH reg AS (
      |  SELECT c_custkey AS reg_key,
      |    CASE WHEN c_custkey % 3 = 0
      |         THEN substr(c_name, 1, len(c_name) - 2)
      |              || substr(c_name, len(c_name), 1)
      |              || substr(c_name, len(c_name) - 1, 1)
      |         WHEN c_custkey % 5 = 0 THEN replace(c_name, '#', '-')
      |         ELSE c_name END AS reg_name,
      |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1.5 ELSE c_acctbal END
      |      AS reg_bal,
      |    c_nationkey AS reg_nation, c_mktsegment AS reg_segment
      |  FROM customer),
      | p AS (
      |  SELECT a.c_custkey AS cust_a, r.reg_key AS cust_b,
      |    CAST(damerau_levenshtein(a.c_name, r.reg_name) AS INT) AS dl,
      |    a.c_acctbal = r.reg_bal AS bal_agree
      |  FROM customer a JOIN reg r
      |    ON a.c_nationkey = r.reg_nation AND a.c_mktsegment = r.reg_segment),
      | s AS (
      |  SELECT cust_a, cust_b, dl, bal_agree,
      |    CAST(CASE WHEN dl = 0 THEN 24 WHEN dl = 1 THEN 16
      |              WHEN dl = 2 THEN 4 ELSE -12 END
      |         + CASE WHEN bal_agree THEN 6 ELSE -3 END AS INT) AS score
      |  FROM p)
      |SELECT cust_a, cust_b, dl, bal_agree, score,
      |  CASE WHEN score >= 21 THEN 'match' ELSE 'review' END AS decision,
      |  cust_a = cust_b AS is_true
      |FROM s WHERE score >= 9""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cust_record_link"   -> (recordLink _),
    "q2_min_cost_supp"   -> (q2 _),
    "q9_product_profit"  -> (q9 _),
    "q11_important_stock" -> (q11 _),
    "q16_supplier_cnt"   -> (q16 _),
    "q20_promotion_stock" -> (q20 _),
    "q1_pricing_summary" -> (q1 _),
    "q3_top_orders"      -> (q3 _),
    "q4_order_priority"  -> (q4 _),
    "q5_local_revenue"   -> (q5 _),
    "q6_forecast"        -> (q6 _),
    "q7_volume_shipping" -> (q7 _),
    "q8_market_share"    -> (q8 _),
    "q10_returned_items" -> (q10 _),
    "q12_late_lines"     -> (q12 _),
    "q13_custdist"       -> (q13 _),
    "q14_promo_effect"   -> (q14 _),
    "q15_top_supplier"   -> (q15 _),
    "q17_small_qty"      -> (q17 _),
    "q18_bulky_orders"   -> (q18 _),
    "q19_discounted"     -> (q19 _),
    "q21_waiting_supp"   -> (q21 _),
    "q22_dormant_cust"   -> (q22 _),
    "topn_window"        -> (topnWindow _),
    "rollup_acctbal"     -> (rollupRevenue _))

  val oracles: Map[String, String] = Map(
    "cust_record_link"   -> recordLinkSql,
    "q2_min_cost_supp"   -> q2Sql,
    "q9_product_profit"  -> q9Sql,
    "q11_important_stock" -> q11Sql,
    "q16_supplier_cnt"   -> q16Sql,
    "q20_promotion_stock" -> q20Sql,
    "q1_pricing_summary" -> q1Sql,
    "q3_top_orders"      -> q3Sql,
    "q4_order_priority"  -> q4Sql,
    "q5_local_revenue"   -> q5Sql,
    "q6_forecast"        -> q6Sql,
    "q7_volume_shipping" -> q7Sql,
    "q8_market_share"    -> q8Sql,
    "q10_returned_items" -> q10Sql,
    "q12_late_lines"     -> q12Sql,
    "q13_custdist"       -> q13Sql,
    "q14_promo_effect"   -> q14Sql,
    "q15_top_supplier"   -> q15Sql,
    "q17_small_qty"      -> q17Sql,
    "q18_bulky_orders"   -> q18Sql,
    "q19_discounted"     -> q19Sql,
    "q21_waiting_supp"   -> q21Sql,
    "q22_dormant_cust"   -> q22Sql,
    "topn_window"        -> topnWindowSql,
    "rollup_acctbal"     -> rollupRevenueSql)
}
