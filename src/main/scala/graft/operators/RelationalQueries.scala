package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** The engine's relational query surface (SURVEY.md §2.4 W3).
  *
  * The reference delegates aggregation/joins/windows to its backing DBMS via
  * SQL passthrough (`/root/reference/Wrap/DB.pm:73,87`); in the Spark engine
  * this surface is native Catalyst. Each query here is written so Catalyst
  * can pick the physical strategy: filters next to scans (pushdown), explicit
  * `broadcast()` on dimension tables, decimal-typed sums so results are
  * bit-exact against the DuckDB oracle.
  *
  * Scale notes (100 TB): every aggregate is partial (map-side combine) by
  * construction; dimension joins (region/nation/supplier/customer) are
  * broadcast so the only shuffles are the final groupBy exchanges on the
  * fact table.
  */
object RelationalQueries {

  /** Exact-sum helper: 2-decimal money columns summed as DECIMAL so the
    * result is order-independent and bit-exact vs the oracle; surfaced as
    * DOUBLE for a stable output schema. */
  private def dsum2(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")
  /** Same for products of two 2-decimal columns (exactly 4 decimals). */
  private def dsum4(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** TPC-H Q1-style pricing summary: scan-heavy groupBy with partial aggs. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q6-style selective filter + single aggregate (pushdown showcase:
    * all three predicates reach the parquet scan). */
  def q2RevenueFilter(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(dsum4(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  /** TPC-H Q3-style top-k revenue orders; broadcast the filtered customer dim. */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q4-style semi join: orders having any heavy lineitem. */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val li  = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45)
    ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q5-style multi-way join: revenue by nation for one region.
    * region/nation/supplier/customer are broadcast; the only shuffle is the
    * final groupBy on n_name. */
  def q5NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val reg  = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nat  = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val sup  = Tables.supplier(spark, dir)
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(cust),
        ord("o_custkey") === cust("c_custkey") &&
        cust("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Window top-N: each customer's 3 largest orders (deterministic tiebreak
    * on o_orderkey), ranked by the top-k kernel [[OrderStats.topKPer]].
    * Models the reference's need for ordered per-group processing at
    * scale: one shuffle on o_custkey, no driver collect. */
  def q6WindowTopN(spark: SparkSession, dir: String): DataFrame =
    OrderStats.topKPer(Tables.orders(spark, dir), col("o_custkey"), 3,
        rankCol = "rn")(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"))
      .orderBy(col("o_custkey"), col("rn"))

  /** Rollup aggregate with an explicit sentinel for the ALL level (avoids
    * cross-engine NULL-ordering ambiguity). */
  def q7Rollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum2(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("_ALL_")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("_ALL_")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  /** W1 parity (SURVEY.md §2.4): `previousline` = lag(1) over deterministic
    * order — here per-user event deltas ordered by (ts, event_id). */
  def q8LagEvents(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("value"), col("prev_value"),
        (col("value") - col("prev_value")).as("delta"))
      .orderBy(col("event_id"))
  }

  /** Set operations: customers with both open and finished orders (INTERSECT)
    * minus any with 'P' status orders (EXCEPT). */
  def q9SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val open     = ord.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val finished = ord.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val pending  = ord.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
    open.intersect(finished).except(pending)
      .select(col("o_custkey").as("custkey"))
      .orderBy(col("custkey"))
  }

  /** Correlated-style aggregate join: parts whose retail price is above the
    * average price of their brand (computed via a broadcast-joined agg). */
  def q10AboveBrandAvg(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val brandAvg = p.groupBy(col("p_brand").as("b_brand"))
      .agg((dsum2(col("p_retailprice")) / count(lit(1))).as("avg_price"))
    p.join(broadcast(brandAvg), p("p_brand") === brandAvg("b_brand"))
      .filter(col("p_retailprice") > col("avg_price"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_above"), dsum2(col("p_retailprice")).as("sum_price"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q15-style top supplier: quarterly revenue per supplier, then
    * the supplier(s) hitting the maximum — the scalar max is an
    * aggregate broadcast back (no window over all suppliers, no second
    * scan of lineitem). Revenue is decimal-exact before the double cast,
    * so the equality join on the max is deterministic. */
  def q91TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("__mr"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("__mr"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17-style small-quantity revenue: lineitems of one brand's
    * parts below 20% of that part's average quantity; per-part averages
    * computed once on the brand-filtered fact and broadcast back (the
    * correlated-subquery decorrelation Catalyst would pick, made
    * explicit). */
  def q92SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val liBrand = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
    val avgQty = liBrand.groupBy(col("l_partkey").as("__pk"))
      .agg((sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("__avg_qty"))
    liBrand.join(broadcast(avgQty), col("l_partkey") === col("__pk"))
      .filter(col("l_quantity") < lit(0.2) * col("__avg_qty"))
      .agg((dsum2(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  /** TPC-H Q11-style share-of-total: nation revenue vs a broadcast scalar
    * total, keeping nations above a 4% share. Both the per-nation value
    * and the total stay DECIMAL until the final comparison, so the share
    * threshold is exact. */
  def q93NationShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(DecimalType(18, 4))).as("__v"))
    val total = rev.agg(sum(col("__v")).as("__t"))
    rev.crossJoin(broadcast(total))
      .filter(col("__v").cast("double") > lit(0.04) * col("__t").cast("double"))
      .select(col("n_name"), col("__v").cast("double").as("value"))
      .orderBy(col("value").desc, col("n_name"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q1PricingSummary _,
    "q2_revenue_filter"  -> q2RevenueFilter _,
    "q3_top_orders"      -> q3TopOrders _,
    "q4_semi_join"       -> q4SemiJoin _,
    "q5_nation_revenue"  -> q5NationRevenue _,
    "q6_window_topn"     -> q6WindowTopN _,
    "q7_rollup"          -> q7Rollup _,
    "q8_lag_events"      -> q8LagEvents _,
    "q9_set_ops"         -> q9SetOps _,
    "q10_above_brand_avg" -> q10AboveBrandAvg _,
    "q91_top_supplier"   -> q91TopSupplier _,
    "q92_small_qty"      -> q92SmallQty _,
    "q93_nation_share"   -> q93NationShare _,
  )

  val oracles: Map[String, String] = Map(
    "q91_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |         AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1995-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q92_small_qty" ->
      """WITH lb AS (
        |  SELECT l.* FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand = 'Brand#23'),
        |aq AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |      AS avg_qty
        |  FROM lb GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(lb.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |       / 7.0 AS avg_yearly
        |FROM lb JOIN aq ON lb.l_partkey = aq.l_partkey
        |WHERE lb.l_quantity < 0.2 * aq.avg_qty""".stripMargin,
    "q93_nation_share" ->
      """WITH rev AS (
        |  SELECT n.n_name,
        |    sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS v
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name)
        |SELECT n_name, CAST(v AS DOUBLE) AS value
        |FROM rev
        |WHERE CAST(v AS DOUBLE) > 0.04 * CAST((SELECT sum(v) FROM rev) AS DOUBLE)
        |ORDER BY value DESC, n_name""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_filter" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q4_semi_join" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q5_nation_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q6_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q7_rollup" ->
      """SELECT coalesce(l_returnflag, '_ALL_') AS returnflag,
        |  coalesce(l_linestatus, '_ALL_') AS linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q8_lag_events" ->
      """SELECT event_id, user_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |  value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q9_set_ops" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY custkey""".stripMargin,
    "q10_above_brand_avg" ->
      """WITH brand_avg AS (
        |  SELECT p_brand AS b_brand,
        |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        |  FROM part GROUP BY p_brand)
        |SELECT p_brand, count(*) AS n_above,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part JOIN brand_avg ON p_brand = b_brand
        |WHERE p_retailprice > avg_price
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
  )
}
