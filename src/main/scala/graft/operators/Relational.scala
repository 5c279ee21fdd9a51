package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Relational core — the general-purpose operator families a complete
  * engine owes its users beyond the reference's single flagship join
  * (SURVEY.md §2.3-§2.7 "absent" rows + §7.1 M1): filters/projections,
  * the full join taxonomy, hash aggregation, rollup/cube/grouping
  * sets, sorts/top-k, set operations, and the scalar function sweep.
  *
  * Oracle-parity rules used throughout (full catalog: DETERMINISM.md):
  *  - SUM over doubles goes through DECIMAL(18,2) casts on both sides —
  *    decimal addition is exact and order-independent, so the result is
  *    identical no matter how Spark parallelizes the partial aggregates
  *    (and no matter how a 1000-executor cluster would);
  *  - averages/ratios are CAST(decimal-sum AS DOUBLE) / CAST(count AS
  *    DOUBLE) — deterministic IEEE division of deterministic inputs;
  *  - compared doubles are never round()ed (Spark rounds the shortest
  *    decimal repr, DuckDB rounds the binary value — they disagree);
  *  - every oracled query ends in an ORDER BY over non-null keys that
  *    make the row order unique.
  *
  * Scale notes: filters/projections sit directly on the parquet scan
  * (PushedFilters/ReadSchema — verified via explain), small dimension
  * sides are broadcast explicitly, aggregations are partial+final hash
  * aggregates (map-side combine) by construction, and the only
  * intentional non-equi join (q_join_range) carries an equi component
  * on nationkey so it plans as a hash join with a range residual, not
  * a cartesian product.
  */
object Relational {

  // Revenue expression used by several TPC-H-style queries: exact
  // decimal arithmetic, identical text on the DuckDB side.
  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
  private val charge =
    s"CAST($discPrice AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(4,2)))"

  // P5/P8-style scan with pushed-down predicates and pruned columns.
  private def qFilterProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp")
        && col("l_discount").between(0.02, 0.08))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")

  // TPC-H Q1-shaped pricing summary: partial+final hash agg, exact
  // decimal sums, derived averages as double divisions.
  private def qAggPricing(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_base_price"),
        expr(s"CAST(SUM($discPrice) AS DOUBLE)").as("sum_disc_price"),
        expr(s"CAST(SUM($charge) AS DOUBLE)").as("sum_charge"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)").as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def qAggHaving(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("order_cnt"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("spent"))
      .filter(col("order_cnt") >= 12)
      .orderBy("o_custkey")

  private def qDistinct(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select("c_mktsegment", "c_nationkey")
      .distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  private def qCountDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("uniq_users"),
        count(lit(1)).as("n_events"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))
      .orderBy("event_type")

  // TPC-H Q3-shaped 3-way join: broadcast the filtered customer dim,
  // shuffle-join the two big fact tables on their natural key.
  private def qJoinInner(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(expr(s"CAST(SUM($discPrice) AS DOUBLE)").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  // Left outer join keeping order-less customers (J1's orphan
  // retention, inverted onto the testdata star).
  private def qJoinLeft(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"), lit(0.0)).as("spent"))
      .orderBy("c_custkey")

  private def qJoinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")

  // Customers that never produced an event (events.user_id covers only
  // the low decile of custkeys at every SF, so this is non-degenerate).
  private def qJoinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.events(s, d), col("c_custkey") === col("user_id"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  // Equi + range join: hash join on nationkey with a range residual —
  // NOT a cartesian/BNLJ (the equi component keeps it shuffle-bounded
  // at scale).
  private def qJoinRange(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
    val c = Tables.customer(s, d)
    sup.join(c,
        sup("s_nationkey") === c("c_nationkey") && c("c_acctbal") > sup("s_acctbal"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_richer_customers"))
      .orderBy("s_suppkey")
  }

  // TPC-H Q5-shaped star join: revenue per nation within one region.
  private def qStarJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(expr(s"CAST(SUM($discPrice) AS DOUBLE)").as("revenue"))
      .orderBy("n_name")
  }

  // TPC-H Q7-shaped cross-nation volume flow: lineitem joins BOTH its
  // supplier's nation and its order's customer's nation, keeping the
  // two directed flows between a nation pair. Scale shape: the 2-row
  // filtered nation dims broadcast into supplier/customer BEFORE the
  // fact joins, so the big shuffles (lineitem⋈orders⋈customer) only
  // carry rows that can still match — the nation predicate is applied
  // at the dimension, not after the fact join.
  private def qJoinVolumeFlow(s: SparkSession, d: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_3")
    val n1 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(s, d)
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .select("c_custkey", "cust_nation")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_3")
        || (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_1"))
      .withColumn("l_year", year(col("l_shipdate")).cast("long"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(
        expr(s"CAST(SUM($discPrice) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // TPC-H Q8-shaped market share: 8-table snowflake (lineitem at the
  // center; part/supplier/orders/customer one hop out; nation×2 and
  // region two hops), share = one nation's volume over total per year.
  // part/supplier stay shuffle joins (they scale with SF — only the
  // O(1)-row nation/region dims are hinted broadcast); the conditional
  // sum avoids a second pass over the joined fact.
  private def qMarketShare(s: SparkSession, d: String): DataFrame = {
    val nCust = Tables.nation(s, d)
      .select(col("n_nationkey").as("cn_nk"), col("n_regionkey").as("cn_rk"))
    val nSupp = Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_nk"), col("n_name").as("nation"))
    val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
    val custEu = Tables.customer(s, d)
      .join(broadcast(nCust), col("c_nationkey") === col("cn_nk"))
      .join(broadcast(r), col("cn_rk") === col("r_regionkey"))
      .select("c_custkey")
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("sn_nk"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(custEu, col("o_custkey") === col("c_custkey"), "left_semi")
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .groupBy(col("o_year"))
      .agg(
        coalesce(expr(
          s"CAST(SUM(CASE WHEN nation = 'NATION_3' THEN $discPrice END) AS DOUBLE)"),
          lit(0.0)).as("nation_volume"),
        expr(s"CAST(SUM($discPrice) AS DOUBLE)").as("total_volume"))
      .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
      .orderBy("o_year")
  }

  // Recursive CTE (Spark 4 WITH RECURSIVE): generate the complete
  // month spine between the data's min and max order date (~80
  // recursion levels), then LEFT JOIN monthly revenue — the gap-filled
  // time series every reporting layer needs (months with no orders
  // appear as explicit zeros, which a plain GROUP BY can never emit).
  // The recursion is O(#months) rows on the driver-planned side; the
  // fact aggregate stays a normal distributed hash agg.
  // DIALECT PIN: this text and the DuckDB oracle below are
  // hand-maintained twins whose ONLY intended divergence is the
  // recursion step syntax — Spark `INTERVAL '1' MONTH` vs DuckDB
  // `INTERVAL 1 MONTH` — plus the oracle's output-type casts. Any
  // other edit must land in BOTH texts; OperatorsSpec ("q_month_spine
  // emits one row per calendar month...") fails loudly if the Spark
  // recursion stops stepping by exactly one month, so a silent step
  // drift surfaces as a test failure, not hash-mismatch archaeology.
  private def qMonthSpine(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_spine")
    s.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
        |         date_trunc('month', MAX(o_orderdate)) AS hi
        |  FROM orders_spine
        |), spine AS (
        |  SELECT lo AS m, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL '1' MONTH, hi FROM spine WHERE m < hi
        |), monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders_spine GROUP BY 1
        |)
        |SELECT s.m, COALESCE(mo.n_orders, 0) AS n_orders,
        |       COALESCE(mo.revenue, 0.0) AS revenue
        |FROM spine s LEFT JOIN monthly mo ON s.m = mo.m
        |ORDER BY s.m""".stripMargin)
  }

  /** Linear gap-fill of the per-region daily order series — the
    * interpolation twin of q_month_spine's zero-fill: reporting wants
    * missing interior days estimated from the surrounding
    * observations, not zeroed. Shape: the corpus-shaped work is one
    * (region, day) hash aggregate (3 dim joins, all broadcast-sized);
    * the spine explode and both bracketing windows run on the
    * region×calendar grid — day grain, partitioned by region, never
    * corpus-sized. Each missing day finds its bracketing observations
    * via IGNORE NULLS navigation (last over the preceding frame,
    * first over the following frame — both engines implement the
    * same SQL-standard semantics), and the interpolated value is
    * emitted as the EXACT rational (fill_num, fill_den) plus ONE IEEE
    * division — bit-identical cross-engine, no float accumulation.
    * Spine bounds are per-region [first observed, last observed], so
    * every gap is interior and both brackets always exist. */
  private def qGapFill(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day_idx"))
      .agg(count(lit(1)).as("n_orders"))
    val spine = daily.groupBy("region")
      .agg(min("day_idx").as("lo"), max("day_idx").as("hi"))
      .select(col("region"), explode(expr("sequence(lo, hi)")).as("day_idx"))
    val w = Window.partitionBy("region").orderBy("day_idx")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("region", "day_idx"), "left_outer")
      .withColumn("a_day",
        last(when(col("n_orders").isNotNull, col("day_idx")), ignoreNulls = true).over(wPrev))
      .withColumn("a_val", last(col("n_orders"), ignoreNulls = true).over(wPrev))
      .withColumn("b_day",
        first(when(col("n_orders").isNotNull, col("day_idx")), ignoreNulls = true).over(wNext))
      .withColumn("b_val", first(col("n_orders"), ignoreNulls = true).over(wNext))
      .withColumn("fill_num", when(col("n_orders").isNotNull, col("n_orders"))
        .otherwise(col("a_val") * (col("b_day") - col("day_idx"))
          + col("b_val") * (col("day_idx") - col("a_day"))))
      .withColumn("fill_den", when(col("n_orders").isNotNull, lit(1L))
        .otherwise(col("b_day") - col("a_day")))
      .select(col("region"), col("day_idx"), col("n_orders"),
        col("n_orders").isNull.as("is_filled"), col("fill_num"), col("fill_den"),
        (col("fill_num").cast("double") / col("fill_den").cast("double")).as("filled"))
      .orderBy("region", "day_idx")
  }

  /** Recursive inventory replay — monthly per-region stock evolving as
    * stock_m = max(0, stock_{m−1} + supply − demand_m). Demand is the
    * DISTRIBUTED part — a 4-table join + hash aggregate over the full
    * orders fact; the replay then runs on the month×region grid
    * (model-sized at any corpus scale: the 100 TB pattern is "big scan
    * feeds a small simulation", never recursion over the fact table
    * itself). Supply is derived from the data (per-region FULL-HISTORY
    * total DIV months), so light months bank stock and heavy months
    * clamp — both branches of the recurrence execute. The replay
    * horizon is the TRAILING 24 MONTHS. All columns exact BIGINTs.
    *
    * r15: the SUITE path computes the replay by the Lindley /
    * Skorokhod REFLECTION identity instead of WITH RECURSIVE. The
    * clamped recursion p_t = max(0, p_{t−1} + x_t) (x = supply −
    * demand, p_{lo−1} = 0) has the exact closed form
    *   p_t = S_t − min(0, M_t),   shortfall_t = max(0, min(0, M_{t−1}) − S_t)
    * with S_t the running sum of x and M_t the running min of S —
    * the classic reflected-random-walk / Lindley-queue identity
    * (induction: max(0, A − B) = A − min(A, B), so
    * p_t = S_t − min(S_t, 0, M_{t−1}) = S_t − min(0, M_t)). All terms
    * are exact BIGINTs, so the window form is bit-identical to the
    * recursion — pinned row-for-row against the recursive form by
    * RelationalShapesSpec at two SFs, and end-to-end by the DuckDB
    * oracle, which KEEPS the recursive text (the hash gate is then a
    * cross-FORM proof, not a shared-text replay). Why: each UnionLoop
    * step is an inherently sequential scheduler round (~48 rounds with
    * the spine — measured ~5 s of pure round-trip wall at ANY data
    * scale, since the loop is over months); two window passes over the
    * model-sized grid do the same fold in two stages (guide §1.2 —
    * pick the algorithm with fewer passes before tuning anything).
    * The recursive Spark form stays as [[stockReplayPlan]]
    * (recursiveSim = true) as the parity spec's reference;
    * q_month_spine keeps exercising WITH RECURSIVE in the declared
    * suite.
    *
    * SHARED-TEXT TEMPLATE (recursive variant + oracle): the Spark and
    * DuckDB texts come from ONE pair of builders (grid CTEs + sim
    * recursion) whose only divergence is the integer-division token
    * (DIV vs //) — nonnegative operands, where the two are equivalent.
    * On the Spark side the grid is MATERIALIZED (localCheckpoint)
    * before the recursion runs: a recursive term that references an
    * unmaterialized CTE re-evaluates it — demand join, spine recursion
    * and all — on EVERY iteration (measured 2.5 min vs seconds at
    * sf0.001). The oracle keeps the whole chain as one statement
    * (DuckDB evaluates each CTE once). */
  /** The spine CTE's two forms — the recursive text exactly as it
    * appears inside [[stockGridCtes]] (the window path substitutes the
    * sequence form; a failed substitution would silently keep the
    * RECURSIVE keyword requirement, so [[stockReplayPlan]] requires the
    * replace to have fired). */
  private val stockSpineRecursive =
    """spine AS (
      |  SELECT lo AS idx, hi FROM bounds
      |  UNION ALL
      |  SELECT idx + 1, hi FROM spine WHERE idx < hi
      |)""".stripMargin
  private val stockSpineSequence =
    """spine AS (
      |  SELECT explode(sequence(lo, hi)) AS idx, hi FROM bounds
      |)""".stripMargin

  private def stockGridCtes(div: String): String =
    s"""bounds AS (
       |  SELECT CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS BIGINT) AS lo_all,
       |         CAST(greatest(MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1),
       |                       MAX(year(o_orderdate) * 12 + month(o_orderdate) - 1) - 23)
       |              AS BIGINT) AS lo,
       |         CAST(MAX(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS BIGINT) AS hi
       |  FROM __T_ORDERS__
       |), spine AS (
       |  SELECT lo AS idx, hi FROM bounds
       |  UNION ALL
       |  SELECT idx + 1, hi FROM spine WHERE idx < hi
       |), demand AS (
       |  SELECT r.r_name AS region,
       |         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1 AS BIGINT) AS idx,
       |         CAST(COUNT(*) AS BIGINT) AS demand
       |  FROM __T_ORDERS__ o JOIN __T_CUSTOMER__ c ON o.o_custkey = c.c_custkey
       |  JOIN __T_NATION__ n ON c.c_nationkey = n.n_nationkey
       |  JOIN __T_REGION__ r ON n.n_regionkey = r.r_regionkey
       |  GROUP BY 1, 2
       |), supply AS (
       |  SELECT region,
       |         CAST(SUM(demand) $div (SELECT hi - lo_all + 1 FROM bounds) AS BIGINT) AS supply
       |  FROM demand GROUP BY region
       |), grid_v AS (
       |  SELECT s.region, sp.idx, s.supply, COALESCE(d.demand, 0) AS demand, b.lo
       |  FROM spine sp CROSS JOIN supply s
       |  LEFT JOIN demand d ON d.region = s.region AND d.idx = sp.idx
       |  CROSS JOIN bounds b
       |  WHERE sp.idx >= b.lo
       |)""".stripMargin

  private def stockSimSql(div: String, grid: String): String =
    s"""sim AS (
       |  SELECT g.region, g.idx, g.supply, g.demand,
       |         CAST(greatest(0, g.supply - g.demand) AS BIGINT) AS stock_end,
       |         CAST(greatest(0, g.demand - g.supply) AS BIGINT) AS shortfall
       |  FROM $grid g WHERE g.idx = g.lo
       |  UNION ALL
       |  SELECT g.region, g.idx, g.supply, g.demand,
       |         CAST(greatest(0, t.stock_end + g.supply - g.demand) AS BIGINT),
       |         CAST(greatest(0, g.demand - g.supply - t.stock_end) AS BIGINT)
       |  FROM sim t JOIN $grid g ON g.region = t.region AND g.idx = t.idx + 1
       |)
       |SELECT region, idx AS month_idx,
       |       CAST(make_date(CAST(idx $div 12 AS INT), CAST(idx % 12 + 1 AS INT), 1)
       |            AS TIMESTAMP) AS month,
       |       demand, supply, stock_end, shortfall
       |FROM sim
       |ORDER BY region, month_idx""".stripMargin

  private def qStockReplay(s: SparkSession, d: String): DataFrame =
    stockReplayPlan(s, d, recursiveSim = false)

  /** [[qStockReplay]] with the fold form parametrized (the query runs
    * recursiveSim = false — see the reflection-identity note above;
    * RelationalShapesSpec compares it against recursiveSim = true). The
    * recursive variant also swaps the spine back to its WITH RECURSIVE
    * form. */
  private[graft] def stockReplayPlan(s: SparkSession, d: String,
      recursiveSim: Boolean): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_stock")
    Tables.customer(s, d).createOrReplaceTempView("customer_stock")
    Tables.nation(s, d).createOrReplaceTempView("nation_stock")
    Tables.region(s, d).createOrReplaceTempView("region_stock")
    def bind(sql: String): String = sql
      .replace("__T_ORDERS__", "orders_stock").replace("__T_CUSTOMER__", "customer_stock")
      .replace("__T_NATION__", "nation_stock").replace("__T_REGION__", "region_stock")
    if (recursiveSim) {
      val grid = s.sql(bind(
        "WITH RECURSIVE " + stockGridCtes("DIV") + " SELECT * FROM grid_v"))
        .localCheckpoint()
      grid.createOrReplaceTempView("stock_grid_v")
      s.sql("WITH RECURSIVE " + stockSimSql("DIV", "stock_grid_v"))
    } else {
      // non-recursive spine (explode(sequence)) + the reflection-identity
      // windows: no UnionLoop anywhere, no grid materialization needed —
      // the grid has exactly one consumer here
      val grid = stockGridCtes("DIV").replace(stockSpineRecursive, stockSpineSequence)
      require(grid != stockGridCtes("DIV"),
        "stock spine substitution failed — template drifted")
      s.sql(bind(
        s"""WITH $grid,
           |w1 AS (
           |  SELECT region, idx, supply, demand,
           |         SUM(supply - demand) OVER (PARTITION BY region ORDER BY idx
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           |  FROM grid_v
           |), w2 AS (
           |  SELECT region, idx, supply, demand, s,
           |         MIN(s) OVER (PARTITION BY region ORDER BY idx
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mprev
           |  FROM w1
           |)
           |SELECT region, idx AS month_idx,
           |       CAST(make_date(CAST(idx DIV 12 AS INT), CAST(idx % 12 + 1 AS INT), 1)
           |            AS TIMESTAMP) AS month,
           |       demand, supply,
           |       CAST(s - least(least(coalesce(mprev, s), s), 0) AS BIGINT) AS stock_end,
           |       CAST(greatest(least(coalesce(mprev, 0), 0) - s, 0) AS BIGINT) AS shortfall
           |FROM w2
           |ORDER BY region, month_idx""".stripMargin))
    }
  }

  /** 2-D skyline (Pareto frontier) — parts minimizing (retail price,
    * size) that no other part dominates in both dimensions (one
    * strict). The engine plans the DISTRIBUTED algorithm, not the
    * O(n²) definition: on DISTINCT (price, size) points sorted by
    * (price ASC, size ASC), a point is dominated iff the min size
    * among its lexicographic predecessors is ≤ its own — one window.
    * The union-reduce identity skyline(S) ⊆ ∪ skyline(Pᵢ) for ANY
    * partition of S makes it two-level: md5-bucketed local skylines
    * (partitioned windows — parallel), then the same sweep once over
    * the model-sized candidate union. Members join back by point so
    * exact-duplicate parts all surface. The ORACLE deliberately stays
    * the quadratic NOT EXISTS definition — the gate proves the
    * two-level sweep computes exactly the defined set. */
  private def qSkyline(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.part(s, d)
      .select(col("p_retailprice").as("price"), col("p_size").cast("long").as("size"))
      .distinct()
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat(CAST(price AS STRING), ':', CAST(size AS STRING))), 1, 4), 16, 10) AS BIGINT) % 8"))
    def sweep(df: DataFrame, parts: Seq[String]): DataFrame = {
      val w0 = if (parts.isEmpty) Window.orderBy(col("price"), col("size"))
        else Window.partitionBy(parts.map(col): _*).orderBy(col("price"), col("size"))
      val w = w0.rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("min_prev", min(col("size")).over(w))
        .filter(col("min_prev").isNull || col("min_prev") > col("size"))
        .drop("min_prev")
    }
    val frontier = sweep(sweep(pts, Seq("bucket")), Nil).drop("bucket")
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").cast("long").as("size"))
      .join(broadcast(frontier), Seq("price", "size"), "left_semi")
      .orderBy("price", "size", "p_partkey")
  }

  /** Bag-semantics set operations — `exceptAll` / `intersectAll`
    * (multiset difference and intersection, the SQL EXCEPT ALL /
    * INTERSECT ALL surface the distinct-flavored q_except/q_intersect
    * deliberately do not cover): the even- and odd-orderkey halves'
    * (status, priority) MULTISETS are differenced/intersected with
    * multiplicity, then rolled up to (row, multiplicity) so the bag
    * cardinalities themselves are hash-compared. Spark plans both as
    * a replicated-row hash aggregate (sum of +1/−1 tags) — one
    * shuffle on the row value, no sort, same shape at any scale. */
  private def qBagOps(s: SparkSession, d: String): DataFrame = {
    def half(parity: Int) = Tables.orders(s, d)
      .filter(col("o_orderkey") % 2 === parity)
      .select(col("o_orderstatus").as("st"), col("o_orderpriority").as("pri"))
    val ex = half(0).exceptAll(half(1))
      .groupBy(col("st"), col("pri")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    val ia = half(0).intersectAll(half(1))
      .groupBy(col("st"), col("pri")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    ex.unionByName(ia)
      .select("op", "st", "pri", "n")
      .orderBy("op", "st", "pri")
  }

  private def qRollup(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").as("sum_acctbal"))
      .orderBy(coalesce(col("r_name"), lit("~")), coalesce(col("n_name"), lit("~")))

  private def qCube(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day_ts", date_trunc("day", col("ts")))
      .cube(col("event_type"), col("day_ts"))
      .agg(
        count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))
      .orderBy(
        coalesce(col("event_type"), lit("~")),
        coalesce(col("day_ts"), lit("9999-01-01").cast("timestamp")))

  private def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_gs")
    s.sql(
      """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer_gs
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY COALESCE(c_mktsegment, '~'), COALESCE(c_nationkey, -1)""".stripMargin)
  }

  // W1-style deterministic top-k → TakeOrderedAndProject (no full sort).
  private def qTopk(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  private def qSortMulti(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate", "l_quantity")
      .orderBy(col("l_returnflag"), col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  private def qUnion(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("custkey"))
      .union(Tables.events(s, d).select(col("user_id").as("custkey")))
      .distinct()
      .orderBy("custkey")

  private def qIntersect(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("custkey"))
      .intersect(Tables.events(s, d).select(col("user_id").as("custkey")))
      .orderBy("custkey")

  private def qExcept(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_custkey").as("custkey"))
      .except(Tables.events(s, d).select(col("user_id").as("custkey")))
      .orderBy("custkey")

  // Scalar string-function sweep (F7/F10 family + library breadth).
  private def qStringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      lower(col("p_name")).as("name_l"),
      substring(col("p_name"), 1, 12).as("name_pfx"),
      length(col("p_name")).cast("long").as("name_len"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_type"), " ", "_").as("type_u"),
      lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
      concat(lit("part:"), col("p_partkey").cast("string")).as("part_key"))
      .orderBy("p_partkey")

  // Date/time function sweep (F9 family).
  private def qDateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("o_year"),
      month(col("o_orderdate")).cast("long").as("o_month"),
      dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"))
      .orderBy("o_orderkey")

  // JSON scalar functions (F2/F8 family): extraction incl. the
  // missing-key → NULL permissive path.
  private def qJsonFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("prop_k"),
      get_json_object(col("props"), "$.missing").as("prop_missing"),
      get_json_object(col("props"), "$.k").isNotNull.as("has_k"))
      .orderBy("event_id")

  // F5-style CASE bucketing + aggregation.
  private def qCaseWhen(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("bucket",
        when(col("value") < 10.0, "low")
          .when(col("value") < 100.0, "mid")
          .otherwise("high"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)").as("sum_value"))
      .orderBy("bucket")

  // Math function sweep — only cross-engine-deterministic ops (IEEE
  // +,-,*,/, sqrt; no pow/exp/ln whose libm rounding differs).
  private def qMathFuncs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"),
      col("l_linenumber"),
      abs(col("l_discount") - lit(0.05)).as("disc_dev"),
      ceil(col("l_quantity")).as("qty_ceil"),
      floor(col("l_quantity")).as("qty_floor"),
      sqrt(col("l_quantity")).as("qty_sqrt"),
      (col("l_quantity") * col("l_quantity")).as("qty_sq"),
      greatest(col("l_tax"), col("l_discount")).as("max_rate"),
      least(col("l_tax"), col("l_discount")).as("min_rate"),
      (col("l_partkey") % 7).as("pk_mod"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(500)

  // Pivot: event_type columns × user rows (wide serving shape). The
  // oracle expresses the same pivot as conditional decimal sums.
  private def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "purchase", "error", "signup", "view"))
      .agg(expr("CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"))
      .na.fill(0.0, Seq("click", "purchase", "error", "signup", "view"))
      .orderBy("user_id")

  // Skew-mitigation pattern: salt the hot side, replicate the build
  // side per salt, join on (key, salt) — the result is provably
  // identical to the plain join (the oracle runs the plain join), but
  // the shuffle spreads one hot key over `Salts` reducers. events'
  // user_id covers only the low decile of custkeys → genuinely skewed.
  private val Salts = 8
  private def qJoinSalted(s: SparkSession, d: String): DataFrame = {
    // salt derives from a NULL-SAFE expression: pmod(null) would give
    // a null salt that matches no replicated build row, silently
    // dropping the row vs the plain join this must be identical to
    val ev = Tables.events(s, d)
      .withColumn("salt", pmod(coalesce(col("event_id"), lit(0L)), lit(Salts)))
    val ord = Tables.orders(s, d)
      .withColumn("salt", explode(expr(s"sequence(0, ${Salts - 1})")))
    ev.join(ord,
        ev("user_id") === ord("o_custkey") && ev("salt") === ord("salt"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price"))
      .orderBy("user_id")
  }

  // Correlated subquery surface (decorrelated by Catalyst into a join).
  private def qScalarSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_sq")
    Tables.orders(s, d).createOrReplaceTempView("orders_sq")
    s.sql(
      """SELECT c_custkey, c_acctbal,
        |       (SELECT COUNT(*) FROM orders_sq o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer_sq c
        |ORDER BY c_custkey""".stripMargin)
  }

  // TPC-H Q6 shape: tight filter + single decimal-exact sum — the
  // classic pushdown-then-aggregate scan.
  private def qRevenueFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.03, 0.07)
        && col("l_quantity") < 24.0)
      .agg(expr(
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)")
        .as("revenue"),
        count(lit(1)).as("n_items"))

  // TPC-H Q4 shape: EXISTS-filtered priority counts.
  private def qExistsCount(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    o.join(l.select(col("l_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // TPC-H Q13 shape (custdist): the order-count distribution over ALL
  // customers — the left outer join keeps zero-order customers (their
  // COUNT(o_orderkey) is 0, counting non-null values only), the first
  // aggregate is per-customer, and the second collapses onto the tiny
  // count domain. Scale shape: one custkey-keyed outer join + agg
  // (AQE picks broadcast or SMJ by side size), then a model-sized
  // second aggregate; (custdist, c_count) pairs are unique by
  // construction so the ORDER BY is total.
  private def qCustdist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"))
      .join(Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  // TPC-H Q22 shape, recency variant: high-balance customers with no
  // order in the trailing 90 days of the corpus date range, rolled up
  // by nation (the fixture gives every customer SOME order, so the
  // literal "never ordered" predicate is empty — dormancy is the
  // non-degenerate form of the same anti-join plan). The "above
  // average positive balance" cutoff is DIVISION-FREE: avg < bal ⇔
  // bal·n_pos > Σbal (both sides exact DECIMALs — decimal division
  // scale rules differ across engines, multiplication doesn't),
  // broadcast as a 1-row aggregate next to the anti join on the
  // recent distinct order keys (both 1-row frames broadcast; the only
  // shuffles are the custkey anti join and the tiny nation agg).
  private def qDormantCustomers(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val orders = Tables.orders(s, d)
    val pos = cust.filter(col("c_acctbal") > 0.0)
      .agg(count(lit(1)).as("n_pos"),
        expr("SUM(CAST(c_acctbal AS DECIMAL(18,2)))").as("total_pos"))
    val ref = orders.agg(
      date_sub(max(to_date(col("o_orderdate"))), 90).as("cutoff"))
    val recent = orders.crossJoin(broadcast(ref))
      .filter(to_date(col("o_orderdate")) >= col("cutoff"))
      .select(col("o_custkey")).distinct()
    cust
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(pos))
      .filter(expr("CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > total_pos"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  // TPC-H Q11 shape: groups whose aggregate clears a FRACTION of the
  // GLOBAL aggregate — the "concentration" HAVING that q_agg_having's
  // local threshold doesn't exercise. Two aggregates over the same
  // fact scan (per-key + 1-row global), the global broadcast back,
  // and a DIVISION-FREE exact-decimal threshold: rev > total/1250 ⇔
  // rev·1250 > total (DECIMAL·int is exact in both engines, decimal
  // division scale rules are not shared).
  private def qRevenueConcentration(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val dec = "CAST(l_extendedprice AS DECIMAL(18,2))"
    val per = li.groupBy(col("l_partkey"))
      .agg(expr(s"SUM($dec)").as("part_rev_dec"), count(lit(1)).as("n_lines"))
    val tot = li.agg(expr(s"SUM($dec)").as("total_rev"))
    per.crossJoin(broadcast(tot))
      .filter(expr("part_rev_dec * 1250 > total_rev"))
      .select(col("l_partkey"), col("n_lines"),
        expr("CAST(part_rev_dec AS DOUBLE)").as("part_rev"))
      .orderBy(col("l_partkey"))
  }

  // TPC-H Q15 shape: the group(s) whose aggregate EQUALS the global
  // max of that aggregate (argmax-of-aggregate — distinct from Q11's
  // fraction threshold and Q2's per-group correlated min). Revenue is
  // exact decimal end-to-end: operands cast BEFORE the multiply
  // ((18,2)·(4,2) decimal product, then an exact decimal sum), so the
  // max-equality can't miss on a last-ulp double. One suppkey
  // aggregate, a broadcast 1-row max, a broadcast supplier dim join.
  private def qTopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    val per = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey"))
      .agg(expr(s"SUM($rev)").as("rev_dec"), count(lit(1)).as("n_lines"))
    val mx = per.agg(max(col("rev_dec")).as("max_rev"))
    per.crossJoin(broadcast(mx))
      .filter(col("rev_dec") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_lines"),
        expr("CAST(rev_dec AS DOUBLE)").as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  // TPC-H Q2 shape: rows matching their group minimum via a
  // correlated subquery (Catalyst rewrites to an aggregate join).
  private def qMinPerGroup(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d).createOrReplaceTempView("part_mpg")
    s.sql(
      """SELECT p_partkey, p_brand, p_type, p_retailprice
        |FROM part_mpg p
        |WHERE p_retailprice = (SELECT MIN(p2.p_retailprice)
        |                       FROM part_mpg p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin)
  }

  // TPC-H Q14 shape: promo revenue as a share of the window's total —
  // the conditional-aggregate-over-a-join idiom. Both sums are exact
  // decimals over the same broadcast-joined scan; the share is ONE
  // IEEE division of two exact-decimal-derived doubles (identical
  // text both engines). Scale shape: month filter pushed to the scan,
  // part dim broadcast, single partial+final aggregate — no shuffle
  // wider than the 1-row result.
  private def qPromoShare(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .agg(
        expr(s"SUM(CASE WHEN p_type = 'PROMO' THEN $discPrice ELSE CAST(0 AS DECIMAL(18,2)) END)").as("promo_dec"),
        expr(s"SUM($discPrice)").as("total_dec"),
        count(lit(1)).as("n_lines"))
      .select(
        expr("CAST(promo_dec AS DOUBLE)").as("promo_rev"),
        expr("CAST(total_dec AS DOUBLE)").as("total_rev"),
        expr("100.0 * (CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE))").as("promo_share"),
        col("n_lines"))

  // TPC-H Q17 shape: rows under a FRACTION of their group's average —
  // the correlated-avg predicate, expressed as a window over the
  // dim-restricted scan (every line of a Brand#23 part survives the
  // broadcast join, so the window sees the full per-part population —
  // no self-join needed, one partkey-keyed shuffle total). The 20%
  // cutoff is DIVISION-FREE: qty < 0.2·(sum/n) ⇔ qty·5·n < sum
  // (decimal·int products are exact in both engines; decimal division
  // scale rules are not shared).
  private def qSmallQtyRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_brand") === "Brand#23")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("sum_qty",
        expr("SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey)"))
      .withColumn("n_q",
        count(lit(1)).over(Window.partitionBy(col("l_partkey"))))
      .filter(expr("CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_q < sum_qty"))
      .agg(
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0").as("avg_yearly"),
        count(lit(1)).as("n_small"))

  // TPC-H Q18 shape: large-volume orders — a HAVING-filtered fact
  // aggregate joined back to its parent dimension rows. The quantity
  // threshold compares exact decimals; the join back to orders is
  // keyed on the aggregate's own group key so AQE can pick broadcast
  // (the surviving set is tiny by construction — that's the point of
  // the idiom). Top-100 plans as TakeOrderedAndProject.
  private def qBigOrders(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(expr("SUM(CAST(l_quantity AS DECIMAL(18,2)))").as("sum_qty_dec"))
      .filter(col("sum_qty_dec") > expr("CAST(250 AS DECIMAL(18,2))"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"),
        expr("CAST(sum_qty_dec AS DOUBLE)").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  // TPC-H Q19 shape: disjunctive multi-column predicates spanning the
  // fact and the dimension — the OR-of-ANDs residual that tests the
  // planner keeps the equi-join hash-shaped (predicate evaluated as a
  // join residual / post-filter, NOT a cartesian expansion) while the
  // per-table conjuncts Catalyst can factor out (l_quantity ≤ 30,
  // p_size ≥ 1) still push to the scans.
  private def qOrPredicates(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 5)
          && col("l_quantity").between(1.0, 11.0)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
          && col("l_quantity").between(10.0, 20.0)) ||
        (col("p_brand") === "Brand#19" && col("p_size").between(1, 15)
          && col("l_quantity").between(20.0, 30.0)))
      .agg(expr(s"CAST(SUM($discPrice) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_lines"))

  // TPC-H Q12 shape (shipmode→returnflag on this schema): the
  // conditional two-way tally over a fact-fact equi-join — urgent
  // orders counted against the rest per line class. One orderkey
  // join, one tiny-domain aggregate; the CASE tallies ride the same
  // partial+final hash agg as any sum.
  private def qPriorityMix(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")

  // TPC-H Q21 shape: the EXISTS + NOT-EXISTS pair with a same-table
  // inequality correlation — "the only supplier whose line was
  // returned in a finished multi-supplier order". Declared in SQL so
  // Catalyst decorrelates both subqueries into a left-semi and a
  // left-anti join on l_orderkey (inequality residual on suppkey);
  // the numwait DESC + name tiebreak keeps the top-20 total-ordered.
  private def qWaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_ws")
    Tables.orders(s, d).createOrReplaceTempView("orders_ws")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_ws")
    s.sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem_ws l1
        |JOIN orders_ws o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        |JOIN supplier_ws s ON s.s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem_ws l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem_ws l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)
  }

  // TPC-H Q16 shape: supplier-breadth per part attribute with a
  // NOT-IN supplier exclusion. The supplier-part relation is the
  // DISTINCT (l_partkey, l_suppkey) projection of lineitem (this
  // schema carries no partsupp), the exclusion list is the distressed
  // (negative-balance) suppliers — declared as SQL NOT IN so Catalyst
  // plans the null-aware anti join — and the count is
  // COUNT(DISTINCT supplier) per (brand, type, size) over a dim-
  // filtered broadcast join. Scale shape: map-side-distinct pair
  // projection, one broadcast part join, expand+two-phase distinct
  // aggregate; the exclusion side is a ≤|suppliers| broadcast.
  private def qSupplierPartCounts(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_spc")
    Tables.part(s, d).createOrReplaceTempView("part_spc")
    Tables.supplier(s, d).createOrReplaceTempView("supplier_spc")
    s.sql(
      """SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem_spc) ps
        |JOIN part_spc ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier_spc
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
  }

  // TPC-H Q20 shape: the nested semi-join chain gated on a correlated
  // aggregate threshold — "suppliers who dominate a meaningful share
  // of their contested parts' 1996 volume" (partsupp availqty becomes
  // the part's own shipped total on this schema). The correlated
  // comparison is decorrelated by construction: per-(supplier, part)
  // sums roll up once more to per-part totals, per-part dominance is
  // the division-free exact-decimal 2·q_sp > q_p on CONTESTED parts
  // (≥ 2 window suppliers — a sole supplier dominates vacuously),
  // the supplier gate is the integer-exact share bar 10·n_dom ≥
  // n_contested (≥ 10 %, measured selective at both oracle SFs), and
  // the final supplier filter is an IN → left-semi broadcast join.
  // Quantities are per-row DECIMAL(18,2) casts of the on-disk
  // doubles, so both engines sum exactly.
  private def qDominantSuppliers(s: SparkSession, d: String): DataFrame = {
    // pin the per-(supplier, part) sums: the per-part rollup and the
    // dominance join both consume them, and the lineage is the
    // windowed lineitem scan (the lm_score pair-table precedent)
    val w = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("q_sp"))
      .localCheckpoint()
    val tot = w.groupBy(col("l_partkey"))
      .agg(sum(col("q_sp")).as("q_p"), count(lit(1)).as("n_sup"))
    val dominant = w.join(tot, Seq("l_partkey"))
      .filter(col("n_sup") >= 2L)
      .groupBy(col("l_suppkey"))
      .agg(sum(when(col("q_sp") * lit(2) > col("q_p"), 1L).otherwise(0L)).as("n_dom"),
        count(lit(1)).as("n_cont"))
      .filter(col("n_dom") * lit(10L) >= col("n_cont"))
      .select(col("l_suppkey"))
    Tables.supplier(s, d)
      .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_name")
  }

  // TPC-H Q9 shape: product-line profit by (nation, year) — the
  // deepest join tree in the classic set (fact × part × supplier ×
  // orders × nation) with a computed per-line profit. This schema has
  // no partsupp supplycost, so cost = 80 % of retail × quantity (a
  // fixed decimal literal, exact on both engines); profit =
  // extprice·(1−disc) − cost, every term a per-row DECIMAL. Scale
  // shape: part/supplier/nation broadcast, the one fact-fact join
  // (lineitem×orders) on the order key, one (nation, year) hash agg.
  private def qProfitByNation(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d).filter(col("p_name").like("%e%")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        expr("""CAST(SUM(
                  CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                  - CAST(p_retailprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(0.80 AS DECIMAL(18,2))
                ) AS DOUBLE)""").as("profit"))
      .orderBy(col("nation"), col("o_year"))

  // TPC-H Q10 shape: the returned-item revenue report — which
  // customers sent the most revenue back in a quarter. Customer and
  // nation broadcast onto the filtered fact join; revenue is the
  // exact-decimal Σ extprice·(1−disc); top-20 by (revenue DESC,
  // custkey) compiles to TakeOrderedAndProject.
  private def qReturnedCustomers(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(count(lit(1)).as("n_lines"),
        expr("""CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE)""").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  // Data-quality validation sweep (P10 as a first-class operator): the
  // reference's CHECK-constraint domains plus the referential /
  // null-safety invariants a pipeline would assert before training on
  // the data. One (check_name, n_violations) row per rule — each rule
  // is an independent aggregate, so the whole sweep is a union of
  // scan-light partial aggregations.
  private def qValidate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    def check(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    check("customer_dup_key",
      cust.groupBy(col("c_custkey")).agg(count(lit(1)).as("n")).filter(col("n") > 1))
      .union(check("events_bad_type",
        ev.filter(!col("event_type").isin("click", "purchase", "error", "signup", "view"))))
      .union(check("events_null_id", ev.filter(col("event_id").isNull)))
      .union(check("events_orphan_user",
        ev.join(cust, ev("user_id") === cust("c_custkey"), "left_anti")))
      .union(check("lineitem_negative_price", li.filter(col("l_extendedprice") < 0.0)))
      .union(check("lineitem_orphan_order",
        li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")))
      .union(check("orders_orphan_cust",
        ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti")))
      .orderBy("check_name")
  }

  // LATERAL correlated-subquery join: a per-row aggregate subquery in
  // the FROM clause — Catalyst decorrelates it into an aggregate +
  // join, so the declarative per-customer lookup costs one shuffle,
  // not one query per row.
  private def qLateral(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer_lv")
    Tables.orders(s, d).createOrReplaceTempView("orders_lv")
    s.sql(
      """SELECT c.c_custkey, c.c_mktsegment, t.max_price, t.n_orders
        |FROM customer_lv c,
        |LATERAL (SELECT MAX(o.o_totalprice) AS max_price,
        |                COUNT(*) AS n_orders
        |         FROM orders_lv o WHERE o.o_custkey = c.c_custkey) t
        |WHERE c.c_custkey < 100
        |ORDER BY c.c_custkey""".stripMargin)
  }

  // Pearson correlation, decimal-exact: the built-in corr() aggregates
  // running double moments whose value depends on partition order —
  // unusable under a bit-exact oracle AND a determinism liability on
  // any real cluster. Instead the five sufficient statistics (Σx, Σy,
  // Σx², Σy², Σxy) accumulate as EXACT decimals (order-independent),
  // and the correlation is finalized per group with a handful of IEEE
  // double ops. Same result on any partitioning, any engine.
  private def qCorrManual(s: SparkSession, d: String): DataFrame = {
    val x = "CAST(l_quantity AS DECIMAL(18,2))"
    val y = "CAST(l_extendedprice AS DECIMAL(18,2))"
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        expr(s"CAST(SUM($x) AS DOUBLE)").as("sx"),
        expr(s"CAST(SUM($y) AS DOUBLE)").as("sy"),
        expr(s"CAST(SUM($x * $x) AS DOUBLE)").as("sxx"),
        expr(s"CAST(SUM($y * $y) AS DOUBLE)").as("syy"),
        expr(s"CAST(SUM($x * $y) AS DOUBLE)").as("sxy"))
      .withColumn("corr_raw",
        (col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n").cast("double") * col("sxx") - col("sx") * col("sx"))
            * sqrt(col("n").cast("double") * col("syy") - col("sy") * col("sy"))))
      // the decimal→double cast of the big sums can differ in the last
      // ulp across engines (single vs double rounding), so the
      // compared value is pinned through a DECIMAL(18,12) round
      .withColumn("corr_qty_price",
        expr("CAST(CAST(corr_raw AS DECIMAL(18,12)) AS DOUBLE)"))
      .select("l_returnflag", "n", "corr_qty_price")
      .orderBy("l_returnflag")
  }

  // Chi-square test of independence, lang × source over documents —
  // the "is my corpus mix biased by provenance?" audit. One corpus-
  // wide hash aggregate produces the contingency cells; everything
  // after runs on the dimension-sized cell frame (|langs|·|sources|
  // rows), so the windows cost nothing at any corpus scale. The cell
  // spine is the CROSS JOIN of the observed dims, so zero cells
  // contribute their full expected mass instead of being silently
  // dropped. Expected counts and contributions are IEEE doubles from
  // exact integers (identical cross-engine); only the total — a SUM
  // of doubles, order-dependent by nature — goes through the
  // DECIMAL(28,14) pin.
  private def qChi2(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.documents(s, d)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("observed"))
    val langs = obs.select("lang").distinct()
    val sources = obs.select("source").distinct()
    langs.crossJoin(sources)
      .join(obs, Seq("lang", "source"), "left_outer")
      .withColumn("observed", coalesce(col("observed"), lit(0L)))
      .withColumn("row_total",
        expr("CAST(SUM(observed) OVER (PARTITION BY lang) AS BIGINT)"))
      .withColumn("col_total",
        expr("CAST(SUM(observed) OVER (PARTITION BY source) AS BIGINT)"))
      .withColumn("n_total", expr("CAST(SUM(observed) OVER () AS BIGINT)"))
      .withColumn("expected",
        col("row_total").cast("double") * col("col_total").cast("double")
          / col("n_total").cast("double"))
      .withColumn("contrib",
        (col("observed").cast("double") - col("expected"))
          * (col("observed").cast("double") - col("expected")) / col("expected"))
      .withColumn("chi2_total",
        expr("CAST(SUM(CAST(contrib AS DECIMAL(28,14))) OVER () AS DOUBLE)"))
      .select("lang", "source", "observed", "row_total", "col_total",
        "expected", "contrib", "chi2_total")
      .orderBy("lang", "source")
  }

  // FULL OUTER join: events' user_ids cover only the low custkey
  // decile, so both unmatched sides are populated. The deterministic
  // sort key is coalesced from either side (never null, never
  // colliding: custkeys are positive, the unmatched-user marker is
  // negative).
  private def qJoinFull(s: SparkSession, d: String): DataFrame = {
    // every raw user_id has a customer row, so shift every 7th user
    // out of the custkey domain — BOTH unmatched sides must carry rows
    // for the full-outer semantics to be exercised, not vacuous
    val evUsers = Tables.events(s, d)
      .withColumn("user_id",
        when(col("user_id") % 7 === 0, col("user_id") + 1000000L)
          .otherwise(col("user_id")))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"))
    cust.join(evUsers, col("c_custkey") === col("user_id"), "full_outer")
      .select(
        coalesce(col("c_custkey"), -col("user_id")).as("sort_key"),
        col("c_custkey"), col("c_mktsegment"), col("user_id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("c_custkey").isNull.as("customer_missing"),
        col("user_id").isNull.as("never_active"))
      .orderBy("sort_key")
  }

  // Null-safe equality join (<=> / IS NOT DISTINCT FROM): the DISTINCT
  // prop_k domains of two event slices, joined so the null keys MATCH
  // (a plain equi-join drops them).
  private def qJoinNullsafe(s: SparkSession, d: String): DataFrame = {
    // k % 10 == 0 → null on both sides, so the null-key match path is
    // genuinely exercised (raw props carry k for every click/purchase)
    val ev = Tables.events(s, d)
      .withColumn("k_raw", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("prop_k",
        when(col("k_raw") % 10 === 0, lit(null).cast("long"))
          .otherwise(col("k_raw")))
    val a = ev.filter(col("event_type") === "click")
      .select(col("prop_k").as("k")).distinct()
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("prop_k").as("k2")).distinct()
    a.join(b, col("k") <=> col("k2"), "inner")
      .select(
        coalesce(col("k"), lit(-1L)).as("k_or_marker"),
        col("k").isNull.as("is_null_match"))
      .orderBy("k_or_marker")
  }

  // Unpivot/melt (wide → long): the inverse of q_pivot, via the typed
  // Dataset.unpivot API — measures become (measure, value) rows. The
  // reshape every feature-extraction pipeline needs before per-metric
  // aggregation; expands N columns to N rows per input row with no
  // shuffle (generator, not join).
  private def qUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 200)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  // TPC-H Q19 shape: disjunction of conjunctive brand/quantity/size
  // bands over a fact-dim join — exercises CNF conversion, IN-list and
  // range pushdown under OR, and the common-condition extraction that
  // lets the join key predicate reach both scans.
  private def qComplexPred(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val p = Tables.part(s, d)
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15)
          && col("l_quantity").between(1.0, 20.0)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 30)
          && col("l_quantity").between(10.0, 40.0)) ||
        (col("p_brand").isin("Brand#3", "Brand#4") && col("p_size").between(1, 50)
          && col("l_quantity") >= 20.0))
      .agg(
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)")
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // Data profiling sweep — one row per profiled column with the stats
  // a pipeline inspects before training on a table (row/null/distinct
  // counts, numeric min/max, string min/max). Each branch is a single
  // partial+final aggregate over one scan; the union is scan-parallel.
  // Numeric extremes stay DOUBLE (no double→string casts, whose
  // sci-notation thresholds diverge across engines).
  private def qProfile(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def numeric(name: String): DataFrame =
      ev.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(name))).as("n_null"),
        countDistinct(col(name)).as("n_distinct"),
        min(col(name)).cast("double").as("min_num"),
        max(col(name)).cast("double").as("max_num"))
        .select(lit(name).as("col_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_num"), col("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
    def textual(name: String, e: org.apache.spark.sql.Column): DataFrame =
      ev.agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(e)).as("n_null"),
        countDistinct(e).as("n_distinct"),
        min(e).cast("string").as("min_str"),
        max(e).cast("string").as("max_str"))
        .select(lit(name).as("col_name"), col("n"), col("n_null"),
          col("n_distinct"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          col("min_str"), col("max_str"))
    numeric("event_id")
      .union(numeric("user_id"))
      .union(numeric("value"))
      .union(textual("event_type", col("event_type")))
      .union(textual("ts", col("ts")))
      .orderBy("col_name")
  }

  // Approximate distinct (HLL), ORACLED via the error-bound-flag
  // formulation: the sketch value itself is engine-specific, so the
  // query emits the exact distinct count plus `within_bound` — the
  // in-plan check that the HLL estimate landed within 15% (3σ at the
  // default rsd 0.05) of the exact value. The DuckDB oracle asserts
  // the exact count and within_bound = TRUE, so a sketch drifting out
  // of bound is a HASH FAILURE, not a silent estimate change — the
  // estimate is gated without ever being compared bit-for-bit.
  // (ScalaTest separately pins the tighter 10% accuracy band.)
  private def qApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("uniq_users"),
        approx_count_distinct(col("user_id")).as("approx"))
      .select(col("event_type"), col("uniq_users"),
        (abs(col("approx") - col("uniq_users")).cast("double")
          <= col("uniq_users").cast("double") * lit(0.15)).as("within_bound"))
      .orderBy("event_type")

  /** Count-Min-Sketch eps (additive error ≤ eps·N) and confidence for
    * [[qCmsWatchlist]] — width 2000 × depth 10 ≈ 160 KB of counters,
    * a fixed size however large the stream. */
  private val CmsEps = 0.001
  private val CmsConf = 0.999
  /** Monitored-key count: a FIXED-size deterministic watchlist (hash
    * order over part keys), so the driver-side sketch reads stay
    * model-state-bounded at every SF. */
  private val CmsWatch = 100

  // Count-Min-Sketch frequency monitoring — the 100 TB answer to "how
  // often does each key on THIS watchlist occur in the fact stream"
  // without a stream-wide groupBy: ONE pass folds lineitem's part keys
  // into Spark's own CountMinSketchAgg (fixed seed → deterministic;
  // merge is element-wise addition, safe at any parallelism), the
  // ~160 KB sketch comes back as driver model state, and the watchlist
  // estimates are driver-side point reads. ORACLED via the
  // error-bound-flag formulation (q_approx_distinct's device): the
  // query emits each key's EXACT count (computable here because the
  // watchlist is tiny — one broadcast semi-join + agg) plus the two CM
  // guarantees as booleans — never_undercounts (est ≥ exact, a HARD
  // sketch invariant) and within_eps (est ≤ exact + eps·N). DuckDB
  // asserts the exact counts and TRUE/TRUE, so a sketch drifting out
  // of its guarantee is a hash FAILURE, not a silent estimate change.
  private def qCmsWatchlist(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"))
    val sketchBytes = li.agg(expr(
      s"graft_cms_agg(l_partkey, CAST($CmsEps AS DOUBLE), CAST($CmsConf AS DOUBLE), 42)"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    // deterministic fixed-size watchlist: first CmsWatch part keys in
    // md5 order — a bounded model-state collect at every SF
    val watch: Seq[Long] = Tables.part(s, d)
      .select(col("p_partkey"))
      .orderBy(md5(col("p_partkey").cast("string")))
      .limit(CmsWatch)
      .collect().map(_.getLong(0)).toSeq
    val slack = math.ceil(CmsEps * cms.totalCount()).toLong
    val est = watch.map(k => (k, cms.estimateCount(java.lang.Long.valueOf(k))))
    import s.implicits._
    val estDf = est.toDF("p_partkey", "est")
    val exact = li
      .join(broadcast(estDf.select(col("p_partkey").as("l_partkey"))),
        Seq("l_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(count(lit(1)).as("exact_cnt"))
    broadcast(estDf).join(exact, Seq("p_partkey"), "left_outer")
      .withColumn("exact_cnt", coalesce(col("exact_cnt"), lit(0L)))
      .select(col("p_partkey"), col("exact_cnt"),
        (col("est") >= col("exact_cnt")).as("never_undercounts"),
        (col("est") <= col("exact_cnt") + lit(slack)).as("within_eps"))
      .orderBy("p_partkey")
  }

  /** Key-distribution skew diagnostics — the pre-flight question every
    * 100 TB shuffle plan asks before choosing salting / AQE skew
    * handling: per event_type (plus an ALL row over per-user totals),
    * the per-key count distribution (max, nearest-rank p50/p90/p99),
    * the hottest key's share, skew ratio (max/mean), and a salt hint
    * (ceil(max/p50) — the shard count that flattens the hottest key
    * to median volume). Percentiles are NEAREST-RANK (value at row
    * ceil(q*n) of the cnt-sorted keys) — pure integer selection, no
    * interpolation, so both engines agree bit-for-bit; every exposed
    * double is one IEEE division/product of exact integers. Scale
    * shape: two hash aggregations plus one grp-keyed window — the
    * diagnostic itself can never be the skewed job. */
  private def qKeySkew(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val perTU = ev.groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("cnt"))
    val perU = ev.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val lvl = perTU.select(col("event_type").as("grp"), col("user_id"), col("cnt"))
      .union(perU.select(lit("ALL").as("grp"), col("user_id"), col("cnt")))
    val ranked = lvl
      .withColumn("rn", row_number()
        .over(Window.partitionBy("grp").orderBy(col("cnt"), col("user_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")).cast("long"))
    def atQ(q: Double, name: String) =
      max(when(col("rn") === expr(s"CAST(ceil($q * n) AS BIGINT)"), col("cnt"))).as(name)
    ranked.groupBy("grp")
      .agg(count(lit(1)).cast("long").as("n_keys"),
        sum(col("cnt")).cast("long").as("n_rows"),
        max(col("cnt")).cast("long").as("max_cnt"),
        atQ(0.5, "p50_cnt"), atQ(0.9, "p90_cnt"), atQ(0.99, "p99_cnt"))
      .withColumn("mean_cnt",
        col("n_rows").cast("double") / col("n_keys").cast("double"))
      .withColumn("top1_share",
        col("max_cnt").cast("double") / col("n_rows").cast("double"))
      .withColumn("skew_ratio",
        col("max_cnt").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double"))
      .withColumn("salt_hint",
        expr("CAST(ceil(CAST(max_cnt AS DOUBLE) / CAST(p50_cnt AS DOUBLE)) AS BIGINT)"))
      .orderBy("grp")
  }

  /** Order-independent table fingerprinting — the cross-cluster
    * replication/migration audit: per month-partition (and a rolled-up
    * grand total), n_rows plus a BIT_XOR of a per-row 64-bit content
    * hash. XOR is commutative/associative, so the checksum is
    * partition- and order-invariant by construction — two clusters
    * compare one tiny frame instead of 100 TB of rows. The row hash
    * is md5 over a canonical '|'-joined rendering (integers, strings,
    * the price pinned to DECIMAL(18,2) — doubles never serialized
    * raw; the timestamp as unix micros), folded to a signed BIGINT
    * from two 8-hex halves (shiftleft|conv on the Spark side, the
    * two's-complement HUGEINT assembly in DuckDB — the q_image_dedup
    * device). Scale shape: one narrow map + one hash agg; ROLLUP adds
    * the grand total without a second scan. */
  private def qTableChecksum(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("mkey",
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long"))
      .withColumn("row_str", expr(
        """concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
             o_orderstatus, o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING),
             CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS STRING))"""))
      .withColumn("h", md5(col("row_str")))
      .withColumn("h64", expr(
        """shiftleft(CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT), 32)
           | CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)"""))
      .rollup(col("mkey"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h64)").as("checksum"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .withColumn("mkey", coalesce(col("mkey"), lit(-1L)))
      .select("mkey", "n_rows", "checksum", "min_key", "max_key")
      .orderBy("mkey")

  /** Incremental materialized-view maintenance — the delta-merge
    * algebra every warehouse's refresh path runs: the newest month is
    * the "arriving batch", base and delta are aggregated SEPARATELY
    * and merged with the mergeable-aggregate rules (counts add,
    * DECIMAL sums add exactly, MAX is greatest-with-null-skip across
    * sides of the full outer join). The ORACLE is deliberately the
    * single-pass recompute over the whole table: the hash gate proves
    * merge ≡ recompute — the correctness condition incremental view
    * maintenance rests on. Scale shape: at 100 TB the base agg is the
    * stored view state (read back, never rescanned); here both sides
    * derive from one localCheckpoint'd tagged scan. */
  private def qViewMaintenance(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("mkey",
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long"))
    val cut = o.agg(max(col("mkey")).as("cut"))
    val tagged = o.crossJoin(broadcast(cut))
      .withColumn("is_delta", col("mkey") === col("cut"))
      .select("o_orderpriority", "o_totalprice", "is_delta")
      .localCheckpoint() // base and delta aggregations share the tagged scan
    def aggSide(df: DataFrame) = df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).as("sp"),
        max(expr("CAST(o_totalprice AS DECIMAL(18,2))")).as("mx"))
    val base = aggSide(tagged.filter(!col("is_delta")))
      .select(col("o_orderpriority"), col("n").as("n_b"),
        col("sp").as("sp_b"), col("mx").as("mx_b"))
    val delta = aggSide(tagged.filter(col("is_delta")))
      .select(col("o_orderpriority"), col("n").as("n_d"),
        col("sp").as("sp_d"), col("mx").as("mx_d"))
    base.join(delta, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority").as("priority"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_orders"),
        expr("""CAST(coalesce(sp_b, CAST(0 AS DECIMAL(28,2)))
                     + coalesce(sp_d, CAST(0 AS DECIMAL(28,2))) AS DOUBLE)""")
          .as("sum_price"),
        expr("CAST(greatest(mx_b, mx_d) AS DOUBLE)").as("max_price"))
      .orderBy("priority")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_table_checksum" -> (qTableChecksum _),
    "q_view_maintenance" -> (qViewMaintenance _),
    "q_key_skew" -> (qKeySkew _),
    "q_filter_project" -> (qFilterProject _),
    "q_agg_pricing" -> (qAggPricing _),
    "q_agg_having" -> (qAggHaving _),
    "q_distinct" -> (qDistinct _),
    "q_count_distinct" -> (qCountDistinct _),
    "q_join_inner" -> (qJoinInner _),
    "q_join_left" -> (qJoinLeft _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _),
    "q_join_range" -> (qJoinRange _),
    "q_star_join" -> (qStarJoin _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_topk" -> (qTopk _),
    "q_sort_multi" -> (qSortMulti _),
    "q_union" -> (qUnion _),
    "q_intersect" -> (qIntersect _),
    "q_except" -> (qExcept _),
    "q_string_funcs" -> (qStringFuncs _),
    "q_date_funcs" -> (qDateFuncs _),
    "q_json_funcs" -> (qJsonFuncs _),
    "q_case_when" -> (qCaseWhen _),
    "q_math_funcs" -> (qMathFuncs _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_cms_watchlist" -> (qCmsWatchlist _),
    "q_pivot" -> (qPivot _),
    "q_join_salted" -> (qJoinSalted _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_validate" -> (qValidate _),
    "q_profile" -> (qProfile _),
    "q_complex_pred" -> (qComplexPred _),
    "q_unpivot" -> (qUnpivot _),
    "q_join_full" -> (qJoinFull _),
    "q_corr_manual" -> (qCorrManual _),
    "q_chi2" -> (qChi2 _),
    "q_lateral" -> (qLateral _),
    "q_join_nullsafe" -> (qJoinNullsafe _),
    "q_revenue_filter" -> (qRevenueFilter _),
    "q_exists_count" -> (qExistsCount _),
    "q_custdist" -> (qCustdist _),
    "q_revenue_concentration" -> (qRevenueConcentration _),
    "q_top_supplier" -> (qTopSupplier _),
    "q_dormant_customers" -> (qDormantCustomers _),
    "q_min_per_group" -> (qMinPerGroup _),
    "q_promo_share" -> (qPromoShare _),
    "q_small_qty_revenue" -> (qSmallQtyRevenue _),
    "q_big_orders" -> (qBigOrders _),
    "q_or_predicates" -> (qOrPredicates _),
    "q_priority_mix" -> (qPriorityMix _),
    "q_waiting_suppliers" -> (qWaitingSuppliers _),
    "q_supplier_part_counts" -> (qSupplierPartCounts _),
    "q_dominant_suppliers" -> (qDominantSuppliers _),
    "q_profit_by_nation" -> (qProfitByNation _),
    "q_returned_customers" -> (qReturnedCustomers _),
    "q_join_volume_flow" -> (qJoinVolumeFlow _),
    "q_market_share" -> (qMarketShare _),
    "q_month_spine" -> (qMonthSpine _),
    "q_gap_fill" -> (qGapFill _),
    "q_stock_replay" -> (qStockReplay _),
    "q_bag_ops" -> (qBagOps _),
    "q_skyline" -> (qSkyline _)
  )

  val oracle: Map[String, String] = Map(
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT r.r_name AS region,
        |         CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2
        |), spine AS (
        |  SELECT region, CAST(UNNEST(range(MIN(day_idx), MAX(day_idx) + 1)) AS BIGINT) AS day_idx
        |  FROM daily GROUP BY region
        |), nav AS (
        |  SELECT s.region, s.day_idx, d.n_orders,
        |         last_value(CASE WHEN d.n_orders IS NOT NULL THEN s.day_idx END IGNORE NULLS)
        |           OVER (PARTITION BY s.region ORDER BY s.day_idx
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_day,
        |         last_value(d.n_orders IGNORE NULLS)
        |           OVER (PARTITION BY s.region ORDER BY s.day_idx
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_val,
        |         first_value(CASE WHEN d.n_orders IS NOT NULL THEN s.day_idx END IGNORE NULLS)
        |           OVER (PARTITION BY s.region ORDER BY s.day_idx
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS b_day,
        |         first_value(d.n_orders IGNORE NULLS)
        |           OVER (PARTITION BY s.region ORDER BY s.day_idx
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS b_val
        |  FROM spine s LEFT JOIN daily d ON d.region = s.region AND d.day_idx = s.day_idx
        |), f AS (
        |  SELECT region, day_idx, n_orders, n_orders IS NULL AS is_filled,
        |         CAST(CASE WHEN n_orders IS NOT NULL THEN n_orders
        |              ELSE a_val * (b_day - day_idx) + b_val * (day_idx - a_day) END AS BIGINT) AS fill_num,
        |         CAST(CASE WHEN n_orders IS NOT NULL THEN 1
        |              ELSE b_day - a_day END AS BIGINT) AS fill_den
        |  FROM nav
        |)
        |SELECT region, day_idx, n_orders, is_filled, fill_num, fill_den,
        |       CAST(fill_num AS DOUBLE) / CAST(fill_den AS DOUBLE) AS filled
        |FROM f ORDER BY region, day_idx""".stripMargin,
    // single-pass recompute ON PURPOSE: the hash match proves the
    // Spark-side base+delta merge is equivalent to recomputation
    "q_view_maintenance" ->
      """SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        |FROM orders GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_table_checksum" ->
      """WITH rows_h AS (
        |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS mkey,
        |         o_orderkey,
        |         md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |             o_orderstatus, o_orderpriority,
        |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
        |             CAST(epoch_us(o_orderdate) AS VARCHAR))) AS h
        |  FROM orders
        |), h64 AS (
        |  SELECT mkey, o_orderkey,
        |         CAST((hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
        |              * 4294967296 + lo AS BIGINT) AS h64
        |  FROM (SELECT mkey, o_orderkey,
        |               CAST(('0x' || substr(h, 1, 8))::BIGINT AS HUGEINT) AS hi,
        |               CAST(('0x' || substr(h, 9, 8))::BIGINT AS HUGEINT) AS lo
        |        FROM rows_h)
        |)
        |SELECT COALESCE(mkey, -1) AS mkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       bit_xor(h64) AS checksum,
        |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM h64
        |GROUP BY ROLLUP(mkey)
        |ORDER BY COALESCE(mkey, -1)""".stripMargin,
    "q_key_skew" ->
      """WITH per_tu AS (
        |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, user_id
        |), per_u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
        |), lvl AS (
        |  SELECT event_type AS grp, user_id, cnt FROM per_tu
        |  UNION ALL
        |  SELECT 'ALL' AS grp, user_id, cnt FROM per_u
        |), ranked AS (
        |  SELECT grp, cnt,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cnt, user_id) AS BIGINT) AS rn,
        |         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
        |  FROM lvl
        |), agg AS (
        |  SELECT grp,
        |         CAST(COUNT(*) AS BIGINT) AS n_keys,
        |         CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
        |         CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN cnt END) AS BIGINT) AS p50_cnt,
        |         CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN cnt END) AS BIGINT) AS p90_cnt,
        |         CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN cnt END) AS BIGINT) AS p99_cnt
        |  FROM ranked GROUP BY grp
        |)
        |SELECT grp, n_keys, n_rows, max_cnt, p50_cnt, p90_cnt, p99_cnt,
        |       CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mean_cnt,
        |       CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1_share,
        |       CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |         / CAST(n_rows AS DOUBLE) AS skew_ratio,
        |       CAST(ceil(CAST(max_cnt AS DOUBLE) / CAST(p50_cnt AS DOUBLE)) AS BIGINT) AS salt_hint
        |FROM agg
        |ORDER BY grp""".stripMargin,
    // twin of qMonthSpine's Spark SQL — see the DIALECT PIN comment
    // there; only the INTERVAL step syntax and output casts differ
    "q_skyline" ->
      """WITH pts AS (
        |  SELECT p_partkey, p_retailprice AS price, CAST(p_size AS BIGINT) AS size
        |  FROM part
        |)
        |SELECT p_partkey, price, size
        |FROM pts r
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts e
        |  WHERE e.price <= r.price AND e.size <= r.size
        |    AND (e.price < r.price OR e.size < r.size))
        |ORDER BY price, size, p_partkey""".stripMargin,
    "q_bag_ops" ->
      """WITH a AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS pri
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), b AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS pri
        |  FROM orders WHERE o_orderkey % 2 = 1
        |), ex AS (
        |  SELECT st, pri FROM a EXCEPT ALL SELECT st, pri FROM b
        |), ia AS (
        |  SELECT st, pri FROM a INTERSECT ALL SELECT st, pri FROM b
        |)
        |SELECT 'except_all' AS op, st, pri, CAST(COUNT(*) AS BIGINT) AS n
        |FROM ex GROUP BY st, pri
        |UNION ALL
        |SELECT 'intersect_all' AS op, st, pri, CAST(COUNT(*) AS BIGINT) AS n
        |FROM ia GROUP BY st, pri
        |ORDER BY op, st, pri""".stripMargin,
    "q_stock_replay" ->
      ("WITH RECURSIVE " + stockGridCtes("//") + ", " + stockSimSql("//", "grid_v"))
        .replace("__T_ORDERS__", "orders").replace("__T_CUSTOMER__", "customer")
        .replace("__T_NATION__", "nation").replace("__T_REGION__", "region"),
    "q_month_spine" ->
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
        |         date_trunc('month', MAX(o_orderdate)) AS hi
        |  FROM orders
        |), spine AS (
        |  SELECT lo AS m, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
        |), monthly AS (
        |  SELECT date_trunc('month', o_orderdate) AS m, COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1
        |)
        |SELECT CAST(s.m AS TIMESTAMP) AS m,
        |       CAST(COALESCE(mo.n_orders, 0) AS BIGINT) AS n_orders,
        |       COALESCE(mo.revenue, 0.0) AS revenue
        |FROM spine s LEFT JOIN monthly mo ON s.m = mo.m
        |ORDER BY m""".stripMargin,
    "q_join_volume_flow" ->
      s"""WITH flow AS (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |         $discPrice AS volume
         |  FROM lineitem
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders   ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_3')
         |      OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_1'))
         |    AND l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate <= TIMESTAMP '1999-12-31')
         |SELECT supp_nation, cust_nation, l_year,
         |       CAST(SUM(volume) AS DOUBLE) AS revenue,
         |       COUNT(*) AS n_items
         |FROM flow
         |GROUP BY supp_nation, cust_nation, l_year
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_market_share" ->
      s"""WITH base AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |         $discPrice AS volume,
         |         n2.n_name AS nation
         |  FROM lineitem
         |  JOIN part     ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders   ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |  JOIN region    ON n1.n_regionkey = r_regionkey
         |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |  WHERE r_name = 'EUROPE' AND p_type = 'PROMO')
         |SELECT o_year,
         |       COALESCE(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume END) AS DOUBLE), 0.0) AS nation_volume,
         |       CAST(SUM(volume) AS DOUBLE) AS total_volume,
         |       COALESCE(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume END) AS DOUBLE), 0.0)
         |         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
         |FROM base
         |GROUP BY o_year
         |ORDER BY o_year""".stripMargin,
    "q_lateral" ->
      """SELECT c.c_custkey, c.c_mktsegment, t.max_price, t.n_orders
        |FROM customer c,
        |LATERAL (SELECT MAX(o.o_totalprice) AS max_price,
        |                COUNT(*) AS n_orders
        |         FROM orders o WHERE o.o_custkey = c.c_custkey) t
        |WHERE c.c_custkey < 100
        |ORDER BY c.c_custkey""".stripMargin,
    "q_corr_manual" ->
      """WITH sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem
        |  GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |       CAST(CAST((CAST(n AS DOUBLE) * sxy - sx * sy)
        |         / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |            * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS DECIMAL(18,12)) AS DOUBLE) AS corr_qty_price
        |FROM sums
        |ORDER BY l_returnflag""".stripMargin,
    "q_chi2" ->
      """WITH obs AS (
        |  SELECT lang, source, COUNT(*) AS observed
        |  FROM documents GROUP BY lang, source
        |), spine AS (
        |  SELECT l.lang, s.source
        |  FROM (SELECT DISTINCT lang FROM obs) l
        |  CROSS JOIN (SELECT DISTINCT source FROM obs) s
        |), cells AS (
        |  SELECT spine.lang, spine.source,
        |         CAST(COALESCE(obs.observed, 0) AS BIGINT) AS observed
        |  FROM spine LEFT JOIN obs
        |    ON spine.lang = obs.lang AND spine.source = obs.source
        |), tot AS (
        |  SELECT lang, source, observed,
        |         CAST(SUM(observed) OVER (PARTITION BY lang) AS BIGINT) AS row_total,
        |         CAST(SUM(observed) OVER (PARTITION BY source) AS BIGINT) AS col_total,
        |         CAST(SUM(observed) OVER () AS BIGINT) AS n_total
        |  FROM cells
        |), ex AS (
        |  SELECT *,
        |         CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
        |           / CAST(n_total AS DOUBLE) AS expected
        |  FROM tot
        |), ct AS (
        |  SELECT *,
        |         (CAST(observed AS DOUBLE) - expected)
        |           * (CAST(observed AS DOUBLE) - expected) / expected AS contrib
        |  FROM ex
        |)
        |SELECT lang, source, observed, row_total, col_total, expected, contrib,
        |       CAST(SUM(CAST(contrib AS DECIMAL(28,14))) OVER () AS DOUBLE)
        |         AS chi2_total
        |FROM ct
        |ORDER BY lang, source""".stripMargin,
    "q_join_full" ->
      """WITH ev AS (
        |  SELECT user_id, COUNT(*) AS n_events FROM (
        |    SELECT CASE WHEN user_id % 7 = 0 THEN user_id + 1000000 ELSE user_id END AS user_id
        |    FROM events)
        |  GROUP BY user_id
        |), cust AS (
        |  SELECT c_custkey, c_mktsegment FROM customer
        |)
        |SELECT COALESCE(c.c_custkey, -e.user_id) AS sort_key,
        |       c.c_custkey, c.c_mktsegment, e.user_id,
        |       COALESCE(e.n_events, 0) AS n_events,
        |       c.c_custkey IS NULL AS customer_missing,
        |       e.user_id IS NULL AS never_active
        |FROM cust c FULL OUTER JOIN ev e ON c.c_custkey = e.user_id
        |ORDER BY sort_key""".stripMargin,
    "q_join_nullsafe" ->
      """WITH raw AS (
        |  SELECT event_type,
        |         CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 0
        |              THEN NULL
        |              ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
        |  FROM events
        |), a AS (
        |  SELECT DISTINCT k FROM raw WHERE event_type = 'click'
        |), b AS (
        |  SELECT DISTINCT k AS k2 FROM raw WHERE event_type = 'purchase'
        |)
        |SELECT COALESCE(a.k, -1) AS k_or_marker,
        |       a.k IS NULL AS is_null_match
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2
        |ORDER BY k_or_marker""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |  FROM lineitem WHERE l_orderkey < 200
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_orderkey < 200
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey < 200
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |  FROM lineitem WHERE l_orderkey < 200)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q_complex_pred" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1.0 AND 20.0)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30
        |       AND l_quantity BETWEEN 10.0 AND 40.0)
        |   OR (p_brand IN ('Brand#3', 'Brand#4') AND p_size BETWEEN 1 AND 50
        |       AND l_quantity >= 20.0)""".stripMargin,
    "q_profile" ->
      """WITH p AS (
        |  SELECT 'event_id' AS col_name, COUNT(*) AS n,
        |         COUNT(*) - COUNT(event_id) AS n_null,
        |         COUNT(DISTINCT event_id) AS n_distinct,
        |         CAST(MIN(event_id) AS DOUBLE) AS min_num,
        |         CAST(MAX(event_id) AS DOUBLE) AS max_num,
        |         CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
        |         COUNT(DISTINCT user_id),
        |         CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
        |         COUNT(DISTINCT value),
        |         MIN(value), MAX(value),
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
        |         COUNT(DISTINCT event_type),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |         MIN(event_type), MAX(event_type)
        |  FROM events
        |  UNION ALL
        |  SELECT 'ts', COUNT(*), COUNT(*) - COUNT(ts),
        |         COUNT(DISTINCT ts),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |         CAST(MIN(ts) AS VARCHAR), CAST(MAX(ts) AS VARCHAR)
        |  FROM events
        |)
        |SELECT col_name, n, n_null, n_distinct, min_num, max_num, min_str, max_str
        |FROM p
        |ORDER BY col_name""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.08
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |       CAST(SUM($discPrice) AS DOUBLE) AS sum_disc_price,
         |       CAST(SUM($charge) AS DOUBLE) AS sum_charge,
         |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
         |       COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_having" ->
      """SELECT o_custkey, COUNT(*) AS order_cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spent
        |FROM orders
        |GROUP BY o_custkey
        |HAVING COUNT(*) >= 12
        |ORDER BY o_custkey""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey
        |FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,
    "q_approx_distinct" ->
      // error-bound-flag formulation: the oracle asserts the exact
      // count and that the engine-specific HLL estimate stayed in its
      // 3-sigma band — the sketch is gated without being compared
      """SELECT event_type, COUNT(DISTINCT user_id) AS uniq_users,
        |       TRUE AS within_bound
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_cms_watchlist" ->
      // same error-bound-flag device: exact per-key counts are
      // asserted bit-for-bit; the sketch estimates are gated through
      // the two CM guarantees (est >= exact always; est <= exact +
      // eps*N at the configured confidence), which must BOTH read TRUE
      s"""WITH watch AS (
         |  SELECT p_partkey FROM part
         |  ORDER BY md5(CAST(p_partkey AS VARCHAR)) LIMIT $CmsWatch
         |), exact AS (
         |  SELECT l_partkey AS p_partkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
         |  FROM lineitem
         |  WHERE l_partkey IN (SELECT p_partkey FROM watch)
         |  GROUP BY l_partkey
         |)
         |SELECT w.p_partkey, COALESCE(e.exact_cnt, 0) AS exact_cnt,
         |       TRUE AS never_undercounts, TRUE AS within_eps
         |FROM watch w LEFT JOIN exact e ON e.p_partkey = w.p_partkey
         |ORDER BY w.p_partkey""".stripMargin,
    "q_count_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS uniq_users, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_join_inner" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |       CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1996-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 20""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_range" ->
      """SELECT s_suppkey, COUNT(*) AS n_richer_customers
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
        |GROUP BY s_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "q_star_join" ->
      s"""SELECT n_name, CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin,
    "q_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY COALESCE(r_name, '~'), COALESCE(n_name, '~')""".stripMargin,
    "q_cube" ->
      """SELECT event_type, date_trunc('day', ts) AS day_ts, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, date_trunc('day', ts))
        |ORDER BY COALESCE(event_type, '~'), COALESCE(date_trunc('day', ts), TIMESTAMP '9999-01-01')""".stripMargin,
    "q_grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY COALESCE(c_mktsegment, '~'), COALESCE(c_nationkey, -1)""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q_sort_multi" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate, l_quantity
        |FROM lineitem
        |ORDER BY l_returnflag, l_shipdate DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,
    "q_union" ->
      """SELECT o_custkey AS custkey FROM orders
        |UNION
        |SELECT user_id AS custkey FROM events
        |ORDER BY custkey""".stripMargin,
    "q_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT user_id AS custkey FROM events
        |ORDER BY custkey""".stripMargin,
    "q_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT user_id AS custkey FROM events
        |ORDER BY custkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey,
        |       upper(p_brand) AS brand_u,
        |       lower(p_name) AS name_l,
        |       substring(p_name, 1, 12) AS name_pfx,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       concat_ws('|', p_brand, p_type) AS brand_type,
        |       regexp_replace(p_type, ' ', '_', 'g') AS type_u,
        |       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |       'part:' || CAST(p_partkey AS VARCHAR) AS part_key
        |FROM part
        |ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
        |       CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS o_day,
        |       date_trunc('month', o_orderdate) AS month_start,
        |       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
        |       json_extract_string(props, '$.missing') AS prop_missing,
        |       json_extract_string(props, '$.k') IS NOT NULL AS has_k
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_case_when" ->
      """SELECT CASE WHEN value < 10.0 THEN 'low'
        |            WHEN value < 100.0 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    "q_revenue_filter" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    "q_exists_count" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec,
        |         COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY l_suppkey
        |), mx AS (SELECT MAX(rev_dec) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, n_lines,
        |       CAST(rev_dec AS DOUBLE) AS total_rev
        |FROM rev, mx
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = max_rev
        |ORDER BY s_suppkey""".stripMargin,
    "q_revenue_concentration" ->
      """WITH per AS (
        |  SELECT l_partkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_rev_dec,
        |         COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY l_partkey
        |), tot AS (
        |  SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS total_rev
        |  FROM lineitem
        |)
        |SELECT l_partkey, n_lines, CAST(part_rev_dec AS DOUBLE) AS part_rev
        |FROM per, tot
        |WHERE part_rev_dec * 1250 > total_rev
        |ORDER BY l_partkey""".stripMargin,
    "q_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey
        |)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_dormant_customers" ->
      """WITH pos AS (
        |  SELECT COUNT(*) AS n_pos,
        |         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total_pos
        |  FROM customer WHERE c_acctbal > 0.0
        |), ref AS (
        |  SELECT CAST(MAX(o_orderdate) AS DATE) - 90 AS cutoff FROM orders
        |)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer c, pos, ref
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > total_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND CAST(o.o_orderdate AS DATE) >= ref.cutoff)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q_promo_share" ->
      """WITH agg AS (
        |  SELECT SUM(CASE WHEN p_type = 'PROMO'
        |                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo_dec,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_dec,
        |         COUNT(*) AS n_lines
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |    AND l_shipdate < TIMESTAMP '1996-10-01'
        |)
        |SELECT CAST(promo_dec AS DOUBLE) AS promo_rev,
        |       CAST(total_dec AS DOUBLE) AS total_rev,
        |       100.0 * (CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)) AS promo_share,
        |       n_lines
        |FROM agg""".stripMargin,
    "q_small_qty_revenue" ->
      """WITH lw AS (
        |  SELECT l_quantity, l_extendedprice,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS sum_qty,
        |         COUNT(*) OVER (PARTITION BY l_partkey) AS n_q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23'
        |)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |       COUNT(*) AS n_small
        |FROM lw
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_q < sum_qty""".stripMargin,
    "q_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(250 AS DECIMAL(18,2))
        |)
        |SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       CAST(sum_qty_dec AS DOUBLE) AS sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q_or_predicates" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1.0 AND 11.0)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10.0 AND 20.0)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin,
    "q_priority_mix" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_profit_by_nation" ->
      """SELECT n_name AS nation,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(
        |         CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |         - CAST(p_retailprice AS DECIMAL(18,2))
        |           * CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(0.80 AS DECIMAL(18,2))
        |       ) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%e%'
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year""".stripMargin,
    "q_returned_customers" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |         * (CAST(1.00 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q_supplier_part_counts" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_dominant_suppliers" ->
      """WITH w AS (
        |  SELECT l_suppkey, l_partkey,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q_sp
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |), tot AS (
        |  SELECT l_partkey, SUM(q_sp) AS q_p, COUNT(*) AS n_sup
        |  FROM w GROUP BY l_partkey
        |), dominant AS (
        |  SELECT l_suppkey
        |  FROM w JOIN tot USING (l_partkey)
        |  WHERE n_sup >= 2
        |  GROUP BY l_suppkey
        |  HAVING SUM(CASE WHEN q_sp * 2 > q_p THEN 1 ELSE 0 END) * 10
        |         >= COUNT(*)
        |)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
        |ORDER BY s_name""".stripMargin,
    "q_waiting_suppliers" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "q_min_per_group" ->
      """SELECT p_partkey, p_brand, p_type, p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT MIN(p2.p_retailprice)
        |                       FROM part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin,
    "q_validate" ->
      """SELECT * FROM (
        |  SELECT 'customer_dup_key' AS check_name,
        |         (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1)) AS n_violations
        |  UNION ALL
        |  SELECT 'events_bad_type',
        |         (SELECT COUNT(*) FROM events WHERE event_type NOT IN ('click', 'purchase', 'error', 'signup', 'view'))
        |  UNION ALL
        |  SELECT 'events_null_id', (SELECT COUNT(*) FROM events WHERE event_id IS NULL)
        |  UNION ALL
        |  SELECT 'events_orphan_user',
        |         (SELECT COUNT(*) FROM events e WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        |  UNION ALL
        |  SELECT 'lineitem_negative_price', (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0.0)
        |  UNION ALL
        |  SELECT 'lineitem_orphan_order',
        |         (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'orders_orphan_cust',
        |         (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |)
        |ORDER BY check_name""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |       COALESCE(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS click,
        |       COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS purchase,
        |       COALESCE(CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS error,
        |       COALESCE(CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS signup,
        |       COALESCE(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q_join_salted" ->
      """SELECT user_id, COUNT(*) AS n_pairs,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM events JOIN orders ON user_id = o_custkey
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT c_custkey, c_acctbal,
        |       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |       abs(l_discount - 0.05) AS disc_dev,
        |       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        |       CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
        |       sqrt(l_quantity) AS qty_sqrt,
        |       l_quantity * l_quantity AS qty_sq,
        |       greatest(l_tax, l_discount) AS max_rate,
        |       least(l_tax, l_discount) AS min_rate,
        |       l_partkey % 7 AS pk_mod
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber
        |LIMIT 500""".stripMargin
  )
}
