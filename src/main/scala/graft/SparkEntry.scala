package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.GraftFrame.DataFrameOps
import graft.functions._
import graft.functions.Exact._

/** Driver contract: one `queries` entry (+ DuckDB oracle SQL) per
  * operator in SURVEY.md §2. Every query is expressed through the
  * graft API (not raw Spark) so the correctness gate exercises the
  * library surface.
  */
object SparkEntry {

  // ---- table access ------------------------------------------------------
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.readParquet(s, s"$dir/$name.parquet")

  private def li(s: SparkSession, d: String) = t(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = t(s, d, "orders")
  private def cust(s: SparkSession, d: String) = t(s, d, "customer")
  private def sup(s: SparkSession, d: String) = t(s, d, "supplier")
  private def nat(s: SparkSession, d: String) = t(s, d, "nation")
  private def reg(s: SparkSession, d: String) = t(s, d, "region")
  private def part(s: SparkSession, d: String) = t(s, d, "part")

  private val revenueExpr: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))
  private val revenueSql = "l_extendedprice*(1-l_discount)"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1Pricing(spark, "/root/testdata/sf0.001")

  // ---- headline queries (§2.8) ------------------------------------------
  /** TPC-H Q1-shaped pricing summary: single scan, partial aggs. */
  private def q1Pricing(s: SparkSession, d: String): DataFrame =
    li(s, d).graft
      .filterRows(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .summarise(
        "sum_qty" -> dsum(col("l_quantity")),
        "sum_base_price" -> dsum(col("l_extendedprice")),
        "sum_disc_price" -> dsum(revenueExpr),
        "avg_qty" -> davg(col("l_quantity")),
        "avg_price" -> davg(col("l_extendedprice")),
        "count_order" -> count(lit(1)))
      .ungroup.arrange(col("l_returnflag"), col("l_linestatus")).df

  /** TPC-H Q3-shaped: selective dim filter into the fact join, then
    * agg + top-k by revenue. The BROADCAST side is the filtered
    * customer selection (a dimension-sized input at any scale) — never
    * the orders fact table, which would exceed the broadcast threshold
    * at 100x and fall back mid-query.
    *
    * r17 (guide §2.3 "aggregate before you shuffle"): lineitem revenue
    * is PRE-AGGREGATED by orderkey BEFORE the join. The old
    * join-then-agg shape shuffled every joined lineitem row wide (and
    * at bench scale Catalyst's size estimate even put the 600k-row
    * lineitem on the BUILD side of a broadcast join — the fact must
    * stream, at every scale); the pre-agg shuffles one narrow
    * (orderkey, decimal) row per map-side group, the orders⋈revenue
    * join then carries order-grain rows only, and the per-order
    * decimal sum is EXACT, so the result is bit-identical (revenue
    * per order was already one dsum group per orderkey). */
  private def q3TopK(s: SparkSession, d: String): DataFrame = {
    val liRev = li(s, d).graft
      .groupBy("l_orderkey")
      .summarise("revenue" -> dsum(revenueExpr))
      .ungroup
    ord(s, d).graft
      .innerJoin(
        cust(s, d).graft
          .filterRows(col("c_mktsegment") === "BUILDING")
          .rename("o_custkey" -> "c_custkey"),
        Seq("o_custkey"), broadcastRight = true)
      .rename("l_orderkey" -> "o_orderkey")
      .innerJoin(liRev, Seq("l_orderkey"))
      .select("l_orderkey", "revenue")
      .arrange(col("revenue").desc, col("l_orderkey"))
      .sliceHead(10).df
      .orderBy(col("revenue").desc, col("l_orderkey"))
  }

  /** TPC-H Q5-shaped: broadcast dim chain region→nation→customer, agg
    * revenue by nation. The ASIA filter is applied to the dim chain
    * BEFORE it reaches customer — guaranteed selective broadcast
    * regardless of what Catalyst pushes. */
  private def q5Region(s: SparkSession, d: String): DataFrame = {
    val dims = nat(s, d).graft
      .rename("c_nationkey" -> "n_nationkey")
      .innerJoin(
        reg(s, d).graft
          .filterRows(col("r_name") === "ASIA")
          .rename("n_regionkey" -> "r_regionkey"),
        Seq("n_regionkey"), broadcastRight = true)
    // r17 (guide §2.3): lineitem revenue pre-aggregated by orderkey
    // before the join — the fact streams one narrow partial-agged
    // (orderkey, decimal) row per group into the join instead of
    // every wide lineitem row (bench-scale Catalyst had even made
    // 600k-row lineitem the broadcast BUILD side). Decimal sums are
    // exact and associative, so summing the per-order decimals by
    // nation is bit-identical to the one-level dsum; the final
    // decimal→double bridge is the same string-bridged cast dsum uses.
    val liRev = li(s, d).graft
      .groupBy("l_orderkey")
      .summarise("__rev" -> sum(revenueExpr.cast("decimal(28,6)")))
      .ungroup
    cust(s, d).graft
      .innerJoin(dims, Seq("c_nationkey"), broadcastRight = true)
      .rename("o_custkey" -> "c_custkey")
      .innerJoin(ord(s, d).graft, Seq("o_custkey"))
      .rename("l_orderkey" -> "o_orderkey")
      .innerJoin(liRev, Seq("l_orderkey"))
      .groupBy("n_name")
      .summarise("revenue" -> sum(col("__rev")).cast("string").cast("double"))
      .ungroup
      .arrange(col("n_name")).df
  }

  /** TPC-H-shaped RUNNING WINDOW headliner (§2.8's fourth analytical
    * query): per-order cumulative revenue and running max quantity in
    * linenumber order over the lineitem fact. The window partitions by
    * l_orderkey — millions of small partitions at scale, one shuffle,
    * never a global window; the cumsum accumulates in exact decimal so
    * the distributed association is bit-identical to DuckDB's
    * sequential running sum (the d_cum recipe). */
  private def q4Window(s: SparkSession, d: String): DataFrame = {
    val part = Seq(col("l_orderkey"))
    // l_linenumber repeats within an order in the synthetic data; a
    // ROWS-frame running aggregate needs a TOTAL order, so the tie
    // chain runs to a key unique at every sf (declared-total-order
    // escape hatch, SURVEY §1)
    val ordr = Seq(col("l_linenumber").asc, col("l_partkey").asc,
      col("l_suppkey").asc, col("l_extendedprice").asc)
    li(s, d).graft
      .mutate(
        "run_rev" -> CumFns.cumsum(
          revenueExpr.cast("decimal(28,6)"), ordr, part).cast("double"),
        "run_max_qty" -> CumFns.cummax(col("l_quantity"), ordr, part))
      .select("l_orderkey", "l_linenumber", "run_rev", "run_max_qty")
      .arrange(col("l_orderkey"), col("l_linenumber")).df
  }

  // ---- registry ----------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = QueriesDplyr.queries ++ QueriesTidyr.queries ++ QueriesBase.queries ++ QueriesForcats.queries ++ QueriesOps.queries ++ Map(
    // headline
    "q1_pricing" -> ((s, d) => q1Pricing(s, d)),
    "q3_topk" -> ((s, d) => q3TopK(s, d)),
    "q4_window" -> ((s, d) => q4Window(s, d)),
    "q5_region_revenue" -> ((s, d) => q5Region(s, d)),

    // dplyr core
    "d_select" -> ((s, d) =>
      li(s, d).graft
        .select(TidySelect.cols("l_orderkey", "l_linenumber") |
          (TidySelect.startsWith("l_r") & -TidySelect.cols("l_returnflag")) |
          TidySelect.contains("price"))
        .arrange(col("l_orderkey"), col("l_linenumber"))
        .sliceHead(100).df
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // tidyselect where(fn) with a VALUE predicate: all candidate
    // aggregates evaluate in one 1-row scan during schema resolution.
    // max(c) < 1 so the resolved set ({l_discount, l_tax} — rate
    // columns) is the same at EVERY sf; a key-count threshold like
    // <= 50 flips with the table's key range (l_suppkey max is 10 at
    // sf0.001 but 1000 at sf0.1) and breaks the fixed-list oracle
    "d_select_where" -> ((s, d) =>
      li(s, d).graft
        .select(TidySelect.cols("l_orderkey", "l_linenumber") |
          TidySelect.whereAgg(li(s, d), c => max(c) < lit(1.0),
            dt => dt.isInstanceOf[org.apache.spark.sql.types.NumericType]))
        .arrange(col("l_orderkey"), col("l_linenumber"))
        .sliceHead(100).df
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "d_mutate" -> ((s, d) =>
      li(s, d).graft
        .mutate(
          "revenue" -> revenueExpr,
          "charge" -> (revenueExpr * (lit(1) + col("l_tax"))),
          "qty_int" -> col("l_quantity").cast("long"))
        .select("l_orderkey", "l_linenumber", "revenue", "charge", "qty_int")
        .arrange(col("l_orderkey"), col("l_linenumber")).df),

    "d_mutate_grouped" -> ((s, d) =>
      li(s, d).graft
        .groupBy("l_returnflag")
        .mutate(
          "grp_qty" -> dsum(col("l_quantity")),
          "grp_n" -> count(lit(1)),
          "qty_share" -> (col("l_quantity") / dsum(col("l_quantity"))),
          "qty_centered" -> (col("l_quantity") - davg(col("l_quantity"))))
        .ungroup
        .select("l_orderkey", "l_linenumber", "l_returnflag", "grp_qty", "grp_n", "qty_share", "qty_centered")
        .arrange(col("l_orderkey"), col("l_linenumber")).df)
  )

  def oracleSql: Map[String, String] = QueriesDplyr.oracles ++ QueriesTidyr.oracles ++ QueriesBase.oracles ++ QueriesForcats.oracles ++ QueriesOps.oracles ++ Map(
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql(revenueSql)} AS sum_disc_price,
         |  ${davgSql("l_quantity")} AS avg_qty,
         |  ${davgSql("l_extendedprice")} AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk" ->
      s"""SELECT o_orderkey AS l_orderkey,
         |  ${dsumSql(revenueSql)} AS revenue
         |FROM customer, orders, lineitem
         |WHERE c_mktsegment = 'BUILDING'
         |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         |GROUP BY o_orderkey
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q4_window" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(sum(CAST($revenueSql AS DECIMAL(28,6))) OVER wr AS DOUBLE) AS run_rev,
         |  max(l_quantity) OVER wr AS run_max_qty
         |FROM lineitem
         |WINDOW wr AS (PARTITION BY l_orderkey
         |  ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name,
         |  ${dsumSql(revenueSql)} AS revenue
         |FROM customer, orders, lineitem, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "d_select" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    // the whereAgg predicate (numeric ∧ max<1) resolves to the rate
    // columns l_discount/l_tax at every sf (scale-stable by design)
    "d_select_where" ->
      """SELECT l_orderkey, l_linenumber, l_discount, l_tax
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    "d_mutate" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  $revenueSql AS revenue,
         |  $revenueSql*(1+l_tax) AS charge,
         |  CAST(l_quantity AS BIGINT) AS qty_int
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_mutate_grouped" ->
      s"""SELECT l_orderkey, l_linenumber, l_returnflag,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER w AS DOUBLE) AS grp_qty,
         |  count(*) OVER w AS grp_n,
         |  l_quantity / CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER w AS DOUBLE) AS qty_share,
         |  l_quantity - CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER w AS DOUBLE)
         |    / CAST(count(l_quantity) OVER w AS DOUBLE) AS qty_centered
         |FROM lineitem
         |WINDOW w AS (PARTITION BY l_returnflag)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
  )
}
