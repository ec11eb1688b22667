package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.GraftFrame.DataFrameOps
import graft.functions._
import graft.functions.Exact._

/** dplyr-verb coverage queries (SURVEY §2.1), one per operator. */
object QueriesDplyr {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.readParquet(s, s"$dir/$name.parquet")

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "d_with_groups" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .groupBy("l_returnflag")
        // temporary regroup by linestatus for the tally, then the
        // returnflag grouping is restored for the summarise
        .withGroups(Seq("l_linestatus"))(_.addTally())
        .summarise("max_ls_n" -> max(col("n")))
        .ungroup.arrange(col("l_returnflag")).df),

    "d_transmute" -> ((s, d) =>
      t(s, d, "orders").graft
        .transmute(
          "o_orderkey" -> col("o_orderkey"),
          "year" -> year(col("o_orderdate")),
          "price_k" -> (col("o_totalprice") / lit(1000.0)))
        .arrange(col("o_orderkey")).df),

    "d_rename" -> ((s, d) =>
      t(s, d, "region").graft
        .rename("region_id" -> "r_regionkey", "region_name" -> "r_name")
        .arrange(col("region_id")).df),

    "d_relocate" -> ((s, d) =>
      t(s, d, "customer").graft
        .relocate(TidySelect.cols("c_acctbal", "c_mktsegment"), after = Some("c_custkey"))
        .select(TidySelect.everything)
        .arrange(col("c_custkey")).df),

    "d_filter" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .filterRows(
          col("l_quantity") > 45,
          col("l_discount") >= 0.05,
          col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .arrange(col("l_orderkey"), col("l_linenumber")).df),

    "d_filter_grouped" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .groupBy("l_orderkey")
        .filterRows(col("l_quantity") === max(col("l_quantity")))
        .ungroup
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .arrange(col("l_orderkey"), col("l_linenumber")).df),

    "d_arrange" -> ((s, d) =>
      t(s, d, "orders").graft
        .arrange(col("o_totalprice").desc, col("o_orderkey"))
        .sliceHead(50)
        .select("o_orderkey", "o_totalprice").df
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))),

    "d_distinct" -> ((s, d) =>
      t(s, d, "customer").graft
        .distinctRows("c_mktsegment", "c_nationkey")
        .arrange(col("c_mktsegment"), col("c_nationkey")).df),

    "d_summarise" -> ((s, d) =>
      t(s, d, "orders").graft
        .groupBy("o_orderstatus")
        .summarise(
          "n" -> count(lit(1)),
          "total" -> dsum(col("o_totalprice")),
          "avg_price" -> davg(col("o_totalprice")),
          "first_date" -> min(col("o_orderdate")),
          "last_date" -> max(col("o_orderdate")),
          "n_cust" -> countDistinct(col("o_custkey")))
        .ungroup.arrange(col("o_orderstatus")).df),

    // group_by(.drop=FALSE): the EMPTY_SEG level is declared in the
    // factor's level table but absent from the data — its group row
    // survives with n=0/total=0 and a NULL mean (R's NA), via one
    // fact-shuffle aggregate + a broadcast level-table left join
    // (reference group_by.py:51 stores the flag; the polars backend
    // never materializes the empty groups — graft exceeds it here)
    "d_group_drop" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val levels = Forcats.lvlsExpand(
        Forcats.levelsInseq(cust, "c_mktsegment"),
        "c_mktsegment", Seq("EMPTY_SEG"))
      cust.graft.groupBy("c_mktsegment")
        .summariseKeepEmpty(levels,
          Map("n" -> lit(0L), "total" -> lit(0.0)),
          "n" -> count(lit(1)),
          "total" -> dsum(col("c_acctbal")),
          "avg_bal" -> davg(col("c_acctbal")))
        .arrange(col("c_mktsegment")).df
    }),

    // rollup grouping sets: per-(status,priority) rows + per-status
    // subtotals + grand total from ONE Expand+agg shuffle
    "d_rollup" -> ((s, d) =>
      t(s, d, "orders").graft
        .groupBy("o_orderstatus", "o_orderpriority")
        .summariseRollup(
          "n" -> count(lit(1)),
          "total" -> dsum(col("o_totalprice")))
        .arrange(col("grouping_lvl"), col("o_orderstatus"),
          col("o_orderpriority")).df),

    "d_groupmeta" -> ((s, d) =>
      t(s, d, "customer").graft
        .groupBy("c_mktsegment")
        .summarise("size" -> count(lit(1)))
        .ungroup
        // dense id per segment via the scale-safe ranked-key broadcast
        // (cur_group_id) — not an unpartitioned dense_rank window
        .groupBy("c_mktsegment")
        .withGroupId("group_id")
        .ungroup
        .arrange(col("c_mktsegment")).df),

    // group_rows under a declared total order: per-group sorted row
    // positions via the scale-safe rowid path (SURVEY §1 relaxation);
    // the index list is serialized for the driver's scalar hash compare
    "d_group_rows" -> ((s, d) =>
      t(s, d, "nation").graft
        .groupBy("n_regionkey")
        .groupRows(Seq(col("n_nationkey")))
        .withColumn("rows", concat_ws(",", col("rows")))
        .orderBy(col("n_regionkey"))),

    // UNGROUPED mutate with whole-frame aggregates (dplyr: mutate over
    // no groups references the GRAND aggregate): bare aggs extract
    // into ONE agg + broadcast cross join — no bare agg in the
    // projection, no single-partition window (PlanSpec asserts)
    "d_mutate_agg_u" -> ((s, d) =>
      t(s, d, "orders").graft
        .mutate(
          "share" -> (col("o_totalprice") / dsum(col("o_totalprice"))),
          "n_all" -> count(lit(1)),
          "dev" -> (col("o_totalprice") - davg(col("o_totalprice"))))
        .select("o_orderkey", "share", "n_all", "dev")
        .arrange(col("o_orderkey")).df),

    // UNGROUPED filter against a whole-frame aggregate (dplyr
    // filter(x > mean(x))): same extract + broadcast topology
    "d_filter_agg_u" -> ((s, d) =>
      t(s, d, "orders").graft
        .filterRows(col("o_totalprice") > davg(col("o_totalprice")) * lit(1.5))
        .select("o_orderkey", "o_totalprice")
        .arrange(col("o_orderkey")).df),

    // slice_sample(replace = TRUE): 500 independent engine-portable
    // draws over the customer table — rowid-addressed via md5Unif, so
    // DuckDB replays the exact sample draw by draw
    "d_slice_sample_rep" -> ((s, d) =>
      t(s, d, "customer").select("c_custkey", "c_mktsegment").graft
        .sliceSampleReplace(500, 42L, Seq(col("c_custkey").asc))
        .df.select("draw_id", "c_custkey", "c_mktsegment")
        .orderBy(col("draw_id"))),

    // cur_data()/cur_group() accessor sugar inside a grouped mutate
    // (reference api/dplyr/context.py): collect_list(struct) columns
    // auto-windowed over the groups — all three accessors share the
    // verb's ONE shuffle; derived values are order-free (size,
    // array_max, exact-decimal aggregate) so the unordered group
    // array is deterministic
    "d_cur_data" -> ((s, d) => {
      val g = t(s, d, "orders").graft.groupBy("o_orderpriority")
      g.mutate(
          "grp" -> g.curGroup.getField("o_orderpriority"),
          "grp_n" -> size(g.curDataAll),
          "grp_max_price" -> array_max(transform(
            g.curData(TidySelect.cols("o_totalprice")),
            r => r.getField("o_totalprice"))),
          "share" -> (col("o_totalprice") / aggregate(
            transform(g.curData(TidySelect.cols("o_totalprice")),
              r => r.getField("o_totalprice").cast("decimal(28,6)")),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)"),
            (acc, v) => acc + v).cast("double")))
        .ungroup
        .select("o_orderkey", "grp", "grp_n", "grp_max_price", "share")
        .arrange(col("o_orderkey")).df
    }),

    "d_count" -> ((s, d) =>
      t(s, d, "orders").graft
        .countBy("o_orderpriority")
        .arrange(col("o_orderpriority")).df),

    "d_add_count" -> ((s, d) =>
      t(s, d, "customer").graft
        .addCount("c_mktsegment")
        .select("c_custkey", "c_mktsegment", "n")
        .arrange(col("c_custkey")).df),

    "d_n_distinct" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .groupBy("l_returnflag")
        .summarise(
          "n_supp" -> countDistinct(col("l_suppkey")),
          "n_part" -> countDistinct(col("l_partkey")))
        .ungroup.arrange(col("l_returnflag")).df),

    "d_first_last" -> ((s, d) =>
      t(s, d, "orders").graft
        .groupBy("o_custkey")
        .summarise(
          "first_price" -> min_by(col("o_totalprice"), col("o_orderkey")),
          "last_price" -> max_by(col("o_totalprice"), col("o_orderkey")),
          "nth_key" -> min(col("o_orderkey")))
        .ungroup.arrange(col("o_custkey")).df),

    "d_pull" -> ((s, d) =>
      t(s, d, "orders").graft
        .arrange(col("o_totalprice").desc, col("o_orderkey"))
        .sliceHead(20).df
        .select("o_totalprice", "o_orderkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))),

    "d_slice_head" -> ((s, d) =>
      t(s, d, "orders").graft
        .groupBy("o_orderstatus")
        .arrange(col("o_orderdate"), col("o_orderkey"))
        .sliceHead(3)
        .ungroup
        .select("o_orderstatus", "o_orderkey", "o_orderdate")
        .arrange(col("o_orderstatus"), col("o_orderkey")).df),

    "d_slice_min" -> ((s, d) =>
      t(s, d, "part").graft
        .groupBy("p_brand")
        .sliceMin(col("p_retailprice"), n = 2, withTies = true)
        .ungroup
        .select("p_brand", "p_partkey", "p_retailprice")
        .arrange(col("p_brand"), col("p_partkey")).df),

    // the custom GroupedTopK plan (partial heaps -> pruned shuffle ->
    // final heaps; no sort, no WindowExec) — top-3 lineitems per
    // (returnflag, linestatus) by price, total ordering for determinism
    "d_topk" -> ((s, d) =>
      graft.plans.TopK.topKPerGroup(t(s, d, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
          k = 3)
        .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber",
          "l_extendedprice")
        .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
          col("l_linenumber"))),

    "d_slice_max" -> ((s, d) =>
      t(s, d, "supplier").graft
        .groupBy("s_nationkey")
        .sliceMax(col("s_acctbal"), n = 1, withTies = false)
        .ungroup
        .select("s_nationkey", "s_suppkey", "s_acctbal")
        .arrange(col("s_nationkey"), col("s_suppkey")).df),

    // UNGROUPED tied slice_min/max: kth-threshold TakeOrdered + filter
    // (never a single-partition rank window — see PlanSpec)
    "d_slice_min_u" -> ((s, d) =>
      t(s, d, "part").graft
        .sliceMin(col("p_retailprice"), n = 5, withTies = true)
        .select("p_partkey", "p_retailprice")
        .arrange(col("p_partkey")).df),

    "d_slice_max_u" -> ((s, d) =>
      t(s, d, "orders").graft
        .sliceMax(col("o_totalprice"), n = 7, withTies = true)
        .select("o_orderkey", "o_totalprice")
        .arrange(col("o_orderkey")).df),

    // UNGROUPED prop slice: rowid-based ranks + broadcast count, with
    // tie semantics (rank, not row_number) on the slice column
    "d_slice_prop_u" -> ((s, d) =>
      t(s, d, "supplier").graft
        .sliceMaxProp(col("s_acctbal"), 0.1, withTies = true)
        .select("s_suppkey", "s_acctbal")
        .arrange(col("s_suppkey")).df),

    // keyed md5-ranked sample — engine-portable, so the DuckDB oracle
    // reproduces the exact sample from (seed, key)
    "d_slice_sample" -> ((s, d) =>
      t(s, d, "supplier").graft
        .groupBy("s_nationkey")
        .sliceSample(3, 42L, col("s_suppkey"))
        .ungroup
        .select("s_nationkey", "s_suppkey")
        .arrange(col("s_nationkey"), col("s_suppkey")).df),

    // slice_sample(weight_by=): acctbal-weighted draw of 3 suppliers
    // per nation — negative/zero balances are never drawn; the
    // quantized ES key + id tiebreak lets the oracle replay the draw
    "d_slice_sample_w" -> ((s, d) =>
      t(s, d, "supplier").graft
        .groupBy("s_nationkey")
        .sliceSampleWeighted(3, 42L, col("s_suppkey"), col("s_acctbal"))
        .ungroup
        .select("s_nationkey", "s_suppkey", "s_acctbal")
        .arrange(col("s_nationkey"), col("s_suppkey")).df),

    "d_join_inner" -> ((s, d) =>
      t(s, d, "customer").graft
        .rename("n_nationkey" -> "c_nationkey")
        .innerJoin(t(s, d, "nation").graft, Seq("n_nationkey"), broadcastRight = true)
        .select("c_custkey", "c_name", "n_name")
        .arrange(col("c_custkey")).df),

    "d_join_left" -> ((s, d) =>
      t(s, d, "nation").graft
        .rename("c_nationkey" -> "n_nationkey")
        .leftJoin(
          t(s, d, "customer").graft.countBy("c_nationkey"),
          Seq("c_nationkey"))
        .mutate("n" -> coalesce(col("n"), lit(0L)))
        .select("c_nationkey", "n_name", "n")
        .arrange(col("c_nationkey")).df),

    "d_join_full" -> ((s, d) => {
      val byCust = t(s, d, "orders").graft.countBy("o_custkey")
        .rename("cust" -> "o_custkey", "n_orders" -> "n")
      val highBal = t(s, d, "customer").graft
        .filterRows(col("c_acctbal") > 9000)
        .transmute("cust" -> col("c_custkey"), "bal" -> col("c_acctbal"))
      highBal.fullJoin(byCust, Seq("cust"))
        .arrange(col("cust")).df
    }),

    "d_join_semi" -> ((s, d) =>
      t(s, d, "customer").graft
        .rename("o_custkey" -> "c_custkey")
        .semiJoin(
          t(s, d, "orders").graft.filterRows(col("o_totalprice") > 400000),
          Seq("o_custkey"))
        .select("o_custkey", "c_name")
        .arrange(col("o_custkey")).df),

    "d_join_anti" -> ((s, d) =>
      t(s, d, "customer").graft
        .rename("o_custkey" -> "c_custkey")
        .antiJoin(t(s, d, "orders").graft.filterRows(col("o_totalprice") > 400000),
          Seq("o_custkey"))
        .select("o_custkey", "c_name")
        .arrange(col("o_custkey")).df),

    "d_join_cross" -> ((s, d) =>
      t(s, d, "region").graft
        .crossJoinF(t(s, d, "customer").graft.distinctRows("c_mktsegment"))
        .arrange(col("r_regionkey"), col("c_mktsegment")).df),

    "d_join_nest" -> ((s, d) =>
      t(s, d, "customer").graft
        .rename("o_custkey" -> "c_custkey")
        .nestJoin(t(s, d, "orders").graft, Seq("o_custkey"), as = "orders")
        .transmute("o_custkey" -> col("o_custkey"), "n_orders" -> size(col("orders")))
        .arrange(col("o_custkey")).df),

    "d_bind_rows" -> ((s, d) => {
      val c = t(s, d, "customer").graft
        .transmute("id" -> col("c_custkey"), "name" -> col("c_name"),
          "bal" -> col("c_acctbal"), "kind" -> lit("customer")).df
      val p = t(s, d, "supplier").graft
        .transmute("id" -> col("s_suppkey"), "name" -> col("s_name"),
          "kind" -> lit("supplier")).df
      Bind.rows(c, p).orderBy(col("kind"), col("id"))
    }),

    "d_bind_cols" -> ((s, d) => {
      val a = t(s, d, "region").select("r_regionkey", "r_name")
      val b = t(s, d, "region").graft
        .transmute("rev_key" -> col("r_regionkey"), "rev_name" -> col("r_name")).df
      Bind.colsOrdered(a, Seq(col("r_regionkey").asc), b, Seq(col("rev_key").desc))
        .orderBy(col("r_regionkey"))
    }),

    "d_setops" -> ((s, d) => {
      val a = t(s, d, "customer").graft
        .filterRows(col("c_mktsegment") === "BUILDING").df.select("c_nationkey").distinct()
      val b = t(s, d, "customer").graft
        .filterRows(col("c_acctbal") > 9900).df.select("c_nationkey").distinct()
      Bind.rows(
        Sets.intersect(a, b).withColumn("op", lit("intersect")),
        Sets.setdiff(a, b).withColumn("op", lit("setdiff")))
        .orderBy(col("op"), col("c_nationkey"))
    }),

    "d_symdiff" -> ((s, d) => {
      val a = t(s, d, "orders").graft
        .filterRows(col("o_orderpriority") === "1-URGENT").df.select("o_custkey").distinct()
      val b = t(s, d, "orders").graft
        .filterRows(col("o_orderpriority") === "5-LOW").df.select("o_custkey").distinct()
      Sets.symdiff(a, b).orderBy(col("o_custkey"))
    }),

    "d_ranks" -> ((s, d) => {
      val part = Seq(col("o_orderstatus"))
      val ord = Seq(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, d, "orders").graft
        .mutate(
          "rn" -> WindowFns.rowNumber(ord, part),
          "mrank" -> WindowFns.minRank(ord, part),
          "drank" -> WindowFns.denseRank(ord, part),
          "prank" -> WindowFns.percentRank(ord, part),
          "cdist" -> WindowFns.cumeDist(ord, part),
          "quartile" -> WindowFns.ntileOf(4, ord, part))
        .select("o_orderstatus", "o_orderkey", "rn", "mrank", "drank", "prank", "cdist", "quartile")
        .arrange(col("o_orderstatus"), col("o_orderkey")).df
    }),

    "d_lead_lag" -> ((s, d) => {
      val part = Seq(col("o_custkey"))
      val ord = Seq(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders").graft
        .mutate(
          "prev_price" -> WindowFns.lagBy(col("o_totalprice"), 1, ord, part),
          "next_price" -> WindowFns.leadBy(col("o_totalprice"), 1, ord, part),
          "prev2_price" -> WindowFns.lagBy(col("o_totalprice"), 2, ord, part, default = lit(0.0)))
        .select("o_custkey", "o_orderkey", "prev_price", "next_price", "prev2_price")
        .arrange(col("o_custkey"), col("o_orderkey")).df
    }),

    "d_cum" -> ((s, d) => {
      val part = Seq(col("o_custkey"))
      val ord = Seq(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders").graft
        .mutate(
          "run_total" -> CumFns.cumsum(col("o_totalprice").cast("decimal(28,6)"), ord, part).cast("double"),
          "run_max" -> CumFns.cummax(col("o_totalprice"), ord, part),
          "run_min" -> CumFns.cummin(col("o_totalprice"), ord, part),
          "seen_urgent" -> CumFns.cumany(col("o_orderpriority") === "1-URGENT", ord, part),
          "all_filled" -> CumFns.cumall(col("o_orderstatus") === "F", ord, part))
        .select("o_custkey", "o_orderkey", "run_total", "run_max", "run_min", "seen_urgent", "all_filled")
        .arrange(col("o_custkey"), col("o_orderkey")).df
    }),

    // UNGROUPED cum* over the whole fact table: distributed two-phase
    // prefix scan (ScanFns), never a single-partition window; the sum
    // accumulates in exact decimal so the two-phase association is
    // bit-identical to DuckDB's sequential running sum
    "d_cum_u" -> ((s, d) => {
      val ord = Seq(col("l_orderkey").asc, col("l_linenumber").asc)
      // all three running aggregates FUSED into one scan: one sort +
      // two streamed passes, not one sort/persist per aggregate; the
      // frame is PROJECTED first — the scan's sorted rows carry their
      // full schema through both passes, so never drag columns the
      // verb doesn't output
      ScanFns.withCumulatives(
          t(s, d, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
          Seq(
            (col("l_quantity"), ScanFns.SumOp, "cum_qty"),
            (col("l_extendedprice"), ScanFns.MaxOp, "cum_max_price"),
            (col("l_extendedprice"), ScanFns.MinOp, "cum_min_price")), ord)
        .select("l_orderkey", "l_linenumber", "cum_qty", "cum_max_price", "cum_min_price")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // UNGROUPED rolling over the whole fact table: two-phase scan with
    // a (k-1)-value carry between partitions — the scale-safe twin of
    // WindowFns.roll* (no single-partition window; PlanSpec asserts)
    "d_rolling_u" -> ((s, d) => {
      val ord = Seq(col("o_orderkey").asc)
      ScanFns.withRolling(t(s, d, "orders").select("o_orderkey", "o_totalprice"), Seq(
          (col("o_totalprice"), ScanFns.RollSum, "roll_sum"),
          (col("o_totalprice"), ScanFns.RollMean, "roll_mean"),
          (col("o_totalprice"), ScanFns.RollMin, "roll_min"),
          (col("o_totalprice"), ScanFns.RollMax, "roll_max")), k = 3, ord)
        .select("o_orderkey", "roll_sum", "roll_mean", "roll_min", "roll_max")
        .orderBy(col("o_orderkey"))
    }),

    // UNGROUPED consecutive_id over a whole-frame order: per-partition
    // (first, last, changes) summaries + broadcast carry — never a
    // global window
    "d_consecutive_id_u" -> ((s, d) =>
      ScanFns.withConsecutiveId(t(s, d, "orders"),
          Seq(col("o_orderstatus")), Seq(col("o_orderkey").asc), "run_id")
        .select("o_orderkey", "o_orderstatus", "run_id")
        .orderBy(col("o_orderkey"))),

    "d_cumprod" -> ((s, d) => {
      val part = Seq(col("l_orderkey"))
      // l_linenumber is non-unique: tiebreak on the aggregated values
      // themselves so the running product/sum are order-independent
      // within residual ties
      val ord = Seq(col("l_linenumber").asc, col("l_discount").asc, col("l_quantity").asc)
      // run_mean as exact-sum / count with an explicit DOUBLE division,
      // so both engines divide the same exact operands (a decimal avg
      // would round on a different path than DuckDB's)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(part: _*)
        .orderBy(ord: _*)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, d, "lineitem").graft
        .mutate("disc_factor" -> CumFns.cumprod(lit(1.0) - col("l_discount"), ord, part),
          "run_mean_qty" -> (CumFns.cumsum(col("l_quantity").cast("decimal(28,6)"), ord, part)
            .cast("double") / count(lit(1)).over(w).cast("double")))
        .select("l_orderkey", "l_linenumber", "disc_factor", "run_mean_qty")
        .arrange(col("l_orderkey"), col("l_linenumber")).df
    }),

    "d_rolling" -> ((s, d) => {
      val part = Seq(col("l_orderkey"))
      // tiebreak on quantity: l_linenumber is non-unique in this data
      val ord = Seq(col("l_linenumber").asc, col("l_quantity").asc)
      t(s, d, "lineitem").graft
        .mutate(
          "roll_sum" -> WindowFns.rollSum(col("l_quantity"), 3, ord, part),
          "roll_mean" -> WindowFns.rollMean(col("l_quantity"), 3, ord, part),
          "roll_min" -> WindowFns.rollMin(col("l_quantity"), 3, ord, part),
          "roll_max" -> WindowFns.rollMax(col("l_quantity"), 3, ord, part))
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "roll_sum", "roll_mean", "roll_min", "roll_max")
        .arrange(col("l_orderkey"), col("l_linenumber"), col("l_quantity")).df
    }),

    "d_case" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .mutate(
          "size_class" -> CondFns.caseWhen(Seq(
            (col("l_quantity") >= 40) -> lit("large"),
            (col("l_quantity") >= 15) -> lit("medium")), lit("small")),
          "flag_desc" -> CondFns.caseMatch(col("l_returnflag"), Seq(
            Seq[Any]("A") -> lit("accepted"),
            Seq[Any]("R") -> lit("returned")), lit("none")),
          "discounted" -> CondFns.ifElse(col("l_discount") > 0, lit("yes"), lit("no")))
        .select("l_orderkey", "l_linenumber", "size_class", "flag_desc", "discounted")
        .arrange(col("l_orderkey"), col("l_linenumber")).df),

    "d_na_fns" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .mutate(
          "tax_or_null" -> CondFns.naIf(col("l_tax"), lit(0.0)),
          "tax_filled" -> CondFns.coalesceAll(CondFns.naIf(col("l_tax"), lit(0.0)), lit(-1.0)),
          "is_near" -> CondFns.near(col("l_discount"), lit(0.05), tol = 1e-9),
          "mid_qty" -> CondFns.between(col("l_quantity"), lit(20), lit(30)))
        .select("l_orderkey", "l_linenumber", "tax_or_null", "tax_filled", "is_near", "mid_qty")
        .arrange(col("l_orderkey"), col("l_linenumber")).df),

    "d_recode" -> ((s, d) =>
      t(s, d, "orders").graft
        .mutate("prio_code" -> CondFns.recode(col("o_orderpriority"), Map[Any, Any](
          "1-URGENT" -> 1, "2-HIGH" -> 2, "3-MEDIUM" -> 3, "4-NOT SPECIFIED" -> 4, "5-LOW" -> 5),
          default = Some(lit(0))))
        .select("o_orderkey", "o_orderpriority", "prio_code")
        .arrange(col("o_orderkey")).df),

    "d_consecutive_id" -> ((s, d) => {
      val part = Seq(col("o_custkey"))
      val ord = Seq(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders").graft
        .mutate("run_id" -> WindowFns.consecutiveId(Seq(col("o_orderstatus")), ord, part))
        .select("o_custkey", "o_orderkey", "run_id")
        .arrange(col("o_custkey"), col("o_orderkey")).df
    }),

    "d_rows_upsert" -> ((s, d) => {
      val x = t(s, d, "region")
      val y = Bind.rows(
        t(s, d, "region").graft.filterRows(col("r_regionkey") <= 1)
          .transmute("r_regionkey" -> col("r_regionkey"),
            "r_name" -> concat(col("r_name"), lit("_v2"))).df,
        t(s, d, "region").graft.sliceMin(col("r_regionkey"), 1, withTies = false)
          .transmute("r_regionkey" -> lit(99), "r_name" -> lit("NEWREGION")).df)
      RowsVerbs.upsert(x, y, Seq("r_regionkey")).orderBy(col("r_regionkey"))
    }),

    "d_rows_patch_delete" -> ((s, d) => {
      val x = t(s, d, "nation").graft
        .mutate("n_name" -> CondFns.naIf(col("n_name"), lit("CHINA"))).df
      val y = t(s, d, "nation").select("n_nationkey")
        .filter(col("n_nationkey") > 20)
      val patched = RowsVerbs.patch(x,
        t(s, d, "nation").graft.transmute(
          "n_nationkey" -> col("n_nationkey"),
          "n_name" -> lower(col("n_name"))).df,
        Seq("n_nationkey"))
      RowsVerbs.delete(patched, y, Seq("n_nationkey")).orderBy(col("n_nationkey"))
    }),

    "d_across" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .groupBy("l_returnflag")
        .acrossSummarise(
          TidySelect.cols("l_quantity", "l_extendedprice", "l_discount"),
          Seq("mean" -> (c => davg(c)), "max" -> (c => max(c))))
        .ungroup.arrange(col("l_returnflag")).df),

    // across + cur_column(): the lambda reads the current column NAME,
    // so each transform is name-keyed (here: scale by a per-name
    // factor) — pure projection, no closure over external state
    "d_across_cur" -> ((s, d) => {
      val scale = Map("l_quantity" -> 2.0, "l_tax" -> 100.0)
      t(s, d, "lineitem").graft
        .acrossCur(TidySelect.cols("l_quantity", "l_tax"),
          Seq("scaled" -> ((name, c) => c * lit(scale(name)))))
        .select("l_orderkey", "l_linenumber",
          "l_quantity_scaled", "l_tax_scaled")
        .arrange(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity_scaled")).df
    }),

    "d_if_any" -> ((s, d) => {
      val g = t(s, d, "customer").graft
      g.filterRows(g.ifAny(TidySelect.cols("c_acctbal"), _ < 0) ||
          g.ifAll(TidySelect.cols("c_nationkey"), _ > 20))
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .arrange(col("c_custkey")).df
    }),

    "d_rowwise" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .mutate("charges" -> array(col("l_extendedprice"), col("l_tax"), col("l_discount")))
        .mutate(
          "row_sum" -> aggregate(col("charges"), lit(0.0), (acc, x) => acc + x),
          "row_max" -> greatest(col("l_extendedprice"), col("l_tax"), col("l_discount")),
          "row_min" -> least(col("l_extendedprice"), col("l_tax"), col("l_discount")))
        .select("l_orderkey", "l_linenumber", "row_sum", "row_max", "row_min")
        .arrange(col("l_orderkey"), col("l_linenumber")).df),

    // true rowwise() MODE: plain avg/sum/max calls reinterpreted per
    // row over c_across columns (dplyr rowwise parity) — a pure
    // projection, no window or shuffle in the plan
    "d_rowwise2" -> ((s, d) => {
      val g = t(s, d, "lineitem").graft.rowwise()
      val across = g.cAcross(TidySelect.cols("l_extendedprice", "l_tax", "l_discount"))
      g.mutate(
          "row_mean" -> avg(across),
          "row_sum" -> sum(across),
          "row_max" -> max(across))
        .select("l_orderkey", "l_linenumber", "row_mean", "row_sum", "row_max")
        .arrange(col("l_orderkey"), col("l_linenumber")).df
    }),

    "d_slice" -> ((s, d) =>
      t(s, d, "orders").graft
        .groupBy("o_orderstatus")
        .arrange(col("o_orderkey"))
        .sliceAt(Seq(1, 3, 5))
        .ungroup
        .select("o_orderstatus", "o_orderkey")
        .arrange(col("o_orderstatus"), col("o_orderkey")).df),

    "d_slice_prop" -> ((s, d) =>
      t(s, d, "orders").graft
        .groupBy("o_orderstatus")
        .arrange(col("o_orderkey"))
        .sliceHeadProp(0.4)
        .ungroup
        .select("o_orderstatus", "o_orderkey")
        .arrange(col("o_orderstatus"), col("o_orderkey")).df),

    "d_with_order" -> ((s, d) => {
      val part = Seq(col("o_custkey"))
      t(s, d, "orders").graft
        .mutate("rev_cum" -> WindowFns.withOrder(col("o_orderkey").desc,
          (x, ord) => CumFns.cumsum(x.cast("decimal(28,6)"), ord, part).cast("double"),
          col("o_totalprice")))
        .select("o_custkey", "o_orderkey", "rev_cum")
        .arrange(col("o_custkey"), col("o_orderkey")).df
    }),

    "d_group_modify" -> ((s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val out = StructType(Seq(StructField("n", LongType), StructField("max_bal", DoubleType)))
      t(s, d, "customer").select("c_mktsegment", "c_acctbal").graft
        .groupBy("c_mktsegment")
        .groupModify(out) { (_, rows) =>
          var n = 0L; var mx = Double.MinValue
          rows.foreach { r => n += 1; val b = r.getDouble(0); if (b > mx) mx = b }
          Iterator.single(Row(n, mx))
        }.df.orderBy("c_mktsegment")
    })
  )

  val oracles: Map[String, String] = Map(
    "d_with_groups" ->
      """SELECT l_returnflag, max(c) AS max_ls_n FROM (
        |  SELECT l_returnflag, count(*) OVER (PARTITION BY l_linestatus) AS c
        |  FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "d_transmute" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS year,
        |  o_totalprice/1000.0 AS price_k
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "d_rename" ->
      "SELECT r_regionkey AS region_id, r_name AS region_name FROM region ORDER BY region_id",

    "d_relocate" ->
      """SELECT c_custkey, c_acctbal, c_mktsegment, c_name, c_nationkey
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "d_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_discount >= 0.05 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_filter_grouped" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |QUALIFY l_quantity = max(l_quantity) OVER (PARTITION BY l_orderkey)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_arrange" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,

    "d_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "d_summarise" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS total,
         |  ${davgSql("o_totalprice")} AS avg_price,
         |  min(o_orderdate) AS first_date, max(o_orderdate) AS last_date,
         |  count(DISTINCT o_custkey) AS n_cust
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the declared-but-unused level survives with n=0/total=0 and a
    // NULL mean; observed levels match d_summarise-style aggregates
    "d_group_drop" ->
      s"""WITH lv AS (
         |  SELECT DISTINCT c_mktsegment FROM customer
         |  UNION ALL SELECT 'EMPTY_SEG'),
         |a AS (
         |  SELECT c_mktsegment, count(*) AS n,
         |    ${dsumSql("c_acctbal")} AS total,
         |    ${davgSql("c_acctbal")} AS avg_bal
         |  FROM customer GROUP BY c_mktsegment)
         |SELECT lv.c_mktsegment, coalesce(a.n, 0) AS n,
         |  coalesce(a.total, 0.0) AS total, a.avg_bal
         |FROM lv LEFT JOIN a USING (c_mktsegment)
         |ORDER BY c_mktsegment""".stripMargin,

    "d_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS total,
         |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS grouping_lvl
         |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY grouping_lvl, o_orderstatus, o_orderpriority""".stripMargin,

    "d_groupmeta" ->
      """SELECT c_mktsegment, count(*) AS size,
        |  CAST(row_number() OVER (ORDER BY c_mktsegment) - 1 AS INT) AS group_id
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "d_group_rows" ->
      """SELECT n_regionkey,
        |  array_to_string(list_sort(list(rn)), ',') AS rows,
        |  count(*) AS size FROM (
        |  SELECT n_regionkey, row_number() OVER (ORDER BY n_nationkey) AS rn
        |  FROM nation)
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "d_slice_sample_rep" ->
      """WITH ranked AS (SELECT c_custkey, c_mktsegment,
        |    row_number() OVER (ORDER BY c_custkey) AS sr FROM customer),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM customer),
        |draws AS (SELECT i AS draw_id,
        |    CAST(floor(list_sum(list_transform(range(1, 14), j ->
        |        (strpos('0123456789abcdef',
        |           substring(md5('42' || CAST(i AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |          * pow(16, 13 - j))) / 4503599627370496.0 * nn) + 1 AS BIGINT) AS sr
        |  FROM (SELECT unnest(range(1, 501)) AS i), n)
        |SELECT d.draw_id, r.c_custkey, r.c_mktsegment
        |FROM draws d JOIN ranked r USING (sr)
        |ORDER BY d.draw_id""".stripMargin,

    "d_mutate_agg_u" ->
      s"""SELECT o_orderkey,
        |  o_totalprice / t AS share,
        |  n AS n_all,
        |  o_totalprice - a AS dev
        |FROM orders CROSS JOIN (
        |  SELECT ${Exact.dsumSql("o_totalprice")} AS t,
        |         count(*) AS n,
        |         ${Exact.davgSql("o_totalprice")} AS a
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "d_filter_agg_u" ->
      s"""SELECT o_orderkey, o_totalprice FROM orders
        |CROSS JOIN (SELECT ${Exact.davgSql("o_totalprice")} AS a FROM orders)
        |WHERE o_totalprice > a * 1.5
        |ORDER BY o_orderkey""".stripMargin,

    "d_cur_data" ->
      """SELECT o_orderkey, o_orderpriority AS grp,
        |  count(*) OVER w AS grp_n,
        |  max(o_totalprice) OVER w AS grp_max_price,
        |  o_totalprice / CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE) AS share
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin,

    "d_count" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "d_add_count" ->
      """SELECT c_custkey, c_mktsegment,
        |  count(*) OVER (PARTITION BY c_mktsegment) AS n
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "d_n_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "d_first_last" ->
      """SELECT o_custkey, min_by(o_totalprice, o_orderkey) AS first_price,
        |  max_by(o_totalprice, o_orderkey) AS last_price,
        |  min(o_orderkey) AS nth_key
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "d_pull" ->
      """SELECT o_totalprice, o_orderkey FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "d_slice_head" ->
      """SELECT o_orderstatus, o_orderkey, o_orderdate FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey) <= 3
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "d_slice_min" ->
      """SELECT p_brand, p_partkey, p_retailprice FROM part
        |QUALIFY rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice) <= 2
        |ORDER BY p_brand, p_partkey""".stripMargin,

    "d_slice_max" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal FROM supplier
        |QUALIFY row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) <= 1
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "d_slice_min_u" ->
      """SELECT p_partkey, p_retailprice FROM part
        |QUALIFY rank() OVER (ORDER BY p_retailprice) <= 5
        |ORDER BY p_partkey""".stripMargin,

    "d_slice_max_u" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |QUALIFY rank() OVER (ORDER BY o_totalprice DESC) <= 7
        |ORDER BY o_orderkey""".stripMargin,

    "d_slice_prop_u" ->
      """SELECT s_suppkey, s_acctbal FROM supplier
        |QUALIFY rank() OVER (ORDER BY s_acctbal DESC)
        |  <= floor(count(*) OVER () * 0.1)
        |ORDER BY s_suppkey""".stripMargin,

    "d_slice_sample" ->
      """SELECT s_nationkey, s_suppkey FROM supplier
        |QUALIFY row_number() OVER (PARTITION BY s_nationkey
        |  ORDER BY md5('42' || CAST(s_suppkey AS VARCHAR)), s_suppkey) <= 3
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    // replays the quantized Efraimidis–Spirakis key: u from the md5
    // hex-digit sum (the proven md5Unif replay), -ln(u)/w floored onto
    // the 2^-40 grid, id tiebreak
    "d_slice_sample_w" ->
      """WITH s AS (
        |  SELECT s_nationkey, s_suppkey, s_acctbal,
        |    list_sum(list_transform(range(1, 14), j ->
        |      (strpos('0123456789abcdef',
        |         substring(md5('42' || CAST(s_suppkey AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |        * pow(16, 13 - j))) / 4503599627370496.0 AS u
        |  FROM supplier
        |  WHERE CAST(s_acctbal AS DOUBLE) > 0.0)
        |SELECT s_nationkey, s_suppkey, s_acctbal FROM s
        |QUALIFY row_number() OVER (PARTITION BY s_nationkey
        |  ORDER BY CASE WHEN u = 0.0 THEN 9223372036854775807
        |    ELSE CAST(floor(least(-ln(u) / CAST(s_acctbal AS DOUBLE)
        |      * 1099511627776.0, 4.6e18)) AS BIGINT) END,
        |    s_suppkey) <= 3
        |ORDER BY s_nationkey, s_suppkey""".stripMargin,

    "d_topk" ->
      """SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |  ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 3
        |ORDER BY l_returnflag, l_linestatus, l_orderkey, l_linenumber""".stripMargin,

    "d_join_inner" ->
      """SELECT c_custkey, c_name, n_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey ORDER BY c_custkey""".stripMargin,

    "d_join_left" ->
      """SELECT n_nationkey AS c_nationkey, n_name, coalesce(cnt, 0) AS n
        |FROM nation LEFT JOIN (
        |  SELECT c_nationkey AS k, count(*) AS cnt FROM customer GROUP BY 1
        |) ON n_nationkey = k
        |ORDER BY c_nationkey""".stripMargin,

    "d_join_full" ->
      """SELECT coalesce(a.cust, b.cust) AS cust, a.bal, b.n_orders FROM
        |  (SELECT c_custkey AS cust, c_acctbal AS bal FROM customer WHERE c_acctbal > 9000) a
        |  FULL JOIN
        |  (SELECT o_custkey AS cust, count(*) AS n_orders FROM orders GROUP BY 1) b
        |  USING (cust)
        |ORDER BY cust""".stripMargin,

    "d_join_semi" ->
      """SELECT c_custkey AS o_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY o_custkey""".stripMargin,

    "d_join_anti" ->
      """SELECT c_custkey AS o_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY o_custkey""".stripMargin,

    "d_join_cross" ->
      """SELECT r.r_regionkey, r.r_name, m.c_mktsegment
        |FROM region r CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) m
        |ORDER BY r_regionkey, c_mktsegment""".stripMargin,

    "d_join_nest" ->
      """SELECT c_custkey AS o_custkey, CAST(coalesce(cnt, 0) AS INT) AS n_orders
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1
        |) ON c_custkey = o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "d_bind_rows" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, NULL, 'supplier' FROM supplier
        |ORDER BY kind, id""".stripMargin,

    "d_bind_cols" ->
      """WITH a AS (SELECT r_regionkey, r_name,
        |    row_number() OVER (ORDER BY r_regionkey) AS i FROM region),
        |  b AS (SELECT r_regionkey AS rev_key, r_name AS rev_name,
        |    row_number() OVER (ORDER BY r_regionkey DESC) AS i FROM region)
        |SELECT a.r_regionkey, a.r_name, b.rev_key, b.rev_name
        |FROM a JOIN b USING (i) ORDER BY a.r_regionkey""".stripMargin,

    "d_setops" ->
      """WITH a AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |  b AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_acctbal > 9900)
        |SELECT c_nationkey, 'intersect' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT c_nationkey, 'setdiff' FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |ORDER BY op, c_nationkey""".stripMargin,

    "d_symdiff" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |  b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
        |SELECT o_custkey FROM (
        |  (SELECT * FROM a EXCEPT SELECT * FROM b)
        |  UNION
        |  (SELECT * FROM b EXCEPT SELECT * FROM a))
        |ORDER BY o_custkey""".stripMargin,

    "d_ranks" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(rank() OVER w2 AS INT) AS mrank,
        |  CAST(dense_rank() OVER w2 AS INT) AS drank,
        |  percent_rank() OVER w2 AS prank,
        |  cume_dist() OVER w2 AS cdist,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
        |  w2 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "d_lead_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  lead(o_totalprice) OVER w AS next_price,
        |  coalesce(lag(o_totalprice, 2) OVER w, 0.0) AS prev2_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "d_cum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER wr AS DOUBLE) AS run_total,
        |  max(o_totalprice) OVER wr AS run_max,
        |  min(o_totalprice) OVER wr AS run_min,
        |  CAST(max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) OVER wr AS INT) = 1 AS seen_urgent,
        |  CAST(min(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) OVER wr AS INT) = 1 AS all_filled
        |FROM orders
        |WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "d_cum_u" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER wr AS DOUBLE) AS cum_qty,
        |  max(l_extendedprice) OVER wr AS cum_max_price,
        |  min(l_extendedprice) OVER wr AS cum_min_price
        |FROM lineitem
        |WINDOW wr AS (ORDER BY l_orderkey, l_linenumber
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_cumprod" ->
      """SELECT l_orderkey, l_linenumber,
        |  product(1.0 - l_discount) OVER wr AS disc_factor,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER wr AS DOUBLE)
        |    / CAST(count(*) OVER wr AS DOUBLE) AS run_mean_qty
        |FROM lineitem
        |WINDOW wr AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_discount, l_quantity
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_rolling" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER w AS DOUBLE) AS roll_sum,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER w AS DOUBLE)
        |    / CAST(count(*) OVER w AS DOUBLE) AS roll_mean,
        |  min(l_quantity) OVER w AS roll_min,
        |  max(l_quantity) OVER w AS roll_max
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "d_rolling_u" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE) AS roll_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE)
        |    / CAST(count(*) OVER w AS DOUBLE) AS roll_mean,
        |  min(o_totalprice) OVER w AS roll_min,
        |  max(o_totalprice) OVER w AS roll_max
        |FROM orders
        |WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "d_consecutive_id_u" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(sum(chg) OVER (ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |FROM (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderstatus IS DISTINCT FROM lag(o_orderstatus)
        |      OVER (ORDER BY o_orderkey) THEN 1 ELSE 0 END AS chg
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "d_case" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity >= 40 THEN 'large'
        |       WHEN l_quantity >= 15 THEN 'medium' ELSE 'small' END AS size_class,
        |  CASE l_returnflag WHEN 'A' THEN 'accepted' WHEN 'R' THEN 'returned'
        |       ELSE 'none' END AS flag_desc,
        |  CASE WHEN l_discount > 0 THEN 'yes' ELSE 'no' END AS discounted
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_na_fns" ->
      """SELECT l_orderkey, l_linenumber,
        |  nullif(l_tax, 0.0) AS tax_or_null,
        |  coalesce(nullif(l_tax, 0.0), -1.0) AS tax_filled,
        |  abs(l_discount - 0.05) < 1e-9 AS is_near,
        |  l_quantity BETWEEN 20 AND 30 AS mid_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_recode" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CASE o_orderpriority WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
        |    WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 4
        |    WHEN '5-LOW' THEN 5 ELSE 0 END AS prio_code
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "d_consecutive_id" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    CASE WHEN o_orderstatus IS DISTINCT FROM lag(o_orderstatus)
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |      THEN 1 ELSE 0 END AS chg
        |  FROM orders)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "d_rows_upsert" ->
      """WITH y AS (
        |  SELECT r_regionkey, r_name || '_v2' AS r_name FROM region WHERE r_regionkey <= 1
        |  UNION ALL SELECT 99, 'NEWREGION')
        |SELECT coalesce(y.r_regionkey, x.r_regionkey) AS r_regionkey,
        |  coalesce(y.r_name, x.r_name) AS r_name
        |FROM region x FULL JOIN y USING (r_regionkey)
        |ORDER BY r_regionkey""".stripMargin,

    "d_rows_patch_delete" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey,
        |    coalesce(nullif(n_name, 'CHINA'), lower(n_name)) AS n_name,
        |    n_regionkey
        |  FROM nation)
        |WHERE n_nationkey <= 20
        |ORDER BY n_nationkey""".stripMargin,

    "d_across" ->
      s"""SELECT l_returnflag,
         |  ${davgSql("l_quantity")} AS l_quantity_mean,
         |  max(l_quantity) AS l_quantity_max,
         |  ${davgSql("l_extendedprice")} AS l_extendedprice_mean,
         |  max(l_extendedprice) AS l_extendedprice_max,
         |  ${davgSql("l_discount")} AS l_discount_mean,
         |  max(l_discount) AS l_discount_max
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "d_across_cur" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity * 2.0 AS l_quantity_scaled,
        |  l_tax * 100.0 AS l_tax_scaled
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity_scaled""".stripMargin,

    "d_if_any" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |WHERE coalesce(c_acctbal < 0, FALSE) OR coalesce(c_nationkey > 20, FALSE)
        |ORDER BY c_custkey""".stripMargin,

    "d_rowwise" ->
      """SELECT l_orderkey, l_linenumber,
        |  0.0 + l_extendedprice + l_tax + l_discount AS row_sum,
        |  greatest(l_extendedprice, l_tax, l_discount) AS row_max,
        |  least(l_extendedprice, l_tax, l_discount) AS row_min
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_rowwise2" ->
      """SELECT l_orderkey, l_linenumber,
        |  (0.0 + l_extendedprice + l_tax + l_discount) / 3 AS row_mean,
        |  0.0 + l_extendedprice + l_tax + l_discount AS row_sum,
        |  greatest(l_extendedprice, l_tax, l_discount) AS row_max
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "d_slice" ->
      """SELECT o_orderstatus, o_orderkey FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) IN (1, 3, 5)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "d_group_modify" ->
      """SELECT c_mktsegment, count(*) AS n, max(c_acctbal) AS max_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "d_slice_prop" ->
      """SELECT o_orderstatus, o_orderkey FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey)
        |  <= floor(0.4 * count(*) OVER (PARTITION BY o_orderstatus))
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "d_with_order" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_cum
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin
  )
}
