package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.GraftFrame.DataFrameOps
import graft.functions._
import graft.functions.Exact._

/** base-R function coverage, themed queries (SURVEY §2.4).
  * Transcendentals are rounded to 6 digits in BOTH engines (libm
  * implementations differ in the last ulps); everything else uses
  * bit-exact recipes. `round` on data-derived decimals is never used
  * (boundary semantics differ across engines).
  */
object QueriesBase {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.readParquet(s, s"$dir/$name.parquet")

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "b_stats" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .groupBy("l_returnflag")
        .summarise(
          "mean_qty" -> BaseFns.mean(col("l_quantity")),
          "var_qty" -> BaseFns.varExact(col("l_quantity")),
          "sd_qty" -> BaseFns.sdExact(col("l_quantity")),
          "med_qty" -> BaseFns.medianExact(col("l_quantity")),
          "q25_qty" -> BaseFns.quantileOf(col("l_quantity"), 0.25),
          "wmean_price" -> BaseFns.weightedMean(col("l_extendedprice"), col("l_quantity")))
        .ungroup.arrange(col("l_returnflag")).df),

    "b_arith" -> ((s, d) =>
      t(s, d, "customer").graft
        .transmute(
          "c_custkey" -> col("c_custkey"),
          "abs_bal" -> abs(col("c_acctbal")),
          "sign_bal" -> signum(col("c_acctbal")),
          "sqrt_bal" -> sqrt(abs(col("c_acctbal"))),
          // R floor/ceiling/trunc return double; Spark's return integral
          // types — cast so schema matches both R semantics and the oracle.
          "floor_bal" -> floor(col("c_acctbal")).cast("double"),
          "ceil_bal" -> ceil(col("c_acctbal")).cast("double"),
          "trunc_bal" -> BaseFns.truncOf(col("c_acctbal")).cast("double"),
          // 4 digits, not 6: 1500 distinct data-derived inputs hit libm
          // functions whose last-ulp results differ across engines; 4
          // digits leaves ~1e-11/value flip probability vs ~1e-9 at 6
          // (the driver hash-compares exactly, unlike tools/check.py).
          "exp4" -> round(exp(col("c_acctbal") / lit(10000.0)), 4),
          "log4" -> round(log(abs(col("c_acctbal")) + lit(1.0)), 4),
          "log10_4" -> round(log10(abs(col("c_acctbal")) + lit(1.0)), 4),
          "log2_4" -> round(log2(abs(col("c_acctbal")) + lit(1.0)), 4),
          "log1p_4" -> round(log1p(abs(col("c_acctbal"))), 4),
          "pmax_bal" -> BaseFns.pmax(col("c_acctbal"), lit(0.0)),
          "pmin_bal" -> BaseFns.pmin(col("c_acctbal"), lit(0.0)))
        .arrange(col("c_custkey")).df),

    "b_trig" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .filterRows(col("l_linenumber") === 1, col("l_orderkey") <= 5000)
        .transmute(
          "l_orderkey" -> col("l_orderkey"),
          "l_quantity" -> col("l_quantity"),
          "sin6" -> round(sin(col("l_discount")), 6),
          "cos6" -> round(cos(col("l_discount")), 6),
          "tan6" -> round(tan(col("l_discount")), 6),
          "asin6" -> round(asin(col("l_discount")), 6),
          "acos6" -> round(acos(col("l_discount")), 6),
          "atan6" -> round(atan(col("l_discount")), 6),
          "atan2_6" -> round(atan2(col("l_discount"), col("l_tax") + lit(0.01)), 6),
          "sinh6" -> round(sinh(col("l_discount")), 6),
          "cosh6" -> round(cosh(col("l_discount")), 6),
          "tanh6" -> round(tanh(col("l_discount")), 6),
          "sinpi6" -> round(BaseFns.sinpi(col("l_discount")), 6),
          "cospi6" -> round(BaseFns.cospi(col("l_discount")), 6))
        .distinctRows(Seq("l_orderkey", "l_quantity", "sin6", "cos6", "tan6", "asin6",
          "acos6", "atan6", "atan2_6", "sinh6", "cosh6", "tanh6", "sinpi6", "cospi6"), keepAll = false)
        .arrange(col("l_orderkey"), col("l_quantity")).df),

    "b_special" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .distinctRows("l_linenumber")
        .transmute(
          "n" -> col("l_linenumber"),
          "fact_n" -> BaseFns.factorialOf(col("l_linenumber")),
          "lfact6" -> round(BaseFns.lfactorialOf(col("l_linenumber")), 6),
          "choose_n2" -> BaseFns.chooseOf(col("l_linenumber") + lit(2), col("l_linenumber")),
          "lgamma6" -> round(BaseFns.lgammaOf(col("l_linenumber") + lit(0.5)), 6),
          "gamma6" -> round(BaseFns.gammaOf(col("l_linenumber") + lit(0.5)), 6))
        .arrange(col("n")).df),

    "b_string" -> ((s, d) =>
      t(s, d, "part").graft
        .transmute(
          "p_partkey" -> col("p_partkey"),
          "pasted" -> StringFns.paste("-", col("p_brand"), col("p_type")),
          "pasted0" -> StringFns.paste0(col("p_brand"), lit(":"), col("p_name")),
          "fmt" -> StringFns.sprintfOf("%s#%d", col("p_brand"), col("p_size")),
          "sub3" -> StringFns.substrOf(col("p_name"), 1, 3),
          "n_words" -> size(StringFns.strsplit(col("p_type"), " ")),
          "no_vowel" -> StringFns.gsub(col("p_name"), "[aeiou]", ""),
          "has_steel" -> StringFns.grepl(col("p_type"), "STEEL"),
          "upper_name" -> StringFns.toupper(col("p_name")),
          "lower_type" -> StringFns.tolower(col("p_type")),
          "trimmed" -> StringFns.trimws(StringFns.paste0(lit("  "), col("p_brand"), lit(" "))),
          "len_name" -> StringFns.ncharOf(col("p_name")),
          "swapped" -> StringFns.chartr(col("p_brand"), "#", "_"),
          "starts_eco" -> StringFns.startsWith(col("p_type"), "ECONOMY"))
        .arrange(col("p_partkey")).df),

    "b_seq" -> ((s, d) =>
      t(s, d, "region").graft
        .mutate("i" -> explode(SeqFns.seqLen(col("r_regionkey") + lit(1))))
        .transmute("r_regionkey" -> col("r_regionkey"), "i" -> col("i"),
          "rep_name" -> array_join(SeqFns.repArr(col("r_name"), lit(2)), ","))
        .arrange(col("r_regionkey"), col("i")).df),

    "b_diff" -> ((s, d) =>
      t(s, d, "orders").graft
        .mutate("price_diff" -> SeqFns.diffOf(col("o_totalprice"),
          Seq(col("o_orderdate"), col("o_orderkey")), Seq(col("o_custkey"))))
        .select("o_custkey", "o_orderkey", "price_diff")
        .arrange(col("o_custkey"), col("o_orderkey")).df),

    "b_table" -> ((s, d) =>
      SetFns.tableOf(t(s, d, "customer"), "c_mktsegment", "c_nationkey")
        .orderBy(col("c_mktsegment"), col("c_nationkey"))),

    "b_tabulate" -> ((s, d) =>
      SetFns.tabulate(t(s, d, "lineitem"), col("l_linenumber"), 10)
        .orderBy(col("bin"))),

    "b_which" -> ((s, d) =>
      SetFns.which(t(s, d, "nation"), length(col("n_name")) > 6,
        Seq(col("n_nationkey")))
        .orderBy(col("pos"))),

    // base::match against a lookup table's values: the lookup's
    // distinct values rank via sorted zipWithIndex (never a
    // single-partition window — PlanSpec asserts), then join back
    "b_match" -> ((s, d) =>
      SetFns.matchIn(
        t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderpriority",
        // partial lookup: priorities above '2' — '1-URGENT' rows
        // exercise the no-match (null position) branch
        t(s, d, "orders").filter(col("o_orderpriority") > "2")
          .select("o_orderpriority"),
        "o_orderpriority", "pos")
        .orderBy(col("o_orderkey"))),

    "b_duplicated" -> ((s, d) =>
      t(s, d, "customer").graft
        .mutate("dup" -> SetFns.duplicated(
          Seq(col("c_mktsegment"), col("c_nationkey")), Seq(col("c_custkey"))))
        .select("c_custkey", "c_mktsegment", "c_nationkey", "dup")
        .arrange(col("c_custkey")).df),

    "b_cut" -> ((s, d) =>
      t(s, d, "customer").graft
        .mutate("bal_bin" -> TypeFns.cut(col("c_acctbal"),
          Seq(-2000, 0, 2500, 5000, 7500, 12000),
          Seq("neg", "low", "mid", "high", "top")))
        .select("c_custkey", "c_acctbal", "bal_bin")
        .arrange(col("c_custkey")).df),

    "b_types" -> ((s, d) =>
      t(s, d, "orders").graft
        .transmute(
          "o_orderkey" -> col("o_orderkey"),
          "key_str" -> TypeFns.asCharacter(col("o_orderkey")),
          "price_int" -> TypeFns.asLong(BaseFns.truncOf(col("o_totalprice"))),
          "date_day" -> TypeFns.asDate(col("o_orderdate")),
          "is_na_x" -> TypeFns.isNa(
            when(col("o_orderstatus") === "P", lit(null).cast("double"))
              .otherwise(col("o_totalprice"))),
          "finite_price" -> TypeFns.isFinite(
            when(col("o_orderstatus") === "P", lit(Double.PositiveInfinity))
              .otherwise(col("o_totalprice"))),
          "complete" -> TypeFns.completeCases(col("o_orderkey"), CondFns.naIf(col("o_orderstatus"), lit("P"))))
        .arrange(col("o_orderkey")).df),

    "b_rowstats" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .transmute(
          "l_orderkey" -> col("l_orderkey"),
          "l_linenumber" -> col("l_linenumber"),
          "row_sum" -> BaseFns.rowSums(col("l_quantity"), col("l_extendedprice"), col("l_tax")),
          "row_mean" -> BaseFns.rowMeans(col("l_quantity"), col("l_extendedprice"), col("l_tax")),
          "row_med" -> BaseFns.rowMedians(col("l_quantity"), col("l_extendedprice"), col("l_tax")),
          "row_any_na" -> BaseFns.anyNaRow(col("l_quantity"), col("l_extendedprice")))
        .arrange(col("l_orderkey"), col("l_linenumber")).df),

    "b_maxcol" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .transmute(
          "l_orderkey" -> col("l_orderkey"),
          "l_linenumber" -> col("l_linenumber"),
          "biggest" -> SetFns.maxCol(col("l_quantity"), col("l_discount") * 100,
            col("l_tax") * 100))
        .arrange(col("l_orderkey"), col("l_linenumber")).df),

    "b_transpose" -> ((s, d) =>
      Tidyr.transpose(
        t(s, d, "lineitem").graft
          .groupBy("l_returnflag")
          .summarise("qty" -> dsum(col("l_quantity")), "disc" -> dsum(col("l_discount")))
          .ungroup.df,
        idCol = "l_returnflag")
        .orderBy(col("column"))),

    "b_cor" -> ((s, d) =>
      t(s, d, "lineitem").graft
        .groupBy("l_returnflag")
        .summarise(
          "cov_qp" -> BaseFns.covExact(col("l_quantity"), col("l_extendedprice")),
          "cor_qp" -> BaseFns.corExact(col("l_quantity"), col("l_extendedprice")))
        .ungroup.arrange(col("l_returnflag")).df),

    "b_colstats" -> ((s, d) =>
      // colSums / colMeans / colSds over the numeric columns (ungrouped
      // one-row aggregate — the base-R matrix-stats shape)
      t(s, d, "lineitem").graft
        .summarise(
          "sum_qty" -> BaseFns.sumExact(col("l_quantity")),
          "sum_price" -> BaseFns.sumExact(col("l_extendedprice")),
          "mean_qty" -> BaseFns.mean(col("l_quantity")),
          "mean_disc" -> BaseFns.mean(col("l_discount")),
          "sd_qty" -> BaseFns.sdExact(col("l_quantity")),
          "sd_price" -> BaseFns.sdExact(col("l_extendedprice")),
          "cmed_qty" -> BaseFns.medianExact(col("l_quantity")),
          "cmed_price" -> BaseFns.medianExact(col("l_extendedprice"))).df),

    // col_medians BY NAME (api/base/verbs.py): n exact type-7 medians
    // from ONE one-row aggregate scan
    "b_colmeds" -> ((s, d) => {
      val meds = BaseFns.colMedians(col("p_size"), col("p_retailprice"))
      t(s, d, "part").agg(meds(0).as("med_size"), meds(1).as("med_price"))
    }),

    "b_allany" -> ((s, d) =>
      t(s, d, "orders").graft
        .groupBy("o_orderstatus")
        .summarise(
          "all_pos" -> BaseFns.allOf(col("o_totalprice") > 0),
          "any_urgent" -> BaseFns.anyOf(col("o_orderpriority") === "1-URGENT"),
          "any_huge" -> BaseFns.anyOf(col("o_totalprice") > 500000))
        .ungroup.arrange(col("o_orderstatus")).df),

    // Bessel approximations over the full table: DuckDB has no bessel
    // functions, but x = p_size/10 has only 50 distinct values, so the
    // oracle joins a frozen 50-row golden table on p_size (6-digit
    // rounding; kernels independently checked against published
    // reference values in FunctionsSpec)
    "b_bessel" -> ((s, d) =>
      t(s, d, "part").graft
        .transmute(
          "p_partkey" -> col("p_partkey"),
          "p_size" -> col("p_size"),
          "x" -> (col("p_size") / lit(10.0)),
          "j0" -> round(BaseFns.besselJ0(col("p_size") / lit(10.0)), 6),
          "j1" -> round(BaseFns.besselJ1(col("p_size") / lit(10.0)), 6),
          "i0" -> round(BaseFns.besselI0(col("p_size") / lit(10.0)), 6),
          "i1" -> round(BaseFns.besselI1(col("p_size") / lit(10.0)), 6),
          "k0" -> round(BaseFns.besselK0(col("p_size") / lit(10.0)), 6),
          "y0" -> round(BaseFns.besselY0(col("p_size") / lit(10.0)), 6))
        .arrange(col("p_partkey")).df),

    // Seeded draws, ENGINE-PORTABLE end to end: md5-derived uniforms
    // (exact dyadic arithmetic compared unrounded), Box–Muller normal
    // under the 6-digit libm policy, and Poisson/binomial through the
    // inverse-CDF when-chain whose exact double thresholds the oracle
    // SQL re-emits (same literals → same branch per row). The
    // engine-specific rand/randn forms (runifCol/rnormCol/hashUnif)
    // stay covered by FunctionsSpec golden tests.
    "b_random" -> ((s, d) =>
      t(s, d, "customer").graft
        .transmute(
          "c_custkey" -> col("c_custkey"),
          "u10" -> (BaseFns.md5Unif(col("c_custkey"), 42L) * 10.0),
          "z6" -> round(BaseFns.md5Norm(col("c_custkey"), 42L), 6),
          "pois" -> BaseFns.rpoisCol(BaseFns.md5Unif(col("c_custkey"), 44L), lambda = 4.0),
          "binom" -> BaseFns.rbinomCol(BaseFns.md5Unif(col("c_custkey"), 45L), n = 20, prob = 0.3))
        .arrange(col("c_custkey")).df),

    // Compact probe-set twin of b_bessel (both branches of each
    // kernel at 6 fixed x values), frozen as a VALUES oracle
    "b_bessel_port" -> ((s, d) => {
      val xs = Seq(0.5, 1.5, 3.0, 7.5, 9.0, 12.0)
      val base = s.range(1).select(explode(array(xs.map(lit): _*)).as("x"))
      base.select(col("x"),
          round(BaseFns.besselJ0(col("x")), 6).as("j0"),
          round(BaseFns.besselJ1(col("x")), 6).as("j1"),
          round(BaseFns.besselI0(col("x")), 6).as("i0"),
          round(BaseFns.besselI1(col("x")), 6).as("i1"),
          round(BaseFns.besselK0(col("x")), 6).as("k0"),
          round(BaseFns.besselK1(col("x")), 6).as("k1"),
          round(BaseFns.besselY0(col("x")), 6).as("y0"),
          round(BaseFns.besselY1(col("x")), 6).as("y1"))
        .orderBy(col("x"))
    }),

    // inverse hyperbolics — DuckDB lacks asinh/acosh/atanh, so the
    // oracle uses the ln identities; 4-digit rounding per libm policy
    "b_hyper" -> ((s, d) =>
      t(s, d, "customer").graft
        .transmute(
          "c_custkey" -> col("c_custkey"),
          "asinh4" -> round(BaseFns.asinhOf(col("c_acctbal") / lit(10000.0)), 4),
          "acosh4" -> round(BaseFns.acoshOf(lit(1.0) + abs(col("c_acctbal")) / lit(10000.0)), 4),
          "atanh4" -> round(BaseFns.atanhOf(col("c_acctbal") / lit(20000.0)), 4))
        .arrange(col("c_custkey")).df),

    // complex vector ops over the struct<re,im> encoding (base complex.py):
    // Re/Im/Conj/Mod and +*/ are exact IEEE recipes both engines share;
    // Arg (atan2) is transcendental -> 6-digit libm policy
    "b_complex" -> ((s, d) => {
      val z = ComplexFns.asComplex(col("c_acctbal"), (col("c_custkey") % 7) - 3)
      val w = ComplexFns.asComplex((col("c_custkey") % 5).cast("double"), lit(1.0))
      val prod = ComplexFns.cMul(z, w)
      val quot = ComplexFns.cDiv(z, w)
      t(s, d, "customer").graft
        .transmute(
          "c_custkey" -> col("c_custkey"),
          "z_re" -> ComplexFns.reOf(z),
          "z_im" -> ComplexFns.imOf(z),
          "conj_im" -> ComplexFns.imOf(ComplexFns.conj(z)),
          "z_mod" -> ComplexFns.modOf(z),
          "z_arg" -> round(ComplexFns.argOf(z), 6),
          "prod_re" -> ComplexFns.reOf(prod),
          "prod_im" -> ComplexFns.imOf(prod),
          "quot_re" -> ComplexFns.reOf(quot),
          "quot_im" -> ComplexFns.imOf(quot))
        .arrange(col("c_custkey")).df
    }),

    // list-column vector verbs: lengths / is.element / append / rev
    "b_vec2" -> ((s, d) => {
      val words = split(col("p_name"), " ")
      t(s, d, "part").graft
        .transmute(
          "p_partkey" -> col("p_partkey"),
          "n_words" -> SeqFns.lengthsOf(words),
          "has_green" -> array_contains(words, "green"),
          "is_el" -> SeqFns.isElement(col("p_size"), Seq(1, 7, 23)),
          "appended" -> concat_ws("|",
            SeqFns.appendArr(words, array(lit("zz")), after = 1)),
          "revd" -> concat_ws("|", SeqFns.revArr(words)))
        .arrange(col("p_partkey")).df
    }),

    "b_rank" -> ((s, d) =>
      // base::rank family with R tie semantics, partitioned by brand so
      // no global window touches the full table
      t(s, d, "part").graft
        .mutate(
          "rk_avg" -> SeqFns.rankAvg(col("p_size"), Seq(col("p_brand"))),
          "rk_min" -> SeqFns.rankMin(col("p_size"), Seq(col("p_brand"))),
          "ord_idx" -> SeqFns.orderOf(col("p_size"), Seq(col("p_partkey")), Seq(col("p_brand"))))
        .select("p_brand", "p_partkey", "rk_avg", "rk_min", "ord_idx")
        .arrange(col("p_brand"), col("p_partkey")).df),

    // UNGROUPED rank family: whole-frame ranks via the scale-safe
    // sorted-zipWithIndex forms (no single-partition window anywhere —
    // see PlanSpec's global-window assert)
    "b_rank_u" -> ((s, d) => {
      // project first: the rowid sort carries the full row through the
      // zipWithIndex pass; all three ranks come from that one pass
      val base = t(s, d, "part").select("p_partkey", "p_size")
      SeqFns.withRanks(base, col("p_size"), Seq(col("p_partkey")),
          Some("ord_idx"), Some("rk_min"), Some("rk_avg"))
        .select("p_partkey", "rk_avg", "rk_min", "ord_idx")
        .orderBy(col("p_partkey"))
    }),

    // UNGROUPED diff: predecessor via rowid self-join, not a global lag
    "b_diff_u" -> ((s, d) =>
      SeqFns.withDiff(t(s, d, "orders"), col("o_totalprice"),
        Seq(col("o_orderdate"), col("o_orderkey")), "price_diff")
        .select("o_orderkey", "price_diff")
        .orderBy(col("o_orderkey"))),

    // UNGROUPED lead/lag over a whole-frame order: lag 2 and lead 1
    // FUSED into one boundary-carry scan — one sort, no rowid join
    // (chaining withLag then withLead costs a sort per shift)
    "b_lead_lag_u" -> ((s, d) => {
      val ord = Seq(col("o_orderdate").asc, col("o_orderkey").asc)
      ScanFns.withShifts(t(s, d, "orders"),
          Seq((col("o_totalprice"), 2, "prev2_price"),
            (col("o_totalprice"), -1, "next_price")), ord)
        .select("o_orderkey", "prev2_price", "next_price")
        .orderBy(col("o_orderkey"))
    }),

    "b_outer" -> ((s, d) =>
      // base::outer(a, b, `*`) — cartesian of two small key vectors
      t(s, d, "region").select(col("r_regionkey").as("a"))
        .crossJoin(t(s, d, "nation").select(col("n_regionkey").as("b")).distinct())
        .withColumn("prod", col("a") * col("b"))
        .orderBy(col("a"), col("b"))),

    "b_sprintf" -> ((s, d) =>
      t(s, d, "customer").graft
        .transmute(
          "c_custkey" -> col("c_custkey"),
          "msg" -> StringFns.sprintfOf("cust %d seg=%s", col("c_custkey"), col("c_mktsegment")),
          "bal_fmt" -> StringFns.sprintfOf("%012.2f", col("c_acctbal")),
          "pct" -> StringFns.sprintfOf("%d%%", (col("c_nationkey") * 4).cast("int")))
        .arrange(col("c_custkey")).df),

    "b_strsplit" -> ((s, d) =>
      t(s, d, "part").graft
        .transmute(
          "p_partkey" -> col("p_partkey"),
          "n_words" -> size(StringFns.strsplit(col("p_type"), "\\s+")),
          "first2" -> concat_ws("|", StringFns.strsplitN(col("p_type"), " ", 2)),
          "fixed_parts" -> size(StringFns.strsplitFixed(col("p_name"), " ")))
        .arrange(col("p_partkey")).df)
  )

  val oracles: Map[String, String] = Map(
    "b_stats" ->
      s"""SELECT l_returnflag,
         |  ${davgSql("l_quantity")} AS mean_qty,
         |  (${dprodSumSql("l_quantity","l_quantity")} - ${dsumSql("l_quantity")} * ${dsumSql("l_quantity")}
         |     / CAST(count(l_quantity) AS DOUBLE)) / (CAST(count(l_quantity) AS DOUBLE) - 1.0) AS var_qty,
         |  sqrt((${dprodSumSql("l_quantity","l_quantity")} - ${dsumSql("l_quantity")} * ${dsumSql("l_quantity")}
         |     / CAST(count(l_quantity) AS DOUBLE)) / (CAST(count(l_quantity) AS DOUBLE) - 1.0)) AS sd_qty,
         |  quantile_cont(l_quantity, 0.5) AS med_qty,
         |  quantile_cont(l_quantity, 0.25) AS q25_qty,
         |  ${dprodSumSql("l_extendedprice","l_quantity")} / ${dsumSql("l_quantity")} AS wmean_price
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "b_arith" ->
      """SELECT c_custkey, abs(c_acctbal) AS abs_bal,
        |  CAST(sign(c_acctbal) AS DOUBLE) AS sign_bal,
        |  sqrt(abs(c_acctbal)) AS sqrt_bal,
        |  CAST(floor(c_acctbal) AS DOUBLE) AS floor_bal,
        |  CAST(ceil(c_acctbal) AS DOUBLE) AS ceil_bal,
        |  CAST(trunc(c_acctbal) AS DOUBLE) AS trunc_bal,
        |  round(exp(c_acctbal/10000.0), 4) AS exp4,
        |  round(ln(abs(c_acctbal)+1.0), 4) AS log4,
        |  round(log10(abs(c_acctbal)+1.0), 4) AS log10_4,
        |  round(log2(abs(c_acctbal)+1.0), 4) AS log2_4,
        |  round(ln(1.0+abs(c_acctbal)), 4) AS log1p_4,
        |  greatest(c_acctbal, 0.0) AS pmax_bal, least(c_acctbal, 0.0) AS pmin_bal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "b_trig" ->
      """SELECT DISTINCT l_orderkey, l_quantity,
        |  round(sin(l_discount),6) AS sin6, round(cos(l_discount),6) AS cos6,
        |  round(tan(l_discount),6) AS tan6, round(asin(l_discount),6) AS asin6,
        |  round(acos(l_discount),6) AS acos6, round(atan(l_discount),6) AS atan6,
        |  round(atan2(l_discount, l_tax+0.01),6) AS atan2_6,
        |  round((exp(l_discount)-exp(-l_discount))/2,6) AS sinh6,
        |  round((exp(l_discount)+exp(-l_discount))/2,6) AS cosh6,
        |  round((exp(l_discount)-exp(-l_discount))/(exp(l_discount)+exp(-l_discount)),6) AS tanh6,
        |  round(sin(pi()*l_discount),6) AS sinpi6,
        |  round(cos(pi()*l_discount),6) AS cospi6
        |FROM lineitem WHERE l_linenumber = 1 AND l_orderkey <= 5000
        |ORDER BY l_orderkey, l_quantity""".stripMargin,

    "b_special" ->
      """SELECT DISTINCT l_linenumber AS n,
        |  CAST(factorial(l_linenumber) AS DOUBLE) AS fact_n,
        |  round(lgamma(l_linenumber + 1.0), 6) AS lfact6,
        |  round(CAST(factorial(l_linenumber+2) AS DOUBLE)
        |    / (CAST(factorial(l_linenumber) AS DOUBLE) * 2.0)) AS choose_n2,
        |  round(lgamma(l_linenumber + 0.5), 6) AS lgamma6,
        |  round(gamma(l_linenumber + 0.5), 6) AS gamma6
        |FROM lineitem ORDER BY n""".stripMargin,

    "b_string" ->
      """SELECT p_partkey,
        |  p_brand || '-' || p_type AS pasted,
        |  p_brand || ':' || p_name AS pasted0,
        |  printf('%s#%d', p_brand, p_size) AS fmt,
        |  substr(p_name, 1, 3) AS sub3,
        |  CAST(len(string_split(p_type, ' ')) AS INT) AS n_words,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowel,
        |  regexp_matches(p_type, 'STEEL') AS has_steel,
        |  upper(p_name) AS upper_name, lower(p_type) AS lower_type,
        |  trim('  ' || p_brand || ' ') AS trimmed,
        |  CAST(len(p_name) AS INT) AS len_name,
        |  translate(p_brand, '#', '_') AS swapped,
        |  starts_with(p_type, 'ECONOMY') AS starts_eco
        |FROM part ORDER BY p_partkey""".stripMargin,

    "b_seq" ->
      """SELECT r_regionkey, CAST(i AS INT) AS i, r_name || ',' || r_name AS rep_name
        |FROM (SELECT r_regionkey, r_name,
        |  unnest(generate_series(1, r_regionkey + 1)) AS i FROM region)
        |ORDER BY r_regionkey, i""".stripMargin,

    "b_diff" ->
      """SELECT o_custkey, o_orderkey,
        |  o_totalprice - lag(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS price_diff
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "b_table" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n FROM customer
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "b_tabulate" ->
      """SELECT bin, coalesce(n, 0) AS n FROM
        |  (SELECT unnest(generate_series(1, 10)) AS bin)
        |LEFT JOIN (SELECT CAST(l_linenumber AS BIGINT) AS b, count(*) AS n
        |  FROM lineitem WHERE l_linenumber BETWEEN 1 AND 10 GROUP BY 1)
        |ON bin = b ORDER BY bin""".stripMargin,

    "b_which" ->
      """SELECT CAST(pos AS INT) AS pos FROM (
        |  SELECT row_number() OVER (ORDER BY n_nationkey) AS pos, n_name
        |  FROM nation)
        |WHERE len(n_name) > 6 ORDER BY pos""".stripMargin,

    "b_match" ->
      """SELECT o_orderkey, o_orderpriority, pos FROM orders
        |LEFT JOIN (
        |  SELECT v AS o_orderpriority, row_number() OVER (ORDER BY v) AS pos
        |  FROM (SELECT DISTINCT o_orderpriority AS v FROM orders
        |        WHERE o_orderpriority > '2'))
        |USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin,

    "b_duplicated" ->
      """SELECT c_custkey, c_mktsegment, c_nationkey,
        |  row_number() OVER (PARTITION BY c_mktsegment, c_nationkey
        |    ORDER BY c_custkey) > 1 AS dup
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "b_cut" ->
      """SELECT c_custkey, c_acctbal,
        |  CASE WHEN c_acctbal > -2000 AND c_acctbal <= 0 THEN 'neg'
        |       WHEN c_acctbal > 0 AND c_acctbal <= 2500 THEN 'low'
        |       WHEN c_acctbal > 2500 AND c_acctbal <= 5000 THEN 'mid'
        |       WHEN c_acctbal > 5000 AND c_acctbal <= 7500 THEN 'high'
        |       WHEN c_acctbal > 7500 AND c_acctbal <= 12000 THEN 'top'
        |  END AS bal_bin
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "b_types" ->
      """SELECT o_orderkey,
        |  CAST(o_orderkey AS VARCHAR) AS key_str,
        |  CAST(trunc(o_totalprice) AS BIGINT) AS price_int,
        |  CAST(o_orderdate AS DATE) AS date_day,
        |  nullif(o_orderstatus, 'P') IS NULL AS is_na_x,
        |  isfinite(CASE WHEN o_orderstatus = 'P' THEN CAST('Infinity' AS DOUBLE)
        |    ELSE o_totalprice END) AS finite_price,
        |  (o_orderkey IS NOT NULL AND nullif(o_orderstatus, 'P') IS NOT NULL) AS complete
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "b_rowstats" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity + l_extendedprice + l_tax AS row_sum,
        |  (l_quantity + l_extendedprice + l_tax) / 3 AS row_mean,
        |  list_sort([l_quantity, l_extendedprice, l_tax])[2] AS row_med,
        |  (l_quantity IS NULL OR l_extendedprice IS NULL) AS row_any_na
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "b_maxcol" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE greatest(l_quantity, l_discount*100, l_tax*100)
        |    WHEN l_quantity THEN 1
        |    WHEN l_discount*100 THEN 2
        |    ELSE 3 END AS biggest
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "b_transpose" ->
      s"""WITH agg AS (
         |  SELECT l_returnflag, ${dsumSql("l_quantity")} AS qty,
         |    ${dsumSql("l_discount")} AS disc
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT 'qty' AS "column",
         |  max(CASE WHEN l_returnflag='A' THEN qty END) AS A,
         |  max(CASE WHEN l_returnflag='N' THEN qty END) AS N,
         |  max(CASE WHEN l_returnflag='R' THEN qty END) AS R
         |FROM agg
         |UNION ALL
         |SELECT 'disc',
         |  max(CASE WHEN l_returnflag='A' THEN disc END),
         |  max(CASE WHEN l_returnflag='N' THEN disc END),
         |  max(CASE WHEN l_returnflag='R' THEN disc END)
         |FROM agg
         |ORDER BY "column"""".stripMargin,

    "b_cor" ->
      s"""WITH s AS (
         |  SELECT l_returnflag,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    ${dsumSql("l_quantity")} AS sx,
         |    ${dsumSql("l_extendedprice")} AS sy,
         |    ${dprodSumSql("l_quantity","l_extendedprice")} AS sxy,
         |    ${dprodSumSql("l_quantity","l_quantity")} AS sxx,
         |    ${dprodSumSql("l_extendedprice","l_extendedprice")} AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag,
         |  (sxy - sx*sy/n) / (n - 1.0) AS cov_qp,
         |  ((sxy - sx*sy/n) / (n - 1.0)) /
         |    (sqrt((sxx - sx*sx/n) / (n - 1.0)) * sqrt((syy - sy*sy/n) / (n - 1.0))) AS cor_qp
         |FROM s ORDER BY l_returnflag""".stripMargin,

    "b_colstats" ->
      s"""SELECT ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_price,
         |  ${davgSql("l_quantity")} AS mean_qty,
         |  ${davgSql("l_discount")} AS mean_disc,
         |  sqrt((${dprodSumSql("l_quantity","l_quantity")} - ${dsumSql("l_quantity")}*${dsumSql("l_quantity")}/CAST(count(*) AS DOUBLE)) / (CAST(count(*) AS DOUBLE) - 1.0)) AS sd_qty,
         |  sqrt((${dprodSumSql("l_extendedprice","l_extendedprice")} - ${dsumSql("l_extendedprice")}*${dsumSql("l_extendedprice")}/CAST(count(*) AS DOUBLE)) / (CAST(count(*) AS DOUBLE) - 1.0)) AS sd_price,
         |  quantile_cont(l_quantity, 0.5) AS cmed_qty,
         |  quantile_cont(l_extendedprice, 0.5) AS cmed_price
         |FROM lineitem""".stripMargin,

    "b_colmeds" ->
      """SELECT quantile_cont(p_size, 0.5) AS med_size,
        |  quantile_cont(p_retailprice, 0.5) AS med_price
        |FROM part""".stripMargin,

    "b_complex" ->
      """WITH z AS (SELECT c_custkey,
        |    c_acctbal AS zr, CAST(c_custkey % 7 - 3 AS DOUBLE) AS zi,
        |    CAST(c_custkey % 5 AS DOUBLE) AS wr, 1.0 AS wi
        |  FROM customer)
        |SELECT c_custkey,
        |  zr AS z_re, zi AS z_im, -zi AS conj_im,
        |  sqrt(zr*zr + zi*zi) AS z_mod,
        |  round(atan2(zi, zr), 6) AS z_arg,
        |  zr*wr - zi*wi AS prod_re, zr*wi + zi*wr AS prod_im,
        |  (zr*wr + zi*wi) / (wr*wr + wi*wi) AS quot_re,
        |  (zi*wr - zr*wi) / (wr*wr + wi*wi) AS quot_im
        |FROM z ORDER BY c_custkey""".stripMargin,

    "b_hyper" ->
      """SELECT c_custkey,
        |  round(ln(c_acctbal/10000.0 + sqrt((c_acctbal/10000.0)*(c_acctbal/10000.0) + 1.0)), 4) AS asinh4,
        |  round(ln((1.0 + abs(c_acctbal)/10000.0) + sqrt((1.0 + abs(c_acctbal)/10000.0)*(1.0 + abs(c_acctbal)/10000.0) - 1.0)), 4) AS acosh4,
        |  round(0.5 * ln((1.0 + c_acctbal/20000.0) / (1.0 - c_acctbal/20000.0)), 4) AS atanh4
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "b_vec2" ->
      """SELECT p_partkey,
        |  CAST(len(str_split(p_name, ' ')) AS INT) AS n_words,
        |  list_contains(str_split(p_name, ' '), 'green') AS has_green,
        |  p_size IN (1, 7, 23) AS is_el,
        |  array_to_string(str_split(p_name, ' ')[1:1] || ['zz'] || str_split(p_name, ' ')[2:], '|') AS appended,
        |  array_to_string(list_reverse(str_split(p_name, ' ')), '|') AS revd
        |FROM part ORDER BY p_partkey""".stripMargin,

    "b_allany" ->
      """SELECT o_orderstatus,
        |  bool_and(o_totalprice > 0) AS all_pos,
        |  bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
        |  bool_or(o_totalprice > 500000) AS any_huge
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "b_rank" ->
      """SELECT p_brand, p_partkey,
        |  rank() OVER (PARTITION BY p_brand ORDER BY p_size)
        |    + (count(*) OVER (PARTITION BY p_brand, p_size) - 1) / 2.0 AS rk_avg,
        |  CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS INT) AS rk_min,
        |  CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_size, p_partkey) AS INT) AS ord_idx
        |FROM part ORDER BY p_brand, p_partkey""".stripMargin,

    // x = p_size/10 has 50 distinct values, so the full-table bessel
    // query is oracle-checked by joining a frozen 50-row golden table
    // on p_size (6-digit; kernels independently checked against
    // published reference values in FunctionsSpec)
    "b_bessel" ->
      """WITH g(s, j0, j1, i0, i1, k0, y0) AS (VALUES
        |  (1, 0.997502, 0.049938, 1.002502, 0.050063, 2.427069, -1.534239),
        |  (2, 0.990025, 0.099501, 1.010025, 0.100501, 1.752704, -1.081105),
        |  (3, 0.977626, 0.148319, 1.022627, 0.151694, 1.37246, -0.807274),
        |  (4, 0.960398, 0.196027, 1.040402, 0.204027, 1.114529, -0.606025),
        |  (5, 0.93847, 0.242268, 1.063483, 0.257894, 0.924419, -0.444519),
        |  (6, 0.912005, 0.286701, 1.092045, 0.313704, 0.777522, -0.30851),
        |  (7, 0.881201, 0.328996, 1.126303, 0.37188, 0.66052, -0.190665),
        |  (8, 0.846287, 0.368842, 1.166515, 0.432865, 0.565347, -0.086802),
        |  (9, 0.807524, 0.40595, 1.212985, 0.497126, 0.48673, 0.005628),
        |  (10, 0.765198, 0.440051, 1.266066, 0.565159, 0.421024, 0.088257),
        |  (11, 0.719622, 0.470902, 1.32616, 0.637489, 0.365602, 0.162163),
        |  (12, 0.671133, 0.498289, 1.393726, 0.714678, 0.318508, 0.228084),
        |  (13, 0.620086, 0.522023, 1.469278, 0.797329, 0.278248, 0.286535),
        |  (14, 0.566855, 0.541948, 1.553395, 0.886092, 0.243655, 0.337895),
        |  (15, 0.511828, 0.557937, 1.646723, 0.981666, 0.213806, 0.382449),
        |  (16, 0.455402, 0.569896, 1.749981, 1.084811, 0.187955, 0.420427),
        |  (17, 0.397985, 0.577765, 1.863965, 1.196347, 0.165496, 0.452027),
        |  (18, 0.339986, 0.581517, 1.989559, 1.317167, 0.145931, 0.477432),
        |  (19, 0.281819, 0.581157, 2.12774, 1.448244, 0.128846, 0.49682),
        |  (20, 0.223891, 0.576725, 2.279585, 1.590637, 0.113894, 0.510376),
        |  (21, 0.166607, 0.568292, 2.446283, 1.7455, 0.100784, 0.518294),
        |  (22, 0.110362, 0.555963, 2.629143, 1.914095, 0.089269, 0.520784),
        |  (23, 0.05554, 0.539873, 2.829606, 2.0978, 0.07914, 0.518075),
        |  (24, 0.002508, 0.520185, 3.049257, 2.298124, 0.070217, 0.510415),
        |  (25, -0.048384, 0.497094, 3.289839, 2.516716, 0.062348, 0.49807),
        |  (26, -0.096805, 0.470818, 3.553269, 2.755384, 0.055398, 0.481331),
        |  (27, -0.142449, 0.441601, 3.841651, 3.016108, 0.049255, 0.460504),
        |  (28, -0.185036, 0.409709, 4.157298, 3.301056, 0.04382, 0.435916),
        |  (29, -0.224312, 0.375427, 4.502749, 3.612607, 0.039006, 0.407912),
        |  (30, -0.260052, 0.339059, 4.880793, 3.95337, 0.03474, 0.37685),
        |  (31, -0.292064, 0.300921, 5.294491, 4.326206, 0.030955, 0.343103),
        |  (32, -0.320188, 0.261343, 5.747207, 4.734254, 0.027595, 0.307053),
        |  (33, -0.344296, 0.220663, 6.24263, 5.180959, 0.024611, 0.269092),
        |  (34, -0.364296, 0.179226, 6.784813, 5.670102, 0.021958, 0.229615),
        |  (35, -0.380128, 0.137378, 7.378203, 6.205835, 0.019599, 0.189022),
        |  (36, -0.391769, 0.095466, 8.027685, 6.792715, 0.0175, 0.14771),
        |  (37, -0.39923, 0.053834, 8.738618, 7.435746, 0.015631, 0.106074),
        |  (38, -0.402556, 0.012821, 9.516888, 8.140425, 0.013966, 0.064503),
        |  (39, -0.401826, -0.027244, 10.368958, 8.912788, 0.012482, 0.023376),
        |  (40, -0.39715, -0.066043, 11.301922, 9.759465, 0.01116, -0.016941),
        |  (41, -0.38867, -0.103273, 12.32357, 10.687742, 0.00998, -0.056095),
        |  (42, -0.376557, -0.138647, 13.442457, 11.70562, 0.008927, -0.093751),
        |  (43, -0.361011, -0.171897, 14.667973, 12.821893, 0.007988, -0.129596),
        |  (44, -0.342257, -0.202776, 16.010436, 14.046221, 0.007149, -0.163336),
        |  (45, -0.320543, -0.23106, 17.481172, 15.389223, 0.0064, -0.194705),
        |  (46, -0.296138, -0.256553, 19.092623, 16.862565, 0.00573, -0.22346),
        |  (47, -0.269331, -0.279081, 20.858455, 18.479071, 0.005132, -0.249388),
        |  (48, -0.240425, -0.2985, 22.793678, 20.252835, 0.004597, -0.272304),
        |  (49, -0.209738, -0.314695, 24.914779, 22.199348, 0.004119, -0.292055),
        |  (50, -0.177597, -0.327579, 27.239872, 24.335642, 0.003691, -0.308518))
        |SELECT p_partkey, p_size, p_size / 10.0 AS x,
        |  g.j0, g.j1, g.i0, g.i1, g.k0, g.y0
        |FROM part JOIN g ON g.s = p_size
        |ORDER BY p_partkey""".stripMargin,

    // frozen goldens of the A&S rational approximations at the probe
    // set (6-digit); FunctionsSpec independently checks the kernels
    // against published reference values
    "b_bessel_port" ->
      """SELECT * FROM (VALUES
        |  (0.5, 0.93847, 0.242268, 1.063483, 0.257894, 0.924419, 1.656441, -0.444519, -1.471472),
        |  (1.5, 0.511828, 0.557937, 1.646723, 0.981666, 0.213806, 0.277388, 0.382449, -0.412309),
        |  (3.0, -0.260052, 0.339059, 4.880793, 3.95337, 0.03474, 0.040156, 0.37685, 0.324674),
        |  (7.5, 0.26634, 0.135248, 268.161314, 249.584368, 0.000249, 0.000265, 0.117313, -0.259129),
        |  (9.0, -0.090334, 0.245312, 1093.588388, 1030.914709, 0.000051, 0.000054, 0.249937, 0.104315),
        |  (12.0, 0.047689, -0.223447, 18948.924787, 18141.349612, 0.000002, 0.000002, -0.225237, -0.057099))
        |  AS t(x, j0, j1, i0, i1, k0, k1, y0, y1)
        |ORDER BY x""".stripMargin,

    // the pois/binom CASE chains are GENERATED from the same driver-side
    // CDF tables the Spark when-chain uses (shortest-round-trip double
    // literals), so both engines compare the same uniform against the
    // same thresholds — bit-identical branches
    "b_random" -> {
      def u(seed: String): String =
        s"""list_sum(list_transform(range(1, 14), i ->
           |      (strpos('0123456789abcdef', substring(md5('$seed' || CAST(c_custkey AS VARCHAR)), CAST(i AS INT), 1)) - 1)
           |        * pow(16, 13 - i))) / 4503599627370496.0""".stripMargin
      def chain(uExpr: String, cdfs: Seq[(Double, Int)], cap: Int): String =
        cdfs.map { case (c, k) =>
          s"WHEN $uExpr < ${java.lang.Double.toString(c)} THEN $k"
        }.mkString("CASE ", " ", s" ELSE ${math.min(cdfs.last._2 + 1, cap)} END")
      s"""WITH k AS (SELECT c_custkey,
         |    ${u("42")} AS u1,
         |    ${u("43")} AS u2,
         |    ${u("44")} AS up,
         |    ${u("45")} AS ub
         |  FROM customer)
         |SELECT c_custkey, u1 * 10.0 AS u10,
         |  round(sqrt(-2 * ln(1 - u1)) * cos(2 * pi() * u2), 6) AS z6,
         |  ${chain("up", BaseFns.poisCdf(4.0), Int.MaxValue)} AS pois,
         |  ${chain("ub", BaseFns.binomCdf(20, 0.3), 20)} AS binom
         |FROM k ORDER BY c_custkey""".stripMargin
    },

    "b_rank_u" ->
      """SELECT p_partkey,
        |  rank() OVER (ORDER BY p_size)
        |    + (count(*) OVER (PARTITION BY p_size) - 1) / 2.0 AS rk_avg,
        |  CAST(rank() OVER (ORDER BY p_size) AS BIGINT) AS rk_min,
        |  CAST(row_number() OVER (ORDER BY p_size, p_partkey) AS BIGINT) AS ord_idx
        |FROM part ORDER BY p_partkey""".stripMargin,

    "b_diff_u" ->
      """SELECT o_orderkey,
        |  o_totalprice - lag(o_totalprice) OVER (ORDER BY o_orderdate, o_orderkey)
        |    AS price_diff
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "b_lead_lag_u" ->
      """SELECT o_orderkey,
        |  lag(o_totalprice, 2) OVER (ORDER BY o_orderdate, o_orderkey) AS prev2_price,
        |  lead(o_totalprice, 1) OVER (ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "b_outer" ->
      """SELECT r_regionkey AS a, b, r_regionkey * b AS prod
        |FROM region CROSS JOIN (SELECT DISTINCT n_regionkey AS b FROM nation)
        |ORDER BY a, b""".stripMargin,

    "b_sprintf" ->
      """SELECT c_custkey,
        |  printf('cust %d seg=%s', c_custkey, c_mktsegment) AS msg,
        |  printf('%012.2f', c_acctbal) AS bal_fmt,
        |  printf('%d%%', CAST(c_nationkey * 4 AS INT)) AS pct
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "b_strsplit" ->
      """SELECT p_partkey,
        |  CAST(len(string_split_regex(p_type, '\s+')) AS INT) AS n_words,
        |  regexp_replace(p_type, ' ', '|') AS first2,
        |  CAST(len(string_split(p_name, ' ')) AS INT) AS fixed_parts
        |FROM part ORDER BY p_partkey""".stripMargin
  )
}
