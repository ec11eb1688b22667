package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.functions.Exact._

/** forcats coverage queries (SURVEY §2.3). */
object QueriesForcats {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.readParquet(s, s"$dir/$name.parquet")

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "f_fct_count" -> ((s, d) =>
      Forcats.fctCount(t(s, d, "customer"), "c_mktsegment", sort = true)
        .orderBy(col("n").desc, col("c_mktsegment"))),

    "f_fct_infreq" -> ((s, d) =>
      Forcats.levelsInfreq(t(s, d, "part"), "p_brand")
        .orderBy(col("ord"))),

    "f_fct_lump" -> ((s, d) =>
      Forcats.fctLumpN(t(s, d, "part"), "p_brand", n = 5)
        .groupBy("p_brand").agg(count(lit(1)).as("n"))
        .orderBy(col("p_brand"))),

    // weighted lumping (reference forcats.py:855 fct_lump(w=)): levels
    // ranked by their p_retailprice MASS, not row count — the keep-set
    // can differ from f_fct_lump's; decimal mass sums make the rank
    // and the output engine-exact
    "f_fct_lump_w" -> ((s, d) =>
      Forcats.fctLumpN(t(s, d, "part"), "p_brand", n = 4,
          w = Some(col("p_retailprice")))
        .groupBy("p_brand").agg(count(lit(1)).as("n"),
          dsum(col("p_retailprice")).as("mass"))
        .orderBy(col("p_brand"))),

    "f_fct_recode" -> ((s, d) =>
      Forcats.fctCollapse(
        Forcats.fctRecode(t(s, d, "orders"), "o_orderstatus",
          Map("Finished" -> "F", "Open" -> "O", "Pending" -> "P")),
        "o_orderpriority",
        Map("urgent" -> Seq("1-URGENT", "2-HIGH"),
          "normal" -> Seq("3-MEDIUM"),
          "low" -> Seq("4-NOT SPECIFIED", "5-LOW")))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))),

    "f_fct_reorder" -> ((s, d) =>
      Forcats.fctReorder(
        t(s, d, "customer").withColumnRenamed("c_nationkey", "nation"),
        "nation", davg(col("c_acctbal")))
        .orderBy(col("ord"))),

    "f_fct_na" -> ((s, d) => {
      val sparse = t(s, d, "customer")
        .withColumn("seg",
          when(col("c_mktsegment") === "MACHINERY", lit(null)).otherwise(col("c_mktsegment")))
      Forcats.fctCount(
        Forcats.fctExplicitNa(sparse, "seg"), "seg", sort = false)
        .orderBy(col("seg"))
    }),

    "f_fct_other" -> ((s, d) =>
      Forcats.fctOther(t(s, d, "supplier"), "s_name",
        keep = Seq.empty, other = "anon")
        .groupBy("s_name").agg(count(lit(1)).as("n"))
        .orderBy(col("s_name"))),

    // numeric-aware level order (fct_inseq): numeric strings sort as
    // numbers, non-numeric levels append lexicographically last
    "f_fct_inseq" -> ((s, d) =>
      Forcats.fctInseq(
        t(s, d, "nation").select(
          when(col("n_nationkey") < 20, col("n_nationkey").cast("string"))
            .otherwise(concat(lit("x"), col("n_nationkey").cast("string")))
            .as("key_str")),
        "key_str")
        .orderBy(col("ord"))),

    "f_fct_relevel" -> ((s, d) =>
      Forcats.fctRelevel(
        Forcats.levelsInseq(t(s, d, "customer"), "c_mktsegment"),
        "c_mktsegment", first = Seq("MACHINERY", "HOUSEHOLD"))
        .orderBy(col("ord"))),

    // constructor surface (api/base/factor.py): as_factor's
    // first-appearance level order joined against an EXPLICIT
    // set_levels table; is_factor gates the join at plan-build time
    "f_fct_asfactor" -> ((s, d) => {
      val apprn = Forcats.asFactor(t(s, d, "customer"), "c_mktsegment",
        order = col("c_custkey"))
      val explicit = Forcats.setLevels(s, "c_mktsegment",
        Seq("MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"))
      require(Forcats.isFactor(apprn, "c_mktsegment") &&
        Forcats.isFactor(explicit, "c_mktsegment"))
      apprn.withColumnRenamed("ord", "appear_ord")
        .join(explicit.withColumnRenamed("ord", "set_ord"), Seq("c_mktsegment"))
        .orderBy(col("c_mktsegment"))
    }),

    "f_fct_shift" -> ((s, d) =>
      Forcats.fctShift(
        Forcats.levelsInseq(t(s, d, "customer"), "c_mktsegment"), n = 2)
        .orderBy(col("ord"))),

    "f_fct_cross" -> ((s, d) =>
      Forcats.fctCrossLevels(t(s, d, "orders"), "o_orderstatus", "o_orderpriority")
        .orderBy(col("ord"))),

    "f_fct_expand" -> ((s, d) =>
      Forcats.fctExpand(
        Forcats.levelsInseq(t(s, d, "region"), "r_name"),
        "r_name", Seq("ATLANTIS", "AFRICA"))
        .orderBy(col("ord"))),

    "f_fct_relabel" -> ((s, d) =>
      Forcats.fctRelabel(
        Forcats.levelsInseq(t(s, d, "part"), "p_type"),
        "p_type", c => split(c, " ").getItem(0))
        .orderBy(col("ord"))),

    "f_fct_lowfreq" -> ((s, d) =>
      Forcats.fctLumpLowfreq(t(s, d, "part"), "p_brand")
        .groupBy("p_brand").agg(count(lit(1)).as("n"))
        .orderBy(col("p_brand"))),

    "f_fct_reorder2" -> ((s, d) =>
      Forcats.fctReorder2(t(s, d, "customer"), "c_mktsegment",
        col("c_custkey"), col("c_acctbal"))
        .orderBy(col("ord"))),

    // seeded md5 level order — md5 is engine-portable, so the "shuffle"
    // is exactly reproducible by the DuckDB oracle
    "f_fct_shuffle" -> ((s, d) =>
      Forcats.fctShuffle(
        Forcats.levelsInseq(t(s, d, "customer"), "c_mktsegment"), "c_mktsegment")
        .orderBy(col("ord"))),

    // anonymised zero-padded labels in seeded md5 order (the portable
    // stand-in for forcats' random.shuffle)
    "f_fct_anon" -> ((s, d) =>
      Forcats.fctAnon(
        Forcats.levelsInseq(t(s, d, "customer"), "c_mktsegment"), "c_mktsegment")
        .orderBy(col("ord")))
  )

  val oracles: Map[String, String] = Map(
    "f_fct_shuffle" ->
      """SELECT c_mktsegment,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('42' || c_mktsegment), c_mktsegment) AS INT) AS ord
        |FROM (SELECT DISTINCT c_mktsegment FROM customer)
        |ORDER BY ord""".stripMargin,

    "f_fct_count" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |GROUP BY 1 ORDER BY n DESC, c_mktsegment""".stripMargin,

    "f_fct_anon" ->
      """WITH lv AS (SELECT DISTINCT c_mktsegment AS f FROM customer),
        |n AS (SELECT count(*) AS n FROM lv),
        |rk AS (SELECT f, row_number() OVER (ORDER BY md5('42' || f), f) AS rk FROM lv)
        |SELECT lpad(CAST(rk - 1 AS VARCHAR), CAST(len(CAST(n.n AS VARCHAR)) AS INT), '0') AS c_mktsegment,
        |  CAST(rk AS INT) AS ord
        |FROM rk CROSS JOIN n ORDER BY ord""".stripMargin,

    "f_fct_infreq" ->
      """SELECT p_brand, CAST(row_number() OVER (ORDER BY count(*) DESC, p_brand) AS INT) AS ord
        |FROM part GROUP BY p_brand ORDER BY ord""".stripMargin,

    "f_fct_lump" ->
      """WITH keep AS (
        |  SELECT p_brand FROM part GROUP BY p_brand
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, p_brand) <= 5)
        |SELECT CASE WHEN p_brand IN (SELECT p_brand FROM keep)
        |  THEN p_brand ELSE 'Other' END AS p_brand, count(*) AS n
        |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin,

    // weighted keep-set: top 4 brands by decimal retailprice mass
    "f_fct_lump_w" ->
      s"""WITH keep AS (
        |  SELECT p_brand FROM part GROUP BY p_brand
        |  QUALIFY row_number() OVER (
        |    ORDER BY sum(CAST(p_retailprice AS DECIMAL(28,6))) DESC, p_brand) <= 4)
        |SELECT CASE WHEN p_brand IN (SELECT p_brand FROM keep)
        |  THEN p_brand ELSE 'Other' END AS p_brand, count(*) AS n,
        |  ${dsumSql("p_retailprice")} AS mass
        |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin,

    "f_fct_recode" ->
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'Finished' WHEN 'O' THEN 'Open'
        |    WHEN 'P' THEN 'Pending' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'urgent'
        |    WHEN o_orderpriority IN ('3-MEDIUM') THEN 'normal'
        |    WHEN o_orderpriority IN ('4-NOT SPECIFIED','5-LOW') THEN 'low'
        |    ELSE o_orderpriority END AS o_orderpriority,
        |  count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "f_fct_reorder" ->
      """SELECT c_nationkey AS nation,
        |  CAST(row_number() OVER (ORDER BY
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / CAST(count(c_acctbal) AS DOUBLE),
        |    c_nationkey) AS INT) AS ord
        |FROM customer GROUP BY c_nationkey ORDER BY ord""".stripMargin,

    "f_fct_na" ->
      """SELECT coalesce(nullif(c_mktsegment, 'MACHINERY'), '(Missing)') AS seg,
        |  count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY seg""".stripMargin,

    "f_fct_other" ->
      "SELECT 'anon' AS s_name, count(*) AS n FROM supplier GROUP BY 1 ORDER BY 1",

    "f_fct_asfactor" ->
      """WITH apprn AS (SELECT c_mktsegment,
        |    CAST(row_number() OVER (ORDER BY first_key, c_mktsegment) AS INT) AS appear_ord
        |  FROM (SELECT c_mktsegment, min(c_custkey) AS first_key
        |        FROM customer GROUP BY 1)),
        |explicit(c_mktsegment, set_ord) AS (VALUES
        |  ('MACHINERY', 1), ('HOUSEHOLD', 2), ('BUILDING', 3),
        |  ('FURNITURE', 4), ('AUTOMOBILE', 5))
        |SELECT c_mktsegment, appear_ord, CAST(set_ord AS INT) AS set_ord
        |FROM apprn JOIN explicit USING (c_mktsegment)
        |ORDER BY c_mktsegment""".stripMargin,

    "f_fct_inseq" ->
      """WITH k AS (SELECT DISTINCT CASE WHEN n_nationkey < 20
        |    THEN CAST(n_nationkey AS VARCHAR)
        |    ELSE 'x' || CAST(n_nationkey AS VARCHAR) END AS key_str
        |  FROM nation)
        |SELECT key_str, CAST(row_number() OVER (ORDER BY
        |    CASE WHEN TRY_CAST(key_str AS DOUBLE) IS NULL THEN 1 ELSE 0 END,
        |    TRY_CAST(key_str AS DOUBLE), key_str) AS INT) AS ord
        |FROM k ORDER BY ord""".stripMargin,

    "f_fct_relevel" ->
      """WITH base AS (SELECT c_mktsegment,
        |    row_number() OVER (ORDER BY c_mktsegment) AS ord0
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer))
        |SELECT c_mktsegment,
        |  CAST(row_number() OVER (ORDER BY
        |    CASE c_mktsegment WHEN 'MACHINERY' THEN 0 WHEN 'HOUSEHOLD' THEN 1
        |      ELSE 2147483647 END, ord0) AS INT) AS ord
        |FROM base ORDER BY ord""".stripMargin,

    "f_fct_lowfreq" ->
      """WITH c AS (SELECT p_brand, count(*) AS n FROM part GROUP BY 1),
        |r AS (SELECT p_brand, n,
        |    row_number() OVER (ORDER BY n DESC, p_brand) AS rk,
        |    sum(n) OVER () - sum(n) OVER (ORDER BY n DESC, p_brand
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tail
        |  FROM c),
        |cut AS (SELECT min(rk) AS cutoff FROM r WHERE n > tail),
        |k AS (SELECT p_brand FROM r, cut
        |  WHERE cut.cutoff IS NULL OR r.rk <= cut.cutoff)
        |SELECT CASE WHEN p_brand IN (SELECT p_brand FROM k)
        |  THEN p_brand ELSE 'Other' END AS p_brand, count(*) AS n
        |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin,

    "f_fct_reorder2" ->
      """SELECT c_mktsegment,
        |  CAST(row_number() OVER (ORDER BY arg_max(c_acctbal, c_custkey) DESC, c_mktsegment) AS INT) AS ord
        |FROM customer GROUP BY c_mktsegment ORDER BY ord""".stripMargin,

    "f_fct_shift" ->
      """WITH base AS (SELECT c_mktsegment,
        |    CAST(row_number() OVER (ORDER BY c_mktsegment) AS INT) AS ord,
        |    count(*) OVER () AS total
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer))
        |SELECT c_mktsegment,
        |  CAST((((ord - 1 - 2) % total + total) % total) + 1 AS INT) AS ord
        |FROM base ORDER BY ord""".stripMargin,

    "f_fct_cross" ->
      """SELECT o_orderstatus || ':' || o_orderpriority AS level,
        |  CAST(row_number() OVER (ORDER BY o_orderstatus, o_orderpriority) AS INT) AS ord
        |FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
        |ORDER BY ord""".stripMargin,

    "f_fct_expand" ->
      """WITH lv AS (SELECT r_name, row_number() OVER (ORDER BY r_name) AS ord0, 0 AS nw, 0 AS i
        |    FROM (SELECT DISTINCT r_name FROM region)
        |  UNION ALL SELECT 'ATLANTIS', 2147483647, 1, 0
        |  UNION ALL SELECT 'AFRICA', 2147483647, 1, 1)
        |SELECT r_name, CAST(row_number() OVER (ORDER BY nw, ord0, i) AS INT) AS ord
        |FROM lv WHERE NOT (nw = 1 AND r_name IN (SELECT DISTINCT r_name FROM region))
        |ORDER BY ord""".stripMargin,

    "f_fct_relabel" ->
      """SELECT p_type, CAST(row_number() OVER (ORDER BY mo, p_type) AS INT) AS ord
        |FROM (
        |  SELECT split_part(p_type, ' ', 1) AS p_type, min(ord0) AS mo
        |  FROM (SELECT p_type, row_number() OVER (ORDER BY p_type) AS ord0
        |    FROM (SELECT DISTINCT p_type FROM part))
        |  GROUP BY 1)
        |ORDER BY ord""".stripMargin
  )
}
