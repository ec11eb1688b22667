package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.GraftFrame.DataFrameOps
import graft.functions.CondFns

/** tidyr + tibble coverage queries (SURVEY §2.2, §2.5). */
object QueriesTidyr {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.readParquet(s, s"$dir/$name.parquet")

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "t_diag" -> ((s, _) => Tibble.diagMatrix(s, 5).orderBy("rowid")),

    "t_pivot_longer" -> ((s, d) =>
      Tidyr.pivotLonger(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        TidySelect.cols("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        namesTo = "metric", valuesTo = "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))),

    "t_pivot_wider" -> ((s, d) =>
      Tidyr.pivotWider(
        t(s, d, "orders"),
        idCols = Seq("o_custkey"), namesFrom = "o_orderstatus",
        valuesFrom = col("o_orderkey"), agg = c => count(c),
        nameValues = Seq("F", "O", "P"), prefix = "status_",
        fill = Some(lit(0L)))
        .orderBy(col("o_custkey"))),

    "t_pivot_wider_disc" -> ((s, d) =>
      Tidyr.pivotWiderDiscover(
        t(s, d, "orders"),
        idCols = Seq("o_custkey"), namesFrom = "o_orderstatus",
        valuesFrom = col("o_orderkey"), agg = c => count(c),
        prefix = "st_", fill = Some(lit(0L)))
        .orderBy(col("o_custkey"))),

    // names_glue + names_sort (reference tidyr.py:374-380): shaped
    // output names "st_{o_orderstatus}_total" from a deliberately
    // UNSORTED value list, names_sort=true restores F/O/P column order
    "t_pivot_glue" -> ((s, d) =>
      Tidyr.pivotWiderShaped(
        t(s, d, "orders").select("o_orderpriority", "o_orderstatus",
          "o_totalprice"),
        idCols = Seq("o_orderpriority"), namesFrom = Seq("o_orderstatus"),
        valuesFrom = col("o_totalprice"),
        agg = c => graft.functions.Exact.dsum(c),
        nameValues = Seq(Seq("P"), Seq("O"), Seq("F")),
        namesGlue = "st_{o_orderstatus}_total", namesSort = true)
        .orderBy(col("o_orderpriority"))),

    // unused_fn (reference api/tidyr.py:380): o_custkey and
    // o_orderdate are neither id, names, nor values — summarized per
    // id group (max date, distinct buyers) and kept beside the
    // pivot, out of ONE groupBy
    "t_pivot_unused" -> ((s, d) =>
      Tidyr.pivotWiderUnused(
        t(s, d, "orders").select("o_orderpriority", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_custkey"),
        idCols = Seq("o_orderpriority"), namesFrom = "o_orderstatus",
        valuesFrom = col("o_totalprice"),
        agg = c => graft.functions.Exact.dsum(c),
        nameValues = Seq("F", "O", "P"),
        unused = Seq(
          "o_orderdate" -> (c => max(c)),
          "o_custkey" -> (c => countDistinct(c))),
        prefix = "st_")
        .orderBy(col("o_orderpriority"))),

    "t_pivot_multi" -> ((s, d) =>
      Tidyr.pivotWiderMulti(t(s, d, "orders"), Seq("o_custkey"),
        Seq("o_orderstatus", "o_orderpriority"), "_",
        col("o_orderkey"), c => count(c),
        nameValues = Seq("F_1-URGENT", "O_1-URGENT", "P_1-URGENT"),
        prefix = "n_", fill = Some(lit(0L)))
        .orderBy(col("o_custkey"))),

    "t_add_row" -> ((s, d) => {
      val base = t(s, d, "region").select("r_regionkey", "r_name")
      Tibble.addColumn(
        Tibble.addRow(base, Map("r_regionkey" -> 99, "r_name" -> "NEW")),
        "key_twice", col("r_regionkey") * 2)
        .orderBy(col("r_regionkey"))
    }),

    "t_separate" -> ((s, d) =>
      Tidyr.separate(
        t(s, d, "part").select("p_partkey", "p_type"),
        "p_type", Seq("t1", "t2", "t3"), sep = " ")
        .orderBy(col("p_partkey"))),

    // separate with the extra/fill strategies (reference
    // api/tidyr.py:450 _separate_col): merge mode caps the split so
    // the LAST piece absorbs the remainder; left-fill pads a shortfall
    // on the LEFT — both change answers vs the greedy default, so they
    // carry their own oracle replay over a 40-char document prefix
    // (variable word counts: shortfall, exact-fit, and truncation rows
    // all occur)
    "t_separate_extra" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 40).as("head40"))
      val merged = Tidyr.separate(base, "head40", Seq("m1", "m2", "m3"),
        sep = " ", remove = false, extra = "merge")
      Tidyr.separate(merged, "head40", Seq("l1", "l2", "l3", "l4", "l5"),
        sep = " ", remove = true, extra = "warn", fill = "left")
        .orderBy(col("doc_id"))
    }),

    "t_extract" -> ((s, d) =>
      Tidyr.extract(
        t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
        "o_orderpriority", Seq("prio_num", "prio_word"), "(\\d)-(.+)")
        .orderBy(col("o_orderkey"))),

    "t_unite" -> ((s, d) =>
      Tidyr.unite(
        t(s, d, "customer").select("c_custkey", "c_mktsegment", "c_nationkey"),
        "seg_nation", TidySelect.cols("c_mktsegment", "c_nationkey"), sep = "/")
        .orderBy(col("c_custkey"))),

    // l_linenumber is non-unique in this data: order by (ln, tax) so the
    // fill traversal is deterministic
    "t_fill" -> ((s, d) =>
      Tidyr.fill(
        t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_tax")
          .withColumn("tax_sparse", CondFns.naIf(col("l_tax"), lit(0.0))),
        TidySelect.cols("tax_sparse"),
        order = Seq(col("l_linenumber"), col("l_tax")), part = Seq(col("l_orderkey")),
        direction = "downup")
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // UNGROUPED fill over a whole-frame total order: the distributed
    // two-phase last-non-null prefix scan (Tidyr.fillGlobal /
    // ScanFns.withFillLast) — no single-partition window in the plan
    // (PlanSpec asserts the shape)
    "t_fill_global" -> ((s, d) =>
      Tidyr.fillGlobal(
        t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_tax")
          .withColumn("tax_sparse", CondFns.naIf(col("l_tax"), lit(0.0))),
        TidySelect.cols("tax_sparse"),
        // l_tax joins the order so rows with a null tax_sparse sort
        // deterministically relative to equal-key non-null rows
        order = Seq(col("l_orderkey"), col("l_linenumber"), col("l_tax")),
        direction = "downup")
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "t_drop_na" -> ((s, d) =>
      Tidyr.dropNa(
        t(s, d, "lineitem")
          .withColumn("tax_sparse", CondFns.naIf(col("l_tax"), lit(0.0)))
          .select("l_orderkey", "l_linenumber", "tax_sparse"),
        TidySelect.cols("tax_sparse"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "t_replace_na" -> ((s, d) =>
      Tidyr.replaceNa(
        t(s, d, "lineitem")
          .withColumn("tax_sparse", CondFns.naIf(col("l_tax"), lit(0.0)))
          .select("l_orderkey", "l_linenumber", "tax_sparse"),
        Map("tax_sparse" -> -1.0))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "t_complete" -> ((s, d) =>
      Tidyr.complete(
        t(s, d, "orders").graft.countBy("o_custkey", "o_orderstatus").df,
        keys = Seq("o_custkey", "o_orderstatus"),
        fill = Map("n" -> 0L))
        .orderBy(col("o_custkey"), col("o_orderstatus"))),

    "t_expand" -> ((s, d) =>
      Tidyr.expandGrid(
        t(s, d, "customer").select("c_mktsegment"),
        t(s, d, "orders").select("o_orderstatus"))
        .orderBy(col("c_mktsegment"), col("o_orderstatus"))),

    "t_uncount" -> ((s, d) =>
      Tidyr.uncount(t(s, d, "region"), col("r_regionkey") + lit(1))
        .orderBy(col("r_regionkey"))),

    "t_separate_rows" -> ((s, d) =>
      Tidyr.separateRows(
        t(s, d, "part").select("p_partkey", "p_type"), "p_type", " ")
        .orderBy(col("p_partkey"), col("p_type"))),

    "t_chop" -> ((s, d) =>
      Tidyr.chop(
        t(s, d, "lineitem").withColumn("qty", col("l_quantity").cast("long")),
        keys = Seq("l_orderkey"), values = Seq("qty"), order = col("l_linenumber"))
        .select(col("l_orderkey"),
          array_join(col("qty"), ",").as("qtys"),
          size(col("qty")).as("n_items"))
        .orderBy(col("l_orderkey"))),

    "t_unnest" -> ((s, d) => {
      val nested = Tidyr.nest(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        keys = Seq("l_orderkey"), as = "items", order = col("l_linenumber"))
      Tidyr.unnest(nested, "items")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "t_pack" -> ((s, d) => {
      val packed = Tidyr.pack(
        t(s, d, "customer"), "details",
        TidySelect.cols("c_name", "c_acctbal", "c_mktsegment"))
      Tidyr.unpack(packed, "details")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy(col("c_custkey"))
    }),

    "t_full_seq" -> ((s, d) =>
      Tidyr.fullSeq(
        t(s, d, "orders").withColumn("yr", year(col("o_orderdate")).cast("long")),
        col("yr"), period = 1L, as = "year")
        .orderBy(col("year"))),

    "t_tibble" -> ((s, d) => {
      val tb = Tibble.of(s,
        "id" -> Seq(1, 2, 3, 4),
        "name" -> Seq("a", "b", "c", "d"),
        "score" -> Seq(1.5, 2.5, 3.5, null))
      Tibble.addRow(tb, Map("id" -> 5, "name" -> "e", "score" -> 9.9))
        .orderBy(col("id"))
    }),

    "t_enframe" -> ((s, d) =>
      Tibble.enframe(s, Seq("x" -> 1, "y" -> 2, "z" -> 3))
        .orderBy(col("name"))),

    // set_colnames: positional rename over a real table projection —
    // the oracle re-derives the same values under the new names
    "t_set_colnames" -> ((s, d) =>
      Tibble.setColnames(
        t(s, d, "nation").select("n_nationkey", "n_name"),
        Seq("nk", "nname")).orderBy(col("nk"))),

    // tibble_row: the one-row ctor; unioned onto enframe output to
    // prove it composes as a frame, not just prints
    "t_tibble_row" -> ((s, d) =>
      Tibble.tibbleRow(s, "name" -> "w", "value" -> 9)
        .unionByName(Tibble.enframe(s, Seq("x" -> 1, "y" -> 2)))
        .orderBy(col("name"))),

    // glimpse: the driver-side formatter's structural numbers (eager
    // row count + column count) checked against the table itself
    "t_glimpse" -> ((s, d) => {
      import graft.core.GraftFrame.DataFrameOps
      val text = t(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .graft.glimpseEager()
      val rows = "Rows: (\\d+)".r.findFirstMatchIn(text).get.group(1).toLong
      val ncols =
        "Columns: (\\d+)".r.findFirstMatchIn(text).get.group(1).toLong
      require(text.contains("$ n_name <string>"),
        s"glimpse must render per-column type lines: $text")
      Tibble.of(s, "rows" -> Seq(rows), "columns" -> Seq(ncols))
    }),

    "t_rowid" -> ((s, d) =>
      Tibble.rowidToColumn(
        t(s, d, "nation"), Seq(col("n_nationkey").asc))
        .select("rowid", "n_nationkey", "n_name")
        .orderBy(col("rowid"))),

    // rownames round-trip (reference tibble.py): demote n_name to
    // rownames, verify presence, promote back to a leading column,
    // then the no-rownames default path assigns positional "1".."n"
    // names over a declared order — all projection-only plans except
    // the positional branch's distributed rowid sort
    "t_rownames" -> ((s, d) => {
      val demoted = Tibble.columnToRownames(
        t(s, d, "nation").select("n_nationkey", "n_name"), "n_name")
      require(Tibble.hasRownames(demoted) &&
        !Tibble.hasRownames(Tibble.removeRownames(demoted)))
      val promoted = Tibble.rownamesToColumn(demoted, "rn")
      val positional = Tibble.rownamesToColumn(
        t(s, d, "nation").select("n_nationkey"),
        "pos_name", Seq(col("n_nationkey").asc))
      promoted.join(positional, Seq("n_nationkey"))
        .select("n_nationkey", "rn", "pos_name")
        .orderBy(col("n_nationkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    "t_diag" ->
      """SELECT CAST(i AS BIGINT) AS rowid,
        |  CASE WHEN i=1 THEN 1 ELSE 0 END AS v1,
        |  CASE WHEN i=2 THEN 1 ELSE 0 END AS v2,
        |  CASE WHEN i=3 THEN 1 ELSE 0 END AS v3,
        |  CASE WHEN i=4 THEN 1 ELSE 0 END AS v4,
        |  CASE WHEN i=5 THEN 1 ELSE 0 END AS v5
        |FROM generate_series(1,5) t(i) ORDER BY rowid""".stripMargin,

    "t_pivot_longer" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "t_pivot_glue" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS st_F_total,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS st_O_total,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
        |    FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS st_P_total
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "t_pivot_wider" ->
      """SELECT o_custkey,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "t_pivot_wider_disc" ->
      """SELECT o_custkey,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS st_F,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS st_O,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS st_P
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "t_pivot_unused" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
        |    FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS st_F,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
        |    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS st_O,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
        |    FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS st_P,
        |  max(o_orderdate) AS o_orderdate,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS o_custkey
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "t_pivot_multi" ->
      """SELECT o_custkey,
        |  count(CASE WHEN o_orderstatus = 'F' AND o_orderpriority = '1-URGENT' THEN 1 END) AS "n_F_1-URGENT",
        |  count(CASE WHEN o_orderstatus = 'O' AND o_orderpriority = '1-URGENT' THEN 1 END) AS "n_O_1-URGENT",
        |  count(CASE WHEN o_orderstatus = 'P' AND o_orderpriority = '1-URGENT' THEN 1 END) AS "n_P_1-URGENT"
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "t_add_row" ->
      """SELECT r_regionkey, r_name, r_regionkey * 2 AS key_twice FROM (
        |  SELECT r_regionkey, r_name FROM region
        |  UNION ALL SELECT 99, 'NEW')
        |ORDER BY r_regionkey""".stripMargin,

    "t_separate" ->
      """SELECT p_partkey, nullif(split_part(p_type, ' ', 1), '') AS t1,
        |  nullif(split_part(p_type, ' ', 2), '') AS t2,
        |  nullif(split_part(p_type, ' ', 3), '') AS t3
        |FROM part ORDER BY p_partkey""".stripMargin,

    // merge: piece 3 is the ' '-rejoined remainder (separators are
    // literal single spaces, so the rejoin reconstructs the original
    // substring exactly); left-fill: piece i reads word i - shortfall,
    // guarded to NULL out of range (DuckDB negative indices read from
    // the END, so the guard is required, not cosmetic)
    "t_separate_extra" ->
      """WITH b AS (
        |  SELECT doc_id, string_split(substr(text, 1, 40), ' ') AS w
        |  FROM documents)
        |SELECT doc_id,
        |  w[1] AS m1,
        |  CASE WHEN len(w) >= 2 THEN w[2] END AS m2,
        |  CASE WHEN len(w) >= 3 THEN array_to_string(w[3:], ' ') END AS m3,
        |  CASE WHEN 1 - (5 - least(len(w), 5)) BETWEEN 1 AND len(w)
        |    THEN w[1 - (5 - least(len(w), 5))] END AS l1,
        |  CASE WHEN 2 - (5 - least(len(w), 5)) BETWEEN 1 AND len(w)
        |    THEN w[2 - (5 - least(len(w), 5))] END AS l2,
        |  CASE WHEN 3 - (5 - least(len(w), 5)) BETWEEN 1 AND len(w)
        |    THEN w[3 - (5 - least(len(w), 5))] END AS l3,
        |  CASE WHEN 4 - (5 - least(len(w), 5)) BETWEEN 1 AND len(w)
        |    THEN w[4 - (5 - least(len(w), 5))] END AS l4,
        |  CASE WHEN 5 - (5 - least(len(w), 5)) BETWEEN 1 AND len(w)
        |    THEN w[5 - (5 - least(len(w), 5))] END AS l5
        |FROM b ORDER BY doc_id""".stripMargin,

    "t_extract" ->
      """SELECT o_orderkey, regexp_extract(o_orderpriority, '(\d)-(.+)', 1) AS prio_num,
        |  regexp_extract(o_orderpriority, '(\d)-(.+)', 2) AS prio_word
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "t_unite" ->
      """SELECT c_custkey, c_mktsegment || '/' || c_nationkey AS seg_nation
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "t_fill" ->
      """SELECT l_orderkey, l_linenumber, l_tax,
        |  coalesce(
        |    last_value(nullif(l_tax,0.0) IGNORE NULLS) OVER (
        |      PARTITION BY l_orderkey ORDER BY l_linenumber, l_tax
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first_value(nullif(l_tax,0.0) IGNORE NULLS) OVER (
        |      PARTITION BY l_orderkey ORDER BY l_linenumber, l_tax
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS tax_sparse
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t_fill_global" ->
      """SELECT l_orderkey, l_linenumber, l_tax,
        |  coalesce(
        |    last_value(nullif(l_tax,0.0) IGNORE NULLS) OVER (
        |      ORDER BY l_orderkey, l_linenumber, l_tax
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    first_value(nullif(l_tax,0.0) IGNORE NULLS) OVER (
        |      ORDER BY l_orderkey, l_linenumber, l_tax
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS tax_sparse
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t_drop_na" ->
      """SELECT l_orderkey, l_linenumber, l_tax AS tax_sparse FROM lineitem
        |WHERE nullif(l_tax, 0.0) IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t_replace_na" ->
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(nullif(l_tax, 0.0), -1.0) AS tax_sparse
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t_complete" ->
      """WITH cnt AS (SELECT o_custkey, o_orderstatus, count(*) AS n
        |    FROM orders GROUP BY 1, 2),
        |  grid AS (SELECT k.o_custkey, st.o_orderstatus
        |    FROM (SELECT DISTINCT o_custkey FROM orders) k
        |    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st)
        |SELECT g.o_custkey, g.o_orderstatus, coalesce(c.n, 0) AS n
        |FROM grid g LEFT JOIN cnt c USING (o_custkey, o_orderstatus)
        |ORDER BY o_custkey, o_orderstatus""".stripMargin,

    "t_expand" ->
      """SELECT * FROM (SELECT DISTINCT c_mktsegment FROM customer)
        |CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin,

    "t_uncount" ->
      """SELECT r_regionkey, r_name FROM (
        |  SELECT r_regionkey, r_name,
        |    unnest(generate_series(1, r_regionkey + 1)) AS i
        |  FROM region)
        |ORDER BY r_regionkey""".stripMargin,

    "t_separate_rows" ->
      """SELECT p_partkey, unnest(string_split(p_type, ' ')) AS p_type
        |FROM part ORDER BY p_partkey, p_type""".stripMargin,

    "t_chop" ->
      """SELECT l_orderkey,
        |  string_agg(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), ','
        |    ORDER BY l_linenumber, CAST(l_quantity AS BIGINT)) AS qtys,
        |  CAST(count(*) AS INT) AS n_items
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "t_unnest" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "t_pack" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |ORDER BY c_custkey""".stripMargin,

    "t_full_seq" ->
      """SELECT unnest(generate_series(
        |  (SELECT min(year(o_orderdate)) FROM orders),
        |  (SELECT max(year(o_orderdate)) FROM orders))) AS year
        |ORDER BY year""".stripMargin,

    "t_tibble" ->
      """SELECT * FROM (VALUES
        |  (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5),
        |  (4, 'd', NULL), (5, 'e', 9.9)) AS t(id, name, score)
        |ORDER BY id""".stripMargin,

    "t_enframe" ->
      """SELECT * FROM (VALUES ('x', 1), ('y', 2), ('z', 3)) AS t(name, value)
        |ORDER BY name""".stripMargin,

    "t_set_colnames" ->
      """SELECT n_nationkey AS nk, n_name AS nname FROM nation
        |ORDER BY nk""".stripMargin,

    "t_tibble_row" ->
      """SELECT * FROM (VALUES ('w', 9), ('x', 1), ('y', 2)) AS t(name, value)
        |ORDER BY name""".stripMargin,

    "t_glimpse" ->
      """SELECT count(*) AS rows, CAST(3 AS BIGINT) AS columns
        |FROM nation""".stripMargin,

    "t_rowid" ->
      """SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS rowid,
        |  n_nationkey, n_name
        |FROM nation ORDER BY rowid""".stripMargin,

    "t_rownames" ->
      """SELECT n_nationkey, n_name AS rn,
        |  CAST(row_number() OVER (ORDER BY n_nationkey) AS VARCHAR) AS pos_name
        |FROM nation ORDER BY n_nationkey""".stripMargin
  )
}
