package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.core._
import graft.core.GraftFrame.DataFrameOps
import graft.functions.Exact._

/** Plan-shape asserts for the scale-critical paths (SURVEY §5/§6):
  * pushdown reaches the scan, broadcasts where declared, one Exchange
  * for a multi-expression grouped mutate, no unpartitioned Window over
  * fact-table-shaped plans. Runs against the sf0.001 parquet. */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def li = spark.read.parquet(s"$dir/lineitem.parquet")

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(collectPlan)

  test("GroupedTopK matches the window form and plans partial->shuffle->final") {
    import graft.plans.{GroupedTopKExec, TopK}
    val q = TopK.topKPerGroup(li, Seq("l_returnflag", "l_linestatus"),
      Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")), k = 3)
    // correctness vs the window idiom (total ordering -> unique answer)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag", "l_linestatus")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val expected = li.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
    val key = (r: org.apache.spark.sql.Row) => r.mkString("|")
    assert(q.collect().map(key).sorted.toSeq == expected.collect().map(key).sorted.toSeq)
    // plan shape: two custom nodes with exactly one shuffle between, no sort/window
    val nodes = collectPlan(q.queryExecution.executedPlan)
    val topks = nodes.collect { case t: GroupedTopKExec => t }
    assert(topks.map(_.partial) == Seq(false, true), s"want final over partial:\n${q.queryExecution.executedPlan}")
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]))
  }

  test("GroupedTopK handles k larger than groups and single groups") {
    import graft.plans.TopK
    val tiny = sqlDf("g" -> Seq("a", "a", "b"), "v" -> Seq(3L, 1L, 9L))
    val out = TopK.topKPerGroup(tiny, Seq("g"), Seq(col("v")), k = 5)
      .orderBy("g", "v").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 1L), ("a", 3L), ("b", 9L)))
  }

  test("filter + projection are pushed down to the parquet scan") {
    val q = li.filter(col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scan")
  }

  test("multi-expression grouped mutate shares ONE shuffle and ONE Window") {
    val q = li.graft.groupBy("l_returnflag")
      .mutate(
        "t" -> dsum(col("l_quantity")),
        "s" -> (col("l_quantity") / dsum(col("l_quantity"))),
        "c" -> (col("l_quantity") - davg(col("l_quantity"))))
      .df
    val nodes = collectPlan(q.queryExecution.executedPlan)
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    val windows = nodes.count(_.isInstanceOf[WindowExec])
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles")
    assert(windows == 1, s"expected 1 Window operator, got $windows")
  }

  test("declared dimension joins broadcast the dim side") {
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val q = cust.graft.innerJoin(
      nation.graft.rename("c_nationkey" -> "n_nationkey"),
      Seq("c_nationkey"), broadcastRight = true).df
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("ungrouped sorted sliceHead lowers to TakeOrderedAndProject (distributed top-k)") {
    val q = li.graft.arrange(col("l_extendedprice").desc).sliceHead(5).df
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
  }

  test("no unpartitioned Window over the fact table in any SparkEntry query") {
    // every query must avoid Window.partitionBy() (empty) over large inputs;
    // spot-check the grouped-mutate and slice queries compile to
    // partitioned windows only
    val q = li.graft.groupBy("l_returnflag").arrange(col("l_shipdate"))
      .sliceAt(Seq(1, 2)).df
    val windows = collectPlan(q.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "found a Window with empty partitionSpec over lineitem")
  }

  test("ungrouped rank/which/slice paths plan with NO single-partition window") {
    import graft.functions.{SeqFns, SetFns}
    val part = spark.read.parquet(s"$dir/part.parquet")
    val plans = Seq(
      SeqFns.withRankAvg(part, col("p_size"), "rk"),
      SeqFns.withRankMin(part, col("p_size"), "rk"),
      SeqFns.withOrderIndex(part, col("p_size"), Seq(col("p_partkey")), "ord"),
      SeqFns.withDiff(part, col("p_retailprice"), Seq(col("p_partkey")), "d"),
      SeqFns.withLag(part, col("p_retailprice"), 3, Seq(col("p_partkey")), "lg"),
      SeqFns.withLead(part, col("p_retailprice"), 2, Seq(col("p_partkey")), "ld"),
      SetFns.which(part, col("p_size") > 40, Seq(col("p_partkey"))),
      part.graft.sliceMin(col("p_retailprice"), 5, withTies = true).df,
      part.graft.sliceMax(col("p_retailprice"), 5, withTies = true).df,
      part.graft.sliceMaxProp(col("p_retailprice"), 0.1, withTies = true).df,
      part.graft.arrange(col("p_partkey")).sliceHeadProp(0.2).df,
      part.graft.arrange(col("p_partkey")).sliceTailProp(0.2).df,
      part.graft.arrange(col("p_partkey")).sliceAt(Seq(1, 3, 5)).df,
      part.graft.sliceTail(5).df,
      part.graft.sliceSample(5).df,
      part.graft.sliceSample(5, 42L, col("p_partkey")).df)
    plans.foreach { q =>
      val ws = collectPlan(q.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(ws.forall(_.partitionSpec.nonEmpty),
        s"single-partition Window in:\n${q.queryExecution.executedPlan}")
    }
  }

  test("interleave and multi-query retrieval plan with partitioned windows only") {
    import graft.ops.{Sampling, Similarity}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val qs = vecs.filter(col("vec_id") < 2)
    val plans = Seq(
      Sampling.interleaveByDomain(docs, col("source"), col("doc_id"), 42L),
      Similarity.lshTopKJoin(vecs, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5, nPlanes = 8),
      Similarity.annRecallAtK(vecs, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5, nPlanes = 8))
    plans.foreach { q =>
      val ws = collectPlan(q.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(ws.forall(_.partitionSpec.nonEmpty),
        s"single-partition Window in:\n${q.queryExecution.executedPlan}")
    }
  }

  test("single-query ANN registry queries plan no unpartitioned Window") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    Seq("x_ann_lsh", "x_ann_lsh_768", "x_ann_ivf").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
      val global = plan.collect { case w: Window if w.partitionSpec.isEmpty => w }
      assert(global.isEmpty, s"$name plans an unpartitioned Window:\n$plan")
    }
  }

  test("fence-broadcast ops (winsorize/qbin/mad) never window and broadcast the fences") {
    import graft.ops.Profiling
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plans = Seq(
      Profiling.winsorize(li, col("l_extendedprice"), 0.01, 0.99, "w"),
      Profiling.quantileBin(li, col("l_extendedprice"), 4, "b"),
      Profiling.madOutliers(li, col("l_extendedprice"), 3.5))
    plans.foreach { q =>
      val nodes = collectPlan(q.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[WindowExec]),
        s"WindowExec in fence op:\n${q.queryExecution.executedPlan}")
      // the one-row fence frame must arrive via a broadcast exchange,
      // not a shuffle against the corpus
      val hasB = q.queryExecution.executedPlan.toString
        .contains("BroadcastExchange") ||
        q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin")
      assert(hasB, s"no broadcast in fence op:\n${q.queryExecution.executedPlan}")
    }
  }

  test("kmeansLloyd small-k assignment is a joinless projection (no corpus shuffle)") {
    import graft.ops.Similarity
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = Similarity.kmeansLloyd(vecs, "vec_id", "embedding",
      k = 8, dims = 64, iters = 2)
    val s = q.queryExecution.executedPlan.toString
    assert(!s.contains("Join") && !s.contains("CartesianProduct"),
      s"kmeansLloyd assignment planned a join:\n$s")
    assert(!collectPlan(q.queryExecution.executedPlan)
      .exists(_.isInstanceOf[WindowExec]))
  }

  test("ungrouped Column-form rank/diff fail loudly instead of planning a global window") {
    import graft.functions.SeqFns
    intercept[IllegalArgumentException](SeqFns.rankAvg(col("x"), Nil))
    intercept[IllegalArgumentException](SeqFns.rankMin(col("x"), Nil))
    intercept[IllegalArgumentException](SeqFns.orderOf(col("x"), Nil, Nil))
    intercept[IllegalArgumentException](SeqFns.diffOf(col("x"), Seq(col("x")), Nil))
  }

  test("ungrouped Column-form window/cum/fill fail loudly instead of planning a global window") {
    import graft.functions.{CumFns, WindowFns}
    val ord = Seq(col("x").asc)
    intercept[IllegalArgumentException](WindowFns.rowNumber(ord))
    intercept[IllegalArgumentException](WindowFns.denseRank(ord))
    intercept[IllegalArgumentException](WindowFns.lagBy(col("x"), 1, ord))
    intercept[IllegalArgumentException](WindowFns.leadBy(col("x"), 1, ord))
    intercept[IllegalArgumentException](WindowFns.rollSum(col("x"), 3, ord))
    intercept[IllegalArgumentException](WindowFns.consecutiveId(Seq(col("x")), ord))
    intercept[IllegalArgumentException](CumFns.cumsum(col("x"), ord))
    intercept[IllegalArgumentException](CumFns.cumprod(col("x"), ord))
    intercept[IllegalArgumentException](
      Tidyr.fill(sqlDf("x" -> Seq(1, 2)), TidySelect.cols("x"), Seq(col("x"))))
  }

  test("fillGlobal and matchIn plan with NO single-partition window") {
    import graft.functions.SetFns
    val part = spark.read.parquet(s"$dir/part.parquet")
      .withColumn("sparse", when(col("p_size") > 25, col("p_retailprice")))
    val lookup = spark.read.parquet(s"$dir/part.parquet").select("p_brand")
    val plans = Seq(
      Tidyr.fillGlobal(part, TidySelect.cols("sparse"), Seq(col("p_partkey"))),
      Tidyr.fillGlobal(part, TidySelect.cols("sparse"), Seq(col("p_partkey")), "downup"),
      SetFns.matchIn(part.select(col("p_brand")), "p_brand", lookup, "p_brand", "pos"))
    plans.foreach { q =>
      val ws = collectPlan(q.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(ws.forall(_.partitionSpec.nonEmpty),
        s"single-partition Window in:\n${q.queryExecution.executedPlan}")
    }
  }

  test("fillGlobal matches the single-partition window fill in every direction") {
    import org.apache.spark.sql.expressions.Window
    val df = sqlDf("k" -> (1 to 200),
      "v" -> (1 to 200).map(i => if (i % 3 == 0) java.lang.Double.valueOf(i / 3.0) else null))
      .repartition(8) // multi-partition so the carry-in offsets matter
    val wD = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    val wU = Window.orderBy("k").rowsBetween(0, Window.unboundedFollowing)
    val want = Map(
      "down"   -> df.withColumn("v", last(col("v"), ignoreNulls = true).over(wD)),
      "up"     -> df.withColumn("v", first(col("v"), ignoreNulls = true).over(wU)),
      "downup" -> df.withColumn("v", coalesce(
        last(col("v"), ignoreNulls = true).over(wD),
        first(col("v"), ignoreNulls = true).over(wU))))
    want.foreach { case (dir, exp) =>
      val got = Tidyr.fillGlobal(df, TidySelect.cols("v"), Seq(col("k")), dir)
        .orderBy("k").collect().map(r => (r.getInt(0), Option(r.get(1)))).toSeq
      val ref = exp.orderBy("k").collect().map(r => (r.getInt(0), Option(r.get(1)))).toSeq
      assert(got == ref, s"direction $dir mismatch")
    }
  }

  test("scan persist StorageLevel is a knob: DISK_ONLY results are unchanged") {
    import graft.functions.ScanFns
    import org.apache.spark.storage.StorageLevel
    val df = sqlDf("k" -> (1 to 100), "v" -> (1 to 100).map(_.toDouble))
      .repartition(5)
    def run(s: StorageLevel) =
      ScanFns.withCumsum(df, col("v"), Seq(col("k").asc), "cs", s)
        .orderBy("k").collect().map(_.getDouble(2)).toSeq
    assert(run(StorageLevel.DISK_ONLY) == run(StorageLevel.MEMORY_AND_DISK))
    def runFill(s: StorageLevel) =
      ScanFns.withFillLast(
        df.withColumn("v", when(col("k") % 7 === 0, col("v"))),
        Seq("v"), Seq(col("k").asc), s)
        .orderBy("k").collect().map(r => Option(r.get(1))).toSeq
    assert(runFill(StorageLevel.DISK_ONLY) == runFill(StorageLevel.MEMORY_AND_DISK))
    // the session-wide override repoints the library default (measured
    // at sf1: MEMORY_AND_DISK_SER is a wash for the UnsafeRow cache —
    // the knob exists for deployments that need DISK_ONLY wide frames)
    spark.conf.set("spark.graft.scanStorage", "DISK_ONLY")
    try {
      val out = ScanFns.withCumsum(df, col("v"), Seq(col("k").asc), "cs")
      assert(out.orderBy("k").collect().map(_.getDouble(2)).toSeq ==
        run(StorageLevel.MEMORY_AND_DISK))
      out.count() // keep the scan's persist alive to inspect its level
      assert(spark.sparkContext.getPersistentRDDs.values
        .exists(_.getStorageLevel == StorageLevel.DISK_ONLY))
    } finally {
      spark.conf.unset("spark.graft.scanStorage")
      ScanFns.unpersistScans()
    }
  }

  test("ungrouped tied sliceMin/Max match the rank-window semantics (incl. ties)") {
    val df = sqlDf("v" -> Seq(1L, 1L, 2L, 3L, 3L, 3L, 9L))
    val got = df.graft.sliceMin(col("v"), 2, withTies = true).df
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 1L))
    val got3 = df.graft.sliceMin(col("v"), 3, withTies = true).df
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got3 == Seq(1L, 1L, 2L))
    val gmax = df.graft.sliceMax(col("v"), 2, withTies = true).df
      .collect().map(_.getLong(0)).sorted.toSeq
    // rank()<=2 under DESC keeps 9 and all three 3s (tied at rank 2)
    assert(gmax == Seq(3L, 3L, 3L, 9L))
  }

  test("distributed prefix scan matches the single-partition window cum* exactly") {
    import graft.functions.ScanFns
    import org.apache.spark.sql.expressions.Window
    val df = sqlDf("k" -> (1 to 200), "v" -> (1 to 200).map(i => (i * 7 % 13) / 7.0))
      .repartition(8) // force multi-partition so offsets matter
    val got = ScanFns.withCummax(
        ScanFns.withCumsum(df, col("v"), Seq(col("k").asc), "cs"),
        col("v"), Seq(col("k").asc), "cm")
      .orderBy("k").collect().map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3)))
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("cs", sum(col("v").cast("decimal(28,6)")).over(w).cast("double"))
      .withColumn("cm", max(col("v")).over(w))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
    // and the scan's plan has no Window at all
    val q = ScanFns.withCumsum(df, col("v"), Seq(col("k").asc), "cs")
    assert(!collectPlan(q.queryExecution.executedPlan).exists(_.isInstanceOf[WindowExec]))
  }

  test("ungrouped cumall/cumany/cummean compose from the scan kernels") {
    import graft.functions.ScanFns
    import org.apache.spark.sql.expressions.Window
    val df = sqlDf("k" -> (1 to 100),
      "p" -> (1 to 100).map(i => i % 7 != 0),
      "v" -> (1 to 100).map(i => if (i % 5 == 0) null else java.lang.Double.valueOf(i / 4.0)))
      .repartition(6)
    val ord = Seq(col("k").asc)
    // cumall = running min of the 0/1 indicator == 1; cumany = max == 1;
    // cummean = exact running sum / running non-null count
    val got = ScanFns.withCumulatives(df, Seq(
        (when(coalesce(col("p"), lit(false)), 1.0).otherwise(0.0), ScanFns.MinOp, "ca"),
        (when(coalesce(col("p"), lit(false)), 1.0).otherwise(0.0), ScanFns.MaxOp, "cy"),
        (col("v"), ScanFns.SumOp, "cs"),
        (when(col("v").isNotNull, 1.0), ScanFns.SumOp, "cn")), ord)
      .withColumn("call", col("ca") === 1.0).withColumn("cany", col("cy") === 1.0)
      .withColumn("cmean", col("cs") / col("cn"))
      .orderBy("k").select("call", "cany", "cmean")
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1), Option(r.get(2)))).toSeq
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    val want = df
      .withColumn("call", min(when(coalesce(col("p"), lit(false)), 1).otherwise(0)).over(w) === 1)
      .withColumn("cany", max(when(coalesce(col("p"), lit(false)), 1).otherwise(0)).over(w) === 1)
      .withColumn("cmean", sum(col("v").cast("decimal(28,6)")).over(w).cast("double") /
        count(col("v")).over(w).cast("double"))
      .orderBy("k").select("call", "cany", "cmean")
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1), Option(r.get(2)))).toSeq
    assert(got == want)
  }

  test("ungrouped rolling/consecutive_id scans match the single-partition window forms") {
    import graft.functions.ScanFns
    import org.apache.spark.sql.expressions.Window
    val df = sqlDf("k" -> (1 to 200),
      "v" -> (1 to 200).map(i => if (i % 11 == 0) null else java.lang.Double.valueOf((i * 7 % 13) / 7.0)),
      "s" -> (1 to 200).map(i => if (i % 17 < 3) null else s"g${i / 8 % 3}"))
      .repartition(8) // multi-partition so the carries matter
    val ord = Seq(col("k").asc)
    // rolling: sum/mean/min/max over trailing 4 rows
    val gotR = ScanFns.withRolling(df, Seq(
        (col("v"), ScanFns.RollSum, "rs"), (col("v"), ScanFns.RollMean, "rm"),
        (col("v"), ScanFns.RollMin, "rn"), (col("v"), ScanFns.RollMax, "rx")), 4, ord)
      .orderBy("k").collect().map(r => (1 to 4).map(i => Option(r.get(r.length - 5 + i)))).toSeq
    val w = Window.orderBy("k").rowsBetween(-3, 0)
    val wantR = df
      .withColumn("rs", sum(col("v").cast("decimal(28,6)")).over(w).cast("double"))
      .withColumn("rm", sum(col("v").cast("decimal(28,6)")).over(w).cast("double") /
        count(lit(1)).over(w).cast("double"))
      .withColumn("rn", min(col("v")).over(w))
      .withColumn("rx", max(col("v")).over(w))
      .orderBy("k").collect().map(r => (1 to 4).map(i => Option(r.get(r.length - 5 + i)))).toSeq
    assert(gotR == wantR)
    // consecutive_id: null runs are one group, starts at 1
    val gotC = ScanFns.withConsecutiveId(df, Seq(col("s")), ord, "cid")
      .orderBy("k").collect().map(r => r.getLong(r.length - 1)).toSeq
    val ww = Window.orderBy("k")
    val wantC = df
      .withColumn("chg", when(row_number().over(ww) === 1 ||
        !(col("s") <=> lag(col("s"), 1).over(ww)), 1).otherwise(0))
      .withColumn("cid", sum(col("chg")).over(ww.rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("k").collect().map(r => r.getLong(r.length - 1)).toSeq
    assert(gotC == wantC)
    // and neither plan contains a Window operator at all
    Seq(
      ScanFns.withRolling(df, Seq((col("v"), ScanFns.RollSum, "rs")), 4, ord),
      ScanFns.withConsecutiveId(df, Seq(col("s")), ord, "cid")).foreach { q =>
      assert(!collectPlan(q.queryExecution.executedPlan).exists(_.isInstanceOf[WindowExec]))
    }
  }

  test("fused multi-aggregate scan equals the chained single scans") {
    import graft.functions.ScanFns
    val df = sqlDf("k" -> (1 to 300), "v" -> (1 to 300).map(i => (i * 11 % 17) / 3.0),
      "w" -> (1 to 300).map(i => (i * 5 % 23) * 1.5))
      .repartition(7)
    val ord = Seq(col("k").asc)
    val fused = ScanFns.withCumulatives(df, Seq(
        (col("v"), ScanFns.SumOp, "cs"), (col("w"), ScanFns.MaxOp, "cm"),
        (col("w"), ScanFns.MinOp, "cn")), ord)
      .orderBy("k").collect().map(_.toSeq).toSeq
    val chained = ScanFns.withCummin(
        ScanFns.withCummax(
          ScanFns.withCumsum(df, col("v"), ord, "cs"), col("w"), ord, "cm"),
        col("w"), ord, "cn")
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(fused == chained)
    // ProdOp on ulp-benign factors (powers of two): every association
    // is exact, so the two-phase merge equals the sequential window
    val pdf = sqlDf("k" -> (1 to 64),
      "p" -> (1 to 64).map(i => math.pow(2.0, (i % 7) - 3)))
      .repartition(5)
    val gotP = ScanFns.withCumulatives(pdf, Seq((col("p"), ScanFns.ProdOp, "cp")), ord)
      .orderBy("k").collect().map(_.getDouble(2)).toSeq
    // colliding / duplicate output names fail loudly, not as dup columns
    intercept[IllegalArgumentException](
      ScanFns.withCumulatives(pdf, Seq((col("p"), ScanFns.SumOp, "p")), ord))
    intercept[IllegalArgumentException](ScanFns.withCumulatives(pdf,
      Seq((col("p"), ScanFns.SumOp, "a"), (col("p"), ScanFns.MaxOp, "a")), ord))
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wantP = pdf.withColumn("cp", product(col("p")).over(w))
      .orderBy("k").collect().map(_.getDouble(2)).toSeq
    assert(gotP == wantP)
  }

  test("scan temp names dodge user columns; cleanup is scan-scoped") {
    import graft.functions.ScanFns
    // an input column literally named __sx0 must not collide with the
    // scan's internal cast column (fieldIndex would silently resolve to
    // the first occurrence and corrupt both the scan and the payload)
    val df = sqlDf("k" -> (1 to 100), "v" -> (1 to 100).map(_.toDouble),
      "__sx0" -> (1 to 100).map(i => i * 1000.0))
      .repartition(5)
    // track THIS test's persists by diffing the global set — suites
    // share the session and run in parallel, so asserting global
    // emptiness races against another suite's in-flight scan
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = ScanFns.withCumsum(df, col("v"), Seq(col("k").asc), "cs")
      .orderBy("k").collect()
    assert(got.map(_.getDouble(3)).toSeq == (1 to 100).map(i => i * (i + 1) / 2.0))
    // the user column came through untouched
    assert(got.map(_.getDouble(2)).toSeq == (1 to 100).map(_ * 1000.0))
    val scanIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(scanIds.nonEmpty, "the scan should have left a registered persist")
    // unpersistScans drops the scan persist but NOT a user cache
    val userCached = df.rdd.persist()
    userCached.count()
    ScanFns.unpersistScans()
    assert(userCached.getStorageLevel.useMemory, "user cache was clobbered")
    val still = spark.sparkContext.getPersistentRDDs.keySet
    assert(scanIds.forall(id => !still.contains(id)),
      s"scan persists survived the scoped cleanup: ${scanIds.intersect(still)}")
    userCached.unpersist(blocking = false)
  }

  test("ungrouped mutate/filter with whole-frame aggregates broadcast one agg row") {
    val gf = li.graft
    val q = gf.mutate(
        "share" -> (col("l_quantity") / dsum(col("l_quantity"))),
        "dev" -> (col("l_quantity") - davg(col("l_quantity")))).df
    val plan = q.queryExecution.executedPlan
    val planStr = plan.toString
    // the grand aggregate arrives via a broadcast join of a 1-row agg,
    // not a Window (a bare agg would not even analyze)
    assert(planStr.contains("BroadcastNestedLoopJoin"), s"no broadcast join:\n$planStr")
    assert(!collectPlan(plan).exists(_.isInstanceOf[WindowExec]), s"Window in:\n$planStr")
    // the same sum referenced twice is computed once
    assert("sum\\(".r.findAllIn(planStr.replace("partial_sum", "sum")).length <= 4,
      s"duplicate grand aggregates:\n$planStr")
    // semantics: share sums to 1, dev is value minus the global mean
    val tot = q.agg(sum("share")).head().getDouble(0)
    assert(math.abs(tot - 1.0) < 1e-9)
    // ungrouped filter against the whole-frame mean
    val kept = gf.filterRows(col("l_quantity") > davg(col("l_quantity"))).df
    val mean = li.agg(avg("l_quantity")).head().getDouble(0)
    assert(kept.agg(min("l_quantity")).head().getDouble(0) > mean - 1e-6)
    assert(!collectPlan(kept.queryExecution.executedPlan).exists(_.isInstanceOf[WindowExec]))
    // sequential reference: 'tot' (an agg) substituted into 'share2'
    // still dedups to ONE broadcast grand aggregate and sums to 1
    val seqq = gf.mutate(
      "tot" -> dsum(col("l_quantity")),
      "share2" -> (col("l_quantity") / col("tot"))).df
    assert(seqq.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(math.abs(seqq.agg(sum("share2")).head().getDouble(0) - 1.0) < 1e-9)
  }

  test("cur_data/cur_group accessors share ONE shuffle and ONE partitioned Window") {
    val g = li.graft.groupBy("l_returnflag")
    val q = g.mutate(
        "grp" -> g.curGroup.getField("l_returnflag"),
        "n" -> size(g.curDataAll),
        "mx" -> array_max(transform(
          g.curData(TidySelect.cols("l_quantity")), r => r.getField("l_quantity"))))
      .df
    val nodes = collectPlan(q.queryExecution.executedPlan)
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      s"accessors did not share one shuffle:\n${q.queryExecution.executedPlan}")
    val ws = nodes.collect { case w: WindowExec => w }
    assert(ws.length == 1 && ws.forall(_.partitionSpec.nonEmpty),
      s"expected one partitioned Window:\n${q.queryExecution.executedPlan}")
  }

  test("cur_data/cur_group semantics; ungrouped access fails loudly") {
    val df = sqlDf("g" -> Seq("a", "a", "b"), "x" -> Seq(1.0, 3.0, 5.0))
    val gf = df.graft.groupBy("g")
    val out = gf.mutate(
        "n" -> size(gf.curDataAll),
        "tot" -> aggregate(
          transform(gf.curData(TidySelect.cols("x")),
            r => r.getField("x").cast("decimal(28,6)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)"),
          (a, b) => a + b).cast("double"),
        "k" -> gf.curGroup.getField("g"))
      .ungroup.df.orderBy("x").select("g", "x", "n", "tot", "k")
    assertRows(out, Seq(
      Seq("a", 1.0, 2, 4.0, "a"), Seq("a", 3.0, 2, 4.0, "a"),
      Seq("b", 5.0, 1, 5.0, "b")))
    intercept[IllegalArgumentException](df.graft.curDataAll)
    intercept[IllegalArgumentException](df.graft.curGroup)
  }

  test("scan family survives partition-boundary stress (seeded random, 1/3/17 partitions)") {
    import graft.functions.ScanFns
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260813L)
    val n = 120
    val vs = (1 to n).map(_ => if (rnd.nextInt(7) == 0) null
      else java.lang.Double.valueOf((rnd.nextInt(2000) - 1000) / 8.0)) // exact halves/quarters
    val ks = (1 to n).map(_ => if (rnd.nextInt(9) == 0) null else s"g${rnd.nextInt(4)}")
    val base = sqlDf("k" -> (1 to n), "v" -> vs, "s" -> ks)
    val w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    val wr = Window.orderBy("k").rowsBetween(-8, 0) // k=9: spans >2 tiny partitions
    val ww = Window.orderBy("k")
    val want = base
      .withColumn("cs", sum(col("v").cast("decimal(28,6)")).over(w).cast("double"))
      .withColumn("rs", sum(col("v").cast("decimal(28,6)")).over(wr).cast("double"))
      .withColumn("fill", last(col("v"), ignoreNulls = true).over(w))
      .withColumn("cid", sum(when(row_number().over(ww) === 1 ||
        !(col("s") <=> lag(col("s"), 1).over(ww)), 1).otherwise(0)).over(w))
      .orderBy("k").collect().map(r => (3 to 6).map(i => Option(r.get(i)))).toSeq
    for (parts <- Seq(1, 3, 17)) {
      val df = base.repartition(parts)
      val got = {
        val a = ScanFns.withCumsum(df, col("v"), Seq(col("k").asc), "cs")
        val b = ScanFns.withRolling(a, Seq((col("v"), ScanFns.RollSum, "rs")), 9,
          Seq(col("k").asc))
        val c = ScanFns.withFillLast(b, Seq("v"), Seq(col("k").asc))
          .withColumnRenamed("v", "fill")
        ScanFns.withConsecutiveId(c, Seq(col("s")), Seq(col("k").asc), "cid")
      }.orderBy("k").collect().map { r =>
        // fill overwrote v in place; map back to the oracle's column order
        Seq(Option(r.get(3)), Option(r.get(4)), Option(r.get(1)), Option(r.get(5)))
      }.toSeq
      assert(got == want, s"scan stress mismatch at $parts partitions")
      // shift carries across the same boundaries: lag/lead at a depth
      // (11) exceeding the 17-partition slice size, on a STRING column
      // (catalyst UTF8String values through carry + broadcast)
      for (sh <- Seq(1, 11)) {
        val wantLag = base.withColumn("sh", lag(col("s"), sh).over(ww))
          .orderBy("k").collect().map(r => Option(r.get(3))).toSeq
        val gotLag = ScanFns.withShift(df, col("s"), sh, Seq(col("k").asc), "sh")
          .orderBy("k").collect().map(r => Option(r.get(3))).toSeq
        assert(gotLag == wantLag, s"lag($sh) mismatch at $parts partitions")
        val wantLead = base.withColumn("sh", lead(col("v"), sh).over(ww))
          .orderBy("k").collect().map(r => Option(r.get(3))).toSeq
        val gotLead = ScanFns.withShift(df, col("v"), -sh, Seq(col("k").asc), "sh")
          .orderBy("k").collect().map(r => Option(r.get(3))).toSeq
        assert(gotLead == wantLead, s"lead($sh) mismatch at $parts partitions")
      }
      // fused mixed shifts: lag 2 + lead 1 + lead 11 share ONE scan and
      // must equal the window forms row for row
      val wantMix = base
        .withColumn("a", lag(col("v"), 2).over(ww))
        .withColumn("b", lead(col("s"), 1).over(ww))
        .withColumn("c", lead(col("v"), 11).over(ww))
        .orderBy("k").collect().map(r => (3 to 5).map(i => Option(r.get(i)))).toSeq
      val gotMix = ScanFns.withShifts(df, Seq(
          (col("v"), 2, "a"), (col("s"), -1, "b"), (col("v"), -11, "c")),
          Seq(col("k").asc))
        .orderBy("k").collect().map(r => (3 to 5).map(i => Option(r.get(i)))).toSeq
      assert(gotMix == wantMix, s"fused shifts mismatch at $parts partitions")
    }
  }

  test("whole-frame shift plans ONE sort, no join, no window") {
    import graft.functions.ScanFns
    val part = spark.read.parquet(s"$dir/part.parquet")
    val q = ScanFns.withShift(part, col("p_retailprice"), 3,
      Seq(col("p_partkey").asc), "prev3")
    q.count() // scans execute eagerly for the summaries; settle the plan
    val nodes = collectPlan(q.queryExecution.executedPlan).map(_.nodeName)
    assert(!nodes.exists(n => n.contains("Join") || n.contains("Window")),
      s"shift should be a pure scan topology, got: ${nodes.mkString(", ")}")
  }

  test("exact dedup aggregates with partial (map-side) aggregation") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.ops.Dedup.exact(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n$plan")
    // partial-then-final pattern: two HashAggregate levels around the exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, s"no partial agg:\n$plan")
  }

  test("REGISTRY SWEEP: no query plans an unpartitioned Window outside documented tiny-frame exceptions") {
    // The strongest form of the no-global-window contract: EVERY
    // registry query's physical plan is checked. A Window with an
    // empty partitionSpec funnels the whole frame through one task —
    // the classic silent scale killer this repo has been purging
    // since r2. Exceptions below are windows over frames that are
    // TINY by construction (distinct level tables, centroid tables,
    // golden fixtures) — each carries its justification.
    val allowed: Map[String, String] = Map(
      // forcats: windows rank the DISTINCT LEVEL table (factor
      // contract: levels ≪ rows; documented in Forcats scaladoc)
      "f_fct_count" -> "level table", "f_fct_infreq" -> "level table",
      "f_fct_lump" -> "level table", "f_fct_lump_w" -> "level table",
      "f_fct_lowfreq" -> "level table",
      "f_fct_reorder" -> "level table", "f_fct_reorder2" -> "level table",
      "f_fct_shift" -> "level table", "f_fct_shuffle" -> "level table",
      "f_fct_cross" -> "level table", "f_fct_expand" -> "level table",
      "f_fct_relevel" -> "level table", "f_fct_other" -> "level table",
      "f_fct_na" -> "level table", "f_fct_recode" -> "level table",
      "f_fct_relabel" -> "level table", "f_fct_anon" -> "level table",
      "f_fct_asfactor" -> "level table", "f_fct_inseq" -> "level table",
      // deterministic IVF: row_number ranks the nLists-row CENTROID
      // table (broadcast-sized by the nLists<=65536 guard)
      "x_ann_recall_ivf" -> "centroid table",
      "x_assign" -> "centroid table", "x_semdedup" -> "centroid table",
      // multi-query IVFADC: row_number ranks the nLists-row centroid
      // table (the md5 coarse-centroid pick); the probe and top-k
      // windows are query_id-partitioned
      "x_ann_ivfpq_multi" -> "centroid table",
      "x_ivfpq_recall_multi" -> "centroid table",
      // golden fixtures / driver-tiny frames by construction
      "b_bessel" -> "50-row golden table", "b_bessel_port" -> "VALUES probe",
      "t_tibble" -> "literal tibble", "t_add_row" -> "literal tibble",
      "t_enframe" -> "literal frame", "t_diag" -> "literal frame",
      "b_outer" -> "5x5 literal outer", "b_seq" -> "literal seq",
      "t_full_seq" -> "tiny seq domain", "t_expand" -> "distinct-level expand",
      "x_langid" -> "langid profile table",
      // keyless as-of: the boundary-carry window runs over the BIN
      // table (one row per time bin — AsofJoin.asofGlobal scaladoc
      // "carries per bin over the tiny bin table"); the row-grain fill
      // is partitioned on the bin id
      "x_asof_global" -> "bin-grain carry table",
      "x_asof_global_nearest" -> "bin-grain carry table",
      // batch offsets accumulate over the bucket-COUNT table
      // (<= |edges|+1 rows — Packing.lengthGroupedBatches scaladoc);
      // the row-grain rank is the rowid sort, not a window
      "x_lgbatch" -> "bucket-count offset table",
      // cumulative capture over the k-row BIN table (k=10 by
      // construction — Classifier.gainsTable scaladoc); the row-grain
      // rank is the rowid sort
      "x_gains" -> "k-row gains-bin table",
      // cumulative rating mass over the CATEGORY-marginal table
      // (grades <= ~1000 by the ordinal contract —
      // Profiling.krippendorffAlphaOrdinal scaladoc)
      "x_kripp_ord" -> "category-marginal table",
      // same shared cutBatchesByBucket tail: |ratio edges|+1 rows
      "x_ar_batch" -> "bucket-count offset table",
      // global cum distribution over the m-row ordered value DOMAIN
      // (bands ≪ rows — Profiling.tCloseness scaladoc); the per-class
      // cum windows are quasi-id-partitioned
      "x_tclose" -> "m-row value-domain table",
      // water level from window algebra over the stratum-grain totals
      // (K rows — the forcats level-table argument)
      "x_waterfill" -> "stratum-grain totals table",
      // cumulative counts over the <= bins+2 histogram rows
      // (Profiling.histQuantiles scaladoc: bounded by contract)
      "x_hist_q" -> "bins-bounded histogram table",
      // embeds the waterfill quota subplan; the selection window
      // itself is stratum-partitioned
      "x_quota_select" -> "stratum-grain totals table",
      // prefix sums over the <=k-row calibration LEVEL table
      // (Classifier.isotonicCalibration scaladoc: bounded by contract)
      "x_isotonic" -> "k-row calibration level table",
      // BH rank window over the per-STRATUM p-value table (one row
      // per stratum — Profiling.benjaminiHochberg scaladoc)
      "x_bh_fdr" -> "stratum-grain p-value table",
      // KM at-risk/survival cumulatives over the distinct-LIFETIME
      // table (EventAnalytics.kaplanMeier scaladoc: level-table grain)
      "x_km" -> "distinct-lifetime grain table",
      // the survival family shares KM's bounded lifetime grain: the
      // log-rank cohort at-risk windows, the Nelson-Aalen hazard
      // cumulative, and RMST's lead-segment window all run over the
      // same distinct-lifetime table (scaladocs: level-table grain)
      "x_logrank" -> "distinct-lifetime grain table",
      "x_nelson" -> "distinct-lifetime grain table",
      "x_rmst" -> "distinct-lifetime grain table",
      // embeds the isotonic fit subplan (same k-row level table)
      "x_isotonic_fit" -> "k-row calibration level table")
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    val offenders = qs.flatMap { case (name, fn) =>
      try {
        val ws = collectPlan(fn(spark, dir).queryExecution.executedPlan)
          .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        if (ws.nonEmpty && !allowed.contains(name)) Some(name) else None
      } catch {
        case e: Throwable =>
          Some(s"$name(PLAN FAILED: ${Option(e.getMessage).getOrElse(e.toString).take(100)})")
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window (or plan failure) in: ${offenders.mkString(", ")}")
  }

  test("REGISTRY SWEEP: every unpartitioned Window sits on a bounded (aggregated/limited/literal) frame") {
    // The structural half of the allowlist above (r17 verdict item 7):
    // an allowlist entry documents WHY a global window is safe, but
    // nothing stopped a refactor from quietly moving a fact-sized
    // frame under an allowlisted query's global window. This sweep
    // PROVES the boundedness claim plan-structurally: below every
    // unpartitioned WindowExec, every path to a parquet scan must
    // cross a cardinality-bounding operator — an aggregation (level/
    // bin/lifetime tables are all aggs or distincts of the fact), a
    // limit/TakeOrdered (centroid tables), or bottom out in a literal
    // (LocalTableScan/RDD-backed frame). A global window sitting on a
    // raw scan fails here no matter what the allowlist says.
    import org.apache.spark.sql.execution.{FileSourceScanExec,
      TakeOrderedAndProjectExec, GlobalLimitExec, LocalLimitExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def boundedBelow(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: GlobalLimitExec => true
      case _: LocalLimitExec => true
      case _: FileSourceScanExec => false
      case other => other.children.forall(boundedBelow) // leaves: true
    }
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    val offenders = qs.flatMap { case (name, fn) =>
      try {
        val bad = collectPlan(fn(spark, dir).queryExecution.executedPlan)
          .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
          .filterNot(w => boundedBelow(w.child))
        if (bad.nonEmpty) Some(name) else None
      } catch {
        case e: Throwable =>
          Some(s"$name(PLAN FAILED: ${Option(e.getMessage).getOrElse(e.toString).take(100)})")
      }
    }
    assert(offenders.isEmpty,
      s"global window over an unbounded frame in: ${offenders.mkString(", ")}")
  }

  test("REGISTRY SWEEP: no query plans a CartesianProduct outside cross-by-semantics exceptions") {
    // CartesianProductExec means BOTH sides were too big to broadcast
    // — at 100 TB that is |A|·|B| work with no pruning, the other
    // classic silent scale killer. Broadcast nested-loop joins are
    // fine (one side is dimension-sized by construction); a true
    // cartesian is only acceptable where the cross product IS the
    // requested semantics over frames tiny by construction.
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val allowed: Map[String, String] = Map(
      "d_join_cross" -> "cross join IS the verb",
      "t_expand" -> "crossing() semantics over distinct level tables",
      "f_fct_cross" -> "factor cross product over level tables",
      "b_outer" -> "outer() product over literal vectors")
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    val offenders = qs.flatMap { case (name, fn) =>
      try {
        val cp = collectPlan(fn(spark, dir).queryExecution.executedPlan)
          .collect { case c: CartesianProductExec => c }
        if (cp.nonEmpty && !allowed.contains(name)) Some(name) else None
      } catch {
        case e: Throwable =>
          Some(s"$name(PLAN FAILED: ${Option(e.getMessage).getOrElse(e.toString).take(100)})")
      }
    }
    assert(offenders.isEmpty,
      s"CartesianProduct (or plan failure) in: ${offenders.mkString(", ")}")
  }
}
