package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, Cost, CostEvaluator, QueryStageExec, SimpleCost}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.core.GraftFrame.DataFrameOps
import graft.plans.{GatherSmallSortStrategy, GraftExtensions}

/** GatherSmallSortStrategy: a small global sort over a finished stage
  * is gathered into one partition (no range-sampling job); large
  * inputs, generators, AQE off, single-partition children and
  * sort+limit keep Spark's own plans. The shared session runs with
  * AQE off, so each test turns it on and restores it. */
class SortGatherSpec extends SparkTestBase {

  /** A 6000-row lineitem-shaped parquet table, 4 files. */
  private lazy val liPath: String = {
    val path = java.nio.file.Files.createTempDirectory("graft_sort_gather").resolve("li").toString
    spark.range(0, 6000, 1, 4).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        (col("id") % 50 + 1).cast("double").as("l_quantity"),
        element_at(array(lit("A"), lit("N"), lit("R")), (col("id") % 3 + 1).cast("int"))
          .as("l_returnflag"))
      .write.parquet(path)
    path
  }
  // Sources.readParquet installs graft's strategies in the session
  private def li = graft.sources.Sources.readParquet(spark, liPath)

  /** The small grouped mutate + arrange of d_mutate_grouped. */
  private def groupedArrange: DataFrame =
    li.graft.groupBy("l_returnflag")
      .mutate("grp_n" -> count(lit(1)), "qty_max" -> max(col("l_quantity")))
      .ungroup
      .select("l_orderkey", "l_linenumber", "l_returnflag", "grp_n", "qty_max")
      .arrange(col("l_orderkey"), col("l_linenumber")).df

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def withAqe[T](body: => T): T =
    withConfs("spark.sql.adaptive.enabled" -> "true")(body)

  private def withoutGather[T](body: => T): T = {
    val exp = spark.experimental
    val saved = exp.extraStrategies
    exp.extraStrategies = saved.filterNot(_ == GatherSmallSortStrategy)
    try body finally exp.extraStrategies = saved
  }

  /** Every node of the executed plan, through adaptive wrappers and
    * finished query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** Collects `df`, then the exchanges of its final plan. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    nodes(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }
  }

  private def gathers(es: Seq[ShuffleExchangeExec]) =
    es.count(_.outputPartitioning == SinglePartition)
  private def ranges(es: Seq[ShuffleExchangeExec]) =
    es.count(_.outputPartitioning.isInstanceOf[RangePartitioning])

  test("a small grouped mutate + arrange gathers into one partition: one job fewer, same rows") {
    withAqe {
      val es = exchanges(groupedArrange)
      assert(gathers(es) == 1 && ranges(es) == 0,
        s"want one SinglePartition exchange and no range exchange, got:\n${es.mkString("\n")}")
      // frames are built outside withoutGather: building one reads
      // parquet through Sources.readParquet, which installs the strategy
      val (g1, g2, r1, r2) = (groupedArrange, groupedArrange, groupedArrange, groupedArrange)
      val jobs = jobsDuring(g1.collect())
      val jobsRanged = withoutGather(jobsDuring(r1.collect()))
      assert(jobs == jobsRanged - 1, s"gathered $jobs jobs, ranged $jobsRanged")
      val gathered = g2.collect().toSeq
      assert(gathered.nonEmpty && gathered == withoutGather(r2.collect().toSeq))
    }
  }

  test("an input above the advisory partition size keeps the range exchange") {
    withAqe {
      withConfs("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
        val es = exchanges(groupedArrange)
        assert(gathers(es) == 0 && ranges(es) == 1, es.mkString("\n"))
      }
    }
  }

  test("with AQE off the plan is unchanged") {
    val (a, b) = (groupedArrange, groupedArrange)
    val installed = a.queryExecution.executedPlan
    val removed = withoutGather(b.queryExecution.executedPlan)
    assert(installed.canonicalized == removed.canonicalized, s"$installed\n$removed")
    assert(installed.toString.contains("rangepartitioning"), installed)
  }

  test("a sort over a row-multiplying Generate is not gathered") {
    withAqe {
      // 3 group rows after the aggregate stage, 3 x 2000 after the
      // explode; Spark's estimate still counts 3 rows
      val exploded = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .withColumn("i", explode(sequence(lit(1), lit(2000))))
        .orderBy(col("i"), col("l_returnflag"))
      val es = exchanges(exploded)
      assert(gathers(es) == 0 && ranges(es) == 1, es.mkString("\n"))
    }
  }

  test("a sort over a child already in one partition or in range order adds no exchange") {
    // AQE adopts a re-planned plan only if it is no dearer than the
    // current one; with every plan costing the same it adopts whatever
    // the strategy proposes, so the plan shows the strategy's choice
    withAqe {
      withConfs("spark.sql.adaptive.customCostEvaluatorClass" -> classOf[TieCostEvaluator].getName) {
        def single = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
          .repartition(1).orderBy(col("l_returnflag"))
        val (a, b) = (single, single)
        val es = exchanges(a)
        val esRanged = withoutGather(exchanges(b))
        assert(es.size == esRanged.size && gathers(es) == 1 && ranges(es) == 0,
          s"with the strategy:\n${es.mkString("\n")}\nwithout:\n${esRanged.mkString("\n")}")
        assert(a.collect().toSeq == b.collect().toSeq)
        // a sort over a scan: its range exchange is the finished stage
        val scanSort = li.select("l_orderkey", "l_linenumber").orderBy(col("l_orderkey"), col("l_linenumber"))
        val ss = exchanges(scanSort)
        assert(ss.size == 1 && ranges(ss) == 1, ss.mkString("\n"))
      }
    }
  }

  test("orderBy + limit still plans TakeOrderedAndProject") {
    withAqe {
      val top = li.groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
        .orderBy(col("q").desc, col("l_orderkey")).limit(5)
      top.collect()
      val ns = nodes(top.queryExecution.executedPlan)
      assert(ns.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        top.queryExecution.executedPlan.toString)
      assert(gathers(ns.collect { case e: ShuffleExchangeExec => e }) == 0)
    }
  }

  test("install is idempotent and registers both strategies once") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    val s = spark.experimental.extraStrategies
    assert(s.count(_ == GatherSmallSortStrategy) == 1)
    assert(s.count(_ == graft.plans.GroupedTopKStrategy) == 1)
  }
}

/** Every plan costs the same (see the single-partition test above). */
class TieCostEvaluator extends CostEvaluator {
  override def evaluateCost(plan: SparkPlan): Cost = SimpleCost(0)
}
