package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("listener counters sum to a known query's jobs, stages, tasks and shuffle") {
    val tracer = new Tracer(spark)
    tracer.attach()
    // 4 map tasks, each holding all 10 keys after partial aggregation,
    // then 3 reduce tasks: 2 stages, 7 tasks, 40 shuffle records
    val df = spark.range(0, 1000, 1, 4).select((col("id") % 10).as("k")).groupBy("k").count()
    tracer.begin("q")
    val rows = df.collect()
    tracer.end()
    tracer.drain()
    tracer.detach()
    val c = tracer.counters("q")
    assert(rows.length == 10)
    assert(c.jobs == spark.sparkContext.statusTracker.getJobIdsForGroup("q").length)
    assert(c.jobs == 1)
    assert(c.stages == 2)
    assert(c.tasks == 7)
    assert(c.failedTasks == 0)
    assert(c.shuffleRecords == 40)
    assert(c.shuffleBytes > 0)
    assert(c.exchanges == 1)
    assert(c.analysisMs >= 0 && c.stageSpans.size == 2)
  }

  test("no-stage time is the part of the operation no stage covers") {
    val c = new OpCounters
    c.stageSpans ++= Seq((10L, 20L), (15L, 30L), (40L, 50L), (90L, 120L))
    assert(c.noStageMs(0, 100) == 100 - 20 - 10 - 10)
  }

  test("digests ignore row order and integer width, and see one-ulp changes") {
    val s = StructType(Seq(StructField("b", LongType), StructField("a", LongType)))
    val d1 = Digest.of(s, Seq(Row(1L, 2L), Row(3L, 4L)))
    assert(d1 == Digest.of(s, Seq(Row(3L, 4L), Row(1L, 2L))))
    assert(Digest.value(7) == Digest.value(7L) && Digest.value(7.0) == Digest.value(7L))
    assert(Digest.value(0.1) != Digest.value(Math.nextUp(0.1)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(1L, 2L), Row(3L, 4L)), s)
    assert(Digest.ofFrame(df.repartition(2)) == d1)
  }
}
