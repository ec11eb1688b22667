package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local[4] session for all specs (one JVM, one context). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  def sqlDf(pairs: (String, Seq[Any])*): DataFrame =
    graft.core.Tibble.of(spark, pairs: _*)

  /** Collected rows as Seq[Seq[Any]] for golden-value compares. */
  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  def assertRows(df: DataFrame, expected: Seq[Seq[Any]]): Unit =
    assert(rowsOf(df) == expected)

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously, so the bus is drained before the listener is
    * added (earlier jobs are not counted) and before it is read. */
  def jobsDuring(body: => Any): Int = {
    import org.apache.spark.ListenerBusDrain.drain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try body
    finally { drain(sc); sc.removeSparkListener(listener) }
    jobs.get()
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // deterministic physical plans for the plan-shape asserts
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
