package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did for one operation, summed over its jobs, stages,
  * tasks and query executions. */
final class OpCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleBytes, shuffleRecords, fetchWaitMs, spillBytes = 0L
  var analysisMs, optimizerMs, physicalMs = 0L
  var exchanges, singlePartitionOps, kernelNodes = 0L
  var scanFiles, scanBytes, scanRows = 0L
  var cachePeakBytes = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [start, end] during which none of this
    * operation's stages ran: driver-side work such as planning, job
    * scheduling, file listing and result collection. */
  def noStageMs(start: Long, end: Long): Long = {
    val spans = stageSpans.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = start
    spans.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (end - start) - covered
  }
}

/** The traced run's view of Spark, measured from outside graft.
  *
  * Each operation runs under its own job group, so every job Spark
  * starts for it, including jobs graft starts eagerly while the
  * DataFrame is built, carries the operation's id; stages and tasks
  * are attributed through their job. Query executions are matched to
  * the operation through the SQL execution id their jobs carry; the
  * planning-phase times come from the execution's tracker and the plan
  * counts from its final executed plan (after adaptive re-planning).
  * Persisted-RDD bytes are tracked from block updates. Listener events
  * arrive asynchronously, so read counters only after [[drain]]. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val ops = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val execOp = new ConcurrentHashMap[Long, String]()
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  @volatile private var current: String = _
  @volatile private var lastEventNs = System.nanoTime()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def begin(op: String): Unit = {
    ops.put(op, new OpCounters)
    current = op
    spark.sparkContext.setJobGroup(op, op)
  }

  def end(): Unit = spark.sparkContext.clearJobGroup()

  def counters(op: String): OpCounters = ops.get(op)

  /** Wait until the listener bus has been quiet for half a second. */
  def drain(maxMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < 500000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  private def touch(): Unit = lastEventNs = System.nanoTime()

  private def of(op: String): Option[OpCounters] = Option(op).flatMap(o => Option(ops.get(o)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { op =>
      of(op).foreach { c =>
        c.synchronized(c.jobs += 1)
        e.stageIds.foreach(stageOp.put(_, op))
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execOp.put(id.toLong, op))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val info = e.stageInfo
    of(stageOp.get(info.stageId)).foreach { c =>
      c.synchronized {
        c.stages += 1
        for (a <- info.submissionTime; b <- info.completionTime) c.stageSpans += ((a, b))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    of(stageOp.get(e.stageId)).foreach { c =>
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success || e.taskInfo.attemptNumber > 0) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    touch()
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      cachedBytes -= rddBlocks.getOrElse(id, 0L)
      if (b.storageLevel.isValid) {
        rddBlocks(id) = b.memSize + b.diskSize
        cachedBytes += b.memSize + b.diskSize
      } else rddBlocks.remove(id)
      of(current).foreach(c => c.synchronized(c.cachePeakBytes = math.max(c.cachePeakBytes, cachedBytes)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = touch()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    touch()
    of(Option(execOp.get(qe.id)).getOrElse(current)).foreach(c => inspect(c, qe))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  private def inspect(c: OpCounters, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = Tracer.nodes(qe.executedPlan)
    c.synchronized {
      c.analysisMs += ms("analysis")
      c.optimizerMs += ms("optimization")
      c.physicalMs += ms("planning")
      plan.foreach {
        case x: Exchange =>
          c.exchanges += 1
          x match {
            case s: ShuffleExchangeLike if s.outputPartitioning == SinglePartition =>
              c.singlePartitionOps += 1
            case _ =>
          }
        case w: WindowExec if w.partitionSpec.isEmpty => c.singlePartitionOps += 1
        case s: FileSourceScanExec =>
          def metric(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
          c.scanFiles += metric("numFiles")
          c.scanBytes += metric("filesSize")
          c.scanRows += metric("numOutputRows")
        case _ =>
      }
      c.kernelNodes += plan.map(Tracer.kernelCount).sum
    }
  }
}

object Tracer {
  /** Every node of an executed plan, looking through adaptive wrappers
    * and query stages into subqueries; a reused exchange is counted
    * where it was first planned. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def isGraft(o: AnyRef): Boolean = o.getClass.getName.startsWith("graft.")

  /** graft's own physical node, plus graft expressions inside any node */
  def kernelCount(p: SparkPlan): Int =
    (if (isGraft(p)) 1 else 0) + p.expressions.map(_.collect { case e if isGraft(e) => e }.size).sum
}
