package graft
import org.apache.spark.sql.SparkSession

/** Dev-loop probe: time queries from the registry against any parquet
  * dir (the bench cache, the sf1 synth, a raw sf dir) and optionally
  * dump the formatted plan — the .explain-and-iterate feedback loop
  * without running the whole Bench headline set.
  *
  * usage: runMain graft.Probe <dir> <query>[,<query>...] [--explain] [--runs N]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val explain = args.contains("--explain")
    val runs = args.sliding(2).collectFirst {
      case Array("--runs", n) => n.toInt }.getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // --conf k=v pairs land as session confs (e.g.
    // --conf spark.graft.scanStorage=MEMORY_AND_DISK_SER)
    args.sliding(2).collect { case Array("--conf", kv) => kv }
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      }
    spark.range(1000).selectExpr("sum(id)").collect() // codegen warmup
    // --anchor: the bench's host-speed yardstick (fixed shuffle+agg),
    // min-of-2 before and after the probed queries — standalone pins
    // are only comparable across days against a quiet anchor
    // (BASELINE.md band 0.33-0.45s; >0.60s = contended)
    val withAnchor = args.contains("--anchor")
    def anchor(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("id % 1000 AS k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("id")).count()
      (System.nanoTime() - t0) / 1e9
    }
    if (withAnchor)
      println(f"[anchor] start=${math.min(anchor(), anchor())}%.3f")
    // --stages: per-query executed-stage listing (stage id, task count,
    // name) — the ground truth for AQE stage-reuse questions the static
    // formatted plan cannot answer (a reused shuffle stage simply never
    // runs; the plan tree still prints both subtrees)
    val showStages = args.contains("--stages")
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, String)]
    if (showStages)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            val dur = (for (s <- sc.stageInfo.submissionTime;
                            c <- sc.stageInfo.completionTime) yield c - s)
              .getOrElse(-1L)
            stageLog.add((sc.stageInfo.stageId, sc.stageInfo.numTasks,
              m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
              f"${dur / 1000.0}%.2fs " +
                sc.stageInfo.name.takeWhile(_ != '(').trim))
          }
        })
    names.foreach { n =>
      if (explain) {
        val q = SparkEntry.queries(n)(spark, dir)
        q.count() // run once so AQE settles into the final plan
        println(s"== $n ==")
        println(q.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        val t = (System.nanoTime() - t0) / 1e9
        graft.functions.ScanFns.unpersistScans()
        // cached parquet schemas and IVF-PQ and FileBloom sidecars would
        // make every run after the first skip work the first one paid for
        graft.sources.FileSets.clearCaches()
        // same per-run hygiene as Bench.time1: operators that persist
        // within-query frames (e.g. dedupClusters' partitioned edge
        // cache) must not leak a warm cache into the next timed run
        spark.catalog.clearCache()
        t
      }
      println(f"[probe] $n min=${times.min}%.3f runs=${times.map(t => f"$t%.3f").mkString(",")}")
      if (showStages) {
        stageLog.clear()
        SparkEntry.queries(n)(spark, dir).count()
        Thread.sleep(500) // listener events are async
        import scala.jdk.CollectionConverters._
        val st = stageLog.asScala.toSeq.sortBy(_._1)
        println(s"[stages] $n ran ${st.size} stages, " +
          s"${st.map(_._2).sum} tasks, " +
          s"input=${st.map(_._3).sum / 1024 / 1024}MB")
        st.foreach { case (sid, nt, in, sw, nm) =>
          println(f"[stages]   $sid%4d tasks=$nt%-4d in=${in / 1024}%-8dKB " +
            f"shufW=${sw / 1024}%-8dKB $nm") }
        graft.functions.ScanFns.unpersistScans()
      }
    }
    if (withAnchor)
      println(f"[anchor] end=${math.min(anchor(), anchor())}%.3f")
    spark.stop()
  }
}
