package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.GraftFrame.DataFrameOps
import graft.ops.{FileBloomIndex, Retrieval, Similarity}
import graft.streaming.ManifestSink

/** One benchmark run inside one JVM: set-up, warm-up, the closed-loop
  * client and the answer checks. `run.py` generates the inputs, starts
  * this program and turns the result file it writes into metrics.
  *
  * Usage: Main --workload W --seconds S --trace 0|1 --data DIR
  *             --work DIR --plan FILE --oracles DIR --launched MS
  *        Main --dump-oracles FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("dump-oracles") match {
      case Some(out) =>
        val m = new ObjectMapper()
        val node = m.createObjectNode()
        SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
        m.writerWithDefaultPrettyPrinter().writeValue(new File(out), node)
      case None => new Bench(a).run()
    }
  }
}

/** A finished operation. `lat` is what a caller waits for: a read from
  * its first call to the last row collected, a write from the
  * `upsertBatch` call to the published manifest. `busy` is the whole
  * client-side span, including building the write's delta frame; the
  * `build` child span ends at `buildEndMs`, the `action` child starts
  * there. */
final case class Rec(i: Int, phase: String, op: String, kind: String, startMs: Long,
                     buildEndMs: Long, endMs: Long, buildMs: Double, actionMs: Double, lat: Double,
                     busy: Double, rows: Long, err: Option[String]) {
  var ok: Option[Boolean] = None // None until checked
  var why = ""
  var heapMb = 0.0
  val extra = mutable.LinkedHashMap.empty[String, Double]
}

final class Bench(a: Map[String, String]) {
  private val workload = a("workload")
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val data = a("data")
  private val work = a("work")
  private val oracles = a("oracles")
  private val cores = Runtime.getRuntime.availableProcessors
  private val mapper = new ObjectMapper()
  private val plan = mapper.readTree(new File(a("plan")))

  private val spark = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graftbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val ready = System.currentTimeMillis()
  private val tracer = new Tracer(spark)

  private def table(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")

  // ---- serve_mixed artifacts and the served table's model -------------
  private var art = ""
  private var bm25Stats = (0L, 0L)
  private def postings = s"$art/postings"
  private def ivfpq = s"$art/ivfpq"
  private def bloomData = s"$art/orders_bloom"
  private def sidecar = s"$art/orders_bloom_bloomidx"
  private def served = s"$art/served"
  private val model = mutable.HashMap.empty[Long, (String, String, java.lang.Long)]
  private val servedSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  private val ivfLists = 8

  /** Run independent pieces of work concurrently, one per core; never
    * inside an operation's timed window. */
  private def par[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(cores)
    try tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() })).map(_.get())
    finally pool.shutdown()
  }

  /** Build every artifact the workload reads into a fresh directory,
    * one after another. Built concurrently they took as long: each
    * build is mostly driver-side planning and job scheduling. */
  private def buildArtifacts(dir: String, times: ObjectNode): Unit = {
    art = dir
    def step(name: String)(body: => Unit): Unit = {
      val t = System.nanoTime()
      body
      times.put(name, (System.nanoTime() - t) / 1e9)
    }
    val docs = table("documents")
    step("bm25_index") {
      Retrieval.invertedIndex(docs, "doc_id", "text")
        .repartition(cores * 2, col("term")).sortWithinPartitions("term")
        .write.parquet(postings)
      bm25Stats = Retrieval.corpusStatsOf(docs, "text")
    }
    step("ivfpq_index") {
      Similarity.ivfPqIndexWrite(table("embeddings"), "vec_id", "embedding", dims = 64,
        nLists = ivfLists, m = 4, ksub = 8, iters = 1, path = ivfpq)
    }
    step("filebloom_sidecar") {
      table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .repartition(16, col("o_orderkey")).write.parquet(bloomData)
      FileBloomIndex.writeSidecar(spark, bloomData, col("o_orderkey"),
        expectedPerFile = plan.get("rows").get("orders").asLong / 16 + 1)
    }
    step("served_table") {
      ManifestSink.upsertBatch(docs.select("doc_id", "lang", "source", "n_chars")
        .withColumn("op", lit("upsert")), served, 0L, "doc_id", insertFiles = 8)
    }
  }

  /** Untimed warm-up on the real inputs and artifacts, so classes are
    * loaded, Spark's generated code is cached, hot paths are compiled
    * and file listings and footers have been read before timing
    * starts: `warmPasses` passes over the read types, each run
    * concurrently, one per core; then the write once through the
    * client, so the served table's replay stays exact; then
    * `warmRounds` whole client rounds, one operation at a time, their
    * answers checked like timed ones. */
  private def warmUp(ops: Seq[JsonNode]): Unit = {
    val (writes, reads) = ops.partition(_.get("op").asText == "upsert")
    val errs = (1 to warmPasses).flatMap { _ =>
      val pass = par(reads.map { n => () =>
        val op = n.get("op").asText
        try {
          if (servedReads(op)) read(op, n).collect() else Digest.ofFrame(read(op, n))
          None
        } catch { case e: Throwable => Some(op -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      })
      graft.functions.ScanFns.unpersistScans()
      pass
    }
    errs.flatten.zipWithIndex.foreach { case ((op, e), i) =>
      val r = Rec(-100 - i, "warmup", op, "read", 0L, 0L, 0L, 0, 0, 0, 0, 0, Some(e))
      r.ok = Some(false)
      recs += r
    }
    writes.zipWithIndex.foreach { case (n, i) => exec(n, -1 - i, "warmup", trace = false) }
    (1 to warmRounds).foreach { _ =>
      rounds.next().asScala.foreach { node => exec(node, next, "warmup", trace = false); next += 1 }
    }
  }

  /** serve_mixed reads are mostly driver-side work and kept getting
    * faster for three or four rounds; a round run one operation at a
    * time moved its timed round further along that curve than a second
    * concurrent pass did. analytics keeps two concurrent passes: a
    * whole warm-up round costs it about 12 s more per run, and in ten
    * runs per variant neither was steadier. */
  private val warmPasses = if (workload == "serve_mixed") 1 else 2
  private val warmRounds = if (workload == "serve_mixed") 1 else 0

  // ---- operations -------------------------------------------------------
  /** Small answers a caller collects; every other read is a registry
    * pipeline whose answer is digested where it is computed. */
  private val servedReads = Set("bm25_indexed", "ivfpq_indexed", "filebloom_lookup", "keyed_read")

  private def queriesFrame(ops: Seq[JsonNode]): DataFrame =
    spark.createDataFrame(ops.flatMap(_.get("queries").asScala)
      .map(q => Row(q.get("q_id").asText, q.get("qtext").asText)).asJava,
      StructType(Seq(StructField("q_id", StringType), StructField("qtext", StringType))))

  private def vectorsFrame(ops: Seq[JsonNode]): DataFrame =
    spark.createDataFrame(ops.flatMap(_.get("vectors").asScala)
      .map(v => Row(v.get("q_id").asLong, v.get("vec").asScala.map(_.asDouble.toFloat).toSeq)).asJava,
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))

  private def keys(op: JsonNode): Seq[Long] = op.get("keys").asScala.map(_.asLong).toSeq

  private def deltaRows(op: JsonNode): Seq[Row] = op.get("rows").asScala.map { r =>
    def s(k: String) = if (r.get(k).isNull) null else r.get(k).asText
    Row(r.get("doc_id").asLong, s("lang"), s("source"),
      if (r.get("n_chars").isNull) null else java.lang.Long.valueOf(r.get("n_chars").asLong),
      r.get("op").asText)
  }.toSeq

  private val deltaSchema = StructType(servedSchema.fields :+ StructField("op", StringType))

  private def read(op: String, node: JsonNode): DataFrame = op match {
    case "bm25_indexed" =>
      Retrieval.bm25TopKIndexed(spark.read.parquet(postings), bm25Stats, "doc_id",
        queriesFrame(Seq(node)), "q_id", "qtext", k = 10)
    case "ivfpq_indexed" =>
      Similarity.ivfPqTopKJoinFromIndex(spark, ivfpq, vectorsFrame(Seq(node)), "vec_id",
        "embedding", k = 10, nProbe = 2)
    case "filebloom_lookup" =>
      FileBloomIndex.lookupMany(spark, bloomData, spark.read.parquet(sidecar),
        col("o_orderkey"), keys(node))
    case "keyed_read" =>
      ManifestSink.read(spark, served).graft.filterRows(col("doc_id").isin(keys(node): _*)).df
    case _ => SparkEntry.queries(op)(spark, data)
  }

  // ---- records and their answers ----------------------------------------
  private val recs = mutable.ArrayBuffer.empty[Rec]
  private var heapGcNs = 0L
  private val digests = mutable.HashMap.empty[Int, Digest]
  private val answers = mutable.HashMap.empty[Int, (StructType, Array[Row])]
  private val nodes = mutable.HashMap.empty[Int, JsonNode]

  /** Driver heap in use after a full collection, taken after every
    * operation, outside its timed window. Spark frees broadcast and
    * shuffle blocks only after a collection finds their handles
    * unreachable, so collect, give its cleaner a moment, and collect
    * again: after one collection the reading swings between 80 and
    * 340 MiB from one operation to the next. */
  private def heapAfterGcMb(): Double = {
    val tg = System.nanoTime()
    System.gc()
    Thread.sleep(50)
    System.gc()
    val mb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    heapGcNs += System.nanoTime() - tg
    mb
  }

  private def tableFiles(): (Int, Long) = {
    val files = Option(new File(served).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
    (files.length, files.map(_.length).sum)
  }

  private def exec(node: JsonNode, i: Int, phase: String, trace: Boolean): Rec = {
    val op = node.get("op").asText
    val id = s"$phase-$i"
    if (trace) tracer.begin(id)
    val before = if (op == "upsert") tableFiles() else (0, 0L)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var rows = 0L
    var err: Option[String] = None
    var answer: (StructType, Array[Row]) = null
    try {
      if (op == "upsert") {
        val delta = spark.createDataFrame(deltaRows(node).asJava, deltaSchema)
        t1 = System.nanoTime()
        ManifestSink.upsertBatch(delta, served, node.get("batch").asLong, "doc_id")
        rows = node.get("rows").size
      } else {
        val df = read(op, node)
        t1 = System.nanoTime()
        if (servedReads(op)) {
          val got = df.collect()
          answer = (df.schema, got)
          rows = got.length
        } else {
          val d = Digest.ofFrame(df)
          digests(i) = d
          rows = d.rows
        }
      }
    } catch {
      case e: Throwable =>
        err = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
    }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    if (trace) tracer.end()
    val kind = if (op == "upsert") "write" else "read"
    val buildEndMs = startMs + (t1 - t0) / 1000000L
    val r = Rec(i, phase, op, kind, startMs, buildEndMs, endMs, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
      (if (kind == "write") t2 - t1 else t2 - t0) / 1e6, (t2 - t0) / 1e6, rows, err)
    graft.functions.ScanFns.unpersistScans()
    if (phase != "warmup") r.heapMb = heapAfterGcMb()
    nodes(i) = node
    if (err.nonEmpty) r.ok = Some(false)
    else if (op == "upsert") {
      r.ok = Some(true) // its effect is checked by later keyed reads and the final table
      applyDelta(node)
      val after = tableFiles()
      r.extra("files_written") = math.max(0, after._1 - before._1)
      r.extra("bytes_written") = math.max(0L, after._2 - before._2).toDouble
      r.extra("live_files") = graft.sources.Sources
        .readManifest(spark.sessionState.newHadoopConf(), served).map(_.size).getOrElse(0).toDouble
    } else checkNow(r, op, answer)
    recs += r
    r
  }

  private def applyDelta(node: JsonNode): Unit = node.get("rows").asScala.foreach { r =>
    val k = r.get("doc_id").asLong
    if (r.get("op").asText == "delete") model.remove(k)
    else model(k) = (r.get("lang").asText, r.get("source").asText,
      java.lang.Long.valueOf(r.get("n_chars").asLong))
  }

  private def modelRows(ks: Iterable[Long]): Seq[Row] =
    ks.toSeq.flatMap(k => model.get(k).map { case (l, s, n) => Row(k, l, s, n) })

  /** Checks that need no other query run now; the rest keep what they
    * need and are checked after the loop, outside every timed window. */
  private def checkNow(r: Rec, op: String, answer: (StructType, Array[Row])): Unit =
    if (op == "keyed_read") {
      val exp = Digest.of(servedSchema, modelRows(keys(nodes(r.i)).distinct))
      r.ok = Some(Digest.of(answer._1, answer._2) == exp)
      if (!r.ok.get) r.why = "keyed read differs from the replayed deltas"
    } else if (answer != null) answers(r.i) = answer

  // ---- post-run checks ----------------------------------------------------
  private def postChecks(out: ObjectNode): Unit =
    par(recs.toSeq.filter(_.ok.isEmpty).groupBy(_.op).toSeq.map { case (op, rs) => () => check(op, rs) } ++
      (if (workload == "serve_mixed") Seq(() => finalTable(out)) else Nil))

  private def check(op: String, rs: Seq[Rec]): Unit =
    op match {
      case "bm25_indexed" =>
        twin(rs, "q_id", _.get("queries").asScala.map[Any](_.get("q_id").asText).toSet) {
          Retrieval.bm25TopK(table("documents"), "doc_id", "text", queriesFrame(rs.map(r => nodes(r.i))),
            "q_id", "qtext", k = 10)
        }
      case "ivfpq_indexed" =>
        twin(rs, "query_id", _.get("vectors").asScala.map[Any](_.get("q_id").asLong).toSet) {
          Similarity.ivfPqTopKJoin(table("embeddings"), "vec_id", "embedding", dims = 64,
            nLists = ivfLists, nProbe = 2, m = 4, ksub = 8, iters = 1,
            queries = vectorsFrame(rs.map(r => nodes(r.i))), qid = "vec_id", qvec = "embedding", k = 10)
        }
      case "filebloom_lookup" =>
        twin(rs, "o_orderkey", n => keys(n).map[Any](identity).toSet) {
          spark.read.parquet(bloomData)
            .filter(col("o_orderkey").isin(rs.flatMap(r => keys(nodes(r.i))).distinct: _*))
        }
      case _ =>
        val ref = oracleDigest(op)
        rs.foreach { r =>
          r.ok = Some(ref.contains(digests(r.i)))
          if (!r.ok.get) r.why = s"answer differs from the DuckDB oracle (${ref.getOrElse("missing")} vs ${digests(r.i)})"
        }
    }

  /** Check indexed answers against one batched run of their scan-path
    * twin: each operation's answer must equal the twin's rows for that
    * operation's own query ids or keys. */
  private def twin(rs: Seq[Rec], key: String, ids: JsonNode => Set[Any])(truth: => DataFrame): Unit = {
    val t = truth
    val rows = t.collect()
    val k = t.schema.fieldIndex(key)
    rs.foreach { r =>
      val (schema, got) = answers(r.i)
      val want = ids(nodes(r.i))
      val exp = Digest.of(t.schema, rows.filter(x => want.contains(x.get(k))))
      r.ok = Some(exp == Digest.of(schema, got))
      if (!r.ok.get) r.why = "answer differs from the scan-path twin"
    }
  }

  private def oracleDigest(q: String): Option[Digest] =
    Some(new File(s"$oracles/$q")).filter(_.isDirectory)
      .map(dir => Digest.ofFrame(spark.read.parquet(dir.getPath)))

  private def parquetBytes(dir: String): Long =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum

  /** The served table after the run must equal the replay of every
    * delta the client committed. */
  private def finalTable(out: ObjectNode): Unit = {
    val df = ManifestSink.read(spark, served)
    val got = df.collect()
    out.put("final_table_ok",
      Digest.of(df.schema, got) == Digest.of(servedSchema, modelRows(model.keys)))
    out.put("final_table_rows", got.length)
  }

  /** bytes on disk per byte of user data, for the served table */
  private def writeAmplification(out: ObjectNode): Unit = {
    val timedWrites = recs.filter(r => r.kind == "write" && r.phase != "warmup" && r.ok.contains(true))
    var user = 0L
    timedWrites.zipWithIndex.foreach { case (r, j) =>
      val dir = s"$work/user-bytes/delta-$j"
      spark.createDataFrame(deltaRows(nodes(r.i)).asJava, deltaSchema).coalesce(1).write.parquet(dir)
      user += parquetBytes(dir)
    }
    val written = timedWrites.map(_.extra("bytes_written")).sum
    if (user > 0) out.put("write_bytes_per_user_byte", written / user)
    ManifestSink.read(spark, served).coalesce(1).write.parquet(s"$work/user-bytes/live")
    val stored = Option(new File(served).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isFile).map(_.length).sum
    out.put("stored_bytes_per_user_byte", stored.toDouble / parquetBytes(s"$work/user-bytes/live"))
  }

  /** Files a bloom lookup opened that hold none of its keys. */
  private def bloomFalsePositives(): Unit = {
    val sc = spark.read.parquet(sidecar)
    recs.filter(r => r.phase == "traced" && r.op == "filebloom_lookup").foreach { r =>
      val ks = keys(nodes(r.i))
      val opened = FileBloomIndex.candidateFilesDF(sc, FileBloomIndex.hashAll(spark, ks, LongType)).count()
      val hit = spark.read.parquet(bloomData).filter(col("o_orderkey").isin(ks: _*))
        .select(input_file_name()).distinct().count()
      r.extra("opened_files") = opened.toDouble
      r.extra("fp_files") = (opened - hit).toDouble
    }
  }

  // ---- the run ---------------------------------------------------------------
  private val rounds = plan.get("rounds").asScala.iterator
  private var next = 0

  /** The closed-loop client: whole rounds, each operation starting when
    * the previous one has finished, until `seconds` of client time. */
  private def loop(phase: String, trace: Boolean): Unit = {
    var busy = 0.0
    if (trace) tracer.attach()
    heapAfterGcMb() // every phase starts from a collected heap
    while (busy < seconds * 1000 && rounds.hasNext) {
      rounds.next().asScala.foreach { node =>
        val r = exec(node, next, phase, trace)
        next += 1
        busy += r.busy
      }
    }
    if (trace) { tracer.drain(); tracer.detach() }
  }

  def run(): Unit = {
    val out = mapper.createObjectNode()
    val setup = out.putObject("setup")
    setup.put("start_s", (ready - a("launched").toLong) / 1000.0)
    val ta = System.nanoTime()
    if (workload == "serve_mixed") buildArtifacts(s"$work/artifacts", setup.putObject("artifacts"))
    setup.put("artifacts_s", (System.nanoTime() - ta) / 1e9)
    if (workload == "serve_mixed")
      table("documents").select("doc_id", "lang", "source", "n_chars").collect().foreach { r =>
        model(r.getLong(0)) = (r.getString(1), r.getString(2), java.lang.Long.valueOf(r.getLong(3)))
      }
    val t = System.nanoTime()
    warmUp(plan.get("warmup").asScala.toSeq)
    setup.put("warmup_s", (System.nanoTime() - t) / 1e9)

    loop("timed", trace = false)
    if (traced) {
      // untraced, traced, untraced: the JVM is still getting faster, and
      // a drift that is linear in time cancels out of the overhead
      loop("traced", trace = true)
      loop("timed-after", trace = false)
      if (workload == "serve_mixed") bloomFalsePositives()
    }
    val tc = System.nanoTime()
    postChecks(out)
    if (workload == "serve_mixed" && traced) writeAmplification(out)
    out.put("check_s", (System.nanoTime() - tc) / 1e9)
    out.put("heap_gc_s", heapGcNs / 1e9)

    val env = out.putObject("session")
    env.put("master", spark.sparkContext.master)
    env.put("spark.sql.shuffle.partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    env.put("spark.sql.adaptive.enabled", spark.conf.get("spark.sql.adaptive.enabled"))
    env.put("driver_max_heap_mb", Runtime.getRuntime.maxMemory / 1048576)
    env.put("spark_version", spark.version)
    env.put("java_version", System.getProperty("java.version"))
    env.put("cores", cores)

    val arr = out.putArray("records")
    recs.foreach { r =>
      val o = arr.addObject()
      o.put("i", r.i).put("phase", r.phase).put("op", r.op).put("kind", r.kind)
      o.put("lat_ms", r.lat).put("busy_ms", r.busy).put("build_ms", r.buildMs)
      o.put("action_ms", r.actionMs).put("rows", r.rows).put("ok", r.ok.contains(true))
      o.put("heap_mb", r.heapMb)
      r.err.foreach(o.put("error", _))
      if (r.why.nonEmpty) o.put("check", r.why)
      r.extra.foreach { case (k, v) => o.put(k, v) }
      if (r.phase == "traced") {
        val c = tracer.counters(s"${r.phase}-${r.i}")
        if (c != null) c.synchronized {
          o.put("jobs", c.jobs).put("stages", c.stages).put("tasks", c.tasks)
          o.put("failed_tasks", c.failedTasks).put("task_ms", c.taskMs)
          o.put("cpu_ms", c.cpuNs / 1e6).put("gc_ms", c.gcMs)
          o.put("no_stage_ms", c.noStageMs(r.startMs, r.endMs))
          o.put("build_no_stage_ms", c.noStageMs(r.startMs, r.buildEndMs))
          o.put("action_no_stage_ms", c.noStageMs(r.buildEndMs, r.endMs))
          o.put("shuffle_bytes", c.shuffleBytes).put("shuffle_records", c.shuffleRecords)
          o.put("fetch_wait_ms", c.fetchWaitMs).put("spill_bytes", c.spillBytes)
          o.put("analysis_ms", c.analysisMs).put("optimizer_ms", c.optimizerMs)
          o.put("physical_ms", c.physicalMs).put("exchanges", c.exchanges)
          o.put("single_partition_ops", c.singlePartitionOps).put("kernel_nodes", c.kernelNodes)
          o.put("scan_files", c.scanFiles).put("scan_bytes", c.scanBytes).put("scan_rows", c.scanRows)
          o.put("cache_peak_bytes", c.cachePeakBytes)
        }
      }
    }
    mapper.writeValue(new File(s"$work/result.json"), out)
    spark.stop()
  }
}
