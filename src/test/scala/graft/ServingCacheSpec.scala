package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.ops.{FileBloomIndex, Retrieval, Similarity}
import graft.sources.{Resident, Sources}
import graft.streaming.ManifestSink

/** Open-once serving state: parquet schemas resolved once per file
  * set, IVF-PQ sidecars loaded once per index, and the per-read job
  * budgets of the serving paths that rely on them. */
class ServingCacheSpec extends SparkTestBase {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def embeddings(seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0L until 60L).map { i =>
      val a = (i % 4).toInt
      (i, Array.tabulate(16)(j =>
        (if (j % 4 == a) 5.0 else 0.0) + rnd.nextInt(100) / 100.0).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def rows(df: DataFrame) =
    df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  test("readParquet: a repeat read of an unchanged directory runs no inference job") {
    import spark.implicits._
    val path = s"${tmp("graft_schema")}/t"
    (1L to 100L).map(i => (i, i * 2.0)).toDF("id", "v")
      .repartition(4).write.parquet(path)
    Sources.readParquet(spark, path)
    val second = jobsDuring(Sources.readParquet(spark, path))
    assert(second == 0, s"a cached schema must skip inference: $second jobs")
    assert(Sources.readParquet(spark, path).agg(sum("v")).head().getDouble(0) ==
      (1 to 100).map(_ * 2.0).sum)
  }

  test("readParquet: an overwrite with an added column is inferred again") {
    import spark.implicits._
    val path = s"${tmp("graft_schema_evolve")}/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(Sources.readParquet(spark, path).columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 3.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(path)
    val back = Sources.readParquet(spark, path)
    assert(back.columns.toSeq == Seq("id", "s", "x"))
    assert(back.collect().map(_.toSeq).toSeq == Seq(Seq(2L, "b", 3.5)))
  }

  test("readParquet: a missing path still fails the way Spark fails") {
    val missing = s"${tmp("graft_schema_missing")}/nope"
    intercept[org.apache.spark.sql.AnalysisException] {
      Sources.readParquet(spark, missing)
    }
    // lookupMany takes the data schema from the schema cache, and fails
    // the same way on a missing data path
    import spark.implicits._
    val data = s"${tmp("graft_schema_lookup")}/d"
    (0L until 100L).map(i => (i, i * 2L)).toDF("k", "v").write.parquet(data)
    val side = spark.read.parquet(FileBloomIndex.writeSidecar(spark, data, col("k"), 100L))
    assert(Sources.parquetSchema(spark, data) == spark.read.parquet(data).schema)
    intercept[org.apache.spark.sql.AnalysisException] {
      FileBloomIndex.lookupMany(spark, missing, side, col("k"), Seq(1L))
    }
  }

  test("manifested reads serve the files an upsertBatch publishes; a keyed read is one job") {
    import spark.implicits._
    val path = s"${tmp("graft_manifest_serve")}/t"
    ManifestSink.upsertBatch((1L to 20L).map(i => (i, i * 10L, "upsert"))
      .toDF("id", "v", "op"), path, 0L, "id", insertFiles = 2)
    def keyed(ks: Long*) = ManifestSink.read(spark, path)
      .filter(col("id").isin(ks: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(keyed(3L, 21L) == Seq((3L, 30L)))
    ManifestSink.upsertBatch(Seq((3L, 33L, "upsert"), (21L, 210L, "upsert"))
      .toDF("id", "v", "op"), path, 1L, "id")
    // the new file set's schema comes from a driver footer read: even
    // the first keyed read after the write is one job
    val jobs = jobsDuring(assert(keyed(3L, 21L) == Seq((3L, 33L), (21L, 210L)),
      "a read after the upsert must see the newly published files"))
    assert(jobs == 1, s"a keyed read + collect must be one job, saw $jobs")
  }

  test("readParquet of plain files: the driver footer schema equals Spark's inference") {
    val dir = tmp("graft_footer_schema")
    spark.sql("""SELECT id, CAST(id AS INT) AS i, CAST(id AS DECIMAL(12, 3)) AS d,
        TIMESTAMP'2024-01-02 03:04:05' AS ts, DATE'2024-01-02' AS dt,
        CAST(id AS STRING) AS s, CAST(CAST(id AS STRING) AS BINARY) AS b,
        ARRAY(id, id + 1) AS arr, MAP('k', id) AS m,
        NAMED_STRUCT('x', id, 'y', CAST(NULL AS DOUBLE)) AS st
      FROM range(10)""").repartition(2).write.parquet(s"$dir/t")
    val files = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    val expected = spark.read.parquet(files: _*).schema
    assert(jobsDuring(assert(Sources.readParquet(spark, files: _*).schema == expected)) == 0)
  }

  test("ivfPqTopKJoinFromIndex follows an index rebuilt at the same path") {
    val path = s"${tmp("graft_ivfpq_rebuild")}/idx"
    def build(e: DataFrame): Unit = Similarity.ivfPqIndexWrite(e, "vec_id",
      "embedding", dims = 16, nLists = 6, m = 4, ksub = 4, iters = 1, path = path)
    def serve(e: DataFrame) = rows(Similarity.ivfPqTopKJoinFromIndex(spark, path,
      e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 8, nProbe = 2))
    def inPlan(e: DataFrame) = rows(Similarity.ivfPqTopKJoin(e, "vec_id",
      "embedding", dims = 16, nLists = 6, nProbe = 2, m = 4, ksub = 4, iters = 1,
      queries = e.filter(col("vec_id") < 3), qid = "vec_id", qvec = "embedding",
      k = 8))
    val (a, b) = (embeddings(41), embeddings(7))
    build(a)
    assert(serve(a) == inPlan(a))
    build(b)
    val after = serve(b)
    assert(after == inPlan(b), "the rebuilt index must be served, bit for bit")
    assert(after != inPlan(a))
  }

  /** (query id, neighbor id, adc bits, rank) rows in (query id, rank)
    * order: the bit-identity view of an IVF-PQ answer. */
  private def bits(df: DataFrame) =
    df.collect().map { r =>
      (String.valueOf(r.get(0)), r.get(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
        r.getLong(3))
    }.sortBy(r => (r._1, r._4)).toSeq

  test("ivfPqTopKJoinFromIndex scores on the driver, bit-identical to ivfPqTopKJoin") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // rows 60..79 repeat the vectors of rows 0..19: equal codes, equal
    // adc, so the cut and the ranks break ties by neighbor id
    val base = embeddings(41)
    val e = base.union(base.filter(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 60))
    val path = s"${tmp("graft_ivfpq_driver")}/idx"
    Similarity.ivfPqIndexWrite(e, "vec_id", "embedding", dims = 16,
      nLists = 6, m = 4, ksub = 4, iters = 1, path = path)
    // string query ids, and one query with a null vector
    val queries = e.filter(col("vec_id") < 4)
      .select(concat(lit("q"), col("vec_id")).as("qid"), col("embedding").as("qv"))
      .union(spark.sql("SELECT 'qnull' AS qid, CAST(NULL AS ARRAY<DOUBLE>) AS qv"))
    def inPlan(k: Int) = Similarity.ivfPqTopKJoin(e, "vec_id", "embedding",
      dims = 16, nLists = 6, nProbe = 2, m = 4, ksub = 4, iters = 1,
      queries = queries, qid = "qid", qvec = "qv", k = k)
    def served(k: Int, cap: Int) = Similarity.ivfPqFromIndexCapped(spark, path,
      queries, "qid", "qv", k, nProbe = 2, cap)
    // k = 100 is more than the whole 80-row corpus, so more than any
    // query's candidates
    Seq(5, 100).foreach { k =>
      val before = Resident.counts
      val resident = served(k, 100000)
      val after = Resident.counts
      assert(after.hits + after.loads == before.hits + before.loads + 1 &&
        after.overBudget == before.overBudget, s"the codes must be resident: $before -> $after")
      // with no byte budget the probed cells are collected per call
      val perCall = Resident.withBudget(0L)(served(k, 100000))
      assert(Resident.counts.overBudget == after.overBudget + 1)
      val want = bits(inPlan(k))
      assert(want.exists(_._3.isEmpty) && want.exists(_._3.nonEmpty))
      Seq("resident" -> resident, "per-call" -> perCall).foreach { case (how, driver) =>
        assert(driver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          s"$how: within the cap the answer is a local frame")
        assert(bits(driver) == want, s"k=$k: $how driver path != ivfPqTopKJoin")
      }
      // past the cap the broadcast join scores, with the same answer,
      // from either row source
      Seq(served(k, 3), Resident.withBudget(0L)(served(k, 3))).foreach { pastCap =>
        assert(!pastCap.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
        assert(bits(pastCap) == want, s"k=$k: past-cap path != ivfPqTopKJoin")
      }
    }
    val ties = bits(inPlan(100)).groupBy(r => (r._1, r._3)).values.filter(_.size > 1)
    assert(ties.nonEmpty, "the duplicated vectors must tie on adc")
  }

  test("bm25TopKIndexed: resident, per-call and past-cap answers are bit-identical to bm25TopK") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import spark.implicits._
    val docs = (1 to 200).map(i =>
      (i.toLong, Seq.fill(i % 5 + 1)(s"w${i % 11}").mkString(" ") + " common"))
      .toDF("doc_id", "text")
    val postings = s"${tmp("graft_bm25_resident")}/postings"
    Retrieval.invertedIndex(docs, "doc_id", "text").write.parquet(postings)
    val stats = Retrieval.corpusStatsOf(docs, "text")
    // query "a" twice: its (query, term) rows repeat; "c" matches nothing
    val qs = Seq(("a", "w3 common"), ("b", "w5 w7"), ("a", "w3"), ("c", "nothing"))
      .toDF("q_id", "qtext")
    def bits(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).sorted.toSeq
    def indexed(queries: DataFrame, k: Int) = Retrieval.bm25TopKIndexed(
      spark.read.parquet(postings), stats, "doc_id", queries, "q_id", "qtext", k = k)
    // k = 500 is more than the whole 200-document corpus
    Seq(4, 500).foreach { k =>
      val want = bits(Retrieval.bm25TopK(docs, "doc_id", "text", qs, "q_id", "qtext", k = k))
      val before = Resident.counts
      val resident = indexed(qs, k)
      val after = Resident.counts
      assert(after.hits + after.loads == before.hits + before.loads + 1 &&
        after.overBudget == before.overBudget, s"the postings must be resident: $before -> $after")
      // with no byte budget the pruned postings are collected per call
      val perCall = Resident.withBudget(0L)(indexed(qs, k))
      assert(Resident.counts.overBudget == after.overBudget + 1)
      Seq("resident" -> resident, "per-call" -> perCall).foreach { case (how, df) =>
        assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation], how)
        assert(bits(df) == want, s"k=$k: $how != bm25TopK")
      }
    }
    // more distinct terms than the per-call path inlines: with no byte
    // budget the broadcast tail scores; resident rows still score on
    // the driver
    val wide = qs.union(Seq(("w", (0 until 1100).map(i => s"x$i").mkString(" ") + " w4"))
      .toDF("q_id", "qtext"))
    val want = bits(Retrieval.bm25TopK(docs, "doc_id", "text", wide, "q_id", "qtext", k = 4))
    val pastCap = Resident.withBudget(0L)(indexed(wide, 4))
    assert(!pastCap.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(bits(pastCap) == want, "past-cap path != bm25TopK")
    assert(bits(indexed(wide, 4)) == want, "resident path with many terms != bm25TopK")
  }

  test("resident artifacts follow postings rewritten in place, an IVF-PQ append and clearCaches") {
    import spark.implicits._
    val dir = tmp("graft_resident_stale")
    val postings = s"$dir/postings"
    val qs = Seq(("q", "alpha beta")).toDF("q_id", "qtext")
    def index(docs: DataFrame) = {
      Retrieval.invertedIndex(docs, "doc_id", "text").write.mode("overwrite").parquet(postings)
      Retrieval.corpusStatsOf(docs, "text")
    }
    def ranked(df: DataFrame) = df.collect().map(r => (r.getLong(1), r.getDouble(2))).sorted.toSeq
    def served(stats: (Long, Long)) = ranked(Retrieval.bm25TopKIndexed(
      spark.read.parquet(postings), stats, "doc_id", qs, "q_id", "qtext", k = 3))
    def direct(docs: DataFrame) =
      ranked(Retrieval.bm25TopK(docs, "doc_id", "text", qs, "q_id", "qtext", k = 3))
    val v1 = Seq((1L, "alpha x"), (2L, "beta y"), (3L, "gamma")).toDF("doc_id", "text")
    val v2 = Seq((1L, "gamma"), (4L, "alpha beta"), (5L, "beta beta")).toDF("doc_id", "text")
    val s1 = index(v1)
    assert(served(s1) == direct(v1))
    val hits = Resident.counts.hits
    assert(served(s1) == direct(v1))
    assert(Resident.counts.hits == hits + 1, "a repeat query must be served from memory")
    val loads = Resident.counts.loads
    val s2 = index(v2)
    assert(served(s2) == direct(v2), "postings rewritten at the same path must be served")
    assert(Resident.counts.loads == loads + 1)

    val e = embeddings(41)
    val ivf = s"$dir/ivf"
    Similarity.ivfPqIndexWrite(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      dims = 16, nLists = 6, m = 4, ksub = 4, iters = 1, path = ivf)
    def ivfServe() = rows(Similarity.ivfPqTopKJoinFromIndex(spark, ivf,
      e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 8, nProbe = 2))
    val evens = ivfServe()
    assert(ivfServe() == evens)
    Similarity.ivfPqIndexAppend(e.filter(col("vec_id") % 2 === 1), "embedding", ivf)
    val appended = ivfServe()
    assert(appended != evens && appended.exists(r => r._1 == 1L && r._2 == 1L),
      "the appended codes must be served")
    assert(appended == Resident.withBudget(0L)(ivfServe()))

    val cleared = Resident.counts.loads
    graft.sources.FileSets.clearCaches()
    assert(ivfServe() == appended && served(s2) == direct(v2))
    assert(Resident.counts.loads == cleared + 2, "a cleared cache must load again")
  }

  test("job budgets: ivfPqTopKJoinFromIndex <= 1, lookupMany <= 1 past the sidecar read") {
    val e = embeddings(41)
    val idx = s"${tmp("graft_ivfpq_budget")}/idx"
    Similarity.ivfPqIndexWrite(e, "vec_id", "embedding", dims = 16,
      nLists = 6, m = 4, ksub = 4, iters = 1, path = idx)
    val queries = spark.createDataFrame(
      java.util.Arrays.asList(e.filter(col("vec_id") < 2).collect(): _*), e.schema)
    def ivf() = Similarity.ivfPqTopKJoinFromIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nProbe = 2).collect()
    ivf()
    val ivfJobs = jobsDuring(ivf())
    assert(ivfJobs == 0, s"warm IVF-PQ serve + collect: $ivfJobs jobs")

    import spark.implicits._
    val docs = (1 to 50).map(i => (i.toLong, s"w${i % 7} common")).toDF("doc_id", "text")
    val postings = s"${tmp("graft_bm25_budget")}/postings"
    Retrieval.invertedIndex(docs, "doc_id", "text").write.parquet(postings)
    val stats = Retrieval.corpusStatsOf(docs, "text")
    val qs = Seq(("a", "w3 common"), ("b", "w5")).toDF("q_id", "qtext")
    def bm25() = Retrieval.bm25TopKIndexed(spark.read.parquet(postings), stats, "doc_id",
      qs, "q_id", "qtext", k = 5).collect()
    bm25()
    val readJobs = jobsDuring(spark.read.parquet(postings))
    val bm25Jobs = jobsDuring(bm25())
    assert(bm25Jobs <= readJobs,
      s"warm bm25TopKIndexed + collect: $bm25Jobs jobs, $readJobs for the postings read")

    val data = s"${tmp("graft_fbloom_budget")}/d"
    (0L until 2000L).map(i => (i, i * 3L)).toDF("k", "v")
      .repartition(8, col("k")).write.parquet(data)
    val side = FileBloomIndex.writeSidecar(spark, data, col("k"), 400L)
    def lookup() = FileBloomIndex.lookupMany(spark, data,
      spark.read.parquet(side), col("k"), Seq(5L, 77L, 5000L)).collect()
    assert(lookup().map(_.getLong(1)).sorted.toSeq == Seq(15L, 231L))
    val sidecarJobs = jobsDuring(spark.read.parquet(side))
    val lookupJobs = jobsDuring(lookup())
    assert(lookupJobs - sidecarJobs <= 1,
      s"warm lookupMany + collect: $lookupJobs jobs, $sidecarJobs for the sidecar read")
  }

  test("lookupMany loads a parquet sidecar once and follows a rewrite at the same path") {
    import spark.implicits._
    val dir = tmp("graft_fbloom_cache")
    val data = s"$dir/d"
    def write(mult: Long): String = {
      (0L until 1000L).map(i => (i, i * mult)).toDF("k", "v")
        .repartition(6, col("k")).write.mode("overwrite").parquet(data)
      FileBloomIndex.writeSidecar(spark, data, col("k"), 300L)
    }
    def lookup(side: org.apache.spark.sql.DataFrame) =
      FileBloomIndex.lookupMany(spark, data, side, col("k"), Seq(7L, 500L, 4000L))
    def values(side: org.apache.spark.sql.DataFrame) =
      lookup(side).collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val sidePath = write(2L)
    val side = spark.read.parquet(sidePath)
    assert(values(side) == Seq((7L, 14L), (500L, 1000L)))
    val again = jobsDuring(lookup(side))
    assert(again == 0, s"a repeat lookup on an unchanged sidecar ran $again jobs")
    // rewritten in place: new file names, so the sidecar loads again
    write(3L)
    assert(values(spark.read.parquet(sidePath)) == Seq((7L, 21L), (500L, 1500L)),
      "the rewritten sidecar and data must be served")
  }

  test("lookupMany over a non-file sidecar frame probes the same files as the executors") {
    import spark.implicits._
    val data = s"${tmp("graft_fbloom_frame")}/d"
    (0L until 1000L).map(i => (i, i * 2L)).toDF("k", "v")
      .repartition(8, col("k")).write.parquet(data)
    val side = FileBloomIndex.build(spark, data, col("k"), 200L)
    val keys = Seq(3L, 250L, 999L, 123456L)
    val out = FileBloomIndex.lookupMany(spark, data, side, col("k"), keys)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 250L, 999L))
    val probed = FileBloomIndex.candidateFilesDF(side,
      FileBloomIndex.hashAll(spark, keys, LongType)).collect().map(_.getString(0))
    def paths(fs: Seq[String]) = fs.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).sorted
    assert(probed.nonEmpty && paths(out.inputFiles.toSeq) == paths(probed.toSeq))
  }

  test("FileSets.Lru keeps its entry bound and its weight bound, least recently used first") {
    val lru = new graft.sources.FileSets.Lru[String, Long](3, 10L, identity)
    lru.put("a", 4L); lru.put("b", 4L)
    lru.get("a")
    lru.put("c", 4L) // 12 > 10: "b", the least recently used, goes
    assert(lru.get("b").isEmpty && lru.get("a").contains(4L) && lru.get("c").contains(4L))
    lru.put("a", 1L); lru.put("d", 1L); lru.put("e", 1L) // 4 entries > 3: "c" goes
    assert(lru.get("c").isEmpty && Seq("a", "d", "e").forall(lru.get(_).isDefined))
    lru.put("big", 11L) // heavier than the bound on its own: not kept, evicts nothing
    assert(lru.get("big").isEmpty && Seq("a", "d", "e").forall(lru.get(_).isDefined))
    val byCount = new graft.sources.FileSets.Lru[Int, Int](2)
    (1 to 3).foreach(i => byCount.put(i, i))
    assert(byCount.get(1).isEmpty && byCount.get(3).contains(3))
  }

  test("a serving query batch past QueryBatchCap fails loudly, naming the operator") {
    import spark.implicits._
    val dir = tmp("graft_query_cap")
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    Retrieval.invertedIndex(docs, "doc_id", "text").write.parquet(s"$dir/postings")
    val big = spark.range(Sources.QueryBatchCap + 1L)
    val bm25 = intercept[IllegalArgumentException] {
      Retrieval.bm25TopKIndexed(spark.read.parquet(s"$dir/postings"),
        Retrieval.corpusStatsOf(docs, "text"), "doc_id",
        big.select(col("id").as("q_id"), lit("alpha").as("qtext")), "q_id", "qtext")
    }
    assert(bm25.getMessage.contains("bm25TopKIndexed: the query batch"), bm25.getMessage)
    // the scan paths collect the same query batch
    val bigQueries = big.select(col("id").as("q_id"), lit("alpha").as("qtext"))
    val scan = intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, "doc_id", "text", bigQueries, "q_id", "qtext")
    }
    assert(scan.getMessage.contains("bm25TopK: the query batch"), scan.getMessage)
    val ql = intercept[IllegalArgumentException] {
      Retrieval.queryLikelihoodTopK(docs, "doc_id", "text", bigQueries, "q_id", "qtext")
    }
    assert(ql.getMessage.contains("queryLikelihoodTopK: the query batch"), ql.getMessage)
    val e = embeddings(41)
    Similarity.ivfPqIndexWrite(e, "vec_id", "embedding", dims = 16,
      nLists = 6, m = 4, ksub = 4, iters = 1, path = s"$dir/ivf")
    val ivf = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKJoinFromIndex(spark, s"$dir/ivf",
        big.select(col("id").as("vec_id"), array_repeat(lit(1.0), 16).as("embedding")),
        "vec_id", "embedding", k = 3, nProbe = 1)
    }
    assert(ivf.getMessage.contains("ivfPqTopKJoinFromIndex: the query batch"), ivf.getMessage)
  }

  test("FileBloomIndex hashes fold on the driver: no job, same checks") {
    val hs = FileBloomIndex.hashAll(spark, Seq(1L, 2L), LongType)
    assert(jobsDuring(FileBloomIndex.hashAll(spark, Seq(1L, 2L), LongType)) == 0)
    assert(jobsDuring(FileBloomIndex.hashOf(spark, 1L)) == 0)
    assert(hs == spark.range(1).select(xxhash64(lit(1L)), xxhash64(lit(2L)))
      .head().toSeq)
    assert(FileBloomIndex.hashOf(spark, 1L) == hs.head)
    intercept[IllegalArgumentException] {
      FileBloomIndex.hashAll(spark, Seq("not-a-number"), LongType)
    }
    intercept[IllegalArgumentException] {
      FileBloomIndex.hashAll(spark, Seq(null), LongType)
    }
  }

  test("BM25 and QL paths evaluate a non-deterministic queries frame once") {
    import spark.implicits._
    val docs = (1 to 60).map(i => (i.toLong, if (i % 2 == 0) "alpha x" else "beta y"))
      .toDF("doc_id", "text")
    val dir = tmp("graft_bm25_once")
    Retrieval.invertedIndex(docs, "doc_id", "text")
      .write.parquet(s"$dir/postings.parquet")
    val stats = Retrieval.corpusStatsOf(docs, "text")
    val idx = spark.read.parquet(s"$dir/postings.parquet")
    val paths: Seq[(String, DataFrame => DataFrame)] = Seq(
      "bm25TopKIndexed" -> (qs => Retrieval.bm25TopKIndexed(idx, stats, "doc_id",
        qs, "q_id", "qtext", k = 3)),
      "bm25TopK" -> (qs => Retrieval.bm25TopK(docs, "doc_id", "text",
        qs, "q_id", "qtext", k = 3)),
      "queryLikelihoodTopK" -> (qs => Retrieval.queryLikelihoodTopK(docs, "doc_id", "text",
        qs, "q_id", "qtext", k = 3)))
    // each evaluation of the frame flips its query text, so a prune
    // and a scoring join that evaluated it separately would disagree
    val flip = udf(() =>
      if (ServingCacheSpec.flips.getAndIncrement() % 2 == 0) "alpha" else "beta")
      .asNondeterministic()
    paths.foreach { case (name, search) =>
      def ranked(qs: DataFrame) = search(qs)
        .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      val got = ranked(Seq("q").toDF("q_id").withColumn("qtext", flip()))
      val alpha = ranked(Seq(("q", "alpha")).toDF("q_id", "qtext"))
      val beta = ranked(Seq(("q", "beta")).toDF("q_id", "qtext"))
      assert(got.nonEmpty && (got == alpha || got == beta), s"$name: $got")
    }
  }

  test("FileSets.clearCaches: a repeat readParquet infers again and lookupMany reloads its sidecar") {
    import spark.implicits._
    val data = s"${tmp("graft_clear_caches")}/d"
    (0L until 1000L).map(i => (i, i * 2L)).toDF("k", "v")
      .repartition(6, col("k")).write.parquet(data)
    val side = spark.read.parquet(FileBloomIndex.writeSidecar(spark, data, col("k"), 300L))
    def lookup() = FileBloomIndex.lookupMany(spark, data, side, col("k"), Seq(7L, 500L))
    Sources.readParquet(spark, data)
    lookup()
    assert(jobsDuring(Sources.readParquet(spark, data)) == 0)
    assert(jobsDuring(lookup()) == 0)
    graft.sources.FileSets.clearCaches()
    val infer = jobsDuring(Sources.readParquet(spark, data))
    assert(infer >= 1, "a cleared schema cache must infer again")
    // the schema is cached again, so any job here is the sidecar load
    val reload = jobsDuring(lookup())
    assert(reload >= 1, "a cleared sidecar cache must load the sidecar again")
    assert(jobsDuring(lookup()) == 0)
    assert(lookup().collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ==
      Seq((7L, 14L), (500L, 1000L)))
  }
}

object ServingCacheSpec {
  /** Evaluation counter of the flipping query text (static, so local
    * tasks share it instead of deserializing copies). */
  val flips = new java.util.concurrent.atomic.AtomicInteger(0)
}
