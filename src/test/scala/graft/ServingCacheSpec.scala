package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.ops.{FileBloomIndex, Retrieval, Similarity}
import graft.sources.Sources
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
    intercept[org.apache.spark.sql.AnalysisException] {
      Sources.readParquet(spark, s"${tmp("graft_schema_missing")}/nope")
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

  test("job budgets: ivfPqTopKJoinFromIndex <= 3, lookupMany <= 2 past the sidecar read") {
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
    assert(ivfJobs <= 3, s"warm IVF-PQ serve + collect: $ivfJobs jobs")

    import spark.implicits._
    val data = s"${tmp("graft_fbloom_budget")}/d"
    (0L until 2000L).map(i => (i, i * 3L)).toDF("k", "v")
      .repartition(8, col("k")).write.parquet(data)
    val side = FileBloomIndex.writeSidecar(spark, data, col("k"), 400L)
    def lookup() = FileBloomIndex.lookupMany(spark, data,
      spark.read.parquet(side), col("k"), Seq(5L, 77L, 5000L)).collect()
    assert(lookup().map(_.getLong(1)).sorted.toSeq == Seq(15L, 231L))
    val sidecarJobs = jobsDuring(spark.read.parquet(side))
    val lookupJobs = jobsDuring(lookup())
    assert(lookupJobs - sidecarJobs <= 2,
      s"warm lookupMany + collect: $lookupJobs jobs, $sidecarJobs for the sidecar read")
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

  test("bm25TopKIndexed evaluates a non-deterministic queries frame once") {
    import spark.implicits._
    val docs = (1 to 60).map(i => (i.toLong, if (i % 2 == 0) "alpha x" else "beta y"))
      .toDF("doc_id", "text")
    val dir = tmp("graft_bm25_once")
    Retrieval.invertedIndex(docs, "doc_id", "text")
      .write.parquet(s"$dir/postings.parquet")
    val stats = Retrieval.corpusStatsOf(docs, "text")
    val idx = spark.read.parquet(s"$dir/postings.parquet")
    def ranked(qs: DataFrame) = Retrieval.bm25TopKIndexed(idx, stats, "doc_id",
        qs, "q_id", "qtext", k = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    // each evaluation of the frame flips its query text, so a prune
    // and a scoring join that evaluated it separately would disagree
    val flip = udf(() =>
      if (ServingCacheSpec.flips.getAndIncrement() % 2 == 0) "alpha" else "beta")
      .asNondeterministic()
    val got = ranked(Seq("q").toDF("q_id").withColumn("qtext", flip()))
    val alpha = ranked(Seq(("q", "alpha")).toDF("q_id", "qtext"))
    val beta = ranked(Seq(("q", "beta")).toDF("q_id", "qtext"))
    assert(got.nonEmpty && (got == alpha || got == beta), s"$got")
  }
}

object ServingCacheSpec {
  /** Evaluation counter of the flipping query text (static, so local
    * tasks share it instead of deserializing copies). */
  val flips = new java.util.concurrent.atomic.AtomicInteger(0)
}
