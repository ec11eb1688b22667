package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** LLM-pipeline operator semantics + plan-shape (scale) asserts. */
class OpsSpec extends SparkTestBase {

  private def docs = sqlDf(
    "doc_id" -> Seq(1L, 2L, 3L, 4L),
    "text" -> Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dog",        // exact dup of 1
      "the quick brown fox jumped over the lazy dog",        // near dup of 1
      "completely different content about spark engines"))

  test("exact dedup groups identical content") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("keep_id")
    assertRows(out.select("keep_id", "n_copies"),
      Seq(Seq(1L, 2L), Seq(3L, 1L), Seq(4L, 1L)))
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      w = 3, numPerm = 64, numBands = 16, threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $pairs")
  }

  test("minhash pair generation is a join, not a per-bucket array materialization") {
    val plan = Dedup.minhashLsh(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_set") && !plan.contains("collect_list"),
      s"bucket pairing still materializes arrays:\n$plan")
  }

  test("dedupClusters merges transitive pairs into one component") {
    // chain 1-2, 2-3 plus isolated pair 5-6: components {1,2,3} and {5,6}
    val pairs = sqlDf("a" -> Seq(1L, 2L, 5L), "b" -> Seq(2L, 3L, 6L))
    val out = Dedup.dedupClusters(pairs).orderBy("doc_id")
    assertRows(out, Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(5L, 5L), Seq(6L, 5L)))
  }

  test("dedupClusters converges on a long path graph (diameter ≫ clique size)") {
    // path 0-1-2-…-12: min-label propagation moves label 0 one hop per
    // iteration, so this exercises the many-iteration convergence loop
    // (and its fused change-count) rather than the 2-round clique case
    val pairs = sqlDf("a" -> (0L until 12L), "b" -> (1L to 12L))
    val out = Dedup.dedupClusters(pairs, maxIter = 20).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == (0L to 12L).map(i => (i, 0L)))
  }

  test("dedupClusters cached-edges path == checkpoint path, labels independent of the cache") {
    // r18: past a size gate the loop re-lays the symmetrized edge list
    // out as a b-partitioned in-memory cache (so rounds re-shuffle
    // nothing fact-sized). Force the gate to 1 row: the cached path
    // must produce bit-identical labels, the returned labels must be a
    // checkpoint, not a view of the cache (readable after the bench's
    // per-run clearCache), and the cache's explicit partition count
    // must be layout only, never semantics.
    val pairs = sqlDf("a" -> Seq(1L, 2L, 5L), "b" -> Seq(2L, 3L, 6L))
    val expect = Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(5L, 5L), Seq(6L, 5L))
    assertRows(Dedup.dedupClusters(pairs).orderBy("doc_id"), expect) // default: checkpoint path
    try {
      spark.conf.set("spark.graft.ccEdgeCacheMinRows", "1")
      val out = Dedup.dedupClusters(pairs) // cached path
      spark.catalog.clearCache() // the bench's per-run hygiene
      assertRows(out.orderBy("doc_id"), expect)
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assertRows(Dedup.dedupClusters(pairs).orderBy("doc_id"), expect)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      // the deep-path fixture through the cached layout: pointer
      // doubling + many rounds over the cache, labels still exact
      val path = sqlDf("a" -> (0L until 12L), "b" -> (1L to 12L))
      val got = Dedup.dedupClusters(path, maxIter = 20).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == (0L to 12L).map(i => (i, 0L)))
    } finally spark.conf.unset("spark.graft.ccEdgeCacheMinRows")
  }

  test("dedupClustersStar equals min-label propagation; converges in O(log) rounds on a chain") {
    import spark.implicits._
    // transitive chain + isolated pair — the dedupClusters fixture
    val small = sqlDf("a" -> Seq(1L, 2L, 5L), "b" -> Seq(2L, 3L, 6L))
    assertRows(Dedup.dedupClustersStar(small).orderBy("doc_id"),
      Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(5L, 5L), Seq(6L, 5L)))
    // a deterministic pseudo-random graph: star output == propagation
    // output node for node
    val rnd = (0L until 300L).map(i =>
      ((i * 7919L) % 97L, (i * 104729L) % 97L)).filter(p => p._1 != p._2)
      .toDF("a", "b")
    val prop = Dedup.dedupClusters(rnd, maxIter = 100).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val star = Dedup.dedupClustersStar(rnd).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(star == prop, s"star != propagation:\n$star\nvs\n$prop")
    // the diameter case the swap exists for: a 200-node path needs 200
    // propagation rounds (dedupClusters' default maxIter=20 would stop
    // EARLY with wrong labels); the star contraction lands in <= 15
    val path = sqlDf("a" -> (0L until 200L), "b" -> (1L to 200L))
    val out = Dedup.dedupClustersStar(path).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == (0L to 200L).map(i => (i, 0L)))
    val (rounds, edges) = Dedup.lastCcStats.get
    assert(rounds <= 15, s"star CC took $rounds rounds on a 200-chain")
    assert(edges == 200L)
    // self-pairs and empty input are harmless
    assertRows(Dedup.dedupClustersStar(
        sqlDf("a" -> Seq(7L, 8L), "b" -> Seq(7L, 9L))).orderBy("doc_id"),
      Seq(Seq(7L, 7L), Seq(8L, 8L), Seq(9L, 8L)))
  }

  test("dedupClustersIncremental equals the full recompute: merges, takeovers, untouched clusters") {
    import spark.implicits._
    // day 1: {1,2,3} labeled 1, {5,6} labeled 5, {10,11} labeled 10
    val day1 = sqlDf("a" -> Seq(1L, 2L, 5L, 10L), "b" -> Seq(2L, 3L, 6L, 11L))
    val standing = Dedup.dedupClusters(day1)
    // day 2: a bridge MERGES clusters 1 and 5 (3-5), a new node joins
    // cluster 10 (11-20), a brand-new pair (30-31), and a new MINIMUM
    // takes over a cluster (0-2: label 1 must become 0)
    val delta = sqlDf("a" -> Seq(3L, 11L, 30L, 0L),
      "b" -> Seq(5L, 20L, 31L, 2L))
    val got = Dedup.dedupClustersIncremental(standing, delta)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = Dedup.dedupClusters(day1.unionByName(delta))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == full, s"incremental != full recompute:\n$got\nvs\n$full")
    // the merge landed under the new global min
    assert(got.toMap.view.filterKeys(Seq(0L, 1L, 2L, 3L, 5L, 6L).contains)
      .values.toSet == Set(0L))
    // an untouched cluster keeps its label verbatim... (40,41) stays
    val day1b = day1.unionByName(sqlDf("a" -> Seq(40L), "b" -> Seq(41L)))
    val standing2 = Dedup.dedupClusters(day1b)
    val got2 = Dedup.dedupClustersIncremental(standing2,
      sqlDf("a" -> Seq(30L), "b" -> Seq(31L)))
    assert(got2.filter(col("doc_id").isin(40L, 41L))
      .collect().map(_.getLong(1)).toSet == Set(40L))
    // ...and a delta touching NO standing node leaves standing intact
    assert(got2.count() == standing2.count() + 2)
  }

  test("dedupClusters uses a reliable checkpoint when a checkpoint dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = sqlDf("a" -> Seq(1L, 2L), "b" -> Seq(2L, 3L))
      val out = Dedup.dedupClusters(pairs).orderBy("doc_id")
      assertRows(out, Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L)))
      // the reliable path actually wrote RDD checkpoint files
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no checkpoint files written")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("simhash near-dup respects its hamming radius guarantee") {
    val out = Dedup.simhashNearDup(docs, "doc_id", "text", maxDist = 3)
    val pairs = out.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))  // identical text -> distance 0
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(docs, "doc_id", "text", maxDist = 16)
    }
  }

  test("hamming64 counts bit differences") {
    val df = spark.range(1).select(Dedup.hamming64(lit(0L), lit(7L)).as("d"))
    assertRows(df, Seq(Seq(3)))
  }

  test("brute-force ANN: self is its own nearest neighbor with cosine 1") {
    val vecs = sqlDf("vec_id" -> Seq(1L, 2L, 3L))
      .withColumn("embedding",
        when(col("vec_id") === 1, array(lit(1.0), lit(0.0)))
          .when(col("vec_id") === 2, array(lit(0.9), lit(0.1)))
          .otherwise(array(lit(0.0), lit(1.0))))
    val out = Similarity.bruteForceTopKJoin(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 1), "vec_id", "embedding", k = 2)
      .orderBy("rank")
    val top = out.collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(math.abs(top(0).getAs[Double]("cos") - 1.0) < 1e-9)
    assert(top(1).getAs[Long]("neighbor_id") == 2L)
  }

  test("LSH top-k finds an exact-match query vector (self-recall = 1)") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val q = vecs.filter(col("vec_id") === 0)
    val top = Similarity.lshTopKJoin(vecs, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 1, nPlanes = 8)
      .select(col("neighbor_id").as("vec_id"), col("cos"))
      .collect()(0)
    // the query IS corpus vector 0 → identical hyperplane bucket → found
    assert(top.getAs[Long]("vec_id") == 0L)
    assert(math.abs(top.getAs[Double]("cos") - 1.0) < 1e-9)
  }

  test("char-ngram md5 kernel is bit-identical to the Column reference form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .unionByName(sqlDf("text" -> Seq("", "short", "  double  spaces  ",
        "ÅÄÖ ünïcödé tōkèns İI", "a  b\t\nc!!!", "exactly twenty chars")))
    Seq(8, 20).foreach { k =>
      val diff = docs.select(
        transform(Dedup.charNgrams(col("text"), k),
          g => substring(md5(g), 1, 16)).as("a"),
        Dedup.charNgramMd5Fast(col("text"), k).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff == 0L, s"k=$k kernel mismatch")
    }
  }

  test("portable minhash band kernel is bit-identical to the Column reference form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .unionByName(sqlDf("text" -> Seq("", "one", "one two",
        "ÅÄÖ ünïcödé tōkèns İI", "a  b\t\nc!!!")))
    val diff = docs.select(
      Dedup.portableMinhashBands(col("text"), 3, 4, 2).as("a"),
      Dedup.portableMinhashBandsFast(col("text"), 3, 4, 2).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("SRP bucket kernel is bit-identical to the Column reference form") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("v", col("embedding").cast("array<double>"))
    val diff = vecs.select(
      Similarity.hyperplaneKey(col("v"), 8).as("k"),
      Similarity.hyperplaneKeyColumns(col("v"), 8).as("c"))
      .filter(col("k") =!= col("c")).count()
    assert(diff == 0L)
  }

  /** Widen the 64-dim fixture to reps×64 dims — same recipe as the
    * QueriesOps embeddings768 fixture and its DuckDB oracle. */
  private def widened(reps: Int) =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("v", flatten(transform(sequence(lit(0), lit(reps - 1)),
        r => transform(col("embedding").cast("array<double>"),
          x => x / (r + lit(1)).cast("double")))))

  test("SRP kernel == Column form at 768 dims (6-chunk sign chain)") {
    val diff = widened(12).select(
      Similarity.hyperplaneKey(col("v"), 8).as("k"),
      Similarity.hyperplaneKeyColumns(col("v"), 8, maxDims = 768).as("c"))
      .filter(col("k") =!= col("c")).count()
    assert(diff == 0L)
  }

  test("SRP kernel == Column form at 1536 dims (12-chunk sign chain)") {
    val diff = widened(24).select(
      Similarity.hyperplaneKey(col("v"), 8).as("k"),
      Similarity.hyperplaneKeyColumns(col("v"), 8, maxDims = 1536).as("c"))
      .filter(col("k") =!= col("c")).count()
    assert(diff == 0L)
  }

  test("SRP kernel == Column form at a non-multiple-of-128 width (600 dims)") {
    // kernel derives ceil(600/128)=5 chunks; the Column form planned at
    // maxDims=640 builds the same 5-chunk chain — the documented
    // form-equivalence within maxDims, at a chunk count > 1
    val vecs = widened(12).withColumn("v", slice(col("v"), 1, 600))
    val diff = vecs.select(
      Similarity.hyperplaneKey(col("v"), 8).as("k"),
      Similarity.hyperplaneKeyColumns(col("v"), 8, maxDims = 640).as("c"))
      .filter(col("k") =!= col("c")).count()
    assert(diff == 0L)
  }

  test("SRP chain is prefix-consistent: first 512 dims bucket identically under any wider chain") {
    // chunk digest b depends only on (p, b): a 512-dim prefix must get
    // the same signs whether the row is 512- or 768-dim
    val both = widened(12)
      .withColumn("v512", slice(col("v"), 1, 512))
      .select(
        Similarity.hyperplaneKey(col("v512"), 8).as("narrow"),
        Similarity.hyperplaneKeyColumns(col("v512"), 8, maxDims = 768).as("wideform"))
      .filter(col("narrow") =!= col("wideform")).count()
    assert(both == 0L)
  }

  test("srp_bucket rejects absurd vector widths loudly") {
    val e = intercept[Exception] {
      spark.range(1)
        .select(Similarity.hyperplaneKey(
          array_repeat(lit(1.0), 70000), 4).as("k"))
        .collect()
    }
    assert(e.getMessage.contains("cap") || e.getCause != null)
  }

  test("deterministic IVF stands up 4096 lists (documented broadcast bound)") {
    // 5000 synthetic 4-dim vectors; 4096 centroids broadcast ≈ 130 KB —
    // exercises the centroid table at production list counts
    val corpus = spark.range(5000).select(col("id").as("vec_id"),
      array(col("id") % 97, col("id") % 89, col("id") % 83, col("id") % 79)
        .cast("array<double>").as("embedding"))
    val (assigned, centroids) =
      Similarity.ivfIndexDeterministic(corpus, "vec_id", "embedding", nLists = 4096)
    assert(centroids.count() == 4096L)
    // every vector lands in exactly one list, all lists in range
    assert(assigned.count() == 5000L)
    assert(assigned.filter(col("list_id") < 0 || col("list_id") >= 4096).count() == 0L)
    intercept[IllegalArgumentException] {
      Similarity.ivfIndexDeterministic(corpus, "vec_id", "embedding", nLists = 100000)
    }
  }

  test("IVF top-k finds an exact-match query vector through its probed list") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (assigned, centroids) = Similarity.ivfIndex(vecs, "vec_id", "embedding", nLists = 4)
    val q = vecs.filter(col("vec_id") === 0)
    val top = Similarity.ivfTopKJoin(assigned, centroids, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 1, nprobe = 1)
      .select(col("neighbor_id").as("vec_id"), col("cos"))
      .collect()(0)
    assert(top.getAs[Long]("vec_id") == 0L)
  }

  test("fingerprint: identical docs share doc_fingerprint; different docs don't") {
    val out = TextAnalysis.fingerprint(docs, "text").select("doc_id", "doc_fingerprint")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(4L))
  }

  test("langId picks the dominant stopword profile") {
    val df = sqlDf("text" -> Seq(
      "the cat and the dog in the house of it is that for",
      "der hund und die katze ist ein tier zu mit von"))
    val out = df.select(TextAnalysis.langId(col("text")).as("l")).orderBy("l")
    assertRows(out, Seq(Seq("de"), Seq("en")))
  }

  test("langId kernel agrees with the Column-composition reference form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    val both = docs.select(
      TextAnalysis.langId(col("text")).as("fast"),
      TextAnalysis.langIdColumns(col("text")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("kernel functions are SQL-callable after extension registration") {
    graft.plans.GraftExtensions.register(spark)
    docs.createOrReplaceTempView("docs_sql")
    val out = spark.sql(
      """SELECT doc_id, simhash(text) AS sig, lang_id(text) AS lang,
        |  size(minhash_signature(text, 3, 16)) AS nsig
        |FROM docs_sql ORDER BY doc_id""".stripMargin).collect()
    assert(out.length == 4)
    assert(out(0).getAs[Long]("sig") == out(1).getAs[Long]("sig")) // exact dups
    assert(out.forall(_.getAs[Int]("nsig") == 16))
    assert(out(0).getAs[String]("lang") == "en")
  }

  test("token counting: ws/bpe-ish/approx") {
    val df = sqlDf("text" -> Seq("Hello, world 42!"))
    val out = TextAnalysis.tokenCounts(df, "text")
      .select("ws_tokens", "bpe_ish_tokens", "approx_tokens")
    // ws: [Hello,] [world] [42!] = 3; bpe-ish: Hello , world 42 ! = 5; 16 chars/4 = 4
    assertRows(out, Seq(Seq(3, 5, 4L)))
  }

  test("shinglesFast kernel matches the Column shingle form exactly") {
    val df = sqlDf("text" -> Seq(
      "The quick brown fox, jumps over the lazy dog!",
      "short",
      "two words",
      "  Ünïcode Tökens 42 here  ",
      ""))
    for (w <- Seq(2, 3, 8)) {
      val rows = df.select(
        Dedup.shingles(Dedup.tokens(col("text")), w).as("col_form"),
        Dedup.shinglesFast(col("text"), w).as("kernel")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"w=$w mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("unigram LM score ranks rare-token soup above typical text") {
    val df = sqlDf(
      "doc_id" -> Seq(1L, 2L, 3L),
      "text" -> Seq(
        "the cat sat on the mat the cat sat again",
        "the cat sat on the mat once more today",
        "zyxwv qqqjj kkzzk"))  // tokens that appear nowhere else
    val out = TextAnalysis.unigramLmScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val scores = out.map(_.getAs[Double]("lm_score"))
    assert(scores(2) > scores(0) && scores(2) > scores(1),
      s"rare-token doc must score highest: ${scores.toSeq}")
    assert(out(0).getAs[Long]("n_tokens") == 10L)
  }

  test("portable simhash: near-dups land close in hamming, unrelated far") {
    val out = Dedup.simhashPortable(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(out(0), out(1)) == 0, "identical docs must hash identically")
    assert(ham(out(0), out(2)) < ham(out(0), out(3)),
      s"near dup (${ham(out(0), out(2))}) must be closer than unrelated (${ham(out(0), out(3))})")
  }

  test("scrub redacts URL/email/IP/phone and counts each kind") {
    val df = sqlDf(
      "doc_id" -> Seq(1L),
      "text" -> Seq("visit https://ex.org/x?q=1 mail bob.smith+a@ex.co.uk " +
        "from 192.168.0.1 call +44 20 7946-0958 done"))
    val r = TextAnalysis.scrub(df, "text").select(
      "n_urls", "n_emails", "n_ips", "n_phones", "clean_text").head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 1 && r.getInt(2) == 1 && r.getInt(3) == 1)
    val clean = r.getString(4)
    assert(clean == "visit <URL> mail <EMAIL> from <IP> call <PHONE> done", clean)
  }

  test("topDomains counts hosts, ties broken by domain") {
    val df = sqlDf(
      "doc_id" -> Seq(1L, 2L, 3L),
      "text" -> Seq("https://a.org/1 https://b.org/2", "https://a.org/3", "http://c.io/"))
    assertRows(TextAnalysis.topDomains(df, "text", 2),
      Seq(Seq("a.org", 2L), Seq("b.org", 1L)))
  }

  test("paragraph dedup keeps the first corpus occurrence of each line") {
    val df = sqlDf(
      "doc_id" -> Seq(1L, 2L, 3L),
      "text" -> Seq(
        "alpha\nshared boilerplate\nbeta",
        "shared boilerplate\ngamma",
        "  \n\n"))  // only blank lines → empty doc
    val out = TextAnalysis.paragraphDedup(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("dedup_text") == "alpha\nshared boilerplate\nbeta")
    assert(out(1).getAs[String]("dedup_text") == "gamma")
    assert(out(1).getAs[Long]("n_lines") == 2L && out(1).getAs[Long]("n_kept") == 1L)
    assert(out(2).getAs[Long]("n_lines") == 0L && out(2).getAs[String]("dedup_text") == "")
    assert(out.forall(!_.getAs[Boolean]("truncated")))
  }

  test("paragraph dedup guard: a pathological doc is counted but not reassembled") {
    val giant = (1 to 50).map(i => s"line $i").mkString("\n")
    val df = sqlDf(
      "doc_id" -> Seq(1L, 2L),
      "text" -> Seq(giant, "tiny\ndoc"))
    val out = TextAnalysis.paragraphDedup(df, "doc_id", "text", maxDocLines = 10)
      .orderBy("doc_id").collect()
    // counts stay exact, reassembly is skipped, the flag says why
    assert(out(0).getAs[Long]("n_lines") == 50L && out(0).getAs[Long]("n_kept") == 50L)
    assert(out(0).getAs[String]("dedup_text") == "" && out(0).getAs[Boolean]("truncated"))
    assert(out(1).getAs[String]("dedup_text") == "tiny\ndoc")
    assert(!out(1).getAs[Boolean]("truncated"))
  }

  test("portable fingerprint is deterministic and content-sensitive") {
    val df = sqlDf(
      "doc_id" -> Seq(1L, 2L, 3L),
      "text" -> Seq("the quick brown fox", "the quick brown fox", "a different doc"))
    val out = TextAnalysis.fingerprintPortable(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("doc_fingerprint") == out(1).getAs[String]("doc_fingerprint"))
    assert(out(0).getAs[String]("doc_fingerprint") != out(2).getAs[String]("doc_fingerprint"))
    assert(out(0).getAs[Int]("n_fingerprints") > 0)
  }

  test("int8 quantization: code bounds, round-trip error, cosine preservation") {
    val vecs = spark.range(100).select(col("id"),
      transform(sequence(lit(0), lit(31)),
        i => sin(i * (col("id") + 1).cast("double")) * (col("id") + 1)).as("v"))
      .withColumn("scale", Similarity.quantScale(col("v")))
      .withColumn("q", Similarity.quantizeInt8(col("v"), col("scale")))
      .withColumn("dq", Similarity.dequantizeInt8(col("q"), col("scale")))
    // codes live in [-127, 127]
    val bounds = vecs.select(
      max(array_max(col("q"))).as("hi"), min(array_min(col("q"))).as("lo")).head()
    assert(bounds.getInt(0) <= 127 && bounds.getInt(1) >= -127)
    // elementwise round-trip error is at most scale/2 (the grid pitch)
    val maxErr = vecs.select(max(aggregate(
      zip_with(col("v"), col("dq"), (a, b) => abs(a - b) / col("scale")),
      lit(0.0), (acc, x) => greatest(acc, x)))).head().getDouble(0)
    assert(maxErr <= 0.5 + 1e-9, s"round-trip error $maxErr grid pitches")
    // cosine against the original survives quantization
    val minCos = vecs.select(min(Similarity.cosine(col("v"), col("dq")))).head().getDouble(0)
    assert(minCos > 0.999, s"cosine degraded to $minCos")
    // all-zero vectors quantize to zeros with a null scale
    val z = spark.range(1).select(array((0 until 8).map(_ => lit(0.0)): _*).as("v"))
      .withColumn("scale", Similarity.quantScale(col("v")))
      .withColumn("q", Similarity.quantizeInt8(col("v"), col("scale"))).head()
    assert(z.isNullAt(1) && z.getSeq[Int](2).forall(_ == 0))
  }

  test("wav decode: chunk walk, 16-bit PCM, unknown-chunk skip, corrupt rows") {
    import java.nio.{ByteBuffer, ByteOrder}
    def wav(bits: Int, rate: Int, samples: Seq[Int], junkChunk: Boolean): Array[Byte] = {
      val dataSize = samples.length * (bits / 8)
      val junk = if (junkChunk) 8 + 3 + 1 else 0 // "LIST" + odd size 3 + pad
      val buf = ByteBuffer.allocate(44 + junk + dataSize).order(ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes); buf.putInt(36 + junk + dataSize); buf.put("WAVE".getBytes)
      buf.put("fmt ".getBytes); buf.putInt(16); buf.putShort(1); buf.putShort(1)
      buf.putInt(rate); buf.putInt(rate * bits / 8); buf.putShort((bits / 8).toShort)
      buf.putShort(bits.toShort)
      if (junkChunk) { buf.put("LIST".getBytes); buf.putInt(3); buf.put(Array[Byte](1, 2, 3, 0)) }
      buf.put("data".getBytes); buf.putInt(dataSize)
      samples.foreach(s => if (bits == 8) buf.put(s.toByte) else buf.putShort(s.toShort))
      buf.array()
    }
    val rows = Seq(
      (1L, wav(8, 8000, Seq(0, 100, 255, 55), junkChunk = false)),
      (2L, wav(16, 44100, Seq(-32768, 32767, 0, 100), junkChunk = true)), // junk skipped
      (3L, "definitely not a wav".getBytes),
      (4L, wav(8, 8000, Seq(1, 2, 3), junkChunk = false).dropRight(1)), // truncated
      // trailing bytes AFTER the declared RIFF body (padding/ID3-style
      // tail): the walk must stop at the declared size, not flag
      // ok=false on the tail masquerading as a truncated chunk
      (5L, wav(8, 8000, Seq(7, 9), junkChunk = false) ++ "TAG0junk-tail".getBytes))
    val df = spark.createDataFrame(rows).toDF("media_id", "payload")
    val out = Multimodal.decodeWav(df).collect().sortBy(_.media_id)
    assert(out(0) == Multimodal.WavFeatures(1L, true, 8000, 1, 8, 4L,
      4.0 / 8000, (0 + 100 + 255 + 55) / 4.0, 255))
    assert(out(1) == Multimodal.WavFeatures(2L, true, 44100, 1, 16, 4L,
      4.0 / 44100, (-32768L + 32767 + 0 + 100) / 4.0, 32767))
    assert(!out(2).ok && !out(3).ok)
    assert(out(4) == Multimodal.WavFeatures(5L, true, 8000, 1, 8, 2L,
      2.0 / 8000, (7 + 9) / 2.0, 9))
  }

  test("synthetic wav round-trips through the decoder with md5-derived stats") {
    val media = Multimodal.syntheticWav(docs, "doc_id", "text", sampleRate = 8000,
      nSamples = 64)
    val out = Multimodal.decodeWav(media).collect().sortBy(_.media_id)
    assert(out.forall(_.ok) && out.forall(_.n_samples == 64L))
    // samples are md5-hex ASCII (0-9 a-f): amplitudes live in [48, 102]
    assert(out.forall(f => f.mean_amp >= 48.0 && f.mean_amp <= 102.0))
    assert(out.forall(f => f.peak_amp >= 48 && f.peak_amp <= 102))
    assert(out.forall(f => f.duration_sec == 64.0 / 8000))
    // docs 1 and 2 are identical text -> identical audio features
    assert(out(0).mean_amp == out(1).mean_amp && out(0).peak_amp == out(1).peak_amp)
  }

  test("document chunking: overlap, tail chunk, single-chunk and empty docs") {
    val df = sqlDf("doc_id" -> Seq(1L, 2L, 3L),
      "text" -> Seq((1 to 10).map(i => s"w$i").mkString(" "), "short text", "  "))
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3), r.getInt(4)))
    // 10 tokens, step 3 -> ceil(9/3)=3 chunks: [1..4], [4..7], [7..10]
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, "w1 w2 w3 w4", 4), (1L, 1, "w4 w5 w6 w7", 4), (1L, 2, "w7 w8 w9 w10", 4)))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "short text", 2)))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0, "", 0))) // empty doc: 1 empty chunk
    // r17 arithmetic chunk_tokens: counts must still equal
    // size(split(chunk_text, " ")) with the length-0 guard, including
    // the non-space-whitespace edges (trim strips spaces only, so a
    // trailing tab leaves a trailing "" token; a chunk rendering as ""
    // counts 0)
    val edge = sqlDf("doc_id" -> Seq(10L, 11L),
      "text" -> Seq("a b c\t", "\tx y"))
    val got = TextAnalysis.chunkDocuments(edge, "doc_id", "text",
        chunkTokens = 4, overlap = 0)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3), r.getInt(4)))
    got.foreach { case (_, _, ct, n) =>
      val expected = if (ct.isEmpty) 0 else ct.split(" ", -1).length
      assert(n == expected, s"chunk '$ct': got $n, expected $expected")
    }
    // no shuffle: pure projection + generate
    val plan = TextAnalysis.chunkDocuments(df, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking shuffled:\n$plan")
  }

  test("sequence packing assigns pack spans by running token offset") {
    val df = sqlDf("doc_id" -> Seq(1L, 2L, 3L, 4L, 5L),
      "n_tok" -> Seq(100, 412, 600, 0, 1))
      .repartition(3) // multi-partition: the offsets cross the scan carry
    val out = Packing.sequencePacking(df, col("n_tok"), Seq(col("doc_id").asc), 512)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 0L, 1L),      // tokens 0..99: pack 0
      (2L, 100L, 0L, 0L, 1L),    // 100..511: exactly fills pack 0
      (3L, 512L, 1L, 2L, 2L),    // 512..1111: spans packs 1-2
      (4L, 1112L, 2L, 2L, 1L),   // empty doc sits at its offset
      (5L, 1112L, 2L, 2L, 1L)))  // 1112: pack 2
  }

  test("y4m decode: header tags, per-frame params, luma stats, corrupt rows") {
    def clip(header: String, frames: Seq[(String, Array[Byte])]): Array[Byte] =
      (header.getBytes("US-ASCII") +:
        frames.map { case (fh, body) => fh.getBytes("US-ASCII") ++ body })
        .reduce(_ ++ _)
    val f0 = Array.fill(24)(10.toByte)   // 4x4 C420: 16 luma + 8 chroma
    val f1 = Array.fill(24)(30.toByte)
    val rows = Seq(
      // unknown X tag tolerated; second frame carries FRAME params
      (1L, clip("YUV4MPEG2 W4 H4 F30:1 Ip A1:1 C420 Xyscss=420\n",
        Seq(("FRAME\n", f0), ("FRAME Ixyz\n", f1)))),
      (2L, "not a video".getBytes),
      (3L, clip("YUV4MPEG2 W4 H4 F25:1 C420\n", Seq(("FRAME\n", f0.dropRight(1))))))
    val df = spark.createDataFrame(rows).toDF("media_id", "payload")
    val out = Multimodal.decodeY4m(df).collect().sortBy(_.media_id)
    assert(out(0) == Multimodal.Y4mFeatures(1L, true, 4, 4, 30.0, 2L,
      (10.0 * 16 + 30.0 * 16) / 32, 10.0))
    assert(!out(1).ok && !out(2).ok)
  }

  test("synthetic y4m round-trips through the decoder") {
    val media = Multimodal.syntheticY4m(docs, "doc_id", "text", w = 4, h = 4, frames = 3)
    val out = Multimodal.decodeY4m(media).collect().sortBy(_.media_id)
    assert(out.forall(_.ok) && out.forall(_.n_frames == 3L) && out.forall(_.fps == 25.0))
    // luma bytes are md5-hex ASCII: means live in [48, 102]
    assert(out.forall(f => f.mean_luma >= 48.0 && f.mean_luma <= 102.0))
    assert(out(0).mean_luma == out(1).mean_luma) // identical text -> identical clip
  }

  test("dhash: stable, edit-local, upscale-invariant, permissive on corrupt rows") {
    import spark.implicits._
    // hand-built 9x8 P6 (single-pixel blocks) with deterministic bytes
    def ppm(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
      val hdr = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val raster = Array.tabulate(w * h * 3)(i => px(i / 3 % w, i / 3 / w).toByte)
      hdr ++ raster
    }
    def gradient(x: Int, y: Int): Int = (x * 20 + y) & 0xFF
    val base = ppm(9, 8, gradient)
    // upscaled 2x copy: every pixel replicated into a 2x2 block —
    // block means are identical, so the hash must be bit-identical
    val up = ppm(18, 16, (x, y) => gradient(x / 2, y / 2))
    // local edit: bump pixel (0,0) far above its right neighbor
    val edited = base.clone(); edited(11) = 0xFF.toByte
    edited(12) = 0xFF.toByte; edited(13) = 0xFF.toByte
    val corrupt = "P6\n9 8\n255\n tiny".getBytes("US-ASCII")
    val df = Seq((1L, base), (2L, up), (3L, edited), (4L, corrupt))
      .toDF("media_id", "payload")
    val out = Multimodal.dHashPpm(df).collect().sortBy(_.media_id)
    assert(out(0).ok && out(1).ok && out(2).ok && !out(3).ok)
    assert(out(0).dhash == out(1).dhash, "2x pixel replication must not change the hash")
    val dist = java.lang.Long.bitCount(out(0).dhash ^ out(2).dhash)
    assert(dist >= 1 && dist <= 2, s"single-pixel edit moved $dist bits (want 1-2)")
  }

  test("hammingNearDupSigs pairs within the pigeonhole radius only") {
    val sigs = sqlDf(
      "id" -> Seq(1L, 2L, 3L, 4L),
      "sig" -> Seq(0L, 1L, 7L, -1L)) // 0<->1 dist 1, 0<->7 dist 3, 1<->7 dist 2; -1 is 64 bits away
    val out = Dedup.hammingNearDupSigs(sigs, "id", "sig", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set((1L, 2L, 1), (1L, 3L, 3), (2L, 3L, 2)), s"got $out")
  }

  test("range join matches the naive cross-product semantics") {
    val points = sqlDf("p_id" -> Seq(1L, 2L, 3L, 4L), "v" -> Seq(5L, 17L, 30L, 100L))
    val ivs = sqlDf("i_id" -> Seq(10L, 20L), "lo" -> Seq(0L, 15L), "hi" -> Seq(20L, 35L))
    val got = RangeJoin.pointInInterval(points, "v", ivs, "lo", "hi", binWidth = 7L)
      .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = points.crossJoin(ivs)
      .filter(col("v").between(col("lo"), col("hi")))
      .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"got $got expected $expected")
    // v=17 is in both intervals; v=100 in neither
    assert(got.contains((2L, 10L)) && got.contains((2L, 20L)) && !got.exists(_._1 == 4L))
  }

  test("range join replication stats bound the bin explode for a known distribution") {
    // ten aligned length-20 intervals, binWidth 10 → exactly 2 bins each
    val ivs = sqlDf("i_id" -> (0L until 10L),
      "lo" -> (0L until 10L).map(_ * 10L),
      "hi" -> (0L until 10L).map(_ * 10L + 19L))
    val s10 = RangeJoin.replicationStats(ivs, "lo", "hi", binWidth = 10L)
    assert(s10 == RangeJoin.ReplicationStats(10L, 20L, 2.0, 2L), s10.toString)
    // widening the bins to the full span collapses replication to ~1
    val s100 = RangeJoin.replicationStats(ivs, "lo", "hi", binWidth = 100L)
    assert(s100.replicatedRows <= 11L && s100.maxBinsPerInterval <= 2L, s100.toString)
    // one huge interval shows up in max, not hidden in the average
    val skew = sqlDf("i_id" -> Seq(1L, 2L), "lo" -> Seq(0L, 0L), "hi" -> Seq(9L, 999L))
    val sk = RangeJoin.replicationStats(skew, "lo", "hi", binWidth = 10L)
    assert(sk.maxBinsPerInterval == 100L && sk.intervals == 2L, sk.toString)
  }

  test("range join plan is an equi-join on the bin, not a nested loop") {
    val points = sqlDf("p_id" -> Seq(1L), "v" -> Seq(5L))
    val ivs = sqlDf("i_id" -> Seq(10L), "lo" -> Seq(0L), "hi" -> Seq(20L))
    val plan = RangeJoin.pointInInterval(points, "v", ivs, "lo", "hi", binWidth = 7L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"range join fell back to a nested loop:\n$plan")
  }

  test("native distance kernels are bit-identical to the Column forms") {
    val vecs = spark.range(200).select(col("id"),
      transform(sequence(lit(0), lit(15)),
        i => sin(i * (col("id") + 1).cast("double"))).as("v"),
      transform(sequence(lit(0), lit(15)),
        i => cos(i * (col("id") + 2).cast("double"))).as("w"))
    val diffs = vecs.select(
      (Similarity.cosine(col("v"), col("w")) === Similarity.cosineColumns(col("v"), col("w"))).as("c"),
      (Similarity.dot(col("v"), col("w")) === Similarity.dotColumns(col("v"), col("w"))).as("d"),
      (Similarity.l2(col("v"), col("w")) === Similarity.l2Columns(col("v"), col("w"))).as("l"))
      .filter(!col("c") || !col("d") || !col("l")).count()
    assert(diffs == 0L)
  }

  private def asofLeft = sqlDf(
    "k" -> Seq("a", "a", "a", "b"),
    "t" -> Seq(5L, 10L, 2L, 7L),
    "lv" -> Seq("l1", "l2", "l3", "l4"))
  private def asofRight = sqlDf(
    "k" -> Seq("a", "a", "b"),
    "t" -> Seq(5L, 8L, 9L),
    "rv" -> Seq(50.0, 80.0, 90.0))

  test("asof backward attaches most recent right row, inclusive on ties") {
    val out = AsofJoin.asof(asofLeft, asofRight, Seq("k"), "t", Seq("rv"))
      .orderBy("k", "t").collect()
    // a@2 -> none; a@5 -> 5 (inclusive); a@10 -> 8; b@7 -> none (9 is after)
    assert(out.map(r => Option(r.getAs[java.lang.Double]("rv"))).toSeq ==
      Seq(None, Some(50.0), Some(80.0), None))
  }

  test("asof forward attaches earliest right row at-or-after") {
    val out = AsofJoin.asof(asofLeft, asofRight, Seq("k"), "t", Seq("rv"),
        direction = "forward")
      .orderBy("k", "t").collect()
    // a@2 -> 5; a@5 -> 5 (inclusive); a@10 -> none; b@7 -> 9
    assert(out.map(r => Option(r.getAs[java.lang.Double]("rv"))).toSeq ==
      Seq(Some(50.0), Some(50.0), None, Some(90.0)))
  }

  test("asof nearest picks the closer side, backward on ties, one shuffle") {
    val out = AsofJoin.asof(asofLeft, asofRight, Seq("k"), "t", Seq("rv"),
        direction = "nearest")
      .orderBy("k", "t").collect()
    // a@2 -> 5 (only forward); a@5 -> 5 (tie gap 0, backward);
    // a@10 -> 8 (back gap 2, no forward); b@7 -> 9 (only forward)
    assert(out.map(r => Option(r.getAs[java.lang.Double]("rv"))).toSeq ==
      Seq(Some(50.0), Some(50.0), Some(80.0), Some(90.0)))
    // equidistant: a@6.5-style — right at 5 and 8, left at t=6 is
    // nearer 5; t=7 is nearer 8 (gap 1 vs 2)
    val mid = sqlDf("k" -> Seq("a", "a"), "t" -> Seq(6L, 7L), "lv" -> Seq("m1", "m2"))
    val got = AsofJoin.asof(mid, asofRight, Seq("k"), "t", Seq("rv"),
        direction = "nearest")
      .orderBy("t").collect().map(_.getAs[Double]("rv")).toSeq
    assert(got == Seq(50.0, 80.0))
    // nearest tolerance bounds the ABSOLUTE gap
    val tol = AsofJoin.asof(mid, asofRight, Seq("k"), "t", Seq("rv"),
        direction = "nearest", tolerance = Some(lit(0L)))
      .orderBy("t").collect().map(r => Option(r.getAs[java.lang.Double]("rv"))).toSeq
    assert(tol == Seq(None, None))
    // both directional windows share ONE hash exchange on the by-key
    val plan = AsofJoin.asof(asofLeft, asofRight, Seq("k"), "t", Seq("rv"),
        direction = "nearest").queryExecution.executedPlan
    def count(p: org.apache.spark.sql.execution.SparkPlan): Int =
      (if (p.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) 1 else 0) +
        p.children.map(count).sum
    assert(count(plan) == 1, s"nearest asof shuffled more than once:\n$plan")
  }

  test("asofGlobal nearest crosses bin boundaries in both directions") {
    // bins of width 10; right rows at 8 and 31; left rows placed so the
    // nearest match lives in a NEIGHBOR bin on each side
    val left = sqlDf("t" -> Seq(12L, 28L, 20L), "lv" -> Seq("a", "b", "c"))
    val right = sqlDf("t" -> Seq(8L, 31L), "rv" -> Seq(80.0, 310.0))
    val out = AsofJoin.asofGlobal(left, right, "t", Seq("rv"),
        direction = "nearest")(c => floor(c / 10).cast("long"))
      .orderBy("t").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // t=12: back 8 (gap 4) vs fwd 31 (gap 19) -> 80 (backward carry)
    // t=20: back 8 (gap 12) vs fwd 31 (gap 11) -> 310 (forward carry)
    // t=28: back 8 (gap 20) vs fwd 31 (gap 3) -> 310
    assert(out == Seq((12L, 80.0), (20L, 310.0), (28L, 310.0)))
    // nearest tolerance bounds the absolute gap
    val tol = AsofJoin.asofGlobal(left, right, "t", Seq("rv"),
        direction = "nearest", tolerance = Some(lit(4L)))(c => floor(c / 10).cast("long"))
      .orderBy("t").collect().map(r => Option(r.getAs[java.lang.Double]("rv"))).toSeq
    assert(tol == Seq(Some(80.0), None, Some(310.0)))
  }

  test("asof tolerance nulls matches farther than the bound") {
    val out = AsofJoin.asof(asofLeft, asofRight, Seq("k"), "t", Seq("rv"),
        tolerance = Some(lit(2L)))
      .orderBy("k", "t").collect()
    // a@5 -> 5 (gap 0 <= 2); a@10 -> 8 (gap 2 <= 2); a@2, b@7 -> none
    assert(out.map(r => Option(r.getAs[java.lang.Double]("rv"))).toSeq ==
      Seq(None, Some(50.0), Some(80.0), None))
  }

  test("hash sampling is deterministic, nested, and near the target rate") {
    val ids = spark.range(20000).toDF("k")
    val s20 = Sampling.hashSample(ids, col("k"), 0.2).collect().map(_.getLong(0)).toSet
    val s50 = Sampling.hashSample(ids, col("k"), 0.5).collect().map(_.getLong(0)).toSet
    assert(s20.subsetOf(s50), "lower-rate sample must nest inside higher-rate")
    assert(math.abs(s20.size / 20000.0 - 0.2) < 0.02)
    assert(math.abs(s50.size / 20000.0 - 0.5) < 0.02)
    // re-run = same rows (pure filter, no RNG)
    val again = Sampling.hashSample(ids, col("k"), 0.2).collect().map(_.getLong(0)).toSet
    assert(again == s20)
  }

  test("stratified sampling applies per-stratum rates") {
    val df = spark.range(20000).toDF("k")
      .withColumn("g", when(col("k") % 2 === 0, "big").otherwise("small"))
    val out = Sampling.stratifiedSample(df, col("k"), col("g"),
        Map("big" -> 0.1), defaultRate = 0.9)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(out("big") / 10000.0 - 0.1) < 0.02, s"got $out")
    assert(math.abs(out("small") / 10000.0 - 0.9) < 0.02, s"got $out")
  }

  test("gopher rules: bullet/ellipsis/alpha/symbol fractions on a crafted doc") {
    val text = "- bullet one\nplain line here...\nwords ### 42"
    val out = TextAnalysis.gopherRules(sqlDf("text" -> Seq(text)), "text").collect()(0)
    assert(out.getAs[Long]("n_words") == 9)
    assert(math.abs(out.getAs[Double]("bullet_line_frac") - 1.0 / 3) < 1e-15)
    assert(math.abs(out.getAs[Double]("ellipsis_line_frac") - 1.0 / 3) < 1e-15)
    // '###' and 'here...' are symbol words
    assert(math.abs(out.getAs[Double]("symbol_word_frac") - 2.0 / 9) < 1e-15)
    assert(!out.getAs[Boolean]("gopher_pass")) // < 50 words
  }

  test("repetition: duplicate lines and dominant bigram are measured") {
    val text = "same line\nsame line\nunique content words"
    val out = TextAnalysis.repetition(
      sqlDf("doc_id" -> Seq(1L), "text" -> Seq(text)), "doc_id", "text").collect()(0)
    assert(out.getAs[Long]("n_lines") == 3)
    assert(math.abs(out.getAs[Double]("dup_line_frac") - 2.0 / 3) < 1e-15)
    // bigrams: (same line)x2, (line same), (line unique), (unique content),
    // (content words) -> top 2 of 6
    assert(math.abs(out.getAs[Double]("top_bigram_frac") - 2.0 / 6) < 1e-15)
  }

  test("decontamination flags train docs sharing an n-gram with test docs") {
    val train = sqlDf(
      "doc_id" -> Seq(1L, 2L),
      "text" -> Seq("alpha beta gamma delta", "totally unrelated words here"))
    val test = sqlDf(
      "doc_id" -> Seq(9L),
      "text" -> Seq("prefix alpha beta gamma suffix"))
    val out = Contamination.decontaminate(train, test, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("contaminated"))   // shares "alpha beta gamma"
    assert(out(0).getAs[Long]("n_contaminated") == 1L)
    assert(!out(1).getAs[Boolean]("contaminated"))
  }

  test("asof join plan is one shuffle on the by-key, no join node") {
    val plan = AsofJoin.asof(asofLeft, asofRight, Seq("k"), "t", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"asof must not plan a join:\n$plan")
    assert("hashpartitioning\\(k".r.findAllIn(plan).size >= 1)
  }

  test("asof refuses an empty by key (single-partition hazard)") {
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asof(asofLeft, asofRight, Seq.empty, "t", Seq("rv"))
    }
    assert(e.getMessage.contains("asofGlobal"))
  }

  // keyless ground truth: the keyed asof with a constant by-column has
  // identical semantics on a tiny frame (bins removed from the picture)
  private def globalTruth(direction: String, tol: Option[org.apache.spark.sql.Column] = None) =
    AsofJoin.asof(
      asofLeft.drop("k").withColumn("c", lit(1)),
      asofRight.drop("k").withColumn("c", lit(1)),
      Seq("c"), "t", Seq("rv"), direction, tol)
      .drop("c").orderBy("t", "lv").collect().toSeq

  private def globalOut(direction: String, tol: Option[org.apache.spark.sql.Column] = None) =
    AsofJoin.asofGlobal(asofLeft.drop("k"), asofRight.drop("k"), "t",
      Seq("rv"), direction, tol)(c => floor(c / lit(3L)).cast("long"))
      .orderBy("t", "lv").collect().toSeq

  test("asofGlobal backward/forward/tolerance match the keyed ground truth") {
    // bin width 3 over t in [2,10] -> carries cross several bin edges
    assert(globalOut("backward") == globalTruth("backward"))
    assert(globalOut("forward") == globalTruth("forward"))
    assert(globalOut("backward", Some(lit(2L))) == globalTruth("backward", Some(lit(2L))))
  }

  test("asofGlobal fill window is partitioned on the bin, not global") {
    import org.apache.spark.sql.execution.window.WindowExec
    val q = AsofJoin.asofGlobal(asofLeft.drop("k"), asofRight.drop("k"), "t",
      Seq("rv"))(c => floor(c / lit(3L)).cast("long"))
    def nodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(nodes)
    val ws = nodes(q.queryExecution.executedPlan).collect { case w: WindowExec => w }
    // the data-sized fill window carries the value column (the
    // __asof_on fill itself is pruned when tolerance is unused) and
    // must be partitioned on the bin
    val fills = ws.filter(_.windowExpression.mkString.contains("rv"))
    assert(fills.nonEmpty)
    assert(fills.forall(_.partitionSpec.nonEmpty),
      "asofGlobal fill window lost its bin partitioning")
    // at most the carry window (over the #bins-sized table) is unpartitioned
    assert(ws.count(_.partitionSpec.isEmpty) <= 1)
  }

  test("dupSpanStats: shared span found, clean doc zero-filled, short twins whole-doc") {
    // d1/d2 share " hello wonderful world " (23 normalized chars, d2
    // via whitespace collapse); d3 shares nothing; d4/d5 are identical
    // shorter-than-k docs (single whole-doc gram)
    val d = sqlDf(
      "doc_id" -> Seq(1L, 2L, 3L, 4L, 5L),
      "text" -> Seq(
        "XQ hello wonderful world QY",
        "Z hello  wonderful world K",
        "totally unique content 12345 abcdef",
        "tiny", "tiny"))
    val out = TextAnalysis.dupSpanStats(d, "doc_id", "text", k = 10)
      .orderBy("doc_id")
    assertRows(out.select("doc_id", "n_chars", "n_dup_spans", "dup_chars",
        "longest_dup_span"),
      Seq(Seq(1L, 27, 1, 23, 23), Seq(2L, 25, 1, 23, 23),
        Seq(3L, 35, 0, 0, 0), Seq(4L, 4, 1, 4, 4), Seq(5L, 4, 1, 4, 4)))
    // span offsets are 1-based into the NORMALIZED text
    val spans = TextAnalysis.dupSpans(d, "doc_id", "text", k = 10)
      .filter(col("doc_id") === 1L)
    assertRows(spans.select("span_start", "span_end"), Seq(Seq(3, 25)))
  }

  test("dupSpans merges overlapping islands and windows only by doc") {
    // one doc repeating a phrase: within-doc multiplicity counts, and
    // the covered intervals of consecutive positions merge to ONE span
    val d = sqlDf(
      "doc_id" -> Seq(1L, 2L),
      "text" -> Seq("abcdefghij abcdefghij", "zzzzz different here"))
    val out = TextAnalysis.dupSpanStats(d, "doc_id", "text", k = 10)
      .orderBy("doc_id")
    // both copies of "abcdefghij" are covered; the gap char (space at
    // 11) is inside [pos, pos+k-1] of straddling duplicated grams? no —
    // only the two aligned 10-grams "abcdefghij" repeat, at pos 1 and
    // 12, giving intervals [1,10] and [12,21]: NOT adjacent (11 gap)
    assertRows(out.select("doc_id", "n_dup_spans", "dup_chars"),
      Seq(Seq(1L, 2, 20), Seq(2L, 0, 0)))
    val w = out.queryExecution.executedPlan.collect {
      case p: org.apache.spark.sql.execution.window.WindowExec => p
    }
    assert(w.forall(_.partitionSpec.nonEmpty),
      "dupSpans island sweep must window by doc, never globally")
  }

  test("canonicalUrl normalizes case/port/www/tracking/slash/fragment") {
    val d = sqlDf("url" -> Seq(
      "HTTPS://WWW.Site.COM:443/a/?utm_source=x&id=7#frag",
      "https://site.com/a?id=7",
      "http://Host.ORG:80/",
      "http://host.org",
      "https://h.io/p?fbclid=1&b=2&utm_medium=m&a=1",
      "ftp://Files.NET:443/x/",
      "not a url at all"))
    val out = TextAnalysis.canonicalUrl(col("url"))
    assertRows(d.select(out),
      Seq(Seq("https://site.com/a?id=7"),
        Seq("https://site.com/a?id=7"),
        Seq("http://host.org"),
        Seq("http://host.org"),
        Seq("https://h.io/p?b=2&a=1"),
        Seq("ftp://files.net:443/x"),
        Seq("not a url at all")))
  }

  test("splitAssign partitions every row, stays stable under corpus growth") {
    val d = sqlDf("id" -> (1L to 200L))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitAssign(d, col("id"), splits)
    assert(out.count() == 200)
    val byName = out.groupBy("split").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > byName("val") && byName("train") > byName("test"))
    // growth stability: the first 100 rows keep their assignment
    val small = Sampling.splitAssign(sqlDf("id" -> (1L to 100L)), col("id"), splits)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val big = out.filter(col("id") <= 100)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(small == big)
  }

  test("mixtureSample keeps the binding stratum whole and rates the rest exactly") {
    // A: 1000 tokens, B: 300; equal weights -> N* = min(2000, 600) =
    // 600 -> rate_A = 0.5*600/1000 = 0.3, rate_B = 1.0
    val d = sqlDf(
      "id" -> (1L to 13L),
      "s" -> (Seq.fill(10)("A") ++ Seq.fill(3)("B")),
      "tok" -> (Seq.fill(10)(100) ++ Seq.fill(3)(100)))
    val out = Sampling.mixtureSample(d, col("id"), col("s"), col("tok"),
      Map("A" -> 0.5, "B" -> 0.5))
    val rates = out.select("s", "mix_rate").distinct().orderBy("s").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rates.getOrElse("B", -1.0) == 1.0)
    assert(rates.get("A").forall(r => math.abs(r - 0.3) < 1e-12))
    // every B row survives; A rows are exactly the md5-bucket subset
    assert(out.filter(col("s") === "B").count() == 3)
    val expectA = d.filter(col("s") === "A")
      .filter(Sampling.hashBucket(col("id")) < lit(Sampling.thresholdHex(0.3)))
      .count()
    assert(out.filter(col("s") === "A").count() == expectA)
    // weights are scale-invariant: 10x weights, same selection
    val out2 = Sampling.mixtureSample(d, col("id"), col("s"), col("tok"),
      Map("A" -> 5.0, "B" -> 5.0))
    assert(out2.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      out.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("semanticDedup drops the larger-id twin, keeps the orthogonal vector") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      nLists = 2, threshold = 0.9).orderBy("vec_id").collect()
    assert(out.map(_.getAs[Boolean]("is_dup")).toSeq == Seq(false, true, false))
    // identical vectors must land in the same deterministic cluster
    assert(out(0).getAs[Int]("list_id") == out(1).getAs[Int]("list_id"))
  }

  test("keySkew surfaces the hot key with its share, profiles NULLs") {
    import spark.implicits._
    val d = (Seq.fill(6)(Option(1L)) ++ Seq(Some(2L), Some(3L), None, None))
      .toDF("k")
    val out = Profiling.keySkew(d, col("k"), k = 2)
      .orderBy(col("cnt").desc, col("key")).collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("key") == 1L && out(0).getAs[Long]("cnt") == 6L)
    assert(out(0).getAs[Long]("n_keys") == 4L) // 1, 2, 3, NULL
    assert(out(0).getAs[Long]("n_rows") == 10L)
    assert(out(0).getAs[Double]("share") == 0.6)
    // NULL keys count as a (hazardous) key of their own
    assert(out(1).isNullAt(out(1).fieldIndex("key")) && out(1).getAs[Long]("cnt") == 2L)
  }

  test("stripDupSpans cuts exactly the duplicated spans, clean docs pass through") {
    import spark.implicits._
    val boiler = "x" * 30 // shared 30-char block -> duplicated spans
    val df = Seq(
      (1L, s"alpha unique head $boiler beta tail one"),
      (2L, s"gamma other prefix $boiler delta tail two"),
      (3L, "completely unique document with no shared block at all"))
      .toDF("doc_id", "text")
    val spans = TextAnalysis.dupSpans(df, "doc_id", "text", k = 20)
      .collect().groupBy(_.getLong(0))
    val out = TextAnalysis.stripDupSpans(df, "doc_id", "text", k = 20)
      .orderBy("doc_id").collect()
    // removed_chars per doc == total span chars dupSpans reported
    for (r <- out; id = r.getLong(0)) {
      val expect = spans.get(id).map(_.map(_.getAs[Int]("span_len")).sum).getOrElse(0)
      assert(r.getAs[Long]("removed_chars") == expect.toLong, s"doc $id")
      assert(r.getAs[Long]("clean_chars") ==
        r.getAs[Long]("n_chars") - r.getAs[Long]("removed_chars"))
    }
    // doc 3 untouched; docs 1/2 keep their unique head and tail text
    assert(out(2).getAs[Long]("removed_chars") == 0L)
    assert(out(0).getAs[String]("clean_text").startsWith("alpha unique head"))
    assert(out(0).getAs[String]("clean_text").endsWith("tail one"))
    assert(!out(0).getAs[String]("clean_text").contains("xxxxx"))
  }

  test("shardManifest: fixed-row cut, digest is order-sensitive + partition-invariant") {
    import spark.implicits._
    val df = (1L to 10L).map(i => (i, i * 10L)).toDF("id", "tok")
    val m = Packing.shardManifest(df, col("id"), col("tok"),
        Seq(col("id").asc), shardRows = 4L)
      .orderBy("shard_id").collect()
    assert(m.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 4L, 100L), (1L, 4L, 260L), (2L, 2L, 190L)))
    assert(m.map(r => (r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1L, 4L), (5L, 8L), (9L, 10L)))
    // repartitioning must reproduce the identical digests (the audit
    // property a resumed pipeline depends on)
    val m2 = Packing.shardManifest(df.repartition(7), col("id"), col("tok"),
        Seq(col("id").asc), shardRows = 4L)
      .orderBy("shard_id").collect()
    assert(m.map(_.getString(5)).toSeq == m2.map(_.getString(5)).toSeq)
    // a different order changes the digest (order-sensitivity)
    val m3 = Packing.shardManifest(df, col("id"), col("tok"),
        Seq(col("id").desc), shardRows = 4L)
      .orderBy("shard_id").collect()
    assert(m.map(_.getString(5)).toSeq != m3.map(_.getString(5)).toSeq)
  }

  test("decontaminateSemantic flags near-paraphrases, argmax tie to lowest bench id") {
    import spark.implicits._
    val bench = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("bid", "bv")
    val corpus = Seq(
      (10L, Seq(0.999, 0.04)),  // ~bench 1: contaminated
      (11L, Seq(0.5, 0.5)),     // equidistant: clean, tie -> bench 1
      (12L, Seq(-1.0, 0.0)))    // far from both: clean
      .toDF("vec_id", "embedding")
    val out = Contamination.decontaminateSemantic(corpus, "vec_id", "embedding",
        bench, "bid", "bv", threshold = 0.99)
      .orderBy("vec_id").collect()
    assert(out.map(_.getAs[Boolean]("contaminated")).toSeq ==
      Seq(true, false, false))
    assert(out(0).getAs[Long]("best_bench_id") == 1L)
    assert(out(1).getAs[Long]("best_bench_id") == 1L) // tie -> lowest id
  }

  test("lDiversity: uniform classes flagged regardless of size") {
    import spark.implicits._
    // class (a): 4 rows, all sensitive 's1' -> diversity 1 (at risk
    // for l=2 despite being the LARGEST class); class (b): 2 rows,
    // 2 distinct values -> diversity 2
    val df = Seq(("a", "s1"), ("a", "s1"), ("a", "s1"), ("a", "s1"),
      ("b", "s1"), ("b", "s2")).toDF("q", "sens")
    val out = Profiling.lDiversity(df, Seq("q"), "sens", l = 2)
      .orderBy("diversity").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq == Seq((1L, 1L, 4L, true), (2L, 1L, 2L, false)))
    assert(out.head.getAs[Long]("l_diversity") == 1L)
    assert(out.head.getAs[Long]("rows_at_risk") == 4L)
    assert(out.head.getAs[Double]("risk_share") == 4.0 / 6.0)
  }

  test("waterFillQuotas: hand-computed water level, exhaustion, under-budget") {
    import spark.implicits._
    // totals a=2, b=9, c=9; budget 10 -> lambda=4, quotas [2, 4, 4]
    val rows = Seq(("a", 1L, 2L), ("b", 1L, 9L), ("c", 1L, 9L))
      .flatMap { case (s0, _, t0) => (1L to t0).map(_ => (s0, 1L)) }
    val df = rows.toDF("src", "tok")
    val out = Sampling.waterFillQuotas(df, col("src"), col("tok"), budget = 10.0)
      .orderBy("stratum").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("a", 2L, 2.0), ("b", 9L, 4.0), ("c", 9L, 4.0)))
    assert(out.map(_.getDouble(2)).sum == 10.0) // quotas exhaust the budget
    // under-budget: every stratum keeps its total
    val loose = Sampling.waterFillQuotas(df, col("src"), col("tok"), budget = 100.0)
      .orderBy("stratum").collect()
    assert(loose.map(_.getDouble(2)).toSeq == Seq(2.0, 9.0, 9.0))
  }

  test("embeddingOutliers flags the farthest frac per stratum, integer rank rule") {
    import spark.implicits._
    // stratum g: 20 vectors near (1,0), one far at (-1,0) -> with
    // frac 0.05 exactly floor(0.05*21)=1 flagged, and it's the far one
    val vecs = ((1 to 20).map(i => (i.toLong, "g", Seq(1.0, i / 1000.0))) :+
      (99L, "g", Seq(-1.0, 0.0))).toDF("vec_id", "label", "embedding")
    val out = Similarity.embeddingOutliers(vecs, Seq("label"), "vec_id",
        col("embedding"), dims = 2, outlierFrac = 0.05)
      .collect()
    val flagged = out.filter(_.getAs[Boolean]("is_outlier"))
    assert(flagged.length == 1 && flagged.head.getAs[Long]("vec_id") == 99L)
    // partitioning-invariant (fixed-point centroid)
    val rep = Similarity.embeddingOutliers(vecs.repartition(7), Seq("label"),
        "vec_id", col("embedding"), dims = 2, outlierFrac = 0.05)
      .collect().map(r => (r.getLong(1), r.getBoolean(3))).toSet
    assert(rep == out.map(r => (r.getLong(1), r.getBoolean(3))).toSet)
  }

  test("selectToQuotas: per-stratum greedy prefix under the allocator's caps") {
    import spark.implicits._
    // stratum a: docs 3+3+3 tokens under quota 7 -> keep first two
    // (order: tokens desc, id) = ids 1, 2; stratum b: quota covers all
    val df = Seq((1L, "a", 3L), (2L, "a", 3L), (3L, "a", 3L),
      (4L, "b", 2L), (5L, "b", 1L)).toDF("doc_id", "src", "tok")
    val quotas = Seq(("a", 7.0), ("b", 10.0)).toDF("stratum", "quota")
    val out = Sampling.selectToQuotas(df, col("src"), col("tok"),
        Seq(col("tok").desc, col("doc_id").asc), quotas)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 5L))
    // cum audit: whole-document convention (doc 3 at cum 9 > 7 drops)
    assert(out.map(_.getAs[Long]("cum_tokens")).toSeq == Seq(3L, 6L, 2L, 3L))
  }

  test("poissonBootstrap: constant column collapses the CI; partitioning-invariant") {
    import spark.implicits._
    val const = (1L to 400L).map((_, 5.0)).toDF("id", "x")
    val c = Profiling.poissonBootstrap(const, col("id"), col("x"), b = 8).head()
    // every replica estimate of a constant is the constant
    assert(c.getAs[Double]("est") == 5.0 && c.getAs[Double]("boot_mean") == 5.0)
    assert(c.getAs[Double]("boot_sd") == 0.0)
    assert(c.getAs[Double]("ci_lo") == 5.0 && c.getAs[Double]("ci_hi") == 5.0)
    // varying data: CI brackets the estimate, and the decimal sums
    // make the whole row partitioning-invariant
    val varied = (1L to 400L).map(i => (i, (i % 37).toDouble)).toDF("id", "x")
    val v1 = Profiling.poissonBootstrap(varied, col("id"), col("x"), b = 8).head()
    val v2 = Profiling.poissonBootstrap(varied.repartition(13),
      col("id"), col("x"), b = 8).head()
    assert(v1 == v2)
    assert(v1.getAs[Double]("ci_lo") <= v1.getAs[Double]("est") &&
      v1.getAs[Double]("est") <= v1.getAs[Double]("ci_hi"))
    assert(v1.getAs[Double]("boot_sd") > 0.0)
  }

  test("calibrateByStratum: within-stratum percentile ranks, singleton pins 0.5") {
    val d = sqlDf("g" -> Seq("a", "a", "a", "a", "b"),
      "x" -> Seq(10.0, 20.0, 20.0, 40.0, 7.0))
    val out = Profiling.calibrateByStratum(d, col("g"), col("x"), "cal")
      .orderBy("g", "x").collect().map(_.getAs[Double]("cal")).toSeq
    // stratum a: minRanks 1,2,2,4 over n=4 -> 0, 1/3, 1/3, 1; b: singleton
    assert(out == Seq(0.0, 1.0 / 3, 1.0 / 3, 1.0, 0.5))
    // calibration is partitioning-invariant (one window Exchange)
    val rep = Profiling.calibrateByStratum(d.repartition(7), col("g"), col("x"), "cal")
      .orderBy("g", "x").collect().map(_.getAs[Double]("cal")).toSeq
    assert(rep == out)
  }

  test("cohenKappa: chance-corrected agreement, nulls excluded") {
    // n11=2, n00=1, n10=1, n01=0 -> po=0.75, pe=0.5, kappa=0.5; the
    // null-verdict row must fall out of n entirely
    val d = sqlDf(
      "a" -> Seq[Any](true, true, true, false, null),
      "b" -> Seq[Any](true, true, false, false, true))
    val r = Profiling.cohenKappa(d, col("a"), col("b")).head()
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("p_both") == 0.5 && r.getAs[Double]("p_neither") == 0.25)
    assert(r.getAs[Double]("po") == 0.75 && r.getAs[Double]("pe") == 0.5)
    assert(r.getAs[Double]("kappa") == 0.5)
    // degenerate: identical constant filters agree with kappa 1
    val const = sqlDf("x" -> Seq(1, 2))
    val k1 = Profiling.cohenKappa(const, lit(true), lit(true)).head()
    assert(k1.getAs[Double]("kappa") == 1.0)
  }

  test("conversionFunnel enforces strict event order, first-touch") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, t(0), "view"), (1L, t(1), "click"), (1L, t(2), "buy"),   // converts
      (2L, t(0), "view"), (2L, t(1), "click"),                      // no buy
      (3L, t(1), "click"), (3L, t(2), "view"), (3L, t(3), "buy"),   // click BEFORE view: buy counts only if a click follows the first view — none does
      (4L, t(0), "buy"), (4L, t(1), "view")                         // buy before view
    ).toDF("user_id", "ts", "etype")
    val out = EventAnalytics.conversionFunnel(ev, col("user_id"), col("ts"),
        col("etype"), Seq("view", "click", "buy"))
      .orderBy("stage_idx").collect()
    assert(out.map(r => (r.getString(1), r.getAs[Long]("users"))).toSeq ==
      Seq(("view", 4L), ("click", 2L), ("buy", 1L)))
    assert(out.last.getAs[Double]("frac_of_first") == 0.25)
  }

  test("RBO: identity = 1, top swap hurts more than tail swap, disjoint = 0") {
    def ranking(pairs: (Long, Seq[Long])*) = sqlDf(
      "query_id" -> pairs.flatMap { case (q, ns) => Seq.fill(ns.length)(q) },
      "neighbor_id" -> pairs.flatMap(_._2),
      "rank" -> pairs.flatMap { case (_, ns) => (1 to ns.length).map(_.toLong) })
    val ident = ranking(1L -> (1L to 10L))
    def rboOf(b: org.apache.spark.sql.DataFrame): Double =
      Similarity.rbo(ident, b, k = 10).collect().head.getDouble(1)
    // dsum accumulates on a 6-decimal grid: identity = 1 within 1e-5
    assert(math.abs(rboOf(ident) - 1.0) < 1e-5, "identical rankings must score ~1")
    // swap ranks 1<->2 vs swap ranks 9<->10: the top swap must cost more
    val topSwap = ranking(1L -> (Seq(2L, 1L) ++ (3L to 10L)))
    val tailSwap = ranking(1L -> ((1L to 8L) ++ Seq(10L, 9L)))
    assert(rboOf(topSwap) < rboOf(tailSwap),
      s"top swap ${rboOf(topSwap)} must score below tail swap ${rboOf(tailSwap)}")
    assert(rboOf(tailSwap) < 1.0 && rboOf(topSwap) > 0.0)
    // completely disjoint rankings surface as 0, not a missing row
    val disjoint = ranking(1L -> (101L to 110L))
    assert(rboOf(disjoint) == 0.0)
  }

  test("DSIR weights rank target-domain docs above off-domain docs") {
    import spark.implicits._
    // two disjoint-vocabulary domains; the target sample comes from A
    val a = Seq.tabulate(6)(i => (i.toLong, s"alpha beta gamma delta epsilon zeta e$i", "A"))
    val b = Seq.tabulate(6)(i => (100L + i, s"one two three four five six n$i", "B"))
    val raw = (a ++ b).toDF("doc_id", "text", "dom")
    val target = a.take(3).toDF("doc_id", "text", "dom").select("text")
    val w = Sampling.dsirWeights(raw, col("doc_id"), col("text"),
        target, col("text"), n = 2, bins = 256)
      .select("doc_id", "dom", "weight").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val meanA = w.filter(_._2 == "A").map(_._3).sum / 6
    val meanB = w.filter(_._2 == "B").map(_._3).sum / 6
    assert(meanA > meanB + 1.0,
      s"target-domain mean $meanA must clearly beat off-domain $meanB")
    // weights are finite everywhere (smoothing covers unseen bins)
    assert(w.forall(x => !x._3.isNaN && !x._3.isInfinite))
  }

  test("KMV sketch: k-min distinct values, partitioning-invariant") {
    import spark.implicits._
    val keys = (1 to 200).map(i => s"key${i % 50}") // 50 distinct, many dups
    val df1 = keys.toDF("k").repartition(1)
    val df7 = keys.toDF("k").repartition(7)
    val s1 = Profiling.kmvSketch(df1, col("k"), k = 16)
      .collect().head.getSeq[String](0)
    val s7 = Profiling.kmvSketch(df7, col("k"), k = 16)
      .collect().head.getSeq[String](0)
    assert(s1 == s7, "sketch must be identical under any partitioning")
    val expected = keys.distinct.map(k =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .sorted.take(16)
    assert(s1 == expected, "sketch must be the k smallest distinct md5s")
  }

  test("KMV overlap is exact when both corpora fit inside the sketch") {
    import spark.implicits._
    val a = (1 to 20).map(i => s"doc$i").toDF("k")
    val b = (11 to 30).map(i => s"doc$i").toDF("k")
    val r = Profiling.kmvOverlap(a, col("k"), b, col("k"), k = 64).collect().head
    assert(r.getAs[Int]("k_used") == 30)    // 30 distinct keys in the union
    assert(r.getAs[Int]("n_both") == 10)    // docs 11..20 shared
    assert(r.getAs[Double]("jaccard_est") == 10.0 / 30.0)
    assert(r.getAs[Double]("est_distinct_a") == 20.0) // below k: exact
    assert(r.getAs[Double]("est_distinct_b") == 20.0)
  }

  test("trending scores rise vs the previous window, smoothing new arrivals") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(h: Int, m: Int) = new Timestamp(1700000000000L / 3600000L * 3600000L
      + h * 3600000L + m * 60000L)
    // hour 0: A x2, B x5; hour 1: A x6, B x5, C x3 (new)
    val ev = (Seq.fill(2)((t(0, 1), "A")) ++ Seq.fill(5)((t(0, 2), "B")) ++
      Seq.fill(6)((t(1, 1), "A")) ++ Seq.fill(5)((t(1, 2), "B")) ++
      Seq.fill(3)((t(1, 3), "C")))
      .zipWithIndex.map { case ((ts, e), i) => (i.toLong, ts, 1L, e, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventAnalytics.trending(ev, "1 hour").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getAs[Long]("n"), r.getAs[Long]("n_prev"), r.getAs[Double]("trend")))
    val h1 = out.filter(_._1 == t(1, 0).getTime).map(x => x._2 -> x).toMap
    assert(h1("A")._5 == 7.0 / 3.0)   // 2 -> 6: rising
    assert(h1("B")._5 == 1.0)          // flat
    assert(h1("C")._5 == 4.0)          // new: (3+1)/(0+1), finite
    assert(h1("C")._4 == 0L)
    // trending order at hour 1: the new type and the riser beat the flat #1
    assert(h1("C")._5 > h1("A")._5 && h1("A")._5 > h1("B")._5)
  }

  test("cohortRetention builds the cohort-week triangle") {
    import spark.implicits._
    import java.sql.Timestamp
    // 2024-01-01 and 2024-01-08 are Mondays
    def d(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val ev = Seq(
      (1L, d(1)), (1L, d(2)), (1L, d(9)),   // cohort w0, active w0 and w1
      (2L, d(3)),                           // cohort w0, only w0
      (3L, d(9)), (3L, d(10))               // cohort w1, only w1
    ).toDF("user_id", "ts")
    val out = EventAnalytics.cohortRetention(ev, col("user_id"), col("ts"))
      .orderBy("cohort_week", "week_offset").collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getAs[Long]("users"))).toSeq
    assert(out == Seq(
      ("2024-01-01", 0, 2L), ("2024-01-01", 1, 1L), ("2024-01-08", 0, 1L)))
  }

  test("exactQuantiles interpolates type-7 ranks without collecting") {
    import spark.implicits._
    // 1..101 shuffled across partitions: p=0.5 -> 51 exactly
    val d = scala.util.Random.shuffle((1 to 101).toList).toDF("v").repartition(7)
    val out = Profiling.exactQuantiles(d, col("v"), Seq(0.0, 0.25, 0.5, 1.0))
      .orderBy("p").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(out == Seq(0.0 -> 1.0, 0.25 -> 26.0, 0.5 -> 51.0, 1.0 -> 101.0))
    // interpolated rank: n=4, p=0.5 -> pos 1.5 -> (20+30)/2
    val d2 = Seq(10, 20, 30, 40).toDF("v")
    val q = Profiling.exactQuantiles(d2, col("v"), Seq(0.5)).head().getDouble(1)
    assert(q == 25.0)
    // NULLs excluded
    val d3 = Seq[Option[Int]](Some(1), None, Some(3)).toDF("v")
    assert(Profiling.exactQuantiles(d3, col("v"), Seq(0.5)).head().getDouble(1) == 2.0)
  }

  test("groupedQuantiles profiles each stratum independently") {
    import spark.implicits._
    val d = ((1 to 101).map(("a", _)) ++ Seq(("b", 10), ("b", 20), ("b", 30), ("b", 40)))
      .toDF("g", "v").repartition(5)
    val out = Profiling.groupedQuantiles(d, Seq("g"), col("v"), Seq(0.5, 1.0))
      .orderBy("g", "p").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(out == Seq(("a", 0.5, 51.0), ("a", 1.0, 101.0),
      ("b", 0.5, 25.0), ("b", 1.0, 40.0)))
  }

  test("pmiBigrams ranks collocations by lift with exact count arithmetic") {
    import spark.implicits._
    // "new york" always together (lift = n/(c*c) high); "the cat"/"the dog"
    // share "the" (lift lower)
    val docs = (Seq.fill(4)("new york") ++ Seq.fill(4)("the cat") ++
      Seq.fill(4)("the dog")).toDF("text")
    val out = TextAnalysis.pmiBigrams(docs, "text", minCount = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // n = 24 tokens; c(new)=c(york)=4, c(ab)=4 -> lift 24*4/(4*4) = 6
    assert(out.head == ("new york", 4L, 6.0))
    // c(the)=8, c(cat)=4 -> 24*4/(8*4) = 3
    assert(out.toSeq.contains(("the cat", 4L, 3.0)))
    assert(out.length == 3)
  }

  test("bpePairs counts within-word adjacent char windows") {
    import spark.implicits._
    val docs = Seq("aab aab", "ab x").toDF("text")
    val out = TextAnalysis.bpePairs(docs, "text", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // "aab" twice -> aa,ab each twice; "ab" once -> ab; "x" too short
    assert(out == Seq(("ab", 3L), ("aa", 2L)))
  }

  test("hllDistinct estimates within the m=256 error band and is partitioning-invariant") {
    import spark.implicits._
    val d = (1 to 5000).map(i => ("a", s"val$i")) ++ (1 to 40).map(i => ("b", s"v$i"))
    val df = d.toDF("g", "x")
    val out = Profiling.hllDistinct(df.repartition(7), Seq("g"), col("x"), p = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // raw HLL at m=256: sigma ~ 1.04/16 = 6.5%; 4 sigma = 26%
    assert(math.abs(out("a") - 5000.0) / 5000.0 < 0.26, s"a -> ${out("a")}")
    // registers are max-merged, so the sketch must not depend on layout
    val out2 = Profiling.hllDistinct(df.repartition(2), Seq("g"), col("x"), p = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == out2)
    // duplicate occurrences must not move the estimate
    val out3 = Profiling.hllDistinct(df.union(df), Seq("g"), col("x"), p = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == out3)
  }

  test("cmsEstimates upper-bounds true counts, exact at generous width") {
    import spark.implicits._
    val corpus = (Seq.fill(50)("hot") ++ Seq.fill(7)("warm") ++ Seq.fill(1)("cold") ++
      (1 to 200).map(i => s"noise$i")).toDF("term")
    val cand = Seq("hot", "warm", "cold", "absent").toDF("term")
    val truth = Map("hot" -> 50L, "warm" -> 7L, "cold" -> 1L, "absent" -> 0L)
    // generous width: no collisions expected -> exact
    val wide = Profiling.cmsEstimates(corpus, col("term"), cand,
      width = 65536, depth = 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(wide == truth)
    // cramped width: still an upper bound for every key
    val tight = Profiling.cmsEstimates(corpus.repartition(13), col("term"), cand,
      width = 16, depth = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    truth.foreach { case (k, v) => assert(tight(k) >= v) }
    // partitioning invariance: sums merge, order can't matter
    val tight2 = Profiling.cmsEstimates(corpus.repartition(1), col("term"), cand,
      width = 16, depth = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(tight == tight2)
  }

  test("filterFunnel counts cumulative-stage survivors in one scan") {
    import spark.implicits._
    val d = Seq((1, 10, true), (2, 20, true), (3, 30, false), (4, 40, true))
      .toDF("id", "v", "flag")
    val out = TextAnalysis.filterFunnel(d, Seq(
        "v_ok" -> (col("v") >= 20),
        "flag" -> col("flag"))) // cumulative: v>=20 AND flag
      .orderBy("stage_idx").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((0, "input", 4L), (1, "v_ok", 3L), (2, "flag", 2L)))
    assert(out.map(_.getAs[Double]("kept_frac")).toSeq == Seq(1.0, 0.75, 0.5))
  }

  test("exactBest keeps the argmax-pref copy, ties to max id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same", 0.2), (2L, "same", 0.9), (3L, "same", 0.9),
      (4L, "other", 0.1)).toDF("doc_id", "text", "score")
    val out = Dedup.exactBest(docs, "doc_id", "text", col("score"))
      .orderBy("keep_id").collect()
    // "same": max score 0.9 shared by 2 and 3 -> max id 3; "other": only 4
    assert(out.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSeq ==
      Seq((3L, 3L), (4L, 1L)))
  }

  test("tokenBudget keeps the greedy quality prefix, inclusive cut") {
    import spark.implicits._
    val docs = Seq(
      (1L, 40L, 0.9), (2L, 50L, 0.8), (3L, 30L, 0.7), (4L, 10L, 0.6))
      .toDF("doc_id", "tok", "q")
    // order: 1 (cum 40), 2 (cum 90), 3 (cum 120 > 100 — dropped), and
    // 4 is dropped too even though 90+10 would fit: greedy PREFIX rule
    val out = Sampling.tokenBudget(docs, col("tok"), budget = 100L,
        Seq(col("q").desc, col("doc_id")))
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.map(_.getAs[Double]("cum_tokens")).toSeq == Seq(40.0, 90.0))
    graft.functions.ScanFns.unpersistScans()
  }

  test("bm25TopK matches the Okapi formula on a golden corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana cherry banana")).toDF("doc_id", "text")
    val qs = Seq(("q", "apple banana")).toDF("q_id", "qtext")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "q_id", "qtext", k = 3)
      .orderBy(col("bm25").desc, col("doc_id")).collect()
    // independent scalar replay: nd=3, tl=9, avgdl=3, df(apple)=df(banana)=2
    val idf = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
    def part(tf: Long, dl: Long): Double =
      idf * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.toDouble / (9.0 / 3.0)))
    val expected = Map(
      1L -> (part(2, 3) + part(1, 3)), // apple tf=2 + banana tf=1
      2L -> part(1, 2),                // apple only
      3L -> part(3, 4))                // banana only
    assert(out.length == 3)
    out.foreach { r => // scores ship rounded to 6 places
      assert(math.abs(r.getAs[Double]("bm25") - expected(r.getAs[Long]("doc_id"))) < 1e-6)
    }
    // doc 1 hits both terms and must rank first
    assert(out.head.getAs[Long]("doc_id") == 1L)
  }

  test("reciprocalRankAtK: first hit wins, misses read 0, absent retrievals read 0") {
    import spark.implicits._
    val truth = Seq((1L, 5L), (2L, 9L), (3L, 4L)).toDF("query_id", "neighbor_id")
    val ret = Seq(
      (1L, 3L, 1), (1L, 5L, 2), (1L, 7L, 3), // hit at rank 2
      (2L, 8L, 1), (2L, 7L, 2))              // 9 never retrieved
      .toDF("query_id", "neighbor_id", "rank")
    val out = graft.ops.Similarity.reciprocalRankAtK(truth, ret, k = 10)
      .orderBy("query_id").collect()
    assert(out.length == 3)
    assert(out(0).getInt(1) == 2 && out(0).getDouble(2) == 0.5, out(0))
    assert(out(1).isNullAt(1) && out(1).getDouble(2) == 0.0, out(1))
    // query 3 has truth but zero retrieved rows: rr 0, not a dropout
    assert(out(2).isNullAt(1) && out(2).getDouble(2) == 0.0, out(2))
  }

  test("anovaF and kruskalWallis: golden values on separated groups, degenerate reads NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = (Seq(1.0, 2.0, 3.0).map(("g1", _)) ++
      Seq(4.0, 5.0, 6.0).map(("g2", _))).toDF("g", "y")
    val a = graft.ops.Profiling.anovaF(df, "g", col("y")).head()
    // SSB = 13.5, SSW = 4, F = (13.5/1)/(4/4) = 13.5 — all exact
    assert(a.getLong(0) == 2L && a.getLong(1) == 6L)
    assert(a.getDouble(2) == 13.5 && a.getDouble(3) == 4.0 &&
      a.getDouble(4) == 13.5, a)
    val kw = graft.ops.Profiling.kruskalWallis(df, "g", col("y")).head()
    // ranks 1..6, R = 6/15: H = 12/42*87 - 21 = 27/7, no ties
    assert(math.abs(kw.getDouble(2) - 27.0 / 7.0) < 1e-9, kw)
    // one group: F and H read NULL, not a crash
    val one = graft.ops.Profiling.anovaF(
      Seq(("g", 1.0), ("g", 2.0)).toDF("g", "y"), "g", col("y")).head()
    assert(one.isNullAt(4))
    // all-tied values: C = 0 -> NULL h
    val tied = graft.ops.Profiling.kruskalWallis(
      (Seq.fill(3)(("a", 5.0)) ++ Seq.fill(3)(("b", 5.0))).toDF("g", "y"),
      "g", col("y")).head()
    assert(tied.isNullAt(2), tied)
  }

  test("markovEntropyRate: deterministic cycle reads 0, a fair coin chain reads ln 2") {
    import spark.implicits._
    val cyc = Seq(("A", "B", 1.0), ("B", "A", 1.0)).toDF("f", "t", "p")
    val r0 = graft.ops.EventAnalytics.markovEntropyRate(cyc, "f", "t", "p", 4)
      .head()
    assert(r0.getLong(0) == 2L && r0.getDouble(1) == 0.0, r0)
    // symmetric half/half chain: pi stays uniform, H = ln 2
    val coin = Seq(("A", "A", 0.5), ("A", "B", 0.5),
      ("B", "A", 0.5), ("B", "B", 0.5)).toDF("f", "t", "p")
    val r1 = graft.ops.EventAnalytics.markovEntropyRate(coin, "f", "t", "p", 4)
      .head()
    assert(math.abs(r1.getDouble(1) - math.log(2.0)) < 1e-9, r1)
  }

  test("effectiveSampleSize: equal weights read n, a dominant weight collapses ESS") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val eq = Seq(2.0, 2.0, 2.0, 2.0).toDF("w")
    val r = graft.ops.Sampling.effectiveSampleSize(eq, col("w")).head()
    assert(r.getLong(0) == 4L && r.getDouble(2) == 4.0 &&
      r.getDouble(3) == 1.0, r)
    // w = {2,2,4}: ESS = 64/24 = 8/3, deff = 9/8 — exact decimals
    val mix = graft.ops.Sampling.effectiveSampleSize(
      Seq(2.0, 2.0, 4.0).toDF("w"), col("w")).head()
    assert(math.abs(mix.getDouble(2) - 8.0 / 3.0) < 1e-12 &&
      math.abs(mix.getDouble(3) - 9.0 / 8.0) < 1e-12, mix)
    val dom = graft.ops.Sampling.effectiveSampleSize(
      (Seq(1000.0) ++ Seq.fill(99)(1.0)).toDF("w"), col("w")).head()
    assert(dom.getDouble(2) < 2.0, s"one dominant weight -> ESS ~ 1: $dom")
    // zero/negative weights excluded, not propagated
    val z = graft.ops.Sampling.effectiveSampleSize(
      Seq(2.0, 0.0, -1.0, 2.0).toDF("w"), col("w")).head()
    assert(z.getLong(0) == 2L && z.getDouble(2) == 2.0, z)
  }

  test("kaplanMeier: censoring holds survival flat, deaths step it down, all-dead tail reads 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = 1700000000000L
    def ts(ms: Long) = new java.sql.Timestamp(base + ms)
    // u1 dies at 10s, u2 at 20s; u3's last event IS the log end ->
    // censored at its lifetime (2h), not dead
    val ev = Seq(
      (1L, ts(0), 1L, "e"), (2L, ts(10000), 1L, "e"),
      (3L, ts(0), 2L, "e"), (4L, ts(20000), 2L, "e"),
      (5L, ts(0), 3L, "e"), (6L, ts(7200000), 3L, "e"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val km = graft.ops.EventAnalytics.kaplanMeier(ev, col("user_id"),
      col("ts"), "1 hour").orderBy("t").collect()
    assert(km.map(_.getLong(0)).toSeq == Seq(10000L, 20000L, 7200000L))
    assert(km.map(_.getLong(1)).toSeq == Seq(3L, 2L, 1L), "at-risk counts")
    assert(km.map(_.getLong(2)).toSeq == Seq(1L, 1L, 0L), "deaths")
    assert(km.map(_.getLong(3)).toSeq == Seq(0L, 0L, 1L), "censored")
    val s = km.map(_.getDouble(4))
    assert(math.abs(s(0) - 2.0 / 3.0) < 1e-9 &&
      math.abs(s(1) - 1.0 / 3.0) < 1e-9, s.toSeq.toString)
    assert(s(2) == s(1), "censoring must not move survival")
    // everyone dies at the same lifetime: the tail reads exactly 0
    val all = Seq((1L, ts(0), 1L, "e"), (2L, ts(5000), 1L, "e"),
      (3L, ts(0), 2L, "e"), (4L, ts(5000), 2L, "e"),
      (5L, ts(0), 9L, "e"), (6L, ts(7200000), 9L, "e"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val k2 = graft.ops.EventAnalytics.kaplanMeier(all, col("user_id"),
      col("ts"), "1 hour").orderBy("t").collect()
    // at t=5000: n_risk 3, d 2 -> S = 1/3; the censored tail holds it
    assert(math.abs(k2(0).getDouble(4) - 1.0 / 3.0) < 1e-9, k2.mkString(";"))
  }

  test("diffInDiff: nets the time trend out; zero-variance cells read NULL t") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // constant cells: treated 1 -> 3, control 1 -> 2: did = exactly 1
    val rows =
      Seq.fill(3)((true, false, 1.0)) ++ Seq.fill(3)((true, true, 3.0)) ++
      Seq.fill(3)((false, false, 1.0)) ++ Seq.fill(3)((false, true, 2.0))
    val r = graft.ops.Profiling.diffInDiff(rows.toDF("g", "p", "y"),
      col("g"), col("p"), col("y")).head()
    assert(r.getLong(0) == 12L && r.getDouble(5) == 1.0, r)
    assert(r.getDouble(6) == 0.0 && r.isNullAt(7), "zero variance -> no t")
    // with spread in one cell the SE turns on and t is finite
    val noisy = (rows ++ Seq((true, true, 4.0), (true, true, 2.0)))
      .toDF("g", "p", "y")
    val r2 = graft.ops.Profiling.diffInDiff(noisy, col("g"), col("p"),
      col("y")).head()
    assert(r2.getDouble(6) > 0.0 && !r2.isNullAt(7), r2)
  }

  test("cmhTest: Simpson's-paradox fixture — pooled rate flips, CMH reads the within-stratum truth") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // stratum X: a = 90 rows at 50% true, b = 10 rows at 40%
    // stratum Y: a = 10 rows at 90%, b = 90 rows at 80%
    // within EVERY stratum a beats b by 10 points, but pooled
    // a = 54/100 vs b = 76/100 reads b ahead — the paradox
    def mk(rows: Seq[(String, Int, Int)]) = rows.flatMap { case (g, n, k) =>
      (1 to n).map(i => (g, i <= k)) }.toDF("g", "f")
    val a = mk(Seq(("X", 90, 45), ("Y", 10, 9)))
    val b = mk(Seq(("X", 10, 4), ("Y", 90, 72)))
    val pooled = graft.ops.Profiling.twoProportionTest(a, b, col("f")).head()
    assert(pooled.getDouble(2) < pooled.getDouble(5),
      s"pooled must read b ahead (the paradox): $pooled")
    val cmh = graft.ops.Profiling.cmhTest(a, b, "g", col("f")).head()
    assert(cmh.getLong(0) == 2L && cmh.getDouble(5) > 0.0,
      s"CMH must read a ahead within strata: $cmh")
    // identical sides: numerator 0, z 0
    val same = graft.ops.Profiling.cmhTest(a, a, "g", col("f")).head()
    assert(same.getDouble(3) == 0.0 && same.getDouble(5) == 0.0, same)
  }

  test("youdenThresholdBy: each stratum finds its own split; one-class strata drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // stratum A separates at 3, stratum B at 30 — a pooled cutoff
    // cannot serve both; stratum C is one-class and must drop
    val df = Seq(
      ("A", 1.0, false), ("A", 2.0, false), ("A", 3.0, true), ("A", 4.0, true),
      ("B", 10.0, false), ("B", 20.0, false), ("B", 30.0, true), ("B", 40.0, true),
      ("C", 5.0, true), ("C", 6.0, true))
      .toDF("g", "s", "y")
    val out = graft.ops.Classifier.youdenThresholdBy(df, "g", col("s"),
      col("y")).orderBy("stratum").collect()
    assert(out.length == 2, out.mkString("; "))
    assert(out(0).getString(0) == "A" && out(0).getDouble(1) == 3.0 &&
      out(0).getDouble(4) == 1.0, out(0))
    assert(out(1).getString(0) == "B" && out(1).getDouble(1) == 30.0 &&
      out(1).getDouble(4) == 1.0, out(1))
    // the per-stratum cutoffs agree with running the global op on
    // each stratum alone
    val solo = graft.ops.Classifier.youdenThreshold(
      df.filter(col("g") === "A"), col("s"), col("y")).head()
    assert(solo.getAs[Double]("threshold") == 3.0)
  }

  test("conformalThresholdBy: per-stratum qhats restore coverage the pooled threshold loses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two strata on disjoint score scales — the pooled qhat failure
    val cal = ((1 to 100).map(i => ("lo", i.toDouble)) ++
      (1 to 100).map(i => ("hi", 200.0 + i))).toDF("g", "s")
    val test = ((1 to 20).map(i => ("lo", i * 5.0)) ++
      (1 to 20).map(i => ("hi", 200.0 + i * 5.0))).toDF("g", "s")
    val out = graft.ops.Classifier.conformalThresholdBy(cal, test, "g",
        col("s"), alpha = 0.1)
      .orderBy("stratum").collect()
    assert(out.length == 2)
    val hi = out(0); val lo = out(1)
    // each stratum gets its own order statistic: rank 91 of its own 100
    assert(lo.getAs[Long]("rank") == 91L && lo.getAs[Double]("qhat") == 91.0, lo)
    assert(hi.getAs[Double]("qhat") == 291.0, hi)
    // per-stratum coverage sits near the target on BOTH strata
    assert(out.forall(r => r.getAs[Double]("coverage") >= 0.85),
      out.mkString("; "))
    // a test stratum absent from calibration has no qhat to serve
    val extra = test.unionByName(Seq(("mid", 50.0)).toDF("g", "s"))
    assert(graft.ops.Classifier.conformalThresholdBy(cal, extra, "g",
      col("s"), 0.1).filter(col("stratum") === "mid").count() == 0L)
  }

  test("isotonicGain: fitted monotone map shrinks held-out gaps; uncovered bins read NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def mk(binRates: Seq[(Double, Int, Int)]) = {
      val rows = binRates.flatMap { case (p, n, pos) =>
        (0 until n).map(i => (p, i < pos)) }
      rows.toDF("p", "y")
    }
    // fit carries a violator (PAV pools to 0.5 on the first two
    // levels); apply split shares the pooled truth
    val fit = mk(Seq((0.05, 20, 16), (0.15, 20, 4), (0.25, 20, 14)))
    val app = mk(Seq((0.05, 10, 5), (0.15, 10, 5), (0.35, 10, 9)))
    val out = graft.ops.Classifier.isotonicGain(fit, app,
        col("p"), col("y"), k = 10)
      .orderBy("bin").collect()
    // bins 0/1: fitted 0.5 matches the apply rate exactly -> gap 0
    assert(out(0).getAs[Double]("iso_p") == 0.5 &&
      out(0).getAs[Double]("gap_after") == 0.0, out(0))
    assert(out(1).getAs[Double]("gap_after") == 0.0, out(1))
    // bin 3 was never fitted: NULL iso_p and gap_after, loudly visible
    assert(out(2).getAs[Int]("bin") == 3 && out(2).isNullAt(4) &&
      out(2).isNullAt(6), out(2))
    // gap_before is the raw miscalibration it repaired
    assert(out(0).getAs[Double]("gap_before") > 0.4, out(0))
  }

  test("conformalCoverageBy: pooled qhat covers strata unevenly; the audit shows the gaps") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // calibration scores uniform 1..100; qhat at alpha=0.1 ~ rank 91
    val cal = (1 to 100).map(i => ("z", i.toDouble)).toDF("g", "s")
    // test: stratum lo sits entirely under qhat, stratum hi above it
    val test = ((1 to 10).map(i => ("lo", i.toDouble)) ++
      (1 to 10).map(i => ("hi", 200.0 + i))).toDF("g", "s")
    val out = graft.ops.Classifier.conformalCoverageBy(cal, test, "g",
        col("s"), alpha = 0.1)
      .orderBy("stratum").collect()
    val hi = out(0); val lo = out(1)
    assert(lo.getAs[Double]("coverage") == 1.0 &&
      math.abs(lo.getAs[Double]("gap") - 0.1) < 1e-12, lo)
    assert(hi.getAs[Double]("coverage") == 0.0 &&
      math.abs(hi.getAs[Double]("gap") + 0.9) < 1e-12, hi)
    assert(out.forall(_.getAs[Double]("target") == 0.9))
  }

  test("twoProportionTest: golden z on a hand pair, NULL on degenerate pools") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a: 30/100 true, b: 20/100 true -> pooled 0.25,
    // z = 0.1 / sqrt(0.25*0.75*0.02)
    val a = (1 to 100).map(i => i <= 30).toDF("f")
    val b = (1 to 100).map(i => i <= 20).toDF("f")
    val r = graft.ops.Profiling.twoProportionTest(a, b, col("f")).head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 30L)
    val zExp = 0.1 / math.sqrt(0.25 * 0.75 * (1.0 / 100 + 1.0 / 100))
    assert(math.abs(r.getDouble(7) - zExp) < 1e-12, r)
    // all-false pools: z NULL, rates still reported
    val z0 = graft.ops.Profiling.twoProportionTest(
      Seq(false, false).toDF("f"), Seq(false).toDF("f"), col("f")).head()
    assert(z0.isNullAt(7) && z0.getDouble(2) == 0.0)
  }

  test("cramerVonMises: 0 on identical samples, hand value on a tiny disjoint pair") {
    import spark.implicits._
    val xs = (1 to 50).map(_.toDouble)
    val same = graft.ops.Profiling.cramerVonMises(
      xs.toDF("v"), xs.toDF("v"), "v").head()
    assert(same.getDouble(0) == 0.0 && same.getLong(1) == 50L)
    // a={1,2}, b={3,4}: sum d^2*mult = .25+1+.25+0 = 1.5, factor 4/16
    val tiny = graft.ops.Profiling.cramerVonMises(
      Seq(1.0, 2.0).toDF("v"), Seq(3.0, 4.0).toDF("v"), "v").head()
    assert(math.abs(tiny.getDouble(0) - 0.375) < 1e-9, tiny)
  }

  test("conformalThreshold: order-statistic rank and held-out coverage are exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cal = (1 to 9).map(_.toDouble).toDF("s")
    val test10 = (1 to 10).map(_.toDouble).toDF("s")
    // n=9, alpha=0.1: rank = ceil(10*0.9) = 9 -> qhat = 9
    val r = graft.ops.Classifier.conformalThreshold(cal, test10, col("s"), 0.1)
      .head()
    assert(r.getLong(0) == 9L && r.getLong(1) == 9L && r.getDouble(2) == 9.0, r)
    assert(r.getDouble(5) == 0.9, s"9 of 10 held-out under qhat: $r")
    // alpha=0.5: rank = ceil(10*0.5) = 5 -> qhat = 5, coverage 0.5
    val r2 = graft.ops.Classifier.conformalThreshold(cal, test10, col("s"), 0.5)
      .head()
    assert(r2.getLong(1) == 5L && r2.getDouble(2) == 5.0 && r2.getDouble(5) == 0.5, r2)
  }

  test("groupFairness: per-stratum rates and gaps against the pooled point") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // stratum A: 2 pos both kept (tpr 1), 2 neg both dropped (fpr 0)
    // stratum B: 2 pos both dropped (tpr 0), 2 neg both kept (fpr 1)
    val df = Seq(
      ("A", 10.0, true), ("A", 10.0, true), ("A", 1.0, false), ("A", 1.0, false),
      ("B", 1.0, true), ("B", 1.0, true), ("B", 10.0, false), ("B", 10.0, false))
      .toDF("g", "s", "y")
    val out = graft.ops.Classifier.groupFairness(df, "g", col("s"), col("y"), 5.0)
      .orderBy("stratum").collect()
    val a = out(0); val b = out(1)
    assert(a.getAs[Double]("tpr") == 1.0 && a.getAs[Double]("fpr") == 0.0, a)
    assert(b.getAs[Double]("tpr") == 0.0 && b.getAs[Double]("fpr") == 1.0, b)
    // pooled tpr = fpr = 0.5 -> gaps are +/-0.5; selection identical
    assert(a.getAs[Double]("tpr_gap") == 0.5 && b.getAs[Double]("tpr_gap") == -0.5)
    assert(a.getAs[Double]("fpr_gap") == -0.5 && b.getAs[Double]("fpr_gap") == 0.5)
    assert(a.getAs[Double]("sel_gap") == 0.0 && b.getAs[Double]("sel_gap") == 0.0)
  }

  test("groupedWasserstein: stable stratum 0, shifted stratum reads the shift, one-sided reads the range") {
    import spark.implicits._
    val a = ((1 to 100).map(i => ("stable", i.toDouble)) ++
      (1 to 100).map(i => ("moved", i.toDouble)) ++
      (1 to 100).map(i => ("only_a", i.toDouble))).toDF("g", "v")
    val b = ((1 to 100).map(i => ("stable", i.toDouble)) ++
      (1 to 100).map(i => ("moved", i + 50.0))).toDF("g", "v")
    val out = graft.ops.Profiling.groupedWasserstein(a, b, "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("stable") == 0.0, s"unchanged stratum reads 0: $out")
    assert(math.abs(out("moved") - 50.0) < 1e-6, s"shift-by-50 reads ~50: $out")
    // one-sided: |F_a - 0| integrates the CDF = max - mean
    // (uniform 1..100 -> 100 - 50.5 = 49.5)
    assert(math.abs(out("only_a") - 49.5) < 1e-6,
      s"one-sided stratum reads max - mean: $out")
  }

  test("transitionDrift: identical eras read 0; disjoint next-event mixes read ln 2") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = 1700000000000L
    def ts(i: Int) = new java.sql.Timestamp(base + i * 1000L)
    // era A: A->B five times; era B: A->C five times (from-state 'A')
    def era(u: Long, nxt: String) = (0 until 5).flatMap(r => Seq(
      (u * 100 + r * 2 + 0, ts(r * 2 + 0), u, "A"),
      (u * 100 + r * 2 + 1, ts(r * 2 + 1), u, nxt)))
    // one user per era, each A immediately followed by the era's next
    val evA = era(1L, "B").toDF("event_id", "ts", "user_id", "event_type")
    val evB = era(2L, "C").toDF("event_id", "ts", "user_id", "event_type")
    val drift = graft.ops.EventAnalytics.transitionDrift(evA, evB,
        col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .orderBy("from_type").collect()
    val aRow = drift.find(_.getString(0) == "A").get
    assert(math.abs(aRow.getDouble(3) - math.log(2.0)) < 1e-9,
      s"disjoint mixes read ln 2: ${drift.mkString("; ")}")
    val same = graft.ops.EventAnalytics.transitionDrift(evA, evA,
        col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .collect()
    assert(same.forall(_.getDouble(3) == 0.0),
      s"identical eras read 0: ${same.mkString("; ")}")
  }

  test("textRank: the connective term outranks frequent-but-peripheral ones") {
    import spark.implicits._
    // 'hub' co-occurs with three distinct terms; each spoke only with
    // hub. Degree beats raw frequency: the spokes appear as often as
    // hub in their own docs, but hub is central.
    val docs = (1L to 5L).flatMap(i => Seq(
      (i * 10 + 1, "hub one"), (i * 10 + 2, "hub two"), (i * 10 + 3, "hub three")))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.textRank(docs, "text",
      minCount = 5, iters = 2, k = 4).collect()
    assert(out.head.getString(0) == "hub", out.mkString("; "))
    assert(out.length == 4)
    // rank mass is a probability-ish distribution: all positive
    assert(out.forall(_.getDouble(1) > 0.0))
  }

  test("blockingQuality: completeness and reduction ratio exact; reversed/dup pairs canonicalize") {
    import spark.implicits._
    val reg = (1L to 4L).toDF("id")
    // reversed + duplicated candidate rows collapse to the one pair
    val cand = Seq((1L, 2L), (2L, 1L), (1L, 2L)).toDF("a", "b")
    val truth = Seq((1L, 2L), (4L, 3L)).toDF("a", "b")
    val r = graft.ops.FuzzyJoin.blockingQuality(reg, "id", cand, truth).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L, r)
    assert(r.getLong(2) == 1L && r.getLong(3) == 2L && r.getLong(4) == 1L, r)
    assert(r.getDouble(5) == 0.5, s"PC = 1/2: $r")
    assert(r.getDouble(6) == 1.0 - 1.0 / 6.0, s"RR = 1 - 1/6: $r")
    // empty truth: completeness NULL, not a crash
    val e = graft.ops.FuzzyJoin.blockingQuality(reg, "id", cand,
      Seq.empty[(Long, Long)].toDF("a", "b")).head()
    assert(e.isNullAt(5) && e.getLong(3) == 0L)
  }

  test("hubnessAudit: co-directional corpus concentrates k-occurrence on the smallest ids; antihubs counted") {
    import spark.implicits._
    // six BIT-IDENTICAL vectors: every query's candidates tie at the
    // same cos double, ranks break by id asc, so top-2 is {1,2} for
    // every query (scaled copies would differ by magnitude-dependent
    // ulps and break the tie)
    val e = (1 to 6).map(i => (i.toLong,
      Array.fill(8)(1.0))).toDF("vec_id", "embedding")
    val qs = e.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val out = graft.ops.Similarity.hubnessAudit(e, "vec_id", "embedding",
        qs, "q_id", "qv", k = 2, nPlanes = 4, topN = 10)
      .orderBy(col("neighbor_id")).collect()
    assert(out.length == 2, out.mkString("; "))
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.forall(_.getLong(1) == 6L), "both hubs in all 6 lists")
    assert(out.forall(_.getDouble(2) == 1.0))
    assert(out.forall(r => r.getLong(3) == 6L && r.getLong(4) == 4L),
      s"4 of 6 vectors are never retrieved: ${out.mkString("; ")}")
  }

  test("queryLikelihoodTopK matches the Dirichlet formula; OOV terms drop; unmatched docs unranked") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple"),
      (3L, "cherry")).toDF("doc_id", "text")
    val qs = Seq(("q", "apple zzz")).toDF("q_id", "qtext")
    val out = Retrieval.queryLikelihoodTopK(docs, "doc_id", "text",
        qs, "q_id", "qtext", k = 3, mu = 2.0)
      .orderBy(col("ql").desc, col("doc_id")).collect()
    // direct formula: T=5, ctf(apple)=3, p=0.6, mu=2 -> mu*p=1.2;
    // score(d) = ln((tf + 1.2)/(dl + 2)); 'zzz' has no corpus mass
    def direct(tf: Long, dl: Long): Double =
      math.log((tf + 1.2) / (dl + 2.0))
    assert(out.length == 2, s"cherry-only doc must not rank: ${out.mkString(";")}")
    val got = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ql")).toMap
    assert(math.abs(got(1L) - direct(2, 3)) < 1e-6, got.toString)
    assert(math.abs(got(2L) - direct(1, 1)) < 1e-6, got.toString)
    // short exact match outranks the longer doc here
    assert(out.head.getAs[Long]("doc_id") == 2L)
    // partitioning-invariant
    val rep = Retrieval.queryLikelihoodTopK(docs.repartition(3), "doc_id",
        "text", qs, "q_id", "qtext", k = 3, mu = 2.0)
      .orderBy(col("ql").desc, col("doc_id")).collect()
    assert(rep.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  test("bm25TopK keeps k per query and is partitioning-invariant") {
    import spark.implicits._
    val docs = (1 to 300).map(i =>
      (i.toLong, Seq.fill(i % 7 + 1)(s"w${i % 13}").mkString(" ") + " common"))
      .toDF("doc_id", "text")
    val qs = Seq(("a", "w3 common"), ("b", "w5")).toDF("q_id", "qtext")
    def run(parts: Int) =
      Retrieval.bm25TopK(docs.repartition(parts), "doc_id", "text",
          qs, "q_id", "qtext", k = 5)
        .orderBy("q_id", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val one = run(1)
    assert(one.count(_._1 == "a") == 5 && one.count(_._1 == "b") == 5)
    assert(one == run(11))
    // precomputed corpus stats (the amortized standing-workload path)
    // must reproduce the in-plan scan exactly
    val nd = docs.count()
    val tl = docs.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.filter(
        graft.ops.Dedup.tokens(col("text")), t => length(t) > 0)).as("n"))
      .agg(sum("n")).head().getLong(0)
    val pre = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "q_id", "qtext",
        k = 5, corpusStats = Some((nd, tl)))
      .orderBy("q_id", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pre == one)
  }

  test("bm25TopKIndexed reproduces bm25TopK from materialized postings") {
    import spark.implicits._
    val docs = (1 to 300).map(i =>
      (i.toLong, Seq.fill(i % 7 + 1)(s"w${i % 13}").mkString(" ") + " common"))
      .toDF("doc_id", "text")
    val qs = Seq(("a", "w3 common"), ("b", "w5")).toDF("q_id", "qtext")
    val direct = Retrieval.bm25TopK(docs, "doc_id", "text", qs, "q_id", "qtext", k = 5)
      .orderBy("q_id", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // round-trip the index through parquet like a standing workload does
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx").toString
    Retrieval.invertedIndex(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/postings.parquet")
    val stats = Retrieval.corpusStatsOf(docs, "text")
    assert(stats._1 == 300L)
    val idx = spark.read.parquet(s"$dir/postings.parquet")
    val indexed = Retrieval.bm25TopKIndexed(idx, stats, "doc_id",
        qs, "q_id", "qtext", k = 5)
      .orderBy("q_id", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(indexed == direct)
    // the per-call plan must not re-touch the corpus: no generator
    // (tokenize+explode) anywhere in the indexed plan
    val plan = Retrieval.bm25TopKIndexed(idx, stats, "doc_id",
      qs, "q_id", "qtext", k = 5).queryExecution.optimizedPlan
    val generators = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
        // the query side legitimately explodes its handful of terms
        if !g.generator.references.exists(_.name == "qtext") => g
    }
    assert(generators.isEmpty, s"indexed BM25 re-tokenizes: $generators")
  }

  test("bm25TopKIndexed: driver-scored and broadcast-scored queries agree") {
    import spark.implicits._
    // integral doc ids score on the driver; string doc ids take the
    // broadcast tail. Both must equal bm25TopK bit for bit.
    val docs = (1 to 200).map(i =>
      (i.toLong, Seq.fill(i % 5 + 1)(s"w${i % 11}").mkString(" ") + " common"))
      .toDF("doc_id", "text")
    val qs = Seq(("a", "w3 common"), ("b", "w5 w7"), ("a", "w3")).toDF("q_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("q_id", "doc_id")
      .collect().map(r => (r.getString(0), r.get(1).toString, r.getDouble(2))).toSeq
    val direct = rows(Retrieval.bm25TopK(docs, "doc_id", "text", qs, "q_id", "qtext", k = 4))
    val stats = Retrieval.corpusStatsOf(docs, "text")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
    val driver = Retrieval.bm25TopKIndexed(idx, stats, "doc_id", qs, "q_id", "qtext", k = 4)
    assert(driver.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(rows(driver) == direct)
    val strDocs = docs.withColumn("doc_id", col("doc_id").cast("string"))
    val broadcastScored = Retrieval.bm25TopKIndexed(
      Retrieval.invertedIndex(strDocs, "doc_id", "text"), stats, "doc_id", qs, "q_id",
      "qtext", k = 4)
    assert(!broadcastScored.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(rows(broadcastScored) ==
      rows(Retrieval.bm25TopK(strDocs, "doc_id", "text", qs, "q_id", "qtext", k = 4)))
  }

  test("rrfFuse combines rankings by reciprocal rank, counts list hits") {
    import spark.implicits._
    // list A: doc 1 first, doc 2 second; list B: doc 2 first, doc 3 second
    val a = Seq(("q", 1L, 1L), ("q", 2L, 2L)).toDF("q_id", "doc_id", "rank")
    val b = Seq(("q", 2L, 1L), ("q", 3L, 2L)).toDF("q_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), "q_id", "doc_id", k = 3)
      .orderBy(col("rrf").desc, col("doc_id")).collect()
    // doc 2 appears in both lists -> top; 1/(60+2) + 1/(60+1)
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 1L, 3L))
    assert(out.map(_.getAs[Long]("n_lists")).toSeq == Seq(2L, 1L, 1L))
    assert(math.abs(out.head.getAs[Double]("rrf") - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    // rankWithin produces the 1-based shape rrfFuse consumes
    val ranked = Retrieval.rankWithin(
      Seq(("q", 7L, 0.5), ("q", 8L, 0.9)).toDF("q_id", "doc_id", "s"),
      "q_id", Seq(col("s").desc))
    assert(ranked.orderBy("rank").collect().map(_.getAs[Long]("doc_id")).toSeq ==
      Seq(8L, 7L))
  }

  test("centroidsByKey computes exact group means, one partial agg, no explode") {
    import spark.implicits._
    val vecs = Seq(
      ("a", Seq(1.0, 2.0, 3.0)), ("a", Seq(3.0, 2.0, 1.0)),
      ("b", Seq(0.5, -0.5, 0.25)))
      .toDF("g", "v")
    val out = Similarity.centroidsByKey(vecs, Seq(col("g")), col("v"), dims = 3)
      .orderBy("g").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n") == 2L)
    // values on the 2^-24 grid are exact: (1+3)/2=2, (2+2)/2=2, (3+1)/2=2
    assert(out(0).getAs[scala.collection.Seq[Double]]("centroid").toSeq ==
      Seq(2.0, 2.0, 2.0))
    assert(out(1).getAs[scala.collection.Seq[Double]]("centroid").toSeq ==
      Seq(0.5, -0.5, 0.25))
  }

  test("centroidsByKey is bit-identical under any partitioning") {
    import spark.implicits._
    val vecs = (1 to 500).map(i =>
      (s"g${i % 3}", Seq(i * 0.001, math.sin(i), i * -0.01)))
      .toDF("g", "v")
    def run(parts: Int) =
      Similarity.centroidsByKey(vecs.repartition(parts), Seq(col("g")), col("v"),
          dims = 3)
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getAs[Seq[Double]]("centroid")))
        .toSeq
    assert(run(1) == run(7))
    assert(run(7) == run(32))
  }

  test("kmeansStep: deterministic seeds, lowest-cid tie-break, exact means") {
    import spark.implicits._
    // two tight groups around (0,0) and (10,10); ids 1,2 become the seeds
    val vecs = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(10.0, 10.0)),
      (3L, Seq(1.0, 0.0)), (4L, Seq(0.0, 1.0)),
      (5L, Seq(9.0, 10.0)), (6L, Seq(10.0, 9.0)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansStep(vecs, "vec_id", "embedding", k = 2, dims = 2)
      .orderBy("cid").collect()
    assert(out.map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n"))).toSeq ==
      Seq((1L, 3L), (2L, 3L)))
    // means are exact on the 2^-24 grid: (0+1+0)/3, (0+0+1)/3 etc.
    assert(out(0).getAs[scala.collection.Seq[Double]]("centroid").toSeq ==
      Seq(16777216.0 / 3 / 16777216, 16777216.0 / 3 / 16777216))
    assert(out(1).getAs[scala.collection.Seq[Double]]("centroid").toSeq ==
      Seq(((29 * 16777216L).toDouble / 3) / 16777216,
          ((29 * 16777216L).toDouble / 3) / 16777216))
    // equidistant point joins the LOWER cid (min_by struct tie-break)
    val tie = Seq((1L, Seq(0.0)), (2L, Seq(2.0)), (9L, Seq(1.0)))
      .toDF("vec_id", "embedding")
    val t2 = Similarity.kmeansStep(tie, "vec_id", "embedding", k = 2, dims = 1)
      .orderBy("cid").collect()
    assert(t2.map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n"))).toSeq ==
      Seq((1L, 2L), (2L, 1L)))
  }

  test("kmeansLloyd: iteration 2 reassigns against the moved centroids") {
    import spark.implicits._
    // seeds = ids 1,2 → centroids 0.0 and 1.0. Iteration 1 sends 0.9
    // and 5.0 to cid 2 (nearer 1.0), moving c2 to (1+0.9+5)/3 ≈ 2.3;
    // iteration 2 then reassigns 1.0 and 0.9 to cid 1 (nearer 0.0
    // than 2.3), leaving c2 = {5.0} alone.
    val vecs = Seq((1L, Seq(0.0)), (2L, Seq(1.0)), (3L, Seq(0.9)),
      (4L, Seq(5.0))).toDF("vec_id", "embedding")
    val out = Similarity.kmeansLloyd(vecs, "vec_id", "embedding",
        k = 2, dims = 1, iters = 2)
      .orderBy("cid").collect()
    assert(out.map(r => (r.getAs[Long]("cid"), r.getAs[Long]("n"))).toSeq ==
      Seq((1L, 3L), (2L, 1L)))
    assert(out(1).getAs[scala.collection.Seq[Double]]("centroid").toSeq == Seq(5.0))
    // iters = 1 is bit-identical to the single kmeansStep
    val one = Similarity.kmeansLloyd(vecs, "vec_id", "embedding",
        k = 2, dims = 1, iters = 1)
      .orderBy("cid").collect().map(_.toSeq).toSeq
    val step = Similarity.kmeansStep(vecs, "vec_id", "embedding", k = 2, dims = 1)
      .orderBy("cid").collect().map(_.toSeq).toSeq
    assert(one == step)
  }

  test("annRecallAtK: self-hit guarantees nonzero recall; bounds hold") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val out = Similarity.annRecallAtK(vecs, "vec_id", "embedding",
        vecs.filter(col("vec_id") < 2), "vec_id", "embedding", k = 5, nPlanes = 8)
      .orderBy("query_id").collect()
    assert(out.length == 2)
    out.foreach { r =>
      val hits = r.getAs[Long]("hits"); val tk = r.getAs[Long]("truth_k")
      val recall = r.getAs[Double]("recall")
      assert(tk == 5L)
      // the query IS a corpus vector: identical bucket → rank-1 self hit
      assert(hits >= 1L && hits <= tk)
      assert(recall == hits.toDouble / tk.toDouble)
    }
  }

  test("interleaveByDomain: round-robin across unequal domains, pos total order") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"))
      .toDF("id", "dom")
    val out = graft.ops.Sampling.interleaveByDomain(docs, col("dom"), col("id"), 7L)
      .orderBy("pos").collect()
    assert(out.map(_.getAs[Long]("pos")).toSeq == (1L to 5L))
    // rounds 1,2 emit one pick of each domain (a then b); round 3 only a
    assert(out.map(_.getAs[String]("dom")).toSeq == Seq("a", "b", "a", "b", "a"))
    // per-domain sequence follows the seeded md5 shuffle, not id order:
    // within each domain the pos order is the md5('7 '||id) order
    val aOrder = out.filter(_.getAs[String]("dom") == "a").map(_.getAs[Long]("id")).toSeq
    val expected = Seq(1L, 2L, 3L).sortBy(i =>
      (java.security.MessageDigest.getInstance("MD5")
        .digest(s"7 $i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, i))
    assert(aOrder == expected)
  }

  test("temperatureMix: alpha=1 keeps everything; alpha=0.5 flattens toward the tail") {
    import spark.implicits._
    // en dominates 9:1; ids spread the md5 buckets
    val docs = (1L to 90L).map(i => (i, "en", 100L)) ++
      (91L to 100L).map(i => (i, "fr", 100L))
    val df = docs.toDF("id", "lang", "toks")
    val a1 = graft.ops.Sampling.temperatureMix(df, col("id"), col("lang"),
      col("toks"), alpha = 1.0)
    // alpha=1: q ∝ T → every rate 1 → nothing dropped
    assert(a1.count() == 100L)
    assert(a1.select(min(col("mix_rate"))).collect()(0).getDouble(0) == 1.0)
    val a5 = graft.ops.Sampling.temperatureMix(df, col("id"), col("lang"),
      col("toks"), alpha = 0.5)
    val rates = a5.select(col("lang"), col("mix_rate")).distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // fr is the binding stratum (scarcest per sqrt-weight): kept whole;
    // en downsampled to sqrt(T_en)·N*/T_en = sqrt(9000)·(1000/sqrt(1000))/9000
    assert(rates("fr") == 1.0)
    assert(rates("en") < 0.4 && rates("en") > 0.2) // 1/3 exactly
    val e = intercept[IllegalArgumentException] {
      graft.ops.Sampling.temperatureMix(df, col("id"), col("lang"),
        col("toks"), alpha = 0.7)
    }
    assert(e.getMessage.contains("engine-exact"))
  }

  test("ivfTopKJoin + recallAtK: self-hit in probed list, bounds hold") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val qs = vecs.filter(col("vec_id") < 2)
    val (assigned, centroids) =
      Similarity.ivfIndexDeterministic(vecs, "vec_id", "embedding", nLists = 4)
    val got = Similarity.ivfTopKJoin(assigned, centroids, "vec_id", "embedding",
      qs, "vec_id", "embedding", k = 5, nprobe = 2)
    val byQ = got.groupBy("query_id").count().collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("count")).toMap
    assert(byQ.size == 2 && byQ.values.forall(_ <= 5L))
    // the query vector lives in its own nearest list → rank-1 self hit
    val self = got.filter(col("query_id") === col("neighbor_id"))
      .select("query_id", "rank").collect()
    assert(self.length == 2 && self.forall(_.getAs[Int]("rank") == 1))
    val rec = Similarity.recallAtK(
      Similarity.bruteForceTopKJoin(vecs, "vec_id", "embedding",
        qs, "vec_id", "embedding", k = 5), got)
      .collect()
    assert(rec.length == 2)
    rec.foreach { r =>
      assert(r.getAs[Long]("truth_k") == 5L)
      assert(r.getAs[Long]("hits") >= 1L)
      assert(r.getAs[Double]("recall") ==
        r.getAs[Long]("hits").toDouble / 5.0)
    }
  }

  test("vocabCoverage: exact top-V membership and occurrence-level ratio") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),     // 4 tokens, b rare if V=1
      (2L, "a b c"),
      (3L, "zzz")).toDF("doc_id", "text")
    // corpus counts: a=4, b=2, c=1, zzz=1 → V=2 vocab = {a, b}
    val out = TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocabSize = 2)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
      r.getAs[Long]("in_vocab"))).toSeq ==
      Seq((1L, 4L, 4L), (2L, 3L, 2L), (3L, 1L, 0L)))
    assert(out.map(_.getAs[Double]("oov_ratio")).toSeq ==
      Seq(0.0, 1.0 / 3.0, 1.0))
    // tie at count 1 breaks lexicographically: V=3 adds c, not zzz
    val v3 = TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocabSize = 3)
      .orderBy("doc_id").collect()
    assert(v3.map(_.getAs[Long]("in_vocab")).toSeq == Seq(4L, 3L, 0L))
  }

  test("winsorize clips at exact interpolated fences; NULL passes through") {
    import spark.implicits._
    val df = ((0 to 10).map(i => Some(i.toDouble)) :+ None)
      .toDF("v")
    val out = graft.ops.Profiling.winsorize(df, col("v"), 0.1, 0.9, "w")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toMap
    // 11 non-null values 0..10: p10 fence = 1.0, p90 fence = 9.0
    assert(out(Some(0.0)) == Some(1.0))
    assert(out(Some(10.0)) == Some(9.0))
    assert(out(Some(5.0)) == Some(5.0))
    assert(out(None).isEmpty)
  }

  test("quantileBin: equal-population buckets, fence ties fall lower, NULL stays NULL") {
    import spark.implicits._
    val df = ((1 to 8).map(i => Some(i.toDouble)) :+ None).toDF("v")
    val out = graft.ops.Profiling.quantileBin(df, col("v"), nBins = 4, outCol = "b")
      .collect().map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    // fences on 1..8: p25 = 2.75, p50 = 4.5, p75 = 6.25
    assert((1 to 8).map(i => out(Some(i.toDouble)).get).toSeq ==
      Seq(0, 0, 1, 1, 2, 2, 3, 3))
    assert(out(None).isEmpty)
    // a value exactly ON a fence joins the lower bin: median of
    // {1,2,3} is 2.0, and 2 > 2.0 is false
    val tie = Seq(1.0, 2.0, 3.0).toDF("v")
    val t = graft.ops.Profiling.quantileBin(tie, col("v"), nBins = 2, outCol = "b")
      .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(t == Map(1.0 -> 0, 2.0 -> 0, 3.0 -> 1))
  }

  test("groupedQuantileBin: per-stratum fences, NULL stratum is a real group") {
    import spark.implicits._
    // group a spans 10..80, group b spans 1000..8000, NULL group 1..4:
    // per-group quartiles must bin each stratum on ITS OWN scale
    val df = ((1 to 8).map(i => (Some("a"), Some(i * 10.0))) ++
      (1 to 8).map(i => (Some("b"), Some(i * 1000.0))) ++
      (1 to 4).map(i => (None: Option[String], Some(i.toDouble))))
      .toDF("g", "v")
    val out = graft.ops.Profiling.groupedQuantileBin(df, Seq("g"), col("v"),
        nBins = 4, outCol = "b")
      .collect().map(r => (Option(r.get(0)), r.getDouble(1)) -> r.getInt(2)).toMap
    assert((1 to 8).map(i => out((Some("a"), i * 10.0))).toSeq ==
      Seq(0, 0, 1, 1, 2, 2, 3, 3))
    assert((1 to 8).map(i => out((Some("b"), i * 1000.0))).toSeq ==
      Seq(0, 0, 1, 1, 2, 2, 3, 3))
    // the NULL stratum joins its own fences via <=>, not drops
    assert((1 to 4).map(i => out((None, i.toDouble))).toSeq == Seq(0, 1, 2, 3))
  }

  test("madOutliers flags the wild value; zero MAD flags nothing") {
    import spark.implicits._
    val df = ((1 to 9).map(_.toDouble) :+ 100.0).toDF("v")
    val out = graft.ops.Profiling.madOutliers(df, col("v"), k = 3.5)
      .select("v", "med", "mad", "robust_z", "is_outlier").collect()
    // med = (5+6)/2 = 5.5; devs sorted give MAD = 2.5
    assert(out.forall(_.getAs[Double]("med") == 5.5))
    assert(out.forall(_.getAs[Double]("mad") == 2.5))
    val flagged = out.filter(_.getAs[Boolean]("is_outlier"))
    assert(flagged.map(_.getAs[Double]("v")).toSeq == Seq(100.0))
    assert(math.abs(flagged(0).getAs[Double]("robust_z")
      - 94.5 / (1.4826 * 2.5)) < 1e-12)
    // majority-constant column: MAD = 0 → z NULL, nothing flagged
    val const = (Seq.fill(9)(5.0) :+ 100.0).toDF("v")
    val c = graft.ops.Profiling.madOutliers(const, col("v"), k = 3.5)
      .select("robust_z", "is_outlier").collect()
    assert(c.forall(r => r.isNullAt(0) && !r.getAs[Boolean]("is_outlier")))
  }

  test("minhashLshIncremental: only pairs touching the batch, no re-adjudication") {
    import spark.implicits._
    val base = (1 to 120).map(i => s"alpha$i beta${i % 13} gamma${i % 7}").mkString(" ")
    // corpus: 1 and 2 are near-dups of each other (adjudicated at
    // index-build time); batch: 10 is a near-dup of 1, 11 is unique
    val corpus = Seq((1L, base), (2L, base + " tiny tail change")).toDF("doc_id", "text")
    val batch = Seq((10L, base + " new suffix"),
      (11L, (1 to 80).map(i => s"zeta$i").mkString(" "))).toDF("doc_id", "text")
    val (is_, ish) = Dedup.minhashIndexFrames(corpus, "doc_id", "text")
    val (ns, nsh) = Dedup.minhashIndexFrames(batch, "doc_id", "text")
    val out = Dedup.minhashLshIncremental(is_, ish, ns, nsh, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair touches the batch; the (1,2) index-internal pair is
    // NOT re-emitted; the unique batch doc pairs with nothing
    assert(out.forall { case (a, b) => a >= 10L || b >= 10L })
    assert(out.contains((1L, 10L)) && out.contains((2L, 10L)))
    assert(!out.contains((1L, 2L)))
    assert(!out.exists { case (a, b) => a == 11L || b == 11L })
  }

  test("hardNegatives keeps nearest label-mismatched candidates only") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)),   // anchor, label A
      (1L, Seq(0.99, 0.14)), // A — nearest but same label: excluded
      (2L, Seq(0.9, 0.44)),  // B — hard negative #1
      (3L, Seq(0.5, 0.87)),  // B — hard negative #2
      (4L, Seq(0.0, 1.0)))   // B — outside k=2 after re-rank
      .toDF("vec_id", "embedding")
    val labels = Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B"), (4L, "B"))
      .toDF("doc_id", "lang")
    val retrieved = Similarity.bruteForceTopKJoin(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding", k = 5)
    val out = Similarity.hardNegatives(retrieved, "neighbor_id",
        labels, "doc_id", "lang", k = 2)
      .orderBy("neg_rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(out.map(_.getAs[Long]("neg_rank")).toSeq == Seq(1L, 2L))
    assert(out.forall(r => r.getAs[String]("q_label") == "A" &&
      r.getAs[String]("c_label") == "B"))
  }

  test("bpeTrain: hand-computed merges, greedy-left apply, early exhaustion") {
    import spark.implicits._
    // words: aa(wc 3) -> |a||a|, ab(2) -> |a||b|, aaa(1) -> |a||a||a|
    val docs = Seq("aa ab aa", "ab aa", "aaa").toDF("text")
    val out = TextAnalysis.bpeTrain(docs, "text", merges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // r1: (a,a) = 3 (from aa) + 2 (two pairs inside aaa) = 5
    // greedy-left: |a||a||a| -> |aa||a| (NOT |a||aa|)
    // r2: (a,b) = 2 beats (aa,a) = 1; r3: (aa,a) = 1
    assert(out == Seq((1, "a", "a", 5L), (2, "a", "b", 2L), (3, "aa", "a", 1L)))
    // exhaustion: fewer possible merges than requested stops early
    val small = Seq("xy").toDF("text")
    val ex = TextAnalysis.bpeTrain(small, "text", merges = 5).collect()
    assert(ex.length == 1) // only (x,y) exists
  }

  test("cdcChunks: exact cover, content-defined shift robustness, empty doc") {
    import spark.implicits._
    val base = (1 to 200).map(i => s"w$i t${i % 17} q${i % 5}").mkString(" ")
    val df = Seq((1L, base), (2L, "ins " + base), (3L, "")).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(df, "doc_id", "text").collect()
    // chunks tile each doc exactly: contiguous starts, lens sum to n
    for ((id, txt) <- Seq((1L, base), (2L, "ins " + base), (3L, ""))) {
      val cs = ch.filter(_.getLong(0) == id).sortBy(_.getInt(1))
      assert(cs.head.getInt(1) == 1)
      assert(cs.map(_.getLong(2)).sum == txt.length.toLong)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(b.getInt(1) == a.getInt(1) + a.getLong(2))
        case _ =>
      }
    }
    // the CDC property: a prefix insertion shifts only the chunks up
    // to the first boundary — the suffix chunk hashes all survive
    // (fixed-size blocks would share none)
    val h1 = ch.filter(_.getLong(0) == 1L).map(_.getString(3)).toSet
    val h2 = ch.filter(_.getLong(0) == 2L).map(_.getString(3)).toSet
    assert(h1.size >= 5, s"fixture too short to chunk (${h1.size} chunks)")
    assert((h1 intersect h2).size >= h1.size - 2)
    // empty doc: one zero-length chunk
    val empty = ch.filter(_.getLong(0) == 3L)
    assert(empty.length == 1 && empty.head.getLong(2) == 0L)
  }

  test("cdcChunks kernel matches the HOF specification, incl. multibyte text") {
    import spark.implicits._
    val base = (1 to 150).map(i => s"w$i x${i % 11}").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, "café ‘quoted’ あいう " + base), // multibyte cps
      (3L, ""), (4L, "tiny")).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id", "start").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSeq
    assert(rows(Dedup.cdcChunks(df, "doc_id", "text")) ==
      rows(Dedup.cdcChunksHof(df, "doc_id", "text")))
  }

  test("cdcDuplication: identical docs fully dup, unique doc clean") {
    import spark.implicits._
    val a = (1 to 120).map(i => s"alpha$i beta${i % 13}").mkString(" ")
    val b = (1 to 120).map(i => s"zeta$i omega${i % 7}").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val out = Dedup.cdcDuplication(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1 and 2 are byte-identical: every chunk occurs twice
    assert(out(0).getLong(2) == out(0).getLong(1)) // dup_chunks == n_chunks
    assert(out(0).getLong(3) == a.length.toLong)   // dup_chars == |text|
    assert(out(1).getLong(2) == out(1).getLong(1))
    // doc 3 shares nothing
    assert(out(2).getLong(2) == 0L && out(2).getLong(3) == 0L)
  }

  test("affixDedup: shared heads/tails found, unique doc clean, quadratic ground truth") {
    import spark.implicits._
    val hdr = (1 to 40).map(i => s"hdr$i x${i % 5}").mkString(" ")
    val ftr = (1 to 40).map(i => s"ftr$i y${i % 7}").mkString(" ")
    def body(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val df = Seq(
      (1L, s"$hdr ${body("aa")} tailone"),
      (2L, s"$hdr ${body("bb")} tailtwo"),
      (3L, s"headthree ${body("cc")} $ftr"),
      (4L, s"headfour ${body("dd")} $ftr"),
      (5L, s"loner ${body("ee")} loneend"),
      (6L, s"$hdr ${body("ff")} tailsix")).toDF("doc_id", "text")
    val minShared = 48L
    val out = Dedup.affixDedup(df, "doc_id", "text", minShared)
      .orderBy("kind", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // quadratic chunk-grain ground truth, computed independently of
    // the bucketed join: pairwise LCP over the per-doc chunk lists
    val chunkSeqs = Dedup.cdcChunks(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getString(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)
        .map(c => (c._4, c._3)).toSeq).toMap
    def lcpChars(a: Seq[(String, Long)], b: Seq[(String, Long)]): Long =
      a.zip(b).takeWhile { case (x, y) => x._1 == y._1 }.map(_._1._2).sum
    val expected = (for {
      (kind, seqOf) <- Seq(
        ("prefix", (x: Long) => chunkSeqs(x)),
        ("suffix", (x: Long) => chunkSeqs(x).reverse))
      b <- 1L to 6L
      cands = (1L until b).map(a => (a, lcpChars(seqOf(a), seqOf(b))))
        .filter(_._2 >= minShared)
      if cands.nonEmpty
    } yield {
      val best = cands.map(_._2).max
      (kind, b, cands.filter(_._2 == best).map(_._1).min, best)
    }).sortBy(r => (r._1, r._2))
    assert(out == expected, s"operator ${out.toList} vs quadratic ${expected.toList}")
    // the hand-known shape: 1/2/6 share the header (prefix), 3/4 the
    // footer (suffix), 5 pairs with nobody
    assert(out.filter(_._1 == "prefix").map(_._2).toSet == Set(2L, 6L))
    assert(out.filter(_._1 == "prefix").forall(_._3 == 1L))
    assert(out.filter(_._1 == "suffix").map(r => (r._2, r._3)) == Seq((4L, 3L)))
    assert(!out.exists(r => r._2 == 5L || r._3 == 5L), "the loner is clean")
    // chunk-grain floor: shared length is positive, bounded by the
    // wrapped affix region (header/footer + one diverging chunk)
    assert(out.forall(r => r._4 >= minShared))
    // the remediation half: every doc's clean text is exactly the
    // original minus its found cuts; representatives pass through
    val texts = df.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val cuts = out.groupBy(_._2).view.mapValues(rs =>
      (rs.find(_._1 == "prefix").map(_._4).getOrElse(0L),
        rs.find(_._1 == "suffix").map(_._4).getOrElse(0L))).toMap
    val stripped = Dedup.affixStrip(df, "doc_id", "text", minShared)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(stripped.length == 6)
    stripped.foreach { case (doc, clean, p, s) =>
      val (ep, es) = cuts.getOrElse(doc, (0L, 0L))
      assert((p, s) == (ep, es), s"doc $doc cuts")
      val t0 = texts(doc)
      assert(clean == t0.drop(p.toInt).dropRight(s.toInt), s"doc $doc text")
    }
    assert(stripped.find(_._1 == 1L).get._2 == texts(1L),
      "the prefix-group representative passes through untouched")
  }

  test("lshRecallAudit: exact dups read recall 1, disjoint corpus reads NULL, caught bounded") {
    import spark.implicits._
    val distinct = (1 to 30).map(i =>
      (i.toLong, (1 to 40).map(k => s"w$i$k u${(i * k) % 11}").mkString(" ")))
    // identical copies collide in EVERY band: recall is exactly 1
    val dups = distinct.take(10).map { case (i, t) => (i + 100L, t) }
    val out = Dedup.lshRecallAudit((distinct ++ dups).toDF("doc_id", "text"),
      "doc_id", "text", sampleN = 40, seed = 3L).head()
    assert(out.getLong(1) == 10L, "true pairs = the 10 identical copies")
    assert(out.getDouble(4) == 1.0, "identical copies are always caught")
    assert(out.getLong(3) <= out.getLong(2) && out.getLong(3) <= out.getLong(1),
      "caught is bounded by candidates and truth")
    // a corpus with no near-dups: zero truth, recall NULL (not 0/0)
    val clean = Dedup.lshRecallAudit(distinct.toDF("doc_id", "text"),
      "doc_id", "text", sampleN = 30, seed = 3L).head()
    assert(clean.getLong(1) == 0L && clean.isNullAt(4))
    assert(clean.getLong(0) == 30L)
  }

  test("normalizeText: fold, unicode spaces, control strip, squash, paragraphs") {
    val df = sqlDf("t" -> Seq(
      "‘a’ “b” – — …",
      "xy z　w",
      "a  \t b\n\n\n\n\nc",
      "  keep\nnewline\tand tab  "))
    val out = df.select(TextAnalysis.normalizeText(col("t"))).collect()
      .map(_.getString(0)).toSeq
    assert(out(0) == "'a' \"b\" - - ...")
    assert(out(1) == "xy z w")              // BEL gone, nbsp/ideo -> space
    assert(out(2) == "a b\n\nc")            // squash + paragraph collapse
    assert(out(3) == "keep\nnewline and tab") // \n survives, \t squashes
  }

  test("fleissKappa: hand-computed agreement, perfect panel, uneven panel rejected") {
    import spark.implicits._
    // 2 items x 2 raters: item 1 = (A, A), item 2 = (A, B)
    // P_1 = 1, P_2 = 0 -> po = 0.5; marginals A 3/4, B 1/4 ->
    // pe = 9/16 + 1/16 = 0.625; kappa = (0.5 - 0.625)/0.375 = -1/3
    val r = Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "B")).toDF("i", "c")
    val out = graft.ops.Profiling.fleissKappa(r, col("i"), col("c"))
      .collect()(0)
    assert(out.getLong(0) == 2L && out.getLong(1) == 2L)
    assert(out.getDouble(2) == 0.5 && out.getDouble(3) == 0.625)
    assert(math.abs(out.getDouble(4) - (-1.0 / 3.0)) < 1e-8, out.toString)
    // perfect agreement reads exactly 1
    val perfect = Seq((1L, "A"), (1L, "A"), (2L, "B"), (2L, "B"))
      .toDF("i", "c")
    assert(graft.ops.Profiling.fleissKappa(perfect, col("i"), col("c"))
      .collect()(0).getDouble(4) == 1.0)
    // uneven panel fails loudly, never silently mis-weights
    val uneven = Seq((1L, "A"), (1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"))
      .toDF("i", "c")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Profiling.fleissKappa(uneven, col("i"), col("c")).collect()
    }
    assert(e.getMessage.contains("UNEVEN"), e.getMessage)
  }

  test("krippendorffAlpha handles uneven panels; hand-computed value; degenerate NULL") {
    import spark.implicits._
    // item 1 rated 3x (A,A,B), item 2 rated 2x (A,B), item 3 once
    // (unpairable, drops): n=5, D_o = (2+2)/5 = 0.8,
    // D_e = (3·2+2·3)/(5·4) = 0.6, alpha = 1 − 0.8/0.6 = −1/3
    val r = Seq((1L, "A"), (1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A")).toDF("i", "c")
    val out = graft.ops.Profiling.krippendorffAlpha(r, col("i"), col("c"))
      .collect()(0)
    assert(out.getLong(0) == 2L && out.getLong(1) == 5L,
      s"single-rating items must drop: $out")
    assert(math.abs(out.getDouble(2) - 0.8) < 1e-9)
    assert(out.getDouble(3) == 0.6)
    assert(math.abs(out.getDouble(4) - (-1.0 / 3.0)) < 1e-8, out.toString)
    // perfect agreement on an uneven panel reads exactly 1
    val perfect = Seq((1L, "A"), (1L, "A"), (1L, "A"), (2L, "B"), (2L, "B"))
      .toDF("i", "c")
    assert(graft.ops.Profiling.krippendorffAlpha(perfect, col("i"), col("c"))
      .collect()(0).getDouble(4) == 1.0)
    // one-category data: D_e = 0 — agreement undefined, NULL not 1
    val mono = Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "A")).toDF("i", "c")
    assert(graft.ops.Profiling.krippendorffAlpha(mono, col("i"), col("c"))
      .collect()(0).isNullAt(4))
  }

  test("mojibakeAudit flags genuinely double-encoded text, passes clean unicode") {
    import spark.implicits._
    import java.nio.charset.{Charset, StandardCharsets}
    val clean = "The quick brown fox — café, naïve résumé, âge d'or."
    // REAL double-encoding, both decoder flavors a crawl sees:
    // latin-1 (C1 controls appear) and cp1252 (the remap set appears)
    val latin1Bad = new String(clean.getBytes(StandardCharsets.UTF_8),
      StandardCharsets.ISO_8859_1)
    val cp1252Bad = new String(clean.getBytes(StandardCharsets.UTF_8),
      Charset.forName("windows-1252"))
    val replBad = "decoder gave up � here and � there"
    val df = Seq((1L, clean), (2L, latin1Bad), (3L, cp1252Bad),
      (4L, replBad)).toDF("doc_id", "text")
    val out = TextAnalysis.mojibakeAudit(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(8)))
    // clean unicode — accented letters, a real em dash, a standalone
    // "âge" — must NOT trip any rule
    assert(out(0) == ((1L, 0L, 0L, 0L, false)), s"clean flagged: ${out(0)}")
    // latin-1 damage: artifact bigrams for é/ï/é(résumé)/â + the em
    // dash's continuation bytes land in C1
    assert(out(1)._3 >= 4 && out(1)._4 >= 2 && out(1)._5,
      s"latin-1 double-encode must flag: ${out(1)}")
    // cp1252 damage: same bigram count via the remap set, no C1
    assert(out(2)._3 >= 4 && out(2)._4 == 0 && out(2)._5,
      s"cp1252 double-encode must flag: ${out(2)}")
    // replacement chars counted exactly
    assert(out(3)._2 == 2 && out(3)._5, s"U+FFFD must flag: ${out(3)}")
    // null/empty text: zero counts, no division blowup, not suspect
    val edge = TextAnalysis.mojibakeAudit(
        Seq((9L, null: String), (10L, "")).toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(edge.forall(r => !r.getBoolean(8) && !r.isNullAt(5)))
  }

  test("fixMojibake recovers latin-1/cp1252 double-encodings, aborts on unrecoverable strings") {
    import spark.implicits._
    import java.nio.charset.{Charset, StandardCharsets}
    // chars chosen so no UTF-8 byte hits cp1252's five holes
    // (0x81/8D/8F/90/9D): ” (U+201D → ...9D) would be DESTROYED to
    // U+FFFD at mis-decode time — unrecoverable in principle, which
    // the abort path below covers separately
    val clean = "café — naïve déjà vu, ‘quotes’ and ’apostrophe’"
    val cp = new String(clean.getBytes(StandardCharsets.UTF_8),
      Charset.forName("windows-1252"))
    val l1 = new String(clean.getBytes(StandardCharsets.UTF_8),
      StandardCharsets.ISO_8859_1)
    // mis-decoded TWICE (double-double encoding) — needs two passes.
    // Built from accents only: — mis-decodes through ” (U+201D),
    // whose SECOND encode hits the 0x9D hole and is destroyed — the
    // second decode must avoid holes for the chain to be reversible
    val simple = "café naïve déjà vu"
    val dbl = new String(
      new String(simple.getBytes(StandardCharsets.UTF_8),
        Charset.forName("windows-1252")).getBytes(StandardCharsets.UTF_8),
      Charset.forName("windows-1252"))
    val cjk = "混合 mojibake cafÃ© 保持不变"
    val repl = "bad � cafÃ© stays"
    val df = Seq((1L, clean), (2L, cp), (3L, l1), (4L, dbl), (5L, cjk),
      (6L, repl), (7L, null: String), (8L, "plain ascii text"))
      .toDF("id", "t")
    val out = df.select(col("id"),
        TextAnalysis.fixMojibake(col("t")).as("f"))
      .orderBy("id").collect().map(r => Option(r.getString(1)))
    assert(out(0).get == clean, "genuine accents must survive untouched")
    assert(out(1).get == clean, "cp1252 double-encode must recover")
    assert(out(2).get == clean, "latin-1 double-encode must recover")
    assert(out(3).get == simple, "double-double encode must unwind twice")
    assert(out(4).get == cjk, "mixed CJK aborts whole-string (documented)")
    assert(out(5).get == repl, "U+FFFD is unrecoverable — abort")
    assert(out(6).isEmpty, "null-safe")
    assert(out(7).get == "plain ascii text")
    // idempotent: fixing a fixed string changes nothing
    val twice = df.filter(col("id") === 2L).select(
      TextAnalysis.fixMojibake(TextAnalysis.fixMojibake(col("t"))))
      .collect()(0).getString(0)
    assert(twice == clean)
    // and the audit's rates drop to zero after the repair
    val audited = TextAnalysis.mojibakeAudit(
        df.filter(col("id") === 2L).select(col("id").as("doc_id"),
          TextAnalysis.fixMojibake(col("t")).as("text")),
        "doc_id", "text").collect()(0)
    assert(audited.getLong(3) == 0L && !audited.getBoolean(8),
      s"repaired text must re-audit clean: $audited")
  }

  test("stripMarkup: blocks, tags, entities, whitespace — and no double-decode") {
    import spark.implicits._
    val df = Seq(
      "<p>Hello <b>world</b></p>",
      "<style>p{x}</style>keep<script a=b>drop()</script>",
      "a &amp;lt; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end",
      "  already   clean  ").toDF("t")
    val out = df.select(TextAnalysis.stripMarkup(col("t"))).as[String].collect()
    assert(out(0) == "Hello world")
    assert(out(1) == "keep")
    // &amp;lt; decodes to the LITERAL "&lt;", not "<" (single pass)
    assert(out(2) == "a &lt; b <tag> \"q\" 's' end")
    assert(out(3) == "already clean")
  }

  test("lengthGroupedBatches: batches never mix buckets, only tails run short") {
    import spark.implicits._
    val docs = (1L to 53L).map(i => (i, i * 10)).toDF("id", "toks")
    val out = graft.ops.Packing.lengthGroupedBatches(docs, col("toks"),
        col("id"), batchSize = 4, bucketEdges = Seq(170L, 350L), seed = 3L)
      .select("id", "bucket", "batch_id", "batch_pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // bucket membership is the edge chain: <=170 -> 0, <=350 -> 1, else 2
    assert(out.forall { case (id, b, _, _) =>
      b == Seq(170L, 350L).count(e => id * 10 > e) })
    val byBatch = out.groupBy(_._3)
    // a batch's members share its bucket prefix; positions are 0..n-1
    byBatch.foreach { case (bid, rows) =>
      assert(rows.map(_._2).distinct.length == 1)
      assert(bid.startsWith(s"${rows.head._2}_"))
      assert(rows.map(_._4).sorted.toSeq == (0 until rows.length))
      assert(rows.length <= 4)
    }
    // per bucket: all batches full except at most one short tail
    byBatch.toSeq.groupBy(_._2.head._2).foreach { case (_, batches) =>
      assert(batches.count(_._2.length < 4) <= 1)
    }
    // deterministic under repartitioning
    val again = graft.ops.Packing.lengthGroupedBatches(docs.repartition(7),
        col("toks"), col("id"), 4, Seq(170L, 350L), 3L)
      .select("id", "bucket", "batch_id", "batch_pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(out.toSet == again.toSet)
  }

  test("groupedKs isolates the drifted stratum; one-sided strata read ks=1") {
    import spark.implicits._
    val xs = (1 to 100).map(_.toDouble)
    val aS = xs.map(("stable", _)) ++ xs.map(("moved", _)) ++ xs.map(("only_a", _))
    val bS = xs.map(("stable", _)) ++ xs.map(v => ("moved", v + 50.0))
    val out = graft.ops.Profiling.groupedKs(
        aS.toDF("g", "v"), bS.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("stable") == 0.0, s"unchanged stratum must read 0: $out")
    assert(out("moved") == 0.5, s"half-shift must read 0.5: $out")
    assert(out("only_a") == 1.0, s"one-sided stratum must read 1: $out")
  }

  test("psi and chiSquare: near-zero on identical halves, large on shifted/skewed ones") {
    import spark.implicits._
    val xs = (1 to 1000).map(_.toDouble)
    val psiSame = graft.ops.Profiling.psi(xs.toDF("v"), xs.toDF("v"), "v").head()
    assert(math.abs(psiSame.getDouble(0)) < 1e-6, s"identical -> ~0: $psiSame")
    val psiShift = graft.ops.Profiling.psi(
      xs.toDF("v"), xs.map(_ + 500.0).toDF("v"), "v").head()
    assert(psiShift.getDouble(0) > 0.25, s"half-shift must read 'shifted': $psiShift")
    val a = (Seq.fill(90)("en") ++ Seq.fill(10)("fr")).toDF("k")
    val chiSame = graft.ops.Profiling.chiSquareTest(a, a, "k").head()
    assert(chiSame.getDouble(0) == 0.0 && chiSame.getLong(1) == 1L)
    val b = (Seq.fill(10)("en") ++ Seq.fill(90)("fr")).toDF("k")
    val chiSkew = graft.ops.Profiling.chiSquareTest(a, b, "k").head()
    assert(chiSkew.getDouble(0) > 100.0,
      s"a 90/10 flip must be wildly significant: $chiSkew")
  }

  test("ksTest: identical samples score 0, disjoint samples score 1, shift lands between") {
    import spark.implicits._
    val xs = (1 to 100).map(_.toDouble)
    val same = graft.ops.Profiling.ksTest(
      xs.toDF("v"), xs.toDF("v"), "v").head()
    assert(same.getDouble(0) == 0.0 && same.getLong(2) == 100L)
    val disjoint = graft.ops.Profiling.ksTest(
      xs.toDF("v"), xs.map(_ + 1000.0).toDF("v"), "v").head()
    assert(disjoint.getDouble(0) == 1.0,
      s"disjoint supports must give ks=1: $disjoint")
    assert(disjoint.getDouble(1) == 100.0,
      s"sup sits at sample A's max: $disjoint")
    val shifted = graft.ops.Profiling.ksTest(
      xs.toDF("v"), xs.map(_ + 50.0).toDF("v"), "v").head()
    assert(shifted.getDouble(0) == 0.5, s"half-overlap shift gives 0.5: $shifted")
    // partition-invariant (the prefix scan owns the order)
    val again = graft.ops.Profiling.ksTest(
      xs.toDF("v").repartition(7), xs.map(_ + 50.0).toDF("v").repartition(3),
      "v").head()
    assert(again.getDouble(0) == 0.5 && again.getDouble(1) == shifted.getDouble(1))
  }

  test("wasserstein1: 0 on identical samples, exact shift distance on shifted ones, partition-invariant") {
    import spark.implicits._
    val xs = (1 to 100).map(_.toDouble)
    val same = graft.ops.Profiling.wasserstein1(
      xs.toDF("v"), xs.toDF("v"), "v").head()
    assert(same.getDouble(0) == 0.0 && same.getLong(1) == 100L, s"identical -> 0: $same")
    // a pure location shift by c moves every unit of mass exactly c
    val shifted = graft.ops.Profiling.wasserstein1(
      xs.toDF("v"), xs.map(_ + 50.0).toDF("v"), "v").head()
    assert(math.abs(shifted.getDouble(0) - 50.0) < 1e-6,
      s"shift-by-50 must read W1~50: $shifted")
    val again = graft.ops.Profiling.wasserstein1(
      xs.toDF("v").repartition(7), xs.map(_ + 50.0).toDF("v").repartition(3),
      "v").head()
    assert(again.getDouble(0) == shifted.getDouble(0),
      "W1 must be partitioning-invariant")
    // KS can't tell these apart (both sup=1); W1 can (10x the distance)
    val near = graft.ops.Profiling.wasserstein1(
      Seq(0.0).toDF("v"), Seq(1.0).toDF("v"), "v").head()
    val far = graft.ops.Profiling.wasserstein1(
      Seq(0.0).toDF("v"), Seq(10.0).toDF("v"), "v").head()
    assert(math.abs(near.getDouble(0) - 1.0) < 1e-9 &&
      math.abs(far.getDouble(0) - 10.0) < 1e-9,
      s"W1 reads distance where KS saturates: $near vs $far")
  }

  test("associationAudit: perfect dependence reads V=1/U=1, independence reads ~0, asymmetry shows") {
    import spark.implicits._
    val dep = (Seq.fill(50)(("x", "x")) ++ Seq.fill(50)(("y", "y"))).toDF("a", "b")
    val r1 = graft.ops.Profiling.associationAudit(dep, "a", "b").head()
    assert(r1.getLong(0) == 100L && r1.getLong(1) == 2L && r1.getLong(2) == 2L)
    assert(math.abs(r1.getDouble(3) - 100.0) < 1e-6, s"chi2 = n at perfect dep: $r1")
    assert(math.abs(r1.getDouble(4) - 1.0) < 1e-9, s"V = 1: $r1")
    assert(r1.getDouble(8) == 1.0 && r1.getDouble(9) == 1.0,
      s"both U = 1 (grids cancel exactly): $r1")
    val ind = (for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 25 }
      yield (a, b)).toDF("a", "b")
    val r2 = graft.ops.Profiling.associationAudit(ind, "a", "b").head()
    assert(math.abs(r2.getDouble(3)) < 1e-6 && math.abs(r2.getDouble(5)) < 1e-6,
      s"independence -> chi2 ~ 0, MI ~ 0: $r2")
    // b determines a, a does not determine b: U(a|b)=1, U(b|a)<1
    val asym = (Seq.fill(25)(("x", "p")) ++ Seq.fill(25)(("x", "q")) ++
      Seq.fill(50)(("y", "r"))).toDF("a", "b")
    val r3 = graft.ops.Profiling.associationAudit(asym, "a", "b").head()
    assert(r3.getDouble(8) > 0.999 && r3.getDouble(9) < 0.7,
      s"association must read asymmetric: $r3")
  }

  test("benjaminiHochberg: step-up rejects the full prefix, including rows above their own line") {
    import spark.implicits._
    // rank1 p=0.03 > its own critical 0.025, but rank3 passes -> ALL of
    // ranks 1..3 reject (the step-up), rank4 survives
    val pv = Seq(("s1", 0.03), ("s2", 0.04), ("s3", 0.06), ("s4", 0.9))
      .toDF("stratum", "p")
    val out = graft.ops.Profiling.benjaminiHochberg(pv, "stratum", "p", 0.1)
      .orderBy("rank").collect()
    assert(out.map(_.getBoolean(5)).toSeq == Seq(true, true, true, false),
      out.mkString("; "))
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 4))
    assert(out.forall(_.getLong(3) == 4L))
    // nothing passes -> nothing rejected (k=0, not a crash)
    val none = graft.ops.Profiling.benjaminiHochberg(
      Seq(("a", 0.5), ("b", 0.9)).toDF("stratum", "p"), "stratum", "p", 0.05)
      .collect()
    assert(none.forall(!_.getBoolean(5)))
  }

  test("anomalousWindows flags the spike hour, not the steady ones; MAD-0 types yield NULL z") {
    import spark.implicits._
    val base = 1700000000000L
    def ts(h: Int, i: Int) = new java.sql.Timestamp(base + h * 3600000L + i * 1000L)
    // 'view': 5 hours of ~10 events, one hour of 100 (the spike);
    // 'ping': identical count every hour (MAD 0)
    val evs = (for { h <- 0 until 6; i <- 0 until (if (h == 3) 100 else 10 + h % 2) }
      yield (ts(h, i), "view")) ++
      (for { h <- 0 until 6; i <- 0 until 7 } yield (ts(h, i), "ping"))
    val df = evs.toDF("ts", "event_type")
    val out = graft.ops.EventAnalytics.anomalousWindows(df, "1 hour", k = 3.5)
      .collect().map(r => (r.getString(0), r.getLong(2),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)), r.getBoolean(6)))
    val viewRows = out.filter(_._1 == "view")
    assert(viewRows.count(_._4) == 1 &&
      viewRows.find(_._4).get._2 == 100L,
      s"exactly the spike hour flags: ${viewRows.toSeq}")
    val pingRows = out.filter(_._1 == "ping")
    assert(pingRows.forall(r => r._3.isEmpty && !r._4),
      s"constant type must yield NULL z, no flags: ${pingRows.toSeq}")
  }

  test("mmrRerank demotes near-copies of already-selected hits") {
    import spark.implicits._
    // candidates for one query: 10 and 11 are near-identical vectors
    // with the top rel scores; 20 points elsewhere with lower rel.
    // Pure relevance order: 10, 11, 20. MMR must pick 20 second.
    val cands = Seq(
      (1L, 10L, 0.99, Seq(1.0, 0.0, 0.0)),
      (1L, 11L, 0.98, Seq(0.999, 0.001, 0.0)),
      (1L, 20L, 0.50, Seq(0.0, 1.0, 0.0)))
      .toDF("q", "id", "rel", "v")
    val order = Similarity.mmrRerank(cands, "q", "id", "rel", "v",
        k = 3, lambda = 0.5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(order == Seq(10L, 20L, 11L),
      s"diversity must demote the near-copy: $order")
    // the internal HALF_UP rounding matches Spark's round() on a sweep
    val xs = Seq(0.12344999, 0.12345001, -0.5, 0.99995, 1.0 / 3.0)
    val viaSpark = xs.toDF("x")
      .select(round(col("x"), 4)).collect().map(_.getDouble(0)).toSeq
    val viaScala = xs.map(x => java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    assert(viaSpark == viaScala, s"round parity: $viaSpark vs $viaScala")
  }

  test("y4mSceneCuts flags the changed pair and stays quiet on identical frames") {
    import graft.ops.Multimodal
    import org.apache.spark.sql.functions.{col => f}
    // build a 3-frame clip where frames 0 and 1 are identical and
    // frame 2 differs: cut only at frame_idx 2
    val base = Multimodal.syntheticY4m(
      sqlDf("doc_id" -> Seq(1L), "text" -> Seq("alpha")), "doc_id", "text",
      w = 4, h = 4, frames = 1)
    val Array(hdrAndF) = base.select("payload").collect().map(_.getAs[Array[Byte]](0))
    val hdr = hdrAndF.takeWhile(_ != '\n'.toByte) :+ '\n'.toByte
    val frame = hdrAndF.drop(hdr.length) // FRAME\n + 24 bytes
    val changed = frame.clone()
    // overwrite the luma plane with a far-off constant
    for (i <- 0 until 16) changed(6 + i) = 'z'.toByte
    val payload = hdr ++ frame ++ frame ++ changed
    val media = base.select(f("media_id"), f("meta")).limit(1)
      .withColumn("payload", org.apache.spark.sql.functions.lit(payload))
    val out = Multimodal.y4mSceneCuts(media, threshold = 10.0).toDF()
      .orderBy("frame_idx").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getBoolean(4)))
    assert(out.length == 2)
    assert(out(0)._2 == 0L && !out(0)._3, s"identical pair must not cut: ${out.toSeq}")
    assert(out(1)._2 > 0L && out(1)._3, s"changed pair must cut: ${out.toSeq}")
  }

  test("resizePpm: identity resize is byte-identical, upscale of a constant stays constant, corrupt rows drop") {
    import graft.ops.Multimodal
    val media = Multimodal.syntheticPpm(
      sqlDf("doc_id" -> Seq(1L, 2L), "text" -> Seq("alpha", "beta")),
      "doc_id", "text", w = 8, h = 6)
    // identity: same dims -> identical payload bytes
    val same = Multimodal.resizePpm(media, 8, 6)
      .select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val orig = media.select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(same == orig, "identity resize must be byte-identical")
    // 1x1 upscaled to 3x3: every output pixel is the single source one
    val one = Multimodal.syntheticPpm(
      sqlDf("doc_id" -> Seq(9L), "text" -> Seq("gamma")), "doc_id", "text", 1, 1)
    val up = Multimodal.decodePpm(Multimodal.resizePpm(one, 3, 3))
      .toDF().collect().head
    val base = Multimodal.decodePpm(one).toDF().collect().head
    assert(up.getBoolean(1) && up.getInt(2) == 3 && up.getInt(3) == 3)
    assert(up.getDouble(5) == base.getDouble(5) &&
      up.getDouble(6) == base.getDouble(6) && up.getDouble(7) == base.getDouble(7),
      "constant upscale must preserve channel means exactly")
    // corrupt payload: dropped, not crashed
    import org.apache.spark.sql.functions.{col => f, lit => l, encode}
    val corrupt = media.withColumn("payload",
      encode(l("not a ppm at all"), "UTF-8"))
    assert(Multimodal.resizePpm(corrupt, 4, 3).count() == 0L)
  }

  test("readability ranks simple prose above polysyllabic prose; routeVerdict routes NaN/null to reject") {
    import spark.implicits._
    val df = Seq(
      (1L, "The cat sat. The dog ran. We all left."),
      (2L, "Internationalization methodologies necessitate organizational interoperability."),
      (3L, "...")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.readability(df, "text")
      .select("doc_id", "fre")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).get > out(2L).get,
      s"monosyllables must score easier: $out")
    assert(out(3L).isEmpty, "no-word doc scores NULL")
    val routed = graft.streaming.EventStreams.routeVerdict(
        Seq((1L, 0.9), (2L, 0.2), (3L, Double.NaN))
          .toDF("id", "s").union(Seq((4L, Option.empty[Double]))
            .toDF("id", "s")),
        col("s"), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(routed == Map(1L -> "accept", 2L -> "reject",
      3L -> "reject", 4L -> "reject"), s"router partition broken: $routed")
  }

  test("bm25PrfTopK surfaces vocabulary the original query never typed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark agg pipelines run fast"),               // matches 'agg'
      (2L, "agg aggregate aggregate aggregate details"),  // the bridge doc
      (3L, "aggregate functions in distributed engines"), // NO 'agg' at all
      (4L, "completely unrelated walrus content here"))
      .toDF("doc_id", "text")
    val qs = Seq(("q1", "agg")).toDF("q_id", "qtext")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
    val stats = Retrieval.corpusStatsOf(docs, "text")
    val plain = Retrieval.bm25TopKIndexed(idx, stats, "doc_id",
        qs, "q_id", "qtext", k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val prf = Retrieval.bm25PrfTopK(idx, stats, "doc_id",
        qs, "q_id", "qtext", k = 10, fbDocs = 2, fbTerms = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!plain.contains(3L), s"plain BM25 cannot see doc 3: $plain")
    assert(prf.contains(3L),
      s"PRF must expand 'agg' -> 'aggregate' and surface doc 3: $prf")
    assert(!prf.contains(4L), "unrelated doc stays out")
  }

  test("bm25PrfTopK over-cap query frame takes the lazy fallback, results identical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark agg pipelines run fast"),
      (2L, "agg aggregate aggregate aggregate details"),
      (3L, "aggregate functions in distributed engines"),
      (4L, "completely unrelated walrus content here"))
      .toDF("doc_id", "text")
    val qs = Seq(("q1", "agg pipelines"), ("q2", "distributed engines"))
      .toDF("q_id", "qtext")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
    val stats = Retrieval.corpusStatsOf(docs, "text")
    def run() = Retrieval.bm25PrfTopK(idx, stats, "doc_id",
        qs, "q_id", "qtext", k = 10, fbDocs = 2, fbTerms = 1)
      .orderBy("q_id", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val literalPath = run()
    // cap of 1 row: both collectCapped probes overflow, the whole
    // pipeline stays lazy (broadcast joins, no driver literal) — the
    // verdict must be bit-identical either way
    spark.conf.set("spark.graft.prfCollectCap", "1")
    try {
      val lazyPath = run()
      assert(lazyPath == literalPath,
        s"over-cap fallback changed results:\n$lazyPath\nvs\n$literalPath")
      assert(lazyPath.nonEmpty)
    } finally spark.conf.unset("spark.graft.prfCollectCap")
  }

  test("hits separates hubs from authorities on a directed star") {
    import spark.implicits._
    // 1 and 2 both link to {10, 11, 12}; nothing links back: 1,2 are
    // pure hubs, 10-12 pure authorities
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (2L, 12L)).toDF("src", "dst")
    val out = graft.ops.Graph.hits(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 > 0.0 && out(1L)._2 == 0.0, s"1 is a pure hub: $out")
    assert(out(10L)._1 == 0.0 && out(10L)._2 > 0.0, s"10 is a pure authority: $out")
    // symmetric roles score identically; L1 normalization holds
    assert(out(1L) == out(2L) && out(10L) == out(11L))
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-12)
  }

  test("ivfPqTopK probes only the query's cells, finds the query itself, and is deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // 60 vectors in 16 dims, clustered around 4 anchors so the coarse
    // quantizer has real structure
    val vecs = (0L until 60L).map { i =>
      val a = (i % 4).toInt
      (i, Array.tabulate(16)(j =>
        (if (j % 4 == a) 5.0 else 0.0) + rnd.nextInt(100) / 100.0).toSeq)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qv"))
    val out = Similarity.ivfPqTopK(e, "vec_id", "embedding", dims = 16,
        nLists = 6, nProbe = 2, m = 4, ksub = 4, iters = 1,
        queryDf = q, k = 8)
      .select("vec_id", "adc", "rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.length == 8)
    // the query vector's own residual is among the best matches
    assert(out.take(3).exists(_._1 == 0L),
      s"query's own vector must rank near the top: ${out.toSeq}")
    // ranks are 1..k by ascending adc
    assert(out.map(_._3).toSeq == (1L to 8L))
    assert(out.sortBy(r => (r._2, r._1)).toSeq == out.toSeq)
    // probed-cell containment: every result sits in one of the two
    // cells nearest the query
    val (assigned, centroids) = Similarity.ivfIndexDeterministic(
      e, "vec_id", "embedding", nLists = 6)
    val probed = centroids.crossJoin(broadcast(q))
      .withColumn("__d", Similarity.l2(col("centroid"), col("qv")))
      .orderBy(col("__d").asc, col("list_id")).limit(2)
      .collect().map(_.getInt(0)).toSet
    val cellOf = assigned.select("vec_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, _, _) =>
      assert(probed.contains(cellOf(id)), s"$id outside probed cells")
    }
    // replay-deterministic
    val again = Similarity.ivfPqTopK(e, "vec_id", "embedding", dims = 16,
        nLists = 6, nProbe = 2, m = 4, ksub = 4, iters = 1,
        queryDf = q, k = 8)
      .select("vec_id", "adc", "rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("ivfPqTopKJoin: the batched retrieval equals the single-query plan per query") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 60L).map { i =>
      val a = (i % 4).toInt
      (i, Array.tabulate(16)(j =>
        (if (j % 4 == a) 5.0 else 0.0) + rnd.nextInt(100) / 100.0).toSeq)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val multi = Similarity.ivfPqTopKJoin(e, "vec_id", "embedding", dims = 16,
        nLists = 6, nProbe = 2, m = 4, ksub = 4, iters = 1,
        queries = e.filter(col("vec_id") < 3), qid = "vec_id",
        qvec = "embedding", k = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(multi.length == 24, s"3 queries x k=8: ${multi.length}")
    (0L until 3L).foreach { qi =>
      val single = Similarity.ivfPqTopK(e, "vec_id", "embedding", dims = 16,
          nLists = 6, nProbe = 2, m = 4, ksub = 4, iters = 1,
          queryDf = e.filter(col("vec_id") === qi)
            .select(col("embedding").cast("array<double>").as("qv")),
          k = 8)
        .select("vec_id", "adc", "rank")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      val got = multi.filter(_._1 == qi).sortBy(_._4)
        .map(r => (r._2, r._3, r._4)).toSeq
      assert(got == single,
        s"query $qi: batched != single-query\n$got\nvs\n$single")
    }
  }

  test("materialized IVF-PQ index: round-trip equality, directory pruning, day-2 append") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 60L).map { i =>
      val a = (i % 4).toInt
      (i, Array.tabulate(16)(j =>
        (if (j % 4 == a) 5.0 else 0.0) + rnd.nextInt(100) / 100.0).toSeq)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpqidx").toFile
    val full = new java.io.File(dir, "full").getPath
    Similarity.ivfPqIndexWrite(e, "vec_id", "embedding", dims = 16,
      nLists = 6, m = 4, ksub = 4, iters = 1, path = full)
    // serve-from-artifact is bit-identical to the in-plan chain; the
    // executed plans of the queries it runs are captured for the
    // directory-pruning check below. A resident load reads every
    // partition, so the check runs on the per-call path (no byte budget)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(fn: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def serve() = Similarity.ivfPqTopKJoinFromIndex(spark, full,
      e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 8, nProbe = 1)
    val fromIdx =
      try graft.sources.Resident.withBudget(0L)(serve())
      finally {
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    val inPlan = Similarity.ivfPqTopKJoin(e, "vec_id", "embedding", dims = 16,
      nLists = 6, nProbe = 1, m = 4, ksub = 4, iters = 1,
      queries = e.filter(col("vec_id") < 3), qid = "vec_id",
      qvec = "embedding", k = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(rows(fromIdx) == rows(inPlan),
      "serve-from-artifact must equal the in-plan chain bit for bit")
    // the probe filter reaches the scan of the probed cells' codes as a
    // PARTITION filter — non-probed list_id directories are never read
    val codeScans = plans.toArray(Array.empty[String]).toSeq
      .filter(_.contains("__code_0"))
    assert(codeScans.nonEmpty, s"no scan of the codes table ran:\n$plans")
    codeScans.foreach(plan => assert(plan.contains("PartitionFilters: [list_id"),
      s"probe filter must prune list_id directories:\n${plan.take(2000)}"))
    // within the budget the codes load ONCE per file set: the next
    // call is served from memory, with the same answer
    val c0 = graft.sources.Resident.counts
    assert(rows(serve()) == rows(inPlan))
    val c1 = graft.sources.Resident.counts
    assert(rows(serve()) == rows(inPlan))
    val c2 = graft.sources.Resident.counts
    assert(c1.loads == c0.loads + 1 && c2.loads == c1.loads && c2.hits == c1.hits + 1,
      s"one resident load per file set: $c0 -> $c1 -> $c2")
    // day-2: index trained on evens, odds appended against the STORED
    // centroids/codebooks == one-shot encode of everything with the
    // same even-trained artifacts
    val incr = new java.io.File(dir, "incr").getPath
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 === 1)
    Similarity.ivfPqIndexWrite(evens, "vec_id", "embedding", dims = 16,
      nLists = 6, m = 4, ksub = 4, iters = 1, path = incr)
    Similarity.ivfPqIndexAppend(odds, "embedding", incr)
    // the appended table carries every vector exactly once
    val codes = spark.read.parquet(s"$incr/codes")
    assert(codes.count() == 60 &&
      codes.select("vec_id").distinct().count() == 60)
    // re-appending the delta against the same artifacts encodes it
    // identically (deterministic argmin against stored centroids +
    // books) — compare the code tuples of one odd vector
    val before = codes.filter(col("vec_id") === 1L).collect()(0).toSeq
    Similarity.ivfPqIndexAppend(odds.filter(col("vec_id") === 1L),
      "embedding", incr)
    val after = spark.read.parquet(s"$incr/codes")
      .filter(col("vec_id") === 1L).collect().map(_.toSeq)
    assert(after.length == 2 && after.forall(_ == before),
      s"append must be deterministic: $before vs ${after.toSeq}")
    // appended vectors are retrievable: query 1 (odd) finds itself
    val servedIncr = Similarity.ivfPqTopKJoinFromIndex(spark, incr,
      e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 8, nProbe = 2)
    assert(rows(servedIncr).exists(r => r._1 == 1L && r._2 == 1L),
      "an appended (odd) vector must be retrievable from the index")
  }

  test("gridHistogramBy slices exactly like per-key gridHistogram; quantile reads stay in-bin") {
    import spark.implicits._
    val df = Seq.tabulate(300)(i => (if (i % 3 == 0) "a" else "b",
      (i % 100).toDouble)).toDF("k", "v")
    val by = graft.ops.Profiling.gridHistogramBy(df, Seq("k"), col("v"),
        0.0, 100.0, 10)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(4))).toMap
    Seq("a", "b").foreach { key =>
      val single = graft.ops.Profiling.gridHistogram(
          df.filter(col("k") === key), col("v"), 0.0, 100.0, 10)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      single.foreach { case (b, n) =>
        assert(by((key, b)) == n, s"$key bin $b: ${by.get((key, b))} vs $n")
      }
    }
    // per-key quantile read: each estimate sits inside its bin's edges
    // and within one bin width of the exact per-key quantile
    val q = graft.ops.Profiling.histQuantilesBy(
        graft.ops.Profiling.gridHistogramBy(df, Seq("k"), col("v"),
          0.0, 100.0, 10),
        Seq("k"), 0.0, 100.0, 10, Seq(0.5, 0.9))
      .collect().map(r => ((r.getString(0), r.getDouble(1)), r.getDouble(2))).toMap
    assert(q.size == 4, s"2 keys x 2 ps: $q")
    Seq("a", "b").foreach { key =>
      val exact = graft.ops.Profiling.exactQuantiles(
          df.filter(col("k") === key), col("v"), Seq(0.5, 0.9))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
      Seq(0.5, 0.9).foreach { pp =>
        assert(math.abs(q((key, pp)) - exact(pp)) <= 10.0 + 1e-9,
          s"$key p=$pp: grid ${q((key, pp))} vs exact ${exact(pp)}")
      }
    }
  }

  test("gridHistogram properties: counts conserve, bins contain their values, edges clamp") {
    import spark.implicits._
    val lo = -3.7; val hi = 11.3; val bins = 7
    val w = (hi - lo) / bins
    // a sweep crossing every bin, both exact edges, the value one ulp
    // under hi (the floor-rounds-up clamp case), and out-of-range mass
    val vals = (0 to 600).map(i => lo - 2.0 + i * 0.03) ++
      Seq(lo, hi, Math.nextDown(hi), lo - 1e-9, hi + 1e9)
    val df = vals.toDF("v")
    val hist = graft.ops.Profiling.gridHistogram(df, col("v"), lo, hi, bins)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getLong(3)))
    // conservation: every non-null value lands in exactly one bin
    assert(hist.map(_._4).sum == vals.size.toLong)
    // finite bins contain exactly the values inside their edges
    hist.filter(r => r._1 >= 0 && r._1 < bins).foreach {
      case (b, Some(le), Some(he), n) =>
        assert(le == lo + b * w && he == lo + (b + 1) * w,
          s"bin $b edges: $le/$he")
        val expect = vals.count(v => v >= le && v < he)
        assert(n == expect, s"bin $b: $n vs $expect values in [$le,$he)")
      case other => fail(s"finite bin with null edges: $other")
    }
    // exact edge semantics: lo -> bin 0, hi -> overflow, under/over
    val m = hist.map(r => r._1 -> r._4).toMap
    assert(m(-1L) == vals.count(_ < lo), s"underflow: $m")
    assert(m(bins.toLong) == vals.count(_ >= hi), s"overflow: $m")
    // the one-ulp-under-hi value stayed in bin bins-1 (clamp), never
    // leaked into overflow by floating floor round-up
    val topBin = hist.find(_._1 == (bins - 1).toLong).get
    assert(topBin._4 >= 1, s"clamp case missing from the top bin: $topBin")
  }

  test("propExtract types fields out of JSON and NULLs malformed metadata") {
    import spark.implicits._
    val df = Seq(
      (1L, """{"k": 42, "tag": "a", "score": 0.5}"""),
      (2L, """{"k": "not-a-number", "tag": 7}"""),
      (3L, """not json at all"""),
      (4L, null.asInstanceOf[String])).toDF("id", "props")
    val out = graft.ops.EventAnalytics.propExtract(df, col("props"), Seq(
        "k" -> ("$.k", "bigint"),
        "tag" -> ("$.tag", "string"),
        "score" -> ("$.score", "double")))
      .orderBy("id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        Option(r.getAs[String]("tag")),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out(0) == ((1L, Some(42L), Some("a"), Some(0.5))))
    // non-numeric k casts to NULL, numeric tag stringifies
    assert(out(1) == ((2L, None, Some("7"), None)))
    // malformed and NULL blobs yield NULL fields, never a failure
    assert(out(2) == ((3L, None, None, None)))
    assert(out(3) == ((4L, None, None, None)))
  }

  test("sortedNeighborhoodPairs equals brute force restricted to the sort window") {
    import spark.implicits._
    val names = Seq((1L, "smith john"), (2L, "smith jon"), (3L, "smith johnn"),
      (4L, "smyth john"), (5L, "adams mary"), (6L, "adams marie"),
      (7L, "zzz outlier"), (8L, "adams mary"))
    val df = names.toDF("id", "s")
    val got = graft.ops.FuzzyJoin
      .sortedNeighborhoodPairs(df, "id", "s", window = 3, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    // brute-force reference: rank by (s, id), pair within the window,
    // filter by true edit distance
    val ranked = names.sortBy(n => (n._2, n._1)).zipWithIndex
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      ((ia, sa), ra) <- ranked; ((ib, sb), rb) <- ranked
      if rb > ra && rb <= ra + 2
      dist = lev(sa, sb) if dist <= 2
    } yield (math.min(ia, ib), math.max(ia, ib), dist)).toSet
    assert(got == expect, s"window pairs:\n$got\nvs brute\n$expect")
    // well-formed: a < b, dist within bound; the exact duplicate pair
    // (5, 8) "adams mary" surfaces at distance 0
    assert(got.forall(p => p._1 < p._2 && p._3 <= 2))
    assert(got.contains((5L, 8L, 0)), s"exact dup must pair: $got")
    // the isolated sort neighborhood contributes nothing
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
  }

  test("benford: conservation, expected shares, and the flat-data alarm") {
    import spark.implicits._
    // log-uniform-ish data (1..9999 powers spread) conforms; uniform
    // 5-digit data does not
    val conforming = (1 to 2000).map(i =>
      math.floor(math.pow(10.0, (i % 1000) / 250.0)).toLong).toDF("v")
    val out = graft.ops.Profiling.benford(conforming, col("v"))
      .orderBy("digit").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.length == 9 && out.map(_._1).toSeq == (1 to 9))
    assert(out.map(_._2).sum == 2000L, "every positive value counted once")
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-12, "observed shares sum to 1")
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-12, "benford shares sum to 1")
    assert(out.map(_._5).distinct.length == 1, "one MAD broadcast to all rows")
    assert(out.head._5 < 0.015, s"log-spread data conforms: ${out.head._5}")
    // uniform 10000..99999: every first digit equally likely -> flat
    val flat = (10000 to 29999).map(_.toLong).toDF("v")
    val mad = graft.ops.Profiling.benford(flat, col("v"))
      .collect()(0).getDouble(4)
    assert(mad > 0.05, s"uniform data must alarm: $mad")
    // zero/negative rows are excluded, not crashed on
    val mixed = Seq(-5L, 0L, 123L, 456L).toDF("v")
    assert(graft.ops.Profiling.benford(mixed, col("v"))
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) == 2L)
  }

  test("ndcgAtK: perfect retrieval reads exactly 1, misses discount by position") {
    import spark.implicits._
    val truth = Seq((0L, 10L), (0L, 11L), (0L, 12L),
      (1L, 10L), (1L, 11L), (1L, 12L)).toDF("query_id", "neighbor_id")
    // query 0 retrieves the truth in order; query 1 gets the top hit
    // wrong but hits at ranks 2,3
    val ret = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L),
      (1L, 99L, 1L), (1L, 10L, 2L), (1L, 11L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.ndcgAtK(truth, ret, k = 3)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // grid consistency: dcg and idcg share the quantized weights, so
    // a perfect ranking is EXACTLY 1.0, not 1±ulp
    assert(out(0)._4 == 1.0, s"perfect ranking must be exactly 1: ${out(0)}")
    // rank-1 miss costs more than any tail miss: ndcg strictly below
    // the share a position-blind metric would give (2/3 of mass kept)
    assert(out(1)._4 > 0.0 && out(1)._4 < out(0)._4, s"${out(1)}")
    assert(out(1)._2 < out(1)._3, "dcg below ideal on a miss")
    // a query with no retrieved rows still reports (0, idcg, 0)
    val none = Similarity.ndcgAtK(truth,
        ret.filter(col("query_id") === 0L), k = 3)
      .filter(col("query_id") === 1L).collect()(0)
    assert(none.getDouble(1) == 0.0 && none.getDouble(3) == 0.0)
    // duplicated truth rows neither multiply a hit's weight through
    // the join nor inflate the ideal's size: same answers as distinct
    // truth, ndcg can never exceed 1 (r13 advice)
    val dupTruth = truth.unionByName(truth).unionByName(
      truth.filter(col("neighbor_id") === 10L))
    val dup = Similarity.ndcgAtK(dupTruth, ret, k = 3)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(dup.toSeq == out.toSeq,
      s"dup truth must not change ndcg:\n${dup.toSeq}\nvs\n${out.toSeq}")
    assert(dup.forall(_._4 <= 1.0), s"ndcg > 1 on dup truth: ${dup.toSeq}")
  }

  test("updateIndex: add, remove, and replace all equal a from-scratch rebuild") {
    import spark.implicits._
    val v1 = Seq((1L, "spark window agg"), (2L, "customer join order"),
      (3L, "old stale text"), (4L, "vector scan stream")).toDF("doc_id", "text")
    // day 2: doc 3 replaced, doc 5 added, doc 4 deleted
    val v2 = Seq((1L, "spark window agg"), (2L, "customer join order"),
      (3L, "fresh replacement text"), (5L, "brand new doc")).toDF("doc_id", "text")
    val idx1 = Retrieval.invertedIndex(v1, "doc_id", "text")
    val st1 = Retrieval.corpusStatsOf(v1, "text")
    val (idx2, st2) = Retrieval.updateIndex(idx1, st1,
      newDocs = Seq((3L, "fresh replacement text"), (5L, "brand new doc"))
        .toDF("doc_id", "text"),
      "doc_id", "text",
      removedIds = Some(Seq(3L, 4L).toDF("doc_id")))
    val rebuilt = Retrieval.invertedIndex(v2, "doc_id", "text")
    assert(st2 == Retrieval.corpusStatsOf(v2, "text"),
      s"stats must match the rebuild: $st2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("dl").cast("long"), col("term"), col("tf"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(rows(idx2.select("doc_id", "dl", "term", "tf")) ==
      rows(rebuilt.select("doc_id", "dl", "term", "tf")))
    // and retrieval over the updated index == retrieval over v2
    val qs = Seq(("q1", "fresh vector text")).toDF("q_id", "qtext")
    val a = Retrieval.bm25TopKIndexed(idx2, st2, "doc_id", qs, "q_id", "qtext", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Retrieval.bm25TopKIndexed(rebuilt, st2, "doc_id", qs, "q_id", "qtext", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b, s"retrieval must be bit-identical: $a vs $b")
  }

  test("cusumChangePoints matches the sequential recursion and flags a sustained shift, not one spike") {
    import spark.implicits._
    val h0 = 1700000000000L
    def at(hour: Int, nEvents: Int): Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (1 to nEvents).map(i => ((hour * 100 + i).toLong,
        new java.sql.Timestamp(h0 + hour * 3600000L + i * 1000L), 1L, "e", 1.0))
    // hours 0-5 at baseline 3/h; ONE spike hour 6 (9 events); back to
    // baseline 7-9; then a sustained shift: hours 10-14 at 7/h
    val counts = Seq(3, 3, 3, 3, 3, 3, 9, 3, 3, 3, 7, 7, 7, 7, 7)
    val rows = counts.zipWithIndex.flatMap { case (n, hr) => at(hr, n) }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.ops.EventAnalytics
      .cusumChangePoints(ev, "1 hour", k = 4L, h = 8L)
      .orderBy("wstart").collect()
    assert(out.length == 15)
    // sequential reference: S_t = max(0, S_{t-1} + n - 4)
    var s = 0L
    val ref = counts.map { n => s = math.max(0L, s + n - 4L); s }
    out.zip(ref).foreach { case (r, expect) =>
      assert(r.getAs[Long]("cusum") == expect,
        s"at ${r.getAs[java.sql.Timestamp]("wstart")}: ${r.getAs[Long]("cusum")} vs $expect")
    }
    val flags = out.map(_.getAs[Boolean]("changed"))
    assert(!flags.take(10).exists(identity),
      "one spike decays (5, then drains) — no flag before the shift")
    assert(flags.drop(12).forall(identity),
      "the sustained +3/h shift must cross h=8 by hour 12")
  }

  test("ewmaChart: dyadic levels, gap hours drain, surge alarm, first window silent") {
    import spark.implicits._
    val h0 = 1700000000000L
    def at(tpe: String, hour: Int, nEvents: Int) =
      (1 to nEvents).map(i => ((hour * 100 + i).toLong,
        new java.sql.Timestamp(h0 + hour * 3600000L + i * 1000L), 1L, tpe, 1.0))
    // type e: 4, 8, GAP, 40 — the gap hour must appear (count 0) via
    // the spine and drain the level; type q pins the global bounds
    // start and then goes silent
    val rows = at("e", 0, 4) ++ at("e", 1, 8) ++ at("e", 3, 40) ++ at("q", 0, 3)
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.ops.EventAnalytics
      .ewmaChart(ev, "1 hour", horizon = 16, mult = 4L, guard = 4L)
      .orderBy("event_type", "wstart").collect()
    assert(out.length == 8, s"2 types x 4 spine hours: ${out.length}")
    val e = out.filter(_.getAs[String]("event_type") == "e")
    // hand dyadics: e_t = sum 2^-(j+1) n_{t-j}
    assert(e.map(_.getAs[Long]("n")).toSeq == Seq(4L, 8L, 0L, 40L))
    assert(e.map(_.getAs[Double]("ewma")).toSeq ==
      Seq(2.0, 5.0, 2.5, 21.25), e.map(_.getAs[Double]("ewma")).toSeq)
    // alarm only at the 40-surge (40 > 4*2.5 + 4); the first window
    // has no e_{t-1} and must stay silent; 8 > 4*2 + 4 is a tie, not
    // an alarm (strict >)
    assert(e.map(_.getAs[Boolean]("alarm")).toSeq ==
      Seq(false, false, false, true))
    val q = out.filter(_.getAs[String]("event_type") == "q")
    assert(q.map(_.getAs[Double]("ewma")).toSeq ==
      Seq(1.5, 0.75, 0.375, 0.1875), "silence halves the level each hour")
    assert(!q.exists(_.getAs[Boolean]("alarm")))
  }

  test("intervalOverlap matches the quadratic reference pair-for-pair (one-bin ownership)") {
    import spark.implicits._
    // deterministic mixed-length intervals, several spanning many
    // bins (max len 84 vs binWidth 16), with per-key lanes
    val left = (0 until 200).map { i =>
      val lo = (i * 37L) % 1000L
      (i.toLong, i % 3L, lo, lo + (i % 13L) * 7L)
    }.toDF("l_id", "u", "l_lo", "l_hi")
    val right = (0 until 150).map { j =>
      val lo = (j * 53L) % 1000L
      (j.toLong, j % 3L, lo, lo + (j % 17L) * 5L)
    }.toDF("r_id", "u", "r_lo", "r_hi")
    val got = graft.ops.RangeJoin.intervalOverlap(
        left, "l_lo", "l_hi", right, "r_lo", "r_hi",
        binWidth = 16L, keys = Seq("u"))
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // EXACTLY once per overlapping pair: the multi-bin pairs are the
    // ones a naive bin join would duplicate
    assert(got.length == got.toSet.size,
      "one-bin ownership must emit each pair exactly once")
    val expected = left.as("l").join(right.as("r"),
        col("l.u") === col("r.u") &&
          col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == expected,
      s"got ${got.length}, expected ${expected.size}")
    assert(expected.size > 500, "fixture must exercise real overlap volume")
    // inclusive endpoints: touching intervals join
    val l1 = Seq((1L, 0L, 10L, 20L)).toDF("l_id", "u", "l_lo", "l_hi")
    val r1 = Seq((9L, 0L, 20L, 30L)).toDF("r_id", "u", "r_lo", "r_hi")
    assert(graft.ops.RangeJoin.intervalOverlap(
      l1, "l_lo", "l_hi", r1, "r_lo", "r_hi", 16L, Seq("u")).count() == 1L)
  }

  test("cusumChangePoints direction=down flags a sustained stall the up test never sees") {
    import spark.implicits._
    val h0 = 1700000000000L
    // healthy 5/h for 6 hours, then a stall: 1/h for 8 hours
    val counts = Seq(5, 5, 5, 5, 5, 5, 1, 1, 1, 1, 1, 1, 1, 1)
    val rows = counts.zipWithIndex.flatMap { case (n, hr) =>
      (1 to n).map(i => ((hr * 100 + i).toLong,
        new java.sql.Timestamp(h0 + hr * 3600000L + i * 1000L), 1L, "e", 1.0))
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val down = graft.ops.EventAnalytics
      .cusumChangePoints(ev, "1 hour", k = 2L, h = 6L, direction = "down")
      .orderBy("wstart").collect()
    var s = 0L
    val ref = counts.map { n => s = math.max(0L, s + 2L - n); s }
    assert(down.map(_.getAs[Long]("cusum")).toSeq == ref)
    assert(down.map(_.getAs[Boolean]("changed")).count(identity) > 0,
      "the stall must flag")
    // the UP test (same data) never flags — the stall is invisible to it
    val up = graft.ops.EventAnalytics
      .cusumChangePoints(ev, "1 hour", k = 4L, h = 8L)
      .orderBy("wstart").collect()
    assert(!up.exists(_.getAs[Boolean]("changed")))
  }

  test("cusumChangePoints gap-fills silent windows so the statistic drains") {
    import spark.implicits._
    val h0 = 1700000000000L
    // burst at hour 0 (7 events), SILENCE hours 1-3, burst hour 4 —
    // without gap fill the two bursts would chain into a false flag
    val rows = ((1 to 7).map(i => (i.toLong,
        new java.sql.Timestamp(h0 + i * 1000L), 1L, "e", 1.0)) ++
      (1 to 7).map(i => ((400 + i).toLong,
        new java.sql.Timestamp(h0 + 4 * 3600000L + i * 1000L), 1L, "e", 1.0)))
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.ops.EventAnalytics
      .cusumChangePoints(ev, "1 hour", k = 4L, h = 8L)
      .orderBy("wstart").collect()
    assert(out.length == 5, s"spine must include the silent hours: ${out.length}")
    assert(out.map(_.getAs[Long]("n")).toSeq == Seq(7L, 0L, 0L, 0L, 7L))
    // S: 3, 0, 0, 0, 3 — silence drains; no flag anywhere
    assert(out.map(_.getAs[Long]("cusum")).toSeq == Seq(3L, 0L, 0L, 0L, 3L))
    assert(!out.exists(_.getAs[Boolean]("changed")))
  }

  test("resolveEntities links variants transitively and picks the longest-string canonical") {
    import spark.implicits._
    // entity A: "acme corp" + two 1-deletion variants (transitive:
    // "acme cor" is dist 2 from "acme corp." but dist 1 from the base)
    // entity B: "zebra" alone; ids chosen so the canonical is NOT the
    // smallest id (preference = length must beat id order)
    val reg = Seq(
      (5L, "acme corp."), (6L, "acme corp"), (7L, "acme cor"),
      (9L, "zebra")).toDF("id", "s")
    val out = graft.ops.FuzzyJoin.resolveEntities(reg, "id", "s",
        maxDist = 1, pref = length(col("s")))
      .orderBy("id").collect()
    assert(out.length == 4)
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getBoolean(5))).toMap
    // one entity for 5,6,7 (entity id = min member), canonical = the
    // LONGEST string "acme corp." (id 5)
    assert(Set(5L, 6L, 7L).map(byId(_)._1) == Set(5L))
    Set(5L, 6L, 7L).foreach { i =>
      assert(byId(i)._2 == 5L && byId(i)._3 == "acme corp." && byId(i)._4 == 3L, s"$i: ${byId(i)}")
    }
    assert(byId(5L)._5 && !byId(6L)._5 && !byId(7L)._5)
    // singleton keeps itself
    assert(byId(9L) == ((9L, 9L, "zebra", 1L, true)))
  }

  test("splitByCluster keeps near-dup clusters in ONE split; unclustered docs fall back to splitAssign") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters: {1,2,3} and {10,11}; everything else unclustered
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_id")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = graft.ops.Sampling.splitByCluster(docs, "doc_id", clusters, fr)
      .select("doc_id", "cluster_key", "split")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.size == 200)
    // whole cluster moves as one unit
    assert(out(1L) == out(2L) && out(2L) == out(3L), s"cluster 1: $out")
    assert(out(10L) == out(11L), s"cluster 10: ${out(10L)} vs ${out(11L)}")
    // unclustered docs match plain per-doc assignment exactly
    val plain = graft.ops.Sampling.splitAssign(docs, col("doc_id"), fr)
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val unclustered = (1L to 200L).toSet -- Set(1L, 2L, 3L, 10L, 11L)
    unclustered.foreach { id =>
      assert(out(id)._1 == id && out(id)._2 == plain(id), s"doc $id")
    }
    // and all three splits are populated at n=200
    assert(out.values.map(_._2).toSet == Set("train", "val", "test"))
  }

  test("transitionMatrix: exact pair counts and row-normalized probabilities") {
    import spark.implicits._
    val base = 1700000000000L
    def ts(i: Int) = new java.sql.Timestamp(base + i * 1000L)
    // user 1: A,B,A,B -> A->B x2, B->A x1; user 2: A,C -> A->C x1
    val ev = Seq(
      (1L, ts(0), 1L, "A"), (2L, ts(1), 1L, "B"),
      (3L, ts(2), 1L, "A"), (4L, ts(3), 1L, "B"),
      (5L, ts(0), 2L, "A"), (6L, ts(1), 2L, "C"))
      .toDF("event_id", "ts", "user_id", "event_type")
    import org.apache.spark.sql.functions.col
    val out = graft.ops.EventAnalytics.transitionMatrix(ev, col("user_id"),
        col("ts"), col("event_type"), col("event_id"))
      .orderBy("from_type", "to_type").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getDouble(3))).toSeq == Seq(
      ("A", "B", 2L, 2.0 / 3.0), ("A", "C", 1L, 1.0 / 3.0),
      ("B", "A", 1L, 1.0)))
  }

  test("markovStationary: 2-cycle holds uniform exactly; dangling mass redistributes; mass conserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A->B->A: uniform IS stationary, every iterate exactly 0.5
    val cyc = Seq(("A", "B", 1.0), ("B", "A", 1.0)).toDF("f", "t", "p")
    val pc = graft.ops.EventAnalytics.markovStationary(cyc, "f", "t", "p", 4)
      .orderBy("state").collect()
    assert(pc.map(_.getDouble(1)).toSeq == Seq(0.5, 0.5), pc.mkString(";"))
    // A->B with B dangling: after 1 iter A = dang/2 = 0.25, B = 0.75
    val dang = Seq(("A", "B", 1.0)).toDF("f", "t", "p")
    val p1 = graft.ops.EventAnalytics.markovStationary(dang, "f", "t", "p", 1)
      .orderBy("state").collect()
    assert(p1.map(_.getDouble(1)).toSeq == Seq(0.25, 0.75), p1.mkString(";"))
    // mass stays ~1 after several iterations (grid loses <=2^-40/term)
    val p5 = graft.ops.EventAnalytics.markovStationary(dang, "f", "t", "p", 5)
      .agg(org.apache.spark.sql.functions.sum(col("pi"))).head().getDouble(0)
    assert(math.abs(p5 - 1.0) < 1e-9, s"mass must be conserved: $p5")
  }

  test("corenessHIndex: converges to exact k-core depth on a clique with a pendant tail") {
    import spark.implicits._
    // K4 (nodes 1-4, coreness 3) + a path 4-5-6 (coreness 1)
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)) ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val out = graft.ops.Graph.corenessHIndex(edges, "src", "dst", iters = 5)
      .orderBy("node").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.toSeq == Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L), out.toSeq.toString)
    // monotone from degree: one round is an upper bound, never below
    val one = graft.ops.Graph.corenessHIndex(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (n, c) => one(n) >= c },
      "h-index iterates DOWN to coreness")
  }

  test("triangleStats: K4 counts 4 triangles with C=1; paths count none; dup/reversed edges collapse") {
    import spark.implicits._
    val k4 = (for { a <- 0 to 3; b <- 0 to 3 if a != b } yield (a.toLong, b.toLong))
      .toDF("src", "dst") // both directions + would-be dups
    val r = graft.ops.Graph.triangleStats(k4, "src", "dst").head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L, r)
    assert(r.getLong(2) == 4L && r.getLong(3) == 12L, r)
    assert(r.getDouble(4) == 1.0, s"K4 clusters at exactly 1: $r")
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val p = graft.ops.Graph.triangleStats(path, "src", "dst").head()
    assert(p.getLong(2) == 0L && p.getLong(3) == 2L && p.getDouble(4) == 0.0, p)
    // a lone triangle with self-loops and duplicates mixed in
    val noisy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (2L, 3L))
      .toDF("src", "dst")
    val n = graft.ops.Graph.triangleStats(noisy, "src", "dst").head()
    assert(n.getLong(1) == 3L && n.getLong(2) == 1L, n)
  }

  test("labelPropagation finds two cliques joined by one bridge edge") {
    import spark.implicits._
    // clique {1,2,3} + clique {10,11,12}, single bridge 3-10: the
    // plurality vote keeps each clique on its own smallest label
    val clique = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val edges = clique.toDF("src", "dst")
    val out = graft.ops.Graph.labelPropagation(edges, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    assert(out(1L) == out(2L) && out(2L) == out(3L),
      s"left clique must share one label: $out")
    assert(out(10L) == out(11L) && out(11L) == out(12L),
      s"right clique must share one label: $out")
    assert(out(1L) != out(10L), s"communities must separate: $out")
    // smallest-label tie-break keeps labels from the cliques' own ids
    assert(out(1L) == 1L, s"left community converges to its min id: $out")
  }

  test("labelPropagation: repeated and self-loop edges don't skew votes; deterministic") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    // duplicate one edge 5x and add self-loops: results must match the
    // clean graph (distinct + self-loop drop)
    val noisy = (base ++ Seq.fill(5)((1L, 2L)) ++ Seq((1L, 1L), (3L, 3L)))
      .toDF("src", "dst")
    val clean = base.toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Graph.labelPropagation(df, "src", "dst", iters = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(run(noisy) == run(clean))
    assert(run(clean) == run(clean), "replay-deterministic")
  }

  test("neymanAllocation favors variable strata, caps at population, degrades to proportional") {
    import spark.implicits._
    // A: 100 rows constant metric (sd 0); B: 100 rows spread 0..990
    val df = ((1 to 100).map(i => ("a", 50.0)) ++
      (1 to 100).map(i => ("b", (i - 1) * 10.0))).toDF("src", "m")
    val out = graft.ops.Sampling.neymanAllocation(df, col("src"), col("m"), 50L)
      .orderBy("stratum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length == 2)
    val (a, b) = (out(0), out(1))
    assert(a._3 == 0.0 && b._3 > 0.0)
    // all weight flows to the variable stratum
    assert(a._4 == 0L && b._4 == 50L, s"allocation should follow sd: $a $b")
    // cap at population: a 2-row stratum cannot absorb a huge budget
    val tiny = ((1 to 2).map(i => ("a", i * 100.0)) ++
      (1 to 50).map(i => ("b", i * 1.0))).toDF("src", "m")
    val capped = graft.ops.Sampling.neymanAllocation(tiny, col("src"), col("m"), 40L)
      .orderBy("stratum").collect().map(r => (r.getString(0), r.getLong(3)))
    assert(capped(0)._2 <= 2L, s"alloc must cap at stratum size: ${capped.toSeq}")
    // degenerate: every stratum constant -> proportional to size
    val const = ((1 to 30).map(_ => ("a", 1.0)) ++
      (1 to 10).map(_ => ("b", 2.0))).toDF("src", "m")
    val prop = graft.ops.Sampling.neymanAllocation(const, col("src"), col("m"), 20L)
      .orderBy("stratum").collect().map(r => (r.getString(0), r.getLong(3)))
    assert(prop.toSeq == Seq(("a", 15L), ("b", 5L)), s"proportional fallback: ${prop.toSeq}")
  }

  test("tCloseness: a skewed class scores higher EMD than a globally-proportional one") {
    import spark.implicits._
    // global bands 50/50; class "skew" is 10/0, class "prop" is 10/10
    val df = ((1 to 10).map(_ => ("skew", "0_x")) ++
      (1 to 10).map(_ => ("prop", "0_x")) ++ (1 to 10).map(_ => ("prop", "1_y")) ++
      (1 to 10).map(_ => ("other", "1_y"))).toDF("grp", "band")
    val out = graft.ops.Profiling.tCloseness(df, Seq("grp"), "band", t = 0.3)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    // m=2 -> EMD = |p1 - q1| with q1 = 0.5: skew |1-0.5| = 0.5, prop 0
    assert(out("prop")._1 == 0.0 && out("prop")._2)
    assert(out("skew")._1 == 0.5 && !out("skew")._2,
      s"one-sided class must fail t=0.3: $out")
    assert(out("other")._1 == 0.5)
  }

  test("preferencePairs: best vs worst per cluster, deterministic ties, singletons drop") {
    import spark.implicits._
    val scored = Seq((1L, 0.9), (2L, 0.3), (3L, 0.6),   // cluster 1
      (5L, 0.5), (6L, 0.5),                              // tie cluster
      (9L, 0.7))                                         // singleton
      .toDF("doc_id", "q")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L),
      (9L, 9L)).toDF("doc_id", "cluster_id")
    val out = graft.ops.Sampling.preferencePairs(scored, "doc_id", clusters,
        col("q"))
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 0.9, 0.3),      // best 1 vs worst 2
      (5L, 5L, 6L, 0.5, 0.5)),     // tie: lowest id chosen, highest rejected
      s"pairs broke: ${out.toSeq}")
  }

  test("schemaDiff reports added/removed/type-changed columns and stays silent on identity") {
    import spark.implicits._
    import graft.ops.Checks
    val before = Seq((1L, "a", 1.0)).toDF("id", "keep", "becomes_int")
    val after = Seq((1L, "a", 2, "x")).toDF("id", "keep", "becomes_int", "fresh")
      .drop("nope")
    val diff = Checks.schemaDiff(before, after.drop("keep"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(diff == Set(("fresh", "added"), ("keep", "removed"),
      ("becomes_int", "type_changed")), s"diff broke: $diff")
    assert(Checks.schemaDiff(before, before).count() == 0L)
  }

  test("observeChecks rides the materializing job: metrics arrive with no second scan") {
    import spark.implicits._
    import graft.ops.Checks
    val df = Seq((1L, Some(0.05)), (2L, None), (3L, Some(0.9)))
      .toDF("id", "v")
    val (observed, obs) = Checks.observeChecks(df,
      Seq(Checks.notNull("v"), Checks.inRange("v", 0.0, 0.1)))
    val dir = java.nio.file.Files.createTempDirectory("graft_obs").toFile
    observed.write.mode("overwrite").parquet(new java.io.File(dir, "out").getPath)
    val m = obs.get
    assert(m("n_rows") == 3L, s"metrics: $m")
    assert(m("not_null(v)") == 1L && m("in_range(v,0.0,0.1)") == 1L,
      s"violations must ride the write job: $m")
  }

  test("applyChanges: updates replace, inserts land, deletes vanish, dup batches refuse") {
    import spark.implicits._
    import graft.ops.Snapshot
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq((2L, "B", "upsert"), (4L, "d", "upsert"),
      (3L, "", "delete")).toDF("id", "v", "op")
    val out = Snapshot.applyChanges(base, changes, "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (4L, "d")), s"merge broke: $out")
    val dup = Seq((2L, "B", "upsert"), (2L, "C", "upsert")).toDF("id", "v", "op")
    val err = intercept[IllegalArgumentException] {
      Snapshot.applyChanges(base, dup, "id") }
    assert(err.getMessage.contains("duplicate keys"))
  }

  test("personalizedPageRank concentrates mass near the seeds") {
    import spark.implicits._
    // chain 1 -> 2 -> 3 -> 4 with a disconnected pair 10 -> 11; seed {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("s", "d")
    val out = graft.ops.Graph.personalizedPageRank(edges, "s", "d",
        Seq(1L).toDF("seed"), "seed", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > out(2L) && out(2L) > out(3L),
      s"mass must decay with distance from the seed: $out")
    assert(out(10L) == 0.0 && out(11L) == 0.0,
      s"unreachable-from-seed component must stay cold: $out")
  }

  test("checks: violations counted exactly, contracts fuse into one scan") {
    import spark.implicits._
    import graft.ops.Checks
    val dirty = Seq(
      (1L, Some(0.05), "A"), (2L, None, "N"),       // null value
      (3L, Some(0.5), "R"), (3L, Some(0.02), "X"))  // dup key, bad range+enum
      .toDF("id", "v", "flag")
    val out = Checks.runChecks(dirty, Seq(
        Checks.notNull("v"),
        Checks.inRange("v", 0.0, 0.1),
        Checks.isIn("flag", Seq("A", "N", "R"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out("not_null(v)") == ((1L, false)))
    assert(out("in_range(v,0.0,0.1)") == ((1L, false)))
    assert(out("is_in(flag)") == ((1L, false)))
    // all scan checks share ONE aggregate over the input
    val plan = Checks.runChecks(dirty, Seq(Checks.notNull("v"),
        Checks.inRange("v", 0.0, 0.1), Checks.isIn("flag", Seq("A"))))
      .queryExecution.optimizedPlan.toString
    assert(plan.split("Aggregate").length - 1 == 1,
      s"contracts must fuse into one scan:\n$plan")
    val uniq = Checks.uniqueness(dirty, Seq("id")).head()
    assert(uniq.getLong(1) == 1L && !uniq.getBoolean(3))
    val refc = Checks.referential(dirty, "id",
      Seq(1L, 2L).toDF("pk"), "pk").head()
    assert(refc.getLong(1) == 2L && !refc.getBoolean(3),
      s"two orphan rows (id=3 twice): $refc")
  }

  test("bpeApply round-trips the trainer's merges and shrinks token counts") {
    import spark.implicits._
    val docs = Seq((1L, "low lower lowest low low"),
      (2L, "low slow glow")).toDF("doc_id", "text")
    val merges = graft.ops.TextAnalysis.bpeTrain(docs, "text", merges = 2)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.length == 2)
    // 'lo'+'w' dominate: first merge is (l,o) or (lo,w) chain
    val out = graft.ops.TextAnalysis.bpeApply(docs, "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](2), r.getLong(3)))
    // chars per word upper-bounds subwords; merges strictly shrink
    val rawChars = Seq("lowlowerlowestlowlow".length, "lowslowglow".length)
    assert(out(0)._3 < rawChars(0) && out(1)._3 < rawChars(1),
      s"merges must shrink the stream: ${out.toSeq}")
    // every subword reassembles its word exactly
    val re1 = out(0)._2.mkString("")
    assert(re1 == "lowlowerlowestlowlow", s"lossless round trip: $re1")
  }

  test("lshPlan: lower thresholds buy more bands; midpoints bracket the ask; probabilities hold") {
    import graft.ops.Dedup
    val (bLo, rLo, pLo) = Dedup.lshPlan(64, 0.2)
    val (bHi, rHi, pHi) = Dedup.lshPlan(64, 0.8)
    assert(bLo * rLo == 64 && bHi * rHi == 64)
    assert(bLo > bHi, s"low threshold needs more bands: $bLo vs $bHi")
    assert(pLo > 0.5 && pHi > 0.5,
      s"at the curve midpoint detection beats a coin: $pLo, $pHi")
    // the chosen midpoint is the divisor-split closest to the ask
    def mid(b: Int, r: Int) = math.pow(1.0 / b, 1.0 / r)
    val all = (1 to 64).filter(64 % _ == 0).map(b => (b, 64 / b))
    assert(all.forall { case (b, r) =>
      math.abs(mid(bLo, rLo) - 0.2) <= math.abs(mid(b, r) - 0.2) })
    // the curve itself: detection is monotone in j and in b
    assert(Dedup.lshDetectProb(0.9, 16, 4) > Dedup.lshDetectProb(0.3, 16, 4))
    assert(Dedup.lshDetectProb(0.5, 32, 2) > Dedup.lshDetectProb(0.5, 8, 8))
  }

  test("ensembleDedup: exact copies drop first, near-dup reps cluster, kept_by chases to the keeper") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
      (4L, "the quick brown fox jumps over the lazy cat"),   // exact dup of 3
      (5L, "completely different content about spark engines"))
      .toDF("doc_id", "text")
    // dog/cat differ in ONE trailing 3-shingle: jaccard 6/8 = 0.75 —
    // above the 0.5 threshold and banded reliably (md5 minhash is
    // deterministic, so this detection is a fixed outcome)
    val out = Dedup.ensembleDedup(corpus, "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, "keep", 1L),
      (2L, "drop_exact", 1L),       // exact copy of keeper 1
      (3L, "drop_near", 1L),        // rep of {3,4}, near-dup of 1
      (4L, "drop_exact", 1L),       // exact copy of 3, but ULTIMATE keeper is 1
      (5L, "keep", 5L)),
      s"unexpected verdicts: ${out.toSeq}")
    // the policy partitions the corpus: exactly one keeper per cluster,
    // every row's kept_by is a keep row
    val keeps = out.filter(_._2 == "keep").map(_._1).toSet
    assert(out.forall(r => keeps.contains(r._3)))
  }

  test("ensembleDedupPrepared over a materialized exact-group frame is verdict-identical") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "the quick brown fox jumps over the lazy cat"),
      (5L, "completely different content about spark engines"))
      .toDF("doc_id", "text")
    // the cold-source path: land the exact-group stage on parquet,
    // then run the ensemble over the COPY — raw source never re-read
    val dir = java.nio.file.Files.createTempDirectory("graft_ens").toFile
    Dedup.exactGroupAssignments(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(dir.getPath)
    val prepared = spark.read.parquet(dir.getPath)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val recompute = rows(Dedup.ensembleDedup(corpus, "doc_id", "text",
      w = 3, numPerm = 64, numBands = 16, threshold = 0.5))
    val fromPrepared = rows(Dedup.ensembleDedupPrepared(prepared, "doc_id", "text",
      w = 3, numPerm = 64, numBands = 16, threshold = 0.5))
    assert(fromPrepared == recompute,
      s"prepared path diverged:\n$fromPrepared\nvs\n$recompute")
  }

  test("aspectRatioBatches: exact-fraction buckets, batches never mix, edge ties go low") {
    import spark.implicits._
    // dims spanning portrait (3/4), square (1), landscape (4/3); plus a
    // row EXACTLY on the 9/10 edge (w*q == p*h -> strict > puts it LOW)
    val imgs = ((1L to 30L).map(i => (i, 6, 8)) ++
      (31L to 60L).map(i => (i, 6, 6)) ++
      (61L to 90L).map(i => (i, 8, 6)) ++
      Seq((91L, 9, 10))).toDF("id", "w", "h")
    val out = graft.ops.Packing.aspectRatioBatches(imgs, col("w"), col("h"),
        col("id"), batchSize = 8, ratioEdges = Seq((9L, 10L), (11L, 10L)),
        seed = 7L)
      .select("id", "bucket", "batch_id", "batch_pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val bucketOf = out.map(r => r._1 -> r._2).toMap
    assert((1L to 30L).forall(bucketOf(_) == 0))
    assert((31L to 60L).forall(bucketOf(_) == 1))
    assert((61L to 90L).forall(bucketOf(_) == 2))
    assert(bucketOf(91L) == 0, "9:10 image sits ON the 9/10 edge: low bucket")
    out.groupBy(_._3).foreach { case (bid, rows) =>
      assert(rows.map(_._2).distinct.length == 1, s"batch $bid mixes buckets")
      assert(rows.map(_._4).sorted.toSeq == (0 until rows.length))
      assert(rows.length <= 8)
    }
    // deterministic under repartitioning
    val again = graft.ops.Packing.aspectRatioBatches(imgs.repartition(5),
        col("w"), col("h"), col("id"), 8, Seq((9L, 10L), (11L, 10L)), 7L)
      .select("id", "bucket", "batch_id", "batch_pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(out.toSet == again.toSet)
  }

  test("epochOrder: every epoch is a full permutation, epochs differ, retries replay") {
    import spark.implicits._
    val docs = (1L to 40L).toDF("doc_id")
    val out = graft.ops.Sampling.epochOrder(docs, col("doc_id"),
        epochs = 3, seed = 5L)
      .select("doc_id", "epoch", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == 120)
    val byEpoch = out.groupBy(_._2)
    assert(byEpoch.keySet == Set(0, 1, 2))
    byEpoch.foreach { case (e, rows) =>
      assert(rows.map(_._1).sorted.toSeq == (1L to 40L), s"epoch $e not a permutation")
      assert(rows.map(_._3).sorted.toSeq == (1L to 40L), s"epoch $e positions not 1..N")
    }
    // different epochs produce different orders (independent md5 keys)
    def orderOf(e: Int) = byEpoch(e).sortBy(_._3).map(_._1).toSeq
    assert(orderOf(0) != orderOf(1) && orderOf(1) != orderOf(2))
    // and a re-run (retry) reproduces the identical assignment
    val again = graft.ops.Sampling.epochOrder(docs.repartition(7), col("doc_id"),
        epochs = 3, seed = 5L)
      .select("doc_id", "epoch", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSet == again.toSet)
  }

  test("new-op edge cases: empty inputs, single domain, k past corpus size") {
    import spark.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("id", "dom")
    assert(graft.ops.Sampling.interleaveByDomain(
      emptyDocs, col("dom"), col("id"), 1L).count() == 0L)
    // one domain: interleave degrades to the seeded shuffle order
    val one = Seq((1L, "a"), (2L, "a"), (3L, "a")).toDF("id", "dom")
    val oneOut = graft.ops.Sampling.interleaveByDomain(one, col("dom"), col("id"), 1L)
    assert(oneOut.select("pos").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // kmeansLloyd with k > corpus: every vector seeds its own cluster
    val tiny = Seq((1L, Seq(0.0)), (2L, Seq(5.0))).toDF("vec_id", "embedding")
    val km = Similarity.kmeansLloyd(tiny, "vec_id", "embedding",
      k = 8, dims = 1, iters = 2).collect()
    assert(km.length == 2 && km.forall(_.getAs[Long]("n") == 1L))
    // pageRank on an empty edge table: no nodes, no rows, no crash
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(graft.ops.Graph.pageRank(noEdges, "src", "dst", iters = 2).count() == 0L)
    // quantileBin on an empty frame: empty out, no fence NPE
    val noVals = Seq.empty[(Long, Double)].toDF("id", "v")
    assert(graft.ops.Profiling.quantileBin(noVals, col("v"), 4, "b").count() == 0L)
  }

  test("weightedSample: oversamples heavy rows, caps p at 1, partitioning-invariant") {
    import spark.implicits._
    // weights 1 and 9 (mean 5): p(light) = 0.5*1/5 = 0.1, p(heavy) = 0.9
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) 9.0 else 1.0))
      .toDF("id", "w")
    val out = graft.ops.Sampling.weightedSample(docs, col("id"), col("w"),
      rate = 0.5, seed = 11L)
    val kept = out.select("id").collect().map(_.getLong(0)).toSet
    val heavy = kept.count(_ % 2 == 0); val light = kept.size - heavy
    assert(heavy > light * 3) // 9x the keep probability
    val ps = out.select("w", "sample_p").distinct().collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(ps(1.0) == 0.1 && ps(9.0) == 0.9)
    // rate high enough that heavy rows cap at p = 1 and ALL survive
    val all = graft.ops.Sampling.weightedSample(docs, col("id"), col("w"),
      rate = 1.0, seed = 11L)
    assert(all.filter(col("w") === 9.0).count() == 200L)
    val again = graft.ops.Sampling.weightedSample(docs.repartition(13),
      col("id"), col("w"), rate = 0.5, seed = 11L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == again)
  }

  test("corpusDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val nw = Seq((2L, "b"), (3L, "C2"), (4L, "d")).toDF("id", "text")
    val out = graft.ops.Dedup.corpusDiff(old, nw, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("negativeSample: deterministic draws, self-hits dropped, partitioning-invariant") {
    import spark.implicits._
    val corpus = (1L to 20L).map(i => (i, s"doc$i")).toDF("id", "payload")
    val anchors = corpus.filter(col("id") <= 3)
    def run(parts: Int) = graft.ops.Sampling.negativeSample(
        anchors.repartition(parts), col("id"),
        corpus.repartition(parts), "id", k = 5, seed = 7L)
      .select("anchor_id", "draw_id", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = run(1)
    assert(a == run(8)) // md5 draws don't care about partitioning
    assert(a.forall { case (anchor, _, neg) => neg != anchor }) // self-excluded
    val perAnchor = a.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perAnchor.keySet == Set(1L, 2L, 3L))
    assert(perAnchor.values.forall(n => n >= 4 && n <= 5)) // <=1 self-drop each
  }

  test("topPaths: deterministic opening paths, ties broken by count then path") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "buy"), (1L, 4L, "view"),
      (2L, 1L, "view"), (2L, 2L, "click"), (2L, 3L, "buy"),
      (3L, 1L, "view"), (3L, 2L, "view"),
      (4L, 5L, "click")) // short histories keep their partial paths
      .toDF("user_id", "ts", "event_type")
    val out = graft.ops.EventAnalytics.topPaths(ev, col("user_id"),
        col("ts"), col("event_type"), col("ts"), steps = 3, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.head == ("view>click>buy", 2L))
    assert(out.toSet == Set(("view>click>buy", 2L), ("view>view", 1L), ("click", 1L)))
  }

  test("pageRank: dangling mass redistributes, total mass conserved, sinks rank highest") {
    import spark.implicits._
    // 1->2, 1->3, 2->3: node 3 is a dangling sink with two in-links
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val out = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(out.size == 3)
    assert(out(3L) > out(2L) && out(2L) > out(1L))
    // dangling redistribution keeps the walk a probability distribution
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
    // iters=1 by hand: r=1/3 each; node1 gets only base + dangling share
    val one = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    val expected1 = 0.15 / 3 + 0.85 * ((1.0 / 3) / 3)
    assert(math.abs(one(1L) - expected1) < 1e-12)
  }

  test("assignToCentroids matches the build-time assignment rule") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val (assigned, centroids) =
      Similarity.ivfIndexDeterministic(vecs, "vec_id", "embedding", nLists = 4)
    // re-assigning the SAME corpus against the built centroids must
    // reproduce the index's own assignment exactly
    val re = Similarity.assignToCentroids(vecs, "vec_id", "embedding", centroids)
    val a = assigned.select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = re.select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("strataCoherence: identical cloud = 1, tighter beats looser, NULL stratum kept") {
    import spark.implicits._
    val df = Seq(
      (Some("same"), Seq(1.0, 0.0)), (Some("same"), Seq(1.0, 0.0)),
      (Some("tight"), Seq(1.0, 0.1)), (Some("tight"), Seq(1.0, -0.1)),
      (Some("loose"), Seq(1.0, 1.0)), (Some("loose"), Seq(1.0, -1.0)),
      (None: Option[String], Seq(0.0, 1.0)))
      .toDF("g", "embedding")
    val out = Similarity.strataCoherence(df, Seq("g"), col("embedding"), dims = 2)
      .collect().map(r => Option(r.get(0)).map(_.toString) ->
        (r.getAs[Long]("n"), r.getAs[Double]("coherence"))).toMap
    assert(out(Some("same"))._2 == 1.0)
    assert(out(Some("tight"))._2 > out(Some("loose"))._2)
    assert(out(None) == (1L, 1.0)) // singleton stratum: cos to itself
  }

  test("power iteration converges to the dominant direction") {
    import spark.implicits._
    // points along the (3,1) line with small symmetric noise: the
    // dominant eigenvector of Σ x xᵀ is (3,1)/√10
    val pts = Seq.tabulate(40) { i =>
      val t = (i - 20) / 5.0
      Seq(3.0 * t + (if (i % 2 == 0) 0.1 else -0.1), t)
    }
    val out = Similarity.topPrincipalDirection(pts.toDF("embedding"),
        "embedding", dims = 2, iters = 8)
      .orderBy("dim").collect()
    val v = out.map(_.getDouble(1))
    assert(math.abs(v(0) * v(0) + v(1) * v(1) - 1.0) < 1e-9, "unit norm")
    val e = Array(3.0, 1.0).map(_ / math.sqrt(10.0))
    assert(math.abs(v(0) * e(0) + v(1) * e(1)) > 0.999,
      s"direction off: got ${v.toSeq}")
    assert(out.head.getDouble(2) > 0.0) // eigenvalue estimate positive
  }

  test("JL projection: deterministic, norm-preserving on average, loud on overwidth") {
    import spark.implicits._
    val vecs = Seq.tabulate(50) { i =>
      (i.toLong, Seq.tabulate(64)(j => ((i * 7 + j * 13) % 17 - 8) / 8.0))
    }.toDF("vec_id", "v")
    val p1 = Similarity.jlProject(vecs, "v", outDims = 16)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1))
    val p2 = Similarity.jlProject(vecs, "v", outDims = 16)
      .orderBy("vec_id").collect().map(_.getSeq[Double](1))
    assert(p1.zip(p2).forall { case (a, b) => a == b }, "projection must be deterministic")
    assert(p1.forall(_.length == 16))
    // E[‖y‖²] = ‖x‖² for Rademacher JL — the sample mean ratio should
    // sit near 1 even at 16 output dims
    val orig = vecs.orderBy("vec_id").collect().map(_.getSeq[Double](1))
    val ratios = p1.zip(orig).map { case (y, x) =>
      y.map(v => v * v).sum / x.map(v => v * v).sum }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3, s"mean norm ratio $mean out of JL range")
    // a vector wider than the planned sign chain fails loudly
    val wide = Seq((1L, Seq.fill(700)(1.0))).toDF("vec_id", "v")
    val e = intercept[Exception] {
      Similarity.jlProject(wide, "v", outDims = 4, maxDims = 512).collect()
    }
    assert(e.getMessage != null || e.getCause != null)
  }

  test("all-but-the-top: whitened vectors have ~zero projection on the top direction") {
    import spark.implicits._
    val pts = Seq.tabulate(30) { i =>
      val t = (i - 15) / 3.0
      Seq(3.0 * t + 0.05 * (i % 3), t, 0.2 * (i % 5 - 2))
    }
    val df = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val v = Similarity.topPrincipalDirection(df, "embedding", dims = 3, iters = 8)
      .orderBy("dim").collect().map(_.getDouble(1))
    val white = Similarity.removeTopComponent(df, "embedding", dims = 3, iters = 8)
    val resid = white.select(col("vec_id"),
      Similarity.dot(col("embedding").cast("array<double>"),
        array(v.map(lit).toSeq: _*)).as("p"))
      .collect().map(r => math.abs(r.getDouble(1)))
    // residual projection bounded by the 2^-30 grid times vector scale
    assert(resid.max < 1e-6, s"max residual projection ${resid.max}")
    // and the whitening actually changed the vectors
    val changed = white.join(df.withColumnRenamed("embedding", "orig"), "vec_id")
      .filter(col("embedding") =!= col("orig")).count()
    assert(changed > 25)
  }

  test("power iteration fails loudly on a corpus orthogonal to the seed") {
    import spark.implicits._
    val df = Seq(Seq(0.0, 1.0), Seq(0.0, -1.0)).toDF("embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.topPrincipalDirection(df, "embedding", dims = 2, iters = 1)
    }
    assert(e.getMessage.contains("collapsed"))
  }

  test("centroidDrift: zero on identical snapshots, NULL for one-sided strata") {
    import spark.implicits._
    val oldDf = Seq(("a", Seq(1.0, 0.0)), ("a", Seq(0.0, 1.0)),
      ("b", Seq(1.0, 1.0)), ("c", Seq(1.0, 0.0)))
      .toDF("g", "v")
    val newDf = Seq(("a", Seq(1.0, 0.0)), ("a", Seq(0.0, 1.0)),
      ("b", Seq(2.0, 2.0)))
      .toDF("g", "v")
    val out = Similarity.centroidDrift(oldDf, newDf, Seq("g"), col("v"), dims = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    val (nOldA, nNewA, l2A, cosA) = out("a")
    assert(nOldA == 2 && nNewA == 2 && l2A.contains(0.0))
    assert(math.abs(cosA.get - 1.0) < 1e-9)
    // b: centroid (1,1) -> (2,2): l2 = sqrt(2), direction unchanged
    val (_, _, l2B, cosB) = out("b")
    assert(math.abs(l2B.get - math.sqrt(2.0)) < 1e-9)
    assert(math.abs(cosB.get - 1.0) < 1e-9)
    // c disappeared: surfaces with n_new = 0 and NULL drift
    val (nOldC, nNewC, l2C, _) = out("c")
    assert(nOldC == 1 && nNewC == 0 && l2C.isEmpty)
  }

  test("centroidsByKey fails loudly on a wrong-width vector") {
    import spark.implicits._
    val vecs = Seq(("a", Seq(1.0, 2.0)), ("a", Seq(1.0, 2.0, 3.0))).toDF("g", "v")
    val e = intercept[Exception] {
      Similarity.centroidsByKey(vecs, Seq(col("g")), col("v"), dims = 3).collect()
    }
    assert(e.getMessage != null || e.getCause != null) // surfaced, not silent
  }

  // ---- fuzzy join ----------------------------------------------------------

  private def fuzzyNames = sqlDf(
    "id" -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L),
    "s" -> Seq("kitten", "sitten", "sittin", "cat", "cut",
      "at", "a", "", "abcd", "xbcde"))

  test("fuzzy self-join finds exactly the brute-force distance-1 pairs") {
    val fast = FuzzyJoin.editDistanceSelfJoin(fuzzyNames, "id", "s", maxDist = 1)
      .select("a", "b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val l = fuzzyNames.toDF("a", "s_a")
    val r = fuzzyNames.toDF("b", "s_b")
    val brute = l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
      .select("a", "b", "dist").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(fast == brute, s"fast=$fast brute=$brute")
    // sanity: the substitution chain and the deletion chain both present
    assert(brute.contains((1L, 2L, 1)) && brute.contains((6L, 7L, 1)) &&
      brute.contains((7L, 8L, 1)))
  }

  test("fuzzy self-join at maxDist=2 is complete vs brute force (two-deletion blocking)") {
    val fast = FuzzyJoin.editDistanceSelfJoin(fuzzyNames, "id", "s", maxDist = 2)
      .select("a", "b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val l = fuzzyNames.toDF("a", "s_a")
    val r = fuzzyNames.toDF("b", "s_b")
    val brute = l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 2)
      .select("a", "b", "dist").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(fast == brute, s"fast=$fast brute=$brute")
  }

  test("fuzzy bipartite lookup matches each probe to its registry neighbors") {
    val registry = fuzzyNames
    val probes = sqlDf("pid" -> Seq(100L, 101L), "ps" -> Seq("kitten", "ca"))
    val out = FuzzyJoin.editDistanceJoin(probes, "pid", "ps",
        registry, "id", "s", maxDist = 1)
      .select("left_id", "right_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // "kitten" → itself (0) and "sitten" (1 sub); "ca" → "cat" (1 ins)
    // and "a" (1 del); "cut"/"at" are distance 2 and must NOT match
    assert(out == Set((100L, 1L, 0), (100L, 2L, 1),
      (101L, 4L, 1), (101L, 7L, 1)), s"got $out")
  }

  test("fuzzy join drops over-cap variant buckets (documented skew guard)") {
    val hot = sqlDf("id" -> (1L to 5L), "s" -> Seq.fill(5)("dup"))
    val capped = FuzzyJoin.editDistanceSelfJoin(hot, "id", "s",
      maxDist = 1, maxBucket = 3)
    assert(capped.count() == 0, "over-cap bucket must be dropped, not joined")
    val uncapped = FuzzyJoin.editDistanceSelfJoin(hot, "id", "s", maxDist = 1)
    assert(uncapped.count() == 10) // C(5,2) identical-string pairs
  }

  test("containment: wrapped doc scores exactly 1.0 while jaccard dilutes") {
    val corpus = sqlDf(
      "doc_id" -> Seq(1L, 2L),
      "text" -> Seq(
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon zeta legal notice terms apply here"))
    val pairs = sqlDf("a" -> Seq(1L), "b" -> Seq(2L))
    val r = Dedup.containmentPairs(pairs, corpus, "doc_id", "text", w = 3)
      .collect().head
    val (ca, cb, j) = (r.getAs[Double]("containment_a"),
      r.getAs[Double]("containment_b"), r.getAs[Double]("jaccard"))
    assert(ca == 1.0, s"whole doc inside wrapper must give containment 1.0, got $ca")
    assert(cb < 1.0 && j < 1.0)
    // A ⊆ B ⇒ |A∩B| = |A| and |A∪B| = |B| ⇒ jaccard == containment_b
    assert(j == cb)
  }

  test("bitext margin demotes the hub: raw cosine picks it, margin picks the partner") {
    import spark.implicits._
    // src s1=(1,0): the hub t_h=(.707,.707) edges out the dedicated
    // partner t1=(.698,-.716) on RAW cosine — but the hub is also very
    // close to s2=(.6,.8), so its neighborhood penalty is high and the
    // margin flips the choice to t1. This is exactly why bitext mining
    // uses margins instead of cosine thresholds.
    val src = Seq(
      (0L, Seq(1.0, 0.0)), (2L, Seq(0.6, 0.8)), (4L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val tgt = Seq(
      (1L, Seq(0.707107, 0.707107)),  // hub
      (3L, Seq(0.698, -0.716)),       // s1's true partner
      (5L, Seq(-0.8, 0.6)))
      .toDF("vec_id", "embedding")
    val fwd = Similarity.bruteForceTopKJoin(tgt, "vec_id", "embedding",
      src, "vec_id", "embedding", k = 2)
    val rev = Similarity.bruteForceTopKJoin(src, "vec_id", "embedding",
      tgt, "vec_id", "embedding", k = 2)
    // raw-cosine winner for s1 IS the hub
    val rawTop = fwd.filter(col("query_id") === 0 && col("rank") === 1)
      .select("neighbor_id").collect().head.getLong(0)
    assert(rawTop == 1L, s"fixture broken: raw top for s1 was $rawTop, want the hub")
    val mined = Bitext.mineBitext(Bitext.marginScores(fwd, rev), minMargin = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mined(0L) == 3L, s"margin must pick the partner over the hub: $mined")
    // margins are neighborhood-relative: at most one mined pair per src
    assert(mined.size <= 3)
  }

  test("fuzzy self-join shares one exchange across both join sides") {
    val plan = FuzzyJoin.editDistanceSelfJoin(fuzzyNames, "id", "s", maxDist = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"variant expansion should be computed once, not per side:\n$plan")
  }

  test("zipfFit recovers the slope of an exact power law") {
    // freq(term_r) = floor(1000 / r): close to slope −1 on the log-log
    // fit; build the corpus by uncounting the frequency table
    val terms = (1 to 20).map(r => (f"t$r%02d", 1000 / r))
    val corpus = sqlDf(
      "text" -> terms.flatMap { case (t, f) => Seq.fill(f)(t) })
    val out = TextAnalysis.zipfFit(corpus, "text", topN = 20).collect().head
    assert(out.getLong(0) == 20L)
    val slope = out.getDouble(1)
    assert(slope < -0.9 && slope > -1.1, s"slope $slope not ~ -1")
    val r2 = out.getDouble(3)
    assert(r2 > 0.99, s"power law should fit nearly perfectly, r2=$r2")
  }

  test("zipfFit matches a hand-computed OLS on a tiny frame") {
    // 2 distinct terms: freq 4 and 2 -> points (ln1, ln4), (ln2, ln2)
    val corpus = sqlDf("text" -> Seq("a a a a b b"))
    val out = TextAnalysis.zipfFit(corpus, "text", topN = 10).collect().head
    val slope = (math.log(2) - math.log(4)) / (math.log(2) - math.log(1))
    assert(out.getLong(0) == 2L)
    assert(math.abs(out.getDouble(1) - slope) < 1e-6)
    assert(math.abs(out.getDouble(3) - 1.0) < 1e-6) // 2 points: perfect fit
  }

  test("heapsLaw: exhaustive-vocab stream saturates (beta ~ 0); all-new-terms stream grows at beta = 1") {
    import spark.implicits._
    // corpus A: one big vocab burst up front, then pure repetition —
    // vocab saturates after the first checkpoint, so beta is tiny
    val burst = (1 to 100).map(i => s"w$i").mkString(" ")
    val rep = Seq.fill(50)("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10").mkString(" ")
    val a = Seq((1L, burst), (2L, rep)).toDF("doc_id", "text")
    val outA = TextAnalysis.heapsLaw(a, "doc_id", "text", checkpoints = 10)
      .orderBy("ckpt").collect()
    assert(outA.length == 10)
    assert(outA.last.getAs[Long]("vocab") == 100L)
    // monotone non-decreasing vocab; last checkpoint covers all tokens
    val vs = outA.map(_.getAs[Long]("vocab"))
    assert(vs.zip(vs.tail).forall { case (x, y) => x <= y })
    assert(outA.last.getAs[Long]("n_tokens") == 100L + 500L)
    assert(outA.head.getAs[Double]("beta") < 0.2,
      s"saturated stream: beta=${outA.head.getAs[Double]("beta")}")
    // corpus B: every token new — V(N) = N, so beta = 1, ln_k = 0
    val b = Seq((1L, (1 to 400).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val outB = TextAnalysis.heapsLaw(b, "doc_id", "text", checkpoints = 10)
      .orderBy("ckpt").collect()
    outB.foreach(r =>
      assert(r.getAs[Long]("vocab") == r.getAs[Long]("n_tokens")))
    assert(math.abs(outB.head.getAs[Double]("beta") - 1.0) < 1e-9)
    assert(math.abs(outB.head.getAs[Double]("ln_k")) < 1e-9)
  }

  test("crossDocNovelty: duplicated docs share all shingles, unique doc none") {
    val out = TextAnalysis.crossDocNovelty(docs, "doc_id", "text", w = 3)
      .orderBy("doc_id").collect()
    // docs 1 and 2 are identical -> every shingle shared -> novelty 0
    assert(out(0).getAs[Double]("novelty") == 0.0)
    assert(out(1).getAs[Double]("novelty") == 0.0)
    // doc 3 differs by one token: shares some shingles, not all
    val n3 = out(2).getAs[Double]("novelty")
    assert(n3 > 0.0 && n3 < 1.0, s"near-dup novelty $n3 should be partial")
    // doc 4 shares no 3-shingle with anything -> fully novel
    assert(out(3).getAs[Double]("novelty") == 1.0)
  }

  test("subwordTokenize: greedy longest-match segmentation, unk fallback") {
    // vocab: the, or, y single letters a..k etc; NOT j/q/x/z
    // "the"    -> [the]                  1 subword
    // "theory" -> [the][or][y]           3 subwords
    // "qq"     -> [<unk>][<unk>]         2 subwords, 2 unk
    val df = sqlDf("doc_id" -> Seq(1L, 2L), "text" -> Seq("the theory qq", ""))
    val out = TextAnalysis.subwordTokenize(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 3L, "n_words")
    assert(out(0).getLong(2) == 6L, s"n_subwords: ${out(0)}")
    assert(out(0).getLong(3) == 2L, "n_unk")
    assert(out(0).getDouble(4) == 2.0, "fertility 6/3")
    // empty doc: zero everything, NULL fertility
    assert(out(1).getLong(1) == 0L && out(1).getLong(2) == 0L)
    assert(out(1).isNullAt(4))
  }

  test("subwordTokenize: longest match wins over eager short matches") {
    // "ation" is in the vocab whole: "nation" = [n][ation], not [na]...
    val df = sqlDf("doc_id" -> Seq(1L), "text" -> Seq("nation"))
    val out = TextAnalysis.subwordTokenize(df, "doc_id", "text").collect()(0)
    assert(out.getLong(2) == 2L, s"nation should split n+ation: $out")
    assert(out.getLong(3) == 0L)
  }

  test("clusterRepresentatives: best-pref wins, ties to lowest id, singletons kept") {
    val d5 = sqlDf(
      "doc_id" -> Seq(1L, 2L, 3L, 4L, 5L),
      "text" -> Seq("a", "bb", "bb", "c", "c"))
    // clusters: {1,2,3} (rep: 2 — pref 9 ties between 2 and 3, lowest
    // id wins over 3; beats 1's pref 5), {5} from the map, 4 singleton
    val clusters = sqlDf(
      "doc_id" -> Seq(1L, 2L, 3L, 5L),
      "cluster_id" -> Seq(1L, 1L, 1L, 5L))
    val pref = when(col("doc_id") === 1, 5L)
      .when(col("doc_id") === 2, 9L).when(col("doc_id") === 3, 9L)
      .otherwise(1L)
    val out = Dedup.clusterRepresentatives(d5, "doc_id", clusters, pref)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (4L, 4L, 4L, true), (5L, 5L, 5L, true)))
  }

  test("pqTopKAdc: separated clusters retrieve own-cluster rows first") {
    // two well-separated groups in 8 dims; query = vec 0 (group A)
    val vecs = sqlDf("vec_id" -> (0L until 20L))
      .withColumn("embedding", transform(sequence(lit(0), lit(7)), d =>
        (col("vec_id") % 2).cast("double") * 100.0
          + d.cast("double") * 0.1 + col("vec_id").cast("double") * 0.01))
    val q = vecs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qv"))
    def run() = Similarity.pqTopKAdc(vecs, "vec_id", "embedding",
      dims = 8, m = 2, ksub = 2, iters = 1, queryDf = q, k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("adc"))).toSeq
    val a = run()
    assert(a == run(), "PQ retrieval must be deterministic")
    assert(a.size == 10)
    // adc non-decreasing with rank
    assert(a.map(_._2).sliding(2).forall(p => p.head <= p.last))
    // all 10 hits are even vec_ids (query's cluster)
    assert(a.forall(_._1 % 2 == 0), s"cross-cluster rows leaked into top-k: $a")
  }

  test("diversitySample caps every cluster and is deterministic") {
    // 4 well-separated clusters keyed by vec_id % 4
    val vecs = sqlDf("vec_id" -> (0L until 40L))
      .withColumn("embedding", transform(sequence(lit(0), lit(3)), d =>
        (col("vec_id") % 4).cast("double") * 10.0
          + d.cast("double") * 0.1 + col("vec_id").cast("double") * 0.001))
    def run() = Sampling.diversitySample(vecs, "vec_id", "embedding",
      k = 4, dims = 4, iters = 2, perCluster = 3, seed = 7L)
      .orderBy("cid", "pick").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val a = run()
    assert(a == run(), "seeded sample must be reproducible")
    val perCluster = a.groupBy(_._1).view.mapValues(_.size)
    assert(perCluster.values.forall(_ <= 3), s"cluster cap violated: $perCluster")
    // picks are 1..n within each cluster
    a.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq)
    }
    // 40 vectors / 4 clear clusters: every cluster fills its cap
    assert(a.size == 12, s"expected 4 full clusters of 3, got ${a.size}")
  }
}
