package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark: times the §2.8 analytical queries plus one
  * representative per heavy operator family (dedup, ANN, text,
  * sessionization) at SPARK_GRAFT_SF_DIR. Prints ONE JSON line.
  */
object Bench {
  /** Headline set — analytics + the scale-critical pipeline ops +
    * the ungrouped scan/rowid topologies (so sf0.1→sf1 growth factors
    * for the prefix-scan family are visible every round). */
  val headline: Seq[String] = Seq(
    "q1_pricing", "q3_topk", "q4_window", "q5_region_revenue",
    "d_ranks", "d_mutate_grouped", "d_join_inner", "d_topk",
    "d_cum_u", "b_rank_u",
    "x_dedup_exact", "x_dedup_cross", "x_dedup_minhash", "x_ann_brute", "x_ann_lsh",
    "x_langid", "x_tokens", "x_semdedup", "x_range_join",
    "x_bm25", "x_bm25_indexed", "x_kmeans_lloyd",
    "x_fuzzy_join", "x_image_dedup", "x_bitext", "x_pca", "x_trending",
    "x_js_div", "x_bigram_lm", "x_pq",
    "x_dedup_incr", "x_bpe_train",
    "x_dedup_ensemble", "s_session_window",
    "x_bm25_prf", "x_ks", "x_anomaly", "x_mmr", "x_rag",
    "s_sessionize",
    "x_filebloom", "x_bitext_lsh",
    "x_split_dedup", "x_heaps",
    "x_entity_res", "x_cusum", "x_ann_ivfpq",
    // round-13: the serve-from-materialized-index path (one-time
    // build cached under target/idxcache, excluded after run 1)
    "x_ann_ivfpq_idx",
    // round-16: the second lexical-retrieval scan path (QL shares
    // BM25's tokenize-once topology — time them side by side)
    "x_qlm")

  /** Stable sub-0.3s rows moved out of the per-round headline (r12
    * verdict item 10 — 67 rows at ~42s was drowning the signal):
    * still benched under SPARK_GRAFT_FULL=1 (the quarterly full
    * sweep), and the ones in [[sf1Queries]] still get their sf0.1
    * denominator timed inside the sf1 branch so growth factors keep
    * appearing every round. The historical 12-query r2 subset stays
    * in [[headline]] untouched for baseline continuity. */
  val stableSweep: Seq[String] = Seq(
    "d_rowwise2", "x_asof", "x_asof_global", "x_contam", "x_gopher",
    "x_par_dedup", "x_dup_spans", "x_multimodal", "x_centroids",
    "x_interleave", "x_subword", "x_zipf", "x_novelty", "x_cdc",
    "x_strip_spans", "x_zorder", "x_zorder_incr", "x_hilbert",
    "x_lpa", "x_heavy", "s_neardup",
    // round-15 additions: the trend/eval metric reads (sub-second
    // aggregates) and the answer-preserving lakehouse serving reads
    "x_trend_mk", "x_spearman", "x_auprc", "x_gini",
    "x_merge_into", "x_alter_schema",
    // the four-rank-sort paired test and the grouped-rank fairness
    // read — the two heaviest r15 metric topologies
    "x_delong", "x_auc_by",
    // round-16 additions: the new join topology, the dyadic monitor,
    // the calibration remediation pair, the day-2 CC fold, the
    // per-term heavy-change read
    "x_interval_join", "x_ewma", "x_calib_fit", "x_calib_ece",
    "x_dedup_clusters_incr", "x_vocab_shift",
    // round-16 second wave: drift magnitude + association + FDR, the
    // operating-point/calibration pair, the event-chain pair, the
    // graph census, the hubness audit, the blocking audit
    "x_wasserstein", "x_assoc", "x_bh_fdr", "x_youden", "x_isotonic",
    "x_markov", "x_markov_pi", "x_triangles", "x_hubness", "x_blocking",
    "x_gwasserstein", "x_markov_drift", "x_textrank",
    "x_cvm", "x_mrr", "x_fairness", "x_conformal",
    "x_two_prop", "s_markov", "x_cmh", "x_conformal_by",
    "x_km", "x_did", "x_coreness",
    "x_anova", "x_kruskal", "x_markov_entropy", "x_ess",
    "x_conformal_mondrian", "x_isotonic_fit", "x_youden_by",
    // round-16 third wave: sketch algebra (join-size planning read,
    // F2 skew scalar, day-2 CMS fold) and the EG mixture fit
    "x_join_size", "x_f2", "x_cms_incr", "x_doremi",
    "s_cms", "s_join_size", "x_shapley", "x_plackett_luce",
    "x_cuped", "x_sprt", "x_ratio_delta", "x_join_plan", "x_analyze",
    "s_sprt",
    // round-17: the two answer-preserving streaming-sink replays and
    // the affix (boilerplate head/tail) dedup over the CDC chunk table
    "x_stream_sink", "x_stream_upsert", "x_affix_dedup", "x_affix_strip",
    "x_lsh_recall",
    // round-17 second wave: the autocorrelation layer over the hourly
    // monitor series, the plain Welch cohort test, and the modularity
    // acceptance read on the LPA partition
    "x_acf", "x_ljung_box", "x_runs_test", "x_welch",
    "x_modularity", "x_modularity_g",
    "x_ols", "x_ccf", "x_backtest", "s_acf", "x_pacf", "x_fellegi",
    "x_burstiness", "x_assortativity", "x_yule", "x_simpson", "s_ols",
    "x_dp_release", "x_logrank", "x_wp_train", "x_nelson", "x_rmst",
    "x_eb_shrink", "x_dw", "x_brown_forsythe", "x_cochran_q",
    "x_partial_corr", "x_ess_mean")

  /** The driver-written sf parquet files are single row groups, so a
    * scan stage cannot fan out past one task (BASELINE.md
    * "Scan-parallelism note") — the q* times would measure single-core
    * parquet decode, not the plan. Rewrite each table ONCE into a
    * multi-file copy under target/benchcache (keyed by the sf dir
    * name); the one-time rewrite is excluded from every timing. */
  private def multiRowGroupCopy(spark: SparkSession, sfDir: String): String = {
    val name = new java.io.File(sfDir).getName
    val cache = new java.io.File(s"target/benchcache/$name")
    val ok = new java.io.File(cache, "_OK")
    val tables = new java.io.File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    // the marker carries a fingerprint of the source files, so a
    // regenerated sf dir invalidates the cache instead of silently
    // timing stale data
    val fingerprint = tables
      .map(f => s"${f.getName}:${f.length()}:${f.lastModified()}").mkString("\n")
    val stale = !ok.exists() ||
      new String(java.nio.file.Files.readAllBytes(ok.toPath), "UTF-8") != fingerprint
    if (stale) {
      tables.foreach { f =>
        val tname = f.getName.stripSuffix(".parquet")
        // fact tables get one file per bench core cohort; dims stay few
        val parts = if (Set("lineitem", "orders", "events").contains(tname)) 16 else 4
        graft.sources.Sources.readParquet(spark, f.getPath).repartition(parts)
          .write.mode("overwrite").parquet(s"${cache.getPath}/$tname.parquet")
      }
      java.nio.file.Files.write(ok.toPath, fingerprint.getBytes("UTF-8"))
    }
    cache.getPath
  }

  /** sf1-rehearsal subset: the analytical headliners, the heavy
    * pipeline operators, and every ungrouped rowid/scan topology
    * (fused cum over 10× lineitem, ranks over 10× part, last-non-null
    * fill over 10× lineitem, rolling-carry over 10× orders) whose
    * linear-growth claims need sf1 evidence. */
  val sf1Queries: Seq[String] = Seq("q1_pricing", "q3_topk", "q5_region_revenue",
    "x_dedup_minhash", "x_dedup_cross", "x_range_join", "x_par_dedup",
    "d_cum_u", "b_rank_u", "t_fill_global", "d_rolling_u", "b_lead_lag_u",
    // event-time and vector families: union-merge as-of, per-user
    // sessionization, and LSH retrieval over the 10x corpora
    "x_asof", "s_sessionize", "s_neardup", "x_ann_lsh",
    // char-grain span scan: one row per corpus character — the
    // heaviest text shuffle in the tree, the one to watch at 10x
    "x_dup_spans",
    // retrieval + vector-agg: pruned-postings BM25 over the 10x corpus
    // and the no-explode centroid aggregate over the 10x embeddings
    "x_bm25", "x_centroids",
    // global training-order rowid sort over the 10x documents — the
    // interleave permutation must scale like the other rowid paths
    "x_interleave",
    // image signatures + hamming buckets over the 10x media corpus
    "x_image_dedup",
    // fuzzy/ER over the 10x registry — real scale-up now that the
    // synth perturbs replica names (doubled-digit prefixes, distance
    // 2 apart: zero cross-replica pairs at maxDist=1)
    "x_fuzzy_join", "x_entity_res",
    // indexed BM25 (per-call = postings scans; the one-time build is
    // outside min-of-N) and the corpus-shuffle text/vector families
    // whose sf1 growth was unmeasured through r10
    "x_bm25_indexed", "x_subword", "x_zipf", "x_novelty", "x_js_div",
    "x_bigram_lm", "x_pq", "x_cdc", "x_dedup_incr", "x_bpe_train",
    "x_strip_spans",
    // round-15: the ensemble policy's exact+LSH+CC chain, the native
    // session_window agg, the two-pass PRF retrieval, the KS
    // distinct-value sort, and the anomaly window profile at 10x
    "x_dedup_ensemble", "s_session_window", "x_bm25_prf", "x_ks",
    "x_anomaly", "x_rag",
    // round-12: LPA's per-iteration edge joins, the cluster-split's
    // minhash+CC chain, and the token-explode prefix scan behind the
    // Heaps fit — each a corpus-shuffle topology needing 10x evidence;
    // plus the IVFADC build+probe, the MG one-agg scan, and the CUSUM
    // window profile over the 10x logs
    "x_lpa", "x_split_dedup", "x_heaps",
    "x_ann_ivfpq", "x_heavy", "x_cusum", "x_ann_ivfpq_idx",
    // round-15: the two global rank sorts behind Spearman and the
    // fused precision prefix scan behind AP — both rowid topologies
    // whose linear-growth claims need 10x evidence like d_cum_u's
    "x_spearman", "x_auprc",
    // round-16: the QL retrieval shares BM25's tokenize-once corpus
    // scan — its growth must track x_bm25's; the markov lag window
    // and the triangle wedge join are the round's new shuffle shapes
    "x_qlm", "x_markov", "x_triangles",
    // round-16 third wave: the sketch inner-product read scans BOTH
    // 10x fact tables through a 4-way md5 explode — the widest
    // projection-only topology in the tree, join-free by design
    "x_join_size",
    // round-17: the affix-dedup chunk-path join — per-doc windowed
    // levels + a bucket join whose bucket sizes are the boilerplate
    // group sizes; per-doc output keeps growth ~linear on 10x docs
    "x_affix_dedup")

  /** Synthesize a ~10× (sf≈1) copy of the tables the rehearsal subset
    * reads: 10 key-shifted replicas of the facts (orderkey/custkey/
    * doc_id + i·1e8, so join fan-outs stay exactly sf1-shaped), dims
    * copied as-is, and every document line prefixed with a replica tag
    * so the 10× corpus is genuinely distinct content — otherwise the
    * dedup queries would measure a pathological 90%-duplicate corpus
    * instead of scale-up. One-time build, cached and excluded from
    * timings like the multi-rowgroup copy. */
  private def synthSf1(spark: SparkSession, benchDir: String): String = {
    import org.apache.spark.sql.functions._
    val cache = new java.io.File("target/benchcache/sf1synth")
    val ok = new java.io.File(cache, "_OK")
    val marker = s"from:$benchDir:v4"
    if (ok.exists() &&
        new String(java.nio.file.Files.readAllBytes(ok.toPath), "UTF-8") == marker)
      return cache.getPath
    val K = 100000000L
    val shiftCols = Set("l_orderkey", "o_orderkey", "o_custkey", "c_custkey",
      "doc_id", "p_partkey", "event_id", "user_id", "vec_id")
    def replicate(tname: String, parts: Int): Unit = {
      val src = graft.sources.Sources.readParquet(spark, s"$benchDir/$tname.parquet")
      val replicas = (0 until 10).map { i =>
        val shifted = src.columns.foldLeft(src) { (d, c) =>
          if (shiftCols.contains(c)) d.withColumn(c, col(c) + lit(i * K)) else d
        }
        if (tname == "documents" && i > 0)
          shifted.withColumn("text",
            regexp_replace(col("text"), "(?m)^", s"r$i "))
        // replica customers get a doubled-digit name prefix: any two
        // distinct prefixes are levenshtein distance 2 apart, so the
        // 10x registry keeps the base's intra-replica near-dup
        // structure with ZERO cross-replica pairs at maxDist=1 —
        // verbatim name replicas would measure a pathological
        // 10-deep-duplicate registry, not scale-up (r12 verdict
        // item 6; the reason x_fuzzy_join/x_entity_res were excluded
        // from sf1 through r12)
        else if (tname == "customer" && i > 0)
          shifted.withColumn("c_name", concat(lit(s"q$i$i-"), col("c_name")))
        // replica vectors get a small per-replica offset: identical
        // copies would pile 10 deep into the SAME LSH buckets (a 90%
        // duplicate corpus), where distinct content spreads buckets —
        // the same reasoning as the document replica tags
        else if (tname == "embeddings" && i > 0)
          shifted.withColumn("embedding",
            transform(col("embedding"), x => x + lit(i * 0.05f)))
        else shifted
      }
      replicas.reduce(_.unionByName(_)).repartition(parts)
        .write.mode("overwrite").parquet(s"${cache.getPath}/$tname.parquet")
    }
    replicate("lineitem", 32)
    replicate("orders", 32)
    replicate("customer", 8)
    replicate("documents", 16)
    replicate("part", 8)
    // user_id shifts keep per-user event timelines intact, so the
    // as-of/sessionize topologies see 10x users, not denser users
    replicate("events", 16)
    replicate("embeddings", 4)
    Seq("nation", "region").foreach { tname =>
      graft.sources.Sources.readParquet(spark, s"$benchDir/$tname.parquet")
        .write.mode("overwrite").parquet(s"${cache.getPath}/$tname.parquet")
    }
    java.nio.file.Files.write(ok.toPath, marker.getBytes("UTF-8"))
    cache.getPath
  }

  /** The sf10 (100×) rehearsal set: the r11 verdict's worst growers —
    * the second scale decade behind the 100 TB design claims. Only
    * these run at 100×, and the synth below builds only the tables
    * they read. */
  val sf10Queries: Seq[String] = Seq(
    "x_dedup_minhash", "x_ks", "x_dedup_ensemble", "x_bm25", "x_rag",
    "x_entity_res",
    // round-16 third wave: the pre-join planning read's second decade
    // — two projection-only sketch scans, growth should stay ~linear
    "x_join_size",
    // the standing-workload answer to x_bm25's per-call scan growth:
    // postings probes over the one-time materialized index (built on
    // first run, fingerprint-cached in target/idxcache)
    "x_bm25_indexed",
    // round-14: the serving artifacts at the 100x decade (r13 verdict
    // item 1) — IVF-PQ probes over the materialized index (nLists
    // auto-scales ~sqrt(N), so probe cost stays ~flat per decade),
    // the day-2 incremental twin, and the two-pass PRF retrieval over
    // the materialized postings; index builds amortize via idxcache
    // (min-of-2 drops the cold build, as for bm25_indexed)
    "x_ann_ivfpq_idx", "x_ann_ivfpq_incr", "x_bm25_prf",
    // round-16: the interval-overlap join at its second decade — 100
    // key-shifted user replicas keep per-user span density constant,
    // so pair output scales exactly linearly and the bucket topology's
    // time should track it (an all-pairs shape would go quadratic)
    "x_interval_join", "x_ewma",
    // round-16 second wave: the QL scan path beside x_bm25 at the
    // same decade (same tokenize-once shape, same expected growth)
    "x_qlm")

  /** Synthesize a ~100× (sf≈10) copy of JUST the tables the sf10
    * rehearsal reads: documents (doc_id, text — the only columns the
    * dedup/retrieval growers touch) and lineitem (l_orderkey,
    * l_extendedprice — all x_ks reads), as 100 key-shifted replicas
    * via one crossJoin with a replica range (no 100-branch union
    * plan). Every document line gets a per-replica prefix, the same
    * reasoning as [[synthSf1]]: identical copies would make the 100×
    * corpus a 99%-duplicate pathology instead of scale-up. One-time
    * build, cached, excluded from timings. */
  private def synthSf10(spark: SparkSession, benchDir: String): String = {
    import org.apache.spark.sql.functions._
    val cache = new java.io.File("target/benchcache/sf10synth")
    val ok = new java.io.File(cache, "_OK")
    // v2: 128 doc partitions (was 64) — halves each task's partial
    // hash-agg map on the tokenize scans, the same lever as
    // maxPartitionBytes on a real cluster. v4: + embeddings for the
    // IVF-PQ serving-artifact rehearsal
    val marker = s"from:$benchDir:v5"
    val K = 100000000L
    lazy val reps100 = spark.range(100).toDF("__r")
    // x_join_size probes BOTH fact sketches but the synth only ever
    // wrote lineitem — every sf10:x_join_size row since r16 failed on
    // a missing orders.parquet, recorded as an at-scale breakage of
    // the query when it was a hole in the synth (r17 verdict item 1).
    // o_orderkey is the only column the sketch reads.
    def buildOrders(): Unit =
      graft.sources.Sources.readParquet(spark, s"$benchDir/orders.parquet")
        .select("o_orderkey").crossJoin(reps100)
        .select((col("o_orderkey") + col("__r") * K).as("o_orderkey"))
        .repartition(16)
        .write.mode("overwrite").parquet(s"${cache.getPath}/orders.parquet")
    if (ok.exists() &&
        new String(java.nio.file.Files.readAllBytes(ok.toPath), "UTF-8") == marker) {
      // patch an existing v5 cache in place rather than burning the
      // wall budget on a full regen of the unchanged tables
      if (!new java.io.File(cache, "orders.parquet").exists()) buildOrders()
      return cache.getPath
    }
    val reps = reps100
    graft.sources.Sources.readParquet(spark, s"$benchDir/documents.parquet")
      .select("doc_id", "text").crossJoin(reps)
      .select((col("doc_id") + col("__r") * K).as("doc_id"),
        when(col("__r") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(?m)^"),
            concat(lit("r"), col("__r"), lit(" ")))).as("text"))
      .repartition(128)
      .write.mode("overwrite").parquet(s"${cache.getPath}/documents.parquet")
    graft.sources.Sources.readParquet(spark, s"$benchDir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice").crossJoin(reps)
      .select((col("l_orderkey") + col("__r") * K).as("l_orderkey"),
        col("l_extendedprice"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"${cache.getPath}/lineitem.parquet")
    // 100x registry for x_entity_res: the synthSf1 doubled-digit name
    // perturbation (two digits of the replica number, doubled -> any
    // two distinct prefixes are >= 2 edits apart, zero cross-replica
    // pairs at maxDist=1)
    graft.sources.Sources.readParquet(spark, s"$benchDir/customer.parquet")
      .select("c_custkey", "c_name").crossJoin(reps)
      .select((col("c_custkey") + col("__r") * K).as("c_custkey"),
        when(col("__r") === 0, col("c_name")).otherwise(concat(
          lit("q"), format_string("%02d", col("__r")),
          format_string("%02d", col("__r")), lit("-"),
          col("c_name"))).as("c_name"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"${cache.getPath}/customer.parquet")
    // 100x embeddings for the IVF-PQ index rehearsal: per-(replica,
    // dimension) hash jitter in [-0.05, 0.05) — identical copies
    // would pile 100 deep into the SAME coarse lists (one giant cell
    // = no directory pruning to measure), where isotropic jitter
    // spreads them like fresh content; deterministic, no RNG
    graft.sources.Sources.readParquet(spark, s"$benchDir/embeddings.parquet")
      .select("vec_id", "embedding").crossJoin(reps)
      .select((col("vec_id") + col("__r") * K).as("vec_id"),
        when(col("__r") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + ((pmod(col("__r") * 2654435761L + i.cast("long") * 40503L,
              lit(1000L)) - 500L).cast("double") * 1e-4).cast("float"))
              .cast("float"))).as("embedding"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"${cache.getPath}/embeddings.parquet")
    // 100x events for the interval-overlap join and the monitor reads:
    // user replicas shift user_id (and event_id for uniqueness) but
    // keep ts/type verbatim — per-user span density stays constant, so
    // the overlap-join's pair output scales exactly linearly and the
    // window profiles just grow their counts
    graft.sources.Sources.readParquet(spark, s"$benchDir/events.parquet").crossJoin(reps)
      .select((col("event_id") + col("__r") * K).as("event_id"),
        col("ts"), (col("user_id") + col("__r") * K).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"${cache.getPath}/events.parquet")
    buildOrders()
    java.nio.file.Files.write(ok.toPath, marker.getBytes("UTF-8"))
    cache.getPath
  }

  /** Set by the JVM shutdown hook the moment a SIGTERM/exit begins:
    * query loops bail out, ensureAlive refuses to rebuild a session
    * during shutdown (BENCH_r16 died exactly there — the driver's
    * timeout kill landed mid-sf1-sweep, Spark's own hook stopped the
    * context, and the old ensureAlive threw "Cannot call methods on a
    * stopped SparkContext" as the uncaught tail of the artifact). */
  @volatile private var shuttingDown = false

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    // Wall budget for the WHOLE bench (headline + sweeps). The driver
    // killed r16's JVM on its own timeout with zero sealed evidence;
    // a budget well inside that timeout turns "killed mid-sweep" into
    // "sweep members skipped loudly, artifact complete". r15's full
    // sealed run passed at ~2600s wall; the quiet target after the
    // min-of-1 heavy-row trim is ~15 min, so 2100s covers ~2.3x
    // contention while staying inside the kill window that passed
    // r15 — and the shutdown-hook flush remains the hard backstop if
    // the driver's timeout turns out tighter than the budget.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2100").toDouble
    def budgetLeft: Double = budgetSec - elapsedSec
    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        // events.parquet carries ns timestamps: read them as long during
        // the cache rewrite exactly as the queries themselves do
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    var spark = newSession()
    // One executor OOM (e.g. an under-provisioned heap on the 100x
    // sweep) stops the local-mode SparkContext; without this guard
    // every subsequent query "fails" against the dead context and the
    // round's artifact loses the whole tail. Rebuild and carry on —
    // the failed query is still reported in "failed". During JVM
    // shutdown, do NOT rebuild: Spark's shutdown hook already stopped
    // the context and getOrCreate throws (the exact r16 death).
    def ensureAlive(): Unit =
      if (!shuttingDown && spark.sparkContext.isStopped) {
        System.err.println("[bench] SparkContext died; rebuilding session")
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = newSession()
      }
    val qs = SparkEntry.queries

    // ---- kill-proof bench state: every completed timing lands here
    // under the lock, and a JVM shutdown hook renders + flushes
    // whatever is complete the instant the driver's timeout (or any
    // other kill) begins — the artifact of record can no longer die
    // with the JVM (r16: rc 124, parsed null, zero sealed evidence).
    val lock = new Object
    val headRes = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[(Double, Long)]]
    val sf1Res = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[(Double, Long)]]
    val sf10Res = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[(Double, Long)]]
    // sf0.1 denominators for sweep members outside the headline
    val denomRes = scala.collection.mutable.LinkedHashMap
      .empty[String, Option[(Double, Long)]]
    // budget-skipped sweep members, phase-tagged ("sf1:x_foo")
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    // exception text per failed row ("sf10:x_join_size" -> message):
    // r17's sweep failure was diagnosable only from stderr — the
    // artifact of record should say WHY, not just WHICH (r17 verdict)
    val failErr = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var anchorStartV = -1.0; var anchorEndV = -1.0
    var sf1AnchorV = -1.0; var sf10AnchorV = -1.0
    // sustained-anchor readings (min/max of 6 back-to-back anchors,
    // ~12s of full-width load): the 2s burst anchor reads 0.5s on a
    // host whose SUSTAINED throughput is 2-10x degraded (burst
    // credits) — r17 measured heavy sf10 rows at 2-10x the standing
    // pins with burst anchors inside the threshold; max/min >> 1 (or
    // a max far above the quiet band) flags that regime in the
    // artifact itself
    var sustMinV = -1.0; var sustMaxV = -1.0
    val erCc = scala.collection.mutable.LinkedHashMap.empty[String, (Int, Long)]
    val ContendedSec = 0.60

    def mapJson(m: scala.collection.Map[String, Option[(Double, Long)]],
                time: Boolean): String =
      m.collect { case (k, Some((v, n))) =>
        if (time) "\"" + k + f"""":$v%.3f""" else "\"" + k + "\":" + n
      }.mkString("{", ",", "}")
    def failedJsonOf(m: scala.collection.Map[String, Option[(Double, Long)]],
                     tag: String): Seq[String] =
      m.collect { case (k, None) => "\"" + tag + k + "\"" }.toSeq
    def jsonEsc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
    def failErrJson: String =
      if (failErr.isEmpty) ""
      else failErr.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(""","failed_err":{""", ",", "}")
    def erCcJson: String =
      if (erCc.isEmpty) ""
      else erCc.map { case (scale, (it, edges)) =>
        s""""$scale":{"iterations":$it,"pairs":${edges / 2}}"""
      }.mkString(""","er_cc":{""", ",", "}")
    def anchorsJson: String =
      (if (anchorEndV >= 0)
        f"""{"start":$anchorStartV%.3f,"end":$anchorEndV%.3f}"""
      else f"""{"start":$anchorStartV%.3f}""")
    def contendedV: Boolean =
      math.max(anchorStartV, anchorEndV) > ContendedSec
    def skippedJson: String =
      skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    // growth on the sweep scale vs the sf0.1 denominator (headline or
    // the explicitly-timed denomRes row), emitted directly so no
    // reader divides two maps
    def growthJson(sweep: scala.collection.Map[String, Option[(Double, Long)]],
                   key: String): String = {
      val denom = (headRes ++ denomRes).toMap
      sweep.collect {
        case (k, Some((v, _))) if denom.get(k).flatten.exists(_._1 > 0.0) =>
          "\"" + k + f"""":${v / denom(k).get._1}%.1f"""
      }.mkString(s""","$key":{""", ",", "}")
    }
    def sf1Frag: String =
      if (sf1Res.isEmpty && !skipped.exists(_.startsWith("sf1:"))) ""
      else ""","sf1_queries":""" + mapJson(sf1Res, time = true) +
        ""","sf1_synth":"10x-key-shifted-replicas"""" +
        growthJson(sf1Res, "sf1_growth_on_10x") +
        ""","sf1_rows":""" + mapJson(sf1Res, time = false) +
        (if (sf1AnchorV >= 0)
          f""","sf1_anchor_sec":$sf1AnchorV%.3f,"sf1_contended":${sf1AnchorV > ContendedSec}"""
        else "")
    def sf10Frag: String =
      if (sf10Res.isEmpty && !skipped.exists(_.startsWith("sf10:"))) ""
      else ""","sf10_queries":""" + mapJson(sf10Res, time = true) +
        ""","sf10_synth":"100x-key-shifted-replicas-docs-lineitem-embeddings"""" +
        growthJson(sf10Res, "sf10_growth_on_100x") +
        ""","sf10_rows":""" + mapJson(sf10Res, time = false) +
        (if (sf10AnchorV >= 0)
          f""","sf10_anchor_sec":$sf10AnchorV%.3f,"sf10_contended":${sf10AnchorV > ContendedSec}"""
        else "") +
        (if (sustMinV >= 0)
          f""","sf10_anchor_sustained":{"min":$sustMinV%.3f,"max":$sustMaxV%.3f}"""
        else "")
    val timingTag = "min-of-2;sweep>30s-min-of-1"
    def totalV: Double = headRes.values.flatten.map(_._1).sum
    def allFailedJson: String =
      (failedJsonOf(headRes, "") ++ failedJsonOf(sf1Res, "sf1:") ++
        failedJsonOf(sf10Res, "sf10:")).mkString("[", ",", "]")
    // the compact core: headline + anchors + failures + skips, always
    // under ~1.5 KB — the line the driver's tail capture parses
    def renderCompact(): String =
      f"""{"metric":"total","value":$totalV%.3f,"unit":"sec","queries":${mapJson(headRes, time = true)},"failed":$allFailedJson$failErrJson,"skipped":$skippedJson,"sf":"$sfDir","timing":"$timingTag","anchor_sec":$anchorsJson,"contended":$contendedV$erCcJson}"""
    def renderFull(): String =
      f"""{"metric":"total","value":$totalV%.3f,"unit":"sec","queries":${mapJson(headRes, time = true)},"rows":${mapJson(headRes, time = false)},"failed":$allFailedJson$failErrJson,"skipped":$skippedJson,"sf":"$sfDir","benchdata":"multi-rowgroup-copy","timing":"$timingTag","budget_sec":$budgetSec%.0f,"elapsed_sec":$elapsedSec%.1f,"anchor_sec":$anchorsJson,"contended":$contendedV$erCcJson$sf1Frag$sf10Frag}"""
    def flushDisk(): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench.json"),
        lock.synchronized(renderFull()).getBytes("UTF-8"))
      catch { case _: Throwable => () }
    // The kill-proofing itself: on ANY exit (driver timeout SIGTERM
    // included) flush the full JSON to disk and print full + compact
    // as the process's last stdout lines — the driver parses the last
    // JSON line of the tail, which r16 lost to a stack trace.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      shuttingDown = true
      val (full, compact) =
        lock.synchronized((renderFull(), renderCompact()))
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench.json"), full.getBytes("UTF-8"))
      catch { case _: Throwable => () }
      System.out.println(full)
      System.out.println(compact)
      System.out.flush()
    }))

    val benchDir = multiRowGroupCopy(spark, sfDir)
    // absorb session/codegen/parquet-footer warmup so per-query times
    // measure the queries, not JVM startup
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.sources.Sources.readParquet(spark, s"$benchDir/region.parquet").count()
    // host-speed anchor: a fixed shuffle+agg over synthetic data, timed
    // at the start and end of the bench window. Query times only
    // compare across rounds when the host was comparably idle — r9's
    // driver-run sf1 rows came out 3-8x the quiet-machine numbers with
    // UNCHANGED plans (BASELINE.md "Round 10"), and the anchor makes
    // that contamination measurable instead of a forensic exercise.
    // Quiet-host anchor band is 0.33–0.45s (BASELINE.md pins); past
    // 0.60s (ContendedSec) the host is demonstrably contended and
    // every row in that window is directional only. The marker rides
    // IN the JSON so a reader of the artifact alone sees it.
    def anchor(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("id % 1000 AS k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("id")).count()
      (System.nanoTime() - t0) / 1e9
    }
    lock.synchronized { anchorStartV = math.min(anchor(), anchor()) }
    def time1(name: String, dir: String,
              tag: String = ""): Option[(Double, Long)] = {
      val t0 = System.nanoTime()
      // A failed query is reported in a separate "failed" array and
      // omitted from the timings map, so consumers summing/min-ing the
      // map can't mistake a sentinel for a timing. The row count rides
      // along so growth factors can be read against OUTPUT size — a
      // keyless range join over a fixed time span produces
      // quadratically more pairs on 10x data (measured 99.9x at sf1),
      // and a time ratio alone would misread that as a plan defect.
      val r =
        try {
          val rows = qs(name)(spark, dir).count()
          Some(((System.nanoTime() - t0) / 1e9, rows))
        }
        catch { case e: Throwable =>
          if (!shuttingDown) {
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            lock.synchronized {
              failErr(tag + name) = jsonEsc(
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
            }
            ensureAlive()
          }
          None }
      // the 2-pass scan operators persist their sorted rows and leave
      // them cached (the output stays lazy); drop them OUTSIDE the
      // timing so one query's cache pressure can't skew the next
      // (x_contam swung 0.29->0.95 behind d_cum_u before this).
      // Scan-scoped: a global getPersistentRDDs sweep would also
      // clobber caches the queries themselves own. Cache drops throw
      // on a context stopped mid-shutdown — swallow, the timing is
      // already taken.
      try {
        graft.functions.ScanFns.unpersistScans()
        // each timed run resolves parquet schemas and IVF-PQ and
        // FileBloom sidecars itself, like the first one did
        graft.sources.FileSets.clearCaches()
        // drop any remaining cached relations + broadcast/GC residue:
        // r10's judge measured x_bitext 17x slower WITHIN the 37-query
        // bench than standalone with an unchanged plan — late-bench
        // JVM state was contaminating the heavy tails
        spark.catalog.clearCache()
      } catch { case _: Throwable => () }
      r
    }
    // min-of-2 per query, and a third run when the min is >1s — the
    // heavy tails are exactly where within-JVM contamination lands and
    // where one more sample is cheap relative to the signal it buys.
    // Sweep rows whose FIRST sample exceeds heavyCutoff take a second
    // sample ONLY when the wall budget affords it (r16 verdict item 3
    // asked for min-of-1 on the >30s trio to keep the sealed run
    // inside the driver's timeout; the r17 probe data then showed the
    // cold first sample reads 3-5x the converged number — 218/78/72s
    // min-of-3 standalone — so an unconditional min-of-1 would record
    // JIT+page-cache warmup as a fake regression. Budget-adaptive
    // min-of-2 gives converged numbers on quiet runs and degrades to
    // min-of-1, never a timeout, on contended ones; the standalone
    // Probe min-of-3 stays the standing-pin instrument).
    def timeN(name: String, dir: String,
              heavyCutoff: Double = Double.MaxValue,
              tag: String = ""): Option[(Double, Long)] = {
      val first = time1(name, dir, tag)
      first match {
        case Some((t, _)) if t > heavyCutoff =>
          // second sample only when (a) the budget affords it and
          // (b) the first sample is under 120s — a reading past that
          // is already host-degraded (r17 adjudication band), where a
          // repeat converges to the degraded level, not the pin, and
          // just burns the budget the remaining sweep members need
          if (!shuttingDown && t <= 120.0 && budgetLeft > t * 1.5 + 60) {
            val second = time1(name, dir, tag)
            (first.toSeq ++ second.toSeq)
              .reduceOption((a, b) => if (a._1 <= b._1) a else b)
          } else first
        case _ =>
          val two = first.toSeq ++ time1(name, dir, tag).toSeq
          val best = two.reduceOption((a, b) => if (a._1 <= b._1) a else b)
          best match {
            case Some((t, _)) if t > 1.0 =>
              (time1(name, dir, tag).toSeq :+ best.get)
                .reduceOption((a, b) => if (a._1 <= b._1) a else b)
            case other => other
          }
      }
    }
    // SPARK_GRAFT_FULL=1: the quarterly full sweep — re-adds the
    // stable sub-0.3s rows the per-round headline no longer carries
    val effHeadline =
      if (sys.env.getOrElse("SPARK_GRAFT_FULL", "0") == "1")
        headline ++ stableSweep
      else headline
    // ER connected-components telemetry per scale (r13 verdict item
    // 5): min-label iterations + undirected pair count from
    // x_entity_res's closure — the read that decides whether the
    // large-star/small-star CC swap is ever needed (it is iff
    // iterations grow with corpus diameter)
    def grabErCc(scale: String): Unit =
      graft.ops.Dedup.lastCcStats.foreach(st =>
        lock.synchronized { erCc(scale) = st })
    effHeadline.filter(qs.contains).foreach { name =>
      if (shuttingDown) lock.synchronized { skipped += s"head:$name" }
      else {
        val r = timeN(name, benchDir)
        if (name == "x_entity_res")
          grabErCc(new java.io.File(sfDir).getName)
        lock.synchronized { headRes(name) = r }
        flushDisk()
      }
    }
    // The headline JSON prints (and is already on disk via the
    // per-query flushes) BEFORE any sweep — r16's only full flush came
    // after both sweeps, so a kill mid-sweep erased the 50 completed
    // headline timings; now it can cost at most one sweep's tail.
    println(lock.synchronized(renderCompact()))
    flushDisk()
    val runSweeps = new java.io.File(sfDir).getName == "sf0.1"
    // sf1 rehearsal: only when benching the standard sf0.1 dir (the
    // driver's per-round run), opt-out via SPARK_GRAFT_SF1=0.
    // min-of-2 (+1 for 1–30s tails) like the headline; >30s rows
    // min-of-1. Budget-guarded per member: when the wall budget is
    // spent the remainder lands in "skipped" instead of a timeout.
    if (runSweeps && sys.env.getOrElse("SPARK_GRAFT_SF1", "1") == "1") {
      if (budgetLeft < 90)
        lock.synchronized {
          sf1Queries.filter(qs.contains).foreach(n => skipped += s"sf1:$n") }
      else {
        val sf1Dir = synthSf1(spark, benchDir)
        // contention can start mid-bench: anchor the sweep itself
        val a1 = math.min(anchor(), anchor())
        lock.synchronized { sf1AnchorV = a1 }
        sf1Queries.filter(qs.contains).foreach { n =>
          if (shuttingDown || budgetLeft < 15)
            lock.synchronized { skipped += s"sf1:$n" }
          else {
            val r = timeN(n, sf1Dir, heavyCutoff = 30.0, tag = "sf1:")
            if (n == "x_entity_res") grabErCc("sf1")
            lock.synchronized { sf1Res(n) = r }
            flushDisk()
          }
        }
        // sf0.1 denominators for sf1 members the trimmed headline no
        // longer times (the stableSweep rows) — cheap (all sub-0.3s),
        // and without them the growth map would silently lose those
        // families
        sf1Queries.filter(qs.contains).filterNot(effHeadline.contains)
          .foreach { n =>
            if (!shuttingDown && budgetLeft > 15 &&
                sf1Res.get(n).exists(_.isDefined)) {
              val r = timeN(n, benchDir)
              lock.synchronized { denomRes(n) = r }
            }
          }
        // the sweep as its OWN compact line, printed as soon as it
        // exists — BENCH_r13's raw tail truncated the combined blob's
        // head, so the maps were only recoverable from the disk copy;
        // a standalone line survives any tail cut
        val frag = lock.synchronized(sf1Frag)
        if (frag.nonEmpty) println("{" + frag.drop(1) + "}")
        flushDisk()
      }
    }
    // sf10 rehearsal: 100× data for the worst growers — the second
    // scale decade behind the 100 TB claims (r11 verdict item 8).
    // Growth is read against sf0.1, so ~linear-per-decade shows as
    // ~100 (time ratio over 100× data).
    if (runSweeps && sys.env.getOrElse("SPARK_GRAFT_SF10", "1") == "1" &&
        !shuttingDown) {
      if (budgetLeft < 120)
        lock.synchronized {
          sf10Queries.filter(qs.contains).foreach(n => skipped += s"sf10:$n") }
      else {
        // FRESH SESSION for the 100x sweep: after the headline + sf1
        // window the JVM carries heap/page-cache residue that inflated
        // in-sweep heavy rows 1.7-2.3x vs standalone quiet pins with
        // IDENTICAL output (x_dedup_minhash 91s/68s in-sweep vs 39.4s
        // standalone min-of-3, 27.3M pairs all three times — r16
        // adjudication in BASELINE.md; clearCache alone did not shed
        // it). A clean session makes the sweep measure the queries,
        // not the bench's own history. Disk caches are unaffected.
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = newSession()
        spark.range(1000).selectExpr("sum(id)").collect() // codegen re-warm
        val sf10Dir = synthSf10(spark, benchDir)
        val a10 = math.min(anchor(), anchor())
        // sustained anchor: 6 back-to-back runs expose burst-credit
        // throttling the 2s anchor hides (see sustMinV scaladoc)
        val sustained = (1 to 6).map(_ => anchor())
        lock.synchronized {
          sf10AnchorV = a10
          sustMinV = sustained.min; sustMaxV = sustained.max
        }
        sf10Queries.filter(qs.contains).foreach { n =>
          if (shuttingDown || budgetLeft < 15)
            lock.synchronized { skipped += s"sf10:$n" }
          else {
            val r = timeN(n, sf10Dir, heavyCutoff = 30.0, tag = "sf10:")
            if (n == "x_entity_res") grabErCc("sf10")
            lock.synchronized { sf10Res(n) = r }
            flushDisk()
          }
        }
        // sf0.1 denominators for sf10 members the headline doesn't
        // time (x_ann_ivfpq_incr) — without them the growth map
        // silently drops the family (the sf1 denoms recipe)
        sf10Queries.filter(qs.contains).filterNot(effHeadline.contains)
          .foreach { n =>
            if (!shuttingDown && budgetLeft > 15 &&
                sf10Res.get(n).exists(_.isDefined) &&
                !denomRes.contains(n)) {
              val r = timeN(n, benchDir)
              lock.synchronized { denomRes(n) = r }
            }
          }
        val frag = lock.synchronized(sf10Frag)
        if (frag.nonEmpty) println("{" + frag.drop(1) + "}")
        flushDisk()
      }
    }
    if (!shuttingDown) {
      val aEnd = math.min(anchor(), anchor())
      lock.synchronized { anchorEndV = aEnd }
    }
    val (fullJ, compactJ) = lock.synchronized((renderFull(), renderCompact()))
    // the stdout line alone has been lost to artifact tail-truncation
    // two rounds running (BENCH_r10/r11 shipped "parsed": null with the
    // headline numbers cut out of the log tail) — land the full JSON on
    // disk too, where no log buffer can eat it
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/bench.json"), fullJ.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(fullJ)
    // final line = the compact core again, now with both anchors — a
    // last-N-bytes capture keeps THIS line whole even when the full
    // dump above gets its head cut
    println(compactJ)
    try spark.stop() catch { case _: Throwable => () }
  }
}
