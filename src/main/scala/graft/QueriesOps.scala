package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.streaming.EventStreams

/** LLM-pipeline + streaming coverage queries (SURVEY §2.6, §2.7). */
object QueriesOps {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.readParquet(s, s"$dir/$name.parquet")

  /** Content tag for the per-session on-disk LAYOUT caches
    * (x_part_prune / x_zorder_prune / x_bucket_join / x_filebloom):
    * md5 of the source table's file names + sizes + mtimes. The old
    * `dir.hashCode` keyed only the PATH STRING, so a regenerated
    * testdata drop at the same path (or a hashCode collision) served a
    * stale layout and the verify gate would compare against the wrong
    * snapshot. */
  private def srcTag(dir: String, table: String): String = {
    val f = new java.io.File(s"$dir/$table.parquet")
    val parts =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq else Seq(f)
    val sig = parts.map(p => s"${p.getName}:${p.length()}:${p.lastModified()}")
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  type Q = (SparkSession, String) => DataFrame

  /** First embedding vector (vec_id=0) as the standing query FRAME —
    * a one-row broadcast frame, so no driver-side action fires during
    * plan construction. */
  private def queryFrame(s: SparkSession, d: String): DataFrame =
    queryRow(s, d).select(col("embedding").cast("array<double>").as("qv"))

  /** The single-query ANN queries' query: corpus vector 0, searched
    * through the batched retrievals with its own id as the query id (a
    * literal id would be optimized out of the per-query window's
    * partitioning, leaving an unpartitioned window). */
  private def queryRow(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(col("vec_id") === 0)

  /** Deterministic wide-dim embedding fixture: replicate the 64-dim
    * vector `reps` times with block r scaled by 1/(r+1) — every block
    * is an exact IEEE double division both engines reproduce, so DuckDB
    * replays the identical 768/1536-dim vectors
    * (`flatten(list_transform(range(0,reps), r ->
    * list_transform(v, x -> x / (r+1))))`). This is what exercises the
    * multi-chunk SRP sign chain (ceil(768/128) = 6 md5 chunks/plane)
    * that a 64-dim corpus never touches. */
  private def widen(vec: Column, reps: Int): Column =
    flatten(transform(sequence(lit(0), lit(reps - 1)),
      r => transform(vec, x => x / (r + lit(1)).cast("double"))))

  /** Training frame for the x_lr_* classifier queries: the 4 cheap
    * engine-exact quality features plus the teacher label — a
    * Gopher-style minimum-word-count rule (space count >= 53, i.e.
    * >= 54 words) the linear model distills. */
  private def lrDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      ops.Classifier.docQualityFeatures(col("text")).as("fx"),
      ((length(col("text")) - length(regexp_replace(col("text"), " ", "")))
        >= lit(53)).cast("double").as("y"))

  private def embeddings768(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"),
      widen(col("embedding").cast("array<double>"), 12).as("embedding768"))

  /** events.parquet's ts column has shipped in two arrow layouts:
    * TIMESTAMP(NANOS) (readable only as long via the legacy conf —
    * convert ns → µs with an integer div; a double round-trip would
    * lose precision at 2026 epoch-nanos) and, in newer testdata drops,
    * plain TIMESTAMP(MICROS) (arrives as timestamp_ntz). Dispatch on
    * the READ schema so both layouts normalize to the same
    * session-TZ timestamp column. */
  private def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** documents with deterministic synthetic PII prepended (URL, email,
    * IPv4, phone derived from doc_id) — the scrub/domain queries need
    * text that actually contains the patterns; the oracle builds the
    * identical text in SQL. */
  private def piiDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").withColumn("text",
      concat(
        lit("See https://ex"), pmod(col("doc_id"), lit(10)).cast("string"),
        lit(".org/a contact user"), col("doc_id").cast("string"),
        lit("@mail.org or +49 170 "), col("doc_id").cast("string"),
        lit(" at 10.0."), pmod(col("doc_id"), lit(200)).cast("string"),
        lit(".7\n"), col("text")))

  /** Genuinely double-encoded fixture, built at COMPILE time: UTF-8
    * bytes of accented text mis-decoded as cp1252 — the classic crawl
    * damage ("cafÃ© â€” naÃ¯ve"). cp1252 (not latin-1) so every char
    * is printable and the oracle SQL carries the identical literal. */
  private val cleanFixture: String = "café — naïve déjà vu"
  private val mojiFixture: String = new String(
    cleanFixture.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.Charset.forName("windows-1252"))

  val queries: Map[String, Q] = Map(
    // ---- dedup ----------------------------------------------------------
    "x_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("keep_id"))),

    // Cross-corpus (incremental-crawl) dedup: incoming = the odd docs
    // plus a deterministic 10% "re-crawl" of the even corpus (fresh
    // doc_id, identical text); existing = the even corpus. The
    // bloom-pruned anti-join must drop exactly the re-crawls — result
    // is EXACT (bloom prefilter + confirm join), hence hash-checkable.
    "x_dedup_cross" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val existing = docs.filter(col("doc_id") % 2 === 0)
      val recrawl = existing.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text").unionByName(recrawl.select("doc_id", "text"))
      BloomPrune.antiJoin(incoming, existing.select("doc_id", "text"),
          md5(col("text")), fpp = 0.01)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // exact dedup keeping the BEST copy (argmax of a per-copy
    // preference, here an md5-derived rank standing in for crawl
    // fetch-quality metadata) — one max_by partial agg
    "x_dedup_best" -> ((s, d) =>
      Dedup.exactBest(t(s, d, "documents"), "doc_id", "text",
          Sampling.hashBucket(col("doc_id")))
        .orderBy(col("keep_id"))),

    "x_dedup_minhash" -> ((s, d) =>
      Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
        .orderBy(col("a"), col("b"))),

    // MEASURED LSH recall/precision on a 250-doc md5-ranked sample of
    // the corpus plus perturbed near-copies (every 5th doc, suffix-
    // wrapped): quadratic exact-jaccard ground truth vs the 8x8
    // engine-portable band proposals — the empirical S-curve check
    // behind every (bands, rows) choice; recall here reads sub-1 by
    // design (threshold 0.5 sits below the 8x8 midpoint 0.77)
    "x_lsh_recall" -> ((s, d) => {
      val base = t(s, d, "documents").select("doc_id", "text")
      val d0 = base.unionByName(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(col("text"), lit(" terms apply contact support"))
            .as("text")))
      Dedup.lshRecallAudit(d0, "doc_id", "text", sampleN = 250, seed = 7L,
        w = 3, numBands = 8, rowsPerBand = 8, threshold = 0.5)
    }),

    // near-dedup from the MATERIALIZED signature index (the standing-
    // workload path): candidate join + jaccard verification read the
    // index alone — zero text scans, zero re-hashing per pass
    "x_dedup_minhash_idx" -> ((s, d) => {
      val (sigs, sh) = minhashIndex(s, d)
      Dedup.minhashLshFromIndex(sigs, sh, threshold = 0.2)
        .orderBy(col("a"), col("b"))
    }),

    // day-2 incremental dedup: a suffix-wrapped batch (every 7th doc,
    // ids +1e9) admitted against the standing index — only the batch
    // pays signature cost; index-internal pairs are filtered, not
    // re-verified
    "x_dedup_incr" -> ((s, d) => {
      val (idxSigs, idxSh) = minhashIndex(s, d)
      val batch = t(s, d, "documents")
        .filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(col("text"), lit(" terms apply contact support")).as("text"))
      val (newSigs, newSh) = Dedup.minhashIndexFrames(
        batch, "doc_id", "text", w = 3, numPerm = 64, numBands = 16)
      Dedup.minhashLshIncremental(idxSigs, idxSh, newSigs, newSh,
          threshold = 0.2)
        .orderBy(col("a"), col("b"))
    }),

    "x_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
      Dedup.dedupClusters(pairs.select("a", "b"))
        .orderBy(col("doc_id"))
    }),

    // the alternating large-star/small-star CC (Kiveris 2014) over the
    // SAME pair graph — label-identical to min-label propagation by
    // contract, so it replays x_dedup_clusters' oracle verbatim; the
    // O(log)-rounds diameter story is DedupSpec's 200-chain case
    "x_dedup_clusters_star" -> ((s, d) => {
      val pairs = Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
      Dedup.dedupClustersStar(pairs.select("a", "b"))
        .orderBy(col("doc_id"))
    }),

    // day-2 incremental CC: the corpus split at the median doc_id —
    // "yesterday" (both endpoints below) is labeled by the standing
    // operator, "today"'s pairs (any endpoint at/above) fold in
    // incrementally; exact equality with the full recompute means the
    // x_dedup_clusters oracle replays VERBATIM
    "x_dedup_clusters_incr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
        .select("a", "b").persist()
      val day1 = pairs.filter(col("a") < cut && col("b") < cut)
      val delta = pairs.filter(col("a") >= cut || col("b") >= cut)
      val standing = Dedup.dedupClusters(day1)
      val out = Dedup.dedupClustersIncremental(standing, delta)
        .orderBy(col("doc_id"))
      out
    }),

    // ensemble dedup policy: exact md5 groups first (reps = min id),
    // LSH+jaccard clusters over the REPS only, one per-doc verdict
    // (keep / drop_exact / drop_near) with kept_by = ultimate keeper
    "x_dedup_ensemble" -> ((s, d) =>
      Dedup.ensembleDedup(t(s, d, "documents"), "doc_id", "text",
          w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
        .orderBy(col("doc_id"))),

    // keep-best-per-near-dup-cluster: transitive clusters + longest-
    // copy preference (exact integer), ties to lowest id; singletons
    // (unclustered docs) keep themselves
    "x_cluster_rep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
      val clusters = Dedup.dedupClusters(pairs.select("a", "b"))
      Dedup.clusterRepresentatives(docs, "doc_id", clusters,
          size(array_remove(Dedup.tokens(col("text")), "")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // preference pairs from near-dup clusters: best vs worst copy by
    // quality within each cluster — content-controlled (chosen,
    // rejected) contrasts for reward-model/DPO data
    "x_pref_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
      val clusters = Dedup.dedupClusters(pairs.select("a", "b"))
      val q = TextAnalysis.qualityScore(docs, "text")
        .select(col("doc_id"), col("quality"))
      Sampling.preferencePairs(q, "doc_id", clusters, col("quality"))
        .orderBy(col("cluster_id"))
    }),

    // cluster-size histogram: the dedup report a 100 TB pipeline reads
    // before deciding thresholds (two tiny re-aggs over the clusters)
    "x_cluster_sizes" -> ((s, d) => {
      val pairs = Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
      Dedup.dedupClusters(pairs.select("a", "b"))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    "x_dedup_simhash" -> ((s, d) =>
      // maxDist=3 is the radius the 4x16-bit chunk bucketing actually
      // guarantees recall for (pigeonhole) — a larger radius here would
      // silently undercount pairs
      Dedup.simhashNearDup(t(s, d, "documents"), "doc_id", "text", maxDist = 3)
        .orderBy(col("a"), col("b"))),

    // portable simhash signatures (md5-derived bits, hash-compared
    // against DuckDB; the xxhash64 kernel path stays under x_dedup_simhash)
    "x_simhash_port" -> ((s, d) =>
      Dedup.simhashPortable(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    "x_dedup_jaccard" -> ((s, d) => {
      val pairs = Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.15)
      Dedup.ngramJaccardPairs(pairs.select("a", "b"),
        t(s, d, "documents"), "doc_id", "text", n = 5)
        .orderBy(col("a"), col("b"))
    }),

    // asymmetric containment over a corpus with 10% boilerplate-
    // wrapped copies: the wrapped pair's containment_a is exactly 1.0
    // (every base shingle survives in the wrapper) while jaccard is
    // diluted by the footer — the quote/template-detection signal
    "x_containment" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val wrapped = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(col("text"),
            lit(" terms apply contact support for details legal notice")).as("text"))
      val corpus = docs.unionByName(wrapped)
      val pairs = Dedup.minhashLsh(corpus, "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.6)
      Dedup.containmentPairs(pairs.select("a", "b"), corpus, "doc_id", "text", w = 3)
        .select("a", "b", "containment_a", "containment_b", "jaccard")
        .orderBy(col("a"), col("b"))
    }),

    // testdata embeddings are random (max pairwise cosine ≈ 0.48), so
    // the threshold is set where pairs exist; 4 planes keep LSH recall
    // meaningful at that low similarity
    "x_neardup_embed" -> ((s, d) =>
      Dedup.embeddingNearDup(
        t(s, d, "embeddings").withColumn("embedding", col("embedding").cast("array<double>")),
        "vec_id", "embedding", nPlanes = 4, threshold = 0.3)
        .orderBy(col("a"), col("b"))),

    // ---- similarity search ----------------------------------------------
    "x_ann_brute" -> ((s, d) =>
      Similarity.bruteForceTopKJoin(
        t(s, d, "embeddings"), "vec_id", "embedding",
        t(s, d, "embeddings").filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10)
        // 4 digits: DuckDB's list_cosine_similarity sums in a different
        // order than our aggregate(), so rawcos differs by ~dim·ulp.
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("query_id"), col("rank"))),

    // KNN-Shapley data valuation (Jia 2019 Thm 1): every training
    // vector's exact Shapley value for the 5-NN utility, averaged
    // over the 10-query validation split — the suffix-scan closed
    // form over per-query similarity-sorted windows; sort key is the
    // round-6 cosine so the ORDER itself is engine-replayable
    "x_shapley" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.knnShapley(
        emb.filter(col("vec_id") >= 10), "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5)
    }),

    // hyperplane signs are md5-derived (Similarity.planeDigest), so the
    // DuckDB oracle recomputes the exact bucket assignment and replays
    // the same multi-probe retrieval
    "x_ann_lsh" -> ((s, d) =>
      Similarity.lshTopKJoin(t(s, d, "embeddings"), "vec_id", "embedding",
          queryRow(s, d), "vec_id", "embedding", k = 10, nPlanes = 8)
        .select(col("neighbor_id").as("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))),

    // hubness audit over the LSH self-retrieval: every 10th vector
    // queries, k-occurrence counted per corpus vector — hubs at the
    // top, the antihub count beside them
    "x_hubness" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      Similarity.hubnessAudit(e, "vec_id", "embedding", qs, "q_id", "qv",
          k = 5, nPlanes = 8, topN = 20)
        .orderBy(col("k_occ").desc, col("neighbor_id"))
    }),

    // 768-dim variant: same retrieval topology, but the corpus vectors
    // span SIX md5 sign chunks per plane — this is the query that
    // actually executes the multi-chunk chain (everything else in the
    // repo is 64-dim)
    "x_ann_lsh_768" -> ((s, d) => {
      val e = embeddings768(s, d)
      Similarity.lshTopKJoin(e, "vec_id", "embedding768",
          e.filter(col("vec_id") === 0), "vec_id", "embedding768", k = 10, nPlanes = 8)
        .select(col("neighbor_id").as("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // 768-dim near-dup: multi-chunk sign chain through the
    // embeddingNearDup production entry point (4 planes × 6 chunks)
    "x_neardup_768" -> ((s, d) =>
      Dedup.embeddingNearDup(embeddings768(s, d), "vec_id", "embedding768",
        nPlanes = 4, threshold = 0.3)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy(col("a"), col("b"))),

    // SemDeDup-style semantic dedup over the deterministic IVF
    // clusters: within-cluster capped pairing, drop every vector with
    // a smaller-id >=-threshold cluster-mate; the oracle rebuilds the
    // identical index and replays the drop set
    "x_semdedup" -> ((s, d) =>
      Dedup.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        nLists = 8, threshold = 0.3)
        .orderBy(col("vec_id"))),

    // margin-based bitext mining over the even(src)/odd(tgt) embedding
    // halves: forward+reverse top-4 retrievals, decimal-exact
    // neighborhood penalties, max-margin target per source — the
    // whole chain (retrievals, penalties, margins, argmax, threshold)
    // replays in the oracle
    "x_bitext" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val src = e.filter(col("vec_id") % 2 === 0)
      val tgt = e.filter(col("vec_id") % 2 === 1)
      val fwd = Similarity.bruteForceTopKJoin(tgt, "vec_id", "embedding",
        src, "vec_id", "embedding", k = 4)
      val rev = Similarity.bruteForceTopKJoin(src, "vec_id", "embedding",
        tgt, "vec_id", "embedding", k = 4)
      Bitext.mineBitext(Bitext.marginScores(fwd, rev), minMargin = 1.0)
        .withColumn("cos", round(col("cos"), 4))
        .withColumn("margin", round(col("margin"), 4))
        .orderBy(col("src_id"))
    }),

    // corpus-scale bitext: the SAME margin/mine math but candidates
    // from the LSH multi-probe bucket join instead of brute force —
    // the documented 100 TB swap-in (Bitext scaladoc), proven
    // end-to-end with the retrieval replayed bucket-for-bucket
    "x_bitext_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val src = e.filter(col("vec_id") % 2 === 0)
      val tgt = e.filter(col("vec_id") % 2 === 1)
      // broadcastProbes=false: BOTH sides are corpus-sized in the
      // mining shape, so the bucket join shuffles instead of
      // broadcasting the query corpus (result-identical)
      val fwd = Similarity.lshTopKJoin(tgt, "vec_id", "embedding",
        src, "vec_id", "embedding", k = 4, nPlanes = 8,
        broadcastProbes = false)
      val rev = Similarity.lshTopKJoin(src, "vec_id", "embedding",
        tgt, "vec_id", "embedding", k = 4, nPlanes = 8,
        broadcastProbes = false)
      Bitext.mineBitext(Bitext.marginScores(fwd, rev), minMargin = 1.0)
        .withColumn("cos", round(col("cos"), 4))
        .withColumn("margin", round(col("margin"), 4))
        .orderBy(col("src_id"))
    }),

    // deterministic md5-ranked centroid sample -> the oracle rebuilds
    // the identical IVF index and probes the same two lists
    "x_ann_ivf" -> ((s, d) => {
      val (assigned, centroids) =
        Similarity.ivfIndexDeterministic(t(s, d, "embeddings"), "vec_id", "embedding",
          nLists = 8)
      Similarity.ivfTopKJoin(assigned, centroids, "vec_id", "embedding",
          queryRow(s, d), "vec_id", "embedding", k = 10, nprobe = 2)
        .select(col("neighbor_id").as("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
    }),

    // recall@k of the LSH retrieval against brute-force ground truth
    // over the same 3-query set — the nPlanes tuning metric; both
    // retrievals and the (query_id, neighbor_id) hit join are fully
    // oracle-replayed (multi-query buckets + per-query windows)
    "x_ann_recall" -> ((s, d) =>
      Similarity.annRecallAtK(
        t(s, d, "embeddings"), "vec_id", "embedding",
        t(s, d, "embeddings").filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 10, nPlanes = 8)
        .orderBy(col("query_id"))),

    // IVF recall@k against the same brute-force ground truth: the
    // nprobe/nLists tuning read; deterministic index + multi-query
    // probes + per-query windows, all oracle-replayed
    // ANN-mined hard negatives: brute top-20 per anchor (the baseline
    // retrieval; IVF/LSH is the 100 TB swap-in), labels = documents
    // lang via the aligned doc_id, keep the 5 nearest label-mismatched
    "x_hardneg" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val retrieved = Similarity.bruteForceTopKJoin(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 20)
      Similarity.hardNegatives(retrieved, "neighbor_id",
          t(s, d, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", k = 5)
        .withColumnRenamed("neighbor_id", "vec_id")
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("query_id"), col("neg_rank"))
    }),

    "x_ann_recall_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
      val (assigned, centroids) =
        Similarity.ivfIndexDeterministic(e, "vec_id", "embedding", nLists = 8)
      Similarity.recallAtK(
        Similarity.bruteForceTopKJoin(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 10),
        Similarity.ivfTopKJoin(assigned, centroids, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 10, nprobe = 2))
        .orderBy(col("query_id"))
    }),

    // incremental index maintenance: build the deterministic index on
    // the EVEN vectors, absorb the odd batch against its centroids —
    // same argmin rule as the build, fully replayed
    "x_assign" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val (_, centroids) = Similarity.ivfIndexDeterministic(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", nLists = 8)
      Similarity.assignToCentroids(
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", centroids)
        .select("vec_id", "list_id")
        .orderBy(col("vec_id"))
    }),

    // NDCG@10 of the LSH retrieval vs brute truth — the standard
    // graded ranking metric beside recall@k (position-blind) and RBO;
    // discount weights are 2^-30-grid plan literals so the DCG sum is
    // integer addition, order-invariant in any engine
    "x_ndcg" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
      Similarity.ndcgAtK(
        Similarity.bruteForceTopKJoin(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 10),
        Similarity.lshTopKJoin(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 10, nPlanes = 8),
        k = 10).orderBy(col("query_id"))
    }),

    // MRR of the LSH retrieval vs the brute-force top-3 truth — the
    // known-item metric: reciprocal rank of the FIRST truth hit in
    // each top-10 list, 0 on a miss
    "x_mrr" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
      Similarity.reciprocalRankAtK(
        Similarity.bruteForceTopKJoin(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 3),
        Similarity.lshTopKJoin(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 10, nPlanes = 8),
        k = 10).orderBy(col("query_id"))
    }),

    // rank-biased overlap (p=1/2, exact dyadic weights) between the
    // LSH retrieval's ranking and brute-force truth — the top-heavy
    // ranking-agreement read recall@k can't give
    "x_rbo" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
      Similarity.rbo(
        Similarity.bruteForceTopKJoin(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 10),
        Similarity.lshTopKJoin(e, "vec_id", "embedding",
          qs, "vec_id", "embedding", k = 10, nPlanes = 8),
        k = 10).orderBy(col("query_id"))
    }),

    // DSIR-style hashed-bigram importance weights: raw = all docs,
    // target = the src0 domain — the domain-matched data-selection
    // score, fully replayed (portable md5 bins, integer-count
    // probabilities, decimal-exact per-doc log-ratio sums)
    "x_dsir" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Sampling.dsirWeights(docs.select("doc_id", "text", "source"),
          col("doc_id"), col("text"),
          docs.filter(col("source") === "src0"), col("text"),
          n = 2, bins = 1024)
        .select("doc_id", "source", "weight")
        .orderBy(col("doc_id"))
    }),

    // corpus-overlap estimation from two KMV sketches (the
    // x_dedup_cross fixture corpora): one bounded-state agg per side,
    // NO join between the corpora; jaccard + distinct estimates from
    // sketch-sized array arithmetic — the sketch is VALUES, so the
    // oracle replays it as DISTINCT md5 ORDER BY LIMIT k
    "x_kmv" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val existing = docs.filter(col("doc_id") % 2 === 0).select("text")
      val incoming = docs.filter(col("doc_id") % 2 === 1).select("text")
        .unionByName(docs.filter(col("doc_id") % 10 === 0).select("text"))
      Profiling.kmvOverlap(existing, col("text"), incoming, col("text"), k = 64)
    }),

    // STREAMING overlap monitor, batch twin: the incoming side folded
    // into the standing KMV sketch over three micro-batches (k-min
    // union — idempotent, order-free), then the exact batch overlap
    // math against the corpus sketch — x_kmv's oracle verbatim
    "s_kmv" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_kmvstream").toString
      val docs = t(s, d, "documents")
      val existing = docs.filter(col("doc_id") % 2 === 0).select("text")
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text")))
      (0L to 2L).foreach { b =>
        graft.streaming.KmvStream.foldBatch(
          incoming.filter(pmod(col("doc_id"), lit(3L)) === b).select("text"),
          col("text"), k = 64, dir)
      }
      graft.streaming.KmvStream.overlapWithCorpus(s, dir,
        existing, col("text"), k = 64)
    }),

    // Misra-Gries heavy hitters in the deterministic exact regime:
    // k=512 >= the 500-key cardinality cap of (event_type x user
    // cohort), so no decrement ever fires, the summary IS the count
    // table, and err_bound is exactly 0 — HeavyHitterSpec pins the
    // adversarial-k guarantee the oracle can't express
    "x_heavy" -> ((s, d) =>
      Profiling.heavyHitters(events(s, d),
          concat(col("event_type"), lit("#"),
            pmod(col("user_id"), lit(100L)).cast("string")), k = 512)
        .orderBy(col("est").desc, col("item"))),

    // per-stratum Misra-Gries in the exact regime: one summary per
    // event type, user-cohort key bounded at 300 < k=512 per stratum
    // at ANY sf, so every stratum's summary is its exact count table
    "x_heavy_by" -> ((s, d) =>
      Profiling.heavyHittersBy(events(s, d), Seq("event_type"),
          pmod(col("user_id"), lit(300L)).cast("string"), k = 512)
        .orderBy(col("event_type"), col("est").desc, col("item"))),

    // STREAMING heavy hitters, batch-twin: the event log processed as
    // three micro-batches folded into the standing Misra-Gries
    // summary (fresh state dir per run); exact regime, so the
    // standing summary after the last batch IS the full count table —
    // same oracle as x_heavy
    "s_heavy" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_mgstream").toString
      val key = concat(col("event_type"), lit("#"),
        pmod(col("user_id"), lit(100L)).cast("string"))
      val ev = events(s, d)
      (0L to 2L).foreach { b =>
        graft.streaming.HeavyHitterStream.mergeBatch(
          ev.filter(pmod(col("event_id"), lit(3L)) === b), key, 512, dir, b)
      }
      graft.streaming.HeavyHitterStream.standingSummary(s, dir, 512)
        .orderBy(col("est").desc, col("item"))
    }),

    // hour-over-hour trending event types (rise vs own baseline, not
    // raw top-k): windowed counts + shifted self-join, smoothing 1
    "x_trending" -> ((s, d) =>
      EventAnalytics.trending(events(s, d), "1 hour")
        .orderBy(col("wstart"), col("event_type"))),

    // Mann-Kendall trend test per event type over the hourly count
    // series (bounded by the monitor contract): exact-integer S and
    // tie-corrected variance, single-op z
    "x_trend_mk" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      Profiling.mannKendall(hourly, col("event_type"), col("h"),
        col("n_events")).orderBy(col("key"))
    }),

    // Theil-Sen robust trend line over the same hourly series:
    // median-of-pair-slopes + median residual intercept, explicit
    // order-statistic convention
    "x_theil_sen" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      Profiling.theilSen(hourly, col("event_type"), col("h"),
        col("n_events")).orderBy(col("key"))
    }),

    // sample autocorrelation per event type over the hourly count
    // series, lags 1..6: seasonality/burst-clustering read beside the
    // trend tests — exact-integer numerator/denominator, one closing
    // IEEE division per (key, lag)
    "x_acf" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.acf(hourly, col("event_type"), col("h"),
        col("n_events"), maxLag = 6).orderBy(col("key"), col("lag"))
    }),

    // STREAMING ACF monitor, batch-twin: the event log folded as
    // three hour-aligned micro-batches into exact integer sufficient
    // statistics (n, S, Q, per-lag cross sums, first/last-L rings);
    // the final standing read is bit-identical to x_acf — same oracle
    // VERBATIM
    "s_acf" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_acfstream").toString
      val ev = events(s, d)
      val mm = ev.agg(min("ts"), max("ts")).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      def hourFloor(ms: Long) = (ms / 3600000L) * 3600000L
      val cut1 = new java.sql.Timestamp(hourFloor(t0 + (t1 - t0) / 3))
      val cut2 = new java.sql.Timestamp(hourFloor(t0 + 2 * (t1 - t0) / 3))
      val batches = Seq(
        ev.filter(col("ts") < lit(cut1)),
        ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2)),
        ev.filter(col("ts") >= lit(cut2)))
      batches.zipWithIndex.map { case (b, i) =>
        graft.streaming.AcfStream.foldBatch(b, dir, i.toLong,
          "1 hour", maxLag = 6)
      }.last.orderBy(col("key"), col("lag"))
    }),

    // Ljung-Box portmanteau over the same series: is the hourly
    // arrival pattern white noise? Fixed ascending-lag IEEE chain
    // over the six bit-replayable ACF values
    "x_ljung_box" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.ljungBox(hourly, col("event_type"), col("h"),
        col("n_events"), maxLag = 6).orderBy(col("key"))
    }),

    // PACF via Durbin-Levinson over the same series: the AR-order
    // read (which autoregressive depth does the series carry?);
    // recursion unrolled to named stages, every op single IEEE
    "x_pacf" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.pacf(hourly, col("event_type"), col("h"),
        col("n_events"), maxLag = 6).orderBy(col("key"), col("lag"))
    }),

    // Durbin-Watson residual autocorrelation per type: does the OLS
    // trend fit leave lag-1 structure behind? Exact-identity fit,
    // decimal(38,18) residual sums, one closing division
    "x_dw" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.durbinWatson(hourly, col("event_type"), col("h"),
        col("n_events")).orderBy(col("key"))
    }),

    // Wald-Wolfowitz runs test over the same series: do high hours
    // cluster into regimes? Above/below-mean by exact integer
    // compare, ties dropped, fixed IEEE z chain
    "x_runs_test" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.runsTest(hourly, col("event_type"), col("h"),
        col("n_events")).orderBy(col("key"))
    }),

    // Welch two-sample t on event value, cohorts = even/odd users:
    // the uncorrected cohort-mean read beside x_did/x_cuped — two
    // exact-decimal cells, fixed IEEE chain
    "x_welch" -> ((s, d) =>
      Profiling.welchT(events(s, d), col("user_id") % 2 === 0,
        col("value"))),

    // per-type OLS trend line with R² over the hourly series — the
    // parametric estimator beside x_theil_sen (variance-explained
    // number the robust line can't give); exact decimal moments, two
    // string-bridged closing divisions
    "x_ols" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.ols(hourly, col("event_type"), col("h"),
        col("n_events")).orderBy(col("key"))
    }),

    // STREAMING OLS trend monitor, batch-twin: state IS the
    // (key, hour) count table so the fold is plain addition — exact
    // under ANY split (arbitrary event_id%3 batches, hours straddling
    // batches, no time order); final standing read is bit-identical
    // to x_ols — same oracle VERBATIM
    "s_ols" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_olsstream").toString
      val ev = events(s, d)
      (0L to 2L).map { b =>
        graft.streaming.OlsStream.foldBatch(
          ev.filter(pmod(col("event_id"), lit(3L)) === b), dir, b)
      }.last.orderBy(col("key"))
    }),

    // cross-correlation lead-lag curve for two behavioral funnels
    // (view leads click? click leads purchase?) at lags -6..6: the
    // exact-integer two-series identity, one sqrt + divide per lag
    "x_ccf" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
          .cast("long").as("h"))
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("xv"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("yc"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("zp"))
      val vc = hourly.select(lit("view>click").as("pair"), col("h"),
        col("xv").as("x"), col("yc").as("y"))
      val cp = hourly.select(lit("click>purchase").as("pair"), col("h"),
        col("yc").as("x"), col("zp").as("y"))
      TimeSeries.ccf(vc.unionByName(cp), col("pair"), col("h"),
          col("x"), col("y"), maxLag = 6)
        .orderBy(col("key"), col("lag"))
    }),

    // dyadic SES one-step backtest per type: MASE vs the random-walk
    // naive — the forecastability scorecard; every term exact dyadic
    "x_backtest" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.sesBacktest(hourly, col("event_type"), col("h"),
        col("n_events")).orderBy(col("key"))
    }),

    // Gini concentration of characters across languages — the
    // corpus-composition audit number off the Lorenz curve
    "x_gini" -> ((s, d) =>
      Profiling.gini(t(s, d, "documents"), col("lang"), col("n_chars"))),

    // WordPiece merge training (BERT's learner): 3 rounds scored by
    // the likelihood gain c(ab)/(c(a)c(b)) — rare-but-cohesive pairs
    // beat merely-common ones; exact counts, one division per pair
    "x_wp_train" -> ((s, d) =>
      TextAnalysis.wordPieceTrain(t(s, d, "documents"), "text", merges = 3)
        .orderBy(col("rank"))),

    // Yule's characteristic K per language: the size-stable lexical-
    // concentration constant off the frequency-of-frequency spectrum
    // (template/boilerplate text reads high) — exact integers, one
    // string-bridged division
    "x_yule" -> ((s, d) =>
      TextAnalysis.yuleK(t(s, d, "documents"), col("lang"), "text")),

    // Simpson concentration + effective stratum count of characters
    // across languages: "how many languages is this corpus REALLY" —
    // exact integer sums, three single divisions
    "x_simpson" -> ((s, d) =>
      Profiling.simpson(t(s, d, "documents"), col("lang"),
        col("n_chars"))),

    // partial correlation: do token and TYPE counts correlate beyond
    // their shared size confound (n_chars)? Ten exact moments, three
    // Pearson identities, one fixed partial chain
    "x_partial_corr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = Dedup.tokens(col("text"))
      Profiling.partialCorr(
        docs.select(size(toks).as("x"),
          size(array_distinct(toks)).as("y"), col("n_chars").as("z")),
        col("x"), col("y"), col("z"))
    }),

    // autocorrelation-adjusted monitor mean per type: the honest
    // error bar on a correlated hourly series via the truncated-ACF
    // effective sample size
    "x_ess_mean" -> ((s, d) => {
      val hourly = events(s, d)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast("long").as("h"))
        .agg(count(lit(1)).as("n_events"))
      TimeSeries.essMean(hourly, col("event_type"), col("h"),
        col("n_events"), maxLag = 6).orderBy(col("key"))
    }),

    // Brown-Forsythe variance homogeneity: does doc-length VARIANCE
    // differ by language? The ANOVA-prerequisite check (significant
    // F here = compare medians/ranks, not means)
    "x_brown_forsythe" -> ((s, d) =>
      Profiling.brownForsythe(t(s, d, "documents"), "lang",
        col("n_chars"))),

    // Cochran's Q over three paired document filters: do the filters
    // differ in pass rate beyond chance? Exact integer Q, one
    // string-bridged division
    "x_cochran_q" -> ((s, d) =>
      Profiling.cochranQ(t(s, d, "documents"), Seq(
        col("n_chars") > 200L,
        lower(col("text")).contains("the"),
        col("n_chars") < 2000L))),

    // empirical-Bayes shrunken purchase propensity per user cohort:
    // the corpus-fit Beta prior pulls thin-evidence cohorts toward
    // the mean — the leaderboard-safe rate ranking
    "x_eb_shrink" -> ((s, d) =>
      Profiling.ebShrink(events(s, d),
        pmod(col("user_id"), lit(100L)).cast("string"),
        col("event_type") === "purchase")),

    // DP count release (geometric mechanism, eps = ln 2, seeded):
    // per-language doc counts + exact integer inverse-CDF noise —
    // the release leg beside the k-anonymity/l-diversity audits
    "x_dp_release" -> ((s, d) =>
      Profiling.dpCounts(t(s, d, "documents"), col("lang"), salt = "r17")),

    // leakage-safe split: keyed by SOURCE, so every doc of a domain
    // lands in one split — group-level contamination can't leak
    // train->test as the corpus grows (same md5-range rule as
    // x_splits, different key grain)
    "x_splits_grouped" -> ((s, d) =>
      Sampling.splitAssign(t(s, d, "documents"), col("source"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "source", "split")
        .orderBy(col("doc_id"))),

    // leakage-safe DEDUP split: the split key is the near-dup CLUSTER
    // id (own id when unclustered), so a train doc's 0.9-jaccard copy
    // can never land in val/test — the contamination mode a per-doc
    // key silently allows; oracle replays the jaccard closure + the
    // same md5 range split on the cluster key
    "x_split_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.2)
      val clusters = Dedup.dedupClusters(pairs.select("a", "b"))
      Sampling.splitByCluster(docs, "doc_id", clusters,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "cluster_key", "split")
        .orderBy(col("doc_id"))
    }),

    // ---- fuzzy matching -------------------------------------------------
    // entity resolution over the customer registry: all name pairs
    // within levenshtein distance 1 (the single-digit-substitution
    // neighbors), found via SymSpell symmetric-deletion blocking —
    // the oracle regenerates the variant blocks and replays the exact
    // distance filter
    "x_fuzzy_join" -> ((s, d) =>
      FuzzyJoin.editDistanceSelfJoin(t(s, d, "customer"), "c_custkey", "c_name",
        maxDist = 1)
        .select(col("a"), col("b"), col("dist"))
        .orderBy(col("a"), col("b"))),

    // sorted-neighborhood blocking (merge/purge windowing): the
    // shared-prefix complement to SymSpell deletion blocking — one
    // distributed rowid sort, (w-1)-way offset explode, one rowid
    // equi-join; the oracle replays ordering, window, and distances
    "x_fuzzy_sn" -> ((s, d) =>
      FuzzyJoin.sortedNeighborhoodPairs(t(s, d, "customer"),
          "c_custkey", "c_name", window = 4, maxDist = 2)
        .select(col("a"), col("b"), col("dist"))
        .orderBy(col("a"), col("b"))),

    // Fellegi-Sunter probabilistic linkage over the sort-window
    // candidate pairs: EM learns per-field m/u weights + match prior
    // from the 2^3 agreement-pattern counts (name-close / same-nation
    // / same-segment), 20 driver-unrolled iterations; the oracle
    // GENERATES the identical IEEE chain (the pacf twin discipline)
    "x_fellegi" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val pairs = FuzzyJoin.sortedNeighborhoodPairs(cust, "c_custkey",
        "c_name", window = 4, maxDist = 100)
      val ca = cust.select(col("c_custkey").as("a"),
        col("c_nationkey").as("__na"), col("c_mktsegment").as("__sa2"))
      val cb = cust.select(col("c_custkey").as("b"),
        col("c_nationkey").as("__nb"), col("c_mktsegment").as("__sb2"))
      val att = pairs.join(ca, "a").join(cb, "b")
      RecordLinkage.fellegiSunter(att, Seq(
        "name_close" -> (col("dist") <= 1),
        "same_nation" -> (col("__na") === col("__nb")),
        "same_segment" -> (col("__sa2") === col("__sb2"))), iters = 20)
    }),

    // multi-pass merge/purge: deletion blocking ∪ sort-window pairs —
    // the production recall recipe (each pass misses what the other
    // catches); oracle replays both passes and the distinct union
    "x_fuzzy_mp" -> ((s, d) =>
      FuzzyJoin.mergePurgePairs(t(s, d, "customer"), "c_custkey", "c_name",
          window = 4, maxDist = 1)
        .orderBy(col("a"), col("b"))),

    // dictionary-correction form: probes are customer names with one
    // deterministically-deleted character (position c_custkey % 18),
    // matched back to the registry within distance 1 — every probe
    // recovers its source plus any other name one edit away
    "x_fuzzy_lookup" -> ((s, d) => {
      val c = t(s, d, "customer")
      val p = (pmod(col("c_custkey"), lit(18)) + 1).cast("int")
      val probes = c.select(
        (col("c_custkey") + lit(1000000000L)).as("probe_id"),
        concat(col("c_name").substr(lit(1), p - 1),
          col("c_name").substr(p + 1, length(col("c_name")))).as("probe_s"))
      FuzzyJoin.editDistanceJoin(probes, "probe_id", "probe_s",
          c, "c_custkey", "c_name", maxDist = 1)
        .select(col("left_id").as("probe_id"), col("right_id").as("c_custkey"),
          col("dist"))
        .orderBy(col("probe_id"), col("c_custkey"))
    }),

    // end-to-end entity resolution: fuzzy pairs -> transitive closure
    // into entities -> canonical record per entity by (length, lowest
    // id) preference; the oracle replays blocking, exact distances,
    // the recursive closure, and the canonical argmax
    "x_entity_res" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("s"))
      FuzzyJoin.resolveEntities(c, "id", "s", maxDist = 1,
          pref = length(col("s")))
        .orderBy(col("id"))
    }),

    // merge/purge ER end-to-end: the pluggable-blocking form fed the
    // union-of-passes pair frame; closure + canonical election as in
    // x_entity_res, fully replayed including the second blocking pass
    "x_entity_res_mp" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("s"))
      FuzzyJoin.resolveEntitiesFromPairs(c, "id", "s",
          FuzzyJoin.mergePurgePairs(c, "id", "s", window = 4, maxDist = 1),
          pref = length(col("s")))
        .orderBy(col("id"))
    }),

    // blocking-quality audit: the deletion pass's candidates scored
    // against the union-of-passes reference — pair completeness says
    // what the single pass reaches, reduction ratio what it never
    // had to score out of all n(n-1)/2
    "x_blocking" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("s"))
      FuzzyJoin.blockingQuality(c, "id",
        FuzzyJoin.editDistanceSelfJoin(c, "id", "s", maxDist = 1)
          .select(col("a"), col("b")),
        FuzzyJoin.mergePurgePairs(c, "id", "s", window = 4, maxDist = 1)
          .select(col("a"), col("b")))
    }),

    // ---- text analysis --------------------------------------------------
    "x_langid" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("pred_lang", TextAnalysis.langId(col("text")))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))),

    "x_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(t(s, d, "documents"), "text")
        .select("doc_id", "n_words", "mean_word_len", "punct_ratio",
          "digit_ratio", "alpha_ratio", "stop_ratio", "quality")
        .orderBy(col("doc_id"))),

    // chat/SFT rendering: document lines become alternating
    // user/assistant turns; per-conversation role-tagged assembly,
    // first-6-turns truncation, digested for compactness
    "x_chat_render" -> ((s, d) => {
      val turns = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), "\n")))
        .select(col("doc_id"), col("pos").as("turn_idx"),
          when(col("pos") % 2 === 0, "user").otherwise("assistant").as("role"),
          col("col").as("content"))
      TextAnalysis.renderChat(turns, "doc_id", "turn_idx", "role", "content",
          maxTurns = 6)
        .select(col("doc_id"), col("n_turns"), col("kept_turns"),
          md5(col("rendered")).as("digest"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Flesch Reading Ease next to the Gopher rules: regexp/HOF
    // projections only, fixed-order IEEE formula, NULL on no-word docs
    "x_readability" -> ((s, d) =>
      TextAnalysis.readability(t(s, d, "documents"), "text")
        .select("doc_id", "n_words", "n_sentences", "n_syllables", "fre")
        .orderBy(col("doc_id"))),

    // the quality router's frame-shaped verdict twin (the streaming
    // file-sink path is spec-only): accept iff score >= threshold and
    // comparable; every 97th doc's score nulled to pin NaN/null routing
    "s_route" -> ((s, d) => {
      val scored = TextAnalysis.qualityScore(t(s, d, "documents"), "text")
        .withColumn("q", when(col("doc_id") % 97 === 0,
          lit(null).cast("double")).otherwise(col("quality")))
      graft.streaming.EventStreams.routeVerdict(scored, col("q"),
          threshold = 0.5)
        .select("doc_id", "q", "verdict")
        .orderBy(col("doc_id"))
    }),

    "x_tokens" -> ((s, d) =>
      TextAnalysis.tokenCounts(t(s, d, "documents"), "text")
        .select("doc_id", "ws_tokens", "bpe_ish_tokens", "approx_tokens")
        .orderBy(col("doc_id"))),

    // tokenizer fertility per language: subword-ish tokens per word +
    // chars per token — exact integer sums, two single divisions
    "x_fertility" -> ((s, d) =>
      TextAnalysis.tokenizerFertility(t(s, d, "documents"), "lang", "text")
        .orderBy(col("lang"))),

    // vocabulary shift between eras (even vs odd doc_ids standing in
    // for two snapshots): per-term rate deltas, top-25 by |shift|
    "x_vocab_shift" -> ((s, d) =>
      TextAnalysis.vocabShift(t(s, d, "documents"), "text",
        col("doc_id") % 2 === 1, k = 25, minCount = 10L)
        .orderBy(abs(col("shift")).desc, col("term"))),

    // markup strip over a synthetic HTML wrapping (script/style
    // blocks, tags, entities) — the same RE2 passes replay in SQL
    "x_strip" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.stripMarkup(concat(
          lit("<html><head><style>p{margin:0}</style></head><body><h1>T"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit("</h1><p class=\"x\">"), col("text"),
          lit("</p><script>var a=1;</script>&amp; more &lt;tail&gt;&nbsp;end</body></html>")))
          .as("clean"))
        .orderBy(col("doc_id"))),

    // crawl-text normalization over an in-plan dirtied corpus (curly
    // quotes, dashes, ellipsis, BEL, nbsp/ideographic space, tab runs,
    // 4x newlines): pure regex/translate projection, oracle replays
    // char for char
    "x_normalize" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.normalizeText(concat(
          lit("\u2018q\u2019 \u201Cw\u201D \u2013 \u2014 \u2026" +
            "\u0007\u00A0\u3000  x\t\ty \n\n\n\n z   tail "),
          col("text"))).as("norm"))
        .withColumn("n_norm", length(col("norm")).cast("long"))
        .orderBy(col("doc_id"))),

    // content-defined chunking sub-duplication: boundaries from the
    // content (md5 hex-prefix rate rule), chunking is one projection,
    // the chunk-grain dedup reuses the df==1/min(id) identity — one
    // full-scale shuffle, map-side combine absorbs hot boilerplate
    "x_cdc" -> ((s, d) =>
      Dedup.cdcDuplication(t(s, d, "documents"), "doc_id", "text",
          w = 16, boundaryHex = "03")
        .orderBy(col("doc_id"))),

    // cross-doc PREFIX/SUFFIX overlap dedup over the CDC chunk table:
    // every doc wrapped in per-source crawl-shard boilerplate (the
    // exact corpus shape the operator exists for — common exported
    // heads/tails), then the cumulative chunk-path neighbor join;
    // the oracle replays it as a QUADRATIC all-pairs chunk-grain LCP
    "x_affix_dedup" -> ((s, d) => {
      val wrapped = t(s, d, "documents").select(col("doc_id"),
        concat(
          lit("crawl-shard standard header :: source="), col("source"),
          lit(" :: every page in this shard carries this exact " +
            "boilerplate preamble, inserted by the export pipeline " +
            "before the document body; tokenizer and decontamination " +
            "passes must not count it :: "),
          col("text"),
          lit(" :: standard shard footer: this page was exported by " +
            "the crawl pipeline; copyright shard "), col("source"),
          lit("; the exact same trailing boilerplate is appended to " +
            "every page in the shard, all rights reserved :: end"))
          .as("text"))
      Dedup.affixDedup(wrapped, "doc_id", "text", minShared = 48L)
        .orderBy(col("kind"), col("doc_id"))
    }),

    // the remediation half: shared boilerplate heads/tails CUT from
    // every non-representative doc (chunk-grain floor), boilerplate
    // survives once per group on the representative
    "x_affix_strip" -> ((s, d) => {
      val wrapped = t(s, d, "documents").select(col("doc_id"),
        concat(
          lit("crawl-shard standard header :: source="), col("source"),
          lit(" :: every page in this shard carries this exact " +
            "boilerplate preamble, inserted by the export pipeline " +
            "before the document body; tokenizer and decontamination " +
            "passes must not count it :: "),
          col("text"),
          lit(" :: standard shard footer: this page was exported by " +
            "the crawl pipeline; copyright shard "), col("source"),
          lit("; the exact same trailing boilerplate is appended to " +
            "every page in the shard, all rights reserved :: end"))
          .as("text"))
      Dedup.affixStrip(wrapped, "doc_id", "text", minShared = 48L)
        .orderBy(col("doc_id"))
    }),

    "x_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(t(s, d, "documents"), "text", k = 8, w = 4)
        .select("doc_id", "n_fingerprints", "doc_fingerprint")
        .orderBy(col("doc_id"))),

    // token-bounded chunking with 8-token overlap (32-token chunks so
    // the ~55-token test docs genuinely multi-chunk): pure projection
    // + bounded explode, no shuffle — chunk grid fully oracle-replayed
    "x_chunking" -> ((s, d) =>
      TextAnalysis.chunkDocuments(t(s, d, "documents"), "doc_id", "text",
          chunkTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // GPT-style sequence packing: documents laid end-to-end under the
    // doc_id order, cut into 512-token training sequences — the pack
    // span is arithmetic over the distributed prefix-scan offset
    "x_packing" -> ((s, d) => {
      val toks = TextAnalysis.tokenCounts(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("ws_tokens").as("n_tok"))
      Packing.sequencePacking(toks, col("n_tok"), Seq(col("doc_id").asc), seqLen = 512)
        .select("doc_id", "n_tok", "tok_start", "pack_first", "pack_last", "n_packs")
        .orderBy(col("doc_id"))
    }),

    // engine-portable winnowing (md5 hex hashes) — same selection
    // semantics as x_fingerprint but hash-comparable against DuckDB
    "x_fingerprint_md5" -> ((s, d) =>
      TextAnalysis.fingerprintPortable(t(s, d, "documents"), "doc_id", "text",
        k = 8, w = 4)
        .orderBy(col("doc_id"))),

    // ---- scrubbing / domains / paragraph dedup --------------------------
    "x_scrub" -> ((s, d) =>
      TextAnalysis.scrub(piiDocs(s, d), "text")
        .select("doc_id", "n_urls", "n_emails", "n_ips", "n_phones", "clean_text")
        .orderBy(col("doc_id"))),

    // encoding/mojibake audit: a deterministic share of docs gets a
    // GENUINELY double-encoded suffix (UTF-8 bytes mis-decoded as
    // cp1252 at compile time — printable, so the oracle replays the
    // identical literal) or replacement chars; the audit's RE2 rules
    // count artifacts and flag suspects. The oracle replays the
    // construction, the counts, the rates, and the flag in SQL.
    "x_mojibake" -> ((s, d) => {
      val raw = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" " + mojiFixture))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" bad �� bytes"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.mojibakeAudit(raw, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // the remediation twin END TO END: the %3 rows' double-encoded
    // suffix must come back as the CLEAN original; rows that also
    // carry U+FFFD (%15) abort whole-string (unrecoverable chars) and
    // pass through unchanged — the oracle states the expected TEXT
    // directly for every branch, so the recovery itself is
    // hash-compared, not just replayed
    "x_fix_mojibake" -> ((s, d) => {
      val raw = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" " + mojiFixture))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" bad �� bytes"))
            .otherwise(lit(""))).as("text"))
      raw.select(col("doc_id"),
          TextAnalysis.fixMojibake(col("text")).as("fixed_text"))
        .orderBy(col("doc_id"))
    }),

    "x_domains" -> ((s, d) =>
      TextAnalysis.topDomains(piiDocs(s, d), "text", k = 20)),

    // URL canonicalization for crawl-dedup keying: messy synthetic
    // URLs (case, www, default port, tracking params, trailing slash,
    // fragment) collapse onto canonical keys; exact dedup counts per
    // key; the oracle replays construction + normalization in SQL
    "x_url_canon" -> ((s, d) => {
      val raw = t(s, d, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.Site"))
            .otherwise(lit("https://site")),
          (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 2 === 0, lit(".COM:443")).otherwise(lit(".com")),
          lit("/path"), (col("doc_id") % 5).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=x&id="), (col("doc_id") % 11).cast("string"),
          when(col("doc_id") % 4 === 0, lit("&fbclid=zzz")).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
      raw.withColumn("curl", TextAnalysis.canonicalUrl(col("url")))
        .groupBy("curl")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("curl"))
    }),

    "x_par_dedup" -> ((s, d) =>
      TextAnalysis.paragraphDedup(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // maximal corpus-duplicated 20-gram spans per doc (the char-grain
    // suffix-array dedup signal): positional md5 k-grams -> one
    // multiplicity groupBy -> semi-join coverage -> per-doc interval
    // union; the oracle replays grams, counts, and islands exactly
    "x_dup_spans" -> ((s, d) =>
      TextAnalysis.dupSpanStats(t(s, d, "documents"), "doc_id", "text", k = 20)
        .orderBy(col("doc_id"))),

    // ---- range join ------------------------------------------------------
    // pure range predicate (no equi-key): every sampled order against
    // every lineitem shipped inside its first fortnight
    "x_range_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
      val iv = t(s, d, "orders")
        .filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 14 DAYS")).as("o_end"))
      RangeJoin.pointInIntervalTs(li, "l_shipdate", iv,
          "o_orderdate", "o_end", binDays = 16)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_shipped"),
          sum(col("l_quantity").cast("decimal(28,6)")).cast("double").as("sum_qty"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- multimodal (REAL byte-level P6 decode — see Multimodal.scala) --
    // synthetic 8x6 P6 images (pixels = md5-hex ASCII of the text, so
    // the oracle recomputes the channel means in pure SQL), parsed by
    // the real decodePpm byte parser
    "x_multimodal" -> ((s, d) => {
      val media = Multimodal.syntheticPpm(t(s, d, "documents"), "doc_id", "text",
        w = 8, h = 6)
      Multimodal.decodePpm(media).toDF().orderBy(col("media_id"))
    }),

    // nearest-neighbor resize through the real byte transform: 8x6 →
    // 4x3 (every-other-pixel sampling), then the real decoder; the
    // oracle replays the resampled channel means by string indexing
    "x_resize" -> ((s, d) => {
      val media = Multimodal.syntheticPpm(t(s, d, "documents"), "doc_id", "text",
        w = 8, h = 6)
      Multimodal.decodePpm(Multimodal.resizePpm(media, dstW = 4, dstH = 3))
        .toDF().orderBy(col("media_id"))
    }),

    "x_frames" -> ((s, d) => {
      val media = Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text", "text/plain")
      Multimodal.sampleFrames(media, frameBytes = 32, stride = 4)
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // perceptual image hash (dHash) over the REAL P6 decoder: 9x8
    // single-pixel blocks here, so the oracle replays every gradient
    // bit from the md5-derived pixel bytes; emitted as 4x16-bit
    // chunks (the same keys the hamming pair join buckets on)
    "x_dhash" -> ((s, d) => {
      val media = Multimodal.syntheticPpm(t(s, d, "documents"), "doc_id", "text",
        w = 9, h = 8)
      def chunk(c: Int) = call_function("shiftright", col("dhash"), lit(c * 16))
        .bitwiseAND(lit(0xFFFFL)).cast("int").as(s"c$c")
      Multimodal.dHashPpm(media).toDF()
        .select(col("media_id"), col("ok"), chunk(0), chunk(1), chunk(2), chunk(3))
        .orderBy(col("media_id"))
    }),

    // image near-dedup end to end: base corpus + a 10% "re-encode"
    // batch whose first pixel is overwritten (payload byte surgery on
    // the raster — at most the (0,0)->(1,0) gradient bit flips), dHash
    // signatures, then the capped 4x16-bit pigeonhole hamming join;
    // the oracle rebuilds both pixel sets and replays bucket keys,
    // pairing, and bit_count distances exactly
    "x_image_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = Multimodal.syntheticPpm(docs, "doc_id", "text", w = 9, h = 8)
      val dup = Multimodal.syntheticPpm(
          docs.filter(col("doc_id") % 10 === 0)
            .withColumn("doc_id", col("doc_id") + lit(1000000000L)),
          "doc_id", "text", w = 9, h = 8)
        // header "P6\n9 8\n255\n" = 11 bytes; overwrite raster[0..2]
        .withColumn("payload", concat(
          substring(col("payload"), 1, 11), encode(lit("000"), "UTF-8"),
          substring(col("payload"), 15, 1000)))
      val sigs = Multimodal.dHashPpm(base.unionByName(dup)).toDF()
        .filter(col("ok"))
      Dedup.hammingNearDupSigs(sigs, "media_id", "dhash", maxDist = 3)
        .orderBy(col("a"), col("b"))
    }),

    // aspect-ratio bucketed batching over the REAL P6 decoder: three
    // synthetic dim groups, cross-multiplied exact fraction buckets
    // (never a float ratio), one-sort shuffle-and-cut — the image twin
    // of x_lgbatch
    "x_ar_batch" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def grp(m: Long, w: Int, h: Int) = Multimodal.syntheticPpm(
        docs.filter(col("doc_id") % 3 === m), "doc_id", "text", w, h)
      val media = grp(0L, 8, 6).unionByName(grp(1L, 6, 6))
        .unionByName(grp(2L, 6, 8))
      val dims = Multimodal.decodePpm(media).toDF().filter(col("ok"))
        .select(col("media_id"), col("width"), col("height"))
      Packing.aspectRatioBatches(dims, col("width"), col("height"),
          col("media_id"), batchSize = 16,
          ratioEdges = Seq((9L, 10L), (11L, 10L)), seed = 7L)
        .select("media_id", "width", "height", "bucket", "batch_id",
          "batch_pos")
        .orderBy(col("media_id"))
    }),

    // symmetric int8 quantization of the embedding corpus (the 4x
    // storage lever): per-vector scale + codes, floor(x+0.5) rounding
    // so the grid is bit-reproducible by the oracle
    "x_quantize" -> ((s, d) => {
      val q = Similarity.quantizeInt8(col("embedding"), col("scale"))
      t(s, d, "embeddings")
        .withColumn("scale", Similarity.quantScale(col("embedding")))
        .select(col("vec_id"), col("scale"),
          concat_ws(",", q.cast("array<string>")).as("codes"),
          aggregate(q, lit(0L), (a, c) => a + c).as("q_sum"))
        .orderBy(col("vec_id"))
    }),

    // per-label embedding centroids in ONE partial aggregate (no
    // posexplode — the shuffle carries fixed-size buffers, not
    // dims x rows); fixed-point Long sums make the mean bit-identical
    // under any partitioning and exactly replayable by the oracle
    // semantic decontamination: corpus vectors within 0.999 cosine of
    // a benchmark vector (vec_id < 5 as the held-out set) — catches
    // the paraphrase leak the 13-gram test misses; broadcast bench,
    // one corpus scan, per-row argmax (no shuffle, no window)
    "x_contam_sem" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Contamination.decontaminateSemantic(
          e.filter(col("vec_id") >= 5), "vec_id", "embedding",
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          threshold = 0.999)
        .withColumn("best_cos", round(col("best_cos"), 4))
        .orderBy(col("vec_id"))
    }),

    // per-label embedding outliers: distance to the own stratum's
    // fixed-point centroid, top-5% most distant flagged by integer
    // rank rule — the drop list before NN training
    "x_emb_outlier" -> ((s, d) =>
      Similarity.embeddingOutliers(t(s, d, "embeddings"),
          Seq("label"), "vec_id", col("embedding"), dims = 64,
          outlierFrac = 0.05)
        .orderBy(col("label"), col("vec_id"))),

    "x_centroids" -> ((s, d) =>
      Similarity.centroidsByKey(t(s, d, "embeddings"), Seq(col("label")),
          col("embedding"), dims = 64)
        .select(col("label"), col("n"),
          posexplode(col("centroid")).as(Seq("dim", "centroid_val")))
        .orderBy(col("label"), col("dim"))),

    // top principal direction of the embedding cloud by power
    // iteration (2 rounds, v0 = e0) — every iterate accumulates on
    // the floor(t*2^30+0.5) Long grid, so the oracle's SQL unrolling
    // reproduces the eigenvector bit for bit
    "x_pca" -> ((s, d) =>
      Similarity.topPrincipalDirection(t(s, d, "embeddings"), "embedding",
          dims = 64, iters = 2)
        .orderBy(col("dim"))),

    // JL signed random projection 64->16: md5-seeded Rademacher
    // matrix (disjoint "jl" chain), floor-grid inputs, exact Long
    // component sums, divisions by 2^30 and sqrt(16)=4 both exact —
    // projected components are bit-exact, no rounding
    "x_jl" -> ((s, d) =>
      Similarity.jlProject(t(s, d, "embeddings").select("vec_id", "embedding"),
          "embedding", outDims = 16)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "comp")))
        .orderBy(col("vec_id"), col("dim"))),

    // the JL distortion read: recall@10 of retrieval in the 16-dim
    // projected space against full-width ground truth — the
    // compression-vs-recall tuning curve a 100 TB ANN pre-filter
    // lives on
    "x_jl_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val p = Similarity.jlProject(e, "embedding", outDims = 16)
      Similarity.recallAtK(
        Similarity.bruteForceTopKJoin(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10),
        Similarity.bruteForceTopKJoin(p, "vec_id", "embedding",
          p.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10))
        .orderBy(col("query_id"))
    }),

    // MMR diversified re-ranking of a brute-force top-20: greedy
    // λ·rel − (1−λ)·max-sim-to-selected over bounded candidate lists
    "x_mmr" -> ((s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val cands = Similarity.bruteForceTopKJoin(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 20)
        // 4 digits: raw cosine sums differ by ~dim·ulp across engines
        // (the x_ann_brute precedent); the greedy consumes rounded rel
        .withColumn("cos", round(col("cos"), 4))
        .join(e.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      Similarity.mmrRerank(cands, "query_id", "neighbor_id", "cos",
          "embedding", k = 5, lambda = 0.7)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Matryoshka truncation recall: first-16-dims retrieval vs the
    // full 64-dim truth — the zero-compute storage lever next to JL
    // (projection) and PQ (codebooks)
    "x_mrl_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val tr = Similarity.truncateDims(e, "embedding", dims = 16)
      Similarity.recallAtK(
        Similarity.bruteForceTopKJoin(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10),
        Similarity.bruteForceTopKJoin(tr, "vec_id", "embedding",
          tr.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10))
        .orderBy(col("query_id"))
    }),

    // all-but-the-top whitened retrieval: subtract the x_pca top
    // component (bit-exact literals + floor-grid projection), then
    // the standard brute-force top-k — the oracle re-derives the
    // eigenvector, whitens, and replays the retrieval end to end
    "x_abtt" -> ((s, d) => {
      val e = t(s, d, "embeddings").select("vec_id", "embedding")
      val white = Similarity.removeTopComponent(e, "embedding", dims = 64, iters = 2)
      Similarity.bruteForceTopKJoin(white, "vec_id", "embedding",
        white.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10)
        .withColumn("cos", round(col("cos"), 4))
        .orderBy(col("query_id"), col("rank"))
    }),

    // per-label centroid drift between the even(old)/odd(new) snapshot
    // halves: fixed-point centroids per side, null-safe join, and
    // fixed-point (floor grid) element sums for the L2 shift and
    // centroid cosine — the rebuild-the-index-yet monitor,
    // engine-exact with no rounding
    "x_drift" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.centroidDrift(
          e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
          Seq("label"), col("embedding"), dims = 64)
        .orderBy(col("label"))
    }),

    // per-label coherence: mean cosine to the fixed-point centroid,
    // decimal-accumulated so the mean is order-invariant
    "x_coherence" -> ((s, d) =>
      Similarity.strataCoherence(t(s, d, "embeddings"), Seq("label"),
          col("embedding"), dims = 64)
        .orderBy(col("label"))),

    // one Lloyd k-means iteration: deterministic seeds (k lowest ids),
    // broadcast nearest-centroid argmin (ties to lowest cid), then the
    // fixed-point centroid recompute — every stage replayable in SQL
    "x_kmeans" -> ((s, d) =>
      Similarity.kmeansStep(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, dims = 64)
        .select(col("cid"), col("n"),
          posexplode(col("centroid")).as(Seq("dim", "centroid_val")))
        .orderBy(col("cid"), col("dim"))),

    // two full Lloyd iterations: iteration-1 centroids round-trip the
    // driver as pure IEEE doubles and re-broadcast for iteration 2, so
    // the result is bit-identical to the oracle's all-in-SQL unrolling
    "x_kmeans_lloyd" -> ((s, d) =>
      Similarity.kmeansLloyd(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, dims = 64, iters = 2)
        .select(col("cid"), col("n"),
          posexplode(col("centroid")).as(Seq("dim", "centroid_val")))
        .orderBy(col("cid"), col("dim"))),

    // farthest-first k-center traversal (Gonzalez): 4 spread-out
    // seeds + the covering radius — each pick a TakeOrdered(1) on
    // per-row-exact l2 distances, centers round-trip the driver raw
    "x_kcenter" -> ((s, d) =>
      Similarity.farthestFirst(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 4)
        .orderBy(col("cid"))),

    // logistic-regression quality classifier, fastText-style: 24
    // full-batch GD iterations (one fixed-point gradient agg scan
    // each, weights on the driver), 513-literal table sigmoid — the
    // GPT-3/CCNet/DCLM quality-filter shape, fully oracle-replayed.
    // The training label distills a Gopher-style min-word-count rule
    // (>= 54 words) into the cheap linear model — the teacher-rule →
    // fast-student distillation real pipelines run; the learned
    // model recovers the rule at ~98% agreement (see x_lr_score)
    "x_lr_quality" -> ((s, d) =>
      Classifier.logisticWeights(lrDocs(s, d), "fx", "y",
          dims = 4, iters = 24, lr = 4.0)
        .orderBy(col("dim"))),

    // score + threshold the corpus with the trained model: a pure
    // projection with the weights inlined as literals — the actual
    // 100 TB filter pass
    "x_lr_score" -> ((s, d) => {
      val docs = lrDocs(s, d)
      val (w, b) = Classifier.logisticTrainGD(docs, "fx", "y",
        dims = 4, iters = 24, lr = 4.0)
      Classifier.logisticScore(docs, "fx", w, b)
        .select(col("doc_id"), col("prob"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // exact Mann-Whitney ROC AUC of a length score vs the stopword
    // teacher label: avg ranks via the distributed rowid sort (no
    // global window), ONE aggregate for the U statistic
    "x_auc" -> ((s, d) =>
      Classifier.rocAuc(t(s, d, "documents"),
        col("n_chars").cast("double"), col("text").contains(" the "))),

    // group-fairness audit of the n_chars >= 300 rule per language:
    // per-stratum TPR/FPR/selection + gaps vs the pooled rates —
    // equalized odds and demographic parity in one table
    "x_fairness" -> ((s, d) =>
      Classifier.groupFairness(t(s, d, "documents"), "lang",
          col("n_chars").cast("double"), col("text").contains(" the "),
          threshold = 300.0)
        .orderBy(col("stratum"))),

    // split-conformal keep-threshold on the even/odd doc split: the
    // ceil((n+1)(1-alpha)) calibration order statistic + held-out
    // empirical coverage (alpha = 0.1)
    "x_conformal" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Classifier.conformalThreshold(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        col("n_chars").cast("double"), alpha = 0.1)
    }),

    // group-conditional conformal coverage: the pooled qhat audited
    // per language — the strata where the marginal guarantee hides
    // under- or over-coverage
    "x_conformal_by" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Classifier.conformalCoverageBy(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang",
          col("n_chars").cast("double"), alpha = 0.1)
        .orderBy(col("stratum"))
    }),

    // per-language Youden cutoffs: the remediation the x_fairness
    // gaps point at — ship one global threshold or per-stratum ones,
    // decided from a table
    "x_youden_by" -> ((s, d) =>
      Classifier.youdenThresholdBy(t(s, d, "documents"), "lang",
          col("n_chars").cast("double"), col("text").contains(" the "))
        .orderBy(col("stratum"))),

    // Mondrian conformal: per-language thresholds (the remediation
    // the x_conformal_by audit asks for) — every stratum gets its own
    // order statistic and its held-out coverage
    "x_conformal_mondrian" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Classifier.conformalThresholdBy(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang",
          col("n_chars").cast("double"), alpha = 0.1)
        .orderBy(col("stratum"))
    }),

    // isotonic fit/apply gain: the monotone map fitted on even docs,
    // applied to odd — per-bin before/after gaps, NULL on uncovered
    "x_isotonic_fit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Classifier.isotonicGain(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)),
          col("text").contains(" the "), k = 10)
        .orderBy(col("bin"))
    }),

    // Youden-J optimal cutoff for the same score/teacher pair: the
    // threshold-PICKING read beside x_auc's threshold-free ranking —
    // distinct-score class counts, DESC prefix-scan TP/FP, 1-row argmax
    "x_youden" -> ((s, d) =>
      Classifier.youdenThreshold(t(s, d, "documents"),
        col("n_chars").cast("double"), col("text").contains(" the "))),

    // calibration reliability bins of a clamped length-probability vs
    // the same teacher: bin id is a projection, ONE partial-agg scan
    "x_calib" -> ((s, d) =>
      Classifier.calibrationBins(t(s, d, "documents"),
          least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)),
          col("text").contains(" the "), k = 10)
        .orderBy(col("bin"))),

    // average precision (PR-AUC, step-function reading) of the length
    // score vs the same teacher: (score DESC, doc_id) total order via
    // ONE fused prefix scan, positives-only grid mean
    "x_auprc" -> ((s, d) =>
      Classifier.averagePrecision(t(s, d, "documents"),
        col("n_chars").cast("double"), col("text").contains(" the "),
        col("doc_id"))),

    // isotonic (PAV) calibration over the same score/teacher pair:
    // the monotone upgrade of histogram binning via the minimax
    // identity — one fact scan to 10 levels, then k^3-bounded
    // min/max joins on the level table, no grids needed
    "x_isotonic" -> ((s, d) =>
      Classifier.isotonicCalibration(t(s, d, "documents"),
          least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)),
          col("text").contains(" the "), k = 10)
        .orderBy(col("bin"))),

    // expected calibration error over the x_calib bins: weighted
    // |pos_rate - mean_p| on the fixed-point grid, plus the max gap
    "x_ece" -> ((s, d) =>
      Classifier.expectedCalibrationError(t(s, d, "documents"),
        least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)),
        col("text").contains(" the "), k = 10)),

    // histogram-binning calibration — the REMEDIATION half of the ECE
    // audit: per-bin positive rates fit on even doc_ids, applied to
    // odd doc_ids; gap_after vs gap_before is the held-out win
    "x_calib_fit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Classifier.histogramCalibration(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)),
        col("text").contains(" the "), k = 10)
        .orderBy(col("bin"))
    }),

    // McNemar's paired test between two filter rules (n_chars >= 300
    // vs word-count >= 60) against the stopword teacher: decision-
    // level "which filter wins" on the same corpus
    "x_mcnemar" -> ((s, d) =>
      Classifier.mcnemarTest(t(s, d, "documents"),
        col("n_chars") >= 300L,
        (size(split(trim(col("text")), "\\s+")) >= 60),
        col("text").contains(" the "))),

    // the one-row headline: held-out ECE before vs after serving the
    // fitted rates, uncovered mass counted out loud
    "x_calib_ece" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Classifier.calibrationGain(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)),
        col("text").contains(" the "), k = 10)
    }),

    // thresholded confusion matrix + accuracy/precision/recall/F1/MCC
    // of the "keep if n_chars >= 300" rule vs the stopword teacher:
    // ONE partial-agg scan, decimal MCC numerator, fixed sqrt chain
    "x_confusion" -> ((s, d) =>
      Classifier.confusionStats(t(s, d, "documents"),
        col("n_chars").cast("double"), col("text").contains(" the "),
        threshold = 300.0)),

    // Brier score of the clamped length-probability vs the same
    // teacher: per-row (p-y)^2 IEEE-exact, 2^-40 grid mean
    "x_brier" -> ((s, d) =>
      Classifier.brierScore(t(s, d, "documents"),
        least(col("n_chars").cast("double") / lit(2000.0), lit(1.0)),
        col("text").contains(" the "))),

    // Spearman rank correlation between the char-length score and the
    // space-count (word-count proxy) score: two distributed rowid
    // sorts for average ranks, five decimal moment sums, ONE agg
    "x_spearman" -> ((s, d) =>
      Profiling.spearman(t(s, d, "documents"),
        col("n_chars").cast("double"),
        (length(col("text"))
          - length(translate(col("text"), " ", ""))).cast("double"))),

    // AUC with the Hanley-McNeil SE + 95% normal CI: the "is scorer A
    // actually better than B" read, a fixed IEEE shape off the exact
    // AUC
    "x_auc_ci" -> ((s, d) =>
      Classifier.rocAucCi(t(s, d, "documents"),
        col("n_chars").cast("double"), col("text").contains(" the "))),

    // DeLong PAIRED test between the char-length and word-count
    // scorers over the same corpus: four rank sorts, ten decimal
    // moment sums, one covariance-aware z
    "x_delong" -> ((s, d) =>
      Classifier.delongTest(t(s, d, "documents"),
        col("n_chars").cast("double"),
        (length(col("text"))
          - length(translate(col("text"), " ", ""))).cast("double"),
        col("text").contains(" the "))),

    // cumulative gains/lift deciles of the length score: one rowid
    // sort + one 10-bounded keyed agg — "the top decile captures X%
    // of the good docs"
    "x_gains" -> ((s, d) =>
      Classifier.gainsTable(t(s, d, "documents"),
        col("n_chars").cast("double"), col("text").contains(" the "),
        col("doc_id"), k = 10)),

    // per-language ROC AUC — the fairness read: ranks within each
    // stratum from ONE range-partitioned rowid sort (no per-key
    // window partition), one keyed U-statistic aggregate
    "x_auc_by" -> ((s, d) =>
      Classifier.rocAucBy(t(s, d, "documents"), col("lang"),
          col("n_chars").cast("double"), col("text").contains(" the "))
        .orderBy(col("key"))),

    // per-language Spearman — does scorer agreement hold on every
    // slice or only the majority one?
    "x_spearman_by" -> ((s, d) =>
      Profiling.spearmanBy(t(s, d, "documents"), col("lang"),
          col("n_chars").cast("double"),
          (length(col("text"))
            - length(translate(col("text"), " ", ""))).cast("double"))
        .orderBy(col("key"))),

    // Good-Turing unseen mass + Chao1 richness: one term-frequency
    // partial agg + one 4-sum scan — "how much NEW vocabulary does
    // the next crawl still hold", model-free
    "x_good_turing" -> ((s, d) =>
      TextAnalysis.goodTuring(t(s, d, "documents"), "text")),

    // quadratic-weighted kappa between two 0-3 ordinal graders
    // (length band vs word-count band): one corpus partial agg to the
    // k^2 cell table, exact-integer O and E, one double division
    "x_wkappa" -> ((s, d) =>
      Profiling.weightedKappa(t(s, d, "documents"),
        least(floor(col("n_chars").cast("double") / 150.0), lit(3.0)),
        least(floor((length(col("text"))
          - length(translate(col("text"), " ", ""))).cast("double")
          / 25.0), lit(3.0)))),

    // split-leakage audit: near-dup pairs that STRADDLE a per-doc
    // md5 split — the contamination count splitByCluster exists to
    // zero out; pairs from the same LSH recipe as x_dedup_jaccard
    "x_split_leakage" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        w = 3, numPerm = 64, numBands = 16, threshold = 0.15)
      val assign = Sampling.splitAssign(docs.select("doc_id"),
        col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Sampling.splitLeakage(pairs.select("a", "b"), assign, "doc_id")
        .orderBy(col("split_a"), col("split_b"))
    }),

    // audio: synthetic 8-bit PCM WAV (RIFF header + md5-derived
    // samples, so the oracle recomputes the stats in pure SQL), parsed
    // by the real RIFF chunk-walking decodeWav
    "x_audio" -> ((s, d) => {
      val media = Multimodal.syntheticWav(t(s, d, "documents"), "doc_id", "text",
        sampleRate = 8000, nSamples = 64)
      Multimodal.decodeWav(media).toDF().orderBy(col("media_id"))
    }),

    // windowed RMS energy over the real PCM walk: 64 samples → 4
    // windows of 16; exact integer energies, one sqrt per window
    "x_audio_rms" -> ((s, d) => {
      val media = Multimodal.syntheticWav(t(s, d, "documents"), "doc_id", "text",
        sampleRate = 8000, nSamples = 64)
      Multimodal.wavRmsWindows(media, windowSamples = 16).toDF()
        .orderBy(col("media_id"), col("win_idx"))
    }),

    // video: synthetic 3-frame C420 Y4M clip (md5-derived planes),
    // parsed by the real YUV4MPEG2 stream walker — luma stats per clip
    "x_video" -> ((s, d) => {
      val media = Multimodal.syntheticY4m(t(s, d, "documents"), "doc_id", "text",
        w = 4, h = 4, frames = 3)
      Multimodal.decodeY4m(media).toDF().orderBy(col("media_id"))
    }),

    // scene cuts over the real Y4M walk: per consecutive frame pair
    // the exact luma SAD + per-pixel mean + cut flag — shot
    // segmentation for frame sampling
    "x_scene_cuts" -> ((s, d) => {
      val media = Multimodal.syntheticY4m(t(s, d, "documents"), "doc_id", "text",
        w = 4, h = 4, frames = 3)
      Multimodal.y4mSceneCuts(media, threshold = 30.0).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // quality-curriculum token-budget selection: the best docs (by
    // composite quality, doc_id tiebreak) until the running ws-token
    // total hits 8000 — the cut is the distributed prefix scan
    "x_token_budget" -> ((s, d) =>
      Sampling.tokenBudget(
          TextAnalysis.qualityScore(
            TextAnalysis.tokenCounts(t(s, d, "documents"), "text"), "text")
            .select(col("doc_id"), col("ws_tokens"), col("quality")),
          col("ws_tokens"), budget = 8000L,
          order = Seq(col("quality").desc, col("doc_id")))
        .orderBy(col("doc_id"))),

    // ---- sampling / quality / repetition / decontamination --------------
    // deterministic stratified sample: downsample dominant en to 25%,
    // keep the rest at 75% — pure md5-prefix filter, pushes to the scan
    "x_sample_strat" -> ((s, d) =>
      Sampling.stratifiedSample(t(s, d, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 0.25), defaultRate = 0.75)
        .select("doc_id", "lang", "source")
        .orderBy(col("doc_id"))),

    // deterministic 80/10/10 split assignment (membership is a pure
    // function of the key — stable across dataset versions)
    "x_splits" -> ((s, d) =>
      Sampling.splitAssign(t(s, d, "documents"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "lang", "split")
        .orderBy(col("doc_id"))),

    // training-mix rebalancing: target lang weights, binding stratum
    // kept whole, the rest hash-downsampled — rates computed IN-PLAN
    // from corpus totals, replayed exactly by the oracle
    "x_mixture" -> ((s, d) =>
      Sampling.mixtureSample(t(s, d, "documents"), col("doc_id"), col("lang"),
          col("n_chars"), Map("en" -> 0.3, "de" -> 0.2, "fr" -> 0.2,
            "es" -> 0.2, "zh" -> 0.1))
        .select("doc_id", "lang", "n_chars", "mix_rate")
        .orderBy(col("doc_id"))),

    // temperature-scaled language mixture (α=0.5 → one IEEE sqrt, so
    // the weights are bit-exact cross-engine): rates computed in-plan
    // from corpus token totals, 16-bit-quantized md5 keep decision
    "x_temp_mix" -> ((s, d) =>
      Sampling.temperatureMix(t(s, d, "documents"), col("doc_id"), col("lang"),
          col("n_chars"), alpha = 0.5)
        .select("doc_id", "lang", "n_chars", "mix_rate")
        .orderBy(col("doc_id"))),

    // DoReMi exponentiated-gradient language weights: doc_id%6 as the
    // training rounds, per-doc char count as the integer loss signal;
    // the EG recursion collapses to one cumulative-sum window over
    // the 6×K level table (normalizers cancel), smoothed with a 10%
    // uniform floor — the learned-mixture sibling of x_temp_mix
    "x_doremi" -> ((s, d) =>
      Sampling.doremiWeights(t(s, d, "documents"), col("lang"),
          pmod(col("doc_id"), lit(6)), col("n_chars"),
          eta = 0.5, smoothing = 0.1)
        .orderBy(col("domain"))),

    // length-grouped dynamic batches: bucket by n_chars edges, seeded
    // md5 shuffle within bucket, fixed-size cut — one global rowid
    // sort, never a per-bucket window
    "x_lgbatch" -> ((s, d) =>
      Packing.lengthGroupedBatches(t(s, d, "documents"), col("n_chars"),
          col("doc_id"), batchSize = 8, bucketEdges = Seq(200L, 300L, 400L),
          seed = 7L)
        .select("doc_id", "n_chars", "bucket", "batch_id", "batch_pos")
        .orderBy(col("doc_id"))),

    // per-source data card: volume + exact-mean quality + dominant
    // language in two partial aggs and one tiny join — the one-page
    // drop report a curation run reads first
    "x_datacard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vol = TextAnalysis.qualityScore(docs, "text")
        .groupBy("source").agg(
          count(lit(1)).as("docs"),
          sum(col("n_chars")).as("total_chars"),
          graft.functions.Exact.davg(col("quality")).as("mean_quality"))
      val langs = docs.groupBy("source", "lang").agg(count(lit(1)).as("__c"))
        .groupBy("source").agg(
          max_by(col("lang"), struct(col("__c"), col("lang"))).as("top_lang"),
          count(lit(1)).as("n_langs"))
      vol.join(langs, Seq("source")).orderBy(col("source"))
    }),

    // quality-weighted deterministic sampling: p = min(1, rate*w/mean),
    // exact-decimal mean, md5Unif keep decision — pure filter
    "x_wsample" -> ((s, d) =>
      Sampling.weightedSample(t(s, d, "documents"), col("doc_id"),
          col("n_chars"), rate = 0.3, seed = 42L)
        .select("doc_id", "n_chars", "sample_p")
        .orderBy(col("doc_id"))),

    // Horvitz-Thompson read-back of the weighted sample: unbiased
    // corpus total + Poisson variance + CI from the SAMPLE alone
    "x_ht" -> ((s, d) => {
      val sample = Sampling.weightedSample(t(s, d, "documents"),
        col("doc_id"), col("n_chars"), rate = 0.3, seed = 42L)
      Sampling.htEstimate(sample, col("n_chars"), col("sample_p"))
    }),

    // corpus snapshot diff (incremental-crawl audit): synthetic v2 =
    // docs < 450 with every 10th text modified — one id-keyed join
    "x_corpus_diff" -> ((s, d) => {
      val old = t(s, d, "documents").filter(col("doc_id") % 2 === 0)
      val nw = t(s, d, "documents").filter(col("doc_id") < 450)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Dedup.corpusDiff(old, nw, "doc_id", "text")
        .groupBy("status").agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("status"))
    }),

    // deterministic contrastive negatives: rowid-addressed md5Unif
    // draws, self-hits dropped — fully replayable pick sequence
    "x_negsample" -> ((s, d) =>
      Sampling.negativeSample(
          t(s, d, "embeddings").filter(col("vec_id") < 5), col("vec_id"),
          t(s, d, "embeddings"), "vec_id", k = 4, seed = 42L)
        .select("anchor_id", "draw_id", "vec_id", "label")
        .orderBy(col("anchor_id"), col("draw_id"))),

    // deterministic domain round-robin training order: per-source md5
    // shuffle rank (bounded windows), global position via the sorted
    // zipWithIndex rowid on (round, source) — no single-partition
    // window; the oracle replays both ranks
    "x_interleave" -> ((s, d) =>
      Sampling.interleaveByDomain(t(s, d, "documents"), col("source"),
          col("doc_id"), seed = 42L)
        .select("pos", "doc_id", "source")
        .orderBy(col("pos"))),

    // deterministic multi-epoch shuffle orders: epoch e sorts by
    // md5(seed, e, id) — one exploded rowid sort, per-epoch pos =
    // global rowid - epoch*N; each epoch a reproducible permutation
    "x_epoch_order" -> ((s, d) =>
      Sampling.epochOrder(t(s, d, "documents"), col("doc_id"),
          epochs = 3, seed = 5L)
        .select("doc_id", "epoch", "pos")
        .orderBy(col("epoch"), col("pos"))),

    "x_gopher" -> ((s, d) =>
      TextAnalysis.gopherRules(t(s, d, "documents"), "text")
        .select("doc_id", "n_words", "mean_word_len", "alpha_word_frac",
          "symbol_word_frac", "bullet_line_frac", "ellipsis_line_frac",
          "stop_hits", "gopher_pass")
        .orderBy(col("doc_id"))),

    // join-key skew profile of the order fact's customer key: hottest
    // 10 keys + row shares — one partial agg + TakeOrdered, the
    // pre-flight read before choosing plain/AQE/salted join
    "x_key_skew" -> ((s, d) =>
      Profiling.keySkew(t(s, d, "orders"), col("o_custkey"), k = 10)
        .orderBy(col("cnt").desc, col("key"))),

    // one-pass Poisson bootstrap: 16 resampled mean-doc-length
    // estimates + normal CI from ONE scan (B agg columns, not B
    // passes) — the error bar on a corpus statistic at scale
    "x_boot" -> ((s, d) =>
      Profiling.poissonBootstrap(t(s, d, "documents"),
        col("doc_id"), col("n_chars").cast("double"), b = 16, seed = 7L)),

    // grouped bootstrap: per-language CI rows from the same single
    // scan (replica weights ride the stratum-keyed partial agg)
    "x_bootby" -> ((s, d) =>
      Profiling.poissonBootstrapBy(t(s, d, "documents"), Seq(col("lang")),
          col("doc_id"), col("n_chars").cast("double"), b = 8, seed = 11L)
        .orderBy(col("lang"))),

    // water-filling budget allocation: quotas = min(total, λ) with the
    // common water level λ exhausting the budget — window algebra over
    // the 20-row stratum-totals table, corpus touched by ONE agg
    "x_waterfill" -> ((s, d) =>
      Sampling.waterFillQuotas(t(s, d, "documents"),
          col("source"), col("n_chars"), budget = 100000.0)
        .orderBy(col("stratum"))),

    // dup-span REMEDIATION: rebuild docs with the corpus-duplicated
    // spans cut out (the RefinedWeb step) — keep the doc, not drop it
    "x_strip_spans" -> ((s, d) =>
      TextAnalysis.stripDupSpans(t(s, d, "documents"), "doc_id", "text",
          k = 20, minCount = 2)
        .orderBy(col("doc_id"))),

    // deterministic training shards + audit manifest: fixed-row cut
    // along the doc_id order, per-shard counts/span and an order-
    // sensitive content digest a re-run compares shard-for-shard
    "x_shards" -> ((s, d) =>
      Packing.shardManifest(t(s, d, "documents"),
          col("doc_id"), col("n_chars"), Seq(col("doc_id").asc),
          shardRows = 64L)
        .orderBy(col("shard_id"))),

    // allocation materialized: per-source greedy prefix cut (longest
    // docs first) under the water-fill quotas — broadcast quota table,
    // stratum-partitioned running total
    "x_quota_select" -> ((s, d) => {
      val quotas = Sampling.waterFillQuotas(t(s, d, "documents"),
        col("source"), col("n_chars"), budget = 100000.0)
      Sampling.selectToQuotas(
          t(s, d, "documents"), col("source"), col("n_chars"),
          Seq(col("n_chars").desc, col("doc_id").asc), quotas)
        .select("doc_id", "source", "n_chars", "cum_tokens", "quota")
        .orderBy(col("doc_id"))
    }),

    // per-source percentile-rank calibration of a quality proxy: one
    // stratum-partitioned window Exchange (rank + count share it),
    // then a pure projection — the mixing prep before any global cut
    "x_qcal" -> ((s, d) =>
      Profiling.calibrateByStratum(
          t(s, d, "documents").select("doc_id", "source", "n_chars"),
          col("source"), col("n_chars"), "q_cal")
        .orderBy(col("doc_id"))),

    // chance-corrected agreement between two quality filters (length
    // rule vs stopword-presence rule): ONE aggregate scan, exact
    // integer counts, fixed-order IEEE divisions
    "x_kappa" -> ((s, d) =>
      Profiling.cohenKappa(t(s, d, "documents"),
        col("n_chars") >= 500L, col("text").contains(" the "))),

    // Hive-partitioned sink round-trip (SURVEY §2.9 row 93): documents
    // written partitioned by lang ONCE per session, read back with a
    // lang filter — the scan touches only the matching directories
    // (PartitionFilters; SourcesSpec asserts the pruning), and the
    // oracle proves layout never changes the answer
    "x_part_prune" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/partcache/docs_$tag"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        graft.sources.Sources.writePartitioned(
          t(s, d, "documents").select("doc_id", "lang", "n_chars"),
          path, Seq("lang"))
      }
      graft.sources.Sources.readParquet(s, path)
        .filter(col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("lang"))
    }),

    // Fleiss' kappa over a synthetic labeling job: 50 items, each
    // rated by docs/50 raters (uniform mod 50 at every sf → constant
    // panel), 4 categories from deterministic integer mixing — the
    // oracle replays the per-item P_i and marginal P_e chains on the
    // fixed-point grid
    "x_fleiss" -> ((s, d) => {
      val r = t(s, d, "documents").select(
        (col("doc_id") % 50).as("item"),
        ((expr("doc_id div 50") * 3 + col("doc_id") % 50) % 4)
          .cast("string").as("cat"))
      Profiling.fleissKappa(r, col("item"), col("cat"))
    }),

    // Krippendorff's alpha over a NATURALLY UNEVEN panel (500 docs
    // mod 37 → items rated 13 or 14 times — exactly the shape Fleiss
    // rejects); the oracle replays cells → pairable filter → gridded
    // D_o → integer-exact D_e
    "x_kripp_alpha" -> ((s, d) => {
      val r = t(s, d, "documents").select(
        (col("doc_id") % 37).as("item"),
        ((col("doc_id") * 5 + 1) % 3).cast("string").as("cat"))
      Profiling.krippendorffAlpha(r, col("item"), col("cat"))
    }),

    // ordinal alpha over synthetic 0-4 grades: the cumulative-mass
    // distance weights near-misses lighter than far-misses on the
    // same uneven panel
    "x_kripp_ord" -> ((s, d) => {
      val r = t(s, d, "documents").select(
        (col("doc_id") % 37).as("item"),
        ((col("doc_id") * 5 + 1) % 5).as("grade"))
      Profiling.krippendorffAlphaOrdinal(r, col("item"), col("grade"))
    }),

    // Bradley–Terry arena ratings from pairwise matches (Hunter 2004
    // MM, fixed 3 iterations): 8 synthetic items, winner doc_id%8 vs
    // loser (3·doc_id+1)%8 — the oracle replays every iteration as an
    // unrolled CTE on the 18-decimal grid (the pagerank recipe)
    "x_bradley_terry" -> ((s, d) => {
      val m = t(s, d, "documents").select(
        (col("doc_id") % 8).cast("string").as("w"),
        ((col("doc_id") * 3 + 1) % 8).cast("string").as("l"))
      Classifier.bradleyTerry(m, "w", "l", iters = 3)
        .orderBy(col("item"))
    }),

    // Plackett–Luce listwise ratings (Hunter 2004 MM, 3 iterations):
    // 50 ranking events over 6 items, each event's order an md5
    // permutation — the listwise generalization of x_bradley_terry;
    // the oracle replays every iteration's suffix/prefix windows and
    // 2^-40-grid sums as unrolled CTEs
    "x_plackett_luce" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id") % 50)
        .orderBy(md5(col("doc_id").cast("string")))
      val rk = t(s, d, "documents").filter(col("doc_id") < 300)
        .select((col("doc_id") % 50).cast("string").as("g"),
          call_function("div", col("doc_id"), lit(50L)).cast("string").as("item"),
          row_number().over(w).cast("long").as("pos"))
      Classifier.plackettLuce(rk, "g", "item", "pos", iters = 3)
        .orderBy(col("item"))
    }),

    // unbiased pass@k (Chen et al. 2021) over a synthetic eval table:
    // per task n samples (3 for doc_id%4=0 — under-sampled, NULL at
    // k=5/10; else 10), c = doc_id % (n+1) passing. The oracle spells
    // the same left-associated exact-factor product
    "x_pass_at_k" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0, lit(3L)).otherwise(lit(10L)).as("n"))
        .withColumn("c", pmod(col("doc_id"), col("n") + 1))
      Classifier.passAtK(base, col("n"), col("c"), Seq(1, 5, 10))
        .orderBy(col("doc_id"))
    }),

    // the headline read: mean pass@k across tasks on the fixed-point
    // grid (order-invariant), under-sampled tasks excluded per k
    "x_pass_at_k_mean" -> ((s, d) => {
      val base = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0, lit(3L)).otherwise(lit(10L)).as("n"))
        .withColumn("c", pmod(col("doc_id"), col("n") + 1))
      Classifier.passAtKSummary(base, col("n"), col("c"), Seq(1, 5, 10))
    }),

    // file-pruned DELETE WHERE on a manifested copy (one-time per
    // dataset: write 8 files + manifest, purge doc_id % 7 = 3, marker
    // makes reruns read-only) — the answer IS the plain NOT-filter,
    // so layout, rewrite scope, and manifest swap are all
    // answer-preserving by the oracle
    "x_delete_where" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/deletecache/docs_$tag"
      val ok = new java.io.File(s"$path/_DELETED")
      if (!ok.exists()) {
        t(s, d, "documents").select("doc_id", "lang", "n_chars")
          .repartition(8).write.mode("overwrite").parquet(path)
        graft.sources.Sources.publishManifest(s, path)
        graft.sources.Sources.deleteWhereAtomic(s, path,
          col("doc_id") % 7 === 3)
        java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
      }
      graft.sources.Sources.readManifested(s, path)
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // file-pruned UPDATE WHERE … SET on a manifested copy — the
    // answer IS the CASE-WHEN projection of the base, so rewrite
    // scope and manifest swap are answer-preserving by the oracle
    "x_update_where" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/updatecache/docs_$tag"
      val ok = new java.io.File(s"$path/_UPDATED")
      if (!ok.exists()) {
        t(s, d, "documents").select("doc_id", "lang", "n_chars")
          .repartition(8).write.mode("overwrite").parquet(path)
        graft.sources.Sources.publishManifest(s, path)
        graft.sources.Sources.updateWhereAtomic(s, path,
          col("doc_id") % 5 === 1,
          Map("n_chars" -> (col("n_chars") * 2)))
        java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
      }
      graft.sources.Sources.readManifested(s, path)
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // file-pruned MERGE INTO on a manifested copy — the answer IS the
    // update-CASE / delete-filter / insert-union of the base, so
    // rewrite scope, append shape, and the single manifest publish
    // are all answer-preserving by the oracle. Delta: doc_id%13=2
    // deleted, doc_id%11=5 (minus deletes) updated n_chars+1000,
    // doc_id%17=0 re-inserted at doc_id+1000000 with n_chars+7
    "x_merge_into" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/mergecache/docs_$tag"
      val ok = new java.io.File(s"$path/_MERGED")
      if (!ok.exists()) {
        val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
        docs.repartition(8).write.mode("overwrite").parquet(path)
        graft.sources.Sources.publishManifest(s, path)
        val updates = docs
          .filter(col("doc_id") % 11 === 5 && col("doc_id") % 13 =!= 2)
          .withColumn("n_chars", col("n_chars") + 1000)
          .withColumn("op", lit("upsert"))
        val deletes = docs.filter(col("doc_id") % 13 === 2)
          .withColumn("op", lit("delete"))
        val inserts = docs.filter(col("doc_id") % 17 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("n_chars", col("n_chars") + 7)
          .withColumn("op", lit("upsert"))
        graft.sources.Sources.mergeAtomic(s, path,
          updates.unionByName(deletes).unionByName(inserts), "doc_id")
        java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
      }
      graft.sources.Sources.readManifested(s, path)
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // §2.7 row 82n answer-preserving replay: the corpus arrives as
    // three micro-batches through the EXACTLY-ONCE manifest sink,
    // with batch 1 REDELIVERED mid-sequence (the crash-between-write-
    // and-checkpoint-commit case) — the id guard absorbs the replay,
    // so the sunk table IS the plain corpus (a duplicating sink would
    // double a third of the rows and hash-mismatch)
    "x_stream_sink" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/sinkcache/stream_sink_$tag"
      val ok = new java.io.File(s"$path/_SUNK")
      if (!ok.exists()) {
        val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
        (0L to 2L).foreach { b =>
          graft.streaming.ManifestSink.appendBatch(
            docs.filter(pmod(col("doc_id"), lit(3)) === b), path, b,
            filesPerBatch = 2)
          if (b == 1L) // the redelivery: same id, same content — no-op
            graft.streaming.ManifestSink.appendBatch(
              docs.filter(pmod(col("doc_id"), lit(3)) === b), path, b,
              filesPerBatch = 2)
        }
        java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
      }
      graft.streaming.ManifestSink.read(s, path)
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // §2.7 row 82o answer-preserving replay: a CDC stream applied by
    // the streaming UPSERT sink — batch 0 bootstraps the even-keyed
    // half, batch 1 updates/deletes/inserts (and is REDELIVERED: the
    // id guard absorbs it), batch 2 overwrites a stratum with an
    // absolute value (so no compounding hides a double-apply). The
    // final table IS one CASE projection of the base corpus.
    "x_stream_upsert" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/sinkcache/stream_upsert_$tag"
      val ok = new java.io.File(s"$path/_SUNK")
      if (!ok.exists()) {
        val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
        val even = docs.filter(col("doc_id") % 2 === 0)
        val b0 = even.withColumn("op", lit("upsert"))
        val b1 = even.filter(col("doc_id") % 6 === 0 && col("doc_id") % 10 =!= 4)
          .withColumn("n_chars", col("n_chars") + 500L)
          .withColumn("op", lit("upsert"))
          .unionByName(even.filter(col("doc_id") % 10 === 4)
            .withColumn("op", lit("delete")))
          .unionByName(docs.filter(col("doc_id") % 14 === 7)
            .withColumn("n_chars", col("n_chars") + 3L)
            .withColumn("op", lit("upsert")))
        val b2 = even.filter(col("doc_id") % 9 === 2)
          .withColumn("n_chars", col("doc_id") % 1000L)
          .withColumn("op", lit("upsert"))
        graft.streaming.ManifestSink.upsertBatch(b0, path, 0L, "doc_id")
        graft.streaming.ManifestSink.upsertBatch(b1, path, 1L, "doc_id")
        // the redelivery: same id, same delta — the guard no-ops it
        graft.streaming.ManifestSink.upsertBatch(b1, path, 1L, "doc_id")
        graft.streaming.ManifestSink.upsertBatch(b2, path, 2L, "doc_id")
        java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
      }
      graft.streaming.ManifestSink.read(s, path)
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // incremental materialized view: a manifested copy of documents
    // built in TWO transactional inserts, the per-lang (count, sum)
    // view folded after each — the second fold reads ONLY the second
    // insert's files (the CDC window), yet the view equals the full
    // aggregate the oracle computes over everything
    "x_incr_view" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/mergecache/aggview_src_$tag"
      val view = s"target/mergecache/aggview_$tag"
      val ok = new java.io.File(s"$view/_FOLDED")
      if (!ok.exists()) {
        val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
        val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
        docs.filter(col("doc_id") < cut)
          .repartition(4).write.mode("overwrite").parquet(path)
        graft.sources.Sources.publishManifest(s, path)
        graft.sources.Sources.maintainAggView(s, path, view,
          keys = Seq("lang"), sumCol = "n_chars")
        graft.sources.Sources.insertIntoAtomic(s, path,
          docs.filter(col("doc_id") >= cut), numFiles = 2)
        graft.sources.Sources.maintainAggView(s, path, view,
          keys = Seq("lang"), sumCol = "n_chars")
        java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
      }
      graft.sources.Sources.readManifested(s, view)
        .select(col("lang"), col("n"), col("sum_n_chars"))
        .orderBy(col("lang"))
    }),

    // metadata-only schema evolution is answer-preserving: drop
    // `source`, rename n_chars -> len — ZERO files rewritten (the
    // spec proves that by file identity); the evolved table IS the
    // projected base, which the oracle replays directly
    "x_alter_schema" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/altercache/docs_$tag"
      val ok = new java.io.File(s"$path/_ALTERED")
      if (!ok.exists()) {
        t(s, d, "documents").select("doc_id", "lang", "source", "n_chars")
          .repartition(4).write.mode("overwrite").parquet(path)
        graft.sources.Sources.publishManifest(s, path)
        graft.sources.Sources.dropColumnAtomic(s, path, "source")
        graft.sources.Sources.renameColumnAtomic(s, path, "n_chars", "len")
        java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
      }
      graft.sources.Sources.readManifested(s, path)
        .select("doc_id", "lang", "len")
        .orderBy(col("doc_id"))
    }),

    // file-grain CDC: day-1 writes doc_id%3!=0, day-2 appends the
    // doc_id%3=0 batch transactionally; the incremental read between
    // v1 and head returns EXACTLY the appended rows — the oracle is
    // the batch filter itself
    "x_incr_read" -> ((s, d) => {
      val tag = srcTag(d, "documents")
      val path = s"target/incrcache/docs_$tag"
      val ok = new java.io.File(s"$path/_APPENDED")
      if (!ok.exists()) {
        val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
        docs.filter(col("doc_id") % 3 =!= 0)
          .repartition(4).write.mode("overwrite").parquet(path)
        graft.sources.Sources.publishManifest(s, path)
        graft.sources.Sources.insertIntoAtomic(s, path,
          docs.filter(col("doc_id") % 3 === 0), numFiles = 2)
        java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
      }
      val conf = s.sessionState.newHadoopConf()
      val v1 = graft.sources.Sources.manifestLogVersions(conf, path).head
      graft.sources.Sources.readManifestedAdded(s, path, v1)
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("doc_id"))
    }),

    // z-ordered layout is answer-preserving: a 2-d box query over the
    // zorderWrite'd copy (one-time per-session layout cost) returns
    // the plain filtered aggregate — the curve only relocates rows
    // into prunable files, never changes them
    "x_zorder_prune" -> ((s, d) => {
      val tag = srcTag(d, "orders")
      val path = s"target/zordercache/orders_$tag"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        graft.functions.ZOrder.zorderWrite(
          t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          path, Seq("o_custkey", "o_orderkey"), bits = 8, numFiles = 16)
      }
      graft.sources.Sources.readParquet(s, path)
        .filter(col("o_custkey").between(100, 300) &&
          col("o_orderkey").between(1000, 4000))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
            .as("total"))
    }),

    // Hilbert-curve layout is answer-preserving exactly like Z-order:
    // the box query over the hilbert-laid copy returns the plain
    // filtered aggregate (the curve only moves rows BETWEEN files);
    // LayoutSpec separately proves bijection/adjacency and that the
    // layout prunes both dimensions
    "x_hilbert" -> ((s, d) => {
      val tag = srcTag(d, "orders")
      val path = s"target/zordercache/orders_hil_$tag"
      if (!new java.io.File(s"$path/_hilbert_meta.json").exists()) {
        graft.functions.Hilbert.hilbertWrite(
          t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          path, Seq("o_custkey", "o_orderkey"), bits = 8, numFiles = 16)
      }
      graft.sources.Sources.readParquet(s, path)
        .filter(col("o_custkey").between(100, 300) &&
          col("o_orderkey").between(1000, 4000))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
            .as("total"))
    }),

    // INCREMENTAL z-order maintenance is answer-preserving: base =
    // three quarters of orders z-written (grid bounds persisted in
    // _zorder_meta.json), delta = the last quarter zorderAppend'ed on
    // the SAME stored grid (delta-sized write, base untouched); the
    // box query over the combined directory returns the plain filtered
    // aggregate over ALL orders — layout maintenance never changes
    // answers, and ZOrderSpec separately proves the appended files
    // still prune
    "x_zorder_incr" -> ((s, d) => {
      val tag = srcTag(d, "orders")
      val path = s"target/zordercache/orders_incr_$tag"
      if (!new java.io.File(s"$path/_zorder_meta.json").exists()) {
        val o = t(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        // bounds come from the FULL key domain (the production shape:
        // grid sized to the table's key space, deltas cluster within)
        val bs = graft.functions.ZOrder.bounds(
          o, Seq("o_custkey", "o_orderkey"))
        graft.functions.ZOrder.zorderWrite(
          o.filter(col("o_orderkey") % 4 =!= 0),
          path, Seq("o_custkey", "o_orderkey"), bits = 8, numFiles = 12,
          gridBounds = Some(bs))
        graft.functions.ZOrder.zorderAppend(
          o.filter(col("o_orderkey") % 4 === 0), path, numFiles = 4)
      }
      graft.sources.Sources.readParquet(s, path)
        .filter(col("o_custkey").between(100, 300) &&
          col("o_orderkey").between(1000, 4000))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(28,6)")).cast("double")
            .as("total"))
    }),

    // per-file bloom sidecar lookup (SURVEY §2.9 row 97): orders
    // key-spread over 16 files ONCE per session (content-tagged cache,
    // so footer min/max prunes nothing), sidecar built in one grouped
    // pass, then a BATCH point lookup probes the bitsets IN EXECUTORS
    // (BloomBytesContainExpr; paths-only driver payload) and scans only
    // the bloom-positive files — the oracle is the plain filtered scan,
    // proving the index layer is answer-preserving
    "x_filebloom" -> ((s, d) => {
      val path = s"target/fbloomcache/orders_${srcTag(d, "orders")}"
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(16, col("o_orderkey"))
          .write.mode("overwrite").parquet(path)
      }
      val sidecar = graft.ops.FileBloomIndex.build(
        s, path, col("o_orderkey"), expectedPerFile = 2000L)
      graft.ops.FileBloomIndex.lookupMany(s, path, sidecar,
          col("o_orderkey"), Seq(1L, 7L, 32L, 133L, 999999999L))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // bucketed-table join (the standing-workload co-location recipe,
    // SURVEY §2.9 row 94): both sides written bucketed+sorted on the
    // join key ONCE per session (warehouse cost a standing workload
    // amortizes — excluded from min-of-N like the BM25 index), then
    // the join reads co-located buckets; with broadcast off the plan
    // has ZERO Exchange (SourcesSpec asserts it) and the oracle proves
    // bucketing never changes the answer
    "x_bucket_join" -> ((s, d) => {
      // tag covers BOTH source tables — either regenerating invalidates
      val tag = srcTag(d, "lineitem") + srcTag(d, "orders")
      val (la, ob) = (s"graft_bl_$tag", s"graft_bo_$tag")
      if (!s.catalog.tableExists(la) || !s.catalog.tableExists(ob)) {
        // a fresh JVM starts with an empty in-memory catalog but the
        // warehouse DIRECTORY survives on disk — saveAsTable refuses
        // to clobber an unregistered location, so clear stale dirs
        Seq(la, ob).foreach { t0 =>
          val loc = java.nio.file.Paths.get(s"spark-warehouse/$t0")
          if (!s.catalog.tableExists(t0) && java.nio.file.Files.exists(loc)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(loc).iterator().asScala.toSeq
              .sortBy(p => -p.getNameCount)
              .foreach(java.nio.file.Files.delete)
          }
        }
        graft.core.ScaleJoins.bucketize(
          t(s, d, "lineitem").select("l_orderkey", "l_extendedprice"),
          Seq("l_orderkey"), 8, la)
        graft.core.ScaleJoins.bucketize(
          t(s, d, "orders").select(col("o_orderkey").as("l_orderkey"),
            col("o_orderstatus")),
          Seq("l_orderkey"), 8, ob)
      }
      s.table(la).join(s.table(ob), Seq("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("l_extendedprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    }),

    // skew-salted equi-join (the keySkew report's remedy): hot
    // orderkeys spread across 8 reducers via a per-row salt, dim side
    // replicated 8x — result provably equals the plain join (the
    // oracle IS the plain join), shuffle key becomes (key, salt)
    "x_salted_join" -> ((s, d) =>
      graft.core.ScaleJoins.saltedJoin(
          t(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
            col("l_extendedprice")),
          t(s, d, "orders").select("o_orderkey", "o_orderstatus"),
          Seq("o_orderkey"), "inner", salt = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.dsum(col("l_extendedprice")).as("total"))
        .orderBy(col("o_orderstatus"))),

    // k-anonymity risk profile of the customer table under the
    // (mktsegment, nationkey) quasi-identifiers: one partial-agg
    // groupBy over the data, class-size histogram + headline k
    "x_kanon" -> ((s, d) =>
      Profiling.kAnonymity(t(s, d, "customer"),
          Seq("c_mktsegment", "c_nationkey"), k = 10)
        .orderBy(col("class_size"))),

    // l-diversity of account-balance sign within the same quasi-id
    // classes — k-anonymity's necessary complement (a uniform class
    // leaks its sensitive value no matter how large)
    "x_ldiv" -> ((s, d) =>
      Profiling.lDiversity(
          t(s, d, "customer").withColumn("bal_sign",
            when(col("c_acctbal") < 0, "neg").otherwise("nonneg")),
          Seq("c_mktsegment", "c_nationkey"), "bal_sign", l = 2)
        .orderBy(col("diversity"))),

    // t-closeness (the third privacy leg): per-class EMD between the
    // class's ordered-band distribution and the global one; complete
    // class x value grid, bounded per-class cum windows, floor-grid
    // |diff| totals
    "x_tclose" -> ((s, d) =>
      Profiling.tCloseness(
          t(s, d, "customer").withColumn("bal_band",
            when(col("c_acctbal") < 0, "0_neg")
              .when(col("c_acctbal") < 3000, "1_low")
              .when(col("c_acctbal") < 7000, "2_mid")
              .otherwise("3_high")),
          Seq("c_mktsegment", "c_nationkey"), "bal_band", t = 0.12)
        .orderBy(col("c_mktsegment"), col("c_nationkey"))),

    // Neyman-optimal stratified allocation: n_h ∝ N_h·S_h from exact
    // grid moments; the labeling/eval budget split that minimizes
    // estimator variance
    "x_neyman" -> ((s, d) =>
      Sampling.neymanAllocation(t(s, d, "documents"), col("source"),
          col("n_chars"), budget = 200L)
        .orderBy(col("stratum"))),

    // pairwise JS divergence between per-language token
    // distributions (top-64 vocab + OOV bucket, add-one smoothing):
    // one tokenize scan, everything after is (langs x 65)-sized
    "x_js_div" -> ((s, d) =>
      TextAnalysis.domainJsDivergence(t(s, d, "documents"), col("lang"),
          col("text"), vocabSize = 64)
        .orderBy(col("domain_a"), col("domain_b"))),

    // exact distributed quantiles of the price column: one sort +
    // rowid neighbor selection, never a per-group value buffer
    "x_quantiles" -> ((s, d) =>
      Profiling.exactQuantiles(t(s, d, "lineitem"), col("l_extendedprice"),
          Seq(0.01, 0.25, 0.5, 0.75, 0.95, 0.99))
        .orderBy(col("p"))),

    // winsorized clipping at exact p01/p99 fences: one rowid sort for
    // the fences, broadcast back, pure least/greatest projection
    "x_winsor" -> ((s, d) =>
      Profiling.winsorize(t(s, d, "lineitem"), col("l_extendedprice"),
          pLo = 0.01, pHi = 0.99, outCol = "price_w")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "price_w")
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // equal-population quartile binning at exact fences: one rowid
    // sort, codegen comparison chain, ties fall to the lower bin
    "x_qbin" -> ((s, d) =>
      Profiling.quantileBin(t(s, d, "lineitem"), col("l_extendedprice"),
          nBins = 4, outCol = "price_bin")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "price_bin")
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // per-language quartile bins of doc length: per-stratum fences
    // from one partitioned window, null-safe fence join, same chain
    "x_gqbin" -> ((s, d) =>
      Profiling.groupedQuantileBin(t(s, d, "documents"), Seq("lang"),
          col("n_chars"), nBins = 4, outCol = "len_bin")
        .select("doc_id", "lang", "n_chars", "len_bin")
        .orderBy(col("doc_id"))),

    // fixed-grid histogram: ONE partial-agg groupBy over <= bins+2
    // keys — the fixed-memory quantile substrate the streaming
    // monitor folds; bin arithmetic is three exactly-rounded IEEE ops
    "x_hist" -> ((s, d) =>
      Profiling.gridHistogram(t(s, d, "lineitem"), col("l_extendedprice"),
          lo = 0.0, hi = 110000.0, bins = 44)
        .orderBy(col("bin"))),

    // grid-quantile read: rank targets land in bins by cumulative
    // count, linear interpolation inside the bin — error <= one bin
    // width by construction (the bins-vs-memory monitor trade)
    "x_hist_q" -> ((s, d) =>
      Profiling.histQuantiles(
          Profiling.gridHistogram(t(s, d, "lineitem"),
            col("l_extendedprice"), lo = 0.0, hi = 110000.0, bins = 44),
          lo = 0.0, hi = 110000.0, bins = 44,
          ps = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy(col("p"))),

    // STREAMING quantile monitor, batch twin: three micro-batches'
    // grid profiles folded into the standing counts (vector add,
    // batch-id-guarded) — the standing histogram is bit-identical to
    // the one-shot batch grid, so the batch oracle replays verbatim
    "s_hist" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_histstream").toString
      val ev = t(s, d, "events")
      (0L to 2L).foreach { b =>
        graft.streaming.HistStream.foldBatch(
          ev.filter(pmod(col("event_id"), lit(3L)) === b),
          col("value"), lo = 0.0, hi = 500.0, bins = 50, dir, batchId = b)
      }
      graft.streaming.HistStream.standingHistogram(s, dir)
        .orderBy(col("bin"))
    }),

    // per-stratum grid histogram + grid-quantile read: the per-
    // language monitor shape — keys x bins cells, partitioned windows
    "x_hist_by" -> ((s, d) =>
      Profiling.gridHistogramBy(t(s, d, "documents"), Seq("lang"),
          col("n_chars"), lo = 0.0, hi = 600.0, bins = 30)
        .orderBy(col("lang"), col("bin"))),

    "x_histq_by" -> ((s, d) =>
      Profiling.histQuantilesBy(
          Profiling.gridHistogramBy(t(s, d, "documents"), Seq("lang"),
            col("n_chars"), lo = 0.0, hi = 600.0, bins = 30),
          Seq("lang"), lo = 0.0, hi = 600.0, bins = 30,
          ps = Seq(0.25, 0.5, 0.95))
        .orderBy(col("lang"), col("p"))),

    // STREAMING per-key quantile monitor, batch twin: three folded
    // event batches' (type, bin) profiles == the one-shot per-type
    // batch grid (vector adds commute), so the batch oracle replays
    "s_hist_by" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_histbystream").toString
      val ev = t(s, d, "events")
      (0L to 2L).foreach { b =>
        graft.streaming.HistStream.foldBatchBy(
          ev.filter(pmod(col("event_id"), lit(3L)) === b),
          col("event_type"), col("value"),
          lo = 0.0, hi = 500.0, bins = 50, dir, batchId = b)
      }
      graft.streaming.HistStream.standingHistogramBy(s, dir,
          keyName = "event_type")
        .orderBy(col("event_type"), col("bin"))
    }),

    // grid-to-grid PSI: the standing-monitor drift read — both
    // inputs are bins-bounded count vectors (no raw re-scan); psi's
    // 0.5-smoothing + fixed-point sum conventions over bins+2 cells
    "x_hist_psi" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      Profiling.histPsi(
        Profiling.gridHistogram(li.filter(col("l_orderkey") % 2 === 0),
          col("l_extendedprice"), lo = 0.0, hi = 110000.0, bins = 44),
        Profiling.gridHistogram(li.filter(col("l_orderkey") % 2 === 1),
          col("l_extendedprice"), lo = 0.0, hi = 110000.0, bins = 44),
        bins = 44)
    }),

    // per-language grid PSI: even vs odd doc halves on the shared
    // length grid — the slice-level drift read, one row per lang
    "x_hist_psi_by" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.histPsiBy(
          Profiling.gridHistogramBy(docs.filter(col("doc_id") % 2 === 0),
            Seq("lang"), col("n_chars"), lo = 0.0, hi = 600.0, bins = 30),
          Profiling.gridHistogramBy(docs.filter(col("doc_id") % 2 === 1),
            Seq("lang"), col("n_chars"), lo = 0.0, hi = 600.0, bins = 30),
          key = "lang", bins = 30)
        .orderBy(col("lang"))
    }),

    // per-priority Benford audit: the slice-level tripwire — one
    // digit distribution + MAD per stratum
    "x_benford_by" -> ((s, d) =>
      Profiling.benfordBy(t(s, d, "orders"), "o_orderpriority",
          floor(col("o_totalprice") * lit(100.0)))
        .orderBy(col("o_orderpriority"), col("digit"))),

    // Benford first-digit audit over order totals (as exact cents):
    // the synthetic-data/unit-bug tripwire — 9-key partial agg,
    // full-precision expected-share literals, fixed-point MAD
    "x_benford" -> ((s, d) =>
      Profiling.benford(t(s, d, "orders"),
          floor(col("o_totalprice") * lit(100.0)))
        .orderBy(col("digit"))),

    // median/MAD robust z outlier flags: two exact-median sorts, all
    // arithmetic engine-exact (no stddev, no rounding)
    "x_mad" -> ((s, d) =>
      Profiling.madOutliers(t(s, d, "lineitem"), col("l_extendedprice"), k = 3.5)
        .select("l_orderkey", "l_linenumber", "med", "mad", "robust_z", "is_outlier")
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // per-language doc-length quantiles: one partitioned-window
    // shuffle, neighbor-row filter, |groups| x |ps| output
    "x_gquantiles" -> ((s, d) =>
      Profiling.groupedQuantiles(t(s, d, "documents"), Seq("lang"),
          col("n_chars"), Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy(col("lang"), col("p"))),

    // count-min sketch term-frequency estimates: bounded 4x4096
    // per-language distinct-term estimate from 256 five-bit HLL
    // registers: the shuffle carries registers, never terms, and the
    // md5-derived sketch replays bit-for-bit in any engine
    "x_hll" -> ((s, d) =>
      Profiling.hllDistinct(
          t(s, d, "documents").select(col("lang"),
            explode(Dedup.tokens(col("text"))).as("term"))
            .filter(col("term") =!= ""),
          Seq("lang"), col("term"), p = 8)
        .orderBy(col("lang"))),

    // STREAMING distinct-count monitor, batch twin: three micro-
    // batches' register tables folded into the standing sketch by
    // elementwise max (idempotent, order-free), then the SAME estimate
    // math — bit-identical to the one-shot batch sketch, so x_hll's
    // oracle replays verbatim
    "s_hll" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_hllstream").toString
      val terms = t(s, d, "documents").select(col("doc_id"), col("lang"),
          explode(Dedup.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      (0L to 2L).foreach { b =>
        graft.streaming.HllStream.foldBatch(
          terms.filter(pmod(col("doc_id"), lit(3L)) === b),
          col("lang"), col("term"), p = 8, dir)
      }
      graft.streaming.HllStream.standingEstimate(s, dir, keyName = "lang")
        .orderBy(col("lang"))
    }),

    // counter state over the unbounded term stream, probed for the
    // terms of every 50th doc — est >= exact by construction
    "x_cms" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.cmsEstimates(
          docs.select(explode(Dedup.tokens(col("text"))).as("term")),
          col("term"),
          docs.filter(col("doc_id") % 50 === 0)
            .select(explode(Dedup.tokens(col("text"))).as("term")),
          width = 4096, depth = 4,
          // corpus terms repeat ~50x: hash each DISTINCT term, not
          // each occurrence (bit-identical counter table)
          keyGrainPreAgg = true)
        .orderBy(col("key"))
    }),

    // day-2 CMS maintenance: the corpus split 80/20 into a standing
    // sketch and a delta sketch, folded by EXACT counter addition —
    // probing the merged sketch must equal the full rebuild bit for
    // bit (the oracle IS x_cms's full-corpus replay)
    "x_cms_incr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def terms(f: DataFrame => DataFrame) =
        f(docs).select(explode(Dedup.tokens(col("text"))).as("term"))
      val merged = Profiling.cmsMerge(
        Profiling.cmsSketch(terms(_.filter(col("doc_id") % 5 =!= 0)),
          col("term"), width = 4096, depth = 4, keyGrainPreAgg = true),
        Profiling.cmsSketch(terms(_.filter(col("doc_id") % 5 === 0)),
          col("term"), width = 4096, depth = 4, keyGrainPreAgg = true))
      Profiling.cmsProbe(merged,
          terms(_.filter(col("doc_id") % 50 === 0)),
          col("term"), width = 4096, depth = 4)
        .orderBy(col("key"))
    }),

    // STREAMING CMS, batch-twin: the term stream processed as three
    // micro-batches folded into the standing counter table by EXACT
    // addition — the probe after the last batch must equal the batch
    // rebuild bit for bit; same oracle as x_cms
    "s_cms" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_cmsstream").toString
      val docs = t(s, d, "documents")
      val terms = docs.select(col("doc_id"),
        explode(Dedup.tokens(col("text"))).as("term"))
      (0L to 2L).foreach { b =>
        graft.streaming.CmsStream.mergeBatch(
          terms.filter(pmod(col("doc_id"), lit(3L)) === b),
          col("term"), width = 4096, depth = 4, dir, b)
      }
      graft.streaming.CmsStream.standingEstimates(s, dir,
          docs.filter(col("doc_id") % 50 === 0)
            .select(explode(Dedup.tokens(col("text"))).as("term")),
          col("term"), width = 4096, depth = 4)
        .orderBy(col("key"))
    }),

    // STREAMING join-size monitor: the lineitem stream's standing
    // sketch probed against the static orders sketch — the pre-join
    // planning signal served continuously; exact counter algebra, so
    // the estimate equals x_join_size's batch form (same oracle)
    "s_join_size" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_cmsjs").toString
      val li = t(s, d, "lineitem")
      (0L to 2L).foreach { b =>
        graft.streaming.CmsStream.mergeBatch(
          li.filter(pmod(col("l_linenumber"), lit(3L)) === b),
          col("l_orderkey"), width = 65536, depth = 4, dir, b)
      }
      Profiling.cmsJoinSize(
          Profiling.cmsSketch(t(s, d, "orders"), col("o_orderkey"),
            width = 65536, depth = 4),
          graft.streaming.CmsStream.standingSketch(s, dir, 65536, 4))
        .orderBy(col("r"))
    }),

    // pre-join planning: |orders ⋈ lineitem| estimated from two
    // INDEPENDENT one-pass sketches — neither fact table shuffles,
    // no join runs; min over rows of the counter inner products
    "x_join_size" -> ((s, d) =>
      Profiling.cmsJoinSize(
          // o_orderkey is unique: occurrence grain (no shuffle of the
          // fact table, pre-agg would buy nothing)
          Profiling.cmsSketch(t(s, d, "orders"), col("o_orderkey"),
            width = 65536, depth = 4),
          // l_orderkey repeats ~4x: hash distinct keys (see cmsSketch)
          Profiling.cmsSketch(t(s, d, "lineitem"), col("l_orderkey"),
            width = 65536, depth = 4, keyGrainPreAgg = true))
        .orderBy(col("r"))),

    // one-pass ANALYZE TABLE: row count, per-column nulls, KMV NDV
    // (exact below k=1024 distinct — l_suppkey/l_returnflag; bottom-k
    // estimate above — l_orderkey), numeric min/max, all from ONE agg
    "x_analyze" -> ((s, d) =>
      Profiling.analyzeTable(t(s, d, "lineitem"),
          Seq("l_orderkey", "l_suppkey", "l_returnflag"), k = 1024)
        .orderBy(col("column"))),

    // join-strategy advisor: counts + sketch estimate -> verdict; the
    // 1000-row broadcast budget forces the estimate-dependent branch
    // (neither side fits, est stays under the fanout ceiling ->
    // shuffle_hash)
    "x_join_plan" -> ((s, d) =>
      Profiling.joinPlan(t(s, d, "orders"), col("o_orderkey"),
        t(s, d, "lineitem"), col("l_orderkey"),
        width = 65536, depth = 4, broadcastRows = 1000L,
        fanoutFactor = 4.0,
        // l_orderkey repeats ~4x: hash distinct keys (see cmsSketch)
        bKeyGrainPreAgg = true)),

    // key-skew scalar: F2 = Σ f_k² (the self-join size) of the
    // lineitem join key from ONE sketch scan, no self-join
    "x_f2" -> ((s, d) => {
      // l_suppkey repeats ~600x: key-grain pre-agg (see cmsSketch)
      val sk = Profiling.cmsSketch(t(s, d, "lineitem"), col("l_suppkey"),
        width = 65536, depth = 4, keyGrainPreAgg = true)
      Profiling.cmsJoinSize(sk, sk).orderBy(col("r"))
    }),

    // filter-funnel telemetry: exact survivor counts per cumulative
    // stage (length bounds -> gopher rules -> quality floor) in ONE
    // aggregate scan of the corpus
    "x_funnel" -> ((s, d) => {
      val q = TextAnalysis.qualityScore(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("text"), col("n_chars"), col("quality"))
      TextAnalysis.filterFunnel(TextAnalysis.gopherRules(q, "text"), Seq(
          "len_ok" -> col("n_chars").between(150, 5000),
          "gopher" -> col("gopher_pass"),
          "quality" -> (col("quality") >= 0.55)))
        .orderBy(col("stage_idx"))
    }),

    "x_repetition" -> ((s, d) =>
      TextAnalysis.repetition(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // train docs sharing any 8-gram with the held-out set (doc_id % 37)
    "x_contam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Contamination.decontaminate(
          docs.filter(col("doc_id") % 37 =!= 0),
          docs.filter(col("doc_id") % 37 === 0),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    "x_unigram_lm" -> ((s, d) =>
      TextAnalysis.unigramLmScore(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // per-doc token entropy (lexical diversity): one explode + a
    // doc-partitioned window + one agg sharing the same Exchange
    "x_entropy" -> ((s, d) =>
      TextAnalysis.tokenEntropy(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // C4-style blocklist pass: occurrences of broadcast bad-list
    // terms per doc + the drop flag; zero-token docs keep n_hits=0
    "x_blocklist" -> ((s, d) =>
      TextAnalysis.blocklist(t(s, d, "documents"), "doc_id", "text",
          Seq("slow", "spam", "lorem"))
        .orderBy(col("doc_id"))),

    // interpolated bigram LM fluency score (Jelinek–Mercer λ=1/2
    // bigram + add-one unigram backoff): integer counts, IEEE
    // divisions, ln under the trig contract, decimal sums, round 6
    "x_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLmScore(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // OOV ratio vs the corpus's exact top-64 vocabulary: integer
    // counts + one IEEE division — engine-exact, no rounding
    "x_vocab_cov" -> ((s, d) =>
      TextAnalysis.vocabCoverage(t(s, d, "documents"), "doc_id", "text",
          vocabSize = 64)
        .orderBy(col("doc_id"))),

    "x_tfidf" -> ((s, d) =>
      TextAnalysis.tfidf(t(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy(col("doc_id"), col("term"))),

    "x_ngram_freq" -> ((s, d) =>
      TextAnalysis.ngramFreq(t(s, d, "documents"), "text", n = 3, k = 50)),

    // top bigram collocations by PMI lift (log-free ratio — engine
    // exact); counts cut to >= 5 before the c(a)/c(b) joins
    "x_pmi" -> ((s, d) =>
      TextAnalysis.pmiBigrams(t(s, d, "documents"), "text",
        minCount = 5, k = 50)),

    // TextRank keyterms: the pmiBigrams kernel feeds a co-occurrence
    // edge set, pageRank's engine-exact 2-iteration score ranks terms
    "x_textrank" -> ((s, d) =>
      TextAnalysis.textRank(t(s, d, "documents"), "text",
        minCount = 5, iters = 2, k = 20)),

    // corpus-wide adjacent-char pair counts (the first BPE merge
    // statistic): one tokenize scan + partial agg + TakeOrdered
    "x_bpe_pairs" -> ((s, d) =>
      TextAnalysis.bpePairs(t(s, d, "documents"), "text", k = 40)),

    // BPE merge-rule TRAINING (3 rounds): one corpus pass to the
    // word-frequency table, then each round = pair-count agg +
    // TakeOrdered(1) with only the winning pair on the driver
    "x_bpe_train" -> ((s, d) =>
      TextAnalysis.bpeTrain(t(s, d, "documents"), "text", merges = 3)
        .orderBy(col("rank"))),

    // train -> apply round trip: the 3 learned merges re-applied to
    // the corpus as one codegen projection; per-doc subword digest
    "x_bpe_apply" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", merges = 3)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeApply(docs, "text", merges)
        .select(col("doc_id"), col("n_bpe"),
          md5(concat_ws("|", col("bpe_tokens"))).as("digest"))
        .orderBy(col("doc_id"))
    }),

    // BM25 lexical retrieval: 3 queries against the corpus, top-10
    // each — one corpus tokenization, broadcast query/df/stats sides,
    // GroupedTopK bounded-heap cut (no full sort of scored docs)
    "x_bm25" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "spark window agg"), ("q2", "customer join order"),
        ("q3", "vector scan stream")).toDF("q_id", "qtext")
      Retrieval.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          qs, "q_id", "qtext", k = 10)
        .orderBy(col("q_id"), col("bm25").desc, col("doc_id"))
    }),

    // Dirichlet query-likelihood retrieval over the same queries: the
    // language-model ranking beside BM25 — matched-terms
    // decomposition, broadcast query constants, pruned postings
    "x_qlm" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "spark window agg"), ("q2", "customer join order"),
        ("q3", "vector scan stream")).toDF("q_id", "qtext")
      Retrieval.queryLikelihoodTopK(t(s, d, "documents"), "doc_id", "text",
          qs, "q_id", "qtext", k = 10, mu = 2000.0)
        .orderBy(col("q_id"), col("ql").desc, col("doc_id"))
    }),

    // BM25 over the MATERIALIZED inverted index (the standing-workload
    // path): per-call cost is postings scans only — no tokenization,
    // no corpus scan, stats from the sidecar. Same scores as x_bm25.
    "x_bm25_indexed" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "spark window agg"), ("q2", "customer join order"),
        ("q3", "vector scan stream")).toDF("q_id", "qtext")
      val (idx, stats) = bm25Index(s, d)
      Retrieval.bm25TopKIndexed(idx, stats, "doc_id", qs, "q_id", "qtext", k = 10)
        .orderBy(col("q_id"), col("bm25").desc, col("doc_id"))
    }),

    // day-2 INCREMENTAL index: base index over 3/4 of the corpus,
    // the last quarter folded in via updateIndex (delta-only
    // tokenize) — retrieval over the updated index is BIT-IDENTICAL
    // to the full-corpus indexed path, so the oracle is the same
    // full-corpus replay as x_bm25_indexed
    "x_bm25_incr" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "spark window agg"), ("q2", "customer join order"),
        ("q3", "vector scan stream")).toDF("q_id", "qtext")
      val docs = t(s, d, "documents")
      val base = docs.filter(col("doc_id") % 4 =!= 0)
      val delta = docs.filter(col("doc_id") % 4 === 0)
      val idx0 = Retrieval.invertedIndex(base, "doc_id", "text")
      val st0 = Retrieval.corpusStatsOf(base, "text")
      val (idx, st) = Retrieval.updateIndex(idx0, st0, delta, "doc_id", "text")
      Retrieval.bm25TopKIndexed(idx, st, "doc_id", qs, "q_id", "qtext", k = 10)
        .orderBy(col("q_id"), col("bm25").desc, col("doc_id"))
    }),

    // RAG context assembly end to end: the x_chunking chunks, BM25
    // chunk retrieval, greedy rank-order budget cut, order-sensitive
    // context digest per query
    "x_rag" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "spark window agg"), ("q2", "customer join order"),
        ("q3", "vector scan stream")).toDF("q_id", "qtext")
      val chunks = TextAnalysis.chunkDocuments(t(s, d, "documents"),
          "doc_id", "text", chunkTokens = 32, overlap = 8)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"), col("chunk_tokens"))
      Retrieval.ragContext(chunks, "chunk_id", "chunk_text", "chunk_tokens",
          qs, "q_id", "qtext", k = 10, tokenBudget = 120)
        .orderBy(col("q_id"))
    }),

    // RM3 pseudo-relevance feedback on the indexed path: top-5
    // feedback docs, 3 strongest new terms (total-tf weight, term-asc
    // ties), expanded-query BM25 — two pruned postings passes
    "x_bm25_prf" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "spark window agg"), ("q2", "customer join order"),
        ("q3", "vector scan stream")).toDF("q_id", "qtext")
      val (idx, stats) = bm25Index(s, d)
      Retrieval.bm25PrfTopK(idx, stats, "doc_id", qs, "q_id", "qtext",
          k = 10, fbDocs = 5, fbTerms = 3)
        .orderBy(col("q_id"), col("bm25").desc, col("doc_id"))
    }),

    // reciprocal-rank fusion of a BM25 top-20 list with a recency list
    // (doc_id desc — the crawl-freshness stand-in): rank-based, so no
    // score calibration; everything candidate-list sized
    "x_rrf" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(("q1", "spark window agg"), ("q2", "customer join order"),
        ("q3", "vector scan stream")).toDF("q_id", "qtext")
      val lex = Retrieval.rankWithin(
        Retrieval.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          qs, "q_id", "qtext", k = 20),
        "q_id", Seq(col("bm25").desc, col("doc_id")))
      val fresh = Retrieval.rankWithin(
        t(s, d, "documents").select("doc_id")
          .orderBy(col("doc_id").desc).limit(20)
          .crossJoin(qs.select("q_id")),
        "q_id", Seq(col("doc_id").desc))
      Retrieval.rrfFuse(
          Seq(lex.select("q_id", "doc_id", "rank"),
            fresh.select("q_id", "doc_id", "rank")),
          "q_id", "doc_id", k = 10)
        .orderBy(col("q_id"), col("rrf").desc, col("doc_id"))
    }),

    // ordered conversion funnel (view -> click -> purchase, first-touch
    // strict-after semantics): per stage one pushdown scan + one
    // user-keyed join + partial agg — no windows, no per-user state
    "x_conversion" -> ((s, d) =>
      EventAnalytics.conversionFunnel(events(s, d), col("user_id"), col("ts"),
          col("event_type"), Seq("view", "click", "purchase"))
        .orderBy(col("stage_idx"))),

    // weekly cohort retention triangle: cohort by first-event week,
    // distinct-active users per later week — the log collapses to
    // cohorts x weeks rows
    "x_cohort" -> ((s, d) =>
      EventAnalytics.cohortRetention(events(s, d), col("user_id"), col("ts"))
        .orderBy(col("cohort_week"), col("week_offset"))),

    // PageRank over a deterministic synthetic link graph (doc_id
    // modular edges), 2 iterations: decimal-accumulated inflow sums
    // and interpolated-exact damping constants — bit-replayable
    "x_pagerank" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      Graph.pageRank(edges, "src", "dst", iters = 2)
        .orderBy(col("node"))
    }),

    // Delta-style MERGE: upserts (updates + inserts) and deletes
    // applied to the documents snapshot in one anti-join + union
    "x_apply_changes" -> ((s, d) => {
      val base = t(s, d, "documents")
      val upd = base.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
        .withColumn("op", lit("upsert"))
      val ins = base.filter(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
        .withColumn("op", lit("upsert"))
      val del = base.filter(col("doc_id") % 13 === 0 && col("doc_id") % 10 =!= 0)
        .withColumn("op", lit("delete"))
      Snapshot.applyChanges(base, upd.unionByName(ins).unionByName(del),
          "doc_id")
        .select(col("doc_id"), md5(col("text")).as("content"))
        .orderBy(col("doc_id"))
    }),

    // personalized PageRank from the %5 seed set: teleports (and
    // dangling mass) land on seeds only — topic-relative authority
    "x_ppr" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      val seeds = edges.select(col("src").as("seed"))
        .filter(col("seed") % 5 === 0).distinct()
      Graph.personalizedPageRank(edges, "src", "dst", seeds, "seed", iters = 2)
        // 12 digits: the 18-decimal iteration grid rounds its 19th
        // digit differently across engines on PPR's 1/seedCount masses
        .select(col("node"), round(col("rank"), 12).as("rank"))
        .orderBy(col("node"))
    }),

    // HITS hubs/authorities over the same synthetic link graph —
    // directories vs content; 2 L1-normalized iterations, 18-decimal
    // inflow sums, every value engine-replayed
    "x_hits" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      Graph.hits(edges, "src", "dst", iters = 2)
        .orderBy(col("node"))
    }),

    // synchronous label propagation over the same link graph —
    // community detection (mirror networks / spam farms as dense
    // subgraphs); integer counts + smallest-label tie-break, so the
    // 3-iteration unroll replays exactly
    "x_lpa" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      Graph.labelPropagation(edges, "src", "dst", iters = 3)
        .orderBy(col("node"))
    }),

    // burstiness + memory of inter-arrival gaps per event type (Goh-
    // Barabási): periodic bots read B near -1, bursty humans B>0 with
    // M>0; exact integer gap moments, two closing sqrt/divide chains
    "x_burstiness" -> ((s, d) =>
      EventAnalytics.burstiness(events(s, d), col("event_type"),
        col("ts"), col("event_id"))),

    // degree assortativity of the link graph (Newman 2002): hubs-to-
    // hubs vs hubs-to-leaves in one exact-Pearson number over the
    // symmetrized edge list
    "x_assortativity" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      Graph.assortativity(edges, "src", "dst")
    }),

    // per-community Newman modularity of the x_lpa partition — the
    // acceptance read on a community assignment (≈0 = no better than
    // random): exact integer m_c/d_c/m, per-row fixed IEEE q_part
    "x_modularity" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      val labels = Graph.labelPropagation(edges, "src", "dst", iters = 3)
      Graph.modularity(edges, "src", "dst", labels, "node", "label")
        .orderBy(col("community"))
    }),

    // global modularity Q as one exact-rational row (order-free:
    // (4m·Σm_c − Σd_c²)/(4m²), single closing division)
    "x_modularity_g" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      val labels = Graph.labelPropagation(edges, "src", "dst", iters = 3)
      Graph.modularityGlobal(edges, "src", "dst", labels, "node", "label")
    }),

    // coreness by 3 iterated-h-index rounds over the same link graph:
    // each round one neighbor join + degree-bounded h-index windows,
    // all-integer — the monotone upper bound on exact k-core depth
    "x_coreness" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      Graph.corenessHIndex(edges, "src", "dst", iters = 3)
        .orderBy(col("node"))
    }),

    // triangle census + global clustering over the same link graph:
    // degree-ordered orientation (wedges enumerate at the low vertex,
    // fan-out bounded by oriented out-degree), one closing-edge join
    "x_triangles" -> ((s, d) => {
      val edges = t(s, d, "documents").select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst")).distinct()
      Graph.triangleStats(edges, "src", "dst")
    }),

    // data-quality contracts: the scan-fused check table + uniqueness
    // + referential integrity, unioned into one audit report
    "x_checks" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val scanChecks = Checks.runChecks(li, Seq(
        Checks.notNull("l_orderkey", "l_partkey"),
        Checks.inRange("l_discount", 0.0, 0.1),
        Checks.inRange("l_quantity", 1.0, 50.0),
        Checks.satisfies("charges_order",
          col("l_extendedprice") >= col("l_discount")),
        Checks.isIn("l_returnflag", Seq("A", "N", "R"))))
      scanChecks
        .unionByName(Checks.uniqueness(li, Seq("l_orderkey", "l_linenumber")))
        .unionByName(Checks.referential(li, "l_orderkey",
          t(s, d, "orders"), "o_orderkey"))
        .orderBy(col("check"))
    }),

    // exact two-sample KS drift statistic: even- vs odd-order price
    // distributions; distinct-value counts + the distributed prefix
    // scan CDFs + a 1-row TakeOrdered sup
    "x_ks" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      Profiling.ksTest(li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_extendedprice")
    }),

    // exact 1-Wasserstein drift — x_ks's magnitude companion on the
    // same even/odd price halves: how much mass moved how far, in
    // price units; value-collapse agg + prefix-scan CDFs + the fused
    // lag scan for gaps, 2^-40 grid total
    "x_wasserstein" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      Profiling.wasserstein1(li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_extendedprice")
    }),

    // categorical association audit: is `source` just `lang` in
    // disguise? chi2 + Cramér's V + MI + BOTH Theil's U off ONE
    // contingency partial agg, zero-cell-free chi2 identity
    "x_assoc" -> ((s, d) =>
      Profiling.associationAudit(t(s, d, "documents"), "lang", "source")),

    // one-way ANOVA F: does mean doc length differ by language?
    // per-group exact-decimal moments, grid group sums, one F
    "x_anova" -> ((s, d) =>
      Profiling.anovaF(t(s, d, "documents"), "lang",
        col("n_chars").cast("double"))),

    // Kruskal–Wallis H: the rank-based sibling for the same read —
    // global avg ranks off the rowid sort, tie-corrected
    "x_kruskal" -> ((s, d) =>
      Profiling.kruskalWallis(t(s, d, "documents"), "lang",
        col("n_chars").cast("double"))),

    // entropy rate of the event chain: predictability in one number
    // (pi-weighted next-event entropy; near-zero = scripted traffic)
    "x_markov_entropy" -> ((s, d) => {
      val tm = EventAnalytics.transitionMatrix(events(s, d), col("user_id"),
        col("ts"), col("event_type"), col("event_id"))
      EventAnalytics.markovEntropyRate(tm, "from_type", "to_type", "p",
        iters = 3)
    }),

    // Kish effective sample size of an n_chars-weighted corpus: the
    // honest n (and design effect) behind any weighted mean
    "x_ess" -> ((s, d) =>
      Sampling.effectiveSampleSize(t(s, d, "documents"),
        col("n_chars").cast("double"))),

    // two-proportion z: did the keep-rate of the length rule move
    // between the even/odd eras? signed direction + pooled-SE z
    "x_two_prop" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.twoProportionTest(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), col("n_chars") >= 300L)
    }),

    // CMH stratified rate test: the same keep-rate comparison
    // CONTROLLED for language — the Simpson's-paradox guard on
    // x_two_prop's pooled read
    "x_cmh" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.cmhTest(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang",
        col("n_chars") >= 300L)
    }),

    // Cramér–von Mises drift: the whole-CDF read between KS's sup
    // and W1's mass transport — squared CDF gaps weighted by pooled
    // multiplicity, same prefix-scan machinery
    "x_cvm" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      Profiling.cramerVonMises(li.filter(col("l_orderkey") % 2 === 0),
        li.filter(col("l_orderkey") % 2 === 1), "l_extendedprice")
    }),

    // per-language KS drift report: which strata moved between the
    // halves, stratum-partitioned CDF windows, per-stratum sup
    "x_gks" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.groupedKs(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang", "n_chars")
        .orderBy(col("stratum"))
    }),

    // per-language Wasserstein drift report: which strata moved AND
    // by how much, in characters — groupedKs's magnitude sibling
    "x_gwasserstein" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.groupedWasserstein(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang", "n_chars")
        .orderBy(col("stratum"))
    }),

    // behavioral drift between log eras: per from-state JSD of the
    // next-event distributions (even/odd user_id cohorts)
    "x_markov_drift" -> ((s, d) => {
      val ev = events(s, d)
      EventAnalytics.transitionDrift(ev.filter(col("user_id") % 2 === 0),
          ev.filter(col("user_id") % 2 === 1), col("user_id"), col("ts"),
          col("event_type"), col("event_id"))
        .orderBy(col("from_type"))
    }),

    // BH-FDR over the per-language KS family: Smirnov asymptotic
    // p = min(1, 2·exp(−2·(n1·n2/(n1+n2))·ks²)) per stratum, then the
    // step-up rule at α=0.05 — the multiple-testing guard on x_gks
    "x_bh_fdr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pv = Profiling.groupedKs(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang", "n_chars")
        .withColumn("p", least(lit(1.0), lit(2.0) * exp(lit(-2.0) *
          (col("n1").cast("double") * col("n2").cast("double") /
            (col("n1") + col("n2")).cast("double")) * col("ks") * col("ks"))))
        .select(col("stratum"), col("p"))
      Profiling.benjaminiHochberg(pv, "stratum", "p", alpha = 0.05)
        .orderBy(col("rank"))
    }),

    // PSI drift over reference deciles: doc-length stability between
    // the even- and odd-id halves (Laplace-smoothed, floor-grid sum)
    "x_psi" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.psi(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "n_chars", nBins = 10)
    }),

    // chi-square homogeneity of the language mix between the halves
    "x_chi2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Profiling.chiSquareTest(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang")
    }),

    // Kaplan–Meier survival over user lifetimes: censoring-aware
    // retention (users still active at the log edge are censored,
    // not dead); at-risk via reverse cumulative, survival via
    // exp(grid-sum of ln terms)
    "x_km" -> ((s, d) =>
      EventAnalytics.kaplanMeier(events(s, d), col("user_id"), col("ts"),
          censorMargin = "1 hour")
        .orderBy(col("t"))),

    // Nelson-Aalen cumulative hazard over user lifetimes: the churn-
    // rate dual of x_km (a bend in H(t) = a mortality regime change);
    // same at-risk window, d/n terms on the 2^40 grid
    "x_nelson" -> ((s, d) =>
      EventAnalytics.nelsonAalen(events(s, d), col("user_id"), col("ts"),
        censorMargin = "1 hour").orderBy(col("t"))),

    // restricted mean survival time to 2 days: the one-number cohort
    // lifetime read off the KM curve (defined even when the median
    // isn't); day-scale areas on the 2^40 grid
    "x_rmst" -> ((s, d) =>
      EventAnalytics.rmst(events(s, d), col("user_id"), col("ts"),
        tauMs = 172800000L, censorMargin = "1 hour")),

    // log-rank survival comparison between even/odd-user cohorts: the
    // censoring-aware "did retention change" read on top of x_km —
    // exact integer at-risk tables, 2^40-grid E/V sums, one z chain
    "x_logrank" -> ((s, d) =>
      EventAnalytics.logRank(events(s, d), col("user_id"), col("ts"),
        col("user_id") % 2 === 0, censorMargin = "1 hour")),

    // difference-in-differences on event value: treated = even users,
    // post = the log's second half — the time-confound-netted read of
    // a cohort change
    "x_did" -> ((s, d) => {
      val ev = events(s, d)
      val mm = ev.agg(min("ts"), max("ts")).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      val cut = new java.sql.Timestamp(t0 + (t1 - t0) / 2)
      Profiling.diffInDiff(ev, col("user_id") % 2 === 0,
        col("ts") >= lit(cut), col("value"))
    }),

    // CUPED variance-reduced A/B lift: treated = even users, the
    // pre-period covariate = each user's first-half event count, the
    // outcome = second-half count — exact long sufficient statistics
    // from one unit agg + one global agg, lift algebra on one row
    "x_cuped" -> ((s, d) => {
      val ev = events(s, d)
      val mm = ev.agg(min("ts"), max("ts")).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      val cut = new java.sql.Timestamp(t0 + (t1 - t0) / 2)
      Profiling.cupedLift(ev, col("user_id"), col("user_id") % 2 === 0,
        when(col("ts") < lit(cut), 1L).otherwise(0L),
        when(col("ts") >= lit(cut), 1L).otherwise(0L))
    }),

    // delta-method ratio-metric z-test: purchases-per-view between
    // even/odd user arms — unit-grain exact sums, per-arm delta
    // variance, single-row IEEE chain
    "x_ratio_delta" -> ((s, d) =>
      Profiling.ratioMetricTest(events(s, d), col("user_id"),
        col("user_id") % 2 === 0,
        when(col("event_type") === "view", 1L).otherwise(0L),
        when(col("event_type") === "purchase", 1L).otherwise(0L))),

    // Wald SPRT per event type: H0 p=0.18 vs H1 p=0.22 on the
    // deterministic user_id%5 success flag, hourly buckets, default
    // alpha=beta=0.05 bounds; LLR quantized to the round-6 grid
    // before every crossing comparison
    "x_sprt" -> ((s, d) =>
      EventAnalytics.sprt(events(s, d), col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L).cast("long"),
          col("user_id") % 5 === 0, p0 = 0.18, p1 = 0.22)
        .orderBy(col("key"))),

    // STREAMING SPRT monitor, batch-twin: the log folded in three
    // ARBITRARY batches (event_id%3 — bucket straddling is fine, the
    // level fold is exact addition) through the standing level table;
    // the standing verdict is the batch x_sprt bit for bit (same
    // oracle)
    "s_sprt" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_sprtstream").toString
      val ev = events(s, d)
      (0L to 2L).foreach { b =>
        graft.streaming.SprtStream.mergeBatch(
          ev.filter(pmod(col("event_id"), lit(3L)) === b),
          col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L).cast("long"),
          col("user_id") % 5 === 0, dir, b)
      }
      graft.streaming.SprtStream.standingVerdict(s, dir, p0 = 0.18, p1 = 0.22)
        .orderBy(col("key"))
    }),

    // first-order Markov transition matrix over per-user event
    // sequences: one lag window (bounded user partitions), pair
    // counts to <= k^2 rows, exact row-total divisions
    "x_markov" -> ((s, d) =>
      EventAnalytics.transitionMatrix(events(s, d), col("user_id"),
          col("ts"), col("event_type"), col("event_id"))
        .orderBy(col("from_type"), col("to_type"))),

    // STREAMING Markov monitor, batch twin: the log folded in three
    // event-time batches through the standing (pair counts + per-user
    // tail) state; the LAST emission is row-identical to x_markov —
    // boundary pairs (a user's last event of batch N, first of N+1)
    // are exactly what the state exists to keep
    "s_markov" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_markovstream").toString
      val ev = events(s, d)
      val mm = ev.agg(min("ts"), max("ts")).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      val cut1 = new java.sql.Timestamp(t0 + (t1 - t0) / 3)
      val cut2 = new java.sql.Timestamp(t0 + 2 * (t1 - t0) / 3)
      val batches = Seq(
        ev.filter(col("ts") < lit(cut1)),
        ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2)),
        ev.filter(col("ts") >= lit(cut2)))
      batches.zipWithIndex.map { case (b, i) =>
        graft.streaming.MarkovStream.foldBatch(b, dir, i.toLong,
          "user_id", "ts", "event_type", "event_id")
      }.last.orderBy(col("from_type"), col("to_type"))
    }),

    // stationary distribution of that chain by 3 power iterations:
    // k-row joins + 18-decimal inflow sums (the pageRank recipe) —
    // the log is consumed once by the matrix, never by the iteration
    "x_markov_pi" -> ((s, d) => {
      val tm = EventAnalytics.transitionMatrix(events(s, d), col("user_id"),
        col("ts"), col("event_type"), col("event_id"))
      EventAnalytics.markovStationary(tm, "from_type", "to_type", "p",
          iters = 3)
        .orderBy(col("state"))
    }),

    // windowed event anomalies: hourly per-type counts, per-type
    // exact median/MAD over windows, robust z flags at 3.5
    "x_anomaly" -> ((s, d) =>
      EventAnalytics.anomalousWindows(events(s, d), "1 hour", k = 3.5)
        .orderBy(col("event_type"), col("wstart"))),

    // one-sided CUSUM change points: gap-filled per-type hourly
    // series, S_t = max(0, S_{t-1} + n - 4) via the prefix-min
    // identity, flag at h=8 — all-integer, bit-exact replay
    "x_cusum" -> ((s, d) =>
      EventAnalytics.cusumChangePoints(events(s, d), "1 hour", k = 4L, h = 8L)
        .orderBy(col("event_type"), col("wstart"))),

    // downward CUSUM: the quiet-source alarm — sustained windows
    // BELOW the k=2 allowance accumulate (y = 2 - n) and flag at h=6;
    // an upper test never sees a silent stall
    "x_cusum_down" -> ((s, d) =>
      EventAnalytics.cusumChangePoints(events(s, d), "1 hour",
          k = 2L, h = 6L, direction = "down")
        .orderBy(col("event_type"), col("wstart"))),

    // truncated-EWMA control chart (alpha=1/2, horizon 16) over the
    // same gap-filled hourly spine: dyadic weights make every value
    // bit-exact on any IEEE engine; surge alarm n > 4*e_prev + 4.
    // Per-type rollup: hours, the chart's final level, alarm count
    "x_ewma" -> ((s, d) =>
      EventAnalytics.ewmaChart(events(s, d), "1 hour",
          horizon = 16, mult = 4L, guard = 4L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("hours"),
          max(struct(col("wstart"), col("ewma")))
            .getField("ewma").as("last_ewma"),
          sum(when(col("alarm"), 1L).otherwise(0L)).as("alarms"))
        .orderBy(col("event_type"))),

    // STREAMING EWMA, batch twin: the event log processed as three
    // hour-aligned time batches folded through the standing per-type
    // dyadic level state; the emitted trace is row-identical to the
    // batch operator, so the same rollup replays x_ewma's oracle
    "s_ewma" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ewmastream").toString
      val ev = events(s, d)
      val mm = ev.agg(min("ts"), max("ts")).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      def hourFloor(ms: Long) = (ms / 3600000L) * 3600000L
      val cut1 = new java.sql.Timestamp(hourFloor(t0 + (t1 - t0) / 3))
      val cut2 = new java.sql.Timestamp(hourFloor(t0 + 2 * (t1 - t0) / 3))
      val batches = Seq(
        ev.filter(col("ts") < lit(cut1)),
        ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2)),
        ev.filter(col("ts") >= lit(cut2)))
      batches.zipWithIndex
        .map { case (b, i) =>
          graft.streaming.EwmaStream.foldBatch(b, dir, i.toLong,
            "1 hour", horizon = 16, mult = 4L, guard = 4L) }
        .reduce(_.unionByName(_))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("hours"),
          max(struct(col("wstart"), col("ewma")))
            .getField("ewma").as("last_ewma"),
          sum(when(col("alarm"), 1L).otherwise(0L)).as("alarms"))
        .orderBy(col("event_type"))
    }),

    // interval-OVERLAP join, bucket topology with one-bin-ownership
    // dedup (each pair claimed by the bin holding max(lo_l, lo_r)):
    // view spans x error spans per user, rolled up to pair counts and
    // total overlap seconds — the oracle replays the quadratic join
    "x_interval_join" -> ((s, d) => {
      val ev = events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_timestamp(col("ts")).as("v_lo"))
        .withColumn("v_hi", col("v_lo") + lit(600L))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), unix_timestamp(col("ts")).as("e_lo"))
        .withColumn("e_hi", col("e_lo") + lit(900L))
      RangeJoin.intervalOverlap(views, "v_lo", "v_hi",
          errs, "e_lo", "e_hi", binWidth = 1024L, keys = Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("pairs"),
          sum(least(col("v_hi"), col("e_hi"))
            - greatest(col("v_lo"), col("e_lo"))).as("overlap_sec"))
        .orderBy(col("user_id"))
    }),

    // STREAMING CUSUM, batch twin: the event log processed as three
    // hour-aligned time batches folded through the standing per-type
    // state; the emitted trace is row-identical to the batch operator,
    // so this reuses x_cusum's oracle verbatim
    "s_cusum" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_cusumstream").toString
      val ev = events(s, d)
      val mm = ev.agg(min("ts"), max("ts")).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      def hourFloor(ms: Long) = (ms / 3600000L) * 3600000L
      val cut1 = new java.sql.Timestamp(hourFloor(t0 + (t1 - t0) / 3))
      val cut2 = new java.sql.Timestamp(hourFloor(t0 + 2 * (t1 - t0) / 3))
      val batches = Seq(
        ev.filter(col("ts") < lit(cut1)),
        ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2)),
        ev.filter(col("ts") >= lit(cut2)))
      batches.zipWithIndex
        .map { case (b, i) =>
          graft.streaming.CusumStream.foldBatch(b, dir, i.toLong,
            "1 hour", k = 4L, h = 8L) }
        .reduce(_.unionByName(_))
        .orderBy(col("event_type"), col("wstart"))
    }),

    // the DOWN twin: same three time-ordered folds with the batch
    // operator's y = k - n (k=2, h=6) — x_cusum_down's oracle verbatim
    "s_cusum_down" -> ((s, d) => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_cusumdstream").toString
      val ev = events(s, d)
      val mm = ev.agg(min("ts"), max("ts")).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      def hourFloor(ms: Long) = (ms / 3600000L) * 3600000L
      val cut1 = new java.sql.Timestamp(hourFloor(t0 + (t1 - t0) / 3))
      val cut2 = new java.sql.Timestamp(hourFloor(t0 + 2 * (t1 - t0) / 3))
      val batches = Seq(
        ev.filter(col("ts") < lit(cut1)),
        ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2)),
        ev.filter(col("ts") >= lit(cut2)))
      batches.zipWithIndex
        .map { case (b, i) =>
          graft.streaming.CusumStream.foldBatch(b, dir, i.toLong,
            "1 hour", k = 2L, h = 6L,
            direction = "down") }
        .reduce(_.unionByName(_))
        .orderBy(col("event_type"), col("wstart"))
    }),

    // JSON sidecar-metadata extraction: typed fields out of the
    // props blob via codegen get_json_object (no UDF), then ordinary
    // aggregates over the extracted column
    "x_props" -> ((s, d) =>
      EventAnalytics.propExtract(t(s, d, "events"), col("props"),
          Seq("k" -> ("$.k", "bigint")))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    // most common 3-step opening paths: one user-partitioned window,
    // in-agg sort_array rebuild, partial-agg count + TakeOrdered
    "x_paths" -> ((s, d) =>
      EventAnalytics.topPaths(events(s, d), col("user_id"), col("ts"),
          col("event_type"), col("event_id"), steps = 3, k = 20)),

    // ---- as-of join -----------------------------------------------------
    // for every non-purchase event, the value of the user's most recent
    // purchase at-or-before it (union-merge: one shuffle on user_id)
    "x_asof" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("purchase_value"))
      val rest = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      AsofJoin.asof(rest, purchases, by = Seq("user_id"), on = "ts",
          valueCols = Seq("purchase_value"))
        .select("event_id", "user_id", "event_type", "value", "purchase_value")
        .orderBy(col("event_id"))
    }),

    // nearest-direction as-of: both directional fills over ONE shuffle
    // on user_id, equal distances take the backward match (pandas
    // merge_asof nearest semantics)
    "x_asof_nearest" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("purchase_value"))
      val rest = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      AsofJoin.asof(rest, purchases, by = Seq("user_id"), on = "ts",
          valueCols = Seq("purchase_value"), direction = "nearest")
        .select("event_id", "user_id", "event_type", "value", "purchase_value")
        .orderBy(col("event_id"))
    }),

    // same join bounded by a 1-hour tolerance: matches farther back are
    // nulled (pandas merge_asof tolerance semantics)
    "x_asof_tol" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("purchase_value"))
      val rest = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      AsofJoin.asof(rest, purchases, by = Seq("user_id"), on = "ts",
          valueCols = Seq("purchase_value"),
          tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select("event_id", "user_id", "event_type", "value", "purchase_value")
        .orderBy(col("event_id"))
    }),

    // GLOBAL as-of (no by key): every non-purchase event against the
    // corpus-wide purchase timeline. asofGlobal stays distributed via
    // hourly bins of the on domain — no single global window over the
    // data (the keyed asof refuses empty `by` outright).
    "x_asof_global" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("ts").agg(max_by(col("value"), col("event_id")).as("gp_value"))
      val rest = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      AsofJoin.asofGlobal(rest, purchases, on = "ts",
          valueCols = Seq("gp_value"))(
          c => floor(unix_micros(c) / lit(3600L * 1000000L)).cast("long"))
        .select("event_id", "user_id", "event_type", "value", "gp_value")
        .orderBy(col("event_id"))
    }),

    // keyless NEAREST as-of over the global timeline: dual carries
    // (latest-earlier + earliest-later edges) through the tiny bin
    // table, dual windows within bins — still one data shuffle
    "x_asof_global_nearest" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("ts").agg(max_by(col("value"), col("event_id")).as("gp_value"))
      val rest = ev.filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type", "value")
      AsofJoin.asofGlobal(rest, purchases, on = "ts",
          valueCols = Seq("gp_value"), direction = "nearest")(
          c => floor(unix_micros(c) / lit(3600L * 1000000L)).cast("long"))
        .select("event_id", "user_id", "event_type", "value", "gp_value")
        .orderBy(col("event_id"))
    }),

    // ---- streaming batch-equivalents ------------------------------------
    "s_window_agg" -> ((s, d) =>
      EventStreams.windowedAgg(events(s, d), "1 hour")
        .orderBy(col("wstart"), col("event_type"))),

    // per-user hourly rate limit (batch twin of the stateful stream
    // form): admission by event-time rank — retry-safe throttling
    "s_ratelimit" -> ((s, d) =>
      EventStreams.rateLimitBatch(events(s, d), n = 5, windowMinutes = 60)
        .select("event_id", "user_id", "window_start", "admitted")
        .orderBy(col("event_id"))),

    // sliding windows (2h length / 1h slide): every event contributes
    // to exactly two hour-aligned windows; the oracle replays the
    // window assignment by unnesting both starts per event
    "s_window_slide" -> ((s, d) =>
      EventStreams.windowedAgg(events(s, d), "2 hours", slide = Some("1 hour"))
        .orderBy(col("wstart"), col("event_type"))),

    // batch equivalent of streaming dedup: duplicate the stream, drop
    // duplicates by key (identical full rows, so the kept row is
    // deterministic), count per user
    "s_dedup" -> ((s, d) => {
      val ev = events(s, d).select("event_id", "user_id", "event_type")
      graft.core.Bind.rows(ev, ev)
        .dropDuplicates("event_id")
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // batch equivalent of the stream-stream interval join: clicks with
    // the same user's purchases in the trailing hour
    "s_interval_join" -> ((s, d) => {
      val ev = events(s, d)
      EventStreams.intervalJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          windowMinutes = 60)
        .groupBy(col("l_event_id").as("event_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("r_value").cast("decimal(28,6)")).cast("double").as("total_purchase"))
        .orderBy(col("event_id"))
    }),

    // batch equivalent of the stream-static broadcast enrichment:
    // events keyed into the nation dim, rolled up per nation
    "s_enrich" -> ((s, d) =>
      EventStreams.enrichStatic(events(s, d), t(s, d, "nation"),
          pmod(col("user_id"), lit(25)), col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("total_value"))
        .orderBy(col("n_name"))),

    "s_sessionize" -> ((s, d) =>
      EventStreams.sessionizeBatch(events(s, d), gapMinutes = 30)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"))
        .orderBy(col("user_id"), col("session_id"))),

    // streaming corpus-admission batch twin: bloom-probe + sliver
    // anti-join against the standing corpus keys — only genuinely new
    // content admitted
    "s_admit" -> ((s, d) => {
      val corpus = t(s, d, "documents")
      val batch = corpus.select(
        (col("doc_id") + lit(1000000000L)).as("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" fresh content"))).otherwise(col("text"))
          .as("text"))
      graft.streaming.CorpusDedupStream.admitNewBatch(batch, corpus,
          md5(col("text")), md5(col("text")), expectedItems = 5000L)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // NATIVE session_window sessionization (engine-owned state) —
    // batch mode here; StreamingSpec drives the same call as a
    // watermarked stream
    "s_session_window" -> ((s, d) =>
      EventStreams.sessionizeWindowed(events(s, d), gapMinutes = 30)
        .orderBy(col("user_id"), col("session_start"))),

    // Streaming first-wins LSH near-dup — the batch twin carries the
    // oracle (like s_sessionize); StreamingSpec proves the stateful
    // stream path emits identical verdicts across microbatches.
    "s_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"), col("text"))
      graft.streaming.NearDupStream.nearDupBatch(docs).orderBy(col("doc_id"))
    }),

    // Zipf's-law OLS fit over the top-200 term frequencies: one
    // tokenize scan + one term-count shuffle + TakeOrdered; decimal-
    // exact OLS sums in a single 1-row agg
    "x_zipf" -> ((s, d) =>
      TextAnalysis.zipfFit(t(s, d, "documents"), "text", topN = 200)),

    // Heaps'-law vocabulary growth: V(N) at 10 token-count checkpoints
    // in deterministic (doc_id, position) stream order + the shared
    // log-log OLS fit (beta, ln_k) — Zipf checks the head of the term
    // distribution, this checks the tail-growth rate
    "x_heaps" -> ((s, d) =>
      TextAnalysis.heapsLaw(t(s, d, "documents"), "doc_id", "text",
          checkpoints = 10)
        .orderBy(col("ckpt"))),

    // per-doc cross-document novelty: fraction of the doc's distinct
    // 3-token shingles appearing in NO other document — shingle
    // doc-frequency by partial agg, join back, per-doc agg; no pairs
    "x_novelty" -> ((s, d) =>
      TextAnalysis.crossDocNovelty(t(s, d, "documents"), "doc_id", "text",
          w = 3)
        .orderBy(col("doc_id"))),

    // cluster-balanced diversity subsample: 1-iter Lloyd centroids →
    // broadcast-argmin assignment → seeded-md5 top-3 per cluster via
    // the GroupedTopK operator (bounded heaps, no corpus window)
    "x_diverse" -> ((s, d) =>
      Sampling.diversitySample(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, dims = 64, iters = 1, perCluster = 3, seed = 11L)
        .orderBy(col("cid"), col("pick"))),

    // greedy longest-match subword vocabulary application — the
    // WordPieceCountExpr codegen kernel, one scan, no shuffle
    "x_subword" -> ((s, d) =>
      TextAnalysis.subwordTokenize(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // product-quantization ADC retrieval: 4 subspace codebooks
    // (per-subspace Lloyd), literal-argmin encode, in-plan query LUT,
    // m broadcast joins + TakeOrdered — corpus scanned once, 0 shuffles
    "x_pq" -> ((s, d) =>
      Similarity.pqTopKAdc(t(s, d, "embeddings"), "vec_id", "embedding",
          dims = 64, m = 4, ksub = 8, iters = 1,
          queryDf = queryFrame(s, d), k = 10)
        .select(col("vec_id"), col("adc"), col("rank"))
        .orderBy(col("rank"))),

    // IVF-PQ (IVFADC) — the FAISS billion-scale composition: coarse
    // cells prune the corpus, PQ codes over RESIDUALS score the
    // probed slice; every stage (md5-ranked coarse centroids,
    // assignment argmin, residuals, per-subspace Lloyd codebooks,
    // literal-argmin encode, per-cell query-residual LUT, ADC cut)
    // replays bit-exact in the oracle
    "x_ann_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
          dims = 64, nLists = 8, nProbe = 1, m = 4, ksub = 8, iters = 1,
          queryDf = queryFrame(s, d), k = 10)
        .select(col("vec_id"), col("adc"), col("rank"))
        .orderBy(col("rank"))),

    // IVF-PQ recall@10 vs the same exact truth: what nProbe=1 coarse
    // pruning PLUS residual compression jointly spend — read against
    // x_pq_recall (flat PQ, no pruning) to split the two losses
    "x_ivfpq_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = queryFrame(s, d)
      val ret = Similarity.ivfPqTopK(e, "vec_id", "embedding",
          dims = 64, nLists = 8, nProbe = 1, m = 4, ksub = 8, iters = 1,
          queryDf = q, k = 10)
        .select(lit(0L).as("query_id"), col("vec_id").as("neighbor_id"))
      val truth = e
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("__v"))
        .crossJoin(broadcast(q))
        .withColumn("__d", Similarity.l2(col("__v"), col("qv")))
        .orderBy(col("__d").asc, col("neighbor_id")).limit(10)
        .select(lit(0L).as("query_id"), col("neighbor_id"))
      Similarity.recallAtK(truth, ret)
    }),

    // multi-query IVFADC — the query-batched serving shape: index,
    // residual encode, and codebooks built ONCE; per-query probe
    // lists over the broadcast centroid table; per-(query,cell) LUT
    // FRAME broadcast-joined to the encoded corpus; GroupedTopK cut
    "x_ann_ivfpq_multi" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.ivfPqTopKJoin(e, "vec_id", "embedding",
          dims = 64, nLists = 8, nProbe = 2, m = 4, ksub = 8, iters = 1,
          queries = e.filter(col("vec_id") < 3), qid = "vec_id",
          qvec = "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // multi-query IVFADC recall@10 vs per-query exact L2 truth — the
    // eval-harness read over the batched retrieval
    "x_ivfpq_recall_multi" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      val ret = Similarity.ivfPqTopKJoin(e, "vec_id", "embedding",
          dims = 64, nLists = 8, nProbe = 2, m = 4, ksub = 8, iters = 1,
          queries = e.filter(col("vec_id") < 3), qid = "vec_id",
          qvec = "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val truth = e
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("__v"))
        .crossJoin(broadcast(qs))
        .withColumn("__d", Similarity.l2(col("__v"), col("qv")))
        .withColumn("__rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("__d").asc, col("neighbor_id"))))
        .filter(col("__rk") <= 10)
        .select("query_id", "neighbor_id")
      Similarity.recallAtK(truth, ret).orderBy(col("query_id"))
    }),

    // serving from the MATERIALIZED index: codes partitioned by
    // list_id (probe filter = directory pruning), sidecar
    // centroids/codebooks — bit-identical to the in-plan chain
    "x_ann_ivfpq_idx" -> ((s, d) => {
      val path = ivfPqIndexCached(s, d, incr = false)
      Similarity.ivfPqTopKJoinFromIndex(s, path,
          t(s, d, "embeddings").filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 10, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // day-2 incremental: index built on the EVEN vectors, odd batch
    // appended against the stored centroids/codebooks — the oracle
    // replays the whole chain with training restricted to evens
    "x_ann_ivfpq_incr" -> ((s, d) => {
      val path = ivfPqIndexCached(s, d, incr = true)
      Similarity.ivfPqTopKJoinFromIndex(s, path,
          t(s, d, "embeddings").filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 10, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // PQ recall@10 vs the exact L2 ground truth — how much retrieval
    // quality the m=4/ksub=8 compression spends (the tuning read
    // before choosing codebook sizes at corpus scale)
    "x_pq_recall" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = queryFrame(s, d)
      val pq = Similarity.pqTopKAdc(e, "vec_id", "embedding",
          dims = 64, m = 4, ksub = 8, iters = 1, queryDf = q, k = 10)
        .select(lit(0L).as("query_id"), col("vec_id").as("neighbor_id"))
      val truth = e
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").cast("array<double>").as("__v"))
        .crossJoin(broadcast(q))
        .withColumn("__d", Similarity.l2(col("__v"), col("qv")))
        .orderBy(col("__d").asc, col("neighbor_id")).limit(10)
        .select(lit(0L).as("query_id"), col("neighbor_id"))
      Similarity.recallAtK(truth, pq)
    }),

    // Z-order (Morton) clustering key over (o_custkey, o_orderkey):
    // integer-exact bucketize (ONE min/max agg scan) + codegen bit
    // interleave — the multi-dimensional data-skipping layout key;
    // zorderWrite lays files along this value (ZOrderSpec proves the
    // footer-pruning win)
    "x_zorder" -> ((s, d) =>
      graft.functions.ZOrder.withZValue(t(s, d, "orders"),
          Seq("o_custkey", "o_orderkey"), bits = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("zval"))
        .orderBy(col("zval"), col("o_orderkey")))
  )

  /** One PQ subspace's oracle chain: seeds → argmin → fixed-point
    * centroids (the x_kmeans_lloyd grid) → encode → query LUT. */
  /** The shared IVFADC CTE body (x_ann_ivfpq / x_ivfpq_recall):
    * coarse chain, residual corpus as `e`, probed-cell query residual
    * as `q`, the x_pq subspace chains, ADC, probed-cell `sel`. */
  private lazy val ivfPqCtes: String = {
    val dsub = 16; val m = 4
    val chains = (0 until m).map(s => pqSubspaceCtes(s, dsub, 8))
      .mkString(",\n")
    val qCols = (0 until m)
      .map(s => s"qrv[${s * dsub + 1}:${(s + 1) * dsub}] AS qs$s").mkString(", ")
    s"""raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS list_id,
      |    v AS centroid
      |  FROM raw QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
      |a0 AS (SELECT raw.vec_id, raw.v, c.list_id,
      |    row_number() OVER (PARTITION BY raw.vec_id
      |      ORDER BY list_distance(raw.v, c.centroid), c.list_id) AS rk
      |  FROM raw CROSS JOIN c),
      |asg AS (SELECT vec_id, v, list_id FROM a0 WHERE rk = 1),
      |q0 AS (SELECT v AS qv FROM raw WHERE vec_id = 0),
      |probe AS (SELECT c.list_id, c.centroid FROM c CROSS JOIN q0
      |  ORDER BY list_distance(c.centroid, q0.qv), c.list_id LIMIT 1),
      |e AS (SELECT asg.vec_id,
      |    list_transform(range(1, 65),
      |      i -> asg.v[CAST(i AS INT)] - c.centroid[CAST(i AS INT)]) AS v
      |  FROM asg JOIN c USING (list_id)),
      |qr AS (SELECT list_transform(range(1, 65),
      |      i -> q0.qv[CAST(i AS INT)] - p.centroid[CAST(i AS INT)]) AS qrv
      |  FROM q0, probe p),
      |q AS (SELECT $qCols FROM qr),
      |$chains,
      |adc AS (SELECT e0.vec_id,
      |    l0.sd + l1.sd + l2.sd + l3.sd AS adc
      |  FROM ec0 e0
      |  JOIN ec1 e1 ON e0.vec_id = e1.vec_id
      |  JOIN ec2 e2 ON e0.vec_id = e2.vec_id
      |  JOIN ec3 e3 ON e0.vec_id = e3.vec_id
      |  JOIN lut0 l0 ON e0.code = l0.code
      |  JOIN lut1 l1 ON e1.code = l1.code
      |  JOIN lut2 l2 ON e2.code = l2.code
      |  JOIN lut3 l3 ON e3.code = l3.code),
      |sel AS (SELECT adc.vec_id, adc.adc FROM adc
      |  JOIN asg ON adc.vec_id = asg.vec_id
      |  JOIN probe ON asg.list_id = probe.list_id)""".stripMargin
  }

  /** Multi-query IVFADC replay: the [[ivfPqCtes]] chain with a
    * per-query probe table (rk <= nProbe per query_id), per-(query,
    * cell) residual LUTs, and join keys carrying (query_id, list_id)
    * — the DuckDB twin of Similarity.ivfPqTopKJoin. */
  /** Build-or-reuse the materialized IVF-PQ index for `dir` under
    * target/idxcache (the bm25Index pattern): keyed by the embeddings
    * file fingerprint + params so regenerated testdata invalidates
    * the cache; the one-time build cost is what a standing ANN
    * workload amortizes, so it stays OUT of the per-call plan. The
    * `incr` variant builds on the EVEN vectors and day-2-appends the
    * odd batch against the stored centroids/codebooks. */
  private def ivfPqIndexCached(s: SparkSession, d: String,
                               incr: Boolean): String = {
    def fp(f: java.io.File): String =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).map(fp).mkString(",")
      else s"${f.getName}:${f.length}:${f.lastModified}"
    val tag = if (incr) "incr" else "full"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((fp(new java.io.File(s"$d/embeddings.parquet")) +
        s":ivfpq:$tag:64:autolists2:4:8:1").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val cache = new java.io.File(s"target/idxcache/ivfpq_$key")
    val ok = new java.io.File(cache, "_OK")
    if (!ok.exists()) {
      val e = t(s, d, "embeddings")
      // nLists scales ~sqrt(N) past the test corpora (the FAISS rule:
      // probe cost N·nProbe/nLists only stays flat per decade when the
      // list count grows with the corpus). <= 20k rows keeps the
      // oracle-replayed 8 (sf0.001..sf1 unchanged — the fingerprint
      // key pins each corpus to its own index, so this never flips an
      // existing cache); the sf10 sweep's 200k-vector corpus gets
      // sqrt(200k) ≈ 448 lists and directory-pruned probes read ~1%
      // of codes instead of 25%.
      val n = e.count()
      val nLists = if (n <= 20000L) 8 else math.sqrt(n.toDouble).toInt
      if (incr) {
        Similarity.ivfPqIndexWrite(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", dims = 64, nLists = nLists, m = 4, ksub = 8,
          iters = 1, path = cache.getPath)
        Similarity.ivfPqIndexAppend(e.filter(col("vec_id") % 2 === 1),
          "embedding", cache.getPath)
      } else {
        Similarity.ivfPqIndexWrite(e, "vec_id", "embedding", dims = 64,
          nLists = nLists, m = 4, ksub = 8, iters = 1, path = cache.getPath)
      }
      java.nio.file.Files.write(ok.toPath, Array.empty[Byte])
    }
    cache.getPath
  }

  private def ivfPqMultiCtes(trainPred: String = "TRUE"): String = {
    val dsub = 16; val m = 4
    val chains = (0 until m).map(s =>
        pqSubspaceCtes(s, dsub, 8, withLut = false, trainPred = trainPred))
      .mkString(",\n")
    val lutms = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      s"""lutm$s AS (SELECT qr.query_id, qr.list_id, c.cid AS code,
         |    list_distance(qr.qrv[$lo:$hi], c.cv)
         |      * list_distance(qr.qrv[$lo:$hi], c.cv) AS sd
         |  FROM c1$s c CROSS JOIN qr)""".stripMargin
    }.mkString(",\n")
    s"""raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS list_id,
      |    v AS centroid
      |  FROM raw WHERE $trainPred
      |  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
      |a0 AS (SELECT raw.vec_id, raw.v, c.list_id,
      |    row_number() OVER (PARTITION BY raw.vec_id
      |      ORDER BY list_distance(raw.v, c.centroid), c.list_id) AS rk
      |  FROM raw CROSS JOIN c),
      |asg AS (SELECT vec_id, v, list_id FROM a0 WHERE rk = 1),
      |qs AS (SELECT vec_id AS query_id, v AS qv FROM raw WHERE vec_id < 3),
      |pr0 AS (SELECT q.query_id, c.list_id, c.centroid, q.qv,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY list_distance(c.centroid, q.qv), c.list_id) AS rk
      |  FROM c CROSS JOIN qs q),
      |probe AS (SELECT query_id, list_id, centroid, qv FROM pr0 WHERE rk <= 2),
      |e AS (SELECT asg.vec_id,
      |    list_transform(range(1, 65),
      |      i -> asg.v[CAST(i AS INT)] - c.centroid[CAST(i AS INT)]) AS v
      |  FROM asg JOIN c USING (list_id)),
      |$chains,
      |qr AS (SELECT query_id, list_id,
      |    list_transform(range(1, 65),
      |      i -> qv[CAST(i AS INT)] - centroid[CAST(i AS INT)]) AS qrv
      |  FROM probe),
      |$lutms,
      |adcm AS (SELECT p.query_id, asg.vec_id,
      |    l0.sd + l1.sd + l2.sd + l3.sd AS adc
      |  FROM asg
      |  JOIN probe p ON asg.list_id = p.list_id
      |  JOIN ec0 e0 ON asg.vec_id = e0.vec_id
      |  JOIN ec1 e1 ON asg.vec_id = e1.vec_id
      |  JOIN ec2 e2 ON asg.vec_id = e2.vec_id
      |  JOIN ec3 e3 ON asg.vec_id = e3.vec_id
      |  JOIN lutm0 l0 ON l0.query_id = p.query_id
      |    AND l0.list_id = p.list_id AND l0.code = e0.code
      |  JOIN lutm1 l1 ON l1.query_id = p.query_id
      |    AND l1.list_id = p.list_id AND l1.code = e1.code
      |  JOIN lutm2 l2 ON l2.query_id = p.query_id
      |    AND l2.list_id = p.list_id AND l2.code = e2.code
      |  JOIN lutm3 l3 ON l3.query_id = p.query_id
      |    AND l3.list_id = p.list_id AND l3.code = e3.code)""".stripMargin
  }

  private def pqSubspaceCtes(s: Int, dsub: Int, ksub: Int,
                             withLut: Boolean = true,
                             trainPred: String = "TRUE"): String = {
    val lo = s * dsub + 1; val hi = (s + 1) * dsub
    s"""es$s AS (SELECT vec_id, v[$lo:$hi] AS vs FROM e),
       |c0$s AS (SELECT vec_id AS cid, vs AS cv FROM es$s
       |  WHERE $trainPred ORDER BY vec_id LIMIT $ksub),
       |a1$s AS (SELECT t.vec_id, t.vs, c.cid,
       |    row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY list_distance(t.vs, c.cv), c.cid) AS rk
       |  FROM (SELECT * FROM es$s WHERE $trainPred) t CROSS JOIN c0$s c),
       |g1$s AS (SELECT vec_id, vs, cid FROM a1$s WHERE rk = 1),
       |f1$s AS (SELECT cid, CAST(r.range AS INT) AS dim,
       |    CAST(floor(vs[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
       |  FROM g1$s CROSS JOIN range(0, $dsub) r),
       |m1$s AS (SELECT cid, dim,
       |    (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS cval
       |  FROM f1$s GROUP BY cid, dim),
       |c1$s AS (SELECT cid, list(cval ORDER BY dim) AS cv FROM m1$s GROUP BY cid),
       |en$s AS (SELECT t.vec_id, c.cid AS code,
       |    row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY list_distance(t.vs, c.cv), c.cid) AS rk
       |  FROM es$s t CROSS JOIN c1$s c),
       |ec$s AS (SELECT vec_id, code FROM en$s WHERE rk = 1)""".stripMargin +
      (if (withLut) s""",
       |lut$s AS (SELECT c.cid AS code,
       |    list_distance(q.qs$s, c.cv) * list_distance(q.qs$s, c.cv) AS sd
       |  FROM c1$s c CROSS JOIN q)""".stripMargin else "")
  }

  /** Build-or-reuse the materialized BM25 artifacts for `dir`: the
    * [[Retrieval.invertedIndex]] postings parquet plus the
    * (docCount, totalTokens) sidecar — the standing-workload shape
    * [[Retrieval.bm25TopK]]'s scaladoc promises. Keyed by the source
    * file fingerprint so regenerated testdata invalidates the cache;
    * the one-time build cost is exactly what a standing workload
    * amortizes, so it stays OUT of the per-call plan. */
  private def bm25Index(s: SparkSession, d: String): (DataFrame, (Long, Long)) = {
    def fp(f: java.io.File): String =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).map(fp).mkString(",")
      else s"${f.getName}:${f.length}:${f.lastModified}"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(fp(new java.io.File(s"$d/documents.parquet")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val cache = new java.io.File(s"target/idxcache/$key")
    val ok = new java.io.File(cache, "_OK")
    if (!ok.exists()) {
      val docs = t(s, d, "documents")
      // cluster the postings by term so warehouse-style row-group
      // min/max statistics line up with term-sliced reads
      Retrieval.invertedIndex(docs, "doc_id", "text")
        .repartition(8, col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"${cache.getPath}/postings.parquet")
      val (nd, tl) = Retrieval.corpusStatsOf(docs, "text")
      java.nio.file.Files.write(ok.toPath, s"$nd:$tl".getBytes("UTF-8"))
    }
    val Array(nd, tl) =
      new String(java.nio.file.Files.readAllBytes(ok.toPath), "UTF-8")
        .split(":").map(_.toLong)
    (graft.sources.Sources.readParquet(s, s"${cache.getPath}/postings.parquet"), (nd, tl))
  }

  /** Build-or-reuse the materialized MinHash dedup index for `dir`
    * (band table + shingle-hash sets — [[Dedup.minhashIndexFrames]]),
    * the dedup twin of [[bm25Index]]'s standing-workload shape:
    * every subsequent dedup pass reads the index only — zero text
    * scans, zero re-hashing. Same fingerprint-keyed cache recipe. */
  private def minhashIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    def fp(f: java.io.File): String =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).map(fp).mkString(",")
      else s"${f.getName}:${f.length}:${f.lastModified}"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(("mh:" + fp(new java.io.File(s"$d/documents.parquet")))
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    val cache = new java.io.File(s"target/idxcache/$key")
    val ok = new java.io.File(cache, "_OK")
    if (!ok.exists()) {
      val (sigs, sh) = Dedup.minhashIndexFrames(
        t(s, d, "documents"), "doc_id", "text", w = 3, numPerm = 64, numBands = 16)
      // cluster band rows by their join key so the candidate
      // self-join's scan reads co-located buckets
      sigs.repartition(8, col("band"), col("bucket"))
        .write.mode("overwrite").parquet(s"${cache.getPath}/bands.parquet")
      sh.write.mode("overwrite").parquet(s"${cache.getPath}/shingles.parquet")
      java.nio.file.Files.write(ok.toPath, "ok".getBytes("UTF-8"))
    }
    (graft.sources.Sources.readParquet(s, s"${cache.getPath}/bands.parquet"),
      graft.sources.Sources.readParquet(s, s"${cache.getPath}/shingles.parquet"))
  }

  /** Shared oracle fragment: the Dedup.tokens normalization in DuckDB. */
  private val toksSql =
    """list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')"""

  private val olsSelect: String =
    """WITH h AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS st,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy2,
        |    CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
        |  FROM h GROUP BY key),
        |b AS (SELECT key, n, st, sy,
        |    CAST(n AS HUGEINT) * sty - st * sy AS sxy,
        |    CAST(n AS HUGEINT) * stt - st * st AS sxx,
        |    CAST(n AS HUGEINT) * syy2 - sy * sy AS syy
        |  FROM a)
        |SELECT key, n,
        |  CASE WHEN n > 1 AND sxx <> 0
        |    THEN CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(sxx AS VARCHAR) AS DOUBLE) END AS slope,
        |  CASE WHEN n > 1 AND sxx <> 0
        |    THEN CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |        * (CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        |    END AS intercept,
        |  CASE WHEN n > 1 AND sxx <> 0 AND syy <> 0
        |    THEN CAST(CAST(sxy * sxy AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(sxx * syy AS VARCHAR) AS DOUBLE) END AS r2
        |FROM b ORDER BY key""".stripMargin

  /** CMS md5-bucket replay (digit-by-digit: 8 hex digits < 2^32, exact
    * in double) — the DuckDB twin of Profiling.cmsBucket for a sketch
    * row alias `pr.r` and the given key expression. */
  private def cmsBucketSql(key: String, width: Int): String =
    "CAST(list_sum(list_transform(range(1, 9), i -> " +
      s"(strpos('0123456789abcdef', substr(md5(pr.r || '|' || $key), CAST(i AS INT), 1)) - 1) " +
      s"* pow(16, 8 - i))) AS BIGINT) % $width"

  /** The full BM25 chain in DuckDB — same tokenization, fixed-order
    * IEEE idf/norm arithmetic (constants spelled as the identical
    * double ops, e.g. (1.2 + 1.0) not 2.2), decimal(38,18) term sums.
    * Shared by x_bm25 and x_bm25_indexed (the indexed path scores
    * bit-identically by construction). */
  private lazy val bm25OracleSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
      |tf AS (SELECT doc_id, len(w) AS dl, t AS term, count(*) AS tf
      |  FROM (SELECT doc_id, w, unnest(w) AS t FROM toks) GROUP BY 1, 2, 3),
      |stats AS (SELECT count(*) AS nd, sum(len(w)) AS tl FROM toks),
      |q(q_id, qtext) AS (VALUES ('q1', 'spark window agg'),
      |  ('q2', 'customer join order'), ('q3', 'vector scan stream')),
      |qt AS (SELECT DISTINCT q_id,
      |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(qtext),
      |      '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS term FROM q),
      |dfreq AS (SELECT term, count(*) AS dfc FROM tf
      |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
      |scored AS (SELECT qt.q_id, tf.doc_id,
      |    round(CAST(sum(CAST(
      |      ln(1.0 + (CAST(nd AS DOUBLE) - dfc + 0.5) / (dfc + 0.5))
      |        * (tf.tf * (1.2 + 1.0))
      |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE)
      |            / (CAST(tl AS DOUBLE) / CAST(nd AS DOUBLE))))
      |      AS DECIMAL(38,18))) AS DOUBLE), 6) AS bm25
      |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term) CROSS JOIN stats
      |  GROUP BY 1, 2),
      |r AS (SELECT q_id, doc_id, bm25,
      |    row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rn
      |  FROM scored)
      |SELECT q_id, doc_id, bm25 FROM r WHERE rn <= 10
      |ORDER BY q_id, bm25 DESC, doc_id""".stripMargin

  /** Dirichlet query-likelihood oracle: the bm25 tokenization CTEs,
    * collection term frequencies, the matched-terms decomposition
    * with decimal(38,18) sums, round-6 scores, per-query top-10. */
  private lazy val qlmOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
      |tf AS (SELECT doc_id, len(w) AS dl, t AS term, count(*) AS tf
      |  FROM (SELECT doc_id, w, unnest(w) AS t FROM toks) GROUP BY 1, 2, 3),
      |stats AS (SELECT count(*) AS nd, sum(len(w)) AS tl FROM toks),
      |q(q_id, qtext) AS (VALUES ('q1', 'spark window agg'),
      |  ('q2', 'customer join order'), ('q3', 'vector scan stream')),
      |qt AS (SELECT DISTINCT q_id,
      |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(qtext),
      |      '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS term FROM q),
      |ctf AS (SELECT term, sum(tf) AS ctf FROM tf
      |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
      |qs AS (SELECT qt.q_id, qt.term, ctf.ctf, stats.tl
      |  FROM qt JOIN ctf USING (term) CROSS JOIN stats),
      |qc AS (SELECT q_id,
      |    CAST(sum(CAST(ln(2000.0 * CAST(ctf AS DOUBLE) / CAST(tl AS DOUBLE))
      |      AS DECIMAL(38,18))) AS DOUBLE) AS cq,
      |    count(*) AS nq
      |  FROM qs GROUP BY q_id),
      |m AS (SELECT qs.q_id, tf.doc_id, tf.dl,
      |    CAST(sum(CAST(ln(1.0 + CAST(tf.tf AS DOUBLE) * CAST(qs.tl AS DOUBLE)
      |        / (2000.0 * CAST(qs.ctf AS DOUBLE)))
      |      AS DECIMAL(38,18))) AS DOUBLE) AS ms
      |  FROM tf JOIN qs USING (term) GROUP BY 1, 2, 3),
      |scored AS (SELECT m.q_id, m.doc_id,
      |    round(ms + cq - CAST(nq AS DOUBLE)
      |      * ln(CAST(dl AS DOUBLE) + 2000.0), 6) AS ql
      |  FROM m JOIN qc USING (q_id)),
      |r AS (SELECT q_id, doc_id, ql,
      |    row_number() OVER (PARTITION BY q_id ORDER BY ql DESC, doc_id) AS rn
      |  FROM scored)
      |SELECT q_id, doc_id, ql FROM r WHERE rn <= 10
      |ORDER BY q_id, ql DESC, doc_id""".stripMargin

  /** RM3-PRF oracle: the bm25OracleSql chain twice — pass 1 cut at
    * fbDocs, total-tf feedback-term harvest minus original terms,
    * expanded-set pass 2 at k. */
  private lazy val bm25PrfOracleSql: String = {
    def scored(qt: String, dfreq: String, out: String) =
      s"""$out AS (SELECT $qt.q_id, tf.doc_id,
        |    round(CAST(sum(CAST(
        |      ln(1.0 + (CAST(nd AS DOUBLE) - $dfreq.dfc + 0.5) / ($dfreq.dfc + 0.5))
        |        * (tf.tf * (1.2 + 1.0))
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE)
        |            / (CAST(tl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |      AS DECIMAL(38,18))) AS DOUBLE), 6) AS bm25
        |  FROM tf JOIN $qt USING (term) JOIN $dfreq USING (term) CROSS JOIN stats
        |  GROUP BY 1, 2)""".stripMargin
    s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
      |tf AS (SELECT doc_id, len(w) AS dl, t AS term, count(*) AS tf
      |  FROM (SELECT doc_id, w, unnest(w) AS t FROM toks) GROUP BY 1, 2, 3),
      |stats AS (SELECT count(*) AS nd, sum(len(w)) AS tl FROM toks),
      |q(q_id, qtext) AS (VALUES ('q1', 'spark window agg'),
      |  ('q2', 'customer join order'), ('q3', 'vector scan stream')),
      |qt AS (SELECT DISTINCT q_id,
      |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(qtext),
      |      '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS term FROM q),
      |dfreq1 AS (SELECT term, count(*) AS dfc FROM tf
      |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
      |${scored("qt", "dfreq1", "scored1")},
      |r1 AS (SELECT q_id, doc_id FROM (SELECT q_id, doc_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rn
      |  FROM scored1) WHERE rn <= 5),
      |fbt AS (SELECT r1.q_id, tf.term, sum(tf.tf) AS w
      |  FROM r1 JOIN tf ON tf.doc_id = r1.doc_id
      |  WHERE NOT EXISTS (SELECT 1 FROM qt
      |    WHERE qt.q_id = r1.q_id AND qt.term = tf.term)
      |  GROUP BY 1, 2),
      |fbr AS (SELECT q_id, term FROM (SELECT q_id, term,
      |    row_number() OVER (PARTITION BY q_id ORDER BY w DESC, term) AS rn
      |  FROM fbt) WHERE rn <= 3),
      |qt2 AS (SELECT q_id, term FROM qt UNION SELECT q_id, term FROM fbr),
      |dfreq2 AS (SELECT term, count(*) AS dfc FROM tf
      |  WHERE term IN (SELECT term FROM qt2) GROUP BY 1),
      |${scored("qt2", "dfreq2", "scored2")},
      |r2 AS (SELECT q_id, doc_id, bm25,
      |    row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rn
      |  FROM scored2)
      |SELECT q_id, doc_id, bm25 FROM r2 WHERE rn <= 10
      |ORDER BY q_id, bm25 DESC, doc_id""".stripMargin
  }

  /** Quadratic ground-truth near-dup oracle (true jaccard over every
    * pair) — LSH-plumbing-independent, so the per-call and indexed
    * minhash paths both replay it. */
  private lazy val minhashOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
      |  FROM toks)
      |SELECT a.doc_id AS a, b.doc_id AS b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.2
      |ORDER BY a, b""".stripMargin

  /** The piiDocs text enrichment, in DuckDB. */
  private val piiTextSql =
    """'See https://ex' || (doc_id % 10) || '.org/a contact user' || doc_id ||
      |'@mail.org or +49 170 ' || doc_id || ' at 10.0.' || (doc_id % 200) ||
      |'.7' || chr(10) || text""".stripMargin

  /** Shared CTE chain unrolling the 2-round power iteration on the
    * floor(t·2^30+0.5) Long grid (see Similarity.topPrincipalDirection)
    * — ends in `fin(ls, lam)`: the unit eigenvector as a 64-list plus
    * the eigenvalue estimate. Used by the x_pca and x_abtt oracles. */
  private lazy val pcaUnrollCtes: String = {
    val S = "1073741824.0"
    def fx(t: String) = s"CAST(floor(($t) * $S + 0.5) AS BIGINT)"
    def vj(j: Int) = s"v[${j + 1}]"
    val w1 = (0 until 64).map(j =>
      s"sum(${fx(s"${vj(j)} * p1")}) AS s$j").mkString(", ")
    val nsq = (0 until 64).map(j => s"w$j * w$j").mkString(" + ")
    val w1d = (0 until 64).map(j => s"CAST(s$j AS DOUBLE) / $S AS w$j").mkString(", ")
    val u1 = (0 until 64).map(j => s"w$j / n1 AS u$j").mkString(", ")
    val p2terms = (0 until 64).map(j => fx(s"e.${vj(j)} * u.u$j")).mkString(" + ")
    val w2 = (0 until 64).map(j =>
      s"sum(${fx(s"${vj(j)} * p2")}) AS t$j").mkString(", ")
    val w2d = (0 until 64).map(j => s"CAST(t$j AS DOUBLE) / $S AS w$j").mkString(", ")
    val ls = (0 until 64).map(j => s"w$j / n2").mkString(", ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p1t AS (SELECT v, CAST(${fx("v[1]")} AS DOUBLE) / $S AS p1 FROM e),
       |s1 AS (SELECT $w1 FROM p1t),
       |d1 AS (SELECT $w1d FROM s1),
       |nv1 AS (SELECT *, sqrt($nsq) AS n1 FROM d1),
       |u AS (SELECT $u1 FROM nv1),
       |p2t AS (SELECT e.v, CAST(($p2terms) AS DOUBLE) / $S AS p2 FROM e CROSS JOIN u),
       |s2 AS (SELECT $w2 FROM p2t),
       |d2 AS (SELECT $w2d FROM s2),
       |nv2 AS (SELECT *, sqrt($nsq) AS n2 FROM d2),
       |fin AS (SELECT list_value($ls) AS ls, n2 AS lam FROM nv2)""".stripMargin
  }

  /** Shared CTE chain unrolling `iters` full-batch logistic-GD
    * iterations (see Classifier.logisticTrainGD) plus one final
    * margin/sigmoid pass over the trained weights — ends in CTEs
    * `w{iters}` (columns c0..c3, cb) and `s{iters+1}` (doc_id, sg).
    * The 513-entry sigmoid table inlines as the same literal doubles
    * the Spark plan carries (decimal literals parse correctly rounded
    * in both engines), margins and gradients accumulate on the
    * floor(t·2^30+0.5) BIGINT grid, and the weight update replays the
    * driver's left-assoc chain. Used by x_lr_quality / x_lr_score. */
  private def lrUnrollCtes(iters: Int, lr: Double): String = {
    val S = "1073741824.0"
    def fxs(t: String) = s"CAST(floor(($t) * $S + 0.5) AS BIGINT)"
    def sig(z: String) =
      s"sigt[CAST(least(greatest(floor((($z) + 8.0) * 32.0), 0), 512) AS INT) + 1]"
    // string → DOUBLE cast per entry: a bare decimal literal parses as
    // DECIMAL in DuckDB and the DECIMAL→DOUBLE conversion double-rounds
    // (1 ulp off for ~10% of table entries — the Exact.scala trap);
    // strtod on the shortest-repr string is correctly rounded
    val tbl = graft.ops.Classifier.sigTable
      .map(v => s"CAST('$v' AS DOUBLE)").mkString(", ")
    // MATERIALIZED stops DuckDB's default CTE inlining: w_i references
    // w_{i-1} twice (via z_i and directly), so inlining would expand
    // the chain exponentially in `iters`
    val header =
      s"""f AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN len(text) - len(replace(text, ' ', '')) >= 53
         |      THEN 1.0 ELSE 0.0 END AS y,
         |    CAST(len(text) AS DOUBLE) / 1024.0 AS x0,
         |    CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE) / 128.0 AS x1,
         |    CAST(len(text) - len(regexp_replace(text, '[a-m]', '', 'g')) AS DOUBLE) / 256.0 AS x2,
         |    CAST(len(text) - len(replace(text, ' the ', '')) AS DOUBLE) / 40.0 AS x3
         |  FROM documents),
         |sgt AS MATERIALIZED (SELECT [$tbl] AS sigt),
         |w0 AS (SELECT 0.0 AS c0, 0.0 AS c1, 0.0 AS c2, 0.0 AS c3, 0.0 AS cb)""".stripMargin
    val rounds = (1 to iters + 1).map { i =>
      val zDot = (0 until 4).map(j => fxs(s"w.c$j * x$j")).mkString(" + ")
      val zi =
        s"""z$i AS (SELECT f.doc_id, f.y, f.x0, f.x1, f.x2, f.x3,
           |  CAST(($zDot + CAST(floor(w.cb * $S + 0.5) AS BIGINT)) AS DOUBLE) / $S AS z
           |  FROM f CROSS JOIN w${i - 1} w),
           |s$i AS (SELECT z$i.*, ${sig("z")} AS sg FROM z$i CROSS JOIN sgt)""".stripMargin
      if (i > iters) zi
      else {
        val gs = (0 until 4).map(j => s"sum(${fxs(s"(sg - y) * x$j")}) AS g$j")
          .mkString(", ")
        val ws = (0 until 4).map(j =>
          s"w.c$j - $lr * ((CAST(g$j AS DOUBLE) / $S) / CAST(n AS DOUBLE)) AS c$j")
          .mkString(", ")
        s"""$zi,
           |g$i AS (SELECT $gs, sum(${fxs("sg - y")}) AS gb, count(*) AS n FROM s$i),
           |w$i AS MATERIALIZED (SELECT $ws,
           |  w.cb - $lr * ((CAST(gb AS DOUBLE) / $S) / CAST(n AS DOUBLE)) AS cb
           |  FROM g$i CROSS JOIN w${i - 1} w)""".stripMargin
      }
    }
    (header +: rounds).mkString(",\n")
  }

  /** x_ewma's oracle, shared verbatim by s_ewma (the streaming fold's
    * trace is row-identical to the batch operator, so the same rollup
    * replays the same SQL — the s_cusum contract). */
  /** x_markov's oracle, shared verbatim by s_markov (the streaming
    * fold's matrix-identity contract). */
  /** SPRT replay — hourly (key × bucket) level table, cumulative LLR
    * on the round-6 grid, first-crossing buckets, Wald verdict.
    * Shared by x_sprt and s_sprt: the streaming fold is exact level
    * addition, so the standing verdict is the batch form verbatim. */
  private lazy val sprtOracleSql: String =
    """WITH lvl AS (SELECT CAST(event_type AS VARCHAR) AS key,
      |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS h,
      |    count(*) AS n,
      |    sum(CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END) AS s
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT key, h, n, s,
      |    round(CAST(sum(s) OVER w AS DOUBLE) * ln(0.22 / 0.18)
      |      + CAST(sum(n) OVER w - sum(s) OVER w AS DOUBLE)
      |        * ln((1.0 - 0.22) / (1.0 - 0.18)), 6) AS llr
      |  FROM lvl
      |  WINDOW w AS (PARTITION BY key ORDER BY h
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (SELECT key, CAST(sum(n) AS BIGINT) AS n_obs,
      |    CAST(sum(s) AS BIGINT) AS n_success,
      |    min(CASE WHEN llr >= 2.944439 THEN h END) AS hup,
      |    min(CASE WHEN llr <= -2.944439 THEN h END) AS hlo
      |  FROM t GROUP BY key),
      |g AS (SELECT key, n_obs, n_success,
      |    round(CAST(n_success AS DOUBLE) * ln(0.22 / 0.18)
      |      + CAST(n_obs - n_success AS DOUBLE)
      |        * ln((1.0 - 0.22) / (1.0 - 0.18)), 6) AS llr,
      |    CASE WHEN hup IS NULL AND hlo IS NULL THEN 'continue'
      |      WHEN hlo IS NULL OR (hup IS NOT NULL AND hup <= hlo)
      |        THEN 'accept_h1'
      |      ELSE 'accept_h0' END AS decision,
      |    hup, hlo
      |  FROM f)
      |SELECT key, n_obs, n_success, llr, decision,
      |  CASE WHEN decision = 'accept_h1' THEN hup
      |    WHEN decision = 'accept_h0' THEN hlo END AS decided_bucket
      |FROM g ORDER BY key""".stripMargin

  private lazy val markovOracle: String =
    """WITH sq AS (SELECT event_type AS t,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS f
      |  FROM events),
      |pr AS (SELECT f AS from_type, t AS to_type, count(*) AS n
      |  FROM sq WHERE f IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT from_type, sum(n) AS rtot FROM pr GROUP BY 1)
      |SELECT pr.from_type, pr.to_type, CAST(n AS BIGINT) AS n,
      |  CAST(n AS DOUBLE) / CAST(rtot AS DOUBLE) AS p
      |FROM pr JOIN rt USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  private lazy val ewmaOracle: String = {
    val chain = (0 until 16).map { j =>
      val w = s"${1L << (j + 1)}.0"
      if (j == 0) s"n / $w"
      else s"coalesce(lag(n, $j) OVER win, 0) / $w"
    }.mkString(" + ")
    s"""WITH c AS (SELECT event_type, date_trunc('hour', ts) AS wstart,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(wstart) AS mn, max(wstart) AS mx FROM c),
      |sp AS (SELECT t.event_type,
      |    unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS wstart
      |  FROM (SELECT DISTINCT event_type FROM c) t, b),
      |f AS (SELECT sp.event_type, sp.wstart, coalesce(c.n, 0) AS n
      |  FROM sp LEFT JOIN c USING (event_type, wstart)),
      |e AS (SELECT event_type, wstart, n, $chain AS ewma
      |  FROM f WINDOW win AS (PARTITION BY event_type ORDER BY wstart)),
      |al AS (SELECT event_type, wstart, n, ewma,
      |    coalesce(CAST(n AS DOUBLE) >
      |      4.0 * (lag(ewma, 1) OVER win2) + 4.0, FALSE) AS alarm
      |  FROM e WINDOW win2 AS (PARTITION BY event_type ORDER BY wstart))
      |SELECT event_type, CAST(count(*) AS BIGINT) AS hours,
      |  max_by(ewma, wstart) AS last_ewma,
      |  CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS alarms
      |FROM al GROUP BY event_type
      |ORDER BY event_type""".stripMargin
  }

  /** The transitive-closure ground truth shared by x_dedup_clusters,
    * the star variant, and the day-2 incremental fold — all three are
    * label-identical by contract, so one oracle serves all. */
  private lazy val ccClosureOracle: String =
    """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.2),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE r.a <> e.b)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // recompute the synthetic 8x6 P6 raster (pixels = md5-hex ASCII,
    // repeated + '0'-padded to 144 bytes) and its channel means; the
    // sums are small exact integers so the double divisions are
    // bit-identical across engines
    "x_quantize" ->
      """WITH s AS (SELECT vec_id,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
        |  FROM embeddings),
        |sc AS (SELECT vec_id, CASE WHEN mx > 0 THEN mx / 127.0 END AS scale FROM s),
        |q AS (SELECT e.vec_id, sc.scale,
        |    list_transform(CAST(e.embedding AS DOUBLE[]),
        |      x -> CASE WHEN sc.scale IS NULL THEN 0
        |        ELSE CAST(floor(x / sc.scale + 0.5) AS INT) END) AS codes
        |  FROM embeddings e JOIN sc USING (vec_id))
        |SELECT vec_id, scale, array_to_string(codes, ',') AS codes,
        |  CAST(list_sum(codes) AS BIGINT) AS q_sum
        |FROM q ORDER BY vec_id""".stripMargin,

    // replays the fixed-point centroid arithmetic: per-element
    // floor(x*2^24 + 0.5) BIGINT sums per (label, dim), then the two
    // exact IEEE divisions — order-independent on both engines
    // quadratic cosine replay, argmax by (cos desc, bench id asc),
    // flag on the RAW cosine (rounding only in the projection)
    "x_contam_sem" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bn AS (SELECT vec_id AS bid, v FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
        |s AS (SELECT c.vec_id, bn.bid,
        |    list_cosine_similarity(c.v, bn.v) AS cos
        |  FROM c CROSS JOIN bn),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cos DESC, bid ASC) AS rn FROM s)
        |SELECT vec_id, bid AS best_bench_id, round(cos, 4) AS best_cos,
        |  cos >= 0.999 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // centroid replay (the x_centroids fixed-point recipe) rebuilt
    // into per-label arrays, l2 via list_distance (the proven
    // parity), integer rank rule for the flag
    "x_emb_outlier" ->
      """WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |f AS (SELECT label, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM e CROSS JOIN range(0, 64) r),
        |cd AS (SELECT label, dim,
        |    (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS cv
        |  FROM f GROUP BY label, dim),
        |c AS (SELECT label, list(cv ORDER BY dim) AS centroid FROM cd GROUP BY label),
        |d AS (SELECT e.label, e.vec_id, list_distance(e.v, c.centroid) AS dist
        |  FROM e JOIN c USING (label)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label
        |      ORDER BY dist DESC, vec_id) AS rn,
        |    count(*) OVER (PARTITION BY label) AS n
        |  FROM d)
        |SELECT label, vec_id, dist, rn <= floor(0.05 * n) AS is_outlier
        |FROM r ORDER BY label, vec_id""".stripMargin,

    "x_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |f AS (SELECT label, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM e CROSS JOIN range(0, 64) r)
        |SELECT label, CAST(count(*) AS BIGINT) AS n, dim,
        |  (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS centroid_val
        |FROM f GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    // 2-round power iteration unrolled in SQL: per-row projections
    // and per-dim contributions on the same floor(t*2^30+0.5) Long
    // grid as the Spark side, the driver's normalization replayed as
    // a left-assoc + chain — bit-exact, no rounding
    "x_pca" ->
      s"""WITH $pcaUnrollCtes
         |SELECT CAST(r.range AS INT) AS dim, ls[CAST(r.range + 1 AS INT)] AS loading, lam
         |FROM fin CROSS JOIN range(0, 64) r ORDER BY dim""".stripMargin,

    // JL component replay: same md5 'jl{j}_0' sign chain layout as
    // the x_ann_lsh oracle, floor-grid inputs, BIGINT sums
    "x_jl" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |fx AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(floor(x * 1073741824.0 + 0.5) AS BIGINT)) AS f FROM e),
        |c AS (SELECT fx.vec_id, j.dim,
        |    CAST(list_sum(list_transform(range(1, 65), k -> f[CAST(k AS INT)] *
        |      (CAST(floor((strpos('0123456789abcdef', substring(md5('jl' || j.dim || '_0'),
        |        CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1) / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1)))
        |      AS DOUBLE) / 1073741824.0 / 4.0 AS comp
        |  FROM fx CROSS JOIN (SELECT unnest(range(0, 16)) AS dim) j)
        |SELECT vec_id, CAST(dim AS INT) AS dim, comp FROM c ORDER BY vec_id, dim""".stripMargin,

    // projected-space retrieval vs full-width truth, both replayed;
    // the hit join and counts are integer-exact
    "x_jl_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |fx AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(floor(x * 1073741824.0 + 0.5) AS BIGINT)) AS f FROM e),
        |c AS (SELECT fx.vec_id, j.dim,
        |    CAST(list_sum(list_transform(range(1, 65), k -> f[CAST(k AS INT)] *
        |      (CAST(floor((strpos('0123456789abcdef', substring(md5('jl' || j.dim || '_0'),
        |        CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1) / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1)))
        |      AS DOUBLE) / 1073741824.0 / 4.0 AS comp
        |  FROM fx CROSS JOIN (SELECT unnest(range(0, 16)) AS dim) j),
        |pv AS (SELECT vec_id, list(comp ORDER BY dim) AS p FROM c GROUP BY vec_id),
        |tr AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(t.v, q.v) DESC, t.vec_id) AS rk
        |  FROM e t CROSS JOIN (SELECT * FROM e WHERE vec_id < 3) q) WHERE rk <= 10),
        |rt AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(t.p, q.p) DESC, t.vec_id) AS rk
        |  FROM pv t CROSS JOIN (SELECT * FROM pv WHERE vec_id < 3) q) WHERE rk <= 10)
        |SELECT tr.query_id,
        |  CAST(sum(CASE WHEN rt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(count(*) AS BIGINT) AS truth_k,
        |  CAST(sum(CASE WHEN rt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS recall
        |FROM tr LEFT JOIN rt ON tr.query_id = rt.query_id AND tr.neighbor_id = rt.neighbor_id
        |GROUP BY tr.query_id ORDER BY tr.query_id""".stripMargin,

    // MMR replay: 5 unrolled greedy steps — each ranks the remaining
    // candidates by 0.7·rel − (1.0−0.7)·max-cos-to-selected (the
    // exact double 1.0-0.7 both engines compute), ties to lowest id
    "x_mmr" -> {
      def step(i: Int): String =
        if (i == 1)
          """s1 AS (SELECT q_id, id, v, mmr FROM (
            |  SELECT q_id, id, v, 0.7 * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * 0.0 AS mmr,
            |    row_number() OVER (PARTITION BY q_id
            |      ORDER BY 0.7 * rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * 0.0 DESC, id) AS rn
            |  FROM cand) WHERE rn = 1),
            |sel1 AS (SELECT q_id, id, v FROM s1)""".stripMargin
        else
          s"""s$i AS (SELECT q_id, id, v, mmr FROM (
            |  SELECT q_id, id, v, mmr,
            |    row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, id) AS rn
            |  FROM (SELECT c.q_id, c.id, c.v,
            |      0.7 * c.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * (
            |        SELECT max(round(list_cosine_similarity(c.v, s.v), 4))
            |        FROM sel${i - 1} s WHERE s.q_id = c.q_id) AS mmr
            |    FROM cand c
            |    WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s2
            |      WHERE s2.q_id = c.q_id AND s2.id = c.id))) WHERE rn = 1),
            |sel$i AS (SELECT * FROM sel${i - 1}
            |  UNION ALL SELECT q_id, id, v FROM s$i)""".stripMargin
      val steps = (1 to 5).map(step).mkString(",\n")
      val finals = (1 to 5).map(i =>
        s"SELECT q_id, id, mmr, CAST($i AS BIGINT) AS rank FROM s$i")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |tr AS (SELECT q.vec_id AS q_id, t.vec_id AS id,
        |    round(list_cosine_similarity(t.v, q.v), 4) AS rel, t.v AS v,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(t.v, q.v) DESC, t.vec_id) AS rk
        |  FROM e t CROSS JOIN (SELECT * FROM e WHERE vec_id < 3) q),
        |cand AS (SELECT q_id, id, rel, v FROM tr WHERE rk <= 20),
        |$steps
        |SELECT q_id AS query_id, id AS neighbor_id, mmr, rank FROM (
        |  $finals)
        |ORDER BY query_id, rank""".stripMargin
    },

    // MRL replay: p = v[1:16] slice, the same dual brute-force
    // retrieval + recall join as x_jl_recall
    "x_mrl_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pv AS (SELECT vec_id, v[1:16] AS p FROM e),
        |tr AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(t.v, q.v) DESC, t.vec_id) AS rk
        |  FROM e t CROSS JOIN (SELECT * FROM e WHERE vec_id < 3) q) WHERE rk <= 10),
        |rt AS (SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(t.p, q.p) DESC, t.vec_id) AS rk
        |  FROM pv t CROSS JOIN (SELECT * FROM pv WHERE vec_id < 3) q) WHERE rk <= 10)
        |SELECT tr.query_id,
        |  CAST(sum(CASE WHEN rt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(count(*) AS BIGINT) AS truth_k,
        |  CAST(sum(CASE WHEN rt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS recall
        |FROM tr LEFT JOIN rt ON tr.query_id = rt.query_id AND tr.neighbor_id = rt.neighbor_id
        |GROUP BY tr.query_id ORDER BY tr.query_id""".stripMargin,

    // whiten with the re-derived eigenvector (floor-grid projection,
    // so whitened vectors are bit-exact), then the x_ann_brute
    // retrieval replay over them
    "x_abtt" -> {
      val S = "1073741824.0"
      val pTerms = (0 until 64).map(j =>
        s"CAST(floor(v[${j + 1}] * ls[${j + 1}] * $S + 0.5) AS BIGINT)").mkString(" + ")
      s"""WITH $pcaUnrollCtes,
         |wh AS (SELECT vec_id,
         |    list_transform(range(1, 65), j ->
         |      v[CAST(j AS INT)] - (CAST(($pTerms) AS DOUBLE) / $S) * ls[CAST(j AS INT)]) AS wv
         |  FROM e CROSS JOIN fin),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_cosine_similarity(c.wv, q.wv) AS rawcos
         |  FROM wh c CROSS JOIN (SELECT * FROM wh WHERE vec_id < 3) q),
         |ranked AS (
         |  SELECT query_id, neighbor_id, rawcos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rawcos DESC, neighbor_id) AS rk
         |  FROM scored)
         |SELECT query_id, neighbor_id, round(rawcos, 4) AS cos, CAST(rk AS INT) AS rank
         |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin
    },

    // drift: the x_centroids fixed-point replay per snapshot half,
    // full-outer label join, then floor(x*2^40+0.5) fixed-point Long
    // sums for the L2/cosine terms — the same engine-exact grid as
    // the centroid aggregate (double->DECIMAL casts diverge across
    // engines at the 11th+ fractional digit; floor does not)
    "x_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |fo AS (SELECT label, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM e CROSS JOIN range(0, 64) r WHERE vec_id % 2 = 0),
        |mo AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |    (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS cval
        |  FROM fo GROUP BY label, dim),
        |co AS (SELECT label, any_value(n) AS n_old, list(cval ORDER BY dim) AS ca FROM mo GROUP BY label),
        |fn AS (SELECT label, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM e CROSS JOIN range(0, 64) r WHERE vec_id % 2 = 1),
        |mn AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |    (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS cval
        |  FROM fn GROUP BY label, dim),
        |cn AS (SELECT label, any_value(n) AS n_new, list(cval ORDER BY dim) AS cb FROM mn GROUP BY label),
        |j AS (SELECT coalesce(co.label, cn.label) AS label,
        |    coalesce(co.n_old, 0) AS n_old, coalesce(cn.n_new, 0) AS n_new, ca, cb
        |  FROM co FULL OUTER JOIN cn ON co.label = cn.label),
        |ds AS (SELECT label, n_old, n_new,
        |    CAST(list_sum(list_transform(range(1,65), i ->
        |      CAST(floor((ca[CAST(i AS INT)] - cb[CAST(i AS INT)]) * (ca[CAST(i AS INT)] - cb[CAST(i AS INT)]) * 1099511627776.0 + 0.5) AS BIGINT))) AS DOUBLE) / 1099511627776.0 AS d2,
        |    CAST(list_sum(list_transform(range(1,65), i ->
        |      CAST(floor(ca[CAST(i AS INT)] * cb[CAST(i AS INT)] * 1099511627776.0 + 0.5) AS BIGINT))) AS DOUBLE) / 1099511627776.0 AS dt,
        |    CAST(list_sum(list_transform(range(1,65), i ->
        |      CAST(floor(ca[CAST(i AS INT)] * ca[CAST(i AS INT)] * 1099511627776.0 + 0.5) AS BIGINT))) AS DOUBLE) / 1099511627776.0 AS na2,
        |    CAST(list_sum(list_transform(range(1,65), i ->
        |      CAST(floor(cb[CAST(i AS INT)] * cb[CAST(i AS INT)] * 1099511627776.0 + 0.5) AS BIGINT))) AS DOUBLE) / 1099511627776.0 AS nb2
        |  FROM j)
        |SELECT label, n_old, n_new, sqrt(d2) AS drift_l2, dt / (sqrt(na2) * sqrt(nb2)) AS drift_cos
        |FROM ds ORDER BY label""".stripMargin,

    // coherence: same fixed-point centroid replay as x_centroids,
    // list built in dim order, decimal-bridged mean of cosines
    "x_coherence" ->
      s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |f AS (SELECT label, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM e CROSS JOIN range(0, 64) r),
        |m AS (SELECT label, dim,
        |    (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS cval
        |  FROM f GROUP BY label, dim),
        |c AS (SELECT label, list(cval ORDER BY dim) AS cv FROM m GROUP BY label),
        |s AS (SELECT e.label,
        |    list_cosine_similarity(e.v, c.cv) AS cs
        |  FROM e JOIN c USING (label))
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  ${graft.functions.Exact.davgSql("cs")} AS coherence
        |FROM s GROUP BY label ORDER BY label""".stripMargin,

    // replays the Lloyd step end-to-end: same k-lowest-id seeds, same
    // L2 argmin with the lowest-cid tie-break, same fixed-point
    // floor(x*2^24 + 0.5) BIGINT centroid sums as x_centroids
    "x_kmeans" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        |a AS (SELECT e.vec_id, e.v, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c.cv), c.cid) AS rk
        |  FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, v, cid FROM a WHERE rk = 1),
        |f AS (SELECT cid, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM asg CROSS JOIN range(0, 64) r)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n, dim,
        |  (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS centroid_val
        |FROM f GROUP BY cid, dim ORDER BY cid, dim""".stripMargin,

    // two Lloyd iterations unrolled: iteration-1 means rebuilt as
    // DOUBLE[] lists in dim order (list(... ORDER BY dim)), so
    // list_distance sums elements in the same order as the engine's
    // l2 kernel — every double on both paths is bit-identical
    "x_kmeans_lloyd" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        |a1 AS (SELECT e.vec_id, e.v, c0.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c0.cv), c0.cid) AS rk
        |  FROM e CROSS JOIN c0),
        |g1 AS (SELECT vec_id, v, cid FROM a1 WHERE rk = 1),
        |f1 AS (SELECT cid, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM g1 CROSS JOIN range(0, 64) r),
        |m1 AS (SELECT cid, dim,
        |    (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS cval
        |  FROM f1 GROUP BY cid, dim),
        |c1 AS (SELECT cid, list(cval ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        |a2 AS (SELECT e.vec_id, e.v, c1.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c1.cv), c1.cid) AS rk
        |  FROM e CROSS JOIN c1),
        |g2 AS (SELECT vec_id, v, cid FROM a2 WHERE rk = 1),
        |f2 AS (SELECT cid, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM g2 CROSS JOIN range(0, 64) r)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n, dim,
        |  (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS centroid_val
        |FROM f2 GROUP BY cid, dim ORDER BY cid, dim""".stripMargin,

    // 3 GD iterations unrolled: per-row margins/gradients on the
    // 2^30 BIGINT grid, literal sigmoid table, driver update chain
    "x_lr_quality" ->
      s"""WITH ${lrUnrollCtes(24, 4.0)}
         |SELECT dim, weight FROM (
         |  SELECT -1 AS dim, cb AS weight FROM w24
         |  UNION ALL SELECT 0, c0 FROM w24
         |  UNION ALL SELECT 1, c1 FROM w24
         |  UNION ALL SELECT 2, c2 FROM w24
         |  UNION ALL SELECT 3, c3 FROM w24)
         |ORDER BY dim""".stripMargin,

    // the scoring pass over the trained weights: margin + table
    // sigmoid per doc, keep = prob >= 1/2
    "x_lr_score" ->
      s"""WITH ${lrUnrollCtes(24, 4.0)}
         |SELECT doc_id, sg AS prob, sg >= 0.5 AS keep
         |FROM s25 ORDER BY doc_id""".stripMargin,

    // Mann-Whitney AUC replay: avg rank = min-rank + (ties-1)/2 (the
    // withRankAvg identity), decimal rank sum, fixed-order divisions
    "x_auc" ->
      s"""WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS s,
        |    contains(text, ' the ') AS y FROM documents),
        |r AS (SELECT y, CAST(rank() OVER (ORDER BY s) AS DOUBLE)
        |    + (CAST(count(*) OVER (PARTITION BY s) AS DOUBLE) - 1.0) / 2.0 AS ar
        |  FROM d),
        |a AS (SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
        |    ${graft.functions.Exact.dsumSql("CASE WHEN y THEN ar END")} AS srp
        |  FROM r)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |    ELSE (srp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc
        |FROM a""".stripMargin,

    // isotonic replay: same bin chain, prefix sums, interval
    // averages from prefix differences, the minimax double-agg
    "x_isotonic" ->
      """WITH d AS (SELECT
        |    least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS p,
        |    contains(text, ' the ') AS y FROM documents),
        |b AS (SELECT CAST(least(greatest(floor(p * 10), 0.0), 9.0) AS INT)
        |    AS bin, y FROM d),
        |lv AS (SELECT bin, count(*) AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos FROM b GROUP BY bin),
        |pre AS (SELECT bin, n, pos,
        |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cn,
        |    sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cp
        |  FROM lv),
        |av AS (SELECT i.bin AS i, j.bin AS j,
        |    CAST(j.cp - (i.cp - i.pos) AS DOUBLE)
        |      / CAST(j.cn - (i.cn - i.n) AS DOUBLE) AS a
        |  FROM pre i JOIN pre j ON i.bin <= j.bin),
        |mm AS (SELECT l.bin AS l, av.i, min(av.a) AS mn
        |  FROM av JOIN pre l ON av.i <= l.bin AND l.bin <= av.j
        |  GROUP BY 1, 2),
        |ft AS (SELECT l, max(mn) AS iso_p FROM mm GROUP BY l)
        |SELECT pre.bin, CAST(pre.bin AS DOUBLE) / 10.0 AS p_lo,
        |  CAST(pre.n AS BIGINT) AS n,
        |  CAST(pre.pos AS DOUBLE) / CAST(pre.n AS DOUBLE) AS pos_rate,
        |  ft.iso_p
        |FROM pre JOIN ft ON pre.bin = ft.l ORDER BY bin""".stripMargin,

    // fairness replay: per-lang + pooled cells, exact-count rates,
    // single-subtraction gaps
    "x_fairness" ->
      """WITH d AS (SELECT lang AS stratum,
        |    (CAST(n_chars AS DOUBLE) >= 300.0) AS p,
        |    contains(text, ' the ') AS y FROM documents
        |  WHERE lang IS NOT NULL),
        |per AS (SELECT stratum,
        |    CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM d GROUP BY 1),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS gtp,
        |    CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS gfp,
        |    CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS gfn,
        |    CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS gtn
        |  FROM d),
        |r AS (SELECT per.*, g.*,
        |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS tpr,
        |    CASE WHEN fp + tn > 0 THEN CAST(fp AS DOUBLE) / CAST(fp + tn AS DOUBLE) END AS fpr,
        |    CAST(tp + fp AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) AS sel_rate,
        |    CASE WHEN gtp + gfn > 0 THEN CAST(gtp AS DOUBLE) / CAST(gtp + gfn AS DOUBLE) END AS gtpr,
        |    CASE WHEN gfp + gtn > 0 THEN CAST(gfp AS DOUBLE) / CAST(gfp + gtn AS DOUBLE) END AS gfpr,
        |    CAST(gtp + gfp AS DOUBLE) / CAST(gtp + gfp + gfn + gtn AS DOUBLE) AS gsel
        |  FROM per CROSS JOIN g)
        |SELECT stratum, tp + fp + fn + tn AS n, tp, fp, fn, tn,
        |  tpr, fpr, sel_rate,
        |  tpr - gtpr AS tpr_gap, fpr - gfpr AS fpr_gap,
        |  sel_rate - gsel AS sel_gap
        |FROM r ORDER BY stratum""".stripMargin,

    // conformal replay: calibration order statistic at
    // ceil((n+1)(1-alpha)) clamped to n, held-out coverage ratio
    "x_conformal" ->
      """WITH cal AS (SELECT CAST(n_chars AS DOUBLE) AS s FROM documents
        |  WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        |tst AS (SELECT CAST(n_chars AS DOUBLE) AS s FROM documents
        |  WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        |n AS (SELECT count(*) AS n_cal FROM cal),
        |rk AS (SELECT n_cal,
        |    least(n_cal, CAST(ceil((CAST(n_cal AS DOUBLE) + 1.0) * 0.9)
        |      AS BIGINT)) AS rank FROM n),
        |o AS (SELECT s, row_number() OVER (ORDER BY s) AS rid FROM cal),
        |q AS (SELECT rk.n_cal, rk.rank, o.s AS qhat
        |  FROM o JOIN rk ON o.rid = rk.rank)
        |SELECT q.n_cal, q.rank, q.qhat, CAST(0.1 AS DOUBLE) AS alpha,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN tst.s <= q.qhat THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS coverage
        |FROM tst CROSS JOIN q
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // per-lang Youden replay: stratum-partitioned DESC cum windows,
    // per-stratum (j DESC, threshold ASC) argmax
    "x_youden_by" ->
      """WITH d AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS s,
        |    contains(text, ' the ') AS y FROM documents
        |  WHERE lang IS NOT NULL),
        |c AS (SELECT g, s,
        |    sum(CASE WHEN y THEN 1.0 ELSE 0.0 END) AS p,
        |    sum(CASE WHEN y THEN 0.0 ELSE 1.0 END) AS n
        |  FROM d GROUP BY g, s),
        |t AS (SELECT g, sum(p) AS tp, sum(n) AS tn FROM c GROUP BY g),
        |f AS (SELECT c.g, c.s,
        |    sum(p) OVER (PARTITION BY c.g ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |    sum(n) OVER (PARTITION BY c.g ORDER BY s DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
        |  FROM c),
        |j AS (SELECT f.g, f.s, cp / tp AS tpr, cn / tn AS fpr,
        |    (cp / tp) - (cn / tn) AS j, tp, tn
        |  FROM f JOIN t ON f.g = t.g
        |  WHERE tp > 0.0 AND tn > 0.0),
        |r AS (SELECT g, s, tpr, fpr, j, tp, tn,
        |    row_number() OVER (PARTITION BY g ORDER BY j DESC, s ASC) AS rn
        |  FROM j)
        |SELECT g AS stratum, s AS threshold, tpr, fpr, j,
        |  CAST(tp AS BIGINT) AS n_pos, CAST(tn AS BIGINT) AS n_neg
        |FROM r WHERE rn = 1 ORDER BY stratum""".stripMargin,

    // Mondrian replay: per-lang rank windows, per-stratum order
    // statistics, per-stratum held-out coverage
    "x_conformal_mondrian" ->
      """WITH cal AS (SELECT lang AS stratum, CAST(n_chars AS DOUBLE) AS s
        |  FROM documents
        |  WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL AND lang IS NOT NULL),
        |ns AS (SELECT stratum, count(*) AS n_cal,
        |    least(count(*), CAST(ceil((CAST(count(*) AS DOUBLE) + 1.0) * 0.9)
        |      AS BIGINT)) AS rank
        |  FROM cal GROUP BY 1),
        |o AS (SELECT stratum, s,
        |    row_number() OVER (PARTITION BY stratum ORDER BY s) AS rid
        |  FROM cal),
        |q AS (SELECT o.stratum, ns.n_cal, ns.rank, o.s AS qhat
        |  FROM o JOIN ns ON o.stratum = ns.stratum AND o.rid = ns.rank),
        |tst AS (SELECT lang AS stratum, CAST(n_chars AS DOUBLE) AS t
        |  FROM documents
        |  WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL AND lang IS NOT NULL)
        |SELECT q.stratum, CAST(q.n_cal AS BIGINT) AS n_cal,
        |  CAST(q.rank AS BIGINT) AS rank, q.qhat,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN tst.t <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
        |    AS covered,
        |  CAST(sum(CASE WHEN tst.t <= q.qhat THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS coverage,
        |  CAST(0.9 AS DOUBLE) AS target
        |FROM tst JOIN q ON tst.stratum = q.stratum
        |GROUP BY 1, 2, 3, 4 ORDER BY q.stratum""".stripMargin,

    // isotonic gain replay: the x_isotonic fit CTEs on the even
    // split, apply-side bin aggregates on the odd, per-bin gaps
    "x_isotonic_fit" ->
      s"""WITH d AS (SELECT doc_id,
        |    least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS p,
        |    contains(text, ' the ') AS y FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(least(greatest(floor(p * 10), 0.0), 9.0) AS INT) AS bin,
        |    p, y FROM d),
        |lv AS (SELECT bin, count(*) AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos FROM b
        |  WHERE doc_id % 2 = 0 GROUP BY bin),
        |pre AS (SELECT bin, n, pos,
        |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cn,
        |    sum(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cp
        |  FROM lv),
        |av AS (SELECT i.bin AS i, j.bin AS j,
        |    CAST(j.cp - (i.cp - i.pos) AS DOUBLE)
        |      / CAST(j.cn - (i.cn - i.n) AS DOUBLE) AS a
        |  FROM pre i JOIN pre j ON i.bin <= j.bin),
        |mm AS (SELECT l.bin AS l, av.i, min(av.a) AS mn
        |  FROM av JOIN pre l ON av.i <= l.bin AND l.bin <= av.j
        |  GROUP BY 1, 2),
        |ft AS (SELECT l AS bin, max(mn) AS iso_p FROM mm GROUP BY l),
        |ap AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_apply,
        |    ${graft.functions.Exact.dsumSql("p")}
        |      / CAST(count(*) AS DOUBLE) AS mean_p_apply,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS apply_rate
        |  FROM b WHERE doc_id % 2 = 1 GROUP BY bin)
        |SELECT ap.bin, ap.n_apply, ap.mean_p_apply, ap.apply_rate,
        |  ft.iso_p,
        |  abs(ap.apply_rate - ap.mean_p_apply) AS gap_before,
        |  abs(ap.apply_rate - ft.iso_p) AS gap_after
        |FROM ap LEFT JOIN ft USING (bin)
        |ORDER BY bin""".stripMargin,

    // group-conditional conformal replay: the x_conformal qhat CTEs,
    // per-lang coverage of the held-out half
    "x_conformal_by" ->
      """WITH cal AS (SELECT CAST(n_chars AS DOUBLE) AS s FROM documents
        |  WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        |n AS (SELECT count(*) AS n_cal FROM cal),
        |rk AS (SELECT least(n_cal, CAST(ceil((CAST(n_cal AS DOUBLE) + 1.0)
        |    * 0.9) AS BIGINT)) AS rank FROM n),
        |o AS (SELECT s, row_number() OVER (ORDER BY s) AS rid FROM cal),
        |q AS (SELECT o.s AS qhat FROM o JOIN rk ON o.rid = rk.rank),
        |tst AS (SELECT lang AS stratum, CAST(n_chars AS DOUBLE) AS t
        |  FROM documents
        |  WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL AND lang IS NOT NULL)
        |SELECT stratum, CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN t <= qhat THEN 1 ELSE 0 END) AS BIGINT) AS covered,
        |  CAST(sum(CASE WHEN t <= qhat THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS coverage,
        |  CAST(0.9 AS DOUBLE) AS target,
        |  CAST(sum(CASE WHEN t <= qhat THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) - CAST(0.9 AS DOUBLE) AS gap
        |FROM tst CROSS JOIN q
        |GROUP BY stratum ORDER BY stratum""".stripMargin,

    // Youden replay: distinct-score class counts, DESC cumulative
    // TP/FP windows, exact-count rate divisions, (j DESC, t ASC) argmax
    "x_youden" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS s,
        |    contains(text, ' the ') AS y FROM documents),
        |c AS (SELECT s,
        |    sum(CASE WHEN y THEN 1.0 ELSE 0.0 END) AS p,
        |    sum(CASE WHEN y THEN 0.0 ELSE 1.0 END) AS n
        |  FROM d GROUP BY s),
        |f AS (SELECT s,
        |    sum(p) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cp,
        |    sum(n) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cn
        |  FROM c),
        |t AS (SELECT sum(p) AS tp, sum(n) AS tn FROM c)
        |SELECT s AS threshold, cp / tp AS tpr, cn / tn AS fpr,
        |  (cp / tp) - (cn / tn) AS j,
        |  (cp + (tn - cn)) / (tp + tn) AS accuracy,
        |  CAST(tp AS BIGINT) AS n_pos, CAST(tn AS BIGINT) AS n_neg
        |FROM f CROSS JOIN t
        |WHERE tp > 0.0 AND tn > 0.0
        |ORDER BY j DESC, threshold ASC LIMIT 1""".stripMargin,

    // reliability-bin replay: identical floor/clamp bin id, decimal
    // mean, exact-count rate divisions
    "x_calib" ->
      s"""WITH d AS (SELECT
        |    least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS p,
        |    contains(text, ' the ') AS y FROM documents),
        |b AS (SELECT CAST(least(greatest(floor(p * 10), 0.0), 9.0) AS INT) AS bin,
        |    p, y FROM d)
        |SELECT bin, CAST(bin AS DOUBLE) / 10.0 AS p_lo,
        |  CAST(count(*) AS BIGINT) AS n,
        |  ${graft.functions.Exact.dsumSql("p")} / CAST(count(*) AS DOUBLE) AS mean_p,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // AP replay: the (score DESC, doc_id) total order as a cumulative
    // window (unique keys, so RANGE == ROWS), exact-integer precision
    // divisions, positives-only 2^-40 grid mean
    "x_auprc" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS s,
        |    contains(text, ' the ') AS y, doc_id FROM documents),
        |r AS (SELECT y,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END)
        |      OVER (ORDER BY s DESC, doc_id) AS DOUBLE) AS cp,
        |    CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS DOUBLE) AS rn
        |  FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CASE WHEN sum(CASE WHEN y THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE CAST(SUM(CASE WHEN y THEN
        |        CAST(FLOOR(cp / rn * 1099511627776.0 + 0.5) AS DECIMAL(38,0))
        |      END) AS DOUBLE) / 1099511627776.0
        |      / CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |  END AS ap
        |FROM r""".stripMargin,

    // ECE replay: the x_calib bin table re-aggregated — weighted
    // |pos_rate - mean_p| on the 2^-40 grid, plus the max gap
    "x_ece" ->
      s"""WITH d AS (SELECT
        |    least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS p,
        |    contains(text, ' the ') AS y FROM documents),
        |b AS (SELECT CAST(least(greatest(floor(p * 10), 0.0), 9.0) AS INT) AS bin,
        |    p, y FROM d),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    ${graft.functions.Exact.dsumSql("p")} / CAST(count(*) AS DOUBLE) AS mean_p,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS pos_rate
        |  FROM b GROUP BY bin)
        |SELECT CAST(sum(n) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE) * abs(pos_rate - mean_p)
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
        |    / 1099511627776.0 / CAST(sum(n) AS DOUBLE) AS ece,
        |  max(abs(pos_rate - mean_p)) AS max_ce
        |FROM g""".stripMargin,

    // calibration fit/apply replay: exact count ratios per bin on the
    // even/odd doc_id split, decimal-grid mean scores, single-
    // subtraction gaps
    "x_calib_fit" ->
      s"""WITH d AS (SELECT doc_id,
        |    least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS p,
        |    contains(text, ' the ') AS y FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(least(greatest(floor(p * 10), 0.0), 9.0) AS INT) AS bin,
        |    p, y FROM d),
        |f AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_fit,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS calib_p
        |  FROM b WHERE doc_id % 2 = 0 GROUP BY bin),
        |a AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_apply,
        |    ${graft.functions.Exact.dsumSql("p")}
        |      / CAST(count(*) AS DOUBLE) AS mean_p_apply,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS apply_rate
        |  FROM b WHERE doc_id % 2 = 1 GROUP BY bin)
        |SELECT a.bin, f.n_fit, f.calib_p, a.n_apply, a.mean_p_apply,
        |  a.apply_rate,
        |  abs(a.apply_rate - a.mean_p_apply) AS gap_before,
        |  abs(a.apply_rate - f.calib_p) AS gap_after
        |FROM a LEFT JOIN f USING (bin)
        |ORDER BY bin""".stripMargin,

    // McNemar replay: exact disagreement cells, continuity-corrected
    // chi2, signed z with one sqrt
    "x_mcnemar" ->
      """WITH d AS (SELECT
        |    (n_chars >= 300) AS pa,
        |    (CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END >= 60) AS pb,
        |    contains(text, ' the ') AS y FROM documents),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
        |    CAST(sum(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong,
        |    CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM d)
        |SELECT n, both_right, both_wrong, b, c,
        |  CASE WHEN b + c = 0 THEN NULL
        |    ELSE (CAST(abs(b - c) AS DOUBLE) - 1.0)
        |      * (CAST(abs(b - c) AS DOUBLE) - 1.0)
        |      / CAST(b + c AS DOUBLE) END AS chi2,
        |  CASE WHEN b + c = 0 THEN NULL
        |    ELSE CAST(b - c AS DOUBLE) / sqrt(CAST(b + c AS DOUBLE)) END AS z
        |FROM c""".stripMargin,

    // the gain headline: same fit/apply CTEs, 2^40-grid weighted ECEs
    "x_calib_ece" ->
      s"""WITH d AS (SELECT doc_id,
        |    least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS p,
        |    contains(text, ' the ') AS y FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(least(greatest(floor(p * 10), 0.0), 9.0) AS INT) AS bin,
        |    p, y FROM d),
        |f AS (SELECT bin,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS calib_p
        |  FROM b WHERE doc_id % 2 = 0 GROUP BY bin),
        |a AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_apply,
        |    ${graft.functions.Exact.dsumSql("p")}
        |      / CAST(count(*) AS DOUBLE) AS mean_p_apply,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS apply_rate
        |  FROM b WHERE doc_id % 2 = 1 GROUP BY bin),
        |j AS (SELECT a.n_apply, a.mean_p_apply, a.apply_rate, f.calib_p
        |  FROM a LEFT JOIN f USING (bin)),
        |cov AS (SELECT CAST(sum(n_apply) AS BIGINT) AS n_covered,
        |    CAST(SUM(CAST(FLOOR(CAST(n_apply AS DOUBLE)
        |        * abs(apply_rate - mean_p_apply) * 1099511627776.0 + 0.5)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0 AS gb,
        |    CAST(SUM(CAST(FLOOR(CAST(n_apply AS DOUBLE)
        |        * abs(apply_rate - calib_p) * 1099511627776.0 + 0.5)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0 AS ga
        |  FROM j WHERE calib_p IS NOT NULL),
        |unc AS (SELECT CAST(coalesce(sum(CASE WHEN calib_p IS NULL
        |    THEN n_apply END), 0) AS BIGINT) AS n_uncovered FROM j)
        |SELECT cov.n_covered, unc.n_uncovered,
        |  cov.gb / CAST(cov.n_covered AS DOUBLE) AS ece_before,
        |  cov.ga / CAST(cov.n_covered AS DOUBLE) AS ece_after
        |FROM cov CROSS JOIN unc""".stripMargin,

    // confusion replay: exact counts, HUGEINT MCC numerator, the same
    // fixed four-sqrt denominator chain
    "x_confusion" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) >= 300.0 AS p,
        |    contains(text, ' the ') AS y FROM documents),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM d)
        |SELECT tp, fp, fn, tn,
        |  CASE WHEN tp + fp + fn + tn = 0 THEN NULL
        |    ELSE CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
        |  END AS accuracy,
        |  CASE WHEN tp + fp = 0 THEN NULL
        |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision_,
        |  CASE WHEN tp + fn = 0 THEN NULL
        |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall_,
        |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
        |    ELSE CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
        |  END AS f1,
        |  CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0 OR tn + fn = 0
        |      THEN NULL
        |    ELSE CAST(CAST(tp AS HUGEINT) * CAST(tn AS HUGEINT)
        |        - CAST(fp AS HUGEINT) * CAST(fn AS HUGEINT) AS DOUBLE)
        |      / (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
        |        * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE)))
        |  END AS mcc
        |FROM c""".stripMargin,

    // Brier replay: per-row IEEE square, the 2^-40 grid mean
    "x_brier" ->
      """WITH d AS (SELECT least(CAST(n_chars AS DOUBLE) / 2000.0, 1.0) AS p,
        |    CASE WHEN contains(text, ' the ') THEN 1.0 ELSE 0.0 END AS y
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CASE WHEN count(*) = 0 THEN NULL
        |    ELSE CAST(SUM(CAST(FLOOR((p - y) * (p - y) * 1099511627776.0 + 0.5)
        |        AS DECIMAL(38,0))) AS DOUBLE)
        |      / 1099511627776.0 / CAST(count(*) AS DOUBLE) END AS brier
        |FROM d""".stripMargin,

    // Spearman replay: avg rank = min-rank + (ties-1)/2 per column,
    // HUGEINT moment sums over 2*rank, the fixed closing shape
    "x_spearman" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS x,
        |    CAST(length(text) - length(translate(text, ' ', '')) AS DOUBLE) AS y
        |  FROM documents),
        |r AS (SELECT
        |    CAST(CAST(rank() OVER (ORDER BY x) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY x) AS DOUBLE) - 1.0) / 2.0
        |      AS DOUBLE) * 2.0 AS rx2,
        |    CAST(CAST(rank() OVER (ORDER BY y) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY y) AS DOUBLE) - 1.0) / 2.0
        |      AS DOUBLE) * 2.0 AS ry2
        |  FROM d),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(rx2 AS HUGEINT)) AS sx, sum(CAST(ry2 AS HUGEINT)) AS sy,
        |    sum(CAST(rx2 AS HUGEINT) * CAST(rx2 AS HUGEINT)) AS sxx,
        |    sum(CAST(ry2 AS HUGEINT) * CAST(ry2 AS HUGEINT)) AS syy,
        |    sum(CAST(rx2 AS HUGEINT) * CAST(ry2 AS HUGEINT)) AS sxy
        |  FROM r)
        |SELECT n,
        |  CASE WHEN n = 0
        |      OR CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0
        |      OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0.0 THEN NULL
        |    ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END AS rho
        |FROM m""".stripMargin,

    // Hanley-McNeil replay: the x_auc chain + the fixed Q1/Q2/SE/CI
    // shape off the exact AUC
    "x_auc_ci" ->
      s"""WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS s,
        |    contains(text, ' the ') AS y FROM documents),
        |r AS (SELECT y, CAST(rank() OVER (ORDER BY s) AS DOUBLE)
        |    + (CAST(count(*) OVER (PARTITION BY s) AS DOUBLE) - 1.0) / 2.0 AS ar
        |  FROM d),
        |a AS (SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
        |    ${graft.functions.Exact.dsumSql("CASE WHEN y THEN ar END")} AS srp
        |  FROM r),
        |u AS (SELECT n_pos, n_neg,
        |    CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |      ELSE (srp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
        |        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc
        |  FROM a),
        |q AS (SELECT n_pos, n_neg, auc,
        |    sqrt((auc * (1.0 - auc)
        |      + (CAST(n_pos AS DOUBLE) - 1.0)
        |        * (auc / (2.0 - auc) - auc * auc)
        |      + (CAST(n_neg AS DOUBLE) - 1.0)
        |        * (auc * auc * 2.0 / (auc + 1.0) - auc * auc))
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) AS se
        |  FROM u)
        |SELECT n_pos, n_neg, auc, se,
        |  auc - se * 1.959963984540054 AS lo,
        |  auc + se * 1.959963984540054 AS hi
        |FROM q""".stripMargin,

    // DeLong replay: the same four midrank constructions, HUGEINT
    // moment sums over the 2-scaled integer components, the identical
    // fixed covariance/z shape
    "x_delong" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS a,
        |    CAST(length(text) - length(translate(text, ' ', '')) AS DOUBLE) AS b,
        |    contains(text, ' the ') AS y FROM documents),
        |r AS (SELECT y,
        |    CAST(rank() OVER (ORDER BY a) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY a) AS DOUBLE) - 1.0) / 2.0 AS ra,
        |    CAST(rank() OVER (ORDER BY b) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY b) AS DOUBLE) - 1.0) / 2.0 AS rb,
        |    CAST(rank() OVER (PARTITION BY y ORDER BY a) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY y, a) AS DOUBLE) - 1.0) / 2.0 AS rca,
        |    CAST(rank() OVER (PARTITION BY y ORDER BY b) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY y, b) AS DOUBLE) - 1.0) / 2.0 AS rcb
        |  FROM d),
        |x AS (SELECT y, CAST((ra - rca) * 2.0 AS HUGEINT) AS xa,
        |    CAST((rb - rcb) * 2.0 AS HUGEINT) AS xb FROM r),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |    sum(CASE WHEN y THEN xa END) AS sap,
        |    sum(CASE WHEN y THEN xb END) AS sbp,
        |    sum(CASE WHEN y THEN xa * xa END) AS saap,
        |    sum(CASE WHEN y THEN xb * xb END) AS sbbp,
        |    sum(CASE WHEN y THEN xa * xb END) AS sabp,
        |    sum(CASE WHEN NOT y THEN xa END) AS san,
        |    sum(CASE WHEN NOT y THEN xb END) AS sbn,
        |    sum(CASE WHEN NOT y THEN xa * xa END) AS saan,
        |    sum(CASE WHEN NOT y THEN xb * xb END) AS sbbn,
        |    sum(CASE WHEN NOT y THEN xa * xb END) AS sabn
        |  FROM x),
        |c AS (SELECT n_pos, n_neg,
        |    CAST(n_pos AS DOUBLE) AS np, CAST(n_neg AS DOUBLE) AS nn,
        |    CAST(sap AS DOUBLE) / 2.0
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auca,
        |    CAST(sbp AS DOUBLE) / 2.0
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS aucb,
        |    ((CAST(saap AS DOUBLE) / 4.0
        |        - (CAST(sap AS DOUBLE) / 2.0) * (CAST(sap AS DOUBLE) / 2.0)
        |          / CAST(n_pos AS DOUBLE))
        |      / (CAST(n_pos AS DOUBLE) - 1.0)
        |      / (CAST(n_neg AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |      + (CAST(sbbp AS DOUBLE) / 4.0
        |        - (CAST(sbp AS DOUBLE) / 2.0) * (CAST(sbp AS DOUBLE) / 2.0)
        |          / CAST(n_pos AS DOUBLE))
        |      / (CAST(n_pos AS DOUBLE) - 1.0)
        |      / (CAST(n_neg AS DOUBLE) * CAST(n_neg AS DOUBLE))
        |      - (CAST(sabp AS DOUBLE) / 4.0
        |        - (CAST(sap AS DOUBLE) / 2.0) * (CAST(sbp AS DOUBLE) / 2.0)
        |          / CAST(n_pos AS DOUBLE))
        |      / (CAST(n_pos AS DOUBLE) - 1.0)
        |      / (CAST(n_neg AS DOUBLE) * CAST(n_neg AS DOUBLE)) * 2.0)
        |      / CAST(n_pos AS DOUBLE)
        |    + ((CAST(saan AS DOUBLE) / 4.0
        |        - (CAST(san AS DOUBLE) / 2.0) * (CAST(san AS DOUBLE) / 2.0)
        |          / CAST(n_neg AS DOUBLE))
        |      / (CAST(n_neg AS DOUBLE) - 1.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_pos AS DOUBLE))
        |      + (CAST(sbbn AS DOUBLE) / 4.0
        |        - (CAST(sbn AS DOUBLE) / 2.0) * (CAST(sbn AS DOUBLE) / 2.0)
        |          / CAST(n_neg AS DOUBLE))
        |      / (CAST(n_neg AS DOUBLE) - 1.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_pos AS DOUBLE))
        |      - (CAST(sabn AS DOUBLE) / 4.0
        |        - (CAST(san AS DOUBLE) / 2.0) * (CAST(sbn AS DOUBLE) / 2.0)
        |          / CAST(n_neg AS DOUBLE))
        |      / (CAST(n_neg AS DOUBLE) - 1.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_pos AS DOUBLE)) * 2.0)
        |      / CAST(n_neg AS DOUBLE) AS vard
        |  FROM m)
        |SELECT n_pos, n_neg,
        |  CASE WHEN n_pos < 2 OR n_neg < 2 THEN NULL ELSE auca END AS auc_a,
        |  CASE WHEN n_pos < 2 OR n_neg < 2 THEN NULL ELSE aucb END AS auc_b,
        |  CASE WHEN n_pos < 2 OR n_neg < 2 THEN NULL
        |    ELSE auca - aucb END AS delta,
        |  CASE WHEN n_pos < 2 OR n_neg < 2 THEN NULL ELSE vard END AS var_delta,
        |  CASE WHEN n_pos < 2 OR n_neg < 2 OR vard <= 0.0 THEN NULL
        |    ELSE (auca - aucb) / sqrt(vard) END AS z
        |FROM c""".stripMargin,

    // gains replay: the same (s DESC, doc_id) total order, the same
    // exact floor binning, cumulative window over the 10-row bins
    "x_gains" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS s,
        |    contains(text, ' the ') AS y, doc_id FROM documents),
        |r AS (SELECT y,
        |    row_number() OVER (ORDER BY s DESC, doc_id) AS rn,
        |    count(*) OVER () AS n,
        |    sum(CASE WHEN y THEN 1 ELSE 0 END) OVER () AS np
        |  FROM d),
        |b AS (SELECT CAST(floor(CAST(rn - 1 AS DOUBLE) * 10
        |      / CAST(n AS DOUBLE)) + 1.0 AS BIGINT) AS bin,
        |    y, n, np FROM r),
        |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(max(n) AS BIGINT) AS tot, CAST(max(np) AS BIGINT) AS totp
        |  FROM b GROUP BY bin)
        |SELECT bin, n, n_pos,
        |  CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cum_n,
        |  CAST(sum(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cum_pos,
        |  CASE WHEN totp = 0 THEN NULL
        |    ELSE CAST(sum(n_pos) OVER (ORDER BY bin) AS DOUBLE)
        |      / CAST(totp AS DOUBLE) END AS capture,
        |  CASE WHEN sum(n) OVER (ORDER BY bin) = 0 THEN NULL
        |    ELSE CAST(sum(n_pos) OVER (ORDER BY bin) AS DOUBLE)
        |      / CAST(sum(n) OVER (ORDER BY bin) AS DOUBLE)
        |  END AS precision_at,
        |  CASE WHEN totp = 0 OR n = 0 THEN NULL
        |    ELSE (CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(totp AS DOUBLE) / CAST(tot AS DOUBLE)) END AS lift
        |FROM g ORDER BY bin""".stripMargin,

    // per-key AUC replay: within-key avg rank = keyed min-rank +
    // (keyed ties - 1)/2, decimal rank sum, the same fixed closing
    "x_auc_by" ->
      s"""WITH d AS (SELECT CAST(lang AS VARCHAR) AS key,
        |    CAST(n_chars AS DOUBLE) AS s,
        |    contains(text, ' the ') AS y FROM documents),
        |r AS (SELECT key, y,
        |    CAST(rank() OVER (PARTITION BY key ORDER BY s) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY key, s) AS DOUBLE) - 1.0)
        |        / 2.0 AS ar
        |  FROM d),
        |a AS (SELECT key,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
        |    ${graft.functions.Exact.dsumSql("CASE WHEN y THEN ar END")} AS srp
        |  FROM r GROUP BY key)
        |SELECT key, n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
        |    ELSE (srp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc
        |FROM a ORDER BY key""".stripMargin,

    // per-key Spearman replay: keyed avg ranks, HUGEINT moments per
    // key, the identical closing shape
    "x_spearman_by" ->
      """WITH d AS (SELECT CAST(lang AS VARCHAR) AS key,
        |    CAST(n_chars AS DOUBLE) AS x,
        |    CAST(length(text) - length(translate(text, ' ', '')) AS DOUBLE) AS y
        |  FROM documents),
        |r AS (SELECT key,
        |    (CAST(rank() OVER (PARTITION BY key ORDER BY x) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY key, x) AS DOUBLE) - 1.0)
        |        / 2.0) * 2.0 AS rx2,
        |    (CAST(rank() OVER (PARTITION BY key ORDER BY y) AS DOUBLE)
        |      + (CAST(count(*) OVER (PARTITION BY key, y) AS DOUBLE) - 1.0)
        |        / 2.0) * 2.0 AS ry2
        |  FROM d),
        |m AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(rx2 AS HUGEINT)) AS sx, sum(CAST(ry2 AS HUGEINT)) AS sy,
        |    sum(CAST(rx2 AS HUGEINT) * CAST(rx2 AS HUGEINT)) AS sxx,
        |    sum(CAST(ry2 AS HUGEINT) * CAST(ry2 AS HUGEINT)) AS syy,
        |    sum(CAST(rx2 AS HUGEINT) * CAST(ry2 AS HUGEINT)) AS sxy
        |  FROM r GROUP BY key)
        |SELECT key, n,
        |  CASE WHEN n = 0
        |      OR CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0
        |      OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0.0 THEN NULL
        |    ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  END AS rho
        |FROM m ORDER BY key""".stripMargin,

    // Good-Turing replay: the same tokenization, exact
    // frequency-of-frequency counts, fixed closing shapes
    "x_good_turing" ->
      s"""WITH f AS (SELECT t, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest($toksSql) AS t FROM documents) GROUP BY t),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n1,
        |    CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n2
        |  FROM f)
        |SELECT n_terms, n_tokens, n1, n2,
        |  CASE WHEN n_tokens = 0 THEN NULL
        |    ELSE CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS p_unseen,
        |  CASE WHEN n_terms = 0 THEN NULL
        |    ELSE CAST(n_terms AS DOUBLE)
        |      + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)
        |        / ((CAST(n2 AS DOUBLE) + 1.0) * 2.0) END AS chao1
        |FROM m""".stripMargin,

    // weighted-kappa replay: identical band projections, HUGEINT O/E,
    // the single closing division
    "x_wkappa" ->
      """WITH d AS (SELECT
        |    CAST(least(floor(CAST(n_chars AS DOUBLE) / 150.0), 3.0) AS BIGINT) AS a,
        |    CAST(least(floor(CAST(length(text)
        |      - length(translate(text, ' ', '')) AS DOUBLE) / 25.0), 3.0) AS BIGINT) AS b
        |  FROM documents),
        |o AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM d GROUP BY 1, 2),
        |obs AS (SELECT sum(CAST((a - b) * (a - b) AS HUGEINT)
        |      * CAST(o AS HUGEINT)) AS wo,
        |    CAST(sum(o) AS BIGINT) AS n FROM o),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM o GROUP BY a),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM o GROUP BY b),
        |e AS (SELECT sum(CAST((a - b) * (a - b) AS HUGEINT)
        |    * CAST(ra AS HUGEINT) * CAST(cb AS HUGEINT)) AS we
        |  FROM ra CROSS JOIN cb)
        |SELECT n, CAST(wo AS DOUBLE) AS o_w,
        |  CAST(we AS DOUBLE) / CAST(n AS DOUBLE) AS e_w,
        |  CASE WHEN we = 0 OR n = 0 THEN NULL
        |    ELSE 1.0 - CAST(wo * CAST(n AS HUGEINT) AS DOUBLE)
        |      / CAST(we AS DOUBLE) END AS kappa_w
        |FROM obs CROSS JOIN e""".stripMargin,

    // leakage replay: the exact-jaccard candidate set (the
    // x_dedup_jaccard recipe) + the md5-range split rule + normalized
    // straddle counts
    "x_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks),
        |cand AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.15),
        |asg AS (SELECT doc_id,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents)
        |SELECT least(sa.split, sb.split) AS split_a,
        |  greatest(sa.split, sb.split) AS split_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS leaking
        |FROM cand JOIN asg sa ON sa.doc_id = cand.a
        |  JOIN asg sb ON sb.doc_id = cand.b
        |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin,

    // farthest-first replay: seed = lowest vec_id, each round the
    // (d DESC, vec_id ASC) TakeOrdered pick over the incremental
    // least() of l2 distances — min of doubles is associative, so the
    // incremental form matches the engine's batch least() exactly
    "x_kcenter" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
        |d1 AS (SELECT e.vec_id, e.v, list_distance(e.v, c1.v) AS d
        |  FROM e CROSS JOIN c1),
        |p2 AS (SELECT vec_id, v, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
        |d2 AS (SELECT d1.vec_id, d1.v, least(d1.d, list_distance(d1.v, p2.v)) AS d
        |  FROM d1 CROSS JOIN p2),
        |p3 AS (SELECT vec_id, v, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
        |d3 AS (SELECT d2.vec_id, d2.v, least(d2.d, list_distance(d2.v, p3.v)) AS d
        |  FROM d2 CROSS JOIN p3),
        |p4 AS (SELECT vec_id, v, d FROM d3 ORDER BY d DESC, vec_id LIMIT 1),
        |d4 AS (SELECT d3.vec_id, least(d3.d, list_distance(d3.v, p4.v)) AS d
        |  FROM d3 CROSS JOIN p4),
        |r AS (SELECT max(d) AS radius FROM d4)
        |SELECT cid, vec_id, dist, radius FROM (
        |  SELECT CAST(0 AS INT) AS cid, vec_id, 0.0 AS dist FROM c1
        |  UNION ALL SELECT 1, vec_id, d FROM p2
        |  UNION ALL SELECT 2, vec_id, d FROM p3
        |  UNION ALL SELECT 3, vec_id, d FROM p4) CROSS JOIN r
        |ORDER BY cid""".stripMargin,

    "x_audio" ->
      """WITH p AS (SELECT doc_id,
        |    substring(rpad(repeat(md5(text), 3), 64, '0'), 1, 64) AS px
        |  FROM documents),
        |s AS (SELECT doc_id, list_transform(range(1, 65),
        |    i -> ascii(substring(px, CAST(i AS INT), 1))) AS cs FROM p)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, true AS ok,
        |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(8 AS INT) AS bits, CAST(64 AS BIGINT) AS n_samples,
        |  64.0 / 8000.0 AS duration_sec,
        |  CAST(list_sum(cs) AS DOUBLE) / 64.0 AS mean_amp,
        |  CAST(list_max(cs) AS INT) AS peak_amp
        |FROM s ORDER BY media_id""".stripMargin,

    // RMS replay: a = ascii(char) - 128 per sample, 4 windows of 16,
    // integer energy sums, one sqrt of the exact ratio
    "x_audio_rms" ->
      """WITH p AS (SELECT doc_id,
        |    substring(rpad(repeat(md5(text), 3), 64, '0'), 1, 64) AS px
        |  FROM documents),
        |s AS (SELECT doc_id, list_transform(range(1, 65),
        |    i -> ascii(substring(px, CAST(i AS INT), 1)) - 128) AS cs FROM p),
        |w AS (SELECT doc_id, CAST(r.range AS INT) AS win_idx,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      j -> cs[CAST(r.range * 16 + j AS INT)]
        |         * cs[CAST(r.range * 16 + j AS INT)])) AS BIGINT) AS energy
        |  FROM s CROSS JOIN range(0, 4) r)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, win_idx,
        |  CAST(16 AS BIGINT) AS n, energy,
        |  sqrt(CAST(energy AS DOUBLE) / 16.0) AS rms
        |FROM w ORDER BY media_id, win_idx""".stripMargin,

    // scene-cut replay: luma chars f*24+1..f*24+16 per frame, exact
    // |diff| sums per consecutive pair, one division, strict > cut
    "x_scene_cuts" ->
      """WITH p AS (SELECT doc_id,
        |    substring(rpad(repeat(md5(text), 3), 72, '0'), 1, 72) AS px
        |  FROM documents),
        |c AS (SELECT doc_id, list_transform(range(1, 73),
        |    i -> ascii(substring(px, CAST(i AS INT), 1))) AS cs FROM p),
        |w AS (SELECT doc_id, CAST(r.range + 1 AS INT) AS frame_idx,
        |    CAST(list_sum(list_transform(range(1, 17), j ->
        |      abs(cs[CAST((r.range + 1) * 24 + j AS INT)]
        |        - cs[CAST(r.range * 24 + j AS INT)]))) AS BIGINT) AS sad
        |  FROM c CROSS JOIN range(0, 2) r)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, frame_idx, sad,
        |  CAST(sad AS DOUBLE) / 16.0 AS mad,
        |  (CAST(sad AS DOUBLE) / 16.0) > 30.0 AS cut
        |FROM w ORDER BY media_id, frame_idx""".stripMargin,

    "x_video" ->
      """WITH p AS (SELECT doc_id,
        |    substring(rpad(repeat(md5(text), 3), 72, '0'), 1, 72) AS px
        |  FROM documents),
        |c AS (SELECT doc_id, list_transform(range(1, 73),
        |    i -> ascii(substring(px, CAST(i AS INT), 1))) AS cs FROM p),
        |s AS (SELECT doc_id,
        |    list_sum(list_transform(range(0, 16), j -> cs[CAST(j+1 AS INT)])) AS f0,
        |    list_sum(list_transform(range(0, 16), j -> cs[CAST(j+25 AS INT)])) AS f1,
        |    list_sum(list_transform(range(0, 16), j -> cs[CAST(j+49 AS INT)])) AS f2
        |  FROM c)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, true AS ok,
        |  CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
        |  25.0 AS fps, CAST(3 AS BIGINT) AS n_frames,
        |  CAST(f0+f1+f2 AS DOUBLE) / 48.0 AS mean_luma,
        |  CAST(f0 AS DOUBLE) / 16.0 AS first_frame_luma
        |FROM s ORDER BY media_id""".stripMargin,

    "x_multimodal" ->
      """WITH p AS (SELECT doc_id,
        |    substring(rpad(repeat(md5(text), 5), 144, '0'), 1, 144) AS px
        |  FROM documents),
        |c AS (SELECT doc_id, list_transform(range(1, 145),
        |    i -> ascii(substring(px, CAST(i AS INT), 1))) AS cs FROM p),
        |s AS (SELECT doc_id,
        |    list_sum(list_transform(range(0, 48), j -> cs[CAST(j*3+1 AS INT)])) AS sr,
        |    list_sum(list_transform(range(0, 48), j -> cs[CAST(j*3+2 AS INT)])) AS sg,
        |    list_sum(list_transform(range(0, 48), j -> cs[CAST(j*3+3 AS INT)])) AS sb
        |  FROM c)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, true AS ok,
        |  CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |  CAST(sr+sg+sb AS DOUBLE)/144.0 AS mean_px,
        |  CAST(sr AS DOUBLE)/48.0 AS mean_r,
        |  CAST(sg AS DOUBLE)/48.0 AS mean_g,
        |  CAST(sb AS DOUBLE)/48.0 AS mean_b
        |FROM s ORDER BY media_id""".stripMargin,

    // resize replay: destination pixel (x,y) reads source (2x, 2y) on
    // the 8-wide grid — chars ((2y)*8 + 2x)*3 + c of the raster string
    "x_resize" ->
      """WITH p AS (SELECT doc_id,
        |    substring(rpad(repeat(md5(text), 5), 144, '0'), 1, 144) AS px
        |  FROM documents),
        |c AS (SELECT doc_id, list_transform(range(1, 145),
        |    i -> ascii(substring(px, CAST(i AS INT), 1))) AS cs FROM p),
        |s AS (SELECT doc_id,
        |    list_sum(list_transform(range(0, 12),
        |      j -> cs[CAST(((j//4)*2*8 + (j%4)*2)*3 + 1 AS INT)])) AS sr,
        |    list_sum(list_transform(range(0, 12),
        |      j -> cs[CAST(((j//4)*2*8 + (j%4)*2)*3 + 2 AS INT)])) AS sg,
        |    list_sum(list_transform(range(0, 12),
        |      j -> cs[CAST(((j//4)*2*8 + (j%4)*2)*3 + 3 AS INT)])) AS sb
        |  FROM c)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, true AS ok,
        |  CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
        |  CAST(sr+sg+sb AS DOUBLE)/36.0 AS mean_px,
        |  CAST(sr AS DOUBLE)/12.0 AS mean_r,
        |  CAST(sg AS DOUBLE)/12.0 AS mean_g,
        |  CAST(sb AS DOUBLE)/12.0 AS mean_b
        |FROM s ORDER BY media_id""".stripMargin,

    // dHash replay from the md5-derived pixel bytes: 216 raster chars
    // (9x8 RGB), gray = 3-char ascii sum, bit k = gray(x,y)<gray(x+1,y)
    // with x=k%8, y=k//8 on the 9-wide grid, packed into 16-bit chunks
    "x_dhash" ->
      """WITH p AS (SELECT doc_id,
        |    substring(rpad(repeat(md5(text), 7), 216, '0'), 1, 216) AS px FROM documents),
        |g AS (SELECT doc_id, list_transform(range(0, 72), i ->
        |    ascii(substring(px, CAST(i*3+1 AS INT), 1)) + ascii(substring(px, CAST(i*3+2 AS INT), 1))
        |    + ascii(substring(px, CAST(i*3+3 AS INT), 1))) AS gs FROM p),
        |b AS (SELECT doc_id, list_transform(range(0, 64), k ->
        |    CASE WHEN gs[CAST((k//8)*9 + (k%8) + 1 AS INT)] < gs[CAST((k//8)*9 + (k%8) + 2 AS INT)]
        |      THEN 1 ELSE 0 END) AS bits FROM g)
        |SELECT doc_id AS media_id, true AS ok,
        |  CAST(list_sum(list_transform(range(0,16), j -> bits[CAST(j+1 AS INT)] * (1<<CAST(j AS INT)))) AS INT) AS c0,
        |  CAST(list_sum(list_transform(range(0,16), j -> bits[CAST(j+17 AS INT)] * (1<<CAST(j AS INT)))) AS INT) AS c1,
        |  CAST(list_sum(list_transform(range(0,16), j -> bits[CAST(j+33 AS INT)] * (1<<CAST(j AS INT)))) AS INT) AS c2,
        |  CAST(list_sum(list_transform(range(0,16), j -> bits[CAST(j+49 AS INT)] * (1<<CAST(j AS INT)))) AS INT) AS c3
        |FROM b ORDER BY media_id""".stripMargin,

    // full image-dedup replay: both pixel sets (base + first-pixel-
    // overwritten re-encodes), the dHash bits, the 4x16-bit bucket
    // keys, the pigeonhole pairing, and the bit_count distance
    "x_image_dedup" ->
      """WITH imgs AS (
        |  SELECT doc_id AS media_id,
        |    substring(rpad(repeat(md5(text), 7), 216, '0'), 1, 216) AS px FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS media_id,
        |    '000' || substring(substring(rpad(repeat(md5(text), 7), 216, '0'), 1, 216), 4, 213) AS px
        |  FROM documents WHERE doc_id % 10 = 0),
        |g AS (SELECT media_id, list_transform(range(0, 72), i ->
        |    ascii(substring(px, CAST(i*3+1 AS INT), 1)) + ascii(substring(px, CAST(i*3+2 AS INT), 1))
        |    + ascii(substring(px, CAST(i*3+3 AS INT), 1))) AS gs FROM imgs),
        |b AS (SELECT media_id, list_transform(range(0, 64), k ->
        |    CASE WHEN gs[CAST((k//8)*9 + (k%8) + 1 AS INT)] < gs[CAST((k//8)*9 + (k%8) + 2 AS INT)]
        |      THEN 1 ELSE 0 END) AS bits FROM g),
        |c AS (SELECT media_id,
        |    CAST(list_sum(list_transform(range(0,16), j -> bits[CAST(j+1 AS INT)] * (1<<CAST(j AS INT)))) AS BIGINT) AS c0,
        |    CAST(list_sum(list_transform(range(0,16), j -> bits[CAST(j+17 AS INT)] * (1<<CAST(j AS INT)))) AS BIGINT) AS c1,
        |    CAST(list_sum(list_transform(range(0,16), j -> bits[CAST(j+33 AS INT)] * (1<<CAST(j AS INT)))) AS BIGINT) AS c2,
        |    CAST(list_sum(list_transform(range(0,16), j -> bits[CAST(j+49 AS INT)] * (1<<CAST(j AS INT)))) AS BIGINT) AS c3
        |  FROM b),
        |ch AS (
        |  SELECT media_id, 0 AS chunk, c0 AS key FROM c UNION ALL
        |  SELECT media_id, 1, c1 FROM c UNION ALL
        |  SELECT media_id, 2, c2 FROM c UNION ALL
        |  SELECT media_id, 3, c3 FROM c),
        |pairs AS (SELECT DISTINCT l.media_id AS a, r.media_id AS b
        |  FROM ch l JOIN ch r USING (chunk, key) WHERE l.media_id < r.media_id),
        |d AS (SELECT a, b,
        |    bit_count(xor(ca.c0, cb.c0)) + bit_count(xor(ca.c1, cb.c1)) +
        |    bit_count(xor(ca.c2, cb.c2)) + bit_count(xor(ca.c3, cb.c3)) AS dist
        |  FROM pairs JOIN c ca ON ca.media_id = pairs.a JOIN c cb ON cb.media_id = pairs.b)
        |SELECT a, b, CAST(dist AS INT) AS dist FROM d WHERE dist <= 3 ORDER BY a, b""".stripMargin,

    // the frame-sampling topology over base64(payload): every 4th
    // 32-char block; both engines emit RFC-4648 base64 of the same
    // UTF-8 bytes
    "x_frames" ->
      """WITH m AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    base64(encode(text)) AS b64,
        |    octet_length(encode(text)) AS blen FROM documents),
        |f AS (SELECT media_id, b64, unnest(range(0,
        |    greatest(CAST(floor((blen-1)/128.0) AS INT), 0) + 1)) AS i FROM m)
        |SELECT media_id, CAST(i AS INT) AS frame_idx,
        |  substring(b64, CAST(i*128+1 AS INT), 32) AS frame_b64
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    // 0.8 -> 0xcccd, 0.9 -> 0xe666 (the plan-time 16-bit thresholds)
    "x_splits" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // replays x_url_canon end to end: same synthetic construction,
    // same regex normalization (RE2 patterns on both engines)
    "x_url_canon" ->
      """WITH raw AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Site' ELSE 'https://site' END)
        |    || CAST(doc_id % 7 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '.COM:443' ELSE '.com' END)
        |    || '/path' || CAST(doc_id % 5 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        |    || '?utm_source=x&id=' || CAST(doc_id % 11 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '&fbclid=zzz' ELSE '' END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        |      '^www\.', '') AS host0,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query0
        |  FROM raw),
        |n AS (SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
        |      ELSE host0 END AS host,
        |    regexp_replace(path0, '/+$', '') AS path,
        |    array_to_string(list_filter(string_split(query0, '&'),
        |      p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref|mc_cid|mc_eid)(=|$)')
        |        AND p <> ''), '&') AS q
        |  FROM c),
        |k AS (SELECT doc_id,
        |    CASE WHEN scheme = '' THEN url
        |      ELSE scheme || '://' || host || path ||
        |        (CASE WHEN q = '' THEN '' ELSE '?' || q END) END AS curl
        |  FROM n)
        |SELECT curl, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS keep_id
        |FROM k GROUP BY curl ORDER BY curl""".stripMargin,

    // replays mixtureSample: same totals, same N* = min(T/w), same
    // 16-bit floor(x+0.5) threshold quantization, same md5 buckets
    "x_mixture" ->
      """WITH w(stratum, w) AS (VALUES ('de', 0.2), ('en', 0.3), ('es', 0.2),
        |    ('fr', 0.2), ('zh', 0.1)),
        |tot AS (SELECT lang AS stratum, CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) AS t
        |  FROM documents GROUP BY 1),
        |tw AS (SELECT stratum, t, w FROM tot JOIN w USING (stratum) WHERE t > 0),
        |ns AS (SELECT min(t / w) AS nstar FROM tw),
        |r AS (SELECT stratum, least(w * nstar / t, 1.0) AS mix_rate,
        |    printf('%04x', CAST(least(floor(least(w * nstar / t, 1.0) * 65536.0 + 0.5),
        |      65535.0) AS INT)) AS thr
        |  FROM tw CROSS JOIN ns)
        |SELECT d.doc_id, d.lang, d.n_chars, r.mix_rate
        |FROM documents d JOIN r ON d.lang = r.stratum
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thr
        |ORDER BY d.doc_id""".stripMargin,

    // replays temperatureMix α=0.5: w = sqrt(T) (IEEE-exact), same
    // N* = min(T/w) max-volume rule and 16-bit threshold as x_mixture
    "x_temp_mix" ->
      """WITH tot AS (SELECT lang, CAST(sum(CAST(n_chars AS BIGINT)) AS DOUBLE) AS t
        |  FROM documents GROUP BY 1 HAVING sum(n_chars) > 0),
        |w AS (SELECT lang, t, sqrt(t) AS w FROM tot),
        |ns AS (SELECT min(t / w) AS nstar FROM w),
        |r AS (SELECT lang, least(w * nstar / t, 1.0) AS mix_rate,
        |    printf('%04x', CAST(least(floor(least(w * nstar / t, 1.0) * 65536.0 + 0.5),
        |      65535.0) AS INT)) AS thr
        |  FROM w CROSS JOIN ns)
        |SELECT d.doc_id, d.lang, d.n_chars, r.mix_rate
        |FROM documents d JOIN r USING (lang)
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thr
        |ORDER BY d.doc_id""".stripMargin,

    // replays the EG recursion in its closed form: per-cell exact
    // integer-sum/count loss means, relative excess rounded to 6dp
    // BEFORE the ordered cumulative sum (so exp sees identical
    // doubles), per-round softmax, round-6 published weights. Every
    // unordered double reduction (round loss mean, softmax
    // denominator, cross-round average) rides the 2^-40 fixed-point
    // grid like the Spark side
    "x_doremi" ->
      """WITH lvl AS (SELECT lang AS domain, doc_id % 6 AS rnd,
        |    CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS loss
        |  FROM documents GROUP BY 1, 2),
        |grid AS (SELECT d.domain, r.rnd
        |  FROM (SELECT DISTINCT domain FROM lvl) d
        |  CROSS JOIN (SELECT DISTINCT rnd FROM lvl) r),
        |cent0 AS (SELECT g.domain, g.rnd, l.loss,
        |    (CAST(sum(CAST(FLOOR(l.loss * 1099511627776.0 + 0.5)
        |        AS DECIMAL(38,0))) OVER (PARTITION BY g.rnd) AS DOUBLE)
        |      / 1099511627776.0)
        |      / CAST(count(l.loss) OVER (PARTITION BY g.rnd) AS DOUBLE) AS rmean
        |  FROM grid g LEFT JOIN lvl l ON g.domain = l.domain AND g.rnd = l.rnd),
        |cent AS (SELECT domain, rnd,
        |    round(coalesce(loss, rmean) / rmean - 1.0, 6) AS ex
        |  FROM cent0),
        |u AS (SELECT domain, rnd, exp(0.5 * sum(ex) OVER (PARTITION BY domain
        |    ORDER BY rnd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS uw
        |  FROM cent),
        |wt AS (SELECT domain,
        |    uw / (CAST(sum(CAST(FLOOR(uw * 1099511627776.0 + 0.5)
        |        AS DECIMAL(38,0))) OVER (PARTITION BY rnd) AS DOUBLE)
        |      / 1099511627776.0) AS w,
        |    count(*) OVER (PARTITION BY rnd) AS k
        |  FROM u),
        |ag AS (SELECT domain,
        |    round((CAST(sum(CAST(FLOOR(w * 1099511627776.0 + 0.5)
        |        AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0)
        |      / CAST(count(*) AS DOUBLE), 6) AS w_avg,
        |    max(k) AS k FROM wt GROUP BY domain)
        |SELECT domain, w_avg,
        |  round(0.9 * w_avg + 0.1 / CAST(k AS DOUBLE), 6) AS doremi_weight
        |FROM ag ORDER BY domain""".stripMargin,

    // replays stripMarkup: same wrapping, same RE2 passes with the
    // 'g' ('gs' for the dotall block pass) flags
    "x_strip" ->
      """WITH raw AS (SELECT doc_id,
        |    '<html><head><style>p{margin:0}</style></head><body><h1>T'
        |    || CAST(doc_id % 7 AS VARCHAR)
        |    || '</h1><p class="x">' || text
        |    || '</p><script>var a=1;</script>&amp; more &lt;tail&gt;&nbsp;end</body></html>' AS h
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |    regexp_replace(h, '<(script|style)[^>]*>.*?</(script|style)>', ' ', 'gs') AS t
        |  FROM raw),
        |s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      t, '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', CHR(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS t
        |  FROM s2)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean
        |FROM s3 ORDER BY doc_id""".stripMargin,

    // QUADRATIC ground truth for the affix dedup: every doc pair
    // (a < b) cross-joined, chunk-grain LCP computed by DIRECT list
    // comparison (prefix slices of the per-doc chunk-hash lists — no
    // bucketing shortcut), then the same per-doc argmax/min-partner
    // read the operator publishes; chunking replayed as in x_cdc
    "x_affix_dedup" ->
      """WITH d0 AS (SELECT doc_id,
        |    'crawl-shard standard header :: source=' || source ||
        |    ' :: every page in this shard carries this exact boilerplate preamble, inserted by the export pipeline before the document body; tokenizer and decontamination passes must not count it :: '
        |    || text ||
        |    ' :: standard shard footer: this page was exported by the crawl pipeline; copyright shard '
        |    || source ||
        |    '; the exact same trailing boilerplate is appended to every page in the shard, all rights reserved :: end' AS text
        |  FROM documents),
        |d AS (SELECT doc_id, text, length(text) AS n FROM d0),
        |b AS (SELECT doc_id, text, n,
        |    list_concat([CAST(1 AS BIGINT)], CASE WHEN n - 16 + 1 >= 2 THEN
        |      list_filter(range(2, n - 16 + 2),
        |        i -> substring(md5(substring(text, CAST(i AS INT), 16)), 1, 2) <= '03')
        |      ELSE CAST([] AS BIGINT[]) END) AS starts
        |  FROM d),
        |c AS (SELECT doc_id, text, n, starts,
        |    list_concat(starts[2:], [CAST(n + 1 AS BIGINT)]) AS ends FROM b),
        |j AS (SELECT doc_id, text, unnest(starts) AS s, unnest(ends) AS e FROM c),
        |ch AS (SELECT doc_id, s, e - s AS len,
        |    md5(substring(text, CAST(s AS INT), CAST(e - s AS INT))) AS h FROM j),
        |dc AS (SELECT doc_id,
        |    list(h ORDER BY s) AS hs, list(len ORDER BY s) AS lens,
        |    list(h ORDER BY s DESC) AS rhs, list(len ORDER BY s DESC) AS rlens
        |  FROM ch GROUP BY doc_id),
        |hits AS (
        |  SELECT 'prefix' AS kind, b2.doc_id AS hdoc, a.doc_id AS part,
        |    CAST(coalesce(list_sum(a.lens[1:CAST(list_max(list_filter(
        |      range(1, least(length(a.hs), length(b2.hs)) + 1),
        |      i -> a.hs[1:CAST(i AS INT)] = b2.hs[1:CAST(i AS INT)])) AS INT)]), 0) AS BIGINT) AS shared
        |  FROM dc a JOIN dc b2 ON a.doc_id < b2.doc_id
        |  UNION ALL
        |  SELECT 'suffix' AS kind, b2.doc_id AS hdoc, a.doc_id AS part,
        |    CAST(coalesce(list_sum(a.rlens[1:CAST(list_max(list_filter(
        |      range(1, least(length(a.rhs), length(b2.rhs)) + 1),
        |      i -> a.rhs[1:CAST(i AS INT)] = b2.rhs[1:CAST(i AS INT)])) AS INT)]), 0) AS BIGINT) AS shared
        |  FROM dc a JOIN dc b2 ON a.doc_id < b2.doc_id),
        |mx AS (SELECT kind AS mkind, hdoc AS mdoc, max(shared) AS shared_chars
        |  FROM hits WHERE shared >= 48 GROUP BY 1, 2)
        |SELECT kind, hdoc AS doc_id, min(part) AS partner, shared_chars
        |FROM hits JOIN mx ON kind = mkind AND hdoc = mdoc AND shared = shared_chars
        |GROUP BY 1, 2, 4 ORDER BY kind, doc_id""".stripMargin,

    // the strip replay: the quadratic finder above as a CTE, then the
    // same clamped substring cut per doc (pass-through docs cut 0)
    "x_affix_strip" ->
      """WITH d0 AS (SELECT doc_id,
        |    'crawl-shard standard header :: source=' || source ||
        |    ' :: every page in this shard carries this exact boilerplate preamble, inserted by the export pipeline before the document body; tokenizer and decontamination passes must not count it :: '
        |    || text ||
        |    ' :: standard shard footer: this page was exported by the crawl pipeline; copyright shard '
        |    || source ||
        |    '; the exact same trailing boilerplate is appended to every page in the shard, all rights reserved :: end' AS text
        |  FROM documents),
        |d AS (SELECT doc_id, text, length(text) AS n FROM d0),
        |b AS (SELECT doc_id, text, n,
        |    list_concat([CAST(1 AS BIGINT)], CASE WHEN n - 16 + 1 >= 2 THEN
        |      list_filter(range(2, n - 16 + 2),
        |        i -> substring(md5(substring(text, CAST(i AS INT), 16)), 1, 2) <= '03')
        |      ELSE CAST([] AS BIGINT[]) END) AS starts
        |  FROM d),
        |c AS (SELECT doc_id, text, n, starts,
        |    list_concat(starts[2:], [CAST(n + 1 AS BIGINT)]) AS ends FROM b),
        |j AS (SELECT doc_id, text, unnest(starts) AS s, unnest(ends) AS e FROM c),
        |ch AS (SELECT doc_id, s, e - s AS len,
        |    md5(substring(text, CAST(s AS INT), CAST(e - s AS INT))) AS h FROM j),
        |dc AS (SELECT doc_id,
        |    list(h ORDER BY s) AS hs, list(len ORDER BY s) AS lens,
        |    list(h ORDER BY s DESC) AS rhs, list(len ORDER BY s DESC) AS rlens
        |  FROM ch GROUP BY doc_id),
        |hits AS (
        |  SELECT 'prefix' AS kind, b2.doc_id AS hdoc,
        |    CAST(coalesce(list_sum(a.lens[1:CAST(list_max(list_filter(
        |      range(1, least(length(a.hs), length(b2.hs)) + 1),
        |      i -> a.hs[1:CAST(i AS INT)] = b2.hs[1:CAST(i AS INT)])) AS INT)]), 0) AS BIGINT) AS shared
        |  FROM dc a JOIN dc b2 ON a.doc_id < b2.doc_id
        |  UNION ALL
        |  SELECT 'suffix' AS kind, b2.doc_id AS hdoc,
        |    CAST(coalesce(list_sum(a.rlens[1:CAST(list_max(list_filter(
        |      range(1, least(length(a.rhs), length(b2.rhs)) + 1),
        |      i -> a.rhs[1:CAST(i AS INT)] = b2.rhs[1:CAST(i AS INT)])) AS INT)]), 0) AS BIGINT) AS shared
        |  FROM dc a JOIN dc b2 ON a.doc_id < b2.doc_id),
        |mx AS (SELECT kind, hdoc AS doc_id, max(shared) AS shared_chars
        |  FROM hits WHERE shared >= 48 GROUP BY 1, 2),
        |pre AS (SELECT doc_id, shared_chars AS p FROM mx WHERE kind = 'prefix'),
        |suf AS (SELECT doc_id, shared_chars AS sc FROM mx WHERE kind = 'suffix')
        |SELECT d.doc_id,
        |  substring(d.text, CAST(coalesce(p, 0) + 1 AS INT),
        |    CAST(greatest(n - coalesce(p, 0) - coalesce(sc, 0), 0) AS INT)) AS clean,
        |  CAST(coalesce(p, 0) AS BIGINT) AS cut_prefix,
        |  CAST(coalesce(sc, 0) AS BIGINT) AS cut_suffix
        |FROM d LEFT JOIN pre USING (doc_id) LEFT JOIN suf USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // CDC replay: identical hex-prefix boundary rule, per-doc
    // starts/ends zip, chunk md5s, then the count-1/min(doc) identity
    "x_cdc" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |b AS (SELECT doc_id, text, n,
        |    list_concat([CAST(1 AS BIGINT)], CASE WHEN n - 16 + 1 >= 2 THEN
        |      list_filter(range(2, n - 16 + 2),
        |        i -> substring(md5(substring(text, CAST(i AS INT), 16)), 1, 2) <= '03')
        |      ELSE CAST([] AS BIGINT[]) END) AS starts
        |  FROM d),
        |c AS (SELECT doc_id, text, n, starts,
        |    list_concat(starts[2:], [CAST(n + 1 AS BIGINT)]) AS ends FROM b),
        |j AS (SELECT doc_id, text, unnest(starts) AS s, unnest(ends) AS e FROM c),
        |ch AS (SELECT doc_id, e - s AS len,
        |    md5(substring(text, CAST(s AS INT), CAST(e - s AS INT))) AS h FROM j),
        |tot AS (SELECT doc_id, count(*) AS n_chunks, sum(len) AS chars
        |  FROM ch GROUP BY 1),
        |u AS (SELECT h, count(*) AS cnt, min(doc_id) AS doc_id, min(len) AS len
        |  FROM ch GROUP BY 1),
        |uq AS (SELECT doc_id, count(*) AS n_uniq, sum(len) AS uniq_chars
        |  FROM u WHERE cnt = 1 GROUP BY 1)
        |SELECT t.doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(n_chunks - coalesce(n_uniq, 0) AS BIGINT) AS dup_chunks,
        |  CAST(chars - coalesce(uniq_chars, 0) AS BIGINT) AS dup_chars
        |FROM tot t LEFT JOIN uq USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    // char-for-char normalization replay: the dirty prefix built from
    // chr() codes, then the identical fold/space/strip/squash chain
    "x_normalize" ->
      """WITH raw AS (SELECT doc_id,
        |    chr(8216)||'q'||chr(8217)||' '||chr(8220)||'w'||chr(8221)||' '
        |    ||chr(8211)||' '||chr(8212)||' '||chr(8230)
        |    ||chr(7)||chr(160)||chr(12288)||'  x'||chr(9)||chr(9)||'y '
        |    ||repeat(chr(10), 4)||' z   tail '||text AS t
        |  FROM documents),
        |f AS (SELECT doc_id, replace(translate(t,
        |    chr(8216)||chr(8217)||chr(8218)||chr(8220)||chr(8221)||chr(8222)||chr(8211)||chr(8212),
        |    chr(39)||chr(39)||chr(39)||'"'||'"'||'"'||'--'),
        |    chr(8230), '...') AS t FROM raw),
        |sp AS (SELECT doc_id, regexp_replace(t,
        |    '[\x{00A0}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]', ' ', 'g') AS t FROM f),
        |ctl AS (SELECT doc_id, regexp_replace(t,
        |    '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '', 'g') AS t FROM sp),
        |sq AS (SELECT doc_id, regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM ctl),
        |pa AS (SELECT doc_id,
        |    trim(regexp_replace(t, '\n{3,}', chr(10)||chr(10), 'g')) AS norm
        |  FROM sq)
        |SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_norm
        |FROM pa ORDER BY doc_id""".stripMargin,

    // replays lengthGroupedBatches: same buckets, same md5('7 '||id)
    // within-bucket order (a per-bucket window is FINE in the oracle —
    // DuckDB on sf0.01 — just not in the engine at 100 TB)
    "x_lgbatch" ->
      """WITH b AS (SELECT doc_id, n_chars,
        |    (CASE WHEN n_chars > 200 THEN 1 ELSE 0 END)
        |    + (CASE WHEN n_chars > 300 THEN 1 ELSE 0 END)
        |    + (CASE WHEN n_chars > 400 THEN 1 ELSE 0 END) AS bucket,
        |    md5('7 ' || CAST(doc_id AS VARCHAR)) AS ok
        |  FROM documents),
        |r AS (SELECT doc_id, n_chars, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY ok, doc_id) - 1 AS wr
        |  FROM b)
        |SELECT doc_id, n_chars, CAST(bucket AS INT) AS bucket,
        |  CAST(bucket AS VARCHAR) || '_' || CAST(wr // 8 AS VARCHAR) AS batch_id,
        |  CAST(wr % 8 AS INT) AS batch_pos
        |FROM r ORDER BY doc_id""".stripMargin,

    // data card: the x_quality formula per doc, decimal-bridged mean,
    // dominant language via (count, lang) argmax
    "x_datacard" ->
      s"""WITH f AS (
        |  SELECT source, n_chars,
        |    CAST(len(text) AS DOUBLE) AS n,
        |    CAST(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS DOUBLE) AS nw,
        |    CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha
        |  FROM documents),
        |q AS (SELECT source, n_chars,
        |    greatest(0.0, least(1.0,
        |      0.25 * least(nw / 50.0, 1.0) +
        |      0.25 * (alpha / greatest(n, 1.0)) +
        |      0.25 * (1.0 - least((punct / greatest(n, 1.0)) * 10.0, 1.0)) +
        |      0.25 * (1.0 - least((digits / greatest(n, 1.0)) * 10.0, 1.0)))) AS quality
        |  FROM f),
        |vol AS (SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    ${graft.functions.Exact.davgSql("quality")} AS mean_quality
        |  FROM q GROUP BY source),
        |lc AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
        |tl AS (SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang,
        |      row_number() OVER (PARTITION BY source ORDER BY c DESC, lang DESC) AS rk
        |    FROM lc) WHERE rk = 1),
        |nl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs FROM lc GROUP BY source)
        |SELECT vol.source, docs, total_chars, mean_quality, top_lang, n_langs
        |FROM vol JOIN tl USING (source) JOIN nl USING (source)
        |ORDER BY source""".stripMargin,

    // replays weightedSample: decimal-bridged mean weight, same
    // 13-hex md5Unif uniform, same strict < keep decision
    "x_wsample" ->
      s"""WITH m AS (SELECT ${graft.functions.Exact.davgSql("CAST(n_chars AS DOUBLE)")} AS mw
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  least(CAST(0.3 AS DOUBLE) * CAST(n_chars AS DOUBLE) / mw, 1.0) AS sample_p
        |FROM documents CROSS JOIN m
        |WHERE list_sum(list_transform(range(1, 14), j ->
        |    (strpos('0123456789abcdef',
        |       substring(md5('42' || CAST(doc_id AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |      * pow(16, 13 - j))) / 4503599627370496.0
        |  < least(CAST(0.3 AS DOUBLE) * CAST(n_chars AS DOUBLE) / mw, 1.0)
        |ORDER BY doc_id""".stripMargin,

    // HT replay: the x_wsample selection, then the same grid sums
    "x_ht" ->
      s"""WITH m AS (SELECT ${graft.functions.Exact.davgSql("CAST(n_chars AS DOUBLE)")} AS mw
        |  FROM documents),
        |s AS (SELECT n_chars,
        |    least(CAST(0.3 AS DOUBLE) * CAST(n_chars AS DOUBLE) / mw, 1.0) AS p
        |  FROM documents CROSS JOIN m
        |  WHERE list_sum(list_transform(range(1, 14), j ->
        |      (strpos('0123456789abcdef',
        |         substring(md5('42' || CAST(doc_id AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |        * pow(16, 13 - j))) / 4503599627370496.0
        |    < least(CAST(0.3 AS DOUBLE) * CAST(n_chars AS DOUBLE) / mw, 1.0)),
        |g AS (SELECT
        |    CAST(sum(CAST(floor(CAST(n_chars AS DOUBLE) / p * 16777216.0 + 0.5)
        |      AS HUGEINT)) AS DOUBLE) / 16777216.0 AS estimate,
        |    CAST(sum(CAST(floor(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
        |        * (1.0 - p) / (p * p) * 16777216.0 + 0.5)
        |      AS HUGEINT)) AS DOUBLE) / 16777216.0 AS variance,
        |    CAST(count(*) AS BIGINT) AS n_sampled
        |  FROM s)
        |SELECT estimate, variance,
        |  estimate - 1.96 * sqrt(variance) AS ci_lo,
        |  estimate + 1.96 * sqrt(variance) AS ci_hi,
        |  n_sampled
        |FROM g""".stripMargin,

    // replays corpusDiff: same synthetic v2 drop, same md5 compare
    "x_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS oh FROM documents WHERE doc_id % 2 = 0),
        |nw AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END) AS nh
        |  FROM documents WHERE doc_id < 450),
        |d AS (SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id,
        |    CASE WHEN o.oh IS NULL THEN 'added'
        |      WHEN nw.nh IS NULL THEN 'removed'
        |      WHEN o.oh = nw.nh THEN 'unchanged'
        |      ELSE 'changed' END AS status
        |  FROM o FULL JOIN nw ON o.doc_id = nw.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM d GROUP BY status ORDER BY status""".stripMargin,

    // replays negativeSample: same 13-hex-digit md5Unif rowid draws
    // (the d_slice_sample_rep scaffolding), same self-exclusion
    "x_negsample" ->
      """WITH ranked AS (SELECT vec_id, label,
        |    row_number() OVER (ORDER BY vec_id) AS nr FROM embeddings),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM embeddings),
        |a AS (SELECT vec_id AS anchor_id FROM embeddings WHERE vec_id < 5),
        |draws AS (SELECT anchor_id, i AS draw_id,
        |    CAST(floor(list_sum(list_transform(range(1, 14), j ->
        |        (strpos('0123456789abcdef',
        |           substring(md5('42' || CAST(anchor_id AS VARCHAR) || ' ' || CAST(i AS VARCHAR)),
        |             CAST(j AS INT), 1)) - 1)
        |          * pow(16, 13 - j))) / 4503599627370496.0 * nn) + 1 AS BIGINT) AS nr
        |  FROM a, (SELECT unnest(range(1, 5)) AS i), n)
        |SELECT d.anchor_id, d.draw_id, r.vec_id, r.label
        |FROM draws d JOIN ranked r USING (nr)
        |WHERE r.vec_id <> d.anchor_id
        |ORDER BY anchor_id, draw_id""".stripMargin,

    // replays interleaveByDomain: same md5('42 '||id) per-domain
    // shuffle rank, same (round, domain, id) global order
    "x_interleave" ->
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('42 ' || CAST(doc_id AS VARCHAR)), doc_id) AS rnd
        |  FROM documents)
        |SELECT row_number() OVER (ORDER BY rnd, source, doc_id) AS pos,
        |  doc_id, source
        |FROM r ORDER BY pos""".stripMargin,

    // replays aspectRatioBatches: dims from the doc_id%3 group map,
    // cross-multiplied bucket compares, the same md5('7 id') shuffle
    // rank, offsets over the 3-row bucket-count table
    "x_ar_batch" ->
      """WITH dims AS (SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 6 ELSE 6 END AS width,
        |    CASE doc_id % 3 WHEN 0 THEN 6 WHEN 1 THEN 6 ELSE 8 END AS height
        |  FROM documents),
        |b AS (SELECT *,
        |    (CASE WHEN width * 10 > 9 * height THEN 1 ELSE 0 END +
        |     CASE WHEN width * 10 > 11 * height THEN 1 ELSE 0 END) AS bucket,
        |    md5('7 ' || CAST(media_id AS VARCHAR)) AS ok
        |  FROM dims),
        |r AS (SELECT *, row_number() OVER (ORDER BY bucket, ok, media_id) AS rid
        |  FROM b),
        |o AS (SELECT bucket AS bk, count(*) AS c FROM b GROUP BY 1),
        |f AS (SELECT bk, coalesce(sum(c) OVER (ORDER BY bk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM o)
        |SELECT media_id, width, height, bucket,
        |  CAST(bucket AS VARCHAR) || '_' ||
        |    CAST((rid - off - 1) // 16 AS VARCHAR) AS batch_id,
        |  CAST((rid - off - 1) % 16 AS INT) AS batch_pos
        |FROM r JOIN f ON r.bucket = f.bk
        |ORDER BY media_id""".stripMargin,

    // replays epochOrder: the same md5('5 e id') epoch keys; the
    // per-epoch window here is the ORACLE's shape only (the engine
    // side is the exploded global rowid sort)
    "x_epoch_order" ->
      """WITH e AS (SELECT doc_id, CAST(r.range AS INT) AS epoch
        |  FROM documents CROSS JOIN range(0, 3) r)
        |SELECT doc_id, epoch,
        |  CAST(row_number() OVER (PARTITION BY epoch
        |    ORDER BY md5('5 ' || CAST(epoch AS VARCHAR) || ' ' ||
        |      CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
        |FROM e ORDER BY epoch, pos""".stripMargin,

    // replays dupSpanStats end to end: normalized positional 20-grams
    // (md5-prefix hashes), corpus multiplicity >= 2, per-doc interval
    // union via the same gaps-and-islands sweep, zero-filled rollup
    "x_dup_spans" ->
      """WITH s AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS ns FROM documents),
        |g AS (SELECT doc_id, len(ns) AS n_chars,
        |    CASE WHEN len(ns) < 20 THEN [substring(md5(ns), 1, 16)]
        |    ELSE list_transform(range(1, len(ns) - 18),
        |      i -> substring(md5(substring(ns, CAST(i AS INT), 20)), 1, 16)) END AS hs
        |  FROM s WHERE len(ns) > 0),
        |p AS (SELECT doc_id, n_chars, unnest(hs) AS h, generate_subscripts(hs, 1) AS pos FROM g),
        |c AS (SELECT h FROM p GROUP BY h HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, pos, least(pos + 19, n_chars) AS e
        |  FROM p WHERE h IN (SELECT h FROM c)),
        |m AS (SELECT doc_id, pos, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |  FROM cov),
        |sp AS (SELECT doc_id, pos, e,
        |    sum(CASE WHEN pe IS NULL OR pos > pe + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS sid
        |  FROM m),
        |spans AS (SELECT doc_id, min(pos) AS st, max(e) AS en FROM sp GROUP BY doc_id, sid),
        |stats AS (SELECT doc_id, CAST(count(*) AS INT) AS n_dup_spans,
        |    CAST(sum(en - st + 1) AS INT) AS dup_chars,
        |    CAST(max(en - st + 1) AS INT) AS longest_dup_span
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(s.ns) AS INT) AS n_chars,
        |  coalesce(stats.n_dup_spans, 0) AS n_dup_spans,
        |  coalesce(stats.dup_chars, 0) AS dup_chars,
        |  coalesce(stats.longest_dup_span, 0) AS longest_dup_span,
        |  CASE WHEN len(s.ns) > 0
        |    THEN CAST(coalesce(stats.dup_chars, 0) AS DOUBLE) / len(s.ns)
        |    ELSE 0.0 END AS dup_frac
        |FROM documents d JOIN s USING (doc_id) LEFT JOIN stats USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // rebuilds the deterministic IVF index (same md5-ranked centroids,
    // same argmin assignment as x_ann_ivf), pairs within capped
    // clusters, and replays the dominated-by-any-smaller-id drop rule
    "x_semdedup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS list_id,
        |    v AS centroid
        |  FROM e QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
        |a AS (SELECT e.vec_id, e.v, c.list_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rk
        |  FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, v, list_id FROM a WHERE rk = 1),
        |sz AS (SELECT list_id FROM asg GROUP BY list_id HAVING count(*) > 1 AND count(*) <= 1000),
        |pairs AS (SELECT y.vec_id AS b, list_cosine_similarity(x.v, y.v) AS cosine
        |  FROM asg x JOIN asg y USING (list_id)
        |  WHERE x.vec_id < y.vec_id AND list_id IN (SELECT list_id FROM sz)),
        |drops AS (SELECT DISTINCT b FROM pairs WHERE cosine >= 0.3)
        |SELECT asg.vec_id, asg.list_id, (drops.b IS NOT NULL) AS is_dup
        |FROM asg LEFT JOIN drops ON asg.vec_id = drops.b
        |ORDER BY asg.vec_id""".stripMargin,

    "x_fingerprint_md5" ->
      """WITH s AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS ns
        |  FROM documents),
        |h AS (SELECT doc_id, CASE WHEN len(ns) < 8 THEN [substring(md5(ns), 1, 16)]
        |  ELSE list_transform(range(1, len(ns) - 6), i -> substring(md5(substring(ns, i, 8)), 1, 16)) END AS hs
        |  FROM s),
        |w AS (SELECT doc_id, list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
        |    i -> list_aggregate(hs[i:i+3], 'min')) AS wins FROM h),
        |f AS (SELECT doc_id, list_sort(list_distinct(wins)) AS fps FROM w)
        |SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
        |  md5(array_to_string(fps, ',')) AS doc_fingerprint
        |FROM f ORDER BY doc_id""".stripMargin,

    "x_simhash_port" ->
      s"""WITH toks AS (SELECT doc_id, list_distinct($toksSql) AS tk FROM documents),
        |hx AS (SELECT doc_id, list_transform(tk, t -> substring(md5(t), 1, 16)) AS hs FROM toks),
        |v AS (SELECT doc_id, list_transform(range(0, 64), i ->
        |    coalesce(list_sum(list_transform(hs, h ->
        |      (CAST(floor((strpos('0123456789abcdef', h[CAST(floor(i/4) AS INT)+1]) - 1)
        |        / pow(2, 3 - (i % 4))) AS INT) % 2) * 2 - 1)), 0)) AS votes
        |  FROM hx)
        |SELECT doc_id, array_to_string(list_transform(votes, x ->
        |  CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS simhash_bits
        |FROM v ORDER BY doc_id""".stripMargin,

    "x_scrub" ->
      s"""WITH p AS (SELECT doc_id, $piiTextSql AS t FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, 'https?://[^\\s]+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(t, '\\+[0-9][0-9 ()-]{6,}[0-9]')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    'https?://[^\\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
        |    '\\+[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS clean_text
        |FROM p ORDER BY doc_id""".stripMargin,

    "x_mojibake" ->
      s"""WITH p AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN ' $mojiFixture' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0 THEN ' bad �� bytes' ELSE '' END AS t
        |  FROM documents),
        |q AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(t, '${TextAnalysis.replacementCharRe}')) AS BIGINT) AS repl_n,
        |    CAST(len(regexp_extract_all(t, '${TextAnalysis.mojibakeRe}')) AS BIGINT) AS moji_n,
        |    CAST(len(regexp_extract_all(t, '${TextAnalysis.c1ControlRe}')) AS BIGINT) AS c1_n
        |  FROM p)
        |SELECT doc_id, n_chars, repl_n, moji_n, c1_n,
        |  CAST(repl_n AS DOUBLE) / greatest(n_chars, 1) AS repl_rate,
        |  CAST(moji_n AS DOUBLE) / greatest(n_chars, 1) AS moji_rate,
        |  CAST(c1_n AS DOUBLE) / greatest(n_chars, 1) AS c1_rate,
        |  (CAST(repl_n AS DOUBLE) / greatest(n_chars, 1) > 0.001
        |    OR CAST(moji_n AS DOUBLE) / greatest(n_chars, 1) > 0.002
        |    OR CAST(c1_n AS DOUBLE) / greatest(n_chars, 1) > 0.001) AS suspect
        |FROM q ORDER BY doc_id""".stripMargin,

    "x_fix_mojibake" ->
      s"""SELECT doc_id,
        |  text || CASE
        |      WHEN doc_id % 3 = 0 AND doc_id % 5 = 0 THEN ' $mojiFixture'
        |      WHEN doc_id % 3 = 0 THEN ' $cleanFixture'
        |      ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' bad �� bytes' ELSE '' END
        |    AS fixed_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x_domains" ->
      s"""WITH p AS (SELECT doc_id, $piiTextSql AS t FROM documents),
        |d AS (SELECT unnest(regexp_extract_all(t, 'https?://([^/\\s]+)', 1)) AS domain FROM p)
        |SELECT domain, CAST(count(*) AS BIGINT) AS cnt FROM d
        |GROUP BY 1 ORDER BY cnt DESC, domain LIMIT 20""".stripMargin,

    "x_par_dedup" ->
      """WITH raw AS (SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |      x -> len(x) > 0) AS ls
        |  FROM documents),
        |e AS (SELECT doc_id, s.idx AS idx, s.line AS line FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |    i -> struct_pack(idx := i, line := ls[i]))) AS s FROM raw)),
        |k AS (SELECT doc_id, idx, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rk
        |  FROM e)
        |SELECT d.doc_id,
        |  CAST(coalesce(t.n_lines, 0) AS BIGINT) AS n_lines,
        |  CAST(coalesce(kk.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(kk.dedup_text, '') AS dedup_text,
        |  false AS truncated
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, count(*) AS n_lines FROM e GROUP BY 1) t USING (doc_id)
        |LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY idx) AS dedup_text
        |  FROM k WHERE rk = 1 GROUP BY 1) kk USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "x_range_join" ->
      """SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_shipped,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 14 DAY
        |WHERE o_orderkey % 97 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "x_sample_strat" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE WHEN lang = 'en' THEN '4000' ELSE 'c000' END
        |ORDER BY doc_id""".stripMargin,

    "x_gopher" ->
      s"""WITH f AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w,
        |    list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines,
        |    $toksSql AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS DOUBLE)
        |      / greatest(CAST(len(w) AS DOUBLE), 1.0) AS mean_word_len,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(CAST(len(w) AS DOUBLE), 1.0) AS alpha_word_frac,
        |    CAST(len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
        |      / greatest(CAST(len(w) AS DOUBLE), 1.0) AS symbol_word_frac,
        |    CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
        |      / greatest(CAST(len(lines) AS DOUBLE), 1.0) AS bullet_line_frac,
        |    CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
        |      / greatest(CAST(len(lines) AS DOUBLE), 1.0) AS ellipsis_line_frac,
        |    len(list_intersect(list_distinct(toks),
        |      ['the','a','of','and','to','in','is','it','that','for'])) AS stop_hits
        |  FROM f)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_frac,
        |  bullet_line_frac, ellipsis_line_frac, CAST(stop_hits AS INT) AS stop_hits,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND alpha_word_frac >= 0.80 AND symbol_word_frac <= 0.10
        |    AND bullet_line_frac <= 0.90 AND ellipsis_line_frac <= 0.30
        |    AND stop_hits >= 2) AS gopher_pass
        |FROM g ORDER BY doc_id""".stripMargin,

    // replays the rowid neighbor selection + interpolation with the
    // IDENTICAL IEEE op sequence (quantile_cont's internal formula is
    // a ulp off on some inputs — the driver compares bit-for-bit)
    "x_quantiles" -> {
      val ps = Seq(0.01, 0.25, 0.5, 0.75, 0.95, 0.99)
      val los = ps.zipWithIndex.map { case (p, i) =>
        s"""    max(CASE WHEN rid = CAST(floor(CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS lo$i,
           |    max(CASE WHEN rid = CAST(ceil(CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS hi$i""".stripMargin
      }.mkString(",\n")
      val rows = ps.zipWithIndex.map { case (p, i) =>
        s"""SELECT CAST($p AS DOUBLE) AS p,
           |  lo$i + (hi$i - lo$i) * (CAST(nn - 1 AS DOUBLE) * CAST($p AS DOUBLE)
           |    - floor(CAST(nn - 1 AS DOUBLE) * CAST($p AS DOUBLE))) AS quantile FROM q""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rid,
        |    count(*) OVER () AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |q AS (SELECT
        |$los,
        |    max(n) AS nn
        |  FROM v)
        |$rows
        |ORDER BY p""".stripMargin
    },

    // winsorize: the x_quantiles fence replay at p01/p99, then the
    // same least/greatest clip projection
    "x_winsor" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rid,
        |    count(*) OVER () AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |q AS (SELECT
        |    max(CASE WHEN rid = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.01) AS BIGINT) + 1 THEN v END) AS lo0,
        |    max(CASE WHEN rid = CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.01) AS BIGINT) + 1 THEN v END) AS hi0,
        |    max(CASE WHEN rid = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1 THEN v END) AS lo1,
        |    max(CASE WHEN rid = CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1 THEN v END) AS hi1,
        |    max(n) AS nn
        |  FROM v),
        |f AS (SELECT
        |    lo0 + (hi0 - lo0) * (CAST(nn - 1 AS DOUBLE) * 0.01
        |      - floor(CAST(nn - 1 AS DOUBLE) * 0.01)) AS flo,
        |    lo1 + (hi1 - lo1) * (CAST(nn - 1 AS DOUBLE) * 0.99
        |      - floor(CAST(nn - 1 AS DOUBLE) * 0.99)) AS fhi
        |  FROM q)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  least(greatest(CAST(l_extendedprice AS DOUBLE), flo), fhi) AS price_w
        |FROM lineitem CROSS JOIN f
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // quantileBin: the three quartile fences via the x_quantiles
    // replay, then the same x > fence comparison chain
    "x_qbin" -> {
      val ps = Seq(0.25, 0.5, 0.75)
      val los = ps.zipWithIndex.map { case (p, i) =>
        s"""    max(CASE WHEN rid = CAST(floor(CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS lo$i,
           |    max(CASE WHEN rid = CAST(ceil(CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS hi$i""".stripMargin
      }.mkString(",\n")
      val fs = ps.zipWithIndex.map { case (p, i) =>
        s"""    lo$i + (hi$i - lo$i) * (CAST(nn - 1 AS DOUBLE) * CAST($p AS DOUBLE)
           |      - floor(CAST(nn - 1 AS DOUBLE) * CAST($p AS DOUBLE))) AS f$i""".stripMargin
      }.mkString(",\n")
      val chain = ps.indices.map(i =>
        s"(CASE WHEN CAST(l_extendedprice AS DOUBLE) > f$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rid,
        |    count(*) OVER () AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |q AS (SELECT
        |$los,
        |    max(n) AS nn
        |  FROM v),
        |f AS (SELECT
        |$fs
        |  FROM q)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  CAST(CASE WHEN l_extendedprice IS NULL THEN NULL
        |    ELSE $chain END AS INT) AS price_bin
        |FROM lineitem CROSS JOIN f
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    // groupedQuantileBin: per-lang quartile fences via the
    // x_gquantiles rowid replay, then the same comparison chain
    "x_gqbin" -> {
      val ps = Seq(0.25, 0.5, 0.75)
      val los = ps.zipWithIndex.map { case (p, i) =>
        s"""    max(CASE WHEN rid = CAST(floor(CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS lo$i,
           |    max(CASE WHEN rid = CAST(ceil(CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS hi$i""".stripMargin
      }.mkString(",\n")
      val fs = ps.zipWithIndex.map { case (p, i) =>
        s"""    lo$i + (hi$i - lo$i) * (CAST(nn - 1 AS DOUBLE) * CAST($p AS DOUBLE)
           |      - floor(CAST(nn - 1 AS DOUBLE) * CAST($p AS DOUBLE))) AS f$i""".stripMargin
      }.mkString(",\n")
      val chain = ps.indices.map(i =>
        s"(CASE WHEN CAST(n_chars AS DOUBLE) > f$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)) AS rid,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |q AS (SELECT lang,
        |$los,
        |    max(n) AS nn
        |  FROM v GROUP BY lang),
        |f AS (SELECT lang,
        |$fs
        |  FROM q)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  CAST(CASE WHEN d.n_chars IS NULL THEN NULL
        |    ELSE $chain END AS INT) AS len_bin
        |FROM documents d JOIN f USING (lang)
        |ORDER BY d.doc_id""".stripMargin
    },

    // madOutliers: two exact-median replays (x, then |x - med|), the
    // same 1.4826 literal, explicit zero-MAD NULL and false flag
    // grid replay: same floor((v-lo)/(hi-lo)*bins) bin index, same
    // clamp, same literal edge arithmetic
    "x_hist" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0.0 THEN -1
        |    WHEN v >= 110000.0 THEN 44
        |    ELSE least(CAST(floor((v - 0.0) / (110000.0 - 0.0) * 44.0) AS BIGINT), 43)
        |  END AS bin FROM v)
        |SELECT bin,
        |  CASE WHEN bin >= 0 AND bin < 44
        |    THEN 0.0 + CAST(bin AS DOUBLE) * ((110000.0 - 0.0) / 44.0) END AS lo_edge,
        |  CASE WHEN bin >= 0 AND bin < 44
        |    THEN 0.0 + CAST(bin + 1 AS DOUBLE) * ((110000.0 - 0.0) / 44.0) END AS hi_edge,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "x_hist_q" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0.0 THEN -1
        |    WHEN v >= 110000.0 THEN 44
        |    ELSE least(CAST(floor((v - 0.0) / (110000.0 - 0.0) * 44.0) AS BIGINT), 43)
        |  END AS bin FROM v),
        |h AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
        |c AS (SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM h),
        |t AS (SELECT sum(n) AS total FROM h),
        |p AS (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.9, 0.99]) AS p),
        |r AS (SELECT p.p,
        |    CAST(floor(p.p * CAST(t.total - 1 AS DOUBLE)) AS BIGINT) + 1 AS rank
        |  FROM p, t)
        |SELECT r.p,
        |  CASE WHEN c.bin < 0 THEN 0.0 WHEN c.bin >= 44 THEN 110000.0
        |    ELSE (0.0 + CAST(c.bin AS DOUBLE) * ((110000.0 - 0.0) / 44.0))
        |      + ((110000.0 - 0.0) / 44.0)
        |        * (CAST(r.rank - (c.cum - c.n) AS DOUBLE) / CAST(c.n AS DOUBLE))
        |  END AS est,
        |  CAST(r.rank AS BIGINT) AS rank, c.bin
        |FROM r JOIN c ON r.rank > (c.cum - c.n) AND r.rank <= c.cum
        |ORDER BY r.p""".stripMargin,

    // the standing histogram is the batch grid over all three folds
    "s_hist" ->
      """WITH v AS (SELECT CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT CASE WHEN v < 0.0 THEN -1
        |    WHEN v >= 500.0 THEN 50
        |    ELSE least(CAST(floor((v - 0.0) / (500.0 - 0.0) * 50.0) AS BIGINT), 49)
        |  END AS bin FROM v)
        |SELECT bin,
        |  CASE WHEN bin >= 0 AND bin < 50
        |    THEN 0.0 + CAST(bin AS DOUBLE) * ((500.0 - 0.0) / 50.0) END AS lo_edge,
        |  CASE WHEN bin >= 0 AND bin < 50
        |    THEN 0.0 + CAST(bin + 1 AS DOUBLE) * ((500.0 - 0.0) / 50.0) END AS hi_edge,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "x_hist_by" ->
      """WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT lang, CASE WHEN v < 0.0 THEN -1
        |    WHEN v >= 600.0 THEN 30
        |    ELSE least(CAST(floor((v - 0.0) / (600.0 - 0.0) * 30.0) AS BIGINT), 29)
        |  END AS bin FROM v)
        |SELECT lang, bin,
        |  CASE WHEN bin >= 0 AND bin < 30
        |    THEN 0.0 + CAST(bin AS DOUBLE) * ((600.0 - 0.0) / 30.0) END AS lo_edge,
        |  CASE WHEN bin >= 0 AND bin < 30
        |    THEN 0.0 + CAST(bin + 1 AS DOUBLE) * ((600.0 - 0.0) / 30.0) END AS hi_edge,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "x_histq_by" ->
      """WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT lang, CASE WHEN v < 0.0 THEN -1
        |    WHEN v >= 600.0 THEN 30
        |    ELSE least(CAST(floor((v - 0.0) / (600.0 - 0.0) * 30.0) AS BIGINT), 29)
        |  END AS bin FROM v),
        |h AS (SELECT lang, bin, count(*) AS n FROM b GROUP BY 1, 2),
        |c AS (SELECT lang, bin, n,
        |    sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
        |    sum(n) OVER (PARTITION BY lang) AS total FROM h),
        |e AS (SELECT lang, bin, n, cum, cum - n AS bef, total,
        |    unnest([0.25, 0.5, 0.95]) AS p FROM c),
        |r AS (SELECT *,
        |    CAST(floor(p * CAST(total - 1 AS DOUBLE)) AS BIGINT) + 1 AS rank
        |  FROM e)
        |SELECT lang, p,
        |  CASE WHEN bin < 0 THEN 0.0 WHEN bin >= 30 THEN 600.0
        |    ELSE (0.0 + CAST(bin AS DOUBLE) * ((600.0 - 0.0) / 30.0))
        |      + ((600.0 - 0.0) / 30.0)
        |        * (CAST(rank - bef AS DOUBLE) / CAST(n AS DOUBLE))
        |  END AS est,
        |  CAST(rank AS BIGINT) AS rank, bin
        |FROM r WHERE rank > bef AND rank <= cum
        |ORDER BY lang, p""".stripMargin,

    "s_hist_by" ->
      """WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT event_type, CASE WHEN v < 0.0 THEN -1
        |    WHEN v >= 500.0 THEN 50
        |    ELSE least(CAST(floor((v - 0.0) / (500.0 - 0.0) * 50.0) AS BIGINT), 49)
        |  END AS bin FROM v)
        |SELECT event_type, bin,
        |  CASE WHEN bin >= 0 AND bin < 50
        |    THEN 0.0 + CAST(bin AS DOUBLE) * ((500.0 - 0.0) / 50.0) END AS lo_edge,
        |  CASE WHEN bin >= 0 AND bin < 50
        |    THEN 0.0 + CAST(bin + 1 AS DOUBLE) * ((500.0 - 0.0) / 50.0) END AS hi_edge,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,

    // grid PSI replay: both halves binned on the shared grid, dense
    // bins+2 spine, 0.5-smoothing, fixed-point ln terms
    "x_hist_psi" ->
      """WITH v AS (SELECT l_orderkey, CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |b AS (SELECT l_orderkey, CASE WHEN v < 0.0 THEN -1
        |    WHEN v >= 110000.0 THEN 44
        |    ELSE least(CAST(floor((v - 0.0) / (110000.0 - 0.0) * 44.0) AS BIGINT), 43)
        |  END AS bin FROM v),
        |rc AS (SELECT bin, count(*) AS cr FROM b WHERE l_orderkey % 2 = 0 GROUP BY 1),
        |cc AS (SELECT bin, count(*) AS cv FROM b WHERE l_orderkey % 2 = 1 GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cr) FROM rc) AS nr, (SELECT sum(cv) FROM cc) AS nc),
        |sp AS (SELECT CAST(r.range AS BIGINT) AS bin FROM range(-1, 45) r),
        |g AS (SELECT
        |    (CAST(coalesce(rc.cr, 0) AS DOUBLE) + 0.5)
        |      / (CAST(tot.nr AS DOUBLE) + 0.5 * 46) AS p,
        |    (CAST(coalesce(cc.cv, 0) AS DOUBLE) + 0.5)
        |      / (CAST(tot.nc AS DOUBLE) + 0.5 * 46) AS q,
        |    tot.nr, tot.nc
        |  FROM sp LEFT JOIN rc USING (bin) LEFT JOIN cc USING (bin), tot)
        |SELECT CAST(sum(CAST(floor((p - q) * ln(p / q) * 1073741824.0 + 0.5)
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 AS psi,
        |  CAST(max(nr) AS BIGINT) AS n_ref,
        |  CAST(max(nc) AS BIGINT) AS n_cur
        |FROM g""".stripMargin,

    "x_hist_psi_by" ->
      """WITH v AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT doc_id, lang, CASE WHEN v < 0.0 THEN -1
        |    WHEN v >= 600.0 THEN 30
        |    ELSE least(CAST(floor((v - 0.0) / (600.0 - 0.0) * 30.0) AS BIGINT), 29)
        |  END AS bin FROM v),
        |rc AS (SELECT lang, bin, count(*) AS cr FROM b
        |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |cc AS (SELECT lang, bin, count(*) AS cv FROM b
        |  WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |ks AS (SELECT DISTINCT lang FROM (
        |  SELECT lang FROM rc UNION ALL SELECT lang FROM cc)),
        |rt AS (SELECT lang, sum(cr) AS nr FROM rc GROUP BY 1),
        |ct AS (SELECT lang, sum(cv) AS nc FROM cc GROUP BY 1),
        |sp AS (SELECT ks.lang, CAST(r.range AS BIGINT) AS bin
        |  FROM ks CROSS JOIN range(-1, 31) r),
        |g AS (SELECT sp.lang,
        |    (CAST(coalesce(rc.cr, 0) AS DOUBLE) + 0.5)
        |      / (CAST(coalesce(rt.nr, 0) AS DOUBLE) + 0.5 * 32) AS p,
        |    (CAST(coalesce(cc.cv, 0) AS DOUBLE) + 0.5)
        |      / (CAST(coalesce(ct.nc, 0) AS DOUBLE) + 0.5 * 32) AS q,
        |    coalesce(rt.nr, 0) AS nr, coalesce(ct.nc, 0) AS nc
        |  FROM sp LEFT JOIN rc USING (lang, bin) LEFT JOIN cc USING (lang, bin)
        |    LEFT JOIN rt USING (lang) LEFT JOIN ct USING (lang))
        |SELECT lang,
        |  CAST(sum(CAST(floor((p - q) * ln(p / q) * 1073741824.0 + 0.5)
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 AS psi,
        |  CAST(max(nr) AS BIGINT) AS n_ref,
        |  CAST(max(nc) AS BIGINT) AS n_cur
        |FROM g GROUP BY lang ORDER BY lang""".stripMargin,

    "x_props" ->
      """SELECT event_type,
        |  CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "x_benford_by" -> {
      def dblFrac(x: Double): String = {
        var v = x; var k = 0
        while (v != math.floor(v) && k < 1100) { v *= 2.0; k += 1 }
        s"(CAST(${v.toLong} AS DOUBLE) / " +
          s"CAST(${java.math.BigInteger.valueOf(2).pow(k)} AS DOUBLE))"
      }
      val spine = (1 to 9).map(d =>
        s"SELECT $d AS digit, ${dblFrac(math.log10(1.0 + 1.0 / d))} AS exp_p")
        .mkString(" UNION ALL ")
      s"""WITH v AS (SELECT o_orderpriority AS k,
        |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v FROM orders),
        |c AS (SELECT k, CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
        |    count(*) AS n
        |  FROM v WHERE v > 0 GROUP BY 1, 2),
        |t AS (SELECT k, sum(n) AS t FROM c GROUP BY 1),
        |dsp AS ($spine),
        |sp AS (SELECT DISTINCT c.k, dsp.digit, dsp.exp_p FROM c, dsp),
        |g AS (SELECT sp.k, sp.digit, coalesce(c.n, 0) AS n,
        |    CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(t.t AS DOUBLE) AS obs_p,
        |    sp.exp_p
        |  FROM sp LEFT JOIN c USING (k, digit) JOIN t USING (k)),
        |m AS (SELECT k,
        |    (CAST(sum(CAST(floor(abs(obs_p - exp_p) * 1073741824.0 + 0.5)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0) / 9.0 AS mad
        |  FROM g GROUP BY k)
        |SELECT g.k AS o_orderpriority, g.digit, CAST(g.n AS BIGINT) AS n,
        |  g.obs_p, g.exp_p, m.mad
        |FROM g JOIN m USING (k)
        |ORDER BY o_orderpriority, digit""".stripMargin
    },

    "x_benford" -> {
      // expected-share literals from the SAME JVM libm as the plan's,
      // spelled as exact power-of-two fractions: m / 2^k with both
      // operands < 2^63 is an EXACT division in any engine, where a
      // plain decimal literal routes through DuckDB's DECIMAL type
      // and can land 1 ulp off
      def dblFrac(x: Double): String = {
        var v = x; var k = 0
        while (v != math.floor(v) && k < 1100) { v *= 2.0; k += 1 }
        s"(CAST(${v.toLong} AS DOUBLE) / " +
          s"CAST(${java.math.BigInteger.valueOf(2).pow(k)} AS DOUBLE))"
      }
      val spine = (1 to 9).map(d =>
        s"SELECT $d AS digit, ${dblFrac(math.log10(1.0 + 1.0 / d))} AS exp_p")
        .mkString(" UNION ALL ")
      s"""WITH v AS (SELECT CAST(floor(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders),
        |c AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
        |    count(*) AS n
        |  FROM v WHERE v > 0 GROUP BY 1),
        |t AS (SELECT sum(n) AS t FROM c),
        |sp AS ($spine),
        |g AS (SELECT sp.digit, coalesce(c.n, 0) AS n,
        |    CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(t.t AS DOUBLE) AS obs_p,
        |    sp.exp_p
        |  FROM sp LEFT JOIN c USING (digit), t),
        |m AS (SELECT (CAST(sum(CAST(floor(abs(obs_p - exp_p) * 1073741824.0 + 0.5)
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0) / 9.0 AS mad FROM g)
        |SELECT g.digit, CAST(g.n AS BIGINT) AS n, g.obs_p, g.exp_p, m.mad
        |FROM g, m ORDER BY g.digit""".stripMargin
    },

    "x_mad" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rid,
        |    count(*) OVER () AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |q1 AS (SELECT
        |    max(CASE WHEN rid = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 THEN v END) AS lo,
        |    max(CASE WHEN rid = CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 THEN v END) AS hi,
        |    max(n) AS nn FROM v),
        |m AS (SELECT lo + (hi - lo) * (CAST(nn - 1 AS DOUBLE) * 0.5
        |    - floor(CAST(nn - 1 AS DOUBLE) * 0.5)) AS med FROM q1),
        |d AS (SELECT abs(CAST(l_extendedprice AS DOUBLE) - med) AS dv
        |  FROM lineitem CROSS JOIN m
        |  WHERE l_extendedprice IS NOT NULL),
        |dr AS (SELECT dv, row_number() OVER (ORDER BY dv) AS rid,
        |    count(*) OVER () AS n FROM d),
        |q2 AS (SELECT
        |    max(CASE WHEN rid = CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 THEN dv END) AS lo,
        |    max(CASE WHEN rid = CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 THEN dv END) AS hi,
        |    max(n) AS nn FROM dr),
        |m2 AS (SELECT lo + (hi - lo) * (CAST(nn - 1 AS DOUBLE) * 0.5
        |    - floor(CAST(nn - 1 AS DOUBLE) * 0.5)) AS mad FROM q2)
        |SELECT l_orderkey, l_linenumber, med, mad,
        |  CASE WHEN mad = 0 THEN NULL
        |    ELSE (CAST(l_extendedprice AS DOUBLE) - med) / (1.4826 * mad) END AS robust_z,
        |  coalesce(abs(CASE WHEN mad = 0 THEN NULL
        |    ELSE (CAST(l_extendedprice AS DOUBLE) - med) / (1.4826 * mad) END) > 3.5,
        |    false) AS is_outlier
        |FROM lineitem CROSS JOIN m CROSS JOIN m2
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // same rowid replay as x_quantiles, partitioned per language
    // (quantile_cont is a ulp off the lo+(hi-lo)*frac sequence)
    "x_gquantiles" -> {
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val los = ps.zipWithIndex.map { case (p, i) =>
        s"""    max(CASE WHEN rid = CAST(floor(CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS lo$i,
           |    max(CASE WHEN rid = CAST(ceil(CAST(n - 1 AS DOUBLE) * CAST($p AS DOUBLE)) AS BIGINT) + 1 THEN v END) AS hi$i""".stripMargin
      }.mkString(",\n")
      val rows = ps.zipWithIndex.map { case (p, i) =>
        s"""SELECT lang, CAST($p AS DOUBLE) AS p,
           |  lo$i + (hi$i - lo$i) * (CAST(nn - 1 AS DOUBLE) * CAST($p AS DOUBLE)
           |    - floor(CAST(nn - 1 AS DOUBLE) * CAST($p AS DOUBLE))) AS quantile FROM q""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)) AS rid,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |q AS (SELECT lang,
        |$los,
        |    max(n) AS nn
        |  FROM v GROUP BY lang)
        |$rows
        |ORDER BY lang, p""".stripMargin
    },

    // replays the HLL sketch exactly: md5 digits -> 32-bit hash,
    // top-8 bits bucket, bit-length of the 24-bit remainder for rho
    // (bin() in both engines, no floating log), max-register table,
    // then the raw-HLL fold — whose power-of-two harmonic sum is
    // exact in double, so the estimate matches bit-for-bit
    "x_hll" ->
      s"""WITH toks AS (SELECT lang, $toksSql AS w FROM documents),
        |term AS (SELECT lang, unnest(w) AS term FROM toks),
        |hb AS (SELECT lang,
        |    CAST(list_sum(list_transform(range(1, 9), i ->
        |      (strpos('0123456789abcdef', substr(md5(term), CAST(i AS INT), 1)) - 1)
        |        * pow(16, 8 - i))) AS BIGINT) AS h
        |  FROM term),
        |br AS (SELECT lang, h >> 24 AS bucket, h % 16777216 AS rest FROM hb),
        |reg AS (SELECT lang, bucket,
        |    max(CASE WHEN rest = 0 THEN 25
        |        ELSE 25 - length(bin(rest)) END) AS r
        |  FROM br GROUP BY 1, 2)
        |SELECT lang,
        |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))
        |    * 65536.0 / (sum(pow(CAST(2.0 AS DOUBLE), -r)) + CAST(256 - count(*) AS DOUBLE)) AS est_distinct,
        |  count(*) AS buckets_hit
        |FROM reg GROUP BY lang ORDER BY lang""".stripMargin,

    // the standing sketch's estimate is bit-identical to the one-shot
    // batch sketch (register merge by max) — x_hll's replay verbatim
    "s_hll" ->
      s"""WITH toks AS (SELECT lang, $toksSql AS w FROM documents),
        |term AS (SELECT lang, unnest(w) AS term FROM toks),
        |hb AS (SELECT lang,
        |    CAST(list_sum(list_transform(range(1, 9), i ->
        |      (strpos('0123456789abcdef', substr(md5(term), CAST(i AS INT), 1)) - 1)
        |        * pow(16, 8 - i))) AS BIGINT) AS h
        |  FROM term),
        |br AS (SELECT lang, h >> 24 AS bucket, h % 16777216 AS rest FROM hb),
        |reg AS (SELECT lang, bucket,
        |    max(CASE WHEN rest = 0 THEN 25
        |        ELSE 25 - length(bin(rest)) END) AS r
        |  FROM br GROUP BY 1, 2)
        |SELECT lang,
        |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))
        |    * 65536.0 / (sum(pow(CAST(2.0 AS DOUBLE), -r)) + CAST(256 - count(*) AS DOUBLE)) AS est_distinct,
        |  count(*) AS buckets_hit
        |FROM reg GROUP BY lang ORDER BY lang""".stripMargin,

    // replays the md5 bucket of every term occurrence digit by digit
    // (8 hex digits < 2^32, exact in double), the depth x width counter
    // table, and the min-over-rows probe with 0 for untouched buckets
    "x_cms" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |term AS (SELECT unnest(w) AS term FROM toks),
        |rb AS (SELECT pr.r,
        |    CAST(list_sum(list_transform(range(1, 9), i ->
        |      (strpos('0123456789abcdef', substr(md5(pr.r || '|' || term), CAST(i AS INT), 1)) - 1)
        |        * pow(16, 8 - i))) AS BIGINT) % 4096 AS bucket
        |  FROM term CROSS JOIN (SELECT unnest(range(0, 4)) AS r) pr),
        |sketch AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT unnest(w) AS key FROM toks WHERE doc_id % 50 = 0),
        |crb AS (SELECT key, pr.r,
        |    CAST(list_sum(list_transform(range(1, 9), i ->
        |      (strpos('0123456789abcdef', substr(md5(pr.r || '|' || key), CAST(i AS INT), 1)) - 1)
        |        * pow(16, 8 - i))) AS BIGINT) % 4096 AS bucket
        |  FROM cand CROSS JOIN (SELECT unnest(range(0, 4)) AS r) pr)
        |SELECT key, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
        |FROM crb LEFT JOIN sketch USING (r, bucket)
        |GROUP BY 1 ORDER BY key""".stripMargin,

    // streaming fold == batch rebuild (exact counter addition): the
    // standing-sketch probe replays as x_cms's full-corpus oracle
    "s_cms" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |term AS (SELECT unnest(w) AS term FROM toks),
        |rb AS (SELECT pr.r, ${cmsBucketSql("term", 4096)} AS bucket
        |  FROM term CROSS JOIN (SELECT unnest(range(0, 4)) AS r) pr),
        |sketch AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT unnest(w) AS key FROM toks WHERE doc_id % 50 = 0),
        |crb AS (SELECT key, pr.r, ${cmsBucketSql("key", 4096)} AS bucket
        |  FROM cand CROSS JOIN (SELECT unnest(range(0, 4)) AS r) pr)
        |SELECT key, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
        |FROM crb LEFT JOIN sketch USING (r, bucket)
        |GROUP BY 1 ORDER BY key""".stripMargin,

    // the streamed lineitem sketch is bit-identical to the batch one
    // (exact addition), so the monitor's estimate replays as
    // x_join_size's full two-table oracle
    "s_join_size" ->
      s"""WITH pr AS (SELECT unnest(range(0, 4)) AS r),
        |sa AS (SELECT r, bucket, count(*) AS ca FROM (
        |    SELECT pr.r, ${cmsBucketSql("CAST(o_orderkey AS VARCHAR)", 65536)} AS bucket
        |    FROM orders CROSS JOIN pr) GROUP BY 1, 2),
        |sb AS (SELECT r, bucket, count(*) AS cb FROM (
        |    SELECT pr.r, ${cmsBucketSql("CAST(l_orderkey AS VARCHAR)", 65536)} AS bucket
        |    FROM lineitem CROSS JOIN pr) GROUP BY 1, 2),
        |prods AS (SELECT r, sum(ca * cb) AS ip
        |  FROM sa JOIN sb USING (r, bucket) GROUP BY r),
        |ip AS (SELECT pr.r, CAST(coalesce(prods.ip, 0) AS BIGINT) AS inner_product
        |  FROM pr LEFT JOIN prods ON pr.r = prods.r)
        |SELECT CAST(r AS INT) AS r, inner_product,
        |  CAST(min(inner_product) OVER () AS BIGINT) AS est_join_size
        |FROM ip ORDER BY r""".stripMargin,

    // merge == rebuild: the incremental probe must equal x_cms's
    // full-corpus replay bit for bit (counter addition is exact)
    "x_cms_incr" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |term AS (SELECT unnest(w) AS term FROM toks),
        |rb AS (SELECT pr.r, ${cmsBucketSql("term", 4096)} AS bucket
        |  FROM term CROSS JOIN (SELECT unnest(range(0, 4)) AS r) pr),
        |sketch AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT unnest(w) AS key FROM toks WHERE doc_id % 50 = 0),
        |crb AS (SELECT key, pr.r, ${cmsBucketSql("key", 4096)} AS bucket
        |  FROM cand CROSS JOIN (SELECT unnest(range(0, 4)) AS r) pr)
        |SELECT key, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
        |FROM crb LEFT JOIN sketch USING (r, bucket)
        |GROUP BY 1 ORDER BY key""".stripMargin,

    // replays both counter tables and the per-row inner products;
    // rows whose buckets never overlap keep inner_product 0 via the
    // r-spine left join so the min sees them
    "x_join_size" ->
      s"""WITH pr AS (SELECT unnest(range(0, 4)) AS r),
        |sa AS (SELECT r, bucket, count(*) AS ca FROM (
        |    SELECT pr.r, ${cmsBucketSql("CAST(o_orderkey AS VARCHAR)", 65536)} AS bucket
        |    FROM orders CROSS JOIN pr) GROUP BY 1, 2),
        |sb AS (SELECT r, bucket, count(*) AS cb FROM (
        |    SELECT pr.r, ${cmsBucketSql("CAST(l_orderkey AS VARCHAR)", 65536)} AS bucket
        |    FROM lineitem CROSS JOIN pr) GROUP BY 1, 2),
        |prods AS (SELECT r, sum(ca * cb) AS ip
        |  FROM sa JOIN sb USING (r, bucket) GROUP BY r),
        |ip AS (SELECT pr.r, CAST(coalesce(prods.ip, 0) AS BIGINT) AS inner_product
        |  FROM pr LEFT JOIN prods ON pr.r = prods.r)
        |SELECT CAST(r AS INT) AS r, inner_product,
        |  CAST(min(inner_product) OVER () AS BIGINT) AS est_join_size
        |FROM ip ORDER BY r""".stripMargin,

    // ANALYZE replay: per column, distinct-md5 cardinality decides the
    // exact-vs-estimate branch; the estimate reads the 1024th smallest
    // distinct hash digit by digit (12 hex digits exact in double)
    "x_analyze" -> {
      def stats(c: String, numeric: Boolean) = {
        val minmax =
          if (numeric)
            s"CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num"
          else
            "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num"
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  (SELECT CASE WHEN count(*) < 1024 THEN CAST(count(*) AS DOUBLE)
           |    ELSE 1023.0 / ((SELECT list_sum(list_transform(range(1, 13), j ->
           |      (strpos('0123456789abcdef', substring(h, CAST(j AS INT), 1)) - 1)
           |        * pow(16, 12 - j)))
           |      FROM (SELECT md5(CAST($c AS VARCHAR)) AS h FROM lineitem
           |        WHERE $c IS NOT NULL GROUP BY 1 ORDER BY 1 LIMIT 1 OFFSET 1023))
           |      / 281474976710656.0) END
           |   FROM (SELECT DISTINCT md5(CAST($c AS VARCHAR)) AS h FROM lineitem
           |     WHERE $c IS NOT NULL)) AS ndv_est,
           |  $minmax
           |FROM lineitem""".stripMargin
      }
      Seq(stats("l_orderkey", numeric = true),
        stats("l_returnflag", numeric = false),
        stats("l_suppkey", numeric = true))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    // advisor replay: the x_join_size estimate + exact counts through
    // the identical threshold CASE
    "x_join_plan" ->
      s"""WITH pr AS (SELECT unnest(range(0, 4)) AS r),
        |sa AS (SELECT r, bucket, count(*) AS ca FROM (
        |    SELECT pr.r, ${cmsBucketSql("CAST(o_orderkey AS VARCHAR)", 65536)} AS bucket
        |    FROM orders CROSS JOIN pr) GROUP BY 1, 2),
        |sb AS (SELECT r, bucket, count(*) AS cb FROM (
        |    SELECT pr.r, ${cmsBucketSql("CAST(l_orderkey AS VARCHAR)", 65536)} AS bucket
        |    FROM lineitem CROSS JOIN pr) GROUP BY 1, 2),
        |prods AS (SELECT r, sum(ca * cb) AS ip
        |  FROM sa JOIN sb USING (r, bucket) GROUP BY r),
        |ip AS (SELECT pr.r, CAST(coalesce(prods.ip, 0) AS BIGINT) AS inner_product
        |  FROM pr LEFT JOIN prods ON pr.r = prods.r),
        |e AS (SELECT min(inner_product) AS est FROM ip),
        |na AS (SELECT count(o_orderkey) AS n_a FROM orders),
        |nb AS (SELECT count(l_orderkey) AS n_b FROM lineitem)
        |SELECT n_a, n_b, est AS est_join_size,
        |  round(CAST(est AS DOUBLE) / CAST(greatest(n_a, n_b) AS DOUBLE), 6)
        |    AS fanout,
        |  CASE WHEN n_a <= 1000 AND n_a <= n_b THEN 'broadcast_a'
        |    WHEN n_b <= 1000 THEN 'broadcast_b'
        |    WHEN CAST(est AS DOUBLE) > 4.0 * CAST(n_a + n_b AS DOUBLE)
        |      THEN 'salt_or_bucket'
        |    ELSE 'shuffle_hash' END AS strategy
        |FROM na CROSS JOIN nb CROSS JOIN e""".stripMargin,

    // F2 self-join replay: one counter table, inner product with itself
    "x_f2" ->
      s"""WITH pr AS (SELECT unnest(range(0, 4)) AS r),
        |sk AS (SELECT r, bucket, count(*) AS cnt FROM (
        |    SELECT pr.r, ${cmsBucketSql("CAST(l_suppkey AS VARCHAR)", 65536)} AS bucket
        |    FROM lineitem CROSS JOIN pr) GROUP BY 1, 2),
        |ip AS (SELECT r, CAST(sum(cnt * cnt) AS BIGINT) AS inner_product
        |  FROM sk GROUP BY r)
        |SELECT CAST(r AS INT) AS r, inner_product,
        |  CAST(min(inner_product) OVER () AS BIGINT) AS est_join_size
        |FROM ip ORDER BY r""".stripMargin,

    // k-anonymity replay: equivalence-class sizes under the two
    // quasi-identifiers, size histogram, headline min/at-risk totals
    "x_kanon" ->
      """WITH cls AS (SELECT c_mktsegment, c_nationkey, count(*) AS sz
        |  FROM customer GROUP BY 1, 2),
        |h AS (SELECT sz AS class_size, count(*) AS n_classes,
        |    sz * count(*) AS n_rows, sz < 10 AS at_risk
        |  FROM cls GROUP BY sz),
        |t AS (SELECT min(class_size) AS k_anonymity,
        |    sum(CASE WHEN at_risk THEN n_rows ELSE 0 END) AS rows_at_risk,
        |    sum(n_rows) AS n
        |  FROM h)
        |SELECT CAST(class_size AS BIGINT) AS class_size,
        |  CAST(n_classes AS BIGINT) AS n_classes,
        |  CAST(n_rows AS BIGINT) AS n_rows, at_risk,
        |  CAST(k_anonymity AS BIGINT) AS k_anonymity,
        |  CAST(rows_at_risk AS BIGINT) AS rows_at_risk,
        |  CAST(rows_at_risk AS DOUBLE) / CAST(n AS DOUBLE) AS risk_share
        |FROM h CROSS JOIN t ORDER BY class_size""".stripMargin,

    // t-closeness replay: same band CASE, complete grid via CROSS
    // JOIN with the global cum table, same windows and floor-grid
    "x_tclose" ->
      """WITH v AS (SELECT c_mktsegment, c_nationkey,
        |    CASE WHEN c_acctbal < 0 THEN '0_neg'
        |         WHEN c_acctbal < 3000 THEN '1_low'
        |         WHEN c_acctbal < 7000 THEN '2_mid'
        |         ELSE '3_high' END AS band
        |  FROM customer),
        |c AS (SELECT c_mktsegment, c_nationkey, band, count(*) AS cnt
        |  FROM v GROUP BY 1, 2, 3),
        |g AS (SELECT band, sum(cnt) AS gc FROM c GROUP BY 1),
        |gn AS (SELECT sum(gc) AS n FROM g),
        |gq AS (SELECT band, CAST(sum(gc) OVER (ORDER BY band
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS q
        |  FROM g CROSS JOIN gn),
        |cls AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(sum(cnt) AS BIGINT) AS n_rows FROM c GROUP BY 1, 2),
        |grid AS (SELECT cls.c_mktsegment, cls.c_nationkey, cls.n_rows,
        |    gq.band, gq.q, coalesce(c.cnt, 0) AS cnt
        |  FROM cls CROSS JOIN gq
        |  LEFT JOIN c ON c.c_mktsegment = cls.c_mktsegment
        |    AND c.c_nationkey = cls.c_nationkey AND c.band = gq.band),
        |p AS (SELECT *, CAST(sum(cnt) OVER (
        |    PARTITION BY c_mktsegment, c_nationkey ORDER BY band
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(n_rows AS DOUBLE) AS pp
        |  FROM grid),
        |d AS (SELECT c_mktsegment, c_nationkey, n_rows,
        |    CAST(floor(abs(pp - q) * 1099511627776.0 + 0.5) AS HUGEINT) AS dd
        |  FROM p)
        |SELECT c_mktsegment, c_nationkey, n_rows,
        |  CAST(sum(dd) AS DOUBLE) / 1099511627776.0
        |    / CAST(count(*) - 1 AS DOUBLE) AS emd,
        |  (CAST(sum(dd) AS DOUBLE) / 1099511627776.0
        |    / CAST(count(*) - 1 AS DOUBLE)) <= 0.12 AS pass
        |FROM d GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,

    // Neyman replay: the same 2^24 grid moments (HUGEINT-exact), one
    // sqrt, the same fixed division chains and floor(+0.5) rounding
    "x_neyman" ->
      """WITH f AS (SELECT source AS stratum,
        |    CAST(floor(CAST(n_chars AS DOUBLE) * 16777216.0 + 0.5) AS HUGEINT) AS fx
        |  FROM documents),
        |m AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_rows,
        |    sum(fx) AS s1, sum(fx * fx) AS s2 FROM f GROUP BY 1),
        |w AS (SELECT stratum, n_rows,
        |    sqrt(CAST(CAST(n_rows AS HUGEINT) * s2 - s1 * s1 AS DOUBLE))
        |      / (CAST(n_rows AS DOUBLE) * 16777216.0) AS sd
        |  FROM m),
        |fw AS (SELECT *, CAST(floor(CAST(n_rows AS DOUBLE) * sd * 16777216.0 + 0.5)
        |    AS HUGEINT) AS fwv FROM w),
        |tot AS (SELECT sum(fwv) AS tt, sum(n_rows) AS tn FROM fw)
        |SELECT stratum, n_rows, sd,
        |  CAST(least(CAST(n_rows AS DOUBLE), CASE WHEN tt > 0
        |    THEN floor(200.0 * CAST(fwv AS DOUBLE) / CAST(tt AS DOUBLE) + 0.5)
        |    ELSE floor(200.0 * CAST(n_rows AS DOUBLE) / CAST(tn AS DOUBLE) + 0.5)
        |    END) AS BIGINT) AS alloc
        |FROM fw CROSS JOIN tot ORDER BY stratum""".stripMargin,

    "x_ldiv" ->
      """WITH v AS (SELECT c_mktsegment, c_nationkey,
        |    CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END AS bal_sign
        |  FROM customer),
        |sv AS (SELECT c_mktsegment, c_nationkey, bal_sign, count(*) AS rws
        |  FROM v GROUP BY 1, 2, 3),
        |cls AS (SELECT c_mktsegment, c_nationkey, count(*) AS lv, sum(rws) AS sz
        |  FROM sv GROUP BY 1, 2),
        |h AS (SELECT lv AS diversity, count(*) AS n_classes,
        |    sum(sz) AS n_rows, lv < 2 AS at_risk
        |  FROM cls GROUP BY lv),
        |t AS (SELECT min(diversity) AS l_diversity,
        |    sum(CASE WHEN at_risk THEN n_rows ELSE 0 END) AS rows_at_risk,
        |    sum(n_rows) AS n
        |  FROM h)
        |SELECT CAST(diversity AS BIGINT) AS diversity,
        |  CAST(n_classes AS BIGINT) AS n_classes,
        |  CAST(n_rows AS BIGINT) AS n_rows, at_risk,
        |  CAST(l_diversity AS BIGINT) AS l_diversity,
        |  CAST(rows_at_risk AS BIGINT) AS rows_at_risk,
        |  CAST(rows_at_risk AS DOUBLE) / CAST(n AS DOUBLE) AS risk_share
        |FROM h CROSS JOIN t ORDER BY diversity""".stripMargin,

    // JS-divergence replay: top-64 vocab (count desc, token asc),
    // OOV pooling, add-one smoothing over the observed support,
    // per-bucket ln terms decimal-accumulated, round 6
    "x_js_div" ->
      s"""WITH tk AS (SELECT CAST(lang AS VARCHAR) AS domain, unnest($toksSql) AS tok
        |  FROM documents),
        |v AS (SELECT tok, 1 AS invc FROM (
        |    SELECT tok, count(*) AS c FROM tk GROUP BY tok)
        |  ORDER BY c DESC, tok LIMIT 64),
        |b AS (SELECT domain,
        |    CASE WHEN v.invc IS NOT NULL THEN tk.tok ELSE '__OOV__' END AS term
        |  FROM tk LEFT JOIN v ON tk.tok = v.tok),
        |cnt AS (SELECT domain, term, count(*) AS c FROM b GROUP BY 1, 2),
        |tot AS (SELECT domain, sum(c) AS n FROM cnt GROUP BY 1),
        |sup AS (SELECT DISTINCT term FROM cnt),
        |sv AS (SELECT count(*) AS v FROM sup),
        |dist AS (SELECT tot.domain, sup.term, sv.v,
        |    CAST(coalesce(cnt.c, 0) + 1 AS DOUBLE) / CAST(tot.n + sv.v AS DOUBLE) AS p
        |  FROM tot CROSS JOIN sup CROSS JOIN sv
        |  LEFT JOIN cnt ON cnt.domain = tot.domain AND cnt.term = sup.term)
        |SELECT a.domain AS domain_a, b2.domain AS domain_b,
        |  CAST(max(a.v) AS BIGINT) AS n_terms,
        |  round(CAST(sum(CAST(
        |      a.p * ln(2.0 * a.p / (a.p + b2.p)) + b2.p * ln(2.0 * b2.p / (a.p + b2.p))
        |    AS DECIMAL(38,18))) AS DOUBLE) / 2.0, 6) AS js_div
        |FROM dist a JOIN dist b2 ON a.term = b2.term AND a.domain < b2.domain
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "x_key_skew" ->
      """WITH c AS (SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n_keys, sum(cnt) AS n_rows FROM c),
        |h AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 10)
        |SELECT h.key, h.cnt, CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share
        |FROM h CROSS JOIN t ORDER BY cnt DESC, key""".stripMargin,

    // bootstrap replay: same md5 uniforms, same Poisson(1) when-chain
    // thresholds (shortest-round-trip doubles), same decimal weighted
    // sums, same left-fold replica mean/sd/CI arithmetic
    "x_boot" -> {
      val B = 16
      def u(seed: Long): String =
        s"""list_sum(list_transform(range(1, 14), i ->
           |      (strpos('0123456789abcdef', substring(md5('$seed' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
           |        * pow(16, 13 - i))) / 4503599627370496.0""".stripMargin
      val chain = {
        val cdfs = graft.functions.BaseFns.poisCdf(1.0)
        (uE: String) => cdfs.map { case (c, k) =>
          s"WHEN $uE < ${java.lang.Double.toString(c)} THEN $k"
        }.mkString("CASE ", " ", s" ELSE ${cdfs.last._2 + 1} END")
      }
      val ws = (0 until B).map(j => s"${chain(s"u$j")} AS w$j").mkString(",\n|    ")
      val us = (0 until B).map(j => s"${u(7L + j)} AS u$j").mkString(",\n|    ")
      val sums = (0 until B).map(j =>
        s"${graft.functions.Exact.dprodSumSql(s"CAST(w$j AS DOUBLE)", "x")} AS s$j, " +
          s"CAST(sum(w$j) AS BIGINT) AS n$j").mkString(",\n|    ")
      val ests = (0 until B).map(j => s"(s$j / CAST(n$j AS DOUBLE))")
      val bmean = s"(${ests.mkString(" + ")}) / 16.0"
      val sdT = ests.map(e => s"(($e - m) * ($e - m))").mkString(" + ")
      s"""WITH k AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS x,
        |    $us
        |  FROM documents),
        |w AS (SELECT x,
        |    $ws
        |  FROM k),
        |a AS (SELECT ${graft.functions.Exact.dsumSql("x")} AS sx,
        |    CAST(count(*) AS BIGINT) AS n,
        |    $sums
        |  FROM w),
        |m0 AS (SELECT *, $bmean AS m FROM a),
        |f AS (SELECT *, sqrt(($sdT) / 15.0) AS sd FROM m0)
        |SELECT sx / CAST(n AS DOUBLE) AS est, n, m AS boot_mean,
        |  sd AS boot_sd, m - 1.96 * sd AS ci_lo, m + 1.96 * sd AS ci_hi
        |FROM f""".stripMargin
    },

    // grouped bootstrap replay: identical construction, GROUP BY lang
    "x_bootby" -> {
      val B = 8
      def u(seed: Long): String =
        s"""list_sum(list_transform(range(1, 14), i ->
           |      (strpos('0123456789abcdef', substring(md5('$seed' || CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
           |        * pow(16, 13 - i))) / 4503599627370496.0""".stripMargin
      val chain = {
        val cdfs = graft.functions.BaseFns.poisCdf(1.0)
        (uE: String) => cdfs.map { case (c, k) =>
          s"WHEN $uE < ${java.lang.Double.toString(c)} THEN $k"
        }.mkString("CASE ", " ", s" ELSE ${cdfs.last._2 + 1} END")
      }
      val ws = (0 until B).map(j => s"${chain(s"u$j")} AS w$j").mkString(",\n|    ")
      val us = (0 until B).map(j => s"${u(11L + j)} AS u$j").mkString(",\n|    ")
      val sums = (0 until B).map(j =>
        s"${graft.functions.Exact.dprodSumSql(s"CAST(w$j AS DOUBLE)", "x")} AS s$j, " +
          s"CAST(sum(w$j) AS BIGINT) AS n$j").mkString(",\n|    ")
      val ests = (0 until B).map(j => s"(s$j / CAST(n$j AS DOUBLE))")
      val bmean = s"(${ests.mkString(" + ")}) / 8.0"
      val sdT = ests.map(e => s"(($e - m) * ($e - m))").mkString(" + ")
      s"""WITH k AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS x,
        |    $us
        |  FROM documents),
        |w AS (SELECT lang, x,
        |    $ws
        |  FROM k),
        |a AS (SELECT lang, ${graft.functions.Exact.dsumSql("x")} AS sx,
        |    CAST(count(*) AS BIGINT) AS n,
        |    $sums
        |  FROM w GROUP BY lang),
        |m0 AS (SELECT *, $bmean AS m FROM a),
        |f AS (SELECT *, sqrt(($sdT) / 7.0) AS sd FROM m0)
        |SELECT lang, sx / CAST(n AS DOUBLE) AS est, n, m AS boot_mean,
        |  sd AS boot_sd, m - 1.96 * sd AS ci_lo, m + 1.96 * sd AS ci_hi
        |FROM f ORDER BY lang""".stripMargin
    },

    // the x_dup_spans chain re-used up to `spans`, then the gap/tail
    // rebuild: keep the segment before each span + the tail after the
    // last, string_agg in position order == the engine's HOF fold
    "x_strip_spans" ->
      """WITH s AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS ns FROM documents),
        |g AS (SELECT doc_id, len(ns) AS n_chars,
        |    CASE WHEN len(ns) < 20 THEN [substring(md5(ns), 1, 16)]
        |    ELSE list_transform(range(1, len(ns) - 18),
        |      i -> substring(md5(substring(ns, CAST(i AS INT), 20)), 1, 16)) END AS hs
        |  FROM s WHERE len(ns) > 0),
        |p AS (SELECT doc_id, n_chars, unnest(hs) AS h, generate_subscripts(hs, 1) AS pos FROM g),
        |c AS (SELECT h FROM p GROUP BY h HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, pos, least(pos + 19, n_chars) AS e
        |  FROM p WHERE h IN (SELECT h FROM c)),
        |m AS (SELECT doc_id, pos, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        |  FROM cov),
        |sp AS (SELECT doc_id, pos, e,
        |    sum(CASE WHEN pe IS NULL OR pos > pe + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS sid
        |  FROM m),
        |spans AS (SELECT doc_id, min(pos) AS st, max(e) AS en FROM sp GROUP BY doc_id, sid),
        |o AS (SELECT doc_id, st, en,
        |    lag(en, 1, 0) OVER (PARTITION BY doc_id ORDER BY st) AS ple FROM spans),
        |gaps AS (
        |  SELECT o.doc_id,
        |    substring(s.ns, CAST(o.ple + 1 AS INT), CAST(o.st - o.ple - 1 AS INT)) AS seg,
        |    o.st AS ord
        |  FROM o JOIN s USING (doc_id)
        |  UNION ALL
        |  SELECT t.doc_id,
        |    substring(s.ns, CAST(t.men + 1 AS INT), CAST(len(s.ns) - t.men AS INT)) AS seg,
        |    2147483647 AS ord
        |  FROM (SELECT doc_id, max(en) AS men FROM spans GROUP BY doc_id) t
        |  JOIN s USING (doc_id)),
        |cl AS (SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS clean_text
        |  FROM gaps GROUP BY doc_id)
        |SELECT s.doc_id, CAST(len(s.ns) AS BIGINT) AS n_chars,
        |  coalesce(cl.clean_text, s.ns) AS clean_text,
        |  CAST(len(coalesce(cl.clean_text, s.ns)) AS BIGINT) AS clean_chars,
        |  CAST(len(s.ns) - len(coalesce(cl.clean_text, s.ns)) AS BIGINT) AS removed_chars
        |FROM s LEFT JOIN cl USING (doc_id) ORDER BY s.doc_id""".stripMargin,

    // fixed-row shard cut + ORDER-SENSITIVE digest (string_agg in rid
    // order == the engine's sort_array concat)
    "x_shards" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY doc_id) AS rid
        |  FROM documents)
        |SELECT CAST((rid - 1) // 64 AS BIGINT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id,
        |  md5(string_agg(doc_id || ':' || n_chars, ',' ORDER BY rid)) AS digest
        |FROM r GROUP BY 1 ORDER BY shard_id""".stripMargin,

    // water-fill quotas (same algebra as x_waterfill) + the per-source
    // greedy prefix cut
    "x_quota_select" ->
      """WITH t AS (SELECT source AS stratum, CAST(sum(n_chars) AS BIGINT) AS total
        |  FROM documents GROUP BY 1),
        |r AS (SELECT stratum, total,
        |    row_number() OVER (ORDER BY total, stratum) AS rn,
        |    sum(total) OVER (ORDER BY total, stratum ROWS UNBOUNDED PRECEDING) AS cum,
        |    count(*) OVER () AS k
        |  FROM t),
        |l AS (SELECT *,
        |    (100000.0 - CAST(cum - total AS DOUBLE)) / CAST(k - rn + 1 AS DOUBLE) AS lam
        |  FROM r),
        |lv AS (SELECT *,
        |    max(CASE WHEN CAST(total AS DOUBLE) >= lam THEN lam END) OVER () AS level
        |  FROM l),
        |q AS (SELECT stratum, total,
        |    least(CAST(total AS DOUBLE), coalesce(level, CAST('infinity' AS DOUBLE))) AS quota
        |  FROM lv),
        |sel AS (SELECT d.doc_id, d.source, d.n_chars,
        |    sum(d.n_chars) OVER (PARTITION BY d.source
        |      ORDER BY d.n_chars DESC, d.doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens,
        |    q.quota
        |  FROM documents d JOIN q ON d.source = q.stratum)
        |SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens, quota
        |FROM sel WHERE CAST(cum_tokens AS DOUBLE) <= quota
        |ORDER BY doc_id""".stripMargin,

    // the water-level identity replayed with the same window algebra
    // over the stratum-grain totals
    "x_waterfill" ->
      """WITH t AS (SELECT source AS stratum, CAST(sum(n_chars) AS BIGINT) AS total
        |  FROM documents GROUP BY 1),
        |r AS (SELECT stratum, total,
        |    row_number() OVER (ORDER BY total, stratum) AS rn,
        |    sum(total) OVER (ORDER BY total, stratum ROWS UNBOUNDED PRECEDING) AS cum,
        |    count(*) OVER () AS k
        |  FROM t),
        |l AS (SELECT *,
        |    (100000.0 - CAST(cum - total AS DOUBLE)) / CAST(k - rn + 1 AS DOUBLE) AS lam
        |  FROM r),
        |lv AS (SELECT *,
        |    max(CASE WHEN CAST(total AS DOUBLE) >= lam THEN lam END) OVER () AS level
        |  FROM l)
        |SELECT stratum, total,
        |  least(CAST(total AS DOUBLE), coalesce(level, CAST('infinity' AS DOUBLE))) AS quota
        |FROM lv ORDER BY stratum""".stripMargin,

    // rank/count window pair + the one calibration division — rank and
    // n are integers, so the division is a single engine-exact IEEE op
    "x_qcal" ->
      """SELECT doc_id, source, n_chars,
        |  CASE WHEN cnt = 1 THEN 0.5
        |       ELSE CAST(rnk - 1 AS DOUBLE) / CAST(cnt - 1 AS DOUBLE) END AS q_cal
        |FROM (SELECT doc_id, source, n_chars,
        |        rank() OVER (PARTITION BY source ORDER BY n_chars) AS rnk,
        |        count(*) OVER (PARTITION BY source) AS cnt
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // the 2x2 confusion counts, then po/pe/kappa in the EXACT
    // expression order the Spark plan evaluates (pa*pb + (1-pa)*(1-pb))
    "x_kappa" ->
      """WITH c AS (SELECT
        |    sum(CASE WHEN n_chars >= 500 AND contains(text, ' the ') THEN 1 ELSE 0 END) AS n11,
        |    sum(CASE WHEN NOT (n_chars >= 500) AND NOT contains(text, ' the ') THEN 1 ELSE 0 END) AS n00,
        |    sum(CASE WHEN n_chars >= 500 AND NOT contains(text, ' the ') THEN 1 ELSE 0 END) AS n10,
        |    sum(CASE WHEN NOT (n_chars >= 500) AND contains(text, ' the ') THEN 1 ELSE 0 END) AS n01
        |  FROM documents),
        |k AS (SELECT CAST(n11 + n00 + n10 + n01 AS BIGINT) AS n,
        |    CAST(n11 AS DOUBLE) AS d11, CAST(n00 AS DOUBLE) AS d00,
        |    CAST(n11 + n10 AS DOUBLE) AS na, CAST(n11 + n01 AS DOUBLE) AS nb
        |  FROM c)
        |SELECT n, d11 / CAST(n AS DOUBLE) AS p_both,
        |  d00 / CAST(n AS DOUBLE) AS p_neither,
        |  (d11 + d00) / CAST(n AS DOUBLE) AS po,
        |  (na / CAST(n AS DOUBLE)) * (nb / CAST(n AS DOUBLE))
        |    + (1.0 - na / CAST(n AS DOUBLE)) * (1.0 - nb / CAST(n AS DOUBLE)) AS pe,
        |  CASE WHEN (na / CAST(n AS DOUBLE)) * (nb / CAST(n AS DOUBLE))
        |    + (1.0 - na / CAST(n AS DOUBLE)) * (1.0 - nb / CAST(n AS DOUBLE)) = 1.0 THEN 1.0
        |    ELSE (((d11 + d00) / CAST(n AS DOUBLE))
        |      - ((na / CAST(n AS DOUBLE)) * (nb / CAST(n AS DOUBLE))
        |        + (1.0 - na / CAST(n AS DOUBLE)) * (1.0 - nb / CAST(n AS DOUBLE))))
        |      / (1.0 - ((na / CAST(n AS DOUBLE)) * (nb / CAST(n AS DOUBLE))
        |        + (1.0 - na / CAST(n AS DOUBLE)) * (1.0 - nb / CAST(n AS DOUBLE)))) END AS kappa
        |FROM k""".stripMargin,

    "x_kripp_alpha" ->
      """WITH r AS (SELECT doc_id % 37 AS item,
        |    CAST((doc_id * 5 + 1) % 3 AS VARCHAR) AS cat FROM documents),
        |cells AS (SELECT item, cat, CAST(count(*) AS BIGINT) AS n
        |  FROM r GROUP BY 1, 2),
        |wi AS (SELECT item, cat, n, sum(n) OVER (PARTITION BY item) AS ni
        |  FROM cells),
        |f AS (SELECT item, cat, n, CAST(ni AS BIGINT) AS ni
        |  FROM wi WHERE ni >= 2),
        |t0 AS (SELECT item, max(ni) AS ni FROM f GROUP BY 1),
        |tot AS (SELECT CAST(sum(ni) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_items FROM t0),
        |d0 AS (SELECT CAST(sum(CAST(FLOOR(CAST(f.n * (f.ni - f.n) AS DOUBLE)
        |        / CAST(f.ni - 1 AS DOUBLE) * 1073741824.0 + 0.5)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0
        |      / CAST(tot.n AS DOUBLE) AS do_
        |  FROM f CROSS JOIN tot GROUP BY tot.n),
        |de AS (SELECT CAST(sum(CAST(nc * (tot.n - nc) AS DECIMAL(38,0)))
        |      AS DOUBLE)
        |      / (CAST(tot.n AS DOUBLE) * CAST(tot.n - 1 AS DOUBLE)) AS de
        |FROM (SELECT cat, sum(n) AS nc FROM f GROUP BY 1) c CROSS JOIN tot
        |  GROUP BY tot.n)
        |SELECT tot.n_items, tot.n AS n_ratings, d0.do_, de.de,
        |  CASE WHEN de.de = 0 THEN NULL
        |    ELSE 1.0 - d0.do_ / de.de END AS alpha
        |FROM d0 CROSS JOIN de CROSS JOIN tot""".stripMargin,

    // ordinal-alpha replay: the same cells, the cumulative-mass 2S
    // integers, HUGEINT numerators, the identical 2^-30 grid and
    // closing chain
    "x_kripp_ord" ->
      """WITH r AS (SELECT doc_id % 37 AS item,
        |    CAST((doc_id * 5 + 1) % 5 AS BIGINT) AS g FROM documents),
        |cells AS (SELECT item, g, CAST(count(*) AS BIGINT) AS n
        |  FROM r GROUP BY 1, 2),
        |wi AS (SELECT item, g, n,
        |    CAST(sum(n) OVER (PARTITION BY item) AS BIGINT) AS ni FROM cells),
        |f AS (SELECT * FROM wi WHERE ni >= 2),
        |t0 AS (SELECT item, max(ni) AS ni FROM f GROUP BY 1),
        |tot AS (SELECT CAST(sum(ni) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_items FROM t0),
        |marg AS (SELECT g, CAST(sum(n) AS BIGINT) AS nc,
        |    CAST(sum(sum(n)) OVER (ORDER BY g) AS BIGINT) AS cum
        |  FROM f GROUP BY g),
        |p AS (SELECT a.g AS gc, b.g AS gk,
        |    a.nc AS nc_c, b.nc AS nc_k,
        |    (b.cum - a.cum) * 2 + (a.nc - b.nc) AS twos
        |  FROM marg a JOIN marg b ON a.g < b.g),
        |de0 AS (SELECT sum(CAST(nc_c AS HUGEINT) * CAST(nc_k AS HUGEINT)
        |    * CAST(twos AS HUGEINT) * CAST(twos AS HUGEINT)) AS sde FROM p),
        |ip AS (SELECT fa.ni AS ni, fa.n AS na, fb.n AS nb, p.twos AS twos
        |  FROM f fa JOIN f fb ON fa.item = fb.item AND fa.g < fb.g
        |  JOIN p ON p.gc = fa.g AND p.gk = fb.g),
        |d0 AS (SELECT CAST(sum(CAST(FLOOR(
        |      CAST(CAST(na * nb AS HUGEINT) * CAST(twos AS HUGEINT)
        |        * CAST(twos AS HUGEINT) AS DOUBLE)
        |      / (CAST(ni - 1 AS DOUBLE) * 4.0)
        |      * 1073741824.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
        |    / 1073741824.0 AS sdo FROM ip)
        |SELECT tot.n_items, tot.n AS n_ratings,
        |  coalesce(d0.sdo, 0.0) * 2.0 / CAST(tot.n AS DOUBLE) AS do_,
        |  coalesce(CAST(de0.sde AS DOUBLE), 0.0) * 2.0 / 4.0
        |    / (CAST(tot.n AS DOUBLE) * CAST(tot.n - 1 AS DOUBLE)) AS de,
        |  CASE WHEN coalesce(CAST(de0.sde AS DOUBLE), 0.0) * 2.0 / 4.0
        |      / (CAST(tot.n AS DOUBLE) * CAST(tot.n - 1 AS DOUBLE)) = 0.0
        |    THEN NULL
        |    ELSE 1.0 - (coalesce(d0.sdo, 0.0) * 2.0 / CAST(tot.n AS DOUBLE))
        |      / (coalesce(CAST(de0.sde AS DOUBLE), 0.0) * 2.0 / 4.0
        |        / (CAST(tot.n AS DOUBLE) * CAST(tot.n - 1 AS DOUBLE)))
        |  END AS alpha
        |FROM d0 CROSS JOIN de0 CROSS JOIN tot""".stripMargin,

    "x_fleiss" ->
      """WITH r AS (SELECT doc_id % 50 AS item,
        |    CAST(((doc_id // 50) * 3 + doc_id % 50) % 4 AS VARCHAR) AS cat
        |  FROM documents),
        |cells AS (SELECT item, cat, CAST(count(*) AS BIGINT) AS n
        |  FROM r GROUP BY 1, 2),
        |per AS (SELECT item, sum(n) AS ni, sum(n * n) AS sq
        |  FROM cells GROUP BY 1),
        |nr AS (SELECT max(ni) AS n FROM per),
        |po AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(CAST(FLOOR((CAST(per.sq - nr.n AS DOUBLE)
        |        / CAST(nr.n * (nr.n - 1) AS DOUBLE)) * 1073741824.0 + 0.5)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0
        |      / CAST(count(*) AS DOUBLE) AS po
        |  FROM per CROSS JOIN nr),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cells),
        |pe AS (SELECT CAST(sum(CAST(FLOOR((CAST(cj AS DOUBLE) / t.t)
        |      * (CAST(cj AS DOUBLE) / t.t) * 1073741824.0 + 0.5)
        |    AS DECIMAL(38,0))) AS DOUBLE) / 1073741824.0 AS pe
        |  FROM (SELECT cat, sum(n) AS cj FROM cells GROUP BY 1) c
        |  CROSS JOIN t)
        |SELECT po.n_items, CAST(nr.n AS BIGINT) AS n_raters, po.po, pe.pe,
        |  CASE WHEN pe.pe = 1.0 THEN 1.0
        |    ELSE (po.po - pe.pe) / (1.0 - pe.pe) END AS kappa
        |FROM po CROSS JOIN pe CROSS JOIN nr""".stripMargin,

    "x_bradley_terry" -> {
      def ds(x: String) =
        s"(CAST(sum(CAST(FLOOR(($x) * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0)"
      def iter(prev: String, i: Int) =
        s"""d$i AS (SELECT p.a AS item, ${ds("p.n / (ra.rating + rb.rating)")} AS den
           |  FROM p JOIN $prev ra ON p.a = ra.item
           |         JOIN $prev rb ON p.b = rb.item GROUP BY p.a),
           |u$i AS (SELECT b0.item, b0.W,
           |    CASE WHEN d$i.den > 0 THEN b0.W / d$i.den ELSE 0.0 END AS rating
           |  FROM b0 JOIN d$i USING (item)),
           |t$i AS (SELECT ${ds("rating")} AS t, CAST(count(*) AS DOUBLE) AS c
           |  FROM u$i),
           |r$i AS (SELECT item, W, rating * t$i.c / t$i.t AS rating
           |  FROM u$i CROSS JOIN t$i)""".stripMargin
      s"""WITH m AS (SELECT CAST(doc_id % 8 AS VARCHAR) AS w,
         |    CAST((doc_id * 3 + 1) % 8 AS VARCHAR) AS l
         |  FROM documents WHERE doc_id % 8 <> (doc_id * 3 + 1) % 8),
         |wn AS (SELECT w AS item, CAST(count(*) AS DOUBLE) AS W FROM m GROUP BY 1),
         |p AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS n FROM
         |  (SELECT w AS a, l AS b FROM m UNION ALL SELECT l, w FROM m)
         |  GROUP BY 1, 2),
         |it AS (SELECT DISTINCT a AS item FROM p),
         |b0 AS (SELECT it.item, coalesce(wn.W, 0.0) AS W
         |  FROM it LEFT JOIN wn USING (item)),
         |r0 AS (SELECT item, W, CAST(1 AS DOUBLE) AS rating FROM b0),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)},
         |nt AS (SELECT a AS item, CAST(sum(n) AS BIGINT) AS n_matches
         |  FROM p GROUP BY 1)
         |SELECT r3.item, CAST(r3.W AS BIGINT) AS wins, nt.n_matches, r3.rating
         |FROM r3 JOIN nt USING (item) ORDER BY item""".stripMargin
    },

    "x_plackett_luce" -> {
      def ds(x: String) =
        s"(CAST(sum(CAST(FLOOR(($x) * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0)"
      def iter(prev: String, i: Int) =
        s"""sc$i AS (SELECT rm.g, rm.item, rm.pos, rm.mx,
           |    sum(r.rating) OVER (PARTITION BY rm.g ORDER BY rm.pos DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
           |  FROM rm JOIN $prev r USING (item)),
           |tc$i AS (SELECT g, item,
           |    sum(CASE WHEN pos = mx THEN 0.0 ELSE 1.0 / s END)
           |      OVER (PARTITION BY g ORDER BY pos
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           |  FROM sc$i),
           |d$i AS (SELECT item, ${ds("c")} AS den FROM tc$i GROUP BY item),
           |u$i AS (SELECT b0.item, b0.W,
           |    CASE WHEN d$i.den > 0 THEN b0.W / d$i.den ELSE 0.0 END AS rating
           |  FROM b0 JOIN d$i USING (item)),
           |t$i AS (SELECT ${ds("rating")} AS t, CAST(count(*) AS DOUBLE) AS c
           |  FROM u$i),
           |r$i AS (SELECT item, W, rating * t$i.c / t$i.t AS rating
           |  FROM u$i CROSS JOIN t$i)""".stripMargin
      s"""WITH rk AS (SELECT CAST(doc_id % 50 AS VARCHAR) AS g,
         |    CAST(doc_id // 50 AS VARCHAR) AS item,
         |    row_number() OVER (PARTITION BY doc_id % 50
         |      ORDER BY md5(CAST(doc_id AS VARCHAR))) AS pos
         |  FROM documents WHERE doc_id < 300),
         |rm AS (SELECT g, item, pos, max(pos) OVER (PARTITION BY g) AS mx FROM rk),
         |wn AS (SELECT item, CAST(count(*) AS DOUBLE) AS W FROM rm
         |  WHERE pos < mx GROUP BY 1),
         |it AS (SELECT DISTINCT item FROM rm),
         |b0 AS (SELECT it.item, coalesce(wn.W, 0.0) AS W
         |  FROM it LEFT JOIN wn USING (item)),
         |r0 AS (SELECT item, W, CAST(1 AS DOUBLE) AS rating FROM b0),
         |${iter("r0", 1)},
         |${iter("r1", 2)},
         |${iter("r2", 3)},
         |nt AS (SELECT item, count(*) AS n_rankings FROM rm GROUP BY 1)
         |SELECT r3.item, nt.n_rankings, CAST(r3.W AS BIGINT) AS wins, r3.rating
         |FROM r3 JOIN nt USING (item) ORDER BY item""".stripMargin
    },

    "x_pass_at_k" -> {
      def prod(k: Int) = (0 until k)
        .map(i => s"(CAST(GREATEST(n - c - $i, 0) AS DOUBLE) / (n - $i))")
        .mkString(" * ")
      def p(k: Int) =
        s"CASE WHEN n < $k THEN NULL ELSE 1.0 - ${prod(k)} END AS pass_at_$k"
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 10 END AS n FROM documents),
         |t AS (SELECT doc_id, CAST(n AS BIGINT) AS n,
         |    CAST(doc_id % (n + 1) AS BIGINT) AS c FROM base)
         |SELECT doc_id, n, c, ${p(1)}, ${p(5)}, ${p(10)}
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "x_pass_at_k_mean" -> {
      def prod(k: Int) = (0 until k)
        .map(i => s"(CAST(GREATEST(n - c - $i, 0) AS DOUBLE) / (n - $i))")
        .mkString(" * ")
      def p(k: Int) =
        s"CASE WHEN n < $k THEN NULL ELSE 1.0 - ${prod(k)} END AS p$k"
      def m(k: Int) =
        s"""CAST(SUM(CAST(FLOOR(p$k * 1073741824.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
           |    / 1073741824.0 / CAST(count(p$k) AS DOUBLE) AS mean_pass_at_$k""".stripMargin
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 10 END AS n FROM documents),
         |t AS (SELECT doc_id, CAST(n AS BIGINT) AS n,
         |    CAST(doc_id % (n + 1) AS BIGINT) AS c FROM base),
         |s AS (SELECT ${p(1)}, ${p(5)}, ${p(10)} FROM t)
         |SELECT CAST(count(*) AS BIGINT) AS n_tasks,
         |  ${m(1)}, ${m(5)}, ${m(10)}
         |FROM s""".stripMargin
    },

    // DELETE is answer-preserving: the surviving table IS the
    // NOT-filtered base (predicate-NULL rows kept — SQL semantics)
    "x_delete_where" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (doc_id % 7 = 3) ORDER BY doc_id""".stripMargin,

    // UPDATE is answer-preserving: the table IS the CASE projection
    "x_update_where" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 5 = 1 THEN n_chars * 2 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // MERGE is answer-preserving: the table IS the delete-filtered
    // update-CASE of the base plus the shifted insert batch
    "x_merge_into" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 11 = 5 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM documents WHERE NOT (doc_id % 13 = 2)
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, lang, n_chars + 7 AS n_chars
        |  FROM documents WHERE doc_id % 17 = 0
        |) ORDER BY doc_id""".stripMargin,

    // the exactly-once sink is answer-preserving: three batches plus
    // one REDELIVERED batch land the corpus exactly once — the sunk
    // table IS the corpus (a duplicating sink doubles a third of it)
    "x_stream_sink" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the streaming UPSERT sink is answer-preserving: bootstrap +
    // CDC delta (redelivered once) + absolute overwrite = one CASE
    // projection of the base, priority batch 2 > delete > batch 1
    "x_stream_upsert" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 9 = 2 THEN doc_id % 1000
        |         WHEN doc_id % 6 = 0 THEN n_chars + 500
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 2 = 0 AND NOT (doc_id % 10 = 4 AND doc_id % 9 <> 2)
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars + 3 AS n_chars
        |  FROM documents WHERE doc_id % 14 = 7
        |) ORDER BY doc_id""".stripMargin,

    // the CDC window's added files hold EXACTLY the appended batch
    "x_incr_read" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,

    // the incrementally-folded view equals the full aggregate —
    // counts and integer sums commute exactly
    "x_incr_view" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // DROP + RENAME are answer-preserving: the evolved table IS the
    // projected base under the new names
    "x_alter_schema" ->
      """SELECT doc_id, lang, n_chars AS len FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the partitioned layout's result IS the plain filtered agg
    "x_part_prune" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // the z-ordered box query's result IS the plain filter — the
    // layout only relocates rows into prunable files
    "x_zorder_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300
        |  AND o_orderkey BETWEEN 1000 AND 4000""".stripMargin,

    // hilbert layout is answer-preserving: the box query over the
    // hilbert-laid copy IS the plain filtered aggregate
    "x_hilbert" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300
        |  AND o_orderkey BETWEEN 1000 AND 4000""".stripMargin,

    // incremental maintenance is answer-preserving: base+delta on the
    // shared grid still return the plain filtered aggregate
    "x_zorder_incr" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 300
        |  AND o_orderkey BETWEEN 1000 AND 4000""".stripMargin,

    // the bloom-pruned batch lookup's result IS the plain IN filter —
    // the sidecar only skips files, never changes survivors
    "x_filebloom" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (1, 7, 32, 133, 999999999)
        |ORDER BY o_orderkey""".stripMargin,

    // the bucketed join's result IS the plain join — bucketing only
    // relocates the shuffle to write time
    "x_bucket_join" ->
      s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  ${graft.functions.Exact.dsumSql("l_extendedprice")} AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the salted join's result IS the plain join — the oracle proves
    // the salt changed only the shuffle topology, never the answer
    "x_salted_join" ->
      s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  ${graft.functions.Exact.dsumSql("l_extendedprice")} AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // replays the gopher + quality formulas, then the four cumulative
    // FILTER counts — one per funnel stage
    "x_funnel" ->
      s"""WITH f AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(text) AS DOUBLE) AS n,
        |    CAST(len($toksSql) AS DOUBLE) AS nw,
        |    CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
        |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w,
        |    list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines,
        |    $toksSql AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n_chars,
        |    greatest(0.0, least(1.0,
        |      0.25 * least(nw / 50.0, 1.0) +
        |      0.25 * (alpha / greatest(n, 1.0)) +
        |      0.25 * (1.0 - least((punct / greatest(n, 1.0)) * 10.0, 1.0)) +
        |      0.25 * (1.0 - least((digits / greatest(n, 1.0)) * 10.0, 1.0)))) AS quality,
        |    (len(w) >= 50 AND len(w) <= 100000
        |      AND CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS DOUBLE)
        |        / greatest(CAST(len(w) AS DOUBLE), 1.0) BETWEEN 3.0 AND 10.0
        |      AND CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |        / greatest(CAST(len(w) AS DOUBLE), 1.0) >= 0.80
        |      AND CAST(len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
        |        / greatest(CAST(len(w) AS DOUBLE), 1.0) <= 0.10
        |      AND CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
        |        / greatest(CAST(len(lines) AS DOUBLE), 1.0) <= 0.90
        |      AND CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
        |        / greatest(CAST(len(lines) AS DOUBLE), 1.0) <= 0.30
        |      AND len(list_intersect(list_distinct(toks),
        |        ['the','a','of','and','to','in','is','it','that','for'])) >= 2) AS gopher_pass
        |  FROM f),
        |s AS (SELECT count(*) AS n0,
        |    count(*) FILTER (WHERE n_chars BETWEEN 150 AND 5000) AS n1,
        |    count(*) FILTER (WHERE n_chars BETWEEN 150 AND 5000 AND gopher_pass) AS n2,
        |    count(*) FILTER (WHERE n_chars BETWEEN 150 AND 5000 AND gopher_pass
        |      AND quality >= 0.55) AS n3
        |  FROM g)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INT) AS stage_idx, 'input' AS stage,
        |    CAST(n0 AS BIGINT) AS survivors,
        |    CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS kept_frac FROM s
        |  UNION ALL SELECT CAST(1 AS INT), 'len_ok', CAST(n1 AS BIGINT),
        |    CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM s
        |  UNION ALL SELECT CAST(2 AS INT), 'gopher', CAST(n2 AS BIGINT),
        |    CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM s
        |  UNION ALL SELECT CAST(3 AS INT), 'quality', CAST(n3 AS BIGINT),
        |    CAST(n3 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM s)
        |ORDER BY stage_idx""".stripMargin,

    "x_repetition" ->
s"""WITH lines AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0)) AS line
        |  FROM documents),
        |pl AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY 1, 2),
        |ls AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(cnt) AS DOUBLE) AS dup_line_frac,
        |  CAST(sum(CASE WHEN cnt > 1 THEN cnt * len(line) ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(cnt * len(line)) AS DOUBLE) AS dup_char_frac
        |  FROM pl GROUP BY 1),
        |toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(w) <= 1 THEN [array_to_string(w, ' ')]
        |  ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END) AS bigram
        |  FROM toks),
        |pb AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
        |  AS top_bigram_frac FROM pb GROUP BY 1)
        |SELECT coalesce(ls.doc_id, bs.doc_id) AS doc_id, n_lines, dup_line_frac,
        |  dup_char_frac, top_bigram_frac
        |FROM ls FULL JOIN bs ON ls.doc_id = bs.doc_id ORDER BY doc_id""".stripMargin,

    "x_contam" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(w) <= 7 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' ')) END
        |  )) AS gram FROM toks),
        |tg AS (SELECT DISTINCT gram FROM g WHERE (doc_id % 37) = 0),
        |tr AS (SELECT doc_id, gram FROM g WHERE (doc_id % 37) <> 0)
        |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN tg.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_contaminated,
        |  CAST(sum(CASE WHEN tg.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS contam_frac,
        |  sum(CASE WHEN tg.gram IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
        |FROM tr LEFT JOIN tg ON tr.gram = tg.gram
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replicates the langId kernel: CJK-ratio gate (vacuous on this
    // corpus) then stopword-profile argmax, ties -> lexicographically
    // largest code (the struct list_sort descends on (score, lang))
    "x_langid" ->
      s"""WITH t AS (SELECT lang, list_distinct($toksSql) AS tk,
        |  len(regexp_replace(text, '[^\\p{Han}]', '', 'g')) AS cjk, len(text) AS n
        |  FROM documents),
        |p AS (SELECT lang,
        |  CASE WHEN n > 0 AND cjk > n * 0.3 THEN 'zh'
        |  ELSE list_sort([
        |    struct_pack(s := len(list_intersect(tk, ['der','die','das','und','ist','ein','eine','zu','mit','von'])), l := 'de'),
        |    struct_pack(s := len(list_intersect(tk, ['the','a','of','and','to','in','is','it','that','for'])), l := 'en'),
        |    struct_pack(s := len(list_intersect(tk, ['el','la','los','las','y','es','un','una','de','en'])), l := 'es'),
        |    struct_pack(s := len(list_intersect(tk, ['le','la','les','et','est','un','une','de','dans','pour'])), l := 'fr'),
        |    struct_pack(s := len(list_intersect(tk, ['il','la','gli','e','è','un','una','di','in','per'])), l := 'it')
        |  ])[-1].l END AS pred_lang
        |  FROM t)
        |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // entropy replay: per-doc tf table, p·(-ln p) terms decimal-
    // accumulated, the normalized form re-rounding the rounded H
    // exactly like the engine (round(round(H,6)/ln(nd), 6))
    "x_entropy" ->
      s"""WITH tf AS (SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest($toksSql) AS t FROM documents) GROUP BY 1, 2),
        |n AS (SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1),
        |h AS (SELECT tf.doc_id,
        |    round(CAST(sum(CAST(
        |      (CAST(tf AS DOUBLE) / CAST(n.n AS DOUBLE))
        |        * -ln(CAST(tf AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      AS DECIMAL(38,18))) AS DOUBLE), 6) AS entropy,
        |    CAST(max(n.n) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct
        |  FROM tf JOIN n USING (doc_id) GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct, entropy,
        |  CASE WHEN n_distinct > 1
        |    THEN round(entropy / ln(CAST(n_distinct AS DOUBLE)), 6) END AS entropy_norm
        |FROM h ORDER BY doc_id""".stripMargin,

    // blocklist replay: token occurrences in the 3-term list per doc
    "x_blocklist" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
        |h AS (SELECT doc_id, count(*) AS n_hits FROM tk
        |  WHERE t IN ('slow', 'spam', 'lorem') GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS blocked
        |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // bigram LM replay: adjacent pairs over the same filtered token
    // lists, corpus bigram/unigram models, the λ=1/2 mixture with
    // add-one unigram backoff, decimal-accumulated -ln sums, round 6
    "x_bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |bp AS (SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> struct_pack(w1 := w[CAST(i AS INT)], w2 := w[CAST(i AS INT) + 1]))) AS p
        |  FROM toks),
        |tf2 AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS tf
        |  FROM bp GROUP BY 1, 2, 3),
        |big AS (SELECT w1, w2, sum(tf) AS c2 FROM tf2 GROUP BY 1, 2),
        |uni AS (SELECT t AS tok, count(*) AS c1
        |  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
        |tot AS (SELECT sum(c1) AS n, count(*) AS v FROM uni),
        |sc AS (SELECT tf2.doc_id, tf2.tf,
        |    0.5 * (CAST(big.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)) +
        |    0.5 * (CAST(u2.c1 + 1 AS DOUBLE) / CAST(tot.n + tot.v AS DOUBLE)) AS p
        |  FROM tf2
        |  JOIN big ON tf2.w1 = big.w1 AND tf2.w2 = big.w2
        |  JOIN uni u1 ON tf2.w1 = u1.tok
        |  JOIN uni u2 ON tf2.w2 = u2.tok
        |  CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(CAST(sum(CAST(tf * -ln(p) AS DECIMAL(38,18))) AS DOUBLE)
        |    / CAST(sum(tf) AS DOUBLE), 6) AS lm2_score
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "x_unigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |tf AS (SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY 1, 2),
        |model AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY 1),
        |total AS (SELECT sum(cf) AS ct FROM model)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(tf.tf * -ln(CAST(cf AS DOUBLE) / CAST(ct AS DOUBLE))
        |      AS DECIMAL(38,18))) AS DOUBLE)
        |    / CAST(sum(tf.tf) AS DOUBLE), 6) AS lm_score
        |FROM tf JOIN model USING (term) CROSS JOIN total
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays vocabCoverage: exact top-64 vocab (count desc, token
    // asc ties), occurrence-level membership, one IEEE division
    "x_vocab_cov" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
        |v AS (SELECT tok, 1 AS invc FROM (
        |    SELECT tok, count(*) AS c FROM tk GROUP BY tok)
        |  ORDER BY c DESC, tok LIMIT 64)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.invc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS in_vocab,
        |  CAST(count(*) - sum(CASE WHEN v.invc IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS oov_ratio
        |FROM tk LEFT JOIN v USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |tf AS (SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    round(tf.tf * (ln((nd + 1.0) / (dfc + 1.0)) + 1.0), 6) AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, tf.term) AS rn
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf
        |FROM scored WHERE rn <= 5 ORDER BY doc_id, term""".stripMargin,

    // 3-round BPE train replay: same |a||b| symbol strings, same
    // integer pair counts, same (c DESC, l, r) argmax, same
    // non-regex left-to-right replace per round
    "x_bpe_train" -> {
      def round(i: Int) =
        s"""a$i AS (SELECT s[2:length(s)-1] AS core, wc, s FROM s$i),
           |p$i AS (SELECT pr[1] AS l, pr[2] AS r, sum(wc) AS c
           |  FROM (SELECT unnest(list_transform(range(1, len(arr)),
           |          k -> [arr[CAST(k AS INT)], arr[CAST(k AS INT) + 1]])) AS pr, wc
           |        FROM (SELECT string_split(core, '||') AS arr, wc FROM a$i)
           |        WHERE len(arr) >= 2)
           |  GROUP BY 1, 2),
           |m$i AS (SELECT l, r, c FROM p$i WHERE c >= 1
           |  ORDER BY c DESC, l, r LIMIT 1),
           |s${i + 1} AS MATERIALIZED (SELECT
           |    replace(t.s, '|'||m.l||'||'||m.r||'|', '|'||m.l||m.r||'|') AS s, wc
           |  FROM s$i t CROSS JOIN m$i m)""".stripMargin
      s"""WITH w AS (SELECT w, count(*) AS wc
        |  FROM (SELECT unnest($toksSql) AS w FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |s1 AS MATERIALIZED (SELECT '|' || array_to_string(
        |    list_transform(range(1, length(w) + 1), i -> w[CAST(i AS INT)]),
        |    '||') || '|' AS s, wc FROM w),
        |${round(1)},
        |${round(2)},
        |${round(3)}
        |SELECT 1 AS rank, l AS l_sym, r AS r_sym, CAST(c AS BIGINT) AS pair_count FROM m1
        |UNION ALL SELECT 2, l, r, CAST(c AS BIGINT) FROM m2
        |UNION ALL SELECT 3, l, r, CAST(c AS BIGINT) FROM m3
        |ORDER BY rank""".stripMargin
    },

    // apply replay: the train chain re-derives the 3 merges, then the
    // same boundary encoding + rank-ordered replace chain per word
    "x_bpe_apply" -> {
      def round(i: Int) =
        s"""a$i AS (SELECT s[2:length(s)-1] AS core, wc, s FROM s$i),
           |p$i AS (SELECT pr[1] AS l, pr[2] AS r, sum(wc) AS c
           |  FROM (SELECT unnest(list_transform(range(1, len(arr)),
           |          k -> [arr[CAST(k AS INT)], arr[CAST(k AS INT) + 1]])) AS pr, wc
           |        FROM (SELECT string_split(core, '||') AS arr, wc FROM a$i)
           |        WHERE len(arr) >= 2)
           |  GROUP BY 1, 2),
           |m$i AS (SELECT l, r, c FROM p$i WHERE c >= 1
           |  ORDER BY c DESC, l, r LIMIT 1),
           |s${i + 1} AS MATERIALIZED (SELECT
           |    replace(t.s, '|'||m.l||'||'||m.r||'|', '|'||m.l||m.r||'|') AS s, wc
           |  FROM s$i t CROSS JOIN m$i m)""".stripMargin
      s"""WITH w AS (SELECT w, count(*) AS wc
        |  FROM (SELECT unnest($toksSql) AS w FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |s1 AS MATERIALIZED (SELECT '|' || array_to_string(
        |    list_transform(range(1, length(w) + 1), i -> w[CAST(i AS INT)]),
        |    '||') || '|' AS s, wc FROM w),
        |${round(1)},
        |${round(2)},
        |${round(3)},
        |doc AS (SELECT doc_id, list_filter($toksSql, x -> x <> '') AS ws
        |  FROM documents),
        |enc AS (SELECT doc_id, list_transform(ws, ww -> '|' ||
        |    array_to_string(list_transform(range(1, length(ww) + 1),
        |      i -> ww[CAST(i AS INT)]), '||') || '|') AS es FROM doc),
        |ap AS (SELECT doc_id, list_transform(es, e ->
        |    replace(replace(replace(e,
        |      '|'||m1.l||'||'||m1.r||'|', '|'||m1.l||m1.r||'|'),
        |      '|'||m2.l||'||'||m2.r||'|', '|'||m2.l||m2.r||'|'),
        |      '|'||m3.l||'||'||m3.r||'|', '|'||m3.l||m3.r||'|')) AS asx
        |  FROM enc CROSS JOIN m1 CROSS JOIN m2 CROSS JOIN m3),
        |sub AS (SELECT doc_id, flatten(list_transform(asx,
        |    a2 -> string_split(a2[2:length(a2)-1], '||'))) AS subs FROM ap)
        |SELECT doc_id, CAST(len(subs) AS BIGINT) AS n_bpe,
        |  md5(array_to_string(subs, '|')) AS digest
        |FROM sub ORDER BY doc_id""".stripMargin
    },

    // replays the full BM25 chain: same tokenization, same fixed-order
    // IEEE idf/norm arithmetic (constants spelled as the identical
    // double ops, e.g. (1.2 + 1.0) not 2.2), decimal(38,18) term sums
    "x_bm25" -> bm25OracleSql,
    "x_qlm" -> qlmOracleSql,

    // the indexed path scores bit-identically to x_bm25 (same
    // tokenizer contract, same scoring tail over the materialized
    // postings), so it replays the same oracle
    "x_bm25_indexed" -> bm25OracleSql,
    // incremental maintenance is answer-preserving: base+delta index
    // == the full-corpus index, so the replay is identical
    "x_bm25_incr" -> bm25OracleSql,
    "x_bm25_prf" -> bm25PrfOracleSql,

    // the bm25 chain at k=20, a recency list, 1/(60+rank) decimal
    // fusion, top-10 — rank arithmetic identical on both engines
    "x_rrf" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |tf AS (SELECT doc_id, len(w) AS dl, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, w, unnest(w) AS t FROM toks) GROUP BY 1, 2, 3),
        |stats AS (SELECT count(*) AS nd, sum(len(w)) AS tl FROM toks),
        |q(q_id, qtext) AS (VALUES ('q1', 'spark window agg'),
        |  ('q2', 'customer join order'), ('q3', 'vector scan stream')),
        |qt AS (SELECT DISTINCT q_id,
        |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(qtext),
        |      '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS term FROM q),
        |dfreq AS (SELECT term, count(*) AS dfc FROM tf
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |scored AS (SELECT qt.q_id, tf.doc_id,
        |    round(CAST(sum(CAST(
        |      ln(1.0 + (CAST(nd AS DOUBLE) - dfc + 0.5) / (dfc + 0.5))
        |        * (tf.tf * (1.2 + 1.0))
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE)
        |            / (CAST(tl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |      AS DECIMAL(38,18))) AS DOUBLE), 6) AS bm25
        |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |lex AS (SELECT q_id, doc_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM scored QUALIFY rank <= 20),
        |freshdocs AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY doc_id DESC) AS rank
        |  FROM documents QUALIFY rank <= 20),
        |fresh AS (SELECT q.q_id, f.doc_id, f.rank FROM freshdocs f CROSS JOIN q),
        |u AS (SELECT q_id, doc_id, rank FROM lex
        |  UNION ALL SELECT q_id, doc_id, rank FROM fresh),
        |fused AS (SELECT q_id, doc_id,
        |    round(CAST(sum(CAST(1.0 / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))
        |      AS DECIMAL(38,18))) AS DOUBLE), 6) AS rrf,
        |    count(*) AS n_lists
        |  FROM u GROUP BY 1, 2),
        |r AS (SELECT q_id, doc_id, rrf, n_lists,
        |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rn
        |  FROM fused)
        |SELECT q_id, doc_id, rrf, CAST(n_lists AS BIGINT) AS n_lists
        |FROM r WHERE rn <= 10 ORDER BY q_id, rrf DESC, doc_id""".stripMargin,

    // unigram counts, bigram counts, and the lift division replayed
    // with the same IEEE op order (n*cnt)/(ca*cb)
    "x_pmi" ->
      s"""WITH toks AS (SELECT $toksSql AS w FROM documents),
        |u AS (SELECT unnest(w) AS t FROM toks),
        |uc AS (SELECT t, count(*) AS c1 FROM u GROUP BY 1),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uc),
        |bi AS (SELECT unnest(list_transform(range(1, len(w)), i ->
        |    array_to_string(w[i:i+1], ' '))) AS bigram
        |  FROM toks WHERE len(w) >= 2),
        |bc AS (SELECT bigram, count(*) AS cnt FROM bi GROUP BY 1
        |  HAVING count(*) >= 5),
        |j AS (SELECT bigram, cnt, string_split(bigram, ' ')[1] AS t1,
        |    string_split(bigram, ' ')[2] AS t2 FROM bc)
        |SELECT bigram, cnt,
        |  CAST(n.n AS DOUBLE) * CAST(cnt AS DOUBLE)
        |    / (CAST(ua.c1 AS DOUBLE) * CAST(ub.c1 AS DOUBLE)) AS lift
        |FROM j JOIN uc ua ON j.t1 = ua.t JOIN uc ub ON j.t2 = ub.t CROSS JOIN n
        |ORDER BY lift DESC, bigram LIMIT 50""".stripMargin,

    // TextRank replay: the x_pmi bigram CTEs -> floor-cut symmetrized
    // edges -> the x_pagerank 2-iteration unroll -> top-20 terms
    "x_textrank" -> {
      def ds(x: String) =
        s"CAST(CAST(sum(CAST($x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
      val b = s"CAST('${1.0 - 0.85}' AS DOUBLE)"
      val dd = "CAST('0.85' AS DOUBLE)"
      def iter(prev: String, out: String) =
        s"""i$out AS (SELECT e.d AS node, ${ds(s"$prev.rank / od.od")} AS infl
           |  FROM e JOIN od USING (s) JOIN $prev ON $prev.node = e.s GROUP BY e.d),
           |g$out AS (SELECT coalesce(${ds("rank")}, 0.0) AS dang
           |  FROM $prev WHERE node NOT IN (SELECT s FROM e)),
           |$out AS (SELECT n.node,
           |    $b / nn.N + $dd * (coalesce(i$out.infl, 0.0) + g$out.dang / nn.N) AS rank
           |  FROM n LEFT JOIN i$out ON n.node = i$out.node
           |  CROSS JOIN g$out CROSS JOIN nn)""".stripMargin
      s"""WITH toks AS (SELECT $toksSql AS w FROM documents),
        |bi AS (SELECT unnest(list_transform(range(1, len(w)), i ->
        |    array_to_string(w[i:i+1], ' '))) AS bigram
        |  FROM toks WHERE len(w) >= 2),
        |bc AS (SELECT bigram, count(*) AS cnt FROM bi GROUP BY 1
        |  HAVING count(*) >= 5),
        |e0 AS (SELECT string_split(bigram, ' ')[1] AS s,
        |    string_split(bigram, ' ')[2] AS d FROM bc
        |  WHERE string_split(bigram, ' ')[1] <> string_split(bigram, ' ')[2]
        |    AND string_split(bigram, ' ')[1] <> ''
        |    AND string_split(bigram, ' ')[2] <> ''),
        |e AS (SELECT DISTINCT s, d FROM
        |  (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0)),
        |n AS (SELECT DISTINCT node FROM
        |  (SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM n),
        |od AS (SELECT s, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY s),
        |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.N AS rank FROM n CROSS JOIN nn),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")}
        |SELECT node, rank FROM r2
        |ORDER BY rank DESC, node LIMIT 20""".stripMargin
    },

    "x_bpe_pairs" ->
      s"""WITH toks AS (SELECT $toksSql AS w0 FROM documents),
        |w AS (SELECT unnest(w0) AS w FROM toks),
        |p AS (SELECT unnest(list_transform(range(1, length(w)), i ->
        |    substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM w WHERE length(w) >= 2)
        |SELECT pair, count(*) AS cnt FROM p GROUP BY 1
        |ORDER BY cnt DESC, pair LIMIT 40""".stripMargin,

    "x_ngram_freq" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS w FROM documents),
        |g AS (SELECT unnest(CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
        |  ELSE list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) END) AS gram
        |  FROM toks)
        |SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1
        |ORDER BY cnt DESC, gram LIMIT 50""".stripMargin,

    // pageRank 2-iteration unroll: same edges, same 18-decimal inflow
    // accumulation, damping constants interpolated as exact doubles
    "x_pagerank" -> {
      def ds(x: String) =
        s"CAST(CAST(sum(CAST($x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
      val b = s"CAST('${1.0 - 0.85}' AS DOUBLE)"
      val dd = "CAST('0.85' AS DOUBLE)"
      def iter(prev: String, out: String) =
        s"""i$out AS (SELECT e.d AS node, ${ds(s"$prev.rank / od.od")} AS infl
           |  FROM e JOIN od USING (s) JOIN $prev ON $prev.node = e.s GROUP BY e.d),
           |g$out AS (SELECT coalesce(${ds("rank")}, 0.0) AS dang
           |  FROM $prev WHERE node NOT IN (SELECT s FROM e)),
           |$out AS (SELECT n.node,
           |    $b / nn.N + $dd * (coalesce(i$out.infl, 0.0) + g$out.dang / nn.N) AS rank
           |  FROM n LEFT JOIN i$out ON n.node = i$out.node
           |  CROSS JOIN g$out CROSS JOIN nn)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT doc_id % 50 AS s, (doc_id * 7 + 3) % 50 AS d
        |  FROM documents),
        |n AS (SELECT DISTINCT node FROM
        |  (SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM n),
        |od AS (SELECT s, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY s),
        |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.N AS rank FROM n CROSS JOIN nn),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")}
        |SELECT node, rank FROM r2 ORDER BY node""".stripMargin
    },

    // coreness replay: symmetrized edges, 3 unrolled h-index rounds
    // (neighbor join + per-node rank window), all-integer
    "x_coreness" -> {
      def iter(prev: String, out: String) =
        s"""$out AS (SELECT a AS node,
           |    coalesce(max(CASE WHEN nv >= r THEN r END), 0) AS value
           |  FROM (SELECT e.a, $prev.value AS nv,
           |      row_number() OVER (PARTITION BY e.a
           |        ORDER BY $prev.value DESC, e.b) AS r
           |    FROM e JOIN $prev ON $prev.node = e.b)
           |  GROUP BY a)""".stripMargin
      s"""WITH raw AS (SELECT DISTINCT doc_id % 50 AS s,
        |    (doc_id * 7 + 3) % 50 AS d FROM documents),
        |dir AS (SELECT s AS a, d AS b FROM raw WHERE s <> d),
        |e AS (SELECT DISTINCT a, b FROM
        |  (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir)),
        |v0 AS (SELECT a AS node, count(*) AS value FROM e GROUP BY 1),
        |${iter("v0", "v1")},
        |${iter("v1", "v2")},
        |${iter("v2", "v3")}
        |SELECT node, CAST(value AS BIGINT) AS coreness
        |FROM v3 ORDER BY node""".stripMargin
    },

    // triangle replay: canonical a<b edges, the plain id-ordered
    // triple join (count-identical to the degree-ordered plan), wedge
    // total from degrees, one final division
    "x_triangles" ->
      """WITH raw AS (SELECT DISTINCT doc_id % 50 AS s,
        |    (doc_id * 7 + 3) % 50 AS d FROM documents),
        |e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM raw WHERE s <> d),
        |deg AS (SELECT node, count(*) AS dg FROM
        |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node),
        |tri AS (SELECT count(*) AS t FROM e e1
        |  JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |sz AS (SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  CAST((SELECT sum(dg * (dg - 1)) FROM deg) / 2 AS BIGINT) AS wedges)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(n_edges AS BIGINT) AS n_edges,
        |  CAST(t AS BIGINT) AS triangles, wedges,
        |  CASE WHEN wedges > 0
        |    THEN 3.0 * CAST(t AS DOUBLE) / CAST(wedges AS DOUBLE) END
        |    AS global_clustering
        |FROM sz CROSS JOIN tri""".stripMargin,

    // grouped-KS replay: per-(lang, value) counts, lang-partitioned
    // window cumsums, per-lang sup with smallest-value ties
    "x_gks" ->
      """WITH u AS (
        |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v, 1.0 AS s1, 0.0 AS s2
        |  FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
        |  UNION ALL
        |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v, 0.0 AS s1, 1.0 AS s2
        |  FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        |c AS (SELECT g, v, sum(s1) AS c1, sum(s2) AS c2 FROM u GROUP BY 1, 2),
        |t AS (SELECT g, sum(c1) AS n1, sum(c2) AS n2 FROM c GROUP BY 1),
        |f AS (SELECT c.g, c.v,
        |    sum(c1) OVER (PARTITION BY c.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |    sum(c2) OVER (PARTITION BY c.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |  FROM c),
        |d AS (SELECT f.g, f.v,
        |    abs(f1 / greatest(n1, 1.0) - f2 / greatest(n2, 1.0)) AS dd, n1, n2
        |  FROM f JOIN t ON f.g = t.g),
        |r AS (SELECT g, v, dd, n1, n2,
        |    row_number() OVER (PARTITION BY g ORDER BY dd DESC, v) AS rn
        |  FROM d)
        |SELECT g AS stratum, dd AS ks, v AS at_value,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
        |FROM r WHERE rn = 1 ORDER BY stratum""".stripMargin,

    // grouped-W1 replay: per-(lang, value) counts, lang-partitioned
    // cum + lag windows, per-lang grid totals with the string bridge
    "x_gwasserstein" ->
      """WITH u AS (
        |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v, 1.0 AS s1, 0.0 AS s2
        |  FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
        |  UNION ALL
        |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v, 0.0 AS s1, 1.0 AS s2
        |  FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        |c AS (SELECT g, v, sum(s1) AS c1, sum(s2) AS c2 FROM u GROUP BY 1, 2),
        |t AS (SELECT g, sum(c1) AS n1, sum(c2) AS n2 FROM c GROUP BY 1),
        |f AS (SELECT c.g, c.v,
        |    sum(c1) OVER (PARTITION BY c.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |    sum(c2) OVER (PARTITION BY c.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |  FROM c),
        |d AS (SELECT f.g, f.v,
        |    abs(f1 / greatest(n1, 1.0) - f2 / greatest(n2, 1.0)) AS dd, n1, n2
        |  FROM f JOIN t ON f.g = t.g),
        |l AS (SELECT g, v, dd, n1, n2,
        |    lag(v) OVER (PARTITION BY g ORDER BY v) AS vp,
        |    lag(dd) OVER (PARTITION BY g ORDER BY v) AS dp
        |  FROM d),
        |gr AS (SELECT g, n1, n2,
        |    CAST(floor(coalesce(dp * (v - vp), 0.0)
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0)) AS tt FROM l)
        |SELECT g AS stratum,
        |  CAST(CAST(sum(tt) AS VARCHAR) AS DOUBLE) / 1099511627776.0 AS w1,
        |  CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2
        |FROM gr GROUP BY g ORDER BY stratum""".stripMargin,

    // behavioral-drift replay: the transition CTEs per era, full join
    // on (from, to), zero-safe JSD half-terms on the 2^40 grid
    "x_markov_drift" ->
      """WITH sa AS (SELECT event_type AS t,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS f
        |  FROM events WHERE user_id % 2 = 0),
        |pa AS (SELECT f, t, count(*) AS n FROM sa WHERE f IS NOT NULL
        |  GROUP BY 1, 2),
        |ra AS (SELECT f, sum(n) AS rtot FROM pa GROUP BY 1),
        |ea AS (SELECT pa.f, pa.t, pa.n,
        |    CAST(pa.n AS DOUBLE) / CAST(ra.rtot AS DOUBLE) AS p
        |  FROM pa JOIN ra USING (f)),
        |sb AS (SELECT event_type AS t,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS f
        |  FROM events WHERE user_id % 2 = 1),
        |pb AS (SELECT f, t, count(*) AS n FROM sb WHERE f IS NOT NULL
        |  GROUP BY 1, 2),
        |rb AS (SELECT f, sum(n) AS rtot FROM pb GROUP BY 1),
        |eb AS (SELECT pb.f, pb.t, pb.n,
        |    CAST(pb.n AS DOUBLE) / CAST(rb.rtot AS DOUBLE) AS q
        |  FROM pb JOIN rb USING (f)),
        |j AS (SELECT coalesce(ea.f, eb.f) AS from_type,
        |    coalesce(ea.p, 0.0) AS p, coalesce(eb.q, 0.0) AS q,
        |    coalesce(ea.n, 0) AS na, coalesce(eb.n, 0) AS nb
        |  FROM ea FULL JOIN eb ON ea.f = eb.f AND ea.t = eb.t),
        |terms AS (SELECT from_type, na, nb,
        |    CAST(floor((
        |      CASE WHEN p > 0.0
        |        THEN 0.5 * p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END +
        |      CASE WHEN q > 0.0
        |        THEN 0.5 * q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0)) AS tt
        |  FROM j)
        |SELECT from_type, CAST(sum(na) AS BIGINT) AS n_a,
        |  CAST(sum(nb) AS BIGINT) AS n_b,
        |  CAST(CAST(sum(tt) AS VARCHAR) AS DOUBLE) / 1099511627776.0 AS jsd
        |FROM terms GROUP BY from_type ORDER BY from_type""".stripMargin,

    // BH replay: the x_gks CTE chain -> Smirnov p -> step-up rule
    "x_bh_fdr" ->
      """WITH u AS (
        |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v, 1.0 AS s1, 0.0 AS s2
        |  FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
        |  UNION ALL
        |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v, 0.0 AS s1, 1.0 AS s2
        |  FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        |c AS (SELECT g, v, sum(s1) AS c1, sum(s2) AS c2 FROM u GROUP BY 1, 2),
        |t AS (SELECT g, sum(c1) AS n1, sum(c2) AS n2 FROM c GROUP BY 1),
        |f AS (SELECT c.g, c.v,
        |    sum(c1) OVER (PARTITION BY c.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        |    sum(c2) OVER (PARTITION BY c.g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
        |  FROM c),
        |d AS (SELECT f.g, f.v,
        |    abs(f1 / greatest(n1, 1.0) - f2 / greatest(n2, 1.0)) AS dd, n1, n2
        |  FROM f JOIN t ON f.g = t.g),
        |r AS (SELECT g, v, dd, n1, n2,
        |    row_number() OVER (PARTITION BY g ORDER BY dd DESC, v) AS rn
        |  FROM d),
        |ks AS (SELECT g AS stratum, dd AS ks, n1, n2 FROM r WHERE rn = 1),
        |pv AS (SELECT stratum,
        |    least(1.0, 2.0 * exp(-2.0 * (n1 * n2 / (n1 + n2)) * ks * ks)) AS p
        |  FROM ks),
        |m AS (SELECT count(*) AS m FROM pv),
        |rk AS (SELECT stratum, p,
        |    CAST(row_number() OVER (ORDER BY p ASC, stratum ASC) AS INT) AS rank,
        |    m.m AS m,
        |    0.05 * CAST(row_number() OVER (ORDER BY p ASC, stratum ASC) AS DOUBLE)
        |      / CAST(m.m AS DOUBLE) AS critical
        |  FROM pv CROSS JOIN m),
        |k AS (SELECT coalesce(max(CASE WHEN p <= critical THEN rank END), 0) AS k
        |  FROM rk)
        |SELECT stratum, p, rank, CAST(m AS BIGINT) AS m, critical,
        |  rank <= k.k AS rejected
        |FROM rk CROSS JOIN k ORDER BY rank""".stripMargin,

    // PSI replay: reference quantile_cont deciles, same comparison
    // chain, Laplace smoothing, floor-grid term sum
    "x_psi" -> {
      val fences = (0 until 9).map(i =>
        s"quantile_cont(v, 0.${i + 1}) AS f$i").mkString(", ")
      val binExpr = (0 until 9).map(i =>
        s"CASE WHEN v > f$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH r AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
        |c AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
        |f AS (SELECT $fences FROM r),
        |rc AS (SELECT ($binExpr) AS bin, count(*) AS cr
        |  FROM r CROSS JOIN f GROUP BY 1),
        |cc AS (SELECT ($binExpr) AS bin, count(*) AS ccur
        |  FROM c CROSS JOIN f GROUP BY 1),
        |t AS (SELECT (SELECT sum(cr) FROM rc) AS nr,
        |  (SELECT sum(ccur) FROM cc) AS nc),
        |g AS (SELECT CAST(r2.range AS INT) AS bin FROM range(0, 10) r2),
        |pq AS (SELECT
        |    (CAST(coalesce(rc.cr, 0) AS DOUBLE) + 0.5)
        |      / (CAST(nr AS DOUBLE) + 5.0) AS p,
        |    (CAST(coalesce(cc.ccur, 0) AS DOUBLE) + 0.5)
        |      / (CAST(nc AS DOUBLE) + 5.0) AS q,
        |    nr, nc
        |  FROM g LEFT JOIN rc ON g.bin = rc.bin
        |  LEFT JOIN cc ON g.bin = cc.bin CROSS JOIN t)
        |SELECT CAST(sum(CAST(floor((p - q) * ln(p / q) * 1073741824.0 + 0.5)
        |    AS HUGEINT)) AS DOUBLE) / 1073741824.0 AS psi,
        |  CAST(max(nr) AS BIGINT) AS n_ref, CAST(max(nc) AS BIGINT) AS n_cur
        |FROM pq""".stripMargin
    },

    // chi-square replay: full-joined category counts, pooled-share
    // expectations, floor-grid term sum, dof = k-1
    "x_chi2" ->
      """WITH a AS (SELECT lang AS k, count(*) AS o1 FROM documents
        |  WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1),
        |b AS (SELECT lang AS k, count(*) AS o2 FROM documents
        |  WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1),
        |j AS (SELECT coalesce(a.k, b.k) AS k, coalesce(o1, 0) AS o1,
        |    coalesce(o2, 0) AS o2
        |  FROM a FULL JOIN b ON a.k = b.k),
        |t AS (SELECT sum(o1) AS n1, sum(o2) AS n2 FROM j),
        |d AS (SELECT
        |    CAST(o1 AS DOUBLE) AS o1d, CAST(o2 AS DOUBLE) AS o2d,
        |    CAST(n1 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
        |      / CAST(n1 + n2 AS DOUBLE) AS e1,
        |    CAST(n2 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
        |      / CAST(n1 + n2 AS DOUBLE) AS e2,
        |    n1, n2
        |  FROM j CROSS JOIN t)
        |SELECT CAST(sum(CAST(floor(((o1d - e1) * (o1d - e1) / e1
        |      + (o2d - e2) * (o2d - e2) / e2) * 16777216.0 + 0.5)
        |    AS HUGEINT)) AS DOUBLE) / 16777216.0 AS chi2,
        |  CAST(count(*) - 1 AS BIGINT) AS dof,
        |  CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2
        |FROM d""".stripMargin,

    // RAG replay: the x_chunking chain (ids doc_id*1000+ci), the BM25
    // chain over chunk text, rank cut, running-token prefix cut,
    // digest over (cum, text)-sorted contexts
    "x_rag" -> {
      val chunkToks = toksSql.replace("lower(text)", "lower(chunk_text)")
      s"""WITH t0 AS (SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN []
        |      ELSE string_split_regex(trim(text), '\\s+') END AS toks
        |  FROM documents),
        |n0 AS (SELECT doc_id, toks, len(toks) AS nt FROM t0),
        |g0 AS (SELECT doc_id, toks, nt,
        |    greatest(CAST(ceil((nt - 8) / 24.0) AS INT), 1) AS nchunks FROM n0),
        |ch AS (SELECT doc_id * 1000 + ci AS chunk_id,
        |    array_to_string(toks[CAST(ci*24+1 AS INT):CAST(ci*24+32 AS INT)], ' ') AS chunk_text,
        |    CAST(len(toks[CAST(ci*24+1 AS INT):CAST(ci*24+32 AS INT)]) AS BIGINT) AS chunk_tokens
        |  FROM (SELECT doc_id, nt, toks, unnest(range(0, nchunks)) AS ci FROM g0)),
        |toks AS (SELECT chunk_id, $chunkToks AS w FROM ch),
        |tf AS (SELECT chunk_id, len(w) AS dl, t AS term, count(*) AS tf
        |  FROM (SELECT chunk_id, w, unnest(w) AS t FROM toks) GROUP BY 1, 2, 3),
        |stats AS (SELECT count(*) AS nd, sum(len(w)) AS tl FROM toks),
        |q(q_id, qtext) AS (VALUES ('q1', 'spark window agg'),
        |  ('q2', 'customer join order'), ('q3', 'vector scan stream')),
        |qt AS (SELECT DISTINCT q_id,
        |    unnest(list_filter(string_split_regex(trim(regexp_replace(lower(qtext),
        |      '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS term FROM q),
        |dfreq AS (SELECT term, count(*) AS dfc FROM tf
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1),
        |scored AS (SELECT qt.q_id, tf.chunk_id,
        |    round(CAST(sum(CAST(
        |      ln(1.0 + (CAST(nd AS DOUBLE) - dfc + 0.5) / (dfc + 0.5))
        |        * (tf.tf * (1.2 + 1.0))
        |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE)
        |            / (CAST(tl AS DOUBLE) / CAST(nd AS DOUBLE))))
        |      AS DECIMAL(38,18))) AS DOUBLE), 6) AS bm25
        |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT q_id, chunk_id, bm25 FROM (SELECT q_id, chunk_id, bm25,
        |    row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, chunk_id) AS rn
        |  FROM scored) WHERE rn <= 10),
        |cm AS (SELECT r.q_id, r.chunk_id, ch.chunk_text, ch.chunk_tokens,
        |    sum(ch.chunk_tokens) OVER (PARTITION BY r.q_id
        |      ORDER BY r.bm25 DESC, r.chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM r JOIN ch USING (chunk_id)),
        |kept AS (SELECT * FROM cm WHERE cum <= 120)
        |SELECT q_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(list(chunk_text ORDER BY cum, chunk_text),
        |    chr(10) || chr(10))) AS context_digest
        |FROM kept GROUP BY q_id ORDER BY q_id""".stripMargin
    },

    // contracts replay: plain exact counts per check, same names
    "x_checks" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM lineitem),
        |rows AS (
        |  SELECT 'not_null(l_orderkey,l_partkey)' AS check,
        |    CAST(sum(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_discount,0.0,0.1)',
        |    CAST(sum(CASE WHEN l_discount IS NOT NULL
        |      AND (l_discount < 0.0 OR l_discount > 0.1)
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_quantity,1.0,50.0)',
        |    CAST(sum(CASE WHEN l_quantity IS NOT NULL
        |      AND (l_quantity < 1.0 OR l_quantity > 50.0)
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'charges_order',
        |    CAST(sum(CASE WHEN coalesce(l_extendedprice >= l_discount, false)
        |      THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'is_in(l_returnflag)',
        |    CAST(sum(CASE WHEN l_returnflag IS NULL
        |      OR l_returnflag NOT IN ('A', 'N', 'R')
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'unique(l_orderkey,l_linenumber)',
        |    CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (
        |      SELECT count(*) AS c FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber)
        |  UNION ALL
        |  SELECT 'referential(l_orderkey->o_orderkey)',
        |    CAST(count(*) AS BIGINT) FROM lineitem l
        |    WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
        |      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |SELECT rows.check, violations, nr AS n_rows,
        |  violations = 0 AS pass
        |FROM rows CROSS JOIN n ORDER BY rows.check""".stripMargin,

    // KS replay: per-value counts, ordered window cumsums (sequential
    // — identical to the scan order), same division chain, sup by
    // (d DESC, v) LIMIT 1
    "x_ks" ->
      """WITH u AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, 1.0 AS s1, 0.0 AS s2
        |  FROM lineitem WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, 0.0 AS s1, 1.0 AS s2
        |  FROM lineitem WHERE l_orderkey % 2 = 1),
        |c AS (SELECT v, sum(s1) AS c1, sum(s2) AS c2 FROM u GROUP BY v),
        |f AS (SELECT v,
        |    sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS f1,
        |    sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS f2
        |  FROM c),
        |t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c),
        |d AS (SELECT v, abs(f1 / n1 - f2 / n2) AS dd, n1, n2
        |  FROM f CROSS JOIN t)
        |SELECT dd AS ks, v AS at_value,
        |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
        |FROM d ORDER BY dd DESC, v LIMIT 1""".stripMargin,

    // W1 replay: same value-collapse, CDF windows, lag for gaps, and
    // the 2^40 grid with the string-bridged decimal->double total
    "x_wasserstein" ->
      """WITH u AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, 1.0 AS s1, 0.0 AS s2
        |  FROM lineitem WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, 0.0 AS s1, 1.0 AS s2
        |  FROM lineitem WHERE l_orderkey % 2 = 1),
        |c AS (SELECT v, sum(s1) AS c1, sum(s2) AS c2 FROM u GROUP BY v),
        |f AS (SELECT v,
        |    sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS f1,
        |    sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS f2
        |  FROM c),
        |t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c),
        |d AS (SELECT v, abs(f1 / n1 - f2 / n2) AS dd FROM f CROSS JOIN t),
        |l AS (SELECT v, lag(v) OVER (ORDER BY v) AS vp,
        |    lag(dd) OVER (ORDER BY v) AS dp FROM d),
        |g AS (SELECT CAST(floor(coalesce(dp * (v - vp), 0.0)
        |    * 1099511627776.0 + 0.5) AS DECIMAL(38,0)) AS tt FROM l)
        |SELECT CAST(CAST(sum(tt) AS VARCHAR) AS DOUBLE) / 1099511627776.0 AS w1,
        |  (SELECT CAST(n1 AS BIGINT) FROM t) AS n1,
        |  (SELECT CAST(n2 AS BIGINT) FROM t) AS n2
        |FROM g""".stripMargin,

    // ANOVA replay: per-lang exact-decimal moments, grid group sums,
    // the identical closing chain
    "x_anova" -> {
      val ds = graft.functions.Exact.dsumSql("y")
      val dq = graft.functions.Exact.dprodSumSql("y", "y")
      s"""WITH d AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS y
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |cells AS (SELECT g, CAST(count(*) AS BIGINT) AS cn,
        |    $ds AS s, $dq AS q
        |  FROM d GROUP BY g),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(cn) AS BIGINT) AS n,
        |    ${graft.functions.Exact.dsumSql("s * s / CAST(cn AS DOUBLE)")} AS sb,
        |    ${graft.functions.Exact.dsumSql(
             "q - s * s / CAST(cn AS DOUBLE)")} AS ssw,
        |    ${graft.functions.Exact.dsumSql("s")} AS bigs
        |  FROM cells),
        |f AS (SELECT k, n, sb - bigs * bigs / CAST(n AS DOUBLE) AS ssb, ssw
        |  FROM agg)
        |SELECT k, n, ssb, ssw,
        |  CASE WHEN k > 1 AND n > k AND ssw > 0.0
        |    THEN (ssb / (CAST(k AS DOUBLE) - 1.0))
        |      / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) END AS f
        |FROM f""".stripMargin
    },

    // KW replay: avg ranks (the withRankAvg identity), decimal group
    // rank sums, grid R^2/n sum, decimal tie cubes, same chain
    "x_kruskal" -> {
      val dr = graft.functions.Exact.dsumSql("r")
      s"""WITH d AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |rk AS (SELECT g, CAST(rank() OVER (ORDER BY v) AS DOUBLE)
        |    + (CAST(count(*) OVER (PARTITION BY v) AS DOUBLE) - 1.0) / 2.0 AS r,
        |    v
        |  FROM d),
        |grp AS (SELECT g, CAST(count(*) AS BIGINT) AS cn, $dr AS R
        |  FROM rk GROUP BY g),
        |ga AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(cn) AS BIGINT) AS n,
        |    ${graft.functions.Exact.dsumSql("R * R / CAST(cn AS DOUBLE)")} AS rr
        |  FROM grp),
        |tie AS (SELECT CAST(CAST(sum(CAST(t AS DECIMAL(38,0))
        |      * CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
        |      - CAST(t AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS tsum
        |  FROM (SELECT count(*) AS t FROM d GROUP BY v)),
        |hh AS (SELECT k, n,
        |    12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * rr
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h0,
        |    1.0 - tsum / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS c
        |  FROM ga CROSS JOIN tie)
        |SELECT k, n,
        |  CASE WHEN k > 1 AND c > 0.0 THEN h0 / c END AS h
        |FROM hh""".stripMargin
    },

    // entropy-rate replay: the x_markov_pi CTE chain (matrix + 3 grid
    // iterations), pi-weighted p·ln p cell terms on the grid
    "x_markov_entropy" -> {
      def ds(x: String) =
        "CAST(CAST(sum(CAST(floor((" + x + ") * 1099511627776.0 + 0.5) " +
          "AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1099511627776.0"
      def iter(prev: String, out: String) =
        s"""i$out AS (SELECT e.d AS state, ${ds(s"$prev.pi * e.p")} AS infl
           |  FROM e JOIN $prev ON $prev.state = e.s GROUP BY e.d),
           |g$out AS (SELECT coalesce(${ds("pi")}, 0.0) AS dang
           |  FROM $prev WHERE state NOT IN (SELECT s FROM e)),
           |$out AS (SELECT n.state,
           |    coalesce(i$out.infl, 0.0) + g$out.dang / nn.N AS pi
           |  FROM n LEFT JOIN i$out ON n.state = i$out.state
           |  CROSS JOIN g$out CROSS JOIN nn)""".stripMargin
      s"""WITH sq AS (SELECT event_type AS t,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS f
        |  FROM events),
        |pr AS (SELECT f, t, count(*) AS n
        |  FROM sq WHERE f IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT f, sum(n) AS rtot FROM pr GROUP BY 1),
        |e AS (SELECT pr.f AS s, pr.t AS d,
        |    CAST(n AS DOUBLE) / CAST(rtot AS DOUBLE) AS p
        |  FROM pr JOIN rt USING (f)),
        |n AS (SELECT DISTINCT state FROM
        |  (SELECT s AS state FROM e UNION ALL SELECT d FROM e)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM n),
        |r0 AS (SELECT state, CAST(1 AS DOUBLE) / nn.N AS pi
        |  FROM n CROSS JOIN nn),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")},
        |${iter("r2", "r3")}
        |SELECT CAST(count(DISTINCT e.s) AS BIGINT) AS n_states,
        |  -(${ds("r3.pi * e.p * ln(e.p)")}) AS entropy_rate
        |FROM e JOIN r3 ON r3.state = e.s""".stripMargin
    },

    // ESS replay: exact-decimal sum and sum-of-squares, two divisions
    "x_ess" -> {
      val ds = graft.functions.Exact.dsumSql("y")
      val dq = graft.functions.Exact.dprodSumSql("y", "y")
      s"""WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS y FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, $ds AS sum_w, $dq AS q
        |  FROM d)
        |SELECT n, sum_w,
        |  CASE WHEN q > 0.0 THEN sum_w * sum_w / q END AS ess,
        |  CASE WHEN q > 0.0 AND sum_w * sum_w / q > 0.0
        |    THEN CAST(n AS DOUBLE) / (sum_w * sum_w / q) END AS design_effect
        |FROM a""".stripMargin
    },

    // CMH replay: per-stratum cells, grid-summed numerator/variance
    // in the same operation order, one closing sqrt
    "x_cmh" ->
      """WITH a AS (SELECT lang AS g, count(*) AS n1,
        |    sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS k1
        |  FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL
        |  GROUP BY 1),
        |b AS (SELECT lang AS g, count(*) AS n2,
        |    sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS k2
        |  FROM documents WHERE doc_id % 2 = 1 AND lang IS NOT NULL
        |  GROUP BY 1),
        |j AS (SELECT coalesce(a.g, b.g) AS g,
        |    coalesce(n1, 0) AS n1, coalesce(k1, 0) AS k1,
        |    coalesce(n2, 0) AS n2, coalesce(k2, 0) AS k2
        |  FROM a FULL JOIN b ON a.g = b.g),
        |f AS (SELECT *, n1 + n2 AS N, k1 + k2 AS m FROM j
        |  WHERE n1 + n2 > 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(n1) AS BIGINT) AS n1, CAST(sum(n2) AS BIGINT) AS n2,
        |    CAST(CAST(sum(CAST(floor((CAST(k1 AS DOUBLE)
        |      - CAST(n1 AS DOUBLE) * CAST(m AS DOUBLE) / CAST(N AS DOUBLE))
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
        |      / 1099511627776.0 AS cmh_num,
        |    CAST(CAST(sum(CAST(floor(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        * CAST(m AS DOUBLE) * (CAST(N AS DOUBLE) - CAST(m AS DOUBLE))
        |        / (CAST(N AS DOUBLE) * CAST(N AS DOUBLE)
        |          * (CAST(N AS DOUBLE) - 1.0))
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
        |      / 1099511627776.0 AS cmh_var
        |  FROM f)
        |SELECT n_strata, n1, n2, cmh_num, cmh_var,
        |  CASE WHEN cmh_var > 0.0 THEN cmh_num / sqrt(cmh_var) END AS z
        |FROM agg""".stripMargin,

    // two-proportion replay: exact counts, pooled SE, one sqrt
    "x_two_prop" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS k1
        |  FROM documents WHERE doc_id % 2 = 0),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS k2
        |  FROM documents WHERE doc_id % 2 = 1),
        |j AS (SELECT n1, k1, n2, k2,
        |    CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
        |    CAST(k1 + k2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS pooled
        |  FROM a CROSS JOIN b)
        |SELECT n1, k1, p1, n2, k2, p2, pooled,
        |  CASE WHEN pooled > 0.0 AND pooled < 1.0
        |    THEN (p1 - p2) / sqrt(pooled * (1.0 - pooled)
        |      * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
        |    END AS z
        |FROM j""".stripMargin,

    // CvM replay: same CDF chain, squared gaps x pooled multiplicity
    // on the grid, the n1n2/N^2 factor in the same operation order
    "x_cvm" ->
      """WITH u AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, 1.0 AS s1, 0.0 AS s2
        |  FROM lineitem WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, 0.0 AS s1, 1.0 AS s2
        |  FROM lineitem WHERE l_orderkey % 2 = 1),
        |c AS (SELECT v, sum(s1) AS c1, sum(s2) AS c2 FROM u GROUP BY v),
        |f AS (SELECT v, c1, c2,
        |    sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS f1,
        |    sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS f2
        |  FROM c),
        |t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM c),
        |g AS (SELECT CAST(floor(
        |    (f1 / n1 - f2 / n2) * (f1 / n1 - f2 / n2) * (c1 + c2)
        |    * 1099511627776.0 + 0.5) AS DECIMAL(38,0)) AS tt, n1, n2
        |  FROM f CROSS JOIN t)
        |SELECT (CAST(CAST(sum(tt) AS VARCHAR) AS DOUBLE) / 1099511627776.0)
        |    * (max(n1) * max(n2) / ((max(n1) + max(n2)) * (max(n1) + max(n2))))
        |    AS cvm,
        |  CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2
        |FROM g""".stripMargin,

    // association replay: one contingency CTE, marginal re-aggs, the
    // zero-cell-free chi2 identity, 2^40-grid cell sums
    "x_assoc" ->
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |ma AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
        |mb AS (SELECT b, sum(o) AS cb FROM cells GROUP BY b),
        |t AS (SELECT sum(o) AS n, count(DISTINCT a) AS ka,
        |    count(DISTINCT b) AS kb FROM cells),
        |core AS (SELECT
        |    CAST(CAST(sum(CAST(floor(CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
        |      / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
        |      / 1099511627776.0 AS s,
        |    CAST(CAST(sum(CAST(floor((CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
        |        / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
        |      / 1099511627776.0 AS mi,
        |    CAST(max(n) AS BIGINT) AS n, max(ka) AS k_a, max(kb) AS k_b
        |  FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t),
        |ha AS (SELECT
        |    CAST(CAST(sum(CAST(floor(-(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
        |      / 1099511627776.0 AS h_a
        |  FROM ma CROSS JOIN t),
        |hb AS (SELECT
        |    CAST(CAST(sum(CAST(floor(-(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1099511627776.0 + 0.5) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
        |      / 1099511627776.0 AS h_b
        |  FROM mb CROSS JOIN t)
        |SELECT n, k_a, k_b,
        |  CAST(n AS DOUBLE) * (s - 1.0) AS chi2,
        |  CASE WHEN least(k_a, k_b) > 1
        |    THEN sqrt(greatest(CAST(n AS DOUBLE) * (s - 1.0), 0.0)
        |      / (CAST(n AS DOUBLE) * CAST(least(k_a, k_b) - 1 AS DOUBLE)))
        |    END AS cramers_v,
        |  mi, h_a, h_b,
        |  CASE WHEN h_a > 0.0 THEN mi / h_a END AS u_a_given_b,
        |  CASE WHEN h_b > 0.0 THEN mi / h_b END AS u_b_given_a
        |FROM core CROSS JOIN ha CROSS JOIN hb""".stripMargin,

    // KM replay: user lifetimes, censor mark, reverse-cumulative
    // at-risk, grid-summed ln terms, the dead-all zero tail
    "x_km" ->
      """WITH lt AS (SELECT user_id, min(ts) AS f, max(ts) AS l
        |  FROM events GROUP BY 1),
        |ee AS (SELECT max(ts) AS endts FROM events),
        |m AS (SELECT epoch_ms(l) - epoch_ms(f) AS t,
        |    l < endts - INTERVAL 1 HOUR AS died
        |  FROM lt CROSS JOIN ee),
        |g AS (SELECT t, sum(CASE WHEN died THEN 1 ELSE 0 END) AS deaths,
        |    sum(CASE WHEN died THEN 0 ELSE 1 END) AS censored
        |  FROM m GROUP BY 1),
        |r AS (SELECT t, deaths, censored,
        |    sum(deaths + censored) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM g),
        |s AS (SELECT t, n_risk, deaths, censored,
        |    CASE WHEN deaths > 0 AND deaths < n_risk
        |      THEN ln(1.0 - CAST(deaths AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END AS term,
        |    CASE WHEN deaths = n_risk THEN t END AS da
        |  FROM r),
        |cc AS (SELECT t, n_risk, deaths, censored,
        |    sum(CAST(floor(term * 1099511627776.0 + 0.5) AS DECIMAL(38,0)))
        |      OVER (ORDER BY t ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
        |    max(da) OVER (ORDER BY t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dall
        |  FROM s)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(deaths AS BIGINT) AS deaths,
        |  CAST(censored AS BIGINT) AS censored,
        |  CASE WHEN dall IS NOT NULL THEN 0.0
        |    ELSE round(exp(CAST(CAST(ls AS VARCHAR) AS DOUBLE)
        |      / 1099511627776.0), 10)
        |    END AS survival
        |FROM cc ORDER BY t""".stripMargin,

    // Nelson-Aalen replay: the km at-risk window with d/n hazard
    // terms on the identical 2^40 grid
    "x_nelson" ->
      """WITH lt AS (SELECT user_id, min(ts) AS f, max(ts) AS l
        |  FROM events GROUP BY 1),
        |ee AS (SELECT max(ts) AS endts FROM events),
        |m AS (SELECT epoch_ms(l) - epoch_ms(f) AS t,
        |    l < endts - INTERVAL 1 HOUR AS died
        |  FROM lt CROSS JOIN ee),
        |g AS (SELECT t, sum(CASE WHEN died THEN 1 ELSE 0 END) AS deaths,
        |    sum(CASE WHEN died THEN 0 ELSE 1 END) AS censored
        |  FROM m GROUP BY 1),
        |r AS (SELECT t, deaths, censored,
        |    sum(deaths + censored) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM g),
        |s AS (SELECT t, n_risk, deaths, censored,
        |    CASE WHEN deaths > 0
        |      THEN CAST(deaths AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |      ELSE 0.0 END AS term
        |  FROM r),
        |cc AS (SELECT t, n_risk, deaths, censored,
        |    sum(CAST(floor(term * 1099511627776.0 + 0.5) AS DECIMAL(38,0)))
        |      OVER (ORDER BY t ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hs
        |  FROM s)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(deaths AS BIGINT) AS deaths,
        |  CAST(censored AS BIGINT) AS censored,
        |  round(CAST(CAST(hs AS VARCHAR) AS DOUBLE) / 1099511627776.0, 10)
        |    AS cum_hazard
        |FROM cc ORDER BY t""".stripMargin,

    // RMST replay: the km chain, lead segments clipped at tau,
    // day-scale areas on the identical grid
    "x_rmst" ->
      """WITH lt AS (SELECT user_id, min(ts) AS f, max(ts) AS l
        |  FROM events GROUP BY 1),
        |ee AS (SELECT max(ts) AS endts FROM events),
        |m AS (SELECT epoch_ms(l) - epoch_ms(f) AS t,
        |    l < endts - INTERVAL 1 HOUR AS died
        |  FROM lt CROSS JOIN ee),
        |g AS (SELECT t, sum(CASE WHEN died THEN 1 ELSE 0 END) AS deaths,
        |    sum(CASE WHEN died THEN 0 ELSE 1 END) AS censored
        |  FROM m GROUP BY 1),
        |r AS (SELECT t, deaths, censored,
        |    sum(deaths + censored) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
        |  FROM g),
        |s AS (SELECT t, n_risk, deaths, censored,
        |    CASE WHEN deaths > 0 AND deaths < n_risk
        |      THEN ln(1.0 - CAST(deaths AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END AS term,
        |    CASE WHEN deaths = n_risk THEN t END AS da
        |  FROM r),
        |cc AS (SELECT t, n_risk,
        |    sum(CAST(floor(term * 1099511627776.0 + 0.5) AS DECIMAL(38,0)))
        |      OVER (ORDER BY t ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
        |    max(da) OVER (ORDER BY t ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dall
        |  FROM s),
        |km AS (SELECT t, n_risk,
        |    CASE WHEN dall IS NOT NULL THEN 0.0
        |      ELSE round(exp(CAST(CAST(ls AS VARCHAR) AS DOUBLE)
        |        / 1099511627776.0), 10) END AS survival
        |  FROM cc),
        |seg AS (SELECT n_risk, survival,
        |    least(t, 172800000) AS lo,
        |    least(COALESCE(lead(t, 1) OVER (ORDER BY t ASC),
        |      9223372036854775807), 172800000) AS hi
        |  FROM km),
        |ar AS (SELECT CAST(sum(CAST(floor(
        |      survival * (CAST(hi - lo AS DOUBLE) / 86400000.0)
        |        * 1099511627776.0 + 0.5) AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS asum
        |  FROM seg WHERE hi > lo),
        |hd AS (SELECT min(t) AS tmin, CAST(max(n_risk) AS BIGINT) AS n_users
        |  FROM km)
        |SELECT CAST(172800000 AS BIGINT) AS tau, hd.n_users,
        |  round(CAST(least(hd.tmin, 172800000) AS DOUBLE) / 86400000.0
        |    + CAST(CAST(ar.asum AS VARCHAR) AS DOUBLE) / 1099511627776.0, 6)
        |    AS rmst_days
        |FROM ar CROSS JOIN hd""".stripMargin,

    // log-rank replay: cohort at-risk windows, the identical E/V IEEE
    // chains on the 2^40 grid, one closing z
    "x_logrank" -> {
      val dd = "CAST(d1 + d0 AS DOUBLE)"
      val n1d = "CAST(n1 AS DOUBLE)"
      val nd = "CAST(n1 + n0 AS DOUBLE)"
      val e1 = s"$dd * $n1d / $nd"
      val v = s"$dd * $n1d / $nd * (1.0 - $n1d / $nd) * ($nd - $dd) / ($nd - 1.0)"
      s"""WITH lt AS (SELECT user_id, min(ts) AS f, max(ts) AS l,
        |    (user_id % 2 = 0) AS a
        |  FROM events GROUP BY user_id),
        |ee AS (SELECT max(ts) AS endts FROM events),
        |m AS (SELECT epoch_ms(l) - epoch_ms(f) AS t,
        |    l < endts - INTERVAL 1 HOUR AS died, a
        |  FROM lt CROSS JOIN ee),
        |g AS (SELECT t,
        |    sum(CASE WHEN a AND died THEN 1 ELSE 0 END) AS d1,
        |    sum(CASE WHEN a AND NOT died THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN NOT a AND died THEN 1 ELSE 0 END) AS d0,
        |    sum(CASE WHEN NOT a AND NOT died THEN 1 ELSE 0 END) AS c0
        |  FROM m GROUP BY 1),
        |r AS (SELECT t, d1, c1, d0, c0,
        |    sum(d1 + c1) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
        |    sum(d0 + c0) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n0
        |  FROM g),
        |s AS (SELECT d1, c1, d0, c0,
        |    CASE WHEN d1 + d0 > 0 AND n1 + n0 > 1
        |      THEN CAST(floor($e1 * 1099511627776.0 + 0.5) AS BIGINT)
        |      ELSE 0 END AS eg,
        |    CASE WHEN d1 + d0 > 0 AND n1 + n0 > 1
        |      THEN CAST(floor($v * 1099511627776.0 + 0.5) AS BIGINT)
        |      ELSE 0 END AS vg
        |  FROM r),
        |a2 AS (SELECT CAST(sum(d1 + c1) AS BIGINT) AS n_a,
        |    CAST(sum(d0 + c0) AS BIGINT) AS n_b,
        |    CAST(sum(d1) AS BIGINT) AS o1,
        |    CAST(sum(CAST(eg AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS se,
        |    CAST(sum(CAST(vg AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sv
        |  FROM s)
        |SELECT n_a, n_b, o1,
        |  CAST(CAST(se AS VARCHAR) AS DOUBLE) / 1099511627776.0 AS e1,
        |  CAST(CAST(sv AS VARCHAR) AS DOUBLE) / 1099511627776.0 AS var1,
        |  CASE WHEN CAST(CAST(sv AS VARCHAR) AS DOUBLE) / 1099511627776.0 > 0.0
        |    THEN (CAST(o1 AS DOUBLE)
        |        - CAST(CAST(se AS VARCHAR) AS DOUBLE) / 1099511627776.0)
        |      / sqrt(CAST(CAST(sv AS VARCHAR) AS DOUBLE) / 1099511627776.0)
        |    END AS z,
        |  (CASE WHEN CAST(CAST(sv AS VARCHAR) AS DOUBLE) / 1099511627776.0 > 0.0
        |    THEN (CAST(o1 AS DOUBLE)
        |        - CAST(CAST(se AS VARCHAR) AS DOUBLE) / 1099511627776.0)
        |      / sqrt(CAST(CAST(sv AS VARCHAR) AS DOUBLE) / 1099511627776.0)
        |    END) * (CASE WHEN CAST(CAST(sv AS VARCHAR) AS DOUBLE)
        |      / 1099511627776.0 > 0.0
        |    THEN (CAST(o1 AS DOUBLE)
        |        - CAST(CAST(se AS VARCHAR) AS DOUBLE) / 1099511627776.0)
        |      / sqrt(CAST(CAST(sv AS VARCHAR) AS DOUBLE) / 1099511627776.0)
        |    END) AS chi2
        |FROM a2""".stripMargin
    },

    // DiD replay: the same epoch-ms cut, four decimal-exact cells,
    // the identical mean/variance/sqrt chain
    "x_did" -> {
      def cell(cond: String, tag: String) =
        s"""CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n$tag,
           |    ${graft.functions.Exact.dsumSql(s"CASE WHEN $cond THEN y END")} AS s$tag,
           |    ${graft.functions.Exact.dprodSumSql(
                 s"CASE WHEN $cond THEN y END", s"CASE WHEN $cond THEN y END")} AS q$tag""".stripMargin
      def mean(tag: String) = s"(s$tag / CAST(n$tag AS DOUBLE))"
      def vm(tag: String) =
        s"""(CASE WHEN n$tag > 1 THEN ((q$tag - s$tag * s$tag
           | / CAST(n$tag AS DOUBLE)) / (CAST(n$tag AS DOUBLE) - 1.0))
           | / CAST(n$tag AS DOUBLE) END)""".stripMargin.replace("\n", "")
      s"""WITH c AS (SELECT epoch_ms(min(ts))
        |    + (epoch_ms(max(ts)) - epoch_ms(min(ts))) // 2 AS cut
        |  FROM events),
        |d AS (SELECT (user_id % 2 = 0) AS g, epoch_ms(ts) >= cut AS p,
        |    CAST(value AS DOUBLE) AS y
        |  FROM events CROSS JOIN c),
        |a AS (SELECT
        |    ${cell("g AND NOT p", "tp")},
        |    ${cell("g AND p", "tq")},
        |    ${cell("NOT g AND NOT p", "cp")},
        |    ${cell("NOT g AND p", "cq")}
        |  FROM d)
        |SELECT ntp + ntq + ncp + ncq AS n,
        |  ${mean("tp")} AS y_t_pre, ${mean("tq")} AS y_t_post,
        |  ${mean("cp")} AS y_c_pre, ${mean("cq")} AS y_c_post,
        |  (${mean("tq")} - ${mean("tp")}) - (${mean("cq")} - ${mean("cp")})
        |    AS did,
        |  sqrt(${vm("tp")} + ${vm("tq")} + ${vm("cp")} + ${vm("cq")}) AS se,
        |  CASE WHEN sqrt(${vm("tp")} + ${vm("tq")} + ${vm("cp")}
        |      + ${vm("cq")}) > 0.0
        |    THEN ((${mean("tq")} - ${mean("tp")}) - (${mean("cq")}
        |      - ${mean("cp")})) / sqrt(${vm("tp")} + ${vm("tq")}
        |      + ${vm("cp")} + ${vm("cq")})
        |    END AS t_stat
        |FROM a""".stripMargin
    },

    // CUPED replay: unit-grain integer counts, pooled + per-arm exact
    // sums, the same theta/lift/rho2 double algebra, round-6 publish
    "x_cuped" ->
      """WITH c AS (SELECT epoch_ms(min(ts))
        |    + (epoch_ms(max(ts)) - epoch_ms(min(ts))) // 2 AS cut
        |  FROM events),
        |u AS (SELECT user_id, (user_id % 2 = 0) AS g,
        |    sum(CASE WHEN epoch_ms(ts) < cut THEN 1 ELSE 0 END) AS x,
        |    sum(CASE WHEN epoch_ms(ts) >= cut THEN 1 ELSE 0 END) AS y
        |  FROM events CROSS JOIN c GROUP BY 1, 2),
        |a AS (SELECT count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy,
        |    sum(CASE WHEN g THEN 1 ELSE 0 END) AS nt,
        |    sum(CASE WHEN g THEN x ELSE 0 END) AS sxt,
        |    sum(CASE WHEN g THEN y ELSE 0 END) AS syt,
        |    sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS nc,
        |    sum(CASE WHEN NOT g THEN x ELSE 0 END) AS sxc,
        |    sum(CASE WHEN NOT g THEN y ELSE 0 END) AS syc
        |  FROM u),
        |b AS (SELECT CAST(n AS BIGINT) AS n_units,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS covxy,
        |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS varx,
        |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS vary,
        |    CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
        |      - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE) AS lraw,
        |    CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
        |      - CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE) AS xdiff
        |  FROM a)
        |SELECT n_units,
        |  round(CASE WHEN varx > 0.0 THEN covxy / varx ELSE 0.0 END, 6) AS theta,
        |  round(lraw, 6) AS lift_raw,
        |  round(lraw - (CASE WHEN varx > 0.0 THEN covxy / varx ELSE 0.0 END)
        |    * xdiff, 6) AS lift_cuped,
        |  round(CASE WHEN varx > 0.0 AND vary > 0.0
        |    THEN covxy * covxy / (varx * vary) ELSE 0.0 END, 6) AS rho2
        |FROM b""".stripMargin,

    // delta-method replay: unit-grain integer sums, per-arm moment
    // algebra in the identical operation order, round-6 publish
    "x_ratio_delta" ->
      """WITH u AS (SELECT user_id, (user_id % 2 = 0) AS g,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT
        |    sum(CASE WHEN g THEN 1 ELSE 0 END) AS nt,
        |    sum(CASE WHEN g THEN x ELSE 0 END) AS sxt,
        |    sum(CASE WHEN g THEN y ELSE 0 END) AS syt,
        |    sum(CASE WHEN g THEN x * x ELSE 0 END) AS sxxt,
        |    sum(CASE WHEN g THEN y * y ELSE 0 END) AS syyt,
        |    sum(CASE WHEN g THEN x * y ELSE 0 END) AS sxyt,
        |    sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS nc,
        |    sum(CASE WHEN NOT g THEN x ELSE 0 END) AS sxc,
        |    sum(CASE WHEN NOT g THEN y ELSE 0 END) AS syc,
        |    sum(CASE WHEN NOT g THEN x * x ELSE 0 END) AS sxxc,
        |    sum(CASE WHEN NOT g THEN y * y ELSE 0 END) AS syyc,
        |    sum(CASE WHEN NOT g THEN x * y ELSE 0 END) AS sxyc
        |  FROM u),
        |b AS (SELECT CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
        |    CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE) AS xbt,
        |    CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE) AS ybt,
        |    CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE) AS xbc,
        |    CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE) AS ybc,
        |    CAST(nt AS DOUBLE) AS dnt, CAST(nc AS DOUBLE) AS dnc,
        |    CAST(sxt AS DOUBLE) AS dsxt, CAST(syt AS DOUBLE) AS dsyt,
        |    CAST(sxxt AS DOUBLE) AS dsxxt, CAST(syyt AS DOUBLE) AS dsyyt,
        |    CAST(sxyt AS DOUBLE) AS dsxyt,
        |    CAST(sxc AS DOUBLE) AS dsxc, CAST(syc AS DOUBLE) AS dsyc,
        |    CAST(sxxc AS DOUBLE) AS dsxxc, CAST(syyc AS DOUBLE) AS dsyyc,
        |    CAST(sxyc AS DOUBLE) AS dsxyc,
        |    (nt > 1 AND sxt > 0) AS okt, (nc > 1 AND sxc > 0) AS okc
        |  FROM a),
        |c AS (SELECT n_t, n_c,
        |    CASE WHEN okt THEN ybt / xbt END AS rt,
        |    CASE WHEN okc THEN ybc / xbc END AS rc,
        |    CASE WHEN okt THEN
        |      (((dsyyt - dsyt * ybt) / (dnt - 1.0))
        |        - 2.0 * (ybt / xbt) * ((dsxyt - dsxt * ybt) / (dnt - 1.0))
        |        + (ybt / xbt) * (ybt / xbt) * ((dsxxt - dsxt * xbt) / (dnt - 1.0)))
        |        / (dnt * xbt * xbt) END AS vt,
        |    CASE WHEN okc THEN
        |      (((dsyyc - dsyc * ybc) / (dnc - 1.0))
        |        - 2.0 * (ybc / xbc) * ((dsxyc - dsxc * ybc) / (dnc - 1.0))
        |        + (ybc / xbc) * (ybc / xbc) * ((dsxxc - dsxc * xbc) / (dnc - 1.0)))
        |        / (dnc * xbc * xbc) END AS vc
        |  FROM b)
        |SELECT n_t, n_c, round(rt, 6) AS ratio_t, round(rc, 6) AS ratio_c,
        |  round(rt - rc, 6) AS diff, round(sqrt(vt + vc), 6) AS se,
        |  round(CASE WHEN sqrt(vt + vc) > 0.0
        |    THEN (rt - rc) / sqrt(vt + vc) END, 6) AS z
        |FROM c""".stripMargin,

    // SPRT replay: hourly (key x bucket) level table, cumulative LLR
    // on the round-6 grid, first-crossing buckets, Wald verdict
    "x_sprt" -> sprtOracleSql,

    // the streamed level table is bit-identical to the batch one
    // (exact addition), so the standing verdict replays as x_sprt
    "s_sprt" -> sprtOracleSql,

    // Markov replay: per-user lag window, pair counts, row-total
    // divisions
    "x_markov" -> markovOracle,

    // the STREAMING monitor's contract: folding the log in three
    // event-time batches through the standing (pair counts + per-user
    // tail) state must land on the identical matrix — x_markov's
    // oracle VERBATIM
    "s_markov" -> markovOracle,

    // stationary replay: the same matrix CTEs, then 3 unrolled power
    // iterations on the 2^-40 dyadic grid (exactly-representable
    // iteration values — the 18-decimal cast rounds its 19th digit
    // differently across engines at this depth) with the uniform
    // dangling redistribution
    "x_markov_pi" -> {
      def ds(x: String) =
        "CAST(CAST(sum(CAST(floor((" + x + ") * 1099511627776.0 + 0.5) " +
          "AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1099511627776.0"
      def iter(prev: String, out: String) =
        s"""i$out AS (SELECT e.d AS state, ${ds(s"$prev.pi * e.p")} AS infl
           |  FROM e JOIN $prev ON $prev.state = e.s GROUP BY e.d),
           |g$out AS (SELECT coalesce(${ds("pi")}, 0.0) AS dang
           |  FROM $prev WHERE state NOT IN (SELECT s FROM e)),
           |$out AS (SELECT n.state,
           |    coalesce(i$out.infl, 0.0) + g$out.dang / nn.N AS pi
           |  FROM n LEFT JOIN i$out ON n.state = i$out.state
           |  CROSS JOIN g$out CROSS JOIN nn)""".stripMargin
      s"""WITH sq AS (SELECT event_type AS t,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS f
        |  FROM events),
        |pr AS (SELECT f, t, count(*) AS n
        |  FROM sq WHERE f IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT f, sum(n) AS rtot FROM pr GROUP BY 1),
        |e AS (SELECT pr.f AS s, pr.t AS d,
        |    CAST(n AS DOUBLE) / CAST(rtot AS DOUBLE) AS p
        |  FROM pr JOIN rt USING (f)),
        |n AS (SELECT DISTINCT state FROM
        |  (SELECT s AS state FROM e UNION ALL SELECT d FROM e)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM n),
        |r0 AS (SELECT state, CAST(1 AS DOUBLE) / nn.N AS pi
        |  FROM n CROSS JOIN nn),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")},
        |${iter("r2", "r3")}
        |SELECT state, pi FROM r3 ORDER BY state""".stripMargin
    },

    // anomaly replay: date_trunc hour windows, quantile_cont medians
    // (type-7 — the proven x_quantiles convention), same z chain
    "x_anomaly" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS wstart,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, quantile_cont(CAST(n AS DOUBLE), 0.5) AS med
        |  FROM c GROUP BY 1),
        |d AS (SELECT c.event_type, abs(CAST(c.n AS DOUBLE) - m.med) AS dev
        |  FROM c JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM d GROUP BY 1)
        |SELECT c.event_type, c.wstart, c.n, m.med, md.mad,
        |  CASE WHEN md.mad = 0.0 THEN NULL
        |    ELSE (CAST(c.n AS DOUBLE) - m.med) / (1.4826 * md.mad) END AS robust_z,
        |  coalesce(abs(CASE WHEN md.mad = 0.0 THEN NULL
        |    ELSE (CAST(c.n AS DOUBLE) - m.med) / (1.4826 * md.mad) END) > 3.5,
        |    false) AS is_anomaly
        |FROM c JOIN m USING (event_type) JOIN md USING (event_type)
        |ORDER BY event_type, wstart""".stripMargin,

    // CUSUM replay: the same gap-filled spine, running sum of (n-4),
    // prefix-min identity for the max(0, .) recursion, integer flag
    "x_cusum" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS wstart,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(wstart) AS mn, max(wstart) AS mx FROM c),
        |sp AS (SELECT t.event_type,
        |    unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS wstart
        |  FROM (SELECT DISTINCT event_type FROM c) t, b),
        |f AS (SELECT sp.event_type, sp.wstart, coalesce(c.n, 0) AS n
        |  FROM sp LEFT JOIN c USING (event_type, wstart)),
        |s AS (SELECT event_type, wstart, n,
        |    sum(n - 4) OVER (PARTITION BY event_type ORDER BY wstart) AS cum
        |  FROM f),
        |m AS (SELECT event_type, wstart, n, cum,
        |    least(0, min(cum) OVER (PARTITION BY event_type ORDER BY wstart)) AS mnc
        |  FROM s)
        |SELECT event_type, wstart, n, CAST(cum - mnc AS BIGINT) AS cusum,
        |  (cum - mnc) > 8 AS changed
        |FROM m ORDER BY event_type, wstart""".stripMargin,

    // the down test replays with y = k - n (k=2, h=6)
    "x_cusum_down" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS wstart,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(wstart) AS mn, max(wstart) AS mx FROM c),
        |sp AS (SELECT t.event_type,
        |    unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS wstart
        |  FROM (SELECT DISTINCT event_type FROM c) t, b),
        |f AS (SELECT sp.event_type, sp.wstart, coalesce(c.n, 0) AS n
        |  FROM sp LEFT JOIN c USING (event_type, wstart)),
        |s AS (SELECT event_type, wstart, n,
        |    sum(2 - n) OVER (PARTITION BY event_type ORDER BY wstart) AS cum
        |  FROM f),
        |m AS (SELECT event_type, wstart, n, cum,
        |    least(0, min(cum) OVER (PARTITION BY event_type ORDER BY wstart)) AS mnc
        |  FROM s)
        |SELECT event_type, wstart, n, CAST(cum - mnc AS BIGINT) AS cusum,
        |  (cum - mnc) > 6 AS changed
        |FROM m ORDER BY event_type, wstart""".stripMargin,

    // truncated-EWMA replay over the same gap-filled spine: the
    // 16-term dyadic chain is exact binary-double arithmetic on both
    // engines, so no fixed-point grid is needed anywhere
    "x_ewma" -> ewmaOracle,

    // the streaming fold's trace is row-identical → same oracle
    "s_ewma" -> ewmaOracle,

    // interval-overlap replay: the QUADRATIC per-user join the bucket
    // topology must reproduce pair-for-pair
    "x_interval_join" ->
      """WITH v AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS lo,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 600 AS hi
        |  FROM events WHERE event_type = 'view'),
        |e AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS lo,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 900 AS hi
        |  FROM events WHERE event_type = 'error')
        |SELECT v.user_id, CAST(count(*) AS BIGINT) AS pairs,
        |  CAST(sum(least(v.hi, e.hi) - greatest(v.lo, e.lo)) AS BIGINT)
        |    AS overlap_sec
        |FROM v JOIN e ON v.user_id = e.user_id
        |  AND v.lo <= e.hi AND e.lo <= v.hi
        |GROUP BY v.user_id
        |ORDER BY v.user_id""".stripMargin,

    // streaming down twin: row-identical trace, same replay
    "s_cusum_down" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS wstart,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(wstart) AS mn, max(wstart) AS mx FROM c),
        |sp AS (SELECT t.event_type,
        |    unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS wstart
        |  FROM (SELECT DISTINCT event_type FROM c) t, b),
        |f AS (SELECT sp.event_type, sp.wstart, coalesce(c.n, 0) AS n
        |  FROM sp LEFT JOIN c USING (event_type, wstart)),
        |s AS (SELECT event_type, wstart, n,
        |    sum(2 - n) OVER (PARTITION BY event_type ORDER BY wstart) AS cum
        |  FROM f),
        |m AS (SELECT event_type, wstart, n, cum,
        |    least(0, min(cum) OVER (PARTITION BY event_type ORDER BY wstart)) AS mnc
        |  FROM s)
        |SELECT event_type, wstart, n, CAST(cum - mnc AS BIGINT) AS cusum,
        |  (cum - mnc) > 6 AS changed
        |FROM m ORDER BY event_type, wstart""".stripMargin,

    // the streaming fold's emitted trace is row-identical to the
    // batch operator — x_cusum's replay verbatim
    "s_cusum" ->
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS wstart,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(wstart) AS mn, max(wstart) AS mx FROM c),
        |sp AS (SELECT t.event_type,
        |    unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS wstart
        |  FROM (SELECT DISTINCT event_type FROM c) t, b),
        |f AS (SELECT sp.event_type, sp.wstart, coalesce(c.n, 0) AS n
        |  FROM sp LEFT JOIN c USING (event_type, wstart)),
        |s AS (SELECT event_type, wstart, n,
        |    sum(n - 4) OVER (PARTITION BY event_type ORDER BY wstart) AS cum
        |  FROM f),
        |m AS (SELECT event_type, wstart, n, cum,
        |    least(0, min(cum) OVER (PARTITION BY event_type ORDER BY wstart)) AS mnc
        |  FROM s)
        |SELECT event_type, wstart, n, CAST(cum - mnc AS BIGINT) AS cusum,
        |  (cum - mnc) > 8 AS changed
        |FROM m ORDER BY event_type, wstart""".stripMargin,

    // MERGE replay: keys out, upsert payloads in
    "x_apply_changes" ->
      """WITH ck AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 10 = 0
        |  UNION SELECT doc_id + 1000000000 FROM documents WHERE doc_id % 17 = 0
        |  UNION SELECT doc_id FROM documents
        |    WHERE doc_id % 13 = 0 AND doc_id % 10 <> 0),
        |nw AS (
        |  SELECT doc_id, text FROM documents
        |    WHERE doc_id NOT IN (SELECT doc_id FROM ck)
        |  UNION ALL
        |  SELECT doc_id, text || ' v2' FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 17 = 0)
        |SELECT doc_id, md5(text) AS content FROM nw ORDER BY doc_id""".stripMargin,

    // PPR replay: the pagerank unroll with seed-conditional teleport
    // and seed-conditional dangling redistribution
    "x_ppr" -> {
      def ds(x: String) =
        s"CAST(CAST(sum(CAST($x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
      val b = s"CAST('${1.0 - 0.85}' AS DOUBLE)"
      val dd = "CAST('0.85' AS DOUBLE)"
      def iter(prev: String, out: String) =
        s"""i$out AS (SELECT e.d AS node, ${ds(s"$prev.rank / od.od")} AS infl
           |  FROM e JOIN od USING (s) JOIN $prev ON $prev.node = e.s GROUP BY e.d),
           |g$out AS (SELECT coalesce(${ds("rank")}, 0.0) AS dang
           |  FROM $prev WHERE node NOT IN (SELECT s FROM e)),
           |$out AS (SELECT n.node, n.isSeed,
           |    (CASE WHEN n.isSeed THEN $b / ns.S ELSE 0.0 END) +
           |      $dd * (coalesce(i$out.infl, 0.0) +
           |        CASE WHEN n.isSeed THEN g$out.dang / ns.S ELSE 0.0 END) AS rank
           |  FROM n LEFT JOIN i$out ON n.node = i$out.node
           |  CROSS JOIN g$out CROSS JOIN ns)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT doc_id % 50 AS s, (doc_id * 7 + 3) % 50 AS d
        |  FROM documents),
        |n AS (SELECT DISTINCT node, node % 5 = 0 AND node IN (SELECT s FROM e)
        |    AS isSeed
        |  FROM (SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
        |ns AS (SELECT CAST(sum(CASE WHEN isSeed THEN 1 ELSE 0 END) AS DOUBLE)
        |  AS S FROM n),
        |od AS (SELECT s, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY s),
        |r0 AS (SELECT node, isSeed,
        |    CASE WHEN isSeed THEN CAST(1 AS DOUBLE) / ns.S ELSE 0.0 END AS rank
        |  FROM n CROSS JOIN ns),
        |${iter("r0", "r1")},
        |${iter("r1", "r2")}
        |SELECT node, round(rank, 12) AS rank FROM r2 ORDER BY node""".stripMargin
    },

    // HITS replay: 2 unrolled iterations, the same 18-decimal sums,
    // L1 totals, and the auth-from-hubs-then-hub-from-NEW-auths order
    "x_hits" -> {
      def ds(x: String) =
        s"CAST(CAST(sum(CAST($x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
      def iter(hPrev: String, i: Int) =
        s"""ar$i AS (SELECT e.d AS node, ${ds(s"$hPrev.hub")} AS a
           |  FROM e JOIN $hPrev ON $hPrev.node = e.s GROUP BY e.d),
           |at$i AS (SELECT ${ds("a")} AS t FROM ar$i),
           |a$i AS (SELECT n.node, coalesce(ar$i.a, 0.0) / at$i.t AS auth
           |  FROM n LEFT JOIN ar$i USING (node) CROSS JOIN at$i),
           |hr$i AS (SELECT e.s AS node, ${ds(s"a$i.auth")} AS h
           |  FROM e JOIN a$i ON a$i.node = e.d GROUP BY e.s),
           |ht$i AS (SELECT ${ds("h")} AS t FROM hr$i),
           |h$i AS (SELECT n.node, coalesce(hr$i.h, 0.0) / ht$i.t AS hub
           |  FROM n LEFT JOIN hr$i USING (node) CROSS JOIN ht$i)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT doc_id % 50 AS s, (doc_id * 7 + 3) % 50 AS d
        |  FROM documents),
        |n AS (SELECT DISTINCT node FROM
        |  (SELECT s AS node FROM e UNION ALL SELECT d FROM e)),
        |h0 AS (SELECT node, CAST(1 AS DOUBLE) AS hub FROM n),
        |${iter("h0", 1)},
        |${iter("h1", 2)}
        |SELECT n.node, h2.hub, a2.auth
        |FROM n JOIN h2 USING (node) JOIN a2 USING (node)
        |ORDER BY n.node""".stripMargin
    },

    // LPA replay: symmetrized self-loop-free edges, per-iteration
    // neighbor-label counts, argmax by (count desc, label asc), three
    // unrolled rounds — all-integer, so the replay is exact
    "x_lpa" -> {
      def iter(prev: String, out: String) =
        s"""v$out AS (SELECT sym.a, $prev.label, count(*) AS c
           |  FROM sym JOIN $prev ON sym.b = $prev.node GROUP BY 1, 2),
           |w$out AS (SELECT a AS node, label,
           |    row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rn
           |  FROM v$out),
           |$out AS (SELECT $prev.node,
           |    coalesce(w.label, $prev.label) AS label
           |  FROM $prev LEFT JOIN (SELECT node, label FROM w$out WHERE rn = 1) w
           |    USING (node))""".stripMargin
      s"""WITH dir AS (SELECT DISTINCT doc_id % 50 AS a, (doc_id * 7 + 3) % 50 AS b
        |  FROM documents),
        |sym AS (SELECT DISTINCT a, b FROM
        |  (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir) WHERE a <> b),
        |l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
        |${iter("l0", "l1")},
        |${iter("l1", "l2")},
        |${iter("l2", "l3")}
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin
    },

    // burstiness/memory replay: per-key gap list off the same
    // (ms, event_id) order, exact HUGEINT moments, identical chains
    "x_burstiness" -> {
      val varN = "(CAST(st.n_gaps AS HUGEINT) * st.q - st.s * st.s)"
      val sq = s"sqrt(CAST(CAST($varN AS VARCHAR) AS DOUBLE))"
      val sD = "CAST(CAST(st.s AS VARCHAR) AS DOUBLE)"
      val mden = "((CAST(pr.np AS HUGEINT) * pr.qh - pr.sh * pr.sh) * (CAST(pr.np AS HUGEINT) * pr.qt - pr.stl * pr.stl))"
      s"""WITH g0 AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    epoch_ms(ts) AS ms, event_id,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY event_type
        |      ORDER BY epoch_ms(ts), event_id) AS prev
        |  FROM events),
        |g AS (SELECT key, ms - prev AS gp,
        |    row_number() OVER (PARTITION BY key ORDER BY ms, event_id) AS rn
        |  FROM g0 WHERE prev IS NOT NULL),
        |st AS (SELECT key, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(CAST(gp AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(gp AS HUGEINT) * gp) AS HUGEINT) AS q
        |  FROM g GROUP BY key),
        |pr AS (SELECT a.key AS key, CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(CAST(a.gp AS HUGEINT) * b.gp) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(a.gp AS HUGEINT)) AS HUGEINT) AS sh,
        |    CAST(sum(CAST(b.gp AS HUGEINT)) AS HUGEINT) AS stl,
        |    CAST(sum(CAST(a.gp AS HUGEINT) * a.gp) AS HUGEINT) AS qh,
        |    CAST(sum(CAST(b.gp AS HUGEINT) * b.gp) AS HUGEINT) AS qt
        |  FROM g a JOIN g b ON a.key = b.key AND b.rn = a.rn + 1
        |  GROUP BY 1)
        |SELECT st.key, st.n_gaps,
        |  CASE WHEN st.n_gaps > 1 AND $varN >= 0 AND ($sq + $sD) > 0.0
        |    THEN ($sq - $sD) / ($sq + $sD) END AS burstiness,
        |  CASE WHEN pr.np > 1 AND $mden > 0
        |    THEN CAST(CAST(CAST(pr.np AS HUGEINT) * pr.sxy - pr.sh * pr.stl
        |        AS VARCHAR) AS DOUBLE)
        |      / sqrt(CAST(CAST($mden AS VARCHAR) AS DOUBLE)) END AS memory
        |FROM st LEFT JOIN pr ON st.key = pr.key ORDER BY st.key""".stripMargin
    },

    // assortativity replay: symmetrized canonical edges, exact
    // HUGEINT Pearson moments, one sqrt + divide
    "x_assortativity" -> {
      val den = "((CAST(n2 AS HUGEINT) * qx - sx * sx) * (CAST(n2 AS HUGEINT) * qy - sy * sy))"
      s"""WITH dir AS (SELECT DISTINCT doc_id % 50 AS a, (doc_id * 7 + 3) % 50 AS b
        |  FROM documents),
        |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        |  FROM dir WHERE a <> b),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |  GROUP BY node),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        |wd AS (SELECT da.deg AS dx, db.deg AS dy
        |  FROM sym JOIN deg da ON sym.a = da.node
        |    JOIN deg db ON sym.b = db.node),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n2,
        |    CAST(sum(CAST(dx AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(dy AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS qx,
        |    CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS qy
        |  FROM wd)
        |SELECT n2 // 2 AS n_edges,
        |  CASE WHEN $den > 0
        |    THEN CAST(CAST(CAST(n2 AS HUGEINT) * sxy - sx * sy AS VARCHAR)
        |        AS DOUBLE)
        |      / sqrt(CAST(CAST($den AS VARCHAR) AS DOUBLE)) END AS r
        |FROM ag""".stripMargin
    },

    // per-community modularity of the x_lpa partition: replay the 3
    // LPA rounds, then exact integer m_c/d_c/m and the fixed two-
    // division q_part chain
    "x_modularity" -> ModularitySql.perCommunity,

    // global Q: the order-free exact-rational closed form
    // (4m·Σm_c − Σd_c²)/(4m²), one closing division
    "x_modularity_g" -> ModularitySql.global,

    // topPaths: same (ts, event_id) deterministic order, DuckDB
    // string_agg ORDER BY rebuilds the identical path strings
    "x_paths" ->
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rk) AS path
        |  FROM r WHERE rk <= 3 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS users
        |FROM p GROUP BY path ORDER BY users DESC, path LIMIT 20""".stripMargin,

    "x_conversion" ->
      """WITH u0 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |u1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN u0 ON e.user_id = u0.user_id AND e.ts > u0.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |u2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |  JOIN u1 ON e.user_id = u1.user_id AND e.ts > u1.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |n AS (SELECT (SELECT count(*) FROM u0) AS n0,
        |  (SELECT count(*) FROM u1) AS n1, (SELECT count(*) FROM u2) AS n2)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INT) AS stage_idx, 'view' AS stage,
        |    CAST(n0 AS BIGINT) AS users,
        |    CAST(n0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS frac_of_first FROM n
        |  UNION ALL SELECT CAST(1 AS INT), 'click', CAST(n1 AS BIGINT),
        |    CAST(n1 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM n
        |  UNION ALL SELECT CAST(2 AS INT), 'purchase', CAST(n2 AS BIGINT),
        |    CAST(n2 AS DOUBLE) / CAST(n0 AS DOUBLE) FROM n)
        |ORDER BY stage_idx""".stripMargin,

    "x_cohort" ->
      """WITH c AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, w) / 7 AS INT) AS week_offset,
        |  count(DISTINCT user_id) AS users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,

    "x_asof" ->
      """WITH r AS (SELECT user_id, ts, max_by("value", event_id) AS purchase_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |     l AS (SELECT event_id, user_id, ts, event_type, "value"
        |           FROM events WHERE event_type <> 'purchase')
        |SELECT l.event_id, l.user_id, l.event_type, l."value", r.purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "x_asof_nearest" ->
      """WITH r AS (SELECT user_id, ts, max_by("value", event_id) AS purchase_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |     l AS (SELECT event_id, user_id, ts, event_type, "value"
        |           FROM events WHERE event_type <> 'purchase'),
        |     b AS (SELECT l.event_id, r.ts AS b_on, r.purchase_value AS b_val
        |           FROM l ASOF LEFT JOIN r
        |           ON l.user_id = r.user_id AND l.ts >= r.ts),
        |     f AS (SELECT l.event_id, r.ts AS f_on, r.purchase_value AS f_val
        |           FROM l ASOF LEFT JOIN r
        |           ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.event_id, l.user_id, l.event_type, l."value",
        |  CASE WHEN f.f_on IS NULL OR (b.b_on IS NOT NULL
        |      AND l.ts - b.b_on <= f.f_on - l.ts)
        |    THEN b.b_val ELSE f.f_val END AS purchase_value
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY l.event_id""".stripMargin,

    "x_asof_tol" ->
      """WITH r AS (SELECT user_id, ts, max_by("value", event_id) AS purchase_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |     l AS (SELECT event_id, user_id, ts, event_type, "value"
        |           FROM events WHERE event_type <> 'purchase')
        |SELECT l.event_id, l.user_id, l.event_type, l."value",
        |  CASE WHEN l.ts - r.ts <= INTERVAL 1 HOUR THEN r.purchase_value END
        |    AS purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "x_asof_global" ->
      """WITH r AS (SELECT ts, max_by("value", event_id) AS gp_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |     l AS (SELECT event_id, user_id, ts, event_type, "value"
        |           FROM events WHERE event_type <> 'purchase')
        |SELECT l.event_id, l.user_id, l.event_type, l."value", r.gp_value
        |FROM l ASOF LEFT JOIN r ON l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    "x_asof_global_nearest" ->
      """WITH r AS (SELECT ts, max_by("value", event_id) AS gp_value
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |     l AS (SELECT event_id, user_id, ts, event_type, "value"
        |           FROM events WHERE event_type <> 'purchase'),
        |     b AS (SELECT l.event_id, r.ts AS b_on, r.gp_value AS b_val
        |           FROM l ASOF LEFT JOIN r ON l.ts >= r.ts),
        |     f AS (SELECT l.event_id, r.ts AS f_on, r.gp_value AS f_val
        |           FROM l ASOF LEFT JOIN r ON l.ts <= r.ts)
        |SELECT l.event_id, l.user_id, l.event_type, l."value",
        |  CASE WHEN f.f_on IS NULL OR (b.b_on IS NOT NULL
        |      AND l.ts - b.b_on <= f.f_on - l.ts)
        |    THEN b.b_val ELSE f.f_val END AS gp_value
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY l.event_id""".stripMargin,

    "x_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    // argmax replayed as a (pref desc, id desc) window rank — the
    // relational spelling of max_by over the (pref, id) struct order
    "x_dedup_best" ->
      """WITH h AS (SELECT doc_id, md5(text) AS content_hash,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS pref
        |  FROM documents),
        |r AS (SELECT content_hash, doc_id,
        |    row_number() OVER (PARTITION BY content_hash
        |      ORDER BY pref DESC, doc_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY content_hash) AS n_copies
        |  FROM h)
        |SELECT content_hash, doc_id AS keep_id, CAST(n_copies AS BIGINT) AS n_copies
        |FROM r WHERE rn = 1 ORDER BY keep_id""".stripMargin,

    // replays quality (the x_quality formula), ws tokens (the x_tokens
    // formula), and the inclusive running sum under (quality desc,
    // doc_id) — the greedy-prefix budget rule
    "x_token_budget" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(text) AS DOUBLE) AS n,
        |    CAST(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS DOUBLE) AS nw,
        |    CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS ws_tokens
        |  FROM documents),
        |q AS (SELECT doc_id, ws_tokens,
        |    greatest(0.0, least(1.0,
        |      0.25 * least(nw / 50.0, 1.0) +
        |      0.25 * (alpha / greatest(n, 1.0)) +
        |      0.25 * (1.0 - least((punct / greatest(n, 1.0)) * 10.0, 1.0)) +
        |      0.25 * (1.0 - least((digits / greatest(n, 1.0)) * 10.0, 1.0)))) AS quality
        |  FROM f),
        |c AS (SELECT doc_id, ws_tokens, quality,
        |    CAST(sum(ws_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, ws_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens <= 8000 ORDER BY doc_id""".stripMargin,

    // replays the md5-derived 48-bit minhash banding digit by digit:
    // every pow() term stays under 2^53, so the hex decode is exact
    "s_neardup" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS wd FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(wd) < 3 THEN [array_to_string(wd, ' ')]
        |    ELSE list_transform(range(1, len(wd) - 1), i -> array_to_string(wd[i:i+2], ' ')) END)) AS s
        |  FROM toks),
        |hj AS (SELECT doc_id, pj.j,
        |    CAST(list_sum(list_transform(range(1, 13), i ->
        |      (strpos('0123456789abcdef', substr(md5(s || ':' || pj.j), CAST(i AS INT), 1)) - 1)
        |        * pow(16, 12 - i))) AS BIGINT) AS h
        |  FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS j) pj),
        |sigs AS (SELECT doc_id, j, min(h) AS h FROM hj GROUP BY 1, 2),
        |buckets AS (SELECT doc_id, CAST(floor(j / 2) AS INT) AS band,
        |    array_to_string(list(CAST(h AS VARCHAR) ORDER BY j), ',') AS bucket
        |  FROM sigs GROUP BY 1, 2),
        |ev AS (SELECT doc_id, band, bucket,
        |    min(doc_id) OVER (PARTITION BY band, bucket) AS first_doc
        |  FROM buckets)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN doc_id > first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_bands,
        |  sum(CASE WHEN doc_id > first_doc THEN 1 ELSE 0 END) > 0 AS is_dup
        |FROM ev GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x_dedup_cross" ->
      """WITH existing AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id, text FROM existing WHERE doc_id % 10 = 0)
        |SELECT i.doc_id FROM incoming i
        |WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE md5(e.text) = md5(i.text))
        |ORDER BY i.doc_id""".stripMargin,

    "x_quality" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CAST(len(text) AS DOUBLE) AS n,
        |    CAST(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS DOUBLE) AS nw,
        |    CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
        |    CAST(len(list_intersect(list_distinct(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')),
        |      ['the','a','of','and','to','in','is','it','that','for'])) AS DOUBLE) AS stop_hits
        |  FROM documents)
        |SELECT doc_id, nw AS n_words,
        |  alpha / greatest(nw, 1.0) AS mean_word_len,
        |  punct / greatest(n, 1.0) AS punct_ratio,
        |  digits / greatest(n, 1.0) AS digit_ratio,
        |  alpha / greatest(n, 1.0) AS alpha_ratio,
        |  stop_hits / greatest(nw, 1.0) AS stop_ratio,
        |  greatest(0.0, least(1.0,
        |    0.25 * least(nw / 50.0, 1.0) +
        |    0.25 * (alpha / greatest(n, 1.0)) +
        |    0.25 * (1.0 - least((punct / greatest(n, 1.0)) * 10.0, 1.0)) +
        |    0.25 * (1.0 - least((digits / greatest(n, 1.0)) * 10.0, 1.0)))) AS quality
        |FROM f ORDER BY doc_id""".stripMargin,

    "x_chunking" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN []
        |      ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS nt FROM t),
        |g AS (SELECT doc_id, toks, nt,
        |    greatest(CAST(ceil((nt - 8) / 24.0) AS INT), 1) AS nchunks FROM n),
        |e AS (SELECT doc_id, nt, toks, unnest(range(0, nchunks)) AS ci FROM g)
        |SELECT doc_id, CAST(nt AS INT) AS doc_tokens, CAST(ci AS INT) AS chunk_idx,
        |  array_to_string(toks[CAST(ci*24+1 AS INT):CAST(ci*24+32 AS INT)], ' ') AS chunk_text,
        |  CAST(len(toks[CAST(ci*24+1 AS INT):CAST(ci*24+32 AS INT)]) AS INT) AS chunk_tokens
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    "x_packing" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tok AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT doc_id, n_tok, tok_start,
        |  CAST(floor(tok_start / 512.0) AS BIGINT) AS pack_first,
        |  CAST(floor((tok_start + greatest(n_tok, 1) - 1) / 512.0) AS BIGINT) AS pack_last,
        |  CAST(floor((tok_start + greatest(n_tok, 1) - 1) / 512.0)
        |    - floor(tok_start / 512.0) + 1 AS BIGINT) AS n_packs
        |FROM c ORDER BY doc_id""".stripMargin,

    "x_tokens" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_ish_tokens,
        |  CAST(ceil(len(text) / 4.0) AS BIGINT) AS approx_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // vocab-shift replay: same tokens, same counts, same two exact
    // divisions; the ORDER BY replays the |shift| top-k total order
    "x_vocab_shift" ->
      s"""WITH tk AS (SELECT doc_id % 2 = 1 AS nw, unnest($toksSql) AS term
        |  FROM documents),
        |c AS (SELECT term,
        |    CAST(sum(CASE WHEN nw THEN 0 ELSE 1 END) AS BIGINT) AS n_old,
        |    CAST(sum(CASE WHEN nw THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM tk GROUP BY term),
        |t AS (SELECT CAST(sum(n_old) AS BIGINT) AS to_,
        |    CAST(sum(n_new) AS BIGINT) AS tn FROM c)
        |SELECT term, n_old, n_new,
        |  CAST(n_old AS DOUBLE) / CAST(t.to_ AS DOUBLE) AS rate_old,
        |  CAST(n_new AS DOUBLE) / CAST(t.tn AS DOUBLE) AS rate_new,
        |  CAST(n_new AS DOUBLE) / CAST(t.tn AS DOUBLE)
        |    - CAST(n_old AS DOUBLE) / CAST(t.to_ AS DOUBLE) AS shift
        |FROM c CROSS JOIN t
        |WHERE n_old + n_new >= 10
        |ORDER BY abs(shift) DESC, term LIMIT 25""".stripMargin,

    // fertility replay: the x_tokens counters re-derived, summed as
    // exact integers per language, divided once
    "x_fertility" ->
      """WITH c AS (SELECT lang,
        |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tk,
        |    CAST(len(text) AS BIGINT) AS ch
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(w) AS BIGINT) AS words,
        |  CAST(sum(tk) AS BIGINT) AS tokens,
        |  CAST(sum(ch) AS BIGINT) AS chars,
        |  CASE WHEN sum(w) = 0 THEN NULL
        |    ELSE CAST(sum(tk) AS DOUBLE) / CAST(sum(w) AS DOUBLE) END AS fertility,
        |  CASE WHEN sum(tk) = 0 THEN NULL
        |    ELSE CAST(sum(ch) AS DOUBLE) / CAST(sum(tk) AS DOUBLE) END AS chars_per_token
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // chat-render replay: same line split, alternating roles, sorted
    // first-6 slice, identical template string
    "x_chat_render" ->
      """WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls
        |  FROM documents),
        |r AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_turns,
        |    ls[1:least(len(ls), 6)] AS kept FROM t),
        |x AS (SELECT doc_id, n_turns,
        |    CAST(len(kept) AS BIGINT) AS kept_turns,
        |    array_to_string(list_transform(range(1, len(kept) + 1),
        |      i -> '<|' || (CASE WHEN (i - 1) % 2 = 0 THEN 'user'
        |        ELSE 'assistant' END) || '|>' || kept[CAST(i AS INT)]),
        |      chr(10)) AS rendered
        |  FROM r)
        |SELECT doc_id, n_turns, kept_turns, md5(rendered) AS digest,
        |  CAST(length(rendered) AS BIGINT) AS n_chars
        |FROM x ORDER BY doc_id""".stripMargin,

    // Flesch replay: same tokenizer, sentence runs, vowel-group
    // syllables (>=1 per word), identical IEEE formula order
    "x_readability" ->
      s"""WITH w AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
        |      AS n_sentences,
        |    CAST(coalesce(list_sum(list_transform(tk, x ->
        |      greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))), 0)
        |      AS BIGINT) AS n_syllables
        |  FROM w)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |  END AS fre
        |FROM c ORDER BY doc_id""".stripMargin,

    // router-verdict replay: the x_datacard quality chain per doc,
    // nulls for every 97th id, null-inclusive reject CASE
    "s_route" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(text) AS DOUBLE) AS n,
        |    CAST(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS DOUBLE) AS nw,
        |    CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha
        |  FROM documents),
        |q AS (SELECT doc_id,
        |    greatest(0.0, least(1.0,
        |      0.25 * least(nw / 50.0, 1.0) +
        |      0.25 * (alpha / greatest(n, 1.0)) +
        |      0.25 * (1.0 - least((punct / greatest(n, 1.0)) * 10.0, 1.0)) +
        |      0.25 * (1.0 - least((digits / greatest(n, 1.0)) * 10.0, 1.0)))) AS quality
        |  FROM f)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE quality END AS q,
        |  CASE WHEN doc_id % 97 = 0 THEN 'reject'
        |       WHEN quality >= 0.5 THEN 'accept' ELSE 'reject' END AS verdict
        |FROM q ORDER BY doc_id""".stripMargin,

    // Quadratic ground truth is feasible oracle-side at 500 docs; the
    // synthetic near-dups all sit at jaccard >= 0.9 where 16-band LSH
    // recall is certain, so the LSH result EQUALS the ground truth and
    // hash-compares exactly (integer-count jaccards divide identically
    // in both engines).
    "x_dedup_minhash" -> minhashOracleSql,

    // the audit replay: same md5-ranked sample, quadratic exact
    // jaccard truth, full 64-perm portable-minhash band replay
    // (12-hex md5 decode, the s_neardup idiom), INTERSECT for caught
    "x_lsh_recall" ->
      s"""WITH d0 AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id,
        |    text || ' terms apply contact support' AS text
        |  FROM documents WHERE doc_id % 5 = 0),
        |u AS (SELECT doc_id, text,
        |    list_sum(list_transform(range(1, 14), j ->
        |      (strpos('0123456789abcdef', substring(md5('7' || CAST(doc_id AS VARCHAR)), CAST(j AS INT), 1)) - 1)
        |        * pow(16, 13 - j))) / 4503599627370496.0 AS u
        |  FROM d0),
        |smp AS (SELECT doc_id, text FROM u ORDER BY u, doc_id LIMIT 250),
        |toks AS (SELECT doc_id, $toksSql AS wd FROM smp),
        |shl AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(wd) < 3 THEN [array_to_string(wd, ' ')]
        |      ELSE list_transform(range(1, len(wd) - 1), i -> array_to_string(wd[i:i+2], ' ')) END) AS s
        |  FROM toks),
        |truth AS (SELECT x.doc_id AS a, y.doc_id AS b
        |  FROM shl x JOIN shl y ON x.doc_id < y.doc_id
        |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
        |    / CAST(len(list_distinct(x.s || y.s)) AS DOUBLE) >= 0.5),
        |sh2 AS (SELECT doc_id, unnest(s) AS s FROM shl),
        |hj AS (SELECT doc_id, pj.j,
        |    CAST(list_sum(list_transform(range(1, 13), i ->
        |      (strpos('0123456789abcdef', substr(md5(s || ':' || pj.j), CAST(i AS INT), 1)) - 1)
        |        * pow(16, 12 - i))) AS BIGINT) AS h
        |  FROM sh2 CROSS JOIN (SELECT unnest(range(0, 64)) AS j) pj),
        |sigs AS (SELECT doc_id, j, min(h) AS h FROM hj GROUP BY 1, 2),
        |buckets AS (SELECT doc_id, CAST(floor(j / 8) AS INT) AS band,
        |    array_to_string(list(CAST(h AS VARCHAR) ORDER BY j), ',') AS bucket
        |  FROM sigs GROUP BY 1, 2),
        |cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM buckets x JOIN buckets y ON x.band = y.band
        |    AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |caught AS (SELECT a, b FROM cands INTERSECT SELECT a, b FROM truth)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM smp) AS n_docs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cands) AS n_candidate_pairs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM caught) AS n_caught,
        |  round(CASE WHEN (SELECT count(*) FROM truth) > 0
        |    THEN CAST((SELECT count(*) FROM caught) AS DOUBLE)
        |      / CAST((SELECT count(*) FROM truth) AS DOUBLE) END, 6) AS recall,
        |  round(CASE WHEN (SELECT count(*) FROM cands) > 0
        |    THEN CAST((SELECT count(*) FROM caught) AS DOUBLE)
        |      / CAST((SELECT count(*) FROM cands) AS DOUBLE) END, 6) AS candidate_precision""".stripMargin,

    // the indexed path generates the identical candidate set and the
    // identical jaccard verdicts (same signatures, read from parquet
    // instead of recomputed) — same quadratic ground-truth oracle
    "x_dedup_minhash_idx" -> minhashOracleSql,

    // incremental ground truth: quadratic jaccard over corpus ∪ batch
    // restricted to pairs touching the batch (ids >= 1e9). The 0.2
    // threshold sits in a measured gap (corpus pairs are <= 0.067 or
    // >= 0.9; the shared 4-word suffix shifts non-dup batch pairs by
    // far less than the gap), so LSH recall is exact here
    "x_dedup_incr" ->
      """WITH d0 AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id,
        |    text || ' terms apply contact support' AS text
        |  FROM documents WHERE doc_id % 7 = 0),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM d0),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id >= 1000000000 OR b.doc_id >= 1000000000)
        |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.2
        |ORDER BY a, b""".stripMargin,

    // brute-force ground truth over the wrapped corpus (same
    // bimodal-similarity argument as x_dedup_jaccard: the 0.6
    // threshold sits in the corpus's similarity gap — every pair
    // above it has j >= 0.71, where 16-band LSH recall is ~99%+, and
    // the next pair down is j = 0.53 — so candidate sets agree)
    "x_containment" ->
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000 AS doc_id,
        |    text || ' terms apply contact support for details legal notice' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM d0),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(a.s) AS DOUBLE) AS containment_a,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(b.s) AS DOUBLE) AS containment_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.6
        |ORDER BY a, b""".stripMargin,

    "x_dedup_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks),
        |cand AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.15),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ns) < 5 THEN [ns]
        |    ELSE list_distinct(list_transform(range(1, len(ns)-3), i -> substring(ns, i, 5))) END AS gs
        |  FROM (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS ns FROM documents))
        |SELECT c.a, c.b,
        |  CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) / CAST(len(list_distinct(ga.gs || gb.gs)) AS DOUBLE) AS ngram_jaccard
        |FROM cand c JOIN g ga ON ga.doc_id = c.a JOIN g gb ON gb.doc_id = c.b
        |ORDER BY a, b""".stripMargin,

    // components of the same ground-truth pair graph, via transitive
    // closure in a recursive CTE (25 pairs at this scale)
    "x_dedup_clusters" -> ccClosureOracle,

    // star CC is label-identical by contract — same closure oracle
    "x_dedup_clusters_star" -> ccClosureOracle,

    // incremental CC equals the full recompute by contract — same oracle
    "x_dedup_clusters_incr" -> ccClosureOracle,

    // leakage-safe dedup split: the x_dedup_clusters closure feeding
    // the x_splits md5-range rule, keyed by the cluster id
    "x_split_dedup" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.2),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE r.a <> e.b),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |  FROM reach GROUP BY a)
        |SELECT d.doc_id,
        |  coalesce(cl.cluster_id, d.doc_id) AS cluster_key,
        |  CASE WHEN substring(md5(CAST(coalesce(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 4) < 'cccd' THEN 'train'
        |    WHEN substring(md5(CAST(coalesce(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents d LEFT JOIN cl USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // ensemble replay: exact md5 groups, the quadratic-truth pair set
    // over reps only, the same recursive-CTE closure, verdict CASE
    "x_dedup_ensemble" ->
      """WITH RECURSIVE g AS (SELECT doc_id, md5(text) AS h FROM documents),
        |gr AS (SELECT h, min(doc_id) AS rep FROM g GROUP BY h),
        |wr AS (SELECT g.doc_id, gr.rep FROM g JOIN gr USING (h)),
        |reps AS (SELECT d.doc_id, d.text FROM documents d
        |  JOIN gr ON d.doc_id = gr.rep),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM reps),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.2),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE r.a <> e.b),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |rv AS (SELECT r.doc_id AS rep2,
        |    coalesce(cl.cluster_id, r.doc_id) AS keep
        |  FROM reps r LEFT JOIN cl ON r.doc_id = cl.doc_id)
        |SELECT wr.doc_id,
        |  CASE WHEN wr.doc_id <> wr.rep THEN 'drop_exact'
        |       WHEN wr.rep <> rv.keep THEN 'drop_near'
        |       ELSE 'keep' END AS verdict,
        |  rv.keep AS kept_by
        |FROM wr JOIN rv ON wr.rep = rv.rep2
        |ORDER BY wr.doc_id""".stripMargin,

    // preference-pair replay: the cluster closure + the s_route
    // quality chain + per-cluster (quality DESC, id) / (quality ASC,
    // id DESC) picks
    "x_pref_pairs" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.2),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE r.a <> e.b),
        |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |f AS (SELECT doc_id,
        |    CAST(len(text) AS DOUBLE) AS n,
        |    CAST(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '')) AS DOUBLE) AS nw,
        |    CAST(len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha
        |  FROM documents),
        |q AS (SELECT doc_id,
        |    greatest(0.0, least(1.0,
        |      0.25 * least(nw / 50.0, 1.0) +
        |      0.25 * (alpha / greatest(n, 1.0)) +
        |      0.25 * (1.0 - least((punct / greatest(n, 1.0)) * 10.0, 1.0)) +
        |      0.25 * (1.0 - least((digits / greatest(n, 1.0)) * 10.0, 1.0)))) AS quality
        |  FROM f),
        |m AS (SELECT cl.cluster_id, cl.doc_id, q.quality
        |  FROM cl JOIN q USING (doc_id)),
        |ch AS (SELECT cluster_id, doc_id AS chosen_id, quality AS chosen_score
        |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY quality DESC, doc_id) AS rn FROM m) WHERE rn = 1),
        |rj AS (SELECT cluster_id, doc_id AS rejected_id, quality AS rejected_score
        |  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY quality ASC, doc_id DESC) AS rn FROM m) WHERE rn = 1),
        |sz AS (SELECT cluster_id, count(*) AS nsz FROM m GROUP BY 1)
        |SELECT ch.cluster_id, chosen_id, rejected_id,
        |  chosen_score, rejected_score
        |FROM ch JOIN rj USING (cluster_id) JOIN sz USING (cluster_id)
        |WHERE nsz >= 2
        |ORDER BY ch.cluster_id""".stripMargin,

    // the transitive closure again + longest-copy argmax per cluster
    // (row_number replaying max_by's (pref, −id) struct order)
    "x_cluster_rep" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.2),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE r.a <> e.b),
        |m AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |scored AS (SELECT t.doc_id,
        |    coalesce(m.cluster_id, t.doc_id) AS cluster_id,
        |    CAST(len(tk) AS BIGINT) AS pref
        |  FROM toks t LEFT JOIN m ON t.doc_id = m.doc_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
        |    ORDER BY pref DESC, doc_id) AS r FROM scored),
        |reps AS (SELECT cluster_id, doc_id AS rep_id FROM rk WHERE r = 1),
        |nm AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
        |  FROM scored GROUP BY 1)
        |SELECT s.doc_id, s.cluster_id, s.pref, r.rep_id, nm.n_members,
        |  s.doc_id = r.rep_id AS keep
        |FROM scored s JOIN reps r USING (cluster_id) JOIN nm USING (cluster_id)
        |ORDER BY s.doc_id""".stripMargin,

    // the same transitive closure, re-aggregated to the size histogram
    "x_cluster_sizes" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS s
        |  FROM toks),
        |p AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.2),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE r.a <> e.b),
        |m AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
        |cs AS (SELECT cluster_id, count(*) AS cluster_size FROM m GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters FROM cs
        |GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    // shared fragment semantics: bucket(p) bit = sign of <v, s_p> with
    // s_{p,k} = bit (k-1)%4 of hex digit floor((k-1)/4) of the chunked
    // digest chain md5('plane'||p||'_0')||md5('plane'||p||'_1')||… —
    // the 64-dim corpus here needs only chunk 0, so this query's SQL
    // spells out the single-chunk instantiation; x_ann_lsh_768 below is
    // the multi-chunk (6-digest) template for wider embeddings
    "x_ann_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pl AS (SELECT unnest(range(0, 8)) AS p),
        |d AS (SELECT e.vec_id, pl.p,
        |    list_sum(list_transform(range(1, 65), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(md5('plane' || pl.p || '_0'),
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN pl),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |q AS (SELECT b.bucket AS qb, e.v AS qv FROM b JOIN e USING (vec_id) WHERE vec_id = 0),
        |pr AS (SELECT qv, unnest([qb] || list_transform(range(0, 8),
        |    p -> xor(qb, CAST(pow(2, p) AS BIGINT)))) AS bucket FROM q),
        |cand AS (SELECT e.vec_id, list_cosine_similarity(e.v, pr.qv) AS rawcos
        |  FROM e JOIN b USING (vec_id) JOIN pr USING (bucket)),
        |topk AS (SELECT vec_id, round(rawcos, 4) AS cos
        |  FROM cand ORDER BY rawcos DESC, vec_id LIMIT 10)
        |SELECT vec_id, cos FROM topk ORDER BY cos DESC, vec_id""".stripMargin,

    // hubness replay: the multi-query LSH chain (same md5 planes),
    // per-query rank cut at 5, k-occurrence counts, antihub total
    "x_hubness" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pl AS (SELECT unnest(range(0, 8)) AS p),
        |d AS (SELECT e.vec_id, pl.p,
        |    list_sum(list_transform(range(1, 65), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(md5('plane' || pl.p || '_0'),
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN pl),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |q AS (SELECT b.vec_id AS q_id, b.bucket AS qb, e.v AS qv
        |  FROM b JOIN e USING (vec_id) WHERE vec_id % 10 = 0),
        |pr AS (SELECT q_id, qv, unnest([qb] || list_transform(range(0, 8),
        |    p -> xor(qb, CAST(pow(2, p) AS BIGINT)))) AS bucket FROM q),
        |cand AS (SELECT pr.q_id, e.vec_id,
        |    list_cosine_similarity(e.v, pr.qv) AS rawcos
        |  FROM e JOIN b USING (vec_id) JOIN pr USING (bucket)),
        |cut AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY rawcos DESC, vec_id) AS rn FROM cand)
        |  WHERE rn <= 5),
        |occ AS (SELECT vec_id AS neighbor_id, count(*) AS k_occ
        |  FROM cut GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM q) AS n_queries,
        |  (SELECT count(*) FROM e) - (SELECT count(*) FROM occ) AS antihubs)
        |SELECT neighbor_id, CAST(k_occ AS BIGINT) AS k_occ,
        |  CAST(k_occ AS DOUBLE) / CAST(n_queries AS DOUBLE) AS share,
        |  CAST(n_queries AS BIGINT) AS n_queries,
        |  CAST(antihubs AS BIGINT) AS antihubs
        |FROM occ CROSS JOIN tot
        |ORDER BY k_occ DESC, neighbor_id LIMIT 20""".stripMargin,

    // multi-chunk chain: 768 dims = 6 md5 chunks per plane; the fixture
    // widens the 64-dim vectors with exact double divisions both
    // engines reproduce (see embeddings768)
    "x_ann_lsh_768" ->
      """WITH e AS (SELECT vec_id,
        |    flatten(list_transform(range(0, 12), r ->
        |      list_transform(CAST(embedding AS DOUBLE[]), x -> x / (r+1)))) AS v
        |  FROM embeddings),
        |pl AS (SELECT unnest(range(0, 8)) AS p),
        |hx AS (SELECT p,
        |    md5('plane'||p||'_0')||md5('plane'||p||'_1')||md5('plane'||p||'_2')||
        |    md5('plane'||p||'_3')||md5('plane'||p||'_4')||md5('plane'||p||'_5') AS hex
        |  FROM pl),
        |d AS (SELECT e.vec_id, hx.p,
        |    list_sum(list_transform(range(1, 769), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(hex,
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN hx),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |q AS (SELECT b.bucket AS qb, e.v AS qv FROM b JOIN e USING (vec_id) WHERE vec_id = 0),
        |pr AS (SELECT qv, unnest([qb] || list_transform(range(0, 8),
        |    p -> xor(qb, CAST(pow(2, p) AS BIGINT)))) AS bucket FROM q),
        |cand AS (SELECT e.vec_id, list_cosine_similarity(e.v, pr.qv) AS rawcos
        |  FROM e JOIN b USING (vec_id) JOIN pr USING (bucket)),
        |topk AS (SELECT vec_id, round(rawcos, 4) AS cos
        |  FROM cand ORDER BY rawcos DESC, vec_id LIMIT 10)
        |SELECT vec_id, cos FROM topk ORDER BY cos DESC, vec_id""".stripMargin,

    // mirrors embeddingNearDup on the widened fixture: 4 planes × 6
    // chunks, bucket cap 1000, exact-cosine filter before rounding
    "x_neardup_768" ->
      """WITH e AS (SELECT vec_id,
        |    flatten(list_transform(range(0, 12), r ->
        |      list_transform(CAST(embedding AS DOUBLE[]), x -> x / (r+1)))) AS v
        |  FROM embeddings),
        |pl AS (SELECT unnest(range(0, 4)) AS p),
        |hx AS (SELECT p,
        |    md5('plane'||p||'_0')||md5('plane'||p||'_1')||md5('plane'||p||'_2')||
        |    md5('plane'||p||'_3')||md5('plane'||p||'_4')||md5('plane'||p||'_5') AS hex
        |  FROM pl),
        |d AS (SELECT e.vec_id, hx.p,
        |    list_sum(list_transform(range(1, 769), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(hex,
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN hx),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |ok AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 1000),
        |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM b x JOIN b y USING (bucket)
        |  WHERE x.vec_id < y.vec_id AND bucket IN (SELECT bucket FROM ok)),
        |cand AS (SELECT p.a, p.b, list_cosine_similarity(ea.v, eb.v) AS rawcos
        |  FROM pairs p JOIN e ea ON ea.vec_id = p.a JOIN e eb ON eb.vec_id = p.b)
        |SELECT a, b, round(rawcos, 4) AS cosine FROM cand
        |WHERE rawcos >= 0.3 ORDER BY a, b""".stripMargin,

    "x_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS list_id,
        |    v AS centroid
        |  FROM e QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
        |a AS (SELECT e.vec_id, e.v, c.list_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rk
        |  FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, v, list_id FROM a WHERE rk = 1),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |probe AS (SELECT c.list_id, q.qv,
        |    row_number() OVER (ORDER BY list_distance(c.centroid, q.qv), c.list_id) AS rk
        |  FROM c CROSS JOIN q),
        |pr AS (SELECT list_id, qv FROM probe WHERE rk <= 2),
        |cand AS (SELECT asg.vec_id, list_cosine_similarity(asg.v, pr.qv) AS rawcos
        |  FROM asg JOIN pr USING (list_id)),
        |topk AS (SELECT vec_id, round(rawcos, 4) AS cos
        |  FROM cand ORDER BY rawcos DESC, vec_id LIMIT 10)
        |SELECT vec_id, cos FROM topk ORDER BY cos DESC, vec_id""".stripMargin,

    // mirrors embeddingNearDup end-to-end: 4-plane buckets (same md5
    // sign matrix), bucket-capped candidate pairs, exact cosine filter
    "x_neardup_embed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pl AS (SELECT unnest(range(0, 4)) AS p),
        |d AS (SELECT e.vec_id, pl.p,
        |    list_sum(list_transform(range(1, 65), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(md5('plane' || pl.p || '_0'),
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN pl),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |ok AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 1000),
        |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM b x JOIN b y USING (bucket)
        |  WHERE x.vec_id < y.vec_id AND bucket IN (SELECT bucket FROM ok)),
        |cand AS (SELECT p.a, p.b, list_cosine_similarity(ea.v, eb.v) AS cosine
        |  FROM pairs p JOIN e ea ON ea.vec_id = p.a JOIN e eb ON eb.vec_id = p.b)
        |SELECT a, b, cosine FROM cand WHERE cosine >= 0.3 ORDER BY a, b""".stripMargin,

    // recall@k: brute-force ground truth (rawcos ranking) vs the
    // multi-query LSH replay (same single-chunk SRP buckets as
    // x_ann_lsh, per-query hamming-1 probes + per-query window)
    "x_ndcg" -> {
      val wq = (1 to 10).map(r => math.floor(
        1.0 / (math.log(r + 1.0) / math.log(2.0)) * 1073741824.0 + 0.5).toLong)
      val wSpine = wq.zipWithIndex.map { case (x, i) =>
        s"SELECT ${i + 1} AS rk, CAST($x AS BIGINT) AS wq" }
        .mkString(" UNION ALL ")
      val pfx = wq.scanLeft(0L)(_ + _).tail
      val pSpine = pfx.zipWithIndex.map { case (x, i) =>
        s"SELECT ${i + 1} AS t, CAST($x AS BIGINT) AS pq" }
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rk
        |    FROM e c CROSS JOIN qs q) WHERE rk <= 10),
        |pl AS (SELECT unnest(range(0, 8)) AS p),
        |d AS (SELECT e.vec_id, pl.p,
        |    list_sum(list_transform(range(1, 65), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(md5('plane' || pl.p || '_0'),
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN pl),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |pr AS (SELECT q.query_id, q.qv,
        |    unnest([b.bucket] || list_transform(range(0, 8),
        |      p -> xor(b.bucket, CAST(pow(2, p) AS BIGINT)))) AS bucket
        |  FROM qs q JOIN b ON q.query_id = b.vec_id),
        |cand AS (SELECT pr.query_id, e.vec_id,
        |    list_cosine_similarity(e.v, pr.qv) AS rawcos
        |  FROM e JOIN b USING (vec_id) JOIN pr USING (bucket)),
        |gotr AS (SELECT query_id, vec_id AS neighbor_id, rk FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rawcos DESC, vec_id) AS rk
        |    FROM cand) WHERE rk <= 10),
        |w AS ($wSpine),
        |px AS ($pSpine),
        |ts AS (SELECT query_id, count(*) AS t FROM truth GROUP BY 1),
        |dcg AS (SELECT g.query_id,
        |    CAST(sum(CASE WHEN tr.neighbor_id IS NOT NULL THEN w.wq
        |      ELSE 0 END) AS DOUBLE) / 1073741824.0 AS dcg
        |  FROM gotr g JOIN w ON g.rk = w.rk
        |  LEFT JOIN truth tr ON g.query_id = tr.query_id
        |    AND g.neighbor_id = tr.neighbor_id
        |  GROUP BY g.query_id)
        |SELECT ts.query_id, coalesce(dcg.dcg, 0.0) AS dcg,
        |  CAST(px.pq AS DOUBLE) / 1073741824.0 AS idcg,
        |  coalesce(dcg.dcg, 0.0) / (CAST(px.pq AS DOUBLE) / 1073741824.0) AS ndcg
        |FROM ts LEFT JOIN dcg USING (query_id)
        |JOIN px ON px.t = least(ts.t, 10)
        |ORDER BY ts.query_id""".stripMargin
    },

    // MRR replay: brute top-3 truth, the multi-query LSH chain cut at
    // 10, min matched rank per query, rr = 1/rank (0 on a miss)
    "x_mrr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rk
        |    FROM e c CROSS JOIN qs q) WHERE rk <= 3),
        |pl AS (SELECT unnest(range(0, 8)) AS p),
        |d AS (SELECT e.vec_id, pl.p,
        |    list_sum(list_transform(range(1, 65), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(md5('plane' || pl.p || '_0'),
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN pl),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |pr AS (SELECT q.query_id, q.qv,
        |    unnest([b.bucket] || list_transform(range(0, 8),
        |      p -> xor(b.bucket, CAST(pow(2, p) AS BIGINT)))) AS bucket
        |  FROM qs q JOIN b ON q.query_id = b.vec_id),
        |cand AS (SELECT pr.query_id, e.vec_id,
        |    list_cosine_similarity(e.v, pr.qv) AS rawcos
        |  FROM e JOIN b USING (vec_id) JOIN pr USING (bucket)),
        |gotr AS (SELECT query_id, vec_id AS neighbor_id, rk FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rawcos DESC, vec_id) AS rk
        |    FROM cand) WHERE rk <= 10),
        |fh AS (SELECT g.query_id, CAST(min(g.rk) AS INT) AS first_hit_rank
        |  FROM gotr g JOIN truth tr ON g.query_id = tr.query_id
        |    AND g.neighbor_id = tr.neighbor_id
        |  GROUP BY 1),
        |qids AS (SELECT DISTINCT query_id FROM truth)
        |SELECT qids.query_id, fh.first_hit_rank,
        |  coalesce(1.0 / CAST(fh.first_hit_rank AS DOUBLE), 0.0) AS rr
        |FROM qids LEFT JOIN fh USING (query_id)
        |ORDER BY query_id""".stripMargin,
    "x_ann_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rk
        |    FROM e c CROSS JOIN qs q) WHERE rk <= 10),
        |pl AS (SELECT unnest(range(0, 8)) AS p),
        |d AS (SELECT e.vec_id, pl.p,
        |    list_sum(list_transform(range(1, 65), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(md5('plane' || pl.p || '_0'),
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN pl),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |pr AS (SELECT q.query_id, q.qv,
        |    unnest([b.bucket] || list_transform(range(0, 8),
        |      p -> xor(b.bucket, CAST(pow(2, p) AS BIGINT)))) AS bucket
        |  FROM qs q JOIN b ON q.query_id = b.vec_id),
        |cand AS (SELECT pr.query_id, e.vec_id,
        |    list_cosine_similarity(e.v, pr.qv) AS rawcos
        |  FROM e JOIN b USING (vec_id) JOIN pr USING (bucket)),
        |got AS (SELECT query_id, vec_id AS neighbor_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rawcos DESC, vec_id) AS rk
        |    FROM cand) WHERE rk <= 10)
        |SELECT t.query_id,
        |  CAST(sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(count(*) AS BIGINT) AS truth_k,
        |  CAST(sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS recall
        |FROM truth t LEFT JOIN got g
        |  ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
        |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    // IVF recall: same deterministic md5-ranked index as x_ann_ivf,
    // multi-query nprobe=2 probes, per-query top-10, recall join
    "x_ann_recall_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rk
        |    FROM e c CROSS JOIN qs q) WHERE rk <= 10),
        |c AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS list_id,
        |    v AS centroid
        |  FROM e QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
        |a AS (SELECT e.vec_id, e.v, c.list_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c.centroid), c.list_id) AS rk
        |  FROM e CROSS JOIN c),
        |asg AS (SELECT vec_id, v, list_id FROM a WHERE rk = 1),
        |pr AS (SELECT list_id, query_id, qv FROM (
        |    SELECT c.list_id, q.query_id, q.qv,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(c.centroid, q.qv), c.list_id) AS rk
        |    FROM c CROSS JOIN qs q) WHERE rk <= 2),
        |got AS (SELECT query_id, vec_id AS neighbor_id FROM (
        |    SELECT pr.query_id, asg.vec_id,
        |      row_number() OVER (PARTITION BY pr.query_id
        |        ORDER BY list_cosine_similarity(asg.v, pr.qv) DESC, asg.vec_id) AS rk
        |    FROM asg JOIN pr USING (list_id)) WHERE rk <= 10)
        |SELECT t.query_id,
        |  CAST(sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(count(*) AS BIGINT) AS truth_k,
        |  CAST(sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS recall
        |FROM truth t LEFT JOIN got g
        |  ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
        |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    // assignToCentroids: even-vector index centroids (md5-ranked over
    // the even slice), odd batch assigned by the same L2 argmin
    "x_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ev AS (SELECT * FROM e WHERE vec_id % 2 = 0),
        |c AS (SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) - 1 AS list_id,
        |    v AS centroid
        |  FROM ev QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8),
        |od AS (SELECT * FROM e WHERE vec_id % 2 = 1),
        |a AS (SELECT od.vec_id, c.list_id,
        |    row_number() OVER (PARTITION BY od.vec_id
        |      ORDER BY list_distance(od.v, c.centroid), c.list_id) AS rk
        |  FROM od CROSS JOIN c)
        |SELECT vec_id, list_id FROM a WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    // SymSpell blocking replay: variant set = the string plus every
    // single-character deletion; pairs sharing a variant are the
    // complete distance<=1 candidate set, then the exact filter
    "x_fuzzy_join" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        |v AS (SELECT id, s, unnest(list_distinct(list_append(
        |    list_transform(range(1, length(s)+1),
        |      i -> substring(s, 1, CAST(i-1 AS INT)) || substring(s, CAST(i+1 AS INT), 100)), s))) AS k
        |  FROM c),
        |p AS (SELECT DISTINCT l.id AS a, r.id AS b, l.s AS s_a, r.s AS s_b
        |      FROM v l JOIN v r USING (k) WHERE l.id < r.id)
        |SELECT a, b, CAST(levenshtein(s_a, s_b) AS INT) AS dist
        |FROM p WHERE levenshtein(s_a, s_b) <= 1 ORDER BY a, b""".stripMargin,

    "x_fuzzy_mp" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        |v AS (SELECT id, s, unnest(list_distinct(list_append(
        |    list_transform(range(1, length(s)+1),
        |      i -> substring(s, 1, CAST(i-1 AS INT)) || substring(s, CAST(i+1 AS INT), 100)), s))) AS k
        |  FROM c),
        |pd AS (SELECT DISTINCT l.id AS a, r.id AS b, l.s AS s_a, r.s AS s_b
        |      FROM v l JOIN v r USING (k) WHERE l.id < r.id),
        |rr AS (SELECT id, s, row_number() OVER (ORDER BY s, id) AS rid
        |  FROM c WHERE s IS NOT NULL),
        |p0 AS (SELECT l.id AS ida, l.s AS sa, r2.id AS idb, r2.s AS sb
        |  FROM rr l JOIN rr r2 ON r2.rid > l.rid AND r2.rid <= l.rid + 3),
        |ps AS (SELECT DISTINCT
        |    CASE WHEN ida < idb THEN ida ELSE idb END AS a,
        |    CASE WHEN ida < idb THEN idb ELSE ida END AS b,
        |    CASE WHEN ida < idb THEN sa ELSE sb END AS s_a,
        |    CASE WHEN ida < idb THEN sb ELSE sa END AS s_b
        |  FROM p0),
        |u AS (
        |  SELECT a, b, CAST(levenshtein(s_a, s_b) AS INT) AS dist
        |  FROM pd WHERE levenshtein(s_a, s_b) <= 1
        |  UNION
        |  SELECT a, b, CAST(levenshtein(s_a, s_b) AS INT) AS dist
        |  FROM ps WHERE levenshtein(s_a, s_b) <= 1)
        |SELECT a, b, dist FROM u ORDER BY a, b""".stripMargin,

    "x_fuzzy_sn" ->
      """WITH r AS (SELECT c_custkey AS id, c_name AS s,
        |    row_number() OVER (ORDER BY c_name, c_custkey) AS rid
        |  FROM customer WHERE c_name IS NOT NULL),
        |p0 AS (SELECT l.id AS ida, l.s AS sa, r2.id AS idb, r2.s AS sb
        |  FROM r l JOIN r r2
        |    ON r2.rid > l.rid AND r2.rid <= l.rid + 3),
        |p AS (SELECT DISTINCT
        |    CASE WHEN ida < idb THEN ida ELSE idb END AS a,
        |    CASE WHEN ida < idb THEN idb ELSE ida END AS b,
        |    CASE WHEN ida < idb THEN sa ELSE sb END AS s_a,
        |    CASE WHEN ida < idb THEN sb ELSE sa END AS s_b
        |  FROM p0)
        |SELECT a, b, CAST(levenshtein(s_a, s_b) AS INT) AS dist
        |FROM p WHERE levenshtein(s_a, s_b) <= 2 ORDER BY a, b""".stripMargin,

    // Fellegi-Sunter replay: SN pairs -> agreement patterns -> the
    // generated 20-iteration EM unroll (identical IEEE chain)
    "x_fellegi" -> FellegiSql.select,

    "x_fuzzy_lookup" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        |pr AS (SELECT id + 1000000000 AS pid,
        |    substring(s, 1, CAST(id % 18 AS INT)) ||
        |      substring(s, CAST(id % 18 + 2 AS INT), 100) AS ps FROM c),
        |pv AS (SELECT pid, ps, unnest(list_distinct(list_append(
        |    list_transform(range(1, length(ps)+1),
        |      i -> substring(ps, 1, CAST(i-1 AS INT)) || substring(ps, CAST(i+1 AS INT), 100)), ps))) AS k
        |  FROM pr),
        |cv AS (SELECT id, s, unnest(list_distinct(list_append(
        |    list_transform(range(1, length(s)+1),
        |      i -> substring(s, 1, CAST(i-1 AS INT)) || substring(s, CAST(i+1 AS INT), 100)), s))) AS k
        |  FROM c),
        |p AS (SELECT DISTINCT pid, id, ps, s FROM pv JOIN cv USING (k))
        |SELECT pid AS probe_id, id AS c_custkey, CAST(levenshtein(ps, s) AS INT) AS dist
        |FROM p WHERE levenshtein(ps, s) <= 1 ORDER BY probe_id, c_custkey""".stripMargin,

    // entity resolution replay: the x_fuzzy_join pair recipe, the
    // x_dedup_clusters recursive closure, canonical per entity by
    // (length DESC, id ASC), sizes over ALL rows (singletons = 1)
    // blocking-audit replay: SymSpell deletion pairs as candidates,
    // deletion ∪ sort-window(4) as the truth reference, exact counts
    "x_blocking" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        |v AS (SELECT id, s, unnest(list_distinct(list_append(
        |    list_transform(range(1, length(s)+1),
        |      i -> substring(s, 1, CAST(i-1 AS INT)) || substring(s, CAST(i+1 AS INT), 100)), s))) AS k
        |  FROM c),
        |p1 AS (SELECT DISTINCT l.id AS a, r.id AS b
        |  FROM v l JOIN v r USING (k)
        |  WHERE l.id < r.id AND levenshtein(l.s, r.s) <= 1),
        |rk AS (SELECT id, s, row_number() OVER (ORDER BY s, id) AS rid FROM c),
        |p2 AS (SELECT DISTINCT least(l.id, r.id) AS a, greatest(l.id, r.id) AS b
        |  FROM rk l JOIN rk r ON r.rid BETWEEN l.rid + 1 AND l.rid + 3
        |  WHERE levenshtein(l.s, r.s) <= 1),
        |tru AS (SELECT a, b FROM p1 UNION SELECT a, b FROM p2),
        |agg AS (SELECT (SELECT count(*) FROM c) AS n_rows,
        |  (SELECT count(*) FROM p1) AS n_candidates,
        |  (SELECT count(*) FROM tru) AS n_truth,
        |  (SELECT count(*) FROM tru WHERE EXISTS (SELECT 1 FROM p1
        |     WHERE p1.a = tru.a AND p1.b = tru.b)) AS covered)
        |SELECT n_rows,
        |  CAST(n_rows * (n_rows - 1) / 2 AS BIGINT) AS all_pairs,
        |  n_candidates, n_truth, covered,
        |  CASE WHEN n_truth > 0
        |    THEN CAST(covered AS DOUBLE) / CAST(n_truth AS DOUBLE) END
        |    AS pair_completeness,
        |  CASE WHEN n_rows > 1 THEN 1.0 - CAST(n_candidates AS DOUBLE)
        |    / CAST(CAST(n_rows * (n_rows - 1) / 2 AS BIGINT) AS DOUBLE) END
        |    AS reduction_ratio
        |FROM agg""".stripMargin,

    "x_entity_res" ->
      """WITH RECURSIVE c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        |v AS (SELECT id, s, unnest(list_distinct(list_append(
        |    list_transform(range(1, length(s)+1),
        |      i -> substring(s, 1, CAST(i-1 AS INT)) || substring(s, CAST(i+1 AS INT), 100)), s))) AS k
        |  FROM c),
        |p AS (SELECT DISTINCT l.id AS a, r.id AS b
        |      FROM v l JOIN v r USING (k)
        |      WHERE l.id < r.id AND levenshtein(l.s, r.s) <= 1),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE r.a <> e.b),
        |cl AS (SELECT a AS id, least(a, min(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |scored AS (SELECT c.id, c.s, coalesce(cl.cluster_id, c.id) AS entity_id,
        |    length(c.s) AS pref
        |  FROM c LEFT JOIN cl USING (id)),
        |reps AS (SELECT entity_id, id AS canonical_id, s AS canonical_s FROM (
        |    SELECT entity_id, id, s,
        |      row_number() OVER (PARTITION BY entity_id ORDER BY pref DESC, id) AS rn
        |    FROM scored) WHERE rn = 1),
        |cnt AS (SELECT entity_id, count(*) AS n_members FROM scored GROUP BY 1)
        |SELECT scored.id, scored.entity_id, reps.canonical_id, reps.canonical_s,
        |  cnt.n_members, (scored.id = reps.canonical_id) AS is_canonical
        |FROM scored JOIN reps USING (entity_id) JOIN cnt USING (entity_id)
        |ORDER BY scored.id""".stripMargin,

    // merge/purge pair frame swapped into the same closure replay
    "x_entity_res_mp" ->
      """WITH RECURSIVE c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        |v AS (SELECT id, s, unnest(list_distinct(list_append(
        |    list_transform(range(1, length(s)+1),
        |      i -> substring(s, 1, CAST(i-1 AS INT)) || substring(s, CAST(i+1 AS INT), 100)), s))) AS k
        |  FROM c),
        |rr AS (SELECT id, s, row_number() OVER (ORDER BY s, id) AS rid
        |  FROM c WHERE s IS NOT NULL),
        |p AS (SELECT DISTINCT a, b FROM (
        |      SELECT l.id AS a, r.id AS b
        |      FROM v l JOIN v r USING (k)
        |      WHERE l.id < r.id AND levenshtein(l.s, r.s) <= 1
        |      UNION
        |      SELECT CASE WHEN l.id < r2.id THEN l.id ELSE r2.id END AS a,
        |             CASE WHEN l.id < r2.id THEN r2.id ELSE l.id END AS b
        |      FROM rr l JOIN rr r2
        |        ON r2.rid > l.rid AND r2.rid <= l.rid + 3
        |      WHERE levenshtein(l.s, r2.s) <= 1)),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE r.a <> e.b),
        |cl AS (SELECT a AS id, least(a, min(b)) AS cluster_id
        |  FROM reach GROUP BY a),
        |scored AS (SELECT c.id, c.s, coalesce(cl.cluster_id, c.id) AS entity_id,
        |    length(c.s) AS pref
        |  FROM c LEFT JOIN cl USING (id)),
        |reps AS (SELECT entity_id, id AS canonical_id, s AS canonical_s FROM (
        |    SELECT entity_id, id, s,
        |      row_number() OVER (PARTITION BY entity_id ORDER BY pref DESC, id) AS rn
        |    FROM scored) WHERE rn = 1),
        |cnt AS (SELECT entity_id, count(*) AS n_members FROM scored GROUP BY 1)
        |SELECT scored.id, scored.entity_id, reps.canonical_id, reps.canonical_s,
        |  cnt.n_members, (scored.id = reps.canonical_id) AS is_canonical
        |FROM scored JOIN reps USING (entity_id) JOIN cnt USING (entity_id)
        |ORDER BY scored.id""".stripMargin,


    // both retrieval directions, the decimal-exact penalties, the
    // margin division, and the max_by(margin, tgt_id) argmax replay;
    // round(…,4) on output only, internals on raw doubles
    "x_bitext" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |src AS (SELECT * FROM e WHERE vec_id % 2 = 0),
        |tgt AS (SELECT * FROM e WHERE vec_id % 2 = 1),
        |fwd AS (SELECT query_id, neighbor_id, cos FROM (
        |  SELECT s.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    list_cosine_similarity(t.v, s.v) AS cos,
        |    row_number() OVER (PARTITION BY s.vec_id
        |      ORDER BY list_cosine_similarity(t.v, s.v) DESC, t.vec_id) AS rk
        |  FROM src s CROSS JOIN tgt t) WHERE rk <= 4),
        |rev AS (SELECT query_id, neighbor_id, cos FROM (
        |  SELECT t.vec_id AS query_id, s.vec_id AS neighbor_id,
        |    list_cosine_similarity(s.v, t.v) AS cos,
        |    row_number() OVER (PARTITION BY t.vec_id
        |      ORDER BY list_cosine_similarity(s.v, t.v) DESC, s.vec_id) AS rk
        |  FROM tgt t CROSS JOIN src s) WHERE rk <= 4),
        |px AS (SELECT query_id,
        |    (CAST(CAST(sum(CAST(cos AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        |      / CAST(count(cos) AS DOUBLE)) AS px FROM fwd GROUP BY query_id),
        |py AS (SELECT query_id,
        |    (CAST(CAST(sum(CAST(cos AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        |      / CAST(count(cos) AS DOUBLE)) AS py FROM rev GROUP BY query_id),
        |sc AS (SELECT f.query_id AS src_id, f.neighbor_id AS tgt_id, f.cos,
        |    f.cos / ((px.px + py.py)/2) AS margin
        |  FROM fwd f JOIN px ON px.query_id = f.query_id
        |             JOIN py ON py.query_id = f.neighbor_id),
        |best AS (SELECT *, row_number() OVER (PARTITION BY src_id
        |    ORDER BY margin DESC, tgt_id DESC) AS rk FROM sc)
        |SELECT src_id, tgt_id, round(cos, 4) AS cos, round(margin, 4) AS margin
        |FROM best WHERE rk = 1 AND margin >= 1.0 ORDER BY src_id""".stripMargin,

    // the x_bitext margin replay with the x_ann_lsh bucket replay
    // underneath: per-vector SRP buckets, 9-probe candidate join per
    // side, top-4, then the identical decimal-mean margins
    "x_bitext_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pl AS (SELECT unnest(range(0, 8)) AS p),
        |d AS (SELECT e.vec_id, pl.p,
        |    list_sum(list_transform(range(1, 65), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(md5('plane' || pl.p || '_0'),
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN pl),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |eb AS (SELECT e.vec_id, e.v, b.bucket FROM e JOIN b USING (vec_id)),
        |src AS (SELECT * FROM eb WHERE vec_id % 2 = 0),
        |tgt AS (SELECT * FROM eb WHERE vec_id % 2 = 1),
        |sprobe AS (SELECT vec_id AS query_id, v AS qv,
        |    unnest([bucket] || list_transform(range(0, 8),
        |      p -> xor(bucket, CAST(pow(2, p) AS BIGINT)))) AS bucket FROM src),
        |tprobe AS (SELECT vec_id AS query_id, v AS qv,
        |    unnest([bucket] || list_transform(range(0, 8),
        |      p -> xor(bucket, CAST(pow(2, p) AS BIGINT)))) AS bucket FROM tgt),
        |fwd AS (SELECT query_id, neighbor_id, cos FROM (
        |    SELECT pr.query_id, t.vec_id AS neighbor_id,
        |      list_cosine_similarity(t.v, pr.qv) AS cos,
        |      row_number() OVER (PARTITION BY pr.query_id
        |        ORDER BY list_cosine_similarity(t.v, pr.qv) DESC, t.vec_id) AS rk
        |    FROM tgt t JOIN sprobe pr USING (bucket)) WHERE rk <= 4),
        |rev AS (SELECT query_id, neighbor_id, cos FROM (
        |    SELECT pr.query_id, s.vec_id AS neighbor_id,
        |      list_cosine_similarity(s.v, pr.qv) AS cos,
        |      row_number() OVER (PARTITION BY pr.query_id
        |        ORDER BY list_cosine_similarity(s.v, pr.qv) DESC, s.vec_id) AS rk
        |    FROM src s JOIN tprobe pr USING (bucket)) WHERE rk <= 4),
        |px AS (SELECT query_id,
        |    (CAST(CAST(sum(CAST(cos AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        |      / CAST(count(cos) AS DOUBLE)) AS px FROM fwd GROUP BY query_id),
        |py AS (SELECT query_id,
        |    (CAST(CAST(sum(CAST(cos AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
        |      / CAST(count(cos) AS DOUBLE)) AS py FROM rev GROUP BY query_id),
        |sc AS (SELECT f.query_id AS src_id, f.neighbor_id AS tgt_id, f.cos,
        |    f.cos / ((px.px + py.py)/2) AS margin
        |  FROM fwd f JOIN px ON px.query_id = f.query_id
        |             JOIN py ON py.query_id = f.neighbor_id),
        |best AS (SELECT *, row_number() OVER (PARTITION BY src_id
        |    ORDER BY margin DESC, tgt_id DESC) AS rk FROM sc)
        |SELECT src_id, tgt_id, round(cos, 4) AS cos, round(margin, 4) AS margin
        |FROM best WHERE rk = 1 AND margin >= 1.0 ORDER BY src_id""".stripMargin,

    // brute top-20 replay -> lang lookups -> mismatch filter -> per-
    // anchor re-rank (ranking always on RAW cos; rounding only in the
    // projection, the proven x_ann_brute convention)
    "x_hardneg" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |cand AS (SELECT query_id, vec_id, rawcos FROM (
        |    SELECT q.query_id, c.vec_id,
        |      list_cosine_similarity(c.v, q.qv) AS rawcos,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rk
        |    FROM e c CROSS JOIN qs q) WHERE rk <= 20),
        |m AS (SELECT cand.query_id, cand.vec_id, cand.rawcos,
        |    ql.lang AS q_label, cl.lang AS c_label
        |  FROM cand
        |  JOIN documents ql ON cand.query_id = ql.doc_id
        |  JOIN documents cl ON cand.vec_id = cl.doc_id
        |  WHERE cl.lang IS DISTINCT FROM ql.lang),
        |r AS (SELECT query_id, vec_id, rawcos, q_label, c_label,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rawcos DESC, vec_id) AS BIGINT) AS neg_rank
        |  FROM m)
        |SELECT query_id, vec_id, round(rawcos, 4) AS cos, q_label, c_label, neg_rank
        |FROM r WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin,

    // replays the Jia-2019 suffix recursion: round-6 cosine sort key
    // (id tiebreak), lead() match flags, the delta suffix sum, and
    // the per-point round-6 average over validation queries
    "x_shapley" ->
      """WITH j AS (SELECT t.vec_id AS id, t.label AS y,
        |    q.vec_id AS query_id, q.label AS qy,
        |    round(list_cosine_similarity(t.embedding::DOUBLE[],
        |      q.embedding::DOUBLE[]), 6) AS cos
        |  FROM embeddings t
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
        |  WHERE t.vec_id >= 10),
        |o AS (SELECT *,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS idx,
        |    count(*) OVER (PARTITION BY query_id) AS n,
        |    CASE WHEN y = qy THEN 1.0 ELSE 0.0 END AS m
        |  FROM j),
        |d AS (SELECT *, lead(m) OVER (PARTITION BY query_id ORDER BY idx) AS mn
        |  FROM o),
        |e AS (SELECT *,
        |    CASE WHEN idx = n THEN 0.0
        |      ELSE (m - mn) / 5.0 * least(5.0, CAST(idx AS DOUBLE))
        |        / CAST(idx AS DOUBLE) END AS delta,
        |    max(CASE WHEN idx = n THEN m / CAST(n AS DOUBLE) END)
        |      OVER (PARTITION BY query_id) AS slast
        |  FROM d),
        |s AS (SELECT id, y, slast + sum(delta) OVER (PARTITION BY query_id
        |    ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS si
        |  FROM e)
        |SELECT id, y AS label,
        |  round((CAST(sum(CAST(FLOOR(si * 1099511627776.0 + 0.5)
        |      AS DECIMAL(38,0))) AS DOUBLE) / 1099511627776.0)
        |    / CAST(count(*) AS DOUBLE), 6) AS shapley
        |FROM s GROUP BY 1, 2 ORDER BY shapley DESC, id""".stripMargin,

    "x_ann_brute" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS rawcos
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q),
        |ranked AS (
        |  SELECT query_id, neighbor_id, rawcos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rawcos DESC, neighbor_id) AS rk
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(rawcos, 4) AS cos, CAST(rk AS INT) AS rank
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,

    // both rankings replayed (the x_ann_recall recipes, ranks kept),
    // then each matched pair contributes its closed-form dyadic tail
    // — the CASE literals are the same doubles the Spark side inlines
    "x_rbo" -> {
      val k = 10
      val tail = (1 to k).map(d0 => (d0 to k).map(d => math.pow(0.5, d - 1) / d).sum)
      val norm = (1 to k).map(d => math.pow(0.5, d - 1)).sum
      val cases = (1 to k).map(d => s"WHEN $d THEN CAST(${tail(d - 1)} AS DOUBLE)").mkString(" ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qs AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        |truth AS (SELECT query_id, neighbor_id, rk FROM (
        |    SELECT q.query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rk
        |    FROM e c CROSS JOIN qs q) WHERE rk <= 10),
        |pl AS (SELECT unnest(range(0, 8)) AS p),
        |d AS (SELECT e.vec_id, pl.p,
        |    list_sum(list_transform(range(1, 65), k ->
        |      v[CAST(k AS INT)] * (CAST(floor(
        |          (strpos('0123456789abcdef', substring(md5('plane' || pl.p || '_0'),
        |             CAST(floor((k-1)/4) AS INT) + 1, 1)) - 1)
        |          / pow(2, (k-1) % 4)) AS INT) % 2 * 2 - 1))) AS dot
        |  FROM e CROSS JOIN pl),
        |b AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM d GROUP BY 1),
        |pr AS (SELECT q.query_id, q.qv,
        |    unnest([b.bucket] || list_transform(range(0, 8),
        |      p -> xor(b.bucket, CAST(pow(2, p) AS BIGINT)))) AS bucket
        |  FROM qs q JOIN b ON q.query_id = b.vec_id),
        |cand AS (SELECT pr.query_id, e.vec_id,
        |    list_cosine_similarity(e.v, pr.qv) AS rawcos
        |  FROM e JOIN b USING (vec_id) JOIN pr USING (bucket)),
        |got AS (SELECT query_id, vec_id AS neighbor_id, rk FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rawcos DESC, vec_id) AS rk
        |    FROM cand) WHERE rk <= 10),
        |j AS (SELECT t.query_id,
        |    CASE greatest(t.rk, g.rk) $cases END AS contrib
        |  FROM truth t JOIN got g
        |    ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id),
        |agg AS (SELECT query_id,
        |    ${graft.functions.Exact.dsumSql("contrib")} / CAST($norm AS DOUBLE) AS rbo
        |  FROM j GROUP BY query_id)
        |SELECT q.query_id, coalesce(agg.rbo, 0.0) AS rbo
        |FROM (SELECT DISTINCT query_id FROM truth) q
        |LEFT JOIN agg ON q.query_id = agg.query_id ORDER BY q.query_id""".stripMargin
    },

    // bigram bins via the 12-hex md5 decode, add-1 smoothed bin
    // probabilities from integer counts, ln of exact ratios, and the
    // decimal-bridged per-doc sum — replays dsirWeights end to end
    "x_dsir" ->
      s"""WITH tok AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, source, unnest(
        |    CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS gr
        |  FROM tok),
        |b AS (SELECT doc_id, source,
        |    CAST(list_sum(list_transform(range(1, 13), j ->
        |      (strpos('0123456789abcdef', substring(md5(gr), CAST(j AS INT), 1)) - 1)
        |        * pow(16, 12 - j))) AS BIGINT) % 1024 AS bin
        |  FROM g),
        |rc AS (SELECT bin, count(*) AS cr FROM b GROUP BY bin),
        |tc AS (SELECT bin, count(*) AS ct FROM b WHERE source = 'src0' GROUP BY bin),
        |tot AS (SELECT (SELECT sum(cr) FROM rc) AS tr, (SELECT sum(ct) FROM tc) AS tt),
        |ratio AS (SELECT rc.bin,
        |    ln(((CAST(coalesce(tc.ct, 0) AS DOUBLE) + 1.0) / (CAST(tot.tt AS DOUBLE) + 1024.0))
        |      / ((CAST(rc.cr AS DOUBLE) + 1.0) / (CAST(tot.tr AS DOUBLE) + 1024.0))) AS lr
        |  FROM rc LEFT JOIN tc ON rc.bin = tc.bin CROSS JOIN tot),
        |w AS (SELECT b.doc_id, ${graft.functions.Exact.dsumSql("ratio.lr")} AS weight
        |  FROM b JOIN ratio ON b.bin = ratio.bin GROUP BY b.doc_id)
        |SELECT d.doc_id, d.source, coalesce(w.weight, 0.0) AS weight
        |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // the sketches replay as DISTINCT md5 ORDER BY LIMIT k; union-k,
    // intersection, and the (k-1)/frac(kth) estimator are list math
    "x_kmv" ->
      """WITH ex AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |inc AS (SELECT DISTINCT md5(text) AS h FROM (
        |  SELECT text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0)),
        |sa AS (SELECT list(h ORDER BY h) AS s FROM (SELECT h FROM ex ORDER BY h LIMIT 64)),
        |sb AS (SELECT list(h ORDER BY h) AS s FROM (SELECT h FROM inc ORDER BY h LIMIT 64)),
        |j AS (SELECT sa.s AS a, sb.s AS b,
        |    list_sort(list_distinct(sa.s || sb.s))[1:64] AS u FROM sa, sb),
        |m AS (SELECT len(u) AS k_used,
        |    len(list_intersect(u, list_intersect(a, b))) AS n_both,
        |    a, b, u FROM j)
        |SELECT CAST(k_used AS INT) AS k_used, CAST(n_both AS INT) AS n_both,
        |  CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE) AS jaccard_est,
        |  CASE WHEN len(a) < 64 THEN CAST(len(a) AS DOUBLE)
        |    ELSE 63.0 / (list_sum(list_transform(range(1, 13), j ->
        |      (strpos('0123456789abcdef', substring(a[64], CAST(j AS INT), 1)) - 1)
        |        * pow(16, 12 - j))) / 281474976710656.0) END AS est_distinct_a,
        |  CASE WHEN len(b) < 64 THEN CAST(len(b) AS DOUBLE)
        |    ELSE 63.0 / (list_sum(list_transform(range(1, 13), j ->
        |      (strpos('0123456789abcdef', substring(b[64], CAST(j AS INT), 1)) - 1)
        |        * pow(16, 12 - j))) / 281474976710656.0) END AS est_distinct_b
        |FROM m""".stripMargin,

    // the standing stream sketch equals the two-scan batch sketch
    // (k-min union) - x_kmv's replay verbatim
    "s_kmv" ->
      """WITH ex AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
        |inc AS (SELECT DISTINCT md5(text) AS h FROM (
        |  SELECT text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0)),
        |sa AS (SELECT list(h ORDER BY h) AS s FROM (SELECT h FROM ex ORDER BY h LIMIT 64)),
        |sb AS (SELECT list(h ORDER BY h) AS s FROM (SELECT h FROM inc ORDER BY h LIMIT 64)),
        |j AS (SELECT sa.s AS a, sb.s AS b,
        |    list_sort(list_distinct(sa.s || sb.s))[1:64] AS u FROM sa, sb),
        |m AS (SELECT len(u) AS k_used,
        |    len(list_intersect(u, list_intersect(a, b))) AS n_both,
        |    a, b, u FROM j)
        |SELECT CAST(k_used AS INT) AS k_used, CAST(n_both AS INT) AS n_both,
        |  CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE) AS jaccard_est,
        |  CASE WHEN len(a) < 64 THEN CAST(len(a) AS DOUBLE)
        |    ELSE 63.0 / (list_sum(list_transform(range(1, 13), j ->
        |      (strpos('0123456789abcdef', substring(a[64], CAST(j AS INT), 1)) - 1)
        |        * pow(16, 12 - j))) / 281474976710656.0) END AS est_distinct_a,
        |  CASE WHEN len(b) < 64 THEN CAST(len(b) AS DOUBLE)
        |    ELSE 63.0 / (list_sum(list_transform(range(1, 13), j ->
        |      (strpos('0123456789abcdef', substring(b[64], CAST(j AS INT), 1)) - 1)
        |        * pow(16, 12 - j))) / 281474976710656.0) END AS est_distinct_b
        |FROM m""".stripMargin,

    // exact-regime Misra-Gries: k above the key cardinality means the
    // summary is the plain count table and err_bound is 0
    "x_heavy" ->
      """SELECT event_type || '#' || CAST(user_id % 100 AS VARCHAR) AS item,
        |  count(*) AS est, CAST(0 AS BIGINT) AS err_bound
        |FROM events GROUP BY 1 ORDER BY est DESC, item""".stripMargin,

    // grouped exact regime: per-stratum count tables, per-stratum
    // err_bound 0
    "x_heavy_by" ->
      """SELECT event_type, CAST(user_id % 300 AS VARCHAR) AS item,
        |  count(*) AS est, CAST(0 AS BIGINT) AS err_bound
        |FROM events GROUP BY 1, 2
        |ORDER BY event_type, est DESC, item""".stripMargin,

    // the standing summary after the last micro-batch is the same
    // exact count table (merge = plain sums below the k cap)
    "s_heavy" ->
      """SELECT event_type || '#' || CAST(user_id % 100 AS VARCHAR) AS item,
        |  count(*) AS est, CAST(0 AS BIGINT) AS err_bound
        |FROM events GROUP BY 1 ORDER BY est DESC, item""".stripMargin,

    "x_trending" ->
      """WITH a AS (SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT wstart + INTERVAL 1 HOUR AS wstart, event_type, n AS n_prev FROM a)
        |SELECT a.wstart, a.event_type, a.n, coalesce(p.n_prev, 0) AS n_prev,
        |  (CAST(a.n AS DOUBLE) + 1.0) / (CAST(coalesce(p.n_prev, 0) AS DOUBLE) + 1.0) AS trend
        |FROM a LEFT JOIN p ON a.wstart = p.wstart AND a.event_type = p.event_type
        |ORDER BY a.wstart, a.event_type""".stripMargin,

    // Mann-Kendall replay: pairwise sign sum + tie-corrected variance,
    // all exact integers until the final sqrt/divide
    "x_trend_mk" ->
      """WITH h AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS t,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.key AS key, sign(b.y - a.y) AS sg
        |  FROM h a JOIN h b ON a.key = b.key AND a.t < b.t),
        |s AS (SELECT key, CAST(sum(CAST(sg AS BIGINT)) AS BIGINT) AS s_stat
        |  FROM p GROUP BY key),
        |tv AS (SELECT key, y, CAST(count(*) AS BIGINT) AS tc
        |  FROM h GROUP BY key, y),
        |tt AS (SELECT key, CAST(sum(tc) AS BIGINT) AS n,
        |    CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tterm
        |  FROM tv GROUP BY key)
        |SELECT tt.key, tt.n, COALESCE(s.s_stat, 0) AS s_stat,
        |  CAST(tt.n * (tt.n - 1) * (2 * tt.n + 5) - tt.tterm AS DOUBLE) / 18.0
        |    AS var_s,
        |  CASE WHEN CAST(tt.n * (tt.n - 1) * (2 * tt.n + 5) - tt.tterm AS DOUBLE) / 18.0 <= 0.0
        |      THEN NULL
        |    WHEN COALESCE(s.s_stat, 0) > 0 THEN CAST(COALESCE(s.s_stat, 0) - 1 AS DOUBLE)
        |      / sqrt(CAST(tt.n * (tt.n - 1) * (2 * tt.n + 5) - tt.tterm AS DOUBLE) / 18.0)
        |    WHEN COALESCE(s.s_stat, 0) < 0 THEN CAST(COALESCE(s.s_stat, 0) + 1 AS DOUBLE)
        |      / sqrt(CAST(tt.n * (tt.n - 1) * (2 * tt.n + 5) - tt.tterm AS DOUBLE) / 18.0)
        |    ELSE 0.0 END AS z
        |FROM tt LEFT JOIN s USING (key) ORDER BY key""".stripMargin,

    // Theil-Sen replay: median of pair slopes + median residual
    // intercept under the explicit order-statistic convention (odd m
    // = the middle row, even m = single-op mean of the two middles)
    "x_theil_sen" ->
      """WITH h AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS t,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.key AS key,
        |    (b.y - a.y) / CAST(b.t - a.t AS DOUBLE) AS slope
        |  FROM h a JOIN h b ON a.key = b.key AND a.t < b.t),
        |rs AS (SELECT key, slope,
        |    row_number() OVER (PARTITION BY key ORDER BY slope) AS rn,
        |    count(*) OVER (PARTITION BY key) AS m FROM p),
        |sl AS (SELECT key, sum(slope) / CAST(count(*) AS DOUBLE) AS slope,
        |    CAST(max(m) AS BIGINT) AS n_pairs
        |  FROM rs WHERE rn = floor((m + 1) / 2.0) OR rn = floor(m / 2.0) + 1
        |  GROUP BY key),
        |r2 AS (SELECT h.key AS key, h.y - sl.slope * CAST(h.t AS DOUBLE) AS resid
        |  FROM h JOIN sl ON h.key = sl.key),
        |ri AS (SELECT key, resid,
        |    row_number() OVER (PARTITION BY key ORDER BY resid) AS rn,
        |    count(*) OVER (PARTITION BY key) AS m FROM r2),
        |ic AS (SELECT key, sum(resid) / CAST(count(*) AS DOUBLE) AS intercept
        |  FROM ri WHERE rn = floor((m + 1) / 2.0) OR rn = floor(m / 2.0) + 1
        |  GROUP BY key),
        |n AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY key)
        |SELECT n.key, n.n, COALESCE(sl.n_pairs, 0) AS n_pairs,
        |  sl.slope, ic.intercept
        |FROM n LEFT JOIN sl USING (key) LEFT JOIN ic USING (key)
        |ORDER BY key""".stripMargin,

    // ACF replay: exact HUGEINT numerator/denominator (the n²-scaled
    // mean-centered identity), one string-bridged closing division
    "x_acf" -> AcfSql.acfSelect,

    // the streaming fold's final standing read is bit-identical to
    // the batch ACF — x_acf's oracle verbatim
    "s_acf" -> AcfSql.acfSelect,

    // Ljung-Box replay: pivot the six bit-replayable ACF values, then
    // the identical ascending-lag left-fold IEEE chain
    "x_ljung_box" -> AcfSql.ljungBoxSelect,

    // PACF replay: the same Durbin-Levinson unroll generated from the
    // same recursion — identical IEEE chain stage by stage
    "x_pacf" -> AcfSql.pacfSelect,

    // runs-test replay: exact integer classify (n·y vs S, ties
    // dropped), window lag run starts, the identical fixed z chain
    "x_runs_test" ->
      """WITH h AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS s FROM h GROUP BY key),
        |c AS (SELECT h.key AS key, h.t AS t, (st.n * h.y > st.s) AS above
        |  FROM h JOIN st ON h.key = st.key WHERE st.n * h.y <> st.s),
        |mk AS (SELECT key, above,
        |    lag(above) OVER (PARTITION BY key ORDER BY t) AS prev FROM c),
        |a AS (SELECT key,
        |    CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |    CAST(sum(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT) AS n_below,
        |    CAST(sum(CASE WHEN prev IS NULL OR prev <> above THEN 1 ELSE 0 END)
        |      AS BIGINT) AS runs
        |  FROM mk GROUP BY key),
        |a2 AS (SELECT key, n_above, n_below, runs,
        |    CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) AS prod,
        |    CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE) AS np
        |  FROM a)
        |SELECT key, n_above, n_below, runs,
        |  CASE WHEN n_above > 0 AND n_below > 0 AND n_above + n_below > 1
        |      AND prod * 2.0 * (prod * 2.0 - np) / (np * np * (np - 1.0)) > 0.0
        |    THEN (CAST(runs AS DOUBLE) - (prod * 2.0 / np + 1.0))
        |      / sqrt(prod * 2.0 * (prod * 2.0 - np) / (np * np * (np - 1.0)))
        |    END AS z
        |FROM a2 ORDER BY key""".stripMargin,

    // Welch replay: the x_did cell recipe on two cohorts, identical
    // t/df chain
    "x_welch" -> {
      def cell(cond: String, tag: String) =
        s"""CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n$tag,
           |    ${graft.functions.Exact.dsumSql(s"CASE WHEN $cond THEN y END")} AS s$tag,
           |    ${graft.functions.Exact.dprodSumSql(
                 s"CASE WHEN $cond THEN y END", s"CASE WHEN $cond THEN y END")} AS q$tag""".stripMargin
      def mean(tag: String) = s"(s$tag / CAST(n$tag AS DOUBLE))"
      def vm(tag: String) =
        s"""(CASE WHEN n$tag > 1 THEN ((q$tag - s$tag * s$tag
           | / CAST(n$tag AS DOUBLE)) / (CAST(n$tag AS DOUBLE) - 1.0))
           | / CAST(n$tag AS DOUBLE) END)""".stripMargin.replace("\n", "")
      val va = vm("a")
      val vb = vm("b")
      s"""WITH d AS (SELECT (user_id % 2 = 0) AS g, CAST(value AS DOUBLE) AS y
        |  FROM events),
        |a AS (SELECT
        |    ${cell("g", "a")},
        |    ${cell("NOT g", "b")}
        |  FROM d)
        |SELECT na AS n_a, nb AS n_b,
        |  ${mean("a")} AS mean_a, ${mean("b")} AS mean_b,
        |  CASE WHEN $va + $vb > 0.0
        |    THEN (${mean("a")} - ${mean("b")}) / sqrt($va + $vb) END AS t_stat,
        |  CASE WHEN $va + $vb > 0.0
        |      AND $va * $va / (CAST(na AS DOUBLE) - 1.0)
        |        + $vb * $vb / (CAST(nb AS DOUBLE) - 1.0) > 0.0
        |    THEN ($va + $vb) * ($va + $vb)
        |      / ($va * $va / (CAST(na AS DOUBLE) - 1.0)
        |        + $vb * $vb / (CAST(nb AS DOUBLE) - 1.0)) END AS df_w
        |FROM a""".stripMargin
    },

    // partial-correlation replay: HUGEINT moments, the three Pearson
    // identities, the identical partial chain
    "x_partial_corr" -> {
      def rx(sa: String, sb: String, sab: String, qa: String, qb: String) = {
        val va = s"(CAST(n AS HUGEINT) * $qa - $sa * $sa)"
        val vb = s"(CAST(n AS HUGEINT) * $qb - $sb * $sb)"
        s"""CASE WHEN $va * $vb > 0
           | THEN CAST(CAST(CAST(n AS HUGEINT) * $sab - $sa * $sb
           |     AS VARCHAR) AS DOUBLE)
           |   / sqrt(CAST(CAST($va * $vb AS VARCHAR) AS DOUBLE)) END"""
          .stripMargin.replace("\n", "")
      }
      s"""WITH d AS (SELECT CAST(len($toksSql) AS BIGINT) AS x,
        |    CAST(len(list_distinct($toksSql)) AS BIGINT) AS y,
        |    n_chars AS z
        |  FROM documents WHERE n_chars IS NOT NULL),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS qy,
        |    CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS qz,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
        |    CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
        |  FROM d),
        |rr AS (SELECT n,
        |    ${rx("sx", "sy", "sxy", "qx", "qy")} AS r_xy,
        |    ${rx("sx", "sz", "sxz", "qx", "qz")} AS r_xz,
        |    ${rx("sy", "sz", "syz", "qy", "qz")} AS r_yz
        |  FROM a)
        |SELECT n, r_xy, r_xz, r_yz,
        |  CASE WHEN r_xy IS NOT NULL AND r_xz IS NOT NULL
        |      AND r_yz IS NOT NULL
        |      AND (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0.0
        |    THEN (r_xy - r_xz * r_yz)
        |      / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)) END
        |    AS r_partial
        |FROM rr""".stripMargin
    },

    // ESS-mean replay: the shared ACF CTE + moment stats + the
    // identical ascending fold and SE chains
    "x_ess_mean" -> AcfSql.essMeanSelect,

    // Brown-Forsythe replay: per-group order-statistic medians, |dev|
    // rows, then the x_anova cell chain verbatim
    "x_brown_forsythe" -> {
      val ds = graft.functions.Exact.dsumSql("y")
      val dq = graft.functions.Exact.dprodSumSql("y", "y")
      s"""WITH d0 AS (SELECT lang AS g, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
        |rk AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS m FROM d0),
        |md AS (SELECT g, sum(v) / CAST(count(*) AS DOUBLE) AS med
        |  FROM rk WHERE rn = floor((m + 1) / 2.0) OR rn = floor(m / 2.0) + 1
        |  GROUP BY g),
        |d AS (SELECT d0.g AS g, abs(d0.v - md.med) AS y
        |  FROM d0 JOIN md ON d0.g = md.g),
        |cells AS (SELECT g, CAST(count(*) AS BIGINT) AS cn,
        |    $ds AS s, $dq AS q
        |  FROM d GROUP BY g),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(cn) AS BIGINT) AS n,
        |    ${graft.functions.Exact.dsumSql("s * s / CAST(cn AS DOUBLE)")} AS sb,
        |    ${graft.functions.Exact.dsumSql(
             "q - s * s / CAST(cn AS DOUBLE)")} AS ssw,
        |    ${graft.functions.Exact.dsumSql("s")} AS bigs
        |  FROM cells),
        |f AS (SELECT k, n, sb - bigs * bigs / CAST(n AS DOUBLE) AS ssb, ssw
        |  FROM agg)
        |SELECT k, n, ssb, ssw,
        |  CASE WHEN k > 1 AND n > k AND ssw > 0.0
        |    THEN (ssb / (CAST(k AS DOUBLE) - 1.0))
        |      / (ssw / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) END AS f
        |FROM f""".stripMargin
    },

    // Cochran Q replay: one aggregation scan to the exact integer
    // column/row totals, the identical closing division
    "x_cochran_q" ->
      """WITH d AS (SELECT
        |    CASE WHEN n_chars > 200 THEN 1 ELSE 0 END AS x0,
        |    CASE WHEN lower(text) LIKE '%the%' THEN 1 ELSE 0 END AS x1,
        |    CASE WHEN n_chars < 2000 THEN 1 ELSE 0 END AS x2
        |  FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x0) AS HUGEINT) AS c0, CAST(sum(x1) AS HUGEINT) AS c1,
        |    CAST(sum(x2) AS HUGEINT) AS c2,
        |    CAST(sum(CAST(x0 + x1 + x2 AS HUGEINT)) AS HUGEINT) AS s1,
        |    CAST(sum(CAST(x0 + x1 + x2 AS HUGEINT)
        |      * (x0 + x1 + x2)) AS HUGEINT) AS s2
        |  FROM d)
        |SELECT n, CAST(3 AS INT) AS k,
        |  CASE WHEN 3 * s1 - s2 <> 0
        |    THEN CAST(CAST((3 * (c0 * c0 + c1 * c1 + c2 * c2) - s1 * s1) * 2
        |        AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(3 * s1 - s2 AS VARCHAR) AS DOUBLE) END AS q_stat,
        |  CAST(2 AS INT) AS df_q
        |FROM a""".stripMargin,

    // EB shrinkage replay: per-cohort exact cells, decimal(38,18)
    // moment sums, the identical fit + posterior chains
    "x_eb_shrink" ->
      """WITH per AS (SELECT CAST(user_id % 100 AS VARCHAR) AS key,
        |    CAST(count(*) AS BIGINT) AS trials,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS successes
        |  FROM events GROUP BY 1),
        |p2 AS (SELECT key, trials, successes,
        |    CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE) AS rate_raw
        |  FROM per),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(CAST(sum(CAST(rate_raw AS DECIMAL(38,18))) AS VARCHAR)
        |      AS DOUBLE) AS s1d,
        |    CAST(CAST(sum(CAST(rate_raw * rate_raw AS DECIMAL(38,18)))
        |      AS VARCHAR) AS DOUBLE) AS s2d
        |  FROM p2),
        |f2 AS (SELECT k, s1d, s2d, s1d / CAST(k AS DOUBLE) AS m FROM f),
        |f3 AS (SELECT k, s1d, s2d, m,
        |    s2d / CAST(k AS DOUBLE) - m * m AS v FROM f2),
        |f4 AS (SELECT m, v, m * (1.0 - m) / v - 1.0 AS sc FROM f3),
        |f5 AS (SELECT
        |    CASE WHEN v > 0.0 AND v < m * (1.0 - m) AND sc > 0.0
        |      THEN m * sc END AS alpha,
        |    CASE WHEN v > 0.0 AND v < m * (1.0 - m) AND sc > 0.0
        |      THEN (1.0 - m) * sc END AS beta
        |  FROM f4)
        |SELECT p2.key, p2.trials, p2.successes, p2.rate_raw,
        |  f5.alpha, f5.beta,
        |  CASE WHEN f5.alpha IS NOT NULL
        |    THEN (CAST(p2.successes AS DOUBLE) + f5.alpha)
        |      / (CAST(p2.trials AS DOUBLE) + f5.alpha + f5.beta)
        |    ELSE p2.rate_raw END AS rate_shrunk
        |FROM p2 CROSS JOIN f5 ORDER BY key""".stripMargin,

    // DP release replay: the generated geometric-mechanism CASE
    // ladder over the exact 64-bit md5 fraction
    "x_dp_release" -> DpSql.select,

    // WordPiece replay: the BPE round chain + per-round symbol
    // counts and the identical likelihood-score argmax
    "x_wp_train" -> {
      def round(i: Int) =
        s"""a$i AS (SELECT s[2:length(s)-1] AS core, wc, s FROM s$i),
           |ar$i AS (SELECT string_split(core, '||') AS arr, wc FROM a$i),
           |sy$i AS (SELECT sym, CAST(sum(wc) AS BIGINT) AS sc
           |  FROM (SELECT unnest(arr) AS sym, wc FROM ar$i) GROUP BY 1),
           |p$i AS (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(wc) AS BIGINT) AS c
           |  FROM (SELECT unnest(list_transform(range(1, len(arr)),
           |          k -> [arr[CAST(k AS INT)], arr[CAST(k AS INT) + 1]])) AS pr, wc
           |        FROM ar$i WHERE len(arr) >= 2)
           |  GROUP BY 1, 2),
           |m$i AS (SELECT p$i.l AS l, p$i.r AS r, c,
           |    CAST(c AS DOUBLE) / CAST(sl.sc * sr.sc AS DOUBLE) AS score
           |  FROM p$i JOIN sy$i sl ON p$i.l = sl.sym
           |    JOIN sy$i sr ON p$i.r = sr.sym
           |  WHERE c >= 1
           |  ORDER BY score DESC, l, r LIMIT 1),
           |s${i + 1} AS MATERIALIZED (SELECT
           |    replace(t.s, '|'||m.l||'||'||m.r||'|', '|'||m.l||m.r||'|') AS s, wc
           |  FROM s$i t CROSS JOIN m$i m)""".stripMargin
      s"""WITH w AS (SELECT w, count(*) AS wc
        |  FROM (SELECT unnest($toksSql) AS w FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |s1 AS MATERIALIZED (SELECT '|' || array_to_string(
        |    list_transform(range(1, length(w) + 1), i -> w[CAST(i AS INT)]),
        |    '||') || '|' AS s, wc FROM w),
        |${round(1)},
        |${round(2)},
        |${round(3)}
        |SELECT 1 AS rank, l AS l_sym, r AS r_sym, c AS pair_count, score FROM m1
        |UNION ALL SELECT 2, l, r, c, score FROM m2
        |UNION ALL SELECT 3, l, r, c, score FROM m3
        |ORDER BY rank""".stripMargin
    },

    // Yule K replay: frequency-of-frequency spectrum, exact HUGEINT
    // sums, the identical 10^4-scaled division
    "x_yule" ->
      s"""WITH tf AS (SELECT CAST(lang AS VARCHAR) AS key, t, count(*) AS m
        |  FROM (SELECT lang, unnest($toksSql) AS t FROM documents)
        |  GROUP BY 1, 2),
        |a AS (SELECT key, CAST(sum(m) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS s2
        |  FROM tf GROUP BY key)
        |SELECT key, n_tokens, n_types,
        |  CASE WHEN n_tokens > 1
        |    THEN CAST(CAST(10000 * (s2 - CAST(n_tokens AS HUGEINT))
        |        AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(CAST(n_tokens AS HUGEINT) * n_tokens AS VARCHAR)
        |        AS DOUBLE) END AS yule_k
        |FROM a ORDER BY key""".stripMargin,

    // Simpson replay: per-stratum weight sums then the three exact
    // single divisions
    "x_simpson" ->
      """WITH per AS (SELECT CAST(lang AS VARCHAR) AS k,
        |    CAST(sum(n_chars) AS BIGINT) AS n
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(n) AS BIGINT) AS total,
        |    CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS s2,
        |    CAST(sum(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT) AS s11
        |  FROM per)
        |SELECT n_strata, total,
        |  CASE WHEN total > 0 THEN CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(total AS HUGEINT) * total AS VARCHAR) AS DOUBLE)
        |    END AS lambda,
        |  CASE WHEN total > 1 THEN CAST(CAST(s11 AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(total AS HUGEINT) * (CAST(total AS HUGEINT) - 1)
        |      AS VARCHAR) AS DOUBLE) END AS simpson_unbiased,
        |  CASE WHEN s2 > 0
        |    THEN CAST(CAST(CAST(total AS HUGEINT) * total AS VARCHAR)
        |        AS DOUBLE) / CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
        |    END AS eff_strata
        |FROM a""".stripMargin,

    // OLS replay: exact HUGEINT moment differences, string-bridged
    // slope/intercept/r2 divisions in the identical chain
    "x_ols" -> olsSelect,

    // the streaming fold's standing read is bit-identical to the
    // batch OLS — x_ols's oracle verbatim
    "s_ols" -> olsSelect,

    // Durbin-Watson replay: the OLS identity fit, identical residual
    // chains, decimal(38,18) sums, one division
    "x_dw" ->
      """WITH h AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS st,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
        |    CAST(sum(CAST(t AS HUGEINT) * y) AS HUGEINT) AS sty
        |  FROM h GROUP BY key),
        |b AS (SELECT key, n, st, sy,
        |    CAST(n AS HUGEINT) * sty - st * sy AS sxy,
        |    CAST(n AS HUGEINT) * stt - st * st AS sxx
        |  FROM a),
        |f AS (SELECT key,
        |    CASE WHEN n > 1 AND sxx <> 0
        |      THEN CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |        / CAST(CAST(sxx AS VARCHAR) AS DOUBLE) END AS slope,
        |    CASE WHEN n > 1 AND sxx <> 0
        |      THEN CAST(CAST(sy AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |          / CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |          * (CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
        |      END AS icept
        |  FROM b),
        |r AS (SELECT h.key AS key, h.t AS t,
        |    CAST(h.y AS DOUBLE) - (f.icept + f.slope * CAST(h.t AS DOUBLE))
        |      AS e
        |  FROM h JOIN f ON h.key = f.key),
        |l AS (SELECT key, e,
        |    lag(e) OVER (PARTITION BY key ORDER BY t) AS ep FROM r),
        |g AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(e * e AS DECIMAL(38,18))) AS den,
        |    sum(CAST(CASE WHEN ep IS NOT NULL
        |      THEN (e - ep) * (e - ep) END AS DECIMAL(38,18))) AS num
        |  FROM l GROUP BY key)
        |SELECT key, n,
        |  CASE WHEN n > 2 AND den IS NOT NULL
        |      AND CAST(CAST(den AS VARCHAR) AS DOUBLE) > 0.0
        |    THEN round(CAST(CAST(num AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(den AS VARCHAR) AS DOUBLE), 6) END AS dw
        |FROM g ORDER BY key""".stripMargin,

    // CCF replay: both directions of the two-series exact identity,
    // positive lags (x leads) + mirrored negative lags
    "x_ccf" -> CcfSql.select,

    // SES-backtest replay: 16 dyadic lag terms (every value exactly
    // representable), order-free exact sums, two closing divisions
    "x_backtest" -> {
      val weights = (1 to 16).map(j =>
        java.math.BigDecimal.valueOf(math.pow(2.0, -j)).toPlainString)
      val lagDefs = (1 to 16).map(j =>
        s"lag(y, $j) OVER (PARTITION BY key ORDER BY t) AS l$j")
        .mkString(",\n        |    ")
      val f = (1 to 16).map(j => s"CAST(l$j AS DOUBLE) * ${weights(j - 1)}")
        .reduceLeft((a, b) => s"($a + $b)")
      s"""WITH h AS (SELECT CAST(event_type AS VARCHAR) AS key,
        |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT key, y,
        |    $lagDefs
        |  FROM h),
        |s AS (SELECT key, y, l1, l16,
        |    CASE WHEN l16 IS NOT NULL
        |      THEN abs(CAST(y AS DOUBLE) - $f) END AS err,
        |    CASE WHEN l16 IS NOT NULL
        |      THEN abs(CAST(y - l1 AS DOUBLE)) END AS naive
        |  FROM r),
        |a AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l16 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_scored,
        |    sum(err) AS se, sum(naive) AS sn
        |  FROM s GROUP BY key)
        |SELECT key, n, n_scored,
        |  CASE WHEN n_scored > 0 AND sn > 0.0 THEN se / sn END AS mase,
        |  CASE WHEN n_scored > 0 THEN se / CAST(n_scored AS DOUBLE) END
        |    AS mean_abs_err,
        |  CASE WHEN n_scored > 0 THEN sn / CAST(n_scored AS DOUBLE) END
        |    AS mean_abs_naive
        |FROM a ORDER BY key""".stripMargin
    },

    // Gini replay: order-statistic identity over strata ranked
    // (weight, name) — exact integer sums, fixed-shape final division
    "x_gini" ->
      """WITH s AS (SELECT CAST(lang AS VARCHAR) AS stratum,
        |    CAST(sum(n_chars) AS BIGINT) AS x
        |  FROM documents GROUP BY 1),
        |r AS (SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, stratum) AS HUGEINT) AS i
        |  FROM s),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(x) AS BIGINT) AS total, sum(i * x) AS s1 FROM r)
        |SELECT n_strata, total,
        |  CASE WHEN n_strata = 0 OR total <= 0 THEN NULL
        |    ELSE (2.0 * CAST(s1 AS DOUBLE)
        |        - (CAST(n_strata AS DOUBLE) + 1.0) * CAST(total AS DOUBLE))
        |      / (CAST(n_strata AS DOUBLE) * CAST(total AS DOUBLE)) END AS gini
        |FROM a""".stripMargin,

    // same 16-bit md5-range rule as x_splits, keyed by source
    "x_splits_grouped" ->
      """SELECT doc_id, source,
        |  CASE WHEN substring(md5(source), 1, 4) < 'cccd' THEN 'train'
        |    WHEN substring(md5(source), 1, 4) < 'e666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "s_window_agg" ->
      """SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,

    // event-time rank within (user, hour window), first 5 admitted
    "s_ratelimit" ->
      """SELECT event_id, user_id, date_trunc('hour', ts) AS window_start,
        |  row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |    ORDER BY ts, event_id) <= 5 AS admitted
        |FROM events ORDER BY event_id""".stripMargin,

    // 2h/1h sliding windows: an event at t is in the windows starting
    // at trunc_hour(t) and trunc_hour(t)-1h (hour-aligned, len 2h)
    "s_window_slide" ->
      """SELECT wstart, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        |FROM (SELECT unnest([date_trunc('hour', ts),
        |        date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS wstart,
        |      event_type, value FROM events)
        |GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,

    "s_dedup" ->
      """SELECT user_id, count(*) AS n_events FROM (
        |  SELECT DISTINCT event_id, user_id, event_type FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "s_interval_join" ->
      """SELECT l.event_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(r."value" AS DECIMAL(28,6))) AS DOUBLE) AS total_purchase
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        |  AND r.ts > l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s_enrich" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM events e JOIN nation n ON (e.user_id % 25) = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |  s AS (
        |  SELECT user_id, event_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS session_start
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,

    // admission replay: plain md5 anti-join (bloom is a pruning
    // layer, never a semantics layer)
    "s_admit" ->
      """WITH c AS (SELECT md5(text) AS h FROM documents),
        |b AS (SELECT doc_id + 1000000000 AS doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' fresh content'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id FROM b
        |WHERE md5(text) NOT IN (SELECT h FROM c)
        |ORDER BY doc_id""".stripMargin,

    // session_window replay: the same gap-islands grouping;
    // session_end = last event + gap (Spark's session_window contract)
    "s_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, "value",
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |  s AS (
        |  SELECT user_id, ts, "value",
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(28,6))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // Zipf replay: same top-200 cut (freq DESC, term), ln per row,
    // DECIMAL(38,18) OLS sums string-bridged to double, identical
    // closed-form arithmetic, round 6
    "x_zipf" ->
      s"""WITH tf AS (SELECT term, count(*) AS freq FROM
        |    (SELECT unnest($toksSql) AS term FROM documents)
        |  WHERE term <> '' GROUP BY 1),
        |top AS (SELECT term, freq FROM tf ORDER BY freq DESC, term LIMIT 200),
        |rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
        |  FROM top),
        |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
        |  FROM rk),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(y AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(19,12)) * CAST(y AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(19,12)) * CAST(x AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(CAST(y AS DECIMAL(19,12)) * CAST(y AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS syy
        |  FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
        |  round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS intercept,
        |  round((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |    / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
        |FROM s""".stripMargin,

    // Heaps replay: same (doc_id, position) global token order (the
    // row_number global window is DuckDB-side only — Spark uses the
    // distributed prefix scan), per-term first occurrence, vocab
    // counts at ceil(T*k/10), zipf's decimal OLS moment convention
    "x_heaps" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
        |ex AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)+1),
        |    j -> {'j': j, 'term': tk[j]})) AS u FROM toks),
        |ex2 AS (SELECT u.term AS term,
        |    row_number() OVER (ORDER BY doc_id, u.j) AS gpos FROM ex),
        |firsts AS (SELECT term, min(gpos) AS fp FROM ex2 GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM ex2),
        |ck AS (SELECT CAST(k AS BIGINT) AS ckpt, (t * k + 9) // 10 AS n_tokens
        |  FROM tot, range(1, 11) r(k)),
        |v AS (SELECT ck.ckpt, ck.n_tokens,
        |    (SELECT count(*) FROM firsts WHERE fp <= ck.n_tokens) AS vocab
        |  FROM ck),
        |xy AS (SELECT ln(CAST(n_tokens AS DOUBLE)) AS x,
        |    ln(CAST(vocab AS DOUBLE)) AS y FROM v),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(CAST(y AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(19,12)) * CAST(y AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(CAST(x AS DECIMAL(19,12)) * CAST(x AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(CAST(y AS DECIMAL(19,12)) * CAST(y AS DECIMAL(19,12))) AS VARCHAR) AS DOUBLE) AS syy
        |  FROM xy)
        |SELECT v.ckpt, v.n_tokens, v.vocab,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS beta,
        |  round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS ln_k,
        |  round((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |    / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
        |FROM v, s ORDER BY v.ckpt""".stripMargin,

    // novelty replay: the x_containment shingle recipe (3-token
    // windows, whole-doc fallback under 3 tokens, list_distinct),
    // doc-frequency over one row per (doc, shingle), join back
    "x_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
        |sh AS (SELECT doc_id, unnest(
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(tk)-1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END) AS g
        |  FROM toks),
        |dfq AS (SELECT g, count(*) AS dfc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  round(1.0 - CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM sh JOIN dfq USING (g)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,

    // diversity-sample replay: the x_kmeans_lloyd 1-iteration chain
    // (lowest-id seeds → argmin → fixed-point centroids) → assignment
    // to the final centroids → seeded-md5 top-3 per cluster
    "x_diverse" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        |a1 AS (SELECT e.vec_id, e.v, c0.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c0.cv), c0.cid) AS rk
        |  FROM e CROSS JOIN c0),
        |g1 AS (SELECT vec_id, v, cid FROM a1 WHERE rk = 1),
        |f1 AS (SELECT cid, CAST(r.range AS INT) AS dim,
        |    CAST(floor(v[CAST(r.range + 1 AS INT)] * 16777216.0 + 0.5) AS BIGINT) AS fx
        |  FROM g1 CROSS JOIN range(0, 64) r),
        |m1 AS (SELECT cid, dim,
        |    (CAST(sum(fx) AS DOUBLE) / 16777216.0) / CAST(count(*) AS DOUBLE) AS cval
        |  FROM f1 GROUP BY cid, dim),
        |c1 AS (SELECT cid, list(cval ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        |a2 AS (SELECT e.vec_id, c1.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.v, c1.cv), c1.cid) AS rk
        |  FROM e CROSS JOIN c1),
        |g2 AS (SELECT vec_id, cid FROM a2 WHERE rk = 1),
        |drawn AS (SELECT cid, vec_id,
        |    md5('11' || CAST(vec_id AS VARCHAR)) AS h FROM g2),
        |picked AS (SELECT cid, vec_id,
        |    row_number() OVER (PARTITION BY cid ORDER BY h, vec_id) AS pick
        |  FROM drawn)
        |SELECT CAST(cid AS BIGINT) AS cid, vec_id, CAST(pick AS INT) AS pick
        |FROM picked WHERE pick <= 3 ORDER BY cid, pick""".stripMargin,

    // subword replay: greedy longest-match as a recursive CTE over
    // DISTINCT words (the dictionary-encoded dual of the kernel's
    // per-row loop — same segmentation, corpus-scale words segmented
    // once), vocab list generated from the SAME Scala Seq the kernel
    // compiles, so the two sides cannot drift
    "x_subword" -> {
      val vocabSql = TextAnalysis.demoSubwords.map(v => s"'$v'").mkString(", ")
      s"""WITH RECURSIVE words AS (
        |  SELECT doc_id, unnest($toksSql) AS w FROM documents),
        |dw AS (SELECT DISTINCT w FROM words WHERE w <> ''),
        |vocab AS (SELECT unnest([$vocabSql]) AS v),
        |seg(w, pos, ns, nu) AS (
        |  SELECT w, 1, 0, 0 FROM dw
        |  UNION ALL
        |  SELECT w,
        |    pos + coalesce((SELECT max(len(v)) FROM vocab
        |      WHERE v = substr(w, pos, len(v))), 1),
        |    ns + 1,
        |    nu + CASE WHEN EXISTS (SELECT 1 FROM vocab
        |      WHERE v = substr(w, pos, len(v))) THEN 0 ELSE 1 END
        |  FROM seg WHERE pos <= len(w)),
        |done AS (SELECT w, ns, nu FROM seg WHERE pos > len(w)),
        |perdoc AS (SELECT doc_id, count(*) AS n_words,
        |    sum(ns) AS n_subwords, sum(nu) AS n_unk
        |  FROM words JOIN done USING (w) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(n_subwords, 0) AS BIGINT) AS n_subwords,
        |  CAST(coalesce(n_unk, 0) AS BIGINT) AS n_unk,
        |  CASE WHEN coalesce(n_words, 0) > 0 THEN
        |    round(CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
        |  END AS fertility
        |FROM documents d LEFT JOIN perdoc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    },

    // PQ-ADC replay: 4 independent subspace kmeans chains (the
    // x_kmeans_lloyd recipe on vector slices), greedy encode, query
    // LUT, left-assoc 4-term ADC sum — all per-row-IEEE-exact
    "x_pq" -> {
      val dsub = 16; val m = 4
      val chains = (0 until m).map(s => pqSubspaceCtes(s, dsub, 8))
        .mkString(",\n")
      val qCols = (0 until m)
        .map(s => s"v[${s * dsub + 1}:${(s + 1) * dsub}] AS qs$s").mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT $qCols FROM e WHERE vec_id = 0),
        |$chains,
        |adc AS (SELECT e0.vec_id,
        |    l0.sd + l1.sd + l2.sd + l3.sd AS adc
        |  FROM ec0 e0
        |  JOIN ec1 e1 ON e0.vec_id = e1.vec_id
        |  JOIN ec2 e2 ON e0.vec_id = e2.vec_id
        |  JOIN ec3 e3 ON e0.vec_id = e3.vec_id
        |  JOIN lut0 l0 ON e0.code = l0.code
        |  JOIN lut1 l1 ON e1.code = l1.code
        |  JOIN lut2 l2 ON e2.code = l2.code
        |  JOIN lut3 l3 ON e3.code = l3.code)
        |SELECT vec_id, adc,
        |  CAST(row_number() OVER (ORDER BY adc, vec_id) AS BIGINT) AS rank
        |FROM adc ORDER BY adc, vec_id LIMIT 10""".stripMargin
    },

    // IVFADC replay: x_ann_ivf's coarse chain (md5-ranked centroids +
    // assignment argmin), residual corpus as the `e` CTE so the x_pq
    // subspace chains train/encode over residual space unchanged,
    // query residual of the probed cell as the `q` CTE, ADC over the
    // probed cell's rows only
    "x_ann_ivfpq" ->
      s"""WITH $ivfPqCtes
        |SELECT vec_id, adc,
        |  CAST(row_number() OVER (ORDER BY adc, vec_id) AS BIGINT) AS rank
        |FROM sel ORDER BY adc, vec_id LIMIT 10""".stripMargin,

    // IVFADC recall vs the exact truth: the same chain's top-10 joined
    // against the brute L2 top-10
    "x_ivfpq_recall" ->
      s"""WITH $ivfPqCtes,
        |ret AS (SELECT vec_id FROM sel ORDER BY adc, vec_id LIMIT 10),
        |truth AS (SELECT raw.vec_id FROM raw CROSS JOIN q0
        |  ORDER BY list_distance(raw.v, q0.qv), raw.vec_id LIMIT 10),
        |h AS (SELECT count(*) AS hits FROM truth JOIN ret USING (vec_id))
        |SELECT CAST(0 AS BIGINT) AS query_id,
        |  CAST(h.hits AS BIGINT) AS hits,
        |  CAST(10 AS BIGINT) AS truth_k,
        |  CAST(h.hits AS DOUBLE) / 10.0 AS recall
        |FROM h""".stripMargin,

    // multi-query IVFADC replay: per-query probes + per-(query,cell)
    // LUTs + per-query cut over the shared codebook chain
    "x_ann_ivfpq_multi" ->
      s"""WITH ${ivfPqMultiCtes()}
        |SELECT query_id, vec_id AS neighbor_id, adc,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc, vec_id) AS BIGINT) AS rank
        |FROM adcm
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY adc, vec_id) <= 10
        |ORDER BY query_id, rank""".stripMargin,

    "x_ivfpq_recall_multi" ->
      s"""WITH ${ivfPqMultiCtes()},
        |ret AS (SELECT query_id, vec_id AS neighbor_id FROM adcm
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc, vec_id) <= 10),
        |truth AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, raw.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_distance(raw.v, q.qv), raw.vec_id) AS rk
        |    FROM raw CROSS JOIN qs q) WHERE rk <= 10)
        |SELECT t.query_id,
        |  CAST(sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |  CAST(count(*) AS BIGINT) AS truth_k,
        |  CAST(sum(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS recall
        |FROM truth t LEFT JOIN ret g
        |  ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
        |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    // materialized-index serve is bit-identical to the in-plan chain
    // (doubles round-trip parquet exactly) — same replay
    "x_ann_ivfpq_idx" ->
      s"""WITH ${ivfPqMultiCtes()}
        |SELECT query_id, vec_id AS neighbor_id, adc,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc, vec_id) AS BIGINT) AS rank
        |FROM adcm
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY adc, vec_id) <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // incremental replay: coarse centroids + codebooks trained on the
    // EVEN vectors only; the whole corpus (evens at build, odds at
    // append) encoded against them — the same argmin rules
    "x_ann_ivfpq_incr" ->
      s"""WITH ${ivfPqMultiCtes("vec_id % 2 = 0")}
        |SELECT query_id, vec_id AS neighbor_id, adc,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc, vec_id) AS BIGINT) AS rank
        |FROM adcm
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY adc, vec_id) <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // PQ retrieval-quality metric: the same codebook/encode/LUT replay
    // as x_pq for the retrieved set, exact L2 top-10 as ground truth,
    // hits counted by join — the compression-vs-recall tuning read
    "x_pq_recall" -> {
      val dsub = 16; val m = 4
      val chains = (0 until m).map(s => pqSubspaceCtes(s, dsub, 8))
        .mkString(",\n")
      val qCols = (0 until m)
        .map(s => s"v[${s * dsub + 1}:${(s + 1) * dsub}] AS qs$s").mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv, $qCols FROM e WHERE vec_id = 0),
        |$chains,
        |adc AS (SELECT e0.vec_id,
        |    l0.sd + l1.sd + l2.sd + l3.sd AS adc
        |  FROM ec0 e0
        |  JOIN ec1 e1 ON e0.vec_id = e1.vec_id
        |  JOIN ec2 e2 ON e0.vec_id = e2.vec_id
        |  JOIN ec3 e3 ON e0.vec_id = e3.vec_id
        |  JOIN lut0 l0 ON e0.code = l0.code
        |  JOIN lut1 l1 ON e1.code = l1.code
        |  JOIN lut2 l2 ON e2.code = l2.code
        |  JOIN lut3 l3 ON e3.code = l3.code),
        |ret AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 10),
        |truth AS (SELECT e.vec_id FROM e CROSS JOIN q
        |  ORDER BY list_distance(e.v, q.qv), e.vec_id LIMIT 10),
        |h AS (SELECT count(*) AS hits FROM truth JOIN ret USING (vec_id))
        |SELECT CAST(0 AS BIGINT) AS query_id,
        |  CAST(h.hits AS BIGINT) AS hits,
        |  CAST(10 AS BIGINT) AS truth_k,
        |  CAST(h.hits AS DOUBLE) / 10.0 AS recall
        |FROM h""".stripMargin
    },

    // z-value replay: same integer-only bucketize (// truncation on
    // non-negative operands == Spark's div) and the same unrolled
    // shift/mask interleave emitted by ZOrder.interleaveSql
    "x_zorder" -> {
      val z = graft.functions.ZOrder.interleaveSql(2, 8)
      s"""WITH mm AS (SELECT min(o_custkey) AS mn0, max(o_custkey) AS mx0,
        |    min(o_orderkey) AS mn1, max(o_orderkey) AS mx1 FROM orders),
        |b AS (SELECT o_orderkey, o_custkey,
        |    ((o_custkey - mn0) * 255) // greatest(mx0 - mn0, 1) AS b0,
        |    ((o_orderkey - mn1) * 255) // greatest(mx1 - mn1, 1) AS b1
        |  FROM orders, mm)
        |SELECT o_orderkey, o_custkey, CAST($z AS BIGINT) AS zval
        |FROM b ORDER BY zval, o_orderkey""".stripMargin
    }
  )
}

/** Shared DuckDB SQL for the ACF family (x_acf / x_ljung_box): the
  * exact-integer autocorrelation CTEs are identical, only the closing
  * SELECT differs. HUGEINT keeps every sufficient statistic exact; the
  * decimal→double conversions are string-bridged (the Exact rule). */
private[graft] object AcfSql {
  private val ctes =
    """WITH h AS (SELECT CAST(event_type AS VARCHAR) AS key,
      |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS t,
      |    CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT key, y,
      |    row_number() OVER (PARTITION BY key ORDER BY t) AS rn FROM h),
      |st AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS s,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
      |  FROM r GROUP BY key),
      |ks AS (SELECT UNNEST(range(1, 7)) AS lag),
      |lg AS (SELECT st.key, st.n, st.s, st.q, CAST(ks.lag AS BIGINT) AS lag
      |  FROM st CROSS JOIN ks),
      |pp AS (SELECT a.key AS key, CAST(b.rn - a.rn AS BIGINT) AS lag,
      |    CAST(sum(CAST(a.y AS HUGEINT) * b.y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(a.y AS HUGEINT)) AS HUGEINT) AS hh,
      |    CAST(sum(CAST(b.y AS HUGEINT)) AS HUGEINT) AS tt
      |  FROM r a JOIN r b ON a.key = b.key AND b.rn - a.rn BETWEEN 1 AND 6
      |  GROUP BY 1, 2),
      |acf AS (SELECT lg.key, lg.lag, lg.n,
      |  CASE WHEN CAST(lg.n AS HUGEINT) * (lg.n * lg.q - lg.s * lg.s) <> 0
      |      AND pp.syy IS NOT NULL
      |    THEN CAST(CAST(CAST(lg.n AS HUGEINT) * lg.n * pp.syy
      |        - CAST(lg.n AS HUGEINT) * lg.s * (pp.hh + pp.tt)
      |        + (lg.n - lg.lag) * lg.s * lg.s AS VARCHAR) AS DOUBLE)
      |      / CAST(CAST(CAST(lg.n AS HUGEINT) * (lg.n * lg.q - lg.s * lg.s)
      |          AS VARCHAR) AS DOUBLE)
      |    END AS r
      |  FROM lg LEFT JOIN pp ON lg.key = pp.key AND lg.lag = pp.lag)""".stripMargin

  val acfSelect: String =
    s"""$ctes
      |SELECT key, CAST(lag AS INT) AS lag, n, r FROM acf
      |ORDER BY key, lag""".stripMargin

  /** x_pacf: the Durbin-Levinson recursion unrolled into per-stage
    * CTE columns — generated by the SAME recursion as
    * TimeSeries.pacf, so every IEEE op and fold order is identical. */
  val pacfSelect: String = {
    val pivots = (1 to 6).map(k =>
      s"max(CASE WHEN lag = $k THEN r END) AS r$k").mkString(",\n    ")
    val sb = new StringBuilder
    sb ++= s"$ctes,\n"
    sb ++= s"p AS (SELECT key, max(n) AS n,\n    $pivots\n  FROM acf GROUP BY key),\n"
    sb ++= "s1 AS (SELECT *, r1 AS a1_1 FROM p)"
    var prev = "s1"
    for (k <- 2 to 6) {
      val cFold = (1 until k).map(j => s"a${k - 1}_$j * r${k - j}")
        .reduceLeft((a, b) => s"($a + $b)")
      val dFold = (1 until k).map(j => s"a${k - 1}_$j * r$j")
        .reduceLeft((a, b) => s"($a + $b)")
      sb ++= s",\ns${k}a AS (SELECT *, r$k - $cFold AS c$k, 1.0 - $dFold AS d$k FROM $prev)"
      sb ++= s",\ns${k}b AS (SELECT *, CASE WHEN d$k <> 0 THEN c$k / d$k END AS a${k}_$k FROM s${k}a)"
      val updates = (1 until k).map(j =>
        s"a${k - 1}_$j - a${k}_$k * a${k - 1}_${k - j} AS a${k}_$j").mkString(", ")
      sb ++= s",\ns${k}c AS (SELECT *, $updates FROM s${k}b)"
      prev = s"s${k}c"
    }
    val union = (1 to 6).map(k =>
      s"SELECT key, CAST($k AS INT) AS lag, n, a${k}_$k AS pacf FROM $prev")
      .mkString("\nUNION ALL ")
    sb ++= s"\n$union\nORDER BY key, lag"
    sb.toString
  }

  /** x_ess_mean: the shared ACF CTE + moment stats + the identical
    * ascending fold and ESS/SE chains. */
  val essMeanSelect: String = {
    val pivots = (1 to 6).map(k =>
      s"max(CASE WHEN lag = $k THEN r END) AS r$k").mkString(",\n    ")
    val sum0 = (1 to 6).map(k => s"r$k").reduceLeft((a, b) => s"($a + $b)")
    val varS = "CAST(CAST(CAST(p.n AS HUGEINT) * st2.q - st2.s * st2.s " +
      "AS VARCHAR) AS DOUBLE) / (CAST(p.n AS DOUBLE) * (CAST(p.n AS DOUBLE) - 1.0))"
    s"""$ctes,
      |p AS (SELECT key, max(n) AS n,
      |    $pivots
      |  FROM acf GROUP BY key),
      |st2 AS (SELECT key,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS s,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
      |  FROM h GROUP BY key)
      |SELECT p.key, p.n,
      |  CAST(CAST(st2.s AS VARCHAR) AS DOUBLE) / CAST(p.n AS DOUBLE) AS mean,
      |  CASE WHEN 1.0 + 2.0 * $sum0 > 0.0
      |    THEN CAST(p.n AS DOUBLE) / (1.0 + 2.0 * $sum0) END AS ess,
      |  CASE WHEN p.n > 1 AND $varS > 0.0
      |    THEN sqrt($varS) / sqrt(CAST(p.n AS DOUBLE)) END AS se_naive,
      |  CASE WHEN p.n > 1 AND $varS > 0.0 AND 1.0 + 2.0 * $sum0 > 0.0
      |    THEN sqrt($varS)
      |      / sqrt(CAST(p.n AS DOUBLE) / (1.0 + 2.0 * $sum0)) END AS se_adj
      |FROM p JOIN st2 ON p.key = st2.key ORDER BY p.key""".stripMargin
  }

  val ljungBoxSelect: String = {
    val terms = (1 to 6).map(k =>
      s"r$k * r$k / (CAST(n AS DOUBLE) - $k.0)")
    // the identical ascending-lag left fold: ((((t1+t2)+t3)+...)+t6)
    val chain = terms.reduceLeft((a, b) => s"($a + $b)")
    val pivots = (1 to 6).map(k =>
      s"max(CASE WHEN lag = $k THEN r END) AS r$k").mkString(",\n      |    ")
    s"""$ctes,
      |p AS (SELECT key, max(n) AS n,
      |    $pivots
      |  FROM acf GROUP BY key)
      |SELECT key, n,
      |  CASE WHEN n > 6 THEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
      |    * $chain END AS q_stat,
      |  CAST(6 AS INT) AS df_lb
      |FROM p ORDER BY key""".stripMargin
  }
}

/** Shared DuckDB SQL for the modularity pair (x_modularity /
  * x_modularity_g): the x_lpa label-propagation replay plus the
  * canonical-undirected edge/degree CTEs are identical; only the
  * closing aggregation differs. All counts exact integers. */
private[graft] object ModularitySql {
  private def iter(prev: String, out: String) =
    s"""v$out AS (SELECT sym.a, $prev.label, count(*) AS c
       |  FROM sym JOIN $prev ON sym.b = $prev.node GROUP BY 1, 2),
       |w$out AS (SELECT a AS node, label,
       |    row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rn
       |  FROM v$out),
       |$out AS (SELECT $prev.node,
       |    coalesce(w.label, $prev.label) AS label
       |  FROM $prev LEFT JOIN (SELECT node, label FROM w$out WHERE rn = 1) w
       |    USING (node))""".stripMargin

  private val ctes =
    s"""WITH dir AS (SELECT DISTINCT doc_id % 50 AS a, (doc_id * 7 + 3) % 50 AS b
      |  FROM documents),
      |sym AS (SELECT DISTINCT a, b FROM
      |  (SELECT a, b FROM dir UNION ALL SELECT b, a FROM dir) WHERE a <> b),
      |l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
      |${iter("l0", "l1")},
      |${iter("l1", "l2")},
      |${iter("l2", "l3")},
      |lab AS (SELECT node, label FROM l3),
      |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
      |  FROM dir WHERE a <> b),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
      |  (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
      |  GROUP BY node),
      |dt AS (SELECT lab.label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
      |    CAST(sum(deg.deg) AS BIGINT) AS d_total
      |  FROM deg JOIN lab ON deg.node = lab.node GROUP BY 1),
      |ie AS (SELECT la.label AS community, CAST(count(*) AS BIGINT) AS m_intra
      |  FROM e JOIN lab la ON e.a = la.node JOIN lab lb ON e.b = lb.node
      |  WHERE la.label = lb.label GROUP BY 1),
      |per AS (SELECT dt.community, dt.n_nodes,
      |    COALESCE(ie.m_intra, 0) AS m_intra, dt.d_total
      |  FROM dt LEFT JOIN ie USING (community))""".stripMargin

  val perCommunity: String =
    s"""$ctes
      |SELECT per.community, per.n_nodes, per.m_intra, per.d_total,
      |  CAST(per.m_intra AS DOUBLE) / CAST(m.m AS DOUBLE)
      |    - (CAST(per.d_total AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
      |    * (CAST(per.d_total AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
      |    AS q_part
      |FROM per CROSS JOIN m ORDER BY community""".stripMargin

  val global: String =
    s"""$ctes,
      |g AS (SELECT CAST(sum(m_intra) AS BIGINT) AS intra_edges,
      |    CAST(sum(d_total * d_total) AS BIGINT) AS sum_d2 FROM per)
      |SELECT m.m AS m, g.intra_edges, g.sum_d2,
      |  CASE WHEN m.m > 0
      |    THEN CAST(4 * m.m * g.intra_edges - g.sum_d2 AS DOUBLE)
      |      / CAST(4 * m.m * m.m AS DOUBLE) END AS q
      |FROM g CROSS JOIN m""".stripMargin
}

/** DuckDB SQL for x_ccf: both directions of the exact-integer
  * two-series cross-correlation identity over the behavioral-funnel
  * hourly pair series (view→click, click→purchase). */
private[graft] object CcfSql {
  // r for one direction given stat columns (sa, sb, qa, qb) and pair
  // sums (sab = Σ a_t·b_{t+k}, hh = Σ head a, tt = Σ tail b)
  private def rExpr(sa: String, sb: String, qa: String, qb: String) =
    s"""CASE WHEN (CAST(n AS HUGEINT) * $qa - $sa * $sa)
       |      * (CAST(n AS HUGEINT) * $qb - $sb * $sb) > 0
       |      AND sab IS NOT NULL
       |    THEN CAST(CAST(CAST(n AS HUGEINT) * n * sab
       |        - CAST(n AS HUGEINT) * $sb * hh
       |        - CAST(n AS HUGEINT) * $sa * tt
       |        + (n - k.lag) * $sa * $sb AS VARCHAR) AS DOUBLE)
       |      / (CAST(n AS DOUBLE)
       |        * sqrt(CAST(CAST((CAST(n AS HUGEINT) * $qa - $sa * $sa)
       |          * (CAST(n AS HUGEINT) * $qb - $sb * $sb)
       |          AS VARCHAR) AS DOUBLE)))
       |    END""".stripMargin

  val select: String =
    s"""WITH e AS (SELECT
      |    CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS h,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS xv,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS yc,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS zp
      |  FROM events GROUP BY 1),
      |s AS (SELECT 'view>click' AS key, h, xv AS x, yc AS y FROM e
      |  UNION ALL SELECT 'click>purchase', h, yc, zp FROM e),
      |r AS (SELECT key, x, y,
      |    row_number() OVER (PARTITION BY key ORDER BY h) AS rn FROM s),
      |st AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qx,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS qy
      |  FROM r GROUP BY key),
      |kp AS (SELECT CAST(UNNEST(range(0, 7)) AS BIGINT) AS lag),
      |kn AS (SELECT CAST(UNNEST(range(1, 7)) AS BIGINT) AS lag),
      |pp AS (SELECT a.key AS key, CAST(b.rn - a.rn AS BIGINT) AS lag,
      |    CAST(sum(CAST(a.x AS HUGEINT) * b.y) AS HUGEINT) AS sab,
      |    CAST(sum(CAST(a.x AS HUGEINT)) AS HUGEINT) AS hh,
      |    CAST(sum(CAST(b.y AS HUGEINT)) AS HUGEINT) AS tt
      |  FROM r a JOIN r b ON a.key = b.key AND b.rn - a.rn BETWEEN 0 AND 6
      |  GROUP BY 1, 2),
      |pn AS (SELECT a.key AS key, CAST(b.rn - a.rn AS BIGINT) AS lag,
      |    CAST(sum(CAST(a.y AS HUGEINT) * b.x) AS HUGEINT) AS sab,
      |    CAST(sum(CAST(a.y AS HUGEINT)) AS HUGEINT) AS hh,
      |    CAST(sum(CAST(b.x AS HUGEINT)) AS HUGEINT) AS tt
      |  FROM r a JOIN r b ON a.key = b.key AND b.rn - a.rn BETWEEN 1 AND 6
      |  GROUP BY 1, 2),
      |pos AS (SELECT st.key, k.lag, st.n,
      |    ${rExpr("sx", "sy", "qx", "qy")} AS r
      |  FROM st CROSS JOIN kp k
      |  LEFT JOIN pp ON st.key = pp.key AND k.lag = pp.lag),
      |ng AS (SELECT st.key, k.lag, st.n,
      |    ${rExpr("sy", "sx", "qy", "qx")} AS r
      |  FROM st CROSS JOIN kn k
      |  LEFT JOIN pn ON st.key = pn.key AND k.lag = pn.lag)
      |SELECT key, CAST(lag AS INT) AS lag, n, r FROM pos
      |UNION ALL SELECT key, CAST(-lag AS INT) AS lag, n, r FROM ng
      |ORDER BY key, lag""".stripMargin
}

/** DuckDB SQL for x_fellegi — GENERATED from the same EM recursion as
  * RecordLinkage.em (the pacf generator-twin discipline): ascending-
  * pattern / ascending-field folds, least/greatest clamps with the
  * upper bound written as the op (1.0 - 0.000001), one CTE stage per
  * (weights, totals, updates) step per iteration. */
private[graft] object FellegiSql {
  private val F = 3
  private val NP = 1 << F
  private val T = 20

  private def cd(g: Int) = s"CAST(c$g AS DOUBLE)"

  // w expression for pattern g from params suffixed `k`
  private def wExpr(g: Int, pk: String, mk: Int => String,
                    uk: Int => String): String = {
    val num = (0 until F).foldLeft(pk)((acc, f) =>
      if (((g >> f) & 1) == 1) s"$acc * ${mk(f)}"
      else s"$acc * (1.0 - ${mk(f)})")
    val den = (0 until F).foldLeft(s"(1.0 - $pk)")((acc, f) =>
      if (((g >> f) & 1) == 1) s"$acc * ${uk(f)}"
      else s"$acc * (1.0 - ${uk(f)})")
    s"($num) / (($num) + ($den))"
  }

  private def fold(terms: Seq[String]): String =
    terms.reduceLeft((a, b) => s"($a + $b)")

  private def clamp(x: String): String =
    s"least(greatest($x, 0.000001), (1.0 - 0.000001))"

  val select: String = {
    val sb = new StringBuilder
    sb ++= """WITH r AS (SELECT c_custkey AS id, c_name AS s,
      |    row_number() OVER (ORDER BY c_name, c_custkey) AS rid
      |  FROM customer WHERE c_name IS NOT NULL),
      |p0 AS (SELECT l.id AS ida, l.s AS sa, r2.id AS idb, r2.s AS sb
      |  FROM r l JOIN r r2
      |    ON r2.rid > l.rid AND r2.rid <= l.rid + 3),
      |pr AS (SELECT DISTINCT
      |    CASE WHEN ida < idb THEN ida ELSE idb END AS a,
      |    CASE WHEN ida < idb THEN idb ELSE ida END AS b,
      |    CASE WHEN ida < idb THEN sa ELSE sb END AS s_a,
      |    CASE WHEN ida < idb THEN sb ELSE sa END AS s_b
      |  FROM p0),
      |att AS (SELECT levenshtein(pr.s_a, pr.s_b) <= 1 AS g1,
      |    ca.c_nationkey = cb.c_nationkey AS g2,
      |    ca.c_mktsegment = cb.c_mktsegment AS g3
      |  FROM pr JOIN customer ca ON pr.a = ca.c_custkey
      |    JOIN customer cb ON pr.b = cb.c_custkey),
      |pat AS (SELECT
      |    (CASE WHEN COALESCE(g1, false) THEN 1 ELSE 0 END)
      |    + (CASE WHEN COALESCE(g2, false) THEN 2 ELSE 0 END)
      |    + (CASE WHEN COALESCE(g3, false) THEN 4 ELSE 0 END) AS g
      |  FROM att),
      |cnt AS (SELECT
      |""".stripMargin
    sb ++= (0 until NP).map(g =>
      s"    CAST(sum(CASE WHEN g = $g THEN 1 ELSE 0 END) AS BIGINT) AS c$g")
      .mkString(",\n")
    sb ++= "\n  FROM pat),\n"
    sb ++= "it0 AS (SELECT *, 0.1 AS p_0"
    (0 until F).foreach(f => sb ++= s", 0.9 AS m_0_$f, 0.1 AS u_0_$f")
    sb ++= " FROM cnt)"
    var prev = "it0"
    for (k <- 1 to T) {
      val pk = s"p_${k - 1}"
      def mk(f: Int) = s"m_${k - 1}_$f"
      def uk(f: Int) = s"u_${k - 1}_$f"
      sb ++= s",\nw$k AS (SELECT *"
      (0 until NP).foreach(g =>
        sb ++= s", ${wExpr(g, pk, mk, uk)} AS w${k}_$g")
      sb ++= s" FROM $prev)"
      val tF = fold((0 until NP).map(g => s"w${k}_$g * ${cd(g)}"))
      val vF = fold((0 until NP).map(g => s"(1.0 - w${k}_$g) * ${cd(g)}"))
      val nF = fold((0 until NP).map(cd))
      sb ++= s",\nt$k AS (SELECT *, $tF AS tt_$k, $vF AS vv_$k, $nF AS nn_$k FROM w$k)"
      sb ++= s",\nit$k AS (SELECT *"
      (0 until F).foreach { f =>
        val sM = fold((0 until NP).filter(g => ((g >> f) & 1) == 1)
          .map(g => s"w${k}_$g * ${cd(g)}"))
        val sU = fold((0 until NP).filter(g => ((g >> f) & 1) == 1)
          .map(g => s"(1.0 - w${k}_$g) * ${cd(g)}"))
        sb ++= s", ${clamp(s"CASE WHEN tt_$k <> 0 THEN ($sM) / tt_$k ELSE ${mk(f)} END")} AS m_${k}_$f"
        sb ++= s", ${clamp(s"CASE WHEN vv_$k <> 0 THEN ($sU) / vv_$k ELSE ${uk(f)} END")} AS u_${k}_$f"
      }
      sb ++= s", ${clamp(s"CASE WHEN nn_$k <> 0 THEN tt_$k / nn_$k ELSE $pk END")} AS p_$k"
      sb ++= s" FROM t$k)"
      prev = s"it$k"
    }
    // final posteriors from the converged params
    sb ++= s",\nfin AS (SELECT *"
    (0 until NP).foreach(g =>
      sb ++= s", ${wExpr(g, s"p_$T", f => s"m_${T}_$f", f => s"u_${T}_$f")} AS wf_$g")
    sb ++= s" FROM $prev)"
    val branches = (0 until NP).map { g =>
      val pat = (0 until F).map(f => if (((g >> f) & 1) == 1) '1' else '0')
        .mkString
      val ms = (0 until F).map(f => s"m_${T}_$f AS m_${f + 1}").mkString(", ")
      val us = (0 until F).map(f => s"u_${T}_$f AS u_${f + 1}").mkString(", ")
      s"SELECT '$pat' AS pattern, c$g AS n, wf_$g AS posterior, p_$T AS p_match, $ms, $us FROM fin WHERE c$g > 0"
    }
    sb ++= "\n" + branches.mkString("\nUNION ALL ")
    sb ++= "\nORDER BY pattern"
    sb.toString
  }
}

/** DuckDB SQL for x_dp_release — the geometric-mechanism CASE ladder
  * GENERATED from the same thresholds as Profiling.dpCounts: exact
  * 64-bit md5 fraction (two 32-bit digit-conv halves), HUGEINT
  * comparisons 3·2^j·U vs c·2^64, ±20 truncation. */
private[graft] object DpSql {
  private val B = 20
  private def half(lo: Int, hi: Int, expBase: Int) =
    s"CAST(CAST(list_sum(list_transform(range($lo, $hi), i -> " +
      "(strpos('0123456789abcdef', substr(md5(key || '|' || 'r17'), " +
      s"CAST(i AS INT), 1)) - 1) * pow(16, $expBase - i))) AS BIGINT) AS HUGEINT)"

  val select: String = {
    val two64 = "CAST('18446744073709551616' AS HUGEINT)"
    val negArms = (B to 1 by -1).map(m =>
      s"WHEN ${3L << (m - 1)} * u < $two64 THEN ${-m}")
    val posArms = (0 until B).map(k =>
      s"WHEN ${3L << k} * u < ${(3L << k) - 1L} * $two64 THEN $k")
    val ladder = (negArms ++ posArms).mkString("\n    ") + s"\n    ELSE $B"
    s"""WITH c AS (SELECT CAST(lang AS VARCHAR) AS key,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
      |h AS (SELECT key, n,
      |    ${half(1, 9, 8)} * 4294967296 + ${half(9, 17, 16)} AS u
      |  FROM c)
      |SELECT key, n + CAST(CASE
      |    $ladder END AS BIGINT) AS n_noisy
      |FROM h ORDER BY key""".stripMargin
  }
}
