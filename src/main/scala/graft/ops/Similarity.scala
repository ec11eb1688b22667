package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY §2.6). Kernels are higher-order-function compositions
  * (zip_with + aggregate — codegen'd, no UDFs).
  *
  * Scale paths:
  * - brute force: broadcast the (small) query set; linear scan of the
  *   corpus, no shuffle — optimal when queries ≪ corpus.
  * - LSH: random-hyperplane sign buckets prune the scan to matching
  *   buckets (multi-probe = hamming-adjacent buckets).
  * - IVF: k-means coarse quantizer (MLlib), probe nprobe nearest
  *   centroids — the classic billion-vector layout.
  */
object Similarity {

  import org.apache.spark.sql.graftbridge.ColumnBridge
  private def k2(f: (org.apache.spark.sql.catalyst.expressions.Expression,
                     org.apache.spark.sql.catalyst.expressions.Expression) =>
                    org.apache.spark.sql.catalyst.expressions.Expression)
                (a: Column, b: Column): Column =
    ColumnBridge.column(f(ColumnBridge.expr(a), ColumnBridge.expr(b)))

  /** Distance kernels: native codegen Expressions (plans.VectorKernels)
    * — the distance is the inner loop of a corpus scan and must stay
    * inside whole-stage codegen (higher-order functions evaluate
    * interpreted). Same index-order accumulation as the Column forms
    * below, so results are bit-identical. */
  // cast is a no-op when already array<double>; it is what makes
  // array<float> inputs safe (the kernel reads packed doubles)
  def dot(a: Column, b: Column): Column =
    k2(graft.plans.DotProductExpr.apply)(a.cast("array<double>"), b.cast("array<double>"))
  def cosine(a: Column, b: Column): Column =
    k2(graft.plans.CosineSimExpr.apply)(a.cast("array<double>"), b.cast("array<double>"))
  def l2(a: Column, b: Column): Column =
    k2(graft.plans.L2DistanceExpr.apply)(a.cast("array<double>"), b.cast("array<double>"))
  /** Element-wise a − b (the IVF-PQ residual kernel — codegen). */
  def vecDiff(a: Column, b: Column): Column =
    k2(graft.plans.VecDiffExpr.apply)(a.cast("array<double>"), b.cast("array<double>"))
  def norm(a: Column): Column = sqrt(dot(a, a))

  // ---- int8 quantization ---------------------------------------------------
  // Symmetric per-vector int8 quantization — the standard 4× storage /
  // bandwidth lever for embedding corpora (100 TB of float32 vectors
  // becomes 25 TB of int8 + one scale per vector; cosine rankings are
  // pmax-bounded approximations). Pure codegen projections, no shuffle.
  //
  // Rounding is floor(x + 0.5) rather than round(): every engine
  // computes floor identically on the same double, while half-even /
  // half-up tie conventions differ across engines — this keeps the
  // quantized grid bit-reproducible for the DuckDB oracle and any
  // later re-run.

  /** scale = max|v| / 127 (null/zero-safe): quantized = v / scale. */
  def quantScale(v: Column): Column = {
    val mx = aggregate(v.cast("array<double>"), lit(0.0),
      (acc, x) => greatest(acc, abs(x)))
    when(mx > 0.0, mx / 127.0)
  }

  /** Quantize to int8 codes (array<int> in [-127, 127]; an all-zero or
    * null-scale vector quantizes to zeros). */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v.cast("array<double>"),
      x => when(scale.isNull, lit(0))
        .otherwise(floor(x / scale + 0.5).cast("int")))

  /** Dequantize codes back to doubles. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, c => c.cast("double") * coalesce(scale, lit(0.0)))

  /** Column-composition reference forms (documented semantics). */
  def dotColumns(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
  def cosineColumns(a: Column, b: Column): Column =
    dotColumns(a, b) / (sqrt(dotColumns(a, a)) * sqrt(dotColumns(b, b)))
  def l2Columns(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v))

  /** Engine-portable Rademacher hyperplanes: the sign s_{p,k} ∈ {-1,+1}
    * for plane p, dimension k is bit (k mod 4) of hex digit ⌊k/4⌋ of a
    * per-plane md5 digest chain — ONE constant md5 string per plane
    * (constant-folded to a literal at plan time, zero per-row hashing),
    * and any SQL engine with md5 recomputes the identical matrix, so
    * LSH bucket assignments are exactly reproducible cross-engine.
    * Sign-random-projection with ±1 entries is the standard SRP family
    * (Charikar '02 allows any symmetric component distribution).
    * Chunk digest b carries 128 signs (dims 128b..128b+127) and depends
    * only on (p, b), so the chain extends to ceil(dims/128) chunks for
    * any embedding width while staying prefix-identical to the
    * historical 4-chunk (512-sign) chain. */
  private def planeDigest(p: Int, nChunks: Int): Column =
    concat((0 until nChunks).map(b => md5(lit(s"plane${p}_$b"))): _*)

  /** Sign-bit bucket key from nPlanes deterministic hyperplanes —
    * native codegen kernel (plans.SrpBucketExpr): bucketing scans the
    * FULL corpus on every index build and must stay in whole-stage
    * codegen. Handles any vector width (the sign chain extends per
    * row). Bit-identical to [[hyperplaneKeyColumns]] for vectors within
    * that form's declared maxDims. */
  def hyperplaneKey(vec: Column, nPlanes: Int): Column =
    ColumnBridge.column(graft.plans.SrpBucketExpr(
      ColumnBridge.expr(vec.cast("array<double>")), nPlanes))

  /** Column-composition reference form of [[hyperplaneKey]] — spells
    * the sign derivation out in Column space (and doubles as the
    * template for the DuckDB oracle SQL). Unlike the kernel, the
    * digest-chain length here is fixed at plan time: pass `maxDims` at
    * least as wide as the widest vector (default 512 keeps the
    * historical plan shape; 768/1024/1536 all work). */
  def hyperplaneKeyColumns(vec: Column, nPlanes: Int, maxDims: Int = 512): Column = {
    val nChunks = math.max(1, (maxDims + 127) / 128)
    val cap = nChunks * 128
    // loud failure instead of the silent wrong answer: past the static
    // chain this form would null the dot product and emit bit 0 where
    // the kernel (dynamic chain) keeps computing real signs
    val guard = when(size(vec) > cap, raise_error(concat(
      lit("srp: vector has "), size(vec).cast("string"),
      lit(s" dims but this reference form was planned with maxDims=$maxDims; " +
        "pass a larger maxDims (the kernel form handles any width)"))))
    val key = (0 until nPlanes).map { p =>
      val h = planeDigest(p, nChunks)
      val d = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, k) => {
          val digit = conv(call_function("substring", h,
            (k / 4 + 1).cast("int"), lit(1)), 16, 10).cast("int")
          val bit = call_function("shiftright", digit, pmod(k, lit(4)).cast("int")) % 2
          x * (bit * 2 - 1).cast("double")
        }),
        lit(0.0), (acc, v) => acc + v)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce[Column](_ bitwiseOR _)
    guard.otherwise(key)
  }

  /** Brute-force top-k for a whole query FRAME: broadcast the queries,
    * one pass over the corpus, per-query top-k via partitioned window. */
  def bruteForceTopKJoin(corpus: DataFrame, cid: String, cvec: String,
                         queries: DataFrame, qid: String, qvec: String,
                         k: Int): DataFrame =
    cosineTopK(corpus.crossJoin(broadcast(queries.select(
      col(qid).as("query_id"), col(qvec).as("__qv")))), cid, cvec, k)

  /** The per-query cut every batched cosine retrieval shares: over
    * candidate rows carrying the corpus columns, `query_id` and the
    * query vector `__qv`, keep each query's k best by (cos desc, cid)
    * under a `query_id`-partitioned window — never a global sort.
    * Output: (query_id, neighbor_id, cos, rank 1..k). */
  private def cosineTopK(candidates: DataFrame, cid: String, cvec: String,
                         k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    candidates
      .withColumn("cos", cosine(col(cvec).cast("array<double>"), col("__qv")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col(cid))))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col(cid).as("neighbor_id"), col("cos"),
        col("__rk").as("rank"))
  }

  /** Multi-query LSH top-k: every query row probes its own bucket plus
    * the hamming-distance-1 neighbors, and candidates resolve per-query
    * with a `query_id`-partitioned window (bucket-bounded partitions —
    * never a global sort). With `broadcastProbes` (default) the query
    * set is broadcast, so it must stay dimension-sized (≲ thousands of
    * rows × dims·8B); pass `broadcastProbes = false` for CORPUS-SCALE
    * query sets — both sides then shuffle on `__bucket` (a plain
    * co-partitioned equi-join: the corpus×corpus bitext shape), with
    * identical results. */
  def lshTopKJoin(corpus: DataFrame, cid: String, cvec: String,
                  queries: DataFrame, qid: String, qvec: String,
                  k: Int, nPlanes: Int = 8,
                  broadcastProbes: Boolean = true): DataFrame = {
    val keyed = corpus.withColumn("__bucket",
      hyperplaneKey(col(cvec).cast("array<double>"), nPlanes))
    val qKeyed = queries.select(col(qid).as("query_id"),
      col(qvec).cast("array<double>").as("__qv"))
      .withColumn("__qb", hyperplaneKey(col("__qv"), nPlanes))
    val probes = qKeyed.select(col("query_id"), col("__qv"),
      explode(concat(array(col("__qb")),
        transform(sequence(lit(0), lit(nPlanes - 1)),
          p => col("__qb").bitwiseXOR(call_function("shiftleft", lit(1L), p))))).as("__bucket"))
    // non-broadcast path: no hint — Catalyst picks sort-merge (or AQE
    // re-plans) on the co-partitioned __bucket key; forcing a hash
    // join would trade SMJ's spill-safety away under bucket skew
    cosineTopK(keyed.join(
      if (broadcastProbes) broadcast(probes) else probes, Seq("__bucket")),
      cid, cvec, k)
  }

  /** Recall@k of the LSH retrieval against brute-force ground truth —
    * the tuning metric an ANN deployment watches when trading nPlanes
    * (bucket granularity) against scan cost. Both retrievals run over
    * the same broadcast query set; the join back is on
    * (query_id, neighbor_id), so the output is one row per query:
    * (query_id, hits, truth_k, recall). Ground truth is the exact
    * brute-force top-k ([[bruteForceTopKJoin]]), hits counts how many
    * of those k the LSH retrieval also returned. */
  def annRecallAtK(corpus: DataFrame, cid: String, cvec: String,
                   queries: DataFrame, qid: String, qvec: String,
                   k: Int, nPlanes: Int = 8): DataFrame =
    recallAtK(
      bruteForceTopKJoin(corpus, cid, cvec, queries, qid, qvec, k),
      lshTopKJoin(corpus, cid, cvec, queries, qid, qvec, k, nPlanes))

  /** HUBNESS audit of the LSH retrieval (Radovanović et al. 2010) —
    * the embedding-pathology read recall@k misses: in high dimensions
    * a few vectors ("hubs") appear in a disproportionate share of
    * OTHER points' top-k lists while many ("antihubs") appear in
    * none, and a hubby space quietly biases every downstream
    * neighbor-based step (dedup clusters collapse onto hubs, kNN
    * labels echo them). Runs the [[lshTopKJoin]] self-retrieval over
    * a query sample, counts each corpus vector's k-OCCURRENCE across
    * the result lists, and reports the top hubs with their share plus
    * the corpus-wide antihub count (vectors never retrieved).
    *
    * Shape: retrieval as in [[lshTopKJoin]] (bucket-pruned, never
    * all-pairs), then ONE partial-agg count over the result set
    * (queries×k rows), a TakeOrdered(topN) cut, and two 1-row
    * broadcast totals. Counts are exact integers; the share is one
    * division. Output: (neighbor_id, k_occ, share, n_queries,
    * antihubs) — topN rows, (k_occ desc, id asc). */
  def hubnessAudit(corpus: DataFrame, cid: String, cvec: String,
                   queries: DataFrame, qid: String, qvec: String,
                   k: Int, nPlanes: Int = 8, topN: Int = 20): DataFrame = {
    require(topN >= 1, s"hubnessAudit: topN must be >= 1 (got $topN)")
    val ret = lshTopKJoin(corpus, cid, cvec, queries, qid, qvec, k, nPlanes)
    val occ = ret.groupBy(col("neighbor_id")).agg(count(lit(1)).as("k_occ"))
    val tot = queries.agg(count(lit(1)).as("n_queries"))
      .crossJoin(broadcast(
        corpus.agg(count(lit(1)).as("__nc"))))
      .crossJoin(broadcast(
        occ.agg(count(lit(1)).as("__retrieved"))))
      .select(col("n_queries"), (col("__nc") - col("__retrieved")).as("antihubs"))
    occ.orderBy(col("k_occ").desc, col("neighbor_id").asc).limit(topN)
      .crossJoin(broadcast(tot))
      .select(col("neighbor_id"), col("k_occ"),
        (col("k_occ").cast("double") / col("n_queries").cast("double"))
          .as("share"),
        col("n_queries"), col("antihubs"))
  }

  /** NDCG@k of a retrieval against a ground-truth set — the standard
    * graded ranking metric next to [[recallAtK]] (position-blind) and
    * [[rbo]] (rank agreement between two rankings): binary relevance
    * from the truth set, DCG = sum over hits of 1/log2(rank+1), ideal
    * DCG = the same weights over min(k, |truth|) top positions. The
    * discount weights are PLAN-TIME JVM literals (k of them) looked
    * up by rank — no runtime log in the hot path and no libm parity
    * lottery: the oracle replays them as exact power-of-two
    * fractions. Inputs carry (query_id, neighbor_id[, rank]) — ranks
    * 1..k on the retrieved side, the convention every retrieval here
    * emits. Work is result-set-sized.
    * Output: (query_id, dcg, idcg, ndcg). */
  def ndcgAtK(truth: DataFrame, retrieved: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"ndcgAtK: k=$k outside 1..1000")
    // weights quantized to the 2^-30 grid as plan-time LONGS: the DCG
    // sum becomes integer addition (order-invariant in any engine),
    // dcg = sum/2^30 and the ideal prefix sums are exact doubles
    // (multiples of 2^-30 well under 2^53) — a float weight sum would
    // ride the partial-agg ordering lottery
    val wq = (1 to k).map(r => (r.toLong,
      math.floor(1.0 / (math.log(r + 1.0) / math.log(2.0))
        * 1073741824.0 + 0.5).toLong))
    val wMap = map(wq.flatMap { case (r, x) => Seq(lit(r), lit(x)) }: _*)
    // the truth set is DISTINCT (query, neighbor) pairs — a duplicated
    // truth row would otherwise multiply its hit's weight through the
    // join (ndcg > 1.0) while idcg counted the duplicate-inclusive size
    val truthPairs = truth.select(col("query_id"), col("neighbor_id"))
      .distinct()
    val hits = retrieved
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(truthPairs.withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg((sum(when(col("__hit").isNotNull,
          element_at(wMap, col("rank"))).otherwise(lit(0L))).cast("double")
        / 1073741824.0).as("dcg"))
    val prefix = wq.scanLeft(0L) { case (acc, (_, x)) => acc + x }.tail
    val pMap = map(prefix.zipWithIndex.flatMap { case (x, i) =>
      Seq(lit((i + 1).toLong), lit(x.toDouble / 1073741824.0)) }: _*)
    val truthSizes = truthPairs.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__t"))
    truthSizes.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        element_at(pMap, least(col("__t"), lit(k.toLong))).as("idcg"))
      .withColumn("ndcg", col("dcg") / col("idcg"))
  }

  /** Mean-reciprocal-rank inputs — per-query reciprocal rank of the
    * FIRST relevant hit (the metric of record when one right answer
    * is enough: known-item search, RAG with a single gold passage),
    * beside [[recallAtK]] (set overlap) and [[ndcgAtK]] (graded
    * positions). RR = 1/rank of the earliest retrieved truth pair,
    * 0 when none of the top k hit. 1/rank on an exact integer is a
    * single IEEE division — engine-exact with no grid; averaging
    * across queries is the caller's one-line agg (keep the per-query
    * grain here so failures are attributable). Inputs carry
    * (query_id, neighbor_id[, rank]) like every retrieval here.
    * Work is result-set-sized. Output: (query_id, first_hit_rank
    * — NULL on a miss, rr). */
  def reciprocalRankAtK(truth: DataFrame, retrieved: DataFrame,
                        k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"reciprocalRankAtK: k=$k outside 1..1000")
    val truthPairs = truth.select(col("query_id"), col("neighbor_id"))
      .distinct()
    val queries = truthPairs.select(col("query_id")).distinct()
    val firstHit = retrieved
      .filter(col("rank") <= k)
      .join(truthPairs, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(min(col("rank")).as("first_hit_rank"))
    queries.join(firstHit, Seq("query_id"), "left")
      .select(col("query_id"), col("first_hit_rank"),
        coalesce(lit(1.0) / col("first_hit_rank").cast("double"), lit(0.0))
          .as("rr"))
  }

  /** Rank-biased overlap (Webber et al. 2010) between two retrievals'
    * rankings, per query — the top-weighted ranking-agreement read
    * that recall@k misses (recall treats rank 1 and rank k the same;
    * RBO discounts depth d by p^(d-1), so swapping the top hit hurts
    * far more than swapping the tail). Both inputs carry
    * (query_id, neighbor_id, rank) with ranks 1..k (every retrieval
    * here emits exactly that).
    *
    * p is fixed at 1/2: the depth weights 2^-(d-1) are exact powers
    * of two, so every per-pair contribution is a plan-time literal
    * double BOTH engines share verbatim (pow(0.9, d) at runtime would
    * reintroduce the libm lottery), and the per-query accumulation is
    * decimal-exact (order-invariant; the 6-decimal grid bounds the
    * score within 1e-5 of the real-valued RBO — spec-pinned). p=1/2
    * is the "top-heavy" end of the RBO family — right for comparing
    * retrieval stacks where the first screen decides.
    *
    * Work is result-set-sized: one (query, neighbor) equi-join of the
    * two rankings + a per-query agg over ≤ k joined rows; agreement at
    * depth d = |top_d(A) ∩ top_d(B)| counts pairs with
    * max(rank_a, rank_b) ≤ d, so each matched pair contributes the
    * closed-form tail Σ_{d ≥ max(ra,rb)} 2^-(d-1)/d — accumulated
    * decimal-exact. Output: (query_id, rbo) with rbo ∈ [0, 1],
    * normalized by the same truncated series at perfect agreement. */
  def rbo(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"rbo: k=$k outside the exact-dyadic envelope")
    import graft.functions.Exact
    // per-depth weights 2^-(d-1)/d are exact doubles; the per-pair
    // contribution is the tail sum from the pair's join depth — a
    // k-term lookup table inlined as literals
    val tail: Array[Double] =
      (1 to k).map(d0 => (d0 to k).map(d => math.pow(0.5, d - 1) / d).sum).toArray
    val norm = (1 to k).map(d => math.pow(0.5, d - 1)).sum // agreement(d)=d at identity
    val contrib = element_at(array(tail.map(lit): _*),
      greatest(col("__ra"), col("__rb")).cast("int"))
    val agreed = a.select(col("query_id"), col("neighbor_id"), col("rank").as("__ra"))
      .join(b.select(col("query_id"), col("neighbor_id"), col("rank").as("__rb")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg((Exact.dsum(contrib) / lit(norm)).as("rbo"))
    // a query whose rankings share NOTHING must read rbo = 0, not
    // silently vanish from the metric table
    a.select(col("query_id")).distinct()
      .join(agreed, Seq("query_id"), "left")
      .withColumn("rbo", coalesce(col("rbo"), lit(0.0)))
  }

  /** Recall of any retrieval against any ground truth: both inputs
    * carry (query_id, neighbor_id) with UNIQUE pairs (every retrieval
    * here guarantees that — a vector lives in exactly one bucket/list,
    * and probe sets are distinct); output is one row per truth query:
    * (query_id, hits, truth_k, recall). Result-set-sized work only —
    * the corpus is never touched. */
  def recallAtK(truth: DataFrame, retrieved: DataFrame): DataFrame =
    truth
      .join(retrieved.select(col("query_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        sum(coalesce(col("__hit"), lit(0L))).as("hits"),
        count(lit(1)).as("truth_k"))
      .withColumn("recall",
        col("hits").cast("double") / col("truth_k").cast("double"))

  /** ANN-mined hard negatives: from a retrieval's candidate frame
    * (query_id, cid, cos — ANY of the retrievals here produces it:
    * brute at test scale, IVF/LSH as the 100 TB path), keep the
    * candidates semantically NEAREST each anchor whose LABEL
    * disagrees — the contrastive-training examples that actually move
    * a classifier, where random negatives are trivially separable.
    *
    * Shape: the candidate frame is result-set-sized (|queries|·k), so
    * it BROADCASTS against the corpus-sized label table twice (anchor
    * + candidate lookup — two label scans, each a broadcast hash join
    * with the candidate side as build; the label table itself never
    * shuffles). The mismatch filter and the per-anchor re-rank window
    * run on the candidate set only.
    * Output: (query_id, cid, cos, q_label, c_label, neg_rank <= k). */
  def hardNegatives(retrieved: DataFrame, cid: String,
                    labels: DataFrame, lid: String, label: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"hardNegatives: k must be >= 1 (got $k)")
    val cand = retrieved.select(col("query_id"), col(cid), col("cos"))
    val withC = labels
      .select(col(lid).as(cid), col(label).as("c_label"))
      .join(broadcast(cand), Seq(cid))
    val withQ = labels
      .select(col(lid).as("query_id"), col(label).as("q_label"))
      .join(broadcast(withC), Seq("query_id"))
    withQ
      .filter(!(col("c_label") <=> col("q_label")))
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col(cid))).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col(cid), col("cos"),
        col("q_label"), col("c_label"), col("neg_rank"))
  }

  /** IVF: k-means coarse quantizer; each vector is assigned to its
    * nearest centroid (the "inverted list"); queries probe the nprobe
    * nearest lists only. Returns (assignments, centroids-as-frame).
    */
  def ivfIndex(corpus: DataFrame, id: String, vec: String,
               nLists: Int, seed: Long = 42L): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val featured = corpus.withColumn("features", array_to_vector(col(vec).cast("array<double>")))
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").fit(featured)
    val assigned = model.transform(featured)
      .withColumnRenamed("prediction", "list_id").drop("features")
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }
      .toDF("list_id", "centroid")
    (assigned, centroids)
  }

  /** IVF with DETERMINISTIC, engine-portable centroid selection: the
    * nLists corpus vectors ranked first by md5(id) are the centroids
    * (a uniform pseudo-random sample any SQL engine reproduces), and
    * each vector joins the list of its L2-nearest centroid. Recall
    * behavior matches sampled-centroid IVF-flat; swap in [[ivfIndex]]
    * (MLlib k-means) when centroid quality matters more than
    * cross-engine reproducibility.
    *
    * Scale shape: centroid pick = TakeOrdered over md5(id) (no full
    * sort); assignment = broadcast(nLists) cross join + partial-agg
    * argmin — ONE shuffle on the vector id.
    *
    * Centroid-broadcast bound: the broadcast table is nLists × (dims
    * doubles + id), i.e. ~nLists·dims·8 bytes — 4096 lists × 1536 dims
    * ≈ 50 MB, inside Spark's safe broadcast envelope; 65536 × 1536
    * ≈ 800 MB is NOT. Beyond ~10 MB·executor-count of comfort, either
    * raise `spark.sql.autoBroadcastJoinThreshold`-class memory headroom
    * deliberately, or shard the assignment: range-partition the corpus,
    * join against a bucketed centroid table, and take the per-vector
    * argmin in a second partial agg (IVF-HNSW-style two-level
    * quantizers also cut nLists itself). The billion-vector sweet spot
    * (nLists ≈ √N ≈ 30k at 1e9 vectors, dims ≤ 768) stays under
    * ~200 MB — workable but worth the deliberate-headroom check above.
    * Guarded here (loudly) at 65536 lists. */
  def ivfIndexDeterministic(corpus: DataFrame, id: String, vec: String,
                            nLists: Int): (DataFrame, DataFrame) = {
    require(nLists <= 65536,
      s"ivfIndexDeterministic: nLists=$nLists would broadcast a centroid table " +
        "past the safe envelope — shard the assignment join (see scaladoc)")
    import org.apache.spark.sql.expressions.Window
    // The centroid table is nLists rows but its SUBTREE is a corpus
    // TakeOrdered — and every consumer (the assignment's broadcast, the
    // residual join, probe ranking, per-cell LUTs) re-executes a lazy
    // subtree from the scan up. Materialize it once (r17: x_ann_ivfpq
    // re-ran this TakeOrdered ~26x per call through the lazy lineage).
    val centroids = corpus
      .select(col(id), col(vec).cast("array<double>").as("centroid"))
      .orderBy(md5(col(id).cast("string")), col(id)).limit(nLists)
      // window over nLists rows only (the tiny centroid table)
      .withColumn("list_id",
        (row_number().over(Window.orderBy(md5(col(id).cast("string")), col(id))) - 1))
      .select("list_id", "centroid")
      .localCheckpoint(true)
    (assignToCentroids(corpus, id, vec, centroids), centroids)
  }

  /** Assign vectors to an EXISTING centroid table — incremental index
    * maintenance: yesterday's IVF index absorbs today's crawl batch
    * without a rebuild (recall degrades gracefully as the
    * distribution drifts; rebuild on a drift budget, not per batch).
    * Broadcast centroids + ONE map-side-collapsed partial-agg argmin,
    * ties to the lowest list_id — the identical assignment rule the
    * index build uses, so merged and rebuilt indexes agree on
    * unchanged centroids. Output: (id, list_id, vec). */
  def assignToCentroids(corpus: DataFrame, id: String, vec: String,
                        centroids: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(centroids))
      .withColumn("__d", l2(col(vec).cast("array<double>"), col("centroid")))
      .groupBy(col(id))
      .agg(min_by(col("list_id"), struct(col("__d"), col("list_id"))).as("list_id"),
        first(col(vec)).as(vec))

  /** Multi-query IVF top-k: each query ranks the (tiny, broadcast)
    * centroid table to pick its nprobe lists, then candidates from the
    * probed lists resolve per-query with a `query_id`-partitioned
    * window (list-bounded partitions). The probe table is
    * nprobe × |queries| rows — broadcast, so the query set must stay
    * dimension-sized; the corpus side is ONE scan of `assigned`. */
  def ivfTopKJoin(assigned: DataFrame, centroids: DataFrame,
                  cid: String, cvec: String,
                  queries: DataFrame, qid: String, qvec: String,
                  k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(qid).as("query_id"),
      col(qvec).cast("array<double>").as("__qv"))
    val lists = centroids.crossJoin(broadcast(q))
      .withColumn("__d", l2(col("centroid"), col("__qv")))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__d").asc, col("list_id"))))
      .filter(col("__r") <= nprobe)
      .select(col("list_id"), col("query_id"), col("__qv"))
    cosineTopK(assigned.join(broadcast(lists), Seq("list_id")), cid, cvec, k)
  }

  /** One Lloyd iteration of k-means over an embedding column:
    * deterministic seeds (the k lowest-id vectors), nearest-centroid
    * assignment, and the recomputed means — the building block a
    * corpus-clustering / SemDeDup-style pipeline repeats to a fixed
    * point, exposed as a single step so each iteration stays an
    * inspectable, oracle-checkable plan.
    *
    * Shape: the seed table is k rows (TakeOrdered, broadcast); the
    * assignment is a broadcast nested loop + ONE partial agg argmin
    * (min_by over a (dist, cid) struct — ties to the lowest cid,
    * same recipe as [[ivfIndexDeterministic]], k·dims·8B broadcast
    * envelope documented there); the recompute is
    * [[centroidsByKey]]'s fixed-point Long-sum aggregate, so the new
    * centroids are bit-identical under any partitioning and exactly
    * replayable by any engine with BIGINT.
    * Output: (cid, n, centroid). */
  def kmeansStep(corpus: DataFrame, id: String, vec: String, k: Int,
                 dims: Int): DataFrame = {
    require(k >= 1 && k <= 65536,
      s"kmeansStep: k=$k outside the broadcastable-centroid envelope")
    val seeds = corpus
      .select(col(id).as("__cid"), col(vec).cast("array<double>").as("__cv"))
      .orderBy(col("__cid")).limit(k)
    val assigned = corpus.crossJoin(broadcast(seeds))
      .withColumn("__d", l2(col(vec).cast("array<double>"), col("__cv")))
      .groupBy(col(id))
      .agg(min_by(col("__cid"), struct(col("__d"), col("__cid"))).as("cid"),
        first(col(vec)).as(vec))
    centroidsByKey(assigned, Seq(col("cid")), col(vec), dims)
  }

  /** Lloyd's k-means iterated to a fixed iteration count: same
    * deterministic k-lowest-id seeds, nearest-centroid argmin, and
    * fixed-point centroid recompute as [[kmeansStep]], repeated
    * `iters` times. The k centroids (k·dims doubles — driver-tiny at
    * ANY corpus scale; MLlib's KMeans collects exactly the same thing
    * each round) live on the driver between rounds, so every
    * iteration is a flat plan instead of an `iters`-deep lineage —
    * and for k·dims inside the codegen envelope the assignment is a
    * literal-inlined least()-of-structs PROJECTION: the only shuffle
    * per iteration is the centroid aggregate's #partitions × k
    * fixed-size buffers, the corpus itself never moves. The
    * fixed-point means round-trip exactly through the driver (pure
    * IEEE doubles), so the result is bit-identical to an all-in-plan
    * unrolling. A centroid that captures zero vectors drops out for
    * subsequent rounds (standard Lloyd behavior).
    * Output after the final iteration: (cid, n, centroid). */
  def kmeansLloyd(corpus: DataFrame, id: String, vec: String, k: Int,
                  dims: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"kmeansLloyd: iters=$iters must be >= 1")
    require(k >= 1 && k <= 65536,
      s"kmeansLloyd: k=$k outside the broadcastable-centroid envelope")
    // Assignment with DRIVER-RESIDENT centroids (the loop materializes
    // them between rounds anyway) — see [[kmeansLloydFrom]]: small
    // k·dims inlines the centroids as literals and computes the argmin
    // as least() over k (dist,cid) structs, a pure codegen projection
    // with ZERO shuffle per iteration; past the literal-inlining
    // envelope it falls back to broadcast-join + map-side-collapsed
    // argmin.
    // seeds: k lowest ids (TakeOrdered — driver-tiny at any scale)
    val cents0 = corpus
      .select(col(id).cast("long").as("cid"),
        col(vec).cast("array<double>").as("cv"))
      .orderBy(col("cid")).limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    kmeansLloydFrom(corpus, id, vec, k, dims, iters, cents0)
  }

  /** [[kmeansLloyd]] from PRECOLLECTED initial centroids — the shared
    * loop body, exposed so [[pqTrain]] can seed all m subspaces from
    * ONE TakeOrdered collect (the per-subspace seed scans were m full
    * corpus passes for the same k lowest ids). Bit-identical to
    * [[kmeansLloyd]] when fed its own seed rows. */
  private[ops] def kmeansLloydFrom(corpus: DataFrame, id: String, vec: String,
                                   k: Int, dims: Int, iters: Int,
                                   cents0: Array[(Long, Array[Double])]): DataFrame = {
    require(iters >= 1, s"kmeansLloyd: iters=$iters must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    def assign(cents: Array[(Long, Array[Double])]): DataFrame =
      if (k.toLong * dims <= 65536) {
        val cand = cents.map { case (cid, cv) =>
          struct(
            l2(col(vec).cast("array<double>"), array(cv.map(lit).toSeq: _*)).as("d"),
            lit(cid).as("cid")) }.toSeq
        val best = if (cand.size == 1) cand.head else least(cand: _*)
        corpus.select(best.getField("cid").as("cid"), col(vec))
      } else {
        val cdf = cents.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("__cid", "__cv")
        corpus.crossJoin(broadcast(cdf))
          .withColumn("__d", l2(col(vec).cast("array<double>"), col("__cv")))
          .groupBy(col(id))
          .agg(min_by(col("__cid"), struct(col("__d"), col("__cid"))).as("cid"),
            first(col(vec)).as(vec))
      }
    var cents = cents0
    var result: DataFrame = null
    for (it <- 1 to iters) {
      result = centroidsByKey(assign(cents), Seq(col("cid")), col(vec), dims)
      if (it < iters)
        cents = result.select(col("cid").cast("long"), col("centroid"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    }
    result
  }

  /** Farthest-first traversal (Gonzalez 1985) — deterministic
    * k-center seeding with a coverage guarantee: start from the
    * lowest-id vector, then repeatedly pick the point FARTHEST from
    * every center chosen so far. The picked set is a 2-approximation
    * of the optimal k-center radius, which makes it (a) the seeding
    * that spreads [[kmeansLloyd]]/[[ivfIndexDeterministic]] centroids
    * across the cloud instead of clumping them in the densest region
    * (k-lowest-id seeds can), and (b) a diversity read in its own
    * right: `radius` is the distance at which EVERY corpus vector has
    * a center — the covering-ball certificate for an IVF index or a
    * diversity-subset selection.
    *
    * Deterministic and engine-exact with NO grids: every distance is
    * the codegen l2 kernel on identical doubles (per-row IEEE, no
    * accumulation across rows), the running min is `least` over the
    * centers (min of doubles is associative — incremental and batch
    * forms agree exactly), and each pick is TakeOrdered(1) on
    * (d DESC, id ASC) — ties to the lowest id. Centers round-trip the
    * driver as raw vector doubles (no arithmetic), so the SQL
    * unrolling reproduces every pick bit for bit.
    *
    * Cost model: k rounds × one corpus scan each (Gonzalez is
    * inherently sequential in k) with k·dims literals in the final
    * scans — the k ≤ 256 envelope keeps the plan inside codegen
    * limits; seeding budgets beyond that belong to sampled variants.
    * Duplicate vectors are fine (they pick at d=0 only after the
    * cloud is exhausted); k larger than the distinct-vector count
    * degenerates to repeats, as in the textbook algorithm.
    * Output: (cid 0…k−1, vec_id, dist — the pick's distance to its
    * nearest EARLIER center (0 for the seed), radius — max over the
    * corpus of the distance to its nearest of the k centers). */
  def farthestFirst(corpus: DataFrame, id: String, vec: String,
                    k: Int): DataFrame = {
    require(k >= 1 && k <= 256,
      s"farthestFirst: k=$k outside the literal-chain envelope (1..256)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val v = corpus.select(col(id).cast("long").as("__id"),
      col(vec).cast("array<double>").as("__v"))
    val seed = v.orderBy(col("__id")).limit(1).collect().head
    var cents = List((seed.getLong(0), seed.getSeq[Double](1).toArray, 0.0))
    def minD: Column = {
      val ds = cents.map { case (_, cv, _) =>
        l2(col("__v"), array(cv.map(lit).toSeq: _*)) }
      if (ds.size == 1) ds.head else least(ds: _*)
    }
    for (_ <- 1 until k) {
      val pick = v.select(col("__id"), col("__v"), minD.as("__d"))
        .orderBy(col("__d").desc, col("__id")).limit(1).collect().head
      cents = (pick.getLong(0), pick.getSeq[Double](1).toArray,
        pick.getDouble(2)) :: cents
    }
    val radius = v.select(minD.as("__d")).agg(max(col("__d"))).collect()
      .head.getDouble(0)
    cents.reverse.zipWithIndex
      .map { case ((cid, _, d), i) => (i, cid, d, radius) }
      .toDF("cid", "vec_id", "dist", "radius")
  }

  /** Per-stratum embedding coherence: mean cosine of each vector to
    * its stratum centroid — the "how tight is this domain's embedding
    * cloud" read that ranks strata for SemDeDup attention and flags
    * incoherent (mixed/garbage) sources. Centroid =
    * [[centroidsByKey]]'s fixed-point exact mean, broadcast back
    * null-safely (<=> — a NULL stratum is a group); per-row cosine is
    * the codegen kernel (bit-exact cross-engine); the mean uses
    * decimal accumulation (the Exact.dsum rule) so even the sum is
    * order-invariant. Shape: one fixed-buffer agg shuffle for the
    * centroids + a broadcast join + one partial-agg scan — the corpus
    * never shuffles with its vectors.
    * Output: (keys…, n, coherence). */
  def strataCoherence(df: DataFrame, keys: Seq[String], vec: Column,
                      dims: Int): DataFrame = {
    require(keys.nonEmpty, "strataCoherence: no group keys")
    val cents = centroidsByKey(df, keys.map(col), vec, dims)
      .select(keys.map(col) :+ col("centroid"): _*)
    val fr = keys.zipWithIndex.foldLeft(cents) {
      case (f, (k, i)) => f.withColumnRenamed(k, s"__ck$i") }
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(k) <=> col(s"__ck$i") }.reduce(_ && _)
    df.join(broadcast(fr), cond)
      .withColumn("__cos", cosine(vec.cast("array<double>"), col("centroid")))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.davg(col("__cos")).as("coherence"))
  }

  /** Per-stratum embedding outliers — the curation read that drops
    * mis-embedded / off-distribution vectors before they poison
    * nearest-neighbor training data: distance to the OWN stratum's
    * fixed-point centroid ([[centroidsByKey]] — bit-identical under
    * any partitioning), then the `outlierFrac` most distant rows per
    * stratum flagged by an integer rank rule (row_number ≤
    * floor(outlierFrac·n) under the total order (dist desc, id)) — no
    * quantile interpolation, so the flag is engine-exact. ONE centroid
    * partial agg + broadcast join + one stratum-partitioned window.
    * Output: input keys + (id, dist, is_outlier). */
  def embeddingOutliers(df: DataFrame, keys: Seq[String], id: String,
                        vec: Column, dims: Int,
                        outlierFrac: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(outlierFrac > 0 && outlierFrac < 1,
      s"embeddingOutliers: outlierFrac must be in (0,1) (got $outlierFrac)")
    val cents = centroidsByKey(df, keys.map(col), vec, dims)
      .select(keys.map(col) :+ col("centroid"): _*)
    val fr = keys.zipWithIndex.foldLeft(cents) {
      case (f, (k, i)) => f.withColumnRenamed(k, s"__ck$i") }
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(k) <=> col(s"__ck$i") }.reduce(_ && _)
    val w = Window.partitionBy(keys.map(col): _*)
    val joined = df.join(broadcast(fr), cond)
      .withColumn("dist", l2(vec.cast("array<double>"), col("centroid")))
    joined
      .withColumn("__rn", row_number().over(
        w.orderBy(col("dist").desc, col(id).asc)))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("is_outlier",
        col("__rn") <= floor(lit(outlierFrac) * col("__n")))
      .select(keys.map(col) ++ Seq(col(id), col("dist"), col("is_outlier")): _*)
  }

  /** Order-invariant engine-exact sum of an array<double>'s elements
    * via the fixed-point recipe [[centroidsByKey]] already proves out:
    * floor(x·2^40 + 0.5) is identical in every engine on identical
    * doubles (double→DECIMAL casts are NOT — Spark and DuckDB round
    * different representations at the 11th+ fractional digit), Long
    * sums are exact and associative, and the one final division is a
    * single IEEE op. Grid: 2^-40 ≈ 9e-13 resolution, |element| must
    * stay ≪ 2^13 so 64-element sums sit far inside 2^53 (drift/
    * centroid arrays are unit-scale). Runs once per STRATUM, not per
    * row. */
  private def dElemSum(arr: Column): Column = {
    val scale = (1L << 40).toDouble
    aggregate(arr, lit(0L),
      (acc, x) => acc + floor(x * lit(scale) + 0.5).cast("long"))
      .cast("double") / lit(scale)
  }

  /** Per-stratum centroid drift between two corpus snapshots — the
    * embedding-space distribution-shift monitor that tells a standing
    * pipeline WHEN to rebuild its IVF index / recalibrate its quality
    * classifier (the rebuild-on-a-drift-budget contract in
    * [[assignToCentroids]]): each snapshot's per-key centroids via the
    * fixed-point aggregate ([[centroidsByKey]] — bit-identical under
    * any partitioning), joined null-safely (<=>; a NULL stratum is a
    * stratum), then the L2 shift and cosine between old and new
    * centroids. Strata present in only one snapshot surface with
    * n=0 on the other side and NULL drift — appearing/disappearing
    * sources ARE drift events, not rows to drop.
    *
    * Shape: two fixed-buffer agg shuffles (#partitions × #strata
    * buffers) + one stratum-sized join — the corpora never shuffle
    * their vectors. Drift arithmetic uses the same fixed-point Long
    * grid as the centroid aggregate (floor(x·2^40+0.5) sums), so the
    * output is engine-exact with NO rounding.
    * Output: (keys…, n_old, n_new, drift_l2, drift_cos). */
  def centroidDrift(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                    vec: Column, dims: Int): DataFrame = {
    require(keys.nonEmpty, "centroidDrift: no stratum keys")
    val a = centroidsByKey(oldDf, keys.map(col), vec, dims)
      .select(keys.map(col) ++ Seq(col("n").as("n_old"), col("centroid").as("__ca")): _*)
    val b = centroidsByKey(newDf, keys.map(col), vec, dims)
      .select(keys.map(k => col(k).as(s"__k_$k")) ++
        Seq(col("n").as("n_new"), col("centroid").as("__cb")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    val dot = dElemSum(zip_with(col("__ca"), col("__cb"), (x, y) => x * y))
    val na = sqrt(dElemSum(transform(col("__ca"), x => x * x)))
    val nb = sqrt(dElemSum(transform(col("__cb"), x => x * x)))
    a.join(b, cond, "full_outer")
      .withColumn("drift_l2",
        sqrt(dElemSum(zip_with(col("__ca"), col("__cb"), (x, y) => (x - y) * (x - y)))))
      .withColumn("drift_cos", dot / (na * nb))
      .select(keys.map(k => coalesce(col(k), col(s"__k_$k")).as(k)) ++ Seq(
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("drift_l2"), col("drift_cos")): _*)
  }

  /** Per-group embedding centroids in ONE partial aggregate — no
    * posexplode (which would multiply the shuffle by `dims`; see
    * plans.VectorAggKernels). `vec` must be castable to array<double>
    * of exactly `dims` elements (wrong widths and NULL elements fail
    * loudly; NULL vectors are skipped).
    *
    * Output: the group keys + `n` (vectors aggregated) + `centroid`
    * (array<double>, the element-wise mean). The mean is derived from
    * fixed-point Long sums (floor(x·2^scaleBits + 0.5)), so it is
    * bit-identical under any partitioning and exactly replayable by
    * any engine with BIGINT — each element is
    * (sum_fixed / 2^scaleBits) / n, two exact IEEE divisions. */
  def centroidsByKey(df: DataFrame, keys: Seq[Column], vec: Column, dims: Int,
                     scaleBits: Int = 24): DataFrame = {
    val agg = ColumnBridge.column(
      graft.plans.VectorFixedSumAgg(
        ColumnBridge.expr(vec.cast("array<double>")), dims, scaleBits)
        .toAggregateExpression())
    val scale = (1L << scaleBits).toDouble
    df.groupBy(keys: _*)
      .agg(agg.as("__vs"))
      .withColumn("n", col("__vs.n"))
      .withColumn("centroid",
        transform(col("__vs.sums"),
          s => s.cast("double") / lit(scale) / col("__vs.n").cast("double")))
      .drop("__vs")
  }

  /** Top principal direction of an embedding corpus by power
    * iteration — the anisotropy / "all-but-the-top" read (Mu &
    * Viswanath 2018): embedding clouds concentrate along a few
    * dominant directions, and removing the top component(s) before
    * cosine retrieval measurably improves it. This computes the
    * dominant eigenvector of the (uncentered) second-moment matrix
    * Σ x xᵀ without EVER materializing the dims×dims matrix:
    * each iteration is w = Σ_rows x·(x·v), i.e. ONE aggregate scan
    * producing `dims` Long sums, with v living on the driver between
    * rounds (dims doubles — the kmeansLloyd round-trip pattern).
    * Center first (subtract [[centroidsByKey]]'s global mean) for
    * true top-PCA; uncentered, the top direction ≈ the mean
    * direction — both are standard whitening reads.
    *
    * Engine-exact by the floor-grid recipe: the per-row projection
    * x·v and the per-dimension contributions x_j·(x·v) both
    * accumulate as floor(t·2^30 + 0.5) Long sums (order-invariant,
    * identical in any engine on identical doubles), and the driver's
    * normalization is plain IEEE (sum of squares in dimension order +
    * one sqrt), so every iterate — and the output — is bit-identical
    * to the SQL unrolling of the same recipe. Seed v₀ = e₀ (the
    * first basis vector), standard for power iteration; a corpus
    * exactly orthogonal to the current iterate fails loudly rather
    * than dividing by zero.
    *
    * Magnitude contract: |x_j| ≤ ~100 keeps x·v ≤ 100·√dims and the
    * 2^30-grid Long sums far inside 2^63 for corpora to ~10^9 rows —
    * embedding-scale inputs by construction.
    *
    * Output: `dims` rows (dim, loading, lam) — the unit eigenvector
    * and the eigenvalue estimate ‖w‖ from the final iteration. */
  def topPrincipalDirection(corpus: DataFrame, vec: String, dims: Int,
                            iters: Int): DataFrame = {
    require(iters >= 1, s"topPrincipalDirection: iters=$iters must be >= 1")
    require(dims >= 1 && dims <= 4096,
      s"topPrincipalDirection: dims=$dims outside the driver-roundtrip envelope")
    val spark = corpus.sparkSession
    import spark.implicits._
    val scale = (1L << 30).toDouble
    def fx(c: Column): Column = floor(c * lit(scale) + 0.5).cast("long")
    var v = Array.tabulate(dims)(j => if (j == 0) 1.0 else 0.0)
    var lam = 0.0
    for (_ <- 1 to iters) {
      val x = col(vec).cast("array<double>")
      val vLit = array(v.map(lit).toSeq: _*)
      // per-row projection on the fixed-point grid (order-invariant)
      val proj = aggregate(zip_with(x, vLit, (a, b) => fx(a * b)), lit(0L), _ + _)
        .cast("double") / lit(scale)
      // w_j = Σ_rows x_j · proj, one partial-agg scan of dims Long
      // sums. proj and the cast array are PROJECTED ONCE per row below
      // the aggregate (r17): referenced directly inside all `dims`
      // aggregate expressions, the interpreted HOF subtree (zip_with +
      // aggregate — CodegenFallback, no CSE) re-evaluated per
      // expression, turning one O(dims) projection into O(dims²) work
      // per row. Same expressions, same grid, bit-identical sums.
      val aggs = (0 until dims).map(j =>
        sum(fx(element_at(col("__x"), j + 1) * col("__proj"))).as(s"w$j"))
      val row = corpus.select(x.as("__x"), proj.as("__proj"))
        .agg(aggs.head, aggs.tail: _*).collect().head
      val w = Array.tabulate(dims)(j => row.getLong(j).toDouble / scale)
      // norm in dimension order — the oracle's left-assoc + chain
      lam = math.sqrt(w.foldLeft(0.0)((acc, x) => acc + x * x))
      require(lam > 0.0,
        "topPrincipalDirection: iterate collapsed to zero (corpus orthogonal " +
          "to the current vector) — reseed or center the corpus")
      v = w.map(_ / lam)
    }
    v.zipWithIndex.map { case (x, j) => (j, x, lam) }
      .toSeq.toDF("dim", "loading", "lam")
  }

  /** Johnson–Lindenstrauss signed random projection: compress an
    * embedding column from `dims` to `outDims` dimensions with the
    * dense ±1 matrix (Achlioptas 2003 — Rademacher entries satisfy
    * the JL lemma), y_j = (Σ_i s_ji·x_i) / √outDims. The 4–16×
    * cheaper vectors bound pairwise-distance distortion by
    * O(√(log N / outDims)) — the standard pre-filter lever when
    * full-width cosines dominate an ANN or dedup pass (rank on
    * projected vectors, verify survivors at full width).
    *
    * Engine-portable and engine-EXACT: signs come from a per-output-
    * dim md5 digest chain (seed "jl{j}_{chunk}" — deliberately
    * disjoint from the SRP "plane" chain so composing JL with LSH
    * bucketing keeps independent matrices; same bit layout as
    * [[hyperplaneKeyColumns]]), inputs snap to the floor(x·2^30+0.5)
    * Long grid ONCE into a temp column (evaluation-shape rule — the
    * outDims component sums all read it), each component is an exact
    * Long sum of ±fixed-point values, and the two final divisions are
    * exact powers of two when `outDims` is a perfect square of one
    * (16 → /4) — so projected vectors are bit-identical in any
    * engine with md5. Pure projection: no shuffle, no join.
    * Replaces `vec` in place. */
  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998) — diversified retrieval: greedily pick the candidate
    * maximizing λ·rel − (1−λ)·max_cos-to-already-selected, so the
    * final k covers the query's facets instead of k near-copies of
    * the top hit (the RAG-context / dedup-aware-retrieval staple).
    *
    * Input is a CANDIDATE frame (qid, id, rel, vec) — top-N-sized per
    * query BY CONTRACT (this re-ranks retrieval output, it does not
    * scan a corpus), so the per-query greedy runs in flatMapGroups
    * over bounded lists — the same justification as the streaming
    * state ops, with O(N·k) cosines per query. Cross-engine exactness:
    * raw cosine sums differ by ~dim·ulp across engines (the
    * x_ann_brute finding), so the pairwise similarity is ROUNDED to 4
    * digits (HALF_UP — Spark's round; spec-pinned equal) before the
    * formula, and callers should pass `rel` pre-rounded the same way;
    * the score arithmetic on the rounded doubles then replays
    * bit-for-bit. The penalty for an empty selected set is 0.0; ties
    * break to the lowest id. Output: (qid, id, mmr, rank 1..k). */
  def mmrRerank(cands: DataFrame, qid: String, id: String, rel: String,
                vec: String, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, s"mmrRerank: k must be >= 1 (got $k)")
    require(lambda >= 0 && lambda <= 1,
      s"mmrRerank: lambda must be in [0,1] (got $lambda)")
    val spark = cands.sparkSession
    import spark.implicits._
    val lam = lambda
    val oneMinus = 1.0 - lambda
    cands.select(col(qid).cast("long"), col(id).cast("long"),
        col(rel).cast("double"), col(vec).cast("array<double>"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val cs = it.toArray.sortBy(_._2)
        val vecs = cs.map(_._4.toArray)
        def cos(a: Array[Double], b: Array[Double]): Double = {
          val n = math.min(a.length, b.length)
          var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < n) {
            dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          // 4-digit HALF_UP — Spark round()'s semantics (valueOf =
          // shortest-decimal, the same basis Round uses)
          java.math.BigDecimal.valueOf(dp / (math.sqrt(na) * math.sqrt(nb)))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
        val kk = math.min(k, cs.length)
        while (selected.length < kk) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var j = 0
          while (j < cs.length) {
            if (!selected.contains(j)) {
              var mx = 0.0
              var s = 0
              while (s < selected.length) {
                val c2 = cos(vecs(j), vecs(selected(s)))
                if (s == 0 || c2 > mx) mx = c2
                s += 1
              }
              val score = lam * cs(j)._3 - oneMinus * mx
              if (score > bestScore) { best = j; bestScore = score }
            }
            j += 1
          }
          selected += best
          out += ((q, cs(best)._2, bestScore, selected.length.toLong))
        }
        out.iterator
      }.toDF(qid, id, "mmr", "rank")
  }

  /** Matryoshka-style dimension truncation (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): an MRL-trained embedding's
    * first d′ dims are themselves a usable embedding, so slicing the
    * stored vector is the zero-compute storage/latency lever — 4×
    * fewer bytes at d′ = dims/4, no codebooks, no projection matrix.
    * Cosine ranking is scale-invariant, so no renormalization is
    * needed. Pure projection (replaces `vec` in place); read the
    * quality cost with [[recallAtK]] against full-width truth
    * (x_mrl_recall), exactly like the JL and PQ levers. */
  def truncateDims(df: DataFrame, vec: String, dims: Int): DataFrame = {
    require(dims >= 1, s"truncateDims: dims=$dims must be >= 1")
    df.withColumn(vec, slice(col(vec).cast("array<double>"), 1, dims))
  }

  def jlProject(df: DataFrame, vec: String, outDims: Int,
                maxDims: Int = 512): DataFrame = {
    require(outDims >= 1 && outDims <= 1024,
      s"jlProject: outDims=$outDims outside the literal-chain envelope")
    val nChunks = math.max(1, (maxDims + 127) / 128)
    val cap = nChunks * 128
    val scale = (1L << 30).toDouble
    require(!df.columns.contains("__jlfx"), "jlProject: reserved column __jlfx")
    val x = col(vec).cast("array<double>")
    val guard = when(size(col("__jlfx")) > cap, raise_error(concat(
      lit("jl: vector has "), size(col("__jlfx")).cast("string"),
      lit(s" dims but the sign chain was planned with maxDims=$maxDims"))))
    val comps = (0 until outDims).map { j =>
      val h = concat((0 until nChunks).map(b => md5(lit(s"jl${j}_$b"))): _*)
      aggregate(
        zip_with(col("__jlfx"), sequence(lit(0), size(col("__jlfx")) - 1), (v, k) => {
          val digit = conv(call_function("substring", h,
            (k / 4 + 1).cast("int"), lit(1)), 16, 10).cast("int")
          val bit = call_function("shiftright", digit, pmod(k, lit(4)).cast("int")) % 2
          v * (bit * 2 - 1).cast("long")
        }),
        lit(0L), _ + _)
    }
    val root = math.sqrt(outDims.toDouble)
    val projected = transform(array(comps: _*),
      c => c.cast("double") / lit(scale) / lit(root))
    df.withColumn("__jlfx", transform(x, e => floor(e * lit(scale) + 0.5).cast("long")))
      .withColumn(vec, guard.otherwise(projected))
      .drop("__jlfx")
  }

  /** "All-but-the-top" whitening (Mu & Viswanath 2018): subtract each
    * vector's projection onto the corpus's top principal direction,
    * x′ = x − (x·v)·v — the one-line post-process that measurably
    * improves cosine retrieval on anisotropic embedding clouds. v
    * comes from [[topPrincipalDirection]] (driver-resident, dims
    * doubles) and inlines as literals, so the rewrite is a pure
    * projection — no shuffle, no join; the per-row dot runs ONCE into
    * a temp column (evaluation-shape rule), on the same floor-grid
    * accumulation as the iteration itself, so whitened vectors are
    * bit-reproducible cross-engine. Replaces `vec` in place. */
  def removeTopComponent(corpus: DataFrame, vec: String, dims: Int,
                         iters: Int): DataFrame = {
    val pc = topPrincipalDirection(corpus, vec, dims, iters)
      .orderBy("dim").collect().map(_.getDouble(1))
    val vLit = array(pc.map(lit).toSeq: _*)
    val scale = (1L << 30).toDouble
    val x = col(vec).cast("array<double>")
    val proj = aggregate(
      zip_with(x, vLit, (a, b) => floor(a * b * lit(scale) + 0.5).cast("long")),
      lit(0L), _ + _).cast("double") / lit(scale)
    require(!corpus.columns.contains("__abtt"),
      "removeTopComponent: reserved column __abtt")
    corpus
      .withColumn("__abtt", proj)
      .withColumn(vec, zip_with(x, vLit, (a, b) => a - col("__abtt") * b))
      .drop("__abtt")
  }

  // ---- product quantization (PQ) -----------------------------------------
  /** Train PQ codebooks: split each vector into `m` contiguous
    * subvectors of dims/m and run [[kmeansLloyd]] independently per
    * subspace (same deterministic lowest-id seeds, literal-argmin
    * assignment, fixed-point centroids). PQ is THE storage answer for
    * 100 TB ANN: m log2(ksub)-bit codes per vector instead of dims
    * doubles (64-dim float64 → 4 bytes at m=4/ksub=256 — a 128×
    * compression), with search over codes + a per-query lookup table
    * instead of raw vectors. Codebooks are m·ksub·(dims/m) doubles —
    * driver-tiny at any corpus scale.
    * Output: (subspace, cid, n, centroid). */
  def pqTrain(corpus: DataFrame, id: String, vec: String,
              dims: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"pqTrain: m=$m must divide dims=$dims")
    require(ksub >= 1 && ksub <= 65536,
      s"pqTrain: ksub=$ksub outside the broadcastable-centroid envelope")
    val dsub = dims / m
    // ONE seed TakeOrdered for all m subspaces (r17, guide §1.2): the
    // per-subspace seeds are the same k lowest ids carrying that
    // subspace's slice — collect (id, vec) once and slice on the
    // driver. Per-subspace kmeansLloyd seeding was m full corpus
    // scans for identical id sets; element-wise cast-then-slice
    // equals slice-then-cast, so the seed doubles are bit-identical.
    val seedRows = corpus
      .select(col(id).cast("long").as("cid"),
        col(vec).cast("array<double>").as("cv"))
      .orderBy(col("cid")).limit(ksub)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    (0 until m).map { s =>
      val sub = corpus.select(col(id),
        slice(col(vec).cast("array<double>"), s * dsub + 1, dsub).as("__sv"))
      val seeds = seedRows.map { case (cid, v) =>
        (cid, v.slice(s * dsub, math.min(v.length, s * dsub + dsub))) }
      kmeansLloydFrom(sub, id, "__sv", ksub, dsub, iters, seeds)
        .select(lit(s).as("subspace"), col("cid"), col("n"), col("centroid"))
    }.reduce(_.union(_))
  }

  /** PQ search by Asymmetric Distance Computation: encode the corpus
    * (per subspace, argmin over the codebook — inside the codegen
    * envelope a literal-inlined least() PROJECTION, the kmeansLloyd
    * assignment trick, zero shuffle; past it the same broadcast-join
    * + min_by fallback kmeansLloyd uses), compute the query's
    * (subspace, code) → squared-subdistance lookup table IN-PLAN with
    * the engine l2 kernel (m·ksub rows — driver-tiny), round-trip it
    * through the driver as raw IEEE doubles (no arithmetic), and
    * score every row MAP-SIDE as the sum of its m `element_at`
    * lookups into per-subspace map LITERALS — the ADC pass is one
    * joinless projection over the encoded corpus, cut top-k with
    * TakeOrdered. The corpus is scanned once; nothing shuffles; the
    * plan survives any corpus scale with the codebook/LUT envelope
    * (m·ksub entries) fixed.
    *
    * Engine-exact: sub-distances are the codegen l2 kernel (per-row
    * IEEE, replayed by DuckDB's list_distance — the proven parity;
    * the driver round-trip copies the doubles bit-for-bit), the ADC
    * sum adds the m squared terms in subspace order, and ties rank
    * by id.
    * Output: (id, adc, rank 1..k). */
  def pqTopKAdc(corpus: DataFrame, id: String, vec: String,
                dims: Int, m: Int, ksub: Int, iters: Int,
                queryDf: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dims / m
    // m·ksub rows, materialized: the cb collect and the query-LUT
    // collect below otherwise EACH re-run the full per-subspace Lloyd
    // training (m seed TakeOrdereds + m centroid aggs over the corpus)
    val books = pqTrain(corpus, id, vec, dims, m, ksub, iters)
      .localCheckpoint(true)
    val cb = codebooksOf(books)
    val vecs = corpus.select(col(id), col(vec).cast("array<double>").as("__v"))
    val enc = if (ksub.toLong * dsub <= 65536) pqEncode(vecs, "__v", cb, m, dsub)
    else {
      // past the codegen envelope: ONE broadcast nested-loop against the
      // full codebook + ONE agg resolving all m argmins (min_by over a
      // (dist, cid) struct per subspace — identical tie-break)
      val cdf = broadcast(cb.toSeq.map { case (s, c, v) => (s, c, v.toSeq) }
        .toDF("__s", "__cid", "__cv"))
      val far = struct(lit(Double.PositiveInfinity).as("d"),
        lit(Long.MaxValue).as("cid"))
      vecs.crossJoin(cdf)
        .withColumn("__d",
          l2(slice(col("__v"), col("__s") * lit(dsub) + 1, lit(dsub)), col("__cv")))
        .groupBy(col(id))
        .agg(first(col("__v")).as("__v"),
          (0 until m).map(s =>
            min_by(col("__cid"),
              when(col("__s") === s,
                struct(col("__d").as("d"), col("__cid").as("cid")))
                .otherwise(far)).as(s"__code_$s")): _*)
    }
    // query LUT: engine-exact in-plan sub-distances, round-tripped
    // through the driver (m·ksub doubles) into map literals
    val lut = books.crossJoin(broadcast(queryDf))
      .withColumn("__d",
        l2(slice(col("qv"), col("subspace") * lit(dsub) + 1, lit(dsub)),
          col("centroid")))
      .select(col("subspace"), col("cid"), (col("__d") * col("__d")).as("__sd"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val adc = (0 until m).map { s =>
      val entries = lut.filter(_._1 == s).sortBy(_._2)
        .flatMap { case (_, cid, sd) => Seq(lit(cid), lit(sd)) }
      element_at(map(entries.toSeq: _*), col(s"__code_$s"))
    }.reduce(_ + _)
    val ranked = enc.select(col(id), adc.as("adc"))
      .orderBy(col("adc").asc, col(id)).limit(k)
    graft.core.Tibble.rowidToColumn(ranked,
      Seq(col("adc").asc, col(id)), "rank")
  }

  /** IVF-PQ retrieval (IVFADC — Jégou et al. 2011, the FAISS
    * billion-scale default): the coarse quantizer prunes the corpus
    * to `nProbe` cells and PQ codes over RESIDUALS (v − coarse
    * centroid) give the in-cell approximate distances — residuals
    * are far more compressible than raw vectors, so the same m/ksub
    * budget buys materially better recall than flat PQ, and the scan
    * touches only the probed slice of the corpus. The composition of
    * [[ivfIndexDeterministic]] (md5-ranked deterministic coarse
    * centroids) with [[pqTrain]]'s per-subspace Lloyd codebooks over
    * the residual frame.
    *
    * Scale shape: residual encode is a pure codegen projection
    * ([[vecDiff]] kernel + the literal-argmin trick — zero shuffles
    * past the coarse assignment's one partial agg); the probe list
    * and per-cell query-residual LUTs are driver-tiny (nProbe ×
    * m·ksub doubles, raw IEEE round-trip); the ADC pass is a joinless
    * projection over the probed cells' rows — at warehouse scale,
    * write the encoded table partitioned by `list_id` and the probe
    * filter becomes directory pruning. Everything is engine-exact
    * (index-order IEEE residuals, the proven l2 kernel parity, m adds
    * in subspace order, ties by id) — the oracle replays coarse
    * assignment, residuals, codebooks, encode, LUT, and cut.
    * Single-query by construction, it stays as the in-plan reference
    * of [[ivfPqTopKJoin]], which serves query batches.
    * Output: (id, adc, rank 1..k). */
  def ivfPqTopK(corpus: DataFrame, id: String, vec: String, dims: Int,
                nLists: Int, nProbe: Int, m: Int, ksub: Int, iters: Int,
                queryDf: DataFrame, k: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"ivfPqTopK: m=$m must divide dims=$dims")
    val dsub = dims / m
    require(ksub.toLong * dsub <= 65536,
      s"ivfPqTopK: ksub*dsub=${ksub.toLong * dsub} past the literal-inline " +
        "envelope — use pqTopKAdc's broadcast fallback shape")
    require(nProbe >= 1 && nProbe <= nLists,
      s"ivfPqTopK: nProbe=$nProbe must be in 1..$nLists")
    val (enc, centroids, books, _) =
      ivfPqEncodeFrames(corpus, id, vec, dims, nLists, m, ksub, iters)
    // probe: nProbe nearest coarse cells to q (driver-tiny)
    val probed = centroids.crossJoin(broadcast(queryDf))
      .withColumn("__d", l2(col("centroid"), col("qv")))
      .orderBy(col("__d").asc, col("list_id")).limit(nProbe)
      .select("list_id", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    // per-cell LUT: sub-distances of the cell's QUERY RESIDUAL against
    // the codebooks — engine-exact in-plan l2, raw-double round-trip
    val luts = probed.map { case (listId, cv) =>
      val qrv = zip_with(col("qv"), array(cv.map(lit).toSeq: _*),
        (a, b) => a - b)
      val lut = books.crossJoin(broadcast(queryDf.select(qrv.as("qrv"))))
        .withColumn("__d",
          l2(slice(col("qrv"), col("subspace") * lit(dsub) + 1, lit(dsub)),
            col("centroid")))
        .select(col("subspace"), col("cid"), (col("__d") * col("__d")).as("__sd"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      (listId, lut)
    }
    val adc = (0 until m).map { s =>
      val cases = luts.map { case (listId, lut) =>
        val entries = lut.filter(_._1 == s).sortBy(_._2)
          .flatMap { case (_, cid, sd) => Seq(lit(cid), lit(sd)) }
        (listId, element_at(map(entries.toSeq: _*), col(s"__code_$s")))
      }
      cases.tail.foldLeft(
        when(col("list_id") === cases.head._1, cases.head._2)) {
        case (acc, (lid, e)) => acc.when(col("list_id") === lid, e)
      }
    }.reduce(_ + _)
    val ranked = enc
      .filter(col("list_id").isin(probed.map(_._1.asInstanceOf[Any]).toSeq: _*))
      .select(col(id), adc.as("adc"))
      .orderBy(col("adc").asc, col(id)).limit(k)
    graft.core.Tibble.rowidToColumn(ranked,
      Seq(col("adc").asc, col(id)), "rank")
  }

  /** Multi-query IVF-PQ retrieval — the query-batched serving shape
    * of [[ivfPqTopK]] (which is single-query by construction: ONE
    * probe list, per-cell LUT literals). A real eval harness scores
    * thousands of queries; running the single-query plan in a driver
    * loop costs a corpus encode per query. Here the coarse index,
    * residual encode, and PQ codebooks are built ONCE, and the query
    * batch is served by [[ivfPqServeJoin]]: probes and per-(query,
    * cell) LUTs are computed on the driver from the collected
    * centroids and codebooks ([[ivfPqProbes]]), and the corpus side
    * is one scan of the probed cells joined to a broadcast local LUT
    * frame, cut per query by the [[graft.plans.GroupedTopK]] operator
    * (partial per-partition heaps, ONE k-bounded shuffle — no global
    * sort).
    * Envelope: the query batch is collected to the driver, so it must
    * be dimension-sized (the ivfTopKJoin contract: ≲ thousands of
    * queries); the LUT frame is |queries|·nProbe rows × m maps of ksub
    * doubles.
    *
    * Engine-exact like the single-query form: md5-ranked coarse
    * centroids, index-order IEEE residuals, the proven l2 kernel
    * parity (the driver calls the same [[graft.plans.VectorKernels.l2]]
    * the codegen expression calls), m adds in subspace order, ties by
    * id.
    * Output: (query_id, neighbor_id, adc, rank 1..k). */
  def ivfPqTopKJoin(corpus: DataFrame, id: String, vec: String, dims: Int,
                    nLists: Int, nProbe: Int, m: Int, ksub: Int, iters: Int,
                    queries: DataFrame, qid: String, qvec: String,
                    k: Int): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"ivfPqTopKJoin: m=$m must divide dims=$dims")
    val dsub = dims / m
    require(ksub.toLong * dsub <= 65536,
      s"ivfPqTopKJoin: ksub*dsub=${ksub.toLong * dsub} past the " +
        "literal-inline envelope — use pqTopKAdc's broadcast fallback shape")
    require(nProbe >= 1 && nProbe <= nLists,
      s"ivfPqTopKJoin: nProbe=$nProbe must be in 1..$nLists")
    val (enc, centroids, _, cb) =
      ivfPqEncodeFrames(corpus, id, vec, dims, nLists, m, ksub, iters)
    val model = IvfPqModel(dims, m, centroidsOf(centroids), cb)
    val (queryField, probes) =
      ivfPqProbes(model, queries, qid, qvec, nProbe, "ivfPqTopKJoin")
    ivfPqServeJoin(enc, id, model.m, queryField, probes, k)
  }

  /** Coarse index + residual PQ encode, shared by the in-plan serve
    * ([[ivfPqTopKJoin]]) and the materialized index
    * ([[ivfPqIndexWrite]]): returns (encoded corpus (id, list_id,
    * __code_0..m-1), coarse centroids, codebooks, the codebooks
    * collected to the driver). */
  private def ivfPqEncodeFrames(corpus: DataFrame, id: String, vec: String,
                                dims: Int, nLists: Int, m: Int, ksub: Int,
                                iters: Int):
      (DataFrame, DataFrame, DataFrame, Array[(Int, Long, Array[Double])]) = {
    val dsub = dims / m
    // coarse quantizer + one-partial-agg assignment
    val (assigned, centroids) = ivfIndexDeterministic(corpus, id, vec, nLists)
    // residual frame: v − centroid[list], codegen projection.
    // MATERIALIZED once: the lazy frame is otherwise re-executed by
    // every pqTrain seed/step scan, the codebook collect, each probe
    // LUT, and the final ADC scan — 13 full recomputes of the
    // assignment aggregation measured at r17 (guide §5: cache an
    // intermediate that is reused and expensive to recompute).
    val resid = assigned.join(broadcast(centroids), Seq("list_id"))
      .select(col(id), col("list_id"),
        vecDiff(col(vec), col("centroid")).as("__rv"))
      .localCheckpoint(true)
    // global PQ codebooks over residual space (standard IVFADC) —
    // m·ksub rows, materialized so the cb collect and the per-probe
    // LUT jobs don't each re-run the Lloyd training subtree
    val books = pqTrain(resid, id, "__rv", dims, m, ksub, iters)
      .localCheckpoint(true)
    val cb = codebooksOf(books)
    (pqEncode(resid, "__rv", cb, m, dsub), centroids, books, cb)
  }

  private def codebooksOf(books: DataFrame): Array[(Int, Long, Array[Double])] =
    books.select("subspace", "cid", "centroid").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))

  private def centroidsOf(centroids: DataFrame): Array[(Int, Array[Double])] =
    centroids.select("list_id", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))

  /** Literal-argmin PQ encode of the array<double> column `vecCol`
    * (a residual, or a raw vector for flat PQ) against a
    * driver-resident codebook — the kmeansLloyd assignment trick: a
    * pure codegen projection, zero shuffle. Adds `__code_0..m-1` and
    * drops `vecCol` (the codes ARE the compression). */
  private def pqEncode(df: DataFrame, vecCol: String,
                       cb: Array[(Int, Long, Array[Double])],
                       m: Int, dsub: Int): DataFrame = {
    var enc = df
    for (s <- 0 until m) {
      val cands = cb.filter(_._1 == s).sortBy(_._2).map { case (_, cid, cv) =>
        struct(
          l2(slice(col(vecCol), s * dsub + 1, dsub),
            array(cv.map(lit).toSeq: _*)).as("d"),
          lit(cid).as("cid")) }
      val best = if (cands.length == 1) cands.head else least(cands.toSeq: _*)
      enc = enc.withColumn(s"__code_$s", best.getField("cid"))
    }
    enc.drop(vecCol)
  }

  /** The query-independent half of IVF-PQ serving, resident on the
    * driver: coarse centroids (list_id, centroid) and the m codebooks
    * (subspace, cid, centroid) — nLists·dims + ksub·dims doubles,
    * driver-tiny under the `ksub*dsub <= 65536` contract. */
  private final case class IvfPqModel(dims: Int, m: Int,
                                      centroids: Array[(Int, Array[Double])],
                                      cb: Array[(Int, Long, Array[Double])]) {
    private val dsub = dims / m
    private val books = Array.tabulate(m)(s => cb.filter(_._1 == s).sortBy(_._2))
    private def l2(a: Array[Double], b: Array[Double]): Double =
      graft.plans.VectorKernels.l2(
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(a),
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(b))

    /** The query's nProbe nearest cells, ranked by (l2, list_id) as the
      * in-plan probe window ranked them; a null query ranks every cell
      * equal (a null distance), so by list_id alone. */
    def probe(qv: Array[Double], nProbe: Int): Seq[(Int, Array[Double])] =
      (if (qv == null) centroids.sortBy(_._1)
       else centroids.map(c => (l2(c._2, qv), c)).sortWith { case ((da, a), (db, b)) =>
         val o = java.lang.Double.compare(da, db)
         o < 0 || (o == 0 && a._1 < b._1)
       }.map(_._2)).take(nProbe).toSeq

    /** Per-subspace LUT of the query residual against one cell:
      * cid → squared sub-distance. The residual is the index-order
      * IEEE difference `zip_with(q, c, _ - _)` spelled in-plan before
      * (a missing element reads as 0.0, as the kernel reads a null
      * slot); a null query yields null entries. */
    def luts(qv: Array[Double], cell: Array[Double]): Seq[Map[Long, java.lang.Double]] = {
      val qrv =
        if (qv == null) null
        else Array.tabulate(math.max(qv.length, cell.length)) { i =>
          if (i < qv.length && i < cell.length) qv(i) - cell(i) else 0.0
        }
      (0 until m).map { s =>
        books(s).map { case (_, cid, cv) =>
          val sd: java.lang.Double =
            if (qrv == null) null
            else { val d = l2(qrv.slice(s * dsub, s * dsub + dsub), cv); d * d }
          cid -> sd
        }.toMap
      }
    }
  }

  /** The query side of IVFADC serving, on the driver: collect the
    * query batch (a local frame collects without a job; more than
    * [[graft.sources.Sources.QueryBatchCap]] rows fail loudly, naming
    * `op`), rank each query's nProbe cells and build its per-(query,
    * cell) LUTs with [[graft.plans.VectorKernels.l2]], the kernel
    * `L2DistanceExpr` evaluates in-plan, so every value is
    * bit-identical to the former in-plan probe window and LUT
    * aggregation. Returns the `query_id` field and the probes. */
  private def ivfPqProbes(model: IvfPqModel, queries: DataFrame, qid: String,
                          qvec: String, nProbe: Int, op: String):
      (org.apache.spark.sql.types.StructField, Seq[IvfPqProbe]) = {
    val q = queries.select(col(qid).as("query_id"),
      col(qvec).cast("array<double>").as("__qv"))
    val probes = graft.sources.Sources.collectAtMost(q,
        graft.sources.Sources.QueryBatchCap, s"$op: the query batch")
      .toSeq.flatMap { r =>
        val qv = if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray
        model.probe(qv, nProbe).map { case (listId, cell) =>
          IvfPqProbe(r.get(0), listId, model.luts(qv, cell))
        }
      }
    (q.schema("query_id"), probes)
  }

  /** The probed cells, sorted: the `list_id IN (...)` a scan of an
    * ALREADY-ENCODED corpus filters on, which on the [[ivfPqIndexWrite]]
    * artifact (partitioned by list_id) is DIRECTORY pruning. */
  private def probedCells(probes: Seq[IvfPqProbe]): Seq[Int] =
    probes.map(_.listId).distinct.sorted

  /** The lazy IVFADC serve stage over an ALREADY-ENCODED corpus: ONE
    * scan of the probed cells joined to the broadcast local LUT frame,
    * map-side ADC, then the GroupedTopK cut. [[ivfPqTopKJoin]] always
    * takes it: it is the reference the driver path
    * ([[ivfPqDriverTopK]]) is checked against. */
  private def ivfPqServeJoin(enc: DataFrame, idCol: String, m: Int,
                             queryField: org.apache.spark.sql.types.StructField,
                             probes: Seq[IvfPqProbe], k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val lutSchema = StructType(queryField +:
      (StructField("list_id", IntegerType, nullable = false) +:
        (0 until m).map(s => StructField(s"__lut_$s",
          MapType(LongType, DoubleType, valueContainsNull = true)))))
    val luts = enc.sparkSession.createDataFrame(java.util.Arrays.asList(
      probes.map(p => Row.fromSeq(p.queryId +: p.listId +: p.luts)): _*), lutSchema)
    val adc = (0 until m)
      .map(s => element_at(col(s"__lut_$s"), col(s"__code_$s")))
      .reduce(_ + _)
    val cand = enc.filter(col("list_id").isin(probedCells(probes): _*))
      .join(broadcast(luts), Seq("list_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"), adc.as("adc"))
    val cut = graft.plans.TopK.topKPerGroup(cand, Seq("query_id"),
      Seq(col("adc").asc, col("neighbor_id")), k)
    cut.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").asc, col("neighbor_id"))).cast("long"))
      .select("query_id", "neighbor_id", "adc", "rank")
  }

  /** One query's probe of one cell: the m per-subspace LUTs
    * (cid → squared sub-distance) of its residual against that cell. */
  private final case class IvfPqProbe(queryId: Any, listId: Int,
                                      luts: Seq[Map[Long, java.lang.Double]])

  /** Most probed-cell code rows [[ivfPqTopKJoinFromIndex]] scores on
    * the driver; past it the broadcast join of [[ivfPqServeJoin]]
    * scores. */
  private val ProbedRowsCap = 100000

  /** The driver scoring of the probed cells' `(list_id, id,
    * __code_0..m-1)` rows, bit-identical to [[ivfPqServeJoin]]. Each
    * (query, code row) of a probed cell scores as the plan scores it:
    * the m LUT lookups added in subspace order, NULL when a lookup is
    * NULL (a missing code or a null query vector), as Spark's `+`
    * propagates it. Each query keeps its k first rows under the
    * GroupedTopK cut's order (adc ascending nulls first, then
    * neighbor_id ascending nulls last), and ranks them 1..k by the rank
    * window's order (neighbor_id nulls first). The result is a local
    * frame, computed at call time. */
  private def ivfPqDriverTopK(spark: org.apache.spark.sql.SparkSession,
                              cells: graft.sources.Resident.Loaded, m: Int,
                              probes: Seq[IvfPqProbe],
                              queryField: org.apache.spark.sql.types.StructField,
                              k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    import org.apache.spark.sql.types._
    type Cand = (Any, Any, java.lang.Double) // (query_id, neighbor_id, adc)
    val byCell = probes.groupBy(_.listId)
    val scored = cells.rows.toSeq.flatMap { r =>
      byCell.getOrElse(r.getInt(0), Nil).map { p =>
        val adc = (0 until m).map { s =>
          if (r.isNullAt(2 + s)) null else p.luts(s).getOrElse(r.getLong(2 + s), null)
        }.reduce[java.lang.Double]((a, b) => if (a == null || b == null) null else a + b)
        (p.queryId, r.get(1), adc): Cand
      }
    }
    def order(idNullsFirst: Boolean): Ordering[Cand] = (x: Cand, y: Cand) => {
      val byAdc = (x._3, y._3) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (a, b) => compareDoubles(a, b)
      }
      if (byAdc != 0) byAdc
      else (x._2, y._2) match {
        case (null, null) => 0
        case (null, _) => if (idNullsFirst) -1 else 1
        case (_, null) => if (idNullsFirst) 1 else -1
        case (a: Number, b: Number) => java.lang.Long.compare(a.longValue, b.longValue)
      }
    }
    val ranked = scored.groupBy(_._1).values.toSeq.flatMap { cs =>
      cs.sorted(order(idNullsFirst = false)).take(k)
        .sorted(order(idNullsFirst = true)).zipWithIndex
        .map { case ((qv, id, adc), i) => Row(qv, id, adc, (i + 1).toLong) }
    }
    spark.createDataFrame(java.util.Arrays.asList(ranked: _*),
      StructType(Seq(queryField, cells.schema(1).copy(name = "neighbor_id"),
        StructField("adc", DoubleType), StructField("rank", LongType, nullable = false))))
  }

  /** Materialize an IVF-PQ index as a warehouse artifact — the 100 TB
    * serving shape the [[ivfPqTopK]] scaladoc names: the encoded
    * corpus (id, m codes — the ~100× compression) written as parquet
    * PARTITIONED BY list_id, so a probe's `list_id IN (...)` filter
    * is directory pruning and a query batch reads ONLY its probed
    * cells' files; coarse centroids and PQ codebooks land as
    * driver-tiny sidecar tables (doubles round-trip parquet exactly,
    * so serving is bit-identical to the in-plan chain). The same
    * one-time-build / per-call-amortize contract as the materialized
    * BM25 inverted index and the MinHash signature index. */
  def ivfPqIndexWrite(corpus: DataFrame, id: String, vec: String, dims: Int,
                      nLists: Int, m: Int, ksub: Int, iters: Int,
                      path: String): Unit = {
    require(m >= 1 && dims % m == 0, s"ivfPqIndexWrite: m=$m must divide dims=$dims")
    require(ksub.toLong * (dims / m) <= 65536,
      "ivfPqIndexWrite: ksub*dsub past the literal-inline envelope")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (enc, centroids, books, _) =
      ivfPqEncodeFrames(corpus, id, vec, dims, nLists, m, ksub, iters)
    // ONE file per list: partitionBy from an arbitrarily-partitioned
    // frame writes a file per (shuffle partition × list) — ~14k files
    // at 448 lists, and the LISTING of that tail, not the probed
    // bytes, dominates serving. Clustering on list_id first caps the
    // layout at nLists files; codes are ~(8+m) bytes/vector, so even
    // a billion-vector list stays one healthy file per 100M vectors
    // (shard further by repartition(n, col("list_id")) if a single
    // list outgrows a file)
    enc.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/codes")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    books.write.mode("overwrite").parquet(s"$path/codebooks")
    Seq((dims, m, ksub, id)).toDF("dims", "m", "ksub", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Most materialized IVF-PQ indexes whose sidecars the driver keeps
    * (least recently used goes first). */
  val IndexCacheEntries = 64

  /** A materialized index's sidecars as loaded on the driver. */
  private final case class IvfPqIndex(idCol: String, model: IvfPqModel)

  private val indexes =
    new graft.sources.FileSets.Lru[Vector[(String, Long, Long)], IvfPqIndex](IndexCacheEntries)

  /** The meta, centroid and codebook sidecars of the index at `path`,
    * loaded ONCE per sidecar file set: keyed by every sidecar file's
    * path, size and mtime, so a rebuild at the same path (new file
    * names) loads again and an append (which touches only `codes`)
    * keeps the entry. */
  private def ivfPqIndexAt(spark: org.apache.spark.sql.SparkSession,
                           path: String): IvfPqIndex = {
    import graft.sources.{FileSets, Sources}
    def load(): IvfPqIndex = {
      val meta = Sources.readParquet(spark, s"$path/meta")
        .select("dims", "m", "id_col").collect()(0)
      IvfPqIndex(meta.getString(2), IvfPqModel(meta.getInt(0), meta.getInt(1),
        centroidsOf(Sources.readParquet(spark, s"$path/centroids")),
        codebooksOf(Sources.readParquet(spark, s"$path/codebooks"))))
    }
    FileSets.fingerprint(spark.sessionState.newHadoopConf(),
        Seq("meta", "centroids", "codebooks").map(t => s"$path/$t")) match {
      case None => load()
      case Some(fp) => indexes.get(fp).getOrElse {
        val ix = load(); indexes.put(fp, ix); ix
      }
    }
  }

  /** Day-2 INCREMENTAL index maintenance: encode a delta against the
    * STORED coarse centroids and codebooks (the same argmin rules the
    * build used — [[assignToCentroids]]'s documented contract) and
    * append its codes under the same list_id partitioning. Write cost
    * is delta-sized (coarse assign = one partial agg; PQ encode = a
    * codegen projection); recall degrades gracefully as the
    * distribution drifts — rebuild on a drift budget
    * ([[centroidDrift]]), not per batch. */
  def ivfPqIndexAppend(delta: DataFrame, vec: String, path: String): Unit = {
    val spark = delta.sparkSession
    val ix = ivfPqIndexAt(spark, path)
    val centroids = graft.sources.Sources.readParquet(spark, s"$path/centroids")
    val assigned = assignToCentroids(delta, ix.idCol, vec, centroids)
    val resid = assigned.join(broadcast(centroids), Seq("list_id"))
      .select(col(ix.idCol), col("list_id"),
        vecDiff(col(vec), col("centroid")).as("__rv"))
    // one delta file per touched list (the build's layout cap) — the
    // day-2 small-file tail then grows one file per (append × list),
    // absorbed by a periodic compaction like any streaming sink
    pqEncode(resid, "__rv", ix.model.cb, ix.model.m, ix.model.dims / ix.model.m)
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/codes")
  }

  /** Serve a query batch from the materialized index: the centroid and
    * codebook sidecars are loaded to the driver once per index file
    * set, probes and LUTs are computed on the driver
    * ([[ivfPqProbes]]). With integral neighbor ids and string or
    * integral query ids, the probed cells' code rows are scored on the
    * driver ([[ivfPqDriverTopK]]), from one of two row sources:
    *  - the codes table's resident rows ([[graft.sources.Resident]]),
    *    loaded once per codes file set within the driver's byte budget
    *    and filtered to the probed cells on the driver: a warm call
    *    builds no relation and runs no Spark job;
    *  - otherwise ONE capped collect of the codes table — its schema
    *    resolved once per file set by
    *    [[graft.sources.Sources.readParquet]] — scanned ONLY in the
    *    probed list_id partitions (directory pruning; the spec asserts
    *    the partition filter reaches the scan).
    * The result is then a local frame. Past [[ProbedRowsCap]] probed
    * rows the broadcast LUT join ([[ivfPqServeJoin]]) scores lazily.
    * The query batch is collected to the driver, so it must be
    * dimension-sized. Results are bit-identical to [[ivfPqTopKJoin]]
    * over the same corpus and parameters. */
  def ivfPqTopKJoinFromIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame, qid: String,
                             qvec: String, k: Int, nProbe: Int): DataFrame =
    ivfPqFromIndexCapped(spark, path, queries, qid, qvec, k, nProbe, ProbedRowsCap)

  /** [[ivfPqTopKJoinFromIndex]] with the driver path's row cap given. */
  private[graft] def ivfPqFromIndexCapped(spark: org.apache.spark.sql.SparkSession,
                                          path: String, queries: DataFrame,
                                          qid: String, qvec: String, k: Int,
                                          nProbe: Int, cap: Int): DataFrame = {
    import graft.sources.{Resident, Sources}
    import org.apache.spark.sql.types._
    val ix = ivfPqIndexAt(spark, path)
    val m = ix.model.m
    val (queryField, probes) =
      ivfPqProbes(ix.model, queries, qid, qvec, nProbe, "ivfPqTopKJoinFromIndex")
    val cells = probedCells(probes)
    val cols = "list_id" +: ix.idCol +: (0 until m).map(s => s"__code_$s")
    val codes = Resident.at(spark, s"$path/codes", cols)
    def integral(t: DataType) = t match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val idType = codes.fold(_.schema(ix.idCol), _.schema(1)).dataType
    val rows =
      if (!integral(idType) ||
          !(queryField.dataType == StringType || integral(queryField.dataType))) None
      else codes match {
        case Right(all) =>
          val probed = cells.toSet
          Some(all.copy(rows = all.rows.filter(r => !r.isNullAt(0) && probed(r.getInt(0)))))
            .filter(_.rows.length <= cap)
        case Left(enc) =>
          val sel = enc.filter(col("list_id").isin(cells: _*)).select(cols.map(col): _*)
          Sources.collectCapped(sel, cap).map(Resident.Loaded(sel.schema, _))
      }
    rows.map(ivfPqDriverTopK(spark, _, m, probes, queryField, k)).getOrElse {
      val enc = codes.fold(identity, _ => Sources.readParquet(spark, s"$path/codes"))
      ivfPqServeJoin(enc, ix.idCol, m, queryField, probes, k)
    }
  }

  // ---- KNN-Shapley data valuation -------------------------------------------

  /** Exact KNN-Shapley data valuation (Jia et al., VLDB 2019,
    * "Efficient Task-Specific Data Valuation for Nearest Neighbor
    * Algorithms", Theorem 1): each training point's Shapley value for
    * the K-NN utility v(S) = (1/K)·Σ_{j ≤ min(K,|S|)} 1[y_j = y_test],
    * averaged over a validation set — the principled "which documents
    * actually help" score behind valuation-driven pruning (drop the
    * lowest-value tail, keep the head). The O(2^N) Shapley sum
    * collapses to a closed recursion over the distance-sorted order:
    * s_(N) = 1[y_(N)=y]/N and s_(i) = s_(i+1) +
    * (1[y_(i)=y] − 1[y_(i+1)=y])/K · min(K,i)/i — a SUFFIX SCAN, so
    * the whole valuation is one broadcast cross join (queries are
    * dimension-sized by contract, like every ANN query frame here)
    * plus per-query windows: rank by similarity, lead(), one suffix
    * sum. Nothing leaves the executors until the final per-point
    * average (one partial agg). At 100 TB this is the brute-force
    * valuation shape — same contract as [[bruteForceTopKJoin]]; the
    * scale path is valuing a stratified sample or per-shard corpora.
    *
    * Cross-engine exactness: the sort key is cosine similarity
    * QUANTIZED to 6 decimals (ties broken by id) — raw cosines differ
    * across engines by ~dim·ulp (summation order), which would make
    * the sort order itself engine-dependent; the published value is
    * round-6 like every hash-compared double here.
    *
    * Output: (id, label, shapley), descending by value. */
  def knnShapley(train: DataFrame, tid: String, tvec: String, tlabel: String,
                 valSet: DataFrame, qid: String, qvec: String, qlabel: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"knnShapley: k must be >= 1 (got $k)")
    import org.apache.spark.sql.expressions.Window
    val kd = k.toDouble
    val j = train.select(col(tid).as("id"), col(tlabel).as("__y"),
        col(tvec).as("__tv"))
      .crossJoin(broadcast(valSet.select(col(qid).as("__qid"),
        col(qlabel).as("__qy"), col(qvec).as("__qv"))))
      .withColumn("__cos", round(cosine(col("__tv"), col("__qv")), 6))
    val byQ = Window.partitionBy("__qid")
    val order = byQ.orderBy(col("__cos").desc, col("id"))
    val suffix = byQ.orderBy("__idx")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val s = j
      .withColumn("__idx", row_number().over(order))
      .withColumn("__n", count(lit(1)).over(byQ))
      .withColumn("__m", when(col("__y") === col("__qy"), 1.0).otherwise(0.0))
      .withColumn("__mn", lead("__m", 1).over(byQ.orderBy("__idx")))
      .withColumn("__delta", when(col("__idx") === col("__n"), 0.0)
        .otherwise((col("__m") - col("__mn")) / lit(kd)
          * least(lit(kd), col("__idx").cast("double"))
          / col("__idx").cast("double")))
      .withColumn("__slast", max(when(col("__idx") === col("__n"),
        col("__m") / col("__n").cast("double"))).over(byQ))
      .withColumn("__si", col("__slast") + sum("__delta").over(suffix))
    // the per-point average over validation queries runs on the 2^-40
    // fixed-point grid: a raw double avg is addition-order-dependent,
    // a latent round-6 boundary lottery against the DuckDB oracle
    s.groupBy(col("id"), col("__y").as("label"))
      .agg(round(graft.functions.Exact.gridSum40(col("__si")) /
        count(lit(1)).cast("double"), 6).as("shapley"))
      .orderBy(col("shapley").desc, col("id"))
  }
}
