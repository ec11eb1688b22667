package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.RowProjection
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DecimalType, DoubleType,
  IntegerType, LongType, ShortType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

import graft.sources.{FileSets, Resident, Sources}

/** Lexical retrieval over a document corpus — the sparse complement to
  * the dense ANN stack in [[Similarity]] (hybrid retrieval runs both
  * and fuses). Okapi BM25 (Robertson et al., TREC-3; the idf form is
  * the Lucene ln(1 + (N - df + 0.5)/(df + 0.5)) variant, positive for
  * every term).
  *
  * Scale shape (the 100 TB contract): the corpus is tokenized ONCE —
  * one explode into a (doc, dl, term) partial agg where the doc length
  * rides the aggregation key (no second doc-grain join against the
  * corpus). The query side is small by contract and broadcasts
  * everywhere: term match, document frequency, and corpus stats all
  * reach the big side as broadcast hash joins, so the only fact-sized
  * shuffles are the tf aggregation and the final per-query score agg —
  * both partial-aggregatable. Top-k per query runs on the
  * [[graft.plans.GroupedTopK]] operator (bounded heaps, pruned
  * shuffle), never a sort of all scored docs.
  *
  * Determinism: idf/tf normalization is a fixed-order IEEE chain both
  * engines evaluate identically; the per-doc term sum accumulates in
  * decimal(38,18) (the Exact.dsum rule — double sums are
  * addition-order-dependent) and rounds to 6 places, so scores and the
  * (score desc, doc id) top-k cut are engine-exact.
  *
  * Reference: datar_polars has no retrieval surface — this is the
  * beyond-reference LLM-pipeline layer (SURVEY §2.6), same family as
  * Similarity/TextAnalysis.
  */
object Retrieval {

  /** Non-empty normalized word tokens ([[Dedup.tokens]] minus the
    * empty-string artifact of fully-non-alphanumeric text). Lambda-free
    * ([[Dedup.tokensNonEmpty]]) so the tokenize projection stays in
    * whole-stage codegen and the twin postings subtrees canonicalize
    * to one Exchange (ReuseExchange). */
  private def toks(text: Column): Column = Dedup.tokensNonEmpty(text)

  /** The distinct query-term list, collected to the driver — legal
    * because the query frame is SMALL BY CONTRACT (see [[bm25TopK]]).
    * Collecting it turns the corpus-side term pruning into a literal
    * In() predicate instead of a broadcast semi-join: an In() reaches
    * a materialized index's parquet scan as a PushedFilter (row-group
    * min/max pruning on the term-clustered layout — the broadcast
    * probe never prunes any I/O), and on the scan path it keeps the
    * filter inside the tokenize projection's codegen stage with no
    * BroadcastExchange to build and wait on. Sorted so the plan (and
    * its canonicalized form, for ReuseExchange) is deterministic. */
  private val TermInlineCap = 1024

  /** Prune a postings-shaped frame to the query terms: a literal In()
    * when the distinct term set is small (≤ [[TermInlineCap]] — it
    * reaches a parquet scan as a PushedFilter and row-group
    * min/max-prunes a term-clustered index; see [[bm25TopKIndexed]]),
    * falling back to the broadcast semi-join against `qterms` for term
    * sets big enough that inlining them would bloat the plan (the
    * thousands-of-queries contract: the semi-join keeps the plan
    * O(1)-sized). */
  private def pruneByTermSet(df: DataFrame, terms: Seq[String],
                             qterms: => DataFrame, termCol: Column): DataFrame = {
    val ts = terms.filter(_ != null).distinct.sorted
    if (ts.isEmpty) df.filter(lit(false))
    else if (ts.size <= TermInlineCap) df.filter(termCol.isin(ts: _*))
    else semiJoinTerms(df, qterms)
  }

  /** Prune to the terms of `qterms` with a broadcast semi-join. */
  private def semiJoinTerms(df: DataFrame, qterms: DataFrame): DataFrame =
    df.join(broadcast(qterms.select("term").distinct()), Seq("term"), "leftsemi")

  /** A query batch's distinct (qid, term) rows with their schema; the
    * local frame over them is built only for a plan that joins it. */
  private final case class QueryTerms(spark: SparkSession, schema: StructType,
                                      rows: Seq[Row]) {
    lazy val frame: DataFrame = spark.createDataFrame(rows.asJava, schema)
    def terms: Seq[String] = rows.map(_.getString(1))
  }

  /** The query frame's distinct (qid, term) rows, evaluated ONCE: the
    * term prune and the scoring then read the same rows, even when
    * `queries` is non-deterministic (sample()/limit() without an
    * order), and the prune's term set comes from those rows with no
    * second job. Queries are driver-sized by contract: more than
    * [[graft.sources.Sources.QueryBatchCap]] query rows fail loudly.
    * The collect takes one row per query (its distinct terms) and
    * explodes on the driver, so over a local query batch the
    * projection folds into the local relation and no Spark job runs.
    * `op` names the operator in that failure. */
  private def collectedQueryTerms(queries: DataFrame, qid: String,
                                  qtext: String, op: String): QueryTerms = {
    val perQuery = queries.select(col(qid), array_distinct(toks(col(qtext))))
    // the schema explode(terms) AS term would give
    val arr = perQuery.schema(1).dataType.asInstanceOf[ArrayType]
    val schema = StructType(Seq(perQuery.schema(0),
      StructField("term", arr.elementType, arr.containsNull)))
    val rows = Sources.collectAtMost(perQuery, Sources.QueryBatchCap,
        s"$op: the query batch").toSeq.flatMap { r =>
      Option(r.getSeq[String](1)).getOrElse(Nil).map(t => Row(r.get(0), t))
    }
    QueryTerms(queries.sparkSession, schema, rows)
  }

  /** Tokenize the corpus ONCE PER ROW: project the token array as a
    * real column first, then take size + explode from that column.
    * The fused `select(id, size(tok), explode(tok))` form evaluates
    * the full tokenizer twice per document — once in the Generate's
    * generator and once in the Project computing `dl` (no CSE across
    * the operator boundary). CollapseProject keeps the two-step form:
    * the alias is non-cheap and referenced twice. */
  private def postings(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), toks(col(text)).as("__tok"))
      .select(col(id), size(col("__tok")).as("dl"),
        explode(col("__tok")).as("term"))

  /** BM25 top-k documents per query.
    *
    * Corpus passes: the pruned tf subtree is consumed twice (scoring +
    * document frequency — Catalyst recomputes shared subtrees) and the
    * corpus stats add a third scan, all scan-bound map work. A
    * standing 100 TB query workload amortizes all three by
    * materializing the unpruned (id, dl, term, tf) table as a
    * term-bucketed inverted index and passing `corpusStats` — then no
    * per-call corpus scan remains at all.
    *
    * @param docs        corpus (any size)
    * @param queries     query frame — SMALL BY CONTRACT (it is
    *                    evaluated once at call time, collected to the
    *                    driver and broadcast; thousands of queries are
    *                    fine, more than
    *                    [[graft.sources.Sources.QueryBatchCap]] rows
    *                    fail loudly — a query CORPUS is a different
    *                    operator)
    * @param corpusStats precomputed (docCount, totalTokens) — skips
    *                    the stats scan; token counts must come from
    *                    the same tokenizer ([[Dedup.tokens]], empties
    *                    dropped)
    * @return (qid, id, bm25) — k best docs per query, scores rounded
    *         to 6 places, ties broken by ascending doc id */
  def bm25TopK(docs: DataFrame, id: String, text: String,
               queries: DataFrame, qid: String, qtext: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
               corpusStats: Option[(Long, Long)] = None): DataFrame = {
    require(k >= 1, s"bm25TopK: k must be >= 1 (got $k)")
    require(k1 > 0 && b >= 0 && b <= 1,
      s"bm25TopK: need k1 > 0 and b in [0,1] (got k1=$k1, b=$b)")
    val tok = toks(col(text))
    // distinct query terms (duplicate terms in a query count once)
    val qt = collectedQueryTerms(queries, qid, qtext, "bm25TopK")
    // ONE corpus tokenization, PRUNED BEFORE THE SHUFFLE: the literal
    // In() on the query-term set evaluates inside the exploded scan's
    // codegen stage, so the tf aggregation only ever shuffles rows
    // whose term a query mentions — at corpus scale that is the
    // difference between shuffling every (doc, term) pair and shuffling
    // a few terms' postings. Doc length rides the agg key, so no
    // doc-grain join back against the corpus is needed. (A standing
    // query workload would materialize the unpruned tf as a bucketed
    // inverted index instead of re-scanning per call.)
    val tf = pruneByTermSet(postings(docs, id, text), qt.terms, qt.frame, col("term"))
      .groupBy(col(id), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    // corpus stats: one columnar agg scan (count + total tokens),
    // skipped entirely when the caller passes the known constants
    val stats = corpusStats match {
      case Some((nd, tl)) =>
        docs.sparkSession.range(1).select(lit(nd).as("nd"), lit(tl).as("tl"))
      case None =>
        docs.agg(count(lit(1)).as("nd"), sum(size(tok)).as("tl"))
    }
    scoreAndCut(tf, stats, id, qt.frame, qid, k, k1, b)
  }

  /** The scoring tail both BM25 paths share: document frequency from
    * the PRUNED postings (only query terms can score, so df over the
    * sliver equals df over the corpus for every term that matters),
    * broadcast everything query-sized onto the postings, fixed-order
    * IEEE idf·tf-norm contribution, decimal(38,18) per-doc sum,
    * GroupedTopK cut. */
  private def scoreAndCut(tf: DataFrame, stats: DataFrame, id: String,
                          qterms: DataFrame, qid: String, k: Int,
                          k1: Double, b: Double): DataFrame = {
    // count(tf > 0), NOT count(1): tf >= 1 for every row by
    // construction (it is itself a group count), so the value is
    // identical — but with count(1) the column pruner dropped the
    // `tf` count from THIS consumer's copy of the (id, dl, term)
    // aggregate, making the two tf exchanges canonically different,
    // and AQE's stage cache only reuses canonically identical shuffle
    // stages. Referencing tf through a predicate the optimizer cannot
    // prove (count(col) on a non-nullable col is normalized back to
    // count(1)) keeps the column, so the df consumer reads the SAME
    // shuffle output the scoring side builds and the corpus is
    // tokenized once per call, not twice.
    val dfreq = tf.groupBy("term")
      .agg(count(when(col("tf") > 0, 1)).as("dfc"))
    val scored = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__contrib", contribution(col("nd"), col("tl"), k1, b))
      .groupBy(col(qid), col(id))
      .agg(round(sum(col("__contrib").cast("decimal(38,18)")).cast("double"), 6)
        .as("bm25"))
    graft.plans.TopK.topKPerGroup(scored, Seq(qid),
      Seq(col("bm25").desc, col(id).asc), k)
  }

  /** One posting's BM25 contribution idf·tf-norm, a fixed-order IEEE
    * chain over the row's `tf`, `dl` and `dfc` and the corpus stats
    * `nd` (documents) and `tl` (tokens). */
  private def contribution(nd: Column, tl: Column, k1: Double, b: Double): Column = {
    val avgdl = tl.cast("double") / nd.cast("double")
    val idf = log(lit(1.0) +
      (nd.cast("double") - col("dfc") + 0.5) / (col("dfc") + 0.5))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)
    idf * (col("tf") * (k1 + 1.0)) / norm
  }

  /** The standing-workload index [[bm25TopK]]'s scaladoc promises: the
    * UNPRUNED (id, dl, term, tf) postings — tokenize the corpus ONCE,
    * write this out (bucket/cluster by `term` at warehouse scale so
    * per-term row groups min/max-prune), and every subsequent query
    * scans postings instead of re-tokenizing 100 TB of text. */
  def invertedIndex(docs: DataFrame, id: String, text: String): DataFrame =
    postings(docs, id, text)
      .groupBy(col(id), col("dl"), col("term")).agg(count(lit(1)).as("tf"))

  /** Dirichlet-smoothed query-likelihood retrieval (Ponte & Croft
    * 1998; Zhai & Lafferty 2001 smoothing) — the LANGUAGE-MODEL
    * ranking beside [[bm25TopK]]'s tf·idf: score(q,d) =
    * Σ_{t∈q} ln((tf_{t,d} + μ·p_t)/(dl_d + μ)) with p_t the
    * collection unigram probability. The two disagree exactly where
    * their models differ (QL's length normalization is additive, its
    * idf-like effect comes from p_t), which is why hybrid stacks run
    * both and fuse.
    *
    * Computed in the matched-terms decomposition so unmatched terms
    * never join: score = Σ_{t∈q∩d} ln(1 + tf·T/(μ·ctf_t)) +
    * Σ_{t∈q} ln(μ·ctf_t/T) − |q|·ln(dl + μ) — the middle sum is
    * doc-independent (one tiny per-query constant), so the corpus
    * side only ever touches matched postings. Same scale shape as
    * BM25: ONE tokenization pruned map-side by the broadcast
    * query-term set, collection term frequencies from the pruned
    * postings (pruning is by term — ctf is exact), per-doc sums in
    * decimal(38,18), round-6 scores, GroupedTopK cut. Query terms
    * absent from the corpus drop (no smoothing mass to stand on —
    * the standard practical rule). Only docs matching ≥1 term are
    * ranked (the all-smoothing tail is rank noise by construction).
    * `queries` is small by contract, as for [[bm25TopK]]: evaluated
    * once at call time and collected, failing loudly past
    * [[graft.sources.Sources.QueryBatchCap]] rows.
    * Output: (qid, id, ql) — k best per query, ties to ascending id. */
  def queryLikelihoodTopK(docs: DataFrame, id: String, text: String,
                          queries: DataFrame, qid: String, qtext: String,
                          k: Int = 10, mu: Double = 2000.0): DataFrame = {
    require(k >= 1, s"queryLikelihoodTopK: k must be >= 1 (got $k)")
    require(mu > 0, s"queryLikelihoodTopK: mu must be > 0 (got $mu)")
    val qt = collectedQueryTerms(queries, qid, qtext, "queryLikelihoodTopK")
    val qterms = qt.frame
    val tf = pruneByTermSet(postings(docs, id, text), qt.terms, qterms, col("term"))
      .groupBy(col(id), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).as("nd"),
      sum(size(toks(col(text)))).as("tl"))
    val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val qstats = qterms.join(broadcast(ctf), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(qid), col("term"), col("ctf"), col("tl"))
    val qconst = qstats
      .withColumn("__lnmp",
        log(lit(mu) * col("ctf").cast("double") / col("tl").cast("double")))
      .groupBy(col(qid))
      .agg(sum(col("__lnmp").cast("decimal(38,18)")).cast("double").as("__cq"),
        count(lit(1)).as("__nq"))
    val matched = tf.join(broadcast(qstats), Seq("term"))
      .withColumn("__contrib", log(lit(1.0) +
        col("tf").cast("double") * col("tl").cast("double") /
          (lit(mu) * col("ctf").cast("double"))))
      .groupBy(col(qid), col(id), col("dl"))
      .agg(sum(col("__contrib").cast("decimal(38,18)")).cast("double").as("__ms"))
    val scored = matched.join(broadcast(qconst), Seq(qid))
      .select(col(qid), col(id),
        round(col("__ms") + col("__cq") - col("__nq").cast("double") *
          log(col("dl").cast("double") + lit(mu)), 6).as("ql"))
    graft.plans.TopK.topKPerGroup(scored, Seq(qid),
      Seq(col("ql").desc, col(id).asc), k)
  }

  /** (docCount, totalTokens) under the index tokenizer — computed once
    * alongside [[invertedIndex]] and stored with it, so queries against
    * the index never touch the raw corpus. */
  def corpusStatsOf(docs: DataFrame, text: String): (Long, Long) = {
    val tok = toks(col(text))
    val r = docs.agg(count(lit(1)).as("nd"),
      coalesce(sum(size(tok)), lit(0L)).as("tl")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Day-2 INCREMENTAL index maintenance — fold a delta of documents
    * into a standing ([[invertedIndex]], [[corpusStatsOf]]) pair
    * without re-tokenizing the corpus: only the delta tokenizes (new
    * postings union in; the index's per-(doc, term) grain means union
    * IS the rebuild for fresh ids), `removedIds` drops an updated or
    * deleted doc's old postings by an id-keyed anti-join, and the
    * (docCount, totalTokens) stats adjust from the delta and the
    * removed docs' stored `dl` — never from the corpus. The result is
    * BIT-IDENTICAL to rebuilding from scratch (the x_bm25_incr oracle
    * contract), so a crawl pipeline can keep its retrieval index
    * fresh at delta cost: at 100 TB, a day's 100 GB of new documents
    * tokenizes in minutes while the standing postings stay put.
    * To replace a changed doc, list it in `removedIds` AND in
    * `newDocs`. Returns the updated (index, stats). */
  def updateIndex(index: DataFrame, stats: (Long, Long),
                  newDocs: DataFrame, id: String, text: String,
                  removedIds: Option[DataFrame] = None): (DataFrame, (Long, Long)) = {
    val (baseIdx, nd0, tl0) = removedIds match {
      case Some(rm) =>
        val rmIds = rm.select(col(id)).distinct()
        // one (id, dl) row per removed doc, straight from the index
        val r = index.join(rmIds, Seq(id), "leftsemi")
          .select(col(id), col("dl")).distinct()
          .agg(count(lit(1)).as("nd"), coalesce(sum("dl"), lit(0L)).as("tl"))
          .head()
        (index.join(rmIds, Seq(id), "left_anti"),
          stats._1 - r.getLong(0), stats._2 - r.getLong(1))
      case None => (index, stats._1, stats._2)
    }
    val (ndD, tlD) = corpusStatsOf(newDocs, text)
    (baseIdx.unionByName(invertedIndex(newDocs, id, text)),
      (nd0 + ndD, tl0 + tlD))
  }

  /** BM25 top-k against a MATERIALIZED [[invertedIndex]] — the
    * standing-workload path: zero corpus scans per call. An index read
    * as a parquet file scan within the driver's byte budget is loaded
    * ONCE per file set ([[graft.sources.Resident]]) and each query is
    * scored on the driver from those rows, with no Spark job; another
    * index frame prunes to the query terms in its scan and is scored on
    * the driver after ONE capped collect (see [[indexedTopK]]). Past
    * the driver bounds the broadcast tail both BM25 paths share scores
    * lazily. Scores are bit-identical to [[bm25TopK]] (same tokenizer
    * contract, same contribution expression, exact decimal sums). */
  def bm25TopKIndexed(index: DataFrame, stats: (Long, Long), id: String,
                      queries: DataFrame, qid: String, qtext: String,
                      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"bm25TopKIndexed: k must be >= 1 (got $k)")
    require(k1 > 0 && b >= 0 && b <= 1,
      s"bm25TopKIndexed: need k1 > 0 and b in [0,1] (got k1=$k1, b=$b)")
    val qt = collectedQueryTerms(queries, qid, qtext, "bm25TopKIndexed")
    indexedTopK(index, stats, id, qt, qid, k, k1, b)
  }

  /** Most pruned postings rows [[indexedTopK]] scores on the driver;
    * past it the broadcast tail [[scoreAndCut]] scores. */
  private val PostingsCollectCap = 100000

  /** [[bm25TopKIndexed]] over already-collected query terms. With
    * integral document ids and string or integral query ids, a query
    * is scored on the DRIVER ([[driverTopK]]) from one of two row
    * sources:
    *  - the index's resident rows ([[graft.sources.Resident]]), when
    *    it is a parquet file scan within the driver's byte budget and
    *    `term` is a string column, filtered to the query terms on the
    *    driver: no Spark job;
    *  - otherwise, with at most [[TermInlineCap]] distinct terms, ONE
    *    job collecting the pruned postings (each task stops after
    *    [[PostingsCollectCap]] + 1 rows).
    * The result is a local frame, computed at call time. Past
    * [[PostingsCollectCap]] pruned postings, or any other bound, the
    * broadcast tail [[scoreAndCut]] scores lazily. Both paths sum the
    * same decimal contributions, so scores are bit-identical. */
  private def indexedTopK(index: DataFrame, stats: (Long, Long), id: String,
                          qt: QueryTerms, qid: String,
                          k: Int, k1: Double, b: Double): DataFrame = {
    // literal In() so the term pruning reaches the postings parquet
    // scan as a PushedFilter — with the index term-clustered on write,
    // row-group min/max stats skip every non-matching group, where the
    // old broadcast semi-join decoded the full postings file per call
    lazy val tf = pruneByTermSet(index, qt.terms, qt.frame, col("term"))
    def integral(t: DataType) = t match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val qidType = qt.schema(qid).dataType
    // the postings columns the driver scores, in driverTopK's order
    val cols = Seq(id, "dl", "tf", "term")
    val rows =
      if (!integral(index.schema(id).dataType) ||
          !(qidType == StringType || integral(qidType))) None
      else {
        val stringTerms = index.schema.find(_.name == "term").exists(_.dataType == StringType)
        (if (stringTerms) Resident.of(index, cols) else None) match {
          case Some(all) =>
            val wanted = qt.terms.toSet
            Some(all.copy(rows = all.rows.filter(r => wanted.contains(r.getString(3)))))
              .filter(_.rows.length <= PostingsCollectCap)
          case None if qt.terms.distinct.size <= TermInlineCap =>
            val sel = tf.select(cols.map(col): _*)
            Sources.collectCapped(sel, PostingsCollectCap).map(Resident.Loaded(sel.schema, _))
          case None => None
        }
      }
    rows.map(driverTopK(index.sparkSession, _, stats, qt, qid, k, k1, b)).getOrElse {
      val statsDf = index.sparkSession.range(1)
        .select(lit(stats._1).as("nd"), lit(stats._2).as("tl"))
      scoreAndCut(tf, statsDf, id, qt.frame, qid, k, k1, b)
    }
  }

  /** Driver projections of Spark's own scoring expressions, bound once
    * per input schema and parameters (see [[driverTopK]]). */
  private val projections = new FileSets.Lru[(StructType, Seq[Any]), RowProjection](64)

  private def bound(spark: SparkSession, in: StructType, params: Any*)(
      cols: => Seq[Column]): RowProjection = {
    // ANSI mode changes what a cast or an overflow evaluates to
    val key = (in, spark.sessionState.conf.ansiEnabled +: params)
    projections.get(key).getOrElse {
      val p = new RowProjection(spark, in, cols); projections.put(key, p); p
    }
  }

  /** The driver scoring of [[indexedTopK]] over the pruned postings
    * `(id, dl, tf, term)`: document frequencies counted on the driver
    * (postings with `tf > 0` per term, as [[scoreAndCut]] counts them),
    * every posting's contribution evaluated by Spark's own expression
    * through a projection bound once per (k1, b, stats, schema), sums
    * per (query, document) exact in decimal(38,18), rounded through
    * Spark's `round` the same way, and the GroupedTopK cut. */
  private def driverTopK(spark: SparkSession, postings: Resident.Loaded,
                         stats: (Long, Long), qt: QueryTerms, qid: String,
                         k: Int, k1: Double, b: Double): DataFrame = {
    val in = postings.schema
    val rows = postings.rows
    val pos = bound(spark, in, "tf > 0")(Seq(col("tf") > 0))(rows.iterator)
    val dfc = rows.iterator.zip(pos.iterator).toSeq.groupMapReduce(_._1.getString(3)) {
      case (_, p) => if (!p.isNullAt(0) && p.getBoolean(0)) 1L else 0L
    }(_ + _)
    val contribs = bound(spark,
        StructType(in.fields.take(3) :+ StructField("dfc", LongType)),
        "contribution", k1, b, stats) {
      Seq(contribution(lit(stats._1), lit(stats._2), k1, b).cast("decimal(38,18)"))
    }(rows.iterator.map(r => Row(r.get(0), r.get(1), r.get(2), dfc(r.getString(3)))))
    // per (query, document): the exact decimal sum; a group whose every
    // contribution is NULL sums to NULL, as Spark's sum does
    val qidsOf = qt.rows.groupMap(_.getString(1))(_.get(0))
    val sums = scala.collection.mutable.LinkedHashMap
      .empty[(Any, Any), Option[java.math.BigDecimal]]
    rows.iterator.zip(contribs.iterator).foreach { case (r, c) =>
      val d = Option(c.getDecimal(0))
      qidsOf.getOrElse(r.getString(3), Nil).foreach { q =>
        val key = (q, r.get(0))
        sums(key) = (sums.getOrElse(key, None), d) match {
          case (Some(x), Some(y)) => Some(x.add(y))
          case (x, y) => x.orElse(y)
        }
      }
    }
    val rounding = bound(spark, StructType(Seq(StructField("__sum", DecimalType(38, 18)))),
      "round")(Seq(round(col("__sum").cast("double"), 6)))
    val scores = rounding(sums.valuesIterator.map(v => Row(v.orNull)))
    val scored = sums.keysIterator.zip(scores.iterator)
      .map { case ((q, doc), s) => Row(q, doc, s.get(0)) }.toSeq
    // the GroupedTopK cut: bm25 desc nulls last, then id asc nulls first
    val order: Ordering[Row] = (x: Row, y: Row) => {
      val byScore = (x.isNullAt(2), y.isNullAt(2)) match {
        case (true, true) => 0
        case (true, false) => 1
        case (false, true) => -1
        case _ => java.lang.Double.compare(y.getDouble(2), x.getDouble(2))
      }
      if (byScore != 0) byScore
      else (x.isNullAt(1), y.isNullAt(1)) match {
        case (true, true) => 0
        case (true, false) => -1
        case (false, true) => 1
        case _ => java.lang.Long.compare(x.getAs[Number](1).longValue,
          y.getAs[Number](1).longValue)
      }
    }
    val top = scored.groupBy(_.get(0)).values.flatMap(_.sorted(order).take(k)).toSeq
    spark.createDataFrame(top.asJava, StructType(Seq(qt.schema(qid), in.fields(0),
      StructField("bm25", DoubleType, rounding.schema.fields(0).nullable))))
  }

  /** RM3-style pseudo-relevance-feedback expansion (Lavrenko & Croft
    * 2001 relevance models, the Anserini/Indri default recipe) over
    * the materialized inverted index: retrieve `fbDocs` per query,
    * harvest the `fbTerms` strongest NEW terms from those docs
    * (weight = total tf across the feedback docs — integer-exact;
    * ties break on term asc), union them into the query, and score
    * the expanded query with the same BM25 tail. Recovers vocabulary
    * the user didn't type (query "spark agg" can surface docs that
    * only say "aggregate") at the cost of one extra postings pass.
    *
    * Scale shape: both passes score as [[bm25TopKIndexed]] does (from
    * the index's resident rows, or pruned-postings scans of the index;
    * never the raw corpus); the feedback-doc join broadcasts the
    * queries×fbDocs result list; feedback term ranking is
    * GroupedTopK's bounded heap. Everything after the index scans is
    * result-set-sized. Output: (qid, id, bm25) of the expanded pass. */
  def bm25PrfTopK(index: DataFrame, stats: (Long, Long), id: String,
                  queries: DataFrame, qid: String, qtext: String,
                  k: Int = 10, fbDocs: Int = 5, fbTerms: Int = 3,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fbDocs >= 1, s"bm25PrfTopK: fbDocs must be >= 1 (got $fbDocs)")
    require(fbTerms >= 1, s"bm25PrfTopK: fbTerms must be >= 1 (got $fbTerms)")
    val spark = index.sparkSession
    // driver-collect guard for the two pass-boundary frames (both are
    // (queries × small-constant)-sized BY CONTRACT — the cap turns an
    // over-contract query corpus into a lazy-plan fallback instead of
    // an unbounded driver collect; each task stops after cap + 1 rows
    // so the oversized frame is never pulled in full). Conf-exposed so the
    // fallback is spec-testable; default comfortably above the
    // thousands-of-queries contract at a few MB of driver rows.
    val prfCap = spark.conf.getOption("spark.graft.prfCollectCap")
      .map(_.toInt).getOrElse(TermInlineCap * 64)
    require(k1 > 0 && b >= 0 && b <= 1,
      s"bm25TopKIndexed: need k1 > 0 and b in [0,1] (got k1=$k1, b=$b)")
    val qt = collectedQueryTerms(queries, qid, qtext, "bm25PrfTopK")
    val first = indexedTopK(index, stats, id, qt, qid, fbDocs, k1, b)
    // The feedback-doc list is (queries × fbDocs)-sized: collect it
    // once and replay it as a LITERAL frame. Lazily, `expanded` fed
    // BOTH the pass-2 term set and the scoring join — two independent
    // broadcast builds, each re-running the whole first retrieval
    // (Catalyst recomputes shared subtrees; the two prunings
    // canonicalize differently, so no reuse). The collect pins pass 1
    // to exactly one execution, and the harvested doc ids become an
    // In() the postings scan can push down. Past the collect cap the
    // lazy frame broadcasts instead (the pre-literal shape: each
    // consumer re-runs pass 1 — slower, never unbounded driver memory).
    val firstSel = first.select(col(qid), col(id))
    val (firstFrame, fbScan) = Sources.collectCapped(firstSel, prfCap) match {
      case Some(rows) =>
        val firstLit = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), firstSel.schema)
        val fbIds = rows.map(_.get(1)).distinct.toSeq
        val scan =
          if (fbIds.isEmpty) index.filter(lit(false))
          else if (fbIds.size <= TermInlineCap)
            index.filter(col(id).isin(fbIds: _*))
          // thousands-of-queries contract: past the inline cap the
          // doc-id pruning rides the broadcast join itself
          else index
        (firstLit, scan)
      case None => (firstSel, index)
    }
    val fb = fbScan.join(broadcast(firstFrame), Seq(id))
      .groupBy(col(qid), col("term")).agg(sum(col("tf")).as("__w"))
      .join(qt.frame, Seq(qid, "term"), "left_anti")
    val topFb = graft.plans.TopK.topKPerGroup(fb, Seq(qid),
        Seq(col("__w").desc, col("term").asc), fbTerms)
      .select(col(qid), col("term"))
    val expanded = qt.frame.unionByName(topFb).distinct()
    // collected once, the expansion's rows are the second pass's query
    // terms, scored as the first pass is; past the cap the lazy frame
    // feeds both the term prune and the scoring join
    Sources.collectCapped(expanded, prfCap) match {
      case Some(rows) =>
        indexedTopK(index, stats, id, QueryTerms(spark, expanded.schema, rows.toSeq),
          qid, k, k1, b)
      case None =>
        val statsDf = spark.range(1)
          .select(lit(stats._1).as("nd"), lit(stats._2).as("tl"))
        scoreAndCut(semiJoinTerms(index, expanded), statsDf, id, expanded, qid, k, k1, b)
    }
  }

  /** RAG context assembly — the end-to-end composition a
    * retrieval-augmented pipeline ships: BM25 over CHUNKS (feed it
    * [[TextAnalysis.chunkDocuments]] output), then each query's
    * context is the best chunks in rank order until the token budget
    * would overflow (greedy prefix — the same deterministic rule as
    * [[Sampling.tokenBudget]]). Emits an order-sensitive context
    * digest (the byte a re-run compares) instead of megabytes of
    * assembled text.
    *
    * Scale: one chunk-corpus BM25 pass; everything after is
    * (queries × k)-sized — the per-query windows run over bounded
    * candidate lists by contract (the rankWithin reasoning).
    * Output: (qid, n_chunks, n_tokens, context_digest). */
  def ragContext(chunks: DataFrame, cid: String, ctext: String, ctok: String,
                 queries: DataFrame, qid: String, qtext: String,
                 k: Int, tokenBudget: Long,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"ragContext: k must be >= 1 (got $k)")
    require(tokenBudget >= 1, s"ragContext: tokenBudget must be >= 1")
    val hits = bm25TopK(chunks, cid, ctext, queries, qid, qtext, k, k1, b)
    // hits is (queries × k)-sized — make it the BROADCAST side
    // explicitly. Size estimation over the GroupedTopK operator put
    // the CHUNK side under the broadcast threshold at bench scale,
    // building a corpus-sized hash relation on the driver (and at
    // warehouse scale that side is 100 TB of chunk text): the corpus
    // must always stream, the candidate list must always build.
    val joined = chunks.select(col(cid), col(ctext).as("__ct"),
        col(ctok).cast("long").as("__tk"))
      .join(broadcast(hits), Seq(cid))
    val w = Window.partitionBy(col(qid)).orderBy(col("bm25").desc, col(cid))
    val kept = joined
      .withColumn("__cum", sum(col("__tk")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__cum") <= tokenBudget)
    kept.groupBy(col(qid))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("__tk")).as("n_tokens"),
        md5(concat_ws("\n\n", transform(
          sort_array(collect_list(struct(col("__cum").as("c"),
            col("__ct").as("t")))),
          e => e.getField("t")))).as("context_digest"))
  }

  /** 1-based rank within each query under `order` — turns a scored
    * candidate frame into the (qid, id, rank) shape [[rrfFuse]]
    * consumes. The window partitions by `qid`, and candidate lists are
    * top-k-sized BY CONTRACT (this is for fusing retrieval results,
    * not ranking a corpus — whole-frame ranking is SeqFns.withRank*'s
    * job). Make `order` total (unique tiebreak) for determinism. */
  def rankWithin(df: DataFrame, qid: String, order: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rank",
      row_number().over(Window.partitionBy(col(qid)).orderBy(order: _*)).cast("long"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of N ranked
    * candidate lists per query — the standard way to combine lexical
    * (BM25) and dense (ANN) retrieval without score calibration:
    * rrf(d) = Σ_lists 1/(c + rank_list(d)). Rank-based, so the lists'
    * score scales never need to agree.
    *
    * Each input frame carries (qid, id, rank) with rank 1-based
    * ([[rankWithin]]). Shape: union of top-k-sized lists → one
    * (qid, id) partial agg — 1/(c+rank) is an exact IEEE division and
    * the sum accumulates in decimal(38,18) (Exact.dsum rule) — then
    * the GroupedTopK bounded-heap cut. Everything is candidate-list
    * sized; the corpus is never touched. Output: (qid, id, rrf,
    * n_lists) — n_lists = how many lists surfaced the doc. */
  def rrfFuse(rankings: Seq[DataFrame], qid: String, id: String,
              k: Int = 10, c: Int = 60): DataFrame = {
    require(rankings.size >= 2, "rrfFuse: need at least two rankings to fuse")
    require(c >= 1, s"rrfFuse: c must be >= 1 (got $c)")
    val all = rankings.map(_.select(col(qid), col(id), col("rank")))
      .reduce(_.unionByName(_))
    val scored = all
      .withColumn("__rr",
        lit(1.0) / (lit(c).cast("double") + col("rank").cast("double")))
      .groupBy(col(qid), col(id))
      .agg(round(sum(col("__rr").cast("decimal(38,18)")).cast("double"), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
    graft.plans.TopK.topKPerGroup(scored, Seq(qid),
      Seq(col("rrf").desc, col(id).asc), k)
  }
}
