package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pre-flight data profiling for 100 TB jobs — the numbers you read
  * BEFORE running the shuffle, not after it fails.
  *
  * Reference: datar_polars has no profiling surface (closest intent is
  * api/dplyr/count_tally.py, whose exact semantics graft keeps in
  * GraftFrame.countBy); this is the beyond-reference pipeline layer
  * (SURVEY §2.6).
  */
object Profiling {

  /** Join/groupBy-key skew profile: the k hottest keys with their row
    * share, plus global (n_keys, n_rows). A key holding >1% of a
    * 100 TB fact table is the task that runs for hours after every
    * other task finished — this report is how you decide between a
    * plain shuffle join, AQE skew splitting, and
    * [[graft.core.ScaleJoins.saltedJoin]] before burning the cluster
    * time to find out.
    *
    * Shape: per-key counts are ONE partial agg (map-side combine
    * absorbs the skew this exists to find — the hot key arrives at the
    * shuffle as #partitions partial counts, never as raw rows); the
    * global totals are a tiny re-agg; the hot-key cut is
    * TakeOrdered(k), never a full sort. NULL keys profile like any
    * other key (a NULL-heavy foreign-key column IS a skew hazard —
    * null-safe joins hash them to one task). */
  def keySkew(df: DataFrame, key: Column, k: Int = 10): DataFrame = {
    require(k >= 1, s"keySkew: k must be >= 1 (got $k)")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
    counts.orderBy(col("cnt").desc, col("key")).limit(k)
      .crossJoin(broadcast(totals))
      .withColumn("share", col("cnt").cast("double") / col("n_rows").cast("double"))
  }

  /** EXACT distributed quantiles (type-7 linear interpolation, the
    * R/NumPy/DuckDB `quantile_cont` convention) without collecting
    * values: Spark's exact `percentile` aggregate buffers every group
    * value in memory — a non-starter for a 100 TB column — and
    * `approx_percentile` trades the answer away. Here the column is
    * sorted ONCE (distributed range partition + the rowid machinery of
    * Tibble.rowidToColumn), the two neighbor rows of each requested
    * rank are selected by rowid — a scan-resident filter keeping
    * ≤ 2·|ps| rows — and the interpolation
    * lo + (hi − lo)·frac at rank (n−1)·p runs on the tiny remainder.
    * One sort, one broadcast count, nothing driver-side.
    *
    * NULLs are excluded (aggregate convention); an empty input yields
    * NULL quantiles. Ties are safe: equal values make rowid assignment
    * among them arbitrary but the value AT any tied rank identical.
    * Output: (p, quantile). */
  def exactQuantiles(df: DataFrame, x: Column, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"exactQuantiles: probabilities must be in [0,1] (got $ps)")
    require(ps.distinct.size == ps.size, s"exactQuantiles: duplicate ps in $ps")
    val vals = df.select(x.cast("double").as("__v")).filter(col("__v").isNotNull)
    val ranked = graft.core.Tibble.rowidToColumn(vals, Seq(col("__v")), "__rid")
    val n = vals.agg(count(lit(1)).as("__n"))
    val withN = ranked.crossJoin(broadcast(n))
    def pos(p: Double, nCol: Column): Column =
      (nCol - lit(1)).cast("double") * lit(p)
    val keep = ps.map { p =>
      val q = pos(p, col("__n"))
      (col("__rid") === floor(q).cast("long") + 1) ||
        (col("__rid") === ceil(q).cast("long") + 1)
    }.reduce(_ || _)
    val aggCols = ps.zipWithIndex.flatMap { case (p, i) =>
      val q = pos(p, col("__n"))
      Seq(
        max(when(col("__rid") === floor(q).cast("long") + 1, col("__v")))
          .as(s"__lo$i"),
        max(when(col("__rid") === ceil(q).cast("long") + 1, col("__v")))
          .as(s"__hi$i"))
    } :+ max(col("__n")).as("__nn")
    val one = withN.filter(keep).agg(aggCols.head, aggCols.tail: _*)
    val entries = ps.zipWithIndex.map { case (p, i) =>
      val q = pos(p, col("__nn"))
      val frac = q - floor(q)
      struct(lit(p).as("p"),
        (col(s"__lo$i") + (col(s"__hi$i") - col(s"__lo$i")) * frac)
          .as("quantile"))
    }
    one.select(explode(array(entries: _*)).as("e"))
      .select(col("e.p").as("p"), col("e.quantile").as("quantile"))
  }

  /** Winsorized clipping at exact quantile fences — tame the tails
    * before means/regressions without dropping rows. Fences are the
    * EXACT interpolated pLo/pHi quantiles ([[exactQuantiles]]: one
    * rowid sort, no value buffer), broadcast back; the clip itself is
    * a pure least/greatest projection over the corpus. NULL values
    * stay NULL. The fence arithmetic is the same lo+(hi−lo)·frac
    * sequence the quantile oracle replays, so the clipped column is
    * engine-exact. Output: input columns + `outCol`. */
  def winsorize(df: DataFrame, x: Column, pLo: Double, pHi: Double,
                outCol: String): DataFrame = {
    require(pLo >= 0.0 && pHi <= 1.0 && pLo < pHi,
      s"winsorize: need 0 <= pLo < pHi <= 1 (got $pLo, $pHi)")
    val fences = exactQuantiles(df, x, Seq(pLo, pHi))
      .agg(
        max(when(col("p") === pLo, col("quantile"))).as("__wlo"),
        max(when(col("p") === pHi, col("quantile"))).as("__whi"))
    df.crossJoin(broadcast(fences))
      // greatest/least IGNORE nulls (they'd clip NULL to the low
      // fence) — gate explicitly so NULL stays NULL
      .withColumn(outCol,
        when(x.isNotNull,
          least(greatest(x.cast("double"), col("__wlo")), col("__whi"))))
      .drop("__wlo", "__whi")
  }

  /** Equal-population quantile binning (decile/quartile curriculum
    * buckets — "train on the top quality quartile first"): the
    * nBins−1 interior fences are exact interpolated quantiles (ONE
    * rowid sort), broadcast back; the bin index is a codegen'd
    * comparison chain bin = Σ 1{x > fence_i} ∈ [0, nBins), so ties at
    * a fence fall into the LOWER bin (right-closed buckets) in every
    * engine identically. NULL x → NULL bin. Fixed-break binning is
    * [[graft.functions.BaseFns]] cut's job; this computes the breaks
    * from the data itself. Output: input + `outCol` (int). */
  def quantileBin(df: DataFrame, x: Column, nBins: Int,
                  outCol: String): DataFrame = {
    require(nBins >= 2 && nBins <= 1000,
      s"quantileBin: nBins=$nBins out of the sane fence range [2,1000]")
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val fcols = ps.zipWithIndex.map { case (p, i) =>
      max(when(col("p") === p, col("quantile"))).as(s"__f$i") }
    val fences = exactQuantiles(df, x, ps).agg(fcols.head, fcols.tail: _*)
    val bin = ps.indices.map(i =>
      when(x.cast("double") > col(s"__f$i"), 1).otherwise(0)).reduce(_ + _)
    df.crossJoin(broadcast(fences))
      .withColumn(outCol, when(x.isNotNull, bin))
      .drop(ps.indices.map(i => s"__f$i"): _*)
  }

  /** Per-group [[quantileBin]] — each stratum gets its own
    * equal-population fences (per-language length deciles, per-domain
    * quality quartiles), so a curriculum cut is fair across strata
    * instead of letting one domain's distribution set everyone's
    * breaks. Fences come from [[groupedQuantiles]] (ONE partitioned
    * window shuffle, no value buffer), pivot to one row per group,
    * and join back NULL-SAFELY on the group keys (<=> — a NULL
    * stratum is a legitimate group); the bin is the same codegen
    * comparison chain as the ungrouped form. `broadcastFences`
    * (default true) broadcasts the fence table — right for
    * stratum-count groups (languages, domains); disable it when
    * grouping by a high-cardinality key so the join shuffles instead
    * of broadcasting millions of fence rows. */
  def groupedQuantileBin(df: DataFrame, keys: Seq[String], x: Column,
                         nBins: Int, outCol: String,
                         broadcastFences: Boolean = true): DataFrame = {
    require(keys.nonEmpty, "groupedQuantileBin: no group keys (use quantileBin)")
    require(nBins >= 2 && nBins <= 1000,
      s"groupedQuantileBin: nBins=$nBins out of the sane fence range [2,1000]")
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val fcols = ps.zipWithIndex.map { case (p, i) =>
      max(when(col("p") === p, col("quantile"))).as(s"__f$i") }
    val fences = groupedQuantiles(df, keys, x, ps)
      .groupBy(keys.map(col): _*).agg(fcols.head, fcols.tail: _*)
    val fr = keys.zipWithIndex.foldLeft(fences) {
      case (f, (k, i)) => f.withColumnRenamed(k, s"__gk$i") }
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(k) <=> col(s"__gk$i") }.reduce(_ && _)
    val bin = ps.indices.map(i =>
      when(x.cast("double") > col(s"__f$i"), 1).otherwise(0)).reduce(_ + _)
    df.join(if (broadcastFences) broadcast(fr) else fr, cond)
      .withColumn(outCol, when(x.isNotNull, bin))
      .drop(ps.indices.map(i => s"__f$i") ++
        keys.indices.map(i => s"__gk$i"): _*)
  }

  /** Robust z-scores + outlier flags from median/MAD — the
    * p99-resistant alternative to mean/stddev flagging (one wild value
    * shifts a mean; it cannot shift a median). med = exact median of
    * x; MAD = exact median of |x − med|; z = (x − med)/(1.4826·MAD)
    * with R's mad() consistency constant as a shared exact literal.
    * Two rowid sorts (one per median) + two one-row broadcasts — no
    * value buffer at any scale. MAD = 0 (a majority-constant column)
    * makes z NULL rather than ±inf, and is_outlier is then false —
    * both spelled explicitly so any engine replays the same rows.
    * Output: input + med, mad, robust_z, is_outlier. */
  def madOutliers(df: DataFrame, x: Column, k: Double = 3.5): DataFrame = {
    require(k > 0.0, s"madOutliers: k must be positive (got $k)")
    val med = exactQuantiles(df, x, Seq(0.5))
      .select(col("quantile").as("med"))
    val withMed = df.crossJoin(broadcast(med))
    val dev = withMed.select(abs(x.cast("double") - col("med")).as("__dev"))
    val mad = exactQuantiles(dev, col("__dev"), Seq(0.5))
      .select(col("quantile").as("mad"))
    withMed.crossJoin(broadcast(mad))
      .withColumn("robust_z",
        when(col("mad") === 0.0, lit(null).cast("double"))
          .otherwise((x.cast("double") - col("med"))
            / (lit(1.4826) * col("mad"))))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > lit(k), lit(false)))
  }

  /** Per-group [[exactQuantiles]] — distribution profiling per stratum
    * (doc-length quantiles per language, value quantiles per domain)
    * with the same no-value-buffer guarantee. Ranks and group sizes
    * come from ONE partitioned window shuffle (both windows share the
    * partitioning), the neighbor rows survive a scan-resident filter
    * (≤ 2·|ps| rows per group), and the interpolation agg collapses to
    * |groups| rows. Groups skewed enough to hurt the rank window are
    * exactly the groups whose quantiles you need — and still only pay
    * one sort of their own rows, never a value buffer.
    * Output: (keys…, p, quantile). */
  def groupedQuantiles(df: DataFrame, keys: Seq[String], x: Column,
                       ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keys.nonEmpty, "groupedQuantiles: no group keys (use exactQuantiles)")
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"groupedQuantiles: probabilities must be in [0,1] (got $ps)")
    require(ps.distinct.size == ps.size, s"groupedQuantiles: duplicate ps in $ps")
    val base = df.select(keys.map(col) :+ x.cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull)
    val wp = Window.partitionBy(keys.map(col): _*)
    val ranked = base
      .withColumn("__rid", row_number().over(wp.orderBy(col("__v"))).cast("long"))
      .withColumn("__n", count(lit(1)).over(wp))
    def pos(p: Double): Column = (col("__n") - lit(1)).cast("double") * lit(p)
    val keep = ps.map { p =>
      (col("__rid") === floor(pos(p)).cast("long") + 1) ||
        (col("__rid") === ceil(pos(p)).cast("long") + 1)
    }.reduce(_ || _)
    val aggCols = ps.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        max(when(col("__rid") === floor(pos(p)).cast("long") + 1, col("__v")))
          .as(s"__lo$i"),
        max(when(col("__rid") === ceil(pos(p)).cast("long") + 1, col("__v")))
          .as(s"__hi$i"))
    } :+ max(col("__n")).as("__nn")
    val grouped = ranked.filter(keep)
      .groupBy(keys.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    val entries = ps.zipWithIndex.map { case (p, i) =>
      val q = (col("__nn") - lit(1)).cast("double") * lit(p)
      val frac = q - floor(q)
      struct(lit(p).as("p"),
        (col(s"__lo$i") + (col(s"__hi$i") - col(s"__lo$i")) * frac)
          .as("quantile"))
    }
    grouped.select(keys.map(col) :+ explode(array(entries: _*)).as("e"): _*)
      .select(keys.map(col) :+ col("e.p").as("p") :+ col("e.quantile").as("quantile"): _*)
  }

  /** HyperLogLog distinct-count estimation (Flajolet et al. 2007):
    * per-group approximate cardinality from m = 2^p five-bit
    * registers — the mergeable sketch every 100 TB profile keeps
    * where `n_distinct` (an exact shuffle of every distinct key)
    * is itself the job you are trying to avoid.
    *
    * Spark-first shape: the register index and the leading-zero rank
    * are pure per-row projections over the first 8 md5 hex digits
    * (exact in long; `bin()` gives the bit length, so no floating
    * log), ONE partial agg collapses occurrences to ≤ m registers
    * per group (map-side combine — the shuffle carries registers,
    * never keys), and a second tiny agg folds registers into the
    * estimate. Register merges are max, so the sketch is
    * partitioning-invariant; buckets/ranks are md5-derived, so any
    * engine replays the sketch bit-for-bit. The harmonic sum adds
    * powers of two ≥ 2^-(33-p) toward a total < 2^p — every partial
    * sum is exact in double, so even the SUM is order-invariant and
    * the estimate is REPRODUCIBLE, not just close.
    *
    * Raw HLL estimator only (no small-range linear-counting
    * correction — that needs ln(), whose last-ulp behavior is
    * engine-specific; below ~2.5·m true cardinality prefer the exact
    * `n_distinct`). Relative error ≈ 1.04/sqrt(m).
    * Output: (keys…, est_distinct, buckets_hit). */
  def hllDistinct(df: DataFrame, keys: Seq[String], x: Column,
                  p: Int = 8): DataFrame =
    hllEstimate(hllRegisters(df, keys, x, p), keys, p)

  /** The HLL register table (keys..., __bucket, __r): ≤ keys×2^p rows
    * from ONE partial agg; registers MERGE by elementwise max (max is
    * associative, commutative, and IDEMPOTENT — unions, re-folds, and
    * replays all land on the same registers by algebra), which is the
    * standing-sketch contract [[graft.streaming.HllStream]] builds on. */
  def hllRegisters(df: DataFrame, keys: Seq[String], x: Column,
                   p: Int): DataFrame = {
    require(p >= 4 && p <= 14, s"hllRegisters: p must be in [4,14] (got $p)")
    val rb = 32 - p
    val h = conv(substring(md5(x.cast("string")), 1, 8), 16, 10).cast("long")
    val hashed = df.filter(x.isNotNull)
      .select(keys.map(col) :+ shiftright(h, rb).as("__bucket")
        :+ (h % lit(1L << rb)).as("__rest"): _*)
    val rho = when(col("__rest") === 0, lit(rb + 1))
      .otherwise(lit(rb + 1) - length(bin(col("__rest"))))
    hashed.select(keys.map(col) :+ col("__bucket") :+ rho.as("__rho"): _*)
      .groupBy(keys.map(col) :+ col("__bucket"): _*)
      .agg(max(col("__rho")).as("__r"))
  }

  /** The estimate tail over a register table — shared by the one-shot
    * [[hllDistinct]] and the standing-sketch read, so both produce
    * bit-identical numbers from identical registers (the 2^-r terms
    * are exact dyadic doubles, so the sum is order-invariant). */
  def hllEstimate(regs: DataFrame, keys: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    regs.groupBy(keys.map(col): _*)
      .agg(sum(pow(lit(2.0), -col("__r"))).as("__z"),
        count(lit(1)).as("buckets_hit"))
      .withColumn("est_distinct",
        lit(alpha) * lit(m.toDouble * m) /
          (col("__z") + (lit(m) - col("buckets_hit")).cast("double")))
      .drop("__z")
      .select(keys.map(col) :+ col("est_distinct") :+ col("buckets_hit"): _*)
  }

  /** Count-min-sketch frequency estimation (Cormode & Muthukrishnan
    * 2005): upper-bound counts for `candidates` keys out of a
    * depth×width counter table — BOUNDED state for unbounded key
    * cardinality, the sketch every heavy-hitter pipeline keeps when
    * the exact per-key agg (keySkew) is itself too wide to hold.
    * est(k) = min over rows of the k-bucket counters; always ≥ the
    * true count, exact when the row's bucket has no collisions.
    *
    * Spark-first shape: no custom state — each occurrence emits its
    * `depth` (row, md5-bucket) pairs in ONE projection, a single
    * partial agg collapses them to the ≤ depth·width-row counter
    * table (map-side combine does almost all the work; the shuffle
    * carries counters, not keys), and candidates probe it with a
    * broadcast join. Counter merges are sums, so the sketch is
    * partitioning-invariant; buckets are md5-derived, so any engine
    * replays it exactly.
    *
    * Output: (key, est_count); candidates absent from the corpus
    * report their collision mass (0 when their buckets are clean). */
  def cmsEstimates(df: DataFrame, key: Column, candidates: DataFrame,
                   width: Int = 8192, depth: Int = 4,
                   keyGrainPreAgg: Boolean = false): DataFrame =
    cmsProbe(cmsSketch(df, key, width, depth, keyGrainPreAgg),
      candidates, key, width, depth)

  private def cmsRequire(width: Int, depth: Int): Unit = {
    require(width >= 16 && (width & (width - 1)) == 0,
      s"cms: width must be a power of two >= 16 (got $width)")
    require(depth >= 1 && depth <= 8, s"cms: depth must be in [1,8] (got $depth)")
  }

  private def cmsBucket(r: Int, k: Column, width: Int): Column =
    conv(substring(md5(concat_ws("|", lit(r.toString), k.cast("string"))), 1, 8),
      16, 10).cast("long") % width

  private def cmsRbPairs(k: Column, width: Int, depth: Int): Column =
    explode(array((0 until depth).map(r =>
      struct(lit(r).as("r"), cmsBucket(r, k, width).as("bucket"))): _*))

  /** The CMS counter table itself — (r, bucket, cnt), ≤ depth·width
    * rows regardless of input size: the MATERIALIZABLE half of the
    * sketch (persist it as the day-1 artifact; [[cmsMerge]] folds a
    * delta's sketch in EXACTLY, [[cmsProbe]] serves estimates without
    * re-reading the corpus). One projection emits each occurrence's
    * depth (row, md5-bucket) pairs, one partial agg collapses them —
    * map-side combine does the work, the shuffle carries counters. */
  /** keyGrainPreAgg picks which of two bit-identical plans builds the
    * counter table (Σ_bucket count == Σ_bucket Σ_{k→bucket} f(k), so
    * the sketch is the same either way):
    *
    *  - false (default): each OCCURRENCE emits its depth (r, bucket)
    *    pairs; one partial agg collapses them map-side, the shuffle
    *    carries ≤ depth·width counter rows per map partition and the
    *    fact table never crosses the network. Right for ~unique keys
    *    (orderkeys on the orders side), where a key-grain pre-agg
    *    would shuffle the whole key column for zero md5 savings.
    *  - true: collapse to (key, freq) FIRST (map-side partial agg;
    *    the shuffle carries distinct keys), then hash each DISTINCT
    *    key depth times. The md5 subtree is the sketch's entire
    *    compute cost; duplication factors of 4 (lineitem orderkeys)
    *    to corpus-term scale were paying it per occurrence. Measured
    *    at the 100x decade: x_join_size 23.2s → 13.9s. Right when the
    *    caller knows f(k) ≫ 1 on average.
    */
  def cmsSketch(df: DataFrame, key: Column,
                width: Int = 8192, depth: Int = 4,
                keyGrainPreAgg: Boolean = false): DataFrame = {
    cmsRequire(width, depth)
    if (keyGrainPreAgg)
      df.select(key.as("__k")).groupBy("__k").agg(count(lit(1)).as("__f"))
        .select(cmsRbPairs(col("__k"), width, depth).as("rb"), col("__f"))
        .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
        .agg(sum("__f").as("cnt"))
    else
      df.select(cmsRbPairs(key, width, depth).as("rb"))
        .select(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
        .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** EXACT sketch union: counters are plain sums, so
    * merge(sketch(A), sketch(B)) == sketch(A ⊎ B) bit-for-bit —
    * the algebra that makes CMS a day-2 artifact at 100 TB (fold the
    * day's delta sketch into the standing one; never rescan the
    * base). Inputs must share (width, depth) — counter tables of
    * different geometry are meaningless to add, and width is
    * unrecoverable from the table, so the caller owns that contract
    * (the persisted form should ride [[graft.plans.SketchIO]]). */
  def cmsMerge(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty, "cmsMerge: need at least one sketch")
    sketches.reduce(_.unionByName(_))
      .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
  }

  /** Probe a (possibly merged / reloaded) counter table for candidate
    * keys: est(k) = min over rows of k's bucket counters, ≥ the true
    * count always, exact when a row's bucket is collision-free.
    * (width, depth) must match the sketch's build geometry. */
  def cmsProbe(sketch: DataFrame, candidates: DataFrame, key: Column,
               width: Int = 8192, depth: Int = 4): DataFrame = {
    cmsRequire(width, depth)
    val candRb = candidates.select(key.as("key")).distinct()
      .select(col("key"), cmsRbPairs(col("key"), width, depth).as("rb"))
      .select(col("key"), col("rb.r").as("r"), col("rb.bucket").as("bucket"))
    // left join + coalesce: an untouched bucket means est 0, which an
    // inner join would silently inflate to the min of the HIT rows
    candRb.join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy("key").agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /** Join-cardinality estimation from two CMS counter tables (Cormode
    * & Muthukrishnan 2005 §4.2): |A ⋈ B| on the sketched keys is
    * estimated as min over rows r of Σ_bucket cntA·cntB — each row's
    * inner product equals Σ_k f_A(k)·f_B(k) plus non-negative
    * collision mass, so every row over-estimates and the min is the
    * tightest. THE pre-join planning read at 100 TB: two independent
    * one-pass scans (no shuffle of either fact table, no join), then
    * depth·width-bounded arithmetic — decide broadcast vs shuffle vs
    * skew-salt from the estimate before paying for the join itself.
    * Self-application (a = b) estimates the SECOND FREQUENCY MOMENT
    * F2 = Σ f_k² — the self-join size, the canonical key-skew scalar.
    * Output: (r, inner_product, est_join_size) — one row per sketch
    * row, est = min over them (same value on every row). */
  def cmsJoinSize(a: DataFrame, b: DataFrame): DataFrame = {
    // the min over rows rides ONE global agg of the ≤ depth-row
    // product table (collect the rows alongside the min, re-explode):
    // no single-partition Window, and the product table — hence both
    // sketch scans — is evaluated exactly once (a crossJoin(agg) or an
    // r-spine union would re-run the scans)
    def withMin(prods: DataFrame): DataFrame = prods
      .agg(collect_list(struct(col("r"), col("inner_product"))).as("__rows"),
        min("inner_product").as("est_join_size"))
      .select(explode(col("__rows")).as("__x"), col("est_join_size"))
      .select(col("__x.r").as("r"),
        col("__x.inner_product").as("inner_product"), col("est_join_size"))
    // self-application (F2): every bucket pairs with itself, so the
    // inner product is Σ cnt² — ONE scan, no join (the two-sided plan
    // would scan the same table twice; exchange reuse does not match
    // across the differently-aliased sides)
    if (a eq b)
      return withMin(a.groupBy("r")
        .agg(sum(col("cnt") * col("cnt")).as("inner_product")))
    // FULL OUTER on (r, bucket): unmatched buckets contribute 0 to the
    // product but keep their r alive, so a row whose buckets never
    // overlap still reaches the min with inner_product 0 — and each
    // sketch subtree is referenced exactly ONCE (a separate r-spine
    // union would re-evaluate both sketch scans)
    withMin(a.select(col("r"), col("bucket"), col("cnt").as("__ca"))
      .join(b.select(col("r"), col("bucket"), col("cnt").as("__cb")),
        Seq("r", "bucket"), "full")
      .groupBy("r")
      .agg(sum(coalesce(col("__ca"), lit(0L)) * coalesce(col("__cb"), lit(0L)))
        .as("inner_product")))
  }

  /** One-pass ANALYZE TABLE — the per-column statistics a planner (or
    * [[joinPlan]]-style advisor) reads before touching a 100 TB table:
    * row count, per-column null count, NDV estimated by the KMV
    * bottom-k sketch ([[graft.plans.KmvSketchAgg]] — EXACT below k
    * distinct values, (k−1)/frac(kth hash) above), and numeric
    * min/max. ALL columns' statistics come from ONE scan: every
    * column contributes its count/min/max/KMV aggregate to a single
    * agg (map-side combined, bounded k·|cols| state), and the result
    * row explodes to the per-column stats frame. Persist with
    * [[writeTableStats]] beside the table and serve lookups without a
    * rescan. Output: (column, n_rows, n_nulls, ndv_est, min_num,
    * max_num) — min/max NULL for non-numeric columns. */
  def analyzeTable(df: DataFrame, cols: Seq[String], k: Int = 1024): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.NumericType
    require(cols.nonEmpty, "analyzeTable: need at least one column")
    require(k >= 16, s"analyzeTable: k must be >= 16 (got $k)")
    val schema = df.schema
    val numeric = cols.filter(c => schema(c).dataType match {
      case _: NumericType => true
      case _ => false
    }).toSet
    val aggs = cols.flatMap { c =>
      val kmv = ColumnBridge.column(graft.plans.KmvSketchAgg(
        ColumnBridge.expr(md5(col(c).cast("string"))), k).toAggregateExpression())
      Seq(count(col(c)).as(s"__n_$c"), kmv.as(s"__kmv_$c")) ++
        (if (numeric(c))
          Seq(min(col(c)).cast("double").as(s"__min_$c"),
            max(col(c)).cast("double").as(s"__max_$c"))
        else Seq.empty)
    } :+ count(lit(1)).as("__rows")
    val a = df.agg(aggs.head, aggs.tail: _*)
    def ndv(c: String): Column = {
      val s = col(s"__kmv_$c")
      when(size(s) < k, size(s).cast("double"))
        .otherwise(lit(k - 1).cast("double") /
          (conv(substring(element_at(s, k), 1, 12), 16, 10).cast("double") /
            lit(math.pow(16.0, 12))))
    }
    val structs = cols.map { c =>
      struct(lit(c).as("column"),
        col("__rows").as("n_rows"),
        (col("__rows") - col(s"__n_$c")).as("n_nulls"),
        ndv(c).as("ndv_est"),
        (if (numeric(c)) col(s"__min_$c") else lit(null).cast("double"))
          .as("min_num"),
        (if (numeric(c)) col(s"__max_$c") else lit(null).cast("double"))
          .as("max_num"))
    }
    a.select(explode(array(structs: _*)).as("s")).select("s.*")
  }

  /** Persist the [[analyzeTable]] frame beside the table (one tiny
    * parquet under `<path>/_table_stats`) — the serve-without-rescan
    * half; a maintenance rewrite re-runs ANALYZE and overwrites. */
  def writeTableStats(stats: DataFrame, path: String): Unit =
    stats.coalesce(1).write.mode("overwrite").parquet(s"$path/_table_stats")

  def readTableStats(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    graft.sources.Sources.readParquet(spark, s"$path/_table_stats")

  // ---- KMV distinct / overlap sketch ---------------------------------------

  /** KMV distinct sketch of a key column (plans.KmvKernels): ONE
    * bounded-state partial aggregate producing the k smallest distinct
    * md5 hashes — a uniform sample of the distinct-key space. Output:
    * one row, `sketch` array<string> (sorted, ≤ k entries). Feed two
    * sketches to [[kmvOverlap]]; a standing pipeline stores one
    * per corpus snapshot and estimates any pairwise overlap later
    * WITHOUT re-reading either corpus. */
  /** Misra–Gries heavy hitters ([[graft.plans.MisraGriesAgg]]):
    * frequent keys from ONE pass with ≤ k counters of state per
    * partial buffer — the deterministic-memory alternative to exact
    * GROUP BY when the key space is unbounded (user agents, query
    * strings, raw URLs at 100 TB). Every key with true frequency
    * > N/(k+1) is guaranteed present; estimates under-count by at
    * most `err_bound` = (N − Σ est)/(k+1), which the output carries
    * per row — 0 in the exact regime (k ≥ distinct keys), where the
    * summary IS the count table (the oracle-pinned case).
    * Output: (item, est, err_bound), est desc. */
  def heavyHitters(df: DataFrame, key: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = ColumnBridge.column(
      graft.plans.MisraGriesAgg(ColumnBridge.expr(key.cast("string")), k)
        .toAggregateExpression())
    // N = non-NULL keys (the mass the sketch actually saw)
    df.agg(agg.as("sketch"), count(key.cast("string")).as("__n"))
      .select(col("sketch"), col("__n"),
        aggregate(col("sketch"), lit(0L),
          (acc, x) => acc + x.getField("est")).as("__sum"))
      .select(explode(col("sketch")).as("hh"),
        call_function("div", col("__n") - col("__sum"),
          lit(k + 1L)).as("err_bound"))
      .select(col("hh.item").as("item"), col("hh.est").as("est"),
        col("err_bound"))
  }

  /** Per-stratum heavy hitters — the grouped form of [[heavyHitters]]
    * (per-domain heavy URLs, per-language heavy terms): one MG
    * summary per group key from the SAME single pass (the typed
    * aggregate rides an ordinary groupBy, so partial buffers combine
    * map-side per group and the shuffle carries one ≤ k-entry summary
    * per stratum). err_bound is per stratum: (N_g − Σ est_g)/(k+1).
    * Output: (strata..., item, est, err_bound). */
  def heavyHittersBy(df: DataFrame, strata: Seq[String], key: Column,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(strata.nonEmpty, "heavyHittersBy: need at least one stratum column")
    val agg = ColumnBridge.column(
      graft.plans.MisraGriesAgg(ColumnBridge.expr(key.cast("string")), k)
        .toAggregateExpression())
    df.groupBy(strata.map(col): _*)
      .agg(agg.as("sketch"), count(key.cast("string")).as("__n"))
      .select(strata.map(col) :+ col("sketch") :+ col("__n") :+
        aggregate(col("sketch"), lit(0L),
          (acc, x) => acc + x.getField("est")).as("__sum"): _*)
      .select(strata.map(col) :+ explode(col("sketch")).as("hh") :+
        call_function("div", col("__n") - col("__sum"),
          lit(k + 1L)).as("err_bound"): _*)
      .select(strata.map(col) :+ col("hh.item").as("item") :+
        col("hh.est").as("est") :+ col("err_bound"): _*)
  }

  def kmvSketch(df: DataFrame, key: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = ColumnBridge.column(
      graft.plans.KmvSketchAgg(ColumnBridge.expr(md5(key.cast("string"))), k)
        .toAggregateExpression())
    df.agg(agg.as("sketch"))
  }

  /** Corpus-overlap estimation from two KMV sketches (Beyer et al.
    * 2007): merge, keep the k smallest of the union, and count how
    * many of those appear in BOTH input sketches —
    * jaccard_est = that count / k. Distinct counts estimate as
    * (k−1)/frac(kth hash) per side (exact when a side has fewer than
    * k distinct keys — then its sketch IS its distinct key set).
    * Everything below runs on two one-row frames (sketch-sized array
    * arithmetic); the corpora were only touched by the two sketch
    * scans — there is NO join between them at any scale.
    * Output: (k_used, n_both, jaccard_est, est_distinct_a,
    * est_distinct_b). */
  def kmvOverlap(a: DataFrame, akey: Column, b: DataFrame, bkey: Column,
                 k: Int): DataFrame =
    kmvOverlapOfSketches(
      kmvSketch(a, akey, k).select(col("sketch").as("sa")),
      kmvSketch(b, bkey, k).select(col("sketch").as("sb")), k)

  /** The overlap math over two 1-row sketch frames (columns `sa` /
    * `sb`) — shared with the standing-sketch read
    * ([[graft.streaming.KmvStream]]), so stream-vs-corpus overlap is
    * bit-identical to the two-scan batch form. */
  def kmvOverlapOfSketches(sa: DataFrame, sb: DataFrame, k: Int): DataFrame = {
    // distinct estimate: hashes are uniform in [0,1) (first 12 hex
    // digits as a fraction — exact in double), so the kth minimum
    // sits at ≈ k/(n+1): n̂ = (k−1)/frac(kth). Below k distinct keys
    // the sketch is the complete key set and the count is exact.
    def estDistinct(s: Column): Column =
      when(size(s) < k, size(s).cast("double"))
        .otherwise(lit(k - 1).cast("double") /
          (conv(substring(element_at(s, k), 1, 12), 16, 10).cast("double") /
            lit(math.pow(16.0, 12))))
    val u = slice(array_sort(array_union(col("sa"), col("sb"))), 1, k)
    val both = array_intersect(u, array_intersect(col("sa"), col("sb")))
    sa.crossJoin(sb)
      .select(
        size(u).as("k_used"),
        size(both).as("n_both"),
        (size(both).cast("double") / size(u).cast("double")).as("jaccard_est"),
        estDistinct(col("sa")).as("est_distinct_a"),
        estDistinct(col("sb")).as("est_distinct_b"))
  }

  /** k-anonymity re-identification risk profile over a set of
    * quasi-identifier columns (Sweeney 2002): a released table is
    * k-anonymous when every combination of quasi-identifier values
    * (the "equivalence class") covers at least k rows — classes
    * smaller than k are the rows an adversary can re-identify by
    * joining on those attributes. Run this BEFORE releasing a corpus
    * slice whose metadata (source, language, length band, date, …)
    * could be linked back to individuals.
    *
    * Output is the class-SIZE histogram plus the headline numbers on
    * every row: one row per distinct class size with (class_size,
    * n_classes, n_rows, at_risk = class_size < k), and
    * (k_anonymity = the smallest class size — the k the table
    * actually achieves, rows_at_risk, risk_share) repeated as
    * broadcast totals. NULL quasi-identifier values group as values
    * (a NULL birth-date is still a linkable attribute).
    *
    * Shape: ONE partial-agg groupBy on the quasi-identifiers (the
    * only pass over the data), then a class-size re-agg of the
    * class-grain table and a 1-row totals broadcast — at 100 TB the
    * corpus is touched once and everything downstream is class-sized
    * or smaller. */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Long): DataFrame = {
    require(quasiIds.nonEmpty, "kAnonymity: need at least one quasi-identifier")
    require(k >= 1, s"kAnonymity: k must be >= 1 (got $k)")
    val classes = df.groupBy(quasiIds.map(col): _*).agg(count(lit(1)).as("__sz"))
    val hist = classes.groupBy(col("__sz").as("class_size"))
      .agg(count(lit(1)).as("n_classes"))
      .withColumn("n_rows", col("class_size") * col("n_classes"))
      .withColumn("at_risk", col("class_size") < lit(k))
    val totals = hist.agg(
      min(col("class_size")).as("k_anonymity"),
      sum(when(col("at_risk"), col("n_rows")).otherwise(lit(0L))).as("rows_at_risk"),
      sum(col("n_rows")).as("__n"))
    hist.crossJoin(broadcast(totals))
      .withColumn("risk_share",
        col("rows_at_risk").cast("double") / col("__n").cast("double"))
      .drop("__n")
  }

  /** l-diversity profile (Machanavajjhala et al. 2007) — k-anonymity's
    * necessary complement: a class of 50 identical quasi-id rows is
    * 50-anonymous yet leaks the sensitive attribute completely if all
    * 50 share one value. Per quasi-id equivalence class, the number of
    * DISTINCT sensitive values; output is the class-diversity
    * histogram plus the headline min (the corpus's l) and the share of
    * rows in classes below `l`. Shape mirrors [[kAnonymity]]: one
    * (quasi-ids, sensitive) partial agg → class-grain re-agg →
    * histogram — everything after the first agg is class-sized. */
  def lDiversity(df: DataFrame, quasiIds: Seq[String], sensitive: String,
                 l: Long): DataFrame = {
    require(quasiIds.nonEmpty, "lDiversity: need at least one quasi-identifier")
    require(l >= 1, s"lDiversity: l must be >= 1 (got $l)")
    val classes = df
      .groupBy((quasiIds :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("__rows"))
      .groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("__l"), sum(col("__rows")).as("__sz"))
    val hist = classes.groupBy(col("__l").as("diversity"))
      .agg(count(lit(1)).as("n_classes"), sum(col("__sz")).as("n_rows"))
      .withColumn("at_risk", col("diversity") < lit(l))
    val totals = hist.agg(
      min(col("diversity")).as("l_diversity"),
      sum(when(col("at_risk"), col("n_rows")).otherwise(lit(0L))).as("rows_at_risk"),
      sum(col("n_rows")).as("__n"))
    hist.crossJoin(broadcast(totals))
      .withColumn("risk_share",
        col("rows_at_risk").cast("double") / col("__n").cast("double"))
      .drop("__n")
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic — the
    * distribution-drift read between two corpus versions (did the
    * doc-length / quality / price distribution move?): sup over all
    * values of |F_a(v) − F_b(v)|, computed exactly on the full data —
    * no binning, no sampling. The union collapses to per-distinct-
    * value counts in ONE partial agg; both empirical CDFs come from
    * the distributed prefix scan ([[graft.functions.ScanFns
    * .withCumulatives]] — one range-partitioned sort, two streamed
    * passes, never a global window); the sup is a 1-row TakeOrdered.
    * CDF steps are integer counts in doubles (exact), the per-value
    * divisions fixed-order IEEE — fully engine-replayable. Ties at
    * the sup break to the smallest value. Output: one row
    * (ks, at_value, n1, n2). */
  def ksTest(a: DataFrame, b: DataFrame, value: String): DataFrame = {
    def side(df: DataFrame, s1: Double, s2: Double) =
      df.select(col(value).cast("double").as("__v"))
        .filter(col("__v").isNotNull)
        .withColumn("__s1", lit(s1)).withColumn("__s2", lit(s2))
    val u = side(a, 1.0, 0.0).unionByName(side(b, 0.0, 1.0))
    val counts = u.groupBy(col("__v"))
      .agg(sum(col("__s1")).as("__c1"), sum(col("__s2")).as("__c2"))
    val cum = graft.functions.ScanFns.withCumulatives(counts,
      Seq((col("__c1"), graft.functions.ScanFns.SumOp, "__f1"),
          (col("__c2"), graft.functions.ScanFns.SumOp, "__f2")),
      Seq(col("__v").asc))
    // totals from the prefix scan's OWN final row instead of a second
    // `counts.agg(...)`: the cum path runs on the RDD bridge (its own
    // query execution — no stage AQE could ever share with a re-agg of
    // `counts`), so the re-agg was a full second evaluation of the
    // union+agg subtree — r18 stage profile showed the two identical
    // 5.4MB-shuffle scan stages. max of the monotone nonnegative
    // cumsum IS the total, and the counts are integer-valued doubles
    // (each < 2^53), so every addition order gives the bit-identical
    // value; the scan output is persisted (ScanFns), so this re-read
    // is cache-local
    val tot = cum.agg(max(col("__f1")).as("__n1"), max(col("__f2")).as("__n2"))
    cum.crossJoin(broadcast(tot))
      .select(col("__v"),
        abs(col("__f1") / col("__n1") - col("__f2") / col("__n2")).as("__d"),
        col("__n1"), col("__n2"))
      .orderBy(col("__d").desc, col("__v").asc)
      .limit(1)
      .select(col("__d").as("ks"), col("__v").as("at_value"),
        col("__n1").cast("long").as("n1"), col("__n2").cast("long").as("n2"))
  }

  /** Per-stratum [[ksTest]] — the drift REPORT (one KS row per
    * source/language/domain: which strata moved between corpus
    * versions, not just whether the blend did). Same exactness as the
    * global form; the CDF windows partition BY STRATUM (the
    * groupedQuantiles trade: a stratum pays one sort of its own
    * rows — strata skewed enough to hurt are the ones you are
    * diagnosing). Strata present on only one side are reported with
    * ks = 1 semantics by construction (every mass point disjoint).
    * Output: (stratum, ks, at_value, n1, n2). */
  def groupedKs(a: DataFrame, b: DataFrame, stratum: String,
                value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(df: DataFrame, s1: Double, s2: Double) =
      df.select(col(stratum).as("__g"), col(value).cast("double").as("__v"))
        .filter(col("__v").isNotNull)
        .withColumn("__s1", lit(s1)).withColumn("__s2", lit(s2))
    val u = side(a, 1.0, 0.0).unionByName(side(b, 0.0, 1.0))
    val counts = u.groupBy(col("__g"), col("__v"))
      .agg(sum(col("__s1")).as("__c1"), sum(col("__s2")).as("__c2"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // per-stratum totals as whole-partition window sums on the SAME
    // __g partitioning the CDF windows establish — the former
    // groupBy(__g)+join re-evaluated the counts subtree a second time
    // (the ksTest diamond at stratum grain) and paid a join; counts
    // are integer-valued doubles, so the window's and the agg's
    // addition orders give bit-identical totals
    val wAll = Window.partitionBy(col("__g"))
    counts
      .withColumn("__f1", sum(col("__c1")).over(w))
      .withColumn("__f2", sum(col("__c2")).over(w))
      .withColumn("__n1", sum(col("__c1")).over(wAll))
      .withColumn("__n2", sum(col("__c2")).over(wAll))
      .select(col("__g"), col("__v"),
        abs(col("__f1") / greatest(col("__n1"), lit(1.0)) -
          col("__f2") / greatest(col("__n2"), lit(1.0))).as("__d"),
        col("__n1"), col("__n2"))
      .groupBy(col("__g").as("stratum"))
      .agg(max(struct(col("__d"), -col("__v"))).getField("__d").as("ks"),
        max_by(col("__v"), struct(col("__d"), -col("__v"))).as("at_value"),
        max(col("__n1")).cast("long").as("n1"),
        max(col("__n2")).cast("long").as("n2"))
  }

  /** Benjamini–Hochberg FDR control over a FAMILY of p-values — the
    * multiple-testing guard a per-stratum drift REPORT needs before
    * anyone acts on it: run [[groupedKs]] over 40 languages at
    * α = 0.05 and two strata will "drift" by luck alone; BH (1995)
    * bounds the EXPECTED false-discovery share of the rejected set at
    * α instead of bounding each test. Step-up rule: sort p ascending,
    * reject the largest prefix 1..k with p₍ᵢ₎ ≤ α·i/m, and everything
    * before it (even rows above their own critical line — that is the
    * step-up, not a bug). Ranks break p-ties by key so the rejected
    * set is deterministic.
    *
    * Shape: the p-value table is one row per STRATUM — bounded by
    * contract like the level/centroid tables (§5 invariant), so its
    * rank window and the two 1-row broadcasts (m, k) are free; the
    * fact tables were consumed upstream by whatever produced the
    * p-values. Comparisons are exact-count rational arithmetic on
    * IEEE doubles — engine-replayable.
    * Output: (key, p, rank, m, critical, rejected), one row per test. */
  def benjaminiHochberg(pv: DataFrame, key: String, p: String,
                        alpha: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1, s"benjaminiHochberg: alpha=$alpha not in (0,1)")
    val w = Window.orderBy(col(p).asc, col(key).asc)
    val m = pv.agg(count(lit(1)).as("__m"))
    val ranked = pv.select(col(key), col(p).cast("double").as(p))
      .withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(m))
      .withColumn("critical",
        lit(alpha) * col("rank").cast("double") / col("__m").cast("double"))
    val kmax = ranked.agg(coalesce(
      max(when(col(p) <= col("critical"), col("rank"))), lit(0)).as("__k"))
    ranked.crossJoin(broadcast(kmax))
      .select(col(key), col(p), col("rank"), col("__m").as("m"),
        col("critical"), (col("rank") <= col("__k")).as("rejected"))
  }

  /** Exact 1-Wasserstein (earth-mover) distance between two numeric
    * samples — the MAGNITUDE companion of [[ksTest]]'s sup statistic:
    * KS says the CDFs separate somewhere; W₁ = ∫|F_a − F_b| dx says
    * how much probability mass moved how far, in the column's own
    * units (the drift read a token-budget or length-mix decision
    * actually wants). Computed exactly on the full data: the union
    * collapses to per-distinct-value counts in ONE partial agg (the
    * ksTest shape), both empirical CDFs ride the distributed prefix
    * scan, the NEXT-value gaps come from the fused whole-frame lag
    * scan ([[graft.functions.ScanFns.withShifts]] — one more
    * range-partitioned sort over the already-collapsed value table,
    * never a global window), and the Σ|ΔF|·Δx total crosses the
    * floor(x·2⁴⁰+0.5) grid so partitioning can never perturb the sum.
    * CDF steps are integer counts in doubles (exact), per-term
    * products fixed-order IEEE — fully engine-replayable.
    * Output: one row (w1, n1, n2). */
  def wasserstein1(a: DataFrame, b: DataFrame, value: String): DataFrame = {
    def side(df: DataFrame, s1: Double, s2: Double) =
      df.select(col(value).cast("double").as("__v"))
        .filter(col("__v").isNotNull)
        .withColumn("__s1", lit(s1)).withColumn("__s2", lit(s2))
    val u = side(a, 1.0, 0.0).unionByName(side(b, 0.0, 1.0))
    val counts = u.groupBy(col("__v"))
      .agg(sum(col("__s1")).as("__c1"), sum(col("__s2")).as("__c2"))
    val cum = graft.functions.ScanFns.withCumulatives(counts,
      Seq((col("__c1"), graft.functions.ScanFns.SumOp, "__f1"),
          (col("__c2"), graft.functions.ScanFns.SumOp, "__f2")),
      Seq(col("__v").asc))
    // totals off the scan's own final row — the ksTest reasoning
    // verbatim (integer-valued doubles, monotone cumsums, persisted
    // scan output): the re-agg of `counts` was a second full
    // evaluation of the union+agg subtree on the RDD-bridge boundary
    val tot = cum.agg(max(col("__f1")).as("__n1"), max(col("__f2")).as("__n2"))
    val d = cum.crossJoin(broadcast(tot))
      .select(col("__v"),
        abs(col("__f1") / col("__n1") - col("__f2") / col("__n2")).as("__d"),
        col("__n1"), col("__n2"))
    // term between consecutive distinct values: |F diff at the LEFT
    // point| x gap width. Lagging both columns in one fused scan makes
    // the first row's term 0 by null-arithmetic (lag nulls at the edge).
    val lagged = graft.functions.ScanFns.withShifts(d,
      Seq((col("__v"), 1, "__vp"), (col("__d"), 1, "__dp")),
      Seq(col("__v").asc))
    lagged
      .withColumn("__t",
        floor(coalesce(col("__dp") * (col("__v") - col("__vp")), lit(0.0)) *
          1099511627776.0 + 0.5).cast("decimal(38,0)"))
      // string-bridged decimal->double (the Exact.dsum rule): the grid
      // total can exceed 2^53, where direct decimal->double casts
      // double-round differently across engines
      .agg((sum(col("__t")).cast("string").cast("double") /
          1099511627776.0).as("w1"),
        max(col("__n1")).cast("long").as("n1"),
        max(col("__n2")).cast("long").as("n2"))
  }

  /** Two-proportion z-test — the release-gate read for a RATE between
    * two corpus versions (keep-rate after the quality filter, dedup
    * hit-rate, refusal rate): did the proportion move beyond sampling
    * noise? z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) with the pooled p̂ —
    * the A/B-test workhorse beside [[chiSquareTest]] (which reads a
    * whole categorical mix; this reads ONE binary rate with a signed
    * direction). Counts come from two 1-row partial aggs; every
    * closing op is a single IEEE step on exact counts — engine-exact
    * with no grid. Degenerate pools (p̂ ∈ {0,1}) read NULL z.
    * Output (1 row): n1, k1, p1, n2, k2, p2, pooled, z. */
  def twoProportionTest(a: DataFrame, b: DataFrame, flag: Column): DataFrame = {
    def side(df: DataFrame, n: String, k: String) =
      df.filter(flag.isNotNull).agg(count(lit(1)).as(n),
        sum(when(flag, 1L).otherwise(0L)).as(k))
    def dbl(c: Column): Column = c.cast("double")
    side(a, "n1", "k1").crossJoin(broadcast(side(b, "n2", "k2")))
      .withColumn("p1", dbl(col("k1")) / dbl(col("n1")))
      .withColumn("p2", dbl(col("k2")) / dbl(col("n2")))
      .withColumn("pooled",
        dbl(col("k1") + col("k2")) / dbl(col("n1") + col("n2")))
      .withColumn("z",
        when(col("pooled") > 0.0 && col("pooled") < 1.0,
          (col("p1") - col("p2")) /
            sqrt(col("pooled") * (lit(1.0) - col("pooled")) *
              (lit(1.0) / dbl(col("n1")) + lit(1.0) / dbl(col("n2"))))))
      .select(col("n1"), col("k1"), col("p1"), col("n2"), col("k2"),
        col("p2"), col("pooled"), col("z"))
  }

  /** One-way ANOVA F across strata — "does mean length/quality/price
    * actually differ by language/source?" beyond eyeballing the group
    * means: F = (SSB/(k−1)) / (SSW/(N−k)) with SSB = Σ s_g²/n_g −
    * S²/N and SSW = Σ (q_g − s_g²/n_g) off per-group (n, Σy, Σy²).
    *
    * Shape: ONE stratum-keyed partial agg carrying count +
    * exact-decimal Σy and Σy² per group (order-invariant), then the
    * two group sums accumulate in exact decimal TOO (the Exact.dsum
    * rule — sum-of-squares terms are ~Σy²-sized, far past the 2⁴⁰
    * grid's Long envelope) and the closing chain is single IEEE ops.
    * Degenerate inputs (k < 2, N ≤ k, SSW = 0) read NULL f.
    * Output (1 row): k, n, ssb, ssw, f. */
  def anovaF(df: DataFrame, stratum: String, value: Column): DataFrame = {
    import graft.functions.Exact
    def dbl(c: Column): Column = c.cast("double")
    val cells = df.filter(value.isNotNull && col(stratum).isNotNull)
      .select(col(stratum).as("__g"), value.cast("double").as("__y"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), Exact.dsum(col("__y")).as("__s"),
        Exact.dprodSum(col("__y"), col("__y")).as("__q"))
    val agg = cells.agg(
      count(lit(1)).as("k"), sum(col("__n")).as("n"),
      Exact.dsum(col("__s") * col("__s") / dbl(col("__n"))).as("__sb"),
      Exact.dsum(col("__q") - col("__s") * col("__s") / dbl(col("__n")))
        .as("ssw"),
      Exact.dsum(col("__s")).as("__S"))
    agg
      .withColumn("ssb",
        col("__sb") - col("__S") * col("__S") / dbl(col("n")))
      .withColumn("f",
        when(col("k") > 1L && col("n") > col("k") && col("ssw") > 0.0,
          (col("ssb") / (dbl(col("k")) - lit(1.0))) /
            (col("ssw") / (dbl(col("n")) - dbl(col("k"))))))
      .select(col("k"), col("n"), col("ssb"), col("ssw"), col("f"))
  }

  /** First-order partial correlation r_xy·z — "does x correlate with
    * y AFTER controlling for z?", the confound-screen beside
    * [[spearman]] (raw rank agreement) and 84t6's categorical
    * association: corpus features routinely correlate only through a
    * shared size/volume confound (tokens vs types through n_chars),
    * and this is the one-number screen that catches it:
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    *
    * Exactness: `x`/`y`/`z` must be INTEGER-valued; the ten moment
    * sums are exact decimals off ONE aggregation scan, each pairwise
    * r is the n-scaled Pearson identity (string-bridged operands, one
    * √ + ÷), and the partial chain is fixed single IEEE ops.
    * Degenerate inputs (any zero variance, |r_xz| or |r_yz| = 1)
    * read NULL. Output (1 row): n, r_xy, r_xz, r_yz, r_partial. */
  def partialCorr(df: DataFrame, x: Column, y: Column,
                  z: Column): DataFrame = {
    val Dec = "decimal(38,0)"
    def d2d(c: Column): Column = c.cast("string").cast("double")
    val d = df.filter(x.isNotNull && y.isNotNull && z.isNotNull)
      .select(x.cast("long").as("__x"), y.cast("long").as("__y"),
        z.cast("long").as("__z"))
    def s1(c: String) = sum(col(c).cast(Dec)).cast(Dec)
    def s2(a: String, b: String) =
      sum((col(a).cast(Dec) * col(b).cast(Dec)).cast(Dec)).cast(Dec)
    val a = d.agg(count(lit(1)).as("n"),
      s1("__x").as("__sx"), s1("__y").as("__sy"), s1("__z").as("__sz"),
      s2("__x", "__x").as("__qx"), s2("__y", "__y").as("__qy"),
      s2("__z", "__z").as("__qz"),
      s2("__x", "__y").as("__sxy"), s2("__x", "__z").as("__sxz"),
      s2("__y", "__z").as("__syz"))
    val nD = col("n").cast(Dec)
    def vr(s: String, q: String) = (nD * col(q) - col(s) * col(s)).cast(Dec)
    def r(sa: String, sb: String, sab: String, qa: String,
          qb: String): Column = {
      val num = (nD * col(sab) - col(sa) * col(sb)).cast(Dec)
      val den = (vr(sa, qa) * vr(sb, qb)).cast(Dec)
      when(den > lit(0).cast(Dec), d2d(num) / sqrt(d2d(den)))
    }
    val withR = a.select(col("n"),
      r("__sx", "__sy", "__sxy", "__qx", "__qy").as("r_xy"),
      r("__sx", "__sz", "__sxz", "__qx", "__qz").as("r_xz"),
      r("__sy", "__sz", "__syz", "__qy", "__qz").as("r_yz"))
    val denP = (lit(1.0) - col("r_xz") * col("r_xz")) *
      (lit(1.0) - col("r_yz") * col("r_yz"))
    withR.withColumn("r_partial",
      when(col("r_xy").isNotNull && col("r_xz").isNotNull &&
          col("r_yz").isNotNull && denP > 0.0,
        (col("r_xy") - col("r_xz") * col("r_yz")) / sqrt(denP)))
  }

  /** Brown–Forsythe variance-homogeneity test (Brown & Forsythe
    * 1974; the median-centered Levene) — [[anovaF]]'s PREREQUISITE
    * check: ANOVA assumes equal within-group variances; this tests
    * exactly that by running the ANOVA F on |y − median_g| (median
    * centering keeps the test robust under the heavy tails corpus
    * columns actually have). A significant F here means "compare
    * medians/ranks (84t14), not means".
    *
    * Shape: per-group medians off group-partitioned order-statistic
    * windows (the theilSen convention — ascending ranks, even count =
    * single-op mean of the two middles), one join back, |dev| a
    * per-row single IEEE op, then [[anovaF]]'s exact-decimal cells.
    * Output (1 row): k, n, ssb, ssw, f — over the deviations. */
  def brownForsythe(df: DataFrame, stratum: String,
                    value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = df.filter(value.isNotNull && col(stratum).isNotNull)
      .select(col(stratum).as("__g"), value.cast("double").as("__y"))
    val w = Window.partitionBy("__g").orderBy(col("__y"))
    val ranked = d.withColumn("__rn", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy("__g")))
    val lo = floor((col("__m") + 1L).cast("double") / 2.0)
    val hi = floor(col("__m").cast("double") / 2.0) + 1.0
    val med = ranked.filter(col("__rn") === lo || col("__rn") === hi)
      .groupBy("__g")
      .agg((sum(col("__y")) / count(lit(1)).cast("double")).as("__med"))
    val dev = d.join(med, Seq("__g"))
      .select(col("__g"), abs(col("__y") - col("__med")).as("__dev"))
    anovaF(dev, "__g", col("__dev"))
  }

  /** Cochran's Q test (Cochran 1950) — McNemar's k-treatment
    * generalization: do k binary FILTERS (pass/fail per document)
    * differ in their pass rates beyond chance, accounting for the
    * per-document pairing? The release gate before swapping one
    * quality filter for another across a battery of k candidates;
    * follows the agreement family (Cohen/Fleiss/Krippendorff measure
    * agreement, this tests marginal homogeneity).
    *
    * Exactness: Q = (k−1)·(k·ΣCⱼ² − S₁²)/(k·S₁ − S₂) with column
    * totals Cⱼ, S₁ = ΣRᵢ, S₂ = ΣRᵢ² — ALL exact integers from ONE
    * aggregation scan (the runChecks fusion shape), one closing
    * string-bridged division. All-pass/all-fail batteries (zero
    * denominator) read NULL. Output (1 row): n, k, q_stat, df_q. */
  def cochranQ(df: DataFrame, filters: Seq[Column]): DataFrame = {
    require(filters.size >= 2 && filters.size <= 32,
      s"cochranQ: 2..32 filters (got ${filters.size})")
    val Dec = "decimal(38,0)"
    def d2d(c: Column): Column = c.cast("string").cast("double")
    val k = filters.size
    val bits = filters.zipWithIndex.map { case (f, i) =>
      when(coalesce(f.cast("boolean"), lit(false)), 1L).otherwise(0L)
        .as(s"__x$i")
    }
    val d = df.select(bits: _*)
    val r = (0 until k).map(i => col(s"__x$i")).reduceLeft(_ + _)
    val aggs =
      (0 until k).map(i => sum(col(s"__x$i")).as(s"__c$i")) ++ Seq(
        count(lit(1)).as("n"),
        sum(r.cast(Dec)).cast(Dec).as("__s1"),
        sum((r.cast(Dec) * r.cast(Dec)).cast(Dec)).cast(Dec).as("__s2"))
    val a = d.agg(aggs.head, aggs.tail: _*)
    val sumC2 = (0 until k).map(i =>
      (col(s"__c$i").cast(Dec) * col(s"__c$i").cast(Dec)).cast(Dec))
      .reduceLeft(_ + _).cast(Dec)
    val kDec = lit(k.toLong).cast(Dec)
    val num = ((kDec * sumC2 - col("__s1") * col("__s1")) *
      lit((k - 1).toLong).cast(Dec)).cast(Dec)
    val den = (kDec * col("__s1") - col("__s2")).cast(Dec)
    a.select(col("n"), lit(k).as("k"),
      when(den =!= lit(0).cast(Dec), d2d(num) / d2d(den)).as("q_stat"),
      lit(k - 1).as("df_q"))
  }

  /** Kruskal–Wallis H across strata — [[anovaF]]'s RANK-based sibling
    * (heavy-tailed doc lengths and quality scores violate ANOVA's
    * variance assumptions; KW compares rank distributions): H =
    * [12/(N(N+1)) · Σ R_g²/n_g − 3(N+1)] / C with average ranks for
    * ties and the tie correction C = 1 − Σ(t³−t)/(N³−N).
    *
    * Shape: global average ranks from the distributed rowid sort
    * ([[graft.functions.SeqFns.withRankAvg]] — never a global
    * window), per-group decimal rank sums in ONE partial agg, tie
    * sizes from a per-distinct-value agg; the group R²/n and tie-cube
    * sums accumulate in exact decimal (R² is far past the 2⁴⁰ grid's
    * Long envelope — the anovaF rule), the closing chain single IEEE
    * ops. Degenerate inputs (k < 2 or all values tied, C = 0) read
    * NULL h. Output (1 row): k, n, h. */
  def kruskalWallis(df: DataFrame, stratum: String, value: Column): DataFrame = {
    import graft.functions.Exact
    def dbl(c: Column): Column = c.cast("double")
    val d = df.filter(value.isNotNull && col(stratum).isNotNull)
      .select(col(stratum).as("__g"), value.cast("double").as("__v"))
    val ranked = graft.functions.SeqFns.withRankAvg(d, col("__v"), "__r")
    val groups = ranked.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), Exact.dsum(col("__r")).as("__R"))
    val gAgg = groups.agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
      Exact.dsum(col("__R") * col("__R") / dbl(col("__n"))).as("__rr"))
    val ties = d.groupBy(col("__v")).agg(count(lit(1)).as("__t"))
      .agg(sum((col("__t").cast("decimal(38,0)") *
          col("__t").cast("decimal(38,0)") * col("__t").cast("decimal(38,0)") -
          col("__t").cast("decimal(38,0)")))
        .cast("string").cast("double").as("__tsum"))
    gAgg.crossJoin(broadcast(ties))
      .withColumn("__h0",
        lit(12.0) / (dbl(col("n")) * (dbl(col("n")) + lit(1.0))) *
          col("__rr") - lit(3.0) * (dbl(col("n")) + lit(1.0)))
      .withColumn("__c", lit(1.0) - col("__tsum") /
        (dbl(col("n")) * dbl(col("n")) * dbl(col("n")) - dbl(col("n"))))
      .select(col("k"), col("n"),
        when(col("k") > 1L && col("__c") > 0.0,
          col("__h0") / col("__c")).as("h"))
  }

  /** Difference-in-differences — the causal read for "we changed the
    * pipeline for cohort A": a raw before/after comparison confounds
    * the change with time (everything drifts); DiD nets time out with
    * the control cohort: DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post −
    * ȳ_C,pre), SE from the four cell variances (Welch-style,
    * independent cells), t = DiD/SE. The parallel-trends assumption
    * is the caller's to defend; the arithmetic is this one row.
    *
    * Shape: ONE partial agg to the four (group, era) cells — count,
    * exact-decimal Σy and Σy² (the Exact.dsum/dprodSum rules, so
    * means and variances are order-invariant) — then a fixed chain of
    * single IEEE ops. Cells with n < 2 read NULL se/t.
    * Output (1 row): n, y_t_pre, y_t_post, y_c_pre, y_c_post, did,
    * se, t_stat. */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
                 outcome: Column): DataFrame = {
    import graft.functions.Exact
    def dbl(c: Column): Column = c.cast("double")
    val d = df.filter(treated.isNotNull && post.isNotNull &&
        outcome.isNotNull)
      .select(treated.cast("boolean").as("__g"),
        post.cast("boolean").as("__p"), outcome.cast("double").as("__y"))
    def cell(g: Boolean, p: Boolean, tag: String) = Seq(
      sum(when(col("__g") === g && col("__p") === p, 1L).otherwise(0L))
        .as(s"__n$tag"),
      Exact.dsum(when(col("__g") === g && col("__p") === p, col("__y")))
        .as(s"__s$tag"),
      Exact.dprodSum(
        when(col("__g") === g && col("__p") === p, col("__y"))
          .otherwise(lit(null)),
        when(col("__g") === g && col("__p") === p, col("__y"))
          .otherwise(lit(null))).as(s"__q$tag"))
    val aggs = cell(true, false, "tp") ++ cell(true, true, "tq") ++
      cell(false, false, "cp") ++ cell(false, true, "cq")
    val a = d.agg(aggs.head, aggs.tail: _*)
    def mean(tag: String) = col(s"__s$tag") / dbl(col(s"__n$tag"))
    // cell variance-of-mean: (Σy² − (Σy)²/n) / (n−1) / n
    def vm(tag: String) = when(col(s"__n$tag") > 1L,
      (col(s"__q$tag") - col(s"__s$tag") * col(s"__s$tag") /
        dbl(col(s"__n$tag"))) /
        (dbl(col(s"__n$tag")) - lit(1.0)) / dbl(col(s"__n$tag")))
    a.select(
        (col("__ntp") + col("__ntq") + col("__ncp") + col("__ncq")).as("n"),
        mean("tp").as("y_t_pre"), mean("tq").as("y_t_post"),
        mean("cp").as("y_c_pre"), mean("cq").as("y_c_post"),
        ((mean("tq") - mean("tp")) - (mean("cq") - mean("cp"))).as("did"),
        sqrt(vm("tp") + vm("tq") + vm("cp") + vm("cq")).as("se"))
      .withColumn("t_stat",
        when(col("se") > 0.0, col("did") / col("se")))
  }

  /** Welch's two-sample unequal-variance t-test (Welch 1947) — the
    * plain cohort-mean comparison underneath the corrected designs in
    * this family ([[diffInDiff]] nets a time trend, [[cupedLift]]
    * nets a pre-period covariate; this is the read when neither
    * confound applies): t = (ȳ_a−ȳ_b)/√(s_a²/n_a + s_b²/n_b) with the
    * Welch–Satterthwaite df = (v_a+v_b)²/(v_a²/(n_a−1)+v_b²/(n_b−1)),
    * v_i = s_i²/n_i. Never pooled-variance Student: corpus cohorts
    * are routinely unequal-sized AND unequal-variance.
    *
    * Shape: ONE partial agg to the two cells — count, exact-decimal
    * Σy and Σy² (the Exact.dsum/dprodSum rules, so means and
    * variances are order-invariant) — then a fixed chain of single
    * IEEE ops identical on any engine. Cells with n < 2 read NULL
    * se/t/df. Output (1 row): n_a, n_b, mean_a, mean_b, t_stat,
    * df_w. */
  def welchT(df: DataFrame, groupA: Column, outcome: Column): DataFrame = {
    import graft.functions.Exact
    def dbl(c: Column): Column = c.cast("double")
    val d = df.filter(groupA.isNotNull && outcome.isNotNull)
      .select(groupA.cast("boolean").as("__g"),
        outcome.cast("double").as("__y"))
    def cell(g: Boolean, tag: String) = Seq(
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$tag"),
      Exact.dsum(when(col("__g") === g, col("__y"))).as(s"__s$tag"),
      Exact.dprodSum(
        when(col("__g") === g, col("__y")).otherwise(lit(null)),
        when(col("__g") === g, col("__y")).otherwise(lit(null)))
        .as(s"__q$tag"))
    val aggs = cell(true, "a") ++ cell(false, "b")
    val a = d.agg(aggs.head, aggs.tail: _*)
    def mean(tag: String) = col(s"__s$tag") / dbl(col(s"__n$tag"))
    // cell variance-of-mean v_i = s_i²/n_i = (Σy² − (Σy)²/n)/(n−1)/n
    def vm(tag: String) = when(col(s"__n$tag") > 1L,
      (col(s"__q$tag") - col(s"__s$tag") * col(s"__s$tag") /
        dbl(col(s"__n$tag"))) /
        (dbl(col(s"__n$tag")) - lit(1.0)) / dbl(col(s"__n$tag")))
    val va = vm("a")
    val vb = vm("b")
    a.select(col("__na").as("n_a"), col("__nb").as("n_b"),
        mean("a").as("mean_a"), mean("b").as("mean_b"),
        when(va + vb > 0.0, (mean("a") - mean("b")) / sqrt(va + vb))
          .as("t_stat"),
        when(va + vb > 0.0 && va * va / (dbl(col("__na")) - lit(1.0)) +
            vb * vb / (dbl(col("__nb")) - lit(1.0)) > 0.0,
          (va + vb) * (va + vb) /
            (va * va / (dbl(col("__na")) - lit(1.0)) +
             vb * vb / (dbl(col("__nb")) - lit(1.0)))).as("df_w"))
  }

  /** CUPED variance-reduced A/B lift (Deng, Xu, Kohavi & Walker, WSDM
    * 2013, "Improving the Sensitivity of Online Controlled
    * Experiments by Utilizing Pre-Experiment Data"): the experiment
    * readout every platform team runs — adjust each unit's outcome by
    * its PRE-period covariate, y′ = y − θ(x − x̄) with
    * θ = cov(x,y)/var(x), removing the between-user variance the
    * randomization already balanced; the lift estimate is unchanged
    * in expectation but its variance shrinks by ρ² (published as
    * `rho2`, the fraction of outcome variance the covariate
    * explains).
    *
    * Scale shape: ONE unit-keyed partial agg collapses the event log
    * to unit grain (integer metric sums — the contract that keeps
    * every later moment exact), then ONE global agg produces the
    * pooled and per-arm sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    * Σy² + arm splits) — the lift algebra runs on a single row.
    * Nothing fact-sized shuffles twice; the adjusted lift is computed
    * from the sums directly (mean of y−θ(x−x̄) over an arm is
    * ȳ_a − θ·x̄_a + θ·x̄), so no per-unit double arithmetic exists to
    * be order-dependent. Integer inputs → exact long sums → per-value
    * IEEE divisions; published doubles round-6.
    *
    * `treated` must be constant per unit (a randomization key).
    * Output: one row (n_units, theta, lift_raw, lift_cuped, rho2). */
  def cupedLift(df: DataFrame, unit: Column, treated: Column,
                preMetric: Column, postMetric: Column): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val units = df.filter(treated.isNotNull)
      .groupBy(unit.as("__u"), treated.cast("boolean").as("__g"))
      .agg(sum(coalesce(preMetric.cast("long"), lit(0L))).as("__x"),
        sum(coalesce(postMetric.cast("long"), lit(0L))).as("__y"))
    def armSum(g: Boolean, c: Column, tag: String) =
      sum(when(col("__g") === g, c).otherwise(0L)).as(tag)
    val a = units.agg(
      count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"),
      armSum(true, lit(1L), "__nt"), armSum(true, col("__x"), "__sxt"),
      armSum(true, col("__y"), "__syt"),
      armSum(false, lit(1L), "__nc"), armSum(false, col("__x"), "__sxc"),
      armSum(false, col("__y"), "__syc"))
    val n = dbl(col("__n"))
    val covXY = dbl(col("__sxy")) - dbl(col("__sx")) * dbl(col("__sy")) / n
    val varX = dbl(col("__sxx")) - dbl(col("__sx")) * dbl(col("__sx")) / n
    val varY = dbl(col("__syy")) - dbl(col("__sy")) * dbl(col("__sy")) / n
    val theta = when(varX > 0.0, covXY / varX).otherwise(lit(0.0))
    val liftRaw = dbl(col("__syt")) / dbl(col("__nt")) -
      dbl(col("__syc")) / dbl(col("__nc"))
    val liftCuped = liftRaw - theta *
      (dbl(col("__sxt")) / dbl(col("__nt")) - dbl(col("__sxc")) / dbl(col("__nc")))
    val rho2 = when(varX > 0.0 && varY > 0.0,
      covXY * covXY / (varX * varY)).otherwise(lit(0.0))
    a.select(col("__n").as("n_units"), round(theta, 6).as("theta"),
      round(liftRaw, 6).as("lift_raw"), round(liftCuped, 6).as("lift_cuped"),
      round(rho2, 6).as("rho2"))
  }

  /** Join-strategy advisor — the decision [[cmsJoinSize]] exists to
    * feed, packaged as one read: from two INDEPENDENT one-pass scans
    * (a count + a CMS sketch per side, no join, no shuffle of either
    * fact table) it publishes the side cardinalities, the estimated
    * join cardinality, the fanout ratio est/max(n), and a strategy
    * verdict — `broadcast_a`/`broadcast_b` when a side fits the
    * broadcast budget, `salt_or_bucket` when the estimated output
    * explodes past `fanoutFactor`·(n_a+n_b) (many-to-many or a hot
    * key — pre-shuffle mitigation needed), `shuffle_hash` otherwise.
    * At 100 TB this is the read a pipeline runs BEFORE submitting the
    * join: two sketch scans cost minutes, a mis-planned join costs
    * hours. Thresholds are caller-declared (rows, not bytes — the
    * caller knows its row width); the verdict is a deterministic
    * function of exact counts and the deterministic sketch estimate.
    * Output: one row (n_a, n_b, est_join_size, fanout, strategy). */
  def joinPlan(a: DataFrame, akey: Column, b: DataFrame, bkey: Column,
               width: Int = 65536, depth: Int = 4,
               broadcastRows: Long = 1000000L,
               fanoutFactor: Double = 4.0,
               aKeyGrainPreAgg: Boolean = false,
               bKeyGrainPreAgg: Boolean = false): DataFrame = {
    require(broadcastRows > 0 && fanoutFactor > 0,
      s"joinPlan: thresholds must be positive (got $broadcastRows, $fanoutFactor)")
    val na = a.agg(count(akey).as("n_a"))
    val nb = b.agg(count(bkey).as("n_b"))
    val est = cmsJoinSize(cmsSketch(a, akey, width, depth, aKeyGrainPreAgg),
        cmsSketch(b, bkey, width, depth, bKeyGrainPreAgg))
      .agg(min("est_join_size").as("est_join_size"))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(est))
      .select(col("n_a"), col("n_b"), col("est_join_size"),
        round(col("est_join_size").cast("double") /
          greatest(col("n_a"), col("n_b")).cast("double"), 6).as("fanout"),
        when(col("n_a") <= broadcastRows && col("n_a") <= col("n_b"),
            lit("broadcast_a"))
          .when(col("n_b") <= broadcastRows, lit("broadcast_b"))
          .when(col("est_join_size").cast("double") > lit(fanoutFactor) *
            (col("n_a") + col("n_b")).cast("double"), lit("salt_or_bucket"))
          .otherwise(lit("shuffle_hash")).as("strategy"))
  }

  /** Delta-method ratio-metric test (Deng, Knoblich & Lu, KDD 2018,
    * "Applying the Delta Method in Metric Analytics"): the z-test for
    * RATIO metrics (CTR = Σclicks/Σviews, revenue-per-session) whose
    * numerator and denominator are sums over the SAME randomization
    * units — the naive per-row variance is wrong because rows within
    * a unit are correlated; the delta method gives
    * var(R_a) ≈ (s_yy − 2R·s_xy + R²·s_xx) / (n·x̄²) from unit-grain
    * moments. Completes the experimentation kit beside [[cupedLift]]
    * (variance reduction), [[diffInDiff]] (time confounds) and
    * [[graft.ops.EventAnalytics.sprt]] (sequential stopping).
    *
    * Scale shape: one unit-keyed partial agg (integer metrics → exact
    * long sums), one global agg to per-arm sufficient statistics
    * (n, Σx, Σy, Σxx, Σyy, Σxy), then a single-row IEEE chain.
    * `treated` must be constant per unit. Arms with n ≤ 1 or a zero
    * denominator read NULL ratio/variance (loudly absent, never a
    * division blow-up). Output: one row (n_t, n_c, ratio_t, ratio_c,
    * diff, se, z), doubles round-6. */
  def ratioMetricTest(df: DataFrame, unit: Column, treated: Column,
                      denomMetric: Column, numerMetric: Column): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val units = df.filter(treated.isNotNull)
      .groupBy(unit.as("__u"), treated.cast("boolean").as("__g"))
      .agg(sum(coalesce(denomMetric.cast("long"), lit(0L))).as("__x"),
        sum(coalesce(numerMetric.cast("long"), lit(0L))).as("__y"))
    def arm(g: Boolean, tag: String) = Seq(
      sum(when(col("__g") === g, 1L).otherwise(0L)).as(s"__n$tag"),
      sum(when(col("__g") === g, col("__x")).otherwise(0L)).as(s"__sx$tag"),
      sum(when(col("__g") === g, col("__y")).otherwise(0L)).as(s"__sy$tag"),
      sum(when(col("__g") === g, col("__x") * col("__x")).otherwise(0L))
        .as(s"__sxx$tag"),
      sum(when(col("__g") === g, col("__y") * col("__y")).otherwise(0L))
        .as(s"__syy$tag"),
      sum(when(col("__g") === g, col("__x") * col("__y")).otherwise(0L))
        .as(s"__sxy$tag"))
    val aggs = arm(true, "t") ++ arm(false, "c")
    val a = units.agg(aggs.head, aggs.tail: _*)
    def stats(tag: String): (Column, Column) = {
      val n = dbl(col(s"__n$tag"))
      val xb = dbl(col(s"__sx$tag")) / n
      val yb = dbl(col(s"__sy$tag")) / n
      val r = yb / xb
      val sxx = (dbl(col(s"__sxx$tag")) - dbl(col(s"__sx$tag")) * xb) / (n - lit(1.0))
      val syy = (dbl(col(s"__syy$tag")) - dbl(col(s"__sy$tag")) * yb) / (n - lit(1.0))
      val sxy = (dbl(col(s"__sxy$tag")) - dbl(col(s"__sx$tag")) * yb) / (n - lit(1.0))
      val ok = col(s"__n$tag") > 1L && col(s"__sx$tag") > 0L
      (when(ok, r),
        when(ok, (syy - lit(2.0) * r * sxy + r * r * sxx) / (n * xb * xb)))
    }
    val (rt, vt) = stats("t")
    val (rc, vc) = stats("c")
    val se = sqrt(vt + vc)
    a.select(col("__nt").as("n_t"), col("__nc").as("n_c"),
      round(rt, 6).as("ratio_t"), round(rc, 6).as("ratio_c"),
      round(rt - rc, 6).as("diff"), round(se, 6).as("se"),
      round(when(se > 0.0, (rt - rc) / se), 6).as("z"))
  }

  /** Cochran–Mantel–Haenszel test — [[twoProportionTest]] STRATIFIED:
    * the rate comparison that survives Simpson's paradox. A corpus
    * whose language mix shifted between eras can show the keep-rate
    * moving in the POOLED table while every language's own rate held
    * (or vice versa); CMH compares within each stratum and combines:
    * z = Σₛ(k₁ₛ − n₁ₛ·mₛ/Nₛ) / √Σₛ n₁ₛn₂ₛmₛ(Nₛ−mₛ)/(Nₛ²(Nₛ−1)),
    * mₛ = k₁ₛ+k₂ₛ. Per-stratum cells come from ONE stratum-keyed
    * partial agg per side; the two stratum sums cross the
    * floor(x·2⁴⁰+0.5) grid (order-invariant); single-row strata
    * (Nₛ ≤ 1) contribute nothing, all-degenerate inputs read NULL z.
    * Output (1 row): n_strata, n1, n2, cmh_num, cmh_var, z. */
  def cmhTest(a: DataFrame, b: DataFrame, stratum: String,
              flag: Column): DataFrame = {
    val G = 1099511627776.0 // 2^40
    def gsum(c: Column): Column =
      sum(floor(c * G + 0.5).cast("decimal(38,0)"))
        .cast("string").cast("double") / G
    def dbl(c: Column): Column = c.cast("double")
    def side(df: DataFrame, n: String, k: String) =
      df.filter(flag.isNotNull && col(stratum).isNotNull)
        .groupBy(col(stratum).as("__g"))
        .agg(count(lit(1)).as(n), sum(when(flag, 1L).otherwise(0L)).as(k))
    val j = side(a, "__n1", "__k1").join(side(b, "__n2", "__k2"),
        Seq("__g"), "full")
      .select(col("__g"),
        coalesce(col("__n1"), lit(0L)).as("__n1"),
        coalesce(col("__k1"), lit(0L)).as("__k1"),
        coalesce(col("__n2"), lit(0L)).as("__n2"),
        coalesce(col("__k2"), lit(0L)).as("__k2"))
      .withColumn("__N", col("__n1") + col("__n2"))
      .withColumn("__m", col("__k1") + col("__k2"))
      .filter(col("__N") > 1L)
    val agg = j.agg(
      count(lit(1)).as("n_strata"),
      sum(col("__n1")).as("n1"), sum(col("__n2")).as("n2"),
      gsum(dbl(col("__k1")) - dbl(col("__n1")) * dbl(col("__m")) /
        dbl(col("__N"))).as("cmh_num"),
      gsum(dbl(col("__n1")) * dbl(col("__n2")) * dbl(col("__m")) *
        (dbl(col("__N")) - dbl(col("__m"))) /
        (dbl(col("__N")) * dbl(col("__N")) * (dbl(col("__N")) - lit(1.0))))
        .as("cmh_var"))
    agg.select(col("n_strata"), col("n1"), col("n2"),
      col("cmh_num"), col("cmh_var"),
      when(col("cmh_var") > 0.0,
        col("cmh_num") / sqrt(col("cmh_var"))).as("z"))
  }

  /** Two-sample Cramér–von Mises statistic (Anderson 1962) — the
    * WHOLE-CDF drift read between [[ksTest]] (sup: one worst point)
    * and [[wasserstein1]] (first-moment mass transport): T =
    * n₁n₂/N² · Σ over all N pooled observations of (F₁−F₂)², so many
    * small separations accumulate where KS sees only the largest.
    * Same topology as ksTest: per-distinct-value counts in ONE
    * partial agg, prefix-scan CDFs, each distinct value's squared
    * difference weighted by its pooled multiplicity on the 2⁻⁴⁰ grid
    * (string-bridged total). Output: one row (cvm, n1, n2). */
  def cramerVonMises(a: DataFrame, b: DataFrame, value: String): DataFrame = {
    def side(df: DataFrame, s1: Double, s2: Double) =
      df.select(col(value).cast("double").as("__v"))
        .filter(col("__v").isNotNull)
        .withColumn("__s1", lit(s1)).withColumn("__s2", lit(s2))
    val u = side(a, 1.0, 0.0).unionByName(side(b, 0.0, 1.0))
    val counts = u.groupBy(col("__v"))
      .agg(sum(col("__s1")).as("__c1"), sum(col("__s2")).as("__c2"))
    val cum = graft.functions.ScanFns.withCumulatives(counts,
      Seq((col("__c1"), graft.functions.ScanFns.SumOp, "__f1"),
          (col("__c2"), graft.functions.ScanFns.SumOp, "__f2")),
      Seq(col("__v").asc))
    // totals off the scan's own final row (the ksTest reasoning)
    val tot = cum.agg(max(col("__f1")).as("__n1"), max(col("__f2")).as("__n2"))
    val d = cum.crossJoin(broadcast(tot))
      .select(
        ((col("__f1") / col("__n1") - col("__f2") / col("__n2")) *
          (col("__f1") / col("__n1") - col("__f2") / col("__n2")) *
          (col("__c1") + col("__c2"))).as("__t2"),
        col("__n1"), col("__n2"))
    d.withColumn("__t",
        floor(col("__t2") * 1099511627776.0 + 0.5).cast("decimal(38,0)"))
      .agg(
        ((sum(col("__t")).cast("string").cast("double") / 1099511627776.0) *
          (max(col("__n1")) * max(col("__n2")) /
            ((max(col("__n1")) + max(col("__n2"))) *
              (max(col("__n1")) + max(col("__n2")))))).as("cvm"),
        max(col("__n1")).cast("long").as("n1"),
        max(col("__n2")).cast("long").as("n2"))
  }

  /** Per-stratum [[wasserstein1]] — the drift-MAGNITUDE report beside
    * [[groupedKs]]'s sup report: which languages/sources moved AND by
    * how much, in the column's own units (two strata can share a KS
    * of 0.2 while one moved 10 characters and the other 1000). Same
    * exactness as the global form; CDF, lag, and gap windows all
    * partition BY STRATUM (the groupedQuantiles trade). Strata
    * present on only one side integrate against an empty CDF via the
    * greatest(n,1) guard: W₁ = ∫F = max − mean of the present side
    * (the mass-weighted distance to the stratum's top — defined, like
    * groupedKs's ks=1 convention).
    * Output: (stratum, w1, n1, n2). */
  def groupedWasserstein(a: DataFrame, b: DataFrame, stratum: String,
                         value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(df: DataFrame, s1: Double, s2: Double) =
      df.select(col(stratum).as("__g"), col(value).cast("double").as("__v"))
        .filter(col("__v").isNotNull)
        .withColumn("__s1", lit(s1)).withColumn("__s2", lit(s2))
    val u = side(a, 1.0, 0.0).unionByName(side(b, 0.0, 1.0))
    val counts = u.groupBy(col("__g"), col("__v"))
      .agg(sum(col("__s1")).as("__c1"), sum(col("__s2")).as("__c2"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val lagW = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val totals = counts.groupBy(col("__g"))
      .agg(sum(col("__c1")).as("__n1"), sum(col("__c2")).as("__n2"))
    counts
      .withColumn("__f1", sum(col("__c1")).over(w))
      .withColumn("__f2", sum(col("__c2")).over(w))
      .join(totals, Seq("__g"))
      .select(col("__g"), col("__v"),
        abs(col("__f1") / greatest(col("__n1"), lit(1.0)) -
          col("__f2") / greatest(col("__n2"), lit(1.0))).as("__d"),
        col("__n1"), col("__n2"))
      .withColumn("__vp", lag(col("__v"), 1).over(lagW))
      .withColumn("__dp", lag(col("__d"), 1).over(lagW))
      .withColumn("__t",
        floor(coalesce(col("__dp") * (col("__v") - col("__vp")), lit(0.0)) *
          1099511627776.0 + 0.5).cast("decimal(38,0)"))
      .groupBy(col("__g").as("stratum"))
      .agg((sum(col("__t")).cast("string").cast("double") /
          1099511627776.0).as("w1"),
        max(col("__n1")).cast("long").as("n1"),
        max(col("__n2")).cast("long").as("n2"))
  }

  /** Population Stability Index (the scorecard-monitoring standard)
    * between a REFERENCE corpus and a CURRENT one, over equal-
    * population bins of the reference: PSI = Σ_bins (p−q)·ln(p/q).
    * Fences are the reference's exact type-7 quantiles (one fence
    * scan), binning is the codegen comparison chain both frames
    * share, counts collapse map-side, and empty bins are
    * Laplace-smoothed ((c+0.5)/(n+0.5·nBins)) instead of clamped so
    * the index is defined on any pair. The nBins-term total crosses
    * the floor(x·2^30+0.5) grid (order-invariant, engine-replayed).
    * Rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.
    * Output: one row (psi, n_ref, n_cur). */
  def psi(ref: DataFrame, cur: DataFrame, value: String,
          nBins: Int = 10): DataFrame = {
    require(nBins >= 2 && nBins <= 1000,
      s"psi: nBins=$nBins out of the sane fence range [2,1000]")
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val fcols = ps.zipWithIndex.map { case (p, i) =>
      max(when(col("p") === p, col("quantile"))).as(s"__f$i") }
    val fences = exactQuantiles(ref, col(value), ps).agg(fcols.head, fcols.tail: _*)
    def binCounts(df: DataFrame): DataFrame = {
      val bin = ps.indices.map(i =>
        when(col(value).cast("double") > col(s"__f$i"), 1).otherwise(0))
        .reduce(_ + _)
      df.filter(col(value).isNotNull).crossJoin(broadcast(fences))
        .select(bin.as("bin")).groupBy("bin").agg(count(lit(1)).as("c"))
    }
    val spark = ref.sparkSession
    val bins = spark.range(nBins).select(col("id").cast("int").as("bin"))
    val rc = binCounts(ref).withColumnRenamed("c", "__cr")
    val cc = binCounts(cur).withColumnRenamed("c", "__cc")
    val tot = rc.agg(sum(col("__cr")).as("__nr"))
      .crossJoin(cc.agg(sum(col("__cc")).as("__nc")))
    val grid = bins.join(rc, Seq("bin"), "left").join(cc, Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .select(
        ((coalesce(col("__cr"), lit(0L)).cast("double") + 0.5) /
          (col("__nr").cast("double") + 0.5 * nBins)).as("__p"),
        ((coalesce(col("__cc"), lit(0L)).cast("double") + 0.5) /
          (col("__nc").cast("double") + 0.5 * nBins)).as("__q"),
        col("__nr"), col("__nc"))
    grid
      .withColumn("__t", floor((col("__p") - col("__q")) *
        log(col("__p") / col("__q")) * 1073741824.0 + 0.5).cast("decimal(38,0)"))
      .agg((sum(col("__t")).cast("double") / 1073741824.0).as("psi"),
        max(col("__nr")).as("n_ref"), max(col("__nc")).as("n_cur"))
  }

  /** Two-sample chi-square homogeneity statistic over a CATEGORICAL
    * column (the KS complement: language mix, source mix, event-type
    * mix between corpus versions): Σ_cats (o−e)²/e for both samples
    * with pooled-share expectations. Category tables are bounded BY
    * CONTRACT (it's a categorical column); the k-term total crosses
    * the floor(x·2^24+0.5) grid for order-invariance. dof = k−1.
    * Output: one row (chi2, dof, n1, n2). */
  def chiSquareTest(a: DataFrame, b: DataFrame, cat: String): DataFrame = {
    val ca = a.filter(col(cat).isNotNull)
      .groupBy(col(cat).as("__k")).agg(count(lit(1)).as("__o1"))
    val cb = b.filter(col(cat).isNotNull)
      .groupBy(col(cat).as("__k")).agg(count(lit(1)).as("__o2"))
    val j = ca.join(cb, Seq("__k"), "full")
      .select(col("__k"), coalesce(col("__o1"), lit(0L)).as("__o1"),
        coalesce(col("__o2"), lit(0L)).as("__o2"))
    val tot = j.agg(sum(col("__o1")).as("__n1"), sum(col("__o2")).as("__n2"))
    val d = j.crossJoin(broadcast(tot))
      .withColumn("__e1", col("__n1").cast("double") *
        (col("__o1") + col("__o2")).cast("double") /
        (col("__n1") + col("__n2")).cast("double"))
      .withColumn("__e2", col("__n2").cast("double") *
        (col("__o1") + col("__o2")).cast("double") /
        (col("__n1") + col("__n2")).cast("double"))
      .withColumn("__t", floor((
        (col("__o1").cast("double") - col("__e1")) *
          (col("__o1").cast("double") - col("__e1")) / col("__e1") +
        (col("__o2").cast("double") - col("__e2")) *
          (col("__o2").cast("double") - col("__e2")) / col("__e2")) *
        16777216.0 + 0.5).cast("decimal(38,0)"))
    d.agg((sum(col("__t")).cast("double") / 16777216.0).as("chi2"),
      (count(lit(1)) - 1L).as("dof"),
      max(col("__n1")).as("n1"), max(col("__n2")).as("n2"))
  }

  /** Categorical ASSOCIATION audit between two columns of ONE frame —
    * the feature-redundancy / leakage read ([[chiSquareTest]] compares
    * the same column across two frames; this asks whether two columns
    * of the same corpus move together): is `source` just `lang` in
    * disguise? does a metadata field leak the quality label? One row
    * with the three standard strengths on their shared contingency
    * table: Pearson chi², Cramér's V = √(chi²/(n·min(kₐ−1,k_b−1)))
    * (the [0,1] effect size chi² itself hides behind n), mutual
    * information in nats, and BOTH asymmetric Theil's U = MI/H
    * (association is not symmetric: U(a|b)=1, U(b|a)<1 means b
    * determines a but not back — V alone cannot say which).
    *
    * Shape: ONE (a,b) partial agg to the contingency cells (bounded
    * BY CONTRACT — categorical columns), marginals re-agg from the
    * cell table and broadcast back, every per-cell term a fixed-order
    * IEEE division/log, every cell-sum on the floor(x·2⁴⁰+0.5) grid
    * (order-invariant); chi² uses the zero-cell-free identity
    * chi² = n·(Σ o²/(rₐ·c_b) − 1) so absent cells never materialize.
    * The fact table is touched exactly once.
    * Output: one row (n, k_a, k_b, chi2, cramers_v, mi, h_a, h_b,
    * u_a_given_b, u_b_given_a). */
  def associationAudit(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val G = 1099511627776.0 // 2^40
    // string-bridged decimal->double (the Exact.dsum rule)
    def gsum(c: Column): Column =
      sum(floor(c * G + 0.5).cast("decimal(38,0)"))
        .cast("string").cast("double") / G
    def dbl(c: Column): Column = c.cast("double")
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val ma = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__ra"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__cb"))
    val tot = cells.agg(sum(col("__o")).as("__n"),
      countDistinct(col("__a")).as("__ka"),
      countDistinct(col("__b")).as("__kb"))
    // per-cell sums: S = sum o^2/(ra*cb) (chi2 identity) and MI
    val core = cells.join(broadcast(ma), "__a").join(broadcast(mb), "__b")
      .crossJoin(broadcast(tot))
      .agg(
        gsum(dbl(col("__o")) * dbl(col("__o")) /
          (dbl(col("__ra")) * dbl(col("__cb")))).as("__s"),
        gsum((dbl(col("__o")) / dbl(col("__n"))) *
          log(dbl(col("__o")) * dbl(col("__n")) /
            (dbl(col("__ra")) * dbl(col("__cb"))))).as("mi"),
        max(col("__n")).as("n"), max(col("__ka")).as("k_a"),
        max(col("__kb")).as("k_b"))
    def entropy(m: DataFrame, cnt: String, as: String) =
      m.crossJoin(broadcast(tot))
        .agg(gsum(-(dbl(col(cnt)) / dbl(col("__n"))) *
          log(dbl(col(cnt)) / dbl(col("__n")))).as(as))
    core
      .crossJoin(broadcast(entropy(ma, "__ra", "h_a")))
      .crossJoin(broadcast(entropy(mb, "__cb", "h_b")))
      .withColumn("chi2", dbl(col("n")) * (col("__s") - lit(1.0)))
      .withColumn("cramers_v",
        when(least(col("k_a"), col("k_b")) > 1,
          sqrt(greatest(col("chi2"), lit(0.0)) /
            (dbl(col("n")) * dbl(least(col("k_a"), col("k_b")) - lit(1))))))
      .withColumn("u_a_given_b", when(col("h_a") > 0.0, col("mi") / col("h_a")))
      .withColumn("u_b_given_a", when(col("h_b") > 0.0, col("mi") / col("h_b")))
      .select(col("n"), col("k_a"), col("k_b"), col("chi2"),
        col("cramers_v"), col("mi"), col("h_a"), col("h_b"),
        col("u_a_given_b"), col("u_b_given_a"))
  }

  /** t-closeness profile (Li et al. 2007) — the third leg of the
    * privacy trio: l-diversity counts distinct sensitive values but a
    * class can still SKEW toward one (50 rows, 49 "disease", 1
    * "healthy" is 2-diverse and still leaking). Per quasi-id class,
    * the Earth Mover's Distance between the class's distribution over
    * an ORDERED sensitive attribute and the corpus-global one:
    * EMD = Σᵢ |cumP(i) − cumQ(i)| / (m−1) over the m ordered values.
    *
    * Shape: one (quasi, sensitive) partial agg; the complete class ×
    * value grid comes from a crossJoin with the broadcast m-row value
    * domain (missing values zero-fill — their cum carries); per-class
    * cum windows are m-row partitions by construction; the |diff|
    * total crosses the floor(x·2^40+0.5) grid so the m-term sum is
    * partitioning-invariant. Divisions and the cum sums are
    * fixed-order IEEE over exact counts — the whole profile replays
    * in SQL. Output: (quasi..., n_rows, emd, pass = emd <= t). */
  def tCloseness(df: DataFrame, quasiIds: Seq[String], sensitive: String,
                 t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quasiIds.nonEmpty, "tCloseness: need at least one quasi-identifier")
    require(t > 0 && t <= 1, s"tCloseness: t must be in (0,1] (got $t)")
    val qs = quasiIds.map(col)
    val counts = df.groupBy((quasiIds :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    // ordered global value domain + global cum distribution (m rows)
    val global = counts.groupBy(col(sensitive)).agg(sum(col("__c")).as("__gc"))
    val gw = Window.orderBy(col(sensitive))
    val globalCum = global
      .withColumn("__gcum", sum(col("__gc")).over(
        gw.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(global.agg(sum(col("__gc")).as("__gn"))))
      .select(col(sensitive),
        (col("__gcum").cast("double") / col("__gn").cast("double")).as("__q"))
    // complete class x value grid (classes × m), zero-filled
    val classes = counts.groupBy(qs: _*).agg(sum(col("__c")).as("n_rows"))
    val grid = classes.crossJoin(broadcast(globalCum))
      .join(counts, quasiIds :+ sensitive, "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val cw = Window.partitionBy(qs: _*).orderBy(col(sensitive))
    grid
      .withColumn("__p", sum(col("__c")).over(
          cw.rowsBetween(Window.unboundedPreceding, 0)).cast("double") /
        col("n_rows").cast("double"))
      .withColumn("__d",
        floor(abs(col("__p") - col("__q")) * 1099511627776.0 + 0.5).cast("long"))
      .groupBy((qs :+ col("n_rows")): _*)
      // the grid is complete, so count(*) per class IS m; the i = m
      // term is exactly 0 (both cums are exactly 1.0), so summing all
      // m terms equals the i < m EMD definition. m = 1 (a single
      // distinct sensitive value) is the degenerate distance-to-itself
      // case: emd is 0 by definition, not the 0/0 NaN the division
      // would produce
      .agg(sum(col("__d").cast("decimal(38,0)")).cast("double").as("__s"),
           count(lit(1)).as("__m"))
      .withColumn("emd", when(col("__m") === 1, lit(0.0)).otherwise(
        col("__s") / 1099511627776.0 / (col("__m") - lit(1)).cast("double")))
      .drop("__s", "__m")
      .withColumn("pass", col("emd") <= t)
  }

  /** One-pass Poisson bootstrap (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams"): B resampled estimates of
    * a mean statistic from ONE scan. Classic bootstrap resamples the
    * data B times — B corpus passes; here each row carries, per
    * replica j, an independent Poisson(1) weight drawn from the
    * engine-portable md5 inverse-CDF (the proven b_random parity),
    * and replica j's estimate is Σ wⱼ·x / Σ wⱼ — B extra agg COLUMNS
    * on one scan, which at 100 TB is the only honest way to put an
    * error bar on a corpus statistic.
    *
    * Exactness: weights are small integers from the md5 when-chain;
    * weighted sums are decimal-exact products; replica estimates,
    * their left-fold mean, the sample sd, and the ±1.96·sd normal CI
    * are fixed-order IEEE — the oracle replays every double.
    * Contract: B ≪ rows (an empty replica divides 0/0 → NaN; with
    * Poisson(1) weights P(empty) = e^(−rows)).
    * Output 1 row: est, n, boot_mean, boot_sd, ci_lo, ci_hi. */
  def poissonBootstrap(df: DataFrame, key: Column, x: Column,
                       b: Int = 16, seed: Long = 7L): DataFrame =
    poissonBootstrapBy(df, Nil, key, x, b, seed)

  /** Grouped form of [[poissonBootstrap]]: one CI row per stratum from
    * the same single scan (the replica weight columns ride the
    * stratum-keyed partial agg — still no extra pass, still
    * partitioning-invariant). */
  def poissonBootstrapBy(df: DataFrame, strata: Seq[Column],
                         key: Column, x: Column,
                         b: Int = 16, seed: Long = 7L): DataFrame = {
    require(b >= 2 && b <= 64, s"poissonBootstrap: b must be in [2, 64] (got $b)")
    import graft.functions.{BaseFns, Exact}
    val aggs = (0 until b).flatMap { j =>
      val w = BaseFns.rpoisCol(BaseFns.md5Unif(key, seed + j), lambda = 1.0)
      Seq(Exact.dprodSum(w.cast("double"), x).as(s"__s$j"),
        sum(w.cast("long")).as(s"__n$j"))
    }
    val all = Seq(Exact.dsum(x).as("__sx"), count(x).as("n")) ++ aggs
    val base =
      if (strata.isEmpty) df.agg(all.head, all.tail: _*)
      else df.groupBy(strata: _*).agg(all.head, all.tail: _*)
    val ests = (0 until b).map(j => col(s"__s$j") / col(s"__n$j").cast("double"))
    val bmean = ests.reduce(_ + _) / lit(b.toDouble)
    val sd = sqrt(ests.map(e => (e - bmean) * (e - bmean)).reduce(_ + _)
      / lit((b - 1).toDouble))
    val out = Seq(
      (col("__sx") / col("n").cast("double")).as("est"),
      col("n"),
      bmean.as("boot_mean"), sd.as("boot_sd"),
      (bmean - lit(1.96) * sd).as("ci_lo"),
      (bmean + lit(1.96) * sd).as("ci_hi"))
    base.select(strata ++ out: _*)
  }

  /** Per-stratum percentile-rank score calibration: heterogeneous
    * sources score on incompatible scales (one crawl's 0.6 is another's
    * 0.9), so a single global quality threshold over-selects whole
    * sources; calibrating each score to its WITHIN-STRATUM percentile
    * rank — (minRank − 1) / (n − 1), ties share a rank, a singleton
    * stratum pins to 0.5 — makes one threshold mean the same thing in
    * every source. That is the standard mixing prep before a global
    * token-budget cut ([[Sampling]]'s tokenBudget / mixtureSample).
    *
    * Shape: ONE stratum-partitioned window Exchange evaluates both the
    * rank and the stratum count (same partition spec — one shuffle);
    * the calibration itself is a projection. Strata are many and
    * individually bounded by contract (source-sized, not corpus-sized).
    * Exactness: rank and n are integers and the single division is one
    * IEEE op — bit-identical in any engine, partitioning-invariant.
    * Output: input columns + `out`. */
  def calibrateByStratum(df: DataFrame, stratum: Column, score: Column,
                         out: String = "score_cal"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(stratum)
    val r = rank().over(w.orderBy(score.asc))
    val n = count(lit(1)).over(w)
    df.withColumn(out,
      when(n === 1L, lit(0.5))
        .otherwise((r - lit(1)).cast("double") / (n - lit(1)).cast("double")))
  }

  /** Cohen's kappa between two boolean filters — chance-corrected
    * agreement. Running two quality filters over a corpus, raw
    * agreement is inflated by base rates (two filters that each pass
    * 95% agree ≥90% by chance alone); kappa = (po − pe) / (1 − pe)
    * corrects for it, which is the right telemetry when deciding
    * whether a cheap filter can replace an expensive one.
    *
    * ONE aggregate scan (4 conditional counts); every division is a
    * fixed-order IEEE chain over exact integer counts — engine-exact.
    * NULL verdicts are excluded from n (a filter that abstained is not
    * an agreement or a disagreement).
    * Output (1 row): n, p_both, p_neither, po, pe, kappa. */
  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val counted = df
      .agg(
        sum(when(a && b, 1L).otherwise(0L)).as("n11"),
        sum(when(!a && !b, 1L).otherwise(0L)).as("n00"),
        sum(when(a && !b, 1L).otherwise(0L)).as("n10"),
        sum(when(!a && b, 1L).otherwise(0L)).as("n01"))
      .withColumn("n", col("n11") + col("n00") + col("n10") + col("n01"))
    val nD = col("n").cast("double")
    val pa = (col("n11") + col("n10")).cast("double") / nD // P(a)
    val pb = (col("n11") + col("n01")).cast("double") / nD // P(b)
    val po = (col("n11") + col("n00")).cast("double") / nD
    val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
    counted.select(
      col("n"),
      (col("n11").cast("double") / nD).as("p_both"),
      (col("n00").cast("double") / nD).as("p_neither"),
      po.as("po"), pe.as("pe"),
      when(pe === 1.0, lit(1.0)) // degenerate: constant filters that agree
        .otherwise((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Fleiss' kappa (Fleiss 1971) — [[cohenKappa]]'s many-rater
    * generalization, the agreement read on a LABELING JOB (n raters
    * per item, k categories: did the annotators actually agree beyond
    * chance, or is the gold set noise?). Input is one row per RATING
    * (item, category); the standard statistic requires every item to
    * carry the SAME number of ratings, checked loudly (an uneven
    * panel wants Krippendorff, not a silent mis-weight).
    *
    * Topology: one (item, category) partial-agg count, one item-keyed
    * agg for P_i = (Σ_j n_ij² − n)/(n(n−1)) (exact integers, one IEEE
    * division per item), category marginals for P̄_e = Σ_j p_j² —
    * means accumulate on the 2^-30 fixed-point grid so the
    * distributed sums are order-invariant and engine-replayable.
    * Output (1 row): n_items, n_raters, po, pe, kappa. */
  def fleissKappa(df: DataFrame, item: Column, category: Column): DataFrame = {
    val cells = df.filter(item.isNotNull && category.isNotNull)
      .groupBy(item.as("__i"), category.cast("string").as("__c"))
      .agg(count(lit(1)).as("__n"))
    val perItem = cells.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__ni"),
        sum(col("__n") * col("__n")).as("__sq"))
    val ns = perItem.agg(countDistinct(col("__ni")).as("__k"),
      max(col("__ni")).as("__n")).collect()(0)
    require(ns.getLong(0) == 1L,
      "fleissKappa: items carry UNEVEN rating counts — the Fleiss " +
        "statistic requires a constant panel size per item (filter to " +
        "complete items, or use a chance-corrected measure built for " +
        "missingness)")
    val n = ns.getLong(1)
    require(n >= 2, s"fleissKappa: $n rating(s) per item — need >= 2")
    // P̄ = mean_i (sq_i − n)/(n(n−1)), gridded
    val pbarDf = perItem.agg(
      count(lit(1)).as("n_items"),
      (sum(floor(((col("__sq") - lit(n)).cast("double")
          / lit((n * (n - 1)).toDouble)) * 1073741824.0 + 0.5)
          .cast("decimal(38,0)")).cast("double") / 1073741824.0
        / count(lit(1)).cast("double")).as("po"))
    // P̄_e = Σ_j (ratings_j / total)², gridded over categories
    val tot = cells.agg(sum(col("__n")).as("__t")).collect()(0).getLong(0)
    val peDf = cells.groupBy(col("__c"))
      .agg(sum(col("__n")).as("__cj"))
      .agg((sum(floor(
          (col("__cj").cast("double") / lit(tot.toDouble))
            * (col("__cj").cast("double") / lit(tot.toDouble))
            * 1073741824.0 + 0.5).cast("decimal(38,0)"))
        .cast("double") / 1073741824.0).as("pe"))
    pbarDf.crossJoin(peDf)
      .select(col("n_items"), lit(n).as("n_raters"), col("po"), col("pe"),
        when(col("pe") === 1.0, lit(1.0))
          .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe")))
          .as("kappa"))
  }

  /** Krippendorff's alpha, nominal level (Krippendorff 2004) — the
    * agreement measure [[fleissKappa]]'s constant-panel rejection
    * points at: it weights by what was actually rated, so UNEVEN
    * panels (missing ratings, annotators who skipped items) are
    * handled by construction instead of mis-weighted. Items with a
    * single rating carry no pairable information and drop out (the
    * standard convention).
    *
    *   D_o = (1/n) Σ_i Σ_c n_ic(n_i − n_ic)/(n_i − 1)
    *   D_e = (1/(n(n−1))) Σ_c n_c(n − n_c)
    *   α   = 1 − D_o/D_e
    *
    * Exact integer products throughout; the one per-item division
    * (by n_i − 1) lands on the 2^-30 fixed-point grid before the
    * distributed sum, D_e is integer-exact, and the final ops are a
    * fixed IEEE chain — engine-replayable. Output (1 row):
    * (n_items, n_ratings, do_, de, alpha); alpha NULL when D_e = 0
    * (every rating one category — agreement is undefined, not 1). */
  def krippendorffAlpha(df: DataFrame, item: Column,
                        category: Column): DataFrame = {
    val cells = df.filter(item.isNotNull && category.isNotNull)
      .groupBy(item.as("__i"), category.cast("string").as("__c"))
      .agg(count(lit(1)).as("__n"))
    val withNi = cells
      .withColumn("__ni", sum(col("__n"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__i"))))
      .filter(col("__ni") >= 2) // single-rating items are unpairable
    val n = withNi.groupBy(col("__i")).agg(first(col("__ni")).as("__ni"))
      .agg(coalesce(sum(col("__ni")), lit(0L)).as("n"),
        count(lit(1)).as("n_items")).collect()(0)
    val (nTot, nItems) = (n.getLong(0), n.getLong(1))
    require(nTot >= 2, s"krippendorffAlpha: $nTot pairable rating(s) — " +
      "need at least one item with two ratings")
    // D_o numerator: per-cell n_ic(n_i − n_ic)/(n_i − 1), gridded
    val doDf = withNi.agg(
      (sum(floor((col("__n") * (col("__ni") - col("__n"))).cast("double")
          / (col("__ni") - 1).cast("double") * 1073741824.0 + 0.5)
        .cast("decimal(38,0)")).cast("double") / 1073741824.0
        / lit(nTot.toDouble)).as("do_"))
    // D_e: integer-exact category marginals
    val deDf = withNi.groupBy(col("__c"))
      .agg(sum(col("__n")).as("__nc"))
      .agg((sum((col("__nc") * (lit(nTot) - col("__nc")))
          .cast("decimal(38,0)")).cast("double")
        / lit((nTot.toDouble) * (nTot - 1).toDouble)).as("de"))
    doDf.crossJoin(deDf)
      .select(lit(nItems).as("n_items"), lit(nTot).as("n_ratings"),
        col("do_"), col("de"),
        when(col("de") === 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("do_") / col("de")).as("alpha"))
  }

  /** Krippendorff's alpha at the ORDINAL level — [[krippendorffAlpha]]
    * for graded labels (quality 0–4, severity bands) on UNEVEN
    * panels: the nominal distance reads "4 vs 3" as disagreeing
    * exactly like "4 vs 0", the ordinal metric δ²_ck =
    * (Σ_{g=c..k} n_g − (n_c + n_k)/2)² (Krippendorff 2004) weights a
    * miss by how much of the rating MASS it skips — and unlike
    * [[weightedKappa]] it handles missing ratings and any panel shape
    * by construction. Same D_o/D_e/α frame as the nominal form.
    *
    * Scale shape: cells from ONE corpus partial agg; the cumulative
    * marginal runs over the CATEGORY table (grades ≤ ~1000 by the
    * ordinal contract — a bounded frame like the forcats level
    * tables); per-item pairs are ≤ k² per item against the broadcast
    * k²-row δ table. Exactness: 2S = 2(cum_k − cum_c) + (n_c − n_k)
    * is an exact integer, every numerator multiplies in decimal(38,0)
    * (the `require` caps pairable ratings at 10^8 so nothing can
    * overflow — labeling jobs are human-scale), the one per-item
    * division lands on the 2^-30 grid before the distributed sum,
    * and the closing chain is fixed IEEE. Items with one rating drop
    * (unpairable); α is NULL when D_e = 0. Output (1 row):
    * (n_items, n_ratings, do_, de, alpha). */
  def krippendorffAlphaOrdinal(df: DataFrame, item: Column,
                               grade: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val cells = df.filter(item.isNotNull && grade.isNotNull)
      .groupBy(item.as("__i"), grade.cast("long").as("__g"))
      .agg(count(lit(1)).as("__n"))
    val withNi = cells
      .withColumn("__ni", sum(col("__n")).over(Window.partitionBy(col("__i"))))
      .filter(col("__ni") >= 2)
    val hdr = withNi.groupBy(col("__i")).agg(first(col("__ni")).as("__ni"))
      .agg(coalesce(sum(col("__ni")), lit(0L)).as("n"),
        count(lit(1)).as("n_items")).collect()(0)
    val (nTot, nItems) = (hdr.getLong(0), hdr.getLong(1))
    require(nTot >= 2, s"krippendorffAlphaOrdinal: $nTot pairable " +
      "rating(s) — need at least one item with two ratings")
    require(nTot <= 100000000L, "krippendorffAlphaOrdinal: the exact " +
      s"decimal(38,0) products cap pairable ratings at 1e8 (got $nTot)")
    // category marginals + cumulative mass over the bounded grade table
    val marg = withNi.groupBy(col("__g")).agg(sum(col("__n")).as("__nc"))
      .withColumn("__cum", sum(col("__nc")).over(Window.orderBy(col("__g"))))
    val a = marg.select(col("__g").as("__gc"), col("__nc").as("__nc_c"),
      col("__cum").as("__cum_c"))
    val b = marg.select(col("__g").as("__gk"), col("__nc").as("__nc_k"),
      col("__cum").as("__cum_k"))
    // 2·δ_ck for c<k is the exact integer 2(cum_k−cum_c) + (n_c−n_k)
    val pairs = a.crossJoin(b).filter(col("__gc") < col("__gk"))
      .withColumn("__twoS", (col("__cum_k") - col("__cum_c")) * 2L
        + (col("__nc_c") - col("__nc_k")))
    val deRow = pairs.agg(sum(col("__nc_c").cast(dec) *
      col("__nc_k").cast(dec) *
      col("__twoS").cast(dec) * col("__twoS").cast(dec)).as("__sde"))
    val ca = withNi.select(col("__i"), col("__g").as("__gc"),
      col("__n").as("__na"), col("__ni"))
    val cb = withNi.select(col("__i").as("__i2"), col("__g").as("__gk"),
      col("__n").as("__nb"))
    val ip = ca.join(cb, col("__i") === col("__i2") && col("__gc") < col("__gk"))
      .join(broadcast(pairs.select(col("__gc"), col("__gk"), col("__twoS"))),
        Seq("__gc", "__gk"))
    val num = (col("__na") * col("__nb")).cast(dec) *
      col("__twoS").cast(dec) * col("__twoS").cast(dec)
    val perRow = num.cast("double") / ((col("__ni") - 1L).cast("double") * 4.0)
    val doRow = ip.agg((sum(floor(perRow * 1073741824.0 + 0.5).cast(dec))
      .cast("double") / 1073741824.0).as("__sdo"))
    doRow.crossJoin(deRow)
      .select(lit(nItems).as("n_items"), lit(nTot).as("n_ratings"),
        (coalesce(col("__sdo"), lit(0.0)) * 2.0 / lit(nTot.toDouble))
          .as("do_"),
        (coalesce(col("__sde").cast("double"), lit(0.0)) * 2.0 / 4.0
          / lit(nTot.toDouble * (nTot - 1).toDouble)).as("de"))
      .select(col("n_items"), col("n_ratings"), col("do_"), col("de"),
        when(col("de") === 0.0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("do_") / col("de")).as("alpha"))
  }

  // ---- fixed-grid histogram (the streaming-quantile substrate) ----------

  /** Fixed-grid histogram over `x`: bin i covers
    * [lo + i·w, lo + (i+1)·w) with w = (hi − lo)/bins; bin −1 is
    * underflow (x < lo), bin `bins` overflow (x ≥ hi). The bin index
    * is floor((x − lo)/(hi − lo)·bins) — three exactly-rounded IEEE
    * ops any engine reproduces bit-for-bit (no half-even round, no
    * libm), clamped to bins−1 for the x just under `hi` whose product
    * rounds up. ONE partial-agg groupBy over ≤ bins+2 keys: the
    * shuffle carries bin counts, never values — the fixed-memory
    * profile substrate a quantile monitor folds per micro-batch
    * ([[graft.streaming.HistStream]]), where the mergeable-summary
    * sketches (KMV/HLL/MG) don't answer rank queries. Grid bounds are
    * caller-declared like the clustered-sink grids: a monitor sizes
    * the grid to the metric's DOMAIN once, not per batch.
    * Output: (bin, lo_edge, hi_edge, n) — sparse (observed bins
    * only), edges NULL on the unbounded under/overflow bins. */
  def gridHistogram(df: DataFrame, x: Column, lo: Double, hi: Double,
                    bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 65536,
      s"gridHistogram: bins=$bins outside 1..65536")
    require(lo < hi, s"gridHistogram: lo=$lo must be < hi=$hi")
    val v = x.cast("double")
    val raw = floor((v - lit(lo)) / (lit(hi) - lit(lo)) * lit(bins.toDouble))
    val bin = when(v < lit(lo), lit(-1L))
      .when(v >= lit(hi), lit(bins.toLong))
      .otherwise(least(raw.cast("long"), lit(bins.toLong - 1L)))
    val w = (lit(hi) - lit(lo)) / lit(bins.toDouble)
    df.select(bin.as("bin")).filter(col("bin").isNotNull)
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .withColumn("lo_edge",
        when(col("bin") >= 0 && col("bin") < bins,
          lit(lo) + col("bin").cast("double") * w))
      .withColumn("hi_edge",
        when(col("bin") >= 0 && col("bin") < bins,
          lit(lo) + (col("bin") + 1).cast("double") * w))
      .select("bin", "lo_edge", "hi_edge", "n")
  }

  /** Quantile estimates from a [[gridHistogram]] frame: for each p,
    * rank r = floor(p·(N−1)) + 1 (1-based) lands in the first bin
    * whose cumulative count reaches r, and the estimate interpolates
    * linearly inside that bin: lo_edge + w·(r − cum_before)/n_bin —
    * per-row IEEE, engine-replayable. Under/overflow ranks clamp to
    * lo/hi (the declared-domain contract: out-of-grid mass has no
    * width to interpolate). The cumulative window runs over the
    * ≤ bins+2 histogram rows — bounded by contract, never the data.
    * Grid error is ≤ one bin width; tighten by raising `bins`
    * (memory is bins·8B) — that trade IS the monitor design.
    * Output: (p, est, rank, bin). */
  def histQuantiles(hist: DataFrame, lo: Double, hi: Double, bins: Int,
                    ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"histQuantiles: probabilities must be in [0,1] (got $ps)")
    require(ps.distinct.size == ps.size, s"histQuantiles: duplicate ps in $ps")
    val w = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cum", sum(col("n")).over(w))
      .withColumn("__before", col("__cum") - col("n"))
    val total = hist.agg(sum(col("n")).as("__total"))
    val pFrame = ps.map(p => s"SELECT CAST($p AS DOUBLE) AS p")
      .mkString(" UNION ALL ")
    val pdf = hist.sparkSession.sql(pFrame)
      .crossJoin(broadcast(total))
      .withColumn("rank",
        (floor(col("p") * (col("__total") - 1).cast("double")) + 1).cast("long"))
    val width = (lit(hi) - lit(lo)) / lit(bins.toDouble)
    // |ps|-row side explicitly broadcast: the rank-containment join is
    // non-equi, and without the hint a stats-blind planner could fall
    // back to CartesianProduct
    broadcast(pdf).join(cum,
        pdf("rank") > col("__before") && pdf("rank") <= col("__cum"))
      .withColumn("est",
        when(col("bin") < 0, lit(lo))
          .when(col("bin") >= bins, lit(hi))
          .otherwise(col("lo_edge") + width *
            ((col("rank") - col("__before")).cast("double")
              / col("n").cast("double"))))
      .select(col("p"), col("est"), col("rank"), col("bin"))
  }

  /** Per-stratum [[gridHistogram]]: one groupBy over keys × ≤ bins+2
    * cells — the shuffle still carries counts, never values; the
    * output is |keys|·bins-bounded. The per-language / per-source
    * shape a corpus monitor actually watches.
    * Output: (keys..., bin, lo_edge, hi_edge, n). */
  def gridHistogramBy(df: DataFrame, keys: Seq[String], x: Column,
                      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 65536,
      s"gridHistogramBy: bins=$bins outside 1..65536")
    require(lo < hi, s"gridHistogramBy: lo=$lo must be < hi=$hi")
    val v = x.cast("double")
    val raw = floor((v - lit(lo)) / (lit(hi) - lit(lo)) * lit(bins.toDouble))
    val bin = when(v < lit(lo), lit(-1L))
      .when(v >= lit(hi), lit(bins.toLong))
      .otherwise(least(raw.cast("long"), lit(bins.toLong - 1L)))
    val w = (lit(hi) - lit(lo)) / lit(bins.toDouble)
    df.select(keys.map(col) :+ bin.as("bin"): _*).filter(col("bin").isNotNull)
      .groupBy((keys :+ "bin").map(col): _*).agg(count(lit(1)).as("n"))
      .withColumn("lo_edge",
        when(col("bin") >= 0 && col("bin") < bins,
          lit(lo) + col("bin").cast("double") * w))
      .withColumn("hi_edge",
        when(col("bin") >= 0 && col("bin") < bins,
          lit(lo) + (col("bin") + 1).cast("double") * w))
      .select((keys ++ Seq("bin", "lo_edge", "hi_edge", "n")).map(col): _*)
  }

  /** Per-stratum [[histQuantiles]] over a [[gridHistogramBy]] frame:
    * the cumulative and total windows are PARTITIONED on the keys
    * (keys×bins-bounded partitions), each p's rank lands in its
    * stratum's bin, and the interpolation is the same per-row IEEE.
    * Output: (keys..., p, est, rank, bin). */
  def histQuantilesBy(hist: DataFrame, keys: Seq[String],
                      lo: Double, hi: Double, bins: Int,
                      ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"histQuantilesBy: probabilities must be in [0,1] (got $ps)")
    require(ps.distinct.size == ps.size, s"histQuantilesBy: duplicate ps in $ps")
    val byKey = Window.partitionBy(keys.map(col): _*)
    val cumW = byKey.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cum", sum(col("n")).over(cumW))
      .withColumn("__before", col("__cum") - col("n"))
      .withColumn("__total", sum(col("n")).over(byKey))
    val psArr = array(ps.map(p => lit(p)): _*)
    val w = (lit(hi) - lit(lo)) / lit(bins.toDouble)
    cum.withColumn("p", explode(psArr))
      .withColumn("rank",
        (floor(col("p") * (col("__total") - 1).cast("double")) + 1).cast("long"))
      .filter(col("rank") > col("__before") && col("rank") <= col("__cum"))
      .withColumn("est",
        when(col("bin") < 0, lit(lo))
          .when(col("bin") >= bins, lit(hi))
          .otherwise(col("lo_edge") + w *
            ((col("rank") - col("__before")).cast("double")
              / col("n").cast("double"))))
      .select((keys ++ Seq("p", "est", "rank", "bin")).map(col): _*)
  }

  /** PSI between two [[gridHistogram]] frames on the SAME declared
    * grid — the drift read a standing monitor computes WITHOUT
    * touching raw data again: both inputs are already bins-bounded
    * count vectors (e.g. two [[graft.streaming.HistStream]] standing
    * states, or last week's persisted profile vs today's), so the
    * whole comparison is grid-sized. Shares [[psi]]'s conventions
    * exactly: Laplace 0.5-smoothing over the full cell count (bins+2,
    * counting the under/overflow cells), and the per-cell terms cross
    * the floor(x·2^30+0.5) fixed-point grid so the sum is
    * order-invariant and engine-replayable.
    * Output: one row (psi, n_ref, n_cur). */
  def histPsi(ref: DataFrame, cur: DataFrame, bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 65536, s"histPsi: bins=$bins outside 1..65536")
    val cells = bins + 2
    val spine = ref.sparkSession.range(cells)
      .select((col("id") - 1).cast("long").as("bin"))
    val rc = ref.select(col("bin"), col("n").as("__cr"))
    val cc = cur.select(col("bin"), col("n").as("__cc"))
    // totals coalesce to 0 on an EMPTY side (sum over no rows is NULL,
    // which would silently NULL every __p/__q and the psi itself) —
    // matching histPsiBy's convention: an empty side reads as the
    // defined all-smoothing PSI, maximal one-sided drift, flagged not
    // lost
    val tot = rc.agg(coalesce(sum(col("__cr")), lit(0L)).as("__nr"))
      .crossJoin(cc.agg(coalesce(sum(col("__cc")), lit(0L)).as("__nc")))
    val grid = spine.join(rc, Seq("bin"), "left").join(cc, Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .select(
        ((coalesce(col("__cr"), lit(0L)).cast("double") + 0.5) /
          (col("__nr").cast("double") + 0.5 * cells)).as("__p"),
        ((coalesce(col("__cc"), lit(0L)).cast("double") + 0.5) /
          (col("__nc").cast("double") + 0.5 * cells)).as("__q"),
        col("__nr"), col("__nc"))
    grid
      .withColumn("__t", floor((col("__p") - col("__q")) *
        log(col("__p") / col("__q")) * 1073741824.0 + 0.5).cast("decimal(38,0)"))
      .agg((sum(col("__t")).cast("double") / 1073741824.0).as("psi"),
        max(col("__nr")).as("n_ref"), max(col("__nc")).as("n_cur"))
  }

  /** Per-stratum [[histPsi]] over two [[gridHistogramBy]] frames on
    * the same grid: one PSI row per key (per language, per source) —
    * the slice-level drift read a corpus monitor pages on. The dense
    * spine is (keys observed in either frame) × (bins+2 cells), built
    * from the two bounded inputs; everything stays grid-sized. Same
    * smoothing and fixed-point conventions as [[psi]]/[[histPsi]].
    * Output: (key, psi, n_ref, n_cur) — n_ref/n_cur 0 for a key seen
    * on one side only (maximal one-sided drift, flagged not lost). */
  def histPsiBy(ref: DataFrame, cur: DataFrame, key: String,
                bins: Int): DataFrame = {
    require(bins >= 1 && bins <= 65536, s"histPsiBy: bins=$bins outside 1..65536")
    val cells = bins + 2
    val keys = ref.select(col(key)).union(cur.select(col(key))).distinct()
    val spine = keys.crossJoin(
      ref.sparkSession.range(cells).select((col("id") - 1).cast("long").as("bin")))
    val rc = ref.select(col(key), col("bin"), col("n").as("__cr"))
    val cc = cur.select(col(key), col("bin"), col("n").as("__cc"))
    val rt = ref.groupBy(col(key)).agg(sum(col("n")).as("__nr"))
    val ct = cur.groupBy(col(key)).agg(sum(col("n")).as("__nc"))
    val grid = spine
      .join(rc, Seq(key, "bin"), "left").join(cc, Seq(key, "bin"), "left")
      .join(rt, Seq(key), "left").join(ct, Seq(key), "left")
      .select(col(key),
        ((coalesce(col("__cr"), lit(0L)).cast("double") + 0.5) /
          (coalesce(col("__nr"), lit(0L)).cast("double") + 0.5 * cells)).as("__p"),
        ((coalesce(col("__cc"), lit(0L)).cast("double") + 0.5) /
          (coalesce(col("__nc"), lit(0L)).cast("double") + 0.5 * cells)).as("__q"),
        coalesce(col("__nr"), lit(0L)).as("__nr"),
        coalesce(col("__nc"), lit(0L)).as("__nc"))
    grid
      .withColumn("__t", floor((col("__p") - col("__q")) *
        log(col("__p") / col("__q")) * 1073741824.0 + 0.5).cast("decimal(38,0)"))
      .groupBy(col(key))
      .agg((sum(col("__t")).cast("double") / 1073741824.0).as("psi"),
        max(col("__nr")).as("n_ref"), max(col("__nc")).as("n_cur"))
  }

  /** Benford's-law first-digit audit — the classic synthetic-data /
    * fraud / unit-bug tripwire for naturally-scaled positive
    * quantities (prices, populations, token counts): organic
    * multi-scale data puts ~30.1% of first digits at 1, falling to
    * ~4.6% at 9; uniform or fabricated data reads flat. Input must be
    * an INTEGRAL column (cast money to cents with floor first —
    * integer→string is byte-identical across engines, where
    * double→string and log10-based digit extraction are not);
    * non-positive values are excluded. ONE partial-agg groupBy over
    * ≤ 9 keys; the expected shares are plan-time literals
    * (log10(1 + 1/d), printed at full precision so any engine parses
    * the identical doubles) and the MAD (mean |obs − exp| over all 9
    * digits, absent digits counted at 0) crosses the fixed-point
    * grid, [[psi]]'s order-invariance recipe.
    * Output: (digit 1..9, n, obs_p, exp_p, mad) — mad repeated on
    * every row for one-frame reading; MAD > ~0.015 is Nigrini's
    * "nonconformity" line. */
  def benford(df: DataFrame, x: Column): DataFrame = {
    val digits = (1 to 9).map(d =>
      (d, math.log10(1.0 + 1.0 / d)))
    val v = x.cast("long")
    val counts = df.filter(v > 0)
      .select(substring(v.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val spineRows = digits.map { case (d, e) =>
      s"SELECT $d AS digit, CAST(${fullPrec(e)} AS DOUBLE) AS exp_p" }
    val spine = df.sparkSession.sql(spineRows.mkString(" UNION ALL "))
    val total = counts.agg(sum(col("n")).as("__t"))
    val grid = spine.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        (coalesce(col("n"), lit(0L)).cast("double") /
          col("__t").cast("double")).as("obs_p"),
        col("exp_p"))
    val madRow = grid
      .withColumn("__g", floor(abs(col("obs_p") - col("exp_p"))
        * 1073741824.0 + 0.5).cast("decimal(38,0)"))
      .agg(((sum(col("__g")).cast("double") / 1073741824.0) / 9.0).as("mad"))
    grid.crossJoin(broadcast(madRow))
  }

  /** Full-precision double literal (round-trip exact): the shortest
    * repr Java prints re-parses to the identical double in ANY
    * engine's literal parser. */
  private def fullPrec(d: Double): String = {
    val s = d.toString
    require(s.toDouble == d, s"fullPrec: $s does not round-trip")
    s
  }

  /** Per-stratum [[benford]]: one audit row set per key (per source,
    * per supplier, per ingestion batch) — the slice where fabricated
    * or unit-bugged data actually hides when the corpus-level digits
    * still conform. Same integral-input contract, 9·|keys|-bounded
    * aggregation, plan-time expected-share literals, and fixed-point
    * per-key MAD. Output: (key, digit, n, obs_p, exp_p, mad). */
  def benfordBy(df: DataFrame, key: String, x: Column): DataFrame = {
    val digits = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))
    val v = x.cast("long")
    val counts = df.filter(v > 0)
      .select(col(key),
        substring(v.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(key, "digit").agg(count(lit(1)).as("n"))
    val digitRows = digits.map { case (d, e) =>
      s"SELECT $d AS digit, CAST(${fullPrec(e)} AS DOUBLE) AS exp_p" }
    val dspine = df.sparkSession.sql(digitRows.mkString(" UNION ALL "))
    val spine = counts.select(col(key)).distinct().crossJoin(broadcast(dspine))
    val totals = counts.groupBy(key).agg(sum(col("n")).as("__t"))
    val grid = spine.join(counts, Seq(key, "digit"), "left")
      .join(totals, Seq(key))
      .select(col(key), col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        (coalesce(col("n"), lit(0L)).cast("double") /
          col("__t").cast("double")).as("obs_p"),
        col("exp_p"))
    val mads = grid
      .withColumn("__g", floor(abs(col("obs_p") - col("exp_p"))
        * 1073741824.0 + 0.5).cast("decimal(38,0)"))
      .groupBy(key)
      .agg(((sum(col("__g")).cast("double") / 1073741824.0) / 9.0).as("mad"))
    grid.join(broadcast(mads), Seq(key))
      .select(key, "digit", "n", "obs_p", "exp_p", "mad")
  }

  /** Gini concentration of an integer weight across strata — the
    * corpus-composition audit number (how concentrated are tokens/docs
    * across domains or languages; 0 = perfectly even, →1 = one
    * stratum holds everything), i.e. the area read off the Lorenz
    * curve. ONE partial agg to stratum totals, then the classic
    * order-statistic identity G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx)
    * over strata ranked ascending (ties broken by stratum name — the
    * permutation is total, so every engine replays it). Ranks come
    * from the distributed rowid sort ([[graft.core.Tibble
    * .rowidToColumn]] — range-partitioned, never a single-partition
    * window), so the strata table may be as unbounded as URL hosts.
    * Sums are exact integers in decimal; the final expression is a
    * fixed shape of exact-to-double casts and single IEEE ops (exact
    * while n·Σx and Σ i·xᵢ sit under 2^53 — petabyte token totals
    * beyond that degrade in the last ulps, stated loudly here).
    * Output: one row (n_strata, total, gini). */
  /** Empirical-Bayes beta-binomial shrinkage of per-key rates
    * (Robbins 1956; the method-of-moments fit) — the "rank by
    * SHRUNKEN rate, not raw rate" read every curation leaderboard
    * needs: a 2/2 domain must not outrank a 480/1000 one. The Beta
    * prior is fit FROM THE CORPUS ITSELF by moments of the observed
    * per-key rates (m, v → α = m(m(1−m)/v − 1), β = (1−m)(…)), then
    * each key's posterior mean (x+α)/(n+α+β) pulls small-sample keys
    * toward the corpus mean exactly as hard as the evidence is thin.
    *
    * Exactness: per-key (x, n) are exact longs; each rate is ONE
    * division; the cross-key moment sums run in decimal(38,18) (the
    * entropy-sum discipline — deterministic rounding, order-free
    * sum), and the fit + posteriors are fixed IEEE chains. Degenerate
    * fits (v ≤ 0 or v ≥ m(1−m): under-dispersed — nothing to shrink
    * toward) publish NULL alpha/beta and the raw rate as posterior.
    * Shape: one keyed partial agg + one broadcast 1-row fit join.
    * Output (key, trials, successes, rate_raw, alpha, beta,
    * rate_shrunk). */
  def ebShrink(df: DataFrame, key: Column, success: Column): DataFrame = {
    def d2d(c: Column): Column = c.cast("string").cast("double")
    val Dec18 = "decimal(38,18)"
    val per = df.filter(key.isNotNull && success.isNotNull)
      .groupBy(key.cast("string").as("key"))
      .agg(count(lit(1)).as("trials"),
        sum(when(success.cast("boolean"), 1L).otherwise(0L)).as("successes"))
      .withColumn("rate_raw",
        col("successes").cast("double") / col("trials").cast("double"))
    val fit = per.agg(
        count(lit(1)).as("__k"),
        sum(col("rate_raw").cast(Dec18)).as("__s1"),
        sum((col("rate_raw") * col("rate_raw")).cast(Dec18)).as("__s2"))
      .select(col("__k"), d2d(col("__s1")).as("__s1d"),
        d2d(col("__s2")).as("__s2d"))
    val kD = col("__k").cast("double")
    val m = col("__s1d") / kD
    val v = col("__s2d") / kD - m * m
    val scale = m * (lit(1.0) - m) / v - lit(1.0)
    val ok = v > 0.0 && v < m * (lit(1.0) - m) && scale > 0.0
    val withFit = fit.select(
      when(ok, m * scale).as("alpha"),
      when(ok, (lit(1.0) - m) * scale).as("beta"))
    per.crossJoin(broadcast(withFit))
      .withColumn("rate_shrunk",
        when(col("alpha").isNotNull,
          (col("successes").cast("double") + col("alpha")) /
            (col("trials").cast("double") + col("alpha") + col("beta")))
          .otherwise(col("rate_raw")))
      .select("key", "trials", "successes", "rate_raw", "alpha", "beta",
        "rate_shrunk")
      .orderBy(col("key"))
  }

  /** Differentially-private count release via the GEOMETRIC mechanism
    * (Ghosh, Roughgarden & Sundararajan 2009 — the discrete Laplace,
    * the universally-optimal mechanism for counts) at ε = ln 2: each
    * per-key count is released as n + X with
    * P(X = k) ∝ 2^-|k| — the privacy leg beside the k-anonymity /
    * l-diversity / t-closeness profiles (90m family): those AUDIT
    * re-identification risk, this RELEASES a table with a proof.
    *
    * Noise is SEEDED from md5(key, salt) — deterministic and
    * replayable, the reproducible-pipeline form (splits/sampling use
    * the same convention); a production ε-DP release swaps the seed
    * for fresh entropy, everything else unchanged. The tail is
    * truncated at ±`bound` (default 20: residual mass (1/3)·2⁻²⁰ ≈
    * 3·10⁻⁷ folded into the extreme bins — documented bias, far
    * below the noise scale).
    *
    * Exactness: the inverse CDF runs on EXACT integers — u is the
    * first 64 md5 bits as two 32-bit halves, the geometric CDF
    * thresholds are rationals with denominator 3·2^j, and each CASE
    * arm compares 3·2^j·U against c·2^64 in decimal(38,0) — no
    * floating point anywhere until nothing (the release is integer).
    * The DuckDB oracle generates the identical CASE ladder.
    * Shape: ONE keyed partial agg + per-row integer ops on the
    * aggregate-sized table. Output (key, n_noisy). */
  def dpCounts(df: DataFrame, key: Column, salt: String,
               bound: Int = 20): DataFrame = {
    require(bound >= 4 && bound <= 20, s"dpCounts: bound in 4..20 (got $bound)")
    val Dec = "decimal(38,0)"
    val counts = df.filter(key.isNotNull)
      .groupBy(key.cast("string").as("key"))
      .agg(count(lit(1)).as("__n"))
    val h = md5(concat(col("key"), lit("|"), lit(salt)))
    val hi = conv(substring(h, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(h, 9, 8), 16, 10).cast("long")
    val u = (hi.cast(Dec) * lit(4294967296L).cast(Dec) + lo.cast(Dec))
      .cast(Dec)
    val two64 = lit("18446744073709551616").cast(Dec)
    // CASE ladder, ascending CDF: F(−m) ⇔ 3·2^(m−1)·U < 2^64;
    // F(k) ⇔ 3·2^k·U < (3·2^k − 1)·2^64
    var noise: Column = lit(bound) // else-branch: the clamped top bin
    val arms =
      (bound to 1 by -1).map(m => (lit(3L << (m - 1)).cast(Dec) * u <
        two64) -> lit(-m)) ++
      (0 until bound).map(k => (lit(3L << k).cast(Dec) * u <
        lit((3L << k) - 1L).cast(Dec) * two64) -> lit(k))
    noise = arms.foldRight(noise) { case ((cond, v), els) =>
      when(cond, v).otherwise(els)
    }
    counts.select(col("key"),
        (col("__n") + noise.cast("long")).as("n_noisy"))
      .orderBy(col("key"))
  }

  /** Simpson concentration / diversity of an integer weight across
    * strata — [[gini]]'s probabilistic sibling with an EFFECTIVE-
    * NUMBER reading (Hill number of order 2): λ = Σnᵢ²/N² is the
    * chance two sampled tokens share a stratum, the unbiased
    * (without-replacement) form is Σnᵢ(nᵢ−1)/(N(N−1)), and
    * eff_strata = N²/Σnᵢ² is "how many equally-sized strata would
    * look like this" — the one-number answer to "is this corpus
    * really 40 languages or 3 big ones plus a tail".
    *
    * Exactness: one keyed partial agg + one global agg of exact
    * decimal integers; each published number is ONE division of
    * string-bridged exact operands. Degenerate (N < 2) reads the
    * unbiased form NULL. Output (1 row): n_strata, total, lambda,
    * simpson_unbiased, eff_strata. */
  def simpson(df: DataFrame, key: Column, weight: Column): DataFrame = {
    val Dec = "decimal(38,0)"
    def d2d(c: Column): Column = c.cast("string").cast("double")
    val per = df.filter(weight.isNotNull && key.isNotNull)
      .groupBy(key.cast("string").as("__k"))
      .agg(sum(weight.cast("long")).as("__n"))
    val a = per.agg(
      count(lit(1)).as("n_strata"),
      sum(col("__n")).as("total"),
      sum((col("__n").cast(Dec) * col("__n").cast(Dec)).cast(Dec))
        .cast(Dec).as("__s2"),
      sum((col("__n").cast(Dec) * (col("__n") - 1L).cast(Dec)).cast(Dec))
        .cast(Dec).as("__s11"))
    val nD = col("total").cast(Dec)
    a.select(col("n_strata"), col("total"),
      when(col("total") > 0L,
        d2d(col("__s2")) / d2d((nD * nD).cast(Dec))).as("lambda"),
      when(col("total") > 1L,
        d2d(col("__s11")) /
          d2d((nD * (nD - lit(1).cast(Dec))).cast(Dec))).as("simpson_unbiased"),
      when(col("__s2") > lit(0).cast(Dec),
        d2d((nD * nD).cast(Dec)) / d2d(col("__s2"))).as("eff_strata"))
  }

  def gini(df: DataFrame, key: Column, weight: Column): DataFrame = {
    val strata = df.groupBy(key.cast("string").as("stratum"))
      .agg(sum(weight.cast("long")).as("__x"))
      .filter(col("__x").isNotNull)
    val ranked = graft.core.Tibble.rowidToColumn(strata,
        Seq(col("__x").asc, col("stratum").asc), "__i0")
      .withColumn("__i", col("__i0").cast("decimal(38,0)"))
    ranked.agg(
      count(lit(1)).as("n_strata"),
      sum(col("__x")).cast("long").as("total"),
      sum(col("__i") * col("__x")).as("__s1"))
      .select(col("n_strata"), col("total"),
        when(col("n_strata") === 0L || col("total") <= 0L,
          lit(null).cast("double"))
          .otherwise(
            (lit(2.0) * col("__s1").cast("double")
              - (col("n_strata").cast("double") + lit(1.0))
                * col("total").cast("double"))
              / (col("n_strata").cast("double")
                * col("total").cast("double"))).as("gini"))
  }

  /** Mann–Kendall trend test (Mann 1945, Kendall 1975) per series key
    * — the distribution-free "is this monitor series actually
    * drifting" read that a raw top-k or a linear fit can't give:
    * S = Σ_{i<j} sign(y_j − y_i) over the time order, with the
    * tie-corrected variance var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
    * / 18 and the continuity-corrected normal score
    * z = (S∓1)/√var(S). |z| > 1.96 rejects "no trend" at 5%.
    *
    * CONTRACT: per-key series are BOUNDED (time-bucketed monitor
    * output — hours/days per type, not raw events) with DISTINCT
    * `t` per key; the pairwise self-join is O(m²) per key by
    * construction, the right cost for m in the hundreds and the wrong
    * tool beyond ~10k points per series. Everything is exact-integer
    * arithmetic until the final single-op sqrt/divide, so any engine
    * replays it. Output per key: (key, n, s_stat, var_s, z). */
  def mannKendall(df: DataFrame, key: Column, t: Column,
                  y: Column): DataFrame = {
    val d = df.filter(t.isNotNull && y.isNotNull)
      .select(key.cast("string").as("key"), t.cast("double").as("__t"),
        y.cast("double").as("__y"))
    val b = d.select(col("key").as("__k2"), col("__t").as("__t2"),
      col("__y").as("__y2"))
    val s = d.join(b, col("key") === col("__k2") && col("__t") < col("__t2"))
      .groupBy("key")
      .agg(sum(signum(col("__y2") - col("__y")).cast("long")).as("s_stat"))
    val ties = d.groupBy(col("key"), col("__y"))
      .agg(count(lit(1)).as("__tc"))
      .groupBy("key")
      .agg(count(lit(1)).as("__nv"),
        sum(col("__tc")).as("__n"),
        sum(col("__tc") * (col("__tc") - 1L) * (col("__tc") * 2L + 5L))
          .as("__tt"))
    val nn = col("__n")
    val varS = (nn * (nn - 1L) * (nn * 2L + 5L) - col("__tt"))
      .cast("double") / lit(18.0)
    ties.join(s, Seq("key"), "left")
      .select(col("key"), nn.as("n"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"), varS.as("var_s"),
        when(varS <= 0.0, lit(null).cast("double"))
          .otherwise(
            when(coalesce(col("s_stat"), lit(0L)) > 0L,
              (coalesce(col("s_stat"), lit(0L)) - 1L).cast("double")
                / sqrt(varS))
              .when(coalesce(col("s_stat"), lit(0L)) < 0L,
                (coalesce(col("s_stat"), lit(0L)) + 1L).cast("double")
                  / sqrt(varS))
              .otherwise(lit(0.0))).as("z"))
  }

  /** Theil–Sen robust trend line per series key (Theil 1950, Sen
    * 1968) — [[mannKendall]]'s estimator half: slope = median over
    * all pairs of (y_j − y_i)/(t_j − t_i), intercept = median over
    * points of (y − slope·t). Breakdown point 29% — a monitor series
    * with outlier spikes still reports the underlying drift rate a
    * least-squares fit would chase. Same BOUNDED-series O(m²)
    * contract as [[mannKendall]]; the median convention is explicit
    * (ascending order statistics, even count = single-op mean of the
    * two middle values) so any engine replays it; pair slopes are one
    * IEEE division of exact differences each. The order-statistic
    * windows partition BY KEY — never a single-partition whole-frame
    * sort. Output per key: (key, n, n_pairs, slope, intercept). */
  def theilSen(df: DataFrame, key: Column, t: Column,
               y: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = df.filter(t.isNotNull && y.isNotNull)
      .select(key.cast("string").as("key"), t.cast("double").as("__t"),
        y.cast("double").as("__y"))
    val b = d.select(col("key").as("__k2"), col("__t").as("__t2"),
      col("__y").as("__y2"))
    val pairs = d
      .join(b, col("key") === col("__k2") && col("__t") < col("__t2"))
      .select(col("key"),
        ((col("__y2") - col("__y")) / (col("__t2") - col("__t")))
          .as("__slope"))
    def medianBy(in: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy("key").orderBy(col(v))
      val ranked = in.withColumn("__rn", row_number().over(w))
        .withColumn("__m", count(lit(1)).over(Window.partitionBy("key")))
      // integer order-statistic positions (Spark `/` on longs is TRUE
      // division — floor keeps lo/hi integral): odd m → one middle
      // row, even m → the two middles
      val lo = floor((col("__m") + 1L).cast("double") / 2.0)
      val hi = floor(col("__m").cast("double") / 2.0) + 1.0
      ranked
        .filter(col("__rn") === lo || col("__rn") === hi)
        .groupBy("key")
        .agg((sum(col(v)) / count(lit(1)).cast("double")).as(out),
          max(col("__m")).as(s"__n_$out"))
    }
    val slope = medianBy(pairs, "__slope", "slope")
    val resid = d.join(slope.select(col("key"), col("slope")), Seq("key"))
      .select(col("key"),
        (col("__y") - col("slope") * col("__t")).as("__r"))
    val intercept = medianBy(resid, "__r", "intercept")
    d.groupBy("key").agg(count(lit(1)).as("n"))
      .join(slope, Seq("key"), "left")
      .join(intercept.select(col("key"), col("intercept")), Seq("key"), "left")
      .select(col("key"), col("n"),
        coalesce(col("__n_slope"), lit(0L)).as("n_pairs"),
        col("slope"), col("intercept"))
  }

  /** Spearman rank correlation between two columns — the
    * scorer-agreement read (do two quality scores rank the corpus the
    * same way?) that Pearson can't give when either score is
    * nonlinear or heavy-tailed: ρ = Pearson over average ranks
    * (fractional ties, the standard convention). Scale shape: two
    * range-partitioned rowid sorts ([[graft.functions.SeqFns
    * .withRankAvg]] — never a single-partition window), then ONE
    * aggregate. Engine-exactness: average ranks are k or k+0.5, so
    * 2·rank is an exact integer; the five moment sums (ΣX, ΣY, ΣX²,
    * ΣY², ΣXY over X = 2rₓ, Y = 2r_y) accumulate in decimal(38,0) —
    * exact to corpora of ~10^12 rows (ΣX² ≤ 4n³) — and the closing
    * ρ = (nΣXY − ΣXΣY)/(√(nΣX² − (ΣX)²)·√(nΣY² − (ΣY)²)) is a fixed
    * shape of decimal→double casts and single IEEE ops both engines
    * replay bit-for-bit. Constant columns (zero rank variance) yield
    * NULL. Output (1 row): n, rho. */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    val d = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("__x"), y.as("__y"))
    val rx = graft.functions.SeqFns.withRankAvg(d, col("__x"), "__rx")
    val rxy = graft.functions.SeqFns.withRankAvg(rx, col("__y"), "__ry")
    val dec = "decimal(38,0)"
    val xx = (col("__rx") * 2.0).cast(dec)
    val yy = (col("__ry") * 2.0).cast(dec)
    val agg = rxy.agg(count(lit(1)).as("n"),
      sum(xx).as("__sx"), sum(yy).as("__sy"),
      sum(xx * xx).as("__sxx"), sum(yy * yy).as("__syy"),
      sum(xx * yy).as("__sxy"))
    spearmanClose(agg, Seq.empty)
  }

  /** Per-stratum Spearman — [[spearman]] keyed by language/source:
    * does scorer agreement hold on EVERY slice, or only on the
    * majority one the corpus number is dominated by? Ranks within
    * each key come from [[graft.functions.SeqFns.withRankAvgBy]]
    * (one range-partitioned rowid sort per rank column — never a
    * per-key window partition), then ONE keyed aggregate per the
    * [[spearman]] recipe. Output per key: (key, n, rho). */
  def spearmanBy(df: DataFrame, key: Column, x: Column,
                 y: Column): DataFrame = {
    val d = df.filter(x.isNotNull && y.isNotNull && key.isNotNull)
      .select(key.cast("string").as("key"), x.as("__x"), y.as("__y"))
    val rx = graft.functions.SeqFns.withRankAvgBy(d, col("key"),
      col("__x"), "__rx")
    val rxy = graft.functions.SeqFns.withRankAvgBy(rx, col("key"),
      col("__y"), "__ry")
    val dec = "decimal(38,0)"
    val xx = (col("__rx") * 2.0).cast(dec)
    val yy = (col("__ry") * 2.0).cast(dec)
    val agg = rxy.groupBy("key").agg(count(lit(1)).as("n"),
      sum(xx).as("__sx"), sum(yy).as("__sy"),
      sum(xx * xx).as("__sxx"), sum(yy * yy).as("__syy"),
      sum(xx * yy).as("__sxy"))
    spearmanClose(agg, Seq(col("key")))
  }

  /** Quadratic-weighted Cohen's kappa over INTEGER ordinal labels —
    * the agreement read for graded judgments (quality 0–4, harm
    * severity bands) where [[cohenKappa]]'s all-or-nothing cell
    * treats "4 vs 3" as disagreeing exactly as much as "4 vs 0":
    * κ_w = 1 − Σ(i−j)²·o_ij · n / Σ(i−j)²·r_i·c_j (Cohen 1968, the
    * reported statistic of ordinal labeling jobs). Topology: ONE
    * corpus-scan partial agg to the k²-bounded cell table, marginals
    * and the expected-weight cross product over k-bounded frames —
    * everything after the first agg is driver-trivial. Quadratic
    * weights and counts are exact integers; O·n and E multiply in
    * decimal(38,0) (exact to ~10^12 rows × k ≤ 100) and meet in ONE
    * double division. Constant-label margins (E = 0) read NULL.
    * Output (1 row): n, o_w, e_w, kappa_w. */
  def weightedKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.filter(a.isNotNull && b.isNotNull)
      .select(a.cast("long").as("__a"), b.cast("long").as("__b"))
    val o = d.groupBy("__a", "__b").agg(count(lit(1)).as("__o"))
    def w(i: Column, j: Column): Column = ((i - j) * (i - j)).cast(dec)
    val obs = o.agg(
      sum(w(col("__a"), col("__b")) * col("__o").cast(dec)).as("__O"),
      sum(col("__o")).cast("long").as("n"))
    val ra = o.groupBy("__a").agg(sum(col("__o")).as("__ra"))
    val cb = o.groupBy("__b").agg(sum(col("__o")).as("__cb"))
    val exp = ra.crossJoin(cb).agg(
      sum(w(col("__a"), col("__b")) * col("__ra").cast(dec)
        * col("__cb").cast(dec)).as("__E"))
    obs.crossJoin(exp).select(col("n"),
      col("__O").cast("double").as("o_w"),
      // E is per-PAIR expectation times n (the n·Σw·r·c/n² identity
      // folded): report it n-normalized so o_w and e_w compare
      (col("__E").cast("double") / col("n").cast("double")).as("e_w"),
      when(col("__E").isNull || col("__E") === 0.0 || col("n") === 0L,
        lit(null).cast("double"))
        .otherwise(lit(1.0)
          - (col("__O") * col("n").cast(dec)).cast("double")
            / col("__E").cast("double")).as("kappa_w"))
  }

  /** The shared closing shape of [[spearman]]/[[spearmanBy]]: the
    * fixed decimal→double casts and single IEEE ops both engines
    * replay bit-for-bit. */
  private def spearmanClose(agg: DataFrame, keyCols: Seq[Column]): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val nd = dbl(col("n"))
    val varX = nd * dbl(col("__sxx")) - dbl(col("__sx")) * dbl(col("__sx"))
    val varY = nd * dbl(col("__syy")) - dbl(col("__sy")) * dbl(col("__sy"))
    agg.select(keyCols ++ Seq(col("n"),
      when(col("n") === 0L || varX <= 0.0 || varY <= 0.0,
        lit(null).cast("double"))
        .otherwise(
          (nd * dbl(col("__sxy")) - dbl(col("__sx")) * dbl(col("__sy")))
            / (sqrt(varX) * sqrt(varY))).as("rho")): _*)
  }
}
