package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear (logistic-regression) document classifiers — the
  * quality-filter workhorse of LLM data pipelines: GPT-3 filtered
  * CommonCrawl with a linear classifier over quality features,
  * LLaMA/CCNet score pages with fastText linear models, and DCLM's
  * strongest single lever is exactly this shape. The model is tiny
  * (dims+1 doubles) while the corpus is 100 TB, so the right
  * distributed topology is the [[Similarity.kmeansLloyd]] /
  * topPrincipalDirection round-trip pattern: weights live on the
  * driver between iterations, each iteration is ONE aggregate scan
  * producing dims+1 fixed-point gradient sums, and scoring is a pure
  * codegen projection with the weights inlined as literals — zero
  * shuffle anywhere (the gradient agg moves #partitions × (dims+1)
  * Longs).
  *
  * Engine-exactness. Gradient descent needs a sigmoid, and libm
  * `exp` is NOT bit-identical across engines (measured: ~0.3% of
  * inputs differ in the last ulp between the JVM and DuckDB — enough
  * to diverge a hash-compared training run). fastText solves the
  * adjacent precision/speed problem with a 512-entry sigmoid lookup
  * table; the same device makes training engine-EXACT here: the
  * table is computed once on the driver and inlined as 513 double
  * literals (both engines parse decimal literals correctly rounded,
  * so the values are bit-identical), the index
  * floor((z+8)·32) clamped to [0,512] is plain IEEE arithmetic, and
  * every other step follows the repo's fixed-point recipes — margins
  * and gradients accumulate as floor(t·2^30+0.5) Long sums
  * (order-invariant), the learning rate is restricted to powers of
  * two (exact scaling), and the driver's weight update is a fixed
  * left-assoc chain the SQL unrolling replays operation for
  * operation. Model semantics: plain full-batch gradient descent on
  * the logistic loss, ∇ = Σ x·(σ(w·x) − y)/n — with the table
  * standing in for σ exactly as in fastText's trainer.
  *
  * Magnitude contract: |x_j| ≲ 100 and |w_j| ≲ 100 keep the 2^30
  * grid sums far inside Long for corpora to ~10^9 rows; normalize
  * features to O(1) (the [[docQualityFeatures]] helper does).
  */
object Classifier {

  /** fastText-style sigmoid table: SigTableSize+1 knots over
    * [−MaxZ, +MaxZ]; σ(z) below/above the range clamps to the end
    * knots (fastText clamps to 0/1 — the end knots at z=±8 are within
    * 3.4e-4 of that, and staying ON the table keeps every scored
    * probability one of 513 shared literals). */
  val SigTableSize = 512
  val MaxZ = 8.0
  lazy val sigTable: Array[Double] = Array.tabulate(SigTableSize + 1) { i =>
    1.0 / (1.0 + math.exp(-(i.toDouble * 2.0 * MaxZ / SigTableSize - MaxZ)))
  }

  private val Scale = (1L << 30).toDouble
  private def fx(c: Column): Column = floor(c * lit(Scale) + lit(0.5)).cast("long")

  /** Table sigmoid of a margin column — pure arithmetic + one
    * element_at over the literal table; bit-identical anywhere. */
  def sigLookup(z: Column): Column = {
    val idx = least(greatest(
      floor((z + lit(MaxZ)) * lit(SigTableSize.toDouble / (2.0 * MaxZ))).cast("int"),
      lit(0)), lit(SigTableSize))
    element_at(array(sigTable.map(lit).toSeq: _*), idx + lit(1))
  }

  /** Margin z = bias + w·x on the 2^30 fixed-point grid: per-element
    * floor(x_j·w_j·2^30+0.5) Longs summed exactly, bias snapped the
    * same way, one division back to double. */
  private def margin(features: Column, w: Array[Double], bias: Double): Column = {
    val wLit = array(w.map(lit).toSeq: _*)
    val dot = aggregate(zip_with(features, wLit, (a, b) => fx(a * b)), lit(0L), _ + _)
    (dot + lit(math.floor(bias * Scale + 0.5).toLong)).cast("double") / lit(Scale)
  }

  /** Full-batch gradient-descent training of a binary logistic
    * model. `features` is an array<double> column of width `dims`;
    * `label` a 0/1 column. `lr` must be a power of two (exact
    * scaling — the [[Sampling.temperatureMix]] restriction). Weights
    * and bias start at 0 and round-trip the driver between the
    * `iters` aggregate scans. Returns (weights, bias). */
  def logisticTrainGD(df: DataFrame, features: String, label: String,
                      dims: Int, iters: Int, lr: Double): (Array[Double], Double) = {
    require(dims >= 1 && dims <= 4096,
      s"logisticTrainGD: dims=$dims outside the driver-roundtrip envelope")
    require(iters >= 1, s"logisticTrainGD: iters=$iters must be >= 1")
    val e = math.log(lr) / math.log(2.0)
    require(lr > 0 && e == math.rint(e),
      s"logisticTrainGD: lr=$lr must be a power of two (exact scaling)")
    var w = Array.fill(dims)(0.0)
    var b = 0.0
    val x = col(features).cast("array<double>")
    val y = col(label).cast("double")
    for (_ <- 1 to iters) {
      val resid = sigLookup(margin(x, w, b)) - y
      val aggs = (0 until dims).map(j =>
        sum(fx(resid * element_at(x, j + 1))).as(s"g$j")) :+
        sum(fx(resid)).as("gb") :+ count(lit(1)).as("n")
      val row = df.select(x.as(features), y.as(label))
        .agg(aggs.head, aggs.tail: _*).collect().head
      val n = row.getLong(dims + 1).toDouble
      // fixed left-assoc update chain, replayed verbatim by the oracle
      w = Array.tabulate(dims)(j => w(j) - lr * ((row.getLong(j).toDouble / Scale) / n))
      b = b - lr * ((row.getLong(dims).toDouble / Scale) / n)
    }
    (w, b)
  }

  /** Trained weights as a (dim, weight) frame — dim −1 is the bias. */
  def logisticWeights(df: DataFrame, features: String, label: String,
                      dims: Int, iters: Int, lr: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (w, b) = logisticTrainGD(df, features, label, dims, iters, lr)
    ((-1, b) +: w.toIndexedSeq.zipWithIndex.map { case (x, j) => (j, x) })
      .toDF("dim", "weight")
  }

  /** Score a frame with a trained model: adds `prob` (the table
    * sigmoid of the margin — one of 513 shared literal doubles) and
    * `keep` (prob ≥ ½). Pure projection, weights inlined as
    * literals — no shuffle, no join, scales to any corpus. */
  def logisticScore(df: DataFrame, features: String,
                    w: Array[Double], bias: Double): DataFrame = {
    val prob = sigLookup(margin(col(features).cast("array<double>"), w, bias))
    df.withColumn("prob", prob)
      .withColumn("keep", col("prob") >= lit(0.5))
  }

  /** Engine-replayable quality features over a text column, O(1)
    * scale, all identical-by-construction cross-engine (character
    * counts + one IEEE division each): document length, whitespace
    * density, a–m letter mass (alphabet balance), and
    * " the "-occurrence count (the classic one-stopword fluency
    * signal — deleted-length difference over the 5-char literal).
    * Returns an array<double> of width 4. */
  def docQualityFeatures(text: Column): Column = array(
    length(text).cast("double") / lit(1024.0),
    (length(text) - length(regexp_replace(text, " ", ""))).cast("double") / lit(128.0),
    (length(text) - length(regexp_replace(text, "[a-m]", ""))).cast("double") / lit(256.0),
    (length(text) - length(regexp_replace(text, " the ", ""))).cast("double") / lit(40.0))

  /** Exact ROC AUC of a score against a boolean label, Mann–Whitney
    * form: AUC = (Σ_pos avgRank − nPos(nPos+1)/2) / (nPos·nNeg) with
    * average ranks for ties (the standard probabilistic reading:
    * P(score_pos > score_neg) + ½P(tie)). The one-number read on
    * whether a quality score actually separates good from bad docs —
    * threshold-free, so it compares scorers BEFORE anyone picks a
    * cutoff.
    *
    * Scale shape: ranks come from the distributed rowid sort
    * ([[graft.functions.SeqFns.withRankAvg]] — range-partitioned sort
    * + per-partition offsets, tie adjustment over the per-VALUE
    * window; never a global single-partition window), then ONE
    * aggregate builds the U statistic. The rank sum accumulates in
    * exact decimal (ranks are k or k+0.5 — representable at scale 6)
    * so the statistic is partitioning-invariant and engine-exact;
    * the final two divisions are fixed-order IEEE. NULL scores or
    * labels are excluded. Degenerate corpora (one class absent)
    * return NULL auc rather than 0/0.
    * Output (1 row): n_pos, n_neg, auc. */
  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    val d = df.filter(score.isNotNull && label.isNotNull)
      .select(score.as("__s"), label.as("__y"))
    val ranked = graft.functions.SeqFns.withRankAvg(d, col("__s"), "__r")
    val agg = ranked.agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("__y"), 0L).otherwise(1L)).as("n_neg"),
      graft.functions.Exact.dsum(when(col("__y"), col("__r"))
        .otherwise(lit(null))).as("__srp"))
    val nP = col("n_pos").cast("double")
    val nN = col("n_neg").cast("double")
    agg.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null))
        .otherwise((col("__srp") - nP * (nP + 1.0) / 2.0) / (nP * nN))
        .as("auc"))
  }

  /** [[rocAuc]] with the Hanley–McNeil (1982) standard error and a
    * normal confidence interval — the "is this scorer actually better
    * than that one" read: two AUCs 0.91 vs 0.89 mean nothing until
    * the intervals say whether 0.02 clears the noise. SE² = (A(1−A)
    * + (nP−1)(Q₁−A²) + (nN−1)(Q₂−A²)) / (nP·nN) with Q₁ = A/(2−A),
    * Q₂ = 2A²/(1+A) — a fixed shape of single IEEE ops off the
    * already-exact AUC, so the whole row replays engine-identically;
    * z defaults to the two-sided 95% literal. Same topology as
    * [[rocAuc]] (one rowid sort + one aggregate). Output (1 row):
    * n_pos, n_neg, auc, se, lo, hi. */
  def rocAucCi(df: DataFrame, score: Column, label: Column,
               z: Double = 1.959963984540054): DataFrame = {
    val base = rocAuc(df, score, label)
    val a = col("auc")
    val nP = col("n_pos").cast("double")
    val nN = col("n_neg").cast("double")
    val q1 = a / (lit(2.0) - a)
    val q2 = a * a * 2.0 / (a + 1.0)
    val se = sqrt((a * (lit(1.0) - a) + (nP - 1.0) * (q1 - a * a)
      + (nN - 1.0) * (q2 - a * a)) / (nP * nN))
    base.select(col("n_pos"), col("n_neg"), a,
      se.as("se"), (a - se * z).as("lo"), (a + se * z).as("hi"))
  }

  /** DeLong's paired test for TWO scorers' AUCs over the SAME corpus
    * (DeLong, DeLong & Clarke-Pearson 1988, in the Sun & Xu 2014
    * midrank formulation) — the rigorous "is scorer A actually better
    * than B" answer [[rocAucCi]]'s independent intervals can't give:
    * the two AUCs share every document, so the test needs their
    * COVARIANCE. Structural components come from the midrank
    * identity: for a positive i, V10ᵢ = (Rᵢ − Rpᵢ)/n_neg (overall
    * midrank minus within-positive midrank), and symmetrically V01
    * for negatives; var(Â₁−Â₂) = (s10_AA + s10_BB − 2·s10_AB)/n_pos
    * + (s01_AA + s01_BB − 2·s01_AB)/n_neg with s = sample
    * (co)variances of the V vectors; z = (Â₁−Â₂)/√var.
    *
    * Scale shape: FOUR range-partitioned rowid sorts (overall and
    * within-class midranks for each scorer — [[graft.functions
    * .SeqFns.withRankAvg]]/[[graft.functions.SeqFns.withRankAvgBy]],
    * never a single-partition window) then ONE aggregate. Midrank
    * differences double to exact integers, so the ten moment sums
    * accumulate in decimal(38,0); the closing (co)variances and z are
    * one fixed shape of decimal→double casts and single IEEE ops both
    * engines replay. Degenerate inputs (a missing class, n_pos/n_neg
    * < 2, zero variance) read NULL z. Output (1 row): n_pos, n_neg,
    * auc_a, auc_b, delta, var_delta, z. */
  def delongTest(df: DataFrame, scoreA: Column, scoreB: Column,
                 label: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.filter(scoreA.isNotNull && scoreB.isNotNull && label.isNotNull)
      .select(scoreA.as("__a"), scoreB.as("__b"),
        label.cast("boolean").as("__y"))
    val r1 = graft.functions.SeqFns.withRankAvg(d, col("__a"), "__ra")
    val r2 = graft.functions.SeqFns.withRankAvg(r1, col("__b"), "__rb")
    val r3 = graft.functions.SeqFns.withRankAvgBy(r2, col("__y"),
      col("__a"), "__rca")
    val r4 = graft.functions.SeqFns.withRankAvgBy(r3, col("__y"),
      col("__b"), "__rcb")
    // 2·(overall midrank − within-class midrank): exact integers
    val xa = ((col("__ra") - col("__rca")) * 2.0).cast(dec)
    val xb = ((col("__rb") - col("__rcb")) * 2.0).cast(dec)
    def sums(cls: Column, tag: String) = Seq(
      sum(when(cls, xa)).as(s"__sa$tag"),
      sum(when(cls, xb)).as(s"__sb$tag"),
      sum(when(cls, xa * xa)).as(s"__saa$tag"),
      sum(when(cls, xb * xb)).as(s"__sbb$tag"),
      sum(when(cls, xa * xb)).as(s"__sab$tag"))
    val agg = r4.agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
      (sums(col("__y"), "p") ++ sums(!col("__y"), "n") :+
        sum(when(!col("__y"), 1L).otherwise(0L)).as("n_neg")): _*)
    def dbl(c: Column): Column = c.cast("double")
    val nP = dbl(col("n_pos")); val nN = dbl(col("n_neg"))
    // AUC from the positive-side sum: Σ(R−Rp) over positives = U
    val aucA = dbl(col("__sap")) / 2.0 / (nP * nN)
    val aucB = dbl(col("__sbp")) / 2.0 / (nP * nN)
    // sample (co)variance of the V10/V01 vectors from the 2-scaled
    // sums: s = (Σxy/4 − (Σx/2)(Σy/2)/m) / (m−1) / denom²
    def s10(sxy: Column, sx: Column, sy: Column): Column =
      (dbl(sxy) / 4.0 - (dbl(sx) / 2.0) * (dbl(sy) / 2.0) / nP) /
        (nP - 1.0) / (nN * nN)
    def s01(sxy: Column, sx: Column, sy: Column): Column =
      (dbl(sxy) / 4.0 - (dbl(sx) / 2.0) * (dbl(sy) / 2.0) / nN) /
        (nN - 1.0) / (nP * nP)
    val varD =
      (s10(col("__saap"), col("__sap"), col("__sap"))
        + s10(col("__sbbp"), col("__sbp"), col("__sbp"))
        - s10(col("__sabp"), col("__sap"), col("__sbp")) * 2.0) / nP +
      (s01(col("__saan"), col("__san"), col("__san"))
        + s01(col("__sbbn"), col("__sbn"), col("__sbn"))
        - s01(col("__sabn"), col("__san"), col("__sbn")) * 2.0) / nN
    val degenerate = col("n_pos") < 2L || col("n_neg") < 2L
    agg.select(col("n_pos"), col("n_neg"),
      when(degenerate, lit(null).cast("double")).otherwise(aucA).as("auc_a"),
      when(degenerate, lit(null).cast("double")).otherwise(aucB).as("auc_b"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(aucA - aucB).as("delta"),
      when(degenerate, lit(null).cast("double")).otherwise(varD)
        .as("var_delta"),
      when(degenerate || varD <= 0.0, lit(null).cast("double"))
        .otherwise((aucA - aucB) / sqrt(varD)).as("z"))
  }

  /** Cumulative gains / lift table — the ranking-efficiency read of a
    * deployed scorer ("keeping the top decile captures 43% of the
    * good documents; random keeps 10%"): rows ranked by (score DESC,
    * tieBreak ASC — a total order, so bin membership is deterministic
    * under ties), split into k equal-population bins (bin 1 = top),
    * each reporting size, positives, cumulative capture of all
    * positives, lift vs the base rate, and the operating point a
    * "keep the top b bins" rule would run at (precision_at =
    * cum_pos/cum_n; its recall IS capture) — the threshold-picking
    * table. Scale shape: ONE range-partitioned rowid sort + one
    * k-bounded keyed agg; the cumulative window runs over the k-row
    * bin table. Counts exact; divisions exact-integer fixed shapes.
    * Output per bin: (bin, n, n_pos, cum_n, cum_pos, capture,
    * precision_at, lift). */
  def gainsTable(df: DataFrame, score: Column, label: Column,
                 tieBreak: Column, k: Int = 10): DataFrame = {
    require(k >= 2, s"gainsTable: k must be >= 2 (got $k)")
    val d = df.filter(score.isNotNull && label.isNotNull)
      .select(score.as("__s"), label.cast("boolean").as("__y"),
        tieBreak.as("__tb"))
    val ranked = graft.core.Tibble.rowidToColumn(d,
      Seq(col("__s").desc, col("__tb").asc), "__r")
    val tot = ranked.agg(count(lit(1)).as("__n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("__np"))
    // (r-1)*k and n stay far under 2^53, so the floor is exact in
    // both engines
    val bins = ranked.crossJoin(tot)
      .select((floor((col("__r") - 1L).cast("double") * k
        / col("__n").cast("double")) + 1.0).cast("long").as("bin"),
        col("__y"), col("__n"), col("__np"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        max(col("__n")).as("__n"), max(col("__np")).as("__np"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // the window runs over the k-row bin table — bounded by contract
    bins.withColumn("cum_pos", sum(col("n_pos")).over(w))
      .withColumn("cum_n", sum(col("n")).over(w))
      .select(col("bin"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        when(col("__np") === 0L, lit(null).cast("double"))
          .otherwise(col("cum_pos").cast("double")
            / col("__np").cast("double")).as("capture"),
        when(col("cum_n") === 0L, lit(null).cast("double"))
          .otherwise(col("cum_pos").cast("double")
            / col("cum_n").cast("double")).as("precision_at"),
        when(col("__np") === 0L || col("n") === 0L,
          lit(null).cast("double"))
          .otherwise((col("n_pos").cast("double") / col("n").cast("double"))
            / (col("__np").cast("double") / col("__n").cast("double")))
          .as("lift"))
      .orderBy("bin")
  }

  /** Per-stratum ROC AUC — [[rocAuc]] keyed by language/source/domain:
    * the fairness read of a quality filter (a corpus-level AUC of 0.9
    * can hide a stratum where the scorer is a coin flip, and that
    * stratum's documents are the ones a threshold then filters
    * blind). Ranks within each key come from [[graft.functions.SeqFns
    * .withRankAvgBy]] — ONE range-partitioned rowid sort for the
    * whole frame, never a per-key window partition (a 60%-of-corpus
    * stratum must not serialize through one task) — then ONE keyed
    * aggregate builds each stratum's U statistic with the decimal
    * rank sum. One-class strata read NULL. Output per key:
    * (key, n_pos, n_neg, auc). */
  def rocAucBy(df: DataFrame, key: Column, score: Column,
               label: Column): DataFrame = {
    val d = df.filter(score.isNotNull && label.isNotNull && key.isNotNull)
      .select(key.cast("string").as("key"), score.as("__s"),
        label.cast("boolean").as("__y"))
    val ranked = graft.functions.SeqFns.withRankAvgBy(d, col("key"),
      col("__s"), "__r")
    val agg = ranked.groupBy("key").agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("__y"), 0L).otherwise(1L)).as("n_neg"),
      graft.functions.Exact.dsum(when(col("__y"), col("__r"))
        .otherwise(lit(null))).as("__srp"))
    val nP = col("n_pos").cast("double")
    val nN = col("n_neg").cast("double")
    agg.select(col("key"), col("n_pos"), col("n_neg"),
      when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null))
        .otherwise((col("__srp") - nP * (nP + 1.0) / 2.0) / (nP * nN))
        .as("auc"))
  }

  /** Calibration reliability bins: equal-width bins over a [0,1]
    * probability, each reporting its size, mean predicted probability,
    * and empirical positive rate — the table behind a reliability
    * diagram and the ECE sum, i.e. whether "0.9" from the scorer
    * means 90%. ONE partial-agg scan; the bin id is a projection
    * (floor(p·k) clamped into [0, k−1]); means are exact-decimal sums
    * over exact counts with one IEEE division each. Scores outside
    * [0,1] are clamped into the edge bins by the same floor/clamp.
    * Output: (bin, p_lo, n, mean_p, pos_rate), bin-ordered. */
  def calibrationBins(df: DataFrame, prob: Column, label: Column,
                      k: Int = 10): DataFrame = {
    require(k >= 2, s"calibrationBins: k must be >= 2 (got $k)")
    val bin = least(greatest(floor(prob * lit(k)), lit(0.0)), lit(k - 1.0))
      .cast("int")
    df.filter(prob.isNotNull && label.isNotNull)
      .select(bin.as("bin"), prob.as("__p"), label.as("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        (graft.functions.Exact.dsum(col("__p"))
          / count(lit(1)).cast("double")).as("mean_p"),
        (sum(when(col("__y"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("pos_rate"))
      .withColumn("p_lo", col("bin").cast("double") / lit(k).cast("double"))
      .select(col("bin"), col("p_lo"), col("n"), col("mean_p"), col("pos_rate"))
  }

  /** Unbiased pass@k (Chen et al. 2021, the Codex/HumanEval
    * estimator) — THE reported metric of a code/eval pipeline: a task
    * with `n` samples of which `c` passed estimates
    * pass@k = 1 − C(n−c, k)/C(n, k) = 1 − Π_{i=0..k−1} (n−c−i)/(n−i),
    * the probability at least one of k draws (without replacement)
    * passes. Computed in the PRODUCT form with k plan-time factors —
    * exact-integer numerators/denominators divided per factor and
    * multiplied left-to-right, so any engine replays the identical
    * IEEE doubles (no lgamma, no libm lottery); a factor hitting 0
    * (c > n−k) collapses the product — pass@k = 1 exactly. Rows with
    * n < k are undefined (NULL), SQL-style rather than a throw: at
    * corpus scale one under-sampled task shouldn't kill the job.
    * Output: input columns + one `pass_at_<k>` per requested k. */
  def passAtK(df: DataFrame, n: Column, c: Column, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 1000),
      s"passAtK: ks must be within 1..1000 (got $ks)")
    val nn = n.cast("long"); val cc = c.cast("long")
    ks.foldLeft(df) { (acc, k) =>
      val prod = (0 until k).foldLeft(lit(1.0)) { (p, i) =>
        p * (greatest(nn - cc - lit(i.toLong), lit(0L)).cast("double")
          / (nn - lit(i.toLong)).cast("double"))
      }
      acc.withColumn(s"pass_at_$k",
        when(nn < k, lit(null).cast("double"))
          .otherwise(lit(1.0) - prod))
    }
  }

  /** The headline read over [[passAtK]] rows: mean pass@k across
    * tasks, per k — summed on the 2^-30 fixed-point grid so the
    * distributed mean is order-invariant and engine-replayable
    * (the psi/NDCG recipe). Tasks with NULL pass@k (n < k) are
    * excluded from that k's mean, SQL AVG semantics.
    * Output: one row: (n_tasks, mean_pass_at_<k>...). */
  def passAtKSummary(df: DataFrame, n: Column, c: Column,
                     ks: Seq[Int]): DataFrame = {
    val scored = passAtK(df, n, c, ks)
    val aggs = ks.map { k =>
      val v = col(s"pass_at_$k")
      (sum(when(v.isNotNull,
          floor(v * 1073741824.0 + 0.5).cast("decimal(38,0)")))
        .cast("double") / 1073741824.0
        / sum(when(v.isNotNull, 1L).otherwise(0L)).cast("double"))
        .as(s"mean_pass_at_$k")
    }
    scored.agg(count(lit(1)).as("n_tasks"), aggs: _*)
  }

  /** Order-invariant engine-exact sum on the 2^-40 fixed-point grid
    * (the psi/NDCG recipe one level finer): each term floors onto the
    * grid — floor of an IEEE double is EXACT in every engine, unlike
    * a double→DECIMAL cast, where Spark rounds the shortest string
    * repr and DuckDB the exact binary value (a 1-ulp lottery that
    * compounds across MM iterations) — and the integer sum is
    * association-free. Terms up to ~2^13 keep the scaled sum far
    * inside decimal(38,0). */
  private def gridSum40(c: Column): Column =
    (sum(floor(c * 1099511627776.0 + 0.5).cast("decimal(38,0)"))
      .cast("double") / 1099511627776.0)

  /** Bradley–Terry strength ratings from pairwise preference matches
    * (the arena-eval read: which model/doc/config wins head-to-heads)
    * by Hunter's 2004 MM algorithm at a FIXED iteration count:
    * π_i ← W_i / Σ_j n_ij/(π_i+π_j), renormalized to mean 1 each
    * round. Engine-exact by the PageRank recipe — per-pair divisions
    * are single IEEE ops, the per-item and normalization sums run on
    * the 2^-40 fixed-point grid, so the oracle replays every iteration as an
    * unrolled CTE. A zero-win item's rating is exactly 0 from round 1
    * on (the MLE boundary — its true rating is −∞; regularize
    * upstream with pseudo-matches if that item must stay rankable).
    *
    * Scale shape: state is items-sized; each iteration is one join of
    * the DISTINCT-pair total table against the ratings on both
    * endpoints + one item-keyed partial agg — pair-table-sized work,
    * never matches-sized after the first groupBy, never all-pairs.
    * Output: (item, wins, n_matches, rating), rating mean-1
    * normalized. */
  def bradleyTerry(matches: DataFrame, winner: String, loser: String,
                   iters: Int = 10): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"bradleyTerry: iters=$iters out of the unroll range [1,20]")
    val m = matches.select(col(winner).cast("string").as("__w"),
      col(loser).cast("string").as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
    val wins = m.groupBy(col("__w").as("item"))
      .agg(count(lit(1)).cast("double").as("__W"))
    // n_ab = matches between a and b, materialized symmetrically (one
    // row per DIRECTED pair) so each iteration joins ratings by key
    val pairs = m.select(col("__w").as("a"), col("__l").as("b"))
      .unionByName(m.select(col("__l").as("a"), col("__w").as("b")))
      .groupBy("a", "b").agg(count(lit(1)).cast("double").as("__n"))
    // lineage discipline (the dedupClusters pattern): each round adds
    // two joins + a crossJoin on top of the last — uncheckpointed,
    // Catalyst re-analyzes an exponentially growing tree and 15
    // rounds never finish planning. Pair table and per-round ratings
    // are materialized; state is items-sized, pairs pair-sized.
    val pairsM = Materialize.cp(pairs)
    val items = pairsM.select(col("a").as("item")).distinct()
    val base = Materialize.cp(items.join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("__W"), lit(0.0)).as("__W")))
    var r = base.withColumn("rating", lit(1.0))
    for (_ <- 1 to iters) {
      val denom = pairsM
        .join(r.select(col("item").as("a"), col("rating").as("__ra")), "a")
        .join(r.select(col("item").as("b"), col("rating").as("__rb")), "b")
        .groupBy(col("a").as("item"))
        .agg(gridSum40(col("__n") / (col("__ra") + col("__rb"))).as("__den"))
      val unnorm = r.drop("rating").join(denom, Seq("item"))
        .select(col("item"), col("__W"),
          when(col("__den") > 0.0, col("__W") / col("__den"))
            .otherwise(lit(0.0)).as("rating"))
      val tot = unnorm.agg(gridSum40(col("rating")).as("__t"),
        count(lit(1)).cast("double").as("__c"))
      r = Materialize.cp(unnorm.crossJoin(broadcast(tot))
        .select(col("item"), col("__W"),
          (col("rating") * col("__c") / col("__t")).as("rating")))
    }
    val nTot = pairsM.groupBy(col("a").as("item"))
      .agg(sum(col("__n")).cast("long").as("n_matches"))
    r.join(nTot, Seq("item"))
      .select(col("item"), col("__W").cast("long").as("wins"),
        col("n_matches"), col("rating"))
  }

  /** Plackett–Luce strength ratings from LISTWISE rankings (Hunter
    * 2004 MM, §3) — Bradley–Terry's generalization from pairwise
    * matches to full ranked lists (the listwise judge-eval read: a
    * panel ranks J candidates per prompt; what are the global
    * strengths?). Model: a ranking is a sequence of choices, each
    * picking the winner from the remaining suffix with probability
    * γ_i/Σ_suffix γ. MM update at a FIXED iteration count:
    * γ_i ← W_i / D_i with W_i = #rankings where i is not last (i "won"
    * its stage) and D_i = Σ_rankings Σ_{stages p ≤ pos_i, p < J}
    * 1/S_{r,p}, S_{r,p} the rating sum over the stage-p suffix;
    * renormalized to mean 1 each round. With J = 2 this IS
    * [[bradleyTerry]] — the spec pins the two bit-identical.
    *
    * Scale shape: each iteration is one join of the rankings table to
    * the items-sized ratings, a suffix-sum and a prefix-sum window
    * per ranking group (bounded by the list length), and one keyed
    * partial agg; per-round frames are checkpointed (the BT lineage
    * discipline). Engine-exact: within-group window sums run in
    * declared pos order, cross-ranking sums on the 2^-40 grid
    * ([[gridSum40]]), divisions are per-row IEEE.
    *
    * Input: one row per (group, item, pos) with pos 1..J_group and
    * distinct items per group. Output: (item, n_rankings, wins,
    * rating). */
  def plackettLuce(rankings: DataFrame, group: String, item: String,
                   pos: String, iters: Int = 10): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"plackettLuce: iters=$iters out of the unroll range [1,20]")
    import org.apache.spark.sql.expressions.Window
    val rk0 = rankings.select(col(group).cast("string").as("__g"),
        col(item).cast("string").as("__i"), col(pos).cast("long").as("__p"))
      .filter(col("__g").isNotNull && col("__i").isNotNull && col("__p").isNotNull)
    val byG = Window.partitionBy("__g")
    val rk = Materialize.cp(rk0.withColumn("__mx", max("__p").over(byG)))
    val wins = rk.filter(col("__p") < col("__mx"))
      .groupBy(col("__i").as("item")).agg(count(lit(1)).cast("double").as("__W"))
    val items = rk.select(col("__i").as("item")).distinct()
    val base = Materialize.cp(items.join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("__W"), lit(0.0)).as("__W")))
    val suffix = byG.orderBy(col("__p").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefix = byG.orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var r = base.withColumn("rating", lit(1.0))
    for (_ <- 1 to iters) {
      val scored = rk.join(r.select(col("item").as("__i"), col("rating")), "__i")
        .withColumn("__s", sum("rating").over(suffix))
        // the last stage (a single remaining item) makes no choice
        .withColumn("__term", when(col("__p") === col("__mx"), lit(0.0))
          .otherwise(lit(1.0) / col("__s")))
        .withColumn("__c", sum("__term").over(prefix))
      val denom = scored.groupBy(col("__i").as("item"))
        .agg(gridSum40(col("__c")).as("__den"))
      val unnorm = r.drop("rating").join(denom, Seq("item"))
        .select(col("item"), col("__W"),
          when(col("__den") > 0.0, col("__W") / col("__den"))
            .otherwise(lit(0.0)).as("rating"))
      val tot = unnorm.agg(gridSum40(col("rating")).as("__t"),
        count(lit(1)).cast("double").as("__c"))
      r = Materialize.cp(unnorm.crossJoin(broadcast(tot))
        .select(col("item"), col("__W"),
          (col("rating") * col("__c") / col("__t")).as("rating")))
    }
    val nTot = rk.groupBy(col("__i").as("item"))
      .agg(count(lit(1)).as("n_rankings"))
    r.join(nTot, Seq("item"))
      .select(col("item"), col("n_rankings"),
        col("__W").cast("long").as("wins"), col("rating"))
  }

  /** Average precision (the area under the precision-recall curve in
    * its standard step-function reading) — ROC-AUC's complement for
    * the imbalanced regimes a quality filter lives in (1% positives:
    * ROC-AUC saturates near 1 while AP still discriminates).
    * AP = (1/P) Σ_{positives} precision@rank, ranks by (score DESC,
    * tieBreak ASC) — the tiebreak column (a doc id) makes the
    * permutation total, so the metric is deterministic under ties and
    * any engine replays it. Scale shape: ONE fused range-partitioned
    * prefix scan ([[graft.functions.ScanFns.withCumulatives]] — the
    * d_cum_u topology, no single-partition window) carries running
    * positives and running rank; per-row precision is one IEEE
    * division of exact integers; the positives-only mean runs on the
    * 2^-40 fixed-point grid, order-invariant. NULL AP when no
    * positives. Output: one row (n, n_pos, ap). */
  def averagePrecision(df: DataFrame, score: Column, label: Column,
                       tieBreak: Column): DataFrame = {
    val d = df.filter(score.isNotNull && label.isNotNull)
      .select(score.as("__s"), label.cast("boolean").as("__y"),
        tieBreak.as("__tb"))
    val scanned = graft.functions.ScanFns.withCumulatives(d, Seq(
      (when(col("__y"), 1.0).otherwise(0.0),
        graft.functions.ScanFns.SumOp, "__cp"),
      (lit(1.0), graft.functions.ScanFns.SumOp, "__rn")),
      Seq(col("__s").desc, col("__tb")))
    scanned.agg(
      count(lit(1)).as("n"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
      gridSum40(when(col("__y"), col("__cp") / col("__rn"))
        .otherwise(lit(null))).as("__sp"))
      .select(col("n"), col("n_pos"),
        when(col("n_pos") === 0L, lit(null).cast("double"))
          .otherwise(col("__sp") / col("n_pos").cast("double")).as("ap"))
  }

  /** Expected calibration error over [[calibrationBins]]:
    * ECE = Σ_b (n_b/N)·|pos_rate_b − mean_p_b|, plus the max per-bin
    * gap (MCE). The one-number read behind the reliability diagram —
    * the gate a "keep if p ≥ 0.9" curation rule needs before trusting
    * its threshold. Bin terms are exact-count divisions and one
    * absolute difference each; the k-bin weighted sum runs on the
    * 2^-40 grid (bins are few, but partial-agg order must still not
    * leak into the hash gate). Output: one row (n, ece, max_ce). */
  def expectedCalibrationError(df: DataFrame, prob: Column, label: Column,
                               k: Int = 10): DataFrame = {
    val bins = calibrationBins(df, prob, label, k)
    val gap = abs(col("pos_rate") - col("mean_p"))
    bins.agg(sum(col("n")).as("n"),
      gridSum40(col("n").cast("double") * gap).as("__sg"),
      max(gap).as("max_ce"))
      .select(col("n"),
        (col("__sg") / col("n").cast("double")).as("ece"), col("max_ce"))
  }

  /** Histogram-binning calibration (Zadrozny & Elkan 2001) — the
    * REMEDIATION half of the [[expectedCalibrationError]] audit, the
    * way [[graft.ops.TextAnalysis]] pairs the mojibake audit with its
    * fix: FIT a per-bin empirical positive rate on one split, APPLY
    * it as the calibrated probability to the other. The fitted table
    * is ≤ k rows by construction, so at 100 TB this is two partial-agg
    * scans joined on the tiny bin key — the fact table never shuffles
    * beyond its bin aggregation, and the "model" broadcasts anywhere.
    * Engine-exactness: calibrated rates are single divisions of exact
    * longs; mean scores ride the decimal-sum grid; the before/after
    * gaps are one subtraction of already-exact doubles. Output, one
    * row per bin seen in the APPLY split: bin, n_fit, calib_p (the
    * fitted rate; NULL when the fit split never saw the bin — the
    * honest "model has no opinion" read), n_apply, mean_p_apply,
    * apply_rate, gap_before (|apply_rate − mean_p_apply|), gap_after
    * (|apply_rate − calib_p|). A calibration that works shows
    * gap_after ≪ gap_before on the held-out split. */
  def histogramCalibration(fit: DataFrame, applyTo: DataFrame,
                           prob: Column, label: Column,
                           k: Int = 10): DataFrame = {
    require(k >= 2, s"histogramCalibration: k must be >= 2 (got $k)")
    val bin = least(greatest(floor(prob * lit(k)), lit(0.0)), lit(k - 1.0))
      .cast("int")
    val fitted = fit.filter(prob.isNotNull && label.isNotNull)
      .select(bin.as("bin"), label.as("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_fit"),
        (sum(when(col("__y"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("calib_p"))
    val applied = applyTo.filter(prob.isNotNull && label.isNotNull)
      .select(bin.as("bin"), prob.as("__p"), label.as("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_apply"),
        (graft.functions.Exact.dsum(col("__p"))
          / count(lit(1)).cast("double")).as("mean_p_apply"),
        (sum(when(col("__y"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("apply_rate"))
    applied.join(broadcast(fitted), Seq("bin"), "left")
      .select(col("bin"), col("n_fit"), col("calib_p"), col("n_apply"),
        col("mean_p_apply"), col("apply_rate"),
        abs(col("apply_rate") - col("mean_p_apply")).as("gap_before"),
        abs(col("apply_rate") - col("calib_p")).as("gap_after"))
  }

  /** McNemar's paired test (McNemar 1947, continuity-corrected) — the
    * DECISION-level sibling of [[delongTest]]: two deployed filters'
    * binary verdicts on the SAME corpus differ meaningfully only if
    * the DISAGREEMENT cells are lopsided (rows both get right or both
    * get wrong carry no information about which filter is better).
    * b = A right & B wrong, c = A wrong & B right; the statistic is
    * (|b − c| − 1)² / (b + c) (~χ²₁ under H0), and the signed
    * z = (b − c)/√(b + c) says WHICH filter wins. ONE partial-agg
    * scan; exact-integer numerator, one sqrt, one division — engine-
    * exact. No disagreements (b + c = 0) reads NULL, SQL-style.
    * Output (1 row): n, both_right, both_wrong, b, c, chi2, z. */
  def mcnemarTest(df: DataFrame, predA: Column, predB: Column,
                  label: Column): DataFrame = {
    val okA = predA === label
    val okB = predB === label
    df.filter(predA.isNotNull && predB.isNotNull && label.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(okA && okB, 1L).otherwise(0L)).as("both_right"),
        sum(when(!okA && !okB, 1L).otherwise(0L)).as("both_wrong"),
        sum(when(okA && !okB, 1L).otherwise(0L)).as("b"),
        sum(when(!okA && okB, 1L).otherwise(0L)).as("c"))
      .select(col("n"), col("both_right"), col("both_wrong"),
        col("b"), col("c"),
        when(col("b") + col("c") === 0L, lit(null).cast("double"))
          .otherwise({
            val d = abs(col("b") - col("c")).cast("double") - lit(1.0)
            d * d / (col("b") + col("c")).cast("double")
          }).as("chi2"),
        when(col("b") + col("c") === 0L, lit(null).cast("double"))
          .otherwise((col("b") - col("c")).cast("double")
            / sqrt((col("b") + col("c")).cast("double"))).as("z"))
  }

  /** End-to-end calibration GAIN — the one-row headline read of
    * [[histogramCalibration]]: held-out ECE served raw vs served
    * through the fitted rates, over the bins the fit split covered.
    * Apply-split rows in bins the fit never saw have no fitted
    * opinion; they are counted OUT LOUD in n_uncovered (what to
    * serve them — raw score, global rate — is the caller's policy,
    * not a silent default). ece_* are n_apply-weighted
    * |apply_rate − prediction| on the 2^40 grid (the ECE recipe).
    * Output (1 row): n_covered, n_uncovered, ece_before, ece_after. */
  def calibrationGain(fit: DataFrame, applyTo: DataFrame,
                      prob: Column, label: Column,
                      k: Int = 10): DataFrame = {
    val bins = histogramCalibration(fit, applyTo, prob, label, k)
    val covered = bins.filter(col("calib_p").isNotNull)
      .agg(sum(col("n_apply")).as("n_covered"),
        gridSum40(col("n_apply").cast("double") * col("gap_before"))
          .as("__gb"),
        gridSum40(col("n_apply").cast("double") * col("gap_after"))
          .as("__ga"))
    val uncovered = bins.agg(coalesce(
      sum(when(col("calib_p").isNull, col("n_apply"))), lit(0L))
      .as("n_uncovered"))
    covered.crossJoin(broadcast(uncovered))
      .select(col("n_covered"), col("n_uncovered"),
        (col("__gb") / col("n_covered").cast("double")).as("ece_before"),
        (col("__ga") / col("n_covered").cast("double")).as("ece_after"))
  }

  /** Thresholded confusion matrix + the derived one-number reads —
    * the basic eval of a deployed filter rule ("keep if score ≥ t"):
    * tp/fp/fn/tn from ONE partial-agg scan, then accuracy, precision,
    * recall, F1, and Matthews correlation. Engine-exactness: counts
    * are exact longs; MCC's numerator tp·tn − fp·fn multiplies in
    * decimal(38,0) (exact to ~10^18-row corpora) before ONE cast to
    * double, and its denominator is the fixed chain
    * √(tp+fp)·√(tp+fn)·√(tn+fp)·√(tn+fn) — four correctly-rounded
    * IEEE sqrts and three multiplies every engine replays bit-for-bit
    * (the single √ of the 10^48-magnitude product would overflow any
    * exact type). Degenerate margins (empty predicted-positive class,
    * one-class corpus) yield NULL for the affected ratios, SQL-style.
    * Output (1 row): tp, fp, fn, tn, accuracy, precision_, recall_,
    * f1, mcc (precision_/recall_ underscored — bare `precision` is a
    * reserved word in ANSI SQL and DuckDB). */
  def confusionStats(df: DataFrame, score: Column, label: Column,
                     threshold: Double): DataFrame = {
    val d = df.filter(score.isNotNull && label.isNotNull)
      .select((score >= lit(threshold)).as("__p"),
        label.cast("boolean").as("__y"))
    val cnt = d.agg(
      sum(when(col("__p") && col("__y"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("__p") && !col("__y"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("__p") && col("__y"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("__p") && !col("__y"), 1L).otherwise(0L)).as("tn"))
    val (tp, fp, fn0, tn) = (col("tp"), col("fp"), col("fn"), col("tn"))
    def dbl(c: Column): Column = c.cast("double")
    val n = tp + fp + fn0 + tn
    val dec = "decimal(38,0)"
    val mccNum = (tp.cast(dec) * tn.cast(dec) - fp.cast(dec) * fn0.cast(dec))
      .cast("double")
    val mccDen = sqrt(dbl(tp + fp)) * sqrt(dbl(tp + fn0)) *
      sqrt(dbl(tn + fp)) * sqrt(dbl(tn + fn0))
    cnt.select(tp, fp, fn0, tn,
      when(n === 0L, lit(null).cast("double"))
        .otherwise(dbl(tp + tn) / dbl(n)).as("accuracy"),
      when(tp + fp === 0L, lit(null).cast("double"))
        .otherwise(dbl(tp) / dbl(tp + fp)).as("precision_"),
      when(tp + fn0 === 0L, lit(null).cast("double"))
        .otherwise(dbl(tp) / dbl(tp + fn0)).as("recall_"),
      when(tp * 2L + fp + fn0 === 0L, lit(null).cast("double"))
        .otherwise(dbl(tp * 2L) / dbl(tp * 2L + fp + fn0)).as("f1"),
      when(tp + fp === 0L || tp + fn0 === 0L || tn + fp === 0L ||
          tn + fn0 === 0L, lit(null).cast("double"))
        .otherwise(mccNum / mccDen).as("mcc"))
  }

  /** Brier score — the proper scoring rule over a probabilistic
    * quality score: mean (p − y)², y ∈ {0,1}. Strictly proper, so it
    * rewards calibration AND sharpness together where
    * [[expectedCalibrationError]] reads calibration alone; the pair is
    * the standard scorer-health dashboard. Per-row (p − y)² is two
    * IEEE ops (exact in any engine); the mean runs on the 2^-40
    * fixed-point grid so partial-agg order never leaks into the hash
    * gate. Output (1 row): n, brier. */
  def brierScore(df: DataFrame, prob: Column, label: Column): DataFrame = {
    val d = df.filter(prob.isNotNull && label.isNotNull)
      .select(prob.as("__p"),
        when(label.cast("boolean"), 1.0).otherwise(0.0).as("__y"))
    val sq = (col("__p") - col("__y")) * (col("__p") - col("__y"))
    d.agg(count(lit(1)).as("n"), gridSum40(sq).as("__s"))
      .select(col("n"),
        when(col("n") === 0L, lit(null).cast("double"))
          .otherwise(col("__s") / col("n").cast("double")).as("brier"))
  }

  /** Group-fairness audit at an operating point — the equalized-odds
    * / demographic-parity read a curation filter owes its strata
    * ([[rocAucBy]] compares threshold-free ranking power; this
    * compares the SHIPPED decision rule): per stratum the confusion
    * counts at `score ≥ threshold`, TPR / FPR / selection rate, and
    * each rate's GAP against the pooled global rate — equalized odds
    * asks the TPR/FPR gaps to be small, demographic parity the
    * selection-rate gap. A filter can pass a global audit while
    * silently dropping one language's positives; this is the table
    * that shows it.
    *
    * Shape: ONE stratum-keyed partial agg over the fact table + a
    * 1-row pooled re-agg broadcast back; all rates exact-count
    * divisions (one-class strata read NULL, SQL-style), gaps single
    * IEEE subtractions. Output: (stratum, n, tp, fp, fn, tn, tpr,
    * fpr, sel_rate, tpr_gap, fpr_gap, sel_gap). */
  def groupFairness(df: DataFrame, stratum: String, score: Column,
                    label: Column, threshold: Double): DataFrame = {
    def dbl(c: Column): Column = c.cast("double")
    val d = df.filter(score.isNotNull && label.isNotNull &&
        col(stratum).isNotNull)
      .select(col(stratum).as("stratum"),
        (score >= lit(threshold)).as("__p"), label.cast("boolean").as("__y"))
    val aggs = Seq(
      sum(when(col("__p") && col("__y"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("__p") && !col("__y"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("__p") && col("__y"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("__p") && !col("__y"), 1L).otherwise(0L)).as("tn"))
    def rates(pre: String)(in: DataFrame) = in
      .withColumn(s"${pre}tpr", when(col("tp") + col("fn") > 0L,
        dbl(col("tp")) / dbl(col("tp") + col("fn"))))
      .withColumn(s"${pre}fpr", when(col("fp") + col("tn") > 0L,
        dbl(col("fp")) / dbl(col("fp") + col("tn"))))
      .withColumn(s"${pre}sel",
        dbl(col("tp") + col("fp")) /
          dbl(col("tp") + col("fp") + col("fn") + col("tn")))
    val per = rates("")(d.groupBy(col("stratum")).agg(aggs.head, aggs.tail: _*))
    val glob = rates("g_")(d.agg(aggs.head, aggs.tail: _*))
      .select(col("g_tpr"), col("g_fpr"), col("g_sel"))
    per.crossJoin(broadcast(glob))
      .select(col("stratum"),
        (col("tp") + col("fp") + col("fn") + col("tn")).as("n"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        col("tpr"), col("fpr"), col("sel").as("sel_rate"),
        (col("tpr") - col("g_tpr")).as("tpr_gap"),
        (col("fpr") - col("g_fpr")).as("fpr_gap"),
        (col("sel") - col("g_sel")).as("sel_gap"))
  }

  /** Split-conformal selection threshold (Vovk; Papadopoulos et al.
    * 2002) — the distribution-free guarantee a "keep if score ≤ q̂"
    * rule can actually promise: with q̂ the ⌈(n+1)(1−α)⌉-th smallest
    * CALIBRATION score, a fresh exchangeable score lands ≤ q̂ with
    * probability ≥ 1−α — no model assumptions, just ranks. The audit
    * also reports the rule's EMPIRICAL coverage on a held-out test
    * frame (should sit at or above 1−α up to sampling noise).
    *
    * Shape: the order statistic comes from the distributed rowid sort
    * ([[graft.core.Tibble.rowidToColumn]] — never a single-partition
    * window), selected by one scan-resident rank filter; coverage is
    * one broadcast-threshold partial agg over the test frame. Rank
    * arithmetic is exact integer, coverage an exact-count division.
    * Output (1 row): n_cal, rank, qhat, alpha, n_test, coverage. */
  def conformalThreshold(cal: DataFrame, test: DataFrame, score: Column,
                         alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1,
      s"conformalThreshold: alpha=$alpha not in (0,1)")
    val c = cal.filter(score.isNotNull).select(score.cast("double").as("__s"))
    val n = c.agg(count(lit(1)).as("n_cal"))
    val ranked = graft.core.Tibble.rowidToColumn(c, Seq(col("__s")), "__rid")
    // rank = ceil((n+1)(1-alpha)), clamped to n (alpha < 1/(n+1) would
    // demand more certainty than n points can give — q̂ = max then)
    val rk = n.select(col("n_cal"),
      least(col("n_cal"),
        ceil((col("n_cal").cast("double") + 1.0) * lit(1.0 - alpha))
          .cast("long")).as("rank"))
    val qhat = ranked.join(broadcast(rk), col("__rid") === col("rank"))
      .select(col("n_cal"), col("rank"), col("__s").as("qhat"))
    val t = test.filter(score.isNotNull).select(score.cast("double").as("__t"))
    t.crossJoin(broadcast(qhat))
      .agg(max(col("n_cal")).as("n_cal"), max(col("rank")).as("rank"),
        max(col("qhat")).as("qhat"),
        max(lit(alpha)).as("alpha"),
        count(lit(1)).as("n_test"),
        (sum(when(col("__t") <= col("qhat"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("coverage"))
  }

  /** GROUP-CONDITIONAL coverage audit of a [[conformalThreshold]] —
    * the known failure mode of split conformal: the ≥ 1−α guarantee
    * is MARGINAL, so a q̂ fit on the pooled calibration set can cover
    * 99% of one language and 60% of another while averaging fine.
    * This reports the held-out coverage of the pooled q̂ PER STRATUM
    * with its gap to the 1−α target — the table that says which
    * strata need their own threshold (Mondrian conformal).
    *
    * Shape: q̂ exactly as in [[conformalThreshold]] (rowid order
    * statistic, broadcast), then ONE stratum-keyed partial agg over
    * the test frame. Exact-count coverage divisions.
    * Output: (stratum, n_test, covered, coverage, target, gap). */
  def conformalCoverageBy(cal: DataFrame, test: DataFrame, stratum: String,
                          score: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1,
      s"conformalCoverageBy: alpha=$alpha not in (0,1)")
    val c = cal.filter(score.isNotNull).select(score.cast("double").as("__s"))
    val n = c.agg(count(lit(1)).as("__ncal"))
    val ranked = graft.core.Tibble.rowidToColumn(c, Seq(col("__s")), "__rid")
    val rk = n.select(least(col("__ncal"),
      ceil((col("__ncal").cast("double") + 1.0) * lit(1.0 - alpha))
        .cast("long")).as("__rank"))
    val qhat = ranked.join(broadcast(rk), col("__rid") === col("__rank"))
      .select(col("__s").as("__qhat"))
    test.filter(score.isNotNull && col(stratum).isNotNull)
      .select(col(stratum).as("stratum"), score.cast("double").as("__t"))
      .crossJoin(broadcast(qhat))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__t") <= col("__qhat"), 1L).otherwise(0L)).as("covered"))
      .withColumn("coverage",
        col("covered").cast("double") / col("n_test").cast("double"))
      .withColumn("target", lit(1.0 - alpha))
      .withColumn("gap", col("coverage") - col("target"))
  }

  /** Per-stratum [[youdenThreshold]] — the remediation the
    * [[groupFairness]] audit points at: when one language's TPR gaps
    * at the pooled cutoff, the fix is usually a PER-STRATUM operating
    * point; this reports each stratum's own J-optimal threshold so
    * the decision "ship one global cutoff vs per-stratum cutoffs" is
    * a table, not a guess. Same exactness as the global form; the
    * cumulative TP/FP and the argmax windows partition BY STRATUM
    * (the groupedKs trade). One-class strata are absent (no ROC to
    * sweep). Ties on J break to the smallest threshold.
    * Output: (stratum, threshold, tpr, fpr, j, n_pos, n_neg). */
  def youdenThresholdBy(df: DataFrame, stratum: String, score: Column,
                        label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = df.filter(score.isNotNull && label.isNotNull &&
        col(stratum).isNotNull)
      .select(col(stratum).as("__g"), score.cast("double").as("__s"),
        label.cast("boolean").as("__y"))
    val counts = d.groupBy(col("__g"), col("__s"))
      .agg(sum(when(col("__y"), 1.0).otherwise(0.0)).as("__p"),
        sum(when(col("__y"), 0.0).otherwise(1.0)).as("__n"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val totals = counts.groupBy(col("__g"))
      .agg(sum(col("__p")).as("__tp"), sum(col("__n")).as("__tn"))
    counts
      .withColumn("__cp", sum(col("__p")).over(w))
      .withColumn("__cn", sum(col("__n")).over(w))
      .join(totals, Seq("__g"))
      .filter(col("__tp") > 0.0 && col("__tn") > 0.0)
      .select(col("__g"), col("__s"),
        (col("__cp") / col("__tp")).as("__tpr"),
        (col("__cn") / col("__tn")).as("__fpr"),
        ((col("__cp") / col("__tp")) - (col("__cn") / col("__tn")))
          .as("__j"),
        col("__tp"), col("__tn"))
      .groupBy(col("__g").as("stratum"))
      .agg(
        max_by(col("__s"), struct(col("__j"), -col("__s"))).as("threshold"),
        max_by(col("__tpr"), struct(col("__j"), -col("__s"))).as("tpr"),
        max_by(col("__fpr"), struct(col("__j"), -col("__s"))).as("fpr"),
        max(struct(col("__j"), -col("__s"))).getField("__j").as("j"),
        max(col("__tp")).cast("long").as("n_pos"),
        max(col("__tn")).cast("long").as("n_neg"))
  }

  /** MONDRIAN (per-stratum) conformal thresholds — the REMEDIATION
    * half of [[conformalCoverageBy]]'s audit, paired like the
    * mojibake audit/fix: fit each stratum its OWN
    * ⌈(n_s+1)(1−α)⌉-th-smallest calibration score, so the ≥ 1−α
    * guarantee holds PER STRATUM (exchangeability within stratum),
    * not just marginally. Reports each stratum's q̂ and its held-out
    * coverage — the after picture the audit's gap column asked for.
    *
    * Shape: per-stratum order statistics from ONE stratum-partitioned
    * rank window (the groupedQuantiles trade — a stratum pays one
    * sort of its own rows), the ≤k-row threshold table broadcasts
    * onto the test frame, ONE stratum-keyed coverage agg. Exact
    * integer ranks, exact-count coverage. Strata absent from the
    * calibration frame are absent from the output (no q̂ to serve —
    * route them to the pooled [[conformalThreshold]]).
    * Output: (stratum, n_cal, rank, qhat, n_test, covered, coverage,
    * target). */
  def conformalThresholdBy(cal: DataFrame, test: DataFrame, stratum: String,
                           score: Column, alpha: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1,
      s"conformalThresholdBy: alpha=$alpha not in (0,1)")
    val c = cal.filter(score.isNotNull && col(stratum).isNotNull)
      .select(col(stratum).as("stratum"), score.cast("double").as("__s"))
    val w = Window.partitionBy(col("stratum")).orderBy(col("__s"))
    val ranked = c.withColumn("__rid", row_number().over(w))
    val ns = c.groupBy(col("stratum")).agg(count(lit(1)).as("n_cal"))
      .withColumn("rank", least(col("n_cal"),
        ceil((col("n_cal").cast("double") + 1.0) * lit(1.0 - alpha))
          .cast("long")))
    val qhat = ranked.join(broadcast(ns), Seq("stratum"))
      .filter(col("__rid") === col("rank"))
      .select(col("stratum"), col("n_cal"), col("rank"),
        col("__s").as("qhat"))
    test.filter(score.isNotNull && col(stratum).isNotNull)
      .select(col(stratum).as("stratum"), score.cast("double").as("__t"))
      .join(broadcast(qhat), Seq("stratum"))
      .groupBy(col("stratum"))
      .agg(max(col("n_cal")).as("n_cal"), max(col("rank")).as("rank"),
        max(col("qhat")).as("qhat"),
        count(lit(1)).as("n_test"),
        sum(when(col("__t") <= col("qhat"), 1L).otherwise(0L)).as("covered"))
      .withColumn("coverage",
        col("covered").cast("double") / col("n_test").cast("double"))
      .withColumn("target", lit(1.0 - alpha))
  }

  /** Isotonic (PAV) calibration over score levels — the
    * NONPARAMETRIC upgrade of [[histogramCalibration]]: histogram
    * binning fits each bin independently and can emit a
    * NON-monotone map (bin 7 calibrated below bin 6 — nonsense for a
    * monotone score); isotonic regression fits the best monotone
    * step function (pool-adjacent-violators, Zadrozny & Elkan 2002).
    * Computed by the MINIMAX identity instead of the sequential PAV
    * sweep: ĝ(l) = max_{i≤l} min_{j≥l} avg(y over levels i..j) —
    * pure min/max over exact count-ratio averages, so there is no
    * sequential state to distribute and no arithmetic to grid.
    *
    * Shape: scores collapse to k equal-width levels in ONE
    * partial-agg scan of the fact table (the [[calibrationBins]] bin
    * chain); everything after runs on the ≤k-row level table —
    * prefix sums over a bounded window, the ≤k² interval-average
    * build, the ≤k³ minimax join (k=20 → 1.5k rows; bounded by
    * contract like every level/centroid table). Averages are
    * exact-integer-count divisions, min/max exact on doubles — the
    * whole fit replays engine-identically.
    * Output: (bin, p_lo, n, pos_rate, iso_p), iso_p non-decreasing. */
  def isotonicCalibration(df: DataFrame, prob: Column, label: Column,
                          k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && k <= 100, s"isotonicCalibration: k=$k out of [2,100]")
    val bin = least(greatest(floor(prob * lit(k)), lit(0.0)), lit(k - 1.0))
      .cast("int")
    val lv = df.filter(prob.isNotNull && label.isNotNull)
      .select(bin.as("bin"), label.cast("boolean").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"))
    // bounded level table (≤k rows): prefix sums over one window
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = lv
      .withColumn("__cn", sum(col("n")).over(w))
      .withColumn("__cp", sum(col("__pos")).over(w))
    // avg over levels i..j = (cp_j − cp_{i−1}) / (cn_j − cn_{i−1});
    // the i−1 prefix is (cp_i − pos_i, cn_i − n_i) — no lag needed
    val li = pre.select(col("bin").as("__i"),
      (col("__cp") - col("__pos")).as("__cpPrev"),
      (col("__cn") - col("n")).as("__cnPrev"))
    val lj = pre.select(col("bin").as("__j"),
      col("__cp").as("__cpj"), col("__cn").as("__cnj"))
    // broadcast the k-row sides so the non-equi joins plan as
    // BroadcastNestedLoopJoin, never CartesianProduct (agg-derived
    // size stats would otherwise leave the planner guessing)
    val avgs = li.join(broadcast(lj), col("__i") <= col("__j"))
      .select(col("__i"), col("__j"),
        ((col("__cpj") - col("__cpPrev")).cast("double") /
          (col("__cnj") - col("__cnPrev")).cast("double")).as("__avg"))
    // minimax: ĝ(l) = max_{i≤l} min_{j≥l} avg(i,j)
    val grid = pre.select(col("bin").as("__l"))
    val fitted = avgs
      .join(broadcast(grid), col("__i") <= col("__l") && col("__l") <= col("__j"))
      .groupBy(col("__l"), col("__i")).agg(min(col("__avg")).as("__mn"))
      .groupBy(col("__l")).agg(max(col("__mn")).as("iso_p"))
    pre.join(fitted, col("bin") === col("__l"))
      .select(col("bin"),
        (col("bin").cast("double") / lit(k).cast("double")).as("p_lo"),
        col("n"),
        (col("__pos").cast("double") / col("n").cast("double")).as("pos_rate"),
        col("iso_p"))
  }

  /** Isotonic calibration GAIN — [[isotonicCalibration]]'s held-out
    * fit/apply form, the analog of [[histogramCalibration]]'s
    * before/after read: FIT the monotone map on one split, APPLY it
    * on the other, report per-bin gap_before (|apply rate − mean
    * score|) vs gap_after (|apply rate − fitted iso_p|). Apply-side
    * bins with no fitted level read NULL iso_p/gap_after (the
    * uncovered-mass signal). One fact scan per side; the fitted table
    * is ≤k rows and broadcasts. Output: (bin, n_apply, mean_p_apply,
    * apply_rate, iso_p, gap_before, gap_after). */
  def isotonicGain(fit: DataFrame, applyTo: DataFrame, prob: Column,
                   label: Column, k: Int = 10): DataFrame = {
    val fitted = isotonicCalibration(fit, prob, label, k)
      .select(col("bin"), col("iso_p"))
    val bin = least(greatest(floor(prob * lit(k)), lit(0.0)), lit(k - 1.0))
      .cast("int")
    applyTo.filter(prob.isNotNull && label.isNotNull)
      .select(bin.as("bin"), prob.as("__p"), label.cast("boolean").as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_apply"),
        (graft.functions.Exact.dsum(col("__p"))
          / count(lit(1)).cast("double")).as("mean_p_apply"),
        (sum(when(col("__y"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("apply_rate"))
      .join(broadcast(fitted), Seq("bin"), "left")
      .withColumn("gap_before", abs(col("apply_rate") - col("mean_p_apply")))
      .withColumn("gap_after", abs(col("apply_rate") - col("iso_p")))
  }

  /** Youden-J optimal operating point — the threshold-PICKING read
    * the threshold-free [[rocAuc]] leaves open: over every achievable
    * cutoff (predict keep when score ≥ t, t ranging over the distinct
    * scores), the point maximizing J = TPR − FPR — the cutoff a
    * curation rule should ship when false-keeps and false-drops cost
    * the same (cost-asymmetric deployments reweight J; the sweep here
    * is the reusable part). Exact on the full data: distinct-score
    * class counts in ONE partial agg (the [[graft.ops.Profiling
    * .ksTest]] shape), cumulative TP/FP from the distributed prefix
    * scan in DESCENDING score order (score-≥-t semantics), the argmax
    * a 1-row TakeOrdered — never a global window, never a per-
    * threshold rescan. Rates are exact-count divisions; ties on J
    * break to the SMALLEST threshold (keep more at equal J).
    * Degenerate one-class corpora return zero rows.
    * Output (1 row): threshold, tpr, fpr, j, accuracy, n_pos, n_neg. */
  def youdenThreshold(df: DataFrame, score: Column, label: Column): DataFrame = {
    val d = df.filter(score.isNotNull && label.isNotNull)
      .select(score.cast("double").as("__s"), label.cast("boolean").as("__y"))
    val counts = d.groupBy(col("__s"))
      .agg(sum(when(col("__y"), 1.0).otherwise(0.0)).as("__p"),
        sum(when(col("__y"), 0.0).otherwise(1.0)).as("__n"))
    val cum = graft.functions.ScanFns.withCumulatives(counts,
      Seq((col("__p"), graft.functions.ScanFns.SumOp, "__cp"),
          (col("__n"), graft.functions.ScanFns.SumOp, "__cn")),
      Seq(col("__s").desc))
    val tot = counts.agg(sum(col("__p")).as("__tp"), sum(col("__n")).as("__tn"))
    cum.crossJoin(broadcast(tot))
      .filter(col("__tp") > 0.0 && col("__tn") > 0.0)
      .select(col("__s").as("threshold"),
        (col("__cp") / col("__tp")).as("tpr"),
        (col("__cn") / col("__tn")).as("fpr"),
        ((col("__cp") / col("__tp")) - (col("__cn") / col("__tn"))).as("j"),
        ((col("__cp") + (col("__tn") - col("__cn"))) /
          (col("__tp") + col("__tn"))).as("accuracy"),
        col("__tp").cast("long").as("n_pos"),
        col("__tn").cast("long").as("n_neg"))
      .orderBy(col("j").desc, col("threshold").asc)
      .limit(1)
  }
}
