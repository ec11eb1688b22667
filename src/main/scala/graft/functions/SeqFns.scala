package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** base-R sequence / vector / set / type functions (reference:
  * /root/reference/datar_polars/api/base/seq.py, sets.py, which.py,
  * table.py, types.py, asis.py).
  */
object SeqFns {
  /** seq(from, to, by) as an array column (explode to rows). */
  def seqArr(from: Column, to: Column, by: Column): Column = sequence(from, to, by)
  def seqLen(n: Column): Column = sequence(lit(1), n)
  def repArr(x: Column, times: Column): Column = array_repeat(x, times.cast("int"))
  /** diff: x - lag(x) over an explicit order, within partitions.
    * Grouped-only by design: an ungrouped lag would need a
    * single-partition global window (the whole frame on one task) —
    * use [[withDiff]] for the ungrouped scale-safe form. */
  def diffOf(x: Column, order: Seq[Column], part: Seq[Column]): Column = {
    require(part.nonEmpty,
      "ungrouped diff collapses the frame onto one task: use SeqFns.withDiff")
    x - lag(x, 1).over(Window.partitionBy(part: _*).orderBy(order: _*))
  }
  /** UNGROUPED diff, scale-safe: the one-sort boundary-carry shift
    * (ScanFns.withShift) fetches the predecessor value, then the
    * difference stays a Column expression (Spark's own numeric
    * coercion). No rowid self-join, no second shuffle, never a global
    * window. */
  def withDiff(df: DataFrame, x: Column, order: Seq[Column], as: String): DataFrame =
    ScanFns.withShift(df, x, n = 1, order, as)
      .withColumn(as, x - col(s"`$as`"))

  /** UNGROUPED lag over a whole-frame total order (scale-safe twin of
    * `WindowFns.lagBy` with no partition): value of `x` n rows back —
    * ONE sort + |n|-value partition carries (ScanFns.withShift). */
  def withLag(df: DataFrame, x: Column, n: Int, order: Seq[Column],
              as: String): DataFrame =
    ScanFns.withShift(df, x, n, order, as)

  /** UNGROUPED lead: value of `x` n rows ahead (negative shift). */
  def withLead(df: DataFrame, x: Column, n: Int, order: Seq[Column],
               as: String): DataFrame =
    ScanFns.withShift(df, x, -n, order, as)
  def revArr(x: Column): Column = reverse(x)
  def sortArr(x: Column): Column = array_sort(x)
  /** base::lengths — element count of a list column. */
  def lengthsOf(x: Column): Column = size(x)
  /** base::is.element / %in% against a literal set. */
  def isElement(x: Column, values: Seq[Any]): Column = x.isin(values: _*)
  /** base::append(x, values, after): insert `values` after 1-based
    * position `after` (0 prepends). Pure slicing — stays in codegen. */
  def appendArr(x: Column, values: Column, after: Int): Column = {
    require(after >= 0, s"append: 'after' must be >= 0 (got $after)")
    concat(slice(x, 1, after), values,
      slice(x, lit(after + 1), greatest(size(x) - after, lit(0))))
  }

  /** base::rank with ties.method="average" (R's default): rank of the
    * first tied row plus half the tie-group span. One window per
    * (part, value). Grouped-only: an ungrouped rank would be a
    * single-partition global window — use [[withRankAvg]]. */
  def rankAvg(x: Column, part: Seq[Column]): Column = {
    require(part.nonEmpty,
      "ungrouped rank collapses the frame onto one task: use SeqFns.withRankAvg")
    val w = Window.partitionBy(part: _*).orderBy(x.asc)
    val ties = Window.partitionBy((part :+ x): _*)
    rank().over(w) + (count(lit(1)).over(ties) - 1) / 2.0
  }
  /** base::rank with ties.method="min" / "first". Grouped-only — use
    * [[withRankMin]] for the ungrouped scale-safe form. */
  def rankMin(x: Column, part: Seq[Column]): Column = {
    require(part.nonEmpty,
      "ungrouped rank collapses the frame onto one task: use SeqFns.withRankMin")
    rank().over(Window.partitionBy(part: _*).orderBy(x.asc))
  }
  /** base::order — the permutation index: position of each row when
    * sorted by `x` (ties broken by `tie`). Grouped-only — use
    * [[withOrderIndex]] for the ungrouped scale-safe form. */
  def orderOf(x: Column, tie: Seq[Column], part: Seq[Column]): Column = {
    require(part.nonEmpty,
      "ungrouped order() collapses the frame onto one task: use SeqFns.withOrderIndex")
    row_number().over(Window.partitionBy(part: _*).orderBy(x.asc +: tie: _*))
  }

  // ---- ungrouped rank family, scale-safe ---------------------------------
  // A whole-frame rank needs a total order; the scale-safe way to get
  // one in Spark is a sort + per-partition offsets (zipWithIndex) —
  // the same pattern as tibble::rowid_to_column (core/Tibble.scala).
  // Tie-group stats then come from a window partitioned BY VALUE (many
  // partitions), never by ().

  /** base::order, base::rank(ties="min") and base::rank(ties="average")
    * of `x` over the whole frame from ONE rowid pass: the rowid under
    * the `x`-ascending, `tie`-broken total order is the order index,
    * the smallest rowid of x's tie group is its min-rank (whatever
    * breaks the ties), and the average rank adds half the tie-group
    * span (double, like R). One sort and one by-value window serve all
    * three; an output whose name is None is not added. */
  def withRanks(df: DataFrame, x: Column, tie: Seq[Column], orderIndex: Option[String],
                rankMin: Option[String], rankAvg: Option[String]): DataFrame = {
    val rowid = orderIndex.getOrElse("__grn")
    val ties = Window.partitionBy(x)
    val rkMin = min(col(rowid)).over(ties)
    val ranked = graft.core.Tibble.rowidToColumn(df, x.asc +: tie, rowid)
    val out = rankMin.map(_ -> rkMin).toSeq ++
      rankAvg.map(_ -> (rkMin + (count(lit(1)).over(ties) - 1) / 2.0))
    val all = out.foldLeft(ranked) { case (d, (name, c)) => d.withColumn(name, c) }
    if (orderIndex.isEmpty) all.drop(rowid) else all
  }

  /** base::order over the whole frame: global permutation index. */
  def withOrderIndex(df: DataFrame, x: Column, tie: Seq[Column],
                     as: String): DataFrame =
    withRanks(df, x, tie, Some(as), None, None)

  /** base::rank(ties="min") over the whole frame: rank(v) = min rowid
    * of v's tie group under the x-ascending total order. */
  def withRankMin(df: DataFrame, x: Column, as: String): DataFrame =
    withRanks(df, x, Nil, None, Some(as), None)

  /** base::rank(ties="average") over the whole frame: min-rank plus
    * half the tie-group span (double, like R). */
  def withRankAvg(df: DataFrame, x: Column, as: String): DataFrame =
    withRanks(df, x, Nil, None, None, Some(as))

  /** Average rank of `x` WITHIN each `key` group — the grouped twin of
    * [[withRankAvg]], built WITHOUT a partition-by-key window: a
    * per-key WindowExec funnels every row of a stratum through one
    * task, and a corpus where one language holds 60% of the rows
    * would serialize there. Instead the whole frame takes ONE
    * range-partitioned rowid sort under the (key, x) total order (big
    * strata split across partitions), per-key base offsets come from
    * a key-grain aggregate joined back (strata-sized, broadcast-able),
    * and tie averages from the (key, value) window — many small
    * groups, never one per stratum. Output ranks are k or k+0.5
    * within each key, exactly [[withRankAvg]]'s convention. */
  def withRankAvgBy(df: DataFrame, key: Column, x: Column,
                    as: String): DataFrame = {
    val withK = df.withColumn("__rk", key)
    val ranked = graft.core.Tibble.rowidToColumn(withK,
      Seq(col("__rk").asc, x.asc), "__grn")
    val k0 = ranked.groupBy("__rk").agg(min(col("__grn")).as("__k0"))
    val ties = Window.partitionBy(col("__rk"), x)
    ranked.join(k0, Seq("__rk"))
      .withColumn(as,
        (min(col("__grn")).over(ties) - col("__k0") + 1L)
          + (count(lit(1)).over(ties) - 1L) / 2.0)
      .drop("__grn", "__k0", "__rk")
  }
}

object SetFns {
  /** match: position of x in the distinct sorted values of a lookup
    * frame (base::match against a table column). Returned via join.
    * The lookup's distinct values are ranked via the scale-safe
    * range-partitioned sort + zipWithIndex (Tibble.rowidToColumn) —
    * nothing bounds the lookup's cardinality, so a single-partition
    * `Window.orderBy` would collapse a large value table onto one
    * task. */
  def matchIn(df: DataFrame, x: String, lookup: DataFrame, v: String,
              as: String): DataFrame = {
    val ranked = graft.core.Tibble.rowidToColumn(
      lookup.select(col(v)).distinct(), Seq(col(v).asc), as)
    df.join(ranked.withColumnRenamed(v, x), Seq(x), "left")
  }
  /** duplicated: true for every occurrence after the first, with
    * "first" defined by an explicit order. */
  def duplicated(keys: Seq[Column], order: Seq[Column]): Column =
    row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)) > 1
  /** table: contingency counts in long form. */
  def tableOf(df: DataFrame, cols: String*): DataFrame =
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
  /** tabulate: counts of integer bins 1..nbins. */
  def tabulate(df: DataFrame, x: Column, nbins: Int): DataFrame = {
    val spark = df.sparkSession
    val bins = spark.range(1, nbins + 1).withColumnRenamed("id", "bin")
    val counts = df.select(x.cast("long").as("bin"))
      .filter(col("bin").between(1, nbins))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    bins.join(counts, Seq("bin"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
  }
  /** which: 1-based positions (by explicit order) where cond holds.
    * Positions come from a range-partitioned sort + zipWithIndex
    * (Tibble.rowidToColumn) — not a single-partition global window. */
  def which(df: DataFrame, cond: Column, order: Seq[Column]): DataFrame =
    graft.core.Tibble.rowidToColumn(df, order, "__pos")
      .filter(cond).select(col("__pos").cast("int").as("pos"))
  def whichMin(x: Column, order: Column): Column = min_by(order, x)
  def whichMax(x: Column, order: Column): Column = max_by(order, x)
  /** base::max.col — 1-based index of the row-wise maximum column
    * (ties.method="first"). */
  def maxCol(cs: Column*): Column = {
    val mx = greatest(cs: _*)
    cs.zipWithIndex.foldLeft(lit(null).cast("int")) { case (acc, (c, i)) =>
      coalesce(acc, when(c === mx, lit(i + 1)))
    }
  }
}

object TypeFns {
  def asInteger(x: Column): Column = x.cast("int")
  def asLong(x: Column): Column = x.cast("long")
  def asDouble(x: Column): Column = x.cast("double")
  def asCharacter(x: Column): Column = x.cast("string")
  def asLogical(x: Column): Column = x.cast("boolean")
  def asDate(x: Column): Column = to_date(x)
  def isNa(x: Column): Column = x.isNull || x.isNaN
  def isNull_(x: Column): Column = x.isNull
  def isFinite(x: Column): Column =
    x.isNotNull && !x.isNaN && x =!= Double.PositiveInfinity && x =!= Double.NegativeInfinity
  def isInfinite(x: Column): Column =
    x === Double.PositiveInfinity || x === Double.NegativeInfinity
  def completeCases(cs: Column*): Column = cs.map(_.isNotNull).reduce(_ && _)
  /** as_numeric (reference api/base/asis.py): alias of as_double. */
  def asNumeric(x: Column): Column = asDouble(x)
  /** is_true / is_false (reference api/base/asis.py): strict identity
    * with TRUE/FALSE — null is NOT true and NOT false, so the
    * null-safe compare, never a bare ===. */
  def isTrue(x: Column): Column = x <=> lit(true)
  def isFalse(x: Column): Column = x <=> lit(false)

  // ---- dtype predicates (reference api/base/asis.py, types.py) ----------
  // Dtypes are SCHEMA metadata, not data: each predicate reads the
  // frame's resolved schema on the driver — zero scans, zero jobs.
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.types._
  private def dt(df: DataFrame, name: String): DataType = df.schema(name).dataType
  def isCharacter(df: DataFrame, name: String): Boolean = dt(df, name) == StringType
  def isDouble(df: DataFrame, name: String): Boolean =
    dt(df, name) == DoubleType || dt(df, name) == FloatType
  def isInteger(df: DataFrame, name: String): Boolean = dt(df, name) match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  def isLogical(df: DataFrame, name: String): Boolean = dt(df, name) == BooleanType
  def isNumeric(df: DataFrame, name: String): Boolean =
    dt(df, name).isInstanceOf[NumericType]
  /** is_atomic: an R atomic vector maps to any non-nested Spark type
    * (no array/map/struct). */
  def isAtomic(df: DataFrame, name: String): Boolean = dt(df, name) match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }
  /** cut: bin a numeric column by break points (right-closed like R).
    * labels.length must be breaks.length - 1. */
  def cut(x: Column, breaks: Seq[Double], labels: Seq[String]): Column = {
    val cases = breaks.sliding(2).zip(labels.iterator).map {
      case (Seq(lo, hi), lab) => (x > lo && x <= hi) -> lit(lab)
    }.toSeq
    CondFns.caseWhen(cases, lit(null))
  }
}
