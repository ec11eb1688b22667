package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.InternalRowBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed UNGROUPED cumulative aggregates (base/cum.py at
  * whole-frame scale). Grouped cum* is a partitioned window (CumFns);
  * the ungrouped form would need `Window.partitionBy()` — the entire
  * frame through ONE task. These run the classic two-phase parallel
  * prefix scan instead:
  *
  *  1. range-partitioned sort on the declared total order;
  *  2. one pass computing each partition's partial aggregate —
  *     #partitions rows to the driver (the same documented tiny
  *     driver step as iterative-graph convergence counts, NOT a data
  *     collect);
  *  3. broadcast the per-partition prefix offsets and stream each
  *     partition once, emitting the running value per row.
  *
  * Association caveat: a two-phase DOUBLE sum ((p0)+(p1))+… is not
  * bit-identical to a sequential left fold, so [[withCumsum]]
  * accumulates in exact decimal at scale 6 (the repo's Exact.dsum
  * policy) — exact arithmetic has no association, and the result
  * matches any engine's sequential decimal running sum bit for bit.
  * max/min are associative and exact in double already.
  *
  * PERSIST CONTRACT: the scan is inherently 2-pass, so the sorted rows
  * are persisted across both passes at `storage` (default
  * MEMORY_AND_DISK — hot partitions stay in memory, the overflow
  * spills). At 100 TB that persist is a full-dataset cache: budget
  * executor storage for it, or pass `StorageLevel.DISK_ONLY` for wide
  * frames so the scan costs one extra disk round-trip instead of
  * evicting the working set. The alternative — recomputing the sort
  * for pass 2 — costs a second full shuffle; persisting is strictly
  * cheaper whenever the cluster has the disk.
  *
  * PROJECT FIRST: the sorted rows carry the input frame's FULL schema
  * through the shuffle, the persist, and both Row-level passes — a
  * 5-column scan over a 100-column frame pays 20× the I/O it needs.
  * Select the order/input/carried columns before calling any scan
  * here and join wide payloads back afterwards if required.
  */
object ScanFns {

  /** One running aggregate's kernel: empty accumulator, non-null-value
    * step, partition-accumulator merge (must agree with a sequential
    * fold — exact or associative arithmetic), output render.
    *
    * The rest of the cum* family composes from these kernels (recipes
    * spec-proven against the window forms in PlanSpec):
    *   cumall  = MinOp over when(p, 1.0).otherwise(0.0), then === 1
    *   cumany  = MaxOp over the same indicator, then === 1
    *   cummean = SumOp(x) / SumOp(when(x.isNotNull, 1.0)) — exact sum
    *             over exact non-null count
    *   cumprod = ProdOp (double association caveat on its scaladoc) */
  final case class ScanOp(zero: Any, step: (Any, Double) => Any,
                          merge: (Any, Any) => Any, emit: Any => Any)

  /** Exact-decimal running sum (scale 6, the repo's Exact.dsum policy). */
  val SumOp: ScanOp = ScanOp(
    null,
    (acc, v) => {
      val d = JBigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP)
      if (acc == null) d else acc.asInstanceOf[JBigDecimal].add(d)
    },
    (a, b) =>
      if (a == null) b else if (b == null) a
      else a.asInstanceOf[JBigDecimal].add(b.asInstanceOf[JBigDecimal]),
    acc => if (acc == null) null else acc.asInstanceOf[JBigDecimal].doubleValue)

  /** Running max (associative — plain doubles). */
  val MaxOp: ScanOp = ScanOp(
    null,
    (acc, v) => if (acc == null) java.lang.Double.valueOf(v)
      else java.lang.Double.valueOf(math.max(acc.asInstanceOf[java.lang.Double], v)),
    (a, b) => if (a == null) b else if (b == null) a
      else java.lang.Double.valueOf(math.max(
        a.asInstanceOf[java.lang.Double], b.asInstanceOf[java.lang.Double])),
    acc => acc)

  /** Running min. */
  val MinOp: ScanOp = ScanOp(
    null,
    (acc, v) => if (acc == null) java.lang.Double.valueOf(v)
      else java.lang.Double.valueOf(math.min(acc.asInstanceOf[java.lang.Double], v)),
    (a, b) => if (a == null) b else if (b == null) a
      else java.lang.Double.valueOf(math.min(
        a.asInstanceOf[java.lang.Double], b.asInstanceOf[java.lang.Double])),
    acc => acc)

  /** Running product — the ungrouped cumprod twin. CAVEAT: double
    * multiplication is not associative, so the two-phase merge
    * ((p0)·(p1))·… can differ from a sequential left fold in the last
    * ulp on arbitrary inputs (exact-decimal products are no refuge —
    * precision grows without bound). Bit-exact whenever the factors
    * are ulp-benign (powers of two, or any sequence whose partial
    * products stay exactly representable); elsewhere the error is the
    * usual 1-ulp-per-merge band. Grouped cumprod (CumFns.cumprod) is
    * sequential per group and carries no such caveat. */
  val ProdOp: ScanOp = ScanOp(
    null,
    (acc, v) => if (acc == null) java.lang.Double.valueOf(v)
      else java.lang.Double.valueOf(acc.asInstanceOf[java.lang.Double] * v),
    (a, b) => if (a == null) b else if (b == null) a
      else java.lang.Double.valueOf(
        a.asInstanceOf[java.lang.Double] * b.asInstanceOf[java.lang.Double]),
    acc => acc)

  /** Running sum of `x` over the total order `order`, exact-decimal
    * accumulation, null-skipping like `sum() OVER` (null until the
    * first non-null value). */
  def withCumsum(df: DataFrame, x: Column, order: Seq[Column], as: String,
                 storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    withCumulatives(df, Seq((x, SumOp, as)), order, storage)

  /** Running max over the total order (associative — plain doubles). */
  def withCummax(df: DataFrame, x: Column, order: Seq[Column], as: String,
                 storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    withCumulatives(df, Seq((x, MaxOp, as)), order, storage)

  /** Running min over the total order. */
  def withCummin(df: DataFrame, x: Column, order: Seq[Column], as: String,
                 storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    withCumulatives(df, Seq((x, MinOp, as)), order, storage)

  /** N running aggregates in ONE scan: a single range-partitioned sort
    * and two streamed passes cover every (input, op, name) triple —
    * NOT one sort + persist + two passes per aggregate, which is what
    * chaining withCumsum∘withCummax∘withCummin costs (3× the sorts and
    * 3× the Row round-trips; at sf1 the chained d_cum_u form ran ~3×
    * slower than fused). Use this whenever a verb computes several
    * whole-frame cumulatives over the same order. */
  def withCumulatives(df: DataFrame, ops: Seq[(Column, ScanOp, String)],
                      order: Seq[Column],
                      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(order.nonEmpty, "ungrouped cum* needs a declared total order")
    require(ops.nonEmpty, "withCumulatives: no aggregates given")
    requireFreshNames(df, ops.map(_._3))
    val n = ops.length
    val tmp = freshTempNames(df, "__sx", n)
    val inCols = df.columns.map(df.col) ++
      ops.zipWithIndex.map { case ((x, _, _), i) => x.cast("double").as(tmp(i)) }
    val sorted = rangeSorted(df.select(inCols.toIndexedSeq: _*), order)
    val xi = Array.tabulate(n)(i => sorted.schema.fieldIndex(tmp(i)))
    val dts: Array[DataType] = sorted.schema.fields.map(_.dataType)
    val kernels = ops.map(_._2).toArray
    val rdd = sortedInternal(sorted, storage)
    val totals: Array[Array[Any]] = rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = Array.tabulate[Any](n)(j => kernels(j).zero)
      it.foreach { r =>
        var j = 0
        while (j < n) {
          if (!r.isNullAt(xi(j))) acc(j) = kernels(j).step(acc(j), r.getDouble(xi(j)))
          j += 1
        }
      }
      Iterator.single((i, acc))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(Array.tabulate[Any](n)(j => kernels(j).zero)) {
      (a, b) => Array.tabulate[Any](n)(j => kernels(j).merge(a(j), b(j)))
    }
    val bc = sorted.sparkSession.sparkContext.broadcast(offsets)
    val width = sorted.schema.length
    val outRows = rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = bc.value(i).clone()
      it.map { r =>
        // catalyst values copied straight through — no per-row
        // external-Row round trip (see sortedInternal)
        val out = new Array[Any](width)
        var c = 0
        while (c < width - n) {
          out(c) = if (r.isNullAt(c)) null else r.get(c, dts(c)); c += 1
        }
        var j = 0
        while (j < n) {
          if (!r.isNullAt(xi(j))) acc(j) = kernels(j).step(acc(j), r.getDouble(xi(j)))
          out(width - n + j) = kernels(j).emit(acc(j))
          j += 1
        }
        new GenericInternalRow(out): InternalRow
      }
    }
    val outSchema = StructType(
      sorted.schema.fields.dropRight(n) ++
        ops.map { case (_, _, as) => StructField(as, DoubleType, nullable = true) })
    InternalRowBridge.fromInternalRdd(sorted.sparkSession, outRows, outSchema)
  }

  /** Output names must be fresh and distinct — a collision would
    * silently produce a frame with duplicate column names. */
  private def requireFreshNames(df: DataFrame, names: Seq[String]): Unit = {
    require(names.distinct.size == names.size,
      s"scan: duplicate output names: ${names.mkString(", ")}")
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"scan: output name(s) already exist in the frame: ${clash.mkString(", ")}")
  }

  /** Internal temp names guaranteed fresh against the input schema: a
    * user column literally named __sx0/__rx0/__ck0 would otherwise
    * duplicate the temp, make fieldIndex resolve to the FIRST
    * occurrence, and silently corrupt the scan (read the wrong column,
    * dropRight a real one). Underscores are prepended until no input
    * column shares the prefix. */
  private def freshTempNames(df: DataFrame, base: String, n: Int): IndexedSeq[String] = {
    var p = base
    while (df.columns.exists(_.startsWith(p))) p = "_" + p
    (0 until n).map(i => s"$p$i")
  }

  /** RDDs persisted by in-flight scans, so cleanup is scoped to THIS
    * family instead of a global getPersistentRDDs sweep that would
    * clobber unrelated user caches. */
  private val scanPersists =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.rdd.RDD[_]]()

  private def registerPersist[T](rdd: org.apache.spark.rdd.RDD[T],
                                 storage: StorageLevel): org.apache.spark.rdd.RDD[T] = {
    // session-wide override for the scan family's two-pass persist
    // (spark.graft.scanStorage = MEMORY_AND_DISK_SER / DISK_ONLY /
    // ...): deployments sizing executor storage for 10x+ frames can
    // repoint every scan without threading the parameter through each
    // verb. Applies only where the caller left the library default.
    val effective =
      if (storage == StorageLevel.MEMORY_AND_DISK)
        org.apache.spark.sql.SparkSession.active.conf
          .getOption("spark.graft.scanStorage")
          .map(StorageLevel.fromString).getOrElse(storage)
      else storage
    rdd.persist(effective)
    scanPersists.add(rdd)
    rdd
  }

  /** `df` range-partitioned and sorted on `order`, asked for
    * explicitly: the scans read the sort's partitions as their own, so
    * they need range partitions — each pass runs one task per
    * partition. A global `orderBy` may instead be gathered into one
    * partition (graft.plans.GatherSmallSortStrategy), which would put
    * both passes on one task. */
  private def rangeSorted(df: DataFrame, order: Seq[Column]): DataFrame =
    df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)

  /** The sorted plan's CATALYST rows, copied (toRdd reuses buffers) and
    * persisted for the scan's two passes. Staying on InternalRow end to
    * end — compact UnsafeRow bytes in the cache, no boxed external Rows
    * — cut the sf1 scan queries ~30-40% vs the Dataset.rdd bridge,
    * which deserializes every row on the way out AND re-serializes the
    * assembled output rows on the way back in. */
  private def sortedInternal(sorted: DataFrame, storage: StorageLevel) =
    registerPersist(InternalRowBridge.toInternalRdd(sorted).map(_.copy()), storage)

  /** Drop every RDD the scan family has persisted (and nothing else).
    * The scans are 2-pass, so the sorted rows stay cached for the
    * lifetime of the returned lazy DataFrame; call this once scan
    * outputs are materialized (written, collected, counted) to release
    * the cache without touching user persists. Calling earlier is safe
    * — the output recomputes its sort — and chained scans (e.g.
    * fillGlobal downup = two passes) release both persists in one
    * call. */
  def unpersistScans(): Unit = {
    val it = scanPersists.iterator()
    while (it.hasNext) { it.next().unpersist(blocking = false); it.remove() }
  }

  /** Ungrouped dplyr::consecutive_id over a whole-frame total order —
    * the scale-safe twin of WindowFns.consecutiveId with no partition:
    * a new id (from 1) each time the key combination changes along the
    * order, null-safe (a run of NULLs is one group, like <=>). Two
    * phases: each partition reports (first key, last key, internal
    * change count) — #partitions tiny rows to the driver — then the
    * carry-in (id so far, previous key) broadcasts and every partition
    * streams once. */
  def withConsecutiveId(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                        as: String,
                        storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(order.nonEmpty, "ungrouped consecutive_id needs a declared total order")
    require(keys.nonEmpty, "consecutive_id: no key columns")
    requireFreshNames(df, Seq(as))
    val n = keys.length
    val tmp = freshTempNames(df, "__ck", n)
    val inCols = df.columns.map(df.col) ++
      keys.zipWithIndex.map { case (k, i) => k.as(tmp(i)) }
    val sorted = rangeSorted(df.select(inCols.toIndexedSeq: _*), order)
    val ki = Array.tabulate(n)(i => sorted.schema.fieldIndex(tmp(i)))
    val dts: Array[DataType] = sorted.schema.fields.map(_.dataType)
    // catalyst key values: UTF8String/Long/... — equality and driver
    // serialization are both value-based, so the summaries travel fine
    def keyOf(r: InternalRow): Seq[Any] =
      ki.map(i => if (r.isNullAt(i)) null else r.get(i, dts(i))).toSeq
    val rdd = sortedInternal(sorted, storage)
    val sums = rdd.mapPartitionsWithIndex { (i, it) =>
      var first: Option[Seq[Any]] = None
      var last: Option[Seq[Any]] = None
      var changes = 0L
      it.foreach { r =>
        val k = keyOf(r)
        if (first.isEmpty) first = Some(k)
        else if (k != last.get) changes += 1
        last = Some(k)
      }
      Iterator.single((i, (first, last, changes)))
    }.collect().sortBy(_._1).map(_._2)
    // sequential replay over the partition summaries: carry-in for
    // partition i is (id of its first row assuming no change at the
    // boundary, key of the last row before it)
    val offsets = new Array[(Long, Option[Seq[Any]])](sums.length)
    var id = 1L
    var prev: Option[Seq[Any]] = None
    for (i <- sums.indices) {
      offsets(i) = (id, prev)
      val (f, l, c) = sums(i)
      if (f.nonEmpty) {
        if (prev.nonEmpty && f.get != prev.get) id += 1
        id += c
        prev = l
      }
    }
    val bc = sorted.sparkSession.sparkContext.broadcast(offsets)
    val width = sorted.schema.length
    val outRows = rdd.mapPartitionsWithIndex { (i, it) =>
      var (cur, prevK) = bc.value(i)
      it.map { r =>
        val k = keyOf(r)
        if (prevK.nonEmpty && k != prevK.get) cur += 1
        prevK = Some(k)
        val out = new Array[Any](width - n + 1)
        var c = 0
        while (c < width - n) {
          out(c) = if (r.isNullAt(c)) null else r.get(c, dts(c)); c += 1
        }
        out(width - n) = cur
        new GenericInternalRow(out): InternalRow
      }
    }
    val outSchema = StructType(
      sorted.schema.fields.dropRight(n) :+
        StructField(as, org.apache.spark.sql.types.LongType, nullable = false))
    InternalRowBridge.fromInternalRdd(sorted.sparkSession, outRows, outSchema)
  }

  /** One rolling aggregate over the trailing-k frame: "sum" (exact
    * decimal), "mean" (exact sum / window row count, like
    * WindowFns.rollMean), "min", "max". Nulls are skipped like the SQL
    * aggregates (an all-null window emits null; mean still divides by
    * the window ROW count). */
  sealed abstract class RollKind(val name: String)
  case object RollSum extends RollKind("sum")
  case object RollMean extends RollKind("mean")
  case object RollMin extends RollKind("min")
  case object RollMax extends RollKind("max")

  /** Ungrouped rolling (trailing k rows, current inclusive, partial
    * head windows) over a whole-frame total order — the scale-safe
    * twin of WindowFns.roll* with no partition. The carry between
    * partitions is just the previous k-1 values per spec column
    * (#partitions × (k-1) scalars through the driver), so the whole
    * frame never meets one task. Each row recomputes its ≤k-value
    * window (O(k) per row — the expected regime is small k); sums are
    * exact decimal so partition boundaries can't perturb association.
    * All specs share ONE sort + two passes, like [[withCumulatives]]. */
  def withRolling(df: DataFrame, specs: Seq[(Column, RollKind, String)], k: Int,
                  order: Seq[Column],
                  storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(order.nonEmpty, "ungrouped rolling needs a declared total order")
    require(specs.nonEmpty, "withRolling: no aggregates given")
    require(k >= 1, s"rolling window width must be >= 1 (got $k)")
    requireFreshNames(df, specs.map(_._3))
    val n = specs.length
    val tmp = freshTempNames(df, "__rx", n)
    val inCols = df.columns.map(df.col) ++
      specs.zipWithIndex.map { case ((x, _, _), i) => x.cast("double").as(tmp(i)) }
    val sorted = rangeSorted(df.select(inCols.toIndexedSeq: _*), order)
    val xi = Array.tabulate(n)(i => sorted.schema.fieldIndex(tmp(i)))
    val dts: Array[DataType] = sorted.schema.fields.map(_.dataType)
    val kinds = specs.map(_._2).toArray
    val rdd = sortedInternal(sorted, storage)
    // pass 1: the last k-1 values (nullable) of each partition, per
    // spec — short partitions pass their full contents so the walk
    // below can look further back. Ring-buffered: O(1) per row, not a
    // Vector reallocation per row.
    val tails: Array[Array[Vector[Any]]] = rdd.mapPartitionsWithIndex { (i, it) =>
      val buf = Array.fill(n)(scala.collection.mutable.ArrayDeque.empty[Any])
      it.foreach { r =>
        var j = 0
        while (j < n) {
          val v: Any = if (r.isNullAt(xi(j))) null else r.getDouble(xi(j))
          buf(j).append(v)
          if (buf(j).length > k - 1) buf(j).removeHead()
          j += 1
        }
      }
      Iterator.single((i, buf.map(_.toVector)))
    }.collect().sortBy(_._1).map(_._2)
    // carry(i) = last k-1 values before partition i (per spec)
    val carries = new Array[Array[Vector[Any]]](tails.length)
    var run = Array.fill(n)(Vector.empty[Any])
    for (i <- tails.indices) {
      carries(i) = run.map(identity)
      run = Array.tabulate(n)(j => (run(j) ++ tails(i)(j)).takeRight(math.max(k - 1, 0)))
    }
    val bc = sorted.sparkSession.sparkContext.broadcast(carries)
    def evalWindow(kind: RollKind, win: scala.collection.Seq[Any]): Any = {
      val vs = win.collect { case d: Double => d }
      kind match {
        case RollSum | RollMean =>
          if (vs.isEmpty) null
          else {
            val s = vs.foldLeft(JBigDecimal.ZERO)((a, v) =>
              a.add(JBigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP)))
            if (kind == RollSum) s.doubleValue else s.doubleValue / win.length
          }
        case RollMin => if (vs.isEmpty) null else vs.min
        case RollMax => if (vs.isEmpty) null else vs.max
      }
    }
    val width = sorted.schema.length
    val outRows = rdd.mapPartitionsWithIndex { (i, it) =>
      val win = bc.value(i).map(c => scala.collection.mutable.ArrayDeque.from(c))
      it.map { r =>
        val out = new Array[Any](width)
        var c = 0
        while (c < width - n) {
          out(c) = if (r.isNullAt(c)) null else r.get(c, dts(c)); c += 1
        }
        var j = 0
        while (j < n) {
          val v: Any = if (r.isNullAt(xi(j))) null else r.getDouble(xi(j))
          win(j).append(v)
          if (win(j).length > k) win(j).removeHead()
          out(width - n + j) = evalWindow(kinds(j), win(j))
          j += 1
        }
        new GenericInternalRow(out): InternalRow
      }
    }
    val outSchema = StructType(
      sorted.schema.fields.dropRight(n) ++
        specs.map { case (_, _, as) => StructField(as, DoubleType, nullable = true) })
    InternalRowBridge.fromInternalRdd(sorted.sparkSession, outRows, outSchema)
  }

  /** Whole-frame lead/lag: `as` = the value of `x` from `n` rows BACK
    * (n > 0, lag) or |n| rows AHEAD (n < 0, lead) under the total
    * order, null at the frame edges — the scale-safe ungrouped twin of
    * `lag/lead OVER ()`. ONE range-partitioned sort + the two scan
    * passes: the cross-partition carry is just |n| boundary values of
    * the shift column per partition (last |n| for lag, first |n| for
    * lead), so no rowid self-join and no second shuffle — this
    * replaced the sort + zipWithIndex + join topology and roughly
    * halved b_lead_lag_u at sf1. Lead buffers |n| in-flight output
    * rows per task (O(|n| · row width) memory — the expected regime is
    * small |n|). */
  def withShift(df: DataFrame, x: Column, n: Int, order: Seq[Column], as: String,
                storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    withShifts(df, Seq((x, n, as)), order, storage)

  /** N whole-frame shifts FUSED into one scan — mixed lags and leads
    * over the same total order share the single sort and both passes
    * (the withCumulatives fusion rule applied to shifts): chaining
    * withLag∘withLead costs one sort + persist PER shift. Lags resolve
    * as rows stream; each row also supplies the lead values of the
    * rows up to L = max lead depth behind it, so the task holds at
    * most L in-flight output rows (O(L · row width) memory — small-L
    * regime) plus |n| carry scalars per spec. */
  def withShifts(df: DataFrame, specs: Seq[(Column, Int, String)], order: Seq[Column],
                 storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(order.nonEmpty, "ungrouped shift needs a declared total order")
    require(specs.nonEmpty, "withShifts: no shifts given")
    require(specs.forall(_._2 != 0), "shift: n must be non-zero")
    requireFreshNames(df, specs.map(_._3))
    val nSpec = specs.length
    val tmp = freshTempNames(df, "__sh", nSpec)
    val sorted = rangeSorted(df.select((df.columns.map(df.col) ++
        specs.zipWithIndex.map { case ((x, _, _), j) => x.as(tmp(j)) }).toIndexedSeq: _*),
      order)
    val w = sorted.schema.length
    val base = w - nSpec
    val vi = Array.tabulate(nSpec)(j => sorted.schema.fieldIndex(tmp(j)))
    val dts: Array[DataType] = sorted.schema.fields.map(_.dataType)
    val ns = specs.map(_._2).toArray
    val lagIdx = ns.indices.filter(j => ns(j) > 0).toArray
    val leadIdx = ns.indices.filter(j => ns(j) < 0).toArray
    val maxLead = leadIdx.map(j => -ns(j)).maxOption.getOrElse(0)
    val rdd = sortedInternal(sorted, storage)
    def valAt(r: InternalRow, j: Int): Any =
      if (r.isNullAt(vi(j))) null else r.get(vi(j), dts(vi(j)))
    // pass 1: per spec, each partition's boundary values — tail |n| for
    // lags, head |n| for leads (short partitions report what they have,
    // so carries bridge across them)
    val bounds: Array[Array[Vector[Any]]] = rdd.mapPartitionsWithIndex { (i, it) =>
      val tails = Array.fill(nSpec)(scala.collection.mutable.ArrayDeque.empty[Any])
      val heads = Array.fill(nSpec)(scala.collection.mutable.ArrayBuffer.empty[Any])
      it.foreach { r =>
        var j = 0
        while (j < nSpec) {
          if (ns(j) > 0) {
            tails(j).append(valAt(r, j))
            if (tails(j).length > ns(j)) tails(j).removeHead()
          } else if (heads(j).length < -ns(j)) heads(j).append(valAt(r, j))
          j += 1
        }
      }
      Iterator.single((i, Array.tabulate(nSpec)(j =>
        if (ns(j) > 0) tails(j).toVector else heads(j).toVector)))
    }.collect().sortBy(_._1).map(_._2)
    // carry(i)(j): for lag j the last n values BEFORE partition i, for
    // lead j the first |n| values AFTER it
    val parts = bounds.length
    val carries = Array.fill(parts)(new Array[Vector[Any]](nSpec))
    for (j <- 0 until nSpec) {
      if (ns(j) > 0) {
        var run = Vector.empty[Any]
        for (i <- 0 until parts) {
          carries(i)(j) = run; run = (run ++ bounds(i)(j)).takeRight(ns(j))
        }
      } else {
        var run = Vector.empty[Any]
        for (i <- (parts - 1) to 0 by -1) {
          carries(i)(j) = run; run = (bounds(i)(j) ++ run).take(-ns(j))
        }
      }
    }
    val bc = sorted.sparkSession.sparkContext.broadcast(carries)
    val outRows = rdd.mapPartitionsWithIndex { (i, it) =>
      val carry = bc.value(i)
      val deques = Array.tabulate(nSpec)(j =>
        if (ns(j) > 0) scala.collection.mutable.ArrayDeque.from(carry(j)) else null)
      val pending = scala.collection.mutable.ArrayDeque.empty[Array[Any]]
      val head = it.flatMap { r =>
        val out = new Array[Any](w)
        var c = 0
        while (c < base) { out(c) = if (r.isNullAt(c)) null else r.get(c, dts(c)); c += 1 }
        // lag values are known the moment the row streams past
        for (j <- lagIdx) {
          out(base + j) =
            if (deques(j).length == ns(j)) deques(j).removeHead() else null
          deques(j).append(valAt(r, j))
        }
        // this row supplies the lead slots of the rows |n| behind it
        for (j <- leadIdx) {
          val idx = pending.length + ns(j) // ns(j) < 0
          if (idx >= 0) pending(idx)(base + j) = valAt(r, j)
        }
        if (maxLead == 0) Iterator.single(new GenericInternalRow(out): InternalRow)
        else {
          val ready =
            if (pending.length == maxLead) {
              val o = pending.removeHead()
              Iterator.single(new GenericInternalRow(o): InternalRow)
            } else Iterator.empty
          pending.append(out)
          ready
        }
      }
      // partition end: the last <= maxLead rows take their remaining
      // lead values from the carry (global tail rows stay null)
      val drain = new Iterator[InternalRow] {
        private var k = 0
        private var len = -1
        def hasNext: Boolean = pending.nonEmpty
        def next(): InternalRow = {
          if (len < 0) len = pending.length
          val o = pending.removeHead()
          for (j <- leadIdx) {
            val off = k + (-ns(j)) - len
            if (off >= 0)
              o(base + j) = if (off < carry(j).length) carry(j)(off) else null
          }
          k += 1
          new GenericInternalRow(o)
        }
      }
      head ++ drain
    }
    val outSchema = StructType(sorted.schema.fields.dropRight(nSpec).toSeq ++
      specs.zipWithIndex.map { case ((_, _, as), j) =>
        StructField(as, dts(vi(j)), nullable = true) })
    InternalRowBridge.fromInternalRdd(sorted.sparkSession, outRows, outSchema)
  }

  /** Whole-frame "fill down" — the running LAST NON-NULL value of each
    * column in `cols` under the total order, written IN PLACE (types
    * preserved, schema unchanged). Backs tidyr::fill's ungrouped form
    * (Tidyr.fillGlobal) through the same two-phase scan: last-non-null
    * is an associative accumulator (merge = "right wins unless null"),
    * so each partition contributes one value per column and the
    * carry-in broadcast is #partitions × #cols scalars. All columns
    * fill in ONE sort + two passes, not one scan per column. */
  def withFillLast(df: DataFrame, cols: Seq[String], order: Seq[Column],
                   storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(order.nonEmpty, "ungrouped fill needs a declared total order")
    require(cols.nonEmpty, "fill: no columns selected")
    val sorted = rangeSorted(df, order)
    val idxs = cols.map(sorted.schema.fieldIndex).toArray
    val dts: Array[DataType] = sorted.schema.fields.map(_.dataType)
    val rdd = sortedInternal(sorted, storage)
    val partLast: Array[Array[Any]] = rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = Array.fill[Any](idxs.length)(null)
      it.foreach { r =>
        var j = 0
        while (j < idxs.length) {
          val ix = idxs(j)
          if (!r.isNullAt(ix)) acc(j) = r.get(ix, dts(ix))
          j += 1
        }
      }
      Iterator.single((i, acc))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partLast.scanLeft(Array.fill[Any](idxs.length)(null)) { (a, b) =>
      Array.tabulate(idxs.length)(j => if (b(j) != null) b(j) else a(j))
    }
    val bc = sorted.sparkSession.sparkContext.broadcast(offsets)
    val width = sorted.schema.length
    val outRows = rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = bc.value(i).clone()
      it.map { r =>
        val vals = new Array[Any](width)
        var c = 0
        while (c < width) {
          vals(c) = if (r.isNullAt(c)) null else r.get(c, dts(c)); c += 1
        }
        var j = 0
        while (j < idxs.length) {
          val v = vals(idxs(j))
          if (v != null) acc(j) = v else vals(idxs(j)) = acc(j)
          j += 1
        }
        new GenericInternalRow(vals): InternalRow
      }
    }
    InternalRowBridge.fromInternalRdd(sorted.sparkSession, outRows, sorted.schema)
  }

}
