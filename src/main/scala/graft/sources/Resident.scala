package graft.sources

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Driver-resident rows of small serving artifacts: a FileBloom
  * sidecar, BM25 postings, an IVF-PQ codes table. A serving read of
  * such an artifact is answered from memory once it is loaded: the
  * artifact's columns are read ONCE per file set, in one task, and kept
  * in one cache bounded by [[DriverBytes]]. A file set is identified by
  * its schema, the columns read and every file's path, size and mtime
  * ([[FileSets.fingerprint]]), so an artifact rewritten at the same
  * path, or appended to, loads again; [[FileSets.clearCaches]] empties
  * the cache.
  *
  * Only a bare parquet file scan is loaded: a frame whose analyzed
  * plan is the file relation itself, with no filter or projection.
  * Anything else, a file set whose parquet bytes pass the budget, or
  * one whose loaded rows would, is served per call by the caller's own
  * plan (an over-budget file set is remembered, so it is not read
  * twice).
  */
private[graft] object Resident {

  /** Most bytes of resident rows the driver keeps across every cached
    * file set, as [[rowBytes]] estimates them. */
  final val DriverBytes: Long = 32L << 20

  private val budget = new scala.util.DynamicVariable[Long](DriverBytes)

  /** Run `body` with a smaller byte budget on this thread: with 0,
    * every artifact is served per call. */
  private[graft] def withBudget[T](bytes: Long)(body: => T): T =
    budget.withValue(bytes)(body)

  /** The columns of a resident file set, in the order asked for. */
  final case class Loaded(schema: StructType, rows: Array[Row])

  /** What the cache chose, since the JVM started: reads served from
    * memory, file sets loaded, reads served per call because the file
    * set is past the budget, and file sets evicted. */
  final case class Counts(hits: Long, loads: Long, overBudget: Long, evictions: Long)

  private val hits, loads, overBudget = new AtomicLong

  def counts: Counts = Counts(hits.get, loads.get, overBudget.get, cache.evictions)

  private final case class Key(schema: StructType, cols: Seq[String],
                               files: Vector[(String, Long, Long)])

  /** None: the file set is past the budget. */
  private final case class Entry(loaded: Option[Loaded], bytes: Long)

  private val cache = new FileSets.Lru[Key, Entry](Int.MaxValue, DriverBytes, _.bytes)

  /** `cols` of `df` from memory, loading them on the first read of its
    * file set; None when `df` is not a bare parquet file scan or its
    * file set is past the budget. */
  def of(df: DataFrame, cols: Seq[String]): Option[Loaded] =
    if (!parquetScan(df)) None
    else FileSets.fingerprint(df.sparkSession.sessionState.newHadoopConf(),
      df.inputFiles.toSeq).flatMap(files => resident(Key(df.schema, cols, files), df))

  /** `cols` of the parquet file set at `path`, as [[Sources.readParquet]]
    * reads it. When the path's schema is cached and its rows are
    * resident, no relation is built. Left is the relation to plan over
    * per call. */
  def at(spark: SparkSession, path: String, cols: Seq[String]): Either[DataFrame, Loaded] = {
    val files = FileSets.fingerprint(spark.sessionState.newHadoopConf(), Seq(path))
    lazy val df = Sources.readParquet(spark, path)
    val got = files.flatMap(fs => Sources.cachedSchema(spark, Seq(path), fs)) match {
      case Some(schema) => resident(Key(schema, cols, files.get), df)
      case None => of(df, cols)
    }
    got.toRight(df)
  }

  private def resident(k: Key, scan: => DataFrame): Option[Loaded] = {
    val key = k.copy(files = k.files.sortBy(_._1))
    val keyBytes = key.files.iterator.map(40L + _._1.length).sum
    val cap = budget.value - keyBytes
    val got =
      if (key.files.iterator.map(_._2).sum > cap) None
      else cache.get(key) match {
        case Some(e) =>
          if (e.loaded.isDefined) hits.incrementAndGet()
          e.loaded
        case None =>
          loads.incrementAndGet()
          val sel = scan.select(key.cols.map(col): _*)
          val loaded = Sources.collectCapped(sel.coalesce(1), cap, rowBytes)
            .map(Loaded(sel.schema, _))
          cache.put(key, Entry(loaded,
            keyBytes + loaded.fold(0L)(_.rows.iterator.map(rowBytes).sum)))
          loaded
      }
    if (got.isEmpty) overBudget.incrementAndGet()
    got
  }

  private def parquetScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.queryExecution.analyzed match {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.fileFormat.isInstanceOf[ParquetFileFormat]
        case _ => false
      }
      case _ => false
    }
  }

  /** A row's rough driver footprint: object headers, one reference per
    * field and each value's payload. */
  private def rowBytes(r: Row): Long = {
    var n = 16L + 8L * r.length
    var i = 0
    while (i < r.length) { n += valueBytes(r.get(i)); i += 1 }
    n
  }

  private def valueBytes(v: Any): Long = v match {
    case null => 0L
    case s: String => 40L + s.length
    case b: Array[Byte] => 16L + b.length
    case r: Row => rowBytes(r)
    case m: scala.collection.Map[_, _] =>
      16L + m.iterator.map { case (a, b) => 32L + valueBytes(a) + valueBytes(b) }.sum
    case s: scala.collection.Iterable[_] => 16L + s.iterator.map(8L + valueBytes(_)).sum
    case _ => 16L
  }
}
