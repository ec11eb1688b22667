package graftbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.StructType

/** Order-insensitive fingerprint of a query answer, so an answer can be
  * checked against its reference without keeping either in memory.
  *
  * Columns are taken in name order and values are normalised the way
  * the repository's DuckDB compare treats them: every integral number
  * (any integer width, an integral double, a decimal) hashes as the
  * same long, other floating values hash by their exact IEEE bits, so a
  * one-ulp difference is a mismatch. Rows combine by addition, which
  * makes the digest independent of row order. */
final case class Digest(columns: Seq[String], rows: Long, sum: Long) {
  override def toString: String = f"${columns.mkString(",")}:$rows:$sum%016x"
}

object Digest {
  private def order(schema: StructType): Array[Int] = {
    val names = schema.fieldNames
    names.indices.sortBy(names(_)).toArray
  }

  /** (rows, sum of row hashes) of one slice of an answer */
  def partial(schema: StructType, rows: Iterator[Row]): (Long, Long) = {
    val cols = order(schema)
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      var h = 17L
      var i = 0
      while (i < cols.length) {
        h = mix(h * 31 + value(r.get(cols(i))))
        i += 1
      }
      sum += h
      n += 1
    }
    (n, sum)
  }

  def of(schema: StructType, rows: Iterator[Row]): Digest = {
    val (n, sum) = partial(schema, rows)
    Digest(order(schema).map(schema.fieldNames(_)).toSeq, n, sum)
  }

  /** The digest of a DataFrame's answer, computed where its partitions
    * are: every row and column is produced and hashed, and only one
    * (rows, sum) pair per partition reaches the driver. */
  def ofFrame(df: DataFrame): Digest = {
    val schema = df.schema
    val parts = df.mapPartitions(it => Iterator(partial(schema, it)))(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Digest(order(schema).map(schema.fieldNames(_)).toSeq, parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def of(schema: StructType, rows: Seq[Row]): Digest = of(schema, rows.iterator)

  /** splitmix64 finaliser */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def tag(t: Int, x: Long): Long = mix(x ^ (t.toLong << 56))

  private def number(d: Double): Long =
    if (!d.isNaN && !d.isInfinity && d == math.rint(d) && math.abs(d) < 9.0e15)
      tag(1, d.toLong)
    else tag(2, java.lang.Double.doubleToLongBits(d))

  private def str(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  def value(v: Any): Long = v match {
    case null => 0x5DEECE66DL
    case x: Byte => tag(1, x.toLong)
    case x: Short => tag(1, x.toLong)
    case x: Int => tag(1, x.toLong)
    case x: Long => tag(1, x)
    case x: Float => number(x.toDouble)
    case x: Double => number(x)
    case x: java.math.BigDecimal => number(x.doubleValue)
    case x: scala.math.BigDecimal => number(x.toDouble)
    case x: String => tag(3, str(x))
    case x: Boolean => tag(4, if (x) 1L else 0L)
    case x: java.sql.Timestamp =>
      tag(5, x.getTime / 1000 * 1000000L + x.getNanos / 1000 % 1000000L)
    case x: java.time.Instant => tag(5, x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      tag(5, i.getEpochSecond * 1000000L + i.getNano / 1000)
    case x: java.sql.Date => tag(6, x.toLocalDate.toEpochDay)
    case x: java.time.LocalDate => tag(6, x.toEpochDay)
    case x: Array[Byte] => tag(9, str(new String(x, "ISO-8859-1")))
    case x: Row => tag(8, (0 until x.length).foldLeft(17L)((h, i) => mix(h * 31 + value(x.get(i)))))
    case x: scala.collection.Map[_, _] =>
      tag(10, x.iterator.map { case (k, w) => mix(value(k) * 31 + value(w)) }.sum)
    case x: Iterable[_] => tag(7, x.foldLeft(17L)((h, e) => mix(h * 31 + value(e))))
    case x => tag(11, str(x.toString))
  }
}
