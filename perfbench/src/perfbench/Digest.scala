package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Order-insensitive digest of a result: its row count plus the wrapping
  * sum of one 64-bit hash per row over every column.
  *
  * Columns enter in name order, so a reordered projection digests the
  * same. Doubles are bucketed to about eight significant digits and floats
  * to five, with bucket edges offset by irrational fractions: exact decimal
  * results never sit on an edge, so summation-order noise in the last bits
  * does not change the digest, while any real difference does.
  */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  def -(o: Digest): Digest = Digest(rows - o.rows, hash - o.hash)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":")
    Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Runs the result's full executed plan (every column, every sort) and
    * folds it on the executors; only one (rows, hash) pair per partition
    * reaches the driver. */
  def of(df: DataFrame): Digest = {
    val order = columnOrder(df.columns)
    val parts = df.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += row(r, order) }
      Iterator((n, h))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    parts.foldLeft(empty) { case (d, (n, h)) => d + Digest(n, h) }
  }

  /** Digest of rows already on the driver, identical to [[of]] on a
    * DataFrame holding the same rows under the same column names. */
  def ofRows(columns: Seq[String], rows: Iterable[Row]): Digest = {
    val order = columnOrder(columns.toArray)
    rows.foldLeft(empty)((d, r) => d + Digest(1L, row(r, order)))
  }

  private def columnOrder(cols: Array[String]): Array[(String, Int)] =
    cols.zipWithIndex.sortBy { case (c, i) => (c, i) }

  def row(r: Row, order: Array[(String, Int)]): Long = {
    val sb = new java.lang.StringBuilder
    order.foreach { case (name, i) =>
      sb.append(name).append('=')
      value(sb, if (r.isNullAt(i)) null else r.get(i))
      sb.append('\u0001')
    }
    val bytes = sb.toString.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
  }

  private val EdgeOffset = 0.6180339887498949
  private val DecadeOffset = 0.5772156649015329

  def bucket(x: Double, digits: Int): String =
    if (x.isNaN) "NaN"
    else if (x.isInfinite) (if (x > 0) "Inf" else "-Inf")
    else if (x == 0.0) "0"
    else {
      val e = math.floor(math.log10(math.abs(x)) + DecadeOffset).toInt
      val b = math.floor(x / math.pow(10, e - digits) + EdgeOffset).toLong
      s"$e~$b"
    }

  private def value(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("\u0000")
    case d: Double => sb.append(bucket(d, 8))
    case f: Float => sb.append(bucket(f.toDouble, 5))
    case b: Byte => sb.append(b.toLong)
    case s: Short => sb.append(s.toLong)
    case i: Int => sb.append(i.toLong)
    case l: Long => sb.append(l)
    case b: Boolean => sb.append(b)
    case d: java.math.BigDecimal => sb.append(d.stripTrailingZeros.toPlainString)
    case d: scala.math.BigDecimal => sb.append(d.bigDecimal.stripTrailingZeros.toPlainString)
    case s: String => sb.append('"').append(s).append('"')
    case b: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(b))
    case t: java.sql.Timestamp =>
      sb.append("ts").append(t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L)
    case t: java.time.Instant =>
      sb.append("ts").append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => sb.append("d").append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append("d").append(d.toEpochDay)
    case t: java.time.LocalDateTime => sb.append("ldt").append(t.toString)
    case r: Row =>
      sb.append('{')
      (0 until r.length).foreach { i =>
        value(sb, if (r.isNullAt(i)) null else r.get(i)); sb.append(',')
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      // map entries have no order: hash each entry, sum the hashes
      val h = m.iterator.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        value(e, k); e.append("->"); value(e, x)
        val b = e.toString.getBytes(UTF_8)
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 7L)
      }.sum
      sb.append("map").append(m.size).append('#').append(h)
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.foreach { x => value(sb, x); sb.append(',') }
      sb.append(']')
    case other => sb.append(other.toString)
  }
}
