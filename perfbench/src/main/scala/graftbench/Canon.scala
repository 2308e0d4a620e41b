package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive result hash, computed identically by
  * `perfbench/oracle.py` over DuckDB results so the benchmark can check
  * every op's output against the DuckDB oracle.
  *
  * Columns are taken in name order (as `tools/check.py` compares them);
  * each row becomes one string of canonical cells, the first 8 bytes of
  * its MD5 are summed mod 2^64 over all rows, and the hash is the MD5 of
  * the sorted column names plus that sum.  Cell canonicalisation follows
  * check.py's equality: NULL and NaN are equal, a whole-valued float or
  * decimal equals the integer, other floats compare by IEEE bits.
  */
object Canon {
  private val Null = "∅"

  def cell(v: Any): String = v match {
    case null => Null
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case d: java.math.BigDecimal => dec(d)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }

  private def dbl(x: Double): String =
    if (x.isNaN) Null
    else if (!x.isInfinite && x == math.floor(x) && math.abs(x) < 9.007199254740992e15) x.toLong.toString
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x))

  private def dec(d: java.math.BigDecimal): String = {
    val s = d.stripTrailingZeros
    if (s.scale <= 0) s.toBigIntegerExact.toString else s.toPlainString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def md5(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  def hash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => cell(r.get(i))).mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(md5(line), 0, 8).getLong
    }
    hex(md5(columns.sorted.mkString(",") + ":" + java.lang.Long.toUnsignedString(sum)))
  }
}
