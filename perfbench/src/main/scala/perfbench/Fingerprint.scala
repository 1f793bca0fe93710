package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row

/** Order-insensitive result fingerprint: `<rows>:<hex>`, where hex is
  * the sum mod 2^64 of a 64-bit hash per canonical row plus a hash of
  * the sorted column names. Columns are taken in name order, as the
  * oracle comparison does. Non-integral numbers are rounded to nine
  * significant digits; a date reads as its midnight timestamp, as the
  * oracle comparison does. `tools/expected.py` computes the same
  * canonical form from DuckDB's Python values; the two must stay
  * byte-identical.
  */
object Fingerprint {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)
  private val tsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS")

  def number(bd: JBigDecimal): String = {
    val s = bd.stripTrailingZeros
    if (s.signum == 0) "0"
    else if (s.scale <= 0) s.toBigIntegerExact.toString
    else bd.round(mc).stripTrailingZeros.toPlainString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d))

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "true" else "false"
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case bd: JBigDecimal => number(bd)
    case bd: scala.math.BigDecimal => number(bd.bigDecimal)
    case ts: java.sql.Timestamp => "t:" + tsFmt.format(ts.toInstant.atOffset(ZoneOffset.UTC))
    case i: Instant => "t:" + tsFmt.format(i.atOffset(ZoneOffset.UTC))
    case l: LocalDateTime => "t:" + tsFmt.format(l)
    case d: java.sql.Date => value(d.toLocalDate)
    case d: LocalDate => "t:" + tsFmt.format(d.atStartOfDay)
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("m{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def hash64(s: String): Long =
    ByteBuffer.wrap(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))).getLong

  def of(columns: Seq[String], rows: Iterator[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = hash64(order.map(columns).mkString("|"))
    var n = 0L
    rows.foreach { r =>
      sum += hash64(order.map(i => value(r.get(i))).mkString("|"))
      n += 1
    }
    f"$n:$sum%016x"
  }

  def of(df: org.apache.spark.sql.DataFrame): String =
    of(df.columns.toSeq, df.collect().iterator)
}
