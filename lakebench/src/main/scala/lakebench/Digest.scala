package lakebench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.ZoneOffset

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive result digest under tools/check.py's hash rule, so a
  * collected result compares against digests pinned from the DuckDB
  * oracle. check.py hashes the result as pandas materialises it from
  * parquet; each cell here is rendered the way that pandas value renders:
  * integral columns holding a null become float64 (values print as
  * floats, nulls as NaN), doubles print as Python's `repr`, dates and
  * midnight timestamps print date-only. Columns are taken in name order,
  * cells joined by U+0001, rows sorted, joined by newlines, SHA-256.
  */
object Digest {
  private val Null = "\u0000NULL"

  final case class Pinned(rows: Long, sha256: String)

  def of(schema: StructType, rows: Seq[Row]): Pinned = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val render = cols.map { case (f, i) =>
      val hasNull = rows.exists(_.isNullAt(i))
      (r: Row) => cell(f.dataType, hasNull, if (r.isNullAt(i)) null else r.get(i))
    }
    val lines = rows.map(r => render.map(_(r)).mkString("\u0001"))
      .sorted(codePointOrder)
    val md = MessageDigest.getInstance("SHA-256")
    val hex = md.digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    Pinned(rows.size.toLong, hex)
  }

  private val codePointOrder: Ordering[String] = (a: String, b: String) => {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    java.util.Arrays.compare(x, y)
  }

  private def cell(t: DataType, colHasNull: Boolean, v: Any): String = t match {
    case ByteType | ShortType | IntegerType | LongType =>
      if (v == null) "NaN"
      else {
        val n = v.asInstanceOf[Number].longValue
        if (colHasNull) pyRepr(n.toDouble) else n.toString
      }
    case FloatType | DoubleType =>
      if (v == null) "NaN" else pyRepr(v.asInstanceOf[Number].doubleValue)
    case StringType => if (v == null) Null else v.toString
    case BooleanType => if (v == null) Null else if (v == true) "True" else "False"
    case _: DecimalType =>
      if (v == null) Null else v.asInstanceOf[java.math.BigDecimal].toString
    case DateType =>
      if (v == null) Null else v.asInstanceOf[java.sql.Date].toLocalDate.toString
    case TimestampType | TimestampNTZType =>
      if (v == null) Null
      else {
        val t = v match {
          case ts: java.sql.Timestamp => ts.toInstant.atOffset(ZoneOffset.UTC).toLocalDateTime
          case ldt: java.time.LocalDateTime => ldt
        }
        if (t.toLocalTime == java.time.LocalTime.MIDNIGHT) t.toLocalDate.toString
        else {
          val base = f"${t.toLocalDate}T${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
          val micros = t.getNano / 1000
          if (micros == 0) base else f"$base.$micros%06d"
        }
      }
    case other =>
      throw new IllegalArgumentException(s"no digest rendering for $other")
  }

  /** Python's `repr` of a float: the shortest decimal that reads back
    * as the same double, fixed notation for decimal exponents in
    * [-4, 16), scientific (`1e-05`, `1.5e+16`) outside it. */
  def pyRepr(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) if (d > 0) "inf" else "-inf"
    else if (d == 0.0) if (1.0 / d < 0) "-0.0" else "0.0"
    else {
      val exact = new java.math.BigDecimal(d)
      val short = (1 to 17).iterator
        .map(p => exact.round(new MathContext(p, RoundingMode.HALF_EVEN)))
        .find(_.doubleValue == d).get.stripTrailingZeros
      val digits = short.unscaledValue.abs.toString
      // value = 0.digits × 10^decpt
      val decpt = digits.length - short.scale
      val sign = if (d < 0) "-" else ""
      val body =
        if (decpt > -4 && decpt <= 16) {
          if (decpt <= 0) "0." + "0" * -decpt + digits
          else if (decpt >= digits.length) digits + "0" * (decpt - digits.length) + ".0"
          else digits.take(decpt) + "." + digits.drop(decpt)
        } else {
          val mant = if (digits.length == 1) digits else digits.head + "." + digits.tail
          val e = decpt - 1
          mant + (if (e < 0) f"e-${-e}%02d" else f"e+$e%02d")
        }
      sign + body
    }
}
