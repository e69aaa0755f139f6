package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent digest of a collected result, the JVM twin of
  * `metrics.result_digest` in run.py's package: columns in name order,
  * each value rendered so that Spark and DuckDB agree on equal values
  * (numbers compare as doubles, integral ones below 2^53 print as
  * integers, -0.0 = 0.0, NaN = NaN, timestamps as epoch micros), one
  * SHA-256 per row, and the first 8 bytes of each summed modulo 2^64.
  */
object Canon {
  private val TwoTo53 = 9007199254740992.0

  private def num(d: Double): String = {
    if (d.isNaN) "nan"
    else if (d == 0.0) "0"
    else if (d == math.rint(d) && math.abs(d) < TwoTo53) d.toLong.toString
    else "d" + f"${java.lang.Double.doubleToLongBits(d)}%016x"
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def value(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => num(x.toDouble)
    case x: Short => num(x.toDouble)
    case x: Int => num(x.toDouble)
    case x: Long => if (math.abs(x.toDouble) >= TwoTo53) x.toString else num(x.toDouble)
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal => num(java.lang.Double.parseDouble(x.toString))
    case x: scala.math.BigDecimal => num(java.lang.Double.parseDouble(x.bigDecimal.toString))
    case s: String => "s" + s
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime => "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toString
    case d: java.time.LocalDate => "D" + d.toString
    case a: Array[Byte] => "b" + a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> value(x) }.sortBy(_._1)
        .map { case (k, x) => k + ":" + x }.mkString("{", ",", "}")
    case r: Row =>
      val names = r.schema.fieldNames
      names.indices.sortBy(i => names(i))
        .map(i => names(i) + ":" + value(r.get(i))).mkString("{", ",", "}")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  /** (rows, 16-hex-digit digest) of a collected result. */
  def digest(schema: StructType, rows: Array[Row]): (Long, String) = {
    val order = schema.fieldNames.indices.sortBy(i => schema.fieldNames(i)).toArray
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    rows.foreach { r =>
      val line = order.map(i => value(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }
}
