package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.DataFrame

/** Type-strict hash of a query result, the comparison of
  * `tools/selfcheck.py` as one digest. It is the only implementation of the
  * hash: `expected.py` has DuckDB write each oracle result to parquet and
  * hashes it here, through Spark's reader (`Main --mode hash`).
  *  - columns sorted by name; rows in the order they are collected, so a
  *    result that loses its final ORDER BY does not match;
  *  - integers and floating values never hash alike (`i` vs `f` prefix),
  *    the int-vs-float strictness of `tools/selfcheck.py`;
  *  - floats compare bitwise as float64, with -0.0 folded into 0.0 and NaN
  *    treated as null, as selfcheck's `==`/`isna` compare does;
  *  - decimals hash as their float64 value (DuckDB and Spark disagree on
  *    decimal precision, not on value); dates as midnight timestamps. */
object Canon {
  private val Sep = "\u001f"

  def hash(df: DataFrame): String = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name)
    val digests = df.collect().map { r =>
      sha256(order.map(i => if (r.isNullAt(i)) "N" else value(r.get(i))).mkString(Sep))
    }
    sha256(order.map(i => fields(i).name).mkString(Sep) + "\n" + digests.mkString("\n"))
  }

  private def float(d: Double): String =
    if (d.isNaN) "N"
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(if (d == 0.0) 0.0 else d))

  private def value(v: Any): String = v match {
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: Float => float(x.toDouble)
    case x: Double => float(x)
    case x: java.math.BigDecimal => float(x.doubleValue)
    case x: Boolean => if (x) "b1" else "b0"
    case x: String => "s" + x
    case x: java.sql.Timestamp =>
      "t" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.Instant =>
      "t" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case x: java.sql.Date => "t" + x.toLocalDate.toEpochDay * 86400000000L
    case x: java.time.LocalDate => "t" + x.toEpochDay * 86400000000L
    case x: Array[Byte] => "x" + x.map(b => f"${b & 0xff}%02x").mkString
    case x => "?" + x
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
