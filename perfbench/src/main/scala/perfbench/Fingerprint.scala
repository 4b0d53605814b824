package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Output fingerprint of a query: row count plus an order-insensitive hash.
  *
  * Columns are taken in name order; each row renders to one canonical
  * string (floating-point values rounded to 7 significant digits, so
  * summation order cannot move them; timestamps as epoch microseconds);
  * the hash is the sum, mod 2^64, of the first 8 bytes of each row's
  * SHA-256. `oracle_crosscheck.py` computes the
  * same fingerprint from DuckDB results. */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val names = df.columns.sorted
    val idx = names.map(df.columns.indexOf(_))
    val rows = df.collect()
    val sha = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val line = idx.map(i => canon(r.get(i))).mkString("|")
      val d = sha.digest(line.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    Fingerprint(rows.length.toLong, f"$sum%016x")
  }

  def canon(v: Any): String = v match {
    case null => "N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case b: Boolean => if (b) "t" else "f"
    case t: java.sql.Timestamp =>
      micros(Math.floorDiv(t.getTime, 1000L), t.getNanos)
    case t: java.time.LocalDateTime =>
      micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano)
    case d: java.sql.Date => d.toString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }

  /** Timestamps render as epoch microseconds (UTC). */
  private def micros(epochSecond: Long, nanos: Int): String =
    (epochSecond * 1000000L + nanos / 1000).toString

  /** `%.6e` of the exact binary value, rounded half-even (as C and Python
    * print it; Java's formatter rounds the shortest decimal form instead,
    * which differs at halfway digits). */
  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else {
      val r = new java.math.BigDecimal(d)
        .round(new java.math.MathContext(7, java.math.RoundingMode.HALF_EVEN))
      val digits = r.unscaledValue.abs.toString
      val exp = digits.length - 1 - r.scale
      (if (d < 0) "-" else "") + digits.head + "." +
        digits.tail.padTo(6, '0').take(6) + "e" + (if (exp < 0) "-" else "+") +
        f"${math.abs(exp)}%02d"
    }
}
