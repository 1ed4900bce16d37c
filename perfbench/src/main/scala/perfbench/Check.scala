package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Output checks: a row count plus an order-insensitive content hash.
  *
  * Each row is rendered canonically (doubles to 9 significant digits, so the
  * last-bit noise of a re-ordered floating-point sum cannot flip the hash;
  * array and map elements sorted, since collected arrays carry no order
  * contract), hashed to 64 bits, and the row hashes are summed, so the
  * digest ignores row order but not duplicate rows. */
object Check {
  final case class Digest(rows: Long, hash: String) {
    override def toString: String = s"$rows,$hash"
  }

  def digest(df: DataFrame): Digest = {
    val (n, h) = df.rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L; var h = 0L
      it.foreach { r =>
        n += 1
        val d = md.digest(canon(r).getBytes(StandardCharsets.UTF_8))
        h += java.nio.ByteBuffer.wrap(d).getLong
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Digest(n, f"$h%016x")
  }

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(",")
    Digest(n.toLong, h)
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", "\u0001", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0" else if (d.isInfinite) d.toString else f"$d%.8e"
}
