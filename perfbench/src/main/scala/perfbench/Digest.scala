package perfbench

import java.math.{MathContext, RoundingMode}

import org.apache.spark.sql.Row

import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a query result: the sum (mod 2^64) of a
  * 64-bit hash of each row's canonical text. Doubles are rounded to 10
  * significant digits first, because a shuffle may merge partial sums in a
  * different order from run to run and move the last bits of a double.
  */
object Digest {
  private val Sig = new MathContext(10, RoundingMode.HALF_EVEN)

  def of(rows: Iterator[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += hash64(canonical(r)))
    f"$sum%016x"
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0ddba11).toLong & 0xffffffffL)

  def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canonical).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig).stripTrailingZeros.toString
}
