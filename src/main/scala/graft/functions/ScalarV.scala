package graft.functions

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Internal scalar model for the ML-aggregate family (`top*` / `*_cate*`).
  *
  * Mirrors the reference's scalar handling contract (not its code):
  *  - float formatting: 6 decimal places, trailing zeros and '.' trimmed
  *    (reference: src/runtime/operators/window/top/format.rs:3-11)
  *  - scalar-to-string: integers/bools verbatim, strings raw, floats via
  *    the float format (format.rs:13-34)
  *  - comparison: natural ordering within a type
  *    (src/runtime/operators/window/top/heap.rs:147-158)
  */
sealed trait SV extends Serializable with Ordered[SV] {
  def format: String
  override def compare(that: SV): Int = SV.cmp(this, that)
}

object SV {
  final case class LongV(v: Long) extends SV { def format: String = v.toString }
  final case class DblV(v: Double) extends SV { def format: String = formatFloat(v) }
  final case class StrV(v: String) extends SV { def format: String = v }
  final case class BoolV(v: Boolean) extends SV { def format: String = v.toString }

  /** %.6f then trim trailing zeros and trailing '.', empty -> "0".
    *
    * `%.6f` rounds half-up at the 6th decimal — not the exact binary
    * value but the decimal digits the JDK prints for it, which lie within
    * half an ulp of it. So when no half-way point k.5e-6 lies within a few
    * ulps of `v`, rounding `v * 1e6` gives the same digits, and the fast
    * path builds them directly; otherwise (near-ties, |v| >= 1e9, NaN,
    * infinities) it falls back to the formatter. Negative values,
    * including -0.0 and tiny negatives that round to zero, keep their '-'
    * as `%.6f` does. */
  def formatFloat(v: Double): String = {
    val a = math.abs(v)
    if (a < 1e9) {
      val x = a * 1e6
      val fl = math.floor(x)
      val frac = x - fl
      // covers the product's rounding error and the printed digits' distance from v
      val margin = 2e6 * math.ulp(a) + math.ulp(x)
      if (math.abs(frac - 0.5) > margin) {
        val r = fl.toLong + (if (frac > 0.5) 1L else 0L)
        return plain(java.lang.Double.compare(v, 0.0) < 0, r)
      }
    }
    formatted(v)
  }

  /** `r` millionths as `[-]int[.frac]` with the fraction's trailing zeros trimmed. */
  private def plain(neg: Boolean, r: Long): String = {
    val sb = new java.lang.StringBuilder(24)
    if (neg) sb.append('-')
    sb.append(r / 1000000L)
    var f = r % 1000000L
    if (f != 0) {
      var digits = 6
      while (f % 10 == 0) { f /= 10; digits -= 1 }
      sb.append('.')
      val fs = java.lang.Long.toString(f)
      var z = digits - fs.length
      while (z > 0) { sb.append('0'); z -= 1 }
      sb.append(fs)
    }
    sb.toString
  }

  private def formatted(v: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == '0') end -= 1
    if (end > 0 && s.charAt(end - 1) == '.') end -= 1
    val t = s.substring(0, end)
    if (t.isEmpty) "0" else t
  }

  def cmp(a: SV, b: SV): Int = (a, b) match {
    case (LongV(x), LongV(y)) => java.lang.Long.compare(x, y)
    case (StrV(x), StrV(y))   => x.compareTo(y)
    case (BoolV(x), BoolV(y)) => java.lang.Boolean.compare(x, y)
    case (x: SV, y: SV)       => java.lang.Double.compare(toDouble(x), toDouble(y))
  }

  def toDouble(s: SV): Double = s match {
    case LongV(v) => v.toDouble
    case DblV(v)  => v
    case BoolV(v) => if (v) 1.0 else 0.0
    case StrV(v)  => try v.toDouble catch { case _: NumberFormatException => Double.NaN }
  }

  /** Descending ordering (used by the top-k family). */
  object Desc extends Ordering[SV] { def compare(a: SV, b: SV): Int = cmp(b, a) }
  object Asc extends Ordering[SV] { def compare(a: SV, b: SV): Int = cmp(a, b) }

  /** Convert a Catalyst internal value of the given type to SV; null -> None. */
  def fromCatalyst(value: Any, dt: DataType): Option[SV] = {
    if (value == null) return None
    dt match {
      case ByteType            => Some(LongV(value.asInstanceOf[Byte].toLong))
      case ShortType           => Some(LongV(value.asInstanceOf[Short].toLong))
      case IntegerType         => Some(LongV(value.asInstanceOf[Int].toLong))
      case LongType            => Some(LongV(value.asInstanceOf[Long]))
      case FloatType           => Some(DblV(value.asInstanceOf[Float].toDouble))
      case DoubleType          => Some(DblV(value.asInstanceOf[Double]))
      case _: DecimalType      => Some(DblV(value.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble))
      case StringType          => Some(StrV(value.asInstanceOf[UTF8String].toString))
      case BooleanType         => Some(BoolV(value.asInstanceOf[Boolean]))
      case TimestampType       => Some(LongV(value.asInstanceOf[Long])) // micros
      case DateType            => Some(LongV(value.asInstanceOf[Int].toLong))
      case _                   => None
    }
  }
}
