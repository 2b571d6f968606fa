package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SV

/** `SV.formatFloat` must print exactly what `%.6f` plus zero-trimming
  * prints: the engine's `top`/`*_cate` strings and the batch ML
  * aggregates share it, so one differing digit changes every oracle hash
  * built from them.
  */
class FormatFloatSpec extends AnyFunSuite {

  private def viaFormatter(v: Double): String = {
    val s = String.format(Locale.ROOT, "%.6f", Double.box(v))
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == '0') end -= 1
    if (end > 0 && s.charAt(end - 1) == '.') end -= 1
    val t = s.substring(0, end)
    if (t.isEmpty) "0" else t
  }

  private def check(v: Double): Unit = {
    val want = viaFormatter(v)
    val got = SV.formatFloat(v)
    assert(got == want, s"value ${java.lang.Double.toString(v)} " +
      s"(bits ${java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(v))})")
  }

  test("edge cases: signed zeros, tiny negatives, ties at the 7th decimal, huge, subnormal") {
    val edge = Seq(0.0, -0.0, -1e-9, 1e-9, -4.9e-7, -5e-7, 5e-7, 4.99999e-7, 1e-7,
      Double.MinPositiveValue, -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      2.2250738585072E-308, -1e-310,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1e15, -1e15, 1e16, 1e17, 1e21, 1e22, 1e23, 2e23, 8.41e21, 1.7976931348623157e308,
      999999999.9999995, 999999999.9999994, 1e9, 1e9 - 1e-6, 4503599627370496.5,
      123456.7654325, 0.1234565, 0.0000005, 2.0000005, 1.2345675, 99.9999995,
      0.15, 0.125, 1.0000005, 3.5, 1234.5678, 9.9999995, -9.9999995, -0.0000005)
    edge.foreach(check)
    // every 7th-decimal half-way tie k.5e-6 around several magnitudes
    val r = new java.util.SplittableRandom(11)
    (0 until 200000).foreach { _ =>
      val k = r.nextLong(1L, 2000000000000L)
      val s = s"${k / 1000000}.${"%06d".format(k % 1000000)}5"
      check(s.toDouble); check(-s.toDouble)
    }
  }

  test("one million seeded random doubles print exactly as %.6f") {
    val r = new java.util.SplittableRandom(20261017L)
    var i = 0
    while (i < 1000000) {
      val v = i % 4 match {
        case 0 => java.lang.Double.longBitsToDouble(r.nextLong()) // any bit pattern
        case 1 => (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(-12, 13))
        case 2 => r.nextLong(-10000000000L, 10000000000L) / 1e6 // 6-decimal grid
        case _ => r.nextLong(-100000000000L, 100000000000L) / 1e7 // 7-decimal grid
      }
      check(v)
      i += 1
    }
  }
}
