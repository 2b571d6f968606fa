package graft.streaming

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MedianMath, SV}
import graft.streaming.SlidingWindows._

/** Parity of the bounded `top(v, n)` payload ([[TopNum]] / [[TopStr]] in
  * tiles and frame accumulators) with the count-map evaluation it
  * replaced, which stays here as the oracle: merge value -> count over the
  * frame, sort descending, take n with duplicates. Pinned along the way:
  * 0.0 and -0.0 share one count-map key and print with the sign of the
  * first zero folded into the frame, and NaN sorts last (each NaN is its
  * own key, as boxed NaNs never compare equal).
  */
class TopBoundedSpec extends AnyFunSuite {

  // ---- oracle: the count-map top --------------------------------------

  private def takeWithDups(sorted: Iterator[(String, Long)], n: Int): String = {
    val out = new mutable.ArrayBuffer[String]
    var remaining = n
    while (remaining > 0 && sorted.hasNext) {
      val (s, cnt) = sorted.next()
      var i = math.min(cnt, remaining.toLong)
      while (i > 0) { out += s; i -= 1; remaining -= 1 }
    }
    out.mkString(",")
  }

  private final class CountMap {
    val num = mutable.HashMap.empty[Double, Long]
    val str = mutable.HashMap.empty[String, Long]
    def add(v: Double): Unit = num.update(v, num.getOrElse(v, 0L) + 1L)
    def add(s: String): Unit = if (s != null) str.update(s, str.getOrElse(s, 0L) + 1L)
    def addAll(o: CountMap): Unit = {
      o.num.foreach { case (v, c) => num.update(v, num.getOrElse(v, 0L) + c) }
      o.str.foreach { case (s, c) => str.update(s, str.getOrElse(s, 0L) + c) }
    }
    def topNum(n: Int): String =
      takeWithDups(num.toSeq.sortBy(-_._1).iterator.map { case (v, c) => (SV.formatFloat(v), c) }, n)
    def topStr(n: Int): String =
      takeWithDups(str.toSeq.sortBy(_._1)(Ordering[String].reverse).iterator, n)
  }

  /** Frame evaluation the way the count-map engine did it, rows in order. */
  private def oracle(spec: AggSpec, frame: Seq[(Array[Double], Array[String])]): Any = {
    val m = new CountMap
    frame.foreach { case (nums, strs) =>
      if (spec.vStr) m.add(strs(spec.vIdx)) else m.add(nums(spec.vIdx))
    }
    spec.kind match {
      case "top" => if (spec.vStr) m.topStr(spec.n) else m.topNum(spec.n)
      case "topn_frequency" =>
        m.num.toSeq.sortWith { case ((v1, c1), (v2, c2)) =>
          if (c1 != c2) c1 > c2 else v1 > v2
        }.take(spec.n).map(e => SV.formatFloat(e._1)).mkString(",")
      case "distinct_count" => m.num.size.toDouble
      case "median" => MedianMath.exact(m.num)
    }
  }

  // ---- random inputs ---------------------------------------------------

  private val numPool = Array(0.0, -0.0, 1.0, 2.5, -3.0, 1e-9, -1e-9, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, 1234.5678, 7.0, 1e300, -1e-300)
  private val strPool = Array("a", "b", "bb", "", "zz", null)

  private def value(r: scala.util.Random, zeros: Boolean): Double = {
    val v = if (r.nextInt(3) == 0) numPool(r.nextInt(numPool.length))
            else (r.nextInt(11) - 5).toDouble
    if (!zeros && v == 0.0) 0.0 else v
  }

  private def str(r: scala.util.Random): String = strPool(r.nextInt(strPool.length))

  /** Stringly comparison: NaN equals NaN, and "0" differs from "-0". */
  private def same(a: Any, b: Any): Boolean = String.valueOf(a) == String.valueOf(b)

  // ---- the payload algebra --------------------------------------------

  test("bounded lists == count-map top over any fold of rows and merged tiles") {
    for (seed <- 1 to 400) {
      val r = new scala.util.Random(seed)
      val n = r.nextInt(7) // 0 included
      val cap = n + r.nextInt(4) // tiles sized by the largest n on the slot
      def tile(): (TopNum, TopStr, CountMap) = {
        val (tn, ts, cm) = (new TopNum(cap), new TopStr(cap), new CountMap)
        (0 until r.nextInt(12)).foreach { _ =>
          val v = value(r, zeros = true); tn.add(v); cm.add(v)
          val s = str(r); if (s != null) ts.add(s); cm.add(s)
        }
        (tn, ts, cm)
      }
      def mergedTile(): (TopNum, TopStr, CountMap) = {
        val (tn, ts, cm) = (new TopNum(cap), new TopStr(cap), new CountMap)
        (0 until 1 + r.nextInt(4)).foreach { _ =>
          val (a, b, c) = tile(); tn.addAll(a); ts.addAll(b); cm.addAll(c)
        }
        (tn, ts, cm)
      }
      val (accN, accS, want) = (new TopNum(n), new TopStr(n), new CountMap)
      (0 until r.nextInt(10)).foreach { _ =>
        r.nextInt(3) match {
          case 0 =>
            val v = value(r, zeros = true); accN.add(v); want.add(v)
            val s = str(r); if (s != null) accS.add(s); want.add(s)
          case 1 => val (a, b, c) = tile(); accN.addAll(a); accS.addAll(b); want.addAll(c)
          case _ => val (a, b, c) = mergedTile(); accN.addAll(a); accS.addAll(b); want.addAll(c)
        }
      }
      assert(accN.render == want.topNum(n), s"seed $seed numeric n=$n cap=$cap")
      assert(accS.render == want.topStr(n), s"seed $seed string n=$n cap=$cap")
    }
  }

  test("pinned: 0.0 and -0.0 merge and print as the first zero; NaN sorts last") {
    def top(n: Int, vs: Double*): String = { val t = new TopNum(n); vs.foreach(t.add); t.render }
    assert(top(3, -0.0, 0.0, 0.0) == "-0,-0,-0")
    assert(top(3, 0.0, -0.0, 1.0) == "1,0,0")
    assert(top(4, Double.NaN, Double.NegativeInfinity, Double.NaN, 2.0) == "2,-Infinity,NaN,NaN")
    assert(top(2, 5.0, -1e-9, -0.0) == "5,-0")
    assert(top(0, 1.0, 2.0) == "")
    assert(top(9, 3.0, 1.0, 3.0) == "3,3,1")
  }

  // ---- through the engine's frame evaluation ---------------------------

  private val specs = Seq(
    AggSpec("t3", "top", RangeMs(30000), 3),
    AggSpec("t5", "top", RangeMs(30000), 5), // second n on the same slot
    AggSpec("t0", "top", RangeMs(30000), 0),
    AggSpec("t50", "top", RangeMs(30000), 50), // n larger than most frames
    AggSpec("t2r", "top", RowsN(4), 2),
    AggSpec("tf", "topn_frequency", RangeMs(30000), 2),
    AggSpec("dc", "distinct_count", RangeMs(30000)),
    AggSpec("md", "median", RangeMs(30000)),
    AggSpec("t2long", "top", RangeMs(90000), 2),
    AggSpec("ts2", "top", RangeMs(30000), 2, vIdx = 0, vStr = true),
    AggSpec("ts3r", "top", RowsN(6), 3, vIdx = 0, vStr = true),
    AggSpec("t4b", "top", RangeMs(30000), 4, vIdx = 1))
  private val grans = Seq(1000L, 5000L, 20000L)
  private val needs = needsOf(specs, nNum = 2, nStr = 1)

  private def rows(r: scala.util.Random, zeros: Boolean): IndexedSeq[(Long, Array[Double], Array[String])] =
    (0 until 150 + r.nextInt(150)).map { _ =>
      (r.nextInt(240000).toLong, Array(value(r, zeros), value(r, zeros)), Array(str(r)))
    }

  private def frameOf(st: KeyState, spec: AggSpec, up: Int): Seq[(Array[Double], Array[String])] = {
    val buf = st.buffer
    val (from, to) = spec.frame match {
      case RangeMs(len) =>
        val hi = buf(up)._1
        (buf.indexWhere(_._1 >= hi - len), buf.lastIndexWhere(_._1 == hi))
      case RowsN(n) => (math.max(0, up - n), up)
    }
    (from to to).map(i => (buf(i)._3, buf(i)._4))
  }

  private def checkAll(st: KeyState, label: String): Unit =
    st.buffer.indices.foreach { i =>
      specs.foreach { spec =>
        val got = evalSpec(st, spec, i, grans, needs)
        val want = oracle(spec, frameOf(st, spec, i))
        assert(same(got, want), s"$label row $i ${spec.name}: got $got want $want")
      }
    }

  test("engine frames == count-map oracle: out-of-order chunks, tiles rebuilt in buffer order") {
    for (seed <- 1 to 25) {
      val r = new scala.util.Random(1000 + seed)
      val st = new KeyState
      rows(r, zeros = true).grouped(40).foreach(c => ingestChunk(st, c.iterator, grans, needs))
      // decode rebuilds every tile in buffer order, the order the oracle folds
      checkAll(StateCodec.decodeKeyState(StateCodec.encodeKeyState(st), grans, needs),
        s"seed $seed decoded")
    }
  }

  test("engine frames == count-map oracle: in-order ingest with signed zeros") {
    for (seed <- 1 to 15) {
      val r = new scala.util.Random(2000 + seed)
      val st = new KeyState
      rows(r, zeros = true).sortBy(_._1).grouped(50)
        .foreach(c => ingestChunk(st, c.iterator, grans, needs))
      checkAll(st, s"seed $seed in-order")
    }
  }

  test("engine frames == count-map oracle: tiles built at ingest from out-of-order chunks") {
    for (seed <- 1 to 15) {
      val r = new scala.util.Random(3000 + seed)
      val st = new KeyState
      rows(r, zeros = false).grouped(30).foreach(c => ingestChunk(st, c.iterator, grans, needs))
      checkAll(st, s"seed $seed live")
    }
  }

  test("request-mode point evaluation == count-map oracle") {
    for (seed <- 1 to 15) {
      val r = new scala.util.Random(4000 + seed)
      val in = rows(r, zeros = true)
      val sorted = in.sortBy(_._1) // stable: ts ties keep input order
      (0 until 10).foreach { _ =>
        val at = r.nextInt(260000).toLong
        val got = evalAtPoint(in, specs, at)
        val upto = sorted.filter(_._1 <= at)
        specs.zip(got).foreach { case (spec, g) =>
          val frame = spec.frame match {
            case RangeMs(len) => upto.filter(_._1 >= at - len)
            case RowsN(n)     => upto.takeRight(n + 1)
          }
          val want = oracle(spec, frame.map(x => (x._2, x._3)))
          assert(same(g, want), s"seed $seed at $at ${spec.name}: got $g want $want")
        }
      }
    }
  }

  test("needs: tiles carry top lists sized by the largest RANGE n per slot, count maps only for count kinds") {
    assert(needs.topNum.toSeq == Seq(50, 4))
    assert(needs.topStr.toSeq == Seq(2))
    assert(needs.cmNum.toSeq == Seq(true, false))
    assert(needs.cmStr.toSeq == Seq(false))
    val topOnly = needsOf(Seq(AggSpec("t", "top", RangeMs(1000), 3),
      AggSpec("s", "top", RangeMs(1000), 2, vStr = true)), 1, 1)
    assert(!topOnly.cmNum(0) && !topOnly.cmStr(0), "top alone builds no count map")
    val t = new Tile(topOnly)
    t.add(Array(1.0), Array("x"))
    assert(t.cmNum(0) == null && t.cmStr(0) == null && t.topNum(0).render == "1")
  }
}
