package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SlidingWindows._

/** The per-row frame walk: each distinct RANGE frame is walked once per
  * emitted row whatever the number of specs on it, the walk looks up only
  * the buckets a buffered row falls in, and the streaming ingest -> emit ->
  * prune -> encode/decode cycle leaves every emitted value bit-identical
  * to a state that was never pruned.
  */
class FrameWalkSpec extends AnyFunSuite {

  private val hour = 3600000L
  private val minute = 60000L
  private val t0 = 1704067200000L

  /** The backfill shape: four ML and plain aggregates on one 1 h frame. */
  private val backfillSpecs = Array(
    AggSpec("top3", "top", RangeMs(hour), 3),
    AggSpec("scw", "sum_cate_where", RangeMs(hour), cIdx = 0, wIdx = 1),
    AggSpec("avg", "avg", RangeMs(hour)),
    AggSpec("cnt", "count", RangeMs(hour)))

  private def rows(r: scala.util.Random, n: Int, spanMs: Long): Seq[(Long, Array[Double], Array[String])] =
    (0 until n).map { _ =>
      (t0 + (r.nextDouble() * spanMs).toLong,
        Array(r.nextGaussian() * 1000.0, if (r.nextBoolean()) 1.0 else 0.0),
        Array(Seq("a", "b", "c")(r.nextInt(3))))
    }.sortBy(_._1)

  private def build(rs: Seq[(Long, Array[Double], Array[String])], grans: Seq[Long],
                    needs: Needs): KeyState = {
    val st = new KeyState
    ingestChunk(st, rs.iterator, grans, needs)
    st
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  private def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall(i => same(a.get(i), b.get(i)))

  test("specs sharing a RANGE frame walk it once per emitted row") {
    val grans = Seq(minute)
    val rs = rows(new scala.util.Random(11), 400, 6 * hour)
    val needs = needsOf(backfillSpecs.toSeq, 2, 1)
    val four = build(rs, grans, needs)
    val one = build(rs, grans, needs)
    val solo = build(rs, grans, needs)
    val plan4 = new FoldPlan(backfillSpecs, needs, grans)
    val plan1 = new FoldPlan(backfillSpecs.take(1), needs, grans)
    four.buffer.indices.foreach { i =>
      val row = emitRow(four, i, "k", plan4)
      emitRow(one, i, "k", plan1)
      // one walk feeds every spec exactly what its own walk would
      backfillSpecs.zipWithIndex.foreach { case (s, k) =>
        assert(same(row.get(5 + k), evalSpec(solo, s, i, grans, needs)), s"row $i ${s.name}")
      }
    }
    assert(one.tileFolds > 0)
    assert(four.tileFolds == one.tileFolds,
      s"four specs on one frame folded ${four.tileFolds} tiles, one spec ${one.tileFolds}")
  }

  test("the walk looks up only buckets a buffered row falls in") {
    val grans = Seq(minute)
    val needs = needsOf(backfillSpecs.toSeq, 2, 1)
    val plan = new FoldPlan(backfillSpecs, needs, grans)
    for (seed <- 1 to 20) {
      // a sparse key: a few rows over two hours, 1 h frame, 1 min tiles
      val r = new scala.util.Random(seed)
      val st = build(rows(r, 3 + r.nextInt(5), 2 * hour), grans, needs)
      st.buffer.indices.foreach { i =>
        val ts = st.buffer(i)._1
        val nonEmpty = st.buffer.map(_._1).filter(t => t >= ts - hour && t <= ts)
          .map(Math.floorDiv(_, minute)).distinct.size
        val before = st.tileFolds
        emitRow(st, i, "k", plan)
        val folds = st.tileFolds - before
        assert(folds <= nonEmpty + 1,
          s"seed $seed row $i: $folds tile folds for $nonEmpty non-empty buckets")
      }
    }
  }

  test("ingest -> emit -> prune -> encode/decode keeps every value bit-identical to an unpruned state") {
    val grans = tileGrans(minute, Seq(5 * minute, hour))
    val specs = backfillSpecs ++ Array(
      AggSpec("sum20m", "sum", RangeMs(20 * minute)),
      AggSpec("std90m", "stddev", RangeMs(90 * minute)),
      AggSpec("top90m", "top", RangeMs(90 * minute), 2),
      AggSpec("med", "median", RangeMs(hour)),
      AggSpec("rows3", "sum", RowsN(3)))
    val needs = needsOf(specs.toSeq, 2, 1)
    val plan = new FoldPlan(specs, needs, grans)
    val maxRangeMs = 90 * minute
    val maxRows = 3
    val lateness = 10 * minute
    for (seed <- 1 to 10) {
      val r = new scala.util.Random(100 + seed)
      // clustered and sparse: bursts of rows (with ts ties) between gaps
      val rs = rows(r, 1500, 12 * hour).flatMap { row =>
        if (r.nextInt(8) == 0) Seq(row, (row._1, Array(r.nextGaussian(), 1.0), Array("b")))
        else Seq(row)
      }.filter(_ => r.nextInt(3) > 0)
      var st = new KeyState
      val ref = new KeyState
      val out = mutable.ArrayBuffer.empty[Row]
      var rest = rs
      while (rest.nonEmpty) {
        val (chunk, tail) = rest.splitAt(1 + r.nextInt(15))
        rest = tail
        // the engine's late-row filter, applied to both states
        val kept = chunk.filter(_._1 > st.emittedTs)
        ingestChunk(st, kept.iterator, grans, needs)
        ingestChunk(ref, kept.iterator, grans, needs)
        val wm = if (rest.isEmpty) FLUSH_TS else chunk.last._1 - lateness
        val unemitted = emitReady(st, "k", wm, plan, out)
        pruneEmitted(st, unemitted, maxRangeMs, maxRows)
        st = StateCodec.decodeKeyState(StateCodec.encodeKeyState(st), grans, needs)
      }
      assert(out.length == ref.buffer.length, s"seed $seed: every row emitted once")
      assert(st.buffer.length < ref.buffer.length / 2, s"seed $seed: pruning must drop rows")
      out.zipWithIndex.foreach { case (got, k) =>
        val want = emitRow(ref, k, "k", plan)
        assert(sameRow(got, want), s"seed $seed row $k: $got vs $want")
      }
    }
  }
}
