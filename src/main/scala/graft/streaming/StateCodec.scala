package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import graft.streaming.SlidingWindows.{KeyState, Needs, Tile}

/** Hand-rolled binary codec for engine state — the state-store hot path.
  * Every touched key re-serializes its state value once per trigger, so
  * codec speed IS the write amplification
  * floor; Kryo's class-graph walk costs several times a flat
  * length-prefixed layout (same reasoning as
  * [[graft.functions.BufCodec]] for the aggregate shuffle buffers).
  *
  * Tiles are NOT stored: they rebuild from the rows on decode. That
  * halves the bytes and is pruning-safe — the frame evaluator's interior
  * walk only ever folds tiles over buckets fully above the prune horizon
  * (partially-pruned buckets are re-read row-by-row at the frame edge,
  * rangeAcc), and rebuilt tiles cover exactly the retained rows.
  *
  * Row layout: ts i64 | seq i64 | nNum f64s | nStr strings
  * (-1 = null, else UTF-8 length + bytes).
  */
object StateCodec {

  private def writeRow(o: DataOutputStream,
                       r: (Long, Long, Array[Double], Array[String])): Unit = {
    o.writeLong(r._1); o.writeLong(r._2)
    var i = 0
    while (i < r._3.length) { o.writeDouble(r._3(i)); i += 1 }
    i = 0
    while (i < r._4.length) {
      val s = r._4(i)
      if (s == null) o.writeInt(-1)
      else { val b = s.getBytes("UTF-8"); o.writeInt(b.length); o.write(b) }
      i += 1
    }
  }

  private def readRow(in: DataInputStream, nNum: Int,
                      nStr: Int): (Long, Long, Array[Double], Array[String]) = {
    val ts = in.readLong(); val seq = in.readLong()
    val nums = new Array[Double](nNum)
    var i = 0
    while (i < nNum) { nums(i) = in.readDouble(); i += 1 }
    val strs = new Array[String](nStr)
    i = 0
    while (i < nStr) {
      val len = in.readInt()
      if (len >= 0) {
        val b = new Array[Byte](len); in.readFully(b)
        strs(i) = new String(b, "UTF-8")
      }
      i += 1
    }
    (ts, seq, nums, strs)
  }

  // ---- key state: scalars + buffer rows; tiles rebuilt ----------------

  def encodeKeyState(st: KeyState): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64 + st.buffer.length * 32)
    val o = new DataOutputStream(bos)
    o.writeLong(st.nextSeq); o.writeLong(st.emittedTs); o.writeLong(st.emittedSeq)
    o.writeInt(st.buffer.length)
    st.buffer.foreach(writeRow(o, _))
    o.flush(); bos.toByteArray
  }

  def decodeKeyState(bytes: Array[Byte], grans: Seq[Long], needs: Needs): KeyState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val st = new KeyState
    st.nextSeq = in.readLong(); st.emittedTs = in.readLong(); st.emittedSeq = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val r = readRow(in, needs.nNum, needs.nStr)
      st.buffer += r
      grans.foreach { g =>
        st.tiles.getOrElseUpdate(g, scala.collection.mutable.HashMap.empty)
          .getOrElseUpdate(Math.floorDiv(r._1, g) * g, new Tile(needs))
          .add(r._3, r._4)
      }
      i += 1
    }
    st
  }
}
