package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup

/** Streaming MinHash near-dup detection — the batch LSH pipeline
  * ([[Dedup.minhashLsh]]) reshaped for a document STREAM: an arriving doc
  * is checked against everything that arrived before it, online, without
  * re-scanning the corpus. The ingest-side half of a training-data
  * pipeline's dedup (the reference is a streaming engine; its users run
  * exactly this shape), complementing [[Dedup.exactStreaming]]'s
  * first-arrival exact dedup.
  *
  * Same math as batch: identical shingle hashing ([[Dedup.hash31]]'s
  * md5-prefix contract), identical LCG MinHash coefficients
  * ([[Dedup.minhashCoeffs]], seed 42), identical band keys, identical
  * signature-agreement threshold — so on the same data in id order the
  * emitted pairs equal [[Dedup.minhashAccepted]]'s (StreamingDedupSpec
  * pins the set equality on real testdata). Two deliberate deviations:
  *
  *  - The SIGNATURE is computed per row with higher-order functions (one
  *    array_min per hash over the row's own shingle array) instead of the
  *    batch explode + 128-column hash-aggregate: stateless, no shuffle,
  *    no streaming-aggregation mode restrictions. Batch keeps the
  *    explode+agg because it rebalances giant documents across cores;
  *    a stream's unit of parallelism is already the document.
  *  - The hot-bucket cap is ONLINE: a bucket's state holds its first
  *    `maxBucket` arrivals, later arrivals in that bucket neither compare
  *    nor join it. Batch [[Dedup.capBuckets]] can see a bucket's FINAL
  *    membership and excludes over-cap buckets entirely; a stream cannot
  *    know the future. First-`cap` is the online analogue (same O(cap²)
  *    bound per bucket).
  *
  * State per bucket: up to `maxBucket` (id, signature) members —
  * `maxBucket * (8 + numHashes*4)` bytes, RocksDB-backed and sharded by
  * bucket key across executors at scale; the state IS the LSH index.
  * Emitted rows are `(__lid, __rid)` with lid the earlier arrival; a pair
  * may emit from several shared buckets — `.distinct()` downstream, the
  * same dedup batch candidatePairs applies.
  */
object StreamingDedup {

  private val P31 = Dedup.P31

  /** Attribution counters for the online LSH index (local-mode bench
    * instrumentation, same contract as [[EngineProfile]]): how much work
    * the bucket state actually does — arrivals ingested, duplicate
    * deliveries absorbed, signature comparisons performed, pairs
    * emitted, arrivals turned away by the online cap. The bench
    * snapshots this after the catalog sweep so the biggest streaming
    * entry's cost attributes to comparisons vs machinery.
    */
  object Profile {
    import java.util.concurrent.atomic.AtomicLong
    val arrivals = new AtomicLong
    val dupDeliveries = new AtomicLong
    val comparisons = new AtomicLong
    val pairsEmitted = new AtomicLong
    val overflows = new AtomicLong
    val stateCalls = new AtomicLong
    def reset(): Unit =
      Seq(arrivals, dupDeliveries, comparisons, pairsEmitted, overflows,
        stateCalls).foreach(_.set(0))
    def snapshot: String =
      s"arrivals=${arrivals.get} dupDeliveries=${dupDeliveries.get} " +
        s"comparisons=${comparisons.get} pairsEmitted=${pairsEmitted.get} " +
        s"overflows=${overflows.get} stateCalls=${stateCalls.get}"
  }

  /** `__lid` sentinel emitted when a bucket is already at `maxBucket` and
    * turns an arrival away: past this point the stream's first-cap
    * semantics diverge from batch [[Dedup.capBuckets]] (which drops the
    * whole over-cap bucket), so any batch-oracle comparison is invalid.
    * Never collides with a real id (ids are non-negative in every source).
    */
  val OverflowMarker: Long = Long.MinValue

  /** The per-row MinHash signature as ONE codegen'd column (array of
    * `numHashes` longs), bit-identical to the batch aggregate's: same
    * shingle positions (`sequence(1, greatest(len-k+1, 1))`, short texts
    * hash their whole tail), same md5-prefix shingle hash (incl. the
    * mod-P fold), same LCG mins. The mins come from ONE generated
    * shingles-x-hashes loop ([[graft.functions.ArrayMath.minhashSig]]) —
    * the earlier `numHashes` separate `array_min(transform(...))`
    * columns re-walked the shingle array per hash through interpreted
    * lambda dispatch and dominated the streaming replay's cost.
    */
  def signatureCol(textCol: String, k: Int, numHashes: Int): Column =
    Dedup.signatureCol(textCol, k, numHashes)

  /** Streaming near-dup PAIRS over a streaming frame with `idCol`
    * (BIGINT, assumed monotone with arrival for batch-parity; any order
    * runs, first-arrival-wins applies) and `textCol`. Output columns
    * `(__lid, __rid)`.
    */
  def minhashStreamingPairs(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 5, numHashes: Int = 128, bands: Int = 16,
                            threshold: Double = 0.8,
                            maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(bands <= 255, s"bands = $bands: the band key is one byte")
    val rpb = numHashes / bands
    val banded = bandedRows(df, idCol, textCol, k, numHashes, bands, rpb)

    import banded.sparkSession.implicits._
    val fn = (_: Array[Byte], rows: Iterator[(Array[Byte], Long, Array[Byte])],
              state: GroupState[Array[Byte]]) => {
      var members = state.getOption.map(unpack(_, numHashes)).getOrElse(Vector.empty)
      val out = Vector.newBuilder[(Long, Long)]
      Profile.stateCalls.incrementAndGet()
      // ascending id within the batch: deterministic arrival order, and
      // the order that matches the batch pipeline's lid < rid
      rows.toSeq.sortBy(_._2).foreach { case (_, id, sig) =>
        Profile.arrivals.incrementAndGet()
        // duplicate delivery of an EXISTING member (replayed batch, dup
        // input row) is silently ignored regardless of capacity — only a
        // genuinely NEW arrival turned away is an overflow
        if (members.exists(_._1 == id)) Profile.dupDeliveries.incrementAndGet()
        else if (members.size >= maxBucket) {
          // hot-bucket overflow marker (lid = OverflowMarker): the online
          // first-cap deviates from batch capBuckets beyond this point, so
          // the batch oracle is no longer valid — consumers comparing
          // against a batch replay must fail loudly instead of surfacing
          // an opaque hash mismatch
          out += ((OverflowMarker, id))
          Profile.overflows.incrementAndGet()
        } else {
          members.foreach { case (mid, msig) =>
            Profile.comparisons.incrementAndGet()
            if (sigAgreement(msig, sig, numHashes) >= threshold) {
              out += ((mid, id)); Profile.pairsEmitted.incrementAndGet()
            }
          }
          members = members :+ (id -> sig)
        }
      }
      state.update(pack(members, numHashes))
      out.result().iterator
    }
    banded
      .as[(Array[Byte], Long, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF("__lid", "__rid")
  }

  /** The banded shuffle frame shared by both engines: `(__bucket, __id,
    * __sigb)` rows, everything heavier than the id in COMPACT BINARY.
    *
    *  - `__sigb` is the signature packed 4 bytes per min ([[graft.functions.ArrayMath.packInts]]
    *    — mins are `(a*x+b) % P31 < 2^31`, so the narrow pack is
    *    injective and 4-byte-group equality IS min equality): half the
    *    shuffle and state bytes of the r12–r19 8-byte pack, which itself
    *    replaced the boxed `Seq[Long]` ride (~10M boxed longs per sf0.1
    *    replay). 16 band rows carry each doc's signature, so signature
    *    width is ~94% of this stream's shuffle payload (guide §2.3
    *    "narrower types", "shuffle fewer bytes").
    *  - `__bucket` is `1 + rpb*4` BYTES — the band index byte plus that
    *    band's packed mins sliced straight out of `__sigb` — replacing
    *    the r12–r19 decimal-string key (`"b,min1,...,min8"`, ~90 chars at
    *    the catalog's numHashes=128/bands=16): ~2.7x fewer key bytes
    *    through the exchange and the state-store key codec, zero string
    *    building in the hot projection. The mapping (band, mins) -> key
    *    is INJECTIVE both ways, so bucket membership — and therefore
    *    candidate comparisons, the online cap, and the emitted pair set —
    *    is bit-identical to the string form (StreamingDedupSpec pins the
    *    batch parity; the bench oracle hash-checks both engines).
    */
  private def bandedRows(df: DataFrame, idCol: String, textCol: String,
                         k: Int, numHashes: Int, bands: Int, rpb: Int): DataFrame =
    df.where(col(textCol).isNotNull)
      .withColumn("__sigb",
        graft.functions.ArrayMath.packInts(signatureCol(textCol, k, numHashes)))
      .select(col(idCol).cast("long").as("__id"), col("__sigb"),
        explode(array((0 until bands).map { b =>
          concat(lit(Array(b.toByte)),
            substring(col("__sigb"), b * rpb * 4 + 1, rpb * 4))
        }: _*)).as("__bucket"))
      .select(col("__bucket"), col("__id"), col("__sigb"))

  /** Fraction of mins on which two packed signatures agree — two mins are
    * equal iff their 4 big-endian bytes are equal ([[bandedRows]]). */
  private def sigAgreement(a: Array[Byte], b: Array[Byte], numHashes: Int): Double = {
    var eq = 0; var i = 0
    while (i < numHashes) {
      var same = true; var j = i * 4
      while (same && j < i * 4 + 4) { same = a(j) == b(j); j += 1 }
      if (same) eq += 1
      i += 1
    }
    eq.toDouble / numHashes
  }

  /** [[minhashStreamingPairs]] on the `transformWithState` engine with a
    * CONSOLIDATED bucket blob (r19, VERDICT r18 #1). The r12–r18 layout
    * kept each member as its own `ListState` element (append-only, O(1)
    * write — the asymmetry the reference's bucket index exploits,
    * src/storage/index/bucket_index.rs), but the 100× scale record
    * measured the real cost driver elsewhere: with ~7.64M touched buckets
    * averaging ~1 member each, the per-KEY overhead of the public
    * `ListState` surface (a RocksDB range iterator per `get()` plus the
    * per-element codec round-trip) charged ~85 µs to every touched
    * bucket and made this the repo's only super-linear slope (154.8 vs
    * the FMGWS twin's 74.6 on counter-identical work —
    * BENCH_sf10_r18.json `tws_slope_attribution`; the provider was
    * exonerated by a control run). This layout stores the bucket as ONE
    * `ValueState[Array[Byte]]` blob in the FMGWS engine's exact pack
    * format: a touched bucket costs one point `get()` + one `put()` per
    * trigger regardless of member count — the state-shape twin of
    * [[minhashStreamingPairs]], so the engines differ only in API
    * machinery and the slope gap isolates `transformWithState` itself.
    * Measured r19 at 100× (BENCH_sf10_tws_r19.json, counter-identical
    * work): TWS/FMGWS wall ratio 1.99 (ListState layout, r18) → 1.62
    * (this layout); the residual per-touched-key API floor is pinned by
    * TWSPROBE_r19.json. Engine policy: FMGWS stays the shipping
    * default; this row exists for API parity.
    * Whole-blob rewrite is O(bucket²) bytes over a bucket's lifetime,
    * the same bound FMGWS carries — capped by `maxBucket`.
    *
    * Math, arrival order, cap semantics, overflow marker, and emitted
    * pair set are IDENTICAL to [[minhashStreamingPairs]]
    * (StreamingDedupSpec pins engine equality), so the batch oracle
    * verifies this engine too. Requires the RocksDB provider (column
    * families) — set by this method, like [[SlidingWindowsTws]].
    */
  def minhashStreamingPairsTws(df: DataFrame, idCol: String, textCol: String,
                               k: Int = 5, numHashes: Int = 128, bands: Int = 16,
                               threshold: Double = 0.8,
                               maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(bands <= 255, s"bands = $bands: the band key is one byte")
    val rpb = numHashes / bands
    // Session-level side effect, needed at query start (see
    // [[StateStoreConf]]): bounded callers wrap build+run in
    // StateStoreConf.withSaved so later queries see the session default.
    StateStoreConf.setRocksDb(df.sparkSession)
    val banded = bandedRows(df, idCol, textCol, k, numHashes, bands, rpb)

    import banded.sparkSession.implicits._
    banded
      .as[(Array[Byte], Long, Array[Byte])]
      .groupByKey(_._1)
      .transformWithState(
        new MinhashBucketProcessor(numHashes, threshold, maxBucket),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF("__lid", "__rid")
  }

  /** Consolidated LSH bucket state: the whole membership as ONE
    * [[pack]]-format blob — a point read and a point write per touched
    * bucket per trigger. See [[minhashStreamingPairsTws]]. */
  private final class MinhashBucketProcessor(numHashes: Int, threshold: Double,
                                             maxBucket: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Array[Byte], (Array[Byte], Long, Array[Byte]), (Long, Long)] {

    @transient private var members: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      members = getHandle.getValueState[Array[Byte]]("members",
        org.apache.spark.sql.Encoders.BINARY,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Array[Byte], rows: Iterator[(Array[Byte], Long, Array[Byte])],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
      Profile.stateCalls.incrementAndGet()
      // one point read per touched bucket per trigger — the comparisons
      // need every member anyway
      var existing = Option(members.get()).map(unpack(_, numHashes))
        .getOrElse(Vector.empty)
      var grew = false
      val out = Vector.newBuilder[(Long, Long)]
      rows.toSeq.sortBy(_._2).foreach { case (_, id, sig) =>
        Profile.arrivals.incrementAndGet()
        if (existing.exists(_._1 == id)) Profile.dupDeliveries.incrementAndGet()
        else if (existing.size >= maxBucket) {
          out += ((OverflowMarker, id))
          Profile.overflows.incrementAndGet()
        } else {
          existing.foreach { case (mid, msig) =>
            Profile.comparisons.incrementAndGet()
            if (sigAgreement(msig, sig, numHashes) >= threshold) {
              out += ((mid, id)); Profile.pairsEmitted.incrementAndGet()
            }
          }
          existing = existing :+ (id -> sig)
          grew = true
        }
      }
      // write only when membership actually changed: dup-delivery-only and
      // overflow-only triggers leave the blob (and the changelog) untouched
      if (grew) members.update(pack(existing, numHashes))
      out.result().iterator
    }
  }

  /** Streaming embedding near-dup PAIRS — [[Dedup.embeddingLshAccepted]]
    * reshaped for a vector stream: an arriving embedding is checked
    * against every earlier arrival in its hyperplane bucket, online.
    * Identical math to batch: same integer quantization
    * ([[Dedup.quantizeEmbedding]]), same sign-bit bucket
    * ([[Dedup.embeddingBucket]] — seed-7 planes), same exact quantized
    * cosine in the same IEEE expression — so on in-order data the pair
    * set equals the batch pipeline's (StreamingDedupSpec pins it). The
    * online first-`maxBucket` cap deviation is the same as
    * [[minhashStreamingPairs]]'s. State per bucket: up to `maxBucket`
    * (id, norm2, qvec) members = `maxBucket * (dim+2) * 8` bytes; the
    * state IS the LSH index, sharded by bucket across executors.
    */
  def embeddingStreamingPairs(df: DataFrame, idCol: String, embCol: String,
                              threshold: Double = 0.99, planes: Int = 16,
                              dim: Int = 64,
                              maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    // the quantized vector rides the shuffle PACKED (one binary memcpy
    // per row) — as Seq[Long] the Dataset encoder boxed 64 longs per row
    // (the same boxing the minhash path shed at r12); values can be
    // negative and unbounded-ish, so the 8-byte pack, not the narrow one
    val q = df
      .where(col(embCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        Dedup.quantizeEmbedding(col(embCol)).as("__q"))
      .withColumn("__bucket", Dedup.embeddingBucket(col("__q"), planes, dim))
      .withColumn("__qb", graft.functions.ArrayMath.packLongs(col("__q")))

    import q.sparkSession.implicits._
    val fn = (_: Long, rows: Iterator[(Long, Long, Array[Byte])],
              state: GroupState[Array[Byte]]) => {
      var members = state.getOption.map(unpackVec(_, dim)).getOrElse(Vector.empty)
      val out = Vector.newBuilder[(Long, Long)]
      rows.toSeq.sortBy(_._2).foreach { case (_, id, qb) =>
        if (members.exists(_._1 == id)) () // duplicate delivery: ignore
        else if (members.size >= maxBucket) {
          out += ((OverflowMarker, id)) // see minhashStreamingPairs
        } else {
          val qv = readLongsBE(qb, dim)
          var n2 = 0L; var i = 0
          while (i < dim) { n2 += qv(i) * qv(i); i += 1 }
          members.foreach { case (mid, mn2, mqv) =>
            var dot = 0L; var j = 0
            while (j < dim) { dot += mqv(j) * qv(j); j += 1 }
            // the batch verifier's expression verbatim: exact integer
            // dot/norms widened to double, one sqrt each — IEEE-identical
            if (dot.toDouble / (math.sqrt(mn2.toDouble) * math.sqrt(n2.toDouble))
                >= threshold) out += ((mid, id))
          }
          members = members :+ ((id, n2, qv))
        }
      }
      state.update(packVec(members, dim))
      out.result().iterator
    }
    q.select(col("__bucket"), col("__id"), col("__qb"))
      .as[(Long, Long, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF("__lid", "__rid")
  }

  /** The packed big-endian longs of [[graft.functions.ArrayMath.packLongs]],
    * read back into a primitive array. */
  private def readLongsBE(bytes: Array[Byte], n: Int): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = buf.getLong; i += 1 }
    out
  }

  /** Bucket state packed as longs: [n, (id, n2, qvec...)...]. */
  private def packVec(members: Vector[(Long, Long, Array[Long])], dim: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 * (1 + members.size * (dim + 2)))
    buf.putLong(members.size.toLong)
    members.foreach { case (id, n2, qv) =>
      buf.putLong(id); buf.putLong(n2); qv.foreach(buf.putLong)
    }
    buf.array()
  }

  private def unpackVec(bytes: Array[Byte], dim: Int): Vector[(Long, Long, Array[Long])] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getLong.toInt
    Vector.fill(n) {
      val id = buf.getLong
      val n2 = buf.getLong
      val qv = Array.fill(dim)(buf.getLong)
      (id, n2, qv)
    }
  }

  /** Bucket state packed as [n, (id, sigBytes)...] — signatures stay in
    * their packed big-endian byte form end to end (shuffle ride, state,
    * comparison), so pack/unpack are plain array copies. 4 bytes per min
    * since r20 ([[bandedRows]]): half the blob. */
  private def pack(members: Vector[(Long, Array[Byte])], numHashes: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + members.size * (8 + numHashes * 4))
    buf.putLong(members.size.toLong)
    members.foreach { case (id, sig) => buf.putLong(id); buf.put(sig) }
    buf.array()
  }

  private def unpack(bytes: Array[Byte], numHashes: Int): Vector[(Long, Array[Byte])] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getLong.toInt
    Vector.fill(n) {
      val id = buf.getLong
      val sig = new Array[Byte](numHashes * 4)
      buf.get(sig)
      id -> sig
    }
  }
}
