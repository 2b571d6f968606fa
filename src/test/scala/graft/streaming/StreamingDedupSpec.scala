package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Streaming MinHash dedup pins: signature parity with the batch
  * aggregate, pair-set parity with the batch LSH pipeline on real
  * testdata fed in id order, first-arrival orientation across
  * micro-batches, and the online bucket cap.
  */
class StreamingDedupSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(dir).isDirectory

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("per-row signature column == batch explode+aggregate signature") {
    assume(haveData)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").limit(200)
    val perRow = docs.select(col("doc_id"),
      StreamingDedup.signatureCol("text", 5, 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    // batch: same shingles through the 32-column min() hash-aggregate
    val sh = Dedup.shingleRows(docs, "doc_id", "text", 5)
    val agg = Dedup.minhashCoeffs(32).zipWithIndex.map { case ((a, b), i) =>
      org.apache.spark.sql.functions.min(
        (col("__x") * a + b) % Dedup.P31).as(s"m$i")
    }
    val batch = sh.groupBy("__id").agg(agg.head, agg.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 32).map(r.getLong).toVector).toMap
    assert(perRow.keySet == batch.keySet)
    perRow.foreach { case (id, sig) =>
      assert(sig == batch(id), s"doc $id signature diverged")
    }
  }

  test("streamed pairs == batch minhashAccepted on sf0.001 docs fed in id order") {
    assume(haveData)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(300)
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val expected = Dedup.minhashAccepted(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        k = 5, numHashes = 32, bands = 8, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val mem = MemoryStream[(Long, String)]
    val out = StreamingDedup.minhashStreamingPairs(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      k = 5, numHashes = 32, bands = 8, threshold = 0.8)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sdedup_pairs").trigger(Trigger.ProcessingTime(0)).start()
    try {
      docs.grouped(100).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("sdedup_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture must produce at least one near-dup pair")
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("pairs orient first-arrival across micro-batches; dup state survives batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val out = StreamingDedup.minhashStreamingPairs(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      k = 3, numHashes = 16, bands = 4, threshold = 0.9)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sdedup_arrival").trigger(Trigger.ProcessingTime(0)).start()
    val text = "the quick brown fox jumps over the lazy dog again and again"
    try {
      mem.addData((10L, text)); q.processAllAvailable()
      mem.addData((20L, text)); q.processAllAvailable() // later batch, same text
      mem.addData((5L, text)); q.processAllAvailable()  // SMALLER id, LATER arrival
    } finally q.stop()
    val pairs = spark.table("sdedup_arrival")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 20 dups 10; 5 arrives last so it is the NEWER side of both pairs:
    // first-arrival wins, not min-id
    assert(pairs == Set((10L, 20L), (10L, 5L), (20L, 5L)), s"got $pairs")
  }

  test("online bucket cap: arrivals beyond maxBucket neither compare nor join") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val out = StreamingDedup.minhashStreamingPairs(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      k = 3, numHashes = 16, bands = 4, threshold = 0.9, maxBucket = 2)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sdedup_cap").trigger(Trigger.ProcessingTime(0)).start()
    val text = "identical boilerplate text shared by every doc in the bucket"
    try {
      mem.addData((1L, text), (2L, text), (3L, text), (4L, text))
      q.processAllAvailable()
      // duplicate delivery of an EXISTING member while at cap (a batch
      // replay): silently absorbed — no spurious overflow marker for 1
      mem.addData((1L, text))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("sdedup_cap")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // members 1,2 fill the bucket (cap 2): the only REAL pair is (1,2);
    // docs 3,4 hit the full bucket, are excluded from candidate
    // generation, and each surfaces as a loud overflow marker so a
    // batch-oracle consumer can refuse the comparison instead of
    // hash-mismatching
    val M = StreamingDedup.OverflowMarker
    assert(pairs == Set((1L, 2L), (M, 3L), (M, 4L)), s"got $pairs")
  }

  test("band count is checked against the one-byte band key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    // 257 bands would wrap band 256 onto band 0's key byte
    def build(b: Int) = StreamingDedup.minhashStreamingPairs(docs, "doc_id", "text",
      numHashes = b, bands = b)
    build(255)
    val e = intercept[IllegalArgumentException](build(257))
    assert(e.getMessage.contains("one byte"), e.getMessage)
  }

  test("dedup state survives kill + restart: combined pairs exactly-once equal batch") {
    assume(haveData)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(200)
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val expected = Dedup.minhashAccepted(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        k = 5, numHashes = 32, bands = 8, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(expected.nonEmpty)

    // one run killed mid-stream + restarted, one run uninterrupted; a
    // pair legitimately emits once per SHARED BAND BUCKET, so the
    // exactly-once pin is multiset equality between the two runs (a
    // restart that replays or drops state changes occurrence counts)
    def runStream(kill: Boolean): Seq[(Long, Long)] = {
      val root = java.nio.file.Files.createTempDirectory("graft_sdd_ckpt_").toString
      val mem = MemoryStream[(Long, String)]
      val out = StreamingDedup.minhashStreamingPairs(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        k = 5, numHashes = 32, bands = 8, threshold = 0.8)
      def start() = out.writeStream.outputMode("append").format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.ProcessingTime(0)).start()
      val (h1, h2) = docs.splitAt(100)
      val q1 = start()
      var q2: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        mem.addData(h1.toSeq: _*); q1.processAllAvailable()
        if (kill) { q1.stop(); q2 = start() } else q2 = q1
        mem.addData(h2.toSeq: _*); q2.processAllAvailable()
      } finally {
        // stop BOTH on any path — an exception before q2 starts must not
        // leak the running q1 into the rest of the suite
        if (q2 != null && q2.isActive) q2.stop()
        if (q1.isActive) q1.stop()
      }
      spark.read.parquet(s"$root/out").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val killed = runStream(kill = true)
    val continuous = runStream(kill = false)
    assert(killed.toSet == expected,
      s"missing=${(expected -- killed.toSet).take(5)} extra=${(killed.toSet -- expected).take(5)}")
    assert(killed.groupBy(identity).view.mapValues(_.size).toMap ==
      continuous.groupBy(identity).view.mapValues(_.size).toMap,
      "restart changed pair occurrence counts (state lost or replayed)")
  }

  test("streamed embedding pairs == batch embeddingLshAccepted on sf0.001 vectors in id order") {
    assume(haveData)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // tau low enough for real signal: the driver embeddings are random
    // unit vectors (max pairwise cos ~0.5); planes=8 coarsens buckets so
    // same-bucket candidates exist
    val tau = 0.25
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

    val expected = Dedup.embeddingLshAccepted(
        emb.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = tau, planes = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val mem = MemoryStream[(Long, Seq[Float])]
    val out = StreamingDedup.embeddingStreamingPairs(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      threshold = tau, planes = 8, dim = 64)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sdedup_emb").trigger(Trigger.ProcessingTime(0)).start()
    try {
      emb.grouped(100).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("sdedup_emb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture must produce at least one near-dup pair")
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("embedding stream: first-arrival orientation and online cap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = StreamingDedup.embeddingStreamingPairs(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      threshold = 0.95, planes = 4, dim = 4, maxBucket = 2)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sdedup_emb_cap").trigger(Trigger.ProcessingTime(0)).start()
    val v = Seq(1f, 0f, 0f, 0f)
    try {
      mem.addData((10L, v)); q.processAllAvailable()
      mem.addData((5L, v)); q.processAllAvailable()  // smaller id, later arrival
      mem.addData((7L, v)); q.processAllAvailable()  // beyond cap: no compare
    } finally q.stop()
    val pairs = spark.table("sdedup_emb_cap")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 7 overflowed the cap-2 bucket: no compare, loud marker instead
    assert(pairs == Set((10L, 5L), (StreamingDedup.OverflowMarker, 7L)),
      s"got $pairs")
  }
}
