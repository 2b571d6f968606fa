package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.serving.{FeatureStore, RequestCoalescer, RequestServer, ServingBuffer}
import graft.streaming.SlidingWindows.{AggSpec, RangeMs, RowsN}

/** Cold-key request coalescing — the reference drains all pending HTTP
  * requests into ONE RecordBatch through the dataflow
  * (request_source.rs:38-49); our serving-side analog accumulates
  * concurrent lookups and evaluates each burst as one parallel
  * evalBatch pass. These tests pin (a) the coalescing itself,
  * deterministically, (b) end-to-end correctness under a concurrent
  * distinct-key burst, (c) the explicit batch endpoint.
  */
class RequestCoalescerSpec extends AnyFunSuite {

  private val specs = Seq(
    AggSpec("sum_10s", "sum", RangeMs(10000)),
    AggSpec("max_5", "max", RowsN(5)))

  /** 100 keys, 50 rows each, distinct value patterns per key. */
  private def filledBuffer(): ServingBuffer = {
    val buf = new ServingBuffer(specs)
    (0 until 100).foreach { k =>
      buf.append(s"k$k", (0 until 50).map { i =>
        (1704067200000L + 100L * i, Array((k * 31 + i % 7).toDouble), Array.empty[String])
      })
    }
    buf
  }

  test("a pre-accumulated burst of distinct keys evaluates as one batch") {
    val buf = filledBuffer()
    val c = new RequestCoalescer(buf, drainers = 1)
    // submit BEFORE start: the whole burst must coalesce into one drain
    val futures = (0 until 16).map(k => c.submit(s"k$k", None))
    c.start()
    val results = futures.map(_.get(10, TimeUnit.SECONDS))
    c.stop()
    assert(c.batches == 1L, s"expected one coalesced batch, got ${c.batches}")
    assert(c.largestBatch == 16L)
    // positional correctness: each result equals a direct eval
    (0 until 16).foreach { k =>
      assert(results(k) == buf.eval(s"k$k", None), s"k$k diverged")
    }
  }

  test("concurrent distinct-key HTTP burst: correct answers, coalesced evaluation") {
    val buf = filledBuffer()
    val server = new RequestServer(new FeatureStore, 0, Some(buf), workers = 16)
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val nKeys = 100
      val pool = Executors.newFixedThreadPool(16)
      val done = new CountDownLatch(nKeys)
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val bodies = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      (0 until nKeys).foreach { k =>
        pool.execute { () =>
          try {
            val resp = client.send(
              HttpRequest.newBuilder(URI.create(s"http://localhost:$port/request"))
                .POST(HttpRequest.BodyPublishers.ofString(s"""{"key": "k$k"}"""))
                .build(),
              HttpResponse.BodyHandlers.ofString())
            codes.add(resp.statusCode()); bodies.put(k, resp.body())
          } finally done.countDown()
        }
      }
      assert(done.await(30, TimeUnit.SECONDS))
      pool.shutdown()
      assert(codes.size == nKeys && codes.stream().allMatch(_ == 200))
      // every response carries the live evaluation of ITS key
      (0 until nKeys).foreach { k =>
        val Some((_, feats)) = buf.eval(s"k$k", None)
        val sum = feats.collectFirst { case ("sum_10s", v: Double) => v }.get
        assert(bodies.get(k).contains(s""""sum_10s":$sum"""),
          s"k$k response ${bodies.get(k)} missing sum_10s=$sum")
        assert(bodies.get(k).contains(""""live":true"""))
      }
      // every request rode the coalescer's adaptive path (inline when
      // idle, queued+batched under pressure — the split is
      // timing-dependent; the deterministic coalescing pin is the
      // pre-accumulated-burst test above)
      val c = server.coalescer.get
      assert(c.requests == nKeys.toLong,
        s"queued=${c.requests - c.inlineRequests} inline=${c.inlineRequests}")
    } finally server.stop()
  }

  test("saturation flips the adaptive gate: slow concurrent folds queue and batch") {
    // expensive evals: deep per-key buffers (each fold covers ~50k rows,
    // ~ms) and a DISTINCT atTs per request so the memo can't shortcut
    val specs = Seq(AggSpec("s", "sum", RowsN(50000)))
    val buf = new ServingBuffer(specs)
    val base = 1704067200000L
    (0 until 16).foreach { k =>
      buf.append(s"k$k", (0 until 50000).map(i =>
        (base + i, Array(1.0), Array.empty[String])))
    }
    val c = new RequestCoalescer(buf, drainers = 2).start()
    val pool = Executors.newFixedThreadPool(32)
    val futures = (0 until 64).map { r =>
      val p = new java.util.concurrent.CompletableFuture[c.Result]()
      pool.execute { () =>
        try p.complete(c.submit(s"k${r % 16}", Some(base + 49000 + r))
          .get(60, TimeUnit.SECONDS))
        catch { case e: Exception => p.completeExceptionally(e) }
      }
      p
    }
    val results = futures.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown(); c.stop()
    assert(results.forall(_.isDefined))
    // with 32 concurrent multi-ms folds against inlineLimit << 32, some
    // requests MUST have queued and drained as batches
    assert(c.requests == 64L)
    assert(c.batches >= 1 && c.requests - c.inlineRequests >= 1,
      s"gate never flipped: inline=${c.inlineRequests} batches=${c.batches}")
  }

  test("/request_batch evaluates the array in one pass, store-falls-back, 404s unknowns") {
    val buf = filledBuffer()
    val store = new FeatureStore
    store.upsert("storeonly", 42L, Map("sum_10s" -> 7.0))
    val server = new RequestServer(store, 0, Some(buf))
    val port = server.start()
    try {
      val client = HttpClient.newHttpClient()
      val body = """{"requests": [{"key": "k3"}, {"key": "storeonly"}, {"key": "nope"}]}"""
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/request_batch"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      val arr = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(resp.body()).get("results")
      assert(arr.size() == 3)
      val Some((_, feats)) = buf.eval("k3", None)
      val sum = feats.collectFirst { case ("sum_10s", v: Double) => v }.get
      assert(arr.get(0).get("features").get("sum_10s").asDouble() == sum)
      assert(arr.get(0).get("live").asBoolean())
      assert(arr.get(1).get("features").get("sum_10s").asDouble() == 7.0)
      assert(arr.get(1).get("live") == null)
      assert(arr.get(2).get("error") != null)
    } finally server.stop()
  }
}
