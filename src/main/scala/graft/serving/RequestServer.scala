package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** HTTP feature-serving endpoint — the reference's request source/sink
  * pair (src/runtime/functions/source/request_source.rs:38-190: axum
  * server, `POST /request` with a keyed JSON payload, response completed
  * with the feature row; src/runtime/functions/sink/request_sink.rs).
  *
  * `POST /request` body `{"key": "<entity key>"[, "ts_ms": <event ms>]}`.
  * With a `live` [[ServingBuffer]] wired, every window aggregate is
  * re-evaluated AT the request's timestamp (`ts_ms`, default: the key's
  * newest buffered event) against the buffered rows — the reference's
  * request-path semantics (window_request_operator.rs:90-300), never stale
  * by an emission interval. Keys with no buffered rows fall back to the
  * latest feature row from the [[FeatureStore]] the streaming query keeps
  * upserting, and concurrent live lookups drain into one evaluation pass
  * through a [[RequestCoalescer]]. Without `live`, lookups serve the
  * store row directly.
  * Unknown keys get 404; malformed payloads 400.
  *
  * Built on the JDK's HttpServer (no extra dependencies); JSON via
  * Jackson, which Spark already ships.
  */
final class RequestServer(store: FeatureLookup, port: Int = 0,
                          live: Option[LiveBuffer] = None,
                          workers: Int = 8) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  /** Live-path micro-burst coalescer (reference request batching,
    * request_source.rs:38-49); present whenever a live buffer is wired.
    * At low concurrency its inline gate evaluates on the calling thread,
    * so an idle server pays no queue hop. Exposed for bench/spec
    * observability. */
  val coalescer: Option[RequestCoalescer] = live.map(new RequestCoalescer(_))

  /** Starts the server; returns the actual bound port. */
  def start(): Int = {
    // JDK HttpServer leaves Nagle's algorithm on, and a response is two
    // small writes (headers, then body): with client-side delayed ACKs
    // every lookup stalls ~40 ms. Must be set before the first HttpServer
    // class-load reads its static config.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/request", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try respond(ex) finally ex.close()
    })
    server.createContext("/request_batch", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try respondBatch(ex) finally ex.close()
    })
    coalescer.foreach(_.start())
    // a small worker pool, not the dispatcher thread: lookups are
    // sub-millisecond map reads, but concurrent clients must not serialize
    // behind one socket loop (the reference's axum server is concurrent).
    // Daemon threads: a crash between start() and stop() must not keep the
    // JVM alive on a non-daemon pool.
    pool = java.util.concurrent.Executors.newFixedThreadPool(workers,
      (r: Runnable) => {
        val t = new Thread(r, "graft-request-server")
        t.setDaemon(true); t
      })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  private var pool: java.util.concurrent.ExecutorService = _

  def stop(): Unit = {
    if (server != null) server.stop(0)
    coalescer.foreach(_.stop())
    if (pool != null) {
      pool.shutdown()
      // let in-flight handlers finish writing their responses
      pool.awaitTermination(2, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  private def respond(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { send(ex, 405, errJson("POST only")); return }
    var atTs: Option[Long] = None
    val key =
      try {
        val root = mapper.readTree(ex.getRequestBody)
        val t = root.get("ts_ms")
        if (t != null && t.isNumber) atTs = Some(t.asLong())
        val k = root.get("key")
        if (k == null || !k.isTextual) null else k.asText()
      } catch { case _: Exception => null }
    if (key == null) { send(ex, 400, errJson("body must be {\"key\": \"...\"}")); return }
    // live path: re-evaluate the window aggregates at the request's virtual
    // point from buffered rows (reference request semantics); fall back to
    // the last upserted feature row for keys with no buffer. Concurrent
    // lookups ride one evalBatch pass through the coalescer.
    val liveResult =
      coalescer match {
        case Some(c) =>
          try c.submit(key, atTs).join()
          catch {
            // only a torn-down coalescer is a 503; an evaluation error is
            // the server's bug and must surface as such
            case e: Exception if rootCause(e).getMessage == "coalescer stopped" =>
              send(ex, 503, errJson("serving shutting down")); return
            case e: Exception =>
              send(ex, 500, errJson(s"evaluation failed: ${rootCause(e).getMessage}")); return
          }
        case None => None
      }
    liveResult match {
      case Some((at, feats)) =>
        send(ex, 200, featuresJson(key, at, feats, live = true))
      case None => store.get(key) match {
        case None => send(ex, 404, errJson(s"no features for key $key"))
        case Some(entry) =>
          send(ex, 200, featuresJson(key, entry.tsMs, entry.values.toSeq, live = false))
      }
    }
  }

  /** `POST /request_batch` body `{"requests": [{"key": "..."[, "ts_ms": N]}, ...]}`
    * — the client-visible form of the reference's request batching: the
    * whole array is evaluated as ONE [[ServingBuffer.evalBatch]] pass
    * (request_source.rs:38-49 pushes all pending requests as one
    * RecordBatch). Response `{"results": [...]}` positionally, each entry
    * either the single-request success shape or `{"error": ...}`.
    */
  private def respondBatch(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { send(ex, 405, errJson("POST only")); return }
    val reqs: IndexedSeq[(String, Option[Long])] =
      try {
        val arr = mapper.readTree(ex.getRequestBody).get("requests")
        if (arr == null || !arr.isArray) null
        else (0 until arr.size()).map { i =>
          val o = arr.get(i)
          val k = o.get("key")
          if (k == null || !k.isTextual) throw new IllegalArgumentException
          val t = o.get("ts_ms")
          (k.asText(), if (t != null && t.isNumber) Some(t.asLong()) else None)
        }
      } catch { case _: Exception => null }
    if (reqs == null) {
      send(ex, 400, errJson("body must be {\"requests\": [{\"key\": \"...\"}, ...]}")); return
    }
    val liveResults: IndexedSeq[Option[(Long, Seq[(String, Any)])]] =
      live match {
        case Some(buf) => buf.evalBatch(reqs)
        case None      => reqs.map(_ => None)
      }
    val root = mapper.createObjectNode()
    val out = root.putArray("results")
    reqs.indices.foreach { i =>
      val (key, _) = reqs(i)
      out.add(liveResults(i) match {
        case Some((at, feats)) => featuresNode(key, at, feats, live = true)
        case None => store.get(key) match {
          case Some(entry) =>
            featuresNode(key, entry.tsMs, entry.values.toSeq, live = false)
          case None => errNode(s"no features for key $key")
        }
      })
    }
    send(ex, 200, mapper.writeValueAsString(root))
  }

  /** One response shape for both the live and the store-fallback path. */
  private def featuresJson(key: String, tsMs: Long,
                           feats: Seq[(String, Any)], live: Boolean): String =
    mapper.writeValueAsString(featuresNode(key, tsMs, feats, live))

  private def featuresNode(key: String, tsMs: Long,
                           feats: Seq[(String, Any)], live: Boolean): ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("key", key)
    root.put("ts_ms", tsMs)
    if (live) root.put("live", true)
    val fo = root.putObject("features")
    feats.sortBy(_._1).foreach { case (n, v) => putAny(fo, n, v) }
    root
  }

  private def putAny(o: ObjectNode, n: String, v: Any): Unit = v match {
    case null                 => o.putNull(n)
    case d: java.lang.Double  => o.put(n, d.doubleValue())
    case f: java.lang.Float   => o.put(n, f.doubleValue())
    case l: java.lang.Long    => o.put(n, l.longValue())
    case i: java.lang.Integer => o.put(n, i.longValue())
    case b: java.lang.Boolean => o.put(n, b.booleanValue())
    case s                    => o.put(n, String.valueOf(s))
  }

  private def rootCause(e: Throwable): Throwable =
    if (e.getCause != null && e.getCause != e) rootCause(e.getCause) else e

  private def errJson(msg: String): String =
    mapper.writeValueAsString(errNode(msg))

  private def errNode(msg: String): ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("error", msg)
    root
  }

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }
}
