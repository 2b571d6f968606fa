package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** One keep-alive HTTP/1.1 connection to 127.0.0.1 with blocking I/O in
  * the calling thread. The JDK `HttpClient` hands every request to its
  * selector and executor threads, and those wake-ups made up most of a
  * request's time and most of its run-to-run spread; here the timing holds
  * little besides the server's own work. Not thread-safe: one per client
  * thread. */
final class Conn(timeoutMs: Int) {
  private var sock: Socket = _
  private var port = -1
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _

  /** POSTs `body` to `/path`; returns the status and the response body. A
    * reused connection the server has closed is reopened once. */
  def post(p: Int, path: String, body: String): (Int, String) = {
    val reused = sock != null && port == p
    try exchange(p, path, body)
    catch {
      case e: IOException =>
        close()
        if (reused && !e.isInstanceOf[java.net.SocketTimeoutException]) exchange(p, path, body)
        else throw e
    }
  }

  private def exchange(p: Int, path: String, body: String): (Int, String) = {
    if (sock == null || port != p) open(p)
    val b = body.getBytes(UTF_8)
    out.write(s"POST /$path HTTP/1.1\r\nHost: 127.0.0.1\r\nContent-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n"
      .getBytes(ISO_8859_1))
    out.write(b)
    out.flush()
    val status = line().split(' ')(1).toInt
    var len = -1
    var closing = false
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      val (name, v) = (h.substring(0, i).trim.toLowerCase, h.substring(i + 1).trim)
      if (name == "content-length") len = v.toInt
      if (name == "connection" && v.equalsIgnoreCase("close")) closing = true
      h = line()
    }
    if (len < 0) throw new IOException("response without Content-Length")
    val buf = in.readNBytes(len)
    if (buf.length < len) throw new EOFException("response body cut short")
    if (closing) close()
    (status, new String(buf, UTF_8))
  }

  private def line(): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def open(p: Int): Unit = {
    close()
    val s = new Socket()
    s.setTcpNoDelay(true)
    s.setSoTimeout(timeoutMs)
    s.connect(new InetSocketAddress("127.0.0.1", p), timeoutMs)
    sock = s; port = p
    in = new BufferedInputStream(s.getInputStream, 1 << 16)
    out = new BufferedOutputStream(s.getOutputStream, 1 << 16)
  }

  def close(): Unit = if (sock != null) {
    try sock.close() catch { case _: IOException => () }
    sock = null
  }
}
