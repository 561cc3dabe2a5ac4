package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.io.{BufferedInputStream, ByteArrayOutputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

/** One closed-loop HTTP/1.1 client on a single keep-alive connection: it
  * sends its next request only after the previous reply arrived. A plain
  * blocking socket with TCP_NODELAY, the whole request written at once, so
  * the client adds as little and as steady a cost to each round trip as
  * it can. */
final class Http(port: Int) {
  private var sock: Socket = _
  private var out: OutputStream = _
  private var in: BufferedInputStream = _

  private def connect(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port))
    out = sock.getOutputStream
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  }

  private def line(): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(StandardCharsets.ISO_8859_1)
  }

  /** POST `body` to `path`; returns (status, reply body, round trip in ns). */
  def post(path: String, body: String): (Int, String, Long) = {
    if (sock == null) connect()
    val payload = body.getBytes(StandardCharsets.UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${payload.length}\r\n\r\n"
    val req = head.getBytes(StandardCharsets.ISO_8859_1) ++ payload
    val t0 = System.nanoTime()
    out.write(req)
    out.flush()
    val status = line().split(" ")(1).toInt
    var length = -1
    var close = false
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      val name = h.substring(0, i).trim.toLowerCase
      val value = h.substring(i + 1).trim
      if (name == "content-length") length = value.toInt
      if (name == "connection" && value.equalsIgnoreCase("close")) close = true
      h = line()
    }
    if (length < 0) throw new java.io.IOException("reply without Content-Length")
    val bytes = in.readNBytes(length)
    val ns = System.nanoTime() - t0
    if (close) { sock.close(); sock = null }
    (status, new String(bytes, StandardCharsets.UTF_8), ns)
  }
}

object Http {
  private val mapper = new ObjectMapper()

  def queryBody(sig: Array[Long], k: Int, maxCandidates: Int): String =
    s"""{"vector":[${sig.mkString(",")}],"k":$k,"max_candidates":$maxCandidates}"""

  /** `/query` reply -> (id, score) list. */
  def parseCandidates(body: String): Seq[Checks.Hit] = {
    val cs = mapper.readTree(body).get("candidates")
    (0 until cs.size()).map { i =>
      val c = cs.get(i); (c.get("id").asLong(), c.get("score").asDouble())
    }
  }

  def dedupBody(docs: Seq[(Long, String)], absorb: Boolean): String =
    docs.map { case (id, text) => s"""{"id":$id,"text":${mapper.writeValueAsString(text)}}""" }
      .mkString("""{"docs":[""", ",", s"""],"absorb":$absorb}""")

  /** `/dedup` reply -> (id, status) list in reply order. */
  def parseStatuses(body: String): Seq[(Long, String)] = {
    val ss = mapper.readTree(body).get("statuses")
    (0 until ss.size()).map { i =>
      val s = ss.get(i); (s.get("id").asLong(), s.get("status").asText())
    }
  }
}
