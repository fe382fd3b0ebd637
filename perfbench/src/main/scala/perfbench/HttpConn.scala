package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, IOException, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

/** One keep-alive HTTP/1.1 connection to the server. Each request goes out
  * in a single write; the response must carry a Content-Length. Socket
  * options are the JDK defaults, so the transport is measured as a plain
  * client sees it.
  */
final class HttpConn(port: Int) extends AutoCloseable {
  private var sock: Socket = _
  private var in: InputStream = _

  private def connect(): Unit = {
    close()
    sock = new Socket()
    sock.connect(new InetSocketAddress("127.0.0.1", port), 10000)
    sock.setSoTimeout(60000)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  }

  /** (status, body). An I/O failure is thrown, never retried (a retried
    * write could apply twice); the next call opens a fresh connection.
    */
  def call(method: String, path: String, body: String = ""): (Int, String) = {
    val payload = body.getBytes(StandardCharsets.UTF_8)
    val head = s"$method $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${payload.length}\r\n\r\n"
    val msg = new ByteArrayOutputStream(head.length + payload.length)
    msg.write(head.getBytes(StandardCharsets.US_ASCII)); msg.write(payload)
    val bytes = msg.toByteArray
    try {
      if (sock == null) connect()
      sock.getOutputStream.write(bytes)
      sock.getOutputStream.flush()
      read()
    } catch { case e: IOException => close(); throw e }
  }

  private def line(): String = {
    val b = new ByteArrayOutputStream(64)
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new IOException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(StandardCharsets.US_ASCII)
  }

  private def read(): (Int, String) = {
    val status = line().split(" ", 3)(1).toInt
    var length = 0
    var close = false
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      val (k, v) = (h.substring(0, i).trim.toLowerCase, h.substring(i + 1).trim)
      if (k == "content-length") length = v.toInt
      if (k == "transfer-encoding") throw new IOException(s"unsupported transfer-encoding $v")
      if (k == "connection" && v.equalsIgnoreCase("close")) close = true
      h = line()
    }
    val body = in.readNBytes(length)
    if (body.length < length) throw new IOException("truncated body")
    if (close) this.close()
    (status, new String(body, StandardCharsets.UTF_8))
  }

  def close(): Unit = {
    if (sock != null) try sock.close() catch { case _: IOException => () }
    sock = null
  }
}
