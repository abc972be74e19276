package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** A minimal HTTP/1.1 client over one persistent connection: one request
  * in one write, then the whole response, whose length the server always
  * states (`GraftServer` never sends an empty body). It leaves the socket
  * options at their defaults, as a plain client would.
  */
final class HttpConn(port: Int) extends AutoCloseable {
  private var socket: Socket = _
  private var in: InputStream = _

  private def open(): Unit = {
    socket = new Socket()
    socket.connect(new InetSocketAddress("127.0.0.1", port), 10000)
    socket.setSoTimeout(60000)
    in = new BufferedInputStream(socket.getInputStream, 65536)
  }

  /** (status, body) of one POST; reconnects after a failed exchange. */
  def post(pathAndQuery: String, body: Array[Byte]): (Int, Array[Byte]) = {
    if (socket == null) open()
    try {
      val head = s"POST $pathAndQuery HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        s"Content-Type: text/plain; charset=utf-8\r\nContent-Length: ${body.length}\r\n\r\n"
      val req = new ByteArrayOutputStream(head.length + body.length)
      req.write(head.getBytes(ISO_8859_1)); req.write(body)
      socket.getOutputStream.write(req.toByteArray)
      socket.getOutputStream.flush()
      readResponse()
    } catch {
      case e: java.io.IOException => close(); throw e
    }
  }

  private def line(): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(ISO_8859_1)
  }

  private def exactly(n: Int): Array[Byte] = {
    val buf = in.readNBytes(n)
    if (buf.length != n) throw new java.io.EOFException("short body")
    buf
  }

  private def readResponse(): (Int, Array[Byte]) = {
    val status = line().split(' ')(1).toInt
    var length = -1
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (h.take(i).trim.equalsIgnoreCase("content-length")) length = h.drop(i + 1).trim.toInt
      h = line()
    }
    if (length < 0) throw new java.io.IOException("response without a Content-Length")
    (status, exactly(length))
  }

  def close(): Unit = {
    if (socket != null) try socket.close() catch { case _: java.io.IOException => }
    socket = null
  }
}

object HttpConn {
  def utf8(b: Array[Byte]): String = new String(b, UTF_8)
}
