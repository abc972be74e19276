package graft.api

import java.io.{BufferedInputStream, EOFException, IOException, InputStream, OutputStream}
import java.net.{ServerSocket, Socket, URI, URISyntaxException}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.Locale
import java.util.concurrent.{ConcurrentHashMap, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

import graft.link.LinkOptions
import graft.output.{JsonMmoOutput, MmoOutput, XmlMmoOutput}
import graft.output.JsonMmoOutput.{js => jsonStr}
import graft.pipeline.{DocKernel, DocTriples, Pipeline}
import graft.umls.UmlsTables

/** mmserver parity (/root/reference/mmserver/mmserver.pl:1): a
  * long-running annotation service holding ONE SparkSession and ONE
  * broadcast table set across requests — the reference keeps a warm
  * Prolog engine behind PrologBeans for the same reason: per-request
  * startup cost (table load) is paid once.
  *
  * The per-request path never schedules a Spark job: the document kernel
  * is a pure function over the broadcast tables, so a request is a
  * direct in-process call (exactly mmserver's execution shape; the
  * cluster is for corpus-scale batch, the server for interactive
  * single-document calls).
  *
  * Transport: a blocking HTTP/1.1 server on a `java.net.ServerSocket`,
  * no dependencies. One accept thread hands each connection to its own
  * thread from a cached pool, so idle keep-alive connections never starve
  * a new one. Connections are keep-alive unless the client sends
  * `Connection: close` or speaks HTTP/1.0, and close after 30 s idle.
  * Every socket runs with `TCP_NODELAY` and every response (status line,
  * `Content-Type`, `Content-Length`, body) leaves in one write, so no
  * response waits for the client's delayed ACK. A request body needs a
  * `Content-Length` (411 otherwise); a malformed request is a 400 and
  * closes the connection; an unknown path is a 404.
  *
  * Endpoints:
  *  - `POST /annotate?id=X[&flags=-i%20-J%20dsyn][&format=F]` body =
  *    plain text → JSON array of mentions (default), or the reference
  *    output the client picked per-request, mmserver-style: `jsonf` =
  *    a JSON array of --JSONf document trees, `xmlf` = the
  *    `<MMOs>`-framed --XMLf stream, `mmo` = --machine_output term
  *    lines (unknown formats are a 400)
  *  - `POST /triples?id=X` body = plain text → JSON array of triples
  *  - `GET /health` → `{"status":"ok","requests":N}`
  *
  * Per-request `flags` accept the same reference CLI surface as
  * [[Graft.parseFlags]] (mmserver's per-request option strings).
  */
object GraftServer {

  final class Handle private[api] (listener: ServerSocket, acceptor: Thread,
      pool: ExecutorService, conns: java.util.Set[Socket], counter: AtomicLong) {
    def port: Int = listener.getLocalPort
    def requestCount: Long = counter.get()
    /** Closes the listening socket and every open connection. */
    def stop(): Unit = {
      listener.close()
      // the socket closes for good only once the blocked accept returns;
      // after that no connection can join `conns`
      acceptor.join()
      pool.shutdownNow()
      conns.forEach(s => closeQuietly(s))
    }
  }

  /** A request the server answers with `status` and then closes on. */
  private final class BadRequest(val status: Int, msg: String) extends Exception(msg)

  private final case class Request(uri: URI, body: String, keepAlive: Boolean)

  // the JDK HttpServer's idle interval
  private val IdleTimeoutMs = 30000
  // a request line plus headers beyond this is a 400, not a growing buffer
  private val MaxHeadBytes = 65536

  private def closeQuietly(s: Socket): Unit =
    try s.close() catch { case _: IOException => }

  private def queryParams(uri: URI): Map[String, String] = {
    val q = Option(uri.getRawQuery).getOrElse("")
    q.split('&').filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> java.net.URLDecoder.decode(v, "UTF-8")
    }.toMap
  }

  /** One response as one byte array: status line, headers, body. */
  private def response(status: Int, body: String, close: Boolean): Array[Byte] = {
    val b = body.getBytes(UTF_8)
    val reason = status match {
      case 200 => "OK"
      case 400 => "Bad Request"
      case 404 => "Not Found"
      case 411 => "Length Required"
      case _ => "Internal Server Error"
    }
    val head = (s"HTTP/1.1 $status $reason\r\n" +
      "Content-Type: application/json; charset=utf-8\r\n" +
      s"Content-Length: ${b.length}\r\n" +
      (if (close) "Connection: close\r\n" else "") + "\r\n").getBytes(ISO_8859_1)
    val msg = java.util.Arrays.copyOf(head, head.length + b.length)
    System.arraycopy(b, 0, msg, head.length, b.length)
    msg
  }

  private def errorBody(msg: String): String = s"""{"error":${jsonStr(msg)}}"""

  /** The next request on a connection, or None at a clean end of stream
    * between requests.
    */
  private def readRequest(in: InputStream, out: OutputStream): Option[Request] = {
    var budget = MaxHeadBytes
    // one head line without its CRLF (or bare LF); null at the end of the
    // stream before its first byte
    def line(): String = {
      var c = in.read()
      if (c < 0) return null
      val b = new java.lang.StringBuilder(64)
      while (c != '\n') {
        if (c < 0) throw new EOFException("connection closed inside a request head")
        budget -= 1
        if (budget < 0) throw new BadRequest(400, "request head too large")
        b.append(c.toChar)
        c = in.read()
      }
      val n = b.length
      if (n > 0 && b.charAt(n - 1) == '\r') b.setLength(n - 1)
      b.toString
    }
    var start = line()
    // a client may send empty lines between requests (RFC 9112 §2.2)
    while (start != null && start.isEmpty) start = line()
    if (start == null) return None
    val parts = start.split(' ')
    if (parts.length != 3 || parts(0).isEmpty || !parts(2).startsWith("HTTP/1."))
      throw new BadRequest(400, "malformed request line")
    val uri = try new URI(parts(1)) catch {
      case _: URISyntaxException => throw new BadRequest(400, "malformed request target")
    }
    val headers = scala.collection.mutable.Map.empty[String, String]
    var h = line()
    while (h != null && h.nonEmpty) {
      val i = h.indexOf(':')
      if (i <= 0) throw new BadRequest(400, "malformed header line")
      headers(h.substring(0, i).trim.toLowerCase(Locale.ROOT)) = h.substring(i + 1).trim
      h = line()
    }
    if (h == null) throw new EOFException("connection closed inside a request head")
    if (headers.contains("transfer-encoding"))
      throw new BadRequest(411, "a request body needs a Content-Length")
    val length = headers.get("content-length") match {
      case None => 0
      case Some(v) => v.toIntOption.filter(_ => v.forall(_.isDigit))
        .getOrElse(throw new BadRequest(400, s"bad Content-Length: $v"))
    }
    // curl asks before sending a body over 1 KB; without this it waits 1 s
    if (length > 0 && headers.get("expect").exists(_.equalsIgnoreCase("100-continue")))
      out.write("HTTP/1.1 100 Continue\r\n\r\n".getBytes(ISO_8859_1))
    val body = in.readNBytes(length)
    if (body.length < length) throw new EOFException("connection closed inside a request body")
    val connection = headers.getOrElse("connection", "").toLowerCase(Locale.ROOT)
    val keepAlive = parts(2) == "HTTP/1.1" && !connection.split(',').exists(_.trim == "close")
    Some(Request(uri, new String(body, UTF_8), keepAlive))
  }

  /** Serves one connection until the client closes it, asks to, idles
    * out, sends a malformed request, or the server stops.
    */
  private def serve(s: Socket, answer: Request => (Int, String)): Unit =
    try {
      s.setTcpNoDelay(true)
      s.setSoTimeout(IdleTimeoutMs)
      val in = new BufferedInputStream(s.getInputStream)
      val out = s.getOutputStream
      var open = true
      while (open) {
        val req = try readRequest(in, out) catch {
          case e: BadRequest =>
            out.write(response(e.status, errorBody(e.getMessage), close = true))
            None
        }
        req.foreach { r =>
          val (status, body) = answer(r)
          out.write(response(status, body, close = !r.keepAlive))
        }
        open = req.exists(_.keepAlive)
      }
    } catch {
      case _: IOException => // the client went away or idled out, or stop()
    }

  /** Start the service; `port = 0` binds an ephemeral port (tests). */
  def start(spark: SparkSession, port: Int = 0,
      baseOpts: LinkOptions = LinkOptions.default,
      umls: Option[Broadcast[UmlsTables]] = None): Handle = {
    val bc = umls.getOrElse(Pipeline.broadcastUmls(spark))
    val counter = new AtomicLong(0L)

    def optsFor(params: Map[String, String]): LinkOptions =
      params.get("flags") match {
        case Some(f) if f.trim.nonEmpty =>
          Graft.parseFlags(f.trim.split("\\s+").toSeq)
        case _ => baseOpts
      }

    def handled(f: => String): (Int, String) = try (200, f) catch {
      case e: IllegalArgumentException => (400, errorBody(String.valueOf(e.getMessage)))
      case NonFatal(e) => (500, errorBody(String.valueOf(e)))
    }

    def annotate(req: Request): (Int, String) = handled {
      counter.incrementAndGet()
      val params = queryParams(req.uri)
      val id = params.getOrElse("id", "doc")
      val opts = optsFor(params)
      // per-request output format, the mmserver contract (a client picks
      // --JSONf / --XMLf / --machine_output per call): `format=jsonf`
      // returns a JSON array of --JSONf document trees, `xmlf` the
      // <MMOs>-framed --XMLf stream, `mmo` the machine-output term
      // lines; default = the mention rows
      val format = params.getOrElse("format", "mentions")
      // each format's record function prints one document per segmented
      // record, as the reference writers do
      format match {
        case "mentions" =>
          DocKernel.annotate(id, req.body, bc.value, opts).map { m =>
            s"""{"url":${jsonStr(m.url)},"sentNo":${m.sentNo},"start":${m.start},""" +
              s""""len":${m.len},"cui":${jsonStr(m.cui)},"score":${m.score},""" +
              s""""semTypes":${m.semTypes.map(jsonStr).mkString("[", ",", "]")},""" +
              s""""sources":${m.sources.map(jsonStr).mkString("[", ",", "]")},""" +
              s""""negated":${m.negated},"text":${jsonStr(m.text)}}"""
          }.mkString("[", ",", "]")
        case "jsonf" =>
          val b = new java.lang.StringBuilder(4096)
          b.append('[')
          JsonMmoOutput.records(b, id, req.body, bc.value, opts)(_ => b.append(','))
          // the separator after the last tree becomes the closing bracket
          if (b.length > 1) b.setCharAt(b.length - 1, ']') else b.append(']')
          b.toString
        case "xmlf" =>
          XmlMmoOutput.records(id, req.body, bc.value, opts).map(_._2)
            .mkString("<MMOs>", "", "</MMOs>")
        case "mmo" =>
          MmoOutput.records(id, req.body, bc.value, opts).flatMap(_._2)
            .mkString("", "\n", "\n")
        case other =>
          throw new IllegalArgumentException(s"unknown format: $other")
      }
    }

    def triples(req: Request): (Int, String) = handled {
      counter.incrementAndGet()
      val params = queryParams(req.uri)
      val id = params.getOrElse("id", "doc")
      val opts = optsFor(params)
      DocTriples.fromText(id, req.body, bc.value, opts).map { case (s, p, o, url, sentNo) =>
        s"""{"subj_cui":${jsonStr(s)},"pred":${jsonStr(p)},""" +
          s""""obj_cui":${jsonStr(o)},"url":${jsonStr(url)},"sentNo":$sentNo}"""
      }.mkString("[", ",", "]")
    }

    def answer(req: Request): (Int, String) = req.uri.getPath match {
      case "/annotate" => annotate(req)
      case "/triples" => triples(req)
      case "/health" => (200, s"""{"status":"ok","requests":${counter.get()}}""")
      case path => (404, errorBody(s"no such path: $path"))
    }

    val listener = new ServerSocket(port)
    val conns = ConcurrentHashMap.newKeySet[Socket]()
    // one thread per open connection: the kernel is a pure function over
    // the broadcast tables, so concurrent requests are safe, and a fixed
    // pool would let idle keep-alive connections starve new ones
    val pool = Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-server"); t.setDaemon(true); t
    }
    val acceptor = new Thread(() => {
      while (!listener.isClosed) {
        try {
          val s = listener.accept()
          conns.add(s)
          pool.execute { () =>
            try serve(s, answer) finally { conns.remove(s); closeQuietly(s) }
          }
        } catch {
          case _: IOException => // stop() closed the listener
        }
      }
    }, "graft-server-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    new Handle(listener, acceptor, pool, conns, counter)
  }
}
