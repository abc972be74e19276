package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.api.Graft
import graft.corpus.CorpusGen
import graft.link.{LinkOptions, Mention}
import graft.output.{JsonMmoOutput, MmoOutput}
import graft.pipeline.{DocKernel, DocTriples}
import graft.sources.MedlineReader
import graft.umls.MiniUmls

/** `annotate_service`: the mmserver-style service. `GraftServer` runs in
  * its own JVM (ServeMain) over an index at reference lexicon scale; this
  * JVM is the load generator, a closed loop of one connection per core
  * cycling through a seeded fixed mix of requests. Every response must be
  * a 200; mention and triple responses for generated bodies must equal
  * the generator's ground truth, score-exact; every later response to the
  * same request must repeat the first one byte for byte.
  */
object AnnotateService {
  val IndexStrings = 500000
  // From the warm-up curve in the README: the server answers at its
  // steady latency after a few hundred requests.
  val WarmupMinRequests = 400
  val WarmupSeconds = 4
  /** p99 needs ten samples above it. */
  val MinSamples = 1000

  final case class Req(kind: String, endpoint: String, format: String, id: String,
      flags: String, body: String, expected: Option[Seq[String]]) {
    val bytes: Array[Byte] = body.getBytes(UTF_8)
    val path: String = s"/$endpoint?id=${URLEncoder.encode(id, "UTF-8")}" +
      (if (endpoint == "annotate") s"&format=$format" else "") +
      (if (flags.nonEmpty) s"&flags=${URLEncoder.encode(flags, "UTF-8")}" else "")
    def opts: LinkOptions =
      if (flags.isEmpty) LinkOptions.default else Graft.parseFlags(flags.split(" ").toSeq)
  }

  private def mentionKey(url: String, sentNo: Int, start: Int, len: Int, cui: String,
      score: Int, negated: Boolean) = s"$url|$sentNo|$start|$len|$cui|$score|$negated"
  private def tripleKey(s: String, p: String, o: String, url: String, sentNo: Int) =
    s"$s|$p|$o|$url|$sentNo"

  /** The seeded mix: one-page notes, 10-page bodies split into records by
    * `--blanklines 1`, and MEDLINE-fielded citations, each sent to
    * /annotate as mentions, jsonf and mmo and to /triples.
    */
  def mix(seed: Long): Vector[Req] = {
    var n = 1000L + Seeds.below(seed, 1000000000L)
    def nextPage(): Long = {
      while (n % 17 == 3) n += 1 // non-English pages are kept out
      n += 1; n - 1
    }
    def expect(pages: Seq[(Long, String)], endpoint: String, format: String) =
      if (format == "jsonf" || format == "mmo") None
      else Some(pages.flatMap { case (p, url) =>
        val (_, ms, ts) = CorpusGen.genPage(p)
        if (endpoint == "triples") ts.map(t => tripleKey(t.subj_cui, t.pred, t.obj_cui, url, t.sentNo))
        else ms.map(m => mentionKey(url, m.sentNo, m.start, m.len, m.cui, m.score, m.negated))
      }.sorted)
    val targets = Seq("annotate" -> "mentions", "annotate" -> "jsonf", "annotate" -> "mmo",
      "triples" -> "")
    def counts(kind: String) = kind match {
      case "note" => Seq(8, 3, 2, 3)
      case _ => Seq(6, 2, 2, 2)
    }
    val reqs = for {
      kind <- Vector("note", "body10", "citation")
      ((endpoint, format), k) <- targets.zip(counts(kind))
      _ <- 1 to k
    } yield kind match {
      case "note" =>
        val p = nextPage()
        val url = CorpusGen.urlOf(p)
        Req(kind, endpoint, format, url, "", CorpusGen.genPage(p)._1.text,
          expect(Seq(p -> url), endpoint, format))
      case "body10" =>
        val ps = Vector.fill(10)(nextPage())
        val id = s"body-${ps.head}"
        Req(kind, endpoint, format, id, "--blanklines 1",
          ps.map(CorpusGen.genPage(_)._1.text).mkString("\n\n"),
          expect(ps.zipWithIndex.map { case (p, i) => p -> s"$id.$i" }, endpoint, format))
      case _ =>
        val p = nextPage()
        val lines = CorpusGen.genPage(p)._1.text.split("\n")
        Req(kind, endpoint, format, s"pmid-$p", "",
          s"PMID- $p\nTI  - ${lines(1)}\nAB  - ${lines.drop(2).mkString(" ")}\n", None)
    }
    // a seeded order: connections cycle through it from different offsets
    reqs.sortBy(r => Seeds.mix(seed * 7919 + r.path.hashCode + r.body.hashCode))
  }

  private val mapper = new ObjectMapper()

  /** The mention or triple keys of a JSON response, sorted. */
  private def keys(r: Req, rows: Vector[JsonNode]): Seq[String] = rows.map { m =>
    if (r.endpoint == "triples")
      tripleKey(m.get("subj_cui").asText, m.get("pred").asText, m.get("obj_cui").asText,
        m.get("url").asText, m.get("sentNo").asInt)
    else mentionKey(m.get("url").asText, m.get("sentNo").asInt, m.get("start").asInt,
      m.get("len").asInt, m.get("cui").asText, m.get("score").asInt, m.get("negated").asBoolean)
  }.sorted

  private def rows(body: Array[Byte]): Vector[JsonNode] = {
    val tree = mapper.readTree(HttpConn.utf8(body))
    if (!tree.isArray) throw new IllegalArgumentException("not a JSON array")
    tree.elements().asScala.toVector
  }

  /** None when `body` is a correct response to `r`, else the reason. */
  def check(r: Req, body: Array[Byte]): Option[String] = r.format match {
    case "mmo" =>
      val text = HttpConn.utf8(body)
      if (text.nonEmpty && text.endsWith("\n")) None else Some("empty mmo")
    case _ =>
      val rs = rows(body)
      r.expected match {
        case None => if (r.format == "jsonf" && rs.isEmpty) Some("no jsonf documents") else None
        case Some(want) =>
          val got = keys(r, rs)
          if (got == want) None
          else Some(s"${r.kind}/${r.endpoint}/${r.format} ${r.id}: ${got.diff(want).take(3)} " +
            s"unexpected, ${want.diff(got).take(3)} missing")
      }
  }

  /** Precision and recall of the served triples against the ground truth. */
  private def triplePrecisionRecall(reqs: Vector[Req], served: Map[Int, Array[Byte]])
      : (Double, Double) = {
    val scored = reqs.indices.filter(i => reqs(i).endpoint == "triples" && reqs(i).expected.nonEmpty)
      .map { i =>
        val got = keys(reqs(i), rows(served(i))).toSet
        val want = reqs(i).expected.get.toSet
        ((got intersect want).size, got.size, want.size)
      }
    val hit = scored.map(_._1).sum.toDouble
    (hit / scored.map(_._2).sum, hit / scored.map(_._3).sum)
  }

  final case class Sample(req: Int, ms: Double, ok: Boolean)

  /** Each request's first response is checked in full; later ones must
    * repeat it (length and hash), which keeps the loop's own cost flat.
    */
  private final class Checker(reqs: Vector[Req]) {
    private val seen = new ConcurrentHashMap[Integer, (Int, Int)]()
    val errors = new ConcurrentHashMap[String, Integer]()
    def ok(i: Int, status: Int, body: Array[Byte]): Boolean = {
      val sig = (body.length, MurmurHash3.bytesHash(body))
      val good = status == 200 && (Option(seen.get(i)) match {
        case Some(s) => s == sig
        case None =>
          val bad = scala.util.Try(check(reqs(i), body)).fold(e => Some(e.toString), identity)
          bad.foreach(e => errors.putIfAbsent(e, 1))
          if (bad.isEmpty) seen.put(i, sig)
          bad.isEmpty
      })
      if (status != 200) errors.putIfAbsent(s"status $status for ${reqs(i).path}", 1)
      good
    }
  }

  /** A closed loop: `conns` connections each send their next request when
    * the last one completes, until `minMs` have passed and `minSamples`
    * are in. Returns the samples and the wall time.
    */
  private def loop(port: Int, reqs: Vector[Req], checker: Checker, conns: Int,
      minMs: Double, minSamples: Int): (Seq[Sample], Double) = {
    val done = new AtomicInteger(0)
    val t0 = System.nanoTime()
    def more: Boolean = {
      val el = Clock.ms(t0)
      (el < minMs || done.get < minSamples) && el < 6 * minMs
    }
    val perConn = (0 until conns).map(_ => Vector.newBuilder[Sample])
    val threads = (0 until conns).map { c =>
      new Thread(() => {
        val conn = new HttpConn(port)
        var k = c * reqs.length / conns
        try while (more) {
          val i = k % reqs.length
          k += 1
          val s0 = System.nanoTime()
          val s = try {
            val (status, body) = conn.post(reqs(i).path, reqs(i).bytes)
            val ms = Clock.ms(s0)
            Sample(i, ms, checker.ok(i, status, body))
          } catch {
            case e: java.io.IOException =>
              checker.errors.putIfAbsent(e.toString, 1)
              Sample(i, Clock.ms(s0), ok = false)
          }
          perConn(c) += s
          done.incrementAndGet()
        } finally conn.close()
      }, s"load-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (perConn.flatMap(_.result()), Clock.ms(t0))
  }

  /** The server JVM, started with this JVM's own flags. */
  private final class Server {
    private val cmd = Seq(new File(System.getProperty("java.home"), "bin/java").getPath) ++
      Jvm.flags ++ Seq("-cp", System.getProperty("java.class.path"),
        "perfbench.ServeMain", IndexStrings.toString)
    private val proc = new ProcessBuilder(cmd: _*)
      .redirectError(new File("server.log")).start()
    private val out = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
    private val in = new PrintWriter(proc.getOutputStream, true)

    private def await(prefix: String): String = {
      var l = out.readLine()
      while (l != null && !l.startsWith(prefix)) l = out.readLine()
      if (l == null) throw new IllegalStateException(s"server exited before $prefix")
      l.drop(prefix.length).trim
    }
    val ready: JsonNode = mapper.readTree(await("READY"))
    def heapMb(): Double = { in.println("heap"); await("HEAP").toDouble }
    def stop(): Unit = {
      try { in.println("stop"); in.close() } catch { case _: java.io.IOException => }
      if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly(); proc.waitFor()
      }
    }
  }

  /** The server's mention rendering, for the in-process comparison. */
  private def mentionsJson(ms: Vector[Mention]): String = {
    ms.map { m =>
      s"""{"url":${Json.str(m.url)},"sentNo":${m.sentNo},"start":${m.start},""" +
        s""""len":${m.len},"cui":${Json.str(m.cui)},"score":${m.score},""" +
        s""""semTypes":${m.semTypes.map(Json.str).mkString("[", ",", "]")},""" +
        s""""sources":${m.sources.map(Json.str).mkString("[", ",", "]")},""" +
        s""""negated":${m.negated},"text":${Json.str(m.text)}}"""
    }.mkString("[", ",", "]")
  }

  /** Per-layer timings of the mix computed in this JVM, the way the
    * server's handlers compute it; each result must equal the server's
    * response to the same request.
    */
  private def direct(reqs: Vector[Req], served: Map[Int, Array[Byte]], passes: Int)
      : Seq[(String, Double, String)] = {
    val umls = MiniUmls.scaledTables(IndexStrings)
    val total = Vector.newBuilder[Double]
    val records = Vector.newBuilder[Double]
    val byFormat = Map("mentions" -> Vector.newBuilder[Double],
      "jsonf" -> Vector.newBuilder[Double], "mmo" -> Vector.newBuilder[Double])
    (1 to passes).foreach { pass =>
      reqs.indices.foreach { i =>
        val r = reqs(i)
        val opts = r.opts
        val a = System.nanoTime()
        val recs = MedlineReader.records(r.id, r.body, opts)
        val b = System.nanoTime()
        val (out, c) = r.format match {
          case "mentions" if r.endpoint == "annotate" =>
            val ms = recs.flatMap { case (url, rt) => DocKernel.mentions(url, rt, umls, opts) }
            val c = System.nanoTime()
            (mentionsJson(ms), c)
          case "jsonf" =>
            (recs.map { case (url, rt) => JsonMmoOutput.document(url, rt, umls, opts) }
              .mkString("[", ",", "]"), b)
          case "mmo" =>
            (recs.flatMap { case (url, rt) => MmoOutput.document(url, rt, umls, opts = opts) }
              .mkString("", "\n", "\n"), b)
          case _ =>
            val ts = recs.flatMap { case (url, rt) => DocTriples.fromDoc(url, rt, umls, opts) }
            (ts.map { case (s, p, o, url, sn) =>
              s"""{"subj_cui":${Json.str(s)},"pred":${Json.str(p)},""" +
                s""""obj_cui":${Json.str(o)},"url":${Json.str(url)},"sentNo":$sn}"""
            }.mkString("[", ",", "]"), b)
        }
        val d = System.nanoTime()
        if (pass == 1 && !served.get(i).exists(java.util.Arrays.equals(_, out.getBytes(UTF_8))))
          throw new IllegalStateException(s"in-process result differs from the server's: ${r.path}")
        if (pass > 1) {
          total += (d - a) / 1e6
          records += (b - a) / 1e3
          if (r.endpoint == "annotate") byFormat(r.format) += (if (r.format == "mentions") (d - c) else (d - b)) / 1e3
        }
      }
    }
    val docs = reqs.filter(_.endpoint == "annotate").flatMap(r =>
      MedlineReader.records(r.id, r.body, r.opts)).distinct
      .map { case (url, text) => KernelTrace.Doc(url, text, None) }
    KernelTrace.measure(docs, umls, passes = 3) ++ Seq(
      ("api.direct_p50_ms", Stats.median(total.result()), "ms"),
      ("sources.records_us", Stats.median(records.result()), "us/req"),
      ("output.mentions_json_us", Stats.median(byFormat("mentions").result()), "us/req"),
      ("output.jsonf_us", Stats.median(byFormat("jsonf").result()), "us/req"),
      ("output.mmo_us", Stats.median(byFormat("mmo").result()), "us/req"))
  }

  def run(a: Args): Result = {
    require(!Jvm.flags.exists(_.contains("sun.net.httpserver.nodelay")),
      "the server must run as shipped, without sun.net.httpserver.nodelay")
    val server = new Server
    try {
      val reqs = mix(a.seed)
      val ready = server.ready
      require(ready.get("nodelay_property").isNull,
        "the server JVM was started with sun.net.httpserver.nodelay")
      val port = ready.get("port").asInt
      val setupS = a.setupDone()
      val checker = new Checker(reqs)
      val conns = a.cores
      val (warm, _) = loop(port, reqs, checker, conns, WarmupSeconds * 1e3, WarmupMinRequests)
      val (timed, wallMs) = loop(port, reqs, checker, conns, a.seconds * 1e3, MinSamples)
      val ms = timed.map(_.ms)
      val p50 = Stats.median(ms)
      val served = reqs.indices.map { i =>
        val c = new HttpConn(port)
        try i -> c.post(reqs(i).path, reqs(i).bytes)._2 finally c.close()
      }.toMap
      val (precision, recall) = triplePrecisionRecall(reqs, served)
      val all = (warm ++ timed).map(_.ok)
      var curation = Seq.empty[CurationLayer.Op]
      val info = Seq("connections" -> conns.toString, "mix" -> reqs.length.toString,
        "samples" -> timed.length.toString, "warmup_samples" -> warm.length.toString,
        "p50_ms_by_kind" -> timed.groupBy(s => reqs(s.req).kind + "." + reqs(s.req).endpoint +
          "." + reqs(s.req).format).map { case (k, ss) =>
            s"${Json.str(k)}:${Stats.median(ss.map(_.ms))}" }.mkString("{", ",", "}"),
        "server" -> ready.toString)
      val metrics =
        if (!a.trace) Seq(
          ("setup_s", setupS, "s"),
          ("throughput_per_s", timed.length / (wallMs / 1e3), "1/s"),
          ("latency_p50_ms", p50, "ms"),
          ("triple_precision", precision, "ratio"),
          ("triple_recall", recall, "ratio"),
          ("live_heap_mb", server.heapMb(), "MB"))
        else {
          val layers = direct(reqs, served, passes = 3)
          // the curation layer runs here, in this otherwise idle JVM, once
          // the server has been measured
          val spark = Session.create(a.cores)
          val (ops, curationOps) =
            try CurationLayer.measure(spark, a.seed, new File("curation").getAbsoluteFile)
            finally spark.stop()
          curation = curationOps
          val directP50 = layers.find(_._1 == "api.direct_p50_ms").get._2
          require(Stats.tailReportable(timed.length, 0.99))
          layers ++ ops ++ Seq(
            ("api.latency_p99_ms", Stats.quantile(ms, 0.99), "ms"),
            ("api.server_overhead_ms", p50 - directP50, "ms"),
            ("umls.tables_s", ready.get("tables_s").asDouble, "s"),
            ("umls.index_entries", ready.get("index_entries").asDouble, "count"),
            // every per-layer measurement runs after the window, and the
            // client keeps the same per-request record in both modes, so
            // tracing adds no work to the measured requests
            ("trace.overhead_pct", 0.0, "%"))
        }
      val oks = all ++ curation.map(_.ok)
      val failed = oks.count(!_)
      val errors = checker.errors.keySet.asScala.toSeq.sorted.take(5)
      Result(failed == 0, oks.length, failed, metrics, info :+ ("errors" -> Json.arr(errors)))
    } finally server.stop()
  }
}
