package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.Graft
import graft.corpus.CorpusGen
import graft.link.LinkOptions
import graft.pipeline.{DocKernel, DocTriples, Page, Pipeline}
import graft.streaming.StreamingPipeline
import graft.text.Extract
import graft.umls.{MiniUmls, UmlsTables, WordIndex}

/** The user-facing API: annotate/triples/graph over arbitrary tables and
  * the reference-flag parser.
  */
class ApiSpec extends AnyFunSuite with SparkTestBase {

  private lazy val umls = Pipeline.broadcastUmls(spark)

  test("parseFlags maps reference CLI options to LinkOptions") {
    assert(Graft.parseFlags(Seq("-i", "-o", "--conj")) ==
      LinkOptions(ignoreWordOrder = true, allowOvermatches = true, conjMerge = true))
    assert(Graft.parseFlags(Seq("--threshold", "900", "--min_length", "5")) ==
      LinkOptions(scoreThreshold = 900, minLength = 5))
    assert(Graft.parseFlags(Seq("-J", "dsyn,neop")) ==
      LinkOptions(restrictSemTypes = Set("dsyn", "neop")))
    intercept[IllegalArgumentException](Graft.parseFlags(Seq("--bogus")))
    assert(Graft.parseFlags(Seq("-z")) == LinkOptions(termProcessing = true))
    intercept[IllegalArgumentException](Graft.parseFlags(Seq("-r")))
    intercept[IllegalArgumentException](Graft.parseFlags(Seq("-r", "-i")))
    assert(Graft.parseFlags(Nil) == LinkOptions.default)
  }

  test("annotate accepts non-string id columns (bigint doc_id)") {
    import spark.implicits._
    val df = Seq((7L, "The patient had a heart attack.")).toDF("doc_id", "body")
    val ms = Graft.annotate(df, "doc_id", "body", umls).collect()
    assert(ms.exists(r => r.getAs[String]("url") == "7" &&
      r.getAs[String]("cui") == "C0027051"))
  }

  test("annotateTerms (-z): dictionary lookup keeps best-coverage only") {
    import spark.implicits._
    // -z dispatches from the flag-driven annotate entry too
    val viaFlags = Graft.annotate(
      Seq(("t1", "heart attack")).toDF("id", "term"), "id", "term", umls,
      Graft.parseFlags(Seq("-z")))
    assert(viaFlags.collect().map(_.getAs[String]("cui")).toSet == Set("C0027051"))
    // F4 filters apply in term mode: excluding dsyn drops C0027051 and
    // the bpoc Heart partial becomes the best-coverage survivor
    val excl = Graft.annotateTerms(
      Seq(("t1", "heart attack")).toDF("id", "term"), "id", "term", umls,
      Graft.parseFlags(Seq("-k", "dsyn")))
    assert(excl.collect().map(_.getAs[String]("cui")).toSet == Set("C0018787"))
    // and a threshold kills everything
    assert(Graft.annotateTerms(
      Seq(("t1", "heart attack")).toDF("id", "term"), "id", "term", umls,
      Graft.parseFlags(Seq("-r", "1001"))).count() == 0)
    val df = Seq(
      ("t1", "heart attack"),
      ("t2", "myocardial infarction"),
      ("t3", "coronary artery disease"),
      ("t4", "zzz unknown zzz")).toDF("id", "term")
    val rows = Graft.annotateTerms(df, "id", "term", umls).collect()
    def cuis(id: String) = rows.filter(_.getAs[String]("url") == id)
      .map(_.getAs[String]("cui")).toSet
    assert(cuis("t1") == Set("C0027051")) // synonym variant; no partial 'heart' hit
    assert(cuis("t2") == Set("C0027051"))
    assert(cuis("t3") == Set("C0010054")) // full-term beats 'coronary artery'
    assert(cuis("t4").isEmpty)
    // F6: the best-coverage filter dropped the C0018787 Heart partial
    assert(!rows.exists(r => r.getAs[String]("url") == "t1" &&
      r.getAs[String]("cui") == "C0018787"))
  }

  test("dictionary round-trip: every fixture string links to its own CUI at 1000") {
    import spark.implicits._
    val terms = graft.umls.MiniUmls.concepts
      .flatMap { case (cui, _, _, strs) => strs.map(str => (cui, str)) }
    val df = terms.toDF("id", "term")
    val got = Graft.annotateTerms(df, "id", "term", umls)
      .select("url", "cui", "score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    terms.foreach { case (cui, str) =>
      assert(got.exists { case (id, c, sc) => id == cui && c == cui && sc == 1000 },
        s"string '$str' failed to round-trip to $cui")
    }
  }

  test("SQL registration: graft_mentions/graft_triples run from pure SQL") {
    import spark.implicits._
    Graft.registerSql(spark, umls)
    Seq(("d1", "The patient had a heart attack."),
      ("d2", "No evidence of myocardial infarction."))
      .toDF("id", "body").createOrReplaceTempView("g_docs")
    val ms = spark.sql(
      """SELECT id, m.cui AS cui, m.negated AS negated
        |FROM g_docs LATERAL VIEW explode(graft_mentions(id, body)) AS m""".stripMargin)
      .collect()
    assert(ms.exists(r => r.getString(0) == "d1" && r.getString(1) == "C0027051"
      && !r.getBoolean(2)))
    assert(ms.exists(r => r.getString(0) == "d2" && r.getString(1) == "C0027051"
      && r.getBoolean(2)))
    val ts = spark.sql(
      """SELECT t.* FROM g_docs LATERAL VIEW explode(graft_triples(id, body)) AS t""")
      .collect()
    // SQL path must agree with the library path on the same rows
    val lib = Graft.triples(spark.table("g_docs"), "id", "body", umls).count()
    assert(ts.length.toLong == lib)
  }

  test("annotate works on an arbitrary two-column table") {
    import spark.implicits._
    val df = Seq(
      ("d1", "The patient had a heart attack."),
      ("d2", "No evidence of myocardial infarction."),
      ("d3", null.asInstanceOf[String])).toDF("id", "body")
    val ms = Graft.annotate(df, "id", "body", umls)
    val rows = ms.collect()
    assert(rows.exists(r => r.getAs[String]("url") == "d1" &&
      r.getAs[String]("cui") == "C0027051" && !r.getAs[Boolean]("negated")))
    assert(rows.exists(r => r.getAs[String]("url") == "d2" &&
      r.getAs[String]("cui") == "C0027051" && r.getAs[Boolean]("negated")))
    assert(!rows.exists(r => r.getAs[String]("url") == "d3"))
  }

  test("triples + graph over an arbitrary table; flags thread through") {
    import spark.implicits._
    val df = Seq(
      ("d1", "The patient had pneumonia and fever."),
      ("d2", "The patient had pneumonia and fever.")).toDF("id", "body")
    val t = Graft.triples(df, "id", "body", umls).collect()
    assert(t.exists(r => r.getAs[String]("subj_cui") == "C0032285" &&
      r.getAs[String]("pred") == "causes" && r.getAs[String]("obj_cui") == "C0015967"))
    val g = Graft.graph(df, "id", "body", umls)
    val row = g.filter("subj_cui = 'C0032285' and pred = 'causes'").collect()
    assert(row.length == 1 && row.head.getAs[Long]("n_docs") == 2L)
    assert(row.head.getAs[String]("subj_name") == "Pneumonia")
    // a threshold of 1001 kills every mention -> no triples
    val none = Graft.triples(df, "id", "body", umls, Graft.parseFlags(Seq("-r", "1001")))
    assert(none.count() == 0)
  }

  test("GraftServer: two requests through one warm session (mmserver parity)") {
    val handle = graft.api.GraftServer.start(spark)
    try {
      def post(path: String, body: String): (Int, String) = {
        val url = new java.net.URL(s"http://127.0.0.1:${handle.port}$path")
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        os.write(body.getBytes("UTF-8")); os.close()
        val code = conn.getResponseCode
        val in = if (code < 400) conn.getInputStream else conn.getErrorStream
        val resp = new String(in.readAllBytes(), "UTF-8"); in.close()
        (code, resp)
      }
      // request 1: plain annotate
      val (c1, r1) = post("/annotate?id=req1", "The patient had pneumonia.")
      assert(c1 == 200 && r1.contains("\"cui\":\"C0032285\""), r1)
      // request 2, same warm session: per-request flags narrow semtypes
      val (c2, r2) = post("/annotate?id=req2&flags=-J%20sosy",
        "No evidence of myocardial infarction or chest pain.")
      assert(c2 == 200, r2)
      assert(r2.contains("C0008031") && !r2.contains("C0027051"), r2)
      // negation survives the trip
      assert(r2.contains("\"negated\":true"), r2)
      // triples endpoint on the same broadcast
      val (c3, r3) = post("/triples?id=req3", "The patient had pneumonia and fever.")
      assert(c3 == 200 && r3.contains("\"pred\":\"causes\""), r3)
      // segmentation flags are honored: sldi breaks cross-line AA reuse
      // and stamps record-qualified urls
      val (c6, r6) = post("/annotate?id=seg&flags=--sldi",
        "Coronary artery (CA) disease was present.\nCA was severe.")
      assert(c6 == 200, r6)
      assert(r6.contains("\"url\":\"seg.0\""), r6)
      // line 2's bare CA has no record-local AA -> no C0205042 under seg.1
      assert(!r6.contains("\"url\":\"seg.1\",\"sentNo\":0,\"start\":0,\"len\":2,\"cui\":\"C0205042\""),
        r6)
      // per-request output formats, mmserver-style: the client picks the
      // reference writer per call on the same warm session
      val aaText = "Coronary artery (CA) disease. No sign of fever."
      val (cj, rj) = post("/annotate?id=fmt&format=jsonf", aaText)
      assert(cj == 200, rj)
      assert(rj.startsWith("[{\"Document\":") && rj.endsWith("}]"), rj.take(80))
      assert(rj.contains("\"AAText\":\"CA\"") && rj.contains("\"Negations\""), rj)
      val (cx, rx) = post("/annotate?id=fmt&format=xmlf", aaText)
      assert(cx == 200, rx)
      assert(rx.startsWith("<MMOs><MMO>") && rx.endsWith("</MMO></MMOs>"),
        rx.take(80))
      assert(rx.contains("<AAText>CA</AAText>"), rx)
      val (cm, rm) = post("/annotate?id=fmt&format=mmo", aaText)
      assert(cm == 200, rm)
      assert(rm.contains("utterance(") && rm.contains("'EOU'"), rm.take(120))
      // an unknown format is a 400, like bad flags
      val (cf, _) = post("/annotate?id=fmt&format=nope", "text")
      assert(cf == 400)
      // bad flags -> 400, server stays up
      val (c4, _) = post("/annotate?flags=--bogus", "text")
      assert(c4 == 400)
      val (c5, r5) = post("/annotate?id=again", "Fever persisted.")
      assert(c5 == 200 && r5.contains("C0015967"))
      assert(handle.requestCount == 10L)
      // CONCURRENT requests: the server runs one thread per connection (the
      // kernel is a pure function over the broadcast tables), so parallel
      // /annotate calls must all succeed — and /health must answer while
      // they are in flight rather than queue behind them
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val parallel = (1 to 4).map { i =>
        Future(post(s"/annotate?id=par$i", "The patient had pneumonia."))
      }
      val health = Future(post("/health", ""))
      val results = Await.result(Future.sequence(parallel :+ health), 30.seconds)
      assert(results.forall(_._1 == 200), results.map(_._1))
      assert(results.init.forall(_._2.contains("C0032285")))
    } finally handle.stop()
  }

  /** A raw HTTP/1.1 client socket left at its default options, as a plain
    * client opens it (no TCP_NODELAY): one write per request, responses
    * framed by their Content-Length.
    */
  private final class RawConn(port: Int) extends AutoCloseable {
    private val socket = new java.net.Socket("127.0.0.1", port)
    socket.setSoTimeout(2000)
    private val in = new java.io.BufferedInputStream(socket.getInputStream)

    def send(raw: String): Unit = socket.getOutputStream.write(raw.getBytes("UTF-8"))

    private def line(): String = {
      val b = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') b.append(c.toChar)
        c = in.read()
      }
      b.toString
    }

    /** (status, body) of the next response. */
    def read(): (Int, String) = {
      val status = line().split(' ')(1).toInt
      var length = -1
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (h.take(i).equalsIgnoreCase("Content-Length")) length = h.drop(i + 1).trim.toInt
        h = line()
      }
      assert(length >= 0, "response without a Content-Length")
      (status, new String(in.readNBytes(length), "UTF-8"))
    }

    /** The server closed its side: the next read is the end of the stream. */
    def atEof: Boolean = in.read() == -1

    def close(): Unit = socket.close()
  }

  private def postReq(path: String, body: String, headers: String = ""): String =
    s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n$headers" +
      s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n$body"

  private def withServer[T](f: graft.api.GraftServer.Handle => T): T = withServerOn(umls)(f)

  private def withServerOn[T](tables: Broadcast[UmlsTables])(f: graft.api.GraftServer.Handle => T): T = {
    val handle = graft.api.GraftServer.start(spark, umls = Some(tables))
    try f(handle) finally handle.stop()
  }

  private def withConn[T](port: Int)(f: RawConn => T): T = {
    val c = new RawConn(port)
    try f(c) finally c.close()
  }

  test("GraftServer: keep-alive requests from a plain socket take no delayed-ACK stall") {
    withServer { handle =>
      withConn(handle.port) { c =>
        val ms = (1 to 20).map { i =>
          val t0 = System.nanoTime()
          c.send(postReq(s"/annotate?id=n$i", "The patient had pneumonia."))
          val (code, body) = c.read()
          assert(code == 200 && body.contains("C0032285"), body)
          (System.nanoTime() - t0) / 1e6
        }.sorted
        // a response split across two segments without TCP_NODELAY waits
        // for the client's delayed ACK: about 40 ms per request on Linux
        assert(ms(ms.length / 2) < 10.0, ms)
      }
    }
  }

  test("GraftServer protocol: pipelining, Connection: close, 411, 400, 404, health") {
    withServer { handle =>
      def conn[T](f: RawConn => T): T = withConn(handle.port)(f)
      // two requests in one write get two responses, in order
      conn { c =>
        c.send(postReq("/annotate?id=first", "Fever persisted.") +
          postReq("/annotate?id=second", "Fever persisted."))
        val (c1, r1) = c.read()
        val (c2, r2) = c.read()
        assert(c1 == 200 && r1.contains("\"url\":\"first\""), r1)
        assert(c2 == 200 && r2.contains("\"url\":\"second\""), r2)
      }
      // Connection: close is answered, then the server closes
      conn { c =>
        c.send(postReq("/triples?id=t", "The patient had pneumonia and fever.",
          "Connection: close\r\n"))
        val (code, body) = c.read()
        assert(code == 200 && body.contains("\"pred\":\"causes\""), body)
        assert(c.atEof)
      }
      // a body without a Content-Length is refused
      conn { c =>
        c.send("POST /annotate HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n5\r\nFever\r\n0\r\n\r\n")
        assert(c.read()._1 == 411)
        assert(c.atEof)
      }
      // malformed requests: 400, then the connection closes
      Seq(
        "POST /annotate HTTP/1.1\r\nContent-Length: abc\r\n\r\n",
        "POST /annotate HTTP/1.1\r\nContent-Length: -1\r\n\r\n",
        "GARBAGE\r\n\r\n"
      ).foreach { raw =>
        conn { c =>
          c.send(raw)
          val (code, body) = c.read()
          assert(code == 400, body)
          assert(c.atEof, raw)
        }
      }
      // an unknown path is a 404 on a connection that stays open
      conn { c =>
        c.send("GET /nope HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n")
        assert(c.read()._1 == 404)
        c.send("GET /health HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n")
        val (code, body) = c.read()
        assert(code == 200 && body == "{\"status\":\"ok\",\"requests\":3}", body)
      }
    }
  }

  test("GraftServer lifecycle: idle connections starve no one; stop() closes everything") {
    import scala.jdk.CollectionConverters._
    withServer { handle =>
      val idle = scala.collection.mutable.Buffer.empty[RawConn]
      try {
        (1 to Runtime.getRuntime.availableProcessors() + 2).foreach { _ =>
          val c = new RawConn(handle.port)
          idle += c
          c.send("GET /health HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n")
          assert(c.read()._1 == 200)
        }
        withConn(handle.port) { c =>
          c.send(postReq("/annotate?id=late", "The patient had pneumonia."))
          val (code, body) = c.read()
          assert(code == 200 && body.contains("C0032285"), body)
        }
        handle.stop()
        idle.foreach(c => assert(c.atEof))
        intercept[java.io.IOException](new java.net.Socket("127.0.0.1", handle.port).close())
        // a leftover thread would outlive the server (and a non-daemon one
        // would keep its JVM alive)
        def serverThreads = Thread.getAllStackTraces.keySet.asScala
          .filter(t => t.getName.startsWith("graft-server") && t.isAlive)
        serverThreads.foreach(_.join(2000))
        assert(serverThreads.isEmpty, serverThreads.map(_.getName))
      } finally idle.foreach(_.close())
    }
  }

  /** (url, sentNo, start, len, cui, score, negated) */
  private type RecordMention = (String, Int, Int, Int, String, Int, Boolean)
  /** (subj_cui, pred, obj_cui, url, sentNo) */
  private type RecordTriple = (String, String, String, String, Int)

  /** The fixture tables without the index entries of one concept the
    * documents below link (Fever) and with another one (Pneumonia)
    * renamed: an entry that fell back to the fixture would show both.
    */
  private val Dropped = "C0015967"
  private val NewName = "Probe Pneumonia"
  private lazy val probeUmls = {
    val t = MiniUmls.tables
    spark.sparkContext.broadcast(t.copy(
      firstWordIndex = WordIndex.from(t.firstWordIndex.valuesIterator.flatten.filter(_.cui != Dropped)),
      cuiPreferred = t.cuiPreferred.updated("C0032285", NewName)))
  }

  test("the record path agrees: annotate/triples, graft_* SQL and the server under segmentation and -z") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    implicit val session: SparkSession = spark
    // every line is ID|Text so --sldiID accepts each document; "aa"
    // defines CA on line 1 and reuses it on line 2, "tx" has a blank
    // line for --blanklines 1, and the last row has a null id (the
    // server's id parameter is then empty)
    val docs = Seq(
      "aa" -> "a1|Coronary artery (CA) disease was present.\na2|CA was severe.",
      "tx" -> "p1|The patient had pneumonia and fever.\n\np2|No sign of myocardial infarction.",
      "terms" -> "t1|heart attack\nt2|coronary artery disease",
      (null: String) -> "n1|The patient had pneumonia.\nn2|Fever persisted.")
    val profiles = Seq(Nil, Seq("--sldi"), Seq("--sldiID"), Seq("--blanklines", "1"), Seq("-z"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def rows(body: String) = json.readTree(body).elements.asScala.toVector
    val df = docs.toDF("id", "body")
    val terms = Seq("t1" -> "fever", "t2" -> "heart attack")
    // the page entries run over the pages' (url, extracted text) cells;
    // the last page has a null url, which every entry turns into the
    // empty url
    val nullUrl = Page(null, new java.sql.Timestamp(0L),
      "<html><body><p>The patient had pneumonia and fever.</p></body></html>".getBytes,
      "The patient had pneumonia and fever.", "en")
    val nStream = 18
    val pageRows = CorpusGen.pages(spark, nStream, partitions = 3).collect().toVector :+
      nullUrl.copy(url = "es", lang = "es") :+ nullUrl
    val pages = pageRows.toDS()
    val english = pageRows.filter(_.lang == "en") // the others yield nothing
    val cells = english.map(p => (p.url, Extract.htmlToText(p.html))).toDF("url", "text")
    def strings(df: DataFrame) = df.collect().map(_.toString).sorted.toVector
    def triplesOf(df: DataFrame): Vector[RecordTriple] =
      df.select("subj_cui", "pred", "obj_cui", "url", "sentNo").as[RecordTriple].collect().toVector.sorted
    def record(m: graft.link.Mention): RecordMention =
      (String.valueOf(m.url), m.sentNo, m.start, m.len, m.cui, m.score, m.negated)

    /** Every entry's rows on `tables`, by entry, once each equals the
      * record functions' output on `tables`; and per profile the
      * (mentions, triples) of the table entries.
      */
    def entries(tables: Broadcast[UmlsTables])
        : (Map[String, Vector[String]], Map[String, (Vector[RecordMention], Vector[RecordTriple])]) =
      withServerOn(tables) { handle =>
        withConn(handle.port) { c =>
          val t = tables.value
          val seen = scala.collection.mutable.Map.empty[String, Vector[String]]
          def saw(entry: String, rows: Iterable[Any]): Unit =
            seen(entry) = seen.getOrElse(entry, Vector.empty) ++ rows.map(_.toString)
          def post(path: String, id: String, flags: Seq[String], body: String): String = {
            val q = if (flags.isEmpty) "" else "&flags=" + flags.mkString("%20")
            c.send(postReq(s"$path?id=$id$q", body))
            val (code, resp) = c.read()
            assert(code == 200, resp)
            resp
          }
          val outputs = profiles.map { flags =>
            val opts = Graft.parseFlags(flags)
            val lib: Vector[RecordMention] = Graft.annotate(df, "id", "body", tables, opts)
              .as[graft.link.Mention].collect().toVector.map(record)
            val libT = Graft.triples(df, "id", "body", tables, opts)
              .as[(String, String, String, String, Int)].collect().toVector
            // a fresh session per profile: re-registering graft_* on one
            // session would replace its functions
            val session = spark.newSession()
            Graft.registerSql(session, tables, opts)
            session.createDataFrame(docs).toDF("id", "body").createOrReplaceTempView("rp_docs")
            val sql = session.sql(
              "SELECT graft_mentions(id, body) AS ms, graft_triples(id, body) AS ts FROM rp_docs")
              .collect().toVector
            val sqlM: Vector[RecordMention] = sql.flatMap(_.getSeq[org.apache.spark.sql.Row](0)).map(r =>
              (String.valueOf(r.getAs[String]("url")), r.getAs[Int]("sentNo"), r.getAs[Int]("start"),
                r.getAs[Int]("len"), r.getAs[String]("cui"), r.getAs[Int]("score"),
                r.getAs[Boolean]("negated")))
            val sqlT: Vector[RecordTriple] = sql.flatMap(_.getSeq[org.apache.spark.sql.Row](1)).map(r =>
              (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
            val srvM: Vector[RecordMention] = docs.flatMap { case (id, body) =>
              rows(post("/annotate", Option(id).getOrElse(""), flags, body)).map(n =>
                (n.get("url").asText, n.get("sentNo").asInt, n.get("start").asInt,
                  n.get("len").asInt, n.get("cui").asText, n.get("score").asInt,
                  n.get("negated").asBoolean))
            }.toVector
            val srvT: Vector[RecordTriple] = docs.flatMap { case (id, body) =>
              rows(post("/triples", Option(id).getOrElse(""), flags, body)).map(n =>
                (n.get("subj_cui").asText, n.get("pred").asText, n.get("obj_cui").asText,
                  n.get("url").asText, n.get("sentNo").asInt))
            }.toVector
            val name = if (flags.isEmpty) "default" else flags.mkString(" ")
            val m = lib.sorted
            assert(m.nonEmpty, name)
            assert(m == docs.flatMap { case (id, body) => DocKernel.annotate(id, body, t, opts) }
              .map(record).sorted, s"$name: annotate vs DocKernel.annotate")
            assert(sqlM.sorted == m, s"$name: graft_mentions ${sqlM.sorted} vs annotate $m")
            assert(srvM.sorted == m, s"$name: /annotate ${srvM.sorted} vs annotate $m")
            val t3 = libT.sorted
            assert(t3 == docs.flatMap { case (id, body) => DocTriples.fromText(id, body, t, opts) }
              .sorted, s"$name: triples vs DocTriples.fromText")
            assert(sqlT.sorted == t3, s"$name: graft_triples ${sqlT.sorted} vs triples $t3")
            assert(srvT.sorted == t3, s"$name: /triples ${srvT.sorted} vs triples $t3")
            saw("annotate", m); saw("triples", t3); saw("graft_mentions", sqlM)
            saw("graft_triples", sqlT); saw("server", srvM ++ srvT)
            name -> ((m, t3))
          }.toMap

          val termsM = Graft.annotateTerms(terms.toDF("id", "term"), "id", "term", tables)
            .as[graft.link.Mention].collect().toVector.map(record).sorted
          assert(termsM == terms.flatMap { case (id, term) =>
            DocKernel.annotate(id, term, t, LinkOptions(termProcessing = true))
          }.map(record).sorted)

          // the page entries take the same record path: Pipeline.run,
          // runShuffled, the stream and Graft.triples give the pages'
          // DocTriples.fromText rows, Pipeline.mentions and Graft.annotate
          // their DocKernel.annotate rows, and the Spark MMO/JSONf/XMLf
          // writers' rows are the server's bodies
          def fromPages(ps: Seq[Page]): Vector[RecordTriple] = ps.filter(_.lang == "en")
            .flatMap(p => DocTriples.fromText(p.url, Extract.htmlToText(p.html), t, LinkOptions.default))
            .toVector.sorted
          val runT = triplesOf(Pipeline.run(pages, tables))
          assert(runT == fromPages(pageRows))
          assert(triplesOf(Pipeline.runShuffled(pages, tables)) == runT)
          assert(triplesOf(Graft.triples(cells, "url", "text", tables)) == runT)
          val streamT = triplesOf(StreamingPipeline.runBounded(spark, nStream, tables))
          assert(streamT == fromPages(pageRows.take(nStream)))
          val pageMs = Pipeline.mentions(pages, tables)
          val pageM = pageMs.toDF()
          assert(pageMs.collect().map(_.toString).sorted.toVector == english.flatMap(p =>
            DocKernel.annotate(p.url, Extract.htmlToText(p.html), t, LinkOptions.default))
            .map(_.toString).sorted)
          assert(strings(pageM) == strings(Graft.annotate(cells, "url", "text", tables)))
          assert(pageM.filter($"url" === "").count() > 0 && pageM.filter($"url".isNull).count() == 0)
          // the graph: the triples rolled up, named from `tables`
          def name(cui: String) = t.cuiPreferred.getOrElse(cui, cui)
          val graph = Graft.graph(cells, "url", "text", tables)
            .select("subj_cui", "pred", "obj_cui", "n_evidence", "n_docs", "subj_name", "obj_name")
            .as[(String, String, String, Long, Long, String, String)].collect().toVector.sorted
          assert(graph == runT.groupBy(r => (r._1, r._2, r._3)).toVector.map { case ((s, p, o), rs) =>
            (s, p, o, rs.size.toLong, rs.map(_._4).distinct.size.toLong, name(s), name(o))
          }.sorted)
          def grouped(df: DataFrame): Map[String, Vector[String]] =
            df.collect().toVector.groupBy(_.getString(0)).map { case (u, rs) =>
              u -> rs.sortBy(r => if (r.length > 2) r.getInt(1) else 0).map(r => r.getString(r.length - 1))
            }
          val mmo = grouped(graft.output.MmoOutput.mmoLines(pages, tables))
          val jsonf = grouped(graft.output.JsonMmoOutput.jsonDocs(pages, tables))
          val xmlf = grouped(graft.output.XmlMmoOutput.xmlDocs(pages, tables))
          assert(Seq(mmo, jsonf, xmlf).forall(_.keySet == english.map(p => Option(p.url).getOrElse("")).toSet))
          english.foreach { p =>
            val url = Option(p.url).getOrElse("")
            def body(format: String): String = {
              c.send(postReq(s"/annotate?id=${java.net.URLEncoder.encode(url, "UTF-8")}&format=$format",
                Extract.htmlToText(p.html)))
              val (code, resp) = c.read()
              assert(code == 200, resp)
              resp
            }
            assert(body("mmo") == mmo(url).mkString("", "\n", "\n"), url)
            assert(body("jsonf") == jsonf(url).mkString("[", ",", "]"), url)
            assert(body("xmlf") == xmlf(url).mkString("<MMOs>", "", "</MMOs>"), url)
          }

          saw("annotateTerms", termsM); saw("run", runT); saw("stream", streamT)
          saw("mentions", strings(pageM)); saw("graph", graph)
          saw("mmo", mmo.values.flatten); saw("jsonf", jsonf.values.flatten)
          saw("xmlf", xmlf.values.flatten)
          (seen.toMap, outputs)
        }
      }

    val (fixture, outputs) = entries(umls)
    assert(fixture("run").exists(_.matches(".*,,\\d+\\)"))) // the null-url page's triple
    // the profiles really differ: segmentation qualifies urls and
    // breaks the cross-line AA, -z links terms
    val default = outputs("default")._1
    Seq("--sldi", "--sldiID", "--blanklines 1", "-z").foreach { p =>
      assert(outputs(p)._1 != default, p)
    }
    // line 2's CA links through line 1's AA only when both lines are
    // one record
    val aaText = docs.head._2
    assert(outputs("default")._1.exists(m =>
      m._1 == "aa" && m._3 == aaText.lastIndexOf("CA") && m._4 == 2))
    assert(!outputs("--sldi")._1.exists(m => m._1 == "aa.1" && m._3 == 3 && m._4 == 2))
    assert(outputs("default")._2.exists(_._2 == "causes"))
    assert(outputs("--sldi")._2.exists(_._4 == "tx.0"))
    // a null id is the empty id at every entry, never null or "null"
    // (urls above pass through String.valueOf so a null shows as one)
    assert(outputs("default")._1.exists(_._1 == ""))
    assert(outputs("--sldi")._1.map(_._1).toSet.intersect(Set(".0", ".1")) == Set(".0", ".1"))
    assert(!outputs.valuesIterator.exists(_._1.exists(_._1.startsWith("null"))))

    // every entry follows the table set it is handed: on the probe set
    // the dropped concept is gone from each output and the graph names
    // the renamed one anew
    val (probe, _) = entries(probeUmls)
    assert(probe.keySet == fixture.keySet)
    fixture.keys.foreach { e =>
      assert(fixture(e).exists(_.contains(Dropped)), e)
      assert(!probe(e).exists(_.contains(Dropped)), e)
    }
    assert(probe("graph").exists(_.contains(NewName)) && !fixture("graph").exists(_.contains(NewName)))
  }
}
