package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.link.{LinkOptions, MatchEntry, Matcher, Scorer, VInfo}
import graft.pipeline.{DocKernel, DocTriples}
import graft.text.{Extract, Tokenizer}
import graft.umls.MiniUmls

/** Property-based invariants (SURVEY §5 plan). scalatestplus is not in the
  * offline cache, so properties are driven directly off scalacheck Gens
  * with a fixed seed (deterministic).
  */
class PropertySpec extends AnyFunSuite {

  private val umls = MiniUmls.tables

  private def forAllGen[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 5) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > n / 2, s"generator too sparse: $produced/$n")
  }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.const(' '),
      1 -> Gen.oneOf('.', ',', '(', ')', '\'', '-', '!'),
      1 -> Gen.const('\n'))).map(_.mkString)

  test("tokenizer: concat roundtrip and offset monotonicity for any ASCII text") {
    forAllGen(asciiText) { s =>
      val toks = Tokenizer.tokenize(s)
      assert(toks.map(_.text).mkString == s)
      assert(toks.forall(t => t.end - t.start == t.text.length))
      assert(toks.sliding(2).forall {
        case Seq(a, b) => a.end == b.start
        case _ => true
      })
    }
  }

  test("tokenizeMmLc: char scanner equals the token-stream possessive walk") {
    // the token-walk form of tokenize_text_mm (metamap_tokenization.pl:
    // 765-903): word tokens lowercased, "'s" after a word consumed, a
    // bare trailing apostrophe after an s-final word consumed. The shipped
    // implementation is a direct char scanner (one pass, no Tok stream);
    // this pin proves the two agree on arbitrary apostrophe-dense input.
    def walk(text: String): Vector[String] = {
      val toks = Tokenizer.tokenize(text)
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        if (t.isWord) {
          val isApos = i + 1 < toks.length && toks(i + 1).text == "'" &&
            toks(i + 1).start == t.end
          val nextIsS = i + 2 < toks.length && toks(i + 2).lc == "s" &&
            toks(i + 2).start == toks(i + 1).end
          if (isApos && nextIsS) { out += t.lc; i += 3 }
          else if (isApos && t.lc.endsWith("s") &&
            (i + 2 >= toks.length || toks(i + 2).isWs || toks(i + 2).isPunct)) {
            out += t.lc; i += 2
          } else { out += t.lc; i += 1 }
        } else i += 1
      }
      out.result()
    }
    val possessive: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.const('\''), 2 -> Gen.const('s'),
      2 -> Gen.const(' '), 1 -> Gen.oneOf('.', 'S', '-'))).map(_.mkString)
    forAllGen(possessive, 400) { s =>
      assert(Tokenizer.tokenizeMmLc(s) == walk(s), s"input: ${s.take(80)}")
    }
    forAllGen(asciiText, 200) { s =>
      assert(Tokenizer.tokenizeMmLc(s) == walk(s), s"input: ${s.take(80)}")
    }
  }

  /** VALID matchmaps only — the matcher guarantees pairwise-disjoint
    * phrase components and sequential disjoint meta spans; the scorer's
    * bound holds exactly for those (overlapping components can push
    * coverage/cohesiveness above 1 by construction).
    */
  private val validMatchMapGen: Gen[List[MatchEntry]] = for {
    k <- Gen.choose(1, 5)
    pGaps <- Gen.listOfN(k, Gen.choose(0, 2))
    pLens <- Gen.listOfN(k, Gen.choose(1, 3))
    mLens <- Gen.listOfN(k, Gen.choose(1, 3))
    vs <- Gen.listOfN(k, Gen.oneOf(0, 1, 2, 3, 5))
  } yield {
    var p = 0
    var m = 0
    (0 until k).map { i =>
      val pb = p + pGaps(i) + 1
      val pe = pb + pLens(i) - 1
      val mb = m + 1
      val me = mb + mLens(i) - 1
      p = pe; m = me
      MatchEntry(pb, pe, mb, me, vs(i))
    }.toList
  }

  test("scorer: value always in [0, 1000] for valid matchmaps") {
    val g = for {
      mm <- validMatchMapGen
      head <- Gen.oneOf(true, false)
      extraP <- Gen.choose(0, 3)
      extraM <- Gen.choose(0, 3)
    } yield (mm, head, extraP, extraM)
    forAllGen(g) { case (mm, head, extraP, extraM) =>
      val np = mm.map(_.pEnd).max + extraP
      val nm = mm.map(_.mEnd).max + extraM
      val s = Scorer.score(mm.toVector, np, nm, head)
      assert(s >= 0 && s <= 1000, s"score $s out of range for $mm")
    }
  }

  test("scorer: exact full match always scores 1000") {
    forAllGen(Gen.choose(1, 8), 8) { n =>
      val mm = Vector(MatchEntry(1, n, 1, n, 0))
      assert(Scorer.score(mm, n, n, involvesHead = true) == 1000)
    }
  }

  test("kernel: WSD-deduped mentions are unique per span; spans in bounds") {
    forAllGen(Gen.choose(0L, 5000L), 60) { n =>
      val (page, _, _) = graft.corpus.CorpusGen.genPage(n)
      val ms = DocTriples.wsdLocal(
        DocKernel.mentions(page.url, page.text, umls), umls)
      val spans = ms.map(m => (m.sentNo, m.start, m.len))
      assert(spans.distinct.length == spans.length)
      assert(ms.forall(m => m.start >= 0 && m.start + m.len <= page.text.length))
      assert(ms.forall(m => m.score >= 0 && m.score <= 1000))
    }
  }

  test("triples: pair emission is order-deterministic and within-sentence") {
    forAllGen(Gen.choose(9L, 3000L), 60) { n =>
      val (page, _, _) = graft.corpus.CorpusGen.genPage(n)
      val t1 = DocTriples.fromDoc(page.url, page.text, umls)
      val t2 = DocTriples.fromDoc(page.url, page.text, umls)
      assert(t1 == t2)
      assert(t1.forall(_._4 == page.url))
    }
  }

  test("matcher options form a lattice: -o and -g accept supersets of pinned mode") {
    // random small variant indexes + meta word lists; whenever pinned mode
    // accepts, every relaxation must also accept (with identical matchmap
    // for the pinned-compatible part of the lattice is NOT required; only
    // acceptance monotonicity is)
    val word: Gen[String] = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val viGen: Gen[(String, VInfo)] = for {
      w <- word
      pos <- Gen.choose(1, 4)
      len <- Gen.choose(1, 2)
      extra <- word
      lvl <- Gen.choose(0, 3)
    } yield (w, VInfo(w, (pos, pos + len - 1), pos == 1,
      lvl, if (len == 1) Vector(w) else Vector(w, extra), 0))
    val caseGen = for {
      vis <- Gen.listOfN(6, viGen)
      metaLen <- Gen.choose(1, 4)
      meta <- Gen.listOfN(metaLen, word)
    } yield (vis.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).zipWithIndex.map { case (x, i) => x.copy(seq = i) }.toVector
    }, meta.toVector)
    var accepted = 0
    forAllGen(caseGen, 300) { case (vi, meta) =>
      val pinned = Matcher.matchPhraseOpt(meta, vi, headless = false, LinkOptions.default)
      if (pinned.isDefined) {
        accepted += 1
        // NOTE -g alone is deliberately NOT in this list: the reference's
        // cut semantics make allow_concept_gaps non-monotone — a gaps-skip
        // "success" commits a vinfo choice that pinned-mode backtracking
        // would have escaped (see the pinned counterexample test below).
        for (o <- Seq(LinkOptions(allowOvermatches = true),
          LinkOptions(ignoreWordOrder = true),
          LinkOptions(allowOvermatches = true, allowConceptGaps = true, ignoreWordOrder = true))) {
          assert(Matcher.matchPhraseOpt(meta, vi, headless = false, o).isDefined,
            s"relaxation $o rejected a pinned-accepted case: meta=$meta vi=$vi")
        }
        // pinned acceptance is never an overmatch and covers all meta words
        assert(!pinned.get.isOvermatch)
        assert(pinned.get.extraMetaIdx.isEmpty)
      }
    }
    assert(accepted > 10, s"generator produced too few accepted cases: $accepted")
  }

  test("-g non-monotonicity: the gaps skip commits a choice pinned mode escapes") {
    // Found by the lattice property: meta [gamma, eps]; gamma has a
    // single-word vinfo tried first and a two-word [gamma, eps] vinfo
    // behind it. Pinned mode: pos2 has no eps vinfo -> fail -> backtrack
    // to the two-word vinfo -> accept. Gaps mode: pos2 skips eps (the
    // third aux clause) -> aux "succeeds" with meta position 2 uncovered,
    // the first-success cut commits the single-word choice, completeness
    // fails -> reject. This mirrors the reference exactly: the ! at the
    // end of compute_phrase_match_aux's second clause fires on the
    // skip-path success (evaluation.pl:693-710).
    val vi = Map(
      "gamma" -> Vector(
        VInfo("gamma", (3, 3), false, 0, Vector("gamma"), 0),
        VInfo("gamma", (3, 4), false, 0, Vector("gamma", "eps"), 1)))
    val meta = Vector("gamma", "eps")
    assert(Matcher.matchPhraseOpt(meta, vi, headless = false, LinkOptions.default).isDefined)
    assert(Matcher.matchPhraseOpt(meta, vi, headless = false,
      LinkOptions(allowConceptGaps = true)).isEmpty)
    // -o accepts it (as an overmatch fallback)
    val o = Matcher.matchPhraseOpt(meta, vi, headless = false,
      LinkOptions(allowOvermatches = true))
    assert(o.isDefined && o.get.isOvermatch)
  }

  test("matcher: matchmap spans always within phrase/meta bounds (all option combos)") {
    val word: Gen[String] = Gen.oneOf("alpha", "beta", "gamma")
    val caseGen = for {
      n <- Gen.choose(1, 4)
      ws <- Gen.listOfN(n, word)
      meta <- Gen.listOfN(3, word)
      io <- Gen.oneOf(true, false)
      ov <- Gen.oneOf(true, false)
      gp <- Gen.oneOf(true, false)
    } yield (ws.toVector, meta.toVector, LinkOptions(
      ignoreWordOrder = io, allowOvermatches = ov, allowConceptGaps = gp))
    forAllGen(caseGen, 300) { case (ws, meta, o) =>
      val vi = ws.zipWithIndex.groupBy(_._1).map { case (k, v) =>
        k -> v.zipWithIndex.map { case ((w, i), s2) =>
          VInfo(w, (i + 1, i + 1), i == ws.length - 1, 0, Vector(w), s2)
        }.toVector
      }
      Matcher.matchPhraseOpt(meta, vi, headless = false, o).foreach { r =>
        r.matchMap.foreach { e =>
          assert(e.pBegin >= 1 && e.pEnd <= ws.length && e.pBegin <= e.pEnd)
          assert(e.mBegin >= 1 && e.mEnd <= meta.length && e.mBegin <= e.mEnd)
        }
        assert(r.extraMetaIdx.forall(i => i >= 1 && i <= meta.length))
      }
    }
  }

  test("kernel fuzz: random ASCII text never throws; spans in bounds") {
    forAllGen(asciiText, 150) { text =>
      val ms = DocKernel.mentions("u:f", text, umls)
      ms.foreach { m =>
        assert(m.start >= 0 && m.start + m.len <= text.length)
        assert(m.score >= 0 && m.score <= 1000)
        assert(m.text == text.substring(m.start, m.start + m.len))
      }
    }
  }

  test("adversarial page guard: a 5000-noun run completes quickly") {
    // Common-Crawl tag soup: thousands of content words, no punctuation.
    // Without the chunker's phrase cap this is quadratic and stalls.
    val soup = Vector.tabulate(5000)(i => s"lung w$i").mkString(" ")
    val t0 = System.nanoTime()
    val ms = DocKernel.mentions("u:soup", soup, umls)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(ms.nonEmpty) // the known words still link
    assert(sec < 10.0, f"adversarial page took $sec%.1f s")
  }

  test("adversarial of-chain page completes quickly (glue cap)") {
    val soup = Vector.fill(2000)("lung of").mkString(" ") + " lung"
    val t0 = System.nanoTime()
    val ms = DocKernel.mentions("u:of", soup, umls)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(ms.nonEmpty)
    assert(sec < 10.0, f"of-chain page took $sec%.1f s")
  }

  test("adversarial AA-definition page completes quickly (doc cap)") {
    // 2,500 accepted AA definitions: the cross-AA blockers scan every
    // stored AA per parenthetical, so without MaxAasPerDoc this page is
    // quadratic in stored-AA count
    val soup = (1 to 2500)
      .map(i => s"cat$i dog$i (C${i}D) and.").mkString(" ")
    val t0 = System.nanoTime()
    val recs = graft.aa.AaDetector.findAaRecords(
      graft.text.Tokenizer.tokenize(soup))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(recs.length == graft.aa.AaDetector.MaxAasPerDoc)
    assert(sec < 10.0, f"AA-definition page took $sec%.1f s")
  }

  test("AA discovery: total and sound for arbitrary word/paren inputs") {
    // the full find_aa pipeline must never throw on arbitrary text, and
    // any discovered expansion must use words drawn from the text before
    // the parenthetical (scope soundness)
    val g = for {
      aa <- Gen.choose(1, 10).flatMap(k =>
        Gen.listOfN(k, Gen.alphaUpperChar).map(_.mkString))
      ws <- Gen.nonEmptyListOf(
        Gen.choose(1, 12).flatMap(k => Gen.listOfN(k, Gen.alphaLowerChar).map(_.mkString)))
    } yield (aa, ws)
    forAllGen(g) { case (aa, ws) =>
      val text = ws.mkString(" ") + " (" + aa + ")."
      val found = graft.aa.AaDetector.findAas(graft.text.Tokenizer.tokenize(text))
      found.foreach { case (_, exp) =>
        exp.foreach(w => assert(ws.exists(_.contains(w)) || ws.contains(w),
          s"expansion word '$w' not from the scope words $ws"))
      }
    }
  }

  test("ascii fold: total over the entire BMP, always pure ASCII output") {
    // every char (all 65,536 codepoints incl. unpaired surrogates) must
    // fold without throwing, and the result must be pure ASCII — the
    // downstream tokenizer/kernel contract (a non-ASCII leak would make
    // extraction non-byte-stable)
    var c = 0
    while (c < 0x10000) {
      val r = graft.text.Extract.foldChar(c.toChar)
      if (!r.forall(_ < 128))
        fail(f"foldChar(U+$c%04x) emitted non-ASCII: '$r'")
      c += 1
    }
  }

  /** Hostile html: tags in any case and padding, attributes, self-closed
    * and unterminated tags, entities (decodable, unknown, bare '&'),
    * control characters, CRLF, non-ASCII text (Kelvin sign and dotted
    * capital I in tag names) and blank lines.
    */
  private val hostileHtml: Gen[String] = {
    val fragment = Gen.frequency(
      6 -> Gen.oneOf("<p>", "<P>", "< p >", "</p>", "<  DIV class=\"x\">", "</Div >",
        "<br/>", "<BR>", "<br />", "<li>", "<h1>", "</H1>", "<title>T</title>", "<TR>",
        "<table><tr><td>c</td></tr></table>", "<a href=\"u\">link</a>", "<!-- c -->",
        "<!DOCTYPE html>", "<BLOC\u212AQUOTE>", "<t\u0130tle>", "<section/>", "</>",
        "<", ">", "</", "<p", "<1>", "<_x>", "< /p>", "</scriptx>", "<scripts>"),
      3 -> Gen.oneOf("<script/>", "<script>var a=1<2;</script>",
        "<SCRIPT type='t'>x</SCRIPT >", "<style>p{}</style>", "<STYLE/>", "</script>",
        "<script >y</ script>"),
      4 -> Gen.oneOf("&#10;", "&#9;", "&nbsp;", "&amp;", "&lt;", "&gt;", "&quot;",
        "&apos;", "&#233;", "&#x41;", "&bogus;", "&", "&#12345678;", "&#1234;", "&amp;lt;"),
      4 -> Gen.oneOf("\r\n", "\n", "\n\n", "  ", "\t", " \n \n ", "\u0000", "\u0007",
        "\u000b"),
      6 -> Gen.oneOf("caf\u00e9", "\u03b1-blocker", "na\u00efve", "\u2014", "\u00a0",
        "\u200b", "\ud83d\ude00", "Heart attack", "lung cancer", "The patient",
        " word ", "x", ";"),
      2 -> Gen.choose(0x80.toChar, 0x3000.toChar).map(_.toString),
      3 -> Gen.alphaNumStr.map(_.take(12)))
    Gen.listOf(fragment).map(_.mkString)
  }

  test("extraction: the one-pass htmlToText equals the reference on hostile html") {
    forAllGen(hostileHtml, 3000) { html =>
      val got = Extract.htmlToText(html)
      assert(got == ExtractReference.htmlToText(html), s"html: ${html.take(200)}")
    }
    // "&#;" has no digits: the reference threw on it, it stays literal now
    assert(Extract.htmlToText("<p>a &#; b</p>") == "a &#; b")
  }
}
