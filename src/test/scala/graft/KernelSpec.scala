package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.aa.AaDetector
import graft.corpus.CorpusGen
import graft.link._
import graft.pipeline.{DocKernel, DocTriples}
import graft.text.{Extract, Sentences, Tokenizer}
import graft.umls.MiniUmls

/** Per-operator unit tests (SURVEY.md §5 plan): tokenizers, sentence
  * splitter, AA detection with the 0.30 cutoff, the exact scoring
  * arithmetic, the matcher, and the full per-document kernel on the
  * reference's embedded regression cases (special pages 0-8).
  */
class KernelSpec extends AnyFunSuite {

  private val umls = MiniUmls.tables

  test("T1 tokenizer: char classes and TIPSTER positions") {
    val toks = Tokenizer.tokenize("Heart disease")
    assert(toks.map(t => (t.typ, t.text, t.start, t.end)) == Vector(
      ("ic", "Heart", 0, 5), ("ws", " ", 5, 6), ("lc", "disease", 6, 13)))
    val t2 = Tokenizer.tokenize("Ca2+ and HPV-16.")
    assert(t2.map(_.typ) == Vector("an", "pn", "ws", "lc", "ws", "uc", "pn", "nu", "pn"))
  }

  test("T1 tokenizer: concat roundtrip") {
    val s = "The OGTT, n = 8, was (quite) normal.\nNext line!"
    assert(Tokenizer.tokenize(s).map(_.text).mkString == s)
  }

  test("T5 tokenize_text_mm: possessives stripped, lowercased") {
    assert(Tokenizer.tokenizeMmLc("Crohn's disease") == Vector("crohn", "disease"))
    assert(Tokenizer.tokenizeMmLc("patients' records") == Vector("patients", "records"))
    assert(Tokenizer.tokenizeMmLc("Heart Attack") == Vector("heart", "attack"))
  }

  test("string normalization: uninversion + NOS") {
    assert(MiniUmls.normalizeString("Cancer, Liver") == Vector("liver", "cancer"))
    assert(MiniUmls.normalizeString("Anemia, NOS") == Vector("anemia"))
    assert(MiniUmls.normalizeString("Heart attack") == Vector("heart", "attack"))
  }

  test("T2 sentences: period boundaries, newline blocks, paren guard") {
    val s = Sentences.split("First sentence. Second one!\nThird block")
    assert(s.map(_.toks.head.text) == Vector("First", "Second", "Third"))
    val s2 = Sentences.split("Coronary artery (CA) disease. CA was severe.")
    assert(s2.length == 2)
    // '.' inside parens does not split
    val s3 = Sentences.split("A result (p = .05) here. Next.")
    assert(s3.length == 2)
  }

  test("T2 sentences: reference boundary decision rules") {
    // can_begin_sentence: an isolated lc word cannot begin a sentence,
    // so "word. word" does NOT break (text_objects.pl:361-393)...
    assert(Sentences.split("The approx. values are low.").length == 1)
    // ...but a non-lc follower does: nu ("3"), uc ("DNA"), ic ("Next")
    assert(Sentences.split("See Fig. 3 here").length == 2)
    assert(Sentences.split("It was mid. Next came more.").length == 2)
    // can_be_abbreviation: prev lc/ic/mc/single-uc may abbreviate (no
    // break before lc); prev multi-uc or number cannot -> always break
    assert(Sentences.split("Injected E. coli early.").length == 1)
    assert(Sentences.split("We used DNA. then more.").length == 2)
    assert(Sentences.split("Stage 3. then more.").length == 2)
    // punctuation before the period also forces the break (CBA = n)
    assert(Sentences.split("It ended). then more.").length == 2)
    // '!' and '?' follow the same rules as '.'
    assert(Sentences.split("Stop! go away now.").length == 1)
    assert(Sentences.split("Stop! Go away now.").length == 2)
    // no-whitespace break before a known sentence-initial ic word
    // (sentence_initial_words.pl — note "The" is NOT in the reference
    // table while "This" is) or any ic word longer than 6 chars
    assert(Sentences.split("It was the end.This next began.").length == 2)
    assert(Sentences.split("It was the end.Moreover it began.").length == 2)
    assert(Sentences.split("It was the end.The next began.").length == 1)
    assert(Sentences.split("It was the end.Xyz next began.").length == 1)
    // ellipsis: the run of dots stays with the sentence, break at last
    val ell = Sentences.split("We waited... Then left.")
    assert(ell.length == 2 && ell(0).toks.last.text == ".")
    // a right-bracket run after the punc breaks unconditionally and
    // belongs to the ending sentence (rb_ws_seq, text_objects.pl:210-240)
    val q = Sentences.split("He said \"Stop. Go home.\" Then left.")
    assert(q.length == 2 && q(0).toks.last.text == "\"")
    // quote brackets suppress interior breaks only as a parenthetical
    // unit: opener needs whitespace before, closer non-whitespace
    assert(Sentences.split("A \"p. q\" mark here.").length == 1)
    // parenthetical sentence boundary: punc immediately before the
    // close ends the sentence at the close (text_objects.pl:263-300)
    val pe = Sentences.split("(Here it ended.) Then more came.")
    assert(pe.length == 2 && pe(0).toks.last.text == ")")
    // but not when what follows cannot begin a sentence
    assert(Sentences.split("(Here it ended.) then more came.").length == 1)
    // intra-word apostrophes are invisible to bracketing (the reference
    // gloms them into one xx token) and make CBA = n (xx -> break)
    assert(Sentences.split("It was crohn's. then more.").length == 2)
    val ap = Sentences.split("He said 'stop now' and crohn's idea held.")
    assert(ap.length == 1)
    // unbalanced bracketing beyond 2000 chars is rejected, sentence
    // rules keep applying inside (test_bracketing_distance)
    val far = "(word " * 500 + "end. Next came more."
    assert(Sentences.split(far).length == 2)
  }

  test("A1-A4 AA discovery: CA -> coronary artery; (Act) rejected") {
    val toks = Tokenizer.tokenize("Coronary artery (CA) disease. CA was severe.")
    val aas = AaDetector.findAas(toks)
    assert(aas == Map("ca" -> Vector("coronary", "artery")))
    val rej = AaDetector.findAas(Tokenizer.tokenize(
      "Immigration and Nationality Act (Act)."))
    assert(rej.isEmpty)
  }

  test("E3-E8 scorer: exact integer values from the reference formulas") {
    // exact single-word match: 1000
    val exact = Vector(MatchEntry(1, 1, 1, 1, 0))
    assert(Scorer.score(exact, 1, 1, involvesHead = true) == 1000)
    // head word of a 2-word phrase: 861
    assert(Scorer.score(Vector(MatchEntry(2, 2, 1, 1, 0)), 2, 1, involvesHead = true) == 861)
    // non-head word of a 2-word phrase: 694
    assert(Scorer.score(Vector(MatchEntry(1, 1, 1, 1, 0)), 2, 1, involvesHead = false) == 694)
    // AA/synonym variant covering a 1-word phrase with a 2-word string: 944
    assert(Scorer.score(Vector(MatchEntry(1, 1, 1, 2, 2)), 1, 2, involvesHead = true) == 944)
    // modifier in a glued 3-word phrase (P2 myocardial infarction): 735
    assert(Scorer.score(Vector(MatchEntry(2, 3, 1, 2, 0)), 3, 2, involvesHead = false) == 735)
    // last word of glued 3-word phrase, non-head (P7 chest): 660
    assert(Scorer.score(Vector(MatchEntry(3, 3, 1, 1, 0)), 3, 1, involvesHead = false) == 660)
  }

  test("scorer: connected components merge contiguous spans") {
    assert(Scorer.connectedComponents(Seq((1, 1), (2, 2), (4, 4))) == Vector(2, 1))
    assert(Scorer.connectedComponents(Seq((1, 2), (3, 5))) == Vector(5))
  }

  test("extraction: entities, script dropped, ascii folding, blocks") {
    val html = "<html><head><title>Caf&#233; A &amp; B</title><script>var x=1;</script>" +
      "</head><body><p>First.</p><p>R&eacute;sum&#233; line</p></body></html>"
    // &eacute; is not in our entity set -> left as-is minus fold? It stays literal.
    val txt = Extract.htmlToText(html)
    assert(txt.startsWith("Cafe A & B\nFirst."))
  }

  test("chunker: boundaries and of-gluing") {
    val toks = Sentences.split("The patient reported pain on the left side of the chest.")
      .head.toks
    val phrases = PhraseChunker.chunk(toks, umls)
    assert(phrases.map(_.words.map(_.word)) ==
      Vector(Vector("patient"), Vector("pain"), Vector("left", "side", "chest")))
    assert(phrases(2).headIdx == 1) // head = side (first NP's head)
  }

  private def kernelOn(sents: Vector[String]): Vector[Mention] = {
    val text = sents.mkString("\n")
    DocKernel.mentions("u", text, umls)
  }

  test("special pages: kernel reproduces hand-derived mentions") {
    for ((idx, (sents, expected, _)) <- CorpusGen.specialPages.zipWithIndex.map(_.swap)) {
      val offsets = sents.scanLeft(0)((acc, s) => acc + s.length + 1)
      val got = kernelOn(sents)
        .map(m => (m.sentNo, m.start, m.len, m.cui, m.score, m.negated)).sorted
      val exp = expected.map(m =>
        (m.sentNo, m.start + offsets(m.sentNo), m.len, m.cui, m.score, m.negated)).sorted
      // WSD dedup happens corpus-level; apply the same rule here
      val gotDedup = got.groupBy(t => (t._1, t._2, t._3)).toVector.flatMap { case (_, ms) =>
        Vector(ms.minBy(m => (-m._5, umls.cuiSemTypes.getOrElse(m._4, Vector())
          .map(umls.semTypePriority.getOrElse(_, 99)).minOption.getOrElse(99), m._4)))
      }.sorted
      assert(gotDedup == exp, s"\nspecial page $idx: ${sents.mkString(" | ")}\n" +
        s"got:      $gotDedup\nexpected: $exp")
    }
  }

  test("bulk sentences: kernel matches closed-form expectations") {
    for (seed <- 0L until 60L) {
      val g = CorpusGen.bulkSentence(seed)
      val got = kernelOn(Vector(g.text))
        .map(m => (m.start, m.len, m.cui, m.score, m.negated)).sorted
      val exp = g.mentions.map(m => (m._1, m._2, m._3, m._4, m._5)).sorted
      assert(got == exp, s"\nbulk: ${g.text}\ngot:      $got\nexpected: $exp")
    }
  }

  test("byte-identical extraction on generated pages") {
    for (n <- 0L until 80L) {
      val (page, _, _) = CorpusGen.genPage(n)
      val extracted = Extract.htmlToText(page.html)
      assert(extracted == page.text, s"page $n extraction mismatch:\n$extracted\nvs\n${page.text}")
    }
  }

  test("kernel reproduces CorpusGen's ground truth on low and benchmark-range pages") {
    // the first 1000 pages (the hand-written special pages included) and
    // pages from the range the benchmark draws its windows from (n up to
    // about 10^9)
    val ns = (0L until 1000L) ++ (123456789L until 123456989L) ++
      (987654321L until 987654521L)
    // the two pages where kernel and ground truth differ, pinned exactly so
    // that a change on either side shows. Page 4: "cold" has two readings
    // before WSD, and the special page lists the one corpus-level WSD keeps.
    // Page 13: the ground truth lacks the co-occurs_with pair the kernel
    // draws between the sentence's two disorder mentions.
    val extraMentions = Map(4L -> Vector(("https://ex.test/p/4", 1, 34, 4, "C0009264", 1000, false)))
    val extraTriples = Map(13L -> Vector(
      ("C0003864", "co-occurs_with", "C0033860", "https://ex.test/p/13", 1),
      ("C0033860", "co-occurs_with", "C0003864", "https://ex.test/p/13", 1)))
    var checked = 0
    for (n <- ns) {
      val (page, ms, ts) = CorpusGen.genPage(n)
      if (page.lang == "en") {
        val got = DocKernel.mentions(page.url, page.text, umls)
          .map(m => (m.url, m.sentNo, m.start, m.len, m.cui, m.score, m.negated)).sorted
        val want = ms.map(m => (m.url, m.sentNo, m.start, m.len, m.cui, m.score, m.negated)).sorted
        assert(got.diff(want) == extraMentions.getOrElse(n, Vector.empty) &&
          want.diff(got).isEmpty, s"page $n mentions")
        val gotT = DocTriples.fromDoc(page.url, Extract.htmlToText(page.html), umls).sorted
        val wantT = ts.map(t => (t.subj_cui, t.pred, t.obj_cui, t.url, t.sentNo)).sorted
        assert(gotT.diff(wantT) == extraTriples.getOrElse(n, Vector.empty) &&
          wantT.diff(gotT).isEmpty, s"page $n triples")
        checked += 1
      }
    }
    assert(checked >= 1000, s"only $checked English pages checked")
  }

  test("kernel output digest: 2,000 generated pages under every option profile") {
    // KernelDigest hashes the extracted text, every mention field, every
    // triple and the MMO/JSONf/XMLf bytes in order; a kernel change that
    // keeps its outputs bit for bit keeps this value
    assert(KernelDigest.digest(umls, 2000) ==
      "eb01da6f9888513f30475d8957ba8c4c967cd4b93f6affb1237b87bb12a7a677")
  }
}
