package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.link.{Evaluator, LinkOptions, Phrase, PWord, VariantGather}
import graft.pipeline.DocKernel
import graft.umls.MiniUmls

/** C2 full index selection (determine_table, metamap_candidates.pl:298-330;
  * determine_first_word_index + frequent_first_word_pair, :371-387):
  * narrow-index contents, per-probe routing, and end-to-end losslessness
  * on the hot-pair fixture.
  */
class IndexSelectionSpec extends AnyFunSuite {

  private val t = MiniUmls.tables

  private def mkPhrase(words: String*): Phrase = {
    var off = 0
    val pws = words.toVector.map { w =>
      val pw = PWord(w, off, off + w.length); off += w.length + 1; pw
    }
    Phrase(pws, pws.length - 1)
  }

  // the tables by Evaluator.tableFor's position
  private val tableNames =
    Vector("all_words", "first_words_of_one", "first_words_of_two", "first_words", "first_wordsb")

  private def routes(phraseWords: Vector[String], opts: LinkOptions = LinkOptions.default)
      : Map[String, String] = {
    val phrase = mkPhrase(phraseWords: _*)
    val varIndex = VariantGather.gather(phrase, t, Map.empty)
    val lastWords = varIndex.valuesIterator.flatten.map(_.words.last).toSet
    varIndex.valuesIterator.flatten.toVector.sortBy(_.seq).map { vi =>
      vi.words.mkString(" ") ->
        tableNames(Evaluator.tableFor(vi, phrase.words.length, lastWords, t, opts))
    }.toMap
  }

  // index table `k` (Evaluator.tableFor's position) of word `w`, as the
  // kernel probes it
  private def table(k: Int, w: String) = t.firstWordIndex.table(k, t.dict.id(w))

  test("narrow index contents: of_one, of_two, frequent pairs, first_wordsb") {
    assert(table(1, "heart").forall(_.nmWords.length == 1))
    assert(table(1, "heart").exists(_.cui == "C0018787"))
    assert(table(2, "heart").forall(_.nmWords.length <= 2))
    // "shortness of breath" (3 words) must be excluded from of_two
    assert(t.firstWordIndex("shortness").exists(_.nmWords.length == 3))
    assert(!table(2, "shortness").exists(_.nmWords.length == 3))
    // the staging fixture is the only frequent pair
    assert(t.frequentFirstWordPairs == Map("stage" -> Set("lymphoma")))
    // first_wordsb drops the six hot entries but keeps the 1-word "Stage"
    assert(t.firstWordIndex("stage").length == 7)
    assert(table(4, "stage").map(_.cui) == Vector("C4000008"))
    // non-hot keys are untouched
    assert(table(4, "heart") == t.firstWordIndex("heart"))
  }

  test("probe routing follows determine_table") {
    // default mode: last word -> of_one; one-from-right -> of_two;
    // deeper -> first_words(b)
    val r = routes(Vector("coronary", "artery", "disease"))
    assert(r("disease") == "first_words_of_one")
    assert(r("artery") == "first_words_of_two")
    assert(r("coronary") == "first_wordsb") // no hot pair for coronary
    // hot first word WITHOUT a completing variant: reduced index
    val r2 = routes(Vector("stage", "disease", "results"))
    assert(r2("stage") == "first_wordsb")
    // hot first word WITH a variant ending in the hot last word: full index
    val r3 = routes(Vector("stage", "4", "lymphoma"))
    assert(r3("stage") == "first_words")
    // -o: everything probes all_words
    val rO = routes(Vector("coronary", "artery"), LinkOptions(allowOvermatches = true))
    assert(rO.values.toSet == Set("all_words"))
    // -i: word order waived, so of_one/of_two no longer apply
    val rI = routes(Vector("coronary", "artery"), LinkOptions(ignoreWordOrder = true))
    assert(rI("artery") == "first_wordsb" && rI("coronary") == "first_wordsb")
  }

  test("hot-pair retrieval is lossless end to end") {
    // the completing variant routes "stage" to the FULL index: the staging
    // concept must be found
    val m1 = DocKernel.mentions("u", "Stage 4 lymphoma was confirmed.", t)
    assert(m1.exists(_.cui == "C4000004"), m1.map(_.cui).toString)
    // without a completing variant the reduced index must still find the
    // 1-word Stage concept, and no staging concept can leak in
    val m2 = DocKernel.mentions("u", "The stage results were confirmed.", t)
    assert(m2.exists(_.cui == "C4000008"), m2.map(_.cui).toString)
    val staging = (1 to 6).map(i => s"C400000$i").toSet
    assert(!m2.exists(m => staging.contains(m.cui)))
  }

  test("of_one/of_two probes lose nothing vs the full first-word index") {
    // parity harness: every fixture concept string, annotated as running
    // text with a trailing period, must still link to its CUI (the narrow
    // probes must never drop a reachable entry)
    for ((cui, _, _, strs) <- MiniUmls.concepts; s <- strs) {
      val ms = DocKernel.termMentions("u", s, t)
      assert(ms.exists(_.cui == cui), s"term '$s' no longer links to $cui")
    }
  }
}
