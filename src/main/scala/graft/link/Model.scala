package graft.link

/** A phrase word with its char span in the utterance text and its word
  * dictionary id (as on [[graft.text.Tok]]: -1 outside the dictionary,
  * `Tok.Unresolved` when none numbered it).
  */
final case class PWord(word: String, start: Int, end: Int,
    id: Int = graft.text.Tok.Unresolved)

/** A phrase produced by the minimal-commitment chunker
  * (lib/mincoman.pl:93-103 analogue). `headIdx` is the 0-based index of the
  * head word within `words`. `composite` marks a reference-exact composite
  * phrase (get_composite_phrases, skr.pl:4619-4646): the kernel evaluates
  * such phrases under [term_processing, ignore_word_order] exactly like the
  * reference's CompositeOptions.
  */
final case class Phrase(words: Vector[PWord], headIdx: Int,
    composite: Boolean = false)

/** Variant info gathered per phrase (vinfo/6 analogue,
  * metamap_variants.pl:1340-1402).
  *
  * @param genWord      generator word/multiword (surface in the phrase)
  * @param genPos       1-based [begin,end] positions of the generator in
  *                     the phrase word list
  * @param involvesHead generator position overlaps the head position
  * @param varLevel     variant level (0 spelling, 1 inflection, 2 syn/AA,
  *                     3 derivation; metamap_variants.pl:181-185)
  * @param words        variant words (normalized, possibly multiword)
  * @param seq          insertion sequence preserving reference AVL order
  */
final case class VInfo(genWord: String, genPos: (Int, Int), involvesHead: Boolean,
    varLevel: Int, words: Vector[String], seq: Int) {
  def lastWord: String = words.last
}

/** One matchmap row: [[PhraseBegin,PhraseEnd],[MetaBegin,MetaEnd],VarLevel]
  * (metamap_evaluation.pl:405-427). All positions 1-based inclusive.
  */
final case class MatchEntry(pBegin: Int, pEnd: Int, mBegin: Int, mEnd: Int, varLevel: Int)

/** An evaluated candidate (ev/15 analogue, metamap_utilities.pl:676-687).
  * `posInfo` is the E10 StartPos/Length list: one (start, len) char span
  * per contiguous run of matched phrase words (collapse_pos_info,
  * metamap_evaluation.pl:429-513) — discontiguous matches report exact
  * spans, while (start, end) keeps the overall extent.
  */
final case class Candidate(
    score: Int, cui: String, str: String, concept: String,
    metaWords: Vector[String], semTypes: Vector[String],
    matchMap: Vector[MatchEntry], involvesHead: Boolean,
    start: Int, end: Int, posInfo: Vector[(Int, Int)] = Vector.empty,
    // ev/15 Sources argument (metamap_utilities.pl:676-687): the root
    // source vocabularies asserting this CUI, for -R/-e filtering
    sources: Vector[String] = Vector.empty)

/** A linked mention emitted by the per-document kernel. `posInfo` as in
  * [[Candidate]]; empty means the single extent (start, len) covers it.
  * `term` is the matched Metathesaurus string (MetaTerm, possibly
  * non-preferred — mmi.pl:379) and `lexCat` the concept's lexical
  * category per get_lexcat (mmi.pl:452-491) — both feed the fielded MMI
  * tuple Term-Field-NSent-Text-LexCat-Neg.
  */
final case class Mention(
    url: String, sentNo: Int, start: Int, len: Int,
    cui: String, score: Int, semTypes: Vector[String],
    negated: Boolean, text: String, posInfo: Vector[(Int, Int)] = Vector.empty,
    sources: Vector[String] = Vector.empty,
    term: String = "", lexCat: String = "UNKNOWN")
