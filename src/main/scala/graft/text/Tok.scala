package graft.text

/** Simple token ala the reference's tok/4 term
  * (/root/reference/text/text_object_tokens.pl:115-134).
  *
  * `typ` is one of: lc uc ic mc an nu pn ws xx.
  * Positions are TIPSTER-style 0-based char offsets: `start` is the index
  * of the first char, `end` the index just past the last char.
  * `id` is the word's id in the word dictionary the text was tokenized
  * with (`graft.umls.WordDict`), -1 for a word outside it, and
  * [[Tok.Unresolved]] when no dictionary numbered the token.
  */
final case class Tok(typ: String, text: String, lc: String, start: Int, end: Int,
    id: Int = Tok.Unresolved) {
  // the kind tests every pass over the token stream makes, decided once
  val isWs: Boolean = typ == "ws"
  val isPunct: Boolean = typ == "pn"
  val isWord: Boolean = !isWs && !isPunct
}

object Tok {
  /** The id of a token no dictionary numbered. */
  val Unresolved: Int = -2
}

/** A sentence span over a token stream (reference `sn` higher-order token,
  * text/text_objects.pl:411-590).
  */
final case class Sentence(sentNo: Int, start: Int, end: Int, toks: Vector[Tok]) {
  /** The sentence's word tokens ([[Tokenizer.wordToks]]), built once and
    * shared by chunking, the glue passes, tagging and NegEx.
    */
  lazy val words: Vector[Tok] = Tokenizer.wordToks(toks)
}
