package graft.text

import scala.collection.mutable.ArrayBuffer

/** Character-class tokenizer re-expressing the reference's
  * form_simple_tokens/4 (/root/reference/text/text_object_tokens.pl:199-299).
  *
  * Maximal runs of alphanumerics become one token typed by case shape
  * (lc/uc/ic/mc/an/nu); every punctuation char is its own `pn` token;
  * maximal whitespace runs are one `ws` token. ASCII-only by design — the
  * extraction layer folds text to ASCII first (utf8_to_ascii analogue).
  */
object Tokenizer {

  @inline private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'
  @inline private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** The case shape of the alnum run `s[from, to)` with the given kinds of
    * chars.
    */
  private def alnumType(s: String, from: Int, to: Int, hasLower: Boolean,
      hasUpper: Boolean, hasDigit: Boolean): String =
    if (hasDigit && (hasLower || hasUpper)) "an"
    else if (hasDigit) "nu"
    else if (hasLower && !hasUpper) "lc"
    else if (hasUpper && !hasLower) "uc"
    else {
      // mixed case: ic iff leading upper + all-lower tail (ASCII input)
      var ic = s.charAt(from) >= 'A' && s.charAt(from) <= 'Z'
      var j = from + 1
      while (ic && j < to) {
        val c = s.charAt(j); ic = c >= 'a' && c <= 'z'; j += 1
      }
      if (ic) "ic" else "mc"
    }

  /** Interned single-char strings — `pn` tokens and single-space `ws`
    * runs dominate a token stream; ASCII-folded input keeps c < 128.
    */
  private val singleChar: Array[String] = Array.tabulate(128)(i => String.valueOf(i.toChar))

  /** Tokenize `text` into the full stream including ws and pn tokens. */
  def tokenize(text: String): Vector[Tok] = tokenize(text, null)

  /** [[tokenize]], with each word token numbered by `dict` in the same
    * pass that lowercases it: the token carries its id, or -1 for a word
    * outside the dictionary ([[Tok.Unresolved]] when `dict` is null), and
    * an in-dictionary word's `lc` is the dictionary's own string.
    */
  def tokenize(text: String, dict: graft.umls.WordDict): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (isWsChar(c)) {
        var j = i + 1
        while (j < n && isWsChar(text.charAt(j))) j += 1
        val t = if (j == i + 1) singleChar(c) else text.substring(i, j)
        out += Tok("ws", t, t, i, j)
        i = j
      } else if (isAlnum(c)) {
        // one scan: the char kinds and the lowercase run's String hash,
        // then one dictionary probe over the chars; an in-dictionary word
        // takes the dictionary's string as its lc (and as its text when
        // already lowercase), allocating none
        var j = i
        var h = 0
        var lower = false; var upper = false; var digit = false
        while (j < n && isAlnum(text.charAt(j))) {
          var ch = text.charAt(j)
          if (ch >= 'a') lower = true
          else if (ch >= 'A') { upper = true; ch = (ch + 32).toChar }
          else digit = true
          h = 31 * h + ch
          j += 1
        }
        val id = if (dict eq null) Tok.Unresolved else dict.idOfLower(text, i, j, h, upper)
        val typ = alnumType(text, i, j, lower, upper, digit)
        if (id >= 0) {
          val w = dict.word(id)
          out += Tok(typ, if (upper) text.substring(i, j) else w, w, i, j, id)
        } else {
          val t = text.substring(i, j)
          out += Tok(typ, t, t.toLowerCase, i, j, id)
        }
        i = j
      } else {
        val t = if (c < 128) singleChar(c) else text.substring(i, i + 1)
        out += Tok("pn", t, t, i, i + 1)
        i = i + 1
      }
    }
    out.result()
  }

  /** T3 tokenize_text (metamap_tokenization.pl:679-724): tokens are
    * maximal runs of non-break characters — break chars are space and
    * hyphen — with ignore chars (colon) dropped from inside tokens; all
    * other punctuation stays attached ("anti-viral drug: ok," ->
    * [anti, viral, drug, "ok,"]).
    */
  def tokenizeText(text: String): Vector[String] = {
    val out = new ArrayBuffer[String]()
    val cur = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == ' ' || c == '-' || isWsChar(c)) {
        if (cur.nonEmpty) { out += cur.toString; cur.clear() }
      } else if (c != ':') cur.append(c)
      i += 1
    }
    if (cur.nonEmpty) out += cur.toString
    out.toVector
  }

  /** T4 tokenize_text_more[_lc] (metamap_tokenization.pl:726-751): maximal
    * alphanumeric sequences (the "wordind" regime), punctuation and
    * whitespace dropped.
    */
  def tokenizeMore(text: String): Vector[String] =
    tokenize(text).collect { case t if t.isWord => t.text }

  def tokenizeMoreLc(text: String): Vector[String] =
    tokenize(text).collect { case t if t.isWord => t.lc }

  /** T6 tokenize_text_utterly (metamap_tokenization.pl:1008-1100): every
    * token including whitespace runs and single-char punctuation, as
    * strings — concatenating the result reproduces the input exactly.
    */
  def tokenizeUtterly(text: String): Vector[String] =
    tokenize(text).map(_.text)

  /** A non-empty run of lowercase letters and digits: its own
    * [[tokenizeMmLc]] token list, a single word.
    */
  private[graft] def isMmWord(text: String): Boolean = {
    val n = text.length
    var f = 0
    while (f < n) {
      val c = text.charAt(f)
      if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))) return false
      f += 1
    }
    n > 0
  }

  /** tokenize_text_mm analogue (metamap_tokenization.pl:765-903): maximal
    * alphanumeric word list, lowercased, with possessives stripped
    * ("crohn's" -> "crohn", "patients'" -> "patients").
    * Operates on a plain string (used to normalize both phrase words and
    * Metathesaurus strings — the two sides MUST agree, SURVEY §2.2 T5).
    */
  def tokenizeMmLc(text: String): Vector[String] = {
    // fast path: a single already-lowercase alnum run IS its token list
    // (no possessive possible without an apostrophe) — the common case
    // for phrase words and single-word generators
    if (isMmWord(text)) return Vector.empty :+ text
    // direct char scan — equivalent to tokenizing and walking the Tok
    // stream (possessive cases map 1:1: adjacency is automatic, a
    // following word token "s" is exactly [s/S then non-alnum], and
    // consuming vs. skipping the bare apostrophe is output-invariant),
    // but without materializing ws/pn tokens on the hot path
    val out = Vector.newBuilder[String]
    var i = 0
    val n = text.length
    while (i < n) {
      if (isAlnum(text.charAt(i))) {
        var j = i + 1
        while (j < n && isAlnum(text.charAt(j))) j += 1
        // the word is ASCII alnum by construction: lowercase in the same
        // pass as the copy (one allocation, identical to toLowerCase here)
        val arr = new Array[Char](j - i)
        var k = i
        while (k < j) {
          val ch = text.charAt(k)
          arr(k - i) = if (ch >= 'A' && ch <= 'Z') (ch + 32).toChar else ch
          k += 1
        }
        out += new String(arr)
        i = j
        if (j < n && text.charAt(j) == '\'') {
          // possessive 's: the next word token is exactly s/S
          val sNext = j + 1 < n && {
            val c1 = text.charAt(j + 1)
            (c1 == 's' || c1 == 'S') && (j + 2 >= n || !isAlnum(text.charAt(j + 2)))
          }
          if (sNext) i = j + 2 // strip the s token
          // plural possessive (word ends in s, bare trailing apostrophe)
          // needs no action: the apostrophe is a pn char and is skipped
        }
      } else i += 1
    }
    out.result()
  }

  /** Word tokens only (no ws/pn), preserving positions; possessive 's is
    * folded into the preceding word token (apostrophe-s reattachment,
    * metamap_tokenization.pl:956-1006).
    */
  def wordToks(toks: Vector[Tok]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.isWord) {
        val hasApos = i + 2 < toks.length && toks(i + 1).text == "'" &&
          toks(i + 1).start == t.end && toks(i + 2).lc == "s" &&
          toks(i + 2).start == toks(i + 1).end
        if (hasApos) {
          out += Tok(t.typ, t.text + "'s", t.lc, t.start, toks(i + 2).end, t.id)
          i += 3
        } else {
          out += t
          i += 1
        }
      } else i += 1
    }
    out.result()
  }
}
