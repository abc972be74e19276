package graft.text

import scala.collection.mutable.StringBuilder

/** HTML -> text extraction for Common-Crawl-style pages.
  *
  * Contract (BASELINE.json input_hint): extraction must be byte-identical
  * per url to the corpus `text` column. The rules below are the spec; the
  * corpus generator (graft.corpus.CorpusGen) emits html whose extraction
  * under these rules reproduces its `text` exactly, and the test suite
  * asserts it row-wise.
  *
  * Rules:
  *  - <script>/<style> elements are dropped whole;
  *  - block-level tags (title, p, div, li, h1-h6, br, tr) emit "\n"
  *    separators; other tags are removed;
  *  - the standard five entities plus &nbsp; and numeric &#NN; are decoded;
  *  - the result is folded to ASCII (utf8_to_ascii analogue,
  *    /root/reference/text/utf8_to_ascii.pl:36-1512) and control chars,
  *    tabs included, become spaces
  *    (/root/reference/lib/nls_strings.pl:1129-1156);
  *  - leading/trailing newlines are trimmed and runs of >1 newline
  *    collapse to one.
  */
object Extract {

  private val blockTags = Set(
    "p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "br", "tr", "table", "title", "blockquote", "section", "article")

  private val greekLower = "\u03b1\u03b2\u03b3\u03b4\u03b5\u03b6\u03b7\u03b8\u03b9\u03ba\u03bb\u03bc\u03bd\u03be\u03bf\u03c0\u03c1\u03c2\u03c3\u03c4\u03c5\u03c6\u03c7\u03c8\u03c9"
  private val greekLowerNames = Vector("alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu",
    "xi", "omicron", "pi", "rho", "sigma", "sigma", "tau", "upsilon", "phi",
    "chi", "psi", "omega")
  private val greekUpper = "\u0391\u0392\u0393\u0394\u0395\u0396\u0397\u0398\u0399\u039a\u039b\u039c\u039d\u039e\u039f\u03a0\u03a1\u03a3\u03a4\u03a5\u03a6\u03a7\u03a8\u03a9"

  /** Greek letters fold to their spelled names, the same shape as the
    * reference table rows (utf8_to_ascii.pl: 0x03b1 -> 'alpha',
    * 0x00df -> 'beta', ...): Greek in biomedical text is notation
    * ("\u03b1-blocker", "TNF-\u03b2"), so the name IS the ASCII form.
    */
  private val greekNames: Map[Char, String] =
    (greekLower.zip(greekLowerNames) ++
      greekUpper.zip(greekLowerNames.distinct.map(_.capitalize))).toMap

  /** Explicit folds where the ASCII form is not a diacritic strip:
    * ligatures, typography, math signs, fractions (the reference table's
    * multi-char rows).
    */
  private val special: Map[Char, String] = Map(
    '\u00e6' -> "ae", '\u00c6' -> "AE", '\u0153' -> "oe", '\u0152' -> "OE",
    '\u00df' -> "beta", // utf8_to_ascii.pl 0x00df -- biomedical heritage
    '\ufb01' -> "fi", '\ufb02' -> "fl", '\u0133' -> "ij", '\u0132' -> "IJ",
    '\u00f0' -> "d", '\u00d0' -> "D", '\u00fe' -> "th", '\u00de' -> "TH",
    '\u00f8' -> "o", '\u00d8' -> "O", '\u0142' -> "l", '\u0141' -> "L",
    '\u0111' -> "d", '\u0110' -> "D", '\u0131' -> "i",
    '\u2019' -> "'", '\u2018' -> "'", '\u201a' -> "'", '\u201b' -> "'",
    '\u02bc' -> "'", '\u2039' -> "'", '\u203a' -> "'", '\u2032' -> "'",
    '\u201c' -> "\"", '\u201d' -> "\"", '\u201e' -> "\"", '\u201f' -> "\"",
    '\u00ab' -> "\"", '\u00bb' -> "\"", '\u2033' -> "\"",
    '\u2013' -> "-", '\u2014' -> "-", '\u2015' -> "-", '\u2010' -> "-",
    '\u2011' -> "-", '\u2012' -> "-", '\u2212' -> "-",
    '\u2026' -> "...",
    '\u00d7' -> "x", '\u00f7' -> "/", '\u00b1' -> "+/-", '\u00b7' -> ".",
    '\u2022' -> "*", '\u00b5' -> "u", '\u00b0' -> " ",
    '\u00bc' -> "1/4", '\u00bd' -> "1/2", '\u00be' -> "3/4",
    '\u00b9' -> "1", '\u00b2' -> "2", '\u00b3' -> "3",
    '\u00a0' -> " ", '\u2002' -> " ", '\u2003' -> " ", '\u2009' -> " ",
    '\u200b' -> "")

  /** Fold one non-ASCII codepoint to its ASCII replacement — the
    * utf8_to_ascii analogue (text/utf8_to_ascii.pl:36-1512, 1,461 rows).
    *
    * Layer 0 is the COMPLETE reference table ([[Utf8AsciiTable]],
    * exhaustively diffed row-by-row in TableScaleSpec), so every
    * codepoint the reference maps folds identically here. Codepoints
    * OUTSIDE the table fall through to the principled layers — the
    * typography map above, Greek names, then Unicode NFD decomposition
    * with combining marks stripped — which extend coverage to common web
    * text the reference would warn-and-'?' on (curly double quotes,
    * exotic accented Latin); anything still non-ASCII becomes a single
    * space (graft's catch-all; the reference emits '?' with a warning —
    * a space composes better with whitespace tokenization).
    */
  def foldChar(c: Char): String = {
    if (c < 128) c.toString
    else Utf8AsciiTable.table.get(c)
      .orElse(special.get(c)).orElse(greekNames.get(c)).getOrElse {
        val d = java.text.Normalizer.normalize(c.toString, java.text.Normalizer.Form.NFD)
        val stripped = d.filter(ch =>
          java.lang.Character.getType(ch) != java.lang.Character.NON_SPACING_MARK.toInt)
        if (stripped.nonEmpty && stripped.forall(_ < 128)) stripped else " "
      }
  }

  def asciiFold(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 128) sb.append(foldChar(c))
      else if (c == '\t' || (c < ' ' && c != '\n')) sb.append(' ')
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def decodeEntities(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 8) {
          val ent = s.substring(i + 1, semi)
          val rep = ent match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case "nbsp" => " "
            // "&#;" has no digits and stays literal text
            case e if e.length > 1 && e.startsWith("#") && e.drop(1).forall(_.isDigit) =>
              val cp = e.drop(1).toInt
              if (cp < 128) cp.toChar.toString else foldChar(cp.toChar)
            case _ => null
          }
          if (rep != null) { sb.append(rep); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Whether [[asciiFold]] would change `s`. */
  private def needsFold(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 128 || c == '\t' || (c < ' ' && c != '\n')) return true
      i += 1
    }
    false
  }

  // what a tag name is to the extractor
  private final val OtherTag = 0
  private final val BlockTag = 1
  private final val ScriptTag = 2
  private final val StyleTag = 3

  private def kindOf(lowerName: String): Int =
    if (lowerName == "script") ScriptTag
    else if (lowerName == "style") StyleTag
    else if (blockTags.contains(lowerName)) BlockTag
    else OtherTag

  /** The lowercase names the extractor acts on, by length. */
  private val namesByLength: Array[Array[String]] = {
    val all = blockTags.toSeq ++ Seq("script", "style")
    Array.tabulate(all.map(_.length).max + 1)(n => all.filter(_.length == n).sorted.toArray)
  }

  /** The kind of the tag whose name is `html[from, to)`, the name
    * lowercased first. An ASCII name is matched in place, ignoring ASCII
    * case; any other name goes through `String.toLowerCase`, whose
    * Unicode mappings (the Kelvin sign lowercases to 'k') decide it.
    */
  private def tagKind(html: String, from: Int, to: Int): Int = {
    var k = from
    while (k < to && html.charAt(k) < 128) k += 1
    val len = to - from
    if (k < to) kindOf(html.substring(from, to).toLowerCase)
    else if (len == 0 || len >= namesByLength.length) OtherTag
    else {
      val names = namesByLength(len)
      var i = 0
      while (i < names.length && !html.regionMatches(true, from, names(i), 0, len)) i += 1
      if (i == names.length) OtherTag else kindOf(names(i))
    }
  }

  /** Extract visible text from html bytes (UTF-8). */
  def htmlToText(html: Array[Byte]): String =
    htmlToText(new String(html, java.nio.charset.StandardCharsets.UTF_8))

  def htmlToText(html: String): String = {
    val sb = new java.lang.StringBuilder(html.length / 2)
    var i = 0
    val n = html.length
    var skipUntil = OtherTag // closing tag we are skipping to (script/style)
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        val close = html.indexOf('>', i + 1)
        if (close < 0) { i = n } // malformed trailing tag: drop remainder
        else {
          // the tag body [b, e), trimmed like String.trim
          var b = i + 1
          var e = close
          while (b < e && html.charAt(b) <= ' ') b += 1
          while (e > b && html.charAt(e - 1) <= ' ') e -= 1
          val isEnd = b < e && html.charAt(b) == '/'
          val ns = if (isEnd) b + 1 else b
          var ne = ns
          while (ne < e && Character.isLetterOrDigit(html.charAt(ne))) ne += 1
          val kind = tagKind(html, ns, ne)
          if (skipUntil != OtherTag) {
            if (isEnd && kind == skipUntil) skipUntil = OtherTag
          } else if (!isEnd && (kind == ScriptTag || kind == StyleTag) &&
            html.charAt(e - 1) != '/') {
            skipUntil = kind
          } else if (kind == BlockTag) {
            if (sb.length > 0 && sb.charAt(sb.length - 1) != '\n') sb.append('\n')
          }
          i = close + 1
        }
      } else {
        // the text up to the next tag, kept unless inside script/style
        var j = html.indexOf('<', i + 1)
        if (j < 0) j = n
        if (skipUntil == OtherTag) sb.append(html, i, j)
        i = j
      }
    }
    val raw = sb.toString
    val decoded = if (raw.indexOf('&') < 0) raw else decodeEntities(raw)
    val folded = if (needsFold(decoded)) asciiFold(decoded) else decoded
    // one pass over the lines: each trimmed, empty ones dropped, the rest
    // joined by single newlines
    val out = new java.lang.StringBuilder(folded.length)
    var ls = 0
    while (ls < folded.length) {
      var le = folded.indexOf('\n', ls)
      if (le < 0) le = folded.length
      var a = ls
      var z = le
      while (a < z && folded.charAt(a) <= ' ') a += 1
      while (z > a && folded.charAt(z - 1) <= ' ') z -= 1
      if (a < z) {
        if (out.length > 0) out.append('\n')
        out.append(folded, a, z)
      }
      ls = le + 1
    }
    out.toString
  }
}
