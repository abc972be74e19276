package graft

import graft.text.Extract.{asciiFold, foldChar}

/** The html-to-text extraction as it was before the one-pass rewrite,
  * kept as the reference [[graft.text.Extract.htmlToText]] is compared
  * against (PropertySpec). Its entity decoder throws on "&#;".
  */
object ExtractReference {

  private val blockTags = Set(
    "p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "br", "tr", "table", "title", "blockquote", "section", "article")

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
            case e if e.startsWith("#") && e.drop(1).forall(_.isDigit) =>
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

  def htmlToText(html: String): String = {
    val sb = new StringBuilder(html.length / 2)
    var i = 0
    val n = html.length
    var skipUntil: String = null // closing tag we are skipping to (script/style)
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        val close = html.indexOf('>', i + 1)
        if (close < 0) { i = n } // malformed trailing tag: drop remainder
        else {
          val inner = html.substring(i + 1, close).trim
          val isEnd = inner.startsWith("/")
          val name = inner.stripPrefix("/").takeWhile(ch => ch.isLetterOrDigit).toLowerCase
          if (skipUntil != null) {
            if (isEnd && name == skipUntil) skipUntil = null
          } else if (!isEnd && (name == "script" || name == "style") && !inner.endsWith("/")) {
            skipUntil = name
          } else if (blockTags.contains(name)) {
            if (sb.nonEmpty && sb.charAt(sb.length - 1) != '\n') sb.append('\n')
          }
          i = close + 1
        }
      } else if (skipUntil != null) {
        i += 1
      } else {
        sb.append(c)
        i += 1
      }
    }
    val decoded = asciiFold(decodeEntities(sb.toString))
    // collapse newline runs, trim outer newlines/spaces around lines
    val lines = decoded.split('\n').map(_.trim).filter(_.nonEmpty)
    lines.mkString("\n")
  }
}
