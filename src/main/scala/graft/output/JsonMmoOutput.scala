package graft.output

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.broadcast.Broadcast

import graft.link.LinkOptions
import graft.pipeline.{Page, Pipeline}
import graft.sources.MedlineReader
import graft.umls.UmlsTables

/** The reference's --JSONf document tree (generate_and_print_json,
  * /root/reference/skr/skr_json.pl:87-131 and the pair inventory at
  * :195-341,416-424,570-737,865-877): one JSON object per document,
  *
  * {{{
  * {"Document": {"AAs": [...], "Negations": [...], "Utterances": [
  *   {"PMID", "UttSection", "UttNum", "UttText", "UttStartPos",
  *    "UttLength", "Phrases": [
  *      {"PhraseText", "SyntaxUnits", "PhraseStartPos", "PhraseLength",
  *       "Candidates": [], "Mappings": [
  *         {"MappingScore", "MappingCandidates": [
  *            {"CandidateScore", "CandidateCUI", "CandidateMatched",
  *             "CandidatePreferred", "MatchedWords", "SemTypes",
  *             "MatchMaps": [{"TextMatchStart","TextMatchEnd",
  *               "ConcMatchStart","ConcMatchEnd","LexVariation"}],
  *             "IsHead", "IsOverMatch", "Sources",
  *             "ConceptPIs": [{"StartPos","Length"}],
  *             "Status", "Negated"}]}]}]}]}}
  * }}}
  *
  * Every scalar is a JSON STRING, exactly like the reference's printer
  * (its comments show "CandidateScore": "-1000" etc.). The CmdLine echo
  * is omitted like [[MmoOutput]]'s args header term (no argv exists in a
  * library call), and "Candidates" prints empty like the reference
  * without --show_candidates. SyntaxUnits is the minimal-commitment
  * chunk re-expression (mods then head with InputMatch/LexCat/Tokens,
  * skr_json.pl:603-688). Content comes from the shared [[DocTree]] walk
  * the XML writer also renders.
  */
object JsonMmoOutput {

  /** `s` as a JSON string literal; also the string escaper of
    * [[graft.api.GraftServer]]'s responses. */
  private[graft] def js(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 10)
    str(b, s)
    b.toString
  }

  private val Hex = "0123456789abcdef"

  /** Appends `s` as a JSON string literal. */
  private def str(b: java.lang.StringBuilder, s: String): Unit = {
    b.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case _ =>
          if (c < ' ') b.append("\\u00").append(Hex.charAt(c >> 4)).append(Hex.charAt(c & 15))
          else b.append(c)
      }
      i += 1
    }
    b.append('"')
  }

  // every scalar prints as a JSON string, numbers and flags included
  private def num(b: java.lang.StringBuilder, n: Int): Unit = b.append('"').append(n).append('"')
  private def yn(b: java.lang.StringBuilder, v: Boolean): Unit =
    b.append(if (v) "\"yes\"" else "\"no\"")

  // `{"k":` and `,"k":` — the keys are constant identifiers, which JSON
  // needs no escape for
  private def first(b: java.lang.StringBuilder, k: String): Unit =
    b.append("{\"").append(k).append("\":")
  private def next(b: java.lang.StringBuilder, k: String): Unit =
    b.append(",\"").append(k).append("\":")

  /** Appends `[item, ...]`. */
  private def arr[A](b: java.lang.StringBuilder, items: Seq[A])(item: A => Unit): Unit = {
    b.append('[')
    var i = 0
    items.foreach { a =>
      if (i > 0) b.append(',')
      item(a)
      i += 1
    }
    b.append(']')
  }

  private def strArr(b: java.lang.StringBuilder, items: Seq[String]): Unit =
    arr(b, items)(str(b, _))

  private def piObj(b: java.lang.StringBuilder, start: Int, len: Int): Unit = {
    first(b, "StartPos"); num(b, start)
    next(b, "Length"); num(b, len)
    b.append('}')
  }

  private def candidateObj(b: java.lang.StringBuilder, n: DocTree.CandNode): Unit = {
    val c = n.c
    first(b, "CandidateScore"); num(b, -c.score)
    next(b, "CandidateCUI"); str(b, c.cui)
    next(b, "CandidateMatched"); str(b, c.str)
    next(b, "CandidatePreferred"); str(b, c.concept)
    next(b, "MatchedWords"); strArr(b, c.metaWords)
    next(b, "SemTypes"); strArr(b, c.semTypes)
    next(b, "MatchMaps")
    arr(b, c.matchMap) { e =>
      first(b, "TextMatchStart"); num(b, e.pBegin)
      next(b, "TextMatchEnd"); num(b, e.pEnd)
      next(b, "ConcMatchStart"); num(b, e.mBegin)
      next(b, "ConcMatchEnd"); num(b, e.mEnd)
      next(b, "LexVariation"); num(b, e.varLevel)
      b.append('}')
    }
    next(b, "IsHead"); yn(b, c.involvesHead)
    next(b, "IsOverMatch"); yn(b, false)
    next(b, "Sources"); strArr(b, c.sources)
    next(b, "ConceptPIs")
    if (c.posInfo.nonEmpty) arr(b, c.posInfo)(p => piObj(b, p._1, p._2))
    else { b.append('['); piObj(b, c.start, c.end - c.start); b.append(']') }
    next(b, "Status"); num(b, 0)
    next(b, "Negated"); num(b, if (n.negated) 1 else 0)
    b.append('}')
  }

  /** Build one document's JSON tree. */
  def document(url: String, text: String, umls: UmlsTables,
      opts: LinkOptions = LinkOptions.default): String = {
    val b = new java.lang.StringBuilder(4096)
    render(b, url, text, umls, opts)
    b.toString
  }

  /** Appends one document's JSON tree to `b`: [[document]] without its
    * own buffer, for a writer that frames many documents.
    */
  private[graft] def render(b: java.lang.StringBuilder, url: String, text: String,
      umls: UmlsTables, opts: LinkOptions): Unit = {
    val doc = DocTree.build(url, text, umls, opts)
    b.append("{\"Document\":{\"AAs\":")
    arr(b, doc.aas) { a =>
      first(b, "AAText"); str(b, a.aa)
      next(b, "AAExp"); str(b, a.expText)
      next(b, "AATokenNum"); num(b, a.aaTokenNum)
      next(b, "AALen"); num(b, a.aaLen)
      next(b, "AAExpTokenNum"); num(b, a.expTokenNum)
      next(b, "AAExpLen"); num(b, a.expLen)
      next(b, "AAStartPos"); num(b, a.startPos)
      // the CUIs print unescaped, as the reference does
      next(b, "AACUIs"); arr(b, a.cuis)(c => b.append('"').append(c).append('"'))
      b.append('}')
    }
    b.append(",\"Negations\":")
    arr(b, doc.negations) { r =>
      first(b, "NegType"); str(b, r.negType)
      next(b, "NegTrigger"); str(b, r.trigger)
      next(b, "NegTriggerPIs"); b.append('['); piObj(b, r.start, r.len); b.append(']')
      next(b, "NegConcepts")
      arr(b, r.concepts) { m =>
        first(b, "NegConcCUI"); str(b, m.cui)
        next(b, "NegConcMatched"); str(b, m.term)
        b.append('}')
      }
      next(b, "NegConcPIs"); arr(b, r.concepts)(m => piObj(b, m.start, m.len))
      b.append('}')
    }
    b.append(",\"Utterances\":")
    arr(b, doc.utterances) { u =>
      first(b, "PMID"); str(b, u.pmid)
      next(b, "UttSection"); str(b, u.section)
      next(b, "UttNum"); num(b, u.num)
      next(b, "UttText"); str(b, u.text)
      next(b, "UttStartPos"); num(b, u.startPos)
      next(b, "UttLength"); num(b, u.length)
      next(b, "Phrases")
      arr(b, u.phrases) { p =>
        first(b, "PhraseText"); str(b, p.text)
        next(b, "SyntaxUnits")
        arr(b, p.units) { su =>
          first(b, "SyntaxType"); str(b, su.syntaxType)
          next(b, "InputMatch"); str(b, su.inputMatch)
          next(b, "LexCat"); str(b, su.lexCat)
          next(b, "Tokens"); strArr(b, su.tokens)
          b.append('}')
        }
        next(b, "PhraseStartPos"); num(b, p.startPos)
        next(b, "PhraseLength"); num(b, p.length)
        next(b, "Candidates"); b.append("[]")
        next(b, "Mappings")
        arr(b, p.mappings) { m =>
          first(b, "MappingScore"); num(b, -m.score)
          next(b, "MappingCandidates"); arr(b, m.cands)(candidateObj(b, _))
          b.append('}')
        }
        b.append('}')
      }
      b.append('}')
    }
    b.append("}}")
  }

  /** This output's record function, which the server and [[jsonDocs]]
    * call: each record of one input cell ([[MedlineReader.records]]) is
    * rendered into `b`, then `done` gets its url.
    */
  private[graft] def records(b: java.lang.StringBuilder, id: String, text: String,
      umls: UmlsTables, opts: LinkOptions)(done: String => Unit): Unit =
    MedlineReader.records(id, text, opts).foreach { case (url, rt) =>
      render(b, url, rt, umls, opts)
      done(url)
    }

  /** One row per url: the full --JSONf tree. */
  def jsonDocs(pages: Dataset[Page], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    Pipeline.perDocument(pages, umls)(Pipeline.pageText) { (p, text, t) =>
      val b = new java.lang.StringBuilder(4096)
      val docs = Vector.newBuilder[(String, String)]
      records(b, p.url, text, t, LinkOptions.default) { url =>
        docs += ((url, b.toString))
        b.setLength(0)
      }
      docs.result()
    }.toDF("url", "json")
  }
}
