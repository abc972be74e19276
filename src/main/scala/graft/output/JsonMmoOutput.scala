package graft.output

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.broadcast.Broadcast

import graft.pipeline.{Page, Pipeline}
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
    val b = new StringBuilder(s.length + 10)
    b.append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def pair(k: String, v: String): String = js(k) + ":" + js(v)
  private def rawPair(k: String, v: String): String = js(k) + ":" + v
  private def obj(pairs: Seq[String]): String = pairs.mkString("{", ",", "}")
  private def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  private def strArr(items: Seq[String]): String = arr(items.map(js))
  private def yn(b: Boolean): String = if (b) "yes" else "no"

  private def piObj(start: Int, len: Int): String =
    obj(Seq(pair("StartPos", start.toString), pair("Length", len.toString)))

  private def candidateObj(n: DocTree.CandNode): String = {
    val c = n.c
    val matchMaps = arr(c.matchMap.map(e => obj(Seq(
      pair("TextMatchStart", e.pBegin.toString),
      pair("TextMatchEnd", e.pEnd.toString),
      pair("ConcMatchStart", e.mBegin.toString),
      pair("ConcMatchEnd", e.mEnd.toString),
      pair("LexVariation", e.varLevel.toString)))))
    val pis =
      if (c.posInfo.nonEmpty) arr(c.posInfo.map(p => piObj(p._1, p._2)))
      else arr(Seq(piObj(c.start, c.end - c.start)))
    obj(Seq(
      pair("CandidateScore", (-c.score).toString),
      pair("CandidateCUI", c.cui),
      pair("CandidateMatched", c.str),
      pair("CandidatePreferred", c.concept),
      rawPair("MatchedWords", strArr(c.metaWords)),
      rawPair("SemTypes", strArr(c.semTypes)),
      rawPair("MatchMaps", matchMaps),
      pair("IsHead", yn(c.involvesHead)),
      pair("IsOverMatch", "no"),
      rawPair("Sources", strArr(c.sources)),
      rawPair("ConceptPIs", pis),
      pair("Status", "0"),
      pair("Negated", if (n.negated) "1" else "0")))
  }

  /** Build one document's JSON tree. */
  def document(url: String, text: String, umls: UmlsTables,
      opts: graft.link.LinkOptions = graft.link.LinkOptions.default): String = {
    val doc = DocTree.build(url, text, umls, opts)

    val aaObjs = doc.aas.map { a =>
      obj(Seq(
        pair("AAText", a.aa),
        pair("AAExp", a.expText),
        pair("AATokenNum", a.aaTokenNum.toString),
        pair("AALen", a.aaLen.toString),
        pair("AAExpTokenNum", a.expTokenNum.toString),
        pair("AAExpLen", a.expLen.toString),
        pair("AAStartPos", a.startPos.toString),
        rawPair("AACUIs", arr(a.cuis.map(c => "\"" + c + "\"")))))
    }

    val negObjs = doc.negations.map { r =>
      obj(Seq(
        pair("NegType", r.negType),
        pair("NegTrigger", r.trigger),
        rawPair("NegTriggerPIs", arr(Seq(piObj(r.start, r.len)))),
        rawPair("NegConcepts", arr(r.concepts.map(m => obj(Seq(
          pair("NegConcCUI", m.cui),
          pair("NegConcMatched", m.term)))))),
        rawPair("NegConcPIs", arr(r.concepts.map(m => piObj(m.start, m.len))))))
    }

    val uttObjs = doc.utterances.map { u =>
      val phraseObjs = u.phrases.map { p =>
        val syntaxUnits = p.units.map { su =>
          obj(Seq(
            pair("SyntaxType", su.syntaxType),
            pair("InputMatch", su.inputMatch),
            pair("LexCat", su.lexCat),
            rawPair("Tokens", strArr(su.tokens))))
        }
        val mappingObjs = p.mappings.map { m =>
          obj(Seq(
            pair("MappingScore", (-m.score).toString),
            rawPair("MappingCandidates", arr(m.cands.map(candidateObj)))))
        }
        obj(Seq(
          pair("PhraseText", p.text),
          rawPair("SyntaxUnits", arr(syntaxUnits)),
          pair("PhraseStartPos", p.startPos.toString),
          pair("PhraseLength", p.length.toString),
          rawPair("Candidates", arr(Seq.empty)),
          rawPair("Mappings", arr(mappingObjs))))
      }
      obj(Seq(
        pair("PMID", u.pmid),
        pair("UttSection", u.section),
        pair("UttNum", u.num.toString),
        pair("UttText", u.text),
        pair("UttStartPos", u.startPos.toString),
        pair("UttLength", u.length.toString),
        rawPair("Phrases", arr(phraseObjs))))
    }

    "{" + rawPair("Document", obj(Seq(
      rawPair("AAs", arr(aaObjs)),
      rawPair("Negations", arr(negObjs)),
      rawPair("Utterances", arr(uttObjs))))) + "}"
  }

  /** One row per url: the full --JSONf tree. */
  def jsonDocs(pages: Dataset[Page], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    Pipeline.perPage(pages, umls)((p, text, t) => Iterator((p.url, document(p.url, text, t))))
      .toDF("url", "json")
  }
}
