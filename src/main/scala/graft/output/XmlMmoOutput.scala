package graft.output

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.broadcast.Broadcast

import graft.link.LinkOptions
import graft.pipeline.{Page, Pipeline}
import graft.sources.MedlineReader
import graft.umls.UmlsTables

/** The reference's --XMLf document element (generate_and_print_xml,
  * /root/reference/skr/skr_xml.pl:110-1012): one `<MMO>` element per
  * document with the exact element inventory —
  *
  * {{{
  * <MMO><AAs Count=..><AA><AAText/><AAExp/><AATokenNum/><AALen/>
  *   <AAExpTokenNum/><AAExpLen/><AAStartPos/><AACUIs Count=..><AACUI/>
  * </AACUIs></AA></AAs>
  * <Negations Count=..><Negation><NegType/><NegTrigger/>
  *   <NegTriggerPIs Count=..><NegTriggerPI><StartPos/><Length/>...
  *   <NegConcepts Count=..><NegConcept><NegConcCUI/><NegConcMatched/>...
  *   <NegConcPIs Count=..><NegConcPI>...</Negation></Negations>
  * <Utterances Count=..><Utterance><PMID/><UttSection/><UttNum/>
  *   <UttText/><UttStartPos/><UttLength/><Phrases Count=..><Phrase>
  *     <PhraseText/><SyntaxUnits Count=..><SyntaxUnit><SyntaxType/>
  *       <InputMatch/><LexCat/><Tokens Count=..><Token/>...
  *     <PhraseStartPos/><PhraseLength/>
  *     <Candidates Total=.. Excluded=.. Pruned=.. Remaining=../>
  *     <Mappings Count=..><Mapping><MappingScore/>
  *       <MappingCandidates Count=..><Candidate><CandidateScore/>
  *         <CandidateCUI/><CandidateMatched/><CandidatePreferred/>
  *         <MatchedWords Count=..><MatchedWord/>...
  *         <SemTypes Count=..><SemType/>...
  *         <MatchMaps Count=..><MatchMap><TextMatchStart/><TextMatchEnd/>
  *           <ConcMatchStart/><ConcMatchEnd/><LexVariation/></MatchMap>...
  *         <IsHead/><IsOverMatch/><Sources Count=..><Source/>...
  *         <ConceptPIs Count=..><ConceptPI><StartPos/><Length/>...
  *         <Status/><Negated/></Candidate>...
  * </MMO>
  * }}}
  *
  * Phrase-level `<Candidates>` prints attributes only (the reference
  * without --show_candidates, skr_xml.pl:277-286); mapping-level
  * `<MappingCandidates Count=..>` prints the full candidates. The
  * `<MMOs>` stream wrapper + XML prolog are the reference's file
  * framing, not per-document content. Content comes from the shared
  * [[DocTree]] walk the JSON writer also renders.
  */
object XmlMmoOutput {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def el(name: String, attrs: Seq[(String, String)],
      children: String): String = {
    val a = attrs.map { case (k, v) => s""" $k="${esc(v)}"""" }.mkString
    s"<$name$a>$children</$name>"
  }
  private def leaf(name: String, value: String): String =
    el(name, Nil, esc(value))
  private def counted(name: String, items: Seq[String],
      extra: Seq[(String, String)] = Nil): String =
    el(name, ("Count" -> items.length.toString) +: extra, items.mkString)
  private def yn(b: Boolean): String = if (b) "yes" else "no"

  private def piEl(singular: String, start: Int, len: Int): String =
    el(singular, Nil,
      leaf("StartPos", start.toString) + leaf("Length", len.toString))

  private def candidateEl(n: DocTree.CandNode): String = {
    val c = n.c
    val matchMaps = c.matchMap.map(e => el("MatchMap", Nil,
      leaf("TextMatchStart", e.pBegin.toString) +
        leaf("TextMatchEnd", e.pEnd.toString) +
        leaf("ConcMatchStart", e.mBegin.toString) +
        leaf("ConcMatchEnd", e.mEnd.toString) +
        leaf("LexVariation", e.varLevel.toString)))
    val pis =
      if (c.posInfo.nonEmpty) c.posInfo.map(p => piEl("ConceptPI", p._1, p._2))
      else Seq(piEl("ConceptPI", c.start, c.end - c.start))
    el("Candidate", Nil,
      leaf("CandidateScore", (-c.score).toString) +
        leaf("CandidateCUI", c.cui) +
        leaf("CandidateMatched", c.str) +
        leaf("CandidatePreferred", c.concept) +
        counted("MatchedWords", c.metaWords.map(leaf("MatchedWord", _))) +
        counted("SemTypes", c.semTypes.map(leaf("SemType", _))) +
        counted("MatchMaps", matchMaps) +
        leaf("IsHead", yn(c.involvesHead)) +
        leaf("IsOverMatch", "no") +
        counted("Sources", c.sources.map(leaf("Source", _))) +
        counted("ConceptPIs", pis) +
        leaf("Status", "0") +
        leaf("Negated", if (n.negated) "1" else "0"))
  }

  /** Build one document's `<MMO>` element. */
  def document(url: String, text: String, umls: UmlsTables,
      opts: LinkOptions = LinkOptions.default): String = {
    val doc = DocTree.build(url, text, umls, opts)

    val aaEls = doc.aas.map { a =>
      el("AA", Nil,
        leaf("AAText", a.aa) + leaf("AAExp", a.expText) +
          leaf("AATokenNum", a.aaTokenNum.toString) +
          leaf("AALen", a.aaLen.toString) +
          leaf("AAExpTokenNum", a.expTokenNum.toString) +
          leaf("AAExpLen", a.expLen.toString) +
          leaf("AAStartPos", a.startPos.toString) +
          counted("AACUIs", a.cuis.map(leaf("AACUI", _))))
    }

    val negEls = doc.negations.map { r =>
      el("Negation", Nil,
        leaf("NegType", r.negType) + leaf("NegTrigger", r.trigger) +
          counted("NegTriggerPIs", Seq(piEl("NegTriggerPI", r.start, r.len))) +
          counted("NegConcepts", r.concepts.map(m => el("NegConcept", Nil,
            leaf("NegConcCUI", m.cui) + leaf("NegConcMatched", m.term)))) +
          counted("NegConcPIs",
            r.concepts.map(m => piEl("NegConcPI", m.start, m.len))))
    }

    val uttEls = doc.utterances.map { u =>
      val phraseEls = u.phrases.map { p =>
        val unitEls = p.units.map { su =>
          el("SyntaxUnit", Nil,
            leaf("SyntaxType", su.syntaxType) +
              leaf("InputMatch", su.inputMatch) +
              leaf("LexCat", su.lexCat) +
              counted("Tokens", su.tokens.map(leaf("Token", _))))
        }
        val mappingEls = p.mappings.map { m =>
          el("Mapping", Nil,
            leaf("MappingScore", (-m.score).toString) +
              counted("MappingCandidates", m.cands.map(candidateEl)))
        }
        el("Phrase", Nil,
          leaf("PhraseText", p.text) +
            counted("SyntaxUnits", unitEls) +
            leaf("PhraseStartPos", p.startPos.toString) +
            leaf("PhraseLength", p.length.toString) +
            el("Candidates", Seq(
              "Total" -> p.total.toString,
              "Excluded" -> p.excluded.toString,
              "Pruned" -> p.pruned.toString,
              "Remaining" -> p.remaining.toString), "") +
            counted("Mappings", mappingEls))
      }
      el("Utterance", Nil,
        leaf("PMID", u.pmid) + leaf("UttSection", u.section) +
          leaf("UttNum", u.num.toString) + leaf("UttText", u.text) +
          leaf("UttStartPos", u.startPos.toString) +
          leaf("UttLength", u.length.toString) +
          counted("Phrases", phraseEls))
    }

    el("MMO", Nil,
      counted("AAs", aaEls) + counted("Negations", negEls) +
        counted("Utterances", uttEls))
  }

  /** This output's record function, which the server and [[xmlDocs]]
    * call: each record of one input cell ([[MedlineReader.records]]) with
    * its [[document]].
    */
  def records(id: String, text: String, umls: UmlsTables,
      opts: LinkOptions): Vector[(String, String)] =
    MedlineReader.records(id, text, opts).map { case (url, rt) =>
      (url, document(url, rt, umls, opts))
    }

  /** One row per url: the full --XMLf `<MMO>` element. */
  def xmlDocs(pages: Dataset[Page], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    Pipeline.perDocument(pages, umls)(Pipeline.pageText)((p, text, t) =>
      records(p.url, text, t, LinkOptions.default)).toDF("url", "xml")
  }
}
