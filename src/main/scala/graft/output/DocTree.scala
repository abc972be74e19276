package graft.output

import graft.link.{Candidate, Mention, PhraseChunker}
import graft.negex.Negex
import graft.pipeline.DocKernel
import graft.umls.UmlsTables

/** The per-document serialization tree both structured writers render —
  * a projection of one [[graft.pipeline.DocKernel.analyze]] (its phrase
  * traces, AA records and a NegEx pass under the run's options), two
  * renderers ([[JsonMmoOutput]] --JSONf, [[XmlMmoOutput]] --XMLf), so
  * the two formats can never disagree on content.
  */
private[output] object DocTree {

  /** One AA entry carrying the reference's exact fields
    * (generate_one_json_AA_obj, skr_json.pl:851-884): original-case
    * acronym/expansion text, ws-inclusive token counts from the stored
    * token lists, char lengths, and the acronym's start position.
    */
  final case class AaNode(aa: String, expText: String, aaTokenNum: Int,
      aaLen: Int, expTokenNum: Int, expLen: Int,
      startPos: Int, cuis: Vector[String])
  final case class CandNode(c: Candidate, negated: Boolean)
  final case class MappingNode(score: Int, cands: Vector[CandNode])
  final case class SyntaxUnit(syntaxType: String, inputMatch: String,
      lexCat: String, tokens: Vector[String])
  final case class PhraseNode(text: String, units: Vector[SyntaxUnit],
      startPos: Int, length: Int,
      total: Int, excluded: Int, pruned: Int, remaining: Int,
      mappings: Vector[MappingNode])
  final case class UttNode(pmid: String, section: String, num: Int,
      text: String, startPos: Int, length: Int, phrases: Vector[PhraseNode])
  final case class Doc(aas: Vector[AaNode], negations: Vector[Negex.NegRecord],
      utterances: Vector[UttNode])

  def build(url: String, text: String, umls: UmlsTables,
      opts: graft.link.LinkOptions = graft.link.LinkOptions.default): Doc = {
    val a = DocKernel.analyze(url, text, umls, opts)
    // one NegEx pass per sentence over the mapping candidates under the
    // run's options — the decision procedure the mention rows run, so
    // the per-candidate Negated flags, the Negations section and the
    // mentions can never disagree
    val sentNeg: Vector[(Set[(Int, String)], Vector[Negex.NegRecord])] =
      a.sentences.map { s =>
        val ms = s.phrases.flatMap(_.bestMappings.flatMap(_._2)).distinct.map(c =>
          Mention(url, s.sent.sentNo, c.start, c.end - c.start, c.cui, c.score,
            c.semTypes, negated = false, text.substring(c.start, c.end),
            c.posInfo, c.sources, term = c.str))
        val (marked, records) = Negex.markWithRecords(s.sent, ms, umls, opts)
        (marked.filter(_.negated).map(m => (m.start, m.cui)).toSet, records)
      }

    // AACUIs: the concepts whose mapped surface form IS the AA (the
    // reference carries the CUI list resolved for the acronym's own
    // occurrences)
    val allCands = a.sentences.flatMap(_.phrases.flatMap(_.bestMappings.flatMap(_._2)))
    val seenAa = scala.collection.mutable.Set[String]()
    val aaNodes = a.aaRecs.flatMap { r =>
      val key = r.acronymText.toLowerCase
      if (key.isEmpty || seenAa.contains(key)) None
      else {
        seenAa += key
        val cuis = allCands
          .filter(c => text.substring(c.start, c.end).toLowerCase == key)
          .map(_.cui).distinct.sorted
        Some(AaNode(r.acronymText, r.expansionText, r.aaToks.length,
          r.acronymText.length, r.expToks.length, r.expansionText.length,
          r.aaToks.head.start, cuis))
      }
    }

    val uttNodes = a.sentences.zip(sentNeg).map { case (s, (negKeys, _)) =>
      val phraseNodes = s.phrases.filter(_.phrase.words.nonEmpty).map { p =>
        val pStart = p.phrase.words.head.start
        val pEnd = p.phrase.words.last.end
        val syn = PhraseChunker.syntaxMap(p.phrase, umls, s.tagsByStart)
        val units = p.phrase.words.zipWithIndex.map { case (w, i) =>
          SyntaxUnit(if (i == p.phrase.headIdx) "head" else "mod",
            text.substring(w.start, w.end),
            syn.getOrElse(w.word, "noun"), Vector(w.word))
        }
        val mappings = p.bestMappings.map { case (score, cands) =>
          MappingNode(score,
            cands.map(c => CandNode(c, negKeys((c.start, c.cui)))))
        }
        PhraseNode(text.substring(pStart, pEnd), units, pStart, pEnd - pStart,
          p.total, p.excluded, p.pruned, p.remaining, mappings)
      }
      UttNode(url, "tx", s.sent.sentNo + 1, text.substring(s.sent.start, s.sent.end),
        s.sent.start, s.sent.end - s.sent.start, phraseNodes)
    }

    Doc(aaNodes, sentNeg.flatMap(_._2), uttNodes)
  }
}
