package graft.output

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.broadcast.Broadcast

import graft.link.{Candidate, LinkOptions}
import graft.pipeline.{DocKernel, Page, Pipeline}
import graft.sources.MedlineReader
import graft.umls.UmlsTables

/** MMO machine-output term writer: the reference's --machine_output
  * format, one Prolog-readable term per line
  * (write_MMO_terms, /root/reference/skr/skr_utilities.pl:1290-1416;
  * term shape built at skr/skr.pl:946-959):
  *
  * {{{
  * utterance('<label>',"<text>",Start/Len,[]).
  * phrase('<text>',[syntax...],Start/Len,[]).
  * candidates(Total,Excluded,Pruned,Remaining,[]).
  * mappings([map(-888,[ev(-888,'C0027051','term','concept',[words],
  *                       [semtypes],[matchmap],yes,no,[],[posinfo],0,0)])]).
  * 'EOU'.
  * }}}
  *
  * Candidate lists inside candidates(...) print empty by default, exactly
  * like the reference without --show_candidates. The syntax component is
  * the minimal-commitment chunk (mods then head, each with
  * inputmatch/tokens), a re-expression of the reference's parse since the
  * engines' grammars differ. Byte-stable: pinned by a golden test
  * (MmoSpec).
  */
object MmoOutput {

  /** Quote an atom the way SICStus write_term(quoted(true)) does for the
    * common cases: a plain lowercase atom prints bare; anything else wraps
    * in '' with embedded quotes doubled and backslashes escaped.
    */
  private def q(s: String): String =
    if (s.nonEmpty && s.head.isLower && s.head <= 'z' &&
      s.forall(c => (c.isLetterOrDigit && c <= 'z') || c == '_')) s
    else "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

  /** A double-quoted Prolog string (portrayed char-list). */
  private def dq(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def yn(b: Boolean): String = if (b) "yes" else "no"

  private def evTerm(c: Candidate): String = {
    val mm = c.matchMap.map(e =>
      s"[[${e.pBegin},${e.pEnd}],[${e.mBegin},${e.mEnd}],${e.varLevel}]")
      .mkString("[", ",", "]")
    val pos =
      if (c.posInfo.nonEmpty) c.posInfo.map(p => s"${p._1}/${p._2}").mkString("[", ",", "]")
      else s"[${c.start}/${c.end - c.start}]"
    val words = c.metaWords.map(q).mkString("[", ",", "]")
    val sts = c.semTypes.map(q).mkString("[", ",", "]")
    // ev/13 print order (write_MMO_candidate_term): NegValue, CUI, term,
    // concept, words, semtypes, matchmap, involvesHead, isOvermatch,
    // sources, posinfo, status, negated. Sources [] (no MRSAB dim in the
    // fixture tables); status 0 = kept; negation is corpus-level here.
    s"ev(${-c.score},${q(c.cui)},${q(c.str)},${q(c.concept)},$words,$sts," +
      s"$mm,${yn(c.involvesHead)},no,[],$pos,0,0)"
  }

  /** Format one document's MMO term lines. */
  def document(url: String, text: String, umls: UmlsTables,
      opts: LinkOptions = LinkOptions.default): Vector[String] = {
    DocKernel.analyze(url, text, umls, opts).sentences.flatMap { sa =>
      val sent = sa.sent
      val sentText = text.substring(sent.start, sent.end)
      val utt = s"utterance(${q(s"$url.tx.${sent.sentNo + 1}")},${dq(sentText)}," +
        s"${sent.start}/${sent.end - sent.start},[])."
      val phraseLines = sa.phrases.flatMap { p =>
        if (p.phrase.words.isEmpty) Vector.empty
        else {
          val pStart = p.phrase.words.head.start
          val pEnd = p.phrase.words.last.end
          val pText = text.substring(pStart, pEnd)
          val syntax = p.phrase.words.zipWithIndex.map { case (w, i) =>
            val role = if (i == p.phrase.headIdx) "head" else "mod"
            s"$role([inputmatch([${q(text.substring(w.start, w.end))}])," +
              s"tokens([${q(w.word)}])])"
          }.mkString("[", ",", "]")
          val maps = p.bestMappings.map { case (s, cs) =>
            s"map(${-s},${cs.map(evTerm).mkString("[", ",", "]")})"
          }.mkString("[", ",", "]")
          Vector(
            s"phrase(${q(pText)},$syntax,$pStart/${pEnd - pStart},[]).",
            s"candidates(${p.total},${p.excluded},${p.pruned},${p.remaining},[]).",
            s"mappings($maps).")
        }
      }
      (utt +: phraseLines) :+ "'EOU'."
    }
  }

  /** This output's record function, which the server and [[mmoLines]]
    * call: each record of one input cell ([[MedlineReader.records]]) with
    * its [[document]] lines.
    */
  def records(id: String, text: String, umls: UmlsTables,
      opts: LinkOptions): Vector[(String, Vector[String])] =
    MedlineReader.records(id, text, opts).map { case (url, rt) =>
      (url, document(url, rt, umls, opts))
    }

  /** Distributed writer: one row per MMO term line, in document order —
    * the shape a parity-tooling consumer diffs against the Prolog CLI.
    */
  def mmoLines(pages: Dataset[Page], umls: Broadcast[UmlsTables])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    Pipeline.perDocument(pages, umls)(Pipeline.pageText) { (p, text, t) =>
      records(p.url, text, t, LinkOptions.default).iterator.flatMap { case (url, lines) =>
        lines.iterator.zipWithIndex.map { case (l, i) => (url, i, l) }
      }
    }.toDF("url", "line_no", "mmo")
  }
}
