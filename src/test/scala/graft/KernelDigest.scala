package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.corpus.CorpusGen
import graft.link.LinkOptions
import graft.output.{JsonMmoOutput, MmoOutput, XmlMmoOutput}
import graft.pipeline.{DocKernel, DocTriples}
import graft.text.Extract
import graft.umls.UmlsTables

/** An ordered SHA-256 over everything the document kernel emits: the
  * extracted text of each generated page, then under every option
  * profile every field of every mention row, every triple and the
  * MMO, JSONf and XMLf bytes. A kernel change that keeps its outputs bit
  * for bit keeps the digest; `KernelSpec` pins its value.
  */
object KernelDigest {

  /** The option profiles of `KgQueries.kgOptionProfiles` and
    * `AgreementSpec`, deduplicated: each path the option surface selects
    * (tagged, -d, composite-exact, AA-span and conj glue among them).
    */
  val profiles: Seq[(String, LinkOptions)] = Seq(
    "default" -> LinkOptions.default,
    "ignore_word_order" -> LinkOptions(ignoreWordOrder = true),
    "allow_overmatches" -> LinkOptions(allowOvermatches = true),
    "allow_concept_gaps" -> LinkOptions(allowConceptGaps = true),
    "prefer_multiple" -> LinkOptions(preferMultiple = true),
    "all_mappings" -> LinkOptions(computeAllMappings = true),
    "threshold_900" -> LinkOptions(scoreThreshold = 900),
    "restrict_dsyn" -> LinkOptions(restrictSemTypes = Set("dsyn")),
    "min_length_8" -> LinkOptions(minLength = 8),
    "conj_merge" -> LinkOptions(conjMerge = true),
    "aa_span_merge" -> LinkOptions(aaSpanMerge = true),
    "tagged" -> LinkOptions(tagged = true),
    "no_prune" -> LinkOptions(noPrune = true),
    "cascade" -> LinkOptions(restrictSemTypes = Set("dsyn"), cascade = true),
    "exclude_sosy" -> LinkOptions(excludeSemTypes = Set("sosy")),
    "restrict_src_rxnorm" -> LinkOptions(restrictSources = Set("RXNORM")),
    "exclude_src_msh" -> LinkOptions(excludeSources = Set("MSH")),
    "nomap" -> LinkOptions(noMap = Set(("", "C0027051"))),
    "wsd" -> LinkOptions(wsd = true),
    "sldi" -> LinkOptions(sldi = true),
    "blanklines_2" -> LinkOptions(blankLines = Some(2)),
    "no_deriv" -> LinkOptions(noDerivationalVariants = true),
    "all_deriv" -> LinkOptions(allDerivationalVariants = true),
    "ignore_stop_phrases" -> LinkOptions(ignoreStopPhrases = true),
    "composite_0" -> LinkOptions(compositePhrases = 0),
    "composite_exact" -> LinkOptions(compositeExact = true),
    "tagless_exact" -> LinkOptions(taglessExact = true),
    "aadef_exact" -> LinkOptions(aaDefExact = true),
    "negex_gated" -> LinkOptions(negexStDel = Set("sosy")))

  /** The hex digest over pages `0 until nPages` on `umls`. */
  def digest(umls: UmlsTables, nPages: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    var n = 0L
    while (n < nPages) {
      val (page, _, _) = CorpusGen.genPage(n)
      val text = Extract.htmlToText(page.html)
      add(text)
      profiles.foreach { case (name, o) =>
        add(name)
        DocKernel.annotate(page.url, text, umls, o).foreach(m => add(m.toString))
        DocTriples.fromDoc(page.url, text, umls, o).foreach(t => add(t.toString))
        MmoOutput.document(page.url, text, umls, opts = o).foreach(add)
        add(JsonMmoOutput.document(page.url, text, umls, o))
        add(XmlMmoOutput.document(page.url, text, umls, o))
      }
      n += 1
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Prints the digest: `KernelDigest [nPages]`. */
  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toInt).getOrElse(2000)
    val t0 = System.nanoTime()
    val d = digest(graft.umls.MiniUmls.tables, nPages)
    println(s"$d pages=$nPages s=${(System.nanoTime() - t0) / 1e9}")
  }
}
