package perfbench

import graft.aa.AaDetector
import graft.link._
import graft.negex.Negex
import graft.pipeline.{DocKernel, DocTriples}
import graft.text.{Extract, Sentences, Tokenizer}
import graft.umls.UmlsTables

/** Single-thread per-layer timing of the document kernel. It replays
  * `DocKernel.mentions` stage by stage through the public functions of
  * `text`, `aa`, `link` and `negex`, under the default options, and
  * checks that the replay yields the kernel's own mentions on every
  * document, so the stage split cannot drift from the kernel.
  */
object KernelTrace {

  /** One document: `html` is set when the workload extracts text itself. */
  final case class Doc(url: String, text: String, html: Option[Array[Byte]])

  private val Stages = Seq("text.extract_us", "text.tokenize_us", "text.sentences_us",
    "aa.detect_us", "link.chunk_us", "link.gather_us", "link.evaluate_us",
    "link.map_us", "negex.mark_us", "pipeline.kernel_us", "pipeline.triples_us")

  private final class Pass {
    val ns = new Array[Long](Stages.length)
    var phrases = 0L
    var evaluated = 0L
    var variants = 0L
    var candidates = 0L
    var mapped = 0L
  }

  /** The mention fields the kernel computes in the replayed stages (the
    * lexical category comes from a private helper and is left out).
    */
  private def key(m: Mention) =
    (m.url, m.sentNo, m.start, m.len, m.cui, m.score, m.semTypes, m.negated,
      m.text, m.posInfo, m.sources, m.term)

  private def replay(d: Doc, text: String, umls: UmlsTables, p: Pass): Vector[Mention] = {
    val opts = LinkOptions.default
    def timed[A](stage: Int)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      p.ns(stage) += System.nanoTime() - t0
      a
    }
    if (text.isEmpty) return Vector.empty
    val toks = timed(1)(Tokenizer.tokenize(text))
    val sents = timed(2)(Sentences.split(toks))
    val aas = timed(3)(AaDetector.toMap(AaDetector.findAaRecords(toks, sents)) ++ opts.udas)
    sents.flatMap { sent =>
      val phrases = timed(4)(PhraseChunker.chunk(sent.toks, umls, Map.empty,
        opts.compositePhrases, opts.taglessExact))
      p.phrases += phrases.length
      val sentMentions = phrases.flatMap { phrase =>
        if (phrase.words.isEmpty ||
          (phrase.words.length == 1 && phrase.words.head.word.length <= 1) ||
          stopPhrase(phrase, umls)) Vector.empty
        else {
          p.evaluated += 1
          val varIndex = timed(5)(VariantGather.gather(phrase, umls, aas, Map.empty, opts))
          p.variants += varIndex.valuesIterator.map(_.length).sum
          val cands0 = timed(6)(Evaluator.evaluatePhrase(phrase, umls, varIndex, opts))
          p.candidates += cands0.length
          val best = timed(7) {
            val pruned = Pruning.adaptivePrune(Evaluator.filterSubsumed(cands0, opts),
              phrase.words.length, opts)
            Evaluator.bestMappingCandidates(pruned, phrase.words.length, opts,
              varIndex.keySet)
          }
          p.mapped += best.length
          best.map { c =>
            Mention(d.url, sent.sentNo, c.start, c.end - c.start, c.cui, c.score,
              c.semTypes, negated = false, text.substring(c.start, c.end),
              c.posInfo, c.sources, term = c.str)
          }
        }
      }
      timed(8)(Negex.mark(sent.toks, sentMentions, umls, opts))
    }
  }

  /** The kernel's default-mode stop-phrase skip, through public names. */
  private def stopPhrase(phrase: Phrase, umls: UmlsTables): Boolean =
    umls.stopPhraseFirstWords.contains(phrase.words.head.word) && {
      val phraseText = phrase.words.map(_.word).mkString(" ")
      umls.stopPhrases.get(phraseText).exists(stopTags =>
        stopTags.exists(PhraseChunker.phraseTags(phrase, umls)))
    }

  /** Per-layer metrics over `passes` passes of `docs` (the first pass
    * warms up and is dropped; the rest report their median). Throws when
    * the replay and `DocKernel.mentions` disagree on any document.
    */
  def measure(docs: Seq[Doc], umls: UmlsTables, passes: Int): Seq[(String, Double, String)] = {
    val d = LinkOptions.default
    require(!d.tagged && !d.compositeExact && !d.aaSpanMerge && !d.conjMerge &&
      !d.aaDefExact && !d.wsd && d.scoreThreshold <= 0 && d.noMap.isEmpty &&
      d.restrictSources.isEmpty && d.excludeSources.isEmpty &&
      d.restrictSemTypes.isEmpty && d.excludeSemTypes.isEmpty && !d.cascade &&
      !d.noNums && !d.ignoreStopPhrases && !d.allowOvermatches &&
      !d.allowConceptGaps && !d.allDerivationalVariants,
      "the replay mirrors the kernel under the default options only")
    var mismatches = 0
    val runs = (1 to passes).map { pass =>
      val p = new Pass
      docs.foreach { doc =>
        val text = doc.html match {
          case Some(h) =>
            val t0 = System.nanoTime()
            val t = Extract.htmlToText(h)
            p.ns(0) += System.nanoTime() - t0
            t
          case None => doc.text
        }
        val replayed = replay(doc, text, umls, p)
        val t1 = System.nanoTime()
        val kernel = DocKernel.mentions(doc.url, text, umls)
        val t2 = System.nanoTime()
        DocTriples.pairsLocal(DocTriples.wsdLocal(kernel, umls), umls)
        p.ns(10) += System.nanoTime() - t2
        p.ns(9) += t2 - t1
        if (pass == 1 && replayed.map(key) != kernel.map(key)) mismatches += 1
      }
      p
    }
    if (mismatches > 0)
      throw new IllegalStateException(
        s"kernel replay differs from DocKernel.mentions on $mismatches documents")
    val kept = runs.drop(1)
    val n = docs.length.toDouble
    def med(f: Pass => Double): Double = Stats.median(kept.map(f))
    Stages.indices.map(i => (Stages(i), med(_.ns(i) / 1e3 / n), "us/doc")) ++ Seq(
      ("link.phrases_per_doc", med(_.phrases / n), "count/doc"),
      ("link.variants_per_phrase", med(p => p.variants.toDouble / math.max(1, p.evaluated)),
        "count/phrase"),
      ("link.candidates_per_phrase",
        med(p => p.candidates.toDouble / math.max(1, p.evaluated)), "count/phrase"),
      ("link.mapped_share", med(p => p.mapped.toDouble / math.max(1, p.candidates)), "ratio"))
  }
}
