package graft.pipeline

import graft.link.Mention
import graft.umls.UmlsTables

/** Document-local WSD dedup + sentence-window pair expansion.
  *
  * Both operations are provably document-local: WSD ranks within a
  * (url, sentNo, start, len) span and the pair window is (url, sentNo) —
  * keys that never cross a document. Running them inside the per-document
  * map eliminates the corpus-level shuffle entirely: the batch plan stays
  * map-side from scan to sink, which is why the pipeline scales linearly
  * with executors (BENCH/BASELINE.md). The equivalent corpus-level
  * DataFrame forms (window-ranked dedup, salted self-join) are kept in
  * Pipeline and verified to produce identical results (PipelineSpec) —
  * they are the right shape when mentions arrive WITHOUT document
  * locality, e.g. reading a pre-extracted mention table.
  */
object DocTriples {

  /** WSD: one CUI survives per span; identical rule to Pipeline.wsdDedup. */
  def wsdLocal(mentions: Vector[Mention], umls: UmlsTables): Vector[Mention] =
    mentions.groupBy(m => (m.sentNo, m.start, m.len)).valuesIterator.map { ms =>
      // minBy on (-score, best semtype priority, cui), imperatively (the
      // strict-improvement test keeps minBy's first-wins tie behavior)
      var best: Mention = null
      var bestPrio = 0
      ms.foreach { m =>
        var prio = 99
        m.semTypes.foreach { st =>
          val p = umls.semTypePriority.getOrElse(st, 99)
          if (p < prio) prio = p
        }
        if (best == null || m.score > best.score ||
          (m.score == best.score &&
            (prio < bestPrio || (prio == bestPrio && m.cui < best.cui)))) {
          best = m; bestPrio = prio
        }
      }
      best
    }.toVector

  /** Sentence-window ordered pairs x semnet predicate licensing
    * (canonical direction both ways), identical to Pipeline.triples.
    */
  def pairsLocal(mentions: Vector[Mention], umls: UmlsTables)
      : Vector[(String, String, String, Int)] = {
    mentions.filter(!_.negated).groupBy(_.sentNo).iterator.flatMap {
      case (sentNo, sms) =>
        val sorted = sms.sortBy(m => (m.start, m.len, m.cui))
        val out = for {
          i <- sorted.indices
          j <- (i + 1) until sorted.length
          a = sorted(i); b = sorted(j)
          if a.start < b.start && a.cui != b.cui
          sa <- a.semTypes; sb <- b.semTypes
          trip <- umls.semnet.getOrElse((sa, sb), Vector.empty)
            .filter(umls.preferredRelations.contains).map(r => (a.cui, r, b.cui)) ++
            umls.semnet.getOrElse((sb, sa), Vector.empty)
              .filter(umls.preferredRelations.contains).map(r => (b.cui, r, a.cui))
        } yield trip
        out.distinct.map { case (s, r, o) => (s, r, o, sentNo) }
    }.toVector
  }

  /** Full per-document triple extraction. */
  def fromDoc(url: String, text: String, umls: UmlsTables,
      opts: graft.link.LinkOptions = graft.link.LinkOptions.default)
      : Vector[(String, String, String, String, Int)] = {
    val ms = wsdLocal(DocKernel.mentions(url, text, umls, opts), umls)
    pairsLocal(ms, umls).map { case (s, r, o, sn) => (s, r, o, url, sn) }
  }

  /** The triples of one input cell: the record path of
    * [[DocKernel.annotate]] (segmentation, record-qualified urls), then
    * [[fromDoc]] per record.
    */
  def fromText(id: String, text: String, umls: UmlsTables,
      opts: graft.link.LinkOptions): Vector[(String, String, String, String, Int)] =
    graft.sources.MedlineReader.records(id, text, opts).flatMap { case (url, rt) =>
      fromDoc(url, rt, umls, opts)
    }
}
