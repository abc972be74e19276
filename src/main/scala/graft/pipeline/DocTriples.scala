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
  * DataFrame forms (window-ranked dedup; `Pipeline.triples`, a plain
  * equi-join on (url, sentNo)) are kept in Pipeline and verified to
  * produce identical results (PipelineSpec) — they are the right shape
  * when mentions arrive WITHOUT document locality, e.g. reading a
  * pre-extracted mention table.
  */
object DocTriples {

  /** WSD: one CUI survives per span; identical rule to Pipeline.wsdDedup.
    * The survivors come in the order their spans first occur. Every
    * consumer orders them itself: [[pairsLocal]] regroups by sentence and
    * sorts each sentence by (start, len, cui), and the -y mention rows
    * sort by (sentNo, start, len, cui); spans are unique after WSD, so
    * both orders are total.
    */
  def wsdLocal(mentions: Vector[Mention], umls: UmlsTables): Vector[Mention] = {
    val n = mentions.length
    if (n <= 1) return mentions
    val groupOf = new java.util.HashMap[(Int, Int, Int), Integer](2 * n)
    val best = new Array[Mention](n)
    val bestPrio = new Array[Int](n)
    var groups = 0
    mentions.foreach { m =>
      var prio = 99
      m.semTypes.foreach { st =>
        val p = umls.semTypePriority.getOrElse(st, 99)
        if (p < prio) prio = p
      }
      val g = groupOf.putIfAbsent((m.sentNo, m.start, m.len), groups)
      if (g == null) {
        best(groups) = m
        bestPrio(groups) = prio
        groups += 1
      } else {
        // minBy on (-score, best semtype priority, cui); the strict
        // improvement test keeps minBy's first-wins tie behavior
        val b = best(g)
        if (m.score > b.score ||
          (m.score == b.score &&
            (prio < bestPrio(g) || (prio == bestPrio(g) && m.cui < b.cui)))) {
          best(g) = m; bestPrio(g) = prio
        }
      }
    }
    Vector.from(best.iterator.take(groups))
  }

  private val byStartLenCui: java.util.Comparator[Mention] = (a, b) => {
    val c = Integer.compare(a.start, b.start)
    if (c != 0) c
    else {
      val d = Integer.compare(a.len, b.len)
      if (d != 0) d else a.cui.compareTo(b.cui)
    }
  }

  /** Sentence-window ordered pairs x semnet predicate licensing
    * (canonical direction both ways), identical to Pipeline.triples.
    */
  def pairsLocal(mentions: Vector[Mention], umls: UmlsTables)
      : Vector[(String, String, String, Int)] = {
    val out = Vector.newBuilder[(String, String, String, Int)]
    forEachPair(mentions, umls)((s, r, o, sn) => out += ((s, r, o, sn)))
    out.result()
  }

  /** The triples of [[pairsLocal]], in its order, to `emit`. Sentences
    * come in the iteration order of an immutable HashMap keyed by sentNo
    * (the order a `groupBy(_.sentNo)` gives, which reaches the /triples
    * bodies and the Pipeline.run rows); within a sentence the mentions
    * sort by (start, len, cui) and each (subj, pred, obj) is emitted once.
    */
  private def forEachPair(mentions: Vector[Mention], umls: UmlsTables)(
      emit: (String, String, String, Int) => Unit): Unit = {
    val live = mentions.iterator.filter(!_.negated).toArray
    if (live.length < 2) return
    // sentence -> its mentions' positions in `live`; the HashMap's key
    // order is a function of the key set alone
    var sentOrder = scala.collection.immutable.HashMap.empty[Int, Int]
    val count = new Array[Int](live.length)
    var nSents = 0
    var i = 0
    while (i < live.length) {
      val sn = live(i).sentNo
      val g = sentOrder.getOrElse(sn, -1)
      if (g < 0) { sentOrder = sentOrder.updated(sn, nSents); count(nSents) = 1; nSents += 1 }
      else count(g) += 1
      i += 1
    }
    if (nSents == live.length) return // one mention per sentence: no pairs
    val pref = umls.preferredSemnet
    val seen = new scala.collection.mutable.HashSet[(String, String, String)]
    sentOrder.foreachEntry { (sentNo, g) =>
      if (count(g) >= 2) {
        val sorted = new Array[Mention](count(g))
        var k = 0
        i = 0
        while (i < live.length) {
          if (live(i).sentNo == sentNo) { sorted(k) = live(i); k += 1 }
          i += 1
        }
        java.util.Arrays.sort(sorted, byStartLenCui)
        seen.clear()
        def licensed(st1: String, st2: String, subj: String, obj: String): Unit = {
          val rels = pref.getOrElse(st1, null)
          if (rels != null) {
            val rs = rels.getOrElse(st2, null)
            if (rs != null) rs.foreach { r =>
              if (seen.add((subj, r, obj))) emit(subj, r, obj, sentNo)
            }
          }
        }
        var ai = 0
        while (ai < sorted.length) {
          val a = sorted(ai)
          var bi = ai + 1
          while (bi < sorted.length) {
            val b = sorted(bi)
            if (a.start < b.start && a.cui != b.cui) {
              a.semTypes.foreach { sa =>
                b.semTypes.foreach { sb =>
                  licensed(sa, sb, a.cui, b.cui)
                  licensed(sb, sa, b.cui, a.cui)
                }
              }
            }
            bi += 1
          }
          ai += 1
        }
      }
    }
  }

  /** Full per-document triple extraction: WSD and the pairs over the
    * analysis's mention rows, projected without the lexical category the
    * pairs never read.
    */
  def fromDoc(url: String, text: String, umls: UmlsTables,
      opts: graft.link.LinkOptions = graft.link.LinkOptions.default)
      : Vector[(String, String, String, String, Int)] = {
    val ms = wsdLocal(
      DocKernel.mentions(DocKernel.analyze(url, text, umls, opts), umls, lexCats = false), umls)
    val out = Vector.newBuilder[(String, String, String, String, Int)]
    forEachPair(ms, umls)((s, r, o, sn) => out += ((s, r, o, url, sn)))
    out.result()
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
