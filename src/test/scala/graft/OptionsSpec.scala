package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.link._
import graft.pipeline.DocKernel
import graft.umls.MiniUmls

/** Option-surface tests (SURVEY §2.7 E7, §2.8, reference CLI controls
  * lib/nls_system.pl:150-329): -i ignore_word_order + involvement score,
  * -o allow_overmatches, -g allow_concept_gaps, -Y prefer_multiple,
  * -b compute_all_mappings, --min_length, -r threshold.
  */
class OptionsSpec extends AnyFunSuite {

  private val umls = MiniUmls.tables

  private def mentions(text: String, opts: LinkOptions = LinkOptions.default) =
    DocKernel.mentions("u:1", text, umls, opts)

  test("-i ignore_word_order: inverted order still matches") {
    // index string "lung neoplasms"; phrase words in reverse order.
    // Pinned mode: the second meta word's generator begins before the
    // previous match -> truncated -> rejected. With -i the candidate
    // scores 944 (cohesiveness penalty for the inverted phrase CCs) and
    // loses best-mapping to the {Lung, Neoplasms} pair (1000), so -b is
    // needed to surface it as a mention.
    val base = mentions("neoplasms lung", LinkOptions(computeAllMappings = true))
    val inv = mentions("neoplasms lung",
      LinkOptions(ignoreWordOrder = true, computeAllMappings = true))
    assert(!base.map(_.cui).toSet.contains("C0024121")) // needs word order
    val hit = inv.filter(_.cui == "C0024121")
    assert(hit.nonEmpty)
    assert(hit.head.score == 944) // exact fixed-point arithmetic
  }

  test("E7 involvement replaces coverage under -i") {
    // matchmap covering 1 of 2 phrase words, 1 of 2 meta words, no extras
    val mm = Vector(MatchEntry(1, 1, 1, 1, 0))
    val inv = Scorer.involvement(mm, 2, 2, 0)
    assert(inv == 0.5)
    // with one relevant extra: (2/2 + 2/2)/2 = 1.0
    assert(Scorer.involvement(mm, 2, 2, 1) == 1.0)
    // overcount guard: totalP > nPhrase -> fall back to plain ratios
    assert(Scorer.involvement(mm, 1, 2, 1) == (1.0 + 0.5) / 2.0)
    val s = Scorer.scoreOpt(mm, 2, 2, involvesHead = true,
      LinkOptions(ignoreWordOrder = true), 0)
    // cen 1, var 1, inv .5, coh (1/4 + 2/4)/3 = .25
    assert(s == math.round(1000 * (1.0 + 1.0 + 2.0 * (0.5 + 0.25)) / 6.0).toInt)
  }

  test("-o allow_overmatches: partial meta coverage accepted, flagged") {
    // "edema" alone vs index string "edema of lung" (meta words
    // [edema, of, lung]): pinned mode rejects (position 3 uncovered)
    val vi = Map("edema" -> Vector(VInfo("edema", (1, 1), true, 0, Vector("edema"), 0)))
    val meta = Vector("edema", "of", "lung")
    assert(Matcher.matchPhraseOpt(meta, vi, headless = false, LinkOptions.default).isEmpty)
    val r = Matcher.matchPhraseOpt(meta, vi, headless = false,
      LinkOptions(allowOvermatches = true))
    assert(r.isDefined && r.get.isOvermatch)
    assert(r.get.extraMetaIdx == Vector(2, 3))
  }

  test("-g allow_concept_gaps: interior meta word skipped") {
    // phrase "edema lung" vs meta [edema, of, lung]: 'of' not in the
    // variant index; gaps mode skips it and covers positions 1 and 3.
    val vi = Map(
      "edema" -> Vector(VInfo("edema", (1, 1), false, 0, Vector("edema"), 0)),
      "lung" -> Vector(VInfo("lung", (2, 2), true, 0, Vector("lung"), 1)))
    val meta = Vector("edema", "of", "lung")
    assert(Matcher.matchPhraseOpt(meta, vi, headless = false, LinkOptions.default).isEmpty)
    val r = Matcher.matchPhraseOpt(meta, vi, headless = false,
      LinkOptions(allowConceptGaps = true))
    assert(r.isDefined && !r.get.isOvermatch)
    assert(r.get.matchMap.map(e => (e.mBegin, e.mEnd)) == Vector((1, 1), (3, 3)))
    assert(r.get.extraMetaIdx == Vector(2))
  }

  test("-Y prefer_multiple_concepts inverts cohesiveness") {
    val mm = Vector(MatchEntry(1, 1, 1, 1, 0))
    val sY = Scorer.scoreOpt(mm, 2, 2, involvesHead = true,
      LinkOptions(preferMultiple = true), 0)
    val s0 = Scorer.scoreOpt(mm, 2, 2, involvesHead = true, LinkOptions.default, 0)
    val coh = Scorer.cohesiveness(mm, 2, 2)
    assert(sY - s0 == math.round(1000 * (1.0 + 1.0 + 2.0 * (0.5 + (1 - coh))) / 6.0).toInt -
      math.round(1000 * (1.0 + 1.0 + 2.0 * (0.5 + coh)) / 6.0).toInt)
    assert(sY > s0) // sparse match rewarded under -Y
  }

  test("--min_length drops short matched strings") {
    val base = mentions("The patient had a heart attack last year.")
    assert(base.nonEmpty)
    val filtered = mentions("The patient had a heart attack last year.",
      LinkOptions(minLength = 50))
    assert(filtered.isEmpty)
    // heart attack = 5 + 1 + 6 = 12 chars -> survives minLength 12
    val kept = mentions("The patient had a heart attack last year.",
      LinkOptions(minLength = 12))
    assert(kept.exists(_.cui == "C0027051"))
  }

  test("-b compute_all_mappings is a superset of best-only") {
    val text = "chest pain and lung cancer were noted."
    val best = mentions(text).map(m => (m.cui, m.start)).toSet
    val all = mentions(text, LinkOptions(computeAllMappings = true))
      .map(m => (m.cui, m.start)).toSet
    assert(best.subsetOf(all))
  }

  test("-r threshold and -J/-k semtype filters compose") {
    val text = "No evidence of myocardial infarction or chest pain."
    val all = mentions(text)
    val dsynOnly = mentions(text, LinkOptions(restrictSemTypes = Set("dsyn")))
    assert(dsynOnly.nonEmpty)
    assert(dsynOnly.forall(_.semTypes.contains("dsyn")))
    assert(dsynOnly.map(_.cui).toSet.subsetOf(all.map(_.cui).toSet))
    val noDsyn = mentions(text, LinkOptions(excludeSemTypes = Set("dsyn")))
    assert(noDsyn.forall(!_.semTypes.contains("dsyn")))
    val strict = mentions(text, LinkOptions(scoreThreshold = 1000))
    assert(strict.forall(_.score == 1000))
  }

  test("--cascade: restrict-discarded evaluations drag overlapping survivors") {
    // -J sosy keeps Chest Pain [0,10] + Pain [6,10], discards Chest [0,5]
    // [blor]; cascade kills Chest Pain (staggered overlap with the
    // discarded Chest, skr.pl:3791-3799) but not Pain (disjoint span) —
    // the reference's logistic-regression motivation (skr.pl:1290-1297)
    val rSosy = LinkOptions(restrictSemTypes = Set("sosy"))
    assert(mentions("chest pain", rSosy).map(_.cui).contains("C0008031"))
    val casc = mentions("chest pain", rSosy.copy(cascade = true))
    assert(!casc.map(_.cui).contains("C0008031"))
    assert(casc.map(_.cui).contains("C0030193"))
    // cascade fires ONLY on the restrict path: exclude_sts ignores its
    // Discarded side (skr.pl:1278-1280, _Discarded) — -k sosy + cascade
    // leaves Chest untouched
    val kExcl = LinkOptions(excludeSemTypes = Set("sosy"), cascade = true)
    assert(mentions("chest pain", kExcl).map(_.cui).contains("C0817096"))
    // -r runs BEFORE filter_evaluations (skr.pl:1408): with threshold 900
    // the discarded-side Chest (partial-coverage score < 900) is gone
    // before the semtype partition, so nothing cascades and Chest Pain
    // (1000) survives
    val cascThr = mentions("chest pain",
      rSosy.copy(cascade = true, scoreThreshold = 900))
    assert(cascThr.map(_.cui).contains("C0008031"))
    // with nothing discarded, cascade is a no-op
    assert(mentions("chest pain", LinkOptions(cascade = true)).map(_.cui)
      .contains("C0008031"))
  }

  test("-R/-e source restriction and per-mention sources (F4 source half)") {
    val text = "Aspirin was given for chest pain."
    val all = mentions(text)
    assert(all.exists(_.cui == "C0004057") && all.exists(_.cui == "C0008031"))
    // Aspirin [phsu] carries MSH+RXNORM; Chest Pain [sosy] SNOMEDCT_US only
    val rx = mentions(text, LinkOptions(restrictSources = Set("RXNORM")))
    assert(rx.exists(_.cui == "C0004057") && !rx.exists(_.cui == "C0008031"))
    val noMsh = mentions(text, LinkOptions(excludeSources = Set("MSH")))
    assert(!noMsh.exists(_.cui == "C0004057") && noMsh.exists(_.cui == "C0008031"))
    // restrict wins over exclude (the reference's if-then-else chain,
    // skr.pl:1247-1262)
    val both = mentions(text, LinkOptions(restrictSources = Set("RXNORM"),
      excludeSources = Set("RXNORM")))
    assert(both.exists(_.cui == "C0004057"))
    // flag surface parses + folds case like convert_to_root_sources/upper
    val o = graft.api.Graft.parseFlags(Seq("-R", "snomedct_us", "-e", "msh"))
    assert(o.restrictSources == Set("SNOMEDCT_US") && o.excludeSources == Set("MSH"))
    // mentions carry their source vocabularies (ev/15 Sources argument)
    assert(all.find(_.cui == "C0004057").get.sources == Vector("MSH", "RXNORM"))
  }

  test("-y word_sense_disambiguation: one concept per span, prior-ranked") {
    // "cold" is ambiguous in the fixture: C0009443 Common Cold [dsyn]
    // vs C0009264 Cold Temperature [npop]; both score 1000 on the span
    val text = "The patient had a cold."
    val all = mentions(text)
    val coldSpan = all.filter(_.text == "cold")
    assert(coldSpan.map(_.cui).toSet == Set("C0009443", "C0009264"))
    val wsd = mentions(text, LinkOptions(wsd = true)).filter(_.text == "cold")
    // dsyn priority (0) beats npop (11) on the score tie — same ranking
    // as the corpus-level WSD window
    assert(wsd.map(_.cui) == Vector("C0009443"))
    assert(graft.api.Graft.parseFlags(Seq("-y")).wsd)
  }

  test("--UDA and --nomap file loading (reference file formats)") {
    def tmp(content: String): String = {
      val f = java.io.File.createTempFile("graft_opt", ".txt")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
      f.getAbsolutePath
    }
    // UDA file: a|b either order, SHORTER side is the AA; comments skip
    val udaFile = tmp(
      "# user AAs\nHA | Heart Attack\nhigh blood pressure|HBP\n\nMI|Myocardial Infarction\n")
    val o = graft.api.Graft.parseFlags(Seq("--UDA", udaFile))
    assert(o.udas == Map(
      "ha" -> Vector("heart", "attack"),
      "hbp" -> Vector("high", "blood", "pressure"),
      "mi" -> Vector("myocardial", "infarction")))
    // the loaded UDA resolves a bare acronym in text (A6 overlay)
    val ms = mentions("HA was suspected.", o)
    assert(ms.exists(_.cui == "C0027051"))
    // malformed line -> fatal, like the reference
    intercept[IllegalArgumentException] {
      graft.api.Graft.parseFlags(Seq("--UDA", tmp("no separator here")))
    }
    // NoMap file: String|CUI either order; the CUI-shaped side is the CUI
    val nm = tmp("Chest Pain|C0008031\nC0015967|Fever\n")
    val o2 = graft.api.Graft.parseFlags(Seq("--nomap", nm))
    assert(o2.noMap == Set(("Chest Pain", "C0008031"), ("Fever", "C0015967")))
    assert(!mentions("chest pain", o2).map(_.cui).contains("C0008031"))
    // @file is the EXPLICIT file form (reaches paths containing ':')
    val o3 = graft.api.Graft.parseFlags(Seq("--nomap", "@" + nm))
    assert(o3.noMap == o2.noMap)
    // a CUI-shape-only check: "C3" stays the term side
    assert(graft.api.Graft.parseNoMapLines("C3|C0009325") ==
      Set(("C3", "C0009325")))
  }

  test("NegEx distances: pinned 6-word default vs reference two-distance rule") {
    // trigger "no evidence of" ... 7 filler words ... concept: distance 7
    val text = "No evidence of alpha beta gamma delta epsilon zeta eta pneumonia."
    def negated(o: LinkOptions) =
      mentions(text, o).find(_.cui == "C0032285").exists(_.negated)
    // pinned parity default: fixed 6-word window -> too far
    assert(!negated(LinkOptions.default))
    // reference rule (20/10): the trigger sits within 20 tokens of the
    // utterance end, so the window is WAIVED entirely (negex.pl:893-901)
    assert(negated(LinkOptions(negexUtteranceMaxDist = Some(20),
      negexConceptMaxDist = Some(10))))
    // far from the end (utteranceMaxDist 0) the concept distance binds.
    // Reference basis (negex.pl:925-933): dist = ConceptTokenPos -
    // TriggerLastTokenPos = 10 - 2 = 8 (NOT the 7-word gap): 8 > 7 rules
    // it out, 8 <= 8 keeps it
    assert(!negated(LinkOptions(negexUtteranceMaxDist = Some(0),
      negexConceptMaxDist = Some(7))))
    assert(negated(LinkOptions(negexUtteranceMaxDist = Some(0),
      negexConceptMaxDist = Some(8))))
    // flag surface
    val o = graft.api.Graft.parseFlags(
      Seq("--negex_utterance_max_dist", "20", "--negex_concept_max_dist", "10"))
    assert(o.negexUtteranceMaxDist == Some(20) && o.negexConceptMaxDist == Some(10))
    // POST-trigger reference basis: ConceptTokenPos is derived from the
    // concept's START char (negex.pl:901-902,931-932), so the distance
    // for "myocardial infarction was ruled out" runs from word 0 (the
    // mention's FIRST word) to the trigger's last word (4) = 4 — NOT
    // from the mention's last word (which would read 3)
    // trailing words keep the trigger away from the utterance end, so
    // the waiver can't mask the concept-distance basis
    val post = "Myocardial infarction was ruled out today by the doctors."
    def postNeg(o: LinkOptions) =
      mentions(post, o).find(_.cui == "C0027051").exists(_.negated)
    assert(!postNeg(LinkOptions(negexUtteranceMaxDist = Some(0),
      negexConceptMaxDist = Some(3))))
    assert(postNeg(LinkOptions(negexUtteranceMaxDist = Some(0),
      negexConceptMaxDist = Some(4))))
  }

  test("-d without a no-deriv table: history-filtered view, never a no-op") {
    // a table set lacking variantsNoDeriv (e.g. loaded from an older
    // dump) must still honor -d via the once-per-table filtered view
    val stripped = umls.copy(variantsNoDeriv = Map.empty)
    val t = "The asthmatic patient arrived."
    assert(DocKernel.mentions("u", t, stripped).exists(_.cui == "C0004096"))
    assert(!DocKernel.mentions("u", t, stripped,
      LinkOptions(noDerivationalVariants = true)).exists(_.cui == "C0004096"))
  }

  test("--nomap user exclusions, with either side as a wildcard") {
    assert(mentions("chest pain").map(_.cui).contains("C0008031"))
    def gone(o: LinkOptions) = !mentions("chest pain", o).map(_.cui).contains("C0008031")
    assert(gone(LinkOptions(noMap = Set(("Chest Pain", "C0008031")))))
    assert(gone(LinkOptions(noMap = Set(("Chest Pain", ""))))) // any CUI
    assert(gone(LinkOptions(noMap = Set(("", "C0008031"))))) // any term
    // a non-matching pair excludes nothing
    assert(!gone(LinkOptions(noMap = Set(("Chest Pain", "C9999999")))))
    // flag surface parses inline pairs
    val o = graft.api.Graft.parseFlags(
      Seq("--cascade", "--nomap", "Chest Pain:C0008031,:C0000001"))
    assert(o.cascade && o.noMap == Set(("Chest Pain", "C0008031"), ("", "C0000001")))
  }

  test("V8 split-word expansion: fused word matches two-word index string") {
    val ms = mentions("Breastfeeding was encouraged.")
    val hit = ms.filter(_.cui == "C0006147")
    assert(hit.nonEmpty)
    // same letters -> spelling level 0 -> single fused phrase word covers
    // both meta words: coverage/cohesiveness full, score 1000
    assert(hit.head.score == 1000)
    assert(hit.head.text == "Breastfeeding")
  }

  test("P7 --conj merge: shared head distributes over conjuncts") {
    val base = mentions("The patient had lung and liver cancer.")
    assert(!base.map(_.cui).toSet.contains("C0024121"))
    val conj = mentions("The patient had lung and liver cancer.",
      LinkOptions(conjMerge = true, computeAllMappings = true))
    // merged phrase [lung, liver, cancer] makes "lung cancer" matchable
    assert(conj.map(_.cui).toSet.contains("C0024121"))
  }

  test("P8 AA-span merge: parenthetical no longer splits the NP") {
    val text = "Coronary artery (CA) disease. CA was severe."
    val base = mentions(text)
    assert(!base.map(_.cui).toSet.contains("C0010054"))
    val merged = mentions(text, LinkOptions(aaSpanMerge = true))
    val hit = merged.filter(_.cui == "C0010054")
    // "coronary artery disease" = exact match over the merged phrase
    assert(hit.nonEmpty && hit.head.score == 1000)
    // the AA reuse in the second sentence still expands
    assert(merged.exists(m => m.sentNo == 1 && m.cui == "C0205042"))
  }

  test("lm.rules inflection engine: consonant wildcard + first-match-wins") {
    import graft.umls.Morphology
    assert(Morphology.inflections("berry", "noun") == Vector("berries"))
    assert(Morphology.inflections("virus", "noun") == Vector("viruses"))
    assert(Morphology.inflections("box", "noun") == Vector("boxes"))
    assert(Morphology.inflections("church", "noun") == Vector("churches"))
    assert(Morphology.inflections("lung", "noun") == Vector("lungs"))
    // day ends vowel+y: the Cy rule must NOT fire
    assert(Morphology.inflections("day", "noun") == Vector("days"))
    assert(Morphology.inflections("treat", "verb").toSet == Set("treats", "treated", "treating"))
    assert(Morphology.inflections("carry", "verb").contains("carries"))
  }

  test("dm.rul derivation engine: adj<->noun with exceptions") {
    import graft.umls.Morphology
    assert(Morphology.derivations("weakness", "noun") == Vector(("weak", "adj")))
    assert(Morphology.derivations("asthmatic", "adj").contains(("asthma", "noun")))
    assert(Morphology.derivations("cancerous", "adj").contains(("cancer", "noun")))
    assert(Morphology.derivations("weakness", "noun", Set("weak")).isEmpty)
    // inflected mention links through a rule-generated variant: "strokes"
    val ms = mentions("The patient had two strokes.")
    assert(ms.exists(_.cui == "C0038454"))
  }

  test("E10 pos info: discontiguous matches report exact spans") {
    val text = "The patient had lung and liver cancer."
    val conj = mentions(text, LinkOptions(conjMerge = true, computeAllMappings = true))
    val lc = conj.filter(_.cui == "C0024121") // covers 'lung' + 'cancer', skips 'liver'
    assert(lc.nonEmpty)
    val pi = lc.head.posInfo
    assert(pi.length == 2, s"expected 2 runs, got $pi")
    assert(text.substring(pi(0)._1, pi(0)._1 + pi(0)._2) == "lung")
    assert(text.substring(pi(1)._1, pi(1)._1 + pi(1)._2) == "cancer")
    // contiguous matches collapse to one run equal to the extent
    val ha = mentions("The patient had a heart attack.").filter(_.cui == "C0027051")
    assert(ha.head.posInfo == Vector((ha.head.start, ha.head.len)))
  }

  test("--all_derivational_variants: full dm.rul unlocks non-adj/noun pairs") {
    // 'electrocardiography' is a lexicon noun with NO index string of its
    // own; the gram<->graphy rule is in the full inventory only
    // (lexicon/morph/dm.rul noun->noun block), so linking to
    // 'Electrocardiogram' (C0013798) requires the flag
    val text = "The electrocardiography was normal."
    val off = mentions(text)
    assert(!off.exists(_.cui == "C0013798"),
      s"default mode must NOT link via gram<->graphy: $off")
    val on = mentions(text, LinkOptions(allDerivationalVariants = true))
    assert(on.exists(m => m.cui == "C0013798" && m.text == "electrocardiography"),
      s"full dm.rul must link electrocardiography -> C0013798: $on")
    // default-filter behavior elsewhere is untouched by the flag
    assert(mentions("Aspirin treats heart attack.",
      LinkOptions(allDerivationalVariants = true)).map(_.cui).toSet ==
      mentions("Aspirin treats heart attack.").map(_.cui).toSet)
  }

  test("OOV dynamic-variant fallback: runtime closure links unseen forms") {
    // 'asthmatics' is OOV for the static table (plural of an ADJECTIVE —
    // rule inflections only cover lexicon nouns/verbs); the runtime
    // closure resolves the record via rule de-inflection to 'asthmatic'
    // and adopts its composed set — reaching 'asthma' at level 3 ('d',
    // computed from the record's base like the reference) -> C0004096
    val withFallback = mentions("Patient denies asthmatics.")
    assert(withFallback.exists(_.cui == "C0004096"),
      s"OOV closure must reach asthma: $withFallback")
  }

  test("class-conditioned lm.rules link end-to-end (P13 pin)") {
    // glreg plurals reach their records at level 1 (967 = (1+4/5+2+2)/6);
    // regd 'scanning' undoubles to the verb record inside "CT scan"
    // (983). Under the unclassed reg default none of the surface forms
    // resolves, so a regression in fixture classes, the class-conditioned
    // rule engine, or the table threading empties this set.
    val got = mentions("Arthritides and psoriases were noted.")
      .map(m => (m.text, m.cui, m.score)).toSet
    assert(got == Set(("Arthritides", "C0003864", 967),
      ("psoriases", "C0033860", 967)), s"glreg pin: $got")
    val scan = mentions("CT scanning was performed.")
      .map(m => (m.text, m.cui, m.score)).toSet
    assert(scan == Set(("CT scanning", "C0040405", 983)), s"regd pin: $scan")
    // the reg default must NOT conjure the junk regular plural
    assert(graft.umls.MiniUmls.tables.variants.get("arthritises").isEmpty)
  }

  test("option profiles are deterministic") {
    val text = "Coronary artery (CA) disease. CA was severe."
    val a = mentions(text, LinkOptions(ignoreWordOrder = true, allowConceptGaps = true))
    val b = mentions(text, LinkOptions(ignoreWordOrder = true, allowConceptGaps = true))
    assert(a == b)
  }

  test("-d no_derivational_variants: derivation paths never link") {
    // 'asthmatic' links Asthma (C0004096) only through the adj->noun
    // derivation; -d removes the edge class from the static closure
    val t = "The asthmatic patient arrived."
    assert(mentions(t).exists(_.cui == "C0004096"))
    assert(!mentions(t, LinkOptions(noDerivationalVariants = true))
      .exists(_.cui == "C0004096"))
    // ...and from the OOV dynamic closure ('asthmatics' de-inflects to
    // 'asthmatic', which must then NOT derive to asthma)
    val t2 = "Patient denies asthmatics."
    assert(mentions(t2).exists(_.cui == "C0004096"))
    assert(!mentions(t2, LinkOptions(noDerivationalVariants = true))
      .exists(_.cui == "C0004096"))
    // -d wins over -D when both are set
    assert(!mentions(t, LinkOptions(noDerivationalVariants = true,
      allDerivationalVariants = true)).exists(_.cui == "C0004096"))
    // non-derivational linking is untouched
    val t3 = "Aspirin treats heart attack."
    assert(mentions(t3, LinkOptions(noDerivationalVariants = true)).map(_.cui).toSet ==
      mentions(t3).map(_.cui).toSet)
    assert(graft.api.Graft.parseFlags(Seq("-d")).noDerivationalVariants)
  }

  test("-K ignore_stop_phrases: default-mode stop_analysis phrase skip") {
    // 'stage' alone is a stop phrase under noun (stop_analysis,
    // skr.pl:1158-1166): the whole phrase produces NO evaluations in the
    // default mode; -K restores them
    val t = "The stage was confirmed."
    assert(!mentions(t).exists(_.cui == "C4000008"))
    assert(mentions(t, LinkOptions(ignoreStopPhrases = true))
      .exists(_.cui == "C4000008"))
    // a LONGER phrase whose text is not itself a stop phrase still
    // evaluates (only the full-phrase-text match skips)
    assert(mentions("The stage results were confirmed.")
      .exists(_.cui == "C4000008"))
    assert(graft.api.Graft.parseFlags(Seq("-K")).ignoreStopPhrases)
  }

  test("-Q composite_phrases: the prep-phrase glom cap") {
    import graft.text.Tokenizer
    def phrases(maxQ: Int) = PhraseChunker.chunk(
      Tokenizer.tokenize("alpha of beta of gamma of delta of epsilon of zeta"),
      umls, Map.empty, maxQ)
    // default 4: five NPs glue (the initial + 4 glommed), the sixth opens
    // a new phrase — nls_system.pl:177-179's MaxPrepPhraseCount
    assert(phrases(4).map(_.words.length) == Vector(5, 1))
    assert(phrases(2).map(_.words.length) == Vector(3, 3))
    assert(phrases(0).map(_.words.length) == Vector(1, 1, 1, 1, 1, 1))
    assert(graft.api.Graft.parseFlags(Seq("-Q", "2")).compositePhrases == 2)
  }

  test("--negex_st_add/del/set: the NegEx semtype gate") {
    def negated(t: String, cui: String, o: LinkOptions = LinkOptions.default) =
      mentions(t, o).find(_.cui == cui).exists(_.negated)
    val pneu = "No pneumonia was found." // dsyn: IN the default gate
    val asp = "No aspirin was given." // phsu: NOT in the default gate
    // pinned default: ungated — both negate
    assert(negated(pneu, "C0032285") && negated(asp, "C0004057"))
    // any --negex_st_* option engages the gate (default+add-del)
    assert(!negated(asp, "C0004057", LinkOptions(negexStAdd = Set("inpo"))))
    assert(negated(asp, "C0004057", LinkOptions(negexStAdd = Set("phsu"))))
    assert(!negated(pneu, "C0032285", LinkOptions(negexStDel = Set("dsyn"))))
    assert(negated(pneu, "C0032285", LinkOptions(negexStDel = Set("sosy"))))
    // the reference quirk (negex.pl:691-698): a set list WITHOUT
    // all/ALL is discarded — add/del result applies instead
    assert(negated(pneu, "C0032285", LinkOptions(negexStSet = Set("phsu"))))
    // ...but all/ALL anywhere in the surviving set disables the gate
    assert(negated(asp, "C0004057", LinkOptions(negexStSet = Set("ALL"))))
    assert(negated(pneu, "C0032285",
      LinkOptions(negexStDel = Set("dsyn"), negexStSet = Set("all"))))
    val o = graft.api.Graft.parseFlags(
      Seq("--negex_st_add", "phsu,inpo", "--negex_st_del", "dsyn"))
    assert(o.negexStAdd == Set("phsu", "inpo") && o.negexStDel == Set("dsyn"))
  }

  test("first-generator stop-variant exemption (metamap_candidates.pl:180-186)") {
    // make 'mi' a very frequent short word: the stop-variant rule would
    // normally skip its probe (len 2, count > 4000) — but the FIRST
    // generator of a phrase is exempt, so a phrase STARTING with it
    // still links C0027051 via the index string "MI"
    val freq = umls.copy(wordCounts = umls.wordCounts + ("mi" -> 99999))
    assert(DocKernel.mentions("u", "Mi was elevated.", freq)
      .exists(_.cui == "C0027051"))
    // mid-phrase the skip applies as before: 'mi' is the SECOND
    // generator of [severe, mi] and its probe is suppressed
    assert(!DocKernel.mentions("u", "Severe mi today.", freq)
      .exists(_.cui == "C0027051"))
  }

  test("--no_nums reference semantics: mostly_digits + semtype gating") {
    import graft.pipeline.DocKernel.mostlyDigits
    // no alphabetic char at all AND >49% digits among non-whitespace
    assert(!mostlyDigits("1 2 mg")) // 'mg' is alphabetic -> kept
    assert(mostlyDigits("1 2"))
    assert(mostlyDigits("12%"))
    assert(!mostlyDigits("--")) // no digits
    assert(!mostlyDigits(""))
    // flag surface: bare --no_nums = all; a following list gates it
    val all = graft.api.Graft.parseFlags(Seq("--no_nums"))
    assert(all.noNums && all.noNumsSemTypes.isEmpty)
    val gated = graft.api.Graft.parseFlags(Seq("--no_nums", "qnco,inpr"))
    assert(gated.noNums && gated.noNumsSemTypes == Set("qnco", "inpr"))
  }

  test("mapping interaction: reference staggered/subspan basis (skr.pl:3719-3731)") {
    def cand(rows: Vector[(Int, Int)], start: Int, end: Int) =
      Candidate(900, "C1", "s", "c", Vector("w"), Vector("dsyn"),
        rows.map { case (b, e) => MatchEntry(b, e, 1, 1, 0) },
        involvesHead = false, start = start, end = end)
    // gap-filling: discontiguous A over words 1+3, B on word 2 — A's
    // char extent CONTAINS B but components are disjoint and the spans
    // are not staggered -> NON-interacting (both can join one mapping)
    val a = cand(Vector((1, 1), (3, 3)), 0, 20)
    val b = cand(Vector((2, 2)), 8, 12)
    assert(!Evaluator.interacts(a, b) && !Evaluator.interacts(b, a))
    // staggered spans DO interact even with disjoint components
    val c = cand(Vector((2, 2), (4, 4)), 5, 30)
    assert(Evaluator.interacts(a, c))
    // component intersection always interacts
    assert(Evaluator.interacts(a, cand(Vector((3, 3)), 15, 20)))
    // proper subspan + outer components hitting the inner span
    val outer = cand(Vector((1, 2), (5, 5)), 0, 40)
    val inner = cand(Vector((2, 3)), 10, 20) // intersects outer's (1,2)
    assert(Evaluator.interacts(outer, inner))
  }

  test("refMode NegEx: intervening negation trigger spuriates (negex.pl:936-951)") {
    // pre-trigger 'no', then the post-trigger phrase 'was ruled out'
    // intervenes before the concept: reference mode kills the pre pair
    val t = "No cough was ruled out before pneumonia appeared today."
    val ref = LinkOptions(negexUtteranceMaxDist = Some(0),
      negexConceptMaxDist = Some(20))
    val ms = mentions(t, ref)
    assert(!ms.find(_.cui == "C0032285").exists(_.negated), ms.toString)
    // the pinned default window mode has no such rule (6-word window
    // rules it out anyway here; assert the near concept still negates
    // under default to show the trigger itself is live)
    assert(mentions("No pneumonia found.").find(_.cui == "C0032285")
      .exists(_.negated))
  }

  test("F2 redundancy: consolidated-position keying in CUI groups, keep-best (skr.pl:4471-4518)") {
    def cand(cui: String, score: Int, str: String, rows: Vector[(Int, Int)]) =
      Candidate(score, cui, str, "c", Vector("w"), Vector("dsyn"),
        rows.map { case (b, e) => MatchEntry(b, e, 1, 1, 0) },
        involvesHead = true, start = 0, end = 10)
    // same CUI, same CONSOLIDATED positions {1,2} via DIFFERENT row
    // splits ([1,2] vs [1,1]+[2,2]): equivalent per
    // matchmaps_are_equivalent — keep-best, input order irrelevant
    val merged = cand("C1", 900, "a", Vector((1, 2)))
    val split = cand("C1", 800, "b", Vector((1, 1), (2, 2)))
    assert(Evaluator.filterRedundant(Vector(split, merged)) == Vector(merged))
    assert(Evaluator.filterRedundant(Vector(merged, split)) == Vector(merged))
    // score tie within a class: the largest TERM survives (ASCENDING
    // CUI-score-term sort keeps the last seen)
    val tieA = cand("C1", 800, "aa", Vector((1, 2)))
    val tieB = cand("C1", 800, "bb", Vector((1, 1), (2, 2)))
    assert(Evaluator.filterRedundant(Vector(tieA, tieB)) == Vector(tieB))
    // different consolidated positions, and equal positions under a
    // DIFFERENT CUI, both survive
    val narrower = cand("C1", 700, "d", Vector((1, 1)))
    assert(Evaluator.filterRedundant(Vector(merged, narrower)).toSet ==
      Set(merged, narrower))
    val otherCui = cand("C2", 800, "e", Vector((1, 2)))
    assert(Evaluator.filterRedundant(Vector(merged, otherCui)).toSet ==
      Set(merged, otherCui))
    // end-to-end: "heart lung disease" retrieves C0018799 through BOTH
    // "Heart Diseases" (heart exact + diseases inflection) and "Cardiac
    // disease" (cardiac synonym + disease exact); both consolidate to
    // {1,3} and exactly the better-scoring string survives (897)
    val phrase = {
      var off = 0
      val pws = Vector("heart", "lung", "disease").map { w =>
        val pw = PWord(w, off, off + w.length); off += w.length + 1; pw
      }
      Phrase(pws, pws.length - 1)
    }
    val varIndex = VariantGather.gather(phrase, umls, Map.empty)
    val cands = Evaluator.evaluatePhrase(phrase, umls, varIndex)
    val hd = cands.filter(_.cui == "C0018799")
    assert(hd.map(c => (c.str, c.score)) == Vector(("Heart Diseases", 897)), cands.toString)
  }

  test("--no_nums filter path: >49% boundary + semtype gating over candidates") {
    import graft.pipeline.DocKernel.mostlyDigits
    // the >49% boundary is strict: exactly 49/100 digits is NOT mostly
    // digits, 50/100 is (NumDigits/NumChars > 0.49, skr.pl:2010-2015)
    assert(!mostlyDigits("1" * 49 + "-" * 51))
    assert(mostlyDigits("1" * 50 + "-" * 50))
    def cand(cui: String, str: String, sts: Vector[String]) =
      Candidate(800, cui, str, "c", Vector("w"), sts,
        Vector(MatchEntry(1, 1, 1, 1, 0)), involvesHead = true, start = 0, end = 4)
    val num = cand("C9", "12%", Vector("qnco"))
    val alpha = cand("C8", "1 2 mg", Vector("qnco"))
    // ungated --no_nums drops the mostly-digits META string only
    assert(DocKernel.optionFilters(Vector(num, alpha),
      LinkOptions(noNums = true)) == Vector(alpha))
    // a semtype list gates the drop to candidates carrying a listed type
    assert(DocKernel.optionFilters(Vector(num, alpha),
      LinkOptions(noNums = true, noNumsSemTypes = Set("qnco"))) == Vector(alpha))
    assert(DocKernel.optionFilters(Vector(num, alpha),
      LinkOptions(noNums = true, noNumsSemTypes = Set("dsyn"))) ==
      Vector(num, alpha))
    // all/ALL in the list = ungated
    assert(DocKernel.optionFilters(Vector(num),
      LinkOptions(noNums = true, noNumsSemTypes = Set("ALL"))) == Vector.empty)
  }

  test("--composite_exact: reference composite glom + CompositeOptions evaluation") {
    // skr.pl:4646-4676: initial NP + a NON-"of" prep phrase + initial
    // "of" phrases collapse into ONE composite phrase, evaluated under
    // CompositeOptions = [term_processing, ignore_word_order]
    // (skr.pl:4629) — which is how the reference links Chest Pain from
    // "pain on the left side of the chest"
    val s = "The patient reported pain on the left side of the chest."
    val toks = graft.text.Sentences.split(s).head.toks
    val raw = PhraseChunker.chunk(toks, umls, Map.empty, 0)
    assert(raw.map(_.words.map(_.word)) == Vector(Vector("patient"),
      Vector("pain"), Vector("left", "side"), Vector("chest")))
    val glom = PhraseChunker.compositeGlomExact(raw, toks,
      graft.text.Tokenizer.wordToks(toks), umls, 4)
    assert(glom.map(p => (p.words.map(_.word), p.composite)) ==
      Vector((Vector("patient"), false),
        (Vector("pain", "left", "side", "chest"), true)))
    assert(glom(1).headIdx == 0) // composite keeps the FIRST phrase's head
    // flagged kernel: ONE Chest Pain mention spanning pain..chest (the
    // F6 best-coverage discard drops the narrower Pain/Chest evals);
    // the pinned default keeps separate Pain + Chest (P7 golden)
    val ms = DocKernel.mentions("u:1", s, umls, LinkOptions(compositeExact = true))
    assert(ms.map(m => (m.cui, m.start, m.len, m.score)) ==
      Vector(("C0008031", 21, 34, 819)), ms.toString)
    // -Q 0 disables the exact glom exactly like it disables the default glue
    val ms0 = DocKernel.mentions("u:1", s, umls,
      LinkOptions(compositeExact = true, compositePhrases = 0))
    assert(!ms0.exists(_.cui == "C0008031"))
  }

  test("--tagless_exact: mincoman boundary parity (adv, not, comma, pastpart)") {
    def ph(s: String, exact: Boolean, u: graft.umls.UmlsTables = umls) =
      PhraseChunker.chunk(graft.text.Sentences.split(s).head.toks, u, Map.empty,
        4, taglessExact = exact).map(_.words.map(_.word))
    // adverbs are "labelled as such", NOT boundaries: they join the NP
    // (mark_boundaries, mincoman.pl:288-292 commentary)
    assert(ph("Severely elevated blood pressure was noted.", exact = false).head ==
      Vector("elevated", "blood", "pressure"))
    assert(ph("Severely elevated blood pressure was noted.", exact = true).head ==
      Vector("severely", "elevated", "blood", "pressure"))
    // ..."not" is the ONLY boundary adverb (mincoman.pl:326-331)
    assert(ph("Not severe pain today.", exact = true).head ==
      Vector("severe", "pain", "today"))
    // ...and an adv immediately before a verb/aux/modal hoists that
    // boundary onto itself (adjust_boundaries, mincoman.pl:461-469)
    assert(ph("The pressure severely showed results.", exact = true) ==
      Vector(Vector("pressure"), Vector("results")))
    // comma breaks only when the item before it is not an adjective
    // (adjust_for_comma, mincoman.pl:428-443); punc_mark1 has no comma
    assert(ph("Acute, chronic disease persisted.", exact = true).head ==
      Vector("acute", "chronic", "disease", "persisted"))
    assert(ph("Pneumonia, asthma persisted.", exact = true) ==
      Vector(Vector("pneumonia"), Vector("asthma", "persisted")))
    // a pastpart-featured verb resolves to an adj-labelled item that
    // OPENS the phrase (convert, mincoman.pl:215-220 + mark_boundaries
    // :346-349); the pinned mode treats it as a plain verb boundary
    val tt = umls.copy(lexCats = umls.lexCats + ("treated" -> Set("verb", "pastpart")))
    assert(ph("The treated patients recovered.", exact = false, tt) ==
      Vector(Vector("patients", "recovered")))
    assert(ph("The treated patients recovered.", exact = true, tt).head ==
      Vector("treated", "patients", "recovered"))
    // observable scoring consequence: the wider exact-mode phrase
    // dilutes coverage for the same concept (901 -> 861)
    val s = "Severely elevated blood pressure was noted."
    assert(mentions(s).map(m => (m.cui, m.score)) == Vector(("C0005823", 901)))
    assert(mentions(s, LinkOptions(taglessExact = true)).map(m => (m.cui, m.score)) ==
      Vector(("C0005823", 861)))
  }

  test("--aadef_exact: the defining parenthetical produces no mention") {
    // create_EXP_raw_token_list's aadef clause (lib/pos_info.pl:410-470):
    // the reference EXP stream keeps the expansion text, DROPS the
    // "(CA)" tokens at the definition site, and still expands later
    // occurrences — so only the definition-site mention disappears
    val text = "Coronary artery (CA) disease. CA was severe."
    val default = DocKernel.mentions("u:aa", text, umls)
    assert(default.exists(m => m.start == 17 && m.len == 2 &&
      m.cui == "C0205042"), default.toString) // definition site links
    val exact = DocKernel.mentions("u:aa", text, umls,
      LinkOptions(aaDefExact = true))
    assert(!exact.exists(m => m.start == 17 && m.len == 2),
      exact.toString) // ...and vanishes under the flag
    // the expansion text and the REUSE occurrence still link
    assert(exact.exists(m => m.start == 0 && m.cui == "C0205042"))
    assert(exact.exists(m => m.sentNo == 1 && m.len == 2 &&
      m.cui == "C0205042"), exact.toString)
  }

  test("kg_option_profiles: cross-mode count relations hold") {
    // pins the gate entry's RELATIONSHIPS, which survive corpus growth:
    // cascade prunes beyond bare restrict; exclude+cascade == exclude
    // (the no-op); wsd and sldi each strictly below default; blanklines
    // noop on blank-free pages; restrict modes strictly below default
    val s = SparkTestBase.session
    val rows = graft.KgQueries.kgOptionProfiles(s, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("cascade") <= rows("restrict_dsyn"))
    assert(rows("cascade_exclude_noop") == rows("exclude_sosy"))
    assert(rows("wsd") < rows("default"))
    assert(rows("sldi") < rows("default"))
    assert(rows("blanklines_2") == rows("default"))
    assert(rows("restrict_src_rxnorm") < rows("exclude_src_msh"))
    assert(rows("exclude_src_msh") < rows("default"))
    assert(rows("threshold_900") < rows("default"))
    assert(rows("all_mappings") >= rows("default"))
    // round-5 option residue: -d can only remove deriv-path mentions,
    // -K can only restore stop-phrase-skipped ones, -Q 0 diverges from
    // glued defaults, and an engaged NegEx gate only shrinks negations
    assert(rows("no_deriv") <= rows("default"))
    assert(rows("ignore_stop_phrases") >= rows("default"))
    // (composite gluing can both add and remove mentions, so only the
    // row's presence — and thus its pinned count in the gate hash — is
    // asserted here; -Q semantics are pinned in the chunker test)
    assert(rows.contains("composite_0"))
    // round-6 parity modes: gluing/boundary changes can add AND remove
    // mentions, so the gate pins their exact counts via the row hash;
    // here assert presence and that each genuinely diverges from default
    // on the 100-page profile corpus only if it changes any page (the
    // rows exist either way)
    assert(rows.contains("composite_exact"))
    assert(rows.contains("tagless_exact"))
    // --aadef_exact only REMOVES phrases (the defining parenthetical's),
    // and strictly so on a corpus whose AA pages link the definition site
    assert(rows("aadef_exact") < rows("default"))
    assert(rows("negex_negated_gated") <= rows("negex_negated_default"))
    assert(rows("negex_negated_default") <= rows("default"))
    // the exact (mode, n_mentions) rows over the 100-page profile corpus
    assert(rows == Map(
      "aa_span_merge" -> 358L, "aadef_exact" -> 358L, "all_mappings" -> 369L,
      "allow_concept_gaps" -> 359L, "allow_overmatches" -> 369L,
      "blanklines_2" -> 359L, "cascade" -> 194L, "cascade_exclude_noop" -> 282L,
      "composite_0" -> 359L, "composite_exact" -> 358L, "conj_merge" -> 359L,
      "default" -> 359L, "exclude_sosy" -> 282L, "exclude_src_msh" -> 121L,
      "ignore_stop_phrases" -> 359L, "ignore_word_order" -> 359L,
      "min_length_8" -> 153L, "negex_negated_default" -> 24L,
      "negex_negated_gated" -> 23L, "no_deriv" -> 359L, "no_prune" -> 359L,
      "nomap" -> 358L, "prefer_multiple" -> 363L, "restrict_dsyn" -> 197L,
      "restrict_src_rxnorm" -> 40L, "sldi" -> 358L, "tagged" -> 358L,
      "tagless_exact" -> 359L, "threshold_900" -> 287L, "wsd" -> 358L))
  }
}
