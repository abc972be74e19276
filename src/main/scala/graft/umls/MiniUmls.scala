package graft.umls

import graft.text.Tokenizer

/** One Metathesaurus-style string-index entry: usc/3 analogue
  * (/root/reference/metamap/metamap_candidates.pl:215-219,
  * /root/reference/db/db_access.pl:721-729).
  *
  * @param nmWords normalized-string words (tokenize_text_mm + lowercase +
  *                uninversion), the MetaWords fed to the matcher
  * @param str     original Metathesaurus string
  * @param cui     concept unique identifier
  * @param concept preferred concept name
  */
final case class IndexEntry(nmWords: Vector[String], str: String, cui: String, concept: String)

/** A precomputed lexical variant (v/6 analogue,
  * /root/reference/metamap/metamap_variants.pl:196-199). History letters
  * follow the reference: s=synonym, i=inflection, p=spelling, d=derivation,
  * a/e=AA/expansion (metamap_variants.pl:826-847).
  */
final case class Variant(word: String, varLevel: Int, history: String) {
  /** tokenize_text_mm of `word`, computed once per (deserialized) instance.
    * Broadcast-table variants are applied at every generator occurrence of
    * every phrase — tokenizing the same static table string there is the
    * kernel's hottest redundant work, so the result rides on the variant
    * itself (recomputed per executor after broadcast deserialization).
    */
  @transient lazy val mmWords: Vector[String] = Tokenizer.tokenizeMmLc(word)
}

/** Broadcastable read-only UMLS-style tables (SURVEY.md §1.2). All maps are
  * immutable and thread-safe; one instance is broadcast per job and shared
  * by every task (the Spark analogue of the reference's Berkeley-DB side
  * tables behind db_access.pl).
  */
final case class UmlsTables(
    // word -> index entries whose normalized string STARTS with that word
    firstWordIndex: WordIndex,
    // word -> index entries whose normalized string CONTAINS that word
    // (all_words analogue, used only in overmatch mode; kept for parity)
    wordCounts: Map[String, Int],
    cuiPreferred: Map[String, String],
    cuiSemTypes: Map[String, Vector[String]],
    // cuisourceinfo analogue (db/db_access.pl:368-396): CUI -> root source
    // vocabularies asserting it, for -R/-e restrict/exclude-by-source
    cuiSources: Map[String, Vector[String]] = Map.empty,
    // static-mode variant table: word -> variants (incl. the word itself)
    variants: Map[String, Vector[Variant]],
    // V10 per-category variant tables for tagged mode: category -> word ->
    // variants generated under that category's inflection rules (the
    // reference's GVC-per-(word, cat) structure; filter_variants_by_tags,
    // skr.pl:1912-1987, keeps only the tagged category's GVC)
    variantsByCat: Map[String, Map[String, Vector[Variant]]] = Map.empty,
    // multi-word lexicon forms (is_a_form) for multiword generators
    lexiconForms: Set[String],
    // word -> lexical categories (noun, adj, verb, aux, det, prep, conj, pron, adv)
    lexCats: Map[String, Set[String]],
    stopWords: Set[String],
    // semantic network: (st1, st2) -> relations licensed in that direction
    semnet: Map[(String, String), Vector[String]],
    preferredRelations: Set[String],
    relationInverse: Map[String, String],
    negexPre: Vector[Vector[String]], // nega: trigger word seqs before concept
    negexPost: Vector[Vector[String]], // negb: trigger word seqs after concept
    negexPseudo: Vector[Vector[String]], // pnega/pseudoneg: suppress a pre trigger
    negexConj: Vector[Vector[String]], // conj: scope-terminating phrases
    treecodes: Map[String, Vector[String]],
    semTypePriority: Map[String, Int], // deterministic WSD tie-break prior
    // pnegb: suppress a post trigger ("should be ruled out" is a
    // recommendation, not an assertion)
    negexPseudoPost: Vector[Vector[String]] = Vector.empty,
    // stop phrases (metamap_stop_phrase.pl:70+): phrase/generator text ->
    // lexical categories. Consulted on BOTH reference paths: the
    // default-mode phrase-level stop_analysis skip (skr.pl:1158-1166,
    // disabled by -K) and the overmatch token guard (add_candidates,
    // metamap_candidates.pl:138-143)
    stopPhrases: Map[String, Set[String]] = Map.empty,
    // fused word -> its two parts ("breastfeeding" -> breast feeding;
    // split_word/3, metamap_variants.pl:1421-1454)
    splitWords: Map[String, (String, String)] = Map.empty,
    // --all_derivational_variants: the variant table rebuilt with the
    // FULL dm.rul category-pair inventory (noun<->verb, adj<->verb,
    // adv->adj, noun->noun) instead of the default adj<->noun filter
    variantsAllDeriv: Map[String, Vector[Variant]] = Map.empty,
    // -d no_derivational_variants: the variant table rebuilt with NO
    // derivation edges at all (an exact deriv-free closure, not a
    // history filter — a variant reachable both ways at equal level
    // keeps its deriv-free path)
    variantsNoDeriv: Map[String, Vector[Variant]] = Map.empty
) extends Serializable {

  /** The deriv-free variant table -d actually uses: the EXACT deriv-free
    * closure when the table set carries one, else the history-filtered
    * default table (a documented approximation: a variant reachable both
    * with and without derivation at EQUAL level whose surviving history
    * went through 'd' is dropped — the exact closure keeps it). Built
    * once per table instance, so neither the gather hot path nor the
    * dynamic closure ever rebuilds the filtered map per word.
    */
  @transient lazy val variantsNoDerivEffective: Map[String, Vector[Variant]] =
    if (variantsNoDeriv.nonEmpty) variantsNoDeriv
    else variants.view.mapValues(_.filterNot(_.history.contains('d'))).toMap

  /** The kernel's word dictionary ([[WordDict]]): every word it probes
    * a table with by string — lexicon words, stop words, `wordCounts`,
    * the first-word index's keys, the variant tables' keys, split words,
    * multiword lexicon forms, NegEx trigger words and stop-phrase first
    * words. Tokens are numbered once ([[graft.text.Tokenizer.tokenize]]);
    * the per-id arrays below answer each table test by array read. Lazy +
    * transient like every derived table: built per deserialized copy.
    */
  @transient lazy val dict: WordDict = WordDict.build(firstWordIndex,
    lexCats.keysIterator ++ stopWords.iterator ++ wordCounts.keysIterator ++
      variants.keysIterator ++ variantsByCat.valuesIterator.flatMap(_.keysIterator) ++
      variantsAllDeriv.keysIterator ++ variantsNoDeriv.keysIterator ++
      splitWords.keysIterator ++ multiwordForms.iterator.flatten ++
      (negexPre ++ negexPost ++ negexPseudo ++ negexPseudoPost ++ negexConj)
        .iterator.flatten ++ stopPhraseFirstWords.iterator)

  /** Per word id, what the kernel derives from a lexicon word's
    * categories: the tagless chunking category
    * ([[graft.link.PhraseChunker]]) and whether it takes no variants
    * (every category closed-class); null for a word outside the
    * lexicon. The few distinct values are shared.
    */
  @transient lazy val wordLex: Array[LexWord] = {
    val a = new Array[LexWord](dict.size)
    val shared = scala.collection.mutable.HashMap.empty[LexWord, LexWord]
    lexCats.foreach { case (w, cats) =>
      val lw = LexWord(graft.link.PhraseChunker.taglessCat(cats),
        cats.nonEmpty && cats.subsetOf(UmlsTables.invariantCats))
      a(dict.id(w)) = shared.getOrElseUpdate(lw, lw)
    }
    a
  }

  /** The lexicon entry of a word id, or null (also for id -1). */
  def lexOf(id: Int): LexWord = if (id < 0) null else wordLex(id)

  /** Per word id, the [[UmlsTables]] flag bits (`ProbeSkip`,
    * `NegexFirst`, `StopPhraseFirst`, `SplitWord`, `HotFirst`).
    */
  @transient lazy val wordFlags: Array[Byte] = {
    val f = new Array[Byte](dict.size)
    def set(w: String, bit: Int): Unit = {
      val i = dict.id(w)
      if (i >= 0) f(i) = (f(i) | bit).toByte
    }
    // stop-variant rule (metamap_candidates.pl:189-205): closed-class stop
    // words and very short very frequent words (test_count_and_length:
    // count > 4000 for length < 3, count > 2000 for length < 2)
    stopWords.foreach(set(_, UmlsTables.ProbeSkip))
    wordCounts.foreach { case (w, count) =>
      if (w.length < 3 && (count > 4000 || (count > 2000 && w.length < 2)))
        set(w, UmlsTables.ProbeSkip)
    }
    (negexPre ++ negexPost ++ negexPseudo ++ negexPseudoPost ++ negexConj)
      .foreach(t => if (t.nonEmpty) set(t.head, UmlsTables.NegexFirst))
    stopPhraseFirstWords.foreach(set(_, UmlsTables.StopPhraseFirst))
    splitWords.keysIterator.foreach(set(_, UmlsTables.SplitWord))
    frequentFirstWordPairs.keysIterator.foreach(set(_, UmlsTables.HotFirst))
    f
  }

  /** Whether word id `id` carries flag `bit` (never for id -1). */
  def hasFlag(id: Int, bit: Int): Boolean = id >= 0 && (wordFlags(id) & bit) != 0

  /** The default static variant table by word id (null: no entry). */
  @transient lazy val wordVariants: Array[Vector[Variant]] = {
    val a = new Array[Vector[Variant]](dict.size)
    variants.foreach { case (w, vs) => a(dict.id(w)) = vs }
    a
  }

  /** The semantic network with only preferred relations, st1 -> st2 ->
    * relations (empty lists left out): the triple pairing's licensing
    * lookup, without a tuple key per probe.
    */
  @transient lazy val preferredSemnet: Map[String, Map[String, Vector[String]]] =
    semnet.iterator
      .map { case ((s1, s2), rels) => (s1, s2, rels.filter(preferredRelations.contains)) }
      .filter(_._3.nonEmpty).toVector
      .groupBy(_._1).map { case (s1, rs) => s1 -> rs.map(r => r._2 -> r._3).toMap }

  /** First words of all stop phrases — the O(1) gate the kernel checks
    * before building a phrase-text key for the stop_analysis lookup
    * (almost no phrase starts a stop phrase, so the common case must
    * cost one hash probe of an EXISTING string, zero allocation).
    * Lazy + transient: recomputed per deserialized broadcast copy.
    */
  @transient lazy val stopPhraseFirstWords: Set[String] =
    stopPhrases.keysIterator.map { k =>
      val i = k.indexOf(' ')
      if (i < 0) k else k.substring(0, i)
    }.toSet

  /** Per-instance memo for the OOV runtime variant closure
    * (DynamicVariants): the closure's results depend on THIS table's
    * contents, so the cache must live with the table — a JVM-wide map
    * keyed by word alone would serve one fixture's variants to another
    * (tests build several staging tables in one JVM). Transient: each
    * executor deserializing the broadcast gets a fresh empty memo.
    */
  @transient lazy val dynVariantMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Variant]]()

  /** The same memo under the default flags for dictionary words, by id
    * ([[DynamicVariants.closureOf]]).
    */
  @transient lazy val dynVariantsById = new Array[Vector[Variant]](dict.size)

  /** all_words index (lib/word_index.pl:80-85): word -> entries whose
    * normalized string contains the word ANYWHERE. Only probed in
    * overmatch mode (metamap_candidates.pl:298-310); derived lazily per
    * executor from the first-word index, so it costs nothing unless -o
    * is in use.
    */
  @transient lazy val allWordIndex: Map[String, Vector[IndexEntry]] = {
    val entries = firstWordIndex.valuesIterator.flatten.toVector
      .distinctBy(e => (e.cui, e.str))
    entries.flatMap(e => e.nmWords.distinct.map(_ -> e))
      .groupBy(_._1).map { case (w, es) => w -> es.map(_._2) }
  }

  /** frequent_first_word_pair/2 analogue
    * (metamap/frequent_first_word_pair.pl:39-116): (first word -> last
    * words) of multiword normalized strings occurring at least
    * [[UmlsTables.FrequentPairCutoff]] times in the index. The reference
    * curates a static 79-pair table from Metathesaurus frequency stats;
    * here the same definition is computed from the index, once per
    * index copy ([[WordIndex.frequentPairs]]).
    */
  def frequentFirstWordPairs: Map[String, Set[String]] = firstWordIndex.frequentPairs

  /** Multiword lexicon forms (variant generators), tokenized. */
  private def multiwordForms: Iterable[Vector[String]] =
    lexiconForms.toSeq.map(f => graft.text.Tokenizer.tokenizeMmLc(f)).filter(_.length >= 2)

  /** Trie over multiword lexicon forms (variant generators) — per-position
    * walk instead of O(n^2) substring construction per phrase.
    */
  @transient lazy val multiwordTrie: WordTrie = WordTrie.build(multiwordForms, dict)

  @transient lazy val negexPreTrie: WordTrie = WordTrie.build(negexPre, dict)
  @transient lazy val negexPostTrie: WordTrie = WordTrie.build(negexPost, dict)
  @transient lazy val negexPseudoTrie: WordTrie = WordTrie.build(negexPseudo, dict)
  @transient lazy val negexPseudoPostTrie: WordTrie = WordTrie.build(negexPseudoPost, dict)
  @transient lazy val negexConjTrie: WordTrie = WordTrie.build(negexConj, dict)
}

/** A lexicon word's derived categories, see [[UmlsTables.wordLex]]. */
final case class LexWord(taglessCat: String, invariant: Boolean)

object UmlsTables {
  val closedCats: Set[String] = Set("det", "prep", "conj", "pron", "aux", "modal", "compl")
  /** Categories whose words get no variants (metamap_variants.pl:309-339). */
  val invariantCats: Set[String] = closedCats
  /** Min (first, last)-pair frequency for the first_wordsb exclusion; the
    * reference's curated table starts around this occurrence count at
    * Metathesaurus scale.
    */
  val FrequentPairCutoff: Int = 5

  /** [[UmlsTables.wordFlags]] bits: the stop-variant rule skips probing
    * the word; it may start a NegEx trigger; it starts a stop phrase; it
    * is a split word; it is the first word of a frequent first/last pair.
    */
  val ProbeSkip = 1
  val NegexFirst = 2
  val StopPhraseFirst = 4
  val SplitWord = 8
  val HotFirst = 16
}

/** Deterministic synthetic mini-Metathesaurus + lexicon (FIXTURES.md §2).
  * Entirely code-generated: no external data, no randomness.
  */
object MiniUmls {

  // (cui, preferred name, semtypes, strings)
  val concepts: Vector[(String, String, Vector[String], Vector[String])] = Vector(
    ("C0027051", "Myocardial Infarction", Vector("dsyn"),
      Vector("Myocardial Infarction", "Heart attack", "MI")),
    ("C0018787", "Heart", Vector("bpoc"), Vector("Heart")),
    ("C0018799", "Heart Diseases", Vector("dsyn"), Vector("Heart Diseases", "Cardiac disease")),
    ("C0010054", "Coronary Arteriosclerosis", Vector("dsyn"),
      Vector("Coronary Arteriosclerosis", "Coronary artery disease", "CAD")),
    ("C0205042", "Coronary artery", Vector("bpoc"), Vector("Coronary artery")),
    ("C0006826", "Malignant Neoplasms", Vector("neop"), Vector("Malignant Neoplasms", "Cancer")),
    ("C0024109", "Lung", Vector("bpoc"), Vector("Lung")),
    ("C0023884", "Liver", Vector("bpoc"), Vector("Liver")),
    ("C0024121", "Lung Neoplasms", Vector("neop"),
      Vector("Lung Neoplasms", "Lung cancer", "Pulmonary cancer")),
    ("C0345904", "Malignant neoplasm of liver", Vector("neop"),
      Vector("Liver cancer", "Cancer, Liver")),
    ("C0010346", "Crohn Disease", Vector("dsyn"), Vector("Crohn Disease", "Crohn's disease")),
    ("C0030193", "Pain", Vector("sosy"), Vector("Pain")),
    ("C0008031", "Chest Pain", Vector("sosy"), Vector("Chest Pain")),
    ("C0817096", "Chest", Vector("blor"), Vector("Chest")),
    ("C0004057", "Aspirin", Vector("phsu"), Vector("Aspirin", "Acetylsalicylic acid")),
    ("C0004238", "Atrial Fibrillation", Vector("dsyn"), Vector("Atrial Fibrillation", "AF")),
    ("C0020538", "Hypertensive disease", Vector("dsyn"),
      Vector("Hypertensive disease", "Hypertension", "High blood pressure")),
    ("C0011849", "Diabetes Mellitus", Vector("dsyn"), Vector("Diabetes Mellitus", "Diabetes")),
    ("C0021400", "Influenza", Vector("dsyn"), Vector("Influenza", "Flu")),
    ("C0042776", "Viruses", Vector("virs"), Vector("Viruses", "Virus")),
    ("C0032285", "Pneumonia", Vector("dsyn"), Vector("Pneumonia")),
    ("C0034063", "Pulmonary Edema", Vector("dsyn"), Vector("Pulmonary Edema", "Edema of lung")),
    ("C0013604", "Edema", Vector("sosy"), Vector("Edema", "Oedema")),
    ("C0029161", "Oral glucose tolerance test", Vector("diap"),
      Vector("Oral glucose tolerance test", "OGTT")),
    ("C0017725", "Glucose", Vector("orch"), Vector("Glucose")),
    ("C0021641", "Insulin", Vector("phsu"), Vector("Insulin")),
    ("C0027651", "Neoplasms", Vector("neop"), Vector("Neoplasms", "Tumor", "Tumour", "Neoplasm")),
    ("C0015967", "Fever", Vector("sosy"), Vector("Fever", "Pyrexia")),
    ("C0010200", "Coughing", Vector("sosy"), Vector("Coughing", "Cough")),
    ("C0013404", "Dyspnea", Vector("sosy"), Vector("Dyspnea", "Shortness of breath")),
    ("C0002871", "Anemia", Vector("dsyn"), Vector("Anemia", "Anaemia")),
    ("C0018681", "Headache", Vector("sosy"), Vector("Headache")),
    ("C0027497", "Nausea", Vector("sosy"), Vector("Nausea")),
    ("C0042963", "Vomiting", Vector("sosy"), Vector("Vomiting")),
    ("C0004096", "Asthma", Vector("dsyn"), Vector("Asthma")),
    ("C0018801", "Heart failure", Vector("dsyn"), Vector("Heart failure", "Cardiac failure")),
    ("C0038454", "Cerebrovascular accident", Vector("dsyn"),
      Vector("Cerebrovascular accident", "Stroke", "CVA")),
    ("C0005823", "Blood Pressure", Vector("phsf"), Vector("Blood Pressure", "BP")),
    ("C0013798", "Electrocardiogram", Vector("diap"), Vector("Electrocardiogram", "ECG", "EKG")),
    ("C0024485", "Magnetic Resonance Imaging", Vector("diap"),
      Vector("Magnetic Resonance Imaging", "MRI")),
    ("C0040405", "X-Ray Computed Tomography", Vector("diap"),
      Vector("X-Ray Computed Tomography", "Computed tomography", "CT scan")),
    ("C0021368", "Inflammation", Vector("patf"), Vector("Inflammation")),
    ("C0003864", "Arthritis", Vector("dsyn"), Vector("Arthritis")),
    ("C0033860", "Psoriasis", Vector("dsyn"), Vector("Psoriasis")),
    ("C0023895", "Liver diseases", Vector("dsyn"), Vector("Liver diseases", "Hepatic disease")),
    ("C0035078", "Kidney Failure", Vector("dsyn"), Vector("Kidney Failure", "Renal failure")),
    ("C0022646", "Kidney", Vector("bpoc"), Vector("Kidney")),
    ("C0021852", "Small Intestine", Vector("bpoc"), Vector("Small Intestine")),
    ("C0038351", "Stomach", Vector("bpoc"), Vector("Stomach")),
    ("C0006104", "Brain", Vector("bpoc"), Vector("Brain")),
    // WSD ambiguity fixture: "cold" -> temperature concept vs common cold
    ("C0009443", "Common Cold", Vector("dsyn"), Vector("Common Cold", "Cold")),
    ("C0009264", "Cold Temperature", Vector("npop"), Vector("Cold Temperature", "Cold")),
    // split-word fixture (V8): index carries the two-word form only
    ("C0006147", "Breast Feeding", Vector("phsf"), Vector("Breast Feeding")),
    // C2 hot-pair fixture (frequent_first_word_pair analogue): six staging
    // concepts make (stage, lymphoma) a frequent first/last pair, so
    // first_wordsb demonstrably drops them while the 1-word "Stage" entry
    // survives. Corpus pages never contain these words (oracle-stable).
    ("C4000001", "Stage 1 lymphoma", Vector("neop"), Vector("Stage 1 lymphoma")),
    ("C4000002", "Stage 2 lymphoma", Vector("neop"), Vector("Stage 2 lymphoma")),
    ("C4000003", "Stage 3 lymphoma", Vector("neop"), Vector("Stage 3 lymphoma")),
    ("C4000004", "Stage 4 lymphoma", Vector("neop"), Vector("Stage 4 lymphoma")),
    ("C4000005", "Stage 5 lymphoma", Vector("neop"), Vector("Stage 5 lymphoma")),
    ("C4000006", "Stage 6 lymphoma", Vector("neop"), Vector("Stage 6 lymphoma")),
    ("C4000007", "Lymphoma", Vector("neop"), Vector("Lymphoma")),
    ("C4000008", "Stage finding", Vector("npop"), Vector("Stage"))
  )

  /** cuisourceinfo analogue (db/db_access.pl:368-396): per-CUI root-source
    * vocabulary lists, derived deterministically from semtype groups so
    * -R/-e have differentiated behavior over the fixture — disorders
    * carry MSH+SNOMEDCT_US, anatomy/findings SNOMEDCT_US only, drugs and
    * chemicals MSH+RXNORM, diagnostics MSH+LNC, everything else MSH
    * (mirrors the real Metathesaurus's heaviest per-family contributors).
    */
  val cuiSources: Map[String, Vector[String]] = {
    val disorders = Set("dsyn", "neop", "patf", "virs")
    val anatomy = Set("sosy", "blor", "bpoc", "phsf", "npop")
    val drugs = Set("phsu", "orch")
    val diag = Set("diap")
    concepts.map { c =>
      val sts = c._3.toSet
      val srcs =
        if (sts.exists(disorders)) Vector("MSH", "SNOMEDCT_US")
        else if (sts.exists(drugs)) Vector("MSH", "RXNORM")
        else if (sts.exists(diag)) Vector("MSH", "LNC")
        else if (sts.exists(anatomy)) Vector("SNOMEDCT_US")
        else Vector("MSH")
      c._1 -> srcs
    }.toMap
  }

  /** Word/multiword synonyms with variant level 2 (db synonyms analogue;
    * multiword pairs cover FIXTURES.md "heart attack <-> myocardial
    * infarction").
    */
  val synonyms: Vector[(String, String)] = Vector(
    ("lung", "pulmonary"), ("pulmonary", "lung"),
    ("liver", "hepatic"), ("hepatic", "liver"),
    ("kidney", "renal"), ("renal", "kidney"),
    ("heart", "cardiac"), ("cardiac", "heart"),
    ("cancer", "carcinoma"), ("carcinoma", "cancer"),
    ("heart attack", "myocardial infarction"),
    ("myocardial infarction", "heart attack"))

  /** Spelling variant pairs, level 0. */
  val spellings: Vector[(String, String)] = Vector(
    ("tumor", "tumour"), ("tumour", "tumor"),
    ("anemia", "anaemia"), ("anaemia", "anemia"),
    ("edema", "oedema"), ("oedema", "edema"))

  /** Inflection pairs (singular <-> plural), level 1. */
  val inflections: Vector[(String, String)] = Vector(
    ("lung", "lungs"), ("lungs", "lung"),
    ("artery", "arteries"), ("arteries", "artery"),
    ("virus", "viruses"), ("viruses", "virus"),
    ("tumor", "tumors"), ("tumors", "tumor"),
    ("neoplasm", "neoplasms"), ("neoplasms", "neoplasm"),
    ("headache", "headaches"), ("headaches", "headache"),
    ("disease", "diseases"), ("diseases", "disease"),
    ("cough", "coughing"), ("coughing", "cough"))

  /** Derivational pairs (adj <-> noun), level 3 (dm_variants analogue). */
  val derivations: Vector[(String, String)] = Vector(
    ("inflammatory", "inflammation"), ("inflammation", "inflammatory"),
    ("arthritic", "arthritis"), ("arthritis", "arthritic"),
    ("asthmatic", "asthma"), ("asthma", "asthmatic"))

  val nouns: Set[String] = Set(
    "patient", "patients", "history", "year", "attack", "disease", "diseases",
    "infarction", "artery", "arteries", "cancer", "carcinoma", "lung", "lungs",
    "liver", "kidney", "heart", "chest", "pain", "side", "test", "results",
    "result", "evidence", "aspirin", "fibrillation", "hypertension", "diabetes",
    "mellitus", "influenza", "flu", "virus", "viruses", "pneumonia", "edema",
    "oedema", "glucose", "insulin", "neoplasm", "neoplasms", "tumor", "tumors",
    "tumour", "fever", "pyrexia", "cough", "coughing", "dyspnea", "breath",
    "shortness", "anemia", "anaemia", "headache", "headaches", "nausea",
    "vomiting", "asthma", "failure", "accident", "stroke", "blood", "pressure",
    "electrocardiogram", "electrocardiography", "imaging", "resonance",
    "tomography", "scan",
    "inflammation", "arthritis", "psoriasis", "stomach", "brain", "intestine",
    "crohn", "cold", "treatment", "therapy", "doctor", "hospital", "admission",
    "study", "week", "month", "day", "examination", "scleroderma", "act",
    "immigration", "nationality", "infarct", "arteriosclerosis",
    "stage", "lymphoma")

  val adjectives: Set[String] = Set(
    "myocardial", "coronary", "cardiac", "pulmonary", "hepatic", "renal",
    "malignant", "atrial", "hypertensive", "acute", "chronic", "severe",
    "mild", "left", "right", "high", "low", "small", "large", "oral",
    "magnetic", "computed", "common", "inflammatory", "arthritic", "asthmatic",
    "cerebrovascular", "last", "normal", "abnormal", "elevated")

  val verbs: Set[String] = Set(
    "had", "have", "has", "showed", "show", "shows", "revealed", "reveal",
    "reveals", "denies", "denied", "confirmed", "confirm", "confirms",
    "ruled", "rule", "rules", "suffered", "suffers", "developed", "develops",
    "presented", "presents", "received", "receives", "underwent", "reported",
    "reports", "found", "diagnosed", "treated", "admitted", "complained",
    // noun/verb-ambiguous lexical items (tagger fixture material; the
    // tagless path maps N/V to noun, so pinned-mode results are unchanged)
    "attack", "cough", "scan")

  val auxiliaries: Set[String] = Set("was", "were", "is", "are", "be", "been", "being",
    // modals (closed class): phrase-breaking like aux in the chunker
    "should", "would", "could", "may", "might", "must", "can", "will", "shall", "ought")
  val determiners: Set[String] = Set("the", "a", "an", "this", "that", "these", "those", "no")
  val prepositions: Set[String] = Set(
    "of", "on", "in", "with", "without", "for", "to", "after", "before",
    "during", "at", "by", "from", "into", "out", "over", "under")
  val conjunctions: Set[String] = Set("and", "or", "but", "however", "although", "while")
  val pronouns: Set[String] = Set("he", "she", "it", "they", "his", "her", "its", "their", "we")
  val adverbs: Set[String] = Set("severely", "also", "not", "then", "later",
    "subsequently", "aside", "apart")

  /** `variants=` rule classes for fixture words whose SPECIALIST records
    * carry a non-default code ((word, cat) -> codes; every other word
    * gets Morphology.defaultClasses). Mirrors the real lexicon: Greek
    * pluralizers are glreg (no reg code, so no "psoriasises"), CEX verbs
    * are regd (scanned/scanning), gradable adjectives are reg (milder);
    * unmarked adjectives generate nothing.
    */
  val ruleClasses: Map[(String, String), Set[String]] = Map(
    ("psoriasis", "noun") -> Set("glreg"),
    ("arthritis", "noun") -> Set("glreg"),
    ("arteriosclerosis", "noun") -> Set("glreg"),
    ("scan", "verb") -> Set("regd"),
    ("mild", "adj") -> Set("reg"),
    ("severe", "adj") -> Set("reg"),
    ("high", "adj") -> Set("reg"),
    ("low", "adj") -> Set("reg"),
    ("small", "adj") -> Set("reg"),
    ("large", "adj") -> Set("reg"))

  /** Multi-word lexicon forms (is_a_form analogue) enabling multiword
    * variant generators (metamap_variants.pl:201-283).
    */
  val multiwordForms: Set[String] = Set(
    "heart attack", "myocardial infarction", "coronary artery",
    "heart disease", "blood pressure", "chest pain", "heart failure",
    "atrial fibrillation", "diabetes mellitus", "lung cancer",
    "shortness of breath", "common cold")

  /** NegEx trigger inventory at reference scale: all 6 classes, >= 250
    * phrases (graft.negex.NegexTriggers; negex_triggers.pl analogue).
    */
  val negexPre: Vector[Vector[String]] = graft.negex.NegexTriggers.nega
  val negexPost: Vector[Vector[String]] = graft.negex.NegexTriggers.negb
  val negexPseudo: Vector[Vector[String]] = graft.negex.NegexTriggers.pseudoPre
  val negexPseudoPost: Vector[Vector[String]] = graft.negex.NegexTriggers.pseudoPost
  val negexConj: Vector[Vector[String]] = graft.negex.NegexTriggers.conj

  /** Synthetic stop-phrase table at reference scale
    * (metamap_stop_phrase.pl holds 1,825 rows of common non-medical
    * phrases with the lexical categories under which they are skipped).
    * A curated core of realistic entries plus a systematic
    * function-word-frame expansion — same shape, scale and lookup key
    * (phrase string -> categories) as the reference table. Only consulted
    * in overmatch mode, exactly like add_candidates does.
    */
  val stopPhrases: Map[String, Set[String]] = {
    // entries only bite when their categories intersect the generator's
    // lexCats (add_candidates semantics): "stage"/"left"/"right"/"results"
    // are the fixture-lexicon members that make the shipped table LIVE
    // (TableScaleSpec pins the "stage" block end to end in -o mode)
    val curated: Vector[(String, Set[String])] = Vector(
      "most" -> Set("adj", "adv"), "associated" -> Set("adj"),
      "either" -> Set("det"), "male" -> Set("noun", "adj"),
      "female" -> Set("noun", "adj"), "group" -> Set("noun"),
      "groups" -> Set("noun"), "well" -> Set("adv"),
      "left" -> Set("adj", "adv"), "right" -> Set("adj", "adv"),
      "times" -> Set("noun"), "total" -> Set("adj"),
      "approach" -> Set("noun"), "use" -> Set("noun", "verb"),
      "review" -> Set("noun"), "report" -> Set("noun"),
      "case" -> Set("noun"), "cases" -> Set("noun"),
      "type" -> Set("noun"), "types" -> Set("noun"),
      "stage" -> Set("noun"), "results" -> Set("noun"))
    val preps = prepositions.toVector.sorted
    val dets = determiners.toVector.sorted
    val prons = pronouns.toVector.sorted
    val auxes = auxiliaries.toVector.sorted
    val framed: Vector[(String, Set[String])] =
      (for (p <- preps; d <- dets) yield s"$p $d" -> Set("prep")) ++
        (for (pr <- prons; a <- auxes) yield s"$pr $a" -> Set("pron")) ++
        (for (a <- auxes; d <- dets) yield s"$a $d" -> Set("aux")) ++
        (for (c <- conjunctions.toVector.sorted; d <- dets)
          yield s"$c $d" -> Set("conj")) ++
        (for (p <- preps; pr <- prons) yield s"$p $pr" -> Set("prep")) ++
        (for (d <- dets; p <- preps) yield s"$d $p" -> Set("det")) ++
        (for (a <- auxes; p <- preps) yield s"$a $p" -> Set("aux")) ++
        (for (pr <- prons; p <- preps) yield s"$pr $p" -> Set("pron")) ++
        (for (p1 <- preps; p2 <- preps if p1 != p2) yield s"$p1 $p2" -> Set("prep"))
    (curated ++ framed).toMap
  }

  val semnetFacts: Vector[(String, String, String)] = Vector(
    ("bpoc", "location_of", "dsyn"), ("blor", "location_of", "dsyn"),
    ("bpoc", "location_of", "neop"), ("blor", "location_of", "neop"),
    ("bpoc", "location_of", "sosy"), ("blor", "location_of", "sosy"),
    ("bpoc", "location_of", "patf"), ("bpoc", "location_of", "phsf"),
    ("phsu", "treats", "dsyn"), ("phsu", "treats", "neop"),
    ("phsu", "treats", "sosy"), ("topp", "treats", "dsyn"),
    ("diap", "diagnoses", "dsyn"), ("diap", "diagnoses", "neop"),
    ("diap", "diagnoses", "sosy"), ("diap", "measures", "phsf"),
    ("diap", "measures", "orch"),
    ("virs", "causes", "dsyn"), ("virs", "causes", "sosy"),
    ("dsyn", "causes", "sosy"), ("neop", "causes", "sosy"),
    ("patf", "manifestation_of", "dsyn"),
    ("sosy", "manifestation_of", "dsyn"), ("sosy", "manifestation_of", "neop"),
    ("sosy", "manifestation_of", "patf"),
    ("dsyn", "co-occurs_with", "dsyn"), ("neop", "co-occurs_with", "dsyn"),
    ("dsyn", "affects", "phsf"), ("orch", "affects", "phsf"),
    ("phsu", "affects", "phsf"), ("npop", "affects", "phsf"),
    ("dsyn", "degree_of", "npop"))

  val relationInverse: Map[String, String] = Map(
    "location_of" -> "has_location", "has_location" -> "location_of",
    "treats" -> "treated_by", "treated_by" -> "treats",
    "diagnoses" -> "diagnosed_by", "diagnosed_by" -> "diagnoses",
    "causes" -> "caused_by", "caused_by" -> "causes",
    "manifestation_of" -> "has_manifestation",
    "has_manifestation" -> "manifestation_of",
    "co-occurs_with" -> "co-occurs_with",
    "affects" -> "affected_by", "affected_by" -> "affects",
    "measures" -> "measured_by", "measured_by" -> "measures",
    "degree_of" -> "has_degree", "has_degree" -> "degree_of")

  val preferredRelations: Set[String] = Set(
    "location_of", "treats", "diagnoses", "causes", "manifestation_of",
    "co-occurs_with", "affects", "measures", "degree_of")

  /** Deterministic WSD prior over semantic types: clinically-salient types
    * first (stands in for the reference WSD server's arbitration,
    * re-expressed as a ranking per SURVEY §2.11 W1).
    */
  val semTypePriority: Map[String, Int] = Map(
    "dsyn" -> 0, "neop" -> 1, "sosy" -> 2, "patf" -> 3, "phsu" -> 4,
    "diap" -> 5, "virs" -> 6, "bpoc" -> 7, "blor" -> 8, "orch" -> 9,
    "phsf" -> 10, "npop" -> 11)

  val treecodes: Map[String, Vector[String]] = Map(
    "C0027051" -> Vector("C14.280.647.500"),
    "C0018799" -> Vector("C14.280"),
    "C0006826" -> Vector("C04.557"),
    "C0024121" -> Vector("C04.588.894.797"),
    "C0345904" -> Vector("C04.588.274.623"))

  /** Uninversion + NOS stripping (lib/nls_strings.pl:491-556 analogue):
    * "Cancer, Liver" -> "liver cancer"; ", NOS" suffixes dropped.
    */
  def normalizeString(str: String): Vector[String] = {
    val cleaned = str.replaceAll("(?i), NOS$", "")
    val commaIdx = cleaned.indexOf(", ")
    val uninverted =
      if (commaIdx > 0 && !cleaned.substring(commaIdx + 2).contains(",") &&
        cleaned.substring(commaIdx + 2).trim.nonEmpty)
        cleaned.substring(commaIdx + 2) + " " + cleaned.substring(0, commaIdx)
      else cleaned
    Tokenizer.tokenizeMmLc(uninverted)
  }

  /** Build the static variant table; `catRestrict` limits INFLECTION
    * edges to one category's rules (the per-category GVC tables tagged
    * mode selects among, V10) — spelling/synonym/derivation edges are
    * category-crossing by nature and stay.
    */
  private def buildVariantTable(catRestrict: Option[String] = None,
      allDeriv: Boolean = false,
      noDeriv: Boolean = false): Map[String, Vector[Variant]] = {
    // fact tables + rule-generated morphology (Morphology scaladoc): the
    // reference builds its static variant tables the same way — facts
    // where curated, lm.rules/dm.rul where not. Rule edges come from the
    // shared per-word generator, the closure from VariantClosure — the
    // exact code path UmlsIngest.variantTableJob distributes.
    val lexCats: Map[String, Set[String]] = {
      val m = scala.collection.mutable.Map[String, Set[String]]()
      def tag(ws: Iterable[String], c: String): Unit =
        ws.foreach(w => m(w) = m.getOrElse(w, Set.empty) + c)
      tag(nouns, "noun"); tag(adjectives, "adj"); tag(verbs, "verb")
      m.toMap
    }
    val lexWords: Set[String] = lexCats.keySet.toSet
    val ruleEdges = lexCats.toVector.map { case (w, cs) =>
      VariantClosure.ruleEdgesForWord(w, cs, lexWords, catRestrict, allDeriv,
        c => ruleClasses.getOrElse((w, c), Morphology.defaultClasses(c)))
    }
    val ruleInfl = ruleEdges.flatMap(_._1)
    val ruleDeriv = ruleEdges.flatMap(_._2)
    // curated inflection pairs only apply when the base word belongs to
    // the restricted category ("cough"/"coughing" serves noun AND verb)
    val curatedInfl = catRestrict match {
      case Some("noun") => inflections.filter(p => nouns(p._1) || nouns(p._2))
      case Some("verb") => inflections.filter(p => verbs(p._1) || verbs(p._2))
      case Some(_) => Vector.empty
      case None => inflections
    }
    val e = VariantClosure.edges(
      spellings = spellings,
      inflections = curatedInfl ++ ruleInfl,
      synonyms = synonyms,
      // -d: the closure runs with NO derivation edges (curated or rule)
      derivations = if (noDeriv) Vector.empty else derivations ++ ruleDeriv)
    // both endpoints of every pair get a row (the job's rule; the
    // fixture pairs are pre-symmetrized so this is a no-op here, but the
    // two builders must share the word-list contract byte-for-byte)
    val allWords = (nouns ++ adjectives ++ verbs).toVector ++
      spellings.flatMap(p => Vector(p._1, p._2)) ++
      inflections.flatMap(p => Vector(p._1, p._2)) ++
      derivations.flatMap(p => Vector(p._1, p._2)) ++
      ruleInfl.map(_._1) ++ ruleInfl.map(_._2) ++
      ruleDeriv.map(_._1) ++ ruleDeriv.map(_._2) ++
      synonyms.flatMap(p => Vector(p._1, p._2))
    VariantClosure.table(allWords, e)
  }

  /** Scale-stress table set: the fixture tables plus `nExtraStrings`
    * synthetic index entries over a vocabulary disjoint from the fixtures
    * (prefix "zq"), so fixture-sentence results are provably unchanged
    * while the broadcast index reaches real-Metathesaurus scale (the
    * reference lexicon has 491,635 entries, skr/skr.pl:1451-1462).
    * LexiconScaleSpec measures that the kernel's per-page cost is flat in
    * index size (hash probes, not scans).
    */
  def scaledTables(nExtraStrings: Int): UmlsTables = {
    val base = tables
    def w(i: Int): String = "zq" + java.lang.Integer.toString(i, 36)
    val extra = Iterator.tabulate(nExtraStrings) { i =>
      val len = 1 + (i % 3)
      val words = Vector.tabulate(len)(k => w((i * 7 + k * 131) % 900000))
      val s = words.mkString(" ")
      IndexEntry(words, s, f"C9${i % 500000}%06d", s)
    }
    base.copy(firstWordIndex =
      WordIndex.from(base.firstWordIndex.valuesIterator.flatten ++ extra))
  }

  /** The full broadcastable table set, assembled once per JVM. */
  lazy val tables: UmlsTables = build()

  /** Assemble the full broadcastable table set anew (`graft.tools.Measure
    * tables` times it; everything else reads [[tables]]).
    */
  def build(): UmlsTables = {
    val entries = for {
      (cui, pref, _, strs) <- concepts
      s <- strs
      nm = normalizeString(s)
      if nm.nonEmpty
    } yield IndexEntry(nm, s, cui, pref)

    val lexCats: Map[String, Set[String]] = {
      val m = scala.collection.mutable.Map[String, Set[String]]()
      def tag(ws: Iterable[String], c: String): Unit =
        ws.foreach(w => m(w) = m.getOrElse(w, Set.empty) + c)
      tag(nouns, "noun"); tag(adjectives, "adj"); tag(verbs, "verb")
      tag(auxiliaries, "aux"); tag(determiners, "det"); tag(prepositions, "prep")
      tag(conjunctions, "conj"); tag(pronouns, "pron"); tag(adverbs, "adv")
      m.toMap
    }

    UmlsTables(
      firstWordIndex = WordIndex.from(entries),
      wordCounts = Map("of" -> 9000, "the" -> 9500, "no" -> 5000, "ca" -> 1200),
      cuiPreferred = concepts.map(c => c._1 -> c._2).toMap,
      cuiSemTypes = concepts.map(c => c._1 -> c._3).toMap,
      cuiSources = cuiSources,
      variants = buildVariantTable(),
      variantsByCat = Map(
        "noun" -> buildVariantTable(Some("noun")),
        "verb" -> buildVariantTable(Some("verb")),
        "adj" -> buildVariantTable(Some("adj"))),
      lexiconForms = multiwordForms,
      lexCats = lexCats,
      stopWords = determiners ++ prepositions ++ conjunctions ++ pronouns ++ auxiliaries,
      semnet = semnetFacts.groupBy(f => (f._1, f._3)).map { case (k, v) =>
        k -> v.map(_._2).sorted
      },
      preferredRelations = preferredRelations,
      relationInverse = relationInverse,
      negexPre = negexPre,
      negexPost = negexPost,
      negexPseudo = negexPseudo,
      negexPseudoPost = negexPseudoPost,
      negexConj = negexConj,
      stopPhrases = stopPhrases,
      treecodes = treecodes,
      semTypePriority = semTypePriority,
      splitWords = Map(
        "breastfeeding" -> ("breast", "feeding"),
        "healthcare" -> ("health", "care")),
      // eager at FIXTURE scale only (tables is built once per JVM; the
      // extra build passes and broadcast growth are noise here) — a
      // production-scale deployment would load the all-deriv/no-deriv
      // tables as separate broadcasts only when -D/-d is on (a table set
      // WITHOUT variantsNoDeriv still honors -d through the
      // history-filtered variantsNoDerivEffective view)
      variantsAllDeriv = buildVariantTable(allDeriv = true),
      variantsNoDeriv = buildVariantTable(noDeriv = true))
  }
}
