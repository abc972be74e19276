package graft.link

/** Runtime option surface mirroring the reference CLI controls we honor
  * (lib/nls_system.pl:150-329; SURVEY §2.7 E7, §2.8 F1/F4/F5, §2.3 A6,
  * §2.10 M4):
  *
  * @param scoreThreshold  -r: keep candidates with score >= threshold
  * @param restrictSemTypes -J: keep only mentions with one of these types
  * @param excludeSemTypes  -k: drop mentions with any of these types
  * @param noNums           --no_nums: drop candidates whose matched string
  *                         is mostly digits
  * @param udas             --UDA: user-defined acronym -> expansion words,
  *                         merged over document-discovered AAs
  * @param ignoreWordOrder  -i: word-order violations no longer truncate the
  *                         match, and the involvement score (E7) replaces
  *                         coverage (metamap_evaluation.pl:945-951)
  * @param allowOvermatches -o: waive the last-word guard + completeness
  *                         test; incomplete matches flagged isOvermatch
  * @param allowConceptGaps -g: unmatched meta words may be skipped
  * @param preferMultiple   -Y: invert cohesiveness (prefer_multiple_concepts,
  *                         metamap_evaluation.pl:1085-1100)
  * @param computeAllMappings -b: emit candidates of ALL maximal mappings,
  *                         not just the best-scoring ones (skr.pl:3554-3603)
  * @param minLength        --min_length: total char length of matched
  *                         phrase words (spaces included) must reach this
  *                         (metamap_evaluation.pl:381-398)
  */
final case class LinkOptions(
    scoreThreshold: Int = 0,
    restrictSemTypes: Set[String] = Set.empty,
    excludeSemTypes: Set[String] = Set.empty,
    // -R/-e (F4 source half, skr.pl:1247-1262): restrict/exclude by root
    // source vocabulary; names are uppercased root sources
    // (convert_to_root_sources + upper_list). Restrict wins over exclude,
    // matching the reference's if-then-else chain.
    restrictSources: Set[String] = Set.empty,
    excludeSources: Set[String] = Set.empty,
    noNums: Boolean = false,
    // --no_nums semtype gating (filter_numerical_evaluations,
    // skr.pl:1990-2008): only candidates whose semtypes intersect this
    // list are eligible for the numeric drop; empty or all/ALL = every
    // candidate (the reference's 'all' argument)
    noNumsSemTypes: Set[String] = Set.empty,
    udas: Map[String, Vector[String]] = Map.empty,
    ignoreWordOrder: Boolean = false,
    allowOvermatches: Boolean = false,
    allowConceptGaps: Boolean = false,
    preferMultiple: Boolean = false,
    computeAllMappings: Boolean = false,
    minLength: Int = 0,
    // --conj (P7, skr.pl:483-672): merge phrases joined by coordinating
    // conjunctions (< 21 words, skr.pl:416-419) so shared heads distribute
    conjMerge: Boolean = false,
    // P8 (skr.pl:709-857): merge consecutive phrases spanned by one AA
    // parenthetical ("Coronary artery (CA) disease" -> one phrase)
    aaSpanMerge: Boolean = false,
    // -z term_processing: input rows are dictionary terms, not documents
    // (single phrase + F6 best-coverage discard; SURVEY §2.8 F6)
    termProcessing: Boolean = false,
    // tagged mode (P1/V10): run the deterministic bigram tagger and let
    // tags drive chunk categories + variant filtering; default OFF = the
    // reference's --no_tagging mode (our round-1 pinned parity mode)
    tagged: Boolean = false,
    // --prune T: explicit candidate-pruning threshold (G1); None = the
    // reference's default adaptive backtracking threshold gated by the
    // grid sparseness test (get_pruning_threshold, skr.pl:2802-2817)
    prune: Option[Int] = None,
    // --no_prune: disable pruning entirely (skr.pl:2803-2806)
    noPrune: Boolean = false,
    // --all_derivational_variants: unlock the full dm.rul category-pair
    // inventory (adj<->verb, adv->adj/verb, noun<->verb, noun->noun)
    // instead of the default adj<->noun filter (filter_an_variants,
    // metamap_variants.pl:1005-1143)
    allDerivationalVariants: Boolean = false,
    // --nomap: user exclusion pairs (term, cui); "" on either side is a
    // wildcard matching anything, like the reference's partially-
    // instantiated NoMap pairs (filter_evaluations_by_user_exclusions,
    // skr.pl:2042-2055)
    noMap: Set[(String, String)] = Set.empty,
    // -y/--word_sense_disambiguation (nls_system.pl:228): resolve each
    // ambiguous span to ONE concept — the corpus-level window-dedup
    // re-expression (score desc, semtype prior, cui) applied
    // document-locally, identical ranking to Pipeline.wsdDedup
    wsd: Boolean = false,
    // input segmentation (get_skr_text_3, skr_text_processing.pl:142-178):
    // --sldi one record per line; --sldiID lines are "ID|Text";
    // --blanklines N records split on runs of >= N blank lines. All None/
    // false = a DataFrame row is already one document (the batch default;
    // the reference's stream default is blanklines 1)
    sldi: Boolean = false,
    sldiId: Boolean = false,
    blankLines: Option[Int] = None,
    // NegEx distances (negex.pl:893-918, NEGEX_UTTERANCE_MAX_DIST /
    // NEGEX_CONCEPT_MAX_DIST env analogues; documented reference values
    // 20/10): setting either switches Negex from the pinned 6-word fixed
    // window to the reference's two-distance rule — no window when the
    // trigger is within utteranceMaxDist tokens of the utterance end,
    // else the trigger↔concept distance must be <= conceptMaxDist
    negexUtteranceMaxDist: Option[Int] = None,
    negexConceptMaxDist: Option[Int] = None,
    // --cascade: candidates positionally overlapping a semtype-DISCARDED
    // candidate are discarded too ("logistic regression" restricted to
    // disorders should not leave "Regression" behind;
    // discard_overlapping_evaluations, skr.pl:1284-1309)
    cascade: Boolean = false,
    // -Q N composite_phrases (nls_system.pl:177-179, reference default 4):
    // max number of "of"-linked prepositional phrases glommed onto the
    // initial NP by composite gluing; 0 disables gluing entirely
    compositePhrases: Int = 4,
    // -K ignore_stop_phrases (nls_system.pl:167): disable the default-mode
    // phrase-level stop_analysis skip (skr.pl:1158-1166) — a phrase whose
    // full text is a stop phrase with overlapping category normally
    // produces NO evaluations at all
    ignoreStopPhrases: Boolean = false,
    // -d no_derivational_variants (nls_system.pl:202): variant generation
    // never follows derivation edges (wins over -D if both are set)
    noDerivationalVariants: Boolean = false,
    // --negex_st_add/del/set (nls_system.pl:259-264): NegEx semtype
    // gating. Setting ANY of the three engages the reference's gate
    // (negex_semtypes, negex.pl:679-701): a mention is negatable only if
    // its semtypes intersect default+add-del; `set` containing all/ALL
    // disables the gate (and is otherwise IGNORED, replicating the
    // reference's quirk where NegExSemTypes4 is discarded unless it
    // contains 'all'). All three empty = the pinned ungated default.
    negexStAdd: Set[String] = Set.empty,
    negexStDel: Set[String] = Set.empty,
    negexStSet: Set[String] = Set.empty,
    // reference-exact composite-phrase mode (get_composite_phrases +
    // begins_with_composite_phrase, skr.pl:4619-4700): an initial NP
    // gloms a following prepositional phrase (ANY preposition, not just
    // "of") plus up to -Q initial "of" phrases into ONE composite
    // phrase, which is then evaluated under [term_processing,
    // ignore_word_order] (CompositeOptions, skr.pl:4629) — so "pain on
    // the left side of the chest" links Chest Pain. OFF = the pinned
    // approximation (of-only gluing inside the chunker).
    compositeExact: Boolean = false,
    // reference-exact tagless boundary mode (mincoman.pl:106-240 convert
    // + mark_boundaries + adjust_boundaries + punc_mark1): pastpart-
    // featured verbs resolve to adj-like items that OPEN a phrase,
    // adverbs break only at "not" (or hoist the boundary of a following
    // verb/aux/modal) and otherwise JOIN the phrase, and only the
    // punc_mark1 set breaks unconditionally — a comma breaks only when
    // the item before it is not an adjective. OFF = the pinned
    // simplified boundary set (break at every adv and every punct).
    taglessExact: Boolean = false,
    // reference-exact AA-definition handling (create_EXP_raw_token_list's
    // aadef clause, lib/pos_info.pl:410-470): the EXP token stream the
    // reference actually links DROPS the defining parenthetical — after
    // "heart attack (HA)", the "(HA)" tokens vanish and only later HA
    // occurrences are expanded — so no mention is produced at the
    // definition site. OFF = the pinned default, which keeps the
    // definition-site mention (the parenthetical surface does denote the
    // concept, and a KG pipeline wants that positional evidence).
    aaDefExact: Boolean = false)

object LinkOptions {
  val default: LinkOptions = LinkOptions()
}
