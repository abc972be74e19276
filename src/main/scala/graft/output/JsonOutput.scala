package graft.output

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

import graft.aa.AaDetector
import graft.pipeline.{Page, Pipeline}
import graft.text.Tokenizer
import graft.umls.UmlsTables

/** Output writers re-expressing the reference's serialization surface
  * (SURVEY §2.1 S4): the MetaMap JSON shape Document -> Utterances ->
  * Mappings (skr/skr_json.pl:87-131) and the --dump_aas AA dump
  * (text/text_objects.pl:684-734). Writers are plain DataFrames — sink
  * with df.write.json/parquet.
  */
object JsonOutput {

  /** Nested per-document JSON: one row per url with the full mention
    * structure grouped by utterance, serialized by to_json (codegen'd).
    */
  def documentJson(mentions: DataFrame): DataFrame = {
    val utterances = mentions
      .groupBy(col("url"), col("sentNo"))
      .agg(sort_array(collect_list(struct(
        col("start"), col("len"), col("cui"), col("score"),
        col("semTypes"), col("negated"), col("text")))).as("Mappings"))
      .groupBy(col("url"))
      .agg(sort_array(collect_list(struct(
        col("sentNo").as("UttNum"), col("Mappings")))).as("Utterances"))
    utterances.select(col("url"),
      to_json(struct(col("url").as("Document"), col("Utterances"))).as("json"))
  }

  /** Human-readable output (the default CLI listing shape,
    * the reference candidate line per mention, grouped per utterance) —
    * one text block per document, built as column algebra; preferred
    * names come from the table broadcast ([[Pipeline.preferredName]]) like
    * the reference's concept display. The per-phrase "Phrase:"/"Meta Mapping (score):" headers
    * are deliberately absent (phrase grouping lives in the MMO output,
    * which is byte-parity golden-pinned); the candidate LINE itself is
    * the reference's exact N=0 layout.
    */
  def humanReadable(mentions: DataFrame, umls: Broadcast[UmlsTables]): DataFrame = {
    val named = mentions.withColumn("concept", Pipeline.preferredName(umls)(col("cui")))
    // the reference candidate line (num_display_concept_info,
    // metamap_utilities.pl:468-495, N=0 format '~t~d ~w~8| ~w~w~w~p ~w'):
    // score + status symbol right-aligned to column 8 ('N' = negated,
    // choose_status_symbol :224-232), CUI:MetaTerm with the preferred
    // name parenthesized ONLY when the matched term differs
    // (compute_preferred_name_display :263-280), semtypes expanded to
    // long names by default (conditionally_expand_semtypes :282-287)
    val line = concat(
      format_string("%6d", col("score")), lit(" "),
      when(col("negated"), lit("N")).otherwise(lit(" ")),
      lit(" "), col("cui"), lit(":"), col("term"),
      when(col("term") =!= col("concept"),
        concat(lit(" ("), col("concept"), lit(")"))).otherwise(lit("")),
      lit(" "), stDisplayCol)
    val utt = named
      .groupBy(col("url"), col("sentNo"))
      .agg(concat_ws("\n", sort_array(collect_list(struct(col("start"), line.as("x"))))
        .getField("x")).as("lines"))
      .select(col("url"), col("sentNo"),
        concat(lit("Utterance "), col("sentNo"), lit(":\n"), col("lines")).as("block"))
    utt.groupBy(col("url"))
      .agg(concat_ws("\n", sort_array(collect_list(struct(col("sentNo"), col("block").as("x"))))
        .getField("x")).as("blocks"))
      .select(col("url"),
        concat(lit("Processing "), col("url"), lit("\n"), col("blocks")).as("text"))
  }

  /** `[Disease or Syndrome,Sign or Symptom]` — semtypes expanded to the
    * registry's long names (expand_semtypes, skr/skr_umls_info.pl:70;
    * the reference default — --short_semantic_types keeps abbrevs),
    * rendered like ~w of the list. One shared Column for the human
    * builder and the oracle checkpoint, so both engines read identical
    * strings.
    */
  def stDisplayCol: Column = {
    val names = typedLit(graft.umls.SemTypeRegistry.nameOf)
    concat(lit("["),
      concat_ws(",",
        transform(col("semTypes"), x => coalesce(element_at(names, x), x))),
      lit("]"))
  }

  /** --dump_aas analogue: one row per stored (url, acronym, expansion)
    * with the reference's full fielded layout
    * (write_AA_data/output_fields, text_objects.pl:716-745):
    * original-case AA and expansion text, token counts (ws included, as
    * in the stored token lists), char lengths, and `start:length`
    * posinfo. UDAs overlay the document-discovered AAs exactly like the
    * kernel does (A6: `findAas ++ udas` — a UDA wins a key collision)
    * and dump with re-tokenized counts and EMPTY posinfo, the 'UA' rule
    * (reformat_one_UDA_for_output + update_UDA_pos_info :658-680,748).
    * The lowercase `acronym` / mm-normalized `expansion` columns keep the
    * pre-r6 key semantics the kernel links with.
    */
  def aaDump(pages: Dataset[Page], umls: Broadcast[UmlsTables],
      opts: graft.link.LinkOptions = graft.link.LinkOptions.default)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val udas = opts.udas
    Pipeline.perDocument(pages, umls)(Pipeline.pageText) { (p, text, _) =>
      val toks = Tokenizer.tokenize(text)
      val recs = AaDetector.findAaRecords(toks)
      val seen = scala.collection.mutable.Set[String]()
      val docRows = recs.iterator.flatMap { r =>
        val key = r.acronymText.toLowerCase
        // first definition wins (add_to_avl_once) and a UDA overrides
        if (key.isEmpty || seen.contains(key) || udas.contains(key))
          None
        else {
          seen += key
          val aaText = r.acronymText
          val expText = r.expansionText
          Some((p.url, key,
            r.expToks.filter(t => !t.isWs && !t.isPunct && t.typ != "pe")
              .flatMap(t => Tokenizer.tokenizeMmLc(t.lc)).mkString(" "),
            aaText, expText, r.aaToks.length, aaText.length,
            r.expToks.length, expText.length,
            s"${r.aaToks.head.start}:${aaText.length}"))
        }
      }
      val udaRows = udas.iterator.map { case (k, exp) =>
        val expText = exp.mkString(" ")
        (p.url, k, exp.mkString(" "), k, expText,
          Tokenizer.tokenize(k).length, k.length,
          Tokenizer.tokenize(expText).length, expText.length, "")
      }
      docRows ++ udaRows
    }.toDF("url", "acronym", "expansion", "aa_text", "exp_text",
      "aa_tokens", "aa_length", "exp_tokens", "exp_length", "pos_info")
  }
}
