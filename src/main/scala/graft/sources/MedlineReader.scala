package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Fielded MEDLINE / RIS citation input (S1 parity): the first input a
  * MetaMap-parity user feeds the engine. Re-expresses the reference's
  * citation reader (/root/reference/skr/skr_text_processing.pl:189-361):
  *
  *  - a block is a citation when its first line is `PMID` (MEDLINE) or
  *    `TY` (RIS) — after left-trimming — followed by a `- | : .`
  *    separator, and a later line carries a title field
  *    (`TI T1 TT BTI CTI VTI`) (medlineRIS_citation, :286-298);
  *    non-citation input is annotated as plain text via a dummy TX
  *    pseudo-citation (form_dummy_citation, :338-360), never dropped;
  *  - a line BEGINS a field when it starts with a dense token (no space,
  *    no `-`) naming a field, then a separator (f_begins_field grammar,
  *    :505-525); any other line CONTINUES the open field; empty lines
  *    inside a field are dropped (extract_rest_of_field, :491-502);
  *  - the document id comes from `PMID` / `UI` / `U1` (:320-322), and the
  *    TEXT fields are `TI T1 AB TX` (text_field/1, :1342-1345) — all
  *    other fields are carried as non-text metadata;
  *  - continuation lines are joined with a single space (the reference
  *    gloms whitespace fields with a space, :230-236).
  *
  * Spark shape: parsing is a pure per-body function run map-side
  * (embarrassingly parallel, like the page kernel) into one row per
  * (pmid, field); annotating those rows with url = "<pmid>.<field>"
  * (Graft.annotate) carries the utterance labels `<pmid>.<ti|ab>.<n>`
  * as url + the kernel's per-field sentNo.
  */
object MedlineReader {

  // medlineRIS_first_field_name/1 (skr_text_processing.pl:317-318):
  // ONLY PMID (MEDLINE) and TY (RIS) can head a citation; UI/U1 are
  // id-probe fields (medlineRIS_PMID_field_name, :320-322) used by
  // form_dummy_citation, never citation starts
  private val firstFieldNames = Set("PMID", "TY")
  private val titleFieldNames = Set("TI", "T1", "TT", "BTI", "CTI", "VTI")
  private val idFieldNames = Seq("PMID", "UI", "U1") // probe order
  private val textFieldNames = Set("TI", "T1", "AB", "TX")
  private val separators = Set('-', '|', ':', '.', ' ')

  /** The known MEDLINE element mnemonics + RIS tags
    * (medline_field/1 + ris_field/1, skr_text_processing.pl:560-740):
    * only a KNOWN name can begin a field, so a prose continuation line
    * starting with a short word + separator cannot shear a field apart.
    */
  private val knownFields: Set[String] = Set(
    // MEDLINE
    "UI", "TX", "QU", "QT", "AB", "AD", "AID", "AU", "CI", "CIN", "CN",
    "CON", "DA", "DCOM", "DEP", "DP", "EDAT", "EFR", "EIN", "FAU", "FIR",
    "FPS", "GN", "GR", "GS", "IP", "IR", "IRAD", "IS", "JID", "LA", "LR",
    "MH", "MHDA", "OAB", "OCI", "OID", "ORI", "OT", "OTO", "OWN", "PG",
    "PHST", "PL", "PMID", "PS", "PST", "PT", "PUBM", "RF", "RIN", "RN",
    "ROF", "RPF", "RPI", "SB", "SFM", "SI", "SO", "SPIN", "STAT", "TA",
    "TI", "TT", "UIN", "UOF", "VI",
    // RIS
    "TY", "A1", "A2", "A3", "A4", "AN", "AV", "BT", "C1", "C2", "C3",
    "C4", "C5", "C6", "C7", "C8", "CA", "CP", "CT", "CY", "DB", "DO",
    "ED", "EP", "ET", "ID", "J1", "J2", "JA", "JF", "JO", "KW", "L1",
    "L2", "L3", "L4", "LB", "LK", "M1", "M2", "M3", "N1", "N2", "NV",
    "OP", "PB", "PP", "PY", "RI", "RP", "SE", "SN", "SP", "ST", "T1",
    "T2", "T3", "U1", "U2", "U3", "U4", "U5", "UR", "VL", "VO", "Y1",
    "Y2", "ER")

  /** One parsed citation field (in citation order). */
  final case class Field(name: String, value: String)

  /** One citation: id + all fields. */
  final case class Citation(id: String, fields: Vector[Field])

  /** If the line begins a field, return (NAME, rest-of-line), mirroring
    * the f_begins_field grammar (skr_text_processing.pl:503-580)
    * exactly: a dense token (stops at space OR any separator char —
    * so "PMID:" splits into name + attached separator) naming a KNOWN
    * field, then a separator = blanks* sepChar blanks* where the space
    * itself may BE the separator char ("AU Smith"). A line starting
    * with whitespace can never begin a field (f_dense_token rejects a
    * leading space), which is what keeps the 6-space continuation
    * padding glommed onto the open field.
    */
  private[graft] def beginsField(line: String): Option[(String, String)] = {
    val dense = line.takeWhile(c => !separators.contains(c))
    // case-SENSITIVE: the reference's medline_field/ris_field atoms are
    // exact upper-case ('An' is not a field) — an upcasing match would
    // shear an abstract continuation line starting "An increase ..."
    // into a bogus AN field and silently drop the rest of the abstract
    if (dense.isEmpty || !knownFields.contains(dense)) None
    else {
      val after = line.drop(dense.length)
      val blanks = after.takeWhile(_ == ' ')
      val rest = after.drop(blanks.length)
      if (rest.nonEmpty && separators.contains(rest.head))
        Some((dense, rest.drop(1).dropWhile(_ == ' ')))
      else if (blanks.nonEmpty)
        // the first blank is itself the separator (f_separator's
        // space-char clause); remaining text is the field body
        Some((dense, rest))
      else None
    }
  }

  /** Citation-DETECTION field matcher (medlineRIS_field_string/2,
    * skr_text_processing.pl:300-310) — stricter than [[beginsField]]'s
    * parse grammar and forgiving in a different way: leading whitespace
    * is trimmed first (trim_whitespace_left), then the field name must be
    * followed by a separator char and, after skipping whitespace, by a
    * NON-SPACE separator in `-|:.` (the FirstChar2 re-check) — so
    * `PMID- 123` and `PMID : 123` are citation heads but a bare
    * space-separated `PMID 123` is not. Case-SENSITIVE on the raw dense
    * token: the reference's lower_chars call is commented out
    * (skr_text_processing.pl:302), so a lowercase `pmid- 1` head is NOT
    * a citation start and the block dummy-wraps as TX.
    */
  private[graft] def citationFieldName(line: String): Option[String] = {
    val t = line.dropWhile(_.isWhitespace)
    val dense = t.takeWhile(c => !separators.contains(c))
    val rest = t.drop(dense.length)
    if (dense.isEmpty || rest.isEmpty) None
    else {
      val afterWs = rest.dropWhile(_.isWhitespace)
      if (afterWs.nonEmpty && afterWs.head != ' ' && separators.contains(afterWs.head))
        Some(dense)
      else None
    }
  }

  /** Is this block a MEDLINE/RIS citation? (medlineRIS_citation/1,
    * skr_text_processing.pl:289-298): first line heads with PMID/TY, a
    * later line with a title field — both under the detection grammar.
    */
  def isCitation(lines: Seq[String]): Boolean = {
    val nonEmpty = lines.dropWhile(_.trim.isEmpty)
    nonEmpty.headOption.flatMap(citationFieldName).exists(firstFieldNames) &&
      nonEmpty.drop(1).exists(l => citationFieldName(l).exists(titleFieldNames))
  }

  /** Parse one citation block into ordered fields; continuation lines
    * append to the open field with a single space, blank lines drop.
    */
  def parseCitation(block: String): Option[Citation] = {
    val lines0 = block.split("\n", -1).toVector
    if (!isCitation(lines0)) return None
    // the HEAD line was accepted by the left-trimming detection grammar,
    // so parse it left-trimmed too — otherwise an indented PMID head
    // would lose its id field to the stricter per-line parse grammar
    val headIdx = lines0.indexWhere(_.trim.nonEmpty)
    val lines = lines0.updated(headIdx, lines0(headIdx).dropWhile(_.isWhitespace))
    val fields = Vector.newBuilder[Field]
    var open: Option[(String, StringBuilder)] = None
    def close(): Unit = open.foreach { case (n, sb) =>
      fields += Field(n, sb.result().trim)
    }
    lines.foreach { raw =>
      val line = raw.replace('\t', ' ')
      beginsField(line) match {
        case Some((name, rest)) =>
          close(); open = Some((name, new StringBuilder(rest)))
        case None =>
          val t = line.trim
          if (t.nonEmpty) open.foreach { case (_, sb) =>
            if (sb.nonEmpty) sb.append(' ')
            sb.append(t)
          }
      }
    }
    close()
    val fs = fields.result()
    val id = idFieldNames.iterator
      .flatMap(n => fs.find(_.name == n)).map(_.value.takeWhile(_ != ' '))
      .find(_.nonEmpty).getOrElse("00000000")
    Some(Citation(id, fs))
  }

  /** Input-segmentation modes (get_skr_text_3,
    * skr_text_processing.pl:142-178): how a raw input stream splits into
    * records BEFORE citation detection / dummy-citation wrapping.
    */
  sealed trait SegMode
  object SegMode {
    /** --sldi: every non-blank line is one record (the reference reads
      * exactly one line per interactive invocation; batch-equivalent =
      * one record per line).
      */
    case object Sldi extends SegMode
    /** --sldiID: every line must be `ID|Text`; anything else is a fatal
      * error, exactly like the reference (:164-166).
      */
    case object SldiId extends SegMode
    /** default / --blanklines N: records are separated by runs of at
      * least N blank lines (N = 1 when the option is absent,
      * get_num_blank_lines :175-178); shorter blank runs stay inside the
      * record.
      */
    final case class BlankLines(n: Int) extends SegMode
  }

  /** Split one raw input stream into (id, text) records per the mode.
    * Ids: sldiID takes the id from the line; the other modes number
    * records 0..n-1 (the reference leaves TextID empty and later dummies
    * it — an ordinal is the batch-useful equivalent).
    */
  def segment(body: String, mode: SegMode): Vector[(String, String)] = mode match {
    case SegMode.Sldi =>
      body.split("\n", -1).toVector.filter(_.trim.nonEmpty)
        .zipWithIndex.map { case (l, i) => (i.toString, l) }
    case SegMode.SldiId =>
      body.split("\n", -1).toVector.filter(_.trim.nonEmpty).map { l =>
        val bar = l.indexOf('|')
        if (bar < 0)
          throw new IllegalArgumentException(
            "The sldiID option requires input lines of the form ID|Text")
        (l.take(bar).trim, l.drop(bar + 1).trim)
      }
    case SegMode.BlankLines(n) =>
      val records = Vector.newBuilder[String]
      val cur = new StringBuilder
      var pendingBlanks = 0
      var inRecord = false
      def close(): Unit = if (inRecord && cur.nonEmpty) {
        records += cur.result(); cur.clear()
      }
      body.split("\n", -1).foreach { line =>
        if (line.trim.isEmpty) pendingBlanks += 1
        else {
          if (inRecord) {
            if (pendingBlanks >= math.max(1, n)) { close(); inRecord = false }
            // an interior blank run SHORTER than n stays inside the record
            else cur.append("\n" * (pendingBlanks + 1))
          }
          if (!inRecord) inRecord = true
          cur.append(line)
          pendingBlanks = 0
        }
      }
      close()
      records.result().zipWithIndex.map { case (t, i) => (i.toString, t) }
  }

  /** The segmentation mode an option set selects, or None when the
    * options request no segmentation (row = document, the batch default).
    */
  def segModeOf(opts: graft.link.LinkOptions): Option[SegMode] =
    if (opts.sldiId) Some(SegMode.SldiId)
    else if (opts.sldi) Some(SegMode.Sldi)
    else opts.blankLines.map(SegMode.BlankLines(_))

  /** THE segmentation dispatch, shared by the record functions
    * (DocKernel.annotate, DocTriples.fromText and the MMO/JSONf/XMLf
    * `records`; one copy — the id scheme must not drift between entry
    * points): no mode → the text IS one document under the row id;
    * sldiID record ids are AUTHORITATIVE (the reference labels output
    * with the provided ID verbatim — id collisions across rows are the
    * same user error as duplicate ids in the id column itself); ordinal
    * modes qualify with the row id. A null row id is the empty id, so
    * every entry gives it the url "" (".0", ".1" under --sldi), never
    * "null".
    */
  def records(id: String, text: String,
      opts: graft.link.LinkOptions): Vector[(String, String)] = {
    val rowId = if (id == null) "" else id
    segModeOf(opts) match {
      case None => Vector((rowId, text))
      case Some(m) => segment(text, m).map { case (rid, rt) =>
        (if (opts.sldiId) rid else s"$rowId.$rid", rt)
      }
    }
  }

  /** Non-citation input becomes a pseudo-citation with the whole text as
    * one TX field and a dummy id (form_dummy_citation,
    * skr_text_processing.pl:338-360: `UI  - 00000000` + the text glommed
    * as a padded TX field) — the reference never DROPS plain-text input,
    * it annotates it.
    */
  def parseBlocks(body: String): Vector[Citation] = {
    def dummyOf(block: String, ord: Int): Option[Citation] = {
      val text = block.split("\n", -1).iterator.map(_.trim)
        .filter(_.nonEmpty).mkString(" ")
      if (text.isEmpty) None
      // the reference disambiguates dummy ids per input FILE (its
      // form_dummy_citation stamps the file basename; the TextID =
      // '00000000' line is commented out) — an input row can hold
      // several non-citation blocks, so beyond the first they take an
      // ordinal suffix, or unrelated documents would merge under one
      // url key in every downstream groupBy
      else Some(Citation(if (ord == 0) "00000000" else s"00000000-$ord",
        Vector(Field("TX", text))))
    }
    var nDummies = 0
    splitCitations(body).flatMap { b =>
      parseCitation(b).orElse {
        val d = dummyOf(b, nDummies)
        if (d.isDefined) nDummies += 1
        d
      }
    }
  }

  /** Split a raw file body into citation blocks: a new block starts at
    * each PMID/UI/TY field line (RIS `ER` also closes a record).
    */
  def splitCitations(body: String): Vector[String] = {
    val blocks = Vector.newBuilder[String]
    var cur = new StringBuilder
    var seenAny = false
    body.split("\n", -1).foreach { line =>
      // a block starts ONLY at an UNINDENTED PMID/TY head: an indented
      // line is a continuation by the parse grammar (f_dense_token
      // rejects leading space), so letting the trimming DETECTION
      // matcher start blocks would shear a citation apart on an
      // abstract line that happens to begin "      PMID: ..."
      val starts = !line.headOption.exists(_.isWhitespace) &&
        citationFieldName(line).exists(firstFieldNames)
      if (starts && seenAny) { blocks += cur.result(); cur = new StringBuilder }
      if (starts && !seenAny && cur.nonEmpty) {
        // plain text preceding the first citation head becomes its own
        // (non-citation) block so parseBlocks can dummy-wrap it — the
        // reference never drops leading text
        blocks += cur.result(); cur = new StringBuilder
      }
      if (starts) seenAny = true
      // the ER terminator only closes a RECORD; the ER line itself stays
      // IN the block (as an ER field, or as plain text in a dummy
      // citation) so any trailing content on it survives — the
      // never-drop-text contract
      val isEr = seenAny &&
        (line.trim == "ER" || beginsField(line).exists(_._1 == "ER"))
      if (cur.nonEmpty) cur.append('\n')
      cur.append(line)
      if (isEr) {
        blocks += cur.result(); cur = new StringBuilder; seenAny = false
      }
    }
    if (cur.nonEmpty && cur.result().trim.nonEmpty) blocks += cur.result()
    blocks.result()
  }

  /** Distributed parse: raw citation bodies -> one row per TEXT field,
    * (pmid, field, text), field lowercased for the utterance label
    * `<pmid>.<field>.<n>`. Non-text fields are dropped here (the
    * reference carries them to output formatting only).
    */
  def textFields(raw: Dataset[String])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    raw.flatMap(body => parseBlocks(body).flatMap { c =>
      c.fields.filter(f => textFieldNames(f.name) && f.value.nonEmpty)
        .map(f => (c.id, f.name.toLowerCase, f.value))
    }).toDF("pmid", "field", "text")
  }
}
