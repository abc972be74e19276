package graft

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.api.Graft
import graft.output.{JsonMmoOutput, MmoOutput}
import graft.pipeline.DocKernel
import graft.umls.MiniUmls

/** Cross-path agreement: under every option profile the MMO writer's
  * mapping candidates equal the mention rows, and every --JSONf
  * candidate carries the negation flag of its mention. The MMO and
  * JSONf sides are read from the printed documents, so a writer that
  * re-derives the phrase chain on its own (and drifts) fails here.
  */
class AgreementSpec extends AnyFunSuite {

  private val umls = MiniUmls.tables

  private val docs = Vector(
    // conjunction: --conj merges [lung, liver, cancer]
    "conj" -> "The patient had lung and liver cancer.",
    // AA definition: --aa_span_merge glues it, --aadef_exact drops it
    "aa" -> "Coronary artery (CA) disease. CA was severe.",
    // negated signs or symptoms (sosy) next to a negated disease
    "neg" -> "The patient denies fever and cough. No sign of myocardial infarction.",
    // a verb-tagged "cough" leaves its phrase under --tagged
    "tags" -> "Aspirin treats heart attack. They cough at night.")

  private val profiles = Seq(
    "default" -> Seq.empty[String],
    "--tagged" -> Seq("--tagged"),
    "--conj" -> Seq("--conj"),
    "--aa_span_merge" -> Seq("--aa_span_merge"),
    "--aadef_exact" -> Seq("--aadef_exact"),
    "--composite_exact" -> Seq("--composite_exact"),
    "--negex_st_del sosy" -> Seq("--negex_st_del", "sosy"))

  /** (sentNo, start, len, cui, score) */
  private type Key = (Int, Int, Int, String, Int)

  /** The extent of a PosInfo list, the mention row's (start, len). */
  private def extent(pis: Seq[(Int, Int)]): (Int, Int) = {
    val s = pis.map(_._1).min
    (s, pis.map(p => p._1 + p._2).max - s)
  }

  private val Utterance = """^utterance\('[^']*\.tx\.(\d+)',.*""".r
  private val Ev = """ev\((-?\d+),'(C\d+)',.*?,\[((?:\d+/\d+,?)+)\],0,0\)""".r

  /** The MMO mapping candidates, flattened and distinct by
    * (cui, start, end) within each utterance.
    */
  private def mmoKeys(url: String, text: String,
      opts: graft.link.LinkOptions): Vector[Key] = {
    var sentNo = -1
    MmoOutput.document(url, text, umls, opts = opts).flatMap {
      case Utterance(n) => sentNo = n.toInt - 1; Vector.empty
      case l if l.startsWith("mappings(") =>
        Ev.findAllMatchIn(l).map { m =>
          val pis = m.group(3).split(',').toVector.map { p =>
            val Array(s, n) = p.split('/'); (s.toInt, n.toInt)
          }
          val (s, n) = extent(pis)
          (sentNo, s, n, m.group(2), -m.group(1).toInt)
        }.toVector
      case _ => Vector.empty
    }.distinctBy(k => (k._1, k._4, k._2, k._3))
  }

  private def mentionKeys(url: String, text: String,
      opts: graft.link.LinkOptions): Vector[Key] =
    DocKernel.mentions(url, text, umls, opts)
      .map(m => (m.sentNo, m.start, m.len, m.cui, m.score))

  /** (sentNo, start, len, cui) -> Negated of every --JSONf candidate. */
  private def jsonNegated(url: String, text: String,
      opts: graft.link.LinkOptions): Vector[((Int, Int, Int, String), Boolean)] = {
    import scala.jdk.CollectionConverters._
    def arr(n: JsonNode, f: String): Vector[JsonNode] = n.get(f).elements.asScala.toVector
    val doc = new ObjectMapper().readTree(JsonMmoOutput.document(url, text, umls, opts))
    for {
      u <- arr(doc.get("Document"), "Utterances")
      p <- arr(u, "Phrases")
      m <- arr(p, "Mappings")
      c <- arr(m, "MappingCandidates")
    } yield {
      val pis = arr(c, "ConceptPIs").map(pi =>
        (pi.get("StartPos").asText.toInt, pi.get("Length").asText.toInt))
      val (s, n) = extent(pis)
      ((u.get("UttNum").asText.toInt - 1, s, n, c.get("CandidateCUI").asText),
        c.get("Negated").asText == "1")
    }
  }

  for ((name, flags) <- profiles) {
    test(s"MMO, JSONf and mentions agree under $name") {
      val opts = Graft.parseFlags(flags)
      docs.foreach { case (url, text) =>
        val mentions = mentionKeys(url, text, opts)
        val mmo = mmoKeys(url, text, opts)
        assert(mmo.sorted == mentions.sorted,
          s"$url: MMO candidates ${mmo.sorted} vs mentions ${mentions.sorted}")
        val negOf = DocKernel.mentions(url, text, umls, opts)
          .map(m => (m.sentNo, m.start, m.len, m.cui) -> m.negated).toMap
        jsonNegated(url, text, opts).foreach { case (k, neg) =>
          assert(negOf.get(k).contains(neg),
            s"$url: JSONf candidate $k Negated=$neg, mention ${negOf.get(k)}")
        }
      }
    }
  }

  test("the agreement documents exercise every profile they are meant for") {
    def cuis(i: Int, flags: String*) =
      mentionKeys(docs(i)._1, docs(i)._2, Graft.parseFlags(flags)).map(_._4)
    assert(cuis(0, "--conj").contains("C0024121"))
    assert(cuis(1, "--aa_span_merge").contains("C0010054"))
    assert(cuis(3).contains("C0010200") && !cuis(3, "--tagged").contains("C0010200"))
    def sosyNegated(flags: String*) = DocKernel.mentions("neg", docs(2)._2, umls,
      Graft.parseFlags(flags)).exists(m => m.negated && m.semTypes.contains("sosy"))
    assert(sosyNegated() && !sosyNegated("--negex_st_del", "sosy"))
    assert(JsonMmoOutput.document("aa", docs(1)._2, umls).contains("\"AAText\":\"CA\""))
  }
}
