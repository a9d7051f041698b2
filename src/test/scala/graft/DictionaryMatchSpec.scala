package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.Synth
import graft.functions.TextFns
import graft.model._
import graft.operators.{DictionaryMatch, OverlapResolve, Sectioning}

class DictionaryMatchSpec extends AnyFunSuite with SparkTestBase {

  val nConcepts = 150
  val (docs, golds) = Synth.corpus(40, nConcepts)
  val dict = Synth.dictionary(nConcepts)

  test("sectioning covers the text with non-overlapping sections") {
    for (d <- docs.take(10)) {
      val secs = Sectioning.sections(d.doc_id, d.text)
      assert(secs.head.start == 0)
      assert(secs.last.end == d.text.length)
      for (Seq(a, b) <- secs.sliding(2) if secs.length > 1)
        assert(a.end == b.start)
    }
  }

  test("sectionAt finds the containing section") {
    val d = docs.head
    val secs = Sectioning.sections(d.doc_id, d.text)
    for (s <- secs; if s.end > s.start)
      assert(Sectioning.sectionAt(secs, s.start) == s.header)
  }

  test("candidate spans satisfy the matcher guards") {
    val d = docs.head
    val cands = DictionaryMatch.candidates(d.doc_id, d.text, 4, 100)
    assert(cands.nonEmpty)
    for (c <- cands) {
      assert(c.start >= 100)
      assert(!Sectioning.isVetoSection(c.section))
      // word boundaries: chars before/after are non-alphanumeric
      if (c.start > 0) assert(!Character.isLetterOrDigit(d.text.charAt(c.start - 1)))
      if (c.end < d.text.length) {
        val after = d.text.charAt(c.end)
        // destemmed keys end mid-token only via the synthetic 's' strip,
        // which never changes the span; span end is a token end
        assert(!Character.isLetterOrDigit(after))
      }
    }
  }

  test("fused matchDoc equals string-candidates joined with the dict") {
    type Hit = (Int, Int, Long, String, String)
    // reference: string candidates equi-joined with the dict on the key
    def joined(id: String, text: String, cs: Boolean, entries: Seq[DictEntry]): Seq[Hit] = {
      val byKey = entries.groupBy(_.mention)
      DictionaryMatch.candidates(id, text, 4, 100, caseSensitive = cs).flatMap { c =>
        byKey.getOrElse(c.key, Seq.empty).collect {
          case e if e.section == "any" || e.section == c.section =>
            (c.start, c.end, e.concept_id, e.section, e.mention)
        }
      }
    }
    // an uppercase plural ("ABGS") destems to the uc entry "ABG"
    val uc = Synth.ucDictionary(nConcepts) :+ DictEntry("any", "ABG", 999999L)
    val pad = "word " * 25
    val edge = Seq(
      "e-empty" -> "",
      "e-punct" -> ".;, -- !? " * 20,
      "e-early" -> "ABGS and ABG were drawn; chest pains",
      "e-plural" -> (pad + "ABGS were drawn, then ABG again; abgs and Abgs too"))
    val inputs = docs.take(15).map(d => d.doc_id -> d.text) ++ edge
    val dicts = Seq("lc" -> dict, "uc" -> uc, "empty" -> Seq.empty[DictEntry])
    val sides = dicts.map { case (name, es) => name -> DictionaryMatch.dictStructures(es.toArray) }.toMap
    // every dict on either side, incl. an empty side: the lc side equals the
    // case-folded reference, the uc side the case-sensitive one
    for ((id, text) <- inputs; (lcName, lcEs) <- dicts; (ucName, ucEs) <- dicts) {
      val fused = DictionaryMatch
        .matchDoc(id, text, 4, 100, sides(lcName), sides(ucName))
        .map(a => (a.start, a.end, a.concept_id, a.section, a.dict_entry))
      val expected = joined(id, text, cs = false, lcEs) ++ joined(id, text, cs = true, ucEs)
      assert(fused.sorted == expected.sorted, s"divergence in $id lc=$lcName uc=$ucName")
    }
    val plural = DictionaryMatch.matchDoc("e-plural", edge.last._2, 4, 100,
      DictionaryMatch.NoDict, sides("uc"))
    assert(plural.map(a => (a.start, a.end, a.dict_entry)) ==
      Seq((125, 129, "ABG"), (147, 150, "ABG")))
  }

  test("gazetteer match finds planted exact/permutation/plural mentions") {
    import spark.implicits._
    val matched = DictionaryMatch.annotate(
      spark.createDataset(docs), spark.createDataset(dict), maxTokens = 4)
    val resolved = graft.operators.OverlapResolve.apply(matched).collect()
    val gold = golds.filter(_.start >= 100) // matcher guard drops early spans
    val goldFindable = gold.filter { g =>
      val doc = docs.find(_.doc_id == g.doc_id).get
      val surf = TextFns.normalize(doc.text.substring(g.start, g.end))
      val destem = if (surf.endsWith("s")) surf.dropRight(1) else surf
      val secs = Sectioning.sections(doc.doc_id, doc.text)
      val vetoed = Sectioning.isVetoSection(Sectioning.sectionAt(secs, g.start))
      !vetoed && dict.exists(e => e.mention == surf || e.mention == destem)
    }
    val predSet = resolved.map(a => (a.doc_id, a.start, a.end, a.concept_id)).toSet
    val hit = goldFindable.count(g => predSet.contains((g.doc_id, g.start, g.end, g.concept_id)))
    // typo'd variants are intentionally absent from the dictionary; of the
    // findable ones, nearly all must round-trip (a few lose overlap fights)
    assert(goldFindable.nonEmpty)
    assert(hit.toDouble / goldFindable.size > 0.95,
      s"hit=$hit of ${goldFindable.size}")
    // precision: every resolved span matching a gold span links the right concept
    val goldBysSpan = gold.map(g => (g.doc_id, g.start, g.end) -> g.concept_id).toMap
    val wrong = resolved.filter(a =>
      goldBysSpan.get((a.doc_id, a.start, a.end)).exists(_ != a.concept_id))
    assert(wrong.isEmpty, s"wrong links: ${wrong.take(3).mkString}")
  }

  test("fused annotateTextResolved equals shuffle-based annotate + resolve") {
    import spark.implicits._
    val textDs = spark.createDataset(docs.map(d => (d.doc_id, d.text)))
    val fused = DictionaryMatch.annotateTextResolved(
        textDs, spark.createDataset(dict), maxTokens = 4)
      .collect().map(a => (a.doc_id, a.start, a.end, a.concept_id, a.section, a.dict_entry))
    val twoStep = OverlapResolve.apply(DictionaryMatch.annotateText(
        textDs, spark.createDataset(dict), maxTokens = 4))
      .collect().map(a => (a.doc_id, a.start, a.end, a.concept_id, a.section, a.dict_entry))
    assert(fused.sorted.toSeq == twoStep.sorted.toSeq)
    assert(fused.nonEmpty)
  }

  test("section-restricted dictionary entries only fire in their section") {
    import spark.implicits._
    val matched = DictionaryMatch.annotate(
      spark.createDataset(docs), spark.createDataset(dict), maxTokens = 4).collect()
    val restricted = dict.filter(_.section != "any").map(_.concept_id).toSet
    for (a <- matched if restricted.contains(a.concept_id) && a.section != "any")
      assert(a.section == "past medical history")
  }
}
