package graft.operators

import graft.model._
import graft.functions.{LongHashSet, LongKeyMap, TextFns}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Gazetteer / dictionary matching — the blocking join J7, Spark-first.
  *
  * The reference compiles a whitespace-tolerant regex per dictionary term and
  * scans every note with every pattern (`1st Place/src/mimic_common.py:53-71,
  * 127-161`) — O(|dict| × |corpus|) single-threaded work. We invert it:
  * each doc emits its token n-grams (n ≤ max dictionary term length) keyed by
  * the same canonical normalization applied to dictionary terms, and the
  * match is a broadcast hash equi-join on that key. Catalyst keeps the whole
  * path shuffle-free: doc → flatMap candidates (narrow) → BroadcastHashJoin.
  *
  * ALLOCATION SHAPE (the measured scaling limiter at 32 threads): candidate
  * keys are 64-bit ROLLING HASHES computed incrementally over the token
  * chars — no per-n-gram string, no per-token substring, no boxing in the
  * first-token filter (LongHashSet). The only allocation per candidate is
  * its output row. Hash equality stands in for string equality: a false
  * match needs a 64-bit poly-hash collision between a doc n-gram and a
  * dictionary term (~|cands|·|dict|/2^64 — at 10^12 docs × 10^6 terms still
  * ≪ 1 wrong span per corpus, and the span would merely annotate one bogus
  * concept, not corrupt the pipeline).
  *
  * Matching-fidelity notes vs the reference matcher:
  *  - `\s+`/`[- ]`/`[/ ]` tolerance  → both sides normalized (TextFns.normalize)
  *  - trailing `s*` on every pattern → candidate n-grams also emit a
  *    last-token-destemmed key, so dict "cough" matches text "coughs"
  *  - word-boundary guards            → tokens are maximal alnum runs
  *  - pos ≥ 100 guard                 → `minStart` (mimic_common.py:139)
  *  - header-line veto                → headerLineRanges (mimic_common.py:143)
  *  - medication/service/DOB veto     → Sectioning.isVetoSection (l. 148)
  *  - section key match               → join predicate section='any' or equal
  *  - uc-dict second pass             → `caseSensitive = true` keeps token
  *    case (`1st Place/src/mimic_predict.py:31-49`)
  */
object DictionaryMatch {

  /** One candidate doc n-gram (guards already applied in-row). */
  case class Cand(doc_id: String, start: Int, end: Int, key: String, section: String)

  /** A token is destemmed (and admitted as a 1-token plural) when it is
    * longer than 3 chars and ends in `s` of either case — the same rule in
    * `matchDoc` and in the SQL replay. */
  private def plural(tok: String): Boolean =
    tok.length > 3 && Character.toLowerCase(tok.charAt(tok.length - 1)) == 's'

  /** REFERENCE-ORACLE string-key candidate generation: readable
    * transcription of the guards, used by the differential tests that pin
    * `matchDoc` to it. Allocates a string per n-gram. */
  def candidates(docId: String, text: String, maxTokens: Int, minStart: Int,
                 firstTokens: java.util.Set[String] = null,
                 caseSensitive: Boolean = false): Seq[Cand] = {
    val toks = TextFns.tokensWithOffsets(text, preserveCase = caseSensitive)
    if (toks.isEmpty) return Seq.empty
    val secs = Sectioning.sections(docId, text)
    val headerLines = Sectioning.headerLineRanges(text)
    var hlIdx = 0
    val out = Seq.newBuilder[Cand]
    var i = 0
    while (i < toks.length) {
      val start = toks(i)._2
      val tok0 = toks(i)._1
      val prefixOk = firstTokens == null || firstTokens.contains(tok0) ||
        (plural(tok0) && firstTokens.contains(tok0.substring(0, tok0.length - 1)))
      if (start >= minStart && prefixOk) {
        // advance header-line cursor (token starts are increasing)
        while (hlIdx < headerLines.length && headerLines(hlIdx)._2 <= start) hlIdx += 1
        val inHeader = hlIdx < headerLines.length &&
          headerLines(hlIdx)._1 <= start && start < headerLines(hlIdx)._2
        if (!inHeader) {
          val section = Sectioning.sectionAt(secs, start)
          if (!Sectioning.isVetoSection(section)) {
            val sb = new StringBuilder
            var j = i
            while (j < toks.length && j - i < maxTokens) {
              if (j > i) sb.append(' ')
              sb.append(toks(j)._1)
              val end = toks(j)._3
              val key = sb.toString
              out += Cand(docId, start, end, key, section)
              if (plural(toks(j)._1))
                out += Cand(docId, start, end,
                  key.substring(0, key.length - 1), section)
              j += 1
            }
          }
        }
      }
      i += 1
    }
    out.result()
  }

  /** One dictionary payload row in the fused matcher's broadcast map. */
  final case class DictHit(section: String, mention: String, conceptId: Long)

  /** One dictionary's probe side: n-gram key hash (`TextFns.fingerprint64`
    * of the mention) → hits, and the hashes of the mentions' first tokens. */
  final case class DictSide(hits: LongKeyMap[Array[DictHit]], firstTokens: LongHashSet)

  /** The gazetteer scan kernel: ONE token scan of the doc probing a
    * lowercase side (case-folded rolling hash) and a case-sensitive side
    * (case-preserved rolling hash) — the reference's two dictionary passes
    * (`mimic_predict.py:31-49`) over one tokenization, sectioning and
    * header scan. A single-dictionary pass puts its dictionary on one side
    * and `NoDict` on the other. A side hashes only the n-grams of start
    * tokens its first-token filter admits, so an empty side costs nothing.
    *
    * Keys are the would-be `candidates` key strings' fingerprints, computed
    * incrementally over the token chars; the broadcast-hash-join PROBE is
    * inlined, so only MATCHING n-grams allocate anything (an Annotation). A
    * non-matching candidate costs a rolling hash + one open-addressing
    * probe: zero allocation. This is what keeps the stage scaling with
    * cores instead of saturating the allocator (the measured 32-thread
    * ceiling): at ~2k candidates/doc and ~15 hits/doc it is ~100× less
    * garbage than materializing candidate rows into a Catalyst join. */
  def matchDoc(docId: String, text: String, maxTokens: Int, minStart: Int,
               lc: DictSide, uc: DictSide): Seq[Annotation] = {
    val n = text.length
    var nTok = 0
    var p = 0
    while (p < n) {
      if (Character.isLetterOrDigit(text.charAt(p))) {
        nTok += 1
        while (p < n && Character.isLetterOrDigit(text.charAt(p))) p += 1
      } else p += 1
    }
    if (nTok == 0) return Seq.empty
    val tStart = new Array[Int](nTok)
    val tEnd = new Array[Int](nTok)
    var t = 0
    p = 0
    while (p < n) {
      if (Character.isLetterOrDigit(text.charAt(p))) {
        tStart(t) = p
        while (p < n && Character.isLetterOrDigit(text.charAt(p))) p += 1
        tEnd(t) = p
        t += 1
      } else p += 1
    }
    val Seed = 1125899906842597L // TextFns.fingerprint64's seed
    // case-folded / case-preserved hash of one whole token, optionally
    // dropping the last char (the 1-token plural destem)
    @inline def tokenHash(ti: Int, dropLast: Int, fold: Boolean): Long = {
      var h = Seed
      var k = tStart(ti)
      val e = tEnd(ti) - dropLast
      while (k < e) {
        val c = text.charAt(k)
        h = 31 * h + (if (fold) Character.toLowerCase(c) else c)
        k += 1
      }
      h
    }
    @inline def admits(side: DictSide, ti: Int, destem: Boolean, fold: Boolean): Boolean = {
      val ft = side.firstTokens
      ft.size > 0 && (ft.contains(tokenHash(ti, 0, fold)) ||
        (destem && ft.contains(tokenHash(ti, 1, fold))))
    }
    @inline def endsInS(e: Int, len: Int): Boolean =
      len > 3 && Character.toLowerCase(text.charAt(e - 1)) == 's'
    val secs = Sectioning.sections(docId, text)
    val headerLines = Sectioning.headerLineRanges(text)
    var hlIdx = 0
    val out = Seq.newBuilder[Annotation]
    @inline def probe(side: DictSide, h: Long, start: Int, end: Int, section: String): Unit = {
      val hits = side.hits.get(h)
      if (hits != null) {
        var x = 0
        while (x < hits.length) {
          val e = hits(x)
          if (e.section == "any" || e.section == section)
            out += Annotation(docId, start, end, e.conceptId, e.section, e.mention)
          x += 1
        }
      }
    }
    var i = 0
    while (i < nTok) {
      val start = tStart(i)
      if (start >= minStart) {
        val plural0 = endsInS(tEnd(i), tEnd(i) - start)
        val lcOk = admits(lc, i, plural0, fold = true)
        val ucOk = admits(uc, i, plural0, fold = false)
        if (lcOk || ucOk) {
          while (hlIdx < headerLines.length && headerLines(hlIdx)._2 <= start) hlIdx += 1
          val inHeader = hlIdx < headerLines.length &&
            headerLines(hlIdx)._1 <= start && start < headerLines(hlIdx)._2
          if (!inHeader) {
            val section = Sectioning.sectionAt(secs, start)
            if (!Sectioning.isVetoSection(section)) {
              var hLc = Seed
              var hUc = Seed
              var j = i
              while (j < nTok && j - i < maxTokens) {
                if (j > i) { hLc = 31 * hLc + ' '; hUc = 31 * hUc + ' ' }
                var hLcPrev = hLc
                var hUcPrev = hUc
                var k = tStart(j)
                val e = tEnd(j)
                while (k < e) {
                  val c = text.charAt(k)
                  if (lcOk) { hLcPrev = hLc; hLc = 31 * hLc + Character.toLowerCase(c) }
                  if (ucOk) { hUcPrev = hUc; hUc = 31 * hUc + c }
                  k += 1
                }
                if (lcOk) probe(lc, hLc, start, e, section)
                if (ucOk) probe(uc, hUc, start, e, section)
                if (endsInS(e, e - tStart(j))) {
                  if (lcOk) probe(lc, hLcPrev, start, e, section)
                  if (ucOk) probe(uc, hUcPrev, start, e, section)
                }
                j += 1
              }
            }
          }
        }
      }
      i += 1
    }
    out.result()
  }

  /** Build the broadcastable probe side from a dictionary (which is
    * broadcast-scale by assumption). Hit arrays are sorted
    * (section, mention, concept) so match emission order is pinned. */
  def dictStructures(entries: Array[DictEntry]): DictSide = {
    val byHash = entries.groupBy(e => TextFns.fingerprint64(e.mention))
    val m = new LongKeyMap[Array[DictHit]](byHash.size)
    byHash.foreach { case (h, es) =>
      m.put(h, es.sortBy(e => (e.section, e.mention, e.concept_id))
        .map(e => DictHit(e.section, e.mention, e.concept_id)))
    }
    val ft = new LongHashSet(entries.length)
    entries.foreach { e =>
      val cut = e.mention.indexOf(' ')
      ft.add(TextFns.fingerprint64(if (cut < 0) e.mention else e.mention.substring(0, cut)))
    }
    DictSide(m, ft)
  }

  /** The side of a single-dictionary pass that has no dictionary. */
  val NoDict: DictSide = dictStructures(Array.empty)

  /** Explicit driver-collect cap: the gazetteer design ASSUMES a
    * broadcast-scale dictionary (the reference's is ~1M entries). Beyond
    * this, fail loudly instead of OOMing the driver — the beyond-broadcast
    * path is the blocking+scoring pipeline, not the gazetteer. */
  val MaxBroadcastDictEntries: Long = 20000000L

  private[operators] def collectDict(dict: Dataset[DictEntry]): Array[DictEntry] =
    Bounded.collectOrFail(dict, MaxBroadcastDictEntries)(
      s"dictionary has > $MaxBroadcastDictEntries entries (broadcast cap) " +
        "— route beyond-broadcast-scale matching through LinkagePipeline")

  /** `matchDoc` over the lc and uc dictionaries, collected to the driver
    * and broadcast together once; an absent side is `NoDict`. */
  private[operators] def matcher(lc: Option[Dataset[DictEntry]], uc: Option[Dataset[DictEntry]],
                                 maxTokens: Int, minStart: Int)
                                (implicit spark: SparkSession): (String, String) => Seq[Annotation] = {
    def side(d: Option[Dataset[DictEntry]]) = d.fold(NoDict)(d => dictStructures(collectDict(d)))
    val sides = spark.sparkContext.broadcast((side(lc), side(uc)))
    (docId, text) => {
      val (lcSide, ucSide) = sides.value
      matchDoc(docId, text, maxTokens, minStart, lcSide, ucSide)
    }
  }

  /** A single-dictionary `matcher`: `caseSensitive=true` runs the uc-dict
    * pass — dict mentions are matched against case-PRESERVED doc n-grams
    * (dict entries must then carry the exact-cased mention, e.g. "THE"). */
  private def matcher(dict: Dataset[DictEntry], caseSensitive: Boolean,
                      maxTokens: Int, minStart: Int)
                     (implicit spark: SparkSession): (String, String) => Seq[Annotation] =
    if (caseSensitive) matcher(None, Some(dict), maxTokens, minStart)
    else matcher(Some(dict), None, maxTokens, minStart)

  /** Distributed gazetteer annotation: docs → fused broadcast-hash probe
    * (`matchDoc`). Result spans still overlap — feed through
    * OverlapResolve. */
  def annotate(docs: Dataset[Doc], dict: Dataset[DictEntry],
               maxTokens: Int = 6, minStart: Int = 100,
               caseSensitive: Boolean = false)
              (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val m = matcher(dict, caseSensitive, maxTokens, minStart)
    docs.flatMap(d => m(d.doc_id, d.text))
  }

  /** Same fused annotation over a flat (doc_id, text) table — the shape an
    * Iceberg/parquet doc table scan feeds directly (2 string columns per
    * row, no span-struct deserialization). */
  def annotateText(docs: Dataset[(String, String)], dict: Dataset[DictEntry],
                   maxTokens: Int = 6, minStart: Int = 100,
                   caseSensitive: Boolean = false)
                  (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val m = matcher(dict, caseSensitive, maxTokens, minStart)
    docs.flatMap { case (id, text) => m(id, text) }
  }

  /** Fused single-dict annotate + per-doc overlap resolution in ONE narrow
    * flatMap — zero shuffles. `OverlapResolve.apply` after `annotateText`
    * is semantically identical but pays a full shuffle of every annotation
    * row (serialize → hash-exchange → collect_list → rebuild) just to
    * regroup rows that were ALL produced by the same matchDoc call; at 4M
    * docs that shuffle (and its allocation) was the dominant scaling cost
    * of the storage-read annotate job. Equivalence pinned by the
    * DictionaryMatchSpec differential. */
  def annotateTextResolved(docs: Dataset[(String, String)], dict: Dataset[DictEntry],
                           maxTokens: Int = 6, minStart: Int = 100,
                           caseSensitive: Boolean = false)
                          (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val m = matcher(dict, caseSensitive, maxTokens, minStart)
    docs.flatMap { case (id, text) => OverlapResolve.removeOverlaps(m(id, text)) }
  }

  /** Fused two-dict inference: lc + uc matching AND per-doc overlap
    * resolution in a single narrow flatMap — the whole 1st-place inference
    * (`mimic_predict.py:31-49` + join_predictions) becomes ONE doc pass
    * with ZERO shuffles: all of a doc's annotations are produced by the
    * same `matchDoc` call, so `OverlapResolve.removeOverlaps` (a pure
    * per-doc function) runs in-row instead of behind a groupBy-on-doc_id
    * shuffle. Output is identical to
    * joinPredictions(annotate(lc), annotate(uc, caseSensitive=true)) —
    * pinned by the differential in UcDictSpec. */
  def annotateDualResolved(docs: Dataset[Doc],
                           lcDict: Dataset[DictEntry], ucDict: Dataset[DictEntry],
                           maxTokens: Int = 6, minStart: Int = 100)
                          (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val m = matcher(Some(lcDict), Some(ucDict), maxTokens, minStart)
    docs.flatMap(d => OverlapResolve.removeOverlaps(m(d.doc_id, d.text)))
  }

  /** Max token length of any dictionary term — drives candidate n-gram depth. */
  def maxDictTokens(dict: Seq[DictEntry]): Int =
    if (dict.isEmpty) 1 else dict.iterator.map(_.mention.count(_ == ' ') + 1).max

  /** The reference's join_predictions (`1st Place/src/mimic_predict.py:43-49`):
    * concatenate the lowercase-dict and uppercase-dict prediction passes,
    * then resolve overlaps per doc. Children are re-aliased through toDF —
    * unioning two plans rooted at the same doc leaf otherwise trips
    * Union.rewriteConstraints on shared attribute ids (Spark 4.1.2). */
  def joinPredictions(preds: Dataset[Annotation]*)
                     (implicit spark: SparkSession): Dataset[Annotation] = {
    import spark.implicits._
    val u = preds.map(_.toDF()
        .toDF("doc_id", "start", "end", "concept_id", "section", "dict_entry"))
      .reduce(_ union _).as[Annotation]
    OverlapResolve.apply(u)
  }
}
