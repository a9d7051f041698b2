package graft.perfbench

import graft.metrics.Metrics
import graft.model._
import graft.operators.Blocking
import graft.plans.{LinkagePipeline, StageRunner}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's correctness gates. A job whose verdict lists a failure
  * counts as failed. */
object Gates {
  /** North-rule floor: pairwise F1 on labeled pairs at the same blocking key. */
  val F1Floor = 0.99
  /** Trained-dictionary macro char IoU floor (DictTrainGreedySpec). */
  val IouFloor = 0.85
  val HotKeyCap = 1000

  final case class Verdict(failures: Seq[String], f1: Double, iou: Double) {
    def ok: Boolean = failures.isEmpty
    def ++(more: Seq[String]): Verdict = copy(failures = failures ++ more)
  }

  def mentionId(doc: Column, start: Column, end: Column): Column =
    concat(lit("m:"), doc, lit(":"), start, lit(":"), end)

  private def labels(golds: Dataset[GoldAnnotation]): DataFrame =
    golds.toDF().select(mentionId(col("doc_id"), col("start"), col("end")).as("id"),
      col("concept_id").as("cid"))

  private val universes = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Gold mention pairs that share a blocking key: the F1 universe. It
    * depends only on the inputs, so it is computed once per input dir. */
  def universe(dir: String, docs: Dataset[Doc], golds: Dataset[GoldAnnotation])
              (implicit spark: SparkSession): DataFrame =
    universes.computeIfAbsent(dir, _ => {
      val nodes = LinkagePipeline.mentionsFromSpans(docs, golds).toDF()
        .select(mentionId(col("doc_id"), col("start"), col("end")).as("id"), col("norm"))
      Blocking.candidatePairs(Blocking.blockKeysWithNorm(nodes).select(col("id"), col("key")), HotKeyCap)
        .localCheckpoint(eager = true)
    })

  /** Pairwise F1 over the universe: a pair is gold-equal when both mentions
    * carry the same concept, predicted-equal when `pred` puts them in the
    * same component. */
  def pairwiseF1(probe: Probe, universe: DataFrame, labels: DataFrame, pred: DataFrame): Double = {
    val info = labels.join(pred.toDF("id", "comp"), "id")
    val judged = universe
      .join(info.toDF("a", "cid_a", "comp_a"), "a")
      .join(info.toDF("b", "cid_b", "comp_b"), "b")
    val predPairs = judged.filter(col("comp_a") === col("comp_b")).select(col("a"), col("b"))
    val goldPairs = judged.filter(col("cid_a") === col("cid_b")).select(col("a"), col("b"))
    probe("metrics.pairwiseF1")(Metrics.pairwiseF1(predPairs, goldPairs))(Probe.scalar)._3
  }

  def macroIou(probe: Probe, pred: DataFrame, golds: Dataset[GoldAnnotation]): Double =
    probe("metrics.macroCharIou")(
      Metrics.macroCharIou(pred.select(col("doc_id"), col("start"), col("end"), col("concept_id")),
        golds.toDF())._2)(Probe.scalar)

  /** Mention annotations implied by a link assignment table. A component
    * holds at most one concept node, which is its least member, so a
    * mention is linked to concept c exactly when its component is "c:<c>". */
  def linkedAnnotations(assigned: DataFrame): DataFrame =
    assigned.filter(col("id").startsWith("m:") && col("component").startsWith("c:"))
      .select(split(col("id"), ":").as("p"), substring(col("component"), 3, 32).cast("long").as("concept_id"))
      .select(col("p")(1).as("doc_id"), col("p")(2).cast("int").as("start"),
        col("p")(3).cast("int").as("end"), col("concept_id"))

  /** Gates of a link output `assigned(id, component)`: exactly one
    * assignment per gold mention and pairwise F1 at or above the floor. */
  def link(probe: Probe, assigned: DataFrame, dir: String, docs: Dataset[Doc],
           golds: Dataset[GoldAnnotation])(implicit spark: SparkSession): Verdict = {
    val lab = labels(golds)
    val mAssigned = assigned.filter(col("id").startsWith("m:"))
    val perId = mAssigned.groupBy("id").agg(count(lit(1)).as("n"))
    val c = lab.join(perId, Seq("id"), "full_outer").agg(
      count(when(col("cid").isNull, 1)), count(when(col("n").isNull, 1)),
      count(when(col("n") > 1, 1))).head()
    val f1 = pairwiseF1(probe, universe(dir, docs, golds), lab,
      mAssigned.select(col("id"), col("component")))
    val iou = macroIou(probe, linkedAnnotations(assigned), golds)
    val failures = Seq(
      (c.getLong(0) > 0) -> s"${c.getLong(0)} assigned mentions are not gold mentions",
      (c.getLong(1) > 0) -> s"${c.getLong(1)} gold mentions have no assignment",
      (c.getLong(2) > 0) -> s"${c.getLong(2)} gold mentions have several assignments",
      (f1 < F1Floor) -> f"pairwise F1 $f1%.4f below $F1Floor")
    Verdict(failures.collect { case (true, m) => m }, f1, iou)
  }

  /** Gates of an annotation output `ann(doc_id, start, end, concept_id)` on
    * the labeled docs `docs`: macro char IoU at or above the floor, which
    * DictTrainGreedySpec asserts on the docs the dictionary was trained on.
    * Its pairwise F1 takes each gold mention's exact-span annotation as its
    * cluster. */
  def annotate(probe: Probe, ann: DataFrame, dir: String, docs: Dataset[Doc],
               golds: Dataset[GoldAnnotation])(implicit spark: SparkSession): Verdict = {
    val lab = labels(golds)
    val onDocs = ann.join(docs.toDF().select(col("doc_id")), Seq("doc_id"), "left_semi")
    val annotated = onDocs.select(mentionId(col("doc_id"), col("start"), col("end")).as("id"),
      concat(lit("c:"), col("concept_id")).as("comp"))
    val pred = lab.select(col("id")).join(annotated, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")))
    val f1 = pairwiseF1(probe, universe(dir, docs, golds), lab, pred)
    val iou = macroIou(probe, onDocs, golds)
    Verdict(if (iou < IouFloor) Seq(f"macro char IoU $iou%.4f below $IouFloor") else Nil, f1, iou)
  }

  /** Row count and an order-independent hash of all columns: equal
    * digests mean equal row multisets, barring hash collisions. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")), lit(0))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** A resumed run must resume every stage of the cold run and read back
    * content with the cold run's checksums. */
  def resume(cold: StageRunner, resumed: StageRunner): Seq[String] = {
    val c = cold.history.map(s => s.name -> s.checksum).toMap
    val recomputed = resumed.history.filterNot(_.resumed).map(_.name)
    val differ = resumed.history.filter(s => !c.get(s.name).contains(s.checksum)).map(_.name)
    Seq(
      recomputed.nonEmpty -> s"stages recomputed on resume: ${recomputed.mkString(",")}",
      differ.nonEmpty -> s"stage checksums differ from the cold run: ${differ.mkString(",")}",
      (resumed.history.size != cold.history.size) ->
        s"resume saw ${resumed.history.size} stages, cold run ${cold.history.size}")
      .collect { case (true, m) => m }
  }
}

/** A call into one layer. The tracing probe records it as a span and
  * materializes its output with `barrier`, which returns the materialized
  * value and its row count; the plain probe returns the call's value. */
trait Probe {
  def apply[A](name: String)(call: => A)(barrier: A => (A, Long)): A
}

object Probe {
  object Plain extends Probe {
    def apply[A](name: String)(call: => A)(barrier: A => (A, Long)): A = call
  }

  /** Barrier of a call that returns a computed value: one result row. */
  def scalar[A](a: A): (A, Long) = (a, 1L)
}
