package graft.perfbench

import graft.model._
import graft.operators.{Blocking, ConnectedComponents, DictTrain, PairwiseScoring}
import graft.plans.LinkagePipeline
import graft.queries.LinkageQueries
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Outcome of one closed-loop job. `digest` identifies its output rows;
  * `ratios` holds per-layer ratios that only a traced job measures. */
final case class JobOutcome(docs: Int, seconds: Double, verdict: Gates.Verdict, digest: String,
                            storedBytes: Long, inputBytes: Long,
                            ratios: Map[String, Double] = Map.empty)

/** Eager local checkpoints taken by tracing barriers, freed after a job. */
final class Barriers {
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  def df(d: DataFrame): (DataFrame, Long) = {
    val c = d.localCheckpoint(eager = true)
    held += c
    (c, c.count())
  }

  def release(): Unit = {
    held.foreach(_.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    })
    held.clear()
  }
}

/** A workload: seeded inputs written at set-up, then closed-loop jobs, each
  * submitted only after the previous one finished. */
sealed abstract class Workload(val name: String) {
  /** Docs each job processes (linked, or annotated). */
  def docsPerJob: Int

  /** Untimed jobs before timing, so that class loading, code generation
    * and the JIT are done; a fixed count keeps runs comparable. */
  def warmupJobs: Int

  /** Writes every input of this workload under `dir`, docs from `from`. */
  def prepare(dir: String, from: Long)(implicit spark: SparkSession): Unit

  /** Runs one job on the inputs under `in`, its output going under `out`,
    * and checks the output. A traced job records its calls as spans of
    * `tracer`. `reference` is the digest of an output of the same inputs
    * that passed the full gates: a plain job with a reference is checked by
    * comparing digests, since the program is deterministic; any other job
    * runs the full gates. */
  def job(in: String, out: String, tracer: Option[Tracer], reference: Option[String])
         (implicit spark: SparkSession): JobOutcome

  protected def check(tracer: Option[Tracer], reference: Option[String], digest: String)
                     (gates: => Gates.Verdict): Gates.Verdict = {
    val same = reference.filter(_ != digest)
      .map(r => s"output $digest differs from the gated output $r of the same input").toSeq
    if (reference.nonEmpty && tracer.isEmpty) Gates.Verdict(same, Double.NaN, Double.NaN)
    else gates ++ same
  }

  /** Runs `body` as the timed part of a job; returns its value and seconds. */
  protected def timed[A](tracer: Option[Tracer])(body: Probe => A): (A, Double) = tracer match {
    case None =>
      val t0 = System.nanoTime()
      val a = body(Probe.Plain)
      (a, (System.nanoTime() - t0) / 1e9)
    case Some(t) =>
      t.newTrace()
      val a = t(s"workload.$name")(body(t))(a => (a, 0L))
      (a, t.spans.last.wallMs / 1e3)
  }

  protected def rows(t: Tracer, span: String): Double =
    t.spans.reverseIterator.find(_.name == span).fold(0.0)(_.rowsOut.toDouble)

  protected def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

object Workload {
  /** The workloads, at sizes where one run fits the benchmark's time budget
    * on a 4-core box. */
  val All: Seq[Workload] = Seq(
    // driver-bound: planning, scheduling, collects and the local CC path;
    // traced jobs also run StageRunner's write and resume path
    Link("link_batches", batchDocs = 1000),
    // no blocking, scoring or CC: a planning-heavy training chain, then a
    // shuffle-free text scan with a broadcast dictionary probe
    TrainAnnotate(trainDocs = 500, inferDocs = 1000))

  def byName(name: String): Workload =
    All.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))
}

/** `LinkagePipeline.run` over the seed's batch, each job linking it and
  * writing the assignments; seeds give disjoint batches. A traced job
  * replays `run` with a span per call, then runs
  * `LinkagePipeline.runCheckpointed` on the batch twice, cold and resumed. */
final case class Link(override val name: String, batchDocs: Int) extends Workload(name) {
  private val k = LinkageQueries.numConcepts(batchDocs)

  def docsPerJob: Int = batchDocs

  /** Measured: job time still falls by about a fifth from the second to
    * the fourth execution in one JVM. */
  def warmupJobs: Int = 3

  def prepare(dir: String, from: Long)(implicit spark: SparkSession): Unit = {
    Inputs.writeDict(dir, k)
    Inputs.writeCorpus(s"$dir/batch", from, batchDocs, k)
  }

  def job(in: String, out: String, tracer: Option[Tracer], reference: Option[String])
         (implicit spark: SparkSession): JobOutcome = {
    val batch = s"$in/batch"
    val (docs, golds, dict) = (Inputs.docs(batch), Inputs.golds(batch), Inputs.dict(in))
    val sink = s"$out/assignments"
    val barriers = new Barriers
    val ((release, keys), seconds) = timed(tracer) { probe =>
      if (tracer.isEmpty) {
        // the caller-side mention cache LinkageQueries.sharedRun also takes
        val mentions = LinkagePipeline.mentionsFromSpans(docs, golds).localCheckpoint(false)
        val r = LinkagePipeline.run(mentions, dict)
        r.assignments.write.parquet(sink)
        (() => r.copy(persisted = r.persisted :+ mentions.toDF()).release(), None)
      } else {
        val (assignments, keys) = Link.replay(probe, barriers, docs, golds, dict)
        assignments.write.parquet(sink)
        (() => (), Some(keys))
      }
    }
    val assigned = spark.read.parquet(sink)
    val digest = Gates.digest(assigned)
    var verdict = check(tracer, reference, digest)(
      Gates.link(tracer.getOrElse(Probe.Plain), assigned, batch, docs, golds))
    val ratios = tracer.fold(Map.empty[String, Double]) { t =>
      val stages = s"$out/stages"
      val mentions = LinkagePipeline.mentionsFromSpans(docs, golds)
      def stageRun(span: String) = t(span)(LinkagePipeline.runCheckpointed(mentions, dict, stages))(
        r => (r, r._2.history.last.rows))
      val (_, cold) = stageRun("plans.StageRunner.cold")
      val (resumed, again) = stageRun("plans.StageRunner.resume")
      val checkpointed = Gates.digest(resumed.assignments)
      verdict = verdict ++ Gates.resume(cold, again) ++
        (if (checkpointed == digest) Nil
         else Seq(s"checkpointed assignments $checkpointed differ from run's $digest"))
      Map(
        "operators.Blocking.pair_yield" ->
          ratio(rows(t, "plans.argmaxEdges"), rows(t, "operators.PairwiseScoring.scoreInline")),
        "operators.Blocking.pairs_per_node" ->
          ratio(rows(t, "operators.Blocking.candidatePairsBipartite"), rows(t, "plans.surfaceNodes")),
        "operators.Blocking.hot_keys_capped" -> keys.fold(0.0)(k =>
          Blocking.keyFrequencies(k.select(col("id"), col("key")))
            .filter(col("freq") > Gates.HotKeyCap).count().toDouble),
        "plans.StageRunner.bytes_written" -> Inputs.bytes(stages).toDouble,
        "plans.StageRunner.resumed_stages" -> again.history.count(_.resumed).toDouble)
    }
    release()
    barriers.release()
    JobOutcome(batchDocs, seconds, verdict, digest, Inputs.bytes(sink), Inputs.bytes(batch, s"$in/dict"),
      ratios)
  }
}

object Link {
  /** `LinkagePipeline.run`'s composition, one span per call, each followed
    * by an eager local checkpoint. Returns the assignments and the node
    * block keys. */
  def replay(probe: Probe, b: Barriers, docs: Dataset[Doc], golds: Dataset[GoldAnnotation],
             dict: Dataset[DictEntry])(implicit spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val mentions = probe("plans.mentionsFromSpans")(
      LinkagePipeline.mentionsFromSpans(docs, golds).toDF())(b.df).as[Mention]
    val d = LinkagePipeline.unambiguousDict(dict)
    val nodes = probe("plans.surfaceNodes")(LinkagePipeline.surfaceNodesOf(mentions, d))(b.df)
    val keysN = probe("operators.Blocking.blockKeysWithNorm")(Blocking.blockKeysWithNorm(nodes))(b.df)
    val pairs = probe("operators.Blocking.candidatePairsBipartite")(
      Blocking.candidatePairsBipartite(keysN.filter(col("id").startsWith("s:")),
        keysN.filter(col("id").startsWith("t:")), Gates.HotKeyCap))(b.df)
    val scored = probe("operators.PairwiseScoring.scoreInline")(PairwiseScoring.scoreInline(pairs))(b.df)
    val termConcept = d.select(concat(lit("t:"), col("mention")).as("b"),
      concat(lit("c:"), col("concept_id")).as("concept_node"))
    val edges = probe("plans.argmaxEdges")(
      LinkagePipeline.argmaxEdges(scored).join(broadcast(termConcept), "b")
        .select(col("a"), col("concept_node").as("b")))(b.df)
    val components = probe("operators.ConnectedComponents")(
      ConnectedComponents(edges)
        .union(termConcept.select(col("b").as("id"), col("concept_node").as("component"))))(b.df)
    val assignments = probe("plans.mentionAssignments") {
      val nodeAssignments = nodes.select(col("id"))
        .join(components, Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      LinkagePipeline.mentionAssignments(mentions, components).union(nodeAssignments)
    }(b.df)
    (assignments, keysN)
  }
}

/** `DictTrain.trainDictionarySplit` on a labeled corpus and its side tables,
  * then `DictTrain.infer` over those docs plus a larger unlabeled range. */
final case class TrainAnnotate(trainDocs: Int, inferDocs: Int) extends Workload("train_annotate") {
  private val k = LinkageQueries.numConcepts(trainDocs)
  private val sideTables = Seq("concepts", "descriptions", "ext_concepts", "ext_mappings", "abbreviations")

  def docsPerJob: Int = trainDocs + inferDocs

  def warmupJobs: Int = 1

  def prepare(dir: String, from: Long)(implicit spark: SparkSession): Unit = {
    Inputs.writeTrainTables(dir, k)
    Inputs.writeCorpus(s"$dir/train", from, trainDocs, k)
    Inputs.writeDocs(s"$dir/infer", from + trainDocs, inferDocs, k)
  }

  def job(in: String, out: String, tracer: Option[Tracer], reference: Option[String])
         (implicit spark: SparkSession): JobOutcome = {
    import spark.implicits._
    val (train, infer) = (s"$in/train", s"$in/infer")
    val barriers = new Barriers
    val ((lc, uc), seconds) = timed(tracer) { probe =>
      val (lc, uc) = probe("operators.DictTrain.trainDictionarySplit")(
        DictTrain.trainDictionarySplit(Inputs.docs(train), Inputs.golds(train),
          Inputs.table(in, "concepts").as[Concept], Inputs.table(in, "descriptions").as[Description],
          Inputs.table(in, "ext_concepts"), Inputs.table(in, "ext_mappings"),
          Inputs.table(in, "abbreviations")))(d => (d, d._1.count() + d._2.count()))
      val ann = probe("operators.DictTrain.infer")(
        DictTrain.infer(Inputs.docs(train).union(Inputs.docs(infer)), lc, uc).toDF())(barriers.df)
      ann.write.parquet(s"$out/annotations")
      lc.write.parquet(s"$out/dict_lc")
      uc.write.parquet(s"$out/dict_uc")
      (lc, uc)
    }
    val ratios = tracer.fold(Map.empty[String, Double]) { t =>
      Map("operators.DictTrain.infer.annotations_per_doc" ->
        ratio(rows(t, "operators.DictTrain.infer"), docsPerJob))
    }
    val ann = spark.read.parquet(s"$out/annotations")
    val digest = Seq(ann, spark.read.parquet(s"$out/dict_lc"), spark.read.parquet(s"$out/dict_uc"))
      .map(Gates.digest).mkString("/")
    val verdict = check(tracer, reference, digest)(
      Gates.annotate(tracer.getOrElse(Probe.Plain), ann, train, Inputs.docs(train), Inputs.golds(train)))
    lc.unpersist()
    uc.unpersist()
    barriers.release()
    JobOutcome(docsPerJob, seconds, verdict, digest, Inputs.bytes(out),
      Inputs.bytes(train +: infer +: sideTables.map(t => s"$in/$t"): _*), ratios)
  }
}
