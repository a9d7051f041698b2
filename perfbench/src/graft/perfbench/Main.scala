package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run: set-up, then a closed loop of jobs with one client for
  * `--seconds`, then one JSON result line on stdout.
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced
  * (`--trace 1`) it alternates plain jobs with traced replays and reports
  * the per-layer metrics: the median over traced jobs of each span's
  * counters, per-layer ratios, and the tracing overhead (traced against
  * plain job time). Args: --workload --seed --seconds --trace --work --out. */
object Main {
  /** Input preparation runs this many times; `setup_s` counts its median,
    * plus session start and the warm-up jobs. */
  val SetupReps = 3

  /** Wall seconds after which no new job starts, so that a run ends well
    * within three minutes even when --seconds is long. */
  val WallLimitSeconds = 120.0

  /** Spans reported as per-layer metrics, one per public call. */
  val Spans: Seq[String] = Seq(
    "plans.mentionsFromSpans", "plans.surfaceNodes", "operators.Blocking.blockKeysWithNorm",
    "operators.Blocking.candidatePairsBipartite", "operators.PairwiseScoring.scoreInline",
    "plans.argmaxEdges", "operators.ConnectedComponents", "plans.mentionAssignments",
    "metrics.pairwiseF1", "operators.DictTrain.trainDictionarySplit", "operators.DictTrain.infer",
    "metrics.macroCharIou", "plans.StageRunner.cold", "plans.StageRunner.resume")

  /** Per-layer ratios a traced job measures, with their units. */
  val Ratios: Seq[(String, String)] = Seq(
    "operators.Blocking.pair_yield" -> "ratio", "operators.Blocking.pairs_per_node" -> "ratio",
    "operators.Blocking.hot_keys_capped" -> "count",
    "operators.DictTrain.infer.annotations_per_doc" -> "ratio",
    "plans.StageRunner.bytes_written" -> "bytes", "plans.StageRunner.resumed_stages" -> "count")

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def args(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Peak resident set size of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    val a = args(argv)
    val w = Workload.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val work = a("work")

    val t0 = System.nanoTime()
    implicit val spark: SparkSession = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val first = Inputs.firstDoc(seed)
    val prepares = (0 until SetupReps).map { r =>
      if (r > 0) Inputs.delete(s"$work/in_${r - 1}")
      val s0 = System.nanoTime()
      w.prepare(s"$work/in_$r", first)
      (System.nanoTime() - s0) / 1e9
    }
    val in = s"$work/in_${SetupReps - 1}"
    // the first warm-up job runs the full gates and gives the reference
    // digest that every later job's output must match
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[JobOutcome]
    while (warm.size < w.warmupJobs && warm.forall(_.verdict.ok)) {
      try warm += w.job(in, s"$work/warmup", None, warm.headOption.map(_.digest))
      finally Inputs.delete(s"$work/warmup")
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val reference = Some(warm.head.digest)
    if (trace) { // the traced path has plans of its own to warm
      val t = new Tracer(spark)
      try warm += w.job(in, s"$work/warmup", Some(t), reference)
      finally { t.close(); Inputs.delete(s"$work/warmup") }
    }
    val setupS = sessionS + median(prepares) + warmupS
    println(f"set-up: session $sessionS%.2f s, inputs ${prepares.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"warm-up $warmupS%.2f s")

    // closed loop, one client: job i + 1 is submitted when job i is done and
    // checked, until the timed job seconds reach --seconds; a traced run
    // alternates plain and traced jobs
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val plain = mutable.ArrayBuffer.empty[JobOutcome]
    val traced = mutable.ArrayBuffer.empty[JobOutcome]
    var attempted = warm.size
    var failed = warm.count(!_.verdict.ok)
    warm.filterNot(_.verdict.ok).foreach(o => println(s"warm-up job failed: ${o.verdict.failures.mkString("; ")}"))
    var broken = failed > 0
    def measured = (plain ++ traced).map(_.seconds).sum
    def late = (System.nanoTime() - t0) / 1e9 > WallLimitSeconds
    while (!broken && (plain.isEmpty || (trace && traced.isEmpty) || (measured < seconds && !late))) {
      val i = attempted
      val useTracer = if (trace && plain.size > traced.size) tracer else None
      attempted += 1
      try {
        val j0 = System.nanoTime()
        val o = w.job(in, s"$work/out_$i", useTracer, reference)
        println(f"job $i${if (useTracer.isEmpty) "" else " (traced)"}: ${o.seconds}%.2f s timed, " +
          f"${(System.nanoTime() - j0) / 1e9}%.2f s with checks")
        if (!o.verdict.ok) {
          failed += 1
          println(s"job $i failed: ${o.verdict.failures.mkString("; ")}")
        }
        (if (useTracer.isEmpty) plain else traced) += o
      } catch {
        case e: Exception =>
          failed += 1
          broken = true
          println(s"job $i threw: $e")
          e.printStackTrace()
      } finally Inputs.delete(s"$work/out_$i")
    }
    val gated = (warm.take(1) ++ traced).map(_.verdict)

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        Seq(
          ("setup_s", setupS, "s"),
          ("docs_per_s", plain.map(_.docs).sum / plain.map(_.seconds).sum, "docs/s"),
          ("batch_p50_s", median(plain.map(_.seconds).toSeq), "s"),
          ("pairwise_f1", gated.map(_.f1).minOption.getOrElse(Double.NaN), "ratio"),
          ("macro_iou", gated.map(_.iou).minOption.getOrElse(Double.NaN), "ratio"),
          ("stored_bytes_per_input_byte",
            plain.map(_.storedBytes).sum.toDouble / plain.map(_.inputBytes).sum, "ratio"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      case Some(t) =>
        t.drain()
        val bySpan = t.spans.groupBy(_.name)
        val grid = for (span <- Spans; (f, unit) <- Tracer.Fields) yield
          (s"$span.$f", bySpan.get(span).fold(0.0)(ss => median(ss.map(t.fields(_)(f)).toSeq)), unit)
        val ratios = Ratios.map { case (r, unit) =>
          (r, median(traced.flatMap(_.ratios.get(r)).toSeq) match { case m if m.isNaN => 0.0; case m => m }, unit)
        }
        val overhead = (median(traced.map(_.seconds).toSeq) / median(plain.map(_.seconds).toSeq) - 1) * 100
        val dir = Paths.get(a("out"), "traces")
        Files.createDirectories(dir)
        val file = dir.resolve(s"${w.name}-seed$seed.json")
        Files.writeString(file, t.toJson)
        println(s"spans written to $file")
        grid ++ ratios :+ (("tracing_overhead_pct", overhead, "%"))
    }
    spark.stop()

    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN)
    val body = metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(body))))
  }
}
