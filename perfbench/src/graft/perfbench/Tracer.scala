package graft.perfbench

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Spark counters of one job group, filled from listener events. */
final class GroupCounters {
  var jobs = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskDurations = mutable.ArrayBuffer.empty[Long]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Attributes every job, stage and task to the job group that was set on
  * the submitting thread (Spark copies local properties to the threads it
  * spawns for broadcasts and adaptive stages). Events arrive on the
  * listener-bus thread; readers call `ListenerBusDrain` first. */
final class GroupListener extends SparkListener {
  private val SparkGroupKey = "spark.jobGroup.id"
  private val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(SparkGroupKey)))

  def counters(group: String): GroupCounters =
    groups.computeIfAbsent(group, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      val c = counters(g)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counters(g)
      val info = e.taskInfo
      c.synchronized {
        c.taskMs += info.duration
        c.taskDurations += info.duration
        c.taskIntervals += ((info.launchTime, info.finishTime))
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

/** One finished span: a call into a layer's public function plus the
  * materialization barrier after it. */
final case class SpanRecord(name: String, traceId: Int, spanId: Int, parentId: Int,
                            startEpochMs: Long, endEpochMs: Long, wallMs: Double,
                            rowsOut: Long, counters: GroupCounters)

/** In-memory spans, one trace per closed-loop job. Each span runs under its
  * own job group so `GroupListener` can attribute Spark work to it. */
final class Tracer(spark: SparkSession) extends Probe {
  private val sc = spark.sparkContext
  private val listener = new GroupListener
  sc.addSparkListener(listener)

  val spans = mutable.ArrayBuffer.empty[SpanRecord]
  private var traceId = 0
  private var lastSpanId = 0
  private var stack: List[Int] = Nil

  def newTrace(): Int = { traceId += 1; traceId }

  /** Runs `call` and its `barrier` as span `name`. */
  def apply[A](name: String)(call: => A)(barrier: A => (A, Long)): A = {
    lastSpanId += 1
    val id = lastSpanId
    val group = s"perfbench-span-$id"
    val parent = stack.headOption.getOrElse(0)
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val outerDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack = id :: stack
    val e0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (out, n) = try barrier(call)
    finally {
      stack = stack.tail
      outer match {
        case Some(g) => sc.setJobGroup(g, outerDesc, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
    val wall = (System.nanoTime() - t0) / 1e6
    spans += SpanRecord(name, traceId, id, parent, e0, System.currentTimeMillis(), wall, n,
      listener.counters(group))
    out
  }

  /** Waits for pending listener events so the counters are complete. */
  def drain(): Unit = ListenerBusDrain(sc)

  /** Stops attributing Spark work to this tracer's spans. */
  def close(): Unit = sc.removeSparkListener(listener)

  private def children: Map[Int, Seq[SpanRecord]] = spans.toSeq.groupBy(_.parentId)

  /** The span and its descendants. */
  private def subtree(s: SpanRecord, kids: Map[Int, Seq[SpanRecord]]): Seq[SpanRecord] =
    s +: kids.getOrElse(s.spanId, Nil).flatMap(subtree(_, kids))

  /** Per-span fields, each counted over the span and its child spans:
    * `driver_only_ms` is the span time in which none of their tasks ran,
    * `task_skew` the longest of their tasks over the median one. */
  def fields(s: SpanRecord, kids: Map[Int, Seq[SpanRecord]] = children): Map[String, Double] = {
    val cs = subtree(s, kids).map(_.counters)
    val durations = cs.flatMap(_.taskDurations).sorted
    Map(
      "wall_ms" -> s.wallMs,
      "driver_only_ms" -> math.max(0.0,
        s.wallMs - Tracer.covered(cs.flatMap(_.taskIntervals), s.startEpochMs, s.endEpochMs)),
      "task_ms" -> cs.map(_.taskMs).sum.toDouble,
      "shuffle_write_bytes" -> cs.map(_.shuffleWriteBytes).sum.toDouble,
      "spill_bytes" -> cs.map(_.spillBytes).sum.toDouble,
      "jobs" -> cs.map(_.jobs).sum.toDouble,
      "task_skew" ->
        (if (durations.isEmpty) 0.0 else durations.last.toDouble / math.max(1L, durations(durations.length / 2))),
      "rows_out" -> s.rowsOut.toDouble)
  }

  /** The spans as JSON, with each span's self time (its wall time minus
    * the part of its interval that its child spans cover). */
  def toJson: String = {
    val kids = children
    spans.map { s =>
      val inner = kids.getOrElse(s.spanId, Nil).map(k => (k.startEpochMs, k.endEpochMs))
      val self = math.max(0.0, s.wallMs - Tracer.covered(inner, s.startEpochMs, s.endEpochMs))
      val f = fields(s, kids)
      Json.obj(Seq(
        "name" -> Json.str(s.name), "trace_id" -> s.traceId.toString,
        "span_id" -> s.spanId.toString, "parent_id" -> s.parentId.toString,
        "start_epoch_ms" -> s.startEpochMs.toString, "end_epoch_ms" -> s.endEpochMs.toString,
        "self_ms" -> Json.num(self)) ++
        Tracer.Fields.map { case (n, _) => n -> Json.num(f(n)) })
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  /** Milliseconds of [from, to] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Double = {
    var total = 0L
    var end = from
    for ((a0, b0) <- intervals.sortBy(_._1)) {
      val a = math.max(a0, end)
      val b = math.min(b0, to)
      if (b > a) { total += b - a; end = b }
    }
    total.toDouble
  }

  /** The per-span fields reported as per-layer metrics, with their units. */
  val Fields: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "driver_only_ms" -> "ms", "task_ms" -> "ms",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "jobs" -> "count",
    "task_skew" -> "ratio", "rows_out" -> "rows")
}

/** Minimal JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
