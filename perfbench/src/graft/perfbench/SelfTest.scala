package graft.perfbench

import graft.plans.LinkagePipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Shows that the gates accept the program's outputs and reject bad ones:
  * plain and traced jobs of both workloads pass at small sizes; an output
  * that differs from its reference digest, an all-in-one-cluster
  * assignment (pairwise F1) and a resume over a corrupted stage file (the
  * resume gate) are rejected. Exits non-zero otherwise.
  * Args: --work --out. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = Main.args(argv)("work")
    implicit val spark: SparkSession = Main.session(work)
    var ok = true
    def expect(what: String, rejected: Boolean, v: Seq[String]): Unit = {
      val pass = rejected == v.nonEmpty
      ok &&= pass
      println(s"${if (pass) "ok  " else "FAIL"} $what: ${if (v.isEmpty) "accepted" else v.mkString("; ")}")
    }

    val train = TrainAnnotate(trainDocs = 150, inferDocs = 150)
    train.prepare(s"$work/train", Inputs.firstDoc(7))
    expect("train_annotate job", rejected = false, train.job(s"$work/train", s"$work/out", None, None).verdict.failures)

    val in = s"$work/link"
    val link = Link("link_batches", batchDocs = 200)
    link.prepare(in, Inputs.firstDoc(8))
    val plain = link.job(in, s"$work/out_plain", None, None)
    expect("link job", rejected = false, plain.verdict.failures)
    val tracer = new Tracer(spark)
    expect("traced link job with resume, against the plain job's output", rejected = false,
      link.job(in, s"$work/out_traced", Some(tracer), Some(plain.digest)).verdict.failures)
    tracer.close()
    expect("link job against another output's digest", rejected = true,
      link.job(in, s"$work/out_again", None, Some("0:0")).verdict.failures)

    val batch = s"$in/batch"
    val (ds, golds, dict) = (Inputs.docs(batch), Inputs.golds(batch), Inputs.dict(in))
    val mentions = LinkagePipeline.mentionsFromSpans(ds, golds)
    val stages = s"$work/stages"
    val (clean, cold) = LinkagePipeline.runCheckpointed(mentions, dict, stages)
    val oneCluster = clean.assignments.withColumn("component", lit("c:0"))
    expect("all-in-one-cluster assignment", rejected = true,
      Gates.link(Probe.Plain, oneCluster, batch, ds, golds).failures)
    corrupt(s"$stages/assignments")
    val (_, afterCorruption) = LinkagePipeline.runCheckpointed(mentions, dict, stages)
    expect("resume over a corrupted stage file", rejected = true, Gates.resume(cold, afterCorruption))

    spark.stop()
    println(if (ok) "self-test passed" else "self-test FAILED")
    if (!ok) sys.exit(1)
  }

  /** Replaces one parquet file of a stage with a valid parquet file of the
    * same schema holding a single row of it: readable, but wrong content. */
  def corrupt(stageDir: String)(implicit spark: SparkSession): Unit = {
    val tmp = s"$stageDir.corrupt"
    spark.read.parquet(stageDir).limit(1).coalesce(1).write.parquet(tmp)
    def parts(d: String) = Files.list(Paths.get(d)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val victim = parts(stageDir).head
    Files.copy(parts(tmp).head, victim, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(victim.resolveSibling(s".${victim.getFileName}.crc"))
    Inputs.delete(tmp)
  }
}
