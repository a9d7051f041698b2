package graft.perfbench

import graft.fixtures.Synth
import graft.model._
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.nio.file.{Files, Path, Paths}

/** Seeded benchmark inputs, written as parquet during set-up. The program
  * only ever reads these files; no timed phase generates data.
  *
  * A seed owns the `Synth.genDoc` indices [firstDoc(seed), firstDoc(seed) +
  * SeedStride), so inputs of different seeds never share a doc. The
  * terminology and dictionary depend only on the concept count k, which a
  * workload derives from its corpus size, so different seeds share
  * vocabulary the way real batches do. */
object Inputs {
  val SeedStride = 10000000L

  def firstDoc(seed: Long): Long = math.floorMod(seed, 100000L) * SeedStride

  /** docs(doc_id, spans) for the docs [from, from + n), under `dir`/docs. */
  def writeDocs(dir: String, from: Long, n: Int, k: Int)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    Readers.writeDocs(spark.range(from, from + n).map(i => Synth.genDoc(i, k)._1), s"$dir/docs")
  }

  /** The docs and their golds(doc_id, start, end, concept_id), under
    * `dir`/docs and `dir`/golds. */
  def writeCorpus(dir: String, from: Long, n: Int, k: Int)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    writeDocs(dir, from, n, k)
    spark.range(from, from + n).flatMap(i => Synth.genDoc(i, k)._2).write.parquet(s"$dir/golds")
  }

  /** The linking dictionary for k concepts. */
  def writeDict(dir: String, k: Int)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    Readers.writeDict(spark.createDataset(Synth.dictionary(k)), s"$dir/dict")
  }

  /** The terminology and synonym side tables `DictTrain` trains from. */
  def writeTrainTables(dir: String, k: Int)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    spark.createDataset(Synth.concepts(k)).write.parquet(s"$dir/concepts")
    spark.createDataset(Synth.descriptions(k)).write.parquet(s"$dir/descriptions")
    spark.createDataset(Synth.extConcepts(k)).write.parquet(s"$dir/ext_concepts")
    spark.createDataset(Synth.extMappings(k)).write.parquet(s"$dir/ext_mappings")
    spark.createDataset(Synth.abbreviations(k)).write.parquet(s"$dir/abbreviations")
  }

  def docs(dir: String)(implicit spark: SparkSession): Dataset[Doc] = Readers.readDocs(spark, s"$dir/docs")

  def golds(dir: String)(implicit spark: SparkSession): Dataset[GoldAnnotation] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/golds").as[GoldAnnotation]
  }

  def dict(dir: String)(implicit spark: SparkSession): Dataset[DictEntry] = Readers.readDict(spark, s"$dir/dict")

  def table(dir: String, name: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$name")

  /** Total size of the regular files under `paths`. */
  def bytes(paths: String*): Long = paths.map { p =>
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }.sum

  def delete(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }
}
