package graft.build

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The index's on-disk tables. Schemas are explicit (r7): every
  * `spark.read.parquet` without a schema pays a footer-inference pass (a
  * driver job + footer I/O) per call, on hot query paths that re-open
  * these tables on every invocation.
  *
  * A reader reads exactly the part files its manifest lists, as a filter
  * on `_metadata.file_path` over the table dir: Spark prunes the unlisted
  * files before the scan, and the `cluster_id` partition pruning and the
  * pushdowns stay as they are. A mutation writes new part files only,
  * [[commit]]s a manifest listing the live ones, then sweeps the rest,
  * so between mutations a table dir holds exactly the listed files.
  */
object IndexSchemas {

  /** Docstore rows ([[graft.model.Doc]]) + the cluster_id partition
    * column.
    */
  val docstore: StructType =
    Encoders.product[graft.model.Doc].schema.add("cluster_id", IntegerType)

  /** Posting blocks; cluster_id doubles as the partition column. */
  val postings: StructType = Encoders.product[graft.model.PostingBlock].schema

  val dictionary: StructType = Encoders.product[graft.model.DictEntry].schema

  // each reader reads the files of manifest `m`, or of the index's
  // manifest when none is given: a query passes the one it planned with
  def readDocstore(spark: SparkSession, indexDir: String,
      m: IndexManifest = null): DataFrame =
    read(spark, s"$indexDir/docstore", docstore, files(indexDir, m).docstore)

  def readPostings(spark: SparkSession, indexDir: String,
      m: IndexManifest = null): DataFrame =
    read(spark, s"$indexDir/postings", postings, files(indexDir, m).postings)

  def readDictionary(spark: SparkSession, indexDir: String,
      m: IndexManifest = null): DataFrame =
    read(spark, s"$indexDir/dictionary", dictionary,
      files(indexDir, m).dictionary)

  private def files(indexDir: String, m: IndexManifest): IndexFiles =
    Option(m).getOrElse(ManifestIO.read(s"$indexDir/manifest.json")).files

  /** The `files` (relative to `dir`) of the table dir `dir`, qualified
    * the way Spark reports `_metadata.file_path`.
    */
  private[graft] def read(spark: SparkSession, dir: String, schema: StructType,
      files: Seq[String]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val base = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(root)
    spark.read.schema(schema).parquet(dir).filter(col("_metadata.file_path")
      .isin(files.map(f => new org.apache.hadoop.fs.Path(base, f).toUri.toString): _*))
  }

  /** Part files under table dir `dir`, relative to it and sorted, outside
    * `_`-prefixed dirs (a writer's `_temporary`). A driver-side walk.
    */
  def partFiles(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Nil
    else {
      val w = Files.walk(root)
      try w.iterator.asScala.map(root.relativize(_).toString)
        .filter(f => f.split('/').last.startsWith("part-") &&
          !f.split('/').exists(_.startsWith("_")))
        .toVector.sorted
      finally w.close()
    }
  }

  /** Commits `m` as the index's snapshot with one atomic manifest write,
    * then [[sweep]]s what it no longer lists.
    */
  def commit(indexDir: String, m: IndexManifest): Unit = {
    ManifestIO.write(s"$indexDir/manifest.json", m)
    sweep(indexDir, m)
  }

  /** Deletes the three tables' writer `_temporary` dirs. A crashed
    * writer leaves its committed task files there, and the next write's
    * job commit (the v1 FileOutputCommitter's) would move them into the
    * table as its own. Every writer into a dir runs it first.
    */
  def clearTemporary(indexDir: String): Unit =
    Seq("docstore", "postings", "dictionary").foreach(table =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        Paths.get(indexDir, table, "_temporary").toFile))

  /** [[clearTemporary]], then deletes every part file of the three tables
    * that `m` does not list, checksum first: what a crashed mutation left
    * before its commit, or a committed one before its sweep. Every
    * mutation runs it first.
    */
  def sweep(indexDir: String, m: IndexManifest): Unit = {
    clearTemporary(indexDir)
    Seq("docstore" -> m.files.docstore, "postings" -> m.files.postings,
        "dictionary" -> m.files.dictionary).foreach { case (table, live) =>
      val root = Paths.get(indexDir, table)
      partFiles(root.toString).filterNot(live.toSet).foreach { f =>
        val part = root.resolve(f)
        Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
        Files.delete(part)
      }
    }
  }
}
