package graft.build

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Explicit schemas for the index's on-disk tables (r7): every
  * `spark.read.parquet` without a schema pays a footer-inference pass
  * (a driver job + footer I/O) per call — and the hot query paths
  * (WAND, phrase, compact, dictionary refresh) re-open these tables on
  * every invocation. The schemas are fixed by the writers (model case
  * classes + the docstore column list), so inference re-derives a
  * constant. Build and append write the docstore through one writer,
  * so their files share one column order; resolution is by name, which
  * still reads the differently ordered append files of older indexes.
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

  def readDocstore(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(docstore).parquet(s"$indexDir/docstore")

  def readPostings(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(postings).parquet(s"$indexDir/postings")

  def readDictionary(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(dictionary).parquet(s"$indexDir/dictionary")
}
