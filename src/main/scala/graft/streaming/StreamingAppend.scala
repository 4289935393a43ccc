package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.build.{ClusterStat, IndexBuilder, IndexSchemas, ManifestIO}
import graft.maintain.Maintenance

/** Structured Streaming ingestion: F1-shaped files landing in a
  * directory become index mini-segments, one per micro-batch, via
  * foreachBatch → Maintenance.append.
  *
  * The reference has no streaming at all; its `push!`-as-FIFO usage
  * (/root/reference/docs/src/examples.md:85-92) is the closest analog —
  * the graft expresses it as micro-batch segment appends (SURVEY.md
  * §2.5): each batch gets insertion-order docIDs continuing from the
  * current num_docs, exactly `push!`'s id semantics.
  *
  * Delivery semantics: foreachBatch is AT-LEAST-once, and
  * Maintenance.append is a non-atomic multi-step sequence (docstore,
  * postings, dictionary, manifest) — so the sink records an
  * INTENT sidecar (batchId + pre-append doc/segment watermarks) before
  * appending and the applied batchId after. On replay:
  *  - batchId <= lastApplied → skip (the common duplicate-delivery case);
  *  - a dangling intent (crash mid-append or between append and the
  *    applied record) → [[rollbackPartial]] restores the pre-append
  *    state from the watermarks (doc_id / segment_id range filters —
  *    both monotone counters), then the batch re-applies cleanly.
  * Net effect: effectively-once INDEXED STATE, achieved by
  * at-least-once delivery + deterministic rollback-and-reapply — not by
  * any atomicity claim about append itself [ADVICE r2].
  */
object StreamingAppend {

  private def appliedPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "stream_last_batch.json")

  private def intentPath(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "stream_intent.json")

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(new com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  /** Pre-append watermarks: everything the batch adds lies strictly
    * above them (doc ids and segment ids are monotone counters).
    */
  final case class Intent(batchId: Long, numDocsBefore: Long, maxSegBefore: Int)

  /** Last batchId applied to this index (−1 if none). */
  def lastAppliedBatch(indexDir: String): Long = {
    val p = appliedPath(indexDir)
    if (!java.nio.file.Files.exists(p)) -1L
    else new String(java.nio.file.Files.readAllBytes(p)).trim.toLong
  }

  private def recordApplied(indexDir: String, batchId: Long): Unit = {
    val tmp = java.nio.file.Paths.get(
      appliedPath(indexDir).toString + ".tmp")
    java.nio.file.Files.write(tmp, batchId.toString.getBytes)
    java.nio.file.Files.move(tmp, appliedPath(indexDir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def pendingIntent(indexDir: String): Option[Intent] = {
    val p = intentPath(indexDir)
    if (!java.nio.file.Files.exists(p)) None
    else Some(mapper.readValue(java.nio.file.Files.readAllBytes(p),
      classOf[Intent]))
  }

  private def recordIntent(indexDir: String, i: Intent): Unit = {
    val tmp = java.nio.file.Paths.get(intentPath(indexDir).toString + ".tmp")
    java.nio.file.Files.write(tmp, mapper.writeValueAsBytes(i))
    java.nio.file.Files.move(tmp, intentPath(indexDir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def clearIntent(indexDir: String): Unit =
    java.nio.file.Files.deleteIfExists(intentPath(indexDir))

  /** Removes every trace of a partially-applied append: docstore rows
    * above the doc watermark, posting blocks above the segment
    * watermark, their segment metas; the dictionary is rebuilt and the
    * manifest's partitions re-counted from the rows kept. Idempotent
    * (pure range filters), so a crash mid-rollback just rolls back
    * again.
    */
  def rollbackPartial(spark: SparkSession, indexDir: String, intent: Intent): Unit = {
    System.err.println(s"[stream] rolling back partial batch " +
      s"${intent.batchId}: docs>=${intent.numDocsBefore}, " +
      s"segments>${intent.maxSegBefore}")
    // a previous rollback that died mid-swap is restored first by the
    // swap itself, so the (idempotent range-filter) rewrite runs again
    def rewrite(sub: String, keep: => DataFrame): Unit =
      IndexBuilder.swapDir(s"$indexDir/$sub")(IndexBuilder.writeByCluster(keep, _))
    rewrite("docstore", IndexSchemas.readDocstore(spark, indexDir)
      .filter(col("doc_id") < intent.numDocsBefore))
    rewrite("postings", IndexSchemas.readPostings(spark, indexDir)
      .filter(col("segment_id") <= intent.maxSegBefore))
    val docCounts = IndexSchemas.readDocstore(spark, indexDir)
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val blockStats = IndexSchemas.readPostings(spark, indexDir)
      .groupBy("cluster_id")
      .agg(
        sum(col("count")).as("postings"),
        count(lit(1)).as("blocks"),
        sum(length(col("doc_gaps")) + length(col("tfs")) +
          length(col("dls")) + length(col("positions"))).as("bytes"))
      .collect()
      .map(r => r.getInt(0) -> ClusterStat(r.getInt(0), r.getLong(1),
        r.getLong(2), r.getLong(3), build_millis = 0L)).toMap
    val vocab = IndexBuilder.writeDictionary(spark, indexDir, intent.numDocsBefore)
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    ManifestIO.write(s"$indexDir/manifest.json", manifest.copy(
      num_docs = intent.numDocsBefore,
      vocab_size = vocab,
      lineage = manifest.lineage.copy(num_source_rows = intent.numDocsBefore),
      partitions = IndexBuilder.partitionMetas(docCounts, blockStats),
      segments = manifest.segments.filter(_.segment_id <= intent.maxSegBefore)))
  }

  /** Idempotent micro-batch application; returns true iff the batch was
    * newly indexed (false = replay skipped).
    */
  def applyBatch(indexDir: String, batch: DataFrame, batchId: Long): Boolean = {
    val last = lastAppliedBatch(indexDir)
    // An intent whose batch is already recorded as applied is a
    // leftover from a crash between recordApplied and clearIntent —
    // that batch COMMITTED; rolling it back would lose acknowledged
    // data (and the skipped replay would never re-apply it).
    pendingIntent(indexDir).filter(_.batchId <= last)
      .foreach { i =>
        System.err.println(s"[stream] clearing stale intent for " +
          s"committed batch ${i.batchId}")
        clearIntent(indexDir)
      }
    if (batchId <= last) {
      System.err.println(
        s"[stream] batch $batchId already applied - skipping replay")
      false
    } else {
      val spark = batch.sparkSession
      // a dangling intent = the previous attempt crashed mid-append;
      // restore the pre-append state before re-applying
      pendingIntent(indexDir).foreach(rollbackPartial(spark, indexDir, _))
      if (!batch.isEmpty) {
        val manifest = ManifestIO.read(s"$indexDir/manifest.json")
        recordIntent(indexDir, Intent(batchId, manifest.num_docs,
          (manifest.segments.map(_.segment_id) :+ 0).max))
        Maintenance.append(spark, indexDir, batch)
      }
      recordApplied(indexDir, batchId)
      clearIntent(indexDir)
      System.err.println(s"[stream] batch $batchId applied")
      !batch.isEmpty
    }
  }

  /** The input_hint table shape. */
  val sourceSchema: StructType = StructType(Seq(
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lang", StringType),
    StructField("content", StringType)))

  /** Starts the ingestion stream; caller stops it (or uses
    * processAllAvailable in tests). Batches are appended sequentially —
    * foreachBatch runs on the driver, and append itself launches the
    * distributed jobs.
    */
  def start(
      spark: SparkSession,
      watchDir: String,
      indexDir: String,
      checkpointDir: String): StreamingQuery =
    spark.readStream
      .schema(sourceSchema)
      .parquet(watchDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(indexDir, batch, batchId); ()
      }
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
}
