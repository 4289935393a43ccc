package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.build.ManifestIO
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
  * Delivery semantics: foreachBatch is AT-LEAST-once. The append of a
  * batch commits the batch id in the same manifest write that commits its
  * docs, so a batch is either applied with its id recorded or not applied
  * at all: a replay with batchId <= the manifest's last stream batch is
  * skipped, any other batch appends. A crash mid-append leaves only
  * unlisted files, which the next mutation sweeps. Net effect:
  * effectively-once indexed state from at-least-once delivery.
  */
object StreamingAppend {

  /** Last batchId applied to this index (−1 if none). */
  def lastAppliedBatch(indexDir: String): Long =
    ManifestIO.read(s"$indexDir/manifest.json").stream_batch

  /** Idempotent micro-batch application; returns true iff the batch
    * indexed new docs (false = replay skipped, or an empty batch).
    */
  def applyBatch(indexDir: String, batch: DataFrame, batchId: Long): Boolean =
    batchId > lastAppliedBatch(indexDir) &&
      Maintenance.append(batch.sparkSession, indexDir, batch, Some(batchId)) > 0

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
