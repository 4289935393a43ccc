package graft.maintain

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{ClusterStat, IndexBuilder, IndexSchemas, ManifestIO}
import graft.sources.Corpus

/** Incremental index maintenance — the graft of the reference's point
  * mutations (SURVEY.md §2.3, /root/reference/src/utils.jl):
  *
  *  - [[append]]  = `push!` (M1): new docs become a NEW mini-segment —
  *    docIDs continue from num_docs (insertion order, exactly
  *    `id = nvectors` at /root/reference/src/utils.jl:140-143), blocks
  *    are appended under the existing cluster partitioning, the
  *    dictionary/idf refresh from block metadata. The scoring avgdl is
  *    intentionally HELD at its last full-build value until compaction
  *    (stored g-maxes stay valid upper bounds; Lucene holds norms the
  *    same way).
  *  - [[delete]]  = `delete_from_index!` (M5): a tombstone set — O(1)
  *    visibility-only delete; queries filter tombstoned docs before
  *    top-k selection.
  *  - [[compact]] = the deferred id-shift (M8,
  *    /root/reference/src/utils.jl:16-20): rebuilds into a new snapshot
  *    directory with survivors re-ranked DENSE IN OLD-ID ORDER —
  *    identical semantics to the reference's "shift all higher ids
  *    down", executed as one batch job instead of per-delete.
  *  - [[fetchDocs]] = `_decode_point` (M7): the docstore is lossless, so
  *    reconstruction is exact (the reference's PQ reconstruction is
  *    lossy).
  */
object Maintenance {

  private def tombstonePath(indexDir: String) =
    Paths.get(indexDir, "tombstones.json")

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(new com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  def loadTombstones(indexDir: String): Set[Long] = {
    val p = tombstonePath(indexDir)
    if (!Files.exists(p)) Set.empty
    else mapper.readValue(Files.readAllBytes(p), classOf[Array[Long]]).toSet
  }

  /** M5: tombstone docIDs (idempotent, merges with existing). Every id
    * must name a doc of the index, i.e. lie in [0, num_docs): a tombstone
    * past the end would hide the doc the next append gives that id.
    */
  def delete(indexDir: String, docIds: Seq[Long]): Unit = {
    val n = ManifestIO.read(s"$indexDir/manifest.json").num_docs
    val bad = docIds.filter(id => id < 0 || id >= n).distinct.sorted
    require(bad.isEmpty,
      s"delete: ids outside [0, $n): ${bad.mkString(", ")}")
    val merged = (loadTombstones(indexDir) ++ docIds).toArray.sorted
    Files.write(tombstonePath(indexDir), mapper.writeValueAsBytes(merged))
  }

  /** M1: append an F1-shaped batch of new source files as a mini-segment.
    * New docIDs = num_docs + rank within the batch by (repo,path,commit).
    * The batch runs the build's docstore writer into the staging area
    * `_append`, the build's encoder over the rows it stored (so the
    * postings index exactly the stored content), then both staged tables
    * are installed. The manifest is a copy of the one read, updated from
    * what the append's own jobs observed: per-cluster doc counts on the
    * docstore write, block stats and segments from the encode
    * accumulators, vocab from the dictionary write.
    */
  def append(spark: SparkSession, indexDir: String, newSource: DataFrame): Unit = {
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    // appended segments REUSE the base build's granule window so every
    // block — old or new — stays inside one (cluster, window) granule
    // and query-side granule splits remain safe
    val window = graft.plans.BlockScan.window(manifest)
    val dense = Corpus.docsFromCounted(newSource,
      idOffset = manifest.num_docs)
    // an empty batch leaves the index as it is
    if (dense.numRows == 0) { dense.unpersist(); return }
    val stage = s"$indexDir/_append"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    val m = try IndexBuilder.writeDocstore(dense.df, stage,
        manifest.centroids, graft.cluster.Distance.byName(manifest.distance),
        Map.empty, window, minId = manifest.num_docs)
      finally dense.unpersist()

    val segOffset = (manifest.segments.map(_.segment_id) :+ 0).max + 1
    val (blocks, acc, cacc) = IndexBuilder.encodeBlocks(spark,
      IndexSchemas.readDocstore(spark, stage),
      manifest.avgdl, // held until compaction
      segOffset, window)
    IndexBuilder.writeByCluster(blocks, s"$stage/postings")
    IndexBuilder.installStaged(s"$stage/docstore", s"$indexDir/docstore")
    IndexBuilder.installStaged(s"$stage/postings", s"$indexDir/postings")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))

    val nNew = manifest.num_docs + dense.numRows
    val vocab = IndexBuilder.writeDictionary(spark, indexDir, nNew)
    val old = manifest.partitions
    ManifestIO.write(s"$indexDir/manifest.json", manifest.copy(
      num_docs = nNew,
      vocab_size = vocab,
      lineage = manifest.lineage.copy(num_source_rows = nNew),
      partitions = IndexBuilder.partitionMetas(
        (old.map(p => p.cluster_id -> p.num_docs) ++
          IndexBuilder.observedDocCounts(m, manifest.kc))
          .groupMapReduce(_._1)(_._2)(_ + _),
        IndexBuilder.sumClusterStats(old.map(p => ClusterStat(p.cluster_id,
          p.num_postings, p.num_blocks, p.bytes, p.build_millis)) ++
          cacc.value.asScala)),
      segments = (manifest.segments ++ acc.value.asScala)
        .sortBy(_.segment_id)))
  }

  /** Segment merge (north_star: "merge partition-local segments into a
    * global index") — the Lucene forceMerge analog: consolidates the
    * fragmented blocks left by appends into minimal full blocks per
    * (cluster, granule, term), WITHOUT touching the docstore or docIDs.
    * Also refreshes avgdl/idf exactly over the current corpus (append
    * holds them stale by design). One postings-only job: no tokenize
    * pass. The blocks re-encode through the build's encoder
    * ([[IndexBuilder.transformBlocks]] with no tombstones, so docIDs
    * stay put): merged blocks stay granule-contained, which the
    * query-side split key relies on.
    */
  def mergeSegments(spark: SparkSession, indexDir: String): Unit = {
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")

    // exact refreshed stats (Long sums → deterministic)
    val statsRow = IndexSchemas.readDocstore(spark, indexDir)
      .agg(count(lit(1)), sum(col("doc_len"))).head()
    val n = statsRow.getLong(0)
    val avgdl = IndexBuilder.CorpusStats(n,
      if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)).avgdl

    // hash placement on cluster_id: a segment id is the partition id
    val (acc, cacc) = IndexBuilder.swapDir(s"$indexDir/postings") { tmp =>
      val (merged, acc, cacc) = IndexBuilder.transformBlocks(spark,
        IndexSchemas.readPostings(spark, indexDir)
          .repartition(col("cluster_id")),
        spark.sparkContext.broadcast(Array.emptyLongArray), avgdl,
        segmentOffset = 0, graft.plans.BlockScan.window(manifest))
      IndexBuilder.writeByCluster(merged, tmp)
      (acc, cacc)
    }

    // docs and their clusters are unchanged; blocks and segments are new
    val vocab = IndexBuilder.writeDictionary(spark, indexDir, n)
    ManifestIO.write(s"$indexDir/manifest.json", manifest.copy(
      num_docs = n,
      avgdl = avgdl,
      vocab_size = vocab,
      lineage = manifest.lineage.copy(num_source_rows = n),
      partitions = IndexBuilder.partitionMetas(
        manifest.partitions.map(p => p.cluster_id -> p.num_docs).toMap,
        IndexBuilder.sumClusterStats(cacc.value.asScala.toSeq)),
      segments = acc.value.asScala.toSeq.sortBy(_.segment_id)))
  }

  /** M5/M8 compaction: survivors re-ranked dense in OLD-id order into a
    * fresh snapshot directory (avgdl/idf refreshed there). The
    * tombstone set defaults to the index's tombstones.json; passing
    * `deadOverride` compacts against an explicit set WITHOUT mutating
    * the source index (read-only source — e.g. benchmark harnesses that
    * must not leave tombstones behind for later queries).
    */
  def compact(spark: SparkSession, indexDir: String, outDir: String,
      deadOverride: Option[Set[Long]] = None): IndexBuilder.BuildResult = {
    val dead = deadOverride.getOrElse(loadTombstones(indexDir))
    // survivor count from the manifest, EXACT for any dead set: docstore
    // ids are dense 0..n-1, so only dead ids inside that range remove
    // rows — a deadOverride carrying absent ids (which bypasses
    // delete()'s validation) must not shrink the hint [ADVICE r4]
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    val n = manifest.num_docs
    val deadArr = dead.filter(id => id >= 0 && id < n).toArray.sorted
    // r7 fast path: the docstore already holds dense old ids 0..n-1 AND
    // every derived column compaction would recompute (content_sha,
    // doc_len, cluster_id — all deterministic, centroids are FIXED like
    // the reference's never-retraining delete,
    // /root/reference/src/utils.jl:90-105). The new dense id in old-id
    // order is a pure shift (old_id − #dead below it), so one broadcast
    // sorted tombstone array serves BOTH the tombstone filter (the old
    // anti-join) and the id re-rank (the old keys-pass + rank collect):
    // the whole docstore side of the rebuild collapses to one map-side
    // expression + the write.
    val deadBc = spark.sparkContext.broadcast(deadArr)
    val survivors = IndexSchemas.readDocstore(spark, indexDir)
      .withColumn("_nid",
        graft.functions.TombstoneShiftExpr.col(col("doc_id"), deadBc))
      .filter(col("_nid") >= 0)
      .select(col("_nid").as("doc_id"),
        col("repo"), col("path"), col("commit"), col("lang"),
        col("content"), col("cluster_id"), col("doc_len"),
        col("content_sha"))
    IndexBuilder.buildFromSource(spark, survivors, outDir,
      IndexBuilder.BuildConfig(resume = false,
        distance = graft.cluster.Distance.byName(manifest.distance)),
      idOrder = Seq("doc_id"),
      lineageName = s"compact($indexDir)",
      knownRows = n - deadArr.length,
      fixedCentroids = Some(manifest.centroids),
      preAssigned = Some(IndexBuilder.PreAssignedSource(
        // postings via decode→shift→re-encode of the source blocks —
        // the docstore write above is then compaction's ONLY content
        // pass (see IndexBuilder.transformBlocks)
        transformFrom = Some((indexDir, deadBc)))))
  }

  /** M7: exact reconstruction from the lossless docstore. */
  def fetchDocs(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Array[Row] =
    IndexSchemas.readDocstore(spark, indexDir)
      .filter(col("doc_id").isin(docIds: _*))
      .orderBy("doc_id")
      .collect()

  private def liveIds(spark: SparkSession, indexDir: String) = {
    val dead = loadTombstones(indexDir)
    import spark.implicits._
    IndexSchemas.readDocstore(spark, indexDir)
      .join(broadcast(dead.toSeq.toDF("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** M3 `pop!`: reconstruct + tombstone the highest live id. Dense-id
    * restoration happens at the next [[compact]], like the reference's
    * deferred shift.
    */
  def popLast(spark: SparkSession, indexDir: String): Option[Row] = {
    val last = liveIds(spark, indexDir).orderBy(col("doc_id").desc).limit(1)
      .collect().headOption
    last.foreach(r => delete(indexDir, Seq(r.getAs[Long]("doc_id"))))
    last
  }

  /** M4 `popfirst!`: reconstruct + tombstone the lowest live id. */
  def popFirst(spark: SparkSession, indexDir: String): Option[Row] = {
    val first = liveIds(spark, indexDir).orderBy(col("doc_id").asc).limit(1)
      .collect().headOption
    first.foreach(r => delete(indexDir, Seq(r.getAs[Long]("doc_id"))))
    first
  }

  /** M2 `pushfirst!`: prepend — new docs get ids 0..k-1, ALL existing
    * ids shift up by k (/root/reference/src/utils.jl:2-6). Inherently a
    * full rewrite (the reference warns the same); expressed as one
    * compaction-style rebuild into `outDir` ordered (new-first, then
    * old ids).
    */
  def prepend(spark: SparkSession, indexDir: String,
      newSource: DataFrame, outDir: String): IndexBuilder.BuildResult = {
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    val existing = liveIds(spark, indexDir)
      .select(lit(1).as("prio"), col("doc_id").as("old_doc_id"),
        col("repo"), col("path"), col("commit"), col("lang"), col("content"))
    val fresh = newSource
      .select(lit(0).as("prio"), lit(-1L).as("old_doc_id"),
        col("repo"), col("path"), col("commit"), col("lang"), col("content"))
    // like push!, pushfirst! encodes under the EXISTING quantizer
    // (/root/reference/src/utils.jl:2-6 never retrains): centroids ride
    // through as fixed
    IndexBuilder.buildFromSource(spark, fresh.unionAll(existing), outDir,
      IndexBuilder.BuildConfig(resume = false,
        distance = graft.cluster.Distance.byName(manifest.distance)),
      idOrder = Seq("prio", "old_doc_id", "repo", "path", "commit"),
      lineageName = s"prepend($indexDir)",
      fixedCentroids = Some(manifest.centroids))
  }
}
