package graft.maintain

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, IndexFiles, IndexManifest, IndexSchemas,
  InputLineage, ManifestIO}
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
  *  - [[delete]]  = `delete_from_index!` (M5): a tombstone set in the
  *    manifest — O(1) visibility-only delete; queries filter tombstoned
  *    docs before top-k selection.
  *  - [[compact]] = the deferred id-shift (M8,
  *    the reference's `src/utils.jl:16-20`): rewrites the index into a new
  *    snapshot directory with survivors re-ranked DENSE IN OLD-ID ORDER —
  *    identical semantics to the reference's "shift all higher ids
  *    down", executed as one batch job instead of per-delete.
  *  - [[fetchDocs]] = `_decode_point` (M7): the docstore is lossless, so
  *    reconstruction is exact (the reference's PQ reconstruction is
  *    lossy).
  *
  * Every mutation sweeps what a crashed predecessor left, writes new part
  * files beside the live ones and commits with one manifest write
  * ([[IndexSchemas.commit]]): a crash before it leaves the old snapshot.
  * [[compact]] rewrites the index it read into `outDir` and commits
  * there once, leaving the source as it was; [[prepend]] builds into a
  * fresh `outDir`.
  */
object Maintenance {

  private def manifestOf(indexDir: String): IndexManifest = {
    val m = ManifestIO.read(s"$indexDir/manifest.json")
    IndexSchemas.sweep(indexDir, m)
    m
  }

  def loadTombstones(indexDir: String): Set[Long] =
    ManifestIO.read(s"$indexDir/manifest.json").tombstones.toSet

  /** M5: tombstone docIDs (idempotent, merges with existing). Every id
    * must name a doc of the index, i.e. lie in [0, num_docs): a tombstone
    * past the end would hide the doc the next append gives that id.
    */
  def delete(indexDir: String, docIds: Seq[Long]): Unit = {
    val manifest = manifestOf(indexDir)
    val n = manifest.num_docs
    val bad = docIds.filter(id => id < 0 || id >= n).distinct.sorted
    require(bad.isEmpty,
      s"delete: ids outside [0, $n): ${bad.mkString(", ")}")
    IndexSchemas.commit(indexDir, manifest.copy(tombstones =
      (manifest.tombstones ++ docIds).distinct.sorted))
  }

  /** M1: append an F1-shaped batch of new source files as a mini-segment.
    * New docIDs = num_docs + rank within the batch by (repo,path,commit).
    * The batch runs the build's docstore writer, then the build's
    * encoder over the rows it stored (so the postings index exactly the
    * stored content), both into the live table dirs under new names. The
    * manifest is a copy of the one read, updated from what the append's
    * own jobs observed: per-cluster doc counts on the docstore write,
    * block stats and segments from the encode accumulators, vocab from
    * the dictionary write.
    */
  def append(spark: SparkSession, indexDir: String, newSource: DataFrame): Unit =
    append(spark, indexDir, newSource, None)

  /** [[append]] that commits `streamBatch` as the manifest's last stream
    * batch in the same manifest write; returns the number of docs added.
    */
  private[graft] def append(spark: SparkSession, indexDir: String,
      newSource: DataFrame, streamBatch: Option[Long]): Long = {
    val manifest = manifestOf(indexDir)
    val batch = streamBatch.getOrElse(manifest.stream_batch)
    // appended segments REUSE the base build's granule window so every
    // block — old or new — stays inside one (cluster, window) granule
    // and query-side granule splits remain safe
    val window = manifest.granule_window
    val dense = Corpus.docsFromCounted(newSource,
      idOffset = manifest.num_docs)
    // an empty batch adds nothing
    if (dense.numRows == 0) {
      dense.unpersist()
      if (streamBatch.nonEmpty)
        IndexSchemas.commit(indexDir, manifest.copy(stream_batch = batch))
      return 0L
    }
    val (m, docFiles) = try IndexBuilder.writeDocstore(dense.df, indexDir,
        manifest.centroids, graft.cluster.Distance.byName(manifest.distance),
        Map.empty, window, minId = manifest.num_docs)
      finally dense.unpersist()
    // avgdl is held until compaction; an empty index has none to hold
    // and takes its first batch's
    val avgdl = if (manifest.num_docs > 0) manifest.avgdl
      else IndexBuilder.CorpusStats(dense.numRows,
        m("sum_dl").asInstanceOf[Long]).avgdl

    val segOffset = (manifest.segments.map(_.segment_id) :+ 0).max + 1
    val (blocks, acc, cacc) = IndexBuilder.encodeBlocks(spark,
      IndexSchemas.read(spark, s"$indexDir/docstore", IndexSchemas.docstore,
        docFiles),
      avgdl, segOffset, window)
    val postings = manifest.files.postings ++
      IndexBuilder.writeParts(blocks, s"$indexDir/postings")

    val nNew = manifest.num_docs + dense.numRows
    val (vocab, dictionary) =
      IndexBuilder.writeDictionary(spark, indexDir, postings, nNew)
    IndexSchemas.commit(indexDir, manifest.copy(
      num_docs = nNew,
      avgdl = avgdl,
      vocab_size = vocab,
      lineage = manifest.lineage.copy(num_source_rows = nNew),
      partitions = IndexBuilder.addToPartitions(manifest.partitions,
        IndexBuilder.observedDocCounts(m, manifest.kc), cacc.value.asScala.toSeq),
      segments = (manifest.segments ++ acc.value.asScala)
        .sortBy(_.segment_id),
      files = manifest.files.copy(docstore = manifest.files.docstore ++ docFiles,
        postings = postings, dictionary = dictionary),
      stream_batch = batch))
    dense.numRows
  }

  /** Segment merge (north_star: "merge partition-local segments into a
    * global index") — the Lucene forceMerge analog: consolidates the
    * fragmented blocks left by appends into minimal full blocks per
    * (cluster, granule, term), WITHOUT touching the docstore or docIDs.
    * Also refreshes avgdl/idf exactly over the current corpus (append
    * holds them stale by design). A postings-only rewrite: no tokenize
    * pass. The blocks re-encode through the build's encoder
    * ([[IndexBuilder.transformBlocks]] with no tombstones, so docIDs
    * stay put): merged blocks stay granule-contained, which the
    * query-side split key relies on.
    */
  def mergeSegments(spark: SparkSession, indexDir: String): Unit = {
    val manifest = manifestOf(indexDir)

    // exact refreshed stats (Long sums → deterministic)
    val statsRow = IndexSchemas.readDocstore(spark, indexDir, manifest)
      .agg(count(lit(1)), sum(col("doc_len"))).head()
    val n = statsRow.getLong(0)
    val avgdl = IndexBuilder.CorpusStats(n,
      if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)).avgdl

    // docs and their clusters are unchanged; blocks and segments are new
    IndexSchemas.commit(indexDir, rewritePostings(spark, indexDir, manifest,
      indexDir, spark.sparkContext.broadcast(Array.emptyLongArray),
      manifest.copy(num_docs = n, avgdl = avgdl,
        lineage = manifest.lineage.copy(num_source_rows = n))))
  }

  /** The postings rewrite of merge and compaction: decodes the blocks
    * `from` lists under `indexDir`, drops the ids in `dead` and shifts
    * the rest ([[IndexBuilder.transformBlocks]]), re-encodes them under
    * `to`'s avgdl and granule window into `outDir`, and refreshes the
    * dictionary there from the new blocks. Returns `to` with the new
    * blocks' files, segments, per-cluster stats and vocabulary.
    *
    * Each cluster's blocks decode in one task (hash placement on
    * cluster_id; a segment id is the partition id). A read split packs
    * part files by size, so without it one task could hold a term's
    * blocks from two batches and another task the blocks of the batch
    * between them, and their new blocks would overlap in doc range.
    */
  private def rewritePostings(spark: SparkSession, indexDir: String,
      from: IndexManifest, outDir: String,
      dead: Broadcast[Array[Long]], to: IndexManifest): IndexManifest = {
    val (blocks, acc, cacc) = IndexBuilder.transformBlocks(spark,
      IndexSchemas.readPostings(spark, indexDir, from)
        .repartition(col("cluster_id")),
      dead, to.avgdl, segmentOffset = 0, to.granule_window)
    val postings = IndexBuilder.writeParts(blocks, s"$outDir/postings")
    val (vocab, dictionary) =
      IndexBuilder.writeDictionary(spark, outDir, postings, to.num_docs)
    to.copy(
      vocab_size = vocab,
      partitions = IndexBuilder.partitionMetas(
        to.partitions.map(p => p.cluster_id -> p.num_docs).toMap,
        IndexBuilder.sumClusterStats(cacc.value.asScala.toSeq)),
      segments = acc.value.asScala.toSeq.sortBy(_.segment_id),
      files = to.files.copy(postings = postings, dictionary = dictionary))
  }

  /** M5/M8 compaction: survivors re-ranked dense in OLD-id order into a
    * fresh snapshot directory (avgdl/idf refreshed there). The
    * tombstone set defaults to the manifest's tombstones; passing
    * `deadOverride` compacts against an explicit set WITHOUT mutating
    * the source index (read-only source — e.g. benchmark harnesses that
    * must not leave tombstones behind for later queries).
    *
    * A rewrite of the index it read, like [[mergeSegments]]: the
    * reference's `delete_from_index!` only shifts ids and never retrains
    * the coarse quantizer (its `src/utils.jl:90-105`), so the
    * docstore rows keep their stored cluster, length and sha, the
    * postings re-encode through [[IndexBuilder.transformBlocks]], and
    * the quantizer and its coarse graph carry over. Both tables are read
    * from the one manifest, and `outDir` commits once.
    */
  def compact(spark: SparkSession, indexDir: String, outDir: String,
      deadOverride: Option[Set[Long]] = None): IndexBuilder.BuildResult = {
    val t0 = System.nanoTime()
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    val dead = deadOverride.getOrElse(manifest.tombstones.toSet)
    // docstore ids are dense 0..num_docs-1, so only dead ids inside that
    // range remove rows — a deadOverride carrying absent ids (which
    // bypasses delete()'s validation) must not shrink the count
    val deadArr = dead.filter(id => id >= 0 && id < manifest.num_docs)
      .toArray.sorted
    val n = manifest.num_docs - deadArr.length
    // the new dense id in old-id order is a pure shift (old_id − #dead
    // below it), so one broadcast sorted tombstone array serves both the
    // tombstone filter and the id re-rank, of docs and of postings alike
    val deadBc = spark.sparkContext.broadcast(deadArr)
    // what an earlier compaction into outDir left
    IndexSchemas.clearTemporary(outDir)
    val survivors = IndexSchemas.readDocstore(spark, indexDir, manifest)
      .withColumn("_nid",
        graft.functions.TombstoneShiftExpr.col(col("doc_id"), deadBc))
      .filter(col("_nid") >= 0)
      .select(col("_nid").as("doc_id"),
        col("repo"), col("path"), col("commit"), col("lang"),
        col("content"), col("cluster_id"), col("doc_len"),
        col("content_sha"))
    val (stats, docCounts, docFiles) = IndexBuilder.writeAssignedDocstore(
      survivors, outDir, manifest.kc, n)
    val compacted = rewritePostings(spark, indexDir, manifest, outDir, deadBc,
      manifest.copy(
        num_docs = n,
        avgdl = stats.avgdl,
        granule_window = stats.granule_window,
        lineage = InputLineage(s"compact($indexDir)", n),
        partitions = IndexBuilder.partitionMetas(docCounts, Map.empty),
        files = IndexFiles(docFiles, Nil, Nil),
        tombstones = Array.emptyLongArray,
        stream_batch = -1L,
        // no build computes it: a resumed build over outDir rebuilds
        // instead of taking the compacted index for a finished build
        fingerprint = s"compact of ${manifest.fingerprint}"))
    IndexSchemas.commit(outDir, compacted)
    val millis = (System.nanoTime() - t0) / 1000000L
    IndexBuilder.BuildResult(compacted, millis,
      n * 1000.0 / math.max(1L, millis), Seq("compact"), Nil)
  }

  /** M7: exact reconstruction from the lossless docstore. */
  def fetchDocs(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Array[Row] =
    IndexSchemas.readDocstore(spark, indexDir)
      .filter(col("doc_id").isin(docIds: _*))
      .orderBy("doc_id")
      .collect()

  private def liveIds(spark: SparkSession, indexDir: String) = {
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    IndexSchemas.readDocstore(spark, indexDir, manifest)
      .filter(!col("doc_id").isin(manifest.tombstones.toSeq: _*))
  }

  /** M3 `pop!`: reconstruct + tombstone the highest live id. Dense-id
    * restoration happens at the next [[compact]], like the reference's
    * deferred shift.
    */
  def popLast(spark: SparkSession, indexDir: String): Option[Row] =
    pop(indexDir, liveIds(spark, indexDir).orderBy(col("doc_id").desc))

  /** M4 `popfirst!`: reconstruct + tombstone the lowest live id. */
  def popFirst(spark: SparkSession, indexDir: String): Option[Row] =
    pop(indexDir, liveIds(spark, indexDir).orderBy(col("doc_id").asc))

  private def pop(indexDir: String, ordered: DataFrame): Option[Row] = {
    val row = ordered.limit(1).collect().headOption
    row.foreach(r => delete(indexDir, Seq(r.getAs[Long]("doc_id"))))
    row
  }

  /** M2 `pushfirst!`: prepend — new docs get ids 0..k-1, ALL existing
    * ids shift up by k (/root/reference/src/utils.jl:2-6). Inherently a
    * full rewrite (the reference warns the same); expressed as one
    * build into `outDir` ordered (new-first, then old ids).
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
