package graft.build

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.model.PartitionMeta

/** Per-segment build lineage + metrics (a "segment" = one range-partition
  * build task; it may span cluster boundaries).
  */
case class SegmentMeta(
    segment_id: Int,
    num_postings: Long,
    num_blocks: Long,
    bytes: Long,
    build_millis: Long,
    postings_per_sec: Double,
    bytes_per_posting: Double)

/** Per-cluster encode stats, accumulated inside the posting-encode tasks
  * so the manifest step needs no postings scan. `build_millis` is the
  * encode (codec) time attributed to the cluster's blocks.
  */
case class ClusterStat(
    cluster_id: Int,
    num_postings: Long,
    num_blocks: Long,
    bytes: Long,
    build_millis: Long)

/** Input lineage recorded in the manifest (north_rule: per-partition
  * lineage; resume checks input identity before skipping steps).
  */
case class InputLineage(
    source_dir: String,
    num_source_rows: Long)

/** The live part files of the three tables, relative to each table dir
  * (`cluster_id=3/part-….parquet`), so a copied index stays valid.
  */
case class IndexFiles(
    docstore: Seq[String],
    postings: Seq[String],
    dictionary: Seq[String])

/** The index manifest — the graft analog of the reference's persisted
  * header + centroids (/root/reference/src/persistency.jl:22-41): all
  * global stats, BM25 params, the coarse-quantizer centroids, and
  * per-partition/per-segment lineage + metrics. Parquet segments +
  * this JSON manifest emulate an Iceberg snapshot (no Iceberg jar in
  * /opt/spark/jars — documented in SURVEY.md §7.0): the manifest lists
  * the live files, tombstones and last stream batch, readers read only
  * what it lists, and writing it is the one commit point of every
  * mutation.
  *
  * It is also the index's only state. A build commits it after each of
  * its steps and postings batches, recording what is done in
  * `build_done` under the build's `fingerprint`; a resumed build runs
  * what `build_done` lacks. It is complete once `build_done` holds
  * `manifest`, and readers read only a complete one.
  */
case class IndexManifest(
    version: Int,
    num_docs: Long,
    avgdl: Double,
    vocab_size: Long,
    kc: Int,
    feature_dim: Int,
    k1: Double,
    b: Double,
    round_scale: Int,
    // coarse-assignment metric name (the reference's Dc parameter);
    // query-side probe ordering, and the coarse graph's edges, use it
    distance: String,
    // (cluster_id, doc_id div granule_window) is the build's granule
    // key: every posting block lies inside one granule, so the window is
    // also a SAFE query-side secondary split key (all of a doc's blocks
    // across terms share its granule)
    granule_window: Long,
    centroids: Array[Array[Double]],
    // P2 graft (/root/reference/src/persistency.jl:163-241): the coarse
    // quantizer's kNN graph adjacency, serialized with the index and
    // reloaded at open instead of rebuilt
    coarse_graph: Array[Array[Int]],
    // upper HNSW layers (index 0 = level 1) — nonempty only beyond
    // GraphCoarseSearch.ExactKnnMax, where the layered incremental
    // build replaces the exact kNN edges (r3; the reference's
    // HierarchicalNSW layers, /root/reference/src/coarsequantizers.jl:58)
    coarse_graph_upper: Array[Array[Array[Int]]],
    lineage: InputLineage,
    partitions: Seq[PartitionMeta],
    segments: Seq[SegmentMeta],
    files: IndexFiles,
    // deleted doc ids, ascending
    tombstones: Array[Long],
    // last stream micro-batch applied (−1: none)
    stream_batch: Long,
    // the input, config and format the build ran under
    fingerprint: String,
    // the build steps and postings batches committed so far
    build_done: Seq[String]) {

  def complete: Boolean = build_done.contains("manifest")
}

object ManifestIO {

  /** The manifest's `version`; also in the build's resume fingerprint
    * and the cached index dir name.
    */
  val FormatVersion = 8

  private val mapper = new ObjectMapper()
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
  // every field must be present and non-null: a manifest missing its
  // file lists must not read as an index with no files
  mapper.configure(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES, true)
  mapper.configure(DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES, true)

  def write(path: String, m: IndexManifest): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(m))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The complete index snapshot at `path`. Fails on another format
    * version, an absent or null field, file lists that cannot hold the
    * index, or a build that has not finished.
    */
  def read(path: String): IndexManifest = {
    val m = parse(path)
    if (!m.complete) throw new IllegalStateException(
      s"$path is the manifest of an unfinished build " +
        s"(done: ${m.build_done.mkString(", ")}): resume or rerun the build")
    m
  }

  /** The build's resume read: any manifest at `path`, complete or not,
    * or None where [[read]]'s other checks fail (the build then starts
    * fresh).
    */
  private[build] def readForResume(path: String): Option[IndexManifest] =
    scala.util.Try(parse(path)).toOption

  private def parse(path: String): IndexManifest = {
    val tree = mapper.readTree(Files.readAllBytes(Paths.get(path)))
    val version = tree.path("version").asInt(-1)
    if (version != FormatVersion) throw new IllegalStateException(
      s"$path has index format version $version, this code reads " +
        s"version $FormatVersion: rebuild the index")
    val m = mapper.treeToValue(tree, classOf[IndexManifest])
    def check(ok: Boolean, what: String): Unit =
      if (!ok) throw new IllegalStateException(s"$path: $what")
    check(m.granule_window >= 1, s"granule_window ${m.granule_window} < 1")
    check(m.num_docs == 0 || m.files.docstore.nonEmpty,
      s"${m.num_docs} docs but no docstore file")
    check(m.vocab_size == 0 ||
      (m.files.postings.nonEmpty && m.files.dictionary.nonEmpty),
      s"${m.vocab_size} terms but no postings or dictionary file")
    m
  }
}
