package graft.build

import java.nio.charset.StandardCharsets
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
    docstore: Seq[String] = Nil,
    postings: Seq[String] = Nil,
    dictionary: Seq[String] = Nil)

/** The index manifest — the graft analog of the reference's persisted
  * header + centroids (/root/reference/src/persistency.jl:22-41): all
  * global stats, BM25 params, the coarse-quantizer centroids, and
  * per-partition/per-segment lineage + metrics. Parquet segments +
  * this JSON manifest emulate an Iceberg snapshot (no Iceberg jar in
  * /opt/spark/jars — documented in SURVEY.md §7.0): the manifest lists
  * the live files, tombstones and last stream batch, readers read only
  * what it lists, and writing it is the one commit point of every
  * mutation.
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
    // query-side probe ordering must use the same metric
    distance: String = "sqeuclidean",
    // (cluster_id, doc_id div granule_window) is the build's granule
    // key: every posting block lies inside one granule, so the window is
    // also a SAFE query-side secondary split key (all of a doc's blocks
    // across terms share its granule). 0 in pre-r2 manifests.
    granule_window: Long = 0L,
    centroids: Array[Array[Double]],
    // P2 graft (/root/reference/src/persistency.jl:163-241): the coarse
    // quantizer's kNN graph adjacency, serialized with the index and
    // reloaded at open instead of rebuilt (empty in pre-r2 manifests →
    // searchers rebuild deterministically)
    coarse_graph: Array[Array[Int]] = Array.empty,
    // upper HNSW layers (index 0 = level 1) — nonempty only beyond
    // GraphCoarseSearch.ExactKnnMax, where the layered incremental
    // build replaces the exact kNN edges (r3; the reference's
    // HierarchicalNSW layers, /root/reference/src/coarsequantizers.jl:58)
    coarse_graph_upper: Array[Array[Array[Int]]] = Array.empty,
    // metric the persisted graph's edges were BUILT under [ADVICE r4]:
    // pre-r4 builders always built SqEuclidean edges regardless of
    // `distance`, so a non-sqeuclidean index must not silently probe a
    // mismatched graph — searchers rebuild when this doesn't match
    // `distance` ("" in pre-r5 manifests)
    coarse_graph_metric: String = "",
    lineage: InputLineage,
    partitions: Seq[PartitionMeta],
    segments: Seq[SegmentMeta],
    files: IndexFiles = IndexFiles(),
    // deleted doc ids, ascending
    tombstones: Array[Long] = Array.emptyLongArray,
    // last stream micro-batch applied (−1: none)
    stream_batch: Long = -1L)

object ManifestIO {

  /** The manifest's `version`; also in the build's resume fingerprint
    * and the cached index dir name.
    */
  val FormatVersion = 7

  private val mapper = new ObjectMapper()
  mapper.registerModule(DefaultScalaModule)
  mapper.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def write(path: String, m: IndexManifest): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(m))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def read(path: String): IndexManifest = {
    val m = mapper.readValue(
      new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8),
      classOf[IndexManifest])
    if (m.version != FormatVersion) throw new IllegalStateException(
      s"$path has index format version ${m.version}, this code reads " +
        s"version $FormatVersion: rebuild the index")
    m
  }

  def exists(path: String): Boolean = Files.exists(Paths.get(path))
}
