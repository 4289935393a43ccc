package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.build.ManifestIO
import graft.cluster.CoarseClusterer
import graft.model.ScorerBlock
import graft.plans.{BlockKernel, BlockScan}

/** Index-backed top-k BM25 — entry point 2 of the reference
  * (`knn_search`, /root/reference/src/index.jl:204-258) re-expressed as
  * the graft lifecycle (SURVEY.md §3.2):
  *
  *   query terms → idf lookup (dictionary scan pruned to the terms) →
  *   probed clusters (driver argsort over manifest centroids — Q2 — or
  *   the persisted kNN graph's greedy probe — Q3) →
  *   [[graft.plans.BlockScan]]: postings scan with PARTITION PRUNING on
  *   cluster_id + predicate pushdown on term → one (cluster_id, granule
  *   split) exchange so a hot cluster fans out over several tasks →
  *   sorted-run STREAMING block-max WAND kernel ([[WandKernel]]) with
  *   local bounded top-k (Q6/Q7) → global merge (valid because granule
  *   containment keeps each doc's whole score in one split).
  *
  * Batch queries (Q8) run in the SAME job: each group's term lists are
  * decoded once and reused across all queries probing that cluster —
  * where Spark beats the reference's sequential query loop
  * (/root/reference/src/index.jl:261-273).
  *
  * `w` is the probe width of the reference (`knn_search(..., w)`,
  * /root/reference/src/index.jl:207): w >= kc probes everything (exact
  * BM25, rank-identical to the SQL path and DuckDB); w < kc prunes to
  * the w nearest clusters by centroid distance (approximate, like the
  * reference's default w=1).
  */
object IndexSearcher {

  /** Query-side splits per cluster: a hot cluster's scoring fans out
    * over up to this many tasks instead of serializing on one core. The
    * split key is the build's granule ([[graft.plans.BlockScan.frame]]):
    * every posting block (any term) of a doc lies in the doc's granule,
    * so each doc's whole score stays in ONE task — per-split WAND top-k
    * merge exactly like per-cluster top-k does.
    */
  val SplitsPerCluster = 4

  /** kc above which probed-cluster selection routes through the
    * persisted kNN graph (Q3) instead of the naive argsort (Q2) —
    * mirroring the reference's dual coarse-quantizer constructors
    * (naive is "simple", HNSW is "fast!" per its docs; both exercised
    * by /root/reference/test/search.jl:3).
    */
  val GraphProbeKcThreshold = 64

  /** Memo for graphs REBUILT at query time (manifest has no usable
    * persisted adjacency: pre-r2, or a metric-mismatched stamp): the
    * deterministic driver-side rebuild is paid once per (indexDir,
    * metric) per JVM instead of once per query batch. Maintenance
    * rewrites land in NEW dirs, but an in-place full rebuild (bench
    * passes) can change a dir's centroids — the cached entry is
    * verified against the manifest's centroids and replaced on
    * mismatch, so a stale graph is unrepresentable. Bounded: cleared
    * wholesale past 16 dirs (rebuilds are cheap relative to unbounded
    * growth).
    */
  private val rebuiltGraphs = new java.util.concurrent.ConcurrentHashMap[
    (String, String),
    (Array[Array[Double]], graft.cluster.GraphCoarseSearch)]()

  private def rebuiltGraph(indexDir: String, metricName: String,
      centroids: Array[Array[Double]], metric: graft.cluster.Distance):
      graft.cluster.GraphCoarseSearch = {
    val key = (indexDir, metricName)
    val cached = rebuiltGraphs.get(key)
    if (cached != null && java.util.Arrays.deepEquals(
        cached._1.asInstanceOf[Array[AnyRef]],
        centroids.asInstanceOf[Array[AnyRef]])) cached._2
    else {
      val g = graft.cluster.GraphCoarseSearch(centroids, metric = metric)
      if (rebuiltGraphs.size >= 16) rebuiltGraphs.clear()
      rebuiltGraphs.put(key, (centroids, g))
      g
    }
  }

  def topK(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[(Int, Seq[String])],
      k: Int,
      w: Int = Int.MaxValue,
      splitsPerCluster: Int = SplitsPerCluster,
      graphProbe: Option[Boolean] = None,
      // graph-probe recall knob (the HNSW ef parameter); 0 = auto
      // (max(16, 2w) — small kc degenerates to exact)
      ef: Int = 0): DataFrame = {
    // the reference's knn_search argument checks
    // (/root/reference/src/index.jl:210-211); w > kc clamps like its
    // `w = min(w, nclusters)`
    require(k >= 1, s"number of neighbors must be k >= 1, got $k")
    require(w >= 1, s"number of clusters to search must be w >= 1, got $w")

    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    val kc = manifest.kc
    val centroids = manifest.centroids
    val metric = graft.cluster.Distance.byName(manifest.distance)
    // the graph is built AND probed under the index's coarse metric
    // (r4; it used to be SqEuclidean-only with a silent naive fallback
    // for any other Dc — exactly when the sub-linear probe mattered)
    val useGraph = graphProbe.getOrElse(kc > GraphProbeKcThreshold)
    // P2: the persisted adjacency when present AND built under this
    // index's metric, else a deterministic rebuild. A manifest recording
    // no build metric ("" — pre-r5) is trusted only for sqeuclidean:
    // every earlier builder built SqEuclidean edges for that case, while
    // a non-sqeuclidean index with an unstamped graph may hold pre-r4
    // SqEuclidean edges whose probe would silently degrade recall
    // [ADVICE r4]
    val graphMetricOk =
      manifest.coarse_graph_metric == manifest.distance ||
        (manifest.coarse_graph_metric.isEmpty &&
          manifest.distance == "sqeuclidean")
    lazy val graph =
      if (manifest.coarse_graph.nonEmpty && graphMetricOk)
        new graft.cluster.GraphCoarseSearch(centroids, manifest.coarse_graph,
          manifest.coarse_graph_upper, metric)
      else rebuiltGraph(indexDir, manifest.distance, centroids, metric)
    val parsed = queries.map { case (qid, terms) =>
      val withQtf = terms.groupBy(identity).toArray
        .map { case (t, occ) => (t, occ.length) }
        .sortBy(_._1)
      val probed: Set[Int] =
        if (w >= kc) (0 until kc).toSet
        else {
          val feat = CoarseClusterer
            .features(terms)
            .map(_.toDouble)
          if (useGraph)
            // Q3 coarse search: greedy graph probe over the persisted
            // kNN adjacency; ef defaults high enough that small kc
            // degenerates to exact (GraphCoarseSearchSpec property)
            graph.probe(feat, w,
              ef = if (ef > 0) ef else math.max(16, 2 * w)).toSet
          else
            // Q2 coarse search: distance of the query's term-vector to
            // each centroid, take top-w (ties toward lower cluster id —
            // matches the reference's stable sortperm).
            CoarseClusterer.distances(feat, centroids, metric)
              .zipWithIndex
              .sortBy { case (d, c) => (d, c) }
              .take(w)
              .map(_._2)
              .toSet
        }
      (qid, withQtf, probed)
    }

    val allTerms = parsed.flatMap(_._2.map(_._1)).distinct
    val allClusters = parsed.flatMap(_._3).toSet.toSeq.sorted

    // dictionary idf for the query terms (predicate pushdown on term;
    // r7: explicit schema — no per-query footer-inference pass)
    val idfMap: Map[String, Double] = graft.build.IndexSchemas
      .readDictionary(spark, indexDir)
      .filter(col("term").isin(allTerms: _*))
      .select("term", "idf")
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .toMap

    // the block scan prunes to the probed clusters and the query terms
    // and never reads the positions payload (the heaviest column);
    // each (cluster, split) group keeps its COMPRESSED blocks, lazily
    // decoded by the WAND cursors [VERDICT r1 #4]
    val kernel = WandKernel(parsed, idfMap,
      graft.maintain.Maintenance.loadTombstones(indexDir), manifest.avgdl, k)
    val localHits = BlockScan.frame(spark, indexDir, manifest, kernel,
      allTerms, Some(allClusters), splitsPerCluster)

    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    localHits
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score")
      .orderBy("query_id", "rank")
  }
}

/** Block-max WAND top-k per (cluster, split) group, for every query
  * probing the group's cluster: (query_id, doc_id, score) local hits.
  * Each term's blocks become one [[Wand.LazyBlockList]], decoded only
  * where a cursor lands; the lists are shared by all queries of a batch.
  */
case class WandKernel(
    queries: Seq[(Int, Array[(String, Int)], Set[Int])], // (qid, (term, qtf)*, probed clusters)
    idf: Map[String, Double],
    tombstones: Set[Long],
    avgdl: Double,
    k: Int) extends BlockKernel {

  def columns: Seq[String] = Seq("term", "cluster_id", "first_doc",
    "last_doc", "count", "block_max", "doc_gaps", "tfs", "dls")

  def output: String = "query_id INT, doc_id BIGINT, score DOUBLE"

  def group(cluster: Int,
      byTerm: collection.Map[String, collection.IndexedSeq[InternalRow]],
      at: Array[Int], decoded: SQLMetric): Iterator[InternalRow] = {
    val cursors = byTerm.map { case (t, rows) =>
      t -> new Wand.LazyBlockList(rows.map(r => ScorerBlock(t, cluster,
        r.getLong(at(2)), r.getLong(at(3)), r.getInt(at(4)), r.getDouble(at(5)),
        r.getBinary(at(6)), r.getBinary(at(7)), r.getBinary(at(8)))).toArray,
        1.0, idf.getOrElse(t, 0.0), avgdl)
    }
    val hits = queries.iterator
      .filter(_._3.contains(cluster))
      .flatMap { case (qid, terms, _) =>
        val lists: Array[Wand.PostingCursor] =
          terms.flatMap { case (t, qtf) =>
            cursors.get(t).map { c =>
              if (qtf == 1) c: Wand.PostingCursor
              else new Wand.WeightedCursor(c, qtf.toDouble)
            }
          }
        Wand.topK(lists, k, tombstones.contains)
          .map(h => new GenericInternalRow(Array[Any](qid, h.docId, h.score)))
      }
      .toArray
    decoded += cursors.valuesIterator.map(_.decodedBlocks.toLong).sum
    hits.iterator
  }
}
