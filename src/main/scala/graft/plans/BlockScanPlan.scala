package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.build.{IndexManifest, IndexSchemas}

/** The one block-scan operator behind every index read path shaped like
  * the paper's query (scan the probed clusters' posting lists, do
  * per-list work, merge): term-pushed, partition-pruned block scan →
  * `(cluster_id, _split)` exchange → `(cluster, split, term, first_doc)`
  * sort → per-group [[BlockKernel]] (WAND top-k in `IndexSearcher.topK`,
  * phrase adjacency in `PhraseSearch.search`).
  *
  * A FIRST-CLASS Catalyst operator (SURVEY.md §7.3): [[BlockScanStrategy]]
  * plans the logical [[BlockScan]] into [[BlockScanExec]], which DECLARES
  * its distribution and ordering so EnsureRequirements inserts the
  * exchange and the local sort; `EXPLAIN` shows it with its SQL metrics.
  */

/** Per-group work of a [[BlockScan]]. Granule containment keeps every
  * block of a doc, for every term, inside one `(cluster_id, _split)`
  * group, so a kernel sees each doc whole.
  */
abstract class BlockKernel extends Serializable {

  /** Columns the scan reads; include `term`, `cluster_id`, `first_doc`. */
  def columns: Seq[String]

  /** DDL schema of the rows [[group]] emits. */
  def output: String

  /** One group's output rows, from its block rows by term (each term's
    * in `first_doc` order; `at(i)` is the ordinal of `columns(i)`); adds
    * the blocks it decompresses to `decoded`.
    */
  def group(cluster: Int,
      byTerm: collection.Map[String, collection.IndexedSeq[InternalRow]],
      at: Array[Int], decoded: SQLMetric): Iterator[InternalRow]

  /** EXPLAIN label (query context can be large, e.g. tombstones). */
  override def toString: String = getClass.getSimpleName
}

/** Logical: run `kernel` over `child`, a posting-block relation carrying
  * the kernel's columns and `_split`.
  */
case class BlockScan(
    kernel: BlockKernel,
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  // output attrs live in the constructor so `copy`/withNewChild keep
  // their exprIds STABLE across analyzer/optimizer rewrites (parents
  // reference them by id); `frame` mints fresh ids per scan
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // the kernel reads every child column: column pruning under a parent
  // that needs none of them (e.g. a count) must leave the child whole
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): BlockScan =
    copy(child = newChild)
}

object BlockScan {

  /** The index's granule window: `(cluster_id, doc_id div window)` is the
    * build's granule key and every posting block lies inside one
    * granule. A pre-r2 manifest has no window (0): one unbounded window.
    */
  def window(manifest: IndexManifest): Long =
    if (manifest.granule_window > 0) manifest.granule_window
    else Long.MaxValue

  /** `kernel` over the posting blocks of `terms` — restricted to
    * `clusters` when the caller probes (partition pruning), `term`
    * pushed down, only the kernel's columns read. `_split` spreads a hot
    * cluster over up to `splitsPerCluster` tasks; it is a function of
    * the granule, so it never cuts a doc's blocks apart (pre-r2
    * manifests: one split).
    */
  def frame(
      spark: SparkSession,
      indexDir: String,
      manifest: IndexManifest,
      kernel: BlockKernel,
      terms: Seq[String],
      clusters: Option[Seq[Int]],
      splitsPerCluster: Int): DataFrame = {
    val splits = if (manifest.granule_window > 0) splitsPerCluster else 1
    val inClusters =
      clusters.fold(lit(true))(cs => col("cluster_id").isin(cs: _*))
    val blocks = IndexSchemas.readPostings(spark, indexDir)
      .filter(inClusters && col("term").isin(terms: _*))
      .select(kernel.columns.map(col): _*)
      .withColumn("_split",
        pmod(expr(s"first_doc div ${window(manifest)}"), lit(splits)))
    BlockScanStrategy.setup(spark)
    GraftColumnBridge.ofRows(spark, BlockScan(kernel,
      StructType.fromDDL(kernel.output)
        .map(f => AttributeReference(f.name, f.dataType, nullable = false)()),
      GraftColumnBridge.logicalPlan(blocks)))
  }
}

object BlockScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case bs: BlockScan =>
      BlockScanExec(bs.kernel, bs.output, planLater(bs.child)) :: Nil
    case _ => Nil
  }

  /** Idempotent per-session registration (experimental.extraStrategies —
    * the public extension point; cf. SNIPPETS.md [1]).
    */
  def setup(spark: SparkSession): Unit =
    GraftColumnBridge.addStrategy(spark, this)
}

case class BlockScanExec(
    kernel: BlockKernel,
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "blocksIn" -> SQLMetrics.createMetric(sparkContext, "blocks in"),
    "blocksDecoded" -> SQLMetrics.createMetric(sparkContext, "blocks decoded"),
    "groups" -> SQLMetrics.createMetric(sparkContext, "groups"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext,
      "number of output rows"))

  private def childAttr(name: String): Attribute =
    child.output.find(_.name == name).getOrElse(
      throw new IllegalStateException(s"BlockScanExec child lacks $name"))

  /** Each (cluster, split) group must be co-located… */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(
      Seq(childAttr("cluster_id"), childAttr("_split"))) :: Nil

  /** …and sorted so the kernel can STREAM one group at a time. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq("cluster_id", "_split", "term", "first_doc")
      .map(n => SortOrder(childAttr(n), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    def ord(n: String): Int = child.output.indexOf(childAttr(n))
    val (iCluster, iSplit, iTerm) = (ord("cluster_id"), ord("_split"), ord("term"))
    val at = kernel.columns.map(ord).toArray
    val k = kernel
    val types = output.map(_.dataType).toArray
    val (blocksIn, decoded, groups, outRows) = (metrics("blocksIn"),
      metrics("blocksDecoded"), metrics("groups"), metrics("numOutputRows"))
    child.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(types)
      val buf = rows.buffered
      def inGroup(cluster: Int, split: Long): Boolean = buf.hasNext &&
        buf.head.getInt(iCluster) == cluster && buf.head.getLong(iSplit) == split
      // stream one (cluster, split) group at a time: retained heap is one
      // group's blocks, never the whole task [VERDICT r1 #4]
      new Iterator[Iterator[InternalRow]] {
        def hasNext: Boolean = buf.hasNext
        def next(): Iterator[InternalRow] = {
          val (cluster, split) = (buf.head.getInt(iCluster), buf.head.getLong(iSplit))
          val byTerm = scala.collection.mutable.LinkedHashMap
            .empty[String, scala.collection.mutable.ArrayBuffer[InternalRow]]
          while (inGroup(cluster, split)) {
            val r = buf.next().copy() // the child reuses its row
            byTerm.getOrElseUpdate(r.getUTF8String(iTerm).toString,
              scala.collection.mutable.ArrayBuffer.empty) += r
            blocksIn += 1
          }
          groups += 1
          k.group(cluster, byTerm, at, decoded)
        }
      }.flatten.map { r => outRows += 1; proj(r): InternalRow }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BlockScanExec =
    copy(child = newChild)
}
