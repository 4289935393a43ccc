package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.functions._

import graft.build.ManifestIO
import graft.codec.PostingCodec
import graft.plans.{BlockKernel, BlockScan}

/** Exact phrase search over the index's position payloads — the operator
  * that justifies storing `positions` in the posting blocks (north_star:
  * postings carry (docID, tf, positions)). Counts adjacency runs:
  * a phrase [t0, t1, ..., tm] occurs at p iff t_i has position p+i for
  * all i.
  *
  * Runs through the same [[graft.plans.BlockScan]] operator as the WAND
  * scorer: term-pushed block scan → (cluster_id, _split) exchange →
  * per-group [[PhraseKernel]] (decode docs + positions, merge-intersect
  * the phrase terms' doc lists, count adjacency) → the tiny output
  * gathered into one partition and sorted there.
  */
object PhraseSearch {

  /** (doc_id, occurrences) for docs containing the exact phrase,
    * ordered by (occurrences desc, doc_id asc).
    */
  def search(
      spark: SparkSession,
      indexDir: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "phrase needs >= 2 terms")
    val manifest = ManifestIO.read(s"$indexDir/manifest.json")
    // the hits are few: one partition sorts them locally, where a global
    // sort's range exchange would first sample its input and thereby
    // run the kernel a second time
    BlockScan.frame(spark, indexDir, manifest,
      PhraseKernel(phrase, manifest.tombstones.toSet), phrase.distinct, None,
      IndexSearcher.SplitsPerCluster)
      .repartition(1)
      .orderBy(col("occurrences").desc, col("doc_id").asc)
  }

  /** DuckDB oracle: adjacency self-joins over token positions. */
  def oracleSql(phrase: Seq[String]): String = {
    val toks = graft.tokenize.Tokenizer.sqlTokensExpr("content")
    val joins = phrase.zipWithIndex.tail.map { case (_, i) =>
      s"JOIN tok t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i"
    }.mkString("\n       |  ")
    val preds = phrase.zipWithIndex
      // doubled-quote escape: tokenizer vocabulary is [a-z0-9_] today,
      // but this signature accepts any Seq[String] — a quote in a term
      // must not break (or steer) the oracle SQL
      .map { case (t, i) => s"t$i.term = '${t.replace("'", "''")}'" }
      .mkString(" AND ")
    s"""WITH ${graft.sources.Corpus.sqlDocsCtes},
       |tok AS (
       |  SELECT doc_id, unnest($toks) AS term,
       |         generate_subscripts($toks, 1) AS pos
       |  FROM docs)
       |SELECT t0.doc_id, count(*) AS occurrences
       |FROM tok t0
       |  $joins
       |WHERE $preds
       |GROUP BY 1 ORDER BY occurrences DESC, t0.doc_id""".stripMargin
  }
}

/** Phrase adjacency per (cluster, split) group: (doc_id, occurrences)
  * for the group's live docs that hold `phrase`. Decodes every block of
  * the group (docs + positions), then intersects via the rarest term.
  */
case class PhraseKernel(phrase: Seq[String], tombstones: Set[Long])
    extends BlockKernel {

  // projection: positions but no tfs/dls/block_max (column pruning)
  def columns: Seq[String] =
    Seq("term", "cluster_id", "first_doc", "count", "doc_gaps", "positions")

  def output: String = "doc_id BIGINT, occurrences BIGINT"

  def group(cluster: Int,
      byTerm: collection.Map[String, collection.IndexedSeq[InternalRow]],
      at: Array[Int], decoded: SQLMetric): Iterator[InternalRow] = {
    decoded += byTerm.valuesIterator.map(_.size.toLong).sum
    val byTermDecoded = byTerm.map { case (t, rows) =>
      t -> (rows.flatMap(r => PostingCodec.decodeDocs(
          r.getInt(at(3)), r.getLong(at(2)), r.getBinary(at(4)))).toArray,
        rows.flatMap(r => PostingCodec.decodePositionsRaw(
          r.getInt(at(3)), r.getBinary(at(5)))).toArray)
    }
    val lists = phrase.map(byTermDecoded.get)
    if (lists.exists(_.isEmpty)) Iterator.empty
    else {
      val ls = lists.map(_.get)
      // intersect doc lists via the rarest term's list
      val (baseDocs, _) = ls.minBy(_._1.length)
      baseDocs.iterator
        .filterNot(tombstones.contains)
        .flatMap { d =>
          // per-term position set for doc d (binary search)
          val posSets = ls.map { case (docs, pos) =>
            val i = java.util.Arrays.binarySearch(docs, d)
            if (i < 0) null else pos(i)
          }
          // positions decode gap-ascending (sorted), so the adjacency
          // membership test is a binary search — no boxed Set per
          // (doc, term)
          val occ = if (posSets.contains(null)) 0 else posSets(0).count(p =>
            posSets.indices.tail.forall(i =>
              java.util.Arrays.binarySearch(posSets(i), p + i) >= 0))
          if (occ > 0) Some(new GenericInternalRow(Array[Any](d, occ.toLong)))
          else None
        }
    }
  }
}
