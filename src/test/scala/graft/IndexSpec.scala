package graft

import java.nio.file.Files

import graft.build.{IndexBuilder, IndexSchemas, ManifestIO}
import graft.query.{Bm25SqlPath, IndexSearcher, QuerySet}
import graft.sources.Corpus

/** End-to-end index build + query tests: the WAND index path must be
  * rank-identical (ids AND scores) to the declarative SQL path — the
  * graft version of the reference's naive-vs-hnsw dual-path checks
  * (/root/reference/test/search.jl:3,29).
  */
class IndexSpec extends SparkSpec {

  lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft-index-test").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    dir
  }

  test("build produces manifest with partitions, segments, centroids") {
    val m = ManifestIO.read(s"$indexDir/manifest.json")
    assert(m.num_docs == 500)
    assert(m.kc >= 2 && m.centroids.length == m.kc)
    assert(m.partitions.nonEmpty)
    assert(m.partitions.map(_.num_docs).sum == m.num_docs)
    assert(m.segments.nonEmpty)
    assert(m.segments.forall(s => s.postings_per_sec > 0 && s.bytes_per_posting > 0))
    assert(m.vocab_size == 31)
  }

  test("WAND index path == declarative SQL path, all 20 queries, top-10") {
    val wand = IndexSearcher.topK(spark, indexDir, QuerySet.queries, 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val sql = Bm25SqlPath
      .topK(spark, Corpus.docs(spark, sf0001), QuerySet.queries, 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(wand.toSeq == sql.toSeq)
  }

  test("approximate probe (w=1) returns a subset semantics: <= k rows per query, scores from probed clusters only") {
    val w1 = IndexSearcher.topK(spark, indexDir, QuerySet.queries.take(3), 10, w = 1)
      .collect()
    assert(w1.nonEmpty)
    // compare against the exhaustive scoring of ALL docs (k = corpus
    // size): a probed hit keeps its exact score, it just may fall
    // outside the global top-10 (exactly the reference's w<kc
    // semantics, /root/reference/test/search.jl:34-47)
    val exact = IndexSearcher.topK(spark, indexDir, QuerySet.queries.take(3), 500)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3))).toSet
    // every w=1 hit must also exist (same score) in the exact scan
    w1.foreach { r =>
      assert(exact.contains((r.getInt(0), r.getLong(2), r.getDouble(3))))
    }
  }

  test("resume: second build skips all steps") {
    // force the lazy first build
    ManifestIO.read(s"$indexDir/manifest.json")
    val res2 = IndexBuilder.build(spark, sf0001, indexDir,
      IndexBuilder.BuildConfig(resume = true))
    assert(res2.stepsRun.isEmpty)
    assert(res2.stepsSkipped.toSet ==
      Set("docstore", "dictionary", "postings", "manifest"))
  }

  test("per-partition resume: only the damaged cluster batch is rebuilt") {
    val dir = Files.createTempDirectory("graft-batch-resume").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(kc = 8, resume = false, postingsBatches = 4))
    val before = IndexSearcher.topK(spark, dir, QuerySet.queries.take(5), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    // simulate a crash mid-postings: batch 1 (clusters 2,3) incomplete
    IndexSchemas.commit(dir, CrashStates.postingsBatchPending(
      ManifestIO.read(s"$dir/manifest.json"), 4, 1))

    val res = IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(kc = 8, resume = true, postingsBatches = 4))
    assert(res.stepsRun.toSet ==
      Set("postings_batch_1", "postings", "dictionary", "manifest"))
    assert(res.stepsSkipped.toSet ==
      Set("docstore", "postings_batch_0", "postings_batch_2",
        "postings_batch_3"))

    val after = IndexSearcher.topK(spark, dir, QuerySet.queries.take(5), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(after.toSeq == before.toSeq)
  }

  test("resume: deleting one checkpoint re-runs only that step") {
    val m = ManifestIO.read(s"$indexDir/manifest.json")
    IndexSchemas.commit(indexDir, m.copy(coarse_graph = Array.empty,
      coarse_graph_upper = Array.empty,
      build_done = m.build_done.filterNot(_ == "manifest")))
    val res = IndexBuilder.build(spark, sf0001, indexDir,
      IndexBuilder.BuildConfig(resume = true))
    assert(res.stepsRun == Seq("manifest"))
  }

  test("B2 validation: bad config and duplicate keys rejected") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-validate").toString
    intercept[IllegalArgumentException] {
      IndexBuilder.build(spark, sf0001, dir,
        IndexBuilder.BuildConfig(kc = 1, resume = false))
    }
    val dup = Seq(
      ("r", "p", "c", "x", "one two"),
      ("r", "p", "c", "x", "three four")
    ).toDF("repo", "path", "commit", "lang", "content")
    intercept[IllegalArgumentException] {
      IndexBuilder.buildFromSource(spark, dup, dir,
        IndexBuilder.BuildConfig(resume = false, validateInput = true))
    }
  }

  test("docstore preserves content sha256 per row (input_hint invariant)") {
    val stored = spark.read.parquet(s"$indexDir/docstore")
      .select("doc_id", "content_sha")
    val fresh = Corpus.docs(spark, sf0001).select("doc_id", "content_sha")
    assert(stored.exceptAll(fresh).count() == 0)
    assert(fresh.exceptAll(stored).count() == 0)
  }

  test("round-robin docstore slots put the clusters of one window in distinct partitions") {
    import org.apache.spark.sql.functions.col
    val m = ManifestIO.read(s"$indexDir/manifest.json")
    assert(Set(0, 1).subsetOf(m.partitions.map(_.cluster_id).toSet))
    // one doc of cluster 0 and one of cluster 1, both in window 0; an
    // append's write has no slot map
    val store = graft.build.IndexSchemas.readDocstore(spark, indexDir, m)
    val two = Seq(0, 1).map(c => store.filter(col("cluster_id") === c)
        .orderBy("doc_id").limit(1))
      .reduce(_ union _)
      .select("doc_id", "repo", "path", "commit", "lang", "content")
    val rows = IndexBuilder.docstoreRows(two, m.centroids,
      graft.cluster.Distance.byName(m.distance), Map.empty, m.granule_window,
      org.apache.spark.sql.Observation())
    val filled = rows.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(filled.length == 4 && filled.count(_ > 0) == 2, filled.toSeq)
  }
}
