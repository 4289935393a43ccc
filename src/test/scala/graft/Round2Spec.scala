package graft

import java.nio.file.Files

import graft.build.{IndexBuilder, ManifestIO}
import graft.cluster.{Distance, GraphCoarseSearch}
import graft.query.{Bm25SqlPath, IndexSearcher, QuerySet}
import graft.sources.Corpus

/** Round-2 features: persisted coarse graph (P2), graph-routed probing
  * (Q3 wired into knn_search — the reference exercises both quantizer
  * types, /root/reference/test/search.jl:3), pluggable coarse distance
  * (the Dc parameter, /root/reference/src/index.jl:40-41), query-side
  * granule splits, and idempotent streaming appends.
  */
class Round2Spec extends SparkSpec {

  lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft-r2-idx").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    dir
  }

  test("P2: manifest persists the coarse graph; roundtrip == rebuild") {
    val m = ManifestIO.read(s"$indexDir/manifest.json")
    assert(m.coarse_graph.nonEmpty)
    // field-by-field roundtrip vs a deterministic rebuild (the graft of
    // /root/reference/test/persistency.jl:38-89's per-field asserts)
    val rebuilt = GraphCoarseSearch.buildEdges(m.centroids)
    assert(m.coarse_graph.length == rebuilt.length)
    m.coarse_graph.zip(rebuilt).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq)
    }
    assert(m.granule_window > 0)
    assert(m.distance == "sqeuclidean")
  }

  test("Q3 wired: graph-probed w<kc search == naive-probed (ef >= kc)") {
    val kc = ManifestIO.read(s"$indexDir/manifest.json").kc
    assert(kc >= 2)
    (1 to math.min(3, kc)).foreach { w =>
      val naive = IndexSearcher.topK(spark, indexDir,
        QuerySet.queries.take(5), 10, w = w, graphProbe = Some(false))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      // ef >= kc makes the greedy probe exact (GraphCoarseSearchSpec
      // property), so the two coarse quantizers must agree rank-for-rank
      val graphed = IndexSearcher.topK(spark, indexDir,
        QuerySet.queries.take(5), 10, w = w, graphProbe = Some(true))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(graphed.toSeq == naive.toSeq, s"w=$w")
    }
  }

  test("granule containment: every block lies inside ONE window") {
    import org.apache.spark.sql.functions._
    // the invariant the query-side split key, segment merge, and append
    // all rely on: a posting block never crosses its granule boundary
    val window = ManifestIO.read(s"$indexDir/manifest.json").granule_window
    assert(window > 0)
    val crossers = spark.read.parquet(s"$indexDir/postings")
      .filter(expr(s"first_doc div $window") =!= expr(s"last_doc div $window"))
      .count()
    assert(crossers == 0)
  }

  /** An index spanning two granules (every fixture index fits in one,
    * where `_split` is always 0): 9,000 short docs, kc = 2. Doc i holds
    * `common` unless i % 10 == 9, and `rareword` iff i < 20 — the rare
    * docs sort first by (repo, path, commit), so they take ids 0..19.
    */
  lazy val multiGranuleDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(9000L)
    val vocab = Vector("load", "store", "add", "mul", "jump", "call", "ret",
      "push", "pop", "cmp")
    val docs = (0 until 9000).map { i =>
      val toks = Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))) ++
        (if (i % 10 != 9) Seq("common") else Nil) ++
        (if (i < 20) Seq("rareword") else Nil)
      ("repo-g", f"src/$i%05d.s", "c0", "asm", toks.mkString(" "))
    }
    val dir = Files.createTempDirectory("graft-r2-granules").toString
    IndexBuilder.buildFromSource(spark,
      docs.toDF("repo", "path", "commit", "lang", "content").repartition(4),
      dir, IndexBuilder.BuildConfig(resume = false, kc = 2),
      lineageName = "granules")
    dir
  }

  private val granuleQueries = Seq(
    1 -> Seq("common", "rareword"), 2 -> Seq("load", "store", "add"),
    3 -> Seq("jump", "jump", "ret"), 4 -> Seq("cmp", "common"),
    5 -> Seq("pop"))

  test("granule splits: splitsPerCluster 1 vs 4 vs 8 identical ranks") {
    val m = ManifestIO.read(s"$multiGranuleDir/manifest.json")
    assert(m.granule_window < m.num_docs,
      s"window ${m.granule_window} must cut ${m.num_docs} docs")
    Seq(indexDir -> QuerySet.queries, multiGranuleDir -> granuleQueries)
      .foreach { case (dir, queries) =>
        val base = IndexSearcher.topK(spark, dir, queries, 10,
          splitsPerCluster = 1)
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        Seq(4, 8).foreach { s =>
          val split = IndexSearcher.topK(spark, dir, queries, 10,
            splitsPerCluster = s)
            .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
          assert(split.toSeq == base.toSeq, s"$dir splits=$s")
        }
      }
    // phrases whose docs lie in both granules
    PhraseSearchCheck.assertMatches(spark, multiGranuleDir, Seq(
      Seq("load", "store"), Seq("push", "pop", "ret"), Seq("call", "call"),
      Seq("cmp", "common"), Seq("common", "rareword")))
  }

  test("block-scan metrics: phrase decodes every block, selective WAND skips") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    // SQL metrics of the final (post-AQE) plan's BlockScan
    def metrics(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      assert(df.collect().nonEmpty)
      helper.collectFirst(df.queryExecution.executedPlan) {
        case b: graft.plans.BlockScanExec => b.metrics.map { case (k, m) => k -> m.value }
      }.getOrElse(fail("no BlockScan in the executed plan"))
    }
    val phrase = metrics(graft.query.PhraseSearch.search(spark, multiGranuleDir,
      Seq("cmp", "common")))
    assert(phrase("blocksIn") > 0 && phrase("groups") > 1, phrase)
    assert(phrase("blocksDecoded") == phrase("blocksIn"), phrase)
    // the kernel runs once: each posting row of the phrase's terms is
    // scanned exactly once (no sampling job re-running the scan)
    assert(phrase("blocksIn") == graft.build.IndexSchemas
      .readPostings(spark, multiGranuleDir)
      .filter(org.apache.spark.sql.functions.col("term")
        .isin("cmp", "common")).count(), phrase)
    // rareword's docs take the first ids: once they are scored, the top-1
    // threshold exceeds what `common` alone can reach
    val wand = metrics(IndexSearcher.topK(spark, multiGranuleDir,
      Seq(1 -> Seq("rareword", "common")), 1))
    assert(wand("numOutputRows") >= 1, wand)
    assert(wand("blocksDecoded") < wand("blocksIn"), wand)
  }

  test("Dc pluggable: cosine coarse assignment, rank-identical results") {
    val dir = Files.createTempDirectory("graft-r2-cos").toString
    IndexBuilder.build(spark, sf0001, dir, IndexBuilder.BuildConfig(
      resume = false, distance = Distance.Cosine))
    val m = ManifestIO.read(s"$dir/manifest.json")
    assert(m.distance == "cosine")
    assert(m.partitions.map(_.num_docs).sum == m.num_docs)
    // BM25 scores never read the metric: full-probe results must match
    // the declarative path exactly even under a different partitioning
    val wand = IndexSearcher.topK(spark, dir, QuerySet.queries.take(10), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val sql = Bm25SqlPath
      .topK(spark, Corpus.docs(spark, sf0001), QuerySet.queries.take(10), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(wand.toSeq == sql.toSeq)
  }

  test("property: fused featuresOf == features(tokenize) on arbitrary text") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val texts = Gen.listOf(Gen.frequency(
      (8, Gen.alphaNumChar), (2, Gen.oneOf(' ', '.', '_', '(', ')', '\n')),
      (1, Gen.oneOf('é', 'λ', '中')))).map(_.mkString)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(texts) { t =>
        graft.cluster.CoarseClusterer.featuresOf(t).toSeq ==
          graft.cluster.CoarseClusterer
            .features(graft.tokenize.Tokenizer.tokenize(t)).toSeq
      })
    assert(res.passed, res.status.toString)
    // mixed-case identifiers hit the in-place lowercasing path
    val s = "FooBar_Baz qux42 QUX42 __x9 a"
    assert(graft.cluster.CoarseClusterer.featuresOf(s).toSeq ==
      graft.cluster.CoarseClusterer
        .features(graft.tokenize.Tokenizer.tokenize(s)).toSeq)
  }

  test("determinism: two independent builds agree on all query-visible state") {
    // the range partitioner's sampled boundaries differ run-to-run
    // (rddId-seeded), so this catches any dependence of visible state
    // on partition composition — the property the scaling runs' rank
    // identity at local[N] vs local[4N] rests on
    val dir2 = Files.createTempDirectory("graft-r2-det").toString
    IndexBuilder.build(spark, sf0001, dir2,
      IndexBuilder.BuildConfig(resume = false))
    val m1 = ManifestIO.read(s"$indexDir/manifest.json")
    val m2 = ManifestIO.read(s"$dir2/manifest.json")
    assert(m1.num_docs == m2.num_docs && m1.avgdl == m2.avgdl &&
      m1.vocab_size == m2.vocab_size && m1.kc == m2.kc)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    assert(m1.coarse_graph.map(_.toSeq).toSeq ==
      m2.coarse_graph.map(_.toSeq).toSeq)
    assert(m1.partitions.map(p => (p.cluster_id, p.num_docs, p.num_postings))
      == m2.partitions.map(p => (p.cluster_id, p.num_docs, p.num_postings)))
    val r1 = IndexSearcher.topK(spark, indexDir, QuerySet.queries, 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val r2 = IndexSearcher.topK(spark, dir2, QuerySet.queries, 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(r1.toSeq == r2.toSeq)
    val d1 = spark.read.parquet(s"$indexDir/dictionary")
      .orderBy("term").collect().toSeq
    val d2 = spark.read.parquet(s"$dir2/dictionary")
      .orderBy("term").collect().toSeq
    assert(d1 == d2)
  }

  test("streaming appends are idempotent under batch replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-r2-stream").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    val n0 = ManifestIO.read(s"$dir/manifest.json").num_docs
    val batch = Seq(("repo-s", "src/s/a.c", "beef00000001", "c",
      "replay guard zebra quail")).toDF(
      "repo", "path", "commit", "lang", "content")
    assert(graft.streaming.StreamingAppend.applyBatch(dir, batch, 0L))
    val n1 = ManifestIO.read(s"$dir/manifest.json").num_docs
    assert(n1 == n0 + 1)
    // the at-least-once replay: same batchId must be a no-op
    assert(!graft.streaming.StreamingAppend.applyBatch(dir, batch, 0L))
    assert(ManifestIO.read(s"$dir/manifest.json").num_docs == n1)
    assert(graft.streaming.StreamingAppend.lastAppliedBatch(dir) == 0L)
  }
}
