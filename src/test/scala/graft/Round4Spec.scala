package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, ManifestIO}

/** Round-4 hardening: the graph coarse probe under a non-sqeuclidean
  * metric, a deterministic concurrent build head, non-ASCII content,
  * the PPJoin positional bound and non-parametric OPQ.
  */
class Round4Spec extends SparkSpec {

  test("graph coarse probe under cosine Dc == naive argsort, end to end") {
    import graft.cluster.{Distance, GraphCoarseSearch}
    import graft.query.IndexSearcher
    // kc forced past GraphProbeKcThreshold so the graph path engages
    val dir = Files.createTempDirectory("graft-r4-cosine-graph").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false, kc = 96,
        distance = Distance.Cosine))
    val m = ManifestIO.read(s"$dir/manifest.json")
    assert(m.distance == "cosine")
    assert(m.coarse_graph.nonEmpty)
    val queries = Seq(
      1 -> Seq("def", "return", "value"),
      2 -> Seq("import", "class"),
      3 -> Seq("for", "while", "index", "loop"))
    // exact-subset semantics (the probe is approximate over WHICH cells
    // it visits, never over scores): every row the cosine graph path
    // returns must carry the doc's exact full-scan BM25 score
    val graphRows = IndexSearcher.topK(spark, dir, queries, 10, w = 4,
        graphProbe = Some(true), ef = 96)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(graphRows.nonEmpty)
    val fullScores = IndexSearcher.topK(spark, dir, queries, 2000)
      .collect()
      .map(r => ((r.getInt(0), r.getLong(2)), r.getDouble(3))).toMap
    graphRows.foreach { case (qid, doc, score) =>
      assert(fullScores.get((qid, doc)).contains(score),
        s"graph-path score mismatch for q$qid doc $doc")
    }

    // rank identity of the probe itself under cosine needs a complete
    // graph (an 8-NN DIGRAPH need not reach every node, so ef=kc is
    // exact only when traversal can): numNeighbors = kc-1
    val (edges, upper) = GraphCoarseSearch.buildGraph(m.centroids,
      numNeighbors = m.centroids.length - 1, metric = Distance.Cosine)
    val g = new GraphCoarseSearch(m.centroids, edges, upper, Distance.Cosine)
    (0 until 10).foreach { s =>
      val q = Array.tabulate(graft.cluster.CoarseClusterer.Dim)(i =>
        ((i * 31 + s * 17) % 7).toDouble)
      val naive = m.centroids.indices
        .map(c => (Distance.Cosine(q, m.centroids(c)), c))
        .sortBy(identity).take(5).map(_._2)
      assert(g.probe(q, 5, ef = m.centroids.length) == naive)
    }
  }

  test("concurrent head-of-build is deterministic: two builds identical") {
    // r4 runs the keys pass, sample collect, and fit concurrently —
    // this pins that scheduling cannot leak into the output
    def build(): (String, graft.build.IndexManifest) = {
      val dir = Files.createTempDirectory("graft-r4-det").toString
      IndexBuilder.build(spark, sf0001, dir,
        IndexBuilder.BuildConfig(resume = false))
      (dir, ManifestIO.read(s"$dir/manifest.json"))
    }
    val (dirA, a) = build()
    val (dirB, b) = build()
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
    assert(a.num_docs == b.num_docs && a.avgdl == b.avgdl &&
      a.vocab_size == b.vocab_size)
    assert(a.partitions.map(p => (p.cluster_id, p.num_docs, p.num_postings))
      == b.partitions.map(p => (p.cluster_id, p.num_docs, p.num_postings)))
    val qs = graft.query.QuerySet.queries.take(3)
    val ra = graft.query.IndexSearcher.topK(spark, dirA, qs, 10).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    val rb = graft.query.IndexSearcher.topK(spark, dirB, qs, 10).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(ra == rb && ra.nonEmpty)
  }

  test("non-ASCII content builds, preserves sha, and is searchable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("repo-u", "src/u/a.txt", "u00000000001", "txt",
        "función añadida été 東京 naïve quartz"),
      ("repo-u", "src/u/b.txt", "u00000000002", "txt",
        "日本語のドキュメント quartz naïve"),
      ("repo-u", "src/u/c.txt", "u00000000003", "txt",
        "plain ascii quartz document"))
    val src = rows.toDF("repo", "path", "commit", "lang", "content")
    val dir = Files.createTempDirectory("graft-r4-uni").toString
    IndexBuilder.buildFromSource(spark, src, dir,
      IndexBuilder.BuildConfig(resume = false, kc = 2))
    val store = spark.read.parquet(s"$dir/docstore")
    assert(store.count() == 3)
    // per-row sha invariant holds for multibyte content
    val shas = store.select("content", "content_sha").collect()
    shas.foreach { r =>
      val expect = java.security.MessageDigest.getInstance("SHA-256")
        .digest(r.getString(0).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getString(1) == expect)
    }
    // the ascii-token search surface still works (the tokenizer
    // lowercases ascii word chars; multibyte chars are separators)
    val hits = graft.query.IndexSearcher
      .topK(spark, dir, Seq(1 -> Seq("quartz")), 5).collect()
    assert(hits.length == 3) // all three docs contain "quartz"
  }

  test("PPJoin positional upper bound prunes AND stays complete on long docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    // fixture docs have ~5 shingles, where the bound can't prune (ub
    // stays above threshold); these 30-60-token docs from a small
    // vocabulary make it engage, so completeness is tested where the
    // filter actually fires. Deterministic generation.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    def tok(i: Int, j: Int): String =
      vocab(math.floorMod(scala.util.hashing.MurmurHash3
        .productHash((i, j)), vocab.size))
    val base = (0 until 80).map { i =>
      val len = 30 + math.floorMod(i * 7, 31)
      (i.toLong, (0 until len).map(tok(i, _)).mkString(" "))
    }
    // plant guaranteed near-dups: shifted copies of some docs
    val dups = (0 until 20).map { i =>
      val (_, text) = base(i * 3)
      (1000L + i, text.split(" ").drop(2).mkString(" ") + " omega")
    }
    val docs = (base ++ dups).toDF("doc_id", "content")
    val got = Dedup.ngramJaccardNearDups(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // ground truth: full inverted self-join candidates + same verify
    val sh = Dedup.shingles(docs)
    val cands = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val naive = Dedup.verifyJaccard(cands, sh, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == naive)
    assert(got.size >= 20, s"planted near-dups must surface, got ${got.size}")
  }

  test("non-parametric OPQ: orthogonal rotation, beats plain PQ, roundtrips") {
    import graft.parity.{IvfAdc, Pq}
    import scala.util.hashing.MurmurHash3
    // same correlated fixture shape as Round3Spec's parametric test:
    // the identity subspace split straddles the correlation
    def h(i: Int, j: Int): Double =
      math.floorMod(MurmurHash3.productHash((i, j)), 1000) / 1000.0 - 0.5
    val residuals = Array.tabulate(2000) { i =>
      val a = h(i, 0)
      val b = h(i, 1)
      Array(a, b, a + 0.01 * h(i, 2), b + 0.01 * h(i, 3)).map(_.toFloat)
    }
    val pq = Pq.train(residuals, m = 2, k = 8, maxIter = 10)
    val np = Pq.train(residuals, m = 2, k = 8, maxIter = 10,
      method = "opq_np")
    // RᵀR = I
    val r = np.rotation.get
    val dim = r.length
    for (i <- 0 until dim; j <- 0 until dim) {
      val dot = (0 until dim).map(t => r(t)(i) * r(t)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
    val ePq = Pq.quantizationError(pq, residuals)
    val eNp = Pq.quantizationError(np, residuals)
    assert(eNp < ePq, s"opq_np=$eNp should beat pq=$ePq here")
    // deterministic: retrain gives identical books + rotation
    val np2 = Pq.train(residuals, m = 2, k = 8, maxIter = 10,
      method = "opq_np")
    assert(np2.rotation.get.map(_.toSeq).toSeq == r.map(_.toSeq).toSeq)
    assert(np2.books.map(_.map(_.toSeq).toSeq).toSeq ==
      np.books.map(_.map(_.toSeq).toSeq).toSeq)
    // rotation roundtrips through persistence
    val p = Files.createTempFile("graft-opq-np", ".json").toString
    IvfAdc.save(p, IvfAdc.Model(1, Array(Array.fill(4)(0.0)), np))
    assert(IvfAdc.load(p).codebooks.rotation.get.map(_.toSeq).toSeq ==
      r.map(_.toSeq).toSeq)
  }
}
