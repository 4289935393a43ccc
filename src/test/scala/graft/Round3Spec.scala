package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, ManifestIO}
import graft.cluster.Distance
import graft.maintain.Maintenance
import graft.ops.Dedup
import graft.parity.{IvfAdc, Pq}
import graft.sources.Corpus
import graft.streaming.StreamingAppend

/** Round-3 features: exchange-free dense-id assignment
  * (PartitionOffsetRowIndex), PPJoin prefix-filtered exact n-gram
  * Jaccard, streaming partial-append rollback, pluggable Dr
  * quantization distance and :opq rotation
  * (/root/reference/src/index.jl:109-110), resume-wipe covering
  * cluster-stats checkpoints, and merge preserving the granule window.
  */
class Round3Spec extends SparkSpec {

  // ------------------------------------------------------------------
  // dense ids without the second exchange
  // ------------------------------------------------------------------

  test("PartitionOffsetRowIndex: dense 0..n-1 ids in global sort order") {
    val df = spark.range(0, 1000).toDF("x")
      .withColumn("key",
        concat(lit("k"), lpad(col("x").cast("string"), 5, "0")))
      .repartition(7) // scattered input
    val dense = Corpus.withDenseIdCounted(df, Seq("key"), "id")
    assert(dense.numRows == 1000)
    val rows = dense.df.select("id", "key").collect().sortBy(_.getString(1))
    assert(rows.map(_.getLong(0)).toSeq == (0L until 1000L).toSeq)
    dense.unpersist()
  }

  // ------------------------------------------------------------------
  // PPJoin prefix filtering (exactness vs the full inverted self-join)
  // ------------------------------------------------------------------

  test("prefix-filtered ngram Jaccard == naive full self-join output") {
    val docs = Corpus.docs(spark, sf0001)
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = collectPairs(Dedup.ngramJaccardNearDups(docs, 0.5))
    // the r2 form: candidates = docs sharing ANY shingle (complete by
    // jaccard > 0 ⟹ shared shingle)
    val sh = Dedup.shingles(docs)
    val cands = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val naive = collectPairs(Dedup.verifyJaccard(cands, sh, 0.5))
    assert(got == naive)
    assert(got.nonEmpty)
    // and the fused (array-intersect) verify equals the join+agg verify
    // on the same candidate set — the minhash pipeline's contract
    val cand2 = Dedup.lshCandidates(
      Dedup.minhash(spark, sh))
    assert(collectPairs(Dedup.verifyJaccardFused(cand2, sh, 0.5)) ==
      collectPairs(Dedup.verifyJaccard(cand2, sh, 0.5)))
  }

  // ------------------------------------------------------------------
  // streaming: partial-append rollback
  // ------------------------------------------------------------------

  private def newBatch(n: Int) = {
    import spark.implicits._
    (0 until n).map(i =>
      (s"repo-new", f"src/new/$i%03d.scala", f"c$i%012d", "scala",
        s"object New$i { val fresh = $i; def batch = ${i * 7} }"))
      .toDF("repo", "path", "commit", "lang", "content")
  }

  test("replay after crash-before-applied-record rolls back, then reapplies") {
    val dir = Files.createTempDirectory("graft-r3-stream").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    val m0 = ManifestIO.read(s"$dir/manifest.json")
    val maxSeg0 = (m0.segments.map(_.segment_id) :+ 0).max
    val batch = newBatch(5)

    // simulate the crash window [ADVICE r2]: append fully applied, but
    // the applied record was never written — only the intent remains
    Maintenance.append(spark, dir, batch)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "stream_intent.json"),
      s"""{"batchId":0,"numDocsBefore":${m0.num_docs},"maxSegBefore":$maxSeg0}"""
        .getBytes)
    assert(StreamingAppend.lastAppliedBatch(dir) == -1L)
    assert(StreamingAppend.pendingIntent(dir).nonEmpty)

    // replay: must roll the partial batch back, then apply ONCE
    assert(StreamingAppend.applyBatch(dir, batch, 0L))
    val m1 = ManifestIO.read(s"$dir/manifest.json")
    assert(m1.num_docs == m0.num_docs + 5)
    val store = spark.read.parquet(s"$dir/docstore")
    assert(store.count() == m0.num_docs + 5) // no duplicated rows
    assert(store.select("doc_id").distinct().count() == m0.num_docs + 5)
    assert(StreamingAppend.lastAppliedBatch(dir) == 0L)
    assert(StreamingAppend.pendingIntent(dir).isEmpty)
    // a further replay of the same batch is skipped outright
    assert(!StreamingAppend.applyBatch(dir, batch, 0L))
    assert(spark.read.parquet(s"$dir/docstore").count() == m0.num_docs + 5)
  }

  // ------------------------------------------------------------------
  // Dr quantization distance + :opq rotation (reference index.jl:109-110)
  // ------------------------------------------------------------------

  /** Sequential reference-formula scorer (index.jl:240-246) driven by
    * the model's own codebooks — so Dr and the rotation thread through
    * exactly once, identically for both engines.
    */
  private def referenceTopK(
      model: IvfAdc.Model,
      all: Array[(Long, Array[Float])],
      q: Array[Float],
      k: Int,
      w: Int): Seq[(Long, Double)] = {
    val byCell = all.map { case (id, v) =>
      (IvfAdc.coarseAssign(v, model.centroids), id, v)
    }.groupBy(_._1)
    val coarse = model.centroids.zipWithIndex
      .map { case (c, i) => (Pq.sqDistFull(q, c), i) }
      .sortBy { case (d, i) => (d, i) }
      .take(w)
    val hits = coarse.flatMap { case (dc, cell) =>
      val qr = Array.tabulate(q.length)(i =>
        (q(i) - model.centroids(cell)(i)).toFloat)
      val luts = model.codebooks.luts(qr)
      byCell.getOrElse(cell, Array.empty).map { case (_, id, v) =>
        val rv = Array.tabulate(v.length)(i =>
          (v(i) - model.centroids(cell)(i)).toFloat)
        val codes = model.codebooks.encode(rv)
        var d = dc
        var s = 0
        while (s < luts.length) { d += luts(s)(codes(s) & 0xff); s += 1 }
        (id, d)
      }
    }
    hits.sortBy { case (id, d) => (d, id) }.take(k).toSeq
  }

  private def parityGrid(model: IvfAdc.Model,
      encoded: org.apache.spark.sql.DataFrame): Unit = {
    import spark.implicits._
    val all = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val queries = (0 until 6).map(qi => (qi, all(qi * 5)._2))
    for (k <- Seq(1, 5); w <- Seq(1, 2)) {
      val got = IvfAdc.search(spark, model, encoded, queries, k, w)
        .collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
      val exp = queries.flatMap { case (qi, qv) =>
        referenceTopK(model, all, qv, k, w).map { case (id, d) =>
          (qi, id, d)
        }
      }
      assert(got.toSeq == exp.toSeq, s"mismatch at k=$k w=$w")
    }
  }

  test("Dr = cosine: rank-identical to the reference formula end-to-end") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val (model, encoded) = IvfAdc.build(spark, emb, kc = 4, m = 4, k = 8,
      quantDist = Distance.Cosine)
    assert(model.codebooks.dist eq Distance.Cosine)
    assert(model.codebooks.rotation.isEmpty)
    parityGrid(model, encoded)
  }

  test("OPQ: non-identity rotation, persisted roundtrip, rank parity") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val (model, encoded) = IvfAdc.build(spark, emb, kc = 4, m = 4, k = 8,
      method = "opq")
    val rot = model.codebooks.rotation.getOrElse(fail("no rotation"))
    // learned rotation is orthogonal (RᵀR = I) and NOT the identity
    val dim = rot.length
    for (i <- 0 until dim; j <- 0 until dim) {
      val dot = (0 until dim).map(t => rot(t)(i) * rot(t)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"RtR[$i][$j] = $dot")
    }
    assert(rot.indices.exists(i => math.abs(rot(i)(i) - 1.0) > 1e-6))

    // roundtrip: the persisted model reproduces codes bit-for-bit
    // (the graft of /root/reference/test/persistency.jl + the rotation
    // fields at src/persistency.jl:62-64)
    val p = Files.createTempFile("graft-ivfadc-model", ".json").toString
    IvfAdc.save(p, model)
    val loaded = IvfAdc.load(p)
    assert(loaded.kc == model.kc)
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq)
    assert(loaded.codebooks.books.map(_.map(_.toSeq).toSeq).toSeq ==
      model.codebooks.books.map(_.map(_.toSeq).toSeq).toSeq)
    assert(loaded.codebooks.rotation.get.map(_.toSeq).toSeq ==
      rot.map(_.toSeq).toSeq)
    assert(loaded.codebooks.dist eq Distance.SqEuclidean)
    val probe = Array.tabulate(model.centroids(0).length)(i =>
      (0.25f * i) - 1.0f)
    assert(loaded.codebooks.encode(probe).toSeq ==
      model.codebooks.encode(probe).toSeq)

    parityGrid(model, encoded)
  }

  test("parametric OPQ lowers quantization error vs plain PQ on correlated dims") {
    import scala.util.hashing.MurmurHash3
    // dims 2i and 2i+1 carry the SAME latent signal, but the identity
    // subspace split (m=2, subLen=2 over dim=4) straddles the
    // correlation — a rotation that regroups correlated dims quantizes
    // strictly better, which is the OPQ objective
    def h(i: Int, j: Int): Double =
      math.floorMod(MurmurHash3.productHash((i, j)), 1000) / 1000.0 - 0.5
    val residuals = Array.tabulate(2000) { i =>
      val a = h(i, 0)
      val b = h(i, 1)
      Array(a, b, a + 0.01 * h(i, 2), b + 0.01 * h(i, 3)).map(_.toFloat)
    }
    val pq = Pq.train(residuals, m = 2, k = 8, maxIter = 10)
    val opq = Pq.train(residuals, m = 2, k = 8, maxIter = 10, method = "opq")
    val ePq = Pq.quantizationError(pq, residuals)
    val eOpq = Pq.quantizationError(opq, residuals)
    assert(eOpq < ePq, s"opq=$eOpq should beat pq=$ePq here")
    // and the learned rotation roundtrips exactly through persistence
    val p = Files.createTempFile("graft-opq", ".json").toString
    IvfAdc.save(p, IvfAdc.Model(1, Array(Array.fill(4)(0.0)), opq))
    assert(IvfAdc.load(p).codebooks.rotation.get.map(_.toSeq).toSeq ==
      opq.rotation.get.map(_.toSeq).toSeq)
  }

  // ------------------------------------------------------------------
  // bounded + fallback embedding-dedup sample [VERDICT r2 #2, ADVICE r2]
  // ------------------------------------------------------------------

  test("embedding near-dup survives sparse ids with no stride hits") {
    import spark.implicits._
    // > cap rows, ALL ids odd: stride = n/cap = 2 leaves the strided
    // sample empty — the r2 code threw from fitLocalDouble here
    val n = 2 * Dedup.EmbedSampleCap + 100
    val emb = spark.range(0, n).toDF("i")
      .select((col("i") * 2 + 1).as("vec_id"),
        transform(sequence(lit(0), lit(3)),
          j => (pmod(col("i") * (j + 1), lit(97)) - 48).cast("float"))
          .as("embedding"))
    val out = Dedup.embeddingNearDups(emb, 0.9999)
    assert(out.columns.toSeq == Seq("vec_a", "vec_b", "cos"))
    assert(out.count() >= 0) // completes without throwing
  }

  // ------------------------------------------------------------------
  // resume hygiene: stale clusterstats wiped on fresh rebuild [ADVICE r2]
  // ------------------------------------------------------------------

  test("fresh rebuild into a dir built with other batching: no stat double-count") {
    val dir = Files.createTempDirectory("graft-r3-wipe").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false, postingsBatches = 4))
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false, postingsBatches = 2))
    val fresh = Files.createTempDirectory("graft-r3-fresh").toString
    IndexBuilder.build(spark, sf0001, fresh,
      IndexBuilder.BuildConfig(resume = false, postingsBatches = 2))
    val a = ManifestIO.read(s"$dir/manifest.json")
    val b = ManifestIO.read(s"$fresh/manifest.json")
    assert(a.partitions.map(p => (p.cluster_id, p.num_docs, p.num_postings))
      == b.partitions.map(p => (p.cluster_id, p.num_docs, p.num_postings)))
  }

  // ------------------------------------------------------------------
  // executed-plan guards for the r3 shuffle claims
  // ------------------------------------------------------------------

  test("plans: postings encode has NO exchange; dense-id path has exactly ONE") {
    val dir = Files.createTempDirectory("graft-r3-plan").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    // the zero-shuffle postings pipeline: parquet scan → tokenize →
    // local sort → encode, no Exchange anywhere in the plan
    val docstore = spark.read.parquet(s"$dir/docstore")
    val (blocks, _, _) = IndexBuilder.encodeBlocks(
      spark, docstore, avgdl = 10.0, segmentOffset = 0, window = 8192)
    val postingsPlan = blocks.queryExecution.executedPlan.toString
    assert(!postingsPlan.contains("Exchange"), postingsPlan)

    // dense ids, broadcast strategy (the default under the threshold):
    // the id'd frame is the source plus a broadcast hash lookup — NO
    // exchange of content rows anywhere in its plan (the keys-only pass
    // ran as its own tiny job at construction time)
    val src = Corpus.sourceTable(spark, sf0001)
    val dense = Corpus.withDenseIdCounted(src, Seq("repo", "path", "commit"),
      "doc_id")
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).length
    val srcPlan = src.queryExecution.executedPlan.toString
    val densePlan = dense.df.queryExecution.executedPlan.toString
    // id assignment adds ZERO exchanges on top of whatever the source
    // itself does (the fixture reader repartitions its small base rows)
    assert(exchanges(densePlan) == exchanges(srcPlan),
      s"broadcast dense-id added an exchange:\n$densePlan")
    assert(densePlan.toLowerCase.contains("idlookup"), densePlan)
    dense.unpersist()

    // dense ids, exchange strategy (the over-threshold path): the id
    // projection sits DIRECTLY on the cached range exchange — no second
    // exchange above the cache boundary (the r2 form hash-exchanged all
    // content rows again for the row_number window). NB:
    // InMemoryRelation's toString prints its cached plan twice, so count
    // only the section above it.
    val denseEx = Corpus.withDenseIdCounted(src, Seq("repo", "path", "commit"),
      "doc_id", strategy = "exchange")
    val exPlan = denseEx.df.queryExecution.executedPlan.toString
    val cacheBoundary = exPlan.indexOf("InMemoryRelation")
    assert(cacheBoundary > 0, exPlan)
    val aboveCache = exPlan.substring(0, cacheBoundary)
    assert(!aboveCache.contains("Exchange"),
      s"unexpected exchange above the cache:\n$exPlan")
    assert(exPlan.contains("partitionoffsetrowindex"), exPlan)
    denseEx.unpersist()
  }

  test("broadcast id strategy falls back exactly: over-threshold and duplicate keys") {
    import spark.implicits._
    // over the threshold: the capped keys pass must bail to the exchange
    // strategy (plan shows the stateful offset expression, not idlookup)
    val df = spark.range(0, 1000).toDF("x")
      .withColumn("key", concat(lit("k"), lpad(col("x").cast("string"), 5, "0")))
    val small = Corpus.withDenseIdCounted(df, Seq("key"), "id",
      broadcastMaxDocs = 10L)
    val smallPlan = small.df.queryExecution.executedPlan.toString
    assert(!smallPlan.toLowerCase.contains("idlookup"), smallPlan)
    assert(smallPlan.contains("partitionoffsetrowindex"), smallPlan)
    assert(small.numRows == 1000)
    assert(small.df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 1000L))
    small.unpersist()

    // duplicate keys: detected on the driver, exchange fallback (ids
    // still a dense permutation)
    val dup = df.withColumn("key", lit("same"))
    val d = Corpus.withDenseIdCounted(dup, Seq("key"), "id")
    assert(!d.df.queryExecution.executedPlan.toString
      .toLowerCase.contains("idlookup"))
    assert(d.df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 1000L))
    d.unpersist()

    // forced broadcast with duplicate keys must refuse loudly, never
    // mis-assign
    intercept[IllegalArgumentException] {
      Corpus.withDenseIdCounted(dup, Seq("key"), "id", strategy = "broadcast")
    }
  }

  test("LongLongMap: collision-free puts, probe chains, and rejects") {
    val m = new graft.functions.LongLongMap(1000)
    // adversarial keys sharing low bits force linear-probe chains
    val keys = (0 until 1000).map(i => (i.toLong << 40) | 0x5aL)
    keys.zipWithIndex.foreach { case (k, v) => assert(m.put(k, v.toLong)) }
    keys.zipWithIndex.foreach { case (k, v) => assert(m.get(k) == v.toLong) }
    assert(m.get(0x1234567890L) == -1L) // absent
    assert(!m.put(keys.head, 999L)) // duplicate key reported
    assert(m.size == 1000)
  }

  test("broadcast and exchange id strategies assign identical ids") {
    val src = Corpus.sourceTable(spark, sf0001)
    def ids(strategy: String): (Long, Seq[(String, String, String, Long)]) = {
      val d = Corpus.withDenseIdCounted(src, Seq("repo", "path", "commit"),
        "doc_id", strategy = strategy)
      val rows = d.df.select("repo", "path", "commit", "doc_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      d.unpersist()
      (d.numRows, rows)
    }
    val (nB, idsB) = ids("broadcast")
    val (nE, idsE) = ids("exchange")
    assert(nB == nE && nB > 0)
    assert(idsB == idsE)
    // and they are exactly the dense 0-based ranks in key order
    assert(idsB.map(_._4) == idsB.indices.map(_.toLong))
  }

  // ------------------------------------------------------------------
  // fused assignment expression == feat-column + udf path
  // ------------------------------------------------------------------

  test("property: ClusterAssignExpr.assignInto == assign(featuresOf) on arbitrary text") {
    import graft.cluster.CoarseClusterer
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // fixed deterministic centroids, both metrics
    val cs = Array.tabulate(7)(c =>
      Array.tabulate(CoarseClusterer.Dim)(j => ((c * 31 + j * 7) % 13).toDouble))
    val texts = Gen.listOf(Gen.frequency(
      (8, Gen.alphaNumChar), (2, Gen.oneOf(' ', '.', '_', '(', ')', '\n')),
      (1, Gen.oneOf('é', 'λ', '中')))).map(_.mkString)
    Seq(Distance.SqEuclidean, Distance.Cosine).foreach { d =>
      val buf = new Array[Long](CoarseClusterer.Dim)
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(300),
        Prop.forAll(texts) { t =>
          graft.functions.ClusterAssignExpr
            .assignInto(UTF8String.fromString(t), buf, cs, d) ==
            CoarseClusterer.assign(CoarseClusterer.featuresOf(t), cs, d)
        })
      assert(res.passed, res.status.toString)
      // the packed (cluster, doc_len) variant: same cluster, and the
      // length equals the reference token count exactly
      val res2 = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(300),
        Prop.forAll(texts) { t =>
          val p = graft.functions.ClusterAssignExpr
            .assignLenInto(UTF8String.fromString(t), buf, cs, d)
          (p >> 32).toInt ==
            CoarseClusterer.assign(CoarseClusterer.featuresOf(t), cs, d) &&
            (p & 0xffffffffL).toInt ==
              graft.tokenize.Tokenizer.countTokens(t)
        })
      assert(res2.passed, res2.status.toString)
    }
  }

  // ------------------------------------------------------------------
  // layered HNSW beyond the exact-kNN regime [VERDICT r2 #9 stretch]
  // ------------------------------------------------------------------

  test("layered HNSW build past ExactKnnMax: real layers, bounded degree, recall") {
    import graft.cluster.GraphCoarseSearch
    val n = 600 // > ExactKnnMax → layered incremental insert
    val dim = 8
    // well-scattered DISTINCT centroids (seeded hash), queries near the
    // manifold — the coarse-search regime (a query's residual geometry
    // always has a distance gradient toward its cell)
    def coord(i: Int, j: Int): Double =
      math.floorMod(
        scala.util.hashing.MurmurHash3.productHash((i, j)), 1000) / 100.0
    val cs = Array.tabulate(n)(i => Array.tabulate(dim)(coord(i, _)))
    val (edges, upper) = GraphCoarseSearch.buildGraph(cs)
    assert(upper.nonEmpty, "expected real upper layers at n=600")
    assert(edges.forall(_.nonEmpty), "every node must stay linked")
    assert(edges.forall(_.length <= 16), "Mmax0 degree cap")
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
      s
    }
    val g = new GraphCoarseSearch(cs, edges, upper)
    val queries = (0 until 40).map { q =>
      val base = cs((q * 13) % n)
      Array.tabulate(dim)(j => base(j) + 0.05 * ((q + j) % 3))
    }
    var hit = 0
    queries.foreach { q =>
      val exactD = cs.map(d2(_, q)).min
      if (g.probe(q, 5, ef = 64).exists(i => d2(cs(i), q) == exactD))
        hit += 1
    }
    assert(hit >= 38, s"recall@5 too low: $hit/40")
    // deterministic: a rebuild reproduces the graph bit-for-bit (the
    // property the persisted-manifest roundtrip check relies on)
    val (e2, u2) = GraphCoarseSearch.buildGraph(cs)
    assert(edges.map(_.toSeq).toSeq == e2.map(_.toSeq).toSeq)
    assert(upper.map(_.map(_.toSeq).toSeq).toSeq ==
      u2.map(_.map(_.toSeq).toSeq).toSeq)
  }

  // ------------------------------------------------------------------
  // merge preserves the granule window in the stats checkpoint [ADVICE r2]
  // ------------------------------------------------------------------

  test("mergeSegments keeps stats.granule_window == manifest.granule_window") {
    val dir = Files.createTempDirectory("graft-r3-merge").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    Maintenance.append(spark, dir, newBatch(3))
    Maintenance.mergeSegments(spark, dir)
    val m = ManifestIO.read(s"$dir/manifest.json")
    assert(m.granule_window > 0)
    assert(IndexBuilder.loadStats(dir).granule_window == m.granule_window)
  }
}
