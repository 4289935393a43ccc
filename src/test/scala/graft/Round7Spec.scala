package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, ManifestIO}

/** Round-7 optimization pins: every r7 rewrite must be output-identical
  * to the form it replaced — these tests state each equivalence
  * directly (the oracle hash-match states it end-to-end).
  */
class Round7Spec extends SparkSpec {

  test("TombstoneShiftExpr.shift == rank among survivors in old-id order") {
    val dead = Array(0L, 3L, 4L, 9L, 17L)
    val n = 20L
    val survivors = (0L until n).filterNot(dead.contains)
    survivors.zipWithIndex.foreach { case (old, rank) =>
      assert(graft.functions.TombstoneShiftExpr.shift(dead, old) == rank,
        s"old=$old")
    }
    dead.foreach { d =>
      assert(graft.functions.TombstoneShiftExpr.shift(dead, d) ==
        graft.functions.TombstoneShiftExpr.Dead)
    }
    // empty dead set: identity
    (0L until 5L).foreach { id =>
      assert(graft.functions.TombstoneShiftExpr.shift(Array.emptyLongArray, id) == id)
    }
  }

  test("compact fast path == dense re-rank of survivors (docstore content)") {
    val idx = Files.createTempDirectory("graft-r7-cidx").toString
    val out = Files.createTempDirectory("graft-r7-cout").toString
    try {
      IndexBuilder.build(spark, sf0001, idx,
        IndexBuilder.BuildConfig(resume = false))
      val dead = Set(1L, 2L, 10L, 49L)
      graft.maintain.Maintenance.compact(spark, idx, out,
        deadOverride = Some(dead))
      // expectation derived INDEPENDENTLY of the shift expression: anti
      // join + window re-rank over the source docstore
      val src = spark.read.parquet(s"$idx/docstore")
      val expected = src
        .filter(!col("doc_id").isin(dead.toSeq: _*))
        .withColumn("new_id",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("doc_id"))) - 1).cast("long"))
        .select(col("new_id"), col("content_sha"), col("cluster_id"),
          col("doc_len"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getInt(3))).sortBy(_._1)
      val got = spark.read.parquet(s"$out/docstore")
        .select(col("doc_id"), col("content_sha"), col("cluster_id"),
          col("doc_len"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getInt(3))).sortBy(_._1)
      assert(got.toSeq == expected.toSeq)
      // manifest-level invariants: count, avgdl refreshed exactly
      val m = ManifestIO.read(s"$out/manifest.json")
      assert(m.num_docs == expected.length)
      val sumDl = expected.map(_._4.toLong).sum
      assert(m.avgdl == sumDl.toDouble / expected.length)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("compact postings transform == decode-shift of source postings") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-r7-tidx").toString
    val out = Files.createTempDirectory("graft-r7-tout").toString
    try {
      IndexBuilder.build(spark, sf0001, idx,
        IndexBuilder.BuildConfig(resume = false))
      val dead = Set(0L, 7L, 8L, 100L)
      graft.maintain.Maintenance.compact(spark, idx, out,
        deadOverride = Some(dead))
      val deadArr = dead.toArray.sorted
      def decoded(dir: String): Seq[(String, Int, Long, Int, String)] =
        graft.build.IndexSchemas.readPostings(spark, dir)
          .as[graft.model.PostingBlock].collect().toSeq
          .flatMap { b =>
            graft.codec.PostingCodec.decodeEntries(b).map(e =>
              (b.term, b.cluster_id, e.doc, e.tf,
                e.positions.mkString(",")))
          }
      // expectation: source entries, dead dropped, ids shifted
      val expected = decoded(idx).flatMap { case (t, c, d, tf, pos) =>
        val nid = graft.functions.TombstoneShiftExpr.shift(deadArr, d)
        if (nid < 0) None else Some((t, c, nid, tf, pos))
      }.sorted
      assert(decoded(out).sorted == expected)
      // and every block stays inside one NEW granule (the query-side
      // split invariant)
      val w = ManifestIO.read(s"$out/manifest.json").granule_window
      graft.build.IndexSchemas.readPostings(spark, out)
        .as[graft.model.PostingBlock].collect().foreach { b =>
          assert(b.first_doc / w == b.last_doc / w,
            s"block crosses granules: ${b.term} ${b.first_doc}..${b.last_doc}")
        }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("driver-sort dense ids == distributed-exchange dense ids") {
    import spark.implicits._
    // adversarial keys: non-ASCII (incl. a supplementary character,
    // where UTF-16 code-unit order and UTF8 binary order could diverge
    // if the driver sort used plain String ordering), empties, shared
    // prefixes
    val keys = Seq("b", "a", "éclair", "zz", "😀emoji",
      "é", "aa", "", "Z", "z", "中文", "a b")
    val adversarial = keys.zipWithIndex
      .map { case (k, i) => (k, s"p$i", s"c$i") }
    // a null key: two rows share `repo`, so the driver sort's comparator
    // must reach the null `path` (the driver sort then falls back)
    val withNull = Seq(("r", "p1", "c1"), ("r", null, "c2"), ("q", "p0", "c0"))
    Seq(adversarial, withNull).foreach { rows =>
      val src = rows.toDF("repo", "path", "commit").repartition(4)
      def ids(strategy: String, hint: Long) = graft.sources.Corpus
        .withDenseIdCounted(src, Seq("repo", "path", "commit"), "id",
          strategy = strategy, rowHint = hint)
        .df.select(col("repo"), col("path"), col("id"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(_._3).toSeq
      val viaDriver = ids("auto", rows.size.toLong) // driver-sort path
      val viaExchange = ids("exchange", 0L)
      assert(viaDriver == viaExchange)
      // an over-bound or absent hint must not change results either
      assert(ids("auto", 0L) == viaExchange)
    }
  }

  test("buildWithQueries == build + separate query collect (model + queries)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val (m1, _, qs) = graft.parity.IvfAdc.buildWithQueries(
      spark, emb, kc = 4, m = 4, k = 8, queryIds = qids)
    val (m2, _) = graft.parity.IvfAdc.build(spark, emb, kc = 4, m = 4, k = 8)
    assert(java.util.Arrays.deepEquals(
      m1.centroids.asInstanceOf[Array[AnyRef]],
      m2.centroids.asInstanceOf[Array[AnyRef]]))
    assert(m1.codebooks.books.flatten.flatten.toSeq ==
      m2.codebooks.books.flatten.flatten.toSeq)
    import spark.implicits._
    val qs2 = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id.toInt, v) }.toSeq
    assert(qs.map(_._1) == qs2.map(_._1))
    assert(qs.map(_._2.toSeq) == qs2.map(_._2.toSeq))

    // adversarial ids: every vec_id a multiple of the stride, so the
    // sample filter keeps every row and the driver guard `limit` binds
    val cap = 10
    val n = 200L
    val rnd = new scala.util.Random(7L)
    val adv = (0L until n).map(i =>
      (i * (n / cap), Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").repartition(3)
    val advQ = Seq(0L, 20L * 150, 20L * 199)
    val (m3, _, qs3) = graft.parity.IvfAdc.buildWithQueries(
      spark, adv, kc = 2, m = 2, k = 4, queryIds = advQ, sampleCap = cap)
    val (m4, _) = graft.parity.IvfAdc.build(
      spark, adv, kc = 2, m = 2, k = 4, sampleCap = cap)
    assert(java.util.Arrays.deepEquals(
      m3.centroids.asInstanceOf[Array[AnyRef]],
      m4.centroids.asInstanceOf[Array[AnyRef]]))
    assert(m3.codebooks.books.flatten.flatten.toSeq ==
      m4.codebooks.books.flatten.flatten.toSeq)
    assert(qs3.map(_._1.toLong) == advQ)
    val advRows = adv.collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
      .toMap
    assert(qs3.map(_._2.toSeq) == advQ.map(advRows))
  }

  test("per-row array_distinct == global distinct for shingles and fingerprints") {
    val docs = graft.sources.Corpus.docs(spark, sf0001)
    // shingles: the r7 zero-exchange form vs an explicit global distinct
    // over the same exploded (non-deduped) base
    val sh = graft.ops.Dedup.shingles(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val base = docs
      .select(col("doc_id"),
        graft.tokenize.Tokenizer.tokensCol(col("content")).as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= graft.ops.Dedup.ShingleN,
          expr("transform(sequence(0, size(toks) - " +
            graft.ops.Dedup.ShingleN + "), i -> concat_ws(' ', " +
            (0 until graft.ops.Dedup.ShingleN).map(j => s"toks[i+$j]")
              .mkString(", ") + "))"))
          .otherwise(array().cast("array<string>"))).as("shingle"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(sh.toSeq == base.toSeq)
    assert(sh.length == sh.distinct.length)
    // fingerprints: output-distinct per (doc_id, fingerprint)
    val fp = graft.ops.TextStats.fingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fp.length == fp.distinct.length)
  }

  test("shared termStats/corpusStats frames == direct aggregation") {
    val docs = graft.sources.Corpus.docs(spark, sf0001)
    val viaCache = graft.query.Bm25SqlPath.termStats(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val direct = docs
      .select(col("doc_id"),
        explode(graft.tokenize.Tokenizer.tokensCol(col("content")))
          .as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(viaCache.toSeq == direct.toSeq)
    val st = graft.query.Bm25SqlPath.corpusStats(docs).head()
    val dn = docs.count()
    assert(st.getLong(0) == dn)
    assert(st.getDouble(1) ==
      docs.agg(avg(col("doc_len"))).head().getDouble(0))
  }

  test("Multimodal.assetsFrom(shared docs) == assets(spark, sfDir)") {
    val viaShared = graft.ops.Multimodal
      .assetsFrom(graft.sources.Corpus.docs(spark, sf0001))
      .select(col("asset_id"), col("kind"), col("width"),
        col("sample_rate"), length(col("payload")).as("nb"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).sortBy(_._1)
    val direct = graft.ops.Multimodal.assets(spark, sf0001)
      .select(col("asset_id"), col("kind"), col("width"),
        col("sample_rate"), length(col("payload")).as("nb"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).sortBy(_._1)
    assert(viaShared.toSeq == direct.toSeq)
  }
}
