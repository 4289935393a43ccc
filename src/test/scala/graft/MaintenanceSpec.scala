package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, ManifestIO}
import graft.maintain.Maintenance
import graft.query.{IndexSearcher, QuerySet}
import graft.sources.Corpus

/** F6 maintenance fixture (FIXTURES.md): delete head/middle/tail ranges,
  * compact, assert dense ids + postings follow their docs + query parity
  * with a fresh rebuild. Mirrors /root/reference/test/utils.jl:58-106.
  */
class MaintenanceSpec extends SparkSpec {

  def freshIndex(): String = {
    val dir = Files.createTempDirectory("graft-maint").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    dir
  }

  test("tombstoned docs vanish from results; other hits unchanged") {
    val dir = freshIndex()
    val before = IndexSearcher.topK(spark, dir, QuerySet.queries.take(5), 10)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    val victims = before.filter(_._1 == 1).take(3).map(_._2).distinct
    Maintenance.delete(dir, victims)
    val after = IndexSearcher.topK(spark, dir, QuerySet.queries.take(5), 10)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getDouble(3)))
    assert(after.forall { case (_, id, _) => !victims.contains(id) })
    // surviving hits keep their exact scores
    val beforeMap = before.map { case (q, id, s) => (q, id) -> s }.toMap
    after.foreach { case (q, id, s) =>
      beforeMap.get((q, id)).foreach(old => assert(old == s))
    }
  }

  test("delete head/middle/tail + compact: ids dense in old order, sha follows") {
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    val dead = (0L until 10L) ++ (100L until 120L) ++ ((n - 5) until n)
    Maintenance.delete(dir, dead)
    val out = Files.createTempDirectory("graft-maint-out").toString
    Maintenance.compact(spark, dir, out)

    val oldStore = spark.read.parquet(s"$dir/docstore")
      .select("doc_id", "content_sha").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val newStore = spark.read.parquet(s"$out/docstore")
      .select("doc_id", "content_sha").collect()
      .sortBy(_.getLong(0))
    // dense 0..m-1
    assert(newStore.map(_.getLong(0)).toSeq == (0L until (n - dead.size)))
    // sha sequence = old survivors in old-id order (the reference's
    // shift-down semantics)
    val expected = (0L until n).filterNot(dead.toSet)
      .map(oldStore)
    assert(newStore.map(_.getString(1)).toSeq == expected)
    // manifest consistency
    val m2 = ManifestIO.read(s"$out/manifest.json")
    assert(m2.num_docs == n - dead.size)
    assert(m2.partitions.map(_.num_docs).sum == m2.num_docs)
    assertManifestMatchesScan(out, ManifestIO.read(s"$dir/manifest.json"))
  }

  test("compacted index query results == fresh rebuild of survivor corpus") {
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    val dead = (0L until 10L) ++ (200L until 230L)
    Maintenance.delete(dir, dead)
    val out = Files.createTempDirectory("graft-maint-out2").toString
    Maintenance.compact(spark, dir, out)

    // fresh rebuild over the same survivor rows (original id order ==
    // (repo,path,commit) order, so ids must line up exactly)
    import spark.implicits._
    val deadDf = dead.toDF("doc_id")
    val survivors = spark.read.parquet(s"$dir/docstore")
      .join(broadcast(deadDf), Seq("doc_id"), "left_anti")
      .select("repo", "path", "commit", "lang", "content")
    val fresh = Files.createTempDirectory("graft-maint-fresh").toString
    IndexBuilder.buildFromSource(spark, survivors, fresh,
      IndexBuilder.BuildConfig(resume = false))

    val a = IndexSearcher.topK(spark, out, QuerySet.queries, 10).collect()
    val b = IndexSearcher.topK(spark, fresh, QuerySet.queries, 10).collect()
    assert(a.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq ==
      b.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq)
  }

  test("pop/popFirst reconstruct exactly and tombstone; prepend shifts ids up") {
    import spark.implicits._
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    val last = Maintenance.popLast(spark, dir).get
    assert(last.getAs[Long]("doc_id") == n - 1)
    val first = Maintenance.popFirst(spark, dir).get
    assert(first.getAs[Long]("doc_id") == 0L)
    // reconstruction is exact (lossless docstore)
    assert(last.getAs[String]("content_sha").length == 64)
    assert(Maintenance.loadTombstones(dir) == Set(0L, n - 1))

    val newRows = Seq(("repo-z", "src/z/first.c", "c0ffee00cafe", "c",
      "prepended content wins id zero")).toDF(
      "repo", "path", "commit", "lang", "content")
    val out = java.nio.file.Files.createTempDirectory("graft-prepend").toString
    Maintenance.prepend(spark, dir, newRows, out)
    val store = spark.read.parquet(s"$out/docstore")
      .select("doc_id", "path").orderBy("doc_id").collect()
    assert(store.head.getString(1) == "src/z/first.c") // id 0 = new doc
    assert(store.length == n - 2 + 1) // survivors + prepended
    assert(store.map(_.getLong(0)).toSeq == (0L until (n - 1)))
    // introspection (X1-X3)
    assert(graft.build.IndexInfo.numDocs(out) == n - 1)
    val desc = graft.build.IndexInfo.describe(out)
    assert(desc.contains("B/posting") && desc.contains(s"docs=${n - 1}"))
  }

  /** The maintained manifest against what scans of the index say:
    * partitions, vocab and segments as observed, quantizer and coarse
    * graph as built.
    */
  def assertManifestMatchesScan(dir: String,
      built: graft.build.IndexManifest): Unit = {
    import graft.build.IndexSchemas
    val m = ManifestIO.read(s"$dir/manifest.json")
    val docs = IndexSchemas.readDocstore(spark, dir)
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val blocks = IndexSchemas.readPostings(spark, dir)
      .groupBy("cluster_id")
      .agg(sum(col("count")), count(lit(1)),
        sum(length(col("doc_gaps")) + length(col("tfs")) +
          length(col("dls")) + length(col("positions"))))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val scanned = docs.keys.toSeq.sorted.map { c =>
      val (p, b, bytes) = blocks.getOrElse(c, (0L, 0L, 0L))
      (c, docs(c), p, b, bytes)
    }
    assert(m.partitions.map(p => (p.cluster_id, p.num_docs, p.num_postings,
      p.num_blocks, p.bytes)) == scanned)
    assert(m.vocab_size == IndexSchemas.readDictionary(spark, dir).count())
    val segIds = m.segments.map(_.segment_id)
    assert(segIds.distinct.size == segIds.size, segIds)
    assert(segIds.toSet == IndexSchemas.readPostings(spark, dir)
      .select("segment_id").distinct().collect().map(_.getInt(0)).toSet)
    assert(m.centroids.map(_.toSeq).toSeq == built.centroids.map(_.toSeq).toSeq)
    assert(m.coarse_graph.map(_.toSeq).toSeq ==
      built.coarse_graph.map(_.toSeq).toSeq)
    assert(m.coarse_graph_upper.map(_.map(_.toSeq).toSeq).toSeq ==
      built.coarse_graph_upper.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("segment merge consolidates appended blocks and refreshes avgdl") {
    import spark.implicits._
    val dir = freshIndex()
    val built = ManifestIO.read(s"$dir/manifest.json")
    (1 to 2).foreach { i =>
      Maintenance.append(spark, dir, Seq(
        (s"repo-m$i", s"src/m$i/a.c", f"feed$i%08d0001", "c",
          "quartz melody quartz dup join"),
        (s"repo-m$i", s"src/m$i/b.c", f"feed$i%08d0002", "c",
          "melody xylophone join hash"))
        .toDF("repo", "path", "commit", "lang", "content"))
      assertManifestMatchesScan(dir, built)
    }
    val preBlocks = spark.read.parquet(s"$dir/postings")
      .groupBy("cluster_id", "term").count()
      .filter(col("count") > 1).count()
    assert(preBlocks > 0, "appends should leave fragmented (cluster,term) runs")

    Maintenance.mergeSegments(spark, dir)
    assertManifestMatchesScan(dir, built)

    val m = ManifestIO.read(s"$dir/manifest.json")
    assert(m.num_docs == 504)
    // avgdl refreshed to the exact docstore mean
    val exact = spark.read.parquet(s"$dir/docstore")
      .agg(sum(col("doc_len")), count(org.apache.spark.sql.functions.lit(1)))
      .head()
    assert(m.avgdl == exact.getLong(0).toDouble / exact.getLong(1))
    // blocks consolidated: every (cluster,term) with df<=128 is ONE block
    val fragmented = spark.read.parquet(s"$dir/postings")
      .groupBy("cluster_id", "term")
      .agg(count(org.apache.spark.sql.functions.lit(1)).as("blocks"),
        sum(col("count")).as("df"))
      .filter(col("df") <= 128 && col("blocks") > 1)
      .count()
    assert(fragmented == 0)
    // post-merge WAND == declarative scoring over the SAME docstore
    val wand = IndexSearcher.topK(spark, dir,
      QuerySet.queries.take(5) :+ (99 -> Seq("quartz", "join")), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val sql = graft.query.Bm25SqlPath.topK(spark,
      spark.read.parquet(s"$dir/docstore"),
      QuerySet.queries.take(5) :+ (99 -> Seq("quartz", "join")), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(wand.toSeq == sql.toSeq)
  }

  test("append: new docs searchable with insertion-order ids; sha invariant holds") {
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    import spark.implicits._
    val newRows = Seq(
      ("repo-x", "src/new/a.scala", "c0ffee000001", "scala",
        "zebra quail zebra dup merge"),
      ("repo-x", "src/new/b.scala", "c0ffee000002", "scala",
        "zebra join hash quail")
    ).toDF("repo", "path", "commit", "lang", "content")
    Maintenance.append(spark, dir, newRows)

    val m2 = ManifestIO.read(s"$dir/manifest.json")
    assert(m2.num_docs == n + 2)
    // new ids continue densely
    val ids = spark.read.parquet(s"$dir/docstore")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until (n + 2)))
    // the new rare term is found, scored, and ranked
    val hits = IndexSearcher.topK(spark, dir, Seq(99 -> Seq("zebra")), 10)
      .collect()
    assert(hits.map(_.getLong(2)).toSet == Set(n, n + 1))
    // appended sha invariant
    val shas = Maintenance.fetchDocs(spark, dir, Seq(n, n + 1))
      .map(_.getAs[String]("content_sha"))
    val exp = Seq("zebra quail zebra dup merge", "zebra join hash quail")
      .map(s => java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(shas.toSeq == exp)
  }

  test("append fails loudly on a non-deterministic source; nothing is written") {
    import spark.implicits._
    val dir = freshIndex()
    val manifestPath = java.nio.file.Paths.get(dir, "manifest.json")
    val manifestBytes = Files.readAllBytes(manifestPath)
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    def ids() = graft.build.IndexSchemas.readDocstore(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // the dense-id keys pass and the docstore write each draw new paths
    val randomPath = udf(() => java.util.UUID.randomUUID().toString)
      .asNondeterministic()
    val batch = Seq(("repo-u", "c", "quokka one"), ("repo-u", "c", "quokka two"))
      .toDF("repo", "lang", "content")
      .select(col("repo"), randomPath().as("path"), lit("c0ffee0000ff").as("commit"),
        col("lang"), col("content"))
    intercept[Exception](Maintenance.append(spark, dir, batch))
    assert(ids() == (0L until n))
    assert(Files.readAllBytes(manifestPath).sameElements(manifestBytes))

    Maintenance.append(spark, dir, Seq(
      ("repo-u", "src/u/a.c", "c0ffee000001", "c", "quokka one"),
      ("repo-u", "src/u/b.c", "c0ffee000002", "c", "quokka two"))
      .toDF("repo", "path", "commit", "lang", "content"))
    assert(ids() == (0L until n + 2))
  }

  test("append indexes the rows it stored when the source content changes between jobs") {
    import spark.implicits._
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    // fixed keys; every evaluation of content draws a new rare token
    val randomContent = udf(() => "zz" +
      java.util.UUID.randomUUID().toString.replace("-", "") + " quokka join")
      .asNondeterministic()
    Maintenance.append(spark, dir,
      Seq(("repo-v", "src/v/a.c", "c0ffee0000a1"), ("repo-v", "src/v/b.c", "c0ffee0000a2"))
        .toDF("repo", "path", "commit")
        .select(col("repo"), col("path"), col("commit"), lit("c").as("lang"),
          randomContent().as("content")))
    val stored = Maintenance.fetchDocs(spark, dir, Seq(n, n + 1))
      .map(_.getAs[String]("content").split(" ").head)
    assert(stored.length == 2)
    val queries = stored.toSeq.zipWithIndex.map { case (t, i) => (90 + i) -> Seq(t) }
    val hits = IndexSearcher.topK(spark, dir, queries, 10).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toSeq
    assert(hits == Seq(90 -> n, 91 -> (n + 1)))
    // WAND == declarative scoring over the live docstore, once merge has
    // refreshed the avgdl that append holds
    Maintenance.mergeSegments(spark, dir)
    val qs = queries.map { case (i, t) => i -> (t :+ "join") } ++
      QuerySet.queries.take(3)
    val wand = IndexSearcher.topK(spark, dir, qs, 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val sql = graft.query.Bm25SqlPath.topK(spark,
      graft.build.IndexSchemas.readDocstore(spark, dir), qs, 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(wand.toSeq == sql.toSeq)
  }

  test("delete rejects ids outside [0, num_docs), so no tombstone hides a later append") {
    import spark.implicits._
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    val e = intercept[IllegalArgumentException](Maintenance.delete(dir, Seq(3L, n)))
    assert(e.getMessage.contains(s"[0, $n): $n"), e.getMessage)
    intercept[IllegalArgumentException](Maintenance.delete(dir, Seq(-1L)))
    assert(Maintenance.loadTombstones(dir).isEmpty)
    Maintenance.append(spark, dir,
      Seq(("repo-t", "src/t/a.c", "c0ffee0000b1", "c", "wombatburrow fresh"))
        .toDF("repo", "path", "commit", "lang", "content"))
    assert(IndexSearcher.topK(spark, dir, Seq(1 -> Seq("wombatburrow")), 10)
      .collect().map(_.getLong(2)).toSeq == Seq(n))
  }

  test("compacting a fully tombstoned index gives an empty, queryable index") {
    val dir = freshIndex()
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    Maintenance.delete(dir, 0L until n)
    val out = Files.createTempDirectory("graft-maint-empty").toString
    Maintenance.compact(spark, dir, out)
    val m = ManifestIO.read(s"$out/manifest.json")
    assert(m.num_docs == 0 && m.vocab_size == 0 && m.partitions.isEmpty)
    assert(m.avgdl == 0.0)
    assert(!new String(Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json"))).contains("NaN"))
    assert(IndexSearcher.topK(spark, out, QuerySet.queries.take(5), 10)
      .collect().isEmpty)
    assert(graft.query.PhraseSearch.search(spark, out, Seq("hash", "join"))
      .collect().isEmpty)
    // the first append to the empty index scores with its own avgdl
    import spark.implicits._
    Maintenance.append(spark, out, Seq(
      ("repo-e", "src/e/a.c", "c0ffee0000e1", "c", "hash join hash"),
      ("repo-e", "src/e/b.c", "c0ffee0000e2", "c", "join index"),
      ("repo-e", "src/e/c.c", "c0ffee0000e3", "c", ""))
      .toDF("repo", "path", "commit", "lang", "content"))
    val qs = Seq(1 -> Seq("hash"), 2 -> Seq("join", "index"))
    val wand = IndexSearcher.topK(spark, out, qs, 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val sql = graft.query.Bm25SqlPath.topK(spark,
      graft.build.IndexSchemas.readDocstore(spark, out), qs, 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(wand.toSeq == sql.toSeq)
    assert(wand.forall(_._4 > 0), wand.toSeq)
  }

  // ------------------------------------------------------------------
  // crash states: the manifest is the one commit point
  // ------------------------------------------------------------------

  lazy val baseIndex: String = freshIndex()

  private def batch(tag: String) = {
    import spark.implicits._
    Seq((s"repo-$tag", s"src/$tag/a.c", "c0ffee0000c1", "c",
        "zebra quail zebra hash join"),
      (s"repo-$tag", s"src/$tag/b.c", "c0ffee0000c2", "c", "zebra index merge"))
      .toDF("repo", "path", "commit", "lang", "content")
  }

  /** What queries see: WAND hits, phrase hits and the docstore ids. */
  private def results(dir: String) = (
    IndexSearcher.topK(spark, dir,
      QuerySet.queries.take(5) :+ (99 -> Seq("zebra", "join")), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq,
    graft.query.PhraseSearch.search(spark, dir, Seq("hash", "join"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq,
    ids(dir))

  private def ids(dir: String) = graft.build.IndexSchemas.readDocstore(spark, dir)
    .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  /** The ids in the docstore dir, read as a directory. */
  private def dirIds(dir: String) = spark.read.parquet(s"$dir/docstore")
    .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  test("a crash before an append's commit changes nothing; the retried append gives dense unique ids") {
    Seq(None, Some(new scala.util.Random(7))).foreach { rnd =>
      val dir = CrashStates.copyIndex(baseIndex)
      val n = ManifestIO.read(s"$dir/manifest.json").num_docs
      val before = results(dir)
      CrashStates.crashBeforeCommit(dir,
        Maintenance.append(spark, _, batch("crash")), rnd)
      assert(results(dir) == before)
      Maintenance.append(spark, dir, batch("crash"))
      assert(ids(dir) == (0L until n + 2))
      assert(dirIds(dir) == (0L until n + 2))
      assert(IndexSearcher.topK(spark, dir, Seq(1 -> Seq("zebra")), 10)
        .collect().map(_.getLong(2)).toSet == Set(n, n + 1))
    }
  }

  test("a crash before a merge's or a delete's commit changes nothing") {
    val dir = CrashStates.copyIndex(baseIndex)
    Maintenance.append(spark, dir, batch("pre"))
    val before = results(dir)
    val merged = CrashStates.crashBeforeCommit(dir,
      Maintenance.mergeSegments(spark, _))
    assert(results(dir) == before)
    val victims = before._1.filter(_._1 == 99).map(_._3).take(2)
    CrashStates.crashBeforeCommit(dir, Maintenance.delete(_, victims),
      Some(new scala.util.Random(11)))
    assert(results(dir) == before)
    assert(Maintenance.loadTombstones(dir).isEmpty)
    // each then runs once, as on the copy
    Maintenance.mergeSegments(spark, dir)
    assert(results(dir) == results(merged))
    Maintenance.delete(dir, victims)
    assert(Maintenance.loadTombstones(dir) == victims.toSet)
    assert(results(dir)._1.forall(h => !victims.contains(h._3)))
    assert(spark.read.parquet(s"$dir/postings").count() ==
      graft.build.IndexSchemas.readPostings(spark, dir).count())
  }

  test("a crash after a commit, before its sweep, reads as the committed snapshot") {
    val dir = CrashStates.copyIndex(baseIndex)
    val appended = CrashStates.crashBeforeSweep(dir,
      Maintenance.append(spark, _, batch("sweep")))(results(dir))
    assert(results(dir) == appended)
    val merged = CrashStates.crashBeforeSweep(dir,
      Maintenance.mergeSegments(spark, _))(results(dir))
    assert(results(dir) == merged)
    // the next mutation sweeps the leftovers: the dirs hold what is listed
    Maintenance.delete(dir, Seq(0L))
    val n = ManifestIO.read(s"$dir/manifest.json").num_docs
    assert(dirIds(dir) == (0L until n))
    assert(spark.read.parquet(s"$dir/postings").count() ==
      graft.build.IndexSchemas.readPostings(spark, dir).count())
    assert(spark.read.parquet(s"$dir/dictionary").count() ==
      ManifestIO.read(s"$dir/manifest.json").vocab_size)
  }

  test("compacting unmerged appends keeps each term's blocks disjoint, however the read splits its files") {
    import spark.implicits._
    val dir = CrashStates.copyIndex(baseIndex)
    // batches of very different sizes: a read packs postings files by
    // size, so one task can hold a cluster's first and third batch and
    // another task the second, which lies between them in doc order
    Seq(60, 3, 60).zipWithIndex.foreach { case (k, a) =>
      Maintenance.append(spark, dir, (0 until k).map(j =>
        (s"repo-s$a", f"src/s$a/$j%03d.c", f"5eed$a%02d$j%06d", "c",
          "hash join merge " + "quartz " * (j % 3) + "index"))
        .toDF("repo", "path", "commit", "lang", "content"))
    }
    val out = Files.createTempDirectory("graft-maint-splits").toString
    Maintenance.compact(spark, dir, out)
    graft.build.IndexSchemas.readPostings(spark, out)
      .select("cluster_id", "term", "first_doc", "last_doc").collect()
      .groupBy(r => (r.getInt(0), r.getString(1))).foreach { case (key, bs) =>
        bs.map(r => (r.getLong(2), r.getLong(3))).sorted.sliding(2).foreach {
          case Array((_, last), (first, _)) =>
            assert(last < first, s"$key: blocks overlap at $first <= $last")
          case _ =>
        }
      }
    val qs = Seq(1 -> Seq("hash", "quartz"), 2 -> Seq("merge", "index"))
    val wand = IndexSearcher.topK(spark, out, qs, 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val sql = graft.query.Bm25SqlPath.topK(spark,
      graft.build.IndexSchemas.readDocstore(spark, out), qs, 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(wand.toSeq == sql.toSeq)
  }

  test("a manifest of another format version fails loudly and asks for a rebuild") {
    val dir = CrashStates.copyIndex(baseIndex)
    val m = ManifestIO.read(s"$dir/manifest.json")
    // written as an older build wrote it: the check is on read
    ManifestIO.write(s"$dir/manifest.json", m.copy(version = 2))
    val e = intercept[IllegalStateException](
      IndexSearcher.topK(spark, dir, QuerySet.queries.take(1), 10))
    assert(e.getMessage.contains("version 2") && e.getMessage.contains("rebuild"),
      e.getMessage)
    intercept[IllegalStateException](Maintenance.append(spark, dir, batch("v")))
  }
}
