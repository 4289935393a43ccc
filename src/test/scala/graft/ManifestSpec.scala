package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.build.{IndexBuilder, IndexManifest, IndexSchemas, ManifestIO}
import graft.query.{IndexSearcher, QuerySet}

/** The manifest is the index's only state: readers read only a whole,
  * complete one, and the build resumes from the one it committed last.
  */
class ManifestSpec extends SparkSpec {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def build(dir: String, cfg: IndexBuilder.BuildConfig) =
    IndexBuilder.build(spark, sf0001, dir, cfg)

  private def newDir(tag: String) =
    Files.createTempDirectory(s"graft-manifest-$tag").toString

  private def topK(dir: String) =
    IndexSearcher.topK(spark, dir, QuerySet.queries, 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  /** The rows of the three tables, as the manifest lists them. */
  private def rows(dir: String) = {
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case a: Array[Byte] => a.toSeq
        case v => v
      }.mkString("|")).sorted.toSeq
    (sorted(IndexSchemas.readDocstore(spark, dir)),
      sorted(IndexSchemas.readPostings(spark, dir)),
      sorted(IndexSchemas.readDictionary(spark, dir)))
  }

  /** `m` as JSON without its timing fields, part-file names without
    * their write job's id, and `build_done` as a set.
    */
  private def canonical(m: IndexManifest): String = {
    val t = json.valueToTree[ObjectNode](m)
    Seq("partitions", "segments").foreach(f => t.get(f).forEach { p =>
      p.asInstanceOf[ObjectNode].remove(
        java.util.List.of("build_millis", "postings_per_sec"))
    })
    val files = t.get("files").asInstanceOf[ObjectNode]
    Seq("docstore", "postings", "dictionary").foreach { table =>
      val names = json.treeToValue(files.get(table), classOf[Array[String]])
        .map(_.replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", ""))
      files.set[JsonNode](table, json.valueToTree[JsonNode](names.sorted))
    }
    t.set[JsonNode]("build_done", json.valueToTree[JsonNode](m.build_done.sorted))
    t.toString
  }

  /** The part files of the three tables on disk, and the ones `m` lists. */
  private def onDisk(dir: String) = Seq("docstore", "postings", "dictionary")
    .map(t => IndexSchemas.partFiles(s"$dir/$t"))

  private def listed(m: IndexManifest) =
    Seq(m.files.docstore, m.files.postings, m.files.dictionary).map(_.sorted)

  test("a manifest missing a field, or listing no files for its docs, fails to read and to query") {
    val dir = newDir("strict")
    build(dir, IndexBuilder.BuildConfig(resume = false))
    val path = s"$dir/manifest.json"
    val fresh = json.readTree(Files.readAllBytes(Paths.get(path)))
    val corruptions: Seq[(String, ObjectNode => Unit)] = Seq(
      "no files" -> (_.remove("files")),
      "files: null" -> (_.putNull("files")),
      "no centroids" -> (_.remove("centroids")),
      "empty files.docstore" -> (t =>
        t.get("files").asInstanceOf[ObjectNode].putArray("docstore")))
    corruptions.foreach { case (what, corrupt) =>
      val copy = CrashStates.copyIndex(dir)
      val t = fresh.deepCopy[ObjectNode]()
      corrupt(t)
      Files.write(Paths.get(copy, "manifest.json"), json.writeValueAsBytes(t))
      withClue(what) {
        intercept[Exception](ManifestIO.read(s"$copy/manifest.json"))
        intercept[Exception](
          IndexSearcher.topK(spark, copy, QuerySet.queries.take(1), 10).collect())
      }
    }
  }

  test("a crash between postings batches resumes at the missing batch and ends as the uncrashed build") {
    val cfg = IndexBuilder.BuildConfig(kc = 8, resume = false, postingsBatches = 4)
    val dir = newDir("crash")
    build(dir, cfg)
    val whole = ManifestIO.read(s"$dir/manifest.json")
    val (hits, tables) = (topK(dir), rows(dir))

    // batches 0, 2 and 3 committed; batch 1's files installed but not
    // committed, a partial staging dir of its rerun, and the old
    // dictionary files left on disk
    val crashed = CrashStates.postingsBatchPending(whole, 4, 1)
    ManifestIO.write(s"$dir/manifest.json", crashed)
    val batch1 = whole.files.postings.filterNot(crashed.files.postings.toSet)
    assert(batch1.nonEmpty)
    CrashStates.copyFiles(s"$dir/postings", s"$dir/postings_staging_1",
      batch1.take(1))
    intercept[IllegalStateException](
      IndexSearcher.topK(spark, dir, QuerySet.queries.take(1), 10))

    val res = build(dir, cfg.copy(resume = true))
    assert(res.stepsRun.toSet ==
      Set("postings_batch_1", "postings", "dictionary", "manifest"))
    assert(res.stepsSkipped.toSet == Set("docstore", "postings_batch_0",
      "postings_batch_2", "postings_batch_3"))
    val resumed = ManifestIO.read(s"$dir/manifest.json")
    assert(onDisk(dir) == listed(resumed))
    assert(!Files.exists(Paths.get(dir, "postings_staging_1")))
    assert(topK(dir) == hits)
    assert(rows(dir) == tables)
    assert(canonical(resumed) == canonical(whole))
  }

  test("resuming a dir of another format version or another config builds it fresh") {
    val fresh = newDir("fresh")
    build(fresh, IndexBuilder.BuildConfig(resume = false))
    val want = topK(fresh)

    val otherVersion = newDir("old-version")
    build(otherVersion, IndexBuilder.BuildConfig(resume = false))
    val path = Paths.get(otherVersion, "manifest.json")
    val t = json.readTree(Files.readAllBytes(path)).asInstanceOf[ObjectNode]
    Files.write(path, json.writeValueAsBytes(
      t.put("version", ManifestIO.FormatVersion - 1)))
    // a version-7 build kept its step markers beside the manifest
    val checkpoints = Paths.get(otherVersion, "_checkpoints")
    Files.createDirectories(checkpoints)
    Files.write(checkpoints.resolve("fingerprint.txt"), "v=7".getBytes)

    val otherKc = newDir("kc8")
    build(otherKc, IndexBuilder.BuildConfig(kc = 8, resume = false))

    Seq(otherVersion, otherKc).foreach { dir =>
      val res = build(dir, IndexBuilder.BuildConfig(resume = true))
      assert(res.stepWindows.map(_._1) ==
        Seq("docstore", "postings", "dictionary", "manifest"), dir)
      assert(res.stepsSkipped.isEmpty, dir)
      assert(topK(dir) == want, dir)
      assert(onDisk(dir) == listed(ManifestIO.read(s"$dir/manifest.json")), dir)
    }
    assert(!Files.exists(checkpoints))
  }

  test("no build or compaction adopts a crashed writer's committed task files") {
    val src = newDir("task-src")
    build(src, IndexBuilder.BuildConfig(resume = false))
    val part = ManifestIO.read(s"$src/manifest.json").files.docstore.head
    // what a docstore write that crashed after a task commit leaves under
    // the v1 FileOutputCommitter: the next job commit moves every task
    // dir under _temporary/0 into the table
    def crashedWriter(dir: String): Unit = CrashStates.copyFiles(
      s"$src/docstore",
      s"$dir/docstore/_temporary/0/task_202601010000_0000_m_000000", Seq(part))
    def check(dir: String): Unit = {
      val m = ManifestIO.read(s"$dir/manifest.json")
      assert(IndexSchemas.readDocstore(spark, dir).count() == m.num_docs, dir)
      assert(!listed(m).flatten.contains(part), dir)
      assert(onDisk(dir) == listed(m), dir)
    }
    Seq(true, false).foreach { resume =>
      val dir = newDir(s"task-$resume")
      crashedWriter(dir)
      build(dir, IndexBuilder.BuildConfig(resume = resume))
      check(dir)
    }
    // a compaction retried into the outDir its crashed run left
    val out = newDir("task-compact")
    crashedWriter(out)
    graft.maintain.Maintenance.compact(spark, src, out,
      deadOverride = Some(Set(0L, 7L)))
    check(out)
  }
}
