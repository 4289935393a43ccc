package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.build.{IndexBuilder, IndexManifest}

/** Crash states of an index mutation, built from files alone: a crash
  * before the commit leaves the pre-mutation files plus some of the
  * mutation's new files under the pre-mutation manifest; a crash after
  * the commit, before the sweep, leaves the post-mutation manifest plus
  * the files it no longer lists.
  */
object CrashStates {

  /** Every regular file under `dir`, relative to it. */
  def files(dir: String): Set[String] = {
    val root = Paths.get(dir)
    val w = Files.walk(root)
    try w.iterator.asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet
    finally w.close()
  }

  def copyFiles(from: String, to: String, rel: Iterable[String]): Unit =
    rel.foreach { f =>
      val t = Paths.get(to, f)
      Files.createDirectories(t.getParent)
      Files.copy(Paths.get(from, f), t, StandardCopyOption.REPLACE_EXISTING)
    }

  /** A copy of the index `dir`, at a path with a space in it. */
  def copyIndex(dir: String): String = {
    val to = Files.createTempDirectory("graft crash").toString
    copyFiles(dir, to, files(dir))
    to
  }

  /** Runs `mutate` on a copy of `dir`, then copies the files the copy
    * gained into `dir` — all of them, or a subset drawn from `rnd` —
    * keeping `dir`'s manifest. Returns the mutated copy.
    */
  def crashBeforeCommit(dir: String, mutate: String => Any,
      rnd: Option[Random] = None): String = {
    val copy = copyIndex(dir)
    mutate(copy)
    val gained = (files(copy) -- files(dir)).toSeq.sorted
    copyFiles(copy, dir, rnd.fold(gained)(r => gained.filter(_ => r.nextBoolean())))
    copy
  }

  /** The manifest a build of `m`'s config commits once every postings
    * batch but `batch` is done: without `batch`'s postings files,
    * segments and cluster stats, and without the dictionary and the
    * coarse graph.
    */
  def postingsBatchPending(m: IndexManifest, batchesCfg: Int,
      batch: Int): IndexManifest = {
    val batches = IndexBuilder.clusterBatches(m.kc, batchesCfg)
    val clusters = batches(batch).toSet
    val segs = batch * 10000 until (batch + 1) * 10000
    m.copy(
      vocab_size = 0L,
      coarse_graph = Array.empty,
      coarse_graph_upper = Array.empty,
      partitions = m.partitions.map(p =>
        if (clusters(p.cluster_id)) IndexBuilder.partitionMetas(
          Map(p.cluster_id -> p.num_docs), Map.empty).head
        else p),
      segments = m.segments.filterNot(s => segs.contains(s.segment_id)),
      files = m.files.copy(
        postings = m.files.postings.filterNot(f =>
          clusters(f.stripPrefix("cluster_id=").takeWhile(_ != '/').toInt)),
        dictionary = Nil),
      build_done = "docstore" +: batches.indices.filter(_ != batch)
        .map(b => s"postings_batch_$b"))
  }

  /** Runs `mutate` on `dir`, calls `committed` on the committed index,
    * then copies back the files the mutation's sweep deleted.
    */
  def crashBeforeSweep[T](dir: String, mutate: String => Any)(committed: => T): T = {
    val old = copyIndex(dir)
    mutate(dir)
    val out = committed
    copyFiles(old, dir, files(old) -- files(dir))
    out
  }
}
