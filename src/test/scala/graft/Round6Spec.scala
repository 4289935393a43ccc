package graft

import java.nio.file.Files

import graft.build.{IndexBuilder, ManifestIO}

/** Round-6 hardening: the build reports per-step time windows for the
  * bench's evidence attribution (VERDICT r5 #3), the coarse graph built
  * concurrently with the dictionary job is the same graph the manifest
  * step would have built inline (VERDICT r5 #6), and q_delete_compact
  * keeps at most one temp snapshot on disk across repeated invocations
  * (ADVICE r5).
  */
class Round6Spec extends SparkSpec {

  test("BuildResult.stepWindows: all steps, ordered, non-overlapping") {
    val dir = Files.createTempDirectory("graft-r6-win").toString
    try {
      val res = IndexBuilder.build(spark, sf0001, dir,
        IndexBuilder.BuildConfig(resume = false))
      assert(res.stepWindows.map(_._1) ==
        Seq("docstore", "postings", "dictionary", "manifest"))
      res.stepWindows.foreach { case (name, lo, hi) =>
        assert(hi >= lo, s"step $name window inverted")
      }
      // sequential steps: each starts at/after the previous one's end
      res.stepWindows.sliding(2).foreach {
        case Seq((_, _, hiA), (b, loB, _)) =>
          assert(loB >= hiA, s"step $b window overlaps its predecessor")
        case _ =>
      }
      // a resumed no-op build reports no windows (nothing ran)
      val resumed = IndexBuilder.build(spark, sf0001, dir,
        IndexBuilder.BuildConfig(resume = true))
      assert(resumed.stepWindows.isEmpty && resumed.stepsRun.isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("overlapped coarse-graph build equals an inline rebuild") {
    val dir = Files.createTempDirectory("graft-r6-graph").toString
    try {
      IndexBuilder.build(spark, sf0001, dir,
        IndexBuilder.BuildConfig(resume = false))
      val m = ManifestIO.read(s"$dir/manifest.json")
      val (edges, upper) = graft.cluster.GraphCoarseSearch.buildGraph(
        m.centroids, metric = graft.cluster.Distance.byName(m.distance))
      assert(m.coarse_graph.map(_.toSeq).toSeq == edges.map(_.toSeq).toSeq)
      assert(m.coarse_graph_upper.map(_.map(_.toSeq).toSeq).toSeq ==
        upper.map(_.map(_.toSeq).toSeq).toSeq)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir))
  }

  test("q_delete_compact keeps at most one temp snapshot across calls") {
    def qdcDirs(): Set[String] = {
      // r7: snapshots live on the engine scratch base (tmpfs when roomy)
      val tmp = new java.io.File(graft.build.Indexes.scratchBase)
      tmp.listFiles().toSeq.map(_.getName).filter(_.startsWith("graft-qdc"))
        .toSet
    }
    val before = qdcDirs()
    val fn = SparkEntry.queries("q_delete_compact")
    fn(spark, sf0001).count()
    val afterFirst = qdcDirs()
    assert((afterFirst -- before).size == 1, "first call leaves ONE snapshot")
    fn(spark, sf0001).count()
    val afterSecond = qdcDirs()
    assert((afterSecond -- before).size == 1,
      s"second call must delete the first snapshot (got ${
        (afterSecond -- before).size} new dirs)")
    assert((afterFirst -- before) != (afterSecond -- before),
      "the surviving snapshot is the NEW one")
  }
}
