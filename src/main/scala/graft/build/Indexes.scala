package graft.build

import org.apache.spark.sql.SparkSession

/** Per-JVM index build cache: SparkEntry query functions need a built
  * index for a given data dir; build once (resumable) and reuse.
  * The dir name carries the format version
  * ([[ManifestIO.FormatVersion]]) so stale on-disk indexes from older
  * code are never resumed.
  */
object Indexes {

  /** Scratch base for engine-managed index/snapshot dirs: env override >
    * roomy /dev/shm (needs >= 16 GiB free) > OS tmp — the same policy
    * Bench.localDir applies to shuffle/spill, for the same reason (r7):
    * this box's one shared /tmp disk serializes the index writes AND
    * every posting/docstore read behind cross-tenant I/O, while
    * production intermediates land on executor-local NVMe / distributed
    * storage that scales with the cluster. Queries recompute the index
    * from the parquet inputs either way — only the scratch medium moves.
    */
  val scratchBase: String =
    sys.env.getOrElse("GRAFT_SCRATCH_DIR", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.getUsableSpace > 16L * 1024 * 1024 * 1024)
        "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    })

  private val built = scala.collection.concurrent.TrieMap.empty[String, String]

  def indexDirFor(sfDir: String): String = {
    val slug = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    s"$scratchBase/graft-index-v${ManifestIO.FormatVersion}$slug"
  }

  /** Drop the memo for sfDir so the next [[ensureBuilt]] really builds
    * (bench passes delete the index dir between suite passes so each
    * pass's q_index_build measures a full build, not a resume).
    */
  def invalidate(sfDir: String): Unit = built.remove(sfDir)

  /** Ensure an index exists for sfDir (resume-aware); returns indexDir. */
  def ensureBuilt(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(sfDir, {
      val dir = indexDirFor(sfDir)
      IndexBuilder.build(spark, sfDir, dir,
        IndexBuilder.BuildConfig(resume = true))
      dir
    })

  /** Force a fresh, non-resumed build into a new directory (bench path —
    * measures true build throughput). Returns (indexDir, result).
    */
  def freshBuild(spark: SparkSession, sfDir: String): (String, IndexBuilder.BuildResult) = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-index-bench").toString
    val res = IndexBuilder.build(spark, sfDir, dir,
      IndexBuilder.BuildConfig(resume = false))
    (dir, res)
  }
}
