package graft.ops

import org.apache.spark.sql.DataFrame

/** Bounded cache of expensive DERIVED frames, keyed by (source-frame
  * identity, tag) — shingle sets, PPJoin prefix indexes, simhash
  * fingerprints, embed norms/cells, BM25 term frequencies.
  *
  * Identity-keyed on purpose: SparkEntry hands out ONE stable
  * docs/embeddings frame per sfDir, so every operator over that sfDir
  * converges on one persisted copy; callers that build a fresh frame
  * per call (tests) cycle through the bound instead of leaking
  * one MEMORY_AND_DISK entry per call forever [ADVICE r3]. Evicted
  * entries are unpersisted (insertion order — the oldest sfDir's
  * derivations go first, e.g. the bench warm-up SF's after the timed
  * SF's fill in) unless a live entry's frame is plan-equal: Spark's
  * cache manager keys cached data by plan, so both frames read one
  * cached copy and unpersisting the evicted one would drop the live
  * one's data too.
  *
  * Bound: ~11 tags are live per benched sfDir (shingles, prefix@t,
  * simhash-fp, bm25-tf, bm25-termstats, bm25-stats on the docs frame;
  * jaccard-sets, lsh-banded on its shingle frame; embed-norm,
  * embed-assigned, embed-chunks on the embeddings frame); 22 holds two
  * sfDirs' worth, 32 leaves headroom so extra tags (a second dedup
  * threshold, a test frame) don't silently evict a still-live warm
  * entry mid-bench [ADVICE r5]. Evictions log to stderr so a silent
  * re-derivation is visible in bench output.
  */
object DerivedFrameCache {

  private[graft] val Max = 32
  private val cache = new IdentityCache[DataFrame](Max,
    (tag, evicted, live) => {
      System.err.println(
        s"[frame-cache] evicting '$tag' (bound $Max reached) — " +
          "a re-derivation of it will pay full cost")
      if (!live.exists(_.sameSemantics(evicted)))
        evicted.unpersist(blocking = false)
    })

  // only the inserted frame is persisted: Spark's cache manager keys
  // cached data by plan, so a losing racer that persisted and then
  // unpersisted its equivalent frame would drop the winner's data too
  def apply(source: DataFrame, tag: String)
      (build: => DataFrame): DataFrame =
    cache(source, tag)(build)(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
}

/** [[DerivedFrameCache]]'s sibling for DRIVER-LOCAL derived values
  * (fitted centroids, per-cell radii): same identity-keyed lifecycle,
  * same bound-and-evict discipline, no persist/unpersist (plain
  * values). Everything stored here is a DETERMINISTIC function of the
  * keyed frame (seeded fits over deterministic samples), so a cache hit
  * returns bit-identical values to a recompute — it removes repeated
  * driver-sync collect jobs from hot query paths, never changes
  * results (r7).
  */
object DerivedValueCache {

  private val cache = new IdentityCache[Any](16, (_, _, _) => ())

  def apply[T](source: AnyRef, tag: String)(build: => T): T =
    cache(source, tag)(build)(identity).asInstanceOf[T]
}

/** Bounded (source identity, tag)-keyed store behind both caches above.
  * The lock guards only the entry list: a lookup takes it, a miss
  * builds OUTSIDE it, then re-checks and inserts under it — so a slow
  * build (a Spark job) never stalls lookups of other keys. Two threads
  * racing on one key may both build; the first insert wins and the
  * other's value is dropped, which changes no result because every
  * cached value is a deterministic function of its key. `admit` runs
  * on the winning value only, under the lock; evictions go oldest-first,
  * and `onEvict` sees the evicted value and the values still live.
  */
private[ops] final class IdentityCache[V](max: Int,
    onEvict: (String, V, Iterable[V]) => Unit) {

  private val entries = new scala.collection.mutable.ArrayDeque[
    ((AnyRef, String), V)]()

  private def find(source: AnyRef, tag: String): Option[V] =
    entries.collectFirst {
      case ((k, t), v) if (k eq source) && t == tag => v
    }

  def apply(source: AnyRef, tag: String)(build: => V)(admit: V => V): V =
    entries.synchronized(find(source, tag)).getOrElse {
      val built = build
      entries.synchronized {
        find(source, tag).getOrElse {
          val v = admit(built)
          entries.append(((source, tag), v))
          while (entries.size > max) {
            val ((_, evictedTag), evicted) = entries.removeHead()
            onEvict(evictedTag, evicted, entries.view.map(_._2))
          }
          v
        }
      }
    }
}
