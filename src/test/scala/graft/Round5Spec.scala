package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.{IndexBuilder, ManifestIO}
import graft.cluster.CoarseClusterer
import graft.maintain.Maintenance

/** Round-5 hardening: the append path's codegen assignment is actually
  * exercised (VERDICT r4 #2), compaction reuses the coarse quantizer
  * instead of retraining (VERDICT r4 #3, matching the reference's
  * delete semantics), the persisted coarse graph carries its build
  * metric (ADVICE r4), and the embed dedup's cell assignment is the
  * codegen expression, bit-identical to the udf it replaced (VERDICT
  * r4 #4).
  */
class Round5Spec extends SparkSpec {

  test("append-path frame assigns via codegen ClusterAssign, no udf in plan") {
    import spark.implicits._
    // mirrors Maintenance.append's construction exactly: docsFromCounted
    // → the docstore writer's frame shared with the build
    // repartition: a bare LocalRelation source would let
    // ConvertToLocalRelation constant-fold the whole projection chain
    // into a LocalTableScan and there'd be no plan to assert on
    val src = (0 until 20).map(i =>
      (s"repo-${i % 3}", f"src/app/$i%03d.scala", f"$i%012d", "scala",
        s"object Fresh$i { val x = $i }"))
      .toDF("repo", "path", "commit", "lang", "content")
      .repartition(2)
    val dense = graft.sources.Corpus.docsFromCounted(src, idOffset = 100)
    val centroids = Array(Array.fill(CoarseClusterer.Dim)(0.0),
      Array.fill(CoarseClusterer.Dim)(2.0))
    val docs = IndexBuilder.docstoreRows(dense.df, centroids,
      graft.cluster.Distance.SqEuclidean, Map.empty, window = 8192,
      org.apache.spark.sql.Observation())
    assert(docs.count() == 20)
    val plan = docs.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("clusterassign"), plan.take(1200))
    assert(!plan.contains("UDF"), plan.take(1200))
    dense.unpersist()
  }

  test("compact reuses the coarse quantizer: centroids frozen, assignments stable") {
    val dir = Files.createTempDirectory("graft-r5-compact").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false))
    val m0 = ManifestIO.read(s"$dir/manifest.json")
    val out = Files.createTempDirectory("graft-r5-compact-out").toString
    // dead set includes an id ABSENT from the index: a deadOverride
    // bypasses delete()'s validation, and the survivor-count hint must
    // not shrink for it [ADVICE r4]
    val dead = Set(0L, 5L, 7L, 999999L)
    Maintenance.compact(spark, dir, out, deadOverride = Some(dead))
    val m1 = ManifestIO.read(s"$out/manifest.json")
    assert(m1.num_docs == m0.num_docs - 3)
    // no retrain: kc and every centroid bit-identical to the source index
    assert(m1.kc == m0.kc)
    assert(m1.centroids.length == m0.centroids.length &&
      m1.centroids.zip(m0.centroids).forall { case (a, b) => a.sameElements(b) })
    assert(m1.distance == m0.distance)
    // per-doc assignments stable across compaction (same content, same
    // centroids ⇒ same cell — the reference's delete never moves points
    // between inverted lists, /root/reference/src/utils.jl:90-105)
    val before = spark.read.parquet(s"$dir/docstore")
      .select(col("content_sha"), col("cluster_id").as("c0"))
    val after = spark.read.parquet(s"$out/docstore")
      .select(col("content_sha"), col("cluster_id").as("c1"))
    val moved = before.join(after, "content_sha")
      .filter(col("c0") =!= col("c1")).count()
    assert(moved == 0, s"$moved docs changed cluster across compaction")
  }

  test("unstamped persisted graph under non-sqeuclidean metric is rebuilt") {
    import graft.cluster.Distance
    import graft.query.IndexSearcher
    val dir = Files.createTempDirectory("graft-r5-graphmetric").toString
    IndexBuilder.build(spark, sf0001, dir,
      IndexBuilder.BuildConfig(resume = false, kc = 96,
        distance = Distance.Cosine))
    val m = ManifestIO.read(s"$dir/manifest.json")
    assert(m.coarse_graph_metric == "cosine") // r5 manifests stamp it
    val queries = Seq(1 -> Seq("def", "return", "value"),
      2 -> Seq("import", "class"))
    val intact = IndexSearcher
      .topK(spark, dir, queries, 5, w = 4, graphProbe = Some(true))
      .collect().toSeq
    // simulate a pre-r5 manifest whose persisted edges were built under
    // a DIFFERENT metric: degenerate adjacency + no stamp. The searcher
    // must ignore the persisted graph and rebuild deterministically
    // under manifest.distance — results identical to the intact index.
    ManifestIO.write(s"$dir/manifest.json", m.copy(
      coarse_graph = m.coarse_graph.map(_ => Array.empty[Int]),
      coarse_graph_upper = Array.empty,
      coarse_graph_metric = ""))
    val rebuilt = IndexSearcher
      .topK(spark, dir, queries, 5, w = 4, graphProbe = Some(true))
      .collect().toSeq
    assert(rebuilt == intact)
  }

  test("DerivedFrameCache: identity hits, tag separation, bounded eviction unpersists") {
    import spark.implicits._
    import graft.ops.DerivedFrameCache
    val base = (1 to 10).toDF("x").repartition(2)
    var builds = 0
    def make() = { builds += 1; base.select(col("x") * 2 as "y") }
    val a = DerivedFrameCache(base, "t5-a")(make())
    val a2 = DerivedFrameCache(base, "t5-a")(make())
    assert(a eq a2) // identity hit, no rebuild
    assert(builds == 1)
    val b = DerivedFrameCache(base, "t5-b")(make())
    assert(!(b eq a)) // tags separate
    assert(builds == 2)
    a.count()
    assert(a.storageLevel.useMemory) // persisted
    // flood past the bound with fresh keys: the oldest entries evict
    // AND unpersist
    (1 to 32).foreach { i => // > bound (24 [ADVICE r5]) with margin
      val k = Seq(i).toDF("x")
      DerivedFrameCache(k, "t5-flood")(k.select(col("x") + 1 as "y"))
    }
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evicted entry must be unpersisted")
    // a miss after eviction rebuilds (no stale handle returned)
    val a3 = DerivedFrameCache(base, "t5-a")(make())
    assert(builds == 3 && !(a3 eq a))
  }

  test("DerivedFrameCache: evicting an entry keeps a live plan-equal entry cached") {
    import spark.implicits._
    import graft.ops.DerivedFrameCache
    // identity-distinct sources with equal plans: Spark's cache manager
    // holds ONE cached copy for both derived frames
    val (s1, s2) = (Seq(7001, 7002).toDF("x"), Seq(7001, 7002).toDF("x"))
    val f1 = DerivedFrameCache(s1, "t5-plan-eq")(s1.select(col("x") * 3 as "z"))
    val f2 = DerivedFrameCache(s2, "t5-plan-eq")(s2.select(col("x") * 3 as "z"))
    assert(!(f1 eq f2) && f1.sameSemantics(f2))
    f2.count()
    // Max - 1 fresh entries evict every entry older than f2, f1 included,
    // whatever the cache held before
    (1 to DerivedFrameCache.Max - 1).foreach { i =>
      val k = Seq(-i).toDF("x")
      DerivedFrameCache(k, "t5-plan-eq-flood")(k.select(col("x") - 1 as "w"))
    }
    val live = DerivedFrameCache(s2, "t5-plan-eq")(
      fail("f2 must still be a live entry"))
    assert(live eq f2)
    val cached = spark.sharedState.cacheManager.lookupCachedData(
      f2.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(cached.isDefined, "the live entry's frame lost its cached data")
  }

  test("caches build outside the lock: a blocked build stalls no other key") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.ops.{DerivedFrameCache, DerivedValueCache}
    // thread A's build parks on a latch; thread B's lookup must finish
    // while A is parked (a build held under the cache lock makes B wait
    // for A's release, i.e. time out here instead of hanging the suite)
    def race[T](lookupA: (() => Unit) => T, lookupB: () => T): (T, T) = {
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val a = Future(lookupA { () =>
        entered.countDown()
        release.await(60, TimeUnit.SECONDS): Unit
      })
      assert(entered.await(60, TimeUnit.SECONDS))
      val b =
        try Await.result(Future(lookupB()), 10.seconds)
        finally release.countDown()
      (Await.result(a, 60.seconds), b)
    }
    val (k1, k2) = (new Object, new Object)
    assert(race(park => DerivedValueCache(k1, "t5-race") { park(); 1 },
      () => DerivedValueCache(k2, "t5-race")(2)) == ((1, 2)))
    // same key: both build, the first insert (B's) wins for both
    val k3 = new Object
    assert(race(park => DerivedValueCache(k3, "t5-race") { park(); 1 },
      () => DerivedValueCache(k3, "t5-race")(2)) == ((2, 2)))

    val (f1, f2) = (Seq(1).toDF("x"), Seq(2).toDF("x"))
    val (a1, b1) = race(
      park => DerivedFrameCache(f1, "t5-race") { park(); f1.select(col("x")) },
      () => DerivedFrameCache(f2, "t5-race")(f2.select(col("x"))))
    assert(a1.collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(b1.collect().map(_.getInt(0)).toSeq == Seq(2))
    // same key: the loser's frame is dropped unpersisted
    val f3 = Seq(3).toDF("x")
    var loser: org.apache.spark.sql.DataFrame = null
    val (a3, b3) = race(
      park => DerivedFrameCache(f3, "t5-race") {
        park(); loser = f3.select(col("x") + 1 as "y"); loser
      },
      () => DerivedFrameCache(f3, "t5-race")(f3.select(col("x") + 2 as "y")))
    assert((a3 eq b3) && !(loser eq b3))
    assert(b3.storageLevel.useMemory)
    assert(loser.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("EmbedCellAssignExpr bit-identical to the udf it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
    val centroids = Array.fill(5)(Array.fill(8)(rnd.nextGaussian()))
    val df = rows.toDF("vec_id", "e")
      .repartition(2) // keep ConvertToLocalRelation from folding the plan
      .withColumn("n",
        sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("cd",
        graft.functions.EmbedCellAssignExpr.col(col("e"), col("n"), centroids))
    val got = df.select("vec_id", "e", "n", "cd").collect()
    assert(got.length == 64)
    got.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val n = r.getDouble(2)
      val u = v.map(_ / math.max(n, 1e-300))
      val c = CoarseClusterer.argminDist(u, centroids)
      val d = math.sqrt(CoarseClusterer.distances(u, centroids)(c))
      val cd = r.getSeq[Double](3)
      assert(cd(0) == c.toDouble, s"cell mismatch on vec ${r.getLong(0)}")
      assert(cd(1) == d, s"dist mismatch on vec ${r.getLong(0)}")
    }
    // and the whole-frame plan carries the expression, not a udf
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("embedcellassign"), plan.take(1200))
    assert(!plan.contains("UDF"), plan.take(1200))
  }
}
