package graft

import java.nio.file.Files

import graft.build.{IndexBuilder, IndexSchemas}
import graft.maintain.Maintenance
import graft.query.{IndexSearcher, QuerySet}

/** Model-based random-sequence test for the maintenance surface
  * (M1-M8): seeded random interleavings of append (push!), popLast
  * (pop!), popFirst (popfirst!), delete (tombstone) and compact must
  * keep the index equal to a driver-side list model — live content
  * sequence checked after EVERY op, and full BM25 rank identity vs a
  * fresh build over the model corpus at the end. The per-operation
  * specs (MaintenanceSpec) pin each op alone; this pins their
  * INTERPLAY: ids assigned over tombstoned ranges, pops after appends,
  * compaction mid-sequence, stale-avgdl windows closed by the final
  * compact, and crashes before a mutation's commit at seeded random
  * steps, which must leave the index as the model has it. Mirrors the reference's list semantics
  * (/root/reference/src/utils.jl:2-20) under composition.
  */
class MaintenanceSequenceSpec extends SparkSpec {

  private case class Doc(repo: String, path: String, commit: String,
      lang: String, content: String)

  private def batchDf(docs: Seq[Doc]) = {
    import spark.implicits._
    docs.map(d => (d.repo, d.path, d.commit, d.lang, d.content))
      .toDF("repo", "path", "commit", "lang", "content")
  }

  /** One maintenance op; `Delete` picks its victims from the live
    * model ids when it runs.
    */
  private sealed trait Op
  private case class Append(docs: Seq[Doc]) extends Op
  private case object PopLast extends Op
  private case object PopFirst extends Op
  private case class Delete(pick: Vector[Int] => Seq[Int]) extends Op
  private case object Compact extends Op

  test("random op sequences == list model (3 seeds x 6 ops)") {
    // 11: delete,compact,popFirst,popLast,compact,popFirst
    // 47: delete,popFirst,popFirst,delete,popLast,append
    // 3:  compact,append,popFirst,popFirst,compact,popLast (append
    //     lands early — later pops/compacts run over a mixed
    //     base+appended corpus)
    Seq(11, 47, 3).foreach(runSequence(_))
  }

  test("scripted edge inputs == list model: empty batch, duplicate, null " +
      "key, supplementary plane, delete-all, compact, append") {
    def doc(path: String, commit: String, content: String) =
      Doc("repo-edge", path, commit, "x", content)
    val dup = doc("src/edge/b.x", "c-edge-01", "index search engine")
    runSequence(0, Some(Seq(
      Append(Nil),
      Append(Seq(dup, dup, doc(null, "c-edge-02", "posting query"),
        doc("src/edge/c.x", "c-edge-03", "𝔘𝔫𝔦 😀 index"))),
      Delete(live => live),
      Compact,
      Append(Seq(doc("src/edge/d.x", "c-edge-04", "merge score block"))))))
  }

  /** Runs `script` (default: 6 ops drawn from `seed`) on a fresh base
    * index against the list model.
    */
  private def runSequence(seed: Int, script: Option[Seq[Op]] = None): Unit = {
    val rnd = new scala.util.Random(seed)
    val dirs = scala.collection.mutable.Buffer.empty[String]
    def tmp(tag: String): String = {
      val d = Files.createTempDirectory(s"graft-seq-$tag").toString
      dirs += d
      d
    }
    try {
      var dir = tmp(s"base-$seed")
      IndexBuilder.build(spark, sf0001, dir,
        IndexBuilder.BuildConfig(resume = false))
      // model = docstore rows in id order; `dead` marks tombstoned slots
      var model: Vector[Doc] = spark.read.parquet(s"$dir/docstore")
        .select("doc_id", "repo", "path", "commit", "lang", "content")
        .collect().sortBy(_.getLong(0))
        .map(r => Doc(r.getString(1), r.getString(2), r.getString(3),
          r.getString(4), r.getString(5))).toVector
      var dead = Set.empty[Int]
      def liveIdx: Vector[Int] = model.indices.filterNot(dead).toVector
      def liveModel: Vector[Doc] = liveIdx.map(model)

      var batchNo = 0
      val words = Vector("index", "search", "engine", "posting", "query",
        "spark", "cluster", "merge", "score", "block")
      // ascending zero-padded paths within a batch: append assigns ids
      // by (repo, path, commit) rank WITHIN the batch, so generation
      // order == id order and the model can simply concatenate
      def newBatch(k: Int): Seq[Doc] = {
        batchNo += 1
        (0 until k).map { i =>
          val content = Seq.fill(6 + rnd.nextInt(10))(
            words(rnd.nextInt(words.size))).mkString(" ")
          Doc("repo-seq", f"src/seq/$seed%02d-$batchNo%02d-$i%02d.x",
            f"c-$seed%02d-$batchNo%02d-$i%02d", "x", content)
        }
      }

      def checkLiveContents(): Unit = {
        val ts = Maintenance.loadTombstones(dir)
        // by schema: a fully tombstoned index compacts to no files
        val got = IndexSchemas.readDocstore(spark, dir)
          .select("doc_id", "content").collect()
          .filter(r => !ts(r.getLong(0)))
          .sortBy(_.getLong(0)).map(_.getString(1)).toSeq
        assert(got == liveModel.map(_.content),
          s"seed=$seed: live docstore diverged from model")
      }

      // drawn one at a time: an op's own draws follow its kind's
      def randomOp(): Op = rnd.nextInt(5) match {
        case 0 => Append(newBatch(1 + rnd.nextInt(3)))
        case 1 => PopLast
        case 2 => PopFirst
        case 3 => Delete(live => rnd.shuffle(live).take(1 + rnd.nextInt(3)))
        case 4 => Compact
      }
      // a crash before the commit of an append, merge or delete, drawn
      // from its own seeded stream so the op sequences stay as they are:
      // some of the mutation's files land beside the index's, its
      // manifest does not, and the model is unchanged
      val crashRnd = new scala.util.Random(seed + 1000)
      def crash(opNo: Int): Unit = {
        val kind = crashRnd.nextInt(3)
        System.err.println(s"[seq] seed=$seed crash before op#$opNo -> " +
          Seq("append", "merge", "delete")(kind))
        val content = Seq.fill(8)(words(crashRnd.nextInt(words.size))).mkString(" ")
        val live = liveIdx
        val victim = if (live.isEmpty) None
          else Some(live(crashRnd.nextInt(live.size)).toLong)
        dirs += CrashStates.crashBeforeCommit(dir, d => kind match {
          case 0 => Maintenance.append(spark, d, batchDf(Seq(Doc("repo-crash",
            f"src/crash/$seed%02d-$opNo%02d.x", f"c-crash-$seed%02d-$opNo%02d",
            "x", content))))
          case 1 => Maintenance.mergeSegments(spark, d)
          case _ => victim.foreach(v => Maintenance.delete(d, Seq(v)))
        }, Some(crashRnd))
        checkLiveContents()
      }

      val ops = script.map(_.iterator).getOrElse(Iterator.fill(6)(randomOp()))
      ops.zipWithIndex.foreach { case (op, i) =>
        val opNo = i + 1
        if (crashRnd.nextInt(3) == 0) crash(opNo)
        System.err.println(s"[seq] seed=$seed op#$opNo -> " +
          op.getClass.getSimpleName.stripSuffix("$"))
        op match {
          case Append(b) =>
            Maintenance.append(spark, dir, batchDf(b))
            // ids follow (repo, path, commit) order within the batch,
            // a null key first
            model = model ++ b.sortBy(d =>
              (Option(d.repo), Option(d.path), Option(d.commit)))
          case PopLast =>
            val r = Maintenance.popLast(spark, dir)
            if (liveIdx.nonEmpty) {
              val i = liveIdx.max
              assert(r.get.getAs[String]("content") == model(i).content,
                s"seed=$seed op=$opNo: popLast returned the wrong doc")
              dead += i
            } else assert(r.isEmpty)
          case PopFirst =>
            val r = Maintenance.popFirst(spark, dir)
            if (liveIdx.nonEmpty) {
              val i = liveIdx.min
              assert(r.get.getAs[String]("content") == model(i).content,
                s"seed=$seed op=$opNo: popFirst returned the wrong doc")
              dead += i
            } else assert(r.isEmpty)
          case Delete(pick) =>
            val victims = pick(liveIdx)
            if (victims.nonEmpty) {
              Maintenance.delete(dir, victims.map(_.toLong))
              dead ++= victims
            }
          case Compact =>
            val out = tmp(s"compact-$seed-$opNo")
            Maintenance.compact(spark, dir, out)
            dir = out
            model = liveModel
            dead = Set.empty
        }
        checkLiveContents()
      }

      // final compact closes any stale-avgdl window (append defers the
      // refresh by design), then the whole surviving corpus must be
      // rank- AND score-identical to a from-scratch build whose id
      // order is pinned to the model's
      val out = tmp(s"final-$seed")
      Maintenance.compact(spark, dir, out)
      dir = out
      model = liveModel
      dead = Set.empty
      checkLiveContents()

      val fresh = tmp(s"fresh-$seed")
      val src = {
        import spark.implicits._
        model.zipWithIndex.map { case (d, i) =>
          (f"$i%06d", d.repo, d.path, d.commit, d.lang, d.content)
        }.toDF("ord", "repo", "path", "commit", "lang", "content")
      }
      IndexBuilder.buildFromSource(spark, src, fresh,
        IndexBuilder.BuildConfig(resume = false), idOrder = Seq("ord"))
      def hits(d: String) =
        IndexSearcher.topK(spark, d, QuerySet.queries, 10).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
          .toSeq
      assert(hits(dir) == hits(fresh),
        s"seed=$seed: maintained index != fresh build over the model")
    } finally dirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }
}
