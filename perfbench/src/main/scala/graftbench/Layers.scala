package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, sum}

import graft.SparkEntry
import graft.build.{IndexBuilder, ManifestIO}
import graft.cluster.CoarseClusterer
import graft.codec.{PostingCodec, PostingEntry}
import graft.maintain.Maintenance
import graft.parity.IvfAdc
import graft.sources.Corpus
import graft.tokenize.Tokenizer

/** The traced run's per-layer numbers. Each comes from spans the
  * benchmark opens around calls into one graft module, from Spark job
  * counts attributed to those spans, or from timing one public function
  * of the module on this run's corpus. A layer the workload itself does
  * not call is driven by a short tour after the workload, so every
  * traced run reports every per-layer metric.
  */
object Layers {
  import Main._

  val BuildSteps = Seq("docstore", "postings", "dictionary", "manifest")

  /** The pipeline ops, called through `SparkEntry.queries` so each output
    * meets its DuckDB twin from `SparkEntry.oracleSql`.
    */
  val PipelineOps = Seq("q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram",
    "q_dedup_simhash", "q_dedup_embed", "q_lang_id", "q_quality",
    "q_quality_repetition", "q_token_stats", "q_fingerprints",
    "q_sample_stratified", "q_posting_lists", "q_ann_brute")
  val PipelineDocs = 600
  val PipelineVectors = 1200

  /** Copies the index directory `from` to `to` and returns `to`. */
  def copyIndex(from: String, to: String): String = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString)))
    finally walk.close()
    to
  }

  /** While `more(i)` holds, appends batch i to a fresh copy of the index
    * `base` and calls `reads` on the copy; then, on the last copy,
    * mergeSegments, a BM25 check over the live docstore, a delete of 1 %
    * of the ids and compact into `out`. The copies are not timed.
    */
  def maintain(r: Run, base: String, batches: Seq[Vector[Gen.DocRow]], out: String,
      more: Int => Boolean, reads: String => Unit, pool: Seq[(Int, Seq[String])]): Unit = {
    var i = 0
    var idx = base
    while (i < batches.size && more(i)) {
      idx = copyIndex(base, s"$base-round$i")
      // batch 0 of the stream is the setup warm-up append
      r.ops("append")(Maintenance.append(r.spark, idx,
        Gen.appendSource(r.spark, i + 1, batches(i))))(_ => true)
      reads(idx)
      i += 1
    }
    r.segmentsBeforeMerge = ManifestIO.read(s"$idx/manifest.json").segments.size
    r.ops("merge")(Maintenance.mergeSegments(r.spark, idx))(_ => true)
    r.verifyBm25(idx, pool, "after appends and merge", None, singles = 0)
    val n = ManifestIO.read(s"$idx/manifest.json").num_docs
    val dead = (0L until n).filter(_ => r.rnd.nextDouble() < 0.01)
    r.ops("delete")(Maintenance.delete(idx, dead))(_ => true)
    r.ops("compact")(Maintenance.compact(r.spark, idx, out))(_ => true)
      .foreach(res => r.check(res.manifest.num_docs == n - dead.size,
        s"compact kept ${res.manifest.num_docs} docs, expected ${n - dead.size}"))
  }

  /** Runs whatever the workload left out, then reports every layer. */
  def report(r: Run, c: Ctx): Unit = {
    micro(r, c)
    if (r.tr.named("probe").isEmpty) {
      (0 until 3).foreach(i => r.ops("probe")(r.topK(c.idx, Seq(c.pool(i)), w = 2))(wellFormed(_, K)))
      (0 until 2).foreach(i => r.ops("batch")(r.topK(c.idx, c.pool.slice(20 * i, 20 * i + 20)))(wellFormed(_, K)))
      c.phrases.take(3).foreach(p => r.ops("phrase")(r.phrase(c.idx, p))(_.nonEmpty))
    }
    if (r.tr.named("append").isEmpty)
      maintain(r, c.idx, Seq(Gen.docs(r.seed, 20, 200)), r.path("tour-compacted"),
        more = _ => true, reads = _ => (), pool = c.pool)
    pipeline(r)
    // last: the setup build again, now warm, on four and then two threads
    def build(tag: String) = r.tr.span(s"build.$tag")(IndexBuilder.build(r.spark,
      c.src, r.path(s"index-$tag"), IndexBuilder.BuildConfig(resume = false)))
    val four = build("local4")
    r.restart(2)
    emit(r, c, four, build("local2"))
  }

  private def repeat(minSeconds: Double)(body: => Unit): (Int, Double) = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || System.nanoTime() - t0 < minSeconds * 1e9) { body; n += 1 }
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Single-thread timings of public functions of the codec, tokenize and
    * cluster modules, and the dense-id pass of the sources module.
    */
  private def micro(r: Run, c: Ctx): Unit = {
    val texts = c.docs.map(_.text)
    val (tn, ts) = r.tr.span("tokenize")(repeat(0.5)(texts.foreach(Tokenizer.tokenize)))
    r.metric("tokenize.mb_per_s", tn * texts.map(_.length.toLong).sum / 1e6 / ts, "MB/s")

    val entries = mutable.TreeMap.empty[String, mutable.ArrayBuffer[PostingEntry]]
    texts.take(2000).zipWithIndex.foreach { case (t, doc) =>
      val toks = Tokenizer.tokenize(t)
      toks.indices.groupBy(toks(_)).foreach { case (term, pos) =>
        entries.getOrElseUpdate(term, mutable.ArrayBuffer.empty) +=
          PostingEntry(doc.toLong, pos.size, toks.length, pos.toArray.sorted)
      }
    }
    val postings = entries.valuesIterator.map(_.size.toLong).sum
    var blocks: Seq[graft.model.PostingBlock] = Nil
    val (en, es) = r.tr.span("codec.encode")(repeat(0.5) {
      blocks = entries.iterator.flatMap { case (t, es) =>
        PostingCodec.encodeTerm(t, 0, 0, es.toSeq, (tf, dl) => tf.toDouble / (tf + dl))
      }.toSeq
    })
    r.metric("codec.encode_mpostings_per_s", en * postings / 1e6 / es, "1/us")
    val (dn, ds) = r.tr.span("codec.decode")(repeat(0.5)(blocks.foreach(PostingCodec.decodeDocsTfsDls)))
    r.metric("codec.decode_mpostings_per_s", dn * postings / 1e6 / ds, "1/us")
    r.metric("codec.bytes_per_posting",
      blocks.map(PostingCodec.storedBytes).sum.toDouble / postings, "B")

    val sample = texts.take(10000).zipWithIndex
      .map { case (t, i) => (i.toLong, CoarseClusterer.featuresOf(t)) }.toArray
    val t0 = System.nanoTime()
    val centroids = r.tr.span("cluster.fit")(
      CoarseClusterer.fitLocal(sample, CoarseClusterer.pickKc(c.docs.size)))
    r.metric("cluster.fit_s", (System.nanoTime() - t0) / 1e9, "s")
    val t1 = System.nanoTime()
    r.tr.span("cluster.assign")(CoarseClusterer.withClusterId(
      Corpus.sourceTable(r.spark, c.src), centroids).agg(sum(col("cluster_id"))).collect())
    r.metric("cluster.assign_kdocs_per_s",
      c.docs.size / 1e3 / ((System.nanoTime() - t1) / 1e9), "1/ms")
    val feats = c.pool.map(q => CoarseClusterer.features(q._2).map(_.toDouble))
    val (pn, ps) = r.tr.span("cluster.probe")(repeat(0.3)(feats.foreach(f =>
      CoarseClusterer.distances(f, centroids).zipWithIndex.sortBy(identity).take(2))))
    r.metric("cluster.probe_us", ps * 1e6 / (pn * feats.size), "us")

    val t2 = System.nanoTime()
    r.tr.span("sources.dense_id") {
      val d = Corpus.docsFromCounted(Corpus.sourceTable(r.spark, c.src))
      d.df.count()
      d.unpersist()
    }
    r.metric("sources.dense_id_s", (System.nanoTime() - t2) / 1e9, "s")
  }

  /** One pass of the pipeline ops over a fresh corpus; the outputs and
    * their oracle SQL are left for the DuckDB comparison.
    */
  private def pipeline(r: Run): Unit = {
    val dir = r.path("pipeline/corpus")
    r.writeTables(dir, Gen.docs(r.seed, 30, PipelineDocs),
      Gen.embeddings(r.seed, PipelineVectors))
    PipelineOps.foreach(name => r.ops(s"ops.$name")(
      SparkEntry.queries(name)(r.spark, dir).write.mode("overwrite")
        .parquet(r.path(s"pipeline/out/$name")))(_ => true))
    val oracle = PipelineOps.map(n => Json.str(n) + ":" + Json.str(SparkEntry.oracleSql(n)))
    Files.write(Paths.get(r.path("pipeline/oracle.json")),
      oracle.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))

    val emb = r.spark.read.parquet(s"$dir/embeddings.parquet")
    val qids = (0L until 5L)
    r.ops("parity.ivfadc_build")(IvfAdc.buildWithQueries(r.spark, emb,
      kc = 8, m = 4, k = 16, queryIds = qids))(_ => true).foreach {
      case (model, encoded, qs) =>
        r.ops("parity.ivfadc_search")(IvfAdc.search(r.spark, model, encoded, qs, 10, 2)
          .collect())(rows => rows.length == qids.size * 10)
    }
  }

  private def dirBytes(p: String): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(p))

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def emit(r: Run, c: Ctx, four: IndexBuilder.BuildResult,
      two: IndexBuilder.BuildResult): Unit = {
    val jobs = r.allJobs()
    val tr = r.tr
    def ms(ss: Seq[Span]) = ss.map(_.seconds * 1000)
    def kids(ss: Seq[Span], name: String) = ss.flatMap(s =>
      tr.spans.filter(k => k.parent == s.id && k.name == name))
    def perOp(ss: Seq[Span]) = ss.map(s => Work.of(jobs, Seq(s)))
    def m(name: String, v: Double, unit: String) = r.metric(name, v, unit)

    // build: the same warm build at local[4] and at local[2]
    BuildSteps.foreach { step =>
      def win(b: IndexBuilder.BuildResult) =
        b.stepWindows.find(_._1 == step).map(w => (w._2, w._3)).toSeq
      val w4 = Work.within(jobs, win(four))
      val w2 = Work.within(jobs, win(two))
      m(s"build.$step.wall_s", win(four).map(w => (w._2 - w._1) / 1e3).sum, "s")
      m(s"build.$step.jobs", w4.jobs, "count")
      // the manifest step writes one JSON file and runs no Spark job
      if (step != "manifest") {
        m(s"build.$step.cpu_s", w4.cpuS, "s")
        m(s"build.$step.gc_s", w4.gcS, "s")
        m(s"build.$step.shuffle_write_mb", w4.shuffleWriteMb, "MB")
        m(s"build.$step.cpu_inflation", w4.cpuS / w2.cpuS, "ratio")
      }
    }
    val fps4 = four.manifest.num_docs / (four.totalMillis / 1e3)
    val fps2 = two.manifest.num_docs / (two.totalMillis / 1e3)
    m("build.files_per_s", fps4, "1/s")
    m("build.scaling_eff", fps4 / (2 * fps2), "ratio")
    val idx4 = r.path("index-local4")
    m("build.index_bytes_per_input_byte",
      Seq("postings", "dictionary", "docstore").map(d => dirBytes(s"$idx4/$d")).sum.toDouble /
        c.docs.map(_.n_chars).sum, "ratio")

    // query + plans: exact single queries of the loop
    val singles = tr.named("exact") ++ tr.named("read")
    val execs = kids(singles, "query.exec")
    m("query.plan_ms", Main.median(ms(kids(singles, "query.plan"))), "ms")
    m("query.exec_ms", Main.median(ms(execs)), "ms")
    val sw = perOp(singles)
    m("query.jobs_per_op", mean(sw.map(_.jobs.toDouble)), "count")
    m("query.tasks_per_op", mean(sw.map(_.tasks.toDouble)), "count")
    m("query.blocks_scanned_per_op", mean(execs.flatMap(e => r.scanOf.get(e.id)).map(_._1.toDouble)), "count")
    m("query.files_read_per_op", mean(execs.flatMap(e => r.scanOf.get(e.id)).map(_._2.toDouble)), "count")
    m("query.input_mb_per_op", mean(sw.map(_.inputMb)), "MB")
    m("query.shuffle_kb_per_op", mean(sw.map(_.shuffleWriteMb * 1024)), "KB")
    m("query.probe_p50_ms", Main.median(ms(tr.named("probe"))), "ms")
    m("query.batch_ms_per_query", Main.median(ms(tr.named("batch"))) / 20, "ms")
    val phrases = tr.named("phrase")
    val pexecs = kids(phrases, "phrase.exec")
    m("phrase.exec_ms", Main.median(ms(pexecs)), "ms")
    m("phrase.blocks_scanned_per_op", mean(pexecs.flatMap(e => r.scanOf.get(e.id)).map(_._1.toDouble)), "count")
    m("phrase.input_mb_per_op", mean(perOp(phrases).map(_.inputMb)), "MB")

    // maintain
    val appends = perOp(tr.named("append"))
    m("maintain.append_p50_ms", Main.median(ms(tr.named("append"))), "ms")
    m("maintain.append.input_mb", mean(appends.map(_.inputMb)), "MB")
    m("maintain.append.output_mb", mean(appends.map(_.outputMb)), "MB")
    m("maintain.append.jobs", mean(appends.map(_.jobs.toDouble)), "count")
    m("maintain.append.cpu_s", mean(appends.map(_.cpuS)), "s")
    m("maintain.segments_before_merge", r.segmentsBeforeMerge, "count")
    for (step <- Seq("merge", "compact")) {
      val ss = tr.named(step)
      val w = Work.of(jobs, ss)
      m(s"maintain.${step}_s", ss.map(_.seconds).sum, "s")
      m(s"maintain.$step.input_mb", w.inputMb, "MB")
      m(s"maintain.$step.output_mb", w.outputMb, "MB")
      if (step == "compact") m("maintain.compact.shuffle_write_mb", w.shuffleWriteMb, "MB")
    }

    // ops + parity
    val opSpans = PipelineOps.flatMap(n => tr.named(s"ops.$n"))
    PipelineOps.foreach(n => m(s"ops.${n.stripPrefix("q_")}_s", tr.named(s"ops.$n").map(_.seconds).sum, "s"))
    m("ops.shuffle_write_mb", Work.of(jobs, opSpans).shuffleWriteMb, "MB")
    m("ops.pipeline_s", opSpans.map(_.seconds).sum, "s")
    m("parity.ivfadc_build_s", tr.named("parity.ivfadc_build").map(_.seconds).sum, "s")
    m("parity.ivfadc_search_s", tr.named("parity.ivfadc_search").map(_.seconds).sum, "s")

    // Spark runtime over the whole run
    m("spark.jobs", jobs.size, "count")
    m("spark.tasks", jobs.map(_.tasks).sum.toDouble, "count")
    m("spark.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s")
    m("spark.gc_s", jobs.map(_.gcMs).sum / 1e3, "s")
  }
}
