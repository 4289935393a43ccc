package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.build.{IndexBuilder, ManifestIO}
import graft.maintain.Maintenance
import graft.query.{Bm25SqlPath, IndexSearcher, PhraseSearch}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
}

/** The benchmark's JVM side: one workload, one seed, one result file.
  *
  * {{{
  * graftbench.Main --workload query|maintain --seed N --seconds S
  *                 --trace 0|1 --work DIR
  * }}}
  * writes `DIR/result.json` (metrics, op counts, failed checks) and,
  * with tracing, `DIR/trace.json` (every span) and the pipeline outputs
  * the Python side compares with their DuckDB twins.
  */
object Main {
  val Cores = 4
  /** Fixed for every session, so local[2] runs the same plans. */
  val ShufflePartitions = 8
  val K = 10

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val a = Args(m("--workload"), m("--seed").toLong, m("--seconds").toDouble,
      m("--trace") == "1", m("--work"))
    val run = new Run(a)
    try run.go()
    finally run.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the generated tables are a few MB: small splits keep all cores busy
      .config("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (64 << 10).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Nearest-rank median; a failed op is +Inf and so ranks last. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply((xs.size - 1) / 2)

  type Hits = Seq[(Int, Int, Long, Double)]

  /** One row-for-row comparison left for the DuckDB side: `sql` is
    * Bm25SqlPath's oracle twin, run over `tables` (view name -> parquet
    * dir), and must return exactly `hits`.
    */
  final case class Bm25Check(what: String, sql: String, tables: Map[String, String], hits: Hits)

  def hits(rows: Array[Row]): Hits =
    rows.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  /** At most k rows per query, ranks 1..n without gaps, scores that
    * never rise down the list.
    */
  def wellFormed(h: Hits, k: Int): Boolean =
    h.groupBy(_._1).values.forall { rows =>
      val byRank = rows.sortBy(_._2)
      byRank.size <= k && byRank.map(_._2) == (1 to byRank.size) &&
        byRank.map(_._4).sliding(2).forall(p => p.size < 2 || p(0) >= p(1))
    }
}

/** Latency samples and attempted/failed counts per op type. */
final class OpLog(tr: Tracer) {
  val ms = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val attempted = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  val failed = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  private val spent = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Runs one op; an exception or a result failing `ok` is a failed op,
    * recorded as an infinite latency so it counts against every
    * percentile.
    */
  def apply[T](kind: String)(body: => T)(ok: T => Boolean): Option[T] = {
    attempted(kind) += 1
    tr.newOp()
    val t0 = System.nanoTime()
    val r = try Some(tr.span(kind)(body)) catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
    val dt = (System.nanoTime() - t0) / 1e6
    spent(kind) += dt
    val good = r.exists(ok)
    if (!good) failed(kind) += 1
    ms.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      (if (good) dt else Double.PositiveInfinity)
    r.filter(_ => good)
  }

  def samples(kind: String): Seq[Double] = ms.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Time spent in ops of `kind`, failed ops included. */
  def seconds(kind: String): Double = spent(kind) / 1e3
}

final class Run(a: Main.Args) {
  import Main._

  val seed: Long = a.seed
  val traced: Boolean = a.trace
  private val work = a.work
  def path(p: String) = s"$work/$p"
  var spark: SparkSession = session(Cores, work)
  val tr = new Tracer(a.trace)
  var jobLog: JobLog = if (a.trace) new JobLog(spark) else null
  /** Jobs of sessions already stopped (traced runs switch to local[2]). */
  private val pastJobs = mutable.ArrayBuffer.empty[JobWork]
  val ops = new OpLog(tr)
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var setupSeconds = 0.0
  var segmentsBeforeMerge = 0
  private var measureStart = 0L

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def go(): Unit = {
    a.workload match {
      case "query" => new QueryWorkload(this).run()
      case "maintain" => new MaintainWorkload(this).run()
      case w => sys.error(s"unknown workload $w")
    }
    writeResult()
  }

  // ---- phases -----------------------------------------------------------

  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = tr.span("setup")(body)
    setupSeconds = (System.nanoTime() - t0) / 1e9
    measureStart = System.nanoTime()
    r
  }

  def measuredSeconds: Double = (System.nanoTime() - measureStart) / 1e9
  def timeLeft: Boolean = measuredSeconds < a.seconds
  val rnd = new java.util.SplittableRandom(a.seed * 7919L + 1)

  /** Deals `xs` in seeded random order, reshuffled after each pass, so a
    * run's ops cover the whole pool evenly instead of drawing with
    * replacement.
    */
  final class Deck[T](xs: Vector[T]) {
    private var left = List.empty[T]
    def next(): T = {
      if (left.isEmpty) {
        val ix = Array.range(0, xs.size)
        for (i <- ix.indices.reverse) {
          val j = rnd.nextInt(i + 1)
          val t = ix(i); ix(i) = ix(j); ix(j) = t
        }
        left = ix.toList.map(xs)
      }
      val x = left.head
      left = left.tail
      x
    }
  }

  def writeTables(dir: String, docs: Seq[Gen.DocRow],
      emb: Seq[Gen.EmbRow] = Nil): Unit =
    tr.span("gen.write")(Gen.writeTables(spark, dir, docs, emb))

  def build(src: String, idx: String): IndexBuilder.BuildResult =
    tr.span("build")(IndexBuilder.build(spark, src, idx,
      IndexBuilder.BuildConfig(resume = false)))

  def docstore(idx: String): DataFrame =
    spark.read.parquet(s"$idx/docstore").select("doc_id", "content", "doc_len")

  /** Scan-node SQL metrics (rows, files) per query/phrase exec span id. */
  val scanOf = mutable.Map.empty[Int, (Long, Long)]

  /** WAND top-k, split into the eager call (plan) and the collect (exec). */
  def topK(idx: String, qs: Seq[(Int, Seq[String])], w: Int = Int.MaxValue): Hits = {
    val df = tr.span("query.plan")(IndexSearcher.topK(spark, idx, qs, K, w = w))
    hits(tr.span("query.exec") {
      val rows = df.collect()
      if (a.trace) scanOf += (tr.spans.last.id -> ScanMetrics(df))
      rows
    })
  }

  def phrase(idx: String, p: Seq[String]): Seq[Long] = {
    val df = tr.span("phrase.plan")(PhraseSearch.search(spark, idx, p))
    tr.span("phrase.exec") {
      val rows = df.collect()
      if (a.trace) scanOf += (tr.spans.last.id -> ScanMetrics(df))
      rows.map(_.getLong(0)).toSeq
    }
  }

  val bm25Checks = mutable.ArrayBuffer.empty[Bm25Check]

  /** WAND answers to `qs` as one batch, checked against Bm25SqlPath's
    * DuckDB twin after the JVM exits; the first `singles` queries asked
    * alone must get their batch answer. `src` is the generated corpus the
    * index was built from, or None to score the index's live docstore
    * (after appends and deletes).
    */
  def verifyBm25(idx: String, qs: Seq[(Int, Seq[String])], what: String,
      src: Option[String], singles: Int): Map[Int, Hits] =
    tr.span("verify.bm25") {
      val wand = topK(idx, qs)
      qs.take(singles).foreach(q => check(topK(idx, Seq(q)) == wand.filter(_._1 == q._1),
        s"$what: WAND single query ${q._1} != its batch answer"))
      val oracle = Bm25SqlPath.oracleSql(qs, K)
      val (sql, tables) = src match {
        case Some(dir) => (oracle, Map("documents" -> s"$dir/documents.parquet"))
        case None =>
          val live = path(s"verify/live-${bm25Checks.size}")
          val dead = Maintenance.loadTombstones(idx).toSeq
          docstore(idx).filter(!org.apache.spark.sql.functions.col("doc_id").isin(dead: _*))
            .write.parquet(live)
          val docs = graft.sources.Corpus.sqlDocsCtes
          require(oracle.contains(docs), "oracle SQL no longer starts from the docs CTE")
          (oracle.replace(docs, "docs AS (SELECT doc_id, content, doc_len FROM live)"),
            Map("live" -> live))
      }
      bm25Checks += Bm25Check(what, sql, tables, wand)
      wand.groupBy(_._1)
    }

  // ---- trace-only layer measurements -------------------------------------

  def allJobs(): Seq[JobWork] = pastJobs.toSeq ++ (if (jobLog != null) jobLog.jobs() else Nil)

  /** Replaces the session by one with `cores` threads (traced runs only). */
  def restart(cores: Int): Unit = {
    pastJobs ++= jobLog.jobs()
    jobLog.detach()
    spark.stop()
    spark = session(cores, work)
    jobLog = new JobLog(spark)
  }

  // ---- output -----------------------------------------------------------

  private def writeResult(): Unit = {
    ops.ms.foreach { case (k, xs) =>
      System.err.println(s"[perfbench] $k ms: ${xs.map(x => f"$x%.0f").mkString(" ")}")
    }
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val perOp = ops.attempted.keys.map { k =>
      s"${Json.str(k)}:{\"attempted\":${ops.attempted(k)},\"failed\":${ops.failed(k)}}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"correct":${problems.isEmpty},"attempted":${ops.attempted.values.sum},""" +
        s""""failed":${ops.failed.values.sum},"ops":$perOp,""" +
        s""""problems":${problems.map(Json.str).mkString("[", ",", "]")},""" +
        s""""bm25_checks":${bm25Checks.map(bm25Json).mkString("[", ",", "]")},""" +
        s""""metrics":$m}"""
    Files.write(Paths.get(path("result.json")), json.getBytes(StandardCharsets.UTF_8))
    if (a.trace)
      Files.write(Paths.get(path("trace.json")), tr.toJson.getBytes(StandardCharsets.UTF_8))
  }

  private def bm25Json(c: Bm25Check): String =
    s"""{"what":${Json.str(c.what)},"sql":${Json.str(c.sql)},""" +
      c.tables.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString(""""tables":{""", ",", "},") +
      c.hits.map(h => s"[${h._1},${h._2},${h._3},${Json.num(h._4)}]")
        .mkString(""""hits":[""", ",", "]}")

  def setupMetric(): Unit = metric("setup_s", setupSeconds, "s")
}
