package graftbench

import scala.collection.mutable

import graft.maintain.Maintenance
import graft.tokenize.Tokenizer

/** What the traced run needs to measure the layers of one workload. */
final case class Ctx(docs: Vector[Gen.DocRow], src: String, idx: String,
    pool: Vector[(Int, Seq[String])], phrases: Vector[Seq[String]])

/** Closed-loop search against an index built in setup: exact top-10
  * (w = kc) 50 %, probed w = 2 20 %, 20-query batches 15 %, phrase
  * search 15 %. Build code runs only in setup.
  */
final class QueryWorkload(r: Run) {
  import Main._

  val Docs = 3000
  val Pool = 60
  val Phrases = 30
  val Batch = 20
  val MinBlocks = 2
  /** (op kind, ops per block of 20, queries answered per op) */
  val Mix = Seq(("exact", 10, 1), ("probe", 4, 1), ("batch", 3, Batch), ("phrase", 3, 1))
  /** The mix as one block of 20 in a fixed order, every other op exact.
    * The order is the same for every seed: a fresh JVM's ops speed up
    * for a minute as the JIT compiles them, and a seeded order would put
    * a seed's exact queries earlier or later on that curve.
    */
  val Block = Seq("probe", "batch", "phrase", "probe", "batch", "phrase", "probe",
    "batch", "phrase", "probe").flatMap(Seq("exact", _))
  require(Mix.forall { case (k, n, _) => Block.count(_ == k) == n })

  /** A deck over the pool per query op kind, and one over the phrases. */
  private final class Decks(c: Ctx) {
    val queries = Seq("exact", "probe", "batch").map(_ -> new r.Deck(c.pool)).toMap
    val phrases = new r.Deck(c.phrases)
  }

  private val answers = mutable.ArrayBuffer.empty[Hits]
  private val phraseHits = mutable.ArrayBuffer.empty[(Seq[String], Seq[Long])]

  /** One op of `kind`; untimed outside the measured loop, where it only
    * warms the JIT. Every answer is kept for the checks.
    */
  private def play(c: Ctx, d: Decks, kind: String, timed: Boolean): Unit = {
    def op[T](body: => T)(ok: T => Boolean): Option[T] =
      if (timed) r.ops(kind)(body)(ok) else Some(body)
    def pick() = d.queries(kind).next()
    kind match {
      case "exact" => op(r.topK(c.idx, Seq(pick())))(wellFormed(_, K)).foreach(answers += _)
      case "probe" => op(r.topK(c.idx, Seq(pick()), w = 2))(wellFormed(_, K))
      case "batch" =>
        val qs = Iterator.continually(pick()).distinctBy(_._1).take(Batch).toSeq
        op(r.topK(c.idx, qs))(wellFormed(_, K)).foreach(answers += _)
      case "phrase" =>
        val p = d.phrases.next()
        op(r.phrase(c.idx, p))(_ => true).foreach(ids => phraseHits += p -> ids)
    }
  }

  def run(): Unit = {
    val src = r.path("corpus")
    val idx = r.path("index")
    val (ctx, decks, verified, tokensOf) = r.setup {
      val docs = r.tr.span("gen")(Gen.docs(r.seed, 0, Docs))
      r.writeTables(src, docs)
      r.build(src, idx)
      val pool = Gen.queries(r.seed, 0, Pool).zipWithIndex.map(_.swap)
      val verified = r.verifyBm25(idx, pool, "query index", Some(src), singles = 1)
      val ctx = Ctx(docs, src, idx, pool, Gen.phrases(r.seed, docs, Phrases))
      // one untimed block first: in a fresh JVM the JIT is still compiling
      // the query path, and the first ops run up to twice as slow
      val decks = new Decks(ctx)
      r.tr.span("warm")(Block.foreach(play(ctx, decks, _, timed = false)))
      val tokensOf = r.tr.span("verify.docstore")(
        r.docstore(idx).select("doc_id", "content").collect()
          .map(row => row.getLong(0) -> Tokenizer.tokenize(row.getString(1)).toSeq)
          .toMap)
      (ctx, decks, verified, tokensOf)
    }
    // a started block is finished, so every run holds the mix exactly;
    // a slow run still holds MinBlocks, so it does not lose the later,
    // faster block and read slower than its speed
    var blocks = 0
    while (blocks < MinBlocks || r.timeLeft) {
      Block.foreach(play(ctx, decks, _, timed = true))
      blocks += 1
    }

    // every exact and batch answer must equal the verified answer
    answers.foreach(_.groupBy(_._1).foreach { case (q, h) =>
      r.check(h.sortBy(_._2) == verified.getOrElse(q, Nil).sortBy(_._2),
        s"exact query $q != its verified answer")
    })
    // a phrase cut from a document has a hit, and every hit contains it
    phraseHits.foreach { case (p, ids) =>
      r.check(ids.nonEmpty, s"phrase '${p.mkString(" ")}' has no hit")
      ids.foreach(id => r.check(tokensOf.get(id).exists(_.containsSlice(p)),
        s"phrase '${p.mkString(" ")}' hit $id lacks the phrase"))
    }

    val readP50 = median(r.ops.samples("exact"))
    // queries answered per second of op time, over whole blocks; a failed
    // op's time counts and its answers do not
    val answered = Mix.map { case (k, _, q) => q * (r.ops.attempted(k) - r.ops.failed(k)) }.sum
    val qps = answered / (Mix.map(m => r.ops.seconds(m._1)).sum)
    if (r.traced) {
      r.metric("traced.read_p50_ms", readP50, "ms")
      r.metric("traced.items_per_s", qps, "1/s")
      Layers.report(r, ctx)
    } else {
      r.setupMetric()
      r.metric("read_p50_ms", readP50, "ms")
      r.metric("items_per_s", qps, "1/s")
    }
  }
}

/** Writes beside reads: rounds of one append of 200 new documents to a
  * fresh copy of an index built in setup, each followed by six exact
  * top-10 queries, while the seconds last (at least three rounds); then
  * mergeSegments, a delete of 1 % of the ids and compact on the last
  * round's index. Every round starts from the same index, so a round
  * does the same work however many the run holds.
  */
final class MaintainWorkload(r: Run) {
  import Main._

  val Docs = 2000
  val AppendDocs = 200
  val MinRounds = 3
  val MaxRounds = 8
  val Reads = 6
  val Pool = 60

  def run(): Unit = {
    val src = r.path("corpus")
    val idx = r.path("index")
    val (ctx, batches) = r.setup {
      val docs = r.tr.span("gen")(Gen.docs(r.seed, 0, Docs))
      val batches = r.tr.span("gen")((0 to MaxRounds).map(i =>
        Gen.docs(r.seed, 10 + i, AppendDocs)))
      r.writeTables(src, docs)
      r.build(src, idx)
      val pool = Gen.queries(r.seed, 0, Pool).zipWithIndex.map(_.swap)
      // an untimed round first, with twice the reads: in a fresh JVM the
      // JIT is still compiling these paths, and the first ops run up to
      // twice as slow
      r.tr.span("warm") {
        val warm = Layers.copyIndex(idx, r.path("warm-index"))
        Maintenance.append(r.spark, warm, Gen.appendSource(r.spark, 0, batches.head))
        (0 until 2 * Reads).foreach(i => r.topK(warm, pool.slice(i, i + 1)))
      }
      (Ctx(docs, src, idx, pool, Gen.phrases(r.seed, docs, 8)), batches.tail)
    }
    val deck = new r.Deck(ctx.pool)
    def reads(at: String): Unit = (0 until Reads).foreach(_ =>
      r.ops("read")(r.topK(at, Seq(deck.next())))(wellFormed(_, K)))
    Layers.maintain(r, idx, batches, r.path("compacted"),
      more = i => i < MinRounds || r.timeLeft, reads = reads, pool = ctx.pool)

    val readP50 = median(r.ops.samples("read"))
    val docsPerS = AppendDocs * (r.ops.attempted("append") - r.ops.failed("append")) /
      r.ops.seconds("append")
    if (r.traced) {
      r.metric("traced.read_p50_ms", readP50, "ms")
      r.metric("traced.items_per_s", docsPerS, "1/s")
      Layers.report(r, ctx)
    } else {
      r.setupMetric()
      r.metric("read_p50_ms", readP50, "ms")
      r.metric("items_per_s", docsPerS, "1/s")
    }
  }
}
