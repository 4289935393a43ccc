package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.build.IndexBuilder
import graft.maintain.Maintenance
import graft.query.{Bm25SqlPath, IndexSearcher, PhraseSearch}
import graft.tokenize.Tokenizer

/** Property (VERDICT r4 #7): the index-backed WAND operator is
  * rank-identical (ids AND rounded scores) to the declarative SQL
  * scoring path on RANDOM corpora and RANDOM query batches — not just
  * the fixed F3 query set. Seeded, deterministic: 4 random corpora ×
  * 30 random queries = 120 generated cases, each checked through the
  * full pipeline (build → BlockScanExec batch search → compare).
  *
  * The unit-level twin (WandSpec) already drives 300 ScalaCheck cases
  * through the scorer kernel; this suite closes the gap VERDICT r4
  * called out — the whole OPERATOR (tokenize → index → granule splits
  * → Catalyst plan → heap merge) under generated inputs. Each corpus
  * also checks ~10 phrases against a brute-force adjacency count, before
  * and after tombstoning two hits.
  */
class WandEndToEndSpec extends SparkSpec {

  private val vocab = Vector(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho",
    "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega", "index",
    "search", "token", "score", "block", "merge", "heap", "query",
    "shard", "probe", "scan", "rank", "fetch", "cache", "spill", "batch")

  test("property: WAND operator == SQL path on random corpora (120 cases)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    (1 to 4).foreach { corpusId =>
      val nDocs = 80 + rnd.nextInt(70)
      val docs = (0 until nDocs).map { i =>
        val len = 5 + rnd.nextInt(56)
        // skewed draw: low vocab ids are stop-word-ish, high ids rare
        val toks = Seq.fill(len)(
          vocab(math.min(vocab.size - 1,
            (math.pow(rnd.nextDouble(), 2.0) * vocab.size).toInt)))
        (s"repo-${i % 5}", f"src/gen/$i%04d.txt", f"$corpusId$i%011d",
          "txt", toks.mkString(" "))
      }
      // a few exact duplicates: score ties must break by doc_id asc
      val withDups = docs ++ docs.take(3).map { case (r, p, c, l, t) =>
        (r, p + ".dup", c + "d", l, t)
      }
      val src = withDups.toDF("repo", "path", "commit", "lang", "content")
        .repartition(3)
      val dir = Files.createTempDirectory(s"graft-wand-e2e-$corpusId")
        .toString
      IndexBuilder.buildFromSource(spark, src, dir,
        IndexBuilder.BuildConfig(resume = false, kc = 2 + rnd.nextInt(6),
          postingsBatches = 1 + rnd.nextInt(3)),
        lineageName = s"gen-$corpusId")

      val queries = (1 to 30).map { qid =>
        val nTerms = 1 + rnd.nextInt(4)
        val terms = Seq.fill(nTerms)(vocab(rnd.nextInt(vocab.size))) ++
          (if (rnd.nextInt(5) == 0) Seq("unseenterm") else Nil) ++
          // repeated term → qtf > 1 sometimes
          (if (rnd.nextInt(3) == 0) Seq(vocab(rnd.nextInt(vocab.size / 2)))
           else Nil)
        qid -> terms
      }
      val k = 1 + rnd.nextInt(10)

      val wand = IndexSearcher.topK(spark, dir, queries, k)
        .collect().toSeq
      val corpus = spark.read.parquet(s"$dir/docstore")
        .select("doc_id", "content", "doc_len")
      val sql = Bm25SqlPath.topK(spark, corpus, queries, k)
        .collect().toSeq
      assert(wand == sql,
        s"corpus $corpusId (n=$nDocs, k=$k): wand != sql\n" +
          s"wand=${wand.take(8)}\nsql =${sql.take(8)}")

      // phrases drawn from their own seed, so the WAND cases above stay
      // the ones they always were
      val prnd = new scala.util.Random(corpusId)
      val phrases = Seq.fill(7) {
        val toks = docs(prnd.nextInt(docs.size))._5.split(" ")
        val len = 2 + prnd.nextInt(2)
        val at = prnd.nextInt(toks.length - len + 1)
        toks.slice(at, at + len).toSeq
      } ++ Seq(Seq("batch", "batch"), Seq("alpha", "alpha"),
        Seq("alpha", "unseenterm"))
      val hits = PhraseSearchCheck.assertMatches(spark, dir, phrases)
      val gone = hits.flatten.map(_._1).distinct.take(2)
      assert(gone.size == 2, s"corpus $corpusId: too few phrase hits")
      Maintenance.delete(dir, gone)
      val after = PhraseSearchCheck.assertMatches(spark, dir, phrases)
      assert(!after.flatten.exists(h => gone.contains(h._1)))
    }
  }
}

/** Phrase search vs a brute-force adjacency count over the docstore's
  * tokenized content, tombstoned docs excluded.
  */
object PhraseSearchCheck extends org.scalatest.Assertions {

  /** Checks every phrase; returns each one's hits. */
  def assertMatches(spark: org.apache.spark.sql.SparkSession, dir: String,
      phrases: Seq[Seq[String]]): Seq[Seq[(Long, Long)]] = {
    val dead = Maintenance.loadTombstones(dir)
    val docs = spark.read.parquet(s"$dir/docstore").select("doc_id", "content")
      .collect().toSeq
      .map(r => (r.getLong(0), Tokenizer.tokenize(r.getString(1))))
      .filterNot(d => dead.contains(d._1))
    phrases.map { ph =>
      val want = docs
        .map { case (id, toks) =>
          id -> toks.indices.count(p => ph.indices.forall(i =>
            p + i < toks.length && toks(p + i) == ph(i))).toLong
        }
        .filter(_._2 > 0)
        .sortBy { case (id, occ) => (-occ, id) }
      val got = PhraseSearch.search(spark, dir, ph).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
      if (got != want) fail(s"phrase ${ph.mkString(" ")} in $dir\n" +
        s"got =${got.take(8)}\nwant=${want.take(8)}")
      got
    }
  }
}
