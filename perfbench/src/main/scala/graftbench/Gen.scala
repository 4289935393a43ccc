package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.tokenize.Tokenizer

/** Seeded generator of source-code-shaped corpora, embeddings and query
  * streams. The same seed always yields the same inputs; graft sees only
  * the parquet tables written by [[writeTables]].
  *
  * Each document mixes three token sources: the keywords of its
  * language (high df), a Zipf vocabulary of identifiers local to its
  * repo (so coarse clusters mean something), and a Zipf long tail over
  * the global identifier vocabulary. About 10 % of documents repeat an
  * earlier document's content exactly and about 5 % repeat it with a
  * few lines rewritten.
  */
object Gen {

  private val Langs: Vector[String] = Vector("py", "java", "go", "rs", "scala")

  private val keywords: Map[String, Vector[String]] = Map(
    "py" -> "self return def if import for in not none else from class as with try".split(' ').toVector,
    "java" -> "public return this new void if final static private int for else class import null".split(' ').toVector,
    "go" -> "func return err nil if for range var type struct package import go defer else".split(' ').toVector,
    "rs" -> "fn let mut return impl pub self match if use struct for in ok some".split(' ').toVector,
    "scala" -> "val def return if case new override import object class else match for yield this".split(' ').toVector)

  private val verbs = ("get set parse read write load save build make find " +
    "scan merge split join sort push pop emit apply open close flush init " +
    "reset check update fetch send recv encode decode hash index map fold " +
    "filter reduce copy move drop take").split(' ')
  private val nouns = ("buffer stream block record segment cursor handle " +
    "token query table index shard cache queue frame packet header field " +
    "schema column row page file path node edge graph tree heap slot batch " +
    "chunk state config context session client server writer reader").split(' ')

  /** Size of the global identifier vocabulary. */
  private val Vocab = 50000
  /** Repos (topics); each owns a disjoint slice of the vocabulary. */
  private val Repos = 64
  /** Identifiers local to one repo. */
  private val RepoVocab = 500

  private def ident(i: Int): String = {
    val base = verbs(i % verbs.length) + "_" + nouns((i / verbs.length) % nouns.length)
    val round = i / (verbs.length * nouns.length)
    if (round == 0) base else base + round
  }

  /** Inverse-CDF sampler of ranks 0 until n with P(r) ∝ 1 / (r + 1)^s. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val repoZipf = new Zipf(Repos, 0.6)
  private val localZipf = new Zipf(RepoVocab, 1.1)
  private val tailZipf = new Zipf(Vocab, 1.0)
  private val kwZipf = new Zipf(15, 0.9)

  private def repoIdent(repo: Int, rank: Int): String = ident(repo * RepoVocab + rank)
  private def tailIdent(rank: Int): String = ident((rank.toLong * 7919L % Vocab).toInt)
  private def langOf(repo: Int): String = Langs(repo % Langs.size)
  private def keyword(lang: String, rank: Int): String = keywords(lang)(rank)
  private def isKeyword(t: String): Boolean = keywords.valuesIterator.exists(_.contains(t))

  private val seps = Array(" ", " ", " ", "(", ", ", ".", " = ", ": ")

  private def line(rnd: SplittableRandom, repo: Int): String = {
    val lang = langOf(repo)
    val sb = new java.lang.StringBuilder
    sb.append("  " * rnd.nextInt(4))
    val n = 3 + rnd.nextInt(7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(seps(rnd.nextInt(seps.length)))
      val u = rnd.nextDouble()
      sb.append(
        if (u < 0.4) keyword(lang, kwZipf.draw(rnd))
        else if (u < 0.85) repoIdent(repo, localZipf.draw(rnd))
        else tailIdent(tailZipf.draw(rnd)))
      i += 1
    }
    sb.toString
  }

  private def lines(rnd: SplittableRandom, repo: Int): Array[String] =
    Array.fill(6 + rnd.nextInt(12) + rnd.nextInt(12))(line(rnd, repo))

  /** One `documents.parquet` row (the F1 input layout). */
  final case class DocRow(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** `n` documents with ids `firstId` until `firstId + n`. The stream is
    * a pure function of (seed, stream, n, firstId).
    */
  def docs(seed: Long, stream: Int, n: Int, firstId: Long = 0L): Vector[DocRow] = {
    val rnd = new SplittableRandom(seed * 1000003L + stream)
    val repoOf = new Array[Int](n)
    val body = new Array[Array[String]](n)
    (0 until n).map { i =>
      val u = if (i > 0) rnd.nextDouble() else 1.0
      val (repo, ls) =
        if (u < 0.10) {
          val j = rnd.nextInt(i)
          (repoOf(j), body(j))
        } else if (u < 0.15) {
          val j = rnd.nextInt(i)
          val ls = body(j).clone()
          (0 until 1 + rnd.nextInt(3)).foreach(_ =>
            ls(rnd.nextInt(ls.length)) = line(rnd, repoOf(j)))
          (repoOf(j), ls)
        } else {
          val r = repoZipf.draw(rnd)
          (r, lines(rnd, r))
        }
      repoOf(i) = repo
      body(i) = ls
      val text = ls.mkString("\n")
      DocRow(firstId + i, text, langOf(repo), f"repo$repo%03d", text.length.toLong)
    }.toVector
  }

  /** One `embeddings.parquet` row. */
  final case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

  private val EmbDim = 64

  /** Vectors loosely grouped around 32 planted centres (`label`); about
    * 2 % repeat an earlier vector with a little noise, so the embedding
    * near-duplicate pass has pairs to find.
    */
  def embeddings(seed: Long, n: Int): Vector[EmbRow] = {
    val rnd = new SplittableRandom(seed * 1000003L + 77)
    val centres = Array.fill(32, EmbDim)(gauss(rnd))
    val out = new Array[EmbRow](n)
    (0 until n).foreach { i =>
      out(i) =
        if (i > 0 && rnd.nextDouble() < 0.02) {
          val src = out(rnd.nextInt(i))
          EmbRow(i.toLong, src.embedding.map(x => (x + 0.05 * gauss(rnd)).toFloat), src.label)
        } else {
          val c = rnd.nextInt(centres.length)
          EmbRow(i.toLong,
            Array.tabulate(EmbDim)(d => (0.5 * centres(c)(d) + gauss(rnd)).toFloat), c)
        }
    }
    out.toVector
  }

  private def gauss(rnd: SplittableRandom): Double = {
    val u = math.max(rnd.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  /** Queries of 1-5 terms: one rare identifier local to a repo plus
    * common keywords of its language and, sometimes, a mid-frequency
    * identifier. Repos and ranks are Zipf-drawn, so a batch shares terms.
    * Query i has 1 + i % 5 terms, so every seed's pool holds each length
    * equally often.
    */
  def queries(seed: Long, stream: Int, n: Int): Vector[Seq[String]] = {
    val rnd = new SplittableRandom(seed * 1000003L + 500 + stream)
    val rareZipf = new Zipf(RepoVocab - 40, 0.8)
    Vector.tabulate(n) { i =>
      val repo = repoZipf.draw(rnd)
      val lang = langOf(repo)
      val nTerms = 1 + i % 5
      val rare = repoIdent(repo, 40 + rareZipf.draw(rnd))
      val rest = (1 until nTerms).map { _ =>
        if (rnd.nextDouble() < 0.7) keyword(lang, kwZipf.draw(rnd))
        else repoIdent(repo, localZipf.draw(rnd))
      }
      rare +: rest
    }
  }

  /** Phrases of 2-3 consecutive tokens cut from the given documents, each
    * holding at least one identifier, so every phrase has a hit.
    */
  def phrases(seed: Long, docs: Vector[DocRow], n: Int): Vector[Seq[String]] = {
    val rnd = new SplittableRandom(seed * 1000003L + 900)
    Iterator.continually {
      val toks = Tokenizer.tokenize(docs(rnd.nextInt(docs.size)).text)
      val len = 2 + rnd.nextInt(2)
      val at = rnd.nextInt(math.max(1, toks.length - len))
      toks.slice(at, at + len).toSeq
    }.filter(p => p.size >= 2 && !p.forall(isKeyword)).take(n).toVector
  }

  /** Writes `documents.parquet` (and `embeddings.parquet` when given)
    * under `dir`, the layout `IndexBuilder.build` and `Corpus` read.
    */
  def writeTables(spark: SparkSession, dir: String, docs: Seq[DocRow],
      emb: Seq[EmbRow] = Nil): Unit = {
    import spark.implicits._
    spark.createDataset(docs)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    if (emb.nonEmpty)
      spark.createDataset(emb)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** F1-shaped (repo, path, commit, lang, content) rows for an append,
    * keyed apart from the generated base corpus.
    */
  def appendSource(spark: SparkSession, batch: Int, rows: Seq[DocRow]) = {
    import spark.implicits._
    rows.map(d => (s"repo-append", f"src/${d.source}/b$batch%03d-${d.doc_id}%09d.${d.lang}",
      f"a$batch%03d${d.doc_id}%09d", d.lang, d.text))
      .toDF("repo", "path", "commit", "lang", "content")
  }
}
