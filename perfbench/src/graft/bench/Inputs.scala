package graft.bench

import java.util.SplittableRandom

import scala.collection.mutable

/** One generated document: the columns the program's `documents` table
  * carries (doc_id, text, lang, source, n_chars). Texts are lowercase
  * words separated by single spaces, so the program's tokenizer
  * (`split(lower(text), ' ')`) yields exactly the generated words. */
final case class Doc(id: Long, text: String, lang: String, source: String)

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def draw(rng: SplittableRandom): Int = rank(rng.nextDouble())

  /** A draw from stratum `s` of `k` equal-probability strata. */
  def draw(rng: SplittableRandom, s: Int, k: Int): Int = rank((s + rng.nextDouble()) / k)

  private def rank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i + 1 else -i - 1)
  }
}

/** Postings of a fixed document set, kept in the benchmark's own memory:
  * the reference answers that search results are checked against.
  * `ids` of a term are ascending and `tfs` run parallel to them. */
final class Postings(docs: Seq[Doc]) {
  val n: Long = docs.size.toLong
  val docLen: Map[Long, Int] = docs.iterator.map(d => d.id -> words(d).length).toMap
  val tokens: Long = docLen.valuesIterator.map(_.toLong).sum
  val textBytes: Long = docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum

  private val byTerm: Map[String, (Array[Long], Array[Int])] = {
    val acc = mutable.HashMap.empty[String, (mutable.ArrayBuilder.ofLong, mutable.ArrayBuilder.ofInt)]
    docs.sortBy(_.id).foreach { d =>
      words(d).groupMapReduce(identity)(_ => 1)(_ + _).foreach { case (w, tf) =>
        val (ids, tfs) = acc.getOrElseUpdate(w,
          (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofInt))
        ids += d.id
        tfs += tf
      }
    }
    acc.iterator.map { case (t, (ids, tfs)) => t -> (ids.result(), tfs.result()) }.toMap
  }

  def ids(term: String): Array[Long] = byTerm.get(term).map(_._1).getOrElse(Array.empty)
  def tfs(term: String): Array[Int] = byTerm.get(term).map(_._2).getOrElse(Array.empty)
  def df(term: String): Int = ids(term).length

  private def words(d: Doc): Array[String] = d.text.split(" ").filter(_.nonEmpty)
}

/** The seeded inputs of one run. Everything the program sees is written
  * from here as parquet; nothing else about the seed reaches it.
  *
  * The corpus draws each word from a Zipf(`zipfS`) law over a fixed
  * vocabulary whose five most frequent words are English stop words (the
  * ones curation scores on). Query keywords come from a second Zipf law
  * over the vocabulary with its `querySkip` most frequent words skipped,
  * so hit counts run from a handful of docs to about a tenth of the
  * corpus and the hot keywords repeat. */
final class Inputs(val seed: Long, val nDocs: Int, val vocabSize: Int,
    val zipfS: Double, val queryS: Double) {
  import Inputs._

  private val rng = new SplittableRandom(seed)
  val vocab: Array[String] = vocabulary(rng.split(), vocabSize)
  private val wordZipf = new Zipf(vocabSize, zipfS)
  private val docRng = rng.split()
  private val queryRng = rng.split()

  /** Base corpus, doc_ids 0 until nDocs. */
  val base: IndexedSeq[Doc] = (0 until nDocs).map(i => doc(docRng, i.toLong, None))

  /** Vocabulary ranks below this one appear in more than a tenth of the
    * base docs; queries skip them. */
  val querySkip: Int = {
    val df = scala.collection.mutable.HashMap.empty[String, Int]
    base.foreach(d => d.text.split(" ").distinct.foreach(w => df(w) = df.getOrElse(w, 0) + 1))
    vocab.indexWhere(w => df.getOrElse(w, 0) <= nDocs / 10)
  }
  private val queryZipf = new Zipf(vocabSize - querySkip, queryS)

  def doc(r: SplittableRandom, id: Long, plant: Option[String]): Doc = {
    val len = MinWords + r.nextInt(MaxWords - MinWords + 1)
    val ws = Array.fill(len)(vocab(wordZipf.draw(r)))
    plant.foreach(p => ws(r.nextInt(len)) = p)
    Doc(id, ws.mkString(" "), Langs(r.nextInt(Langs.length)), s"src${r.nextInt(5)}")
  }

  /** The request sequence of the search clients, in dispatch order. The
    * kinds repeat `pattern`, so every stretch of requests holds the same
    * shares. Keywords are drawn by stratified sampling: the query law is
    * cut into 16 equally likely strata, visited in bit-reversed order, so
    * each run of 16 keywords holds one keyword from every stratum
    * and a short window sees the same spread of hit counts on every seed;
    * only the word within a stratum is random. */
  def requests(n: Int, pattern: Seq[String]): IndexedSeq[Request] = {
    val r = queryRng.split()
    var drawn = 0
    def keyword(): String = {
      val s = Integer.reverse(drawn % Strata) >>> (32 - Integer.numberOfTrailingZeros(Strata))
      drawn += 1
      vocab(querySkip + queryZipf.draw(r, s, Strata))
    }
    (0 until n).map { i =>
      val kind = pattern(i % pattern.size)
      val k1 = keyword()
      val kws = if (kind == Single) Seq(k1) else {
        var k2 = keyword()
        while (k2 == k1) k2 = keyword()
        Seq(k1, k2)
      }
      Request(kind, kws)
    }
  }

  /** Ingest batch `b` (0-based): `size` offered rows, of which
    * `recrawls` are exact copies of stored base docs and the rest are new
    * docs that each carry the batch's unique term once. Offered doc_ids
    * are unique across the run. */
  def batch(b: Int, size: Int, recrawls: Int): Batch = {
    val r = new SplittableRandom(seed * 1000003L + b)
    val term = s"fresh${b}x$seed".replace('-', 'm')
    val idBase = BatchIdBase + b.toLong * BatchIdStride
    val fresh = (0 until size - recrawls).map(i => doc(r, idBase + i, Some(term)))
    val copies = (0 until recrawls).map { i =>
      val src = base(r.nextInt(base.size))
      Doc(idBase + size - recrawls + i, src.text, src.lang, src.source)
    }
    Batch(b, term, fresh ++ copies, fresh)
  }
}

final case class Request(kind: String, kws: Seq[String])

final case class Batch(index: Int, term: String, offered: Seq[Doc], novel: Seq[Doc])

object Inputs {
  val Single = "single"
  val AnyOf = "any_of"
  val Ranked = "ranked"
  val MinWords = 40
  val MaxWords = 119
  val Langs: Array[String] = Array("en", "de", "fr")
  val Strata = 16
  val StopWords: Seq[String] = Seq("the", "of", "and", "to", "a")
  /** Ingested doc_ids start far above any base id and above the ids
    * DedupOps.corpus plants (+100000, +200000). */
  val BatchIdBase = 10000000L
  val BatchIdStride = 100000L

  /** Distinct letter-only words, stop words first. Generated words
    * alternate consonants and vowels, so they never collide with the
    * stop words or with the digit-bearing batch terms. */
  def vocabulary(r: SplittableRandom, size: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String] ++= StopWords
    while (seen.size < size) {
      val len = 3 + r.nextInt(7)
      val sb = new StringBuilder
      val startVowel = r.nextBoolean()
      (0 until len).foreach { k =>
        val vowel = (k % 2 == 0) == startVowel
        sb += (if (vowel) vows(r.nextInt(vows.length)) else cons(r.nextInt(cons.length)))
      }
      seen += sb.result()
    }
    seen.toArray
  }
}
