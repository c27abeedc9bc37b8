package perfbench

import java.util.SplittableRandom

/** One generated web page (the Common-Crawl-style input table). */
case class Page(url: String, warc_ts: java.sql.Timestamp, html: String, text: String, lang: String)

/** A curation input row: pages keyed by a generator-assigned id. */
case class CurateDoc(id: Long, url: String, text: String, lang: String)

/** A query of one named class of the mix. */
case class Query(cls: String, text: String)

/** Seeded input generators owned by the benchmark. Every document is a pure
  * function of (seed, stream, index), so checks can regenerate any document
  * in the harness instead of reading the program's copy back.
  *
  * Text is Zipf(1.0) over a seeded ~1k-word vocabulary, 40-160 tokens per
  * document, plus one unique marker token per document. Vocabulary words
  * use lowercase letters other than `q` and `z`; markers start with `zq`
  * and carry digits, so the two never collide.
  */
final class Gen(val seed: Long) extends Serializable {
  import Gen._

  val vocab: Array[String] = makeVocab(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }

  def rng(stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ 0x5851f42d4c957f2dL, stream), i))

  def zipfRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(VocabSize - 1, if (i >= 0) i else -i - 1)
  }

  def marker(stream: Long, i: Long): String = s"zq${stream}x$i"

  /** The analyzed token stream of document `i` of `stream`. */
  def tokens(stream: Long, i: Long): Array[String] = {
    val r = rng(stream, i)
    val len = 40 + r.nextInt(121)
    val at = r.nextInt(len)
    Array.tabulate(len)(j => if (j == at) marker(stream, i) else vocab(zipfRank(r)))
  }

  def lang(stream: Long, i: Long): String = {
    val u = rng(stream, ~i).nextDouble()
    if (u < 0.90) "en" else if (u < 0.94) "de" else if (u < 0.97) "fr" else "es"
  }

  def url(stream: Long, i: Long): String =
    s"https://site${rng(stream, -1L - i).nextInt(5000)}.example.com/s$stream/p$i"

  def page(stream: Long, i: Long): Page = {
    val toks = tokens(stream, i)
    val text = render(toks)
    Page(url(stream, i), new java.sql.Timestamp(BaseTs + (stream * 1000000L + i) * 37000L),
      s"<html><head><title>${toks.take(6).mkString(" ")}</title></head><body><p>$text</p></body></html>",
      text, lang(stream, i))
  }

  /** Queries of the mix over `nDocs` documents of `stream`, shares fixed by
    * `Gen.Mix`. `phrase` takes an adjacent vocabulary pair from a generated
    * document; `rare` is one document's marker (a single hit).
    */
  def queries(n: Int, stream: Long, nDocs: Long, salt: Long = 0L): IndexedSeq[Query] = {
    val r = new SplittableRandom(mix(mix(seed, 0x9e37L + salt), stream))
    (0 until n).map { _ =>
      val u = r.nextDouble()
      val cls = Mix.find(_._2 > u).getOrElse(Mix.last)._1
      cls match {
        case "term_head" =>
          val rest = Seq.fill(1 + r.nextInt(3))(vocab(10 + r.nextInt(290)))
          Query(cls, (vocab(r.nextInt(10)) +: rest).mkString(" "))
        case "term_tail" =>
          Query(cls, Seq.fill(1 + r.nextInt(3))(vocab(300 + r.nextInt(VocabSize - 300))).mkString(" "))
        case "rare" =>
          Query(cls, marker(stream, r.nextLong(nDocs)))
        case _ =>
          val d = r.nextLong(nDocs)
          val toks = tokens(stream, d)
          var j = r.nextInt(toks.length - 1)
          if (toks(j).startsWith("zq") || toks(j + 1).startsWith("zq")) j = (j + 2) % (toks.length - 1)
          Query("phrase", s"${toks(j)} ${toks(j + 1)}")
      }
    }
  }
}

object Gen {
  final val VocabSize = 1000
  final val BaseTs = 1700000000000L

  /** Cumulative query-class shares: term_head 40%, term_tail 30%, rare 15%,
    * phrase 15%.
    */
  final val Mix: Seq[(String, Double)] =
    Seq("term_head" -> 0.40, "term_tail" -> 0.70, "rare" -> 0.85, "phrase" -> 1.0)
  final val Classes: Seq[String] = Mix.map(_._1)

  def mix(a: Long, b: Long): Long = {
    var x = a * 0x9e3779b97f4a7c15L + b
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private val Cons = "bcdfghjklmnprstvw"
  private val Vow = "aeiou"

  def makeVocab(seed: Long): Array[String] = {
    val r = new SplittableRandom(mix(seed, 0x766f63L))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val sb = new StringBuilder
      (0 until 1 + r.nextInt(3)).foreach { _ =>
        sb += Cons(r.nextInt(Cons.length)); sb += Vow(r.nextInt(Vow.length))
        if (r.nextInt(3) == 0) sb += Cons(r.nextInt(Cons.length))
      }
      seen += sb.toString
    }
    seen.toArray
  }

  /** Sentences of 8-20 tokens, first letter capitalized, ended by ". ". */
  def render(toks: Array[String]): String = {
    val sb = new StringBuilder
    var j = 0
    var left = 0
    while (j < toks.length) {
      if (left == 0) {
        if (j > 0) sb ++= ". "
        left = 8 + (toks(j).hashCode & 7) + (j % 5)
        sb ++= toks(j).capitalize
      } else { sb += ' '; sb ++= toks(j) }
      left -= 1
      j += 1
    }
    sb ++= "."
    sb.toString
  }

  /** Word 3-gram shingle set, written independently of the program's own
    * shingling for the Jaccard re-check.
    */
  def shingles(toks: Array[String], k: Int): Set[String] =
    if (toks.length < k) (if (toks.isEmpty) Set.empty else Set(toks.mkString(" ")))
    else toks.sliding(k).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains).toLong
    inter.toDouble / (a.size.toLong + b.size.toLong - inter).toDouble
  }
}
