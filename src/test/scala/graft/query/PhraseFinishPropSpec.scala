package graft.query

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.index.BM25

/** The phrase candidate rule and finisher against brute force: scoring
  * every match of every segment with the summed df and taking the k best
  * by (score desc, docId asc) must give the same docIDs and doubles as
  * `Phrase.finish` over each segment's `Phrase.localTopK` part. tfNorms
  * are drawn as ulp neighbours, so idf·tfNorm often rounds two different
  * tfNorms to one score and the docID decides.
  */
class PhraseFinishPropSpec extends AnyFunSuite {

  /** Per segment its matches (docId, tfNorm); docIDs unique over all. */
  private case class Case(segs: Seq[Seq[(Long, Double)]], nDocs: Long, k: Int) {
    def matches: Seq[(Long, Double)] = segs.flatten
  }

  private val caseGen: Gen[Case] = for {
    x <- Gen.choose(0.05, 2.2)
    y <- Gen.choose(0.05, 2.2)
    pool = Seq(x, Math.nextUp(x), Math.nextDown(x), Math.nextDown(Math.nextDown(x)),
      y, Math.nextUp(y))
    sizes <- Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(1 -> Gen.const(0), 2 -> Gen.const(1), 6 -> Gen.choose(2, 14))))
    total = sizes.sum
    norms <- Gen.listOfN(total, Gen.oneOf(pool))
    order <- Gen.long
    extra <- Gen.choose(0L, 40L * total + 10)
    k <- Gen.choose(1, total + 3)
  } yield {
    val ids = new scala.util.Random(order).shuffle((0L until total).toList)
    val ms = ids.zip(norms)
    val segs = sizes.scanLeft(0)(_ + _).zip(sizes).map { case (at, n) => ms.slice(at, at + n) }
    Case(segs, total + extra, k)
  }

  private def brute(c: Case): Seq[(Long, Double)] =
    if (c.matches.isEmpty) Seq.empty
    else {
      val idf = BM25.idf(c.nDocs, c.matches.size.toLong)
      c.matches.map { case (d, t) => (d, idf * t) }.sortBy { case (d, s) => (-s, d) }.take(c.k)
    }

  private def finish(c: Case): Seq[(Long, Double)] = Phrase.finish(
    c.segs.map(ms => Phrase.localTopK(ms.map(_._1).toArray, ms.map(_._2).toArray, c.k)),
    c.nDocs, c.k).toSeq

  /** A case where two different tfNorms of one segment round to one score. */
  private def collides(c: Case): Boolean = c.matches.nonEmpty && {
    val idf = BM25.idf(c.nDocs, c.matches.size.toLong)
    c.segs.exists(ms => ms.map(_._2).distinct.groupBy(idf * _).exists(_._2.size > 1))
  }

  test("finish over per-segment candidates equals brute force at rounding ties") {
    var colliding = 0
    val prop = Prop.forAll(caseGen) { c =>
      if (collides(c)) colliding += 1
      val (got, want) = (finish(c), brute(c))
      (got == want) :| s"$c\ngot =$got\nwant=$want"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(3000).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status)
    info(s"$colliding of ${res.succeeded} cases round two tfNorms of a segment to one score")
    assert(colliding > res.succeeded / 10)
  }
}
