package graft

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analysis.{functions => ga}
import graft.ops.TextStats

/** The original higher-order-function formulations of the `TextStats`
  * quality signals — the differential oracle for the codegen'd kernels.
  */
object HofTextStats {
  private def toks(textCol: Column): Column = ga.tokenize(textCol)

  def stopwordRatio(textCol: Column, set: Seq[String]): Column = {
    val t = toks(textCol)
    when(size(t) === 0, lit(0.0)).otherwise(
      size(filter(t, x => x.isin(set.map(lit(_)): _*))).cast("double") / size(t))
  }

  def langId(textCol: Column, floor: Double = 0.05): Column = {
    val scored = TextStats.stopwords.toSeq.sortBy(_._1).map { case (lang, set) =>
      struct(stopwordRatio(textCol, set).as("ratio"), lit(lang).as("lang"))
    }
    val best = sort_array(array(scored: _*), asc = false)(0)
    when(best.getField("ratio") < floor, lit("und"))
      .otherwise(best.getField("lang"))
  }

  def qualityScore(textCol: Column): Column = {
    val nTok = ga.token_count(textCol).cast("double")
    val lengthScore = least(nTok / lit(64.0), lit(1.0))
    val nChars = length(textCol).cast("double")
    val alphaChars = length(regexp_replace(textCol, "[^A-Za-z]", "")).cast("double")
    val alphaRatio = when(nChars === 0, lit(0.0)).otherwise(alphaChars / nChars)
    val stopScore = least(stopwordRatio(textCol, TextStats.stopwords("en")) * lit(4.0), lit(1.0))
    round(lit(0.4) * lengthScore + lit(0.4) * alphaRatio + lit(0.2) * stopScore, 6)
  }

  def dupTokenRatio(textCol: Column): Column = {
    val t = toks(textCol)
    when(size(t) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(t)).cast("double") / size(t))
  }

  def topBigramFraction(textCol: Column): Column = {
    val t = toks(textCol)
    val n = size(t)
    val bg = transform(sequence(lit(1), n - 1),
      i => concat(element_at(t, i), lit(" "), element_at(t, i + 1)))
    val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best"))
    val folded = aggregate(
      sort_array(bg),
      zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(n < 2, lit(0.0)).otherwise(folded.cast("double") / (n - 1))
  }
}

/** Differential property suite: every `TextStats` quality signal equals
  * its higher-order-function oracle (null-safe, bit-identical doubles) on
  * generated text, with ANSI on and off, through codegen and the
  * interpreter.
  */
class TextStatsPropSpec extends AnyFunSuite {

  private val allStopwords = TextStats.stopwords.values.flatten.toSeq.distinct
  private val langs = TextStats.stopwords.keys.toSeq.sorted

  private val word: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(allStopwords),
    2 -> Gen.oneOf(allStopwords).map(w => w.head.toUpper.toString + w.tail),
    1 -> Gen.oneOf(allStopwords).map(_.toUpperCase),
    4 -> Gen.oneOf("a", "b", "x", "y", "cat", "dog"),
    2 -> Gen.oneOf("été", "Straße", "ÜBER", "日本語", "٣٤", "Ⅻ", "𝒜𝒷", "İstanbul",
      "ΣΊΣΥΦΟΣ", "42", "x2", "ǅemal"),
    1 -> Gen.alphaNumStr,
    1 -> Arbitrary.arbitrary[String])

  private val sep: Gen[String] =
    Gen.oneOf(" ", "  ", "\t", "\n", ", ", ". ", "-", "!?", "　", "—", "_", "'")

  private def joined(ws: Seq[String]): Gen[String] =
    Gen.listOfN(ws.size, sep).map(ss => ws.zip(ss).map { case (w, s) => w + s }.mkString)

  private def repeatPairs: Gen[String] = for {
    pairs <- Gen.choose(1, 3)
    ws <- Gen.listOfN(pairs * 2, word)
    reps <- Gen.choose(1, 4)
    t <- joined(Seq.fill(reps)(ws).flatten)
  } yield t

  private def languageMix: Gen[String] = for {
    l1 <- Gen.oneOf(langs)
    l2 <- Gen.oneOf(langs)
    k <- Gen.choose(1, 4)
    a <- Gen.listOfN(k, Gen.oneOf(TextStats.stopwords(l1)))
    b <- Gen.listOfN(k, Gen.oneOf(TextStats.stopwords(l2)))
    fill <- Gen.listOf(Gen.oneOf("cat", "dog", "x"))
    order <- Arbitrary.arbitrary[Long]
    t <- joined(new scala.util.Random(order).shuffle(a ++ b ++ fill))
  } yield t

  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    2 -> Gen.listOf(sep).map(_.mkString),
    2 -> Gen.zip(sep, word, sep).map { case (a, w, b) => a + w + b },
    2 -> Gen.zip(Gen.choose(2, 12), word).flatMap { case (n, w) => joined(Seq.fill(n)(w)) },
    3 -> repeatPairs,
    2 -> Gen.oneOf(langs).flatMap(l => Gen.listOf(Gen.frequency(
      4 -> Gen.oneOf(TextStats.stopwords(l)), 1 -> word))).flatMap(joined),
    3 -> languageMix,
    6 -> Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, word)).flatMap(joined))

  private val wordSet: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(Seq.empty[String]),
    4 -> Gen.listOf(word),
    2 -> Gen.nonEmptyListOf(Gen.oneOf(allStopwords)).map(ws => ws ++ ws),
    2 -> Gen.nonEmptyListOf(Gen.oneOf(allStopwords)).map(_.map(_.capitalize)))

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = Seed(seed)
    (0 until n).map { _ =>
      var out: Option[T] = None
      while (out.isEmpty) { out = g(Gen.Parameters.default, s); s = s.next }
      out.get
    }
  }

  private val texts: Seq[String] = sample(text, 1500, 20261017L)
  private val sets: Seq[Seq[String]] =
    Seq(Seq.empty, Seq("the", "the", "a"), Seq("The", "AND", "Der", "der")) ++
      TextStats.stopwords.values ++ sample(wordSet, 12, 7L)

  private def session(ansi: Boolean, codegen: Boolean): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", ansi.toString)
    if (!codegen) {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    s
  }

  /** A text table Catalyst cannot constant-fold (not a LocalRelation). */
  private def table(s: SparkSession, ts: Seq[String]) = s.createDataFrame(
    s.sparkContext.parallelize(ts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 4),
    StructType(Seq(StructField("id", LongType), StructField("text", StringType))))

  private type Signal = (String, Column => Column, Column => Column)
  private def signal(name: String)(kernel: Column => Column, oracle: Column => Column): Signal =
    (name, kernel, oracle)

  /** (name, kernel, oracle) triples over the text column. */
  private val signals: Seq[Signal] = Seq(
    signal("topBigramFraction")(TextStats.topBigramFraction, HofTextStats.topBigramFraction),
    signal("dupTokenRatio")(TextStats.dupTokenRatio, HofTextStats.dupTokenRatio),
    signal("langId")(TextStats.langId(_), HofTextStats.langId(_)),
    signal("qualityScore")(TextStats.qualityScore, HofTextStats.qualityScore)) ++
    sets.zipWithIndex.map { case (set, i) =>
      signal(s"stopwordRatio#$i$set")(TextStats.stopwordRatio(_, set),
        HofTextStats.stopwordRatio(_, set))
    }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x, y) => x != null && x == y
  }

  for (ansi <- Seq(true, false); codegen <- Seq(true, false)) {
    test(s"kernels equal the HOF oracle on generated text (ansi=$ansi, codegen=$codegen)") {
      val s = session(ansi, codegen)
      val t = col("text")
      val cols = col("id") +: signals.flatMap { case (name, k, o) =>
        Seq(k(t).as(s"k_$name"), o(t).as(s"o_$name"))
      }
      val rows = table(s, texts).select(cols: _*).collect()
      assert(rows.length == texts.size)
      for (r <- rows; (sig, j) <- signals.zipWithIndex) {
        val (k, o) = (r.get(1 + 2 * j), r.get(2 + 2 * j))
        assert(same(k, o),
          s"${sig._1} on ${Option(texts(r.getLong(0).toInt)).map(x => s"\"$x\"")}: " +
            s"kernel=$k oracle=$o")
      }
    }
  }

  test("NULL text keeps the pinned results in both ANSI modes") {
    val t = col("text")
    val en = TextStats.stopwords("en")
    val impls = Seq(
      "kernel" -> Seq(TextStats.topBigramFraction(t), TextStats.stopwordRatio(t, en),
        TextStats.langId(t)),
      "oracle" -> Seq(HofTextStats.topBigramFraction(t), HofTextStats.stopwordRatio(t, en),
        HofTextStats.langId(t)))
    for (ansi <- Seq(true, false); (impl, cols) <- impls) {
      val r = table(session(ansi, codegen = true), Seq(null)).select(cols: _*).head()
      val ctx = s"$impl ansi=$ansi"
      if (ansi) {
        assert(r.isNullAt(0) && r.isNullAt(1), ctx)
      } else {
        assert(r.getDouble(0) == 0.0, ctx)
        assert(r.getDouble(1) == 1.0, ctx)
      }
      assert(r.getString(2) == "fr", ctx)
    }
  }
}
