package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{BM25, IndexBuilder, IndexStore, PostingsScan, TermPostings}
import graft.query.{Phrase, Wand}

/** Phrase queries over the positional index: bit-exact against a
  * brute-force Scala oracle (tokenize + adjacency count + the same BM25
  * kernels), including overlapping occurrences, duplicate phrase slots,
  * multi-block terms, and both codecs.
  */
class PhraseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Exact occurrence count of `slots` in `toks` (overlaps counted). */
  private def bruteCount(toks: Array[String], slots: Array[String]): Int =
    (0 to toks.length - slots.length)
      .count(p => slots.indices.forall(s => toks(p + s) == slots(s)))

  private def bruteTopK(
      docs: Seq[(Long, String)], phrase: String, k: Int): Seq[(Long, Double)] = {
    val slots = Analyzer.tokenize(phrase)
    val toks = docs.map { case (id, t) => id -> Analyzer.tokenize(t) }
    val n = docs.size.toLong
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
    val matches = toks
      .map { case (id, t) => (id, bruteCount(t, slots), t.length.toLong) }
      .filter(_._2 > 0)
    if (matches.isEmpty) return Seq.empty
    val idf = BM25.idf(n, matches.size.toLong)
    matches
      .map { case (id, ptf, dl) => (id, idf * BM25.tfNorm(ptf.toLong, dl, avgdl)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
  }

  test("positions round-trip through build, both codecs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a c a"),
      (1L, "b b b"),
      (2L, "c a b")).toDF("doc_id", "text")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("lang", lit("en"))
    for (codec <- Seq("pfor", "vbyte")) {
      val store = new IndexStore(Files.createTempDirectory("graft-pos-").toString)
      IndexBuilder.build(spark, docs, store,
        IndexBuilder.Config(segSize = 2, blockSize = 2, slices = 1,
          codec = codec, positions = true))
      val idx = store.open(spark)
      val got = idx.postings.collect()
        .flatMap { b =>
          val (ds, _) = TermPostings.decodeBlock(b)
          val ps = TermPostings.decodePositions(b)
          ds.indices.map(i => (b.term, ds(i)) -> ps(i).toSeq)
        }.toMap
      assert(got(("a", 0L)) == Seq(0, 2, 4), s"codec=$codec")
      assert(got(("b", 1L)) == Seq(0, 1, 2))
      assert(got(("c", 2L)) == Seq(0))
      assert(got(("b", 2L)) == Seq(2))
      store.dropAll()
    }
  }

  private val Phrases = Seq("fox fox", "red blue red", "blue green", "dog run fox",
    "fox fox fox", "nosuchword fox", "zzz qqq")

  /** 300 seeded documents over six words, plus two with overlapping and
    * repeated phrases.
    */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = Array("red", "blue", "green", "fox", "dog", "run")
    (0L until 300L).map { i =>
      val body = (1 to 20 + rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length)))
      (i, body.mkString(" "))
    } ++ Seq(
      (300L, "fox fox fox fox"),         // overlapping "fox fox" x3
      (301L, "red blue red blue red"))   // "red blue red" overlap-free x2
  }

  private def corpusIn(s: SparkSession): DataFrame =
    s.createDataFrame(corpus).toDF("doc_id", "text")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("lang", lit("en"))

  test("phrase topK is bit-exact vs brute force: overlaps, duplicate slots, misses") {
    val store = new IndexStore(Files.createTempDirectory("graft-phrase-").toString)
    IndexBuilder.build(spark, corpusIn(spark), store,
      IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 2, positions = true))
    val idx = store.open(spark)
    for (phrase <- Phrases) {
      val got = Phrase.topK(spark, idx, phrase, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = bruteTopK(corpus, phrase, 10)
      assert(got == want, s"phrase='$phrase'\ngot =$got\nwant=$want")
    }
    // "blue green" matches in several segments
    assert(bruteTopK(corpus, "blue green", 10).map(_._1 / 64).distinct.size > 1)
    // the overlap-counting contract, explicitly
    val ff = Phrase.topK(spark, idx, "fox fox", 10).collect()
      .map(r => r.getLong(0)).toSeq
    assert(ff.contains(300L))
    store.dropAll()
  }

  test("a positional ServingNode routes phrases over its slices like the Spark path, through a tiered merge") {
    val store = new IndexStore(Files.createTempDirectory("graft-phrnode-").toString)
    // 8 segments in 3 slices, then a fourth slice appended
    IndexBuilder.build(spark, corpusIn(spark).filter(col("doc_id") < 256), store,
      IndexBuilder.Config(segSize = 32, blockSize = 16, slices = 3, positions = true))
    val node = new graft.query.ServingNode(spark, store, maxBytes = 2L << 30)
    def check(slices: Int): Unit = {
      assert(store.committedSlices.size == slices && node.current.shards.size == slices)
      val idx = store.open(spark)
      for (phrase <- Phrases) {
        val dist = Phrase.topK(spark, idx, phrase, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(node.current.phraseTopK(phrase, 10).toSeq == dist, s"$slices slices '$phrase'")
      }
    }
    check(3)
    IndexBuilder.append(spark, corpusIn(spark).filter(col("doc_id") >= 256), store)
    assert(node.refresh())
    check(4)
    // the two smallest slices merge into one
    assert(store.maybeMerge(maxSlices = 3, mergeFactor = 2).size == 1)
    assert(node.refresh())
    check(3)
    store.dropAll()
  }

  test("serving and sharded phrase paths are bit-identical to the distributed path") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array("red", "blue", "green", "fox", "dog", "run")
    val corpus = (0L until 400L).map { i =>
      (i, (1 to 25 + rnd.nextInt(20)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("lang", lit("en"))
    val store = new IndexStore(Files.createTempDirectory("graft-phrsv-").toString)
    IndexBuilder.build(spark, df, store,
      IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 2, positions = true))
    val idx = store.open(spark)
    val serving = graft.query.Serving.open(idx, maxBytes = 2L << 30)
    val cluster = graft.query.Serving.openSharded(idx, nShards = 3, maxBytesPerShard = 2L << 30)
    // tight budget: bounded decode cache, NO decoded-positions cache —
    // phrase queries decode per query and must stay bit-identical
    val tight = graft.query.Serving.open(idx, maxBytes = 1L)
    val tightShard = tight.shards.head
    assert(tightShard.bounded)
    // open report surfaces honest budget accounting: under a budget the
    // unevictable compressed positions alone exceed, overBudget flags that
    // heap sizing must use retainedPositionBytes + cacheBudgetBytes
    assert(tightShard.openReport.overBudget)
    assert(tightShard.openReport.retainedPositionBytes == tightShard.retainedPositionBytes)
    assert(tightShard.openReport.retainedPositionBytes + tightShard.openReport.cacheBudgetBytes > 1L)
    val roomy = serving.shards.head.openReport
    assert(!roomy.overBudget && !roomy.bounded)
    assert(roomy.estDecodedBytes + roomy.retainedPositionBytes <= roomy.maxBytes)
    // exported deployment layout: per-directory shard opens must carry
    // the positional payload and phrase-score identically
    val out = Files.createTempDirectory("graft-phr-export-").toString
    graft.query.ServingLayout.exportShards(spark, store, out, nShards = 3)
    val exported = graft.query.ServingLayout.openExportedCluster(spark, out, 2L << 30)
    for (phrase <- Seq("fox fox", "red blue", "blue green red", "zzz qqq")) {
      val dist = Phrase.topK(spark, idx, phrase, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(serving.phraseTopK(phrase, 10).toSeq == dist, s"serving '$phrase'")
      assert(cluster.phraseTopK(phrase, 10).toSeq == dist, s"cluster '$phrase'")
      assert(tight.phraseTopK(phrase, 10).toSeq == dist, s"tight-budget '$phrase'")
      assert(exported.phraseTopK(phrase, 10).toSeq == dist, s"exported '$phrase'")
    }
    store.dropAll()
  }

  test("more segments than partitions, several row groups per file: no shuffle, bit-exact") {
    val small = TestSpark.smallRowGroupSession(16)
    val store = new IndexStore(Files.createTempDirectory("graft-phrgeom-").toString)
    IndexBuilder.build(small, corpusIn(small), store,
      IndexBuilder.Config(segSize = 16, blockSize = 4, slices = 2, positions = true))
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(store.committedSlices.forall(m => m.segHi - m.segLo + 1 > partitions))
    assert(store.committedSlices.flatMap(m => PostingsScan.files(
      spark.sparkContext.hadoopConfiguration, store.slicePath("postings", m.sliceId)))
      .forall(_.rowGroups.size > 1))
    for (s <- Seq(spark, TestSpark.splittingSession())) {
      val idx = store.open(s)
      val units = TestSpark.residentSegs(idx, positions = true)
      assert(units.forall { case (segs, norms) => norms == segs.map(_ -> 1).toMap },
        s"a unit holds other norms than its segments': ${units.toSeq}")
      for (phrase <- Phrases) {
        val run = () => Phrase.topK(s, idx, phrase, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(run() == bruteTopK(corpus, phrase, 10), s"phrase='$phrase'")
        val (jobs, stages) = TestSpark.jobsAndShuffleStagesOf(run())
        assert(jobs <= 1 && stages == 0, s"phrase='$phrase': $jobs jobs, $stages shuffle stages")
      }
    }
    store.dropAll()
  }

  test("a segment missing from its paired norms files fails with a named error") {
    import spark.implicits._
    val df = Seq((0L, "a b c"), (1L, "a b"), (4L, "a c"), (5L, "b")).toDF("doc_id", "text")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("lang", lit("en"))
    val store = new IndexStore(Files.createTempDirectory("graft-nonorms-").toString)
    IndexBuilder.build(spark, df, store,
      IndexBuilder.Config(segSize = 4, blockSize = 4, positions = true))
    // rewrite the slice's norms on disk without segment 0
    TestSpark.rewriteTable(store.slicePath("norms", 0))(_.filter(col("seg") =!= 0))
    val idx = store.open(spark)
    for ((name, query) <- Seq[(String, () => Any)](
        "wand" -> (() => Wand.topK(spark, idx, "a", 10).collect()),
        "phrase" -> (() => Phrase.topK(spark, idx, "a b", 10).collect()))) {
      val e = intercept[Exception](query())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("seg 0 has postings but no norms")), s"$name: $e")
    }
    store.dropAll()
  }

  test("non-positional index refuses phrase queries with a clear message") {
    import spark.implicits._
    val df = Seq((0L, "a b c")).toDF("doc_id", "text")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("lang", lit("en"))
    val store = new IndexStore(Files.createTempDirectory("graft-nopos-").toString)
    IndexBuilder.build(spark, df, store, IndexBuilder.Config(segSize = 4, blockSize = 4))
    val idx = store.open(spark)
    val e = intercept[Exception](Phrase.topK(spark, idx, "a b", 5).collect())
    assert(e.getMessage != null)
    store.dropAll()
  }
}
