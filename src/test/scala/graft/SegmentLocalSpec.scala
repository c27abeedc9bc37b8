package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerTaskEnd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{BM25, IndexBuilder, IndexStore, OpenIndex, PostingsScan}
import graft.query.{OracleScorer, Phrase, Wand}
import graft.streaming.StreamIngest

/** The one Spark-path route and its partition unit: a Spark-path query
  * scores each segment inside the task that reads its blocks, with the
  * norms that task reads beside them. A partition is a postings file when
  * its slice holds whole segments per file, and the whole slice when it
  * does not; the planned scan reads every partition whole, whatever the
  * session's split settings. No store shuffles, and every store answers
  * bit-equal to brute force.
  */
class SegmentLocalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val vocab = Array("red", "blue", "green", "fox", "dog", "run", "sky", "sea")
  private val cfg = IndexBuilder.Config(segSize = 64, blockSize = 8, slices = 2, positions = true)

  /** `n` seeded pages as (url, text). */
  private def pages(seed: Int, n: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      s"doc://$seed/$i" ->
        Seq.fill(8 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
  }

  /** Pages numbered from docID 0, as the build reads them. */
  private def withIds(s: SparkSession, ps: Seq[(String, String)]): DataFrame =
    s.createDataFrame(ps.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t, "en") })
      .toDF("doc_id", "url", "text", "lang")

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Phrase top-k by brute force: overlapping occurrences, idf over the
    * exact phrase df, the same BM25 kernels.
    */
  private def brutePhrase(docs: Seq[(Long, String)], phrase: String, k: Int): Seq[(Long, Double)] = {
    val slots = Analyzer.tokenize(phrase)
    val toks = docs.map { case (id, t) => id -> Analyzer.tokenize(t) }
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / docs.size
    val matches = toks.map { case (id, t) =>
      (id, t.sliding(slots.length).count(_.sameElements(slots)), t.length.toLong)
    }.filter(_._2 > 0)
    if (matches.isEmpty) return Seq.empty
    val idf = BM25.idf(docs.size.toLong, matches.size.toLong)
    matches.map { case (id, ptf, dl) => (id, idf * BM25.tfNorm(ptf.toLong, dl, avgdl)) }
      .sortBy { case (id, sc) => (-sc, id) }
      .take(k)
  }

  /** WAND equals `OracleScorer` and phrase equals brute force over `docs`. */
  private def assertExact(s: SparkSession, idx: OpenIndex, docs: Seq[(Long, String)]): Unit = {
    val docsDf = spark.createDataFrame(docs).toDF("doc_id", "text")
    for (q <- Seq("red fox", "sky sea run dog", "green green"); k <- Seq(1, 10))
      assert(rows(Wand.topK(s, idx, q, k)) == rows(OracleScorer.topK(spark, docsDf, q, k)),
        s"wand '$q' k=$k")
    for (p <- Seq("red fox", "blue blue", "sky sea run"))
      assert(rows(Phrase.topK(s, idx, p, 10)) == brutePhrase(docs, p, 10), s"phrase '$p'")
  }

  /** Shuffle-map stages of a warm WAND and a warm phrase top-k on `idx`. */
  private def shuffles(s: SparkSession, idx: OpenIndex): (Int, Int) = {
    def warm(q: => Any): Int = {
      q
      val (jobs, stages) = TestSpark.jobsAndShuffleStagesOf(q)
      assert(jobs == 1, s"a warm query ran $jobs jobs")
      stages
    }
    (warm(Wand.topK(s, idx, "red fox", 10).collect()),
      warm(Phrase.topK(s, idx, "red fox", 10).collect()))
  }

  /** The most partitions of `rows` that hold one segment; `seg` reads a
    * row's segment.
    */
  private def maxPartitionsPerSeg[R](rows: RDD[R])(seg: R => Int): Int =
    rows.mapPartitionsWithIndex((p, it) => it.map(r => (seg(r), p)))
      .distinct().collect().groupBy(_._1).values.map(_.length).max

  /** The same over the SQL scan of `idx.postings`. */
  private def maxPartitionsPerSeg(idx: OpenIndex): Int =
    maxPartitionsPerSeg(idx.postings.select("seg").rdd)(_.getInt(0))

  /** A store of 600 seeded pages whose postings files hold row groups of
    * 16 blocks, so a byte-range split of a file can cut a segment's blocks
    * apart, with its pages by docID.
    */
  private def splitStore(): (IndexStore, Seq[(Long, String)]) = {
    val ps = pages(1, 600)
    val store = new IndexStore(Files.createTempDirectory("graft-split-").toString)
    val small = TestSpark.smallRowGroupSession(16)
    IndexBuilder.build(small, withIds(small, ps), store, cfg)
    val files = store.committedSlices.flatMap(m => PostingsScan.files(
      spark.sparkContext.hadoopConfiguration, store.slicePath("postings", m.sliceId)))
    assert(files.forall(_.rowGroups.size > 1), s"one row group per file: ${files.map(_.rowGroups.size)}")
    (store, ps.zipWithIndex.map { case ((_, t), i) => i.toLong -> t })
  }

  /** The planned scan of every term of `idx`. */
  private def fullScan(idx: OpenIndex) =
    idx.postingsScan(positions = false).plan(idx.termsLocal.get.keys)

  test("split settings do not change the route and stay exact") {
    val (store, docs) = splitStore()
    // a SQL scan under these settings cuts the files apart; the planned
    // scan makes the same partitions, with the same norms files, as under
    // the default settings
    val s = TestSpark.splittingSession()
    val idx = store.open(s)
    assert(maxPartitionsPerSeg(idx) > 1, "the split scan must spread a segment over partitions")
    def route(i: OpenIndex) = {
      val scan = fullScan(i)
      (scan.rdd.partitions.toSeq.map(_.asInstanceOf[FilePartition].files.toSeq
        .map(f => (f.filePath, f.start, f.length))), scan.norms.toSeq.map(_.toSeq.map(_.filePath)))
    }
    assert(route(idx) == route(store.open(spark)))
    assert(shuffles(s, idx) == (0, 0))
    assertExact(s, idx, docs)
    store.dropAll()
  }

  test("several row groups per file: the planned scan reads each file whole and stays exact") {
    val (store, docs) = splitStore()
    val s = TestSpark.splittingSession()
    val idx = store.open(s)
    assert(idx.slices.forall(_.segLocal))
    assert(maxPartitionsPerSeg(idx) > 1, "the split scan must spread a segment over partitions")
    assert(maxPartitionsPerSeg(fullScan(idx).rdd)(_.getInt(1)) == 1,
      "the planned scan must read each segment in one partition")
    assert(shuffles(s, idx) == (0, 0))
    assertExact(s, idx, docs)
    val whole = store.open(spark)
    assert(shuffles(spark, whole) == (0, 0))
    assertExact(spark, whole, docs)

    // a one-term query reads only the row groups whose term range holds it
    val records = new java.util.concurrent.atomic.AtomicLong()
    Wand.topK(spark, whole, "sea", 10).collect()
    TestSpark.eventsOf(Wand.topK(spark, whole, "sea", 10).collect()).foreach {
      case e: SparkListenerTaskEnd => records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      case _ =>
    }
    val blocks = whole.postings.count()
    val seaBlocks = whole.postings.filter(col("term") === "sea").count()
    info(s"one-term query read ${records.get} of $blocks blocks ($seaBlocks of its term)")
    assert(records.get >= seaBlocks && records.get < blocks)
    store.dropAll()
  }

  test("a slice in the old global-sort layout is one partition and stays exact") {
    val ps = pages(2, 600)
    val docs = ps.zipWithIndex.map { case ((_, t), i) => i.toLong -> t }
    val store = new IndexStore(Files.createTempDirectory("graft-oldlayout-").toString)
    IndexBuilder.build(spark, withIds(spark, ps), store, cfg)
    // rewrite slice 0 as builds wrote it before postings files held whole
    // segments: range-partitioned by term, so a segment spans both files
    val meta = store.committedSlices.head
    val dir = Paths.get(store.slicePath("postings", meta.sliceId))
    TestSpark.rewriteTable(dir.toString)(
      _.repartitionByRange(2, col("term")).sortWithinPartitions("term", "seg", "blk"))
    store.commitSlice(meta.copy(segLocal = false))
    val segsPerFile = Files.list(dir).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
      .map(f => spark.read.parquet(f).select("seg").distinct().collect().map(_.getInt(0)).toSet)
    assert(segsPerFile.size == 2 && (segsPerFile(0) intersect segsPerFile(1)).nonEmpty,
      s"no segment spans two files: $segsPerFile")

    // one SQL scan partition per file (each file costs a whole partition):
    // a segment spans partitions, so only the cleared flag keeps the
    // planned scan from reading the slice's files apart
    val s = spark.newSession()
    s.conf.set("spark.sql.files.openCostInBytes", s.conf.get("spark.sql.files.maxPartitionBytes"))
    val idx = store.open(s)
    assert(!idx.slices.head.segLocal && idx.slices.tail.forall(_.segLocal))
    assert(maxPartitionsPerSeg(idx) > 1, "the old layout must spread a segment over partitions")
    assertUnflaggedWhole(store, idx)
    assert(shuffles(s, idx) == (0, 0))
    assertExact(s, idx, docs)
    // a merge with the unflagged slice is unflagged too
    assert(!store.compact().segLocal)
    val merged = store.open(spark)
    assert(!merged.slices.forall(_.segLocal))
    assertUnflaggedWhole(store, merged)
    assert(shuffles(spark, merged) == (0, 0))
    assertExact(spark, merged, docs)
    store.dropAll()
  }

  /** Every unflagged slice of `idx` is one partition of its planned scan,
    * holding all of its postings files and no other.
    */
  private def assertUnflaggedWhole(store: IndexStore, idx: OpenIndex): Unit = {
    val parts = fullScan(idx).rdd.partitions.toSeq
      .map(_.asInstanceOf[FilePartition].files.map(_.toPath).toSet)
    for (m <- idx.slices if !m.segLocal) {
      val dir = s"slice=${m.sliceId}"
      val files = Files.list(Paths.get(store.slicePath("postings", m.sliceId))).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      val mine = parts.filter(_.exists(_.getParent.getName == dir))
      assert(mine.size == 1 && mine.head.forall(_.getParent.getName == dir) &&
        mine.head.map(_.getName) == files, s"slice ${m.sliceId} is not one partition: $parts")
    }
  }

  test("merged slices keep the whole-segment flag: the reopened store stays local") {
    val store = new IndexStore(Files.createTempDirectory("graft-mergeflag-").toString)
    val batches = Seq(300, 120, 120).zipWithIndex.map { case (n, b) => pages(10 + b, n) }
    for ((ps, b) <- batches.zipWithIndex) {
      val df = spark.createDataFrame(ps.map { case (u, t) => (u, t, "en") }).toDF("url", "text", "lang")
      // the bootstrap builds 2 slices, each batch appends one, and the
      // second append merges past 3 slices
      assert(StreamIngest.processIndexBatch(spark, df, b.toLong, store, cfg,
        maxSlices = 3, vacuumGraceMs = Long.MaxValue))
      store.vacuum(0L)
    }
    val slices = store.committedSlices
    assert(slices.map(_.sliceId).max > 3, s"no merged slice: $slices")
    assert(slices.forall(_.segLocal), s"a slice lost the flag: $slices")
    assert(store.deadSlices.isEmpty)

    val idx = store.open(spark)
    assert(idx.slices.forall(_.segLocal) && shuffles(spark, idx) == (0, 0))
    val text = batches.flatten.toMap
    val docs = idx.docs.select("doc_id", "url").collect()
      .map(r => r.getLong(0) -> text(r.getString(1))).toSeq
    assert(docs.size == batches.map(_.size).sum)
    assertExact(spark, idx, docs)
    store.dropAll()
  }
}
