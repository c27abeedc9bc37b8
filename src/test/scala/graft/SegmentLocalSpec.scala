package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{BM25, IndexBuilder, IndexStore, OpenIndex, PostingsScan}
import graft.query.{OracleScorer, Phrase, Wand}
import graft.streaming.StreamIngest

/** The one Spark-path route and its partition unit: a Spark-path query
  * scores each segment inside the task that holds its resident blocks,
  * with the norms that task holds beside them. A partition is a scan unit,
  * the postings files of a slice whose footer `seg` ranges overlap; a unit
  * fills by reading its files whole, whatever the session's split
  * settings, and a warm query reads no file. No store shuffles, and every
  * store answers bit-equal to brute force.
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

  /** The scan units of `idx`, as postings file names per unit. */
  private def units(idx: OpenIndex): Seq[Seq[String]] =
    scan(idx).units.map(_.postings.map(_.path.getName))

  /** The parquet file names of `slice`'s postings. */
  private def postingsFiles(store: IndexStore, slice: Int): Seq[String] =
    Files.list(Paths.get(store.slicePath("postings", slice))).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted

  /** The resident postings WAND reads on `idx`. */
  private def scan(idx: OpenIndex) = idx.postingsScan(positions = false)

  /** The files each resident partition of `idx` reads when it fills, as
    * (name, start, length).
    */
  private def partitionFiles(idx: OpenIndex): Seq[Seq[(String, Long, Long)]] =
    scan(idx).resident.dependencies.head.rdd.partitions.toSeq
      .map(_.asInstanceOf[FilePartition].files.toSeq.map(f => (f.toPath.getName, f.start, f.length)))

  /** The blocks of `idx`'s resident units, in their partitions. */
  private def residentBlocks(idx: OpenIndex) = scan(idx).resident.flatMap(_.blocks.valuesIterator.flatten)

  /** Input records the tasks of `body` read. */
  private def recordsOf(body: => Any): Long = TestSpark.inputOf(TestSpark.eventsOf(body))._1

  test("split settings do not change the route and stay exact") {
    val (store, docs) = splitStore()
    // a SQL scan under these settings cuts the files apart; the resident
    // units fill from the same files, with the same norms files, as under
    // the default settings
    val s = TestSpark.splittingSession()
    val idx = store.open(s)
    assert(maxPartitionsPerSeg(idx) > 1, "the split scan must spread a segment over partitions")
    def route(i: OpenIndex) = (partitionFiles(i), scan(i).units.map(_.norms.toSeq.map(_.filePath)))
    assert(route(idx) == route(store.open(spark)))
    assert(shuffles(s, idx) == (0, 0))
    assertExact(s, idx, docs)
    store.dropAll()
  }

  test("several row groups per file: the planned scan reads each file whole and stays exact") {
    val (store, docs) = splitStore()
    val s = TestSpark.splittingSession()
    val idx = store.open(s)
    assert(units(idx).forall(_.size == 1), "a fresh build's files must each be a unit")
    assert(partitionFiles(idx) == scan(idx).units.map(_.postings.map(f => (f.path.getName, 0L, f.size))),
      "a unit must fill from its files whole")
    assert(maxPartitionsPerSeg(idx) > 1, "the split scan must spread a segment over partitions")
    assert(maxPartitionsPerSeg(residentBlocks(idx))(_.seg) == 1,
      "the resident units must hold each segment in one partition")
    assert(shuffles(s, idx) == (0, 0))
    assertExact(s, idx, docs)
    val whole = store.open(spark)
    assert(shuffles(spark, whole) == (0, 0))
    assertExact(spark, whole, docs)

    // a one-term query's first run reads each block of the units whose
    // footer term ranges can hold the term once, whatever row group holds
    // it; a warm run reads each unit's resident element and no file
    val fresh = store.open(spark)
    fresh.stats; fresh.termsLocal
    val touched = scan(fresh).partitionsOf(Seq("sea")).map(scan(fresh).units)
    val touchedBlocks = spark.read.parquet(touched.flatMap(_.postings.map(_.path.toString)): _*).count()
    val fill = recordsOf(Wand.topK(spark, fresh, "sea", 10).collect())
    info(s"one-term query filled ${touched.size} units with $fill blocks")
    assert(touched.nonEmpty && fill == touchedBlocks)
    var warm = 0L
    assert(TestSpark.fsBytesReadOf { warm = recordsOf(Wand.topK(spark, fresh, "sea", 10).collect()) } == 0)
    assert(warm == touched.size, "a warm task must read its unit's one resident element")
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
    val segsPerFile = Files.list(dir).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
      .map(f => spark.read.parquet(f).select("seg").distinct().collect().map(_.getInt(0)).toSet)
    assert(segsPerFile.size == 2 && (segsPerFile(0) intersect segsPerFile(1)).nonEmpty,
      s"no segment spans two files: $segsPerFile")

    // one SQL scan partition per file (each file costs a whole partition):
    // a segment spans partitions, so only the files' overlapping `seg`
    // ranges keep the resident units from holding the slice's files apart
    val s = spark.newSession()
    s.conf.set("spark.sql.files.openCostInBytes", s.conf.get("spark.sql.files.maxPartitionBytes"))
    val idx = store.open(s)
    val rest = idx.slices.tail.flatMap(m => postingsFiles(store, m.sliceId))
    assert(units(idx).toSet == (rest.map(Seq(_)) :+ postingsFiles(store, meta.sliceId)).toSet)
    assert(maxPartitionsPerSeg(idx) > 1, "the old layout must spread a segment over partitions")
    assertOnePartition(idx, postingsFiles(store, meta.sliceId))
    assert(shuffles(s, idx) == (0, 0))
    assertExact(s, idx, docs)
    // the merged slice keeps the old slice's files in one unit, and gets a
    // unit per file of the fresh slice: more partitions than two slices
    // that are each one unit
    val mergedId = store.compact().sliceId
    val merged = store.open(spark)
    val old = postingsFiles(store, mergedId).filter(_.startsWith(s"s${meta.sliceId}-"))
    assert(old.size == 2)
    assert(units(merged).toSet ==
      (postingsFiles(store, mergedId).diff(old).map(Seq(_)) :+ old).toSet)
    assert(scan(merged).resident.partitions.length == 1 + rest.size && rest.size > 1)
    assertOnePartition(merged, old)
    assert(shuffles(spark, merged) == (0, 0))
    assertExact(spark, merged, docs)
    store.dropAll()
  }

  test("postings files that share a segment are one scan unit, whatever the manifest says") {
    val ps = pages(3, 600)
    val docs = ps.zipWithIndex.map { case ((_, t), i) => i.toLong -> t }
    val store = new IndexStore(Files.createTempDirectory("graft-overlap-").toString)
    IndexBuilder.build(spark, withIds(spark, ps), store, cfg)
    // rewrite slice 0 so that its first segment's blocks lie in two files,
    // split by term, and each other segment has a file of its own; the
    // manifest stays as the build wrote it
    val meta = store.committedSlices.head
    TestSpark.rewriteTable(store.slicePath("postings", meta.sliceId))(_.repartitionById(
      meta.segHi - meta.segLo + 2,
      when(col("seg") === meta.segLo, when(col("term") < "n", 0).otherwise(1))
        .otherwise(col("seg") - meta.segLo + 1))
      .sortWithinPartitions("term", "seg", "blk"))
    val files = postingsFiles(store, meta.sliceId)
    val segsPerFile = files.map(f => spark.read.parquet(s"${store.slicePath("postings", meta.sliceId)}/$f")
      .select("seg").distinct().collect().map(_.getInt(0)).toSet)
    assert(segsPerFile.take(2) == Seq(Set(meta.segLo), Set(meta.segLo)), segsPerFile)
    assert(segsPerFile.drop(2) == (meta.segLo + 1 to meta.segHi).map(Set(_)), segsPerFile)

    val idx = store.open(spark)
    val rest = idx.slices.tail.flatMap(m => postingsFiles(store, m.sliceId))
    assert(units(idx).toSet == (files.take(2) +: (files.drop(2) ++ rest).map(Seq(_))).toSet)
    assertOnePartition(idx, files.take(2))
    assert(shuffles(spark, idx) == (0, 0))
    assertExact(spark, idx, docs)
    store.dropAll()
  }

  /** The resident units of `idx` fill the postings files named `files` in
    * one partition, and no other file there.
    */
  private def assertOnePartition(idx: OpenIndex, files: Seq[String]): Unit = {
    val parts = partitionFiles(idx).map(_.map(_._1).toSet)
    assert(parts.count(_.exists(files.contains)) == 1 && parts.contains(files.toSet),
      s"$files are not one partition: $parts")
  }

  test("an evicted scan unit is read again in one job, and answers stay exact") {
    val ps = pages(4, 600)
    val docs = ps.zipWithIndex.map { case ((_, t), i) => i.toLong -> t }
    val store = new IndexStore(Files.createTempDirectory("graft-evict-").toString)
    IndexBuilder.build(spark, withIds(spark, ps), store, cfg)
    val idx = store.open(spark)
    val docsDf = spark.createDataFrame(docs).toDF("doc_id", "text")
    for ((name, positions, query, want) <- Seq(
        ("wand", false, () => rows(Wand.topK(spark, idx, "red fox", 10)),
          rows(OracleScorer.topK(spark, docsDf, "red fox", 10))),
        ("phrase", true, () => rows(Phrase.topK(spark, idx, "red fox", 10)), brutePhrase(docs, "red fox", 10)))) {
      assert(query() == want, s"$name fill")
      val resident = idx.postingsScan(positions).resident
      assert(TestSpark.memSizeOf(resident.id) > 0, s"$name left no resident unit")
      org.apache.spark.Evict(spark.sparkContext, resident.id)
      assert(TestSpark.memSizeOf(resident.id) == 0, s"$name units still resident")
      var refill = Seq.empty[org.apache.spark.scheduler.SparkListenerEvent]
      assert(TestSpark.fsBytesReadOf { refill = TestSpark.eventsOf(assert(query() == want, s"$name refill")) } > 0,
        s"$name refill read no file")
      assert(refill.count(_.isInstanceOf[SparkListenerJobStart]) == 1, s"$name refill ran more than one job")
      assert(TestSpark.memSizeOf(resident.id) > 0, s"$name refill was not kept")
      assert(TestSpark.fsBytesReadOf(assert(query() == want, s"$name warm")) == 0, s"$name warm query read a file")
    }
    store.dropAll()
  }

  test("merged slices keep a scan unit per file: the reopened store stays local") {
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
    assert(store.deadSlices.isEmpty)

    val idx = store.open(spark)
    assert(units(idx).forall(_.size == 1), s"a file lost its own unit: ${units(idx)}")
    assert(shuffles(spark, idx) == (0, 0))
    val text = batches.flatten.toMap
    val docs = idx.docs.select("doc_id", "url").collect()
      .map(r => r.getLong(0) -> text(r.getString(1))).toSeq
    assert(docs.size == batches.map(_.size).sum)
    assertExact(spark, idx, docs)
    store.dropAll()
  }
}
