package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexStore, OpenIndex}
import graft.query.{OracleScorer, Phrase, Serving, Wand}

/** Spark jobs a warm Spark-path query runs: once an open index holds its
  * stats and term stats, WAND and phrase each answer in one scan of their
  * terms' row groups, scoring each segment in the partition that read it
  * with the norms that partition reads — one result job, no shuffle-map
  * job and no SQL plan over the postings. Filling those counts the term
  * stats once and collects no norms.
  */
class QueryJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def jobsOf(body: => Any): Int =
    TestSpark.eventsOf(body).count(_.isInstanceOf[SparkListenerJobStart])

  /** 300 short seeded documents. */
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Array("red", "blue", "green", "fox", "dog", "run")
    (0L until 300L).map { i =>
      (i, (1 to 10 + rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("lang", lit("en"))
  }

  /** A fresh positional store of `slices` slices over `corpus`, in five
    * segments.
    */
  private def slicedStore(slices: Int = 2): IndexStore = {
    val store = new IndexStore(Files.createTempDirectory("graft-jobs-").toString)
    IndexBuilder.build(spark, corpus, store,
      IndexBuilder.Config(segSize = 64, blockSize = 16, slices = slices, positions = true))
    assert(store.committedSlices.size == slices)
    store
  }

  test("a two-slice build runs a pinned number of jobs, and a merge runs none") {
    val store = new IndexStore(Files.createTempDirectory("graft-jobs-").toString)
    val build = jobsOf(IndexBuilder.build(spark, corpus, store,
      IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 2, positions = true)))
    info(s"two-slice build: $build jobs")
    // measured; no slice re-reads the postings it wrote
    assert(build == 12, s"two-slice build ran $build jobs")
    val merge = jobsOf(store.mergeSlices(store.committedSlices.map(_.sliceId)))
    assert(merge == 0, s"mergeSlices ran $merge jobs")
    store.dropAll()
  }

  test("a warm phrase top-k and a warm WAND top-k run one job each") {
    val store = slicedStore()
    val idx = store.open(spark)
    for ((name, query) <- Seq[(String, () => Any)](
        "phrase" -> (() => Phrase.topK(spark, idx, "blue green", 10).collect()),
        "wand" -> (() => Wand.topK(spark, idx, "fox dog", 10).collect()))) {
      query() // warm: stats and term stats
      val jobs = jobsOf(query())
      info(s"warm $name top-k: $jobs jobs")
      assert(jobs == 1, s"warm $name top-k ran $jobs jobs")
    }
    store.dropAll()
  }

  test("a warm WAND and a warm phrase top-k plan no SQL scan of the postings") {
    val store = slicedStore()
    val idx = store.open(spark)
    for ((name, query) <- Seq[(String, () => Any)](
        "phrase" -> (() => Phrase.topK(spark, idx, "blue green", 10).collect()),
        "wand" -> (() => Wand.topK(spark, idx, "fox dog", 10).collect()))) {
      query()
      val plans = TestSpark.eventsOf(query()).collect {
        case e: SparkListenerSQLExecutionStart => e.physicalPlanDescription
      }
      assert(!plans.exists(_.contains("postings")),
        s"warm $name top-k planned a postings scan:\n${plans.mkString("\n")}")
    }
    store.dropAll()
  }

  test("open, stats and the first WAND top-k count the term stats once") {
    val store = slicedStore()
    val jobs = jobsOf {
      val idx = store.open(spark)
      idx.stats
      Wand.topK(spark, idx, "fox dog", 10).collect()
    }
    info(s"open + stats + first WAND top-k: $jobs jobs")
    // four for the one term count (the aggregate's shuffle and the cache),
    // the stats fold over the norms, the terms collect and the query; the
    // open reads each table with its row type's schema, so it runs no
    // schema-inference job (12 when it ran one per table), and no query
    // collects the norms (8 when one did)
    assert(jobs <= 7, s"open + stats + first WAND top-k ran $jobs jobs")
    store.dropAll()
  }

  test("openShard takes its stats without collecting every segment's norms") {
    val store = slicedStore()
    val idx = store.open(spark)
    val shard = Serving.openShard(idx, 1, 2, 2L << 30)
    Wand.topK(spark, idx, "fox dog", 10).collect()
    assert(shard.stats == idx.stats)
    store.dropAll()
  }

  test("a non-adjacent merged slice answers WAND and phrase exactly") {
    val store = slicedStore(3) // segments [0, 1], [2, 3], [4]
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wand = (i: OpenIndex) => rows(Wand.topK(spark, i, "fox dog", 10))
    val phrase = (i: OpenIndex) => rows(Phrase.topK(spark, i, "blue green", 10))
    val before = store.open(spark)
    val (wand0, phrase0) = (wand(before), phrase(before))
    store.mergeSlices(Seq(0, 2)) // [0, 4] spans the slice left between
    assert(store.committedSlices.map(s => s.segHi - s.segLo + 1).sum == 7)
    val idx = store.open(spark)
    val oracle = rows(OracleScorer.topK(spark, corpus, "fox dog", 10))
    assert(wand0 == oracle && wand(idx) == oracle)
    assert(phrase0.nonEmpty && phrase(idx) == phrase0)
    assert(TestSpark.jobsAndShuffleStagesOf(wand(idx)) == (1, 0))
    assert(TestSpark.jobsAndShuffleStagesOf(phrase(idx)) == (1, 0))
    store.dropAll()
  }
}
