package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexStore}
import graft.query.{Phrase, Serving, Wand}

/** Spark jobs a warm Spark-path query runs: once an open index holds its
  * stats, term stats and norms, WAND and phrase each answer in one scan of
  * their terms' row groups, scoring each segment in the partition that
  * read it — one result job, no shuffle-map job and no SQL plan over the
  * postings. Filling those counts the term stats once, and an open that
  * wants only the stats collects no norms.
  */
class QueryJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def jobsOf(body: => Any): Int =
    TestSpark.eventsOf(body).count(_.isInstanceOf[SparkListenerJobStart])

  /** A fresh positional store of `slices` slices over 300 short documents
    * in five segments.
    */
  private def slicedStore(slices: Int = 2): IndexStore = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vocab = Array("red", "blue", "green", "fox", "dog", "run")
    val df = (0L until 300L).map { i =>
      (i, (1 to 10 + rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("lang", lit("en"))
    val store = new IndexStore(Files.createTempDirectory("graft-jobs-").toString)
    IndexBuilder.build(spark, df, store,
      IndexBuilder.Config(segSize = 64, blockSize = 16, slices = slices, positions = true))
    assert(store.committedSlices.size == slices)
    store
  }

  test("a warm phrase top-k and a warm WAND top-k run one job each") {
    val store = slicedStore()
    val idx = store.open(spark)
    for ((name, query) <- Seq[(String, () => Any)](
        "phrase" -> (() => Phrase.topK(spark, idx, "blue green", 10).collect()),
        "wand" -> (() => Wand.topK(spark, idx, "fox dog", 10).collect()))) {
      query() // warm: stats, term stats and the norms broadcast
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
    // the stats fold over the norms, the terms collect, the norms collect
    // and the query; the open reads each table with its row type's schema,
    // so it runs no schema-inference job (12 when it ran one per table)
    assert(jobs <= 8, s"open + stats + first WAND top-k ran $jobs jobs")
    store.dropAll()
  }

  test("openShard takes its stats without collecting every segment's norms") {
    val store = slicedStore()
    val idx = store.open(spark)
    val shard = Serving.openShard(idx, 1, 2, 2L << 30)
    assert(!idx.normsCollected, "openShard collected the whole norms table to the driver")
    Wand.topK(spark, idx, "fox dog", 10).collect()
    assert(idx.normsCollected && shard.stats == idx.stats)
    store.dropAll()
  }

  test("the norms broadcast bound counts a merged slice's segments once") {
    val store = slicedStore(3) // segments [0, 1], [2, 3], [4]
    store.mergeSlices(spark, Seq(0, 2)) // [0, 4] spans the slice left between
    assert(store.committedSlices.map(s => s.segHi - s.segLo + 1).sum == 7)
    val five = spark.newSession()
    five.conf.set("graft.query.broadcastNormsMaxSegs", "5")
    val idx = store.open(five)
    assert(idx.normsBroadcast.map(_.value.size).contains(5))
    store.dropAll()
  }
}
