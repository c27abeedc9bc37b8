package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexStore}
import graft.query.{Phrase, Wand}

/** Spark jobs a warm Spark-path query runs: once an open index holds its
  * stats, term stats and norms, WAND and phrase each answer in one scan of
  * their terms' blocks, scoring each segment in the partition that read it
  * — one result job and no shuffle-map job.
  */
class QueryJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def jobsOf(body: => Any): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerDrain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warm phrase top-k and a warm WAND top-k run one job each") {
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
      IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 2, positions = true))
    assert(store.committedSlices.size == 2)
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
}
