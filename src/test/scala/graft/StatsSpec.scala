package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.index.{IndexBuilder, IndexStats, IndexStore}
import graft.query.Serving

/** Corpus stats come from the norms in every open: no open reads the docs
  * table for them, and every open's stats equal the docs-table reference.
  */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private object Plans extends AdaptiveSparkPlanHelper {
    /** Root paths of every file scan in an executed plan, cached ones too. */
    def scannedRoots(p: SparkPlan): Seq[String] = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      case m: InMemoryTableScanExec => scannedRoots(m.relation.cachedPlan)
    }.flatten
  }

  /** Spark jobs started and file-scan roots of the SQL executions `body`
    * runs.
    */
  private def observe[T](body: => T): (T, Int, Seq[String]) = {
    val jobs = new AtomicInteger()
    val roots = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Plans.scannedRoots(qe.executedPlan).foreach(roots.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      val out = body
      ListenerDrain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, jobs.get(), roots.asScala.toList)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  test("every open derives corpus stats from norms: no docs scan, equal to fromDocs") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vocab = Array("red", "blue", "green", "fox", "dog", "run", "w1", "w2")
    val corpus = (0L until 200L).map { i =>
      (i, (1 to 5 + rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    } :+ ((200L, "")) // an empty document: doclen 0, counted in nDocs
    val df = corpus.toDF("doc_id", "text")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("lang", lit("en"))
    val store = new IndexStore(Files.createTempDirectory("graft-stats-").toString)
    IndexBuilder.build(spark, df, store,
      IndexBuilder.Config(segSize = 32, blockSize = 16, slices = 2, positions = true))
    val budget = 2L << 30
    val expect = {
      val idx = store.open(spark)
      IndexStats.fromDocs(idx.docs, idx.terms.count())
    }
    assert(expect.nDocs == 201 && expect.nTerms == vocab.length)

    def docScans(roots: Seq[String]) = roots.filter(_.contains("/docs/"))
    val (st, statsJobs, statsRoots) = observe(store.open(spark).stats)
    val (flat, openJobs, openRoots) = observe(Serving.open(store.open(spark), budget))
    val (cluster, _, clusterRoots) = observe(Serving.openSharded(store.open(spark), 3, budget))
    info(s"jobs: store.open + stats = $statsJobs, store.open + Serving.open = $openJobs")
    for ((name, roots) <- Seq("store.open.stats" -> statsRoots, "Serving.open" -> openRoots,
        "openSharded" -> clusterRoots)) {
      assert(roots.nonEmpty, s"$name: no scan observed")
      assert(docScans(roots).isEmpty, s"$name scans docs: ${docScans(roots)}")
    }
    assert(st == expect)
    assert(flat.stats == expect)
    assert(cluster.stats == expect)
    store.dropAll()
  }
}
