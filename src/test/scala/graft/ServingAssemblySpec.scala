package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexStore}
import graft.query.{OracleScorer, Serving, ServingLayout, ServingNode}

/** Every way of opening a serving index assembles it the same way: one
  * snapshot, one budget policy, one consistency check at open.
  */
class ServingAssemblySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val pages = Corpus.pages(spark, 500)
    .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
    .select("doc_id", "url", "text", "lang")

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("an OpenIndex is a snapshot: stats and serving ignore a later append") {
    val store = new IndexStore(Files.createTempDirectory("graft-snapshot-").toString)
    val first = pages.filter(col("doc_id") < 200).cache()
    IndexBuilder.build(spark, first, store, IndexBuilder.Config(segSize = 128, blockSize = 16))
    val pre = store.open(spark)
    val next = IndexBuilder.nextAppendDocId(store)
    IndexBuilder.append(spark,
      pages.filter(col("doc_id") >= next && col("doc_id") < next + 200), store)
    assert(store.open(spark).stats.nDocs == 400)
    // first use of the snapshot's stats comes AFTER the append
    assert(pre.stats.nDocs == 200)
    val q = "the web crawl"
    assert(Serving.open(pre, maxBytes = 2L << 30).topK(q, 5).toSeq ==
      ranked(OracleScorer.topK(spark, first, q, 5)))
    first.unpersist()
  }

  test("a partial export fails at open, not at the first query") {
    val store = new IndexStore(Files.createTempDirectory("graft-partial-").toString)
    IndexBuilder.build(spark, pages, store, IndexBuilder.Config(segSize = 32, blockSize = 16))
    val out = Files.createTempDirectory("graft-partial-export-").toString
    ServingLayout.exportShards(spark, store, out, 3)
    val norms0 = new java.io.File(s"$out/norms/shard=0")
    assert(norms0.isDirectory && new java.io.File(s"$out/postings/shard=0").isDirectory)
    org.apache.commons.io.FileUtils.deleteDirectory(norms0)
    for (open <- Seq[() => Any](
        () => ServingLayout.openExportedCluster(spark, out, 2L << 30),
        () => ServingLayout.openExportedShard(spark, out, 0, 2L << 30))) {
      val e = intercept[IllegalArgumentException](open())
      assert(e.getMessage.contains("has postings but no norms"), e.getMessage)
    }
    // the shards that are whole still open
    assert(ServingLayout.openExportedShard(spark, out, 1, 2L << 30).topK("the web crawl", 5).nonEmpty)
  }

  test("one budget policy: flat, sharded, exported and node opens report alike") {
    val store = new IndexStore(Files.createTempDirectory("graft-budget-").toString)
    IndexBuilder.build(spark, pages, store,
      IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 2, positions = true))
    assert(store.committedSlices.size == 2)
    val idx = store.open(spark)
    val out = Files.createTempDirectory("graft-budget-export-").toString
    ServingLayout.exportShards(spark, store, out, 3)

    val roomy = Serving.open(idx, maxBytes = 2L << 30).shards.head.openReport
    assert(!roomy.bounded && roomy.retainedPositionBytes > 0)
    val noHeadroom = roomy.estDecodedBytes + roomy.retainedPositionBytes
    for (b <- Seq(2L << 30, noHeadroom, 1024L)) {
      val flat = Serving.open(idx, maxBytes = b)
      val node = new ServingNode(spark, store, maxBytes = b).current
      assert(node.shards.size == 2)
      node.shards.foreach { s =>
        assert(s.openReport == flat.shards.head.openReport, s"budget $b")
        assert(s.bounded == flat.shards.head.bounded, s"budget $b")
      }
      assert(node.loadedBytes == flat.loadedBytes, s"budget $b")

      val sharded = Serving.openSharded(idx, 3, b).shards
      val exported = ServingLayout.openExportedCluster(spark, out, b).shards
      for (s <- 0 until 3) {
        assert(sharded(s).openReport == exported(s).openReport, s"budget $b shard $s")
        assert(sharded(s).bounded == exported(s).bounded, s"budget $b shard $s")
        assert(sharded(s).loadedBytes == exported(s).loadedBytes, s"budget $b shard $s")
      }
    }
    assert(Serving.open(idx, maxBytes = noHeadroom).shards.head.openReport.cacheBudgetBytes ==
      roomy.estDecodedBytes)
    assert(Serving.open(idx, maxBytes = 1024L).shards.head.bounded)
  }
}
