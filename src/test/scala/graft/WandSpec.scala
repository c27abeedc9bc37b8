package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.index.{IndexBuilder, IndexStore, PostingsScan}
import graft.query.{OracleScorer, TopKHeap, Wand}

/** Rank-identity: block-max WAND over the compressed index must return
  * bit-identical (docId, score) top-k to the brute-force oracle scorer,
  * for every query shape (head-only, rare-only, mixed, single, no-hit).
  */
class WandSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs =
    Corpus.pages(spark, 2000)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")
      .cache()

  private lazy val index = {
    val store = new IndexStore(Files.createTempDirectory("graft-wand-idx-").toString)
    IndexBuilder.build(spark, docs, store,
      IndexBuilder.Config(segSize = 256, blockSize = 32, slices = 2))
    store.open(spark)
  }

  private val queries = Seq(
    "the of and",                    // head terms only (skew path)
    "posting crawl engine",         // mid-frequency terms
    "docmark42",                    // unique marker (rare term)
    "the web docmark77",            // mixed head + rare
    "zzzunknown qqqmissing",        // no hits
    "the",                          // single head term
    "w500 w777 w333",               // tail vocabulary terms
    "The OF The THE and")           // case + duplicate query terms

  test("WAND is rank-identical to the oracle (docIDs and exact scores)") {
    for (q <- queries; k <- Seq(10, 100)) {
      val wand = Wand.topK(spark, index, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val oracle = OracleScorer.topK(spark, docs, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand == oracle, s"query='$q' k=$k\nwand=$wand\noracle=$oracle")
    }
  }

  test("scores are identical across parallelism levels") {
    val q = "the web crawl"
    val a = Wand.topK(spark, index, q, 50).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    val b = Wand.topK(s2, index, q, 50).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("unique marker query returns exactly its document") {
    val hits = Wand.topK(spark, index, "docmark123", 10).collect()
    assert(hits.length == 1 && hits(0).getLong(0) == 123L)
  }

  test("TopKHeap keeps best k by (score desc, docId asc)") {
    val h = new TopKHeap(3)
    Seq((1L, 1.0), (2L, 5.0), (3L, 3.0), (4L, 5.0), (5L, 0.5), (6L, 3.0)).foreach {
      case (d, s) => h.offer(d, s)
    }
    val got = h.result().sortBy(t => (-t._2, t._1)).toSeq
    assert(got == Seq((2L, 5.0), (4L, 5.0), (3L, 3.0)))
  }

  test("heap tie-break: equal scores keep smaller docId") {
    val h = new TopKHeap(2)
    h.offer(10L, 1.0); h.offer(5L, 1.0); h.offer(7L, 1.0); h.offer(1L, 1.0)
    val got = h.result().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1.0), (5L, 1.0)))
  }

  test("rank identity at 20k docs with aggressive block skipping") {
    val bigDocs = Corpus.pages(spark, 20000)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")
      .cache()
    val store = new IndexStore(Files.createTempDirectory("graft-wand-big-").toString)
    // positional build: the fuzz sweep must stay rank-identical with the
    // positional payload threaded through the block builder (additive)
    IndexBuilder.build(spark, bigDocs, store,
      IndexBuilder.Config(segSize = 1024, blockSize = 64, slices = 3, positions = true))
    val idx = store.open(spark)
    // randomized query shapes from the vocabulary (seeded)
    val rnd = new scala.util.Random(13)
    val vocab = Corpus.vocabulary
    val randomQueries = (1 to 6).map { _ =>
      (1 to (1 + rnd.nextInt(4))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    for (q <- randomQueries ++ Seq("the of and to a", "docmark19999"); k <- Seq(10, 100)) {
      val wand = Wand.topK(spark, idx, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val oracle = OracleScorer.topK(spark, bigDocs, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand == oracle, s"query='$q' k=$k")
    }
    bigDocs.unpersist()
  }

  test("serving tier is bit-identical to distributed WAND for every query shape") {
    val serving = graft.query.Serving.open(index, maxBytes = 2L << 30)
    for (q <- queries; k <- Seq(10, 100)) {
      val local = serving.topK(q, k).toSeq
      val dist = Wand.topK(spark, index, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(local == dist, s"query='$q' k=$k\nserving=$local\ndistributed=$dist")
    }
  }

  test("sharded serving cluster is bit-identical to single-node and distributed paths") {
    val full = graft.query.Serving.open(index, maxBytes = 2L << 30, withDocs = true)
    for (nShards <- Seq(1, 3, 5)) {
      val cluster = graft.query.Serving.openSharded(index, nShards,
        maxBytesPerShard = 2L << 30, withDocs = true)
      for (q <- queries; k <- Seq(10, 100)) {
        assert(cluster.topK(q, k).toSeq == full.topK(q, k).toSeq,
          s"nShards=$nShards query='$q' k=$k")
      }
      val q = queries.head
      assert(cluster.topKHits(q, 10).toSeq == full.topKHits(q, 10).toSeq)
    }
    // shards under a tight per-node budget fall back to the bounded cache
    // and still merge bit-identically
    val bounded = graft.query.Serving.openSharded(index, 3,
      maxBytesPerShard = full.loadedBytes / 8)
    assert(bounded.shards.exists(_.bounded))
    for (q <- queries) {
      assert(bounded.topK(q, 10).toSeq == full.topK(q, 10).toSeq, s"query='$q'")
    }
  }

  test("per-shard opens and the partitioned serving export are bit-identical to openSharded") {
    import graft.query.{Serving, ServingLayout}
    val full = Serving.open(index, maxBytes = 2L << 30)
    val nShards = 3

    // exported layout: shard servers read exactly their own directory
    val out = Files.createTempDirectory("graft-serving-export-").toString
    ServingLayout.exportShards(spark, index.store, out, nShards)
    assert(ServingLayout.nShards(out) == nShards)
    // the export wrote one directory per shard — the unit a node deploys
    for (s <- 0 until nShards)
      assert(new java.io.File(s"$out/postings/shard=$s").isDirectory)
    val exported = ServingLayout.openExportedCluster(spark, out, 2L << 30, withDocs = true)
    // each shard materializes ONLY its own blocks (the per-node
    // deployment open) — the 3 shards partition the postings
    val shards = exported.shards
    assert(shards.size == nShards)
    assert(shards.map(_.loadedBytes).sum >= full.loadedBytes * 9 / 10)
    assert(shards.forall(_.loadedBytes < full.loadedBytes),
      "a shard open must not hold the whole index")
    for (q <- queries; k <- Seq(10, 100))
      assert(exported.topK(q, k).toSeq == full.topK(q, k).toSeq, s"export q='$q' k=$k")
    // a per-node open answers its own documents' top-k with the global
    // stats: the per-node hits, merged, are the router's
    val nodes = (0 until nShards).map(s => ServingLayout.openExportedShard(spark, out, s, 2L << 30))
    for (q <- queries; k <- Seq(10, 100)) {
      val merged = nodes.flatMap(_.topK(q, k)).sortBy { case (d, sc) => (-sc, d) }.take(k)
      assert(merged == full.topK(q, k).toSeq, s"per-node q='$q' k=$k")
    }
    // fetch phase from the PER-SHARD doc stores (the deployment form):
    // same hits as the single-node open-with-docs
    val withDocsFull = Serving.open(index, maxBytes = 2L << 30, withDocs = true)
    assert(exported.topKHits(queries.head, 10).toSeq ==
      withDocsFull.topKHits(queries.head, 10).toSeq)
  }

  test("bounded decoded-block cache: over-budget slice serves bit-identically") {
    val full = graft.query.Serving.open(index, maxBytes = 2L << 30)
    assert(!full.shards.head.bounded)
    // budget below the decoded footprint → LRU mode, partial pre-decode;
    // sized to hold only a fraction of the slice so eviction actually runs
    val lru = graft.query.Serving.open(index, maxBytes = full.loadedBytes / 4)
    assert(lru.shards.head.bounded)
    for (q <- queries; k <- Seq(10, 100)) {
      assert(lru.topK(q, k).toSeq == full.topK(q, k).toSeq, s"query='$q' k=$k")
    }
    assert(lru.loadedBytes <= full.loadedBytes / 4,
      s"cache exceeded its budget: ${lru.loadedBytes}")
    // warm-set throughput sanity (interleaved best-of-5 under VM noise):
    // repeated queries hit the cache, so the bounded mode must stay within
    // a small factor of full pre-decode — not fall back to per-query decode
    val warmQ = queries.head
    def best(s: graft.query.ServingCluster): Double =
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < 200) { s.topK(warmQ, 10); i += 1 }
        200.0 / ((System.nanoTime() - t0) / 1e9)
      }.max
    best(full); best(lru) // JIT warm both paths
    val (qpsFull, qpsLru) = (best(full), best(lru))
    info(f"warm qps: full=$qpsFull%.0f lru=$qpsLru%.0f ratio=${qpsLru / qpsFull}%.2f")
    assert(qpsLru >= qpsFull / 4,
      f"bounded cache too slow on the warm set: $qpsLru%.0f vs $qpsFull%.0f")
  }

  test("serving hit materialization equals the distributed relevance join") {
    val serving = graft.query.Serving.open(index, maxBytes = 2L << 30, withDocs = true)
    val q = "the web crawl"
    val local = serving.topKHits(q, 10)
      .map(h => (h.doc_id, h.url, h.lang, h.doclen.toLong, h.score)).toSeq
    val dist = graft.query.Search.relevance(spark, index, q, k = 10)
      .select("doc_id", "url", "lang", "doclen", "score")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getAs[Number](3).longValue(), r.getDouble(4)))
      .toSeq
    assert(local == dist)
  }

  test("concurrent queries: 16 parallel topK calls match their sequential results") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val qs = (0 until 16).map(i => queries(i % queries.size))
      val sequential = qs.map(q => Wand.topK(spark, index, q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      val concurrent = Await.result(
        Future.sequence(qs.map(q => Future(Wand.topK(spark, index, q, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq))),
        Duration.Inf)
      assert(concurrent == sequential)
    } finally pool.shutdown()
  }

  test("fuzz: random index geometries and k values stay rank-identical") {
    val rnd = new scala.util.Random(77)
    val vocab = Corpus.vocabulary
    // odd block sizes + tiny segments stress block-boundary skip logic
    for ((segSize, blockSize, slices) <- Seq((128, 8, 1), (333, 17, 2), (512, 16, 4))) {
      val store = new IndexStore(Files.createTempDirectory("graft-wand-fuzz-").toString)
      IndexBuilder.build(spark, docs, store,
        IndexBuilder.Config(segSize = segSize, blockSize = blockSize, slices = slices))
      val idx = store.open(spark)
      val randomQueries = (1 to 4).map { _ =>
        (1 to (1 + rnd.nextInt(5))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      for (q <- randomQueries; k <- Seq(1, 3, 37)) {
        val wand = Wand.topK(spark, idx, q, k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val oracle = OracleScorer.topK(spark, docs, q, k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(wand == oracle, s"seg=$segSize blk=$blockSize slices=$slices query='$q' k=$k")
      }
      store.dropAll()
    }
  }

  test("more segments than partitions, several row groups per file: no shuffle, exact") {
    val small = TestSpark.smallRowGroupSession(64)
    val store = new IndexStore(Files.createTempDirectory("graft-wand-geom-").toString)
    IndexBuilder.build(small, small.createDataFrame(docs.collect().toSeq.asJava, docs.schema),
      store, IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 2))
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(store.committedSlices.forall(m => m.segHi - m.segLo + 1 > partitions))
    assert(store.committedSlices.flatMap(m => PostingsScan.files(
      spark.sparkContext.hadoopConfiguration, store.slicePath("postings", m.sliceId)))
      .forall(_.rowGroups.size > 1))
    val cases = for (q <- queries; k <- Seq(10, 100)) yield (q, k,
      OracleScorer.topK(spark, docs, q, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    for (s <- Seq(spark, TestSpark.splittingSession())) {
      val idx = store.open(s)
      val units = TestSpark.residentSegs(idx, positions = false)
      assert(units.forall { case (segs, norms) => norms == segs.map(_ -> 1).toMap },
        s"a unit holds other norms than its segments': ${units.toSeq}")
      for ((q, k, oracle) <- cases) {
        val run = () => Wand.topK(s, idx, q, k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(run() == oracle, s"query='$q' k=$k")
        val (jobs, stages) = TestSpark.jobsAndShuffleStagesOf(run())
        assert(jobs <= 1 && stages == 0, s"query='$q' k=$k: $jobs jobs, $stages shuffle stages")
      }
    }
    store.dropAll()
  }
}
