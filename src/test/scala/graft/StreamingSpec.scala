package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamIngest

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("docStream: micro-batch staging ingest with coercion + ledger") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-").toString
    val src = s"$base/src"
    val df1 = Seq((1L, "  alpha  ", 1.5), (2L, "beta", 2.5)).toDF("id", "name", "value")
    df1.write.mode("append").parquet(src)

    val q = StreamIngest.docStream(spark, src, df1.schema,
      s"$base/staging", s"$base/ledger", s"$base/ckpt")
    q.processAllAvailable()
    q.stop()

    val staged = spark.read.parquet(s"$base/staging")
    assert(staged.count() == 2)
    // coercion applied in-stream: trimmed strings, numerics → double
    assert(staged.filter(col("id") === 1.0).head().getAs[String]("name") == "alpha")
    assert(spark.read.parquet(s"$base/ledger").agg(sum("rows")).head().getLong(0) == 2)

    // second micro-batch: new file arrives, checkpoint resumes, no rework
    Seq((3L, "gamma", 3.5)).toDF("id", "name", "value")
      .write.mode("append").parquet(src)
    val q2 = StreamIngest.docStream(spark, src, df1.schema,
      s"$base/staging", s"$base/ledger", s"$base/ckpt")
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(s"$base/staging").count() == 3) // only the new row appended
  }

  test("docStream replay: a re-delivered batch converges, never duplicates") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-replay-").toString
    val df = Seq((1L, "  alpha  ", 1.5), (2L, "beta", 2.5)).toDF("id", "name", "value")
    // foreachBatch is at-least-once: deliver batch 0 twice (crash between
    // sink commit and offset commit), then batch 1 once
    StreamIngest.processDocBatch(spark, df, 0L, s"$base/staging", s"$base/ledger")
    StreamIngest.processDocBatch(spark, df, 0L, s"$base/staging", s"$base/ledger")
    StreamIngest.processDocBatch(spark, Seq((3L, "gamma", 3.5)).toDF("id", "name", "value"),
      1L, s"$base/staging", s"$base/ledger")
    assert(spark.read.parquet(s"$base/staging").count() == 3)
    assert(spark.read.parquet(s"$base/ledger").agg(sum("rows")).head().getLong(0) == 3)
    // coercion still applied through the replayed path
    assert(spark.read.parquet(s"$base/staging")
      .filter(col("id") === 1.0).head().getAs[String]("name") == "alpha")
  }

  test("docStream refuses a pre-existing FLAT staging table instead of poisoning partition discovery") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-flat-").toString
    // a staging table written flat (pre-batch-keyed layout, or any plain
    // append): mixing it with batch=<id> subdirectories would fail every
    // downstream read with conflicting directory structures
    Seq((1L, "old", 1.0)).toDF("id", "name", "value")
      .write.parquet(s"$base/staging")
    val df = Seq((2L, "new", 2.0)).toDF("id", "name", "value")
    val e = intercept[IllegalArgumentException] {
      StreamIngest.processDocBatch(spark, df, 0L, s"$base/staging", s"$base/ledger")
    }
    assert(e.getMessage.contains("batch="))
    // the flat table is untouched — no half-written batch dir beside it
    assert(spark.read.parquet(s"$base/staging").count() == 1)
  }

  test("indexStream: continuous indexing — streamed waves append fresh-segment slices") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{OracleScorer, Wand}
    val base = Files.createTempDirectory("graft-stream-idx-").toString
    val src = s"$base/src"
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16, positions = true)

    val wave1 = Corpus.pages(spark, 300)
    wave1.write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema

    val q1 = StreamIngest.indexStream(spark, src, schema, store, s"$base/ckpt", cfg)
    q1.processAllAvailable(); q1.stop()
    assert(store.open(spark).stats.nDocs == 300)

    // second wave arrives; the restarted query drains only the new files
    // and commits them as an appended slice — earlier slices untouched
    val slicesAfter1 = store.committedSlices.map(_.sliceId).toSet
    val wave2 = Corpus.pages(spark, 600)
      .filter(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") >= 300)
    wave2.write.mode("append").parquet(src)
    val q2 = StreamIngest.indexStream(spark, src, schema, store, s"$base/ckpt", cfg)
    q2.processAllAvailable(); q2.stop()
    val idx = store.open(spark)
    assert(idx.stats.nDocs == 600)
    assert(slicesAfter1.subsetOf(store.committedSlices.map(_.sliceId).toSet))
    assert(store.committedSlices.size > slicesAfter1.size)

    // rank identity vs the oracle over the union with the SAME ids the
    // stream assigned (DocIds.assign is deterministic per batch + base)
    val expected1 = DocIds.assign(wave1.toDF(), "url")
    val expected2 = DocIds.assign(wave2.toDF(), "url")
      .withColumn("doc_id", col("doc_id") + 384) // segHi 2 (299 < 3*128) -> seg 3 * 128
    val union = expected1.select("doc_id", "url", "text", "lang")
      .union(expected2.select("doc_id", "url", "text", "lang"))
    for (q <- Seq("the web crawl", "docmark42 posting", "the of and"); k <- Seq(10, 50)) {
      val wand = Wand.topK(spark, idx, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val oracle = OracleScorer.topK(spark, union, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand == oracle, s"streamed index diverged for '$q' k=$k")
    }
    // a document from each wave resolves by its unique marker through to
    // its stored url (hit materialization over the streamed index)
    for (marker <- Seq(123, 456)) {
      val hits = graft.query.Search.relevance(spark, idx, s"docmark$marker", 5).collect()
      assert(hits.length == 1 && hits(0).getAs[String]("url").endsWith(s"/p/$marker"))
    }
  }

  test("dedupStream: stateful first-seen-wins dedup across micro-batches") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-dd-").toString
    val src = s"$base/src"
    // batch 1: two distinct texts, one in-batch duplicate (id 3 loses to 1)
    Seq((3L, "same text"), (1L, "same text"), (2L, "other text"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)

    def drain(): Unit = {
      val stream = spark.readStream
        .schema(Seq((1L, "x")).toDF("doc_id", "text").schema)
        .parquet(src)
      val q = StreamIngest.dedupStream(stream, "doc_id", "text")
        .writeStream.outputMode("append")
        .format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val out1 = spark.read.parquet(s"$base/out")
      .select("id").as[Long].collect().toSet
    assert(out1 == Set(1L, 2L))

    // batch 2: a cross-batch duplicate is dropped by state; new text passes
    Seq((4L, "same text"), (5L, "fresh text"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    drain()
    val out2 = spark.read.parquet(s"$base/out")
      .select("id").as[Long].collect().toSet
    assert(out2 == Set(1L, 2L, 5L), s"state must drop the cross-batch dup: $out2")
  }

  test("eventCounts: watermarked windowed aggregation over a stream") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-ev-").toString
    val events = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:07:00"), "buy", 5.0))
      .toDF("ts", "event_type", "value")
    events.write.parquet(s"$base/src")

    val stream = spark.readStream.schema(events.schema).parquet(s"$base/src")
    val agg = StreamIngest.eventCounts(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_out")
      .option("checkpointLocation", s"$base/ckpt").start()
    q.processAllAvailable()
    q.stop()

    val out = spark.sql("SELECT event_type, n, total_value FROM ev_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set(("click", 2L, 3.0), ("buy", 1L, 5.0)))
  }

  test("processIndexBatch: replay guard commits atomically with the slice — replay never duplicates") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{OracleScorer, Wand}
    val base = Files.createTempDirectory("graft-stream-replay-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16, positions = true)

    val wave1 = Corpus.pages(spark, 200).toDF()
    assert(StreamIngest.processIndexBatch(spark, wave1, 0L, store, cfg))
    // the guard rides the SLICE MANIFEST itself — committed by the same
    // atomic rename as the slice, so no crash can separate them (the old
    // design wrote it to the settings file in a second rename)
    assert(store.manifestProps.get("stream.lastBatchId").contains("0"))
    assert(!store.settings.contains("stream.lastBatchId"))

    val wave2 = Corpus.pages(spark, 400).toDF()
      .filter(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") >= 200)
    assert(StreamIngest.processIndexBatch(spark, wave2, 1L, store, cfg))
    assert(store.manifestProps.get("stream.lastBatchId").contains("1"))
    val slicesBefore = store.committedSlices
    val ranked = Wand.topK(spark, store.open(spark), "the web crawl", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // checkpoint replay after a crash: at-least-once foreachBatch hands
    // the same batch back — the manifest's guard skips it wholesale
    assert(!StreamIngest.processIndexBatch(spark, wave2, 1L, store, cfg))
    assert(store.committedSlices == slicesBefore, "replay must not append a slice")
    val idx = store.open(spark)
    assert(idx.stats.nDocs == 400, "replay must not duplicate documents")
    val rankedAfter = Wand.topK(spark, idx, "the web crawl", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rankedAfter == ranked)
    // and the replayed ranking still matches the brute-force oracle over
    // the union corpus with the stream-assigned ids
    val docsWithIds = idx.docs.select("doc_id", "url")
      .join(wave1.union(wave2).select("url", "text", "lang"), "url")
      .select("doc_id", "url", "text", "lang")
    val oracle = OracleScorer.topK(spark, docsWithIds, "the web crawl", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rankedAfter == oracle)
  }

  test("merge-policy stress: random wave sizes under aggressive merging stay rank-identical") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{OracleScorer, Wand}
    val base = Files.createTempDirectory("graft-stream-fuzz-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 32, blockSize = 8, positions = true)
    val rnd = new scala.util.Random(7)
    val corpus = Corpus.pages(spark, 600).toDF().cache()
    val urlNum = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")

    // 12 waves of random width, merged aggressively (maxSlices=3) — the
    // policy must keep merging mid-stream without ever disturbing ranks
    var lo = 0L
    var w = 0
    while (lo < 600L && w < 12) {
      val width = 10 + rnd.nextInt(80)
      val hi = math.min(lo + width, 600L)
      val wave = corpus.filter(urlNum >= lo && urlNum < hi)
      assert(StreamIngest.processIndexBatch(spark, wave, w.toLong, store, cfg, maxSlices = 3))
      assert(store.committedSlices.size <= 3)
      lo = hi; w += 1
    }
    val idx = store.open(spark)
    assert(idx.stats.nDocs == lo)
    val docsWithIds = idx.docs.select("doc_id", "url")
      .join(corpus.select("url", "text", "lang"), "url")
      .select("doc_id", "url", "text", "lang").cache()
    for (q <- Seq("the web crawl", "docmark42 posting", "the of and"); k <- Seq(10, 100)) {
      val got = Wand.topK(spark, idx, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val oracle = OracleScorer.topK(spark, docsWithIds, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == oracle, s"stress rank diverged for '$q' k=$k after $w waves")
    }
    // stats over the merged store match a direct computation
    val expectStats = graft.index.IndexStats.fromDocs(
      idx.docs, idx.terms.select("term").distinct().count())
    assert(idx.stats == expectStats)
    docsWithIds.unpersist(); corpus.unpersist()
  }

  test("processIndexBatch: a crashed multi-slice bootstrap RESUMES on replay — never double-indexes") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{OracleScorer, Wand}
    val base = Files.createTempDirectory("graft-stream-pboot-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 4, positions = true)
    val wave = Corpus.pages(spark, 300).toDF()

    // simulate the crash: the exact build processIndexBatch(batchId=0)
    // would run, killed after 2 of 4 slices — the bootstrap marker is in
    // the manifest (earlyProps ride every commit), the replay guard is not
    val withIds = DocIds.assign(wave, keyCol = "url").select("doc_id", "url", "text", "lang")
    intercept[RuntimeException] {
      IndexBuilder.build(spark, withIds, store, cfg, failAfterSlice = 2,
        manifestProps = Map("stream.lastBatchId" -> "0"),
        earlyProps = Map("stream.bootstrapBatchId" -> "0"))
    }
    assert(store.exists, "partial build left committed slices")
    assert(!store.manifestProps.contains("stream.lastBatchId"))
    assert(store.manifestProps.get("stream.bootstrapBatchId").contains("0"))
    val committedBefore = store.committedSlices.map(_.sliceId).toSet

    // checkpoint replay: must RESUME the bootstrap (append would index
    // the whole batch a second time on top of the partial slices)
    assert(StreamIngest.processIndexBatch(spark, wave, 0L, store, cfg))
    val idx = store.open(spark)
    assert(idx.stats.nDocs == 300, s"duplicated docs: ${idx.stats.nDocs}")
    assert(committedBefore.subsetOf(store.committedSlices.map(_.sliceId).toSet))
    assert(store.manifestProps.get("stream.lastBatchId").contains("0"))
    val oracle = OracleScorer.topK(spark, withIds, "the web crawl", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(Wand.topK(spark, idx, "the web crawl", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == oracle)
    // and a second replay is a plain skip
    assert(!StreamIngest.processIndexBatch(spark, wave, 0L, store, cfg))
  }

  test("ServingNode: zero-downtime refresh follows live appends") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{OracleScorer, ServingNode}
    val base = Files.createTempDirectory("graft-servnode-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16, positions = true)
    val wave1 = Corpus.pages(spark, 200).toDF()
    StreamIngest.processIndexBatch(spark, wave1, 0L, store, cfg)

    val node = new ServingNode(spark, store, maxBytes = 2L << 30)
    val before = node.current.topK("the web crawl", 10).toSeq
    assert(before.nonEmpty)
    assert(!node.refresh(), "no change → no reopen")

    // live append lands while the node keeps serving the OLD index
    val wave2 = Corpus.pages(spark, 400).toDF()
      .filter(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") >= 200)
    StreamIngest.processIndexBatch(spark, wave2, 1L, store, cfg)
    assert(node.current.stats.nDocs == 200, "in-flight index is stable until refresh")
    assert(node.current.topK("the web crawl", 10).toSeq == before)

    // refresh swaps in the appended corpus; ranking matches the oracle.
    // INCREMENTAL: only the appended slice loads, and every block of the
    // untouched bootstrap slice keeps its decoded postings (identity
    // reuse) — refresh cost is the delta, not the index
    assert(node.refresh())
    assert(node.lastLoadedSlices == 1, s"loaded ${node.lastLoadedSlices} slices")
    assert(node.lastDroppedSlices == 0)
    assert(node.lastReusedDecodes > 0, "bootstrap slice must not re-decode")
    assert(node.current.stats.nDocs == 400)
    val idx = store.open(spark)
    val docsWithIds = idx.docs.select("doc_id", "url")
      .join(wave1.union(wave2).select("url", "text", "lang"), "url")
      .select("doc_id", "url", "text", "lang")
    val oracle = OracleScorer.topK(spark, docsWithIds, "the web crawl", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(node.current.topK("the web crawl", 10).toSeq == oracle)
    // a withDocs node serves hits whose doc store follows the refresh
    val nodeDocs = new graft.query.ServingNode(spark, store, maxBytes = 2L << 30,
      withDocs = true)
    val expectHits = graft.query.Serving.open(store.open(spark), 2L << 30, withDocs = true)
      .topKHits("the web crawl", 5).toSeq
    assert(nodeDocs.current.topKHits("the web crawl", 5).toSeq == expectHits)

    // queries racing a refresh must see EITHER the old or the new index,
    // never torn state: hammer topK from 4 threads while the main thread
    // swaps twice; every result must equal one of the two oracles
    val old10 = node.current.topK("the web crawl", 10).toSeq
    val new10 = oracle
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          val got = node.current.topK("the web crawl", 10).toSeq
          if (got != old10 && got != new10) bad.incrementAndGet()
        }
      })
    }
    // roll back the node to the pre-append view, then race a re-refresh
    val rewound = new graft.query.ServingNode(spark, store, maxBytes = 2L << 30)
    threads.foreach(_.start())
    Thread.sleep(50)
    node.refresh() // no-op (already current) under load
    Thread.sleep(50)
    stop.set(true); threads.foreach(_.join())
    assert(bad.get() == 0, s"${bad.get()} torn reads under concurrent refresh")
    assert(rewound.current.topK("the web crawl", 10).toSeq == new10)

    // a transient load failure must NOT poison the node. The nastiest
    // shape: the new slice's POSTINGS read succeeds but its NORMS read
    // fails — a half-cached slice would make every later refresh throw.
    // The node must report false, keep serving, and recover cleanly.
    val wave3 = Corpus.pages(spark, 450).toDF()
      .filter(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") >= 400)
    val ids3 = DocIds.assign(wave3, "url")
      .withColumn("doc_id", col("doc_id") + graft.index.IndexBuilder.nextAppendDocId(store))
      .select("doc_id", "url", "text", "lang")
    graft.index.IndexBuilder.append(spark, ids3, store)
    val newSlice = store.committedSlices.map(_.sliceId).max
    val nPath = java.nio.file.Paths.get(store.slicePath("norms", newSlice))
    val hidden = java.nio.file.Paths.get(store.slicePath("norms", newSlice) + ".hidden")
    java.nio.file.Files.move(nPath, hidden)
    assert(!node.refresh(), "mid-load failure must report no refresh")
    assert(node.current.stats.nDocs == 400, "old index must keep serving")
    java.nio.file.Files.move(hidden, nPath)
    assert(node.refresh(), "recovery refresh must succeed (no poisoned cache)")
    assert(node.current.stats.nDocs == 450)

    // a compaction (slice ids change, content identical) also triggers a
    // reopen — the superseded slices drop, the merged one loads — and the
    // refreshed node serves identically
    val before3 = node.current.topK("the web crawl", 10).toSeq
    store.compact()
    assert(node.refresh())
    assert(node.lastLoadedSlices == 1 && node.lastDroppedSlices == 3)
    assert(node.current.topK("the web crawl", 10).toSeq == before3)
  }

  test("ServingNode: through tiered merges, the node's df is the store's term stats") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.ServingNode
    val base = Files.createTempDirectory("graft-node-df-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 16, blockSize = 8)
    val corpus = Corpus.pages(spark, 160).toDF().cache()
    val urlNum = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")
    def wave(w: Int) = corpus.filter(urlNum >= w * 20 && urlNum < (w + 1) * 20)
    StreamIngest.processIndexBatch(spark, wave(0), 0L, store, cfg, maxSlices = 3)
    val node = new ServingNode(spark, store, maxBytes = 2L << 30)
    var merged = 0
    for (w <- 1 until 8) {
      assert(StreamIngest.processIndexBatch(spark, wave(w), w.toLong, store, cfg, maxSlices = 3))
      assert(node.refresh())
      if (node.lastDroppedSlices > 0) merged += 1
      val expected = store.open(spark).terms.collect().map(t => t.term -> t.df).toMap
      for (shard <- node.current.shards) {
        val got = scala.jdk.CollectionConverters.MapHasAsScala(shard.termDf).asScala.toMap
        assert(got == expected, s"node df diverged from the store's term stats after wave $w")
      }
      assert(node.current.stats.nTerms == expected.size)
    }
    assert(merged > 0, "no tiered merge ran")
    corpus.unpersist()
  }

  test("ServingNode: bounded budget serves bit-identically; fits→bounded transition; bounded refresh reuses the shared cache") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{Serving, ServingNode}
    val base = Files.createTempDirectory("graft-servnode-bounded-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16) // positions off → budget = decoded blocks only
    val urlNum = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")
    val corpus = Corpus.pages(spark, 600).toDF().cache()
    def wave(lo: Long, hi: Long) = corpus.filter(urlNum >= lo && urlNum < hi)
    StreamIngest.processIndexBatch(spark, wave(0, 200), 0L, store, cfg)
    def flatTopK(q: String) =
      Serving.open(store.open(spark), maxBytes = 2L << 30).topK(q, 10).toSeq
    val wave1Bytes = Serving.open(store.open(spark), maxBytes = 2L << 30).loadedBytes

    // a budget far below the index → bounded (shared CLOCK cache) from
    // the first open; results stay bit-identical (eviction only moves
    // WHERE the decode happens)
    val tight = new ServingNode(spark, store, maxBytes = 1024L)
    assert(tight.current.shards.forall(_.bounded), "tiny budget must bound")
    assert(tight.current.topK("the web crawl", 10).toSeq == flatTopK("the web crawl"))

    // a budget sized to wave 1 → fits now, bounded after the append
    val mid = new ServingNode(spark, store, maxBytes = wave1Bytes + 64)
    assert(mid.current.shards.forall(!_.bounded), "wave-1 index must fit")
    StreamIngest.processIndexBatch(spark, wave(200, 400), 1L, store, cfg,
      maxSlices = Int.MaxValue)
    assert(mid.refresh())
    assert(mid.current.shards.forall(_.bounded),
      "the appended index exceeds the budget — the node must transition to the shared bounded cache")
    for (q <- Seq("the web crawl", "docmark42 posting"))
      assert(mid.current.topK(q, 10).toSeq == flatTopK(q), s"bounded diverged for '$q'")

    // a further bounded-mode append keeps the SAME shared cache (its
    // budget did not shrink — positions are off), so retained slices'
    // decodes stay hot: carried > 0
    StreamIngest.processIndexBatch(spark, wave(400, 600), 2L, store, cfg,
      maxSlices = Int.MaxValue)
    assert(mid.refresh())
    assert(mid.lastLoadedSlices == 1 && mid.lastReusedDecodes > 0,
      s"bounded refresh must reuse the shared cache (loaded=${mid.lastLoadedSlices}, reused=${mid.lastReusedDecodes})")
    assert(mid.current.topK("the web crawl", 10).toSeq == flatTopK("the web crawl"))
    corpus.unpersist()
  }

  test("ServingNode: an in-place rebuild recommitting the same slice ids reloads — never serves stale content") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{OracleScorer, ServingNode}
    val base = Files.createTempDirectory("graft-servnode-rebuild-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16)
    val all = Corpus.pages(spark, 400).toDF()
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang").cache()
    val corpusA = all.filter(col("doc_id") < 200)
    val corpusB = all.filter(col("doc_id") >= 100) // different content AND size
    IndexBuilder.build(spark, corpusA, store, cfg)
    val node = new ServingNode(spark, store, maxBytes = 2L << 30)
    assert(node.current.stats.nDocs == 200)
    // a fixed-id rebuild (the flow the dead-list revive legitimizes)
    // recommits slice ids 0..n-1 with NEW content — the node's delta
    // detection must key on the slice META, not the id, or it would
    // assemble the new manifest entirely from stale cached payloads and
    // serve the pre-rebuild corpus forever with no error signal
    IndexBuilder.build(spark, corpusB, store, cfg, fresh = true)
    assert(node.refresh(), "changed metas must trigger a reload")
    assert(node.current.stats.nDocs == 300,
      "recommitted ids must reload, not serve stale caches")
    val oracle = OracleScorer.topK(spark, corpusB, "the web crawl", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(node.current.topK("the web crawl", 10).toSeq == oracle)
    all.unpersist()
  }

  test("reader-safe slice GC: pre-merge reader completes bit-identically after a concurrent merge; vacuum honors grace then reclaims") {
    import java.nio.file.Paths
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{Serving, Wand}
    val base = Files.createTempDirectory("graft-gc-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 16, blockSize = 8, positions = true)
    val corpus = Corpus.pages(spark, 400).toDF().cache()
    val urlNum = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")
    for (w <- 0 until 4) {
      val wave = corpus.filter(urlNum >= w * 100 && urlNum < (w + 1) * 100)
      assert(StreamIngest.processIndexBatch(spark, wave, w.toLong, store, cfg,
        maxSlices = Int.MaxValue))
    }
    val preIds = store.committedSlices.map(_.sliceId)
    assert(preIds.size == 4)

    // a distributed-path reader whose snapshot PRECEDES the merge: its lazy
    // Datasets point at the pre-merge slice paths
    val preIdx = store.open(spark)

    // merge lands from another thread (the streaming loop's maybeMerge)
    val t = new Thread(() => { store.compact(); () })
    t.start(); t.join()
    assert(store.committedSlices.size == 1)
    // superseded files are dead-listed in the SAME manifest commit, never
    // deleted under the reader
    assert(store.deadSlices.keySet == preIds.toSet)
    preIds.foreach(id =>
      assert(Files.exists(Paths.get(store.slicePath("postings", id)))))

    // the pre-merge reader's query completes, bit-identical to a fresh
    // post-merge open (merges are pure re-layout)
    def ranked(ix: graft.index.OpenIndex, q: String) =
      Wand.topK(spark, ix, q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fresh = store.open(spark)
    for (q <- Seq("the web crawl", "docmark42 posting"))
      assert(ranked(preIdx, q) == ranked(fresh, q),
        s"pre-merge reader diverged (or died) for '$q'")
    // the serving path over the pre-merge snapshot survives too
    assert(Serving.open(preIdx, maxBytes = 64L << 20).topK("the web crawl", 10).toSeq ==
      Serving.open(fresh, maxBytes = 64L << 20).topK("the web crawl", 10).toSeq)

    // grace window: too-young dead slices are NOT reclaimed
    assert(store.vacuum(minAgeMs = 10 * 60 * 1000L) == ((0, 0L)))
    preIds.foreach(id =>
      assert(Files.exists(Paths.get(store.slicePath("postings", id)))))

    // past the grace window the bytes come back and the dead-list empties
    val (n, bytes) = store.vacuum(minAgeMs = 0L)
    assert(n == preIds.size && bytes > 0L, s"vacuum reclaimed ($n, $bytes)")
    assert(store.deadSlices.isEmpty)
    preIds.foreach { id =>
      Seq("postings", "terms", "norms", "docs").foreach(tb =>
        assert(!Files.exists(Paths.get(store.slicePath(tb, id)))))
    }
    // vacuum is idempotent and the post-merge index is untouched
    assert(store.vacuum(0L) == ((0, 0L)))
    for (q <- Seq("the web crawl", "docmark42 posting"))
      assert(ranked(store.open(spark), q) == ranked(fresh, q))
    corpus.unpersist()
  }

  test("segment lifecycle: 20 micro-batch appends, tiered merges bound slice count, compaction restores the single-build layout") {
    import graft.index.{IndexBuilder, IndexStore}
    import graft.query.{OracleScorer, Serving, Wand}
    val base = Files.createTempDirectory("graft-stream-merge-").toString
    val store = new IndexStore(s"$base/idx")
    val cfg = IndexBuilder.Config(segSize = 16, blockSize = 8, positions = true)
    val corpus = Corpus.pages(spark, 400).toDF().cache()
    val urlNum = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")

    var maxSeen = 0
    for (w <- 0 until 20) {
      val wave = corpus.filter(urlNum >= w * 20 && urlNum < (w + 1) * 20)
      assert(StreamIngest.processIndexBatch(spark, wave, w.toLong, store, cfg, maxSlices = 6))
      maxSeen = math.max(maxSeen, store.committedSlices.size)
    }
    // the policy merged during the stream: slice count stayed bounded even
    // though every batch landed as a fresh slice
    assert(store.committedSlices.size <= 6,
      s"merge policy must bound slices: ${store.committedSlices.size}")
    assert(maxSeen <= 7, s"slice count crossed the bound mid-stream: $maxSeen")

    val idx = store.open(spark)
    assert(idx.stats.nDocs == 400)
    val docsWithIds = idx.docs.select("doc_id", "url")
      .join(corpus.select("url", "text", "lang"), "url")
      .select("doc_id", "url", "text", "lang").cache()

    // single-shot reference build over the SAME docID space
    val refStore = new IndexStore(s"$base/ref")
    IndexBuilder.build(spark, docsWithIds, refStore, cfg)
    val refBlocks = refStore.committedSlices.map(_.blocks).sum

    def ranked(ix: graft.index.OpenIndex, q: String, k: Int) =
      Wand.topK(spark, ix, q, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // merges are pure re-layout: the merged index's blocks match the
    // single build exactly (waves own disjoint segments, blocks are
    // per-(term, seg)) and ranking is bit-identical to the oracle
    assert(store.committedSlices.map(_.blocks).sum == refBlocks)
    for (q <- Seq("the web crawl", "docmark42 posting"); k <- Seq(10, 50)) {
      val oracle = OracleScorer.topK(spark, docsWithIds, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ranked(idx, q, k) == oracle, s"merged-index rank diverged for '$q'")
    }

    // forcemerge to one slice: block count lands exactly on the
    // single-build band, ranking and serving results unchanged
    val servedBefore = Serving.open(store.open(spark), 64L << 20).topK("the web crawl", 10).toSeq
    store.compact()
    assert(store.committedSlices.size == 1)
    assert(store.committedSlices.head.blocks == refBlocks,
      s"compacted blocks ${store.committedSlices.head.blocks} != single-build $refBlocks")
    val idxC = store.open(spark)
    for (q <- Seq("the web crawl", "docmark42 posting")) {
      val oracle = OracleScorer.topK(spark, docsWithIds, q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ranked(idxC, q, 10) == oracle, s"post-compaction rank diverged for '$q'")
    }
    assert(Serving.open(store.open(spark), 64L << 20).topK("the web crawl", 10).toSeq == servedBefore)
    docsWithIds.unpersist(); corpus.unpersist()
  }
}
