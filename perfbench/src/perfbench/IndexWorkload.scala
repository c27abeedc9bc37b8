package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.index.{IndexBuilder, IndexStore, OpenIndex}
import graft.query.{OracleScorer, Phrase, Serving, ServingCluster, ServingNode, Wand}
import graft.streaming.StreamIngest

/** `index`: one seeded corpus through every index-side layer, in order:
  *  1. build: DocIds.assign -> IndexBuilder.build (positional, 2 slices) ->
  *     IndexStore.open;
  *  2. Spark-path top-k (Wand / Phrase) in a closed loop with one client;
  *  3. Serving.openSharded (4 shards, budgets that fit), a closed loop with
  *     nproc clients, then an open loop at the fixed rate; a second window
  *     of step 2;
  *  4. live: a ServingNode bounded below its decoded size follows
  *     open-loop micro-batches (processIndexBatch, vacuum, refresh) while an
  *     open-loop sender queries it; a third window of step 2, on the store
  *     reopened with the batches;
  *  5. rebuild: the same pages built again, into a store of their own.
  * End to end: docs/s over the two builds and the median Spark-path top-k
  * latency over the three windows; both spread their measurement over the
  * whole pass, so a slower minute of a shared host weighs less.
  */
final class IndexWorkload(c0: Ctx) extends Workload(c0) {
  import Sizes._

  private val pages = c.dir("pages")
  private val store = new IndexStore(c.dir("index"))
  private val rebuildStore = new IndexStore(c.dir("rebuild"))
  private val qs = c.gen.queries(20000, 0L, IndexDocs)
  private var idx: OpenIndex = _
  private var lastReport: IndexBuilder.BuildReport = _
  private var builtBytes = 0L
  private var indexChecked = false
  private var cluster: ServingCluster = _
  private var node: ServingNode = _

  // samples of the latest pass
  private val sparkMs = mutable.ArrayBuffer.empty[Double]
  private val phraseMs = mutable.ArrayBuffer.empty[Double]
  private val perClass = Gen.Classes.map(_ -> new java.util.concurrent.ConcurrentLinkedQueue[Double]()).toMap
  private val allocBytes = new java.util.concurrent.atomic.AtomicLong
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private var servedTraced = 0L
  private var serveGcMs = 0L
  private var serveOpen: OpenResult = _
  private var liveOpen: OpenResult = _
  private var batches = 0L // over the whole run: stream ids stay unique
  private var passBatches = 0L
  private val fresh = mutable.ArrayBuffer.empty[Double]
  private val deltaKb = mutable.ArrayBuffer.empty[Double]
  private val inRefresh = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val refreshing = new Loops.Window
  private var refreshErrors = 0L
  private var unboundedTicks = 0L
  private var merges = 0L
  private var slicesMax = 0
  private var vacuumBytes = 0L

  def setup(tr: Tracer): Unit = {
    val ss = spark; import ss.implicits._
    val g = c.gen
    spark.range(0L, IndexDocs, 1L, c.nproc * 2)
      .mapPartitions(it => it.map(i => g.page(0L, i)))
      .write.mode("overwrite").parquet(pages)
  }

  private def withIds(pages: DataFrame): DataFrame =
    graft.DocIds.assign(pages.select("url", "text", "lang"), keyCol = "url")
      .select("doc_id", "url", "text", "lang")

  private def hits(rows: Array[org.apache.spark.sql.Row]): Checks.Hits =
    rows.toSeq.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))

  def measure(tr: Tracer, seconds: Double): (Double, Double) = {
    c.mark("measure")
    val buildS = buildPhase(tr)
    c.mark("build")
    sparkMs.clear(); phraseMs.clear(); sparkRef.clear(); sparkK = 0L
    sparkWindow(tr, 0.25 * seconds)
    c.mark("spark_queries")
    servePhase(tr, 0.15 * seconds, 0.2 * seconds)
    c.mark("serve")
    if (!indexChecked) { checkIndex(); indexChecked = true; c.mark("index_checks") }
    sparkWindow(tr, 0.25 * seconds)
    c.mark("spark_queries")
    livePhase(tr)
    c.mark("live")
    // the batches were merged and vacuumed under the index built above
    idx.norms.unpersist(); idx.terms.unpersist()
    idx = store.open(spark)
    sparkWindow(tr, 0.25 * seconds)
    c.mark("spark_queries")
    val rebuildS = rebuildPhase(tr)
    c.mark("rebuild")
    (2 * IndexDocs / (buildS + rebuildS), sparkP50())
  }

  /** Returns the build's wall in seconds. */
  private def buildPhase(tr: Tracer): Double = {
    if (idx != null) { idx.norms.unpersist(); idx.terms.unpersist() }
    val (rep, s) = Timed(tr.span("index.build") {
      IndexBuilder.build(spark, withIds(spark.read.parquet(pages)), store, IndexCfg)
    })
    c.op(rep.docs == IndexDocs)
    lastReport = rep
    idx = tr.span("index.store.open") { val i = store.open(spark); i.stats; i }
    c.put("build_docs_per_s", rep.docs / s, "docs/s")
    builtBytes = store.committedSlices.map(_.bytes).sum
    c.put("index_bytes_per_doc", builtBytes.toDouble / IndexDocs, "B")
    s
  }

  /** Builds the pages again into a store the later phases do not use;
    * returns the wall in seconds.
    */
  private def rebuildPhase(tr: Tracer): Double = {
    val (rep, s) = Timed(tr.span("index.build") {
      IndexBuilder.build(spark, withIds(spark.read.parquet(pages)), rebuildStore, IndexCfg)
    })
    c.op(rep.docs == IndexDocs)
    c.put("rebuild_docs_per_s", rep.docs / s, "docs/s")
    s
  }

  /** Spark-path answers of the first query of each class, for the check of
    * the serving cluster.
    */
  private val sparkRef = mutable.LinkedHashMap.empty[String, (Query, Checks.Hits)]

  private def sparkQuery(tr: Tracer, q: Query, req: Long): Boolean = {
    val got = hits(
      if (q.cls == "phrase") tr.span("query.phrase", req)(Phrase.topK(spark, idx, q.text, K).collect())
      else tr.span("query.wand", req)(Wand.topK(spark, idx, q.text, K).collect()))
    if (!sparkRef.contains(q.cls)) sparkRef(q.cls) = (q, got)
    q.cls == "phrase" || Serve.ok(q, got.size)
  }

  private lazy val byClass = Gen.Classes.map(cl => qs.filter(_.cls == cl))
  /** Spark-path queries sent in this pass; classes in turn, so every class
    * is measured and checked.
    */
  private var sparkK = 0L

  private def sparkPick(k: Long): Query = {
    val l = byClass((k % byClass.size).toInt); l(((k / byClass.size) % l.size).toInt)
  }

  /** One window of Spark-path top-k in a closed loop with one client,
    * continuing the query sequence of the pass. The window's first query is
    * untimed: it fills the index's lazy term and norm broadcasts.
    */
  private def sparkWindow(tr: Tracer, seconds: Double): Unit = {
    c.op(sparkQuery(tr, sparkPick(sparkK), sparkK)); sparkK += 1
    Loops.closed(1, seconds) { (_, _) =>
      val k = sparkK; sparkK += 1
      val q = sparkPick(k)
      val (ok, s) = Timed(c.op(sparkQuery(tr, q, k)))
      (if (q.cls == "phrase") phraseMs else sparkMs) += s * 1e3
      ok
    }
  }

  /** Returns the median Spark-path top-k latency in ms over the pass. */
  private def sparkP50(): Double = {
    val all = (sparkMs ++ phraseMs).toSeq
    c.put("spark_topk_p50_ms", Pct.median(all), "ms")
    Pct(all, 0.95).foreach(c.put("spark_topk_p95_ms", _, "ms"))
    c.put("spark_topk_samples", all.size, "count")
    Pct.median(all)
  }

  private def serveQuery(tr: Tracer, q: Query, req: Long): Boolean = {
    if (!tr.on) return Serve.ok(q, Serve.run(cluster, q, hitsOut = true))
    val a0 = tr.allocated()
    val t0 = System.nanoTime()
    val n = Serve.run(cluster, q, hitsOut = true)
    val t1 = System.nanoTime()
    tr.record(s"query.cluster.${q.cls}", t0, t1, req)
    perClass(q.cls).add((t1 - t0) / 1e3)
    allocBytes.addAndGet(tr.allocated() - a0)
    hitCount.addAndGet(n)
    Serve.ok(q, n)
  }

  private def servePhase(tr: Tracer, closedS: Double, openS: Double): Unit = {
    cluster = null
    val (_, openWall) = Timed {
      cluster = tr.span("query.cluster.open")(Serving.openSharded(idx, ServeShards,
        Serve.fittingBudget(store, ServeShards), withDocs = true))
    }
    c.put("serve_open_s", openWall, "s")
    c.put("serve_mb", mb(cluster.loadedBytes), "MiB")
    c.check("serve.shards_unbounded", Checks.zero("bounded shards", cluster.shards.count(_.bounded).toLong))
    // one warm-up thread leaves the JIT cores free to compile the query
    // path; warming with nproc threads starved it and left the measured
    // loop several times slower
    (0 until 5000).foreach(i => Serve.run(cluster, qs(i % qs.size), hitsOut = true))

    perClass.values.foreach(_.clear()); allocBytes.set(0); hitCount.set(0)
    val gc0 = Jvm.gcMs()
    val closed = Loops.closed(c.nproc, closedS) { (cl, k) =>
      val i = k * c.nproc + cl
      c.op(serveQuery(tr, qs((i % qs.size).toInt), i))
    }
    c.put("serve_qps", closed.perSecond, "q/s")
    // nproc - 1 workers plus the generator thread: at most nproc load threads
    serveOpen = Loops.open(ServeRate, openS, math.max(1, c.nproc - 1)) { i =>
      c.op(serveQuery(tr, qs((i % qs.size).toInt), 1000000L + i))
    }
    c.failed.addAndGet(serveOpen.unfinished); c.attempted.addAndGet(serveOpen.unfinished)
    servedTraced = closed.done + serveOpen.samples.size
    serveGcMs = Jvm.gcMs() - gc0
    val p50 = Pct.median(serveOpen.latenciesMs)
    c.put("serve_p50_ms", p50, "ms")
    Pct(serveOpen.latenciesMs, 0.99).foreach(c.put("serve_p99_ms", _, "ms"))
    c.put("serve_open_loop_samples", serveOpen.samples.size, "count")
  }

  private def batchFrame(b: Long): DataFrame = {
    val ss = spark; import ss.implicits._
    (0 until LiveBatchDocs).map(j => c.gen.page(100L + b, j)).toDF().select("url", "text", "lang")
  }

  private def livePhase(tr: Tracer): Unit = {
    Seq(fresh, deltaKb).foreach(_.clear()); inRefresh.clear()
    merges = 0; slicesMax = 0; vacuumBytes = 0L; passBatches = 0
    val decoded = store.committedSlices.map(m => m.postings * 16 + m.blocks * 64).sum
    node = tr.span("query.node.open")(new ServingNode(spark, store, (decoded * LiveBudgetShare).toLong))
    val seconds = LiveBatches * LiveIntervalS
    val res = new java.util.concurrent.atomic.AtomicReference[OpenResult]()
    val sender = new Thread(() => res.set(Loops.open(LiveQueryRate, seconds, 2) { i =>
      val q = qs((i % qs.size).toInt)
      val during = refreshing.isOn
      val t0 = System.nanoTime()
      val ok = c.op(Serve.ok(q, Serve.run(node.current, q, hitsOut = false)))
      if (during && tr.on) inRefresh.add((System.nanoTime() - t0) / 1e6)
      ok
    }), "perfbench-live-queries")
    sender.start()
    Loops.schedule(LiveIntervalS, seconds) { (_, due) =>
      val b = batches
      val df = batchFrame(b)
      val before = store.committedSlices.map(_.sliceId).toSet
      c.op(tr.span("streaming.batch", b) {
        StreamIngest.processIndexBatch(spark, df, b, store, IndexCfg,
          maxSlices = LiveMaxSlices, vacuumGraceMs = Long.MaxValue)
      })
      vacuumBytes += tr.span("index.vacuum")(store.vacuum(0L))._2
      refreshing.on(tr.span("query.node.refresh")(node.refresh()))
      fresh += (System.nanoTime() - due) / 1e9
      val after = store.committedSlices
      val added = after.filterNot(m => before(m.sliceId))
      if (after.size < before.size + 1) merges += 1 // the tiered merge ran
      slicesMax = math.max(slicesMax, after.size)
      deltaKb += added.map(_.bytes).sum / 1024.0
      if (node.lastRefreshError.nonEmpty) refreshErrors += 1
      val cur = node.current
      if (!cur.shards.forall(_.bounded)) unboundedTicks += 1
      c.check(s"live.batch_$b.markers_searchable", Checks.markersFound((0 until LiveBatchDocs).map { j =>
        val m = c.gen.marker(100L + b, j)
        m -> cur.topK(m, K).length
      }))
      batches += 1; passBatches += 1
    }
    sender.join()
    liveOpen = res.get
    c.failed.addAndGet(liveOpen.unfinished); c.attempted.addAndGet(liveOpen.unfinished)
    c.put("live_fresh_p50_s", Pct.median(fresh.toSeq), "s")
    Pct(fresh.toSeq, 0.9).foreach(c.put("live_fresh_p90_s", _, "s"))
    c.put("live_query_p50_ms", Pct.median(liveOpen.latenciesMs), "ms")
    Pct(liveOpen.latenciesMs, 0.99).foreach(c.put("live_query_p99_ms", _, "ms"))
  }

  def layers(tr: Tracer): Map[String, Double] = {
    tr.drain()
    def each(name: String, scale: Double) =
      tr.spanList.filter(_.name == name).map(s => (s.endNs - s.startNs) / scale)
    val nq = tr.count("query.wand").toDouble
    val w = tr.group("query.wand")
    val nb = tr.count("streaming.batch").toDouble
    val sb = tr.group("streaming.batch")
    val refreshMs = each("query.node.refresh", 1e6)
    val cls = Gen.Classes.flatMap { k =>
      val xs = perClass(k).asScala.toSeq
      Seq(s"query.cluster.$k.p50_us" -> Pct.median(xs), s"query.cluster.$k.p99_us" -> Pct(xs, 0.99).getOrElse(0.0))
    }
    val nb0 = tr.count("index.build").toDouble
    val g = tr.group("index.build")
    cls.toMap ++ Map(
      "index.build.s" -> per(tr.seconds("index.build"), nb0),
      "index.build.jobs" -> per(g.jobs.get, nb0),
      "index.build.task_cpu_s" -> per(g.cpuNs.get / 1e9, nb0),
      "index.build.gc_s" -> per(g.gcMs.get / 1e3, nb0),
      "index.build.shuffle_write_mb" -> per(mb(g.shuffleWriteBytes.get), nb0),
      "index.build.shuffle_records" -> per(g.shuffleWriteRecords.get, nb0),
      "index.build.fetch_wait_s" -> per(g.fetchWaitMs.get / 1e3, nb0),
      "index.build.spill_mb" -> per(mb(g.spillBytes.get), nb0),
      "index.build.failed_tasks" -> g.failedTasks.get.toDouble,
      "index.build.postings" -> lastReport.postings.toDouble,
      "index.store.bytes" -> mb(builtBytes),
      "index.store.open_s" -> per(tr.seconds("index.store.open"), tr.count("index.store.open")),
      "index.bytes_per_doc" -> builtBytes.toDouble / IndexDocs,
      "query.wand.jobs_per_query" -> per(w.jobs.get, nq),
      "query.wand.tasks_per_query" -> per(w.tasks.get, nq),
      "query.wand.task_cpu_ms_per_query" -> per(w.cpuNs.get / 1e6, nq),
      "query.wand.driver_ms_per_query" -> math.max(0.0, per(tr.seconds("query.wand") * 1e3 - w.runNs.get / 1e6, nq)),
      "query.wand.shuffle_kb_per_query" -> per(w.shuffleWriteBytes.get / 1024.0, nq),
      "query.phrase.p50_ms" -> Pct.median(phraseMs.toSeq),
      "query.cluster.alloc_kb_per_query" -> per(allocBytes.get / 1024.0, servedTraced),
      "query.cluster.hits_per_query" -> per(hitCount.get, servedTraced),
      "jvm.gc_ms_per_kquery" -> per(serveGcMs, servedTraced / 1000.0),
      "serve.open_s" -> tr.seconds("query.cluster.open"),
      "serve.loaded_mb" -> mb(cluster.loadedBytes),
      "serve.p99_ms" -> Pct(serveOpen.latenciesMs, 0.99).getOrElse(0.0),
      "serve.queue_wait.p99_ms" -> Pct(serveOpen.samples.map(_.queueWaitMs), 0.99).getOrElse(0.0),
      "serve.generator_late.max_ms" -> serveOpen.lateMaxMs,
      "serve.sent" -> serveOpen.sent.toDouble,
      "serve.failed" -> serveOpen.failed.toDouble,
      "streaming.batch.p50_s" -> Pct.median(each("streaming.batch", 1e9)),
      "streaming.batch.jobs" -> per(sb.jobs.get, nb),
      "streaming.batch.task_cpu_s" -> per(sb.cpuNs.get / 1e9, nb),
      "streaming.batch.shuffle_write_mb" -> per(mb(sb.shuffleWriteBytes.get), nb),
      "index.merge.count" -> merges.toDouble,
      "index.store.slices_max" -> slicesMax.toDouble,
      "index.vacuum.mb" -> mb(vacuumBytes),
      "index.vacuum.s" -> tr.seconds("index.vacuum"),
      "query.node.refresh.p50_ms" -> Pct.median(refreshMs),
      "query.node.refresh.max_ms" -> (if (refreshMs.isEmpty) 0.0 else refreshMs.max),
      "query.node.refresh_errors" -> refreshErrors.toDouble,
      "query.node.delta_kb.p50" -> Pct.median(deltaKb.toSeq),
      "query.node.loaded_mb" -> mb(node.current.loadedBytes),
      "live.fresh.p50_s" -> Pct.median(fresh.toSeq),
      "live.fresh.max_s" -> (if (fresh.isEmpty) 0.0 else fresh.max),
      "live.query.p90_ms" -> Pct(liveOpen.latenciesMs, 0.9).getOrElse(0.0),
      "live.query_in_refresh.p50_ms" -> Pct.median(inRefresh.asScala.toSeq),
      "live.queue_wait.p90_ms" -> Pct(liveOpen.samples.map(_.queueWaitMs), 0.9).getOrElse(0.0),
      "live.generator_late.max_ms" -> liveOpen.lateMaxMs,
      "live.sent" -> liveOpen.sent.toDouble,
      "live.failed" -> liveOpen.failed.toDouble)
  }

  /** Checks of the built index, run once after the first serve phase and
    * before the live phase appends to the store.
    */
  private def checkIndex(): Unit = {
    c.check("build.docs", Checks.equal("BuildReport.docs", IndexDocs.toLong, lastReport.docs))
    val q = c.gen.queries(400, 0L, IndexDocs, salt = 7L).find(_.cls == "term_head").get
    val want = hits(OracleScorer.topK(spark, withIds(spark.read.parquet(pages)), q.text, K).collect())
    c.check("build.wand_equals_oracle[term_head]",
      Checks.topKEqual(want, hits(Wand.topK(spark, idx, q.text, K).collect())))
    sparkRef.values.foreach { case (q, ref) =>
      val got = if (q.cls == "phrase") cluster.phraseTopK(q.text, K).toSeq
        else cluster.topKHits(q.text, K).toSeq.map(h => (h.doc_id, h.score))
      c.check(s"serve.cluster_equals_spark_path[${q.cls}]", Checks.topKEqual(ref, got))
    }
  }

  def check(): Unit = {
    c.check("live.ndocs", Checks.equal("node nDocs", IndexDocs + passBatches * LiveBatchDocs,
      node.current.stats.nDocs))
    c.check("live.refresh_errors", Checks.zero("failed refreshes", refreshErrors))
    c.check("live.bounded", Checks.zero("ticks served unbounded", unboundedTicks))
  }
}
