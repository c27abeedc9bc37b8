package graft.query

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.index._

/** Serving snapshot export, partitioned by shard — the on-disk layout a
  * document-sharded serving cluster deploys from. `IndexStore`'s slice
  * layout is the BUILD layout (docID-range slices, resumable commits);
  * a serving node wants the opposite projection: everything ITS shard
  * serves (`seg mod nShards`) under one prefix, so the node reads exactly
  * its own directory at open — no scan-and-filter over the whole index,
  * no router-side collect. This is how the reference's OpenSearch lays
  * out shard directories, re-expressed as a partitioned parquet write.
  *
  * Layout:
  * {{{
  *   <out>/postings/shard=<s>/   (this shard's posting blocks)
  *   <out>/norms/shard=<s>/      (this shard's segment norms)
  *   <out>/terms/                (GLOBAL df/cf from the postings — BM25 idf
  *                                needs corpus-wide stats)
  *   <out>/stats.json            (global N/avgdl + shard count)
  * }}}
  */
object ServingLayout {

  /** One partitioned write per table — the shard dimension is a column,
    * so the export is a single shuffle-free pass over the postings (the
    * partitioned write splits files by the shard value within each task).
    */
  def exportShards(spark: SparkSession, store: IndexStore, outDir: String, nShards: Int): Unit = {
    require(nShards >= 1, "need at least one shard")
    // ONE manifest snapshot drives every read — a live append committing
    // mid-export must not mix old postings with new stats.json counts
    // (openExportedShard would then score with mismatched corpus stats)
    val slices = store.committedSlices
    require(slices.nonEmpty, s"nothing committed at ${store.root}")
    def read[T <: Product : TypeTag](table: String) = store.readTable[T](spark, table, slices)
    val shardCol = pmod(col("seg"), lit(nShards)).as("shard")
    val postings = read[PostingBlock]("postings")
    postings.withColumn("shard", shardCol)
      .write.partitionBy("shard").mode("overwrite").parquet(s"$outDir/postings")
    val norms = read[SegNorms]("norms")
    norms.withColumn("shard", shardCol)
      .write.partitionBy("shard").mode("overwrite").parquet(s"$outDir/norms")
    // global term stats (small — one row per distinct term), counted as
    // they are written
    val tObs = Observation()
    TermStat.of(postings).observe(tObs, count(lit(1)).as("terms"))
      .write.mode("overwrite").parquet(s"$outDir/terms")
    // fetch-phase doc store, sharded WITH the postings that score it:
    // a document's _source lives on the shard that owns its segment
    val segSize = store.settings.getOrElse("build.segSize",
      throw new IllegalStateException(s"no build.segSize recorded at ${store.root}")).toLong
    read[DocMeta]("docs")
      .withColumn("shard", pmod(expr(s"doc_id DIV ${segSize}L").cast("int"), lit(nShards)))
      .write.partitionBy("shard").mode("overwrite").parquet(s"$outDir/docs")
    val st = IndexStats.fromNorms(norms, tObs.get("terms").asInstanceOf[Long])
    // through the Hadoop FS layer, like the parquet it sits beside — the
    // export must work wherever the data tables live
    graft.ingest.Fs.writeString(s"$outDir/stats.json",
      s"""{"nDocs":${st.nDocs},"avgdl":${st.avgdl},"nTerms":${st.nTerms},""" +
        s""""totalTokens":${st.totalTokens},"nShards":$nShards,"segSize":$segSize}""")
  }

  def nShards(outDir: String): Int =
    """"nShards"\s*:\s*(\d+)""".r
      .findFirstMatchIn(graft.ingest.Fs.readString(s"$outDir/stats.json"))
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"no nShards in $outDir/stats.json"))

  /** One table's rows, read with the encoder's schema, NOT parquet footer
    * inference: a schema discovery pass is a whole extra Spark job per
    * table per open, and the serving tables' schemas are fixed by
    * construction. A missing path throws.
    */
  private[query] def readRows[T <: Product : TypeTag](spark: SparkSession, path: String): Array[T] = {
    val enc = Encoders.product[T]
    spark.read.schema(enc.schema).parquet(path).as[T](enc).collect()
  }

  // a shard that owns zero segments (fewer segments than shards) has no
  // directory — it opens empty and the router merge is unaffected
  private def readShard[T <: Product : TypeTag : ClassTag](
      spark: SparkSession, outDir: String, table: String, shardId: Int): Array[T] = {
    val path = s"$outDir/$table/shard=$shardId"
    if (graft.ingest.Fs.exists(path)) readRows[T](spark, path) else Array.empty[T]
  }

  /** The small GLOBAL sides of an export (merged term df + corpus stats)
    * — loaded once per node (or once per in-process cluster) and shared
    * read-only across shard opens, the same sharing `Serving.openSharded`
    * uses for its in-process shards.
    */
  private def loadGlobalDf(spark: SparkSession, outDir: String): java.util.HashMap[String, Long] = {
    // the global terms table is MANDATORY (unlike a shard directory,
    // which is legitimately absent when a shard owns zero segments) — a
    // partial export must fail the open loudly, not serve zero hits
    require(graft.ingest.Fs.exists(s"$outDir/terms"),
      s"no global terms table at $outDir/terms — incomplete export")
    val df = new java.util.HashMap[String, Long]()
    readRows[TermStat](spark, s"$outDir/terms").foreach(t => df.put(t.term, t.df))
    df
  }

  private def loadStats(outDir: String): IndexStats = {
    val s = graft.ingest.Fs.readString(s"$outDir/stats.json")
    def num(k: String) = (s""""$k"\\s*:\\s*([-0-9.eE]+)""").r
      .findFirstMatchIn(s).get.group(1)
    IndexStats(num("nDocs").toLong, num("avgdl").toDouble,
      num("nTerms").toLong, num("totalTokens").toLong)
  }

  /** Open one shard from the export: the node reads ONLY its own
    * directory (`shard=<id>` — directory-level pruning, not a filter over
    * the full index) plus the small global stats. Bit-identical to
    * `Serving.openSharded`'s in-process shards: same seg assignment, same
    * global stats, same kernel. With `withDocs` the node materializes
    * `_source` only for the documents whose postings it scores.
    */
  def openExportedShard(
      spark: SparkSession, outDir: String, shardId: Int, maxBytes: Long,
      withDocs: Boolean = false): ServingIndex = {
    val n = nShards(outDir)
    require(shardId >= 0 && shardId < n, s"shardId $shardId out of range for $n shards")
    openExportedShardWith(spark, outDir, shardId, maxBytes, withDocs,
      loadGlobalDf(spark, outDir), loadStats(outDir))
  }

  private def openExportedShardWith(
      spark: SparkSession, outDir: String, shardId: Int, maxBytes: Long,
      withDocs: Boolean, df: java.util.HashMap[String, Long],
      stats: IndexStats): ServingIndex =
    Serving.assemble(ShardPayload(
      readShard[PostingBlock](spark, outDir, "postings", shardId),
      readShard[SegNorms](spark, outDir, "norms", shardId),
      if (withDocs) readShard[DocMeta](spark, outDir, "docs", shardId) else null),
      df, stats, maxBytes)

  /** All shards of an export opened in one process, routed — the
    * integration-test form of the per-node deployment (each shard open
    * still reads only its own directory). The global term table is read
    * ONCE and shared (it is identical for every shard — re-reading it per
    * shard was the dominant open cost), and the per-shard directory reads
    * run concurrently: independent Spark collects back-fill each other's
    * scheduling gaps (guide §2.6), exactly as separate nodes would open in
    * parallel on a real deploy.
    */
  def openExportedCluster(
      spark: SparkSession, outDir: String, maxBytesPerShard: Long,
      withDocs: Boolean = false): ServingCluster = {
    val n = nShards(outDir)
    val df = loadGlobalDf(spark, outDir)
    val stats = loadStats(outDir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(n, 8))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // one job group over all shard-open collects: a failed open cancels
    // the group's in-flight Spark jobs (thread interruption alone never
    // cancels a submitted job), and shutdownNow stops queued opens
    val group = s"graft-export-open-$outDir-${System.nanoTime()}"
    try Serving.clusterOf(Await.result(
      Future.sequence((0 until n).map(s => Future {
        spark.sparkContext.setJobGroup(group, s"exported shard $s open",
          interruptOnCancel = true)
        openExportedShardWith(spark, outDir, s, maxBytesPerShard, withDocs, df, stats)
      })),
      Duration.Inf))
    catch {
      case t: Throwable => spark.sparkContext.cancelJobGroup(group); throw t
    } finally pool.shutdownNow()
  }
}

/** A serving node that follows a LIVE index: continuous indexing
  * (`StreamIngest.indexStream`) appends slices to the store, and the
  * node re-opens when — and only when — the committed slice set changes,
  * swapping the served index atomically. Queries in flight keep the
  * index they started on and new queries see the refreshed one: the
  * zero-downtime refresh the reference gets from OpenSearch's
  * per-segment reader reopen. Call `refresh()` from ONE scheduler thread
  * at the freshness interval the deployment wants (queries are
  * thread-safe against the published index; `refresh` itself is
  * single-caller).
  *
  * LAYERED, like Lucene's per-segment readers: `current` is a router
  * (`ServingCluster`) over one immutable sub-index per slice. Slices
  * partition docID segments exactly as the document shards of
  * `Serving.openSharded` do, so the k-merge is the same bit-identical
  * router the sharded gates pin. A refresh (a) reads + decodes ONLY the
  * delta slices, (b) re-derives the global df/stats from the slices'
  * blocks and norms by cloning last tick's df map and applying the
  * delta, and (c) re-stamps every cached sub-index with the new globals
  * — a wrapper object per slice, sharing the decoded-block cache, the
  * norms, and the doc store underneath. Per-tick cost is
  * O(delta + nSlices + changed vocabulary): no re-decode, no full-index
  * scan, no doc-store rebuild (a flat merged index would pay O(index)
  * per tick in re-grouping, re-decoding norms, and rebuilding the doc
  * map — exactly what breaks at a 1000× index/append ratio). The tiered
  * merge policy bounds nSlices (default 16), so the router fan-out is a
  * constant, not a function of stream age.
  */
final class ServingNode(
    spark: SparkSession,
    store: IndexStore,
    maxBytes: Long,
    withDocs: Boolean = false) {

  /** One committed slice as the node holds it. Slice files never change
    * once committed, so nothing here reloads or re-decodes while the
    * manifest keeps listing the same `meta` — the FULL SliceMeta, not the
    * id: a fixed-id rebuild (which the dead-list revive legitimizes)
    * recommits an existing id with NEW content, and keying on the id
    * alone would silently serve the stale payload forever. The payload's
    * blocks carry the slice's df partial (Σ n per term), applied to and
    * retired from the global df as the slice comes and goes; `stats` are
    * its norms' doc and token counts, merged into the global stats the
    * same way.
    */
  private final class Slice(val meta: SliceMeta, val payload: ShardPayload,
      val stats: IndexStats)

  private var slices = Map.empty[Int, Slice]

  // The served wrappers hold last tick's df map by reference, so it is
  // NEVER mutated in place — the next tick clones it (O(vocab) pointer
  // copies), subtracts retired slices' partials and adds loaded ones.
  private var globalDf: java.util.HashMap[String, Long] = null

  // the budget the current index serves with: the next tick's `prior`
  private var budget: Option[Budget] = None

  /** Refresh observability: slices loaded / dropped on the last (re)open,
    * and decoded blocks carried over (blocks of retained slices whose
    * decode cache survived the tick — 0 right after a budget-mode
    * transition, which re-decodes lazily or eagerly per the new mode).
    */
  @volatile var lastLoadedSlices: Int = 0
  @volatile var lastDroppedSlices: Int = 0
  @volatile var lastReusedDecodes: Int = 0

  @volatile private var state: (Seq[SliceMeta], ServingCluster) = load()

  private def read(meta: SliceMeta): Slice = {
    def rows[T <: Product : TypeTag](table: String): Array[T] =
      store.readTable[T](spark, table, Seq(meta)).collect()
    val norms = rows[SegNorms]("norms")
    new Slice(meta, ShardPayload(rows[PostingBlock]("postings"), norms,
      if (withDocs) rows[DocMeta]("docs") else null), IndexStats.fromNorms(norms, 0L))
  }

  private def load(): (Seq[SliceMeta], ServingCluster) = {
    // ONE manifest snapshot drives every read below — blocks, norms,
    // df, stats, and docs all come from the same committed slice set,
    // so a concurrent append/merge can never mix old blocks with new
    // corpus stats (which would break score identity)
    val metas = store.committedSlices
    require(metas.nonEmpty, s"nothing committed at ${store.root}")

    // READ only the new or recommitted slices. Everything lands in
    // locals and commits at the end, so a failure anywhere (transient FS
    // error, or — only if the deployment's vacuum grace window is
    // shorter than a refresh — a reclaimed superseded slice) leaves the
    // node exactly as it was. Merges themselves never delete files:
    // superseded slices sit on the manifest dead-list until
    // `IndexStore.vacuum`'s grace window passes.
    val (kept, fresh) = metas.partition(m => slices.get(m.sliceId).exists(_.meta == m))
    val loaded = fresh.map(read)
    val next = (kept.map(m => slices(m.sliceId)) ++ loaded).sortBy(_.meta.sliceId).toIndexedSeq
    val retired = slices.values.filterNot(s => kept.contains(s.meta))

    // global df: clone + delta. Subtract retired slices' blocks FIRST (a
    // merge both drops and adds the same terms); a term whose df reaches
    // 0 disappears, as topK gates query terms on containsKey
    val df =
      if (globalDf == null) new java.util.HashMap[String, Long]()
      else new java.util.HashMap[String, Long](globalDf)
    retired.foreach(s => TermStat.addDf(df, s.payload.blocks, -1))
    loaded.foreach(s => TermStat.addDf(df, s.payload.blocks))

    // corpus stats: the slices' own norms stats add up, as slices
    // partition the documents
    val stats = IndexStats.merge(next.iterator.map(_.stats), df.size().toLong)

    // one budget over every slice: shared caches, and a router whose
    // loadedBytes counts each shared cache once
    val b = Serving.budget(next.map(_.payload), maxBytes, budget)
    val cluster = Serving.clusterOf(Serving.shards(b, df, stats))

    // ---- COMMIT — everything above succeeded ----
    lastReusedDecodes = next.indices.iterator
      .filter(i => budget.flatMap(_.cacheOf(next(i).payload)).exists(_ eq b.caches(i)))
      .map(i => next(i).payload.blocks.length).sum
    lastLoadedSlices = loaded.size
    lastDroppedSlices = (slices.keySet -- metas.map(_.sliceId)).size
    slices = next.iterator.map(s => s.meta.sliceId -> s).toMap
    globalDf = df
    budget = Some(b)
    (metas, cluster)
  }

  /** The index serving new queries right now (stable reference — hold it
    * for a multi-call exchange like query-then-fetch).
    */
  def current: ServingCluster = state._2

  /** Last refresh failure, if the most recent attempt failed (cleared on
    * success) — false-from-failure is distinguishable from
    * false-from-no-change, so monitoring can tell "retry next tick" from
    * "this node has been failing for an hour and serves stale data".
    */
  @volatile var lastRefreshError: Option[Throwable] = None

  /** Re-open if the committed slice set changed; true when a new index
    * was swapped in. Slice metas identify content: commits are atomic
    * manifest renames and slice files are immutable once committed.
    * Unchanged slices keep their sub-index payloads AND their decoded
    * postings, so the decode work is bounded by the delta.
    */
  def refresh(): Boolean = {
    val seen = state._1
    val now = store.committedSlices
    if (now == seen) false
    else
      try {
        state = load()
        lastRefreshError = None
        true
      } catch {
        // transient load failure (FS hiccup; or a vacuum racing this
        // refresh when the grace window is misconfigured below the
        // refresh interval): keep serving the current index, surface the
        // error, and let the next tick snapshot the post-merge manifest
        // and retry cleanly. NonFatal only: interrupts and fatal JVM
        // errors propagate.
        case scala.util.control.NonFatal(e) =>
          lastRefreshError = Some(e)
          false
      }
  }
}
