package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analysis.Analyzer
import graft.index._

/** Decoded-postings storage policy for a serving node. Both policies
  * answer through the same kernel, so results are bit-identical; they
  * differ only in RAM-vs-CPU trade.
  */
private[query] sealed trait BlockCache {
  def get(b: PostingBlock): (Array[Long], Array[Long])
  def loadedBytes: Long
}

/** Everything pre-decoded at open: queries run allocation-free (the
  * mt-throughput mode — per-query decode allocations make 16 threads
  * SLOWER than 1, GC-bound). Requires the decoded slice to fit the budget.
  */
private[query] final class FullDecodeCache(blocks: Array[PostingBlock])
    extends BlockCache {
  private val m = new java.util.IdentityHashMap[PostingBlock, (Array[Long], Array[Long])](blocks.length * 2)
  blocks.foreach(b => m.put(b, TermPostings.decodeBlock(b)))
  val loadedBytes: Long = blocks.iterator.map(Serving.decodedBytes).sum
  def get(b: PostingBlock): (Array[Long], Array[Long]) = m.get(b)
}

/** Bounded decoded-block cache: a slice whose decoded footprint exceeds
  * the budget serves with partial pre-decode instead of refusing. Lookups
  * are lock-free ConcurrentHashMap reads plus one volatile write to mark
  * the entry referenced (warm-set queries stay close to full-pre-decode
  * throughput); misses decode on demand and evict by the CLOCK /
  * second-chance rule — a recently-hit entry gets its referenced bit
  * cleared and moves to the tail instead of dying, so a hot block
  * inserted early is never thrashed out by a cold scan (the defect plain
  * FIFO insertion order had). Bit-identity is unconditional — eviction
  * only changes WHERE the decode happens.
  */
private[query] final class ClockDecodeCache(val budget: Long) extends BlockCache {
  private val c = new ClockCache[(Array[Long], Array[Long])](
    budget, TermPostings.decodeBlock, (b, _) => Serving.decodedBytes(b))
  def get(b: PostingBlock): (Array[Long], Array[Long]) = c.get(b)
  def loadedBytes: Long = c.loadedBytes
}

/** Generic bounded CLOCK cache over per-block decoded values — shared by
  * the postings decode cache and the phrase positions cache.
  */
private[query] final class ClockCache[V <: AnyRef](
    val budget: Long,
    decode: PostingBlock => V,
    sizeOf: (PostingBlock, V) => Long) {
  private final class Entry(val decoded: V, val size: Long) {
    @volatile var referenced: Boolean = false
  }
  private val m = new java.util.concurrent.ConcurrentHashMap[PostingBlock, Entry]()
  private val order = new java.util.concurrent.ConcurrentLinkedQueue[PostingBlock]()
  private val bytes = new java.util.concurrent.atomic.AtomicLong(0L)

  def get(b: PostingBlock): V = {
    val hit = m.get(b)
    if (hit != null) { hit.referenced = true; return hit.decoded }
    val d = decode(b)
    val prev = m.putIfAbsent(b, new Entry(d, sizeOf(b, d)))
    if (prev != null) { prev.referenced = true; return prev.decoded }
    order.add(b)
    var cur = bytes.addAndGet(sizeOf(b, d))
    // second chances are bounded by one full lap of the queue — when every
    // entry is referenced the scan degrades to FIFO rather than spinning
    var chances = m.size() + 1
    while (cur > budget) {
      val victim = order.poll()
      if (victim == null) return d // nothing left to evict
      val e = m.get(victim)
      if (e == null) { cur = bytes.get() } // another thread evicted it
      else if (e.referenced && chances > 0) {
        e.referenced = false
        chances -= 1
        order.add(victim) // spared: recently used
      } else if (m.remove(victim) != null) {
        cur = bytes.addAndGet(-e.size)
      } else cur = bytes.get()
    }
    d
  }
  def loadedBytes: Long = bytes.get()
}

/** What one serving shard holds — a document shard of an open index, an
  * exported shard directory, or one committed slice of a `ServingNode`.
  * Every open builds it the same way (`ShardPayload.apply`) from the
  * rows it read; only where the rows come from differs.
  */
private[query] final class ShardPayload(
    val blocks: Array[PostingBlock],
    val byTerm: java.util.HashMap[String, Array[PostingBlock]],
    val norms: java.util.HashMap[Integer, DecodedNorms],
    /** estimated decoded-postings heap (`Serving.decodedBytes`) */
    val decodedBytes: Long,
    /** compressed positions kept on-heap (`Serving.positionBytes`) */
    val positionBytes: Long,
    /** fetch-phase doc store, null when opened without docs */
    val docs: java.util.HashMap[Long, DocMeta])

private[query] object ShardPayload {
  def apply(blocks: Array[PostingBlock], normRows: Array[SegNorms],
      docRows: Array[DocMeta]): ShardPayload = {
    val norms = new java.util.HashMap[Integer, DecodedNorms]()
    normRows.foreach(n => norms.put(n.seg, SegNorms.decode(n)))
    // a segment scored without its norms has no doclens: a partial index
    // or export must fail the open, not the first query that touches it
    blocks.iterator.map(_.seg).distinct.foreach(seg =>
      require(norms.containsKey(seg), s"seg $seg has postings but no norms"))
    val byTerm = new java.util.HashMap[String, Array[PostingBlock]]()
    blocks.groupBy(_.term).foreach { case (t, bs) => byTerm.put(t, bs) }
    val docs =
      if (docRows == null) null
      else {
        val m = new java.util.HashMap[Long, DocMeta](docRows.length * 2)
        docRows.foreach(d => m.put(d.doc_id, d))
        m
      }
    new ShardPayload(blocks, byTerm, norms,
      blocks.iterator.map(Serving.decodedBytes).sum,
      blocks.iterator.map(Serving.positionBytes).sum, docs)
  }
}

/** The caches and budget accounting a set of payloads serves with under
  * one budget (`Serving.budget`): `caches` aligns with `payloads`.
  */
private[query] final class Budget(
    val payloads: IndexedSeq[ShardPayload],
    val caches: IndexedSeq[BlockCache],
    val posCache: Option[ClockCache[Serving.DecodedPositions]],
    val report: Serving.OpenReport) {
  def cacheOf(p: ShardPayload): Option[BlockCache] = {
    val i = payloads.indexWhere(_ eq p)
    if (i < 0) None else Some(caches(i))
  }
  def clock: Option[ClockDecodeCache] =
    caches.collectFirst { case c: ClockDecodeCache => c }
}

/** In-memory single-node serving tier over a built index.
  *
  * Spark is the BUILD engine; serving interactive queries through Spark
  * jobs pays ~100 ms of scheduling per search. A real deployment of this
  * engine serves the way the reference's OpenSearch does: each shard
  * server holds its slice of the postings in memory and answers locally.
  * `ServingIndex` is that shard server in miniature — it loads one
  * store's compressed postings and norms (one Spark collect each at open;
  * term df is the blocks' Σ n)
  * and then answers top-k queries in pure JVM time through the SAME
  * `Wand.segTopKWith` kernel the distributed path runs, so results are
  * bit-identical to both the distributed WAND and the brute-force oracle.
  *
  * Scale contract: `maxBytes` budgets the DECODED postings footprint. A
  * slice that fits is fully pre-decoded (allocation-free queries); a
  * larger slice serves through a bounded decoded-block cache — partial
  * pre-decode, same bit-identical results. At web scale the corpus is
  * document-sharded across serving nodes exactly like the distributed
  * path's segments — each node opens the slice the build wrote for it,
  * and a router merges per-node top-ks (the `TopKHeap` k-merge the Spark
  * path runs on the driver, over RPC instead of a Spark job).
  */
final class ServingIndex private[query] (
    payload: ShardPayload,
    cache: BlockCache,
    private[graft] val termDf: java.util.HashMap[String, Long],
    val stats: IndexStats,
    /** Decoded-positions cache for hot phrase traffic, sized to the
      * HEADROOM the open budget left after the pre-decoded postings and
      * the retained compressed positions — absent when the budget is
      * already tight (phrase queries then decode per query, the classic
      * positional trade). Bit-identity unconditional.
      */
    posCache: Option[ClockCache[Serving.DecodedPositions]],
    /** Budget accounting at open time — `overBudget` means the
      * unevictable compressed positions plus the decode-cache floor
      * exceed `maxBytes`: the node still serves bit-identically, but the
      * operator's heap sizing must use `retainedPositionBytes +
      * cacheBudgetBytes`, not `maxBytes`.
      */
    val openReport: Serving.OpenReport) {

  /** Compressed positional payload retained on-heap by a positional
    * slice — real serving footprint, counted against the open budget.
    */
  val retainedPositionBytes: Long = payload.positionBytes

  def loadedBytes: Long =
    cache.loadedBytes + retainedPositionBytes +
      posCache.map(_.loadedBytes).getOrElse(0L)

  // cache identities, for footprint accounting that must not multi-count
  // caches SHARED across shards (the layered ServingNode's bounded decode
  // cache and hot-phrase positions cache)
  private[query] def blockCacheRef: BlockCache = cache
  private[query] def posCacheRef: Option[ClockCache[Serving.DecodedPositions]] = posCache
  /** True when the decoded slice exceeded the budget and the node serves
    * through the bounded cache (partial pre-decode).
    */
  val bounded: Boolean = cache.isInstanceOf[ClockDecodeCache]

  private val decodeFn: PostingBlock => (Array[Long], Array[Long]) = cache.get(_)

  /** The query terms' blocks grouped by segment (document shard), each
    * group run through `f` with its segment's norms — the one grouping
    * term and phrase queries share.
    */
  private def forEachSegment(terms: Iterable[String])(
      f: (Array[PostingBlock], DecodedNorms) => Unit): Unit = {
    val bySeg = new java.util.HashMap[Integer, java.util.ArrayList[PostingBlock]]()
    terms.foreach { t =>
      val bs = payload.byTerm.get(t)
      if (bs != null) bs.foreach { b =>
        bySeg.computeIfAbsent(b.seg, _ => new java.util.ArrayList[PostingBlock]()).add(b)
      }
    }
    bySeg.forEach((seg, bs) =>
      f(bs.toArray(new Array[PostingBlock](bs.size())), payload.norms.get(seg)))
  }

  /** Exact BM25 top-k; rank-identical to `Wand.topK` (same kernel, same
    * tie-breaks, same fold order). Pure JVM — no Spark job.
    */
  def topK(query: String, k: Int): Array[(Long, Double)] = {
    val qTerms = Analyzer.tokenize(query).distinct.sorted
    val present = qTerms.filter(termDf.containsKey)
    if (present.isEmpty || stats.nDocs == 0) return Array.empty
    val idfs: Map[String, Double] =
      present.map(t => t -> BM25.idf(stats.nDocs, termDf.get(t))).toMap

    // per-segment WAND over PRE-DECODED postings/norms (no per-query
    // decode allocations — the serving tier's RAM-for-CPU trade), then
    // the same (score desc, docId asc) k-merge the distributed path runs
    // on the driver
    val heap = new TopKHeap(k)
    forEachSegment(present) { (blocks, norms) =>
      Wand.segTopKWith(blocks, norms.doclen, idfs, stats.avgdl, k, decodeFn)
        .foreach { case (d, s) => heap.offer(d, s) }
    }
    heap.ranked()
  }

  /** Top-k as a DataFrame (for the driver gate / hit materialization). */
  def topKDF(spark: SparkSession, query: String, k: Int): DataFrame = {
    import spark.implicits._
    topK(query, k).toSeq.toDF("doc_id", "score")
  }

  /** This shard's phrase parts (`Phrase.segTopK`), one per segment
    * holding a phrase term. Scoring needs the GLOBAL phrase df, the sum
    * of every shard's counts, so the caller finishes (`Phrase.finish`).
    * Positions come from the hot-phrase cache when the budget left room
    * for one, else decode per query — the classic positional trade.
    */
  private[query] def phraseParts(slots: IndexedSeq[String], k: Int): Seq[PhrasePart] = {
    val terms = slots.distinct
    if (terms.exists(t => !payload.byTerm.containsKey(t))) return Nil
    val positionsOf: PostingBlock => Serving.DecodedPositions =
      posCache.fold(Serving.decodePositionsOf _)(c => c.get)
    val out = scala.collection.mutable.ArrayBuffer.empty[PhrasePart]
    forEachSegment(terms) { (blocks, norms) =>
      out += Phrase.segTopK(blocks, slots, positionsOf, norms, stats.avgdl, k)
    }
    out.toSeq
  }

  /** Exact phrase BM25 top-k on this (single-node) index — df is local =
    * global here. Rank-identical to `Phrase.topK` over the same store.
    */
  def phraseTopK(phrase: String, k: Int): Array[(Long, Double)] =
    Phrase.finish(phraseParts(Analyzer.tokenize(phrase).toIndexedSeq, k), stats.nDocs, k)

  // ---- hit materialization: the reference's `hits.hits[]._source + _score`
  // response shape, answered from the shard's own doc store (optional —
  // id-only responses don't need it; at scale it is the shard's slice) ----
  private[query] def hasDocs: Boolean = payload.docs != null
  private[query] def docOf(id: Long): DocMeta =
    if (payload.docs == null) null else payload.docs.get(id)

  /** Scored hits with stored fields (requires `withDocs` at open). */
  def topKHits(query: String, k: Int): Array[Serving.Hit] = {
    require(payload.docs != null, "serving index opened without docs; use withDocs = true")
    topK(query, k).map { case (id, score) =>
      val d = payload.docs.get(id)
      require(d != null, s"docId $id missing from the serving doc store")
      Serving.Hit(id, d.url, d.lang, d.doclen, score)
    }
  }

  def topKHitsDF(spark: SparkSession, query: String, k: Int): DataFrame = {
    import spark.implicits._
    topKHits(query, k).toSeq.toDF()
  }
}

object Serving {

  /** The `hits.hits[]._source + _score` response row. */
  case class Hit(doc_id: Long, url: String, lang: String, doclen: Int, score: Double)

  /** What `open` actually admitted against `maxBytes` (ADVICE: the open
    * budget caps only the decoded-postings cache; unevictable compressed
    * positions can push the floor past it — `overBudget` says so).
    */
  case class OpenReport(
      maxBytes: Long,
      estDecodedBytes: Long,
      retainedPositionBytes: Long,
      cacheBudgetBytes: Long,
      bounded: Boolean,
      overBudget: Boolean)

  /** Decoded heap footprint of one posting block: two long arrays of n
    * (docIDs + tfs) plus object headers — the number that actually
    * occupies serving heap, NOT the compressed on-disk bytes the manifest
    * records (and compaction used to record as 0).
    */
  private[query] def decodedBytes(b: PostingBlock): Long = b.n.toLong * 16 + 64

  /** Compressed positional payload a block keeps on the serving heap
    * (phrase queries decode it on demand; it is never dropped while the
    * block is held). Zero for non-positional indexes.
    */
  private[query] def positionBytes(b: PostingBlock): Long =
    if (b.positions == null) 0L else b.positions.length.toLong + 16

  /** A positional block's decoded, probe-ready form: docId → ascending
    * token-index array. Stored as the ready HashMap because building the
    * probe structure — not the VByte decode — dominates per-query phrase
    * cost.
    */
  private[query] type DecodedPositions = java.util.HashMap[Long, Array[Int]]

  private[query] def decodePositionsOf(b: PostingBlock): DecodedPositions = {
    val docs = TermPostings.decodeBlock(b)._1
    val ps = TermPostings.decodePositions(b)
    val m = new java.util.HashMap[Long, Array[Int]](docs.length * 2)
    var i = 0
    while (i < docs.length) { m.put(docs(i), ps(i)); i += 1 }
    m
  }

  private[query] def decodedPositionBytes(dp: DecodedPositions): Long = {
    var s = 64L
    val it = dp.values().iterator()
    while (it.hasNext) s += it.next().length.toLong * 4 + 56 // entry + key + arr
    s
  }

  /** Load a committed index into serving memory. One Spark collect per
    * table. The budget governs the DECODED postings footprint (estimated
    * from posting counts, which every manifest — compacted or not —
    * preserves): a slice that fits is fully pre-decoded (allocation-free
    * queries, the mt-throughput mode); a larger slice serves through the
    * bounded decoded-block cache instead of refusing. The compressed
    * blocks themselves must fit the heap either way — a corpus beyond
    * that belongs on more serving shards.
    */
  def open(spark: SparkSession, store: IndexStore, maxBytes: Long): ServingIndex =
    open(store.open(spark), maxBytes)

  def open(idx: OpenIndex, maxBytes: Long, withDocs: Boolean = false): ServingIndex = {
    val normRows = idx.norms.collect()
    val blocks = idx.postings.collect()
    val df = TermStat.addDf(new java.util.HashMap[String, Long](), blocks)
    assemble(ShardPayload(blocks, normRows, if (withDocs) collectDocs(idx) else null),
      df, IndexStats.fromNorms(normRows, df.size), maxBytes)
  }

  /** The one budget policy of every open. When the payloads' decoded
    * postings plus their retained compressed positions fit `maxBytes`,
    * each payload is fully pre-decoded and the leftover headroom funds one
    * hot-phrase positions cache; otherwise they all share one bounded
    * CLOCK decode cache. `prior` is the budget the same payloads (or some
    * of them) served with before — a refreshing `ServingNode` passes it so
    * that an unchanged payload keeps its pre-decodes, the shared CLOCK
    * cache survives unless its budget shrinks, and the positions cache
    * survives unless the headroom shrinks below its budget.
    */
  private[query] def budget(payloads: IndexedSeq[ShardPayload], maxBytes: Long,
      prior: Option[Budget] = None): Budget = {
    val estDecoded = payloads.iterator.map(_.decodedBytes).sum
    // the retained compressed positions are footprint the budget must see:
    // they occupy heap for the life of the node whether or not a phrase
    // ever arrives, so the decoded-block budget shrinks by that amount
    // (floored so a positions-heavy payload still gets a working cache)
    val posBytes = payloads.iterator.map(_.positionBytes).sum
    val fits = estDecoded + posBytes <= maxBytes
    val clock =
      if (fits) None
      else {
        val b = math.max(maxBytes - posBytes, maxBytes / 16)
        Some(prior.flatMap(_.clock).filter(_.budget <= b).getOrElse(new ClockDecodeCache(b)))
      }
    val caches: IndexedSeq[BlockCache] = clock match {
      case Some(c) => payloads.map(_ => c)
      case None => payloads.map(p => prior.flatMap(_.cacheOf(p)) match {
        case Some(f: FullDecodeCache) => f
        case _ => new FullDecodeCache(p.blocks)
      })
    }
    // hot-phrase decoded-positions cache: only the headroom the budget
    // leaves after pre-decoded postings + retained compressed positions —
    // a tight budget means phrase queries decode per query
    val headroom = maxBytes - estDecoded - posBytes
    val posCache =
      if (posBytes > 0 && fits && headroom > 0)
        prior.flatMap(_.posCache).filter(_.budget <= headroom).orElse(Some(
          new ClockCache[DecodedPositions](
            headroom, decodePositionsOf, (_, v) => decodedPositionBytes(v))))
      else None
    // honest budget accounting: the compressed positions are unevictable,
    // so when they alone eat (almost) the whole budget the floor footprint
    // posBytes + cache-floor EXCEEDS maxBytes — flag it rather than let a
    // degraded node silently run past the heap the operator sized for
    val cacheBudget = clock.fold(estDecoded)(_.budget)
    new Budget(payloads, caches, posCache, OpenReport(
      maxBytes = maxBytes,
      estDecodedBytes = estDecoded,
      retainedPositionBytes = posBytes,
      cacheBudgetBytes = cacheBudget,
      bounded = !fits,
      overBudget = posBytes + cacheBudget > maxBytes))
  }

  /** The serving shards of a budget, all scoring with the GLOBAL term
    * stats — BM25 idf must use corpus-wide df/N/avgdl in every layout,
    * exactly as the distributed path resolves stats driver-side.
    */
  private[query] def shards(b: Budget, df: java.util.HashMap[String, Long],
      stats: IndexStats): IndexedSeq[ServingIndex] =
    b.payloads.indices.map(i =>
      new ServingIndex(b.payloads(i), b.caches(i), df, stats, b.posCache, b.report))

  /** One serving shard with a budget of its own. */
  private[query] def assemble(p: ShardPayload, df: java.util.HashMap[String, Long],
      stats: IndexStats, maxBytes: Long): ServingIndex =
    shards(budget(IndexedSeq(p), maxBytes), df, stats).head

  /** Open ONE shard of a document-sharded cluster, materializing ONLY that
    * shard's blocks and norms (`seg mod nShards == shardId`, pushed into
    * the scan as a filter) plus the global term df — what a real
    * shard server does at open: its node's heap holds 1/nShards of the
    * postings, never the whole index. `openSharded` is this in miniature
    * with all shards in one JVM (it collects everything once because the
    * router and shards share the process); this entry point is the
    * per-node deployment form. Bit-identical: segments score locally with
    * global stats in every layout.
    */
  def openShard(idx: OpenIndex, shardId: Int, nShards: Int, maxBytes: Long): ServingIndex = {
    require(nShards >= 1 && shardId >= 0 && shardId < nShards,
      s"shardId $shardId out of range for $nShards shards")
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val mine = pmod(col("seg"), lit(nShards)) === shardId
    // its blocks hold only its shard's df: the global df comes from the
    // open index's term stats
    val df = new java.util.HashMap[String, Long]()
    idx.terms.collect().foreach(t => df.put(t.term, t.df))
    assemble(ShardPayload(idx.postings.filter(mine).collect(), idx.norms.filter(mine).collect(),
      null), df, idx.stats, maxBytes)
  }

  /** Assemble a router over shards opened individually (e.g. via
    * `openShard` or `ServingLayout.openExportedShard`). The shards must
    * partition the segments (each seg on exactly one shard) and share the
    * global stats — both true by construction for the open paths here.
    */
  def clusterOf(shards: IndexedSeq[ServingIndex]): ServingCluster =
    new ServingCluster(shards)

  private def collectDocs(idx: OpenIndex): Array[DocMeta] = {
    import org.apache.spark.sql.functions.col
    val spark = idx.docs.sparkSession
    import spark.implicits._
    idx.docs
      .select(col("doc_id"), col("url"), col("doclen").cast("int").as("doclen"), col("lang"))
      .as[DocMeta].collect()
  }

  /** Document-sharded serving cluster: `nShards` shard servers, each
    * holding the segments assigned to it (`seg mod nShards` — segments
    * are the unit of document sharding in every layout), all scoring
    * with the GLOBAL term stats, plus a router that k-merges per-shard
    * top-ks with the same (score desc, docId asc) `TopKHeap` merge the
    * distributed path uses. Bit-identical to the single-node serving
    * index and the distributed WAND: segments are scored locally either
    * way — only WHERE they live changes. This is the web-scale
    * deployment shape in miniature (shards on separate nodes, the
    * router merging over RPC); `maxBytesPerShard` is each node's budget.
    */
  def openSharded(idx: OpenIndex, nShards: Int, maxBytesPerShard: Long,
      withDocs: Boolean = false): ServingCluster = {
    require(nShards >= 1, "need at least one shard")
    def shardOf(seg: Int) = math.floorMod(seg, nShards)
    val allBlocks = idx.postings.collect()
    val blocks = allBlocks.groupBy(b => shardOf(b.seg))
    val normRows = idx.norms.collect()
    // a document's _source lives on the shard that owns its segment;
    // segments are contiguous docID ranges, so a document's segment is
    // the last one whose first document is at or below it
    val docs = if (!withDocs) Map.empty[Int, Array[DocMeta]] else {
      val segs = normRows.sortBy(_.firstDoc)
      val firsts = segs.map(_.firstDoc)
      collectDocs(idx).groupBy { d =>
        val i = java.util.Arrays.binarySearch(firsts, d.doc_id)
        shardOf(segs(if (i >= 0) i else -i - 2).seg)
      }
    }
    val norms = normRows.groupBy(n => shardOf(n.seg))
    val df = TermStat.addDf(new java.util.HashMap[String, Long](), allBlocks)
    val stats = IndexStats.fromNorms(normRows, df.size)
    clusterOf((0 until nShards).map { s =>
      assemble(ShardPayload(blocks.getOrElse(s, Array.empty), norms.getOrElse(s, Array.empty),
        if (withDocs) docs.getOrElse(s, Array.empty) else null), df, stats, maxBytesPerShard)
    })
  }
}

/** Router over document-sharded `ServingIndex` shards: fans the query
  * out, k-merges the shard top-ks. Shard top-ks are disjoint (documents
  * live on exactly one shard), so the merge is the same TopKHeap the
  * single-node path uses per segment.
  */
final class ServingCluster private[query] (val shards: IndexedSeq[ServingIndex]) {

  /** Total decoded/retained footprint, counting each cache ONCE — the
    * layered `ServingNode`'s shards share one bounded decode cache (or
    * one hot-phrase positions cache), and summing per-shard loadedBytes
    * would multi-count it nShards times. Independent shards (openSharded,
    * exported opens) have distinct caches, so the dedup is a no-op there.
    */
  def loadedBytes: Long = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    var total = 0L
    shards.foreach { s =>
      total += s.retainedPositionBytes
      val c = s.blockCacheRef
      if (seen.add(c)) total += c.loadedBytes
      s.posCacheRef.foreach(pc => if (seen.add(pc)) total += pc.loadedBytes)
    }
    total
  }

  /** Corpus-wide stats — every shard carries the same GLOBAL IndexStats
    * by construction (local scoring with global stats is what makes the
    * sharded layouts bit-identical).
    */
  def stats: IndexStats = shards.head.stats

  def topK(query: String, k: Int): Array[(Long, Double)] = {
    val heap = new TopKHeap(k)
    shards.foreach(_.topK(query, k).foreach { case (d, s) => heap.offer(d, s) })
    heap.ranked()
  }

  /** Phrase top-k across shards: the router analyzes the phrase once,
    * gathers each shard's per-segment counts and local candidates, and
    * finishes with the GLOBAL phrase df. Bit-identical to the single-node
    * and distributed phrase paths (stats are global in every layout).
    */
  def phraseTopK(phrase: String, k: Int): Array[(Long, Double)] = {
    val slots = Analyzer.tokenize(phrase).toIndexedSeq
    Phrase.finish(shards.iterator.flatMap(_.phraseParts(slots, k)), stats.nDocs, k)
  }

  /** Fetch phase: the router asks the shard that holds each document —
    * `_source` lives next to the postings it scores, and documents live
    * on exactly one shard, so the first shard that knows the id answers.
    */
  def topKHits(query: String, k: Int): Array[Serving.Hit] = {
    require(shards.forall(_.hasDocs), "cluster opened without docs; use withDocs = true")
    topK(query, k).map { case (id, score) =>
      var d: DocMeta = null
      var i = 0
      while (d == null && i < shards.length) { d = shards(i).docOf(id); i += 1 }
      require(d != null, s"docId $id missing from the doc store")
      Serving.Hit(id, d.url, d.lang, d.doclen, score)
    }
  }
}
