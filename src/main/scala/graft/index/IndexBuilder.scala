package graft.index

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Inverted-index builder (the Spark-native analogue of the reference's
  * `/_bulk` ingestion path, reference file_processor.py:415-471, whose
  * tokenize/postings work Lucene performed server-side — here implemented
  * natively, SURVEY.md §2 A5/A6).
  *
  * A segment is a docID range (`seg = docId / segSize`), so a slice is
  * built segment by segment, as Lucene's DocumentsWriterPerThread flushes
  * a segment of its own. Plan shape (one slice):
  * {{{
  *   scan(docs)                        -- column pruning drops html etc.
  *     -> repartitionById(seg run)     [the one wide shuffle: documents]
  *     -> sortWithinPartitions(doc_id)
  *     -> SegmentInverter              -- tokenize each doc once; emit the
  *                                        segment's blocks, its norms row
  *                                        and its doc rows
  *     -> persist (MEMORY_AND_DISK)
  *          -> sortWithinPartitions(term, seg, blk) -> write postings
  *          -> write norms, write docs
  * }}}
  * Only documents cross the shuffle, never postings, and a segment is
  * written whole by one task: a postings file is term-sorted (row-group
  * min/max stats prune term lookups) and no segment spans two files of a
  * slice. The inverter holds one segment's state at a time, and a segment
  * is a fixed docID range, so head terms cannot skew the build.
  *
  * Resume: the corpus is processed in docID slices; each slice commits its
  * files plus a manifest entry (lineage + row/byte metrics) atomically.
  * Restart skips committed slices (reference resume-ledger semantics,
  * bulkupdate.py:258-260).
  */
object IndexBuilder {

  case class Config(
      segSize: Int = 1 << 16,
      blockSize: Int = 128,
      slices: Int = 1,
      codec: String = "pfor", // "pfor" (PForDelta, default) or "vbyte"
      positions: Boolean = false) // index token positions (phrase queries);
                                  // ~doclen extra ints/doc in the postings
                                  // — Lucene's IndexOptions trade

  case class BuildReport(
      slicesBuilt: Int,
      slicesSkipped: Int,
      docs: Long,
      postings: Long,
      elapsedMs: Long)

  /** Build an index over `docs(doc_id, url, text, lang)` into `store`.
    * `fresh=true` drops any existing index first; otherwise committed
    * slices are skipped (resume).
    */
  def build(
      spark: SparkSession,
      docs: DataFrame,
      store: IndexStore,
      cfg: Config = Config(),
      fresh: Boolean = true,
      failAfterSlice: Int = Int.MaxValue,
      manifestProps: Map[String, String] = Map.empty,
      earlyProps: Map[String, String] = Map.empty): BuildReport = {
    val t0 = System.nanoTime()
    if (fresh) store.dropAll()
    val done = store.committedSlices.map(_.sliceId).toSet
    // Resume guard: committed slices were encoded under the RECORDED
    // recipe — resuming with a different one would silently write
    // geometry that mismatches them (segment numbers in new units against
    // segHi values in old units), so the supplied cfg must equal the
    // stored recipe exactly.
    if (done.nonEmpty && store.settings.contains("build.segSize")) {
      val rec = recordedConfig(store)
      // a store written before build.slices was recorded can't compare
      // that field directly — the caller's value is accepted HERE, and the
      // per-slice boundary check below (computed vs recorded segLo/segHi)
      // rejects any slices value that doesn't reproduce the committed
      // layout, so the relaxation can never silently skip or overlap
      val recAdj =
        if (store.settings.contains("build.slices")) rec
        else rec.copy(slices = cfg.slices)
      require(cfg == recAdj,
        s"resume with a different build config: supplied $cfg but the committed " +
          s"slices at ${store.root} were built with $recAdj — pass the recorded config " +
          "(or rebuild fresh)")
    }
    val base = normalize(docs)
    // one stats pass: docID bounds + count (impact metadata is
    // stats-independent, so the build never bakes in avgdl)
    val bounds = base.agg(min("doc_id"), max("doc_id"), count("*")).head()
    val (minId, maxId, nDocs) = (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))

    val segSize = cfg.segSize.toLong
    val segLoAll = (minId / segSize).toInt
    val segHiAll = (maxId / segSize).toInt
    val totalSegs = segHiAll - segLoAll + 1
    // ceil-sized slices, and only as many as the segments fill: 5 segments
    // in up to 4 slices are 3 slices of [2, 2, 1], never a trailing empty one
    val segsPerSlice = math.ceil(totalSegs.toDouble / math.min(cfg.slices, totalSegs)).toInt
    val nSlices = math.ceil(totalSegs.toDouble / segsPerSlice).toInt

    // resume consistency: every already-committed slice's recorded segment
    // range must equal what THIS run's geometry assigns to its id — a
    // cfg.slices (or corpus bounds) mismatch would otherwise re-slice the
    // docID space so the remaining slices overlap or skip the committed
    // ones, double- or under-indexing documents
    // (slices with ids beyond this build's range are later live appends —
    // they have their own geometry and are not part of the resume layout)
    store.committedSlices
      .filter(s => done.contains(s.sliceId) && s.sliceId < nSlices)
      .foreach { s =>
      val expLo = segLoAll + s.sliceId * segsPerSlice
      val expHi = math.min(segLoAll + (s.sliceId + 1) * segsPerSlice - 1, segHiAll)
      require(s.segLo == expLo && s.segHi == expHi,
        s"resume layout mismatch at ${store.root}: committed slice ${s.sliceId} covers " +
          s"segs [${s.segLo}, ${s.segHi}] but the supplied config/corpus re-derives " +
          s"[$expLo, $expHi] — resume with the original config over the original corpus, " +
          "or rebuild fresh")
    }

    // the build recipe rides the store's settings so `append` can derive
    // it (segment geometry and codec must match across slices) — recorded
    // only AFTER the resume guards above accepted this cfg, so a refused
    // resume can never overwrite the recipe the committed slices used
    store.setSettings(Map(
      "build.segSize" -> cfg.segSize.toString,
      "build.blockSize" -> cfg.blockSize.toString,
      "build.codec" -> cfg.codec,
      "build.positions" -> cfg.positions.toString,
      "build.slices" -> cfg.slices.toString))

    var built = 0
    var skipped = 0
    var totalPostings = 0L
    var sliceId = 0
    var propsWritten = manifestProps.isEmpty
    while (sliceId < nSlices) {
      if (done.contains(sliceId)) { skipped += 1 }
      else {
        val segLo = segLoAll + sliceId * segsPerSlice
        val segHi = math.min(segLoAll + (sliceId + 1) * segsPerSlice - 1, segHiAll)
        val lo = segLo * segSize
        val hi = (segHi + 1) * segSize // exclusive
        // docID-range predicate pushes down into the source scan
        val slice = base.filter(col("doc_id") >= lo && col("doc_id") < hi)
        val m = buildSlice(spark, slice, store, cfg, sliceId, segLo, segHi)
        // caller props (e.g. the streaming replay guard) may only commit
        // once the WHOLE build is durable — they ride the FINAL slice's
        // atomic manifest rename, so a crash mid-build leaves them unset
        // and the batch is rebuilt, never half-indexed-but-guarded.
        // `earlyProps` (e.g. the streaming bootstrap-in-progress marker)
        // ride EVERY commit, so a crashed multi-slice build is
        // recognizable as in-progress from its very first slice.
        val last = sliceId == nSlices - 1
        store.commitSlice(m, if (last) earlyProps ++ manifestProps else earlyProps)
        if (last) propsWritten = true
        totalPostings += m.postings
        built += 1
        if (built >= failAfterSlice)
          throw new RuntimeException(s"injected failure after slice $sliceId")
      }
      sliceId += 1
    }
    // final slice was already committed by a previous (crashed) run: the
    // index is complete, record the props now (slice data already durable,
    // so this second rename has no correctness window)
    if (!propsWritten) store.setManifestProps(manifestProps)
    BuildReport(built, skipped, nDocs, totalPostings, (System.nanoTime() - t0) / 1000000)
  }

  /** The build's input columns, in `SegmentInverter.Doc` order. */
  private def normalize(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("long").as("doc_id"),
      col("url").cast("string").as("url"),
      col("text"),
      col("lang").cast("string").as("lang"))

  /** Append NEW documents to a committed index as one fresh slice — the
    * live-index form of the reference's recurring bulkupdate runs (an
    * index at 10^12 docs is never rebuilt for a crawl increment). The
    * build recipe (segment geometry, codec, positions) is read back from
    * the store's settings, and the new docIDs must begin in a segment
    * BEYOND every committed slice's range: segments are the unit of
    * document sharding and live in exactly one slice (norms and blocks
    * assume it). Soundness under drifting corpus stats comes from the
    * impact metadata — (maxTf, minDl) per block bounds scores under
    * whatever avgdl the query computes, so earlier slices never need
    * rewriting. Term df/cf are sums over the postings, and corpus stats
    * fold over the norms, so query-time stats cover the new slice as they
    * read it.
    */
  def append(
      spark: SparkSession,
      newDocs: DataFrame,
      store: IndexStore,
      manifestProps: Map[String, String] = Map.empty): SliceMeta = {
    require(store.exists && store.settings.contains("build.segSize"),
      s"append requires an index built by IndexBuilder.build at ${store.root}")
    val cfg = recordedConfig(store)
    val committed = store.committedSlices
    require(committed.nonEmpty, s"nothing committed at ${store.root}")
    val segSize = cfg.segSize.toLong

    val base = normalize(newDocs)
    val bounds = base.agg(min("doc_id"), max("doc_id"), count("*")).head()
    require(bounds.getLong(2) > 0, "append of an empty batch")
    val (minId, maxId) = (bounds.getLong(0), bounds.getLong(1))
    val segLo = (minId / segSize).toInt
    val segHi = (maxId / segSize).toInt
    val maxCommitted = committed.map(_.segHi).max
    require(segLo > maxCommitted,
      s"appended docIDs must start in a fresh segment: min docID $minId lands in seg " +
        s"$segLo but the committed index ends at seg $maxCommitted — first appendable " +
        s"docID is ${nextAppendDocId(store)}")
    val sliceId = committed.map(_.sliceId).max + 1
    val m = buildSlice(spark, base, store, cfg, sliceId, segLo, segHi)
    // manifestProps commit in the SAME atomic rename as the slice — the
    // streaming replay guard rides here so no crash can separate them
    store.commitSlice(m, manifestProps)
    m
  }

  /** The build recipe recorded in the store's settings — the single source
    * of truth for segment geometry and codec once any slice is committed.
    */
  def recordedConfig(store: IndexStore): Config = {
    val s = store.settings
    Config(
      segSize = s("build.segSize").toInt,
      blockSize = s("build.blockSize").toInt,
      slices = s.getOrElse("build.slices", "1").toInt,
      codec = s("build.codec"),
      positions = s("build.positions").toBoolean)
  }

  /** First docID a live append may use (the next fresh segment boundary) —
    * what a deterministic docID allocator should hand the next increment.
    */
  def nextAppendDocId(store: IndexStore): Long = {
    val s = store.settings
    require(s.contains("build.segSize") && store.committedSlices.nonEmpty,
      s"no appendable index at ${store.root} — build with IndexBuilder.build first")
    (store.committedSlices.map(_.segHi).max + 1L) * s("build.segSize").toLong
  }

  /** Build one slice: its documents are partitioned by segment and
    * sorted by docID (the build's only document-sized shuffle), then one
    * `SegmentInverter` per partition emits every segment's blocks, norms
    * row and doc rows in a single pass. The pass is persisted once and
    * written three ways.
    *
    * Segment `segLo + i` of the slice's S goes to partition `i·P/S`, with
    * P the smaller of S and `spark.sql.shuffle.partitions`: each segment
    * gets a task of its own when the slice has no more segments than
    * partitions, and past that a task inverts a contiguous run of
    * segments in turn, so its postings file and its norms file hold the
    * same segment range. The partition count is explicit, so AQE does not
    * coalesce segments back together.
    */
  private def buildSlice(
      spark: SparkSession,
      slice: DataFrame,
      store: IndexStore,
      cfg: Config,
      sliceId: Int,
      segLo: Int,
      segHi: Int): SliceMeta = {
    import spark.implicits._
    val nSegs = segHi - segLo + 1
    val parts = math.min(nSegs, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val inverted = slice
      .repartitionById(parts,
        expr(s"((doc_id DIV ${cfg.segSize}L) - $segLo) * $parts DIV $nSegs").cast("int"))
      .sortWithinPartitions(col("doc_id"))
      .as[SegmentInverter.Doc]
      .mapPartitions(docs => new SegmentInverter(docs, cfg))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Observations ride the writes: manifest counts with no extra pass
    val pObs = Observation()
    val dObs = Observation()
    try {
      // a local sort, no Exchange: each file stays term-sorted for
      // row-group pruning of term lookups. One file per task (no
      // maxRecordsPerFile cut) keeps each segment in one file: `segLocal`
      inverted.where(col("block").isNotNull).select("block.*")
        .sortWithinPartitions(col("term"), col("seg"), col("blk"))
        .observe(pObs, sum("n").as("postings"), count(lit(1)).as("blocks"))
        .write.mode("overwrite").option("maxRecordsPerFile", 0L).parquet(store.slicePath("postings", sliceId))
      inverted.where(col("norms").isNotNull).select("norms.*")
        .write.mode("overwrite").parquet(store.slicePath("norms", sliceId))
      inverted.where(col("doc").isNotNull).select("doc.*")
        .observe(dObs, count(lit(1)).as("docs"))
        .write.mode("overwrite").parquet(store.slicePath("docs", sliceId))
    } finally inverted.unpersist()

    val pMetrics = pObs.get
    val nPostings = Option(pMetrics("postings")).map(_.asInstanceOf[Long]).getOrElse(0L)
    SliceMeta(sliceId, segLo, segHi, dObs.get("docs").asInstanceOf[Long], nPostings,
      pMetrics("blocks").asInstanceOf[Long], store.postingBytes(sliceId),
      System.currentTimeMillis(), segLocal = true)
  }
}

/** One row of a segment's inversion; exactly one field is set. */
private[index] case class Inverted(block: PostingBlock, norms: SegNorms, doc: DocMeta)

/** Inverts documents sorted by docID, one segment at a time: each document
  * is tokenized once, and yields its `DocMeta` row at once and its
  * postings into its terms' open blocks. Docs reach a term in docID order,
  * so a term's block is emitted as soon as it holds `blockSize` postings
  * and the next one arrives; at the segment's end every partial block is
  * flushed, then the segment's `SegNorms` row. Blocks equal those of
  * grouping the segment's postings by term, sorting by docID and chunking
  * by `blockSize`.
  *
  * Memory is bounded by ONE segment's open blocks — at most `blockSize`
  * postings (with their positions) per distinct term of the segment — plus
  * the segment's docIDs and doclens for its norms row (≤ `segSize` each),
  * never by a segment's full posting lists.
  */
private[index] final class SegmentInverter(
    docs: Iterator[SegmentInverter.Doc],
    cfg: IndexBuilder.Config) extends Iterator[Inverted] {
  import SegmentInverter.OpenBlock

  private val segSize = cfg.segSize.toLong
  private val codec = Codecs.of(cfg.codec)
  private val out = new java.util.ArrayDeque[Inverted]()
  private val open = new java.util.HashMap[String, OpenBlock]()
  private val segDocs = new scala.collection.mutable.ArrayBuilder.ofLong
  private val segLens = new scala.collection.mutable.ArrayBuilder.ofInt
  private var seg = 0
  private var ord = -1 // ordinal of the current doc within its segment

  override def hasNext: Boolean = { fill(); !out.isEmpty }
  override def next(): Inverted = {
    fill()
    if (out.isEmpty) throw new NoSuchElementException("inverter exhausted")
    out.poll()
  }

  private def fill(): Unit = {
    while (out.isEmpty && docs.hasNext) add(docs.next())
    if (out.isEmpty && ord >= 0) finishSegment()
  }

  private def add(d: SegmentInverter.Doc): Unit = {
    val s = (d.doc_id / segSize).toInt
    if (ord >= 0 && s != seg) finishSegment()
    seg = s
    ord += 1
    val toks = graft.analysis.Analyzer.tokenize(d.text)
    val dl = toks.length
    var i = 0
    while (i < toks.length) {
      var b = open.get(toks(i))
      if (b == null) { b = new OpenBlock(toks(i), cfg.positions); open.put(toks(i), b) }
      if (b.lastOrd != ord) {
        if (b.n == cfg.blockSize) out.add(Inverted(b.emit(seg, codec), null, null))
        b.start(ord, d.doc_id, dl)
      }
      b.hit(i)
      i += 1
    }
    segDocs += d.doc_id
    segLens += dl
    out.add(Inverted(null, null, DocMeta(d.doc_id, d.url, dl, d.lang)))
  }

  private def finishSegment(): Unit = {
    val it = open.values().iterator()
    while (it.hasNext) {
      val b = it.next()
      out.add(Inverted(b.emit(seg, codec), null, null))
    }
    open.clear()
    val ds = segDocs.result()
    out.add(Inverted(null, SegNorms(seg, ds.length, ds(0),
      VByte.encode(VByte.deltasFrom(ds(0), ds)), VByte.packInts(segLens.result())), null))
    segDocs.clear()
    segLens.clear()
    ord = -1
  }
}

private[index] object SegmentInverter {
  /** A source document, as `IndexBuilder.normalize` projects it. */
  case class Doc(doc_id: Long, url: String, text: String, lang: String)

  /** A term's open block in the current segment: its postings since the
    * last emitted block, with each doc's positions as a gap list (gaps
    * restart at each doc, as `TermPostings.decodePositions` reads them).
    */
  final class OpenBlock(term: String, withPositions: Boolean) {
    var lastOrd = -1
    var n = 0
    private var blk = 0
    private var docs = new Array[Long](4)
    private var tfs = new Array[Long](4)
    private var minDl = Int.MaxValue
    private var gaps = if (withPositions) new Array[Long](4) else null
    private var nGaps = 0
    private var prevPos = 0

    def start(ord: Int, docId: Long, dl: Int): Unit = {
      if (n == docs.length) {
        docs = java.util.Arrays.copyOf(docs, n * 2)
        tfs = java.util.Arrays.copyOf(tfs, n * 2)
      }
      lastOrd = ord
      docs(n) = docId
      tfs(n) = 0
      if (dl < minDl) minDl = dl
      prevPos = 0
      n += 1
    }

    def hit(pos: Int): Unit = {
      tfs(n - 1) += 1
      if (withPositions) {
        if (nGaps == gaps.length) gaps = java.util.Arrays.copyOf(gaps, nGaps * 2)
        gaps(nGaps) = (pos - prevPos).toLong
        prevPos = pos
        nGaps += 1
      }
    }

    /** Encode the open postings as block `blk` and start an empty one.
      * Impact metadata is (maxTf, minDl), not a baked-in tfNorm, so
      * block-max bounds stay sound under the stats the QUERY sees.
      */
    def emit(seg: Int, codec: Byte): PostingBlock = {
      var maxTf, tfSum = 0L
      var i = 0
      while (i < n) { maxTf = math.max(maxTf, tfs(i)); tfSum += tfs(i); i += 1 }
      val ds = java.util.Arrays.copyOf(docs, n)
      // positions are always VByte: the stream length is Σtf (unbounded
      // per block — PFor's 255-value cap doesn't fit), and position gaps
      // are small ints where VByte is already ~1 byte each
      val b = PostingBlock(term, seg, blk, n, ds(0), ds(n - 1), maxTf, minDl, tfSum, codec,
        Codecs.encode(codec, VByte.deltasFrom(ds(0), ds)),
        Codecs.encode(codec, java.util.Arrays.copyOf(tfs, n)),
        if (withPositions) VByte.encode(java.util.Arrays.copyOf(gaps, nGaps)) else null)
      blk += 1
      n = 0
      minDl = Int.MaxValue
      nGaps = 0
      b
    }
  }
}
