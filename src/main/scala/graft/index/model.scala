package graft.index

/** On-disk index model (SURVEY.md §1.4): an "index" is a set of Parquet
  * tables plus a JSON manifest with per-slice lineage and metrics — the
  * Iceberg-shaped metadata layer (no Iceberg runtime jar ships in this
  * sandbox; the layout is kept behind IndexStore so a real catalog drops
  * in later).
  *
  * Postings are document-partitioned into fixed-size docID segments
  * (`seg = docId / segSize`). Within a (term, seg) pair, postings are
  * sorted by docID, chunked into blocks of `blockSize`, delta+VByte
  * compressed, and carry block-max BM25 tf-normalization metadata for
  * block-max WAND. A segment is also the build's unit of work: one task
  * inverts all of a segment's documents (`SegmentInverter`), so its state
  * is bounded by segSize documents however skewed the terms are.
  */
case class PostingBlock(
    term: String,
    seg: Int,
    blk: Int,
    n: Int,
    firstDoc: Long,
    lastDoc: Long,
    maxTf: Long,           // impact metadata: max tf in block …
    minDl: Int,            // … and min doclen. tfNorm is increasing in tf
                           // and decreasing in dl, so tfNorm(maxTf, minDl,
                           // avgdl_now) bounds every member under the
                           // CURRENT corpus stats — unlike a baked-in
                           // maxTfNorm, the bound stays sound when appends
                           // shift avgdl (Lucene impact style)
    tfSum: Long,           // Σ tf in this block (cf derives without decode)
    codec: Byte,           // Codecs.VB (VByte) or Codecs.PFOR (PForDelta)
    docDeltas: Array[Byte],// encoded gaps; first gap is from firstDoc (== 0)
    tfs: Array[Byte],      // encoded term frequencies, aligned with docDeltas
    positions: Array[Byte] = null) // OPTIONAL positional payload (Lucene
                           // IndexOptions analogue, built when
                           // Config.positions): per-doc token-index gap
                           // lists concatenated in docID order — tf values
                           // give the per-doc split points; always VByte
                           // (stream length Σtf is unbounded per block).
                           // null when built without positions.

/** Per-segment document norms: sorted docIDs (delta+VByte) + doclens. */
case class SegNorms(
    seg: Int,
    n: Int,
    firstDoc: Long,
    docDeltas: Array[Byte],
    doclens: Array[Byte])  // fixed 4-byte LE ints, aligned with docIDs

object SegNorms {
  /** The one decoded form every doclen consumer (WAND, phrase, serving)
    * reads a norms row through.
    */
  def decode(n: SegNorms): DecodedNorms =
    new DecodedNorms(n.seg, VByte.undeltas(n.firstDoc, VByte.decode(n.docDeltas, n.n)),
      Array.tabulate(n.n)(i => VByte.unpackIntAt(n.doclens, i)))
}

/** A segment's norms decoded once: ascending docIDs and their doclens. */
final class DecodedNorms(val seg: Int, docs: Array[Long], lens: Array[Int]) {
  /** doclen of `docId` by binary search; a missing doc is an
    * index-corruption invariant violation, not a soft miss.
    */
  def doclen(docId: Long): Long = {
    val i = java.util.Arrays.binarySearch(docs, docId)
    require(i >= 0, s"docId $docId missing from norms of seg $seg")
    lens(i).toLong
  }
}

case class TermStat(term: String, df: Long, cf: Long)

/** Term stats are a function of the postings, as Lucene's docFreq and
  * totalTermFreq sit in each segment's term dictionary beside them: a
  * term's blocks partition its documents, so df = Σ n and cf = Σ tfSum.
  * No table stores them.
  */
object TermStat {
  /** Every term's stats, derived in one aggregate: the scan reads only
    * `term`, `n` and `tfSum`.
    */
  def of(postings: org.apache.spark.sql.Dataset[PostingBlock])
      : org.apache.spark.sql.Dataset[TermStat] = {
    import org.apache.spark.sql.functions.sum
    postings.groupBy("term").agg(sum("n").as("df"), sum("tfSum").as("cf"))
      .as[TermStat](org.apache.spark.sql.Encoders.product[TermStat])
  }

  /** Add (`sign` 1) or subtract (`sign` -1) `blocks`' df into `df`, and
    * return it. A term whose df reaches 0 is removed, not kept at 0:
    * serving looks query terms up with `containsKey`. A missing key's
    * `get` unboxes to 0L, the additive identity.
    */
  def addDf(df: java.util.HashMap[String, Long], blocks: Array[PostingBlock],
      sign: Int = 1): java.util.HashMap[String, Long] = {
    blocks.foreach { b =>
      val left = df.get(b.term) + sign * b.n.toLong
      if (left <= 0L) df.remove(b.term) else df.put(b.term, left)
    }
    df
  }
}

case class IndexStats(nDocs: Long, avgdl: Double, nTerms: Long, totalTokens: Long)

object IndexStats {
  /** Corpus stats from a snapshot's norms rows: nDocs = Σ n and
    * totalTokens = Σ doclen. The one derivation every stats path uses (an
    * open index, every serving open, the shard export), so no path can
    * score with stats another path would not. Norms are written from the
    * docs table's doclens and merges copy them, so the values equal
    * `fromDocs` over the same snapshot.
    */
  def fromNorms(rows: IterableOnce[SegNorms], nTerms: Long): IndexStats = {
    var n, tok = 0L
    rows.iterator.foreach { r =>
      n += r.n
      var i = 0
      while (i < r.n) { tok += VByte.unpackIntAt(r.doclens, i); i += 1 }
    }
    merge(Iterator.single(IndexStats(n, 0.0, 0L, tok)), nTerms)
  }

  /** `fromNorms` over a norms table: each partition folds its rows on an
    * executor, and the driver merges one partial per partition.
    */
  def fromNorms(norms: org.apache.spark.sql.Dataset[SegNorms], nTerms: Long): IndexStats =
    merge(norms.mapPartitions(it => Iterator.single(fromNorms(it, 0L)))(
      org.apache.spark.sql.Encoders.product[IndexStats]).collect(), nTerms)

  /** Stats of the union of disjoint parts (norms partitions, or a serving
    * node's slices): their nDocs and totalTokens add. An empty union has
    * avgdl 0, not NaN.
    */
  def merge(parts: IterableOnce[IndexStats], nTerms: Long): IndexStats = {
    var n, tok = 0L
    parts.iterator.foreach { p => n += p.nDocs; tok += p.totalTokens }
    IndexStats(n, if (n == 0) 0.0 else tok.toDouble / n, nTerms, tok)
  }

  /** Corpus stats from a docs table, one null-safe aggregate (the sum of
    * doclen over zero rows is SQL null, so an empty snapshot must not
    * NPE). No query path uses it: it is the independent reference the
    * norms-derived stats are tested against.
    */
  def fromDocs(docs: org.apache.spark.sql.DataFrame, nTerms: Long): IndexStats = {
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val d = docs.agg(count(lit(1)), coalesce(sum("doclen"), lit(0L))).head()
    val (n, tok) = (d.getLong(0), d.getLong(1))
    IndexStats(n, if (n == 0) 0.0 else tok.toDouble / n, nTerms, tok)
  }
}

case class DocMeta(doc_id: Long, url: String, doclen: Int, lang: String)

/** Decoded posting cursor state used by the WAND evaluator.
  * `decode` is pluggable: the distributed path decodes lazily per block
  * load; the serving tier supplies a pre-decoded lookup so queries run
  * allocation-free (the decode cost was paid once at index load).
  */
private[graft] final class TermPostings(
    val term: String,
    val idf: Double,
    blocksIn: Array[PostingBlock],
    avgdl: Double,
    decode: PostingBlock => (Array[Long], Array[Long]) = TermPostings.decodeBlock) {

  val blocks: Array[PostingBlock] = blocksIn.sortBy(_.blk)
  /** Per-block score bound from the impact metadata, computed against the
    * CURRENT avgdl (once per cursor, off the hot loop).
    */
  private val blockBounds: Array[Double] = {
    val out = new Array[Double](blocks.length)
    var i = 0
    while (i < blocks.length) {
      out(i) = idf * BM25.tfNorm(blocks(i).maxTf, blocks(i).minDl.toLong, avgdl)
      i += 1
    }
    out
  }
  /** Global upper bound for this term: max block bound. */
  val maxScore: Double = {
    var m = 0.0
    var i = 0
    while (i < blockBounds.length) { if (blockBounds(i) > m) m = blockBounds(i); i += 1 }
    m
  }

  private var blockIdx = 0
  private var docs: Array[Long] = _
  private var tfsArr: Array[Long] = _
  private var pos = 0
  private var exhausted = blocks.isEmpty
  if (!exhausted) loadBlock(0)

  private def loadBlock(i: Int): Unit = {
    val b = blocks(i)
    val (d, t) = decode(b)
    docs = d
    tfsArr = t
    pos = 0
    blockIdx = i
  }

  def isExhausted: Boolean = exhausted
  def docId: Long = docs(pos)
  def tf: Long = tfsArr(pos)
  /** Upper bound of the current block (block-max). */
  def blockMaxScore: Double = blockBounds(blockIdx)
  /** Last docID of the current block (skip boundary). */
  def blockLastDoc: Long = blocks(blockIdx).lastDoc

  /** Advance to the first posting with docId >= target. */
  def advanceTo(target: Long): Unit = {
    if (exhausted) return
    // skip whole blocks via lastDoc metadata
    if (blocks(blockIdx).lastDoc < target) {
      var i = blockIdx + 1
      while (i < blocks.length && blocks(i).lastDoc < target) i += 1
      if (i >= blocks.length) { exhausted = true; return }
      loadBlock(i)
    }
    // binary search within the decoded block
    var lo = pos
    var hi = docs.length - 1
    if (docs(lo) >= target) { pos = lo; return }
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (docs(mid) < target) lo = mid else hi = mid - 1
    }
    pos = lo + 1
    if (pos >= docs.length) {
      if (blockIdx + 1 < blocks.length) loadBlock(blockIdx + 1)
      else exhausted = true
    }
  }

  def next(): Unit = {
    if (exhausted) return
    pos += 1
    if (pos >= docs.length) {
      if (blockIdx + 1 < blocks.length) loadBlock(blockIdx + 1)
      else exhausted = true
    }
  }
}

private[graft] object TermPostings {
  /** Default lazy block decode (the distributed path). */
  def decodeBlock(b: PostingBlock): (Array[Long], Array[Long]) =
    (VByte.undeltas(b.firstDoc, Codecs.decode(b.codec, b.docDeltas, b.n)),
      Codecs.decode(b.codec, b.tfs, b.n))

  /** Decode the positional payload: one ascending token-index array per
    * posting, aligned with the block's docIDs. Requires an index built
    * with `Config(positions = true)`.
    */
  def decodePositions(b: PostingBlock): Array[Array[Int]] = {
    require(b.positions != null,
      s"index carries no positions for term '${b.term}' — rebuild with Config(positions = true)")
    val tfs = Codecs.decode(b.codec, b.tfs, b.n)
    var total = 0
    var i = 0
    while (i < b.n) { total += tfs(i).toInt; i += 1 }
    val gaps = VByte.decode(b.positions, total) // positions are always VByte
    val out = new Array[Array[Int]](b.n)
    var g = 0
    i = 0
    while (i < b.n) {
      val m = tfs(i).toInt
      val arr = new Array[Int](m)
      var prev = 0L
      var j = 0
      while (j < m) { prev += gaps(g); arr(j) = prev.toInt; g += 1; j += 1 }
      out(i) = arr
      i += 1
    }
    out
  }
}
