package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analysis.Analyzer
import graft.index._

/** One segment's phrase answer (`Phrase.segTopK`): how many of its
  * documents match, and the matches that can still reach the global
  * top-k, as aligned docIDs and tfNorms.
  */
private[graft] case class PhrasePart(count: Long, docs: Array[Long], tfNorms: Array[Double])

/** Exact phrase search over a positional index (built with
  * `IndexBuilder.Config(positions = true)`).
  *
  * Semantics: a document matches when the phrase's tokens appear at
  * consecutive token positions; `ptf` counts ALL occurrences including
  * overlapping ones (Lucene PhraseQuery's sloppy-freq at slop 0). The
  * phrase scores as a pseudo-term through the same BM25 kernel as every
  * other path: idf over the EXACT phrase document frequency, tf = ptf.
  *
  * One path: the Spark job here and every serving open run `segTopK` per
  * segment and hand the parts to `finish`. BM25 idf is positive, so
  * ranking by idf·tfNorm is ranking by tfNorm except where the multiply
  * rounds two tfNorms to one score; a segment therefore reports only its
  * match count (the phrase df is their sum) and the matches within the
  * rounding margin of its k-th best tfNorm. On the Spark path each
  * segment matches beside its own norms, held in the resident scan unit
  * that holds its blocks with positions (`Segments.perSegment`, the route
  * WAND takes), and the parts come back from one job with no Exchange.
  */
object Phrase {

  /** Products idf·x and idf·y of a positive idf round to one double only
    * when x and y differ by under about 2^-52 relative; this widening
    * covers that with room for its own rounding.
    */
  private final val Margin = 1.0 + java.lang.Math.scalb(1.0, -50)

  /** Per-document phrase occurrence counting over decoded positions. */
  private[query] def countOccurrences(slotPositions: Array[Array[Int]]): Int = {
    // slotPositions(i) = ascending token indexes of the phrase's i-th slot
    val first = slotPositions(0)
    var count = 0
    var i = 0
    while (i < first.length) {
      val p = first(i)
      var ok = true
      var s = 1
      while (ok && s < slotPositions.length) {
        if (java.util.Arrays.binarySearch(slotPositions(s), p + s) < 0) ok = false
        s += 1
      }
      if (ok) count += 1
      i += 1
    }
    count
  }

  /** The phrase kernel over one segment's blocks of the phrase terms:
    * candidates are the rarest term's documents, a candidate's positions
    * come from the block whose docID range holds it (a term's blocks
    * partition its range, so that is the first block whose lastDoc reaches
    * the doc), and a match's tfNorm is BM25's with tf = ptf.
    */
  private[query] def segTopK(
      blocks: Array[PostingBlock],
      slots: IndexedSeq[String],
      positionsOf: PostingBlock => Serving.DecodedPositions,
      norms: DecodedNorms,
      avgdl: Double,
      k: Int): PhrasePart = {
    val terms = slots.distinct
    val byTerm = blocks.groupBy(_.term)
    if (terms.exists(t => !byTerm.contains(t))) return localTopK(Array.empty, Array.empty, k)
    val termBlocks = terms.map(t => byTerm(t).sortBy(_.firstDoc))
    val lastDocs = termBlocks.map(_.map(_.lastDoc))
    val maps = termBlocks.map(_.map(positionsOf))
    def positions(ti: Int, doc: Long): Array[Int] = {
      val i = java.util.Arrays.binarySearch(lastDocs(ti), doc)
      val b = if (i >= 0) i else -i - 1
      if (b == maps(ti).length) null else maps(ti)(b).get(doc)
    }
    val slotTerm = slots.map(terms.indexOf).toArray
    val termPs = new Array[Array[Int]](terms.length)
    val slotPs = new Array[Array[Int]](slots.length)
    val docs = new scala.collection.mutable.ArrayBuilder.ofLong
    val tfNorms = new scala.collection.mutable.ArrayBuilder.ofDouble
    val rarest = terms.indices.minBy(ti => termBlocks(ti).iterator.map(_.n).sum)
    maps(rarest).foreach(_.forEach { (doc, _) =>
      var all = true
      var ti = 0
      while (all && ti < terms.length) {
        termPs(ti) = positions(ti, doc); all = termPs(ti) != null; ti += 1
      }
      if (all) {
        var s = 0
        while (s < slots.length) { slotPs(s) = termPs(slotTerm(s)); s += 1 }
        val ptf = countOccurrences(slotPs)
        if (ptf > 0) {
          docs += doc
          tfNorms += BM25.tfNorm(ptf.toLong, norms.doclen(doc), avgdl)
        }
      }
    })
    localTopK(docs.result(), tfNorms.result(), k)
  }

  /** The candidate rule: a segment with more than k matches keeps those
    * whose tfNorm, widened by `Margin`, reaches its k-th largest tfNorm.
    * That is exact for the (idf·tfNorm desc, docId asc) order. Keeping
    * only exact ties with the k-th is not: two different tfNorms can round
    * to one score, and then the docID decides.
    */
  private[query] def localTopK(docs: Array[Long], tfNorms: Array[Double], k: Int): PhrasePart = {
    require(k > 0, s"k must be positive, got $k")
    if (docs.length <= k) return PhrasePart(docs.length, docs, tfNorms)
    val sorted = tfNorms.clone()
    java.util.Arrays.sort(sorted)
    val kth = sorted(sorted.length - k)
    val keep = tfNorms.indices.filter(i => tfNorms(i) * Margin >= kth)
    PhrasePart(docs.length, keep.map(docs).toArray, keep.map(tfNorms).toArray)
  }

  /** The finisher every phrase caller shares: the exact phrase df is the
    * sum of the parts' counts, idf is computed once, and the candidates
    * merge by (idf·tfNorm desc, docId asc) — the order and the doubles of
    * scoring every match.
    */
  private[query] def finish(parts: IterableOnce[PhrasePart], nDocs: Long, k: Int): Array[(Long, Double)] = {
    val ps = parts.iterator.toArray
    val df = ps.iterator.map(_.count).sum
    if (df == 0) return Array.empty
    val idf = BM25.idf(nDocs, df)
    val heap = new TopKHeap(k)
    ps.foreach(p => p.docs.indices.foreach(i => heap.offer(p.docs(i), idf * p.tfNorms(i))))
    heap.ranked()
  }

  /** Phrase top-k as (doc_id, score). Empty result when any phrase term
    * is absent from the index or the phrase never occurs.
    */
  def topK(spark: SparkSession, idx: OpenIndex, phrase: String, k: Int): DataFrame = {
    val slots = Analyzer.tokenize(phrase).toIndexedSeq // ordered, duplicates preserved
    require(slots.nonEmpty, "empty phrase")
    val stats = idx.stats
    val avgdl = stats.avgdl
    // a segment without a match emits no part
    val parts = Segments.perSegment(idx, slots.distinct, positions = true) { (blocks, norms) =>
      val p = segTopK(blocks, slots, Serving.decodePositionsOf, norms, avgdl, k)
      if (p.count == 0) Iterator.empty else Iterator.single(p)
    }
    TopKFrame(spark, finish(parts, stats.nDocs, k))
  }
}
