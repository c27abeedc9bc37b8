package graft.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.analysis.Analyzer
import graft.index._

/** Block-max WAND top-k over the compressed document-partitioned index
  * (the native reimplementation of the `_search` relevance path the
  * reference delegates to Lucene, reference web/app.py:104-120).
  *
  * Distribution model: postings are document-partitioned by segment, so
  * each segment's WAND runs independently (`Segments.perSegment`: the
  * segment's blocks with its norms), emits a local top-k, and the driver
  * k-merges the collected top-ks with the `TopKHeap` the serving router
  * and `Phrase.finish` use — the standard document-sharded search
  * architecture. The query runs on the open index's resident scan units:
  * the driver drops the units whose footer term ranges hold no query term,
  * and one job scores each segment in the task that holds its blocks, with
  * the decoded norms held beside them — no SQL plan, no Exchange, no norms
  * on the driver and, once the units are resident, no file read.
  *
  * Determinism: a document's score folds its per-term contributions in
  * ascending term order, so the double-precision sum is bit-identical to
  * the in-repo oracle scorer regardless of WAND's evaluation order.
  * Ties break by ascending docID. Block skipping uses an epsilon margin
  * so float rounding in upper-bound sums can never drop a true top-k doc.
  */
object Wand {

  private final val Eps = 1e-9

  /** Exact top-k (docId, score) for an analyzed free-text query. */
  def topK(spark: SparkSession, index: OpenIndex, query: String, k: Int): DataFrame = {
    val qTerms = Analyzer.tokenize(query).distinct.sorted
    val stats = index.stats
    // term stats from the driver-side map when the vocabulary is bounded
    // (no per-query job); filtered collect otherwise
    val present: Map[String, Long] = index.termsLocal match {
      case Some(m) => qTerms.iterator.flatMap(t => m.get(t).map(t -> _)).toMap
      case None =>
        index.terms
          .filter(col("term").isin(qTerms: _*))
          .collect()
          .map(t => t.term -> t.df)
          .toMap
    }
    if (present.isEmpty || stats.nDocs == 0) return TopKFrame(spark, Array.empty)
    val idfs: Map[String, Double] =
      present.map { case (t, df) => t -> BM25.idf(stats.nDocs, df) }
    val avgdl = stats.avgdl
    val terms = present.keys.toSeq.sorted

    // term queries never read the positional payload, which a positional
    // index stores inline per block (~Σtf VByte bytes, comparable to the
    // postings themselves): only phrase queries read positions
    val parts = Segments.perSegment(index, terms, positions = false) { (blocks, norms) =>
      segTopKWith(blocks, norms.doclen, idfs, avgdl, k, TermPostings.decodeBlock).iterator
    }
    val heap = new TopKHeap(k)
    parts.foreach { case (d, s) => heap.offer(d, s) }
    TopKFrame(spark, heap.ranked())
  }

  /** Kernel form with pluggable doclen lookup + block decoder — the
    * serving tier passes pre-decoded lookups so queries allocate nothing.
    */
  private[query] def segTopKWith(
      blocks: Array[PostingBlock],
      doclen: Long => Long,
      idfs: Map[String, Double],
      avgdl: Double,
      k: Int,
      decode: PostingBlock => (Array[Long], Array[Long])): Array[(Long, Double)] = {

    // `cursors` stays term-sorted for the deterministic score fold; `arr`
    // is the same cursors maintained in docId order IN PLACE — the serving
    // hot loop at mt16 runs thousands of pivot steps per query, and the
    // round-5 per-step `active.sortBy(_.docId)` allocated a fresh buffer
    // (plus boxing) on every one of them, which was GC tail latency. An
    // insertion-sort repair over a reusable array is the standard WAND
    // cursor structure: between steps the array is nearly sorted (only
    // advanced cursors moved), so the repair is O(moved · span), zero
    // allocation.
    val cursors: Array[TermPostings] = blocks
      .groupBy(_.term)
      .toArray
      .sortBy(_._1)
      .map { case (term, bs) => new TermPostings(term, idfs(term), bs, avgdl, decode) }

    val heap = new TopKHeap(k)
    val arr = new Array[TermPostings](cursors.length)
    var n = 0
    cursors.foreach { c => if (!c.isExhausted) { arr(n) = c; n += 1 } }

    var live = n > 0
    while (live) {
      // drop newly exhausted cursors (order-preserving compaction), then
      // repair the docId order in place
      var w = 0
      var r = 0
      while (r < n) { if (!arr(r).isExhausted) { arr(w) = arr(r); w += 1 }; r += 1 }
      n = w
      if (n == 0) live = false
      else {
        var si = 1
        while (si < n) {
          val c = arr(si)
          var sj = si - 1
          while (sj >= 0 && arr(sj).docId > c.docId) { arr(sj + 1) = arr(sj); sj -= 1 }
          arr(sj + 1) = c
          si += 1
        }
        // find pivot: first prefix whose Σ maxScore exceeds threshold
        val theta = heap.threshold
        var ubSum = 0.0
        var pivotIdx = -1
        var i = 0
        while (i < n && pivotIdx < 0) {
          ubSum += arr(i).maxScore
          if (ubSum > theta - Eps || !heap.isFull) pivotIdx = i
          i += 1
        }
        if (pivotIdx < 0) {
          // no prefix can beat the threshold — done with this segment
          live = false
        } else {
          val pivotDoc = arr(pivotIdx).docId
          if (arr(0).docId == pivotDoc) {
            // block-max refinement: tighter bound from current blocks only
            var bmSum = 0.0
            var j = 0
            while (j <= pivotIdx) { bmSum += arr(j).blockMaxScore; j += 1 }
            // include following cursors whose current doc == pivot
            var j2 = pivotIdx + 1
            while (j2 < n && arr(j2).docId == pivotDoc) {
              bmSum += arr(j2).blockMaxScore; j2 += 1
            }
            if (heap.isFull && bmSum <= heap.threshold - Eps) {
              // current blocks can't produce a winner: skip past the nearest
              // block boundary among the involved cursors — but never past
              // the next cursor's docID (docs in between may still score
              // via cursors outside the pivot group; BMW candidate rule)
              var boundary = Long.MaxValue
              var j3 = 0
              while (j3 < j2) {
                if (arr(j3).blockLastDoc < boundary) boundary = arr(j3).blockLastDoc
                j3 += 1
              }
              var target = boundary + 1
              if (j2 < n && arr(j2).docId < target) target = arr(j2).docId
              if (target <= pivotDoc) target = pivotDoc + 1 // progress guard
              var j4 = 0
              while (j4 < j2) { arr(j4).advanceTo(target); j4 += 1 }
            } else {
              // fully score pivotDoc: every cursor sitting on it contributes,
              // folded over the term-sorted `cursors` array — the same
              // ascending-term order the oracle folds in, bit-identical and
              // with no per-doc contribution buffer
              val dl = doclen(pivotDoc)
              var score = 0.0
              var ci = 0
              while (ci < cursors.length) {
                val c = cursors(ci)
                if (!c.isExhausted && c.docId == pivotDoc)
                  score += c.idf * BM25.tfNorm(c.tf, dl, avgdl)
                ci += 1
              }
              heap.offer(pivotDoc, score)
              var j6 = 0
              while (j6 < n) {
                if (arr(j6).docId == pivotDoc) arr(j6).next()
                j6 += 1
              }
            }
          } else {
            // advance pre-pivot cursors to the pivot doc
            var j7 = 0
            while (j7 < pivotIdx) { arr(j7).advanceTo(pivotDoc); j7 += 1 }
          }
        }
      }
    }
    heap.result()
  }
}

/** The one `(doc_id, score)` frame every top-k answer is returned as, over
  * one schema, built from driver-side rows with no encoder.
  */
private[graft] object TopKFrame {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  def apply(spark: SparkSession, hits: Array[(Long, Double)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(hits.map { case (d, s) => Row(d, s) }: _*), schema)
}

/** Bounded min-heap keeping the k best (score desc, docId asc) hits. */
private[graft] final class TopKHeap(k: Int) {
  private val docs = new Array[Long](k)
  private val scores = new Array[Double](k)
  private var size = 0

  def isFull: Boolean = size >= k
  /** Scores ≤ threshold can only win via docID tie-break; WAND uses this
    * with a strict margin so it never skips a potential entry. */
  def threshold: Double = if (isFull) scores(0) else Double.NegativeInfinity

  // min-heap ordered by (score asc, docId desc): root = current worst
  private def worse(i: Int, j: Int): Boolean =
    scores(i) < scores(j) || (scores(i) == scores(j) && docs(i) > docs(j))

  private def swap(i: Int, j: Int): Unit = {
    val d = docs(i); docs(i) = docs(j); docs(j) = d
    val s = scores(i); scores(i) = scores(j); scores(j) = s
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < size && worse(l, m)) m = l
      if (r < size && worse(r, m)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def offer(docId: Long, score: Double): Unit = {
    if (size < k) {
      docs(size) = docId; scores(size) = score; size += 1; siftUp(size - 1)
    } else if (score > scores(0) || (score == scores(0) && docId < docs(0))) {
      docs(0) = docId; scores(0) = score; siftDown()
    }
  }

  /** The kept hits by (score desc, docId asc): the driver-side k-merge of
    * per-segment, per-shard and phrase top-ks. */
  def ranked(): Array[(Long, Double)] = result().sortBy(t => (-t._2, t._1))

  def result(): Array[(Long, Double)] = {
    val out = new Array[(Long, Double)](size)
    var i = 0
    while (i < size) { out(i) = (docs(i), scores(i)); i += 1 }
    out
  }
}
