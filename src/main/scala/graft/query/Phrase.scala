package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index._

/** Exact phrase search over a positional index (built with
  * `IndexBuilder.Config(positions = true)`).
  *
  * Semantics: a document matches when the phrase's tokens appear at
  * consecutive token positions; `ptf` counts ALL occurrences including
  * overlapping ones (Lucene PhraseQuery's sloppy-freq at slop 0). The
  * phrase scores as a pseudo-term through the same BM25 kernel as every
  * other path: idf over the EXACT phrase document frequency, tf = ptf.
  *
  * Scale shape: the term IN-filter pushes into the postings scan (only
  * the phrase's terms' blocks travel), matching runs segment-local
  * (`Segments.perSegment` — the same document sharding and the same
  * norms route as WAND, so doclens resolve beside the matches), and the
  * top-k is a TakeOrdered merge. df resolution is one count over the
  * persisted match set (released before returning).
  */
object Phrase {

  /** Per-segment phrase occurrence counting over decoded positions. */
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

  /** Segment-local matcher: decode the phrase terms' positions, intersect
    * on docID from the rarest term, count consecutive-position occurrences.
    */
  private def segMatches(
      blocks: Array[PostingBlock],
      distinctTerms: Seq[String],
      slotsSeq: IndexedSeq[String]): scala.collection.mutable.ArrayBuffer[(Long, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val byTerm = blocks.groupBy(_.term)
    if (distinctTerms.exists(t => !byTerm.contains(t))) return out
    // per term: docId -> positions within this segment
    val posByTerm: Map[String, java.util.HashMap[Long, Array[Int]]] =
      byTerm.map { case (t, bs) =>
        val m = new java.util.HashMap[Long, Array[Int]]()
        bs.foreach { b =>
          val (docs, _) = TermPostings.decodeBlock(b)
          val ps = TermPostings.decodePositions(b)
          var i = 0
          while (i < docs.length) { m.put(docs(i), ps(i)); i += 1 }
        }
        t -> m
      }
    // candidates = docs holding every distinct term (iterate the
    // rarest term's map, probe the others)
    val rarest = distinctTerms.minBy(t => posByTerm(t).size)
    posByTerm(rarest).forEach { (doc, _) =>
      if (distinctTerms.forall(t => posByTerm(t).containsKey(doc))) {
        val slotPs = slotsSeq.map(t => posByTerm(t).get(doc)).toArray
        val c = countOccurrences(slotPs)
        if (c > 0) out += ((doc, c))
      }
    }
    out
  }

  /** The (docId, ptf, doclen) match plan: only the phrase terms' blocks
    * travel (the IN-filter reaches the parquet scan), and each segment
    * matches locally and resolves its matches' doclens from its own norms
    * row — one decode per segment, a binary search per match, no join
    * against the docs table. `topK` persists + scores it.
    */
  private[graft] def matches(
      idx: OpenIndex,
      slotsSeq: IndexedSeq[String]): org.apache.spark.sql.Dataset[(Long, Int, Long)] = {
    val spark = idx.docs.sparkSession
    import spark.implicits._
    val distinctTerms = slotsSeq.distinct
    Segments.perSegment(idx, idx.postings.filter(col("term").isin(distinctTerms: _*))) {
      (blocks, nm) =>
        val ms = segMatches(blocks, distinctTerms, slotsSeq)
        if (ms.isEmpty) Iterator.empty
        else {
          val docs = SegNorms.docsOf(nm)
          ms.iterator.map { case (d, ptf) => (d, ptf, SegNorms.doclenAt(nm, docs, d).toLong) }
        }
    }
  }

  /** Phrase top-k as (doc_id, score). Empty result when any phrase term
    * is absent from the index or the phrase never occurs.
    */
  def topK(spark: SparkSession, idx: OpenIndex, phrase: String, k: Int): DataFrame = {
    import spark.implicits._
    val slots = Analyzer.tokenize(phrase) // ordered, duplicates preserved
    require(slots.nonEmpty, "empty phrase")
    val stats = idx.stats
    def emptyResult = Seq.empty[(Long, Double)].toDF("doc_id", "score")
    if (stats.nDocs == 0) return emptyResult
    val avgdl = stats.avgdl

    // the exact global phrase df is one count over the persisted match
    // set; the scored top-k is then materialized and the set released
    val persisted = matches(idx, slots.toIndexedSeq)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfPhrase = persisted.count()
    if (dfPhrase == 0) { persisted.unpersist(blocking = false); return emptyResult }
    val idf = BM25.idf(stats.nDocs, dfPhrase)
    val scored = persisted
      .map { case (d, ptf, dl) => (d, idf * BM25.tfNorm(ptf.toLong, dl, avgdl)) }
      .toDF("doc_id", "score")
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
    val rows = scored.collect()
    persisted.unpersist(blocking = true)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), scored.schema)
  }
}
