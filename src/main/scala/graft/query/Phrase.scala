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
  * (flatMapGroups per seg — the same document sharding as WAND), the
  * tiny match set joins doc lengths by broadcast, and the top-k is a
  * TakeOrdered merge. df resolution is one count over the persisted
  * match set (released before returning).
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

  /** The unscored (docId, ptf) match plan — segment-local matching; only
    * the phrase terms' blocks travel (the IN-filter reaches the parquet
    * scan), grouped by document segment. Exposed for the plan audit;
    * `topK` persists + scores it.
    */
  /** Segment-local matcher body shared by the plain and doclen-resolving
    * plans: decode the phrase terms' positions, intersect on docID from
    * the rarest term, count consecutive-position occurrences.
    */
  private def segMatches(
      it: Iterator[PostingBlock],
      distinctTerms: Seq[String],
      slotsSeq: IndexedSeq[String]): scala.collection.mutable.ArrayBuffer[(Long, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val byTerm = it.toArray.groupBy(_.term)
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

  private[graft] def matchesPlan(
      idx: OpenIndex,
      slotsSeq: IndexedSeq[String]): org.apache.spark.sql.Dataset[(Long, Int)] = {
    val spark = idx.docs.sparkSession
    import spark.implicits._
    val distinctTerms = slotsSeq.distinct
    idx.postings
      .filter(col("term").isin(distinctTerms: _*))
      .groupByKey(_.seg)
      .flatMapGroups { (_, it) => segMatches(it, distinctTerms, slotsSeq).iterator }
  }

  /** Match plan that also resolves each match's doclen segment-locally
    * from the broadcast norms (one VByte decode per segment, binary
    * search per match — the same lookup WAND's fast path uses). With it
    * the scoring pass needs NO join against the docs table at all.
    */
  private[graft] def matchesWithDlPlan(
      idx: OpenIndex,
      slotsSeq: IndexedSeq[String],
      bc: org.apache.spark.broadcast.Broadcast[Map[Int, SegNorms]])
      : org.apache.spark.sql.Dataset[(Long, Int, Long)] = {
    val spark = idx.docs.sparkSession
    import spark.implicits._
    val distinctTerms = slotsSeq.distinct
    idx.postings
      .filter(col("term").isin(distinctTerms: _*))
      .groupByKey(_.seg)
      .flatMapGroups { (seg, it) =>
        val ms = segMatches(it, distinctTerms, slotsSeq)
        if (ms.isEmpty) Iterator.empty
        else {
          val nm = bc.value.getOrElse(seg, null)
          require(nm != null, s"seg $seg missing from the broadcast norms")
          val docs = SegNorms.docsOf(nm)
          ms.iterator.map { case (d, ptf) =>
            (d, ptf, SegNorms.doclenAt(nm, docs, d).toLong)
          }
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
    val slotsSeq = slots.toIndexedSeq

    def emptyResult = Seq.empty[(Long, Double)].toDF("doc_id", "score")
    if (stats.nDocs == 0) return emptyResult
    val avgdl = stats.avgdl

    // shared tail: score the (doc, ptf, doclen) matches as a pseudo-term
    // through the BM25 kernel, materialize the tiny top-k, release the
    // persisted match set
    def scoreTopK(withDl: org.apache.spark.sql.Dataset[(Long, Int, Long)],
        idf: Double, release: () => Unit): DataFrame = {
      val scored = withDl
        .map { case (d, ptf, dl) => (d, idf * BM25.tfNorm(ptf.toLong, dl, avgdl)) }
        .toDF("doc_id", "score")
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
      val rows = scored.collect()
      release()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), scored.schema)
    }

    // branch only on HOW (doc, ptf, doclen) is produced: the fast path
    // (norms fit the driver budget, same condition as WAND's) resolves
    // doclens inside the segment matcher — no docs-table scan, no
    // broadcast build, no join after the df count; the scale path joins
    // the match set against the docs table. Everything else (persist,
    // exact global phrase df, empty short-circuit, BM25 scoring,
    // top-k collect, release) is the shared tail below.
    val fastMatches = idx.normsBroadcast.map(bc => matchesWithDlPlan(idx, slotsSeq, bc))
    val slowMatches = if (fastMatches.isEmpty) Some(matchesPlan(idx, slotsSeq)) else None
    val persisted: org.apache.spark.sql.Dataset[_] =
      fastMatches.getOrElse(slowMatches.get)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfPhrase = persisted.count()
    if (dfPhrase == 0) { persisted.unpersist(blocking = false); return emptyResult }
    val withDl = fastMatches.getOrElse {
      // the match set is usually tiny and broadcasts against the big docs
      // table (the J4 hit-materialization shape) — but a stop-word phrase
      // at corpus scale can match millions of docs, so the broadcast is
      // gated on the just-computed exact df; past the bound the doclen
      // resolution falls back to a shuffle join (both sides hash on doc_id)
      val maxBroadcast = spark.conf.getOption("graft.query.phraseBroadcastMaxRows")
        .map(_.toLong).getOrElse(1L << 22)
      val matchesDF = slowMatches.get.toDF("doc_id", "ptf")
      val matchSide = if (dfPhrase <= maxBroadcast) broadcast(matchesDF) else matchesDF
      idx.docs.select(col("doc_id"), col("doclen"))
        .join(matchSide, "doc_id")
        .select(col("doc_id"), col("ptf"), col("doclen"))
        .as[(Long, Int, Long)]
    }
    scoreTopK(withDl, BM25.idf(stats.nDocs, dfPhrase),
      () => { persisted.unpersist(blocking = true); () })
  }
}
