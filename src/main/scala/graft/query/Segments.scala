package graft.query

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.index.{DecodedNorms, OpenIndex, PostingBlock, SegNorms}

/** The one route from a segment's posting blocks to its norms, as a
  * Lucene segment scorer reads the norms stored beside its postings.
  * Postings are document-partitioned by segment, so every Spark-path query
  * (WAND, phrase) is a function of one segment's blocks and that segment's
  * norms, run in an executor task per segment.
  */
private[graft] object Segments {

  /** Group `blocks` by segment and run `f` over each segment's blocks with
    * its decoded norms. The norms arrive by broadcast when the open index
    * holds `normsBroadcast` (no shuffle beyond the blocks), else by a
    * cogroup on the segment. A segment with blocks but no norms fails in
    * either branch: it has no doclens to score with.
    */
  def perSegment[T: Encoder](idx: OpenIndex, blocks: Dataset[PostingBlock])(
      f: (Array[PostingBlock], DecodedNorms) => Iterator[T]): Dataset[T] = {
    def run(seg: Int, bs: Iterator[PostingBlock], norms: => Array[SegNorms]): Iterator[T] =
      if (!bs.hasNext) Iterator.empty
      else {
        val ns = norms
        require(ns.nonEmpty, s"seg $seg has postings but no norms")
        require(ns.length == 1, s"seg $seg has ${ns.length} norms rows")
        f(bs.toArray, SegNorms.decode(ns(0)))
      }
    val bySeg = blocks.groupByKey(_.seg)(Encoders.scalaInt)
    idx.normsBroadcast match {
      case Some(bc) =>
        bySeg.flatMapGroups((seg, bs) => run(seg, bs, bc.value.get(seg).toArray))
      case None =>
        bySeg.cogroup(idx.norms.groupByKey(_.seg)(Encoders.scalaInt))(
          (seg, bs, ns) => run(seg, bs, ns.toArray))
    }
  }
}
