package graft.query

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.index.{DecodedNorms, OpenIndex, PostingBlock, SegNorms}

/** The one route from a segment's posting blocks to its norms, as a
  * Lucene segment scorer reads the norms stored beside its postings.
  * Postings are document-partitioned by segment, so every Spark-path query
  * (WAND, phrase) is a function of one segment's blocks and that segment's
  * norms, run in an executor task.
  *
  * Distribution model: when the open index proves that each segment's
  * blocks sit in one scan partition (`OpenIndex.segmentLocalScan`: every
  * slice writes whole segments per postings file, and the scan reads every
  * file whole) and its norms are broadcast, each scan partition groups its
  * own blocks by segment and scores them where they were read — as each
  * OpenSearch shard scores the Lucene segments it stores. The query is then
  * scan → per-segment kernel → the caller's merge, one job with no
  * Exchange. Otherwise the blocks are grouped by a shuffle on the segment
  * (the norms still broadcast), or, past the broadcast bound, cogrouped
  * with the norms by segment.
  */
private[graft] object Segments {

  /** Group `blocks` by segment and run `f` over each segment's blocks with
    * its decoded norms. `blocks` must be `idx.postings` under filters and
    * projections only: the segment-local path relies on the partitions of
    * its scan. A segment with blocks but no norms fails on every path: it
    * has no doclens to score with.
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
    def bySeg = blocks.groupByKey(_.seg)(Encoders.scalaInt)
    idx.normsBroadcast match {
      case Some(bc) if idx.segmentLocalScan =>
        blocks.mapPartitions(_.toArray.groupBy(_.seg).iterator.flatMap { case (seg, bs) =>
          run(seg, bs.iterator, bc.value.get(seg).toArray)
        })
      case Some(bc) =>
        bySeg.flatMapGroups((seg, bs) => run(seg, bs, bc.value.get(seg).toArray))
      case None =>
        bySeg.cogroup(idx.norms.groupByKey(_.seg)(Encoders.scalaInt))(
          (seg, bs, ns) => run(seg, bs, ns.toArray))
    }
  }
}
