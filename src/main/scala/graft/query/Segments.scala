package graft.query

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{DecodedNorms, OpenIndex, PostingBlock, PostingsScan, SegNorms}

/** The one route from a segment's posting blocks to its norms, as a
  * Lucene segment scorer reads the norms stored beside its postings.
  * Postings are document-partitioned by segment, so every Spark-path query
  * (WAND, phrase) is a function of one segment's blocks and that segment's
  * norms, run in an executor task; the caller merges the collected
  * per-segment parts on the driver.
  *
  * Distribution model: when every slice writes whole segments per postings
  * file (`SliceMeta.segLocal`) and the norms are broadcast, the query runs
  * on the open index's planned postings scan (`OpenIndex.postingsScan`):
  * the driver keeps only the row groups whose footer term range can hold a
  * query term, each file's kept row groups form one partition, and one
  * job scores each segment in the task that read its file — as each
  * OpenSearch shard scores the Lucene segments it stores. No SQL plan is
  * built per query. Otherwise the blocks are grouped by a shuffle on the
  * segment (the norms still broadcast), or, past the broadcast bound,
  * cogrouped with the norms by segment.
  */
private[graft] object Segments {

  /** Run `f` over each segment holding blocks of `terms`, with its decoded
    * norms, and collect the parts. The blocks carry their positions only
    * when `positions`. A segment with blocks but no norms fails on every
    * path: it has no doclens to score with.
    */
  def perSegment[T: Encoder](idx: OpenIndex, terms: Seq[String], positions: Boolean)(
      f: (Array[PostingBlock], DecodedNorms) => Iterator[T]): Array[T] = {
    implicit val ct: ClassTag[T] = implicitly[Encoder[T]].clsTag
    idx.normsBroadcast match {
      case Some(bc) if idx.slices.forall(_.segLocal) =>
        val rdd = idx.postingsScan(positions).rdd(terms)
        if (rdd.partitions.isEmpty) Array.empty[T]
        else rdd.sparkContext.runJob(rdd, new SegmentKernel(terms.toSet, positions, bc, f)).flatten
      case _ =>
        val blocks = idx.postings.filter(col("term").isin(terms: _*))
        perSegment(idx,
          if (positions) blocks
          else blocks.withColumn("positions", lit(null).cast("binary")).as(Encoders.product[PostingBlock])
        )(f).collect()
    }
  }

  /** The shuffle plan of `perSegment` over any selection `blocks` of
    * `idx.postings`: the blocks group by segment through an Exchange and
    * meet the broadcast norms, or, without a broadcast, cogroup with the
    * norms by segment.
    */
  def perSegment[T: Encoder](idx: OpenIndex, blocks: Dataset[PostingBlock])(
      f: (Array[PostingBlock], DecodedNorms) => Iterator[T]): Dataset[T] = {
    val bySeg = blocks.groupByKey(_.seg)(Encoders.scalaInt)
    idx.normsBroadcast match {
      case Some(bc) => bySeg.flatMapGroups((seg, bs) => run(seg, bs, bc.value.get(seg).toArray, f))
      case None =>
        bySeg.cogroup(idx.norms.groupByKey(_.seg)(Encoders.scalaInt))(
          (seg, bs, ns) => run(seg, bs, ns.toArray, f))
    }
  }

  private[query] def run[T](seg: Int, bs: Iterator[PostingBlock], ns: Array[SegNorms],
      f: (Array[PostingBlock], DecodedNorms) => Iterator[T]): Iterator[T] =
    if (!bs.hasNext) Iterator.empty
    else {
      require(ns.nonEmpty, s"seg $seg has postings but no norms")
      require(ns.length == 1, s"seg $seg has ${ns.length} norms rows")
      f(bs.toArray, SegNorms.decode(ns(0)))
    }
}

/** A planned scan's task: the rows of the query's terms, grouped by
  * segment, each segment through `f` beside its broadcast norms. A named
  * class rather than a lambda, so submitting the job parses no closure.
  */
private final class SegmentKernel[T: ClassTag](
    terms: Set[String],
    positions: Boolean,
    norms: Broadcast[Map[Int, SegNorms]],
    f: (Array[PostingBlock], DecodedNorms) => Iterator[T])
  extends ((TaskContext, Iterator[InternalRow]) => Array[T]) with Serializable {

  @transient private lazy val wanted: Set[UTF8String] = terms.map(UTF8String.fromString)

  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[T] = {
    val bySeg = mutable.HashMap.empty[Int, mutable.ArrayBuffer[PostingBlock]]
    rows.foreach { r =>
      if (wanted(r.getUTF8String(0)))
        bySeg.getOrElseUpdate(r.getInt(1), mutable.ArrayBuffer.empty) += PostingsScan.block(r, positions)
    }
    bySeg.iterator.flatMap { case (seg, bs) =>
      Segments.run(seg, bs.iterator, norms.value.get(seg).toArray, f)
    }.toArray
  }
}
