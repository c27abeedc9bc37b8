package graft.query

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.unsafe.types.UTF8String

import graft.index.{DecodedNorms, OpenIndex, PostingBlock, PostingsScan, SegNorms}

/** The one route from a segment's posting blocks to its norms, as a
  * Lucene segment scorer reads the norms stored beside its postings.
  * Postings are document-partitioned by segment, so every Spark-path query
  * (WAND, phrase) is a function of one segment's blocks and that segment's
  * norms, run in an executor task; the caller merges the collected
  * per-segment parts on the driver.
  *
  * Distribution model: the query runs on the open index's planned postings
  * scan (`OpenIndex.postingsScan`). The driver keeps only the row groups
  * whose footer term range can hold a query term; a partition is a scan
  * unit (`PostingsScan.units`), the postings files of a slice whose
  * footer `seg` ranges overlap, so every segment is read by one task.
  * Each partition carries the norms files whose
  * footer `seg` range meets its postings files' range, and one job scores
  * each segment in the task that read it, with the norms that task reads
  * beside it — as each OpenSearch shard scores the Lucene segments it
  * stores. No path broadcasts the norms or collects them to the driver,
  * and no SQL plan is built per query.
  */
private[graft] object Segments {

  /** Run `f` over each segment holding blocks of `terms`, with its decoded
    * norms, and collect the parts. The blocks carry their positions only
    * when `positions`. A segment with blocks but no norms fails: it has no
    * doclens to score with.
    */
  def perSegment[T: ClassTag](idx: OpenIndex, terms: Seq[String], positions: Boolean)(
      f: (Array[PostingBlock], DecodedNorms) => Iterator[T]): Array[T] = {
    val scan = idx.postingsScan(positions)
    val planned = scan.plan(terms)
    if (planned.rdd.partitions.isEmpty) Array.empty[T]
    else planned.rdd.sparkContext.runJob(planned.rdd,
      new SegmentKernel(terms.toSet, positions, planned.norms, scan.readNorms, f)).flatten
  }

  private[query] def run[T](seg: Int, bs: Array[PostingBlock], ns: collection.Seq[SegNorms],
      f: (Array[PostingBlock], DecodedNorms) => Iterator[T]): Iterator[T] = {
    require(ns.nonEmpty, s"seg $seg has postings but no norms")
    require(ns.length == 1, s"seg $seg has ${ns.length} norms rows")
    f(bs, SegNorms.decode(ns.head))
  }
}

/** A planned scan's task: the rows of the query's terms, grouped by
  * segment, then the norms rows of those segments from the partition's
  * norms files, and each segment through `f`. A partition with no block of
  * the terms opens no norms file. A named class rather than a lambda, so
  * submitting the job parses no closure.
  */
private final class SegmentKernel[T: ClassTag](
    terms: Set[String],
    positions: Boolean,
    normsFiles: Array[Array[PartitionedFile]],
    readNorms: PartitionedFile => Iterator[InternalRow],
    f: (Array[PostingBlock], DecodedNorms) => Iterator[T])
  extends ((TaskContext, Iterator[InternalRow]) => Array[T]) with Serializable {

  @transient private lazy val wanted: Set[UTF8String] = terms.map(UTF8String.fromString)

  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[T] = {
    val bySeg = mutable.HashMap.empty[Int, mutable.ArrayBuffer[PostingBlock]]
    rows.foreach { r =>
      if (wanted(r.getUTF8String(0)))
        bySeg.getOrElseUpdate(r.getInt(1), mutable.ArrayBuffer.empty) += PostingsScan.block(r, positions)
    }
    if (bySeg.isEmpty) return Array.empty[T]
    val norms = mutable.HashMap.empty[Int, mutable.ArrayBuffer[SegNorms]]
    for (file <- normsFiles(ctx.partitionId()); r <- readNorms(file) if bySeg.contains(r.getInt(0)))
      norms.getOrElseUpdate(r.getInt(0), mutable.ArrayBuffer.empty) += PostingsScan.norms(r)
    bySeg.iterator.flatMap { case (seg, bs) =>
      Segments.run(seg, bs.toArray, norms.getOrElse(seg, Nil), f)
    }.toArray
  }
}
