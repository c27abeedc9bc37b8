package graft.query

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.TaskContext

import graft.index.{DecodedNorms, OpenIndex, PostingBlock, ResidentUnit}

/** The one route from a segment's posting blocks to its norms, as a
  * Lucene segment scorer reads the norms stored beside its postings.
  * Postings are document-partitioned by segment, so every Spark-path query
  * (WAND, phrase) is a function of one segment's blocks and that segment's
  * norms, run in an executor task; the caller merges the collected
  * per-segment parts on the driver.
  *
  * Distribution model: the query runs on the open index's resident scan
  * units (`OpenIndex.postingsScan`), a persisted RDD with one partition per
  * unit (`PostingsScan.units`): the postings files of a slice whose footer
  * `seg` ranges overlap, so every segment is held by one partition. Each
  * partition's element holds the unit's encoded blocks by term and its
  * segments' norms, decoded once when a query first reads the unit. The
  * driver drops the units whose footer term ranges hold no query term, and
  * one job scores each segment of the rest in the task that holds it — as
  * each OpenSearch shard scores the Lucene segments it has mapped. A warm
  * query reads no file; no path broadcasts the norms or collects them to
  * the driver, and no SQL plan is built per query.
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
    val kept = scan.partitionsOf(terms)
    if (kept.isEmpty) Array.empty[T]
    else scan.resident.sparkContext.runJob(scan.resident, new UnitKernel(terms.toArray, f), kept).flatten
  }
}

/** A query's task over one resident unit: the unit's blocks of the query's
  * terms, grouped by segment, and each segment through `f` with its
  * decoded norms. A named class rather than a lambda, so submitting the job
  * parses no closure.
  */
private final class UnitKernel[T: ClassTag](
    terms: Array[String],
    f: (Array[PostingBlock], DecodedNorms) => Iterator[T])
  extends ((TaskContext, Iterator[ResidentUnit]) => Array[T]) with Serializable {

  def apply(ctx: TaskContext, units: Iterator[ResidentUnit]): Array[T] = units.flatMap { u =>
    val bySeg = mutable.HashMap.empty[Int, mutable.ArrayBuilder[PostingBlock]]
    for (t <- terms; bs <- u.blocks.get(t); b <- bs)
      bySeg.getOrElseUpdate(b.seg, mutable.ArrayBuilder.make[PostingBlock]) += b
    bySeg.iterator.flatMap { case (seg, bs) =>
      val ns = u.norms.getOrElse(seg, Array.empty[DecodedNorms])
      require(ns.nonEmpty, s"seg $seg has postings but no norms")
      require(ns.length == 1, s"seg $seg has ${ns.length} norms rows")
      f(bs.result(), ns.head)
    }
  }.toArray
}
