package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.IntStatistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Encoders, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** One row group of a postings file: its byte range and the `term` range
  * of its footer statistics (both null when the footer has none, which
  * prunes nothing).
  */
private[graft] final case class TermRowGroup(start: Long, length: Long, min: UTF8String, max: UTF8String) {
  def mayHold(t: UTF8String): Boolean = min == null || (min.compareTo(t) <= 0 && max.compareTo(t) >= 0)
}

/** A data file of a slice: its row groups in file order, and the `seg`
  * range of its footer statistics (all ints when a row group has none,
  * empty when the file has no rows).
  */
private[graft] final case class SliceFile(path: Path, size: Long, modTime: Long,
    rowGroups: IndexedSeq[TermRowGroup], segLo: Int, segHi: Int) {
  def range(start: Long, length: Long): PartitionedFile = PartitionedFile(InternalRow.empty,
    SparkPath.fromPath(path), start, length, Array.empty[String], modTime, size)
}

/** The files one query task reads: postings files that hold whole
  * segments between them, and the norms files of those segments.
  */
private[graft] final case class ScanUnit(postings: IndexedSeq[SliceFile], norms: Array[PartitionedFile])

/** A query's partitions, and the norms files each one reads beside its
  * blocks (by partition index).
  */
private[graft] final case class SegmentScan(rdd: FileScanRDD, norms: Array[Array[PartitionedFile]])

/** The postings scan of the Spark query path, planned once: one parquet
  * read function for the postings (positions pruned unless `positions`)
  * and one for the norms over the scan units of an open index. A query's
  * scan keeps only the row groups whose footer term range can hold one of
  * its terms, and puts every kept row group of a unit into that unit's one
  * partition, so each segment is read by exactly one task, which reads the
  * segment's norms itself. No SQL plan is built per query.
  */
private[graft] final class PostingsScan(spark: SparkSession, units: IndexedSeq[ScanUnit],
    positions: Boolean) {

  /** The columns read, in `PostingsScan.block`'s order. */
  val readSchema: StructType = {
    val all = Encoders.product[PostingBlock].schema
    if (positions) all else StructType(all.filterNot(_.name == "positions"))
  }

  private val read = PostingsScan.reader(spark, Encoders.product[PostingBlock].schema, readSchema)

  /** Reads a norms file's rows, in `PostingsScan.norms`' order. */
  val readNorms: PartitionedFile => Iterator[InternalRow] =
    PostingsScan.reader(spark, Encoders.product[SegNorms].schema, Encoders.product[SegNorms].schema)

  /** The scan of the row groups that can hold `terms`: one partition per
    * unit with any, each run of adjacent kept row groups of a file one
    * byte range (a parquet reader reads the row groups whose midpoint its
    * range holds).
    */
  def plan(terms: Iterable[String]): SegmentScan = {
    val ts = terms.map(UTF8String.fromString).toArray
    val parts = units.flatMap { u =>
      val runs = u.postings.flatMap { f =>
        f.rowGroups.filter(g => ts.exists(g.mayHold)).foldLeft(Vector.empty[PartitionedFile]) { (rs, g) =>
          if (rs.nonEmpty && rs.last.start + rs.last.length == g.start)
            rs.init :+ rs.last.copy(length = rs.last.length + g.length)
          else rs :+ f.range(g.start, g.length)
        }
      }
      Option.when(runs.nonEmpty)((runs.toArray, u.norms))
    }
    SegmentScan(new FileScanRDD(spark, read,
      parts.zipWithIndex.map { case ((fs, _), i) => FilePartition(i, fs) }, readSchema), parts.map(_._2).toArray)
  }
}

private[graft] object PostingsScan {
  private def reader(spark: SparkSession, data: StructType, required: StructType) =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, data, new StructType(),
      required, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      GraftBridge.newHadoopConf(spark))

  /** The scan units of `slices`, from footers read on the driver: the
    * non-empty postings files of a slice, grouped so that files whose
    * `seg` ranges overlap share a unit, each unit with the slice's norms
    * files whose `seg` range meets its own. A fresh build's slice is a unit
    * per file, and a slice whose files each span its segments is one unit;
    * either way every segment is read by one task.
    */
  def units(spark: SparkSession, store: IndexStore, slices: Seq[SliceMeta]): IndexedSeq[ScanUnit] = {
    val conf = spark.sparkContext.hadoopConfiguration
    slices.toIndexedSeq.flatMap { s =>
      val norms = files(conf, store.slicePath("norms", s.sliceId))
      overlapping(files(conf, store.slicePath("postings", s.sliceId)).filter(_.rowGroups.nonEmpty)).map { ps =>
        val (lo, hi) = (ps.head.segLo, ps.map(_.segHi).max)
        ScanUnit(ps, norms.filter(n => n.segLo <= hi && n.segHi >= lo).map(n => n.range(0L, n.size)).toArray)
      }
    }
  }

  /** `fs` sorted by `segLo` and cut where a file starts past every `seg`
    * range before it: each group holds the files whose ranges chain into
    * one.
    */
  private def overlapping(fs: IndexedSeq[SliceFile]): IndexedSeq[IndexedSeq[SliceFile]] =
    fs.sortBy(_.segLo).foldLeft(Vector.empty[(Vector[SliceFile], Int)]) {
      case (gs :+ ((g, hi)), f) if f.segLo <= hi => gs :+ ((g :+ f, math.max(hi, f.segHi)))
      case (gs, f) => gs :+ ((Vector(f), f.segHi))
    }.map(_._1)

  /** The data files of `dir` with their footers, read on the driver.
    * Spark's hidden files (`_SUCCESS`, `.crc`) are not data.
    */
  def files(conf: Configuration, dir: String): IndexedSeq[SliceFile] = {
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).toIndexedSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
        val blocks = try reader.getFooter.getBlocks.asScala.toIndexedSeq finally reader.close()
        def stats(b: BlockMetaData, column: String) = b.getColumns.asScala.find(_.getPath.toDotString == column)
          .map(_.getStatistics).filter(st => st != null && !st.isEmpty && st.hasNonNullValue)
        val segs = blocks.map(stats(_, "seg") match {
          case Some(st: IntStatistics) => (st.getMin: Int, st.getMax: Int)
          case _ => (Int.MinValue, Int.MaxValue)
        })
        SliceFile(s.getPath, s.getLen, s.getModificationTime, blocks.map { b =>
          val term = stats(b, "term")
          TermRowGroup(b.getStartingPos, b.getCompressedSize,
            term.map(st => UTF8String.fromBytes(st.getMinBytes)).orNull,
            term.map(st => UTF8String.fromBytes(st.getMaxBytes)).orNull)
        }, segs.map(_._1).minOption.getOrElse(Int.MaxValue), segs.map(_._2).maxOption.getOrElse(Int.MinValue))
      }
  }

  /** The block a scan row holds; `positions` is null when the scan pruned
    * it or the index carries none.
    */
  def block(r: InternalRow, positions: Boolean): PostingBlock =
    PostingBlock(r.getUTF8String(0).toString, r.getInt(1), r.getInt(2), r.getInt(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7), r.getLong(8), r.getByte(9),
      r.getBinary(10), r.getBinary(11), if (!positions || r.isNullAt(12)) null else r.getBinary(12))

  /** The norms row a `readNorms` row holds. */
  def norms(r: InternalRow): SegNorms =
    SegNorms(r.getInt(0), r.getInt(1), r.getLong(2), r.getBinary(3), r.getBinary(4))
}
