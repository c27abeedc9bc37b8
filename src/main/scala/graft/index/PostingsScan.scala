package graft.index

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.IntStatistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** The `term` range of a postings row group's footer statistics (both
  * null when the footer has none, which prunes nothing).
  */
private[graft] final case class TermRowGroup(min: UTF8String, max: UTF8String) {
  def mayHold(t: UTF8String): Boolean = min == null || (min.compareTo(t) <= 0 && max.compareTo(t) >= 0)
}

/** A data file of a slice: its row groups in file order, and the `seg`
  * range of its footer statistics (all ints when a row group has none,
  * empty when the file has no rows).
  */
private[graft] final case class SliceFile(path: Path, size: Long, modTime: Long,
    rowGroups: IndexedSeq[TermRowGroup], segLo: Int, segHi: Int) {
  def whole: PartitionedFile = PartitionedFile(InternalRow.empty,
    SparkPath.fromPath(path), 0L, size, Array.empty[String], modTime, size)
}

/** The files one scan unit holds: postings files that hold whole segments
  * between them, and the norms files of those segments.
  */
private[graft] final case class ScanUnit(postings: IndexedSeq[SliceFile], norms: Array[PartitionedFile])

/** A scan unit held in executor memory: its blocks of each term, still
  * PFor/VByte-encoded as the serving tier's bounded mode keeps them, and
  * the norms rows of its blocks' segments, decoded when the unit is built
  * (every row a segment has, so a duplicate is seen, not hidden). Nothing
  * in it changes after it is built, so the size the block manager measured
  * when it cached the unit stays true.
  */
private[graft] final class ResidentUnit(
    val blocks: Map[String, Array[PostingBlock]],
    val norms: Map[Int, Array[DecodedNorms]])

/** The postings of the Spark query path, kept in executor memory: one
  * persisted RDD (`resident`) with a partition per scan unit of an open
  * index, its blocks with positions pruned unless `positions`. The first
  * query that touches a unit reads the unit's files whole and builds its
  * `ResidentUnit`; every later query reads that element and no file.
  * Spark's unified memory manager is the budget: an evicted unit is
  * recomputed from its lineage, which reads it whole again. So a unit
  * whose files hold several row groups reads them all on a miss, where a
  * per-query scan could have kept only the row groups of the query's
  * terms; the driver still drops the units whose footer term ranges hold
  * none of them (`partitionsOf`). The RDD is named after `name`, so
  * `SparkContext.getRDDStorageInfo` reports its memory size, and the
  * ContextCleaner releases it with the open index that holds it.
  */
private[graft] final class PostingsScan(spark: SparkSession, name: String,
    val units: IndexedSeq[ScanUnit], positions: Boolean) {

  /** The columns read, in `PostingsScan.block`'s order. */
  val readSchema: StructType = {
    val all = Encoders.product[PostingBlock].schema
    if (positions) all else StructType(all.filterNot(_.name == "positions"))
  }

  /** One `ResidentUnit` per unit, in `units`' order, persisted
    * `MEMORY_ONLY`: each partition fills when a query first reads it.
    */
  val resident: RDD[ResidentUnit] = {
    val readNorms = PostingsScan.reader(spark, Encoders.product[SegNorms].schema, Encoders.product[SegNorms].schema)
    val norms = units.map(_.norms).toArray
    val withPositions = positions
    new FileScanRDD(spark, PostingsScan.reader(spark, Encoders.product[PostingBlock].schema, readSchema),
      units.zipWithIndex.map { case (u, i) => FilePartition(i, u.postings.map(_.whole).toArray) }, readSchema)
      .mapPartitionsWithIndex((i, rows) => Iterator.single(
        PostingsScan.resident(rows, withPositions, norms(i).iterator.flatMap(readNorms))), preservesPartitioning = true)
      .setName(name)
      .persist(StorageLevel.MEMORY_ONLY)
  }

  /** The partitions of the units whose footer term ranges can hold one of
    * `terms`.
    */
  def partitionsOf(terms: Iterable[String]): Seq[Int] = {
    val ts = terms.map(UTF8String.fromString).toArray
    units.indices.filter(units(_).postings.exists(_.rowGroups.exists(g => ts.exists(g.mayHold))))
  }
}

private[graft] object PostingsScan {
  private def reader(spark: SparkSession, data: StructType, required: StructType) =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, data, new StructType(),
      required, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      GraftBridge.newHadoopConf(spark))

  /** A unit's element from its postings rows and its norms files' rows:
    * the blocks by term in file order, each term's string held once, and
    * the decoded norms of the segments its blocks hold.
    */
  private def resident(rows: Iterator[InternalRow], positions: Boolean,
      normsRows: Iterator[InternalRow]): ResidentUnit = {
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuilder[PostingBlock]]
    val segs = mutable.HashSet.empty[Int]
    var term = ""
    rows.foreach { r =>
      val t = r.getUTF8String(0).toString
      if (t != term) term = t
      byTerm.getOrElseUpdate(term, mutable.ArrayBuilder.make[PostingBlock]) += block(r, term, positions)
      segs += r.getInt(1)
    }
    val norms = normsRows.filter(r => segs(r.getInt(0))).map(r => SegNorms.decode(segNorms(r))).toArray
    new ResidentUnit(byTerm.iterator.map { case (t, bs) => t -> bs.result() }.toMap, norms.groupBy(_.seg))
  }

  /** The scan units of `slices`, from footers read on the driver: the
    * non-empty postings files of a slice, grouped so that files whose
    * `seg` ranges overlap share a unit, each unit with the slice's norms
    * files whose `seg` range meets its own. A fresh build's slice is a unit
    * per file, and a slice whose files each span its segments is one unit;
    * either way every segment is held by one unit.
    */
  def units(spark: SparkSession, store: IndexStore, slices: Seq[SliceMeta]): IndexedSeq[ScanUnit] = {
    val conf = spark.sparkContext.hadoopConfiguration
    slices.toIndexedSeq.flatMap { s =>
      val norms = files(conf, store.slicePath("norms", s.sliceId))
      overlapping(files(conf, store.slicePath("postings", s.sliceId)).filter(_.rowGroups.nonEmpty)).map { ps =>
        val (lo, hi) = (ps.head.segLo, ps.map(_.segHi).max)
        ScanUnit(ps, norms.filter(n => n.segLo <= hi && n.segHi >= lo).map(_.whole).toArray)
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
          TermRowGroup(term.map(st => UTF8String.fromBytes(st.getMinBytes)).orNull,
            term.map(st => UTF8String.fromBytes(st.getMaxBytes)).orNull)
        }, segs.map(_._1).minOption.getOrElse(Int.MaxValue), segs.map(_._2).maxOption.getOrElse(Int.MinValue))
      }
  }

  /** The block a scan row of `term` holds; `positions` is null when the
    * scan pruned it or the index carries none.
    */
  private def block(r: InternalRow, term: String, positions: Boolean): PostingBlock =
    PostingBlock(term, r.getInt(1), r.getInt(2), r.getInt(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7), r.getLong(8), r.getByte(9),
      r.getBinary(10), r.getBinary(11), if (!positions || r.isNullAt(12)) null else r.getBinary(12))

  /** The norms row a norms reader's row holds. */
  private def segNorms(r: InternalRow): SegNorms =
    SegNorms(r.getInt(0), r.getInt(1), r.getLong(2), r.getBinary(3), r.getBinary(4))
}
