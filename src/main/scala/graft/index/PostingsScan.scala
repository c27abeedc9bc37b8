package graft.index

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
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

/** A postings file with its row groups in file order. */
private[graft] final case class PostingsFile(path: Path, size: Long, modTime: Long, rowGroups: IndexedSeq[TermRowGroup])

/** The postings scan of the segment-local query path, planned once: one
  * parquet read function (so one Hadoop-conf broadcast) over the files of
  * an open index, positions pruned unless `positions`. A query's scan
  * keeps only the row groups whose footer term range can hold one of its
  * terms, and puts every kept row group of a file into that file's one
  * partition, so a file whose segments are whole is read by exactly one
  * task. No SQL plan is built per query: `rdd` is a `FileScanRDD` over
  * the query's partitions.
  */
private[graft] final class PostingsScan(spark: SparkSession, files: IndexedSeq[PostingsFile],
    positions: Boolean) {

  /** The columns read, in `PostingsScan.block`'s order. */
  val readSchema: StructType = {
    val all = Encoders.product[PostingBlock].schema
    if (positions) all else StructType(all.filterNot(_.name == "positions"))
  }

  private val read: PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      Encoders.product[PostingBlock].schema, new StructType(), readSchema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), GraftBridge.newHadoopConf(spark))

  /** The scan of the row groups that can hold `terms`: one partition per
    * file with any, each run of adjacent kept row groups one byte range
    * (a parquet reader reads the row groups whose midpoint its range
    * holds).
    */
  def rdd(terms: Iterable[String]): FileScanRDD = {
    val ts = terms.map(UTF8String.fromString).toArray
    val parts = files.flatMap { f =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[PartitionedFile]
      for (g <- f.rowGroups if ts.exists(g.mayHold)) {
        if (runs.nonEmpty && runs.last.start + runs.last.length == g.start)
          runs(runs.length - 1) = runs.last.copy(length = runs.last.length + g.length)
        else runs += PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.path), g.start,
          g.length, Array.empty[String], f.modTime, f.size)
      }
      Option.when(runs.nonEmpty)(runs.toArray)
    }
    new FileScanRDD(spark, read,
      parts.zipWithIndex.map { case (fs, i) => FilePartition(i, fs) }, readSchema)
  }
}

private[graft] object PostingsScan {
  /** The data files of `dirs` and their footers' row groups, read on the
    * driver. Spark's hidden files (`_SUCCESS`, `.crc`) are not data.
    */
  def files(spark: SparkSession, dirs: Seq[String]): IndexedSeq[PostingsFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.toIndexedSeq.flatMap { dir =>
      val p = new Path(dir)
      p.getFileSystem(conf).listStatus(p).toIndexedSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName)
        .map { s =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
          val groups = try {
            reader.getFooter.getBlocks.asScala.toIndexedSeq.map { b =>
              val stats = b.getColumns.asScala.find(_.getPath.toDotString == "term")
                .map(_.getStatistics).filter(st => st != null && !st.isEmpty && st.hasNonNullValue)
              TermRowGroup(b.getStartingPos, b.getCompressedSize,
                stats.map(st => UTF8String.fromBytes(st.getMinBytes)).orNull,
                stats.map(st => UTF8String.fromBytes(st.getMaxBytes)).orNull)
            }
          } finally reader.close()
          PostingsFile(s.getPath, s.getLen, s.getModificationTime, groups)
        }
    }
  }

  /** The block a scan row holds; `positions` is null when the scan pruned
    * it or the index carries none.
    */
  def block(r: InternalRow, positions: Boolean): PostingBlock =
    PostingBlock(r.getUTF8String(0).toString, r.getInt(1), r.getInt(2), r.getInt(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getInt(7), r.getLong(8), r.getByte(9),
      r.getBinary(10), r.getBinary(11), if (!positions || r.isNullAt(12)) null else r.getBinary(12))
}
