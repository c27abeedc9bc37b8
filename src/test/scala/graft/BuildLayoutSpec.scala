package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexStore}

/** The build shuffles documents, not postings, and writes each segment
  * whole into one term-sorted postings file of its slice — a file of its
  * own when the slice has no more segments than shuffle partitions, and a
  * contiguous run of segments, the same as its norms file's, past that.
  */
class BuildLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the build shuffles documents: records below half the postings, term-sorted files, " +
    "no segment in two files of a slice") {
    val docs = Corpus.pages(spark, 1000)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")
      .cache()
    docs.count()
    val store = new IndexStore(Files.createTempDirectory("graft-layout-").toString)

    val records = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val report =
      try {
        val r = IndexBuilder.build(spark, docs, store,
          IndexBuilder.Config(segSize = 128, blockSize = 16, slices = 2, positions = true))
        ListenerDrain(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    info(s"shuffle records ${records.get} for ${report.postings} postings")
    assert(report.docs == 1000 && report.postings > 0)
    assert(records.get < report.postings / 2,
      s"build shuffled ${records.get} records for ${report.postings} postings")

    val slices = store.committedSlices
    assert(slices.size == 2)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    for (s <- slices) {
      val dir = Paths.get(store.slicePath("postings", s.sliceId))
      val files = Files.list(dir).iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
      val segsPerFile = files.map { f =>
        val rows = spark.read.parquet(f).select("term", "seg", "blk").collect()
          .map(r => (r.getString(0).getBytes(UTF_8), r.getInt(1), r.getInt(2)))
        // Parquet row-group stats order strings by unsigned bytes
        for (Seq(a, b) <- rows.toSeq.sliding(2)) {
          val c = java.util.Arrays.compareUnsigned(a._1, b._1)
          assert(c < 0 || (c == 0 && Ordering[(Int, Int)].lt((a._2, a._3), (b._2, b._3))),
            s"$f is not sorted by (term, seg, blk)")
        }
        rows.map(_._2).toSet
      }
      val segs = segsPerFile.flatten
      assert(segs.size == segs.distinct.size,
        s"slice ${s.sliceId}: a segment spans two postings files: $segsPerFile")
      assert(segs.toSet == (s.segLo to s.segHi).toSet)
      // a slice with no more segments than shuffle partitions inverts each
      // segment in a task of its own
      if (s.segHi - s.segLo + 1 <= shufflePartitions)
        assert(segsPerFile.filter(_.nonEmpty).forall(_.size == 1),
          s"slice ${s.sliceId}: one task inverted several segments: $segsPerFile")
    }
    docs.unpersist()
    store.dropAll()
  }

  test("more segments than shuffle partitions: each task writes one contiguous segment run, " +
    "the same in its postings file and its norms file") {
    val few = spark.newSession()
    few.conf.set("spark.sql.shuffle.partitions", "3")
    val docs = Corpus.pages(few, 1000)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")
    val store = new IndexStore(Files.createTempDirectory("graft-runs-").toString)
    IndexBuilder.build(few, docs, store, IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 2))
    def segsPerFile(table: String, sliceId: Int): Set[Set[Int]] =
      Files.list(Paths.get(store.slicePath(table, sliceId))).iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
        .map(f => few.read.parquet(f).select("seg").collect().map(_.getInt(0)).toSet)
        .filter(_.nonEmpty).toSet
    for (s <- store.committedSlices) {
      assert(s.segHi - s.segLo + 1 > 3, s"slice ${s.sliceId} has no more segments than partitions")
      val postings = segsPerFile("postings", s.sliceId)
      assert(postings.size == 3 && postings.flatten == (s.segLo to s.segHi).toSet, s"$postings")
      assert(postings.forall(r => r.max - r.min + 1 == r.size),
        s"slice ${s.sliceId}: a postings file's segments are not one run: $postings")
      assert(segsPerFile("norms", s.sliceId) == postings,
        s"slice ${s.sliceId}: norms files hold other segment sets than postings files")
    }
    store.dropAll()
  }
}
