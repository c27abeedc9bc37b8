package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.{ListenerDrain, SparkFirehoseListener}
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The listener events `body` caused, in the order they were posted. */
  def eventsOf(body: => Any): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = events.add(e)
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerDrain(sc)
      events.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Replace the parquet table at local path `dir` with `f` of its rows,
    * written beside it first.
    */
  def rewriteTable(dir: String)(f: DataFrame => DataFrame): Unit = {
    val (d, tmp) = (Paths.get(dir), Paths.get(s"$dir.rewrite"))
    f(spark.read.parquet(dir)).write.parquet(tmp.toString)
    Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    Files.move(tmp, d)
  }

  /** A session under whose settings a SQL scan splits files apart. */
  def splittingSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    s.conf.set("spark.sql.files.openCostInBytes", "1")
    s
  }

  /** A session whose parquet writes cut a row group every `rows` rows. */
  def smallRowGroupSession(rows: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("parquet.block.row.count.limit", rows.toString)
    s
  }

  /** Per resident unit of `idx`'s postings (positions pruned unless
    * `positions`): the segments its blocks hold, and how many decoded norms
    * rows it holds of each segment. Reading them fills every unit.
    */
  def residentSegs(idx: graft.index.OpenIndex, positions: Boolean): Array[(Set[Int], Map[Int, Int])] =
    idx.postingsScan(positions).resident
      .map(u => (u.blocks.valuesIterator.flatMap(_.map(_.seg)).toSet, u.norms.map { case (s, ns) => s -> ns.length }))
      .collect()

  /** Records and bytes the tasks among `events` read from their input.
    * Spark books a task's read of a cached partition as input too: one
    * record per element and the block's in-memory size.
    */
  def inputOf(events: Seq[SparkListenerEvent]): (Long, Long) = {
    val in = events.collect { case e: SparkListenerTaskEnd if e.taskMetrics != null => e.taskMetrics.inputMetrics }
    (in.map(_.recordsRead).sum, in.map(_.bytesRead).sum)
  }

  /** Bytes `body` read through Hadoop file systems, over every file system
    * and thread: what a parquet read counts, and a cached block's read does
    * not.
    */
  def fsBytesReadOf(body: => Any): Long = {
    def total = FileSystem.getGlobalStorageStatistics.iterator.asScala
      .map(s => Option(s.getLong("bytesRead")).fold(0L)(_.longValue)).sum
    val before = total
    body
    total - before
  }

  /** The memory size `SparkContext.getRDDStorageInfo` reports for the RDD
    * `id` (0 when none of it is cached), once the status store has seen
    * every block update posted so far.
    */
  def memSizeOf(id: Int): Long = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.filter(_.id == id).map(_.memSize).sum
  }

  /** Jobs and shuffle-map stages `body` ran: one stage per Exchange it
    * executed.
    */
  def jobsAndShuffleStagesOf(body: => Any): (Int, Int) = {
    val events = eventsOf(body)
    (events.count(_.isInstanceOf[SparkListenerJobStart]), events.collect {
      case t: SparkListenerTaskEnd if t.taskType == "ShuffleMapTask" => t.stageId
    }.distinct.size)
  }
}
