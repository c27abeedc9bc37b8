package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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
