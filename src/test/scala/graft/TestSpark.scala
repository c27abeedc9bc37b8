package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, SparkFirehoseListener}
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

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

  /** Shuffle-map stages `body` ran: one per Exchange it executed. */
  def shuffleStagesOf(body: => Any): Int = eventsOf(body).collect {
    case t: SparkListenerTaskEnd if t.taskType == "ShuffleMapTask" => t.stageId
  }.distinct.size
}
