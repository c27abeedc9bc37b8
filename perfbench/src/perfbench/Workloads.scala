package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.index.{IndexBuilder, IndexStore}
import graft.query.ServingCluster

/** Input sizes and fixed rates. Every workload reads only these. */
object Sizes {
  final val K = 10
  /** index: pages built, queried and served; 4 serving shards. */
  final val IndexDocs = 16000
  final val ServeShards = 4
  /** index: open-loop offered rate of the serving phase, 15-20% of the seed
    * commit's closed-loop rate on a 4-core host, so that the open loop stays
    * below capacity when the host is shared and slows.
    */
  final val ServeRate = 500.0
  /** index, live phase: micro-batches of 300 pages due every 2 s, queries
    * at 100/s, tiered merge above 3 slices (so the second batch merges), node budget a quarter of its
    * decoded size.
    */
  final val LiveBatches = 2
  final val LiveBatchDocs = 300
  final val LiveIntervalS = 2.0
  final val LiveQueryRate = 100.0
  final val LiveMaxSlices = 3
  final val LiveBudgetShare = 0.25
  /** curate: base pages; plants are added on top. */
  final val CurateDocs = 4000
  final val ShingleK = 3
  final val JaccardT = 0.5
  final val MinhashT = 0.8
  /** Index geometry: 4096-doc segments, so a build commits two slices. */
  val IndexCfg: IndexBuilder.Config = IndexBuilder.Config(segSize = 4096, slices = 2, positions = true)
}

/** What one run shares across its workload: session, inputs, recorder, and
  * the tallies the result line reports.
  */
final class Ctx(val spark: SparkSession, val gen: Gen, val workDir: java.nio.file.Path, val nproc: Int) {
  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failed = new java.util.concurrent.atomic.AtomicLong
  val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
  /** Workload metrics printed by name beside the result line. */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]

  def dir(name: String): String = workDir.resolve(name).toString

  /** Runs and counts one operation; one that throws counts as failed.
    * Returns whether it succeeded.
    */
  def op(ok: => Boolean): Boolean = {
    val r = try ok catch { case scala.util.control.NonFatal(_) => false }
    attempted.incrementAndGet(); if (!r) failed.incrementAndGet(); r
  }

  def check(name: String, r: Option[String]): Unit = synchronized {
    checks += name -> r; op(r.isEmpty)
  }

  def put(name: String, v: Double, unit: String): Unit = report(name) = (v, unit)

  /** Seconds since JVM start at each phase boundary, printed with the run. */
  val timeline = mutable.ArrayBuffer.empty[(String, Double)]
  def mark(phase: String): Unit = timeline += phase ->
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

object Timed {
  def apply[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: set up inputs, then measured passes of a fixed length. A
  * pass returns the end-to-end values; `layers` reads the traced pass.
  */
abstract class Workload(val c: Ctx) {
  def spark: SparkSession = c.spark
  def setup(tr: Tracer): Unit
  /** Returns (throughput in 1/s, median latency in ms). */
  def measure(tr: Tracer, seconds: Double): (Double, Double)
  def layers(tr: Tracer): Map[String, Double]
  def check(): Unit

  protected def mb(b: Double): Double = b / (1 << 20)

  protected def per(a: Double, n: Double): Double = if (n == 0) 0.0 else a / n

}

/** Queries of the mix against a serving cluster or node. */
object Serve {
  def run(cl: ServingCluster, q: Query, hitsOut: Boolean): Int = q.cls match {
    case "phrase" => cl.phraseTopK(q.text, Sizes.K).length
    case _ if hitsOut => cl.topKHits(q.text, Sizes.K).length
    case _ => cl.topK(q.text, Sizes.K).length
  }

  def ok(q: Query, n: Int): Boolean = q.cls != "rare" || n == 1

  /** Budget per shard that fits the decoded postings and the compressed
    * payload, plus 256 MiB of headroom, which sizes the phrase-positions
    * cache.
    */
  def fittingBudget(store: IndexStore, shards: Int): Long = {
    val s = store.committedSlices
    (s.map(m => m.postings * 16 + m.blocks * 64).sum + s.map(_.bytes).sum) / shards + (256L << 20)
  }
}

