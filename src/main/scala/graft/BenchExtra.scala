package graft

import java.util.Locale

/** Extra benchmarks for optimization work (guide §1) — NOT the driver
  * contract. `Bench.scala` is the frozen measurement harness; this main
  * reproduces its phase-1 query methodology (same session config, same
  * `.count()` action, min-of-interleaved-reps) for fast iteration, and can
  * restrict to a comma-separated query subset.
  *
  *   sbt "runMain graft.BenchExtra [q1,q2,...]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_QUERY_REPS (default 2).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPS", "2").toInt
    val only = args.headOption.map(_.split(",").toSet)
    val currentQuery = new java.util.concurrent.atomic.AtomicReference[String]("_warmup")

    val spark = LocalSession(cpus,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus.toString),
      s"graft-benchextra-$cpus", "ERROR")

    // optional per-job breakdown (GRAFT_EXTRA_JOBLOG=1): job wall time +
    // description, for attributing a query's seconds to its Spark jobs
    if (sys.env.get("GRAFT_EXTRA_JOBLOG").contains("1")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(js.jobId, (System.nanoTime(),
            Option(js.properties).flatMap(p =>
              Option(p.getProperty("spark.job.description"))).getOrElse("?")))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.remove(je.jobId)
          if (s != null)
            println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - s._1) / 1e9}%7.3fs ${s._2}")
        }
      })
    }

    // optional shuffle-byte accounting (GRAFT_EXTRA_SHUFFLEBYTES=1): sum
    // of shuffle write bytes + records per query (queries run
    // sequentially, so attribution by the current job description is
    // exact up to listener-flush lag). Evidence for shuffle-byte-cut
    // claims — bytes are measured, not estimated.
    val shuffleBytes = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    if (sys.env.get("GRAFT_EXTRA_SHUFFLEBYTES").contains("1"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) {
            val w = m.shuffleWriteMetrics
            val q = currentQuery.get()
            shuffleBytes.merge(q, (w.bytesWritten, w.recordsWritten),
              (a, b) => (a._1 + b._1, a._2 + b._2))
          }
        }
      })

    SparkEntry.indexFor(spark, sfDir) // pre-build the shared index like Bench

    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val series = scala.collection.mutable.LinkedHashMap(
      named.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[Double] }: _*)
    (1 to reps).foreach { rep =>
      named.foreach { case (n, fn) =>
        spark.sparkContext.setJobDescription(n)
        currentQuery.set(s"$n#$rep")
        val t0 = System.nanoTime()
        // failure -> rows=-1 with the elapsed time still recorded: this
        // DELIBERATELY mirrors the frozen Bench.scala phase-1 behavior so
        // the numbers stay comparable; a -1 row count in the console is
        // the failure signal (the frozen harness has the same property)
        val rows = try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        series(n) += sec
        println(f"[extra] $n%-34s ${sec}%7.3fs rows=$rows")
        // in byte-accounting mode, let the async listener bus drain
        // before switching currentQuery so late stage-completed events
        // are charged to the query that ran them (outside the timer)
        if (sys.env.get("GRAFT_EXTRA_SHUFFLEBYTES").contains("1")) Thread.sleep(400)
      }
    }
    if (!shuffleBytes.isEmpty) {
      Thread.sleep(1000) // let the listener bus drain
      shuffleBytes.forEach { (q, v) =>
        println(f"[shuffle] $q%-36s ${v._1 / 1048576.0}%9.2f MiB ${v._2}%10d records")
      }
    }
    val mins = named.map { case (n, _) => n -> series(n).min }
    def fmt(d: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(d))
    println(mins.map { case (n, v) => s""""$n":${fmt(v)}""" }
      .mkString("""{"metric":"extra","queries":{""", ",", s"""},"total":${fmt(mins.map(_._2).sum)}}"""))
    spark.stop()
  }
}
