package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's declarations: workloads, end-to-end and per-layer
  * metrics. `--declare` prints them as BENCHMARK.json.
  */
object Spec {
  final case class Metric(name: String, unit: String, better: String, bound: Double = 0.0)

  val Workloads: Seq[(String, String)] = Seq(
    "index" -> ("16k seeded pages: two builds (2 slices) and three Spark-path Wand/Phrase top-k windows " +
      "spread over the run (end to end); 4-shard in-memory serving and live micro-batches into a bounded node"),
    "curate" -> ("4k pages plus 2% exact and 3% near-duplicate plants: TextStats, Dedup.exact, " +
      "ngramJaccardPairs, minhashLsh, components; the only workload that runs graft.ops"))

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower", 0.25),
    Metric("throughput", "1/s", "higher", 0.25),
    Metric("latency_p50_ms", "ms", "lower", 0.25))

  private def m(unit: String, better: String)(names: String*) = names.map(Metric(_, unit, better))

  val PerLayer: Seq[Metric] =
    m("s", "lower")("index.build.s", "index.build.task_cpu_s", "index.build.gc_s",
      "index.build.fetch_wait_s", "index.store.open_s") ++
    m("count", "lower")("index.build.jobs", "index.build.shuffle_records", "index.build.failed_tasks") ++
    m("MiB", "lower")("index.build.shuffle_write_mb", "index.build.spill_mb", "index.store.bytes") ++
    m("count", "higher")("index.build.postings") ++
    m("B", "lower")("index.bytes_per_doc") ++
    m("count", "lower")("query.wand.jobs_per_query", "query.wand.tasks_per_query") ++
    m("ms", "lower")("query.wand.task_cpu_ms_per_query", "query.wand.driver_ms_per_query",
      "query.phrase.p50_ms") ++
    m("KiB", "lower")("query.wand.shuffle_kb_per_query") ++
    m("us", "lower")(Gen.Classes.flatMap(k => Seq(s"query.cluster.$k.p50_us", s"query.cluster.$k.p99_us")): _*) ++
    m("KiB", "lower")("query.cluster.alloc_kb_per_query") ++
    m("count", "higher")("query.cluster.hits_per_query") ++
    m("ms", "lower")("jvm.gc_ms_per_kquery") ++
    m("s", "lower")("serve.open_s") ++
    m("MiB", "lower")("serve.loaded_mb") ++
    m("ms", "lower")("serve.p99_ms", "serve.queue_wait.p99_ms", "serve.generator_late.max_ms") ++
    m("count", "higher")("serve.sent") ++
    m("count", "lower")("serve.failed") ++
    m("s", "lower")("streaming.batch.p50_s", "streaming.batch.task_cpu_s") ++
    m("count", "lower")("streaming.batch.jobs") ++
    m("MiB", "lower")("streaming.batch.shuffle_write_mb") ++
    m("count", "lower")("index.merge.count", "index.store.slices_max") ++
    m("MiB", "higher")("index.vacuum.mb") ++
    m("s", "lower")("index.vacuum.s") ++
    m("ms", "lower")("query.node.refresh.p50_ms", "query.node.refresh.max_ms") ++
    m("count", "lower")("query.node.refresh_errors") ++
    m("KiB", "lower")("query.node.delta_kb.p50") ++
    m("MiB", "lower")("query.node.loaded_mb") ++
    m("s", "lower")("live.fresh.p50_s", "live.fresh.max_s") ++
    m("ms", "lower")("live.query.p90_ms", "live.query_in_refresh.p50_ms", "live.queue_wait.p90_ms",
      "live.generator_late.max_ms") ++
    m("count", "higher")("live.sent") ++
    m("count", "lower")("live.failed") ++
    m("s", "lower")("ops.textstats.s", "ops.textstats.task_cpu_s", "ops.dedup_exact.s",
      "ops.ngram_jaccard.s", "ops.minhash_lsh.s", "ops.components.s") ++
    m("count", "lower")("ops.dedup_exact.kept", "ops.ngram_jaccard.shuffle_records",
      "ops.minhash_lsh.shuffle_records", "ops.components.jobs", "ops.failed_tasks") ++
    m("MiB", "lower")("ops.ngram_jaccard.shuffle_write_mb", "ops.ngram_jaccard.spill_mb") ++
    m("count", "higher")("ops.ngram_jaccard.pairs", "ops.minhash_lsh.pairs", "ops.components.clusters") ++
    m("ratio", "higher")("ops.ngram_jaccard.pairs_per_mshuffle_record") ++
    m("MiB", "lower")("jvm.heap_peak_mb") ++
    m("s", "lower")("jvm.gc_s") ++
    m("count", "lower")("trace.spans") ++
    m("%", "lower")("trace.overhead.throughput_pct", "trace.overhead.latency_pct")

  def json: String = {
    def metric(x: Metric, withBound: Boolean) =
      s"""    {"name": "${x.name}", "unit": "${x.unit}", "better": "${x.better}"""" +
        (if (withBound) s""", "bound": ${x.bound}}""" else "}")
    val wl = Workloads.map { case (n, why) => s"""    {"name": "$n", "why": ${Json.str(why)}}""" }
    s"""{
       |  "command": ["python3", "perfbench/run.py"],
       |  "paths": ["perfbench"],
       |  "run_seconds": ${Main.RunSeconds},
       |  "workloads": [
       |${wl.mkString(",\n")}
       |  ],
       |  "end_to_end": [
       |${EndToEnd.map(metric(_, withBound = true)).mkString(",\n")}
       |  ],
       |  "per_layer": [
       |${PerLayer.map(metric(_, withBound = false)).mkString(",\n")}
       |  ]
       |}
       |""".stripMargin
  }
}

object Main {
  final val RunSeconds = 10
  /** Set-up runs this many times; setup_s is the median. */
  final val SetupReps = 3

  def session(nproc: Int, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config(Settings(nproc, root))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The one fixed set of session settings every run uses. */
  def Settings(nproc: Int, root: Path): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (2 * nproc).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false",
    "spark.local.dir" -> root.resolve("spark-local").toAbsolutePath.toString,
    "spark.sql.warehouse.dir" -> root.resolve("warehouse").toAbsolutePath.toString)

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    if (args.contains("--declare")) { print(Spec.json); return }
    if (args.contains("--selftest")) { sys.exit(SelfTest.run()) }
    if (args.contains("--train")) { train(Paths.get(parse(args.filterNot(_ == "--train")).getOrElse("root", ".bench_build/perfbench"))); return }
    val a = parse(args)
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    require(Spec.Workloads.exists(_._1 == workload), s"unknown workload $workload")
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", RunSeconds.toString).toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val root = Paths.get(a.getOrElse("root", ".bench_build/perfbench"))
    val nproc = Runtime.getRuntime.availableProcessors
    val work = root.resolve(s"work/$workload-$seed-${ProcessHandle.current.pid}")
    val spark = session(nproc, root)
    val code =
      try run(spark, workload, seed, seconds, traced, work, root, nproc)
      finally { spark.stop(); deleteTree(work) }
    sys.exit(code)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  /** One short index run, for the build's class-data sharing archive. */
  def train(root: Path): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors
    val work = root.resolve("work/train")
    val spark = session(nproc, root)
    try run(spark, "index", 0L, 1.0, traced = false, work, root, nproc)
    finally { spark.stop(); deleteTree(work) }
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path, root: Path, nproc: Int): Int = {
    val c = new Ctx(spark, new Gen(seed), work, nproc)
    val w: Workload = workload match {
      case "index" => new IndexWorkload(c)
      case "curate" => new CurateWorkload(c)
    }
    val off = new Tracer(false, spark.sparkContext)
    val tr = if (traced) new Tracer(true, spark.sparkContext) else off
    c.mark("session")
    val setupS = Pct.median((0 until SetupReps).map(_ => Timed(w.setup(tr))._2))
    c.mark("setup")
    // a traced run reports only the later passes: its first pass is a
    // warm-up and runs at half length, so the three passes fit the run limit
    val (thr, lat) = w.measure(off, if (traced) seconds / 2 else seconds)
    val e2e = Seq("setup_s" -> setupS, "throughput" -> thr, "latency_p50_ms" -> lat)
    val metrics: Seq[(String, Double)] =
      if (!traced) e2e
      else {
        // the traced pass runs between two untraced ones and is compared
        // with the second, which runs on an equally warm JVM
        Jvm.resetPeaks()
        val gc0 = Jvm.gcMs()
        val (tThr, tLat) = w.measure(tr, seconds)
        val jvm = Map("jvm.heap_peak_mb" -> Jvm.heapPeakBytes() / 1048576.0,
          "jvm.gc_s" -> (Jvm.gcMs() - gc0) / 1e3,
          "trace.spans" -> tr.spanList.size.toDouble)
        val got = w.layers(tr) ++ jvm
        val (uThr, uLat) = w.measure(off, seconds)
        val overhead = Map(
          "trace.overhead.throughput_pct" -> 100.0 * (uThr - tThr) / uThr,
          "trace.overhead.latency_pct" -> 100.0 * (tLat - uLat) / uLat)
        println(f"# untraced warm pass: throughput $uThr%.4f 1/s, latency_p50_ms $uLat%.4f ms")
        val all = got ++ overhead
        val unknown = all.keySet -- Spec.PerLayer.map(_.name)
        require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
        tr.write(root.resolve(s"trace/$workload-$seed.jsonl"))
        println(s"# trace written to ${root.resolve(s"trace/$workload-$seed.jsonl")}")
        println(f"# traced pass: throughput $tThr%.4f 1/s, latency_p50_ms $tLat%.4f ms")
        Spec.PerLayer.map(x => x.name -> all.getOrElse(x.name, 0.0))
      }
    w.check()
    c.mark("checks")

    println(s"# workload $workload seed $seed seconds $seconds trace ${if (traced) 1 else 0} nproc $nproc")
    println("# session " + Settings(nproc, root).toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    c.report.foreach { case (k, (v, u)) => println(f"# $k $v%.6g $u") }
    val units = (Spec.EndToEnd ++ Spec.PerLayer).map(x => x.name -> x.unit).toMap
    metrics.foreach { case (k, v) => println(f"# $k $v%.6g ${units(k)}") }
    println("# timeline " + c.timeline.map { case (k, t) => f"$k=$t%.1f" }.mkString(" "))
    c.checks.foreach { case (k, r) => println(s"# check $k ${r.fold("ok")("FAILED: " + _)}") }
    val failedShare = c.failed.get.toDouble / math.max(1L, c.attempted.get)
    println(f"# failed_share $failedShare%.6g ratio")
    // a failed operation (an error, or a rare query without its one hit)
    // fails the run like a failed check
    val correct = c.failed.get == 0 && c.checks.forall(_._2.isEmpty)
    val ms = metrics.map { case (k, v) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(units(k))}}" }
    println(s"""{"correct": $correct, "attempted": ${c.attempted.get}, "failed": ${c.failed.get}, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    if (correct) 0 else 1
  }
}
