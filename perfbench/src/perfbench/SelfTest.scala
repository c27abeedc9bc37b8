package perfbench

import org.apache.spark.sql.SparkSession

/** Tests of the harness itself: the percentile rule, open-loop timing,
  * job-group attribution, and every check failing on corrupted output.
  * Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(f: => Unit): Unit =
    try { f; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assert(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def fails(r: Option[String]): Unit = assert(r.nonEmpty, "check passed on corrupted output")
  private def passes(r: Option[String]): Unit = assert(r.isEmpty, s"check failed on good output: $r")

  def run(): Int = {
    test("percentile: median always, tails only with 10 samples beyond") {
      val xs = (1 to 999).map(_.toDouble)
      assert(Pct(xs, 0.5).contains(500.0), s"median ${Pct(xs, 0.5)}")
      assert(Pct(xs, 0.99).isEmpty, "p99 of 999 samples has 9 beyond")
      assert(Pct(xs :+ 1000.0, 0.99).contains(990.0), s"p99 of 1000 ${Pct(xs :+ 1000.0, 0.99)}")
      assert(Pct((1 to 99).map(_.toDouble), 0.9).isEmpty, "p90 of 99 samples has 9 beyond")
      assert(Pct((1 to 100).map(_.toDouble), 0.9).contains(90.0), "p90 of 100 samples")
      assert(Pct(Seq(3.0), 0.5).contains(3.0) && Pct(Nil, 0.5).isEmpty, "median of 1 / 0 samples")
    }

    test("open loop: latency from due time includes queueing behind a stall") {
      val r = Loops.open(rate = 200.0, seconds = 0.5, workers = 1) { i =>
        if (i == 20) Thread.sleep(100); true
      }
      assert(r.samples.size == 100 && r.failed == 0, s"sent ${r.sent} failed ${r.failed}")
      val next = r.samples.find(_.i == 21).get
      assert(next.latencyMs >= 90.0, s"request behind the stall: ${next.latencyMs} ms")
      assert(next.endNs - next.startNs < 50000000L, "its own service time is short")
      assert(next.queueWaitMs >= 85.0, s"queue wait ${next.queueWaitMs}")
    }

    test("open loop: generator lateness is recorded and counted in latency") {
      val r = Loops.open(rate = 200.0, seconds = 0.5, workers = 2,
        beforeSend = i => if (i == 30) Thread.sleep(80)) { _ => true }
      assert(r.lateMaxMs >= 75.0, s"late max ${r.lateMaxMs}")
      val s = r.samples.find(_.i == 30).get
      assert(s.latencyMs >= 75.0, s"late request latency ${s.latencyMs}")
    }

    test("open loop: unfinished requests count as failed") {
      val r = Loops.open(rate = 100.0, seconds = 0.2, workers = 1, drainSeconds = 0.1) { _ =>
        Thread.sleep(50); true
      }
      assert(r.unfinished > 0 && r.failed == r.unfinished, s"unfinished ${r.unfinished}")
    }

    test("closed loop: one request in flight per client") {
      val inFlight = new java.util.concurrent.atomic.AtomicInteger
      val peak = new java.util.concurrent.atomic.AtomicInteger
      val r = Loops.closed(3, 0.3) { (_, _) =>
        val n = inFlight.incrementAndGet(); peak.accumulateAndGet(n, math.max)
        Thread.sleep(5); inFlight.decrementAndGet(); true
      }
      assert(peak.get <= 3 && r.done > 0, s"peak ${peak.get}")
    }

    test("job-group attribution: spans own their jobs, nested spans restore the group") {
      val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val tr = new Tracer(true, spark.sparkContext)
        tr.span("a")(spark.range(100).count())
        tr.span("b") {
          spark.range(10).count()
          tr.span("c")(spark.range(10).count())
          spark.range(10).count()
        }
        spark.range(10).count()
        tr.drain()
        val (a, b, c) = (tr.group("a").jobs.get, tr.group("b").jobs.get, tr.group("c").jobs.get)
        assert(a >= 1 && c >= 1 && b >= 2 * c, s"jobs a=$a b=$b c=$c")
        assert(tr.group("a").tasks.get >= a, "tasks booked")
        assert(tr.listener.of("-").jobs.get >= 1, "unspanned job lands outside the groups")
        val spans = tr.spanList
        val bId = spans.find(_.name == "b").get.id
        assert(spans.find(_.name == "c").get.parent == bId, "c's parent is b")
        assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null, "group cleared")
        val off = new Tracer(false, spark.sparkContext)
        off.span("x")(spark.range(5).count())
        assert(off.spanList.isEmpty, "untraced records nothing")
      } finally spark.stop()
    }

    test("check: top-k equality fails on a swapped rank or a changed score") {
      val good = Seq(5L -> 3.5, 2L -> 2.25, 9L -> 1.0)
      passes(Checks.topKEqual(good, good))
      fails(Checks.topKEqual(good, Seq(good(1), good(0), good(2))))
      fails(Checks.topKEqual(good, good.updated(2, 9L -> Math.nextUp(1.0))))
      fails(Checks.topKEqual(good, good.take(2)))
      fails(Checks.topKEqual(Nil, Nil))
    }

    test("check: counts and zero-counts fail when off") {
      passes(Checks.equal("docs", 10L, 10L)); fails(Checks.equal("docs", 10L, 9L))
      passes(Checks.zero("errors", 0)); fails(Checks.zero("errors", 1))
    }

    test("check: a marker not found (or found twice) fails") {
      passes(Checks.markersFound(Seq("zq1x0" -> 1, "zq1x1" -> 1)))
      fails(Checks.markersFound(Seq("zq1x0" -> 1, "zq1x1" -> 0)))
      fails(Checks.markersFound(Seq("zq1x0" -> 2)))
    }

    test("check: exact dedup must drop exactly the planted copies") {
      val planted = Map(3L -> 1, 7L -> 2)
      val good = Seq(1L -> 1L, 3L -> 2L, 7L -> 3L, 8L -> 1L)
      passes(Checks.exactDrops(good, 7, planted))
      fails(Checks.exactDrops(good.updated(2, 7L -> 1L) :+ (100L -> 1L) :+ (101L -> 1L), 7, planted))
      fails(Checks.exactDrops(good.updated(3, 8L -> 2L), 8, planted))
      fails(Checks.exactDrops(good.updated(1, 4L -> 2L), 7, planted))
    }

    test("check: a dropped planted pair fails") {
      val planted = Seq((1L, 100L), (2L, 104L))
      passes(Checks.pairsReported(Set((1L, 100L), (2L, 104L), (5L, 6L)), planted))
      fails(Checks.pairsReported(Set((1L, 100L), (5L, 6L)), planted))
    }

    test("check: a reported Jaccard off by one ulp, or under t, fails") {
      val truth = Map((1L, 2L) -> 0.75, (3L, 4L) -> 0.5)
      val f = (a: Long, b: Long) => truth((a, b))
      val good = Seq((1L, 2L, 0.75), (3L, 4L, 0.5))
      passes(Checks.pairScores(good, f, 0.5))
      fails(Checks.pairScores(good.updated(0, (1L, 2L, Math.nextUp(0.75))), f, 0.5))
      fails(Checks.pairScores(good, f, 0.6))
      passes(Checks.noneBelow(good, f, 0.5))
      fails(Checks.noneBelow(good, f, 0.8))
    }

    test("check: a planted cluster split over two components fails") {
      val label = Map(1L -> 1L, 100L -> 1L, 101L -> 1L, 2L -> 2L, 104L -> 2L)
      passes(Checks.clustersTogether(label, Seq(Seq(1L, 100L, 101L), Seq(2L, 104L))))
      fails(Checks.clustersTogether(label.updated(101L, 2L), Seq(Seq(1L, 100L, 101L))))
      fails(Checks.clustersTogether(label - 104L, Seq(Seq(2L, 104L))))
    }

    test("generator: same seed, same inputs; another seed, other inputs") {
      val (a, b, c) = (new Gen(3), new Gen(3), new Gen(4))
      assert(a.page(0, 17) == b.page(0, 17), "page differs under one seed")
      assert(a.queries(50, 0, 1000) == b.queries(50, 0, 1000), "queries differ under one seed")
      assert(a.page(0, 17).text != c.page(0, 17).text, "seed ignored")
      val toks = a.tokens(0, 5)
      assert(toks.length >= 40 && toks.length <= 160 && toks.count(_.startsWith("zq")) == 1,
        s"doc shape ${toks.length}")
      assert(a.vocab.distinct.length == Gen.VocabSize, "vocabulary words are distinct")
      val shares = a.queries(20000, 0, 1000).groupBy(_.cls).map { case (k, v) => k -> v.size / 20000.0 }
      assert(math.abs(shares("term_head") - 0.40) < 0.02 && math.abs(shares("phrase") - 0.15) < 0.02,
        s"mix $shares")
    }

    test("plants: exact copies share text, near copies differ by 1-3 words") {
      val p = new Plants(new Gen(5), 2000)
      for (src <- 0L until 2000L; k <- 0 until p.kind(src)._2) {
        val near = p.nearTokens(src, k)
        val base = p.tokensOf(src)
        val diff = near.zip(base).count { case (x, y) => x != y }
        assert(diff >= 1 && diff <= 3 && near.length == base.length, s"copy $k of $src: $diff edits")
      }
      val ex = (0L until 2000L).find(i => p.kind(i)._1 > 0).get
      val docs = p.docs(ex)
      assert(docs.map(_.text).distinct.size == 1 && docs.size >= 2, "exact copies")
    }

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
