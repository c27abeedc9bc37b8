package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextStats}

/** Planted duplicates of the `curate` corpus: base document `i` is an
  * exact-copy source (2%), a near-duplicate source (3%), or neither. Copy
  * `k` of source `i` has id `nBase + 4 * i + k`.
  */
final class Plants(gen: Gen, val nBase: Long) extends Serializable {
  def kind(i: Long): (Int, Int) = { // (exact copies, near copies)
    val r = gen.rng(7L, i)
    val u = r.nextDouble()
    if (u < 0.02) (1 + r.nextInt(2), 0) else if (u < 0.05) (0, 1 + r.nextInt(2)) else (0, 0)
  }

  def copyId(i: Long, k: Int): Long = nBase + 4 * i + k

  /** Tokens of a near copy: 1-3 distinct positions, each replaced by a word
    * other than the original.
    */
  def nearTokens(i: Long, k: Int): Array[String] = {
    val base = gen.tokens(0L, i)
    val t = base.clone()
    val r = gen.rng(8L, copyId(i, k))
    val edits = 1 + r.nextInt(3)
    val at = mutable.LinkedHashSet.empty[Int]
    while (at.size < edits) at += r.nextInt(t.length)
    at.foreach { p =>
      var w = gen.vocab(gen.zipfRank(r))
      while (w == base(p)) w = gen.vocab(gen.zipfRank(r))
      t(p) = w
    }
    t
  }

  /** Base document `i` and its copies. */
  def docs(i: Long): Seq[CurateDoc] = {
    val (ex, near) = kind(i)
    val toks = gen.tokens(0L, i)
    val text = Gen.render(toks)
    val lang = gen.lang(0L, i)
    CurateDoc(i, gen.url(0L, i), text, lang) +:
      ((0 until ex).map(k => CurateDoc(copyId(i, k), gen.url(0L, i) + s"?copy=$k", text, lang)) ++
        (0 until near).map(k => CurateDoc(copyId(i, k), gen.url(0L, i) + s"?near=$k",
          Gen.render(nearTokens(i, k)), lang)))
  }

  def tokensOf(id: Long): Array[String] =
    if (id < nBase) gen.tokens(0L, id)
    else {
      val i = (id - nBase) / 4; val k = ((id - nBase) % 4).toInt
      if (kind(i)._1 > 0) gen.tokens(0L, i) else nearTokens(i, k)
    }
}

/** `curate`: TextStats -> Dedup.exact -> ngramJaccardPairs -> minhashLsh ->
  * components, each op's output written to parquet and read by the next.
  */
final class CurateWorkload(c0: Ctx) extends Workload(c0) {
  private val plants = new Plants(c.gen, Sizes.CurateDocs)
  private val input = c.dir("curate_in")
  private def out(s: String) = c.dir(s"curate_$s")
  private var totalDocs = 0L
  private val Ops = Seq("ops.textstats", "ops.dedup_exact", "ops.ngram_jaccard", "ops.minhash_lsh",
    "ops.components")

  def setup(tr: Tracer): Unit = totalDocs = writeDocs(plants, input)

  private def writeDocs(p: Plants, path: String): Long = {
    val ss = spark; import ss.implicits._
    spark.range(0L, p.nBase, 1L, c.nproc * 2)
      .mapPartitions(it => it.flatMap(i => p.docs(i)))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()
  }

  private def step(tr: Tracer, name: String, path: String)(f: => DataFrame): Unit = {
    c.op(true)
    tr.span(name)(f.write.mode("overwrite").parquet(path))
    c.mark(name)
  }

  private def chain(tr: Tracer, input: String): Unit = {
    val rd = spark.read
    step(tr, "ops.textstats", out("stats")) {
      val t = col("text")
      rd.parquet(input).select(col("id"), col("url"), t, col("lang"),
        TextStats.qualityScore(t).as("quality"), TextStats.langId(t).as("lang_id"),
        TextStats.topBigramFraction(t).as("top_bigram"), TextStats.dupTokenRatio(t).as("dup_tokens"))
    }
    step(tr, "ops.dedup_exact", out("exact"))(Dedup.exact(rd.parquet(out("stats")), "id", "text"))
    tr.span("ops.dedup_exact") {
      rd.parquet(out("stats")).join(rd.parquet(out("exact")).select(col("rep_id").as("id")), Seq("id"), "left_semi")
        .write.mode("overwrite").parquet(out("kept"))
    }
    step(tr, "ops.ngram_jaccard", out("jpairs")) {
      Dedup.ngramJaccardPairs(rd.parquet(out("kept")), "id", "text", Sizes.ShingleK, Sizes.JaccardT)
    }
    step(tr, "ops.minhash_lsh", out("mpairs")) {
      Dedup.minhashLsh(rd.parquet(out("kept")), "id", "text", shingleK = Sizes.ShingleK,
        threshold = Sizes.MinhashT)
    }
    step(tr, "ops.components", out("comp"))(Dedup.components(rd.parquet(out("jpairs"))))
  }

  def measure(tr: Tracer, seconds: Double): (Double, Double) = {
    val t0 = System.nanoTime()
    val walls = mutable.ArrayBuffer.empty[Double]
    while (walls.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      walls += Timed(chain(tr, input))._2
      c.mark(s"chain_${walls.size}")
    }
    val med = Pct.median(walls.toSeq)
    c.put("curate_docs_per_s", totalDocs / med, "docs/s")
    c.put("curate_chains", walls.size, "count")
    (totalDocs / med, med * 1e3)
  }

  def layers(tr: Tracer): Map[String, Double] = {
    tr.drain()
    val n = tr.count("ops.components").toDouble
    def s(op: String) = per(tr.seconds(op), n)
    val j = tr.group("ops.ngram_jaccard")
    val m = tr.group("ops.minhash_lsh")
    val jPairs = spark.read.parquet(out("jpairs")).count().toDouble
    Map(
      "ops.textstats.s" -> s("ops.textstats"),
      "ops.textstats.task_cpu_s" -> per(tr.group("ops.textstats").cpuNs.get / 1e9, n),
      "ops.dedup_exact.s" -> s("ops.dedup_exact"),
      "ops.dedup_exact.kept" -> spark.read.parquet(out("kept")).count().toDouble,
      "ops.ngram_jaccard.s" -> s("ops.ngram_jaccard"),
      "ops.ngram_jaccard.shuffle_write_mb" -> per(mb(j.shuffleWriteBytes.get), n),
      "ops.ngram_jaccard.shuffle_records" -> per(j.shuffleWriteRecords.get, n),
      "ops.ngram_jaccard.spill_mb" -> per(mb(j.spillBytes.get), n),
      "ops.ngram_jaccard.pairs" -> jPairs,
      "ops.ngram_jaccard.pairs_per_mshuffle_record" -> per(jPairs, per(j.shuffleWriteRecords.get, n) / 1e6),
      "ops.minhash_lsh.s" -> s("ops.minhash_lsh"),
      "ops.minhash_lsh.shuffle_records" -> per(m.shuffleWriteRecords.get, n),
      "ops.minhash_lsh.pairs" -> spark.read.parquet(out("mpairs")).count().toDouble,
      "ops.components.s" -> s("ops.components"),
      "ops.components.jobs" -> per(tr.group("ops.components").jobs.get, n),
      "ops.components.clusters" ->
        spark.read.parquet(out("comp")).select("rep_id").distinct().count().toDouble,
      "ops.failed_tasks" -> Ops.map(o => tr.group(o).failedTasks.get).sum.toDouble)
  }

  def check(): Unit = {
    val rd = spark.read
    // expected duplicate groups come from the generated texts themselves:
    // representative = smallest id of each distinct text
    val byText = (0L until Sizes.CurateDocs).flatMap(plants.docs).groupBy(_.text).values.map(_.map(_.id))
    val expected = byText.filter(_.size > 1).map(g => g.min -> (g.size - 1)).toMap
    val keptIds = byText.map(_.min).toSet
    val groups = rd.parquet(out("exact")).select("rep_id", "n_docs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    c.check("curate.exact_drops_planted_copies", Checks.exactDrops(groups, totalDocs, expected))

    // ngram pairs are mined over the kept docs with the default hot-shingle
    // guard: shingles in more than `maxDf` kept docs leave the intersection
    // count (set sizes stay whole), so the expected value is computed the
    // same way from the harness's own shingles
    val kept = rd.parquet(out("kept")).select("id").collect().map(_.getLong(0))
    val sh = new java.util.HashMap[Long, Set[String]]()
    def shOf(id: Long): Set[String] = sh.computeIfAbsent(id, i => Gen.shingles(plants.tokensOf(i), Sizes.ShingleK))
    def pairsOf(p: String) = rd.parquet(out(p)).select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val jp = pairsOf("jpairs")
    val near = (0L until Sizes.CurateDocs).flatMap { i =>
      (0 until plants.kind(i)._2).map(k => (i, plants.copyId(i, k)))
    }.filter { case (a, b) => keptIds(a) && keptIds(b) }
    val shared = (jp.map(p => (p._1, p._2)) ++ near).flatMap { case (a, b) => shOf(a).intersect(shOf(b)) }.toSet
    val df = new java.util.HashMap[String, java.lang.Long]()
    kept.foreach { id =>
      Gen.shingles(plants.tokensOf(id), Sizes.ShingleK).filter(shared.contains)
        .foreach(s => df.merge(s, 1L, (x, y) => x + y))
    }
    val hot = shared.filter(s => df.getOrDefault(s, 0L) > Dedup.DefaultMaxShingleDf)
    def guarded(a: Long, b: Long): Double = {
      val (x, y) = (shOf(a), shOf(b))
      val inter = x.count(s => y.contains(s) && !hot.contains(s)).toLong
      inter.toDouble / (x.size.toLong + y.size.toLong - inter).toDouble
    }
    def truth(a: Long, b: Long): Double = Gen.jaccard(shOf(a), shOf(b))
    c.check("curate.ngram_pairs_recomputed", Checks.pairScores(jp, guarded, Sizes.JaccardT))
    val mustReport = near.filter { case (a, b) => guarded(a, b) >= Sizes.JaccardT }
    c.put("curate_planted_pairs", near.size, "count")
    c.put("curate_planted_pairs_under_guard", near.size - mustReport.size, "count")
    c.check("curate.planted_pairs_reported",
      Checks.pairsReported(jp.map(p => (p._1, p._2)).toSet, mustReport))
    c.check("curate.minhash_none_below", Checks.noneBelow(pairsOf("mpairs"), truth, Sizes.MinhashT))
    val label = rd.parquet(out("comp")).select("id", "rep_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = near.groupBy(_._1).toSeq.collect {
      case (src, ps) if ps.forall(mustReport.contains) => src +: ps.map(_._2)
    }
    c.check("curate.clusters_in_one_component", Checks.clustersTogether(label, clusters))
  }
}
