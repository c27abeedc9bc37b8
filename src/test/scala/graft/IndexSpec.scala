package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.analysis.{Analyzer, functions => ga}
import graft.index._

class IndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshStore() =
    new IndexStore(Files.createTempDirectory("graft-test-idx-").toString)

  // pages urls are https://hostH.example/p/<id>; derive the id from the url
  private lazy val docs =
    Corpus.pages(spark, 1000)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")

  test("postings decode back to brute-force term frequencies") {
    import spark.implicits._
    val store = freshStore()
    IndexBuilder.build(spark, docs, store, IndexBuilder.Config(segSize = 128, blockSize = 16, slices = 3))
    val idx = store.open(spark)

    val decoded = idx.postings.flatMap { b =>
      val ds = VByte.undeltas(b.firstDoc, Codecs.decode(b.codec, b.docDeltas, b.n))
      val fs = Codecs.decode(b.codec, b.tfs, b.n)
      ds.indices.map(i => (b.term, ds(i), fs(i)))
    }.collect().toSet

    val brute = docs.select(col("doc_id"), explode(ga.tokenize(col("text"))).as("term"))
      .groupBy("term", "doc_id").count()
      .as[(String, Long, Long)].collect()
      .map { case (t, d, c) => (t, d, c) }.toSet

    assert(decoded == brute)
  }

  /** Every term's (df, cf) over `docs`, by tokenizing them. */
  private def bruteTermStats(docs: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] = {
    import spark.implicits._
    docs.select(col("doc_id"), explode(ga.tokenize(col("text"))).as("term"))
      .groupBy("term", "doc_id").count()
      .groupBy("term").agg(count(lit(1)).as("df"), sum("count").as("cf"))
      .as[(String, Long, Long)].collect().toSet
  }

  test("term stats df/cf match brute force; corpus stats correct") {
    val cfg = IndexBuilder.Config(segSize = 256, blockSize = 32, slices = 2)
    val built = freshStore()
    IndexBuilder.build(spark, docs, built, cfg)
    // the same documents as a build, an append and a compaction
    val merged = freshStore()
    IndexBuilder.build(spark, docs.filter(col("doc_id") < 512), merged, cfg)
    IndexBuilder.append(spark, docs.filter(col("doc_id") >= 512), merged)
    merged.compact()
    assert(merged.committedSlices.size == 1)
    val brute = bruteTermStats(docs)
    val expN = docs.count()
    val expTok = docs.select(sum(ga.token_count(col("text")))).head().getLong(0)
    for (store <- Seq(built, merged)) {
      val idx = store.open(spark)
      assert(idx.terms.collect().map(t => (t.term, t.df, t.cf)).toSet == brute)
      val st = idx.stats
      assert(st.nDocs == expN)
      assert(st.totalTokens == expTok)
      assert(st.nTerms == brute.size)
      assert(math.abs(st.avgdl - expTok.toDouble / expN) < 1e-12)
      store.dropAll()
    }
  }

  test("a legacy per-slice terms table is never read, and compaction plus vacuum removes it") {
    import spark.implicits._
    import graft.query.{OracleScorer, Serving, Wand}
    val store = freshStore()
    IndexBuilder.build(spark, docs, store, IndexBuilder.Config(segSize = 256, blockSize = 32, slices = 2))
    // a stale table in the layout stores had when each slice kept its term
    // partials: wrong df/cf for real terms, and a term no document holds
    val legacy = java.nio.file.Paths.get(store.slicePath("terms", 0))
    Seq(TermStat("the", 1L, 1L), TermStat("docmark42", 500L, 900L), TermStat("zzstale", 7L, 7L))
      .toDS().write.parquet(legacy.toString)
    val idx = store.open(spark)
    val brute = bruteTermStats(docs)
    assert(idx.terms.collect().map(t => (t.term, t.df, t.cf)).toSet == brute)
    assert(idx.stats.nTerms == brute.size)
    val serving = Serving.open(idx, maxBytes = 2L << 30)
    for (q <- Seq("the web crawl", "docmark42", "zzstale"); k <- Seq(10, 100)) {
      val oracle = OracleScorer.topK(spark, docs, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(Wand.topK(spark, idx, q, k).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq == oracle, s"Wand '$q' k=$k")
      assert(serving.topK(q, k).toSeq == oracle, s"Serving '$q' k=$k")
    }
    store.compact()
    assert(store.vacuum(0L)._1 == 2)
    assert(!java.nio.file.Files.exists(legacy), s"$legacy survived compaction and vacuum")
    store.dropAll()
  }

  test("blocks respect size, sorted docIDs, block-max is a true max") {
    import spark.implicits._
    val store = freshStore()
    IndexBuilder.build(spark, docs, store, IndexBuilder.Config(segSize = 128, blockSize = 16, slices = 1))
    val idx = store.open(spark)
    val avgdl = idx.stats.avgdl
    val normsBySeg = idx.norms.collect().map(n => n.seg -> n).toMap
    idx.postings.collect().foreach { b =>
      assert(b.n <= 16 && b.n > 0)
      val ds = VByte.undeltas(b.firstDoc, Codecs.decode(b.codec, b.docDeltas, b.n))
      assert(ds.toSeq == ds.sorted.toSeq)
      assert(ds.head == b.firstDoc && ds.last == b.lastDoc)
      assert(ds.forall(d => (d / 128).toInt == b.seg))
      // impact metadata: (maxTf, minDl) exactly match the block's entries,
      // and the derived bound dominates every member's exact tfNorm under
      // the current corpus stats
      val nm = normsBySeg(b.seg)
      val nd = VByte.undeltas(nm.firstDoc, VByte.decode(nm.docDeltas, nm.n))
      val fs = Codecs.decode(b.codec, b.tfs, b.n)
      val dlsOf = ds.map(d => VByte.unpackIntAt(nm.doclens, java.util.Arrays.binarySearch(nd, d)))
      assert(fs.max == b.maxTf, s"term=${b.term} seg=${b.seg} blk=${b.blk}")
      assert(dlsOf.min == b.minDl, s"term=${b.term} seg=${b.seg} blk=${b.blk}")
      val bound = BM25.tfNorm(b.maxTf, b.minDl.toLong, avgdl)
      ds.indices.foreach { i =>
        assert(BM25.tfNorm(fs(i), dlsOf(i).toLong, avgdl) <= bound + 1e-12,
          s"bound violated: term=${b.term} seg=${b.seg} blk=${b.blk}")
      }
    }
  }

  test("resume: injected failure, restart skips committed slices, index identical") {
    import spark.implicits._
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16, slices = 4)

    val full = freshStore()
    IndexBuilder.build(spark, docs, full, cfg)

    val resumed = freshStore()
    intercept[RuntimeException] {
      IndexBuilder.build(spark, docs, resumed, cfg, fresh = true, failAfterSlice = 2)
    }
    assert(resumed.committedSlices.size == 2)
    val report = IndexBuilder.build(spark, docs, resumed, cfg, fresh = false)
    assert(report.slicesSkipped == 2 && report.slicesBuilt == 2)

    def dump(s: IndexStore) = s.open(spark).postings.collect()
      .map(b => (b.term, b.seg, b.blk, b.n, b.firstDoc, b.lastDoc,
        b.docDeltas.toSeq, b.tfs.toSeq)).toSet
    assert(dump(full) == dump(resumed))
    // manifest carries lineage metrics
    assert(resumed.committedSlices.forall(m => m.docs > 0 && m.postings > 0 && m.bytes > 0))
  }

  test("resume refuses a config that re-slices committed work — even on a store without build.slices") {
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16, slices = 4)
    val store = freshStore()
    intercept[RuntimeException] {
      IndexBuilder.build(spark, docs, store, cfg, failAfterSlice = 2)
    }
    // recorded-recipe equality refuses a different slices value outright
    val e1 = intercept[IllegalArgumentException] {
      IndexBuilder.build(spark, docs, store, cfg.copy(slices = 8), fresh = false)
    }
    assert(e1.getMessage.contains("different build config"))

    // a store recorded BEFORE build.slices existed can't field-compare —
    // the per-slice boundary check must still catch the re-slicing (a
    // vacuous guard here would let slices 2..7 overlap the committed ones)
    val settingsFile = java.nio.file.Paths.get(s"${store.root}/settings.json")
    val stripped = java.nio.file.Files.readString(settingsFile)
      .replaceAll(""""build\.slices":"\d+",?""", "")
    java.nio.file.Files.writeString(settingsFile, stripped)
    assert(!store.settings.contains("build.slices"))
    val e2 = intercept[IllegalArgumentException] {
      IndexBuilder.build(spark, docs, store, cfg.copy(slices = 8), fresh = false)
    }
    assert(e2.getMessage.contains("resume layout mismatch"), e2.getMessage)

    // the ORIGINAL config still resumes such a store to a complete index
    val report = IndexBuilder.build(spark, docs, store, cfg, fresh = false)
    assert(report.slicesSkipped == 2 && report.slicesBuilt == 2)
    assert(store.open(spark).stats.nDocs == 1000)
  }

  test("slices cover the segments: none lies past the last one, resume included") {
    // 5 segments in up to 4 slices: ceil-sized slices of 2, 2 and 1
    val fiveSegs = docs.filter(col("doc_id") < 5 * 128)
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16, slices = 4)
    val store = freshStore()
    intercept[RuntimeException] {
      IndexBuilder.build(spark, fiveSegs, store, cfg, failAfterSlice = 2)
    }
    val report = IndexBuilder.build(spark, fiveSegs, store, cfg, fresh = false)
    assert(report.slicesSkipped == 2 && report.slicesBuilt == 1)
    val slices = store.committedSlices
    assert(slices.forall(s => s.segLo <= s.segHi), slices)
    assert(slices.map(s => (s.segLo, s.segHi)) == Seq((0, 1), (2, 3), (4, 4)))
    // each segment was written by its own task, so each postings file is
    // a scan unit of its own
    val units = PostingsScan.units(spark, store, slices)
    assert(units.size == 5 && units.forall(_.postings.size == 1), units)
    store.dropAll()
  }

  test("manifest: entries round-trip, and an entry that carries segLocal still parses") {
    val store = freshStore()
    val a = SliceMeta(0, 0, 3, 10L, 100L, 4L, 1234L, 1L)
    val b = SliceMeta(1, 4, 7, 5L, 50L, 2L, 567L, 2L)
    store.commitSlice(a)
    store.commitSlice(b)
    assert(store.committedSlices == Seq(a, b))
    // a manifest written when each entry carried a whole-segments flag,
    // last or in the middle of the entry
    val mf = java.nio.file.Paths.get(store.root, "manifest.json")
    val flagged = Files.readString(mf)
      .replace(""""committedAtMs":1}""", """"committedAtMs":1,"segLocal":true}""")
      .replace(""""bytes":567,""", """"bytes":567,"segLocal":false,""")
    assert(flagged.contains(""""segLocal":true""") && flagged.contains(""""segLocal":false"""), flagged)
    Files.writeString(mf, flagged)
    assert(store.committedSlices == Seq(a, b))
    store.dropAll()
  }

  test("deterministic across parallelism: 2 vs 7 shuffle partitions") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    val s7 = spark.newSession()
    s7.conf.set("spark.sql.shuffle.partitions", "7")
    def build(s: org.apache.spark.sql.SparkSession) = {
      val store = freshStore()
      val d = Corpus.pages(s, 500)
        .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
        .select("doc_id", "url", "text", "lang")
      IndexBuilder.build(s, d, store, IndexBuilder.Config(segSize = 64, blockSize = 8, slices = 2))
      store.open(s).postings.collect()
        .map(b => (b.term, b.seg, b.blk, b.docDeltas.toSeq, b.tfs.toSeq)).toSet
    }
    assert(build(s2) == build(s7))
  }

  test("html column is pruned from the index build scan") {
    // the tokenize pipeline must never read the binary html payload:
    // check the optimized plan's ReadSchema excludes 'html'
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-pages-").toString
    Corpus.pages(spark, 100).write.mode("overwrite").parquet(tmp)
    val pages = spark.read.parquet(tmp)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
    val tf = pages
      .select(col("doc_id"), explode(ga.tokenize(col("text"))).as("term"))
      .groupBy("term").count()
    val physical = tf.queryExecution.executedPlan.toString
    assert(!physical.contains("html"), "binary html column must be pruned from the scan")
  }

  test("live append: fresh-segment slice, rank-identical to the oracle over the union") {
    import graft.query.{OracleScorer, Wand}
    val cfg = IndexBuilder.Config(segSize = 128, blockSize = 16, slices = 2,
      positions = true)
    val all = Corpus.pages(spark, 900)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")
      .cache()
    val initial = all.filter(col("doc_id") < 600) // segs 0..4
    val store = freshStore()
    IndexBuilder.build(spark, initial, store, cfg)

    // the allocator hands back the next fresh segment boundary
    val nextId = IndexBuilder.nextAppendDocId(store)
    assert(nextId == 640L) // segHi 4 (docs ..599) -> seg 5 * 128

    // a batch straddling committed segments must be refused BEFORE writing
    val before = store.committedSlices.map(_.sliceId).toSet
    intercept[IllegalArgumentException] {
      IndexBuilder.append(spark, all.filter(col("doc_id") === 599 + 1), store)
    } // doc 600 lands in committed seg 4
    assert(store.committedSlices.map(_.sliceId).toSet == before)

    val increment = all.filter(col("doc_id") >= nextId) // segs 5..7
    val m = IndexBuilder.append(spark, increment, store)
    assert(m.segLo == 5 && m.docs == 900 - 640)

    // the appended index answers rank-identically to the brute-force
    // oracle over the UNION corpus — the impact bounds stay sound even
    // though the appended docs shifted avgdl after the first build
    val union = initial.union(increment)
    val idx = store.open(spark)
    assert(idx.stats.nDocs == 900 - (640 - 600))
    for (q <- Seq("the web crawl", "docmark42", "docmark777", "the of and a"); k <- Seq(10, 100)) {
      val wand = Wand.topK(spark, idx, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val oracle = OracleScorer.topK(spark, union, q, k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand == oracle, s"append broke rank identity for '$q' k=$k")
    }
    // unique marker of an APPENDED doc resolves through the index
    val hit = Wand.topK(spark, idx, "docmark777", 5).collect()
    assert(hit.length == 1 && hit(0).getLong(0) == 777L)
    // the positional payload was appended too: phrase paths serve the
    // appended docs bit-identically across layouts
    val serving = graft.query.Serving.open(idx, maxBytes = 2L << 30)
    val distPhrase = graft.query.Phrase.topK(spark, idx, "the web", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(distPhrase.nonEmpty)
    assert(serving.phraseTopK("the web", 10).toSeq == distPhrase)
    // further appends chain: allocator moves past the new slice
    assert(IndexBuilder.nextAppendDocId(store) == 8L * 128)
    all.unpersist()
  }

  test("manifest props: atomic round-trip with slices, escapes, merge semantics") {
    val store = freshStore()
    val meta = SliceMeta(0, 0, 3, 10L, 100L, 4L, 1234L, 1L)
    // props with every escape class + a value containing '}' and '['
    val props = Map(
      "stream.lastBatchId" -> "7",
      "weird" -> "a\"b\\c\nd\te}{[]",
      "unicode" -> "\u0001x")
    store.commitSlice(meta, props)
    assert(store.committedSlices == Seq(meta))
    assert(store.manifestProps == props)
    // a later slice commit MERGES props (atomic with its slice)
    val meta2 = SliceMeta(1, 4, 7, 5L, 50L, 2L, 567L, 2L)
    store.commitSlice(meta2, Map("stream.lastBatchId" -> "8"))
    assert(store.committedSlices.map(_.sliceId) == Seq(0, 1))
    assert(store.manifestProps("stream.lastBatchId") == "8")
    assert(store.manifestProps("weird") == props("weird"))
    // props survive a slice-list rewrite (merge/compaction commit path)
    store.setManifestProps(Map("extra" -> "1"))
    assert(store.manifestProps.keySet == Set("stream.lastBatchId", "weird", "unicode", "extra"))
    assert(store.committedSlices.map(_.sliceId) == Seq(0, 1))
    // ADVERSARIAL: props are an open caller-extensible map. A prop KEY
    // named "slices" renders as a raw `"slices":` BEFORE the real array,
    // and brackets/braces in values are NOT escaped — the parse must
    // anchor the slice array only AFTER the props object's closing brace
    store.setManifestProps(Map(
      "slices" -> "[{}] pretend-array",
      "evil" -> """x"slices":[{"sliceId":99}] {unbalanced""",
      "evil2" -> """y"props":{"a":"b"}"""))
    assert(store.committedSlices == Seq(meta, meta2),
      "a prop keyed/valued with the parser's anchor literals corrupted the slice list")
    assert(store.manifestProps("weird") == props("weird"))
    assert(store.manifestProps("slices") == "[{}] pretend-array")
    assert(store.manifestProps("evil2") == """y"props":{"a":"b"}""")
    store.dropAll()
  }

  test("manifest dead-list namespace is reserved and parsed defensively") {
    val store = freshStore()
    store.commitSlice(SliceMeta(0, 0, 3, 10L, 100L, 4L, 1234L, 1L))
    // a caller prop like "dead.0" would read as "slice 0 superseded" and
    // make vacuum delete a LIVE slice's files — reject at the API
    val e = intercept[IllegalArgumentException] {
      store.setManifestProps(Map("dead.0" -> "5"))
    }
    assert(e.getMessage.contains("reserved"))
    // the guard covers EVERY caller-facing prop entry point — commitSlice
    // carries props too (IndexBuilder.build/append manifestProps ride it)
    val e2 = intercept[IllegalArgumentException] {
      store.commitSlice(SliceMeta(1, 4, 7, 10L, 100L, 4L, 1234L, 1L), Map("dead.0" -> "5"))
    }
    assert(e2.getMessage.contains("reserved"))
    assert(store.committedSlices.map(_.sliceId) == Seq(0), "refused commit must not land")
    assert(store.deadSlices.isEmpty)
    // a malformed dead entry that slipped past the guard (hand-edited
    // manifest) must degrade to "not dead", not crash every vacuum tick
    val mf = java.nio.file.Paths.get(store.root, "manifest.json")
    val txt = java.nio.file.Files.readString(mf)
    store.setManifestProps(Map("zz.marker" -> "1"))
    val txt2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(store.root, "manifest.json"))
    java.nio.file.Files.writeString(mf,
      txt2.replace("\"zz.marker\":\"1\"", "\"dead.letter.count\":\"5\""))
    assert(store.manifestProps.contains("dead.letter.count"))
    assert(store.deadSlices.isEmpty, "malformed dead key must be ignored")
    assert(store.vacuum(0L) == (0, 0L)) // and vacuum must not throw
    assert(txt.nonEmpty)
    store.dropAll()
  }

  test("recommitting a dead slice id revives it — vacuum never deletes a committed id's files") {
    // the collision: a store is merged (old ids dead-listed, files
    // retained for in-flight readers), then a fixed-id rebuild (the
    // builder always allocates ids 0..n-1) overwrites and RECOMMITS one
    // of those ids. The manifest must never hold an id both committed and
    // dead — a ripened dead entry would make vacuum delete the LIVE
    // slice's files and poison every later query.
    val store = freshStore()
    def mkFiles(id: Int): Unit =
      Seq("postings", "terms", "norms", "docs").foreach { t =>
        val d = java.nio.file.Paths.get(store.slicePath(t, id))
        java.nio.file.Files.createDirectories(d)
        java.nio.file.Files.writeString(d.resolve("part-0.parquet"), "x")
      }
    def liveFilesIntact(id: Int): Boolean =
      Seq("postings", "terms", "norms", "docs").forall(t =>
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(store.slicePath(t, id), "part-0.parquet")))
    mkFiles(0)
    store.commitSlice(SliceMeta(0, 0, 3, 10L, 100L, 4L, 1234L, 1L))
    // simulate the pre-revive state (or a hand-edited manifest): slice 0
    // committed AND dead-listed, superseded long ago
    val mf = java.nio.file.Paths.get(store.root, "manifest.json")
    store.setManifestProps(Map("zz.marker" -> "1"))
    java.nio.file.Files.writeString(mf,
      java.nio.file.Files.readString(mf).replace(
        "\"zz.marker\":\"1\"", "\"zz.marker\":\"1\",\"dead.0\":\"1\""))
    assert(store.deadSlices.contains(0), "test setup: dead entry visible")
    // vacuum must NOT delete the committed id's files — it heals the
    // manifest by dropping the stale entry without reclaiming anything
    assert(store.vacuum(0L) == (0, 0L))
    assert(liveFilesIntact(0), "vacuum deleted a committed slice's files")
    assert(store.deadSlices.isEmpty, "stale dead entry must be healed away")
    // and the commit paths enforce the invariant at the source: a commit
    // of a dead id drops its dead entry in the SAME atomic rename
    java.nio.file.Files.writeString(mf,
      java.nio.file.Files.readString(mf).replace(
        "\"zz.marker\":\"1\"", "\"zz.marker\":\"1\",\"dead.0\":\"1\""))
    assert(store.deadSlices.contains(0))
    mkFiles(0) // the rebuild overwrites the files, then recommits the id
    store.commitSlice(SliceMeta(0, 0, 3, 12L, 120L, 5L, 2345L, 2L))
    assert(store.deadSlices.isEmpty, "commitSlice must revive the id")
    assert(store.vacuum(0L) == (0, 0L) && liveFilesIntact(0))
    store.dropAll()
  }
}
