package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.index.{IndexBuilder, IndexStore}
import graft.ingest.FileIngest
import graft.query.{OracleScorer, Wand}

class LifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("compaction: single slice, identical postings, WAND still rank-identical") {
    val docs = Corpus.pages(spark, 800)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")
    val store = new IndexStore(Files.createTempDirectory("graft-compact-").toString)
    IndexBuilder.build(spark, docs, store,
      IndexBuilder.Config(segSize = 128, blockSize = 16, slices = 4))
    assert(store.committedSlices.size == 4)

    def dump() = store.open(spark).postings.collect()
      .map(b => (b.term, b.seg, b.blk, b.docDeltas.toSeq, b.tfs.toSeq)).toSet
    val before = dump()

    val meta = store.compact()
    assert(store.committedSlices.size == 1)
    assert(store.committedSlices.head.sliceId == meta.sliceId)
    assert(dump() == before)

    val idx = store.open(spark)
    val serving = graft.query.Serving.open(idx, maxBytes = 2L << 30)
    for (q <- Seq("the web crawl", "docmark42", "posting engine")) {
      val wand = Wand.topK(spark, idx, q, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val oracle = OracleScorer.topK(spark, docs, q, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand == oracle, s"post-compaction rank identity broke for '$q'")
      // serving tier over the compacted (file-union) layout too
      assert(serving.topK(q, 20).toSeq == oracle,
        s"post-compaction serving identity broke for '$q'")
    }
  }

  test("file ingestion: CSV + JSON parse, malformed quarantine, resume skip") {
    val dir = Files.createTempDirectory("graft-ingest-").toString
    val csv = s"$dir/a.csv"
    val json = s"$dir/b.JSON" // case-insensitive extension
    val badJson = s"$dir/c.json"
    Files.writeString(java.nio.file.Paths.get(csv),
      "id,name,value\n1,  alice  ,10.5\n2,bob,20.0\n1,alice2,11.0\n")
    Files.writeString(java.nio.file.Paths.get(json),
      """[{"id": 3, "name": "carol", "value": 30.0}, {"id": 4, "name": "dan", "value": 40.0}]""")
    Files.writeString(java.nio.file.Paths.get(badJson), """{not valid json at all""")

    val target = s"$dir/target"
    val ledger = s"$dir/ledger"
    val dlq = s"$dir/dlq"

    val s1 = FileIngest.ingest(spark, Seq(csv, json, badJson), target, ledger, dlq)
    // upsert: id=1 appears twice in the CSV → last row wins → 2 rows from csv
    assert(s1.files.find(_.file == csv).get.status == "success")
    assert(s1.files.find(_.file == json).get.status == "success")
    assert(s1.processedRows == 4) // 2 csv (deduped) + 2 json
    val rows = spark.read.parquet(target).collect()
    assert(rows.length == 4)
    // coercion applied: trimmed strings, numerics as double
    val alice = spark.read.parquet(target).filter(col("id") === 1.0).head()
    assert(alice.getAs[String]("name") == "alice2") // last write won
    assert(s1.verified)
    // malformed json: whole-file corrupt → quarantined or failed report
    val badReport = s1.files.find(_.file == badJson).get
    assert(badReport.status == "partial" || badReport.failedRows > 0 || badReport.status.startsWith("failed"))

    // resume: everything in the ledger is skipped, nothing re-appended
    val s2 = FileIngest.ingest(spark, Seq(csv, json), target, ledger, dlq, resume = true)
    assert(s2.files.forall(_.status == "skipped"))
    assert(spark.read.parquet(target).count() == 4)
  }

  test("DLQ carries the failed records themselves — content retrievable, counts unchanged") {
    val dir = Files.createTempDirectory("graft-dlqrec-").toString
    val csv = s"$dir/m.csv"
    // row 2 has extra tokens → corrupt under the 3-column schema
    Files.writeString(java.nio.file.Paths.get(csv),
      "id,name,value\n1,alice,10.5\n2,bob,oops,EXTRA,COLS\n3,carol,30.0\n")
    val s = FileIngest.ingest(spark, Seq(csv), s"$dir/t", s"$dir/l", s"$dir/dlq")
    assert(s.failedRows == 1)
    assert(s.processedRows == 2)
    assert(s.files.head.status == "partial")
    // the DLQ row is the malformed document itself with error metadata and
    // part numbering (file_processor.py:263-413), not a count row
    val rec = spark.read.parquet(s"$dir/dlq").collect()
    assert(rec.length == 1)
    val r = rec(0)
    assert(r.getAs[String]("docJson") == "2,bob,oops,EXTRA,COLS")
    assert(r.getAs[String]("sourceFile") == csv)
    assert(r.getAs[Int]("part") == 1 && r.getAs[Int]("totalParts") == 1)
    assert(r.getAs[String]("errorType") == "parse_error")
    assert(r.getAs[String]("errorReason").contains("csv"))
  }

  test("indexed prefix search matches the brute-force prefix predicate") {
    val docs = Corpus.pages(spark, 500)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")
    val store = new IndexStore(Files.createTempDirectory("graft-prefix-").toString)
    IndexBuilder.build(spark, docs, store, IndexBuilder.Config(segSize = 128, blockSize = 16))
    val idx = store.open(spark)
    val viaIndex = graft.query.Search
      .prefixSearchIndexed(spark, idx, "cra eng", size = Int.MaxValue)
      .get.collect().map(_.getLong(0)).toSet
    val brute = graft.query.Search
      .prefixSearch(docs, "text", "cra eng", size = Int.MaxValue)
      .get.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == brute && viaIndex.nonEmpty)
  }

  test("head-term skew: ubiquitous term still builds bounded groups") {
    import spark.implicits._
    // every doc contains "the" (df = N): the worst-case head term
    val docs = (0L until 512L).toDF("doc_id")
      .withColumn("url", concat(lit("doc://"), col("doc_id")))
      .withColumn("text", concat(lit("the filler"), (col("doc_id") % 7).cast("string")))
      .withColumn("lang", lit("en"))
    val store = new IndexStore(Files.createTempDirectory("graft-skew-").toString)
    IndexBuilder.build(spark, docs, store,
      IndexBuilder.Config(segSize = 64, blockSize = 16))
    val idx = store.open(spark)
    val theBlocks = idx.postings.filter(col("term") === "the").collect()
    // seg salt bounds every (term, seg) group: 512 docs / segSize 64 = 8 segs
    assert(theBlocks.map(_.seg).distinct.length == 8)
    assert(theBlocks.forall(_.n <= 16))
    assert(theBlocks.map(_.n.toLong).sum == 512L) // df preserved
    val df = idx.terms.filter(col("term") === "the").head().df
    assert(df == 512L)
  }

  test("zero-downtime pipeline: reindex -> guarded alias switch -> switch back") {
    import graft.ingest.{Guardrails, Reindex}
    import graft.index.AliasCatalog
    val base = Files.createTempDirectory("graft-zd-").toString
    val primary = s"$base/idx_primary"
    val secondary = s"$base/idx_secondary"
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"doc$i")).toDF("id", "body")
      .write.parquet(primary)

    val cat = new AliasCatalog(s"$base/aliases")
    cat.set("live", primary)

    // step 1: reindex primary -> secondary (reference reindex.py flow)
    val copied = Reindex.copy(spark, primary, secondary)
    assert(copied == 100)

    // step 2: guarded switch to secondary (reference switch_alias.py flow)
    val srcCount = spark.read.parquet(cat.resolve("live").get).count()
    val tgtCount = spark.read.parquet(secondary).count()
    assert(Guardrails.validateSwitch("idx_primary", "idx_secondary",
      srcCount, tgtCount) == Guardrails.Proceed)
    cat.set("live", secondary)
    assert(cat.resolve("live").contains(secondary))

    // step 3: mutate primary (the "bulkupdate" step), then switch back
    (101 to 105).map(i => (i.toLong, s"doc$i")).toDF("id", "body")
      .write.mode("append").parquet(primary)
    val back = Guardrails.validateSwitch("idx_secondary", "idx_primary",
      spark.read.parquet(secondary).count(), spark.read.parquet(primary).count())
    assert(back == Guardrails.Proceed) // 5% drift < 10% threshold
    cat.set("live", primary)
    assert(spark.read.parquet(cat.resolve("live").get).count() == 105)

    // guardrail: a drifted target must abort the switch
    val drifted = Guardrails.validateSwitch("a", "b", 105, 50)
    assert(drifted.isInstanceOf[Guardrails.Abort])
  }

  test("one-call zero-downtime refresh: facade drives the full cycle with guards") {
    import graft.index.AliasCatalog
    import graft.ingest.ZeroDowntime
    val base = Files.createTempDirectory("graft-zdf-").toString
    val primary = s"$base/idx_primary"
    val secondary = s"$base/idx_secondary"
    val ledger = s"$base/ledger"
    val dlq = s"$base/dlq"
    def csv(name: String, ids: Range): String = {
      val p = s"$base/$name"
      Files.writeString(java.nio.file.Paths.get(p),
        "id,name,value\n" + ids.map(i => s"$i,n$i,${i}.5").mkString("\n") + "\n")
      p
    }
    // seed the primary through the same ingest path (schema-identical)
    val seed = csv("seed.csv", 1 to 100)
    assert(FileIngest.ingest(spark, Seq(seed), primary, ledger, dlq).verified)
    val cat = new AliasCatalog(s"$base/aliases")

    // precheck aborts: missing alias, then alias on the wrong target
    val delta = csv("delta.csv", 101 to 105)
    val e1 = intercept[ZeroDowntime.RefreshAbortedException] {
      ZeroDowntime.refresh(spark, cat, "live", primary, secondary, Seq(delta), ledger, dlq)
    }
    assert(e1.step == "precheck" && e1.reason.contains("does not exist"))
    cat.set("live", s"$base/elsewhere")
    val e2 = intercept[ZeroDowntime.RefreshAbortedException] {
      ZeroDowntime.refresh(spark, cat, "live", primary, secondary, Seq(delta), ledger, dlq)
    }
    assert(e2.step == "precheck" && e2.reason.contains("not the expected primary"))

    // same-index guard (reference test_switch_alias parity)
    cat.set("live", primary)
    val e3 = intercept[ZeroDowntime.RefreshAbortedException] {
      ZeroDowntime.refresh(spark, cat, "live", primary, primary, Seq(delta), ledger, dlq)
    }
    assert(e3.step == "precheck" && e3.reason.contains("same index"))
    assert(cat.resolve("live").contains(primary)) // alias untouched by the abort

    // happy path: snapshot serves while primary takes the delta, then back
    val report = ZeroDowntime.refresh(
      spark, cat, "live", primary, secondary, Seq(delta), ledger, dlq)
    assert(report.copiedRows == 100)
    assert(report.ingest.processedRows == 5 && report.ingest.failedRows == 0)
    assert(cat.resolve("live").contains(primary))
    assert(spark.read.parquet(primary).count() == 105)
    assert(spark.read.parquet(secondary).count() == 100) // the serving snapshot

    // drift abort: a batch growing the primary >10% vs the snapshot must
    // refuse the switch back and LEAVE READS ON THE SECONDARY
    val big = csv("big.csv", 200 to 260)
    val e4 = intercept[ZeroDowntime.RefreshAbortedException] {
      ZeroDowntime.refresh(spark, cat, "live", primary, secondary, Seq(big), ledger, dlq)
    }
    assert(e4.step == "switch-to-primary" && e4.reason.contains("drift"))
    assert(cat.resolve("live").contains(secondary),
      "alias must stay on the last good target after a late abort")
  }
}
