package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Regenerates docs/PLANS.md: the `.explain("formatted")` output of the
  * flagship physical plans, straight from the live code.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit of the flagship queries\n\n"
    sb ++= "Generated by `Test/runMain graft.PlanDump` from the live code at\n"
    sb ++= s"`$sf`. What to look for is noted per plan. BM25 WAND and phrase\n"
    sb ++= "top-k build no SQL plan: each is one job over the open index's planned\n"
    sb ++= "postings scan (`graft.query.Segments`).\n"

    def dump(title: String, note: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.collect() // finalize AQE so the printed plan is the executed one
      sb ++= s"\n## $title\n\n$note\n\n```\n"
      sb ++= df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb ++= "```\n"
    }

    val idx = SparkEntry.indexFor(spark, sf)

    dump("Hit materialization (scored top-k -> stored fields)",
      "The tiny scored side is broadcast; the docs table is scanned once.",
      graft.query.Search.relevance(spark, idx, "spark dup", k = 5))

    dump("Scan + filter pushdown",
      "PushedFilters reaches the parquet scan; ReadSchema carries only the " +
        "projected columns.",
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("lang")).filter(col("lang") === "en"))

    // the sketch ops seal (materialize + release caches) before returning,
    // so the audit dumps their UNSEALED internal plans — the ones that run
    val (lshOut, lshCached, _) = graft.ops.Ann.lshNearDupPairsPlan(
      spark.read.parquet(s"$sf/embeddings.parquet"), threshold = 0.4)
    dump("Embedding near-dup, LSH scale path",
      "Equality joins only (shuffle-hash on the bucket key after an " +
        "explicit repartition AQE cannot coalesce); exact-cosine verify " +
        "through broadcast joins; NO CartesianProduct anywhere. The public " +
        "op materializes this plan and unpersists its cached bases at exit.",
      lshOut)
    lshCached.foreach(_.unpersist())

    val (mhOut, mhCached, _) = graft.ops.Dedup.minhashLshPlan(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      shingleK = 3, m = 128, bands = 32, threshold = 0.5, seed = 42L, maxBucket = 64)
    dump("MinHash+LSH dedup (single analyze pass)",
      "Both the banding branch and the Jaccard-verify branch read the same " +
        "InMemoryTableScan of the persisted (id, shingles, signature) base — " +
        "the corpus is tokenized exactly once. The public op materializes " +
        "this plan and unpersists the base at exit.",
      mhOut)
    mhCached.foreach(_.unpersist())

    val (ppOut, ppCached, _) = graft.ops.Dedup.sharedPassagePairsPlan(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      windowK = 8, maxWindowDf = graft.ops.Dedup.DefaultMaxShingleDf)
    dump("Exact-passage duplication (window inverted index)",
      "One tokenize pass persisted, hot-window broadcast anti-join guard, " +
        "then the shared pair kernel: explicit repartition on the window " +
        "key + shuffle-hash self-join (AQE must not coalesce the " +
        "quadratic-per-key expansion onto one core). NO CartesianProduct. " +
        "The public op materializes this plan and unpersists its bases.",
      ppOut)
    ppCached.foreach(_.unpersist())

    val docsTbl = spark.read.parquet(s"$sf/documents.parquet")
    dump("Test-set decontamination",
      "Benchmark shingles ride a BroadcastHashJoin (benchmark sets are " +
        "small); the corpus side is one scan-shaped flatMap — the only " +
        "shuffle is the per-doc overlap count over matched pairs.",
      graft.ops.Curation.decontaminate(
        docsTbl.filter(col("doc_id") % 50 =!= 0),
        docsTbl.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", shingleK = 3, minOverlap = 2L))

    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"[plandump] wrote docs/PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
