package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index.{AliasCatalog, IndexBuilder, IndexStore}
import graft.query.Wand

/** An index store and an alias catalog rooted at a `file:` URI keep every
  * file they write beside their parquet, and read back exactly as they do
  * at a plain path.
  */
class UriRootSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a store at a file: URI root commits beside its parquet, merges, vacuums and reopens") {
    val docs = Corpus.pages(spark, 400)
      .withColumn("doc_id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .select("doc_id", "url", "text", "lang")
    val cfg = IndexBuilder.Config(segSize = 64, blockSize = 16, slices = 2)
    val plain = new IndexStore(Files.createTempDirectory("graft-plain-").toString)
    val dir = Files.createTempDirectory("graft-uri-")
    val store = new IndexStore(s"file:$dir")
    IndexBuilder.build(spark, docs, plain, cfg)
    IndexBuilder.build(spark, docs, store, cfg)

    assert(store.committedSlices.size == 2)
    assert(Files.isRegularFile(dir.resolve("manifest.json")))
    assert(Files.isDirectory(dir.resolve("postings/slice=0")))
    assert(!Files.exists(dir.resolve(".manifest.json.crc")), "the commit left a checksum sidecar")
    val bytes = store.committedSlices.map(_.bytes)
    assert(bytes.forall(_ > 0), s"slice bytes $bytes")
    assert(bytes == plain.committedSlices.map(_.bytes))
    // the plain path names the same store
    assert(new IndexStore(dir.toString).committedSlices == store.committedSlices)

    store.setSettings(Map("index.refresh_interval" -> "1s"))
    assert(store.settings("provided_name") == dir.getFileName.toString)

    val merged = store.compact(spark)
    // the union copies data files only, not the slices' sidecars
    assert(merged.bytes > 0 && merged.bytes <= bytes.sum)
    val (reclaimed, freed) = store.vacuum(0L)
    assert(reclaimed == 2 && freed > 0)
    assert(!Files.exists(dir.resolve("postings/slice=0")))

    def topK(s: IndexStore, q: String) =
      Wand.topK(spark, s.open(spark), q, 20).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val reopened = new IndexStore(s"file:$dir")
    assert(reopened.committedSlices == Seq(merged))
    for (q <- Seq("the web crawl", "docmark42", "posting engine")) {
      val want = topK(plain, q)
      assert(want.nonEmpty)
      assert(topK(reopened, q) == want, s"URI-rooted top-k differs for '$q'")
    }
    reopened.dropAll()
    plain.dropAll()
    assert(!Files.exists(dir))
  }

  test("an alias catalog at a file: URI switches and deletes aliases in place") {
    val dir = Files.createTempDirectory("graft-alias-")
    val catalog = new AliasCatalog(s"file:$dir")
    assert(catalog.resolve("live").isEmpty)
    catalog.set("live", "file:/idx/a")
    assert(Files.isRegularFile(dir.resolve("live.alias.json")))
    assert(new AliasCatalog(dir.toString).resolve("live").contains("file:/idx/a"))
    catalog.set("live", "file:/idx/b")
    assert(catalog.resolve("live").contains("file:/idx/b"))
    assert(Files.list(dir).count() == 1, "the switch left a temporary or checksum file")
    catalog.delete("live")
    assert(catalog.resolve("live").isEmpty)
  }
}
