package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.analysis.Analyzer
import graft.index.{Codecs, DocMeta, IndexBuilder, IndexStore, PostingBlock, SegNorms, VByte}

/** The brute-force inverter the segment-local build is checked against:
  * tokenize every document, group its postings by (term, seg), sort each
  * group by docID, chunk by `blockSize` and encode with `Codecs`.
  */
object RefInverter {
  type Doc = (Long, String, String, String) // doc_id, url, text, lang

  def invert(docs: Seq[Doc], cfg: IndexBuilder.Config)
      : (Seq[PostingBlock], Seq[SegNorms], Seq[DocMeta]) = {
    val codec = Codecs.of(cfg.codec)
    def seg(id: Long) = (id / cfg.segSize).toInt
    // (term, seg, docId, positions, doclen): one per distinct term of a doc
    val postings = for {
      (id, _, text, _) <- docs
      toks = Analyzer.tokenize(text)
      (term, at) <- toks.indices.groupBy(toks(_))
    } yield (term, seg(id), id, at.sorted.toArray, toks.length)
    val blocks = postings.groupBy(p => (p._1, p._2)).toSeq.flatMap { case ((term, s), ps) =>
      ps.sortBy(_._3).grouped(cfg.blockSize).zipWithIndex.map { case (chunk, blk) =>
        val ids = chunk.map(_._3).toArray
        val tfs = chunk.map(_._4.length.toLong).toArray
        val gaps = ids.indices.map(i => ids(i) - (if (i == 0) ids(0) else ids(i - 1))).toArray
        val pos =
          if (!cfg.positions) null
          else VByte.encode(chunk.flatMap { p =>
            p._4.indices.map(i => (p._4(i) - (if (i == 0) 0 else p._4(i - 1))).toLong)
          }.toArray)
        PostingBlock(term, s, blk, chunk.size, ids.head, ids.last, tfs.max,
          chunk.map(_._5).min, tfs.sum, codec,
          Codecs.encode(codec, gaps), Codecs.encode(codec, tfs), pos)
      }
    }
    val metas = docs.map { case (id, url, text, lang) =>
      DocMeta(id, url, Analyzer.tokenize(text).length, lang)
    }
    val norms = metas.groupBy(d => seg(d.doc_id)).toSeq.map { case (s, ds) =>
      val sorted = ds.sortBy(_.doc_id)
      val ids = sorted.map(_.doc_id).toArray
      val deltas = ids.indices.map(i => ids(i) - (if (i == 0) ids(0) else ids(i - 1))).toArray
      val lens = java.nio.ByteBuffer.allocate(4 * ids.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      sorted.foreach(d => lens.putInt(d.doclen))
      SegNorms(s, ids.length, ids.head, VByte.encode(deltas), lens.array())
    }
    (blocks, norms, metas)
  }

  /** Comparable forms (case-class equality compares arrays by reference). */
  type BlockKey = (String, Int, Int, Int, Long, Long, Long, Int, Long, Byte, Seq[Byte],
    Seq[Byte], Option[Seq[Byte]])
  def key(b: PostingBlock): BlockKey = (b.term, b.seg, b.blk, b.n, b.firstDoc, b.lastDoc, b.maxTf,
    b.minDl, b.tfSum, b.codec, b.docDeltas.toSeq, b.tfs.toSeq, Option(b.positions).map(_.toSeq))
  def key(n: SegNorms) = (n.seg, n.n, n.firstDoc, n.docDeltas.toSeq, n.doclens.toSeq)
}

/** Byte identity on generated corpora: every `PostingBlock` (bytes
  * included), `SegNorms` row and docs row of a sliced build equals the
  * brute-force reference's, for both codecs with positions on and off;
  * per-slice manifest counts match, and a compaction keeps every row and
  * sums the counts.
  */
class IndexBuildPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private case class Case(segSize: Int, blockSize: Int, slices: Int, docs: Seq[RefInverter.Doc])

  private val word: Gen[String] =
    Gen.oneOf("alpha", "beta", "Gamma", "the", "été", "x1", "42", "ÜBER", "dog")
  private val sep: Gen[String] = Gen.oneOf(" ", ", ", "\n", "-", "! ", "  ")

  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.const(null),
    2 -> Gen.zip(Gen.choose(2, 9), word).map { case (n, w) => Seq.fill(n)(w).mkString(" ") },
    6 -> Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, Gen.zip(word, sep)))
      .map(_.map { case (w, s) => w + s }.mkString))

  /** At least three segments; the first two are full, later ones have
    * docID gaps. The first segment holds a term of df exactly
    * `blockSize`, the second one of df `blockSize + 1`.
    */
  private val corpus: Gen[Case] = for {
    blockSize <- Gen.choose(2, 4)
    segSize <- Gen.choose(blockSize + 2, 10)
    nSegs <- Gen.choose(3, 6)
    slices <- Gen.choose(2, 3)
    firstSeg <- Gen.choose(0, 3)
    later <- Gen.sequence[Seq[Seq[Long]], Seq[Long]]((firstSeg + 2 until firstSeg + nSegs).map { s =>
      val ids = (s.toLong * segSize until (s + 1L) * segSize)
      Gen.atLeastOne(ids).map(_.toSeq)
    })
    ids = (firstSeg.toLong * segSize until (firstSeg + 2L) * segSize) ++ later.flatten
    texts <- Gen.listOfN(ids.size, text)
    order <- Gen.long
  } yield {
    def plant(t: String, w: String) = if (t == null) w else s"$t $w"
    val s0 = firstSeg.toLong * segSize
    val docs = ids.sorted.zip(texts).map { case (id, t) =>
      val t1 = if (id < s0 + blockSize) plant(t, "dfexact") else t
      val t2 = if (id >= s0 + segSize && id <= s0 + segSize + blockSize) plant(t1, "dfover") else t1
      (id, s"doc://$id", t2, if (id % 3 == 0) "de" else "en")
    }
    Case(segSize, blockSize, slices, new scala.util.Random(order).shuffle(docs))
  }

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = Seed(seed)
    (0 until n).map { _ =>
      var out: Option[T] = None
      while (out.isEmpty) { out = g(Gen.Parameters.default, s); s = s.next }
      out.get
    }
  }

  private val cases: Seq[Case] = sample(corpus, 3, 20261019L)

  private def table(docs: Seq[RefInverter.Doc]) = spark.createDataFrame(
    spark.sparkContext.parallelize(docs.map { case (id, u, t, l) => Row(id, u, t, l) }, 3),
    StructType(Seq(StructField("doc_id", LongType), StructField("url", StringType),
      StructField("text", StringType), StructField("lang", StringType))))

  for (codec <- Seq("pfor", "vbyte"); positions <- Seq(true, false)) {
    test(s"segment-local build equals the reference inverter byte for byte " +
      s"(codec=$codec, positions=$positions)") {
      import spark.implicits._
      for ((c, i) <- cases.zipWithIndex) {
        val cfg = IndexBuilder.Config(segSize = c.segSize, blockSize = c.blockSize,
          slices = c.slices, codec = codec, positions = positions)
        val ctx = s"case $i: $cfg, ${c.docs.size} docs"
        val (refBlocks, refNorms, refDocs) = RefInverter.invert(c.docs, cfg)
        val planted = refBlocks.filter(b => b.term.startsWith("df")).map(b => (b.term, b.n))
        assert(planted.sorted == Seq("dfexact" -> c.blockSize, "dfover" -> 1,
          "dfover" -> c.blockSize), ctx)

        val store = new IndexStore(Files.createTempDirectory("graft-inv-").toString)
        IndexBuilder.build(spark, table(c.docs), store, cfg)
        val slices = store.committedSlices
        assert(slices.size >= 2 && refNorms.size >= 3, ctx)

        def check(stage: String): Unit = {
          val idx = store.open(spark)
          def ordered(ks: Seq[RefInverter.BlockKey]) = ks.sortBy(k => (k._1, k._2, k._3))
          assert(ordered(idx.postings.collect().toSeq.map(RefInverter.key)) ==
            ordered(refBlocks.map(RefInverter.key)), s"$ctx $stage: postings")
          assert(idx.norms.collect().map(RefInverter.key).sortBy(_._1).toSeq ==
            refNorms.map(RefInverter.key).sortBy(_._1), s"$ctx $stage: norms")
          assert(idx.docs.as[DocMeta].collect().sortBy(_.doc_id).toSeq ==
            refDocs.sortBy(_.doc_id), s"$ctx $stage: docs")
        }
        check("build")
        for (s <- slices) {
          def in(seg: Int) = seg >= s.segLo && seg <= s.segHi
          val bs = refBlocks.filter(b => in(b.seg))
          assert((s.docs, s.postings, s.blocks) ==
            ((refNorms.filter(n => in(n.seg)).map(_.n.toLong).sum, bs.map(_.n.toLong).sum,
              bs.size.toLong)), s"$ctx: slice ${s.sliceId} counts")
        }

        val merged = store.compact()
        assert(store.committedSlices == Seq(merged), ctx)
        assert((merged.docs, merged.postings, merged.blocks) ==
          ((c.docs.size.toLong, refBlocks.map(_.n.toLong).sum, refBlocks.size.toLong)), ctx)
        assert(merged.bytes > 0, ctx)
        check("compact")
      }
    }
  }
}
