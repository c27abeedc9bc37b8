package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.{Analyzer, functions => ga}
import graft.index.OpenIndex

/** The reference's query surface as typed DataFrame operators
  * (reference web/app.py:65-239):
  *  - conjunctive case-insensitive term search, size 100  (:81-102)
  *  - prefix autocomplete, ≥3 chars, AND across tokens, size 10 (:129-151)
  *  - match-all browse with field sort, size 10 (:207-215)
  *  - BM25 relevance search (delegated to Lucene there; WAND here).
  * Hits mirror the `hits.hits[]._source + _score` shape: scored docIDs are
  * joined back to stored fields with a broadcast of the tiny top-k side
  * (SURVEY.md J4).
  */
object Search {

  final val SearchSize = 100      // web/app.py:88
  final val AutocompleteSize = 10 // web/app.py:151
  final val BrowseSize = 10       // web/app.py:211
  final val MinPrefixLen = 3      // web/app.py:129

  /** `bool.must` of case-insensitive term matches (web/app.py:92-102):
    * exact keyword equality after lowercasing both sides, empty/null
    * criteria ignored, conjunction across fields.
    */
  def termSearch(docs: DataFrame, criteria: Map[String, String],
      size: Int = SearchSize): DataFrame = {
    val preds = criteria.collect {
      case (field, value) if value != null && value.nonEmpty =>
        lower(col(field)) === lit(value.toLowerCase(java.util.Locale.ROOT))
    }
    limited(preds.foldLeft(docs)((d, p) => d.filter(p)), size)
  }

  /** `query_string "tok1* tok2*"` with AND semantics (web/app.py:142-151):
    * every whitespace token of the query must prefix-match at least one
    * analyzed token of the document. Returns None when the query is
    * shorter than 3 chars (the reference's guard, web/app.py:129-130).
    */
  def prefixSearch(docs: DataFrame, textCol: String, query: String,
      size: Int = AutocompleteSize): Option[DataFrame] = {
    if (query == null || query.trim.length < MinPrefixLen) return None
    val prefixes = Analyzer.tokenize(query)
    if (prefixes.isEmpty) return None
    val toks = ga.tokenize(col(textCol))
    val pred = prefixes.map(p => exists(toks, t => t.startsWith(lit(p)))).reduce(_ && _)
    Some(limited(docs.filter(pred), size))
  }

  /** All-fields prefix autocomplete — the reference's `fields: ["*"]`
    * semantics (web/app.py:142-151): every query token must prefix-match
    * an analyzed token of ANY searched field. `fields` defaults to every
    * StringType column of the input.
    */
  def prefixSearchAllFields(docs: DataFrame, query: String,
      size: Int = AutocompleteSize, fields: Seq[String] = Seq.empty): Option[DataFrame] =
    allFieldTokens(docs, query, fields).map { case (prefixes, toks) =>
      val pred = prefixes.map(p => exists(toks, t => t.startsWith(lit(p)))).reduce(_ && _)
      limited(docs.filter(pred), size)
    }

  /** Byte-faithful `query_string` autocomplete (web/app.py:142-151): the
    * reference appends a single `*` to the raw query, so with
    * `default_operator: "and"` every token but the LAST must match a
    * document token exactly (term equality in any field) and only the
    * last token is a prefix match. `prefixSearchAllFields` is the
    * all-prefixes variant; this one mirrors the reference's literal query.
    */
  def queryStringAutocomplete(docs: DataFrame, query: String,
      size: Int = AutocompleteSize, fields: Seq[String] = Seq.empty): Option[DataFrame] =
    allFieldTokens(docs, query, fields).map { case (qToks, toks) =>
      val exactPreds = qToks.init.map(t => array_contains(toks, t))
      val lastPred = exists(toks, t => t.startsWith(lit(qToks.last)))
      limited(docs.filter((exactPreds :+ lastPred).reduce(_ && _)), size)
    }

  /** The all-fields autocomplete preamble: the reference's ≥3-char guard,
    * the analyzed query tokens, and per row one array of every searched
    * field's tokens (`fields` defaults to every StringType column; codegen'd
    * tokenize, no UDF; null fields contribute no tokens). None when the
    * guard fails or nothing is searchable.
    */
  private def allFieldTokens(docs: DataFrame, query: String,
      fields: Seq[String]): Option[(Array[String], Column)] = {
    if (query == null || query.trim.length < MinPrefixLen) return None
    val qToks = Analyzer.tokenize(query)
    val cols =
      if (fields.nonEmpty) fields
      else docs.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
      }.toSeq
    if (qToks.isEmpty || cols.isEmpty) return None
    val empty = lit(Array.empty[String])
    Some((qToks, flatten(array(cols.map(c => coalesce(ga.tokenize(col(c)), empty)): _*))))
  }

  /** `size` rows at most; Int.MaxValue = unbounded skips the LIMIT node
    * (a huge GlobalLimit still coalesces to one partition — measured 20s
    * vs 0.2s).
    */
  private def limited(df: DataFrame, size: Int): DataFrame =
    if (size == Int.MaxValue) df else df.limit(size)

  /** Prefix search through the index's term dictionary: a range scan
    * `term >= p && term < p + MaxChar` per token over the postings table
    * (min/max row-group stats prune the scan), intersected on docID —
    * the scale path for autocomplete (SURVEY.md P6/J2).
    */
  def prefixSearchIndexed(spark: SparkSession, index: OpenIndex, query: String,
      size: Int = AutocompleteSize): Option[DataFrame] = {
    if (query == null || query.trim.length < MinPrefixLen) return None
    val prefixes = Analyzer.tokenize(query)
    if (prefixes.isEmpty) return None
    import spark.implicits._
    val perToken: Seq[DataFrame] = prefixes.toSeq.map { p =>
      index.postings
        .filter(col("term") >= lit(p) && col("term") < lit(p + '￿'))
        .flatMap { b =>
          graft.index.VByte.undeltas(b.firstDoc, graft.index.Codecs.decode(b.codec, b.docDeltas, b.n))
        }
        .toDF("doc_id")
        .distinct()
    }
    // posting-list intersection (J2): iterative inner joins on docID
    val matched = perToken.reduce((a, b) => a.join(b, Seq("doc_id"), "inner"))
    Some(limited(matched.orderBy(col("doc_id")), size))
  }

  /** Match-all browse with field sort (web/app.py:207-215). */
  def matchAll(docs: DataFrame, sortField: String, size: Int = BrowseSize): DataFrame =
    docs.orderBy(col(sortField).asc).limit(size)

  /** BM25 relevance search over the built index: WAND top-k then hit
    * materialization via broadcast join of the tiny scored side (J4).
    */
  def relevance(spark: SparkSession, index: OpenIndex, query: String,
      k: Int = SearchSize): DataFrame = {
    val hits = Wand.topK(spark, index, query, k)
    index.docs.join(broadcast(hits), Seq("doc_id"), "inner")
      .orderBy(col("score").desc, col("doc_id").asc)
  }
}
