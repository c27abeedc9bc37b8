package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import graft.analysis.{functions => ga}

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword heuristic), quality scoring, token counting, and document
  * fingerprinting. All are pure per-row column expressions (no shuffle)
  * and none is a higher-order function: the bigram and stopword counts are
  * codegen'd kernels over the `graft_tokenize` array (textStatsExpressions),
  * so a projection of these signals plans as ONE whole-stage-codegen
  * `Project` and subexpression elimination tokenizes each row once — they
  * stream at scan speed (PlanSpec pins both).
  *
  * NULL text: results follow `size(NULL)`, which is −1 under legacy
  * `sizeOfNull` (ANSI off) and NULL with ANSI on:
  *   - `topBigramFraction`: NULL with ANSI on, 0.0 with ANSI off;
  *   - `stopwordRatio`: NULL with ANSI on, 1.0 with ANSI off;
  *   - `langId`: "fr" in both modes (every ratio ties; see `langId`).
  */
object TextStats {

  /** Per-language stopword marker sets for the n-gram/stopword heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "en"))

  private def toks(textCol: Column): Column = ga.tokenize(textCol)

  private def stopwordCount(t: Column, set: Seq[String]): Column =
    GraftBridge.column(StopwordCount(GraftBridge.expression(t), set))

  /** Fraction of tokens that are in `set` (0 for empty docs). Entries are
    * matched exactly, so mixed-case entries never match the lowercased
    * tokens. A NULL doc counts `size(NULL)` hits, so its ratio is NULL
    * with ANSI on and −1 / −1 = 1.0 with ANSI off. The empty-doc guard
    * picks the divisor (0 / 1 = 0.0) rather than a CASE branch, so the
    * kernel is always evaluated and subexpression elimination shares its
    * token array with every other signal of the projection.
    */
  def stopwordRatio(textCol: Column, set: Seq[String]): Column = {
    val t = toks(textCol)
    val n = size(t)
    val hits = coalesce(stopwordCount(t, set), n)
    hits.cast("double") / when(n === 0, lit(1)).otherwise(n)
  }

  /** Language-ID heuristic: argmax of per-language stopword ratios with a
    * minimum evidence floor; deterministic tie-break by language code.
    * Below the floor → "und" (undetermined). NULL text → "fr".
    */
  def langId(textCol: Column, floor: Double = 0.05): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, set) =>
      struct(stopwordRatio(textCol, set).as("ratio"), lit(lang).as("lang"))
    }
    // The descending sort compares (ratio, lang) field by field, so equal
    // ratios pick the LARGEST language code (fr > es > en > de), as the
    // DuckDB oracle does. NULL text ties every ratio (all 1.0 with ANSI
    // off, all NULL with ANSI on, where NULL < floor is NULL) → "fr".
    val best = sort_array(array(scored: _*), asc = false)(0)
    when(best.getField("ratio") < floor, lit("und"))
      .otherwise(best.getField("lang"))
  }

  def tokenCount(textCol: Column): Column = ga.token_count(textCol)

  /** GPT-style pre-tokenizer pattern: letter runs, digit runs, and
    * non-space symbol runs each count as one token — the cheap,
    * vocabulary-free approximation of a BPE tokenizer's pre-split,
    * good for corpus token budgeting without shipping a merges table.
    */
  final val BpePreTokenPattern = "[\\p{L}]+|[\\p{N}]+|[^\\p{L}\\p{N}\\s]+"

  /** Approximate BPE token count (pre-tokenizer splits, no merges):
    * a single codegen'd regexp_count — no array materialization.
    */
  def bpeTokenCount(textCol: Column): Column =
    regexp_count(textCol, lit(BpePreTokenPattern))

  /** Quality score in [0,1]: blend of length saturation, alphabetic
    * character ratio, and English stopword presence — the standard cheap
    * web-text quality gates (length/punct/stopword ratios).
    */
  def qualityScore(textCol: Column): Column = {
    val nTok = ga.token_count(textCol).cast("double")
    val lengthScore = least(nTok / lit(64.0), lit(1.0))
    val nChars = length(textCol).cast("double")
    val alphaChars = length(regexp_replace(textCol, "[^A-Za-z]", "")).cast("double")
    val alphaRatio = when(nChars === 0, lit(0.0)).otherwise(alphaChars / nChars)
    val stopScore = least(stopwordRatio(textCol, stopwords("en")) * lit(4.0), lit(1.0))
    round(lit(0.4) * lengthScore + lit(0.4) * alphaRatio + lit(0.2) * stopScore, 6)
  }

  /** Token-level repetition: fraction of tokens that are repeats of an
    * earlier token (1 - distinct/total; 0 for empty docs). One of the
    * standard web-corpus boilerplate/spam signals (Gopher-rule family).
    */
  def dupTokenRatio(textCol: Column): Column = {
    val t = toks(textCol)
    when(size(t) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(t)).cast("double") / size(t))
  }

  /** Fraction of the document's 2-grams occupied by its single most
    * frequent 2-gram (0 when fewer than two tokens) — the "top n-gram
    * fraction" repetition rule for flagging templated/looping text.
    * One codegen'd pass over the token pairs (O(n log n) per row, no
    * shuffle, no bigram strings) — streams at scan speed like the other
    * quality gates. The kernel yields 0.0 below two tokens itself; the
    * `size` guard only decides NULL text: NULL with ANSI on, 0.0 with
    * ANSI off (`size(NULL)` = −1 < 2).
    */
  def topBigramFraction(textCol: Column): Column = {
    val t = toks(textCol)
    val kernel = GraftBridge.column(TopBigramFraction(GraftBridge.expression(t)))
    coalesce(kernel, when(size(t) < 2, lit(0.0)))
  }

  /** Normalized content fingerprint: md5 of the analyzed token stream —
    * robust to whitespace/punctuation/case variance (near-exact dedup key).
    */
  def fingerprint(textCol: Column): Column =
    md5(array_join(toks(textCol), " "))

  /** Winnowing fingerprint (rolling-hash document sketch): min hash in
    * each sliding window of `window` k-gram hashes, deduplicated — the
    * classic local document fingerprint for plagiarism-style matching.
    */
  def winnow(tokens: Array[String], k: Int = 4, window: Int = 8): Array[Long] = {
    val grams = Dedup.shingles(tokens, k).map(Hash64(_))
    if (grams.isEmpty) return Array.empty
    if (grams.length <= window) return Array(grams.min)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i + window <= grams.length) {
      var m = grams(i)
      var j = i + 1
      while (j < i + window) { if (grams(j) < m) m = grams(j); j += 1 }
      out += m
      i += 1
    }
    out.toArray
  }
}
