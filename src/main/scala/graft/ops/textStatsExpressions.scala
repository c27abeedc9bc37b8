package graft.ops

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels for the `TextStats` quality signals, over the
  * `graft_tokenize` array. Standalone object — NOT a companion — so the
  * generated Java's static calls survive Janino (see graft.analysis.Kernels).
  */
object TextStatsKernels {

  /** Max multiplicity of any adjacent token pair divided by (n − 1); 0
    * below two tokens. Tokens never contain a space, so pair equality is
    * exactly equality of the "a b" bigram strings the metric is defined
    * over (and the DuckDB oracle compares). Tokens are
    * interned to dense ids, each bigram becomes one long key, and one
    * primitive sort + run scan finds the top count.
    */
  def topBigramFraction(toks: ArrayData): Double = {
    val n = toks.numElements()
    if (n < 2) return 0.0
    val ids = new java.util.HashMap[UTF8String, Integer](n * 2)
    def id(i: Int): Long = {
      val t = toks.getUTF8String(i)
      val got = ids.get(t)
      if (got != null) got.longValue
      else { val v = ids.size; ids.put(t, v); v.toLong }
    }
    val keys = new Array[Long](n - 1)
    var prev = id(0)
    var i = 1
    while (i < n) {
      val cur = id(i)
      keys(i - 1) = (prev << 32) | cur
      prev = cur
      i += 1
    }
    java.util.Arrays.sort(keys)
    var best = 1
    var run = 1
    i = 1
    while (i < keys.length) {
      run = if (keys(i) == keys(i - 1)) run + 1 else 1
      if (run > best) best = run
      i += 1
    }
    best.toDouble / (n - 1).toDouble
  }

  /** Number of tokens that are members of `set` (duplicates counted). */
  def countIn(toks: ArrayData, set: java.util.Set[UTF8String]): Int = {
    val n = toks.numElements()
    var c = 0
    var i = 0
    while (i < n) { if (set.contains(toks.getUTF8String(i))) c += 1; i += 1 }
    c
  }
}

/** Codegen'd top-bigram fraction of a token array (one pass over the
  * token pairs, no bigram strings).
  */
case class TopBigramFraction(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_top_bigram_fraction"

  override def nullSafeEval(input: Any): Any =
    TextStatsKernels.topBigramFraction(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.TextStatsKernels.topBigramFraction($c);")

  override protected def withNewChildInternal(newChild: Expression): TopBigramFraction =
    copy(child = newChild)
}

/** Codegen'd count of the tokens in a fixed word list. NULL for a NULL
  * array (callers that need `size`'s legacy −1 coalesce with `size`).
  */
case class StopwordCount(child: Expression, words: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_stopword_count"

  /** Exactly the values the equivalent `isin` literals hold; a null entry
    * matches nothing.
    */
  @transient private lazy val set: java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => if (w != null) s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    TextStatsKernels.countIn(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", set, "java.util.Set")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.TextStatsKernels.countIn($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordCount =
    copy(child = newChild)
}
