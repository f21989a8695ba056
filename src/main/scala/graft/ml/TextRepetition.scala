package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._

/** Repetition signals for webtext quality filtering — the integer cores of
  * the Gopher repetition rules (Rae et al., "Scaling Language Models:
  * Methods, Analysis & Insights from Training Gopher", §A1.1: fraction of
  * duplicate lines/tokens, fraction of characters in the most common
  * n-gram). Boilerplate, SEO spam, and generated filler score high on
  * these; the curation gate thresholds the derived ratios.
  *
  * All outputs are exact integer COUNTS (the ratios' numerators and
  * denominators), so the cross-engine oracle (q44) is bit-exact — the same
  * trick as the media codecs' integer moments. Ratio forms
  * (`1 - distinct/n`, `top_count/n`) are one `withColumn` away and carry
  * no additional semantics.
  *
  * Exact shared semantics (Spark kernel ≡ DuckDB oracle):
  *   norm    = regexp_replace(lower(trim(text)), '\s+', ' ')
  *             (computed regex-free, [[TextEnrich.normText]])
  *   tokens  = norm split on single spaces, empties preserved
  *             (≡ DuckDB `string_split(norm, ' ')`; '' → [''])
  *   k-gram  = k consecutive tokens joined by ' '
  *   top_*   = max multiplicity over the k-gram multiset (0 when none)
  *
  * 100 TB shape: a scan-side codegen'd expression — one pass, one
  * tokenization, per-row O(tokens) time and space (hash multiset), no
  * shuffle, stays inside whole-stage codegen (single static call, the
  * janino-safe pattern of [[AnalyzeText]]).
  */
object TextRepetition {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct_tokens", IntegerType, nullable = false),
    StructField("top_token_count", IntegerType, nullable = false),
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("n_distinct_bigrams", IntegerType, nullable = false),
    StructField("top_bigram_count", IntegerType, nullable = false),
    StructField("n_trigrams", IntegerType, nullable = false),
    StructField("n_distinct_trigrams", IntegerType, nullable = false),
    StructField("top_trigram_count", IntegerType, nullable = false)))

  /** (distinct count, top multiplicity) of the k-gram multiset. */
  private def gramStats(tokens: Array[String], k: Int): (Int, Int) = {
    val n = tokens.length - (k - 1)
    if (n <= 0) (0, 0)
    else {
      val m = new java.util.HashMap[String, Int]()
      var top = 0
      var i = 0
      while (i < n) {
        val g =
          if (k == 1) tokens(i)
          else {
            val sb = new java.lang.StringBuilder(tokens(i))
            var j = 1
            while (j < k) { sb.append(' ').append(tokens(i + j)); j += 1 }
            sb.toString
          }
        val c = m.merge(g, 1, Integer.sum)
        if (c > top) top = c
        i += 1
      }
      (m.size, top)
    }
  }

  /** The n-gram array itself (same norm/split/join semantics as
    * [[statsRow]]'s multiset), for operators that join on grams rather
    * than count them — e.g. [[Decontaminate]]. Empty array when the text
    * has fewer than n tokens. */
  def ngramArray(
      t: org.apache.spark.unsafe.types.UTF8String,
      n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val tokens = TextEnrich.splitTokens(TextEnrich.normText(t.toString))
    val count = tokens.length - (n - 1)
    if (count <= 0)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder(tokens(i))
        var j = 1
        while (j < n) { sb.append(' ').append(tokens(i + j)); j += 1 }
        out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  def statsRow(t: org.apache.spark.unsafe.types.UTF8String): GenericInternalRow = {
    val tokens = TextEnrich.splitTokens(TextEnrich.normText(t.toString))
    val (d1, t1) = gramStats(tokens, 1)
    val (d2, t2) = gramStats(tokens, 2)
    val (d3, t3) = gramStats(tokens, 3)
    new GenericInternalRow(Array[Any](
      tokens.length, d1, t1,
      math.max(tokens.length - 1, 0), d2, t2,
      math.max(tokens.length - 2, 0), d3, t3))
  }
}

/** `repetition_stats(text)` → struct of exact integer repetition counts —
  * see [[TextRepetition]]. */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TextRepetition.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "repetition_stats"
  override protected def nullSafeEval(t: Any): Any =
    TextRepetition.statsRow(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.ml.TextRepetition.statsRow($t)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `token_ngrams(text, n)` → array<string> of the text's n-token grams —
  * see [[TextRepetition.ngramArray]]. */
case class TokenNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"token_ngrams width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_ngrams"
  override protected def nullSafeEval(t: Any): Any =
    TextRepetition.ngramArray(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.ml.TextRepetition.ngramArray($t, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextRepetitionFunctions {
  def repetition_stats(text: Column): Column =
    EU.column(RepetitionStats(EU.expression(text)))
  def token_ngrams(text: Column, n: Int): Column =
    EU.column(TokenNgrams(EU.expression(text), n))
}
