package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._

/** Model-based quality scoring — the "train a classifier on a trusted
  * corpus, keep web docs it scores high" stage of every published webtext
  * recipe (CCNet's fastText LM filter, GPT-3's WebText-vs-CommonCrawl
  * logistic regression, PaLM/GLaM variants). The model family is the one
  * those pipelines actually deploy: a LINEAR scorer over hashed bag-of-
  * token features (fastText/Vowpal-style feature hashing — no vocabulary
  * to ship; any token hashes to a weight).
  *
  * The weights here are derived from md5 instead of learned — this engine
  * ships the SERVING operator, not the trainer (training happens offline;
  * swapping in a learned table is a lookup change, not a plan change).
  * Hash-derived weights make the operator deterministic and therefore
  * cross-engine testable: the q50 DuckDB oracle recomputes every score
  * bit-for-bit, which no floating-point learned model would allow.
  *
  * Exact shared semantics (Spark kernel ≡ DuckDB oracle):
  *   norm     = regexp_replace(lower(trim(text)), '\s+', ' ')
  *   tokens   = norm split on single spaces, empties preserved
  *              (≡ DuckDB string_split; '' → [''])
  *   w(tok)   = int(md5(seed || '|' || tok)[0:4] as hex) - 32768
  *              (uniform in [-32768, 32767], zero-mean)
  *   score    = Σ w(tok)  — exact int64, no float reduction-order issues
  *
  * 100 TB shape: a scan-side codegen'd expression — one pass, one
  * tokenization, per-row O(tokens · md5) time, O(1) extra space, no
  * shuffle, stays inside whole-stage codegen (single static call, the
  * janino-safe pattern of [[AnalyzeText]]/[[RepetitionStats]]). The
  * downstream keep-gate is an ordinary filter on the struct fields, so it
  * pushes into the scan like any predicate.
  */
object QualityModel {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("score", LongType, nullable = false)))

  private val hexDigits = "0123456789abcdef".toCharArray

  /** w(tok) for one token: first 16 bits of md5(seed || '|' || tok),
    * centered. MessageDigest is not thread-safe → one per call site via
    * ThreadLocal (executor threads are long-lived; zero steady-state
    * allocation). */
  private val md5Local = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def tokenWeight(seed: String, token: String): Int = {
    val md = md5Local.get()
    md.reset()
    val bytes = md.digest((seed + "|" + token).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 4 hex chars = first 2 bytes, big-endian
    (((bytes(0) & 0xff) << 8) | (bytes(1) & 0xff)) - 32768
  }

  def scoreRow(t: org.apache.spark.unsafe.types.UTF8String, seed: String): GenericInternalRow = {
    val tokens = TextEnrich.splitTokens(TextEnrich.normText(t.toString))
    var score = 0L
    var i = 0
    while (i < tokens.length) {
      score += tokenWeight(seed, tokens(i))
      i += 1
    }
    new GenericInternalRow(Array[Any](tokens.length, score))
  }
}

/** `quality_score(text)` → struct(n_tokens, score) — hashed-linear-model
  * quality score, see [[QualityModel]]. `seed` names the model (different
  * seeds = independent weight tables). */
case class QualityScore(child: Expression, seed: String) extends UnaryExpression {
  require(seed.matches("[A-Za-z0-9_.-]*"),
    s"seed must be [A-Za-z0-9_.-]* (embedded in generated code): '$seed'")
  override def dataType: DataType = QualityModel.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quality_score"
  override protected def nullSafeEval(t: Any): Any =
    QualityModel.scoreRow(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // seed is require()-restricted to [A-Za-z0-9_.-]* so the embedded Java
    // string literal needs no escaping; it compiles to a constant-pool ref
    defineCodeGen(ctx, ev, t => s"""graft.ml.QualityModel.scoreRow($t, "$seed")""")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object QualityModelFunctions {
  def quality_score(text: Column, seed: String): Column =
    EU.column(QualityScore(EU.expression(text), seed))
}
