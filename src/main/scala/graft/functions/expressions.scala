package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, Literal, UnaryExpression}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the crawl engine (SURVEY.md §4 "what
  * needs custom work"). Each is a thin wrapper over [[ExprKernels]] with
  * `doGenCode` emitting a direct static call, so plans stay inside
  * whole-stage codegen; all are null-intolerant (null in → null out) and
  * deterministic.
  */

/** `extract_links(html, base_url)` → array<string> of absolute hrefs in DOM
  * document order — Op-3 (`scrape-pdfs-from-website/lambda.ts:58-61`). */
case class ExtractLinks(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_links"
  override protected def nullSafeEval(html: Any, base: Any): Any =
    ExprKernels.links(html.asInstanceOf[Array[Byte]], base.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, b) => s"graft.functions.ExprKernels.links($h, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `extract_links_auto(html, base_url)` → array<string>: sitemap loc
  * entries when the body is a sitemap (2 KB content sniff), DOM-order
  * anchor hrefs otherwise — the crawl loop's second discovery channel
  * ([[graft.operators.SitemapParser]], `CrawlConfig.sitemapDiscovery`). */
case class ExtractLinksAuto(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_links_auto"
  override protected def nullSafeEval(html: Any, base: Any): Any =
    ExprKernels.linksAuto(html.asInstanceOf[Array[Byte]], base.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, b) => s"graft.functions.ExprKernels.linksAuto($h, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `extract_page(html, base_url)` → struct<doc: struct<text,data>,
  * links: array<string>>: the crawl tick's whole per-page extraction in one
  * expression with ONE decode of the fat html column (the unfused
  * extract_document + extract_links pair decodes it twice). `sitemapAuto`
  * routes sitemap bodies to loc-entry discovery (see [[ExtractLinksAuto]]). */
case class ExtractPage(left: Expression, right: Expression, blockCap: Int, sitemapAuto: Boolean)
  extends BinaryExpression {
  override def dataType: DataType = ExtractPage.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_page"
  override protected def nullSafeEval(html: Any, base: Any): Any =
    ExprKernels.extractPage(
      html.asInstanceOf[Array[Byte]],
      base.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], blockCap, sitemapAuto)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, b) => s"graft.functions.ExprKernels.extractPage($h, $b, $blockCap, $sitemapAuto)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ExtractPage {
  lazy val schema: StructType = StructType(Seq(
    StructField("doc", ExtractDocument.schema, nullable = false),
    StructField("links", ArrayType(StringType, containsNull = false), nullable = false)))
}

/** `extract_document(html)` → struct<text: string, data: map<string,string>>
  * — the deterministic replacement for the whole Textract hop (Op-14/16-22,
  * `send-textract-result-to-dynamo/lambda.ts:51-200`). */
case class ExtractDocument(child: Expression, blockCap: Int) extends UnaryExpression {
  override def dataType: DataType = ExtractDocument.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_document"
  override protected def nullSafeEval(html: Any): Any =
    ExprKernels.extractDocument(html.asInstanceOf[Array[Byte]], blockCap)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h => s"graft.functions.ExprKernels.extractDocument($h, $blockCap)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ExtractDocument {
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("data", MapType(StringType, StringType, valueContainsNull = false), nullable = false)))
}

/** `link_identity(url)` → struct<url_hash: bigint, url: string,
  * host: string> — the full crawl identity of one discovered link with ONE
  * canonicalization. The unfused triple `url_hash64(l)` /
  * `canonicalize_url(l)` / `url_host(canonicalize_url(l))` canonicalized
  * the same string up to three times per discovered link — the hottest
  * per-link path in the tick loop (10^2 links/page × page count, every
  * tick; round-5 review). Bit-identical to the composition
  * (parity-tested in ExpressionsSpec); codegen subexpression elimination
  * evaluates the struct once for all three projected fields, the same
  * fusion contract [[ExtractPage]] relies on. */
case class LinkIdentity(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LinkIdentity.schema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "link_identity"
  override protected def nullSafeEval(url: Any): Any =
    ExprKernels.linkIdentity(url.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, u => s"graft.functions.ExprKernels.linkIdentity($u)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LinkIdentity {
  val schema: StructType = StructType(Seq(
    StructField("url_hash", LongType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("host", StringType, nullable = false)))
}

/** `canonicalize_url(url)` → canonical string form (dedup identity). */
case class CanonicalizeUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "canonicalize_url"
  override protected def nullSafeEval(url: Any): Any =
    ExprKernels.canonicalize(url.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, u => s"graft.functions.ExprKernels.canonicalize($u)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `url_hash64(url)` → xxhash64(canonical form), seed 42 — the engine's
  * 64-bit URL identity (north rule). */
case class CanonicalUrlHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_hash64"
  override protected def nullSafeEval(url: Any): Any =
    ExprKernels.canonHash(url.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, u => s"graft.functions.ExprKernels.canonHash($u)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `url_host(url)` → host component of a canonical/absolute URL. */
case class UrlHost(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_host"
  override protected def nullSafeEval(url: Any): Any =
    ExprKernels.host(url.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, u => s"graft.functions.ExprKernels.host($u)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `resolve_url(base, href)` → absolute URL (browser `a.href` semantics). */
case class ResolveUrl(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "resolve_url"
  override protected def nullSafeEval(base: Any, href: Any): Any =
    ExprKernels.resolveUrl(
      base.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      href.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, h) => s"graft.functions.ExprKernels.resolveUrl($b, $h)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `bound_value(v)`: a constant that changes from call to call (a tick's
  * timestamp, batch id or partition id) without changing the generated
  * code. Spark inlines long and timestamp `Literal`s into the Java source,
  * so a plan that differs only in `lit(batchId)` compiles new classes on
  * every tick; this leaf hands its value to the compiled class through the
  * `references` array instead, so every tick's source is byte-identical and
  * Spark's codegen cache serves it. `eval` returns the same value.
  *
  * Not foldable (constant folding would turn it back into a `Literal`):
  * use it for projected values and post-aggregate comparisons only. A scan
  * filter keeps its `Literal`, because partition pruning and parquet
  * min/max pushdown need one. `value` is Catalyst's internal form
  * (`Literal(v).value`), never null. */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "bound_value needs a non-null value")
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "bound_value"
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundValue", value, CodeGenerator.boxedType(dataType))
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"final $javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }
}

/** Column-API + SQL-registration surface for the custom expressions. */
object GraftFunctions {
  import graft.functions.kernels.BlockGraphKernel

  def extract_links(html: Column, baseUrl: Column): Column =
    ExpressionUtils.column(ExtractLinks(ExpressionUtils.expression(html), ExpressionUtils.expression(baseUrl)))

  def extract_links_auto(html: Column, baseUrl: Column): Column =
    ExpressionUtils.column(ExtractLinksAuto(ExpressionUtils.expression(html), ExpressionUtils.expression(baseUrl)))

  def extract_page(
      html: Column, baseUrl: Column,
      blockCap: Int = BlockGraphKernel.BlockCap, sitemapAuto: Boolean = false): Column =
    ExpressionUtils.column(ExtractPage(
      ExpressionUtils.expression(html), ExpressionUtils.expression(baseUrl), blockCap, sitemapAuto))

  def extract_document(html: Column, blockCap: Int = BlockGraphKernel.BlockCap): Column =
    ExpressionUtils.column(ExtractDocument(ExpressionUtils.expression(html), blockCap))

  def canonicalize_url(url: Column): Column =
    ExpressionUtils.column(CanonicalizeUrl(ExpressionUtils.expression(url)))

  def url_hash64(url: Column): Column =
    ExpressionUtils.column(CanonicalUrlHash(ExpressionUtils.expression(url)))

  def url_host(url: Column): Column =
    ExpressionUtils.column(UrlHost(ExpressionUtils.expression(url)))

  def link_identity(url: Column): Column =
    ExpressionUtils.column(LinkIdentity(ExpressionUtils.expression(url)))

  def resolve_url(base: Column, href: Column): Column =
    ExpressionUtils.column(ResolveUrl(ExpressionUtils.expression(base), ExpressionUtils.expression(href)))

  /** `lit(v)` for a value that changes per call but must not change the
    * generated code (see [[BoundValue]]); same type and value as `lit(v)`. */
  def bound_value(v: Any): Column = {
    val l = Literal(v)
    ExpressionUtils.column(BoundValue(l.value, l.dataType))
  }

  /** Registers every function for SQL use (`SELECT url_hash64(url) ...`). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("extract_links", es => ExtractLinks(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("extract_links_auto", es => ExtractLinksAuto(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "extract_document",
      es => ExtractDocument(es.head, BlockGraphKernel.BlockCap), "scala_udf")
    reg.createOrReplaceTempFunction("canonicalize_url", es => CanonicalizeUrl(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("url_hash64", es => CanonicalUrlHash(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("url_host", es => UrlHost(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("resolve_url", es => ResolveUrl(es(0), es(1)), "scala_udf")
  }
}
