package graft.util

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types.{DataType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** An expression whose generated Java is deliberately unparsable: janino
  * must fail to compile the whole-stage unit, Spark must fall back to
  * interpreted eval (answers stay RIGHT), and [[CodegenWatch]] must count
  * it — the exact failure mode that shipped invisibly in round 5 (the
  * declarative langid tree compiled to janino-rejected code and ran
  * interpreted for a full round under rc=0). */
case class BrokenGen(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "broken_gen"
  override protected def nullSafeEval(v: Any): Any = v.asInstanceOf[Long] + 1L
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"(this is not java !! $v)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

class CodegenWatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("a janino compile failure is counted AND the query still answers correctly") {
    CodegenWatch.install()
    assert(CodegenWatch.available, "log4j2-core backend expected in this container")
    val before = CodegenWatch.count
    val out = spark.range(5)
      .select(EU.column(BrokenGen(EU.expression(col("id")))).as("x"))
      .agg(sum("x")).collect()(0).getLong(0)
    assert(out == 1 + 2 + 3 + 4 + 5) // interpreted fallback: values right
    assert(CodegenWatch.count > before,
      "the compile failure must be visible in the counter, not only in the log tail")
  }

  test("clean codegen'd plans add nothing to the counter") {
    CodegenWatch.install()
    val before = CodegenWatch.count
    spark.range(100).selectExpr("sum(id * 2)").collect()
    assert(CodegenWatch.count == before)
  }

  test("compiles: the count rises on a new expression and stays flat on an identical repeat") {
    // a literal no earlier query used: its source is new to the class cache
    val query = s"sum(id * ${System.nanoTime()})"
    val before = CodegenWatch.compiles
    spark.range(100).selectExpr(query).collect()
    val first = CodegenWatch.compiles
    assert((first - before).count > 0 && (first - before).ms > 0.0)
    spark.range(100).selectExpr(query).collect()
    assert((CodegenWatch.compiles - first).count == 0,
      "an identical repeat must be served from the compiled-class cache")
  }

  test("the production analysis kernels compile cleanly (the round-5 defect stays fixed)") {
    CodegenWatch.install()
    import spark.implicits._
    val before = CodegenWatch.count
    val df = Seq("the quick brown fox", "le chat est sur la table", "").toDF("text")
    df.select(
      graft.ml.TextAnalysis.qualityFeatures(col("text")),
      graft.ml.TextAnalysis.langId(col("text")),
      graft.ml.TextEnrichFunctions.enrich_doc(col("text"))).collect()
    assert(CodegenWatch.count == before,
      "analyze_text/enrich_doc must stay inside whole-stage codegen")
  }
}
