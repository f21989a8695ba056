package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._

/** Codegen'd vector arithmetic over `array<float>` / `array<double>`
  * embedding columns. The `functions.zip_with` + `functions.aggregate`
  * formulation of a dot product is a HigherOrderFunction — CodegenFallback
  * in Spark, i.e. interpreted lambda dispatch per ELEMENT per row, which
  * dominates every ANN operator's profile. These expressions compile to a
  * tight primitive loop inside whole-stage codegen via a static kernel
  * call, preserving the exact floating-point semantics of the HOF form
  * (same element order, float→double widening per element, sequential
  * double accumulation) so results are bit-identical and the DuckDB
  * oracles keep matching.
  */
object VecKernels {

  /** Σ a(i)·b(i) in double, left-to-right (the HOF accumulation order).
    * Returns null — NOT a partial sum — for length-mismatched arrays and
    * for null elements, matching the `zip_with`+`aggregate` HOF semantics
    * exactly (zip_with null-pads the shorter side, a null product poisons
    * the sum): a ragged or corrupted embedding must surface as a visible
    * null, never as a plausible similarity silently used in ANN ranking
    * (round-3 advisor). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** `CAST(round(v) AS BIGINT)` with Spark's exact double semantics:
    * Round(double) goes through BigDecimal.valueOf (the SHORTEST decimal
    * string — NOT floor(v+0.5): 11.4999999999999996 prints as "11.5" and
    * HALF_UP gives 12) and back to a double before the cast, so above 2^53
    * the result is the double's value, not the decimal's; NaN→0 and
    * ±∞/overflow clamp like the non-ANSI double→long cast. */
  private def roundToLong(v: Double): Long =
    if (java.lang.Double.isNaN(v)) 0L
    else if (java.lang.Double.isInfinite(v)) { if (v > 0) Long.MaxValue else Long.MinValue }
    else java.math.BigDecimal.valueOf(v).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** Σ round(a(i)·1000)·round(b(i)·1000) as int64 — the integer-quantized
    * dot product (q24's oracle arithmetic), with the same per-element
    * rounding the `zip_with`+`aggregate` HOF form produced and the same
    * null contract as [[dot]] (ragged or null element → null). The HOF
    * form was CodegenFallback — interpreted lambda dispatch per element
    * plus a materialized intermediate array per row (round 7). */
  def qdot1000(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += roundToLong(x * 1000.0) * roundToLong(y * 1000.0)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** dot(a,b) / (√dot(a,a) · √dot(b,b)) — one pass over both arrays;
    * 0-norm inputs yield NaN exactly like the composed-HOF form did; null
    * for ragged/null-element inputs (same contract as [[dot]]). */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(d / (math.sqrt(na) * math.sqrt(nb)))
  }
}

private[ml] trait VecBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // ragged/null-element inputs -> null
  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $other")
  }
}

/** `vec_dot(a, b)` → double. */
case class VecDot(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "vec_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r =
        graft.ml.VecKernels.dot($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)});
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `vec_cosine(a, b)` → double. */
case class VecCosine(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "vec_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r =
        graft.ml.VecKernels.cosine($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)});
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `vec_qdot1000(a, b)` → bigint integer-quantized dot product. */
case class VecQDot1000(left: Expression, right: Expression) extends VecBinary {
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_qdot1000"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.qdot1000(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long ${ev.value}_r =
        graft.ml.VecKernels.qdot1000($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)});
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VecFunctions {
  def vec_dot(a: Column, b: Column): Column =
    EU.column(VecDot(EU.expression(a), EU.expression(b)))
  def vec_cosine(a: Column, b: Column): Column =
    EU.column(VecCosine(EU.expression(a), EU.expression(b)))
  def vec_qdot1000(a: Column, b: Column): Column =
    EU.column(VecQDot1000(EU.expression(a), EU.expression(b)))
}
