package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** `dotq(a, b)` — exact int64 dot product of two float arrays under
  * fixed-point quantization at 10⁻⁶:
  *
  *   Σᵢ round(aᵢ·10⁶) · round(bᵢ·10⁶)        (round = half away from zero)
  *
  * Why a native Catalyst expression and not the equivalent
  * `aggregate(zip_with(...))` higher-order function: HOF lambdas are
  * interpreted per element (one closure invocation per array slot per
  * row), which made the pairwise-similarity queries lambda-bound. This
  * expression is a tight primitive loop in both the interpreted and the
  * generated path, and `doGenCode` keeps it inside whole-stage codegen —
  * at 100 TB the similarity kernel is the innermost loop of the whole
  * pipeline, so it must codegen.
  *
  * Semantics are bit-identical to the HOF form and to the DuckDB oracle
  * (`SUM(CAST(round(CAST(x AS DOUBLE)*1e6) AS BIGINT) * ...)`): the
  * rounding below reproduces decimal HALF_UP (away from zero) exactly —
  * `Math.round` would differ on negative .5 ties (it rounds toward +∞).
  *
  * Nulls: null array → null; null ELEMENTS are rejected by the loader
  * contract (embeddings are dense float[64]) and treated as 0.
  */
case class QuantizedDot(left: Expression, right: Expression)
    extends QuantizedArrayFold {

  override protected def step(qa: Long, qb: Long): Long = qa * qb

  override protected def stepCode(qa: String, qb: String, acc: String,
      ctx: CodegenContext): String =
    s"$acc += $qa * $qb;"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dotq"
}

object QuantizedDot {
  /** round(x·10⁶) half-away-from-zero — matches Spark round() (BigDecimal
    * HALF_UP) and DuckDB round() on every input including .5 ties. */
  def q(f: Float): Long = {
    val d = f.toDouble * 1e6
    if (d < 0) Math.ceil(d - 0.5).toLong else Math.floor(d + 0.5).toLong
  }

  /** (name, info, builder) triple for SparkSessionExtensions.injectFunction. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    new FunctionIdentifier("dotq"),
    new ExpressionInfo(classOf[QuantizedDot].getName, "dotq"),
    FunctionArity.expect("dotq", 2)(c => QuantizedDot(c(0), c(1))))
}
