package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** `l2q(a, b)` — exact int64 SQUARED EUCLIDEAN distance of two float
  * arrays under the same fixed-point quantization as `dotq`:
  *
  *   Σᵢ (round(aᵢ·10⁶) − round(bᵢ·10⁶))²      (round = half away from zero)
  *
  * This is the k-means / nearest-centroid metric (q103): where `dotq`
  * serves cosine similarity, `l2q` serves Lloyd's assignment step — one
  * codegen'd primitive loop per (vector, centroid) pair instead of the
  * three dot products of the |x|²−2x·c+|c|² expansion or an interpreted
  * `aggregate(zip_with(...))` lambda (see the `dotq` Scaladoc for why
  * HOFs are off the hot path).
  *
  * Determinism: inputs are quantized EXACTLY like `dotq` (shared
  * `QuantizedDot.q`), every intermediate is exact int64, and the sum is
  * order-independent — bit-identical to the DuckDB oracle form
  * `SUM((qa − qb) * (qa − qb))`. Overflow headroom: unit-norm float
  * embeddings have |element| ≤ 1 ⇒ |qa − qb| ≤ 2·10⁶ ⇒ one term ≤
  * 4·10¹², a 64-dim distance ≤ 2.6·10¹⁴, and a 2⁶³ bound allows summing
  * ~3.5·10⁴ such distances per int64 accumulator — per-CLUSTER WSS sums
  * beyond ~10⁴ vectors per cluster should aggregate the l2q column as
  * DECIMAL(38,0) (documented at the q103 call site).
  *
  * Nulls: null array → null (BinaryExpression default null-intolerance);
  * length mismatch takes the common prefix, mirroring `dotq`.
  */
case class QuantizedL2(left: Expression, right: Expression)
    extends QuantizedArrayFold {

  override protected def step(qa: Long, qb: Long): Long = {
    val d = qa - qb
    d * d
  }

  override protected def stepCode(qa: String, qb: String, acc: String,
      ctx: CodegenContext): String = {
    val d = ctx.freshName("d")
    s"""long $d = $qa - $qb;
       |  $acc += $d * $d;""".stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedL2 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "l2q"
}

object QuantizedL2 {
  /** (name, info, builder) triple for SparkSessionExtensions.injectFunction. */
  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    new FunctionIdentifier("l2q"),
    new ExpressionInfo(classOf[QuantizedL2].getName, "l2q"),
    FunctionArity.expect("l2q", 2)(c => QuantizedL2(c(0), c(1))))
}
