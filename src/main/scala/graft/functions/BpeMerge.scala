package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bpe_merge(syms, p1, p2)` — one greedy BPE merge pass over a
  * symbol array: every LEFT-TO-RIGHT NON-OVERLAPPING occurrence of the
  * adjacent pair (p1, p2) is replaced by the single symbol p1||p2
  * ("aaa" with (a,a) → [aa, a]). This is the merge-application step a
  * byte-pair-encoding trainer runs once per learned rule (q89b runs
  * three).
  *
  * Why native: the equivalent `aggregate` HOF fold (kept as
  * BpeQueries.bpeMergeFold — the two are spec-pinned identical in
  * BpeTrainerSpec, and the DuckDB oracle is a THIRD independent
  * implementation via run-parity windows) evaluates an interpreted
  * lambda per symbol and copies the accumulator array per element —
  * O(len²) allocation per word, outside whole-stage codegen. The same
  * preference-order rationale as `dotq`/`word_shingles`: one tight JVM
  * loop inside the codegen span, zero per-element allocation (UTF8String
  * handles are pointers into the input bytes; only a genuine merge
  * allocates the fused symbol). Measured on q89b at sf0.1 (3 passes,
  * lineage-truncated either way): ~3.6 s median with the HOF fold →
  * ~2.4 s with this kernel; the remaining cost is the per-round
  * pair-count aggregates, which are already codegen'd.
  *
  * Greedy rule, flagless: the tail of the output never needs a
  * "just-merged" marker because the fused symbol p1||p2 is strictly
  * longer than p1 and thus never equal to it — "tail == p1 ∧ next ==
  * p2" is exactly the non-overlapping left-to-right semantics. That
  * strictly-longer argument requires NON-EMPTY pair symbols (with
  * p2 = '' the fused symbol equals p1 and the tail check would re-fire,
  * cascading "aaa"+(a,'') down to one symbol), so an empty p1 or p2 is
  * defined as a NO-OP merge — the input array comes back unchanged, in
  * both the kernel and the HOF twin (a BPE pair is two real symbols by
  * construction; review-round finding, BpeTrainerSpec pins it).
  *
  * Nulls: null array → null (TernaryExpression default); a null
  * ELEMENT poisons the result to null (whether it matches is
  * unknowable — the sorted_icount convention; the HOF twin mirrors
  * this via its poisoned-flag accumulator).
  */
case class BpeMerge(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean =
    super.nullable || (first.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    })

  override def checkInputDataTypes(): TypeCheckResult = {
    val arrOk = first.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (arrOk && second.dataType == StringType && third.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bpe_merge requires (array<string>, string, string), got " +
        children.map(_.dataType.catalogString).mkString(", "))
  }

  override protected def nullSafeEval(a: Any, p1: Any, p2: Any): Any =
    BpeMerge.compute(a.asInstanceOf[ArrayData],
      p1.asInstanceOf[UTF8String], p2.asInstanceOf[UTF8String])

  // compute() returns null ONLY for a null element, so when the input
  // type rules those out the isNull write is omitted — it would not
  // compile there: with `nullable` false, nullSafeCodeGen renders the
  // body with an isNull variable it never declares (the FalseLiteral
  // copy happens after the template is built), Janino rejects the
  // undeclared name, and the projection silently falls back to
  // interpreted mode (the sorted_icount finding; q89b/q89c hot path).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = BpeMerge.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val setNull = first.dataType match {
      case ArrayType(_, true) => s"${ev.isNull} = ${ev.value} == null;"
      case _ => ""
    }
    nullSafeCodeGen(ctx, ev, (a, p1, p2) => s"""
      ${ev.value} = $cls.compute($a, $p1, $p2);
      $setNull""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): BpeMerge =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "bpe_merge"
}

object BpeMerge {

  /** One greedy pass; out is reused UTF8String handles except for the
    * fused symbol, allocated once per actual merge. */
  def compute(arr: ArrayData, p1: UTF8String, p2: UTF8String): ArrayData = {
    if (p1.numBytes() == 0 || p2.numBytes() == 0) {
      // no-op merge — but the null-element poison contract (and the
      // containsNull=false output type) must hold on this path too
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (arr.isNullAt(i)) return null
        i += 1
      }
      return arr
    }
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var m = 0 // logical size of out
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val s = arr.getUTF8String(i)
      if (m > 0 && out(m - 1).asInstanceOf[UTF8String].equals(p1) &&
        s.equals(p2)) {
        out(m - 1) = UTF8String.concat(p1, p2)
      } else {
        out(m) = s
        m += 1
      }
      i += 1
    }
    if (m == n) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    new FunctionIdentifier("bpe_merge"),
    new ExpressionInfo(classOf[BpeMerge].getName, "bpe_merge"),
    FunctionArity.expect("bpe_merge", 3)(c => BpeMerge(c(0), c(1), c(2))))
}
