package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `simhash64(text)` — the full 64-bit SimHash signature of a document
  * in ONE per-row expression, returned as 4×16-bit chunk values
  * (`array<bigint>`, index = chunk_idx) ready for pigeonhole banding.
  *
  * Algorithm (bit-for-bit the q32 composite pipeline and its DuckDB
  * oracle; equivalence is spec-asserted against
  * `TextQueries.simhashSig`):
  *   tokens   = split(lower(text), ' ')            (empties kept)
  *   NULL when fewer than 3 tokens                 (matches the filter)
  *   shingles = DISTINCT 3-gram word shingles joined by ' '
  *   votes    = per bit b: ones_b = Σ over shingles of hex-nibble bit
  *              ((nibble b/4 of md5 hex) >> (3 − b%4)) & 1
  *   chunk c bit k set  ⟺  2·ones_{16c+k} > n_shingles
  *
  * Why a native expression: the composite computes signatures with an
  * explode + DISTINCT + 64-aggregate groupBy — i.e. it SHUFFLES every
  * shingle row (28M rows at sf0.1 pre-dedup) to build a per-doc
  * signature. This expression computes the signature inside the scan
  * stage — map-only, zero shuffle, no 64-column aggregate to codegen —
  * which is the shape you want when the corpus is 100 TB: signature
  * extraction becomes embarrassingly parallel and the only shuffled
  * data is the tiny (doc_id, chunk) table. Same preference-order
  * rationale as `dotq`/`rolling_min_md5`: a tight primitive loop with a
  * reused digest object beats interpreted lambda/aggregate machinery in
  * the innermost loop.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // NULL is also produced for non-null inputs with < 3 tokens.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(t: Any): Any =
    SimHash64.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SimHash64.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, t => s"""
      ${ev.value} = $cls.compute($t);
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  /** One pass per document; digest object reused across shingles. */
  def compute(text: UTF8String): ArrayData = {
    // toLowerCase + regex-split(" ", -1) replicate Spark's
    // lower()/split() SQL semantics (trailing empties kept, same as the
    // DuckDB oracle's string_split).
    val toks = text.toLowerCase.toString.split(" ", -1)
    if (toks.length < 3) return null
    val seen = new java.util.HashSet[String]()
    val ones = new Array[Int](64)
    var n = 0
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i + 2 < toks.length) {
      val sh = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
      if (seen.add(sh)) {
        n += 1
        md.reset()
        val d = md.digest(sh.getBytes(StandardCharsets.UTF_8))
        var b = 0
        while (b < 64) {
          val j = b >> 2 // hex-nibble index 0..15
          val nib =
            if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xF
            else d(j >> 1) & 0xF
          ones(b) += (nib >> (3 - (b & 3))) & 1
          b += 1
        }
      }
      i += 1
    }
    val chunks = new Array[Long](4)
    var c = 0
    while (c < 4) {
      var v = 0L
      var k = 0
      while (k < 16) {
        if (2 * ones(c * 16 + k) > n) v |= 1L << k
        k += 1
      }
      chunks(c) = v
      c += 1
    }
    new GenericArrayData(chunks)
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) = (
    new FunctionIdentifier("simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
    FunctionArity.expect("simhash64", 1)(c => SimHash64(c(0))))
}
