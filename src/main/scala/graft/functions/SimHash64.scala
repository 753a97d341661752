package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** SimHash-64 over a token array as a native Catalyst expression: each token
  * is xxHash64'd; every hash votes ±1 on each of 64 bit positions; the
  * result sets the bits with positive balance. Near-identical token
  * multisets land within a few bits of Hamming distance, so near-dup
  * candidate generation becomes a groupBy on hash prefixes/bands instead of
  * any pairwise work.
  *
  * A custom `Expression` (not a Scala UDF) keeps the operator inside
  * Tungsten rows — no SerDe per row, null handling from `UnaryExpression`,
  * and the same deterministic value on every engine/partition. Token
  * hashing reuses Spark's own XxHash64Function so the bits match
  * `xxhash64()` semantics.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 expects array<string>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  /** Whole-stage codegen: emit a call to the static kernel instead of the
    * interpreted-eval fallback, so a simhash projection stays inside the
    * same generated loop as the tokenizer feeding it (r2's one
    * CodegenFallback seam in the text pipeline). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** The per-row kernel, shared verbatim by interpreted eval and generated
    * code (JIT-friendly static call). Token hashing reuses Spark's own
    * XxHash64Function so the bits match `xxhash64()` semantics. */
  def compute(arr: ArrayData): Long = {
    val balance = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) balance(b) += 1 else balance(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (balance(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
