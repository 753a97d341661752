package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Intersection of two SORTED arrays by a single merge scan — the hot
  * kernel of the triangle count's edge-iterator form, where every
  * oriented edge (u,v) intersects its endpoints' out-neighbor arrays.
  *
  * `array_intersect` has the same set semantics but builds a hash set
  * from one side PER ROW (an allocation + O(|a|) inserts every call);
  * over the 10⁸ candidate scale of a dense co-occurrence graph that is
  * measured GC churn (2026-08-19, the q166/q168 shape;
  * OPTIMIZATION_r16.md §1). This expression walks both arrays once with
  * two cursors — zero per-row scratch beyond the result — and
  * participates in whole-stage codegen.
  *
  * CONTRACT: both inputs sorted ascending with DISTINCT, NON-NULL
  * elements — exactly what `sort_array(collect_list(x))` over a
  * duplicate-free null-free source produces. Under that contract the
  * result is bit-identical to `array_intersect(a, b)` (which preserves
  * left-occurrence order = ascending order here, deduplicated = already
  * distinct). Unsorted input silently yields wrong intersections, so
  * callers build both arrays with `sort_array` in the SAME plan.
  * Element types: int, long, string (graph node id types); a null array
  * input gives null (standard BinaryExpression semantics).
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = left.dataType

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if lt == rt &&
          (lt == IntegerType || lt == LongType || lt == StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          "sorted_intersect expects two arrays of the same int/long/string" +
            s" element type, got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    elemType match {
      case LongType    => SortedIntersect.longs(x, y)
      case IntegerType => SortedIntersect.ints(x, y)
      case StringType  => SortedIntersect.strings(x, y)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val fn = elemType match {
      case LongType    => "longs"
      case IntegerType => "ints"
      case StringType  => "strings"
    }
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersect.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect"
}

object SortedIntersect {

  def longs(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val out = new Array[Long](if (na < nb) na else nb)
    var i = 0; var j = 0; var k = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { out(k) = x; k += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  def ints(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val out = new Array[Int](if (na < nb) na else nb)
    var i = 0; var j = 0; var k = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { out(k) = x; k += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (k == out.length) out else java.util.Arrays.copyOf(out, k))
  }

  def strings(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val out = new Array[Any](if (na < nb) na else nb)
    var i = 0; var j = 0; var k = 0
    while (i < na && j < nb) {
      val x = a.getUTF8String(i); val y = b.getUTF8String(j)
      val c = x.compareTo(y)
      if (c == 0) { out(k) = x; k += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    new GenericArrayData(
      if (k == out.length) out
      else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], k)
        .asInstanceOf[Array[Any]])
  }
}
