package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Optimizer rule: route eligible `sum(decimal)` aggregates through long
  * fixed-point arithmetic.
  *
  * Spark's decimal Sum leaves the long-backed representation as soon as the
  * accumulator precision passes 18 (every `sum(decimal)` does — the result
  * type adds 10 digits), and per-row decimal multiplies allocate
  * BigDecimals. When the operands have FIXED scale, the identical rational
  * value is computable on unscaled longs: per row, extract the unscaled
  * integer of each fixed-scale operand, combine with long `*`/`-`/`+`
  * (scales add under multiplication), sum the longs, and rescale ONCE per
  * group through an exact decimal divide before the final double cast —
  * the rewrite [[graft.ops.AggOps.fixedPointSum]] offers as a library call,
  * applied automatically so an unmodified `sum(col.cast("decimal")) .cast
  * ("double")` DataFrame/SQL query plans the long path (measured 3× on the
  * ×100 pricing bench, q79 vs q75).
  *
  * Scope guard — the rewrite fires only on the exact shape
  * `Cast(Sum(decimalExpr) AS DOUBLE)` inside an [[Aggregate]]:
  *   - the final double cast means the query wants the rational VALUE, not
  *     a decimal-typed result, so the unscaled-long detour is observably
  *     identical: both paths compute the exact sum then round once to
  *     double (`BigDecimal.doubleValue` on the same rational).
  *   - `decimalExpr` must decompose into fixed-scale leaves (precision
  *     ≤ 18, so the unscaled value is long-backed) combined by `*`, `+`,
  *     `-`; the combined precision must stay ≤ [[MaxPrecision]] so the
  *     per-row long product cannot wrap (10^18 < 2^63).
  *   - DISTINCT and FILTER aggregates, and float/double sums (order-
  *     sensitive) are left alone.
  *
  * Overflow contract: per-row values are bounded by the precision guard;
  * the long ACCUMULATOR can absorb ≥ 2^63/10^p rows per group before
  * overflow, and under ANSI mode (Spark 4 default) an overflow raises
  * loudly — never a silent wrap — exactly the [[graft.ops.AggOps]]
  * contract. The original decimal path has ~20 more digits of accumulator
  * headroom; callers with per-group sums beyond 9.2e18 unscaled units can
  * disable the rule with `spark.graft.decimalFastPath=false`.
  */
object DecimalSumFastPath extends Rule[LogicalPlan] {

  /** Combined-precision cap for the per-row long expression. 18 ⇒ the
    * product is provably < 10^18 < 2^63 even for adversarial values; 19
    * admits the common price×(1−discount) shape (12+7 digits) where only
    * ANSI's loud multiply-overflow check guards the last factor-of-9
    * headroom. */
  private val MaxPrecision = 19

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.decimalFastPath", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case agg: Aggregate =>
        agg.transformExpressions {
          case c @ Cast(
                ae @ AggregateExpression(
                  Sum(e, _), _, /* isDistinct = */ false, None, _),
                DoubleType, _, _) if e.dataType.isInstanceOf[DecimalType] =>
            unscaled(e) match {
              case Some((longExpr, scale, _)) if scale <= MaxExactScale =>
                rescaled(ae, longExpr, scale, c)
              case _ => c
            }
          // decimal-typed result (no double cast): rescale back to the
          // original Sum result type — exact for scale ≤ 6, so plain
          // `SELECT SUM(decimal_col)` gets the long path too
          case ae @ AggregateExpression(
                Sum(e, _), _, /* isDistinct = */ false, None, _)
              if e.dataType.isInstanceOf[DecimalType] =>
            unscaled(e) match {
              case Some((longExpr, scale, _)) if scale <= MaxExactScale =>
                rescaledToDecimal(ae, longExpr, scale)
              case _ => ae
            }
        }
    }
  }

  /** Spark caps decimal precision at 38 and, under precision loss, cuts a
    * divide's result scale to 6 — so the `sum(long)/10^s` rescale is only
    * EXACT for s ≤ 6. Larger scales stay on the native decimal path. */
  private val MaxExactScale = 6

  /** `(longExpr, scale, precision)` such that `longExpr = e · 10^scale`
    * exactly and `|longExpr| < 10^precision`, or None when `e` does not
    * decompose into fixed-scale long-backed arithmetic. */
  private def unscaled(e: Expression): Option[(Expression, Int, Int)] =
    e match {
      case Multiply(a, b, mode)
          if a.dataType.isInstanceOf[DecimalType] &&
            b.dataType.isInstanceOf[DecimalType] =>
        for {
          (la, sa, pa) <- unscaled(a)
          (lb, sb, pb) <- unscaled(b)
          if pa + pb <= MaxPrecision
        } yield (Multiply(la, lb, mode), sa + sb, pa + pb)
      case Add(a, b, mode) if sameScaleDecimals(a, b) =>
        for {
          (la, sa, pa) <- unscaled(a)
          (lb, _, pb) <- unscaled(b)
          if math.max(pa, pb) + 1 <= MaxPrecision
        } yield (Add(la, lb, mode), sa, math.max(pa, pb) + 1)
      case Subtract(a, b, mode) if sameScaleDecimals(a, b) =>
        for {
          (la, sa, pa) <- unscaled(a)
          (lb, _, pb) <- unscaled(b)
          if math.max(pa, pb) + 1 <= MaxPrecision
        } yield (Subtract(la, lb, mode), sa, math.max(pa, pb) + 1)
      case UnaryMinus(a, failOnError) if a.dataType.isInstanceOf[DecimalType] =>
        unscaled(a).map { case (la, sa, pa) =>
          (UnaryMinus(la, failOnError), sa, pa)
        }
      case Literal(d: Decimal, dt: DecimalType) if dt.precision <= 18 =>
        Some((Literal(d.toUnscaledLong), dt.scale, dt.precision))
      // Hot leaf: an ANSI double→decimal cast fuses into the allocation-
      // free [[graft.functions.UnscaledFixed]] kernel (bit-identical by
      // its contract; ANSI-only because its overflow path throws, matching
      // ANSI cast — the null-on-overflow legacy cast stays on Spark's).
      case Cast(child, dt: DecimalType, _, EvalMode.ANSI)
          if child.dataType == DoubleType && dt.precision <= 18 =>
        Some((graft.functions.UnscaledFixed(child, dt.precision, dt.scale),
          dt.scale, dt.precision))
      // Leaf: any long-backed decimal (precision ≤ 18) — attribute, cast,
      // whatever. UnscaledValue reads the backing long directly, so the
      // conversion semantics (including overflow/rounding of an enclosing
      // Cast) stay Spark's own.
      case leaf =>
        leaf.dataType match {
          case dt: DecimalType if dt.precision <= 18 =>
            Some((UnscaledValue(leaf), dt.scale, dt.precision))
          case _ => None
        }
    }

  /** `cast(cast(sum(longExpr) as decimal(38,0)) / 10^scale as double)` —
    * the same tree [[graft.ops.AggOps.fixedPointSum]] builds through the
    * Column API (verified against q79's analyzed plan), reusing the
    * original AggregateExpression's mode/resultId so references upstream
    * stay valid. */
  private def rescaled(ae: AggregateExpression, longExpr: Expression,
      scale: Int, original: Cast): Expression = {
    val longSum = ae.copy(aggregateFunction =
      ae.aggregateFunction.asInstanceOf[Sum].copy(child = longExpr))
    if (scale == 0) {
      original.copy(child = longSum)
    } else {
      val pow = Decimal(java.math.BigDecimal.TEN.pow(scale))
      val divide = Divide(
        Cast(longSum, DecimalType(38, 0), None, original.evalMode),
        Literal(pow, DecimalType(pow.precision, 0)),
        original.evalMode)
      original.copy(child = divide)
    }
  }

  /** Decimal-result form: `cast(cast(sum(longExpr) as decimal(38,0)) /
    * 10^scale as <original sum type>)`. The divide result (scale ≥ 6 ≥
    * `scale`) holds the exact rational, and the final cast back to
    * `sum(decimal)`'s own result type (scale = `scale`) is exact because
    * the value has at most `scale` fractional digits. */
  private def rescaledToDecimal(ae: AggregateExpression, longExpr: Expression,
      scale: Int): Expression = {
    val longSum = ae.copy(aggregateFunction =
      ae.aggregateFunction.asInstanceOf[Sum].copy(child = longExpr))
    val mode = EvalMode.fromSQLConf(SQLConf.get)
    if (scale == 0) {
      Cast(longSum, ae.dataType, None, mode)
    } else {
      val pow = Decimal(java.math.BigDecimal.TEN.pow(scale))
      val divide = Divide(
        Cast(longSum, DecimalType(38, 0), None, mode),
        Literal(pow, DecimalType(pow.precision, 0)),
        mode)
      Cast(divide, ae.dataType, None, mode)
    }
  }

  private def sameScaleDecimals(a: Expression, b: Expression): Boolean =
    (a.dataType, b.dataType) match {
      case (da: DecimalType, db: DecimalType) => da.scale == db.scale
      case _ => false
    }
}
