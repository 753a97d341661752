package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The as-of carry as a first-class operator: one streaming pass over
  * rows clustered by `keyCols` and sorted by (key, ts, side) that carries
  * the latest non-fact row's payload forward and emits each fact row
  * joined to it.
  *
  * Why a custom node instead of the window spelling
  * ([[graft.operators.AsofJoin.asofWindow]]): the carry is a running
  * `last` over an UNBOUNDED-PRECEDING frame — semantically a single
  * forward scan holding O(payload) state — but Spark's WindowExec cannot
  * know that and buffers every (key) group in a row store before
  * evaluating frames. Measured at the ×1000 as-of decade (~40M union
  * rows, ~26k rows/group, 2026-08-15; BENCH_COMPARE.md "As-of: fixture
  * prep separated from join work"): union+shuffle+sort floor 3.1 s,
  * window spelling 6.3 s (5.3 s with the group buffer
  * forced in-memory — the buffering itself, not spill, is the cost), so
  * the window machinery nearly DOUBLES the operator. This node pays the
  * floor plus a per-row constant: no group buffer, no frame evaluator,
  * state = one copied payload array.
  *
  * Semantics (exactly the window spelling's):
  *  - child rows hold `keyCols ++ (tsCol, sideCol) ++ payloadCols ++
  *    factCols` (flat — no struct tagging);
  *  - within a key (clustered + sorted, nulls-first ts so seed rows with
  *    null ts sort ahead of every real timestamp), a row with
  *    `side != 1` (dim = 0, bucket-carry seed = -1) REPLACES the carried
  *    payload values — unconditionally, matching `last(struct)` over
  *    dim-built structs: a dim row with all-null payload fields still
  *    counts as newer state;
  *  - a row with `side == 1` (fact) emits `factCols ++ carried payload`
  *    (nulls when the key has no dim at-or-before — the left-join
  *    contract). Ties on ts resolve by side: dim 0 < fact 1, so an
  *    equal-timestamp dim is visible ("at or before" includes equality).
  *
  * Scale shape: identical distribution requirements to the window form
  * (one hash exchange on the key, one in-partition sort — planned by
  * EnsureRequirements, AQE-coalesced like any exchange), strictly less
  * memory (no per-group row buffer ⇒ no window spill regime), and the
  * carry state is O(|payload|) per task regardless of key size — a hot
  * key degrades to a sequential scan of its rows, the inherent order
  * dependence of as-of, which [[graft.operators.AsofJoin.asofBucketed]]
  * splits by (key, bucket) using this same node. */
case class AsofCarry(keyCols: Seq[String], tsCol: String, sideCol: String,
    payloadCols: Seq[String], factCols: Seq[String],
    child: LogicalPlan) extends UnaryNode {
  private def attr(n: String): Attribute =
    child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"AsofCarry: no column $n in child"))
  override def output: Seq[Attribute] =
    factCols.map(attr) ++ payloadCols.map(n => attr(n).withNullability(true))
  /** The node holds column NAMES, so the expression-derived default is
    * empty — without this override ColumnPruning sees no references and
    * prunes the child's columns out from under the carry (bites the
    * moment a parent projects a subset, e.g. `asof(...).groupBy(key)`).
    * Every named column is consumed. */
  override def references
      : org.apache.spark.sql.catalyst.expressions.AttributeSet = {
    if (!childrenResolved)
      org.apache.spark.sql.catalyst.expressions.AttributeSet.empty
    else {
      val needed = (keyCols ++ Seq(tsCol, sideCol) ++ payloadCols ++
        factCols).toSet
      org.apache.spark.sql.catalyst.expressions.AttributeSet(
        child.output.filter(a => needed.contains(a.name)))
    }
  }
  override protected def withNewChildInternal(c: LogicalPlan): AsofCarry =
    copy(child = c)
}

case class AsofCarryExec(keyCols: Seq[String], tsCol: String,
    sideCol: String, payloadCols: Seq[String], factCols: Seq[String],
    child: SparkPlan) extends UnaryExecNode {

  private def attr(n: String): Attribute =
    child.output.find(_.name == n).get

  override def output: Seq[Attribute] =
    factCols.map(attr) ++ payloadCols.map(n => attr(n).withNullability(true))

  /** One hash exchange on the key — the same requirement WindowExec
    * states, so plans are identical up to the carry operator itself. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keyCols.map(attr)) :: Nil

  /** (key…, ts, side) ascending; Ascending defaults to NULLS FIRST, so
    * the bucketed form's null-ts seed rows precede every real row. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((keyCols.map(attr) :+ attr(tsCol) :+ attr(sideCol))
      .map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] = Nil

  /** Forward the child's partitioning when every attribute it references
    * survives into the output (the plain-asof case: the key IS a fact
    * column), so a downstream aggregate on the same key — `asof(...)
    * .groupBy(key)`, the standard enrichment-then-rollup composition —
    * reuses the carry's exchange instead of shuffling 1:1 again. The
    * bucketed form's `__b` key does NOT survive, so it falls back to
    * unknown partitioning rather than advertising dangling attributes. */
  override def outputPartitioning
      : org.apache.spark.sql.catalyst.plans.physical.Partitioning = {
    val outSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
    child.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
          if h.references.subsetOf(outSet) => h
      case _ => super.outputPartitioning
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val childOut = child.output
    def ord(n: String): Int = childOut.indexWhere(_.name == n)
    val kOrd = keyCols.map(ord).toArray
    val kTypes = kOrd.map(childOut(_).dataType)
    val sOrd = ord(sideCol)
    val pOrd = payloadCols.map(ord).toArray
    val pTypes = pOrd.map(childOut(_).dataType)
    val fOrd = factCols.map(ord).toArray
    val fTypes = fOrd.map(childOut(_).dataType)
    val nP = pOrd.length
    val nW = childOut.length
    // integral keys (the common case — ids, bucket numbers) compare as
    // primitive longs, no per-row boxing
    val fastKeys = kTypes.forall(t => t == LongType || t == IntegerType)
    child.execute().mapPartitions({ it =>
      // The emitted row is projected STRAIGHT out of a JoinedRow(input
      // row, carry row): the unsafe projection copies all bytes out of
      // the source buffers immediately (before the next input row reuses
      // them), so fact values need no copyValue and the hot loop
      // allocates nothing per row — the ProjectExec pattern. Only dim
      // payload values are copied (they persist across input rows).
      val proj = UnsafeProjection.create(
        fOrd.map(i => BoundReference(i, childOut(i).dataType,
          childOut(i).nullable)) ++
        pOrd.indices.map(j => BoundReference(nW + j, pTypes(j),
          nullable = true)))
      val carry = new Array[Any](nP)
      val carryRow = new GenericInternalRow(carry) // wraps by reference
      val nullRow = new GenericInternalRow(nP)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        private var haveKey = false
        private var haveDim = false
        private val curKeyL = new Array[Long](kOrd.length)
        private val curKeyNull = new Array[Boolean](kOrd.length)
        private var curKey: Array[Any] = null
        private var pending: InternalRow = null

        private def keyChanged(row: InternalRow): Boolean = {
          if (!haveKey) return true
          var i = 0
          if (fastKeys) {
            while (i < kOrd.length) {
              val n = row.isNullAt(kOrd(i))
              if (n != curKeyNull(i)) return true
              if (!n) {
                val v = if (kTypes(i) == LongType) row.getLong(kOrd(i))
                        else row.getInt(kOrd(i)).toLong
                if (v != curKeyL(i)) return true
              }
              i += 1
            }
          } else {
            while (i < kOrd.length) {
              val v = if (row.isNullAt(kOrd(i))) null
                      else row.get(kOrd(i), kTypes(i))
              if (!java.util.Objects.equals(v, curKey(i))) return true
              i += 1
            }
          }
          false
        }

        private def storeKey(row: InternalRow): Unit = {
          haveKey = true
          var i = 0
          if (fastKeys) {
            while (i < kOrd.length) {
              curKeyNull(i) = row.isNullAt(kOrd(i))
              if (!curKeyNull(i))
                curKeyL(i) = if (kTypes(i) == LongType) row.getLong(kOrd(i))
                             else row.getInt(kOrd(i)).toLong
              i += 1
            }
          } else {
            curKey = new Array[Any](kOrd.length)
            while (i < kOrd.length) {
              curKey(i) = if (row.isNullAt(kOrd(i))) null
                else InternalRow.copyValue(row.get(kOrd(i), kTypes(i)))
              i += 1
            }
          }
        }

        private def fetch(): Unit = {
          while (pending == null && it.hasNext) {
            val row = it.next()
            if (keyChanged(row)) {
              storeKey(row)
              haveDim = false
            }
            if (row.getInt(sOrd) != 1) { // dim / seed: replace state
              var i = 0
              while (i < nP) {
                carry(i) = if (row.isNullAt(pOrd(i))) null
                  else InternalRow.copyValue(row.get(pOrd(i), pTypes(i)))
                i += 1
              }
              haveDim = true
            } else { // fact: emit with carried payload
              pending = proj(joined(row, if (haveDim) carryRow else nullRow))
            }
          }
        }

        override def hasNext: Boolean = { fetch(); pending != null }
        override def next(): InternalRow = {
          fetch()
          val r = pending; pending = null; r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): AsofCarryExec =
    copy(child = c)
}

/** Plans [[AsofCarry]] → [[AsofCarryExec]] and [[AsofMerge]] →
  * [[AsofMergeExec]]. Injected by [[graft.functions.GraftExtensions]],
  * so every session built with the engine's extensions plans both nodes
  * without per-session setup. */
object AsofCarryStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofCarry(k, t, s, p, f, child) =>
      AsofCarryExec(k, t, s, p, f, planLater(child)) :: Nil
    case AsofMerge(k, t, p, f, dims, facts) =>
      AsofMergeExec(k, t, p, f, planLater(dims), planLater(facts)) :: Nil
    case _ => Nil
  }
}
