package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.plans.AsofCarry

/** As-of (point-in-time) join — the CDC-lake companion query: attach to
  * each fact row the LATEST state of its dimension key at-or-before the
  * fact's timestamp ("what did this row look like when the event
  * happened"). Spark has no native ASOF JOIN; the usual range-join
  * spelling explodes to |facts|×|dim versions| per key before filtering.
  * This one is the union–carry-forward form: tag both sides, cluster by
  * key and sort by (ts, side) with dims first on ties ("at or before"
  * includes equal timestamps), and carry the last dim payload forward —
  * one shuffle on the key, one per-key sorted pass, NO pair blow-up.
  *
  * The carry itself runs as the custom streaming operator
  * [[graft.plans.AsofCarry]] (flat columns, O(payload) state, no group
  * buffering) rather than a window: `last(...) over (unbounded
  * preceding)` is semantically one forward scan, but WindowExec buffers
  * every key group in a row store first — measured at the ×1000 as-of
  * decade as ~2× the whole operator (floor 3.1 s, window 6.3 s, carry
  * ≈ floor; BENCH_COMPARE.md round 13, as-of). [[asofWindow]] keeps
  * the pure-DataFrame spelling as the A/B baseline and semantic
  * cross-check (AsofJoinSpec pins equality).
  *
  * Scale shape: a key-clustered sorted pass, scale-safe when the key is
  * high-cardinality (users/rows — the CDC case). A handful of giant keys
  * degrade to per-key sequential scans — the inherent order dependence of
  * as-of semantics; for that regime [[asofBucketed]] pre-buckets by
  * (key, coarse time range) with per-bucket carry-in state, so a hot
  * key's timeline parallelizes across its buckets.
  *
  * Determinism contract: at most ONE dim row per (key, ts) — pre-collapse
  * duplicates (e.g. `max(struct(...))` by a unique column) or the carried
  * state is sort-order dependent.
  *
  * Session contract: the carry and merge nodes are planned by
  * [[graft.plans.AsofCarryStrategy]], which [[graft.functions.GraftExtensions]]
  * injects — the session must carry those extensions (every
  * [[graft.GraftSession]] session and its `newSession()` siblings do).
  * [[asofWindow]] is stock operators only and runs anywhere.
  */
object AsofJoin {

  /** The flat tagged union both forms share: the SHARED `keyCol`/`tsCol`
    * (real values on both sides — the contract requires both frames to
    * carry them, so no `__k`/`__ts` duplicates widen the shuffle) ++
    * `__side` ++ payload columns (null on the fact side) ++ the
    * remaining fact columns (null on the dim side). No struct wrapping —
    * the structs of the previous spelling existed only so a window
    * `last` could carry one value; the carry operator handles column
    * sets natively, and flat rows scan/shuffle/sort measurably
    * narrower. */
  private def tagged(facts: DataFrame, dims: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String],
      bucket: Option[Column => Column]): DataFrame = {
    val factSchema = facts.schema
    val payloadFields = dims.select(payloadCols.map(col): _*).schema
    val restCols = facts.columns.filter(c => c != keyCol && c != tsCol)
    val bucketCol = bucket.map(b => b(col(tsCol)).as("__b")).toSeq
    val dimSel = Seq(col(keyCol), col(tsCol)) ++ bucketCol ++
      Seq(lit(0).as("__side")) ++ payloadCols.map(col) ++
      restCols.map(c => lit(null).cast(factSchema(c).dataType).as(c))
    val factSel = Seq(col(keyCol), col(tsCol)) ++ bucketCol ++
      Seq(lit(1).as("__side")) ++
      payloadFields.map(f => lit(null).cast(f.dataType).as(f.name)) ++
      restCols.map(c => col(c))
    dims.select(dimSel: _*).unionByName(facts.select(factSel: _*))
  }

  private def carry(df: DataFrame, keys: Seq[String], tsCol: String,
      payloadCols: Seq[String], factCols: Seq[String]): DataFrame = {
    ColumnBridge.ofRows(df.sparkSession,
      AsofCarry(keys, tsCol, "__side", payloadCols, factCols,
        ColumnBridge.logicalPlan(df)))
  }

  /** The bucket count when `df` is a narrow chain (subquery alias /
    * filter / projection that passes `keyCol` through untouched) over ONE
    * catalog scan bucketed on exactly `keyCol`. This is the layout
    * [[graft.sql.QueryEngine.saveBucketed]] writes — the detection that
    * lets [[asof]] plan the zero-exchange merge without the caller
    * knowing the table's history. Conservative by construction: any
    * unrecognized operator (aggregate, join, a projection that computes
    * the key) returns None and [[asof]] keeps the carry form. */
  private[graft] def bucketCountOn(df: DataFrame, keyCol: String)
      : Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def walk(p: LogicalPlan): Option[Int] = p match {
      case SubqueryAlias(_, c) => walk(c)
      case Filter(_, c)        => walk(c)
      case Project(exprs, c) if exprs.exists {
          case a: AttributeReference => a.name == keyCol
          case _                     => false
        } => walk(c)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.bucketSpec.collect {
          case spec if spec.bucketColumnNames == Seq(keyCol) =>
            spec.numBuckets
        }
        case _ => None
      }
      case _ => None
    }
    walk(df.queryExecution.analyzed)
  }

  /** Left as-of join: every fact row survives; `payloadCols` (from `dims`)
    * arrive null when the key has no dim version at-or-before the fact.
    * `facts` and `dims` must both have `keyCol` + `tsCol`; payload names
    * must not collide with fact column names.
    *
    * LAYOUT DETECTION (r13 verdict): when BOTH inputs are scans of
    * tables bucketed on `keyCol` with the same bucket count — the
    * ingest-paid layout [[graft.sql.QueryEngine.saveBucketed]] writes —
    * this call plans [[asofMerge]] automatically (zero exchanges; zero
    * sorts too when the in-bucket (key, ts) sort is visible — the
    * 0.65×-of-DuckDB path, m_asof_merge_x1000) instead of requiring the
    * caller to know the tables' write history. Anything else falls back
    * to the union-carry form (measured a WASH against merge on raw
    * inputs, and the only form that tolerates arbitrary upstream plans).
    * Output, tie semantics, and determinism contract are identical
    * either way (AsofJoinSpec pins both). */
  def asof(facts: DataFrame, dims: DataFrame, keyCol: String, tsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one payload column")
    val bucketed = for {
      nf <- bucketCountOn(facts, keyCol)
      nd <- bucketCountOn(dims, keyCol) if nf == nd
    } yield nf
    if (bucketed.isDefined) asofMerge(facts, dims, keyCol, tsCol, payloadCols)
    else carry(tagged(facts, dims, keyCol, tsCol, payloadCols, None),
      Seq(keyCol), tsCol, payloadCols, facts.columns.toSeq)
  }

  /** MERGE as-of join ([[graft.plans.AsofMerge]]) — identical output to
    * [[asof]] (spec-pinned), but dims and facts stay SEPARATE children,
    * each clustered by the key and sorted by (key, ts), merged in one
    * co-partitioned pass. This is the ingest-paid-layout form: when
    * both inputs are bucket-written on the key with an in-bucket
    * (key, ts) sort — q94's co-location story applied to as-of — the
    * plan is scan → merge with ZERO exchanges and ZERO sorts
    * (AsofJoinSpec pins the plan on bucketed tables). On raw inputs
    * EnsureRequirements plans one exchange + sort per side — measured a
    * WASH against [[asof]]'s union form at the ×1000 decade
    * (2026-08-15: merge_raw 4.26 s vs carry 4.26 s; the
    * narrower un-tagged rows buy back exactly what the second exchange
    * costs), so [[asof]] stays the default for un-laid-out inputs and
    * THIS form is the layout consumer (0.91 s on bucket-sorted tables —
    * 1.5× FASTER than single-node DuckDB's native ASOF on the same
    * rows, because the ingest paid the sort once). Same determinism
    * contract. */
  def asofMerge(facts: DataFrame, dims: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one payload column")
    val dimSide = dims.select((keyCol +: tsCol +: payloadCols)
      .map(col): _*)
    ColumnBridge.ofRows(facts.sparkSession,
      graft.plans.AsofMerge(Seq(keyCol), tsCol, payloadCols,
        facts.columns.toSeq,
        ColumnBridge.logicalPlan(dimSide),
        ColumnBridge.logicalPlan(facts)))
  }

  /** The pure-DataFrame window spelling of [[asof]] — identical output
    * (AsofJoinSpec pins it), kept as the A/B baseline for the carry
    * operator and for callers that must stay on stock operators. */
  def asofWindow(facts: DataFrame, dims: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one payload column")
    val factStruct = struct(facts.columns.map(col): _*)
    val payloadStruct = struct(payloadCols.map(col): _*)
    val payloadType = dims.select(payloadStruct).schema.head.dataType
    val factType = facts.select(factStruct).schema.head.dataType
    val dimSide = dims.select(
      col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(0).as("__side"),
      payloadStruct.as("__p"), lit(null).cast(factType).as("__f"))
    val factSide = facts.select(
      col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(1).as("__side"),
      lit(null).cast(payloadType).as("__p"), factStruct.as("__f"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = dimSide.union(factSide)
      .withColumn("__state", last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
    carried.select(
      facts.columns.map(c => col(s"__f.$c").as(c)) ++
        payloadCols.map(c => col(s"__state.$c").as(c)): _*)
  }

  /** [[asof]] for SKEWED keys: one entity holding millions of dim versions
    * would serialize [[asof]]'s key-clustered sorted pass onto one task.
    * Here the timeline is pre-bucketed by `bucket(ts)` — any expression
    * MONOTONIC in the timestamp (e.g. `ts div width`, a date truncation) —
    * and the sorted pass runs per (key, bucket), so a hot key spreads over
    * as many tasks as it spans buckets. Same result as [[asof]], same
    * determinism contract, plus: `tsCol` must be non-null on both sides
    * (the in-bucket seed row sorts via a null timestamp).
    *
    * Two-level construction (both levels carry-forward, never a pair
    * blow-up):
    *  1. BUCKET level: collapse dims to their latest payload per
    *     (key, bucket) — a partial-agg'd groupBy — then carry that
    *     forward over each key's BUCKET sequence (rows per key = distinct
    *     buckets, small by construction) with facts sorting BEFORE dims
    *     on a tied bucket, yielding each fact-bucket's carry-in: the
    *     key's latest payload from any STRICTLY earlier bucket.
    *  2. ROW level: within each (key, bucket) partition, seed the
    *     [[graft.plans.AsofCarry]] pass with that carry-in (a synthetic
    *     side = -1 row whose null timestamp sorts first), so in-bucket
    *     facts see earlier-bucket state without scanning it. */
  def asofBucketed(facts: DataFrame, dims: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String],
      bucket: Column => Column): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one payload column")
    val payloadFields = dims.select(payloadCols.map(col): _*).schema
    val factSchema = facts.schema
    val restCols = facts.columns.filter(c => c != keyCol && c != tsCol)
    val base = tagged(facts, dims, keyCol, tsCol, payloadCols, Some(bucket))

    // ---- bucket level: latest dim payload per (key, bucket)…
    val dimB = dims
      .select(col(keyCol).as("__k"), bucket(col(tsCol)).as("__b"),
        col(tsCol).as("__ts"),
        struct(payloadCols.map(col): _*).as("__p"))
      .groupBy(col("__k"), col("__b"))
      .agg(max_by(col("__p"), col("__ts")).as("__p"))
    // …carried forward over the key's bucket sequence. Facts sort BEFORE
    // dims on a tied bucket (__bside 0 < 1): the carry-in must hold only
    // STRICTLY-earlier-bucket state — same-bucket dims are re-examined at
    // row level, where the at-or-before tie rule applies.
    val factB = base.where(col("__side") === 1)
      .select(col(keyCol).as("__k"), col("__b")).distinct()
    val payloadStructType = dimB.schema("__p").dataType
    val wB = Window.partitionBy(col("__k"))
      .orderBy(col("__b"), col("__bside"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carryIn = dimB
      .select(col("__k"), col("__b"), lit(1).as("__bside"), col("__p"))
      .unionByName(factB.select(col("__k"), col("__b"),
        lit(0).as("__bside"), lit(null).cast(payloadStructType).as("__p")))
      .withColumn("__carry", last(col("__p"), ignoreNulls = true).over(wB))
      .where(col("__bside") === 0 && col("__carry").isNotNull)

    // ---- row level: per-(key, bucket) streaming carry, seeded with the
    // carry-in (null ts + nulls-first ordering ⇒ the seed sorts before
    // every real row; side -1 updates state like a dim)
    val seeds = carryIn.select(Seq(col("__k").as(keyCol),
      lit(null).cast(base.schema(tsCol).dataType).as(tsCol), col("__b"),
      lit(-1).as("__side")) ++
      payloadFields.map(f => col(s"__carry.${f.name}").as(f.name)) ++
      restCols.map(c =>
        lit(null).cast(factSchema(c).dataType).as(c)): _*)
    carry(base.unionByName(seeds), Seq(keyCol, "__b"), tsCol, payloadCols,
      facts.columns.toSeq)
  }
}
