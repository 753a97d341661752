package graft.queries

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** Scale lints over every registered query's physical plan. These encode
  * the plan-shape rules the engine is designed around (SURVEY §4): a
  * single-partition window over an unbounded input is the classic
  * serialize-the-corpus defect (r2's q35), so no query may plan one except
  * over a LIMIT-bounded subtree. */
class PlanLintSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** ONE plan construction per query, shared by every all-query lint:
    * building a query frame (some run eager fixture actions) plus its
    * AQE-initial physical plan is the dominant cost of this suite
    * (~10 min of the r17 sequential test wall), and the window lint and
    * the cartesian lint were each paying it for all 164 queries. */
  private lazy val allPlans: Seq[(String, SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> q(spark, sfDir).queryExecution.executedPlan
    }

  /** WindowExec nodes with an empty partition spec anywhere in the plan,
    * unless every row reaching them has already passed a LIMIT (a bounded
    * input makes the single partition harmless at any corpus size). */
  private def globalWindows(plan: SparkPlan): Seq[WindowExec] = {
    def boundedByLimit(p: SparkPlan): Boolean =
      p.toString.linesIterator.exists(l =>
        l.contains("GlobalLimit") || l.contains("TakeOrderedAndProject"))
    def walk(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case w: WindowExec if w.partitionSpec.isEmpty =>
        (if (boundedByLimit(w.child)) Nil else Seq(w)) ++
          w.children.flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    walk(plan)
  }

  test("every query declares exactly one of: an oracle, or a no-oracle reason") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val n = SparkEntry.noOracle.keySet
    assert((o intersect n).isEmpty,
      s"both oracle and no-oracle: ${(o intersect n).mkString(", ")}")
    assert((q diff (o union n)).isEmpty,
      s"undeclared queries: ${(q diff (o union n)).mkString(", ")}")
    assert(((o union n) diff q).isEmpty,
      s"declarations without a query: ${((o union n) diff q).mkString(", ")}")
  }

  // Queries with real write side effects are planned here too — planning
  // only forces analysis/physical planning, and at sf0.001 any action a
  // query runs eagerly while building is cheap.
  test("no query plans an unbounded single-partition window") {
    val offenders = allPlans.flatMap { case (name, plan) =>
      globalWindows(plan).map(w => s"$name: ${w.simpleStringWithNodeId()}")
    }
    assert(offenders.isEmpty,
      s"global windows found:\n${offenders.mkString("\n")}")
  }

  test("curation-path queries plan NO window at all (not even partitioned)") {
    // A partitionBy window is only scale-safe when the partition key is
    // high-cardinality; the curation operators' keys (source/lang,
    // quality band) are few by construction, so each window partition
    // would be a near-global single-task sort chain — the r6 Interleave
    // finding. The curate package is built on the two-pass range-
    // partition pattern instead, so its query plans must be window-FREE;
    // any WindowExec appearing here is a regression to the defect class.
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    // q97/q98/q99 (repetition metrics, span dedup, LM scoring) joined the
    // list in r7: each replaces the obvious window spelling (per-doc
    // row_number argmax, global prefix positions) with a partial-
    // aggregatable struct-min/max or a two-level min, so their plans must
    // also stay window-free.
    val curationQueries = Seq("q78_sequence_pack", "q81_corpus_shuffle",
      "q89_corpus_release", "q91_curriculum_interleave",
      "q97_repetition_filter", "q98_span_dedup", "q99_lm_score")
    val offenders = curationQueries.flatMap { name =>
      windows(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
        .map(w => s"$name: ${w.simpleStringWithNodeId()}")
    }
    assert(offenders.isEmpty,
      s"windows in curation plans:\n${offenders.mkString("\n")}")
  }

  test("span-dedup DEDUP exchanges carry no text; at most one exchange " +
      "ships the corpus words (q98)") {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    def exchanges(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    def carriesText(p: SparkPlan): Boolean = p.output.exists(a =>
      a.dataType == StringType || a.dataType == ArrayType(StringType) ||
        a.dataType == ArrayType(StringType, containsNull = true))
    val plan = SparkEntry.queries("q98_span_dedup")(spark, sfDir)
      .queryExecution.executedPlan
    val ex = exchanges(plan)
    assert(ex.nonEmpty, s"expected shuffle exchanges in q98:\n$plan")
    // the h-keyed winner aggregate's exchange must be text-free (16-byte
    // binary key + (doc, idx) struct only)
    val hEx = ex.filter(_.output.exists(_.name == "h"))
    assert(hEx.nonEmpty && hEx.forall(!carriesText(_)),
      s"span text leaked into a dedup exchange:\n${hEx.mkString("\n")}")
    // across the whole plan, at most one HASH exchange may carry the
    // corpus text (the reassembly join's base side, when keptIdx is not
    // broadcast). A RangePartitioning exchange is result delivery for
    // the query's orderBy and a RoundRobin one is the input fixture's
    // repartition — neither is a dedup exchange.
    val textEx = ex.filter(e =>
      e.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] &&
        carriesText(e))
    assert(textEx.size <= 1,
      s"more than one corpus-text dedup exchange:\n${textEx.mkString("\n")}")
  }

  test("semantic dedup ships each embedding through at most one exchange " +
      "and plans no window (q146)") {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def exchanges(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e +: e.children.flatMap(exchanges)
      case other => other.children.flatMap(exchanges)
    }
    def windows(p: SparkPlan): Seq[WindowExec] = p match {
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
      case w: WindowExec => w +: w.children.flatMap(windows)
      case other => other.children.flatMap(windows)
    }
    val plan = SparkEntry.queries("q146_semantic_dedup")(spark, sfDir)
      .queryExecution.executedPlan
    // the rank order is computed inside the SemDedupDrops kernel — a
    // WindowExec here is a regression to the per-cluster sort shuffle
    assert(windows(plan).isEmpty, s"q146 planned a window:\n$plan")
    // embeddings may cross exactly one HASH exchange: collected
    // per-cluster member buffers. (RoundRobin exchanges are the input
    // fixture's repartition, as in the q98 lint.) The pair-join spelling
    // this lint guards against shipped |cluster|² rows with TWO
    // embedding arrays each.
    def hasFloatArray(t: org.apache.spark.sql.types.DataType): Boolean =
      t match {
        case ArrayType(FloatType, _) => true
        case ArrayType(e, _) => hasFloatArray(e)
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.exists(f => hasFloatArray(f.dataType))
        case m: org.apache.spark.sql.types.MapType =>
          hasFloatArray(m.keyType) || hasFloatArray(m.valueType)
        case _ => false
      }
    val embEx = exchanges(plan).filter(e =>
      e.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] &&
        e.output.exists(a => hasFloatArray(a.dataType)))
    assert(embEx.size <= 1,
      s"embeddings cross ${embEx.size} exchanges:\n${embEx.mkString("\n")}")
  }

  test("no query plans an unhinted cartesian product") {
    // CartesianProductExec shuffles |left|×|right| — every intentional
    // cross join in the engine is broadcast (BroadcastNestedLoopJoin over
    // a bounded side) or a generator; a CartesianProduct anywhere is a
    // missing broadcast hint or a dropped join key.
    val offenders = allPlans.filter { case (_, plan) =>
      plan.toString.contains("CartesianProduct")
    }.map(_._1)
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("the x10 fact join broadcasts the dim side — the fact rows never shuffle (q64)") {
    val plan = SparkEntry.queries("q64_scale10_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side shuffled through a sort-merge join:\n$plan")
  }

  test("the x100 fact join broadcasts the dim side — the fact rows never shuffle (q87)") {
    // q87Pre: the join frame feeding the fused replicate+agg kernel
    val plan = graft.queries.RelationalQueries.q87Pre(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"q87 must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"q87 must not SMJ:\n$plan")
  }

  test("the x10 star join broadcasts every dim in the chain (q69)") {
    val plan = SparkEntry.queries("q69_scale10_region")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.split("BroadcastHashJoin").length - 1 >= 3,
      s"expected 3 broadcast joins in the supplier→nation→region chain:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side shuffled through a sort-merge join:\n$plan")
  }

  test("the bucketed x100 join is exchange- and sort-free below the join (q94)") {
    // Both sides read pre-bucketed on the join key: the shuffled-hash
    // join must consume bucket partitioning directly — any
    // ShuffleExchange BELOW the join means bucketing was not picked up
    // and the fact stream re-shuffled, and any Sort below it means the
    // strategy regressed to sort-merge (the measured-slower form at this
    // build-side size — BENCH_COMPARE.md round 10). The walk targets the
    // pre-replication join frame (q94Pre): the fused ReplicateAgg kernel
    // sits behind an RDD boundary, so the registered query's own
    // executedPlan no longer shows the join.
    val plan = graft.queries.RelationalQueries.q94Pre(spark, sfDir)
      .queryExecution.executedPlan
    def findJoin(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => findJoin(a.executedPlan)
      case s if s.nodeName.contains("ShuffledHashJoin") => Seq(s)
      case other => other.children.flatMap(findJoin)
    }
    val joins = findJoin(plan)
    assert(joins.nonEmpty, s"q94 must shuffled-hash join:\n$plan")
    assert(!joins.head.toString.contains("Exchange"),
      s"exchange below the bucketed join:\n${joins.head}")
    assert(!joins.head.toString.contains("Sort"),
      s"sort below the bucketed hash join:\n${joins.head}")
  }

  test("selective filters reach the parquet scan as data filters (q6)") {
    val plan = SparkEntry.queries("q6_revenue")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The plan string truncates long PushedFilters lists (no closing
    // bracket), so only anchor on the list start and the column name.
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate.*"),
      s"l_shipdate not pushed to the scan:\n$plan")
  }
}
