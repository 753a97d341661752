package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** The analyst SQL surface over the lake (SURVEY.md §2.7): the reference
  * hands analysts full Presto SQL via Athena; here the same capability is
  * the DataFrame API + `spark.sql` over registered tables. These queries
  * exercise scans, filters, joins (broadcast + shuffle), aggregations,
  * windows, semi/anti joins, rollups, and top-k — each with a DuckDB oracle
  * in [[graft.SparkEntry.oracleSql]].
  *
  * Numeric determinism: double-typed measures are cast to exact decimals
  * BEFORE aggregation, summed exactly, and cast back to double at the end —
  * so Spark and the DuckDB oracle produce bit-identical doubles regardless
  * of summation order. This is also the right call at 100 TB: money-typed
  * aggregates in floating point drift with partition count.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val dec12_2 = DecimalType(12, 2)
  private val dec6_4  = DecimalType(6, 4)

  /** TPC-H Q1-style pricing summary: full-scan groupBy aggregation with
    * map-side partial aggregation. Scale note: partial agg means the shuffle
    * carries |groups| rows per partition, not data rows. */
  def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val dq = col("l_quantity").cast(dec12_2)
    val dp = col("l_extendedprice").cast(dec12_2)
    val dd = col("l_discount").cast(dec6_4)
    val dt = col("l_tax").cast(dec6_4)
    val one = lit(1).cast(dec6_4)
    li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dq).cast("double").as("sum_qty"),
        sum(dp).cast("double").as("sum_base_price"),
        sum(dp * (one - dd)).cast("double").as("sum_disc_price"),
        sum(dp * (one - dd) * (one + dt)).cast("double").as("sum_charge"),
        (sum(dq).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dp).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1PricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q62
  /** q1's pricing aggregation over a ×10 replicated lineitem — the bench's
    * same-scale evidence that per-query fixed overhead (task scheduling,
    * codegen) washes out as data grows: at the driver's sf0.1 this
    * processes an sf1-equivalent ~6M rows, and the identical SQL makes
    * DuckDB do the same ×10 work. Replica id joins the group keys so
    * neither engine can collapse the expansion. The replication is a
    * GENERATOR over a literal array ([[graft.ops.Replicate]]), not a
    * broadcast nested-loop join: GenerateExec stays inside the scan's
    * whole-stage-codegen pipeline, while BNLJ breaks it and
    * re-materializes every joined row (measured ~2× slower here), and
    * the literal array beats `explode(sequence(...))`'s per-row array
    * materialization (~0.07 s / 60M generated rows). */
  def q62Scale10Pricing(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val dq = col("l_quantity").cast(dec12_2)
    val dp = col("l_extendedprice").cast(dec12_2)
    val dd = col("l_discount").cast(dec6_4)
    val one = lit(1).cast(dec6_4)
    li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .withColumn("rep", graft.ops.Replicate.rep(10))
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("rep"))
      .agg(
        sum(dq).cast("double").as("sum_qty"),
        sum(dp * (one - dd)).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus", "rep")
  }

  val q62Scale10PricingSql: String =
    """SELECT l_returnflag, l_linestatus, r.range AS rep,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem CROSS JOIN range(10) r
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus, r.range
      |ORDER BY l_returnflag, l_linestatus, rep""".stripMargin

  // ---------------------------------------------------------------- q64
  /** ×10-replicated lineitem joined to orders — the JOIN-side counterpart
    * of q62's aggregation scale evidence. The dimension side is projected
    * to two columns and explicitly broadcast (a few MB at any bench sf), so
    * the 10× fact stream joins map-side inside the scan's codegen pipeline
    * with NO shuffle of the replicated rows; the only exchange carries 50
    * groups. This is the plan shape a 100 TB fact⋈dim join must keep: the
    * fact side never moves. The replica id is in the group keys so neither
    * engine can collapse the expansion. */
  def q64Scale10Join(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .withColumn("rep", graft.ops.Replicate.rep(10))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("rep"))
      .agg(
        sum(col("l_extendedprice").cast(dec12_2) *
            (lit(1).cast(dec6_4) - col("l_discount").cast(dec6_4)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy("o_orderpriority", "rep")
  }

  val q64Scale10JoinSql: String =
    """SELECT o_orderpriority, r.range AS rep,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |CROSS JOIN range(10) r
      |GROUP BY o_orderpriority, r.range
      |ORDER BY o_orderpriority, rep""".stripMargin

  // ---------------------------------------------------------------- q69
  /** ×10-replicated lineitem through the q5-shape broadcast-dim join chain
    * (supplier→nation→region) — the sf1-scale evidence for the multi-dim
    * star join: the replicated fact stream joins three broadcast dims
    * inside the scan pipeline with no fact shuffle; the single exchange
    * carries 250 groups. Together with q62 (agg) and q64 (single-dim
    * join), this pins the per-row cost trend of every headline query
    * class at 10× the bench scale. */
  def q69Scale10Region(s: SparkSession, dir: String): DataFrame = {
    val li  = t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .withColumn("rep", graft.ops.Replicate.rep(10))
    val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"), col("rep"))
      .agg(
        sum(col("l_extendedprice").cast(dec12_2) *
            (lit(1).cast(dec6_4) - col("l_discount").cast(dec6_4)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"), col("rep"))
  }

  val q69Scale10RegionSql: String =
    """SELECT r_name, n_name, r10.range AS rep,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |CROSS JOIN range(10) r10
      |GROUP BY r_name, n_name, r10.range
      |ORDER BY r_name, n_name, rep""".stripMargin

  // ---------------------------------------------------------------- q70
  /** ×10-replicated rollup (q13's shape at sf1 scale), computed through
    * [[graft.ops.AggOps.rollupReagg]]: native `rollup` would Expand the
    * 10× stream once per grouping level (4 copies of every generated row
    * through the partial agg — measured 9.7 s at bench scale); the rewrite
    * scans the stream ONCE into the 60-group finest level and re-aggregates
    * those 60 rows for the coarser levels. Exact by construction (decimal
    * sums, long counts) — the same DuckDB ROLLUP oracle pins it. */
  def q70Scale10Rollup(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .withColumn("rep", graft.ops.Replicate.rep(10))
    graft.ops.AggOps.rollupReagg(li,
      Seq("rep", "l_returnflag", "l_linestatus"),
      col("l_quantity").cast(dec12_2), "n_rows", "sum_qty")
      .orderBy(col("rep").asc_nulls_first,
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  // ---------------------------------------------------------------- q73
  /** ×10-replicated cube through [[graft.ops.AggOps.cubeReagg]] — native
    * `cube` would Expand the 10× stream 2^d× (8 copies of every generated
    * row at d=3); the rewrite is the same single finest pass as q70 with
    * all 2^d subsets re-aggregated from the 60 finest groups. */
  def q73Scale10Cube(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .withColumn("rep", graft.ops.Replicate.rep(10))
    graft.ops.AggOps.cubeReagg(li,
      Seq("rep", "l_returnflag", "l_linestatus"),
      col("l_quantity").cast(dec12_2), "n_rows", "sum_qty")
      .orderBy(col("rep").asc_nulls_first,
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val q73Scale10CubeSql: String =
    """SELECT r10.range AS rep, l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem CROSS JOIN range(10) r10
      |GROUP BY CUBE (r10.range, l_returnflag, l_linestatus)
      |ORDER BY rep ASC NULLS FIRST, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  val q70Scale10RollupSql: String =
    """SELECT r10.range AS rep, l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem CROSS JOIN range(10) r10
      |GROUP BY ROLLUP (r10.range, l_returnflag, l_linestatus)
      |ORDER BY rep ASC NULLS FIRST, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q75
  /** q1's pricing aggregation over a ×100 replicated lineitem — the third
    * point on the per-row-cost curve (q1 at ×1, q62 at ×10, here ×100):
    * at the driver's sf0.1 this is an sf10-equivalent ~60M rows through
    * the identical plan shape — one generator-expanded scan fused into a
    * single whole-stage-codegen span with a partial agg, one 600-group
    * exchange. If the fixed-overhead amortization argument holds, µs/row
    * here must not regress vs q62; the bench records all three so the
    * curve is driver-measured evidence, not extrapolation. Replica id is
    * in the group keys so neither engine can collapse the expansion. */
  def q75Scale100Pricing(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val dq = col("l_quantity").cast(dec12_2)
    val dp = col("l_extendedprice").cast(dec12_2)
    val dd = col("l_discount").cast(dec6_4)
    val one = lit(1).cast(dec6_4)
    li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .withColumn("rep", graft.ops.Replicate.rep(100))
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("rep"))
      .agg(
        sum(dq).cast("double").as("sum_qty"),
        sum(dp * (one - dd)).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus", "rep")
  }

  val q75Scale100PricingSql: String =
    """SELECT l_returnflag, l_linestatus, r.range AS rep,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem CROSS JOIN range(100) r
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus, r.range
      |ORDER BY l_returnflag, l_linestatus, rep""".stripMargin

  // ---------------------------------------------------------------- q83
  /** ×100 rollup written as PLAIN native `.rollup(...).agg(...)` — what an
    * unmodified Spark user writes — made one-pass by the two injected
    * optimizer rules compounding: [[graft.plans.GroupingSetReagg]] moves
    * the Expand above a finest-level aggregate (one fact pass instead of
    * (d+1)×) and [[graft.plans.DecimalSumFastPath]] turns the decimal sum
    * into long fixed-point accumulators. At 100 TB this is the difference
    * between 4 decimal passes over the corpus and ONE integer pass plus
    * re-aggregation of 600 finest groups. The library spellings of the
    * same rewrites ([[graft.ops.AggOps.rollupReagg]]/
    * [[AggOps.rollupReaggFixedPoint]]) stay proven by q70/q73; this entry
    * pins that UNMODIFIED code gets the same plan. Same DuckDB
    * ROLLUP-over-decimal oracle — exact by construction. */
  def q83Scale100Rollup(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .withColumn("rep", graft.ops.Replicate.rep(100))
    li.rollup(col("rep"), col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(dec12_2)).cast("double").as("sum_qty"))
      .orderBy(col("rep").asc_nulls_first,
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val q83Scale100RollupSql: String =
    """SELECT r100.range AS rep, l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem CROSS JOIN range(100) r100
      |GROUP BY ROLLUP (r100.range, l_returnflag, l_linestatus)
      |ORDER BY rep ASC NULLS FIRST, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q87
  /** The ×100 JOIN-class scale point (q64's shape at 10× its scale):
    * lineitem broadcast-joined to orders map-side inside the scan's
    * codegen pipeline (dim side is two columns, explicitly broadcast),
    * replicated ×100 above the join, revenue summed fixed-point over the
    * resulting ~60M-row stream (bench sf0.1); nothing shuffles except the
    * 500-group exchange. Completes the ×100 evidence across all three
    * headline classes: aggregation (q75/q79), rollup (q83), join (here). */
  def q87Scale100Join(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.AggOps.fixedPointSum
    // The ×100 replication sits ABOVE the join: the replica id is
    // independent of the join key, so the replication commutes with the
    // join — each fact row probes once and the aggregate consumes the
    // full ×100 stream. This is the SAME shape DuckDB derives from the
    // oracle SQL (its optimizer hoists the range(100) cross product above
    // the hash join), so the recorded pair compares like for like. The
    // replicate+partial-agg is the fused kernel ([[graft.ops
    // .ReplicateAgg]]); join and unscaled projection stay in the scan's
    // codegen span ([[q87Pre]], plan-linted).
    graft.ops.ReplicateAgg
      .partials(q87Pre(s, dir), Seq("o_orderpriority"), 100, Seq("urev"))
      .groupBy(col("o_orderpriority"), col("rep"))
      .agg(
        fixedPointSum(col("urev"), 6, "revenue"),
        sum(col("__pn")).as("n_rows"))
      .orderBy("o_orderpriority", "rep")
  }

  /** q87's pre-replication frame: broadcast join + unscaled revenue
    * projection — exposed so PlanLintSpec can walk the join plan that
    * feeds the fused kernel (an RDD boundary hides it from the final
    * frame's executedPlan). */
  def q87Pre(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.AggOps.unscaledLong
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    val revU = unscaledLong(col("l_extendedprice"), 2) *
      (lit(10000L) - unscaledLong(col("l_discount"), 4))
    li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), revU.as("urev"))
  }

  val q87Scale100JoinSql: String =
    """SELECT o_orderpriority, r.range AS rep,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem CROSS JOIN range(100) r
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority, r.range
      |ORDER BY o_orderpriority, rep""".stripMargin

  // ---------------------------------------------------------------- q94
  /** q87's ×100 join computed CO-LOCATED instead of broadcast: both sides
    * pre-bucketed on the join key ([[graft.sql.QueryEngine.saveBucketed]],
    * 32 buckets, one file per bucket), so the join needs NO exchange on
    * either side — the plan the engine would run when the dim outgrows
    * the broadcast threshold, and the "pay the shuffle once at ingest"
    * half of the bucketing story (the write shuffles once; every
    * subsequent join reads co-located). The ×100 explode sits ABOVE the
    * join (Generate preserves partitioning), and the only exchange in
    * the plan carries the 500 output groups.
    *
    * Join strategy is a measured choice (×100 bench scale, BENCH_COMPARE.md
    * round 10, the q94 decomposition): with buckets co-located the per-bucket build side is tiny
    * (~150k orders rows / 32), so a shuffled-HASH join — zero exchange
    * AND zero sort — runs at 0.76 s against the no-join floor of 0.92 s
    * (scan + ×100 explode + aggregate alone) and the broadcast twin's
    * 0.69 s; the sort-merge form costs 0.98 s at one-file-per-bucket and
    * 1.44 s on a multi-file-bucket layout, whose in-task re-sort of the
    * 60M-row exploded stream was most of round 9's "6× DuckDB" recording
    * (the rest is the shared explode/agg floor, not the join — joining
    * is ~free in this plan). The shuffle_hash hint keeps AQE from
    * converting back to broadcast. Oracle: identical values to q87
    * (same SQL), so hash-green proves the bucketed path exact. */
  def q94BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.AggOps.fixedPointSum
    // ×100 above the join, like q87 (and like DuckDB's own plan for the
    // oracle SQL): the co-located join probes each fact row once, the
    // fused replicate+partial-agg kernel consumes the join output
    // ([[graft.ops.ReplicateAgg]]). The join plan itself ([[q94Pre]])
    // stays exchange- and sort-free (PlanLintSpec asserts it).
    graft.ops.ReplicateAgg
      .partials(q94Pre(s, dir), Seq("o_orderpriority"), 100, Seq("urev"))
      .groupBy(col("o_orderpriority"), col("rep"))
      .agg(
        fixedPointSum(col("urev"), 6, "revenue"),
        sum(col("__pn")).as("n_rows"))
      .orderBy("o_orderpriority", "rep")
  }

  /** q94's pre-replication frame: the co-located shuffled-hash join over
    * the bucketed tables + unscaled revenue projection — exposed for the
    * PlanLintSpec exchange/sort-free assertion (the fused kernel's RDD
    * boundary hides it from the final frame's executedPlan). */
  def q94Pre(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.AggOps.unscaledLong
    ensureBucketedTables(s, dir)
    val (liT, oT) = bucketedNames(dir)
    val li = s.table(liT)
    val o = s.table(oT)
    val revU = unscaledLong(col("l_extendedprice"), 2) *
      (lit(10000L) - unscaledLong(col("l_discount"), 4))
    li.join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"), revU.as("urev"))
  }

  private def bucketedNames(dir: String): (String, String) = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    (s"lineitem_bkt_$tag", s"orders_bkt_$tag")
  }

  /** Idempotent ingest step for [[q94BucketedJoin]]: bucket-write the two
    * join sides into the session warehouse (the once-per-ingest shuffle).
    * Exposed so the bench can run it untimed — the recorded q94 number is
    * the steady-state co-located read path, not the ingest. */
  def ensureBucketedTables(s: SparkSession, dir: String): Unit = {
    val (liT, oT) = bucketedNames(dir)
    if (!s.catalog.tableExists(liT)) {
      dropStaleLocation(s, liT)
      graft.sql.QueryEngine.saveBucketed(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        liT, "l_orderkey", 32)
    }
    if (!s.catalog.tableExists(oT)) {
      dropStaleLocation(s, oT)
      graft.sql.QueryEngine.saveBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        oT, "o_orderkey", 32)
    }
  }

  /** The in-memory catalog is per-session but the warehouse directory is
    * on disk: a table absent from the catalog whose location survives a
    * previous session would fail the managed CREATE with
    * LOCATION_ALREADY_EXISTS. The bucketed tables are derived caches, so
    * a stale location is safe to remove and rebuild. */
  private def dropStaleLocation(s: SparkSession, table: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(
      s.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
  }

  // ---------------------------------------------------------------- q79
  /** q75's ×100 pricing computed through [[graft.ops.AggOps.fixedPointSum]]:
    * the same exact rational values (the oracle is literally q75's SQL),
    * but the per-row work is two long multiplies and long-accumulator sums
    * instead of BigDecimal-backed decimal ops — the engine-side answer to
    * a columnar engine's int128 decimal kernels. Bounds: |unscaled
    * disc-price term| ≤ 1.1e11, so a single group can absorb ~8e7 rows
    * before the long accumulator overflows — and ANSI mode (Spark 4
    * default) turns overflow into a loud error, never a wrong answer. */
  def q79Scale100FixedPoint(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.AggOps.{fixedPointSum, unscaledLong}
    val li = t(s, dir, "lineitem")
    val qtyU = unscaledLong(col("l_quantity"), 2) // cents-like 2dp units
    val priceU = unscaledLong(col("l_extendedprice"), 2)
    val oneMinusDiscU = lit(10000L) - unscaledLong(col("l_discount"), 4)
    // unscaled projection runs inside the scan's codegen span; the ×100
    // replication + partial aggregation is the fused kernel (see
    // [[graft.ops.ReplicateAgg]] for why the Generate form's per-output-
    // row pipeline cost is the constant this removes); the finishing
    // aggregate keeps the proven fixedPointSum exactness contract.
    val pre = li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .select(col("l_returnflag"), col("l_linestatus"),
        qtyU.as("uq"), (priceU * oneMinusDiscU).as("urev"))
    graft.ops.ReplicateAgg
      .partials(pre, Seq("l_returnflag", "l_linestatus"), 100,
        Seq("uq", "urev"))
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("rep"))
      .agg(
        fixedPointSum(col("uq"), 2, "sum_qty"),
        fixedPointSum(col("urev"), 6, "sum_disc_price"),
        sum(col("__pn")).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus", "rep")
  }

  /** Selective filter + aggregate (TPC-H Q6 shape): the filter must reach
    * the parquet scan as PushedFilters so a 100 TB scan prunes row groups. */
  def q6Revenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast(dec12_2) * col("l_discount").cast(dec6_4))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  val q6RevenueSql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Fact ⋈ fact ⋈ dim join with aggregation (TPC-H Q3 shape). customer is
    * small relative to orders/lineitem → broadcast; orders⋈lineitem is the
    * genuine shuffle join on the fact key. */
  def q3ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord  = t(s, dir, "orders").filter(col("o_orderdate") < lit("1995-03-15"))
    val li   = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(dec12_2) *
          (lit(1).cast(dec6_4) - col("l_discount").cast(dec6_4)))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  val q3ShippingPrioritySql: String =
    """SELECT l_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      |  o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 20""".stripMargin

  /** Multi-way dimension chain join: lineitem ⋈ supplier ⋈ nation ⋈ region,
    * all three dims broadcast (each is tiny even at 100 TB fact scale). */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val li  = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(col("l_extendedprice").cast(dec12_2) *
            (lit(1).cast(dec6_4) - col("l_discount").cast(dec6_4)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q5RegionRevenueSql: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Window ranking: top-3 orders per customer by totalprice.
    * Single shuffle on o_custkey; rank + filter stays in one stage. */
  def q7TopOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(dec12_2).cast("double").as("o_totalprice"),
        col("rnk"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  val q7TopOrdersPerCustomerSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice, rnk
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  /** Left-semi join: customers that have at least one order (EXISTS). */
  def q10SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val ord  = t(s, dir, "orders")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val q10SemiJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Left-anti join: customers with no orders (NOT EXISTS). */
  def q11AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val ord  = t(s, dir, "orders")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q11AntiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Distinct aggregation: per-priority order counts + distinct customers.
    * count(DISTINCT) expands to a two-phase aggregate in Spark — partials
    * still apply, so the shuffle is bounded by distinct keys. */
  def q9DistinctAgg(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    ord.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("o_orderpriority"))
  }

  val q9DistinctAggSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** ROLLUP grouping sets over returnflag/linestatus (free via Catalyst,
    * SURVEY §2.4 note). */
  def q13Rollup(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(dec12_2)).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val q13RollupSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** CUBE grouping sets (all four grouping combinations in one pass). */
  def q14Cube(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(dec12_2)).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val q14CubeSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Correlated scalar subquery (Catalyst decorrelates it into a join):
    * items strictly below their part's maximum quantity. MAX keeps the
    * threshold exact, so the row set is engine-independent. */
  def q15CorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql(q15CorrelatedSubquerySql)
  }

  val q15CorrelatedSubquerySql: String =
    """SELECT l_partkey, COUNT(*) AS n_below_max,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS below_max_value
      |FROM lineitem l1
      |WHERE l_quantity < (
      |  SELECT MAX(l_quantity) FROM lineitem l2
      |  WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY l_partkey
      |HAVING COUNT(*) >= 5
      |ORDER BY l_partkey""".stripMargin

  /** Full outer join with per-side presence accounting. */
  def q18FullOuter(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey"))
    val ord = t(s, dir, "orders").select(col("o_custkey")).distinct()
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "full_outer")
      .agg(
        sum(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1)
          .otherwise(0)).cast("bigint").as("n_both"),
        sum(when(col("o_custkey").isNull, 1).otherwise(0)).cast("bigint").as("n_customer_only"),
        sum(when(col("c_custkey").isNull, 1).otherwise(0)).cast("bigint").as("n_orders_only"))
  }

  val q18FullOuterSql: String =
    """SELECT
      |  CAST(COUNT(*) FILTER (WHERE c_custkey IS NOT NULL AND o_custkey IS NOT NULL) AS BIGINT) AS n_both,
      |  CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_customer_only,
      |  CAST(COUNT(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT) AS n_orders_only
      |FROM customer
      |FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) o
      |  ON c_custkey = o_custkey""".stripMargin

  /** HLL sketch (approx_count_distinct) — the approximate path for
    * cardinality at scale. No oracle (sketch bits are engine-specific);
    * the suite bounds its error against the exact count. */
  def q19ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    // The HLL++ sketch bits are engine-specific, so the estimate itself
    // can never hash-match an oracle — but its CONTRACT can: emit the
    // exact count plus a boolean asserting the estimate landed within the
    // error bound, and let the oracle pin that boolean to TRUE. A sketch
    // regression flips within_bound and the driver's hash goes red.
    // Bound: 2.5× the requested rsd (0.02) — observed worst-case relative
    // error across sf0.001/0.01/0.1 is 0.0085, so 0.05 has ~6× margin
    // while still failing loudly on a broken sketch.
    ord.groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("exact_customers"),
        approx_count_distinct(col("o_custkey"), 0.02).as("approx_customers"))
      .select(
        col("o_orderpriority"),
        col("exact_customers"),
        (abs(col("approx_customers") - col("exact_customers"))
          .cast("double") / col("exact_customers").cast("double") <= lit(0.05))
          .as("within_bound"))
      .orderBy(col("o_orderpriority"))
  }

  val q19ApproxDistinctSql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS exact_customers,
      |  TRUE AS within_bound
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Conditional aggregation with CASE expressions (TPC-H Q12 shape). */
  def q12CaseAgg(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    ord.groupBy(col("o_orderstatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)).as("low_line_count"))
      .orderBy(col("o_orderstatus"))
  }

  val q12CaseAggSql: String =
    """SELECT o_orderstatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------- q116
  /** Z-order layout stats ([[graft.ops.Layout]]): Morton-interleave
    * (l_partkey, l_suppkey) and report per-z-bucket row counts and
    * dimension bounds — the data-skipping evidence a z-ordered write
    * yields (each bucket's (x, y) bounding box is a compact rectangle,
    * so filters on EITHER column prune buckets). Exact integer bit
    * arithmetic end to end; the oracle replays the same magic-number
    * spread in SQL. */
  def q116ZorderStats(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Layout
    val li = t(s, dir, "lineitem")
      .select((col("l_partkey") % 65536).as("x"),
        (col("l_suppkey") % 65536).as("y"))
    li.withColumn("z", Layout.zValue2(col("x"), col("y")))
      .groupBy(shiftright(col("z"), 20).as("zbucket"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sum_z"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy("zbucket")
  }

  private def spreadSql(v: String): String = {
    val x = s"($v & 65535)"
    val a = s"(($x | ($x << 8)) & 16711935)"
    val b = s"(($a | ($a << 4)) & 252645135)"
    val c = s"(($b | ($b << 2)) & 858993459)"
    s"(($c | ($c << 1)) & 1431655765)"
  }

  val q116ZorderStatsSql: String = {
    val z = s"(${spreadSql("x")} | (${spreadSql("y")} << 1))"
    s"""WITH base AS (
      |  SELECT l_partkey % 65536 AS x, l_suppkey % 65536 AS y
      |  FROM lineitem),
      |zv AS (SELECT x, y, $z AS z, ($z >> 20) AS zbucket FROM base)
      |SELECT zbucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(z) AS BIGINT) AS sum_z,
      |  MIN(x) AS x_min, MAX(x) AS x_max,
      |  MIN(y) AS y_min, MAX(y) AS y_max
      |FROM zv GROUP BY 1
      |ORDER BY zbucket""".stripMargin
  }

  // ---------------------------------------------------------------- q121
  /** Data-quality expectations as a pre-publication gate: five check
    * classes (not-null, range, regex, unique key, referential) over
    * `customer`, all row-local ones in ONE scan. The fixture data is
    * deliberately not all-clean: negative account balances violate the
    * range check and non-BUILDING/AUTOMOBILE segments violate the regex,
    * so the oracle pins real non-zero counts, not a wall of zeros. */
  def q121Expectations(s: SparkSession, dir: String): DataFrame = {
    import graft.oracle.Expectations
    import graft.oracle.Expectations._
    Expectations.run(t(s, dir, "customer"), Seq(
      NotNull("c_name"),
      InRange("c_acctbal", 0.0, 10000.0),
      MatchesRegex("c_mktsegment", "^(BUILDING|AUTOMOBILE)$"),
      Unique(Seq("c_custkey")),
      ReferencedIn("c_nationkey", t(s, dir, "nation"), "n_nationkey")))
  }

  val q121ExpectationsSql: String =
    """WITH total AS (SELECT COUNT(*) AS n FROM customer)
      |SELECT * FROM (
      |  SELECT 'in_range(c_acctbal)' AS check_name,
      |    CAST(COALESCE(SUM(CASE WHEN c_acctbal IS NOT NULL
      |      AND (c_acctbal < 0 OR c_acctbal > 10000) THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS n_violations,
      |    (SELECT n FROM total) AS n_rows
      |  FROM customer
      |  UNION ALL
      |  SELECT 'matches_regex(c_mktsegment)',
      |    CAST(COALESCE(SUM(CASE WHEN c_mktsegment IS NOT NULL
      |      AND NOT regexp_matches(c_mktsegment, '^(BUILDING|AUTOMOBILE)$')
      |      THEN 1 ELSE 0 END), 0) AS BIGINT),
      |    (SELECT n FROM total)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'not_null(c_name)',
      |    CAST(COALESCE(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END), 0)
      |      AS BIGINT),
      |    (SELECT n FROM total)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'referenced_in(c_nationkey)',
      |    CAST((SELECT COUNT(*) FROM customer
      |      WHERE c_nationkey IS NOT NULL
      |        AND c_nationkey NOT IN (SELECT n_nationkey FROM nation))
      |      AS BIGINT),
      |    (SELECT n FROM total)
      |  UNION ALL
      |  SELECT 'unique(c_custkey)',
      |    CAST((SELECT COUNT(*) FROM customer) -
      |      (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS BIGINT),
      |    (SELECT n FROM total)
      |)
      |ORDER BY check_name""".stripMargin
}
