package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the graph-structure signal of
  * clustering/community strength (a web/citation-graph quality feature),
  * via the degree-ordered wedge join (Suri & Vassilvitskii, WWW'11 "the
  * curse of the last reducer").
  *
  * The naive wedge join pairs every two neighbors of every node — a hub
  * with degree d contributes d² wedge rows, so one celebrity node
  * serializes the job. Orienting each undirected edge from its LOWER
  * (degree, id) endpoint to its higher one makes every out-neighborhood
  * O(√m): wedges are built only from each node's out-neighbors, so the
  * per-node work is bounded by m^1.5 total REGARDLESS of hubs — the
  * whole point of the algorithm, and what makes 100 TB graphs feasible.
  * A triangle {u,v,w} (ordered by (degree, id)) is then found exactly
  * once: as the wedge v←u→w closed by the oriented edge v→w.
  *
  * Everything is joins + aggregates over (node, node) pairs — no
  * iteration, no windows, no driver state — and every step is exact
  * ANSI SQL, so the DuckDB oracle (q166) pins per-node counts
  * bit-for-bit. Duplicate edges, reversed duplicates, and self-loops
  * are canonicalized away first (simple undirected graph semantics).
  */
object Triangles {

  // the (degree, id) total order shared by orientation and wedge pairing
  private def lt(d1: Column, n1: Column, d2: Column, n2: Column): Column =
    d1 < d2 || (d1 === d2 && n1 < n2)

  /** Canonical simple undirected edge set: (a < b), self-loops and
    * duplicate/reversed duplicates collapsed. */
  private[graft] def canonical(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

  /** The degree orientation: each canonical edge directed from its LOWER
    * (degree, id) endpoint `u` to its higher one `v` (`dv` = v's degree,
    * the wedge-ordering key). This is the hub-safety mechanism — a
    * celebrity node has the maximal (degree, id), so every one of its
    * edges points INTO it and its out-neighborhood (the only thing the
    * wedge join squares) is EMPTY; out-degrees are O(√m) for every node
    * (Suri–Vassilvitskii lemma). TrianglesSpec pins this structurally on
    * a celebrity fixture: max out-degree stays √m-bounded while the
    * hub's raw degree is ~the whole graph. */
  private[graft] def oriented(und: DataFrame): DataFrame =
    oriented(und, degrees(und))

  /** Degree table of the canonical edge set: (node, d). */
  private[graft] def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  private def oriented(und: DataFrame, deg: DataFrame): DataFrame = {
    und
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"),
        Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"),
        Seq("b"))
      .select(
        when(lt(col("da"), col("a"), col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(lt(col("da"), col("a"), col("db"), col("b")), col("b"))
          .otherwise(col("a")).as("v"),
        when(lt(col("da"), col("a"), col("db"), col("b")), col("db"))
          .otherwise(col("da")).as("dv"))
  }

  /** Per-node triangle participation counts: one row (node, n_triangles)
    * for every node of at least one triangle. The graph is
    * `edges`(srcCol, dstCol) read as UNDIRECTED; duplicates and
    * self-loops are dropped. Σ n_triangles = 3 × (total triangles).
    *
    * FORM SELECTION (r16): the two classical counting forms have
    * disjoint winning regimes, decided here from one cheap approximate
    * pass (both forms are exact and bit-identical — the choice is purely
    * physical, like a join-strategy pick):
    *  - DENSE graphs (average degree ≥ [[DenseAvgDegree]]): the
    *    edge-iterator / intersection form. The wedge join materializes
    *    Σ C(d⁺,2) candidate rows through an exchange — n³-ish on a
    *    near-complete graph (the sf0.1 co-part projection: ~166M wedges
    *    from 500k edges) — while adjacency arrays ship only m entries
    *    and intersect in-stage. Measured 2.1–2.9× on q166/q168
    *    (plans/r16, OPTIMIZATION_r16.md).
    *  - SPARSE graphs: the wedge join. Out-neighborhoods are tiny, the
    *    wedge set is ~linear in m, and the intersection form's
    *    collect_list aggregation + array-carrying joins cost more than
    *    they save (measured 4× WORSE at the 12M-edge circulant decade,
    *    and an allocation-pressure failure at 120M edges).
    * The statistic is avg degree ≈ 2·m̂/V̂ from one map-side HLL pass
    * over the raw edge expression (m̂ = distinct canonical pairs, V̂ =
    * max of per-endpoint distincts — a ≤2× underestimate of |V|, i.e.
    * a ≤2× density overestimate, noise against the two regimes sitting
    * ~80× apart). Deterministic (fixed-hash HLL), partitioning-
    * invariant, and O(scan) with a one-row result. */
  def perNode(edges: DataFrame, srcCol: String = "src",
              dstCol: String = "dst"): DataFrame = {
    val und = canonical(edges, srcCol, dstCol)
    if (denseByEstimate(edges, srcCol, dstCol))
      perNodeFromOriented(oriented(und))
    else perNodeWedgeFromCanonical(und)
  }

  /** Dense-regime threshold on estimated average degree (the two measured
    * regimes sit at ~12 and ~1000 — 64 splits them with wide margin on
    * both sides of the estimator's ≤2× error). */
  val DenseAvgDegree: Int = 64

  private[graft] def denseByEstimate(edges: DataFrame, srcCol: String,
      dstCol: String): Boolean = {
    val row = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .agg(approx_count_distinct(struct(col("a"), col("b"))).as("m"),
        approx_count_distinct(col("a")).as("va"),
        approx_count_distinct(col("b")).as("vb"))
      .head()
    val m = row.getLong(0)
    val v = math.max(row.getLong(1), row.getLong(2))
    v > 0 && 2.0 * m / v >= DenseAvgDegree
  }

  /** Intersection (edge-iterator) form over the oriented DAG: each
    * oriented edge u→v carries its endpoints' out-neighbor ARRAYS and
    * the triangles through it are N⁺(u) ∩ N⁺(v), computed in-stage — a
    * triangle {u<v<w} (orientation order) is found exactly once, at its
    * base edge (u,v), as w ∈ both out-sets. Versus the wedge join this
    * never materializes the wedge candidate set through an exchange:
    * the sf0.1 co-part graph is near-complete (1000 suppliers) and its
    * ~166M wedge rows paid a full hash-partition + sort-merge join per
    * run; here the only shuffled payloads are the m-row edge list and
    * the adjacency arrays (Σ|N⁺| = m entries, each array √m-bounded by
    * the orientation), and the candidate test is an in-partition
    * array_intersect feeding a map-side partial aggregate. Guide §2.3/
    * §2.4 (shuffle fewer bytes / remove the exchange outright). */
  private[graft] def perNodeFromOriented(ori: DataFrame): DataFrame = {
    val e = ori.select(col("u"), col("v"))
    // out-neighbor arrays SORTED so the intersection is a single merge
    // scan (SortedIntersect's contract; elements are distinct and
    // non-null because ori is a distinct edge set over non-null nodes)
    val nbrs = e.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(col("v"))).as("ns"))
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val nodeType = ori.schema("u").dataType
    def intersect(a: Column, b: Column): Column = nodeType match {
      case IntegerType | LongType | StringType =>
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.SortedIntersect(
            org.apache.spark.sql.graft.ColumnBridge.expression(a),
            org.apache.spark.sql.graft.ColumnBridge.expression(b)))
      // other node-id types: same semantics through the built-in (which
      // hashes one side per row instead of merge-scanning)
      case _ => array_intersect(a, b)
    }
    // attach N⁺(v) first (an edge whose head has no out-neighbors closes
    // nothing — inner join drops it), then N⁺(u); the array-carrying side
    // crosses exactly one exchange
    val tri = e
      .join(nbrs.select(col("node").as("v"), col("ns").as("nv")), Seq("v"))
      .join(nbrs.select(col("node").as("u"), col("ns").as("nu")), Seq("u"))
      .select(col("u"), col("v"),
        explode(intersect(col("nu"), col("nv"))).as("w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Partition count for the wedge path's exchanges, derived from the
    * graph's estimated source bytes (guide §2.1/§5: size partitions to
    * DATA, not to the machine): one partition per ~4 MB of input so the
    * post-shuffle sort state of the wedge joins stays inside a task's
    * execution-memory share at any scale, floored at the session
    * parallelism, capped at 4096. At the 120M-edge decade the session
    * default (partitions = cores) put ~10M wedge rows in each sort and
    * the stage serialized through 48 GB of spill — same speed at 8 and
    * 32 cores (r16 driver artifact, ratio 1.03); sized to data the spill
    * disappears and the stage scales with cores again (stage tables in
    * OPTIMIZATION_r17.md §0–1). An engine-wide AQE
    * initialPartitionNum was tried first and REFUTED — it breaks cached
    * co-partitioning reuse for every OTHER operator (OPTIMIZATION_r17.md
    * §0) — so the sizing lives here, scoped to the one plan that needs
    * it. */
  private def wedgePartitions(und: DataFrame): Int = {
    val bytes = und.queryExecution.optimizedPlan.stats.sizeInBytes
    val byData = (bytes / (4L * 1024 * 1024)).min(BigInt(4096)).toInt
    math.max(und.sparkSession.sparkContext.defaultParallelism, byData)
  }

  /** The wedge-join form (Suri–Vassilvitskii as literal joins) — the
    * SPARSE-regime winner (see [[perNode]]): materializes every wedge
    * (u;v,w) through a hash exchange and closes it with a (v,w) join;
    * on sparse graphs the wedge set is ~linear in m and this beats the
    * intersection form's collect_list + array-carrying joins. */
  private def perNodeWedgeFromCanonical(und: DataFrame): DataFrame = {
    val n = wedgePartitions(und)
    val ori = oriented(und)
    // wedges from each u's (√m-bounded) out-neighborhood, neighbor pair
    // ordered by the same (degree, id) orientation so the closing edge
    // can only be v -> w. The explicit repartitions REPLACE the joins'
    // own exchanges (EnsureRequirements accepts the matching layout), so
    // the exchange count is unchanged — only their width is data-sized.
    val oriU = ori.repartition(n, col("u"))
    val e1 = oriU.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val e2 = oriU.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = e1.join(e2, Seq("u"))
      .where(lt(col("dv1"), col("v1"), col("dv2"), col("v2")))
      .select(col("u"), col("v1").as("v"), col("v2").as("w"))
      .repartition(n, col("v"), col("w"))
    val tri = wedges.join(
      ori.select(col("u").as("v"), col("v").as("w"))
        .repartition(n, col("v"), col("w")),
      Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Total triangle count (one row). */
  def total(edges: DataFrame, srcCol: String = "src",
            dstCol: String = "dst"): DataFrame =
    perNode(edges, srcCol, dstCol)
      .agg((coalesce(sum(col("n_triangles")), lit(0L)) / 3)
        .cast("long").as("n_triangles"))

  /** Local clustering coefficient per node (Watts & Strogatz 1998):
    * `2·T(v) / (d(v)·(d(v)−1))` — the fraction of a node's neighbor
    * pairs that are themselves adjacent, the standard community-density
    * signal derived from [[perNode]]. Exactness: the numerator and
    * denominator are exact BIGINT products; ONE IEEE double division per
    * row is deterministic on any engine. Degree-1 nodes have no neighbor
    * pair — coefficient 0 by convention. Output: (node, degree,
    * n_triangles, coef) for every node of the canonicalized graph. */
  def clusteringCoef(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    // ONE canonical edge set + ONE degree aggregate feed both the output
    // degree column and the orientation — the r15 spelling re-derived
    // canonical+degrees inside perNode, re-running the caller's whole
    // edge-construction subtree (q168 paid q166's 8.7M-row co-part
    // self-join + distinct twice). Guide §1.2 step 1: don't compute
    // things twice.
    val und = canonical(edges, srcCol, dstCol)
    val deg = degrees(und).withColumnRenamed("d", "degree")
    val counts =
      if (denseByEstimate(edges, srcCol, dstCol))
        perNodeFromOriented(oriented(und, deg.withColumnRenamed("degree", "d")))
      else perNodeWedgeFromCanonical(und)
    deg.join(counts, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("coef",
        when(col("degree") >= 2,
          (lit(2L) * col("n_triangles")).cast("double") /
            (col("degree") * (col("degree") - 1L)).cast("double"))
          .otherwise(lit(0.0)))
  }
}
