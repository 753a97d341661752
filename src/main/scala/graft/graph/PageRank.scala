package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge table — the web-graph centrality
  * signal large-scale crawl curation uses to weight documents (Common
  * Crawl's page-rank/harmonic-centrality rankings; Brin & Page 1998). The
  * reference engine has no graph layer; this is part of the
  * training-data-pipeline surface built on top of the lake.
  *
  * Semantics: classic damped PageRank with uniform teleport and dangling-
  * mass redistribution,
  *
  *   r'(v) = (1-d)/N + d * ( dangling/N + sum_{(u,v) in E} r(u)/outdeg(u) )
  *
  * computed for a FIXED iteration count (the production form at corpus
  * scale: convergence checks add an extra global pass per round for a
  * signal that is consumed as a coarse quality weight, so pipelines run a
  * fixed small k).
  *
  * Exactness contract — integer fixed-point: ranks are maintained as
  * BIGINT multiples of 1/`scale` (default 1e-12), every division is
  * truncating integral division, and the evaluation order is pinned by
  * the formula below. Floating-point PageRank is NOT cross-engine
  * reproducible (per-destination sums reduce in partition order); the
  * fixed-point form makes every engine — Spark at any partitioning, the
  * DuckDB oracle (q161) — produce bit-identical ranks. Truncation loses
  * < outdeg ulps of mass per node per round, which is noise at 1e-12
  * resolution and perfectly deterministic.
  *
  *   r0(v)  = scale div N
  *   base   = (15 * (scale div N)) div 100                      [driver]
  *   dang_k = sum of r_k(v) over zero-outdeg v                  [scalar]
  *   r_{k+1}(v) = base + (85 * ((dang_k div N)
  *                + sum_{(u,v)} (r_k(u) div outdeg(u)))) div 100
  *
  * Scale shape (the 100 TB posture):
  *   - edges are canonicalized once (distinct) and CACHED repartitioned on
  *     `src`, so every iteration's rank⋈edge join shuffles only the rank
  *     frame (|V| rows, two narrow columns) — the edge table (|E|, the big
  *     side) never moves again;
  *   - per iteration: one co-partitioned join, one groupBy(dst) partial
  *     aggregate (the pregel exchange, unavoidable), and ONE scalar
  *     aggregate for the dangling mass (a single driver long — not a
  *     driver-side data collect);
  *   - rank frames are cached per iteration, and each round is built on
  *     a lazy local checkpoint of its cached predecessor, so both the data
  *     and the PLAN stay one iteration deep. Caching alone bounds only
  *     the data: every action's plan would nest each earlier round's
  *     plan, and Spark renders that whole tree into the plan description
  *     it keeps for the SQL status store, once per action. The
  *     checkpoint of a cached frame runs no job (its physical plan is an
  *     InMemoryTableScan); its blocks fill inside the next round's
  *     dangling-mass job, after which the predecessor is unpersisted.
  *     Never checkpoint an UNCACHED adaptive frame lazily: the call runs
  *     the plan's shuffle stages there and then. The result is the last
  *     cached frame; `result.unpersist()` frees it.
  */
object PageRank {

  val Scale: Long = 1000000000000L // 1e-12 rank resolution

  /** Ranks after `iters` damped rounds over `edges` (columns `srcCol`,
    * `dstCol`; duplicate edges are collapsed). Output: (`node`, `rank`)
    * with `rank` a BIGINT in units of 1/`scale`. */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
          iters: Int = 5, scale: Long = Scale): DataFrame =
    core(edges, srcCol, dstCol, None, iters, scale)

  /** PERSONALIZED PageRank (TrustRank, Gyöngyi et al. VLDB'04): teleport
    * and dangling mass return only to `seeds` (one column `seedCol`,
    * restricted to nodes actually in the graph), so rank measures
    * proximity to a trusted set — the crawl-curation form that scores
    * pages by how reachable they are from known-good seeds rather than
    * from everywhere. Same integer fixed-point contract as [[run]]:
    *
    *   r0(v)     = scale div |S| if v ∈ S else 0
    *   r_{k+1}(v)= [v ∈ S]·((15·(scale div |S|)) div 100
    *                        + (85·((dang_k div |S|) + contrib(v))) div 100)
    *             + [v ∉ S]·((85·contrib(v)) div 100)
    *
    * [[run]] is exactly this recurrence with S = all nodes. */
  def personalized(edges: DataFrame, seeds: DataFrame,
                   srcCol: String = "src", dstCol: String = "dst",
                   seedCol: String = "node",
                   iters: Int = 5, scale: Long = Scale): DataFrame =
    core(edges, srcCol, dstCol,
      Some(seeds.select(col(seedCol).as("node"))), iters, scale)

  /** WARM-START PageRank: [[run]]'s recurrence with r0 taken from `prior`
    * (columns `node`, `rank` — one row per node, e.g. the previous
    * micro-batch's output) instead of uniform. Nodes in the current graph
    * but absent from `prior` (the arriving batch's new nodes) start at
    * the uniform share `scale div N` of the CURRENT graph; prior rows for
    * nodes no longer in the graph are dropped. Same integer fixed-point
    * contract — the output is a deterministic function of (edges, prior,
    * iters), bit-reproducible across engines and partitionings — but NOT
    * equal to [[run]] at the same k: warm start trades initialization
    * for iterations (an informed r0 sits closer to the fixed point, so a
    * maintenance pipeline runs k=2 per batch where a cold start needs
    * k=5 — StreamingPagerankWarmSpec pins the convergence claim, the
    * m_spagerank_fold/rebuild pair prices it). */
  def resume(edges: DataFrame, prior: DataFrame,
             srcCol: String = "src", dstCol: String = "dst",
             iters: Int = 5, scale: Long = Scale): DataFrame =
    core(edges, srcCol, dstCol, None, iters, scale,
      Some(prior.select(col("node"), col("rank"))))

  private def core(edges: DataFrame, srcCol: String, dstCol: String,
                   seedsOpt: Option[DataFrame], iters: Int,
                   scale: Long, priorOpt: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")

    // One exchange, not two: hash-partitioning on src already co-locates
    // every (src, dst) pair, so the duplicate-collapse aggregate runs
    // partition-local on top of the same shuffle (EnsureRequirements
    // accepts a subset partitioning for the distinct's clustering).
    // Sorted WITHIN partitions before caching (r16): the cache preserves
    // ordering alongside partitioning, so when the per-iteration
    // rank⋈edge join plans as sort-merge (the decade regime — at small
    // |V| AQE broadcasts the rank side instead), the |E|-row side
    // satisfies the join's sort requirement from the cache and only the
    // |V|-row rank frame is sorted per round, instead of re-sorting the
    // edge partitions every iteration (guide §2.4: establish the layout
    // once). Row order is semantically irrelevant (integer fixed-point
    // sums are commutative-exact), so results are bit-identical.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .sortWithinPartitions("src")
      .cache()

    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .cache()
    val n = nodes.count()
    require(n > 0, "pagerank over an empty edge set")

    // seed flags ride with the node frame; seeds outside the graph are
    // ignored (they can receive no flow and would distort |S|)
    val flagged = seedsOpt match {
      case None => nodes.select(col("node"), lit(true).as("is_seed"))
      case Some(sd) => nodes.join(
          sd.distinct().select(col("node"), lit(true).as("is_seed")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(false))
          .as("is_seed"))
    }
    // The out-degree rides ON the node frame (od null ⇔ dangling) — r17:
    // the r16 spelling joined `ranks ⋈ outdeg` inside every iteration's
    // contribution build AND ran a `left_anti outdeg` join for the
    // dangling mass, i.e. two |V|-row sort-merge joins per round whose
    // right side never changes. Attaching od once (one left join at
    // setup) makes the contribution join read (r, od) straight off the
    // rank frame and turns the dangling-mass scalar into a plain
    // filter+sum over the frame being materialized — zero joins (guide
    // §1.2 step 1 / §2.4: don't re-derive per round what one setup pass
    // can pin to the layout). Arithmetic is untouched: the same (r, od)
    // pairs flow into `r div od`, and `od is null` selects exactly the
    // rows the left-anti join kept, so ranks stay bit-identical.
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("od"))

    val flaggedC = flagged.join(outdeg, Seq("node"), "left").cache()
    val s = seedsOpt.fold(n)(_ =>
      flaggedC.where(col("is_seed")).count())
    require(s > 0, "personalized pagerank with no seed inside the graph")

    val r0 = scale / s
    val base = (15L * r0) / 100L

    // The dangling mass of frame k is ALSO the action that materializes
    // frame k's cache — one scalar aggregate per iteration does double
    // duty (materialize + collect one long), so each round costs exactly
    // one co-partitioned join, one groupBy(dst) exchange, and one job.
    def dangOf(r: DataFrame): Long =
      r.where(col("od").isNull)
        .agg(coalesce(sum(col("r")), lit(0L)).as("d"))
        .head().getLong(0)

    var ranks = (priorOpt match {
      case None => flaggedC
        .select(col("node"),
          when(col("is_seed"), lit(r0)).otherwise(lit(0L)).as("r"),
          col("od"))
      case Some(pr) => flaggedC
        // warm start: carried rank where prior knows the node, uniform
        // share where it doesn't; prior rows for departed nodes drop on
        // the flaggedC side of the join
        .join(pr.withColumnRenamed("rank", "r_prior"), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("r_prior"),
            when(col("is_seed"), lit(r0)).otherwise(lit(0L))).as("r"),
          col("od"))
    }).cache()
    var dang = dangOf(ranks)

    // One round on `cur` (node, r, od), read through a lazy local
    // checkpoint so the round's plan has a LogicalRDD leaf where it would
    // nest every earlier round. `cur` must be cached (see the scaladoc):
    // then the checkpoint runs no job and fills inside the round's action.
    def round(cur: DataFrame, dang: Long): DataFrame = {
      val contribs = e
        .join(cur.localCheckpoint(eager = false).where(col("od").isNotNull)
            .select(col("node").as("src"), col("r"), col("od")),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r div od")).as("c"))
      flaggedC.join(contribs, Seq("node"), "left")
        .select(col("node"),
          when(col("is_seed"),
            lit(base) +
              expr(s"(85 * (${dang / s}L + coalesce(c, 0L))) div 100"))
            .otherwise(expr("(85 * coalesce(c, 0L)) div 100"))
            .as("r"),
          col("od"))
    }
    // Frame k is freed only after frame k+1's dangOf job, which reads
    // every partition of frame k's checkpoint and so fills it.
    for (_ <- 1 until iters) {
      val next = round(ranks, dang).cache()
      dang = dangOf(next) // materializes next's cache in the same job
      ranks.unpersist()
      ranks = next
    }
    // The last round's dangling mass is never used, so the result is
    // cached in its output shape and filled by a count: the caller's
    // `result.unpersist()` then frees the last PageRank frame left in
    // the cache. Checkpoint blocks are freed when their RDDs are
    // garbage-collected.
    val result = round(ranks, dang)
      .select(col("node"), col("r").as("rank")).cache()
    result.count()
    ranks.unpersist(); e.unpersist(); nodes.unpersist(); flaggedC.unpersist()
    result
  }

  /** The corpus graph q161 ranks: directed customer→supplier edges for
    * every (order, lineitem) pair, plus supplier→customer back-edges for
    * suppliers with `l_suppkey % 3 = 0` — a deterministic rule that leaves
    * two thirds of the suppliers DANGLING, so both the propagation and the
    * dangling-mass paths are exercised (and oracled) at every scale
    * factor. Node ids are namespaced (`c<custkey>` / `s<suppkey>`). */
  def corpusEdges(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(spark, dir, "orders")
    val li = graft.Tables.load(spark, dir, "lineitem")
    val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
    val fwd = joined.select(
      concat(lit("c"), col("o_custkey")).as("src"),
      concat(lit("s"), col("l_suppkey")).as("dst"))
    val bwd = joined.where(col("l_suppkey") % 3 === 0).select(
      concat(lit("s"), col("l_suppkey")).as("src"),
      concat(lit("c"), col("o_custkey")).as("dst"))
    fwd.unionAll(bwd)
  }
}
