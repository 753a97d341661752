package graft

import org.apache.spark.sql.SparkSession

/** The engine's session defaults in ONE place — every CLI main
  * (Verify/Bench/Profile) and any embedding application builds through
  * here so a measured knob is an ENGINE property, not a bench-session
  * accident (r13 verdict #7). Each default carries its measurement:
  *
  *  - `parquet.columnarReaderBatchSize = 16384` (default 4096): −15% on
  *    the 60M-row materialized-scan floor (2026-08-15, 0.60 → 0.51 s;
  *    whole query −12%; BENCH_COMPARE.md "The 60M-row scan floor") for
  *    ~0.5 MB more per open column batch — the dominant residual of
  *    m_q87_mat's JVM decode constant.
  *  - `legacy.bucketedTableScan.outputOrdering = true`: lets a
  *    one-file-per-bucket (key, ts)-sorted table — exactly what
  *    [[graft.sql.QueryEngine.saveBucketed]] writes — expose its sort to
  *    the planner, so [[graft.operators.AsofJoin.asof]]'s detected merge
  *    and q94-style co-located joins plan with zero sorts. Spark guards
  *    the multi-file case itself (ordering is only claimed when each
  *    bucket holds one file), so the conf is safe engine-wide.
  *  - `shuffle.partitions = cores`: local[n] has exactly n slots; the
  *    200 default just multiplies scheduling overhead. A cluster
  *    deployment overrides per its executor count (or leaves AQE
  *    coalescing to fix it).
  *  - AQE stays ON (Spark's default): coalescing and skew-join handling
  *    matter more at real scale than its per-query planning cost at
  *    bench scale.
  *  - UTC session timezone and `legacy.parquet.nanosAsLong` pin the
  *    driver corpus's timestamp vintages to one reading.
  *  - `codegen.cache.maxEntries = 1000` (default 100): Spark keys its
  *    generated-class cache by (thread context classloader, source), and
  *    the driver and the task threads use different loaders, so every
  *    whole-stage class takes two entries. Do not drop it as a no-op: one
  *    lakebench graph_rank round (`PageRank.run(iters = 5)`,
  *    `Triangles.total`, SQL) holds 141 entries after its warm-up, so at
  *    100 the LRU evicts the whole working set every round. A warm round
  *    compiled 83 classes at 100 and 0 at 1000 (seed 301; pinned by
  *    CodegenCacheSpec). It is a static conf that `CodeGenerator` reads
  *    once per JVM, so it takes effect only on the builder that creates
  *    the JVM's first session.
  */
object GraftSession {

  /** Apply the engine defaults to an existing builder (cluster
    * deployments: set master/executors yourself, then pipe through
    * here). */
  def configure(b: SparkSession.Builder, cpus: Int): SparkSession.Builder =
    b.withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE partition sizing stays at Spark's defaults: OPTIMIZATION_r17.md §0
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** A local[cpus] session with the engine defaults — the CLI mains'
    * entry point. */
  def local(cpus: Int): SparkSession = {
    val s = configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
