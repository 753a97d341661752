package graft.bench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SketchState
import graft.sim.ProductQuantize
import graft.text.{HeavyHitters, TextOps}

/** Read-side scale benchmarks for the curation operators, in the
  * MaintenanceBench protocol (fixture built when the entry is CALLED —
  * untimed — returning the thunk the bench times; absolute seconds, knob
  * pairs so the asserted asymptotics are measured, not argued). Fixtures
  * that feed MORE THAN ONE entry (or both passes of one) are materialized
  * to scratch parquet once per JVM, so every timed thunk pays the same
  * one-scan input cost and the pair isolates exactly the claim under test:
  *
  *  - `m_hh_mg_x100` vs `m_hh_full_x100` and `m_hh_mg_wide` vs
  *    `m_hh_full_wide`: exact heavy hitters — the bounded Misra–Gries
  *    two-pass vs the full-vocabulary `GROUP BY` — over two fixtures
  *    spanning two vocabulary decades: the ×100 document stream
  *    (25M tokens, ~30k distinct) and a wide stream (25M tokens, ~20M
  *    distinct: 80% unique-tail positions, 20% over 20 hot tokens — web
  *    text's id/url/typo tail).
  *    All four produce exact answers (HeavyHittersSpec/q131 pin the
  *    math), every thunk computes its own total N, and each pair reads the
  *    same materialized layout, so it isolates ONE variable and records
  *    the operator's actual claim as measured curves: at fixed 25M
  *    tokens, MG is vocabulary-INDEPENDENT (~2.7 s at 30k distinct,
  *    ~2.7 s at 20M — flat, k-bounded state and shuffle) while the
  *    groupBy grows with the vocabulary it must carry (~0.5 s → ~2.1 s
  *    across the 670× step, state + shuffle rows ∝ distinct tokens).
  *    The two decades above (250M and 750M tokens) were measured as
  *    interleaved pairs in r13/r14 and are recorded in BENCH_COMPARE.md
  *    (MG flat across three vocabulary decades, the groupBy OOMs at
  *    4 GiB). (Round 8's version of this pair derived
  *    tokens lazily and un-symmetrically, measuring tokenizer passes,
  *    not strategy; round 9 also fixed the fixture's file count, which
  *    had capped scan parallelism for every consumer.)
  *  - `m_pq_encode_x200` / `m_pq_search_x200`: product-quantization index
  *    build (one narrow m-argmax projection) over a ×200-replicated
  *    embedding corpus (~100k × 64-dim), and ADC-shortlist + exact-re-rank
  *    search of 8 queries against it. The codebook training itself is the
  *    untimed fixture — it is the pay-once model build; encode cost is
  *    what every ingested batch pays, search cost is the per-query scan.
  *  - `m_topk_fold_x100/x1000` vs `m_topk_rescan_x100/x1000`: incremental
  *    heavy-hitter candidate maintenance ([[graft.ops.TopKState]], pinned
  *    by q141) — fold one ×1 batch into the stored ≤401-row MG state vs
  *    re-running the per-partition candidate pass over history + batch.
  *    The fold reads the batch and the state only, so it must be FLAT
  *    across the ×100→×1000 history knob while the rescan grows
  *    ~linearly with the history it re-reads. Measured (2026-08-14,
  *    min-of-2): fold 0.758 / 0.753 s at ×100 / ×1000 — flat — vs
  *    rescan 0.431 → 2.066 s (4.8× across the 10× step). The fold's
  *    ~0.75 s is a CONSTANT (its compaction thresholds are a chain of
  *    small driver actions), so below the ~90M-token crossover the
  *    one-job rescan is simply cheaper — the state pays off where
  *    history outweighs the constant, the regime the operator exists
  *    for, and the gap widens linearly beyond.
  *  - `m_semdedup_fold_x10/x30` vs `m_semdedup_rebuild_x10/x30`:
  *    incremental SemDeDup ([[graft.sim.Similarity.semanticDedupIncremental]],
  *    pinned by q148) — sweep one ×1 embedding batch against the
  *    accumulated per-cluster registry vs re-running the batch rule over
  *    history ∪ batch. Per cluster the fold pays O(|hist|·|batch| +
  *    |batch|²) cosine pairs (registry members are seeds, never
  *    re-paired), the rebuild O((|hist|+|batch|)²) — so across the
  *    ×10→×30 history knob the fold must stay ~flat (3× pairs, inside
  *    the job constant at this size) while the rebuild grows ~9×.
  *    Measured (2026-08-15, min-of-2, same invocation): fold
  *    0.77 / 0.64 s — flat — vs rebuild 1.96 → 7.18 s; the fold wins
  *    2.6× at ×10 and 11× at ×30, the gap widening quadratically with
  *    accumulation, the regime the registry exists for.
  *  - `m_hll_fold_x100/x1000` vs `m_hll_rescan_x100/x1000`: incremental
  *    distinct-count maintenance ([[SketchState]], pinned by q135) — fold
  *    ONE new batch into the stored per-group sketch state vs re-sketching
  *    the materialized history plus the batch. The fold reads |groups|
  *    sketch rows + the batch, so it must be FLAT across the ×100→×1000
  *    history knob (10M → 100M rows) while the rescan grows ~linearly —
  *    the recorded numbers for the O(batch) claim the scaladoc argues.
  *  - `m_dds_fold_x100/x1000` vs `m_dds_rescan_x100/x1000`: the same
  *    knob pair for incremental QUANTILE maintenance
  *    ([[graft.ops.QuantileState]], pinned by q138) — fold one batch into
  *    the stored per-group (region, bucket) → count state and read
  *    p50/p95, vs re-bucketizing history + batch. The state is
  *    O(groups × log-range buckets) rows regardless of history depth, so
  *    the fold must stay flat across the ×100→×1000 knob while the
  *    rescan grows ~linearly.
  *  - `m_asof_buck_uniform_x10` vs `m_asof_plain_uniform_x10`: the
  *    two-level bucketed as-of join vs the plain key-partitioned one on
  *    the SAME materialized uniform-key facts/dims (the q127 shape,
  *    inputs identical by construction). q126/q127 established the
  *    bucketed path's skew win (hot key within 1.35× of uniform); this
  *    pair records what the bucket-level carry-in machinery costs when
  *    there is NO skew to defeat — if ~free, bucketed could be the
  *    default. The recorded answer: NOT free (≈2× on uniform keys,
  *    0.85 vs 0.41 s in the r12 full run, directionally stable across
  *    rounds) — plain stays the default, bucketed is the skew weapon
  *    q126 prices.
  */
object ScaleBench {

  /** Bumped whenever ANY fixture construction below changes semantics:
    * the stable scratch paths embed it, so an edited fixture can never be
    * served stale from a previous run's parquet. */
  private val FixtureVersion = "r16a"

  /** Corpus signature the stable scratch paths embed — set by Bench.main
    * to a per-table row-count hash of the corpus under test (the
    * lineitemX100Path precedent: content-sensitivity at metadata cost),
    * defaulting to the SF-dir basename for standalone profiling mains. */
  @volatile var scratchTag: String = java.nio.file.Paths
    .get(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    .getFileName.toString

  /** CROSS-RUN scratch-parquet memo: fixtures shared across entries and
    * passes are built once at a STABLE path keyed by (fixture version,
    * corpus signature, fixture name), then re-read from disk by every
    * consumer — including the NEXT bench invocation. r15's run of record
    * was timeout-killed partly because the 65M-edge pagerank fixture (and
    * every other decade fixture) was regenerated per run from a random
    * temp dir; stable paths make fixture cost pay-once-per-corpus, the
    * same contract [[lineitemX100Path]]/[[asofFixturePath]] already had.
    * The in-JVM map just skips the _SUCCESS stat on re-reads. */
  private val matCache = scala.collection.mutable.Map.empty[String, String]
  private def materialized(s: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    val path = matCache.synchronized {
      matCache.getOrElseUpdate(key, {
        val p = s"/tmp/graft_sbfix_${FixtureVersion}_${scratchTag}_$key/t"
        if (!Files.exists(java.nio.file.Paths.get(s"$p/_SUCCESS")))
          build.write.mode("overwrite").parquet(p)
        p
      })
    }
    s.read.parquet(path)
  }

  /** The ×100 lineitem stream MATERIALIZED TO PARQUET as 60M real rows —
    * no replicate anywhere near a timed region. The replicated ×100
    * entries (q75/q87/q94) are exact, but their fused replicate kernel
    * ([[graft.ops.ReplicateAgg]]) exploits the fixture's replica
    * structure, which no real 100× dataset has; the `m_q75_mat` /
    * `m_q87_mat` twins scan THIS fixture instead, so the recorded number
    * is the general-case engine speed over 60M distinct stored rows, and
    * DuckDB twins read the identical files (BENCH_COMPARE). The path is
    * STABLE across JVMs (keyed by the source row count, so sf0.001 smoke
    * and sf0.1 runs never collide) — built once, ~2 GB scratch, reused by
    * later bench runs and by the DuckDB re-time in the same session. */
  def lineitemX100Path(s: SparkSession, dir: String): String = {
    val li = graft.Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_shipdate"))
    val n = li.count()
    // 4× cores files, not 1×: the driver writes ONE row group per file,
    // so file count IS the split count, and a single 32-task wave left
    // the tail of every stage on idle cores. Measured on the m_q87_mat
    // thunk (2026-08-15, BENCH_COMPARE.md "The 60M-row scan floor"):
    // 128 files 1.10–1.17 s vs 32 files 1.36–1.49 s (−20%); DuckDB reads
    // the identical layout and is flat across it (~0.51 s both), so the
    // ratio gain is real, not a layout tax shifted onto the oracle.
    val files = s.sparkContext.defaultParallelism * 4
    val path = s"/tmp/graft_matfix_li100_${n}_p$files"
    if (!Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS"))) {
      li.select(col("*"), graft.ops.Replicate.rep(100).as("rep"))
        .repartition(files)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The ×`times` documents corpus with per-replica-distinct ids and
    * tail-perturbed text (identical replicas would collapse in any dedup
    * stage and measure a 1/times corpus), materialized. */
  private def docsTimes(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"docs_x$times") {
      graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          graft.ops.Replicate.rep(times).as("r"))
        .select((col("doc_id") * times + col("r")).as("doc_id"), col("lang"),
          concat(col("text"), lit(" zq"), col("r").cast("string"))
            .as("text"))
    }

  /** The accumulated span registry of the ×`times` corpus (distinct
    * 16-byte span keys — what SpanBatch.newSpans emits), materialized:
    * the state an incremental span-dedup pipeline stores between
    * batches. */
  private def spanRegistry(s: SparkSession, dir: String,
      times: Int): DataFrame =
    materialized(s, s"span_reg_x$times") {
      graft.dedup.SpanDedup.incremental(docsTimes(s, dir, times),
        "doc_id", "text",
        s.emptyDataFrame.select(lit("").cast("binary").as("h")).limit(0),
        k = 3).newSpans
    }

  /** One arriving ×1 batch: fresh (negative) ids, text sharing most
    * spans with the corpus replicas plus a new per-doc tail span — the
    * mostly-duplicate arrival the incremental path exists for. */
  private def spanBatchDf(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "documents")
      .select((-col("doc_id") - 1).as("doc_id"),
        concat(col("text"), lit(" zb")).as("text"))

  /** The ×`times` token stream of the documents table, materialized. */
  private def tokensFixture(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"toks_x$times") {
      graft.Tables.load(s, dir, "documents")
        .select(col("text"), graft.ops.Replicate.range(1L, times + 1L).as("r"))
        .select(explode(TextOps.tokens(col("text")))
          .as("token"))
        .filter(col("token") =!= "")
        // explode from 5k docs otherwise lands in a handful of fat files,
        // capping every consumer's scan parallelism at the file count
        .repartition(s.sparkContext.defaultParallelism)
    }

  /** A WIDE-vocabulary token stream (25M tokens, ~20M DISTINCT): 80% of
    * positions carry a unique token (web text's ids/urls/typos tail), 20%
    * split over 20 hot tokens (1% each — all far above the k=200
    * threshold). This is the regime exact heavy hitters exists for: the
    * full groupBy's state and shuffle grow with the 20M-token vocabulary
    * while MG's stay k-bounded. Deterministic (pure functions of the row
    * id), materialized once. */
  private def tokensWideFixture(s: SparkSession): DataFrame =
    materialized(s, "toks_wide") {
      s.range(25000000L).select(
        when(pmod(col("id"), lit(5)) < 4,
          concat(lit("u"), col("id").cast("string")))
          .otherwise(concat(lit("hot"), pmod(col("id"), lit(20))
            .cast("string")))
          .as("token"))
    }

  /** The stored Misra–Gries heavy-hitter state of the ×`times` token
    * stream ([[graft.ops.TopKState]], pinned by q141) — what the
    * incremental pipeline keeps between batches (≤ 401 rows). */
  private def topkState(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"topk_state_x$times") {
      graft.ops.TopKState.batchState(tokensFixture(s, dir, times), 400)
    }

  /** ×`times` event history with per-replica-distinct users, materialized:
    * the stored past a distinct-count state summarizes. */
  private def hllHistory(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"hll_hist_x$times") {
      graft.Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          graft.ops.Replicate.rep(times).as("r"))
        .select(col("event_type"),
          (col("user_id") * times + col("r")).as("user_id"))
    }

  /** The per-group HLL state of [[hllHistory]], materialized — what an
    * incremental pipeline actually stores between batches. */
  private def hllState(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"hll_state_x$times") {
      SketchState.batchState(hllHistory(s, dir, times),
        "event_type", col("user_id"))
    }

  /** One new batch with users disjoint from every history replica. */
  private def hllBatch(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "events")
      .select(col("event_type"), (-col("user_id") - 1).as("user_id"))

  /** The per-group DDSketch quantile state of [[hllHistory]] (measure =
    * user_id — the cost driver is row count and bucket spread, not the
    * measure's meaning), materialized: what the incremental pipeline
    * stores between batches. */
  private def ddsState(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"dds_state_x$times") {
      graft.ops.QuantileState.batchState(hllHistory(s, dir, times),
        col("event_type"), col("user_id"))
    }

  /** Uniform-key ×10 as-of inputs (the q127 shape), materialized at a
    * STABLE path (keyed by source row count, like [[lineitemX100Path]])
    * so the same-session DuckDB ASOF twin (tools/oracle_time.py,
    * `m_asof_plain` over `/tmp/graft_matfix_asof_*`) reads the identical
    * files: the q107/q126/q127 ratios time two derivation passes plus
    * the join on both engines, so only this pre-derived pair isolates
    * the union+match work the 4.6–6.9× readings conflated with fixture
    * prep. */
  def asofFixturePath(s: SparkSession, dir: String, side: String,
      times: Int = 10): String = {
    val ev = graft.queries.CdcQueries.events(s, dir)
    val n = ev.count()
    val path = s"/tmp/graft_matfix_asof_${side}_x${times}_$n"
    if (!Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS"))) {
      val repl = ev
        .select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"),
          graft.ops.Replicate.rep(times).as("r"))
        .select((col("event_id") * times + col("r")).as("event_id"),
          (col("ts_us") + col("r")).as("ts_us"), col("user_id"),
          col("event_type"), col("value"))
      val out =
        if (side == "facts")
          repl.where(col("event_type") === "click")
            .select(col("event_id"), col("ts_us"), col("user_id"),
              col("value"))
        else
          repl.where(col("event_type") === "purchase")
            .groupBy(col("user_id"), col("ts_us"))
            .agg(max(struct(col("event_id"), col("value"))).as("m"))
            .select(col("user_id"), col("ts_us"),
              col("m.event_id").as("state_id"),
              col("m.value").as("state_value"))
      out.repartition(s.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  private def asofFixture(s: SparkSession, dir: String, side: String,
      times: Int = 10): DataFrame =
    s.read.parquet(asofFixturePath(s, dir, side, times))

  private def replEmbeddings(s: SparkSession, dir: String,
      times: Int): DataFrame =
    graft.Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        graft.ops.Replicate.rep(times).as("r"))
      .select((col("vec_id") * times + col("r")).as("vec_id"),
        col("embedding"))
      .repartition(s.sparkContext.defaultParallelism)

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Per-cluster ACCUMULATION history for the incremental SemDeDup pair:
    * ×times the embeddings table landed in the SAME clusters under
    * distinct ids — the axis that prices a registry (every batch must be
    * swept against everything already ingested; cluster-count growth, the
    * corpus axis, just adds independent groups). */
  private def semHistory(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"semhist_x$times") {
      graft.Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"),
          graft.ops.Replicate.rep(times).as("r"))
        .select((col("vec_id") * times + col("r") + lit(1000000L)).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(s.sparkContext.defaultParallelism)
    }

  /** The history as the registry the fold consumes: (label, nrm,
    * embedding) — what `newMembers` accumulates; nrm precomputed, ids
    * not needed (registry members never re-sweep each other). */
  private def semRegistry(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"semreg_x$times") {
      semHistory(s, dir, times).select(col("label"),
        graft.sim.Similarity.l2Norm(col("embedding")).as("nrm"),
        col("embedding"))
    }

  /** Fixed centroids (per-label means of the ×1 table — the one-time
    * k-means stand-in q148 also uses). */
  private def semCentroids(s: SparkSession, dir: String): DataFrame =
    materialized(s, "semcents") {
      graft.Tables.load(s, dir, "embeddings").groupBy(col("label"))
        .agg(graft.sim.VectorMean.column(col("embedding")).as("embedding"))
    }

  private def semBatch(s: SparkSession, dir: String): DataFrame =
    materialized(s, "sembatch") {
      graft.Tables.load(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
    }

  def entries: Seq[(String, (SparkSession, String) => () => Unit)] = Seq(
    "m_hh_mg_x100" -> ((s, dir) => {
      val toks = tokensFixture(s, dir, 100)
      // two scans of the materialized tokens: MG candidates, then the
      // bounded recount (which also yields N)
      () => noop(HeavyHitters.exact(toks, k = 200))
    }),
    "m_hh_full_x100" -> ((s, dir) => {
      val toks = tokensFixture(s, dir, 100)
      // the same exact answer via the full-vocabulary shuffle — also two
      // scans (N, then the groupBy), so the pair differs only in shuffle
      // strategy
      () => {
        val n = toks.count()
        noop(toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * 200 > n))
      }
    }),
    "m_hh_mg_wide" -> ((s, dir) => {
      val toks = tokensWideFixture(s)
      () => noop(HeavyHitters.exact(toks, k = 200))
    }),
    "m_hh_full_wide" -> ((s, dir) => {
      val toks = tokensWideFixture(s)
      () => {
        val n = toks.count()
        noop(toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * 200 > n))
      }
    }),
    "m_corpus_release_x10" -> ((s, dir) => {
      // the FIVE-STAGE q89 release over a ×10 corpus, materialized with
      // per-replica-distinct ids and tail-perturbed text (identical
      // replicas would collapse in the pipeline's own exact-dedup stage
      // and time a 1/10th corpus): records where q89's per-stage
      // constants — ~2 s at ×1, broadcast builds + window setup +
      // checkpoint round-trip — amortize against real per-row work
      val d10 = docsTimes(s, dir, 10)
      () => noop(graft.queries.PipelineQueries.corpusRelease(d10))
    }),
    // -------- incremental span dedup (SpanDedup.incremental, pinned by
    // q102): dedup ONE arriving batch against the accumulated span
    // registry vs RE-CLEANING the whole corpus plus the batch — the same
    // knob-pair shape the topk/hll/dds maintenance entries record. The
    // fold reads the batch + the registry (hash-only columns); the
    // rescan re-tokenizes, re-hashes, and re-aggregates the ENTIRE
    // corpus. The ×100→×300 corpus knob shows the rescan growing with the
    // corpus while the fold follows the batch + registry scan (the
    // ×10/×30 first cut sat entirely inside the ~0.8 s job-constant
    // floor on BOTH sides — the SpanHashes kernel made the data work
    // invisible below ~500k docs).
    "m_span_incr_x100" -> ((s, dir) => {
      val reg = spanRegistry(s, dir, 100)
      val batch = spanBatchDf(s, dir)
      () => noop(graft.dedup.SpanDedup
        .incremental(batch, "doc_id", "text", reg, k = 3).cleaned)
    }),
    "m_span_incr_x300" -> ((s, dir) => {
      val reg = spanRegistry(s, dir, 300)
      val batch = spanBatchDf(s, dir)
      () => noop(graft.dedup.SpanDedup
        .incremental(batch, "doc_id", "text", reg, k = 3).cleaned)
    }),
    "m_span_rescan_x100" -> ((s, dir) => {
      val corpus = docsTimes(s, dir, 100)
      val batch = spanBatchDf(s, dir)
      // no batch-only filter: the rescan pipeline's artifact is the FULL
      // cleaned corpus (a filter would let Catalyst prune the reassembly
      // to the batch and benchmark accidental incrementality)
      () => noop(graft.dedup.SpanDedup
        .clean(corpus.select(col("doc_id"), col("text")).unionByName(batch),
          "doc_id", "text", k = 3))
    }),
    "m_span_rescan_x300" -> ((s, dir) => {
      val corpus = docsTimes(s, dir, 300)
      val batch = spanBatchDf(s, dir)
      () => noop(graft.dedup.SpanDedup
        .clean(corpus.select(col("doc_id"), col("text")).unionByName(batch),
          "doc_id", "text", k = 3))
    }),
    "m_q75_mat" -> ((s, dir) => {
      // q75's pricing aggregate over the MATERIALIZED 60M-row stream:
      // same shape, no replicate in the timed region — general-case
      // engine speed on real stored rows (DuckDB twin reads these files)
      val path = lineitemX100Path(s, dir)
      () => {
        val li = s.read.parquet(path)
        val dq = col("l_quantity").cast("decimal(12,2)")
        val dp = col("l_extendedprice").cast("decimal(12,2)")
        val dd = col("l_discount").cast("decimal(6,4)")
        val one = lit(1).cast("decimal(6,4)")
        noop(li.filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"), col("rep"))
          .agg(sum(dq).cast("double").as("sum_qty"),
            sum(dp * (one - dd)).cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus", "rep"))
      }
    }),
    "m_q87_mat" -> ((s, dir) => {
      // q87's broadcast join + revenue aggregate over the materialized
      // stream: 60M real probes, fixed-point sum, no replicate kernel
      val path = lineitemX100Path(s, dir)
      val orders = graft.Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      () => {
        import graft.ops.AggOps.{fixedPointSum, unscaledLong}
        val li = s.read.parquet(path)
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"), col("rep"))
        val revU = unscaledLong(col("l_extendedprice"), 2) *
          (lit(10000L) - unscaledLong(col("l_discount"), 4))
        noop(li.join(broadcast(orders),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"), col("rep"))
          .agg(fixedPointSum(revU, 6, "revenue"),
            count(lit(1)).as("n_rows"))
          .orderBy("o_orderpriority", "rep"))
      }
    }),
    "m_q94_mat" -> ((s, dir) => {
      // the same 60M-row join CO-LOCATED: both sides bucket-written on
      // the join key at ingest (untimed, one file per bucket), so the
      // timed plan has no exchange and no broadcast build — what the
      // engine runs at 100 TB when the ingest paid the shuffle once.
      // Compare against m_q87_mat (same logical query, generic path) and
      // its DuckDB twin (DuckDB has no bucketing concept; the files it
      // reads are m_q87_mat's).
      val path = lineitemX100Path(s, dir)
      def ensure(name: String, build: => org.apache.spark.sql.DataFrame,
          key: String): Unit =
        if (!s.catalog.tableExists(name)) {
          // a previous JVM may have left files the in-memory catalog
          // forgot — drop the stale location before the bucketed write
          val wh = new org.apache.hadoop.fs.Path(
            s.sessionState.conf.warehousePath, name.toLowerCase)
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(wh)) fs.delete(wh, true)
          build.repartition(32, col(key)).write.mode("overwrite")
            .bucketBy(32, key).sortBy(key).saveAsTable(name)
        }
      ensure("mat_li100_bkt",
        s.read.parquet(path).select(col("l_orderkey"),
          col("l_extendedprice"), col("l_discount"), col("rep")),
        "l_orderkey")
      ensure("mat_ord_bkt",
        graft.Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
        "o_orderkey")
      () => {
        import graft.ops.AggOps.{fixedPointSum, unscaledLong}
        val revU = unscaledLong(col("l_extendedprice"), 2) *
          (lit(10000L) - unscaledLong(col("l_discount"), 4))
        noop(s.table("mat_li100_bkt")
          .join(s.table("mat_ord_bkt").hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"), col("rep"))
          .agg(fixedPointSum(revU, 6, "revenue"),
            count(lit(1)).as("n_rows"))
          .orderBy("o_orderpriority", "rep"))
      }
    }),
    "m_pq_encode_x200" -> ((s, dir) => {
      val base = graft.Tables.load(s, dir, "embeddings")
      val model = ProductQuantize.train(base, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16)
      val corpus = replEmbeddings(s, dir, 200)
      () => noop(ProductQuantize.encode(corpus, "vec_id", "embedding", model))
    }),
    "m_pq_search_x200" -> ((s, dir) => {
      val base = graft.Tables.load(s, dir, "embeddings")
      val model = ProductQuantize.train(base, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16)
      val corpus = replEmbeddings(s, dir, 200)
      val queries = base.filter(col("vec_id") < 8)
      val encoded = ProductQuantize
        .encode(corpus, "vec_id", "embedding", model)
        .localCheckpoint(true) // the index is a stored artifact; building
                               // it is m_pq_encode_x200's number
      () => noop(ProductQuantize.adcTopKRerank(corpus, encoded, queries,
        "vec_id", "embedding", model, k = 10, shortlist = 100))
    }),
    "m_topk_fold_x1000" -> ((s, dir) => {
      val state = topkState(s, dir, 1000)
      val batch = tokensFixture(s, dir, 1)
      () => noop(graft.ops.TopKState.merge(Seq(state,
        graft.ops.TopKState.batchState(batch, 400)), 400))
    }),
    "m_topk_fold_x100" -> ((s, dir) => {
      val state = topkState(s, dir, 100)
      val batch = tokensFixture(s, dir, 1)
      () => noop(graft.ops.TopKState.merge(Seq(state,
        graft.ops.TopKState.batchState(batch, 400)), 400))
    }),
    "m_topk_rescan_x1000" -> ((s, dir) => {
      val hist = tokensFixture(s, dir, 1000)
      val batch = tokensFixture(s, dir, 1)
      () => {
        import s.implicits._
        noop(graft.text.HeavyHitters.candidates(
          hist.unionByName(batch).select(col("token")).as[String], 400))
      }
    }),
    "m_topk_rescan_x100" -> ((s, dir) => {
      val hist = tokensFixture(s, dir, 100)
      val batch = tokensFixture(s, dir, 1)
      () => {
        import s.implicits._
        noop(graft.text.HeavyHitters.candidates(
          hist.unionByName(batch).select(col("token")).as[String], 400))
      }
    }),
    "m_hll_fold_x100" -> ((s, dir) => {
      val state = hllState(s, dir, 100)
      val batch = hllBatch(s, dir)
      () => noop(SketchState.estimate(SketchState.merge(Seq(state,
        SketchState.batchState(batch, "event_type", col("user_id"))))))
    }),
    "m_hll_fold_x1000" -> ((s, dir) => {
      val state = hllState(s, dir, 1000)
      val batch = hllBatch(s, dir)
      () => noop(SketchState.estimate(SketchState.merge(Seq(state,
        SketchState.batchState(batch, "event_type", col("user_id"))))))
    }),
    "m_hll_rescan_x100" -> ((s, dir) => {
      val hist = hllHistory(s, dir, 100)
      val batch = hllBatch(s, dir)
      () => noop(SketchState.estimate(SketchState.batchState(
        hist.unionByName(batch), "event_type", col("user_id"))))
    }),
    "m_hll_rescan_x1000" -> ((s, dir) => {
      val hist = hllHistory(s, dir, 1000)
      val batch = hllBatch(s, dir)
      () => noop(SketchState.estimate(SketchState.batchState(
        hist.unionByName(batch), "event_type", col("user_id"))))
    }),
    "m_dds_fold_x100" -> ((s, dir) => {
      val state = ddsState(s, dir, 100)
      val batch = hllBatch(s, dir)
      () => noop(graft.ops.QuantileState.quantiles(
        graft.ops.QuantileState.merge(Seq(state,
          graft.ops.QuantileState.batchState(batch,
            col("event_type"), col("user_id")))), Seq(0.5, 0.95)))
    }),
    "m_dds_fold_x1000" -> ((s, dir) => {
      val state = ddsState(s, dir, 1000)
      val batch = hllBatch(s, dir)
      () => noop(graft.ops.QuantileState.quantiles(
        graft.ops.QuantileState.merge(Seq(state,
          graft.ops.QuantileState.batchState(batch,
            col("event_type"), col("user_id")))), Seq(0.5, 0.95)))
    }),
    "m_dds_rescan_x100" -> ((s, dir) => {
      val hist = hllHistory(s, dir, 100)
      val batch = hllBatch(s, dir)
      () => noop(graft.ops.QuantileState.quantiles(
        graft.ops.QuantileState.batchState(hist.unionByName(batch),
          col("event_type"), col("user_id")), Seq(0.5, 0.95)))
    }),
    "m_dds_rescan_x1000" -> ((s, dir) => {
      val hist = hllHistory(s, dir, 1000)
      val batch = hllBatch(s, dir)
      () => noop(graft.ops.QuantileState.quantiles(
        graft.ops.QuantileState.batchState(hist.unionByName(batch),
          col("event_type"), col("user_id")), Seq(0.5, 0.95)))
    }),
    "m_asof_buck_uniform_x10" -> ((s, dir) => {
      val facts = asofFixture(s, dir, "facts")
      val dims = asofFixture(s, dir, "dims")
      () => noop(graft.operators.AsofJoin.asofBucketed(facts, dims,
        "user_id", "ts_us", Seq("state_id", "state_value"),
        ts => floor(ts / lit(21600000000L))))
    }),
    "m_asof_plain_uniform_x10" -> ((s, dir) => {
      val facts = asofFixture(s, dir, "facts")
      val dims = asofFixture(s, dir, "dims")
      () => noop(graft.operators.AsofJoin.asof(facts, dims,
        "user_id", "ts_us", Seq("state_id", "state_value")))
    }),
    // the work-scale as-of decade: ~20M facts vs ~20M dim versions on the
    // same pre-derived stable fixture the DuckDB ASOF twin reads
    // (oracle_time.py m_asof_x1000). The ×10 twin is constant-dominated
    // (the scan+tag floor IS the whole Spark cost, ~1 s,
    // while DuckDB's engine-side asof is 0.04 s); only this decade
    // measures per-row match work on both engines.
    "m_asof_plain_x1000" -> ((s, dir) => {
      val facts = asofFixture(s, dir, "facts", 1000)
      val dims = asofFixture(s, dir, "dims", 1000)
      () => noop(graft.operators.AsofJoin.asof(facts, dims,
        "user_id", "ts_us", Seq("state_id", "state_value")))
    }),
    // the INGEST-PAID layout at the same decade: both sides bucket-written
    // on the key with an in-bucket (user_id, ts_us) sort (untimed — the
    // shuffle+sort paid once at ingest, q94's co-location story), timed =
    // the zero-exchange zero-sort AsofMerge pass. Compare against
    // m_asof_plain_x1000 (same rows, generic path) and the DuckDB ASOF
    // twin (which always re-sorts — single-node DuckDB has no persistent
    // co-located layout to consume).
    "m_asof_merge_x1000" -> ((s, dir) => {
      def ensure(name: String, path: String): Unit =
        if (!s.catalog.tableExists(name)) {
          val wh = new org.apache.hadoop.fs.Path(
            s.sessionState.conf.warehousePath, name.toLowerCase)
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(wh)) fs.delete(wh, true)
          s.read.parquet(path).repartition(32, col("user_id"))
            .write.mode("overwrite").bucketBy(32, "user_id")
            .sortBy("user_id", "ts_us").saveAsTable(name)
        }
      ensure("asof_facts_bkt1000", asofFixturePath(s, dir, "facts", 1000))
      ensure("asof_dims_bkt1000", asofFixturePath(s, dir, "dims", 1000))
      () => noop(graft.operators.AsofJoin.asofMerge(
        s.table("asof_facts_bkt1000"), s.table("asof_dims_bkt1000"),
        "user_id", "ts_us", Seq("state_id", "state_value")))
    }),
    // incremental SemDeDup (q148) vs re-deciding the accumulated corpus:
    // the fold sweeps the batch against the registry — O(|hist|·|batch| +
    // |batch|²) cosine pairs per cluster, registry members never re-paired
    // — where the rebuild re-runs the batch rule over history ∪ batch,
    // O((|hist|+|batch|)²). Across the ×10→×30 knob the fold's pair count
    // grows ~3× (linear in history) and the rebuild's ~9× (quadratic);
    // both sides read the same materialized fixtures and share the fixed
    // centroids.
    "m_semdedup_fold_x10" -> ((s, dir) => {
      val reg = semRegistry(s, dir, 10)
      val cents = semCentroids(s, dir)
      val batch = semBatch(s, dir)
      () => noop(graft.sim.Similarity.semanticDedupIncremental(batch,
        "vec_id", "embedding", "label", cents, reg, tau = 0.3).kept)
    }),
    "m_semdedup_fold_x30" -> ((s, dir) => {
      val reg = semRegistry(s, dir, 30)
      val cents = semCentroids(s, dir)
      val batch = semBatch(s, dir)
      () => noop(graft.sim.Similarity.semanticDedupIncremental(batch,
        "vec_id", "embedding", "label", cents, reg, tau = 0.3).kept)
    }),
    "m_semdedup_rebuild_x10" -> ((s, dir) => {
      val hist = semHistory(s, dir, 10)
      val cents = semCentroids(s, dir)
      val batch = semBatch(s, dir)
      val empty = batch.select(col("label"), lit(0.0).as("nrm"),
        col("embedding")).limit(0)
      () => noop(graft.sim.Similarity.semanticDedupIncremental(
        hist.unionByName(batch), "vec_id", "embedding", "label", cents,
        empty, tau = 0.3).kept)
    }),
    "m_semdedup_rebuild_x30" -> ((s, dir) => {
      val hist = semHistory(s, dir, 30)
      val cents = semCentroids(s, dir)
      val batch = semBatch(s, dir)
      val empty = batch.select(col("label"), lit(0.0).as("nrm"),
        col("embedding")).limit(0)
      () => noop(graft.sim.Similarity.semanticDedupIncremental(
        hist.unionByName(batch), "vec_id", "embedding", "label", cents,
        empty, tau = 0.3).kept)
    }),

    // ------- graph/event DECADES (r14 prescription: the crossing claims
    // — PageRank 0.18× at ×100 — must live in the driver's BENCH
    // artifact, not a profiling main). All fixtures are replica-tagged
    // DISJOINT copies. What that buys differs by family: for dedup/
    // funnel/cohort the per-copy answers equal the ×1 run (answers are
    // local to a copy); for pagerank/ppr they do NOT — ranks normalize
    // by the GLOBAL node/seed count, so per-copy ranks are ~times×
    // smaller than the ×1 run's. The graph fixtures' self-verifying
    // property is replica EXCHANGEABILITY (copy i's ranks equal copy
    // j's exactly under the integer fixed-point contract — recorded in
    // BENCH_COMPARE.md "PageRank ×1000"). Built untimed through
    // [[materialized]]. The ×100 entries run in the
    // fresh-session class ([[freshNames]]) with min-of-2, the ×10 with
    // min-of-3.
    "m_pagerank_x10" -> ((s, dir) => {
      val e = pagerankEdges(s, dir, 10)
      () => { val r = graft.graph.PageRank.run(e, iters = 5)
        noop(r); r.unpersist(); () }
    }),
    "m_ppr_x10" -> ((s, dir) => {
      val e = pagerankEdges(s, dir, 10)
      val sd = pprSeeds(s, dir, 10)
      () => { val r = graft.graph.PageRank.personalized(e, sd, iters = 5)
        noop(r); r.unpersist(); () }
    }),
    "m_triangles_x10" -> ((s, dir) => {
      val e = sparseTriEdges(s, dir, 10)
      () => noop(graft.graph.Triangles.perNode(e))
    }),
    "m_triangles_x100" -> ((s, dir) => {
      val e = sparseTriEdges(s, dir, 100)
      () => noop(graft.graph.Triangles.perNode(e))
    }),
    "m_linededup_x100" -> ((s, dir) => {
      val d = linedTimes(s, dir, 100)
      () => noop(graft.text.LineClean.dropRepeatedLines(
        d, "doc_id", "text", maxDocs = 2))
    }),
    "m_funnel_x100" -> ((s, dir) => {
      val e = eventsTimes(s, dir, 100)
      () => noop(graft.queries.CdcQueries.funnelOf(e))
    }),
    "m_cohort_x100" -> ((s, dir) => {
      val e = eventsTimes(s, dir, 100)
      () => noop(graft.queries.CdcQueries.cohortOf(
        e.select(col("user_id"), col("ts_us"))))
    }),
    // the banded-LSH corpus decade (r15 prescription #6): q42's exact
    // operator and params over a DUP-HEAVY ×10 corpus (docsTimes replicas
    // differ by a 2-token tail, Jaccard ≈ 0.97 ≥ τ — every replica
    // cluster is a real near-dup cluster). The structural claim under
    // test: banded LSH's candidate set is bucket-bounded, while the
    // exact-pair twin's shingle self-join grows quadratically inside dup
    // clusters — the ×1 ratio (2.76×, lever-exhausted, r12–r14) should
    // CROSS as clusters widen. DuckDB twin: m_q42_x10_duck in
    // tools/twins_time.py (q41's exact-pair SQL over the same fixture).
    "m_q42_x10" -> ((s, dir) => {
      val d = docsTimes(s, dir, 10)
      () => noop(graft.dedup.Dedup.minHashLsh(d, "doc_id", "text", n = 2,
        bands = 16, rowsPerBand = 8, threshold = 0.9))
    }),
    // warm-start PageRank maintenance pair (q170's operator, priced like
    // every other incremental family): after ONE new disjoint batch of
    // edges lands in a ×10 accumulated graph, advance ranks k=2 from the
    // stored prior ([[graft.graph.PageRank.resume]]) vs recompute k=5
    // from uniform. Both sides run the SAME per-iteration join over the
    // same grown edge set, so the pair isolates exactly what warm start
    // buys: iteration count (fold ≈ 2/5 of rebuild, minus shared
    // constants); StreamingPagerankWarmSpec pins that the informed r0
    // lands at least as close to the fixed point as the equal-k cold
    // start, so the speedup is not paid in quality.
    "m_spagerank_fold_x10" -> ((s, dir) => {
      val grown = pagerankEdges(s, dir, 10).unionByName(prBatchEdges(s, dir))
      val prior = prPrior(s, dir, 10)
      () => { val r = graft.graph.PageRank.resume(grown, prior, iters = 2)
        noop(r); r.unpersist(); () }
    }),
    "m_spagerank_rebuild_x10" -> ((s, dir) => {
      val grown = pagerankEdges(s, dir, 10).unionByName(prBatchEdges(s, dir))
      () => { val r = graft.graph.PageRank.run(grown, iters = 5)
        noop(r); r.unpersist(); () }
    }),
    // the ×100 decade of the same pair: the ×10 point read fold = 0.66×
    // of rebuild all-in. The "constant amortizes toward 0.4× as |E|
    // grows" prediction was REFUTED by this pair's first run (fold
    // 29.4 s vs rebuild 48.8 s = 0.60× — scale-invariant): the shared
    // prep (edge canonicalize+cache, node census, prior join) is O(|E|),
    // not constant, and stays ≈2 iteration-equivalents at every scale.
    // BENCH_COMPARE r16's warm-start section records the solved model
    // and the production implication (keep prep incremental too).
    "m_spagerank_fold_x100" -> ((s, dir) => {
      val grown = pagerankEdges(s, dir, 100).unionByName(prBatchEdges(s, dir))
      val prior = prPrior(s, dir, 100)
      () => { val r = graft.graph.PageRank.resume(grown, prior, iters = 2)
        noop(r); r.unpersist(); () }
    }),
    "m_spagerank_rebuild_x100" -> ((s, dir) => {
      val grown = pagerankEdges(s, dir, 100).unionByName(prBatchEdges(s, dir))
      () => { val r = graft.graph.PageRank.run(grown, iters = 5)
        noop(r); r.unpersist(); () }
    }),
    // -------- the three LONGEST decade entries run LAST (r17, VERDICT
    // r16 #2: the driver's 42-min budget guard skipped the five entries
    // ABOVE because the r16 ordering put the tens-of-minutes monsters
    // before them — never-yet-driver-timed entries must come first so a
    // budget exhaustion only drops already-characterized curves).
    "m_pagerank_x100" -> ((s, dir) => {
      val e = pagerankEdges(s, dir, 100)
      () => { val r = graft.graph.PageRank.run(e, iters = 5)
        noop(r); r.unpersist(); () }
    }),
    "m_ppr_x100" -> ((s, dir) => {
      val e = pagerankEdges(s, dir, 100)
      val sd = pprSeeds(s, dir, 100)
      () => { val r = graft.graph.PageRank.personalized(e, sd, iters = 5)
        noop(r); r.unpersist(); () }
    }),
    // the THIRD triangle decade (120M sparse edges): tests the m^1.5
    // slope where the DuckDB twin already fell off at ×100 (32.5 s vs
    // 7.8 s — BENCH_COMPARE r15); single timed pass by the adaptive rule
    "m_triangles_x1000" -> ((s, dir) => {
      val e = sparseTriEdges(s, dir, 1000)
      () => noop(graft.graph.Triangles.perNode(e))
    }))

  /** Entries the bench must run in a FRESH SparkContext (stop + rebuild,
    * one fixture pass untimed, min-of-2): the tens-of-seconds decade
    * passes, which both suffer and cause late-session heap/shuffle
    * pressure in the shared 100+-entry JVM (the same distortion that
    * moved q100/q115 35–60% before the long-entry isolation protocol). */
  def freshNames: Set[String] = Set(
    "m_pagerank_x10", "m_pagerank_x100", "m_ppr_x10", "m_ppr_x100",
    "m_triangles_x10", "m_triangles_x100", "m_triangles_x1000",
    "m_linededup_x100",
    "m_funnel_x100", "m_cohort_x100",
    "m_q42_x10", "m_spagerank_fold_x10", "m_spagerank_rebuild_x10",
    "m_spagerank_fold_x100", "m_spagerank_rebuild_x100",
    // r17 (VERDICT r16 #3): the driver's r16 artifact read this entry at
    // 21.8 s where the same code reads 1.5–2.0 s isolated (and 4.7 s at
    // 8 cores) — a single ≥8 s pass recorded from the tail of the shared
    // 100+-entry JVM, the exact late-session distortion the fresh-session
    // class exists for. Isolating it also buys min-of-2 with a warmup.
    "m_topk_rescan_x1000")

  /** Replica-tagged corpus PageRank edges: `times` disjoint copies of
    * [[graft.graph.PageRank.corpusEdges]], node ids suffixed per copy. */
  private def pagerankEdges(s: SparkSession, dir: String,
      times: Int): DataFrame =
    materialized(s, s"pr_edges_x${times}_") {
      graft.graph.PageRank.corpusEdges(s, dir)
        .select(col("src"), col("dst"),
          graft.ops.Replicate.rep(times).as("r"))
        .select(concat(col("src"), lit("_"), col("r")).as("src"),
          concat(col("dst"), lit("_"), col("r")).as("dst"))
        .repartition(s.sparkContext.defaultParallelism)
    }

  /** q167's trust seeds (nation-0 customers), tagged per replica so each
    * copy teleports only to its own seeds (per-copy ranks are mutually
    * EQUAL across copies, though ~times× smaller than the ×1 run — the
    * global |S| normalization; see the decade-block note above). */
  private def pprSeeds(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"ppr_seeds_x${times}_") {
      graft.Tables.load(s, dir, "customer")
        .where(col("c_nationkey") === 0)
        .select(concat(lit("c"), col("c_custkey")).as("node"),
          graft.ops.Replicate.rep(times).as("r"))
        .select(concat(col("node"), lit("_"), col("r")).as("node"))
    }

  /** A SPARSE deterministic triangle-rich graph for the decade entries:
    * circulant edges over 20k nodes per replica — node `l_orderkey mod
    * 20000`, neighbor at offset `1 + (l_partkey mod 6)` (mod 20000) —
    * replica-tagged disjoint. Why not q166's supplier co-part
    * projection: that graph is NEARLY COMPLETE at bench scale (sf0.1
    * has 1000 suppliers and ~every pair co-ships some part), so its
    * wedge count grows with n³ under replication — the ×100 attempt
    * shuffled past the host's disk (r15, recorded). The m^1.5 decade
    * claim is about EDGE growth on the sparse shape real web/citation
    * graphs have; the dense form stays covered by the oracled q166.
    * Circulant offsets ≤ 6 close triangles wherever offsets d1, d2 and
    * d1+d2 all exist at a node — abundant and exactly repeated per
    * replica (self-verifying). */
  private def sparseTriEdges(s: SparkSession, dir: String,
      times: Int): DataFrame =
    materialized(s, s"tri_edges_x${times}_") {
      val n = 20000
      graft.Tables.load(s, dir, "lineitem")
        .select((col("l_orderkey") % n).as("a"),
          ((col("l_orderkey") + lit(1) + col("l_partkey") % 6) % n).as("b"))
        .distinct()
        .select(col("a"), col("b"), graft.ops.Replicate.rep(times).as("r"))
        .select((col("a") * times + col("r")).as("src"),
          (col("b") * times + col("r")).as("dst"))
        .repartition(s.sparkContext.defaultParallelism)
    }

  /** The q159/q160 lined corpus (PipelineQueries.linedDocs — the decade
    * measures the hash-green queries' exact input), replica-tagged: each
    * line suffixed per copy, ids offset, so each copy's hot set equals
    * the ×1 run. */
  private def linedTimes(s: SparkSession, dir: String,
      times: Int): DataFrame =
    materialized(s, s"lined_x${times}_") {
      graft.queries.PipelineQueries.linedDocs(s, dir)
        .select(col("doc_id"), col("text"),
          graft.ops.Replicate.rep(times).as("r"))
        .select((col("doc_id") + col("r") * lit(10000000L)).as("doc_id"),
          array_join(
            transform(split(col("text"), "\n"),
              l => concat_ws(" #", l, col("r").cast("string"))),
            "\n").as("text"))
        .repartition(s.sparkContext.defaultParallelism)
    }

  /** ONE arriving edge batch for the warm-start PageRank pair: a fresh
    * disjoint copy of the corpus graph (node ids suffixed `_b` — no
    * overlap with any [[pagerankEdges]] replica). */
  private def prBatchEdges(s: SparkSession, dir: String): DataFrame =
    materialized(s, "pr_batch_") {
      graft.graph.PageRank.corpusEdges(s, dir)
        .select(concat(col("src"), lit("_b")).as("src"),
          concat(col("dst"), lit("_b")).as("dst"))
        .repartition(s.sparkContext.defaultParallelism)
    }

  /** The STORED ranks of the ×`times` accumulated graph (k=5 from
    * uniform — what the maintenance pipeline keeps between batches),
    * materialized: the warm-start pair's prior is ingest-paid state,
    * never part of the timed fold. */
  private def prPrior(s: SparkSession, dir: String, times: Int): DataFrame =
    materialized(s, s"pr_prior_x${times}_") {
      graft.graph.PageRank.run(pagerankEdges(s, dir, times), iters = 5)
    }

  /** The events stream ×`times` with per-replica user-id offsets
    * (disjoint user populations — per-copy funnels/cohorts equal the ×1
    * run). */
  private def eventsTimes(s: SparkSession, dir: String,
      times: Int): DataFrame =
    materialized(s, s"events_x${times}_") {
      graft.queries.CdcQueries.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          graft.ops.Replicate.rep(times).as("r"))
        .select((col("user_id") + col("r") * lit(100000000L)).as("user_id"),
          col("event_type"), col("ts_us"))
        .repartition(s.sparkContext.defaultParallelism)
    }
}
