package graft.text


import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Exact heavy hitters over an unbounded token stream in two bounded-memory
  * passes — the scale-correct alternative to `GROUP BY token` when the
  * vocabulary itself is too large to shuffle.
  *
  * A full-vocabulary `groupBy("token").count()` (the q85 shape) shuffles one
  * partial count per DISTINCT token per map task; over 100 TB of web text
  * the vocabulary is billions of strings (typos, ids, urls) and the shuffle
  * is corpus-sized. But the usual question — "which tokens exceed p% of the
  * corpus?" — has a bounded answer (< 1/p tokens can exceed a p fraction),
  * and Misra–Gries answers it in O(k) memory per partition:
  *
  *   - Pass 1 ([[candidates]]): each partition runs a k-counter
  *     Misra–Gries summary over its tokens. MG's guarantee: any item with
  *     in-partition count > n_p/(k+1) survives the summary. Summing the
  *     per-partition bounds, any token with GLOBAL count > N/(k+1) — in
  *     particular anything above N/k — appears in at least one partition's
  *     summary, so the union of summaries is a guaranteed superset of the
  *     heavy hitters. The shuffle is ≤ k·partitions short strings, corpus-
  *     size-independent.
  *   - Pass 2 ([[exact]]): one more scan recounts ONLY the candidates
  *     (every non-candidate collapses into a single null group that also
  *     yields the exact total N), and the > N/k filter runs on exact
  *     integer counts. No approximation survives to the output.
  *
  * Both passes are one narrow scan + one bounded shuffle; nothing is
  * proportional to vocabulary size. The MG loop is genuine per-partition
  * imperative state, hence the one imperative scan (batch-compaction
  * form: one hash op per token, compactions amortize to O(1)/token —
  * see [[candidates]]). Cost model, recorded by the m_hh bench quad over
  * two 25M-token streams differing only in vocabulary (30k vs 20M
  * distinct): exact() is FLAT across vocabulary (~2.7 s both) because
  * its state and shuffle are k-bounded, while the plain groupBy grows
  * with the vocabulary it carries (~0.5 s → ~2.0 s over that 670×
  * step). Use the groupBy where the vocabulary fits — it is one
  * aggregation pass against MG's two; use MG where it doesn't, which is
  * exactly the 100 TB web-text tail (billions of distinct tokens).
  *
  * The vocabulary-≫-memory regime is MEASURED, not extrapolated
  * (BENCH_COMPARE.md "Heavy hitters: the crossover, forced by heap";
  * wide3 = 750M tokens / ~600M distinct,
  * r14): at a 4 GiB heap MG completes in 76.2 s — within 1.3× of its
  * 16 GiB number, state k-bounded by construction — while the full
  * groupBy's vocabulary-sized aggregation state OOM-kills the JVM on
  * its first pass (at 6 GiB its first pass limps through at 62 s and
  * the repeat dies; at 16 GiB both complete and the difference is
  * spill-regime variance only — BENCH_COMPARE r13/r14 carry all three
  * heap points). "Vocabulary exceeds aggregate memory" is therefore a
  * completes-vs-crashes separation, not a throughput ratio.
  *
  * Counterpart of the reference's frequency profiling (the vendor export
  * pipeline's per-table counts) lifted to token granularity; threshold
  * semantics follow Misra & Gries (1982) / the MG summary in Cormode's
  * survey of frequency sketches.
  */
object HeavyHitters {

  /** Per-partition Misra–Gries candidate tokens (capacity k per partition).
    * Output is the distinct union of partition summaries: a guaranteed
    * superset of every token with global count > N/(k+1).
    *
    * Implementation is the BATCH-COMPACTION form of MG (the mergeable-
    * summaries formulation, Agarwal et al., PODS'12): tokens accumulate
    * exact counts in a bounded map; when the map reaches `k + L` entries
    * it compacts by subtracting the (k+1)-th largest count from every
    * entry and dropping the non-positives, leaving ≤ k. Each compaction
    * removes ≥ (k+1)·v occurrences of mass for offset v, so the total
    * subtracted offset is ≤ n/(k+1) — the classic MG undercount bound,
    * hence the same superset guarantee — while the hot loop is ONE hash
    * op per token instead of the textbook decrement-all round per miss
    * (which on a Zipf stream with a saturated summary degenerates to an
    * O(k) sweep per incoming rare token and measured ~3.5× the cost of
    * the full groupBy it is meant to beat). Memory stays O(k + L).
    *
    * The loop runs over `queryExecution.toRdd` — Tungsten rows, not the
    * Dataset encoder — so each token is read as a zero-copy [[UTF8String]]
    * slice of the scan buffer; a token is copied only when it ENTERS the
    * map (rows reuse their backing buffers, so surviving keys must own
    * their bytes), and only the ≤ k·partitions survivors are materialized
    * as strings at the end. */
  def candidates(tokens: Dataset[String], k: Int): DataFrame = {
    require(k >= 1, s"heavy-hitter capacity must be >= 1, got $k")
    val spark = tokens.sparkSession
    import spark.implicits._
    val slack = math.max(3 * k, 4096) // L: exact-count slots per compaction
    val rdd = tokens.toDF("token").queryExecution.toRdd.mapPartitions { it =>
      val counters = new java.util.HashMap[
        org.apache.spark.unsafe.types.UTF8String, Counter](2 * (k + slack))
      def compact(): Unit = {
        // offset = (k+1)-th largest count; subtract from all, keep > 0
        val counts = new Array[Long](counters.size)
        var i = 0
        val vt = counters.values().iterator()
        while (vt.hasNext) { counts(i) = vt.next().n; i += 1 }
        java.util.Arrays.sort(counts)
        val offset = counts(counts.length - (k + 1))
        val jt = counters.values().iterator()
        while (jt.hasNext) {
          val c = jt.next()
          if (c.n <= offset) jt.remove() else c.n -= offset
        }
      }
      it.foreach { row =>
        if (!row.isNullAt(0)) {
          val t = row.getUTF8String(0)
          val c = counters.get(t)
          if (c != null) c.n += 1
          else {
            counters.put(t.clone(), new Counter(1))
            if (counters.size >= k + slack) compact()
          }
        }
      }
      // final compaction: the emitted summary obeys the ≤ k bound (the
      // shuffle carries k·partitions candidates, same as textbook MG)
      if (counters.size > k) compact()
      val out = new Array[String](counters.size)
      val kt = counters.keySet().iterator()
      var i = 0
      while (kt.hasNext) { out(i) = kt.next().toString; i += 1 }
      out.iterator
    }
    spark.createDataset(rdd).toDF("token").distinct()
  }

  private final class Counter(var n: Long)

  /** The recount aggregation pre-checkpoint — exposed so the spec can
    * plan-assert its shape (candidates broadcast into a LeftOuter
    * BroadcastHashJoin; the token stream itself NEVER shuffles on token;
    * the only token-stream exchange carries ≤ k·partitions + 1 partial
    * groups): candidate tokens keep their identity, every other token
    * folds into the null group, so one aggregation yields the exact
    * candidate counts AND the exact stream total N (sum over all
    * groups). */
  private[graft] def recount(tokens: DataFrame, cands: DataFrame,
      k: Int): DataFrame =
    tokens
      .join(broadcast(cands.withColumn("__cand", lit(true))),
        Seq("token"), "left")
      .groupBy(when(col("__cand"), col("token")).as("token"))
      .agg(count(lit(1)).as("n"))

  /** Exact counts of every token whose global count strictly exceeds
    * `N / k` (integer-exact: `count * k > N`), as `(token, n)`.
    *
    * `tokens` must be a single string column named `token`. Two scans of
    * the stream; all shuffles bounded by k·partitions candidates. The two
    * passes RE-EXECUTE the input plan — if `tokens` is derived (e.g. an
    * explode over a tokenizer), pass a materialized frame (parquet / a
    * checkpoint) instead, or the derivation cost is paid twice and
    * dominates: at the ×100 bench scale tokenization is ~24 s/pass while
    * each MG pass over materialized tokens is a fraction of that. */
  def exact(tokens: DataFrame, k: Int): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    val cands = candidates(tokens.select(col("token")).as[String], k)
    // The counted frame is bounded and feeds two consumers (the total and
    // the filter), so it is eagerly checkpointed — the AggOps pattern —
    // instead of re-running the recount scan per consumer.
    val counted = recount(tokens, cands, k)
      .localCheckpoint(true)
    val total = counted.groupBy().agg(sum(col("n")).as("__total"))
    counted
      .where(col("token").isNotNull)
      .crossJoin(broadcast(total)) // 1-row frame: the exact stream total
      .where(col("n") * k > col("__total"))
      .select(col("token"), col("n"))
  }
}
