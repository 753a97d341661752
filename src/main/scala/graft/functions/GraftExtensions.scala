package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

/** The engine's one registration point: every SQL function, optimizer rule
  * and planner strategy graft adds to Spark is injected here, activated
  * with `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`, which
  * [[graft.GraftSession.configure]] does). Every session built with it —
  * and every `newSession()` sibling, which inherits the extensions — has
  * the whole engine without imperative setup and without touching
  * mutable per-session hooks. Library operators construct their native
  * expressions directly (e.g. [[graft.sim.Similarity.dot]]), so only the
  * SQL spelling and the custom plan nodes need a session carrying this. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), b))
    }
    // sum(decimal)→unscaled-long fast path; disable with
    // spark.graft.decimalFastPath=false. Injected BEFORE the reagg rule so
    // a rollup's decimal sums go long first, then decompose as long sums.
    ext.injectOptimizerRule(_ => graft.plans.DecimalSumFastPath)
    // rollup/cube one-pass re-aggregation; disable with
    // spark.graft.groupingSetReagg=false.
    ext.injectOptimizerRule(_ => graft.plans.GroupingSetReagg)
    // AsofCarry/AsofMerge → their streaming exec nodes
    ext.injectPlannerStrategy(_ => graft.plans.AsofCarryStrategy)
  }
}

object GraftExtensions {

  /** Lift a Column-composition operator into a SQL function builder — the
    * curation building blocks (deterministic sampling buckets, tokenizer,
    * language id, fingerprints …) are Column→Column functions over
    * built-in expressions, so the SQL surface reuses them verbatim
    * instead of re-deriving expression trees. */
  private def fromColumns(name: String, arity: Int)(
      f: Seq[Column] => Column): Seq[Expression] => Expression = { exprs =>
    require(exprs.length == arity,
      s"$name expects $arity argument(s), got ${exprs.length}")
    ColumnBridge.expression(f(exprs.map(ColumnBridge.column)))
  }

  /** Every engine function the SQL surface exposes (§2.7 extended to the
    * curation wave): the native expressions plus the deterministic-
    * curation scalars. */
  private val builders: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "simhash64" -> (exprs => SimHash64(exprs.head)),
      "vec_dot" -> (exprs => FloatDot(exprs(0), exprs(1))),
      "unscaled_fixed" -> UnscaledFixed.build,
      "pq_encode" ->
        (exprs => PqEncode(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4))),
      "token_buckets" -> (exprs => TokenBuckets(exprs(0), exprs(1))),
      "fast_tokens" -> (exprs => FastTokens(exprs.head)),
      // deterministic md5 sampling bucket in [0, 10000) / raw 32-bit form —
      // the portable keep/split decision every sampler shares
      "graft_bucket" ->
        fromColumns("graft_bucket", 1)(c => graft.curate.Sampling.bucket(c.head)),
      "graft_bucket32" ->
        fromColumns("graft_bucket32", 1)(c => graft.curate.Sampling.bucket32(c.head)),
      // the text pipeline's shared tokenizer + per-document scalars
      "graft_normalize" ->
        fromColumns("graft_normalize", 1)(c => graft.text.TextOps.normalized(c.head)),
      "graft_words" -> (exprs => FastTokens(exprs.head)),
      "graft_token_count" ->
        fromColumns("graft_token_count", 1)(c =>
          graft.text.TextOps.tokenCountWs(c.head)),
      "graft_lang_id" ->
        fromColumns("graft_lang_id", 1)(c => graft.text.TextOps.langId(
          graft.text.TextOps.tokens(c.head))),
      "graft_fingerprint" ->
        fromColumns("graft_fingerprint", 1)(c =>
          graft.text.TextOps.fingerprint(c.head)),
      "graft_redact" ->
        fromColumns("graft_redact", 1)(c => graft.text.TextOps.redact(c.head)),
    )
}
