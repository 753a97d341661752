package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the rollup/cube one-pass re-aggregation rule: the Expand
  * moves above a finest-level aggregate, and results are row-for-row
  * identical to the native (rule-off) plan — including data NULLs in the
  * grouping dims, grouping_id(), min/max, cube, named grouping sets, and
  * empty input. */
class GroupingSetReaggSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // data NULL in dim 'a' must stay distinguishable from rollup's own nulls
  private def sample: DataFrame =
    Seq((Some("x"), "u", 1, 2.5), (Some("x"), "v", 3, 1.5),
      (None, "u", 5, 0.5), (Some("y"), "v", 7, 4.25),
      (Some("y"), "v", 2, -1.0), (None, "w", 4, 10.0))
      .toDF("a", "b", "n", "d")

  private def bothWays(q: => DataFrame): (Array[String], String) = {
    val onPlan = q.queryExecution.optimizedPlan.toString
    val on = q.collect().map(_.toString).sorted
    spark.conf.set("spark.graft.groupingSetReagg", "false")
    try {
      val offPlan = q.queryExecution.optimizedPlan.toString
      assert(!offPlan.contains("__graft_partial_"), offPlan)
      val off = q.collect().map(_.toString).sorted
      assert(on.toSeq === off.toSeq)
    } finally spark.conf.unset("spark.graft.groupingSetReagg")
    (on, onPlan)
  }

  test("rollup with count/sum(int)/min/max matches native, plan has one finest pass") {
    val (_, plan) = bothWays(sample.rollup($"a", $"b").agg(
      count(lit(1)).as("cnt"), sum($"n").as("s"),
      min($"n").as("mn"), max($"d").as("mx")))
    assert(plan.contains("__graft_partial_"), plan)
  }

  test("cube and grouping_id() match native") {
    val (_, plan) = bothWays(sample.cube($"a", $"b").agg(
      grouping_id().as("gid"), sum($"n").as("s")))
    assert(plan.contains("__graft_partial_"), plan)
  }

  test("decimal sum cast to double composes with the decimal fast path") {
    val (_, plan) = bothWays(sample.rollup($"a").agg(
      sum($"d".cast("decimal(12,2)")).cast("double").as("s")))
    assert(plan.contains("__graft_partial_"), plan)
    assert(plan.contains("unscaled_fixed("), plan)
  }

  test("SQL GROUPING SETS matches native") {
    sample.createOrReplaceTempView("gs_sample")
    val (_, plan) = bothWays(spark.sql(
      """SELECT a, b, COUNT(*) AS c, SUM(n) AS s FROM gs_sample
        |GROUP BY GROUPING SETS ((a), (b), (a, b), ())""".stripMargin))
    assert(plan.contains("__graft_partial_"), plan)
  }

  test("empty input produces zero rows, like native") {
    val empty = sample.filter($"n" > 100)
    val (rows, _) = bothWays(empty.rollup($"a", $"b").agg(sum($"n")))
    assert(rows.isEmpty)
  }

  test("non-decomposable aggregates stay on the native path") {
    // avg decomposes only as sum/count — current rule leaves it alone
    val avgPlan = sample.rollup($"a").agg(avg($"n"))
      .queryExecution.optimizedPlan.toString
    assert(!avgPlan.contains("__graft_partial_"), avgPlan)
    // double sums are order-sensitive: no rewrite
    val dblPlan = sample.rollup($"a").agg(sum($"d"))
      .queryExecution.optimizedPlan.toString
    assert(!dblPlan.contains("__graft_partial_"), dblPlan)
    // DISTINCT: no rewrite
    val distPlan = sample.rollup($"a").agg(sum_distinct($"n"))
      .queryExecution.optimizedPlan.toString
    assert(!distPlan.contains("__graft_partial_"), distPlan)
  }

  test("HAVING over a rewritten rollup filters the re-aggregated values") {
    sample.createOrReplaceTempView("gs_having")
    val (rows, plan) = bothWays(spark.sql(
      """SELECT a, b, SUM(n) AS s FROM gs_having
        |GROUP BY ROLLUP (a, b) HAVING SUM(n) > 5""".stripMargin))
    assert(plan.contains("__graft_partial_"), plan)
    assert(rows.nonEmpty)
  }

  test("rewrite matches native on a wider random frame") {
    val rnd = new scala.util.Random(7)
    val wide = (1 to 5000).map { _ =>
      (if (rnd.nextInt(10) == 0) None else Some(s"k${rnd.nextInt(7)}"),
        s"g${rnd.nextInt(5)}", rnd.nextInt(1000) - 500,
        math.round(rnd.nextDouble() * 1e4) / 100.0)
    }.toDF("a", "b", "n", "d")
    bothWays(wide.cube($"a", $"b").agg(
      count(lit(1)), sum($"n"), min($"d"), max($"d"),
      sum($"d".cast("decimal(12,2)")).cast("double")))
  }
}
