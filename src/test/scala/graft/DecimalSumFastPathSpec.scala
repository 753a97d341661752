package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the sum(decimal)→unscaled-long optimizer rule: fires on the
  * eligible shape (and only there), is disable-able, and never changes the
  * result — checked by value against the same query with the rule off. */
class DecimalSumFastPathSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def sample: DataFrame =
    Seq((1, 10.05, 0.04), (1, 2.50, 0.00), (2, 1.005, 0.10),
      (2, -3.75, 0.02), (3, 0.0, 0.0))
      .toDF("k", "price", "disc")

  private def pricing(df: DataFrame): DataFrame =
    df.groupBy("k").agg(
      sum(col("price").cast("decimal(12,2)")).cast("double").as("s1"),
      sum(col("price").cast("decimal(12,2)") *
        (lit(1).cast("decimal(6,4)") - col("disc").cast("decimal(6,4)")))
        .cast("double").as("s2"))
      .orderBy("k")

  private def optimizedString(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("rewrites sum(cast(double as decimal)).cast(double) to the long path") {
    val plan = optimizedString(pricing(sample))
    assert(plan.contains("unscaled_fixed("), plan)
    assert(!plan.contains("sum(cast(price"), plan)
  }

  test("values are identical with the rule on and off") {
    val on = pricing(sample).collect()
    spark.conf.set("spark.graft.decimalFastPath", "false")
    try {
      val offPlan = optimizedString(pricing(sample))
      assert(!offPlan.contains("unscaled_fixed("), offPlan)
      val off = pricing(sample).collect()
      assert(on.toSeq === off.toSeq)
    } finally spark.conf.unset("spark.graft.decimalFastPath")
  }

  test("leaves DISTINCT, FILTER, and double sums alone") {
    val df = sample
    val distinctPlan = optimizedString(df.groupBy("k")
      .agg(sum_distinct(col("price").cast("decimal(12,2)")).cast("double")))
    assert(!distinctPlan.contains("unscaled_fixed("), distinctPlan)

    df.createOrReplaceTempView("fp_sample")
    val filterPlan = optimizedString(spark.sql(
      """SELECT k, CAST(SUM(CAST(price AS DECIMAL(12,2)))
        |  FILTER (WHERE disc > 0) AS DOUBLE) FROM fp_sample GROUP BY k"""
        .stripMargin))
    assert(!filterPlan.contains("unscaled_fixed("), filterPlan)

    // plain double sum: order-sensitive, not a decimal, must not rewrite
    val doublePlan = optimizedString(df.groupBy("k")
      .agg(sum(col("price")).cast("double")))
    assert(!doublePlan.contains("unscaled_fixed("), doublePlan)
  }

  test("decimal-typed sum results rewrite too and stay exact") {
    def q = sample.groupBy("k")
      .agg(sum(col("price").cast("decimal(12,2)")).as("s")).orderBy("k")
    val plan = optimizedString(q)
    assert(plan.contains("unscaled_fixed("), plan)
    val on = q.collect()
    spark.conf.set("spark.graft.decimalFastPath", "false")
    try {
      val off = q.collect()
      assert(on.toSeq === off.toSeq)
      assert(on.head.getDecimal(1) === off.head.getDecimal(1))
    } finally spark.conf.unset("spark.graft.decimalFastPath")
  }

  test("scales beyond 6 stay on the native path (divide rescale would round)") {
    val plan = optimizedString(sample.groupBy("k")
      .agg(sum(col("price").cast("decimal(18,8)")).cast("double")))
    assert(!plan.contains("unscaled_fixed("), plan)
    val decPlan = optimizedString(sample.groupBy("k")
      .agg(sum(col("price").cast("decimal(18,8)"))))
    assert(!decPlan.contains("unscaled_fixed("), decPlan)
  }

  test("combined precision beyond the cap does not rewrite") {
    // 18+7 digits of product precision can overflow a long per row
    val plan = optimizedString(sample.groupBy("k").agg(
      sum(col("price").cast("decimal(18,2)") *
        (lit(1).cast("decimal(6,4)") - col("disc").cast("decimal(6,4)")))
        .cast("double")))
    assert(!plan.contains("unscaled_fixed("), plan)
  }

  test("window sums over decimal are untouched (rule scope is Aggregate only)") {
    sample.createOrReplaceTempView("fp_win")
    def q = spark.sql(
      """SELECT k, CAST(SUM(CAST(price AS DECIMAL(12,2)))
        |  OVER (PARTITION BY k ORDER BY price) AS DOUBLE) AS running
        |FROM fp_win""".stripMargin)
    val plan = optimizedString(q)
    assert(!plan.contains("unscaled_fixed("), plan)
    val on = q.collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.decimalFastPath", "false")
    try assert(on === q.collect().map(_.toString).sorted.toSeq)
    finally spark.conf.unset("spark.graft.decimalFastPath")
  }

  test("NULL inputs flow through the fused kernel like the native path") {
    val withNulls = Seq[(Int, Option[Double], Option[Double])](
      (1, Some(10.05), Some(0.04)), (1, None, Some(0.5)),
      (2, None, None), (3, Some(1.005), None))
      .toDF("k", "price", "disc")
    def q = withNulls.groupBy("k").agg(
      sum(col("price").cast("decimal(12,2)")).cast("double").as("s"))
      .orderBy("k")
    val plan = optimizedString(q)
    assert(plan.contains("unscaled_fixed("), plan)
    val on = q.collect()
    spark.conf.set("spark.graft.decimalFastPath", "false")
    try assert(on.toSeq === q.collect().toSeq)
    finally spark.conf.unset("spark.graft.decimalFastPath")
    // group 2 is all-NULL: sum must be NULL, not 0
    assert(on.find(_.getInt(0) == 2).get.isNullAt(1))
  }

  test("string-tie values stay exact through the rewritten plan") {
    // 1.005's decimal cast rounds UP (string semantics) — the fast path
    // must agree group-wise after aggregation too
    val row = pricing(sample).filter($"k" === 2).collect().head
    assert(math.abs(row.getDouble(1) - (1.01 - 3.75)) < 1e-12)
  }
}
