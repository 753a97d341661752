package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.AsofJoin
import graft.plans.{AsofCarryExec, AsofMergeExec}

/** [[GraftExtensions]] is the engine's one registration point: a
  * `newSession()` sibling inherits the extensions, so the as-of nodes plan
  * and the SQL functions resolve on it with no per-session setup, and no
  * engine call mutates the session's `experimental` hooks. */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec
    with AdaptiveSparkPlanHelper {

  /** As-of (carry and merge) plus a `simhash64` projection on `s`; returns
    * whether each executed plan holds its exec node, and the hash
    * column's values. */
  private def exercise(s: SparkSession): (Boolean, Boolean, Seq[Long]) = {
    val dims = s.createDataFrame(Seq((1L, 10L, "v1"), (1L, 20L, "v2"),
      (2L, 15L, "w1"))).toDF("k", "ts", "state")
    val facts = s.createDataFrame(Seq((100L, 1L, 12L), (101L, 2L, 30L),
      (102L, 3L, 5L))).toDF("fid", "k", "ts")
    val carry = AsofJoin.asof(facts, dims, "k", "ts", Seq("state"))
    val merge = AsofJoin.asofMerge(facts, dims, "k", "ts", Seq("state"))
    assert(carry.collect().length === 3)
    assert(merge.collect().length === 3)
    val hashes = s.createDataFrame(Seq(Tuple1("alpha beta"))).toDF("text")
      .selectExpr("simhash64(split(text, ' ')) AS h")
      .collect().map(_.getLong(0)).toSeq
    def holds(df: DataFrame, node: Class[_]): Boolean =
      find(df.queryExecution.executedPlan)(node.isInstance).isDefined
    (holds(carry, classOf[AsofCarryExec]),
      holds(merge, classOf[AsofMergeExec]), hashes)
  }

  test("sibling sessions on two threads plan the as-of nodes and resolve " +
      "simhash64 without touching extraStrategies") {
    val sessions = Seq(spark.newSession(), spark.newSession())
    val results = new Array[(Boolean, Boolean, Seq[Long])](sessions.length)
    val errors = new Array[Throwable](sessions.length)
    val threads = sessions.zipWithIndex.map { case (s, i) =>
      new Thread(() =>
        try results(i) = exercise(s)
        catch { case t: Throwable => errors(i) = t })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.filter(_ != null).foreach(throw _)
    results.foreach { case (carryExec, mergeExec, hashes) =>
      assert(carryExec, "no AsofCarryExec in the carry plan")
      assert(mergeExec, "no AsofMergeExec in the merge plan")
      assert(hashes.length === 1)
      assert(hashes.head !== 0L)
    }
    sessions.foreach(s => assert(s.experimental.extraStrategies.isEmpty))
  }
}
