package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.graph.PageRank
import graft.queries.PipelineQueries

/** Contract of the fixed-point PageRank: bit-identical to an independent
  * in-memory reference model on a hand graph, invariant to partitioning
  * (the exactness contract's whole point), collapses duplicate edges,
  * redistributes dangling mass, and never loses more than truncation. */
class PageRankSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The reference model: same fixed-point recurrence, scala Maps. */
  private def reference(edges: Seq[(String, String)], iters: Int,
                        scale: Long = PageRank.Scale): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val od = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val in = e.groupBy(_._2)
    val base = (15L * (scale / n)) / 100L
    var r = nodes.map(v => v -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(od.contains).map(r).sum
      val ds = dang / n
      r = nodes.map { v =>
        val c = in.getOrElse(v, Nil).map { case (u, _) => r(u) / od(u) }.sum
        v -> (base + (85L * (ds + c)) / 100L)
      }.toMap
    }
    r
  }

  private def run(edges: Seq[(String, String)], iters: Int = 5,
                  parts: Int = 1): Map[String, Long] = {
    val df0 = edges.toDF("src", "dst")
    val df = if (parts > 1) df0.repartition(parts) else df0
    PageRank.run(df, iters = iters)
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
  }

  private val hand = Seq(
    ("a", "b"), ("a", "c"), ("b", "a"), ("d", "a"), ("d", "b"))
  // c and anything-without-out-edges is dangling; d has no in-edges.

  test("bit-identical to the reference model on the hand graph") {
    assert(run(hand) === reference(hand, 5))
  }

  test("one iteration matches too (no hidden warm-up round)") {
    assert(run(hand, iters = 1) === reference(hand, 1))
  }

  test("partitioning-invariant: 7-way repartition, same bits") {
    assert(run(hand, parts = 7) === run(hand))
  }

  test("duplicate edges collapse before outdegree counting") {
    assert(run(hand ++ hand ++ hand.take(2)) === run(hand))
  }

  test("dangling mass is redistributed: sink-only graph stays positive") {
    val sink = Seq(("a", "z"), ("b", "z"), ("c", "z"))
    val r = run(sink)
    assert(r === reference(sink, 5))
    assert(r.values.forall(_ > 0L))
    // z hoards rank but the teleport + dangling share keeps sources alive
    assert(r("z") > r("a"))
  }

  test("star center out-ranks the leaves") {
    val star = (1 to 8).map(i => (s"leaf$i", "hub"))
    val r = run(star)
    assert((1 to 8).forall(i => r("hub") > r(s"leaf$i")))
  }

  test("total mass never exceeds scale (truncation only loses)") {
    val r = run(hand)
    assert(r.values.sum <= PageRank.Scale)
    assert(r.values.sum > PageRank.Scale * 9 / 10)
  }

  // ------------------------------------------------- personalized form

  /** Reference model for the seed-restricted recurrence. */
  private def referencePpr(edges: Seq[(String, String)], seeds: Set[String],
                           iters: Int,
                           scale: Long = PageRank.Scale): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val sd = seeds intersect nodes.toSet
    val s = sd.size.toLong
    val od = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val in = e.groupBy(_._2)
    val base = (15L * (scale / s)) / 100L
    var r = nodes.map(v => v -> (if (sd(v)) scale / s else 0L)).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(od.contains).map(r).sum
      val ds = dang / s
      r = nodes.map { v =>
        val c = in.getOrElse(v, Nil).map { case (u, _) => r(u) / od(u) }.sum
        v -> (if (sd(v)) base + (85L * (ds + c)) / 100L
              else (85L * c) / 100L)
      }.toMap
    }
    r
  }

  private def runPpr(edges: Seq[(String, String)], seeds: Seq[String],
                     iters: Int = 5): Map[String, Long] =
    PageRank.personalized(edges.toDF("src", "dst"),
        seeds.toDF("node"), iters = iters)
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap

  test("personalized: bit-identical to the seed reference model") {
    assert(runPpr(hand, Seq("a", "d")) ===
      referencePpr(hand, Set("a", "d"), 5))
  }

  test("personalized with ALL nodes as seeds equals plain run") {
    val allNodes = (hand.map(_._1) ++ hand.map(_._2)).distinct
    assert(runPpr(hand, allNodes) === run(hand))
  }

  test("seeds outside the graph are ignored (do not distort |S|)") {
    assert(runPpr(hand, Seq("a", "d", "ghost", "phantom")) ===
      runPpr(hand, Seq("a", "d")))
  }

  test("non-seed rank flows only from reachability") {
    // seed only 'a': 'd' has no in-edges at all -> rank exactly 0
    val r = runPpr(hand, Seq("a"))
    assert(r("d") === 0L)
    assert(r("b") > 0L, "b is reachable from the seed")
  }

  test("personalized rejects an empty effective seed set loudly") {
    val e = intercept[IllegalArgumentException] {
      runPpr(hand, Seq("ghost"))
    }
    assert(e.getMessage.contains("seed"))
  }

  // ---------------------------------------------------- plan and cache

  /** Nodes of the optimized plan as its description prints them, one a
    * line: a cached relation prints the plan it caches, so a frame built
    * on cached rounds prints every earlier round. */
  private def planNodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.treeString.linesIterator.size

  private val forms: Seq[(String, Int => DataFrame)] = Seq(
    "run" -> (k => PageRank.run(hand.toDF("src", "dst"), iters = k)),
    "personalized" -> (k => PageRank.personalized(hand.toDF("src", "dst"),
      Seq("a", "d").toDF("node"), iters = k)),
    "resume" -> (k => PageRank.resume(hand.toDF("src", "dst"),
      Seq(("a", PageRank.Scale / 2)).toDF("node", "rank"), iters = k)))

  test("the result's plan has the same size at 2 and at 6 iterations") {
    for ((name, pr) <- forms) {
      val sizes = Seq(2, 6).map { k =>
        val r = pr(k)
        try planNodes(r)
        finally r.unpersist(blocking = true)
      }
      assert(sizes(0) === sizes(1), s"$name: plan nodes at iters 2 vs 6")
    }
  }

  test("result.unpersist() leaves no PageRank frame in the cache") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    for ((name, pr) <- forms) {
      val r = pr(4)
      assert(!cache.isEmpty, s"$name: the result is returned cached")
      r.unpersist(blocking = true)
      assert(cache.isEmpty, s"$name: frames left cached after unpersist")
    }
    // the rank queries' callers never unpersist: they get an uncached copy
    val dir = "/root/testdata/sf0.001"
    for ((name, q) <- Seq("q161" -> PipelineQueries.q161Pagerank _,
        "q167" -> PipelineQueries.q167PprTrust _)) {
      val ranks = q(spark, dir)
      assert(cache.isEmpty, s"$name: a rank frame is left cached")
      assert(ranks.count() > 0)
    }
  }

  test("corpus edge rule: mod-3 suppliers have out-edges, others dangle") {
    val edges = PageRank.corpusEdges(spark, "/root/testdata/sf0.001")
    val srcs = edges.select("src").distinct()
      .as[String].collect().toSet
    val supSrcs = srcs.filter(_.startsWith("s"))
    assert(supSrcs.nonEmpty)
    assert(supSrcs.forall(s => s.drop(1).toLong % 3 == 0))
  }
}
