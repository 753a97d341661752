package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{PageRank, Triangles}

/** The engine's codegen cache holds a graph-analytics round's working set:
  * a second identical pass compiles no generated class. Spark keys the
  * cache by (classloader, source) and the driver and the task threads use
  * different loaders, so one round fills more than Spark's default 100
  * entries, and at that size the LRU evicts the whole working set every
  * round. */
class CodegenCacheSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** A seeded link graph with skewed in-degree: sources uniform, and
    * destinations drawn as `nodes * u^3`, so a few low-numbered nodes are
    * hubs. Self loops and duplicate pairs are dropped. */
  private def graph(seed: Long, nodes: Int, edges: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    while (out.size < edges) {
      val src = rnd.nextInt(nodes).toLong
      val u = rnd.nextDouble()
      val dst = (nodes * u * u * u).toLong
      if (src != dst) out += ((src, dst))
    }
    out.toSeq
  }

  test("a warm PageRank + Triangles + SQL pass compiles no generated class") {
    val path = tmpDir("codegen-cache") + "/edges"
    graph(7, 1000, 5000).toDF("src", "dst").write.parquet(path)

    def pass(): Unit = {
      val e = spark.read.parquet(path)
      val ranks = PageRank.run(e, iters = 5)
      ranks.write.format("noop").mode("overwrite").save()
      ranks.unpersist(blocking = true)
      Triangles.total(e).head()
      e.createOrReplaceTempView("codegen_edges")
      spark.sql("""SELECT dst, COUNT(*) AS n FROM codegen_edges
        |GROUP BY dst ORDER BY n DESC, dst LIMIT 10""".stripMargin).collect()
    }
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val c0 = compiled()
    pass()
    val c1 = compiled()
    pass()
    val c2 = compiled()
    assert(c2 - c1 === 0L,
      s"the warm pass compiled ${c2 - c1} classes (the cold one ${c1 - c0})")
  }
}
