package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite

/** The engine profiler: stage figures, job scoping and final plans. */
class ProfileSpec extends AnyFunSuite with SparkSpec {

  test("profile reports the body's stages, only its jobs, and AQE-final plans") {
    val sc = spark.sparkContext
    val started = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    sc.addSparkListener(counter)
    def jobsSoFar(): Int = { ListenerBridge.drain(sc); started.get() }
    try {
      val df = spark.range(0, 20000, 1, 4)
        .groupBy((col("id") % 97).as("k")).agg(count(lit(1)).as("n"))

      spark.range(10).collect() // a job before the body
      val before = jobsSoFar()
      val (rows, r) = Profile.profile(spark)(df.collect())
      val inBody = jobsSoFar() - before
      spark.range(10).collect() // and one after it
      ListenerBridge.drain(sc)

      assert(rows.length === 97)
      assert(inBody > 0)
      assert(r.jobs === inBody)
      assert(r.stages.exists(s => s.tasks > 0 && s.shuffleWriteBytes > 0),
        r.render("groupBy"))
      assert(r.wallS >= r.driverS && r.driverS >= 0.0)
      assert(r.plans.size === 1)
      assert(r.plans.head.contains("isFinalPlan=true"), r.plans.head)
      // a cold plan compiles its generated classes; the same plan run
      // again is served from Spark's codegen cache
      assert(r.compiled > 0 && r.compileS > 0.0, r.render("groupBy"))
      assert(r.render("groupBy").takeWhile(_ != '\n')
        .contains(f"compiled=${r.compiled} compile=${r.compileS}%.3f s"))
      val warm = Profile.profile(spark)(df.collect())._2
      assert(warm.compiled === 0L && warm.compileS === 0.0,
        warm.render("warm groupBy"))
    } finally sc.removeSparkListener(counter)
  }
}
