package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.bench.{MaintenanceBench, ScaleBench}

/** The engine's one profiler. [[Profile.profile]] runs a body under its
  * own Spark job group and reports where its time went: per-stage task
  * figures, the number of jobs, wall time, and driver time — wall minus
  * the union of the body's job intervals, i.e. listing, planning and
  * driver-side work between actions — and the number of generated
  * classes compiled meanwhile, with their compile time (a warm pass whose
  * classes all hit Spark's codegen cache compiles none; these two are
  * JVM-wide, so a concurrent body on another session counts too). It
  * also keeps the executed plan of every action the body ran; under AQE
  * that is the final, re-optimized plan (`isFinalPlan=true`), so exchange
  * widths and join strategies are the ones that actually ran.
  *
  * `main` profiles bench entries by name: any [[SparkEntry.queries]] key
  * (materialized through the `noop` sink, as `graft.Bench` times it) or
  * any [[MaintenanceBench.entries]] / [[ScaleBench.entries]] key. Each
  * entry gets one untimed warm-up pass and one profiled pass, each on a
  * fresh fixture built outside the profile. Corpus and cores come from
  * the bench's own `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS`:
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<corpus dir> SPARK_GRAFT_CPUS=4 \
  *   sbt "runMain graft.Profile q166_triangles m_kmerge_3x_cow"
  * }}}
  */
object Profile {

  /** One completed stage attempt, summed over its tasks. `name` lists
    * the stage's operator scopes in RDD order (`Scan parquet >
    * WholeStageCodegen (3) > Exchange`); the codegen ids match the `*(3)`
    * prefixes of the printed plans. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memSpillBytes: Long, diskSpillBytes: Long)

  /** `compiled` is the number of generated classes compiled during the
    * body and `compileS` their compile seconds. */
  final case class Report(stages: Seq[Stage], jobs: Int, wallS: Double,
      driverS: Double, compiled: Long, compileS: Double,
      plans: Seq[String]) {

    /** The entry's header line, the stage table with a `total` row, and
      * each action's final plan. */
    def render(title: String): String = {
      def row(id: String, tasks: String, st: Seq[Stage], name: String) = {
        def sec(f: Stage => Long) = f"${st.map(f).sum / 1000.0}%.2f"
        def mb(f: Stage => Long) = f"${st.map(f).sum / 1e6}%.2f"
        f"$id%6s $tasks%6s ${sec(_.runMs)}%9s ${sec(_.gcMs)}%7s " +
          f"${mb(_.shuffleReadBytes)}%10s ${mb(_.shuffleWriteBytes)}%10s " +
          f"${mb(_.memSpillBytes)}%10s ${mb(_.diskSpillBytes)}%10s  $name"
      }
      val head = f"${"stage"}%6s ${"tasks"}%6s ${"run_s"}%9s ${"gc_s"}%7s " +
        f"${"shuf_r_mb"}%10s ${"shuf_w_mb"}%10s " +
        f"${"spill_m_mb"}%10s ${"spill_d_mb"}%10s  name"
      val table = head +: stages.map(st =>
        row(st.id.toString, st.tasks.toString, Seq(st), st.name)) :+
        row("total", stages.map(_.tasks).sum.toString, stages, "")
      val planText = plans.zipWithIndex.map { case (p, i) =>
        s"-- action ${i + 1}/${plans.size}: $p" }
      val header = f"== $title: jobs=$jobs wall=$wallS%.3f s " +
        f"driver=$driverS%.3f s compiled=$compiled compile=$compileS%.3f s"
      (header +: (table ++ planText)).mkString("\n")
    }
  }

  private val GroupKey = "spark.jobGroup.id"

  /** Total length of the union of [start, end] intervals. */
  private def union(iv: Seq[(Long, Long)]): Long =
    iv.filter(p => p._2 > p._1).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((total, reach), (s, e)) =>
        (total + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1

  /** The plan as it ran: AQE's final plan with its query stages opened,
    * and a cached relation kept as its one scan node — its own plan
    * would repeat an iterative job's whole lineage in every action. */
  private def finalPlan(plan: SparkPlan): String = {
    val out = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      out ++= "   " * depth ++= (if (depth > 0) "+- " else "") ++=
        p.simpleString(25) += '\n'
      val next = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      next.foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    out.result()
  }

  /** Run `body` and return its result with its [[Report]]. Only jobs and
    * stages submitted under this call's job group count, so a job run
    * before or after the body (or concurrently from another thread
    * without the group) never reaches the report. Plans carry no job
    * group: the report holds every action that finished on this session
    * while the body ran. */
  def profile[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val group = s"graft-profile-${java.util.UUID.randomUUID()}"
    def mine(p: Properties) = p != null && p.getProperty(GroupKey) == group
    val jobs = new ConcurrentHashMap[Int, (Long, Long)]()
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) jobs.put(e.jobId, (e.time, e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => (j._1, e.time))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) stageIds.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (stageIds.contains(i.stageId)) Option(i.taskMetrics).foreach { m =>
          val scopes = i.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name))
          val name =
            if (scopes.isEmpty) i.name else scopes.distinct.mkString(" > ")
          stages.add(Stage(i.stageId, name, i.numTasks, m.executorRunTime,
            m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
            m.diskBytesSpilled))
        }
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.add(s"$funcName\n${finalPlan(qe.executedPlan)}")
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // Plan events carry no job group: deliver every earlier action's
    // event before the plan listener goes on, and the body's before it
    // comes off.
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    val saved = Seq(GroupKey, "spark.job.description",
      "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      sc.setJobGroup(group, "graft.Profile", interruptOnCancel = false)
      val out =
        try body
        finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      val t1Ms = System.currentTimeMillis()
      ListenerBridge.drain(sc)
      val iv = jobs.values.asScala.toSeq
      val covered =
        union(iv.map { case (s, e) => (s.max(t0Ms), e.min(t1Ms)) })
      (out, Report(stages.asScala.toSeq.sortBy(_.id), iv.size, wallS,
        math.max(0.0, wallS - covered / 1000.0), compiled, compileS,
        plans.asScala.toSeq))
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(listener)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the corpus directory"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val thunks = (MaintenanceBench.entries ++ ScaleBench.entries).toMap
    def query(name: String)(q: (SparkSession, String) => DataFrame)
        (s: SparkSession, dir: String): () => Unit = {
      SparkEntry.prepare.get(name).foreach(_(s, dir))
      () => q(s, dir).write.mode("overwrite").format("noop").save()
    }
    // resolve every name before the first (possibly long) run
    val entries = args.toSeq.map { n =>
      n -> SparkEntry.queries.get(n).map(query(n))
        .orElse(thunks.get(n))
        .getOrElse(sys.error(s"unknown entry $n: not in SparkEntry.queries, " +
          "MaintenanceBench.entries or ScaleBench.entries"))
    }
    val spark = GraftSession.local(cpus)
    try entries.foreach { case (name, mk) =>
      mk(spark, sfDir)() // warm-up: file listing, codegen, JIT
      // a frame the warm-up left cached must not serve the profiled pass
      spark.catalog.clearCache()
      val run = mk(spark, sfDir)
      println(profile(spark)(run())._2.render(name))
    } finally spark.stop()
  }
}
