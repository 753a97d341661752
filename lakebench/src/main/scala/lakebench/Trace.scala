package lakebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for the traced run. A span wraps one call into an engine
  * layer from the benchmark's side; while it is open its id is the Spark
  * job group, so [[Trace.Listener]] can charge each Spark job, and the
  * metrics of the stages that job ran, to the innermost open span. Spans
  * are kept in memory and summarized once the run ends.
  *
  * When `on` is false, `span` only runs its body: the untraced run pays
  * nothing but a branch. */
final class Trace(sc: SparkContext) {
  import Trace._

  var on: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val listener = new Listener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1))
      spans += s
      stack.push(s)
      sc.setJobGroup(Group + s.id, name, interruptOnCancel = false)
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Group + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Add a count measured outside Spark (files written, batch rows) to the
    * most recent span named `name`. */
  def count(name: String, key: String, v: Double): Unit =
    if (on) spans.reverseIterator.find(_.name == name).foreach { s =>
      s.extra(key) = s.extra.getOrElse(key, 0.0) + v
    }

  /** Per-call figures of every finished span, after the listener bus has
    * delivered every event. */
  def calls(): Seq[Call] = {
    org.apache.spark.lakebench.ListenerBus.drain(sc)
    val kids = spans.toSeq.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    spans.toSeq.map { s =>
      val tree = subtree(s).map(_.id).toSet
      val jobs = listener.jobs.values().asScala.filter(j => tree(j.span)).toSeq
      val stages = listener.stages.values().asScala.filter(st => tree(st.span)).toSeq
      val childWall = kids.getOrElse(s.id, Nil).map(_.wallS).sum
      // driver time: the part of the span no job of its subtree covers
      val covered = union(jobs.map(j =>
        (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
      val m = mutable.LinkedHashMap[String, Double](
        "wall_s" -> s.wallS,
        "self_s" -> (s.wallS - childWall),
        "driver_s" -> math.max(0.0, s.wallS - covered / 1000.0),
        "task_s" -> stages.map(_.runMs).sum / 1000.0,
        "gc_s" -> stages.map(_.gcMs).sum / 1000.0,
        "jobs" -> jobs.size.toDouble,
        "shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1e6,
        "spill_disk_mb" -> stages.map(_.spillDisk).sum / 1e6,
        "records_read" -> stages.map(_.recordsRead).sum.toDouble,
        "records_written" -> stages.map(_.recordsWritten).sum.toDouble)
      m ++= s.extra
      Call(s.name, s.parent, s.id, m.toMap)
    }
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Trace {
  private val Group = "lakebench-span-"

  final class Span(val id: Int, val name: String, val parent: Int) {
    var startMs, endMs, startNs, endNs = 0L
    val extra = mutable.LinkedHashMap.empty[String, Double]
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final case class Call(name: String, parent: Int, id: Int, m: Map[String, Double])

  final class JobRec(val span: Int, val startMs: Long) { var endMs: Long = startMs }

  final class StageRec(val span: Int) {
    var runMs, gcMs, shuffleWrite, spillDisk, recordsRead, recordsWritten = 0L
  }

  /** Total length of the union of [start, end] intervals, in ms. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Charges jobs to the span whose id is their job group, and a stage's
    * task metrics to the span of the first job that ran it. */
  final class Listener extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()

    private def spanOf(props: java.util.Properties): Option[Int] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(Group)).map(_.stripPrefix(Group).toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { sp =>
        jobs.put(e.jobId, new JobRec(sp, e.time))
        e.stageIds.foreach(id => stages.putIfAbsent(id, new StageRec(sp)))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      for (st <- Option(stages.get(e.stageInfo.stageId));
           tm <- Option(e.stageInfo.taskMetrics)) {
        st.runMs += tm.executorRunTime
        st.gcMs += tm.jvmGCTime
        st.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
        st.spillDisk += tm.diskBytesSpilled
        st.recordsRead += tm.inputMetrics.recordsRead
        st.recordsWritten += tm.outputMetrics.recordsWritten
      }
  }
}
