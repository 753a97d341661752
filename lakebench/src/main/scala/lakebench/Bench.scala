package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one run records: operation counts, failures, timing samples and
  * the span recorder. Samples taken while `recording` is false (set-up
  * repeats and warm-up) are dropped. */
final class Bench(val spark: SparkSession, val seed: Long) {
  val trace = new Trace(spark.sparkContext)
  var recording = false
  var attempted = 0L
  var failed = 0L
  /** metric -> (value, taken in a traced round) */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]

  def record(metric: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += (v -> trace.on)

  /** One timed operation, counted as attempted. Records `<op>_cpu_s`,
    * the CPU seconds the JVM's Java threads (the caller, Spark's scheduler
    * and task threads) spend while it runs. */
  def time[T](op: String)(body: => T): T = {
    attempted += 1
    val c0 = Bench.cpu()
    val r = body
    record(s"${op}_cpu_s", Bench.cpuSince(c0))
    r
  }

  /** One output check, independent of the engine's own oracle. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"lakebench: CHECK FAILED: $what")
    }
  }

  def values(metric: String, traced: Option[Boolean] = None): Seq[Double] =
    samples.getOrElse(metric, Nil).collect { case (v, t) if traced.forall(_ == t) => v }.toSeq
}

object Bench {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of every live Java thread, by thread id. JIT compiler
    * and collector threads are not Java threads, so a run's background
    * compilation does not show up here. */
  def cpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU seconds the Java threads spent since `before` was taken. */
  def cpuSince(before: Map[Long, Long]): Double =
    cpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Order-independent digest of a table: row count plus the sums of the
    * high and low halves of each row's `xxhash64` over `cols`, cast to
    * string so the digest does not depend on how a column is typed. */
  final case class Digest(rows: Long, hi: Long, lo: Long)

  def digest(df: DataFrame, cols: Seq[String]): Digest = {
    val h = xxhash64(cols.map(c => col(c).cast("string")): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(shiftright(h, 32)), lit(0L)),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
