package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession

/** One benchmark run in one JVM:
  * `lakebench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Set-up (input generation and the bootstrap write), untimed warm-up, then
  * rounds of the workload, one caller in a closed loop, until `S` seconds
  * have passed; then the set-up once more into a fresh directory, now
  * that the JVM is warm: that one gives `setup_s`. Timings are CPU
  * seconds of the JVM's Java threads (see [[Bench.time]]); wall seconds go
  * to the log and, per layer, to the traced run. The result is one line,
  * `LAKEBENCH_RESULT {json}`, on stdout. The exit code is 0 only if every
  * operation and every output check passed. */
object Main {
  val Spans: Seq[String] = Seq("orchestrate.run_once", "sink.keyed.overwrite",
    "sink.keyed.upsert", "sink.keyed.read", "oracle.compare", "sql.query",
    "graph.pagerank", "graph.triangles")
  val Fields: Seq[(String, String)] = Seq("wall_s" -> "s", "driver_s" -> "s",
    "task_s" -> "s", "gc_s" -> "s", "jobs" -> "count", "shuffle_write_mb" -> "MB",
    "spill_disk_mb" -> "MB", "records_read" -> "count", "records_written" -> "count")
  val Timings: Seq[String] = Seq("primary_cpu_s", "secondary_cpu_s")

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val work = Paths.get(opt("work"))
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    log("session ready")
    val b = new Bench(spark, opt("seed").toLong)
    val w = Workload(opt("workload"), b)
    val setupS = mutable.ArrayBuffer.empty[Double]
    def setup(i: Int): Unit = {
      val c0 = Bench.cpu()
      val t0 = System.nanoTime()
      val load = w.setup(work.resolve(s"setup-$i"))
      setupS += Bench.cpuSince(c0)
      log(f"set-up $i: ${(System.nanoTime() - t0) / 1e9}%.2f s wall, ${setupS.last}%.2f s CPU " +
        f"(bootstrap $load%.2f s wall)")
    }
    var rounds = 0
    var e2e = Map.empty[String, Double]
    try {
      setup(1)
      w.prepareChecks()
      w.warmup()
      log("warm-up done")
      b.recording = true
      val start = System.nanoTime()
      // the traced run alternates traced and untraced rounds, so it needs two
      while (w.hasMore && ((System.nanoTime() - start) / 1e9 < seconds || (traced && rounds < 2))) {
        b.trace.on = traced && rounds % 2 == 0
        val t0 = System.nanoTime()
        b.time("round")(b.trace.span("bench.round")(w.round()))
        b.trace.on = false
        rounds += 1
        log(f"round $rounds: ${(System.nanoTime() - t0) / 1e9}%.2f s wall, " +
          f"${b.values("round_cpu_s").last}%.2f s CPU")
        b.record("retained_heap_mb", retainedHeapMb())
      }
      b.recording = false
      e2e = w.endToEnd()
      // the repeat set-up runs once the JVM is warm, into a fresh
      // directory the rounds never touch
      b.trace.on = traced
      setup(2)
      b.trace.on = false
      delete(work.resolve("setup-2"))
    } catch {
      case e: Throwable =>
        b.trace.on = false
        b.failed += 1
        System.err.println("lakebench: operation failed:")
        e.printStackTrace()
    }
    System.err.println(s"lakebench: ${opt("workload")} seed ${b.seed}: $rounds rounds, " +
      s"${b.attempted} operations and checks, ${b.failed} failed")

    val metrics: Seq[(String, Double, String)] =
      if (traced) layerMetrics(b)
      else
        Seq(("setup_s", Bench.median(setupS.drop(1).toSeq), "s")) ++
          Timings.map(t => (t, Bench.median(b.values(t)), "s")) ++
          Seq(("rows_per_cpu_s", e2e.getOrElse("rows_per_cpu_s", Double.NaN), "rows/s"),
            ("write_amp", e2e.getOrElse("write_amp", Double.NaN), "ratio"),
            ("lake_bytes_per_row", e2e.getOrElse("lake_bytes_per_row", Double.NaN), "B/row"),
            ("retained_heap_mb", Bench.median(b.values("retained_heap_mb")), "MB"))
    val ok = b.failed == 0 && metrics.forall(m => java.lang.Double.isFinite(m._2))
    val attempted = math.max(1L, b.attempted)
    val json = metrics.filter(m => java.lang.Double.isFinite(m._2))
      .map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString(s"""{"correct": $ok, "attempted": $attempted, "failed": ${b.failed}, "metrics": {""", ", ", "}}")
    println("LAKEBENCH_RESULT " + json)
    b.trace.close()
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  /** Per-layer figures of the traced run: for every layer span, the mean
    * per call of each field (0 where the workload never calls the layer),
    * plus counts taken at the same boundaries and the tracing overhead. */
  private def layerMetrics(b: Bench): Seq[(String, Double, String)] = {
    val calls = b.trace.calls()
    val byName = calls.groupBy(_.name)
    def mean(span: String, f: String): Double = byName.get(span)
      .map(cs => cs.map(_.m.getOrElse(f, 0.0)).sum / cs.size).getOrElse(0.0)
    def ratio(span: String, num: String, den: String): Double =
      if (mean(span, den) == 0) 0.0 else mean(span, num) / mean(span, den)
    val perSpan = for (s <- Spans; (f, u) <- Fields) yield (s"$s.$f", mean(s, f), u)
    // span self times over every traced round must add up to the rounds' wall
    val kids = calls.groupBy(_.parent)
    def tree(id: Int): Seq[Trace.Call] =
      kids.getOrElse(id, Nil).flatMap(c => c +: tree(c.id))
    val rounds = byName.getOrElse("bench.round", Nil)
    val selfSum = rounds.map(r => r.m("self_s") + tree(r.id).map(_.m("self_s")).sum).sum
    val roundWall = rounds.map(_.m("wall_s")).sum
    def overhead(t: String): Double = {
      val (on, off) = (b.values(t, Some(true)), b.values(t, Some(false)))
      if (on.isEmpty || off.isEmpty) 0.0 else Bench.median(on) - Bench.median(off)
    }
    perSpan ++ Seq(
      ("orchestrate.run_once.self_s", mean("orchestrate.run_once", "self_s"), "s"),
      ("sink.keyed.upsert.files_written", mean("sink.keyed.upsert", "files_written"), "count"),
      ("sink.keyed.upsert.rewrite_ratio", ratio("sink.keyed.upsert", "records_written", "batch_rows"), "ratio"),
      ("trace.self_share", if (roundWall > 0) selfSum / roundWall else 0.0, "ratio")) ++
      Timings.map(t => (s"trace.overhead.$t", overhead(t), "s"))
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"lakebench [${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  /** Heap still in use after a full collection: what the engine keeps
    * alive between rounds (caches, read memos). Unlike resident memory it
    * does not depend on when the collector last ran. */
  private def retainedHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
