package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main. Runs the headline queries on SPARK_GRAFT_SF_DIR at
  * local[N] and emits ONE JSON line on stdout (plus `bench_out.json` in
  * cwd, re-written after EVERY entry so a kill can never null the whole
  * artifact — the r15 run of record died at the driver's timeout with
  * rc 124 and `parsed: null`, losing a round of evidence).
  *
  * Protocol (r16 revision — the bench now pays its own scale tax):
  *
  *  - BUDGET GUARD: the run targets SPARK_GRAFT_BENCH_BUDGET seconds
  *    (default 2520 = 42 min, safely inside the driver's ~60-min kill).
  *    Before each remaining entry the guard checks the clock; once the
  *    entry budget (budget minus a 300 s reserve for window 2 + final
  *    write) is spent, remaining entries are SKIPPED and listed in the
  *    artifact's "skipped" array — a partial-but-parseable artifact
  *    beats a complete-but-killed one.
  *  - SHORT entries: one untimed warmup pass then three timed passes,
  *    per-query MINIMUM (the host shows up to 7× run-to-run CPU
  *    variance; min is the standard noise-robust estimator), full
  *    sorted sample lists in "samples".
  *  - LONG entries (SparkEntry.longBenchQueries): each on a FRESH
  *    SparkSession (shared-JVM heap/shuffle pressure moved q94 from
  *    4.6 s isolated to 31 s late-session in round 7), one untimed
  *    warmup, then ADAPTIVE timed passes: first pass < 5 s → two more
  *    (min-of-3, the historical protocol); < 20 s → one more
  *    (min-of-2); ≥ 20 s → the pass stands alone. At tens of seconds
  *    the pass itself amortizes every constant and min-of-N just
  *    multiplies bench wall-clock (r15's 4-execution q166/q168 cost
  *    150 s for a number min-of-2 reproduces within host variance).
  *  - DECADE entries (ScaleBench.freshNames): fresh session, fixture
  *    untimed and CACHED ACROSS RUNS (ScaleBench.materialized stable
  *    paths — r15 regenerated the 65M-edge graph every invocation),
  *    then adaptive: the first execution is timed-as-warmup — if it
  *    reads ≥ 20 s it IS the sample (session one-offs are < 5% at that
  *    absolute); < 5 s → two more timed (warmup discarded, min-of-2,
  *    the historical decade protocol); else one more timed pass.
  *  - MAINTENANCE entries: min-of-2 on fresh fixtures, except entries
  *    whose first pass reads ≥ 8 s — those record the single pass (the
  *    jview family's ~10-s entries cost 2 passes + 2 fixture builds
  *    each for numbers that agree within variance).
  *  - WARM READ twins (warmReadEntries): three untimed warmups then
  *    min-of-3 — JIT compile depth, see the inline note.
  *  - `windows`: TWO same-invocation passes of the headline-8, each
  *    carrying BOTH engines' full sample arrays (DuckDB re-timed on the
  *    same relayout via tools/duck_time.py) — r14 proved single-window
  *    ratios at sub-second absolutes swing ±60% on identical code, so
  *    the quoted ratio is the cross-window band, read from the
  *    artifact.
  *
  * Queries are fully materialized through the `noop` datasource so
  * column pruning cannot fake a win.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - wall0) / 1e9
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "2520").toDouble
    val reserveSec = 300.0 // window 2 + duckdb twins + final write
    def entryBudgetLeft: Double = budgetSec - reserveSec - elapsed

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def makeSession(): SparkSession = {
      // engine defaults live in GraftSession (scan-floor batch size,
      // bucketed-scan ordering, shuffle=cores — each with its measured
      // rationale there)
      GraftSession.local(cpus.toInt)
    }
    var spark = makeSession()

    // Corpus signature: per-table row counts hashed — metadata-cost
    // content sensitivity for every stable scratch path (the
    // lineitemX100Path precedent). A regenerated corpus with identical
    // counts would alias, but the driver's SF tables are deterministic
    // per scale; the FixtureVersion constant covers code-side changes.
    val corpusSig = {
      val counts = graft.Tables.names.map(t =>
        s"$t:${spark.read.parquet(s"$sfDir/$t.parquet").count()}")
      java.security.MessageDigest.getInstance("MD5")
        .digest(counts.mkString(",").getBytes("UTF-8"))
        .take(6).map(b => f"$b%02x").mkString
    }
    graft.bench.ScaleBench.scratchTag = corpusSig

    // The driver's corpus tables are ONE parquet file with ONE row group
    // each — unsplittable by any engine's scan, so every pre-shuffle
    // stage of every query (the explode replications, partial aggregates,
    // join probes) would run on a single task. That is a fixture
    // artifact, not the target shape: a 100 TB table is thousands of
    // splits and the scan parallelizes. Relayout each table ONCE into
    // defaultParallelism files (plain repartition+write — no sort, no
    // stats, nothing a warehouse ingest wouldn't do), at a STABLE path
    // reused by later invocations, and point the timed queries at the
    // relayout. Off-switch SPARK_GRAFT_RELAYOUT=false reproduces the
    // single-split numbers.
    val runDir =
      if (sys.env.get("SPARK_GRAFT_RELAYOUT").contains("false")) sfDir
      else {
        val d = s"/tmp/graft_relayout_$corpusSig"
        val marker = Paths.get(s"$d/_GRAFT_DONE")
        if (!Files.exists(marker)) {
          graft.Tables.names.foreach { t =>
            spark.read.parquet(s"$sfDir/$t.parquet")
              .repartition(spark.sparkContext.defaultParallelism)
              .write.mode("overwrite").parquet(s"$d/$t.parquet")
          }
          Files.createFile(marker)
        }
        d
      }

    // ---- streaming artifact: results accumulate here and bench_out.json
    // is re-written after every entry, so any kill leaves the newest
    // partial artifact on disk.
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    var window1 = """{"spark":{},"duckdb":{}}"""
    var window2 = """{"spark":{},"duckdb":{}}"""
    def currentJson(): String = {
      val qs = results.map { case (k, ts) =>
        val v = if (ts.isEmpty) -1.0 else ts.min
        "\"" + k + "\":" + f"$v%.3f"
      }.mkString("{", ",", "}")
      val samples = results.map { case (k, ts) =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val total = results.valuesIterator.flatMap(_.minOption).filter(_ >= 0).sum
      val sk = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"samples":$samples,"windows":[$window1,$window2],"skipped":$sk,"sf":"$sfDir"}"""
    }
    def flush(): Unit =
      Files.writeString(Paths.get("bench_out.json"), currentJson() + "\n")
    def record(name: String, ts: Seq[Double]): Unit = {
      results(name) = ts.sorted
      flush()
    }

    // SPARK_GRAFT_BENCH_ONLY=q75_scale100_pricing,... — local iteration
    // filter mirroring Verify's; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.benchQueries
      .filter(n => only.forall(_.contains(n)))
    def runOne(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, runDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    val (longQ, shortQ) = names.partition(SparkEntry.longBenchQueries.contains)
    // untimed ingest-side setup (e.g. bucketed table writes) so recorded
    // numbers are the steady-state read path
    names.foreach(n => SparkEntry.prepare.get(n).foreach(_(spark, runDir)))
    shortQ.foreach(runOne) // warmup pass
    val passes = (1 to 3).map(_ => shortQ.map(n => n -> runOne(n)).toMap)
    // Every entry records its FULL sorted sample list alongside the min:
    // the driver reads "queries" (min, unchanged contract) while
    // "samples" carries the spread a min-only artifact can't — three
    // rounds of cross-session disputes (r11 m_pq_encode, r12 wide2 +
    // m_compact_files_400) were all "is this number host variance or a
    // regression?", answerable only when the artifact itself shows the
    // run-to-run spread.
    shortQ.foreach { n =>
      record(n, passes.map(_(n)).filter(_ >= 0))
    }
    // Isolate each long entry: a fresh SparkContext drops every shuffle
    // block and cached broadcast the previous entry left behind, and the
    // explicit GC releases the old context's heap before timing starts.
    // One UNTIMED warmup pass absorbs the per-session one-offs that are
    // not the query's own cost (file-index listing of the prepared
    // tables, first-touch codegen); timed passes are ADAPTIVE per the
    // protocol note above.
    def adaptivePasses(time: () => Double): Seq[Double] = {
      val t1 = time()
      if (t1 < 0) Seq.empty
      else if (t1 < 5.0) Seq(t1, time(), time()).filter(_ >= 0)
      else if (t1 < 20.0) Seq(t1, time()).filter(_ >= 0)
      else Seq(t1)
    }
    def runLongPass(ns: Seq[String]): Seq[(String, Seq[Double])] =
      ns.map { n =>
        spark.stop()
        System.gc()
        spark = makeSession()
        SparkEntry.prepare.get(n).foreach(_(spark, runDir))
        runOne(n) // warmup: session file-index + codegen, untimed
        n -> adaptivePasses(() => runOne(n)).sorted
      }
    longQ.foreach { n =>
      if (entryBudgetLeft <= 0) { skipped += n; flush() }
      else runLongPass(Seq(n)).foreach { case (k, ts) => record(k, ts) }
    }

    // ---- multi-window headline protocol (r14 prescription #1): single-
    // window ratios at sub-second absolutes carry ±60% (r14 measured the
    // headline geomean swinging 1.48×↔2.39× on identical code, driven by
    // DuckDB host drift), so the artifact itself records ≥2 same-session
    // windows for the headline set, each with BOTH engines' full sample
    // arrays; the quoted ratio becomes the cross-window band. Window 1 =
    // the run of record's long-entry pass + a DuckDB pass immediately
    // after; window 2 = a second full Spark+DuckDB pass at the end of
    // the bench. DuckDB times via tools/duck_time.py (driver-side python
    // + duckdb — measurement harness only, not a library dependency);
    // when that tool or its interpreter is absent the window records an
    // empty duckdb map rather than failing the bench.
    val headline = Seq("q75_scale100_pricing", "q79_scale100_fixedpoint",
      "q83_scale100_rollup", "q87_scale100_join", "q94_bucketed_join",
      "q100_spandedup_scale10", "q115_dsir_scale10", "q117_dsir_scale100")
      .filter(names.contains)
    def duckTime(ns: Seq[String]): Seq[(String, Seq[Double])] =
      if (ns.isEmpty) Seq.empty
      else try {
        def esc(s: String): String = "\"" + s.flatMap {
          case '"'  => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        val sqlJson = ns.flatMap(n => SparkEntry.oracleSql.get(n)
            .map(sql => s"${esc(n)}: ${esc(sql)}"))
          .mkString("{", ",", "}")
        val f = Files.createTempFile("graft_duck_sql", ".json")
        Files.writeString(f, sqlJson)
        val pb = new ProcessBuilder("python3", "tools/duck_time.py",
          runDir, f.toString, "3")
        // stderr INHERITed, not left on an undrained pipe: duck_time.py
        // prints a full DuckDB error per failing oracle, and a filled
        // ~64KB pipe buffer would block the child (and this bench) while
        // silently discarding the diagnostics
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val proc = pb.start()
        val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
        proc.waitFor()
        out.linesIterator.flatMap { line =>
          line.split("\\s+").toList match {
            case name :: ts if ts.nonEmpty &&
                ts.forall(_.matches("[0-9.]+")) =>
              Some(name -> ts.map(_.toDouble).sorted.toSeq)
            case _ => None
          }
        }.toSeq
      } catch { case e: Throwable =>
        System.err.println(s"[bench] duckdb window skipped: ${e.getMessage}")
        Seq.empty
      }
    def windowJson(sp: Seq[(String, Seq[Double])],
        du: Seq[(String, Seq[Double])]): String = {
      def m(rs: Seq[(String, Seq[Double])]): String = rs.map { case (k, ts) =>
        "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      s"""{"spark":${m(sp)},"duckdb":${m(du)}}"""
    }
    window1 = windowJson(
      headline.flatMap(h => results.get(h).map(h -> _)), duckTime(headline))
    flush()
    // Maintenance (write-side) entries: absolute seconds, min of two
    // passes, each pass on a FRESH fixture (untimed build) so the timed
    // thunk is pure maintenance work — unless the first pass reads ≥ 8 s
    // (see the protocol note). READ-ONLY headline twins are the
    // exception: their fixtures are stable parquet, so the no-warmup
    // protocol charges them session one-offs (footer listing, codegen,
    // broadcast build) that are not the query's cost — r14 measured the
    // same m_q87_mat work at 0.99 s warm vs 1.37–1.57
    // under the cold min-of-2; these get one untimed warmup + min-of-3
    // on the SAME thunk, matching the DuckDB twin's warm protocol.
    val warmReadEntries = Set("m_q75_mat", "m_q87_mat", "m_q94_mat",
      "m_asof_plain_uniform_x10", "m_asof_buck_uniform_x10",
      "m_asof_plain_x1000", "m_asof_merge_x1000")
    val maintEntries = (graft.bench.MaintenanceBench.entries ++
        graft.bench.ScaleBench.entries)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    maintEntries.foreach { case (name, mk) =>
      if (entryBudgetLeft <= 0) { skipped += name; flush() }
      else {
        val ts: Seq[Double] =
          if (graft.bench.ScaleBench.freshNames(name)) {
            // decade class: fresh SparkContext (the tens-of-seconds graph/
            // event passes both suffer and cause late-session pressure),
            // fixture build untimed inside mk (and cached across runs),
            // first execution timed-as-warmup, then adaptive (protocol
            // note above): ≥20 s → it IS the sample; <5 s → two more
            // timed, warmup discarded (the historical min-of-2 — the
            // sub-3 s decade entries otherwise charge fresh-session
            // one-offs their warm DuckDB twins don't pay; r15 measured
            // m_funnel_x100 reading 2.7 s cold vs a 0.24 s twin);
            // else one more timed pass, min-of-2 with the warmup
            spark.stop()
            System.gc()
            spark = makeSession()
            try {
              val thunk = mk(spark, runDir)
              val tw = { val t0 = System.nanoTime(); thunk()
                (System.nanoTime() - t0) / 1e9 }
              def timedPass(): Double = {
                val t0 = System.nanoTime(); thunk()
                (System.nanoTime() - t0) / 1e9
              }
              if (tw >= 20.0) Seq(tw)
              else if (tw < 5.0) Seq(timedPass(), timedPass())
              else Seq(tw, timedPass())
            } catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              Seq.empty[Double]
            }
          } else if (warmReadEntries(name)) {
            try {
              val thunk = mk(spark, runDir)
              // THREE untimed warmups, not one: the r14 "0.18 s residual"
              // between this thunk and a warm profile of the same work
              // was isolated to JIT compile depth (BENCH_COMPARE.md
              // "m_q87_mat residual: EXPLAINED") — in a fresh
              // JVM the q87-shaped pass reads ~2.0 s and the SAME work
              // settles to ~1.31 s after several passes (2026-08-16,
              // same-window pair at identical batch/file config;
              // relayout-writeback was tested and refuted with
              // SPARK_GRAFT_RELAYOUT=false), so min-of-3 after one
              // warmup sits on the early compile curve, not the steady
              // state. Steady state is the honest claim for a long-lived
              // production executor JVM — and the DuckDB twin (C++, no
              // compile curve) is at ITS steady state after one pass.
              (1 to 3).foreach(_ => thunk())
              (1 to 3).map { _ =>
                val t0 = System.nanoTime()
                thunk()
                (System.nanoTime() - t0) / 1e9
              }
            } catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              Seq.empty[Double]
            }
          } else {
            // fresh fixture per pass; a first pass ≥ 8 s stands alone
            def onePass(): Option[Double] =
              try {
                val thunk = mk(spark, runDir)
                val t0 = System.nanoTime()
                thunk()
                Some((System.nanoTime() - t0) / 1e9)
              } catch { case e: Throwable =>
                System.err.println(s"[bench] $name failed: ${e.getMessage}")
                None
              }
            onePass() match {
              case None => Seq.empty[Double]
              case Some(t1) if t1 >= 8.0 => Seq(t1)
              case Some(t1) => Seq(Some(t1), onePass()).flatten
            }
          }
        record(name, ts)
      }
    }
    // window 2: a second full Spark pass over the headline set (same
    // fresh-session protocol) + its paired DuckDB pass, minutes after
    // window 1 in the same invocation — the in-artifact drift band.
    window2 = windowJson(runLongPass(headline), duckTime(headline))
    flush()

    val json = currentJson()
    // Flush logs first so the JSON line lands clean and last on stdout.
    System.err.flush(); System.out.flush()
    println(json)
    spark.stop()
  }
}
