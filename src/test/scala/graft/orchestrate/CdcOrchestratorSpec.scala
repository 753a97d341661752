package graft.orchestrate

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.{BatchPlan, TableTodo, Tracker}
import graft.ops.LakeOps
import graft.oracle.Workload
import graft.sink.{KeyedLakeTable, LakeTableSpec}
import graft.sources.{CdcFileSource, CdcTreeWriter, SnapshotSource}

class CdcOrchestratorSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("BatchPlan JSON serde round-trips (reference plan-serde test analog)") {
    val plan = BatchPlan(7, Seq(
      TableTodo("transactions", "2024-01-01T00:00:00.000", "2024-01-02T12:30:00.123",
        Seq("/a/2024/01/02/12/20240102-123000123.parquet"))))
    val back = BatchPlan.fromJson(BatchPlan.toJson(plan))
    assert(back === plan)
    assert(plan.filename === "999999993-000000007.json")
  }

  test("listTodo applies the three predicates and take-N in key order") {
    val root = tmpDir("cdc-listing")
    def touch(rel: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte]())
    }
    touch("LOAD00000001.parquet")                         // full-load: excluded
    touch("2024/01/01/10/20240101-100000000.parquet")     // before checkpoint
    touch("2024/01/01/12/20240101-120000000.parquet")     // eligible #1
    touch("2024/01/01/12/20240101-123000000.notparquet")  // wrong suffix
    touch("2024/01/01/13/20240101-130000000.parquet")     // eligible #2
    touch("2024/01/01/14/20240101-140000000.parquet")     // eligible #3 (beyond maxFiles)
    touch("2024/01/02/09/20240102-090000000.parquet")     // beyond maxInterval
    val after = LocalDateTime.of(2024, 1, 1, 11, 0)
    val todo = CdcFileSource.listTodo(
      spark.sparkContext.hadoopConfiguration, root, after,
      maxFiles = 2, maxIntervalSeconds = 6 * 3600)
    assert(todo.files.map(f => f.substring(f.lastIndexOf('/') + 1)) ===
      Seq("20240101-120000000.parquet", "20240101-130000000.parquet"))
    assert(todo.endUntil === Some(LocalDateTime.of(2024, 1, 1, 13, 0)))
  }

  test("a reference-scale max interval plans in directory time, not interval time") {
    // ADVICE r2: the old planner probed fs.exists once per hour of the
    // configured interval — ~8.7M probes for the reference's ~999-year
    // default. The pruned walk must answer from the existing tree alone.
    val root = tmpDir("cdc-huge-interval")
    def touch(rel: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte]())
    }
    touch("2024/01/01/12/20240101-120000000.parquet")
    touch("2024/01/01/13/20240101-130000000.parquet")
    val after = LocalDateTime.of(2024, 1, 1, 11, 0)
    val t0 = System.nanoTime()
    val todo = CdcFileSource.listTodo(
      spark.sparkContext.hadoopConfiguration, root, after,
      maxFiles = 10, maxIntervalSeconds = 999L * 365 * 24 * 3600)
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(todo.files.size === 2)
    assert(todo.endUntil === Some(LocalDateTime.of(2024, 1, 1, 13, 0)))
    assert(elapsedMs < 2000, s"planner took ${elapsedMs}ms on a 2-file tree")
    // and an empty window with the same huge interval is just as cheap
    val t1 = System.nanoTime()
    val empty = CdcFileSource.listTodo(
      spark.sparkContext.hadoopConfiguration, root,
      LocalDateTime.of(2024, 1, 1, 14, 0),
      maxFiles = 10, maxIntervalSeconds = 999L * 365 * 24 * 3600)
    assert(empty.files.isEmpty && empty.endUntil.isEmpty)
    assert((System.nanoTime() - t1) / 1000000 < 2000)
  }

  test("an empty window advances toward a next file in a later year") {
    val root = tmpDir("cdc-next-year")
    def touch(rel: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array[Byte]())
    }
    touch("2024/12/31/22/20241231-220000000.parquet") // before the checkpoint
    touch("2026/03/01/10/LOAD00000002.parquet")        // full-load: not a CDC file
    touch("2026/03/01/10/20260301-100000000.parquet")  // the next CDC file
    val after = LocalDateTime.of(2024, 12, 31, 23, 0)
    val hour = 3600L
    val todo = CdcFileSource.listTodo(
      spark.sparkContext.hadoopConfiguration, root, after,
      maxFiles = 10, maxIntervalSeconds = hour)
    assert(todo.files.isEmpty)
    // one step across the gap, leaving the file inside the next window
    val next = LocalDateTime.of(2026, 3, 1, 10, 0)
    val end = todo.endUntil.get
    assert(end.isBefore(next) && !end.plusSeconds(hour).isBefore(next), end)
    assert(java.time.Duration.between(after, end).getSeconds % hour === 0)
    val planned = CdcFileSource.listTodo(
      spark.sparkContext.hadoopConfiguration, root, end,
      maxFiles = 10, maxIntervalSeconds = hour)
    assert(planned.files.map(f => f.substring(f.lastIndexOf('/') + 1)) ===
      Seq("20260301-100000000.parquet"))
    // with no later file the window stays where it is
    val last = CdcFileSource.listTodo(
      spark.sparkContext.hadoopConfiguration, root, next,
      maxFiles = 10, maxIntervalSeconds = hour)
    assert(last.files.isEmpty && last.endUntil.isEmpty)
  }

  /** Builds LOAD + 1-minute CDC buckets; returns the snapshot cut (µs). */
  private def buildTxnTree(log: Workload.Log, root: String): Long = {
    val txns = log.txns.toDF()
      .withColumn("ts_us", unix_micros(to_timestamp(
        substring(col("update_at"), 1, 26), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))
    // first quarter of event time as the LOAD snapshot, rest as CDC buckets
    val cut = txns.agg(min("ts_us") + (max("ts_us") - min("ts_us")) / 4)
      .head().getDouble(0).toLong
    CdcTreeWriter.writeLoadFile(spark,
      txns.filter(col("ts_us") <= cut).drop("ts_us"), s"$root/transactions")
    CdcTreeWriter.write(spark, txns.filter(col("ts_us") > cut),
      s"$root/transactions", "ts_us", bucketUs = 60L * 1000000) // 1-min buckets
    cut
  }

  test("orchestrated replay: snapshot + bounded CDC batches == source of truth") {
    val log = Workload.generate(seed = 31, n = 400)
    val root = tmpDir("cdc-tree")
    val cut = buildTxnTree(log, root)

    val lake = new KeyedLakeTable(spark, LakeTableSpec(
      tmpDir("cdc-lake"), recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at"))
    lake.overwrite(SnapshotSource.read(spark, SnapshotSource.listLoadFiles(
      spark.sparkContext.hadoopConfiguration, s"$root/transactions")))

    val planDir = tmpDir("cdc-plans")
    val orch = new CdcOrchestrator(spark, root, planDir,
      s"${tmpDir("cdc-state")}/tracker.json", Seq("transactions"),
      maxFiles = 2, maxIntervalSeconds = 24 * 3600,
      execute = (_, df) => lake.upsert(LakeOps.latestWinsDedup(df.drop("ts_us"),
        Seq("id"), "update_at")))
    orch.seed("transactions", graft.model.TimeCodec.fromMicros(cut))
    val runs = orch.runUntilCaughtUp()
    assert(runs > 1, "expected multiple bounded batches")

    val got = LakeOps.normalizeForCompare(lake.read())
      .as[Workload.Txn].collect().toSet
    assert(got === Workload.expectedTxnState(log).toSet)

    // plans were persisted, sequence-numbered, and parse back
    assert(orch.latestPlan().exists(_.seq === runs))
    // a second catch-up is a no-op
    assert(orch.runUntilCaughtUp() === 0)
  }

  test("an idle gap longer than maxInterval does not stall the table") {
    // two CDC files 100 minutes apart, maxInterval = 30 min: the planner
    // must advance the checkpoint across the empty windows and still
    // ingest the second file (reference behavior the round-1 port dropped)
    val root = tmpDir("cdc-gap")
    def writeOne(ts: String, rows: Seq[Workload.Txn]): Unit = {
      val upper = java.time.LocalDateTime.parse(ts)
      val target = new org.apache.hadoop.fs.Path(
        CdcFileSource.cdcFilePath(s"$root/transactions", upper))
      val staging = new org.apache.hadoop.fs.Path(s"$root/_stage")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(staging).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.mkdirs(target.getParent)
      fs.rename(part, target)
      fs.delete(staging, true)
    }
    val t0 = "2024-01-01T10:00:00.000000+0000"
    writeOne("2024-01-01T10:00:01",
      Seq(Workload.Txn("k1", "a1", t0, t0, "fuel", 1, 0, "first")))
    val t1 = "2024-01-01T11:40:00.000000+0000"
    writeOne("2024-01-01T11:40:01",
      Seq(Workload.Txn("k2", "a1", t1, t1, "rent", 2, 0, "second")))

    val lake = new KeyedLakeTable(spark, LakeTableSpec(
      tmpDir("gap-lake"), recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at"))
    val orch = new CdcOrchestrator(spark, root, tmpDir("gap-plans"),
      s"${tmpDir("gap-state")}/tracker.json", Seq("transactions"),
      maxFiles = 1, maxIntervalSeconds = 30 * 60,
      execute = (_, df) => lake.upsert(df))
    orch.seed("transactions", java.time.LocalDateTime.of(2024, 1, 1, 9, 59))
    val runs = orch.runUntilCaughtUp()
    assert(runs >= 3, s"expected empty-window advances, got $runs runs")
    val ids = lake.read().select("id").as[String].collect().toSet
    assert(ids === Set("k1", "k2"))
    // fully caught up afterwards
    assert(orch.runUntilCaughtUp() === 0)
  }

  test("checkpoint advances only on success; failed batches replay") {
    val log = Workload.generate(seed = 37, n = 200)
    val root = tmpDir("cdc-tree-fail")
    val cut = buildTxnTree(log, root)
    val lake = new KeyedLakeTable(spark, LakeTableSpec(
      tmpDir("cdc-lake-fail"), recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at"))
    lake.overwrite(SnapshotSource.read(spark, SnapshotSource.listLoadFiles(
      spark.sparkContext.hadoopConfiguration, s"$root/transactions")))

    val trackerPath = s"${tmpDir("cdc-state-fail")}/tracker.json"
    var failNext = false
    val orch = new CdcOrchestrator(spark, root, tmpDir("plans-fail"),
      trackerPath, Seq("transactions"), maxFiles = 1,
      maxIntervalSeconds = 24 * 3600,
      execute = (_, df) => {
        if (failNext) sys.error("injected batch failure")
        lake.upsert(df.drop("ts_us"))
      })
    orch.seed("transactions", graft.model.TimeCodec.fromMicros(cut))

    assert(orch.runOnce())
    val afterFirst = Tracker.load(trackerPath)
    failNext = true
    assertThrows[RuntimeException](orch.runOnce())
    // divergence from the reference (documented): no advance on failure
    assert(Tracker.load(trackerPath) === afterFirst)
    failNext = false
    orch.runUntilCaughtUp()
    val got = LakeOps.normalizeForCompare(lake.read())
      .as[Workload.Txn].collect().toSet
    assert(got === Workload.expectedTxnState(log).toSet)
  }

  test("a crash between batch commit and checkpoint save replays safely") {
    // exactly-once across restarts (§2.8): if the process dies after the
    // merge but before the tracker write, the batch replays on restart —
    // and the idempotent keyed merge makes the replay a no-op.
    val log = Workload.generate(seed = 43, n = 200)
    val root = tmpDir("cdc-crash")
    val cut = buildTxnTree(log, root)
    val lake = new KeyedLakeTable(spark, LakeTableSpec(
      tmpDir("crash-lake"), recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at"))
    lake.overwrite(SnapshotSource.read(spark, SnapshotSource.listLoadFiles(
      spark.sparkContext.hadoopConfiguration, s"$root/transactions")))
    val trackerPath = s"${tmpDir("crash-state")}/tracker.json"
    val orch = new CdcOrchestrator(spark, root, tmpDir("crash-plans"),
      trackerPath, Seq("transactions"), maxFiles = 2,
      maxIntervalSeconds = 24 * 3600,
      execute = (_, df) => lake.upsert(df.drop("ts_us")))
    orch.seed("transactions", graft.model.TimeCodec.fromMicros(cut))

    assert(orch.runOnce())
    // simulate the crash: roll the checkpoint back to before that batch
    val state = Tracker.load(trackerPath)
    Tracker.save(trackerPath, state.copy(seq = state.seq - 1,
      tables = Seq(graft.model.TableTrackerState("transactions",
        graft.model.TimeCodec.fromMicros(cut).format(Tracker.fmt)))))
    // restart: the same batch replays, then the rest of the backlog drains
    orch.runUntilCaughtUp()
    val got = LakeOps.normalizeForCompare(lake.read())
      .as[Workload.Txn].collect().toSet
    assert(got === Workload.expectedTxnState(log).toSet)
  }

  test("single-flight: a reentrant run is refused") {
    val root = tmpDir("cdc-tree-sf")
    val log = Workload.generate(seed = 41, n = 80)
    val cut = buildTxnTree(log, root)
    var orch: CdcOrchestrator = null
    var reentrant: Option[Throwable] = None
    orch = new CdcOrchestrator(spark, root, tmpDir("plans-sf"),
      s"${tmpDir("state-sf")}/tracker.json", Seq("transactions"),
      maxFiles = 1, maxIntervalSeconds = 24 * 3600,
      execute = (_, _) => {
        reentrant = scala.util.Try(orch.runOnce()).failed.toOption
      })
    orch.seed("transactions", graft.model.TimeCodec.fromMicros(cut))
    orch.runOnce()
    assert(reentrant.exists(_.isInstanceOf[IllegalStateException]))
  }
}
