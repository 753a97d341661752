package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.ops.LakeOps
import graft.oracle.Workload
import graft.sink.{KeyedLakeTable, LakeTableSpec}

class CdcStreamIngestSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("streamed micro-batches reach the same table as one batch") {
    val log = Workload.generate(seed = 61, n = 300)
    val srcDir = tmpDir("stream-src")
    val df = log.txns.toDF()
    df.repartition(5).write.mode("overwrite").parquet(srcDir)
    val lake = new KeyedLakeTable(spark, LakeTableSpec(
      tmpDir("stream-lake"), recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at"))
    val stream = CdcStreamIngest.fileStream(spark, srcDir, df.schema,
      maxFilesPerTrigger = 2)
    CdcStreamIngest.toLakeTable(stream, lake, tmpDir("stream-ckpt"))
    val got = LakeOps.normalizeForCompare(lake.read())
      .as[Workload.Txn].collect().toSet
    assert(got === Workload.expectedTxnState(log).toSet)
  }

  test("streamed micro-batches maintain the fact⋈dim join view " +
      "(the streaming head of the maintenance family)") {
    val log = Workload.generate(seed = 63, n = 300)
    val srcDir = tmpDir("jv-stream-src")
    val df = log.txns.toDF()
    df.repartition(5).write.mode("overwrite").parquet(srcDir)
    val fact = new KeyedLakeTable(spark, LakeTableSpec(
      tmpDir("jv-stream-fact"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at",
      tieBreak = Seq("note")))
    val base = tmpDir("jv-stream")
    val jv = new graft.ops.JoinView(spark, s"$base/view", s"$base/orphans",
      Seq("id"), "entity", "update_at", "create_at")
    val labels = Map("grocery" -> "G", "fuel" -> "F", "rent" -> "R",
      "salary" -> "S", "misc" -> "M")
    val dim = labels.toSeq.toDF("dkey", "label")
    CdcStreamIngest.toMaintainedView(
      CdcStreamIngest.fileStream(spark, srcDir, df.schema,
        maxFilesPerTrigger = 2),
      fact, jv, "dkey", () => dim, () => dim.limit(0),
      tmpDir("jv-stream-ckpt"))
    val got = jv.readLive().select("id", "entity", "label")
      .as[(String, String, String)].collect().toSet
    val expect = Workload.expectedTxnState(log)
      .map(t => (t.id, t.entity, labels(t.entity))).toSet
    assert(got === expect)
  }

  test("a late stream file with older update_at does not clobber newer rows") {
    val t0 = "2024-01-01T00:00:01.000000+0000"
    val t1 = "2024-01-01T00:00:09.000000+0000"
    val srcDir = tmpDir("late-src")
    val ckpt = tmpDir("late-ckpt")
    val lake = new KeyedLakeTable(spark, LakeTableSpec(
      tmpDir("late-lake"), recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at"))
    val newer = Seq(Workload.Txn("k1", "a1", t0, t1, "fuel", 5, 0, "newer")).toDF()
    newer.write.mode("append").parquet(srcDir)
    val schema = newer.schema
    CdcStreamIngest.toLakeTable(
      CdcStreamIngest.fileStream(spark, srcDir, schema), lake, ckpt)
    // late arrival: an OLDER version of the same key lands after the fact
    Seq(Workload.Txn("k1", "a1", t0, t0, "fuel", 5, 0, "older-late")).toDF()
      .write.mode("append").parquet(srcDir)
    CdcStreamIngest.toLakeTable(
      CdcStreamIngest.fileStream(spark, srcDir, schema), lake, ckpt)
    assert(lake.read().select("note").as[String].collect().toSeq === Seq("newer"))
  }

  test("watermarked windowed counts: closed windows emit once, late data is dropped") {
    val srcDir = tmpDir("wm-src")
    val ckpt = tmpDir("wm-ckpt")
    def write(rows: Seq[(String, java.sql.Timestamp)]): Unit =
      rows.toDF("event_type", "ts").coalesce(1).write.mode("append").parquet(srcDir)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = Seq(("x", ts("2024-01-01 00:00:00"))).toDF("event_type", "ts").schema
    def emitted(run: () => Unit): Set[(String, String, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val stream = spark.readStream.schema(schema).parquet(srcDir)
      CdcStreamIngest.runCollect(
        CdcStreamIngest.windowedEventCounts(stream, "ts", "1 minute", "10 minutes"),
        ckpt) { rows =>
        buf ++= rows.map(r => (r.getTimestamp(0).toString.stripSuffix(".0"),
          r.getString(1), r.getLong(2)))
      }
      val _ = run
      buf.toSet
    }
    // run 1: events in the 10:00/10:01 windows plus one far ahead — the
    // watermark (max 10:30 − 10 min = 10:20) closes and emits the early
    // windows at the end of the run
    write(Seq(("click", ts("2024-01-01 10:00:10")), ("click", ts("2024-01-01 10:00:50")),
      ("view", ts("2024-01-01 10:01:20")), ("click", ts("2024-01-01 10:30:00"))))
    val run1 = emitted(() => ())
    assert(run1 === Set(
      ("2024-01-01 10:00:00", "click", 2L),
      ("2024-01-01 10:01:00", "view", 1L)))
    // run 2 (same checkpoint): a LATE click for the already-closed 10:00
    // window must be dropped — nothing re-emits, no count changes
    write(Seq(("click", ts("2024-01-01 10:00:30")), ("view", ts("2024-01-01 10:31:00"))))
    val run2 = emitted(() => ())
    assert(run2.isEmpty)
  }

  test("stateful latest-wins stream emits only new-winner transitions") {
    val srcDir = tmpDir("state-src")
    val ckpt = tmpDir("state-ckpt")
    import CdcStreamIngest.KeyedEvent
    def stream() = {
      val schema = Seq(KeyedEvent("x", "t", "p")).toDF().schema
      spark.readStream.schema(schema).parquet(srcDir).as[KeyedEvent]
    }
    def run(): Seq[KeyedEvent] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[KeyedEvent]
      CdcStreamIngest.latestWinsStateful(stream(), ckpt)(buf ++= _)
      buf.toSeq
    }
    // run 1: two versions of k1 in one batch -> one emission (the winner)
    Seq(KeyedEvent("k1", "2024-01-01T00:00:01", "v1"),
      KeyedEvent("k1", "2024-01-01T00:00:05", "v5")).toDF()
      .write.mode("append").parquet(srcDir)
    assert(run() === Seq(KeyedEvent("k1", "2024-01-01T00:00:05", "v5")))
    // run 2: a STALE version arrives late -> no emission (state holds v5)
    Seq(KeyedEvent("k1", "2024-01-01T00:00:03", "stale")).toDF()
      .write.mode("append").parquet(srcDir)
    assert(run().isEmpty)
    // run 3: a genuinely newer version -> exactly one change emitted
    Seq(KeyedEvent("k1", "2024-01-01T00:00:09", "v9")).toDF()
      .write.mode("append").parquet(srcDir)
    assert(run() === Seq(KeyedEvent("k1", "2024-01-01T00:00:09", "v9")))
  }

  test("streaming dedup: duplicate event ids within the watermark are dropped") {
    // the at-least-once-source guard: an extractor that re-delivers a CDC
    // record must not double-apply it downstream
    val srcDir = tmpDir("dd-src")
    val ckpt = tmpDir("dd-ckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // file 1: originals; file 2: a re-delivery of e1 — with one file per
    // trigger the duplicate arrives in a LATER micro-batch, so the dedup
    // state must survive across batches to catch it
    Seq(("e1", ts("2024-01-01 10:00:00"), 1.0), ("e2", ts("2024-01-01 10:00:30"), 2.0))
      .toDF("id", "event_ts", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq(("e1", ts("2024-01-01 10:00:00"), 1.0), ("e3", ts("2024-01-01 10:01:00"), 3.0))
      .toDF("id", "event_ts", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = Seq(("x", ts("2024-01-01 00:00:00"), 0.0))
      .toDF("id", "event_ts", "value").schema
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val stream = CdcStreamIngest.dedupedStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      Seq("id"), "event_ts", "10 minutes")
    CdcStreamIngest.runCollect(stream, ckpt) { rows =>
      got ++= rows.map(_.getString(0))
    }
    assert(got.sorted === Seq("e1", "e2", "e3"))
  }

  for (deferred <- Seq(false, true))
  test("streamed micro-batches commit a time-travelable version history" +
      s" (deferred=$deferred)") {
    val log = Workload.generate(seed = 63, n = 300)
    val srcDir = tmpDir("vstream-src")
    val df = log.txns.toDF()
    df.repartition(3).write.mode("overwrite").parquet(srcDir)
    val table = new graft.sink.VersionedLakeTable(spark, graft.sink.LakeTableSpec(
      tmpDir("vstream-lake"), recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at",
      tieBreak = if (deferred) Seq("note") else Nil))
    val stream = CdcStreamIngest.fileStream(spark, srcDir, df.schema,
      maxFilesPerTrigger = 1)
    CdcStreamIngest.toVersionedTable(stream, table, tmpDir("vstream-ckpt"),
      deferred = deferred,
      compactEvery = if (deferred) 2 else 0)
    // one commit per micro-batch (+ the deferred run's one cadence
    // compaction after its second append), final state == one-shot merge
    assert(table.versions.length === (if (deferred) 4 else 3))
    val got = LakeOps.normalizeForCompare(table.read())
      .as[Workload.Txn].collect().toSet
    assert(got === Workload.expectedTxnState(log).toSet)
    // and every intermediate snapshot is still readable
    assert(table.read(Some(0)).count() > 0)
  }

  test("a concurrent batch backfill commits against the SAME versioned " +
    "table while the stream drains (optimistic protocol end-to-end)") {
    def txn(id: String, minute: Int, at: Int, amount: Int) =
      Workload.Txn(id, "a1", f"2024-01-01T00:$minute%02d:01.000000+0000",
        f"2024-01-01T00:$minute%02d:0$at.000000+0000", "fuel", amount, 0, "v")
    val path = tmpDir("vstream-occ")
    def mk() = new graft.sink.VersionedLakeTable(spark,
      graft.sink.LakeTableSpec(path, recordKeys = Seq("id"),
        precombine = "update_at", partitionSource = "create_at"))
    // bootstrap both partitions first: v0 is single-writer by design
    mk().upsert(Seq(txn("s", 1, 1, 10), txn("b", 5, 1, 50)).toDF())
    // stream: 3 micro-batches, each a strictly-newer update of the
    // minute-01 key; backfill thread: 3 strictly-newer updates of the
    // DISJOINT minute-05 key racing the stream's version-slot claims
    val srcDir = tmpDir("vstream-occ-src")
    (2 to 4).foreach { at =>
      Seq(txn("s", 1, at, 10 + at)).toDF()
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val backfill = new Thread(() => {
      try {
        val t = mk()
        (2 to 4).foreach(at => t.upsert(Seq(txn("b", 5, at, 50 + at)).toDF()))
      } catch { case e: Throwable => errs.add(e) }
    })
    backfill.start()
    val schema = Seq(txn("x", 1, 1, 0)).toDF().schema
    CdcStreamIngest.toVersionedTable(
      CdcStreamIngest.fileStream(spark, srcDir, schema, maxFilesPerTrigger = 1),
      mk(), tmpDir("vstream-occ-ckpt"))
    backfill.join(120000)
    assert(errs.isEmpty,
      s"disjoint backfill must not conflict with the stream: ${errs.peek()}")
    val t = mk()
    assert(t.versions === (0 to 6), "bootstrap + 3 stream + 3 backfill commits")
    val amounts = t.read().select($"id", $"amount")
      .as[(String, Int)].collect().toMap
    assert(amounts === Map("s" -> 14, "b" -> 54),
      "both the stream's and the backfill's final updates must win")
  }

  test("partitioned JSON-lines landing sink writes minute-partition dirs (K3)") {
    val srcDir = tmpDir("json-src")
    val outDir = tmpDir("json-out")
    val df = Seq(
      ("e1", java.sql.Timestamp.valueOf("2024-01-01 10:15:30"), 1.0),
      ("e2", java.sql.Timestamp.valueOf("2024-01-01 10:16:45"), 2.0))
      .toDF("id", "event_ts", "value")
    df.write.mode("overwrite").parquet(srcDir)
    CdcStreamIngest.toPartitionedJson(
      CdcStreamIngest.fileStream(spark, srcDir, df.schema),
      "event_ts", outDir, tmpDir("json-ckpt"))
    val back = spark.read
      .option("basePath", outDir)
      .json(s"$outDir/create_year=2024/create_month=01/create_day=01/create_hour=10/*")
    assert(back.count() === 2)
    val minutes = back.select("create_minute").as[String].collect().toSet
    assert(minutes === Set("15", "16"))
  }

  test("lineageToken reads the persisted query id, not the path string") {
    import java.nio.file.{Files, Paths}
    // the exact shape Structured Streaming writes at query start
    val ckpt = tmpDir("lineage-tok")
    Files.writeString(Paths.get(ckpt, "metadata"),
      """{"id":"11111111-2222-3333-4444-555555555555"}""")
    val tok = CdcStreamIngest.lineageToken(spark, ckpt)
    assert(tok === "11111111-2222-3333-4444-555555555555")
    // spelling-invariant: a trailing slash resolves to the same token
    assert(CdcStreamIngest.lineageToken(spark, ckpt + "/") === tok)
    // a metadata file without an id fails loudly rather than silently
    // degrading the replay guard to a broken lineage
    val bad = tmpDir("lineage-bad")
    Files.writeString(Paths.get(bad, "metadata"), """{"foo":"bar"}""")
    intercept[IllegalStateException](
      CdcStreamIngest.lineageToken(spark, bad))
  }

  test("lineageToken takes the top-level id from any JSON layout") {
    import java.nio.file.{Files, Paths}
    // pretty-printed, id not the first key, a nested object with its own id
    val ckpt = tmpDir("lineage-layout")
    Files.writeString(Paths.get(ckpt, "metadata"),
      """{
        |  "source" : { "id" : "not-the-query" },
        |  "id" : "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
        |}
        |""".stripMargin)
    assert(CdcStreamIngest.lineageToken(spark, ckpt) ===
      "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee")
    // a non-string id is no query id either
    val numeric = tmpDir("lineage-numeric")
    Files.writeString(Paths.get(numeric, "metadata"), """{"id":42}""")
    intercept[IllegalStateException](
      CdcStreamIngest.lineageToken(spark, numeric))
  }
}
