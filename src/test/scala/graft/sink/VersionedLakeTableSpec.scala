package graft.sink

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{Profile, SparkSpec}
import graft.ops.LakeOps
import graft.oracle.Workload

class VersionedLakeTableSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def newTable(): VersionedLakeTable =
    new VersionedLakeTable(spark, LakeTableSpec(
      path = tmpDir("vlake"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"))

  private def state(df: DataFrame): Set[Workload.Txn] =
    LakeOps.normalizeForCompare(df).as[Workload.Txn].collect().toSet

  /** Expected latest-wins state after the first `k` batches. */
  private def expectedAfter(log: Workload.Log, batchSize: Int, k: Int) =
    Workload.expectedTxnState(
      Workload.Log(log.accounts,
        log.txns.take(k * batchSize))).toSet

  test("every commit stays readable at its own version (time travel)") {
    val log = Workload.generate(seed = 31, n = 300)
    val table = newTable()
    val batches = log.txns.grouped(100).toSeq
    val vs = batches.map(b => table.upsert(b.toDF()))
    assert(vs === Seq(0, 1, 2))
    assert(table.versions === Seq(0, 1, 2))
    (1 to 3).foreach { k =>
      assert(state(table.read(Some(k - 1))) === expectedAfter(log, 100, k),
        s"snapshot ${k - 1}")
    }
    // default read = latest
    assert(state(table.read()) === expectedAfter(log, 100, 3))
    // SQL surface: a snapshot registers as a queryable view (AS OF analog)
    table.registerAs("txns_v0", Some(0))
    table.registerAs("txns_latest")
    assert(spark.sql("SELECT COUNT(*) FROM txns_v0").head().getLong(0) ===
      expectedAfter(log, 100, 1).size.toLong)
    assert(spark.sql("SELECT COUNT(*) FROM txns_latest").head().getLong(0) ===
      expectedAfter(log, 100, 3).size.toLong)
  }

  test("a merge writes only touched partitions; old files are shared forward") {
    val log = Workload.generate(seed = 32, n = 200)
    val table = newTable()
    table.upsert(log.txns.take(100).toDF())
    table.upsert(log.txns.drop(100).toDF())
    // v1's manifest must still reference at least one v0 data file IF some
    // partition was untouched by batch 2; at minimum, no old file was
    // deleted or rewritten in place
    val v0files = new java.io.File(table.spec.path + "/data/0")
    assert(v0files.exists, "v0 data dir must survive the second commit")
  }

  test("a manifest above an uncommitted claimed slot is invisible until " +
    "the gap heals (repeatable time travel)") {
    val log = Workload.generate(seed = 36, n = 300)
    val table = newTable()
    val batches = log.txns.grouped(100).toSeq
    table.upsert(batches(0).toDF()) // v0
    table.upsert(batches(1).toDF()) // v1
    // simulate a writer that CLAIMED slot 2 and died before committing its
    // manifest: data/2 with an intent over a partition nobody else touches
    val claim = java.nio.file.Paths.get(table.spec.path, "data", "2")
    java.nio.file.Files.createDirectories(claim)
    java.nio.file.Files.writeString(claim.resolve("_intent.json"),
      """{"touched":["create_year=1999/create_month=01/create_day=01/""" +
        """create_hour=00/create_minute=00"]}""")
    // a disjoint writer walks past the claim and commits at slot 3
    val v = table.upsert(batches(2).toDF())
    assert(v === 3)
    // slot 2 never committed: the readable head stays at 1, and v3 —
    // though committed — is not observable without v2 beneath it
    assert(table.latestVersion === Some(1))
    assert(state(table.read()) === expectedAfter(log, 100, 2))
    val e = intercept[IllegalStateException](table.read(Some(3)))
    assert(e.getMessage.contains("gap at 2"), e.getMessage)
    // reclaiming the crashed claim tombstones its slot; the log heals and
    // v3 becomes visible with exactly what its writer committed — its
    // resolution never changed while it was hidden
    assert(table.cleanOrphans() === 1)
    assert(table.versions === Seq(0, 1, 2, 3))
    assert(table.latestVersion === Some(3))
    assert(state(table.read(Some(3))) === expectedAfter(log, 100, 3))
    // the tombstone slot reads as the state beneath it (empty delta)
    assert(state(table.read(Some(2))) === expectedAfter(log, 100, 2))
  }

  test("rollback restores an old snapshot as a new commit") {
    val log = Workload.generate(seed = 33, n = 200)
    val table = newTable()
    table.upsert(log.txns.take(100).toDF())
    table.upsert(log.txns.drop(100).toDF())
    val v = table.rollback(0)
    assert(v === 2)
    assert(state(table.read()) === expectedAfter(log, 100, 1))
    // the rolled-back-over commit is still in history
    assert(state(table.read(Some(1))) === expectedAfter(log, 100, 2))
  }

  test("vacuum drops old snapshots and their exclusive files, keeps the rest") {
    val log = Workload.generate(seed = 34, n = 300)
    val table = newTable()
    log.txns.grouped(100).foreach(b => table.upsert(b.toDF()))
    val before = state(table.read())
    val deleted = table.vacuumBefore(2)
    // versions 0 and 1 are gone…
    assert(table.versions === Seq(2))
    intercept[IllegalArgumentException](table.read(Some(0)))
    // …but the latest snapshot is fully intact, including v0 files it
    // still references (shared-forward files must NOT be deleted)
    assert(state(table.read()) === before)
    // batches re-touch partitions, so replaced files must have died
    assert(deleted > 0)
    intercept[IllegalArgumentException](table.vacuumBefore(99))
  }

  test("readWhere prunes at the manifest: only kept partitions' files are scanned") {
    val log = Workload.generate(seed = 37, n = 300)
    val table = newTable()
    log.txns.grouped(150).foreach(b => table.upsert(b.toDF()))
    val minutes = table.read().select($"create_minute").distinct()
      .as[String].collect().sorted
    assert(minutes.length > 1)
    val pick = minutes.head
    val pruned = table.readWhere(None, p => p("create_minute") == pick)
    // row-correct vs the post-scan filter…
    val expected = state(table.read().filter($"create_minute" === pick))
    assert(state(pruned) === expected)
    // …and the SCAN itself only lists the kept partition's files: every
    // input file path carries the picked minute dir
    val inputs = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.linesIterator).mkString("\n")
    val scanned = pruned.inputFiles
    assert(scanned.nonEmpty)
    assert(scanned.forall(_.contains(s"create_minute=$pick")),
      s"scan listed foreign partitions:\n${scanned.mkString("\n")}\n$inputs")
    // a predicate that prunes everything fails loudly, not silently-empty
    intercept[IllegalArgumentException](
      table.readWhere(None, _ => false))
  }

  test("compactSnapshot collapses the snapshot to one version dir, state intact") {
    val log = Workload.generate(seed = 36, n = 300)
    val table = newTable()
    log.txns.grouped(100).foreach(b => table.upsert(b.toDF()))
    val before = state(table.read())
    val v = table.compactSnapshot()
    assert(v === 3)
    assert(state(table.read()) === before)
    // the compacted snapshot references ONLY data/3 files
    val manifestText = java.nio.file.Files.readString(
      java.nio.file.Paths.get(table.spec.path, "_commits", "00000003.json"))
    assert(!manifestText.contains("data/0/") &&
      !manifestText.contains("data/1/") && !manifestText.contains("data/2/"))
    // vacuum after compaction reclaims every superseded file, table intact
    val deleted = table.vacuumBefore(3)
    assert(deleted > 0)
    assert(state(table.read()) === before)
  }

  private def manifestJson(table: VersionedLakeTable, v: Int): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(
      table.spec.path, "_commits", f"$v%08d.json"))

  test("a 1-partition commit writes an O(1) delta manifest, not O(partitions)") {
    val table = newTable()
    // bootstrap spanning 40 distinct minute partitions, one key each
    val boot = (0 until 40).map { i =>
      val t = f"2024-01-01T00:$i%02d:01.000000+0000"
      Workload.Txn(s"k$i", "a1", t, t, "fuel", i, 0, "v1")
    }
    table.upsert(boot.toDF()) // v0: full checkpoint
    def partitionEntries(v: Int): List[(String, org.json4s.JValue)] =
      (org.json4s.jackson.JsonMethods.parse(manifestJson(table, v))
        \ "partitions").asInstanceOf[org.json4s.JObject].obj
    assert(partitionEntries(0).size === 40, "bootstrap must span 40 partitions")
    // one brand-new key in ONE partition (a fresh create_at minute)
    table.upsert(Seq(Workload.Txn("solo-key", "a1",
      "2024-01-01T00:41:01.000000+0000", "2024-01-01T00:41:01.000000+0000",
      "fuel", 5, 0, "v1")).toDF())
    val delta = manifestJson(table, 1)
    assert(delta.contains("\"delta\""), "second commit must be a delta")
    assert(partitionEntries(1).size === 1,
      "1-partition commit must list exactly its touched partition — " +
        s"got ${partitionEntries(1).map(_._1)}")
    assert(delta.length < manifestJson(table, 0).length / 4,
      "delta manifest bytes must not scale with table partitions")
    // and the delta-resolved snapshot is complete: old + new rows
    assert(state(table.read()).size === 41)
  }

  test("checkpoint cadence: every Nth commit is full, reads resolve everywhere") {
    val log = Workload.generate(seed = 42, n = 500)
    val table = new VersionedLakeTable(spark, LakeTableSpec(
      path = tmpDir("vlake-ckpt"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"),
      checkpointEvery = 3)
    val batches = log.txns.grouped(100).toSeq
    batches.foreach(b => table.upsert(b.toDF()))
    assert(manifestJson(table, 1).contains("\"delta\""), "v1 must be a delta")
    assert(manifestJson(table, 3).contains("\"delta\"") === false,
      "v3 (3 % checkpointEvery == 0) must be a full checkpoint")
    assert(manifestJson(table, 4).contains("\"delta\""), "v4 must be a delta")
    (1 to 5).foreach { k =>
      assert(state(table.read(Some(k - 1))) === expectedAfter(log, 100, k),
        s"snapshot ${k - 1}")
    }
  }

  test("an orphan data dir from a crashed commit is cleared, not a wedge") {
    val log = Workload.generate(seed = 43, n = 120)
    val table = newTable()
    table.upsert(log.txns.take(60).toDF())
    // simulate a writer that died between data write and manifest commit
    val orphan = java.nio.file.Paths.get(table.spec.path, "data", "1",
      "create_year=2024")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-junk.parquet"), "junk")
    val v = table.upsert(log.txns.drop(60).toDF()) // must not wedge
    assert(v === 1)
    assert(state(table.read()) === expectedAfter(log, 60, 2))
  }

  test("a key carrying two partitionSource values in one batch fails loudly") {
    val table = newTable()
    val ex = intercept[IllegalArgumentException](table.upsert(Seq(
      Workload.Txn("k1", "a1", "2024-01-01T00:00:01.000000+0000",
        "2024-01-01T00:00:01.000000+0000", "fuel", 5, 0, "v1"),
      Workload.Txn("k1", "a1", "2024-01-02T00:00:01.000000+0000",
        "2024-01-02T00:00:02.000000+0000", "fuel", 6, 0, "v2")).toDF()))
    assert(ex.getMessage.contains("k1"))
  }

  test("vacuum keeps delta chains readable by checkpointing the oldest survivor") {
    val log = Workload.generate(seed = 44, n = 400)
    val table = newTable() // checkpointEvery = 10: v1..v3 are all deltas
    log.txns.grouped(100).foreach(b => table.upsert(b.toDF()))
    val at2 = state(table.read(Some(2)))
    val at3 = state(table.read(Some(3)))
    table.vacuumBefore(2) // drops v0 (the only full checkpoint) and v1
    assert(table.versions === Seq(2, 3))
    // v2 was rewritten as a self-contained checkpoint; v3 resolves through it
    assert(manifestJson(table, 2).contains("\"delta\"") === false)
    assert(state(table.read(Some(2))) === at2)
    assert(state(table.read(Some(3))) === at3)
  }

  // ------------------------------------------------- optimistic concurrency

  private def occTxn(key: String, minute: Int, at: Int, amount: Int) =
    Workload.Txn(key, "a1", f"2024-01-01T00:$minute%02d:01.000000+0000",
      f"2024-01-01T00:$minute%02d:0$at.000000+0000", "fuel", amount, 0, "v")

  test("two interleaved writers on disjoint partitions both commit") {
    val path = tmpDir("vlake-occ")
    def mk() = new VersionedLakeTable(spark, LakeTableSpec(
      path = path, recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"))
    val a = mk()
    val b = mk()
    a.upsert(Seq(occTxn("x", 1, 1, 10), occTxn("y", 2, 1, 20)).toDF()) // v0
    // writer A stages an update to minute 01; in its claim window writer B
    // commits an update to minute 02 — A must rebase to the next slot and
    // both changes must land
    a.onBeforeClaim = () =>
      assert(b.upsert(Seq(occTxn("y", 2, 2, 21)).toDF()) === 1)
    val v = try a.upsert(Seq(occTxn("x", 1, 2, 11)).toDF())
    finally a.onBeforeClaim = () => ()
    assert(v === 2, "A must claim the slot above B's interleaved commit")
    assert(a.versions === Seq(0, 1, 2))
    val amounts = a.read().select($"id", $"amount")
      .as[(String, Int)].collect().toMap
    assert(amounts === Map("x" -> 11, "y" -> 21),
      "both writers' updates must be visible at the head")
    // time travel still coherent: v1 has B's update only
    val atV1 = a.read(Some(1)).select($"id", $"amount")
      .as[(String, Int)].collect().toMap
    assert(atV1 === Map("x" -> 10, "y" -> 21))
  }

  test("overlapping interleaved commit fails loudly, names the partition, " +
    "cleans its staging, and a re-run rebases") {
    val path = tmpDir("vlake-occ-conflict")
    def mk() = new VersionedLakeTable(spark, LakeTableSpec(
      path = path, recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"))
    val a = mk()
    val b = mk()
    a.upsert(Seq(occTxn("x", 1, 1, 10)).toDF()) // v0
    a.onBeforeClaim = () => { b.upsert(Seq(occTxn("x", 1, 2, 11)).toDF()); () }
    val ex = try intercept[java.util.ConcurrentModificationException] {
      a.upsert(Seq(occTxn("x", 1, 3, 12)).toDF())
    } finally a.onBeforeClaim = () => ()
    assert(ex.getMessage.contains("create_minute=01"),
      s"conflict must name the overlapping partition: ${ex.getMessage}")
    assert(ex.getMessage.contains("version 1"))
    // the loser's staging dir is cleaned up
    val stray = java.nio.file.Files.list(
      java.nio.file.Paths.get(path, "data")).iterator()
    var stage = false
    while (stray.hasNext) {
      if (stray.next().getFileName.toString.startsWith(".stage")) stage = true
    }
    assert(!stage, "aborted writer must remove its staged dir")
    // B's commit is intact; A re-running rebases onto it and wins latest
    assert(a.read().select($"amount").as[Int].collect().toSeq === Seq(11))
    assert(a.upsert(Seq(occTxn("x", 1, 3, 12)).toDF()) === 2)
    assert(a.read().select($"amount").as[Int].collect().toSeq === Seq(12))
  }

  test("an in-flight claim blocks overlapping writers but not disjoint " +
    "ones; cleanOrphans reclaims crash debris") {
    val path = tmpDir("vlake-occ-inflight")
    def mk() = new VersionedLakeTable(spark, LakeTableSpec(
      path = path, recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"))
    val t = mk()
    t.upsert(Seq(occTxn("x", 1, 1, 10), occTxn("y", 2, 1, 20)).toDF()) // v0
    // simulate a writer that claimed slot 1 for minute 01 and died: data
    // dir with an intent, no manifest
    val claimed = java.nio.file.Paths.get(path, "data", "1")
    java.nio.file.Files.createDirectories(claimed)
    java.nio.file.Files.writeString(claimed.resolve("_intent.json"),
      """{"touched":["create_year=2024/create_month=01/create_day=01/""" +
        """create_hour=00/create_minute=01"]}""")
    // overlapping writer: blocked loudly
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.upsert(Seq(occTxn("x", 1, 2, 11)).toDF())
    }
    assert(ex.getMessage.contains("in flight"), ex.getMessage)
    // disjoint writer: skips the in-flight slot and commits above it
    assert(t.upsert(Seq(occTxn("y", 2, 2, 21)).toDF()) === 2)
    assert(t.versions === Seq(0, 2))
    // the dead claim is reclaimed once no writer is in flight, after
    // which the overlapping upsert proceeds
    assert(t.cleanOrphans() === 1)
    assert(!java.nio.file.Files.exists(claimed))
    assert(t.upsert(Seq(occTxn("x", 1, 2, 11)).toDF()) === 3)
    val amounts = t.read().select($"id", $"amount")
      .as[(String, Int)].collect().toMap
    assert(amounts === Map("x" -> 11, "y" -> 21))
  }

  test("truly parallel writers on disjoint partitions all commit " +
    "(threaded stress over the claim/rename race)") {
    val path = tmpDir("vlake-occ-threads")
    def mk() = new VersionedLakeTable(spark, LakeTableSpec(
      path = path, recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"))
    // bootstrap all four writers' partitions (minutes 1-4)
    mk().upsert((1 to 4).map(m => occTxn(s"k$m", m, 1, m * 10)).toDF())
    // four writers, each committing 3 strictly-newer updates to ITS OWN
    // minute, all in parallel: every claim races the others on the
    // version slots, none may lose an update or deadlock
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val writersDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to 4).map { m =>
      new Thread(() => {
        try {
          val t = mk()
          (2 to 4).foreach { at =>
            t.upsert(Seq(occTxn(s"k$m", m, at, m * 10 + at)).toDF())
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    // a concurrent READER loops over the latest snapshot the whole time:
    // every read it lands on must be a CONSISTENT committed snapshot —
    // always all 4 keys, every amount one of that key's legitimate
    // versions (manifests commit atomically, so a read never sees a
    // partial commit)
    val reader = new Thread(() => {
      try {
        val t = mk()
        while (!writersDone.get()) {
          val snap = t.read().select($"id", $"amount")
            .as[(String, Int)].collect().toMap
          assert(snap.size === 4, s"torn snapshot: $snap")
          snap.foreach { case (id, amount) =>
            val m = id.stripPrefix("k").toInt
            assert(amount == m * 10 || (2 to 4).exists(amount == m * 10 + _),
              s"impossible value for $id: $amount")
          }
        }
      } catch { case e: Throwable => errs.add(e) }
    })
    reader.start()
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    writersDone.set(true)
    reader.join(120000)
    assert(errs.isEmpty, s"parallel disjoint writers must not conflict: " +
      s"${Option(errs.peek()).map(_.toString)}")
    val t = mk()
    assert(t.versions === (0 to 12), "13 commits: bootstrap + 4x3 updates")
    val amounts = t.read().select($"id", $"amount")
      .as[(String, Int)].collect().toMap
    assert(amounts === (1 to 4).map(m => s"k$m" -> (m * 10 + 4)).toMap,
      "each writer's final update must win its key")
    // every intermediate snapshot still resolves (delta replay coherent)
    (0 to 12).foreach(v => assert(t.read(Some(v)).count() === 4L))
  }

  test("a full checkpoint is deferred while a lower slot is in flight") {
    val path = tmpDir("vlake-occ-ckpt")
    def mk() = new VersionedLakeTable(spark, LakeTableSpec(
      path = path, recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"),
      checkpointEvery = 2) // even versions want full checkpoints
    val t = mk()
    t.upsert(Seq(occTxn("x", 1, 1, 10), occTxn("y", 2, 1, 20)).toDF()) // v0
    // dead in-flight claim at slot 1 (disjoint minute 03)
    val claimed = java.nio.file.Paths.get(path, "data", "1")
    java.nio.file.Files.createDirectories(claimed)
    java.nio.file.Files.writeString(claimed.resolve("_intent.json"),
      """{"touched":["create_year=2024/create_month=01/create_day=01/""" +
        """create_hour=00/create_minute=03"]}""")
    // our commit lands at slot 2 — a checkpoint position — but must be a
    // DELTA: a checkpoint above the uncommitted slot-1 delta would shadow
    // it if that writer ever landed
    assert(t.upsert(Seq(occTxn("y", 2, 2, 21)).toDF()) === 2)
    val manifest = java.nio.file.Files.readString(java.nio.file.Paths.get(
      path, "_commits", "00000002.json"))
    assert(manifest.contains("\"delta\""),
      "checkpoint must defer while a lower slot is in flight")
    assert(t.read().count() === 2)
  }

  test("empty batch commits nothing; bootstrap requires rows") {
    val table = newTable()
    intercept[IllegalStateException](
      table.upsert(Seq.empty[Workload.Txn].toDF()))
    val log = Workload.generate(seed = 35, n = 60)
    table.upsert(log.txns.toDF())
    val v = table.upsert(Seq.empty[Workload.Txn].toDF())
    assert(v === 0) // no new version for an empty batch
    assert(table.versions === Seq(0))
  }

  test("approxRowCount: exact on compacted snapshots, upper bound on MoR") {
    val table = new VersionedLakeTable(spark, LakeTableSpec(
      path = tmpDir("vapprox"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at",
      tieBreak = Seq("note")))
    assert(table.approxRowCount() === 0L, "no commits yet reads 0")
    val log = Workload.generate(seed = 36, n = 120)
    table.upsert(log.txns.take(80).toDF())
    assert(table.approxRowCount() === table.read().count(),
      "footer count must be EXACT on a copy-on-write snapshot")
    // an append (merge-on-read) commit stores extra key versions: the
    // footer sum counts STORED rows — an upper bound on the merged count
    table.upsertDeferred(log.txns.drop(80).toDF())
    val merged = table.read().count()
    val approx = table.approxRowCount()
    assert(approx >= merged,
      s"footer count $approx must bound the merged count $merged")
    // time travel composes: version 0's count is the pre-append exact
    assert(table.approxRowCount(Some(0)) ===
      table.read(Some(0)).count())
    // compaction restores exactness
    table.compactSnapshot()
    assert(table.approxRowCount() === table.read().count())
  }

  test("an upsert of a 2-partition batch runs one guard action, no " +
    "separate partition collect") {
    val table = newTable()
    def txn(id: String, minute: Int, update: String, note: String) =
      Workload.Txn(id, "a1", f"2024-01-01T00:$minute%02d:01.000000+0000",
        update, "fuel", 1, 0, note)
    val t0 = "2024-01-01T01:00:00.000000+0000"
    val t1 = "2024-01-01T02:00:00.000000+0000"
    table.upsert(Seq(txn("k1", 1, t0, "a"), txn("k2", 2, t0, "b"),
      txn("k3", 3, t0, "c")).toDF())
    val batch = Seq(txn("k1", 1, t1, "a2"), txn("k2", 2, t1, "b2")).toDF()
    val report = Profile.profile(spark)(table.upsert(batch))._2
    // two actions — the shared guard and the staged write — in 9 jobs; a
    // separate guard action and a distinct-partition collect made it 3
    // actions and 12 jobs
    assert(report.plans.size === 2, report.render("versioned upsert"))
    assert(report.jobs <= 9, report.render("versioned upsert"))
    assert(state(table.read()).map(_.note) === Set("a2", "b2", "c"))
  }

  test("countRows on a table that turned stats on partway: exact while " +
    "unindexed files remain, zero jobs once every file is indexed") {
    val spec = LakeTableSpec(path = tmpDir("vcount-late-stats"),
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at")
    def txns(minutes: Range, update: String) =
      for { m <- minutes; i <- 0 until 5 } yield {
        val t = f"2024-01-01T00:$m%02d:01.000000+0000"
        Workload.Txn(f"k$m-$i", "a1", t, update, "fuel", m * 10 + i, 0, "v")
      }
    new VersionedLakeTable(spark, spec)
      .upsert(txns(0 until 4, "2024-01-01T01:00:00.000000+0000").toDF())
    val indexed = new VersionedLakeTable(spark, spec, statsCols = Seq("amount"))
    // rewrites minutes 2-3 (now indexed), adds 4-5; minutes 0-1 keep their
    // unindexed v0 files
    indexed.upsert(txns(2 until 6, "2024-01-01T02:00:00.000000+0000").toDF())
    val (mixed, mixedReport) = Profile.profile(spark)(indexed.countRows())
    assert(mixed === 30L && mixed === indexed.read().count())
    assert(mixedReport.jobs > 0, "unindexed files are counted by a scan")
    assert(indexed.countRows(Some(0)) === 20L)
    // the compacted snapshot's files all carry sidecar stats
    indexed.compactSnapshot()
    val (full, fullReport) = Profile.profile(spark)(indexed.countRows())
    assert(full === 30L && full === indexed.read().count())
    assert(fullReport.jobs === 0, fullReport.render("indexed countRows"))
  }
}
