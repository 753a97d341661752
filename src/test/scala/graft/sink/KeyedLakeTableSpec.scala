package graft.sink

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{Profile, SparkSpec}
import graft.ops.LakeOps
import graft.oracle.{CompareTables, Workload}

class KeyedLakeTableSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def newTable(tieBreak: Seq[String] = Nil): KeyedLakeTable =
    new KeyedLakeTable(spark, LakeTableSpec(
      path = tmpDir("lake-txn"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at",
      tieBreak = tieBreak))

  private def asState(df: DataFrame): Set[Workload.Txn] =
    LakeOps.normalizeForCompare(df).as[Workload.Txn].collect().toSet

  test("overwrite bootstraps a partitioned keyed table") {
    val log = Workload.generate(seed = 1, n = 200)
    val table = newTable()
    table.overwrite(log.txns.toDF())
    assert(asState(table.read()) === Workload.expectedTxnState(log).toSet)
    // partition layout exists on disk (5-level hive-style dirs)
    val root = new java.io.File(table.spec.path)
    val yearDirs = root.listFiles().filter(_.isDirectory).map(_.getName)
    assert(yearDirs.exists(_.startsWith("create_year=")))
  }

  test("bootstrap + upserts == source-of-truth last-writer state") {
    val log = Workload.generate(seed = 2, n = 600)
    val batches = log.txns.grouped(200).toSeq
    val table = newTable()
    table.overwrite(batches.head.toDF())
    batches.tail.foreach(b => table.upsert(b.toDF()))
    assert(asState(table.read()) === Workload.expectedTxnState(log).toSet)
  }

  test("any batch split of the same log yields the same table") {
    val log = Workload.generate(seed = 3, n = 400)
    val splits = Seq(Seq(400), Seq(100, 300), Seq(150, 150, 100), Seq(47, 212, 90, 51))
    val states = splits.map { sizes =>
      assert(sizes.sum === 400)
      val table = newTable()
      var rest = log.txns
      var first = true
      sizes.foreach { k =>
        val (batch, r) = rest.splitAt(k)
        rest = r
        if (first) { table.overwrite(batch.toDF()); first = false }
        else table.upsert(batch.toDF())
      }
      asState(table.read())
    }
    assert(states.distinct.size === 1)
    assert(states.head === Workload.expectedTxnState(log).toSet)
  }

  test("a late batch with an older update_at never clobbers a newer row") {
    // incremental.py:225-226 semantics: precombine guards against
    // out-of-order application.
    val t0 = "2024-01-01T00:00:01.000000+0000"
    val t1 = "2024-01-01T00:00:05.000000+0000"
    val table = newTable()
    table.overwrite(Seq(
      Workload.Txn("k1", "a1", t0, t1, "fuel", 10, 0, "newer")).toDF())
    table.upsert(Seq(
      Workload.Txn("k1", "a1", t0, t0, "fuel", 10, 0, "older-late")).toDF())
    val note = table.read().select("note").as[String].collect().toSeq
    assert(note === Seq("newer"))
  }

  test("on an equal precombine value the incoming row wins (Hudi tie rule)") {
    val t0 = "2024-01-01T00:00:01.000000+0000"
    val t1 = "2024-01-01T00:00:05.000000+0000"
    val table = newTable()
    table.overwrite(Seq(
      Workload.Txn("k1", "a1", t0, t1, "fuel", 10, 0, "original")).toDF())
    table.upsert(Seq(
      Workload.Txn("k1", "a1", t0, t1, "fuel", 10, 0, "incoming")).toDF())
    val note = table.read().select("note").as[String].collect().toSeq
    assert(note === Seq("incoming"))
  }

  test("a configured tieBreak is a total order across batches, not arrival order") {
    // ADVICE r2: equal-precombine versions of one key split across batches
    // must resolve by the tieBreak column regardless of which batch arrived
    // first — otherwise batch-split invariance fails exactly when the
    // tieBreak exists to prevent it.
    val t0 = "2024-01-01T00:00:01.000000+0000"
    val hi = Workload.Txn("k1", "a1", t0, t0, "fuel", 99, 0, "tiebreak-high")
    val lo = Workload.Txn("k1", "a1", t0, t0, "fuel", 1, 0, "tiebreak-low")
    val notes = Seq(Seq(hi, lo), Seq(lo, hi)).map { case Seq(first, second) =>
      val table = newTable(tieBreak = Seq("amount"))
      table.overwrite(Seq(first).toDF())
      table.upsert(Seq(second).toDF())
      table.read().select("note").as[String].collect().toSeq
    }
    assert(notes === Seq(Seq("tiebreak-high"), Seq("tiebreak-high")))
  }

  test("upsert rewrites only the touched partitions") {
    val log = Workload.generate(seed = 5, n = 300)
    val table = newTable()
    table.overwrite(log.txns.toDF())
    val root = java.nio.file.Paths.get(table.spec.path)
    def fileMtimes(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = fileMtimes()
    Thread.sleep(20)
    // update one existing key only
    val one = log.txns.head
    table.upsert(Seq(one.copy(update_at = "2024-12-31T00:00:00.000000+0000",
      note = "touched")).toDF())
    val after = fileMtimes()
    val unchanged = before.keySet.intersect(after.keySet)
      .count(k => before(k) == after(k))
    // every partition except the touched one keeps its original files
    assert(unchanged > 0 && before.size - unchanged <= before.size / 2)
    // and the final state is still exact
    val expected = Workload.expectedTxnState(log).map(t =>
      if (t.id == one.id) t.copy(update_at = "2024-12-31T00:00:00.000000+0000", note = "touched") else t)
    assert(asState(table.read()) === expected.toSet)
  }

  test("overwrite replaces the whole table even when the session's " +
    "partition overwrite mode is dynamic") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      def txn(id: String, createAt: String) =
        Workload.Txn(id, "a1", createAt, createAt, "fuel", 1, 0, id)
      val jan = txn("jan", "2024-01-01T00:00:01.000000+0000")
      val feb = txn("feb", "2024-02-01T00:00:01.000000+0000")
      val table = newTable()
      table.overwrite(Seq(jan).toDF())
      table.overwrite(Seq(feb).toDF()) // lands only in a new partition
      def ids() = table.read().select("id").as[String].collect().toSet
      assert(ids() === Set("feb"))
      // the upsert still rewrites only the partition it touches
      table.upsert(Seq(jan).toDF())
      assert(ids() === Set("jan", "feb"))
      assert(spark.conf.get(key) === "dynamic", "the session's mode is its own")
    } finally prev match {
      case Some(m) => spark.conf.set(key, m)
      case None => spark.conf.unset(key)
    }
  }

  test("a null partition source fails the batch loudly instead of corrupting") {
    val table = newTable()
    table.overwrite(Seq(
      Workload.Txn("k1", "a1", "2024-01-01T00:00:01.000000+0000",
        "2024-01-01T00:00:01.000000+0000", "fuel", 1, 0, "ok")).toDF())
    val bad = Seq(
      Workload.Txn("k2", "a1", null, "2024-01-01T00:00:02.000000+0000",
        "fuel", 1, 0, "null-create-at")).toDF()
    val e = intercept[Exception](table.upsert(bad))
    assert(e.getMessage.contains("null create_at") ||
      Option(e.getCause).exists(_.getMessage.contains("null create_at")))
    // table unchanged
    assert(table.read().count() === 1)
  }

  test("two partition values for one key in a batch are rejected (invariant)") {
    val table = newTable()
    table.overwrite(Seq(
      Workload.Txn("k1", "a1", "2024-01-01T00:00:01.000000+0000",
        "2024-01-01T00:00:01.000000+0000", "fuel", 1, 0, "ok")).toDF())
    val bad = Seq(
      Workload.Txn("k1", "a1", "2024-02-01T00:00:01.000000+0000",
        "2024-02-01T00:00:05.000000+0000", "fuel", 1, 0, "moved"),
      Workload.Txn("k1", "a1", "2024-03-01T00:00:01.000000+0000",
        "2024-03-01T00:00:06.000000+0000", "fuel", 1, 0, "moved-again")).toDF()
    val e = intercept[IllegalArgumentException](table.upsert(bad))
    // the error names the offending key (ADVICE r3: debuggable rejections)
    assert(e.getMessage.contains("id=k1"), e.getMessage)
  }

  test("an empty first batch is a no-op, not a poisoned table path") {
    val table = newTable()
    table.upsert(Seq.empty[Workload.Txn].toDF())
    assert(!table.exists)
    // the table still bootstraps fine afterwards
    val log = Workload.generate(seed = 91, n = 50)
    table.upsert(log.txns.toDF())
    assert(asState(table.read()) === Workload.expectedTxnState(log).toSet)
    // and an empty later batch changes nothing
    table.upsert(Seq.empty[Workload.Txn].toDF())
    assert(asState(table.read()) === Workload.expectedTxnState(log).toSet)
  }

  test("upsert into an empty path behaves as bootstrap") {
    val log = Workload.generate(seed = 7, n = 100)
    val table = newTable()
    table.upsert(log.txns.toDF())
    assert(asState(table.read()) === Workload.expectedTxnState(log).toSet)
  }

  test("CompareTables proves source == lake after a CDC run, and catches drift") {
    val log = Workload.generate(seed = 8, n = 500)
    val table = newTable()
    val batches = log.txns.grouped(120).toSeq
    table.overwrite(batches.head.toDF())
    batches.tail.foreach(b => table.upsert(b.toDF()))
    val source = Workload.expectedTxnState(log).toDF()
    val diff = CompareTables.compare(source, table.read())
    assert(diff.isEqual, s"diff: $diff")
    // and the oracle actually detects a corrupted lake
    val corrupted = table.read().limit(table.read().count().toInt - 1)
    assert(!CompareTables.compare(source, corrupted).isEqual)
  }

  test("strict upsert rejects a batch whose columns differ from the table's") {
    val log = Workload.generate(seed = 60, n = 120)
    val table = newTable()
    table.overwrite(log.txns.take(60).toDF())
    val extra = log.txns.drop(60).toDF()
      .withColumn("channel", org.apache.spark.sql.functions.lit("web"))
    val e = intercept[IllegalArgumentException](table.upsert(extra))
    assert(e.getMessage.contains("evolveSchema"), e.getMessage)
  }

  test("evolveSchema adds a batch-only column; old rows read it as null") {
    val log = Workload.generate(seed = 61, n = 200)
    val table = newTable()
    val (first, second) = log.txns.splitAt(100)
    table.overwrite(first.toDF())
    val evolved = second.toDF()
      .withColumn("channel", org.apache.spark.sql.functions.lit("web"))
    table.upsert(evolved, evolveSchema = true)
    val out = table.read()
    assert(out.columns.contains("channel"))
    val expected = Workload.expectedTxnState(log).toSet
    assert(asState(out.drop("channel")) === expected)
    // exactly the keys whose WINNING version came from the evolved batch
    // carry the channel value; everything else is null
    val secondIds = second.map(_.id).toSet
    val winners = expected.filter(t => secondIds.contains(t.id))
      .filter(t => second.exists(s => s.id == t.id && s.update_at == t.update_at))
      .map(_.id)
    val channelled = out.filter($"channel".isNotNull)
      .select($"id").as[String].collect().toSet
    assert(channelled === winners)
  }

  test("evolveSchema null-fills a batch missing a table column") {
    val log = Workload.generate(seed = 62, n = 150)
    val table = newTable()
    val (first, second) = log.txns.splitAt(100)
    table.overwrite(first.toDF())
    table.upsert(second.toDF().drop("note"), evolveSchema = true)
    val out = table.read()
    assert(out.columns.contains("note"))
    val expected = Workload.expectedTxnState(log).toSet
    // winners from the evolved batch have null note; the rest keep theirs
    val fromSecond = out.filter($"note".isNull).select($"id").as[String]
      .collect().toSet
    val secondWinners = expected
      .filter(t => second.exists(s => s.id == t.id && s.update_at == t.update_at))
      .map(_.id)
    assert(fromSecond === secondWinners)
    // data columns other than the evolved one are merge-correct
    val got = out.select($"id", $"update_at", $"amount")
      .as[(String, String, Int)].collect().toSet
    assert(got === expected.map(t => (t.id, t.update_at, t.amount)))
  }

  test("a same-name type change is always a loud error, even when evolving") {
    val log = Workload.generate(seed = 63, n = 80)
    val table = newTable()
    table.overwrite(log.txns.take(40).toDF())
    val retyped = log.txns.drop(40).toDF()
      .withColumn("amount", $"amount".cast("string"))
    val e1 = intercept[IllegalArgumentException](table.upsert(retyped))
    assert(e1.getMessage.contains("type changed"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      table.upsert(retyped, evolveSchema = true))
    assert(e2.getMessage.contains("type changed"), e2.getMessage)
  }

  /** One key per minute of hour 00 on 2024-01-01: key `k<mm>` lives in
    * minute `mm`, version `at` has `update_at` second `at`. */
  private def minuteTxn(minute: Int, at: Int = 1, hour: Int = 0,
      id: String = null): Workload.Txn =
    Workload.Txn(Option(id).getOrElse(f"k$minute%02d"), "a1",
      f"2024-01-01T$hour%02d:$minute%02d:00.000000+0000",
      f"2024-01-01T$hour%02d:$minute%02d:$at%02d.000000+0000",
      "fuel", minute, 0, s"v$at")

  /** 20 one-key minutes, then an evolving upsert that adds `channel` =
    * "web" to minutes 10–19 only: the first-listed files (minutes 00–09)
    * keep the old schema. */
  private def evolvedTable(): KeyedLakeTable = {
    val table = newTable()
    table.overwrite((0 until 20).map(minuteTxn(_)).toDF())
    table.upsert((10 until 20).map(minuteTxn(_, at = 2)).toDF()
      .withColumn("channel", org.apache.spark.sql.functions.lit("web")),
      evolveSchema = true)
    table
  }

  private def channels(table: KeyedLakeTable): Map[String, String] =
    table.read().select($"id", $"channel").as[(String, String)].collect().toMap

  test("an evolving upsert keeps the evolved column of the rows it carries over") {
    val table = evolvedTable()
    // a new key in minute 15: k15 is carried over by the rewrite of that
    // partition and must keep its channel
    table.upsert(Seq(minuteTxn(15, at = 3, id = "n15")).toDF()
      .withColumn("channel", org.apache.spark.sql.functions.lit("app")),
      evolveSchema = true)
    val got = channels(table)
    assert(got("k15") === "web", got)
    assert(got("n15") === "app", got)
    assert(got("k03") === null, got)
    assert(got.size === 21)
  }

  test("a strict upsert carrying exactly the table's current columns is accepted") {
    val table = evolvedTable()
    def withChannel(t: Workload.Txn, c: String) = Seq(t).toDF()
      .withColumn("channel", org.apache.spark.sql.functions.lit(c))
    // minute 03 holds only old-schema files: the check confirms against
    // the whole table, and the carried-over rows read channel as null
    table.upsert(withChannel(minuteTxn(3, at = 3), "mobile"))
    // minute 15's files already carry channel
    table.upsert(withChannel(minuteTxn(15, at = 3), "mobile"))
    val got = channels(table)
    assert(got("k03") === "mobile" && got("k15") === "mobile", got)
    assert(got("k04") === null && got("k16") === "web", got)
    // a strict batch without channel into minute 15 still differs from
    // the table's columns
    val e = intercept[IllegalArgumentException](
      table.upsert(Seq(minuteTxn(15, at = 4)).toDF()))
    assert(e.getMessage.contains("(channel)"), e.getMessage)
  }

  test("a batch touching only new partitions is still column- and type-checked") {
    val table = evolvedTable()
    val fresh = Seq(minuteTxn(30, hour = 1)).toDF()
      .withColumn("channel", org.apache.spark.sql.functions.lit("web"))
    val extra = intercept[IllegalArgumentException](
      table.upsert(fresh.withColumn("region", $"entity")))
    assert(extra.getMessage.contains("(region)"), extra.getMessage)
    val retyped = fresh.withColumn("amount", $"amount".cast("string"))
    Seq(false, true).foreach { evolve =>
      val e = intercept[IllegalArgumentException](
        table.upsert(retyped, evolveSchema = evolve))
      assert(e.getMessage.contains("type changed"), e.getMessage)
    }
    assert(table.read().count() === 20)
    table.upsert(fresh)
    assert(channels(table).get("k30") === Some("web"))
  }

  test("an upsert lists only the partitions it touches, never the table") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // 45 minute partitions under one hour directory: Spark lists a
    // directory level of more than 32 entries in a distributed job
    val table = newTable()
    table.overwrite((0 until 45).map(minuteTxn(_)).toDF())
    val batch = Seq(minuteTxn(5, at = 2), minuteTxn(30, at = 2),
      minuteTxn(0, hour = 1, id = "n100")).toDF()
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(p => Option(p.getProperty("spark.jobGroup.id"))
            .exists(_.startsWith("graft-profile-")))
          .foreach(p => descriptions.add(
            Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    spark.sparkContext.addSparkListener(listener)
    val report = try Profile.profile(spark)(table.upsert(batch))._2
      finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val listings = descriptions.asScala.filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty, listings.mkString("\n"))
    // reading the whole table's file index made this upsert 15 jobs, one
    // of them the 45-path listing; reading the touched directories, 10
    assert(report.jobs < 15, report.render("upsert"))
    assert(table.read().count() === 46)
  }

  test("soft delete: a tombstone wins only by precombine, an older version " +
    "cannot resurrect, the change feed classifies live transitions, and " +
    "incremental aggregates track the live table") {
    import org.apache.spark.sql.functions._
    val table = new KeyedLakeTable(spark, LakeTableSpec(
      path = tmpDir("lake-softdel"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at",
      softDeleteCol = Some("is_deleted")))
    def txn(id: String, at: Int, amount: Int) = Workload.Txn(
      id, "a1", "2024-01-01T00:01:01.000000+0000",
      f"2024-01-01T00:0$at:00.000000+0000", "misc", amount, 0, "v")
    def batch(rows: Seq[Workload.Txn], deleted: Set[String]) =
      rows.toDF().withColumn("is_deleted",
        col("id").isin(deleted.toSeq: _*))
    var state = graft.ops.IncrementalAgg.emptyState(spark,
      org.apache.spark.sql.types.StringType)
    def fold(changes: DataFrame): Unit =
      state = graft.ops.IncrementalAgg.applyDelta(state, changes,
        "entity", "amount", softDeleteField = Some("is_deleted"))
        .localCheckpoint(true)

    // b1: four live rows at t=1
    val b1 = batch(Seq(txn("k1", 1, 10), txn("k2", 1, 20),
      txn("k3", 1, 30), txn("k4", 1, 40)), Set.empty)
    fold(table.upsertChanges(b1))
    // b2 at t=2: delete k1, update k2, delete never-seen k9,
    // and a STALE delete of k3 at t=0 (older than the live version)
    val b2 = batch(Seq(txn("k1", 2, 10), txn("k2", 2, 25),
      txn("k9", 2, 99), txn("k3", 0, 30)), Set("k1", "k9", "k3"))
    val feed2 = table.upsertChanges(b2)
    val types2 = feed2.select($"id", $"change_type")
      .as[(String, String)].collect().toMap
    assert(types2 == Map("k1" -> "delete", "k2" -> "update",
      "k9" -> "delete", "k3" -> "noop"), s"feed2: $types2")
    fold(feed2)
    assert(table.readLive().select($"id", $"amount")
      .as[(String, Int)].collect().toSet ==
      Set(("k2", 25), ("k3", 30), ("k4", 40)),
      "tombstones must leave the live read; a stale delete must not land")
    // b3 at t=3: resurrect k1; a LIVE version of k9 at t=0 must NOT
    // resurrect it (the tombstone is newer)
    val b3 = batch(Seq(txn("k1", 3, 11), txn("k9", 0, 99)), Set.empty)
    val feed3 = table.upsertChanges(b3)
    val types3 = feed3.select($"id", $"change_type")
      .as[(String, String)].collect().toMap
    assert(types3 == Map("k1" -> "insert", "k9" -> "noop"), s"feed3: $types3")
    fold(feed3)
    assert(table.readLive().select($"id", $"amount")
      .as[(String, Int)].collect().toSet ==
      Set(("k1", 11), ("k2", 25), ("k3", 30), ("k4", 40)))
    // the maintained aggregate equals a from-scratch aggregate of LIVE rows
    val live = table.readLive().groupBy($"entity")
      .agg(count(lit(1)).as("n"), sum($"amount").as("t"))
      .as[(String, Long, Long)].collect().map {
        case (g, n, t) => g -> (n, t) }.toMap
    val st = state.select($"group", $"n_rows", $"total".cast("long"))
      .as[(String, Long, Long)].collect().map {
        case (g, n, t) => g -> (n, t) }.toMap
    assert(st == live, s"state $st vs live $live")
    // the tombstone ROW is still in the raw table (resurrection guard)
    assert(table.read().filter($"id" === "k9" && $"is_deleted").count() == 1)
  }

  test("commit-marker read memo: any instance's write invalidates; " +
      "markerless tables never memoize") {
    val log = Workload.generate(seed = 77, n = 300)
    val batches = log.txns.grouped(150).toSeq
    val path = tmpDir("lake-memo")
    def instance() = new KeyedLakeTable(spark, LakeTableSpec(
      path = path, recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"))
    val t1 = instance()
    t1.overwrite(batches(0).toDF())
    val marker = new java.io.File(path, "_graft_commit")
    assert(marker.isFile, "every write must leave the commit marker")
    val v1 = java.nio.file.Files.readString(marker.toPath)
    // memoize t1's resolved read, then write through a DIFFERENT instance
    val before = asState(t1.read())
    assert(before === Workload.expectedTxnState(
      Workload.Log(log.accounts, batches(0))).toSet)
    val t2 = instance()
    t2.upsert(batches(1).toDF())
    val v2 = java.nio.file.Files.readString(marker.toPath)
    assert(v2 !== v1, "a write must bump the marker value")
    // t1's next read must see t2's write (memo invalidated by version)
    assert(asState(t1.read()) === Workload.expectedTxnState(log).toSet)
    // legacy/foreign layout: no marker → reads stay correct (no memo)
    assert(marker.delete())
    assert(asState(t1.read()) === Workload.expectedTxnState(log).toSet)
  }

  /** The table read without any memo: what `read()` must equal. */
  private def freshRead(table: KeyedLakeTable): DataFrame = KeyedMerge.normalizeParts(
    spark.read.option("mergeSchema", "true").parquet(table.spec.path))

  /** `got` equals a fresh read of `table` in schema (names, types and
    * order), input files (as a set) and rows (as a multiset). */
  private def assertFresh(got: DataFrame, table: KeyedLakeTable, step: String): Unit = {
    val fresh = freshRead(table)
    def fields(d: DataFrame) = d.schema.map(f => (f.name, f.dataType))
    assert(fields(got) === fields(fresh), step)
    assert(got.inputFiles.toSet === fresh.inputFiles.toSet, step)
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(got) === rows(fresh), step)
  }

  /** Profile one `read()`: its frame and the number of Spark jobs it ran. */
  private def profiledRead(table: KeyedLakeTable): (DataFrame, Int) = {
    val (df, report) = Profile.profile(spark)(table.read())
    (df, report.jobs)
  }

  private def assertWarm(table: KeyedLakeTable, step: String): Unit = {
    val (got, jobs) = profiledRead(table)
    assert(jobs === 0, s"$step: read() ran $jobs jobs")
    assertFresh(got, table, step)
  }

  private def assertMiss(table: KeyedLakeTable, step: String): Unit = {
    val (got, jobs) = profiledRead(table)
    assert(jobs > 0, s"$step: read() must re-list and re-merge footers")
    assertFresh(got, table, step)
  }

  private def withPartitionInference[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  Seq(false, true).foreach { infer =>
    test("write-through memo: the read after upsert, upsertChanges and " +
        "upsertDeferred runs no job and equals a fresh read " +
        s"(partition type inference ${if (infer) "on" else "off"})") {
      withPartitionInference(infer) {
        // 45 minute partitions: a fresh read lists them in a distributed job
        val table = newTable(tieBreak = Seq("note"))
        table.overwrite((0 until 45).map(minuteTxn(_)).toDF())
        assertMiss(table, "after overwrite")
        assertWarm(table, "warm")
        // two old partitions and one new hour
        table.upsert(Seq(minuteTxn(5, at = 2), minuteTxn(30, at = 2),
          minuteTxn(0, hour = 1, id = "n100")).toDF())
        assertWarm(table, "upsert")
        table.upsertChanges(Seq(minuteTxn(5, at = 3), minuteTxn(1, hour = 1,
          id = "n101")).toDF()).collect()
        assertWarm(table, "upsertChanges")
        table.upsertDeferred(Seq(minuteTxn(7, at = 4), minuteTxn(0, hour = 1,
          id = "n100", at = 4), minuteTxn(2, hour = 1, id = "n102")).toDF())
        assertWarm(table, "upsertDeferred")
        // a write through another instance on the same path refreshes the
        // same (session, path) entry
        val other = new KeyedLakeTable(spark, table.spec)
        other.upsert(Seq(minuteTxn(7, at = 5), minuteTxn(44, at = 5)).toDF())
        assertWarm(table, "second instance, first handle")
        assertWarm(other, "second instance, writing handle")
        assert(table.readMerged().count() === 48)
        // an evolving upsert drops the entry: the next read lists once
        table.upsert(Seq(minuteTxn(9, at = 6)).toDF()
          .withColumn("channel", org.apache.spark.sql.functions.lit("web")),
          evolveSchema = true)
        assertMiss(table, "evolving upsert")
        assertWarm(table, "warm after evolving upsert")
        table.overwrite((0 until 45).map(minuteTxn(_, at = 7)).toDF())
        assertMiss(table, "overwrite")
      }
    }
  }

  test("a sibling session's read is bound to that session") {
    val table = newTable()
    table.overwrite((0 until 3).map(minuteTxn(_)).toDF())
    assert(table.read().sparkSession eq spark)
    val sibling = spark.newSession()
    val mine = new KeyedLakeTable(sibling, table.spec)
    assert(mine.read().sparkSession eq sibling)
    assert(table.read().sparkSession eq spark)
  }

  test("the read memo keeps the most recently read tables, a bounded number") {
    val first = newTable()
    first.overwrite(Seq(minuteTxn(1)).toDF())
    // copies of the one-partition table, each with its own marker
    val src = java.nio.file.Paths.get(first.spec.path)
    val copies = (1 to KeyedLakeTable.memoEntries).map { _ =>
      val dst = java.nio.file.Paths.get(tmpDir("lake-copy"))
      java.nio.file.Files.walk(src).forEach { p =>
        val q = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
        else java.nio.file.Files.copy(p, q)
      }
      new KeyedLakeTable(spark, first.spec.copy(path = dst.toString))
    }
    assertMiss(first, "first read")
    assertWarm(first, "warm")
    copies.foreach(_.read())
    assertWarm(copies.last, "most recent copy")
    assertMiss(first, "least recently read, evicted")
  }

  /** 10 one-key minutes of hour 00 and 10 of hour 01, then two deferred
    * appends into four of them: several files per touched partition. */
  private def fragmentedTable(): KeyedLakeTable = {
    val table = newTable(tieBreak = Seq("note"))
    table.overwrite(((0 until 10).map(minuteTxn(_)) ++
      (0 until 10).map(m => minuteTxn(m, hour = 1, id = f"h$m%02d"))).toDF())
    Seq(2, 3).foreach(at => table.upsertDeferred(Seq(minuteTxn(1, at = at),
      minuteTxn(2, at = at), minuteTxn(1, hour = 1, id = "h01", at = at),
      minuteTxn(2, hour = 1, id = "h02", at = at)).toDF()))
    table
  }

  test("compaction invalidates memoized reads; an already-compact table " +
      "keeps them") {
    val table = fragmentedTable()
    val rows = table.readMerged().count()
    assertWarm(table, "warm")
    val report = Compaction.compact(spark, table.spec.path, LakeOps.partitionCols)
    assert(report.partitionsCompacted === 4)
    assertMiss(table, "after compact")
    assert(table.readMerged().count() === rows)
    assert(Compaction.compact(spark, table.spec.path, LakeOps.partitionCols)
      .partitionsCompacted === 0)
    assertWarm(table, "after a no-op compact")
  }

  test("retention invalidates memoized reads") {
    val table = fragmentedTable()
    table.read()
    assertWarm(table, "warm")
    val report = Compaction.expireBefore(spark, table.spec.path,
      LakeOps.partitionCols, Seq("2024", "01", "01", "01"))
    assert(report.partitionsDropped === 10)
    assertMiss(table, "after expire")
    assert(table.readMerged().count() === 10)
    assert(Compaction.expireBefore(spark, table.spec.path,
      LakeOps.partitionCols, Seq("2024", "01", "01", "01")).partitionsDropped === 0)
    assertWarm(table, "after a no-op expire")
  }
}
