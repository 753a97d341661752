package graft.bench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.JoinView
import graft.queries.CdcQueries
import graft.sink.{Compaction, KeyedLakeTable, LakeTableSpec, VersionedLakeTable}

/** Write-side maintenance benchmarks. q118–q125 pin these operators'
  * CORRECTNESS against DuckDB oracles; the entries here record their COST
  * as absolute seconds, in knob PAIRS so the asserted asymptotics are
  * measured rather than argued:
  *
  *  - `m_compact_files_4k` vs `m_compact_files_400`: same total bytes, 10×
  *    the file count — compaction's claim is O(compacted bytes) plus a
  *    per-file open constant, so 10× files must cost far less than 10×.
  *  - `m_vmerge_3x_base72` vs `m_vmerge_3x_base720`: the same three
  *    1-partition merge batches against a 10×-more-partitions table — the
  *    merge's claim is O(touched partitions), so the pair must be ~flat.
  *  - `m_vread_pruned_p72` vs `m_vread_pruned_p720` (vs `m_vread_full_p720`
  *    for contrast): a manifest-pruned 1-partition read of a 10×-bigger
  *    table — the manifest's claim is that pruned-read cost follows the
  *    DATA READ, not the table's partition count, so the pair must be
  *    ~flat while the full read is not.
  *  - `m_vread_zorder_val` vs `m_vread_linear_val`: the same range read
  *    on a SECOND predicate column against z-ordered vs single-column-
  *    clustered layouts of identical rows — z-order's claim is that
  *    multi-column interleaving buys file skipping on every z-column,
  *    where linear clustering leaves the second column unprunable.
  *  - `m_jview_fold_x10/x100` vs `m_jview_rebuild_x10/x100`: one
  *    incremental [[graft.ops.JoinView]] maintenance cycle vs rebuilding
  *    the materialized fact⋈dim view from scratch — the fold follows the
  *    batch + touched slice, the rebuild follows the table (numbers at
  *    the entries).
  *  - `m_kmerge_3x_cow` vs `m_kmerge_3x_mor` (+ `m_kread_mor_merged` vs
  *    `m_kread_compacted`): the copy-on-write/merge-on-read trade —
  *    eager touched-partition merges vs O(batch) appends, and the
  *    read-side dedup the appends defer until compaction.
  *
  * Each entry's `(SparkSession, sfDir) => () => Unit` does its fixture
  * build when CALLED (untimed) and returns the thunk the bench times. */
object MaintenanceBench {

  /** Synthetic keyed CDC batch spread over exactly `partitions` partition
    * tuples: key = event id (unique), partition = key % partitions mapped
    * onto (day, hour, minute) — constant per key, the merge contract.
    * `contiguous = true` instead CLUSTERS by event_id (partition = id
    * range slice), the layout where per-file min/max ranges are disjoint
    * and stats skipping should collapse a range predicate to ~one file. */
  private def cdcRows(s: SparkSession, dir: String, partitions: Int,
      contiguous: Boolean = false): DataFrame = {
    require(partitions <= 43200, s"partition scheme caps at 30d of minutes")
    val ev = CdcQueries.events(s, dir)
    val idx =
      if (!contiguous) pmod(col("event_id"), lit(partitions))
      else {
        val rows = ev.count()
        least(col("event_id") * partitions / lit(rows),
          lit(partitions - 1)).cast("int")
      }
    ev.select(
      concat(lit("k-"), col("event_id").cast("string")).as("id"),
      format_string("2024-01-%02d %02d:%02d:00.000000",
        (idx / 1440).cast("int") + 1,
        pmod((idx / 60).cast("int"), lit(24)),
        pmod(idx, lit(60)).cast("int")).as("create_at"),
      col("update_at"), col("value"), col("event_id"))
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A landing zone of `nParts` partitions holding ~`filesPerPart` files
    * each (driven by maxRecordsPerFile over a per-partition-clustered
    * write), with total bytes independent of the file count. */
  private def buildZone(s: SparkSession, dir: String, nParts: Int,
      filesPerPart: Int): String = {
    // subdir: createTempDirectory creates the dir itself, and the parquet
    // writer refuses an existing path
    val path = tmp(s"graft_mbench_zone_${nParts}x$filesPerPart") + "/zone"
    val ev = CdcQueries.events(s, dir)
    val rows = ev.count()
    val rowsPerFile = math.max(1L, rows / nParts / filesPerPart)
    ev.select(lpad(pmod(col("event_id"), lit(nParts)).cast("string"), 4, "0")
        .as("p"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(col("p"))
      .write.option("maxRecordsPerFile", rowsPerFile)
      .partitionBy("p").parquet(path)
    path
  }

  private def vtable(s: SparkSession, path: String,
      tieBreak: Seq[String] = Nil): VersionedLakeTable =
    new VersionedLakeTable(s, LakeTableSpec(
      path, recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = tieBreak))

  /** Bootstrapped versioned table over `partitions` partitions; returns
    * (table, the 1-partition update batches for the merge cycle).
    * `tieBreak` is set for the merge-on-read variant (append commits
    * require one); the eager entries keep the historical no-tieBreak
    * table so their recorded numbers stay comparable. */
  private def buildVersioned(s: SparkSession, dir: String, partitions: Int,
      tieBreak: Seq[String] = Nil)
      : (VersionedLakeTable, Seq[DataFrame]) = {
    val table = vtable(s, tmp(s"graft_mbench_vlake_p$partitions"), tieBreak)
    val base = cdcRows(s, dir, partitions)
    table.upsert(base)
    // three strictly-newer versions of partition 0's keys (batch = one
    // touched partition; years bump so precombine strictly advances)
    val batches = (2025 to 2027).map { y =>
      base.filter(pmod(col("event_id"), lit(partitions)) === 0)
        .withColumn("update_at",
          concat(lit(s"$y"), substring(col("update_at"), 5, 26)))
        .withColumn("value", col("value") + 1)
    }
    (table, batches)
  }

  /** Versioned table with file-level stats + key Bloom indexing, one file
    * per partition, event_id-clustered so per-file min/max are disjoint —
    * the fixture for the data-skipping read entries. Returns (table,
    * total rows). */
  private def buildIndexed(s: SparkSession, dir: String, partitions: Int)
      : (VersionedLakeTable, Long) = {
    val table = new VersionedLakeTable(s, LakeTableSpec(
      tmp(s"graft_mbench_vidx_p$partitions"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"),
      statsCols = Seq("event_id"), keyBloomBits = 1 << 14)
    val rows = CdcQueries.events(s, dir).count()
    table.upsert(cdcRows(s, dir, partitions, contiguous = true))
    (table, rows)
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** JVM-lifetime memo of the maintained-join fixtures: a fact table of
    * `times`× the events rows spread over 720 partitions, whose view
    * over a 1000-key dimension is already bootstrapped, plus the
    * 1-partition update batch each timed fold applies (the touched
    * slice: 1/720 of the table at every knob). Rebuilding per pass
    * would dwarf the thunk; the fold thunk re-applies the same batch
    * (same O(batch) work each pass, rows re-win under a later cycle). */
  private val jviewCache =
    scala.collection.mutable.Map.empty[Int, (String, String, String)]

  private def jviewFixture(s: SparkSession, dir: String, times: Int)
      : (JoinView, DataFrame, DataFrame, KeyedLakeTable) = {
    val (factPath, viewBase, batchPath) = jviewCache.synchronized {
      jviewCache.getOrElseUpdate(times, {
        val parts = 720 // fixed dir count: the touched slice is 1/720 of
                        // the table at every knob (7200 dirs at x100 hits
                        // tiny-file listing pathology on BOTH sides and
                        // measures the filesystem, not the strategy)
        val fp = tmp(s"graft_mbench_jvfact_x$times")
        val vb = tmp(s"graft_mbench_jview_x$times")
        val bp = tmp(s"graft_mbench_jvbatch_x$times") + "/b"
        val ev = CdcQueries.events(s, dir)
        val rows = ev.select(col("event_id"), col("update_at"), col("value"),
            graft.ops.Replicate.rep(times).as("r"))
          .select((col("event_id") * times + col("r")).as("k"),
            col("update_at"), col("value"))
          .select(concat(lit("k-"), col("k").cast("string")).as("id"),
            format_string("2024-01-%02d %02d:%02d:00.000000",
              (pmod(col("k"), lit(parts)) / 1440).cast("int") + 1,
              pmod((pmod(col("k"), lit(parts)) / 60).cast("int"), lit(24)),
              pmod(pmod(col("k"), lit(parts)), lit(60)).cast("int")).as("create_at"),
            col("update_at"),
            concat(lit("d"), pmod(col("k"), lit(1000)).cast("string")).as("fk"),
            col("value"), lit(false).as("is_deleted"))
        val fact = new KeyedLakeTable(s, LakeTableSpec(fp,
          recordKeys = Seq("id"), precombine = "update_at",
          partitionSource = "create_at", softDeleteCol = Some("is_deleted")))
        val dim = dimDf(s)
        val jv = new JoinView(s, s"$vb/view", s"$vb/orphans", Seq("id"),
          "fk", "update_at", "create_at")
        jv.applyCycle(fact.upsertChanges(rows), dim, dim, "dkey")
        // the recurring batch: strictly-newer versions of partition 0's
        // keys (the m_vmerge 1-partition shape) — the touched slice,
        // N/720 rows
        val batch = rows
          .filter(col("create_at") === "2024-01-01 00:00:00.000000")
          .withColumn("update_at",
            concat(lit("2030"), substring(col("update_at"), 5, 26)))
          .withColumn("value", col("value") + 1)
        batch.write.mode("overwrite").parquet(bp)
        (fp, vb, bp)
      })
    }
    val fact = new KeyedLakeTable(s, LakeTableSpec(factPath,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", softDeleteCol = Some("is_deleted")))
    val jv = new JoinView(s, s"$viewBase/view",
      s"$viewBase/orphans", Seq("id"), "fk", "update_at", "create_at")
    (jv, s.read.parquet(batchPath), dimDf(s), fact)
  }

  private def dimDf(s: SparkSession): DataFrame =
    s.range(1000).select(concat(lit("d"), col("id").cast("string")).as("dkey"),
      concat(lit("L"), col("id").cast("string")).as("label"))

  /** JVM-lifetime memo of the two 2M-row layout fixtures (z-ordered vs
    * linear-clustered) for the second-column skipping pair: the fixtures
    * are read-only under the timed thunks and cost a full upsert +
    * snapshot rewrite each, so both passes share one build (the
    * ScaleBench matCache move; a fresh handle re-reads manifests from
    * disk). */
  private val layoutCache = scala.collection.mutable.Map.empty[String, String]

  /** 2M keys in ONE partition dir, `event_id` sequential and `value` a
    * deterministic hash-spread double UNCORRELATED with it (the adversary
    * for single-column clustering), ~245 files via maxRecordsPerFile.
    * `zorder = true` rewrites the snapshot z-ordered on (event_id,
    * value); false rewrites it linear-clustered on event_id only — same
    * rows, same file count, the layouts differing ONLY in multi-column
    * locality. */
  private def layoutTable(s: SparkSession, zorder: Boolean)
      : VersionedLakeTable = {
    val key = if (zorder) "z" else "lin"
    def open(path: String) = new VersionedLakeTable(s, LakeTableSpec(
      path, recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at"),
      statsCols = Seq("event_id", "value"), maxRecordsPerFile = 8192,
      clusterBy = if (zorder) Nil else Seq("event_id"))
    val path = layoutCache.synchronized {
      layoutCache.getOrElseUpdate(key, {
        val p = tmp(s"graft_mbench_zlayout_$key")
        val rows = s.range(2000000L).select(
          concat(lit("k-"), col("id").cast("string")).as("id"),
          lit("2024-01-01 00:00:00.000000").as("create_at"),
          lit("2024-02-01 00:00:00.000000").as("update_at"),
          col("id").as("event_id"),
          (pmod(col("id") * 2654435761L, lit(1000003L)).cast("double")
            / 1000003.0 * 500.0).as("value"))
        val t = open(p)
        t.upsert(rows)
        if (zorder) t.optimizeZOrder(Seq("event_id", "value"))
        else t.compactSnapshot()
        p
      })
    }
    open(path)
  }

  /** Keyed table bootstrapped over 720 partitions plus the three
    * 1-partition update batches of the merge cycle — the COW-vs-MOR
    * write-side fixture (fresh per pass: the thunks mutate it). */
  private def morFixture(s: SparkSession, dir: String)
      : (KeyedLakeTable, Seq[DataFrame]) = {
    val base = cdcRows(s, dir, 720)
    val table = new KeyedLakeTable(s, LakeTableSpec(
      tmp("graft_mbench_mor"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at",
      tieBreak = Seq("event_id")))
    table.overwrite(base)
    // batches MATERIALIZED: each timed thunk must pay the write path,
    // not a re-derivation of the batch from the events table
    val batches = (2025 to 2027).map { y =>
      base.filter(pmod(col("event_id"), lit(720)) === 0)
        .withColumn("update_at",
          concat(lit(s"$y"), substring(col("update_at"), 5, 26)))
        .withColumn("value", col("value") + 1)
        .localCheckpoint(true)
    }
    (table, batches)
  }

  def entries: Seq[(String, (SparkSession, String) => () => Unit)] = Seq(
    // -------- copy-on-write vs merge-on-read (KeyedLakeTable
    // upsertDeferred, pinned by q143): the same three 1-partition update
    // batches applied as eager merges (read + key-join + rewrite each
    // touched partition) vs deferred appends (one O(batch) append each,
    // no table read). Measured (2026-08-14, min-of-2, 720-dir table,
    // batches materialized so the thunks time the WRITE PATH):
    // cow 7.4 s vs mor 2.9 s — the appends cut the write cycle 2.6x.
    // The read-side pair then prices what MOR defers: the merged read's
    // latest-wins dedup over accumulated versions (2.37 s) vs a plain
    // read after compactMerged folds them away (2.18 s) — ~0.2 s of
    // dedup at this key count, growing with versions until compaction.
    "m_kmerge_3x_cow" -> ((s, dir) => {
      val (table, batches) = morFixture(s, dir)
      () => batches.foreach(b => table.upsert(b))
    }),
    "m_kmerge_3x_mor" -> ((s, dir) => {
      val (table, batches) = morFixture(s, dir)
      () => batches.foreach(b => table.upsertDeferred(b))
    }),
    "m_kread_mor_merged" -> ((s, dir) => {
      val (table, batches) = morFixture(s, dir)
      batches.foreach(b => table.upsertDeferred(b))
      val thunk = () => noop(table.readMerged())
      thunk(); thunk // steady-state read: warm the file index untimed
    }),
    "m_kread_compacted" -> ((s, dir) => {
      val (table, batches) = morFixture(s, dir)
      batches.foreach(b => table.upsertDeferred(b))
      table.compactMerged()
      val thunk = () => noop(table.read())
      thunk(); thunk
    }),
    // -------- file-level data skipping: the knob is files ELIMINATED.
    // Stats-pruned range read opens ~1 of 400 files; the contrast entry
    // answers the same query by scanning the snapshot. Bloom point lookup
    // opens <= keys+fp of 400 files; contrast scans + filters.
    "m_vread_statsprune_f400" -> ((s, dir) => {
      val (table, rows) = buildIndexed(s, dir, partitions = 400)
      val (lo, hi) = (rows / 2, rows / 2 + rows / 800)
      () => noop(table.readWhereStats(None, keepFile =
          graft.sink.FileStatsIndex.range("event_id", Some(lo), Some(hi)))
        .filter(col("event_id").between(lo, hi)))
    }),
    "m_vread_scanall_f400" -> ((s, dir) => {
      val (table, rows) = buildIndexed(s, dir, partitions = 400)
      val (lo, hi) = (rows / 2, rows / 2 + rows / 800)
      () => noop(table.read().filter(col("event_id").between(lo, hi)))
    }),
    // -------- multi-column skipping: the same 10%-of-span range read on
    // `value` — the SECOND clustering column — against the z-ordered vs
    // the linear (event_id-clustered) layout of the same 2M rows. The
    // linear layout must open every file (value is uncorrelated with the
    // cluster order); the z-order opens only z-rectangles overlapping the
    // slice. q140 pins the read path's exactness; this pair records the
    // skipping win.
    // (one untimed warmup read inside the builder: these time the
    // STEADY-STATE read path, and the first read on a fresh handle pays
    // ~0.5 s of file-index listing that swamps the layouts' difference —
    // measured 0.29 s z vs 0.63 s linear warm, 46/260 vs 245/245 files)
    "m_vread_zorder_val" -> ((s, dir) => {
      val table = layoutTable(s, zorder = true)
      val thunk = () => noop(table.readWhereStats(None, keepFile =
          graft.sink.FileStatsIndex.range("value", Some(225.0), Some(275.0)))
        .filter(col("value").between(225.0, 275.0)))
      thunk(); thunk
    }),
    "m_vread_linear_val" -> ((s, dir) => {
      val table = layoutTable(s, zorder = false)
      val thunk = () => noop(table.readWhereStats(None, keepFile =
          graft.sink.FileStatsIndex.range("value", Some(225.0), Some(275.0)))
        .filter(col("value").between(225.0, 275.0)))
      thunk(); thunk
    }),
    // -------- incremental join view (JoinView, pinned by q142): fold one
    // 1-partition fact batch into the maintained view vs REBUILDING the
    // materialized view from scratch (full fact-dim join + full table
    // write — what a non-incremental pipeline runs every batch; a bare
    // un-written join would not produce the artifact and is not the
    // alternative — and BOTH cycles pay their own batch ingest: the
    // fold's upsertChanges, the rebuild's plain upsert; r10/r11's pairs
    // rebuilt the STALE fact with no ingest at all, which is what made
    // the fold appear to lose at x10). The fold reads O(batch + touched
    // slice); the rebuild reads and writes O(fact). Measured under the
    // fair pair (2026-08-15 r12, 720 partition dirs): fold 5.8 -> 6.7 s
    // across x10 -> x100 (1M -> 10M fact rows) vs rebuild 6.9 -> 10.5 s
    // — the fold wins at BOTH knobs and the gap widens with the table,
    // because the fold's inputs stay the batch and the touched slice.
    // Merge-on-read view writes do not move the fold (within noise,
    // BENCH_COMPARE.md): its constant is the fact-side change-feed
    // computation plus O(dirs) listings, not the view-table merge writes
    // the m_kmerge pair prices.
    // The asymptotic is carried by the m_vmerge flatness pair (merge
    // cost follows TOUCHED partitions, not table size).
    "m_jview_fold_x10" -> ((s, dir) => {
      val (jv, batch, dim, fact) = jviewFixture(s, dir, 10)
      () => jv.applyCycle(fact.upsertChanges(batch), dim.limit(0), dim, "dkey")
    }),
    "m_jview_fold_x100" -> ((s, dir) => {
      val (jv, batch, dim, fact) = jviewFixture(s, dir, 100)
      () => jv.applyCycle(fact.upsertChanges(batch), dim.limit(0), dim, "dkey")
    }),
    // the rebuild cycle must pay its OWN batch ingest: the alternative to
    // an incremental fold is still a pipeline that lands the batch in the
    // fact table (a plain upsert — it needs no change feed) and THEN
    // rebuilds the view. r12 found the prior thunks rebuilding the STALE
    // fact (no ingest at all) while the fold's thunk carried
    // upsertChanges — an unfair pair penalizing the fold by one keyed
    // merge at every knob.
    "m_jview_rebuild_x10" -> ((s, dir) => {
      val (_, batch, dim, fact) = jviewFixture(s, dir, 10)
      val out = new KeyedLakeTable(s, LakeTableSpec(
        tmp("graft_mbench_jvrebuild_x10"), recordKeys = Seq("id"),
        precombine = "update_at", partitionSource = "create_at"))
      () => {
        fact.upsert(batch)
        out.overwrite(fact.readLive().join(broadcast(dim),
          col("fk") === col("dkey")).drop("dkey"))
      }
    }),
    "m_jview_rebuild_x100" -> ((s, dir) => {
      val (_, batch, dim, fact) = jviewFixture(s, dir, 100)
      val out = new KeyedLakeTable(s, LakeTableSpec(
        tmp("graft_mbench_jvrebuild_x100"), recordKeys = Seq("id"),
        precombine = "update_at", partitionSource = "create_at"))
      () => {
        fact.upsert(batch)
        out.overwrite(fact.readLive().join(broadcast(dim),
          col("fk") === col("dkey")).drop("dkey"))
      }
    }),
    "m_vlookup_bloom_f400" -> ((s, dir) => {
      val (table, rows) = buildIndexed(s, dir, partitions = 400)
      val keys = (1 to 5).map(i => Seq(s"k-${i * (rows / 7)}": Any))
      () => noop(table.lookupKeys(keys))
    }),
    "m_vlookup_scan_f400" -> ((s, dir) => {
      val (table, rows) = buildIndexed(s, dir, partitions = 400)
      val ids = (1 to 5).map(i => s"k-${i * (rows / 7)}")
      () => noop(table.read().filter(col("id").isin(ids: _*)))
    }),
    "m_compact_files_400" -> ((s, dir) => {
      val path = buildZone(s, dir, nParts = 40, filesPerPart = 10)
      () => {
        val r = Compaction.compact(s, path, Seq("p"), targetBytes = 1L << 30)
        require(r.partitionsCompacted == 40 && r.filesAfter == 40,
          s"zone must compact to 1 file/partition, got $r")
      }
    }),
    "m_compact_files_4k" -> ((s, dir) => {
      val path = buildZone(s, dir, nParts = 40, filesPerPart = 100)
      () => {
        val r = Compaction.compact(s, path, Seq("p"), targetBytes = 1L << 30)
        require(r.partitionsCompacted == 40 && r.filesAfter == 40,
          s"zone must compact to 1 file/partition, got $r")
      }
    }),
    "m_vmerge_3x_base72" -> ((s, dir) => {
      val (table, batches) = buildVersioned(s, dir, partitions = 72)
      () => batches.foreach(b => table.upsert(b))
    }),
    "m_vmerge_3x_base720" -> ((s, dir) => {
      val (table, batches) = buildVersioned(s, dir, partitions = 720)
      () => batches.foreach(b => table.upsert(b))
    }),
    // the commit-log merge-on-read trade (q145): the same three batches
    // as APPEND commits — O(batch) stage + manifest, no partition
    // read/rewrite — against m_vmerge_3x_base720's eager merges
    // (measured 2026-08-14: 1.50 s vs 3.00 s, min-of-2)
    "m_vmerge_3x_mor720" -> ((s, dir) => {
      val (table, batches) = buildVersioned(s, dir, partitions = 720,
        tieBreak = Seq("event_id"))
      () => batches.foreach(b => table.upsertDeferred(b))
    }),
    "m_vread_pruned_p72" -> ((s, dir) => {
      val (table, _) = buildVersioned(s, dir, partitions = 72)
      () => table
        .readWhere(None, p => p("create_day") == "01" &&
          p("create_hour") == "00" && p("create_minute") == "00")
        .write.mode("overwrite").format("noop").save()
    }),
    "m_vread_pruned_p720" -> ((s, dir) => {
      val (table, _) = buildVersioned(s, dir, partitions = 720)
      () => table
        .readWhere(None, p => p("create_day") == "01" &&
          p("create_hour") == "00" && p("create_minute") == "00")
        .write.mode("overwrite").format("noop").save()
    }),
    "m_vread_full_p720" -> ((s, dir) => {
      val (table, _) = buildVersioned(s, dir, partitions = 720)
      () => table.read()
        .write.mode("overwrite").format("noop").save()
    }),
    // -------- dynamic file pruning for a JOIN (readForJoin, pinned by
    // q154): the same 100-key probe frame equi-joined against the
    // 400-file indexed table, once through the key-Bloom file pruning
    // (opens <= keys+fp files) and once as a full-snapshot scan + join.
    // The knob is files OPENED; the join result is identical.
    "m_vread_joinprune_f400" -> ((s, dir) => {
      val (table, _) = buildIndexed(s, dir, partitions = 400)
      val probe = table.read().select(col("id")).distinct()
        .orderBy(abs(hash(col("id")))).limit(100)
        .localCheckpoint(true) // untimed: the probe is the dim side
      val thunk = () => noop(table.readForJoin(probe).join(probe, Seq("id")))
      thunk(); thunk // steady-state: warm the sidecar index untimed
    }),
    "m_vread_joinscan_f400" -> ((s, dir) => {
      val (table, _) = buildIndexed(s, dir, partitions = 400)
      val probe = table.read().select(col("id")).distinct()
        .orderBy(abs(hash(col("id")))).limit(100)
        .localCheckpoint(true)
      val thunk = () => noop(table.read().join(probe, Seq("id")))
      thunk(); thunk
    }),
  )
}
