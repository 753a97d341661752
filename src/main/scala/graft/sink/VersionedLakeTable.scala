package graft.sink

import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** One commit. Three kinds:
  *  - FULL (`delta` absent/false): `partitions` is the complete
  *    partition→files map of the snapshot — self-contained, no replay.
  *  - DELTA (`delta = Some(true)`): `partitions` holds ONLY the
  *    partitions this commit rewrote; each entry REPLACES that
  *    partition's file list in the predecessor's resolved state.
  *  - APPEND (`append = Some(true)`, always also a delta): the
  *    merge-on-read commit — each entry EXTENDS its partition's file
  *    list instead of replacing it; readers dedup latest-wins over the
  *    accumulated versions ([[VersionedLakeTable.upsertDeferred]]).
  * File paths are relative to the table root, so the table moves
  * wholesale. Version 0, rollbacks, snapshot compactions, and every
  * `checkpointEvery`-th commit are full checkpoints, so a reader resolves
  * any snapshot from at most `checkpointEvery` manifest reads. */
final case class CommitManifest(version: Int, committedAt: String,
    partitions: Map[String, Seq[String]], delta: Option[Boolean] = None,
    touched: Option[Seq[String]] = None,
    append: Option[Boolean] = None) {
  def isDelta: Boolean = delta.contains(true)
  def isAppend: Boolean = append.contains(true)
  /** The partitions this commit actually CHANGED, for conflict checks:
    * a delta changed exactly its entries; a full checkpoint records its
    * `touched` explicitly (absent on pre-OCC manifests and on rollback/
    * compaction, whose change set is the whole table — None = conflicts
    * with everything). */
  def changed: Option[Set[String]] = touched.map(_.toSet)
    .orElse(if (isDelta) Some(partitions.keySet) else None)
}

/** The claim marker a writer stages with its data: records the touched
  * partitions so CONCURRENT writers can check disjointness against an
  * in-flight commit before its manifest exists, and whether the claim is
  * an APPEND (merge-on-read) commit — two appends commute even on
  * overlapping partitions, so an append walker may pass an append claim.
  * Older intents without the field parse as non-append (conservative). */
private[sink] final case class CommitIntent(touched: Seq[String],
    append: Option[Boolean] = None) {
  def isAppend: Boolean = append.contains(true)
}

/** Multi-version keyed lake table: the [[KeyedLakeTable]] merge semantics
  * under a commit log, giving snapshot reads (time travel), rollback, and
  * safe vacuum — the Hudi-COPY_ON_WRITE commit-timeline capabilities the
  * reference leans on (`incremental.py` writes through Hudi's timeline;
  * `README.rst:99-117` replays history), re-expressed with no table-format
  * dependency.
  *
  * Layout: `data/<v>/<partition dirs>/part-*.parquet` (files are IMMUTABLE
  * once written — a merge writes its touched partitions' new state under
  * the new version's dir and never edits old files) + `_commits/<v>.json`
  * manifests. A commit is one atomic manifest rename; readers resolve a
  * version's file set from its manifest alone, never by listing — at
  * 100 TB that replaces the O(files) directory walk with an O(touched)
  * metadata read, which is precisely why real table formats exist.
  *
  * Scale notes: an upsert commits an O(touched-partitions) DELTA
  * manifest; every `checkpointEvery`-th commit (and v0 / rollback /
  * compaction) writes a full O(partitions) checkpoint, so at the
  * reference's 5-level minute partitioning a year of minute-cadence
  * commits writes ~525k-entry JSON once per `checkpointEvery` commits
  * instead of on every one, while readers still resolve any snapshot
  * from ≤ `checkpointEvery` manifest reads (nearest checkpoint + bounded
  * replay). Far past ~10⁷ partitions you'd split the checkpoint
  * hierarchically (documented bound). A long-lived table's snapshot
  * spans many version dirs; [[read]] issues one parquet scan per
  * referenced version dir and unions them (plan size grows with distinct
  * versions touched — periodic compaction through
  * [[graft.sink.Compaction]]-style rewrite of old partitions into a fresh
  * commit collapses it). Manifest renames are atomic on POSIX/HDFS;
  * object stores need a conditional-put primitive instead (documented).
  *
  * CONCURRENT WRITERS (optimistic concurrency, the Delta/Iceberg commit
  * protocol re-derived on atomic renames): a 100 TB lake has many ingest
  * jobs, and disjoint-partition delta commits are exactly the case
  * optimistic concurrency admits cheaply — the reference instead
  * serializes everything behind single-flight orchestration
  * (`incremental_load_orchestration.py:367-414`, `cdk_define.py:316-318`
  * max_concurrent_runs=1). Protocol: a writer merges against the head it
  * read, stages its output plus a `_intent.json` (its touched partitions)
  * under a unique hidden dir, then CLAIMS the first free version slot by
  * atomically renaming the staged dir to `data/<v>`. Walking to the free
  * slot it checks every interleaved commit — committed manifests via
  * their recorded `touched` set, in-flight claims via their intent — and
  * ABORTS with the precise overlapping partitions if any intersects its
  * own (its merge is stale for them; re-running rebases onto the new
  * head). Disjoint interleavings proceed: version numbers are assigned by
  * claim order and each delta replaces only its own partitions, so the
  * replay semantics compose. A full checkpoint is only written when
  * nothing below it is still in flight (an uncommitted delta below a
  * checkpoint would be silently shadowed); bootstrap (v0) is
  * single-writer by construction. Crash debris — a claimed `data/<v>`
  * with intent but no manifest — blocks only OVERLAPPING writers (loudly)
  * and is reclaimed by [[cleanOrphans]] when no writer is in flight.
  * Rollback and snapshot compaction remain conservative: they conflict
  * with every concurrent commit.
  *
  * READER VISIBILITY under concurrency: manifests can land out of claim
  * order, so readers only see the CONTIGUOUS prefix of the commit log
  * ([[visibleVersions]]) — a manifest above an uncommitted claimed slot
  * stays invisible (reads of it fail loudly naming the gap) until the
  * gap commits or [[cleanOrphans]] tombstones a crashed claim. This is
  * what makes time travel repeatable: a snapshot that has ever been
  * readable resolves identically forever, instead of silently acquiring
  * a late-landing lower commit.
  */
final class VersionedLakeTable(spark: SparkSession, val spec: LakeTableSpec,
    checkpointEvery: Int = 10,
    statsCols: Seq[String] = Nil,
    keyBloomBits: Int = 0,
    maxRecordsPerFile: Long = 0,
    clusterBy: Seq[String] = Nil) {
  require(checkpointEvery >= 1,
    s"checkpointEvery must be >= 1, got $checkpointEvery")
  require(keyBloomBits == 0 ||
      (keyBloomBits >= 64 && (keyBloomBits & (keyBloomBits - 1)) == 0),
    s"keyBloomBits must be 0 (off) or a power of two >= 64, got $keyBloomBits")
  import spec._
  import KeyedMerge.{normalizeParts, partCols, persisted}

  private val merge = new KeyedMerge(spec, "VersionedLakeTable")

  private def indexed: Boolean = statsCols.nonEmpty || keyBloomBits > 0

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private implicit val formats: Formats = DefaultFormats
  private def commitsDir = Paths.get(path, "_commits")

  // ------------------------------------------------------------ manifests

  private def children(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = JFiles.list(p)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (it.hasNext) buf += it.next()
      buf.toSeq
    } finally s.close()
  }

  def versions: Seq[Int] =
    if (!JFiles.isDirectory(commitsDir)) Seq.empty
    else children(commitsDir).map(_.getFileName.toString)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toInt).sorted

  /** Committed manifests visible to READERS: the contiguous run from the
    * oldest manifest upward. Manifests can land out of claim order (a
    * writer that claimed slot v+1 may commit while slot v is still
    * claimed-but-uncommitted); a manifest above such a gap is NOT yet
    * visible — readers stop at the gap, so a snapshot, once readable,
    * NEVER changes retroactively when the lower manifest later lands
    * (the Delta/Iceberg reader contract). The gap closes when the lower
    * writer commits, or — if it crashed — when [[cleanOrphans]] reclaims
    * the claim and tombstones its slot. */
  private def visibleVersions: Seq[Int] = {
    val vs = versions
    vs.zipWithIndex.takeWhile { case (v, i) => v == vs.head + i }.map(_._1)
  }

  def latestVersion: Option[Int] = visibleVersions.lastOption

  private def manifest(v: Int): CommitManifest = {
    val p = commitsDir.resolve(f"$v%08d.json")
    require(JFiles.exists(p),
      s"VersionedLakeTable($path): no commit $v — available: " +
        s"${versions.mkString(", ")} (vacuumed or never written)")
    JsonMethods.parse(JFiles.readString(p)).extract[CommitManifest]
  }

  private def commit(m: CommitManifest, replace: Boolean = false): Int = {
    JFiles.createDirectories(commitsDir)
    val tmp = commitsDir.resolve(f".${m.version}%08d.json.tmp")
    JFiles.writeString(tmp, Serialization.writePretty(m))
    val opts: Seq[StandardCopyOption] =
      if (replace) Seq(StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      else Seq(StandardCopyOption.ATOMIC_MOVE)
    JFiles.move(tmp, commitsDir.resolve(f"${m.version}%08d.json"), opts: _*)
    m.version
  }

  /** The complete partition→files map at `v`: walk back to the nearest
    * full checkpoint (≤ `checkpointEvery` manifest reads by construction),
    * then replay the deltas forward — each delta entry replaces its
    * partition's file list. */
  private def resolved(v: Int): Map[String, Seq[String]] = {
    val vis = visibleVersions
    if (!vis.contains(v) && versions.contains(v)) {
      val gap = vis.lastOption.map(_ + 1).getOrElse(0)
      throw new IllegalStateException(
        s"VersionedLakeTable($path): commit $v exists but is not yet " +
          s"visible — the log has a gap at $gap (that slot is claimed but " +
          "uncommitted, or crash debris). Reads stop at the first gap so a " +
          "snapshot never changes retroactively; retry once the gap " +
          "commits, or run cleanOrphans() to reclaim a crashed writer.")
    }
    val below = vis.filter(_ <= v).reverse
    require(below.headOption.contains(v),
      s"VersionedLakeTable($path): no commit $v — available: " +
        s"${versions.mkString(", ")}")
    val chain = scala.collection.mutable.ArrayBuffer.empty[CommitManifest]
    var full = false
    val it = below.iterator
    while (!full && it.hasNext) {
      val m = manifest(it.next())
      chain += m
      full = !m.isDelta
    }
    require(full, s"VersionedLakeTable($path): commit $v resolves through " +
      "deltas with no full checkpoint beneath — corrupt or over-vacuumed log")
    chain.reverse.foldLeft(Map.empty[String, Seq[String]])(replay)
  }

  /** `m` applied to the partition→files state of its predecessor — the
    * one replay rule of the log: an APPEND delta extends its partitions'
    * file lists (every stored version stays referenced), a delta replaces
    * its entries, and a full manifest replaces everything. */
  private def replay(acc: Map[String, Seq[String]],
      m: CommitManifest): Map[String, Seq[String]] =
    if (!m.isDelta) m.partitions
    else if (m.isAppend)
      m.partitions.foldLeft(acc) { case (a, (p, fs)) =>
        a.updated(p, a.getOrElse(p, Nil) ++ fs) }
    else acc ++ m.partitions

  /** Does `v`'s resolve chain contain APPEND commits? When true, the
    * snapshot's files hold multiple versions per key and readers must
    * dedup ([[read]] does); file-level stats pruning is refused (not
    * key-complete) until a compaction folds the appends away. */
  private def chainHasAppends(v: Int): Boolean = appendChainLength(v) > 0

  /** Number of APPEND commits since the last NON-APPEND full commit
    * (bootstrap, compaction, or an eager checkpoint over a clean chain) —
    * the durable read-amplification gauge. Streaming writers derive their
    * compaction cadence from THIS rather than an in-memory counter: a
    * restart from checkpoint then resumes the count where the manifest
    * chain actually is, instead of resetting to zero and letting the
    * chain grow unboundedly past the knob.
    *
    * The walk deliberately does NOT stop at an append-flagged FULL
    * manifest: a cadence checkpoint written through an append (or an
    * eager checkpoint above appends) shortens the RESOLVE chain but folds
    * nothing — its resolved lists still carry every multi-version file,
    * so the read amplification it gauges is unchanged. Stopping there
    * would reset the gauge to 1 at every `checkpointEvery`-th commit and
    * a `compactEvery >= checkpointEvery` cadence would never fire. Only a
    * commit whose files are actually key-unique (append = None full) ends
    * the count. An eager checkpoint that carries the append flag for its
    * readers counts as one layer too — a slight overcount (its own batch
    * merged eagerly) that at worst fires compaction one commit early. */
  def appendChainLength(): Int =
    latestVersion.map(appendChainLength).getOrElse(0)

  private def appendChainLength(v: Int): Int = {
    val below = visibleVersions.filter(_ <= v).reverse
    var full = false
    var n = 0
    val it = below.iterator
    while (!full && it.hasNext) {
      val m = manifest(it.next())
      if (m.isAppend) n += 1
      full = !m.isDelta && !m.isAppend
    }
    n
  }

  // ------------------------------------------------------------ read side

  /** The table as of `version` (default: latest). Files are resolved from
    * the manifest; each referenced version dir is one parquet scan with
    * its own basePath (partition columns come from the dir names), unioned
    * and normalized. */
  def read(version: Option[Int] = None): DataFrame =
    readWhere(version, _ => true)

  /** [[read]] with MANIFEST-LEVEL partition pruning: `keep` sees each
    * partition's column→value map (zero-padded directory strings) and only
    * the surviving partitions' files reach the scan at all. This is the
    * pruning a manifest exists to give — a predicate Spark could only
    * apply after listing every referenced file is applied here to
    * O(partitions) metadata, so a one-day read of a year-long table builds
    * a one-day file list. Predicates over non-partition columns still
    * belong in a normal `.filter` on the result. */
  def readWhere(version: Option[Int],
      keep: Map[String, String] => Boolean): DataFrame =
    readWhereStats(version, keep)

  /** [[readWhere]] plus FILE-LEVEL data skipping: after partition pruning,
    * each surviving file's [[FileStats]] (min/max/nulls for `statsCols`,
    * key Bloom — from the `_stats/` sidecars, O(referenced files) of
    * driver metadata) is offered to `keepFile`, and only files it keeps
    * are opened at all. A file written before indexing was enabled has no
    * stats and is ALWAYS kept — pruning is an optimization, never a
    * correctness gate — so `keepFile` must express a predicate the caller
    * re-applies exactly with a normal `.filter` on the result (file
    * granularity keeps rows the filter then drops). Unlike partition
    * pruning, pruning every FILE away is a legitimate outcome (a point
    * lookup of an absent key): the result is the empty table slice. */
  private val keepAllFiles: FileStats => Boolean = _ => true

  def readWhereStats(version: Option[Int],
      keep: Map[String, String] => Boolean = _ => true,
      keepFile: FileStats => Boolean = keepAllFiles): DataFrame =
    readWhereStatsInternal(version, keep, keepFile,
      filePruneKeyComplete = false)

  /** `filePruneKeyComplete`: the caller asserts its `keepFile` predicate
    * keeps EVERY file that may hold any version of a wanted key (true
    * for the Bloom lookup, false for arbitrary stats ranges) — required
    * for file pruning over an append chain, where dropping the winning
    * version's file would resurrect a superseded row. */
  private def readWhereStatsInternal(version: Option[Int],
      keep: Map[String, String] => Boolean,
      keepFile: FileStats => Boolean,
      filePruneKeyComplete: Boolean): DataFrame = {
    val v = version.orElse(latestVersion).getOrElse(
      throw new IllegalStateException(
        s"VersionedLakeTable($path): no commits yet"))
    val mor = chainHasAppends(v)
    if (mor) {
      require(tieBreak.nonEmpty,
        s"VersionedLakeTable($path): reading an append (merge-on-read) " +
          "chain needs a tieBreak — appended files carry no arrival order")
      require((keepFile eq keepAllFiles) || filePruneKeyComplete,
        s"VersionedLakeTable($path): file-level stats pruning is not " +
          "key-complete over append commits — a pruned file may hold the " +
          "WINNING version of a key whose stale version survives " +
          "elsewhere. compactSnapshot() folds the appends, then prune.")
    }
    val kept = resolved(v).filter { case (rel, _) =>
      keep(rel.split('/').map { seg =>
        val Array(c, value) = seg.split("=", 2)
        c -> value
      }.toMap)
    }
    require(kept.nonEmpty,
      s"VersionedLakeTable($path): partition predicate pruned commit $v " +
        "to nothing — an empty snapshot slice is almost always a predicate " +
        "bug (values are the zero-padded partition strings)")
    val partKept = kept.values.flatten.toSeq
    val (files, emptied) = {
      val stats = statsFor(partKept)
      val f = partKept.filter(p => stats.get(p).forall(keepFile))
      if (f.nonEmpty) (f, false) else (partKept.take(1), true)
    }
    val df = scan(files)
    // all files pruned: keep the slice's schema, emit zero rows
    val out = if (emptied) df.filter(lit(false)) else df
    // merge-on-read: the resolved files hold multiple versions per key —
    // one latest-wins dedup restores the merged state (partition-level
    // pruning is key-complete: a key lives in exactly one partition)
    if (mor) merge.dedup(out) else out
  }

  /** The rows of manifest-relative `files`: one parquet scan per version
    * dir (`data/<n>`, its own basePath, so partition columns come from the
    * dir names), unioned and normalized. */
  private def scan(files: Seq[String]): DataFrame =
    files.groupBy(_.split('/').take(2).mkString("/")).toSeq.sortBy(_._1)
      .map { case (vdir, fs) =>
        spark.read.option("basePath", s"$path/$vdir")
          .parquet(fs.map(f => s"$path/$f"): _*)
      }
      .reduce(_ unionByName _)
      .transform(normalizeParts)

  /** Approximate row count of snapshot `version` from parquet FOOTER
    * metadata alone — O(files) footer reads, zero data pages. Exact for
    * a compacted snapshot; over an append (merge-on-read) chain it
    * counts every STORED version of a key, i.e. an upper bound on the
    * merged count. Returns 0 before the first commit. Intended for cheap
    * regime decisions (the sig registry's adaptive candidate
    * semi-filter — [[graft.dedup.Dedup.incrementalDedupSigs]]'s
    * `registrySizeHint`), never correctness. */
  def approxRowCount(version: Option[Int] = None): Long =
    version.orElse(latestVersion) match {
      case None => 0L
      case Some(v) => resolved(v).values.flatten.iterator
        .map(rel => FileStatsIndex.footerRowCount(spark, s"$path/$rel")).sum
    }

  /** Stats entries (where indexed) for the given manifest-relative files:
    * loads one sidecar per referenced version dir. */
  private def statsFor(files: Seq[String]): Map[String, FileStats] = {
    if (!indexed) return Map.empty
    files.map(_.split('/')(1).toInt).distinct
      .flatMap(v => FileStatsIndex.readSidecar(path, v))
      .flatMap(_.files)
      .toMap
  }

  /** How many of snapshot `v`'s files survive `keepFile` — the skipping
    * ratio, for specs and benchmarks: (kept, total). */
  def pruneReport(version: Option[Int],
      keepFile: FileStats => Boolean): (Int, Int) = {
    val v = version.orElse(latestVersion).get
    val all = resolved(v).values.flatten.toSeq
    val stats = statsFor(all)
    (all.count(p => stats.get(p).forall(keepFile)), all.size)
  }

  /** Exact row count of a snapshot in O(metadata): indexed files answer
    * from their sidecar `rows` (files are immutable, so the written count
    * stays exact forever); only files committed before indexing are
    * counted by actually scanning them. On a fully-indexed table this
    * runs ZERO Spark jobs — the count of a 100 TB snapshot is a driver-
    * side sum over its manifest. */
  def countRows(version: Option[Int] = None): Long = {
    val v = version.orElse(latestVersion).getOrElse(
      throw new IllegalStateException(
        s"VersionedLakeTable($path): no commits yet"))
    if (chainHasAppends(v)) return read(Some(v)).count() // appended
      // versions make the per-file row sums overcount; the exact count
      // needs the dedup scan until a compaction folds the appends
    val files = resolved(v).values.flatten.toSeq
    val stats = statsFor(files)
    val (have, missing) = files.partition(stats.contains)
    have.iterator.map(stats(_).rows).sum +
      (if (missing.isEmpty) 0L else scan(missing).count())
  }

  /** Point lookup through the per-file key Bloom index (the Hudi
    * bloom-index role): each `keys` entry is the record-key tuple in
    * `spec.recordKeys` order; only files whose Bloom may contain SOME
    * requested key are read, then the exact predicate re-filters — false
    * positives cost a file read, never a wrong row. */
  def lookupKeys(keys: Seq[Seq[Any]], version: Option[Int] = None): DataFrame = {
    require(keyBloomBits > 0,
      s"VersionedLakeTable($path): lookupKeys needs keyBloomBits > 0")
    require(keys.nonEmpty && keys.forall(_.length == recordKeys.length),
      s"each key tuple must match recordKeys $recordKeys")
    val hashes = keys.map(FileStatsIndex.keyHash)
    // Bloom pruning IS key-complete (no false negatives: every file
    // holding any version of a wanted key passes), so it composes with
    // an append chain — the internal read dedups the surviving versions
    val pruned = readWhereStatsInternal(version, _ => true,
      keepFile = fs => hashes.exists(h =>
        fs.mayContainHash(keyBloomBits, FileStatsIndex.DefaultBloomK, h)),
      filePruneKeyComplete = true)
    val keyTuple = concat_ws("\u0000",
      recordKeys.map(c => col(c).cast("string")): _*)
    val wanted = keys.map(_.map(String.valueOf).mkString("\u0000"))
    pruned.filter(keyTuple.isin(wanted: _*))
  }

  /** Dynamic file pruning for an equi-join on the record keys (the
    * Delta "dynamic file pruning" role): given the probe side's join
    * keys as an already-FILTERED small frame containing this table's
    * `spec.recordKeys` columns, return a KEY-COMPLETE SUPERSET of the
    * snapshot rows whose key matches some probe row — only files whose
    * Bloom may contain SOME probe key are opened. Unlike [[lookupKeys]]
    * there is no exact re-filter here: the caller's equi-join IS the
    * exact predicate, so a Bloom false positive costs a file read,
    * never a wrong row — `table.readForJoin(dim).join(dim, keys)`
    * equals `table.read().join(dim, keys)` with only the matching
    * files scanned.
    *
    * The probe key set is collected to the driver (distinct, capped at
    * `maxKeys` like the merge path's Bloom probe): past the cap the
    * read degrades loudly to the full snapshot — correct, just
    * unpruned — because the driver collect and the O(files × keys)
    * Bloom probing both need the bound. At 100 TB this is exactly the
    * selective-dim star-join shape: the filtered dim is small by
    * construction, and the fact table opens only the files its keys
    * can live in. Bloom pruning is key-complete (no false negatives),
    * so it composes with append (merge-on-read) chains. */
  def readForJoin(probeKeys: DataFrame, version: Option[Int] = None,
      maxKeys: Int = 10000): DataFrame = {
    require(keyBloomBits > 0,
      s"VersionedLakeTable($path): readForJoin needs keyBloomBits > 0")
    val missing = recordKeys.filterNot(probeKeys.columns.contains)
    require(missing.isEmpty,
      s"VersionedLakeTable($path): probe frame lacks record-key " +
        s"column(s) ${missing.mkString(", ")}")
    keyHashes(probeKeys, maxKeys) match {
      case None =>
        log.warn(s"VersionedLakeTable($path): readForJoin probe side " +
          s"exceeds $maxKeys distinct keys — reading the full snapshot " +
          "(correct, unpruned); raise maxKeys or pre-aggregate the probe")
        read(version)
      case Some(hs) => readWhereStatsInternal(version, _ => true,
        keepFile = fs => hs.exists(h =>
          fs.mayContainHash(keyBloomBits, FileStatsIndex.DefaultBloomK, h)),
        filePruneKeyComplete = true)
    }
  }

  /** [[readForJoin]]'s sibling for an equi-join on a NON-key column that
    * is in `statsCols` — typically the cluster/z-order column, where
    * consecutive file slices are disjoint in the column and a value set
    * prunes to ~one file per value: only files whose min/max range
    * CONTAINS some probe value are opened (no Bloom required). Same
    * superset contract (the caller's join is the exact re-filter, files
    * without stats are conservatively kept) and the same loud full-read
    * degradation past `maxKeys` distinct probe values. NOT allowed over
    * append (merge-on-read) chains: range pruning is not key-complete
    * there — the underlying read fails loudly, compactSnapshot() first. */
  def readForJoinOn(column: String, probeValues: DataFrame,
      version: Option[Int] = None, maxKeys: Int = 10000): DataFrame = {
    require(statsCols.contains(column),
      s"VersionedLakeTable($path): readForJoinOn needs '$column' in " +
        s"statsCols $statsCols")
    require(probeValues.columns.contains(column),
      s"VersionedLakeTable($path): probe frame lacks column '$column'")
    // pin the probe to the TABLE column's type before collecting: the
    // sidecar comparison renders values with JVM toString under the
    // TABLE column's kind, so a mistyped probe (a double frame probing
    // an integral stats column) would throw from BigInt inside the
    // prune predicate, and a differently-rendered type (timestamp vs
    // its string form) could silently prune files that hold matching
    // rows. try_cast keeps the superset contract: a probe value that
    // cannot cast to the table type cannot equal any stored value, so
    // dropping it prunes nothing the join could have matched.
    val tableType = read(version).schema
      .find(_.name == column).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"VersionedLakeTable($path): '$column' is in statsCols but " +
          "absent from the snapshot schema"))
    val vals = probeValues
      .select(expr(s"try_cast(`$column` AS ${tableType.sql})").as(column))
      .na.drop()
      .distinct().limit(maxKeys + 1).collect().map(_.get(0))
    if (vals.length > maxKeys) {
      log.warn(s"VersionedLakeTable($path): readForJoinOn probe side " +
        s"exceeds $maxKeys distinct values — reading the full snapshot " +
        "(correct, unpruned); raise maxKeys or pre-aggregate the probe")
      read(version)
    } else readWhereStats(version, _ => true,
      keepFile = fs => vals.exists(v =>
        FileStatsIndex.range(column, Some(v), Some(v))(fs)))
  }

  // ----------------------------------------------------------- write side

  /** Keyed latest-wins merge committed as a NEW version; returns it.
    * Same rule as [[KeyedLakeTable.upsert]] ([[KeyedMerge]]): in-batch
    * dedup, pruned read of touched partitions (manifest-resolved here),
    * strictly-newer (precombine, tieBreak) wins, ties to the incoming row
    * only without a tieBreak. Old versions stay readable until vacuumed. */
  def upsert(df: DataFrame): Int =
    guarded(df)(upsertTouched)

  /** MERGE-ON-READ commit (the [[KeyedLakeTable.upsertDeferred]] trade
    * lifted into the commit log): APPEND the batch's winning rows as a
    * new version without reading or rewriting any existing partition —
    * an O(batch) stage + one append manifest, where the eager [[upsert]]
    * pays a touched-partition read, key-join and rewrite. Readers of any
    * snapshot whose resolve chain holds append commits dedup latest-wins
    * (exact: the merge rule is idempotent and associative, and
    * `(precombine, tieBreak)` must totally order a key's versions —
    * `tieBreak` is REQUIRED, appended files carry no arrival order).
    * Time travel works unchanged: version v sees exactly the appends at
    * or below v. [[compactSnapshot]] folds accumulated versions back to
    * one winner per key (its full-checkpoint commit also restores
    * file-level stats pruning and O(metadata) [[countRows]], both of
    * which an append chain refuses/degrades — see their docs). OCC rules:
    * append commits declare their partitions as touched, and TWO APPENDS
    * COMMUTE — overlapping append claims/commits both land (an append
    * never reads the table, so it cannot be stale; the read-side dedup
    * over the required total order yields the sequential result either
    * way). Overlap between an append and an eager delta still aborts the
    * later writer — the eager delta REPLACES its partitions and would
    * drop append files its base read never saw. */
  def upsertDeferred(df: DataFrame): Int = {
    require(tieBreak.nonEmpty,
      s"VersionedLakeTable($path): deferred (merge-on-read) commits need " +
        "a tieBreak — appended files have no arrival order, so equal " +
        "precombine values would pick a nondeterministic winner")
    guarded(df)(appendTouched)
  }

  /** `f` over the persisted raw batch and the partitions it touches, as
    * relative partition paths — both from the one shared guard action
    * ([[KeyedMerge.guard]]). An empty batch commits nothing and returns
    * the current version. */
  private def guarded(df: DataFrame)(f: (DataFrame, Set[String]) => Int): Int =
    persisted(df) { batch =>
      val touched = merge.guard(batch).map(t =>
        partCols.zip(t).map { case (c, v) => s"$c=$v" }.mkString("/")).toSet
      if (touched.nonEmpty) f(batch, touched)
      else latestVersion.getOrElse(throw new IllegalStateException(
        s"VersionedLakeTable($path): empty bootstrap batch"))
    }

  /** The deferred write path: stage the prepped batch as-is (no table
    * read, no merge), claim a slot under the standard OCC rules, commit
    * an APPEND manifest. Bootstrap falls through to the eager path (the
    * first commit is a full checkpoint either way). */
  private def appendTouched(batch: DataFrame, touched: Set[String]): Int = {
    val curV = latestVersion
    if (curV.isEmpty) upsertTouched(batch, touched)
    else commitStaged(stageWrite(merge.prep(batch)), curV, touched,
      ourAppend = true)
  }

  private def upsertTouched(batch: DataFrame, touched: Set[String]): Int = {
    val curV = latestVersion
    val current = curV.map(resolved)
    val incoming = merge.prep(batch)

    // File-slice pruning through the key Bloom index (the Hudi bloom-index
    // role, `incremental.py`'s upsert-target location): among the touched
    // partitions' files, one whose Bloom proves it holds NO batch key
    // cannot contribute a merge loser — it carries forward FILE-INTACT in
    // the new manifest, neither read nor rewritten. Merge cost drops from
    // O(touched-partition bytes) to O(files actually holding batch keys);
    // a Bloom false positive only re-writes a file unnecessarily. Files
    // without an index entry (pre-indexing commits) always merge.
    val touchedFiles: Map[String, Seq[String]] = current match {
      case None        => Map.empty
      case Some(parts) => parts.filter { case (p, _) => touched(p) }
    }
    val carried: Map[String, Seq[String]] =
      if (keyBloomBits == 0 || touchedFiles.isEmpty) Map.empty
      else keyHashes(batch, 10000) match {
        case None => Map.empty // over the probe cap: read everything
        case Some(hs) =>
          val stats = statsFor(touchedFiles.values.flatten.toSeq)
          touchedFiles.map { case (p, fs) =>
            p -> fs.filter(f => stats.get(f).exists(st => !hs.exists(h =>
              st.mayContainHash(keyBloomBits, FileStatsIndex.DefaultBloomK, h))))
          }.filter(_._2.nonEmpty)
      }
    val carriedSet: Set[String] = carried.values.flatten.toSet

    val files = touchedFiles.values.flatten.toSeq.filterNot(carriedSet)
    val merged =
      if (files.isEmpty) incoming // bootstrap, new partitions or all carried
      else merge.latestWins(scan(files), incoming, allowMissingColumns = false)

    commitStaged(stageWrite(merged), curV, touched, ourAppend = false,
      carried)
  }

  /** The one commit step of [[upsert]] and [[upsertDeferred]] (immutable-
    * file contract + optimistic concurrency): `stage` holds the new state
    * of exactly the `touched` partitions; record the intent marker, claim
    * a version slot above `baseV` by one atomic rename ([[claimSlot]]),
    * write the stats sidecar, then commit the manifest. A touched
    * partition's entry is its staged files plus any Bloom-`carried` old
    * files (disjoint keys by no-false-negatives).
    *
    * The manifest is an O(touched) delta — an APPEND delta for
    * `ourAppend` — except at v0 and every `checkpointEvery`-th version,
    * which write a full checkpoint so reads stay bounded-replay. A
    * checkpoint [[replay]]s this commit onto the head resolved AT COMMIT
    * TIME (interleaved disjoint commits included) and is skipped while any
    * lower version is still in flight — a checkpoint above an uncommitted
    * delta would silently shadow it once that delta lands. Its resolved
    * file lists may still hold appended multi-version files, so it
    * carries the append flag whenever this commit or its chain appends:
    * readers above it keep deduping (only a compaction FOLDS versions
    * away). */
  private def commitStaged(stage: java.nio.file.Path, baseV: Option[Int],
      touched: Set[String], ourAppend: Boolean,
      carried: Map[String, Seq[String]] = Map.empty): Int = {
    val written = listWritten(stage)
    require(written.keySet == touched,
      s"VersionedLakeTable($path): wrote partitions ${written.keySet} " +
        s"but batch touched $touched")
    val appendFlag = if (ourAppend) Some(true) else None
    JFiles.writeString(stage.resolve("_intent.json"),
      Serialization.writePretty(CommitIntent(touched.toSeq.sorted, appendFlag)))
    onBeforeClaim()
    val (v, sawInFlight) = claimSlot(stage, baseV, touched, ourAppend)
    val entries: Map[String, Seq[String]] = written.map { case (p, fs) =>
      p -> (fs.map(f => s"data/$v/$f") ++ carried.getOrElse(p, Nil)).sorted
    }
    // stats sidecar BEFORE the manifest commit: a committed version always
    // has its index; an orphan sidecar is overwritten on retry
    if (indexed) FileStatsIndex.writeSidecar(
      spark, path, v, statsCols, recordKeys, keyBloomBits)
    val m = CommitManifest(v, java.time.Instant.now().toString, entries,
      delta = Some(true), touched = Some(touched.toSeq.sorted),
      append = appendFlag)
    versions.filter(_ < v).lastOption match {
      case None => commit(m.copy(delta = None))
      case Some(prev) if v % checkpointEvery == 0 && !sawInFlight =>
        commit(m.copy(partitions = replay(resolved(prev), m), delta = None,
          append = if (ourAppend || chainHasAppends(prev)) Some(true) else None))
      case _ => commit(m)
    }
  }

  /** Test seam: invoked after the batch is fully staged, immediately
    * before the claim loop — lets a spec interleave a competing commit
    * into the claim window. Production writers never set it. */
  private[graft] var onBeforeClaim: () => Unit = () => ()

  private def stageWrite(df: DataFrame): java.nio.file.Path =
    stageWriteLayout(clustered(df.repartition(partCols.map(col): _*)))

  /** Write an already-laid-out frame into a fresh staging dir: the caller
    * owns the shuffle/sort shape (the default write path partitions by
    * the directory columns and applies `clusterBy`; [[optimizeZOrder]]
    * range-partitions on the interleaved z-value instead). */
  private def stageWriteLayout(laid: DataFrame): java.nio.file.Path = {
    val stage = Paths.get(path, "data",
      s".stage-${java.util.UUID.randomUUID.toString.take(8)}")
    laid.write.option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*).parquet(stage.toString)
    stage
  }

  /** Walk to the first free version slot and atomically rename the staged
    * dir into it. Every slot walked past is an interleaved commit: a
    * committed manifest is checked through its `changed` set, an in-flight
    * claim through its staged intent — any overlap with `touched` aborts
    * (the caller's merge is stale for those partitions), EXCEPT when both
    * this commit and the interleaved one are APPENDs: an append never
    * reads the table, so it cannot be stale, and two appends to the same
    * partition commute by construction — the read-side latest-wins dedup
    * over a REQUIRED total order `(precombine, tieBreak)` yields the
    * sequential result whichever lands first. Mixed overlap (eager walking
    * past an append, or any append below an eager) still aborts: the
    * eager merge's delta REPLACES the partition, so it would drop append
    * files its base read never saw. Returns the claimed version and
    * whether any slot below it is still in flight. */
  private def claimSlot(stage: java.nio.file.Path, baseV: Option[Int],
      touched: Set[String], ourAppend: Boolean = false): (Int, Boolean) = {
    var v = baseV.map(_ + 1).getOrElse(0)
    var sawInFlight = false
    while (true) {
      if (baseV.isEmpty && v > 0) {
        deleteRecursively(stage)
        throw new IllegalStateException(
          s"VersionedLakeTable($path): concurrent bootstrap — another " +
            "writer owns version 0; re-run this upsert to merge onto it")
      }
      val manifestP = commitsDir.resolve(f"$v%08d.json")
      val dirP = Paths.get(path, "data", v.toString)
      if (JFiles.exists(manifestP)) {
        val m = manifest(v)
        val ov = m.changed match {
          case Some(ch) => touched intersect ch
          case None     => touched // rollback/compaction/pre-OCC: all
        }
        if (ov.nonEmpty && !(ourAppend && m.isAppend))
          abortStale(stage, v, ov, "committed")
        v += 1
      } else if (JFiles.exists(dirP)) {
        val intentP = dirP.resolve("_intent.json")
        if (JFiles.exists(intentP)) {
          val theirs = JsonMethods.parse(JFiles.readString(intentP))
            .extract[CommitIntent]
          val ov = touched intersect theirs.touched.toSet
          if (ov.nonEmpty && !(ourAppend && theirs.isAppend))
            abortStale(stage, v, ov, "claimed in flight")
          sawInFlight = true
          v += 1
        } else {
          // pre-OCC crash debris (data dir, no intent, no manifest): no
          // snapshot references it — clear it and retry this slot
          deleteRecursively(dirP)
        }
      } else {
        try {
          JFiles.move(stage, dirP, StandardCopyOption.ATOMIC_MOVE)
          return (v, sawInFlight)
        } catch {
          // lost the rename race — re-examine the same slot (it now has
          // an owner whose intent the next iteration checks). Linux
          // rename(2) onto an existing non-empty dir surfaces as ENOTEMPTY
          // (a bare FileSystemException), not FileAlreadyExists, so the
          // discriminator is whether the slot is now occupied.
          case _: java.nio.file.FileAlreadyExistsException => ()
          case e: java.nio.file.FileSystemException =>
            if (!JFiles.exists(dirP)) throw e
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def abortStale(stage: java.nio.file.Path, v: Int,
      overlap: Set[String], how: String): Nothing = {
    deleteRecursively(stage)
    throw new java.util.ConcurrentModificationException(
      s"VersionedLakeTable($path): optimistic commit conflict — " +
        s"partition(s) ${overlap.toSeq.sorted.mkString(", ")} were $how " +
        s"at version $v after this writer read its base snapshot; this " +
        "merge is stale for them. Re-run the upsert to rebase onto the " +
        "new head.")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (!JFiles.exists(p)) return
    val s = JFiles.walk(p)
    val doomed =
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        val it = s.iterator()
        while (it.hasNext) buf += it.next()
        buf.sortBy(-_.getNameCount)
      } finally s.close()
    // deleteIfExists: two writers may race on clearing the same debris —
    // whoever loses a single file's delete must not crash the claim walk
    doomed.foreach(d => JFiles.deleteIfExists(d))
  }

  /** Delete data dirs no manifest has committed — crash debris from
    * writers that died between stage/claim and manifest commit (such a
    * dir blocks overlapping writers loudly until cleared). ONLY safe when
    * no writer is in flight, like [[vacuumBefore]]. Returns the number of
    * dirs removed.
    *
    * Reclaiming a crashed CLAIM whose higher neighbors already committed
    * leaves a permanent hole in the version sequence, which would hide
    * those committed manifests forever (readers stop at the first gap —
    * see [[visibleVersions]]). So after clearing debris this TOMBSTONES
    * every missing slot below the newest manifest with an empty delta
    * commit: it resolves to a no-op, conflicts with nothing (empty
    * `touched`), and restores log contiguity so the hidden commits become
    * visible. */
  def cleanOrphans(): Int = {
    val dataDir = Paths.get(path, "data")
    if (!JFiles.isDirectory(dataDir)) return 0
    val orphans = children(dataDir).filter { d =>
      val n = d.getFileName.toString
      JFiles.isDirectory(d) && (n.startsWith(".stage-") ||
        (n.forall(_.isDigit) &&
          !JFiles.exists(commitsDir.resolve(f"${n.toInt}%08d.json"))))
    }
    orphans.foreach(deleteRecursively)
    val vs = versions
    vs.headOption.foreach { lo =>
      (lo to vs.last).filterNot(vs.contains).foreach { v =>
        commit(CommitManifest(v, java.time.Instant.now().toString,
          Map.empty, delta = Some(true), touched = Some(Nil)))
      }
    }
    orphans.size
  }

  /** Distinct seed-42 xxhash64 record-key hashes of `frame` (the Bloom
    * probe of the merge and of [[readForJoin]]), or None past `cap` — then
    * the caller reads unpruned: correct, just every file. The cap bounds
    * BOTH the driver collect and the O(files × keys) Bloom probing; the
    * merge's batch is already persisted by [[upsert]], so its probe is one
    * cheap distinct over cached rows. */
  private def keyHashes(frame: DataFrame, cap: Int): Option[Array[Long]] = {
    val hs = frame.select(
      xxhash64(concat_ws("\u0000",
        recordKeys.map(c => col(c).cast("string")): _*)).as("__h"))
      .distinct().limit(cap + 1).collect().map(_.getLong(0))
    if (hs.length > cap) None else Some(hs)
  }

  /** Sort-within-partitions on `clusterBy` before writing: with
    * `maxRecordsPerFile` splitting a partition into slices, sorted rows
    * make consecutive slices DISJOINT in the cluster key, so the file
    * min/max index prunes a range predicate to ~one slice even inside a
    * big partition (and parquet row-group stats tighten for free). Costs
    * one in-task sort per write — no extra shuffle: sortWithinPartitions
    * is narrow. */
  private def clustered(df: DataFrame): DataFrame =
    if (clusterBy.isEmpty) df
    // partition columns FIRST: FileFormatWriter requires an ordering on
    // the partition columns and would insert its own full sort (losing
    // the cluster order) unless the incoming ordering already satisfies
    // that prefix
    else df.sortWithinPartitions((partCols ++ clusterBy).map(col): _*)

  /** partition-rel-path → data files under `dir`, both RELATIVE to `dir`
    * (the caller prefixes `data/<v>/` once the staged dir's slot is
    * known). */
  private def listWritten(dir: java.nio.file.Path): Map[String, Seq[String]] = {
    def walk(p: java.nio.file.Path, depth: Int): Seq[(String, String)] =
      children(p).flatMap { c =>
        val n = c.getFileName.toString
        if (depth == 0) {
          if (JFiles.isRegularFile(c) && !n.startsWith("_") && !n.startsWith("."))
            Seq((dir.relativize(c.getParent).toString,
              dir.relativize(c).toString))
          else Seq.empty
        } else if (JFiles.isDirectory(c) && !n.startsWith("_"))
          walk(c, depth - 1)
        else Seq.empty
      }
    walk(dir, partCols.length).groupBy(_._1)
      .map { case (k, v2) => k -> v2.map(_._2).sorted }
  }

  // --------------------------------------------------------- time travel

  /** Restore the table to snapshot `v` as a NEW commit (history preserved:
    * the bad commits stay readable until vacuumed). Administrative:
    * assumes no writer is in flight (a racing commit fails loudly on the
    * manifest rename; the rollback manifest carries no `touched` set, so
    * every writer whose base predates it rebases). */
  def rollback(v: Int): Int = {
    val target = resolved(v) // full checkpoint: a rollback restarts history
    // raw max, not the visible head: a manifest above a gap already owns
    // its slot, and committing over it must fail loudly (ATOMIC_MOVE
    // without replace), never silently shadow it
    val nextV = versions.last + 1
    commit(CommitManifest(nextV, java.time.Instant.now().toString, target,
      append = if (chainHasAppends(v)) Some(true) else None))
  }

  /** Rewrite the CURRENT snapshot wholesale under one fresh version dir
    * and commit it. A long-lived table's snapshot comes to span many
    * version dirs (one parquet scan each at read time — the documented
    * plan-growth caveat) and many small files; this collapses both to one
    * scan and one file per partition. Old snapshots stay readable until
    * vacuumed; a vacuum AFTER a compaction reclaims everything the
    * compacted snapshot superseded. Cost: one full read+write of the
    * LIVE table — the same pay-once economics as [[Compaction.compact]],
    * but driven by the manifest, so it is also the schema-current rewrite
    * that retires old-schema files. */
  def compactSnapshot(): Int =
    rewriteSnapshot(df => clustered(df.repartition(partCols.map(col): _*)),
      "snapshot compaction")

  /** Delta's `OPTIMIZE ... ZORDER BY` analog: rewrite the current
    * snapshot with files clustered along the Morton interleave of
    * `zCols` ([[graft.ops.ZOrder]]), so a predicate on ANY z-column
    * prunes at BOTH skipping levels — the file-level stats sidecar
    * (when `zCols ⊆ statsCols`) opens only overlapping files, and
    * parquet's row-group min/max tightens inside each file for free
    * (benefiting even plain readers with pushed filters). Same commit
    * protocol, OCC rules, and pay-once economics as
    * [[compactSnapshot]]; the extra cost is one min/max aggregate (the
    * normalization frame) and the range-sampling pass any
    * repartitionByRange makes. Range-partitioning leads with the
    * directory partition columns so each task lands in few partition
    * dirs instead of spraying files across all of them. */
  def optimizeZOrder(zCols: Seq[String], bits: Int = 12): Int =
    rewriteSnapshot(df => graft.ops.ZOrder.layout(df, zCols,
        spark.sessionState.conf.numShufflePartitions, bits,
        prefix = partCols),
      s"z-order optimize on ${zCols.mkString(",")}")

  private def rewriteSnapshot(layout: DataFrame => DataFrame,
      what: String): Int = {
    val cur = latestVersion.getOrElse(throw new IllegalStateException(
      s"VersionedLakeTable($path): nothing to rewrite — no commits"))
    val stage = stageWriteLayout(layout(read(Some(cur))))
    val written = listWritten(stage)
    JFiles.writeString(stage.resolve("_intent.json"),
      Serialization.writePretty(CommitIntent(written.keySet.toSeq.sorted)))
    // a compaction's FULL manifest snapshots `cur` wholesale, so ANY
    // interleaved commit — even a disjoint one — would be shadowed by it:
    // conservative rule, compaction only proceeds on an unmoved head
    val (v, sawInFlight) = claimSlot(stage, Some(cur), written.keySet)
    if (sawInFlight || versions.filter(_ < v).lastOption != Some(cur)) {
      deleteRecursively(Paths.get(path, "data", v.toString))
      throw new java.util.ConcurrentModificationException(
        s"VersionedLakeTable($path): commits interleaved during $what " +
          s"of v$cur — re-run it on the new head")
    }
    val entries = written.map { case (p, fs) =>
      p -> fs.map(f => s"data/$v/$f").sorted
    }
    if (indexed) FileStatsIndex.writeSidecar(
      spark, path, v, statsCols, recordKeys, keyBloomBits)
    // touched = None: the compacted snapshot replaces every partition, so
    // any writer whose base predates it must rebase (conservative)
    commit(CommitManifest(v, java.time.Instant.now().toString, entries))
  }

  /** Drop snapshots before `keepFrom` and delete every data file no
    * remaining snapshot references. Returns deleted file count.
    * Administrative: assumes no writer is in flight (a staged or claimed
    * but uncommitted dir's files are not referenced by any manifest and
    * would be swept). */
  def vacuumBefore(keepFrom: Int): Int = {
    val (drop, keep) = versions.partition(_ < keepFrom)
    require(keep.nonEmpty,
      s"VersionedLakeTable($path): vacuumBefore($keepFrom) would drop " +
        "every commit")
    // A kept delta must not resolve through a manifest about to be
    // dropped: first rewrite the oldest kept commit as a self-contained
    // FULL checkpoint (same version, same data files — a metadata-only
    // atomic replace). Later kept versions resolve through it unchanged.
    val oldest = keep.head
    if (manifest(oldest).isDelta)
      commit(CommitManifest(oldest, manifest(oldest).committedAt,
        resolved(oldest),
        append = if (chainHasAppends(oldest)) Some(true) else None),
        replace = true)
    // resolve every kept snapshot with ONE forward replay over the log
    // (delta manifests only list touched partitions — the carried-forward
    // files of untouched partitions are just as live)
    // ([[replay]]: append deltas EXTEND their partitions, so superseded-
    // but-referenced version files stay live)
    var running = Map.empty[String, Seq[String]]
    val liveB = scala.collection.mutable.Set.empty[String]
    versions.foreach { v =>
      running = replay(running, manifest(v))
      if (v >= keepFrom) liveB ++= running.values.flatten
    }
    val live: Set[String] = liveB.toSet
    var deleted = 0
    val dataDir = Paths.get(path, "data")
    if (JFiles.isDirectory(dataDir)) {
      val root = Paths.get(path)
      val s = JFiles.walk(dataDir)
      try {
        val it = s.iterator()
        val doomed = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        while (it.hasNext) {
          val p = it.next()
          if (JFiles.isRegularFile(p) && !live(root.relativize(p).toString))
            doomed += p
        }
        doomed.foreach { p => JFiles.delete(p); deleted += 1 }
      } finally s.close()
    }
    drop.foreach(v => JFiles.deleteIfExists(
      commitsDir.resolve(f"$v%08d.json")))
    deleted
  }

  /** Hive-sync analog for a snapshot: expose `read(version)` through
    * `spark.sql` for this session — `AS OF` queries by view name. */
  def registerAs(name: String, version: Option[Int] = None): Unit =
    read(version).createOrReplaceTempView(name)
}
