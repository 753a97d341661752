package graft.sink

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Specification of a keyed, partitioned, upsertable lake table — the three
  * degrees of freedom of the reference's lake tables (SURVEY.md §1.1 item 4;
  * `glue_jobs/initial_load.py:156-183`, `glue_jobs/incremental.py:216-243`):
  * record key, precombine key (latest-wins), and the timestamp column the
  * 5-level partition path derives from.
  *
  * @param path            table root directory
  * @param recordKeys      unique record key (possibly composite)
  * @param precombine      conflict-resolution column: greatest value wins
  * @param partitionSource ISO-8601 string column the partition columns are
  *                        derived from; the reference's invariant is that it
  *                        NEVER changes across versions of one key
  *                        (`README.rst:124`), so a key lives in exactly one
  *                        partition — the merge exploits and asserts this
  * @param tieBreak        columns ordering rows with *equal* precombine
  *                        values descending, to make merges deterministic
  *                        (ADVICE r1: same-timestamp CDC updates are common)
  * @param softDeleteCol   opt-in TOMBSTONE column (boolean): a row with the
  *                        flag true is a delete of its key, riding the merge
  *                        as an ordinary latest-wins version — it must WIN by
  *                        precombine to take effect, and a later live version
  *                        resurrects the key, so replay/merge semantics are
  *                        unchanged and an out-of-order older version can
  *                        never resurrect a deleted key. The table keeps
  *                        tombstone rows ([[KeyedLakeTable.read]] returns
  *                        them; [[KeyedLakeTable.readLive]] filters them);
  *                        physical removal is a later compaction/retention
  *                        pass. The change feed classifies tombstone winners
  *                        as `delete`, and [[graft.ops.IncrementalAgg
  *                        .retractions]] counts only LIVE images, so
  *                        incremental aggregates track the live table. The
  *                        reference scopes deletes out entirely
  *                        (`README.rst:53`, stream REMOVE skipped) — None
  *                        (the default) preserves exactly that behavior.
  */
final case class LakeTableSpec(
    path: String,
    recordKeys: Seq[String] = Seq("id"),
    precombine: String = "update_at",
    partitionSource: String = "create_at",
    tieBreak: Seq[String] = Nil,
    softDeleteCol: Option[String] = None)

/** Keyed upsert-merge lake table — a pure-Spark, Hudi-COPY_ON_WRITE-
  * equivalent sink with no external table-format dependency.
  *
  * Write path (reference semantics, Spark-first plan):
  *
  *  1. incoming batch → derive the 5 partition columns (narrow projection),
  *     drop the CDC `Op` marker, window-dedup within the batch
  *     (`incremental.py:172-183`);
  *  2. `upsert` reads ONLY the partition directories the batch touches:
  *     the batch's one guard action also collects the partition tuples it
  *     touches (bounded by batch size, never table size), and the existing
  *     side is read from exactly those directories — the table root is
  *     never listed. It unions existing + incoming with a source-priority
  *     column and resolves per key with latest-wins where ties go to the
  *     incoming row (Hudi precombine behavior, `incremental.py:225-226`);
  *  3. the merged rows are written back with dynamic partition overwrite, so
  *     only touched partitions are rewritten — the 100 TB cost of a batch is
  *     O(touched partitions), not O(table).
  *
  * The one shuffle is the dedup window on the record key; its input is
  * (touched partitions + batch), which the never-changing `partitionSource`
  * invariant keeps proportional to batch size. The batch side of steps 1–2
  * (prep, guard, latest-wins union) is [[KeyedMerge]], shared with
  * [[VersionedLakeTable]]; the commit — overwrite, marker, memo — is this
  * table's own.
  */
object KeyedLakeTable {
  /** Memo of resolved reads, keyed by (session, table path) and guarded by
    * the table's COMMIT VERSION (r17, VERDICT r16 #5):
    * `spark.read.parquet(dir)` pays a recursive O(partition-dirs) listing
    * and an O(files) footer merge on EVERY call, and one incremental-view
    * fold reads its two state tables ~5 times per cycle. Every graft write
    * and maintenance pass bumps a `_graft_commit` marker (one tiny
    * underscore-prefixed file, invisible to scans exactly like
    * `_SUCCESS`); a read re-uses the memoized frame only while the marker
    * value is UNCHANGED, so any graft writer — this instance, another
    * instance, another JoinView over the same paths, [[Compaction]] —
    * invalidates it. A table without a marker (pre-r17 layout, foreign
    * writer) never memoizes and keeps the list-every-time behavior.
    *
    * The memo is WRITE-THROUGH for the upserts: a writer that replaced a
    * known set of partition directories rebuilds the entry from the old
    * entry's file list, minus those directories' files, plus one
    * `listStatus` per directory, and stamps it with the token it wrote —
    * so the read after a CDC cycle lists nothing (see [[refreshMemo]]).
    *
    * Keyed by the session object, not the application: a frame is bound
    * to the session that resolved it, and a sibling session
    * (`spark.newSession()`) must get its own. An access-ordered LRU of
    * [[memoEntries]] bounds what the memo pins — each entry holds a file
    * index with every leaf file's status. */
  private[sink] val memoEntries = 64

  private val readMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(SparkSession, String), (String, DataFrame)](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), (String, DataFrame)]): Boolean =
        size() > memoEntries
    })

  private[sink] def commitMarker(path: String): Path = new Path(path, "_graft_commit")

  /** Write a fresh token to the table's commit marker and return it — the
    * one marker writer, shared by every write path of [[KeyedLakeTable]]
    * and by [[Compaction]]: a new value means memoized reads must re-list.
    *
    * Crash caveat: the bump follows the data commit, so a writer killed
    * between the two leaves committed files under an UNCHANGED marker —
    * sessions holding a memoized read keep serving the old file list
    * while fresh sessions see the new files, until the next successful
    * write bumps the marker. */
  private[sink] def bumpCommit(fs: FileSystem, path: String): String = {
    val token = java.util.UUID.randomUUID().toString
    val out = fs.create(commitMarker(path), true)
    try out.write(token.getBytes("UTF-8"))
    finally out.close()
    token
  }

  /** Spark's own file-status cache contract, answering for one root path
    * from a known leaf-file list: an [[InMemoryFileIndex]] built over it
    * resolves without listing. `invalidateAll` (an index `refresh()`)
    * forgets the seed, so a refresh lists for real. */
  private final class SeededStatusCache(root: Path, seed: Array[FileStatus])
      extends FileStatusCache {
    @volatile private var files: Option[Array[FileStatus]] = Some(seed)
    override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
      if (p == root) files else None
    override def putLeafFiles(p: Path, leaf: Array[FileStatus]): Unit =
      if (p == root) files = Some(leaf)
    override def invalidateAll(): Unit = files = None
  }
}

final class KeyedLakeTable(spark: SparkSession, val spec: LakeTableSpec) {
  import spec._
  import KeyedLakeTable._
  import KeyedMerge.{normalizeParts, partCols, persisted}

  private val merge = new KeyedMerge(spec, "KeyedLakeTable")

  private def hadoopFs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def memoKey = (spark, path)

  private def markerVersion(): Option[String] =
    try {
      val f = hadoopFs
      val marker = commitMarker(path)
      if (!f.exists(marker)) None
      else {
        val in = f.open(marker)
        try Some(new String(in.readAllBytes(), "UTF-8"))
        finally in.close()
      }
    } catch { case _: java.io.IOException => None }

  /** The table's footer-merged base read, memoized per (session, path)
    * while the commit marker is unchanged — two cheap FS calls instead of
    * an O(dirs) recursive listing and an O(files) footer merge on a warm
    * hit. */
  private def rawRead(): DataFrame = {
    def build(): DataFrame = spark.read.option("mergeSchema", "true").parquet(path)
    markerVersion() match {
      case None => build()
      case Some(v) =>
        Option(readMemo.get(memoKey)) match {
          case Some((`v`, df)) => df
          case _ =>
            val df = build()
            readMemo.put(memoKey, (v, df))
            df
        }
    }
  }

  /** Write-through after a write that replaced (or appended to) exactly
    * the partition directories of `touched`, writing files whose columns
    * are `written`'s non-partition fields, and bumped the marker from
    * `before` to `token`. The memo entry is carried forward only if it was
    * current at `before` (no other write slipped in) and the written
    * columns equal its data schema in name, type and order — the footer
    * merge of the new file set is then the entry's schema. In every other
    * case (stale or missing entry, an evolving write, a marker-less table,
    * an I/O error) the entry is dropped and the next read lists once. */
  private def refreshMemo(before: Option[String], token: String,
      touched: Seq[Seq[String]], written: StructType): Unit = {
    val data = written.filterNot(f => partCols.contains(f.name))
    val carried = for {
      v <- before
      (`v`, df) <- Option(readMemo.get(memoKey))
      rel <- df.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation }.collect { case r: HadoopFsRelation => r }
      index <- Some(rel.location).collect { case i: InMemoryFileIndex => i }
      root <- index.rootPaths match { case Seq(r) => Some(r); case _ => None }
      if rel.dataSchema.length == data.length &&
        rel.dataSchema.zip(data).forall { case (e, w) =>
          e.name == w.name && DataTypeUtils.equalsIgnoreNullability(e.dataType, w.dataType) }
    } yield (rel, index, root)
    val refreshed = carried.flatMap { case (rel, index, root) =>
      try Some(reindexed(rel, index, root, touched))
      catch { case _: java.io.IOException => None }
    }
    refreshed match {
      case Some(df) => readMemo.put(memoKey, (token, df))
      case None => readMemo.remove(memoKey)
    }
  }

  /** `rel` over its index's leaf files with the `touched` directories'
    * files replaced by one `listStatus` of each — hidden `_`/`.` names
    * skipped, as Spark's listing does. Spark's own index infers the
    * partitions from the paths, exactly as a fresh read does; the data
    * schema is the entry's. */
  private def reindexed(rel: HadoopFsRelation, index: InMemoryFileIndex, root: Path,
      touched: Seq[Seq[String]]): DataFrame = {
    val dirs = touched.map(t => ExternalCatalogUtils.generatePartitionPath(
      partCols.zip(t).toMap, partCols, root)).toSet
    val fs = hadoopFs
    val kept = index.allFiles().filterNot(f => dirs(f.getPath.getParent))
    val listed = dirs.toSeq.flatMap(d => fs.listStatus(d)).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val seeded = new InMemoryFileIndex(spark, Seq(root), rel.options, None,
      new SeededStatusCache(root, (kept ++ listed).toArray))
    spark.baseRelationToDataFrame(HadoopFsRelation(seeded, seeded.partitionSchema,
      rel.dataSchema, rel.bucketSpec, rel.fileFormat, rel.options)(spark))
  }

  /** The one commit of every write mode: the partitioned write of `rows`,
    * then a bumped commit marker, then the memo. `touched` = None is a
    * static overwrite of the whole table — every partition may have
    * changed, so the memo entry is dropped. Otherwise the write replaces
    * (dynamic partition overwrite) or, with `append`, extends exactly the
    * `touched` partition directories, and [[refreshMemo]] carries the
    * entry over them.
    *
    * The rows are clustered by their target partition first: without
    * this every one of the N shuffle partitions drops a file into every
    * partition directory (N× small-file amplification, measured on the
    * bench). One shuffle, one file per partition. At sizes where one file
    * per partition is too coarse, add a within-partition salt here to
    * bound file size — the write pattern stays the same. */
  private def commitWrite(rows: DataFrame, touched: Option[Seq[Seq[String]]],
      append: Boolean = false): Unit = {
    val before = if (touched.isEmpty) None else markerVersion()
    rows.repartition(partCols.map(col): _*).write
      .mode(if (append) SaveMode.Append else SaveMode.Overwrite)
      // whatever the session says; an append ignores it
      .option("partitionOverwriteMode",
        if (touched.isEmpty) "static" else "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)
    val token = bumpCommit(hadoopFs, path)
    touched match {
      case Some(t) => refreshMemo(before, token, t, rows.schema)
      case None => readMemo.remove(memoKey)
    }
  }

  /** K1 — bootstrap: full overwrite of the table from a snapshot
    * (`initial_load.py:156-183`). */
  def overwrite(df: DataFrame): Unit =
    commitWrite(merge.prep(df), touched = None)

  /** K2/J1/U1 — incremental keyed merge: update-if-exists-else-insert with
    * latest-wins precombine, ties resolved for the incoming row
    * (`incremental.py:216-243`).
    *
    * `evolveSchema = false` (default) requires the batch to carry exactly
    * the table's columns — a renamed source column fails loudly instead of
    * silently forking the schema. `evolveSchema = true` merges schemas the
    * way a long-lived CDC table must when the source database gains or
    * drops columns: batch-only columns join the table (existing rows read
    * them as null), table-only columns null-fill the batch, and a SAME-NAME
    * column whose type changed is always an error — silent coercion would
    * corrupt every already-written row at its next merge. Both checks
    * compare against the merged schema of the touched partitions' files,
    * and confirm a mismatch against the whole table's. After an evolving
    * write, untouched partitions still hold old-schema files, so [[read]]
    * footer-merges schemas across files. */
  def upsert(df: DataFrame, evolveSchema: Boolean = false): Unit =
    persisted(df)(upsertPersisted(_, evolveSchema, withChanges = false))

  /** [[upsert]] that also RETURNS the merge's change feed: one row per
    * batch key with `change_type` ∈ insert | update | noop, the replaced
    * row as `old_image` (null on insert) and the batch's winning version
    * as `new_image`. `noop` = the table already held a version at or past
    * the batch's (a replayed or late batch) — the write changed nothing
    * for that key.
    *
    * The feed is what downstream INCREMENTAL consumers need: an exact
    * retraction stream (−old, +new) that maintains aggregates without
    * rescanning the table ([[graft.ops.IncrementalAgg]]). Cost: one extra
    * key-join of the batch against the SAME pruned touched-partition read
    * the merge itself does — O(batch), never O(table) — and the returned
    * frame is eagerly materialized (batch-bounded) so it stays valid after
    * the overwrite rewrites the partitions it was computed from.
    *
    * Images carry the columns the touched partitions' files and the batch
    * SHARE (under `evolveSchema` a column the touched files lack is absent
    * from `old_image`, a dropped one from `new_image`). */
  def upsertChanges(df: DataFrame, evolveSchema: Boolean = false): DataFrame =
    persisted(df)(upsertPersisted(_, evolveSchema, withChanges = true).get)

  /** MERGE-ON-READ write (the Hudi MOR / Delta deletion-vector trade,
    * adapted to a latest-wins table): APPEND the batch's winning rows
    * into their partition dirs without reading or rewriting anything —
    * the whole copy-on-write merge cost (touched-partition read,
    * key-join, partition rewrite) is deferred to readers. Correct
    * because latest-wins is idempotent and associative: deduping
    * base ∪ appended versions at READ time ([[readMerged]]) yields
    * exactly the state the eager merge would have written, and
    * [[compactMerged]] folds the accumulated versions back into
    * one-winner-per-key files when read amplification outweighs the
    * write savings. Write cost: O(batch) — one guard aggregate and one
    * append, no table read at all.
    *
    * Contract differences from [[upsert]], enforced loudly:
    *  - `(precombine, tieBreak)` must totally order a key's versions —
    *    appended files carry no arrival order, so the eager merge's
    *    incoming-wins tie rule does not exist here; a configured
    *    `tieBreak` (the reference's event-id role) is REQUIRED;
    *  - no schema evolution (append files must match the table), and no
    *    change feed (computing old images would read the table, which is
    *    the cost this mode exists to avoid — use [[upsertChanges]], or
    *    derive feeds at compaction, where incremental consumers need
    *    them). */
  def upsertDeferred(df: DataFrame): Unit = {
    require(tieBreak.nonEmpty,
      s"KeyedLakeTable($path): deferred (merge-on-read) upserts need a " +
        "tieBreak — appended files have no arrival order, so equal " +
        "precombine values would pick a nondeterministic winner")
    persisted(df) { batch =>
      val touched = merge.guard(batch)
      if (touched.isEmpty) () // empty batch: legitimate no-op
      else if (!exists) overwrite(batch)
      else appendDeferred(batch, touched)
    }
  }

  /** The append of [[upsertDeferred]] into an existing table. */
  private def appendDeferred(batch: DataFrame, touched: Seq[Seq[String]]): Unit = {
    // one sampled footer, NOT a mergeSchema pass — deferred mode forbids
    // evolution, so every file carries the same columns and the
    // distributed footer-merge would cost more than the append itself —
    // and memoized per handle: even the sampled read pays an O(dirs)
    // partition-discovery listing (measured ~1 s on a 720-dir table)
    if (deferredExpected == null)
      deferredExpected = spark.read.parquet(path).columns.toSet
    val expected = deferredExpected
    val incoming = merge.prep(batch)
    val incomingCols = incoming.columns.toSet
    require(incomingCols == expected,
      s"KeyedLakeTable($path): deferred append schema mismatch — batch " +
        s"yields ${incomingCols.toSeq.sorted.mkString(",")} vs table " +
        s"${expected.toSeq.sorted.mkString(",")} (no evolution in " +
        "merge-on-read mode)")
    commitWrite(incoming, Some(touched), append = true)
  }

  @volatile private var deferredExpected: Set[String] = null

  /** The merged state of a table written (fully or partly) through
    * [[upsertDeferred]]: [[read]] plus one latest-wins dedup over the
    * accumulated versions — the read-side half of merge-on-read. On a
    * fully-compacted (or eagerly-merged) table the dedup finds one
    * version per key and passes rows through unchanged, so this is
    * always safe to use; it costs one keyed shuffle over the rows read
    * (partition-pruned reads prune the dedup's input identically). */
  def readMerged(): DataFrame =
    merge.dedup(read())

  /** [[readMerged]] minus tombstones — the MOR analog of [[readLive]]. */
  def readLiveMerged(): DataFrame = {
    val f = softDeleteCol.getOrElse(throw new IllegalStateException(
      s"KeyedLakeTable($path): readLiveMerged needs spec.softDeleteCol"))
    readMerged().filter(!coalesce(col(f), lit(false)))
  }

  /** Fold accumulated deferred versions back to one winner per key — the
    * pay-once compaction that restores eager-merge read costs. Staged
    * through a sibling temp dir (never reads and overwrites the same
    * files in one job), table-sized but disk-bound, no driver state. */
  def compactMerged(): Unit = {
    val stage = path + s".compact-${java.util.UUID.randomUUID.toString.take(8)}"
    readMerged().write.parquet(stage)
    overwrite(spark.read.parquet(stage))
    val p = new Path(stage)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Changelog of merging `incoming` (one row per key) into `existing`
    * (one row per key; empty on bootstrap). Mirrors the merge's win rule
    * exactly: strictly-newer (precombine, tieBreak) wins, and an exact tie
    * ALSO goes to the incoming row — the merge's ordering ends with
    * `__src desc` in both tieBreak configurations, so the incoming row
    * replaces the table row on a full ordering tie (classifying it `noop`
    * would let downstream [[graft.ops.IncrementalAgg]] state drift from
    * the table when tied versions carry different payloads). Only a
    * strictly-older batch version is a noop. */
  private def changelog(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val shared = incoming.columns.filter(existing.columns.contains)
      .filterNot(recordKeys.contains)
    val ordCols = precombine +: tieBreak
    def image(d: DataFrame, cols: Seq[String]) =
      d.select(recordKeys.map(col) :+
        struct(cols.map(col): _*).as("__img"): _*)
    val newImgCols = incoming.columns.filterNot(recordKeys.contains)
    val oldSide = image(existing, shared)
      .withColumnRenamed("__img", "old_image")
    val newSide = image(incoming, newImgCols.toSeq)
      .withColumnRenamed("__img", "new_image")
    def ord(img: Column) = struct(ordCols.map(c => img.getField(c)): _*)
    val newer = ord(col("new_image")) > ord(col("old_image"))
    val tied = ord(col("new_image")) === ord(col("old_image"))
    val wins = col("old_image").isNull || newer || tied
    // With soft deletes the non-noop cases refine by the LIVE transition:
    // a tombstone winner is a `delete` (whatever it replaced — aggregates
    // only retract a live old image), a live winner over a tombstone (or
    // nothing) is an `insert` (resurrection adds, retracts nothing), and
    // live-over-live stays `update`.
    val changeType = softDeleteCol match {
      case None =>
        when(col("old_image").isNull, lit("insert"))
          .when(newer || tied, lit("update"))
          .otherwise(lit("noop"))
      case Some(f) =>
        def dead(img: Column) = coalesce(img.getField(f), lit(false))
        when(!wins, lit("noop"))
          .when(dead(col("new_image")), lit("delete"))
          .when(col("old_image").isNull || dead(col("old_image")),
            lit("insert"))
          .otherwise(lit("update"))
    }
    newSide.join(oldSide, recordKeys.toSeq, "left")
      .withColumn("change_type", changeType)
      .select(recordKeys.map(col) :+ col("change_type") :+
        col("old_image") :+ col("new_image"): _*)
  }

  private def upsertPersisted(df: DataFrame, evolveSchema: Boolean,
      withChanges: Boolean): Option[DataFrame] = {
    val touched = merge.guard(df)
    // changelog for the degenerate paths: vs an empty "existing" side,
    // every batch winner is an insert (vacuously empty for empty batches)
    def bootstrapChanges(): Option[DataFrame] =
      if (!withChanges) None
      else {
        val inc = merge.prep(df)
        Some(changelog(inc.limit(0), inc).localCheckpoint(true))
      }

    if (touched.isEmpty) return bootstrapChanges() // empty batch
    if (!exists) { overwrite(df); return bootstrapChanges() }

    val incoming = merge.prep(df)

    // Read only the touched partition directories that already exist —
    // O(touched) FS calls, never a listing of the table root. `basePath`
    // keeps the five partition columns, and `mergeSchema` reconciles the
    // footers of exactly the files this merge rewrites: after an evolving
    // write, touched partitions may mix old- and new-schema files, and
    // one sampled footer would drop a column from the rows carried over.
    // Partition values are normalized to the zero-padded strings the
    // scheme is defined over after the read (a projection).
    val dirs = touched.map(t => ExternalCatalogUtils.generatePartitionPath(
      partCols.zip(t).toMap, partCols, new Path(path)))
      .filter(hadoopFs.exists)
    val touchedSide =
      if (dirs.isEmpty) None
      else Some(normalizeParts(spark.read.option("basePath", path)
        .option("mergeSchema", "true").parquet(dirs.map(_.toString): _*)))

    // Both column checks read the touched files' merged schema first. On
    // a mismatch — or when every touched partition is new — they confirm
    // against the table's full merged schema ([[read]], memoized per
    // commit), so a batch carrying a column that only untouched
    // partitions hold is neither rejected nor let past a type conflict.
    val tableSchema = touchedSide.map(_.schema)
      .filter(_.fieldNames.toSet == incoming.columns.toSet)
      .getOrElse(read().schema)
    val side = touchedSide.getOrElse(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), tableSchema))

    // Same-name-different-type is an error in BOTH modes: evolution adds
    // and omits columns, it never reinterprets one.
    val exTypes = tableSchema.map(f => f.name -> f.dataType).toMap
    val typeConflicts = incoming.schema
      .filter(f => exTypes.get(f.name).exists(_ != f.dataType))
      .map(f => s"${f.name}: table=${exTypes(f.name).sql} batch=${f.dataType.sql}")
    require(typeConflicts.isEmpty,
      s"KeyedLakeTable($path): column type changed between table and " +
        s"batch — ${typeConflicts.mkString("; ")}. Schema evolution " +
        "adds/omits columns; a type change needs an explicit migration.")
    val existing =
      if (evolveSchema) side
      else {
        val missing = tableSchema.fieldNames.toSet.diff(incoming.columns.toSet) ++
          incoming.columns.toSet.diff(tableSchema.fieldNames.toSet)
        require(missing.isEmpty,
          s"KeyedLakeTable($path): batch columns differ from the table's " +
            s"(${missing.mkString(", ")}) — pass evolveSchema=true if this " +
            "is a deliberate source schema change")
        // in the batch's column order; a touched file older than a column
        // the table gained elsewhere reads it as null, exactly as [[read]]
        // does
        side.select(incoming.schema.map(f =>
          if (side.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
      }

    val merged = merge.latestWins(existing, incoming,
      allowMissingColumns = evolveSchema)

    // The change feed must be computed (and materialized — it reads the
    // partitions the write below replaces) BEFORE the overwrite. The
    // existing side is deduped first: after [[upsertDeferred]] appends a
    // key holds MULTIPLE accumulated versions in the raw read, and
    // joining incoming against them would emit one change row per stale
    // version — downstream IncrementalAgg would retract every old image
    // and drift. On an eagerly-merged table the dedup finds one version
    // per key and passes rows through; its by-key window partitioning is
    // the same key the changelog join shuffles on.
    val changes =
      if (withChanges) Some(changelog(
        merge.dedup(existing),
        incoming).localCheckpoint(true))
      else None

    // The merged frame reads from `path`; truncate lineage before the
    // dynamic partition overwrite of the same path (Spark refuses a write
    // whose plan still scans the destination). Touched partitions are
    // bounded by the batch, so the checkpoint is batch-sized, not
    // table-sized.
    commitWrite(merged.localCheckpoint(true), Some(touched))
    changes
  }

  /** Footer-merged read: after a schema-evolving upsert, partitions the
    * evolving batch never touched still hold old-schema files, and a
    * sample-one-footer read would drop the new columns. `mergeSchema`
    * reconciles footers in a distributed job — O(files) metadata, no data
    * scan — but only on a memo miss: a warm read, and the read after an
    * upsert whose write-through refreshed the memo, re-use the resolved
    * frame (see `readMemo`). A miss follows an `overwrite`, an evolving
    * upsert, maintenance, another session's write, or the first read. */
  def read(): DataFrame =
    normalizeParts(rawRead())

  /** The LIVE rows of a soft-delete table: [[read]] minus tombstones —
    * what every analytic consumer queries. Tombstone rows stay in the
    * table (they are what stops an out-of-order older version from
    * resurrecting a deleted key); reclaiming them physically is a
    * retention decision, not a read-path one. */
  def readLive(): DataFrame = {
    val f = softDeleteCol.getOrElse(throw new IllegalStateException(
      s"KeyedLakeTable($path): readLive needs spec.softDeleteCol"))
    read().filter(!coalesce(col(f), lit(false)))
  }

  /** Hive-sync analog (`initial_load.py:168-174`): make the table queryable
    * through `spark.sql` for this session. */
  def registerAs(name: String): Unit = read().createOrReplaceTempView(name)

  /** Persistent hive-sync (`initial_load.py:168-174` + the Glue catalog it
    * writes through, `glue_catalog.py:86-97`): register this lake table as
    * an external catalog table so it survives the session — partition
    * pruning then resolves against catalog partitions, metadata-only. */
  def registerInCatalog(db: String, name: String): Unit =
    graft.catalog.LakeCatalog.registerParquet(spark, db, name, path, partCols)

  def exists: Boolean = {
    val p = new Path(path)
    val fs = hadoopFs
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }
}
