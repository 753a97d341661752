package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.{KeyedLakeTable, LakeTableSpec}

/** Incrementally maintained equi-join VIEW — the join member of the
  * incremental-maintenance family (aggregates: [[IncrementalAgg]] /
  * [[SketchState]] / [[ExtremaState]] / [[QuantileState]] / [[TopKState]];
  * this maintains `fact ⋈ dim` itself): the materialized N:1 join of a
  * keyed fact table onto a keyed dimension, folded forward one change-feed
  * cycle at a time, never recomputed from scratch.
  *
  * State = two [[KeyedLakeTable]]s, both keyed by the FACT key:
  *   - the VIEW (fact columns + dim attributes; soft-deleted rows hidden
  *     from [[readLive]]), and
  *   - the ORPHAN buffer: live facts whose dimension row has not arrived
  *     yet (the CDC-pipeline reality — streams deliver source commit
  *     order, not the order referential integrity would like). An
  *     orphaned fact is invisible in the view (inner-join semantics) and
  *     PROMOTED the cycle its dimension lands.
  *
  * One [[applyCycle]] folds a fact change feed ([[KeyedLakeTable
  * .upsertChanges]] output) and a dim delta:
  *   - fact insert/update → joined against the CURRENT dim snapshot:
  *     matched rows enter the view, unmatched go to the orphan buffer and
  *     tombstone any stale view row (an update can RETARGET its foreign
  *     key to a dim that is missing);
  *   - fact delete → tombstones in both view and orphan buffer;
  *   - dim insert/update → waiting orphans with that key are promoted,
  *     and surviving view rows referencing it get their dim attributes
  *     refreshed in place. Dim deletes are out of scope (the reference's
  *     no-delete posture).
  *
  * Cost shape per cycle: O(|fact Δ| + |dim Δ| + touched view/orphan
  * rows). The dim snapshot is consumed only for `fk ∈ factΔ` (a semi-join
  * a stats/Bloom-indexed dim answers with pruned reads); the only
  * view-sized read is the refresh's `fk ∈ dimΔ` slice of the live view —
  * a semi-join AQE broadcasts when the delta measures small (no forced
  * hint, so a wide delta degrades to a shuffled join instead of blowing
  * the driver's broadcast limit) and that file-prunes when the view is
  * clustered on the foreign key. Nothing ever re-joins the full fact table. All
  * writes funnel into ONE view upsert and ONE orphan upsert per cycle
  * (the fact-side / promote / refresh batches are key-disjoint by
  * construction — fact-touched keys are excluded from the dim-side
  * branches, and a key is never live in both view and orphan buffer), so
  * the merge's touched-partition economics apply unchanged. A fact
  * verdict writes one view row for every non-noop key even when the key
  * was never visible (a tombstone insert) — membership would cost a view
  * lookup; an invisible dead row is cheaper and keeps the per-key
  * win-rule total.
  *
  * Write ordering inside a cycle uses a persisted CYCLE counter as the
  * view's precombine: a dim-driven refresh carries no newer fact
  * timestamp, so a fact-time precombine would drop it as stale; the
  * counter makes "written by a later cycle" the win rule. The counter
  * survives restarts in a `_cycle` file under the view path.
  *
  * Concurrency contract: ONE maintainer per view (the reference's
  * single-flight posture — its orchestrator refuses a new run until the
  * prior reaches a terminal state). applyCycle is not safe to run
  * concurrently against the same paths: the cycle counter and the two
  * upserts assume a single writer. Multi-writer tables are
  * [[graft.sink.VersionedLakeTable]]'s OCC territory.
  *
  * Exactness contract (q142): after any interleaving of fact and dim
  * batches, [[readLive]] equals latest-wins(facts, live) INNER JOIN
  * latest-wins(dims) recomputed from scratch — orphan promotion, fk
  * retargeting, delete propagation and resurrection included.
  */
final class JoinView(
    spark: SparkSession,
    viewPath: String,
    orphanPath: String,
    factKeys: Seq[String],
    fkCol: String,
    factPrecombine: String,
    partitionSource: String) {

  private val dead = "__dead"
  private val cycleCol = "__cycle"
  private val dimk = "__graft_dimk"

  private def table(path: String) = new KeyedLakeTable(spark, LakeTableSpec(
    path, recordKeys = factKeys, precombine = cycleCol,
    partitionSource = partitionSource, tieBreak = Seq(factPrecombine),
    softDeleteCol = Some(dead)))

  val view: KeyedLakeTable = table(viewPath)
  val orphans: KeyedLakeTable = table(orphanPath)

  // SIBLING of the view dir, not inside it: KeyedLakeTable.exists treats
  // any non-empty dir as a bootstrapped table
  private val cyclePath = java.nio.file.Paths.get(viewPath + "_cycle")
  private var cycle: Long =
    if (java.nio.file.Files.exists(cyclePath))
      java.nio.file.Files.readString(cyclePath).trim.toLong
    else 0L

  /** Live view rows — the maintained join (fact columns + dim attrs). */
  def readLive(): DataFrame = {
    val keep = view.read().columns
      .filterNot(Seq(dead, cycleCol).contains)
    view.readLive().select(keep.map(col): _*)
  }

  /** Outstanding facts waiting for their dimension row. */
  def readOrphans(): DataFrame = {
    val keep = orphans.read().columns
      .filterNot(Seq(dead, cycleCol).contains)
    orphans.readLive().select(keep.map(col): _*)
  }

  /** Fold one cycle. `factChanges`: the fact table's
    * [[KeyedLakeTable.upsertChanges]] feed for this batch (may be empty
    * on a dim-only cycle). `dimDelta`: the dim rows inserted/updated this
    * cycle — current winning images keyed by `dimKey` (may be empty on a
    * fact-only cycle). `dimSnap`: the CURRENT dim snapshot, after this
    * cycle's dim merge — pass an indexed/pruned read where available;
    * only `fk ∈ factΔ` rows are consumed. Dim attribute columns must not
    * collide with fact column names (rename the dim side first). */
  def applyCycle(factChanges: DataFrame, dimDelta: DataFrame,
      dimSnap: DataFrame, dimKey: String): Unit = {
    cycle += 1
    val c = cycle
    // Burn the cycle ordinal BEFORE any write, atomically (temp file +
    // ATOMIC_MOVE): a crash mid-cycle then restarts on a FRESH ordinal, so
    // the replay strictly outranks any partial write. Reusing the ordinal
    // would leave the tieBreak (factPrecombine), not the write order, to
    // pick between a partial write's row and the replay's row for the same
    // key. A torn counter file can no longer exist; a burned-but-unused
    // ordinal is harmless (the precombine only needs to be monotone, not
    // dense).
    persistCycle(c)
    val dsnap = dimSnap.withColumnRenamed(dimKey, dimk)
    val ddelta = dimDelta.withColumnRenamed(dimKey, dimk)
    val imageCols = factChanges.schema("new_image")
      .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq // the keys live OUTSIDE the images in the feed
    val rowCols = factKeys ++ imageCols.filterNot(factKeys.contains)
    val dimAttrs = dsnap.columns.filterNot(_ == dimk).toSeq
    val clash = dimAttrs.toSet.intersect(rowCols.toSet)
    require(clash.isEmpty,
      s"dim attribute columns collide with fact columns: $clash — rename " +
        "the dim side before maintaining a view")
    require(rowCols.contains(fkCol) && rowCols.contains(factPrecombine) &&
        rowCols.contains(partitionSource),
      s"fact images must carry $fkCol, $factPrecombine and $partitionSource")
    val nullDims = dsnap.schema.filter(_.name != dimk)
      .map(f => lit(null).cast(f.dataType).as(f.name))

    // ---- fact side: every non-noop key gets exactly one verdict
    val fd = factChanges.filter(col("change_type") =!= "noop")
      .select((factKeys.map(col) :+ col("change_type")) ++
        imageCols.filterNot(factKeys.contains)
          .map(f => col("new_image").getField(f).as(f)): _*)
      .localCheckpoint(true) // batch-bounded; feeds several branches
    // No forced broadcast hint: the semi-joined snapshot is bounded by the
    // fact delta's DISTINCT fk count, but a wide delta against a fat
    // dimension can still exceed the driver's broadcast limit — AQE
    // broadcasts when the pruned side measures small and falls back to a
    // shuffled join when it doesn't, instead of failing the cycle.
    val dimLookup = dsnap.join(
      fd.select(col(fkCol).as(dimk)).distinct(), Seq(dimk), "left_semi")
    val joined = fd.join(dimLookup, col(fkCol) === col(dimk), "left")
    val isDelete = col("change_type") === "delete"
    val hasDim = col(dimk).isNotNull
    val viewFactBatch = joined.select(
      rowCols.map(col) ++
        dimAttrs.zip(nullDims).map { case (a, nd) =>
          when(!isDelete && hasDim, col(a)).otherwise(nd).as(a) } :+
        (isDelete || !hasDim).as(dead) :+
        lit(c).as(cycleCol): _*)
    val orphanFactBatch = joined.select(
      rowCols.map(col) :+
        (isDelete || hasDim).as(dead) :+
        lit(c).as(cycleCol): _*)

    // ---- dim side: keys NOT touched by this cycle's fact delta. A
    // fact-only cycle (empty dim delta) skips these branches outright —
    // the common steady-state cycle pays no orphan/view scan for them.
    val hasDimDelta = !dimDelta.isEmpty
    def notFactTouched(df: DataFrame): DataFrame =
      df.join(fd.select(factKeys.map(col): _*), factKeys.toSeq, "left_anti")
    val promoted =
      if (!hasDimDelta || !orphans.exists) None
      else Some(notFactTouched(
          orphans.readLive().select(rowCols.map(col): _*))
        .join(ddelta, col(fkCol) === col(dimk)) // AQE broadcasts small deltas
        .localCheckpoint(true)) // one source, two writes (view + tombstone)
    val promoteView = promoted.map(_.select(
      rowCols.map(col) ++ dimAttrs.map(col) :+
        lit(false).as(dead) :+ lit(c).as(cycleCol): _*))
    val promoteOrphanGone = promoted.map(_.select(
      rowCols.map(col) :+ lit(true).as(dead) :+ lit(c).as(cycleCol): _*))
    val refresh =
      if (!hasDimDelta || !view.exists) None
      else Some(notFactTouched(
          view.readLive().select(rowCols.map(col): _*))
        .join(ddelta, col(fkCol) === col(dimk)) // AQE broadcasts small deltas
        .select(rowCols.map(col) ++ dimAttrs.map(col) :+
          lit(false).as(dead) :+ lit(c).as(cycleCol): _*))

    // ---- one upsert per table; batches are key-disjoint. An orphan
    // TOMBSTONE is only written for a key currently LIVE in the buffer:
    // most fact verdicts are matched rows that were never orphaned, and
    // writing their tombstones every cycle would both pay a pointless
    // merge and grow the buffer with keys that never belonged in it —
    // skipping is semantically a no-op (there is no live row to retract;
    // cycle ordering already stops an older live row from resurrecting).
    val orphanLiveKeys =
      if (!orphans.exists) None
      else Some(orphans.readLive().select(factKeys.map(col): _*))
    val orphanAdds = orphanFactBatch.filter(!col(dead))
    val orphanKills = orphanLiveKeys match {
      case Some(live) => orphanFactBatch.filter(col(dead))
        .join(live, factKeys.toSeq, "left_semi") // AQE broadcasts when small
      case None => orphanFactBatch.limit(0)
    }
    val viewBatch = (Seq(viewFactBatch) ++ promoteView ++ refresh)
      .reduce(_ unionByName _)
    if (!viewBatch.isEmpty) view.upsert(viewBatch)
    val orphanBatch = (Seq(orphanAdds, orphanKills) ++ promoteOrphanGone)
      .reduce(_ unionByName _)
    if (!orphanBatch.isEmpty) orphans.upsert(orphanBatch)
  }

  private def persistCycle(c: Long): Unit = {
    val tmp = cyclePath.resolveSibling(cyclePath.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, c.toString)
    java.nio.file.Files.move(tmp, cyclePath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
