package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.LakeOps

/** The batch side of the keyed merge, shared by [[KeyedLakeTable]] and
  * [[VersionedLakeTable]] — the reference's one merge rule, Hudi's
  * precombine upsert (`incremental.py:216-243`): per record key the
  * greatest `(precombine, tieBreak)` version wins, and a full tie goes to
  * the incoming row. What happens to the merged rows — a dynamic partition
  * overwrite under a commit marker, or a staged version dir claimed into a
  * manifest log — stays with each table.
  *
  * @param owner the owning table's class name, which leads every error
  */
private[sink] final class KeyedMerge(spec: LakeTableSpec, owner: String) {
  import spec._
  import KeyedMerge.partCols

  /** Batch prep shared by every write mode: reject null partition sources
    * (a null would otherwise silently shunt rows into the Hive default
    * partition and break the pruned merge), drop Op, derive partitions,
    * in-batch latest-wins dedup (W1 before the sink, like the reference). */
  def prep(df: DataFrame): DataFrame = {
    softDeleteCol.foreach { f =>
      require(df.columns.contains(f),
        s"$owner($path): softDeleteCol '$f' missing from batch — " +
          "every batch of a soft-delete table must carry the tombstone flag")
      require(df.schema(f).dataType ==
          org.apache.spark.sql.types.BooleanType,
        s"$owner($path): softDeleteCol '$f' must be boolean, got " +
          df.schema(f).dataType.sql)
    }
    val guarded0 = nullChecked(df)
    // a null tombstone flag means "live" — normalize so the merged table
    // and the change feed never carry a three-valued delete flag
    val guarded = softDeleteCol.fold(guarded0)(f =>
      guarded0.withColumn(f, coalesce(col(f), lit(false))))
    dedup(LakeOps.derivePartitionColumns(LakeOps.dropOp(guarded), partitionSource))
  }

  /** One row per key: the greatest `(precombine, tieBreak)` version. A
    * table read through it yields the merged state of accumulated
    * (merge-on-read) versions. */
  def dedup(df: DataFrame): DataFrame =
    LakeOps.latestWinsDedup(df, recordKeys, precombine,
      tieBreak.map(c => col(c).desc))

  /** `df` whose first row with a null partition source fails the action
    * that evaluates it. */
  private def nullChecked(df: DataFrame): DataFrame =
    df.withColumn(partitionSource,
      coalesce(col(partitionSource), raise_error(lit(
        s"$owner($path): null $partitionSource in batch — the " +
          "partition source column is mandatory (db_orm.py audit-column contract)"))))

  /** The ONE guard action over a batch, shared by every write mode:
    *  - an empty batch is a legitimate no-op (CDC extractors emit empty
    *    files) and must not reach the write paths — an "overwrite" of
    *    nothing would leave a part-less directory whose later reads fail
    *    schema inference, a permanently poisoned table path: returns Nil;
    *  - a null partition source fails the action (see [[nullChecked]]);
    *  - the pruned merge is only correct if a key's partitionSource never
    *    changes (`README.rst:124`). Enforce the half that is checkable at
    *    batch cost — two versions of one key with different partition
    *    values in the SAME batch — including for the bootstrap batch, so a
    *    violating key is rejected where it first enters the table, and
    *    name the smallest such key in the error. (A cross-batch violation
    *    cannot be detected without a by-key table scan; it remains a
    *    documented contract.)
    *
    * Otherwise returns the distinct partition tuples (`partCols` order)
    * the batch touches. Per key, `min`/`max` of the partition source
    * differ exactly when the key has two values; one global aggregate
    * then yields the smallest violating key and the tuples of the per-key
    * partition sources — one exchange on the key and one to a single
    * partition, both batch-sized. */
  def guard(df: DataFrame): Seq[Seq[String]] = {
    val keyCols = recordKeys.map(col)
    val perKey = nullChecked(df).groupBy(keyCols: _*)
      .agg(min(col(partitionSource)).as(partitionSource),
        max(col(partitionSource)).as("__hi"))
    val g = LakeOps.derivePartitionColumns(perKey, partitionSource)
      .agg(min(when(col(partitionSource) =!= col("__hi"), struct(keyCols: _*))),
        collect_set(struct(partCols.map(col): _*)))
      .head()
    if (!g.isNullAt(0)) {
      val offender = g.getStruct(0)
      val named = recordKeys.zipWithIndex
        .map { case (k, i) => s"$k=${offender.get(i)}" }.mkString(", ")
      throw new IllegalArgumentException(
        s"$owner($path): record key ($named) has multiple " +
          s"$partitionSource values in one batch — the partition source " +
          "must be immutable per key")
    }
    g.getSeq[org.apache.spark.sql.Row](1)
      .map(t => partCols.indices.map(t.getString))
  }

  /** The merge itself: `existing` (rows of the touched partitions) and the
    * prepped `incoming` batch resolved per key, latest wins. A
    * source-priority column `__src` ranks last, so with no configured
    * tieBreak equal precombine values resolve for the incoming row (Hudi
    * precombine tie behavior). With a tieBreak, the tieBreak is the total
    * order — it must rank ABOVE __src, or equal-precombine versions of a
    * key split across batches would resolve by arrival order and the merge
    * result would depend on batching (ADVICE r2: batch-split invariance).
    * `allowMissingColumns` null-fills a column only one side carries (an
    * evolving write). */
  def latestWins(existing: DataFrame, incoming: DataFrame,
      allowMissingColumns: Boolean): DataFrame = {
    val srcTie =
      if (tieBreak.isEmpty) Seq(col("__src").desc)
      else tieBreak.map(c => col(c).desc) :+ col("__src").desc
    LakeOps.latestWinsDedup(
      existing.withColumn("__src", lit(0))
        .unionByName(incoming.withColumn("__src", lit(1)), allowMissingColumns),
      recordKeys, precombine, srcTie).drop("__src")
  }
}

private[sink] object KeyedMerge {
  val partCols: Seq[String] = LakeOps.partitionCols

  /** `f` over `df` persisted for its duration. A batch feeds at least two
    * actions (the guard, which also collects the touched partitions, and
    * the merge's write), so the batch SOURCE — possibly a remote
    * decompress-heavy read — is scanned once, not once per action;
    * batches are bounded, so the cache is batch-sized. */
  def persisted[T](df: DataFrame)(f: DataFrame => T): T = {
    val batch = df.persist(StorageLevel.MEMORY_AND_DISK)
    try f(batch)
    finally batch.unpersist(false)
  }

  /** Normalize partition columns to the zero-padded strings the partition
    * scheme is defined over. Spark's partition type inference would read
    * `create_minute=04` back as int 4, and a merge would then write a
    * *second* `create_minute=4` directory for the same logical partition —
    * normalizing makes the table's schema independent of the session's
    * `partitionColumnTypeInference` setting. */
  def normalizeParts(df: DataFrame): DataFrame = {
    val widths = Map("create_year" -> 4).withDefaultValue(2)
    partCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, lpad(col(c).cast("string"), widths(c), "0"))
    }
  }
}
