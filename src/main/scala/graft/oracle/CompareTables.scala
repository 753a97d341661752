package graft.oracle

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.LakeOps

/** Source-vs-lake equality oracle — the reference's continuous correctness
  * proof (`rds_to_datalake/compare.py:52-88`): equal counts, then row-level
  * equality, reporting the first few diffs.
  *
  * Spark-first shape: instead of the reference's driver-side sorted zip
  * (O(table) rows through the driver), the diff is one distributed
  * aggregation. Both sides are tagged with a per-side count, unioned and
  * grouped by every column, so each distinct row carries its multiplicity
  * on the left (`cl`) and on the right (`cr`); one global aggregate over
  * those groups yields both counts and both excesses. That is the group-by
  * Spark's own `RewriteExceptAll` runs inside every `exceptAll`, so the
  * counts match `exceptAll` exactly — duplicates count by multiplicity and
  * nulls group with nulls — but each side is scanned and shuffled once,
  * not once per `count` and `exceptAll`. No driver materialization beyond
  * the sample, which only an unequal compare collects.
  */
object CompareTables {

  final case class Diff(
      leftCount: Long, rightCount: Long,
      onlyLeftCount: Long, onlyRightCount: Long,
      sampleOnlyLeft: Seq[Row], sampleOnlyRight: Seq[Row]) {
    def isEqual: Boolean =
      leftCount == rightCount && onlyLeftCount == 0 && onlyRightCount == 0
  }

  // per-side multiplicity columns
  private val Cl = "__graft_cl"
  private val Cr = "__graft_cr"

  /** Normalized compare: drops partition + meta columns from both sides
    * (`compare.py:38-48`), aligns column order by name, then diffs the
    * two row multisets. Both sides must have the same columns after
    * normalization (names compared as the session resolves them): a column
    * on only one side is an `IllegalArgumentException`, never silently
    * dropped. Runs one Spark action when the sides are equal; an unequal
    * compare runs one more, which collects at most `sample` rows per side,
    * each excess row repeated by its multiplicity. */
  def compare(left: DataFrame, right: DataFrame, sample: Int = 10): Diff = {
    val l = LakeOps.normalizeForCompare(left)
    val r = LakeOps.normalizeForCompare(right)
    requireSameColumns(l.columns.toSeq, r.columns.toSeq,
      l.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean)
    // by name, quoted: the right side resolves the left's names itself
    val cols = l.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`"))
    def tag(df: DataFrame, inL: Long, inR: Long) =
      df.select(cols :+ lit(inL).as(Cl) :+ lit(inR).as(Cr): _*)
    val counts = tag(l, 1L, 0L).unionAll(tag(r, 0L, 1L))
      .groupBy(cols: _*).agg(sum(Cl).as(Cl), sum(Cr).as(Cr))
    val excessL = greatest(col(Cl) - col(Cr), lit(0L))
    val excessR = greatest(col(Cr) - col(Cl), lit(0L))
    def total(c: Column) = coalesce(sum(c), lit(0L))
    val t = counts.agg(total(col(Cl)), total(col(Cr)), total(excessL),
      total(excessR)).head()
    val (onlyL, onlyR) = (t.getLong(2), t.getLong(3))

    // One more action, only when a side has excess rows: up to `sample`
    // distinct excess rows per side, each with its capped multiplicity.
    val got =
      if (sample <= 0 || onlyL + onlyR == 0) Seq.empty[Row]
      else {
        def rows(excess: Column, side: Int) =
          counts.where(excess > 0)
            .select(struct(cols: _*), lit(side), least(excess, lit(sample.toLong)))
            .limit(sample)
        rows(excessL, 0).unionAll(rows(excessR, 1)).collect().toSeq
      }
    def sampled(side: Int) = got.filter(_.getInt(1) == side)
      .flatMap(g => Seq.fill(g.getLong(2).toInt)(g.getStruct(0)))
      .take(sample)
    Diff(t.getLong(0), t.getLong(1), onlyL, onlyR, sampled(0), sampled(1))
  }

  /** Both normalized sides must carry the same column set; names compare
    * case-insensitively unless the session is case-sensitive. */
  private def requireSameColumns(left: Seq[String], right: Seq[String],
      caseSensitive: Boolean): Unit = {
    def key(c: String) = if (caseSensitive) c else c.toLowerCase(Locale.ROOT)
    val (lk, rk) = (left.map(key).toSet, right.map(key).toSet)
    val onlyL = left.filterNot(c => rk(key(c)))
    val onlyR = right.filterNot(c => lk(key(c)))
    if (onlyL.nonEmpty || onlyR.nonEmpty)
      throw new IllegalArgumentException(
        "CompareTables.compare: the sides have different columns after " +
          s"normalization; only left: ${onlyL.mkString("[", ", ", "]")}, " +
          s"only right: ${onlyR.mkString("[", ", ", "]")}")
  }

  /** J3 — file-list reconciliation: set-diff of expected vs processed file
    * URIs (the reference's sorted-zip pipeline audit, `temp.py:25-46`).
    * Driver-side: these are file LISTS, bounded by file count. */
  final case class FileListDiff(missing: Seq[String], unexpected: Seq[String]) {
    def isReconciled: Boolean = missing.isEmpty && unexpected.isEmpty
  }

  def reconcileFileLists(expected: Seq[String], processed: Seq[String]): FileListDiff =
    FileListDiff(
      missing = (expected.toSet -- processed.toSet).toSeq.sorted,
      unexpected = (processed.toSet -- expected.toSet).toSeq.sorted)
}
