package graft.sources

import java.time.LocalDateTime

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.model.TimeCodec

/** S3/P8/W5 — the checkpointed incremental file planner: key-range listing
  * over a time-keyed CDC file tree (`YYYY/MM/DD/HH/YYYYMMDD-HHMMSSfff
  * .parquet`, names = commit-time upper bounds).
  *
  * This is the engine's file-level predicate pushdown
  * (`incremental_load_orchestration.py:129-161`; naming contract
  * `DMS.rst:31-57`): because directory layout and file names encode commit
  * time, planning a batch never touches data files — it walks only the
  * existing directories overlapping `(after, after + maxInterval]`, applies
  * three filename predicates, and takes the first N. At 100 TB the
  * planner's cost is O(existing directories in the window + files taken),
  * independent of table size AND of the configured interval length.
  */
object CdcFileSource {

  final case class Todo(files: Seq[String], endUntil: Option[LocalDateTime]) {
    def isEmpty: Boolean = files.isEmpty
  }

  /** The file path encoding a commit-time upper bound (the naming contract
    * this planner's pushdown relies on). */
  def cdcFilePath(tableRoot: String, upperBound: LocalDateTime): String =
    s"$tableRoot/${TimeCodec.datetimeToS3Key(upperBound)}.parquet"

  /** List the next batch of CDC files for one table.
    *
    * Predicates (P8, mirroring `incremental_load_orchestration.py:143-149`
    * and `initial_load.py:100`):
    *  1. data files only (`.parquet`, not `LOAD*` full-load files);
    *  2. strictly after the checkpoint (`start_after = last + 1ms`);
    *  3. within `maxInterval` of the checkpoint (batch time-bound).
    * Then take the first `maxFiles` in key order (W5) — the next checkpoint
    * is the last taken file's encoded time. */
  def listTodo(
      conf: Configuration,
      tableRoot: String,
      after: LocalDateTime,
      maxFiles: Int,
      maxIntervalSeconds: Long): Todo = {
    val until = after.plusSeconds(maxIntervalSeconds)
    val root = new Path(tableRoot)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Todo(Nil, None)

    // Range-pruned sorted walk of the existing tree, bounded by BOTH window
    // ends — never an fs.exists probe per hour of the configured interval
    // (ADVICE r2: a reference-scale ~999-year max interval would have made
    // one empty call do millions of probes). Cost is O(directories that
    // exist inside the window) and the lazy take(maxFiles) stops the walk
    // as soon as the batch is full.
    val eligible = walkEligible(fs, root, after, Some(until))
      .take(maxFiles)
      .toSeq

    if (eligible.nonEmpty)
      Todo(eligible.map(_._2), eligible.lastOption.map(_._1))
    else walkEligible(fs, root, after, None).nextOption().map(_._1) match {
      case Some(next) if next.isAfter(until) =>
        // The window is genuinely empty but the stream has progressed past
        // it: advance the checkpoint (the reference advances by
        // max_incremental_interval on an empty listing). Without this, any
        // idle gap longer than maxInterval stalls the table forever; only
        // advancing when a LATER file exists keeps late writes safe. Since
        // the next file's time is already known, cross the whole gap in ONE
        // interval-aligned step — k intervals with the next file inside
        // (checkpoint, checkpoint+maxInterval] — instead of one empty
        // planner run (plan file, tracker write, directory walk) per
        // interval of idle time.
        val gapSeconds = java.time.Duration.between(after, next).getSeconds
        val k = math.max(1L, (gapSeconds - 1) / maxIntervalSeconds)
        Todo(Nil, Some(after.plusSeconds(k * maxIntervalSeconds)))
      case _ => Todo(Nil, None)
    }
  }

  /** Eligible CDC files in `(after, until]` in key order, as a LAZY
    * iterator over a range-pruned lexicographic walk (year→month→day→hour):
    * a directory is descended only if its zero-padded path prefix can still
    * contain a key inside the window, and leaf listings stream so a
    * downstream `take(n)` stops the walk early. `until = None` leaves the
    * window open above: the empty-window path takes the first file after
    * `after` at O(directories on the frontier path). */
  private def walkEligible(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      after: LocalDateTime, until: Option[LocalDateTime]): Iterator[(LocalDateTime, String)] = {
    val afterKey = TimeCodec.datetimeToS3Key(after)
    val untilKey = until.map(TimeCodec.datetimeToS3Key)
    def walk(dir: Path, depth: Int, prefix: String): Iterator[(LocalDateTime, String)] =
      if (depth == 4)
        fs.listStatus(dir).iterator.filter(_.isFile)
          .map(_.getPath.toString)
          .filter(_.endsWith(".parquet"))
          .filterNot(p => p.substring(p.lastIndexOf('/') + 1).startsWith("LOAD"))
          .flatMap(p => scala.util.Try(TimeCodec.filenameToDatetime(p)).toOption
            .filter(d => d.isAfter(after) && !until.exists(d.isAfter))
            .map(d => (d, p)))
          .toSeq.sortBy(_._2).iterator // key order == chronological order
      else {
        val lo = afterKey.split('/').take(depth + 1).mkString("/")
        val hi = untilKey.map(_.split('/').take(depth + 1).mkString("/"))
        fs.listStatus(dir).toSeq.filter(_.isDirectory)
          .sortBy(_.getPath.getName).iterator
          .map(c => (c.getPath,
            s"$prefix${if (prefix.isEmpty) "" else "/"}${c.getPath.getName}"))
          .filter { case (_, p) =>
            p >= lo.take(p.length) && hi.forall(h => p <= h.take(p.length)) }
          .flatMap { case (d, p) => walk(d, depth + 1, p) }
      }
    walk(root, 0, "")
  }
}
