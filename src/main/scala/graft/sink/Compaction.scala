package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** What a maintenance pass did to a partitioned parquet table. */
final case class CompactionReport(
    partitionsScanned: Int,
    partitionsCompacted: Int,
    filesBefore: Long,
    filesAfter: Long,
    bytesCompacted: Long)

final case class RetentionReport(
    partitionsScanned: Int,
    partitionsDropped: Int,
    bytesDropped: Long)

/** Lake-table maintenance: small-file compaction and partition retention.
  *
  * A continuously upserted CDC table (reference flow:
  * `glue_jobs/incremental.py` run every few minutes — each run rewrites the
  * touched partitions) accretes files: every micro-batch drops at least one
  * file into every partition it touches, and at 100 TB the dominant read
  * cost becomes file-open overhead, not bytes. Table formats ship a
  * compactor for exactly this reason; this is the pure-Spark equivalent for
  * [[KeyedLakeTable]]'s directory layout (or any Hive-style partitioned
  * parquet dir).
  *
  * Scale shape:
  *   - The candidate scan is METADATA ONLY — a recursive listing, no data
  *     read. Driver memory is O(partitions) for the stats map (a few dozen
  *     bytes each; ~10⁷ partitions fits comfortably). Past that, point the
  *     listing at a partition subtree and compact incrementally — the API
  *     takes the table root but recurses per directory, so sharding by
  *     year/month prefix is a caller-side loop.
  *   - The rewrite reads ONLY partitions whose file count exceeds their
  *     byte-justified target (`ceil(bytes / targetBytes)`), shuffles once
  *     to cluster rows per output file, and rewrites those partitions via
  *     dynamic partition overwrite — cost is O(compacted bytes), never
  *     O(table).
  *   - Partition VALUES are carried as the raw directory strings (partition
  *     type inference is disabled for the maintenance read), so the
  *     rewritten directories are byte-identical names — `create_minute=04`
  *     never degrades to `create_minute=4` regardless of session settings.
  *
  * Durability note: dynamic partition overwrite swaps each partition
  * directory non-atomically (delete + move). A reader racing the swap can
  * see a partition mid-rewrite — same contract as [[KeyedLakeTable.upsert]];
  * run maintenance from the single writer the upsert contract already
  * requires.
  */
object Compaction {

  private val log = LoggerFactory.getLogger(getClass)

  private final case class Leaf(dir: Path, files: Long, bytes: Long)

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Leaf partition directories exactly `depth` levels below `root`,
    * with their data-file count and byte size. Hidden/metadata entries
    * (`_SUCCESS`, `.crc`) are ignored at every level. */
  private def leafStats(fs: FileSystem, root: Path, depth: Int): Seq[Leaf] = {
    def visible(p: Path): Boolean = {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (depth == 0) {
      val files = fs.listStatus(root).filter(s => s.isFile && visible(s.getPath))
      Seq(Leaf(root, files.length.toLong, files.map(_.getLen).sum))
    } else
      fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && visible(s.getPath))
        .flatMap(s => leafStats(fs, s.getPath, depth - 1))
  }

  /** Files under `path` changed: bump the [[KeyedLakeTable]] commit marker
    * so memoized reads of the table re-list instead of scanning rewritten
    * or deleted files. Only a table that already carries a marker is
    * memoized; a marker-less one (a landing zone, a foreign writer's
    * table) is left without one, so it keeps listing on every read. */
  private def invalidateReads(fs: FileSystem, path: String): Unit =
    if (fs.exists(KeyedLakeTable.commitMarker(path)))
      KeyedLakeTable.bumpCommit(fs, path)

  /** Per-file target: `ceil(bytes / targetBytes)` bounded below by 1.
    * A partition is a candidate iff it holds MORE files than its bytes
    * justify — compaction only ever reduces file count. */
  private def targetFiles(bytes: Long, targetBytes: Long): Long =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes)

  /** Compact every partition of `path` whose file count exceeds
    * `ceil(partitionBytes / targetBytes)` down to exactly that count.
    * Returns what was done; a table already compact is a metadata-only
    * no-op (zero Spark jobs). */
  def compact(spark: SparkSession, path: String, partCols: Seq[String],
      targetBytes: Long = 128L << 20): CompactionReport = {
    require(partCols.nonEmpty,
      "compact: unpartitioned tables have no partition-scoped rewrite — " +
        "rewrite the table wholesale instead")
    require(targetBytes > 0, s"compact: targetBytes must be > 0, got $targetBytes")
    val fs = fileSystem(spark, path)
    val leaves = leafStats(fs, new Path(path), partCols.length)
      .filter(_.files > 0)
    val candidates = leaves.filter(l => l.files > targetFiles(l.bytes, targetBytes))
    if (candidates.isEmpty)
      return CompactionReport(leaves.length, 0, leaves.map(_.files).sum,
        leaves.map(_.files).sum, 0L)

    log.info(s"compact($path): ${candidates.length} of ${leaves.length} " +
      s"partitions over target (${candidates.map(_.files).sum} files, " +
      s"${candidates.map(_.bytes).sum} bytes)")

    // Maintenance read: raw-string partition values + basePath so the five
    // partition columns come back exactly as their directory names.
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prevInfer = spark.conf.getOption(inferKey)
    spark.conf.set(inferKey, "false")
    val data =
      try spark.read.option("basePath", path)
        .parquet(candidates.map(_.dir.toString): _*)
      finally prevInfer match {
        case Some(v) => spark.conf.set(inferKey, v)
        case None => spark.conf.unset(inferKey)
      }

    // Per-partition output-file count, broadcast-joined on the partition
    // tuple; rows then cluster by (partition, slice) so each partition
    // lands in exactly `__n` files. The slice hash covers the data columns
    // (partition cols are constant within a leaf and would collapse every
    // row into slice 0).
    val dataCols = data.columns.filterNot(partCols.contains)
    val targets = spark.createDataFrame(
      candidates.map(l => {
        // dir path …/create_year=2024/…/create_minute=04 → the five values
        val vals = l.dir.toString.split('/').takeRight(partCols.length)
          .map(_.split("=", 2)(1))
        org.apache.spark.sql.Row.fromSeq(
          vals.toSeq :+ targetFiles(l.bytes, targetBytes))
      }).asJava,
      org.apache.spark.sql.types.StructType(
        partCols.map(c => org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.StringType)) :+
          org.apache.spark.sql.types.StructField(
            "__n", org.apache.spark.sql.types.LongType)))

    val sliceHash =
      if (dataCols.isEmpty) lit(0L) // partition-cols-only table: one file
      else xxhash64(dataCols.map(col).toSeq: _*)
    val sliced = data
      .join(broadcast(targets), partCols.toSeq)
      .withColumn("__slice", pmod(sliceHash, col("__n")))
      .drop("__n")

    // Same rewrite mechanics as the upsert: break lineage off the
    // destination, cluster, dynamic-overwrite only the touched partitions.
    val materialized = sliced
      .repartition((partCols :+ "__slice").map(col): _*)
      .drop("__slice")
      .localCheckpoint(true)

    materialized.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)
    invalidateReads(fs, path)

    val after = leafStats(fs, new Path(path), partCols.length)
      .filter(_.files > 0)
    CompactionReport(
      partitionsScanned = leaves.length,
      partitionsCompacted = candidates.length,
      filesBefore = leaves.map(_.files).sum,
      filesAfter = after.map(_.files).sum,
      bytesCompacted = candidates.map(_.bytes).sum)
  }

  /** Drop every partition whose value tuple sorts strictly BELOW `cutoff`
    * (lexicographic over the zero-padded directory strings — the partition
    * scheme zero-pads precisely so that lexicographic = chronological).
    * `cutoff` lists one value per partition column, in `partCols` order;
    * fewer values than columns compare on the given prefix (e.g.
    * `Seq("2024", "02")` drops everything before February 2024).
    *
    * Metadata-only: directory deletes, no data read, no Spark job. Empty
    * ancestor directories are removed so the listing stays clean. */
  def expireBefore(spark: SparkSession, path: String, partCols: Seq[String],
      cutoff: Seq[String]): RetentionReport = {
    require(partCols.nonEmpty, "expireBefore: table must be partitioned")
    require(cutoff.nonEmpty && cutoff.length <= partCols.length,
      s"expireBefore: cutoff must list 1..${partCols.length} values, " +
        s"got ${cutoff.length}")
    val fs = fileSystem(spark, path)
    val root = new Path(path)
    val leaves = leafStats(fs, root, partCols.length)
    val dropped = leaves.filter { l =>
      val vals = l.dir.toString.split('/').takeRight(partCols.length)
        .map(_.split("=", 2)(1)).toSeq
      // Seq[String] compares lexicographically element-wise
      import scala.math.Ordering.Implicits._
      vals.take(cutoff.length) < cutoff
    }
    dropped.foreach(l => fs.delete(l.dir, true))
    // prune now-empty ancestors up to (not including) the root
    dropped.foreach { l =>
      var p = l.dir.getParent
      while (p != null && p != root && fs.exists(p) &&
          fs.listStatus(p).isEmpty) {
        fs.delete(p, false)
        p = p.getParent
      }
    }
    if (dropped.nonEmpty) {
      invalidateReads(fs, path)
      log.info(s"expireBefore($path): dropped ${dropped.length} partitions " +
        s"(${dropped.map(_.bytes).sum} bytes) before ${cutoff.mkString("/")}")
    }
    RetentionReport(leaves.length, dropped.length, dropped.map(_.bytes).sum)
  }

  private implicit class SeqAsJava[A](s: Seq[A]) {
    def asJava: java.util.List[A] = {
      val l = new java.util.ArrayList[A](s.length)
      s.foreach(l.add)
      l
    }
  }
}
