package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The analyst SQL surface over registered lake tables — the in-process
  * analog of the reference's Athena layer (`rds_to_datalake/athena.py:67-86`,
  * `vendor/aws_athena.py:50-55`). Catalyst provides the full SELECT surface
  * (joins, windows, CTEs, grouping sets); these helpers are the specific
  * operations the reference's code issues.
  */
object QueryEngine {

  /** Catalog registration (hive-sync analog, `initial_load.py:168-174`). */
  def registerCorpus(spark: SparkSession, dir: String): Unit =
    Tables.registerAll(spark, dir)

  /** Arbitrary SQL → DataFrame (S8: the reference round-trips Athena result
    * CSVs; in-process Spark returns the frame directly). */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)

  /** `SELECT * FROM t LIMIT n` (`athena.py:74-77`). */
  def preview(spark: SparkSession, table: String, n: Int = 10): DataFrame =
    spark.sql(s"SELECT * FROM $table LIMIT $n")

  /** `SELECT COUNT(*) as n_rows FROM t` (`athena.py:81-86`). */
  def countRows(spark: SparkSession, table: String): DataFrame =
    spark.sql(s"SELECT COUNT(*) AS n_rows FROM $table")

  /** K5 — `UNLOAD (sql) TO path WITH (format='parquet')`
    * (`vendor/aws_athena.py:50-55`). */
  def unload(spark: SparkSession, query: String, path: String): Unit =
    spark.sql(query).write.mode("overwrite").parquet(path)

  /** K6 — CSV result sink (`athena.py:78`). */
  def unloadCsv(spark: SparkSession, query: String, path: String): Unit =
    spark.sql(query).coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** Persist a table bucketed (+ sorted) on its join key. Two tables
    * bucketed the same way join with NO shuffle on either side — the
    * pre-partitioning technique for repeated fact⋈fact joins at scale
    * (SURVEY §4): pay one layout shuffle at write time, join exchange-free
    * forever after. The explicit repartition IS that one shuffle: without
    * it each input task writes its own slice of every bucket (N input
    * partitions × K buckets small files), and a reader can no longer
    * treat a bucket's rows as sorted — one file per bucket keeps the
    * bucket's sort usable and the file count O(buckets), which is also
    * the layout that keeps 100 TB bucket reads sequential instead of a
    * many-small-files seek storm (measured: the multi-file layout cost
    * q94's sort-merge join an extra ~0.5 s of per-task re-sort at ×100
    * bench scale — BENCH_COMPARE.md round 10, the q94 decomposition). */
  def saveBucketed(df: org.apache.spark.sql.DataFrame, table: String,
      bucketCol: String, nBuckets: Int): Unit =
    df.repartition(nBuckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
