package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalog.{Database, Table}
import org.apache.spark.sql.types.StructType

/** Persistent lake catalog — the engine's analog of the reference's Glue
  * data catalog (`rds_to_datalake/glue_catalog.py:1-107`): named databases
  * holding named tables that point at lake directories, with metadata that
  * OUTLIVES any session or process.
  *
  * Spark-first design: Glue is an external metadata store consulted at plan
  * time; Spark's equivalent is the session's *external catalog*. Tables are
  * registered as EXTERNAL datasource-parquet tables (`CREATE TABLE … USING
  * PARQUET … LOCATION …`) so that, exactly like Glue,
  *   - dropping a table deletes metadata only, never lake data
  *     (`glue_catalog.py:48-57`), and
  *   - the scan path keeps full Catalyst pushdown: partition pruning runs
  *     against catalog partitions, filters/column pruning reach the parquet
  *     reader.
  * Durability comes from the metastore the session is built over —
  * [[sessionBuilder]] wires the bundled Hive metastore with an on-disk
  * Derby database inside the warehouse directory, so a new JVM pointed at
  * the same warehouse sees every database/table (the `local` analog of a
  * shared Glue/Hive metastore service; on a real cluster the same code runs
  * against the shared metastore or Glue Data Catalog via
  * `spark.sql.catalogImplementation=hive`).
  *
  * All operations are expressed through `spark.catalog` / ANSI DDL, so they
  * also work (session-scoped) on an in-memory-catalog session — callers opt
  * into persistence purely by how they build the session.
  */
object LakeCatalog {

  /** Session factory over a persistent warehouse: catalog metadata lands in
    * `<warehouseDir>/_metastore` (Derby), managed tables in the warehouse.
    * Re-building a session on the same warehouse dir — in this process or
    * a later one — restores the full catalog. */
  def sessionBuilder(warehouseDir: String): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouseDir/_metastore;create=true")
      .config("spark.sql.catalogImplementation", "hive")
      .enableHiveSupport()

  // -------------------------------------------------------------- database

  /** `get_glue_database` (`glue_catalog.py:6-23`): details or None. */
  def getDatabase(spark: SparkSession, db: String): Option[Database] =
    if (spark.catalog.databaseExists(db)) Some(spark.catalog.getDatabase(db))
    else None

  /** `create_glue_database` (`glue_catalog.py:86-97`): idempotent create. */
  def createDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** `delete_glue_database_if_exists` (`glue_catalog.py:77-83`). Glue's
    * delete removes the database with its table metadata (never data);
    * CASCADE + external tables reproduce both halves. */
  def deleteDatabaseIfExists(spark: SparkSession, db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")

  // ----------------------------------------------------------------- table

  /** `get_glue_table` (`glue_catalog.py:26-45`): details or None. */
  def getTable(spark: SparkSession, db: String, table: String): Option[Table] =
    if (spark.catalog.tableExists(s"`$db`.`$table`"))
      Some(spark.catalog.getTable(s"`$db`.`$table`"))
    else None

  /** `delete_glue_table_if_exists` (`glue_catalog.py:60-66`): metadata
    * only — the EXTERNAL location is untouched. */
  def deleteTableIfExists(spark: SparkSession, db: String, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")

  /** Identifiers are emitted inside backticks and the location inside a
    * single-quoted SQL string literal; rather than invent an escaping
    * scheme, reject the characters that could terminate either early
    * (ADVICE r3 — an unescaped quote in `location` breaks the DDL). */
  private def validated(kind: String, value: String, illegal: Seq[Char]): String = {
    require(value.nonEmpty, s"LakeCatalog: empty $kind")
    illegal.filter(value.contains(_)) match {
      case Seq() => value
      case bad => throw new IllegalArgumentException(
        s"LakeCatalog: $kind '$value' contains unsupported character(s) " +
          bad.map(c => s"'$c'").mkString(", "))
    }
  }
  private def ident(kind: String, value: String): String =
    validated(kind, value, Seq('`', '\'', '\n', '\r', ';'))
  private def loc(value: String): String =
    validated("location", value, Seq('\'', '\\', '\n', '\r'))

  /** Register a lake directory as an external table — the catalog half of
    * the reference's hive-sync on write (`initial_load.py:168-174`: Hudi's
    * `hive_sync` creates/updates the Glue table for the lake path).
    *
    * The data schema is read from the parquet footers once at registration;
    * partition columns are declared STRING (the lake's partition scheme is
    * zero-padded strings — see `KeyedMerge.normalizeParts`), and
    * `recoverPartitions` imports the existing directory tree into catalog
    * partitions so partition pruning is metadata-only from then on.
    *
    * Re-registration builds the replacement under a staged name first —
    * schema inference and partition recovery (the slow, failure-prone
    * steps) complete before the old table is touched, so concurrent
    * readers only race metadata renames, not a full rebuild (plain
    * `CREATE OR REPLACE` needs a v2 catalog; the session catalog is v1).
    * The swap itself is retire-then-promote (ADVICE r4 — the old
    * drop+rename left NO table behind if the rename failed after the
    * drop): the current table is renamed aside, the staged one promoted,
    * and only then is the retired one dropped; a failed promotion rolls
    * the retired table back, so at every step either the old or the new
    * table is queryable under `table`. The `__staged`/`__retired`
    * suffixes are reserved — user tables named that way are rejected
    * rather than silently clobbered. */
  def registerParquet(spark: SparkSession, db: String, table: String,
      location: String, partitionCols: Seq[String] = Nil): Unit = {
    ident("database", db); ident("table", table); loc(location)
    partitionCols.foreach(ident("partition column", _))
    require(!table.endsWith("__staged") && !table.endsWith("__retired"),
      s"LakeCatalog: table name '$table' uses a reserved swap suffix " +
        "(__staged/__retired)")
    createDatabase(spark, db)
    val staged = s"${table}__staged"
    val retired = s"${table}__retired"
    deleteTableIfExists(spark, db, staged)
    deleteTableIfExists(spark, db, retired)
    val full = spark.read.parquet(location).schema
    val dataCols = StructType(
      full.filterNot(f => partitionCols.contains(f.name)))
    val partDdl =
      if (partitionCols.isEmpty) ""
      else partitionCols.map(c => s"`$c` STRING")
        .mkString("PARTITIONED BY (", ", ", ")")
    spark.sql(
      s"""CREATE TABLE `$db`.`$staged` (${dataCols.toDDL})
         |USING PARQUET
         |$partDdl
         |LOCATION '$location'""".stripMargin)
    if (partitionCols.nonEmpty)
      spark.catalog.recoverPartitions(s"`$db`.`$staged`")
    val hadOld = spark.catalog.tableExists(s"`$db`.`$table`")
    if (hadOld)
      spark.sql(s"ALTER TABLE `$db`.`$table` RENAME TO `$db`.`$retired`")
    try spark.sql(s"ALTER TABLE `$db`.`$staged` RENAME TO `$db`.`$table`")
    catch {
      case e: Throwable =>
        val oldState =
          if (!hadOld) "no previous table existed"
          else try {
            spark.sql(s"ALTER TABLE `$db`.`$retired` RENAME TO `$db`.`$table`")
            "previous table restored"
          } catch {
            case rollback: Throwable =>
              e.addSuppressed(rollback)
              s"previous table stranded at `$db`.`$retired`"
          }
        throw new IllegalStateException(
          s"LakeCatalog: promoting `$db`.`$staged` to `$db`.`$table` " +
            s"failed ($oldState; replacement metadata left at " +
            s"`$db`.`$staged` for recovery)", e)
    }
    deleteTableIfExists(spark, db, retired)
  }

  /** Convenience read-back through the catalog (plan-time pruning against
    * catalog partitions, not a fresh file listing). */
  def readTable(spark: SparkSession, db: String, table: String): DataFrame =
    spark.table(s"`$db`.`$table`")
}
