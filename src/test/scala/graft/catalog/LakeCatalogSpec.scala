package graft.catalog

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Catalog lifecycle vs `glue_catalog.py:1-107` semantics, and the property
  * the reference gets from Glue: table metadata outlives the session that
  * wrote it. */
class LakeCatalogSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("database/table lifecycle mirrors the glue catalog contract") {
    val db = "graft_cat_lifecycle"
    LakeCatalog.deleteDatabaseIfExists(spark, db)
    assert(LakeCatalog.getDatabase(spark, db).isEmpty)

    LakeCatalog.createDatabase(spark, db)
    LakeCatalog.createDatabase(spark, db) // idempotent, like create_glue_database
    assert(LakeCatalog.getDatabase(spark, db).isDefined)
    assert(LakeCatalog.getTable(spark, db, "t").isEmpty)

    val loc = tmpDir("cat-t")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(loc)
    LakeCatalog.registerParquet(spark, db, "t", loc)
    assert(LakeCatalog.getTable(spark, db, "t").isDefined)
    assert(LakeCatalog.readTable(spark, db, "t").count() === 2)

    // drop table: metadata gone, lake data untouched (external semantics)
    LakeCatalog.deleteTableIfExists(spark, db, "t")
    assert(LakeCatalog.getTable(spark, db, "t").isEmpty)
    assert(spark.read.parquet(loc).count() === 2)

    LakeCatalog.deleteDatabaseIfExists(spark, db)
    assert(LakeCatalog.getDatabase(spark, db).isEmpty)
  }

  test("a registered lake table survives into a fresh session and prunes partitions") {
    val db = "graft_cat_persist"
    LakeCatalog.deleteDatabaseIfExists(spark, db)
    val loc = tmpDir("cat-part")
    Seq((1L, "x", "2024", "01"), (2L, "y", "2024", "02"), (3L, "z", "2025", "01"))
      .toDF("id", "v", "create_year", "create_month")
      .write.partitionBy("create_year", "create_month")
      .mode("overwrite").parquet(loc)
    LakeCatalog.registerParquet(spark, db, "part_t", loc,
      partitionCols = Seq("create_year", "create_month"))

    // a brand-new session: empty temp-view state, SAME external catalog —
    // the table resolves because it lives in the metastore, not the session
    val fresh = spark.newSession()
    assert(fresh.catalog.listTables(db).count() === 1)
    val q = LakeCatalog.readTable(fresh, db, "part_t")
      .where(col("create_year") === "2024")
    assert(q.count() === 2)
    // catalog-partition pruning, not a full listing: 2025 never scanned
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"no partition filters in:\n$scan")

    // and the metastore itself is on disk inside the warehouse — the
    // durability a later JVM restores via LakeCatalog.sessionBuilder
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(warehouse, "_metastore")),
      s"no on-disk metastore under $warehouse")

    LakeCatalog.deleteDatabaseIfExists(spark, db)
  }

  test("registerParquet validates identifiers/location and re-registers via staged swap") {
    val db = "graft_cat_safe"
    LakeCatalog.deleteDatabaseIfExists(spark, db)
    val loc = tmpDir("cat-safe")
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(loc)
    // a quote would terminate the LOCATION literal early — reject, not mangle
    intercept[IllegalArgumentException] {
      LakeCatalog.registerParquet(spark, db, "t", loc + "'; DROP TABLE x --")
    }
    intercept[IllegalArgumentException] {
      LakeCatalog.registerParquet(spark, db, "bad`name", loc)
    }
    LakeCatalog.registerParquet(spark, db, "t", loc)
    // re-registration: new location wins, no staged leftover in the catalog
    val loc2 = tmpDir("cat-safe2")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(loc2)
    LakeCatalog.registerParquet(spark, db, "t", loc2)
    assert(LakeCatalog.readTable(spark, db, "t").count() === 3)
    // listTables(db) also lists the session's temporary views, which other
    // suites in the same test JVM register — only db's own tables count
    assert(spark.catalog.listTables(db).collect()
      .filterNot(_.isTemporary).map(_.name).toSet === Set("t"))
    // swap suffixes are reserved — a user table named that way would have
    // been silently dropped by the next re-registration (ADVICE r4)
    intercept[IllegalArgumentException] {
      LakeCatalog.registerParquet(spark, db, "t__staged", loc)
    }
    intercept[IllegalArgumentException] {
      LakeCatalog.registerParquet(spark, db, "t__retired", loc)
    }
    LakeCatalog.deleteDatabaseIfExists(spark, db)
  }

  test("KeyedLakeTable.registerInCatalog publishes the lake table persistently") {
    val db = "graft_cat_lake"
    LakeCatalog.deleteDatabaseIfExists(spark, db)
    val log = graft.oracle.Workload.generate(seed = 7, n = 100)
    val t = new graft.sink.KeyedLakeTable(spark, graft.sink.LakeTableSpec(
      path = tmpDir("cat-lake"), recordKeys = Seq("id"),
      precombine = "update_at", partitionSource = "create_at"))
    t.overwrite(log.txns.toDF())
    t.registerInCatalog(db, "txns")

    val fresh = spark.newSession()
    assert(fresh.table(s"`$db`.`txns`").count() ===
      graft.oracle.Workload.expectedTxnState(log).size)
    LakeCatalog.deleteDatabaseIfExists(spark, db)
  }
}
