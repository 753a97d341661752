package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM, built with the
  * engine's own defaults ([[GraftSession.configure]]). Static confs (the
  * catalog implementation, the codegen cache size) are fixed by the first
  * session a JVM builds, so no suite may build its own. */
object TestSpark {
  lazy val spark: SparkSession = {
    // LakeCatalog.sessionBuilder wiring (persistent Derby-backed Hive
    // metastore in the warehouse dir) so LakeCatalogSpec can prove catalog
    // persistence; every other suite is metastore-agnostic.
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = GraftSession.configure(
      graft.catalog.LakeCatalog.sessionBuilder(warehouse).master("local[4]"), 4)
      .appName("graft-test")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
