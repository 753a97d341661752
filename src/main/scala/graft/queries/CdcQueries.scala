package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.LakeOps
import graft.oracle.CompareTables
import graft.sink.{KeyedLakeTable, LakeTableSpec}
import graft.sql.QueryEngine

/** CORRECTNESS entries for the CDC-lake operator family (SURVEY.md §2),
  * exercised over the driver corpus's `events` table (event_id, ts[ns],
  * user_id, event_type, value, props).
  *
  * Timestamp convention: the corpus stores nanosecond parquet timestamps.
  * Spark reads them as long nanos (`nanosAsLong`), DuckDB truncates to
  * microseconds on read — so every derived time value is computed at
  * microsecond precision on both sides (`ts div 1000` ↔ `epoch_us(ts)`).
  */
object CdcQueries {

  private val isoFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** events + µs-precision helper columns.
    *
    * The corpus has stored `ts` under two physical types across driver
    * vintages: INT64(TIMESTAMP(NANOS)) — surfaced as a long under
    * `nanosAsLong`, µs = `ts div 1000` — and plain µs parquet timestamps
    * (surfaced as TIMESTAMP_NTZ, or TIMESTAMP if marked UTC-adjusted).
    * Dispatch on the READ schema so every vintage yields identical µs
    * longs; the NTZ cast is wall-clock-preserving because every graft
    * session pins `spark.sql.session.timeZone=UTC`. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val tsUs = raw.schema("ts").dataType match {
      case LongType => expr("ts div 1000") // ns-as-long vintage
      case TimestampNTZType => unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts")) // instant-typed µs vintage
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("update_at", date_format(timestamp_micros(col("ts_us")), isoFmt))
  }

  /** The events table viewed as a CDC stream of keyed full-row images:
    * record key = user, precombine = event-time ISO string, and a synthetic
    * per-key `create_at` (constant across all versions of a key — the
    * reference's invariant, `README.rst:124`) bounded to ≤56 distinct
    * partitions at any scale factor. */
  private def cdcView(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      concat(lit("user-"), lpad(col("user_id").cast("string"), 6, "0")).as("id"),
      concat(lit("2024-01-"),
        lpad((pmod(col("user_id"), lit(7)) + 1).cast("string"), 2, "0"), lit(" "),
        lpad(pmod(col("user_id"), lit(4)).cast("string"), 2, "0"), lit(":"),
        lpad(pmod(col("user_id"), lit(2)).cast("string"), 2, "0"),
        lit(":00.000000")).as("create_at"),
      col("update_at"), col("event_type"), col("value"), col("props"),
      col("event_id"), col("ts_us"))

  private val cdcViewSql =
    """SELECT 'user-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS id,
      |       '2024-01-' || lpad(CAST(user_id % 7 + 1 AS VARCHAR), 2, '0') || ' ' ||
      |         lpad(CAST(user_id % 4 AS VARCHAR), 2, '0') || ':' ||
      |         lpad(CAST(user_id % 2 AS VARCHAR), 2, '0') || ':00.000000' AS create_at,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS update_at,
      |       event_type, value, props, event_id
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- q20
  /** K1/K2/J1/U1 — the engine core: bootstrap the lake from one third of the
    * CDC log, then merge the other two thirds in as upsert batches; the
    * result must equal global latest-wins over the whole log. */
  def q20CdcMerge(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val path = Files.createTempDirectory("graft_q20_lake").toString
    val table = new KeyedLakeTable(s, LakeTableSpec(
      path, recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    table.overwrite(cdc.filter(bucket === 0))
    table.upsert(cdc.filter(bucket === 1))
    table.upsert(cdc.filter(bucket === 2))
    table.read().select(
      col("id"), col("create_year"), col("create_month"), col("create_day"),
      col("create_hour"), col("create_minute"), col("update_at"),
      col("event_type"), col("value"), col("props"), col("event_id"))
      .orderBy("id")
  }

  val q20CdcMergeSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value, props, event_id
      |FROM ranked WHERE rn = 1
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q21
  /** W1 — the signature latest-wins dedup, directly on the event stream. */
  def q21LatestWins(s: SparkSession, dir: String): DataFrame =
    LakeOps.latestWinsDedup(events(s, dir), Seq("user_id"), "ts_us",
      tieBreak = Seq(col("event_id").desc))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts_us"))
      .orderBy("user_id")

  val q21LatestWinsSql: String =
    """SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q22
  /** P1 — 5-column partition derivation with the exact substring positions. */
  def q22PartitionDerive(s: SparkSession, dir: String): DataFrame = {
    val withIso = events(s, dir).withColumn("create_at", col("update_at"))
    LakeOps.derivePartitionColumns(withIso)
      .select(col("event_id"), col("create_year"), col("create_month"),
        col("create_day"), col("create_hour"), col("create_minute"))
      .orderBy("event_id")
  }

  val q22PartitionDeriveSql: String =
    """SELECT event_id,
      |  substring(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), 1, 4) AS create_year,
      |  substring(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), 6, 2) AS create_month,
      |  substring(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), 9, 2) AS create_day,
      |  substring(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), 12, 2) AS create_hour,
      |  substring(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), 15, 2) AS create_minute
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q23
  /** P2/P9 — helper/meta/partition column stripping round-trip: adding the
    * engine columns then normalizing must restore the original row image. */
  def q23DropNormalize(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir).select(
      col("event_id"), col("ts_us"), col("user_id"), col("event_type"),
      col("value"), col("props"))
    val decorated = LakeOps.derivePartitionColumns(
      base.withColumn("Op", lit("U"))
        .withColumn("create_at", date_format(timestamp_micros(col("ts_us")), isoFmt)))
      .withColumn("_hoodie_commit_time", lit("20240101000000"))
    LakeOps.normalizeForCompare(LakeOps.dropOp(decorated))
      .drop("create_at")
      .orderBy("event_id")
  }

  val q23DropNormalizeSql: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q24
  /** P3 — REMOVE-event filtering (deletes out of scope in the reference). */
  def q24EventFilter(s: SparkSession, dir: String): DataFrame = {
    val withOp = events(s, dir).withColumn("Op",
      when(pmod(col("event_id"), lit(10)) === 0, "REMOVE")
        .when(pmod(col("event_id"), lit(10)) < 5, "INSERT")
        .otherwise("MODIFY"))
    LakeOps.filterRemoves(withOp)
      .groupBy(col("Op"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("total_value"))
      .orderBy("Op")
  }

  val q24EventFilterSql: String =
    """SELECT Op, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM (
      |  SELECT *, CASE WHEN event_id % 10 = 0 THEN 'REMOVE'
      |                 WHEN event_id % 10 < 5 THEN 'INSERT'
      |                 ELSE 'MODIFY' END AS Op
      |  FROM events)
      |WHERE Op <> 'REMOVE'
      |GROUP BY Op
      |ORDER BY Op""".stripMargin

  // ---------------------------------------------------------------- q25
  /** P5 — synthetic composite key (`s1_data_ingest.py:97` id format). */
  def q25SyntheticKey(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("event_id"),
      concat(lit("user-"), lpad(col("user_id").cast("string"), 6, "0"),
        lit("="), col("update_at")).as("id"))
      .orderBy("event_id")

  val q25SyntheticKeySql: String =
    """SELECT event_id,
      |  'user-' || lpad(CAST(user_id AS VARCHAR), 6, '0') || '=' ||
      |    strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS id
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q26
  /** P4 — tagged-attribute extraction: JSON props → typed column. */
  def q26PropsExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("user_id"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n_events"))
      .orderBy("user_id")

  val q26PropsExtractSql: String =
    """SELECT user_id,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(*) AS n_events
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q27
  /** S8/§2.7 — the spark.sql surface over registered tables, with SQL that
    * is valid verbatim in both engines. */
  private val sharedSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  def q27SqlSurface(s: SparkSession, dir: String): DataFrame = {
    QueryEngine.registerCorpus(s, dir)
    QueryEngine.sql(s, sharedSql)
  }

  val q27SqlSurfaceSql: String = sharedSql

  // ---------------------------------------------------------------- q28
  /** A2 — COUNT(*) through the catalog (`athena.py:81-86`). */
  def q28CountRows(s: SparkSession, dir: String): DataFrame = {
    QueryEngine.registerCorpus(s, dir)
    QueryEngine.countRows(s, "events")
  }

  val q28CountRowsSql: String = "SELECT COUNT(*) AS n_rows FROM events"

  // ---------------------------------------------------------------- q29
  /** S1/S3/P8/W5/§2.8 — the full incremental pipeline end-to-end: write the
    * CDC stream as a time-keyed file tree (LOAD snapshot + 48h-bucket
    * files), then let the checkpointed orchestrator replay it in bounded
    * batches through the merge sink. Must equal global latest-wins — the
    * same oracle as q20, reached through the planner/orchestrator path. */
  def q29IncrementalReplay(s: SparkSession, dir: String): DataFrame = {
    import graft.orchestrate.CdcOrchestrator
    import graft.sources.{CdcTreeWriter, SnapshotSource}
    val cdc = cdcView(s, dir)
    val root = Files.createTempDirectory("graft_q29_cdc").toString
    val tableRoot = s"$root/events"
    val bounds = cdc.agg(min(col("ts_us")), max(col("ts_us"))).head()
    val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 4
    CdcTreeWriter.writeLoadFile(s, cdc.filter(col("ts_us") <= cut), tableRoot)
    CdcTreeWriter.write(s, cdc.filter(col("ts_us") > cut), tableRoot,
      "ts_us", bucketUs = 48L * 3600L * 1000000L)
    val lake = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q29_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    lake.overwrite(SnapshotSource.read(s, SnapshotSource.listLoadFiles(
      s.sparkContext.hadoopConfiguration, tableRoot)))
    val orch = new CdcOrchestrator(s, root, s"$root/_plans",
      s"$root/_tracker.json", Seq("events"),
      maxFiles = 2, maxIntervalSeconds = 5L * 24 * 3600,
      execute = (_, df) => lake.upsert(df))
    orch.seed("events", graft.model.TimeCodec.fromMicros(cut))
    orch.runUntilCaughtUp()
    lake.read().select(
      col("id"), col("create_year"), col("create_month"), col("create_day"),
      col("create_hour"), col("create_minute"), col("update_at"),
      col("event_type"), col("value"), col("props"), col("event_id"))
      .orderBy("id")
  }

  /** Same result contract as the direct merge — the orchestrated path must
    * land on the identical table. */
  val q29IncrementalReplaySql: String = q20CdcMergeSql

  // ---------------------------------------------------------------- q30
  /** S7/§2.8 — streaming ingest: the CDC stream consumed as Structured
    * Streaming micro-batches (bounded by maxFilesPerTrigger) through
    * foreachBatch upsert. Same latest-wins contract as q20 — micro-batch
    * boundaries must not change the final table. */
  def q30StreamingIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.CdcStreamIngest
    val cdc = cdcView(s, dir)
    val srcDir = Files.createTempDirectory("graft_q30_src").toString
    cdc.repartition(6).write.mode("overwrite").parquet(srcDir)
    val lake = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q30_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val stream = CdcStreamIngest.fileStream(s, srcDir, cdc.schema,
      maxFilesPerTrigger = 2)
    CdcStreamIngest.toLakeTable(stream, lake,
      Files.createTempDirectory("graft_q30_ckpt").toString)
    lake.read().select(
      col("id"), col("create_year"), col("create_month"), col("create_day"),
      col("create_hour"), col("create_minute"), col("update_at"),
      col("event_type"), col("value"), col("props"), col("event_id"))
      .orderBy("id")
  }

  val q30StreamingIngestSql: String = q20CdcMergeSql

  // ---------------------------------------------------------------- q31
  /** S4 — JDBC source/sink round-trip through embedded Derby: write the
    * stream to a relational table, read it back as a partitioned JDBC scan. */
  def q31JdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.JdbcTableSource
    val ev = events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("ts_us"))
    val url = JdbcTableSource.derbyUrl(
      Files.createTempDirectory("graft_q31").toString + "/db")
    JdbcTableSource.write(ev, url, "events_rt")
    val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
    JdbcTableSource.read(s, url, "events_rt",
      partitionOn = Some(("event_id", 0L, maxId + 1, 8)))
      .orderBy("event_id")
  }

  val q31JdbcRoundtripSql: String =
    """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q33
  /** S5/P4/K4 — snapshot-export ingest: write the stream as an
    * attribute-tagged gzip JSON-lines export, read it back through the
    * manifest-style scan and flatten the tags into typed columns. */
  def q33ExportIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DynamoExportSource
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val ev = events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"))
    val outDir = Files.createTempDirectory("graft_q33_export").toString
    DynamoExportSource.writeCompacted(ev,
      Seq("event_id", "user_id", "event_type", "value"), outDir)
    val gzFiles = new java.io.File(outDir).listFiles()
      .map(_.getPath).filter(_.endsWith(".gz")).toSeq
    DynamoExportSource.readExport(s, gzFiles, Seq(
      ("event_id", "S", LongType), ("user_id", "S", LongType),
      ("event_type", "S", StringType), ("value", "S", DoubleType)))
      .orderBy("event_id")
  }

  val q33ExportIngestSql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q34
  /** A2/A3 — per-source row counts across the whole corpus catalog (the
    * reference's per-file/manifest count checks, `athena.py:81-86`,
    * `vendor/aws_dynamodb_export_to_s3.py:339-345`). */
  def q34TableCounts(s: SparkSession, dir: String): DataFrame = {
    Tables.names.map { t =>
      // constant aggregate, NOT groupBy on a literal: an empty table must
      // still yield one row with n_rows=0, like the oracle's COUNT(*)
      Tables.load(s, dir, t).agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows"))
    }.reduce(_ unionByName _).orderBy("table_name")
  }

  val q34TableCountsSql: String =
    Tables.names.map(t => s"SELECT '$t' AS table_name, COUNT(*) AS n_rows FROM $t")
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  // ---------------------------------------------------------------- q35
  /** A4/W5 — fixed-size chunking: deterministic 100-row batches over a
    * total order (the coordinator's grouper_list fan-out,
    * `…post_processor_coordinator.py:22-41`). */
  def q35Chunking(s: SparkSession, dir: String): DataFrame =
    chunkStats(chunked(events(s, dir), "event_id", 100))

  /** Scalable global row numbering: range-repartition on the order key (so
    * partition i's keys all precede partition i+1's), sort within
    * partitions, then `zipWithIndex` — which runs one lightweight per-
    * partition count job and assigns offsets with NO single-task global
    * window (the r2 plan had `Window.orderBy` with no partitionBy: the
    * whole corpus through one core at scale). */
  def chunked(df: DataFrame, orderCol: String, chunkRows: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val sorted = df.select(col(orderCol))
      .repartitionByRange(col(orderCol))
      .sortWithinPartitions(orderCol)
    sorted.as[Long].rdd.zipWithIndex()
      .toDF(orderCol, "__rn")
      .withColumn("chunk", (col("__rn") / lit(chunkRows)).cast("long"))
      .drop("__rn")
  }

  private def chunkStats(df: DataFrame): DataFrame =
    df.groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("first_id"), max(col("event_id")).as("last_id"))
      .orderBy("chunk")

  val q35ChunkingSql: String =
    """SELECT chunk, COUNT(*) AS n_rows,
      |  MIN(event_id) AS first_id, MAX(event_id) AS last_id
      |FROM (
      |  SELECT event_id,
      |    (row_number() OVER (ORDER BY event_id) - 1) // 100 AS chunk
      |  FROM events)
      |GROUP BY chunk
      |ORDER BY chunk""".stripMargin

  // ---------------------------------------------------------------- q36
  /** K5 — UNLOAD: materialize a SQL result to parquet, read it back. */
  def q36Unload(s: SparkSession, dir: String): DataFrame = {
    QueryEngine.registerCorpus(s, dir)
    val out = Files.createTempDirectory("graft_q36_unload").toString + "/result"
    QueryEngine.unload(s,
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id""".stripMargin, out)
    s.read.parquet(out).orderBy("user_id")
  }

  val q36UnloadSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Gap-based sessionization over the event stream: a new session starts
    * after a >30-minute silence per user (lag + running sum — the classic
    * two-window shape; one shuffle on the user key, both windows share it). */
  def q38Sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val withStart = events(s, dir)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1)
          .otherwise(0))
    val withId = withStart.withColumn("session_id",
      sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withId.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  val q38SessionizeSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), ids AS (
      |  SELECT user_id, ts_us,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM marked
      |)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MAX(ts_us) - MIN(ts_us) AS duration_us
      |FROM ids
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q37
  /** §2.7 depth — CTE + window + join through the SQL surface. The oracle
    * text ranks with a bare global window; the Spark text computes the same
    * top-5 via `ORDER BY … LIMIT 5` first (TakeOrderedAndProject — each
    * partition keeps its local top-5, only those merge) and then numbers
    * the ≤5 survivors, so no single-partition exchange of the full
    * per-user aggregate exists in the plan at any scale. */
  private val cteSql =
    """WITH user_totals AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |    COUNT(*) AS n_events
      |  FROM events
      |  GROUP BY user_id
      |), ranked AS (
      |  SELECT user_id, total_value, n_events,
      |    row_number() OVER (ORDER BY total_value DESC, user_id) AS rnk
      |  FROM user_totals
      |)
      |SELECT r.rnk, r.user_id, r.total_value, r.n_events, e.event_type
      |FROM ranked r
      |JOIN events e ON e.user_id = r.user_id
      |WHERE r.rnk <= 5
      |GROUP BY r.rnk, r.user_id, r.total_value, r.n_events, e.event_type
      |ORDER BY r.rnk, e.event_type""".stripMargin

  /** Scale-safe Spark form of [[cteSql]] — identical result set. The rank
    * of a top-5 survivor is its position in the (total_value DESC, user_id)
    * order, computed as a correlated count over the 5-row relation (a tiny
    * Catalyst-rewritten join), so the plan contains no WindowExec at all. */
  private val cteSparkSql =
    """WITH user_totals AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |    COUNT(*) AS n_events
      |  FROM events
      |  GROUP BY user_id
      |), top5 AS (
      |  SELECT user_id, total_value, n_events
      |  FROM user_totals
      |  ORDER BY total_value DESC, user_id
      |  LIMIT 5
      |), ranked AS (
      |  SELECT a.user_id, a.total_value, a.n_events,
      |    (SELECT COUNT(*) FROM top5 b
      |     WHERE b.total_value > a.total_value
      |        OR (b.total_value = a.total_value AND b.user_id <= a.user_id)
      |    ) AS rnk
      |  FROM top5 a
      |)
      |SELECT r.rnk, r.user_id, r.total_value, r.n_events, e.event_type
      |FROM ranked r
      |JOIN events e ON e.user_id = r.user_id
      |WHERE r.rnk <= 5
      |GROUP BY r.rnk, r.user_id, r.total_value, r.n_events, e.event_type
      |ORDER BY r.rnk, e.event_type""".stripMargin

  def q37SqlCte(s: SparkSession, dir: String): DataFrame = {
    QueryEngine.registerCorpus(s, dir)
    QueryEngine.sql(s, cteSparkSql)
  }

  val q37SqlCteSql: String = cteSql

  // ---------------------------------------------------------------- q57
  /** S6 — manifest scan end-to-end: derive a per-export-file manifest from
    * the stream (one compacted data file per event type), write
    * `manifest-files.json` + `manifest-summary.json` in the export layout
    * (`vendor/aws_dynamodb_export_to_s3.py:319-375`), read both back
    * through the manifest scanners, and cross-check summary vs files. */
  def q57Manifest(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DynamoExportSource
    import s.implicits._
    val files = events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("itemCount"))
      .select(
        concat(lit("data/"), col("event_type"), lit(".json.gz")).as("dataFileS3Key"),
        col("itemCount"),
        md5(concat(col("event_type"), lit(":"),
          col("itemCount").cast("string")).cast("binary")).as("md5Checksum"))
    val root = Files.createTempDirectory("graft_q57_manifest").toString
    files.coalesce(1).write.mode("overwrite").json(s"$root/files")
    val total = files.agg(sum(col("itemCount"))).head().getLong(0)
    Seq(("2024-01-01T00:00:00Z", total, "DYNAMODB_JSON"))
      .toDF("exportTime", "itemCount", "outputFormat")
      .coalesce(1).write.mode("overwrite").json(s"$root/summary")

    val summary = DynamoExportSource.readManifestSummary(s, s"$root/summary")
    val fileList = DynamoExportSource.readManifestFiles(s, s"$root/files")
    require(summary.itemCount == fileList.map(_.itemCount).sum,
      s"manifest summary count ${summary.itemCount} != file-list total")
    fileList.toDF()
      .select(col("dataFileS3Key"), col("itemCount"), col("md5Checksum"))
      .orderBy("dataFileS3Key")
  }

  val q57ManifestSql: String =
    """SELECT 'data/' || event_type || '.json.gz' AS dataFileS3Key,
      |  COUNT(*) AS itemCount,
      |  md5(event_type || ':' || COUNT(*)) AS md5Checksum
      |FROM events
      |GROUP BY event_type
      |ORDER BY dataFileS3Key""".stripMargin

  // ---------------------------------------------------------------- q58
  /** K3/P6/A1 — the streaming JSON landing sink end-to-end: stream the
    * events through `toPartitionedJson` (derive 5 event-time partition
    * columns, group rows by partition, append JSON-lines per partition —
    * `dynamodb_stream_consumer.py:61-90`), then read the landing tree back
    * and aggregate per partition. Event time is remapped to a bounded
    * synthetic clock (≤32 minutes) — the corpus's real timestamps are
    * nearly unique per row, which would land one row per directory; the
    * derive/write/read-back mechanics are identical (q22 oracles the
    * real-timestamp derivation). */
  def q58JsonLanding(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.CdcStreamIngest
    val ev = events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      to_timestamp(concat(lit("2024-01-01 "),
        lpad(pmod(col("user_id"), lit(4)).cast("string"), 2, "0"), lit(":"),
        lpad(pmod(col("user_id"), lit(8)).cast("string"), 2, "0"),
        lit(":00"))).as("landing_ts"))
    val srcDir = Files.createTempDirectory("graft_q58_src").toString
    ev.repartition(4).write.mode("overwrite").parquet(srcDir)
    val outDir = Files.createTempDirectory("graft_q58_out").toString
    CdcStreamIngest.toPartitionedJson(
      CdcStreamIngest.fileStream(s, srcDir, ev.schema, maxFilesPerTrigger = 2),
      "landing_ts", outDir,
      Files.createTempDirectory("graft_q58_ckpt").toString)

    // read the landing tree back; partition values come from directory
    // names (inference may widen "04"→4, so re-normalize to the scheme's
    // zero-padded strings before grouping)
    val widths = Map("create_year" -> 4).withDefaultValue(2)
    val back = LakeOps.partitionCols.foldLeft(s.read.json(outDir)) { (d, c) =>
      d.withColumn(c, lpad(col(c).cast("string"), widths(c), "0"))
    }
    back.groupBy(LakeOps.partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_id"))
      .orderBy(LakeOps.partitionCols.map(col): _*)
  }

  val q58JsonLandingSql: String =
    """SELECT '2024' AS create_year, '01' AS create_month, '01' AS create_day,
      |  lpad(CAST(user_id % 4 AS VARCHAR), 2, '0') AS create_hour,
      |  lpad(CAST(user_id % 8 AS VARCHAR), 2, '0') AS create_minute,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(event_id) AS BIGINT) AS sum_id
      |FROM events
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  // ---------------------------------------------------------------- q59
  /** W4/K6 — preview + CSV result sink round-trip (`athena.py:74-78`): the
    * preview LIMIT path must produce rows, and a deterministic result must
    * survive the CSV write/read unchanged (doubles round-trip losslessly
    * through Java's shortest-repr formatting). */
  def q59PreviewCsv(s: SparkSession, dir: String): DataFrame = {
    QueryEngine.registerCorpus(s, dir)
    val preview = QueryEngine.preview(s, "events", n = 10)
    require(preview.count() == 10, "preview must return exactly LIMIT rows")
    val out = Files.createTempDirectory("graft_q59_csv").toString + "/result"
    QueryEngine.unloadCsv(s,
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id LIMIT 100""".stripMargin, out)
    s.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .option("header", "true").csv(out)
      .orderBy("event_id")
  }

  val q59PreviewCsvSql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events ORDER BY event_id LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q60
  /** J3 — file-list reconciliation as a diff frame (`temp.py:25-46`): the
    * expected per-hour CDC file list against a processed list missing every
    * fifth hour and containing one foreign file. */
  def q60Reconcile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val expected = events(s, dir)
      .select(concat(lit("file-"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd-HH"),
        lit(".json")).as("uri"))
      .distinct().as[String].collect().toSeq
    val processed = expected.filterNot(u =>
      u.substring(16, 18).toInt % 5 == 0) :+ "s3://external/extra-file.json"
    val diff = CompareTables.reconcileFileLists(expected, processed)
    (diff.missing.map(("missing", _)) ++ diff.unexpected.map(("unexpected", _)))
      .toDF("status", "uri")
      .orderBy("status", "uri")
  }

  val q60ReconcileSql: String =
    """WITH expected AS (
      |  SELECT DISTINCT 'file-' || strftime(ts, '%Y-%m-%d-%H') || '.json' AS uri
      |  FROM events)
      |SELECT * FROM (
      |  SELECT 'missing' AS status, uri FROM expected
      |  WHERE CAST(substring(uri, 17, 2) AS INT) % 5 = 0
      |  UNION ALL
      |  SELECT 'unexpected' AS status, 's3://external/extra-file.json' AS uri)
      |ORDER BY status, uri""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Catalog round-trip (`glue_catalog.py:1-107` + hive-sync
    * `initial_load.py:168-174`): land the stream partitioned by event type,
    * register the directory as an external catalog table, and answer a
    * partition-filtered aggregate THROUGH the catalog (`spark.table`), so
    * the scan prunes on catalog partitions. On a metastore-backed session
    * ([[graft.catalog.LakeCatalog.sessionBuilder]]) the registration
    * outlives the process — persistence itself is proven in
    * LakeCatalogSpec. */
  def q63CatalogRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.catalog.LakeCatalog
    val loc = Files.createTempDirectory("graft_q63_catalog").toString
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.partitionBy("event_type").mode("overwrite").parquet(loc)
    LakeCatalog.registerParquet(s, "graft_lake", "events_by_type", loc,
      partitionCols = Seq("event_type"))
    LakeCatalog.readTable(s, "graft_lake", "events_by_type")
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))).cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q63CatalogRoundtripSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE event_type IN ('click', 'purchase')
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q32
  /** J2/A5 — the source-vs-lake equality oracle as a diff-count query:
    * compare the stream against a copy with 1% of values perturbed.
    * `CompareTables.compare` gets all four counts from one grouped
    * aggregation; the oracle SQL below spells the same counts as the
    * two `EXCEPT ALL`s they equal. */
  def q32CompareDiff(s: SparkSession, dir: String): DataFrame = {
    val left = events(s, dir).select(col("event_id"), col("user_id"), col("value"))
    val right = events(s, dir).select(col("event_id"), col("user_id"),
      when(pmod(col("event_id"), lit(100)) === 0, col("value") + 1)
        .otherwise(col("value")).as("value"))
    val diff = CompareTables.compare(left, right)
    import s.implicits._
    Seq((diff.leftCount, diff.rightCount, diff.onlyLeftCount, diff.onlyRightCount))
      .toDF("n_left", "n_right", "only_left", "only_right")
  }

  val q32CompareDiffSql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM events) AS n_left,
      |  (SELECT COUNT(*) FROM events) AS n_right,
      |  (SELECT COUNT(*) FROM (
      |     SELECT event_id, user_id, value FROM events
      |     EXCEPT ALL
      |     SELECT event_id, user_id,
      |       CASE WHEN event_id % 100 = 0 THEN value + 1 ELSE value END AS value
      |     FROM events)) AS only_left,
      |  (SELECT COUNT(*) FROM (
      |     SELECT event_id, user_id,
      |       CASE WHEN event_id % 100 = 0 THEN value + 1 ELSE value END AS value
      |     FROM events
      |     EXCEPT ALL
      |     SELECT event_id, user_id, value FROM events)) AS only_right""".stripMargin

  // ------------------------------------------------------------ q66/q67
  /** W1 stress pair — the skew evidence for the 100 TB merge claim. Both
    * run the SAME salted latest-wins dedup over the SAME lineitem row
    * count; they differ only in key distribution: q66 funnels every
    * even-orderkey row (~50% of the batch) into ONE hot key — the hot
    * entity a naive per-key window would serialize through a single task —
    * while q67 keeps the natural ~uniform keys. The pair's bench times
    * are the recorded claim: the salted two-phase dedup keeps the hot
    * batch within ~2× of the uniform one (phase 1 spreads the hot key
    * over 16 salt buckets, phase 2 resolves 16 survivors). Both are fully
    * ORACLE-checked: the salt is derived from the ordering columns, so the
    * result is the same deterministic argmax a plain window produces. */
  private def skewDedup(s: SparkSession, dir: String, hot: Boolean): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val keyed = li.withColumn("k",
      if (hot)
        when(pmod(col("l_orderkey"), lit(2)) === 0, lit(-1L))
          .otherwise(col("l_orderkey"))
      else col("l_orderkey"))
    LakeOps.latestWinsDedupSalted(keyed, Seq("k"), "l_extendedprice",
      tieBreakCols = Seq("l_orderkey", "l_linenumber"))
      .select(col("k"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .orderBy("k")
  }

  def q66SkewDedupHot(s: SparkSession, dir: String): DataFrame =
    skewDedup(s, dir, hot = true)

  def q67SkewDedupUniform(s: SparkSession, dir: String): DataFrame =
    skewDedup(s, dir, hot = false)

  private def skewDedupSql(keyExpr: String): String =
    s"""WITH keyed AS (
      |  SELECT $keyExpr AS k, l_orderkey, l_linenumber, l_extendedprice
      |  FROM lineitem),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY k
      |    ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC) AS rn
      |  FROM keyed)
      |SELECT k, l_orderkey, l_linenumber, l_extendedprice
      |FROM r WHERE rn = 1
      |ORDER BY k""".stripMargin

  val q66SkewDedupHotSql: String = skewDedupSql(
    "CASE WHEN l_orderkey % 2 = 0 THEN CAST(-1 AS BIGINT) ELSE l_orderkey END")

  val q67SkewDedupUniformSql: String = skewDedupSql("l_orderkey")

  // ---------------------------------------------------------------- q88
  /** Table profiling over lineitem: per-column null counts, exact distinct
    * cardinality, min/max — the post-merge freshness check and pre-training
    * data-quality gate. The oracle recomputes every stat; the one-pass
    * approximate profiler ([[graft.oracle.Profile.tableApprox]], the
    * 100 TB form) is suite-bounded against this exact one. */
  def q88Profile(s: SparkSession, dir: String): DataFrame =
    graft.oracle.Profile.table(Tables.load(s, dir, "lineitem"))
      .orderBy("column_name")

  val q88ProfileSql: String = {
    val cols = Seq(
      "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp_ntz")
    cols.map { case (c, t) =>
      s"""SELECT '$c' AS column_name, '$t' AS dtype, COUNT(*) AS n_rows,
        |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
        |  CAST(MIN($c) AS VARCHAR) AS min_val, CAST(MAX($c) AS VARCHAR) AS max_val
        |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // --------------------------------------------------------------- q104
  /** As-of (point-in-time) join ([[graft.operators.AsofJoin]]): each click
    * event gets the user's latest purchase state at-or-before the click —
    * "what did the row look like when the event happened", the CDC-lake
    * companion query. Purchases collapse to one state per (user, µs) via
    * `max(struct(event_id, …))` so the carried state is deterministic;
    * the oracle is DuckDB's native ASOF LEFT JOIN over the same µs
    * timestamps. */
  def q104AsofState(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val facts = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("ts_us"), col("user_id"), col("value"))
    val dims = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts_us"),
        col("m.event_id").as("state_id"), col("m.value").as("state_value"))
    graft.operators.AsofJoin
      .asof(facts, dims, "user_id", "ts_us", Seq("state_id", "state_value"))
      .orderBy("event_id")
  }

  val q104AsofStateSql: String =
    """WITH f AS (
      |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, value
      |  FROM events WHERE event_type = 'click'),
      |d AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    MAX(event_id) AS state_id,
      |    max_by(value, event_id) AS state_value
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT f.event_id, f.ts_us, f.user_id, f.value,
      |  d.state_id, d.state_value
      |FROM f ASOF LEFT JOIN d
      |  ON f.user_id = d.user_id AND f.ts_us >= d.ts_us
      |ORDER BY f.event_id""".stripMargin

  // --------------------------------------------------------------- q105
  /** Range join ([[graft.operators.RangeJoin]]): views landing inside a
    * user's 10-minute post-error incident window. The bucketized equi-join
    * spelling (bucket width = the window length → ≤2 buckets per interval)
    * replaces the cartesian inequality plan; the oracle is DuckDB's plain
    * inequality join (its IEJoin path) — same pairs, order-pinned. */
  def q105RangeIncidents(s: SparkSession, dir: String): DataFrame = {
    val winUs = 600L * 1000000
    val ev = events(s, dir)
    val facts = ev.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val incidents = ev.where(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("user_id"),
        col("ts_us").as("start_us"),
        (col("ts_us") + winUs).as("end_us"))
    graft.operators.RangeJoin
      .rangeJoin(facts, "ts_us", incidents, "start_us", "end_us",
        Seq("user_id"), bucketWidth = winUs)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("incident_id"), col("start_us"))
      .orderBy("event_id", "incident_id")
  }

  val q105RangeIncidentsSql: String =
    """WITH v AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |  FROM events WHERE event_type = 'view'),
      |i AS (
      |  SELECT event_id AS incident_id, user_id,
      |    epoch_us(ts) AS start_us,
      |    epoch_us(ts) + 600000000 AS end_us
      |  FROM events WHERE event_type = 'error')
      |SELECT v.event_id, v.user_id, v.ts_us, i.incident_id, i.start_us
      |FROM v JOIN i ON v.user_id = i.user_id
      |  AND v.ts_us >= i.start_us AND v.ts_us < i.end_us
      |ORDER BY v.event_id, i.incident_id""".stripMargin

  // --------------------------------------------------------------- q106
  /** Exact interpolated percentiles per group: Spark's `percentile`
    * (exact, linear/type-7 interpolation) against DuckDB's
    * `quantile_cont` — the analytic the approx profile (q88) deliberately
    * does NOT cover. Exact percentiles sort within each group; at 100 TB
    * the approx sketch path is the default and this is the
    * small-group/audit spelling. Values are interpolations (a + f·(b−a))
    * of exact doubles — fixed-point-pinned at 6 decimals to absorb the
    * engines' differing evaluation order. */
  def q106Percentiles(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        min(col("value")).as("v_min"), max(col("value")).as("v_max"))
      .orderBy("event_type")

  val q106PercentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99,
      |  MIN(value) AS v_min, MAX(value) AS v_max
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q107
  /** ×10-replicated as-of join — the scale entry for the window-carried
    * join class (the ×N series' other joins are broadcast/bucketed):
    * events replicate with distinct (user, event) ids, so the per-key
    * sorted carry-forward runs over 10× keys × the same history depth —
    * the dimension that actually grows at 100 TB. Same oracle shape as
    * q104 over the replicated stream. */
  def q107AsofScale10(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"),
        graft.ops.Replicate.rep(10).as("r"))
      .select((col("event_id") * 10 + col("r")).as("event_id"),
        col("ts_us"), (col("user_id") * 10 + col("r")).as("user_id"),
        col("event_type"), col("value"))
    val facts = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("ts_us"), col("user_id"), col("value"))
    val dims = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts_us"),
        col("m.event_id").as("state_id"), col("m.value").as("state_value"))
    graft.operators.AsofJoin
      .asof(facts, dims, "user_id", "ts_us", Seq("state_id", "state_value"))
      .orderBy("event_id")
  }

  val q107AsofScale10Sql: String =
    """WITH rep AS (
      |  SELECT event_id * 10 + r.range AS event_id, epoch_us(ts) AS ts_us,
      |    user_id * 10 + r.range AS user_id, event_type, value
      |  FROM events CROSS JOIN range(10) r),
      |f AS (
      |  SELECT event_id, ts_us, user_id, value
      |  FROM rep WHERE event_type = 'click'),
      |d AS (
      |  SELECT user_id, ts_us,
      |    MAX(event_id) AS state_id,
      |    max_by(value, event_id) AS state_value
      |  FROM rep WHERE event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT f.event_id, f.ts_us, f.user_id, f.value,
      |  d.state_id, d.state_value
      |FROM f ASOF LEFT JOIN d
      |  ON f.user_id = d.user_id AND f.ts_us >= d.ts_us
      |ORDER BY f.event_id""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Lake maintenance: small-file compaction of an append-only landing
    * zone. The upsert sink never fragments (each merge rewrites its
    * touched partitions whole), so the table that NEEDS compaction is the
    * K3-style landing log: six micro-batch appends drop six files into
    * every touched partition, then [[graft.sink.Compaction.compact]]
    * bin-packs each over-target partition back to its byte-justified file
    * count. The in-query report asserts files really collapsed; the
    * result is the latest-wins view of the compacted log, pinned by q20's
    * oracle — so a lost or duplicated row in the rewrite shifts the hash. */
  def q118Compaction(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val path = Files.createTempDirectory("graft_q118_landing").toString
    val partCols = LakeOps.partitionCols
    val bucket = pmod(col("event_id"), lit(6))
    (0 until 6).foreach { b =>
      LakeOps.derivePartitionColumns(cdc.filter(bucket === b), "create_at")
        .coalesce(1).write.mode("append")
        .partitionBy(partCols: _*).parquet(path)
    }
    val report = graft.sink.Compaction.compact(s, path, partCols)
    require(report.filesAfter < report.filesBefore,
      s"q118: compaction must reduce files, got $report")
    require(report.filesAfter == report.partitionsScanned.toLong,
      s"q118: tiny partitions must collapse to one file each, got $report")
    // partition values normalized to the zero-padded strings the scheme is
    // defined over (partition type inference may read them back as ints)
    val widths = Map("create_year" -> 4).withDefaultValue(2)
    val normalized = partCols.foldLeft(s.read.parquet(path)) { (d, c) =>
      d.withColumn(c, lpad(col(c).cast("string"), widths(c), "0"))
    }
    LakeOps.latestWinsDedup(normalized, Seq("id"), "update_at",
      tieBreak = Seq(col("event_id").desc))
      .select(
        col("id"), col("create_year"), col("create_month"), col("create_day"),
        col("create_hour"), col("create_minute"), col("update_at"),
        col("event_type"), col("value"), col("props"), col("event_id"))
      .orderBy("id")
  }

  val q118CompactionSql: String = q20CdcMergeSql

  // ---------------------------------------------------------------- q119
  /** Lake maintenance: partition retention. Builds the q20 table, then
    * [[graft.sink.Compaction.expireBefore]] drops every partition before
    * 2024-01-04 — a metadata-only directory prune, no data read. The
    * oracle filters the same cutoff on the full (year, month, day) date
    * prefix — matching expireBefore's lexicographic tuple exactly even if
    * a future corpus spans multiple months — so the dropped set must be
    * EXACTLY the sub-cutoff partitions. */
  def q119Retention(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val path = Files.createTempDirectory("graft_q119_lake").toString
    val table = new KeyedLakeTable(s, LakeTableSpec(
      path, recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    table.overwrite(cdc.filter(bucket === 0))
    table.upsert(cdc.filter(bucket === 1))
    table.upsert(cdc.filter(bucket === 2))
    val report = graft.sink.Compaction.expireBefore(
      s, path, graft.ops.LakeOps.partitionCols, Seq("2024", "01", "04"))
    require(report.partitionsDropped > 0,
      s"q119: the cutoff must drop the 01..03 day partitions, got $report")
    table.read().select(
      col("id"), col("create_year"), col("create_month"), col("create_day"),
      col("create_hour"), col("create_minute"), col("update_at"),
      col("event_type"), col("value"), col("props"), col("event_id"))
      .orderBy("id")
  }

  val q119RetentionSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value, props, event_id
      |FROM ranked
      |WHERE rn = 1 AND substring(create_at, 1, 10) >= '2024-01-04'
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Schema evolution across CDC batches: batch 1 carries the original
    * columns, batch 2 ADDS a `channel` column (the source database gained
    * one), batch 3 DROPS `props` (the source lost one). The merged table
    * must hold the union schema with nulls exactly where a row's winning
    * version never carried the column — checked per-cell by the oracle's
    * CASE on the winner's batch. Exercises `evolveSchema` end-to-end
    * including the footer-merged read over mixed-schema partitions. */
  def q120SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val path = Files.createTempDirectory("graft_q120_lake").toString
    val table = new KeyedLakeTable(s, LakeTableSpec(
      path, recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    table.overwrite(cdc.filter(bucket === 0))
    table.upsert(cdc.filter(bucket === 1).withColumn("channel",
      concat(lit("ch-"), pmod(col("event_id"), lit(4)).cast("string"))),
      evolveSchema = true)
    table.upsert(cdc.filter(bucket === 2).drop("props"), evolveSchema = true)
    table.read().select(
      col("id"), col("create_year"), col("create_month"), col("create_day"),
      col("create_hour"), col("create_minute"), col("update_at"),
      col("event_type"), col("value"), col("props"), col("event_id"),
      col("channel"))
      .orderBy("id")
  }

  val q120SchemaEvolutionSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value,
      |  CASE WHEN event_id % 3 = 2 THEN NULL ELSE props END AS props,
      |  event_id,
      |  CASE WHEN event_id % 3 = 1
      |    THEN 'ch-' || CAST(event_id % 4 AS VARCHAR) END AS channel
      |FROM ranked WHERE rn = 1
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q122
  /** §2.8 ingestion dedup end-to-end: the event stream delivered THREE
    * times (an at-least-once source re-delivering every record), split
    * across files so duplicates land in different micro-batches, then
    * [[graft.streaming.CdcStreamIngest.dedupedStream]] reduces it to
    * exactly-once rows with watermark-bounded state. The oracle aggregates
    * the ORIGINAL events table — so any duplicate that survived, or any
    * original that was wrongly dropped, shifts a count or a sum. */
  def q122StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.CdcStreamIngest
    import org.apache.spark.sql.streaming.Trigger
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"),
      timestamp_micros(col("ts_us")).as("event_ts"))
    val srcDir = Files.createTempDirectory("graft_q122_src").toString
    ev.repartition(3).write.mode("overwrite").parquet(srcDir)
    ev.repartition(2).write.mode("append").parquet(srcDir)
    ev.repartition(2).write.mode("append").parquet(srcDir)
    val deduped = CdcStreamIngest.dedupedStream(
      s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2).parquet(srcDir),
      Seq("event_id"), "event_ts", watermarkDelay = "3650 days")
    val outDir = Files.createTempDirectory("graft_q122_out").toString
    deduped.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_q122_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    s.read.parquet(outDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q122StreamDedupSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q123
  /** Change data feed: each keyed merge also emits its per-key changelog
    * (insert / update / noop with before+after images,
    * [[graft.sink.KeyedLakeTable.upsertChanges]]). The oracle re-derives
    * every batch's classification from the raw stream — the batch winner
    * per key compared against the best version in all EARLIER batches —
    * so a misclassified or missing feed row shifts a count or a sum.
    * The (precombine, tieBreak) order is flattened to one sortable string
    * (fixed-width timestamp ++ zero-padded id) portably on both sides. */
  def q123ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val table = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q123_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    (0 until 3).map { b =>
        table.upsertChanges(cdc.filter(bucket === b))
          .withColumn("batch", lit(b.toLong))
      }
      .reduce(_ unionByName _)
      .groupBy(col("batch"), col("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("new_image").getField("value").cast("decimal(12,2)"))
          .cast("double").as("new_total"))
      .orderBy("batch", "change_type")
  }

  val q123ChangeFeedSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |b AS (
      |  SELECT id, update_at, event_id, value, event_id % 3 AS batch,
      |    update_at || '#' || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
      |  FROM cdc),
      |w AS (
      |  SELECT *, row_number() OVER (PARTITION BY id, batch ORDER BY ord DESC) AS rn
      |  FROM b),
      |iw AS (SELECT * FROM w WHERE rn = 1),
      |pv AS (
      |  SELECT i.id, i.batch, MAX(p.ord) AS pmax
      |  FROM iw i JOIN b p ON p.id = i.id AND p.batch < i.batch
      |  GROUP BY i.id, i.batch),
      |cls AS (
      |  SELECT i.batch,
      |    CASE WHEN pv.pmax IS NULL THEN 'insert'
      |         WHEN i.ord > pv.pmax THEN 'update'
      |         ELSE 'noop' END AS change_type,
      |    i.value
      |  FROM iw i LEFT JOIN pv ON pv.id = i.id AND pv.batch = i.batch)
      |SELECT CAST(batch AS BIGINT) AS batch, change_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS new_total
      |FROM cls
      |GROUP BY 1, 2
      |ORDER BY batch, change_type""".stripMargin

  // ---------------------------------------------------------------- q124
  /** Incremental aggregate maintenance: a per-event_type SUM/COUNT state
    * advanced batch-by-batch from the q123 change feed — the base table is
    * never rescanned, updates RETRACT the replaced version's contribution
    * (and can move a key between groups, since event_type changes across
    * versions of a user). The oracle recomputes the aggregate from scratch
    * over the final latest-wins state, so any drift in the retraction
    * arithmetic — a missed noop, a double-applied update, a stale group
    * row — breaks the hash. */
  def q124IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val table = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q124_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    var state = graft.ops.IncrementalAgg.emptyState(s,
      org.apache.spark.sql.types.StringType)
    (0 until 3).foreach { b =>
      val changes = table.upsertChanges(cdc.filter(bucket === b))
      state = graft.ops.IncrementalAgg
        .applyDelta(state, changes, "event_type", "value")
        .localCheckpoint(true)
    }
    state.select(col("group").as("event_type"), col("n_rows"),
      col("total").cast("double").as("total_value"))
      .orderBy("event_type")
  }

  val q124IncrementalAggSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT event_type, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM ranked WHERE rn = 1
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q125
  /** Time travel through the commit log: three CDC batches become three
    * immutable snapshots of a [[graft.sink.VersionedLakeTable]], and the
    * query reads ALL of them back — version v's rows must equal the
    * latest-wins state over the first v+1 batches, which the oracle
    * recomputes per version from the raw stream. A merge that edited an
    * old file, a manifest that dropped a carried-forward partition, or a
    * wrong win-rule at any version breaks the corresponding slice. */
  def q125TimeTravel(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val table = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q125_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    (0 until 3).foreach(b => table.upsert(cdc.filter(bucket === b)))
    (0 until 3).map { v =>
        table.read(Some(v)).withColumn("version", lit(v.toLong))
      }
      .reduce(_ unionByName _)
      .select(
        col("version"), col("id"), col("create_year"), col("create_month"),
        col("create_day"), col("create_hour"), col("create_minute"),
        col("update_at"), col("event_type"), col("value"), col("props"),
        col("event_id"))
      .orderBy("version", "id")
  }

  val q125TimeTravelSql: String = {
    def slice(v: Int): String =
      s"""SELECT CAST($v AS BIGINT) AS version, id,
        |  substring(create_at, 1, 4) AS create_year,
        |  substring(create_at, 6, 2) AS create_month,
        |  substring(create_at, 9, 2) AS create_day,
        |  substring(create_at, 12, 2) AS create_hour,
        |  substring(create_at, 15, 2) AS create_minute,
        |  update_at, event_type, value, props, event_id
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
        |  FROM cdc WHERE event_id % 3 <= $v)
        |WHERE rn = 1""".stripMargin
    s"""WITH cdc AS ($cdcViewSql)
      |${slice(0)}
      |UNION ALL
      |${slice(1)}
      |UNION ALL
      |${slice(2)}
      |ORDER BY version, id""".stripMargin
  }

  // ------------------------------------------------------------ q126/q127
  /** Hot-key as-of join stress ([[graft.operators.AsofJoin.asofBucketed]]):
    * every even user collapses onto ONE key, so that key holds ~half of
    * all dim versions (~100k at the ×10 replication) — the skewed
    * dimension-history regime where the plain key-partitioned as-of would
    * serialize the hot key onto one task. The bucketed variant splits the
    * 30-day timeline into 6-hour buckets (~120 of them) with per-bucket
    * carry-in, so the hot key spreads across ~120 tasks. q127 is the
    * UNIFORM companion — identical data volume and code path without the
    * hot collapse — so the bench pair exposes the skew penalty directly
    * (the q66/q67 protocol). Replicas get `ts + r` µs offsets so the
    * hot key's version count really multiplies (same-ts versions would
    * collapse in the per-(key, ts) dedup). */
  private def asofSkewQuery(s: SparkSession, dir: String, hot: Boolean)
      : DataFrame = {
    val key =
      if (hot) when(pmod(col("user_id"), lit(2)) === 0, lit(-1L))
        .otherwise(col("user_id"))
      else col("user_id")
    val ev = events(s, dir)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"),
        graft.ops.Replicate.rep(10).as("r"))
      .select((col("event_id") * 10 + col("r")).as("event_id"),
        (col("ts_us") + col("r")).as("ts_us"), key.as("user_id"),
        col("event_type"), col("value"))
    val facts = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("ts_us"), col("user_id"), col("value"))
    val dims = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts_us"),
        col("m.event_id").as("state_id"), col("m.value").as("state_value"))
    graft.operators.AsofJoin
      .asofBucketed(facts, dims, "user_id", "ts_us",
        Seq("state_id", "state_value"),
        ts => floor(ts / lit(21600000000L))) // 6-hour buckets over the 30-day span
      .orderBy("event_id")
  }

  def q126AsofHot(s: SparkSession, dir: String): DataFrame =
    asofSkewQuery(s, dir, hot = true)

  def q127AsofUniform(s: SparkSession, dir: String): DataFrame =
    asofSkewQuery(s, dir, hot = false)

  // ---------------------------------------------------------------- q152
  /** The MERGE as-of operator ([[graft.operators.AsofJoin.asofMerge]] —
    * two sorted children, co-partitioned zero-union merge) on q127's
    * exact derivation, oracled by q127's DuckDB ASOF SQL verbatim: the
    * merge exec's advance/carry/tie logic has to land on the native
    * operator's bits. (The bucketed-layout zero-exchange plan property
    * is pinned in AsofJoinSpec; the ingest-paid decade is
    * m_asof_merge_x1000.) */
  def q152AsofMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"),
        graft.ops.Replicate.rep(10).as("r"))
      .select((col("event_id") * 10 + col("r")).as("event_id"),
        (col("ts_us") + col("r")).as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
    val facts = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("ts_us"), col("user_id"), col("value"))
    val dims = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts_us"),
        col("m.event_id").as("state_id"), col("m.value").as("state_value"))
    graft.operators.AsofJoin
      .asofMerge(facts, dims, "user_id", "ts_us",
        Seq("state_id", "state_value"))
      .orderBy("event_id")
  }

  def q152AsofMergeSql: String = q127AsofUniformSql

  private def asofSkewSql(keyExpr: String): String =
    s"""WITH rep AS (
      |  SELECT event_id * 10 + r.range AS event_id,
      |    epoch_us(ts) + r.range AS ts_us,
      |    $keyExpr AS user_id, event_type, value
      |  FROM events CROSS JOIN range(10) r),
      |f AS (
      |  SELECT event_id, ts_us, user_id, value
      |  FROM rep WHERE event_type = 'click'),
      |d AS (
      |  SELECT user_id, ts_us, MAX(event_id) AS state_id,
      |    max_by(value, event_id) AS state_value
      |  FROM rep WHERE event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT f.event_id, f.ts_us, f.user_id, f.value,
      |  d.state_id, d.state_value
      |FROM f ASOF LEFT JOIN d
      |  ON f.user_id = d.user_id AND f.ts_us >= d.ts_us
      |ORDER BY f.event_id""".stripMargin

  val q126AsofHotSql: String =
    asofSkewSql("CASE WHEN user_id % 2 = 0 THEN -1 ELSE user_id END")

  val q127AsofUniformSql: String = asofSkewSql("user_id")

  // ------------------------------------------------------------ q129/q130
  /** Shared fixture for the file-index entries: the full CDC stream merged
    * in three batches into a [[graft.sink.VersionedLakeTable]] with
    * file-level stats + key Bloom indexing on ([[graft.sink
    * .FileStatsIndex]]). Every write path here runs INDEXED — including
    * the Bloom-pruned merge (files provably holding no batch key carry
    * forward unrewritten) — so the oracles below pin the indexed write
    * path end to end, not just the read-side pruning. */
  private def indexedTable(s: SparkSession, dir: String, tag: String)
      : graft.sink.VersionedLakeTable = {
    val cdc = cdcView(s, dir)
    val table = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory(s"graft_${tag}_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")),
      statsCols = Seq("event_id", "event_type"), keyBloomBits = 1 << 14)
    val bucket = pmod(col("event_id"), lit(3))
    (0 until 3).foreach(b => table.upsert(cdc.filter(bucket === b)))
    table
  }

  private val snapshotCols = Seq("id", "create_year", "create_month",
    "create_day", "create_hour", "create_minute", "update_at", "event_type",
    "value", "props", "event_id")

  /** File-level data skipping on a NON-partition column: the same
    * `event_id` range predicate runs once against the per-file min/max
    * index (only overlapping files are opened) and once exactly as a
    * residual filter — file granularity keeps rows the filter then drops,
    * so the result must equal a plain filtered scan of the latest
    * snapshot. Bounds derive from MAX(event_id), so the entry is
    * scale-free across sf dirs. */
  def q129StatsPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val table = indexedTable(s, dir, "q129")
    // latest-wins keeps each key's FINAL event_id, so the live ids cluster
    // near MAX(event_id): a top-decile window is the scale-free range that
    // actually selects rows at every sf
    val maxId = events(s, dir).agg(max(col("event_id"))).head().getLong(0)
    val (lo, hi) = (maxId - maxId / 10, maxId)
    table.readWhereStats(None, keepFile =
        graft.sink.FileStatsIndex.range("event_id", Some(lo), Some(hi)))
      .filter(col("event_id").between(lo, hi))
      .select(snapshotCols.map(col): _*)
      .orderBy("id")
  }

  val q129StatsPrunedReadSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |m AS (SELECT CAST(MAX(event_id) - MAX(event_id) // 10 AS BIGINT) AS lo,
      |             CAST(MAX(event_id) AS BIGINT) AS hi
      |      FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value, props, event_id
      |FROM r, m
      |WHERE rn = 1 AND event_id BETWEEN m.lo AND m.hi
      |ORDER BY id""".stripMargin

  /** Point lookups through the per-file key Bloom index (the Hudi
    * bloom-index role): a deterministic key sample (every 37th user) is
    * fetched via [[graft.sink.VersionedLakeTable.lookupKeys]] — only files
    * whose Bloom may hold a requested key are opened, then the exact
    * key predicate re-filters, so false positives cost a read, never a
    * row. The oracle recomputes the same keys' latest-wins rows from the
    * raw stream. */
  def q130BloomLookup(s: SparkSession, dir: String): DataFrame = {
    val table = indexedTable(s, dir, "q130")
    val users = events(s, dir)
      .filter(pmod(col("user_id"), lit(37)) === 0)
      .select(col("user_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted // bounded: |users| / 37
    val keys = users.map(u => Seq(f"user-$u%06d": Any)).toSeq
    table.lookupKeys(keys)
      .select(snapshotCols.map(col): _*)
      .orderBy("id")
  }

  val q130BloomLookupSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value, props, event_id
      |FROM r
      |WHERE rn = 1 AND CAST(substring(id, 6) AS BIGINT) % 37 = 0
      |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q154
  /** Dynamic file pruning driven by a JOIN
    * ([[graft.sink.VersionedLakeTable.readForJoin]] — the Delta dynamic
    * file pruning role): the probe side is the deterministic key sample
    * q130 uses (every 37th user) as a FRAME rather than a driver list,
    * the fact table opens only files whose key Bloom may hold some
    * probe key, and the equi-join is the exact re-filter — so the
    * result must equal the plain join of the full snapshot, which is
    * q130's lookup semantics and its oracle verbatim. */
  def q154JoinPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val table = indexedTable(s, dir, "q154")
    val probe = events(s, dir)
      .filter(pmod(col("user_id"), lit(37)) === 0)
      .select(format_string("user-%06d", col("user_id").cast("long"))
        .as("id"))
      .distinct()
    table.readForJoin(probe).join(probe, Seq("id"))
      .select(snapshotCols.map(col): _*)
      .orderBy("id")
  }

  val q154JoinPrunedReadSql: String = q130BloomLookupSql

  // --------------------------------------------------------------- q156
  /** Range-stats join pruning on a NON-key column
    * ([[graft.sink.VersionedLakeTable.readForJoinOn]]): the probe is a
    * deterministic event_id sample from the top 5% of the id space
    * (where the latest-wins snapshot's live rows cluster), the table
    * opens only files whose event_id min/max CONTAINS some probe value,
    * and the equi-join is the exact re-filter — the result must equal
    * the plain join of the full latest-wins snapshot. */
  def q156RangeJoinPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val table = indexedTable(s, dir, "q156")
    val maxId = events(s, dir).agg(max(col("event_id"))).head().getLong(0)
    val probe = events(s, dir)
      .filter(col("event_id") > maxId - maxId / 20 &&
        pmod(col("event_id"), lit(7)) === 0)
      .select(col("event_id")).distinct()
    table.readForJoinOn("event_id", probe).join(probe, Seq("event_id"))
      .select(snapshotCols.map(col): _*)
      .orderBy("id")
  }

  val q156RangeJoinPrunedReadSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |m AS (SELECT CAST(MAX(event_id) AS BIGINT) AS mx FROM events),
      |probe AS (
      |  SELECT DISTINCT e.event_id FROM events e, m
      |  WHERE e.event_id > m.mx - m.mx // 20 AND e.event_id % 7 = 0),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value, props, event_id
      |FROM r JOIN probe USING (event_id)
      |WHERE rn = 1
      |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q135
  /** Mergeable distinct-count sketch state ([[graft.ops.SketchState]]) —
    * COUNT(DISTINCT) maintained incrementally where [[q124IncrementalAgg]]'s
    * signed retraction cannot reach. The event stream arrives as three
    * batches, each folding one HLL sketch per event_type into the state,
    * and the read-side estimate must (a) be BATCHING-INVARIANT — the
    * identical estimate whether the stream arrived as 3 batches, 5
    * batches, or in reversed order (the merged state depends only on the
    * item SET, so incremental maintenance never drifts with batch count
    * or arrival order) — and (b) sit within 5% of the true distinct
    * count. Verified at sf0.01 (sparse mode: estimates are exact) AND
    * sf0.1 (dense mode), which is what killed the previous, stronger
    * spelling: a merged state's estimate is NOT generally equal to a
    * single-pass sketch's, because DataSketches' single-stream HIP
    * estimator does not survive union (both sit within the same error
    * bounds) — the invariant an incremental pipeline actually relies on
    * is the batching-invariance pinned here. The oracle pins the exact
    * count and both booleans. */
  def q135HllIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.SketchState
    val ev = events(s, dir)
    val states3 = (0 to 2).map(i =>
      SketchState.batchState(ev.filter(pmod(col("event_id"), lit(3)) === i),
        "event_type", col("user_id")))
    val states5 = (0 to 4).map(i =>
      SketchState.batchState(ev.filter(pmod(col("event_id"), lit(5)) === i),
        "event_type", col("user_id")))
    val merged = SketchState.estimate(SketchState.merge(states3))
    val alt5 = SketchState.estimate(SketchState.merge(states5))
      .withColumnRenamed("n_approx", "n_5way")
    val rev = SketchState.estimate(SketchState.merge(states3.reverse))
      .withColumnRenamed("n_approx", "n_rev")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    // null-safe join keys: SketchState.merge explicitly supports a null
    // group (groupBy groups nulls together), so an equi-join here would
    // silently drop it — `<=>` keeps the comparison aligned with the
    // groupBy semantics (latent on this fixture, which has no null
    // event_type, but the query should not contradict the operator).
    exact
      .join(merged.withColumnRenamed("event_type", "__et_m"),
        col("event_type") <=> col("__et_m"))
      .join(alt5.withColumnRenamed("event_type", "__et_5"),
        col("event_type") <=> col("__et_5"))
      .join(rev.withColumnRenamed("event_type", "__et_r"),
        col("event_type") <=> col("__et_r"))
      .select(col("event_type"), col("n_exact"),
        (col("n_approx") === col("n_5way") &&
          col("n_approx") === col("n_rev")).as("merge_invariant"),
        (abs(col("n_approx") - col("n_exact")) <=
          col("n_exact").cast("double") * 0.05).as("err_ok"))
      .orderBy("event_type")
  }

  val q135HllIncrementalSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
      |  TRUE AS merge_invariant, TRUE AS err_ok
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q136
  /** Optimistic-concurrency commit protocol
    * ([[graft.sink.VersionedLakeTable]] stage/claim/intent): writer A
    * stages an upsert of the even-minute partitions; inside A's claim
    * window (the onBeforeClaim seam) writer B commits the odd-minute
    * partitions. B takes the slot A wanted; A detects the interleaved
    * commit, proves disjointness from B's recorded touched set, and
    * lands its delta on the next slot — no merge retry, no
    * serialization (the reference serializes all writers behind
    * max_concurrent_runs=1 orchestration; this is the multi-ingest-job
    * regime a 100 TB lake actually runs). The final snapshot must hold
    * BOTH writers' updates merged latest-wins over the bootstrap —
    * exactly the q125 slice-1 oracle (every event with
    * event_id % 3 <= 1). A lost update on either side, a false
    * conflict, or a wrong replay order breaks the compare. */
  def q136ConcurrentCommits(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val path = Files.createTempDirectory("graft_q136_lake").toString
    def writer() = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      path, recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val a = writer()
    val b = writer()
    a.upsert(cdc.filter(pmod(col("event_id"), lit(3)) === 0)) // v0
    val upd = cdc.filter(pmod(col("event_id"), lit(3)) === 1)
    val minutePar = pmod(substring(col("create_at"), 15, 2).cast("int"), lit(2))
    a.onBeforeClaim = () => { b.upsert(upd.filter(minutePar === 1)); () }
    try a.upsert(upd.filter(minutePar === 0))
    finally a.onBeforeClaim = () => ()
    require(a.versions == Seq(0, 1, 2),
      s"expected B at v1 and A rebased to v2, got versions ${a.versions}")
    a.read()
      .select(snapshotCols.map(col): _*)
      .orderBy("id")
  }

  // --------------------------------------------------------------- q137
  /** Bounded incremental MIN/MAX maintenance ([[graft.ops.ExtremaState]])
    * — the q124 protocol for the extrema family that signed retraction
    * alone cannot maintain: the CDC stream folds through the change feed
    * in three batches into a k=4-bounded per-group (top-k, watermark)
    * state; groups whose buffer drained below the watermark are DETECTED
    * (never silently wrong) and repaired from the lake with a
    * group-pruned scan; the final per-event_type extrema must equal SQL
    * MIN/MAX over the latest-wins state, with every exactness flag TRUE
    * after repair. A missed retraction, a wrong watermark bound, or a
    * repair that rebuilt the wrong groups breaks the hash. */
  def q137ExtremaIncremental(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val table = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q137_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    var state = graft.ops.ExtremaState.emptyState(s)
    (0 until 3).foreach { b =>
      val changes = table.upsertChanges(cdc.filter(bucket === b))
      state = graft.ops.ExtremaState
        .applyDelta(state, changes, "event_type", "value", k = 4)
        .localCheckpoint(true)
    }
    val repaired = graft.ops.ExtremaState.repair(state, table.read(),
      col("event_type"), col("value"), k = 4)
    graft.ops.ExtremaState.extrema(repaired)
      .select(col("group").as("event_type"),
        col("min_v"), col("max_v"),
        (col("min_exact") && col("max_exact")).as("exact"))
      .orderBy("event_type")
  }

  val q137ExtremaIncrementalSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT event_type,
      |  CAST(MIN(value) AS DOUBLE) AS min_v,
      |  CAST(MAX(value) AS DOUBLE) AS max_v,
      |  TRUE AS exact
      |FROM ranked WHERE rn = 1
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q138
  /** Incremental QUANTILE maintenance ([[graft.ops.QuantileState]], the
    * DDSketch member of the incremental family) — percentiles over a
    * CDC-maintained lake without rescanning history (q106 is the batch
    * rescan spelling). The CDC stream folds through the change feed into
    * a per-event_type (region, bucket) → count state twice, as 3 batches
    * and as 5 batches; because merge is count addition the two folds must
    * be IDENTICAL (exact batching-invariance, stronger than q135's HLL
    * contract), and each p50/p95 estimate must sit within α = 1% of the
    * value at the exact rank ⌈p·n⌉ over the latest-wins state
    * (percentile_disc semantics — a real data value, so the oracle's
    * quantile_disc matches bit-exactly). A missed retraction (update
    * double-count), a mis-bucketed sign region, or a wrong rank target
    * breaks the flags or the hash. */
  def q138QuantileIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.QuantileState
    val cdc = cdcView(s, dir)
    def fold(nb: Int): (KeyedLakeTable, DataFrame) = {
      val table = new KeyedLakeTable(s, LakeTableSpec(
        Files.createTempDirectory(s"graft_q138_lake$nb").toString,
        recordKeys = Seq("id"), precombine = "update_at",
        partitionSource = "create_at", tieBreak = Seq("event_id")))
      var state = QuantileState.emptyState(s)
      (0 until nb).foreach { b =>
        val changes = table.upsertChanges(
          cdc.filter(pmod(col("event_id"), lit(nb)) === b))
        state = QuantileState
          .applyDelta(state, changes, "event_type", "value")
          .localCheckpoint(true)
      }
      (table, state)
    }
    val (table3, s3) = fold(3)
    val (_, s5) = fold(5)
    val ps = Seq(0.5, 0.95)
    def wide(state: DataFrame, suffix: String) =
      QuantileState.quantiles(state, ps)
        .groupBy(col("group"))
        .agg(max(when(col("p") === 0.5, col("value"))).as(s"s50$suffix"),
          max(when(col("p") === 0.95, col("value"))).as(s"s95$suffix"))
    val q3 = wide(s3, "")
    val q5 = wide(s5, "_5")
    val exact = table3.read()
      .groupBy(col("event_type"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
          .cast("double").as("p50_exact"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)")
          .cast("double").as("p95_exact"))
    exact
      .join(q3.withColumnRenamed("group", "__g3"),
        col("event_type") <=> col("__g3"))
      .join(q5.withColumnRenamed("group", "__g5"),
        col("event_type") <=> col("__g5"))
      .select(col("event_type"), col("p50_exact"), col("p95_exact"),
        (col("s50") === col("s50_5") && col("s95") === col("s95_5"))
          .as("merge_invariant"),
        (abs(col("s50") - col("p50_exact")) <=
          abs(col("p50_exact")) * 0.01 + 1e-9).as("err50_ok"),
        (abs(col("s95") - col("p95_exact")) <=
          abs(col("p95_exact")) * 0.01 + 1e-9).as("err95_ok"))
      .orderBy("event_type")
  }

  val q138QuantileIncrementalSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT event_type,
      |  CAST(quantile_disc(value, 0.5) AS DOUBLE) AS p50_exact,
      |  CAST(quantile_disc(value, 0.95) AS DOUBLE) AS p95_exact,
      |  TRUE AS merge_invariant, TRUE AS err50_ok, TRUE AS err95_ok
      |FROM ranked WHERE rn = 1
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q139
  /** Soft-delete CDC ([[graft.sink.LakeTableSpec.softDeleteCol]]) — the
    * delete handling the reference scopes OUT (`README.rst:53`, stream
    * REMOVE skipped): rows with `event_id % 7 == 3` are tombstones riding
    * the merge as ordinary latest-wins versions (a delete only takes
    * effect if it WINS by precombine; a later live version resurrects the
    * key; an out-of-order older version can never resurrect). The stream
    * folds in 3 batches; the change feed classifies live transitions
    * (insert/update/delete) and [[graft.ops.IncrementalAgg]] maintains
    * the LIVE aggregate through it — `state_matches` pins the maintained
    * state equal to a from-scratch aggregate over [[KeyedLakeTable
    * .readLive]]. The oracle recomputes the live latest-wins aggregate in
    * SQL; a tombstone that leaked into the live read, a resurrected key
    * counted twice, or a delete that failed to retract breaks the hash or
    * the flag. */
  def q139SoftDelete(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
      .withColumn("is_deleted", pmod(col("event_id"), lit(7)) === 3)
    val table = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q139_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id"),
      softDeleteCol = Some("is_deleted")))
    val bucket = pmod(col("event_id"), lit(3))
    var state = graft.ops.IncrementalAgg.emptyState(s,
      org.apache.spark.sql.types.StringType)
    (0 until 3).foreach { b =>
      val changes = table.upsertChanges(cdc.filter(bucket === b))
      state = graft.ops.IncrementalAgg
        .applyDelta(state, changes, "event_type", "value",
          softDeleteField = Some("is_deleted"))
        .localCheckpoint(true)
    }
    val live = table.readLive()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("value").cast("decimal(20,2)")).cast("decimal(22,2)")
          .as("total_live"))
    live.as("l")
      .join(state.as("st"), col("l.event_type") <=> col("st.group"),
        "full_outer")
      .select(coalesce(col("l.event_type"), col("st.group")).as("event_type"),
        col("n_live"),
        col("total_live").cast("double").as("total_value"),
        (col("n_live") <=> col("n_rows") &&
          col("total_live") <=> col("total")).as("state_matches"))
      .orderBy("event_type")
  }

  val q139SoftDeleteSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |flagged AS (
      |  SELECT *, (event_id % 7 = 3) AS is_deleted FROM cdc),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM flagged)
      |SELECT event_type, COUNT(*) AS n_live,
      |  CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS total_value,
      |  TRUE AS state_matches
      |FROM ranked WHERE rn = 1 AND NOT is_deleted
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q140
  /** Z-order clustered read ([[graft.sink.VersionedLakeTable
    * .optimizeZOrder]], [[graft.ops.ZOrder]]) — the `OPTIMIZE ... ZORDER
    * BY` maintenance op: the merged CDC lake is rewritten with files
    * clustered along the Morton interleave of (event_id, value), then
    * read through the file-stats index with a range predicate on `value`
    * — a NON-leading clustering column, the case linear clusterBy cannot
    * prune (q129 covers the leading column). File granularity keeps rows
    * the predicate then drops, so the exact filter re-applies as a
    * residual and the result must equal a plain filtered latest-wins
    * snapshot — hash-green pins the whole chain: z-rewrite commit →
    * footer-harvested sidecar → multi-column prune → residual. Bounds
    * derive from MAX(value) by IEEE double arithmetic identical in both
    * engines, so the entry is scale-free across sf dirs.
    * `maxRecordsPerFile = 4` forces multiple files per partition dir at
    * every sf (file-level skipping needs files to skip); the bench pair
    * `m_vread_zorder_val` / `m_vread_linear_val` records the skipping
    * win at size. */
  def q140ZOrderRead(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val table = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q140_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")),
      statsCols = Seq("event_id", "value"), maxRecordsPerFile = 4)
    val bucket = pmod(col("event_id"), lit(3))
    (0 until 3).foreach(b => table.upsert(cdc.filter(bucket === b)))
    table.optimizeZOrder(Seq("event_id", "value"), bits = 10)
    val vmax = events(s, dir).agg(max(col("value"))).head().getDouble(0)
    val (lo, hi) = (vmax * 0.25, vmax * 0.75)
    table.readWhereStats(None, keepFile =
        graft.sink.FileStatsIndex.range("value", Some(lo), Some(hi)))
      .filter(col("value").between(lo, hi))
      .select(snapshotCols.map(col): _*)
      .orderBy("id")
  }

  val q140ZOrderReadSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |m AS (SELECT MAX(value) * CAST(0.25 AS DOUBLE) AS lo,
      |             MAX(value) * CAST(0.75 AS DOUBLE) AS hi
      |      FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value, props, event_id
      |FROM r, m
      |WHERE rn = 1 AND value BETWEEN m.lo AND m.hi
      |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q142
  /** Incrementally maintained fact⋈dim view ([[graft.ops.JoinView]] — the
    * JOIN member of the maintenance family): the CDC stream (with q139's
    * tombstones riding it) is the FACT side, a small `event_type`
    * dimension is delivered LATE and out of referential order — half the
    * types (md5-bucket 0) arrive in cycle 2, the rest in cycle 3, and
    * cycle 3 also UPDATES bucket-0 labels — so every maintenance path
    * runs: facts orphan while their dim is missing, promote when it
    * lands, refresh in place on the dim update, tombstone on fact
    * deletes, and retarget when a key's latest event_type changes. The
    * oracle recomputes the final state from scratch: live latest-wins
    * facts inner-joined to the final dim image (md5-bucketed CASE — the
    * cross-engine randomness idiom). Hash-green pins the whole fold
    * sequence, not just the final join. */
  def q142JoinView(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.JoinView
    val cdc = cdcView(s, dir)
      .withColumn("is_deleted", pmod(col("event_id"), lit(7)) === 3)
    val fact = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q142_fact").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id"),
      softDeleteCol = Some("is_deleted")))
    // the dim universe: one row per event_type, md5-bucketed into an
    // early half (arrives cycle 2, label updated cycle 3) and a late
    // half (arrives cycle 3)
    val types = cdc.select(col("event_type").as("etype")).distinct()
      .withColumn("b", graft.curate.Sampling.bucket32(col("etype")) % 2)
      .localCheckpoint(true)
    def dimRows(bucket: Int, v2: Boolean) = types
      .filter(col("b") === bucket)
      .select(col("etype"),
        concat(upper(col("etype")), lit(if (v2) "-v2" else "")).as("type_label"))
    val base = Files.createTempDirectory("graft_q142_view").toString
    val jv = new JoinView(s, s"$base/view", s"$base/orphans",
      factKeys = Seq("id"), fkCol = "event_type",
      factPrecombine = "update_at", partitionSource = "create_at")
    val bucket = pmod(col("event_id"), lit(3))
    val dimCycles = Seq(
      dimRows(0, v2 = false).limit(0), // cycle 1: no dims at all
      dimRows(0, v2 = false),          // cycle 2: early half, v1 labels
      // cycle 3: late half + the early half's UPDATED labels
      dimRows(1, v2 = false).unionByName(dimRows(0, v2 = true)))
    var dimSnap = dimRows(0, v2 = false).limit(0)
    (0 until 3).foreach { i =>
      val changes = fact.upsertChanges(cdc.filter(bucket === i))
      val delta = dimCycles(i)
      // the running dim snapshot: latest image per type after this delta
      dimSnap = delta.unionByName(
          dimSnap.join(delta.select("etype"), Seq("etype"), "left_anti"))
        .localCheckpoint(true)
      jv.applyCycle(changes, delta, dimSnap, "etype")
    }
    jv.readLive()
      .select((snapshotCols :+ "type_label").map(col): _*)
      .orderBy("id")
  }

  val q142JoinViewSql: String =
    s"""WITH cdc AS ($cdcViewSql),
      |flagged AS (
      |  SELECT *, (event_id % 7 = 3) AS is_deleted FROM cdc),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM flagged),
      |dim AS (
      |  SELECT DISTINCT event_type AS etype,
      |    upper(event_type) ||
      |      CASE WHEN CAST(('0x' || substr(md5(event_type), 1, 8)) AS BIGINT) % 2 = 0
      |           THEN '-v2' ELSE '' END AS type_label
      |  FROM cdc)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value, props, event_id, type_label
      |FROM ranked JOIN dim ON event_type = etype
      |WHERE rn = 1 AND NOT is_deleted
      |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q143
  /** q20's CDC merge through MERGE-ON-READ writes ([[KeyedLakeTable
    * .upsertDeferred]] / `readMerged`): the three batches APPEND their
    * winning rows without reading or rewriting any partition — the whole
    * merge cost moves to the read's latest-wins dedup, which is exact
    * because the merge rule is idempotent and associative and
    * `(update_at, event_id)` totally orders a key's versions. Same
    * oracle as q20: hash-green proves the deferred path reaches the
    * identical merged state the eager copy-on-write merge produces. The
    * m_kmerge/m_kread bench pairs record the trade this mode exists
    * for: O(batch) appends vs the eager merge's touched-partition
    * rewrites, against a dearer read until [[KeyedLakeTable
    * .compactMerged]] folds the versions down. */
  def q143DeferredMerge(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val table = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q143_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    (0 until 3).foreach(b => table.upsertDeferred(cdc.filter(bucket === b)))
    table.readMerged().select(snapshotCols.map(col): _*)
      .orderBy("id")
  }

  // --------------------------------------------------------------- q145
  /** q143's merge-on-read trade lifted into the COMMIT LOG
    * ([[graft.sink.VersionedLakeTable.upsertDeferred]]): the three CDC
    * batches commit as APPEND manifests — O(batch) stage + manifest, no
    * partition read or rewrite — and the read of any snapshot whose
    * chain holds appends dedups latest-wins, so time travel, OCC and
    * vacuum semantics carry over unchanged (VersionedMorSpec pins the
    * checkpoint/vacuum/rollback propagation). The final read is q20's
    * merged state — same oracle; hash-green proves the append path's
    * dedup reaches the eager commit-log merge exactly. */
  def q145VersionedMor(s: SparkSession, dir: String): DataFrame = {
    val cdc = cdcView(s, dir)
    val table = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q145_lake").toString,
      recordKeys = Seq("id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("event_id")))
    val bucket = pmod(col("event_id"), lit(3))
    (0 until 3).foreach(b => table.upsertDeferred(cdc.filter(bucket === b)))
    table.read().select(snapshotCols.map(col): _*)
      .orderBy("id")
  }

  val q136ConcurrentCommitsSql: String =
    s"""WITH cdc AS ($cdcViewSql)
      |SELECT id,
      |  substring(create_at, 1, 4) AS create_year,
      |  substring(create_at, 6, 2) AS create_month,
      |  substring(create_at, 9, 2) AS create_day,
      |  substring(create_at, 12, 2) AS create_hour,
      |  substring(create_at, 15, 2) AS create_minute,
      |  update_at, event_type, value, props, event_id
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC, event_id DESC) AS rn
      |  FROM cdc WHERE event_id % 3 <= 1)
      |WHERE rn = 1
      |ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q164
  /** Ordered funnel analysis over the event stream: how many users did
    * view → click → purchase IN THAT ORDER (each stage's event strictly
    * after the previous stage's FIRST qualifying event — the product-
    * analytics funnel, not a mere per-type existence check). The classic
    * window spelling sorts every user's history; this one is three
    * conditional MIN aggregates chained through co-partitioned joins —
    * every exchange hashes user_id (high cardinality, skew-free here),
    * no windows, no per-user history buffering, so a hot user costs the
    * same as a cold one at any corpus size. */
  def q164Funnel(s: SparkSession, dir: String): DataFrame =
    funnelOf(events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us")))

  /** The funnel chain over an arbitrary (user_id, event_type, ts_us)
    * frame — shared by q164 and the ScaleBench ×100 decade fixture. */
  private[graft] def funnelOf(e: DataFrame): DataFrame = {
    val a = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t0"))
    val b = e.filter(col("event_type") === "click")
      .join(a, Seq("user_id"))
      .filter(col("ts_us") > col("t0"))
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val c = e.filter(col("event_type") === "purchase")
      .join(b, Seq("user_id"))
      .filter(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min("ts_us").as("t2"))
    a.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("stage"), col("n_users"))
      .unionAll(b.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("stage"), col("n_users")))
      .unionAll(c.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  val q164FunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |a AS (
      |  SELECT user_id, MIN(ts_us) AS t0 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |b AS (
      |  SELECT e.user_id, MIN(ts_us) AS t1 FROM e JOIN a USING (user_id)
      |  WHERE event_type = 'click' AND ts_us > a.t0 GROUP BY e.user_id),
      |c AS (
      |  SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN b USING (user_id)
      |  WHERE event_type = 'purchase' AND ts_us > b.t1 GROUP BY e.user_id)
      |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM a
      |UNION ALL SELECT '2_click', COUNT(*) FROM b
      |UNION ALL SELECT '3_purchase', COUNT(*) FROM c
      |ORDER BY stage""".stripMargin

  // --------------------------------------------------------------- q165
  /** Weekly cohort retention over the event stream: users bucketed by
    * the calendar week of their FIRST event, then counted per
    * (cohort_week, week_offset) where they were active again — the
    * standard retention triangle. Integer epoch-week arithmetic
    * (`ts_us div week_us`, exact on both engines) instead of date
    * truncation keeps the bucket rule engine-portable. Shape: one
    * per-user MIN aggregate, one co-partitioned join back to the
    * events, one (cohort, offset) count-distinct — all exchanges
    * metadata-narrow, no windows. */
  def q165CohortRetention(s: SparkSession, dir: String): DataFrame =
    cohortOf(events(s, dir).select(col("user_id"), col("ts_us")))

  /** The retention triangle over an arbitrary (user_id, ts_us) frame —
    * shared by q165 and the ScaleBench ×100 decade fixture. */
  private[graft] def cohortOf(e: DataFrame): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val first = e.groupBy("user_id").agg(min("ts_us").as("t0"))
    e.join(first, Seq("user_id"))
      .select(col("user_id"),
        expr(s"t0 div ${weekUs}L").as("cohort_week"),
        (expr(s"ts_us div ${weekUs}L") - expr(s"t0 div ${weekUs}L"))
          .as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val q165CohortRetentionSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      |f AS (SELECT user_id, MIN(ts_us) AS t0 FROM e GROUP BY user_id),
      |j AS (
      |  SELECT e.user_id,
      |    f.t0 // 604800000000 AS cohort_week,
      |    (e.ts_us // 604800000000) - (f.t0 // 604800000000) AS week_offset
      |  FROM e JOIN f USING (user_id))
      |SELECT cohort_week, week_offset,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM j GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin
}
