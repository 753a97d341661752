package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.{PageRank, Triangles}
import graft.oracle.CompareTables
import graft.orchestrate.CdcOrchestrator
import graft.sink.{KeyedLakeTable, LakeTableSpec}

/** One workload: a set-up that generates inputs and bootstraps the lake
  * (run twice: cold for the rounds, then warm for `setup_s`), untimed
  * warm-up, then rounds of the workload's repeating unit until the run's
  * time is up. A round times
  * two engine calls, `primary` and `secondary`. */
trait Workload {
  /** Generate the inputs under `dir` and bootstrap the lake; returns the
    * seconds of the bootstrap write. */
  def setup(dir: Path): Double
  /** Build what the output checks need (untimed, once, after set-up). */
  def prepareChecks(): Unit
  def warmup(): Unit
  def round(): Unit
  /** False once the inputs are used up. */
  def hasMore: Boolean
  /** `rows_per_cpu_s`, `write_amp` and `lake_bytes_per_row`. */
  def endToEnd(): Map[String, Double]
}

object Workload {
  def apply(name: String, b: Bench): Workload = name match {
    case "cdc_cow" => new CdcCow(b)
    case "graph_rank" => new GraphRank(b)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** `cdc_cow`: the reference's path, home of its replication-latency claim.
  * Each cycle, `CdcOrchestrator.runOnce` (one CDC file, `maxFiles = 1`)
  * hands the batch to a copy-on-write keyed merge (`KeyedLakeTable.upsert`)
  * into a table 50 times the batch whose updates land in old minute
  * partitions (`primary`); then the equality oracle
  * (`CompareTables.compare`) checks the lake against the expected state
  * (`secondary`). */
final class CdcCow(b: Bench) extends Workload {
  import CdcCow._
  private val spark = b.spark
  private var stream: Gen.Stream = _
  private var inputs: Gen.Inputs = _
  private var tableDir: Path = _
  private var lake: KeyedLakeTable = _
  private var orch: CdcOrchestrator = _
  /** cycles applied so far; the lake should equal the expected state at it */
  private var cycle = 0
  private var expectedAll: DataFrame = _

  private var cdcRows, cdcBytes, writtenBytes = 0L
  private val bytesPerRow = mutable.ArrayBuffer.empty[Double]

  def setup(dir: Path): Double = {
    cycle = 0
    stream = Gen.stream(b.seed, LoadEvents, ChunkEvents, Chunks)
    inputs = Gen.writeStream(stream, dir.resolve("cdc"), dir.resolve("expected.parquet"))
    tableDir = dir.resolve("lake").resolve("transactions")
    lake = new KeyedLakeTable(spark, LakeTableSpec(tableDir.toString))
    val load = spark.read.parquet(inputs.load.toString)
    val t0 = System.nanoTime()
    b.trace.span("sink.keyed.overwrite")(lake.overwrite(load))
    val secs = (System.nanoTime() - t0) / 1e9
    orch = new CdcOrchestrator(spark, dir.resolve("cdc").toString,
      dir.resolve("plans").toString, dir.resolve("tracker.json").toString,
      Seq("transactions"), maxFiles = 1,
      execute = (_, batch) => b.trace.span("sink.keyed.upsert")(lake.upsert(batch)))
    orch.seed("transactions", stream.loadUntil)
    secs
  }

  def prepareChecks(): Unit = {
    expectedAll = spark.read.parquet(inputs.expected.toString).cache()
    expectedAll.count()
  }

  def hasMore: Boolean = cycle < Chunks

  /** The expected table after `c` cycles: the source database's state. */
  private def expectedAt(c: Int): DataFrame =
    expectedAll.where(col("valid_from") <= c && col("valid_to") > c)
      .select(Gen.TxnCols.map(col): _*)

  /** Untimed cycles: after two, the first timed cycle still took about 40%
    * longer than the tenth. */
  def warmup(): Unit = (1 to Warmup).foreach(_ => round())

  def round(): Unit = {
    val before = Disk.list(tableDir)
    val advanced = b.time("primary")(b.trace.span("orchestrate.run_once")(orch.runOnce()))
    cycle += 1
    val made = Disk.created(before, Disk.list(tableDir))
    b.trace.count("sink.keyed.upsert", "files_written", made.size)
    b.trace.count("sink.keyed.upsert", "batch_rows", inputs.cdcRows(cycle - 1))
    // write_amp covers the same cycles in every run, however fast it is
    if (cycle <= AmpCycles) {
      writtenBytes += Disk.bytes(made)
      cdcBytes += Files.size(inputs.cdc(cycle - 1))
    }
    if (b.recording) cdcRows += inputs.cdcRows(cycle - 1)

    val diff = b.time("secondary") {
      val df = b.trace.span("sink.keyed.read")(lake.read())
      b.trace.span("oracle.compare")(CompareTables.compare(df, expectedAt(cycle)))
    }

    b.check(advanced, s"runOnce did not advance at cycle $cycle")
    val planned = orch.latestPlan().toSeq.flatMap(_.todos.flatMap(_.files))
      .map(p => Paths.get(new java.net.URI(p)).toString)
    val want = inputs.cdc(cycle - 1).toString
    b.check(planned == Seq(want), s"cycle $cycle planned $planned, expected $want")
    b.check(diff.isEqual, s"after cycle $cycle: CompareTables reports $diff")
    val expected = Bench.digest(expectedAt(cycle), Gen.TxnCols)
    val got = Bench.digest(lake.read(), Gen.TxnCols)
    b.check(got == expected, s"after cycle $cycle: lake digest $got, expected $expected")
    // bytes a reader of the snapshot scans per live row
    if (b.recording)
      bytesPerRow += Disk.sizeOf(lake.read().inputFiles).toDouble / expected.rows
  }

  def endToEnd(): Map[String, Double] = Map(
    "rows_per_cpu_s" -> cdcRows / b.values("primary_cpu_s").sum,
    "write_amp" -> writtenBytes.toDouble / cdcBytes,
    "lake_bytes_per_row" -> Bench.median(bytesPerRow.toSeq))
}

object CdcCow {
  /** Table/batch ratio 50:1 (the reference sizing asks for at least 50);
    * 10% of transaction events update an older key. The full load spans
    * about 50 minute partitions, so a cycle's 9 updates land in about 9
    * different old partitions. */
  val LoadEvents = 5000
  val ChunkEvents = 100
  /** More CDC files than a run applies; a run that uses them up stops
    * measuring early rather than fail. */
  val Chunks = 30
  val Warmup = 3
  /** `write_amp` counts the warm-up cycles and the first timed one, which
    * every run applies. */
  val AmpCycles: Int = Warmup + 1
}

/** `graph_rank`: training-data analytics over a lake snapshot, with the
  * CDC layers idle. A seeded, skewed link graph is written once through
  * `KeyedLakeTable.overwrite`; each round reads it (through the warm read
  * memo), runs `PageRank.run` with 5 iterations materialized to the `noop`
  * sink (`primary`), `Triangles.total` (`secondary`), and one SQL query
  * over the registered table (the top 10 nodes by in-degree). */
final class GraphRank(b: Bench) extends Workload {
  import GraphRank._
  private val spark = b.spark
  private var input: Path = _
  private var edges: IndexedSeq[(Long, Long)] = _
  private var lake: KeyedLakeTable = _
  private var inputBytes, writtenBytes = 0L
  private var triangles = -1L
  private var topIn: Seq[String] = Nil
  private var rankDigest: Option[Bench.Digest] = None

  def setup(dir: Path): Double = {
    input = dir.resolve("graph").resolve("edges.parquet")
    edges = Gen.graph(b.seed, Nodes, Edges, input)
    inputBytes = Files.size(input)
    val root = dir.resolve("lake").resolve("edges")
    lake = new KeyedLakeTable(spark, LakeTableSpec(root.toString, recordKeys = Seq("src", "dst")))
    val df = spark.read.parquet(input.toString)
    val t0 = System.nanoTime()
    b.trace.span("sink.keyed.overwrite")(lake.overwrite(df))
    val secs = (System.nanoTime() - t0) / 1e9
    writtenBytes = Disk.bytes(Disk.list(root).values)
    secs
  }

  /** The triangle count and the in-degree top 10, computed in plain Scala
    * from the generated edges. */
  def prepareChecks(): Unit = {
    triangles = Gen.triangles(edges)
    topIn = edges.groupBy(_._2).map { case (d, es) => (d, es.size.toLong) }.toSeq
      .sortBy { case (d, n) => (-n, d) }.take(10).map { case (d, n) => s"$d|$n" }
  }

  def hasMore: Boolean = true

  /** Two untimed rounds: the first takes about 1.7 times as long as the
    * third. */
  def warmup(): Unit = (1 to 2).foreach(_ => round())

  def round(): Unit = {
    val e = b.trace.span("sink.keyed.read")(lake.read())
    val ranks = b.time("primary")(b.trace.span("graph.pagerank") {
      val r = PageRank.run(e, iters = Iters)
      r.write.format("noop").mode("overwrite").save()
      r
    })
    val tri = b.time("secondary")(b.trace.span("graph.triangles")(
      Triangles.total(e).head().getLong(0)))
    b.trace.span("sink.keyed.read")(lake.registerAs("lb_edges"))
    b.attempted += 1
    val top = b.trace.span("sql.query")(spark.sql(
      """SELECT dst, COUNT(*) AS n FROM lb_edges
        |GROUP BY dst ORDER BY n DESC, dst LIMIT 10""".stripMargin).collect())

    b.check(tri == triangles, s"Triangles.total = $tri, naive count = $triangles")
    val got = top.map(_.toSeq.mkString("|")).toSeq
    b.check(got == topIn, s"in-degree top 10 $got, expected $topIn")
    // ranks are integer fixed point: their sum is the scale minus what the
    // truncating divisions drop, under one unit per edge or node per round
    val mass = ranks.agg(sum("rank")).head().getLong(0)
    val digest = Bench.digest(ranks, Seq("node", "rank"))
    ranks.unpersist(blocking = true)
    val slack = (edges.size + 3 * digest.rows) * (Iters + 1)
    b.check(mass <= PageRank.Scale && PageRank.Scale - mass <= slack,
      s"PageRank mass $mass is not within $slack of ${PageRank.Scale}")
    b.check(rankDigest.forall(_ == digest), s"PageRank output $digest differs from $rankDigest")
    rankDigest = Some(digest)
  }

  def endToEnd(): Map[String, Double] = Map(
    "rows_per_cpu_s" -> {
      val cpu = b.values("primary_cpu_s")
      edges.size.toDouble * Iters * cpu.size / cpu.sum
    },
    "write_amp" -> writtenBytes.toDouble / inputBytes,
    "lake_bytes_per_row" -> Disk.sizeOf(lake.read().inputFiles).toDouble / edges.size)
}

object GraphRank {
  val Nodes = 1000
  val Edges = 5000
  val Iters = 5
}
