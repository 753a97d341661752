package lakebench

import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** The benchmark's own seeded input generator. It shares no code with the
  * engine's generators (`graft.oracle.Workload`, `CdcTreeWriter`), so a
  * change to the program cannot shift the inputs it is measured on.
  *
  * The CDC stream follows the reference ingest script's mix: 90% of events
  * touch transactions, 10% accounts; within each family 90% create a new
  * key and 10% update an older, uniformly chosen one. An update changes only
  * `note` and `update_at`, never `create_at`, so it lands in an old minute
  * partition. Events are 1–1199 ms apart, about 100 a minute, so a minute
  * partition holds about 90 transaction rows, the density of a
  * reference-sized table (130k rows over 1.25k minute partitions). Account
  * events only shape the stream (which account a new transaction names);
  * the transactions table is what gets replicated.
  * Every row carries its event number as `event_id`, the tie-break column.
  *
  * Files are written with the parquet library directly, not through Spark,
  * so generating inputs runs no engine code at all. */
object Gen {

  val TxnCols: Seq[String] = Seq("id", "account_id", "create_at", "update_at",
    "entity", "amount", "is_credit", "note", "event_id")
  private val txnSchema = "required binary id (UTF8); " +
    "required binary account_id (UTF8); required binary create_at (UTF8); " +
    "required binary update_at (UTF8); required binary entity (UTF8); " +
    "required int32 amount; required int32 is_credit; " +
    "required binary note (UTF8); required int64 event_id;"

  /** One full row image, column values in the table's column order. */
  type Row = IndexedSeq[Any]

  /** One transaction row image: the chunk it belongs to (0 = the full-load
    * snapshot, c >= 1 = the c-th CDC file) and whether it updates a key. */
  final case class Version(chunk: Int, update: Boolean, row: Row) {
    def key: String = row(0).asInstanceOf[String]
    def updateAt: String = row(3).asInstanceOf[String]
  }

  /** A generated transaction stream, split into the full load and chunks. */
  final case class Stream(versions: Seq[Version], chunks: Int, loadUntil: LocalDateTime)

  /** The files written for a stream; `cdcRows(c - 1)` rows are in `cdc(c - 1)`. */
  final case class Inputs(load: Path, cdc: IndexedSeq[Path], cdcRows: IndexedSeq[Long],
      expected: Path)

  private val T0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val keyFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd/HH/yyyyMMdd-HHmmssSSS")

  def iso(us: Long): String =
    micros(us).format(isoFmt) + f".${Math.floorMod(us, 1000000L)}%06d+0000"

  def micros(us: Long): LocalDateTime = LocalDateTime.ofEpochSecond(
    Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L).toInt * 1000,
    ZoneOffset.UTC)

  private def isoMicros(s: String): Long = {
    val dt = LocalDateTime.parse(s.substring(0, 26))
    dt.toEpochSecond(ZoneOffset.UTC) * 1000000L + dt.getNano / 1000
  }

  /** `loadEvents` events form the full-load snapshot; `chunks` CDC files of
    * `chunkEvents` events each follow. Merchant names (`entity`) are drawn
    * from 40 with a quadratic skew, so a top-10 over them is well defined. */
  def stream(seed: Long, loadEvents: Int, chunkEvents: Int, chunks: Int): Stream = {
    val rnd = new SplittableRandom(seed)
    val txns = ArrayBuffer.empty[Version]
    val accounts = ArrayBuffer.empty[String]
    val latestTxn = ArrayBuffer.empty[Row] // latest image of every txn key
    var clock = T0
    var loadUntilUs = T0
    // the 90/10 splits are stratified: one random slot in every block of
    // ten events is an account event, and one in every ten transaction
    // events an update, so each CDC file carries the same share of updates
    var accountSlot, updateSlot, txnEvents = 0
    var i = 0
    while (i < loadEvents + chunkEvents * chunks) {
      clock += (1 + rnd.nextInt(1199)) * 1000L
      val now = iso(clock)
      val chunk = if (i < loadEvents) 0 else 1 + (i - loadEvents) / chunkEvents
      if (chunk == 0) loadUntilUs = clock
      if (i % 10 == 0) accountSlot = rnd.nextInt(10)
      if (i % 10 != accountSlot && accounts.nonEmpty) {
        val slot = txnEvents % 10
        if (slot == 0) updateSlot = rnd.nextInt(10)
        txnEvents += 1
        if (latestTxn.nonEmpty && slot == updateSlot) {
          val k = rnd.nextInt(latestTxn.size)
          val row = latestTxn(k).updated(3, now).updated(7, s"updated@$now")
            .updated(8, i.toLong)
          latestTxn(k) = row
          txns += Version(chunk, update = true, row)
        } else {
          val acc = accounts(rnd.nextInt(accounts.size))
          val u = rnd.nextDouble()
          val row: Row = Vector(s"$acc=$now", acc, now, now, f"m${(40 * u * u).toInt}%02d",
            1 + rnd.nextInt(500), rnd.nextInt(2), s"new@$now", i.toLong)
          latestTxn += row
          txns += Version(chunk, update = false, row)
        }
      } else if (accounts.isEmpty || rnd.nextInt(10) != 0) {
        accounts += f"acc-${accounts.size}%06d" // the other 10%: email updates
      }
      i += 1
    }
    // the tracker keeps milliseconds; truncating keeps every CDC file after it
    Stream(txns.toSeq, chunks, micros(loadUntilUs / 1000 * 1000))
  }

  /** Write the inputs under `cdcRoot/transactions` in DMS layout:
    * `LOAD00000001.parquet` (the full-load snapshot, no `Op` column) and
    * one `YYYY/MM/DD/HH/YYYYMMDD-HHMMSSfff.parquet` per chunk (`Op` first,
    * named by the chunk's newest `update_at` plus 1 ms). Also writes
    * `expected`: every version that is the latest of its key after some
    * cycle, with `valid_from`/`valid_to` cycle numbers — the expected table
    * after cycle c is the rows with `valid_from <= c < valid_to`. */
  def writeStream(s: Stream, cdcRoot: Path, expected: Path): Inputs = {
    val byChunk = s.versions.groupBy(_.chunk)
    val root = cdcRoot.resolve("transactions")
    Files.createDirectories(root)
    val load = root.resolve("LOAD00000001.parquet")
    val loadRows = scala.collection.mutable.LinkedHashMap.empty[String, Row]
    byChunk.getOrElse(0, Nil).foreach(v => loadRows(v.key) = v.row)
    write(load, txnSchema, loadRows.values.toSeq)
    val cdc = (1 to s.chunks).map { c =>
      val rows = byChunk.getOrElse(c, Nil)
      require(rows.nonEmpty, s"chunk $c has no transaction events")
      val upper = micros(isoMicros(rows.map(_.updateAt).max) + 1000)
      val p = root.resolve(upper.format(keyFmt) + ".parquet")
      Files.createDirectories(p.getParent)
      write(p, "required binary Op (UTF8); " + txnSchema,
        rows.map(v => (if (v.update) "U" else "I") +: v.row))
      p
    }
    // per key, the last version of each chunk, valid until the key's next one
    val exp = ArrayBuffer.empty[Row]
    s.versions.groupBy(_.key).valuesIterator.foreach { kv =>
      val perChunk = kv.groupBy(_.chunk).toSeq.sortBy(_._1).map(_._2.last)
      perChunk.zipWithIndex.foreach { case (v, j) =>
        val to = if (j + 1 < perChunk.size) perChunk(j + 1).chunk else Int.MaxValue
        exp += (v.row :+ v.chunk :+ to)
      }
    }
    Files.createDirectories(expected.getParent)
    write(expected, txnSchema + " required int32 valid_from; required int32 valid_to;", exp.toSeq)
    Inputs(load, cdc, (1 to s.chunks).map(c => byChunk(c).size.toLong), expected)
  }

  /** A seeded link graph with skewed in-degree: sources uniform over
    * `nodes`, destinations drawn as `nodes * u^3`, so a few low-numbered
    * nodes are hubs. Self loops and duplicate pairs are dropped. Each edge
    * carries a crawl time spread over 30 minutes (its `create_at`, the lake
    * partition source) and an equal `update_at`. Returns the edges. */
  def graph(seed: Long, nodes: Int, edges: Int, out: Path): IndexedSeq[(Long, Long)] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val seen = new java.util.HashSet[java.lang.Long]()
    val rows = ArrayBuffer.empty[Row]
    while (rows.size < edges) {
      val src = rnd.nextInt(nodes).toLong
      val u = rnd.nextDouble()
      val dst = (nodes * u * u * u).toLong
      if (src != dst && seen.add(src * nodes + dst)) {
        val at = iso(T0 + (src % 30) * 60000000L + rnd.nextInt(60000000))
        rows += Vector(src, dst, at, at)
      }
    }
    Files.createDirectories(out.getParent)
    write(out, "required int64 src; required int64 dst; " +
      "required binary create_at (UTF8); required binary update_at (UTF8);", rows.toSeq)
    rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toIndexedSeq
  }

  /** Triangles of the undirected simple graph under `edges`, counted the
    * naive way: for each edge (u, v) with u < v, the common neighbours
    * above v. */
  def triangles(edges: Seq[(Long, Long)]): Long = {
    val up = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSet }
    up.iterator.map { case (_, vs) =>
      vs.iterator.map(v => up.get(v).fold(0)(ws => ws.count(vs.contains))).sum.toLong
    }.sum
  }

  private def write(p: Path, schema: String, rows: Seq[Row]): Unit = {
    val mt: MessageType = MessageTypeParser.parseMessageType(s"message row { $schema }")
    Files.deleteIfExists(p)
    val w: ParquetWriter[Group] = ExampleParquetWriter.builder(new LocalOutputFile(p))
      .withType(mt).build()
    val f = new SimpleGroupFactory(mt)
    val types = (0 until mt.getFieldCount).map(i =>
      mt.getType(i).asPrimitiveType().getPrimitiveTypeName.name())
    try rows.foreach { r =>
      val g = f.newGroup()
      var i = 0
      while (i < types.length) {
        types(i) match {
          case "INT32" => g.add(i, r(i).asInstanceOf[Int])
          case "INT64" => g.add(i, r(i).asInstanceOf[Long])
          case _ => g.add(i, r(i).asInstanceOf[String])
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
  }
}
