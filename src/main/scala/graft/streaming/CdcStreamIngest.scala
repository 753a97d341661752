package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ops.LakeOps
import graft.sink.KeyedLakeTable

/** S7/K3/§2.8 — the streaming ingest variant: the reference's Lambda stream
  * consumer (micro-batches of ≤100 records / 10 s,
  * `lambda_functions/dynamodb_stream_consumer.py:8-9,31-90`) re-expressed as
  * Structured Streaming.
  *
  * Two modes, mirroring the two things the consumer does:
  *  - [[toLakeTable]]: stream → foreachBatch → keyed upsert merge. The merge
  *    is idempotent and precombine-guarded, so replayed or out-of-order
  *    micro-batches are safe (a late old `update_at` never clobbers a newer
  *    row — `incremental.py:225-226` semantics);
  *  - [[toPartitionedJson]]: stream → derive event-time minute partitions →
  *    partitioned JSON-lines files (K3, `dynamodb_stream_consumer.py:61-90`),
  *    i.e. the landing-zone writer the batch pipeline later consumes.
  */
object CdcStreamIngest {

  /** Registry rows visible to a micro-batch: everything EXCEPT the
    * current lineage's rows at `batch_id >= batchId`. Hiding by
    * (lineage, batch id) rather than batch id alone is what lets a
    * registry outlive any single stream: batch ids restart at 0 under a
    * fresh checkpoint, so a bare `batch_id < current` filter would make
    * a continuation stream (new checkpoint, same registry) silently
    * ignore the entire accumulated state, while same-lineage replays
    * still see exactly the pre-batch registry. The lineage is the
    * stream's persisted query id ([[lineageToken]]) — the identifier
    * Structured Streaming itself scopes batch ids to. */
  private def priorRows(registry: DataFrame, lineage: String,
      batchId: Long): DataFrame =
    // coalesce: a NULL lineage (e.g. a row schema-evolved into an older
    // registry) must read as "some other lineage" — always visible —
    // not disappear under three-valued =!= semantics
    registry.filter(coalesce(col("lineage"), lit("")) =!= lineage ||
      col("batch_id") < batchId)

  /** The stream's lineage token: the StreamingQuery id that Structured
    * Streaming persists in the checkpoint's `metadata` file at query
    * start (before the first batch runs, so it is always readable from
    * inside `foreachBatch`). Using the persisted id rather than the
    * checkpoint-dir STRING closes two replay holes:
    *  - deleting and recreating a checkpoint at the SAME path (the
    *    standard reprocess move) restarts batch ids at 0 — under a
    *    path-string lineage the new stream would hide every accumulated
    *    registry row with `batch_id >= current` and dedup against a
    *    truncated registry; the recreated checkpoint gets a FRESH query
    *    id, so prior rows correctly read as another lineage;
    *  - restarting a crashed stream under a different SPELLING of the
    *    same path (relative vs absolute, trailing slash) would read as a
    *    new lineage and let the replayed batch see its own crashed
    *    append, deduping its docs against themselves — the persisted id
    *    is spelling-invariant. */
  private[streaming] def lineageToken(spark: SparkSession,
      checkpointDir: String): String = {
    val path = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(path)
    val raw = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toString("UTF-8")
    } finally in.close()
    // one-line JSON {"id":"<uuid>"} — extracted by regex so the engine
    // takes no JSON-library dependency for a 36-char field
    """"id"\s*:\s*"([0-9a-fA-F\-]+)"""".r.findFirstMatchIn(raw)
      .map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"checkpoint metadata at $path carries no query id: $raw"))
  }

  /** File-based CDC stream source. `maxFilesPerTrigger` is the micro-batch
    * bound (the reference's 100-records/10-s window analog). */
  def fileStream(spark: SparkSession, sourceDir: String, schema: StructType,
      maxFilesPerTrigger: Int = 2): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)

  /** The one drain of every foreachBatch lake writer: `write` runs on
    * each NON-EMPTY micro-batch with its batch id and the stream's
    * lineage token ([[lineageToken]]). `Trigger.AvailableNow` processes
    * the current backlog in bounded micro-batches and stops —
    * deterministic for tests/harness; a live deployment would pass a
    * processing-time trigger. The lineage is resolved once, by the first
    * batch that asks for it (the checkpoint metadata exists from query
    * start), so a writer that never uses it never reads it. */
  private def drain(stream: DataFrame, checkpointDir: String)(
      write: (DataFrame, Long, () => String) => Unit): Unit = {
    var lineage: String = null
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) write(batch, batchId, () => {
          if (lineage == null)
            lineage = lineageToken(batch.sparkSession, checkpointDir)
          lineage
        })
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** `cols` of `df` plus the constant `create_at`/`update_at` lake
    * columns of the rows a streaming head writes with no event time of
    * their own (registry and rank rows) — all in one partition. */
  private def withLakeTimestamps(df: DataFrame, cols: Column*): DataFrame =
    df.select(cols ++ Seq("create_at", "update_at")
      .map(lit("2000-01-01T00:00:00.000000+0000").as(_)): _*)

  /** Drain the stream into a keyed lake table via per-micro-batch upsert. */
  def toLakeTable(stream: DataFrame, table: KeyedLakeTable,
      checkpointDir: String): Unit =
    drain(stream, checkpointDir)((batch, _, _) => table.upsert(batch))

  /** §2.8 event-time windowing with a watermark: tumbling-window counts per
    * event type. Append mode emits a window only once its end passes the
    * watermark, and events arriving later than `watermarkDelay` behind the
    * stream's max event time are dropped — the state store stays bounded no
    * matter how long the stream runs (the unbounded-state guard the
    * reference's minute-bucket consumer never needed because Lambda state
    * died every 10 s). */
  def windowedEventCounts(stream: DataFrame, tsCol: String,
      windowDur: String, watermarkDelay: String): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Drain the stream into a VERSIONED lake table: each non-empty
    * micro-batch commits one snapshot, so the stream's whole history is
    * time-travelable ([[graft.sink.VersionedLakeTable.read]] at any batch
    * boundary) and a bad deployment window is one `rollback` away —
    * the commit timeline the reference gets from Hudi under its streaming
    * writers. Idempotence note: replaying a checkpointed micro-batch
    * re-runs the same latest-wins merge (a no-change merge still commits
    * a version, which is harmless and vacuumable). */
  def toVersionedTable(stream: DataFrame, table: graft.sink.VersionedLakeTable,
      checkpointDir: String, deferred: Boolean = false,
      compactEvery: Int = 0): Unit = {
    require(compactEvery == 0 || deferred,
      "compactEvery is the merge-on-read maintenance cadence — it needs " +
        "deferred = true (eager merges have nothing to fold)")
    drain(stream, checkpointDir) { (batch, _, _) =>
      // `deferred` commits each micro-batch as an APPEND manifest
      // (VersionedLakeTable.upsertDeferred) — the classic streaming
      // merge-on-read shape: frequent cheap commits, reads dedup — and
      // `compactEvery` bounds the read amplification by folding the
      // accumulated versions every N appended batches (a fresh FULL
      // commit; safe here because the stream is the only writer). The
      // cadence reads the table's DURABLE append-chain length, not a
      // local counter: a restart from checkpoint resumes mid-chain
      // instead of resetting to zero and letting repeated restarts grow
      // the chain unboundedly past the knob.
      if (deferred) {
        table.upsertDeferred(batch)
        if (compactEvery > 0 && table.appendChainLength() >= compactEvery)
          table.compactSnapshot()
      } else table.upsert(batch)
    }
  }

  /** Drain the stream into a MAINTAINED JOIN VIEW: each micro-batch
    * merges into the fact table and its change feed folds into the
    * [[graft.ops.JoinView]] in the same foreachBatch scope — the
    * streaming head of the incremental-maintenance family (the batch
    * path is q142). The dim side is a callable snapshot so a slowly
    * changing dimension can be re-read per batch; dim DELTAS ride the
    * dedicated `dimDelta` callable (empty for a static dim). Replay
    * note: a checkpoint-replayed micro-batch re-merges as noops, whose
    * change feed is all-noop and folds to nothing — the view fold is as
    * idempotent as the merge beneath it. */
  def toMaintainedView(stream: DataFrame, fact: KeyedLakeTable,
      view: graft.ops.JoinView, dimKey: String,
      dimSnap: () => DataFrame,
      dimDelta: () => DataFrame,
      checkpointDir: String): Unit =
    drain(stream, checkpointDir) { (batch, _, _) =>
      val changes = fact.upsertChanges(batch)
      view.applyCycle(changes, dimDelta(), dimSnap(), dimKey)
    }

  /** §2.8 ingestion dedup: at-least-once upstream delivery (stream-consumer
    * retries re-deliver records — the reference's Lambda consumer is
    * explicitly retried on failure) reduced to exactly-once rows with
    * BOUNDED state. A duplicate is recognized for as long as its event
    * time is within `watermarkDelay` of the stream's max event time;
    * older dedup state is evicted (and rows behind the watermark are
    * dropped as late), which is what keeps the state store finite on an
    * unbounded stream — the Spark-native `dropDuplicatesWithinWatermark`
    * operator, surfaced here as the ingest-side twin of the sink's keyed
    * latest-wins merge (which stays the layer that makes REPLAYED batches
    * idempotent; this layer makes RE-DELIVERED records unique). */
  def dedupedStream(stream: DataFrame, idCols: Seq[String], tsCol: String,
      watermarkDelay: String): DataFrame = {
    require(idCols.nonEmpty, "dedupedStream: need at least one id column")
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)
  }

  /** Streaming SemDeDup — [[graft.sim.Similarity.semanticDedupIncremental]]
    * wired as a continuously-ingesting pipeline: each micro-batch of
    * embedding rows is swept against the accumulated member REGISTRY,
    * surviving rows upsert into `kept`, and ALL batch members (kept and
    * dropped — the paper's sweep counts dropped earlier members) append
    * to the registry for the next batch. Batch-over-batch this equals
    * one pass over the concatenation with rank (arrival, csim, id) — the
    * prefix property q148 pins; StreamingSemDedupSpec pins the streaming
    * wiring against manual incremental calls.
    *
    * RESTART SAFETY (the foreachBatch replay problem): a crashed batch
    * may have committed its registry append without checkpointing, so
    * the replay would find its OWN members in the registry and drop
    * every row against itself (cos(x,x)=1). Two mechanisms close it:
    *  - the registry read ANTI-JOINS the current batch's ids out, so a
    *    row is only ever swept against OTHER rows — replays recompute
    *    the exact pre-batch decision;
    *  - the registry table is KEYED by `idCol` (MoR read dedup), so the
    *    replayed append lands as a same-key duplicate that collapses on
    *    read instead of double-seeding future sweeps; `kept` upserts are
    *    idempotent by key as always.
    *
    * Ordering semantics: within a batch the rank is [[graft.sim
    * .Similarity.semanticDedup]]'s (csim to the fixed `centroids`, id) —
    * the paper's diversity rule — which makes the kept set depend on
    * where micro-batch boundaries fall (two near-dups in one batch rank
    * by csim; split, by arrival). For boundary-INVARIANT streaming pass
    * empty `centroids` with ids monotone in arrival order: null csim
    * degrades the rank to (arrival, id) = global arrival order, and any
    * split of the stream keeps the same set (spec-pinned). Use the
    * invariant mode when the source re-batches nondeterministically;
    * use centroids when batches are meaningful corpus slices.
    *
    * `registry`'s spec must key on `idCol`; rows are written as
    * (`idCol`, `clusterCol`, nrm, `embCol`) + constant lake timestamp
    * columns (one partition — registry reads are whole-scans by nature:
    * every batch needs all prior members of its clusters. A 100 TB
    * registry would cluster-range-partition and read only the batch's
    * clusters; the append/anti-join shape is unchanged). NULL-cluster
    * rows pass through kept and never enter the registry (the operator
    * contract). */
  def toSemanticDedupTable(stream: DataFrame, idCol: String, embCol: String,
      clusterCol: String, centroids: () => DataFrame, tau: Double,
      kept: KeyedLakeTable, registry: graft.sink.VersionedLakeTable,
      checkpointDir: String): Unit = {
    import graft.sim.Similarity
    drain(stream, checkpointDir) { (batch0, _, _) =>
      // the batch feeds three consumers (sweep, kept anti-join,
      // registry append) and the source may be non-deterministic:
      // pin it once
      val batch = batch0.localCheckpoint(true)
      val regStored = registry.latestVersion
        .map(_ => registry.read())
      val emptyReg = batch
        .select(col(clusterCol), lit(0.0).as("nrm"), col(embCol))
        .limit(0)
      val reg = regStored
        .map(_.join(batch.select(col(idCol)), Seq(idCol), "left_anti")
          .select(col(clusterCol), col("nrm"), col(embCol)))
        .getOrElse(emptyReg)
      val step = Similarity.semanticDedupIncremental(batch, idCol,
        embCol, clusterCol, centroids(), reg, tau)
      kept.upsert(step.kept)
      registry.upsertDeferred(withLakeTimestamps(
        batch.filter(col(clusterCol).isNotNull), col(idCol), col(clusterCol),
        Similarity.l2Norm(col(embCol)).as("nrm"), col(embCol)))
    }
  }

  /** Streaming span (C4) dedup — [[graft.dedup.SpanDedup.incremental]]
    * wired as a continuously-ingesting pipeline: each micro-batch of
    * documents is deduped against the accumulated span REGISTRY (the
    * distinct 16-byte span keys of everything already ingested), the
    * cleaned rows upsert into `cleaned`, and the batch's genuinely new
    * spans append to the registry. Batch-over-batch this equals ONE
    * [[graft.dedup.SpanDedup.clean]] over the concatenation in batch
    * order (the operator's composition contract) — and when ids are
    * MONOTONE in arrival order, batch order IS corpus order, so any
    * split of the stream produces the identical cleaned corpus as the
    * one-shot clean (StreamingSpanDedupSpec pins 1-batch ≡ 3-batch ≡
    * row-at-a-time; q151 pins it against the one-shot C4 SQL oracle).
    *
    * RESTART SAFETY (the foreachBatch crash window — a batch whose
    * registry append committed but whose checkpoint didn't would, on
    * replay, find its OWN spans in the registry and drop every one of
    * them as prior occurrences): registry rows carry the stream
    * LINEAGE (the persisted query id — [[lineageToken]]) and the
    * micro-batch id, and the read
    * hides only the current lineage's rows at `batch_id >= current` —
    * a replay (same lineage, same batch id) sees exactly the pre-batch
    * registry. Rows from OTHER lineages are always visible: batch ids
    * restart at 0 under a fresh checkpoint, so a continuation stream
    * (new checkpoint, new data, same registry) would otherwise silently
    * ignore the entire accumulated registry — the lineage column is
    * what makes the registry outlive any one stream. The registry table
    * is keyed on the span hash, so the replayed append collapses by key
    * on MoR read instead of double-listing; `cleaned` upserts are
    * idempotent by doc id.
    *
    * `registry`'s spec must key on `h` (binary). Registry rows are one
    * partition (constant lake timestamps) — registry reads are
    * whole-scans by nature (the anti-join probes every prior span); a
    * 100 TB registry would bucket-write on `h` so the anti-join
    * consumes bucketing exchange-free, as the batch operator's scaladoc
    * already prescribes. */
  def toSpanDedupTable(stream: DataFrame, idCol: String, textCol: String,
      k: Int, cleaned: KeyedLakeTable,
      registry: graft.sink.VersionedLakeTable,
      checkpointDir: String): Unit =
    drain(stream, checkpointDir) { (batch0, batchId, lineageOf) =>
      val lineage = lineageOf()
      // the batch feeds the span pass, the cleaned upsert, and the
      // lake-column join; the source may be non-deterministic — pin it
      val batch = batch0.localCheckpoint(true)
      val reg = registry.latestVersion
        .map(_ => priorRows(registry.read(), lineage, batchId)
          .select(col("h")))
        .getOrElse(batch.select(lit(Array.empty[Byte]).as("h")).limit(0))
      val step = graft.dedup.SpanDedup.incremental(
        batch.select(col(idCol), col(textCol)), idCol, textCol, reg, k)
      // re-attach the stream's lake columns (create_at/update_at) to
      // the cleaned projection by id for the keyed upsert
      cleaned.upsert(step.cleaned.join(
        batch.select(col(idCol), col("create_at"), col("update_at")),
        Seq(idCol)))
      registry.upsertDeferred(withLakeTimestamps(step.newSpans, col("h"),
        lit(lineage).as("lineage"), lit(batchId).as("batch_id")))
    }

  /** Streaming MinHash-LSH near-dup dedup — the third member of the
    * streaming dedup trio (span/C4: [[toSpanDedupTable]]; semantic:
    * [[toSemanticDedupTable]]): each micro-batch of documents is deduped
    * against the accumulated DOCUMENT REGISTRY via
    * [[graft.dedup.Dedup.incrementalDedupSigs]], survivors upsert into
    * `cleaned`, and the WHOLE batch (survivors and drops alike) appends
    * to the registry with its signature arrays.
    *
    * Registering drops too is what makes the semantics split-invariant:
    * with ids MONOTONE in arrival order, a document is dropped iff it
    * near-duplicates ANY smaller-id document — kept or not — so the
    * cleaned table is independent of where the micro-batch boundaries
    * fall and equals the one-shot
    * `incrementalDedup(empty, corpus)` (StreamingNearDupSpec pins
    * 1-batch ≡ 3-batch ≡ row-at-a-time; q153 pins it against the exact
    * Jaccard pair SQL at the proven recall-total config). A kept-only
    * registry would instead make survival depend on whether a doc's
    * nearest dup was itself dropped — batch-boundary-dependent.
    *
    * RESTART SAFETY (same (lineage, batch-id) protocol as the span
    * registry — see [[priorRows]]): a replay of a batch whose registry
    * append committed but whose checkpoint didn't sees exactly the
    * pre-batch registry — a doc is never deduped against itself — while
    * a continuation stream under a fresh checkpoint still sees every
    * prior lineage's rows. The registry is keyed on the doc id, so the
    * replayed append collapses by key on MoR read; `cleaned` upserts
    * are idempotent by doc id.
    *
    * SCALE SHAPE: the registry stores each doc's minhash SIGNATURE
    * array alongside its text
    * ([[graft.dedup.Dedup.incrementalDedupSigs]]), so a batch pays
    * shingling for ITSELF only, one metadata-narrow banded bucket join
    * against the registry's stored signatures, and an exact-Jaccard
    * verify that re-shingles only the candidate pairs' texts — the
    * corpus is never re-shingled (the text-registry form
    * [[graft.dedup.Dedup.incrementalDedup]] re-runs LSH over
    * registry ∪ batch every batch; SigRegistrySpec pins the two forms
    * equal, so this head keeps the cheap one). */
  def toNearDupTable(stream: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      cleaned: KeyedLakeTable, registry: graft.sink.VersionedLakeTable,
      checkpointDir: String, maxBucket: Int = 10000): Unit =
    drain(stream, checkpointDir) { (batch0, batchId, lineageOf) =>
      val lineage = lineageOf()
      // the batch feeds the LSH pass, the cleaned upsert, and the
      // registry append; the source may be non-deterministic — pin it
      val batch = batch0.localCheckpoint(true)
      val reg = registry.latestVersion
        .map(_ => priorRows(registry.read(), lineage, batchId)
          .select(col(idCol), col(textCol), col("sig")))
        .getOrElse(batch
          .select(col(idCol), col(textCol),
            lit(null).cast("array<bigint>").as("sig"))
          .limit(0))
      val step = graft.dedup.Dedup.incrementalDedupSigs(reg,
        batch.select(col(idCol), col(textCol)), idCol, textCol,
        n, bands, rowsPerBand, threshold, maxBucket,
        // footer-metadata size hint drives the adaptive candidate
        // semi-filter (upper bound over the MoR chain — fine for a
        // regime decision)
        registrySizeHint = registry.approxRowCount())
      // re-attach the stream's lake columns to the survivors by id
      cleaned.upsert(step.kept.join(
        batch.select(col(idCol), col("create_at"), col("update_at")),
        Seq(idCol)))
      registry.upsertDeferred(withLakeTimestamps(step.registryRows,
        col(idCol), col(textCol), col("sig"),
        lit(lineage).as("lineage"), lit(batchId).as("batch_id")))
    }

  /** Streaming corpus-global line dedup —
    * [[graft.text.LineClean.dropRepeatedLines]] (RefinedWeb boilerplate
    * removal: a line occurring in >= `maxDocs` DISTINCT documents is
    * removed from EVERY document) as a continuously-ingesting pipeline
    * with RETROACTIVE correction. Line dedup is the one member of the
    * streaming curation family whose drop rule has no first-occurrence
    * privilege: a line's hotness is a property of the WHOLE corpus, so a
    * document emitted clean in batch 1 becomes dirty when batch 40
    * delivers the occurrence that crosses the threshold. The head
    * resolves it through the lake's own merge semantics instead of
    * reprocessing: affected prior documents are RE-CLEANED and upserted
    * (latest-wins by key), and a document whose every line went hot is
    * soft-deleted ([[graft.sink.LakeTableSpec.softDeleteCol]] tombstone)
    * — counts only grow, so tombstones never resurrect.
    *
    * Because the rule is corpus-symmetric, the final table state is
    * invariant under BOTH micro-batch boundaries AND arrival order (the
    * other heads need monotone ids; this one does not): `readLive()`
    * equals the one-shot `dropRepeatedLines` over the full corpus —
    * StreamingLineDedupSpec pins 1/3/row-at-a-time splits and a reversed
    * arrival order; q162 pins the whole pipeline against q160's SQL
    * oracle verbatim.
    *
    * Per micro-batch (counts are MONOTONE — the levers follow):
    *  1. explode the batch into (id, pos, line, md5) rows;
    *  2. hotness can change only for lines PRESENT in the batch, so the
    *     distinct-doc count aggregates only `all ⋉ batch-lines` — never
    *     the whole registry's distinct line set;
    *  3. affected = batch docs ∪ prior docs sharing a now-hot batch
    *     line; only THEIR lines are re-swept (against the full hot set
    *     restricted to their lines — a re-clean must drop already-hot
    *     lines too) and reassembled;
    *  4. survivors upsert with the tombstone flag false, all-hot docs
    *     upsert as tombstones; the batch's line rows append to the
    *     registry keyed (id, pos).
    *
    * RESTART SAFETY: same (lineage, batch-id) protocol as the other
    * registries ([[priorRows]]) — a replay sees exactly the pre-batch
    * line rows, recomputes the identical upserts (idempotent by key),
    * and its re-appended line rows collapse by (id, pos) on MoR read; a
    * continuation stream under a fresh checkpoint sees every prior
    * lineage's rows.
    *
    * SCALE SHAPE: every exchange before reassembly carries (md5, id,
    * pos) — line text crosses only the per-affected-doc reassembly
    * groupBy, the same width discipline as the batch operator. The
    * registry read is a whole-scan like the other heads'; a 100 TB
    * registry would bucket-write on the line hash and additionally
    * maintain an (h, doc-count) summary table so step 2's aggregate
    * reads counters instead of re-counting pairs — the per-batch join
    * shape is unchanged.
    *
    * `cleaned`'s spec must set `softDeleteCol`; `registry`'s spec must
    * key on (`idCol`, `pos`). */
  def toLineDedupTable(stream: DataFrame, idCol: String, textCol: String,
      maxDocs: Int, cleaned: KeyedLakeTable,
      registry: graft.sink.VersionedLakeTable,
      checkpointDir: String, delim: String = "\n"): Unit = {
    val goneCol = cleaned.spec.softDeleteCol.getOrElse(throw
      new IllegalArgumentException("toLineDedupTable: cleaned table needs " +
        "spec.softDeleteCol — retroactive all-hot docs tombstone"))
    // a mis-keyed registry would not fail — MoR latest-wins would
    // silently collapse each doc's line rows to one — so reject it loudly
    require(registry.spec.recordKeys == Seq(idCol, "pos"),
      s"toLineDedupTable: registry must be keyed ($idCol, pos), got " +
        registry.spec.recordKeys.mkString("(", ", ", ")"))
    drain(stream, checkpointDir) { (batch0, batchId, lineageOf) =>
      val lineage = lineageOf()
      val batch = batch0.localCheckpoint(true)
      val lineCols = Seq(idCol, "pos", "line", "h",
        "create_at", "update_at").map(col)
      val batchLines = batch
        .select(col(idCol), col("create_at"), col("update_at"),
          posexplode(graft.text.LineClean.lines(col(textCol), delim))
            .as(Seq("pos", "line")))
        .withColumn("h", md5(col("line")))
        .select(lineCols: _*)
        // feeds the count, the affected set, the reassembly, and the
        // registry append — pin once
        .localCheckpoint(true)
      val prior = registry.latestVersion
        .map(_ => priorRows(registry.read(), lineage, batchId)
          .select(lineCols: _*))
        .getOrElse(batchLines.limit(0))
      val all = prior.unionByName(batchLines)
      // hotness can only CHANGE for lines present in this batch
      val hotBatch = all
        .join(batchLines.select(col("h")).distinct(), Seq("h"),
          "left_semi")
        .groupBy(col("h")).agg(countDistinct(col(idCol)).as("__d"))
        .where(col("__d") >= maxDocs).select(col("h"))
      val affected = prior.join(hotBatch, Seq("h"), "left_semi")
        .select(col(idCol))
        .union(batch.select(col(idCol)))
        .distinct()
      val affLines = all.join(affected, Seq(idCol), "left_semi")
        .localCheckpoint(true)
      // the FULL hot set restricted to the affected docs' lines: a
      // re-cleaned doc drops its already-hot lines too
      val hotAff = all
        .join(affLines.select(col("h")).distinct(), Seq("h"),
          "left_semi")
        .groupBy(col("h")).agg(countDistinct(col(idCol)).as("__d"))
        .where(col("__d") >= maxDocs).select(col("h"))
      val rebuiltText = affLines.join(hotAff, Seq("h"), "left_anti")
        .groupBy(col(idCol))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            p => p.getField("line")),
          delim).as(textCol))
      val docMeta = affLines.groupBy(col(idCol))
        .agg(max(col("create_at")).as("create_at"),
          max(col("update_at")).as("update_at"))
      cleaned.upsert(docMeta
        .join(rebuiltText, Seq(idCol), "left")
        .withColumn(goneCol, col(textCol).isNull)
        .withColumn(textCol, coalesce(col(textCol), lit(""))))
      registry.upsertDeferred(batchLines
        .withColumn("lineage", lit(lineage))
        .withColumn("batch_id", lit(batchId)))
    }
  }

  /** Streaming graph maintenance (q169): micro-batches of EDGES upsert
    * into a keyed edge lake table, and ranks are recomputed after each
    * batch over the ACCUMULATED edge set with the pinned fixed-k
    * recurrence ([[graft.graph.PageRank.run]]) and upserted into a ranks
    * table (keyed `node`, latest-wins) — the incremental-PageRank head
    * completing the streaming family (span/line/near-dup/semantic all
    * have one; the graph signal now does too).
    *
    * Why recompute-from-uniform rather than warm-start: the engine's
    * PageRank contract is bit-exactness (integer fixed-point, q161's
    * oracle). A fixed-k warm start from the previous batch's ranks makes
    * the output depend on batch boundaries — not split-invariant and
    * equal to no batch-side oracle — so the deterministic production
    * form recomputes the fixed-k recurrence over the maintained edge
    * set; the ranks table is then bit-equal to the batch operator at
    * EVERY batch boundary (StreamingPagerankSpec pins 1/2/3-way splits
    * against the one-shot run, q169 against q161's SQL verbatim). What
    * the stream maintains incrementally is the EDGE SET — O(batch)
    * upsert work per round against O(corpus) re-derivation, the
    * expensive half at scale: rank recomputation is k joins over the
    * |E|-row lake table (edges cached partitioned on src inside
    * [[graft.graph.PageRank.run]]), while re-deriving edges replays the
    * full source corpus. Duplicate edges in a batch, replays, and
    * cross-batch duplicates all collapse in the (src, dst)-keyed upsert
    * before they ever reach the rank recurrence. */
  def toPagerankTable(stream: DataFrame, edges: KeyedLakeTable,
      ranks: KeyedLakeTable, iters: Int, checkpointDir: String): Unit = {
    require(edges.spec.recordKeys == Seq("src", "dst"),
      "toPagerankTable: edge table must be keyed (src, dst), got " +
        edges.spec.recordKeys.mkString("(", ", ", ")"))
    require(ranks.spec.recordKeys == Seq("node"),
      "toPagerankTable: ranks table must be keyed (node), got " +
        ranks.spec.recordKeys.mkString("(", ", ", ")"))
    drain(stream, checkpointDir) { (batch, _, _) =>
      edges.upsert(batch)
      val ranked = graft.graph.PageRank.run(
        edges.read().select(col("src"), col("dst")), iters = iters)
      ranks.upsert(withLakeTimestamps(ranked, col("*")))
      ranked.unpersist()
    }
  }

  /** The WARM-START variant of [[toPagerankTable]] (q170): after each
    * edge micro-batch upserts into the keyed edge table, ranks are
    * advanced by a FIXED small `itersPerBatch` of the recurrence starting
    * from the PREVIOUS batch's ranks ([[graft.graph.PageRank.resume]] —
    * new nodes start at the uniform share) instead of recomputed
    * from-uniform at full k. This is the maintenance form a continuously
    * ingesting pipeline actually runs: an informed r0 sits close to the
    * fixed point, so k=2 per batch tracks the signal a k=5 cold restart
    * pays 2.5× the iteration joins for (StreamingPagerankWarmSpec pins
    * the convergence claim; the m_spagerank_fold/rebuild bench pair
    * prices it).
    *
    * Unlike q169 the output DEPENDS on batch boundaries (that is the
    * deliberate trade — warm-start is not split-invariant), so the
    * contract is determinism-at-fixed-split: for a FIXED batch sequence
    * the ranks are a bit-exact function of it (integer fixed-point all
    * the way down), and q170's oracle replays the exact per-batch
    * recurrence in SQL, unrolled.
    *
    * Replay safety: ranks append to a VERSIONED table keyed
    * (node, batch_id) with the standard (lineage, batch-id) protocol —
    * a replayed batch reads ranks as of the PREVIOUS batch
    * ([[priorRows]] filters its own crashed append), so replays land on
    * the same bits. The live state is each node's row at the highest
    * batch id. */
  def toPagerankWarmTable(stream: DataFrame, edges: KeyedLakeTable,
      ranks: graft.sink.VersionedLakeTable, itersPerBatch: Int,
      checkpointDir: String): Unit = {
    require(edges.spec.recordKeys == Seq("src", "dst"),
      "toPagerankWarmTable: edge table must be keyed (src, dst), got " +
        edges.spec.recordKeys.mkString("(", ", ", ")"))
    require(ranks.spec.recordKeys == Seq("node", "batch_id"),
      "toPagerankWarmTable: ranks table must be keyed (node, batch_id), got " +
        ranks.spec.recordKeys.mkString("(", ", ", ")"))
    drain(stream, checkpointDir) { (batch, batchId, lineageOf) =>
      val lineage = lineageOf()
      edges.upsert(batch)
      val prior = ranks.latestVersion
        .map { _ =>
          // latest rank per node among PRIOR batches only — a
          // replayed batch must not warm-start from its own
          // crashed append
          priorRows(ranks.read(), lineage, batchId)
            .groupBy(col("node"))
            .agg(max(struct(col("batch_id"), col("rank"))).as("m"))
            .select(col("node"), col("m.rank").as("rank"))
        }
        .getOrElse {
          val s = batch.sparkSession
          import s.implicits._
          Seq.empty[(String, Long)].toDF("node", "rank")
        }
      val ranked = graft.graph.PageRank.resume(
        edges.read().select(col("src"), col("dst")), prior,
        iters = itersPerBatch)
      ranks.upsertDeferred(withLakeTimestamps(ranked, col("node"),
        col("rank"), lit(lineage).as("lineage"), lit(batchId).as("batch_id")))
      ranked.unpersist()
    }
  }

  /** The COMPOSED streaming curation pipeline: span (C4) dedup feeding
    * MinHash-LSH near-dup dedup in ONE foreachBatch — the two-stage
    * text-curation shape a production ingest actually runs (clean
    * boilerplate spans first, then drop near-duplicate documents of the
    * cleaned text). Per micro-batch:
    *  1. the batch dedups against the span REGISTRY
    *     ([[graft.dedup.SpanDedup.incremental]]) — every doc survives
    *     with its `clean_text`;
    *  2. the cleaned docs dedup against the document registry of prior
    *     CLEANED docs ([[graft.dedup.Dedup.incrementalDedupSigs]] — the
    *     signature registry, so stage 2 never re-shingles the corpus);
    *  3. survivors upsert into `curated`; the batch's new spans append
    *     to `spanRegistry` and ALL its cleaned docs (drops included —
    *     the split-invariance rule) append to `docRegistry` with their
    *     signature arrays.
    *
    * With ids MONOTONE in arrival order each stage is batch-boundary
    * invariant, so the composition equals the one-shot
    * `SpanDedup.clean` → `incrementalDedupSigs(empty, cleaned)` chain
    * (StreamingCurateSpec pins 1/3/row-at-a-time splits; q157 pins the
    * WHOLE pipeline against a single SQL statement composing q98's C4
    * clean with the exact-Jaccard drop rule over the cleaned text).
    * Replay safety is per-registry, same (lineage, batch-id) protocol
    * as the single-stage heads ([[priorRows]]). */
  def toCuratedTable(stream: DataFrame, idCol: String, textCol: String,
      k: Int, n: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      curated: KeyedLakeTable, spanRegistry: graft.sink.VersionedLakeTable,
      docRegistry: graft.sink.VersionedLakeTable,
      checkpointDir: String, maxBucket: Int = 10000): Unit =
    drain(stream, checkpointDir) { (batch0, batchId, lineageOf) =>
      val lineage = lineageOf()
      val batch = batch0.localCheckpoint(true)
      // stage 1: span dedup against the span registry
      val spanReg = spanRegistry.latestVersion
        .map(_ => priorRows(spanRegistry.read(), lineage, batchId)
          .select(col("h")))
        .getOrElse(batch.select(lit(Array.empty[Byte]).as("h")).limit(0))
      val spanStep = graft.dedup.SpanDedup.incremental(
        batch.select(col(idCol), col(textCol)), idCol, textCol,
        spanReg, k)
      // the cleaned frame feeds stage 2, the survivors join, and the
      // doc-registry append — pin it (its lineage crosses two lake
      // reads and a span aggregation)
      val cleaned = spanStep.cleaned.localCheckpoint(true)
      // stage 2: near-dup dedup of the CLEANED text via the
      // signature registry
      val docReg = docRegistry.latestVersion
        .map(_ => priorRows(docRegistry.read(), lineage, batchId)
          .select(col(idCol), col(textCol), col("sig")))
        .getOrElse(cleaned
          .select(col(idCol), col("clean_text").as(textCol),
            lit(null).cast("array<bigint>").as("sig"))
          .limit(0))
      val sigStep = graft.dedup.Dedup.incrementalDedupSigs(docReg,
        cleaned.select(col(idCol), col("clean_text").as(textCol)),
        idCol, textCol, n, bands, rowsPerBand, threshold, maxBucket,
        registrySizeHint = docRegistry.approxRowCount())
      // survivors keep their span metrics + the stream's lake columns
      curated.upsert(sigStep.kept.select(col(idCol))
        .join(cleaned, Seq(idCol))
        .join(batch.select(col(idCol), col("create_at"),
          col("update_at")), Seq(idCol)))
      spanRegistry.upsertDeferred(withLakeTimestamps(spanStep.newSpans,
        col("h"), lit(lineage).as("lineage"), lit(batchId).as("batch_id")))
      docRegistry.upsertDeferred(withLakeTimestamps(sigStep.registryRows,
        col(idCol), col(textCol), col("sig"),
        lit(lineage).as("lineage"), lit(batchId).as("batch_id")))
    }

  /** A keyed CDC record for the stateful streaming variant. */
  final case class KeyedEvent(id: String, update_at: String, payload: String)

  /** §2.8 custom keyed state — latest-wins as a stateful stream: per key,
    * `flatMapGroupsWithState` keeps the current winner and emits a record
    * only when a micro-batch produces a NEW winner (a change-data stream of
    * the lake table, rather than its state). Same precombine semantics as
    * the sink: lexicographic `update_at`, ties to the incoming row. */
  def latestWinsStateful(events: org.apache.spark.sql.Dataset[KeyedEvent],
      checkpointDir: String)(collect: Seq[KeyedEvent] => Unit): Unit = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val changes = events.groupByKey(_.id)
      .flatMapGroupsWithState[KeyedEvent, KeyedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, it, state) =>
        // (update_at, payload) is a TOTAL order applied both within the
        // micro-batch AND against the stored state, so the final winner is
        // independent of how the stream was micro-batched — a deliberate
        // divergence from the sink's incoming-wins tie rule, which has no
        // meaning under re-batching (deterministic > arrival-order here).
        val incoming = it.maxBy(e => (e.update_at, e.payload))
        val newer = state.getOption.forall(cur =>
          Ordering[(String, String)].lt(
            (cur.update_at, cur.payload), (incoming.update_at, incoming.payload)))
        if (newer) { state.update(incoming); Iterator.single(incoming) }
        else Iterator.empty
      }
    val q = changes.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[KeyedEvent], _: Long) =>
        collect(b.collect().toSeq)
      }
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain an append-mode streaming frame batch-by-batch into a callback
    * (checkpoint-recoverable, unlike the memory sink — restarting against
    * the same checkpoint continues instead of failing). */
  def runCollect(df: DataFrame, checkpointDir: String)(
      collect: Seq[org.apache.spark.sql.Row] => Unit): Unit = {
    val q = df.writeStream
      .foreachBatch { (b: DataFrame, _: Long) => collect(b.collect().toSeq) }
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** K3 — partitioned JSON-lines landing sink: bucket records by event-time
    * minute (P6, `dynamodb_stream_consumer.py:61-81`) and append one
    * JSON-lines file set per partition per micro-batch. */
  def toPartitionedJson(stream: DataFrame, tsCol: String, outDir: String,
      checkpointDir: String): Unit = {
    val query = LakeOps.derivePartitionColumns(
        stream.withColumn("__iso", date_format(col(tsCol), "yyyy-MM-dd HH:mm:ss")),
        "__iso")
      .drop("__iso")
      .writeStream
      .format("json")
      .partitionBy(LakeOps.partitionCols: _*)
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
  }
}
