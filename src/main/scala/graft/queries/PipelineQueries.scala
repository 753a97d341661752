package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.curate.{Decontaminate, Dsir, Interleave, Packing, Sampling, Select, Shuffle}
import graft.sink.{KeyedLakeTable, LakeTableSpec}
import graft.curate.Chunking
import graft.dedup.{Dedup, SpanDedup}
import graft.multimodal.{AudioDedup, AudioOps, Banded64, ImageDedup, ImageOps, MultimodalOps, VideoOps}
import graft.sim.{ProductQuantize, Quantize, Similarity}
import graft.graph.PageRank
import graft.text.{Bpe, HashClassifier, HeavyHitters, LineClean, NgramLM, Repetition, Retrieval, TextOps, TfIdf}

/** CORRECTNESS entries for the large-scale training-data-pipeline operator
  * families (dedup, similarity search, text analysis, multimodal), over the
  * corpus's `documents` (doc_id, text, lang, source, n_chars) and
  * `embeddings` (vec_id, embedding float[64], label) tables.
  *
  * The DuckDB-oracle'd entries pin exact semantics; the approximate/scale
  * variants (MinHash-LSH, IVF, SimHash) are driver-checked rows-only and
  * equivalence-tested against their exact counterparts in the ScalaTest
  * suite.
  */
object PipelineQueries {

  /** The arrival-ordered micro-batch source of the streamed entries
    * (q150–q170): batch i of `batches` lands as the single file
    * `b<i>.parquet` with mtime 1000000000000 + i·60000 ms — explicit,
    * strictly increasing mtimes, because the arrival order IS the
    * semantics and must not ride on write-timing luck — and the stream
    * takes one file per trigger. `tag` names the temp dirs. */
  private def mtimeOrderedStream(s: SparkSession, tag: String,
      batches: Seq[DataFrame]): DataFrame = {
    import java.nio.file.{Files, Paths}
    val srcDir = Files.createTempDirectory(s"graft_${tag}_src").toString
    batches.zipWithIndex.foreach { case (batch, b) =>
      val stage = Files.createTempDirectory(s"graft_${tag}_b$b").toString
      batch.repartition(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      val dst = Paths.get(srcDir, s"b$b.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + b * 60000L))
    }
    graft.streaming.CdcStreamIngest.fileStream(s, srcDir,
      batches.head.schema, maxFilesPerTrigger = 1)
  }

  /** The corpus ships these tables as single small parquet files, which
    * Spark reads as ONE partition — serializing every per-row operator on
    * one core. Spread them across the cluster when (and only when) the
    * scan's own parallelism is below the session default; at real scale the
    * scan has plenty of partitions and this is a no-op, so no shuffle is
    * added where it would hurt. */
  private def parallel(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // Estimate the scan's parallelism from file metadata alone: building
    // the physical RDD here (df.rdd.getNumPartitions) would force eager
    // plan materialization at query-CONSTRUCTION time — surprising from a
    // pure constructor. inputFiles reads the analyzed plan's file index
    // (no job, no physical plan); the split estimate mirrors Spark's
    // bytes/maxPartitionBytes packing closely enough for the one decision
    // made here (tiny single-file table vs already-parallel scan).
    val files = df.inputFiles
    if (files.isEmpty) return df
    val conf = s.sessionState.newHadoopConf()
    val bytes = files.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val maxPB = s.sessionState.conf.filesMaxPartitionBytes
    val estParts = math.max(files.length.toLong, (bytes + maxPB - 1) / maxPB)
    if (estParts < target) df.repartition(target) else df
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    parallel(s, Tables.load(s, dir, "documents"))

  private def embs(s: SparkSession, dir: String): DataFrame =
    parallel(s, Tables.load(s, dir, "embeddings"))

  /** The normalized-words SQL fragment shared by the text oracles. */
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
  private val wordsSql = s"string_split($normSql, ' ')"

  // ---------------------------------------------------------------- q40
  /** Exact dedup: duplicate groups by content fingerprint. */
  def q40ExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(s, dir), "doc_id", "text")
      .orderBy("fingerprint")

  val q40ExactDedupSql: String =
    s"""SELECT md5($normSql) AS fingerprint, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS canonical_id
      |FROM documents
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Exact word-bigram Jaccard near-dup pairs (threshold 0.9). The exact
    * baseline the LSH path must reproduce. */
  def q41NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 2,
      threshold = 0.9)
      .orderBy("doc_a", "doc_b")

  /** Shared word-bigram shingle/size/intersection CTE block — one source
    * of truth for every bigram-Jaccard oracle (q41, q56). */
  private val jaccardCtesSql: String =
    s"""w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1])) AS shingle
      |  FROM w),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  val q41NgramJaccardSql: String =
    s"""WITH $jaccardCtesSql
      |SELECT doc_a, doc_b,
      |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q42
  /** MinHash+LSH near-dup pairs — the scale path (banded signatures,
    * bucket-join candidates, exact verify). The signatures are
    * engine-specific, but the OUTPUT is not: every emitted pair is
    * exact-Jaccard-VERIFIED, and at (bands=16, r=8, τ=0.9) the banding is
    * recall-total on this corpus (suite-asserted equal to q41's exact
    * path) — so the exact-Jaccard pair SQL is a legitimate independent
    * oracle for the whole LSH pipeline, hash included: candidate recall,
    * verify arithmetic, and the exact-dup expansion all have to land on
    * the oracle's bits. */
  def q42MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(docs(s, dir), "doc_id", "text", n = 2,
      bands = 16, rowsPerBand = 8, threshold = 0.9)
      .orderBy("doc_a", "doc_b")

  /** q41's exact-pair SQL verbatim: LSH-verified pairs == exact pairs. */
  val q42MinhashLshSql: String = q41NgramJaccardSql

  // ---------------------------------------------------------------- q43
  /** Exact character-5-gram Jaccard near-dup pairs — the script-agnostic
    * shingling (no word boundaries required). */
  def q43CharJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.charNgramJaccardPairs(docs(s, dir), "doc_id", "text", n = 5,
      threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  val q43CharJaccardSql: String =
    s"""WITH nm AS (SELECT doc_id, $normSql AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, length(t) - 3),
      |      i -> substring(t, i, 5))) AS shingle
      |  FROM nm WHERE length(t) >= 5),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Per-label embedding centroids via the typed VectorMean Aggregator,
    * exploded to (label, dim, value). Oracle-able despite engine-specific
    * double-summation order: with ~50 members per group the order variance
    * is ≲1e-14 relative, far inside the driver hash's float tolerance.
    * (DECIMAL accumulation was evaluated and rejected: DuckDB's
    * double→DECIMAL cast multiplies by 10^scale in double precision, so
    * its low digits are garbage and can never match an exact conversion.) */
  def q52Centroids(s: SparkSession, dir: String): DataFrame =
    embs(s, dir)
      .groupBy(col("label"))
      .agg(graft.sim.VectorMean.column(col("embedding")).as("centroid"))
      .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "value")))
      .orderBy("label", "dim")

  val q52CentroidsSql: String =
    """WITH ex AS (
      |  SELECT label,
      |    unnest(range(len(embedding))) AS dim,
      |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
      |  FROM embeddings)
      |SELECT label, dim, SUM(x) / COUNT(*) AS value
      |FROM ex
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  // ---------------------------------------------------------------- q56
  /** End-to-end dedup: the corpus minus near-duplicates — the linear
    * drop-set path (exact-collapse + banded LSH over canonicals, no
    * member-level pair materialization); the exact-Jaccard oracle applies
    * the same drop policy in SQL (valid because the suite proves the
    * pair-based and drop-set paths identical, and LSH pairs == exact
    * pairs on this corpus). */
  def q56DedupCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupDedup(docs(s, dir), "doc_id", "text", n = 2,
      bands = 16, rowsPerBand = 8, threshold = 0.9)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  val q56DedupCorpusSql: String =
    s"""WITH $jaccardCtesSql,
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9)
      |SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Duplicate-cluster labeling: connected components (min-label with
    * pointer jumping, O(log diameter) rounds) over the exact word-bigram
    * Jaccard pair graph. The oracle recomputes the same labels from first
    * principles — a recursive-CTE transitive closure over the identical
    * pair SQL — so component membership AND the min-id label rule are both
    * independently pinned. */
  def q68Components(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 2,
        threshold = 0.9))
      .orderBy("doc")

  val q68ComponentsSql: String =
    s"""WITH RECURSIVE $jaccardCtesSql,
      |pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      |SELECT u AS doc, LEAST(u, MIN(v)) AS cluster
      |FROM reach GROUP BY u
      |ORDER BY doc""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Brute-force cosine top-10 for 8 query vectors — the exact ANN
    * baseline, bit-matched against DuckDB's list arithmetic. */
  def q44SimsearchBrute(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 10)
      .orderBy("q_id", "rank")
  }

  val q44SimsearchBruteSql: String =
    """WITH v AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    list_sum(list_transform(range(1, len(q.e) + 1),
      |      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
      |  FROM v q JOIN v c ON q.vec_id < 8 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, rank, cosine FROM ranked
      |WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- q45
  /** IVF approximate top-10 (16 centroids, probe 4), driver-pinned as an
    * INTEGRITY row (r13 verdict #3 — the q71/q72 pattern for approximate
    * paths): the hit SET is engine-specific (trained centroids), but the
    * operator's structural contract is not. One row, every flag asserted
    * TRUE by the oracle: each of the 8 query vectors returns exactly
    * k=10 distinct neighbors at contiguous ranks 1..10, never itself,
    * cosines non-increasing in rank, and every returned cosine equals an
    * independently recomputed exact cosine of that (q, n) pair — a
    * degenerate probe path, broken ranking, or corrupted score can't
    * fake any of them. RECALL vs the exact top-10 stays pinned by
    * hash-green q71; this entry pins everything recall can't see. */
  def q45SimsearchIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val queries = e.filter(col("vec_id") < 8)
    val ivf = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 10, nCentroids = 16, nProbe = 4)
    val qSide = e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val nSide = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rank"))
    val perQ = ivf
      .join(qSide, "q_id").join(nSide, "n_id")
      .withColumn("exact",
        Similarity.cosine(col("q_emb"), col("n_emb"),
          Similarity.l2Norm(col("q_emb")), Similarity.l2Norm(col("n_emb"))))
      .withColumn("prev_cos", lag(col("cosine"), 1).over(w))
      .groupBy(col("q_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("rank")).as("rk_min"), max(col("rank")).as("rk_max"),
        countDistinct(col("rank")).as("rk_distinct"),
        countDistinct(col("n_id")).as("n_distinct"),
        min(col("n_id") =!= col("q_id")).as("no_self"),
        min(coalesce(col("prev_cos") >= col("cosine"), lit(true)))
          .as("sorted"),
        min(abs(col("exact") - col("cosine")) < lit(1e-6)).as("exact_ok"))
    perQ.agg(
      count(lit(1)).cast("long").as("n_queries"),
      min(col("n_rows") === 10 && col("rk_min") === 1 &&
        col("rk_max") === 10 && col("rk_distinct") === 10 &&
        col("n_distinct") === 10).as("per_query_topk_ok"),
      min(col("no_self")).as("self_excluded_ok"),
      min(col("sorted")).as("cosine_sorted_ok"),
      min(col("exact_ok")).as("cosine_exact_ok"))
  }

  val q45SimsearchIvfSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  TRUE AS per_query_topk_ok, TRUE AS self_excluded_ok,
      |  TRUE AS cosine_sorted_ok, TRUE AS cosine_exact_ok
      |FROM embeddings WHERE vec_id < 8""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Exact embedding-cosine near-dup pairs (the all-pairs baseline). */
  def q53EmbedNeardup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairsExact(embs(s, dir), "vec_id", "embedding",
      threshold = 0.44)
      .orderBy("id_a", "id_b")

  val q53EmbedNeardupSql: String =
    """WITH v AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_sum(list_transform(range(1, len(a.e) + 1),
      |    i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) AS cosine
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(range(1, len(a.e) + 1),
      |    i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= 0.44
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Clustered embedding near-dup — the no-n² scale path. At nProbe=3 of
    * 8 centroids the probe sets of every τ≥0.44 pair intersect on this
    * corpus (recall-total; suite-asserted equal to q53's exact all-pairs
    * at both fixture scales), so q53's exact-pair SQL is an independent
    * full-hash oracle: centroid quality, multi-probe assignment, and the
    * within-bucket verify arithmetic all have to reproduce the exact
    * answer bit for bit. (nProbe=1 remains the cheapest/lossiest setting;
    * the probe count is the documented recall-vs-cost knob.) */
  def q54EmbedNeardupClustered(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupClustered(embs(s, dir), "vec_id", "embedding",
      threshold = 0.44, nCentroids = 8, nProbe = 4)
      .orderBy("id_a", "id_b")

  /** q53's exact-pair SQL verbatim: multi-probe recall is total here.
    * nProbe=4, not 3: a 10×-scale local gate run (sf0.1, 2000 vectors)
    * caught 4 of 211 pairs straddling probe boundaries at nProbe=3 —
    * recall of a fixed probe count is scale-dependent, so the oracle-
    * backed entry uses the probe depth re-validated recall-total at BOTH
    * sf0.01 and sf0.1 (still half the buckets, still no n² stage). */
  val q54EmbedNeardupClusteredSql: String = q53EmbedNeardupSql

  // ---------------------------------------------------------------- q55
  /** SimHash banded near-dup over documents (Hamming ≤ 3 with 4 bands is
    * exhaustive by pigeonhole), driver-pinned as a SUMMARY row (r13
    * verdict #3): the pair list itself is engine-specific, but the
    * operator's recall obligations are not. The oracle computes
    * `n_exact_dup_pairs` (identical-normalized-text pairs — Hamming 0 by
    * construction, so the banding MUST recover every one) from the
    * documents table and asserts the flags TRUE: all exact dups
    * recovered; ≥50% of exact bigram-Jaccard τ≥0.95 pairs recovered
    * (calibrated 62.5% at sf0.01, 82% at sf0.1 — a broken hash recovers
    * ~0%); the pair set non-empty and well-formed (doc_a < doc_b,
    * hamming ≤ 3). Precision-vs-Jaccard is deliberately NOT a flag: this
    * template-heavy corpus gives RANDOM pairs 0.62 mean unigram Jaccard,
    * so no floor separates signal from noise — SimHash discriminates on
    * term-frequency profiles, which exact set-Jaccard can't see. */
  def q55SimhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup
      .simHashNearDup(d, "doc_id", "text", maxHamming = 3)
      .localCheckpoint(true) // three consumers; pin the operator output
    val hits = pairs.select(col("doc_a"), col("doc_b"), lit(true).as("hit"))
    val nt = d.select(col("doc_id"), TextOps.normalized(col("text")).as("nt"))
    val exactPairs = nt.as("a")
      .join(nt.as("b"), col("a.nt") === col("b.nt") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val exactAgg = exactPairs.join(hits, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).cast("long").as("n_exact_dup_pairs"),
        coalesce(min(coalesce(col("hit"), lit(false))), lit(true))
          .as("exact_dups_recovered"))
    val highJ = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 2,
        threshold = 0.95)
      .select(col("doc_a"), col("doc_b"))
    val recallAgg = highJ.join(hits, Seq("doc_a", "doc_b"), "left")
      .agg(coalesce(
        sum(when(col("hit"), 1L).otherwise(0L)) * 2 >= count(lit(1)),
        lit(true)).as("high_jaccard_recall_ok"))
    val shapeAgg = pairs.agg(
      (count(lit(1)) >= 1L).as("found_any"),
      coalesce(min(col("doc_a") < col("doc_b") && col("hamming") <= 3),
        lit(true)).as("pairs_shape_ok"))
    exactAgg.crossJoin(recallAgg).crossJoin(shapeAgg)
  }

  val q55SimhashNeardupSql: String =
    s"""WITH w AS (SELECT doc_id, $normSql AS nt FROM documents)
      |SELECT CAST((SELECT count(*) FROM w a JOIN w b
      |    ON a.nt = b.nt AND a.doc_id < b.doc_id) AS BIGINT)
      |    AS n_exact_dup_pairs,
      |  TRUE AS exact_dups_recovered,
      |  TRUE AS high_jaccard_recall_ok,
      |  TRUE AS found_any,
      |  TRUE AS pairs_shape_ok""".stripMargin

  // ---------------------------------------------------------------- q71
  /** IVF quality, driver-checked (the q19 pattern for approximate paths):
    * the IVF hit set itself is engine-specific, but its RECALL contract is
    * not — count the brute-force top-10 hits IVF recovers and pin two
    * flags the oracle asserts TRUE: every query recovers at least one true
    * neighbor, and total recall ≥ 30% of the exact set. The corpus
    * embeddings are isotropic noise, so the honest information-theoretic
    * bar at 4/16 probes is ≈ the probed fraction (25%); observed totals
    * are 43/80 and 38/80 on the two fixture scales (the ≥0.9 algorithmic
    * bar on clustered data lives in the suite). An IVF regression —
    * degenerate centroids, broken probe ranking — flips a flag and the
    * driver's hash goes red. */
  def q71IvfRecallCheck(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val queries = e.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 10)
      .select(col("q_id"), col("n_id"))
    val ivf = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 10, nCentroids = 16, nProbe = 4)
      .select(col("q_id"), col("n_id"))
    val hits = brute.join(ivf, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    brute.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        (min(coalesce(col("n_hits"), lit(0L))) >= 1L).as("each_query_ok"),
        (sum(coalesce(col("n_hits"), lit(0L))) >=
          ceil(count(lit(1)) * 10 * 0.3)).as("total_recall_ok"))
  }

  val q71IvfRecallCheckSql: String =
    """SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
      |  TRUE AS each_query_ok, TRUE AS total_recall_ok
      |FROM embeddings WHERE vec_id < 8""".stripMargin

  // ---------------------------------------------------------------- q72
  /** SimHash quality, driver-checked: the 64 hash bits are Spark-specific
    * (xxhash64), but SimHash's defining property is not — documents that
    * are near-duplicates by exact Jaccard must land at small Hamming
    * distance. For every exact word-bigram pair at τ≥0.9 (the oracle-able
    * q41 pair list) emit a flag that the simhash Hamming distance ≤ 12,
    * pinned TRUE by the oracle. Calibration: observed max is 9 (sf0.001)
    * and 5 (sf0.01); a RANDOM pair averages ≈18.4 of 64 bits, so the
    * bound separates signal from noise with margin on both sides. */
  def q72SimhashProximity(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir)
      .withColumn("words", TextOps.tokens(col("text")))
      .select(col("doc_id"), expr("simhash64(words)").as("h"))
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 2,
      threshold = 0.9)
      .select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("h").as("h_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h").as("h_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= 12).as("near_bits_ok"))
      .orderBy("doc_a", "doc_b")
  }

  val q72SimhashProximitySql: String =
    s"""WITH $jaccardCtesSql
      |SELECT doc_a, doc_b, TRUE AS near_bits_ok
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Token statistics: char/whitespace/subword counts + mean word length. */
  def q46TokenStats(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      TextOps.tokenCountWs(col("text")).as("n_ws_tokens"),
      TextOps.tokenCountRe(col("text")).as("n_re_tokens"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("n_alpha_chars"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))).as("n_alpha_tokens"))
      .withColumn("avg_word_len",
        col("n_alpha_chars").cast("double") /
          nullif(col("n_alpha_tokens"), lit(0)).cast("double"))
      .orderBy("doc_id")
  }

  val q46TokenStatsSql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars,
      |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_re_tokens,
      |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha_chars,
      |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_tokens,
      |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) /
      |    CAST(nullif(len(regexp_extract_all(text, '[A-Za-z]+')), 0) AS DOUBLE)
      |    AS avg_word_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Language-ID heuristic vs the labeled column: confusion counts. */
  def q47LangId(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.withColumn("predicted",
      TextOps.langId(TextOps.tokens(col("text"))))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")
  }

  val q47LangIdSql: String = {
    val scores = TextOps.langMarkers.map { case (l, m) =>
      val list = m.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_intersect(list_distinct($wordsSql), $list)) AS s_$l"
    }.mkString(",\n      |    ")
    val gList = TextOps.langMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")
    val cases = TextOps.langMarkers.map { case (l, _) =>
      s"WHEN s_$l >= g AND g > 0 THEN '$l'"
    }.mkString("\n      |      ")
    s"""WITH scored AS (
      |  SELECT lang,
      |    $scores
      |  FROM documents),
      |g AS (SELECT *, greatest($gList) AS g FROM scored),
      |p AS (
      |  SELECT lang,
      |    CASE
      |      $cases
      |      ELSE 'und' END AS predicted
      |  FROM g)
      |SELECT lang, predicted, COUNT(*) AS n_docs
      |FROM p
      |GROUP BY lang, predicted
      |ORDER BY lang, predicted""".stripMargin
  }

  // ---------------------------------------------------------------- q48
  /** Per-document quality scoring (length/stopword/digit signals). */
  def q48Quality(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val w = TextOps.tokens(col("text"))
    d.select(
      col("doc_id"),
      size(w).as("n_words"),
      TextOps.stopwordCount(w, TextOps.enStopwords).as("n_stopwords"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("n_digit_chars"),
      length(col("text")).as("n_chars"))
      .withColumn("stop_ratio", col("n_stopwords").cast("double") /
        nullif(col("n_words"), lit(0)).cast("double"))
      .withColumn("digit_ratio", col("n_digit_chars").cast("double") /
        nullif(col("n_chars"), lit(0)).cast("double"))
      .withColumn("quality", TextOps.qualityScore(
        col("n_words"), col("stop_ratio"), col("digit_ratio")))
      .orderBy("doc_id")
  }

  val q48QualitySql: String = {
    val stops = TextOps.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH base AS (
      |  SELECT doc_id,
      |    len($wordsSql) AS n_words,
      |    len(list_filter($wordsSql, w -> list_contains($stops, w))) AS n_stopwords,
      |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit_chars,
      |    length(text) AS n_chars
      |  FROM documents),
      |ratios AS (
      |  SELECT *,
      |    CAST(n_stopwords AS DOUBLE) / CAST(nullif(n_words, 0) AS DOUBLE) AS stop_ratio,
      |    CAST(n_digit_chars AS DOUBLE) / CAST(nullif(n_chars, 0) AS DOUBLE) AS digit_ratio
      |  FROM base)
      |SELECT doc_id, n_words, n_stopwords, n_digit_chars, n_chars,
      |  stop_ratio, digit_ratio,
      |  greatest(0.0, least(1.0,
      |    0.2 + 0.6 * stop_ratio + 0.002 * CAST(n_words AS DOUBLE)
      |      - 0.3 * digit_ratio)) AS quality
      |FROM ratios
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q49
  /** Document fingerprints (the md5-of-canonical-form rolling key). */
  def q49Fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  val q49FingerprintSql: String =
    s"""SELECT doc_id, md5($normSql) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q50
  /** SimHash-64 per document via the native Catalyst expression,
    * driver-pinned through its DEFINING algebraic properties (r13
    * verdict #3): the 64 bits are engine-specific (xxhash64 mixing), but
    * SimHash's per-bit vote sum is order-invariant and sign-stable under
    * multiset scaling — `simhash(reverse(w)) == simhash(w)` always, and
    * `simhash(w ++ w) == simhash(w)` because doubling every balance
    * preserves every sign (including the zero balances both map to an
    * unset bit). A kernel that sneaks in any positional or
    * normalization-dependent term flips a flag and the driver's hash
    * goes red, per document. Hamming-vs-Jaccard proximity stays pinned
    * by hash-green q72. */
  def q50Simhash(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("words", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        (expr("simhash64(words)") === expr("simhash64(reverse(words))"))
          .as("order_invariant_ok"),
        (expr("simhash64(words)") === expr("simhash64(concat(words, words))"))
          .as("multiset_scale_ok"))
      .orderBy("doc_id")
  }

  val q50SimhashSql: String =
    """SELECT doc_id, TRUE AS order_invariant_ok, TRUE AS multiset_scale_ok
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Multimodal binary plumbing: payload bytes, content hash, frame-sample
    * count — the decode stub's Spark-visible contract. */
  def q51Multimodal(s: SparkSession, dir: String): DataFrame = {
    val media = MultimodalOps.asMediaTable(docs(s, dir), "doc_id", "text")
    media.select(
      col("media_id"),
      length(col("media")).as("n_bytes"),
      sha2(col("media"), 256).as("sha_hex"),
      MultimodalOps.frameCount(length(col("media")), 64, 48).as("n_frames"))
      .orderBy("media_id")
  }

  val q51MultimodalSql: String =
    """SELECT doc_id AS media_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  sha256(text) AS sha_hex,
      |  CASE WHEN octet_length(encode(text)) >= 64
      |       THEN (octet_length(encode(text)) - 64) // 48 + 1
      |       ELSE 0 END AS n_frames
      |FROM documents
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q61
  /** REAL image decode through the JDK PNG codec: one deterministic
    * grayscale pattern image per document (genuine PNG bytes, encoded with
    * `ImageIO.write`), decoded back with `ImageIO.read` in a batched
    * mapPartitions, features reduced to integer-exact values the DuckDB
    * oracle derives from the same closed-form pixel formula. A PNG
    * encode→decode round-trip stands between the formula and the result,
    * so a hash match certifies the codec path end-to-end. */
  def q61ImageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, ImageOps.syntheticPng(id, (8 + id % 9).toInt, (8 + id % 7).toInt))
      }).toDF("media_id", "media")
    ImageOps.decodeImages(media)
      .select(col("media_id"), col("width"), col("height"), col("sum_luma"))
      .orderBy("media_id")
  }

  val q61ImageDecodeSql: String =
    """WITH dims AS (
      |  SELECT doc_id, CAST(8 + doc_id % 9 AS BIGINT) AS w,
      |    CAST(8 + doc_id % 7 AS BIGINT) AS h
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.w, d.h, x.range AS x, y.range AS y
      |  FROM dims d CROSS JOIN range(17) x CROSS JOIN range(15) y
      |  WHERE x.range < d.w AND y.range < d.h)
      |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
      |  CAST(h AS INT) AS height,
      |  CAST(SUM((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS sum_luma
      |FROM px GROUP BY 1, 2, 3
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q65
  /** REAL audio decode through the JDK WAV/PCM codec: one deterministic
    * 16-bit PCM clip per document (genuine RIFF/WAVE bytes, encoded with
    * `AudioSystem.write`), decoded back with `javax.sound.sampled` in a
    * batched mapPartitions, features reduced to integer-exact values the
    * DuckDB oracle derives from the same closed-form sample formula. A WAV
    * encode→decode round-trip stands between the formula and the result,
    * so a hash match certifies the codec path end-to-end — q61's pattern,
    * audio edition. */
  def q65AudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, AudioOps.syntheticWav(id, (400 + id % 257).toInt))
      }).toDF("media_id", "media")
    AudioOps.decodeAudio(media)
      .select(col("media_id"), col("decoded"), col("sample_rate"),
        col("channels"), col("n_samples"), col("sum_sample"), col("peak"))
      .orderBy("media_id")
  }

  val q65AudioDecodeSql: String =
    """WITH params AS (
      |  SELECT doc_id, 400 + doc_id % 257 AS n FROM documents),
      |s AS (
      |  SELECT p.doc_id, p.n,
      |    ((p.doc_id*31 + i.range*7) % 65536) - 32768 AS v
      |  FROM params p CROSS JOIN range(657) i WHERE i.range < p.n)
      |SELECT doc_id AS media_id, TRUE AS decoded, 8000 AS sample_rate,
      |  1 AS channels, CAST(MAX(n) AS BIGINT) AS n_samples,
      |  CAST(SUM(v) AS BIGINT) AS sum_sample, CAST(MAX(abs(v)) AS INT) AS peak
      |FROM s GROUP BY doc_id
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q74
  /** REAL video decode through a genuine RIFF/AVI container parse plus a
    * real frame codec: one deterministic BI_RGB-coded AVI clip per document
    * (standards-shaped `avih`/`strl`/`movi` layout, written by
    * [[VideoOps.syntheticAvi]]), every 2nd frame sampled and decoded in a
    * batched mapPartitions — the frame-sample stage of a video pipeline.
    * The DIB pixel math is integer-exact, so the DuckDB oracle derives
    * every column (header fields AND per-frame luminance sums) from the
    * same closed-form pattern; a container encode→parse→decode round-trip
    * stands between the formula and the result. The MJPEG codec path of
    * the same parser is suite-verified (lossy JPEG has no closed form).
    * Completes the modality set: image (q61), audio (q65), video (q74). */
  def q74VideoDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, VideoOps.syntheticAvi(id, (8 + id % 9).toInt, (8 + id % 7).toInt,
          (2 + id % 4).toInt, 33000 + id % 1000, mjpeg = false))
      }).toDF("media_id", "media")
    VideoOps.decodeVideoFrames(media, everyK = 2)
      .select(col("media_id"), col("decoded"), col("frame_idx"),
        col("n_frames"), col("us_per_frame"), col("width"), col("height"),
        col("sum_luma"))
      .orderBy("media_id", "frame_idx")
  }

  val q74VideoDecodeSql: String =
    """WITH dims AS (
      |  SELECT doc_id, CAST(8 + doc_id % 9 AS BIGINT) AS w,
      |    CAST(8 + doc_id % 7 AS BIGINT) AS h,
      |    CAST(2 + doc_id % 4 AS BIGINT) AS nf,
      |    33000 + doc_id % 1000 AS uspf
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.w, d.h, d.nf, d.uspf, f.range AS f,
      |    (d.doc_id*31 + x.range*7 + y.range*13 + f.range*101) % 256 AS v
      |  FROM dims d CROSS JOIN range(6) f
      |    CROSS JOIN range(17) x CROSS JOIN range(15) y
      |  WHERE f.range < d.nf AND f.range % 2 = 0
      |    AND x.range < d.w AND y.range < d.h)
      |SELECT doc_id AS media_id, TRUE AS decoded, CAST(f AS INT) AS frame_idx,
      |  CAST(nf AS INT) AS n_frames, uspf AS us_per_frame,
      |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |  CAST(SUM(v) AS BIGINT) AS sum_luma
      |FROM px GROUP BY 1, 2, 3, 4, 5, 6, 7
      |ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Deterministic stratified sampling for corpus curation: downweight
    * high-resource languages (en at 25%), keep all of the rarest (zh at
    * 100%), 50% default — decided by md5 bucket of the doc id, so the
    * EXACT sampled set is reproducible and the DuckDB oracle pins every
    * kept row, not just the counts. Pure map-side filter: no join, no
    * shuffle, rates ride along as a literal map. */
  def q76StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Sampling.stratifiedSample(d, "lang", col("doc_id"),
      Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.5)
      .select(col("doc_id"), col("lang"), col("source"),
        Sampling.bucket(col("doc_id")).as("bucket"))
      .orderBy("doc_id")
  }

  val q76StratifiedSampleSql: String =
    """SELECT doc_id, lang, source, bucket FROM (
      |  SELECT doc_id, lang, source,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket
      |  FROM documents)
      |WHERE bucket < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000 ELSE 5000 END
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Mixture rebalancing: downsample every language to an equal 1/5 share
    * of the rebalanced corpus — the dataset-mixture stage of a training
    * pipeline. The per-stratum thresholds derive from one tiny count agg
    * (the only shuffle, |strata| rows) broadcast back onto the corpus
    * stream, and the md5-bucket decision makes the exact rebalanced set
    * engine-portable: the oracle recomputes counts, the max total T with
    * no upsampling (min count/w), and the identical kept rows. */
  def q77MixtureRebalance(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Sampling.rebalanceToMixture(d, "lang", col("doc_id"),
      Map("en" -> 1.0, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 1.0))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  val q77MixtureRebalanceSql: String =
    """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
      |t AS (SELECT MIN(cnt / CAST(0.2 AS DOUBLE)) AS tt FROM c),
      |thr AS (
      |  SELECT lang, CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
      |    CAST(0.2 AS DOUBLE) * tt / cnt) * 10000) AS BIGINT) AS th
      |  FROM c CROSS JOIN t)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN thr ON d.lang = thr.lang
      |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < thr.th
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Sequence packing: the corpus as one doc_id-ordered token stream cut
    * into 512-token context windows, each document assigned to the window
    * holding its first token. The global token prefix sum is computed with
    * range-partitioned per-partition offsets (the q35 pattern), NOT a
    * single-partition window — the oracle's window cumsum pins the exact
    * same arithmetic. Token counts are the BPE-ish regex proxy already
    * hash-proven engine-equal by q46. */
  def q78SequencePack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Packing.packSequences(d, "doc_id", TextOps.tokenCountRe(col("text")), 512L)
      .select(col("doc_id"), col("n_tokens"), col("tok_start"), col("pack_id"))
      .orderBy("doc_id")
  }

  val q78SequencePackSql: String =
    """WITH tc AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |cs AS (
      |  SELECT doc_id, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
      |  FROM tc)
      |SELECT doc_id, n_tokens, CAST(tok_start AS BIGINT) AS tok_start,
      |  CAST(tok_start // 512 AS BIGINT) AS pack_id
      |FROM cs ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Per-language quality selection: keep the top 25% of each language by
    * the q48 quality score (doc_id tie-break makes the cut total-ordered,
    * so the rank-select is deterministic and the oracle pins the exact
    * kept set). The exact path ranks with a lang-partitioned window —
    * right at this stratum granularity; [[graft.curate.Select
    * .topPByThreshold]] is the few-strata/100 TB variant, suite-pinned
    * against this one. */
  def q80QualityTopP(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val w = TextOps.tokens(col("text"))
    val scored = d.select(col("doc_id"), col("lang"),
      size(w).as("n_words"),
      TextOps.stopwordCount(w, TextOps.enStopwords).as("n_stopwords"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("n_digit_chars"),
      length(col("text")).as("n_chars"))
      .withColumn("stop_ratio", col("n_stopwords").cast("double") /
        nullif(col("n_words"), lit(0)).cast("double"))
      .withColumn("digit_ratio", col("n_digit_chars").cast("double") /
        nullif(col("n_chars"), lit(0)).cast("double"))
      .withColumn("quality", TextOps.qualityScore(
        col("n_words"), col("stop_ratio"), col("digit_ratio")))
    Select.topPExact(scored, "lang",
      Seq(col("quality").desc_nulls_last, col("doc_id").asc), 0.25)
      .select(col("doc_id"), col("lang"), col("quality"))
      .orderBy("doc_id")
  }

  val q80QualityTopPSql: String = {
    val stops = TextOps.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH base AS (
      |  SELECT doc_id, lang,
      |    len($wordsSql) AS n_words,
      |    len(list_filter($wordsSql, w -> list_contains($stops, w))) AS n_stopwords,
      |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit_chars,
      |    length(text) AS n_chars
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang,
      |    greatest(0.0, least(1.0,
      |      0.2 + 0.6 * (CAST(n_stopwords AS DOUBLE) / CAST(nullif(n_words, 0) AS DOUBLE))
      |        + 0.002 * CAST(n_words AS DOUBLE)
      |        - 0.3 * (CAST(n_digit_chars AS DOUBLE) / CAST(nullif(n_chars, 0) AS DOUBLE)))) AS quality
      |  FROM base),
      |ranked AS (
      |  SELECT doc_id, lang, quality,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY quality DESC NULLS LAST, doc_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS cnt
      |  FROM scored)
      |SELECT doc_id, lang, quality FROM ranked
      |WHERE rn <= CAST(CEIL(0.25 * cnt) AS BIGINT)
      |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q81
  /** Deterministic corpus shuffle: every document gets a stable
    * pseudo-random training position (rank of md5-bucket, id) — computed
    * with the range-partition + zipWithIndex pattern, no global window;
    * the oracle's ROW_NUMBER over the same key pins every position. */
  def q81CorpusShuffle(s: SparkSession, dir: String): DataFrame = {
    Shuffle.deterministicOrder(docs(s, dir), "doc_id")
      .select(col("doc_id"), col("shuffle_pos"))
      .orderBy("doc_id")
  }

  val q81CorpusShuffleSql: String =
    """SELECT doc_id,
      |  ROW_NUMBER() OVER (ORDER BY
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
      |    doc_id) - 1 AS shuffle_pos
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Benchmark decontamination: corpus documents sharing any word 4-gram
    * with a benchmark set (here: every 97th document — evaluation sets
    * are small, which is exactly why the benchmark shingle set broadcasts
    * and the corpus stream never shuffles). Exact oracle: the same
    * explode→distinct→join→count in DuckDB list SQL. */
  def q82Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") % 97 === 0)
    Decontaminate.flagOverlaps(d, bench, "doc_id", "text", n = 4)
      .orderBy("doc_id")
  }

  val q82DecontaminateSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(ws) - 2),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
      |  FROM w WHERE len(ws) >= 4),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
      |SELECT c.doc_id, COUNT(DISTINCT c.shingle) AS n_shared
      |FROM sh c JOIN bench b ON c.shingle = b.shingle
      |GROUP BY c.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Incremental ingestion dedup: every 3rd document arrives as a new
    * batch against the rest as the existing corpus; survivors are incoming
    * docs near-duplicating neither the corpus nor a smaller-id batch doc.
    * Runs the proven recall-total LSH config (τ=0.9, b=16/r=8 — q42), so
    * the exact-Jaccard pair SQL over the union oracles the batch-provenance
    * drop rule outright. */
  def q84IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.incrementalDedup(
      d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", n = 2, bands = 16, rowsPerBand = 8, threshold = 0.9)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q84IncrementalDedupSql: String =
    s"""WITH $jaccardCtesSql,
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9),
      |drops AS (
      |  SELECT doc_b AS doc_id FROM pairs WHERE doc_b % 3 = 0
      |  UNION
      |  SELECT doc_a AS doc_id FROM pairs WHERE doc_a % 3 = 0 AND doc_b % 3 <> 0)
      |SELECT d.doc_id, d.lang, d.source, d.n_chars
      |FROM documents d
      |WHERE d.doc_id % 3 = 0 AND d.doc_id NOT IN (SELECT doc_id FROM drops)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Vocabulary building: the corpus's top-20 tokens by frequency (token
    * asc tie-break). Plan shape is the one that matters at 100 TB: explode
    * → map-side partial count → one |vocab|-sized exchange →
    * TakeOrderedAndProject — the full token stream is never globally
    * sorted or collected. */
  def q85VocabTopK(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)
  }

  val q85VocabTopKSql: String =
    s"""SELECT token, COUNT(*) AS n
      |FROM (SELECT unnest($wordsSql) AS token FROM documents)
      |WHERE token <> ''
      |GROUP BY token
      |ORDER BY n DESC, token ASC
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q86
  /** PII scrub before corpus release: redact emails/URLs to placeholder
    * tokens and report what was removed. The corpus has no organic PII, so
    * each doc is salted with a synthetic address and link derived from its
    * id — the regex machinery (RE2-compatible patterns, identical in both
    * engines) and the scan-speed projection are what's under test. */
  def q86Redact(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // The third salt is a USERINFO url (user:pw@host): it contains an
    // email-shaped substring, so it pins redact's URL-before-email order
    // in the driver oracle (one <URL>, zero extra emails) — the ADVICE r6
    // ordering bug would double-count it.
    val salted = d.select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or https://site"), col("doc_id"),
        lit(".example/path or http://u"), col("doc_id"),
        lit(":pw@h"), col("doc_id"), lit(".example/q")).as("t"))
    salted.select(
      col("doc_id"),
      TextOps.emailCount(col("t")).as("n_emails"),
      TextOps.urlCount(col("t")).as("n_urls"),
      TextOps.redact(col("t")).as("redacted"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q92
  /** IMAGE near-dup end to end: decode (real PNG codec) → aHash
    * fingerprint → 4×16-bit banded candidates → bit_count Hamming verify.
    * The fixture plants one 4-variant cluster per 4 consecutive doc ids
    * with aHash == a known splitmix64 word by construction (cells sit far
    * from the mean threshold), so the TRUE pair set — all within-cluster
    * pairs, hamming = id distance — is computable from ids alone and the
    * oracle pins the detector's output exactly: a full hash-green oracle
    * for a media near-dup path. */
  def q92ImageNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, ImageOps.syntheticClusterPng(id / 4, (id % 4).toInt))
      }).toDF("media_id", "media")
    ImageDedup.nearDupPairs(media, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  val q92ImageNeardupSql: String =
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(b.doc_id - a.doc_id AS INT) AS hamming
      |FROM documents a JOIN documents b
      |  ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q128
  /** The hot-band bucket cap's failure mode, ORACLE-EXERCISED (the suite
    * already pins strict mode's loud throw; this entry pins the drop
    * semantics in the driver artifact). Fingerprints are constructed so
    * that every doc pair is a Hamming-1 twin, but only half the pairs
    * share a band bucket that stays UNDER the cap: (4k, 4k+1) twins share
    * a size-2 band-2 bucket and must be found; (4k+2, 4k+3) twins differ
    * inside band 3 and share only the degenerate all-docs buckets (bands
    * 0/1/2 constant across the corpus), which exceed `maxBucket` and are
    * dropped — so those pairs are REPORTED LOST by construction. The
    * oracle asserts exactly the surviving half, making the cap's
    * recall trade visible and pinned rather than silent. */
  def q128BandedCapped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val pair = id / 2 + 1 // >= 1 so band-2 sigs never hit the 0 bucket
        val fp =
          if (id % 4 < 2) (pair << 32) | (id % 2) // findable via band 2
          else (pair << 48) | ((id % 2) << 63)    // only over-cap bands shared
        (id, fp)
      }).toDF("media_id", "fp")
    Banded64.pairs(media, maxHamming = 3, maxBucket = 8)
      .orderBy("id_a", "id_b")
  }

  val q128BandedCappedSql: String =
    """SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b, CAST(1 AS INT) AS hamming
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |WHERE a.doc_id % 4 = 0
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q93
  /** AUDIO near-dup end to end: WAV/PCM decode → 64-bit energy-delta
    * fingerprint (Haitsma–Kalker shape, integer-exact) → the same banded
    * engine as q92. The fixture's loudness walk makes the fingerprint a
    * known splitmix64 word, so the oracle pins the detector's full pair
    * output from ids alone — both decodable media modalities now carry
    * fully hash-green near-dup paths. */
  def q93AudioNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id, AudioDedup.syntheticClusterWav(id / 4, (id % 4).toInt))
      }).toDF("media_id", "media")
    AudioDedup.nearDupPairs(media, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  val q93AudioNeardupSql: String = q92ImageNeardupSql

  // ---------------------------------------------------------------- q90
  /** Deterministic train/test split (15% held out): md5-bucket membership
    * means re-runs, other engines, and future batches agree on the split —
    * the held-out set cannot leak by nondeterminism. The oracle pins every
    * row's side. */
  def q90TrainTestSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.split(docs(s, dir), col("doc_id"), testFrac = 0.15)
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy("doc_id")

  val q90TrainTestSplitSql: String =
    """SELECT doc_id, lang,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 1500
      |    THEN 'test' ELSE 'train' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Weighted source interleaving (stride scheduling): en at 50%, the
    * other languages at 12.5% each — reading in `pos` order holds those
    * rates in every prefix. One lang-partitioned rank window, no global
    * window; dyadic weights keep the position arithmetic bit-exact in
    * both engines. */
  def q91CurriculumInterleave(s: SparkSession, dir: String): DataFrame =
    Interleave.byWeight(docs(s, dir), "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.125, "es" -> 0.125, "fr" -> 0.125,
        "zh" -> 0.125))
      .select(col("doc_id"), col("lang"), col("pos"))
      .orderBy("doc_id")

  val q91CurriculumInterleaveSql: String =
    """WITH r AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, lang,
      |  (CAST(rn AS DOUBLE) - 0.5) /
      |    (CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.125 AS DOUBLE) END) AS pos
      |FROM r
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q89
  /** The END-TO-END corpus release pipeline in one call — the reason the
    * curation operators exist as a library: exact dedup (keep the min-id
    * canonical per content fingerprint) → benchmark decontamination
    * (drop docs sharing any word 4-gram with the eval set) → per-language
    * quality selection (top 50%) → deterministic 50% sample → sequence
    * packing into 256-token windows. Every stage is individually
    * hash-proven (q40/q82/q80/q76/q78); this entry proves the COMPOSITION
    * against one chained SQL oracle, so a user can trust the one-call
    * pipeline, not just the parts. Plan-wise the stages fuse: the
    * fingerprint group, the broadcast shingle join, the lang window, the
    * map-side sample filter, and the two-pass pack — no stage collects or
    * re-shuffles the corpus beyond its own declared exchange. */
  def q89CorpusRelease(s: SparkSession, dir: String): DataFrame =
    corpusRelease(docs(s, dir))

  /** [[q89CorpusRelease]]'s pipeline over an arbitrary `(doc_id, lang,
    * text)` frame — factored out so the scale bench can run the SAME
    * five-stage composition over a ×10 materialized corpus
    * (`m_corpus_release_x10`) and record where the per-stage constants
    * amortize. */
  def corpusRelease(d: DataFrame): DataFrame = {
    // 1. exact dedup, min-id canonical per fingerprint — the group min is
    //    attached by a window over fp instead of the r15 groupBy+self-join
    //    spelling: ONE fingerprint pass and ONE exchange of the corpus
    //    where the join form fingerprinted and shuffled it twice (guide
    //    §2.3/§2.4; multiplicity-exact for any input, unlike a min_by
    //    rewrite). Before/after plans: plans/r16/q89_corpus_release_*.txt
    val deduped = d
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withColumn("keep_id",
        min("doc_id").over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep_id")).drop("fp", "keep_id")
    // 2. decontaminate vs the (external, fixed) benchmark slice. Flags
    //    are per-doc (its shingle set ∩ the broadcast bench set), so
    //    flagging over ALL docs — the q89 oracle's own construction —
    //    leaves clean = deduped ∖ flagged unchanged while keeping the
    //    stage-1 dedup subtree out of the flag branch (it was computed
    //    twice: once under the shingle explode, once for the anti-join)
    val bench = d.filter(col("doc_id") % 97 === 0)
    val flagged = Decontaminate.flagOverlaps(
      d.select(col("doc_id"), col("text")), bench, "doc_id", "text", 4)
    val clean = deduped.join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
    // 3. top 50% quality per language
    val w = TextOps.tokens(col("text"))
    val scored = clean.select(col("doc_id"), col("lang"), col("text"),
      size(w).as("n_words"),
      TextOps.stopwordCount(w, TextOps.enStopwords).as("n_stopwords"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("n_digit_chars"),
      length(col("text")).as("n_chars"))
      .withColumn("stop_ratio", col("n_stopwords").cast("double") /
        nullif(col("n_words"), lit(0)).cast("double"))
      .withColumn("digit_ratio", col("n_digit_chars").cast("double") /
        nullif(col("n_chars"), lit(0)).cast("double"))
      .withColumn("quality", TextOps.qualityScore(
        col("n_words"), col("stop_ratio"), col("digit_ratio")))
    val selected = Select.topPExact(scored, "lang",
      Seq(col("quality").desc_nulls_last, col("doc_id").asc), 0.5)
      .select("doc_id", "lang", "text")
    // 4. deterministic 50% sample — eagerly checkpointed: the released set
    // is SMALL (a fraction of the corpus) and everything downstream
    // (range-partitioner sampling, the packing's two passes, the lang
    // join-back) would otherwise re-run the five upstream stages once per
    // job; after the checkpoint they re-read a materialized frame instead.
    // Contract note: localCheckpoint blocks live on executor local disk,
    // NOT reliable storage — an executor loss mid-release loses them and
    // fails the lineage (non-recoverable); a production release run that
    // must survive preemption should use reliable checkpoint
    // (sc.setCheckpointDir + .checkpoint()) or persist the frame to the
    // lake and re-read it, at one extra round-trip of the SMALL frame
    val sampled = Sampling.sample(selected, col("doc_id"), 0.5)
      .localCheckpoint(true)
    // 5. pack into 256-token windows (doc_id order)
    Packing.packSequences(sampled, "doc_id",
        TextOps.tokenCountRe(col("text")), 256L)
      .join(sampled.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("tok_start"), col("pack_id"))
      .orderBy("doc_id")
  }

  val q89CorpusReleaseSql: String = {
    val stops = TextOps.enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH fps AS (
      |  SELECT doc_id, lang, text, md5($normSql) AS fp FROM documents),
      |canon AS (SELECT fp, MIN(doc_id) AS keep_id FROM fps GROUP BY fp),
      |dedup AS (
      |  SELECT f.doc_id, f.lang, f.text FROM fps f
      |  JOIN canon c ON f.fp = c.fp AND f.doc_id = c.keep_id),
      |aw AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |ash AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(ws) - 2),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS shingle
      |  FROM aw WHERE len(ws) >= 4),
      |bench AS (SELECT DISTINCT shingle FROM ash WHERE doc_id % 97 = 0),
      |flagged AS (
      |  SELECT DISTINCT c.doc_id FROM ash c JOIN bench b ON c.shingle = b.shingle),
      |clean AS (
      |  SELECT d.* FROM dedup d
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)),
      |base AS (
      |  SELECT doc_id, lang, text,
      |    len($wordsSql) AS n_words,
      |    len(list_filter($wordsSql, w -> list_contains($stops, w))) AS n_stopwords,
      |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit_chars,
      |    length(text) AS n_chars
      |  FROM clean),
      |qscored AS (
      |  SELECT doc_id, lang, text,
      |    greatest(0.0, least(1.0,
      |      0.2 + 0.6 * (CAST(n_stopwords AS DOUBLE) / CAST(nullif(n_words, 0) AS DOUBLE))
      |        + 0.002 * CAST(n_words AS DOUBLE)
      |        - 0.3 * (CAST(n_digit_chars AS DOUBLE) / CAST(nullif(n_chars, 0) AS DOUBLE)))) AS quality
      |  FROM base),
      |ranked AS (
      |  SELECT doc_id, lang, text,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY quality DESC NULLS LAST, doc_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS cnt
      |  FROM qscored),
      |selected AS (
      |  SELECT doc_id, lang, text FROM ranked
      |  WHERE rn <= CAST(CEIL(0.5 * cnt) AS BIGINT)),
      |sampled AS (
      |  SELECT doc_id, lang, text FROM selected
      |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 5000),
      |tc AS (
      |  SELECT doc_id, lang,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
      |  FROM sampled),
      |cs AS (
      |  SELECT doc_id, lang, n_tokens,
      |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
      |  FROM tc)
      |SELECT doc_id, lang, n_tokens, CAST(tok_start AS BIGINT) AS tok_start,
      |  CAST(tok_start // 256 AS BIGINT) AS pack_id
      |FROM cs ORDER BY doc_id""".stripMargin
  }

  // URLs redact FIRST and emails count on the URL-redacted text,
  // mirroring TextOps.redact/emailCount: a userinfo URL
  // (https://user@host.com/x) is one URL, never also an email.
  val q86RedactSql: String =
    s"""WITH salted AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com or https://site'
      |      || doc_id || '.example/path or http://u' || doc_id || ':pw@h'
      |      || doc_id || '.example/q' AS t
      |  FROM documents),
      |u AS (
      |  SELECT doc_id, t,
      |    regexp_replace(t, '${TextOps.urlPattern}', '<URL>', 'g') AS t_nourl
      |  FROM salted)
      |SELECT doc_id,
      |  len(regexp_extract_all(t_nourl, '${TextOps.emailPattern}')) AS n_emails,
      |  len(regexp_extract_all(t, '${TextOps.urlPattern}')) AS n_urls,
      |  regexp_replace(t_nourl, '${TextOps.emailPattern}', '<EMAIL>', 'g')
      |    AS redacted
      |FROM u
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Symmetric int8 embedding quantization ([[graft.sim.Quantize]]) with a
    * FULL exact oracle over its observable stats: per vector, the scale,
    * the quantized-element sum and nonzero count (integer-exact), and the
    * worst per-element reconstruction error. Cross-engine exactness rests
    * on `floor(x/s + 0.5)` (IEEE floor is exact in both engines, unlike
    * `round()` half-way semantics) and float→double casts before any
    * arithmetic; `sum_q` is CAST to BIGINT in the oracle (DuckDB list_sum
    * is HUGEINT — the q78/q89 r6 lesson). */
  def q95QuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val scale = Quantize.scaleOf(col("embedding"))
    val q = Quantize.quantized(col("embedding"), col("scale"))
    e.select(col("vec_id"), scale.as("scale"), col("embedding"))
      .withColumn("q", q)
      .select(
        col("vec_id"), col("scale"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("sum_q"),
        size(filter(col("q"), _ =!= 0L)).cast("long").as("nnz"),
        Quantize.maxError(col("embedding"), col("scale")).as("max_err"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q96
  /** Similarity search OVER the int8-quantized corpus — the use case that
    * justifies [[graft.sim.Quantize]]: brute-force cosine top-10 on the
    * DEQUANTIZED vectors (q·scale, double math), reusing the exact
    * [[Similarity.bruteForceTopK]] machinery (vec_dot accepts double
    * arrays). Fully hash-green oracle: DuckDB replays quantize →
    * dequantize → cosine → rank with identical list arithmetic, so this
    * pins end-to-end that the quantized search path is engine-exact — the
    * recall-vs-exact question is a data property, not an engine one, and
    * QuantizedSearch tests pin recall ≥ 0.9 @10 on the fixture. */
  def q96QuantizedSearch(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val deq = Quantize.int8(e, "vec_id", "embedding")
      .select(col("vec_id"),
        Quantize.dequantized(col("q"), col("scale")).as("d"))
    Similarity.bruteForceTopK(deq, deq.filter(col("vec_id") < 8),
      "vec_id", "d", k = 10)
      .orderBy("q_id", "rank")
  }

  val q96QuantizedSearchSql: String =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) / CAST(127 AS DOUBLE) AS scale
      |  FROM embeddings),
      |dq AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE)
      |      ELSE CAST(GREATEST(CAST(-127 AS DOUBLE), LEAST(CAST(127 AS DOUBLE),
      |        FLOOR(CAST(x AS DOUBLE) / scale + CAST(0.5 AS DOUBLE)))) AS DOUBLE)
      |        * scale END) AS e
      |  FROM s),
      |v AS (
      |  SELECT vec_id, e,
      |    sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      |  FROM dq),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    list_sum(list_transform(range(1, len(q.e) + 1),
      |      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
      |  FROM v q JOIN v c ON q.vec_id < 8 AND q.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, rank, cosine FROM ranked
      |WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  val q95QuantizeInt8Sql: String =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE)))) / CAST(127 AS DOUBLE) AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, scale, embedding,
      |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
      |      ELSE CAST(GREATEST(CAST(-127 AS DOUBLE), LEAST(CAST(127 AS DOUBLE),
      |        FLOOR(CAST(x AS DOUBLE) / scale + CAST(0.5 AS DOUBLE)))) AS BIGINT)
      |      END) AS qv
      |  FROM s)
      |SELECT vec_id, scale,
      |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
      |  CAST(len(list_filter(qv, v -> v <> 0)) AS BIGINT) AS nnz,
      |  COALESCE(list_max(list_transform(range(1, len(embedding) + 1),
      |    i -> abs(CAST(embedding[i] AS DOUBLE)
      |      - CAST(qv[i] AS DOUBLE) * scale))), CAST(0 AS DOUBLE)) AS max_err
      |FROM q
      |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q146
  /** SemDeDup ([[graft.sim.Similarity.semanticDedup]], Abbas et al.
    * 2023): semantic dedup over the PRE-ASSIGNED `label` clusters —
    * within each cluster, rank ascending by cosine-to-centroid (the
    * paper keeps the members LEAST like the centroid) and drop anything
    * with cosine ≥ τ to an earlier-ranked member. The oracle reproduces
    * the whole rule in SQL: per-dim centroid means, centroid cosines,
    * the rank, the greedy-scan drop join — so the kept SET (not just
    * counts) is pinned cross-engine. */
  def q146SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(embs(s, dir), "vec_id", "embedding",
      "label", tau = 0.3)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")

  val q146SemanticDedupSql: String =
    """WITH v AS (
      |  SELECT label, vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |ex AS (
      |  SELECT label,
      |    unnest(range(len(e))) AS dim,
      |    unnest(e) AS x
      |  FROM v),
      |cm AS (SELECT label, dim, SUM(x) / COUNT(*) AS m
      |  FROM ex GROUP BY label, dim),
      |cent AS (
      |  SELECT label, list(m ORDER BY dim) AS ce FROM cm GROUP BY label),
      |cs AS (
      |  SELECT v.label, vec_id, e, nrm,
      |    list_sum(list_transform(range(1, len(e) + 1),
      |      i -> e[i] * ce[i]))
      |      / (nrm * sqrt(list_sum(list_transform(ce, x -> x * x))))
      |      AS csim
      |  FROM v JOIN cent ON v.label = cent.label),
      |rk AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY label ORDER BY csim, vec_id) AS r
      |  FROM cs),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM rk a JOIN rk b ON a.label = b.label AND a.r < b.r
      |  WHERE list_sum(list_transform(range(1, len(a.e) + 1),
      |      i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= 0.3)
      |SELECT vec_id, label FROM embeddings
      |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
      |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q147
  /** q146's SemDeDup at ×30 CLUSTERS (each replica cluster gets distinct
    * vec_ids and a distinct label, so cluster SIZE stays constant) — the
    * scale datum for the operator's defining property: within-cluster
    * pair work is Σ(cluster²), so 30× the corpus at fixed cluster size is
    * 30× the pairs, never 900×. The SemDeDup regime (Abbas et al. 2023
    * §3: cluster count scales with corpus, cluster size is capped by the
    * k-means budget) is exactly this shape, so the LINEAR curve this
    * entry records is the one a 100 TB run rides. */
  def q147SemdedupScale30(s: SparkSession, dir: String): DataFrame = {
    val rep = embs(s, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
        graft.ops.Replicate.rep(30).as("r"))
      .select((col("vec_id") * 30 + col("r")).as("vec_id"), col("embedding"),
        (col("label") * 30 + col("r")).as("label"))
    Similarity.semanticDedup(rep, "vec_id", "embedding", "label", tau = 0.3)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  val q147SemdedupScale30Sql: String =
    q146SemanticDedupSql
      .replace("FROM embeddings)", "FROM rep)")
      .replace("FROM embeddings\nWHERE", "FROM rep\nWHERE")
      .replace("WITH v AS (",
        """WITH rep AS (
          |  SELECT vec_id * 30 + r.range AS vec_id, embedding,
          |    label * 30 + r.range AS label
          |  FROM embeddings CROSS JOIN range(30) r),
          |v AS (""".stripMargin)

  // --------------------------------------------------------------- q148
  /** Incremental SemDeDup ([[graft.sim.Similarity.semanticDedupIncremental]]):
    * even vec_ids arrive first (against an empty registry), odd vec_ids
    * second (against the registry of ALL first-batch members, kept and
    * dropped) — centroids fixed up front as the whole-corpus per-label
    * means, the one-time k-means stand-in. The oracle runs the batch rule
    * over everything with rank = (arrival, csim, vec_id) — the
    * concatenation the two incremental calls must be exactly equivalent
    * to (the prefix property) — so both calls' kept sets are pinned in
    * one result. */
  def q148IncrementalSemdedup(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val centroids = e.groupBy(col("label"))
      .agg(graft.sim.VectorMean.column(col("embedding")).as("embedding"))
    val emptyReg = e.select(col("label"), lit(0.0).as("nrm"),
      col("embedding")).limit(0)
    val r1 = Similarity.semanticDedupIncremental(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", "label",
      centroids, emptyReg, tau = 0.3)
    val r2 = Similarity.semanticDedupIncremental(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", "label",
      centroids, r1.newMembers, tau = 0.3)
    r1.kept.unionByName(r2.kept)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  val q148IncrementalSemdedupSql: String =
    """WITH v AS (
      |  SELECT label, vec_id, vec_id % 2 AS arr,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |ex AS (
      |  SELECT label,
      |    unnest(range(len(e))) AS dim,
      |    unnest(e) AS x
      |  FROM v),
      |cm AS (SELECT label, dim, SUM(x) / COUNT(*) AS m
      |  FROM ex GROUP BY label, dim),
      |cent AS (
      |  SELECT label, list(m ORDER BY dim) AS ce FROM cm GROUP BY label),
      |cs AS (
      |  SELECT v.label, vec_id, arr, e, nrm,
      |    list_sum(list_transform(range(1, len(e) + 1),
      |      i -> e[i] * ce[i]))
      |      / (nrm * sqrt(list_sum(list_transform(ce, x -> x * x))))
      |      AS csim
      |  FROM v JOIN cent ON v.label = cent.label),
      |rk AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY label ORDER BY arr, csim, vec_id) AS r
      |  FROM cs),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM rk a JOIN rk b ON a.label = b.label AND a.r < b.r
      |  WHERE list_sum(list_transform(range(1, len(a.e) + 1),
      |      i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= 0.3)
      |SELECT vec_id, label FROM embeddings
      |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
      |ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------- q149
  /** q146's SemDeDup at ×100 CLUSTERS — the decade above q147 on the
    * corpus axis (cluster count grows, cluster size fixed: the SemDeDup
    * regime). q147's same-session ratio left the marginal-cost argument
    * one decade short: Spark's per-pair marginal was already below
    * DuckDB's at ×30 (0.397 vs 0.611 s for the 29× extra pairs), so the
    * ratio should cross 1× as the ×1 job constant amortizes — this entry
    * records the point that proves or kills that prediction. */
  def q149SemdedupScale100(s: SparkSession, dir: String): DataFrame = {
    val rep = embs(s, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
        graft.ops.Replicate.rep(100).as("r"))
      .select((col("vec_id") * 100 + col("r")).as("vec_id"), col("embedding"),
        (col("label") * 100 + col("r")).as("label"))
    Similarity.semanticDedup(rep, "vec_id", "embedding", "label", tau = 0.3)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  val q149SemdedupScale100Sql: String =
    q146SemanticDedupSql
      .replace("FROM embeddings)", "FROM rep)")
      .replace("FROM embeddings\nWHERE", "FROM rep\nWHERE")
      .replace("WITH v AS (",
        """WITH rep AS (
          |  SELECT vec_id * 100 + r.range AS vec_id, embedding,
          |    label * 100 + r.range AS label
          |  FROM embeddings CROSS JOIN range(100) r),
          |v AS (""".stripMargin)

  // --------------------------------------------------------------- q150
  /** Streaming SemDeDup end-to-end
    * ([[graft.streaming.CdcStreamIngest.toSemanticDedupTable]]): the
    * embeddings table arrives as THREE mtime-ordered micro-batches
    * (vec_id % 3 — FileStreamSource processes files in modification-time
    * order, pinned explicitly), each swept against the registry
    * accumulated in a keyed [[graft.sink.VersionedLakeTable]], survivors
    * upserted into a keyed lake table that this query reads back. The
    * oracle runs the batch rule over everything with rank =
    * (arrival, csim, vec_id) — q148's prefix property, now carried
    * through the real streaming machinery, checkpointing, and both lake
    * tables rather than two manual calls. */
  def q150StreamSemdedup(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val e = embs(s, dir)
      .withColumn("create_at", lit("2000-01-01T00:00:00.000000+0000"))
      .withColumn("update_at", lit("2000-01-01T00:00:00.000000+0000"))
    val centroids = embs(s, dir).groupBy(col("label"))
      .agg(graft.sim.VectorMean.column(col("embedding")).as("embedding"))
      .localCheckpoint(true)
    val batches = (0 until 3).map(b => e.filter(pmod(col("vec_id"), lit(3)) === b))
    val kept = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q150_kept").toString,
      recordKeys = Seq("vec_id"), precombine = "update_at",
      partitionSource = "create_at"))
    val registry = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q150_reg").toString,
      recordKeys = Seq("vec_id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("vec_id")))
    graft.streaming.CdcStreamIngest.toSemanticDedupTable(
      mtimeOrderedStream(s, "q150", batches),
      "vec_id", "embedding", "label", () => centroids, tau = 0.3,
      kept, registry,
      Files.createTempDirectory("graft_q150_ckpt").toString)
    kept.read().select(col("vec_id"), col("label")).orderBy("vec_id")
  }

  val q150StreamSemdedupSql: String =
    q148IncrementalSemdedupSql.replace("vec_id % 2 AS arr",
      "vec_id % 3 AS arr")

  // --------------------------------------------------------------- q151
  /** Streaming span (C4) dedup end-to-end
    * ([[graft.streaming.CdcStreamIngest.toSpanDedupTable]]): the
    * documents table arrives as THREE mtime-ordered micro-batches split
    * by doc_id RANGE — monotone ids make batch order equal corpus
    * order, so the streamed pipeline must reproduce the ONE-SHOT
    * [[graft.dedup.SpanDedup.clean]] exactly, and q98's C4 SQL oracles
    * it verbatim: registry accumulation, the batch-id replay guard,
    * checkpointing, and both lake tables all have to land on the
    * one-shot answer's bits. */
  def q151StreamSpandedup(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val d = docs(s, dir)
      .withColumn("create_at", lit("2000-01-01T00:00:00.000000+0000"))
      .withColumn("update_at", lit("2000-01-01T00:00:00.000000+0000"))
    val cuts = d.stat.approxQuantile("doc_id", Array(0.33, 0.66), 0.001)
    val bounds = Seq((Long.MinValue, cuts(0).toLong),
      (cuts(0).toLong, cuts(1).toLong), (cuts(1).toLong, Long.MaxValue))
    val batches = bounds.map { case (lo, hi) =>
      d.filter(col("doc_id") > lo && col("doc_id") <= hi) }
    val cleaned = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q151_clean").toString,
      recordKeys = Seq("doc_id"), precombine = "update_at",
      partitionSource = "create_at"))
    val registry = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q151_reg").toString,
      recordKeys = Seq("h"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("batch_id")))
    graft.streaming.CdcStreamIngest.toSpanDedupTable(
      mtimeOrderedStream(s, "q151", batches),
      "doc_id", "text", k = 3, cleaned, registry,
      Files.createTempDirectory("graft_q151_ckpt").toString)
    cleaned.read()
      .select(col("doc_id"), col("n_spans"), col("n_kept"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  /** q98's one-shot C4 SQL verbatim — the streamed pipeline with
    * monotone id-range batches must equal it exactly. */
  def q151StreamSpandedupSql: String = q98SpanDedupSql

  // --------------------------------------------------------------- q153
  /** Streaming MinHash-LSH near-dup dedup end-to-end
    * ([[graft.streaming.CdcStreamIngest.toNearDupTable]]): the documents
    * table arrives as THREE mtime-ordered micro-batches split by doc_id
    * RANGE. The registry holds every prior doc (drops included), so with
    * monotone ids the drop rule is exactly "near-duplicates any
    * smaller-id document" — batch-boundary-invariant — and at the proven
    * recall-total config (τ=0.9, b=16/r=8 — q42/q84) the exact Jaccard
    * pair SQL oracles the streamed pipeline outright: registry
    * accumulation, the batch-id replay guard, checkpointing, and both
    * lake tables all have to land on the exact pair set's answer. */
  def q153StreamNeardup(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val d = docs(s, dir)
      .withColumn("create_at", lit("2000-01-01T00:00:00.000000+0000"))
      .withColumn("update_at", lit("2000-01-01T00:00:00.000000+0000"))
    val cuts = d.stat.approxQuantile("doc_id", Array(0.33, 0.66), 0.001)
    val bounds = Seq((Long.MinValue, cuts(0).toLong),
      (cuts(0).toLong, cuts(1).toLong), (cuts(1).toLong, Long.MaxValue))
    val batches = bounds.map { case (lo, hi) =>
      d.filter(col("doc_id") > lo && col("doc_id") <= hi) }
    val cleaned = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q153_clean").toString,
      recordKeys = Seq("doc_id"), precombine = "update_at",
      partitionSource = "create_at"))
    val registry = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q153_reg").toString,
      recordKeys = Seq("doc_id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("batch_id")))
    graft.streaming.CdcStreamIngest.toNearDupTable(
      mtimeOrderedStream(s, "q153", batches),
      "doc_id", "text", n = 2, bands = 16, rowsPerBand = 8,
      threshold = 0.9, cleaned, registry,
      Files.createTempDirectory("graft_q153_ckpt").toString)
    cleaned.read().select(col("doc_id"))
      .join(docs(s, dir), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- q155
  /** Signature-registry incremental dedup
    * ([[graft.dedup.Dedup.incrementalDedupSigs]]) on q84's exact
    * fixture: every 3rd document arrives as the batch, the rest stand as
    * the registry — but the registry is consulted through its STORED
    * minhash signature arrays (built once, as ingest would), so the
    * batch never re-shingles the corpus. Same drop rule, same
    * recall-total config, so q84's exact-Jaccard SQL oracles this form
    * outright too — the oracle can't tell which engine shape produced
    * the kept set, which is the point. */
  def q155SigIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val existing = d.filter(col("doc_id") % 3 =!= 0)
    val registry = existing.select(col("doc_id"), col("text"))
      .join(Dedup.signatureArrays(existing, "doc_id", "text", n = 2,
          numHashes = 128).withColumnRenamed("doc", "doc_id"),
        Seq("doc_id"), "left")
    Dedup.incrementalDedupSigs(registry, d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", n = 2, bands = 16, rowsPerBand = 8,
        threshold = 0.9)
      .kept
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val q155SigIncrementalDedupSql: String = q84IncrementalDedupSql

  // --------------------------------------------------------------- q157
  /** The COMPOSED streaming curation pipeline
    * ([[graft.streaming.CdcStreamIngest.toCuratedTable]]): span (C4)
    * dedup feeding near-dup dedup of the CLEANED text, streamed as three
    * mtime-ordered id-range micro-batches through both registries. The
    * oracle is ONE SQL statement: q98's C4 clean, then the
    * exact-Jaccard drop rule (τ=0.9) over the cleaned text — the whole
    * two-stage pipeline, replay guards, four lake tables and all, must
    * land on that statement's bits.
    *
    * Honest scope note: on THIS corpus the stage-2 drop set is empty at
    * τ=0.9 (hash-green at 500/500 and 5000/5000 rows) — span dedup
    * removes exactly the shared text that made raw documents near-dups,
    * so the oracle here pins the full stage-1 path through the streaming
    * machinery plus stage 2's NO-FALSE-DROPS side. Stage 2 actually
    * firing after stage 1 is pinned at unit level by
    * StreamingCurateSpec's offset fixture AND at the driver-oracle
    * level by [[q158StreamCurateMisaligned]], whose injected corpus
    * drops a non-empty stage-2 set at both fixture scales. */
  def q157StreamCurate(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val d = docs(s, dir)
      .withColumn("create_at", lit("2000-01-01T00:00:00.000000+0000"))
      .withColumn("update_at", lit("2000-01-01T00:00:00.000000+0000"))
    val cuts = d.stat.approxQuantile("doc_id", Array(0.33, 0.66), 0.001)
    val bounds = Seq((Long.MinValue, cuts(0).toLong),
      (cuts(0).toLong, cuts(1).toLong), (cuts(1).toLong, Long.MaxValue))
    val batches = bounds.map { case (lo, hi) =>
      d.filter(col("doc_id") > lo && col("doc_id") <= hi) }
    val curated = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q157_cur").toString,
      recordKeys = Seq("doc_id"), precombine = "update_at",
      partitionSource = "create_at"))
    val spanReg = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q157_sreg").toString,
      recordKeys = Seq("h"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("batch_id")))
    val docReg = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q157_dreg").toString,
      recordKeys = Seq("doc_id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("batch_id")))
    graft.streaming.CdcStreamIngest.toCuratedTable(
      mtimeOrderedStream(s, "q157", batches),
      "doc_id", "text", k = 3, n = 2, bands = 16, rowsPerBand = 8,
      threshold = 0.9, curated, spanReg, docReg,
      Files.createTempDirectory("graft_q157_ckpt").toString)
    curated.read()
      .select(col("doc_id"), col("n_spans"), col("n_kept"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  /** q98's one-shot C4 clean composed with the split-invariant near-dup
    * rule over the CLEANED text (clean_text is built from normalized
    * words, so splitting it on single spaces re-derives the same word
    * stream the engine shingles). */
  val q157StreamCurateSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, ws,
      |    CAST(floor((len(ws) + 2) / CAST(3 AS DOUBLE)) AS BIGINT) AS n_spans
      |  FROM w),
      |s AS (
      |  SELECT doc_id, unnest(list_transform(range(0, n_spans),
      |    i -> {'i': i, 'sp': array_to_string(ws[(i*3+1):(i*3+3)], ' ')}))
      |    AS e
      |  FROM b),
      |s2 AS (SELECT doc_id, e.i AS span_idx, e.sp AS span FROM s),
      |w1 AS (SELECT span, MIN(doc_id) AS wdoc FROM s2 GROUP BY 1),
      |w2 AS (
      |  SELECT s2.span, s2.doc_id AS wdoc, MIN(s2.span_idx) AS widx
      |  FROM s2 JOIN w1 ON s2.span = w1.span AND s2.doc_id = w1.wdoc
      |  GROUP BY 1, 2),
      |kept AS (
      |  SELECT s2.doc_id, s2.span_idx, s2.span
      |  FROM s2 JOIN w2 ON s2.span = w2.span
      |    AND s2.doc_id = w2.wdoc AND s2.span_idx = w2.widx),
      |re AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    string_agg(span, ' ' ORDER BY span_idx) AS clean_text
      |  FROM kept GROUP BY 1),
      |cleanres AS (
      |  SELECT b.doc_id, n_spans,
      |    CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
      |    COALESCE(clean_text, '') AS clean_text
      |  FROM b LEFT JOIN re ON b.doc_id = re.doc_id),
      |wc AS (
      |  SELECT doc_id, string_split(clean_text, ' ') AS ws2
      |  FROM cleanres WHERE clean_text <> ''),
      |shc AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws2)),
      |    i -> ws2[i] || ' ' || ws2[i+1])) AS shingle
      |  FROM wc),
      |sizesc AS (SELECT doc_id, COUNT(*) AS nsh FROM shc GROUP BY doc_id),
      |interc AS (
      |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, COUNT(*) AS i
      |  FROM shc a JOIN shc b2 ON a.shingle = b2.shingle
      |    AND a.doc_id < b2.doc_id
      |  GROUP BY 1, 2),
      |dropsc AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM interc
      |  JOIN sizesc sa ON sa.doc_id = doc_a
      |  JOIN sizesc sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / CAST(sa.nsh + sb.nsh - i AS DOUBLE) >= 0.9)
      |SELECT doc_id, n_spans, n_kept, clean_text
      |FROM cleanres
      |WHERE doc_id NOT IN (SELECT doc_id FROM dropsc)
      |ORDER BY doc_id""".stripMargin

  /** The split-invariant drop rule in exact SQL: a doc is dropped iff it
    * exact-Jaccard-pairs (τ=0.9) with ANY smaller-id doc — every doc_b
    * of every pair. */
  val q153StreamNeardupSql: String =
    s"""WITH $jaccardCtesSql,
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9),
      |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
      |SELECT d.doc_id, d.lang, d.source, d.n_chars
      |FROM documents d
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- q158
  /** q157's composed streaming curation on a corpus where stage 2
    * PROVABLY fires at the oracle level (r13 verdict #4: q157's own drop
    * set is empty at τ=0.9 — span dedup removes exactly the shared text
    * that made raw documents near-dups). Every doc_id % 7 == 0 spawns a
    * synthetic pair built from its normalized words suffixed with the
    * doc id (`the → thex42`) — corpus-UNIQUE words, so neither synthetic
    * doc can lose a span to the template-heavy corpus's cross-doc
    * trigram collisions (the first cut prepended a word to RAW text and
    * stage 1 ate 30–50% of every companion through exactly those
    * collisions — zero drops at τ=0.9, measured):
    *  - A (id + 1,000,000): the suffixed text verbatim;
    *  - B (id + 2,000,000): A with ONE word prepended — every k=3 span
    *    boundary shifts, so stage 1 keeps B's spans as novel keys and
    *    B's cleaned text survives near-identical to A's. Only stage 2's
    *    bigram shingles over the CLEANED text reveal the pair (Jaccard
    *    n/(n+1), ≥0.9 for every doc with ≥10 words, typically ≈0.97 —
    *    deep in the recall-total band regime).
    * A arrives before B (id order → last micro-batches), so the
    * incremental drop rule fires exactly as a continuously-ingesting
    * near-dup would: the oracle's drop set is non-empty at sf0.01 AND
    * sf0.1, and the streamed result must land on the one-statement
    * composition's bits with every B adjudicated. */
  def q158StreamCurateMisaligned(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val d0 = docs(s, dir).select(col("doc_id"), col("text"))
    val sel = d0.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        array_join(transform(
            TextOps.words(TextOps.normalized(col("text"))),
            w => concat(w, lit("x"), col("doc_id"))), " ").as("stext"))
    val d = d0
      .unionByName(sel.select((col("doc_id") + 1000000L).as("doc_id"),
        col("stext").as("text")))
      .unionByName(sel.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("offsetword "), col("stext")).as("text")))
      .withColumn("create_at", lit("2000-01-01T00:00:00.000000+0000"))
      .withColumn("update_at", lit("2000-01-01T00:00:00.000000+0000"))
    val cuts = d.stat.approxQuantile("doc_id", Array(0.33, 0.66), 0.001)
    val bounds = Seq((Long.MinValue, cuts(0).toLong),
      (cuts(0).toLong, cuts(1).toLong), (cuts(1).toLong, Long.MaxValue))
    val batches = bounds.map { case (lo, hi) =>
      d.filter(col("doc_id") > lo && col("doc_id") <= hi) }
    val curated = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q158_cur").toString,
      recordKeys = Seq("doc_id"), precombine = "update_at",
      partitionSource = "create_at"))
    val spanReg = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q158_sreg").toString,
      recordKeys = Seq("h"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("batch_id")))
    val docReg = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q158_dreg").toString,
      recordKeys = Seq("doc_id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("batch_id")))
    graft.streaming.CdcStreamIngest.toCuratedTable(
      mtimeOrderedStream(s, "q158", batches),
      "doc_id", "text", k = 3, n = 2, bands = 16, rowsPerBand = 8,
      threshold = 0.9, curated, spanReg, docReg,
      Files.createTempDirectory("graft_q158_ckpt").toString)
    curated.read()
      .select(col("doc_id"), col("n_spans"), col("n_kept"),
        col("clean_text"))
      .orderBy("doc_id")
  }

  /** q157's one-statement oracle over the AUGMENTED corpus (documents ∪
    * the suffixed/misaligned synthetic pairs) — built by substituting
    * the source CTE so the two compositions cannot drift apart. */
  val q158StreamCurateMisalignedSql: String = {
    val suffixed = "array_to_string(list_transform(" +
      s"string_split($normSql, ' '), " +
      "w -> w || 'x' || CAST(doc_id AS VARCHAR)), ' ')"
    "WITH aug AS (\n" +
      "  SELECT doc_id, text FROM documents\n" +
      "  UNION ALL\n" +
      s"  SELECT doc_id + 1000000 AS doc_id, $suffixed AS text\n" +
      "  FROM documents WHERE doc_id % 7 = 0\n" +
      "  UNION ALL\n" +
      s"  SELECT doc_id + 2000000 AS doc_id, 'offsetword ' || $suffixed AS text\n" +
      "  FROM documents WHERE doc_id % 7 = 0),\n" +
      q157StreamCurateSql.stripPrefix("WITH ")
        .replace("FROM documents", "FROM aug")
  }

  // ---------------------------------------------------------------- q97
  /** Intra-document repetition metrics + keep/drop verdict
    * ([[graft.text.Repetition]]) — the boilerplate/degenerate-repetition
    * filter stage (duplicate-word fraction, top word-bigram share).
    * Thresholds 0.55/0.05 sit near the corpus medians (0.54/0.033) so the
    * verdict column genuinely splits the corpus. The Spark argmax is
    * `max(struct(cnt, gram))` — ties to the lexicographically largest
    * gram — which the oracle mirrors as `ORDER BY cnt DESC, gram DESC`. */
  def q97RepetitionFilter(s: SparkSession, dir: String): DataFrame =
    Repetition.metrics(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q97RepetitionFilterSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |base AS (
      |  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words
      |  FROM w),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i+1])) AS gram
      |  FROM base),
      |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
      |t AS (
      |  SELECT doc_id, gram AS top_gram, cnt AS top_gram_n,
      |    row_number() OVER
      |      (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
      |  FROM c),
      |m AS (
      |  SELECT b.doc_id, n_words, n_distinct_words,
      |    COALESCE(CAST(1 AS DOUBLE) - CAST(n_distinct_words AS DOUBLE)
      |      / CAST(nullif(n_words, 0) AS DOUBLE), CAST(0 AS DOUBLE))
      |      AS dup_word_frac,
      |    COALESCE(top_gram, '') AS top_gram,
      |    CAST(COALESCE(top_gram_n, 0) AS BIGINT) AS top_gram_n,
      |    COALESCE(CAST(top_gram_n AS DOUBLE)
      |      / CAST(nullif(n_words - 1, 0) AS DOUBLE), CAST(0 AS DOUBLE))
      |      AS top_gram_frac
      |  FROM base b
      |  LEFT JOIN (SELECT * FROM t WHERE rn = 1) t ON b.doc_id = t.doc_id)
      |SELECT *,
      |  dup_word_frac <= CAST(0.55 AS DOUBLE)
      |    AND top_gram_frac <= CAST(0.05 AS DOUBLE) AS keep
      |FROM m
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Corpus-level duplicate-span removal ([[graft.dedup.SpanDedup]]) — the
    * C4 rule over deterministic 3-word spans of the canonical text: the
    * corpus-first occurrence (lexicographic (doc_id, span_idx) min) of each
    * span survives, all later occurrences drop, and each document is
    * rebuilt from its surviving spans. At k=3 ~19% of this corpus's spans
    * are repeats, so the rule genuinely rewrites documents. */
  def q98SpanDedup(s: SparkSession, dir: String): DataFrame =
    SpanDedup.clean(docs(s, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id")

  val q98SpanDedupSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, ws,
      |    CAST(floor((len(ws) + 2) / CAST(3 AS DOUBLE)) AS BIGINT) AS n_spans
      |  FROM w),
      |s AS (
      |  SELECT doc_id, unnest(list_transform(range(0, n_spans),
      |    i -> {'i': i, 'sp': array_to_string(ws[(i*3+1):(i*3+3)], ' ')}))
      |    AS e
      |  FROM b),
      |s2 AS (SELECT doc_id, e.i AS span_idx, e.sp AS span FROM s),
      |w1 AS (SELECT span, MIN(doc_id) AS wdoc FROM s2 GROUP BY 1),
      |w2 AS (
      |  SELECT s2.span, s2.doc_id AS wdoc, MIN(s2.span_idx) AS widx
      |  FROM s2 JOIN w1 ON s2.span = w1.span AND s2.doc_id = w1.wdoc
      |  GROUP BY 1, 2),
      |kept AS (
      |  SELECT s2.doc_id, s2.span_idx, s2.span
      |  FROM s2 JOIN w2 ON s2.span = w2.span
      |    AND s2.doc_id = w2.wdoc AND s2.span_idx = w2.widx),
      |re AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    string_agg(span, ' ' ORDER BY span_idx) AS clean_text
      |  FROM kept GROUP BY 1)
      |SELECT b.doc_id, n_spans,
      |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
      |  COALESCE(clean_text, '') AS clean_text
      |FROM b LEFT JOIN re ON b.doc_id = re.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Bigram-LM fluency scoring ([[graft.text.NgramLM]]) — the CCNet-style
    * perplexity quality filter with the LM trained on the corpus itself.
    * `ln` is not bit-identical across engines (the one transcendental in
    * the whole oracle surface), so the score is compared at fixed
    * precision: `round(score, 6)` on BOTH sides; the pre-log arithmetic is
    * exact integer-count math. */
  def q99LmScore(s: SparkSession, dir: String): DataFrame =
    NgramLM.bigramScore(docs(s, dir), "doc_id", "text")
      .withColumn("score", round(col("score"), 6))
      .orderBy("doc_id")

  val q99LmScoreSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |p0 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
      |  FROM w),
      |p2 AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM p0),
      |bc AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS cb
      |       FROM p2 GROUP BY 1, 2),
      |cc AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS cw FROM p2 GROUP BY 1),
      |v AS (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v
      |      FROM (SELECT unnest(ws) AS word FROM w)),
      |sc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    avg(-ln((cb + CAST(1 AS DOUBLE)) / (cw + v))) AS score
      |  FROM p2 JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
      |  GROUP BY 1)
      |SELECT w.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  round(COALESCE(score, CAST(0 AS DOUBLE)), 6) AS score
      |FROM w LEFT JOIN sc ON w.doc_id = sc.doc_id
      |ORDER BY w.doc_id""".stripMargin

  // --------------------------------------------------------------- q100
  /** ×10-replicated span dedup — the DEDUP-class entry in the ×N scale
    * series (q62/q64 aggregation/join, q83/q87 ×100): the corpus is
    * replicated with distinct doc ids, so EVERY span is a ≥10-way
    * duplicate. This is the operator's worst realistic regime — massive
    * boilerplate duplication — and stresses exactly the two spots the
    * design claims scale: the winner aggregation (hot spans, absorbed by
    * map-side struct-min combine) and the winner join's probe fan-out
    * (AQE skew split). Replica 0 of each doc reproduces the q98 keep set;
    * later replicas keep nothing — the oracle pins the whole surface. */
  def q100SpanDedupScale10(s: SparkSession, dir: String): DataFrame = {
    val rep = docs(s, dir)
      .select(col("doc_id"), col("text"),
        graft.ops.Replicate.rep(10).as("r"))
      .select((col("doc_id") * 10 + col("r")).as("doc_id"), col("text"))
    SpanDedup.clean(rep, "doc_id", "text", k = 3).orderBy("doc_id")
  }

  val q100SpanDedupScale10Sql: String =
    s"""WITH rep AS (
      |  SELECT doc_id * 10 + r.range AS doc_id, text
      |  FROM documents CROSS JOIN range(10) r),
      |w AS (SELECT doc_id, $wordsSql AS ws FROM rep),
      |b AS (
      |  SELECT doc_id, ws,
      |    CAST(floor((len(ws) + 2) / CAST(3 AS DOUBLE)) AS BIGINT) AS n_spans
      |  FROM w),
      |s AS (
      |  SELECT doc_id, unnest(list_transform(range(0, n_spans),
      |    i -> {'i': i, 'sp': array_to_string(ws[(i*3+1):(i*3+3)], ' ')}))
      |    AS e
      |  FROM b),
      |s2 AS (SELECT doc_id, e.i AS span_idx, e.sp AS span FROM s),
      |w1 AS (SELECT span, MIN(doc_id) AS wdoc FROM s2 GROUP BY 1),
      |w2 AS (
      |  SELECT s2.span, s2.doc_id AS wdoc, MIN(s2.span_idx) AS widx
      |  FROM s2 JOIN w1 ON s2.span = w1.span AND s2.doc_id = w1.wdoc
      |  GROUP BY 1, 2),
      |kept AS (
      |  SELECT s2.doc_id, s2.span_idx, s2.span
      |  FROM s2 JOIN w2 ON s2.span = w2.span
      |    AND s2.doc_id = w2.wdoc AND s2.span_idx = w2.widx),
      |re AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    string_agg(span, ' ' ORDER BY span_idx) AS clean_text
      |  FROM kept GROUP BY 1)
      |SELECT b.doc_id, n_spans,
      |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
      |  COALESCE(clean_text, '') AS clean_text
      |FROM b LEFT JOIN re ON b.doc_id = re.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // --------------------------------------------------------------- q101
  /** Full Gopher char-fraction repetition suite
    * ([[graft.text.Repetition.charMetrics]]): top n-gram char share for
    * n=2..4, duplicated n-gram char mass for n=5..10, denominators the
    * normalized doc length. Every fraction is exact integer-count
    * arithmetic divided once — bit-identical cross-engine, no rounding
    * needed. The oracle resolves top-gram ties the same way (cnt DESC,
    * gram DESC). */
  def q101GopherRepetition(s: SparkSession, dir: String): DataFrame =
    Repetition.charMetrics(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q101GopherRepetitionSql: String = {
    val tops = Seq(2, 3, 4)
    val dups = 5 to 10
    val wideCols = (tops.map(n =>
        s"MAX(CASE WHEN n = $n THEN top_mass END) AS t$n") ++
      dups.map(n =>
        s"MAX(CASE WHEN n = $n THEN dup_mass END) AS d$n")).mkString(",\n|    ")
    val fracCols = (tops.map(n =>
        s"COALESCE(CAST(t$n AS DOUBLE) / CAST(nullif(b.n_chars, 0) AS DOUBLE), CAST(0 AS DOUBLE)) AS top${n}_frac") ++
      dups.map(n =>
        s"COALESCE(CAST(d$n AS DOUBLE) / CAST(nullif(b.n_chars, 0) AS DOUBLE), CAST(0 AS DOUBLE)) AS dup${n}_frac")).mkString(",\n|  ")
    s"""WITH w AS (SELECT doc_id, $normSql AS norm FROM documents),
      |b AS (
      |  SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars,
      |    string_split(norm, ' ') AS ws
      |  FROM w),
      |nn AS (SELECT doc_id, n_chars, ws, unnest(range(2, 11)) AS n FROM b),
      |g AS (
      |  SELECT doc_id, n_chars, n,
      |    unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
      |      i -> array_to_string(ws[i:i+n-1], ' '))) AS gram
      |  FROM nn),
      |c AS (SELECT doc_id, n_chars, n, gram, COUNT(*) AS cnt
      |      FROM g GROUP BY 1, 2, 3, 4),
      |t AS (
      |  SELECT doc_id, n, gram, cnt, row_number() OVER
      |    (PARTITION BY doc_id, n ORDER BY cnt DESC, gram DESC) AS rn
      |  FROM c),
      |tm AS (SELECT doc_id, n, cnt * length(gram) AS top_mass
      |       FROM t WHERE rn = 1),
      |pn AS (
      |  SELECT doc_id, n_chars, n,
      |    SUM(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END)
      |      AS dup_mass
      |  FROM c GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT pn.doc_id, pn.n_chars, pn.n, tm.top_mass, pn.dup_mass
      |  FROM pn JOIN tm ON pn.doc_id = tm.doc_id AND pn.n = tm.n),
      |wide AS (
      |  SELECT doc_id, n_chars,
      |    $wideCols
      |  FROM j GROUP BY 1, 2)
      |SELECT b.doc_id, b.n_chars,
      |  $fracCols
      |FROM b LEFT JOIN wide ON b.doc_id = wide.doc_id
      |ORDER BY b.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q102
  /** Incremental span dedup ([[graft.dedup.SpanDedup.incremental]]):
    * even-id docs form the accumulated registry (their distinct span
    * hashes), odd-id docs are the arriving batch — the continuous-
    * ingestion path that never re-reads the lake. A batch span survives
    * iff it misses the registry AND wins the batch-first rule. */
  def q102IncrementalSpans(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val registry = SpanDedup
      .incremental(d.where(col("doc_id") % 2 === 0), "doc_id", "text",
        s.emptyDataFrame.select(lit("").cast("binary").as("h")).limit(0),
        k = 3)
      .newSpans
    SpanDedup
      .incremental(d.where(col("doc_id") % 2 === 1), "doc_id", "text",
        registry, k = 3)
      .cleaned
      .orderBy("doc_id")
  }

  val q102IncrementalSpansSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |b AS (
      |  SELECT doc_id, ws,
      |    CAST(floor((len(ws) + 2) / CAST(3 AS DOUBLE)) AS BIGINT) AS n_spans
      |  FROM w),
      |s AS (
      |  SELECT doc_id, unnest(list_transform(range(0, n_spans),
      |    i -> {'i': i, 'sp': array_to_string(ws[(i*3+1):(i*3+3)], ' ')}))
      |    AS e
      |  FROM b),
      |s2 AS (SELECT doc_id, e.i AS span_idx, e.sp AS span FROM s),
      |reg AS (SELECT DISTINCT span FROM s2 WHERE doc_id % 2 = 0),
      |fresh AS (
      |  SELECT * FROM s2 WHERE doc_id % 2 = 1
      |    AND span NOT IN (SELECT span FROM reg)),
      |w1 AS (SELECT span, MIN(doc_id) AS wdoc FROM fresh GROUP BY 1),
      |w2 AS (
      |  SELECT f.span, f.doc_id AS wdoc, MIN(f.span_idx) AS widx
      |  FROM fresh f JOIN w1 ON f.span = w1.span AND f.doc_id = w1.wdoc
      |  GROUP BY 1, 2),
      |kept AS (
      |  SELECT f.doc_id, f.span_idx, f.span
      |  FROM fresh f JOIN w2 ON f.span = w2.span
      |    AND f.doc_id = w2.wdoc AND f.span_idx = w2.widx),
      |re AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    string_agg(span, ' ' ORDER BY span_idx) AS clean_text
      |  FROM kept GROUP BY 1)
      |SELECT b.doc_id, n_spans,
      |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
      |  COALESCE(clean_text, '') AS clean_text
      |FROM b LEFT JOIN re ON b.doc_id = re.doc_id
      |WHERE b.doc_id % 2 = 1
      |ORDER BY b.doc_id""".stripMargin

  // --------------------------------------------------------------- q103
  /** Hashed linear classifier gate ([[graft.text.HashClassifier]]) — the
    * fasttext-style model-based quality filter with deterministic
    * hash-derived integer weights (thousandths), so the margin is exact
    * fixed-point arithmetic: bit-identical cross-engine, no rounding. The
    * whole stage is a per-row projection — zero shuffles. */
  def q103ClassifierGate(s: SparkSession, dir: String): DataFrame =
    HashClassifier.margin(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q103ClassifierGateSql: String = {
    // md5-as-integer on both engines; weights = md5int(bucket) % 2001 - 1000
    def m(x: String) = s"CAST(('0x' || substr(md5($x), 1, 8)) AS BIGINT)"
    val bucket = m("w") + " % 4096"
    val weight = m(s"CAST($bucket AS VARCHAR)") + " % 2001 - 1000"
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |sc AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |    list_sum(list_transform(ws, w -> $weight)) AS wsum
      |  FROM w)
      |SELECT doc_id, COALESCE(n_words, 0) AS n_words,
      |  COALESCE(CAST(wsum AS DOUBLE)
      |    / (CAST(nullif(n_words, 0) AS DOUBLE) * CAST(1000 AS DOUBLE)),
      |    CAST(0 AS DOUBLE)) AS margin,
      |  COALESCE(CAST(wsum AS DOUBLE)
      |    / (CAST(nullif(n_words, 0) AS DOUBLE) * CAST(1000 AS DOUBLE)),
      |    CAST(0 AS DOUBLE)) > CAST(0 AS DOUBLE) AS keep
      |FROM sc
      |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q108
  /** TF-IDF top-3 terms per document ([[graft.text.TfIdf]]). Ranks on the
    * EXACT rational tf·N/df (bit-identical cross-engine) with term
    * tie-break; the classic ln-based tfidf value is reported at fixed
    * precision but never decides a rank — so the row set is deterministic
    * even though ln is not. */
  def q108TfidfTerms(s: SparkSession, dir: String): DataFrame =
    TfIdf.topTerms(docs(s, dir), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  val q108TfidfTermsSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM t GROUP BY 1, 2),
      |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM w),
      |sc AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
      |    CAST(tf.tf * n.n AS DOUBLE) / CAST(dfq.df AS DOUBLE) AS score,
      |    round(CAST(tf.tf AS DOUBLE)
      |      * ln(CAST(n.n AS DOUBLE) / CAST(dfq.df AS DOUBLE)), 6) AS tfidf
      |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
      |r AS (
      |  SELECT *, row_number() OVER
      |    (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
      |  FROM sc)
      |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, tfidf
      |FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // --------------------------------------------------------------- q109
  /** BM25 ranked retrieval ([[graft.text.TfIdf.bm25]]) for a fixed
    * 3-term query over the corpus: scores fixed-point rounded BEFORE the
    * rank + doc-id tie-break, so the top-20 set and order are
    * engine-deterministic despite ln. */
  def q109Bm25Search(s: SparkSession, dir: String): DataFrame =
    TfIdf.bm25(docs(s, dir), "doc_id", "text",
      Seq("table", "query", "spark"), limit = 20)

  val q109Bm25SearchSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len, ws FROM w),
      |t AS (
      |  SELECT doc_id, len, unnest(ws) AS term FROM b),
      |tf AS (
      |  SELECT doc_id, len, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM t WHERE term IN ('table', 'query', 'spark')
      |  GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_len
      |  FROM b),
      |sc AS (
      |  SELECT tf.doc_id,
      |    ln(CAST(1 AS DOUBLE)
      |      + (CAST(st.n AS DOUBLE) - CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |        / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |    * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |          * CAST(tf.len AS DOUBLE) / st.avg_len)) AS part
      |  FROM tf JOIN dfq USING (term) CROSS JOIN st)
      |SELECT doc_id, round(SUM(part), 6) AS score
      |FROM sc GROUP BY 1
      |ORDER BY score DESC, doc_id ASC
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q110
  /** Sliding-window chunking ([[graft.curate.Chunking]]) at window 16 /
    * stride 8 (50% overlap) with word offsets — the RAG/context-window
    * prep stage; one narrow explode, zero shuffles. */
  def q110ChunkWindows(s: SparkSession, dir: String): DataFrame =
    Chunking.slidingWindows(docs(s, dir), "doc_id", "text",
      window = 16, stride = 8)
      .orderBy("doc_id", "chunk_idx")

  val q110ChunkWindowsSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |b AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM w),
      |c AS (
      |  SELECT doc_id, n, unnest(list_transform(
      |    range(0, 1 + CAST(ceil(greatest(n - 16, 0)
      |      / CAST(8 AS DOUBLE)) AS BIGINT)),
      |    i -> {'idx': i, 'off': i * 8,
      |          'chunk': array_to_string(ws[(i*8+1):(i*8+16)], ' ')})) AS e
      |  FROM b)
      |SELECT doc_id, n AS n_words, CAST(e.idx AS BIGINT) AS chunk_idx,
      |  CAST(e.off AS BIGINT) AS word_offset, e.chunk AS chunk
      |FROM c
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------- q111
  /** Hybrid retrieval ([[graft.text.Retrieval.hybridSearch]]): RRF fusion
    * of q109's BM25 lexical ranking with the brute-cosine dense neighbors
    * of vec 0 (both top-50 candidate lists), top-20 by fused score.
    * Ranks are exact integers, the fused `1/(60+r)` sums exact IEEE
    * doubles rounded at 6; absent-from-one-list docs report rank 0, never
    * NULL, keeping the rank columns int64-stable for the driver hash. */
  def q111HybridRrf(s: SparkSession, dir: String): DataFrame =
    Retrieval.hybridSearch(docs(s, dir), embs(s, dir), "doc_id", "text",
        "vec_id", "embedding", Seq("table", "query", "spark"),
        queryVecId = 0L, kCand = 50, kConst = 60, limit = 20)
      .orderBy(col("rrf_score").desc, col("doc_id"))

  val q111HybridRrfSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS len, ws FROM w),
      |t AS (SELECT doc_id, len, unnest(ws) AS term FROM b),
      |tf AS (
      |  SELECT doc_id, len, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM t WHERE term IN ('table', 'query', 'spark')
      |  GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |st AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_len
      |  FROM b),
      |sc AS (
      |  SELECT tf.doc_id,
      |    ln(CAST(1 AS DOUBLE)
      |      + (CAST(st.n AS DOUBLE) - CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |        / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |    * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |        * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
      |          * CAST(tf.len AS DOUBLE) / st.avg_len)) AS part
      |  FROM tf JOIN dfq USING (term) CROSS JOIN st),
      |bmtop AS (
      |  SELECT doc_id, round(SUM(part), 6) AS score
      |  FROM sc GROUP BY 1
      |  ORDER BY score DESC, doc_id ASC LIMIT 50),
      |bmrank AS (
      |  SELECT doc_id, CAST(row_number() OVER
      |    (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS bm25_rank
      |  FROM bmtop),
      |v AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |ctop AS (
      |  SELECT c.vec_id AS doc_id,
      |    list_sum(list_transform(range(1, len(q.e) + 1),
      |      i -> q.e[i] * c.e[i])) / (q.nrm * c.nrm) AS cosine
      |  FROM v q JOIN v c ON q.vec_id = 0 AND c.vec_id <> 0
      |  ORDER BY cosine DESC, c.vec_id ASC LIMIT 50),
      |crank AS (
      |  SELECT doc_id, CAST(row_number() OVER
      |    (ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS cos_rank
      |  FROM ctop),
      |f AS (
      |  SELECT COALESCE(bm.doc_id, cr.doc_id) AS doc_id,
      |    COALESCE(bm.bm25_rank, 0) AS bm25_rank,
      |    COALESCE(cr.cos_rank, 0) AS cos_rank
      |  FROM bmrank bm FULL OUTER JOIN crank cr ON bm.doc_id = cr.doc_id)
      |SELECT doc_id, bm25_rank, cos_rank,
      |  round(CASE WHEN bm25_rank > 0 THEN CAST(1 AS DOUBLE)
      |      / (CAST(60 AS DOUBLE) + CAST(bm25_rank AS DOUBLE))
      |    ELSE CAST(0 AS DOUBLE) END
      |  + CASE WHEN cos_rank > 0 THEN CAST(1 AS DOUBLE)
      |      / (CAST(60 AS DOUBLE) + CAST(cos_rank AS DOUBLE))
      |    ELSE CAST(0 AS DOUBLE) END, 6) AS rrf_score
      |FROM f
      |ORDER BY rrf_score DESC, doc_id ASC
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q112
  /** DSIR importance weights ([[graft.curate.Dsir.importanceWeights]])
    * against the English slice as the target distribution: 256 md5-hashed
    * token buckets, add-1 smoothing. Counts and buckets are exact
    * integers; the final ln-sum weight is pinned at `round(·, 6)` on both
    * sides (the q99 transcendental contract). */
  def q112DsirWeights(s: SparkSession, dir: String): DataFrame =
    Dsir.importanceWeights(docs(s, dir), "doc_id", "text",
        col("lang") === "en", buckets = 256, alpha = 1.0)
      .withColumn("logw", round(col("logw"), 6))
      .orderBy("doc_id")

  val q112DsirWeightsSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, (lang = 'en') AS is_target, $wordsSql AS ws
      |  FROM documents),
      |t AS (SELECT doc_id, is_target, unnest(ws) AS wd FROM w),
      |tb AS (
      |  SELECT doc_id, is_target,
      |    CAST(('0x' || substr(md5(wd), 1, 8)) AS BIGINT) % 256 AS b,
      |    CAST(COUNT(*) AS BIGINT) AS m
      |  FROM t WHERE wd <> '' GROUP BY 1, 2, 3),
      |rawc AS (SELECT b, CAST(SUM(m) AS BIGINT) AS c_raw FROM tb GROUP BY 1),
      |tgtc AS (
      |  SELECT b, CAST(SUM(m) AS BIGINT) AS c_tgt
      |  FROM tb WHERE is_target GROUP BY 1),
      |dist AS (
      |  SELECT rawc.b, c_raw, COALESCE(c_tgt, 0) AS c_tgt
      |  FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b),
      |tot AS (
      |  SELECT CAST(SUM(c_raw) AS BIGINT) AS t_raw,
      |    CAST(SUM(c_tgt) AS BIGINT) AS t_tgt
      |  FROM dist),
      |r AS (
      |  SELECT b,
      |    ln((CAST(c_tgt AS DOUBLE) + CAST(1 AS DOUBLE))
      |        / (CAST(t_tgt AS DOUBLE) + CAST(256 AS DOUBLE)))
      |    - ln((CAST(c_raw AS DOUBLE) + CAST(1 AS DOUBLE))
      |        / (CAST(t_raw AS DOUBLE) + CAST(256 AS DOUBLE))) AS lr
      |  FROM dist CROSS JOIN tot),
      |sc AS (
      |  SELECT tb.doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
      |    round(SUM(CAST(m AS DOUBLE) * lr), 6) AS logw
      |  FROM tb JOIN r USING (b) GROUP BY 1)
      |SELECT w.doc_id, w.is_target,
      |  COALESCE(sc.n_tokens, 0) AS n_tokens,
      |  COALESCE(sc.logw, CAST(0 AS DOUBLE)) AS logw
      |FROM w LEFT JOIN sc ON w.doc_id = sc.doc_id
      |ORDER BY w.doc_id""".stripMargin

  // --------------------------------------------------------------- q115
  /** q112's DSIR weighting at ×10 rows (docs replicated with distinct
    * ids) — driver-recorded scale evidence for the corpus-distribution
    * pass: counts scale ×10, the bucket tables stay 256 rows, the plan
    * shape is unchanged. */
  def q115DsirScale10(s: SparkSession, dir: String): DataFrame = {
    val rep = docs(s, dir)
      .select(col("doc_id"), col("text"), col("lang"),
        graft.ops.Replicate.rep(10).as("r"))
      .select((col("doc_id") * 10 + col("r")).as("doc_id"), col("text"),
        col("lang"))
    Dsir.importanceWeights(rep, "doc_id", "text", col("lang") === "en",
        buckets = 256, alpha = 1.0)
      .withColumn("logw", round(col("logw"), 6))
      .orderBy("doc_id")
  }

  val q115DsirScale10Sql: String = {
    val rep = "rep AS (\n  SELECT doc_id * 10 + r.range AS doc_id, " +
      "text, lang\n  FROM documents CROSS JOIN range(10) r),"
    q112DsirWeightsSql.replace("WITH w AS (", s"WITH $rep\nw AS (")
      .replace("FROM documents)", "FROM rep)")
  }

  // --------------------------------------------------------------- q117
  /** q112's DSIR weighting at ×100 rows — the long-bench amortization
    * datum (the pricing-quartet protocol): per-doc cost falls as the
    * fixed plan/JVM overhead spreads over 100× the corpus while the
    * bucket tables stay 256 rows. */
  def q117DsirScale100(s: SparkSession, dir: String): DataFrame = {
    val rep = docs(s, dir)
      .select(col("doc_id"), col("text"), col("lang"),
        graft.ops.Replicate.rep(100).as("r"))
      .select((col("doc_id") * 100 + col("r")).as("doc_id"), col("text"),
        col("lang"))
    Dsir.importanceWeights(rep, "doc_id", "text", col("lang") === "en",
        buckets = 256, alpha = 1.0)
      .withColumn("logw", round(col("logw"), 6))
      .orderBy("doc_id")
  }

  val q117DsirScale100Sql: String = {
    val rep = "rep AS (\n  SELECT doc_id * 100 + r.range AS doc_id, " +
      "text, lang\n  FROM documents CROSS JOIN range(100) r),"
    q112DsirWeightsSql.replace("WITH w AS (", s"WITH $rep\nw AS (")
      .replace("FROM documents)", "FROM rep)")
  }

  // --------------------------------------------------------------- q113
  /** BPE round-1 character pair counts ([[graft.text.Bpe.charPairCounts]])
    * — the hash-green pin of the pair-counting machinery [[Bpe.train]]
    * iterates on. Top-50 by (count desc, left, right): exact integer
    * counts, fully SQL-expressible. */
  def q113BpePairs(s: SparkSession, dir: String): DataFrame =
    Bpe.charPairCounts(docs(s, dir), "text")
      .orderBy(col("pair_count").desc, col("left"), col("right"))
      .limit(50)

  val q113BpePairsSql: String =
    s"""WITH w AS (SELECT $wordsSql AS ws FROM documents),
      |t AS (SELECT unnest(ws) AS wd FROM w),
      |wc AS (
      |  SELECT wd, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM t WHERE wd <> '' GROUP BY 1),
      |ix AS (SELECT wd, n, unnest(range(1, len(wd))) AS i FROM wc),
      |p AS (
      |  SELECT substr(wd, CAST(i AS INT), 1) AS lft,
      |    substr(wd, CAST(i AS INT) + 1, 1) AS rgt, n
      |  FROM ix)
      |SELECT lft AS "left", rgt AS "right",
      |  CAST(SUM(n) AS BIGINT) AS pair_count
      |FROM p GROUP BY 1, 2
      |ORDER BY pair_count DESC, "left", "right"
      |LIMIT 50""".stripMargin

  // --------------------------------------------------------------- q114
  /** The learned BPE merge table (16 merges, min pair count 2). The
    * oracle REPLAYS the full training loop: 16 unrolled rounds of
    * (pair-count → argmax → apply-merge) as chained MATERIALIZED CTEs,
    * with the merge application expressed as the same double-separator
    * literal `replace` the q163 encoder uses (leftmost non-overlapping —
    * provably equal to the greedy fold, BpeSpec). Each round's state CTE
    * is vocabulary-sized (the Zipf collapse both engines share), so the
    * unroll is 16 cheap scans, not a corpus replay; MATERIALIZED blocks
    * the exponential CTE re-inlining the PageRank oracle hit (each s_j
    * is referenced twice). This retires the sheet's last no-oracle
    * declaration: the full merge SEQUENCE — order, symbols, counts, and
    * the min-pair-count early stop — is now hash-pinned, not just
    * round 1 (q113) and the spec fixtures. */
  def q114BpeMerges(s: SparkSession, dir: String): DataFrame =
    Bpe.trainTable(s, docs(s, dir), "text", nMerges = 16)
      .orderBy("rank")

  val q114BpeMergesSql: String = {
    val sep = "\u001f"
    val sep2 = sep + sep
    val n = 16
    val rounds = (1 to n).map { j =>
      s"""p$j AS (
        |  SELECT syms[i] AS lft, syms[i + 1] AS rgt,
        |    CAST(SUM(n) AS BIGINT) AS pair_count
        |  FROM (
        |    SELECT ls[2 : len(ls) - 1] AS syms, n,
        |      unnest(range(1, len(ls) - 2)) AS i
        |    FROM (SELECT string_split(r, '$sep2') AS ls, n FROM s${j - 1}))
        |  GROUP BY 1, 2 HAVING SUM(n) >= 2),
        |m$j AS MATERIALIZED (
        |  SELECT lft, rgt, pair_count FROM p$j
        |  ORDER BY pair_count DESC, lft, rgt LIMIT 1),
        |s$j AS MATERIALIZED (
        |  SELECT replace(r,
        |    coalesce((SELECT '$sep' || lft || '$sep2' || rgt || '$sep'
        |      FROM m$j), chr(1)),
        |    coalesce((SELECT '$sep' || lft || rgt || '$sep' FROM m$j), ''))
        |    AS r, n
        |  FROM s${j - 1})""".stripMargin
    }
    val finals = (1 to n).map { j =>
      s"""SELECT CAST($j AS INT) AS rank, lft AS "left", rgt AS "right",
        |  lft || rgt AS merged, pair_count FROM m$j""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH t AS (SELECT unnest($wordsSql) AS wd FROM documents),
      |wc AS (
      |  SELECT wd, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM t WHERE wd <> '' GROUP BY 1),
      |s0 AS MATERIALIZED (
      |  SELECT '$sep2' || regexp_replace(wd, '(.)', '\\1$sep2', 'g') AS r, n
      |  FROM wc),
      |${rounds.mkString(",\n")}
      |SELECT * FROM ($finals)
      |ORDER BY rank""".stripMargin
  }

  // --------------------------------------------------------------- q131
  /** Exact vocabulary heavy hitters WITHOUT a vocabulary-sized shuffle
    * ([[graft.text.HeavyHitters]]): per-partition Misra–Gries candidates
    * (bounded memory, guaranteed superset of everything above N/k), then
    * one recount scan of only the candidates. q85's full `GROUP BY token`
    * shuffles the whole vocabulary — billions of distinct strings on web
    * text; this answers the frequent-token question with shuffles bounded
    * by k·partitions. The oracle recomputes the same `count·k > N` set the
    * slow way, pinning that no approximation leaks into the output. */
  def q131HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(explode(TextOps.tokens(col("text")))
        .as("token"))
      .filter(col("token") =!= "")
    HeavyHitters.exact(toks, k = 200)
      .orderBy(col("n").desc, col("token").asc)
  }

  val q131HeavyHittersSql: String =
    s"""WITH toks AS (SELECT unnest($wordsSql) AS token FROM documents),
      |t AS (SELECT token FROM toks WHERE token <> '')
      |SELECT token, COUNT(*) AS n
      |FROM t
      |GROUP BY token
      |HAVING COUNT(*) * 200 > (SELECT COUNT(*) FROM t)
      |ORDER BY n DESC, token ASC""".stripMargin

  // --------------------------------------------------------------- q141
  /** q131's exact heavy hitters with the candidate pass made INCREMENTAL
    * ([[graft.ops.TopKState]], the frequent-items member of the
    * maintenance family): the corpus arrives in 3 batches, each folded
    * into a bounded Misra–Gries state (capacity 400 ≥ 2k — per-batch
    * O(batch) work, state O(capacity)); the final answer is the state's
    * guaranteed-superset candidates plus ONE recount scan, so the heavy
    * scan q131 pays TWICE per query is paid once, and the candidate
    * derivation never re-reads history. The oracle is q131's SQL
    * verbatim: hash-green proves the fold/merge chain loses no hitter
    * and the recount leaves exact integer counts. */
  def q141TopkIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TopKState
    val toks = docs(s, dir)
      .select(pmod(abs(hash(col("doc_id"))), lit(3)).as("b"),
        explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .localCheckpoint(true) // 4 consumers (3 folds + the recount): pay
                             // the tokenizer once, the q131 scaladoc rule
    val state = (0 until 3)
      .map(b => TopKState.batchState(
        toks.filter(col("b") === b).select("token"), capacity = 400))
      .reduce((a, c) => TopKState.merge(Seq(a, c), capacity = 400))
    TopKState.exact(state, toks.select("token"), k = 200)
      .orderBy(col("n").desc, col("token").asc)
  }

  // --------------------------------------------------------------- q144
  /** q141's incremental heavy hitters PER GROUP ([[graft.ops.TopKState
    * .batchStateBy]]/`mergeBy`/`exactBy`): top tokens per LANGUAGE, with
    * threshold, error bound and capacity all per-group quantities — the
    * "frequent items by domain/language/shard" question a curation
    * pipeline actually asks. Same fold protocol (3 batches, capacity
    * 400 ≥ 2k per group) and the same exactness contract: state
    * candidates are a guaranteed per-group superset, one recount scan
    * makes the counts exact integers. The oracle recomputes each
    * language's `count·k > N_lang` set the slow way. */
  def q144TopkGrouped(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TopKState
    val toks = docs(s, dir)
      .select(col("lang"), pmod(abs(hash(col("doc_id"))), lit(3)).as("b"),
        explode(TextOps.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .localCheckpoint(true) // 4 consumers: tokenize once (q131's rule)
    val state = (0 until 3)
      .map(b => TopKState.batchStateBy(
        toks.filter(col("b") === b).select("lang", "token"), "lang", 400))
      .reduce((a, c) => TopKState.mergeBy(Seq(a, c), "lang", 400))
    TopKState.exactBy(state, toks.select("lang", "token"), "lang", k = 100)
      .orderBy(col("lang"), col("n").desc, col("token").asc)
  }

  val q144TopkGroupedSql: String =
    s"""WITH toks AS (SELECT lang, unnest($wordsSql) AS token FROM documents),
      |t AS (SELECT lang, token FROM toks WHERE token <> ''),
      |tot AS (SELECT lang, COUNT(*) AS n_l FROM t GROUP BY 1)
      |SELECT t.lang, token, COUNT(*) AS n
      |FROM t JOIN tot USING (lang)
      |GROUP BY t.lang, token, n_l
      |HAVING COUNT(*) * 100 > n_l
      |ORDER BY lang, n DESC, token ASC""".stripMargin

  // --------------------------------------------------------------- q132
  /** CCNet-style perplexity bucketing
    * ([[graft.text.NgramLM.perplexityBuckets]]): self-score the corpus
    * under its own bigram LM (the q99 machinery), then label head/middle/
    * tail at the exact interpolated 33rd/67th score percentiles — cutoffs
    * via one bounded aggregate broadcast back, NOT an ntile global sort.
    * Scores round to 6 decimals before the percentile and the compare, so
    * the cutoff arithmetic and bucket tests are bit-identical across
    * engines (the `ln` ulp rule q99 established). */
  def q132PerplexityBuckets(s: SparkSession, dir: String): DataFrame =
    NgramLM.perplexityBuckets(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val q132PerplexityBucketsSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |p0 AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS p
      |  FROM w),
      |p2 AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM p0),
      |bc AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS cb
      |       FROM p2 GROUP BY 1, 2),
      |cc AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS cw FROM p2 GROUP BY 1),
      |v AS (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v
      |      FROM (SELECT unnest(ws) AS word FROM w)),
      |sc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    avg(-ln((cb + CAST(1 AS DOUBLE)) / (cw + v))) AS score
      |  FROM p2 JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v
      |  GROUP BY 1),
      |scored AS (
      |  SELECT w.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |    round(COALESCE(score, CAST(0 AS DOUBLE)), 6) AS score
      |  FROM w LEFT JOIN sc ON w.doc_id = sc.doc_id),
      |cuts AS (SELECT quantile_cont(score, 0.33) AS lo,
      |                quantile_cont(score, 0.67) AS hi
      |         FROM scored)
      |SELECT doc_id, n_bigrams, score,
      |  CASE WHEN score <= lo THEN 'head'
      |       WHEN score <= hi THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM scored CROSS JOIN cuts
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q133
  /** Token-budget mixture sampling
    * ([[graft.curate.Sampling.sampleToTokenBudget]]): 40% of the corpus's
    * tokens, split across sources with weights 1 + (source# mod 3) — the
    * "n epochs of domain d under a total token budget" allocator every
    * training-mixture spec reduces to, with the keep decision per-document
    * md5-deterministic. Output is the per-source survivor summary (all
    * integer columns); the oracle replays the whole allocation — domain
    * token sums, weight normalization, floor-quantized thresholds, bucket
    * filter — in SQL. */
  def q133TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("__tok", size(split(trim(col("text")), "\\s+")))
    val weight = lit(1) + substring(col("source"), 4, 10).cast("int") % 3
    Sampling.sampleToTokenBudget(d, "source", col("__tok"), col("doc_id"),
        budgetFrac = 0.4, weight = weight)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("__tok")).as("toks_kept"))
      .orderBy("source")
  }

  // --------------------------------------------------------------- q134
  /** Product-quantization ANN quality gate
    * ([[graft.sim.ProductQuantize]]), the q71 pattern: PQ codes are
    * engine-specific (hash-seeded k-means codebooks), but the defining
    * property is not — the ADC-shortlist + exact-re-rank pipeline over
    * 8-byte codes (32× in-memory index compression; m=8 × ksub=16 over
    * the 64-dim corpus) must recover the exact brute-force cosine
    * neighborhood. For each of 8 query vectors, compare PQ top-10
    * (exact re-rank over a shortlist of max(100, 20% of the corpus))
    * against exact top-10 and pin the recall floors the oracle asserts
    * TRUE. The shortlist is a corpus FRACTION, not a constant: 8-byte
    * codes rank a fixed-radius neighborhood, so a fixed shortlist's
    * recall decays as distractors multiply (measured: shortlist 100 gives
    * 71/80 on 500 vectors but 41/80 on 2000), while a constant fraction
    * holds recall flat (71/80 at sf0.01, 69/80 at sf0.1 — both ~86-89%).
    * At true scale the same role is played by IVF probe width. Pinned
    * floors 4/10 per query and 60% total leave margin for corpus
    * regeneration. ADC WITHOUT re-rank measures 30–46% here — the
    * corpus's cosine gaps sit below 8-byte quantization error, which is
    * exactly why the production pipeline re-ranks
    * (see [[ProductQuantize.adcTopKRerank]]). */
  def q134PqRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val queries = e.filter(col("vec_id") < 8)
    val model = ProductQuantize.train(e, "vec_id", "embedding", dim = 64,
      m = 8, ksub = 16)
    val enc = ProductQuantize.encode(e, "vec_id", "embedding", model)
    val shortlist = math.max(100, (e.count() / 5).toInt)
    val pq = ProductQuantize.adcTopKRerank(e, enc, queries, "vec_id",
      "embedding", model, k = 10, shortlist = shortlist)
      .select(col("q_id"), col("n_id"))
    val brute = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding",
      k = 10).select(col("q_id"), col("n_id"))
    val hits = brute.join(pq, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    brute.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        (min(coalesce(col("n_hits"), lit(0L))) >= 4L).as("each_query_ok"),
        (sum(coalesce(col("n_hits"), lit(0L))) >=
          ceil(count(lit(1)) * 10 * 0.6)).as("total_recall_ok"))
  }

  val q134PqRecallSql: String =
    """SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
      |  TRUE AS each_query_ok, TRUE AS total_recall_ok
      |FROM embeddings WHERE vec_id < 8""".stripMargin

  val q133TokenBudgetSql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS tok,
      |    CAST(1 + CAST(substr(source, 4) AS INT) % 3 AS DOUBLE) AS w
      |  FROM documents),
      |stats AS (
      |  SELECT source, CAST(SUM(tok) AS BIGINT) AS dtoks, MAX(w) AS w
      |  FROM t GROUP BY source),
      |tot AS (SELECT CAST(SUM(dtoks) AS DOUBLE) AS tt, SUM(w) AS sw
      |        FROM stats),
      |thr AS (
      |  SELECT source,
      |    CAST(floor(least(1.0, 0.4 * tt * w / sw / dtoks) * 10000)
      |      AS BIGINT) AS thr
      |  FROM stats CROSS JOIN tot),
      |kept AS (
      |  SELECT t.source, t.tok FROM t JOIN thr USING (source)
      |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |    AS BIGINT) % 10000 < thr)
      |SELECT source, COUNT(*) AS docs_kept, CAST(SUM(tok) AS BIGINT) AS toks_kept
      |FROM kept GROUP BY source
      |ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q159
  /** The corpus re-lined for the line-cleaning family (q159/q160): the
    * driver corpus is single-line, so lines are derived as fixed 8-word
    * chunks joined by newlines — deterministic, identically derivable by
    * the SQL oracle (same fixture-derivation precedent as q66/q158).
    * Tokens via [[TextOps.tokens]] == the oracle's `string_split` of the
    * normalized text (the pinned FastTokens contract). */
  private[graft] def linedDocs(s: SparkSession, dir: String): DataFrame = {
    val ws = TextOps.tokens(col("text"))
    // Zero-word guard: Spark's sequence(0, -1) yields [0, -1] (not empty),
    // which would render "\n" where the oracle's range(0) renders "" — the
    // same empty-doc edge q163 guards (advisor r14, low #1).
    docs(s, dir).select(
      col("doc_id"),
      when(size(ws) === 0, lit("")).otherwise(
        array_join(
          transform(
            sequence(lit(0),
              floor((size(ws) + lit(7)) / lit(8)).cast("int") - 1),
            i => array_join(slice(ws, i * lit(8) + lit(1), lit(8)), " ")),
          "\n")).as("text"))
  }

  /** The line-fixture SQL shared by the q159/q160 oracles. */
  private val linedSql: String =
    s"""w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
      |lined AS (
      |  SELECT doc_id,
      |    array_to_string(list_transform(range((len(ws) + 7) // 8),
      |      i -> array_to_string(ws[i*8+1 : i*8+8], ' ')), chr(10)) AS text
      |  FROM w)""".stripMargin

  /** Per-document C4 line cleaning ([[graft.text.LineClean.cleanDocs]],
    * Raffel et al. 2020 §2.2): drop lines under 8 words or containing a
    * blocklist term, then drop documents keeping < 2 lines. The terminal-
    * punctuation rule is configured off — this corpus has no punctuation
    * (the rule is spec-pinned on crafted fixtures instead). Zero shuffles:
    * the whole rule set is one codegen projection + filter. */
  def q159LineClean(s: SparkSession, dir: String): DataFrame =
    LineClean.cleanDocs(linedDocs(s, dir), "text",
      minWords = 8, requirePunct = false,
      blocklist = Seq("customer"), minKeptLines = 2)
      .select("doc_id", "text", "n_lines_total", "n_lines_kept")
      .orderBy("doc_id")

  val q159LineCleanSql: String =
    s"""WITH $linedSql,
      |split AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
      |cleaned AS (
      |  SELECT doc_id,
      |    len(ls) AS n_lines_total,
      |    list_filter(ls, l ->
      |      len(string_split_regex(trim(l), '\\s+')) >= 8
      |      AND NOT contains(lower(l), 'customer')) AS kept
      |  FROM split)
      |SELECT doc_id, array_to_string(kept, chr(10)) AS text,
      |  n_lines_total, len(kept) AS n_lines_kept
      |FROM cleaned
      |WHERE len(kept) >= 2
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q160
  /** Corpus-global repeated-line removal
    * ([[graft.text.LineClean.dropRepeatedLines]] — RefinedWeb's line
    * dedup): any line occurring in >= 2 distinct documents is boilerplate
    * and is removed from EVERY document, first occurrences included. The
    * corpus has 135 naturally repeated 8-word lines at sf0.01, so the
    * operator fires without fixture injection. The frequency exchange
    * carries (md5, doc_id) — never line text. */
  def q160LineDedup(s: SparkSession, dir: String): DataFrame =
    LineClean.dropRepeatedLines(linedDocs(s, dir), "doc_id", "text",
      maxDocs = 2)
      .orderBy("doc_id")

  val q160LineDedupSql: String =
    s"""WITH $linedSql,
      |w2 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
      |lines AS (
      |  SELECT doc_id,
      |    unnest(range(len(ls))) AS pos,
      |    unnest(ls) AS line
      |  FROM w2),
      |hot AS (
      |  SELECT md5(line) AS h FROM lines
      |  GROUP BY md5(line) HAVING COUNT(DISTINCT doc_id) >= 2),
      |kept AS (
      |  SELECT doc_id, pos, line FROM lines
      |  WHERE md5(line) NOT IN (SELECT h FROM hot))
      |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      |FROM kept GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q161
  /** Fixed-iteration PageRank ([[graft.graph.PageRank]]) over the derived
    * customer↔supplier graph — the crawl-curation centrality signal, under
    * the integer fixed-point contract that makes every rank bit-identical
    * across engines and partitionings (floating PageRank is not: per-node
    * sums reduce in partition order). 5 rounds, damping 0.85, dangling
    * mass redistributed uniformly. */
  def q161Pagerank(s: SparkSession, dir: String): DataFrame =
    released(PageRank.run(PageRank.corpusEdges(s, dir), iters = 5))

  /** A PageRank result as a query returns it: an uncached, node-ordered
    * copy, with the result's cached frame freed. A query's caller (Verify,
    * Bench, Profile) never unpersists what it gets, so returning the
    * cached result would keep one rank frame cached for the rest of the
    * session, and a later call would be partly served from it. */
  private def released(ranks: DataFrame): DataFrame = {
    val copy = ranks.localCheckpoint(eager = true)
    ranks.unpersist()
    copy.orderBy("node")
  }

  val q161PagerankSql: String = {
    // Every multi-referenced CTE is MATERIALIZED: each r{k} is read by
    // both c{k+1} and d{k+1} (and edges/od/nodes by every round), so an
    // inlining planner would otherwise re-expand the whole chain per
    // reference — exponential in the iteration count (measured: minutes
    // at sf0.1 vs sub-second materialized). Spark's side pays the same
    // once-per-frame cost via the per-iteration cache.
    val scale = "1000000000000"
    val iters = (1 to 5).map { k =>
      s"""c$k AS MATERIALIZED (
        |  SELECT e.dst AS node, SUM(r.r // o.od) AS c
        |  FROM edges e
        |  JOIN r${k - 1} r ON e.src = r.node
        |  JOIN od o ON e.src = o.node
        |  GROUP BY e.dst),
        |d$k AS MATERIALIZED (
        |  SELECT COALESCE(SUM(r.r), 0) AS dang
        |  FROM r${k - 1} r LEFT JOIN od o ON r.node = o.node
        |  WHERE o.node IS NULL),
        |r$k AS MATERIALIZED (
        |  SELECT n.node,
        |    (15 * ($scale // (SELECT n FROM nn))) // 100
        |    + (85 * (((SELECT dang FROM d$k) // (SELECT n FROM nn))
        |             + COALESCE(c.c, 0))) // 100 AS r
        |  FROM nodes n LEFT JOIN c$k c ON n.node = c.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH j AS (
      |  SELECT o_custkey, l_suppkey
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM j
      |  UNION
      |  SELECT DISTINCT 's' || l_suppkey, 'c' || o_custkey
      |  FROM j WHERE l_suppkey % 3 = 0),
      |nodes AS MATERIALIZED (
      |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
      |od AS MATERIALIZED (
      |  SELECT src AS node, COUNT(*) AS od FROM edges GROUP BY src),
      |r0 AS MATERIALIZED (
      |  SELECT node, $scale // (SELECT n FROM nn) AS r FROM nodes),
      |$iters
      |SELECT node, CAST(r AS BIGINT) AS rank FROM r5 ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q162
  /** Streaming corpus-global line dedup end-to-end
    * ([[graft.streaming.CdcStreamIngest.toLineDedupTable]]): the lined
    * corpus arrives as THREE mtime-ordered micro-batches split by
    * `doc_id % 3` — an interleaved split, so repeated lines STRADDLE
    * batches and the head's retroactive machinery (re-clean upserts,
    * soft-delete tombstones when every line goes hot) must fire to land
    * on the one-shot answer. The live table state must equal
    * [[q160LineDedup]] exactly — q160's SQL oracles it verbatim — which
    * pins registry accumulation, the (lineage, batch-id) replay guard,
    * checkpointing, the tombstone path, and both lake tables at once.
    * Unlike q151/q153 this holds WITHOUT monotone arrival ids: the drop
    * rule is corpus-symmetric, so any order lands on the same state. */
  def q162StreamLineDedup(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val d = linedDocs(s, dir)
      .withColumn("create_at", lit("2000-01-01T00:00:00.000000+0000"))
      .withColumn("update_at", lit("2000-01-01T00:00:00.000000+0000"))
    val batches = (0 until 3).map(b => d.filter(pmod(col("doc_id"), lit(3)) === b))
    val cleaned = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q162_clean").toString,
      recordKeys = Seq("doc_id"), precombine = "update_at",
      partitionSource = "create_at", softDeleteCol = Some("_gone")))
    val registry = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q162_reg").toString,
      recordKeys = Seq("doc_id", "pos"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("batch_id")))
    graft.streaming.CdcStreamIngest.toLineDedupTable(
      mtimeOrderedStream(s, "q162", batches),
      "doc_id", "text", maxDocs = 2, cleaned, registry,
      Files.createTempDirectory("graft_q162_ckpt").toString)
    cleaned.readLive().select(col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  /** q160's one-shot SQL verbatim — the streamed pipeline must reproduce
    * the batch operator's exact corpus state. */
  def q162StreamLineDedupSql: String = q160LineDedupSql

  // --------------------------------------------------------------- q163
  /** The FIXED pretrained merge table q163 applies — the production
    * tokenization shape: a corpus is encoded with an EXISTING tokenizer
    * (frozen vocabulary), not one retrained per run, so the table is a
    * constant of the query and the oracle. Chosen from the corpus's own
    * top pair statistics with a 4-deep cascade (t,a → ta,b → tab,l →
    * tabl,e) so multi-char pair symbols and a whole-word token are
    * exercised, at every scale factor. */
  private[graft] val q163Merges: Seq[Bpe.Merge] = Seq(
    Bpe.Merge(1, "e", "r", "er", 0L),
    Bpe.Merge(2, "i", "n", "in", 0L),
    Bpe.Merge(3, "s", "t", "st", 0L),
    Bpe.Merge(4, "t", "a", "ta", 0L),
    Bpe.Merge(5, "ta", "b", "tab", 0L),
    Bpe.Merge(6, "tab", "l", "tabl", 0L),
    Bpe.Merge(7, "tabl", "e", "table", 0L),
    Bpe.Merge(8, "o", "w", "ow", 0L))

  /** Corpus BPE ENCODING with a pretrained merge table
    * ([[graft.text.Bpe.tokenizeFast]]) — the inference-side tokenizer
    * pass a training pipeline runs over every document. Zero shuffles:
    * the whole encoder is a codegen'd chain of literal string replaces
    * over a double-separator word representation (provably equal to the
    * leftmost-greedy fold — BpeSpec pins both forms equal); the DuckDB
    * oracle executes the IDENTICAL replace chain, so the segmentation is
    * pinned bit-for-bit, not just counted. */
  def q163BpeEncode(s: SparkSession, dir: String): DataFrame =
    Bpe.tokenizeFast(docs(s, dir), "text", q163Merges)
      // a doc whose text normalizes to nothing has no encoding — drop it
      // (the oracle's word-level unnest loses such docs before the GROUP
      // BY, so keeping an (id, 0, 0) row here would be a latent mismatch
      // on any corpus with an empty-normalizing document)
      .where(size(col("tokens")) > 0)
      .select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"),
        size(array_distinct(col("tokens"))).cast("long")
          .as("n_distinct_tokens"))
      .orderBy("doc_id")

  val q163BpeEncodeSql: String = {
    val sep = "\u001f"
    val sep2 = sep + sep
    val chain = q163Merges.foldLeft("s0") { (acc, m) =>
      s"replace($acc, '$sep${m.left}$sep2${m.right}$sep', " +
        s"'$sep${m.merged}$sep')"
    }
    s"""WITH t AS (SELECT doc_id, unnest($wordsSql) AS wd FROM documents),
      |w AS (SELECT doc_id, wd FROM t WHERE wd <> ''),
      |seeded AS (
      |  SELECT doc_id,
      |    '$sep2' || regexp_replace(wd, '(.)', '\\1$sep2', 'g') AS s0
      |  FROM w),
      |enc AS (SELECT doc_id, $chain AS s FROM seeded),
      |toks AS (SELECT doc_id, string_split(s, '$sep2') AS ls FROM enc),
      |tok AS (
      |  SELECT doc_id, unnest(ls[2 : len(ls) - 1]) AS tk FROM toks)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT tk) AS BIGINT) AS n_distinct_tokens
      |FROM tok GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q166
  /** Per-node triangle counts ([[graft.graph.Triangles]], degree-ordered
    * wedge join) over the supplier CO-PART graph: suppliers are adjacent
    * when some part ships from both — a co-occurrence projection, the
    * non-bipartite graph shape the customer↔supplier edge set cannot
    * give (bipartite graphs have no triangles). The projection's group
    * fan-out is bounded by suppliers-per-part here; at corpus scale a
    * co-occurrence projection needs its own per-group cap — the triangle
    * operator itself is hub-safe by the degree orientation. */
  def q166Triangles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val ps = li.select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      .distinct()
    val e = ps.as("x").join(ps.as("y"),
        col("x.p") === col("y.p") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("src"), col("y.sk").as("dst"))
    graft.graph.Triangles.perNode(e).orderBy("node")
  }

  val q166TrianglesSql: String = {
    val aLow = "(da.d < db.d OR (da.d = db.d AND und.a < und.b))"
    s"""WITH ps AS (
      |  SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
      |und AS (
      |  SELECT DISTINCT x.sk AS a, y.sk AS b
      |  FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
      |deg AS (
      |  SELECT node, COUNT(*) AS d FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und) t
      |  GROUP BY node),
      |ori AS (
      |  SELECT
      |    CASE WHEN $aLow THEN und.a ELSE und.b END AS u,
      |    CASE WHEN $aLow THEN und.b ELSE und.a END AS v,
      |    CASE WHEN $aLow THEN db.d ELSE da.d END AS dv
      |  FROM und
      |  JOIN deg da ON und.a = da.node
      |  JOIN deg db ON und.b = db.node),
      |w AS (
      |  SELECT e1.u AS u, e1.v AS v, e2.v AS w
      |  FROM ori e1 JOIN ori e2 ON e1.u = e2.u
      |  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      |tri AS (
      |  SELECT w.u, w.v, w.w
      |  FROM w JOIN ori o ON o.u = w.v AND o.v = w.w),
      |nodes AS (
      |  SELECT u AS node FROM tri
      |  UNION ALL SELECT v FROM tri
      |  UNION ALL SELECT w FROM tri)
      |SELECT node, COUNT(*) AS n_triangles
      |FROM nodes GROUP BY node
      |ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q167
  /** PERSONALIZED PageRank ([[graft.graph.PageRank.personalized]] —
    * TrustRank): teleport restricted to the nation-0 customers, so rank
    * measures proximity to the trusted seed set instead of global
    * centrality — the known-good-seeds curation signal. Same integer
    * fixed-point contract and graph as q161; the oracle unrolls the
    * seed-conditional recurrence with every multi-referenced CTE
    * MATERIALIZED (the q161 inliner finding). */
  def q167PprTrust(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.load(s, dir, "customer")
      .where(col("c_nationkey") === 0)
      .select(concat(lit("c"), col("c_custkey")).as("node"))
    released(
      PageRank.personalized(PageRank.corpusEdges(s, dir), seeds, iters = 5))
  }

  val q167PprTrustSql: String = {
    val scale = "1000000000000"
    val sc = s"(SELECT s FROM sc)"
    val iters = (1 to 5).map { k =>
      s"""c$k AS MATERIALIZED (
        |  SELECT e.dst AS node, SUM(r.r // o.od) AS c
        |  FROM edges e
        |  JOIN r${k - 1} r ON e.src = r.node
        |  JOIN od o ON e.src = o.node
        |  GROUP BY e.dst),
        |d$k AS MATERIALIZED (
        |  SELECT COALESCE(SUM(r.r), 0) AS dang
        |  FROM r${k - 1} r LEFT JOIN od o ON r.node = o.node
        |  WHERE o.node IS NULL),
        |r$k AS MATERIALIZED (
        |  SELECT f.node,
        |    CASE WHEN f.is_seed THEN
        |      (15 * ($scale // $sc)) // 100
        |      + (85 * (((SELECT dang FROM d$k) // $sc)
        |               + COALESCE(c.c, 0))) // 100
        |    ELSE (85 * COALESCE(c.c, 0)) // 100 END AS r
        |  FROM flags f LEFT JOIN c$k c ON f.node = c.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH j AS (
      |  SELECT o_custkey, l_suppkey
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM j
      |  UNION
      |  SELECT DISTINCT 's' || l_suppkey, 'c' || o_custkey
      |  FROM j WHERE l_suppkey % 3 = 0),
      |nodes AS MATERIALIZED (
      |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |seeds AS MATERIALIZED (
      |  SELECT 'c' || c_custkey AS node FROM customer WHERE c_nationkey = 0
      |  INTERSECT SELECT node FROM nodes),
      |sc AS MATERIALIZED (SELECT COUNT(*) AS s FROM seeds),
      |flags AS MATERIALIZED (
      |  SELECT n.node, (sd.node IS NOT NULL) AS is_seed
      |  FROM nodes n LEFT JOIN seeds sd ON n.node = sd.node),
      |od AS MATERIALIZED (
      |  SELECT src AS node, COUNT(*) AS od FROM edges GROUP BY src),
      |r0 AS MATERIALIZED (
      |  SELECT node,
      |    CASE WHEN is_seed THEN $scale // $sc ELSE 0 END AS r
      |  FROM flags),
      |$iters
      |SELECT node, CAST(r AS BIGINT) AS rank FROM r5 ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q168
  /** Local clustering coefficient
    * ([[graft.graph.Triangles.clusteringCoef]], Watts & Strogatz 1998)
    * over the same supplier co-part graph as q166 — the community-
    * density signal: what fraction of each supplier's co-part partners
    * are partners of each other. Exact BIGINT numerator/denominator,
    * one IEEE double division per row. */
  def q168ClusteringCoef(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val ps = li.select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      .distinct()
    val e = ps.as("x").join(ps.as("y"),
        col("x.p") === col("y.p") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("src"), col("y.sk").as("dst"))
    graft.graph.Triangles.clusteringCoef(e).orderBy("node")
  }

  val q168ClusteringCoefSql: String =
    // q166's construction through `tri`/`deg`, with the per-node counts
    // left-joined back onto the degree table
    q166TrianglesSql.replace(
      """SELECT node, COUNT(*) AS n_triangles
        |FROM nodes GROUP BY node
        |ORDER BY node""".stripMargin,
      """,
        |tcount AS (
        |  SELECT node, COUNT(*) AS n_triangles
        |  FROM nodes GROUP BY node)
        |SELECT d.node, d.d AS degree,
        |  COALESCE(t.n_triangles, 0) AS n_triangles,
        |  CASE WHEN d.d >= 2 THEN
        |    CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
        |      / CAST(d.d * (d.d - 1) AS DOUBLE)
        |  ELSE CAST(0 AS DOUBLE) END AS coef
        |FROM deg d LEFT JOIN tcount t ON d.node = t.node
        |ORDER BY d.node""".stripMargin)

  // --------------------------------------------------------------- q169
  /** STREAMING PageRank maintenance
    * ([[graft.streaming.CdcStreamIngest.toPagerankTable]]): the corpus
    * edge derivation arrives as three micro-batches; each batch upserts
    * into a (src, dst)-keyed edge lake table (duplicates and replays
    * collapse there) and the ranks table is refreshed with the pinned
    * fixed-k recurrence over the ACCUMULATED edges. The final ranks
    * table must be bit-equal to the one-shot batch operator — oracled by
    * q161's SQL verbatim, split-invariance spec-pinned
    * (StreamingPagerankSpec). */
  def q169StreamPagerank(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val e = PageRank.corpusEdges(s, dir)
      .withColumn("create_at", lit("2000-01-01T00:00:00.000000+0000"))
      .withColumn("update_at", lit("2000-01-01T00:00:00.000000+0000"))
    val batches = (0 until 3).map(b =>
      e.filter(pmod(abs(xxhash64(col("src"), col("dst"))), lit(3)) === b))
    val edgeTable = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q169_edges").toString,
      recordKeys = Seq("src", "dst"), precombine = "update_at",
      partitionSource = "create_at"))
    val ranksTable = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q169_ranks").toString,
      recordKeys = Seq("node"), precombine = "update_at",
      partitionSource = "create_at"))
    graft.streaming.CdcStreamIngest.toPagerankTable(
      mtimeOrderedStream(s, "q169", batches),
      edgeTable, ranksTable, iters = 5,
      Files.createTempDirectory("graft_q169_ckpt").toString)
    ranksTable.read().select(col("node"), col("rank"))
      .orderBy("node")
  }

  /** q161's one-shot SQL verbatim — the streamed maintenance must
    * reproduce the batch operator's exact ranks. */
  def q169StreamPagerankSql: String = q161PagerankSql

  // --------------------------------------------------------------- q170
  /** Streaming WARM-START PageRank maintenance
    * ([[graft.streaming.CdcStreamIngest.toPagerankWarmTable]]): the
    * corpus edges arrive as THREE md5-bucketed micro-batches; each batch
    * upserts into the keyed edge table and advances ranks by k=2
    * iterations FROM THE PREVIOUS BATCH'S RANKS
    * ([[graft.graph.PageRank.resume]] — new nodes start at the uniform
    * share of the grown graph). Unlike q169, the output is deliberately
    * batch-boundary-DEPENDENT (warm start trades split-invariance for
    * 2.5× fewer per-batch iteration joins); the contract is
    * determinism-at-fixed-split, so the batches are split by a
    * CROSS-ENGINE hash (md5 prefix, the engine's standard portable
    * randomness) and the oracle replays the exact per-batch recurrence —
    * three batches × two iterations, unrolled CTEs, integer fixed-point
    * throughout — to the bit. */
  def q170StreamPagerankWarm(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val bucket = pmod(
      conv(substring(md5(concat(col("src"), lit("|"), col("dst"))), 1, 8),
        16, 10).cast("long"), lit(3))
    val e = PageRank.corpusEdges(s, dir)
      .withColumn("create_at", lit("2000-01-01T00:00:00.000000+0000"))
      .withColumn("update_at", lit("2000-01-01T00:00:00.000000+0000"))
    val batches = (0 until 3).map(b => e.filter(bucket === b))
    val edgeTable = new KeyedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q170_edges").toString,
      recordKeys = Seq("src", "dst"), precombine = "update_at",
      partitionSource = "create_at"))
    val ranksTable = new graft.sink.VersionedLakeTable(s, LakeTableSpec(
      Files.createTempDirectory("graft_q170_ranks").toString,
      recordKeys = Seq("node", "batch_id"), precombine = "update_at",
      partitionSource = "create_at", tieBreak = Seq("batch_id")))
    graft.streaming.CdcStreamIngest.toPagerankWarmTable(
      mtimeOrderedStream(s, "q170", batches),
      edgeTable, ranksTable, itersPerBatch = 2,
      Files.createTempDirectory("graft_q170_ckpt").toString)
    ranksTable.read()
      .groupBy(col("node"))
      .agg(max(struct(col("batch_id"), col("rank"))).as("m"))
      .select(col("node"), col("m.rank").as("rank"))
      .orderBy("node")
  }

  /** The exact per-batch warm recurrence, unrolled: three cumulative
    * edge sets (md5-bucket ≤ b), each with its own node/outdeg/count
    * frames, two iteration rounds per batch, r0 of batch b+1 = batch b's
    * final ranks LEFT-JOINed onto the grown node set with the uniform
    * share for new nodes — [[graft.graph.PageRank.resume]]'s
    * initialization rule, verbatim in SQL. Every multi-referenced CTE is
    * MATERIALIZED (the q161 lesson: inlining re-expands the chain per
    * reference, exponential in rounds). */
  val q170StreamPagerankWarmSql: String = {
    val scale = "1000000000000"
    def batchBlock(b: Int): String = {
      val warm0 =
        if (b == 1)
          s"""w${b}0 AS MATERIALIZED (
            |  SELECT node, $scale // (SELECT n FROM nn$b) AS r FROM n$b)"""
            .stripMargin
        else
          s"""w${b}0 AS MATERIALIZED (
            |  SELECT n.node,
            |    COALESCE(p.r, $scale // (SELECT n FROM nn$b)) AS r
            |  FROM n$b n LEFT JOIN w${b - 1}2 p ON n.node = p.node)"""
            .stripMargin
      val iters = (1 to 2).map { k =>
        s"""c$b$k AS MATERIALIZED (
          |  SELECT e.dst AS node, SUM(r.r // o.od) AS c
          |  FROM e$b e
          |  JOIN w$b${k - 1} r ON e.src = r.node
          |  JOIN od$b o ON e.src = o.node
          |  GROUP BY e.dst),
          |d$b$k AS MATERIALIZED (
          |  SELECT COALESCE(SUM(r.r), 0) AS dang
          |  FROM w$b${k - 1} r LEFT JOIN od$b o ON r.node = o.node
          |  WHERE o.node IS NULL),
          |w$b$k AS MATERIALIZED (
          |  SELECT n.node,
          |    (15 * ($scale // (SELECT n FROM nn$b))) // 100
          |    + (85 * (((SELECT dang FROM d$b$k) // (SELECT n FROM nn$b))
          |             + COALESCE(c.c, 0))) // 100 AS r
          |  FROM n$b n LEFT JOIN c$b$k c ON n.node = c.node)""".stripMargin
      }.mkString(",\n")
      s"""e$b AS MATERIALIZED (
        |  SELECT src, dst FROM bedges WHERE bkt <= ${b - 1}),
        |n$b AS MATERIALIZED (
        |  SELECT src AS node FROM e$b UNION SELECT dst FROM e$b),
        |nn$b AS MATERIALIZED (SELECT COUNT(*) AS n FROM n$b),
        |od$b AS MATERIALIZED (
        |  SELECT src AS node, COUNT(*) AS od FROM e$b GROUP BY src),
        |$warm0,
        |$iters""".stripMargin
    }
    s"""WITH j AS (
      |  SELECT o_custkey, l_suppkey
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |alledges AS MATERIALIZED (
      |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      |  FROM j
      |  UNION
      |  SELECT DISTINCT 's' || l_suppkey, 'c' || o_custkey
      |  FROM j WHERE l_suppkey % 3 = 0),
      |bedges AS MATERIALIZED (
      |  SELECT src, dst,
      |    CAST(('0x' || substr(md5(src || '|' || dst), 1, 8)) AS BIGINT) % 3
      |      AS bkt
      |  FROM alledges),
      |${(1 to 3).map(batchBlock).mkString(",\n")}
      |SELECT node, CAST(r AS BIGINT) AS rank FROM w32 ORDER BY node"""
      .stripMargin
  }
}
