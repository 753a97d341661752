package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.SimHash64
import graft.text.TextOps

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash groupBy), exact n-gram Jaccard (all candidate
  * pairs), MinHash+LSH (banded signatures — the 100 TB path), SimHash.
  *
  * Scale design:
  *  - exact dedup is one shuffle on the fingerprint — optimal;
  *  - exact Jaccard joins docs on shared shingles: its cost is Σ(docs per
  *    shingle)², fine as a verifier on candidate pairs, quadratic as a
  *    global algorithm — NEVER run it all-pairs at scale;
  *  - [[minHashLsh]] is the scale path: k hash functions → banded
  *    signatures → candidates only from same-band buckets → exact-verify
  *    just those pairs. Cost is O(docs × k) + O(candidate pairs), no
  *    all-pairs term anywhere.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-session recall-loss metric: total over-cap buckets dropped by the
    * banded paths (text LSH, SimHash and the media `Banded64` engine)
    * since the session started. Registered as a named Spark accumulator
    * (visible in the UI / metrics sinks on a real cluster) and readable
    * here, so callers can detect reduced near-dup recall
    * programmatically instead of scraping logs (ADVICE r3). Weak keys: a
    * retired session releases its counter. */
  private val droppedAcc =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        org.apache.spark.util.LongAccumulator]())
  def droppedBuckets(spark: org.apache.spark.sql.SparkSession): Long =
    Option(droppedAcc.get(spark)).map(_.value.longValue).getOrElse(0L)
  private def dropCounter(spark: org.apache.spark.sql.SparkSession) =
    droppedAcc.synchronized {
      var acc = droppedAcc.get(spark)
      if (acc == null) {
        acc = spark.sparkContext.longAccumulator("graft.dedup.droppedBuckets")
        droppedAcc.put(spark, acc)
      }
      acc
    }

  /** Exact duplicate groups: canonical id + member count per fingerprint.
    * One hash-shuffle; partial aggregation makes the map side emit one row
    * per (partition, fingerprint). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** Exact-duplicate collapse feeding the banded near-dup paths: a
    * (doc, rep) mapping where `rep` is the smallest doc id sharing the
    * doc's content fingerprint (same md5-of-normalized key as
    * [[exactGroups]]).
    *
    * Why this exists (the r2 hot-bucket fix): identical documents share
    * EVERY band signature, so a cluster of k exact duplicates — the normal
    * case in web-scale corpora (boilerplate, mirrored pages) — would put k
    * members into the same bucket in all b bands, making the candidate
    * stage O(b·k²). Banding one canonical per fingerprint makes the banded
    * stages O(distinct contents) regardless of duplication; member-level
    * results are reconstructed from this mapping afterwards.
    *
    * Docs whose normalized text is EMPTY are dropped here: they carry no
    * shingles and a degenerate hash, so they can never be a meaningful
    * near-dup — only a single giant bucket (ADVICE r2). */
  private[graft] def canonicalMapping(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fp = df
      .select(col(idCol).as("doc"), TextOps.normalized(col(textCol)).as("__t"))
      .filter(length(col("__t")) > 0)
      .select(col("doc"), md5(col("__t").cast("binary")).as("__fp"))
    val canon = fp.groupBy(col("__fp")).agg(min(col("doc")).as("rep"))
    fp.join(canon, "__fp").select(col("doc"), col("rep"))
  }

  /** Candidate pairs from same-(band, sig) buckets as a capped SELF-JOIN —
    * never `collect_set`: a bucket must not live in one aggregation buffer
    * (the r2 OOM vector). Buckets larger than `maxBucket` are dropped —
    * after exact-duplicate collapse such a bucket means `maxBucket`
    * DISTINCT contents collide on one band signature, which is a
    * recall-vs-survival trade the operator must not make silently: every
    * drop increments [[droppedBuckets]], and `strict = true` fails the job
    * instead (ADVICE r3). */
  private[graft] def bucketPairs(bandSigs: DataFrame, maxBucket: Int,
      tag: String, strict: Boolean = false): DataFrame = {
    // ONE aggregation pass serves both consumers: the eager guard below
    // and the ok-bucket probe of the pairs plan — without the checkpoint
    // the guard's head() ran the (band,sig) groupBy over the full band
    // stream and the pairs job immediately re-ran it. Measured at sf0.1
    // (2026-08-15, BENCH_COMPARE.md "q42 (MinHash-LSH), the fusion
    // hypothesis tested"): a WASH on the local constant (3.12 vs
    // 3.32 s full-operator, within host noise) because both passes read
    // the PERSISTED signatures — the r12 hypothesis that this fusion
    // would recover a chunk of q42's job tail is refuted at bench scale.
    // Kept anyway for the scale shape: at corpus scale the duplicated
    // work is a full pass + shuffle over the corpus-sized band stream,
    // while the checkpoint materializes one row per occupied bucket.
    val bucketCounts = bandSigs.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint(true)
    val over = bucketCounts.filter(col("__n") > maxBucket)
      .agg(count(lit(1)).as("buckets"),
        coalesce(max(col("__n")), lit(0L)).as("largest"))
      .head()
    if (over.getLong(0) > 0) {
      val msg = s"$tag: ${over.getLong(0)} band bucket(s) larger than " +
        s"$maxBucket (largest=${over.getLong(1)}); near-dup recall for " +
        "their members is reduced — raise maxBucket or pre-filter degenerate " +
        "inputs (boilerplate, black frames, silence)"
      if (strict) throw new IllegalStateException(
        s"$msg (strictBuckets=true fails instead of dropping)")
      dropCounter(bandSigs.sparkSession).add(over.getLong(0))
      log.warn(s"$msg (dropping; see Dedup.droppedBuckets)")
    }
    val ok = bucketCounts
      .filter(col("__n") > 1 && col("__n") <= maxBucket)
      .select(col("band"), col("sig"))
    val pruned = bandSigs.join(ok, Seq("band", "sig"))
    pruned.select(col("band"), col("sig"), col("doc").as("doc_a"))
      .join(pruned.select(col("band"), col("sig"), col("doc").as("doc_b")),
        Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Near-dup pairs among distinct 64-bit fingerprints — the banded core of
    * [[simHashNearDup]] and [[graft.multimodal.Banded64]]: four 16-bit
    * bands (pigeonhole: Hamming ≤ 3 leaves at least one band equal), the
    * capped [[bucketPairs]] candidates, then the codegen'd `bit_count(xor)`
    * check. `hashed` holds one row per representative (`doc` long, `h`
    * long) and is read three times, so callers persist it. Returns
    * (`doc_a` < `doc_b`, `hamming` int). */
  private[graft] def hammingPairs64(hashed: DataFrame, maxHamming: Int,
      maxBucket: Int, tag: String, strict: Boolean): DataFrame = {
    val banded = hashed.select(col("doc"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("h"), b * 16).bitwiseAND(lit(0xFFFFL)).as("sig"))): _*))
        .as("bs"))
      .select(col("doc"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    bucketPairs(banded, maxBucket, tag, strict)
      .join(hashed.select(col("doc").as("doc_a"), col("h").as("h_a")), "doc_a")
      .join(hashed.select(col("doc").as("doc_b"), col("h").as("h_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Member-level pairs from representative-level ones: members of one
    * exact group pair with each other at score `exact`, and every member
    * inherits its representative's pairs with their `score`. `members` is
    * (`rep`, `doc`); `repPairs` is (`doc_a`, `doc_b`, `score`) over
    * representatives. Both are linear and are checkpointed eagerly here;
    * the expansion stays lazy, because it is quadratic in exact-group size
    * BY CONTRACT (it IS the answer) and must stream out of joins, never sit
    * in a buffer. */
  private[graft] def expandMembers(members: DataFrame, repPairs: DataFrame,
      score: String, exact: Any): DataFrame = {
    val mCk = members.localCheckpoint(true)
    val pairCk = repPairs.localCheckpoint(true)
    val within = mCk.select(col("rep"), col("doc").as("doc_a"))
      .join(mCk.select(col("rep"), col("doc").as("doc_b")), "rep")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(exact).as(score))
    val cross = pairCk
      .join(mCk.select(col("rep").as("doc_a"), col("doc").as("a")), "doc_a")
      .join(mCk.select(col("rep").as("doc_b"), col("doc").as("b")), "doc_b")
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col(score))
    within.unionByName(cross)
  }

  /** Per-document distinct word-n-gram shingle sets, exploded to
    * (id, shingle) rows — the shared substrate of the Jaccard paths.
    *
    * PRECONDITION (all Jaccard/LSH entry points): `idCol` values must be
    * unique — duplicate id rows would double-count intersections and
    * produce Jaccard values above 1. Deduplicate (e.g. [[exactGroups]] /
    * `dropDuplicates(idCol)`) before similarity analysis; the pipeline
    * deliberately does not pay a global shuffle to re-check it here.
    *
    * The words array is materialized as its own projection BEFORE the
    * shingling transform: Catalyst does not common-subexpression-eliminate
    * into lambda bodies, so `element_at(split(regex(text)), i)` inside
    * `transform` would re-run the whole normalize+split chain once per
    * shingle element (measured 10× slower on the bench corpus). */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        TextOps.tokens(col(textCol)).as("__w"))
      .select(col("doc"),
        explode(array_distinct(TextOps.wordShingles(col("__w"), n))).as("shingle"))
    // no trailing .distinct(): array_distinct already makes (doc, shingle)
    // unique per row, and a global distinct would re-shuffle the exploded
    // shingle set — the largest intermediate in the pipeline — for nothing

  /** Per-document distinct CHARACTER-n-gram shingles — the shingling that
    * works for scripts without whitespace word boundaries (zh/ja/th). */
  def charShingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        TextOps.normalized(col(textCol)).as("__t"))
      .filter(length(col("__t")) >= n)
      .select(col("doc"),
        explode(array_distinct(TextOps.charShingles(col("__t"), n))).as("shingle"))

  /** Exact Jaccard over any (doc, shingle) set for every pair sharing ≥1
    * shingle, thresholded. Correct by construction; quadratic in docs per
    * hot shingle — use on bounded candidate sets or small corpora. */
  def jaccardPairs(sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_shingles"))
    val a = sh.toDF("doc_a", "shingle")
    val b = sh.toDF("doc_b", "shingle")
    val inter = a.join(b, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact word-n-gram Jaccard pairs.
    * Deliberately NOT cached: at scale the shingle set is larger than the
    * corpus and cannot live in memory; recomputing the narrow
    * scan→normalize→explode chain per use is the right trade (and leaked
    * cache entries degrade every downstream query in a shared session). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame =
    jaccardPairs(shingleRows(df, idCol, textCol, n), threshold)

  /** Exact character-n-gram Jaccard pairs (script-agnostic near-dup). */
  def charNgramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame =
    jaccardPairs(charShingleRows(df, idCol, textCol, n), threshold)

  /** MinHash signatures: for each doc, the elementwise minimum of
    * `numHashes` independent 64-bit hashes over its shingle set — as
    * `numHashes` parallel min-aggregates over ONE groupBy(doc). Every min
    * is map-side partial, so the shuffle carries one `numHashes`-wide row
    * per doc per partition — O(docs), not O(shingles × numHashes). (The
    * naive explode-by-hash-index shape shuffles 32× the shingle count and
    * was measured 3× slower end-to-end.)
    *
    * Hashing is TWO-LEVEL: the variable-length shingle string is hashed
    * once (`__h0`), and the k family members re-hash only that 8-byte
    * long. One string pass instead of k makes the operator's dominant
    * compute ~k× cheaper per shingle byte at identical collision quality
    * (seeded xxhash64 over a 64-bit value is still a strong universal
    * family — the standard minhash construction); the projection is
    * materialized BEFORE the aggregate so it cannot be re-evaluated per
    * aggregate expression. */
  def minHashSignatures(shingles: DataFrame, numHashes: Int): DataFrame =
    shingles
      .select(col("doc"), xxhash64(col("shingle")).as("__h0"))
      .groupBy(col("doc"))
      .agg(
        min(xxhash64(lit(0), col("__h0"))).as("m0"),
        (1 until numHashes).map(i =>
          min(xxhash64(lit(i), col("__h0"))).as(s"m$i")): _*)

  /** The user-facing dedup END state: the corpus with near-duplicates
    * removed. Policy: for every similar pair, the larger id is dropped
    * (greedy pairwise, deterministic, one anti-join) — the standard cheap
    * canonicalization when clusters are small. For giant duplicate
    * clusters, swap the pair policy for iterative min-label propagation;
    * the surrounding pipeline (pairs → drop-set → anti-join) is unchanged.
    */
  def dedupCorpus(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val dropSet = pairs.select(col("doc_b").as(idCol)).distinct()
    df.join(dropSet, Seq(idCol), "left_anti")
  }

  /** Free the cached blocks behind an eagerly-localCheckpointed frame.
    * `Dataset.unpersist` only consults the cache manager, which never saw
    * a checkpoint; the blocks belong to the underlying `LogicalRDD`'s RDD,
    * so unpersist that directly. A frame that is not a checkpoint (no
    * LogicalRDD at the root) is left untouched. */
  private def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Duplicate-cluster identification: connected components over a near-dup
    * pair set, labeling every document with the smallest doc id in its
    * component — the step that turns pairwise similarity into dedup groups
    * when clusters chain (A~B, B~C but not A~C), where the greedy pairwise
    * policy of [[dedupCorpus]] can over- or under-drop.
    *
    * Scale shape: iterative min-label propagation with POINTER JUMPING —
    * each round a node takes the min label over itself and its neighbors
    * (one shuffle join + partial-agg min), then compresses paths by jumping
    * to its label's label (a self-join on the linear labels frame). The
    * jump makes convergence O(log diameter) instead of O(diameter), so even
    * adversarial chain-shaped corpora finish in a handful of rounds; real
    * boilerplate clusters (near-cliques) converge in 2. Per-round state is
    * one (node, label) row per distinct doc in the pair set — linear,
    * checkpointed eagerly so the loop's lineage stays flat.
    *
    * Input must be (doc_a, doc_b [, ...]) pairs; returns (doc, cluster)
    * for every doc that appears in at least one pair (singletons are their
    * own trivial cluster and are omitted, matching the pair-set domain).
    * Superseded per-round checkpoints are unpersisted as soon as the next
    * round lands (ADVICE r4 — they otherwise pile up one corpus-sized
    * cache per round until GC); the RETURNED frame is itself backed by the
    * final checkpoint, whose blocks are freed by the context cleaner once
    * the caller drops the frame. */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 25): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var labels = edges.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .localCheckpoint(true)
      var it = 0
      var done = false
      while (!done && it < maxIterations) {
        val nbr = edges
          .join(labels.select(col("node").as("v"), col("label")), "v")
          .groupBy(col("u").as("node")).agg(min(col("label")).as("nlabel"))
        val hooked = labels.join(nbr, Seq("node"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        // pointer jump: label := label(label); labels only ever point at
        // other nodes in the frame, so the self-join always resolves
        val jumped = hooked
          .join(hooked.select(col("node").as("label"), col("label").as("ll")),
            Seq("label"), "left")
          .select(col("node"), coalesce(col("ll"), col("label")).as("label"))
          .localCheckpoint(true)
        done = jumped
          .join(labels.withColumnRenamed("label", "old"), "node")
          .filter(col("label") =!= col("old"))
          .isEmpty
        // `jumped` is materialized past `labels` now (eager checkpoint +
        // the eager isEmpty above) — free the superseded round's blocks
        unpersistLocalCheckpoint(labels)
        labels = jumped
        it += 1
      }
      if (!done) throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIterations rounds — " +
          "with pointer jumping this needs a component of diameter " +
          "> 2^iterations; raise maxIterations")
      labels.select(col("node").as("doc"), col("label").as("cluster"))
    } finally edges.unpersist(false)
  }

  /** SimHash near-dup: hash every doc with the simhash64 expression, bucket
    * by each of the four 16-bit bands (the standard pigeonhole: hamming ≤ 3
    * guarantees at least one of 4 bands equal), candidate pairs from
    * same-band buckets, verified with `bit_count(xor)` ≤ maxHamming.
    *
    * Scale shape (r2 fixes): exact duplicates are collapsed to one
    * canonical per fingerprint BEFORE hashing (identical docs share every
    * band — see [[canonicalMapping]]), buckets are capped self-joins (no
    * per-bucket aggregation buffer), and empty-normalized docs are dropped
    * rather than all landing in one degenerate bucket. Member-level pairs
    * are reconstructed afterwards: identical docs are Hamming-0 near-dups
    * of each other and inherit their canonical's matches. */
  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, maxBucket: Int = 10000,
      strictBuckets: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming: 4 bands of 16 bits guarantee candidate " +
        "generation only for Hamming distance <= 3 (pigeonhole); a larger " +
        "threshold would silently miss qualifying pairs — add bands instead")
    val mapping = canonicalMapping(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val repIds = mapping.filter(col("doc") === col("rep"))
        .select(col("doc").as(idCol))
      // one row per doc, consumed by banding + both pair-hydration joins —
      // persist so normalize/tokenize/simhash runs once per doc
      val hashed = df.join(repIds, Seq(idCol), "left_semi")
        .select(col(idCol).as("doc"),
          TextOps.tokens(col(textCol)).as("__w"))
        .select(col("doc"), ColumnBridge.column(
          SimHash64(ColumnBridge.expression(col("__w")))).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val repPairs = hammingPairs64(hashed, maxHamming, maxBucket,
        "simHashNearDup", strictBuckets)
      val pairs = expandMembers(mapping, repPairs, "hamming", 0)
      hashed.unpersist(false) // fully consumed by the eager repPairs checkpoint
      pairs
    } finally mapping.unpersist(false)
  }

  /** MinHash + LSH banded candidate generation + exact verification.
    *
    * `numHashes = bands × rowsPerBand`. Two docs become candidates iff one
    * band's signature slice matches exactly. Candidates then pass through a
    * TWO-stage verifier:
    *  1. signature-estimate prefilter — estimated Jaccard = fraction of
    *     matching minhash components, a pure projection over the two wide
    *     signature rows (est. σ at J=τ is √(τ(1-τ)/k); the filter keeps
    *     est ≥ τ−0.1, ≈4σ of margin at k=128) — this is what protects the
    *     pipeline when the corpus has high BASELINE similarity (dense
    *     shingle space) and banding alone is weakly selective;
    *  2. exact Jaccard on the survivors' shingle sets.
    *
    * Band row length r must be sized to the corpus's baseline similarity:
    * capture probability is 1-(1-J^r)^b — with r=8, b=16 that is ≥0.9999 at
    * J=0.9 while a random J≈0.45 pair collides with only ~0.17% of bands.
    *
    * Exact duplicates are collapsed before the banded stages and the pairs
    * expanded back afterwards (see [[canonicalMapping]]) — the result is
    * identical, but duplicate-heavy corpora no longer form hot buckets. For
    * end-state dedup prefer [[nearDupDedup]], which skips the (inherently
    * quadratic) member-level pair expansion entirely.
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String, n: Int,
      bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = 10000, strictBuckets: Boolean = false): DataFrame = {
    val core = lshCore(df, idCol, textCol, n, bands, rowsPerBand, threshold,
      maxBucket, strictBuckets)
    try {
      // exact duplicates of a SHINGLED content are Jaccard-1.0 pairs (docs
      // with no shingles never pair — matches the exact-Jaccard semantics),
      // and members inherit their canonical's matches with the identical
      // jaccard value (identical normalized text ⇒ identical shingle set).
      // Every doc referenced by repPairs has shingles, so ONE members frame
      // (members of shingled groups) serves both expansions.
      expandMembers(
        core.mapping.join(core.sizes.select(col("doc").as("rep")), "rep"),
        core.repPairs, "jaccard", 1.0)
    } finally core.release()
  }

  /** The scalable end-state dedup: `df` minus near-duplicates, equivalent to
    * `dedupCorpus(df, idCol, minHashLsh(df, …))` (proven in the suite) but
    * WITHOUT ever materializing the member-level pair set — the drop set is
    * linear in corpus size: non-canonical members of shingled exact groups,
    * plus every member of a group whose canonical loses a near-dup pair.
    * Use this, not the pair API, to dedup a duplicate-heavy corpus. */
  def nearDupDedup(df: DataFrame, idCol: String, textCol: String, n: Int,
      bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int = 10000, strictBuckets: Boolean = false): DataFrame = {
    val core = lshCore(df, idCol, textCol, n, bands, rowsPerBand, threshold,
      maxBucket, strictBuckets)
    try {
      val shingledReps = core.sizes.select(col("doc").as("rep"))
      val dupMembers = core.mapping.join(shingledReps, "rep")
        .filter(col("doc") =!= col("rep"))
        .select(col("doc"))
      val losers = core.mapping
        .join(core.repPairs.select(col("doc_b").as("rep")).distinct(), "rep")
        .select(col("doc"))
      val dropSet = dupMembers.union(losers).distinct()
        .withColumnRenamed("doc", idCol)
        .localCheckpoint(true) // linear, single column — eager so the
                               // persisted shingles can be released
      df.join(dropSet, Seq(idCol), "left_anti")
    } finally core.release()
  }

  /** Incremental ingestion dedup: the incoming batch minus (a) docs
    * near-duplicating the EXISTING corpus and (b) docs near-duplicating a
    * smaller-id incoming doc (the q56 pair rule). The existing corpus is
    * never modified — the batch-over-batch contract of a continuously
    * ingested 100 TB corpus: each arriving batch pays LSH over
    * existing ∪ batch, never a re-dedup of the whole lake.
    *
    * Ids must be globally unique across both frames (a collision corrupts
    * provenance silently). The guard is range-based and cheap: a min/max
    * aggregate per side (map-side partial, no shuffle of the id sets),
    * warning loudly when the ranges overlap. `strictIds = true` upgrades
    * an overlap to an EXACT intersect check that raises on a real
    * collision — a full distinct-shuffle of both id sets, i.e. an extra
    * pass over the existing corpus, which is why it is opt-in (ADVICE
    * r6). NOTE: despite its transformation-shaped signature this function
    * runs the guard's Spark job(s) eagerly at call time. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, n: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Int = 10000,
      strictBuckets: Boolean = false, strictIds: Boolean = false): DataFrame = {
    val ex = existing.select(col(idCol), col(textCol))
    val inc = incoming.select(col(idCol), col(textCol))
    guardGlobalIds(ex, inc, idCol, strictIds, "incrementalDedup")
    val pairs = minHashLsh(ex.unionByName(inc), idCol, textCol, n, bands,
      rowsPerBand, threshold, maxBucket, strictBuckets)
    val newIds = inc.select(col(idCol))
    val flagged = pairs
      .join(newIds.select(col(idCol).as("doc_a"), lit(true).as("new_a")),
        Seq("doc_a"), "left")
      .join(newIds.select(col(idCol).as("doc_b"), lit(true).as("new_b")),
        Seq("doc_b"), "left")
      .na.fill(false, Seq("new_a", "new_b"))
    // pair (a < b): incoming b always loses (to an existing doc or to the
    // smaller incoming id); incoming a loses only to an existing b
    val drops = flagged.filter(col("new_b")).select(col("doc_b").as(idCol))
      .union(flagged.filter(col("new_a") && !col("new_b"))
        .select(col("doc_a").as(idCol)))
      .distinct()
    incoming.join(drops, Seq(idCol), "left_anti")
  }

  /** The globally-unique-id precondition guard shared by both incremental
    * forms. Range-based and cheap: one typed min/max aggregate per side
    * (map-side partial, no shuffle of the id sets; lexicographic toString
    * would misorder numeric ids), warning loudly when the ranges overlap.
    * `strictIds = true` upgrades an overlap to an EXACT intersect check
    * that raises on a real collision — a full distinct-shuffle of both id
    * sets, i.e. an extra pass over the existing corpus, which is why it
    * is opt-in (ADVICE r6). */
  private def guardGlobalIds(ex: DataFrame, inc: DataFrame, idCol: String,
      strictIds: Boolean, opName: String): Unit = {
    val bounds = ex.agg(min(col(idCol)).as("lo"), max(col(idCol)).as("hi"))
      .crossJoin(inc.agg(min(col(idCol)).as("ilo"), max(col(idCol)).as("ihi")))
      .select(col("lo"), col("hi"), col("ilo"), col("ihi"),
        (col("lo") <= col("ihi") && col("ilo") <= col("hi")).as("overlap"))
      .head()
    val rangesOverlap = !bounds.isNullAt(4) && bounds.getBoolean(4)
    if (rangesOverlap) {
      if (strictIds) {
        val clash = ex.select(col(idCol)).intersect(inc.select(col(idCol)))
          .limit(1).collect()
        require(clash.isEmpty,
          s"$opName: id '${clash.headOption.map(_.get(0)).orNull}' " +
            "is in BOTH the existing corpus and the incoming batch — ids " +
            "must be globally unique or provenance is meaningless")
      } else {
        log.warn(s"$opName: existing and incoming id RANGES overlap " +
          s"(existing [${bounds.get(0)}, ${bounds.get(1)}], incoming " +
          s"[${bounds.get(2)}, ${bounds.get(3)}]); a shared id would corrupt " +
          "provenance — pass strictIds=true for an exact (full-pass) check")
      }
    }
  }

  /** Shared banded-LSH core over canonical representatives. `mapping`,
    * `sh` and `sigs` are persisted; callers must materialize what they need
    * eagerly and then call [[LshCore.release]]. */
  private final case class LshCore(norm: DataFrame, mapping: DataFrame,
      sh: DataFrame, sigs: DataFrame, sizes: DataFrame, repPairs: DataFrame) {
    def release(): Unit = {
      sigs.unpersist(false); sh.unpersist(false)
      mapping.unpersist(false); norm.unpersist(false)
    }
  }

  private def lshCore(df: DataFrame, idCol: String, textCol: String, n: Int,
      bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int, strictBuckets: Boolean = false): LshCore = {
    // ONE normalize pass over the corpus feeds both the fingerprint
    // (exact-duplicate collapse) and the shingling — the regex-normalize
    // chain is the per-row scan cost and must not run twice at 100 TB.
    val norm = df
      .select(col(idCol).as("doc"), TextOps.normalized(col(textCol)).as("__t"))
      .filter(length(col("__t")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact-duplicate collapse first (see canonicalMapping): every stage
    // below sees one doc per distinct content
    val fp = norm.select(col("doc"), md5(col("__t").cast("binary")).as("__fp"))
    val canon = fp.groupBy(col("__fp")).agg(min(col("doc")).as("rep"))
    val mapping = fp.join(canon, "__fp").select(col("doc"), col("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repsNorm = norm.join(
      mapping.filter(col("doc") === col("rep")).select(col("doc")),
      Seq("doc"), "left_semi")

    // The shingle set feeds three branches (signatures, candidate verify ×2).
    // Persist it spill-safely for the duration of THIS operator — no cache
    // entry outlives the call, and nothing assumes the shingles fit in
    // memory.
    val sh = repsNorm
      .select(col("doc"), TextOps.words(col("__t")).as("__w"))
      .select(col("doc"),
        explode(array_distinct(TextOps.wordShingles(col("__w"), n))).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The signature aggregation (k hashes × every shingle) is the
    // operator's dominant compute and feeds THREE consumers: the
    // bucket-cap guard (an eager separate job — no exchange reuse
    // possible) and both sides of the bucket self-join. Persist the
    // result — ONE k-wide row per doc, linear and spill-safe — or the
    // aggregation re-runs per consumer (measured 2.2× on the whole
    // operator at sf0.1).
    val sigs = minHashSignatures(sh, bands * rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // band signatures: pure projection over the wide signature row (no
    // shuffle), then unpivot to (doc, band, sig)
    val bandSigCols = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand)
        .map(r => col(s"m${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice: _*)).as("sig")).as(s"b$b")
    }
    val bandSigs = sigs
      .select(col("doc"), explode(array(bandSigCols: _*)).as("bs"))
      .select(col("doc"), col("bs.band").as("band"), col("bs.sig").as("sig"))

    // same-band buckets → capped, bufferless candidate pairs
    val candidates = bucketPairs(bandSigs, maxBucket, "minHashLsh", strictBuckets)

    // verify: exact Jaccard in ONE pass over the candidate pairs. A
    // stage-1 signature-estimate prefilter (join both sides' 128-long
    // persisted sig arrays, keep est ≥ τ−0.1) sat here through r13 —
    // measured NEGATIVE twice in fresh sessions at sf0.1 (2026-08-15:
    // 4.31→3.71 s and 3.85→3.20 s min-of-3 without it, r13 verdict #8's
    // fold; BENCH_COMPARE.md r14 "q42 (MinHash-LSH)"): at τ=0.9 the 8-row bands are specific enough
    // that candidates are near-certain true pairs, so the estimate join
    // costs more than the shingle rows it saves. A prefilter would pay
    // again in a false-candidate-heavy regime (low τ, short bands) —
    // reintroduce it there from this note, not by default. */
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_shingles"))
    val aSh = sh.toDF("doc_a", "shingle")
    val bSh = sh.toDF("doc_b", "shingle")
    val repPairs = candidates
      .select(col("doc_a"), col("doc_b"))
      .join(aSh, "doc_a").join(bSh, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    LshCore(norm, mapping, sh, sigs, sizes, repPairs)
  }

  /** Per-doc minhash signature ARRAY (`bands × rowsPerBand` longs) over
    * word-n-gram shingles of the normalized text — the registry row of
    * the signature-registry incremental form [[incrementalDedupSigs]].
    * Docs whose normalized text is empty produce NO row (no shingles ⇒
    * they never pair — the batch LSH's own norm-filter contract). */
  def signatureArrays(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val norm = df
      .select(col(idCol).as("doc"), TextOps.normalized(col(textCol)).as("__t"))
      .filter(length(col("__t")) > 0)
    val sh = norm
      .select(col("doc"), TextOps.words(col("__t")).as("__w"))
      .select(col("doc"),
        explode(array_distinct(TextOps.wordShingles(col("__w"), n))).as("shingle"))
    minHashSignatures(sh, numHashes)
      .select(col("doc"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** One batch step of the signature-registry incremental dedup. */
  final case class SigStep(kept: DataFrame, registryRows: DataFrame)

  /** [[incrementalDedup]]'s drop rule at the cost shape a continuously
    * ingested 100 TB corpus actually needs: the registry stores each
    * prior doc's minhash signature array, so an arriving batch pays
    *  - shingling + signatures for the BATCH only (the corpus is never
    *    re-shingled — [[incrementalDedup]] re-runs LSH over
    *    existing ∪ batch, i.e. a corpus-sized scan per batch),
    *  - one banded bucket join of the batch's band signatures against
    *    the registry's (linear in corpus size but metadata-narrow:
    *    16 bytes × bands per doc, no text),
    *  - exact-Jaccard verification that re-shingles ONLY the candidate
    *    pairs' texts (candidates are few by construction).
    *
    * `registry` must be the accumulated `registryRows` of prior batches:
    * (idCol, textCol, sig array<long>) — sig NULL for docs with no
    * shingles (they never pair). Returns the batch survivors and the
    * batch's registry rows for the caller to append. The drop rule is
    * identical to [[incrementalDedup]] (incoming doc_b of a pair always
    * loses; incoming doc_a loses only to a registry doc_b), and at a
    * recall-total band config the pair set is the exact-Jaccard pair
    * set, so the two forms produce the SAME kept set
    * (SigRegistrySpec pins it) — this one just reaches it without
    * touching stored text outside the candidate pairs.
    *
    * Exact duplicates are NOT pre-collapsed here (the batch form's
    * rep-collapse needs the whole corpus's fingerprints): a massive
    * exact-dup cluster surfaces as an over-`maxBucket` bucket — and
    * because this form counts RAW docs where [[incrementalDedup]] counts
    * DISTINCT contents, a dup-heavy batch can trip the cap here while
    * the text form sails through, silently diverging from the kept set
    * SigRegistrySpec pins equal. `strictBuckets` therefore defaults to
    * TRUE for this operator (ADVICE r13): the divergence is a loud
    * failure, not a log line — pre-filter exact dups upstream (e.g. the
    * keyed lake table's fingerprint column) or raise `maxBucket` if the
    * corpus is legitimately dup-heavy.
    * Ids must be globally unique across registry and batch — same
    * precondition (and same cheap min/max range guard, with the same
    * `strictIds` escalation) as [[incrementalDedup]]; the streaming
    * head's registry is keyed on the id, so a collision collapses there
    * first. */
  def incrementalDedupSigs(registry: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, n: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Int = 10000,
      strictBuckets: Boolean = true, strictIds: Boolean = false,
      registrySizeHint: Long = -1L): SigStep = {
    val k = bands * rowsPerBand
    guardGlobalIds(registry.select(col(idCol)), incoming.select(col(idCol)),
      idCol, strictIds, "incrementalDedupSigs")
    // feeds band sigs, the estimate prefilter, and the registry rows —
    // pin it or the signature aggregation re-runs per consumer
    val incSig = signatureArrays(incoming, idCol, textCol, n, k)
      .localCheckpoint(true)
    val regSig = registry
      .select(col(idCol).as("doc"), col("sig"))
      .filter(col("sig").isNotNull)
    val allSigs = regSig.unionByName(incSig)
    // band signatures derived from the ARRAY exactly as lshCore derives
    // them from the wide row (same cast-to-string + comma join ⇒ same
    // 64-bit band sig for the same signature values)
    val bandSigCols = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand)
        .map(r => col("sig").getItem(b * rowsPerBand + r).cast("string"))
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice: _*)).as("bsig")).as(s"b$b")
    }
    val bandSigs = allSigs
      .select(col("doc"), explode(array(bandSigCols: _*)).as("bs"))
      .select(col("doc"), col("bs.band").as("band"), col("bs.bsig").as("sig"))
    val candidates = bucketPairs(bandSigs, maxBucket,
      "incrementalDedupSigs", strictBuckets)
    val newIds = incoming.select(col(idCol).as("doc"), lit(true).as("nw"))
    val flagged = candidates
      .join(newIds.toDF("doc_a", "new_a"), Seq("doc_a"), "left")
      .join(newIds.toDF("doc_b", "new_b"), Seq("doc_b"), "left")
      .na.fill(false, Seq("new_a", "new_b"))
      .filter(col("new_a") || col("new_b")) // registry-internal pairs are
                                            // settled history — drop early
      .localCheckpoint(true) // SMALL (batch-involved pairs) and the last
      // corpus-sized derivation: everything below joins candidate-bounded
      // frames, so the banded pipeline runs exactly once per batch
    val registryRows = incoming.select(col(idCol), col(textCol))
      .join(incSig.withColumnRenamed("doc", idCol), Seq(idCol), "left")
    // zero candidates (an all-novel batch): nothing to verify, keep all —
    // the count is a partition-sum over the checkpointed pair frame
    if (flagged.count() == 0) return SigStep(incoming, registryRows)
    // signatures of candidate docs only — ONE scan of the stored arrays
    // instead of one per prefilter side. At corpus scale candidates are
    // ≪ registry so the semi-filter pays; in the dup-heavy regime
    // (candidate set ≈ the whole registry) it is a pure probe tax
    // (~2 s at the ×1 adversarial fixture, BENCH_COMPARE r13) for the
    // same materialization — so it is ADAPTIVE: when the caller supplies
    // a cheap `registrySizeHint` (footer-metadata row count — see
    // VersionedLakeTable.approxRowCount) and the candidate-doc count
    // reaches half of it, skip the semi-join and checkpoint the stored
    // sigs directly. No hint (< 0) keeps the semi-filter — the
    // steady-state-correct default.
    val candDocs = flagged.select(col("doc_a").as("doc"))
      .union(flagged.select(col("doc_b").as("doc"))).distinct()
    val skipSemi = registrySizeHint >= 0 &&
      candDocs.count() >= registrySizeHint / 2 // candidate-bounded job:
        // candDocs derives from the checkpointed pair frame
    val candSigs =
      (if (skipSemi) allSigs
       else allSigs.join(candDocs, Seq("doc"), "left_semi"))
        .localCheckpoint(true)
    // stage-1 verify: signature-estimate prefilter on the stored arrays
    val prefiltered = flagged
      .join(candSigs.toDF("doc_a", "sig_a"), "doc_a")
      .join(candSigs.toDF("doc_b", "sig_b"), "doc_b")
      .withColumn("est",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, x) => a + x)
          .cast("double") / lit(k.toDouble))
      .filter(col("est") >= threshold - 0.1)
      .select(col("doc_a"), col("doc_b"), col("new_a"), col("new_b"))
    // stage-2 verify: exact Jaccard over the candidate docs' shingle
    // rows, each involved doc shingled EXACTLY ONCE and the intersection
    // join-counted — lshCore's verify shape. The first cut computed the
    // shingle arrays per PAIR via withColumn (two texts joined onto
    // every candidate row): Catalyst re-evaluates the regex-normalize +
    // shingle chain once per expression REFERENCE (no CSE across
    // filter/project — the shingleRows trap, again), measured at
    // ~20 ms/pair: 107-113 s of the chain at the ×10
    // sf0.001 fixture (5.6k pairs), 10× slower than the corpus rescan
    // it was built to beat. This shape re-shingles O(involved docs),
    // not O(pairs × refs): the full call drops 57 → 6.0 s on the same
    // fixture (both recorded in BENCH_COMPARE.md round 13, "Incremental
    // near-dup: signature registry vs corpus re-shingle").
    val cand = prefiltered // derives from checkpointed small frames only —
      // re-execution by the consumers below is candidate-bounded
    val involved = cand.select(col("doc_a").as("doc"))
      .union(cand.select(col("doc_b").as("doc"))).distinct()
    val texts = registry.select(col(idCol).as("doc"), col(textCol).as("__txt"))
      .unionByName(incoming.select(col(idCol).as("doc"), col(textCol).as("__txt")))
    val candSh = texts.join(involved, Seq("doc"), "left_semi")
      .select(col("doc"), TextOps.normalized(col("__txt")).as("__t"))
      .filter(length(col("__t")) > 0)
      .select(col("doc"), TextOps.words(col("__t")).as("__w"))
      .select(col("doc"),
        explode(array_distinct(TextOps.wordShingles(col("__w"), n))).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = candSh.groupBy(col("doc")).agg(count(lit(1)).as("__n"))
    val verified = cand
      .join(candSh.toDF("doc_a", "shingle"), "doc_a")
      .join(candSh.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("__i"))
      .join(cand, Seq("doc_a", "doc_b")) // reattach the new-side flags
      .join(sizes.toDF("doc_a", "__na"), "doc_a")
      .join(sizes.toDF("doc_b", "__nb"), "doc_b")
      .withColumn("jaccard", col("__i").cast("double") /
        (col("__na") + col("__nb") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
    // zero-overlap candidate pairs vanish at the inner shingle join —
    // their Jaccard is 0, below any meaningful threshold, so the drop
    // rule never needed them
    val drops = verified.filter(col("new_b")).select(col("doc_b").as(idCol))
      .union(verified.filter(col("new_a") && !col("new_b"))
        .select(col("doc_a").as(idCol)))
      .distinct()
      .localCheckpoint(true) // eager + small: lets the shingle cache go
    candSh.unpersist(false)
    val kept = incoming.join(drops, Seq(idCol), "left_anti")
    SigStep(kept, registryRows)
  }
}
