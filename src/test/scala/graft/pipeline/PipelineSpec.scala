package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dedup.Dedup
import graft.multimodal.MultimodalOps
import graft.queries.PipelineQueries
import graft.sim.Similarity
import graft.text.TextOps

/** Equivalence and property tests for the approximate/scale paths that have
  * no SQL oracle, plus unit coverage of the text operators. Uses the
  * read-only sf0.001 corpus where real near-duplicates are planted. */
class PipelineSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("TextOps.normalized canonicalizes case/punctuation/whitespace") {
    val out = Seq("Hello,  WORLD!! 42", "  a  b  ", "").toDF("text")
      .select(TextOps.normalized(col("text"))).as[String].collect()
    assert(out === Seq("hello world 42", "a b", ""))
  }

  test("wordShingles handles short inputs without sequence errors") {
    val df = Seq("one", "one two", "one two three").toDF("t")
      .select(TextOps.wordShingles(TextOps.words(col("t")), 2).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) === Seq())
    assert(got(1) === Seq("one two"))
    assert(got(2) === Seq("one two", "two three"))
  }

  test("MinHash-LSH finds exactly the exact-Jaccard pairs at threshold 0.9") {
    val exact = PipelineQueries.q41NgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = PipelineQueries.q42MinhashLsh(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    // precision 1.0 by construction (exact verify); recall must be total
    // on this corpus at b=16, r=8 (capture prob ≥0.9999 per pair at J=0.9)
    assert(lsh === exact)
  }

  test("IVF top-k achieves high recall against brute force") {
    // the raw operator at q45's exact config (the q45 entry itself now
    // emits the driver-pinned integrity flags, not the hit list)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def ivfHits() = Similarity.ivfTopK(e, e.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 10, nCentroids = 16, nProbe = 4)
    val brute = PipelineQueries.q44SimsearchBrute(spark, sfDir)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = ivfHits()
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // The corpus embeddings are ISOTROPIC noise (measured: same-label mean
    // cosine 0.000, top-10 neighbor cosines 0.25-0.39 vs ~0 background), so
    // information-theoretically NO inverted file can beat recall ≈ probed
    // fraction here — at 4/16 probes the honest bar is ~0.5. The ≥0.9
    // algorithmic bar lives in the planted-cluster test below, where the
    // data actually has the structure IVF exploits.
    assert(recall >= 0.5, f"IVF recall@10 too low: $recall%.2f")
    // every IVF hit is a real vector pair with correctly computed cosine —
    // spot-check one query's ranking is internally consistent
    val oneQ = ivfHits()
      .filter(col("q_id") === 0).orderBy("rank")
      .select("cosine").as[Double].collect()
    assert(oneQ.sameElements(oneQ.sorted(Ordering[Double].reverse)))
    // and the q45 entry's integrity flags must all read true
    val flagRow = PipelineQueries.q45SimsearchIvf(spark, sfDir).head()
    assert((1 until flagRow.length).forall(flagRow.getBoolean),
      s"q45 integrity flags: $flagRow")
  }

  test("IVF holds ≥0.9 recall at 4/16 probes on clustered embeddings") {
    // planted structure: 10 well-separated Gaussian clusters; a correct
    // k-means init (hash-sample seeds + Lloyd) must place same-cluster
    // points together so 4 probes capture nearly all true neighbors —
    // this is the bar the r2 first-N-by-id centroid init could not hold
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0L until 500L).map { i =>
      val c = centers((i % 10).toInt)
      (i, c.map(x => (x + 0.25 * rnd.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(8)
    val queries = df.filter(col("vec_id") < 8)
    val brute = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(df, queries, "vec_id", "embedding",
      k = 10, nCentroids = 16, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, f"IVF recall@10 on clustered data too low: $recall%.2f")
  }

  test("cluster assignment is a narrow projection (no shuffle, no join)") {
    val df = (0L until 100L).map(i =>
      (i, Array.fill(8)((i % 7).toFloat + 1f))).toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(df, "vec_id", "embedding", 4)
    val plan = Similarity.assignClusters(df, centroids, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"assignment should be narrow:\n$plan")
  }

  test("broadcast-path cluster assignment equals the inlined-literal path") {
    val df = (0L until 100L).map(i =>
      (i, Array.fill(8)((i % 7).toFloat + 1f + (i % 3) * 0.1f)))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(df, "vec_id", "embedding", 6)
    def assign(limit: Int) =
      Similarity.assignClusters(df, centroids, "vec_id", "embedding", limit)
        .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    // inlineLimit=2 < 6 centroids forces the broadcast fallback; same answer
    assert(assign(limit = 1024) === assign(limit = 2))
  }

  test("duplicate/null corpus ids survive assignment on both paths (ADVICE r4)") {
    // 3 distinct embeddings but only 2 ids (7 twice) plus a null id: every
    // input ROW must come back with an assignment regardless of id
    // uniqueness — the old broadcast fallback's per-id window kept one
    val df = Seq((Some(7L), Array(1f, 0f)), (Some(7L), Array(0f, 1f)),
      (Option.empty[Long], Array(1f, 1f))).toDF("vec_id", "embedding")
    val cents = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    def assign(limit: Int) =
      Similarity.assignClusters(df, cents, "vec_id", "embedding", limit)
        .select("cluster").as[Long].collect().sorted.toSeq
    val inline = assign(limit = 1024)
    assert(inline.length === 3, s"a corpus row was dropped: $inline")
    assert(inline === assign(limit = 1), "paths disagree on duplicate ids")
  }

  test("assignClusters rejects null centroid ids with a clear error") {
    val df = Seq((1L, Array(1f, 2f))).toDF("vec_id", "embedding")
    val cents = Seq((Option.empty[Long], Array(1f, 0f)),
      (Some(7L), Array(0f, 1f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.assignClusters(df, cents, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("cast cleanly to long"))
  }

  test("simhash64 resolves via SparkSessionExtensions injection alone") {
    // TestSpark builds its session withExtensions(GraftExtensions), the
    // only place the engine registers its functions.
    val out = Seq("alpha beta").toDF("text")
      .selectExpr("simhash64(split(text, ' ')) AS h")
      .as[Long].collect()
    assert(out.length === 1)
    assert(out.head !== 0L)
  }

  test("simhash64 projection stays inside whole-stage codegen (no fallback seam)") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("simhash64(split(text, ' ')) AS h")
    val plan = df.queryExecution.executedPlan.toString
    // the Project carrying simhash64 must sit under a WholeStageCodegen
    // span — a CodegenFallback expression would have forced it out
    assert(plan.contains("*(1) Project"), s"no codegen'd Project in:\n$plan")
    // and the generated code really compiles + runs (not a silent fallback)
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains("graft.functions.SimHash64.compute"),
      "generated code does not call the static kernel")
    assert(df.as[Long].head() !== 0L)
  }

  test("simhash64: deterministic, identical texts collide, near-dups are close") {
    def hashes(texts: Seq[String]) =
      texts.toDF("text")
        .withColumn("w", TextOps.words(TextOps.normalized(col("text"))))
        .select(expr("simhash64(w)")).as[Long].collect()
    val Seq(a1, a2) = hashes(Seq("the quick brown fox", "the quick brown fox")).toSeq
    assert(a1 === a2)
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    // a planted near-dup pair from the corpus must be closer than a random pair
    val pair = PipelineQueries.q41NgramJaccard(spark, sfDir).head()
    val (da, db) = (pair.getLong(0), pair.getLong(1))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sh = docs
      .withColumn("w", TextOps.words(TextOps.normalized(col("text"))))
      .select(col("doc_id"), expr("simhash64(w)").as("h"))
      .as[(Long, Long)].collect().toMap
    val near = hamming(sh(da), sh(db))
    val far = hamming(sh(da), sh((sh.keySet - da - db).min))
    assert(near < far, s"near-dup hamming $near should beat random $far")
    assert(near <= 8, s"planted near-dup pair should be within 8 bits, got $near")
  }

  test("exact dedup groups cover every document exactly once") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    assert(groups.agg(sum("n_docs")).head().getLong(0) === docs.count())
  }

  test("multimodal decode stub: batched, deterministic, frame math matches") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val media = MultimodalOps.asMediaTable(docs, "doc_id", "text")
    val feats = MultimodalOps.decodeStub(media).collect()
    assert(feats.length === 50)
    val byId = feats.map(f => f.media_id -> f).toMap
    val expected = media.select(col("media_id"), length(col("media")),
      MultimodalOps.frameCount(length(col("media")), 64, 48))
      .as[(Long, Int, Int)].collect()
    expected.foreach { case (id, n, frames) =>
      assert(byId(id).n_bytes === n)
      assert(byId(id).n_frames === frames)
    }
    // deterministic across runs
    val again = MultimodalOps.decodeStub(media).collect()
      .map(f => f.media_id -> f.head_hash).toMap
    feats.foreach(f => assert(again(f.media_id) === f.head_hash))
    // frame sampling slices line up with the count
    val sliced = media.select(col("media_id"),
      size(MultimodalOps.sampleFrames(col("media"), 64, 48)).as("n"))
      .as[(Long, Int)].collect().toMap
    expected.foreach { case (id, _, frames) => assert(sliced(id) === frames) }
  }

  test("VectorMean centroid equals per-dimension average") {
    val data = Seq(
      (0, Array(1.0f, 2.0f, 3.0f)),
      (0, Array(3.0f, 2.0f, 1.0f)),
      (1, Array(10.0f, 0.0f, -10.0f)))
      .toDF("label", "embedding")
    val got = data.groupBy(col("label"))
      .agg(graft.sim.VectorMean.column(col("embedding")).as("c"))
      .as[(Int, Seq[Double])].collect().toMap
    assert(got(0) === Seq(2.0, 2.0, 2.0))
    assert(got(1) === Seq(10.0, 0.0, -10.0))
    // against the corpus: centroid matches posexplode+avg within 1e-9
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val viaAgg = embs.groupBy(col("label"))
      .agg(graft.sim.VectorMean.column(col("embedding")).as("c"))
      .select(col("label"), posexplode(col("c")).as(Seq("dim", "v")))
      .as[(Int, Int, Double)].collect()
      .map { case (l, d, v) => (l, d) -> v }.toMap
    val viaAvg = embs
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("x").cast("double")).as("v"))
      .as[(Int, Int, Double)].collect()
      .map { case (l, d, v) => (l, d) -> v }.toMap
    assert(viaAgg.keySet === viaAvg.keySet)
    viaAgg.foreach { case (k, v) => assert(math.abs(v - viaAvg(k)) < 1e-9) }
  }

  test("char-n-gram jaccard finds the planted near-dups (script-agnostic path)") {
    val pairs = PipelineQueries.q43CharJaccard(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    // the word-level and char-level views agree on the strongest pairs
    val wordPairs = PipelineQueries.q41NgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.intersect(wordPairs).nonEmpty)
  }

  test("clustered near-dup at nProbe=1 is a sound subset of the exact pairs") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = PipelineQueries.q53EmbedNeardup(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val clustered = Similarity.cosineNearDupClustered(
      e, "vec_id", "embedding", threshold = 0.44, nCentroids = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(clustered.subsetOf(exact))
  }

  test("clustered near-dup at nProbe=3 EQUALS the exact pairs (q54's oracle claim)") {
    // recall-total configuration: every τ≥0.44 pair's top-3 probe sets
    // intersect on this corpus, and the verify arithmetic is the same
    // expression as the exact path — so pairs AND cosine bits must agree
    val exact = PipelineQueries.q53EmbedNeardup(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    val clustered = PipelineQueries.q54EmbedNeardupClustered(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(clustered === exact)
  }

  test("multi-probe assignment: probe sets nest, agree across regimes, argmax is probe #1") {
    val df = (0L until 100L).map(i =>
      (i, Array.fill(8)((i % 7).toFloat + 1f + (i % 3) * 0.1f)))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(df, "vec_id", "embedding", 6)
    def probes(p: Int, limit: Int = 1024) =
      Similarity.assignClustersMulti(df, centroids, "vec_id", "embedding", p, limit)
        .select("vec_id", "cluster").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val p1 = probes(1); val p2 = probes(2)
    val argmax = Similarity.assignClusters(df, centroids, "vec_id", "embedding")
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    p1.foreach { case (id, s) =>
      assert(s.size === 1)
      assert(s.head === argmax(id), s"probe #1 diverges from argmax for $id")
      assert(s.subsetOf(p2(id)), s"probe sets do not nest for $id")
    }
    assert(p2.forall(_._2.size === 2))
    // broadcast regime returns the identical probe sets
    assert(probes(2, limit = 2) === p2)
  }

  test("nProbe beyond the live centroid count degrades to all-clusters, not an error") {
    // k-means can return fewer live centroids than requested — a probe
    // count past that must clamp (slice() would otherwise error)
    val df = (0L until 20L).map(i => (i, Array((i % 4).toFloat + 1f, 1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1f, 1f)), (1L, Array(4f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.assignClustersMulti(df, cents, "vec_id", "embedding", nProbe = 5)
      .groupBy("vec_id").count().select("count").as[Long].collect()
    assert(got.length === 20)
    assert(got.forall(_ === 2L), "every row should probe both live centroids")
  }

  test("oversized centroid payloads fail loudly on the broadcast path") {
    val df = Seq((1L, Array(1f, 2f))).toDF("vec_id", "embedding")
    val cents = (0L until 4L).map(i => (i, Array(i.toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      // inlineLimit=1 forces the broadcast regime; cap of 7 < 4 rows × 2 dims
      Similarity.withCentroidArray(df, cents, "vec_id", "embedding",
        inlineLimit = 1, broadcastElemCap = 7L)(c => c)
    }
    assert(e.getMessage.contains("broadcast ceiling"))
    assert(e.getMessage.contains("shard the assignment"))
  }

  test("simhash banded near-dup agrees with the strongest jaccard pairs") {
    // the raw operator (the q55 entry itself now emits the driver-pinned
    // summary flags, not the pair list)
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val sim = graft.dedup.Dedup
      .simHashNearDup(d, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val jac = PipelineQueries.q41NgramJaccard(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(sim.nonEmpty)
    // the banded Hamming path is exhaustive at ≤3 bits (pigeonhole), so any
    // overlap gap runs the other way: strong-jaccard pairs may sit >3 bits
    assert(sim.intersect(jac).nonEmpty)
    // and the q55 entry's summary flags must all read true
    val flagRow = PipelineQueries.q55SimhashNeardup(spark, sfDir).head()
    assert((1 until flagRow.length).forall(flagRow.getBoolean),
      s"q55 summary flags: $flagRow")
  }

  test("approx_count_distinct stays within its error bound of the exact count") {
    // q19 self-validates: within_bound is the |approx-exact|/exact ≤ 0.05
    // flag the driver oracle pins to TRUE; exact_customers must also match
    // the independent exact aggregation
    val got = graft.queries.RelationalQueries.q19ApproxDistinct(spark, sfDir)
      .as[(String, Long, Boolean)].collect()
    val exact = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got.map(_._1).toSet === exact.keySet)
    got.foreach { case (k, n, within) =>
      assert(n === exact(k))
      assert(within, s"priority $k: estimate left the 5% bound")
    }
  }

  test("language id picks the highest-scoring marker set deterministically") {
    val out = Seq(
      "the cat and the dog is a pet",  // en markers
      "le chat et la mer des les",     // fr markers
      "xyzzy qwerty")                  // no markers
      .toDF("text")
      .select(TextOps.langId(TextOps.words(TextOps.normalized(col("text")))))
      .as[String].collect()
    assert(out === Seq("en", "fr", "und"))
  }
}
