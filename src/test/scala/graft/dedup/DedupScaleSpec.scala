package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Scale-shape guards for the banded near-dup paths: duplicate-heavy
  * corpora must not form hot buckets (r2's OOM vector), oversized buckets
  * must drop loudly, and the linear drop-set dedup must equal the
  * pair-based one. */
class DedupScaleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** distinct-token texts so unrelated docs never near-dup by accident */
  private def uniqueDoc(i: Long): String =
    s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e tok${i}f tok${i}g tok${i}h"

  test("end-state dedup of 10k identical docs completes with collapsed banding") {
    val n = 10000L
    val dup = (1L to n).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val uniq = (100001L to 100050L).map(i => (i, uniqueDoc(i)))
    val df = (dup ++ uniq).toDF("doc_id", "text").repartition(32)
    val kept = Dedup.nearDupDedup(df, "doc_id", "text", n = 2,
      bands = 16, rowsPerBand = 8, threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    // one canonical survives the duplicate cluster; every unique doc stays
    assert(kept === (Set(1L) ++ (100001L to 100050L)))
  }

  test("simhash near-dup of 10k identical docs collapses before banding") {
    val n = 10000L
    val dup = (1L to n).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val uniq = (100001L to 100020L).map(i => (i, uniqueDoc(i)))
    val df = (dup ++ uniq).toDF("doc_id", "text").repartition(32)
    // the banded stage sees ONE doc for the whole duplicate cluster; the
    // (by-contract quadratic) member expansion stays lazy — count a cheap
    // aggregate instead of collecting 50M pairs
    val pairs = Dedup.simHashNearDup(df, "doc_id", "text", maxHamming = 3)
    assert(pairs.count() === n * (n - 1) / 2)
  }

  test("minHashLsh pair expansion reproduces every exact-duplicate pair") {
    val dup = (1L to 200L).map(i =>
      (i, "some boilerplate legal disclaimer text repeated verbatim across pages"))
    val uniq = (1001L to 1010L).map(i => (i, uniqueDoc(i)))
    val df = (dup ++ uniq).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(df, "doc_id", "text", n = 2,
      bands = 16, rowsPerBand = 8, threshold = 0.9)
    assert(pairs.count() === 200L * 199 / 2)
    assert(pairs.agg(min("jaccard"), max("jaccard")).as[(Double, Double)]
      .head() === ((1.0, 1.0)))
  }

  test("oversized buckets are dropped, small buckets still pair") {
    val bandSigs = ((1 to 100).map(i => (0, 7L, i.toLong)) ++
      Seq((1, 8L, 201L), (1, 8L, 202L), (1, 9L, 301L)))
      .toDF("band", "sig", "doc")
    val pairs = Dedup.bucketPairs(bandSigs, maxBucket = 10, "test")
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((201L, 202L)))
    // and with a big-enough cap the same bucket yields all its pairs
    val uncapped = Dedup.bucketPairs(bandSigs, maxBucket = 100, "test")
    assert(uncapped.count() === 100L * 99 / 2 + 1)
  }

  test("dropped buckets are countable programmatically; strict mode fails instead") {
    val bandSigs = ((1 to 100).map(i => (0, 7L, i.toLong)) ++
      Seq((1, 8L, 201L), (1, 8L, 202L)))
      .toDF("band", "sig", "doc")
    val before = Dedup.droppedBuckets(spark)
    Dedup.bucketPairs(bandSigs, maxBucket = 10, "test")
    assert(Dedup.droppedBuckets(spark) === before + 1)
    val e = intercept[IllegalStateException] {
      Dedup.bucketPairs(bandSigs, maxBucket = 10, "test", strict = true)
    }
    assert(e.getMessage.contains("larger than 10"))
    // strict threads through the public near-dup APIs: the planted corpus
    // near-dups DO collide in bands, so a cap of 1 must fail loudly
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    intercept[IllegalStateException] {
      Dedup.minHashLsh(d, "doc_id", "text", n = 2,
        bands = 16, rowsPerBand = 8, threshold = 0.9,
        maxBucket = 1, strictBuckets = true)
    }
  }

  test("empty and punctuation-only docs never pair (degenerate-bucket guard)") {
    val df = Seq((1L, ""), (2L, ""), (3L, "!!! ;;;"), (4L, "--- ---"),
      (5L, "real content with several words here"))
      .toDF("doc_id", "text")
    assert(Dedup.minHashLsh(df, "doc_id", "text", n = 2,
      bands = 16, rowsPerBand = 8, threshold = 0.5).count() === 0)
    assert(Dedup.simHashNearDup(df, "doc_id", "text", maxHamming = 3)
      .count() === 0)
  }

  test("nearDupDedup equals pair-based dedupCorpus on the real corpus") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.minHashLsh(d, "doc_id", "text", n = 2,
      bands = 16, rowsPerBand = 8, threshold = 0.9)
    val viaPairs = Dedup.dedupCorpus(d, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    val viaDropSet = Dedup.nearDupDedup(d, "doc_id", "text", n = 2,
      bands = 16, rowsPerBand = 8, threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(viaDropSet === viaPairs)
    assert(viaDropSet.nonEmpty && viaDropSet.size < d.count())
  }

  test("the media engine over SimHash fingerprints reproduces simHashNearDup") {
    // one banded core and one member expansion serve both paths, so
    // banding the text path's own fingerprints as media lands on its pairs
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val text = Dedup.simHashNearDup(d, "doc_id", "text", maxHamming = 3)
    val fps = d.filter(length(graft.text.TextOps.normalized(col("text"))) > 0)
      .select(col("doc_id").as("media_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.SimHash64(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            graft.text.TextOps.tokens(col("text"))))).as("fp"))
    val media = graft.multimodal.Banded64.pairs(fps, maxHamming = 3)
    val want = text.collect().toSet
    assert(want.nonEmpty)
    assert(media.collect().toSet === want)
  }
}
