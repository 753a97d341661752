package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The shared banded near-dup core behind SimHash text dedup and the media
  * engine: [[Dedup.hammingPairs64]] must return exactly the brute-force
  * Hamming pairs (4 bands are exhaustive for distance ≤ 3), its guard must
  * name the caller's tag, and [[Dedup.expandMembers]] must reproduce every
  * member-level pair of a (rep, doc) mapping. */
class BandedCoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Distinct fingerprints: random seeds plus planted neighbours at Hamming
    * distance 1..5, so every distance around the ≤ 3 cut is present. */
  private def fingerprints(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val fps = (0 until 60).flatMap { _ =>
      val base = rnd.nextLong()
      base +: (1 to 5).map { k =>
        rnd.shuffle((0 until 64).toList).take(k)
          .foldLeft(base)((h, bit) => h ^ (1L << bit))
      }
    }.distinct
    fps.zipWithIndex.map { case (h, i) => (i.toLong, h) }
  }

  private def bruteForce(fps: Seq[(Long, Long)], maxHamming: Int) =
    (for {
      (a, ha) <- fps; (b, hb) <- fps if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= maxHamming
    } yield (a, b, d)).toSet

  test("hammingPairs64 returns exactly the brute-force pairs for every cut") {
    val fps = fingerprints(5)
    val hashed = fps.toDF("doc", "h").cache()
    try for (maxHamming <- 0 to 3) {
      val got = Dedup.hammingPairs64(hashed, maxHamming, maxBucket = 10000,
          "core-spec", strict = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = bruteForce(fps, maxHamming)
      assert(maxHamming == 0 || want.nonEmpty)
      assert(got === want, s"maxHamming=$maxHamming")
    } finally hashed.unpersist()
  }

  test("hammingPairs64's guard names the caller's tag, cap and largest bucket") {
    // 40 distinct fingerprints sharing bands 0, 2 and 3: three buckets of 40
    val hot = (0L until 40L).map(i => (i, i << 16)).toDF("doc", "h")
    val e = intercept[IllegalStateException] {
      Dedup.hammingPairs64(hot, 3, maxBucket = 10, "core-spec", strict = true)
    }
    assert(e.getMessage.contains(
      "core-spec: 3 band bucket(s) larger than 10 (largest=40)"), e.getMessage)
    val before = Dedup.droppedBuckets(spark)
    assert(Dedup.hammingPairs64(hot, 3, maxBucket = 10, "core-spec",
      strict = false).count() === 0L)
    assert(Dedup.droppedBuckets(spark) - before === 3L)
  }

  test("expandMembers pairs each exact group internally and every member " +
      "of two paired representatives") {
    // groups: rep 1 → {1, 4, 9}, rep 2 → {2}, rep 3 → {3, 7}, rep 5 → {5}
    val members = Seq(1L -> 1L, 1L -> 4L, 1L -> 9L, 2L -> 2L, 3L -> 3L,
      3L -> 7L, 5L -> 5L)
    val repPairs = Seq((1L, 3L, 2), (2L, 5L, 1))
    val got = Dedup.expandMembers(members.toDF("rep", "doc"),
        repPairs.toDF("doc_a", "doc_b", "hamming"), "hamming", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val groups = members.groupBy(_._1).map { case (r, ms) => r -> ms.map(_._2) }
    val within = for {
      ms <- groups.values; a <- ms; b <- ms if a < b
    } yield (a, b, 0)
    val cross = for {
      (ra, rb, d) <- repPairs; a <- groups(ra); b <- groups(rb)
    } yield (math.min(a, b), math.max(a, b), d)
    assert(got === (within ++ cross).toSet)
    assert(got.size === 4 + 6 + 1)
  }
}
