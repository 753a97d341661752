package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.dedup.Dedup
import graft.multimodal.Banded64

/** Hot-band guard of the shared media near-dup engine: a degenerate band
  * value shared by many DISTINCT fingerprints must hit the bucket cap
  * (loud drop counter / strict failure), never a quadratic band join —
  * the media analog of the text LSH paths' maxBucket contract. */
class Banded64Spec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // 10k distinct fingerprints i<<16: bands 0/2/3 are all-zero (three hot
  // buckets of 10k), band 1 is distinct per fp — the black-frame shape.
  private def hotFrame = (0L until 10000L).map(i => (i, i << 16))
    .toDF("media_id", "fp")

  test("degenerate band buckets are dropped loudly, not joined quadratically") {
    val before = Dedup.droppedBuckets(spark)
    val pairs = Banded64.pairs(hotFrame, maxHamming = 3, maxBucket = 500)
    // With the three hot buckets dropped and band 1 all-singleton, no
    // candidate survives — and the job completes without a 10k² join.
    assert(pairs.count() === 0L)
    assert(Dedup.droppedBuckets(spark) - before === 3L)
  }

  test("strictBuckets fails instead of silently reducing recall") {
    val e = intercept[IllegalStateException] {
      Banded64.pairs(hotFrame, maxHamming = 3, maxBucket = 500,
        strictBuckets = true).count()
    }
    assert(e.getMessage.contains("band bucket"))
  }

  test("pairs outside hot buckets survive the cap") {
    // two planted near-dups whose bands are unique (high bits differ from
    // the hot frame's zeros in every band), plus the hot frame
    val planted = Seq(
      (100001L, 0x1111222233334444L), (100002L, 0x1111222233334445L))
      .toDF("media_id", "fp")
    val got = Banded64.pairs(hotFrame.unionByName(planted),
        maxHamming = 3, maxBucket = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((100001L, 100002L, 1)))
  }

  test("exact duplicates still pair when their shared fingerprint is hot-banded") {
    // identical fingerprints collapse to one representative BEFORE banding,
    // so the cap (which counts distinct fps) cannot drop hamming-0 pairs
    val dupes = Seq((1L, 42L), (2L, 42L), (3L, 42L)).toDF("media_id", "fp")
    val got = Banded64.pairs(dupes, maxHamming = 0, maxBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)))
  }

  test("seeded fuzz: pairs equals brute force over duplicated near-dup fps") {
    // random fingerprints, planted neighbours at Hamming 1..5 and exact
    // copies, shuffled over ids: every member-level pair within the cut
    val rnd = new scala.util.Random(17)
    val fps = (0 until 40).flatMap { _ =>
      val base = rnd.nextLong()
      val near = (1 to 5).map(k => rnd.shuffle((0 until 64).toList).take(k)
        .foldLeft(base)((h, bit) => h ^ (1L << bit)))
      (base +: near).flatMap(h => Seq.fill(1 + rnd.nextInt(3))(h))
    }
    val rows = rnd.shuffle(fps).zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val got = Banded64.pairs(rows.toDF("media_id", "fp"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (a, ha) <- rows; (b, hb) <- rows if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(want.exists(_._3 == 0) && want.exists(_._3 == 3))
    assert(got === want)
  }
}
