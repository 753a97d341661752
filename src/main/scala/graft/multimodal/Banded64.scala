package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Shared near-dup engine over 64-bit media fingerprints (image aHash,
  * audio energy-hash, any future modality): exact-fingerprint pre-collapse
  * → the text SimHash path's banded core ([[Dedup.hammingPairs64]]: 4×16-bit
  * bands, capped candidates, codegen'd `bit_count` Hamming verification) →
  * member re-expansion ([[Dedup.expandMembers]]). Pigeonhole makes 4 bands
  * exhaustive for Hamming ≤ 3; banding keeps candidates a groupBy, never
  * all-pairs.
  *
  * Degenerate-band guard (the text LSH paths' contract, [[Dedup]]
  * bucketPairs): a band self-join on 16-bit signatures has 2^16 buckets
  * per band, so n distinct fingerprints sharing a band value (black
  * frames, silence, constant-color thumbnails) produce a ~n²/2 candidate
  * blow-up. Buckets larger than `maxBucket` DISTINCT fingerprints are
  * dropped from candidate generation — a recall-vs-survival trade the
  * operator must not make silently: every drop increments
  * [[Dedup.droppedBuckets]] and logs loudly, and `strictBuckets = true`
  * fails the job instead. Exact duplicates are unaffected (they collapse
  * to one representative before banding and re-expand afterwards). */
object Banded64 {

  /** `hashed` must have columns (`media_id` long, `fp` long). Returns
    * (id_a, id_b, hamming) for every pair within `maxHamming` whose band
    * buckets stay under `maxBucket` distinct fingerprints. */
  def pairs(hashed: DataFrame, maxHamming: Int, maxBucket: Int = 10000,
      strictBuckets: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"Banded64: 4x16-bit bands are exhaustive only for maxHamming <= 3, got $maxHamming")
    // one banding representative per distinct fingerprint: k identical
    // media items otherwise flood every band bucket (the text paths' r2
    // lesson). One row per item; persisted so the fingerprints are
    // computed once for banding and expansion.
    val fps = hashed.select(col("media_id").as("doc"), col("fp").as("h"))
    val mapping = fps
      .join(fps.groupBy(col("h")).agg(min(col("doc")).as("rep")), "h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val reps = mapping.filter(col("doc") === col("rep"))
        .select(col("doc"), col("h"))
      val repPairs = Dedup.hammingPairs64(reps, maxHamming, maxBucket,
        "Banded64", strictBuckets)
      Dedup.expandMembers(mapping.select(col("rep"), col("doc")), repPairs,
          "hamming", 0)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))
    } finally mapping.unpersist(false)
  }
}
