package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.ImageDedup
import graft.store.Snapshots

/** [[IncrementalDedup]] for IMAGE columns — the streaming twin of
  * [[graft.multimodal.ImageDedup]]: banded dHash candidates against a
  * persistent claims store, with a HAMMING verify against the claimed
  * representative's stored hash (the [[IncrementalEmbedDedup]]
  * discipline with popcount in place of the exact cosine — a band
  * collision alone costs one XOR, never data). Mechanics live in the
  * shared [[IncrementalBanded64]] core (also serving
  * [[IncrementalAudioDedup]]): 4×16 bands (the batch tier's exact
  * banding, so the pigeonhole guarantee transfers and the single-batch
  * result matches [[ImageDedup.nearDupPairs]]-driven dedup),
  * first-writer-wins claims with the claimant's hash (replay-stable,
  * min-id representatives), O(batch) deltas with depth-triggered
  * compaction. Undecodable payloads carry no hash: they pass through
  * unexamined and claim nothing — garbage must never block a bucket. */
final class IncrementalImageDedup(spark: SparkSession, root: String,
                                  compactEvery: Int = Snapshots.DefaultCompactEvery,
                                  maxHamming: Int = 3)
    extends IncrementalBanded64(spark, root, compactEvery, maxHamming) {

  /** Filters `batch` to rows that are NOT certified near-duplicates of
    * an earlier claimant (across all prior batches and within this one),
    * then claims the batch's unclaimed buckets. Returns the kept rows
    * with the batch's original columns. */
  def filterAndClaim(batch: DataFrame, bytesCol: String,
                     idCol: String): DataFrame =
    filterAndClaim(batch,
      ImageDedup.imageHashes(batch, bytesCol, idCol)
        .withColumnRenamed("dhash", "h"),
      idCol)
}
