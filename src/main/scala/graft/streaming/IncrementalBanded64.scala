package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.{ClaimLog, Snapshots}

/** The shared CLAIMS core of the 64-bit perceptual-hash streaming twins
  * ([[IncrementalImageDedup]], [[IncrementalAudioDedup]]): band a
  * (id, hash) signature table 4×16, drop rows whose bucket is claimed by
  * ANOTHER id whose stored hash verifies at `maxHamming` (or by a
  * SMALLER NEAR id within the batch — any smaller id whose hash
  * verifies, not merely the bucket minimum, so a chance band collision
  * parking an unrelated minimum in the bucket cannot hide a real
  * near-dup pair behind it), then claim the batch's unclaimed buckets
  * first-writer-wins with the claimant's hash attached — replay-stable,
  * O(batch) deltas, depth-triggered compaction. The within-batch check
  * runs collapsed (identical hashes fold to their min-id representative
  * first; only DISTINCT hashes meet in the pairwise bucket probe), so
  * the single-batch survivor set matches the batch tier
  * ([[graft.multimodal.Banded64.pairs]] + min-id keep) at linear cost
  * even when one signature floods a bucket. The modality owns only the
  * DECODE + HASH step. */
class IncrementalBanded64 private[streaming] (
    spark: SparkSession, root: String, compactEvery: Int, maxHamming: Int)
    extends ClaimLog(spark, root, IncrementalBanded64.schema,
      compactEvery = compactEvery) {
  require(maxHamming >= 0 && maxHamming <= 64,
    s"maxHamming must be in [0, 64], got $maxHamming")

  /** `hashes` is (id: long, h: long) — the batch's decodable signatures;
    * rows of `batch` without one pass through unexamined. */
  private[streaming] def filterAndClaim(batch: DataFrame, hashes: DataFrame,
                                       idCol: String): DataFrame = {
    val bands = hashes
      .select(col("id"), col("h"),
        explode(array((0 until 4).map(b =>
          concat_ws(",", lit(b),
            shiftright(col("h"), b * 16).bitwiseAND(lit(65535L)))): _*))
          .as("bkey"))
      .localCheckpoint(true)
    def near(a: org.apache.spark.sql.Column,
             b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      bit_count(a.bitwiseXOR(b)) <= maxHamming
    val storeDup = bands.join(read(), "bkey")
      .filter(col("claimant") =!= col("id") && near(col("h"), col("chash")))
      .select("id")
    // within-batch: smallest NEAR id wins. Identical hashes collapse to
    // their min-id representative (hamming 0 — every non-rep drops);
    // DISTINCT hashes probe buckets pairwise among representatives only,
    // so an unrelated bucket minimum can never mask a real pair and the
    // m-copy pileup stays linear (the Banded64 pre-collapse discipline).
    // Completeness of the rep-only probe: a near smaller NON-rep y has
    // rep(y) ≤ y with the SAME hash — same distance, same buckets — so
    // rep(y) already witnesses the drop.
    val reps = hashes.groupBy("h").agg(min(col("id")).as("_rep"))
      .localCheckpoint(true)
    val sameHashDup = hashes.join(reps, "h")
      .filter(col("id") =!= col("_rep")).select("id")
    val repBands = bands.join(
      reps.select(col("_rep").as("id")), Seq("id"), "left_semi")
    val crossDup = repBands.as("x")
      .join(repBands.as("y"),
        col("x.bkey") === col("y.bkey") && col("y.id") < col("x.id"))
      .filter(near(col("x.h"), col("y.h")))
      .select(col("x.id").as("id"))
    val batchDup = sameHashDup.unionAll(crossDup)
    // claims stay one-per-bucket, keyed by the bucket's min id (with its
    // hash) — the cross-batch single-claimant semantics, unchanged
    val batchMin = bands.groupBy("bkey")
      .agg(min_by(struct(col("id"), col("h")), col("id")).as("m"))
      .select(col("bkey"), col("m.id").as("min_id"), col("m.h").as("mhash"))
    val dropIds = storeDup.unionAll(batchDup).distinct()
      .withColumnRenamed("id", "_drop_id")
    claim(batch.join(dropIds,
        batch(idCol).cast("long") === col("_drop_id"), "left_anti"),
      batchMin.select(col("bkey"), col("min_id").as("claimant"),
        col("mhash").as("chash")))
  }
}

object IncrementalBanded64 {
  private val schema = StructType(Seq(
    StructField("bkey", StringType, nullable = false),
    StructField("claimant", LongType, nullable = false),
    StructField("chash", LongType, nullable = false)))
}

/** Streaming AUDIO near-dup claims — [[graft.multimodal.AudioDedup]]'s
  * energy-delta hash through the shared banded claims core: cross-batch
  * drops against stored claimant hashes, replay-stable, undecodable
  * clips pass unexamined. */
final class IncrementalAudioDedup(spark: SparkSession, root: String,
                                  compactEvery: Int = Snapshots.DefaultCompactEvery,
                                  maxHamming: Int = 3)
    extends IncrementalBanded64(spark, root, compactEvery, maxHamming) {

  def filterAndClaim(batch: DataFrame, bytesCol: String,
                     idCol: String): DataFrame =
    filterAndClaim(batch,
      graft.multimodal.AudioDedup.audioHashes(batch, bytesCol, idCol)
        .withColumnRenamed("ahash", "h"),
      idCol)
}
