package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.store.{ClaimLog, Snapshots}

/** Streaming VIDEO near-dup claims — [[graft.multimodal.VideoDedup]]'s
  * frame-fingerprint VOTING through the claims-store discipline: each
  * (position, band, 16-bit key) bucket of a clip's sampled-frame hashes
  * is claimed first-writer-wins with the claimant's id AND that
  * position's frame hash; a later clip drops when at least `minMatch`
  * POSITIONS verify (hamming ≤ `maxHamming`) against the SAME claimant
  * — the positional vote, not a single-bucket coincidence, so a shared
  * title card (one position) can never collapse two different clips
  * across batches. Within a batch the verdict is the batch tier's
  * collapsed pair vote ([[graft.multimodal.VideoDedup.pairsFromHashes]]
  * — smallest near id wins), so single-batch survivors match the batch
  * tier up to the family's documented min-id-vs-largest-payload policy
  * divergence. Cross-batch recall rides the single-claimant-per-bucket
  * store semantics the image/audio twins document: a bucket's claimant
  * is the one identity later arrivals can vote against.
  *
  * Claim-identity semantics (shared with the image/audio twins, explicit
  * here): new claims are drawn from ALL of the batch's bands — including
  * clips this very batch DROPPED (store or batch duplicates) — so a
  * dropped clip can become the first-writer claimant of buckets its
  * survivor never touched, and a future arrival may drop by voting
  * against an identity that never shipped. This TRANSITIVE drop is
  * correct by the vote's construction: ≥ `minMatch` positions verifying
  * against the dropped claimant certify near-duplication with IT, and it
  * in turn was certified against an earlier survivor — the duplicate
  * CHAIN collapses to the earliest-seen representative, exactly the
  * min-id chain policy the streaming funnel documents for text claims.
  *
  * Scale shape: only (bucket key, id, hash) rows cross exchanges —
  * bytes stay in the caller's probe scan; O(batch) claim deltas,
  * depth-triggered compaction, replay-stable (a replayed claimant
  * passes and never double-claims). */
final class IncrementalVideoDedup(spark: SparkSession, root: String,
                                  compactEvery: Int = Snapshots.DefaultCompactEvery,
                                  maxHamming: Int = 3,
                                  minMatch: Int =
                                    graft.multimodal.VideoDedup.DefaultMinMatch)
    extends ClaimLog(spark, root, IncrementalVideoDedup.schema,
      compactEvery = compactEvery) {
  require(maxHamming >= 0 && maxHamming <= 64, "maxHamming in [0,64]")
  require(minMatch >= 1, "minMatch must be >= 1")
  // the probe side samples [[graft.multimodal.VideoDedup.FrameSamples]]
  // positions per clip; a vote threshold past that can never fire and
  // the tier would be silently inert — fail loud (the batch tier's
  // nearDupPairs guard, mirrored)
  require(minMatch <= graft.multimodal.VideoDedup.FrameSamples,
    s"minMatch=$minMatch exceeds the " +
      s"${graft.multimodal.VideoDedup.FrameSamples} sampled positions " +
      "per clip — no arrival could ever reach the vote threshold")

  /** `fh` is (id: long, pos: int, fhash: long) — the batch's sampled
    * frame hashes (the probe sidecar's `vhash`, exploded); rows of
    * `batch` without any pass through unexamined. */
  def filterAndClaim(batch: DataFrame, fh: DataFrame,
                     idCol: String): DataFrame = {
    val bands = fh
      .select(col("id"), col("pos"), col("fhash"),
        explode(array((0 until 4).map(b =>
          concat_ws(",", col("pos"), lit(b),
            shiftright(col("fhash"), b * 16).bitwiseAND(lit(65535L)))): _*))
          .as("bkey"))
      .localCheckpoint(true)
    // cross-batch: positions verifying against the SAME stored claimant,
    // counted distinct — the vote
    val storeDup = bands.join(read(), Seq("bkey", "pos"))
      .filter(col("claimant") =!= col("id") &&
        bit_count(col("fhash").bitwiseXOR(col("chash"))) <= maxHamming)
      .select(col("id"), col("claimant"), col("pos")).distinct()
      .groupBy(col("id"), col("claimant"))
      .agg(count(lit(1)).as("_votes"))
      .filter(col("_votes") >= minMatch)
      .select("id")
    // within-batch: the batch tier's collapsed pair vote — every id_b
    // has a smaller near clip in this batch (smallest near id wins)
    val batchDup = graft.multimodal.VideoDedup
      .pairsFromHashes(fh, maxHamming, minMatch)
      .select(col("id_b").as("id"))
    val dropIds = storeDup.unionAll(batchDup).distinct()
      .withColumnRenamed("id", "_drop_id")
    claim(batch.join(dropIds,
        batch(idCol).cast("long") === col("_drop_id"), "left_anti"),
      bands.groupBy(col("bkey"), col("pos"))
        .agg(min_by(struct(col("id"), col("fhash")), col("id")).as("m"))
        .select(col("bkey"), col("pos"), col("m.id").as("claimant"),
          col("m.fhash").as("chash")))
  }
}

object IncrementalVideoDedup {
  private val schema = StructType(Seq(
    StructField("bkey", StringType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("claimant", LongType, nullable = false),
    StructField("chash", LongType, nullable = false)))
}
