package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipeline.MediaCuration
import graft.store.{ClaimLog, Snapshots}

/** The MEDIA curation funnel under continuous ingestion —
  * [[graft.pipeline.MediaCuration]]'s stages recomposed for
  * `foreachBatch` with the cross-batch memory in the same crash-safe
  * stores the text stream funnel uses ([[StreamCuration]]'s
  * discipline: replay-stable, per-stage counts, first-writer-wins
  * claims):
  *
  *   1. size gate — stateless (NULL / out-of-range payloads drop)
  *   2. exact bytes — SHA-256 digest claims (digest → claimant id):
  *      byte-identical blobs across the WHOLE stream collapse to their
  *      first-seen copy before any decoder runs, the batch funnel's
  *      stage-2 rationale under ingestion
  *   3. image near-dup — the banded dHash claims core
  *      ([[IncrementalBanded64]], [[IncrementalImageDedup]]'s mechanics)
  *   4. video near-dup — the frame-vote claims twin
  *      ([[IncrementalVideoDedup]])
  *   5. audio near-dup — the banded core over the energy-delta hash
  *   6. optional recognition gate — stateless, reusing the probe
  *
  * Decode-once carries over from the batch funnel: ONE
  * [[MediaCuration.probe]] scan per batch computes (dhash, ahash,
  * header format) for the exact-survivors, and the image tier, audio
  * tier and recognition gate all read that checkpointed sidecar —
  * bytes are decoded once per payload per batch.
  *
  * Keep policy is the streaming one (first-seen / min id — the
  * replayable policy), where the batch funnel's perceptual tiers keep
  * the largest payload: the same documented divergence as
  * [[IncrementalImageDedup]].
  *
  * MULTI-frame clips run the frame-vote claims twin
  * ([[IncrementalVideoDedup]]) between the image and audio tiers: the
  * shared probe withholds their first-frame dHash (an animation must
  * not false-collapse against a still or another animation's title
  * card), and cross-batch drops require ≥ minMatch POSITIONS verifying
  * against the same stored claimant. Replay contract: every stage is
  * stateless or first-writer-wins with the claimant recorded, so a
  * crash-replayed batch reproduces its exact output and never
  * double-claims. */
object StreamMediaCuration {

  private def exactLog(spark: SparkSession, dir: String,
                       compactEvery: Int = Snapshots.DefaultCompactEvery): ClaimLog =
    new ClaimLog(spark, dir, StructType(Seq(
      StructField("digest", StringType, nullable = false),
      StructField("claimant", LongType, nullable = false))),
      compactEvery = compactEvery)

  /** Per-batch funnel counts, [[MediaCuration.Report]]'s streaming twin
    * (emitted through `onReport`; counts only computed when a sink is
    * attached). Monotone non-increasing along the stage order. */
  final case class BatchReport(batchId: Long, nBatch: Long,
                               nAfterSize: Long, nAfterExact: Long,
                               nAfterImageDedup: Long,
                               nAfterAudioDedup: Long, nOut: Long,
                               nAfterVideoDedup: Long = -1L)

  /** RETRACT deleted payloads from every media claim store under
    * `stateDir` ([[StreamCuration.retract]]'s byte-column twin): digest
    * claims, image/audio band claims and video frame-vote claims held
    * by any of `ids` clear; only stores that exist on disk are touched,
    * but the root must hold at least one recognized store — a typo'd
    * `stateDir` would otherwise skip every optional sub-store, return
    * 0, and [[held]] would ALSO read 0: a misconfigured takedown
    * auditing clean (the text twin's [[StreamCuration.retract]]
    * fail-loud discipline). Returns total claims removed. */
  def retract(spark: SparkSession, stateDir: String,
              ids: Seq[Long]): Long =
    requireFunnelRoot(spark, stateDir, "retract from").map(_.retract(ids)).sum

  /** Audit read for [[retract]]: media claims still held by `ids` across
    * every store under `stateDir` — 0 after a completed retraction. */
  def held(spark: SparkSession, stateDir: String, ids: Seq[Long]): Long =
    requireFunnelRoot(spark, stateDir, "audit").map(_.held(ids)).sum

  /** [[StreamCuration.requireFunnelRoot]]'s media twin: the claim stores
    * present under `stateDir`, failing loud when there are none (a real
    * root always holds the mandatory exact store — [[curator]]
    * bootstraps it at construction). */
  private def requireFunnelRoot(spark: SparkSession, stateDir: String,
                                what: String): Seq[ClaimLog] =
    ClaimLog.present(stateDir, "media claim store", what, Seq(
      "exact" -> (exactLog(spark, _)),
      "image" -> (new IncrementalImageDedup(spark, _)),
      "audio" -> (new IncrementalAudioDedup(spark, _)),
      "video" -> (new IncrementalVideoDedup(spark, _))))

  def curator(spark: SparkSession, stateDir: String,
              idCol: String = "media_id", bytesCol: String = "media",
              minBytes: Long = 1L, maxBytes: Long = Long.MaxValue,
              imageMaxHamming: Int = 3, audioMaxHamming: Int = 3,
              videoMaxHamming: Int = 3,
              videoMinMatch: Int =
                graft.multimodal.VideoDedup.DefaultMinMatch,
              dropUnrecognized: Boolean = false,
              compactEvery: Int = Snapshots.DefaultCompactEvery,
              onReport: Option[BatchReport => Unit] = None)
      : (DataFrame, Long) => DataFrame = {
    val exactClaims = exactLog(spark, s"$stateDir/exact", compactEvery)
    exactClaims.init()
    val imgCore = new IncrementalBanded64(spark, s"$stateDir/image",
      compactEvery, imageMaxHamming)
    imgCore.init()
    val audCore = new IncrementalBanded64(spark, s"$stateDir/audio",
      compactEvery, audioMaxHamming)
    audCore.init()
    val vidCore = new IncrementalVideoDedup(spark, s"$stateDir/video",
      compactEvery, videoMaxHamming, videoMinMatch)
    vidCore.init()

    (batch: DataFrame, batchId: Long) => {
      val idL = col(idCol).cast("long")
      def n(d: DataFrame): Long = if (onReport.isDefined) d.count() else -1L

      // 1. size gate (stateless)
      val sized = batch
        .filter(length(col(bytesCol)).between(minBytes, maxBytes))
        .localCheckpoint(true)

      // 2. exact-bytes digest claims: drop rows whose digest another id
      // claimed (any prior batch, or a smaller id in this one), then
      // claim the batch's new digests first-writer-wins — only
      // (id, digest) crosses an exchange, bytes stay in the scan
      val dig = sized
        .select(idL.as("id"), sha2(col(bytesCol), 256).as("digest"))
        .localCheckpoint(true)
      val storeDup = dig.join(exactClaims.read(), "digest")
        .filter(col("claimant") =!= col("id")).select("id")
      val batchMin = dig.groupBy("digest").agg(min(col("id")).as("min_id"))
      val batchDup = dig.join(batchMin, "digest")
        .filter(col("id") > col("min_id")).select("id")
      val dropIds = storeDup.unionAll(batchDup).distinct()
        .withColumnRenamed("id", "_did")
      val afterExact = exactClaims.claim(
        sized.join(dropIds, idL === col("_did"), "left_anti"),
        batchMin.select(col("digest"), col("min_id").as("claimant")))

      // one decode pass per batch; every tier below reads this sidecar
      val probes = MediaCuration.probe(afterExact, bytesCol, idCol)
        .localCheckpoint(true)

      // 3. image near-dup claims
      val afterImg = imgCore.filterAndClaim(afterExact,
        probes.filter(col("dhash").isNotNull)
          .select(col("id"), col("dhash").as("h")), idCol)

      // 4. video (multi-frame clip) frame-vote claims — over the image
      // tier's survivors
      val vidHashes = probes.filter(col("vhash").isNotNull)
        .select(col("id"),
          posexplode(col("vhash")).as(Seq("pos", "fhash")))
        .join(afterImg.select(idL.as("id")), Seq("id"), "left_semi")
      val afterVid = vidCore.filterAndClaim(afterImg, vidHashes, idCol)

      // 5. audio near-dup claims — only over the video tier's survivors
      val audHashes = probes.filter(col("ahash").isNotNull)
        .select(col("id"), col("ahash").as("h"))
        .join(afterVid.select(idL.as("id")), Seq("id"), "left_semi")
      val afterAud = audCore.filterAndClaim(afterVid, audHashes, idCol)

      // 6. optional recognition gate (stateless, probe reuse)
      val out =
        if (!dropUnrecognized) afterAud
        else {
          val recognized = probes
            .filter(col("format").isNotNull || col("ahash").isNotNull)
            .select(col("id").as("_rid"))
          afterAud.join(recognized, idL === col("_rid"), "left_semi")
        }
      onReport.foreach { sink =>
        sink(BatchReport(batchId, nBatch = n(batch), nAfterSize = n(sized),
          nAfterExact = n(afterExact), nAfterImageDedup = n(afterImg),
          nAfterAudioDedup = n(afterAud), nOut = n(out),
          nAfterVideoDedup = n(afterVid)))
      }
      out
    }
  }
}
