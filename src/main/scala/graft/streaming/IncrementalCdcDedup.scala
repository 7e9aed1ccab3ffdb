package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.store.{ClaimLog, Snapshots}

/** Streaming twin of the CDC partial-overlap dedup tier (q143-q146,
  * [[Dedup.cdcDupStats]]/[[Dedup.cdcPairs]]) — per-CHUNK first-writer
  * claims, so cross-batch shifted/edited boilerplate reuse drops
  * incrementally: a document arriving in batch 300 whose paragraphs
  * already shipped in batch 3 is caught the moment it arrives, even
  * though its whole-document MinHash signature never collides (the
  * regime the [[IncrementalDedup]] tier is structurally blind to).
  *
  * Semantics, matching the batch tier's denomination: each arriving
  * document chunks in-scan ([[graft.functions.CdcChunks]] — the
  * shift-robust boundaries), a chunk occurrence counts as DUPLICATED
  * when its 62-bit identity is claimed by ANOTHER document (stored
  * claimant, or a smaller-id carrier within the batch among chunks not
  * yet stored — the engine-wide min-id pre-collapse), and the document
  * DROPS when its duplicated-token fraction reaches `minDupPpm` (exact
  * integer ppm, the q144 statistic incrementally). Surviving documents
  * claim their unclaimed chunk identities first-writer-wins; DROPPED
  * documents claim NOTHING — a future copy must never be suppressed
  * against an identity that never shipped (the exact failure mode
  * [[graft.store.ClaimLog]]'s retraction exists to prevent on deletion).
  *
  * Replay-stable without tokens: claims are anti-joined against the
  * store before appending, so a crash-replayed batch re-derives the
  * same drop set and appends nothing. Retraction is the family
  * contract: [[retract]] clears a deleted claimant's chunk claims, the
  * next arrival claims them. NULL-text rows pass unexamined
  * (chunkless); store size is O(distinct shipped chunk identities) ≈
  * shipped tokens / 2^maskBits, with depth-triggered compaction.
  *
  * Scale shape: the chunker rides the scan (text never leaves it);
  * only (id, h, n_tokens) longs reach the one hash-keyed probe
  * exchange, the family economics. */
final class IncrementalCdcDedup(spark: SparkSession, root: String,
                                window: Int = 8, maskBits: Int = 5,
                                minDupPpm: Long = 500000L,
                                compactEvery: Int = Snapshots.DefaultCompactEvery)
    extends ClaimLog(spark, root, IncrementalCdcDedup.claimsSchema,
      compactEvery = compactEvery) {
  require(minDupPpm >= 1L && minDupPpm <= 1000000L,
    s"minDupPpm must be in [1, 1000000], got $minDupPpm")

  /** Filter one micro-batch (drop documents at or past `minDupPpm`
    * duplicated tokens) and claim the survivors' new chunk
    * identities. Returns the kept rows of `batch`, untouched. */
  def filterAndClaim(batch: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val ch = Dedup.cdcChunks(batch, idCol, textCol, window, maskBits)
      .select(col(idCol).cast("long").as("id"), col("n_tokens"), col("h"))
      .localCheckpoint(true)
    val store = read()
    // duplicated occurrences: stored claimant is someone else...
    val storeDup = ch.join(store, "h")
      .filter(col("claimant") =!= col("id"))
      .select("id", "n_tokens")
    // ...or, among chunks the store has never seen, a smaller-id batch
    // carrier exists (the pre-collapse min-id election)
    val unclaimed = ch.join(store, Seq("h"), "left_anti")
      .localCheckpoint(true)
    val bmin = unclaimed.groupBy("h").agg(min(col("id")).as("_bmin"))
    val batchDup = unclaimed.join(bmin, "h")
      .filter(col("id") > col("_bmin"))
      .select("id", "n_tokens")
    val dupTok = storeDup.unionAll(batchDup)
      .groupBy("id").agg(sum(col("n_tokens")).as("_dup"))
    val dropIds = ch.groupBy("id").agg(sum(col("n_tokens")).as("_tot"))
      .join(dupTok, Seq("id"))
      .filter(expr("_dup * 1000000L div _tot") >= minDupPpm)
      .select(col("id").as("_drop_id"))
      .localCheckpoint(true)
    // survivors claim their unclaimed identities, min kept carrier wins
    claim(batch.join(dropIds,
        batch(idCol).cast("long") === col("_drop_id"), "left_anti"),
      unclaimed
        .join(dropIds, col("id") === col("_drop_id"), "left_anti")
        .groupBy("h").agg(min(col("id")).as("claimant")))
  }
}

object IncrementalCdcDedup {

  private[streaming] val claimsSchema = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("claimant", LongType, nullable = false)))

  /** Directory-level [[IncrementalCdcDedup!.retract]] — the deletion
    * cascade's entry point ([[graft.pipeline.Forget.cascade]] wires it
    * as `cdcClaimsDir`): clears every chunk claim a dead claimant
    * holds, without needing the chunking knobs the live instance was
    * built with (the claims schema is knob-free). Without this leg, a
    * takedown would leave the dead document's chunk identities standing
    * and a recrawled copy would be SUPPRESSED against content that no
    * longer ships. */
  def retract(spark: SparkSession, root: String, ids: Seq[Long]): Long =
    requireStore(spark, root, "retract from").retract(ids)

  /** Audit read for [[retract]]: claims still held by `ids` — 0 after
    * a completed retraction (the [[graft.pipeline.Forget.verify]]
    * read). */
  def held(spark: SparkSession, root: String, ids: Seq[Long]): Long =
    requireStore(spark, root, "audit").held(ids)

  /** A cascade leg pointed at a dir with no store is a MISCONFIGURED
    * takedown (the claims it meant to clear live elsewhere) — fail
    * naming the cause, not with a manifest-read stack trace (the
    * [[StreamSplit.retract]] discipline). */
  private def requireStore(spark: SparkSession, root: String,
                           what: String): ClaimLog = {
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "current")),
      s"no CDC claim store at $root — nothing to $what")
    new ClaimLog(spark, root, claimsSchema)
  }
}
