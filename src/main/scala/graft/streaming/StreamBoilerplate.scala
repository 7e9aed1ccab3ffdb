package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Dedup
import graft.store.{CountLog, Snapshots}

/** Incremental cross-document boilerplate DETECTION under continuous
  * ingestion — the streaming half of [[graft.operators.Dedup
  * .scrubDupSpans]], split where the semantics split:
  *
  *  - MEASUREMENT is incremental: each micro-batch appends its per-chunk
  *    distinct-document counts to a crash-atomic [[CountLog]].
  *    The counts are ADDITIVE across batches with no sketch and no
  *    approximation, because a document belongs to exactly one batch —
  *    the per-batch `COUNT(DISTINCT id)` values for a chunk hash sum to
  *    the global distinct count. O(batch-chunks) work per batch;
  *    batch-id tokens make replays append nothing (the
  *    [[StreamRetrieval]] discipline).
  *  - REWRITE is deliberately NOT incremental: a chunk becomes
  *    boilerplate only after its Nth cross-document sighting, but every
  *    earlier copy has already shipped — so the scrub runs as a periodic
  *    RE-SCRUB of the materialized corpus ([[rescrub]]), reading the dup
  *    set the accumulator already paid for instead of recomputing it
  *    with a corpus-wide aggregation (the expensive half of the batch
  *    operator drops to a store read).
  *
  * At 100 TB: the store holds one (hv, nd) row per distinct chunk hash —
  * bounded by the corpus's distinct-chunk count, compacted by additive
  * merge (`compactEvery` deltas), and the re-scrub is the batch
  * operator's rewrite half — coordinates-only shuffles, text never
  * crossing an exchange.
  */
object StreamBoilerplate {

  /** A chunk-count log: one (key, nd) row per chunk hash. */
  private def countLog(spark: SparkSession, dir: String, key: String,
                       compactEvery: Int): CountLog = {
    val log = new CountLog(spark, dir, StructType(Seq(
      StructField(key, LongType, nullable = false),
      StructField("nd", LongType, nullable = false))), key, compactEvery)
    log.init()
    log
  }

  /** The chunk-count store + per-batch accumulator. */
  final class ChunkCounts(spark: SparkSession, dir: String, val span: Int,
                          compactEvery: Int = Snapshots.DefaultCompactEvery) {
    private val log = countLog(spark, dir, "hv", compactEvery)

    /** Observe one micro-batch: append its per-chunk distinct-doc counts
      * (batch-id token → replays are no-ops), compacting by additive
      * merge every `compactEvery` deltas. A batch whose documents are
      * all shorter than one span contributes no counts and appends
      * nothing. */
    def observe(batch: DataFrame, idCol: String, textCol: String,
                batchId: Long): Unit =
      log.add(Dedup.chunkCoords(batch, idCol, textCol, span)
        .groupBy("hv").agg(countDistinct(col("id")).as("nd")),
        s"b$batchId")

    /** RETRACT deleted documents' chunk contributions — the forget
      * cascade's boilerplate leg: a chunk whose every carrier was
      * deleted must stop being scrubbed from future documents (stale
      * counts would keep masking text that is no longer duplicated
      * anywhere in the surviving corpus). `deleted` is the deleted
      * documents' ORIGINAL rows (same text the accumulator counted);
      * their per-chunk counts fold in NEGATED under the deletion
      * event's replay token. Over-retraction fails loud at the next
      * [[dupChunks]] read. */
    def retract(deleted: DataFrame, idCol: String, textCol: String,
                token: String): Unit =
      log.add(Dedup.chunkCoords(deleted, idCol, textCol, span)
        .groupBy("hv").agg((-countDistinct(col("id"))).as("nd")), token)

    /** Chunk hashes currently at ≥ `minDocs` distinct documents. Fails
      * loud on a negative count (a retraction of documents never
      * observed). */
    def dupChunks(minDocs: Int): DataFrame = {
      require(minDocs >= 2, "minDocs must be >= 2")
      log.checkedTotals().filter(col("nd") >= minDocs).select("hv")
    }
  }

  /** Periodic re-scrub of a materialized corpus against the accumulated
    * dup set: [[Dedup.scrubWithDups]] with the store's verdicts — the
    * batch rewrite, minus the corpus-wide measurement aggregation. The
    * span is the STORE's span (a mismatched rewrite span would hash
    * different chunks than the accumulator counted).
    * Output: (idCol, clean_text, n_removed), one row per document. */
  def rescrub(docs: DataFrame, idCol: String, textCol: String,
              counts: ChunkCounts, minDocs: Int = 2): DataFrame =
    Dedup.scrubWithDups(docs, idCol, textCol, counts.dupChunks(minDocs),
      counts.span)

  /** [[ChunkCounts]]' CONTENT-DEFINED twin — the same incremental
    * measurement discipline over [[Dedup.cdcChunks]] identities, so the
    * accumulated dup set catches templated chrome that SHIFTS with its
    * page (the fixed grid only counts grid-aligned copies). Identical
    * additivity argument (a doc lives in one batch; per-batch distinct
    * counts per 62-bit chunk hash sum to the global count), identical
    * replay/compaction/retraction story. The chunking knobs are the
    * STORE's — a mismatched re-scrub would hash different chunks than
    * the accumulator counted. */
  final class CdcCounts(spark: SparkSession, dir: String,
                        val window: Int = 8, val maskBits: Int = 5,
                        compactEvery: Int = Snapshots.DefaultCompactEvery) {
    private val log = countLog(spark, dir, "h", compactEvery)

    def observe(batch: DataFrame, idCol: String, textCol: String,
                batchId: Long): Unit =
      log.add(Dedup.cdcChunks(batch, idCol, textCol, window, maskBits)
        .groupBy("h").agg(countDistinct(col(idCol)).as("nd")),
        s"b$batchId")

    /** The forget cascade's leg (the [[ChunkCounts.retract]]
      * contract): deleted carriers' chunk contributions fold in
      * negated under the event's replay token. */
    def retract(deleted: DataFrame, idCol: String, textCol: String,
                token: String): Unit =
      log.add(Dedup.cdcChunks(deleted, idCol, textCol, window, maskBits)
        .groupBy("h").agg((-countDistinct(col(idCol))).as("nd")), token)

    /** Chunk hashes currently at ≥ `minDocs` distinct documents; loud
      * on a negative count (over-retraction). */
    def dupChunks(minDocs: Int): DataFrame = {
      require(minDocs >= 2, "minDocs must be >= 2")
      log.checkedTotals().filter(col("nd") >= minDocs).select("h")
    }
  }

  /** Periodic CDC re-scrub against the accumulated dup set —
    * [[rescrub]]'s content-defined twin via
    * [[Dedup.scrubCdcWithDups]]. */
  def rescrubCdc(docs: DataFrame, idCol: String, textCol: String,
                 counts: CdcCounts, minDocs: Int = 2): DataFrame =
    Dedup.scrubCdcWithDups(docs, idCol, textCol,
      counts.dupChunks(minDocs), counts.window, counts.maskBits)
}
