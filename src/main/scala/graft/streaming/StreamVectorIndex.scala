package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.VectorIndex
import graft.store.Snapshots

/** Standing ANN (IVF) index maintenance under continuous ingestion — the
  * [[StreamRetrieval]] `foreachBatch` composition applied to the
  * cell-partitioned [[VectorIndex]]: batch operators run unchanged per
  * micro-batch, every durability property is the store's.
  *
  * Lifecycle mirrors the BM25 maintainer: bootstrap ONCE with
  * [[VectorIndex.writeIndex]] (or `writeIndexWith` + trained centroids)
  * over the seed corpus — the quantizer sidecar freezes there; appends
  * assign against it, so index and probe can never disagree — then hand
  * the maintainer to `foreachBatch`:
  *
  * {{{
  * VectorIndex.writeIndex(seedCorpus, "vec_id", "embedding", dir)
  * val maintain = StreamVectorIndex.indexMaintainer(spark, dir,
  *   "vec_id", "embedding", compactEvery = 16)
  * newVectors.writeStream.foreachBatch(maintain).start()
  * // concurrent/periodic readers:
  * VectorIndex.topKIndexed(spark, dir, queryVec, k = 10, nprobe = 2)
  * }}}
  *
  * Replay semantics: identical to [[StreamRetrieval]]'s — the `b-<batchId>`
  * delta token (and the consumed-tokens ledger across compactions) makes a
  * crash-replayed micro-batch a no-op, so the index never double-counts a
  * vector; compaction cadence follows the OUTSTANDING delta count, which
  * replays cannot advance. Spec-pinned incl. replay-after-compaction
  * (`VectorIndexSpec`).
  *
  * Deletions (recrawl tombstones): [[VectorIndex.deleteIndex]] — one
  * filtered replace, probe parity with a rebuild from the survivors.
  */
object StreamVectorIndex {

  /** The `foreachBatch` binder: append the micro-batch as one tokened
    * cell-partitioned delta; fold the delta log whenever `compactEvery`
    * deltas are outstanding. Empty micro-batches are skipped — nothing
    * to append, and skipping burns no token. */
  def indexMaintainer(spark: SparkSession, dir: String, idCol: String,
                      vecCol: String,
                      compactEvery: Int = Snapshots.DefaultCompactEvery)
      : (DataFrame, Long) => Unit = {
    Snapshots.requireCompactEvery(compactEvery)
    (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        VectorIndex.appendIndex(batch, idCol, vecCol, dir, batchId)
        if (VectorIndex.indexDeltaCount(spark, dir) >= compactEvery)
          VectorIndex.compactIndex(spark, dir)
      }
    }
  }
}
