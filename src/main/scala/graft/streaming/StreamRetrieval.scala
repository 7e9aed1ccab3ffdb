package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Retrieval
import graft.store.Snapshots

/** Standing BM25 index maintenance under continuous ingestion — the
  * [[StreamDecontam]] `foreachBatch` composition applied to the
  * crash-atomic Snapshots-backed index ([[Retrieval.bm25WriteIndex]]
  * family): the batch operators run unchanged per micro-batch, and every
  * durability property is the store's, not the stream's.
  *
  * Lifecycle: bootstrap the index ONCE with [[Retrieval.bm25WriteIndex]]
  * over the initial corpus (the append path reads the bucket count from
  * the base), then hand the maintainer to `foreachBatch`:
  *
  * {{{
  * Retrieval.bm25WriteIndex(seedCorpus, "doc_id", "text", dir)
  * val maintain = StreamRetrieval.indexMaintainer(spark, dir,
  *   "doc_id", "text", compactEvery = 16)
  * newDocs.writeStream.foreachBatch(maintain).start()
  * // concurrent/periodic readers:
  * Retrieval.bm25TopKIndexed(spark, dir, evalQueries, "doc_id", "text")
  * }}}
  *
  * Replay semantics (the exactly-once-ish contract): a crash-replayed
  * micro-batch re-invokes the maintainer with the SAME batchId;
  * [[Retrieval.bm25AppendIndex]]'s manifest token (`b-<batchId>`) — and,
  * across a compaction that already folded the delta away, the
  * consumed-tokens ledger — make the re-append a no-op, so the index
  * never double-counts (spec-pinned incl. a crash planted mid-compaction).
  * Compaction cadence is driven by the OUTSTANDING delta count, not the
  * batchId: replays append nothing, so they can neither re-trigger nor
  * starve the fold, and a crash that kills a running compaction just
  * leaves the deltas for the next cadence hit (its half-written snapshot
  * is invisible behind the pointer-commit and swept by `init()`).
  *
  * Scale shape: per batch, O(batch) postings/df/meta delta rows — the
  * base index is never rewritten outside compaction, which is bounded by
  * O(index) and amortized to O(index / compactEvery) per batch, exactly
  * the [[IncrementalDedup]] delta-log economics.
  *
  * Deletions (recrawl tombstones): [[Retrieval.bm25DeleteIndex]] — an
  * administrative O(index) rewrite that leaves the index exactly as if
  * the documents had never been indexed (df and idf included).
  */
object StreamRetrieval {

  /** The `foreachBatch` binder: append the micro-batch's postings as
    * tokened deltas, fold the delta log back into the base whenever
    * `compactEvery` deltas are outstanding. Empty micro-batches (a
    * routine stream occurrence) are skipped entirely — nothing to
    * append, and skipping burns no token (there is nothing a replay
    * could double-count). */
  def indexMaintainer(spark: SparkSession, dir: String, idCol: String,
                      textCol: String,
                      compactEvery: Int = Snapshots.DefaultCompactEvery)
      : (DataFrame, Long) => Unit = {
    Snapshots.requireCompactEvery(compactEvery)
    (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        Retrieval.bm25AppendIndex(batch, idCol, textCol, dir, batchId)
        if (Retrieval.bm25IndexDeltaCount(spark, dir) >= compactEvery)
          Retrieval.bm25CompactIndex(spark, dir)
      }
    }
  }
}
