package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.{Fetcher, Livestream}
import graft.schema.Item
import graft.store.ItemStore

/** E2 `livestream` wiring (SURVEY.md E2): livestream source → normalize →
  * idempotent upsert sink, committing every `commitPeriod` items — the
  * reference's `insert_items(livestream(), commit_period)` loop
  * (hnarchive.py:517-522) recast as micro-batches. Offset bootstrap is
  * `store.latestId() + 1` (T1), matching `select_latest_id() or 1`
  * (hnarchive.py:164); each batch-merge is atomic (S8/T6 — the snapshot
  * swap is the transaction).
  *
  * Scale: on the id-clustered [[ItemStore]] every commit is an append
  * above the max id, so it rewrites only the store's open tail (O(tail)
  * I/O, the base untouched, no shuffle) and the offset bootstrap reads
  * the parquet footers, with no Spark job.
  */
object LivestreamRunner {

  /** Drain `maxItems` items in `commitPeriod`-sized merges. Returns the
    * number of items merged. Deterministic under a scripted fetcher (the
    * `sleep` is injected; production passes Thread.sleep). */
  def run(spark: SparkSession, store: ItemStore, fetcher: Fetcher,
          maxItems: Int, commitPeriod: Int = 200,
          sleep: Long => Unit = Thread.sleep,
          now: () => Long = () => System.currentTimeMillis() / 1000): Long = {
    import spark.implicits._
    store.init()
    val start = store.latestId().map(_ + 1).getOrElse(1L)
    val ls = new Livestream(fetcher, start, sleep)
    var merged = 0L
    while (merged < maxItems) {
      val n = math.min(commitPeriod, maxItems - merged.toInt)
      val batch = ls.nextBatch(n)
      val raw = batch.toDF("id", "body")
      store.merge(Item.normalize(raw, lit(now())))
      merged += n
    }
    merged
  }
}
