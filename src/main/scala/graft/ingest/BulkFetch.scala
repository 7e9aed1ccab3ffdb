package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.Item

/** S2/S3: distributed bulk fetch. The reference's thread pool
  * (`get_items`, hnarchive.py:133-154) becomes Spark task parallelism:
  * `spark.range` over the id interval, split into the requested fetch
  * parallelism as contiguous ascending id slices, `mapPartitions` doing
  * the per-id fetch, then the JSON→relational normalization (F8/P8/P9)
  * and tombstone drop (P6/T3) — the id list never materializes on the
  * driver (contrast SURVEY.md E4). Slicing needs no shuffle, and each
  * partition comes out sorted by id with the partitions' id ranges
  * disjoint: the id-clustered layout [[graft.store.ItemStore]] writes
  * without a shuffle of its own.
  * Fail-fast: an exception in any partition fails the job, matching the
  * reference's re-raise on the consumer thread (hnarchive.py:145-146).
  */
object BulkFetch {

  /** Fetch ids [lower, upper] with `parallelism` concurrent tasks and
    * return normalized item rows. */
  def fetchItems(spark: SparkSession, fetcher: Fetcher,
                 lower: Long, upper: Long, parallelism: Int,
                 retrievedAt: Long): DataFrame = {
    import spark.implicits._
    val raw = spark.range(lower, upper + 1, 1, parallelism)
      .mapPartitions { ids => ids.map(id => (id, fetcher.fetch(id).orNull)) }
      .toDF("id", "body")
    Item.normalize(raw, lit(retrievedAt))
  }
}
