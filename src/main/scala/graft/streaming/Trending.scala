package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.schema.Item
import graft.store.Snapshots

/** Streaming trending-key analytics: the live item feed
  * ([[graft.sources.ItemsStream]]) → normalized items →
  * watermark-finalized tumbling-window per-key counts
  * ([[EventJobs.windowedKeyCounts]]) → top-k keys per window → an
  * O(batch) delta-store append.
  *
  * Scale shape: the streaming state is the windowed count aggregation
  * (bounded by watermark × key cardinality); each micro-batch delivers
  * only FINALIZED windows (append mode), so the sink's top-k sorts a
  * per-window group of the (tiny) finalized batch — |windows closed this
  * epoch| × |keys|, never the stream history — and the store write is
  * one delta directory per epoch ([[Snapshots.appendDelta]] with the
  * epoch id as the idempotency token, replay-safe across compaction via
  * the consumed-tokens ledger).
  */
object Trending {

  val trendSchema: StructType = StructType(Seq(
    StructField("window_start", LongType),
    StructField("window_end", LongType),
    StructField("rank", LongType),
    StructField("key", StringType),
    StructField("n", LongType)))

  /** Open (or create) the trend store this pipeline appends to. */
  def store(spark: SparkSession, root: String): Snapshots = {
    val s = new Snapshots(spark, root, trendSchema)
    s.init()
    s
  }

  /** Start the stream: top-`k` `keyCol` values per finalized
    * `windowDur` window, appended to the store once per epoch. */
  def start(spark: SparkSession, fetcherSpec: String, startId: Long,
            storeRoot: String, checkpointDir: String,
            keyCol: String = "author", windowDur: String = "10 minutes",
            k: Int = 3, retrieved: Long = 0L,
            compactEvery: Int = 64): StreamingQuery = {
    require(k >= 1, "k must be >= 1")
    val snaps = new Snapshots(spark, storeRoot, trendSchema,
      compactEvery = compactEvery)
    snaps.init()
    val raw = spark.readStream.format("graft.sources.ItemsStream")
      .option("start", startId.toString)
      .option("fetcher", fetcherSpec)
      .load()
    val counts = EventJobs.windowedKeyCounts(
      Item.normalize(raw, lit(retrieved)), keyCol, windowDur)
    counts.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        val sp = batch.sparkSession
        import sp.implicits._
        // finalized windows only: bounded top-k per window, count
        // descending with lexicographic key tie-break. The group
        // iterator folds through a k-bounded heap (worst entry at the
        // head, evicted on a strictly better candidate), so memory is
        // O(k) per window regardless of the window's key cardinality —
        // a high-cardinality key column must not buffer a whole
        // window's key set executor-side.
        val typed = batch
          .select(col("window_start"), col("window_end"), col("key"), col("n"))
          .as[(Long, Long, String, Long)]
        // ranking is (n desc, key asc); under this ordering the MAXIMAL
        // element is the WORST ranked one (smallest n, then largest
        // key), so a max-heap keeps the group's worst survivor at the
        // head where eviction can read it in O(1)
        val worstAtHead: Ordering[(String, Long)] =
          Ordering.by[(String, Long), Long](_._2).reverse
            .orElse(Ordering.by[(String, Long), String](_._1))
        val top = typed.groupByKey(r => (r._1, r._2))
          .flatMapGroups { (w: (Long, Long),
                            rows: Iterator[(Long, Long, String, Long)]) =>
            val heap =
              scala.collection.mutable.PriorityQueue.empty[(String, Long)](
                worstAtHead)
            rows.foreach { case (_, _, key, n) =>
              if (heap.size < k) heap.enqueue((key, n))
              else if (worstAtHead.lt((key, n), heap.head)) {
                heap.dequeue(); heap.enqueue((key, n))
              }
            }
            val bestFirst: Seq[(String, Long)] = heap.dequeueAll.reverse
            bestFirst.zipWithIndex.map { case ((key, n), i) =>
              (w._1, w._2, (i + 1).toLong, key, n)
            }
          }
          .toDF("window_start", "window_end", "rank", "key", "n")
        // an empty epoch (no window finalized) appends nothing
        snaps.commit(top, Some(s"epoch-$epoch"))
      }
      .start()
  }
}
