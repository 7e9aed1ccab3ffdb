package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.schema.Item
import graft.store.Snapshots

/** End-to-end streaming sessionization: the live item feed
  * ([[graft.sources.ItemsStream]]) → JSON normalization ([[Item.normalize]])
  * → per-author session windows ([[EventJobs.itemSessions]]) → an O(batch)
  * delta-log session store ([[Snapshots.appendDelta]]) — the loop that
  * connects the reference's livestream source (SURVEY.md S5/T1,
  * hnarchive.py:162-195) to the event-analytics operators.
  *
  * Exactly-once: append mode emits each finalized session exactly once
  * (when the watermark passes its close), and the sink names each delta by
  * the micro-batch epoch id, so a replayed epoch (crash between sink write
  * and engine checkpoint) is a no-op — the Snapshots manifest is the
  * transaction log. At scale every piece is O(batch): the source reads one
  * id interval, the session state is bounded by the watermark, and the
  * sink never rewrites the accumulated session history.
  */
object SessionPipeline {

  val sessionSchema: StructType = StructType(Seq(
    StructField("author", StringType),
    StructField("session_start", LongType),
    StructField("session_end", LongType),
    StructField("n_items", LongType)))

  /** Open (or create) the session store this pipeline appends to. */
  def store(spark: SparkSession, root: String): Snapshots = {
    val s = new Snapshots(spark, root, sessionSchema)
    s.init()
    s
  }

  /** Start the stream. `retrieved` is injected for determinism (F3), like
    * every ingestion path. Compaction folds the delta log every
    * `compactEvery` non-empty epochs. */
  def start(spark: SparkSession, fetcherSpec: String, startId: Long,
            storeRoot: String, checkpointDir: String,
            gap: String = "30 minutes", retrieved: Long = 0L,
            compactEvery: Int = 64): StreamingQuery = {
    val snaps = new Snapshots(spark, storeRoot, sessionSchema,
      compactEvery = compactEvery)
    snaps.init()
    val raw = spark.readStream.format("graft.sources.ItemsStream")
      .option("start", startId.toString)
      .option("fetcher", fetcherSpec)
      .load()
    val sessions = EventJobs.itemSessions(Item.normalize(raw, lit(retrieved)))
    sessions.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        snaps.commit(batch.select(
          col("author"), col("session_start"), col("session_end"),
          col("n_items")), Some(s"epoch-$epoch"))
      }
      .start()
  }
}
