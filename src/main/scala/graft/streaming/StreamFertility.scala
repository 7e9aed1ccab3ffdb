package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.store.Snapshots

/** TOKENIZER FERTILITY under continuous ingestion — the streaming twin
  * of [[graft.operators.Bpe.fertility]] / q142 (and
  * [[graft.operators.Unigram.fertility]] / q148): per-group additive
  * counters (docs, words, pieces, chars) folded per micro-batch into
  * the crash-atomic [[Snapshots]] store, served as the exact q142
  * report of EVERYTHING shipped so far. This is the monitor that makes
  * the retrain signal OPERATIONAL: a language slice drifting toward
  * the byte-fallback fertility ceiling shows up batch by batch, not at
  * the next full-corpus audit. [[graft.pipeline.Retrain.plan]] is the
  * report's consumer — it names the proportional response per group
  * (none / [[graft.operators.Unigram.warmStart]] / cold retrain).
  *
  * TOKENIZER-AGNOSTIC by the same seam the batch tier uses: the caller
  * supplies the per-document `(idCol, n_words, n_pieces)` frame
  * ([[graft.operators.Bpe.pieceCounts]] or
  * [[graft.operators.Unigram.pieceCounts]] over the batch — in-scan,
  * broadcast-model segmentation), so the accumulator never bakes in a
  * family. Exactness is structural (the [[StreamValueHist]] argument):
  * a row belongs to exactly one batch, the counters are additive, so
  * the report over any batch slicing equals the batch operator over
  * the union bit for bit — integer fertility arithmetic included
  * (spec-pinned).
  *
  * Replays fold nothing twice (batch-id-tokened deltas); [[retract]]
  * is the deletion cascade's telemetry leg — exact negative deltas, a
  * report over the survivors afterward, negative totals fail loud
  * (the [[StreamDataCard]] discipline). NULL-text rows are absent,
  * the batch contract. */
final class StreamFertility(spark: SparkSession, root: String,
                            compactEvery: Int = 16) {

  private val schema = StructType(Seq(
    StructField("grp", StringType, nullable = false),
    StructField("n_docs", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_pieces", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))
  private val store = new Snapshots(spark, root, schema,
    compactEvery = compactEvery)

  def init(): Unit = store.init()

  /** One batch's per-group counter rows, sign ±1 (observe/retract). */
  private def rows(batch: DataFrame, idCol: String, textCol: String,
                   groupCol: String, counts: DataFrame,
                   sign: Long): DataFrame =
    batch.filter(col(textCol).isNotNull)
      .select(col(idCol), col(groupCol).cast("string").as("grp"),
        length(col(textCol)).cast("long").as("_sf_chars"))
      .join(counts, Seq(idCol))
      .groupBy(col("grp"))
      .agg((count(lit(1)) * sign).as("n_docs"),
        (sum(col("n_words")) * sign).as("n_words"),
        (sum(col("n_pieces")) * sign).as("n_pieces"),
        (sum(col("_sf_chars")) * sign).as("n_chars"))
      .localCheckpoint(true)

  /** Fold one shipped batch. `counts` is the batch's per-document
    * `(idCol, n_words, n_pieces)` under the FROZEN tokenizer. Replays
    * (same `batchId`) fold nothing twice. */
  def observe(batch: DataFrame, idCol: String, textCol: String,
              groupCol: String, counts: DataFrame, batchId: Long): Unit = {
    store.commit(rows(batch, idCol, textCol, groupCol, counts, 1L),
      Some(s"b$batchId"), totals())
  }

  /** The deletion cascade's telemetry leg: subtract the DELETED
    * documents' original rows (same shape the card leg reads — the
    * rows `observe` folded, re-counted under the same frozen
    * tokenizer). `token` is the deletion event's replay token. */
  def retract(deletedRows: DataFrame, idCol: String, textCol: String,
              groupCol: String, counts: DataFrame, token: String): Unit = {
    store.commit(rows(deletedRows, idCol, textCol, groupCol, counts, -1L),
      Some(token), totals())
  }

  /** Merged per-group totals; fully-retracted groups leave. */
  def totals(): DataFrame =
    store.read().groupBy("grp")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("n_chars")).as("n_chars"))
      .filter(col("n_docs") =!= 0 || col("n_words") =!= 0 ||
        col("n_pieces") =!= 0 || col("n_chars") =!= 0)

  /** The q142 report over everything shipped minus everything
    * retracted — exact integer fertility arithmetic, loud on negative
    * totals (a retraction exceeded what was observed). */
  def report(): DataFrame = {
    val t = totals().localCheckpoint(true)
    val neg = t.filter(col("n_docs") < 0 || col("n_words") < 0 ||
      col("n_pieces") < 0 || col("n_chars") < 0).head(1)
    require(neg.isEmpty,
      s"fertility store at $root holds a negative total " +
        s"(${neg.headOption.getOrElse("")}) — a retraction exceeded " +
        "what was observed")
    t.withColumn("pieces_per_kchar",
        expr("n_pieces * 1000L div n_chars"))
      .withColumn("pieces_per_word_milli",
        expr("n_pieces * 1000L div n_words"))
  }
}
