package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipeline.DataCard
import graft.store.{CountLog, Snapshots}

/** The DATA CARD for a LIVE corpus — [[DataCard.build]]'s streaming
  * twin: every batch of SHIPPED rows (the curation funnel's output)
  * folds into crash-safe additive state, and `card()` emits the
  * cumulative release card ON DEMAND without ever re-scanning the
  * corpus. A deployment curating continuously gets the artifact the
  * batch card is FOR — "what have we shipped so far" — at O(batch)
  * cost per batch.
  *
  * Every additive field is computed by the SAME expressions as the
  * batch card (one aggregate per batch: TokenStats tokens, char
  * lengths, the q101 URL expressions, the q95 PII counts, lang/source
  * distributions), so the equivalence is exact and spec-pinned: after
  * N batches, the additive card fields ≡ [[DataCard.build]] over the
  * union of the shipped batches — n_docs, tokens, chars, lang/source
  * mixes, PII incidence, URL stats, and the token-count quantiles
  * (exact, via the [[StreamValueHist]] histogram merge — the q118
  * arithmetic over additive state).
  *
  * The DEDUP fields are the documented stream-vs-batch divergence: the
  * shipped corpus is already deduplicated by the funnel's claim stores,
  * so `exactDupGroups` is 0 by construction and the pair-driven
  * near-dup numbers (`nearDupClusters`/`nearDupDocs`/`dupChunkDocs`)
  * are reported as 0 rather than re-mined from state the stream never
  * kept — run the batch card over the materialized corpus when those
  * forensic numbers are needed. The optional classifier section is
  * batch-only for the same reason (a frozen artifact scan, not
  * additive state).
  *
  * Cross-batch state: one (metric, value) counter store + one value
  * histogram, both [[CountLog]]s with BATCH-ID TOKENED deltas —
  * a crash-replayed batch folds NOTHING twice (the funnel's replay
  * contract extends to its telemetry), and reopening the card from the
  * same state dir resumes the counts (spec-pinned). Media-funnel
  * per-batch reports ([[StreamMediaCuration.BatchReport]]) fold into
  * the card's media section the same way; the text funnel's
  * ([[StreamCuration.BatchReport]]) per-batch `n_bpe_unk` folds into
  * the tokenizer drift total, and the batch's own `n_bpe_tokens`
  * column (shipped by the funnel's bpeTokenizer knob) is summed by
  * [[observe]] when present.
  *
  * Scale shape: per batch, one map-side-combined aggregate plus two
  * bounded groupBys (langs, sources) — O(batch) work, O(distinct
  * metrics + distinct token counts) state; `card()` reads counter
  * tables, never the corpus. */
final class StreamDataCard(spark: SparkSession, root: String,
                           compactEvery: Int = Snapshots.DefaultCompactEvery) {

  private val counters = new CountLog(spark, s"$root/counters",
    StructType(Seq(
      StructField("metric", StringType, nullable = false),
      StructField("value", LongType, nullable = false))), "metric",
    compactEvery)
  private val lenHist = new StreamValueHist(spark, s"$root/lenhist",
    compactEvery)

  def init(): Unit = { counters.init(); lenHist.init() }

  /** Fold one delta of (metric, value) pairs under `token`. */
  private def fold(metrics: Seq[(String, Long)], token: String): Unit = {
    import spark.implicits._
    counters.add(metrics.toDF("metric", "value"), token)
  }

  /** The merged (metric, value) totals across base + deltas;
    * fully-retracted metrics (value 0) leave the table, so a lang or
    * source whose every document was deleted vanishes from the card the
    * way it is absent from a batch card over the survivors. */
  def totals(): DataFrame = counters.totals()

  /** The batch card's exact additive metrics for one batch — shared by
    * [[observe]] (positive fold) and [[retract]] (negated fold). */
  private def batchMetrics(batch: DataFrame, textCol: String,
                           langCol: String,
                           sourceCol: String): Seq[(String, Long)] = {
    val t = col(textCol)
    val urls = size(coalesce(
      regexp_extract_all(t, lit(graft.operators.Urls.UrlRe), lit(0)),
      array().cast("array<string>")))
    val hasBpe = batch.columns.contains("n_bpe_tokens") &&
      batch.columns.contains("n_bpe_unk")
    val scaleCols = Seq(
      count(lit(1)).as("n_docs"),
      coalesce(sum(graft.functions.TokenStats(t)
        .getField("n_tokens").cast("long")), lit(0L)).as("n_tokens"),
      coalesce(sum(length(t).cast("long")), lit(0L)).as("n_chars"),
      coalesce(sum((urls > 0).cast("long")), lit(0L)).as("url_docs"),
      coalesce(sum(urls.cast("long")), lit(0L)).as("n_urls")) ++
      (if (hasBpe) Seq(
        coalesce(sum(col("n_bpe_tokens").cast("long")), lit(0L))
          .as("tokenizer.n_bpe_tokens"),
        coalesce(sum(col("n_bpe_unk").cast("long")), lit(0L))
          .as("tokenizer.n_unk_pieces"))
      else Seq.empty)
    val scale = batch.agg(scaleCols.head, scaleCols.tail: _*).head()
    val scalars = scaleCols.indices.map { i =>
      (Seq("n_docs", "n_tokens", "n_chars", "url_docs", "n_urls",
        "tokenizer.n_bpe_tokens", "tokenizer.n_unk_pieces")(i),
        scale.getLong(i))
    }
    val pii = graft.operators.Redact.piiSourceStats(
      batch.select(col(sourceCol), t), sourceCol, textCol)
      .agg(coalesce(sum(col("n_pii_docs")), lit(0L))).head().getLong(0)
    val langs = batch.groupBy(col(langCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => s"lang_docs.${r.getString(0)}" -> r.getLong(1))
    val sources = batch.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => s"source_docs.${r.getString(0)}" -> r.getLong(1))
    scalars ++ Seq("pii_docs" -> pii) ++ langs ++ sources
  }

  private def tokenCounts(batch: DataFrame, textCol: String): DataFrame =
    batch.select(graft.functions.TokenStats(col(textCol))
      .getField("n_tokens").cast("long").as("_ntok"))

  /** Observe one batch of SHIPPED rows: one aggregate with the batch
    * card's exact expressions + the two distribution groupBys + the
    * token-count histogram. When the batch carries the funnel's
    * `n_bpe_tokens`/`n_bpe_unk` columns, the tokenizer drift totals
    * ride the same fold. Replays are no-ops via the batch-id token. */
  def observe(batch: DataFrame, batchId: Long,
              textCol: String = "text", langCol: String = "lang",
              sourceCol: String = "source"): Unit = {
    fold(batchMetrics(batch, textCol, langCol, sourceCol), s"b$batchId")
    lenHist.observe(tokenCounts(batch, textCol), "_ntok", batchId)
  }

  /** RETRACT deleted documents from the cumulative card — the forget
    * cascade's telemetry leg: after a deletion event (DMCA, robots,
    * recrawl tombstones), the release card must describe the SURVIVING
    * corpus. `deleted` is the deleted documents' ORIGINAL shipped rows
    * (read from the materialized corpus before removing them — the
    * same rows [[observe]] folded, including `n_bpe_tokens`/`n_bpe_unk`
    * when the funnel shipped them); every additive metric folds in
    * negated, and the token-count histogram subtracts exactly.
    * `eventId` is the deletion event's replay token — a crash-replayed
    * retraction folds nothing twice. Retracting rows that were never
    * observed fails loud at the next [[card]] (negative scalar) or
    * quantile read (negative histogram count). The funnel/media
    * throughput counters (`funnel.*`, `media.*`) are deliberately NOT
    * retracted: they record what the funnel PROCESSED, not what ships
    * now. */
  def retract(deleted: DataFrame, eventId: Long,
              textCol: String = "text", langCol: String = "lang",
              sourceCol: String = "source"): Unit = {
    fold(batchMetrics(deleted, textCol, langCol, sourceCol)
      .map { case (k, v) => (k, -v) }, s"r$eventId")
    lenHist.retract(tokenCounts(deleted, textCol), "_ntok", s"r$eventId")
  }

  /** Fold one media-funnel batch report into the cumulative media
    * section (counts additive; stage counts of -1 — a sink that did
    * not compute them — contribute nothing). */
  def observeMedia(r: StreamMediaCuration.BatchReport): Unit =
    fold(Seq(
      "media.n_input" -> math.max(r.nBatch, 0L),
      "media.n_after_size" -> math.max(r.nAfterSize, 0L),
      "media.n_after_exact" -> math.max(r.nAfterExact, 0L),
      "media.n_after_image_dedup" -> math.max(r.nAfterImageDedup, 0L),
      "media.n_after_video_dedup" -> math.max(r.nAfterVideoDedup, 0L),
      "media.n_after_audio_dedup" -> math.max(r.nAfterAudioDedup, 0L),
      "media.n_out" -> math.max(r.nOut, 0L)), s"m${r.batchId}")

  /** Fold one text-funnel batch report: cumulative per-stage totals
    * (readable via [[totals]] as `funnel.*`) plus the tokenizer unk
    * drift. */
  def observeFunnel(r: StreamCuration.BatchReport): Unit =
    fold(Seq(
      "funnel.n_batch" -> math.max(r.nBatch, 0L),
      "funnel.n_after_quality" -> math.max(r.nAfterQuality, 0L),
      "funnel.n_after_exact" -> math.max(r.nAfterExact, 0L),
      "funnel.n_after_near_dup" -> math.max(r.nAfterNearDup, 0L),
      "funnel.n_after_decontam" -> math.max(r.nAfterDecontam, 0L),
      "funnel.n_out" -> math.max(r.nOut, 0L)), s"f${r.batchId}")

  /** The cumulative card, on demand. `tokenizerShape` supplies the
    * frozen artifact's (nMerges, vocabSize) when the deployment encodes
    * (the observed token/unk totals come from the folded state); the
    * media section appears iff media reports were folded. */
  def card(tokenizerShape: Option[(Long, Long)] = None): DataCard.Card = {
    val rows = totals().collect().toSeq
    counters.requireNonNegative(rows)
    val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    def g(k: String): Long = m.getOrElse(k, 0L)
    val quantiles =
      if (g("n_docs") == 0L) Map.empty[Int, Long]
      else lenHist.quantiles(Seq(10, 25, 50, 75, 90, 99))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val media =
      if (m.keys.exists(_.startsWith("media."))) Some(DataCard.MediaSection(
        nInput = g("media.n_input"), nAfterSize = g("media.n_after_size"),
        nAfterExact = g("media.n_after_exact"),
        nAfterImageDedup = g("media.n_after_image_dedup"),
        nAfterAudioDedup = g("media.n_after_audio_dedup"),
        nOut = g("media.n_out"),
        nAfterVideoDedup = g("media.n_after_video_dedup")))
      else None
    val tokenizer = tokenizerShape.map { case (nm, vs) =>
      DataCard.TokenizerSection(nMerges = nm, vocabSize = vs,
        nBpeTokens = g("tokenizer.n_bpe_tokens"),
        nUnkPieces = g("tokenizer.n_unk_pieces"))
    }
    DataCard.Card(
      nDocs = g("n_docs"), nTokens = g("n_tokens"), nChars = g("n_chars"),
      langDocs = m.collect {
        case (k, v) if k.startsWith("lang_docs.") =>
          k.stripPrefix("lang_docs.") -> v
      },
      sourceDocs = m.collect {
        case (k, v) if k.startsWith("source_docs.") =>
          k.stripPrefix("source_docs.") -> v
      },
      piiDocs = g("pii_docs"),
      piiRateMilli =
        if (g("n_docs") == 0L) 0L else g("pii_docs") * 1000 / g("n_docs"),
      // the shipped corpus is deduped by construction — see class doc
      exactDupGroups = 0L, nearDupClusters = 0L, nearDupDocs = 0L,
      dupChunkDocs = 0L,
      urlDocs = g("url_docs"),
      linkDensityMilli =
        if (g("n_tokens") == 0L) 0L
        else g("n_urls") * 1000 / g("n_tokens"),
      tokenQuantiles = quantiles,
      media = media, tokenizer = tokenizer)
  }
}
