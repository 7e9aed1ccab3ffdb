package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup, Redact}

/** The DATA CARD — the quantitative half of a dataset release note,
  * composed from the operator library's own audited statistics: scale
  * (documents / tokens / chars), composition (language and source
  * distributions), hygiene (PII incidence, exact-duplicate groups,
  * near-duplicate clusters, cross-document duplicate-span mass, and
  * link hygiene: URL-bearing docs + corpus link density). Every
  * number is the SAME statistic the corresponding oracle-checked query
  * computes (q20 tokens, q23 langs, q95 PII, q21 exact groups, q41
  * clusters, q62 span mass, q101 link stats, q108 classifier quality
  * — optional, against a frozen weight artifact), so the card cannot
  * drift from the engine's verified semantics — the spec pins each
  * field against its component operator on the fixture.
  *
  * Scale shape: scalars and the distributions come from a handful of
  * map-side-combined aggregates over in-scan expressions; the near-dup
  * cluster count is the one genuinely pair-driven number (LSH
  * candidates only, the [[Dedup.minhashPairs]] economics). Everything
  * returned is driver-small by construction — a card is a report, not a
  * relation.
  */
object DataCard {

  /** MEDIA section — [[MediaCuration.Report]]'s per-stage counts carried
    * verbatim (each field IS the audited funnel stage's count), plus the
    * survivor rate in integer milli. A multimodal release card without
    * the byte-column funnel's numbers is incomplete. */
  final case class MediaSection(
      nInput: Long, nAfterSize: Long, nAfterExact: Long,
      nAfterImageDedup: Long, nAfterAudioDedup: Long, nOut: Long,
      nAfterVideoDedup: Long = -1L) {
    def keepRateMilli: Long = if (nInput <= 0) 0L else nOut * 1000 / nInput
  }

  /** TOKENIZER section — the frozen artifact's shape
    * ([[graft.operators.Bpe.saveTokenizer]]'s tables: merge count, vocab
    * size) plus the drift telemetry OBSERVED when encoding this corpus
    * under it ([[graft.operators.Bpe.encode]]'s n_unk / n_tokens sums):
    * a release note must say which tokenizer the token counts are
    * denominated in and whether any text fell outside its vocabulary. */
  final case class TokenizerSection(
      nMerges: Long, vocabSize: Long, nBpeTokens: Long, nUnkPieces: Long)

  final case class Card(
      nDocs: Long, nTokens: Long, nChars: Long,
      langDocs: Map[String, Long], sourceDocs: Map[String, Long],
      piiDocs: Long, piiRateMilli: Long,
      exactDupGroups: Long, nearDupClusters: Long, nearDupDocs: Long,
      dupChunkDocs: Long, urlDocs: Long = 0L, linkDensityMilli: Long = 0L,
      qualityPosMilli: Long = -1L,
      sourceQualityMilli: Map[String, Long] = Map.empty,
      tokenQuantiles: Map[Int, Long] = Map.empty,
      media: Option[MediaSection] = None,
      tokenizer: Option[TokenizerSection] = None)

  /** Attach the media funnel's numbers — the report is already the
    * audited statistic, so the card carries it field for field. */
  def withMedia(card: Card, report: MediaCuration.Report): Card =
    card.copy(media = Some(MediaSection(
      nInput = report.nInput, nAfterSize = report.nAfterSize,
      nAfterExact = report.nAfterExact,
      nAfterImageDedup = report.nAfterImageDedup,
      nAfterAudioDedup = report.nAfterAudioDedup, nOut = report.nOut,
      nAfterVideoDedup = report.nAfterVideoDedup)))

  /** Compute and attach the tokenizer section: artifact shape from the
    * merge/vocab tables themselves, observed totals from ONE
    * [[graft.operators.Bpe.encode]] aggregate over the corpus (in-scan,
    * two longs shuffle). */
  def withTokenizer(card: Card, docs: DataFrame, idCol: String,
                    textCol: String,
                    merges: Seq[graft.operators.Bpe.Merge],
                    vocab: Seq[String],
                    byteFallback: Boolean = false,
                    preTok: graft.operators.Bpe.PreTok =
                      graft.operators.Bpe.PreTok.Whitespace): Card = {
    val enc = graft.operators.Bpe.encode(docs, idCol, textCol, merges,
      vocab, byteFallback = byteFallback, preTok = preTok)
      .agg(coalesce(sum(col("n_tokens")), lit(0L)),
        coalesce(sum(col("n_unk")), lit(0L))).head()
    card.copy(tokenizer = Some(TokenizerSection(
      nMerges = merges.size.toLong, vocabSize = vocab.size.toLong,
      nBpeTokens = enc.getLong(0), nUnkPieces = enc.getLong(1))))
  }

  /** The UNIGRAM family's tokenizer section — same card fields, same
    * drift semantics ([[diff]]'s unkRatePpmDelta works across releases
    * unchanged): `nMerges` carries the LEARNED-UNIT count (multi-symbol
    * pieces beyond the coverage alphabet — the unigram analogue of a
    * merge count), token/unk totals from one
    * [[graft.operators.Unigram.encode]] aggregate. A release note
    * comparing cards across FAMILIES is comparing apples to oranges by
    * construction — the section says which artifact denominates the
    * counts, exactly the field's purpose. */
  def withUnigramTokenizer(card: Card, docs: DataFrame, idCol: String,
                           textCol: String,
                           model: graft.operators.Unigram.Model,
                           byteFallback: Boolean = false): Card = {
    val enc = graft.operators.Unigram
      .encode(docs, idCol, textCol, model, byteFallback = byteFallback)
      .agg(coalesce(sum(col("n_tokens")), lit(0L)),
        coalesce(sum(col("n_unk")), lit(0L))).head()
    val singles = model.pieces
      .count(p => graft.operators.Unigram.symLen(p) == 1)
    card.copy(tokenizer = Some(TokenizerSection(
      nMerges = (model.pieces.length - singles).toLong,
      vocabSize = model.vocab(byteFallback).size.toLong,
      nBpeTokens = enc.getLong(0), nUnkPieces = enc.getLong(1))))
  }

  /** Build the card. `thresholdMilli` is the near-dup bar (q41's
    * convention); `span`/`minDocs` the duplicate-span knobs (q62's). */
  def build(docs: DataFrame, idCol: String, textCol: String,
            langCol: String, sourceCol: String,
            thresholdMilli: Int = 800, span: Int = 8,
            minDocs: Int = 2,
            classifierWeights: Option[IndexedSeq[Long]] = None,
            classifierNgram: Int = 1): Card = {
    // checkpoint ONLY the columns the card reads — a bare
    // docs.localCheckpoint would materialize every caller column
    // (corpus-sized payload for fields the card never touches)
    val base = docs.select(col(idCol), col(textCol), col(langCol),
      col(sourceCol)).localCheckpoint(true)
    val scale = base.agg(
      count(lit(1)).as("n_docs"),
      // coalesce: an empty (or all-null-text) corpus sums to NULL and a
      // card over it should read 0, not NPE
      coalesce(sum(graft.functions.TokenStats(col(textCol))
        .getField("n_tokens").cast("long")), lit(0L)).as("n_tokens"),
      coalesce(sum(length(col(textCol)).cast("long")), lit(0L))
        .as("n_chars"),
      // link hygiene rides the SAME scan (q101's expressions): docs
      // carrying at least one URL, and the total URL count for the
      // corpus-level density
      // Column API like the Urls operators (never raw expr
      // interpolation of a column name — backtick-needing names must
      // work and a name parameter is not an SQL surface)
      coalesce(sum((size(coalesce(
        regexp_extract_all(col(textCol),
          lit(graft.operators.Urls.UrlRe), lit(0)),
        array().cast("array<string>"))) > 0).cast("long")), lit(0L))
        .as("url_docs"),
      coalesce(sum(size(coalesce(
        regexp_extract_all(col(textCol),
          lit(graft.operators.Urls.UrlRe), lit(0)),
        array().cast("array<string>"))).cast("long")), lit(0L))
        .as("n_urls")).head()
    val langDocs = base.groupBy(col(langCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sourceDocs = base.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // coalesce like the scale aggregate above: an empty corpus yields zero
    // per-source rows, so the sums come back NULL and the card should read
    // 0, not NPE
    val pii = Redact.piiSourceStats(base, sourceCol, textCol)
      .agg(coalesce(sum(col("n_pii_docs")), lit(0L)),
        coalesce(sum(col("n_docs")), lit(0L))).head()
    val piiDocs = pii.getLong(0)
    val exactDupGroups = Dedup.exactGroups(base, idCol, textCol)
      .filter(col("n_copies") > 1).count()
    val pairs = Dedup.minhashPairs(base, idCol, textCol, thresholdMilli)
      .localCheckpoint(true)
    val comp = Components.of(pairs, "id_a", "id_b")
    val nearDupDocs = comp.count()
    val nearDupClusters = comp.select("component").distinct().count()
    val dupChunkDocs = Dedup.spanDupStats(base, idCol, textCol, span,
      minDocs).count()
    // OPTIONAL quality section — q108's per-source rollup
    // ([[graft.operators.Classify.sourceReport]]) against a FROZEN
    // weight artifact, folded to integer-milli positive rates among the
    // SCOREABLE docs (feature-free docs are a length-gate concern, not
    // a model verdict — excluding them keeps the rate about the model)
    val quality = classifierWeights.map { w =>
      val rep = graft.operators.Classify.sourceReport(base, idCol,
        textCol, sourceCol, w, classifierNgram).collect()
      val nScored = rep.map(_.getLong(2)).sum
      val nPos = rep.map(_.getLong(3)).sum
      val corpusMilli = if (nScored == 0) 0L else nPos * 1000 / nScored
      val perSource = rep.map { r =>
        r.getString(0) ->
          (if (r.getLong(2) == 0) 0L else r.getLong(3) * 1000 / r.getLong(2))
      }.toMap
      (corpusMilli, perSource)
    }
    // length-distribution section (q118's derivation): exact token-count
    // quantiles at histogram cost — the groupBy is bounded by distinct
    // token counts, so this rides as one more bounded aggregation
    val tokenQuantiles =
      if (scale.getLong(0) == 0) Map.empty[Int, Long]
      else graft.operators.Sketches.exactQuantiles(
        base.select(graft.functions.TokenStats(col(textCol))
          .getField("n_tokens").cast("long").as("_ntok")),
        "_ntok", Seq(10, 25, 50, 75, 90, 99))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Card(
      nDocs = scale.getLong(0), nTokens = scale.getLong(1),
      nChars = scale.getLong(2),
      langDocs = langDocs, sourceDocs = sourceDocs,
      piiDocs = piiDocs,
      piiRateMilli =
        if (scale.getLong(0) == 0) 0L else piiDocs * 1000 / scale.getLong(0),
      exactDupGroups = exactDupGroups,
      nearDupClusters = nearDupClusters, nearDupDocs = nearDupDocs,
      dupChunkDocs = dupChunkDocs,
      urlDocs = scale.getLong(3),
      linkDensityMilli =
        if (scale.getLong(1) == 0) 0L
        else scale.getLong(4) * 1000 / scale.getLong(1),
      qualityPosMilli = quality.map(_._1).getOrElse(-1L),
      sourceQualityMilli = quality.map(_._2).getOrElse(Map.empty),
      tokenQuantiles = tokenQuantiles)
  }

  /** Release-over-release card DIFF — the drift section of a dataset
    * changelog, computed from two cards' own numbers (driver-side pure
    * arithmetic, no corpus re-scan): scalar deltas, plus the lang- and
    * source-mix total-variation drift in exact integer ppm
    * ([[graft.operators.Drift]]'s floor-division discipline applied to
    * the cards' distribution maps). For content-level drift (vocab /
    * embedding space) run the [[graft.operators.Drift]] operators over
    * the corpora themselves — the card diff is the cheap first gate. */
  final case class CardDiff(
      docsDelta: Long, tokensDelta: Long,
      langTvPpm: Long, sourceTvPpm: Long,
      piiRateDeltaMilli: Long, linkDensityDeltaMilli: Long = 0L,
      qualityPosDeltaMilli: Long = 0L, medianTokensDelta: Long = 0L,
      // media/tokenizer drift — 0 when either card lacks the section
      // (same both-releases convention as the quality delta)
      mediaKeepRateDeltaMilli: Long = 0L,
      unkRatePpmDelta: Long = 0L)

  def diff(a: Card, b: Card): CardDiff = {
    def tvPpm(ma: Map[String, Long], na: Long,
              mb: Map[String, Long], nb: Long): Long =
      if (na == 0 || nb == 0) 1000000L
      else (ma.keySet ++ mb.keySet).toSeq.map { k =>
        math.abs(ma.getOrElse(k, 0L) * 1000000L / na -
          mb.getOrElse(k, 0L) * 1000000L / nb)
      }.sum / 2
    CardDiff(
      docsDelta = b.nDocs - a.nDocs,
      tokensDelta = b.nTokens - a.nTokens,
      langTvPpm = tvPpm(a.langDocs, a.nDocs, b.langDocs, b.nDocs),
      sourceTvPpm = tvPpm(a.sourceDocs, a.nDocs, b.sourceDocs, b.nDocs),
      piiRateDeltaMilli = b.piiRateMilli - a.piiRateMilli,
      linkDensityDeltaMilli = b.linkDensityMilli - a.linkDensityMilli,
      // only meaningful when BOTH releases carried the quality section
      // (same artifact assumed — comparing rates across different
      // weight tables is the caller's judgment call)
      qualityPosDeltaMilli =
        if (a.qualityPosMilli >= 0 && b.qualityPosMilli >= 0)
          b.qualityPosMilli - a.qualityPosMilli
        else 0L,
      // length-distribution shift: the median token count's move between
      // releases (0 when either card predates the section)
      medianTokensDelta =
        (a.tokenQuantiles.get(50), b.tokenQuantiles.get(50)) match {
          case (Some(x), Some(y)) => y - x
          case _ => 0L
        },
      // media funnel drift: the survivor rate's move between releases —
      // a crawl whose duplicate mass shifted shows up here before
      // anything downstream does
      mediaKeepRateDeltaMilli = (a.media, b.media) match {
        case (Some(x), Some(y)) => y.keepRateMilli - x.keepRateMilli
        case _ => 0L
      },
      // tokenizer drift: observed out-of-vocabulary pieces per million
      // BPE tokens — a rising rate means the frozen tokenizer is aging
      // against the corpus (only meaningful when both releases encoded
      // under a tokenizer; comparing different artifacts is the
      // caller's judgment call, same as the quality delta)
      unkRatePpmDelta = (a.tokenizer, b.tokenizer) match {
        case (Some(x), Some(y)) =>
          def ppm(t: TokenizerSection): Long =
            if (t.nBpeTokens <= 0) 0L else t.nUnkPieces * 1000000L / t.nBpeTokens
          ppm(y) - ppm(x)
        case _ => 0L
      })
  }

  /** The card as a tall (metric, value) frame for sinks/rendering —
    * distributions flatten as `lang_docs.<k>` / `source_docs.<k>`. */
  def toDF(spark: org.apache.spark.sql.SparkSession, card: Card): DataFrame = {
    import spark.implicits._
    val rows = Seq(
      "n_docs" -> card.nDocs, "n_tokens" -> card.nTokens,
      "n_chars" -> card.nChars, "pii_docs" -> card.piiDocs,
      "pii_rate_milli" -> card.piiRateMilli,
      "exact_dup_groups" -> card.exactDupGroups,
      "near_dup_clusters" -> card.nearDupClusters,
      "near_dup_docs" -> card.nearDupDocs,
      "dup_chunk_docs" -> card.dupChunkDocs,
      "url_docs" -> card.urlDocs,
      "link_density_milli" -> card.linkDensityMilli) ++
      (if (card.qualityPosMilli >= 0)
        Seq("quality_pos_milli" -> card.qualityPosMilli) else Seq.empty) ++
      card.langDocs.toSeq.sortBy(_._1).map { case (k, v) => s"lang_docs.$k" -> v } ++
      card.sourceDocs.toSeq.sortBy(_._1).map { case (k, v) => s"source_docs.$k" -> v } ++
      card.sourceQualityMilli.toSeq.sortBy(_._1)
        .map { case (k, v) => s"source_quality_milli.$k" -> v } ++
      card.tokenQuantiles.toSeq.sortBy(_._1)
        .map { case (p, v) => s"token_quantiles.p$p" -> v } ++
      card.media.toSeq.flatMap { m =>
        Seq("media.n_input" -> m.nInput, "media.n_after_size" -> m.nAfterSize,
          "media.n_after_exact" -> m.nAfterExact,
          "media.n_after_image_dedup" -> m.nAfterImageDedup,
          "media.n_after_video_dedup" -> m.nAfterVideoDedup,
          "media.n_after_audio_dedup" -> m.nAfterAudioDedup,
          "media.n_out" -> m.nOut,
          "media.keep_rate_milli" -> m.keepRateMilli)
      } ++
      card.tokenizer.toSeq.flatMap { t =>
        Seq("tokenizer.n_merges" -> t.nMerges,
          "tokenizer.vocab_size" -> t.vocabSize,
          "tokenizer.n_bpe_tokens" -> t.nBpeTokens,
          "tokenizer.n_unk_pieces" -> t.nUnkPieces)
      }
    rows.toDF("metric", "value")
  }
}
