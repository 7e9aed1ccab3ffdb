package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, Dedup, Mixing, Packing, Redact}

/** The end-to-end training-data curation pipeline, composed from the
  * operator library — the workflow a pretraining data team runs over a
  * raw crawl before a training job:
  *
  *   0. drop null-text rows (they can be neither scored nor packed —
  *      counted as `nInput - nAfterQuality` alongside the quality drops,
  *      applied explicitly so three-valued logic never hides them)
  *   0b. URL gate        — OPTIONAL, first of the drop stages
  *                         ([[graft.operators.Urls]]): domain-blocklist
  *                         hits (`urlBlocklist`) and link-farm densities
  *                         (`maxLinkDensityMilli`) reject with map-only
  *                         in-scan predicates before any token-level
  *                         quality work is spent
  *   1. quality filter   — drop repetitive documents
  *                         ([[graft.functions.RepetitionStats
  *                         .repetitiveFlag]], the same oracle-pinned
  *                         predicate as q59); then — when
  *                         `classifierWeights` is set — the hashed
  *                         linear classifier gate
  *                         ([[graft.operators.Classify.qualityGate]],
  *                         the q107 fastText-shaped model): a FROZEN
  *                         integer weight artifact scored as one
  *                         in-scan fold, placed before the LM filter
  *                         because it needs no training pass; then —
  *                         when `lmRefFilter` is set — the
  *                         LM-likelihood drop
  *                         ([[graft.operators.LmQuality.score]], the
  *                         q77 CCNet-style filter): documents scoring
  *                         below `lmMinAvgPpm` under the bigram model
  *                         trained on the reference slice are dropped;
  *                         documents with no bigram to score survive
  *                         (nothing to judge them by)
  *   1b. PII redaction   — OPTIONAL ([[graft.operators.Redact
  *                         .redactText]], the q90 patterns, map-only),
  *                         before dedup so redacted copies dedup
  *                         together
  *   2. exact dedup      — keep one copy per normalized text
  *                         ([[Dedup.exactGroups]], keep-lowest-id)
  *   2b. boilerplate     — OPTIONAL cross-document dup-span scrub
  *                         ([[Dedup.scrubDupSpans]], the q89 rewrite;
  *                         fully-boilerplate documents drop; documents
  *                         losing a chunk are token-rebuilt with single
  *                         spaces, untouched documents stay
  *                         byte-identical) and/or the LINE-frequency
  *                         scrub ([[Dedup.scrubFreqLines]], the q116
  *                         rewrite, `boilerplateLineReps`) for
  *                         nav/footer chrome that repeats as whole
  *                         lines. After
  *                         exact dedup so identical copies cannot
  *                         boilerplate-ize each other; before near-dup
  *                         so shared boilerplate stops inflating
  *                         MinHash similarity
  *   3. near-dup dedup   — MinHash+LSH pairs, greedy keep-lowest-id
  *                         ([[Dedup.minhashPairs]])
  *   4. decontamination  — drop documents overlapping the eval set
  *                         ([[Decontaminate.clean]])
  *   4b. domain cap      — OPTIONAL host-level crowding control
  *                         ([[graft.operators.Urls.perDomainCap]], the
  *                         q106 semantics): ≤ `domainCap` docs per
  *                         registered domain, content-addressed
  *                         survivors, no-URL docs exempt. AFTER dedup
  *                         and decontamination so the cap budget counts
  *                         only documents that will actually ship;
  *                         BEFORE mixing because the cap is a crowding
  *                         control and the mixer should sample the
  *                         already-decrowded pool
  *   5. mixing           — per-source static rates ([[Mixing.rateMix]]),
  *                         temperature/DSIR budgets, or the explicit
  *                         recipe ([[Mixing.mixturePlanDocs]], the
  *                         water-filling plan) — precedence
  *                         recipe > dsir > temperature > rates
  *   6. packing          — fixed-token-budget packs per source
  *                         ([[Packing.packByBudget]])
  *
  * Every stage is the library operator, unchanged — this object only
  * composes (and is itself spec-covered for composition: schema flow,
  * determinism, monotone survivor counts). Scale properties are the
  * stages' own: in-scan signatures, banded candidate generation, broadcast
  * eval sets, map-side mixing, shard-parallel packing.
  *
  * Greedy keep-lowest-id for near-dups (drop every `id_b` of a pair) is
  * the simple transitive-safe policy: it can over-drop relative to
  * connected-component canonicalization ([[graft.operators.Components]])
  * but never keeps two documents that were flagged as a pair.
  * `nearDupQualityCol` switches the stage to [[Dedup.keepCanonical]] —
  * exactly one survivor per near-dup cluster, chosen by quality — when
  * copies differ in extraction quality and the components pass is worth
  * its cost.
  *
  * Every stage is materialized eagerly (`localCheckpoint`) and counted —
  * each count then reads its own materialization instead of replaying
  * the whole upstream lineage, and the caller's action on the returned
  * frame starts from the last checkpoint.
  */
object Curation {

  /** Per-stage survivor counts — the curation funnel audit.
    * `nAfterBoilerplate` (the stage between exact dedup and near-dup)
    * is -1 unless the optional boilerplate-scrub stage ran; likewise
    * `nAfterUrlGate` for the optional URL gate. PII redaction has no
    * count of its own (it rewrites, never drops). */
  final case class Report(nInput: Long, nAfterQuality: Long,
                          nAfterExact: Long, nAfterNearDup: Long,
                          nAfterDecontam: Long, nAfterMix: Long,
                          nPacks: Long, nAfterBoilerplate: Long = -1L,
                          nAfterUrlGate: Long = -1L,
                          nAfterClassifier: Long = -1L,
                          nAfterDomainCap: Long = -1L)

  /** Run the full funnel. Returns the curated corpus with `n_tokens` and
    * `pack_id` appended, plus the per-stage report. Fails at call time if
    * the input already carries either output column. */
  def curate(docs: DataFrame, evalDocs: DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             sourceCol: String = "source",
             urlBlocklist: Seq[String] = Seq.empty,
             maxLinkDensityMilli: Option[Int] = None,
             repetitionTopBigramMilli: Int = 100,
             repetitionDupTrigramMilli: Int = 20,
             lmRefFilter: Option[org.apache.spark.sql.Column] = None,
             lmMinAvgPpm: Long = 1000L,
             classifierWeights: Option[IndexedSeq[Long]] = None,
             classifierMinPerFeatPpm: Long = 0L,
             classifierNgram: Int = 1,
             piiRedact: Boolean = false,
             boilerplateSpan: Option[Int] = None,
             boilerplateLineReps: Option[Int] = None,
             nearDupThresholdMilli: Int = 800,
             nearDupQualityCol: Option[String] = None,
             decontamMinShared: Int = 2,
             domainCap: Option[Int] = None,
             mixRatesMilli: Map[String, Int] = Map.empty,
             mixDefaultMilli: Int = 1000,
             decontamBloomFpp: Option[Double] = None,
             decontamScrubSpans: Option[Int] = None,
             decontamWinnowShared: Option[Int] = None,
             decontamWinnowScrub: Option[Int] = None,
             temperatureBudget: Option[Long] = None,
             dsirTarget: Option[DataFrame] = None,
             dsirBudget: Long = 0L,
             dsirMaxW: Double = 1000.0,
             mixRecipe: Option[Map[String, Long]] = None,
             mixBudgetTokens: Long = 0L,
             mixMaxEpochs: Long = 1L,
             packBudget: Long = 2048,
             bpeMerges: Option[Seq[graft.operators.Bpe.Merge]] = None)
      : (DataFrame, Report) = {
    val outClash = docs.columns.filter(Seq("n_tokens", "pack_id").contains)
    require(outClash.isEmpty,
      s"input already has output column(s) ${outClash.mkString(", ")} — " +
        "rename them before curation")
    val spark = docs.sparkSession
    graft.functions.RepetitionStats.ensureRegistered(spark)
    graft.functions.TokenStats.ensureRegistered(spark)

    // stage boundary: materialize once so each count (and the next
    // stage) reads the checkpoint, not the full upstream lineage
    def stage(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def n(df: DataFrame): Long = df.count()
    // temp names that cannot shadow caller data (packByBudget's pattern)
    def fresh(base: String): String = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i")
      .find(c => !docs.columns.contains(c)).get
    val rsCol = fresh("_rs")
    val tokCol = fresh("_tok")

    // 0a. null-text drop (explicit) + the OPTIONAL URL GATE, first of
    // the drop stages on purpose — a domain-blocklist hit or a
    // link-farm density is the cheapest, highest-precision rejection in
    // a web pipeline (both are map-only in-scan predicates:
    // [[graft.operators.Urls.dropBlockedDomains]] /
    // [[graft.operators.Urls.linkDensityMilli]]), so it runs before any
    // token-level quality work is spent on documents it would discard.
    val urlGateOn = urlBlocklist.nonEmpty || maxLinkDensityMilli.isDefined
    val nonNull = docs.filter(col(textCol).isNotNull)
    val urlGated = {
      val afterBlock =
        if (urlBlocklist.nonEmpty)
          graft.operators.Urls.dropBlockedDomains(nonNull, idCol, textCol,
            urlBlocklist)
        else nonNull
      val afterDensity = maxLinkDensityMilli match {
        case Some(mx) => afterBlock.filter(
          graft.operators.Urls.linkDensityMilli(textCol) <= mx)
        case None => afterBlock
      }
      if (urlGateOn) stage(afterDensity) else afterDensity
    }

    // 0b+1. quality: Gopher repetition
    // predicate, then the optional LM-likelihood drop (q77 regime). The
    // model trains on the reference slice of the repetition-clean corpus
    // — training on documents the funnel already rejected would teach the
    // model the garbage it exists to catch. Documents with nothing to
    // score (< 2 tokens) survive: the anti-join only removes LOW scorers.
    val rs = graft.functions.RepetitionStats(col(textCol))
    val repClean = urlGated
      .withColumn(rsCol, rs)
      .filter(!graft.functions.RepetitionStats.repetitiveFlag(
        col(s"$rsCol.n_bigrams"), col(s"$rsCol.top_bigram_n"),
        col(s"$rsCol.n_trigrams"), col(s"$rsCol.n_distinct_trigrams"),
        repetitionTopBigramMilli, repetitionDupTrigramMilli))
      .drop(rsCol)
    // 1a'. OPTIONAL hashed-classifier gate (q107 regime): a FROZEN
    // integer weight artifact, one in-scan fold per document — placed
    // before the LM filter because it costs no training pass here (the
    // artifact trained offline, [[graft.operators.Classify
    // .evidenceWeights]] or any external linear model), and the
    // cheaper model should spend first.
    val clsGated = classifierWeights match {
      case Some(w) => stage(graft.operators.Classify.qualityGate(
        repClean, idCol, textCol, w, classifierMinPerFeatPpm,
        classifierNgram))
      case None => repClean
    }
    val quality = stage(lmRefFilter match {
      case Some(pred) =>
        val low = graft.operators.LmQuality.score(clsGated, pred, idCol, textCol)
          .filter(col("n_bigrams") > 0 && col("avg_p_ppm") < lmMinAvgPpm)
          .select(col(idCol))
        clsGated.join(low, Seq(idCol), "left_anti")
      case None => clsGated
    })

    // 1b. OPTIONAL PII redaction, between quality and dedup — so that
    // redacted copies dedup together (two documents differing only in
    // their PII ARE duplicates after the rewrite). Map-only, drops
    // nothing, no count of its own.
    val redacted =
      if (piiRedact) Redact.redactText(quality, textCol) else quality

    // 2. exact dedup: keep the canonical (lowest) id of each text group
    val canon = Dedup.exactGroups(redacted, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    val exactDeduped = stage(redacted.join(canon, Seq(idCol), "left_semi"))

    // 2b. OPTIONAL cross-document boilerplate scrub ([[Dedup
    // .scrubDupSpans]]) — AFTER exact dedup, deliberately: scrubbing
    // first would let two identical documents declare each other's every
    // chunk "cross-document boilerplate" and both collapse to nothing;
    // with duplicates already folded to one copy, a repeated chunk means
    // genuinely shared boilerplate across distinct documents. Before
    // near-dup, also deliberately: shared boilerplate inflates MinHash
    // similarity between unrelated documents, so stripping it first
    // makes the near-dup verdicts about the actual content.
    // Fully-boilerplate documents (everything removed, no tail) drop,
    // same rationale as the decontamination scrub's empty-text gate. The
    // verdict frame carries only (id, text), so the join-back to the
    // full rows is one id-keyed exchange.
    // Two scrub granularities compose in one stage: the token-window span
    // scrub, then — `boilerplateLineReps` — the LINE-frequency scrub
    // ([[Dedup.scrubFreqLines]], the q116 rewrite): a trimmed line
    // occurring ≥ reps times corpus-wide is nav/footer chrome and dies
    // EVERYWHERE. Line scrub runs second so chrome the span scrub already
    // consumed costs nothing, with the same empty-survivor drop gate.
    val boilerplateOn = boilerplateSpan.isDefined || boilerplateLineReps.isDefined
    def scrubStage(in: DataFrame,
                   verdict: DataFrame => DataFrame): DataFrame = {
      val scr = verdict(in)
        .filter(!(col("clean_text") === "" && col("n_removed") > 0))
        .select(col(idCol), col("clean_text").as(textCol))
      in.drop(textCol).join(scr, Seq(idCol))
    }
    val afterSpan = boilerplateSpan match {
      case Some(sp) => scrubStage(exactDeduped,
        Dedup.scrubDupSpans(_, idCol, textCol, span = sp))
      case None => exactDeduped
    }
    val afterLines = boilerplateLineReps match {
      case Some(reps) => scrubStage(afterSpan,
        Dedup.scrubFreqLines(_, idCol, textCol, minReps = reps))
      case None => afterSpan
    }
    val exact = if (boilerplateOn) stage(afterLines) else afterLines

    // 3. near-dup: by default drop the higher id of every LSH-verified
    // pair (greedy — cheaper than clustering, never keeps a flagged
    // pair). With `nearDupQualityCol`, canonicalize through the component
    // map instead ([[Dedup.keepCanonical]]): one survivor per near-dup
    // CLUSTER, chosen by quality — what a production dedup keeps when
    // copies differ in extraction quality, at the price of the
    // connected-components pass.
    val pairs = Dedup.minhashPairs(exact, idCol, textCol,
      thresholdMilli = nearDupThresholdMilli)
    val nearDup = stage(nearDupQualityCol match {
      case Some(q) =>
        val kept = Dedup.keepCanonical(exact, idCol, q, pairs)
          .filter(col("kept")).select(col(idCol))
        exact.join(kept, Seq(idCol), "left_semi")
      case None =>
        val dropB = pairs.select(col("id_b").as(idCol)).distinct()
        exact.join(dropB, Seq(idCol), "left_anti")
    })

    // 4. decontamination against the eval corpus. Three regimes:
    //  - default: the broadcast-join document DROP ([[Decontaminate.clean]])
    //  - `decontamBloomFpp`: same drop via the Bloom-gated probe
    //    ([[Decontaminate.flaggedBloom]] — eval set too big to broadcast,
    //    gram sketch gates the corpus in-scan; output identical, the exact
    //    join scrubs the sketch's false positives)
    //  - `decontamScrubSpans = Some(L)`: SCRUB instead of drop
    //    ([[Decontaminate.scrubSpans]], RefinedWeb masking) — contaminated
    //    L-token runs are masked out and the document survives UNLESS the
    //    scrub consumed it entirely (kept == 0): a fully-contaminated
    //    document would flow on as an empty-text row that still counts
    //    one (empty) token downstream — junk in mixing and packing — so
    //    it drops here, exactly like the drop regimes would have dropped
    //    it. Audit columns are dropped after the gate (packing recomputes
    //    token counts on the scrubbed text). Scrub wins if combined with
    //    the others — it subsumes the drop decision.
    //  - `decontamWinnowShared = Some(m)`: drop via the WINNOW probe
    //    ([[graft.operators.Winnow.flaggedOverlap]]) — ~2/(w+1) of the
    //    shingle probe's join volume with the ≥ w+k−1-run detection
    //    floor; a RECALL/COST trade vs the exact-shingle regimes (a
    //    shared run shorter than the guarantee can be missed), which is
    //    why it is an explicit knob, never the default.
    //  - `decontamWinnowScrub = Some(m)`: REWRITE via the winnow probe
    //    ([[graft.operators.Winnow.scrubMatchedSpans]]) — the masking
    //    policy at the winnow tier's join volume: matched spans are
    //    scrubbed out, the document survives unless fully consumed
    //    (same kept-==-0 drop as the shingle scrub), untouched
    //    documents pass byte-identical. Winnow's detection floor
    //    applies to WHAT gets masked, so this is the cheapest rewrite
    //    regime, not the most complete one.
    //    Precedence: scrub > winnow-scrub > winnow-drop > bloom >
    //    broadcast (rewrite beats drop at equal evidence; exact-window
    //    evidence beats winnow evidence).
    val decontam = stage(decontamScrubSpans match {
      case Some(l) =>
        Decontaminate.scrubSpans(nearDup, evalDocs, idCol, textCol,
            minTokens = l)
          .filter(col("removed_tokens") < col("n_tokens"))
          .drop("n_tokens", "removed_tokens", "n_spans")
      case None => decontamWinnowScrub match {
        case Some(m) =>
          graft.operators.Winnow.scrubMatchedSpans(nearDup, evalDocs,
              idCol, textCol, minShared = m)
            .filter(col("removed_tokens") < col("n_tokens"))
            .drop("n_tokens", "removed_tokens", "n_spans")
        case None => decontamWinnowShared match {
          case Some(m) => nearDup.join(
            graft.operators.Winnow.flaggedOverlap(nearDup, evalDocs, idCol,
              textCol, minShared = m).select(col(idCol)),
            Seq(idCol), "left_anti")
          case None => decontamBloomFpp match {
            case Some(fpp) => nearDup.join(
              Decontaminate.flaggedBloom(nearDup, evalDocs, idCol, textCol,
                minShared = decontamMinShared, fpp = fpp),
              Seq(idCol), "left_anti")
            case None => Decontaminate.clean(nearDup, evalDocs, idCol,
              textCol, minShared = decontamMinShared)
          }
        }
      }
    })

    // 4b. OPTIONAL per-domain cap (q106 semantics) over the
    // decontaminated pool: the cap budget should count only documents
    // that will actually ship, and the mixer below should sample the
    // already-decrowded pool. Ids-only semi-join — the selection table
    // carries no text.
    val capped = domainCap match {
      case Some(cp) =>
        val keep = graft.operators.Urls.perDomainCap(decontam, idCol,
          textCol, cp).select(col(idCol))
        stage(decontam.join(keep, Seq(idCol), "left_semi"))
      case None => decontam
    }

    // 5. mixing: static per-source rates; the n^(1/2) temperature
    // rebalance when `temperatureBudget` is set; DSIR-WEIGHTED sampling
    // when `dsirTarget` is set; or — strongest — the EXPLICIT RECIPE
    // ([[Mixing.mixturePlanDocs]]) when `mixRecipe` is set: the
    // published per-source proportion table honored against the pool's
    // actual token availability under `mixBudgetTokens`, saturated
    // sources' shares water-filled to the rest (and `mixMaxEpochs`
    // letting scarce sources saturate past one pass — the gate keeps
    // those sources whole; emit repetition downstream with
    // [[Mixing.mixtureEpochsDocs]] if the run wants the copies
    // materialized). Precedence recipe > dsir > temperature > rates
    // (explicit human intent beats a content-aware budget beats a
    // per-source heuristic beats a fixed table); every sampler runs
    // over the DECONTAMINATED pool (score clean data, then sample).
    val mixIsNoop = mixRecipe.isEmpty && dsirTarget.isEmpty &&
      temperatureBudget.isEmpty &&
      mixRatesMilli.isEmpty && mixDefaultMilli == 1000
    val mixed = mixRecipe match {
      case Some(recipe) =>
        require(mixBudgetTokens >= 1, "mixRecipe needs mixBudgetTokens >= 1")
        stage(Mixing.mixturePlanDocs(capped, idCol, sourceCol, textCol,
          recipe, mixBudgetTokens, mixMaxEpochs))
      case None => dsirTarget match {
      case Some(tgt) =>
        require(dsirBudget >= 1, "dsirTarget needs dsirBudget >= 1")
        val clash = docs.columns
          .filter(Seq("n_feat", "weight_r", "rate_ppm").contains)
        require(clash.isEmpty,
          s"input already has DSIR audit column(s) ${clash.mkString(", ")}" +
            " — rename them before curation")
        stage(Mixing.dsirRateMix(capped, idCol, textCol, tgt, textCol,
          dsirBudget, maxW = dsirMaxW)
          .drop("n_feat", "weight_r", "rate_ppm"))
      case None => temperatureBudget match {
        case Some(b) => stage(Mixing.temperatureMixDocs(capped, idCol,
          sourceCol, b))
        case None if mixIsNoop => capped
        case None => stage(Mixing.rateMix(capped, idCol, sourceCol,
          mixRatesMilli, mixDefaultMilli))
      }
      }
    }

    // 6. packing: token budget per source shard. With `bpeMerges` the
    // budget is denominated in EXACT BPE piece counts under the trained
    // merge table (q127's denomination — the unit a training run
    // actually consumes per sequence) instead of whitespace tokens:
    // counts compute in-scan with the broadcast rank map
    // ([[graft.operators.Bpe.pieceCounts]]) and join back by id — an
    // ids-only exchange over the post-funnel survivors, never text.
    // LEFT join + coalesce-to-0: pieceCounts emits no row for NULL-text
    // input, and the funnel must not silently DROP such a row here when
    // the whitespace path would keep it (null text normally dies at
    // stage 1, but callers can disable stages)
    val weighted = bpeMerges match {
      case Some(ms) =>
        mixed.join(graft.operators.Bpe.pieceCounts(mixed, idCol, textCol, ms)
          .select(col(idCol), col("n_pieces").as(tokCol)), Seq(idCol), "left")
          .withColumn(tokCol, coalesce(col(tokCol), lit(0L)))
      case None => mixed.withColumn(tokCol,
        graft.functions.TokenStats(col(textCol)).getField("n_tokens")
          .cast("long"))
    }
    val packed = Packing.packByBudget(weighted, idCol, tokCol,
      Seq(sourceCol), packBudget)
      .withColumnRenamed(tokCol, "n_tokens")

    val nDecontam = n(decontam)
    val nCapped = if (domainCap.isDefined) n(capped) else nDecontam
    val report = Report(
      nInput = n(docs), nAfterQuality = n(quality),
      nAfterExact = n(exactDeduped),
      nAfterNearDup = n(nearDup), nAfterDecontam = nDecontam,
      nAfterMix = if (mixIsNoop) nCapped else n(mixed),
      nPacks = packed.select(sourceCol, "pack_id").distinct().count(),
      nAfterBoilerplate = if (boilerplateOn) n(exact) else -1L,
      nAfterUrlGate = if (urlGateOn) n(urlGated) else -1L,
      nAfterClassifier =
        if (classifierWeights.isDefined) n(clsGated) else -1L,
      nAfterDomainCap = if (domainCap.isDefined) nCapped else -1L)
    (packed, report)
  }
}
