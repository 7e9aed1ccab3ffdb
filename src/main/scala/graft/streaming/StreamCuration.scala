package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.{Decontaminate, Dedup}
import graft.store.{ClaimLog, Snapshots}

/** The curation funnel under continuous ingestion — [[graft.pipeline
  * .Curation]]'s stages recomposed for `foreachBatch`, with the
  * cross-batch memory each stage needs living in the same crash-safe
  * stores the streaming dedup tier already uses:
  *
  *   0b. URL gate  — OPTIONAL blocklist + link-density rejection
  *                   ([[graft.operators.Urls]], stateless map-only —
  *                   the batch funnel's first drop stage, unchanged)
  *   1. quality    — the Gopher repetition predicate (stateless, the
  *                   oracle-pinned q59 expression, unchanged), plus the
  *                   OPTIONAL hashed-classifier gate
  *                   ([[graft.operators.Classify.qualityGate]]) against
  *                   a FROZEN integer weight artifact — the
  *                   [[StreamDsir]] frozen-book pattern: weights derive
  *                   once offline, every batch scores statelessly, so
  *                   the kept set is batch-slicing- and
  *                   arrival-order-invariant by construction
  *   1b. redact    — OPTIONAL PII redaction ([[graft.operators.Redact
  *                   .redactText]], stateless map-only rewrite) BEFORE
  *                   the dedup claims, so redacted copies claim the same
  *                   key. Cross-document SPAN boilerplate scrub
  *                   ([[graft.operators.Dedup.scrubDupSpans]]) is
  *                   deliberately NOT a streaming stage: a chunk becomes
  *                   boilerplate only after its Nth cross-document
  *                   sighting, but every earlier copy has already
  *                   shipped — the only coherent policy is a periodic
  *                   batch re-scrub of the materialized corpus, exactly
  *                   like packing below.
  *   2b. line scrub — OPTIONAL keep-first LINE dedup
  *                   ([[IncrementalLineDedup]], `lineScrub = true`):
  *                   unlike the frequency-threshold span policy, the
  *                   keep-first line policy IS streaming-compatible by
  *                   construction — the first copy of a line ships
  *                   intact and every later copy scrubs, so no shipped
  *                   document is ever retroactively wrong. After exact
  *                   claims (identical copies fold to one before their
  *                   lines can claim), before near-dup (scrubbed chrome
  *                   stops inflating MinHash similarity — the batch
  *                   funnel's stage-2b rationale). Fully-scrubbed
  *                   documents drop, the batch funnel's empty-survivor
  *                   gate.
  *   2. exact      — first-writer-wins claims on the 62-bit wide hash of
  *                   the normalized text (the corpus-global-identity
  *                   regime of the hash-width policy; a claims store in
  *                   the [[IncrementalDedup]] mold, O(batch) deltas)
  *   3. near-dup   — [[IncrementalDedup.filterAndClaim]], unchanged
  *   3b. embed     — OPTIONAL [[IncrementalEmbedDedup.filterAndClaim]]
  *                   when the stream carries an embedding column: SRP
  *                   band candidates with the exact-cosine verify
  *                   against the claimed representative, so a drop is
  *                   always certified by a real near-duplicate (never a
  *                   band collision). NULL-vector rows pass through —
  *                   the text stages already vetted them.
  *   4. decontam   — [[StreamDecontam.cleaner]]'s fold-once eval probe
  *   4b. domain cap — OPTIONAL host-level crowding control under
  *                   ingestion: a CLAIMS store of (domain, claimant id)
  *                   caps each registered domain at `domainCap` docs
  *                   across the whole stream. Within a batch the
  *                   survivors are content-addressed (the q106 hash
  *                   order); ACROSS batches the policy is necessarily
  *                   first-come (earlier batches' claims stand — a
  *                   later, smaller-hash arrival cannot evict a doc
  *                   that already shipped), the same earliest-seen
  *                   divergence-from-batch the dedup claims document.
  *                   Replayed claimants pass through and never
  *                   double-claim. No-URL docs are exempt (q106's
  *                   convention).
  *   5. mixing     — [[graft.operators.Mixing.rateMix]] (content-
  *                   addressed, so append-stable BY DESIGN: a document's
  *                   keep decision never changes as batches arrive)
  *
  * PACKING is deliberately not a stage here: pack membership depends on
  * every prior document's weight within a source, so packs built
  * mid-stream would be an accident of batch boundaries. Pack the
  * MATERIALIZED curated corpus ([[graft.operators.Packing]]) when a
  * training run is cut — that is also what the batch funnel's audit
  * semantics assume.
  *
  * Replay contract (crash between stores' commits and the sink write):
  * every stage is either stateless (1, 4, 5) or first-writer-wins with
  * the claimant id recorded (2, 3), so re-running a batch reproduces the
  * same kept rows and appends no second claim — the same idempotence
  * [[IncrementalDedup]] documents, now for the whole funnel
  * (spec-pinned). Cross-batch semantics intentionally differ from the
  * batch funnel's greedy near-dup drop in ONE way: claims collapse
  * duplicate CHAINS to the earliest-seen representative (the min-id
  * policy of offline cluster dedup), which is the only coherent policy
  * when later batches cannot drop documents that already shipped.
  */
object StreamCuration {

  /** Exact-dedup claims: one (wide-hash-of-normalized-text → claimant)
    * row per distinct surviving text. The 62-bit key is mandatory here —
    * this is corpus-global identity, where a 31-bit space manufactures
    * false "duplicates" (dropped legitimate documents) from ~50k distinct
    * texts; at 2⁻⁶²-per-pair the false-drop expectation stays below one
    * document out to ~2³¹ distinct texts (docs/SCALE.md policy). */
  private def exactLog(spark: SparkSession, dir: String,
                       compactEvery: Int = Snapshots.DefaultCompactEvery): ClaimLog =
    new ClaimLog(spark, dir, StructType(Seq(
      StructField("bkey", LongType, nullable = false),
      StructField("claimant", LongType, nullable = false))),
      compactEvery = compactEvery)

  /** Domain-cap claims: one (registered domain → claimant id) row per
    * document that has shipped under the cap — a claim is a slot, so the
    * whole row is its key. */
  private def capLog(spark: SparkSession, dir: String,
                     compactEvery: Int = Snapshots.DefaultCompactEvery): ClaimLog =
    new ClaimLog(spark, dir, StructType(Seq(
      StructField("domain", org.apache.spark.sql.types.StringType,
        nullable = false),
      StructField("claimant", LongType, nullable = false))),
      compactEvery = compactEvery, key = Seq("domain", "claimant"))

  /** Per-BATCH funnel counts — [[graft.pipeline.Curation.Report]]'s
    * streaming twin, emitted through the `onReport` callback when a
    * deployment opts into funnel observability. Optional stages that
    * are OFF report -1, exactly like the batch report. Monotone
    * non-increasing along the declared stage order (spec-pinned). */
  final case class BatchReport(batchId: Long, nBatch: Long,
                               nAfterUrlGate: Long, nAfterQuality: Long,
                               nAfterClassifier: Long, nAfterExact: Long,
                               nAfterNearDup: Long, nAfterDecontam: Long,
                               nAfterDomainCap: Long, nOut: Long,
                               nAfterLineScrub: Long = -1L,
                               nBpeUnk: Long = -1L)

  /** RETRACT deleted documents from every claim store under `stateDir`
    * ([[graft.store.ClaimLog]]'s retraction — the recrawl-deletion
    * event's entry point): exact-text claims, near-dup bands, verified
    * embed bands, line claims, and domain-cap slots held by any of
    * `ids` all clear, so future arrivals can claim them instead of
    * dropping against an identity that no longer ships. Only stores
    * that exist on disk are touched (optional stages may never have
    * been enabled) — but the ROOT must hold at least one recognized
    * store: every sub-store is individually optional, so a typo'd
    * `stateDir` would otherwise skip them all and return 0, and the
    * matching [[held]] audit would ALSO read 0 — a misconfigured
    * takedown auditing clean, the exact false-negative
    * [[graft.pipeline.Forget.verify]] exists to catch (the
    * [[IncrementalCdcDedup]]/[[StreamSplit]] fail-loud discipline,
    * lifted to the funnel-root level). Returns total claims removed
    * across stores. */
  def retract(spark: SparkSession, stateDir: String,
              ids: Seq[Long]): Long =
    requireFunnelRoot(spark, stateDir, "retract from").map(_.retract(ids)).sum

  /** Audit read for [[retract]]: claims still held by `ids` across every
    * store under `stateDir` — 0 after a completed retraction (the
    * takedown verification [[graft.pipeline.Forget.verify]] reads). */
  def held(spark: SparkSession, stateDir: String, ids: Seq[Long]): Long =
    requireFunnelRoot(spark, stateDir, "audit").map(_.held(ids)).sum

  /** The claim stores present under `stateDir`, failing loud when there
    * are none ([[ClaimLog.present]]). A real funnel root always
    * qualifies — [[curator]] bootstraps the mandatory exact store at
    * construction, before any batch runs. */
  private def requireFunnelRoot(spark: SparkSession, stateDir: String,
                                what: String): Seq[ClaimLog] =
    ClaimLog.present(stateDir, "claim store", what, Seq(
      "exact" -> (exactLog(spark, _)),
      "neardup" -> (new IncrementalDedup(spark, _)),
      "embdedup" -> (new IncrementalEmbedDedup(spark, _)),
      "linededup" -> (new IncrementalLineDedup(spark, _)),
      "domaincap" -> (capLog(spark, _))))

  /** The per-batch funnel transform, closed over the stores and the
    * fold-once eval materialization. Bootstrap `init()` happens here.
    * Use as `stream.writeStream.foreachBatch(curator(...)).start()`;
    * the binder RETURNS the curated batch for the caller's sink:
    * {{{
    * val curate = StreamCuration.curator(spark, evalDocs, stateDir)
    * raw.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    *   sink(curate(b, id))
    * }.start()
    * }}}
    */
  def curator(spark: SparkSession, evalDocs: DataFrame, stateDir: String,
              idCol: String = "doc_id", textCol: String = "text",
              repetitionTopBigramMilli: Int = 100,
              repetitionDupTrigramMilli: Int = 20,
              decontamMinShared: Int = 2,
              decontamWinnowShared: Option[Int] = None,
              decontamWinnowScrub: Option[Int] = None,
              mixRatesMilli: Map[String, Int] = Map.empty,
              mixDefaultMilli: Int = 1000,
              sourceCol: String = "source",
              compactEvery: Int = Snapshots.DefaultCompactEvery,
              vecCol: Option[String] = None,
              embedMinCos: Double = 0.9,
              piiRedact: Boolean = false,
              urlBlocklist: Seq[String] = Seq.empty,
              maxLinkDensityMilli: Option[Int] = None,
              classifierWeights: Option[IndexedSeq[Long]] = None,
              classifierMinPerFeatPpm: Long = 0L,
              classifierNgram: Int = 1,
              domainCap: Option[Int] = None,
              lineScrub: Boolean = false,
              lengthHist: Boolean = false,
              bpeTokenizer: Option[(Seq[graft.operators.Bpe.Merge],
                Seq[String])] = None,
              bpePreTok: graft.operators.Bpe.PreTok =
                graft.operators.Bpe.PreTok.Whitespace,
              unigramTokenizer: Option[graft.operators.Unigram.Model] = None,
              unigramSampleK: Int = 1,
              unigramSampleSalt: String = "e1",
              bpePackBudget: Option[Long] = None,
              onPackStreams: Option[(DataFrame, Long) => Unit] = None,
              onReport: Option[BatchReport => Unit] = None)
      : (DataFrame, Long) => DataFrame = {
    // ONE tokenizer family per funnel: the shipped token_ids column is
    // a single id space (the unigram model carries its own PreTok; the
    // output/report columns keep their historical bpe-prefixed names —
    // they denote "the frozen tokenizer", whichever family)
    require(bpeTokenizer.isEmpty || unigramTokenizer.isEmpty,
      "bpeTokenizer and unigramTokenizer are mutually exclusive")
    require(bpePackBudget.isEmpty ||
      bpeTokenizer.isDefined || unigramTokenizer.isDefined,
      "bpePackBudget requires a tokenizer (the ids being packed)")
    // subword regularization rides the unigram family only (Kudo 2018
    // §3 — the k-best lattice is a unigram construct); k = 1 IS the
    // argmax encode (spec-pinned), so the default changes nothing
    require(unigramSampleK >= 1,
      s"unigramSampleK must be >= 1, got $unigramSampleK")
    require(unigramSampleK == 1 || unigramTokenizer.isDefined,
      "unigramSampleK > 1 requires unigramTokenizer (sampled " +
        "segmentation is a unigram-lattice construct)")
    graft.functions.RepetitionStats.ensureRegistered(spark)
    graft.functions.WidePolyHash.ensureRegistered(spark)
    graft.functions.TokenStats.ensureRegistered(spark)
    val exactClaims = exactLog(spark, s"$stateDir/exact", compactEvery)
    exactClaims.init()
    val nearDup = new IncrementalDedup(spark, s"$stateDir/neardup",
      compactEvery)
    nearDup.init()
    val embedDedup = vecCol.map { _ =>
      val e = new IncrementalEmbedDedup(spark, s"$stateDir/embdedup",
        compactEvery, embedMinCos)
      e.init()
      e
    }
    val lineDedup =
      if (lineScrub) {
        val ld = new IncrementalLineDedup(spark, s"$stateDir/linededup",
          compactEvery)
        ld.init()
        Some(ld)
      } else None
    // opt-in EXACT length telemetry of the SHIPPED corpus: the additive
    // token-count histogram ([[StreamValueHist]]) observed on each
    // batch's out rows — a deployment reads exact quantiles of
    // everything curated so far from the same state dir
    val lenHist =
      if (lengthHist) {
        val h = new StreamValueHist(spark, s"$stateDir/lenhist",
          compactEvery)
        h.init()
        Some(h)
      } else None
    // decontamination probe: the exact-shingle cleaner (default),
    // `decontamWinnowShared` — the winnow DROP probe, or
    // `decontamWinnowScrub` — the winnow REWRITE (matched spans masked,
    // documents survive unless fully consumed; stateless per batch, so
    // replay rewrites identically). Eval-side artifacts fold ONCE per
    // stream exactly like the cleaner's shingle set (the trade is the
    // batch funnel's: ~2/(w+1) join volume, ≥ w+k−1 detection floor,
    // sub-guarantee runs can be missed). Precedence mirrors the batch
    // funnel: winnow-scrub > winnow-drop > exact cleaner.
    val winnowEvalFp =
      if (decontamWinnowScrub.isEmpty) decontamWinnowShared.map { _ =>
        graft.operators.Winnow
          .evalFingerprintSet(evalDocs, idCol, textCol)
          .localCheckpoint(true)
      } else None
    val winnowEvalPosFp = decontamWinnowScrub.map { _ =>
      graft.operators.Winnow
        .evalPosFingerprints(evalDocs, idCol, textCol)
        .localCheckpoint(true)
    }
    val decontam: DataFrame => DataFrame =
      (winnowEvalPosFp, decontamWinnowScrub) match {
        case (Some(pfp), Some(m)) => batch =>
          graft.operators.Winnow.scrubMatchedSpansWith(
              batch, pfp, idCol, textCol, minShared = m)
            .filter(col("removed_tokens") < col("n_tokens"))
            .drop("n_tokens", "removed_tokens", "n_spans")
        case _ => (winnowEvalFp, decontamWinnowShared) match {
          case (Some(fp), Some(m)) => batch =>
            batch.join(graft.operators.Winnow.flaggedOverlapWith(
              batch, fp, idCol, textCol, minShared = m).select(col(idCol)),
              Seq(idCol), "left_anti")
          case _ => StreamDecontam.cleaner(evalDocs, idCol, textCol,
            decontamMinShared)
        }
      }
    val capClaims = domainCap.map { _ =>
      val s = capLog(spark, s"$stateDir/domaincap", compactEvery)
      s.init()
      s
    }
    val mixIsNoop = mixRatesMilli.isEmpty && mixDefaultMilli == 1000

    // funnel observability: counts only when a report sink opted in
    // (each count is an action; un-checkpointed stages re-run their
    // lineage for it — the batch funnel's audit economics)
    def rc(df: DataFrame): Long =
      if (onReport.isDefined) df.count() else -1L

    (batch: DataFrame, batchId: Long) => {
      if (batch.isEmpty) batch.limit(0)
      else {
        // 0b. optional URL gate (stateless, the batch funnel's stage 0b:
        // blocklist + link-density, map-only in-scan predicates)
        val nonNull = batch.filter(col(textCol).isNotNull)
        val urlGated = {
          val afterBlock =
            if (urlBlocklist.nonEmpty)
              graft.operators.Urls.dropBlockedDomains(nonNull, idCol,
                textCol, urlBlocklist)
            else nonNull
          maxLinkDensityMilli match {
            case Some(mx) => afterBlock.filter(
              graft.operators.Urls.linkDensityMilli(textCol) <= mx)
            case None => afterBlock
          }
        }
        // 1. quality (stateless): repetition predicate
        val rs = graft.functions.RepetitionStats(col(textCol))
        val quality = urlGated
          .withColumn("_rs", rs)
          .filter(!graft.functions.RepetitionStats.repetitiveFlag(
            col("_rs.n_bigrams"), col("_rs.top_bigram_n"),
            col("_rs.n_trigrams"), col("_rs.n_distinct_trigrams"),
            repetitionTopBigramMilli, repetitionDupTrigramMilli))
          .drop("_rs")
        // 1a'. optional frozen-weight classifier gate — stateless like
        // the batch funnel's stage: the artifact never updates
        // mid-stream, so replay keeps the exact same rows
        val clsGated = classifierWeights match {
          case Some(w) => graft.operators.Classify.qualityGate(
            quality, idCol, textCol, w, classifierMinPerFeatPpm,
            classifierNgram)
          case None => quality
        }
        // 1b. optional PII redaction — stateless rewrite BEFORE the
        // claims so redacted copies claim (and dedup on) the same key
        val redacted =
          if (piiRedact) graft.operators.Redact.redactText(clsGated, textCol)
          else clsGated

        // 2. exact: claim the wide hash of the normalized text;
        // first-writer-wins, claimant recorded => replay-stable. Checkpoint
        // the key frame: it feeds the drop decision AND the claim delta.
        val keys = redacted.select(col(idCol).cast("long").as("id"),
          graft.functions.TextAnalysis.wideStrHash(
            Dedup.normalized(col(textCol))).as("bkey"))
          .localCheckpoint(true)
        val storeDup = keys.join(exactClaims.read(), "bkey")
          .filter(col("claimant") =!= col("id")).select("id")
        val batchMin = keys.groupBy("bkey").agg(min(col("id")).as("min_id"))
        val batchDup = keys.join(batchMin, "bkey")
          .filter(col("id") > col("min_id")).select("id")
        val dropIds = storeDup.unionAll(batchDup).distinct()
          .withColumnRenamed("id", idCol)
        val exact = exactClaims.claim(
          redacted.join(dropIds, Seq(idCol), "left_anti"),
          keys.groupBy("bkey").agg(min(col("id")).as("claimant")))

        // 2b. optional keep-first line scrub (IncrementalLineDedup —
        // claims-store stage, replay-stable via the recorded claimant):
        // scrubbed text feeds near-dup so chrome stops inflating MinHash
        // similarity; fully-scrubbed docs drop (the batch empty gate)
        val lineScrubbed = lineDedup match {
          case Some(ld) =>
            val scr = ld.scrubAndClaim(exact, idCol, textCol)
              .filter(!(col("clean_text") === "" && col("n_removed") > 0))
              .select(col(idCol), col("clean_text").as(textCol))
            exact.drop(textCol).join(scr, Seq(idCol))
          case None => exact
        }

        // 3. near-dup claims, 3b. optional verified embed near-dup,
        // 4. decontam probe, 5. append-stable mixing
        val textDeduped = nearDup.filterAndClaim(lineScrubbed, idCol, textCol)
        val deduped = embedDedup match {
          case Some(e) => e.filterAndClaim(textDeduped, idCol, vecCol.get)
          case None => textDeduped
        }
        val cleaned = decontam(deduped)

        // 4b. optional domain cap: batch-local content-addressed rank +
        // cross-batch first-come claims. Replayed claimants pass and
        // never re-claim; fresh docs claim only the headroom their
        // domain has left.
        val capped = (capClaims, domainCap) match {
          case (Some(store), Some(cp)) =>
            val urls = org.apache.spark.sql.functions.coalesce(
              regexp_extract_all(col(textCol),
                lit(graft.operators.Urls.UrlRe), lit(0)),
              array().cast("array<string>"))
            val wd = cleaned.withColumn("_dom",
              when(size(urls) > 0, graft.operators.Urls.registeredDomain(
                element_at(urls, 1))))
            val exempt = wd.filter(col("_dom").isNull).drop("_dom")
            val linked = wd.filter(col("_dom").isNotNull)
              .withColumn("_id", col(idCol).cast("long"))
              .localCheckpoint(true)
            val prior = store.read()
            val replayed = linked.join(prior,
              linked("_dom") === prior("domain") &&
                linked("_id") === prior("claimant"), "left_semi")
            val fresh = linked.join(prior,
              linked("_dom") === prior("domain") &&
                linked("_id") === prior("claimant"), "left_anti")
            val counts = prior.groupBy("domain")
              .agg(count(lit(1)).as("_prior_n"))
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("_dom")
              .orderBy(col("_hv"), col("_id"))
            val freshKept = fresh
              .withColumn("_hv", graft.functions.TextAnalysis.strHash(
                col("_id").cast("string")))
              .withColumn("_rk", row_number().over(w).cast("long"))
              .join(counts, col("_dom") === col("domain"), "left")
              .filter(col("_rk") +
                coalesce(col("_prior_n"), lit(0L)) <= cp)
              .drop("domain", "_prior_n", "_hv", "_rk")
              .localCheckpoint(true)
            // the WHOLE result is kept: the replayed leg reads the
            // store's current manifest too
            store.claim(replayed.drop("_dom", "_id")
                .unionByName(freshKept.drop("_dom", "_id"))
                .unionByName(exempt),
              freshKept
                .select(col("_dom").as("domain"), col("_id").as("claimant")))
          case _ => cleaned
        }
        val mixedOut =
          if (mixIsNoop) capped
          else graft.operators.Mixing.rateMix(capped, idCol, sourceCol,
            mixRatesMilli, mixDefaultMilli)
        // optional trainer-ready ENCODE of the shipped rows: token ids
        // under a FROZEN tokenizer artifact ([[graft.operators.Bpe
        // .saveTokenizer]]'s shape — frozen, so replay encodes
        // identically), appended as token_ids + n_bpe_tokens via an
        // ids-only join back onto the curated batch
        // LEFT join + coalesce: encode emits no row for NULL-text input,
        // and a null-text row that survived the funnel must pass through
        // with an empty id sequence, not silently vanish from the
        // shipped output; n_bpe_unk rides along so a consumer can gate
        // frozen-tokenizer drift (unknown pieces) per batch
        val encoded = bpeTokenizer match {
          case Some((ms, vocab)) =>
            // bpePreTok must be the ARTIFACT's recorded policy
            // (loadTokenizer returns it) — encoding under a different
            // split than the trainer's silently drifts
            Some(graft.operators.Bpe.encode(mixedOut, idCol, textCol,
              ms, vocab, preTok = bpePreTok))
          case None => unigramTokenizer.map { model =>
            // the unigram model RECORDS its policy — no drift seam.
            // k > 1 ships REGULARIZED shards (q152/q155's deterministic
            // subword regularization): the salt is the epoch key — same
            // salt replays a batch bit for bit (the funnel's replay
            // contract holds), a new salt per epoch re-draws every
            // occurrence's segmentation
            if (unigramSampleK > 1)
              graft.operators.Unigram.encodeSampled(mixedOut, idCol,
                textCol, model, k = unigramSampleK,
                salt = unigramSampleSalt)
            else
              graft.operators.Unigram.encode(mixedOut, idCol, textCol,
                model)
          }
        }
        val out = encoded match {
          case Some(encRaw) =>
            val enc = encRaw.select(col(idCol), col("token_ids"),
              col("n_tokens").as("n_bpe_tokens"),
              col("n_unk").as("n_bpe_unk"))
            mixedOut.join(enc, Seq(idCol), "left")
              .withColumn("token_ids",
                coalesce(col("token_ids"), array().cast("array<long>")))
              .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
              .withColumn("n_bpe_unk", coalesce(col("n_bpe_unk"), lit(0L)))
          case None => mixedOut
        }
        // per-batch PACK STREAM emission — [[graft.operators.Packing
        // .packTokenStreams]] over the batch's shipped ids (one shard,
        // id order: a micro-batch is one training-file segment), fed to
        // the sink like the report; replay-stable because the batch's
        // survivor set and ids are
        val sepIdOpt = bpeTokenizer.map(_._2.length.toLong)
          .orElse(unigramTokenizer.map(_.pieces.length.toLong))
        for (budget <- bpePackBudget; sink <- onPackStreams;
             sepId <- sepIdOpt) {
          val enc = out.select(col(idCol), col("token_ids"))
            .withColumn("_pack_shard", lit(0L))
          // doc_ids + doc_offsets ride along — the streaming twin ships
          // the same sample-boundary artifact the batch packer emits
          sink(graft.operators.Packing.packTokenStreams(enc, "_pack_shard",
            idCol, "token_ids", budget, sepId,
            docIdCol = Some(idCol)), batchId)
        }
        lenHist.foreach { h =>
          h.observe(out.select(graft.functions.TokenStats(col(textCol))
            .getField("n_tokens").cast("long").as("_ntok")),
            "_ntok", batchId)
        }
        onReport.foreach { sink =>
          sink(BatchReport(batchId,
            nBatch = batch.count(),
            nAfterUrlGate = if (urlBlocklist.nonEmpty ||
              maxLinkDensityMilli.isDefined) rc(urlGated) else -1L,
            nAfterQuality = rc(quality),
            nAfterClassifier =
              if (classifierWeights.isDefined) rc(clsGated) else -1L,
            nAfterExact = rc(exact),
            nAfterLineScrub = if (lineScrub) rc(lineScrubbed) else -1L,
            nAfterNearDup = rc(deduped),
            nAfterDecontam = rc(cleaned),
            nAfterDomainCap = if (domainCap.isDefined) rc(capped) else -1L,
            nOut = rc(out),
            // frozen-tokenizer drift per batch: total out-of-vocabulary
            // pieces over the SHIPPED rows — the number a deployment
            // alarms on before a -1 (or a byte-fallback flood) reaches
            // a trainer
            nBpeUnk =
              if (bpeTokenizer.isDefined || unigramTokenizer.isDefined)
                out.agg(coalesce(sum(col("n_bpe_unk")), lit(0L)))
                  .head().getLong(0)
              else -1L))
        }
        out
      }
    }
  }
}
