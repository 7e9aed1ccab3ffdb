package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{StreamBoilerplate, StreamCuration, StreamDataCard, StreamGraphIndex, StreamGraphShards, StreamMediaCuration, StreamSplit}

/** THE DELETION EVENT, end to end — one call that cascades a takedown
  * (DMCA, robots, recrawl tombstones; the reference's own deleted-item
  * reality, `/root/reference/hnarchive.py:123-130`) through every piece
  * of STANDING STATE a curation deployment accumulates around a
  * document, with a per-component receipt. Round 14 built the legs —
  * claim-store retraction ([[graft.store.ClaimLog.retract]]), standing
  * BM25 / IVF / graph index deletion, pack-stream masking
  * ([[graft.operators.Packing.forgetPacks]]), card decrement
  * ([[StreamDataCard.retract]]) — this composes them, because a partial
  * deletion is the failure mode that matters: state legs forgotten by a
  * hand-rolled cascade keep serving (an index still returning the doc)
  * or keep suppressing (a claim store still dropping recrawled copies
  * against the dead id) long after the corpus row is gone.
  *
  * Every target is opt-in (a deployment enables the stages it runs);
  * each leg is idempotent — a crash-retried cascade re-runs all legs,
  * and replay tokens (card) / tombstone sets (graph) / filtered
  * replaces (claims, BM25, IVF) make the second pass a no-op. Order:
  * claims first (so a concurrent recrawl arriving mid-cascade can
  * re-claim instead of dropping), then indexes, then telemetry.
  *
  * The two plain-parquet legs — the materialized corpus
  * ([[graft.store.CorpusForget]]) and the materialized pack shards
  * ([[graft.store.PackForget]], composing
  * [[graft.operators.Packing.forgetPacks]] with the same O(touched
  * files) surgery) — rewrite ONLY the files a deleted id touches. A
  * deployment whose sink is not a plain parquet dir can still run
  * `forgetPacks` itself on the `n_forgotten > 0` rows.
  *
  * ==Deletion coverage: every standing store in `graft.streaming`==
  *
  * Per-document state, RETRACTABLE and wired (or wireable) here:
  *  - `IncrementalDedup` / `IncrementalBanded64` / `IncrementalLineDedup`
  *    / `IncrementalEmbedDedup` / `IncrementalImageDedup` /
  *    `IncrementalAudioDedup` / `IncrementalVideoDedup` and the
  *    curation funnels ([[StreamCuration]]/[[StreamMediaCuration]], the
  *    `textClaimsDir`/`mediaClaimsDir` legs): first-writer claim
  *    stores (the shared [[graft.store.ClaimLog]]) — its retraction
  *    clears the dead claimant's buckets.
  *  - `IncrementalCdcDedup` (`cdcClaimsDir` leg): per-CHUNK first-writer
  *    claims — retraction clears the dead claimant's chunk identities so
  *    a recrawled copy is never suppressed against content that no
  *    longer ships.
  *  - [[StreamFertility]] (`fertility` leg): per-group additive fertility
  *    counters — exact negative deltas over the deleted rows' original
  *    counts, the [[StreamDataCard]] discipline (its audit is the
  *    negative-total fail-loud in `report()`, not a per-id read — see
  *    [[verify]]).
  *  - [[StreamSplit]] (`splitClaimsDir`): bucket → representative
  *    claims + the merge audit log — `StreamSplit.retract` (shipped
  *    splits stay immutable; `reconcile` is the repair).
  *  - [[StreamGraphIndex]] / [[StreamGraphShards]] (`graphIndexDir`/
  *    `graphShardsDir`): tombstone-then-vacuum deletion.
  *  - `StreamRetrieval` / `StreamVectorIndex` maintain the standing
  *    BM25 / IVF indexes (`bm25IndexDir`/`vectorIndexDir` legs).
  *  - [[StreamDataCard]] / `StreamValueHist` (StreamStats) /
  *    [[StreamBoilerplate]] counts: additive [[graft.store.CountLog]]s
  *    with exact `retract` decrements, loud on a negative total
  *    (`card`/`boiler`/`cdcBoiler` legs; a ValueHist is retracted
  *    through its own `retract` — it tracks whatever value column the
  *    deployment feeds it, so the caller supplies the deleted rows'
  *    values the same way the card leg does).
  *
  * NO per-document standing state — deletion waiver, with the reason:
  *  - `StreamDedup` (`flatMapGroupsWithState` first-per-key): its state
  *    lives inside a Structured Streaming query's CHECKPOINT, which has
  *    no surgical-edit API — a deployment needing retractable exact
  *    dedup runs the claims-store twin (the funnel's `exact` stage /
  *    `IncrementalDedup` family), which IS wired above; the
  *    checkpoint-state variant is for unbounded-key, timeout-evicted
  *    streams where claims never stand long enough to retract.
  *  - `StreamDrift` / `StreamDsir` / `StreamDecontam`: binder-frozen
  *    BOOKS (reference term counts, DSIR ratio books, eval n-gram
  *    sets) + stateless per-batch scoring. Nothing per-document to
  *    clear; if a deleted document was part of the frozen reference/
  *    seed corpus, the remedy is re-deriving the binder from the
  *    surviving corpus — already the prescribed per-release discipline
  *    in each class's contract.
  *  - `Trending` / `SessionPipeline` / `EventJobs` /
  *    `LivestreamRunner`: the reference's ITEM domain — their state is
  *    the item store itself, whose deletion story is the reference's
  *    own tombstone semantics ([[graft.operators.Merge]] keep-old +
  *    `deleted` flags), not this cascade.
  */
object Forget {

  /** One leg's receipt: how many claims / postings / vectors / nodes /
    * card documents the takedown removed there. */
  final case class Receipt(component: String, removed: Long)

  /** The card leg's handle: the cumulative card, the deleted documents'
    * ORIGINAL shipped rows (read from the materialized corpus BEFORE
    * the storage layer drops them — the rows `observe` folded), the id
    * column those rows carry, and the deletion event's replay token. */
  final case class CardTarget(card: StreamDataCard, deletedRows: DataFrame,
                              idCol: String, eventId: Long)

  /** The boilerplate leg's handle: the chunk-count accumulator and the
    * deleted documents' ORIGINAL rows (the text the accumulator
    * counted) — a chunk whose every carrier died must stop being
    * scrubbed from future documents. */
  final case class BoilerTarget(counts: StreamBoilerplate.ChunkCounts,
                                deletedRows: DataFrame, idCol: String,
                                textCol: String, eventId: Long)

  /** [[BoilerTarget]]'s content-defined twin
    * ([[StreamBoilerplate.CdcCounts]] — same contract, CDC chunk
    * identities). */
  final case class CdcBoilerTarget(counts: StreamBoilerplate.CdcCounts,
                                   deletedRows: DataFrame, idCol: String,
                                   textCol: String, eventId: Long)

  /** The fertility-telemetry leg's handle ([[StreamFertility]]): the
    * monitor, the deleted documents' ORIGINAL rows, and their
    * per-document `(idCol, n_words, n_pieces)` under the SAME frozen
    * tokenizer `observe` counted them with — the caller re-derives
    * `counts` exactly like the card leg re-reads shipped rows
    * (`Bpe.pieceCounts` / `Unigram.pieceCounts` over `deletedRows`).
    * Without this leg a takedown leaves the retrain signal counting
    * deleted documents forever. */
  final case class FertilityTarget(monitor: graft.streaming.StreamFertility,
                                   deletedRows: DataFrame, idCol: String,
                                   textCol: String, groupCol: String,
                                   counts: DataFrame, eventId: Long)

  /** The corpus leg's handle: the materialized parquet dataset and its
    * id column — [[graft.store.CorpusForget]] rewrites only the files
    * that contain deleted rows. Runs LAST (the card/boiler legs read
    * the deleted rows first; their inputs are materialized up front
    * regardless, so a caller-supplied view over this same corpus stays
    * valid). */
  final case class CorpusTarget(dir: String, idCol: String)

  /** The pack-stream leg's handle: a materialized
    * [[graft.operators.Packing.packTokenStreams]] parquet dataset (with
    * `doc_ids`) and the pad id its maskings write —
    * [[graft.store.PackForget]] masks deleted members' footprints in
    * place, rewriting only touched files. */
  final case class PackTarget(dir: String, padId: Long)

  /** The audit-trail handle: where to persist this cascade's receipts
    * and the deletion event's replay token — [[ForgetLedger.record]]
    * runs LAST (after every leg's receipt exists) so the recorded event
    * describes a completed cascade; a crash before it leaves no record
    * and the retried cascade records its own. Its receipt row
    * (`ledger`) reads 1 when this run published the event, 0 on the
    * idempotent replay (the first record stands). */
  final case class LedgerTarget(dir: String, eventId: Long)

  /** Cascade the takedown of `ids` through every enabled target.
    * Returns one [[Receipt]] per enabled leg (enabled-but-empty legs
    * report 0 — the audit artifact must show the leg RAN). Fails loud
    * if the card leg's rows carry an id outside `ids` (retracting a
    * surviving document corrupts the card silently otherwise). */
  def cascade(spark: SparkSession, ids: Seq[Long],
              textClaimsDir: Option[String] = None,
              mediaClaimsDir: Option[String] = None,
              splitClaimsDir: Option[String] = None,
              cdcClaimsDir: Option[String] = None,
              bm25IndexDir: Option[String] = None,
              vectorIndexDir: Option[String] = None,
              graphIndexDir: Option[String] = None,
              graphShardsDir: Option[String] = None,
              card: Option[CardTarget] = None,
              boiler: Option[BoilerTarget] = None,
              cdcBoiler: Option[CdcBoilerTarget] = None,
              fertility: Option[FertilityTarget] = None,
              corpus: Option[CorpusTarget] = None,
              packs: Option[PackTarget] = None,
              ledger: Option[LedgerTarget] = None): Seq[Receipt] = {
    require(ids.size <= graft.store.ClaimRetraction.MaxRetractIds,
      s"${ids.size} deletion ids exceed the " +
        s"${graft.store.ClaimRetraction.MaxRetractIds} batch ceiling")
    // materialize the telemetry legs' deleted-row inputs BEFORE any leg
    // mutates state, so a view over the corpus target stays valid
    val cardRows = card.map(t => t.deletedRows.localCheckpoint(true))
    val boilerRows = boiler.map(t => t.deletedRows.localCheckpoint(true))
    val cdcRows = cdcBoiler.map(t => t.deletedRows.localCheckpoint(true))
    val fertRows = fertility.map(t =>
      (t.deletedRows.localCheckpoint(true), t.counts.localCheckpoint(true)))
    val b = Seq.newBuilder[Receipt]
    textClaimsDir.foreach(d => b += Receipt("text_claims",
      StreamCuration.retract(spark, d, ids)))
    mediaClaimsDir.foreach(d => b += Receipt("media_claims",
      StreamMediaCuration.retract(spark, d, ids)))
    splitClaimsDir.foreach(d => b += Receipt("split_claims",
      StreamSplit.retract(spark, d, ids)))
    cdcClaimsDir.foreach(d => b += Receipt("cdc_claims",
      graft.streaming.IncrementalCdcDedup.retract(spark, d, ids)))
    bm25IndexDir.foreach(d => b += Receipt("bm25_index",
      graft.operators.Retrieval.bm25DeleteIndex(spark, d, ids)))
    vectorIndexDir.foreach(d => b += Receipt("vector_index",
      graft.operators.VectorIndex.deleteIndex(spark, d, ids)))
    graphIndexDir.foreach(d => b += Receipt("graph_index",
      StreamGraphIndex.delete(spark, d, ids)))
    graphShardsDir.foreach(d => b += Receipt("graph_shards",
      StreamGraphShards.delete(spark, d, ids)))
    card.foreach { t =>
      val rows = cardRows.get
      val stray = graft.store.ClaimRetraction
        .excluding(rows, col(t.idCol).cast("long"), ids)
        .head(1)
      require(stray.isEmpty,
        s"card retraction rows carry ids outside the deletion batch " +
          s"(first: ${stray.headOption.getOrElse("")})")
      t.card.retract(rows, t.eventId)
      b += Receipt("data_card", rows.count())
    }
    boiler.foreach { t =>
      val rows = boilerRows.get
      t.counts.retract(rows, t.idCol, t.textCol, s"r${t.eventId}")
      b += Receipt("boiler_counts", rows.count())
    }
    cdcBoiler.foreach { t =>
      val rows = cdcRows.get
      t.counts.retract(rows, t.idCol, t.textCol, s"r${t.eventId}")
      b += Receipt("cdc_counts", rows.count())
    }
    fertility.foreach { t =>
      val (rows, cnts) = fertRows.get
      val stray = graft.store.ClaimRetraction
        .excluding(rows, col(t.idCol).cast("long"), ids)
        .head(1)
      require(stray.isEmpty,
        s"fertility retraction rows carry ids outside the deletion " +
          s"batch (first: ${stray.headOption.getOrElse("")})")
      t.monitor.retract(rows, t.idCol, t.textCol, t.groupCol, cnts,
        s"r${t.eventId}")
      // the receipt counts exactly what the retraction subtracted:
      // NULL-text rows never entered the telemetry (observe filters
      // them), so retract skips them — counting them here would
      // overstate the decrement
      b += Receipt("fertility_docs",
        rows.filter(col(t.textCol).isNotNull).count())
    }
    packs.foreach { t =>
      val r = graft.store.PackForget.forget(spark, t.dir, ids, t.padId)
      // per-pack OCCURRENCES masked — distinct from verify's
      // `pack_ids_held` (distinct still-attributed ids): a document
      // packed into N packs counts N here and 1 there, so the two
      // receipts carry distinct names rather than silently different
      // denominations under one name
      b += Receipt("pack_members_masked", r.membersMasked)
      b += Receipt("pack_files", r.filesTouched)
    }
    corpus.foreach { t =>
      val r = graft.store.CorpusForget.forget(spark, t.dir, t.idCol, ids)
      // both numbers, each under the name that says what it counts
      b += Receipt("corpus_rows", r.rowsRemoved)
      b += Receipt("corpus_files", r.filesTouched)
    }
    // audit trail LAST: the recorded event describes a completed
    // cascade (its receipt list is every enabled leg's), and a crash
    // anywhere above leaves no record for the retry to trip over
    ledger.foreach { t =>
      val legs = b.result()
      require(legs.nonEmpty,
        "a ledger-recorded cascade must enable at least one leg — an " +
          "empty event is not a takedown")
      val published = ForgetLedger.record(spark, t.dir, t.eventId,
        ids.size.toLong, legs)
      b += Receipt("ledger", if (published) 1L else 0L)
    }
    b.result()
  }

  /** The POST-CASCADE AUDIT — the read that makes a takedown receipt
    * trustworthy: for each enabled target, how many of `ids` are STILL
    * referenced there (claims held, postings present, vectors indexed,
    * graph nodes servable). After a completed [[cascade]] every leg
    * must read 0; a non-zero row names the leg a hand-rolled deletion
    * forgot (the failure mode the cascade exists to prevent) or a new
    * store the deployment added without wiring it here. The card and
    * the fertility monitor have no per-id state to audit (additive
    * per-group accumulators) — their guarantee is the negative-total
    * fail-loud in [[graft.streaming.StreamDataCard.card]] /
    * [[graft.streaming.StreamFertility.report]]. */
  def verify(spark: SparkSession, ids: Seq[Long],
             textClaimsDir: Option[String] = None,
             mediaClaimsDir: Option[String] = None,
             splitClaimsDir: Option[String] = None,
             cdcClaimsDir: Option[String] = None,
             bm25IndexDir: Option[String] = None,
             vectorIndexDir: Option[String] = None,
             graphIndexDir: Option[String] = None,
             graphShardsDir: Option[String] = None,
             corpus: Option[CorpusTarget] = None,
             packs: Option[PackTarget] = None): Seq[Receipt] = {
    require(ids.size <= graft.store.ClaimRetraction.MaxRetractIds,
      s"${ids.size} audit ids exceed the " +
        s"${graft.store.ClaimRetraction.MaxRetractIds} batch ceiling")
    val b = Seq.newBuilder[Receipt]
    textClaimsDir.foreach(d => b += Receipt("text_claims",
      StreamCuration.held(spark, d, ids)))
    mediaClaimsDir.foreach(d => b += Receipt("media_claims",
      StreamMediaCuration.held(spark, d, ids)))
    splitClaimsDir.foreach(d => b += Receipt("split_claims",
      StreamSplit.held(spark, d, ids)))
    cdcClaimsDir.foreach(d => b += Receipt("cdc_claims",
      graft.streaming.IncrementalCdcDedup.held(spark, d, ids)))
    bm25IndexDir.foreach(d => b += Receipt("bm25_index",
      graft.operators.Retrieval.bm25Held(spark, d, ids)))
    vectorIndexDir.foreach(d => b += Receipt("vector_index",
      graft.operators.VectorIndex.indexHeld(spark, d, ids)))
    graphIndexDir.foreach(d => b += Receipt("graph_index",
      StreamGraphIndex.held(spark, d, ids)))
    graphShardsDir.foreach(d => b += Receipt("graph_shards",
      StreamGraphShards.held(spark, d, ids)))
    corpus.foreach(t => b += Receipt("corpus_rows",
      graft.store.CorpusForget.held(spark, t.dir, t.idCol, ids)))
    packs.foreach(t => b += Receipt("pack_ids_held",
      graft.store.PackForget.held(spark, t.dir, ids)))
    b.result()
  }
}
