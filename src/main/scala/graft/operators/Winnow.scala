package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis._

/** WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
  * MOSS algorithm): from each document's sequence of token k-gram hashes,
  * select the minimum of every w-wide sliding window (ties to the RIGHTMOST
  * minimal hash, the paper's robust-winnowing rule). The selected set is a
  * position-robust fingerprint with the paper's guarantee: any shared token
  * run of length ≥ w + k − 1 between two documents yields at least one
  * shared selected hash — which makes the selections joinable evidence for
  * LOCAL overlap (plagiarism-style partial copies) where whole-document
  * MinHash dilutes and exact substring tiers pay a suffix structure.
  *
  * Density contract: winnowing selects ~2/(w+1) of all grams — the
  * storage/recall knob. Documents with fewer than k tokens have no grams
  * and emit nothing; documents with 1 ≤ m < w grams emit the single
  * whole-document window's minimum (so every fingerprintable document
  * fingerprints).
  *
  * Scale shape: grams hash IN-SCAN (the 62-bit WidePolyHash family by
  * default — see [[fingerprints]]' width contract; 31-bit available for
  * bounded scopes); the one exchange is the per-document window
  * partitioning, and what crosses it is (id, p, hash) coordinates — never
  * text. The tie-to-rightmost rule is integer arithmetic, not a sort: each
  * gram packs as `h·2²⁴ + (2²⁴−1−p)` (as a long at 31 bits; as the
  * equivalent lexicographic (h, 2²⁴−1−p) struct at 62, where the product
  * would overflow), so the frame's plain MIN is "smallest hash, rightmost
  * position" in one aggregate (positions past the 2²⁴ per-document gram
  * ceiling fail loud in-scan — no silent wraparound).
  * Output: (idCol, pos, fp) — one row per distinct selection, where `pos`
  * is the selected gram's 0-based token offset.
  */
object Winnow {

  /** Per-document gram ceiling for the pack arithmetic: 2²⁴ grams ≈ a
    * 16M-token document — far past any sane training document; beyond it
    * the packed key would collide across positions, so it fails loud.
    * Aliases [[graft.functions.WinnowSelect.MaxGramsPerDoc]] (the
    * expression enforces the guard in-scan) so the two can never
    * silently diverge. */
  val MaxGramsPerDoc: Int = graft.functions.WinnowSelect.MaxGramsPerDoc

  /** Winnow-gated overlap flagging — the LOCAL-overlap decontamination
    * probe: a `train` document is flagged when it shares ≥ `minShared`
    * DISTINCT selected fingerprints with the `eval` corpus. Because both
    * sides winnow with the same (k, w), the selection guarantee transfers:
    * any train document containing an eval run of ≥ w + k − 1 tokens
    * shares at least one fingerprint — a provable detection floor at
    * ~2/(w+1) of the gram-join volume the full-shingle probe
    * ([[Decontaminate]]) pays. The complement does NOT hold (a shared
    * fingerprint is one shared k-gram, not a long run), so `minShared`
    * is the precision knob exactly like the shingle tier's.
    *
    * Scale: eval fingerprints aggregate to a DISTINCT (fp) set that
    * broadcasts (eval corpora are bounded by contract across the
    * decontamination family); train fingerprints come off
    * [[fingerprints]]' coordinates-only window and semi-join in place —
    * corpus text never crosses an exchange. Output: (idCol, n_shared),
    * flagged train documents only. */
  def flaggedOverlap(train: DataFrame, eval: DataFrame, idCol: String,
                     textCol: String, k: Int = 3, w: Int = 4,
                     minShared: Int = 1, hashBits: Int = 62): DataFrame =
    flaggedOverlapWith(train,
      evalFingerprintSet(eval, idCol, textCol, k, w, hashBits), idCol,
      textCol, k, w, minShared, hashBits)

  /** The eval side's DISTINCT fingerprint set — compute ONCE and reuse
    * across probes (the fold-once discipline of the streaming funnel:
    * the eval corpus is frozen, so its selections are too). */
  def evalFingerprintSet(eval: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4,
                         hashBits: Int = 62): DataFrame =
    fingerprints(eval, idCol, textCol, k, w, hashBits)
      .select("fp").distinct()

  /** [[flaggedOverlap]] against a precomputed [[evalFingerprintSet]]. */
  def flaggedOverlapWith(train: DataFrame, evalFp: DataFrame, idCol: String,
                         textCol: String, k: Int = 3, w: Int = 4,
                         minShared: Int = 1, hashBits: Int = 62): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    fingerprints(train, idCol, textCol, k, w, hashBits)
      .join(broadcast(evalFp), "fp")
      .groupBy(col(idCol))
      .agg(countDistinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The MOSS MATCH step — positional alignment of the shared
    * fingerprints between flagged `train` documents and the `eval`
    * documents they overlap: one row per (train doc, eval doc, shared
    * fingerprint) with BOTH token offsets, the evidence a reviewer reads
    * to see WHERE the copy sits (each shared fp pins a k-gram at
    * `t_pos` in the train doc and `e_pos` in the eval doc; a run of
    * aligned rows with a constant offset delta is a copied span).
    * Pairs are gated to ≥ `minShared` distinct shared fingerprints
    * FIRST (the [[flaggedOverlap]] bar), so a single ubiquitous gram
    * cannot fan out the alignment join.
    *
    * Scale: both sides reduce to selections (coordinates only); the
    * pair gate aggregates before the position join back, and the eval
    * side is bounded by the decontamination-family contract. Output:
    * (train_id, eval_id, fp, t_pos, e_pos). */
  /** The eval side's POSITIONED fingerprint table
    * ((eval_id, e_pos, fp)) — fold ONCE per stream/run and reuse across
    * [[overlapSpansWith]] / [[scrubMatchedSpansWith]] probes, exactly
    * like [[evalFingerprintSet]] for the flag-only probe. */
  def evalPosFingerprints(eval: DataFrame, idCol: String, textCol: String,
                          k: Int = 3, w: Int = 4,
                          hashBits: Int = 62): DataFrame =
    fingerprints(eval, idCol, textCol, k, w, hashBits)
      .select(col(idCol).cast("long").as("eval_id"),
        col("pos").as("e_pos"), col("fp"))

  def overlapSpans(train: DataFrame, eval: DataFrame, idCol: String,
                   textCol: String, k: Int = 3, w: Int = 4,
                   minShared: Int = 1, hashBits: Int = 62): DataFrame =
    overlapSpansWith(train,
      evalPosFingerprints(eval, idCol, textCol, k, w, hashBits),
      idCol, textCol, k, w, minShared, hashBits)

  /** [[overlapSpans]] against a precomputed [[evalPosFingerprints]]
    * table (the streaming funnel folds it once per stream). */
  def overlapSpansWith(train: DataFrame, evalPosFp: DataFrame,
                       idCol: String, textCol: String, k: Int = 3,
                       w: Int = 4, minShared: Int = 1,
                       hashBits: Int = 62): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val tFp = fingerprints(train, idCol, textCol, k, w, hashBits)
      .select(col(idCol).cast("long").as("train_id"),
        col("pos").as("t_pos"), col("fp"))
    val eFp = broadcast(evalPosFp)
    // materialize the alignment once (minhashPairs' precedent): it feeds
    // BOTH the pair gate and the position join, and recomputing it would
    // run the corpus-side selection window twice; the set is bounded by
    // the eval overlap, not the corpus
    val aligned = tFp.join(eFp, "fp").localCheckpoint(true)
    val pairs = aligned.groupBy("train_id", "eval_id")
      .agg(countDistinct(col("fp")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("train_id", "eval_id")
    aligned.join(pairs, Seq("train_id", "eval_id"), "left_semi")
      .select(col("train_id"), col("eval_id"), col("fp"),
        col("t_pos"), col("e_pos"))
  }

  /** [[overlapSpans]] collapsed to MATCHED SPANS — the MOSS report line:
    * aligned fingerprints sharing one offset delta (`t_pos − e_pos`)
    * belong to the same copied region, so per (train, eval, delta) the
    * span is `[min(t_pos), max(t_pos) + k − 1]` in train coordinates
    * (subtract delta for the eval twin). `n_fps` counts the supporting
    * fingerprints — the span's evidence weight; winnowing guarantees
    * ≥ 1 per w + k − 1 copied tokens, so long copies accumulate many.
    * One bounded aggregate over the alignment rows; same gating and
    * scale shape as [[overlapSpans]]. Output: (train_id, eval_id,
    * delta, t_start, t_end, n_fps). */
  def matchedSpans(train: DataFrame, eval: DataFrame, idCol: String,
                   textCol: String, k: Int = 3, w: Int = 4,
                   minShared: Int = 1, hashBits: Int = 62): DataFrame =
    matchedSpansWith(train,
      evalPosFingerprints(eval, idCol, textCol, k, w, hashBits),
      idCol, textCol, k, w, minShared, hashBits)

  /** [[matchedSpans]] against a precomputed [[evalPosFingerprints]]. */
  def matchedSpansWith(train: DataFrame, evalPosFp: DataFrame,
                       idCol: String, textCol: String, k: Int = 3,
                       w: Int = 4, minShared: Int = 1,
                       hashBits: Int = 62): DataFrame =
    overlapSpansWith(train, evalPosFp, idCol, textCol, k, w, minShared,
        hashBits)
      .groupBy(col("train_id"), col("eval_id"),
        (col("t_pos") - col("e_pos")).as("delta"))
      .agg(min(col("t_pos")).as("t_start"),
        (max(col("t_pos")) + (k - 1)).as("t_end"),
        countDistinct(col("fp")).as("n_fps"))

  /** DECONTAMINATION BY REWRITE at winnow cost — mask [[matchedSpans]]'
    * matched token ranges out of each train document instead of dropping
    * the document (the RefinedWeb-style policy of
    * [[Decontaminate.scrubSpans]], bought at ~2/(w+1) of the shingle
    * probe's join volume and with the winnow tier's ≥ w + k − 1-run
    * detection floor instead of the exact-window guarantee — the same
    * recall/cost trade as [[flaggedOverlap]] vs the exact probe, which
    * is why it is an explicit regime, never the default).
    *
    * Rewrite contract (the [[Dedup.scrubWithDups]] discipline): a train
    * document with NO matched span passes through BYTE-IDENTICAL
    * (whitespace, newlines and all); a document with spans is rebuilt
    * from its surviving tokens by the codegen'd
    * [[graft.functions.ScrubTokens]] merge-walk — spans from different
    * eval documents or offset deltas may OVERLAP, which the walk handles
    * exactly (aligned struct-sorted intervals; coverage is the union).
    *
    * Scale: the span table is bounded by the eval overlap (it rides
    * [[overlapSpans]]' gated alignment) and BROADCASTS back onto the
    * corpus scan — corpus text still crosses no exchange. Output: every
    * `train` column with `textCol` rewritten, plus `n_tokens` (original
    * whitespace count), `removed_tokens`, and `n_spans` — the
    * [[Decontaminate.scrubSpans]] audit contract, so the two scrub
    * regimes swap freely in the funnel. */
  def scrubMatchedSpans(train: DataFrame, eval: DataFrame, idCol: String,
                        textCol: String, k: Int = 3, w: Int = 4,
                        minShared: Int = 1, hashBits: Int = 62): DataFrame =
    scrubMatchedSpansWith(train,
      evalPosFingerprints(eval, idCol, textCol, k, w, hashBits),
      idCol, textCol, k, w, minShared, hashBits)

  /** [[scrubMatchedSpans]] against a precomputed
    * [[evalPosFingerprints]] — the streaming funnel's form (fold the
    * eval side once, scrub every micro-batch against it; stateless per
    * batch, so replay rewrites identically). */
  def scrubMatchedSpansWith(train: DataFrame, evalPosFp: DataFrame,
                            idCol: String, textCol: String, k: Int = 3,
                            w: Int = 4, minShared: Int = 1,
                            hashBits: Int = 62): DataFrame = {
    val spans = matchedSpansWith(train, evalPosFp, idCol, textCol, k, w,
        minShared, hashBits)
      .groupBy(col("train_id"))
      .agg(sort_array(collect_list(struct(
        col("t_start").cast("int").as("s"),
        col("t_end").cast("int").as("e")))).as("_sp"))
    val passthrough = train.columns.filter(_ != textCol).map(col).toSeq
    val starts = transform(col("_sp"),
      x => (x.getField("s") + 1).cast("int")) // 1-based inclusive
    val ends = transform(col("_sp"), x => (x.getField("e") + 1).cast("int"))
    val empty = array().cast("array<int>")
    train
      .join(broadcast(spans),
        train(idCol).cast("long") === spans("train_id"), "left")
      .withColumn("_n", graft.functions.TokenStats(col(textCol))
        .getField("n_tokens").cast("int"))
      .withColumn("_sc", graft.functions.ScrubTokens(col(textCol),
        coalesce(starts, empty), coalesce(ends, empty)))
      .select(passthrough
        :+ when(col("_sp").isNull, col(textCol))
          .otherwise(col("_sc").getField("text")).as(textCol)
        :+ col("_n").cast("long").as("n_tokens")
        :+ when(col("_sp").isNull, lit(0L))
          .otherwise((col("_n") - col("_sc").getField("kept")).cast("long"))
          .as("removed_tokens")
        :+ coalesce(size(col("_sp")).cast("long"), lit(0L))
          .as("n_spans"): _*)
  }

  /** Gram-hash width. The DEFAULT is the 62-bit
    * [[graft.functions.WidePolyHash]] family (`hashBits = 62`) — the
    * selected fingerprints feed GLOBAL-scope joins ([[flaggedOverlap]]'s
    * probe, [[overlapSpans]]' alignment), where a 31-bit key saturates by
    * birthday around ~50k distinct grams and produces false-aligned rows
    * at corpus scale, exactly like the chunk keys of
    * [[Dedup.spanDupStats]]. `hashBits = 31` remains available as the
    * cheap single-long tier for bounded scopes. The 93-bit composite
    * escalation does NOT apply here: `fp` is the single joinable output
    * column the whole family's contract is built on, and 2⁻⁶² per pair
    * holds to ~2³¹ distinct grams — far past any eval-overlap join. */
  /** EVAL-SIDE contamination report — the governance number an eval-set
    * owner reads: per eval document, how many train documents carry a
    * matched span of it and what fraction of its tokens those spans
    * cover. Spans come from [[matchedSpans]] translated into EVAL
    * coordinates (`[t_start − delta, t_end − delta]`); coverage is the
    * UNION over all matching train documents, counted exactly by
    * joining the eval corpus's token positions against the span table
    * (both bounded: eval corpora are bounded by the decontamination
    * family's contract, spans by the eval overlap). Coverage is
    * integer per-mille — the family's division-free cross-engine form.
    * Output: (eval_id, n_train_docs, n_spans, covered_tokens,
    * n_tokens, covered_milli), one row per eval document with at least
    * one matched span. */
  def evalContamination(train: DataFrame, eval: DataFrame, idCol: String,
                        textCol: String, k: Int = 3, w: Int = 4,
                        minShared: Int = 1, hashBits: Int = 62): DataFrame = {
    val spans = matchedSpans(train, eval, idCol, textCol, k, w, minShared,
        hashBits)
      .select(col("train_id"), col("eval_id"),
        (col("t_start") - col("delta")).as("e_start"),
        (col("t_end") - col("delta")).as("e_end"))
      .localCheckpoint(true) // feeds the doc rollup AND the coverage join
    val perDoc = spans.groupBy("eval_id")
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        count(lit(1)).as("n_spans"))
    val evalToks = eval
      .select(col(idCol).cast("long").as("eval_id"),
        posexplode(tokens(col(textCol))).as(Seq("p", "_w")))
      .select(col("eval_id"), col("p"))
    val covered = evalToks.join(broadcast(spans), Seq("eval_id"))
      .filter(col("p") >= col("e_start") && col("p") <= col("e_end"))
      .select(col("eval_id"), col("p")).distinct()
      .groupBy("eval_id").agg(count(lit(1)).as("covered_tokens"))
    val evalN = eval.select(col(idCol).cast("long").as("eval_id"),
      graft.functions.TokenStats(col(textCol)).getField("n_tokens")
        .cast("long").as("n_tokens"))
    perDoc.join(covered, Seq("eval_id"))
      .join(evalN, Seq("eval_id"))
      .select(col("eval_id"), col("n_train_docs"), col("n_spans"),
        col("covered_tokens"), col("n_tokens"),
        call_function("div", col("covered_tokens") * 1000L,
          col("n_tokens")).as("covered_milli"))
  }

  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, w: Int = 4, hashBits: Int = 62): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    require(hashBits == 31 || hashBits == 62,
      s"hashBits must be 31 or 62, got $hashBits")
    // the whole selection — gram hashing, the w-window min with ties to
    // the rightmost, the full-window/short-doc rule, the distinct fold —
    // runs IN-SCAN inside the codegen'd [[graft.functions.WinnowSelect]]
    // (bit-identical to the former explode + per-document window + MIN
    // formulation, spec-pinned in WinnowSpec): gram coordinates never
    // cross an exchange at all; only the ~2/(w+1) selections leave the
    // scan. The per-document gram ceiling fails loud inside the
    // expression (same 2²⁴ pack-arithmetic bound).
    //
    // explode_OUTER, not explode: InferFiltersFromGenerate injects
    // `size(g) > 0 AND isnotnull(g)` below a non-outer Generate, which
    // re-evaluates the full tokenize+hash+winnow pass up to 3× per
    // document (the round-17 plans shipped that way — guide §4.4's
    // duplicated-expensive-expression trap). The rule skips outer
    // generates; the null row an outer explode emits for NULL/empty
    // selections is dropped by the cheap filter on the generator
    // OUTPUT, which cannot be pushed below the Generate. Result rows
    // are identical; WinnowSpec pins "exactly one winnow_select in the
    // executed plan".
    docs
      .select(col(idCol).as("id"),
        graft.functions.WinnowSelect(col(textCol), k, w,
          wide = hashBits == 62).as("_s"))
      .select(col("id").as(idCol), explode_outer(col("_s")).as("_e"))
      .filter(col("_e").isNotNull)
      .select(col(idCol), col("_e.pos").as("pos"), col("_e.fp").as("fp"))
  }
}
