package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis.wideStrHash

/** Benchmark decontamination for the training-data pipeline: flag (and drop)
  * training documents that share word-3-gram shingles with an evaluation /
  * benchmark set — the overlap-removal step every published pretraining
  * pipeline runs before training.
  *
  * Scale shape: benchmark sets are tiny by construction (a few thousand
  * documents), so the DEFAULT plan broadcasts the eval shingle set — the
  * training corpus is scanned once, shingled in-scan
  * ([[graft.operators.Dedup.shingles]]'s codegen'd expression), map-side
  * joined against the broadcast, and only MATCHING (train, eval, gram) rows
  * ever enter a shuffle (two partial-aggregated groupBys on the match set,
  * which is << corpus). The corpus itself never shuffles. For an eval set
  * too big to broadcast, `broadcastEval = false` switches both sides to a
  * shuffle-hash join on the gram — the same honest fallback gate as the
  * dedup family.
  */
object Decontaminate {

  /** Training docs sharing ≥ `minShared` DISTINCT shingles with at least one
    * eval doc. Output: (idCol, n_eval_hits, top_overlap) — how many eval
    * docs cross the threshold, and the largest per-eval-doc overlap.
    */
  def flagged(train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
              minShared: Int, broadcastEval: Boolean = true): DataFrame =
    flaggedOverShingles(train,
      Dedup.shingles(eval, idCol, textCol)
        .select(col("id").as("eval_id"), col("g")),
      idCol, textCol, minShared, broadcastEval)

  /** [[flagged]] with the eval side already derived as (eval_id, g)
    * shingle rows — the seam [[graft.streaming.StreamDecontam]] uses to
    * fold the eval corpus ONCE and probe every micro-batch against the
    * same materialization. */
  private[graft] def flaggedOverShingles(train: DataFrame, esh: DataFrame,
      idCol: String, textCol: String, minShared: Int,
      broadcastEval: Boolean): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val tsh = Dedup.shingles(train, idCol, textCol)
    val (probe, build) =
      if (broadcastEval) (tsh, broadcast(esh))
      else (tsh.hint("shuffle_hash"), esh.hint("shuffle_hash"))
    probe.join(build, "g")
      .groupBy("id", "eval_id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minShared)
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_hits"), max("overlap").as("top_overlap"))
      .select(col("id").as(idCol), col("n_eval_hits"), col("top_overlap"))
  }

  /** [[flagged]] semantics over the SHUFFLE path with explicit skew
    * salting — the regime for an eval set too big to broadcast whose gram
    * keys are heavy-tailed (an eval corpus derived from logs/events repeats
    * a few texts thousands of times, so a handful of grams carry most of
    * the join: AQE's skew split works on map-output sizes, but a single
    * hot KEY still lands on one task in a plain shuffle-hash join).
    *
    * [[graft.operators.Salting.hotSaltedJoin]] composition: one cheap
    * count over the eval shingles finds the hot grams (≥ `hotMin` eval
    * rows); the exploded TRAIN side salts those on the train doc id
    * (deterministic, so the same pair meets exactly once) and the eval
    * side replicates ONLY its hot-gram rows `saltR` ways — a hot gram's
    * matches spread over `saltR` tasks while the cold tail pays no
    * replication. The join key is the 8-byte 62-bit
    * [[graft.functions.WidePolyHash]] of the gram, not the gram string —
    * the salted exchange and both hash tables carry longs. This join is
    * GLOBAL scope (corpus-wide gram set), so a 31-bit key would saturate
    * by birthday around ~50k distinct grams; the wide key holds
    * 2⁻⁶²-per-pair to ~2³¹ grams, and the oracle replays the identical
    * arithmetic. Past ~10¹⁰ distinct grams, `hashBits = 93` (or
    * `GRAFT_HASH_BITS=93`) escalates to the composite `(wide,
    * third-polynomial)` two-column gram key via
    * [[graft.operators.Salting.hotSaltedJoinKeys]] — 2⁻⁹³ per pair,
    * same plan shape, one more long per exchange row, output
    * byte-identical below either regime's birthday bound (spec-pinned,
    * `WideKeyEscalationSpec`). Only (id, gram-hash)
    * pairs enter the exchange; the corpus text itself never shuffles
    * (spec-pinned in PlanSpec). Output is identical to [[flagged]] up to
    * hash collisions — the salt changes placement, never pairing.
    */
  def flaggedSalted(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, minShared: Int, saltR: Int = 8,
                    hotMin: Long = 64L, bloomGate: Boolean = false,
                    bloomFpp: Double = 0.01,
                    expectedGrams: Long = 1L << 20,
                    hashBits: Int = graft.functions.TextAnalysis.defaultHashBits): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(saltR >= 1, "saltR must be >= 1")
    require(hashBits == 62 || hashBits == 93,
      s"hashBits must be 62 or 93, got $hashBits")
    val keyCols = if (hashBits == 93) Seq("g", "g2") else Seq("g")
    def hashed(sh: DataFrame, idAs: String): DataFrame =
      sh.select(col("id").as(idAs) +: wideStrHash(col("g")).as("g") +:
        (if (hashBits == 93)
          Seq(graft.functions.ThirdPolyHash(col("g")).as("g2")) else Nil): _*)
    val tshAll = hashed(Dedup.shingles(train, idCol, textCol), "id")
    // eager-materialized: hotSaltedJoin consumes the eval shingles twice
    // (hot-gram count, replicated join side). The eval lineage is the
    // expensive part here — often a join + the hot texts exploded
    // thousands of times — so recomputing it doubles the query. The
    // checkpoint holds (eval_id, gram-hash) pairs only, bounded by the
    // modest eval side this path contracts for; the TRAIN corpus stays
    // lazy and in-scan.
    val eshBase = hashed(Dedup.shingles(eval, idCol, textCol), "eval_id")
    // optional composition with the Bloom regime ([[flaggedBloom]]): the
    // sketch of the (checkpointed) eval grams gates the train side
    // in-scan, so the salted exchange carries O(matches + fpp·corpus)
    // instead of the whole corpus shingle set; salting then spreads the
    // hot survivors. The two mechanisms are orthogonal — the gate cuts
    // VOLUME, the salt fixes PLACEMENT — and the exact join still scrubs
    // the sketch's false positives, so output is unchanged (spec-pinned).
    // With the gate on, the checkpoint materialization and the sketch
    // build fuse into one job ([[checkpointGramsWithSketch]]). Without
    // it, the checkpoint fuses with the HOT-KEY measurement instead
    // ([[Salting.checkpointWithHotKeys]]) — same one-job discipline, so
    // neither regime pays a second sequential pass over the eval grams.
    // `hotPre` is the pre-measured hot set for [[Salting
    // .hotSaltedJoinWith]]; None = the join measures for itself (Bloom
    // regime, whose fused pass builds the sketch).
    val (esh, tsh, hotPre) = if (!bloomGate) {
      val keyed =
        if (keyCols.size == 1) eshBase
        else eshBase.withColumn("_hk", xxhash64(keyCols.map(col): _*))
      val (e, hot) = Salting.checkpointWithHotKeys(keyed,
        if (keyCols.size == 1) "g" else "_hk", hotMin)
      (e.drop("_hk"), tshAll, Some(hot))
    } else {
      val (e, _, bloom) =
        checkpointGramsWithSketch(eshBase, "g", expectedGrams, bloomFpp)
      (e, tshAll.filter(graft.functions.BloomGate(
        lit(graft.functions.BloomGate.serialize(bloom)), col("g"))), None)
    }
    // ONE exchange for both aggregation levels: hash-partitioning on the
    // train id alone satisfies the pair-level grouping's (id, eval_id)
    // clustering AND the doc-level grouping's, so the two stacked aggs
    // run back-to-back in the same stage with no exchange between them —
    // where stacked groupBys would materialize two sequential shuffles
    // (pair keys, then id). The exchange carries raw (g, id, eval_id)
    // match longs instead of partially-aggregated pairs; matches are
    // bounded by the overlap join's output either way, and dropping a
    // whole stage boundary wins at the measured ~12-sequential-job floor.
    (hotPre match {
      case Some(hot) =>
        Salting.hotSaltedJoinWith(tsh, esh, keyCols, hot, col("id"), saltR)
      case None if keyCols.size == 1 =>
        Salting.hotSaltedJoin(tsh, esh, "g", col("id"), saltR, hotMin)
      case None =>
        Salting.hotSaltedJoinKeys(tsh, esh, keyCols, col("id"), saltR, hotMin)
    })
      .repartition(col("id"))
      .groupBy("id", "eval_id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minShared)
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_hits"), max("overlap").as("top_overlap"))
      .select(col("id").as(idCol), col("n_eval_hits"), col("top_overlap"))
  }

  /** [[flagged]] semantics for an eval set too big to BROADCAST but whose
    * gram set still fits a Bloom sketch — the middle regime between the
    * broadcast path (eval hash table in every executor) and the bare
    * shuffle path (full corpus shingle set through the exchange).
    *
    * Shape: the eval gram hashes fold into ONE driver-held Bloom filter
    * (`-1.44·log2(fpp)` bits per gram — at fpp 1 % about 10 bits/key, two
    * orders of magnitude under the hash table the broadcast join would
    * build), which ships to every task as a literal and gates the TRAIN
    * shingles map-side, inside the scan stage: only grams the sketch
    * admits — true matches plus an fpp-sized sliver of false positives —
    * ever enter the shuffle-hash join's exchange. The join then removes
    * the false positives, so the output is EXACTLY [[flagged]]'s (the
    * oracle hash-checks it); the sketch changes how much data moves,
    * never the answer. At 100 TB: corpus shingles reduce from
    * O(corpus) exchange rows to O(matches + fpp·corpus) — for a 1 %
    * fpp and a sub-percent true-hit rate, a ~50× exchange cut — while
    * the eval side keeps the same bounded shuffle it had.
    */
  def flaggedBloom(train: DataFrame, eval: DataFrame, idCol: String,
                   textCol: String, minShared: Int,
                   fpp: Double = 0.01,
                   expectedGrams: Long = 1L << 20,
                   hashBits: Int = graft.functions.TextAnalysis.defaultHashBits): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    require(expectedGrams >= 1, "expectedGrams must be >= 1")
    require(hashBits == 62 || hashBits == 93,
      s"hashBits must be 62 or 93, got $hashBits")
    // 93-bit escalation (SCALE.md): the exact join keys on the composite
    // (h62, h41) gram pair; the Bloom sketch still gates on h62 ALONE —
    // the sketch is a volume cut whose false positives the exact join
    // scrubs either way, so widening its key would buy nothing.
    val keyCols = if (hashBits == 93) Seq("g", "g2") else Seq("g")
    def hashed(sh: DataFrame, idAs: String): DataFrame =
      sh.select(col("id").as(idAs) +: wideStrHash(col("g")).as("g") +:
        (if (hashBits == 93)
          Seq(graft.functions.ThirdPolyHash(col("g")).as("g2")) else Nil): _*)
    val tsh = hashed(Dedup.shingles(train, idCol, textCol), "id")
    // ONE materializing job builds the checkpoint blocks, the exact gram
    // count, AND the Bloom sketch (vs the three sequential passes —
    // checkpoint, count, stat.bloomFilter — this fused aggregate
    // replaces; each sequential job multiplies under host load)
    val (esh, _, bloom) = checkpointGramsWithSketch(
      hashed(Dedup.shingles(eval, idCol, textCol), "eval_id"),
      "g", expectedGrams, fpp)
    val gate = lit(graft.functions.BloomGate.serialize(bloom))
    tsh.filter(graft.functions.BloomGate(gate, col("g")))
      .hint("shuffle_hash")
      .join(esh.hint("shuffle_hash"), keyCols)
      // ONE exchange for both aggregation levels — the same trade
      // [[flaggedSalted]] documents: partitioning on the train id alone
      // satisfies the pair-level AND doc-level clustering, so the two
      // stacked aggs run back-to-back with no exchange between them;
      // the exchange carries raw match rows instead of partial pairs,
      // bounded by the overlap join's output either way
      .repartition(col("id"))
      .groupBy("id", "eval_id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minShared)
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_hits"), max("overlap").as("top_overlap"))
      .select(col("id").as(idCol), col("n_eval_hits"), col("top_overlap"))
  }

  /** Checkpoint the eval gram rows AND fold their exact count + Bloom
    * sketch in the SAME job: the RDD is marked for local checkpoint, and
    * the fused treeAggregate is the action that materializes the blocks —
    * so the expensive eval lineage (often a join + hot texts exploded
    * thousands of times) runs exactly once, where the previous shape paid
    * three sequential jobs (eager checkpoint, count, `stat.bloomFilter`).
    *
    * The sketch is sized by `expectedGrams` up front (the count isn't
    * known until the same pass finishes). If the realized count exceeds
    * the estimate, ONE extra job rebuilds the sketch over the (now
    * checkpointed, longs-only) blocks with exact sizing — the rare path
    * costs what the old shape always paid, and the target fpp is never
    * silently degraded. */
  private[graft] def checkpointGramsWithSketch(
      grams: DataFrame, hashCol: String, expectedGrams: Long,
      fpp: Double): (DataFrame, Long, org.apache.spark.util.sketch.BloomFilter) = {
    import org.apache.spark.util.sketch.BloomFilter
    val schema = grams.schema
    val gIdx = schema.fieldIndex(hashCol)
    val rowRdd = grams.rdd
    rowRdd.localCheckpoint()
    val expect = math.max(expectedGrams, 64L)
    val (n, bloom0) = rowRdd.treeAggregate((0L, BloomFilter.create(expect, fpp)))(
      seqOp = { case ((c, bf), row) => bf.putLong(row.getLong(gIdx)); (c + 1L, bf) },
      combOp = { case ((c1, b1), (c2, b2)) => b1.mergeInPlace(b2); (c1 + c2, b1) })
    val bloom =
      if (n <= expect) bloom0
      else rowRdd.treeAggregate(BloomFilter.create(n, fpp))(
        seqOp = { (bf, row) => bf.putLong(row.getLong(gIdx)); bf },
        combOp = { (a, b) => a.mergeInPlace(b); a })
    (grams.sparkSession.createDataFrame(rowRdd, schema), n, bloom)
  }

  /** Per-document contamination FRACTION — the filter-by-fraction
    * criterion (Dolma-style) where [[flagged]]'s absolute threshold is
    * the wrong knob: a 10k-gram document sharing 5 grams is clean noise,
    * a 6-gram document sharing 5 is a near-copy, and only the fraction
    * separates them. For every train document with ≥ 1 shingle: its
    * distinct-gram count, how many of those grams occur ANYWHERE in the
    * eval set, and the fraction (exact integer per-mille + the double
    * derived from the same integers). Documents under 3 tokens have no
    * shingles and produce no row (same contract as every gram consumer).
    *
    * Plan shape: train shingles + the per-doc distinct count ride the
    * scan ([[Dedup.shinglesWithSize]] — `sz` on every exploded row, so no
    * separate sizes shuffle); the eval DISTINCT gram set broadcasts
    * (eval-is-tiny contract) into a map-side LEFT join, and the only
    * exchange is the per-doc aggregation of (id, sz, hit-marker) rows.
    * The corpus text never shuffles. `broadcastEval = false` flips to
    * the shuffle-hash fallback like [[flagged]].
    *
    * Output: (idCol, n_grams, n_hit, hit_milli, hit_frac).
    */
  def overlapFraction(train: DataFrame, eval: DataFrame, idCol: String,
                      textCol: String,
                      broadcastEval: Boolean = true): DataFrame = {
    val tsh = Dedup.shinglesWithSize(train, idCol, textCol)
    val eg = Dedup.shingles(eval, idCol, textCol)
      .select(col("g")).distinct()
      .withColumn("_hit", lit(1L))
    val build = if (broadcastEval) broadcast(eg) else eg.hint("shuffle_hash")
    val probe = if (broadcastEval) tsh else tsh.hint("shuffle_hash")
    probe.join(build, Seq("g"), "left")
      .groupBy("id", "sz")
      .agg(count(col("_hit")).as("n_hit"))
      .select(col("id").as(idCol), col("sz").as("n_grams"), col("n_hit"),
        expr("(n_hit * 1000) div sz").as("hit_milli"),
        (col("n_hit").cast("double") / col("sz")).as("hit_frac"))
  }

  /** The decontaminated corpus: `train` minus every flagged document. */
  def clean(train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
            minShared: Int, broadcastEval: Boolean = true): DataFrame =
    train.join(
      flagged(train, eval, idCol, textCol, minShared, broadcastEval),
      Seq(idCol), "left_anti")

  /** Span-level decontamination — scrub, don't drop: every sliding
    * `minTokens`-token window of a training document whose token sequence
    * occurs anywhere in the eval set is masked OUT of the text, and the
    * document survives with the remaining tokens (the RefinedWeb /
    * Lee et al. 2021 exact-substring masking semantics, where [[clean]]'s
    * document drop is too blunt — one quoted benchmark question should not
    * delete a whole web page).
    *
    * Flagged windows merge into maximal runs exactly like
    * [[ExactSubstring.stats]] (gaps-and-islands, overlap-or-adjacent
    * within `minTokens`), and the covered tokens `[p0, p1+minTokens-1]` of
    * every run are removed. The scrubbed text is the kept tokens joined
    * with single spaces — a canonical-whitespace rebuild (original inter-
    * token whitespace is not preserved; at this tier the corpus is already
    * whitespace-normalized by the quality stages).
    *
    * Scale shape: eval windows fold to a DISTINCT 8-byte hash set that
    * BROADCASTS (the eval-set-is-tiny contract of [[flagged]]); train
    * windows are generated in-scan and map-side joined, so only flagged
    * (id, position) pairs — bounded by the contamination, not the corpus —
    * ever enter an exchange. The rebuild pass re-scans the corpus and
    * map-side joins the per-doc run lists back (`broadcastRuns = false`
    * switches to a shuffle-hash join for a contamination volume too big to
    * broadcast — at that point the right call is usually [[clean]]).
    * The corpus text itself never crosses an exchange on either pass.
    *
    * Output: every `train` column with `textCol` REPLACED by the scrubbed
    * text, plus (n_tokens, removed_tokens, n_spans). Join keys are 62-bit
    * [[graft.functions.WideWindowHashes]] longs: a window-hash collision
    * here DESTROYS an L-token run of legitimate text, and corpus-side
    * window counts dwarf the ~50k birthday bound of a 31-bit key — the
    * wide key holds 2⁻⁶²-per-pair out to ~2³¹ distinct windows.
    */
  def scrubSpans(train: DataFrame, eval: DataFrame, idCol: String,
                 textCol: String, minTokens: Int = 8,
                 broadcastRuns: Boolean = true): DataFrame =
    scrubSpansOverHashes(train,
      evalWindowHashes(eval, textCol, minTokens),
      idCol, textCol, minTokens, broadcastRuns)

  /** The eval side of [[scrubSpans]]: the DISTINCT set of every sliding
    * `minTokens`-token window hash in the eval corpus, as a one-column
    * (`h`) frame. Exposed so [[graft.streaming.StreamDecontam]] can fold
    * it once per stream instead of once per micro-batch. */
  private[graft] def evalWindowHashes(eval: DataFrame, textCol: String,
                                      minTokens: Int): DataFrame = {
    eval
      .select(posexplode(
        graft.functions.WideWindowHashes(col(textCol), minTokens)))
      .select(col("col").as("h")).distinct()
  }

  /** [[scrubSpans]] with the eval window-hash set already derived. */
  private[graft] def scrubSpansOverHashes(train: DataFrame, eh: DataFrame,
      idCol: String, textCol: String, minTokens: Int,
      broadcastRuns: Boolean): DataFrame = {
    require(minTokens >= 1, "minTokens must be >= 1")
    val L = minTokens
    // `keep` are column NAMES already present on `df`; window hashing is
    // the codegen'd [[graft.functions.WideWindowHashes]] — one in-scan loop
    // per document, where the HOF transform/slice/concat_ws formulation
    // pays an interpreted lambda and a string build PER WINDOW
    def winHashes(df: DataFrame, keep: Seq[String]): DataFrame = df
      .select(keep.map(col) :+
        posexplode(graft.functions.WideWindowHashes(col(textCol), L)): _*)
      .select(keep.map(col) :+ (col("pos") + 1).as("p") :+ col("col").as("h"): _*)
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("p")
    val runs = winHashes(train.select(col(idCol).as("id"), col(textCol)), Seq("id"))
      .join(broadcast(eh), "h") // map-side: corpus windows never shuffle
      .select("id", "p")
      .withColumn("_brk",
        when(col("p") - lag("p", 1).over(wId) <= L, 0).otherwise(1))
      .withColumn("_grp", sum("_brk").over(wId))
      .groupBy("id", "_grp").agg(min("p").as("p0"), max("p").as("p1"))
      // disjoint intervals: independently sorted start/end arrays stay
      // aligned, which is exactly the shape ScrubTokens' merge-walk wants
      .groupBy("id")
      .agg(sort_array(collect_list(col("p0").cast("int"))).as("_s"),
        sort_array(collect_list((col("p1") + (L - 1)).cast("int"))).as("_e"),
        count(lit(1)).as("n_spans"))
    val runsSide =
      if (broadcastRuns) broadcast(runs)
      else runs.hint("shuffle_hash")
    val passthrough = train.columns.filter(_ != textCol).map(col).toSeq
    // rebuild pass, fully codegen'd: TokenStats counts the original
    // tokens, ScrubTokens drops covered positions in one merge-walk —
    // both in-scan (the HOF filter/exists/transform chain they replace
    // is interpreted per token)
    val empty = array().cast("array<int>")
    train
      .join(runsSide, train(idCol) === runs("id"), "left")
      .withColumn("_n", graft.functions.TokenStats(col(textCol))
        .getField("n_tokens").cast("int"))
      .withColumn("_sc", graft.functions.ScrubTokens(col(textCol),
        coalesce(col("_s"), empty), coalesce(col("_e"), empty)))
      .select(passthrough
        :+ col("_sc").getField("text").as(textCol)
        :+ col("_n").cast("long").as("n_tokens")
        :+ (col("_n") - col("_sc").getField("kept")).cast("long")
          .as("removed_tokens")
        :+ coalesce(col("n_spans"), lit(0L)).as("n_spans"): _*)
  }
}
