package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference-model language-quality scoring — the LM-perplexity filter of
  * the CCNet / Gopher / RefinedWeb pipelines: train an n-gram language
  * model on a trusted reference slice, score every corpus document by its
  * likelihood under that model, and let the curation stage drop (or
  * down-weight) the low-likelihood tail. The published pipelines use a
  * 5-gram KenLM over Wikipedia; the in-engine analog is an add-one-smoothed
  * BIGRAM model whose reference slice is any caller-chosen predicate (a
  * content-hash sample, a `source` whitelist, a language).
  *
  * EXACT-INTEGER contract (the q48 trade): true perplexity is
  * `exp(-mean(ln p))`, but libm `ln`/`exp` differ across engines, so a
  * float score would break bitwise oracle parity. Instead each bigram
  * occurrence scores the smoothed conditional in parts-per-million —
  * `p_ppm = ((c12 + 1) · 10⁶) div (c1 + V)` with bigram count `c12`,
  * unigram-context count `c1`, and vocabulary size `V` — and a document
  * reports the exact integer mean and minimum of its occurrence scores.
  * The mean-of-p ranking is not identical to geometric-mean-of-p
  * (perplexity proper), but both are monotone per-occurrence and the
  * integer form is replayable bit-for-bit by any engine. All hashes are
  * [[graft.functions.PolyHash]] longs (the documented 2⁻³¹-per-pair
  * collision trade, identical on the oracle side).
  *
  * Scale shape (the [[Decontaminate]] contract): the reference slice is
  * bounded by construction — a curated corpus, not a crawl — so both count
  * tables BROADCAST and the corpus is scored in its scan stage: tokens are
  * hashed in-scan by the codegen'd [[graft.functions.WindowHashes]]
  * (unigrams L=1, bigrams L=2), the model lookups are map-side, and the
  * only corpus-volume exchange carries partially-aggregated
  * (id, 4 longs) rows — the text itself never shuffles. The model trains
  * in ONE reference pass (a union-aggregate over both gram orders,
  * checkpointed because it feeds three consumers); vocabulary size enters
  * as a broadcast single-row crossJoin over the checkpointed blocks, not
  * a driver action. `broadcastModel = false` switches
  * the model lookups to shuffle-hash joins for a reference corpus too big
  * to broadcast — the same honest fallback gate as the dedup family.
  *
  * Reference anchor: generalizes `hnarchive.py`'s derived-column filter
  * tier (select/filter on computed attributes, hnarchive.py:544-560) to a
  * learned per-document attribute.
  */
object LmQuality {

  /** Score every `docs` row against the bigram model trained on
    * `docs.filter(refFilter)`. Output: one row per input document —
    * (idCol, n_bigrams, oov_bigrams, avg_p_ppm, min_p_ppm), where
    * `oov_bigrams` counts occurrences whose bigram the reference never
    * saw, and the ppm scores are NULL for documents with fewer than two
    * tokens (nothing to score — the caller's threshold decides their
    * fate explicitly rather than inheriting a fake 0).
    */
  def score(docs: DataFrame, refFilter: Column, idCol: String,
            textCol: String, broadcastModel: Boolean = true): DataFrame = {
    def grams(df: DataFrame, n: Int) =
      df.select(explode(graft.functions.WindowHashes(col(textCol), n)).as("h"),
        lit(n).as("n"))
    val ref = docs.filter(refFilter)
    // ONE model: both gram orders count through a single union-aggregate,
    // eager-materialized because it has three consumers (unigram lookups,
    // bigram lookups, vocabulary size) — left lazy, Catalyst would re-scan
    // and re-tokenize the reference slice once per consumer. The
    // checkpoint holds (n, hash, count) rows bounded by the reference
    // vocabulary, the same justified-checkpoint contract as
    // [[Decontaminate.flaggedBloom]]'s twice-consumed eval side.
    val model = grams(ref, 1).union(grams(ref, 2))
      .groupBy("n", "h").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val uni = model.filter(col("n") === 1)
      .select(col("h").as("h1"), col("c").as("c1"))
    val bi = model.filter(col("n") === 2)
      .select(col("h").as("h12"), col("c").as("c12"))
    // vocabulary size as a broadcast row over the checkpointed blocks;
    // greatest(v, 1) keeps the smoothing denominator positive for an
    // empty reference slice (everything OOV at uniform p = 10⁶ ppm)
    val vocab = uni.agg(greatest(count(lit(1)), lit(1L)).as("v"))
    // per-occurrence (bigram hash, context-unigram hash) via the fused
    // one-pass [[graft.functions.BigramPairs]] — the corpus-side hot
    // loop tokenizes each document once, not once per gram order
    val occ = docs
      .select(col(idCol).as("id"),
        explode(graft.functions.BigramPairs(col(textCol))).as("z"))
      .select(col("id"), col("z.h12").as("h12"), col("z.h1").as("h1"))
    val (uniSide, biSide) =
      if (broadcastModel) (broadcast(uni), broadcast(bi))
      else (uni.hint("shuffle_hash"), bi.hint("shuffle_hash"))
    val scored = occ
      .join(biSide, Seq("h12"), "left")
      .join(uniSide, Seq("h1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("_p",
        expr("((coalesce(c12, 0) + 1) * 1000000) div (coalesce(c1, 0) + v)"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12").isNull, 1L).otherwise(0L)).as("oov_bigrams"),
        expr("sum(_p) div count(1)").as("avg_p_ppm"),
        min(col("_p")).as("min_p_ppm"))
    // every document gets a row, scored or not: the id-keyed join carries
    // (id, 4 longs) — never text — and its exchange co-partitions with the
    // aggregation above it
    docs.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("oov_bigrams"), lit(0L)).as("oov_bigrams"),
        col("avg_p_ppm"), col("min_p_ppm"))
  }
}
