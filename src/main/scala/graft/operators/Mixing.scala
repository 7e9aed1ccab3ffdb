package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis.strHash

/** Corpus mixing for the training-data pipeline: control how much each
  * domain/source contributes to the training set. Two deterministic
  * policies, both content-addressed (a stable hash of the document id, so
  * membership is reproducible and append-stable — adding documents never
  * flips an existing decision for rate mixing; for quota sampling it can
  * only displace the largest-hash members, never reorder survivors):
  *
  *  - [[quotaSample]]: cap every group at exactly `quota` documents — the
  *    domain-balancing step ("no source exceeds N docs/tokens").
  *  - [[rateMix]]: keep a per-group FRACTION (Pile/Dolma-style static
  *    mixture weights).
  *
  * Scale shapes: quota sampling uses the bounded [[TopKAgg]] buffer
  * (map-side partial aggregation ships ≤ quota rows per group per
  * partition — never a full per-group sort; the regime gate is quota
  * small enough that quota rows fit an executor, same contract as any
  * top-k). Rate mixing is a pure map-side filter — zero shuffle at any
  * corpus size; only the per-group summary aggregates.
  */
object Mixing {

  /** Deterministic per-group cap: keep the `quota` documents with the
    * smallest (hash(id), id) per group. Output: (groupCol, rank, idCol),
    * rank 1-based in hash order.
    */
  def quotaSample(docs: DataFrame, idCol: String, groupCol: String,
                  quota: Int): DataFrame = {
    require(quota >= 1, "quota must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val base: Dataset[(String, Long, Long)] = docs
      .select(col(groupCol).cast("string").as("g"),
        col(idCol).cast("long").as("id"),
        strHash(col(idCol).cast("string")).as("hv"))
      .as[(String, Long, Long)]
    // TopKAgg keeps the k HIGHEST scores; ascending hash order = negated
    // score (hv < 2^31 is exact in a Double), id ascending tie-break.
    val agg = TopKAgg.topK[(String, Long, Long)](quota) {
      case (_, id, hv) => (-hv.toDouble, id)
    }
    base.groupByKey(_._1).agg(agg.toColumn.name("top"))
      .flatMap { case (g, entries) =>
        entries.zipWithIndex.map { case ((_, id), i) => (g, (i + 1).toLong, id) }
      }
      .toDF(groupCol, "rank", idCol)
  }

  /** The per-mille rate a row's group resolves to — ONE definition shared
    * by the filter and its audit so they cannot drift. */
  private def rateExpr(groupCol: String, ratesMilli: Map[String, Int],
                       defaultMilli: Int): org.apache.spark.sql.Column = {
    require((ratesMilli.values ++ Seq(defaultMilli)).forall(r => r >= 0 && r <= 1000),
      "rates are per-mille: 0..1000")
    ratesMilli.foldLeft(lit(defaultMilli)) { case (acc, (g, r)) =>
      when(col(groupCol) === g, lit(r)).otherwise(acc)
    }
  }

  /** Static-mixture filter: keep a document iff
    * `hash(id) % 1000 < ratesMilli(group)` (missing groups use
    * `defaultMilli`). Returns the kept rows of `docs`, all columns. */
  def rateMix(docs: DataFrame, idCol: String, groupCol: String,
              ratesMilli: Map[String, Int],
              defaultMilli: Int = 1000): DataFrame = {
    val rate = rateExpr(groupCol, ratesMilli, defaultMilli)
    docs.filter(strHash(col(idCol).cast("string")) % 1000 < rate)
  }

  /** Temperature-weighted mixture (the `n_s^alpha` pretraining mix at
    * T = 2, i.e. alpha = 1/2): each source's share of a global `budget`
    * of documents is proportional to sqrt(n_s), flattening the head
    * domains and up-weighting the tail — the standard multilingual /
    * multi-domain rebalance. Rates derive per-source, then membership is
    * the same content-addressed hash filter as [[rateMix]] (parts-per-
    * million resolution — per-mille is too coarse for the small rates a
    * large budget-to-source ratio produces).
    *
    * Exactness contract (what makes the oracle replayable bit-for-bit on
    * another engine): the ONLY floating-point op is `sqrt`, which IEEE
    * 754 requires exactly rounded on every platform; everything after is
    * integer arithmetic —
    *   w_s        = floor(sqrt(n_s) * 1000)         milli-sqrt weight
    *   q_s        = budget * w_s div W              integer division
    *   rate_ppm_s = min(1e6, q_s * 1e6 div n_s)
    *   keep(doc)  = ((hash(id) * 2654435761) mod P) mod 1e6 < rate_ppm_s
    * Overflow bound: budget * w_s and q_s * 1e6 must fit a long —
    * enforced, and generous (budget 1e9 against a 1e12-doc source).
    *
    * Scale shape: one map-side-combined agg for the per-source counts (a
    * handful of rows), the rate table derives on those rows (a single
    * tiny window), and the mix itself is a broadcast-joined map-side
    * filter — the corpus is scanned, never shuffled.
    *
    * Output: (groupCol, n_total, w, quota, rate_ppm, n_kept) — the audit
    * summary. Use [[temperatureMixDocs]] for the kept rows themselves. */
  def temperatureMix(docs: DataFrame, idCol: String, groupCol: String,
                     budget: Long): DataFrame = {
    val rates = temperatureRates(docs, groupCol, budget)
    docs
      .select(col(groupCol).as("g"), (ppmHash(idCol) % 1000000).as("hv"))
      .join(broadcast(rates), Seq("g"))
      .groupBy("g", "n_total", "w", "quota", "rate_ppm")
      .agg(sum((col("hv") < col("rate_ppm")).cast("long")).as("n_kept"))
      .select(col("g").as(groupCol), col("n_total"), col("w"), col("quota"),
        col("rate_ppm"), col("n_kept"))
  }

  /** The kept rows of `docs` under the [[temperatureMix]] policy. */
  def temperatureMixDocs(docs: DataFrame, idCol: String, groupCol: String,
                         budget: Long): DataFrame = {
    val rates = temperatureRates(docs, groupCol, budget)
      .select(col("g"), col("rate_ppm"))
    docs
      .join(broadcast(rates), docs(groupCol) === col("g"))
      .filter(ppmHash(idCol) % 1000000 < col("rate_ppm"))
      .drop("g", "rate_ppm")
  }

  /** Membership hash at ppm resolution. The raw polyhash of same-length
    * id strings varies only in a ~9k-wide window (digits contribute at
    * most 9*(31^2+31+1) per position and nothing wraps the 2^31-1
    * modulus), so `hash(id) % 1e6` has almost no entropy exactly where
    * ppm rates need it. A Knuth multiplicative mix fixes it EXACTLY:
    * `h * K mod P` is a bijection on [0, P) for K coprime to the prime P,
    * so the clustered window scatters across the full range — pure
    * integer arithmetic (h < 2^31, K < 2^32: the product fits a long),
    * replayed verbatim by the oracle. rateMix's per-mille filter keeps
    * the raw hash — per-mille sits inside even a short id's entropy, and
    * its decisions are pinned append-stable. */
  private val MixK = 2654435761L // Knuth's 2^32 / phi, coprime to P
  private def ppmHash(idCol: String): org.apache.spark.sql.Column =
    (strHash(col(idCol).cast("string")) * lit(MixK)) %
      lit(graft.functions.TextAnalysis.P)

  /** (g, n_total, w, quota, rate_ppm) per source — the integer-exact rate
    * derivation above, computed in-plan (the source table is a handful of
    * rows; the empty-frame window is a single tiny exchange). */
  private def temperatureRates(docs: DataFrame, groupCol: String,
                               budget: Long): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    require(budget <= 1000000000L,
      "budget must be <= 1e9 (keeps budget * w inside a long for any " +
        "source up to ~8e13 docs)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    docs
      .groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("w", floor(sqrt(col("n_total")) * 1000).cast("long"))
      .withColumn("wsum", sum(col("w")).over(w))
      .withColumn("quota", expr(s"($budget * w) div wsum"))
      .withColumn("rate_ppm",
        least(lit(1000000L), expr("(quota * 1000000) div n_total")))
      .drop("wsum")
  }

  /** TOKEN-budget temperature mixture — [[temperatureMix]] with the size
    * measure real pretraining mixes on: a source's weight is
    * sqrt(total TOKENS), the global `budget` is a token budget, and the
    * audit reports expected-kept tokens. Document-count weighting
    * misallocates badly when sources differ in document length (a
    * 100-token-avg web source vs a 10k-token-avg book source: doc-count
    * sqrt-weighting hands the book source ~100× the tokens its share
    * intends); published mixtures (Pile, Llama, Dolma) are all stated in
    * tokens. Membership stays DOCUMENT-granular (a training example is a
    * document) through the same content-addressed ppm hash — the hash is
    * independent of length, so kept tokens ≈ rate · total_tokens meets
    * the quota in expectation.
    *
    * Same exactness contract as [[temperatureMix]] (IEEE-exact sqrt, then
    * pure integer arithmetic), replayed bit-for-bit by the oracle:
    *   T_s        = sum of per-doc token counts (in-scan TokenStats)
    *   w_s        = floor(sqrt(T_s) * 1000)
    *   q_s        = budget * w_s div W          (token quota)
    *   rate_ppm_s = min(1e6, q_s * 1e6 div T_s)
    *   keep(doc)  = ppm-hash(id) < rate_ppm_s
    * Overflow: budget ≤ 1e9 keeps budget·w in a long for sources up to
    * ~8e13 tokens (enforced, same bound as the doc variant).
    *
    * Scale shape: token counting rides the scan (codegen'd TokenStats);
    * one map-side-combined agg derives the per-source table; the mix is
    * a broadcast-joined map-side filter — the corpus never shuffles.
    *
    * Output: (groupCol, n_docs, total_tokens, w, quota_tokens, rate_ppm,
    * n_kept, kept_tokens). Use [[temperatureMixTokensDocs]] for the rows. */
  def temperatureMixTokens(docs: DataFrame, idCol: String, groupCol: String,
                           textCol: String, budget: Long): DataFrame = {
    val (base, rates) = tokenRateTables(docs, idCol, groupCol, textCol, budget)
    base
      .join(broadcast(rates), Seq("g"))
      .groupBy("g", "n_docs", "total_tokens", "w", "quota_tokens", "rate_ppm")
      .agg(sum((col("hv") < col("rate_ppm")).cast("long")).as("n_kept"),
        sum(when(col("hv") < col("rate_ppm"), col("_nt"))
          .otherwise(lit(0L))).as("kept_tokens"))
      .select(col("g").as(groupCol), col("n_docs"), col("total_tokens"),
        col("w"), col("quota_tokens"), col("rate_ppm"), col("n_kept"),
        col("kept_tokens"))
  }

  /** The kept rows of `docs` under the [[temperatureMixTokens]] policy. */
  def temperatureMixTokensDocs(docs: DataFrame, idCol: String,
                               groupCol: String, textCol: String,
                               budget: Long): DataFrame = {
    val (_, rates) = tokenRateTables(docs, idCol, groupCol, textCol, budget)
    docs
      .join(broadcast(rates.select(col("g"), col("rate_ppm"))),
        docs(groupCol) === col("g"))
      .filter(ppmHash(idCol) % 1000000 < col("rate_ppm"))
      .drop("g", "rate_ppm")
  }

  /** Shared derivation for the token-budget mix: the per-doc scan frame
    * (g, token count, ppm hash) and the per-source rate table. */
  private def tokenRateTables(docs: DataFrame, idCol: String,
      groupCol: String, textCol: String,
      budget: Long): (DataFrame, DataFrame) = {
    require(budget >= 1, "budget must be >= 1")
    require(budget <= 1000000000L,
      "budget must be <= 1e9 (keeps budget * w inside a long for any " +
        "source up to ~8e13 tokens)")
    val nTok = graft.functions.TokenStats(col(textCol))
      .getField("n_tokens").cast("long")
    val base = docs.select(col(groupCol).cast("string").as("g"),
      nTok.as("_nt"), (ppmHash(idCol) % 1000000).as("hv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val rates = base
      .groupBy("g")
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("total_tokens"))
      .withColumn("w", floor(sqrt(col("total_tokens")) * 1000).cast("long"))
      .withColumn("wsum", sum(col("w")).over(w))
      .withColumn("quota_tokens", expr(s"($budget * w) div wsum"))
      .withColumn("rate_ppm",
        least(lit(1000000L), expr("(quota_tokens * 1000000) div total_tokens")))
      .drop("wsum")
    (base, rates)
  }

  /** WATER-FILLING mixture plan — an EXPLICIT target recipe (source →
    * weight, the published sampling-proportion table every pretraining
    * run is configured with) honored against per-source token
    * AVAILABILITY under a global token budget. The temperature mixers
    * derive weights from sizes and CLIP an oversubscribed source at
    * rate 1.0, silently losing its unfilled share of the budget; this
    * solver REDISTRIBUTES it — the standard water-filling iteration,
    * round-synchronous and integer end to end so the whole plan replays
    * in the oracle:
    *
    *   round k: every unresolved source is offered
    *   `desired = remB · w div sumw` (remB = budget minus all fixed
    *   takes, sumw = unresolved weight mass; 0 when sumw = 0). Sources
    *   whose offer covers their whole stock SATURATE (take = avail,
    *   their unfilled share returns to the pool); a round with no new
    *   saturation fixes every remaining source at its offer.
    *
    * Terminates in ≤ |sources|+1 rounds (each non-final round saturates
    * ≥ 1 source). Per-source floors may strand a few tokens of budget —
    * exact integer semantics beat chasing the last ulp of a double.
    * The one distributed step is the per-source token aggregation (one
    * scan, map-side combined); the solver runs on the bounded
    * per-source table driver-side, like the codebook trainers. Every
    * source must appear in the recipe (a source the recipe never heard
    * of is a data bug — loud), and `avail = 0` sources saturate at
    * take 0 in round 1 by the same arithmetic.
    *
    * `maxEpochs` is the DATA-CONSTRAINED knob (the Muennighoff et al.
    * 2023 regime: scarce high-quality sources repeat for several
    * epochs before the recipe gives up their share): a source's
    * effective stock becomes `avail · maxEpochs`, so `take` may exceed
    * one pass and `rate_ppm = take·10⁶ div avail` goes PAST 10⁶ —
    * read it as micro-epochs (2.5e6 = 2.5 passes). Repetition is the
    * packing/shuffle stage's job; [[mixturePlanDocs]] keeps every doc
    * of a source at rate ≥ 10⁶ and cannot express the extra passes.
    *
    * Output: (sourceCol, avail_tokens, weight_ppm, take_tokens,
    * rate_ppm, round_fixed) — `rate_ppm` is the knob for the
    * content-addressed ppm gate ([[mixturePlanDocs]]), `round_fixed`
    * pins WHICH round resolved each source (the algorithm's structure,
    * not just its answer). */
  def mixturePlan(docs: DataFrame, idCol: String, sourceCol: String,
                  textCol: String, weightsPpm: Map[String, Long],
                  budget: Long, maxEpochs: Long = 1L): DataFrame = {
    require(budget >= 1 && budget <= 1000000000L,
      "budget must be in [1, 1e9] (keeps budget * w inside a long)")
    require(maxEpochs >= 1 && maxEpochs <= 100L,
      "maxEpochs must be in [1, 100]")
    require(weightsPpm.values.forall(w => w >= 0 && w <= 1000000L),
      "recipe weights must be in [0, 1e6] ppm")
    val nTok = graft.functions.TokenStats(col(textCol))
      .getField("n_tokens").cast("long")
    val totals = docs
      .select(col(sourceCol).cast("string").as("g"), nTok.as("_nt"))
      .groupBy("g").agg(sum(col("_nt")).as("avail"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val missing = totals.map(_._1).filterNot(weightsPpm.contains)
    require(missing.isEmpty,
      s"recipe has no weight for sources: ${missing.mkString(", ")}")
    val n = totals.length
    // the solver fills against the EFFECTIVE stock (epoch-capped);
    // reporting stays in single-pass avail so rate_ppm reads as
    // micro-epochs
    val avail = totals.map(_._2 * maxEpochs)
    val w = totals.map(t => weightsPpm(t._1))
    val take = Array.fill(n)(-1L)
    val rnd = Array.fill(n)(-1L)
    var k = 1L
    while (take.contains(-1L)) {
      val remB = budget - take.filter(_ >= 0).sum
      val sumw = (0 until n).filter(take(_) < 0).map(w(_)).sum
      val des = (0 until n).map { i =>
        if (take(i) >= 0) -1L
        else if (sumw == 0) 0L
        else remB * w(i) / sumw
      }
      val anySat = (0 until n)
        .exists(i => take(i) < 0 && des(i) >= avail(i))
      (0 until n).foreach { i =>
        if (take(i) < 0) {
          if (des(i) >= avail(i)) { take(i) = avail(i); rnd(i) = k }
          else if (!anySat) { take(i) = des(i); rnd(i) = k }
        }
      }
      k += 1
    }
    val spark = docs.sparkSession
    import spark.implicits._
    totals.indices.map { i =>
      (totals(i)._1, totals(i)._2, w(i), take(i),
        if (totals(i)._2 == 0) 0L
        else take(i) * 1000000L / totals(i)._2, rnd(i))
    }.toDF(sourceCol, "avail_tokens", "weight_ppm", "take_tokens",
      "rate_ppm", "round_fixed")
  }

  /** The kept rows of `docs` under a [[mixturePlan]] — per-source
    * rate_ppm applied as the content-addressed ppm-hash gate (the
    * temperature mixers' membership rule: deterministic, join is a
    * broadcast of the bounded plan, corpus never shuffles). */
  def mixturePlanDocs(docs: DataFrame, idCol: String, sourceCol: String,
                      textCol: String, weightsPpm: Map[String, Long],
                      budget: Long, maxEpochs: Long = 1L): DataFrame = {
    val plan = mixturePlan(docs, idCol, sourceCol, textCol, weightsPpm,
      budget, maxEpochs)
    docs
      .join(broadcast(plan.select(col(sourceCol).as("_g"),
        col("rate_ppm"))), docs(sourceCol) === col("_g"))
      .filter(ppmHash(idCol) % 1000000 < col("rate_ppm"))
      .drop("_g", "rate_ppm")
  }

  /** The REPETITION-EXPANDED corpus of an epoch-capped [[mixturePlan]] —
    * what a data-constrained recipe actually feeds the dataloader: each
    * document of a source at `rate_ppm` appears `rate div 10⁶` times
    * (the full micro-epochs) plus once more under the content-addressed
    * ppm gate at `rate mod 10⁶` (the partial epoch — per-DOCUMENT
    * sampling, the same membership rule every mixer here uses, so the
    * expected emitted token mass per source is its `take_tokens`).
    * Output: every input column plus `epoch_no` (1-based; the partial
    * epoch is the LAST number). Compose downstream with
    * [[epochShuffle]]/[[curriculumOrder]] keyed on (idCol, epoch_no) so
    * repeated copies scatter instead of clustering. One broadcast of
    * the bounded plan + an in-scan explode — the corpus never shuffles
    * here. */
  def mixtureEpochsDocs(docs: DataFrame, idCol: String, sourceCol: String,
                        textCol: String, weightsPpm: Map[String, Long],
                        budget: Long, maxEpochs: Long = 1L): DataFrame = {
    val plan = mixturePlan(docs, idCol, sourceCol, textCol, weightsPpm,
      budget, maxEpochs)
    val nFull = (col("rate_ppm") / 1000000L).cast("long")
    val partial = col("rate_ppm") % 1000000L
    val nCopies = nFull +
      (ppmHash(idCol) % 1000000 < partial).cast("long")
    docs
      .join(broadcast(plan.select(col(sourceCol).as("_g"),
        col("rate_ppm"))), docs(sourceCol) === col("_g"))
      .withColumn("_nc", nCopies)
      .withColumn("epoch_no", explode(when(col("_nc") >= 1,
        sequence(lit(1L), col("_nc")))
        .otherwise(array().cast("array<long>"))))
      .drop("_g", "rate_ppm", "_nc")
  }

  /** Per-group audit of a [[rateMix]] decision: group, total, kept, and
    * the applied per-mille rate. One scan, one small agg. */
  def rateMixSummary(docs: DataFrame, idCol: String, groupCol: String,
                     ratesMilli: Map[String, Int],
                     defaultMilli: Int = 1000): DataFrame = {
    val rate = rateExpr(groupCol, ratesMilli, defaultMilli)
    docs
      .select(col(groupCol).as("g"),
        rate.cast("long").as("rate_milli"),
        (strHash(col(idCol).cast("string")) % 1000 < rate).cast("long").as("keep"))
      .groupBy("g", "rate_milli")
      .agg(count(lit(1)).as("n_total"), sum(col("keep")).as("n_kept"))
      .select(col("g").as(groupCol), col("rate_milli"), col("n_total"),
        col("n_kept"))
  }

  /** Deterministic EPOCH SHUFFLE — the training-data ORDERING step: a
    * dataloader wants each epoch to visit documents in a different
    * pseudo-random order, reproducibly (job restarts resume mid-epoch
    * at a (shard, pos) address) and without coordination (any worker
    * can recompute any document's position). The shuffle key is the
    * Knuth-mixed content hash of `seed ++ ":" ++ id` (the [[ppmHash]]
    * lesson applies with full force here: the raw polyhash of
    * same-length id strings is nearly MONOTONE in the id and spans a
    * tiny window, which would make the "shuffle" the identity order in
    * one shard; `h · K mod P` is a bijection that scatters it across
    * the full range, pure integer arithmetic, oracle-replayable) —
    * change `seed` per epoch for a fresh permutation, keep it for
    * bit-identical replay — documents land in `nShards` shards by key
    * range-arithmetic (shard = key · nShards div 2³¹: contiguous key
    * ranges, so shard files are key-sorted slices of ONE global
    * permutation, not nShards unrelated ones), and `pos` is the rank
    * within the shard by (key, id).
    *
    * This is the library's one DELIBERATELY-shuffling operator: its
    * output IS a global reordering, so the per-shard window exchange is
    * the operator's essential cost, not overhead — one hash-partitioned
    * window over (shard, key, id) triples; text/payload columns ride
    * exactly one exchange. NOT append-stable by design (inserting a
    * document shifts positions after it — an epoch order is a frozen
    * artifact; re-derive it per corpus release, like a pack index).
    * Output: every input column plus (shard, pos). */
  def epochShuffle(docs: DataFrame, idCol: String, seed: Long,
                   nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val key = (strHash(concat(lit(seed.toString), lit(":"),
      col(idCol).cast("string"))) * lit(MixK)) %
      lit(graft.functions.TextAnalysis.P)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shard")
      .orderBy(col("_ek").asc, col(idCol).asc)
    docs.withColumn("_ek", key)
      .withColumn("shard", call_function("div",
        col("_ek") * nShards, lit(graft.functions.TextAnalysis.P.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_ek")
  }

  /** CURRICULUM schedule — [[epochShuffle]] composed with the
    * classifier tier: the training order most quality-curriculum
    * recipes want is "highest-quality documents first, random order
    * WITHIN a quality band", and this operator makes that a frozen,
    * coordination-free artifact. `tier` counts the rungs of the
    * threshold ladder the document's per-feature evidence clears
    * (`score ≥ thr·n_feat`, the [[Classify.qualityGate]]
    * multiplication-form predicate at every rung — q109's calibration
    * table is how a deployment picks the ladder); within a tier the
    * order is the deterministic Knuth-mixed shuffle key, sliced into
    * `nShards` contiguous-key-range shards exactly like the epoch
    * shuffle — so a dataloader walks (tier DESC, shard ASC, pos ASC)
    * and gets tiers in quality order, each tier internally a single
    * global permutation sliced into shard files.
    *
    * Feature-free documents clear EVERY rung by the same arithmetic
    * (score 0 ≥ thr·0) and so land in the TOP tier — consistent with
    * the gate convention (nothing to judge them by; length-gate
    * empties upstream if that is wrong for the run). One scan computes
    * score and tier (the weight table rides as a literal); the one
    * exchange is the (tier, shard) window — the operator's output IS
    * an ordering, q100's essential-cost argument. Output: every input
    * column plus (tier, shard, pos). */
  def curriculumOrder(docs: DataFrame, idCol: String, textCol: String,
                      weights: IndexedSeq[Long], thresholds: Seq[Long],
                      seed: Long, nShards: Int,
                      ngram: Int = 1): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    require(thresholds.nonEmpty, "empty threshold ladder")
    require(thresholds.distinct.size == thresholds.size,
      "duplicate thresholds in the ladder")
    val nf = size(dsirFeatStrings(col(textCol), ngram)).cast("long")
    // pin_eval: `tier` (a window partition key and a downstream
    // join/group key in the pack chains) derives from the evidence
    // score; inferred isnotnull/join constraints pushed below this
    // projection would re-expand the whole per-token score fold into a
    // Filter, doubling the scan stage (q123's round-17 plan did)
    val score =
      graft.functions.PinEval.pin(Classify.scoreExpr(col(textCol), weights, ngram))
    val tier = thresholds.sorted
      .map(t => (col("_sc") >= lit(t) * col("_nf")).cast("long"))
      .reduce(_ + _)
    val key = (strHash(concat(lit(seed.toString), lit(":"),
      col(idCol).cast("string"))) * lit(MixK)) %
      lit(graft.functions.TextAnalysis.P)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("tier", "shard")
      .orderBy(col("_ek").asc, col(idCol).asc)
    docs.withColumn("_nf", nf).withColumn("_sc", score)
      .withColumn("tier", tier)
      .withColumn("_ek", key)
      .withColumn("shard", call_function("div",
        col("_ek") * nShards, lit(graft.functions.TextAnalysis.P.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_nf", "_sc", "_ek")
  }

  /** DSIR-style IMPORTANCE WEIGHTS (Xie et al.'s data-selection-with-
    * importance-resampling shape on hashed features): score every raw
    * document by how target-like its hashed-unigram profile is —
    * weight = Π over the doc's (distinct, sorted, capped) feature
    * buckets of `(target_ppm + 1) / (raw_ppm + 1)` — so resampling the
    * raw corpus by these weights tilts the mixture toward the TARGET
    * distribution (an in-domain reference slice) without training a
    * classifier. Compose with the existing deterministic samplers: the
    * weight becomes a per-doc rate, or a [[quotaSample]]/top-k cut.
    *
    * ORACLE-EXACT by construction, transcendental-free: bucket
    * distributions are exact integer ppm (`cnt · 10⁶ div total`), the
    * per-bucket ratio is ONE double division, and the per-doc weight is
    * a deterministic ascending-bucket product fold — the same IEEE
    * sequence DuckDB replays with `list_reduce` (q99; no log-space
    * arithmetic, whose libm would diverge cross-engine — the repo's
    * integer-first discipline applied to importance sampling).
    *
    * Scale shape: two bounded bucket aggregations (output ≤ `buckets`
    * rows each — raw corpus + target slice), the ratio table rides into
    * the scan as a `buckets`-length literal (the codebook discipline),
    * and scoring is IN-SCAN per row (hash, distinct, sort, capped fold
    * — no join, no shuffle). `maxFeatures` bounds the fold and keeps
    * long documents from saturating double range. Docs with no tokens
    * score weight 1 (nothing to judge them by — the LM-quality
    * convention). `ngram` selects the feature order: 1 = hashed
    * unigrams (q99's oracle contract), 2/3 = hashed word n-grams — the
    * DSIR paper's features, which separate corpora whose unigram
    * PROFILES are identical but whose word ORDER differs (spec-pinned).
    * Output: (idCol, n_feat, weight_r). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  target: DataFrame, targetTextCol: String,
                  buckets: Int = 1024, maxFeatures: Int = 64,
                  ngram: Int = 1): DataFrame = {
    val ratio = dsirRatio(docs, textCol, target, targetTextCol, buckets,
      ngram)
    dsirScoreWith(docs, idCol, textCol, ratio, maxFeatures, ngram)
  }

  /** Feature strings of a text column: the non-empty tokens (ngram=1)
    * or their space-joined n-grams — the DSIR paper's hashed n-gram
    * features; `ngram = 2` separates corpora whose UNIGRAM profiles are
    * identical but whose word order differs (MixingSpec pins the case).
    * NULL text yields the empty feature array. */
  private[operators] def dsirFeatStrings(tcol: Column, ngram: Int): Column = {
    val toks = filter(
      coalesce(graft.functions.TextAnalysis.tokens(tcol),
        array().cast("array<string>")),
      w => w =!= "")
    if (ngram == 1) toks
    else
      // guard: sequence(1, 0) would generate DESCENDING — short docs
      // (< ngram tokens) have no n-gram features at all
      when(size(toks) < ngram, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (ngram - 1)),
          i => concat_ws(" ",
            (0 until ngram).map(j => element_at(toks, i + lit(j))): _*)))
  }

  /** The per-bucket importance-ratio table (target_ppm + 1) / (raw_ppm
    * + 1) — [[dsirWeights]]' DISTRIBUTION stage, exposed so the books
    * can be FROZEN and reused ([[graft.streaming.StreamDsir]]): two
    * bounded bucket aggregations, each output ≤ `buckets` rows. */
  def dsirRatio(docs: DataFrame, textCol: String, target: DataFrame,
                targetTextCol: String, buckets: Int = 1024,
                ngram: Int = 1): IndexedSeq[Double] = {
    require(buckets >= 2, "need at least 2 feature buckets")
    require(ngram >= 1 && ngram <= 3, "ngram must be in [1, 3]")
    val rawPpm = bucketPpm(docs, textCol, buckets, ngram, "raw")
    val tgtPpm = bucketPpm(target, targetTextCol, buckets, ngram, "target")
    IndexedSeq.tabulate(buckets)(b =>
      (tgtPpm(b) + 1).toDouble / (rawPpm(b) + 1).toDouble)
  }

  /** Hashed-feature bucket distribution of a corpus in integer PPM —
    * ONE bounded bucket aggregation (output ≤ `buckets` rows), the
    * distribution stage shared by the DSIR ratio books and the
    * [[Classify]] evidence weights. ppm values are exact integer
    * `count · 1e6 / total` (floor), the cross-engine-replayable
    * arithmetic every oracle twin re-derives. */
  private[operators] def bucketPpm(df: DataFrame, tcol: String,
                                   buckets: Int, ngram: Int,
                                   what: String): Array[Long] = {
    val rows = df
      .select(explode(dsirFeatStrings(col(tcol), ngram)).as("w"))
      .select((strHash(col("w")) % buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
      .collect()
    require(rows.nonEmpty,
      s"$what corpus has no $ngram-gram features — nothing to model")
    val counts = new Array[Long](buckets)
    rows.foreach(r => counts(r.getLong(0).toInt) = r.getLong(1))
    val total = counts.sum
    counts.map(c => c * 1000000L / total)
  }

  /** [[dsirWeights]]' SCORING stage against an EXPLICIT per-bucket
    * ratio table — the entry point for FROZEN distribution books
    * ([[graft.streaming.StreamDsir]]: books derive once from a seed
    * corpus + reference slice, then every micro-batch scores against
    * them statelessly). `ratio.length` is the bucket count. In-scan,
    * zero shuffles; NULL/token-free docs score (0 features, weight 1). */
  def dsirScoreWith(docs: DataFrame, idCol: String, textCol: String,
                    ratio: IndexedSeq[Double], maxFeatures: Int = 64,
                    ngram: Int = 1): DataFrame = {
    require(ratio.length >= 2, "ratio table needs at least 2 buckets")
    require(maxFeatures >= 1, "maxFeatures must be >= 1")
    require(ngram >= 1 && ngram <= 3, "ngram must be in [1, 3]")
    val feats = dsirFeatsCol(textCol, ratio.length, maxFeatures, ngram)
    docs.select(col(idCol), feats.as("_fb"))
      .select(col(idCol),
        size(col("_fb")).cast("long").as("n_feat"),
        dsirWeightOf(col("_fb"), ratio).as("weight_r"))
  }

  /** The capped distinct-feature-bucket array of a text column — the
    * expression [[dsirScoreWith]] and [[dsirRateMixDocs]] share, so the
    * sampler's weights are bitwise the q99 weights. NULL text folds
    * like the empty doc (weight 1, zero features). */
  private def dsirFeatsCol(textCol: String, buckets: Int,
                           maxFeatures: Int, ngram: Int): Column =
    slice(
      array_sort(array_distinct(transform(
        dsirFeatStrings(col(textCol), ngram),
        w => strHash(w) % buckets))),
      1, maxFeatures)

  /** The 6-dp ascending-bucket product fold over a feature array. */
  private def dsirWeightOf(featsCol: Column,
                           ratio: IndexedSeq[Double]): Column = {
    val ratioLit = typedlit(ratio)
    round(aggregate(featsCol, lit(1.0),
      (acc, b) => acc * element_at(ratioLit, b.cast("int") + 1)), 6)
  }

  /** DSIR-WEIGHTED SAMPLING — the importance weights composed with the
    * content-addressed ppm gate the rate/temperature mixers use: each
    * document keeps with probability PROPORTIONAL to its (clipped) DSIR
    * weight, normalized so the EXPECTED kept count equals `budget`
    * documents — importance resampling as one in-scan filter, the DSIR
    * paper's sampling step on the mixers' exact-integer machinery.
    *
    * Exactness contract (oracle-replayable end to end, q103):
    *   w_milli   = floor(min(weight_r, maxW) · 1000)      BIGINT
    *   W         = Σ w_milli                              integer sum
    *   base      = budget · 10⁹ div W                     driver Long
    *   rate_ppm  = min(10⁶, base · w_milli div 1000)
    *   keep(doc) = ((hash(id) · K) mod P) mod 10⁶ < rate_ppm
    * The only floating-point inputs are the 6-dp-rounded q99 weights
    * (bitwise cross-engine); floor/min and every division are integer.
    * Up-weighted documents sample proportionally more at the SAME
    * budget — MixingSpec pins the ≥10× direction property — and the
    * clip (`maxW`) is the DSIR practice that stops one outlier document
    * from eating the whole budget.
    *
    * Scale shape: one map-side-combined scalar agg (W), then one
    * in-scan filter — the corpus never shuffles; the ratio table rides
    * the scan as a literal like [[dsirScoreWith]]. Output: every input
    * column plus (n_feat, weight_r, rate_ppm) for the kept rows. */
  def dsirRateMixDocs(docs: DataFrame, idCol: String, textCol: String,
                      ratio: IndexedSeq[Double], budget: Long,
                      maxFeatures: Int = 64, ngram: Int = 1,
                      maxW: Double = 1000.0): DataFrame = {
    dsirSampleWith(docs, idCol, textCol, ratio,
      dsirBasePpm(docs, textCol, ratio, budget, maxFeatures, ngram, maxW),
      maxFeatures, ngram, maxW)
  }

  /** The normalization base of the weight-proportional gate:
    * `budget · 10⁹ div Σ w_milli` over `docs` — one map-side-combined
    * scalar agg. Exposed separately so a STREAM can freeze the base
    * over its seed corpus ([[graft.streaming.StreamDsir]]'s frozen-book
    * discipline applied to the sampling RATE): the rate function then
    * never depends on arrival time, so replays keep identical rows. */
  private[graft] def dsirBasePpm(docs: DataFrame, textCol: String,
                                 ratio: IndexedSeq[Double], budget: Long,
                                 maxFeatures: Int, ngram: Int,
                                 maxW: Double): Long = {
    require(ratio.length >= 2, "ratio table needs at least 2 buckets")
    require(budget >= 1 && budget <= 1000000000L,
      "budget must be in [1, 1e9] documents")
    require(maxW >= 0.001 && maxW <= 1000000.0,
      "maxW must be in [0.001, 1e6]")
    val feats = dsirFeatsCol(textCol, ratio.length, maxFeatures, ngram)
    val wMilli = floor(least(dsirWeightOf(feats, ratio), lit(maxW)) * 1000)
      .cast("long")
    val wRow = docs.select(sum(wMilli).as("w")).head()
    require(!wRow.isNullAt(0), "empty corpus: nothing to sample")
    val totalW = wRow.getLong(0)
    require(totalW >= 1,
      "every document's weight clipped to zero — the ratio table says " +
        "nothing in this corpus resembles the target")
    val basePpm = budget * 1000000000L / totalW
    require(basePpm <= Long.MaxValue / math.max(1L, (maxW * 1000).toLong),
      "budget/weight combination overflows the ppm arithmetic — lower " +
        "maxW or the budget")
    basePpm
  }

  /** The keep-filter at an EXPLICIT base — pure (no aggregation), so a
    * stream can apply it per micro-batch against a frozen base. */
  private[graft] def dsirSampleWith(docs: DataFrame, idCol: String,
                                    textCol: String,
                                    ratio: IndexedSeq[Double],
                                    basePpm: Long, maxFeatures: Int,
                                    ngram: Int, maxW: Double): DataFrame = {
    val feats = dsirFeatsCol(textCol, ratio.length, maxFeatures, ngram)
    docs
      .withColumn("n_feat", size(feats).cast("long"))
      // pin_eval: the keep-rate filter below references rate_ppm, which
      // derives from weight_r — without the pin, PushDownPredicates
      // substitutes the ENTIRE feature-hash + sort + ratio-fold subtree
      // into the pushed filter and the weight evaluates twice per row
      // (guide §4.4; q103/q105's round-17 plans shipped that way)
      .withColumn("weight_r",
        graft.functions.PinEval.pin(dsirWeightOf(feats, ratio)))
      .withColumn("rate_ppm", least(lit(1000000L),
        call_function("div",
          lit(basePpm) * floor(least(col("weight_r"), lit(maxW)) * 1000)
            .cast("long"),
          lit(1000L))))
      .filter(ppmHash(idCol) % 1000000 < col("rate_ppm"))
  }

  /** [[dsirRateMixDocs]] with the ratio table derived in place (the
    * [[dsirWeights]] composition): model the raw corpus against the
    * target slice, then sample weight-proportionally at `budget`. */
  def dsirRateMix(docs: DataFrame, idCol: String, textCol: String,
                  target: DataFrame, targetTextCol: String, budget: Long,
                  buckets: Int = 1024, maxFeatures: Int = 64,
                  ngram: Int = 1, maxW: Double = 1000.0): DataFrame =
    dsirRateMixDocs(docs, idCol, textCol,
      dsirRatio(docs, textCol, target, targetTextCol, buckets, ngram),
      budget, maxFeatures, ngram, maxW)

  /** [[dsirRateMixDocs]] in TOKEN units — the doc/token duality the
    * temperature mixers already have ([[temperatureMix]] vs
    * [[temperatureMixTokens]]), applied to importance resampling: the
    * keep rate is still weight-proportional per DOCUMENT (membership
    * stays document-granular), but the normalization targets an
    * EXPECTED KEPT TOKEN total — `base = budgetTokens·10⁹ div
    * Σ(w_milli·n_tok)`, so E[Σ kept tokens] = budgetTokens. The right
    * unit when sources differ in document length: a doc-budget sampler
    * hands long books and short web pages the same budget share per
    * DOCUMENT, silently skewing the trained-token mixture toward
    * whichever length class the weights favor. Token counts ride the
    * scan (codegen'd [[graft.functions.TokenStats]], the engine-wide
    * whitespace convention the oracle replays as `len(tokens)`); all
    * other arithmetic is [[dsirRateMixDocs]]' integer contract, q105's
    * oracle replays it end to end. */
  def dsirRateMixTokensDocs(docs: DataFrame, idCol: String,
                            textCol: String, ratio: IndexedSeq[Double],
                            budgetTokens: Long, maxFeatures: Int = 64,
                            ngram: Int = 1,
                            maxW: Double = 1000.0): DataFrame =
    dsirSampleWith(docs, idCol, textCol, ratio,
      dsirBaseTokPpm(docs, textCol, ratio, budgetTokens, maxFeatures,
        ngram, maxW),
      maxFeatures, ngram, maxW)

  /** Token-unit normalization base: `budgetTokens·10⁹ div Σ(w_milli ·
    * n_tok)` — one map-side-combined scalar agg, integer throughout.
    * Token-free (or NULL-text) documents contribute nothing to the
    * denominator: they consume no token budget, though their (weight-1)
    * keep rate still applies — membership stays document-granular. */
  private[graft] def dsirBaseTokPpm(docs: DataFrame, textCol: String,
                                    ratio: IndexedSeq[Double],
                                    budgetTokens: Long, maxFeatures: Int,
                                    ngram: Int, maxW: Double): Long = {
    require(ratio.length >= 2, "ratio table needs at least 2 buckets")
    require(budgetTokens >= 1 && budgetTokens <= 1000000000000L,
      "token budget must be in [1, 1e12]")
    require(maxW >= 0.001 && maxW <= 1000000.0,
      "maxW must be in [0.001, 1e6]")
    val feats = dsirFeatsCol(textCol, ratio.length, maxFeatures, ngram)
    val wMilli = floor(least(dsirWeightOf(feats, ratio), lit(maxW)) * 1000)
      .cast("long")
    val nTok = coalesce(graft.functions.TokenStats(col(textCol))
      .getField("n_tokens").cast("long"), lit(0L))
    val wRow = docs.select(sum(wMilli * nTok).as("w")).head()
    require(!wRow.isNullAt(0), "empty corpus: nothing to sample")
    val totalW = wRow.getLong(0)
    require(totalW >= 1,
      "zero weighted token mass — every document is token-free or " +
        "weight-clipped to zero")
    val basePpm = budgetTokens * 1000000000L / totalW
    require(basePpm <= Long.MaxValue / math.max(1L, (maxW * 1000).toLong),
      "budget/weight combination overflows the ppm arithmetic — lower " +
        "maxW or the budget")
    basePpm
  }

  /** [[dsirRateMixTokensDocs]] with the ratio table derived in place. */
  def dsirRateMixTokens(docs: DataFrame, idCol: String, textCol: String,
                        target: DataFrame, targetTextCol: String,
                        budgetTokens: Long, buckets: Int = 1024,
                        maxFeatures: Int = 64, ngram: Int = 1,
                        maxW: Double = 1000.0): DataFrame =
    dsirRateMixTokensDocs(docs, idCol, textCol,
      dsirRatio(docs, textCol, target, targetTextCol, buckets, ngram),
      budgetTokens, maxFeatures, ngram, maxW)

  /** LEAKAGE-SAFE train/val split: a near-duplicate cluster is assigned
    * to a split ATOMICALLY, so no near-dup pair ever straddles the
    * boundary — the failure mode a plain per-document hash split cannot
    * rule out (a val document's near-twin in train is silent
    * contamination of the eval signal). Clusters come from the
    * LSH-verified pair graph ([[Dedup.minhashPairs]] →
    * [[Components.of]]); unpaired documents are their own cluster. The
    * split key is the 31-bit content hash of the cluster REPRESENTATIVE
    * (placement-only arithmetic per the hash-width policy, q49's
    * convention), so assignment is content-addressed and append-stable:
    * re-running with more documents never flips an existing cluster
    * whose representative survived. Output: (idCol, rep, split).
    *
    * Scale shape: the pair graph and union-find touch only near-dup
    * CANDIDATES (the LSH economics); the split itself is one broadcast
    * or id-keyed join of the (small) component map plus an in-scan hash
    * — the corpus never shuffles for placement. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
                       valMilli: Int = 100,
                       thresholdMilli: Int = 800): DataFrame = {
    require(valMilli >= 0 && valMilli <= 1000, "valMilli must be in [0, 1000]")
    val pairs = Dedup.minhashPairs(docs, idCol, textCol, thresholdMilli)
    val comp = Components.of(pairs, "id_a", "id_b")
      .select(col("id").as(idCol), col("component"))
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("rep",
        coalesce(col("component"), col(idCol).cast("long")))
      .withColumn("split",
        when(strHash(col("rep").cast("string")) % 1000 < valMilli, lit("val"))
          .otherwise(lit("train")))
      .select(col(idCol), col("rep"), col("split"))
  }
}
