package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed LINEAR text classification — the fastText-shaped quality
  * classifier of the crawl pipelines (CCNet/RefinedWeb/FineWeb-edu all
  * gate on a cheap linear model over hashed bag-of-words features
  * before anything expensive runs; reference `hnarchive.py` has no
  * model tier at all, this is pipeline-extension surface). The design
  * splits the fastText shape the way PQ split training from serving:
  *
  *   - INFERENCE is the product: a document's score is the sum of a
  *     fixed integer weight table over its hashed token buckets —
  *     one in-scan `aggregate` fold against a `buckets`-length typed
  *     literal (the codebook discipline), zero joins, zero shuffles,
  *     zero UDFs. The weight table is an ARTIFACT parameter, exactly
  *     like a PQ codebook: train it anywhere, serve it here.
  *   - The bundled TRAINER is count-derived — per-bucket evidence
  *     weights `pos_ppm[b] − neg_ppm[b]` (multinomial-naive-Bayes
  *     shaped, but ADDITIVE integer evidence instead of log-likelihood:
  *     libm-free, so the whole train+score path replays bitwise in the
  *     DuckDB oracle, q107). Two bounded bucket aggregations total.
  *     Gradient-trained weights (the real fastText) drop into the same
  *     serving path as an opaque artifact.
  *
  * Distinct from the DSIR tier ([[Mixing.dsirWeights]]): DSIR computes
  * MULTIPLICATIVE importance ratios for resampling toward a target
  * distribution; this tier computes ADDITIVE classification evidence
  * for a keep/drop gate. Same hashed-feature space (shared
  * [[Mixing.bucketPpm]] distribution stage), different decisions.
  *
  * Integer discipline end to end: ppm weights are |w| ≤ 1e6, so a doc
  * of 1e9 tokens stays within 1e15 « 2^63 — no overflow at any
  * realistic document length. Thresholding MULTIPLIES the token count
  * instead of dividing the score (`score ≥ thr · n_tok`), so the
  * per-token decision never touches integer-division sign conventions
  * (trunc vs floor differ across engines on negatives). */
object Classify {

  /** Count-derived evidence weight table: w[b] = pos_ppm[b] −
    * neg_ppm[b] over hashed `ngram` features, exact integers in
    * [−1e6, 1e6]. The positive/negative corpora are the labeled
    * training slices (e.g. a curated reference vs the raw crawl). */
  def evidenceWeights(pos: DataFrame, posTextCol: String,
                      neg: DataFrame, negTextCol: String,
                      buckets: Int = 1024,
                      ngram: Int = 1): IndexedSeq[Long] = {
    require(buckets >= 2, "need at least 2 feature buckets")
    require(ngram >= 1 && ngram <= 3, "ngram must be in [1, 3]")
    val p = Mixing.bucketPpm(pos, posTextCol, buckets, ngram, "positive")
    val n = Mixing.bucketPpm(neg, negTextCol, buckets, ngram, "negative")
    IndexedSeq.tabulate(buckets)(b => p(b) - n(b))
  }

  /** GRADIENT-trained weight artifact for the SAME serving path — an
    * averaged integer perceptron, the discriminative upgrade next to
    * the replayable count-derived stand-in (the PQ-trainer discipline:
    * [[evidenceWeights]] stays the ORACLE's table, this trainer
    * populates the identical artifact shape with a higher-fit model;
    * q107's green row is unaffected because the artifact is a
    * parameter). Training is driver-side over a BOUNDED ascending-id
    * sample per class (two `TakeOrdered` plans, ≤ `maxPerClass` rows
    * each — the sample-Lloyd economics: at 100 TB a linear text model
    * saturates long before the driver bound does), feature bucketing
    * rides the SAME in-plan expressions the scorer uses, and the loop
    * is DETERMINISTIC integer arithmetic: fixed epochs, ascending-id
    * order, mistake-driven `w += y·x` updates, with the running sum of
    * every intermediate w as the output (the averaged-perceptron
    * stabilizer, left unnormalized — predictions threshold at 0, which
    * is scale-free; unlike the evidence table these weights are NOT in
    * ppm units, so pick [[qualityGate]] thresholds for this artifact
    * by measurement, not by ppm intuition).
    *
    * Measured on the shared-vocabulary fixture (sf0.01, en vs rest):
    * in the UNIGRAM space both trainers sit at the space's own fit
    * ceiling (~0.61 perceptron vs 0.63 evidence — no linear model can
    * separate a shared bag-of-words further); in the BIGRAM space the
    * mistake-driven fit pulls clearly ahead of counting — 0.95 at the
    * 10-epoch default (0.74/0.88/0.93/0.95/0.96 at 1/3/5/10/20 epochs)
    * vs 0.81 evidence — the reason to pay for training at all
    * (ClassifySpec pins the margin). */
  def perceptronWeights(docs: DataFrame, idCol: String, textCol: String,
                        positive: Column, buckets: Int = 1024,
                        ngram: Int = 1, epochs: Int = 10,
                        maxPerClass: Int = 4096): IndexedSeq[Long] = {
    require(buckets >= 2, "need at least 2 feature buckets")
    require(ngram >= 1 && ngram <= 3, "ngram must be in [1, 3]")
    require(epochs >= 1 && maxPerClass >= 1, "need epochs, maxPerClass >= 1")
    val base = docs.select(col(idCol).cast("long").as("id"),
      positive.cast("boolean").as("y"),
      transform(Mixing.dsirFeatStrings(col(textCol), ngram),
        w => (graft.functions.TextAnalysis.strHash(w) % buckets)
          .cast("int")).as("bs"))
    def sampled(flag: Boolean) = base.filter(col("y") === flag)
      .orderBy("id").limit(maxPerClass).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getSeq[Int](2)))
    val pos = sampled(true)
    val neg = sampled(false)
    require(pos.nonEmpty && neg.nonEmpty,
      "perceptron training needs both classes in the sample")
    val rows = (pos ++ neg).sortBy(_._1)
    val w = new Array[Long](buckets)
    val acc = new Array[Long](buckets)
    var e = 0
    while (e < epochs) {
      rows.foreach { case (_, y, bs) =>
        var s = 0L
        bs.foreach(b => s += w(b))
        val yy = if (y) 1L else -1L
        if (s * yy <= 0L) bs.foreach(b => w(b) += yy)
        var i = 0
        while (i < buckets) { acc(i) += w(i); i += 1 }
      }
      e += 1
    }
    IndexedSeq.tabulate(buckets)(acc(_))
  }

  /** The in-scan score expression: Σ over the text's (non-empty,
    * [[Mixing.dsirFeatStrings]]-contract) features of
    * `weights[hash(feat) % B]`. Exposed for filter predicates that
    * should not pay a scoring join. */
  def scoreExpr(textCol: Column, weights: IndexedSeq[Long],
                ngram: Int = 1): Column = {
    val wl = typedlit(weights)
    aggregate(Mixing.dsirFeatStrings(textCol, ngram), lit(0L),
      (acc, w) => acc + element_at(wl,
        (graft.functions.TextAnalysis.strHash(w) % weights.length).cast("int")
          + 1))
  }

  /** Score every document against an explicit weight table:
    * (idCol, n_feat, score_ppm, pred) — `n_feat` the feature count
    * (tokens for ngram=1), `score_ppm` the integer evidence sum,
    * `pred` 1 when the evidence is non-negative (the positive class).
    * Feature-free docs (NULL/empty text) score 0 with pred 1 — nothing
    * to judge them by, the LM-quality convention; a length gate is the
    * right tool for empties, not a classifier. One scan, no exchange:
    * the weight table rides the plan as a literal. */
  def linearScore(docs: DataFrame, idCol: String, textCol: String,
                  weights: IndexedSeq[Long], ngram: Int = 1): DataFrame = {
    require(weights.length >= 2, "weight table needs at least 2 buckets")
    require(ngram >= 1 && ngram <= 3, "ngram must be in [1, 3]")
    docs.select(col(idCol),
      size(Mixing.dsirFeatStrings(col(textCol), ngram)).cast("long")
        .as("n_feat"),
      scoreExpr(col(textCol), weights, ngram).as("score_ppm"))
      .withColumn("pred",
        when(col("score_ppm") >= 0, 1L).otherwise(0L))
  }

  /** Per-source quality rollup — the data-card-grade audit a
    * deployment reads before trusting (or cutting) a source: for each
    * source, the document count, the scoreable count, how many of the
    * scoreable score non-negative, and the integer evidence totals. All
    * sums and counts, never means — integer-exact and free of the
    * cross-engine division-sign trap, so the whole table sits under
    * the oracle gate (q108); a reader derives any mean it wants.
    * One in-scan scoring pass + one hash aggregation on the source
    * key. Output: (sourceCol, n_docs, n_scored, n_pos, sum_score_ppm,
    * sum_feat). */
  def sourceReport(docs: DataFrame, idCol: String, textCol: String,
                   sourceCol: String, weights: IndexedSeq[Long],
                   ngram: Int = 1): DataFrame = {
    require(weights.length >= 2, "weight table needs at least 2 buckets")
    require(ngram >= 1 && ngram <= 3, "ngram must be in [1, 3]")
    val nf = size(Mixing.dsirFeatStrings(col(textCol), ngram)).cast("long")
    docs.select(col(sourceCol), nf.as("_nf"),
      scoreExpr(col(textCol), weights, ngram).as("_s"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("_nf") > 0).cast("long")).as("n_scored"),
        sum((col("_nf") > 0 && col("_s") >= 0).cast("long")).as("n_pos"),
        sum(col("_s")).as("sum_score_ppm"),
        sum(col("_nf")).as("sum_feat"))
  }

  /** Threshold CALIBRATION sweep — the tuning table a deployment reads
    * before picking [[qualityGate]]'s `minPerFeatPpm`: for each
    * candidate threshold, how many scoreable documents survive
    * (`score ≥ thr · n_feat`, the gate's own multiplication-form
    * predicate) and the integer-milli kept fraction. One scan computes
    * every threshold's count as a conditional sum in a single
    * aggregate row (the thresholds are a driver literal — no explode,
    * no per-threshold rescan, no join); the 11-or-so-row result frame
    * is then built driver-side. Output: (thr_ppm, n_scored, n_kept,
    * kept_milli) ascending — monotone non-increasing in thr_ppm by
    * construction. */
  def thresholdSweep(docs: DataFrame, idCol: String, textCol: String,
                     weights: IndexedSeq[Long], thresholds: Seq[Long],
                     ngram: Int = 1): DataFrame = {
    require(weights.length >= 2, "weight table needs at least 2 buckets")
    require(thresholds.nonEmpty, "empty threshold ladder")
    require(thresholds.distinct.size == thresholds.size,
      "duplicate thresholds in the ladder")
    val ts = thresholds.sorted
    val nf = size(Mixing.dsirFeatStrings(col(textCol), ngram)).cast("long")
    val scored = docs
      .select(nf.as("_nf"), scoreExpr(col(textCol), weights, ngram).as("_s"))
      .filter(col("_nf") > 0)
    val aggCols = count(lit(1)).as("_n") +:
      ts.zipWithIndex.map { case (t, i) =>
        sum((col("_s") >= lit(t) * col("_nf")).cast("long")).as(s"_k$i")
      }
    val row = scored.agg(aggCols.head, aggCols.tail: _*).head()
    val nScored = row.getLong(0)
    val spark = docs.sparkSession
    import spark.implicits._
    ts.zipWithIndex.map { case (t, i) =>
      val kept = if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1)
      (t, nScored, kept,
        if (nScored == 0) 0L else kept * 1000 / nScored)
    }.toDF("thr_ppm", "n_scored", "n_kept", "kept_milli")
  }

  /** Keep documents whose MEAN per-feature evidence clears
    * `minPerFeatPpm` — the quality gate. The comparison is
    * `score ≥ thr · n_feat` (multiplication, not division — exact and
    * sign-convention-free). Feature-free docs pass (see
    * [[linearScore]]). */
  def qualityGate(docs: DataFrame, idCol: String, textCol: String,
                  weights: IndexedSeq[Long], minPerFeatPpm: Long,
                  ngram: Int = 1): DataFrame = {
    require(weights.length >= 2, "weight table needs at least 2 buckets")
    val nf = size(Mixing.dsirFeatStrings(col(textCol), ngram)).cast("long")
    docs.filter(
      scoreExpr(col(textCol), weights, ngram) >= lit(minPerFeatPpm) * nf)
  }
}
