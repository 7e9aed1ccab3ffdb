package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis.tokens

/** Corpus drift detection — the monitoring step between two crawls or
  * two curation runs: which terms changed frequency, and by how much.
  * A training-data pipeline watches exactly this number to catch a
  * source going stale, a scraper regression, or a contamination event
  * before a training run does (the reference has no multi-corpus
  * surface; extension tier).
  *
  * The metric is per-term probability drift in EXACT integer ppm:
  * `|cA·10⁶ div NA − cB·10⁶ div NB|` (term count over total token
  * count, floor division) — total variation's summand, with no float
  * division and no libm, so the oracle replays `//` verbatim (the
  * engine's integer-score discipline, same as BM25/TF-IDF). Missing
  * terms count 0 on their side (full-outer union of the vocabularies).
  *
  * Scale shape: ONE pass — both sides union with a side tag, tokens
  * explode in-scan, and a single map-side-combined (term) aggregate
  * emits both counts per term via conditional sums, so there is no
  * vocabulary join at all and exactly one exchange (vocab-sized,
  * orders of magnitude under the token stream). The two totals come
  * off the checkpointed vocab in one scalar read and ride as literals.
  * Top-k is a TakeOrderedAndProject, never a full sort.
  */
object Drift {

  /** Full per-term drift table: (term, a_ppm, b_ppm, drift_ppm), one row
    * per term of the union vocabulary.
    *
    * ONE pass over both corpora: the sides union with a tag, one
    * map-side-combined (term) aggregate emits both counts per term
    * (conditional sums — no join, no second exchange), and the two
    * totals come off the checkpointed vocab in a single scalar read. */
  def vocabDrift(a: DataFrame, b: DataFrame, textCol: String): DataFrame =
    keyDrift(a, b, explode(tokens(col(textCol))))

  /** [[vocabDrift]] over a CATEGORICAL column instead of tokens — the
    * source-mix / language-mix monitor ("did the crawl's composition
    * shift"), same one-pass plan and integer-ppm discipline. */
  def categoryDrift(a: DataFrame, b: DataFrame, keyCol: String): DataFrame =
    keyDrift(a, b, col(keyCol))

  /** Shared one-pass drift core over an arbitrary per-row (or exploded)
    * key expression. */
  private def keyDrift(a: DataFrame, b: DataFrame,
                       key: org.apache.spark.sql.Column): DataFrame = {
    val tagged = a.select(key.as("term"), lit(1L).as("_sa"))
      .unionAll(b.select(key.as("term"), lit(0L).as("_sa")))
    val counts = tagged.groupBy("term")
      .agg(sum(col("_sa")).as("ca"),
        sum(lit(1L) - col("_sa")).as("cb"))
      .localCheckpoint(true) // feeds the totals AND the drift projection
    val t = counts.agg(sum(col("ca")), sum(col("cb"))).head()
    // empty side: its sum aggregates to NULL — report the misuse loudly
    // instead of NPEing on getLong
    val na = if (t.isNullAt(0)) 0L else t.getLong(0)
    val nb = if (t.isNullAt(1)) 0L else t.getLong(1)
    require(na > 0 && nb > 0, "both corpora must contain tokens")
    counts
      .select(col("term"),
        expr(s"ca * 1000000L div ${na}L").as("a_ppm"),
        expr(s"cb * 1000000L div ${nb}L").as("b_ppm"))
      .withColumn("drift_ppm", abs(col("a_ppm") - col("b_ppm")))
  }

  /** The `k` most-drifted terms by (drift_ppm DESC, term ASC) — the
    * triage list a monitoring alert carries. */
  def topDrift(a: DataFrame, b: DataFrame, textCol: String,
               k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    vocabDrift(a, b, textCol)
      .orderBy(col("drift_ppm").desc, col("term").asc)
      .limit(k)
  }

  /** Scalar total variation distance in ppm (halved sum of per-term
    * drift): 0 = identical term distributions, 10⁶ = disjoint. The
    * floor divisions make this a deterministic LOWER bound on exact TV
    * (each summand floors twice), which is the right direction for an
    * alert threshold — it never cries wolf from rounding. */
  def totalVariationPpm(a: DataFrame, b: DataFrame, textCol: String): Long =
    vocabDrift(a, b, textCol)
      .agg(sum(col("drift_ppm"))).head().getLong(0) / 2

  /** EMBEDDING-space drift: per label, the cosine between the two
    * slices' centroid vectors — the vector-side counterpart of
    * [[vocabDrift]] (an embedding pipeline watches this to catch an
    * encoder change or a population shift between snapshots; cos → 1
    * means the label's mass did not move). Centroid coordinates round
    * to 6 before the cosine (q33's centroid convention), and the cosine
    * itself is the index-ordered [[Similarity]] fold rounded to 6, so
    * the whole statistic is oracle-replayable.
    *
    * Scale shape: one tagged union + in-scan posexplode into a
    * map-side-combined (side, label, pos) mean — bounded by
    * sides×labels×dim, not by corpus size; array assembly and the
    * per-label A×B join happen on that bounded relation. Output:
    * (labelCol, n_a, n_b, cos_r), one row per label present in BOTH
    * slices. */
  def embeddingDrift(a: DataFrame, b: DataFrame, labelCol: String,
                     vecCol: String): DataFrame = {
    def tagged(df: DataFrame, side: Int) =
      df.select(col(labelCol), lit(side).as("_side"),
        posexplode(transform(col(vecCol), _.cast("double")))
          .as(Seq("pos", "v")))
    val means = tagged(a, 0).unionAll(tagged(b, 1))
      .groupBy(col(labelCol), col("_side"), col("pos"))
      .agg(round(sum(col("v")) / count(lit(1)), 6).as("cv"),
        count(lit(1)).as("n"))
    val cents = means
      .groupBy(col(labelCol), col("_side"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        e => e.getField("cv")).as("cent"),
        max(col("n")).as("n"))
    val ca = cents.filter(col("_side") === 0)
      .select(col(labelCol), col("cent").as("_ca"), col("n").as("n_a"))
    val cb = cents.filter(col("_side") === 1)
      .select(col(labelCol), col("cent").as("_cb"), col("n").as("n_b"))
    ca.join(cb, Seq(labelCol))
      .select(col(labelCol), col("n_a"), col("n_b"),
        round(Similarity.dotD(col("_ca"), col("_cb")) /
          (Similarity.normD(col("_ca")) * Similarity.normD(col("_cb"))), 6)
          .as("cos_r"))
  }
}
