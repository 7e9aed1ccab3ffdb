package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis.{strHash, tokens}

/** BM25 top-k retrieval: rank corpus documents against a set of query
  * documents — the ranking/retrieval tier of the training-data pipeline
  * (retrieval-based decontamination, eval-set attribution, "which training
  * docs does this benchmark question leak from"). The reference engine has
  * no retrieval surface; this extends the decontamination family (q58/q60/
  * q73 flag by exact n-gram overlap; retrieval ranks by relevance when
  * overlap is partial).
  *
  * Scoring is the q48 libm-free contract, BM25-shaped: with k1 = 6/5 and
  * b = 3/4 the Robertson tf saturation term is EXACTLY the integer
  * rational
  * {{{
  *   part_permille = (22·tf·S·1000) div (10·tf·S + 3·S + 9·dl·N)
  * }}}
  * (multiply numerator and denominator of tf·(k1+1) / (tf + k1·(1−b) +
  * k1·b·dl/avgdl) by 10·S, with avgdl = S/N held as the exact pair (S, N)
  * — no float division anywhere), and the idf is the BM25 odds
  * (N−df+0.5)/(df+0.5) doubled into integers:
  * {{{
  *   idf_milli = ((2N − 2·df + 1)·1000) div (2·df + 1)
  * }}}
  * No ln(): libm log implementations differ across engines, so a float idf
  * would break bitwise oracle parity; the unlogged odds are monotone in
  * the BM25 idf, so per-term ordering is preserved (documented trade, same
  * as q48/q77). All arithmetic is Long; products stay under 2^63 for
  * corpora up to ~10^9 tokens × 10^5-token documents — past that, rescale
  * S to kilo-tokens (the contract is explicit so the oracle can follow).
  *
  * Scale shape: document text never crosses an exchange — tokens explode
  * in-scan, and only (id, term, tf, dl) aggregates shuffle. The query set
  * (an eval suite: thousands of documents, like [[Decontaminate]]'s eval
  * side) collects driver-side and broadcasts as a local relation, so the
  * corpus-side tf table is never repartitioned by term and hot terms cause
  * no skew. Final ranking is the bounded [[TopKAgg]] heap (≤ k rows per
  * query per partition cross the last exchange), not a window sort over
  * every candidate. For repeated query batches, [[bm25WriteIndex]]
  * materializes the inverted index once with term-hash-bucket partitions
  * (the physical-design tier, like `Similarity.ivfWriteIndex`), and
  * [[bm25TopKIndexed]] opens only the buckets containing query terms.
  */
object Retrieval {

  /** The inverted index: one (doc, term, tf, dl, first-marker) row per
    * distinct term per document — orders of magnitude smaller than the
    * token stream it folds. Checkpointed: it feeds several consumers (df,
    * corpus stats, the postings join / the index write), and without
    * materialization Catalyst re-scans and re-explodes the corpus once per
    * consumer (no ReusedExchange: column pruning makes the subplans
    * differ). keepParallelism: AQE would coalesce the compact exchange to
    * ~1 partition by size and the multiplying postings join downstream
    * would run on one task (measured 1.5 s of a 2.4 s query on one core).
    * Null-text documents have no tokens and drop out (and out of N/S).
    * The position-0 marker survives the rollup as `_first` (exactly one
    * marked row per document), so N and S fall out of one plain global
    * aggregate — no countDistinct expansion. */
  private def invertedIndex(corpus: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("_id"),
      tokens(col(textCol)).as("_w"))
      .withColumn("_dl", size(col("_w")).cast("long"))
    val ct = c.select(col("_id"), col("_dl"),
      posexplode(col("_w")).as(Seq("_p", "_t")))
    val pw = ConfWindow.keepParallelism(corpus.sparkSession)
    pw.suspend()
    try ct.groupBy("_id", "_t")
      .agg(count(lit(1)).as("_tf"), min(col("_dl")).as("_dl"),
        max(when(col("_p") === 0, 1L).otherwise(0L)).as("_first"))
      .localCheckpoint(true)
    finally pw.restore()
  }

  /** (N, S): distinct documents and total tokens, one single-exchange
    * aggregate over the index. */
  private def corpusStats(tf: DataFrame): (Long, Long) = {
    val r = tf.agg(sum(col("_first")).as("_n"), sum(col("_tf")).as("_s"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** (N, S, df-per-query-term) in ONE pass over the index: group by the
    * query-term-or-null projection — non-query terms all fold into the
    * null group — so the global sums and the per-term document frequencies
    * come out of a single aggregate job (collected rows = distinct query
    * terms + 1, driver-small by the query-side contract). Replaces a
    * separate stats `head()` plus a distributed per-term df groupBy/join
    * subtree in the final plan — two fewer actions/stages on the q78-shaped
    * path, and the index side still never repartitions by term. */
  private def corpusStatsWithDf(tf: DataFrame,
                                terms: Seq[String]): (Long, Long, Map[String, Long]) = {
    val qt = if (terms.isEmpty) lit(null).cast("string")
             else when(col("_t").isInCollection(terms), col("_t"))
    val rows = tf.groupBy(qt.as("_qt"))
      .agg(sum(col("_first")).as("_n"), sum(col("_tf")).as("_s"),
        count(lit(1)).as("_df"))
      .collect()
    val n = rows.iterator.map(_.getLong(1)).sum
    val s = rows.iterator.map(_.getLong(2)).sum
    val dfMap = rows.iterator.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    (n, s, dfMap)
  }

  /** The query side, collected: driver-small by contract (an eval suite,
    * like [[Decontaminate]]'s eval set and BloomGate's sketch literal),
    * tokenized with the tokenizer's bitwise JVM twin. One (query_id, term)
    * pair per DISTINCT term per query document. */
  private def queryTerms(queries: DataFrame, idCol: String,
                         textCol: String): Seq[(Long, String)] =
    queries.select(col(idCol).cast("long"), col(textCol)).collect()
      .iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .flatMap { r =>
        graft.functions.TextAnalysis.jvmTokens(r.getString(1)).distinct
          .map(t => (r.getLong(0), t))
      }.toSeq

  /** Driver twin of the idf expression — Long division truncates like
    * `div` for these positive operands. */
  private def idfMilli(n: Long, df: Long): Long =
    ((2 * n - 2 * df + 1) * 1000) / (2 * df + 1)

  /** Score postings against the broadcast (term, query, idf) table and
    * rank: one `repartition(_qid)` exchange serves BOTH aggregations
    * (HashPartitioning(_qid) satisfies the (_qid, _id) clustering of the
    * score aggregate by the subset rule AND the _qid clustering of the
    * top-k aggregate), and the top-k is the bounded [[TopKAgg]] heap via
    * an untyped `udaf` wrapper, so the grouping key stays the real column
    * (a typed groupByKey would re-key on a serialized value column,
    * forcing its own exchange). */
  private def scoreAndRank(postings: DataFrame, qidf: DataFrame,
                           n: Long, s: Long, k: Int): DataFrame = {
    val scored = postings.join(broadcast(qidf), "_t")
      .withColumn("_part_permille",
        expr(s"(${22 * s}L * _tf * 1000) div " +
          s"(${10 * s}L * _tf + ${3 * s}L + ${9 * n}L * _dl)"))
      .repartition(col("_qid"))
      .groupBy("_qid", "_id")
      .agg(sum(col("_idf_milli") * col("_part_permille")).as("_score"))
    // Long-scored heap: scores live in the 2^63 fixed-point contract, and
    // a Double-keyed heap is exact only below 2^53 — near-ties past that
    // could misrank against the oracle's exact BIGINT ordering
    val topAgg = udaf(TopKAgg.topKLong[(Long, Long)](k) {
      case (id, score) => (score, id)
    }, Encoders.product[(Long, Long)])
    scored
      .groupBy("_qid")
      .agg(topAgg(col("_id"), col("_score")).as("_top"))
      .select(col("_qid").as("query_id"),
        posexplode(col("_top")).as(Seq("_i", "_e")))
      .select(col("query_id"), (col("_i") + 1).cast("long").as("rank"),
        col("_e._2").as("doc_id"), col("_e._1").as("score"))
  }

  /** Top-k corpus documents per query document by integer-exact BM25.
    * Output: (query_id, rank, doc_id, score) — rank 1-based by
    * (score desc, doc_id asc); queries with no token in common with any
    * corpus document produce no rows. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val tf = invertedIndex(corpus, idCol, textCol)
    val qtLocal = queryTerms(queries, idCol, textCol)
    // ONE fused pass computes N, S and every query term's df; the
    // (term, query, idf) table then builds locally, exactly as the indexed
    // path builds it from its df sidecar
    val (n, s, dfMap) = corpusStatsWithDf(tf, qtLocal.map(_._2).distinct)
    val qidfLocal = qtLocal.flatMap { case (qid, t) =>
      dfMap.get(t).map(df => (t, qid, idfMilli(n, df)))
    }
    val qidf = spark.createDataFrame(qidfLocal).toDF("_t", "_qid", "_idf_milli")
    scoreAndRank(tf, qidf, n, s, k)
  }

  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  private val postingsSchema = StructType(Seq(
    StructField("_id", LongType), StructField("_t", StringType),
    StructField("_tf", LongType), StructField("_dl", LongType),
    StructField("_b", LongType)))
  private val dfSchema = StructType(Seq(
    StructField("_t", StringType), StructField("_df", LongType),
    StructField("_b", LongType)))
  private val metaSchema = StructType(Seq(
    StructField("_n", LongType), StructField("_s", LongType),
    StructField("_buckets", LongType)))

  /** The three [[graft.store.Snapshots]] stores the standing index lives
    * in. Every mutation goes through their pointer-commit manifest, so
    * base swaps are crash-atomic and readers never observe a half-written
    * snapshot; postings and df keep the `_b=` hive-partitioned layout
    * (directory pruning) via `partitionByCol`. */
  private def postingsStore(spark: SparkSession, dir: String) =
    new graft.store.Snapshots(spark, s"$dir/postings", postingsSchema,
      partitionByCol = Some("_b"))
  private def dfStore(spark: SparkSession, dir: String) =
    new graft.store.Snapshots(spark, s"$dir/df", dfSchema,
      partitionByCol = Some("_b"))
  private def metaStore(spark: SparkSession, dir: String) =
    new graft.store.Snapshots(spark, s"$dir/meta", metaSchema)

  /** Materialize the inverted index as the STANDING physical design (the
    * role `Similarity.ivfWriteIndex` plays for vectors): postings
    * partitioned by a term-hash bucket — at query time only the buckets
    * containing query terms are opened (directory-level pruning) — plus a
    * per-term df sidecar partitioned the same way and a one-row meta
    * sidecar (N, S, buckets). Amortizes the index build across query
    * batches; the bucket count is the pruning granularity (more buckets =
    * finer pruning, more small files). Each table is a [[graft.store
    * .Snapshots]] store: the initial build is three pointer-commits (a
    * crash mid-build is retried by re-running the build — the usual
    * bootstrap contract), and every LATER mutation (append, compact) is
    * crash-atomic per table. */
  def bm25WriteIndex(corpus: DataFrame, idCol: String, textCol: String,
                     dir: String, buckets: Int = 64): Unit = {
    require(buckets >= 1, "buckets must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val tf = invertedIndex(corpus, idCol, textCol)
    val (n, s) = corpusStats(tf)
    val b = pmod(strHash(col("_t")), lit(buckets.toLong)).as("_b")
    val ps = postingsStore(spark, dir); ps.init()
    ps.replace(tf.select(col("_id"), col("_t"), col("_tf"), col("_dl"), b))
    val ds = dfStore(spark, dir); ds.init()
    ds.replace(tf.groupBy("_t").agg(count(lit(1)).as("_df"))
      .select(col("_t"), col("_df"), b))
    val ms = metaStore(spark, dir); ms.init()
    ms.replace(Seq((n, s, buckets.toLong)).toDF("_n", "_s", "_buckets")
      .coalesce(1))
  }

  /** [[bm25TopK]] over the materialized index: query terms hash to their
    * buckets on the driver (the JVM twin of the write-side bucket
    * expression), the df sidecar is read bucket-pruned and term-filtered
    * to build the (term, query, idf) table locally, and the postings scan
    * opens ONLY the probed bucket partitions — unprobed buckets' files are
    * never touched (spec-pinned via `selectedPartitions`). Scoring and
    * ranking are [[bm25TopK]]'s, shared. */
  def bm25TopKIndexed(spark: SparkSession, dir: String, queries: DataFrame,
                      idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // meta = base row + one row per append delta; N and S are additive,
    // the bucket count is the base's (appends inherit it)
    val metaRows = metaStore(spark, dir).read().collect()
    val n = metaRows.map(_.getLong(0)).sum
    val s = metaRows.map(_.getLong(1)).sum
    val buckets = metaRows.head.getLong(2)
    val qtLocal = queryTerms(queries, idCol, textCol)
    val terms = qtLocal.map(_._2).distinct
    val termBucket = terms.map { t =>
      val h = graft.functions.PolyHash.hash(t)
      t -> (((h % buckets) + buckets) % buckets) // pmod twin
    }.toMap
    val probed = termBucket.values.toSeq.distinct
    // df is additive across base + deltas (one manifest-resolved scan,
    // partition-pruned on _b); query terms are few, so the term-filtered
    // rows collect and sum on the driver
    val dfMap = dfStore(spark, dir).read()
      .filter(col("_b").isin(probed: _*) && col("_t").isin(terms: _*))
      .select("_t", "_df").collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(_.getLong(1)).sum }
    val qidfLocal = qtLocal.flatMap { case (qid, t) =>
      dfMap.get(t).map(df => (t, qid, idfMilli(n, df)))
    }
    import spark.implicits._
    val qidf = spark.createDataFrame(qidfLocal)
      .toDF("_t", "_qid", "_idf_milli")
    val postings = postingsStore(spark, dir).read()
      .filter(col("_b").isin(probed: _*))
    scoreAndRank(postings, qidf, n, s, k)
  }

  /** Incremental index maintenance — the [[graft.streaming]] delta-log
    * idea applied to retrieval: a micro-batch of NEW documents (dedup
    * upstream owns id uniqueness, as in `IncrementalDedup`) appends
    * O(batch) postings/df/meta DELTAS through the stores' tokened
    * `appendDelta` (token `b-<batchId>`); the base index is never
    * rewritten. A replayed batch is a NO-OP — the token is remembered in
    * the manifest AND, across a compaction that already folded the delta
    * away, in the consumed-tokens ledger, so a crash-replay racing a
    * compaction cannot double-append. [[bm25TopKIndexed]] reads base +
    * deltas (df and meta are additive); [[bm25CompactIndex]] folds the
    * deltas back into the base when their count grows. */
  def bm25AppendIndex(batch: DataFrame, idCol: String, textCol: String,
                      dir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val buckets = metaStore(spark, dir).readBase().head().getLong(2)
    val tf = invertedIndex(batch, idCol, textCol)
    val (n, s) = corpusStats(tf)
    val b = pmod(strHash(col("_t")), lit(buckets)).as("_b")
    val token = Some(s"b-$batchId")
    postingsStore(spark, dir).appendDelta(
      tf.select(col("_id"), col("_t"), col("_tf"), col("_dl"), b), token)
    dfStore(spark, dir).appendDelta(
      tf.groupBy("_t").agg(count(lit(1)).as("_df"))
        .select(col("_t"), col("_df"), b), token)
    metaStore(spark, dir).appendDelta(
      Seq((n, s, buckets)).toDF("_n", "_s", "_buckets").coalesce(1), token)
  }

  /** Outstanding delta count of the standing index (the postings store's
    * — all three stores append in lockstep): the compaction-cadence
    * signal for [[graft.streaming.StreamRetrieval]]'s maintainer. Counting
    * deltas instead of batches makes the cadence replay-proof: a
    * crash-replayed batch appends nothing, so it cannot re-trigger or
    * starve compaction. */
  def bm25IndexDeltaCount(spark: SparkSession, dir: String): Int =
    postingsStore(spark, dir).deltaCount

  /** Fold every delta into its base — `replace(read())`, the Snapshots
    * delta-log compaction, run per table. CRASH-ATOMIC: each table's swap
    * is a pointer-commit (readers resolve through the manifest, so a
    * crash between the new base write and the manifest move leaves the
    * old base + deltas serving, and a crash between the move and the GC
    * leaves only unreferenced garbage that the next `init()` sweeps).
    * Across tables no atomicity is NEEDED: compaction does not change any
    * table's logical content (base ∪ deltas ≡ folded base), so a crash
    * between per-table swaps still reads exactly base+delta ≡ rebuild —
    * RetrievalIndexSpec pins this with kill-point states. Bounded by
    * O(index) like the dedup log's compaction, amortized by running it
    * every K batches. */
  def bm25CompactIndex(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val ps = postingsStore(spark, dir)
    // init() on an existing store sweeps orphan dirs a previously CRASHED
    // compaction left behind (written but never manifest-committed), so
    // garbage lifetime is bounded by the compaction cadence
    ps.init()
    ps.replace(ps.read())
    val ds = dfStore(spark, dir)
    ds.init()
    ds.replace(ds.read()
      .groupBy("_t", "_b").agg(sum(col("_df")).as("_df"))
      .select(col("_t"), col("_df"), col("_b")))
    val ms = metaStore(spark, dir)
    ms.init()
    val metaRows = ms.read().collect()
    val merged = (metaRows.map(_.getLong(0)).sum,
      metaRows.map(_.getLong(1)).sum, metaRows.head.getLong(2))
    ms.replace(Seq(merged).toDF("_n", "_s", "_buckets").coalesce(1))
  }

  /** DELETE documents from the standing index — the retrieval twin of
    * the claim stores' retraction ([[graft.store.ClaimLog.retract]]):
    * recrawl deletions (DMCA, robots, tombstones) must leave the index
    * scoring EXACTLY as if the documents had never been indexed, or
    * retrieval keeps surfacing (and idf keeps discounting against)
    * documents that no longer exist. Removes the ids' postings, then
    * recomputes df and meta (N, S) FROM the surviving postings — not by
    * decrementing — so the operation is IDEMPOTENT and crash-retryable:
    * a crash between the three table swaps is healed by re-running the
    * same call (the recompute path is unconditional), and the result is
    * bitwise the index a fresh [[bm25WriteIndex]] over the surviving
    * corpus would build (spec-pinned parity). Deltas outstanding at
    * call time fold in (replace(read()) — deletion doubles as a
    * compaction). Cost: one O(index) rewrite per deletion BATCH, the
    * compaction economics; bounded loud at
    * [[graft.store.ClaimRetraction.MaxRetractIds]] ids. Returns the
    * number of documents whose postings were removed. */
  /** Audit read for [[bm25DeleteIndex]]: documents among `ids` that
    * still have postings in the standing index — 0 after a completed
    * deletion (the takedown verification
    * [[graft.pipeline.Forget.verify]] reads). */
  def bm25Held(spark: SparkSession, dir: String, ids: Seq[Long]): Long =
    if (ids.isEmpty) 0L
    else {
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "postings", "current")),
        s"no BM25 index at $dir — nothing to audit")
      val ps = postingsStore(spark, dir)
      graft.store.ClaimRetraction.among(ps.read(), col("_id"), ids)
        .select("_id").distinct().count()
    }

  def bm25DeleteIndex(spark: SparkSession, dir: String,
                      ids: Seq[Long]): Long = {
    import spark.implicits._
    require(ids.size <= graft.store.ClaimRetraction.MaxRetractIds,
      s"${ids.size} deletion ids exceed the " +
        s"${graft.store.ClaimRetraction.MaxRetractIds} batch ceiling — " +
        "rebuild the index from the surviving corpus instead")
    if (ids.isEmpty) 0L
    else {
      // init() on a missing store would silently BOOTSTRAP an empty
      // index — deleting from a nonexistent index must fail loud
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "postings", "current")),
        s"no BM25 index at $dir — nothing to delete from")
      val ps = postingsStore(spark, dir)
      ps.init()
      val nDocs = graft.store.ClaimRetraction
        .among(ps.read(), col("_id"), ids)
        .select("_id").distinct().count()
      ps.replace(graft.store.ClaimRetraction
        .excluding(ps.read(), col("_id"), ids))
      // df and meta REBUILD from the surviving postings (never
      // decremented): idempotent, so a crash between table swaps is
      // healed by retrying the same deletion
      val post = ps.read()
      val ms = metaStore(spark, dir)
      ms.init()
      val buckets = ms.readBase().head().getLong(2)
      val b = pmod(strHash(col("_t")), lit(buckets)).as("_b")
      val ds = dfStore(spark, dir)
      ds.init()
      ds.replace(post.groupBy("_t").agg(count(lit(1)).as("_df"))
        .select(col("_t"), col("_df"), b))
      val docs = post.select("_id", "_dl").distinct()
        .agg(count(lit(1)), coalesce(sum(col("_dl")), lit(0L))).head()
      ms.replace(Seq((docs.getLong(0), docs.getLong(1), buckets))
        .toDF("_n", "_s", "_buckets").coalesce(1))
      nDocs
    }
  }

  /** Reciprocal-rank fusion of two per-query rankings — the standard
    * hybrid-retrieval combiner (lexical BM25 + semantic ANN): each
    * candidate scores Σ 1/(rrfK + rank) over the lists it appears in,
    * here as EXACT integer milli-units `rrfK·1000 div (rrfK + rank)`
    * (the engine's integer-score discipline — no float ties, oracle
    * replays `//` verbatim). Candidates missing from one list contribute
    * 0 from it (full-outer join). Both inputs are top-k frames — k·|Q|
    * rows — so the fusion join and the final per-query window are
    * trivially small at any corpus scale; the heavy lifting stays in the
    * upstream operators' own plans.
    *
    * @param lex (qCol, idCol, rank) lexical ranking, rank 1-based
    * @param sem (qCol, idCol, rank) semantic ranking, rank 1-based
    * Output: (qCol, idCol, rrf_milli, rank) — top `k` per query by
    * (rrf_milli DESC, idCol). */
  def rrfFuse(lex: DataFrame, sem: DataFrame, qCol: String, idCol: String,
              rrfK: Int = 60, k: Int = 5): DataFrame = {
    require(rrfK >= 1, "rrfK must be >= 1")
    require(k >= 1, "k must be >= 1")
    val l = lex.select(col(qCol), col(idCol), col("rank").as("_rl"))
    val s = sem.select(col(qCol), col(idCol), col("rank").as("_rs"))
    val w = Window.partitionBy(qCol)
      .orderBy(col("rrf_milli").desc, col(idCol).asc)
    l.join(s, Seq(qCol, idCol), "full_outer")
      .withColumn("rrf_milli",
        coalesce(expr(s"${rrfK * 1000} div ($rrfK + _rl)"), lit(0L)) +
          coalesce(expr(s"${rrfK * 1000} div ($rrfK + _rs)"), lit(0L)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(qCol), col(idCol), col("rrf_milli"), col("rank"))
  }

  /** HYBRID retrieval end to end: BM25 top-`kEach` over the text corpus
    * and exact-cosine top-`kEach` over the embedding corpus for the SAME
    * query set (shared id space), fused by [[rrfFuse]]. The lexical leg
    * runs the q78 inverted-index economics; the semantic leg broadcasts
    * the query vectors over one corpus scan ([[Similarity.knnJoin]]) —
    * swap in an ANN path (IVF/PQ index probes) when the embedding corpus
    * outgrows brute force; the fusion is agnostic to how either ranking
    * was produced. */
  def hybridRrfTopK(docs: DataFrame, queries: DataFrame,
                    emb: DataFrame, qEmb: DataFrame,
                    idCol: String, textCol: String, vecCol: String,
                    kEach: Int = 10, rrfK: Int = 60, k: Int = 5): DataFrame = {
    val lex = bm25TopK(docs, queries, idCol, textCol, kEach)
      .select(col("query_id"), col("doc_id").as(idCol), col("rank"))
    val sem = Similarity.knnJoin(emb, qEmb, idCol, vecCol, kEach)
      .select(col("qid").as("query_id"), col(idCol), col("rank"))
    rrfFuse(lex, sem, "query_id", idCol, rrfK, k)
  }
}
