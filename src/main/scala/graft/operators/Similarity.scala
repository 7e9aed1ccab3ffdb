package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis.{MinhashA, MinhashB, P}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Arithmetic discipline: every dot product is an index-ordered sequential
  * fold over per-element double products (`aggregate(zip_with(...))`), which
  * is the exact same IEEE operation sequence the DuckDB oracle's
  * `list_reduce(list_transform(...))` performs — so scores agree bitwise and
  * only get rounded (6 dp) for belt-and-braces output stability.
  *
  * Scale notes:
  *  - brute-force top-k is a map-side scan + TakeOrderedAndProject: no
  *    shuffle of the corpus, only k rows reach the driver. This is the
  *    correct baseline at any scale when k is small.
  *  - the k-NN join broadcasts the (small) query set against the corpus and
  *    takes per-query top-k with one window shuffle on query id — at 100 TB
  *    the corpus side still never shuffles.
  *  - `hyperplaneBucket` is the scale path (random-hyperplane LSH): an
  *    8-bit signature partitions the corpus into 256 buckets; candidate
  *    generation becomes an equi-join on the bucket key — broadcastable,
  *    pruned, and index-friendly — with exact rerank on candidates only.
  */
object Similarity {

  /** Elementwise float→double, so all downstream arithmetic is pure double. */
  def vecD(v: Column): Column = transform(v, x => x.cast("double"))

  /** Index-ordered sequential sum of an array<double>. */
  def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Index-ordered dot product — the native codegen'd [[graft.functions
    * .VecDot]]; bitwise-identical to `foldSum(zip_with(a, b, _ * _))` and
    * to the DuckDB oracle's list_reduce. */
  def dotD(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  /** Built-ins-only twin of [[dotD]] (interpreted HOF fold), kept as the
    * cross-implementation check. */
  def dotDPortable(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x * y))

  def normD(a: Column): Column = sqrt(dotD(a, a))

  /** cosine(a, b) given precomputed norms — dot / (na * nb). */
  def cosine(a: Column, b: Column, na: Column, nb: Column): Column =
    dotD(a, b) / (na * nb)

  /** Adds `vecd` (double vector) and `norm` columns. */
  def withNorm(df: DataFrame, vecCol: String): DataFrame = {
    graft.functions.VecDot.ensureRegistered(df.sparkSession)
    val d = vecD(col(vecCol))
    df.withColumn("vecd", d).withColumn("norm", normD(col("vecd")))
  }

  /** Deterministic hyperplane component j ∈ [0,8), index i (1-based):
    * ((a_j·i + b_j) mod P) / P − 0.5 — reproducible in ANSI SQL, uniform
    * enough for bucketing. */
  private def hyperplaneAt(j: Int, i: Column): Column =
    ((lit(MinhashA(j)) * i + lit(MinhashB(j))) % P).cast("double") / P.toDouble - 0.5

  /** Signed projection of `vecd` onto hyperplane j (sequential fold). */
  def hyperplaneDot(vecd: Column, j: Int): Column =
    foldSum(transform(sequence(lit(1), size(vecd)),
      i => hyperplaneAt(j, i) * element_at(vecd, i)))

  /** 8-bit random-hyperplane LSH bucket of a double vector — the native
    * codegen'd [[graft.functions.HyperplaneBucket]] (one pass per row);
    * bitwise-identical to [[hyperplaneBucketPortable]]. */
  def hyperplaneBucket(vecd: Column): Column =
    graft.functions.HyperplaneBucket(vecd)

  /** Built-ins-only twin of [[hyperplaneBucket]] (8 interpreted HOF folds),
    * kept as the cross-implementation check. */
  def hyperplaneBucketPortable(vecd: Column): Column =
    (0 until 8).map(j =>
      when(hyperplaneDot(vecd, j) > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Embedding near-dup pairs at CORPUS scale — the banded-signature
    * upgrade of q35's blocked all-pairs and q32's single 8-bit bucket:
    * the 64-plane [[graft.functions.HyperplaneSig]] computes in-scan, the
    * signature bands into 4×16-bit keys, candidate pairs share any band,
    * and every candidate is verified by EXACT cosine ≥ `minCos` (rounded
    * to 6, q35's convention) — so precision is exact and only recall is
    * approximate. By pigeonhole the bands admit every pair within
    * signature-Hamming 3 (the candidate tier is exact at that radius,
    * now out of 64 planes — a strictly tighter angular radius per
    * admitted pair than the former 32-plane tier); per-plane
    * disagreement is angle/π, so genuinely-near vectors (cos → 1)
    * disagree on few planes and land inside the radius with SRP-LSH's
    * standard odds. Candidate volume on a random corpus is
    * ~4·C(d,2)·2⁻¹⁶ across d DISTINCT signatures plus m−1 star
    * candidates per identical-signature group (4 bands ×
    * pair-collision odds 2⁻¹⁶ each; the former 8-bit bands admitted
    * ~4·C(n,2)·2⁻⁸ — see SCALE.md's banded-tier policy; the
    * identical-signature pre-collapse is the same policy's
    * quadratic-skew guard).
    *
    * Plan shape: the band self-join is IDS-ONLY — the 4× posexplode and
    * the band exchange carry (id, band, bkey) rows, 8-byte keys, never
    * the vectors; the distinct dedups band collisions while the pairs
    * are still just id pairs; and only then do the surviving candidates
    * join back (twice) to the checkpointed signature table to fetch
    * (vecd, norm) for the exact-cosine verify. Vectors therefore cross
    * an exchange only once per CANDIDATE side, not 4× per corpus row —
    * the round-8 finding on this operator's payload routing.
    * Output: (id_a, id_b, cos_r). */
  def hyperplaneSigPairs(df: DataFrame, idCol: String, vecCol: String,
                         minCos: Double): DataFrame = {
    graft.functions.HyperplaneSig.ensureRegistered(df.sparkSession)
    val sig = withNorm(df, vecCol)
      .select(col(idCol).as("id"), col("vecd"), col("norm"),
        graft.functions.HyperplaneSig(col("vecd")).as("hsig"))
      .localCheckpoint(true)
    // identical-signature pre-collapse (the Banded64 discipline): m
    // copies of one embedding share one 64-plane signature and would
    // pile C(m,2) candidates — each paying a VECTOR fetch — into the
    // same four buckets. Members route through their min-id
    // representative as star candidates (m−1, linear); only DISTINCT
    // signatures band. Every candidate still passes the exact-cosine
    // verify, so precision is untouched. RECALL corner (minhashPairs'
    // note, mirrored — unlike SimHash, an identical 64-plane signature
    // does NOT certify cos >= threshold): routing a group through its
    // rep means a member-member pair that WOULD pass exact-cosine can
    // be lost when both of its rep edges fail the verify. That needs
    // two vectors equal on all 64 random hyperplane signs yet far in
    // cosine from a third equal-signed vector that is near both — a
    // measure-zero corner of an already-approximate candidate tier,
    // traded for killing the quadratic pileup.
    // one window exchange on the signature assigns every row its
    // group's min-id representative in place (no agg-join round trip):
    // non-reps become star candidates map-side, reps alone feed the
    // banding
    val withRep = sig.select(col("id"), col("hsig"))
      .withColumn("_rep", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("hsig"))))
    val starCand = withRep.filter(col("id") =!= col("_rep"))
      .select(col("_rep").as("id_a"), col("id").as("id_b"))
    val bands = withRep.filter(col("id") === col("_rep"))
      .select(col("id"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("hsig"), b * 16).bitwiseAND(lit(65535L))): _*))
          .as(Seq("band", "bkey")))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
      .unionAll(starCand)
    cand
      .join(sig.select(col("id").as("id_a"), col("vecd").as("_va"),
        col("norm").as("_na")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("vecd").as("_vb"),
        col("norm").as("_nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("_va"), col("_vb"), col("_na"), col("_nb")), 6)
          .as("cos_r"))
      .filter(col("cos_r") >= minCos)
  }

  /** Brute-force top-k by cosine against the single row `idCol = queryId`
    * (query excluded from results). Output: (idCol, cos_r). */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int): DataFrame = {
    val base = withNorm(df, vecCol)
    val q = base.filter(col(idCol) === queryId)
      .select(col("vecd").as("qvec"), col("norm").as("qnorm"))
    base.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col(idCol).asc)
      .limit(k)
  }

  /** HARD-NEGATIVE mining for contrastive training: per query row, the
    * `k` nearest corpus rows whose LABEL DIFFERS from the query's — the
    * highest-similarity wrong-label examples are exactly the negatives
    * a contrastive objective learns most from (easy random negatives
    * teach nothing at scale). Same plan economics as [[knnJoin]] (query
    * set broadcasts, corpus never shuffles, per-query bounded window);
    * the label-mismatch predicate evaluates map-side before the window,
    * so same-label mass never enters the rank. Output:
    * (qid, rank, idCol, cos_r). The ANN-probe swap for scale is
    * IMPLEMENTED as [[GraphAnn.hardNegativesGraph]] (same output
    * schema, beam over-fetch + label filter; measured agreement with
    * this exact miner pinned in GraphAnnSpec) — the exact tier here
    * stays the ground truth. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, vecCol)
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("qid"), col(labelCol).as("_qlabel"),
        col("vecd").as("qvec"), col("norm").as("qnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col(idCol).asc)
    c.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("qid") && col(labelCol) =!= col("_qlabel"))
      .select(col("qid"), col(idCol),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6).as("cos_r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** k-NN join: per query row (small set, broadcast), the top-k corpus
    * neighbors by cosine. Output: (qid, rank, idCol, cos_r). */
  def knnJoin(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, vecCol)
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("qid"), col("vecd").as("qvec"), col("norm").as("qnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col(idCol).asc)
    c.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6).as("cos_r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic subsample quantizer shared by [[ivfTopK]] /
    * [[ivfWriteIndex]]. Fails loud when `id % centroidEvery == 0` matches no
    * row (sparse or non-dense id space): a silent empty centroid set would
    * otherwise drop every corpus row through the assignment cross-join and
    * write/return an empty result — contrary to the repo's fail-loud policy. */
  private[graft] def centroidsOf(base: DataFrame, idCol: String,
                                     centroidEvery: Int): DataFrame = {
    val cents = base.filter(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("cent_id"), col("vecd").as("cent_vec"),
        col("norm").as("cent_norm"))
    require(cents.head(1).nonEmpty,
      s"IVF centroid subsample is empty: no row has $idCol % $centroidEvery == 0 " +
        "(sparse or non-dense id space) — pass a smaller centroidEvery")
    cents
  }

  /** Centroid sets up to this size are collected and folded map-side in
    * [[assignCells]]; larger quantizers fall back to the join+window
    * formulation. 64k centroids × 64 dims × 8 B ≈ 32 MB of task literal —
    * about the ceiling worth shipping per task. */
  val MaxDriverCentroids = 65536

  /** Nearest-centroid cell assignment (cosine argmax, cent_id tie-break).
    * Output: every column of `base` plus `cell`. Shared by [[ivfTopK]],
    * [[ivfWriteIndex]] and [[semDedup]].
    *
    * Fast path: the centroid set is tiny by construction, so it is
    * collected (one bounded job) and the argmax runs inside the scan as
    * the codegen'd [[graft.functions.NearestCentroid]] expression — the
    * corpus takes ZERO exchanges for assignment, where the join+window
    * formulation cross-joins and then shuffles the whole corpus on
    * `idCol` to rank. Past `maxDriver` centroids the windowed path takes
    * over — same output (parity spec-pinned), honest fallback for a
    * quantizer too big to ship per task.
    *
    * Tie-break parity: the expression scans centroids in ascending
    * cent_id and keeps strict improvements only, which selects the
    * LOWEST cent_id among bitwise-equal maxima — exactly `ROW_NUMBER()
    * OVER (ORDER BY cent_cos DESC, cent_id ASC) = 1`. (Zero-norm vectors
    * producing NaN cosines are outside both paths' contract.)
    *
    * Malformed-vector parity: a row whose vector has the wrong dimension
    * or null elements gets a NULL cosine against EVERY centroid, so the
    * windowed path drops its candidates before ranking and the left join
    * back restores the row with a NULL cell — the same row the fast
    * path's [[graft.functions.NearestCentroid]] emits (NULL cell, row
    * kept). Without the null filter, `row_number` would rank the all-NULL
    * group by cent_id alone and assign a real cell on one path only. */
  def assignCells(base: DataFrame, idCol: String, cents: DataFrame,
                  maxDriver: Int = MaxDriverCentroids): DataFrame = {
    val keep = base.columns.map(col).toSeq :+ col("cell")
    // fused regime probe + codebook fetch, ONE job: head(maxDriver+1) of
    // the full centroid rows decides the regime AND, when within budget,
    // IS the collected codebook (<= maxDriver rows back means head saw
    // every row, so the set is complete and only needs a driver-side
    // sort). Over budget the transfer is still bounded by maxDriver+1
    // rows (~32 MB) once, independent of n — paid only in the rare
    // windowed regime. The one-job window stops the incremental limit
    // from spending 2-4 sequential jobs on the partition ladder.
    val hw = ConfWindow.headOneJob(base.sparkSession)
    hw.suspend()
    val sample =
      try cents.select(col("cent_id"), col("cent_vec"), col("cent_norm"))
        .head(maxDriver + 1)
      finally hw.restore()
    if (sample.length > maxDriver) {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cent_cos").desc, col("cent_id").asc)
      val best = base.crossJoin(broadcast(cents))
        .withColumn("cent_cos",
          cosine(col("vecd"), col("cent_vec"), col("norm"), col("cent_norm")))
        .filter(col("cent_cos").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col(idCol).as("_cell_of"), col("cent_id").as("cell"))
      base.join(best, col(idCol) === col("_cell_of"), "left")
        .select(keep: _*)
    } else {
      graft.functions.NearestCentroid.ensureRegistered(base.sparkSession)
      // the sample IS the full centroid set; NearestCentroid's tie-break
      // contract needs it in ascending cent_id order (driver-side sort of
      // <= maxDriver rows replaces the old orderBy().collect() job)
      val head = sample.sortBy(_.getLong(0))
      val ids = head.map(_.getLong(0)).toIndexedSeq
      val flat = head.flatMap(_.getSeq[Double](1)).toIndexedSeq
      val norms = head.map(_.getDouble(2)).toIndexedSeq
      base.withColumn("cell",
        graft.functions.NearestCentroid(col("vecd"), col("norm"), ids, flat, norms))
        .select(keep: _*)
    }
  }

  /** Both bounded codebooks of the two-level quantizer, collected once:
    * the level-1 subsample and the shared residual codebook derived from
    * the level-2 subsample's residuals against their OWN level-1 cells.
    * Exactly two bounded driver jobs; fails loud on an empty or
    * over-budget subsample like [[centroidsOf]]. */
  private[operators] final case class TwoLevelCodebooks(
      ids1: IndexedSeq[Long], flat1: IndexedSeq[Double],
      norms1: IndexedSeq[Double], ids2: IndexedSeq[Long],
      flat2: IndexedSeq[Double]) {
    def dim: Int = flat1.length / ids1.length
  }

  private[operators] def buildCodebooks(
      base: DataFrame, idCol: String, every1: Int, every2: Int,
      maxDriver: Int): TwoLevelCodebooks = {
    graft.functions.NearestCentroid.ensureRegistered(base.sparkSession)
    graft.functions.NearestResidual.ensureRegistered(base.sparkSession)
    val head = base.filter(col(idCol) % every1 === 0)
      .select(col(idCol), col("vecd"), col("norm"))
      .orderBy(col(idCol)).head(maxDriver + 1)
    require(head.nonEmpty,
      s"level-1 subsample is empty: no row has $idCol % $every1 == 0 — " +
        "pass a smaller every1")
    require(head.length <= maxDriver,
      s"level-1 codebook exceeds $maxDriver entries — raise every1")
    val ids1 = head.map(_.getLong(0)).toIndexedSeq
    val flat1 = head.flatMap(_.getSeq[Double](1)).toIndexedSeq
    val norms1 = head.map(_.getDouble(2)).toIndexedSeq
    val dim = flat1.length / ids1.length
    val ids1Arr = ids1.toArray
    // Malformed sample rows (NULL cell1) are excluded: they cannot
    // anchor a cell.
    val sample = base
      .withColumn("cell1", graft.functions.NearestCentroid(
        col("vecd"), col("norm"), ids1, flat1, norms1))
      .filter(col(idCol) % every2 === 0 && col("cell1").isNotNull)
      .select(col(idCol), col("vecd"), col("cell1"))
      .orderBy(col(idCol)).head(maxDriver + 1)
    require(sample.nonEmpty,
      s"level-2 subsample is empty: no well-formed row has $idCol % $every2 == 0")
    require(sample.length <= maxDriver,
      s"level-2 codebook exceeds $maxDriver entries — raise every2")
    val ids2 = sample.map(_.getLong(0)).toIndexedSeq
    val flat2 = sample.flatMap { r =>
      val v = r.getSeq[Double](1)
      // cell1 was assigned FROM ids1, so the lookup always hits
      val off = java.util.Arrays.binarySearch(ids1Arr, r.getLong(2)) * dim
      (0 until dim).map(i => v(i) - flat1(off + i))
    }.toIndexedSeq
    TwoLevelCodebooks(ids1, flat1, norms1, ids2, flat2)
  }

  /** TRAINED two-level codebooks at the SAME sizes as the stride
    * derivation (so comparisons isolate codebook QUALITY): level 1 is
    * driver-sample Lloyd's k-means ([[Quantize.lloyd]] — deterministic,
    * no RNG) with k = the `every1`-stride count; level 2 is Lloyd's
    * over the SAMPLE'S RESIDUALS against their own trained level-1
    * cells (cosine argmax with the in-scan expression's strict-
    * improvement tie rule, replayed driver-side) with k = the
    * `every2`-stride count — where the stride derivation takes each
    * sampled residual AS an entry, this trains entries on a
    * `maxSample`-row residual population. The recall lift is measured
    * in the `ann_recall` sidecar (`two_level_trained`) at the SAME
    * `ann_cost` scan economics; the stride codebooks stay the oracle
    * quantizer (training is data-dependent iteration). */
  private[operators] def buildCodebooksTrained(
      base: DataFrame, idCol: String, every1: Int, every2: Int,
      maxDriver: Int, iters: Int = 10,
      maxSample: Int = 4096): TwoLevelCodebooks = {
    graft.functions.NearestCentroid.ensureRegistered(base.sparkSession)
    graft.functions.NearestResidual.ensureRegistered(base.sparkSession)
    val k1 = base.filter(col(idCol) % every1 === 0).count().toInt
    val k2 = base.filter(col(idCol) % every2 === 0).count().toInt
    require(k1 > 0, s"no row has $idCol % $every1 == 0 — pass a smaller every1")
    require(k2 > 0, s"no row has $idCol % $every2 == 0 — pass a smaller every2")
    require(k1 <= maxDriver && k2 <= maxDriver,
      s"codebook sizes $k1/$k2 exceed $maxDriver — raise the strides")
    val sRows = base.select(col(idCol), col("vecd"))
      .orderBy(col(idCol)).head(maxSample)
    require(sRows.nonEmpty, "two-level training sample is empty")
    val sample = sRows.map(_.getSeq[Double](1).toArray)
    val dim = sample(0).length
    val cents1 = Quantize.lloyd(sample, k1, iters)
    val kk1 = cents1.length
    val norms1 = cents1.map(c => math.sqrt(c.map(x => x * x).sum))
    // residuals against the trained level-1 cells — the same cosine
    // argmax + strict-improvement-ascending-id rule as the in-scan
    // NearestCentroid, replayed on the driver
    val residuals = sample.map { v =>
      val vn = math.sqrt(v.map(x => x * x).sum)
      var best = 0
      var bestCos = Double.NegativeInfinity
      var c = 0
      while (c < kk1) {
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += v(i) * cents1(c)(i); i += 1 }
        val cos = acc / (vn * norms1(c))
        if (cos > bestCos) { bestCos = cos; best = c }
        c += 1
      }
      Array.tabulate(dim)(i => v(i) - cents1(best)(i))
    }
    val cents2 = Quantize.lloyd(residuals, k2, iters)
    TwoLevelCodebooks(
      (0 until kk1).map(_.toLong),
      cents1.flatten.toIndexedSeq, norms1.toIndexedSeq,
      (0 until cents2.length).map(_.toLong),
      cents2.flatten.toIndexedSeq)
  }

  /** (cell1, cell2) in-scan assignment against pre-collected codebooks. */
  private def assignWith(base: DataFrame, cb: TwoLevelCodebooks): DataFrame =
    base
      .withColumn("cell1", graft.functions.NearestCentroid(
        col("vecd"), col("norm"), cb.ids1, cb.flat1, cb.norms1))
      .withColumn("cell2", graft.functions.NearestResidual(
        col("vecd"), col("cell1"), cb.ids1, cb.flat1, cb.ids2, cb.flat2))

  /** Two-level coarse quantizer — the true-100 TB regime where a single
    * level runs out: constant cell population needs |C| ∝ n centroids,
    * but only ~64k fit the per-task shipping budget
    * ([[MaxDriverCentroids]]), so past 64k·cellsize vectors a single-level
    * quantizer must either blow up cell population (fixed |C|) or fall
    * back to broadcasting an O(n) centroid set (the windowed path).
    * Composing two bounded codebooks instead spans a |C1|·|C2| cell
    * VOCABULARY (4B+ composite cells from 64k+64k) while shipping only
    * |C1| + |C2| vectors — per-cell sub-centroid tables would ship
    * |C1|·k2, the same O(n) blowup one level down.
    *
    * Level 1: cosine argmax against the `every1`-stride subsample — the
    * in-scan [[graft.functions.NearestCentroid]], unchanged. Level 2: a
    * SHARED residual codebook (the `every2`-stride subsample's residuals
    * against their OWN level-1 centroids — residual quantization, the
    * IVF-ADC construction); every row takes the codebook entry nearest
    * (squared L2) to its residual via the in-scan [[graft.functions
    * .NearestResidual]]. Squared L2 — not cosine — keeps zero-residual
    * rows (exact centroid matches) well-defined.
    *
    * Output: every column of `base` plus (cell1, cell2). ZERO corpus
    * exchanges: both assignments run inside the scan; the only jobs are
    * two bounded codebook collects (≤ maxDriver rows each). Rows whose
    * vector is malformed (wrong dimension / null elements) carry NULL
    * cells, like [[assignCells]]. Generalizes the reference's
    * index-as-physical-design idea (hnarchive.py:53-58) one hierarchy
    * level deeper, to vectors.
    */
  def assignCellsTwoLevel(base: DataFrame, idCol: String, every1: Int,
                          every2: Int,
                          maxDriver: Int = MaxDriverCentroids): DataFrame =
    assignWith(base, buildCodebooks(base, idCol, every1, every2, maxDriver))

  /** [[semDedup]] over the two-level quantizer: the all-pairs comparison
    * confines to COMPOSITE (cell1, cell2) cells, whose population the
    * two bounded codebooks keep small without either exceeding the
    * shipping budget — the same paper semantics with the cluster count
    * no longer capped at 64k. Output: (idCol, cell1, cell2, dup_of,
    * n_dups, top_cos_r). */
  def semDedupTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                       minCos: Double, every1: Int, every2: Int): DataFrame = {
    val base = withNorm(df, vecCol)
    val cb = buildCodebooks(base, idCol, every1, every2, MaxDriverCentroids)
    val assigned = assignWith(base, cb)
      .select(col(idCol), col("vecd"), col("norm"), col("cell1"), col("cell2"))
    pairedWithinCells(assigned, idCol, Seq("cell1", "cell2"))
      .filter(col("cos_r") >= minCos)
      .groupBy(col("id_b"), col("cell1"), col("cell2"))
      .agg(min(col("id_a")).as("dup_of"),
        count(lit(1)).as("n_dups"),
        max(col("cos_r")).as("top_cos_r"))
      .select(col("id_b").as(idCol), col("cell1"), col("cell2"),
        col("dup_of"), col("n_dups"), col("top_cos_r"))
  }

  /** IVF-style ANN top-k: a deterministic subsample of the corpus acts as
    * the coarse quantizer (the "centroids"); every vector is assigned to
    * its nearest centroid's cell (one small broadcast cross-join + argmin),
    * the query probes its `nprobe` nearest cells, and the exact rerank
    * touches only vectors in probed cells. The inverted-file layout at
    * scale: partition (or bucket) the corpus by `cell` at write time and
    * the probe becomes partition pruning.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, centroidEvery: Int = 137,
              nprobe: Int = 2): DataFrame = {
    val base = withNorm(df, vecCol)
    ivfProbe(base, idCol, centroidsOf(base, idCol, centroidEvery),
      queryId, k, nprobe)
  }

  /** [[ivfTopK]] with an EXPLICIT centroid table (cent_id, cent_vec,
    * cent_norm) — any quantizer source: the stride subsample, the
    * [[trainedCentroids]] Lloyd's path, or a persisted sidecar. */
  def ivfTopKCents(df: DataFrame, idCol: String, vecCol: String,
                   cents: DataFrame, queryId: Long, k: Int,
                   nprobe: Int = 2): DataFrame =
    ivfProbe(withNorm(df, vecCol), idCol, cents, queryId, k, nprobe)

  /** TRAINED coarse centroids: Lloyd's k-means (see [[Quantize.lloyd]] —
    * deterministic, no RNG) over a bounded ascending-id driver sample.
    * The stride subsample stays the ORACLE quantizer (training is
    * data-dependent iteration, not SQL-expressible); this is the quality
    * path, adjudicated by measured recall@k ([[AnnRecall]]) and
    * spec-pinned quantization error. Output schema matches
    * [[centroidsOf]], so every IVF tier composes unchanged. */
  def trainedCentroids(df: DataFrame, idCol: String, vecCol: String,
                       k: Int, iters: Int = 10,
                       maxSample: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = withNorm(df, vecCol)
      .select(col(idCol), col("vecd"))
      .orderBy(col(idCol)).head(maxSample)
    require(rows.nonEmpty, "IVF training sample is empty")
    val sample = rows.map(_.getSeq[Double](1).toArray)
    val cents = Quantize.lloyd(sample, k, iters)
    cents.zipWithIndex.toSeq
      .map { case (c, i) =>
        (i.toLong, c.toSeq, math.sqrt(c.map(x => x * x).sum)) }
      .toDF("cent_id", "cent_vec", "cent_norm")
  }

  private def ivfProbe(base: DataFrame, idCol: String, cents: DataFrame,
                       queryId: Long, k: Int, nprobe: Int): DataFrame = {
    val assigned = assignCells(base, idCol, cents)
      .select(col(idCol), col("vecd"), col("norm"), col("cell"))
    val q = base.filter(col(idCol) === queryId)
      .select(col("vecd").as("qvec"), col("norm").as("qnorm"))
    val probed = cents.crossJoin(broadcast(q))
      .withColumn("cent_cos",
        cosine(col("qvec"), col("cent_vec"), col("qnorm"), col("cent_norm")))
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
      .limit(nprobe)
      .select(col("cent_id").as("cell"))
    assigned
      .join(broadcast(probed), "cell")
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col("cell"),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col(idCol).asc)
      .limit(k)
  }

  /** Materialized IVF index: the corpus written to `dir` PARTITIONED BY its
    * cell assignment (same deterministic subsample-centroid quantizer as
    * [[ivfTopK]]). This is the "inverted file" made literal in the storage
    * layout: each cell is a parquet partition directory, so a probe is
    * partition PRUNING — the scan never opens unprobed cells' files
    * (`IvfIndexSpec` pins that on the physical plan). At 100 TB this is the
    * difference between touching nprobe/k-th of the corpus and all of it.
    */
  def ivfWriteIndex(df: DataFrame, idCol: String, vecCol: String, dir: String,
                    centroidEvery: Int = 137): Unit = {
    val base = withNorm(df, vecCol)
    val cents = centroidsOf(base, idCol, centroidEvery)
    assignCells(base, idCol, cents)
      .select(col(idCol), col(vecCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/data")
    // centroids stored beside the data: the probe reads THIS (tiny), never
    // the corpus
    cents.select(col("cent_id").as("cell"), col("cent_vec"), col("cent_norm"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Query the materialized index: rank cells from the (tiny) centroid
    * sidecar, then exact-rerank ONLY the probed partitions —
    * `cell IN (...)` prunes at the directory level, so unprobed cells'
    * files are never opened. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                     idCol: String, vecCol: String, queryVec: Seq[Double],
                     k: Int, nprobe: Int = 2): DataFrame = {
    graft.functions.VecDot.ensureRegistered(spark)
    val qlit = array(queryVec.map(lit): _*)
    val qnorm = math.sqrt(queryVec.map(x => x * x).sum)
    val probed = spark.read.parquet(s"$dir/centroids")
      .withColumn("cent_cos", dotD(col("cent_vec"), qlit) / (col("cent_norm") * qnorm))
      .orderBy(col("cent_cos").desc, col("cell").asc)
      .limit(nprobe)
      .select("cell").collect().map(_.getLong(0))
    spark.read.parquet(s"$dir/data")
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .withColumn("vecd", vecD(col(vecCol)))
      .withColumn("norm", normD(col("vecd")))
      .select(col(idCol), col("cell"),
        round(dotD(col("vecd"), qlit) / (col("norm") * qnorm), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[ivfTopK]] over the two-level quantizer: the probe ranks level-1
    * cells by query cosine (nprobe1), then within each probed cell ranks
    * the residual codebook by the QUERY'S residual against that cell's
    * centroid (nprobe2) — all driver-side arithmetic over the two
    * collected codebooks, no corpus job. The exact rerank touches only
    * rows whose composite (cell1, cell2) is among the nprobe1·nprobe2
    * probed pairs (a broadcast semi-join on the pair). Driver folds are
    * index-ordered like the in-scan expressions, so probing is
    * bitwise-reproducible by a SQL twin. */
  def ivfTopKTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                      queryId: Long, k: Int, every1: Int, every2: Int,
                      nprobe1: Int = 2, nprobe2: Int = 2): DataFrame = {
    val cb = buildCodebooks(withNorm(df, vecCol), idCol, every1, every2,
      MaxDriverCentroids)
    ivfTopKTwoLevelWith(df, idCol, vecCol, queryId, k, cb, nprobe1, nprobe2)
  }

  /** [[ivfTopKTwoLevel]] against EXPLICIT codebooks — any quantizer
    * derivation (stride, sample-trained, or the exact-replay
    * [[Quantize.twoLevelTrainExact]] the q102 oracle replays) probes
    * through the same plan. */
  private[operators] def ivfTopKTwoLevelWith(
      df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, cb: TwoLevelCodebooks,
      nprobe1: Int, nprobe2: Int): DataFrame = {
    val spark = df.sparkSession
    val base = withNorm(df, vecCol)
    val assigned = assignWith(base, cb)
      .select(col(idCol), col("vecd"), col("norm"), col("cell1"), col("cell2"))
    val qRow = base.filter(col(idCol) === queryId)
      .select(col("vecd"), col("norm")).head()
    val qv = qRow.getSeq[Double](0).toArray
    val qn = qRow.getDouble(1)
    val dim = cb.dim
    // level-1 probe: query cosine against each centroid, index-ordered
    // fold like the in-scan expressions (bitwise SQL-replayable)
    val probed1 = cb.ids1.indices.map { c =>
      val off = c * dim
      var acc = 0.0; var i = 0
      while (i < dim) { acc += qv(i) * cb.flat1(off + i); i += 1 }
      (cb.ids1(c), off, acc / (qn * cb.norms1(c)))
    }.sortBy { case (id, _, cos) => (-cos, id) }.take(nprobe1)
    // level-2 probe per probed cell: the QUERY'S residual against that
    // cell's centroid, ranked against the shared codebook by squared L2
    val probedPairs = probed1.flatMap { case (cid1, off1, _) =>
      cb.ids2.indices.map { c =>
        val off2 = c * dim
        var acc = 0.0; var i = 0
        while (i < dim) {
          val d = (qv(i) - cb.flat1(off1 + i)) - cb.flat2(off2 + i)
          acc += d * d; i += 1
        }
        (cb.ids2(c), acc)
      }.sortBy { case (id, dist) => (dist, id) }.take(nprobe2)
        .map { case (cid2, _) => (cid1, cid2) }
    }
    import spark.implicits._
    val pairsDf = probedPairs.toDF("cell1", "cell2")
    val q = base.filter(col(idCol) === queryId)
      .select(col("vecd").as("qvec"), col("norm").as("qnorm"))
    assigned
      .join(broadcast(pairsDf), Seq("cell1", "cell2"))
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col("cell1"), col("cell2"),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[ivfWriteIndex]] over the two-level quantizer: the corpus lands
    * PARTITIONED BY (cell1, cell2) — the composite inverted file as
    * nested directories, so a two-level probe prunes at both levels —
    * with both (tiny) codebooks as sidecars for probe-time ranking. The
    * sidecars are written from the SAME collected arrays the assignment
    * shipped, so index and probe can never disagree on the quantizer. */
  def ivfWriteIndexTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                            dir: String, every1: Int, every2: Int): Unit = {
    val spark = df.sparkSession
    val base = withNorm(df, vecCol)
    val cb = buildCodebooks(base, idCol, every1, every2, MaxDriverCentroids)
    assignWith(base, cb)
      .select(col(idCol), col(vecCol), col("cell1"), col("cell2"))
      .write.mode("overwrite").partitionBy("cell1", "cell2")
      .parquet(s"$dir/data")
    import spark.implicits._
    val dim = cb.dim
    cb.ids1.indices.map { c =>
      (cb.ids1(c), (0 until dim).map(i => cb.flat1(c * dim + i)), cb.norms1(c))
    }.toDF("cell1", "cent_vec", "cent_norm")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids1")
    cb.ids2.indices.map { c =>
      (cb.ids2(c), (0 until dim).map(i => cb.flat2(c * dim + i)))
    }.toDF("cell2", "rvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook2")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the corpus with the coarse quantizer, then
    * within each cluster mark every vector that has a LOWER-id neighbor
    * with cosine ≥ `minCos` as a semantic duplicate. Output (one row per
    * DROPPED vector): (idCol, cell, dup_of = lowest such neighbor,
    * n_dups, top_cos_r), ordered by id.
    *
    * Scale shape: the all-pairs comparison is confined to cells —
    * candidate generation is the same broadcast assignment as
    * [[ivfTopK]], the self-join shuffles on (cell, id-hash block) via
    * [[pairedWithinCells]] so a hot cell spreads across tasks instead
    * of becoming one straggler, and the per-pair cosine is the
    * codegen'd [[graft.functions.VecDot]]. The corpus never
    * materializes driver-side. Cell population is bounded by the
    * quantizer granularity (`centroidEvery`), which is the knob that
    * keeps within-cell pairs quadratic-in-small rather than
    * quadratic-in-corpus — exactly the paper's k-means confinement.
    *
    * The threshold compares the 6-dp ROUNDED cosine (like the rest of
    * the similarity family) so the decision is bitwise-reproducible
    * across engines. */
  /** Within-cell pair generation for the semantic-dedup family,
    * SKEW-SAFE: keyed only by the cell columns, one hot cell is one
    * straggler task at scale (all its pairs land on a single reducer).
    * Side b carries a deterministic id-hash block in `0..g-1`; side a is
    * replicated g ways (an exploded `sequence`, so the generator output
    * — not a shuffle — fans out), and the join key `(cells..., _pb)`
    * spreads each cell's quadratic pair work across g tasks. Every
    * unordered pair `(id_a < id_b)` still joins EXACTLY once — a's copy
    * whose `_pb` equals b's block. The pair SET is g-invariant
    * (parity-spec-pinned); only the task decomposition changes.
    *
    * g = `spark.graft.semdedup.pairblocks` (default 8 — enough to show
    * the shape locally without inflating the small-SF bench; production
    * sizes g so the hottest cell's population²/g fits one task budget.
    * The cost of a larger g is the a-side replicate crossing the
    * exchange g times, which is the standard salting trade, guide §2.5).
    *
    * Output: the cell columns, id_a, id_b, and the 6-dp rounded cosine
    * `cos_r` of every within-cell pair. */
  private def pairedWithinCells(assigned: DataFrame, idCol: String,
                                cellCols: Seq[String]): DataFrame = {
    val g = assigned.sparkSession.conf
      .get("spark.graft.semdedup.pairblocks", "8").toLong
    // the a-side is replicated g ways across the exchange: bound it
    require(g >= 1 && g <= 65536,
      s"spark.graft.semdedup.pairblocks must be in [1, 65536], got $g")
    val cells = cellCols.map(col)
    val a = assigned.select(cells ++ Seq(col(idCol).as("id_a"),
      col("vecd").as("va"), col("norm").as("na")): _*)
      .withColumn("_pb", explode(sequence(lit(0L), lit(g - 1L))))
    val b = assigned.select(cells ++ Seq(col(idCol).as("id_b"),
      col("vecd").as("vb"), col("norm").as("nb")): _*)
      .withColumn("_pb", pmod(xxhash64(col("id_b")), lit(g)))
    a.join(b, cellCols :+ "_pb")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_r",
        round(cosine(col("va"), col("vb"), col("na"), col("nb")), 6))
      .select(cells ++ Seq(col("id_a"), col("id_b"), col("cos_r")): _*)
  }

  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               minCos: Double, centroidEvery: Int = 137): DataFrame = {
    val base = withNorm(df, vecCol)
    val cents = centroidsOf(base, idCol, centroidEvery)
    val assigned = assignCells(base, idCol, cents)
      .select(col(idCol), col("vecd"), col("norm"), col("cell"))
    pairedWithinCells(assigned, idCol, Seq("cell"))
      .filter(col("cos_r") >= minCos)
      .groupBy(col("id_b"), col("cell"))
      .agg(min(col("id_a")).as("dup_of"),
        count(lit(1)).as("n_dups"),
        max(col("cos_r")).as("top_cos_r"))
      .select(col("id_b").as(idCol), col("cell"), col("dup_of"),
        col("n_dups"), col("top_cos_r"))
  }

  /** The semantically deduplicated corpus: `df` minus every vector
    * [[semDedup]] drops — the keep-lowest-id-per-duplicate-group policy. */
  def semDedupKeep(df: DataFrame, idCol: String, vecCol: String,
                   minCos: Double, centroidEvery: Int = 137): DataFrame =
    df.join(semDedup(df, idCol, vecCol, minCos, centroidEvery)
      .select(col(idCol)), Seq(idCol), "left_anti")

  /** DENSITY-BASED PRUNING rank table (the SSL-prototypes method of
    * Sorscher et al. 2022, "Beyond neural scaling laws": when data is
    * abundant, dropping the most PROTOTYPICAL examples — the ones
    * closest to their cluster centroid — beats random pruning, because
    * the prototypical core is the most redundant). Complementary to
    * [[semDedup]]: SemDeDup drops near-DUPLICATE pairs wherever they
    * sit; density pruning thins the cluster CORE by a per-cell fraction
    * regardless of pairwise similarity.
    *
    * Method: nearest-centroid cell assignment (the deterministic stride
    * quantizer shared with [[ivfTopK]]/[[semDedup]], in-scan argmax,
    * ZERO corpus exchanges), prototypicality = rounded cosine to the
    * ASSIGNED centroid (one broadcast join against the bounded centroid
    * table recovers the centroid vector — assignment itself stays
    * in-scan), rank within the cell by cosine DESC (id ASC tie-break:
    * rank 1 = most prototypical), and the kept flag drops the
    * prototypical HEAD: kept ⇔ `1000·rank > dropMilli·n_cell` —
    * multiplication form, so the per-cell drop count is exactly
    * `floor(dropMilli·n_cell / 1000)` with no division-sign or
    * float-fraction trap, and `dropMilli` 0/1000 are exact keep-all /
    * drop-all. Output: (idCol, cell, cent_cos_r, rank, n_cell, kept) —
    * the audit table; [[densityPruneKeep]] applies it.
    *
    * Scale: the only corpus exchange is the per-cell window shuffle —
    * the ranking IS the operator (same essential cost as q100's epoch
    * shuffle); everything else is in-scan or broadcast. Cell counts are
    * bounded by the quantizer, and a skewed mega-cell is an AQE
    * skew-split like any other window partition. */
  def densityRank(df: DataFrame, idCol: String, vecCol: String,
                  dropMilli: Long, centroidEvery: Int = 137): DataFrame = {
    require(dropMilli >= 0 && dropMilli <= 1000,
      s"dropMilli must be in [0, 1000], got $dropMilli")
    val base = withNorm(df, vecCol)
    val cents = centroidsOf(base, idCol, centroidEvery)
    val assigned = assignCells(base, idCol, cents)
      .select(col(idCol), col("vecd"), col("norm"), col("cell"))
    val w = Window.partitionBy("cell")
    val ord = w.orderBy(col("cent_cos_r").desc, col(idCol).asc)
    assigned
      .join(broadcast(cents), col("cell") === col("cent_id"))
      .withColumn("cent_cos_r",
        round(cosine(col("vecd"), col("cent_vec"), col("norm"),
          col("cent_norm")), 6))
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("n_cell", count(lit(1)).over(w))
      .withColumn("kept",
        (lit(1000L) * col("rank") > lit(dropMilli) * col("n_cell"))
          .cast("long"))
      .select(col(idCol), col("cell"), col("cent_cos_r"), col("rank"),
        col("n_cell"), col("kept"))
  }

  /** The density-pruned corpus: `df` minus the prototypical head of
    * every cell — [[densityRank]]'s kept=1 rows, applied as an ids-only
    * semi-join so the corpus text/vector payload crosses no exchange. */
  def densityPruneKeep(df: DataFrame, idCol: String, vecCol: String,
                       dropMilli: Long, centroidEvery: Int = 137): DataFrame =
    df.join(densityRank(df, idCol, vecCol, dropMilli, centroidEvery)
      .filter(col("kept") === 1L).select(col(idCol)), Seq(idCol), "left_semi")

  /** LSH-bucketed ANN top-k: candidates share the query's 8-bit bucket;
    * exact cosine rerank on candidates only. */
  /** MULTI-PROBE [[annTopK]]: candidates live in ANY bucket within
    * Hamming `radius` of the query's 8-plane bucket, exact rerank on
    * candidates only. Single-probe LSH at these knobs is a precision
    * tool, not a recall one — the [[AnnRecall]] audit measures it near
    * ZERO recall@10 on the fixture corpus (a true top-10 neighbor at
    * ~60° lands in the query's exact bucket with odds ~(1−θ/π)⁸ ≈ 3%) —
    * and multi-probe is the standard deployment answer: radius 1 probes
    * 9 of 256 buckets (~3.5% of the corpus instead of ~0.4%) and buys
    * back most neighbors whose signature differs by one plane. The
    * probe set enumerates DRIVER-SIDE into an `isin` list, so at scale
    * (bucket as a partition column) the scan prunes to the probed
    * partitions — the predicate-pushdown shape, where the equivalent
    * `bit_count(xor(bucket, qb)) <= radius` form (the oracle's) would
    * scan everything. */
  def annTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String,
                        queryId: Long, k: Int, radius: Int = 1): DataFrame = {
    require(radius >= 0 && radius <= 8, "radius must be in [0, 8]")
    graft.functions.HyperplaneBucket.ensureRegistered(df.sparkSession)
    graft.functions.PinEval.ensureRegistered(df.sparkSession)
    val nb = withNorm(df, vecCol)
    // id filters run BEFORE the bucket projection (so the selective
    // query-row lookup still pushes to the scan) and the corpus-side
    // bucket is pin_eval'd: the isin probe filter and inferred isnotnull
    // otherwise substitute below the projection and the 8-plane fold
    // runs twice per corpus row (guide §4.4)
    val qRow = nb.filter(col(idCol) === queryId)
      .withColumn("bucket", hyperplaneBucket(col("vecd")))
      .select(col("vecd"), col("norm"), col("bucket")).head()
    val qb = qRow.getLong(2)
    val probed = (0 until 256).map(_.toLong)
      .filter(b => java.lang.Long.bitCount(b ^ qb) <= radius)
    val q = nb.filter(col(idCol) === queryId)
      .select(col("vecd").as("qvec"), col("norm").as("qnorm"))
    nb.filter(col(idCol) =!= queryId)
      .withColumn("bucket",
        graft.functions.PinEval.pin(hyperplaneBucket(col("vecd"))))
      .filter(col("bucket").isin(probed: _*))
      .crossJoin(broadcast(q))
      .select(col(idCol), col("bucket"),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col(idCol).asc)
      .limit(k)
  }

  /** Materialized LSH index: the corpus written to `dir` PARTITIONED BY
    * its 8-plane bucket — [[annTopKMultiProbe]]'s partition-pruning story
    * made literal in the storage layout, the same move [[ivfWriteIndex]]
    * makes for cells. 256 partition directories; a radius-`r` probe
    * opens only the Σ C(8,≤r) probed ones (9 at radius 1, 37 at radius
    * 2), so at 100 TB a probe touches ~3.5 % / ~14 % of the corpus files
    * and the rest are never read (plan-pinned in `LshIndexSpec`). No
    * sidecar needed: the quantizer is the deterministic plane family,
    * derivable from the query vector alone at probe time. */
  def lshWriteIndex(df: DataFrame, idCol: String, vecCol: String,
                    dir: String): Unit = {
    graft.functions.HyperplaneBucket.ensureRegistered(df.sparkSession)
    withNorm(df, vecCol)
      .withColumn("bucket", hyperplaneBucket(col("vecd")))
      .select(col(idCol), col(vecCol), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/data")
  }

  /** Query the materialized LSH index: the query vector's bucket derives
    * DRIVER-SIDE ([[graft.functions.HyperplaneBucket.computeJvm]], the
    * same IEEE fold the writer ran in-scan), the Hamming-`radius` probe
    * set enumerates into an `isin` predicate that prunes at the
    * directory level, and only probed buckets' rows are exact-reranked.
    * Zero jobs before the pruned scan — the probe plan is fully decided
    * on the driver, like [[ivfTopKIndexed]] after its sidecar read. */
  def annTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                     idCol: String, vecCol: String, queryVec: Seq[Double],
                     k: Int, radius: Int = 1): DataFrame = {
    require(radius >= 0 && radius <= 8, "radius must be in [0, 8]")
    graft.functions.VecDot.ensureRegistered(spark)
    val qb = graft.functions.HyperplaneBucket.computeJvm(queryVec.toArray)
    val probed = (0L until 256L)
      .filter(b => java.lang.Long.bitCount(b ^ qb) <= radius)
    val qlit = array(queryVec.map(lit): _*)
    val qnorm = math.sqrt(queryVec.map(x => x * x).sum)
    spark.read.parquet(s"$dir/data")
      .filter(col("bucket").isin(probed: _*))
      .withColumn("vecd", vecD(col(vecCol)))
      .withColumn("norm", normD(col("vecd")))
      .select(col(idCol), col("bucket"),
        round(dotD(col("vecd"), qlit) / (col("norm") * qnorm), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col(idCol).asc)
      .limit(k)
  }

  def annTopK(df: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int): DataFrame = {
    graft.functions.HyperplaneBucket.ensureRegistered(df.sparkSession)
    graft.functions.PinEval.ensureRegistered(df.sparkSession)
    val nb = withNorm(df, vecCol)
    // same discipline as [[annTopKMultiProbe]]: id filters before the
    // bucket projection, corpus bucket pinned to one evaluation (the
    // bucket equi-filter's inferred isnotnull used to re-expand the
    // fold below the projection on both join sides)
    val q = nb.filter(col(idCol) === queryId)
      .withColumn("qbucket",
        graft.functions.PinEval.pin(hyperplaneBucket(col("vecd"))))
      .select(col("vecd").as("qvec"), col("norm").as("qnorm"),
        col("qbucket"))
    nb.filter(col(idCol) =!= queryId)
      .withColumn("bucket",
        graft.functions.PinEval.pin(hyperplaneBucket(col("vecd"))))
      .crossJoin(broadcast(q))
      .filter(col("bucket") === col("qbucket"))
      .select(col(idCol), col("bucket"),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6).as("cos_r"))
      .orderBy(col("cos_r").desc, col(idCol).asc)
      .limit(k)
  }

  // -------------------------------------------------------------------
  // BATCH ANN — the deployment shape of the probe tiers. A real serving
  // or audit workload carries a QUERY TABLE, not one id: running the
  // per-query operators in a driver loop costs one scheduler round-trip
  // per (query, path) — the round-9 audit finding — where one plan per
  // path serves every query at once. Each batch operator below is the
  // EXACT batched twin of its single-query operator (same probe
  // enumeration arithmetic, same rounded-cosine ranking, same
  // (score DESC, id ASC) tie-break, pinned by AnnBatchParitySpec): the
  // corpus scans ONCE for all queries, the per-query top-k is one
  // qid-partitioned window over candidates, and the query set broadcasts
  // like [[knnJoin]]'s. Output everywhere: (qid, idCol, ..., rank).
  // -------------------------------------------------------------------

  /** Window-rank helper shared by the batch tiers: per-qid `rank` by
    * (score DESC, idCol ASC), kept rows rank <= k. */
  private def perQueryTopK(cand: DataFrame, idCol: String, scoreCol: String,
                           k: Int, asc: Boolean = false): DataFrame = {
    val ord = if (asc) Seq(col(scoreCol).asc, col(idCol).asc)
      else Seq(col(scoreCol).desc, col(idCol).asc)
    val w = Window.partitionBy("qid").orderBy(ord: _*)
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Batch [[annTopKMultiProbe]] (radius 0 = batch [[annTopK]]): each
    * query row's Hamming-`radius` probe set enumerates from ITS in-scan
    * bucket (the same deterministic plane family), explodes to
    * (qid, bucket) probe pairs — Σ C(8,≤r) rows per query — and
    * candidate generation is the bucket EQUI-join against the one
    * bucketed corpus scan: hash-lookup per corpus row, never a
    * nested-loop over queries, pruning-shaped like the single-query
    * `isin`. Exact rerank touches candidates only. */
  def annTopKMultiProbeBatch(corpus: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             radius: Int = 1): DataFrame = {
    require(radius >= 0 && radius <= 8, "radius must be in [0, 8]")
    graft.functions.HyperplaneBucket.ensureRegistered(corpus.sparkSession)
    graft.functions.PinEval.ensureRegistered(corpus.sparkSession)
    // both buckets pinned: the probe equi-join's inferred isnotnull
    // would re-expand the 8-plane fold below each projection (no
    // filters need to push through either side — no pushdown lost)
    val base = withNorm(corpus, vecCol)
      .withColumn("bucket",
        graft.functions.PinEval.pin(hyperplaneBucket(col("vecd"))))
    val q = withNorm(queries, vecCol)
      .withColumn("qbucket",
        graft.functions.PinEval.pin(hyperplaneBucket(col("vecd"))))
      // qid casts to long like every sibling batch operator — the batch
      // family's outputs are advertised interchangeable, so the schema
      // must agree across paths
      .select(col(idCol).cast("long").as("qid"), col("vecd").as("qvec"),
        col("norm").as("qnorm"), col("qbucket"))
    // per-query probe set: all 256 buckets filtered to Hamming <= radius
    // of the query's own bucket (tiny interpreted HOF on the query side)
    val probes = q.select(col("qid"), col("qvec"), col("qnorm"),
      explode(filter(sequence(lit(0L), lit(255L)),
        b => bit_count(b.bitwiseXOR(col("qbucket"))) <= radius)).as("bucket"))
    val cand = base.join(broadcast(probes), Seq("bucket"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), col("bucket"),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6)
          .as("cos_r"))
    perQueryTopK(cand, idCol, "cos_r", k)
  }

  /** Batch [[ivfTopKCents]] against an explicit centroid table (stride,
    * Lloyd's-trained, or distributed-trained): ONE cell assignment scan
    * serves every query; per-query probe ranking is a window over the
    * (tiny) centroids × queries cross — the same cosine/tie-break as the
    * single-query probe — and candidates are the probed-cell equi-join. */
  def ivfTopKCentsBatch(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, cents: DataFrame, k: Int,
                        nprobe: Int = 2): DataFrame = {
    val base = withNorm(corpus, vecCol)
    val assigned = assignCells(base, idCol, cents)
      .select(col(idCol), col("vecd"), col("norm"), col("cell"))
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("qid"), col("vecd").as("qvec"),
        col("norm").as("qnorm"))
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("cent_cos").desc, col("cent_id").asc)
    val probed = cents.crossJoin(broadcast(q))
      .withColumn("cent_cos",
        cosine(col("qvec"), col("cent_vec"), col("qnorm"), col("cent_norm")))
      .withColumn("_pr", row_number().over(wProbe))
      .filter(col("_pr") <= nprobe)
      .select(col("qid"), col("qvec"), col("qnorm"),
        col("cent_id").as("cell"))
    val cand = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol), col("cell"),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6)
          .as("cos_r"))
    perQueryTopK(cand, idCol, "cos_r", k)
  }

  /** Batch [[ivfTopK]] (stride quantizer). */
  def ivfTopKBatch(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, centroidEvery: Int = 137,
                   nprobe: Int = 2): DataFrame = {
    val base = withNorm(corpus, vecCol)
    ivfTopKCentsBatch(corpus, queries, idCol, vecCol,
      centroidsOf(base, idCol, centroidEvery), k, nprobe)
  }

  /** Batch [[ivfTopKTwoLevel]]: both codebooks are driver arrays already
    * (the shipping budget), so each query's (cell1, cell2) probe pairs
    * compute with the single-query operator's exact JVM loops — one
    * bounded collect of the QUERY vectors (the query set broadcasts
    * anyway), then one assignment scan + one probe-pair equi-join serves
    * the whole batch. */
  def ivfTopKTwoLevelBatch(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, k: Int,
                           every1: Int, every2: Int, nprobe1: Int = 2,
                           nprobe2: Int = 2): DataFrame = {
    val base = withNorm(corpus, vecCol)
    ivfTopKTwoLevelBatchWith(corpus, queries, idCol, vecCol,
      buildCodebooks(base, idCol, every1, every2, MaxDriverCentroids),
      k, nprobe1, nprobe2)
  }

  /** [[ivfTopKTwoLevelBatch]] against EXPLICIT codebooks — any quantizer
    * source: the stride derivation or [[buildCodebooksTrained]]. */
  private[operators] def ivfTopKTwoLevelBatchWith(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      cb: TwoLevelCodebooks, k: Int, nprobe1: Int,
      nprobe2: Int): DataFrame = {
    val spark = corpus.sparkSession
    val base = withNorm(corpus, vecCol)
    val assigned = assignWith(base, cb)
      .select(col(idCol), col("vecd"), col("norm"), col("cell1"), col("cell2"))
    val dim = cb.dim
    val qRows = withNorm(queries, vecCol)
      .select(col(idCol).cast("long"), col("vecd"), col("norm")).collect()
    val probeRows = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Double](1).toArray
      val qn = r.getDouble(2)
      val probed1 = cb.ids1.indices.map { c =>
        val off = c * dim
        var acc = 0.0; var i = 0
        while (i < dim) { acc += qv(i) * cb.flat1(off + i); i += 1 }
        (cb.ids1(c), off, acc / (qn * cb.norms1(c)))
      }.sortBy { case (id, _, cos) => (-cos, id) }.take(nprobe1)
      probed1.flatMap { case (cid1, off1, _) =>
        cb.ids2.indices.map { c =>
          val off2 = c * dim
          var acc = 0.0; var i = 0
          while (i < dim) {
            val d = (qv(i) - cb.flat1(off1 + i)) - cb.flat2(off2 + i)
            acc += d * d; i += 1
          }
          (cb.ids2(c), acc)
        }.sortBy { case (id, dist) => (dist, id) }.take(nprobe2)
          .map { case (cid2, _) => (qid, cid1, cid2) }
      }
    }.toIndexedSeq
    import spark.implicits._
    val pairsDf = probeRows.toDF("qid", "cell1", "cell2")
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("qid"), col("vecd").as("qvec"),
        col("norm").as("qnorm"))
    val cand = assigned.join(broadcast(pairsDf), Seq("cell1", "cell2"))
      .filter(col(idCol) =!= col("qid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col(idCol), col("cell1"), col("cell2"),
        round(cosine(col("vecd"), col("qvec"), col("norm"), col("qnorm")), 6)
          .as("cos_r"))
    perQueryTopK(cand, idCol, "cos_r", k)
  }
}
