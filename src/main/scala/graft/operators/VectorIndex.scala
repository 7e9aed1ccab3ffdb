package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.store.Snapshots

/** A STANDING IVF vector index — [[Similarity.ivfWriteIndex]]'s
  * cell-partitioned inverted-file layout rebuilt on the crash-atomic
  * [[Snapshots]] store, so the index can absorb continuous ingestion the
  * way the BM25 index ([[Retrieval.bm25WriteIndex]] family) does:
  * micro-batches append O(batch) tokened deltas, compaction folds the
  * delta log back into one base at a cadence, and every durability
  * property (pointer-commit swaps, orphan sweeps, consumed-token replay
  * protection) is the store's, not the caller's.
  *
  * Layout under `dir`:
  *   - `data/`       — Snapshots of (id, vec, cell), hive-PARTITIONED BY
  *                     cell: base and every delta carry the cell
  *                     directory layout, so a probe's `cell IN (...)`
  *                     prunes at the directory level in ALL of them
  *   - `centroids/`  — the quantizer sidecar (cell, cent_vec, cent_norm),
  *                     written ONCE at bootstrap; appends read it back,
  *                     so index and probe can never disagree on the
  *                     quantizer (the frozen-quantizer discipline every
  *                     real IVF deployment uses between re-trains —
  *                     retraining = rebuild via [[writeIndex]], e.g. with
  *                     [[Quantize.kmeansTrain]] centroids)
  *
  * Scale shape: appends never touch the base (O(batch) parquet rows +
  * one manifest move); a probe reads nprobe cell directories across
  * base + outstanding deltas (delta count bounded by the compaction
  * cadence); compaction is O(index), amortized O(index / compactEvery)
  * per batch — the [[graft.streaming.IncrementalDedup]] delta-log
  * economics applied to vectors.
  */
object VectorIndex {

  private val dataSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = true), nullable = true),
    StructField("cell", LongType, nullable = true)))

  private def dataStore(spark: SparkSession, dir: String): Snapshots =
    new Snapshots(spark, s"$dir/data", dataSchema,
      partitionByCol = Some("cell"))

  private def centroidsDf(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids")

  /** Bootstrap the index from a seed corpus: stride-subsample quantizer
    * (or pass explicit centroids via [[writeIndexWith]]), in-scan cell
    * assignment, one partitioned base snapshot. */
  def writeIndex(df: DataFrame, idCol: String, vecCol: String, dir: String,
                 centroidEvery: Int = 137): Unit = {
    val base = Similarity.withNorm(df, vecCol)
    writeIndexWith(df, idCol, vecCol, dir,
      Similarity.centroidsOf(base, idCol, centroidEvery))
  }

  /** [[writeIndex]] with an EXPLICIT centroid table (cent_id, cent_vec,
    * cent_norm) — any quantizer source: the stride subsample, the
    * driver-sample [[Similarity.trainedCentroids]], or the whole-corpus
    * [[Quantize.kmeansTrain]]. */
  def writeIndexWith(df: DataFrame, idCol: String, vecCol: String,
                     dir: String, cents: DataFrame): Unit = {
    val spark = df.sparkSession
    val base = Similarity.withNorm(df, vecCol)
    cents
      .select(col("cent_id").as("cell"), col("cent_vec"), col("cent_norm"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val store = dataStore(spark, dir)
    store.init()
    store.replace(Similarity.assignCells(base, idCol, cents)
      .select(col(idCol).cast("long").as("id"),
        col("vecd").as("vec"), col("cell")))
  }

  /** Append a micro-batch: assign against the FROZEN sidecar quantizer
    * (in-scan), write one tokened delta. A replayed `batchId` — even one
    * whose delta a compaction already folded away — is a no-op via the
    * store's manifest + consumed-token ledger. */
  def appendIndex(batch: DataFrame, idCol: String, vecCol: String,
                  dir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val cents = centroidsDf(spark, dir)
      .select(col("cell").as("cent_id"), col("cent_vec"), col("cent_norm"))
    val assigned = Similarity.assignCells(
      Similarity.withNorm(batch, vecCol), idCol, cents)
      .select(col(idCol).cast("long").as("id"),
        col("vecd").as("vec"), col("cell"))
    dataStore(spark, dir).appendDelta(assigned, Some(s"b-$batchId"))
  }

  /** Outstanding delta count — the caller's compaction trigger. */
  def indexDeltaCount(spark: SparkSession, dir: String): Int =
    dataStore(spark, dir).deltaCount

  /** DELETE vectors from the standing index — the ANN twin of the
    * claim stores' retraction: a probe must stop returning ids whose
    * payloads were deleted from the corpus. One filtered
    * `replace(read())` (folds outstanding deltas too — deletion doubles
    * as a compaction), idempotent and crash-retryable; the result
    * equals an index rebuilt from the surviving corpus under the same
    * frozen quantizer (spec-pinned). Bounded loud at
    * [[graft.store.ClaimRetraction.MaxRetractIds]] ids per batch.
    * Returns the number of vectors removed. */
  def deleteIndex(spark: SparkSession, dir: String, ids: Seq[Long]): Long = {
    require(ids.size <= graft.store.ClaimRetraction.MaxRetractIds,
      s"${ids.size} deletion ids exceed the " +
        s"${graft.store.ClaimRetraction.MaxRetractIds} batch ceiling — " +
        "rebuild the index from the surviving corpus instead")
    if (ids.isEmpty) 0L
    else {
      // init() on a missing store would silently BOOTSTRAP an empty
      // index — deleting from a nonexistent index must fail loud
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "data", "current")),
        s"no vector index at $dir — nothing to delete from")
      val store = dataStore(spark, dir)
      store.init()
      val n = graft.store.ClaimRetraction
        .among(store.read(), col("id"), ids).count()
      if (n > 0L) store.replace(graft.store.ClaimRetraction
        .excluding(store.read(), col("id"), ids))
      n
    }
  }

  /** Audit read for [[deleteIndex]]: vectors among `ids` still present
    * (base + outstanding deltas) — 0 after a completed deletion. */
  def indexHeld(spark: SparkSession, dir: String, ids: Seq[Long]): Long =
    if (ids.isEmpty) 0L
    else {
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "data", "current")),
        s"no vector index at $dir — nothing to audit")
      graft.store.ClaimRetraction
        .among(dataStore(spark, dir).read(), col("id"), ids).count()
    }

  /** Fold the delta log back into one partitioned base. CRASH-ATOMIC:
    * pointer-commit swap; a killed compaction leaves the old manifest
    * live and its half-written snapshot is swept by the next `init()`. */
  def compactIndex(spark: SparkSession, dir: String): Unit = {
    val store = dataStore(spark, dir)
    store.init() // sweep orphans a crashed compaction left behind
    store.replace(store.read())
  }

  /** Probe the standing index: rank cells from the (tiny) sidecar
    * driver-side, then exact-rerank ONLY the probed cell directories —
    * across the base AND every outstanding delta, each pruned at the
    * directory level (`LshIndexSpec`-style pruning, pinned in
    * `VectorIndexSpec`). */
  def topKIndexed(spark: SparkSession, dir: String, queryVec: Seq[Double],
                  k: Int, nprobe: Int = 2): DataFrame = {
    require(k >= 1 && nprobe >= 1, "k and nprobe must be >= 1")
    val qlit = array(queryVec.map(lit): _*)
    val qnorm = math.sqrt(queryVec.map(x => x * x).sum)
    val probed = centroidsDf(spark, dir)
      .withColumn("cent_cos",
        Similarity.dotD(col("cent_vec"), qlit) / (col("cent_norm") * qnorm))
      .orderBy(col("cent_cos").desc, col("cell").asc)
      .limit(nprobe)
      .select("cell").collect().map(_.getLong(0))
    dataStore(spark, dir).read()
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
      .withColumn("norm", Similarity.normD(col("vec")))
      .select(col("id"), col("cell"),
        round(Similarity.dotD(col("vec"), qlit) / (col("norm") * qnorm), 6)
          .as("cos_r"))
      .orderBy(col("cos_r").desc, col("id").asc)
      .limit(k)
  }
}
