package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}

import graft.store.{ClaimLog, Snapshots}

/** Near-duplicate dedup under continuous ingestion: each micro-batch is
  * filtered against a persistent MinHash band-bucket index, then claims its
  * buckets (the `foreachBatch` body of a streaming dedup pipeline — exact
  * streaming dedup is [[StreamDedup]]; this is the LSH analog).
  *
  * Semantics (deterministic, transitive): a document is DROPPED iff any of
  * its 4 band buckets is already claimed by ANOTHER document, or a
  * smaller-id document in the same batch shares one of its buckets. ALL
  * incoming documents claim their buckets — including dropped ones — so
  * chains of near-dups collapse to the earliest representative (same
  * policy as offline LSH dedup keeping the min-id doc per cluster).
  * Claims record the claimant id, which makes the filter idempotent under
  * micro-batch REPLAY: a re-run of the same batch after a crash between
  * claim-commit and downstream write keeps the same rows.
  *
  * Scale: the filter is one semi-join of (id, 4 band keys) against the
  * bucket index — the corpus text never re-processes; signatures come from
  * the codegen'd [[graft.functions.MinHashSig]] in the scan. Claims are
  * APPEND-ONLY deltas on the shared [[ClaimLog]]: a micro-batch
  * writes O(batch) rows (one delta directory), never the whole index, and
  * the delta log compacts back into one base snapshot every `compactEvery`
  * batches — amortized O(index / compactEvery) per batch. At 100 TB the
  * same log becomes a key-value table bucketed by band key, the join logic
  * unchanged.
  */
final class IncrementalDedup(spark: SparkSession, root: String,
                             compactEvery: Int = Snapshots.DefaultCompactEvery)
    extends ClaimLog(spark, root, IncrementalDedup.schema,
      compactEvery = compactEvery) {

  /** (id, bkey) band-bucket keys per document: band index prefixed onto the
    * 4-row signature slice, same banding as [[graft.operators.Dedup
    * .minhashPairs]]. Docs with < 3 tokens have no signature and pass
    * through undeduplicated (no shingles → nothing to collide on). */
  private def bandKeys(batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    batch
      .select(col(idCol).as("id"), graft.functions.MinHashSig(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), explode(array((0 until 4).map { bnd =>
        concat_ws(",", lit(bnd) +:
          (0 until 4).map(r => col("sig").getItem(bnd * 4 + r)): _*)
      }: _*)).as("bkey"))
  }

  /** Filters `batch` to its novel documents and claims all of the batch's
    * buckets: a row drops when its bucket is already claimed by another
    * id (in the store, or by a smaller id in the same batch), and every
    * unclaimed bucket goes to the batch's min id. Returns the kept rows
    * (original columns). */
  def filterAndClaim(batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bands = bandKeys(batch, idCol, textCol).localCheckpoint(true)
    // dropped: bucket already claimed by SOMEONE ELSE in the store…
    val storeDup = bands.join(read(), "bkey")
      .filter(col("claimant") =!= col("id")).select("id")
    // …or a smaller id in this batch shares the bucket
    val batchMin = bands.groupBy("bkey").agg(min(col("id")).as("min_id"))
    val batchDup = bands.join(batchMin, "bkey")
      .filter(col("id") > col("min_id")).select("id")
    val dropIds = storeDup.unionAll(batchDup).distinct()
    claim(batch.join(dropIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti"),
      bands.groupBy("bkey").agg(min(col("id")).as("claimant")))
  }
}

object IncrementalDedup {
  private val schema = StructType(Seq(
    StructField("bkey", StringType, nullable = false),
    StructField("claimant", LongType, nullable = false)))
}

/** [[IncrementalDedup]] for EMBEDDINGS — banded SRP candidates with an
  * EXACT-COSINE verify against the claimed representative.
  *
  * Band keys are the 4×32-bit slices of a 128-plane [[graft.functions
  * .HyperplaneSig]] signature (the expression's two disjoint 64-plane
  * windows of the shared constant family — both past the degenerate
  * hand-picked planes, see [[graft.functions.TextAnalysis.HplaneA]]). Round 8's tier banded 4×8-bit keys of a 32-plane
  * signature with NO verify — a 1,024-key claim space that saturates
  * after a few hundred survivors and then false-drops essentially
  * everything. The rebuild attacks both halves of that defect:
  *
  *  - 32-bit bands: a random unrelated pair collides on a given band
  *    with p = 2⁻³², so claimed buckets stay evidence of near-duplication
  *    up to ~10⁹ survivors (vs ~10² for 8-bit bands);
  *  - the verify: a row is dropped ONLY if some band bucket it lands in
  *    is claimed by another id AND its exact cosine against that
  *    CLAIMANT'S STORED VECTOR is ≥ `minCos` (rounded to 6, the batch
  *    tier's convention). False drops are therefore impossible at ANY
  *    scale — every drop is certified by a real earlier near-duplicate —
  *    and band width only bounds verify volume (≤ 4 cosines per row, one
  *    per band) and recall (a near-dup pair is caught iff it shares a
  *    band whose claimant is near — the SRP contract, sound while
  *    random interlopers are rare, i.e. the 10⁹ regime; past that,
  *    escalate to the next band width as SCALE.md's policy states).
  *
  * Rows whose vector is NULL have no signature and PASS THROUGH
  * undeduplicated — exactly [[IncrementalDedup]]'s contract for sig-less
  * (< 3 token) documents; a vector with a null ELEMENT signs 0 like the
  * batch tier and dedups among its kind, subject to the same verify.
  * Signatures compute in-scan; O(batch) claim deltas (each claim carries
  * the claimant's vector for the verify); replay-stable via the recorded
  * claimant. Zero-norm vectors produce NaN cosines and are never
  * dropped (outside the family contract, same as the batch operators).
  */
final class IncrementalEmbedDedup(spark: SparkSession, root: String,
                                  compactEvery: Int = Snapshots.DefaultCompactEvery,
                                  minCos: Double = 0.9)
    extends ClaimLog(spark, root, IncrementalEmbedDedup.schema,
      compactEvery = compactEvery) {

  /** (id, vecd, norm, bkey): band index prefixed onto each 32-bit
    * signature slice — `b0/b1` from the low-window signature, `b2/b3`
    * from the high-window one; masked extraction, so
    * the arithmetic-shift sign fill of bit-63 never reaches a key.
    * NULL-vector rows carry no signature and are filtered here (their
    * rows pass through [[filterAndClaim]] unexamined). */
  private def bandKeys(batch: DataFrame, idCol: String,
                       vecCol: String): DataFrame = {
    val mask = lit(0xFFFFFFFFL)
    batch
      .select(col(idCol).as("id"),
        transform(col(vecCol), _.cast("double")).as("vecd"))
      .select(col("id"), col("vecd"),
        sqrt(graft.functions.VecDot(col("vecd"), col("vecd"))).as("norm"),
        graft.functions.HyperplaneSig(col("vecd")).as("s0"),
        graft.functions.HyperplaneSig.hi(col("vecd")).as("s1"))
      .filter(col("s0").isNotNull)
      .select(col("id"), col("vecd"), col("norm"),
        explode(array(
          concat_ws(",", lit(0), col("s0").bitwiseAND(mask)),
          concat_ws(",", lit(1), shiftright(col("s0"), 32).bitwiseAND(mask)),
          concat_ws(",", lit(2), col("s1").bitwiseAND(mask)),
          concat_ws(",", lit(3), shiftright(col("s1"), 32).bitwiseAND(mask))
        )).as("bkey"))
  }

  /** Filters `batch` to its novel rows and claims its buckets. Claims
    * store the claimant's vector, and a bucket collision only drops a
    * row when the exact cosine against the claimant certifies a
    * near-duplicate — band collisions alone (false positives at scale)
    * cost one cosine evaluation, never data. */
  def filterAndClaim(batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val bands = bandKeys(batch, idCol, vecCol).localCheckpoint(true)
    def near(v: Column, n: Column, cv: Column, cn: Column): Column =
      round(graft.functions.VecDot(v, cv) / (n * cn), 6) >= minCos
    // dropped: bucket claimed by SOMEONE ELSE whose stored vector is near…
    val storeDup = bands.join(read(), "bkey")
      .filter(col("claimant") =!= col("id") &&
        near(col("vecd"), col("norm"), col("cvec"), col("cnorm")))
      .select("id")
    // …or a smaller NEAR id in this batch shares the bucket (min_by is
    // deterministic here: ids are unique within a bucket's batch rows)
    val batchMin = bands.groupBy("bkey")
      .agg(min_by(struct(col("id"), col("vecd"), col("norm")), col("id")).as("m"))
      .select(col("bkey"), col("m.id").as("min_id"),
        col("m.vecd").as("mvec"), col("m.norm").as("mnorm"))
    val batchDup = bands.join(batchMin, "bkey")
      .filter(col("id") > col("min_id") &&
        near(col("vecd"), col("norm"), col("mvec"), col("mnorm")))
      .select("id")
    val dropIds = storeDup.unionAll(batchDup).distinct()
    // every incoming row (kept or dropped) claims its unclaimed buckets —
    // min id per bucket, vector attached for future verifies
    claim(batch.join(dropIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti"),
      batchMin.select(col("bkey"), col("min_id").as("claimant"),
        col("mvec").as("cvec"), col("mnorm").as("cnorm")))
  }
}

object IncrementalEmbedDedup {
  private val schema = StructType(Seq(
    StructField("bkey", StringType, nullable = false),
    StructField("claimant", LongType, nullable = false),
    StructField("cvec", ArrayType(DoubleType, containsNull = true), nullable = true),
    StructField("cnorm", DoubleType, nullable = true)))
}
