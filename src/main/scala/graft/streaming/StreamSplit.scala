package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextAnalysis.strHash
import graft.operators.Components
import graft.store.{ClaimLog, Snapshots}

/** LEAKAGE-SAFE train/val splitting under continuous ingestion — the
  * streaming twin of [[graft.operators.Mixing.leakageSafeSplit]] (q96):
  * every arriving document is assigned a cluster REPRESENTATIVE and a
  * split immediately, never dropped, and the split is the content hash
  * of the representative (q49/q96's placement convention) — so a
  * document's split NEVER changes after it ships (claims are
  * first-writer-wins, appends are batch-tokened, replays reproduce the
  * assignment bit-for-bit).
  *
  * Representative resolution per batch: (1) batch-local connected
  * components over shared MinHash band buckets (the q41 closure, on the
  * batch's candidates only); (2) each component takes the minimum over
  * its members' own ids AND every representative already claiming one
  * of their buckets; (3) unclaimed buckets are claimed by the resolved
  * representative — so duplicate CHAINS collapse forward across batches
  * (a later twin of a dup inherits the ORIGINAL representative, not the
  * dup's id). Documents with no signature (< 3 tokens) are their own
  * singleton cluster, like the dedup tier's pass-through.
  *
  * HONEST CONTRACT (weaker than the batch q96 closure, necessarily):
  * every document shares a split with the MINIMUM-REP cluster among its
  * detected near-dups — batch-local, or via a claimed bucket. That is
  * NOT "every detected pair shares a split": when a document BRIDGES
  * two clusters that already shipped under different representatives
  * (its claimed buckets carry > 1 distinct rep), or when a batch-local
  * component's min id undercuts a claimed rep, the losing shipped
  * cluster keeps its old (now divergent) split — shipped splits are
  * immutable by design and cannot be repaired in-stream. Each such
  * SHIPPED-CLUSTER MERGE is therefore RECORDED per batch as a
  * (rep_kept, rep_lost, bridge id) row under `root/merges`
  * ([[mergeEvents]]) — the divergence is measurable, never silent —
  * and [[StreamSplit.reconcile]] is the batch repair: diff the shipped
  * assignment against q96 ground truth and emit corrections. The batch
  * operator remains the ground truth for a from-scratch re-split.
  *
  * Scale shape: candidates and claims ride the [[IncrementalDedup]]
  * economics (ids-only band keys, ~124-bit buckets where collision ⇒
  * near-duplication, O(batch) deltas, additive-merge-free first-writer
  * store with tokened replays and periodic compaction). Merge-event
  * rows are bounded by the batch's bridge count (rare by construction:
  * they need two independently-shipped clusters to collide later).
  */
final class StreamSplit(spark: SparkSession, root: String,
                        valMilli: Int = 100,
                        compactEvery: Int = Snapshots.DefaultCompactEvery) {
  require(valMilli >= 0 && valMilli <= 1000, "valMilli must be in [0, 1000]")

  private val claims = StreamSplit.claimLog(spark, root, compactEvery)

  def init(): Unit = claims.init()

  /** (id, bkey) MinHash band keys — the [[IncrementalDedup]] banding. */
  private def bandKeys(batch: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    batch
      .select(col(idCol).cast("long").as("id"),
        graft.functions.MinHashSig(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), explode(array((0 until 4).map { bnd =>
        concat_ws(",", lit(bnd) +:
          (0 until 4).map(r => col("sig").getItem(bnd * 4 + r)): _*)
      }: _*)).as("bkey"))
  }

  /** Shipped-cluster merge events recorded so far: (batch_id, id,
    * rep_kept, rep_lost) — one row per (bridge document, losing shipped
    * rep). Empty DataFrame when no merge has ever been observed. */
  def mergeEvents(): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/merges")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir) && fs.listStatus(dir).nonEmpty)
      spark.read.parquet(s"$root/merges/*")
    else {
      import spark.implicits._
      Seq.empty[(Long, Long, Long, Long)]
        .toDF("batch_id", "id", "rep_kept", "rep_lost")
    }
  }

  /** Assign reps and splits to one micro-batch. Returns the batch rows
    * plus (rep, split); never drops a row. */
  def assign(batch: DataFrame, idCol: String, textCol: String,
             batchId: Long): DataFrame = {
    val bands = bandKeys(batch, idCol, textCol).localCheckpoint(true)
    // 1. batch-local components over shared buckets (candidate pairs
    // only — ids cross the self-join, nothing else)
    val pairs = bands.as("x")
      .join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val comp = Components.of(pairs, "id_a", "id_b")
      .select(col("id"), col("component"))
    // 2. per-doc batch rep (own id when unpaired), then fold in any
    // representative already claiming one of the doc's buckets, then
    // take the component-wide minimum so every member agrees
    val docIds = batch.select(col(idCol).cast("long").as("id")).distinct()
    val batchRep = docIds.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("brep"))
    // per-bucket claims kept un-aggregated: the distinct claimed reps per
    // doc both resolve the rep (min) and detect shipped-cluster merges
    val claimed = bands.join(claims.read(), "bkey")
      .select(col("id"), col("rep").as("crep")).distinct()
      .localCheckpoint(true)
    val claimedRep = claimed.groupBy("id").agg(min(col("crep")).as("crep"))
    val cand = batchRep.join(claimedRep, Seq("id"), "left")
      .select(col("id"), col("brep"),
        least(col("brep"), coalesce(col("crep"), col("brep"))).as("cand"))
    val finalRep = cand
      .withColumn("rep", min(col("cand"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("brep")))
      .select(col("id"), col("rep"))
      .localCheckpoint(true) // feeds the output AND the claim delta
    // 2b. RECORD shipped-cluster merges (HONEST-CONTRACT divergence): a
    // claimed rep that is not the resolved rep names a cluster that
    // already shipped under a different split than this document gets.
    // Written per batch token (overwrite) so replays are idempotent.
    val merges = claimed.join(finalRep, "id")
      .filter(col("crep") =!= col("rep"))
      .select(lit(batchId).as("batch_id"), col("id"),
        col("rep").as("rep_kept"), col("crep").as("rep_lost"))
      .distinct()
    if (merges.head(1).nonEmpty)
      merges.write.mode("overwrite").parquet(s"$root/merges/b$batchId")
    // 3. claim unclaimed buckets with the resolved rep (unique per
    // bucket within a batch: sharing a bucket implies one component)
    claims.claim(bands.join(finalRep, "id")
      .groupBy("bkey").agg(min(col("rep")).as("rep")), Some(s"b$batchId"))
    batch
      .join(finalRep.withColumnRenamed("id", "_rid"),
        col(idCol).cast("long") === col("_rid"), "left")
      .withColumn("rep", coalesce(col("rep"), col(idCol).cast("long")))
      .drop("_rid")
      .withColumn("split",
        when(strHash(col("rep").cast("string")) % 1000 < valMilli, lit("val"))
          .otherwise(lit("train")))
  }
}

object StreamSplit {

  private def claimLog(spark: SparkSession, root: String,
                       compactEvery: Int = Snapshots.DefaultCompactEvery): ClaimLog =
    new ClaimLog(spark, root, StructType(Seq(
      StructField("bkey", StringType, nullable = false),
      StructField("rep", LongType, nullable = false))), "rep", compactEvery)

  /** The split-claim log at `root`, which must exist: a cascade leg
    * pointed at a dir with no store is a misconfigured takedown. */
  private def requireStore(spark: SparkSession, root: String,
                           what: String): ClaimLog = {
    require(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "current")),
      s"no split-claim store at $root — nothing to $what")
    claimLog(spark, root)
  }

  /** Heal the merge-log scrub's crash window BEFORE reading or
    * rewriting `merges/`: the scrub stages the filtered log at
    * `merges-retract-tmp`, deletes `merges/`, renames tmp into place —
    * so a crash can leave (tmp + merges: the filtered log is staged but
    * the original still stands — drop the stale tmp, a re-run
    * re-filters) or (tmp only: the original is gone — complete the
    * pending rename, the audit log must not be silently lost). Without
    * this, a re-run's `fs.exists(mergesDir)` read false and skipped the
    * scrub entirely, stranding the log in tmp forever. */
  private def healMergeScrub(fs: org.apache.hadoop.fs.FileSystem,
                             root: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$root/merges-retract-tmp")
    if (fs.exists(tmp)) {
      val mergesDir = new org.apache.hadoop.fs.Path(s"$root/merges")
      if (fs.exists(mergesDir)) fs.delete(tmp, true)
      else fs.rename(tmp, mergesDir)
      ()
    }
  }

  /** RETRACTION — the split tier's leg of a deletion cascade
    * ([[graft.pipeline.Forget.cascade]] wires it as `splitClaimsDir`):
    * a DELETED document's id must not keep governing future placements
    * (its claimed buckets would keep assigning arriving near-dups the
    * dead id's split forever), so every claim whose representative is
    * in `ids` is dropped — the next arrival in those buckets claims
    * them first-writer-wins, exactly the
    * [[graft.store.ClaimLog]] retraction semantics — and the merge audit
    * log's rows naming a dead id are scrubbed. SHIPPED splits are NOT
    * repaired (immutable by design — the class contract);
    * [[reconcile]] over the surviving corpus is the repair, as for
    * every other divergence. Buckets claimed by SURVIVING reps stay:
    * a shared band bucket is equally the survivor's content
    * fingerprint (collision ⇒ near-duplication). Returns claims
    * dropped. */
  def retract(spark: SparkSession, root: String, ids: Seq[Long]): Long = {
    val n = requireStore(spark, root, "retract from").retract(ids)
    // scrub merge-event audit rows that name a dead id (numeric ids
    // only, but a takedown receipt should not keep citing them)
    val mergesDir = new org.apache.hadoop.fs.Path(s"$root/merges")
    val fs = mergesDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healMergeScrub(fs, root)
    if (fs.exists(mergesDir) && fs.listStatus(mergesDir).nonEmpty) {
      import graft.store.ClaimRetraction.excluding
      val all = spark.read.parquet(s"$root/merges/*")
      val alive = excluding(excluding(excluding(all,
        col("id"), ids), col("rep_kept"), ids), col("rep_lost"), ids)
        .localCheckpoint(true)
      if (alive.count() != all.count()) {
        // the log is a bounded audit artifact (one row per rare bridge
        // event) — a whole-log rewrite is the simple correct move; the
        // crash window between delete and rename is closed by
        // [[healMergeScrub]] on the next entry (completes the rename)
        val tmp = s"$root/merges-retract-tmp"
        alive.coalesce(1).write.mode("overwrite").parquet(tmp)
        fs.delete(mergesDir, true)
        fs.rename(new org.apache.hadoop.fs.Path(tmp), mergesDir)
        ()
      }
    }
    n
  }

  /** Audit read for [[retract]]: claims still held by `ids` plus merge
    * rows still naming them — 0 after a completed retraction. */
  def held(spark: SparkSession, root: String, ids: Seq[Long]): Long =
    if (ids.isEmpty) 0L
    else {
      var n = requireStore(spark, root, "audit").held(ids)
      val mergesDir = new org.apache.hadoop.fs.Path(s"$root/merges")
      val fs = mergesDir.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      healMergeScrub(fs, root)
      if (fs.exists(mergesDir) && fs.listStatus(mergesDir).nonEmpty) {
        import graft.store.ClaimRetraction.among
        val all = spark.read.parquet(s"$root/merges/*")
        n += among(all, col("id"), ids)
          .unionAll(among(all, col("rep_kept"), ids))
          .unionAll(among(all, col("rep_lost"), ids)).count()
      }
      n
    }

  /** BATCH RECONCILE against q96 ground truth — the repair bound on the
    * streaming contract's shipped-cluster divergence: re-split the full
    * shipped corpus with [[graft.operators.Mixing.leakageSafeSplit]]
    * (the from-scratch closure over verified near-dup pairs) and emit a
    * correction row for every document whose shipped split disagrees.
    * Run it periodically (or when [[StreamSplit#mergeEvents]] shows
    * bridges accumulating); applying the corrections restores exact q96
    * equality, so the streaming tier's divergence is bounded by the
    * reconcile cadence instead of only documented.
    *
    * `assigned` must carry (idCol, textCol, splitCol) — the shipped
    * output. Output: (idCol, old_split, new_split), empty when the
    * shipped assignment already matches ground truth. Scale shape is
    * [[graft.operators.Mixing.leakageSafeSplit]]'s (banded candidates,
    * component map join, in-scan placement) plus one id-keyed join of
    * the shipped splits. */
  def reconcile(assigned: DataFrame, idCol: String, textCol: String,
                splitCol: String = "split", valMilli: Int = 100,
                thresholdMilli: Int = 800): DataFrame = {
    val truth = graft.operators.Mixing.leakageSafeSplit(
      assigned, idCol, textCol, valMilli, thresholdMilli)
      .select(col(idCol), col("split").as("new_split"))
    assigned.select(col(idCol), col(splitCol).as("old_split"))
      .join(truth, Seq(idCol))
      .filter(col("old_split") =!= col("new_split"))
      .select(col(idCol), col("old_split"), col("new_split"))
  }

  /** [[reconcile]]'s summary: (n_docs, n_corrections, divergence_milli)
    * — the measured divergence fraction in exact integer per-mille. */
  def reconcileSummary(assigned: DataFrame, idCol: String, textCol: String,
                       splitCol: String = "split", valMilli: Int = 100,
                       thresholdMilli: Int = 800): (Long, Long, Long) = {
    val n = assigned.count()
    val c = reconcile(assigned, idCol, textCol, splitCol, valMilli,
      thresholdMilli).count()
    (n, c, if (n == 0) 0L else c * 1000 / n)
  }
}
