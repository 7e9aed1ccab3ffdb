package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.operators.Dedup
import graft.store.{ClaimLog, Snapshots}

/** LINE-granularity keep-first dedup under continuous ingestion — the
  * streaming twin of [[graft.operators.Dedup.dedupLinesKeepFirst]] (the
  * CCNet/Dolma paragraph-dedup primitive), same family as
  * [[IncrementalDedup]] but scrubbing WITHIN documents instead of dropping
  * whole rows: each micro-batch's documents are rewritten with every line
  * whose trimmed identity is already claimed (by an earlier batch, or by an
  * earlier occurrence in this batch) removed, and the batch's novel lines
  * claim their hashes first-writer-wins.
  *
  * Semantics: line identity is `trim(line)` hashed by the 62-bit
  * [[graft.functions.WidePolyHash]] (the batch operator's identity);
  * blank/whitespace-only lines are EXEMPT; surviving lines keep their
  * ORIGINAL bytes and untouched documents pass through BYTE-identical.
  * The keeper of a line is its GLOBAL FIRST occurrence in arrival order —
  * ties within a batch break on smallest `(id, position)`, which makes a
  * single-batch run IDENTICAL to the batch operator at its default
  * `minReps = 2` (spec-pinned). Higher occurrence floors are a batch-only
  * notion: a stream cannot know at first sight whether a line will reach
  * `minReps`, and retracting an already-shipped document is outside the
  * model — callers wanting the ≥ k frequency policy run
  * [[graft.operators.Dedup.scrubFreqLines]] over the settled corpus.
  *
  * Replay idempotence: claims record the claimant's `(id, position)`, so a
  * crash-replayed micro-batch scrubs the SAME positions — a replayed
  * occurrence that IS the claimant keeps its line (its own claim is not
  * evidence against it), and a replayed duplicate stays removed. Output per
  * batch: (idCol, clean_text, n_removed), one row per input document.
  *
  * Scale shape (the batch operator's ids-only discipline, claims-store
  * economics of [[IncrementalDedup]]): the claim join sees COORDINATES ONLY
  * — (id, p, lhv) hashed in the scan — text crosses exactly one exchange
  * (the verdict join's doc-id shuffle); claims are APPEND-ONLY O(batch)
  * deltas on a [[ClaimLog]], compacted every `compactEvery` batches. The
  * store grows with DISTINCT lines ever seen, not corpus bytes — 16 bytes a
  * line; at 100 TB the same log becomes a key-value table bucketed by lhv.
  */
final class IncrementalLineDedup(spark: SparkSession, root: String,
                                 compactEvery: Int = Snapshots.DefaultCompactEvery)
    extends ClaimLog(spark, root, IncrementalLineDedup.schema, "cid",
      compactEvery) {

  /** Rewrites `batch` with every already-claimed line removed and claims
    * the batch's novel lines. Returns (idCol, clean_text, n_removed), one
    * row per input document. Doc ids must be unique within a batch (the
    * family contract); the id column must be long-castable. */
  def scrubAndClaim(batch: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val docs = batch.select(col(idCol).cast("long").as(idCol), col(textCol))
    val coords = Dedup.lineCoords(docs, idCol, textCol).localCheckpoint(true)
    // removed: the store claims the line for a DIFFERENT occurrence…
    val storeDup = coords.join(read(), "lhv")
      .filter(col("cid") =!= col("id") || col("cp") =!= col("p"))
      .select("id", "p")
    // …or an earlier (id, p) occurrence in this batch holds it (min of the
    // struct is the lexicographic first — the batch operator's tie order)
    val batchMin = coords.groupBy("lhv")
      .agg(min(struct(col("id"), col("p"))).as("m"))
      .select(col("lhv"), col("m.id").as("mid"), col("m.p").as("mp"))
    val batchDup = coords.join(batchMin, "lhv")
      .filter(struct(col("id"), col("p")) > struct(col("mid"), col("mp")))
      .select("id", "p")
    val removals = storeDup.unionAll(batchDup).distinct()
      .groupBy("id").agg(sort_array(collect_list(col("p"))).as("rp"))
    // claim: unclaimed hashes get this batch's first occurrence; existing
    // claims win (first-writer-wins keeps replays stable)
    claim(Dedup.rebuildWithoutLines(docs, idCol, textCol, removals),
      batchMin.select(col("lhv"), col("mid").as("cid"), col("mp").as("cp")))
  }
}

object IncrementalLineDedup {
  /** The claims table: (lhv, cid, cp) — one row per distinct trimmed line
    * ever seen, claimed by its global first occurrence `(cid, cp)`. */
  private val schema = StructType(Seq(
    StructField("lhv", LongType, nullable = false),
    StructField("cid", LongType, nullable = false),
    StructField("cp", IntegerType, nullable = false)))
}
