package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.store.ClaimRetraction.{among, excluding, MaxRetractIds}

/** A FIRST-WRITER-WINS CLAIM LOG on a [[Snapshots]] delta log — the one
  * store behind every streaming dedup, split and curation claim stage.
  * Each row records a claimed key and its claimant id; a key is claimed
  * once, by the first batch that brings it, and the recorded claimant is
  * what makes a replayed batch return the same rows (its own claims are
  * not evidence against it).
  *
  * The claim step ([[claim]]) is the tail every stage shares: materialize
  * the batch's kept rows (their plan reads this log) before the log
  * advances, left-anti the new claims against the store on the key (so
  * no key appears in two manifest entries and [[read]] needs no
  * per-key precedence), and commit through [[Snapshots.commit]] — an
  * empty delta appends nothing, and the log compacts every
  * `compactEvery` deltas. The key is the schema's first column unless
  * `key` names others.
  *
  * RETRACTION is the recrawl-reality API: when a claimant payload is
  * DELETED from the corpus (DMCA, robots, tombstones — the reference's
  * own deleted-item semantics, `hnarchive.py:123-130`), its claims must
  * not keep dropping future duplicates against an identity that no
  * longer ships — silent data loss in curation terms.
  * [[retract]] deletes every claim whose claimant is one of the ids,
  * CLEARING those keys: the next arrival claims them first-writer-wins
  * and becomes the surviving representative. The log records only
  * (key → claimant), never past members, so a copy dropped while the dead
  * claimant held the key is not resurrected by retraction alone:
  * re-ingest (recrawl/replay) the stream's source after retracting,
  * which is exactly the workflow a deletion event triggers anyway.
  * Cost: one O(store) rewrite via [[Snapshots.replace]] per retraction
  * BATCH, bounded loud at [[ClaimRetraction.MaxRetractIds]] ids — past
  * that, rebuild the store from the surviving corpus instead. */
class ClaimLog(spark: SparkSession, root: String, schema: StructType,
               claimantCol: String = "claimant",
               compactEvery: Int = Snapshots.DefaultCompactEvery,
               key: Seq[String] = Nil) {

  private val snaps =
    new Snapshots(spark, root, schema, compactEvery = compactEvery)
  private val keyCols = if (key.nonEmpty) key else Seq(schema.head.name)

  /** Create the empty log iff absent ([[Snapshots.init]]). */
  def init(): Unit = snaps.init()

  /** Every standing claim. */
  def read(): DataFrame = snaps.read()

  /** The claim step: materializes `kept` BEFORE the log advances (a
    * compaction may retire the directories its plan reads, and the
    * caller's sink evaluates after us), then claims every key of
    * `newClaims` no earlier claim holds. Returns the materialized
    * `kept`. */
  def claim(kept: DataFrame, newClaims: DataFrame): DataFrame = {
    val k = kept.localCheckpoint(true)
    claim(newClaims, None)
    k
  }

  /** The claim step for callers whose output never reads this log:
    * claims every unheld key of `newClaims`, the delta named by `token`
    * when given ([[Snapshots.appendDelta]]'s replay protection; a replayed
    * token runs no job). */
  def claim(newClaims: DataFrame, token: Option[String]): Unit =
    snaps.commit(newClaims.join(read(), keyCols, "left_anti")
      .localCheckpoint(true), token)

  /** COUNT the claims held by `ids` without touching the store — the
    * post-cascade audit read ("did the takedown actually clear
    * everything?"): after [[retract]] over the same ids this reads 0. */
  def held(ids: Seq[Long]): Long =
    if (ids.isEmpty) 0L
    else among(read(), col(claimantCol), ids).count()

  /** Delete every claim held by `ids`; returns the number removed (0 on
    * an empty list or no matches — the store is then not rewritten). */
  def retract(ids: Seq[Long]): Long = {
    require(ids.size <= MaxRetractIds,
      s"${ids.size} retraction ids exceed the $MaxRetractIds batch " +
        "ceiling — rebuild the store from the surviving corpus instead")
    if (ids.isEmpty) 0L
    else {
      val n = among(read(), col(claimantCol), ids).count()
      if (n > 0L) snaps.replace(excluding(read(), col(claimantCol), ids))
      n
    }
  }
}

object ClaimLog {

  /** The claim logs present under a funnel's state root — one per
    * `(sub-directory, open)` leg whose store exists — so a retraction or
    * audit is the sum over this list. A root holding NONE of them is a
    * misconfigured takedown (wrong or never-initialized root — the
    * claims it meant to clear live elsewhere): fail naming the cause
    * instead of silently skipping every optional store and reporting a
    * clean 0. `kind` names the store family in the message. */
  def present(root: String, kind: String, what: String,
              legs: Seq[(String, String => ClaimLog)]): Seq[ClaimLog] = {
    val found = legs.collect {
      case (sub, open) if java.nio.file.Files
          .exists(java.nio.file.Paths.get(s"$root/$sub/current")) =>
        open(s"$root/$sub")
    }
    require(found.nonEmpty,
      s"no $kind under $root (expected at least one of " +
        s"${legs.map(_._1).mkString("/")} with a current snapshot) — " +
        s"nothing to $what; a wrong funnel root must not audit clean")
    found
  }
}
