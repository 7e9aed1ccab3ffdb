package graft.store

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{LongType, StructType}

/** An ADDITIVE COUNT LOG on a [[Snapshots]] delta log — the one store
  * behind the streaming telemetry and boilerplate chunk counts
  * (`StreamValueHist`, `StreamFertility`, `StreamDataCard`,
  * `StreamBoilerplate`). Each row is a key and its signed counts (every
  * other column, LongType). Totals are exact because counts are
  * additive: a row belongs to one batch, and a deletion folds in the
  * same counts negated. [[add]] commits one delta through
  * [[Snapshots.commit]] under a replay token (a replay folds nothing
  * twice) and compacts every `compactEvery` deltas to [[totals]];
  * [[checkedTotals]] and [[requireNonNegative]] fail loud on a negative
  * sum — a retraction of what was never observed. */
class CountLog(spark: SparkSession, root: String, schema: StructType,
               key: String,
               compactEvery: Int = Snapshots.DefaultCompactEvery) {

  private val snaps =
    new Snapshots(spark, root, schema, compactEvery = compactEvery)
  private val countCols = schema.fieldNames.toSeq.filterNot(_ == key)
  require(schema.fieldNames.contains(key) && countCols.nonEmpty &&
    countCols.forall(c => schema(c).dataType == LongType),
    s"count log at $root needs key column '$key' and LongType counts, " +
      s"got ${schema.simpleString}")

  /** Create the empty log iff absent ([[Snapshots.init]]). */
  def init(): Unit = snaps.init()

  /** Fold one delta of signed counts under `token` (the delta directory
    * is `delta-<token>`; a replayed token appends nothing and runs no
    * job). The delta is materialized once; an empty one appends
    * nothing. */
  def add(counts: DataFrame, token: String): Unit =
    snaps.commit(counts.localCheckpoint(true), Some(token), totals())

  /** Per-key sums over base + deltas; a key leaves only when every one
    * of its sums is 0. */
  def totals(): DataFrame = {
    val sums = countCols.map(c => sum(col(c)).as(c))
    snaps.read().groupBy(key).agg(sums.head, sums.tail: _*)
      .filter(countCols.map(c => col(c) =!= 0).reduce(_ || _))
  }

  /** [[totals]], materialized, failing loud on any negative sum. */
  def checkedTotals(): DataFrame = {
    val t = totals().localCheckpoint(true)
    requireNonNegative(
      t.filter(countCols.map(c => col(c) < 0).reduce(_ || _)).head(1).toSeq)
    t
  }

  /** Fail naming the root and the first of `rows` (collected from
    * [[totals]]) with a negative sum. */
  def requireNonNegative(rows: Seq[Row]): Unit =
    rows.find(r => countCols.exists(c => r.getAs[Long](c) < 0L))
      .foreach { r =>
        throw new IllegalArgumentException(
          s"count log at $root holds a negative total $r — a retraction " +
            "exceeded what was observed")
      }
}
