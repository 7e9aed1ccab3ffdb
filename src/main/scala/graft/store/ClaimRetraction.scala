package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col}

/** The deletion-list probes every forget leg shares — [[ClaimLog]]'s
  * retraction, the standing indexes' deletes, [[PackForget]] and
  * [[CorpusForget]] — and the batch ceiling they are all bounded by. */
object ClaimRetraction {

  /** Ceiling on one retraction batch — a broadcastable deletion LIST
    * (it rides the plan as a broadcast relation past [[MaxInListIds]],
    * never as 2^20 boxed literals), far past any real deletion event's
    * size. */
  val MaxRetractIds: Int = 1 << 20

  /** Probe-shape split point: at or below this many ids the deletion
    * probe is a Catalyst in-list — an `In` predicate PUSHES DOWN into
    * the parquet scan, so footer statistics prune row groups on the id
    * column (the read [[CorpusForget]]'s O(touched files) discovery
    * rests on); past it, the probe becomes a broadcast hash join (the
    * honest shape at the [[MaxRetractIds]] ceiling — an expression tree
    * should not carry a million boxed literals into analysis, codegen
    * and every task binary). Both shapes assume a NON-NULL id column
    * (they differ on null ids: `!isin` drops them, left-anti keeps
    * them — every id column probed here is non-null by schema). */
  val MaxInListIds: Int = 1 << 12

  private def probe(df: DataFrame, idCol: Column, ids: Seq[Long],
                    keep: Boolean): DataFrame =
    if (ids.size <= MaxInListIds) {
      val in = idCol.isin(ids.map(Long.box): _*)
      df.filter(if (keep) in else !in)
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(ids.toDF("_graft_dead_id")),
        idCol === col("_graft_dead_id"),
        if (keep) "left_semi" else "left_anti")
    }

  /** Rows of `df` whose `idCol` is in the deletion list — in-list
    * (pushdown-friendly) below [[MaxInListIds]], broadcast semi-join
    * above it. The one probe every deletion leg shares. */
  def among(df: DataFrame, idCol: Column, ids: Seq[Long]): DataFrame =
    probe(df, idCol, ids, keep = true)

  /** Rows of `df` whose `idCol` is NOT in the deletion list — the
    * survivor filter, same shape split as [[among]]. */
  def excluding(df: DataFrame, idCol: Column, ids: Seq[Long]): DataFrame =
    probe(df, idCol, ids, keep = false)
}
