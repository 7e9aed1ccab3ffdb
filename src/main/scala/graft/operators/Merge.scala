package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch upsert / MERGE as a declarative DataFrame operation.
  *
  * Reference semantics (`/root/reference/hnarchive.py:203-253`, `insert_item`):
  * per key, if the row is new it is inserted; if it exists, "coalesce"
  * columns keep the stored value when the incoming value is NULL
  * (hnarchive.py:235-243), while "overwrite" columns always take the incoming
  * value whenever an incoming row exists at all. Rows never get deleted.
  *
  * The reference runs this row-at-a-time against SQLite; the Spark-native
  * shape is a single set-based plan: full-outer join on the key + a
  * per-column coalesce/conditional projection. At scale this is one shuffle
  * on the key; when the incoming batch is small relative to the store,
  * pass it pre-`broadcast`-hinted and Catalyst/AQE turn the join into a
  * broadcast join.
  */
object Merge {

  /** @param precedenceCols when the incoming batch can carry duplicate keys,
    *   the row with the greatest (precedenceCols…, remaining cols) tuple wins
    *   per key — the set-based analog of the reference's row-at-a-time
    *   last-write-wins (`retrieved` is the natural precedence column for HN
    *   items). The dedup is a hash aggregate already partitioned by the key,
    *   so the subsequent join reuses the exchange — no extra shuffle. */
  def upsert(
      stored: DataFrame,
      incoming: DataFrame,
      key: String,
      coalesceCols: Seq[String],
      overwriteCols: Seq[String],
      precedenceCols: Seq[String] = Nil): DataFrame = {
    val st = stored.as("st")
    val in = dedupeByKey(incoming, key, precedenceCols).as("in")
    val joined = st.join(in, col(s"st.$key") === col(s"in.$key"), "full_outer")
    val hasIncoming = col(s"in.$key").isNotNull
    val keyCol = coalesce(col(s"in.$key"), col(s"st.$key")).as(key)
    val merged =
      coalesceCols.map(c => coalesce(col(s"in.$c"), col(s"st.$c")).as(c)) ++
      overwriteCols.map(c =>
        when(hasIncoming, col(s"in.$c")).otherwise(col(s"st.$c")).as(c))
    joined.select(keyCol +: merged: _*)
  }

  /** One row per key: max by (precedenceCols…, then all remaining columns —
    * a deterministic total tiebreak; struct comparison ranks NULL lowest, so
    * populated values beat NULLs). Duplicate ids in one batch would otherwise
    * fan out through the full-outer join and permanently duplicate store
    * rows. Public because [[graft.store.ItemStore]] applies the same dedup
    * to a batch it writes without this join (its first base, or an append
    * to its open tail). */
  def dedupeByKey(
      incoming: DataFrame, key: String, precedenceCols: Seq[String]): DataFrame = {
    val rest = incoming.columns.filterNot(_ == key).toSeq
    val ord = precedenceCols ++ rest.filterNot(precedenceCols.contains)
    incoming.groupBy(col(key))
      .agg(max(struct(ord.map(col): _*)).as("_win"))
      .select(col(key) +: rest.map(c => col(s"_win.$c").as(c)): _*)
  }
}
