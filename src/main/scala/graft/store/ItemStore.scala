package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Merge, TreeExpand}
import graft.schema.Item

/** The item archive: a parquet snapshot store with the reference's upsert
  * semantics (SURVEY.md S6-S8; `/root/reference/hnarchive.py:197-290`).
  *
  * Plain parquet has no MERGE, so a merge writes new directories and
  * atomically swaps a `current` manifest (see [[Snapshots]]) — the batch
  * analog of the reference's per-200-row transactional commit
  * (hnarchive.py:255-262). Upsert column asymmetry mirrors `insert_item`
  * (hnarchive.py:231-246): incoming NULL keeps the stored value for
  * author/text/poll/url/score/title; flags, parent, descendants, type and
  * time always overwrite; `retrieved` always refreshes. Tombstones never
  * delete (README.md:18).
  *
  * The layout is CLUSTERED BY ID.
  * The manifest holds a base snapshot, then sealed segments, then at
  * most one open tail; every segment file is sorted by `id` and the
  * entries' id ranges are disjoint in manifest order. The first batch an
  * empty store takes becomes the base, clustered too: files sorted by
  * `id` with disjoint ranges. A batch that already has that shape (a
  * bulk fetch: contiguous ascending id slices, one per task) is written
  * as it comes, with no shuffle; any other goes through one range
  * shuffle that also carries the dedupe. HN ids only grow, so later
  * appends — every batch id above the store's max, the livestream and
  * `get`/`update` catch-up case — rewrite only the open tail as
  * `tail ∪ batch` (O(tail) I/O; the base is neither read nor written).
  * The tail seals once it holds as many rows as the largest base file,
  * and the next append opens a new one. A batch touching an id at or
  * below the max (an update or a recrawl) runs one
  * [[graft.operators.Merge.upsert]] and writes its output as the join
  * leaves it, hash-partitioned, folding the segments back in; point
  * reads on that base scan every base file, as they did before the
  * clustered layout. Reads need no fold: [[current]] is one relation
  * over an [[IdRangeIndex]] of the live files, built from their cached
  * footers, so a read with `id` filters lists only the files whose id
  * range can match, and a read whose files form one file partition (a
  * point lookup, a page's node fetch) runs on the driver with no job
  * ([[IdRangeScan]], which the store installs on its session).
  * [[latestId]] and [[count]] read the footers. [[ItemStore.childrenOf]]
  * serves a page render the store's parent → children lists, read once
  * per directory.
  *
  * Every live entry after the base is a `seg-` directory; that is what
  * lets reads skip the fold. A store whose manifest lists anything else
  * there (the `delta-` directories of the delta log earlier releases
  * offered) fails loud on open rather than read overlapping rows
  * without their upsert fold; so does a bucketed store (see
  * [[Snapshots]]).
  */
final class ItemStore(spark: SparkSession, root: String) {

  private val snaps = new Snapshots(spark, root, Item.schema)

  IdRangeScan.install(spark)

  private val itemCols = Item.schema.fieldNames.toIndexedSeq.map(col)

  /** Reference column groups (hnarchive.py:231-246). */
  val coalesceCols: Seq[String] = Seq("author", "text", "poll", "url", "score", "title")
  val overwriteCols: Seq[String] =
    Seq("deleted", "type", "time", "dead", "parent", "descendants", "retrieved")

  /** S6 `init_db`: create an empty snapshot iff absent (idempotent). */
  def init(): Unit = { snaps.init(); live }

  /** The live directory names, base first: the store's manifest, after
    * checking that every entry past the base is a segment. */
  private def live: Seq[String] = {
    val entries = snaps.live
    entries.tail.find(!_.startsWith(Snapshots.SegmentPrefix)).foreach { e =>
      throw new IllegalStateException(
        s"item store at $root lists '$e' after its base: a store with " +
          "delta directories was written by the delta-log layout, which " +
          "is no longer supported. Rewrite the store with a release that " +
          "reads it, or rebuild it from its source.")
    }
    entries
  }

  /** The DataFrame [[current]] last built, with the manifest it read. */
  @volatile private var cached: Option[(Seq[String], DataFrame)] = None

  /** The store's rows, one per id. The same DataFrame comes back while
    * the manifest is unchanged, so repeated reads skip the file listing
    * and analysis of the relation, and reuse its index's parquet read
    * functions. A collect or take over files of one file partition runs
    * on the driver ([[IdRangeScan]]); a hash-partitioned base after an
    * update lists all its files and takes a Spark job. */
  def current(): DataFrame = {
    val entries = live
    cached.collect { case (m, df) if m == entries => df }.getOrElse {
      val df = scan(entries, entries)
      cached = Some((entries, df))
      df
    }
  }

  /** One relation over the files of `entries` through an [[IdRangeIndex]]
    * built from their cached footers: no file listing, and reads plan
    * their files by `id` range on the driver. */
  private def scan(live: Seq[String], entries: Seq[String]): DataFrame = {
    val index = new IdRangeIndex(
      entries.map(e => new Path(Paths.get(snaps.dir(e)).toUri)),
      entries.flatMap(footers(live, _)), () => childLists(live))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      ItemStore.readSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** Each live directory's parent → children lists, read and dropped like
    * the footers: a committed directory never changes, so each is read
    * once, decoding only `(parent, id)`. A directory of one file partition
    * (an open tail, a small base) is read on the driver by [[IdRangeScan]]
    * with no job; a larger one, a base of several files, in one job. */
  private val childCache =
    scala.collection.concurrent.TrieMap.empty[String, ItemStore.ChildList]

  private def childLists(live: Seq[String]): Seq[ItemStore.ChildList] = {
    childCache.keys.filterNot(live.contains).foreach(childCache.remove)
    live.map(e => childCache.getOrElseUpdate(e,
      if (footers(live, e).forall(_.rows == 0)) ItemStore.ChildList.empty
      else ItemStore.ChildList(scan(live, Seq(e))
        .where(col("parent").isNotNull && col("id").isNotNull)
        .select(col("parent"), col("id")).collect())))
  }

  private def dedupe(batch: DataFrame): DataFrame =
    Merge.dedupeByKey(batch, "id", Seq("retrieved")).select(itemCols: _*)

  /** S7/S8: merge a normalized item batch into the store and commit it
    * atomically. Idempotent by id (re-merging the same batch is a no-op
    * modulo `retrieved`). See the class doc: an append rewrites only the
    * open tail (or, on an empty store, writes the clustered base),
    * anything else upserts into one new base. */
  def merge(batch: DataFrame): Unit = {
    val entries = live
    // the batch is materialized once: the run scan fills the checkpoint
    // and the write reads it back
    val rows = batch.select(itemCols: _*).localCheckpoint(eager = false)
    val runs = ItemStore.runs(rows)
    // each partition strictly ascending and their id ranges disjoint:
    // the batch already has the clustered layout and no repeated id
    val sorted = runs.sortBy(_.lo)
    val clustered = runs.forall(_.ascending) &&
      sorted.zip(sorted.drop(1)).forall { case (a, b) => a.hi < b.lo }
    lazy val top = latestId(entries)
    if (runs.isEmpty) () // empty batch: nothing to commit
    else if (top.exists(_ >= sorted.head.lo))
      // an update, recrawl or gap fill: the join's output is written as
      // it comes, hash-partitioned, and folds the segments in. A range
      // rewrite of it would cluster the base again, at about 1.5 times
      // the write
      snaps.replace(upserted(rows))
    else if (top.isEmpty) // empty store: the batch becomes the base
      snaps.replace(if (clustered) rows
        // one range shuffle; the dedupe's aggregate runs after it on the
        // clustered key, with no exchange of its own
        else dedupe(rows.repartitionByRange(col("id"))).sortWithinPartitions("id"))
    else appendTail(entries, if (clustered) rows else dedupe(rows))
  }

  private def upserted(batch: DataFrame): DataFrame =
    Merge.upsert(current(), batch, "id", coalesceCols, overwriteCols,
      precedenceCols = Seq("retrieved")).select(itemCols: _*)

  /** Commit deduplicated `rows`, all above the store's max id: rewrite the
    * open tail as `tail ∪ rows` in one sorted file, or open a new tail
    * once the last one holds as many rows as the largest base file. */
  private def appendTail(live: Seq[String], rows: DataFrame): Unit = {
    val sealAt = footers(live, live.head).map(_.rows).maxOption.getOrElse(0L)
    val open = live.tail.lastOption.filter(t => footers(live, t).map(_.rows).sum < sealAt)
    val next = open.fold(rows)(t =>
      spark.read.schema(Item.schema).parquet(snaps.dir(t)).unionByName(rows))
    snaps.appendSegment(next.coalesce(1).sortWithinPartitions("id"),
      replaceLast = open.isDefined)
  }

  /** Footers by live directory name. A committed directory never changes
    * (a rewritten tail is a new directory), so each is read once; names
    * that left the manifest are dropped on the next read. */
  private val footerCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[ItemStore.Footer]]

  private def footers(live: Seq[String], entry: String): Seq[ItemStore.Footer] = {
    footerCache.keys.filterNot(live.contains).foreach(footerCache.remove)
    footerCache.getOrElseUpdate(entry, readFooters(entry))
  }

  private def readFooters(entry: String): Seq[ItemStore.Footer] =
    ParquetSurgery.dataFiles(snaps.dir(entry)).map { p =>
      val status = new FileStatus(Files.size(p), false, 1, 32L << 20,
        Files.getLastModifiedTime(p).toMillis, new Path(p.toUri))
      ParquetSurgery.readFooter(spark, p) { f =>
        val blocks = f.getBlocks.asScala.toSeq
        val ranges = blocks.filter(_.getRowCount > 0).map(_.getColumns.asScala
          .find(_.getPath.toDotString == "id").map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
          .map(s => (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue)))
        ItemStore.Footer(status, blocks.map(_.getRowCount).sum,
          if (ranges.nonEmpty && ranges.forall(_.isDefined))
            Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
          else None)
      }
    }

  /** A1 `select_latest_id` (hnarchive.py:285-290): resume offset. */
  def latestId(): Option[Long] = latestId(live)

  /** The max id sits in the last entry, and its footers hold it: no Spark
    * job. A footer without `id` statistics falls back to an aggregate
    * over [[current]]. */
  private def latestId(live: Seq[String]): Option[Long] = {
    val last = footers(live, live.last).filter(_.rows > 0)
    if (live.size == 1 && last.isEmpty) None
    else if (last.nonEmpty && last.forall(_.maxId.isDefined)) Some(last.flatMap(_.maxId).max)
    else current().agg(max(col("id"))).head().get(0) match {
      case null => None
      case v: Long => Some(v)
    }
  }

  /** Number of items: the footer row counts, with no Spark job. */
  def count(): Long = {
    val entries = live
    entries.flatMap(footers(entries, _)).map(_.rows).sum
  }

  /** P4/P5 re-crawl candidates (`update_items_argparse` hnarchive.py:540-549):
    * ids whose age-at-retrieval is within `days`, optionally only items past
    * the 14-day maturity window (hnarchive.py:543-546). `now` injected for
    * determinism (F3). */
  def recrawlIds(days: Int, onlyMature: Boolean, now: Long): DataFrame = {
    val base = current()
      .filter(col("retrieved") - col("time") <= lit(days.toLong * 86400L))
    val filtered =
      if (onlyMature) base.filter(col("time") < lit(now - 14L * 86400L))
      else base
    filtered.select("id")
  }
}

object ItemStore {
  /** The children of each id, from the store's per-directory child lists,
    * when `items` is exactly [[ItemStore.current]] (its [[IdRangeIndex]]
    * relation, no filter or projection on top) and its footer row count
    * fits [[TreeExpand]]'s driver budget; None for any other frame. The
    * first call after a commit reads the child lists of every directory
    * not yet read: on the driver for a directory of one file partition (a
    * tail), in one job for a larger one; later calls read none. */
  def childrenOf(items: DataFrame): Option[Any => java.util.List[Any]] =
    items.queryExecution.logical match {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location match {
        case ix: IdRangeIndex if TreeExpand.fitsDriver(ix.rows) =>
          val lists = ix.children()
          Some {
            case p: java.lang.Long =>
              val out = new java.util.ArrayList[Any]()
              lists.foreach(_.addChildren(p, out))
              out
            case _ => null
          }
        case _ => None
      }
      case _ => None
    }

  /** What a plain `spark.read.schema(Item.schema).parquet` scan reads:
    * every column nullable. */
  private val readSchema = StructType(Item.schema.map(_.copy(nullable = true)))

  /** One parquet file: its status, row count and `id` range, from the
    * footer; `ids` is None for an empty file or one without `id`
    * statistics. */
  private[store] final case class Footer(status: FileStatus, rows: Long,
                                         ids: Option[(Long, Long)]) {
    def maxId: Option[Long] = ids.map(_._2)
  }

  /** The (parent, child) edges of one directory, sorted by parent. */
  private[store] final class ChildList(parents: Array[Long], kids: Array[Long]) {
    /** Append the children of `p` to `out`. */
    def addChildren(p: Long, out: java.util.List[Any]): Unit = {
      var lo = 0
      var hi = parents.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (parents(m) < p) lo = m + 1 else hi = m }
      while (lo < parents.length && parents(lo) == p) { out.add(kids(lo)); lo += 1 }
    }
  }

  private[store] object ChildList {
    val empty = new ChildList(Array.emptyLongArray, Array.emptyLongArray)

    /** The list of `(parent, id)` rows, both non-null. */
    def apply(edges: Array[org.apache.spark.sql.Row]): ChildList = {
      val sorted = edges.sortBy(_.getLong(0))
      new ChildList(sorted.map(_.getLong(0)), sorted.map(_.getLong(1)))
    }
  }

  /** One non-empty partition of a batch: its smallest and largest id, and
    * whether its ids strictly ascend (so none repeats). A null id counts
    * as out of order and as the smallest id. */
  private[store] final case class Run(lo: Long, hi: Long, ascending: Boolean)

  /** The [[Run]] of every non-empty partition of `rows` (`id` first), in
    * one map-only job. */
  private[store] def runs(rows: DataFrame): Seq[Run] =
    rows.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var lo = Long.MaxValue; var hi = Long.MinValue; var asc = true
      it.foreach { r =>
        if (r.isNullAt(0)) { asc = false; lo = Long.MinValue }
        else {
          val id = r.getLong(0)
          asc &&= n == 0 || id > hi
          lo = math.min(lo, id); hi = math.max(hi, id)
        }
        n += 1
      }
      if (n == 0) Iterator.empty else Iterator(Run(lo, hi, asc))
    }.collect().toSeq
}
