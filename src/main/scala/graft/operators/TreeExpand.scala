package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType,
  StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Recursive tree expansion (SURVEY.md J3): the set-based replacement for the
  * reference's `build_item_tree` (`/root/reference/hnarchive.py:306-319`),
  * which issues one SQL point-query per tree node (N+1 pattern). Spark has no
  * recursive CTE, so this is the classic semi-naive BFS: one self-join per
  * tree *level* (not per node), accumulating (id, root, depth, path).
  *
  * Scale design — a driver pass in front of distributed rounds, chosen by
  * MEASURING the edge table (one count, which doubles as cache population):
  *  - driver pass: when the edge table fits the broadcast budget (rows, and
  *    bytes at 48 B per edge) it is collected ONCE and the BFS runs level by
  *    level on the driver, returning a local relation. A comment thread of
  *    a few nodes costs two jobs instead of a round's fixed handful per
  *    `levelsPerRound` levels. The pass declines — falls through to the
  *    rounds — when its OUTPUT outgrows the same row and byte budget
  *    (overlapping roots and long paths can multiply a small edge table).
  *    [[expandCollected]] is the same pass over child lists a caller
  *    already holds (the item store's, for a page render): no job at all.
  *  - distributed rounds: the edge side is repartitioned by parent key once
  *    and cached, the measured frontier is broadcast while it fits the
  *    budget and deeper levels shuffle-hash against the edges — the 100-TB
  *    path. Each round is `localCheckpoint`ed to cut lineage growth
  *    (otherwise the plan doubles per level and the driver OOMs planning
  *    level ~30). A chain deeper than the driver budget admits costs
  *    ⌈depth / levelsPerRound⌉ rounds (docs/SCALE.md); no query has one.
  *  - termination is the fixpoint (empty frontier) with a maxDepth fuse
  *    against cyclic/corrupt edge sets; both paths return the same rows and
  *    fail with the same error (spec-pinned).
  *
  * Concurrency note: the frontier measurements run
  * inside [[ConfWindow.headOneJob]], a session-conf override for the
  * duration of the call. Concurrent expansions on the same session
  * serialize their windows under a per-session lock (no save/restore
  * clobber), but an unrelated query issued on the SAME session during the
  * window also sees the override — run concurrency-sensitive work on its
  * own `spark.newSession()`.
  */
object TreeExpand {

  /** Per-round frontier residency, selected by SIZE each round — the caller
    * never has to know how wide the tree gets:
    *  - `driver`: frontier rows held on the driver as a local relation; the
    *    broadcast build needs no cluster job and the emptiness check is
    *    free. Only when the frontier is provably tiny (≤ driverFrontierRows
    *    — a `head(cap+1)` proves completeness without a count).
    *  - `broadcast`: frontier stays on executors (a filter of the
    *    checkpointed batch); the join still broadcasts, but the build reads
    *    executor-side data in parallel instead of a driver round-trip.
    *    A 60k-row frontier with long paths collected+rebuilt+rebroadcast on
    *    the driver every round is exactly the q11 regression this avoids.
    *  - `shuffle`: frontier too big to broadcast at all — shuffle-hash join,
    *    nothing materializes on the driver. The wide-graph graceful degrade.
    */
  private val DriverMode = "driver"
  private val BroadcastMode = "broadcast"
  private val ShuffleMode = "shuffle"

  /** The driver pass's default budget: edge rows, and bytes at
    * [[EdgeBytes]] per edge (also its output budget, at 32 B + path
    * length per row). */
  val DriverBudgetRows: Long = 1000000L
  val DriverBudgetBytes: Long = 64L << 20
  private val EdgeBytes = 48L

  /** Whether `edges` collected edges fit the default driver budget. */
  def fitsDriver(edges: Long): Boolean =
    edges <= DriverBudgetRows && edges * EdgeBytes <= DriverBudgetBytes

  /** @param edges (idCol, parentCol) adjacency rows, parent NULL for roots
    * @param roots one column `idCol`: the subtree roots to expand (included
    *              in the output at depth 0)
    * @param levelsPerRound BFS levels expanded inside ONE physical plan per
    *              distributed round. Each round costs a fixed handful of
    *              jobs (frontier build, materialize batch, fetch next
    *              frontier) regardless of how many levels it covers, so
    *              batching divides the dominant driver-scheduling cost by
    *              the batch size.
    * @param driverFrontierRows max frontier rows kept on the driver between
    *              rounds (the `driver` residency above); the driver pass
    *              also needs the root set — its first frontier — within it
    * @param broadcastFrontierRows max frontier rows joined via broadcast;
    *              beyond this the round degrades to a shuffle-hash join
    *              instead of OOMing the driver with the broadcast build.
    *              Also the driver pass's row budget, for the edge table and
    *              for its output.
    * @param broadcastMaxBytes max ESTIMATED payload (path strings dominate)
    *              for any broadcast/driver residency and for the driver
    *              pass — rows are not a memory unit, and paths grow with
    *              depth
    * @param modeLog when set, appends the residency chosen each round —
    *              test observability for the size gate (stays empty when
    *              the driver pass answers)
    * @return (id, root, depth: int, path: string "root/…/id")
    */
  def expand(
      edges: DataFrame,
      roots: DataFrame,
      idCol: String = "id",
      parentCol: String = "parent",
      maxDepth: Int = 1000,
      levelsPerRound: Int = 4,
      driverFrontierRows: Int = 8192,
      broadcastFrontierRows: Long = DriverBudgetRows,
      broadcastMaxBytes: Long = DriverBudgetBytes,
      modeLog: scala.collection.mutable.Buffer[String] = null): DataFrame = {
    require(levelsPerRound >= 1, "levelsPerRound must be >= 1")
    require(driverFrontierRows >= 1 && broadcastFrontierRows >= driverFrontierRows,
      "need 1 <= driverFrontierRows <= broadcastFrontierRows")
    val spark = edges.sparkSession
    val idType = edges.schema(idCol).dataType
    val childOf = edges
      .select(col(idCol).as("_id"), col(parentCol).as("_parent"))
      .filter(col("_parent").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the rounds' deep levels shuffle-hash every round, so pay the
    // parent-key repartition once and reuse its partitioning each round
    var shuffledInit = false
    lazy val childOfShuffled = {
      shuffledInit = true
      childOf.repartition(col("_parent")).persist(StorageLevel.MEMORY_AND_DISK)
    }
    val headWin = ConfWindow.headOneJob(spark)
    headWin.suspend()
    try {
      // one map-only job populates the cache and measures the edge table
      // (Dataset.count() plans a global aggregate that AQE runs as several
      // jobs). Within the budget the driver pass collects it (it is then
      // exactly what a broadcast build would hold); the id types must
      // round-trip through the driver unchanged — keys compare as boxed
      // values and paths are built with toString
      val edgeCount = childOf.queryExecution.toRdd.count()
      val local =
        if (edgeCount <= broadcastFrontierRows && edgeCount * EdgeBytes <= broadcastMaxBytes &&
            driverIdType(idType) && edges.schema(parentCol).dataType == idType) {
          val rootRows = roots.select(col(idCol)).head(driverFrontierRows + 1)
          if (rootRows.length > driverFrontierRows) None
          else expandOnDriver(childOf.collect(), rootRows.map(_.get(0)), idCol,
            idType, maxDepth, broadcastFrontierRows, broadcastMaxBytes, spark)
        } else None
      local.getOrElse {
        // distributed rounds: `levelsPerRound` levels per physical plan,
        // frontier residency re-chosen by size each round (see DriverMode)
        def step(level: DataFrame, mode: String): DataFrame = {
          // broadcast only a within-budget MATERIALIZED frontier; the lazy
          // deeper levels shuffle-hash against the parent-keyed edges —
          // broadcasting those would risk an unbounded build on a fan-out
          // spike
          val keyed = level.select(col("_id").as("_pid"), col("_root"),
            col("_depth"), col("_path"))
          val joined =
            if (mode == ShuffleMode)
              childOfShuffled.join(keyed.hint("shuffle_hash"), col("_parent") === col("_pid"))
            else childOf.join(broadcast(keyed), col("_parent") === col("_pid"))
          joined.select(col("_id"), col("_root"), (col("_depth") + 1).as("_depth"),
            concat(col("_path"), lit("/"), col("_id").cast("string")).as("_path"))
        }
        val frontierSchema = StructType(Seq(
          StructField("_id", idType),
          StructField("_root", idType),
          StructField("_depth", IntegerType, nullable = false),
          StructField("_path", StringType)))

        var frontier: DataFrame = null // driver-held local relation or executor-side filter
        var mode: String = DriverMode
        var frontierKnownEmpty = false

        /** Measure the new frontier and pick next round's residency: one
          * `head(cap+1)` job (cheap — the source is checkpointed); a count
          * job only on the rare large-frontier rounds to apply the broadcast
          * cap. */
        def adopt(nextFrontier: DataFrame): Unit = {
          val sample = nextFrontier.head(driverFrontierRows + 1)
          val sampleBytes = sample.iterator
            .map(r => rowBytes(if (r.isNullAt(3)) null else r.getString(3))).sum
          if (sample.length <= driverFrontierRows && sampleBytes <= broadcastMaxBytes) {
            mode = DriverMode
            frontier = spark.createDataFrame(java.util.Arrays.asList(sample: _*), frontierSchema)
            frontierKnownEmpty = sample.isEmpty
          } else {
            // one global map-side-combined agg: row count + payload bytes —
            // the residency decision needs nothing per-key (at 100 TB a
            // per-key agg here would be a full frontier shuffle per round)
            val m = nextFrontier
              .agg(count(lit(1)),
                coalesce(sum(coalesce(length(col("_path")), lit(0)) + 32L),
                  lit(0L)))
              .head()
            val (rows, bytes) = (m.getLong(0), m.getLong(1))
            mode = if (rows <= broadcastFrontierRows && bytes <= broadcastMaxBytes)
              BroadcastMode else ShuffleMode
            frontier = nextFrontier
            frontierKnownEmpty = false
          }
          if (modeLog != null) modeLog += mode
        }

        adopt(roots
          .select(col(idCol).as("_id"))
          .distinct()
          .select(col("_id"), col("_id").as("_root"), lit(0).as("_depth"),
            col("_id").cast("string").as("_path"))
          .localCheckpoint())

        var out = frontier
        var depth = 0
        while (depth < maxDepth && !frontierKnownEmpty) {
          // unmeasured in-plan level outputs only ever feed shuffle-hash
          // joins, so batching depth is limited by maxDepth alone
          val rounds = math.min(levelsPerRound, maxDepth - depth)
          var levels = List(step(frontier, mode))
          (2 to rounds).foreach { _ => levels = step(levels.head, ShuffleMode) :: levels }
          // one job materializes every level of the batch; coalesce only
          // the small (driver-frontier) rounds — 32 near-empty partitions
          // per probe is pure overhead there; wide rounds keep their
          // parallelism
          val union = levels.reverse.reduce(_ unionAll _)
          val batch = (if (mode == DriverMode) union.coalesce(8) else union)
            .localCheckpoint()
          depth += rounds
          adopt(batch.filter(col("_depth") === depth))
          out = out.unionAll(batch)
        }
        // nodes at exactly depth == maxDepth may simply be leaves: a tree
        // of height maxDepth converged legitimately. Only fail if the
        // frontier actually has children (rows at depth maxDepth + 1) —
        // the driver pass's contract too
        if (!frontierKnownEmpty && frontier.head(1).nonEmpty &&
            step(frontier, mode).head(1).nonEmpty)
          notConverged(maxDepth)
        out.select(col("_id").as(idCol), col("_root").as("root"),
          col("_depth").as("depth"), col("_path").as("path"))
      }
    } finally {
      headWin.restore()
      // the result references only checkpointed batches / local relations,
      // so the edge caches can go now
      childOf.unpersist(blocking = false)
      if (shuffledInit) childOfShuffled.unpersist(blocking = false)
    }
  }

  /** Estimated payload of one output/frontier row: the path string
    * dominates; ids and depth are a constant tax. */
  private def rowBytes(path: String): Long =
    32L + (if (path == null) 0 else path.length)

  private def notConverged(maxDepth: Int): Nothing =
    throw new IllegalStateException(
      s"TreeExpand did not converge within maxDepth=$maxDepth — " +
        "cyclic or corrupt edge set? (matches Components.of fail-loud policy)")

  private def outputSchema(idCol: String, idType: DataType): StructType =
    StructType(Seq(
      StructField(idCol, idType),
      StructField("root", idType),
      StructField("depth", IntegerType, nullable = false),
      StructField("path", StringType)))

  /** [[expand]]'s driver pass over the collected edge table. */
  private def expandOnDriver(
      edgeRows: Array[Row],
      rootIds: Array[Any],
      idCol: String,
      idType: DataType,
      maxDepth: Int,
      maxRows: Long,
      maxBytes: Long,
      spark: org.apache.spark.sql.SparkSession): Option[DataFrame] = {
    val children = new java.util.HashMap[Any, java.util.List[Any]]()
    edgeRows.foreach { r =>
      children.computeIfAbsent(r.get(1), _ => new java.util.ArrayList[Any]()).add(r.get(0))
    }
    expandCollected(children.get, rootIds.toSeq, maxDepth, maxRows, maxBytes)
      .map(spark.createDataFrame(_, outputSchema(idCol, idType)))
  }

  /** The driver BFS over child lists already on the driver: `childrenOf`
    * gives the ids whose parent is the given id (null or empty for none).
    * It is [[expand]]'s driver pass, level by level, with the rounds' join
    * semantics — one row per (node, covering root, parent-edge walk), so
    * duplicate edges multiply rows; a null or edge-less root keeps its
    * depth-0 row; a null child id yields a null path. Returns the rows
    * (id, root, depth, path), or None once they exceed `maxRows` or
    * `maxBytes` (the caller then takes the distributed path). A frontier
    * still alive at maxDepth throws [[expand]]'s error only if it has
    * children, as in the rounds. */
  def expandCollected(
      childrenOf: Any => java.util.List[Any],
      rootIds: Seq[Any],
      maxDepth: Int = 1000,
      maxRows: Long = DriverBudgetRows,
      maxBytes: Long = DriverBudgetBytes): Option[java.util.List[Row]] = {
    def hasChildren(id: Any) = { val k = childrenOf(id); k != null && !k.isEmpty }
    val out = new java.util.ArrayList[Row]()
    var bytes = 0L
    def emit(id: Any, root: Any, depth: Int, path: String): Boolean = {
      out.add(Row(id, root, depth, path))
      bytes += rowBytes(path)
      out.size <= maxRows && bytes <= maxBytes
    }
    // frontier entries: (id, root, path) at the current depth
    var frontier = rootIds.distinct.map { id =>
      (id, id, if (id == null) null else String.valueOf(id)) }
    if (!frontier.forall { case (id, root, path) => emit(id, root, 0, path) })
      return None
    var depth = 0
    while (depth < maxDepth && frontier.nonEmpty) {
      depth += 1
      val next = Seq.newBuilder[(Any, Any, String)]
      val it = frontier.iterator
      while (it.hasNext) {
        val (id, root, path) = it.next()
        val kids = childrenOf(id)
        if (kids != null) {
          var i = 0
          while (i < kids.size) {
            val kid = kids.get(i)
            val kidPath = if (kid == null) null else path + "/" + kid
            if (!emit(kid, root, depth, kidPath)) return None
            next += ((kid, root, kidPath))
            i += 1
          }
        }
      }
      frontier = next.result()
    }
    if (frontier.exists { case (id, _, _) => hasChildren(id) })
      notConverged(maxDepth)
    Some(out)
  }

  /** Id types whose driver-side toString matches Spark's string cast — the
    * driver pass builds `path` strings locally, so it only engages for
    * these (anything else keeps the distributed rounds). */
  private def driverIdType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }
}
