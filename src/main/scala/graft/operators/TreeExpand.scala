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
  *    level ~30).
  *  - termination is the fixpoint (empty frontier) with a maxDepth fuse
  *    against cyclic/corrupt edge sets; both paths return the same rows and
  *    fail with the same error (spec-pinned).
  *
  * Concurrency note (both entry points): the frontier measurements run
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
        // same contract as expandByDoubling (rejects _dist > maxDepth)
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

  /** Pointer-doubling expansion: [[expand]]'s output contract in
    * O(log depth) rounds instead of O(depth / levelsPerRound), with ONE
    * qualification — NEAREST-ROOT semantics. Each node is attributed to the
    * closest chosen root on its ancestor path (one output row per node),
    * whereas [[expand]] emits a node once per covering root. The two agree
    * exactly whenever the chosen roots are disjoint subtrees (the typical
    * case — q11's siblings, q55's single chain; spec-pinned); for nested
    * roots use [[expand]].
    *
    * Every node tracks (ptr, dist, seg): its current known ancestor, the
    * distance to it, and the path from just below that ancestor down to
    * itself. Each round contracts chains by joining every unfinished node
    * to its ancestor's state — ptr jumps 2^k parents per round. The chosen
    * roots act as cut points (their ptr starts null), so chains terminate
    * at the nearest chosen root; nodes whose chains end elsewhere are
    * outside the requested subtrees and drop out.
    *
    * Trade-off vs BFS: every round self-joins the WHOLE node table (the
    * frontier trick doesn't apply), so for shallow trees — HN comment
    * threads — the BFS is cheaper. This is the deep-chain fallback: depth
    * 10^3 costs 10 rounds instead of 250. Because it computes globally, it
    * also fails loud on cyclic edges ANYWHERE in the table, where the BFS
    * only trips on cycles reachable from the chosen roots. */
  /** @param withPath when false, path accumulation is skipped and the
    *        output `path` column is just the node id. On a DEEP chain the
    *        materialized paths are quadratic in total size (node k's path
    *        has k components) — depth-only expansion is the only sane mode
    *        there, and it's what depth/root analyses need. */
  /** @param broadcastStateRows when the whole node table fits this budget
    *        (rows AND estimated bytes — `broadcastStateBytes`), each
    *        contraction round joins against a BROADCAST of the state (zero
    *        shuffle stages — the small-graph regime, same measurement-based
    *        gate as [[expand]]); larger or byte-heavy tables keep the
    *        shuffled self-join, which is the right plan at cluster scale.
    *        Segment strings grow by concatenation each round, so the
    *        per-round measurement can demote the regime mid-flight. */
  /** @param driverStateRows tiniest tier (0 disables): when the WHOLE node
    *        table provably fits this many rows (a `head(cap+1)` proves it)
    *        AND `driverStateBytes`, the chains are resolved in one driver
    *        pass — zero contraction rounds, so a 2000-deep chain costs ~2
    *        tiny jobs instead of ~11 (each round is a full-table join job;
    *        at local/test scale driver latency dominates them). Same
    *        size-gated pattern as `Components.driverUnionFind` — past the
    *        gate the distributed rounds are unchanged, which is the 100-TB
    *        path. In `withPath` mode materialized paths can be quadratic in
    *        depth, so the tier re-estimates total path bytes (depths ×
    *        longest id) against `broadcastStateBytes` and DECLINES to the
    *        distributed rounds when they don't fit. Fail-loud behavior is
    *        IDENTICAL across tiers (spec-pinned): cycles throw, chains past
    *        the 2^(maxRounds+1)-1 round fuse throw, in-scope nodes past
    *        maxDepth throw — the same input never flips between success and
    *        failure depending on the size gate. Chains whose parent pointer
    *        leaves the edge slice (dangling) resolve to the missing id as
    *        their terminal and are dropped, in both tiers. */
  def expandByDoubling(
      edges: DataFrame,
      roots: DataFrame,
      idCol: String = "id",
      parentCol: String = "parent",
      maxDepth: Int = 1000,
      withPath: Boolean = true,
      broadcastStateRows: Long = 1000000L,
      broadcastStateBytes: Long = 64L << 20,
      driverStateRows: Int = 8192,
      driverStateBytes: Long = 8L << 20): DataFrame = {
    val idType = edges.schema(idCol).dataType
    // Lazy checkpoints for the ROUND state: the first action over each (the
    // open-set count below) materializes it as a side effect, so every round
    // costs ONE job instead of an eager-checkpoint job plus a count job — at
    // ~11 rounds for a 2000-deep chain the saved driver round-trips are a
    // third of the operator's wall-clock. The SEED root set is the one
    // exception: it is broadcast while still unmaterialized, and a broadcast
    // exchange whose sub-job lineage contains a not-yet-materialized lazy
    // localCheckpoint can deadlock against the DAG event loop (AB-BA on
    // cacheLocs + the RDD monitor inside Spark's own lock ordering — observed
    // once in a full-suite run, jstack'd; ROUND6.md Candidates). Eagerly
    // materializing the seed (+1 job ≈ 40 ms) closes that window before any
    // broadcast is planned; every LATER checkpoint is materialized by its
    // round's measure job before the next round broadcasts it, so the rounds
    // keep the fused lazy design.
    val rootSet = roots.select(col(idCol).as("_rid")).distinct()
      .localCheckpoint(true)
    // State per node: _ptr  = current jump target (null ⟺ chain resolved)
    //                 _term = terminal node once resolved (a cut point:
    //                         chosen root, or a real root — filtered later)
    //                 _dist = distance to _ptr (unresolved) / _term (resolved)
    //                 _seg  = path ids from just below the anchor to _id;
    //                         final path = _term "/" _seg (or _seg at dist 0)
    // seed from edges ∪ chosen roots absent from the edge table — expand()
    // emits a depth-0 row for every requested root regardless of presence
    // (the dedup only ever collapses chosen-root rows, whose parent is cut
    // to null right below — so first()'s pick among duplicates is moot)
    val seedNodes = edges
      .select(col(idCol).as("_id"), col(parentCol).as("_parent"))
      .unionAll(rootSet.select(col("_rid").as("_id"),
        lit(null).cast(edges.schema(parentCol).dataType).as("_parent")))
      .groupBy("_id").agg(first(col("_parent"), ignoreNulls = false).as("_parent"))
    var state = seedNodes
      .join(broadcast(rootSet), col("_id") === col("_rid"), "left")
      .select(col("_id"),
        when(col("_rid").isNotNull || col("_parent").isNull,
          lit(null).cast(idType)).otherwise(col("_parent")).as("_ptr"),
        when(col("_rid").isNotNull || col("_parent").isNull, col("_id"))
          .otherwise(lit(null).cast(idType)).as("_term"),
        when(col("_rid").isNotNull || col("_parent").isNull, lit(0))
          .otherwise(lit(1)).as("_dist"),
        col("_id").cast("string").as("_seg"))
      .localCheckpoint(false)
    var rounds = 0
    val maxRounds = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxDepth.toLong))
    // ONE job materializes each round's lazy checkpoint and measures rows,
    // open chains, and estimated bytes (seg strings dominate and GROW by
    // concatenation each round — rows are not a memory unit, so the
    // broadcast gate re-checks bytes every round and demotes mid-flight)
    def measure(): (Long, Long, Long) = {
      val m = state.agg(count(lit(1)),
        coalesce(sum(when(col("_ptr").isNotNull, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(length(col("_seg")) + 48L), lit(0L))).head()
      (m.getLong(0), m.getLong(1), m.getLong(2))
    }
    // driver tier: ONE head() job proves the whole state tiny (the head also
    // materializes the checkpoint, so nothing is wasted when it declines),
    // then every chain resolves locally with zero contraction rounds
    var sampleStats: Option[(Long, Long, Long)] = None
    if (driverStateRows > 0 && driverIdType(idType)) {
      val sample = state.head(driverStateRows + 1)
      if (sample.length <= driverStateRows) {
        val bytes = sample.iterator.map(r =>
          48L + (if (r.isNullAt(4)) 0L else r.getString(4).length.toLong)).sum
        sampleStats = Some((sample.length.toLong,
          sample.count(!_.isNullAt(1)).toLong, bytes))
        if (bytes <= driverStateBytes) {
          // what the round counter tolerates: after k contraction rounds
          // chains of dist <= 2^k - 1 are resolved (a node resolves only if
          // its 2^(k-1)-jump target resolved the round before), so
          // maxRounds+1 rounds tolerate dist <= 2^(maxRounds+1) - 1 — the
          // driver tier applies the same fuse so failure matches exactly
          val fuse =
            if (maxRounds >= 62) Long.MaxValue
            else (1L << (maxRounds + 1)) - 1
          val done = resolveOnDriver(sample, rootSet, idCol, idType, maxDepth,
            fuse, withPath, broadcastStateBytes)
          if (done.isDefined) return done.get
        }
      }
    }
    val (nodeCount, open0, bytes0) = sampleStats.getOrElse(measure())
    var smallState = nodeCount <= broadcastStateRows && bytes0 <= broadcastStateBytes
    val spark = edges.sparkSession
    val aqe = ConfWindow.aqe(spark)
    val headWin = ConfWindow.headOneJob(spark)
    if (smallState) aqe.suspend()
    headWin.suspend()
    try {
    var open = open0
    while (open > 0) {
      rounds += 1
      if (rounds > maxRounds + 1)
        throw new IllegalStateException(
          s"expandByDoubling: ancestor chains exceed maxDepth=$maxDepth — " +
            "tree deeper than the bound, or a cyclic/corrupt edge set " +
            "(matches expand's fail-loud policy)")
      val anc = state.select(col("_id").as("_aid"), col("_ptr").as("_aptr"),
        col("_term").as("_aterm"), col("_dist").as("_adist"),
        col("_seg").as("_aseg"))
      val resolved = col("s._ptr").isNull
      // no ancestor ROW for the pointer (a dangling parent reference — the
      // edge slice omits that id): the chain's terminal IS the missing id.
      // Resolve to it (it can never be a chosen root — those are all seeded
      // into the state — so the semi-join drops the chain at the end).
      // Leaving it unresolved would contract ONE level per round (the null
      // join nulls dist/seg), spuriously tripping the round fuse on deep
      // dangling chains.
      val ancMiss = col("_aid").isNull
      val ancResolved = col("_aterm").isNotNull
      val ancIsTerminal = ancResolved && col("_adist") === 0
      state = state.as("s")
        .join(if (smallState) broadcast(anc) else anc,
          col("s._ptr") === col("_aid"), "left")
        .select(col("s._id").as("_id"),
          when(resolved || ancMiss, lit(null).cast(idType))
            .when(ancResolved, lit(null).cast(idType))
            .otherwise(col("_aptr")).as("_ptr"),
          when(resolved, col("s._term"))
            .when(ancMiss, col("s._ptr"))
            .when(ancResolved, col("_aterm"))
            .otherwise(lit(null).cast(idType)).as("_term"),
          when(resolved || ancMiss, col("s._dist"))
            .otherwise(col("s._dist") + col("_adist")).as("_dist"),
          (if (withPath)
             when(resolved || ancMiss || ancIsTerminal, col("s._seg"))
               .otherwise(concat(col("_aseg"), lit("/"), col("s._seg")))
           else col("s._seg")).as("_seg"))
        .localCheckpoint(false)
      val (_, openNow, bytesNow) = measure()
      open = openNow
      if (smallState && bytesNow > broadcastStateBytes) {
        // segments outgrew the byte budget: stop broadcasting the state
        // and give AQE back to the now-shuffled rounds
        smallState = false
        aqe.restore()
      }
    }
    val inScope = state
      .join(broadcast(rootSet), col("_term") === col("_rid"), "left_semi")
    if (inScope.filter(col("_dist") > maxDepth).head(1).nonEmpty)
      throw new IllegalStateException(
        s"expandByDoubling: subtree deeper than maxDepth=$maxDepth — " +
          "matches expand's fail-loud policy")
    inScope
      .select(col("_id").as(idCol), col("_term").as("root"),
        col("_dist").as("depth"),
        (if (withPath)
           when(col("_dist") === 0, col("_seg"))
             .otherwise(concat(col("_term").cast("string"), lit("/"), col("_seg")))
         else col("_seg")).as("path"))
    } finally {
      aqe.restore()
      headWin.restore()
    }
  }

  /** Id types whose driver-side toString matches Spark's string cast — the
    * driver tier builds `path` strings locally, so it only engages for
    * these (anything else keeps the distributed rounds). */
  private def driverIdType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** [[expandByDoubling]]'s driver tier: the complete (proven by the caller)
    * seed state resolves in one local pass — walk each unresolved chain to
    * its terminal with memoization, exactly the nearest-root semantics of
    * the contraction rounds. Returns None (caller falls back to the rounds)
    * when `withPath` would materialize more than `pathBytesBudget` of path
    * strings. Fail-loud PARITY with the rounds: cycles anywhere throw; any
    * chain longer than `fuse` (= 2^(maxRounds+1)-1, what the round counter
    * tolerates) throws the rounds' fuse error; an IN-SCOPE node deeper than
    * maxDepth throws the subtree error — so the same input never flips
    * between success and failure across the size gate. */
  private def resolveOnDriver(
      sample: Array[Row],
      rootSet: DataFrame,
      idCol: String,
      idType: DataType,
      maxDepth: Int,
      fuse: Long,
      withPath: Boolean,
      pathBytesBudget: Long): Option[DataFrame] = {
    val n = sample.length
    val parentOf = new java.util.HashMap[Any, Any](n * 2) // unresolved → parent
    val termOf = new java.util.HashMap[Any, Any](n * 2)   // resolved → terminal
    val distOf = new java.util.HashMap[Any, java.lang.Long](n * 2)
    // dangling-parent chains terminate at the missing id — out of the
    // requested scope, dropped at the end (same as the rounds' miss
    // handling). The sentinel stands in for that id; dist counts from it
    // (the gap-adjacent node is at distance 1), matching the rounds.
    val Missing = new Object
    sample.foreach { r =>
      val id = r.get(0)
      if (!r.isNullAt(2)) { termOf.put(id, r.get(2)); distOf.put(id, 0L) }
      else parentOf.put(id, r.get(1)) // _ptr non-null whenever _term is null
    }
    def chainsExceed(): Nothing = throw new IllegalStateException(
      s"expandByDoubling: ancestor chains exceed maxDepth=$maxDepth — " +
        "tree deeper than the bound, or a cyclic/corrupt edge set " +
        "(matches expand's fail-loud policy)")
    val stack = new java.util.ArrayDeque[Any]()
    val onPath = new java.util.HashSet[Any]()
    sample.foreach { r =>
      var cur: Any = r.get(0)
      stack.clear(); onPath.clear()
      while (!termOf.containsKey(cur)) {
        if (!onPath.add(cur)) chainsExceed() // cycle
        val p = parentOf.get(cur)
        if (termOf.containsKey(p) || parentOf.containsKey(p)) {
          stack.push(cur); cur = p
        } else { termOf.put(cur, Missing); distOf.put(cur, 1L) }
      }
      val t = termOf.get(cur)
      var d: Long = distOf.get(cur)
      while (!stack.isEmpty) {
        val node = stack.pop(); d += 1
        if (d > fuse) chainsExceed()
        termOf.put(node, t); distOf.put(node, d)
      }
    }
    val chosen = rootSet.collect().iterator.map(_.get(0)).toSet
    val inScope = sample.filter { r =>
      val t = termOf.get(r.get(0)); t != Missing && chosen.contains(t)
    }
    if (inScope.exists(r => distOf.get(r.get(0)) > maxDepth))
      throw new IllegalStateException(
        s"expandByDoubling: subtree deeper than maxDepth=$maxDepth — " +
          "matches expand's fail-loud policy")
    def idStr(v: Any): String = String.valueOf(v)
    if (withPath) {
      // materialized paths are quadratic in depth (node k's path repeats k
      // id components) — estimate against the budget before building
      val maxIdLen = sample.iterator.map(r => idStr(r.get(0)).length)
        .foldLeft(0)(math.max)
      val est = inScope.iterator
        .map(r => (distOf.get(r.get(0)) + 1) * (maxIdLen + 1)).sum
      if (est > pathBytesBudget) return None
    }
    val pathOf = new java.util.HashMap[Any, String](n * 2)
    def pathFor(id0: Any): String = {
      var cur = id0
      stack.clear()
      while (!pathOf.containsKey(cur) && distOf.get(cur) != 0L) {
        stack.push(cur); cur = parentOf.get(cur)
      }
      var p = pathOf.get(cur)
      if (p == null) { p = idStr(cur); pathOf.put(cur, p) }
      while (!stack.isEmpty) {
        val node = stack.pop()
        p = p + "/" + idStr(node)
        pathOf.put(node, p)
      }
      p
    }
    val rows = new java.util.ArrayList[Row](inScope.length)
    inScope.foreach { r =>
      val id = r.get(0)
      rows.add(Row(id, termOf.get(id), distOf.get(id).toInt,
        if (withPath) pathFor(id) else idStr(id)))
    }
    Some(rootSet.sparkSession.createDataFrame(rows, outputSchema(idCol, idType)))
  }
}
