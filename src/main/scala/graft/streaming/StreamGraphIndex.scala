package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.GraphAnn

/** Standing GRAPH ANN index under continuous ingestion — the
  * [[StreamVectorIndex]] lifecycle applied to the NSW tier, exploiting
  * that the NSW BUILD IS a sequence of inserts
  * ([[GraphAnn.insertVectors]]): each micro-batch's vectors link into
  * the standing graph with the exact construction rule the bootstrap
  * used, and readers keep serving the previous version until the new
  * one commits.
  *
  * Versioning is a DELTA CHAIN under the [[graft.store.Snapshots]]
  * pointer pattern: the bootstrap (and every periodic compaction)
  * writes a FULL sidecar `g-<token>`; an absorbed batch writes a DELTA
  * sidecar `d-<token>` holding ONLY the inserted nodes plus the
  * existing adjacency rows the insert touched (reverse links and their
  * prunes — ≤ |batch|·M rows by construction, vs O(graph) for a full
  * rewrite, StreamGraphIndexSpec measures it) and a `parent.txt`
  * pointer; the `current` marker then swaps with an ATOMIC_MOVE to the
  * version's DIRECTORY NAME. Readers resolve the chain latest→full and
  * replay deltas in order — and because the marker names the directory
  * (`d-b7`, never a bare `b7`), an orphan full directory from a torn
  * compaction can never shadow a committed delta. Every `compactEvery`
  * deltas the maintainer folds the chain into a fresh full sidecar —
  * depth-triggered, not clock-triggered, so replays compact at the
  * same batch and stay bit-identical.
  *
  * Crash discipline is unchanged: sidecar contents (and parent pointer)
  * are fully written BEFORE the marker swap; a crash mid-write leaves
  * the marker on the previous version (the orphan directory is
  * overwritten by the replay, never read); a replayed batch re-inserts
  * nothing (content-addressed idempotence), rewrites the same bytes,
  * and re-swaps the marker to the same value.
  *
  * Scale contract is [[GraphAnn]]'s: the graph is a bounded driver
  * artifact (fail-loud ceiling) serving the ≤10⁶-vector regime — a hot
  * working set, an entry table, the centroid book of
  * [[GraphAnn.ivfGraphProbeBatch]]. Per batch the maintainer pays one
  * chain load + |batch| inserts + one O(batch·M) delta write; the
  * O(graph) cost now amortizes to one write per `compactEvery` batches
  * (at the 2^20 ceiling: a ~0.5-1 GB rewrite every N batches instead
  * of every batch). Corpus-scale indexes still belong to the
  * partitioned tiers ([[graft.operators.GraphShards]]).
  */
object StreamGraphIndex {

  private def markerPath(dir: String) = Paths.get(dir, "current")

  /** Bootstrap ONCE over the seed corpus; subsequent batches flow
    * through [[maintainer]]. */
  def bootstrap(spark: SparkSession, dir: String, corpus: DataFrame,
                idCol: String, vecCol: String, m: Int = 16,
                efConstruction: Int = 64): Unit = {
    val g = GraphAnn.buildGraph(corpus, idCol, vecCol, m, efConstruction)
    commitFull(spark, dir, g, "g-boot")
  }

  /** The version chain from `token` back to its base full sidecar
    * (latest first). A `g-` token IS a full version; a `d-` token
    * chains through its parent pointer. */
  private def chain(dir: String, token: String): List[String] =
    if (token.startsWith("g-")) List(token)
    else {
      require(token.startsWith("d-"), s"unrecognized version token $token")
      val pp = Paths.get(dir, token, "parent.txt")
      require(Files.exists(pp),
        s"broken version chain: $token has no parent pointer")
      token :: chain(dir, new String(Files.readAllBytes(pp)).trim)
    }

  /** The graph currently marked `current` (chain-resolved) plus the
    * marker token and the delta depth since the last full sidecar. */
  private def loadChain(spark: SparkSession,
                        dir: String): (GraphAnn.Graph, String, Int) = {
    val p = markerPath(dir)
    require(Files.exists(p), s"no graph index at $dir — bootstrap first")
    val token = new String(Files.readAllBytes(p)).trim
    val ch = chain(dir, token)
    val full = GraphAnn.loadIndex(spark, s"$dir/${ch.last}")
    val g = ch.init.reverse.foldLeft(full) { (acc, t) =>
      applyDelta(spark, acc, s"$dir/$t")
    }
    (g, token, ch.length - 1)
  }

  /** The graph currently marked `current` — what readers serve. */
  def loadLatest(spark: SparkSession, dir: String): GraphAnn.Graph =
    loadChain(spark, dir)._1

  private def tombPath(dir: String) = Paths.get(dir, "tombstones")

  /** Ids tombstoned since the last compaction ([[delete]]). */
  def tombstones(dir: String): Set[Long] =
    if (!Files.exists(tombPath(dir))) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(tombPath(dir)).asScala
        .filter(_.nonEmpty).map(_.toLong).toSet
    }

  /** DELETE vectors from the standing graph — the graph tier's
    * retraction, with the MARK-DELETE discipline every production HNSW
    * deployment uses (a node cannot simply vanish from an NSW graph:
    * its adjacency rows are other nodes' traversal waypoints):
    * tombstoned ids are filtered from every [[searchLatest]] RESULT
    * immediately but remain as waypoints until the next depth-triggered
    * compaction PHYSICALLY drops them (the maintainer rebuilds the full
    * sidecar from the survivors — compaction was already the O(graph)
    * event). Atomic rewrite of the tombstone file; idempotent (already-
    * tombstoned or absent ids count 0). Returns newly tombstoned ids. */
  def delete(spark: SparkSession, dir: String, ids: Seq[Long]): Long = {
    require(ids.size <= graft.store.ClaimRetraction.MaxRetractIds,
      s"${ids.size} deletion ids exceed the " +
        s"${graft.store.ClaimRetraction.MaxRetractIds} batch ceiling")
    if (ids.isEmpty) 0L
    else {
      val g = loadLatest(spark, dir)
      val present = g.ids.toSet
      val existing = tombstones(dir)
      val fresh = ids.toSet.filter(present).diff(existing)
      if (fresh.nonEmpty) {
        val merged = (existing ++ fresh).toSeq.sorted
        val tmp = Paths.get(dir, "tombstones.tmp")
        Files.write(tmp, merged.mkString("\n").getBytes)
        Files.move(tmp, tombPath(dir), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
      fresh.size.toLong
    }
  }

  /** Audit read for [[delete]]: ids among `ids` still SERVABLE — in the
    * current graph AND not tombstoned (0 after a completed delete). */
  def held(spark: SparkSession, dir: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) 0L
    else {
      val present = loadLatest(spark, dir).ids.toSet
      ids.toSet.diff(tombstones(dir)).count(present).toLong
    }
  }

  /** Search the standing graph with tombstones filtered from the
    * results (deleted ids still serve as traversal waypoints — the
    * mark-delete contract): over-fetches by the live tombstone count
    * (bounded — the graph is a driver artifact) so k survivors come
    * back whenever the graph holds them. */
  def searchLatest(spark: SparkSession, dir: String,
                   queryVec: Seq[Double], k: Int,
                   efSearch: Int = 64): Seq[(Long, Double)] = {
    val g = loadLatest(spark, dir)
    val tombs = tombstones(dir)
    val kk = math.min(k + tombs.size, g.size)
    val res = GraphAnn.searchGraph(g, queryVec, kk,
      math.max(efSearch, kk))
    res.filterNot { case (id, _) => tombs(id) }.take(k)
  }

  private def swapMarker(dir: String, token: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, "current.tmp")
    Files.write(tmp, token.getBytes)
    Files.move(tmp, markerPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def commitFull(spark: SparkSession, dir: String,
                         g: GraphAnn.Graph, token: String): Unit = {
    GraphAnn.writeIndex(g, spark, s"$dir/$token")
    swapMarker(dir, token)
  }

  /** Delta sidecar: `nodes` (the inserted tail, ord ≥ parent size, with
    * vectors and adjacency), `touched` (EXISTING nodes whose neighbor
    * list the insert rewrote — detected by reference, exact because
    * [[GraphAnn.insertVectors]] replaces inner arrays, never mutates),
    * `parent.txt`. Written fully before the caller swaps the marker. */
  private def commitDelta(spark: SparkSession, dir: String,
                          old: GraphAnn.Graph, g2: GraphAnn.Graph,
                          token: String, parent: String): Unit = {
    import spark.implicits._
    val ddir = s"$dir/$token"
    (old.size until g2.size).map { i =>
      (i.toLong, g2.ids(i), g2.vecs.slice(i * g2.dim, (i + 1) * g2.dim).toSeq,
        g2.nbrs(i).map(g2.ids(_)).toSeq)
    }.toDF("ord", "id", "vec", "nbr_ids")
      .coalesce(1).write.mode("overwrite").parquet(s"$ddir/nodes")
    (0 until old.size).filter(i => !(g2.nbrs(i) eq old.nbrs(i))).map { i =>
      (i.toLong, g2.nbrs(i).map(g2.ids(_)).toSeq)
    }.toDF("ord", "nbr_ids")
      .coalesce(1).write.mode("overwrite").parquet(s"$ddir/touched")
    Files.write(Paths.get(ddir, "parent.txt"), parent.getBytes)
    swapMarker(dir, token)
  }

  private def applyDelta(spark: SparkSession, g: GraphAnn.Graph,
                         ddir: String): GraphAnn.Graph = {
    val nodes = spark.read.parquet(s"$ddir/nodes").orderBy("ord")
      .select("ord", "id", "vec", "nbr_ids").collect()
    val touched = spark.read.parquet(s"$ddir/touched")
      .select("ord", "nbr_ids").collect()
    val n0 = g.size
    val n = n0 + nodes.length
    val ids = java.util.Arrays.copyOf(g.ids, n)
    val vecs = java.util.Arrays.copyOf(g.vecs, n * g.dim)
    val norms = java.util.Arrays.copyOf(g.norms, n)
    val nbrs = java.util.Arrays.copyOf(g.nbrs, n)
    nodes.zipWithIndex.foreach { case (r, j) =>
      require(r.getLong(0) == n0 + j,
        s"delta nodes out of order at $ddir: ord ${r.getLong(0)} != ${n0 + j}")
      val v = r.getSeq[Double](2)
      require(v.length == g.dim, s"ragged delta vector at ord ${n0 + j}")
      var acc = 0.0
      var d = 0
      while (d < g.dim) {
        val x = v(d); vecs((n0 + j) * g.dim + d) = x; acc += x * x; d += 1
      }
      ids(n0 + j) = r.getLong(1)
      norms(n0 + j) = math.sqrt(acc)
    }
    val idToIdx = ids.zipWithIndex.toMap
    nodes.zipWithIndex.foreach { case (r, j) =>
      nbrs(n0 + j) = r.getSeq[Long](3).map(idToIdx).toArray
    }
    touched.foreach { r =>
      val ord = r.getLong(0).toInt
      require(ord < n0, s"touched row $ord outside the parent graph")
      nbrs(ord) = r.getSeq[Long](1).map(idToIdx).toArray
    }
    GraphAnn.Graph(ids, g.dim, vecs, norms, nbrs)
  }

  /** The `foreachBatch` binder: absorb the micro-batch into the
    * standing graph and commit a new version — a DELTA normally, a full
    * compaction every `compactEvery` deltas (depth-triggered, so a
    * replay compacts at the same batch). Batches that add nothing
    * (empty, or fully replayed ids) leave the marker untouched. */
  def maintainer(spark: SparkSession, dir: String, idCol: String,
                 vecCol: String, m: Int = 16, efConstruction: Int = 64,
                 compactEvery: Int = 8): (DataFrame, Long) => Unit = {
    graft.store.Snapshots.requireCompactEvery(compactEvery)
    (batch: DataFrame, batchId: Long) => {
      if (!batch.isEmpty) {
        val (g, parent, depth) = loadChain(spark, dir)
        val g2 = GraphAnn.insertVectors(g, batch, idCol, vecCol, m,
          efConstruction)
        if (!(g2 eq g)) {
          if (depth + 1 >= compactEvery) {
            // compaction PHYSICALLY drops tombstoned nodes: rebuild the
            // full sidecar from the survivors (ascending-id, the
            // deterministic construction order) — compaction was
            // already the O(graph) event, the rebuild rides it
            val tombs = tombstones(dir)
            val gFull =
              if (tombs.isEmpty) g2
              else {
                val rows = (0 until g2.size).filterNot(i => tombs(g2.ids(i)))
                  .map(i => (g2.ids(i),
                    g2.vecs.slice(i * g2.dim, (i + 1) * g2.dim).toSeq))
                  .sortBy(_._1)
                require(rows.nonEmpty,
                  "every vector in the graph is tombstoned — an empty " +
                    "graph cannot serve; bootstrap a fresh index instead")
                GraphAnn.buildGraphFromRows(rows, m, efConstruction)
              }
            commitFull(spark, dir, gFull, s"g-b$batchId")
            // clear AFTER the swap: a crash in between leaves tombstones
            // listing absent ids — the filter is a harmless no-op and
            // the next compaction clears them
            Files.deleteIfExists(tombPath(dir))
          } else commitDelta(spark, dir, g, g2, s"d-b$batchId", parent)
        }
      }
    }
  }
}
