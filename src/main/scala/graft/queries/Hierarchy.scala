package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TreeExpand

/** Recursive tree expansion (SURVEY.md J3/R1 — `build_item_tree`). The test
  * tables have no self-FK, so the comment forest is derived arithmetically
  * from `events`: node = event_id, parent = (event_id-1) div 3 (a 3-ary tree
  * rooted at 0). The expansion itself is the honest iterative self-join —
  * the oracle re-derives it independently with a DuckDB recursive CTE.
  */
object Hierarchy {

  /** q11: expand the three subtrees under node 0's children {1,2,3},
    * tagging every node with its subtree root, depth and materialized path —
    * exactly the shape `html_render` needs (SURVEY.md E3).
    */
  val q11 = Q(
    "q11_tree_expand",
    """WITH RECURSIVE edges AS (
      |  SELECT event_id AS id,
      |         CASE WHEN event_id = 0 THEN NULL ELSE (event_id - 1) // 3 END AS parent
      |  FROM events
      |), t AS (
      |  SELECT id, id AS root, 0 AS depth, CAST(id AS VARCHAR) AS path
      |  FROM edges WHERE id IN (1, 2, 3)
      |  UNION ALL
      |  SELECT e.id, t.root, t.depth + 1, t.path || '/' || CAST(e.id AS VARCHAR)
      |  FROM edges e JOIN t ON e.parent = t.id
      |)
      |SELECT id, root, CAST(depth AS BIGINT) AS depth, path
      |FROM t ORDER BY id""".stripMargin) { (s, dir) =>
    val edges = Tables.events(s, dir)
      .select(col("event_id").as("id"),
        when(col("event_id") === 0, lit(null).cast("long"))
          .otherwise(expr("(event_id - 1) div 3")).as("parent"))
    val roots = edges.filter(col("id").isin(1, 2, 3)).select("id")
    TreeExpand.expand(edges, roots, levelsPerRound = 6)
      .select(col("id"), col("root"), col("depth").cast("long").as("depth"),
        col("path"))
      .orderBy("id")
  }

  /** q55: unbounded-depth recursion — a single chain of up to 2000 events
    * (ids < 2000, parent = id - 1; at sf0.001 the table stops at id 999 so
    * the chain is 1000 there), expanded by [[TreeExpand.expand]]. The
    * chain's edges and paths fit its driver pass, so every level runs on
    * the driver with no distributed round (~8 MB of paths against the
    * pass's 64 MB budget at 2000 nodes). The digest (count, max, sum of
    * depths) pins every node's depth. The id cap keeps the oracle's
    * recursive CTE cost flat from sf0.01 upward. */
  val q55 = Q(
    "q55_deep_chain",
    """WITH RECURSIVE ch AS (SELECT event_id FROM events WHERE event_id < 2000),
      |t AS (
      |  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS depth
      |  UNION ALL
      |  SELECT c.event_id, t.depth + 1 FROM ch c JOIN t ON c.event_id = t.id + 1
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |       CAST(MAX(depth) AS BIGINT) AS max_depth,
      |       CAST(SUM(depth) AS BIGINT) AS sum_depth
      |FROM t""".stripMargin) { (s, dir) =>
    val edges = Tables.events(s, dir)
      .filter(col("event_id") < 2000)
      .select(col("event_id").as("id"),
        when(col("event_id") === 0, lit(null).cast("long"))
          .otherwise(col("event_id") - 1).as("parent"))
    TreeExpand.expand(edges, edges.filter(col("id") === 0).select("id"),
        maxDepth = 4000)
      .agg(count(lit(1)).as("n_nodes"),
        max(col("depth")).cast("long").as("max_depth"),
        sum(col("depth")).as("sum_depth"))
  }

  val all: Seq[Q] = Seq(q11, q55)
}
