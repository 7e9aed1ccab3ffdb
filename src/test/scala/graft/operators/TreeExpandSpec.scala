package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.countJobs

/** J3 recursive expansion vs a hand-built forest. The tests named for
  * pointer doubling and its driver tier predate [[TreeExpand.expand]]
  * being the one expansion; they check the same behaviour on its driver
  * pass and its distributed rounds. */
class TreeExpandSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  //        1            2
  //       / \            \
  //      3   4            7
  //     / \
  //    5   6
  private val edges = Seq(
    (1L, Option.empty[Long]), (2L, Option.empty[Long]),
    (3L, Option(1L)), (4L, Option(1L)),
    (5L, Option(3L)), (6L, Option(3L)), (7L, Option(2L))
  ).toDF("id", "parent")

  test("expansion yields correct roots, depths and paths") {
    val out = TreeExpand.expand(edges, Seq(1L, 2L).toDF("id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getString(3)))).toMap
    assert(out.size == 7)
    assert(out(1L) == ((1L, 0, "1")))
    assert(out(5L) == ((1L, 2, "1/3/5")))
    assert(out(6L) == ((1L, 2, "1/3/6")))
    assert(out(7L) == ((2L, 1, "2/7")))
  }

  test("subtree-only expansion excludes other trees") {
    val out = TreeExpand.expand(edges, Seq(3L).toDF("id")).collect()
    assert(out.map(_.getLong(0)).toSet == Set(3L, 5L, 6L))
    assert(out.forall(_.getLong(1) == 3L))
  }

  test("maxDepth with a live frontier throws instead of truncating silently") {
    val cyc = Seq((1L, Option(2L)), (2L, Option(1L))).toDF("id", "parent")
    val e = intercept[IllegalStateException] {
      TreeExpand.expand(cyc, Seq(1L).toDF("id"), maxDepth = 5)
    }
    assert(e.getMessage.contains("maxDepth=5"))
  }

  test("tree of height exactly maxDepth converges (leaves at the bound)") {
    // chain 1→…→6: deepest node at depth 5 is a LEAF — depth == maxDepth
    // must not spuriously fail (the frontier is non-empty but childless)
    val chain = (1L to 6L).map(i =>
      (i, if (i == 1L) Option.empty[Long] else Option(i - 1))).toDF("id", "parent")
    val out = TreeExpand.expand(chain, Seq(1L).toDF("id"), maxDepth = 5).collect()
    assert(out.length == 6)
    assert(out.map(_.getInt(2)).max == 5)
    // …but one level deeper than the bound still fails loud
    val deeper = (1L to 7L).map(i =>
      (i, if (i == 1L) Option.empty[Long] else Option(i - 1))).toDF("id", "parent")
    val e = intercept[IllegalStateException] {
      TreeExpand.expand(deeper, Seq(1L).toDF("id"), maxDepth = 5)
    }
    assert(e.getMessage.contains("maxDepth=5"))
  }

  test("deep chain within maxDepth converges cleanly") {
    val chain = (1L to 12L).map(i =>
      (i, if (i == 1L) Option.empty[Long] else Option(i - 1))).toDF("id", "parent")
    val out = TreeExpand.expand(chain, Seq(1L).toDF("id"), maxDepth = 20).collect()
    assert(out.length == 12)
    assert(out.map(_.getInt(2)).max == 11)
  }

  test("frontier residency auto-gates: wide frontiers leave the driver") {
    // 1 → 40 children → grandchildren: the 40-row frontier exceeds
    // driverFrontierRows=4, and with broadcastFrontierRows=8 it must take
    // the shuffle path — no driver materialization, identical output
    val wide = Seq((1L, Option.empty[Long])) ++
      (2L to 41L).map(i => (i, Option(1L))) ++
      (42L to 81L).map(i => (i, Option(i - 40L)))
    val wideDf = wide.toDF("id", "parent")
    val modes = scala.collection.mutable.Buffer.empty[String]
    val gated = TreeExpand.expand(wideDf, Seq(1L).toDF("id"),
      levelsPerRound = 1, driverFrontierRows = 4, broadcastFrontierRows = 8,
      modeLog = modes)
    val expected = asMap(TreeExpand.expand(wideDf, Seq(1L).toDF("id")))
    assert(asMap(gated) == expected)
    // root frontier (1 row) is driver-held; the 40-wide levels shuffle
    assert(modes.head == "driver")
    assert(modes.contains("shuffle"))
    // middle ground: a cap that admits broadcast but not driver residency
    // (and stays below the 80 edges, so the driver pass is not taken)
    val modes2 = scala.collection.mutable.Buffer.empty[String]
    val bcast = TreeExpand.expand(wideDf, Seq(1L).toDF("id"),
      levelsPerRound = 1, driverFrontierRows = 4, broadcastFrontierRows = 50,
      modeLog = modes2)
    assert(asMap(bcast) == expected)
    assert(modes2.contains("broadcast") && !modes2.contains("shuffle"))
  }

  test("byte budget demotes broadcast residency even when rows are few") {
    // 40-row frontiers are tiny by rows but their paths exceed a 64-byte
    // budget: the gate must fall to the shuffle path (rows are not a
    // memory unit), with identical output
    val wide = Seq((1L, Option.empty[Long])) ++
      (2L to 41L).map(i => (i, Option(1L))) ++
      (42L to 81L).map(i => (i, Option(i - 40L)))
    val wideDf = wide.toDF("id", "parent")
    val modes = scala.collection.mutable.Buffer.empty[String]
    val gated = TreeExpand.expand(wideDf, Seq(1L).toDF("id"),
      levelsPerRound = 1, driverFrontierRows = 4096,
      broadcastFrontierRows = 1000000L, broadcastMaxBytes = 64L,
      modeLog = modes)
    val expected = asMap(TreeExpand.expand(wideDf, Seq(1L).toDF("id")))
    assert(asMap(gated) == expected)
    assert(modes.contains("shuffle"), modes)
  }

  test("mid-flight demotion: path growth flips a small graph to shuffle") {
    // 190-char string ids: 20 edges pass the edge-table gate (20 * 48
    // bytes < 1500), so the driver pass runs first — but its output paths
    // (~380 chars at depth 1) blow the byte budget, so it declines to the
    // rounds, whose first 4-row frontier is over budget too and shuffles
    def n(i: Int) = f"n$i%0190d"
    val edges = (Seq((n(1), Option.empty[String])) ++
      (2 to 5).map(i => (n(i), Option(n(1)))) ++
      (6 to 21).map(i => (n(i), Option(n(2 + (i - 6) / 4))))).toDF("id", "parent")
    val roots = Seq(n(1)).toDF("id")
    val modes = scala.collection.mutable.Buffer.empty[String]
    val gated = TreeExpand.expand(edges, roots, levelsPerRound = 1,
      driverFrontierRows = 2, broadcastMaxBytes = 1500L, modeLog = modes)
    def asStrMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getInt(2), r.getString(3)))).toMap
    val expected = asStrMap(TreeExpand.expand(edges, roots))
    assert(asStrMap(gated) == expected)
    // a non-empty log proves the rounds ran
    assert(modes.head == "driver" && modes.contains("shuffle"), modes)
  }

  /** [[TreeExpand.expand]] answered by its driver pass: the mode log
    * stays empty. */
  private def onDriver(edges: DataFrame, roots: DataFrame, maxDepth: Int): DataFrame = {
    val modes = scala.collection.mutable.Buffer.empty[String]
    val out = TreeExpand.expand(edges, roots, maxDepth = maxDepth, modeLog = modes)
    assert(modes.isEmpty, s"the driver pass declined: $modes")
    out
  }

  /** [[TreeExpand.expand]] in its distributed rounds: a one-row budget
    * declines any larger edge table, and the mode log proves the rounds
    * ran. */
  private def inRounds(edges: DataFrame, roots: DataFrame, maxDepth: Int): DataFrame = {
    val modes = scala.collection.mutable.Buffer.empty[String]
    val out = TreeExpand.expand(edges, roots, maxDepth = maxDepth,
      driverFrontierRows = 1, broadcastFrontierRows = 1, modeLog = modes)
    assert(modes.nonEmpty, "the driver pass answered")
    out
  }

  private val bothPaths: Seq[(DataFrame, DataFrame, Int) => DataFrame] =
    Seq(onDriver, inRounds)

  /** The chain 1 → 2 → … → n, rooted at 1. */
  private def chainOf(n: Long): DataFrame =
    (1L to n).map(i =>
      (i, if (i == 1L) Option.empty[Long] else Option(i - 1))).toDF("id", "parent")

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getString(3)))).toMap

  /** Output rows as a multiset (duplicate edges make rows repeat). */
  private def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** A seeded random forest over ids 1..n: ~n/20 trees, no node deeper
    * than `height`, plus a bare chain of exactly `height` levels below
    * node n + 1 and a few duplicated edges. Parents precede children. */
  private def randomForest(seed: Long, n: Int, height: Int): Seq[(Long, Option[Long])] = {
    val rnd = new scala.util.Random(seed)
    val depth = new Array[Int](n + 1)
    val nodes = (1 to n).map { i =>
      val candidates = (math.max(1, i - 40) until i).filter(depth(_) < height)
      if (candidates.isEmpty || rnd.nextInt(20) == 0) (i.toLong, None)
      else {
        val p = candidates(rnd.nextInt(candidates.size))
        depth(i) = depth(p) + 1
        (i.toLong, Some(p.toLong))
      }
    }
    val chain = (0 to height).map(k =>
      ((n + 1 + k).toLong, if (k == 0) None else Some((n + k).toLong)))
    val dups = (1 to 4).map(_ => nodes(rnd.nextInt(n))).filter(_._2.isDefined)
    nodes ++ chain ++ dups
  }

  test("pointer doubling matches BFS on the forest, incl. subtree roots") {
    // the driver pass and the rounds agree on the forest and on a subtree
    for (roots <- Seq(Seq(1L, 2L), Seq(3L))) {
      val driver = asMap(onDriver(edges, roots.toDF("id"), 1000))
      assert(asMap(inRounds(edges, roots.toDF("id"), 1000)) == driver, roots)
    }
    assert(asMap(onDriver(edges, Seq(3L).toDF("id"), 1000)) ==
      Map(3L -> ((3L, 0, "3")), 5L -> ((3L, 1, "3/5")), 6L -> ((3L, 1, "3/6"))))
  }

  test("pointer doubling handles a deep chain in O(log depth) rounds") {
    val n = 100L
    val expected = asMap(inRounds(chainOf(n), Seq(1L).toDF("id"), 1000))
    assert(expected.size == n)
    assert(expected(n) == ((1L, (n - 1).toInt, (1L to n).mkString("/"))))
    assert(asMap(onDriver(chainOf(n), Seq(1L).toDF("id"), 1000)) == expected)
  }

  test("driver tier resolves tiny states with fewer jobs than the rounds") {
    val n = 200L
    var driverOut: Map[Long, (Long, Int, String)] = null
    var roundsOut: Map[Long, (Long, Int, String)] = null
    val driverJobs = countJobs {
      driverOut = asMap(onDriver(chainOf(n), Seq(1L).toDF("id"), 1000))
    }
    val roundJobs = countJobs {
      roundsOut = asMap(inRounds(chainOf(n), Seq(1L).toDF("id"), 1000))
    }
    assert(driverOut == roundsOut)
    assert(driverOut(n) == ((1L, (n - 1).toInt, (1L to n).mkString("/"))))
    // 50 rounds of 4 levels skipped: the gap must be material
    assert(driverJobs + 4 <= roundJobs, s"driver=$driverJobs rounds=$roundJobs")
  }

  test("seed checkpoint is eager (deadlock guard)") {
    // the rounds broadcast a frontier only once it is materialized: the
    // root frontier's checkpoint job runs before its first measurement
    // (a lazy checkpoint would be materialized by that head() instead)
    val n = 40L
    val jobs = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += j.stageInfos.map(_.name).mkString(";") }
    }
    org.apache.spark.GraftTestBus.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val out =
      try {
        val r = asMap(inRounds(chainOf(n), Seq(1L).toDF("id"), 1000))
        org.apache.spark.GraftTestBus.flush(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(l)
    assert(out.size == n && out(n) == ((1L, (n - 1).toInt,
      (1L to n).mkString("/"))), s"chain expansion: ${out.get(n)}")
    val seed = jobs.indexWhere(_.contains("localCheckpoint at TreeExpand"))
    val firstHead = jobs.indexWhere(_.contains("head at TreeExpand"))
    assert(seed >= 0 && seed < firstHead,
      s"the root frontier is not checkpointed before it is measured: ${jobs.take(5)}")
  }

  test("pointer doubling fails loud on cycles and over-deep trees") {
    val cyc = Seq((1L, Option(2L)), (2L, Option(1L)), (3L, Option(1L)))
      .toDF("id", "parent")
    for (run <- bothPaths) {
      val c = intercept[IllegalStateException] { run(cyc, Seq(1L).toDF("id"), 5) }
      assert(c.getMessage.contains("maxDepth=5"))
      val e = intercept[IllegalStateException] { run(chainOf(12L), Seq(1L).toDF("id"), 5) }
      assert(e.getMessage.contains("maxDepth=5"))
    }
  }

  test("out-of-scope deep chains: tiers agree (drop within fuse, throw past)") {
    // chains under the UNREQUESTED root 1, up to well past maxDepth=5:
    // expand never visits them, so only the requested isolated root 50
    // returns, on both paths
    def chainPlus(n: Long) =
      ((1L to n).map(i => (i, if (i == 1L) Option.empty[Long] else Option(i - 1)))
        :+ ((50L, Option.empty[Long]))).toDF("id", "parent")
    for (run <- bothPaths; n <- Seq(12L, 16L, 17L)) {
      val out = asMap(run(chainPlus(n), Seq(50L).toDF("id"), 5))
      assert(out == Map(50L -> ((50L, 0, "50"))), s"n=$n")
    }
  }

  test("dangling parent pointers resolve and drop in both tiers") {
    // nodes 10..14 chain up to parent 9, which has NO row (the edge slice
    // omits it): outside root 1's tree, so not returned; requested
    // directly, the chain expands below its root
    val dangling = (Seq((1L, Option.empty[Long])) ++
      (10L to 14L).map(i => (i, Option(i - 1)))).toDF("id", "parent")
    for (run <- bothPaths) {
      assert(asMap(run(dangling, Seq(1L).toDF("id"), 5)) == Map(1L -> ((1L, 0, "1"))))
      val sub = asMap(run(dangling, Seq(10L).toDF("id"), 5))
      assert(sub.keySet == (10L to 14L).toSet &&
        sub(14L) == ((10L, 4, "10/11/12/13/14")))
    }
  }

  test("batched DAG rounds need no amplification cap: edge-side builds " +
    "keep multi-parent expansions exact") {
    // duplicate (2,1) edges: each level multiplies (node, path) rows by
    // the parent multiplicity. Only the MEASURED frontier is ever a build
    // side; the unmeasured levels 2..levelsPerRound of a batch feed
    // shuffle-hash joins against the edges, so amplified level outputs
    // need no cap: a batched round must match the one-level-per-round
    // reference bit for bit with no cap entries in the mode log.
    val dag = Seq(
      (2L, Option(1L)), (2L, Option(1L)), // duplicate edge: multiplicity 2
      (3L, Option(2L)), (4L, Option(3L)), (5L, Option(4L)), (6L, Option(5L))
    ).toDF("id", "parent")
    val modes = scala.collection.mutable.Buffer.empty[String]
    // 5 rows < 6 edges: pinned to the rounds, not the driver pass
    val out = TreeExpand.expand(dag, Seq(1L).toDF("id"),
      levelsPerRound = 4, driverFrontierRows = 5, broadcastFrontierRows = 5,
      modeLog = modes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .sortBy(x => (x._1, x._4)).toSeq
    // reference: one measured level per round
    val ref = TreeExpand.expand(dag, Seq(1L).toDF("id"),
      levelsPerRound = 1, driverFrontierRows = 5, broadcastFrontierRows = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
      .sortBy(x => (x._1, x._4)).toSeq
    assert(out == ref)
    // node 2's duplicate parent rows double every path below it
    assert(out.count(x => x._1 == 6L) == 2)
    assert(modes.nonEmpty && !modes.exists(_.startsWith("cap")), modes)
  }

  test("concurrent small-graph expansions restore AQE exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    assert(prev == "true", "precondition: session starts with AQE on")
    val expected = asMap(TreeExpand.expand(edges, Seq(1L, 2L).toDF("id")))
    val runs = Future.sequence((1 to 4).map(_ => Future {
      asMap(TreeExpand.expand(edges, Seq(1L, 2L).toDF("id")))
    }))
    val results = Await.result(runs, 120.seconds)
    assert(results.forall(_ == expected))
    // expand leaves AQE alone, and the per-session lock serializes the
    // head-window suspend/restore, so no window's override leaks out
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.limit.initialNumPartitions", "1") == "1")
  }

  test("pointer doubling emits depth-0 rows for roots absent from edges") {
    val driver = asMap(onDriver(edges, Seq(1L, 42L).toDF("id"), 1000))
    assert(driver(42L) == ((42L, 0, "42")) && driver.size == 6)
    assert(asMap(inRounds(edges, Seq(1L, 42L).toDF("id"), 1000)) == driver)
  }

  test("driver pass matches the rounds on a seeded random forest") {
    val height = 6
    for (seed <- Seq(11L, 12L, 13L)) {
      val forest = randomForest(seed, 400, height)
      val rnd = new scala.util.Random(seed)
      // every tree root (the chain's too), random nodes inside those
      // trees (overlapping roots), absent ids and a null root
      val rootIds = forest.filter(_._2.isEmpty).map(r => Option(r._1)) ++
        (1 to 25).map(_ => Option(1L + rnd.nextInt(400))) ++
        Seq(Option(9999L), Option(10000L), None)
      val edgeCount = forest.count(_._2.isDefined).toLong
      val longIds = (forest.toDF("id", "parent"), rootIds.toDF("id"))
      val strIds = (forest.map { case (i, p) => (s"n$i", p.map(x => s"n$x")) }
        .toDF("id", "parent"), rootIds.map(_.map(x => s"n$x")).toDF("id"))
      for ((edges, roots) <- Seq(longIds, strIds)) {
        val modes = scala.collection.mutable.Buffer.empty[String]
        val driver = bag(TreeExpand.expand(edges, roots, maxDepth = height,
          modeLog = modes))
        assert(modes.isEmpty, s"seed=$seed: the driver pass declined: $modes")
        // the same rows from the rounds, forced once by the row gate and
        // once by the byte gate
        val byRows = bag(TreeExpand.expand(edges, roots, maxDepth = height,
          driverFrontierRows = 64, broadcastFrontierRows = edgeCount - 1))
        val byBytes = bag(TreeExpand.expand(edges, roots, maxDepth = height,
          broadcastMaxBytes = edgeCount * 48 - 1))
        assert(driver == byRows && driver == byBytes, s"seed=$seed")
        assert(driver.keys.groupBy(_(0)).exists(_._2.map(_(1)).toSet.size > 1),
          s"seed=$seed: no node under two roots")
        assert(driver.exists(_._2 > 1), s"seed=$seed: duplicate edges multiply rows")
        assert(driver.keys.exists(_(2) == height), s"seed=$seed: chain at maxDepth")
        assert(driver.contains(Seq(null, null, 0, null)), s"seed=$seed: null root")
      }
    }
  }

  test("driver pass and rounds fail with the same error on a cycle") {
    val cyc = Seq((1L, Option(2L)), (2L, Option(1L)), (3L, Option(1L)))
      .toDF("id", "parent")
    val modes = scala.collection.mutable.Buffer.empty[String]
    val driver = intercept[IllegalStateException] {
      TreeExpand.expand(cyc, Seq(3L, 1L).toDF("id"), maxDepth = 5, modeLog = modes)
    }
    val rounds = intercept[IllegalStateException] {
      TreeExpand.expand(cyc, Seq(3L, 1L).toDF("id"), maxDepth = 5,
        driverFrontierRows = 2, broadcastFrontierRows = 2)
    }
    assert(modes.isEmpty && driver.getMessage == rounds.getMessage)
    assert(driver.getMessage.contains("maxDepth=5"))
  }

  test("an over-budget driver pass falls back to the rounds with identical rows") {
    // a 30-node chain expanded from every node: 29 edges fit a 100-row
    // budget, but the output is 30 * 31 / 2 = 465 rows
    val chain = (1L to 30L).map(i =>
      (i, if (i == 1L) Option.empty[Long] else Option(i - 1))).toDF("id", "parent")
    val roots = (1L to 30L).toDF("id")
    val modes = scala.collection.mutable.Buffer.empty[String]
    val fallback = bag(TreeExpand.expand(chain, roots, driverFrontierRows = 50,
      broadcastFrontierRows = 100, modeLog = modes))
    assert(modes.nonEmpty, "the over-budget output must run the rounds")
    val driverModes = scala.collection.mutable.Buffer.empty[String]
    val driver = bag(TreeExpand.expand(chain, roots, modeLog = driverModes))
    assert(driverModes.isEmpty)
    assert(fallback == driver && driver.values.sum == 465)
  }

  test("a small-graph expansion of a 1000-node forest runs at most 2 jobs") {
    val forest = randomForest(7L, 1000, 8).toDF("id", "parent")
    val roots = Seq(1L, 2L, 3L, 500L).toDF("id")
    var rows = 0
    val jobs = countJobs { rows = TreeExpand.expand(forest, roots).collect().length }
    assert(rows >= 4)
    assert(jobs <= 2, s"jobs=$jobs")
  }
}
