package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.countJobs
import graft.ingest.FakeFetcher
import graft.schema.Item
import graft.streaming.LivestreamRunner

/** S6-S8 store semantics: init, reference column asymmetry, tombstone
  * keep-old, snapshot atomicity, recrawl filter, livestream runner E2E. */
class ItemStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(): ItemStore = {
    val dir = Files.createTempDirectory("graft-store").toString
    val st = new ItemStore(spark, dir)
    st.init()
    st
  }

  private def normalized(rows: (Long, String)*) =
    Item.normalize(rows.toSeq.toDF("id", "body"), lit(100L))

  test("init is idempotent and yields an empty typed table") {
    val st = freshStore()
    st.init()
    assert(st.current().count() == 0)
    // parquet round-trips drop non-null flags; compare names + types
    assert(st.current().schema.map(f => (f.name, f.dataType)) ==
      Item.schema.map(f => (f.name, f.dataType)))
    assert(st.latestId().isEmpty)
  }

  test("merge applies reference column asymmetry and refreshes retrieved") {
    val st = freshStore()
    st.merge(normalized(
      1L -> """{"id":1,"type":"story","by":"alice","time":50,"score":10,"title":"t1"}"""))
    // re-fetch: score now null in payload (keeps old), title present (overwrites? no: coalesce) —
    // descendants is an overwrite column and updates
    st.merge(Item.normalize(
      Seq(1L -> """{"id":1,"type":"story","time":50,"descendants":5}""").toDF("id", "body"),
      lit(200L)))
    val r = st.current().collect().head
    assert(r.getAs[String]("author") == "alice")   // coalesce kept
    assert(r.getAs[Long]("score") == 10L)          // coalesce kept
    assert(r.getAs[Long]("descendants") == 5L)     // overwrite applied
    assert(r.getAs[Long]("retrieved") == 200L)     // always refreshed
  }

  test("tombstone: deleted item never reaches merge, old row survives") {
    val st = freshStore()
    st.merge(normalized(1L -> """{"id":1,"type":"comment","by":"bob","time":60}"""))
    // re-crawl returns null body → normalize drops it → store unchanged
    st.merge(normalized(1L -> null))
    assert(st.current().count() == 1)
    assert(st.latestId().contains(1L))
  }

  test("recrawlIds applies the age window and maturity cutoff") {
    val st = freshStore()
    st.merge(normalized(
      // retrieved=100 for all; ages: 40 (young), 5_000_000 (old)
      1L -> """{"id":1,"type":"story","time":60}""",
      2L -> """{"id":2,"type":"story","time":-4999900}"""))
    val now = 100L + 15L * 86400L
    val young = st.recrawlIds(days = 1, onlyMature = false, now = now)
      .as[Long].collect().toSet
    assert(young == Set(1L)) // age 40s ≤ 1 day; id 2 far older
    val mature = st.recrawlIds(days = 1, onlyMature = true, now = 100L)
      .as[Long].collect().toSet
    assert(mature.isEmpty) // nothing is 14 days old yet relative to now=100
  }

  test("merge garbage-collects the superseded snapshot") {
    val dir = Files.createTempDirectory("graft-store-gc")
    val st = new ItemStore(spark, dir.toString)
    st.init()
    (1 to 4).foreach { i =>
      st.merge(normalized(
        i.toLong -> s"""{"id":$i,"type":"comment","time":${i * 10}}"""))
    }
    val snaps = Files.list(dir).iterator()
    val snapDirs = scala.jdk.CollectionConverters.IteratorHasAsScala(snaps)
      .asScala.map(_.getFileName.toString).filter(_.startsWith("snap-")).toSeq
    assert(snapDirs.size == 1, s"stale snapshots retained: $snapDirs")
    assert(st.current().count() == 4)
  }

  test("init sweeps orphan directories left by a crashed write") {
    val dir = Files.createTempDirectory("graft-store-orphan")
    val st = new ItemStore(spark, dir.toString)
    st.init()
    st.merge(normalized(1L -> """{"id":1,"type":"story","time":10}"""))
    // simulate a crash between snapshot write and manifest commit
    val orphanSnap = dir.resolve("snap-99999")
    val orphanDelta = dir.resolve("delta-99999")
    Files.createDirectories(orphanSnap)
    Files.write(orphanSnap.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    Files.createDirectories(orphanDelta)
    val orphanTail = dir.resolve("seg-99999")
    Files.createDirectories(orphanTail)
    Files.write(orphanTail.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    new ItemStore(spark, dir.toString).init()
    assert(!Files.exists(orphanSnap) && !Files.exists(orphanDelta))
    assert(!Files.exists(orphanTail), "orphan tail survived init")
    assert(st.current().count() == 1) // live snapshot untouched
  }

  test("livestream runner drains batches into the store idempotently") {
    val st = freshStore()
    val items = (1L to 7L).map(i =>
      i -> s"""{"id":$i,"type":"comment","by":"u$i","time":${i * 10}}""").toMap
    val f = new FakeFetcher(items, maxId = 7)
    val n = LivestreamRunner.run(spark, st, f, maxItems = 7, commitPeriod = 3,
      sleep = _ => (), now = () => 500L)
    assert(n == 7)
    assert(st.current().count() == 7)
    assert(st.latestId().contains(7L))
    // resume: no new items → runner picks up from latest+1; publish 8
    val f2 = new FakeFetcher(items + (8L ->
      """{"id":8,"type":"comment","by":"u8","time":80}"""), maxId = 8)
    LivestreamRunner.run(spark, st, f2, maxItems = 1, commitPeriod = 3,
      sleep = _ => (), now = () => 600L)
    assert(st.current().count() == 8)
  }

  // ---- the id-clustered default layout ----

  private def manifestOf(dir: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(dir, "current"))).split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  private def storeDirs(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filter(d => Seq("snap-", "delta-", "seg-").exists(d.startsWith)).toSet
    finally s.close()
  }

  /** (entry, file, ids in file order) for every live file, files in
    * manifest order and by name within an entry. One Spark job: a split
    * reads its files whole and in order, so grouping the collected rows
    * by file keeps each file's row order. */
  private def liveFiles(dir: String): Seq[(String, String, Seq[Long])] = {
    val files = manifestOf(dir).flatMap(e =>
      ParquetSurgery.dataFiles(Paths.get(dir, e).toString).map(_.toString).sorted
        .map(e -> _))
    val ids = spark.read.schema(Item.schema).parquet(files.map(_._2): _*)
      .select(col("_metadata.file_path"), col("id")).collect()
      .groupBy(r => Paths.get(java.net.URI.create(r.getString(0))).toString)
      .map { case (f, rs) => f -> rs.toSeq.map(_.getLong(1)) }
    files.map { case (e, f) => (e, f, ids.getOrElse(f, Nil)) }
  }

  /** The layout invariants: base then segments only; every segment file
    * sorted by id; the entries' id ranges disjoint and ascending in
    * manifest order; every segment but the last (the one open tail)
    * sealed, i.e. holding at least as many rows as the largest base file;
    * no directory outside the manifest. With `clusteredBase` (a base
    * written by the first append into an empty store) the base's files
    * are also sorted by id with disjoint ranges; a base an update wrote is
    * hash-partitioned. */
  private def assertLayout(dir: String, clusteredBase: Boolean): Unit = {
    val entries = manifestOf(dir)
    assert(entries.tail.forall(_.startsWith("seg-")), s"not clustered: $entries")
    assert(storeDirs(dir) == entries.toSet,
      s"superseded directories left: ${storeDirs(dir) -- entries}")
    val files = liveFiles(dir)
    def sortedFiles(fs: Seq[(String, String, Seq[Long])]): Unit = {
      fs.foreach { case (_, f, ids) =>
        assert(ids == ids.sorted && ids.distinct.size == ids.size, s"$f is not sorted by id: $ids")
      }
      val ranges = fs.map(_._3).filter(_.nonEmpty).map(ids => (ids.head, ids.last)).sorted
      ranges.zip(ranges.drop(1)).foreach { case (a, b) =>
        assert(a._2 < b._1, s"overlapping file id ranges $a, $b in $entries")
      }
    }
    entries.tail.foreach(seg => sortedFiles(files.filter(_._1 == seg)))
    if (clusteredBase) sortedFiles(files.filter(_._1 == entries.head))
    val ranges = entries.map(e => files.filter(_._1 == e).flatMap(_._3)).filter(_.nonEmpty)
      .map(ids => (ids.min, ids.max))
    ranges.zip(ranges.drop(1)).foreach { case (a, b) =>
      assert(a._2 < b._1, s"overlapping entry id ranges $a, $b in $entries")
    }
    val sealAt = files.filter(_._1 == entries.head).map(_._3.size).maxOption.getOrElse(0)
    entries.drop(1).dropRight(1).foreach { seg =>
      val rows = files.filter(_._1 == seg).map(_._3.size).sum
      assert(rows >= sealAt, s"segment $seg ($rows rows) is open before the tail (seal at $sealAt)")
    }
  }

  private def rowsById(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] =
    df.collect().map(r => r.getAs[Long]("id") -> r.toSeq).toMap

  private val itemCols = Item.schema.fieldNames.toIndexedSeq.map(col)

  /** The reference semantics the store must reproduce: one upsert of
    * each batch into the previous state. */
  private def upsertRef(ref: org.apache.spark.sql.DataFrame, batch: org.apache.spark.sql.DataFrame,
                        st: ItemStore) =
    graft.operators.Merge.upsert(ref, batch, "id", st.coalesceCols, st.overwriteCols,
      precedenceCols = Seq("retrieved")).select(itemCols: _*).localCheckpoint()

  private def emptyItems =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Item.schema)

  /** A random item body: optional author/score/text/descendants, so the
    * coalesce and overwrite columns both see NULLs. */
  private def randomBody(rnd: scala.util.Random, i: Long): String = {
    def opt(field: String, v: => String) = if (rnd.nextInt(3) == 0) "" else s""","$field":$v"""
    s"""{"id":$i,"type":"comment","time":${i * 10 + rnd.nextInt(5)}""" +
      opt("by", s""""u${rnd.nextInt(50)}"""") + opt("score", rnd.nextInt(100).toString) +
      opt("text", s""""t${rnd.nextInt(1000)}"""") +
      opt("descendants", rnd.nextInt(9).toString) + s""","parent":${math.max(1L, i / 4)}}"""
  }

  test("clustered merges equal sequential upserts over seeded random batch sequences") {
    for (seed <- Seq(41, 42)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory("graft-store-parity").toString
      val st = new ItemStore(spark, dir)
      st.init()
      var ref = emptyItems
      var known = Vector.empty[Long]
      var maxId = 0L
      var prev = Seq.empty[(Long, String)]
      var clusteredBase = false
      val kinds = Seq("append", "append", "append", "dups", "update", "gap", "empty", "replay")
      (1 to 12).foreach { step =>
        val kind = if (step == 1) "append" else kinds(rnd.nextInt(kinds.size))
        // appends skip every fourth id, so a gap fill has ids below the max to use
        def fresh(n: Int) = (maxId + 1 to maxId + n).filter(_ % 4 != 0)
        val rows: Seq[(Long, String)] = kind match {
          case "append" => fresh(1 + rnd.nextInt(12)).map(i => i -> randomBody(rnd, i))
          case "dups" => fresh(1 + rnd.nextInt(6)).flatMap(i =>
            Seq(i -> randomBody(rnd, i), i -> randomBody(rnd, i)))
          case "update" => Seq.fill(1 + rnd.nextInt(4))(known(rnd.nextInt(known.size)))
            .map(i => i -> randomBody(rnd, i)) :+ (maxId + 1 -> randomBody(rnd, maxId + 1))
          case "gap" => (1L to maxId).filter(i => i % 4 == 0 && !known.contains(i))
            .take(3).map(i => i -> randomBody(rnd, i))
          case "empty" => Seq(maxId + 1 -> null) // a tombstone: normalizes to no rows
          case "replay" => prev
        }
        val batch = Item.normalize(rows.toDF("id", "body"), lit(100L + step))
        val baseBefore = manifestOf(dir).head
        st.merge(batch)
        // the first rows an empty store takes become a clustered base; an
        // update writes a new, hash-partitioned one
        if (manifestOf(dir).head != baseBefore) clusteredBase = known.isEmpty
        ref = upsertRef(ref, batch, st)
        prev = rows
        known = (known ++ rows.filter(_._2 != null).map(_._1)).distinct
        maxId = (maxId +: known).max
        val clue = s"seed $seed step $step ($kind)"
        assert(rowsById(st.current()) == rowsById(ref), clue)
        assert(st.count() == known.size, clue)
        assert(st.latestId() == known.maxOption, clue)
        withClue(clue)(assertLayout(dir, clusteredBase))
      }
    }
  }

  test("an append rewrites only the open tail, which seals at the largest base file") {
    val dir = Files.createTempDirectory("graft-store-tail").toString
    val st = new ItemStore(spark, dir)
    st.init()
    def items(ids: Seq[Long]) = normalized(ids.map(i =>
      i -> s"""{"id":$i,"type":"comment","time":${i * 10}}"""): _*)
    st.merge(items(1L to 4L).coalesce(1))
    val base = manifestOf(dir)
    assert(base.size == 1)
    // one sorted partition is written as it is, one file: the seal is at 4 rows
    assert(liveFiles(dir).map(_._3.size) == Seq(4))
    st.merge(items(Seq(5L, 6L)))
    val Seq(_, tailA) = manifestOf(dir)
    st.merge(items(Seq(7L, 8L))) // 2 < 4 rows: tail A is rewritten as A ∪ batch
    val Seq(_, tailB) = manifestOf(dir)
    assert(tailB != tailA && !Files.exists(Paths.get(dir, tailA)), "superseded tail not GC'd")
    assert(liveFiles(dir).filter(_._1 == tailB).map(_._3) == Seq(Seq(5L, 6L, 7L, 8L)))
    val sealedSizes = dirSizes(Paths.get(dir, tailB))
    st.merge(items(Seq(9L))) // tail B holds 4 rows: it seals and a new tail opens
    val Seq(b, s, tailC) = manifestOf(dir)
    assert(b == base.head && s == tailB && tailC != tailB)
    assert(dirSizes(Paths.get(dir, tailB)) == sealedSizes, "a sealed segment was rewritten")
    st.merge(items(Seq(10L)))
    assert(manifestOf(dir).take(2) == Seq(b, s))
    assertLayout(dir, clusteredBase = true)
    assert(st.current().count() == 10)
    assert(st.latestId().contains(10L))
  }

  private def dirSizes(p: java.nio.file.Path): Map[String, Long] = {
    val s = Files.list(p)
    try s.iterator().asScala.map(f => f.getFileName.toString -> Files.size(f)).toMap
    finally s.close()
  }

  test("a 200-row append leaves the base directory's files untouched") {
    val dir = Files.createTempDirectory("graft-store-append").toString
    val st = new ItemStore(spark, dir)
    st.init()
    val rnd = new scala.util.Random(5)
    st.merge(normalized((1L to 4000L).map(i => i -> randomBody(rnd, i)): _*))
    val base = manifestOf(dir).head
    val before = dirSizes(Paths.get(dir, base))
    st.merge(normalized((4001L to 4200L).map(i => i -> randomBody(rnd, i)): _*))
    val Seq(b, tail) = manifestOf(dir)
    assert(b == base && dirSizes(Paths.get(dir, base)) == before)
    val written = dirSizes(Paths.get(dir, tail)).values.sum
    assert(written * 5 < before.values.sum, s"tail $written B vs base ${before.values.sum} B")
    assert(st.count() == 4200L && st.latestId().contains(4200L))
  }

  /** Shuffle bytes written by the stages `f` runs. */
  private def shuffleBytes(f: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    org.apache.spark.GraftTestBus.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.GraftTestBus.flush(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    bytes.get
  }

  test("an empty store writes a clustered batch as its base with no shuffle, " +
    "and range-clusters and deduplicates any other") {
    val rnd = new scala.util.Random(17)
    val bodies = (1L to 400L).map(i => i -> randomBody(rnd, i)).toMap
    val ref = upsertRef(emptyItems, normalized(bodies.toSeq: _*), freshStore())
    // a bulk fetch: contiguous ascending id slices, one per task
    val dirA = Files.createTempDirectory("graft-store-bulk").toString
    val a = new ItemStore(spark, dirA)
    a.init()
    val fetched = graft.ingest.BulkFetch.fetchItems(spark, new FakeFetcher(bodies, 400L),
      1L, 400L, parallelism = 4, retrievedAt = 100L)
    assert(shuffleBytes(a.merge(fetched)) == 0L)
    assert(liveFiles(dirA).map(_._3.size).sum == 400 && liveFiles(dirA).size == 4)
    assertLayout(dirA, clusteredBase = true)
    assert(rowsById(a.current()) == rowsById(ref))
    // the same items scattered round-robin over 3 partitions, each id twice
    val dirB = Files.createTempDirectory("graft-store-scattered").toString
    val b = new ItemStore(spark, dirB)
    b.init()
    val twice = (bodies.toSeq ++ bodies.toSeq).toDF("id", "body").repartition(3)
    assert(shuffleBytes(b.merge(Item.normalize(twice, lit(100L)))) > 0L)
    assertLayout(dirB, clusteredBase = true)
    assert(rowsById(b.current()) == rowsById(ref))
    assert(b.count() == 400L && b.latestId().contains(400L))
    // each id twice in a row in one sorted partition: a repeat does not
    // ascend, so the base and the tail path both deduplicate
    def sortedTwice(ids: Seq[Long]) = Item.normalize(ids.flatMap(i => Seq.fill(2)(i -> bodies(i)))
      .toDF("id", "body").coalesce(1), lit(100L))
    val dirC = Files.createTempDirectory("graft-store-repeats").toString
    val c = new ItemStore(spark, dirC)
    c.init()
    c.merge(sortedTwice(1L to 200L))
    assert(c.count() == 200L)
    c.merge(sortedTwice(201L to 400L))
    assert(c.count() == 400L && manifestOf(dirC).size == 2)
    assertLayout(dirC, clusteredBase = true)
    assert(rowsById(c.current()) == rowsById(ref))
  }

  test("latestId and count read the footers: no job on a clustered store, " +
    "right on an unsorted snapshot, the aggregate when statistics are missing") {
    val st = freshStore()
    assert(countJobs(assert(st.latestId().isEmpty && st.count() == 0L)) == 0)
    st.merge(normalized((1L to 30L).map(i => i -> s"""{"id":$i,"type":"story","time":$i}"""): _*))
    st.merge(normalized(31L -> """{"id":31,"type":"story","time":31}"""))
    assert(countJobs(assert(st.latestId().contains(31L) && st.count() == 31L)) == 0)
    // a snapshot written the old way: one directory, ids hash-scattered
    // over several files, no `seg-` entries
    def oldStore(write: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =>
        org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) = {
      val dir = Files.createTempDirectory("graft-store-old")
      write(normalized((1L to 50L).map(i => i -> s"""{"id":$i,"type":"story","time":$i}"""): _*)
        .repartition(3, col("time") % 7).write).parquet(dir.resolve("snap-1").toString)
      Files.write(dir.resolve("current"), "snap-1".getBytes)
      new ItemStore(spark, dir.toString)
    }
    val old = oldStore(identity)
    assert(countJobs(assert(old.latestId().contains(50L))) == 0)
    val noStats = oldStore(_.option("parquet.column.statistics.enabled", "false"))
    assert(countJobs(assert(noStats.latestId().contains(50L))) > 0,
      "a footer without id statistics must fall back to the aggregate")
    // both read as before and take appends clustered
    old.merge(normalized(51L -> """{"id":51,"type":"story","time":51}"""))
    assert(old.count() == 51L && old.current().count() == 51L)
  }

  /** The parquet scans of `df`'s executed plan, after running it. */
  private def scans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }

  /** The id-range scans of `df`'s executed plan. */
  private def idScans(df: org.apache.spark.sql.DataFrame): Seq[IdRangeScanExec] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case s: IdRangeScanExec => s }

  private def localPath(f: org.apache.spark.sql.execution.datasources.PartitionedFile) =
    Paths.get(f.toPath.toUri).toString

  test("a point lookup runs no job: the id-range scan reads the one file " +
    "covering the id on the driver; an IN list scans only the covering files") {
    val rnd = new scala.util.Random(23)
    val dir = Files.createTempDirectory("graft-store-lookup").toString
    val st = new ItemStore(spark, dir)
    st.init()
    val bodies = (1L to 800L).map(i => i -> randomBody(rnd, i)).toMap
    st.merge(graft.ingest.BulkFetch.fetchItems(spark, new FakeFetcher(bodies, 800L),
      1L, 800L, parallelism = 4, retrievedAt = 100L))
    st.merge(normalized((801L to 850L).map(i => i -> randomBody(rnd, i)): _*))
    val files = liveFiles(dir)
    assert(files.size == 5, s"files: ${files.map(_._2)}")
    def fileOf(id: Long) = files.find(_._3.contains(id)).get._2
    def read(df: org.apache.spark.sql.DataFrame, ids: Long*): Int = {
      var rows = Array.empty[org.apache.spark.sql.Row]
      val jobs = countJobs { rows = df.collect() }
      assert(rows.map(_.getAs[Long]("id")).toSeq.sorted == ids, df.queryExecution.executedPlan)
      jobs
    }
    for (id <- Seq(1L, 333L, 800L, 825L)) {
      val lookup = st.current().filter(col("id") === id)
      assert(read(lookup, id) == 0, s"id $id")
      assert(scans(lookup).isEmpty, s"id $id")
      val Seq(node) = idScans(lookup)
      // the one listed file is the one the id lives in
      assert(node.files.map(localPath) == Seq(fileOf(id)), s"id $id")
    }
    // an IN list or InSet (past 10 values) inside one file: the same driver read
    val in1 = st.current().filter(col("id").isin(2L, 5L))
    val inSet1 = st.current().filter(col("id").isin(2L to 40L: _*))
    assert(read(in1, 2L, 5L) == 0 && read(inSet1, 2L to 40L: _*) == 0)
    Seq(in1, inSet1).foreach(df => assert(idScans(df).map(_.files.map(localPath)) ==
      Seq(Seq(fileOf(2L)))))
    // two small files are two file partitions: Spark's parquet scan, still
    // over only the covering files
    val in = st.current().filter(col("id").isin(2L, 5L, 830L))
    val inSet = st.current().filter(col("id").isin((2L to 40L) :+ 826L: _*))
    assert(read(in, 2L, 5L, 830L) > 0 && read(inSet, (2L to 40L) :+ 826L: _*) > 0)
    Seq(in, inSet).foreach { df =>
      assert(idScans(df).isEmpty && scans(df).head.metrics("numFiles").value == 2)
    }
    // a predicate on another column keeps every file
    val other = st.current().filter(col("id") === 3L || col("time") < 0L)
    other.collect()
    assert(idScans(other).isEmpty && scans(other).head.metrics("numFiles").value == 5)
  }

  /** The three stores the file-index reads are checked on, with their
    * directories: clustered (a bulk base and two tails), updated (an
    * upsert writes the base hash-partitioned) and a base file written
    * without column statistics under a clustered tail. */
  private def indexedStores(rnd: scala.util.Random): Seq[(ItemStore, String)] = {
    def bodies(ids: Seq[Long]) = ids.map(i => i -> randomBody(rnd, i))
    val clustered = Files.createTempDirectory("graft-store-idx-c").toString
    val c = new ItemStore(spark, clustered)
    c.init()
    c.merge(graft.ingest.BulkFetch.fetchItems(spark, new FakeFetcher(bodies(1L to 600L).toMap, 600L),
      1L, 600L, parallelism = 3, retrievedAt = 100L))
    c.merge(normalized(bodies(601L to 900L): _*))
    c.merge(normalized(bodies(901L to 950L): _*))
    // updated: an upsert writes the base hash-partitioned
    val updated = Files.createTempDirectory("graft-store-idx-u").toString
    val u = new ItemStore(spark, updated)
    u.init()
    u.merge(normalized(bodies(1L to 500L): _*))
    u.merge(normalized(bodies((1L to 500L by 7) ++ (501L to 520L)): _*))
    u.merge(normalized(bodies(521L to 540L): _*))
    // a base file written without column statistics, then a clustered tail
    val noStats = Files.createTempDirectory("graft-store-idx-n")
    normalized(bodies(1L to 400L): _*).repartition(2).write
      .option("parquet.column.statistics.enabled", "false")
      .parquet(noStats.resolve("snap-1").toString)
    Files.write(noStats.resolve("current"), "snap-1".getBytes)
    val n = new ItemStore(spark, noStats.toString)
    n.merge(normalized(bodies(401L to 450L): _*))
    Seq(c -> clustered, u -> updated, n -> noStats.toString)
  }

  test("lookups through the file index equal a plain read of the live " +
    "directories on a clustered, an updated and a statistics-less store") {
    val rnd = new scala.util.Random(29)
    for ((st, dir) <- indexedStores(rnd)) {
      assert(ItemStore.childrenOf(st.current()).nonEmpty, s"$dir is not read through the index")
      val plain = spark.read.schema(Item.schema)
        .parquet(manifestOf(dir).map(e => Paths.get(dir, e).toString): _*)
      val top = st.latestId().get
      val probes = Seq.fill(9)(1L + rnd.nextInt(top.toInt + 10))
      // every file's smallest and largest id, where an off-by-one in the
      // range test would drop the file
      val bounds = liveFiles(dir).map(_._3).filter(_.nonEmpty).flatMap(ids => Seq(ids.min, ids.max))
      val preds = (bounds ++ probes.take(3)).distinct.map(id => col("id") === id) ++ Seq(
        col("id").isin(probes.take(3): _*), col("id").isin(probes: _*),
        col("id") < probes(0), col("id") <= probes(1), col("id") > probes(2),
        col("id") >= probes(3), lit(probes(4)) > col("id"),
        col("id") > math.min(probes(5), probes(6)) && col("id") <= math.max(probes(5), probes(6)),
        col("id") === probes(7) || col("id") === probes(8), col("score") < 20L,
        col("id") === top + 5)
      preds.foreach { p =>
        assert(rowsById(st.current().filter(p)) == rowsById(plain.filter(p)), s"$dir: $p")
      }
    }
  }

  test("id-range scans equal a plain read for collect, head, rdd, count and " +
    "a join over seeded predicates and projections; other reads fall back") {
    val rnd = new scala.util.Random(31)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val stores = indexedStores(rnd)
    for ((st, dir) <- stores) {
      val plain = spark.read.schema(Item.schema)
        .parquet(manifestOf(dir).map(e => Paths.get(dir, e).toString): _*)
      val top = st.latestId().get.toInt
      var driverReads = 0
      (1 to 12).foreach { _ =>
        val id = 1L + rnd.nextInt(top + 5)
        val span = rnd.nextInt(40).toLong
        val pred = Seq(col("id") === id, col("id").isin(id, id + 1, id + 3),
          col("id").between(id, id + span), col("id") >= id && col("score") < rnd.nextInt(100),
          col("id") <= id && col("author").isNotNull)(rnd.nextInt(5))
        val project = Seq(Seq(col("*")), Seq(col("parent"), col("id")),
          Seq((col("score") + col("id")).as("s"), upper(col("author")).as("a"),
            coalesce(col("title"), col("text"), lit("-")).as("t"), col("id")))(rnd.nextInt(3))
        val (got, want) = (st.current().filter(pred).select(project: _*),
          plain.filter(pred).select(project: _*))
        val clue = s"$dir: $pred ${project.mkString(", ")}"
        assert(rows(got) == rows(want), clue)
        val n = 1 + rnd.nextInt(3)
        val head = got.head(n).map(_.toString)
        assert(head.length == math.min(n, rows(want).size) && head.toSet.subsetOf(rows(want).toSet), clue)
        assert(got.rdd.map(_.toString).collect().sorted.toSeq == rows(want), clue)
        assert(got.count() == want.count(), clue)
        val keys = spark.range(id - 2, id + 50).toDF("id")
        assert(rows(got.join(keys, "id")) == rows(want.join(keys, "id")), clue)
        if (idScans(got).nonEmpty) driverReads += 1
      }
      // no file without statistics can be skipped: every read there lists
      // the two base files, two file partitions
      if (dir.contains("idx-n")) assert(driverReads == 0, dir)
      else assert(driverReads > 0, s"$dir: no read took the id-range scan")
      // the whole store is several file partitions: Spark's parquet scan
      val all = st.current()
      assert(rows(all) == rows(plain) && idScans(all).isEmpty && scans(all).nonEmpty, dir)
    }
    val (st, dir) = stores.head // clustered
    // a subquery in the filter falls back to Spark's scan, also over one file
    st.current().createOrReplaceTempView("idx_items")
    val sub = spark.sql(
      "SELECT id, title FROM idx_items WHERE id <= 4 AND id = (SELECT min(id) + 3 FROM idx_items)")
    assert(sub.collect().map(_.getLong(0)).toSeq == Seq(4L) && idScans(sub).isEmpty && scans(sub).nonEmpty)
    // a `_metadata` column falls back and names the covering file
    val meta = st.current().filter(col("id") === 4L).select(col("id"), col("_metadata.file_path"))
    val Seq(m) = meta.collect().toSeq
    assert(idScans(meta).isEmpty)
    assert(Paths.get(java.net.URI.create(m.getString(1))).toString ==
      liveFiles(dir).find(_._3.contains(4L)).get._2)
    // many stores on one session, some built at once: the strategy once
    val session = spark.newSession()
    assert(!session.experimental.extraStrategies.contains(IdRangeScan))
    val built = (1 to 8).map(_ => scala.concurrent.Future(
      new ItemStore(session, Files.createTempDirectory("graft-store-many").toString))(
      scala.concurrent.ExecutionContext.global))
    built.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    (1 to 3).foreach(_ => new ItemStore(session, dir))
    assert(session.experimental.extraStrategies.count(_ == IdRangeScan) == 1)
    assert(spark.experimental.extraStrategies.count(_ == IdRangeScan) == 1)
  }

  // ---- one layout: what the removed bucketed and delta-log modes did ----

  private def catalogTables(): Set[String] =
    spark.catalog.listTables().collect().map(_.name).toSet

  private def story(i: Long) = i -> s"""{"id":$i,"type":"story","time":$i}"""

  test("bucketed table reuse verifies location — stale/colliding entries fail loud") {
    // the store keeps no catalog state: reads resolve through the manifest
    // alone, so a catalog table named the way the bucketed layout named its
    // snapshots, pointing at another store, changes nothing; init, appends,
    // an update, reads, a reopen and an orphan sweep register no table
    val dir = Files.createTempDirectory("graft-store-catalog")
    val other = Files.createTempDirectory("graft-store-catalog-other")
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.toAbsolutePath.normalize.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val stale = s"graft_snap_${hex}_snap_0"
    spark.sql(s"CREATE TABLE $stale (id BIGINT) USING PARQUET LOCATION '$other'")
    try {
      val before = catalogTables()
      val st = new ItemStore(spark, dir.toString)
      st.init()
      st.merge(normalized((1L to 20L).map(story): _*))
      st.merge(normalized(story(21L)))
      st.merge(normalized(3L -> """{"id":3,"type":"story","time":3,"by":"x"}"""))
      Files.createDirectories(dir.resolve("snap-99999"))
      val reopened = new ItemStore(spark, dir.toString)
      reopened.init()
      assert(!Files.exists(dir.resolve("snap-99999")))
      assert(reopened.current().count() == 21 && reopened.latestId().contains(21L) && reopened.count() == 21)
      assert(reopened.current().filter(col("id") === 3L).select("author").head().getString(0) == "x")
      assert(catalogTables() == before)
    } finally spark.sql(s"DROP TABLE IF EXISTS $stale")
  }

  test("bucket spec mismatch fails loud instead of corrupting joins") {
    // stores the removed layouts wrote, made by hand: a bucketed manifest,
    // and a delta directory after the base. Every entry point refuses
    // them, naming the store and the offending line or directory, before
    // it writes anything
    def handMade(manifest: String, dirs: (String, Seq[Long])*): java.nio.file.Path = {
      val dir = Files.createTempDirectory("graft-store-removed")
      dirs.foreach { case (d, ids) =>
        normalized(ids.map(story): _*).write.parquet(dir.resolve(d).toString)
      }
      Files.write(dir.resolve("current"), manifest.getBytes)
      dir
    }
    val bucketed = handMade("#bucketed-by id 4\nsnap-1", "snap-1" -> (1L to 10L))
    val deltas = handMade("snap-1\nseg-2\ndelta-3",
      "snap-1" -> (1L to 10L), "seg-2" -> Seq(11L, 12L), "delta-3" -> Seq(2L, 13L))
    for ((dir, offending) <- Seq(bucketed -> "#bucketed-by id 4", deltas -> "delta-3")) {
      val manifest = Files.readString(dir.resolve("current"))
      val dirs = storeDirs(dir.toString)
      val st = new ItemStore(spark, dir.toString)
      val ops = Seq[(String, () => Any)]("init" -> (() => st.init()),
        "current" -> (() => st.current()), "latestId" -> (() => st.latestId()),
        "count" -> (() => st.count()), "merge" -> (() => st.merge(normalized(story(20L)))),
        "recrawlIds" -> (() => st.recrawlIds(1, onlyMature = false, now = 0L)),
        "livestream" -> (() => LivestreamRunner.run(spark, st,
          new FakeFetcher(Map(20L -> story(20L)._2), maxId = 20), maxItems = 1)))
      ops.foreach { case (op, f) =>
        val e = intercept[IllegalStateException](f())
        assert(e.getMessage.contains(dir.toString) && e.getMessage.contains(offending) &&
          e.getMessage.contains("no longer supported"), s"$op: ${e.getMessage}")
      }
      assert(Files.readString(dir.resolve("current")) == manifest && storeDirs(dir.toString) == dirs,
        s"a refused store was changed: $dir")
    }
  }

  /** The number of shuffle exchanges in `df`'s formatted plan. */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    graft.PlanChecks.shuffleExchanges(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

  test("bucketed delta store: merge-on-read keeps the base scan Exchange-free") {
    // reads never fold: on a base with segments, and on the base an update
    // wrote, current() is one scan of the store with no exchange, join or
    // aggregate
    val st = freshStore()
    st.merge(normalized((1L to 40L).map(story): _*))
    st.merge(normalized(story(41L)))
    st.merge(normalized(story(42L)))
    def oneScan(clue: String): Unit = {
      val plan = st.current().queryExecution.executedPlan.toString
      assert(exchanges(st.current()) == 0 && !plan.contains("Join") && !plan.contains("Aggregate"),
        s"$clue:\n$plan")
    }
    oneScan("base and segments")
    st.merge(normalized(story(2L), story(43L)))
    oneScan("updated base")
    assert(st.current().count() == 43 && st.latestId().contains(43L))
  }

  test("bucketed store: second merge plans with no Exchange on the store side") {
    // an append reads only the open tail and the batch: a clustered batch
    // shuffles nothing, and the base stays byte-identical. An update, by
    // contrast, shuffles for its join, so the counter is not vacuous
    val dir = Files.createTempDirectory("graft-store-append-plan").toString
    val st = new ItemStore(spark, dir)
    st.init()
    st.merge(normalized((1L to 30L).map(story): _*))
    val base = manifestOf(dir).head
    val before = dirSizes(Paths.get(dir, base))
    assert(shuffleBytes(st.merge(normalized(story(31L), story(32L)))) == 0L)
    assert(shuffleBytes(st.merge(normalized(story(33L)))) == 0L) // rewrites the tail
    assert(manifestOf(dir).head == base && dirSizes(Paths.get(dir, base)) == before)
    assert(shuffleBytes(st.merge(normalized(story(5L)))) > 0L)
    assert(st.count() == 33L && st.latestId().contains(33L))
  }

  test("livestream runner on a bucketed store keeps merges Exchange-free") {
    // every livestream commit is an append above the max id: five commits
    // shuffle nothing, keep the clustered layout and register no catalog
    // table; a resume picks up from the footers
    val dir = Files.createTempDirectory("graft-store-ls-append").toString
    val st = new ItemStore(spark, dir)
    val items = (1L to 9L).map(i =>
      i -> s"""{"id":$i,"type":"comment","by":"u$i","time":${i * 10}}""").toMap
    val tables = catalogTables()
    var n = 0L
    // commitPeriod 2 → five micro-batch merges
    assert(shuffleBytes { n = LivestreamRunner.run(spark, st, new FakeFetcher(items, maxId = 9),
      maxItems = 9, commitPeriod = 2, sleep = _ => (), now = () => 500L) } == 0L)
    assert(n == 9 && st.current().count() == 9 && st.latestId().contains(9L))
    assert(manifestOf(dir).size > 1 && catalogTables() == tables)
    assertLayout(dir, clusteredBase = true)
    LivestreamRunner.run(spark, st,
      new FakeFetcher(items + (10L ->
        """{"id":10,"type":"comment","by":"u10","time":100}"""), maxId = 10),
      maxItems = 1, commitPeriod = 2, sleep = _ => (), now = () => 600L)
    assert(st.current().count() == 10 && st.latestId().contains(10L))
    assertLayout(dir, clusteredBase = true)
  }

  test("delta log compacts to one snapshot at compactEvery, preserving rows") {
    // one-row appends over a one-row base each seal at once: the manifest
    // grows a segment per commit, and the next update folds them all back
    // into one base snapshot, the superseded directories deleted
    val dir = Files.createTempDirectory("graft-store-compact").toString
    val st = new ItemStore(spark, dir)
    st.init()
    val batches = (1L to 7L).map(i => normalized(i -> s"""{"id":$i,"type":"comment","time":${i * 10}}"""))
    batches.foreach(st.merge)
    assert(manifestOf(dir).size == 7, manifestOf(dir))
    val update = normalized(3L -> """{"id":3,"type":"comment","by":"c","time":30}""")
    st.merge(update)
    assert(manifestOf(dir).size == 1 && storeDirs(dir) == manifestOf(dir).toSet,
      s"segments not folded: ${storeDirs(dir)}")
    val ref = (batches :+ update).foldLeft(emptyItems)(upsertRef(_, _, st))
    assert(rowsById(st.current()) == rowsById(ref))
    assert(st.count() == 7 && st.latestId().contains(7L))
    assertLayout(dir, clusteredBase = false)
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  test("delta-mode merge writes O(batch) per commit, not O(store)") {
    // five one-row appends onto a 60-row base: each commit writes one new
    // tail directory, far smaller than the base, in place of the previous
    // tail, and leaves every other directory byte-identical
    val dir = Files.createTempDirectory("graft-store-otail")
    val st = new ItemStore(spark, dir.toString)
    st.init()
    st.merge(Item.normalize((1L to 60L).map(i =>
      i -> s"""{"id":$i,"type":"comment","by":"u$i","time":${i * 10}}""")
      .toDF("id", "body"), lit(100L)))
    val baseBytes = dirBytes(dir.resolve(manifestOf(dir.toString).head))
    (61L to 65L).foreach { i =>
      val entries = manifestOf(dir.toString)
      val bytes = entries.map(d => d -> dirBytes(dir.resolve(d))).toMap
      st.merge(normalized(i -> s"""{"id":$i,"type":"comment","time":${i * 10}}"""))
      val now = manifestOf(dir.toString)
      val added = now.toSet -- entries
      assert(added.size == 1 && added.head.startsWith("seg-") && now.last == added.head,
        s"expected one new tail, got $added")
      assert((entries.toSet -- now).forall(_.startsWith("seg-")), "the base left the manifest")
      now.init.foreach(d => assert(dirBytes(dir.resolve(d)) == bytes(d), s"$d was rewritten"))
      assert(dirBytes(dir.resolve(added.head)) < baseBytes, "the tail write is not O(tail)")
    }
    assert(st.current().count() == 65 && st.latestId().contains(65L))
    assertLayout(dir.toString, clusteredBase = true)
  }

  test("delta-mode store matches replace-mode semantics exactly") {
    // the reference's NULL asymmetry across three merges of id 1 (and a
    // replay): coalesce columns keep the stored value on incoming NULL and
    // take the latest non-NULL one, overwrite columns take the incoming
    // value even when it is NULL
    val st = freshStore()
    val batches = Seq(
      Seq(1L -> """{"id":1,"type":"story","by":"alice","time":50,"score":10,"title":"t1"}""",
        2L -> """{"id":2,"type":"comment","by":"bob","time":60,"text":"hi"}"""),
      // id 1 re-crawled: author/score/title absent (kept), descendants
      // appears (overwrites); id 3 new
      Seq(1L -> """{"id":1,"type":"story","time":50,"descendants":5}""",
        3L -> """{"id":3,"type":"comment","by":"eve","time":70}"""),
      // id 1 again: a new author wins; descendants absent, so NULL overwrites
      Seq(1L -> """{"id":1,"type":"story","by":"alice2","time":50}"""))
    var ref = emptyItems
    batches.zipWithIndex.foreach { case (b, i) =>
      val n = Item.normalize(b.toDF("id", "body"), lit(100L + i))
      st.merge(n)
      ref = upsertRef(ref, n, st)
      assert(rowsById(st.current()) == rowsById(ref), s"batch $i")
    }
    val one = st.current().filter(col("id") === 1L).head()
    assert(one.getAs[String]("author") == "alice2" && one.getAs[Long]("score") == 10L &&
      one.getAs[String]("title") == "t1" && one.isNullAt(one.fieldIndex("descendants")) &&
      one.getAs[Long]("retrieved") == 102L)
    // replay the last batch: idempotent, still equal to the reference
    val replay = Item.normalize(batches.last.toDF("id", "body"), lit(102L))
    st.merge(replay)
    ref = upsertRef(ref, replay, st)
    assert(rowsById(st.current()) == rowsById(ref))
  }

  test("livestream runner over a delta-log store drains and compacts") {
    // the runner drains into base and segments; a recrawl folds them into
    // one base; a fresh instance resumes from that base's footers
    val dir = Files.createTempDirectory("graft-store-ls-fold").toString
    val st = new ItemStore(spark, dir)
    val items = (1L to 9L).map(i =>
      i -> s"""{"id":$i,"type":"comment","by":"u$i","time":${i * 10}}""").toMap
    val n = LivestreamRunner.run(spark, st, new FakeFetcher(items, maxId = 9),
      maxItems = 9, commitPeriod = 2, sleep = _ => (), now = () => 500L)
    assert(n == 9 && st.current().count() == 9 && st.latestId().contains(9L))
    assert(manifestOf(dir).size > 1)
    st.merge(normalized(2L -> """{"id":2,"type":"comment","by":"v2","time":20}""",
      5L -> """{"id":5,"type":"comment","time":50}"""))
    assert(manifestOf(dir).size == 1)
    val st2 = new ItemStore(spark, dir)
    LivestreamRunner.run(spark, st2,
      new FakeFetcher(items + (10L ->
        """{"id":10,"type":"comment","by":"u10","time":100}"""), maxId = 10),
      maxItems = 1, commitPeriod = 2, sleep = _ => (), now = () => 600L)
    assert(st2.current().count() == 10 && st2.latestId().contains(10L))
    val byId = rowsById(st2.current().select("id", "author"))
    assert(byId(2L) == Seq(2L, "v2") && byId(5L) == Seq(5L, "u5") && byId(10L) == Seq(10L, "u10"))
  }

  test("a delta-log store reopened with defaults, and a clustered store " +
    "reopened as a delta log, read and merge the same rows") {
    // the manifest and the files are the whole store: a fresh instance for
    // every merge, and one kept across them all, read the same rows as
    // sequential upserts, through appends and updates
    val rnd = new scala.util.Random(9)
    def batch(ids: Seq[Long], at: Long) =
      Item.normalize(ids.map(i => i -> randomBody(rnd, i)).toDF("id", "body"), lit(at))
    val batches = Seq(batch(1L to 20L, 100), batch(21L to 25L, 101),
      batch(Seq(3L, 22L, 26L), 102), batch(27L to 30L, 103), batch(Seq(1L, 31L), 104))
    val dir = Files.createTempDirectory("graft-store-reopen").toString
    val kept = new ItemStore(spark, dir)
    kept.init()
    var ref = emptyItems
    batches.zipWithIndex.foreach { case (b, i) =>
      new ItemStore(spark, dir).merge(b)
      ref = upsertRef(ref, b, kept)
      val fresh = new ItemStore(spark, dir)
      for ((st, which) <- Seq(fresh -> "fresh", kept -> "kept")) {
        val clue = s"batch $i, $which instance"
        assert(rowsById(st.current()) == rowsById(ref), clue)
        assert(st.count() == ref.count() && st.latestId() == Some(ref.agg(max("id")).head().getLong(0)), clue)
      }
    }
    assertLayout(dir, clusteredBase = false)
  }
}
