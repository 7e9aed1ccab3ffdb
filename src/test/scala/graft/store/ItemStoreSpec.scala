package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
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

  test("bucketed table reuse verifies location — stale/colliding entries fail loud") {
    val dirA = Files.createTempDirectory("graft-snap-loc-a")
    val dirB = Files.createTempDirectory("graft-snap-loc-b").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val snaps = new Snapshots(spark, dirA.toString, schema, Some(("id", 2)))
    snaps.init()
    assert(snaps.read().count() == 0) // legit reuse: location matches
    // simulate a colliding/stale catalog entry: same table name the store
    // derives (replicating tableFor's sha-256 naming), pointing elsewhere
    val norm = dirA.toAbsolutePath.normalize.toString
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val tbl = s"graft_snap_${hex}_snap_0"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (id BIGINT) USING PARQUET
         |CLUSTERED BY (id) SORTED BY (id) INTO 2 BUCKETS
         |LOCATION '$dirB'""".stripMargin)
    val e = intercept[IllegalStateException] { snaps.read() }
    assert(e.getMessage.contains("location"), e.getMessage)
    // stale entry at the SAME location but a DIFFERENT bucket spec (store
    // externally recreated, old catalog entry surviving): Spark would
    // trust the stale bucket metadata over files hashed into another
    // bucket count — must fail loud, not silently mis-join
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (id BIGINT) USING PARQUET
         |CLUSTERED BY (id) SORTED BY (id) INTO 8 BUCKETS
         |LOCATION '${dirA.resolve("snap-0")}'""".stripMargin)
    val eb = intercept[IllegalStateException] { snaps.read() }
    assert(eb.getMessage.contains("bucket count"), eb.getMessage)
    // same location and bucket count, different schema: same refusal
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl (id BIGINT, extra STRING) USING PARQUET
         |CLUSTERED BY (id) SORTED BY (id) INTO 2 BUCKETS
         |LOCATION '${dirA.resolve("snap-0")}'""".stripMargin)
    val es = intercept[IllegalStateException] { snaps.read() }
    assert(es.getMessage.contains("schema"), es.getMessage)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

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

  test("bucketed store: second merge plans with no Exchange on the store side") {
    import org.apache.spark.sql.execution.ExplainMode
    val dir = Files.createTempDirectory("graft-store-bucketed").toString
    val st = new ItemStore(spark, dir, buckets = 4)
    st.init()
    st.merge(normalized(
      1L -> """{"id":1,"type":"story","by":"a","time":10}""",
      2L -> """{"id":2,"type":"story","by":"b","time":20}"""))
    // the second merge joins the BUCKETED store snapshot against the batch:
    // the store side must scan bucketed (no Exchange above it); only the
    // incoming batch may shuffle
    val batch2 = normalized(3L -> """{"id":3,"type":"story","by":"c","time":30}""")
    val merged = graft.operators.Merge.upsert(st.current(), batch2, "id",
      st.coalesceCols, st.overwriteCols, precedenceCols = Seq("retrieved"))
    val plan = merged.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"), s"store scan not bucketed:\n$plan")
    // exactly the batch-side Exchange: 0 would mean the counter went
    // vacuous (a full-outer equi-join must shuffle the unbucketed batch),
    // 2+ would mean the store side shuffled too
    val exchanges = graft.PlanChecks.shuffleExchanges(plan)
    assert(exchanges == 1, s"expected exactly the batch-side Exchange:\n$plan")
    // and the store semantics are unchanged through the bucketed layout
    st.merge(batch2)
    assert(st.current().count() == 3)
    assert(st.latestId().contains(3L))
    // a fresh-session analog: drop the catalog entry, read() must re-register
    // (a fresh instance: current() reuses its DataFrame while the manifest
    // is unchanged, as a new session would not)
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_snap_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    assert(new ItemStore(spark, dir, buckets = 4).current().count() == 3)
  }

  test("bucket spec mismatch fails loud instead of corrupting joins") {
    val dir = Files.createTempDirectory("graft-store-spec").toString
    val st4 = new ItemStore(spark, dir, buckets = 4)
    st4.init()
    st4.merge(normalized(1L -> """{"id":1,"type":"story","time":10}"""))
    // different bucket count: Spark would trust the declared bucketing and
    // silently mis-join files hashed into 4 buckets — must throw instead
    val e8 = intercept[IllegalStateException] {
      new ItemStore(spark, dir, buckets = 8).current().count()
    }
    assert(e8.getMessage.contains("bucket"))
    // unbucketed open of a bucketed store: same hazard, same refusal
    intercept[IllegalStateException] { new ItemStore(spark, dir).current() }
    // bucketed open of an unbucketed store: files are not bucketed at all
    val plainDir = Files.createTempDirectory("graft-store-plain").toString
    val plain = new ItemStore(spark, plainDir)
    plain.init()
    intercept[IllegalStateException] {
      new ItemStore(spark, plainDir, buckets = 4).current()
    }
    // the matching spec still reads fine
    assert(st4.current().count() == 1)
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

  test("livestream runner on a bucketed store keeps merges Exchange-free") {
    import org.apache.spark.sql.execution.ExplainMode
    val dir = Files.createTempDirectory("graft-store-ls-bucketed").toString
    val st = new ItemStore(spark, dir, buckets = 4)
    val items = (1L to 9L).map(i =>
      i -> s"""{"id":$i,"type":"comment","by":"u$i","time":${i * 10}}""").toMap
    // commitPeriod 2 → five micro-batch merges, five snapshot swaps
    val n = LivestreamRunner.run(spark, st, new FakeFetcher(items, maxId = 9),
      maxItems = 9, commitPeriod = 2, sleep = _ => (), now = () => 500L)
    assert(n == 9)
    assert(st.current().count() == 9)
    assert(st.latestId().contains(9L))
    // superseded generations must not accumulate in the catalog: exactly one
    // live snapshot table for this store root after five swaps
    val prefix = "graft_snap_" + java.security.MessageDigest
      .getInstance("SHA-256")
      .digest(java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
    assert(tables.length == 1, s"stale snapshot tables: ${tables.mkString(",")}")
    // and the NEXT merge, five generations in, still scans the store
    // bucketed with at most the batch-side Exchange
    val batch = normalized(10L -> """{"id":10,"type":"comment","time":100}""")
    val merged = graft.operators.Merge.upsert(st.current(), batch, "id",
      st.coalesceCols, st.overwriteCols, precedenceCols = Seq("retrieved"))
    val plan = merged.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"), s"store scan not bucketed:\n$plan")
    assert(graft.PlanChecks.shuffleExchanges(plan) == 1,
      s"expected exactly the batch-side Exchange:\n$plan")
    // resume + replay through the runner path stays idempotent on buckets
    LivestreamRunner.run(spark, st,
      new FakeFetcher(items + (10L ->
        """{"id":10,"type":"comment","by":"u10","time":100}"""), maxId = 10),
      maxItems = 1, commitPeriod = 2, sleep = _ => (), now = () => 600L)
    assert(st.current().count() == 10)
    assert(st.latestId().contains(10L))
  }

  private def dirBytes(p: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally s.close()
  }

  test("delta-mode merge writes O(batch) per commit, not O(store)") {
    val dir = Files.createTempDirectory("graft-store-delta")
    val st = new ItemStore(spark, dir.toString, compactEvery = 100)
    st.init()
    // seed a "large" store state: one 60-row batch
    st.merge(Item.normalize((1L to 60L).map(i =>
      i -> s"""{"id":$i,"type":"comment","by":"u$i","time":${i * 10}}""")
      .toDF("id", "body"), lit(100L)))
    def entries() = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(d => d.startsWith("snap-") || d.startsWith("delta-")).toSet
      finally s.close()
    }
    val before = entries()
    val baseBytes = before.map(d => dirBytes(dir.resolve(d))).sum
    // five 1-row merges: each must add EXACTLY one delta directory and
    // leave every pre-existing directory byte-identical (no rewrite)
    (61L to 65L).foreach { i =>
      val snapshot = entries()
      val snapshotBytes = snapshot.map(d => d -> dirBytes(dir.resolve(d))).toMap
      st.merge(normalized(i -> s"""{"id":$i,"type":"comment","time":${i * 10}}"""))
      val now = entries()
      val added = now -- snapshot
      assert(added.size == 1 && added.head.startsWith("delta-"),
        s"expected one new delta dir, got $added")
      snapshot.foreach { d =>
        assert(dirBytes(dir.resolve(d)) == snapshotBytes(d),
          s"pre-existing dir $d was rewritten")
      }
      // a 1-row delta must be far smaller than the accumulated base
      assert(dirBytes(dir.resolve(added.head)) < baseBytes,
        "delta write is not O(batch)")
    }
    assert(st.current().count() == 65)
    assert(st.latestId().contains(65L))
  }

  test("delta-mode store matches replace-mode semantics exactly") {
    val deltaSt = new ItemStore(spark,
      Files.createTempDirectory("graft-store-dsem").toString, compactEvery = 100)
    val fullSt = freshStore()
    deltaSt.init()
    val batches = Seq(
      Seq(1L -> """{"id":1,"type":"story","by":"alice","time":50,"score":10,"title":"t1"}""",
        2L -> """{"id":2,"type":"comment","by":"bob","time":60,"text":"hi"}"""),
      // id 1 re-crawled: score/author null (coalesce keeps), descendants
      // appears (overwrite applies); id 3 new
      Seq(1L -> """{"id":1,"type":"story","time":50,"descendants":5}""",
        3L -> """{"id":3,"type":"comment","by":"eve","time":70}"""),
      // id 1 again: author returns with a NEW value (latest non-null wins),
      // descendants null-out is impossible (overwrite via absent field →
      // null overwrites!) — exactly the asymmetry worth pinning across 3 deltas
      Seq(1L -> """{"id":1,"type":"story","by":"alice2","time":50}"""))
    batches.zipWithIndex.foreach { case (b, i) =>
      val n = Item.normalize(b.toDF("id", "body"), lit(100L + i))
      deltaSt.merge(n); fullSt.merge(n)
    }
    def asMap(st: ItemStore) = st.current().collect()
      .map(r => r.getAs[Long]("id") -> r.toSeq).toMap
    assert(asMap(deltaSt) == asMap(fullSt))
    // replay the last batch: both stay idempotent and equal
    val replay = Item.normalize(batches.last.toDF("id", "body"), lit(102L))
    deltaSt.merge(replay); fullSt.merge(replay)
    assert(asMap(deltaSt) == asMap(fullSt))
  }

  test("delta log compacts to one snapshot at compactEvery, preserving rows") {
    val dir = Files.createTempDirectory("graft-store-compact")
    val st = new ItemStore(spark, dir.toString, compactEvery = 3)
    st.init()
    (1 to 7).foreach { i =>
      st.merge(normalized(
        i.toLong -> s"""{"id":$i,"type":"comment","time":${i * 10}}"""))
    }
    // 7 merges at compactEvery=3: compactions at merge 3 and 6, then one
    // trailing delta — manifest holds one base + one delta, old dirs GC'd
    import scala.jdk.CollectionConverters._
    val listing = Files.list(dir)
    val dirs = try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(d => d.startsWith("snap-") || d.startsWith("delta-")).toList
    finally listing.close()
    assert(dirs.count(_.startsWith("snap-")) == 1, s"stale bases: $dirs")
    assert(dirs.count(_.startsWith("delta-")) == 1, s"deltas not GC'd: $dirs")
    assert(st.current().count() == 7)
    assert(st.latestId().contains(7L))
  }

  test("bucketed delta store: merge-on-read keeps the base scan Exchange-free") {
    import org.apache.spark.sql.execution.ExplainMode
    val dir = Files.createTempDirectory("graft-store-bdelta").toString
    val st = new ItemStore(spark, dir, buckets = 4, compactEvery = 100)
    st.init()
    st.merge(normalized(
      1L -> """{"id":1,"type":"story","by":"a","time":10}""",
      2L -> """{"id":2,"type":"story","by":"b","time":20}"""))
    st.merge(normalized(3L -> """{"id":3,"type":"story","by":"c","time":30}"""))
    // current() = upsert(bucketed base, folded deltas): the base must scan
    // bucketed with no Exchange above it; only the (tiny) delta fold and
    // its join alignment may shuffle
    val plan = st.current().queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"), s"base scan not bucketed:\n$plan")
    assert(graft.PlanChecks.shuffleExchanges(plan) <= 2,
      s"store side shuffled:\n$plan")
    assert(st.current().count() == 3)
    assert(st.latestId().contains(3L))
  }

  test("livestream runner over a delta-log store drains and compacts") {
    val dir = Files.createTempDirectory("graft-store-ls-delta").toString
    val st = new ItemStore(spark, dir, compactEvery = 3)
    val items = (1L to 9L).map(i =>
      i -> s"""{"id":$i,"type":"comment","by":"u$i","time":${i * 10}}""").toMap
    val n = LivestreamRunner.run(spark, st, new FakeFetcher(items, maxId = 9),
      maxItems = 9, commitPeriod = 2, sleep = _ => (), now = () => 500L)
    assert(n == 9)
    assert(st.current().count() == 9)
    assert(st.latestId().contains(9L))
    // resume across a fresh instance (manifest is the durable truth)
    val st2 = new ItemStore(spark, dir, compactEvery = 3)
    LivestreamRunner.run(spark, st2,
      new FakeFetcher(items + (10L ->
        """{"id":10,"type":"comment","by":"u10","time":100}"""), maxId = 10),
      maxItems = 1, commitPeriod = 2, sleep = _ => (), now = () => 600L)
    assert(st2.current().count() == 10)
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

  /** The replace-mode semantics every store mode must reproduce: one
    * upsert of each batch into the previous state. */
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

  private def countJobs(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.GraftTestBus.flush(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
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

  test("a delta-log store reopened with defaults, and a clustered store " +
    "reopened as a delta log, read and merge the same rows") {
    val rnd = new scala.util.Random(9)
    def batch(ids: Seq[Long], at: Long) =
      Item.normalize(ids.map(i => i -> randomBody(rnd, i)).toDF("id", "body"), lit(at))
    val batches = Seq(batch(1L to 20L, 100), batch(21L to 25L, 101),
      batch(Seq(3L, 22L, 26L), 102), batch(27L to 30L, 103), batch(Seq(1L, 31L), 104))
    val probe = freshStore() // only for its column groups
    val refs = batches.scanLeft(emptyItems)((r, b) => upsertRef(r, b, probe)).tail
    // delta log → defaults: reads fold the deltas; the next default merge
    // (an append) upserts everything into one base
    val dDir = Files.createTempDirectory("graft-store-d2c").toString
    val delta = new ItemStore(spark, dDir, compactEvery = 10)
    delta.init()
    batches.take(3).foreach(delta.merge)
    val reopened = new ItemStore(spark, dDir)
    // deltas overlap: the reopened store folds them, not the file index
    assert(ItemStore.childrenOf(reopened.current()).isEmpty)
    assert(rowsById(reopened.current()) == rowsById(refs(2)))
    assert(reopened.latestId().contains(26L) && reopened.count() == 26L)
    reopened.merge(batches(3))
    assert(rowsById(reopened.current()) == rowsById(refs(3)))
    assertLayout(dDir, clusteredBase = false)
    // clustered → delta log: segments fold like deltas; back to defaults
    val cDir = Files.createTempDirectory("graft-store-c2d").toString
    val clustered = new ItemStore(spark, cDir)
    clustered.init()
    batches.take(2).foreach(clustered.merge)
    assert(manifestOf(cDir).exists(_.startsWith("seg-")))
    val asLog = new ItemStore(spark, cDir, compactEvery = 10)
    assert(rowsById(asLog.current()) == rowsById(refs(1)))
    asLog.merge(batches(2))
    asLog.merge(batches(3))
    assert(rowsById(asLog.current()) == rowsById(refs(3)))
    val back = new ItemStore(spark, cDir)
    assert(rowsById(back.current()) == rowsById(refs(3)))
    back.merge(batches(4))
    assert(rowsById(back.current()) == rowsById(refs(4)))
    assertLayout(cDir, clusteredBase = false)
  }
}
