package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The parquet snapshot-store mechanic shared by [[ItemStore]],
  * [[ClaimLog]] and the streaming stores: versioned snapshot directories
  * under a root, a `current` manifest file swapped atomically after each
  * write, and GC of superseded directories once the swap is durable.
  * Readers resolve through the manifest, so they never observe a
  * half-written snapshot, and a crash between write and swap leaves the
  * previous version intact — the batch analog of the reference's
  * transactional commit (`/root/reference/hnarchive.py:199-201,255-262`).
  * Single-writer by design, like the reference's one SQLite file.
  *
  * Write shapes:
  *  - [[replace]] — full-snapshot rewrite; right whenever the new content
  *    is already O(store) (e.g. a merge that rewrote every row).
  *  - [[appendDelta]] — adds one O(batch) parquet directory and commits it
  *    as a new manifest line; [[read]] is the union of the base snapshot
  *    and all deltas. This is what makes a per-micro-batch writer scale:
  *    the store grows by what the batch added, never rewritten per batch.
  *  - [[commit]] — the delta-log commit policy every streaming writer
  *    shares: skip an empty delta, append, and compact once
  *    [[deltaCount]] reaches `compactEvery` — amortized
  *    O(store / compactEvery) per batch.
  *  - [[appendSegment]] — adds one `seg-` directory after the last
  *    manifest entry, or in place of it. A writer that keeps every entry
  *    disjoint on its key (the clustered [[ItemStore]]) grows its open
  *    tail this way in O(tail) I/O; the `seg-` prefix marks the entry as
  *    disjoint, so a reader may union it without a fold.
  *
  * The manifest is newline-separated: optional `#`-prefixed metadata
  * lines, then directory names — first the base snapshot, then deltas
  * and segments in commit order (a bare single line is exactly the old
  * pointer format, so pre-delta stores read unchanged). A bucketed store
  * records its bucket spec as `#bucketed-by <key> <n>`; every open
  * validates the caller's spec against it and FAILS LOUD on mismatch —
  * Spark trusts declared bucketing and would silently return wrong joins
  * over files hashed into a different bucket count.
  *
  * Optional `bucketBy = Some((key, n))` stores every snapshot bucketed by
  * `key` (hash, n buckets, sorted within): bucket metadata only flows
  * through the catalog, so each snapshot is additionally registered as an
  * EXTERNAL table over its directory (re-registered on first read in a
  * fresh session — the files plus the manifest remain the durable truth).
  * A reader joining on `key` then plans WITHOUT an Exchange on the store
  * side: successive merges shuffle only the incoming batch, never the
  * accumulated store. Deltas on a bucketed store are plain (unbucketed)
  * parquet side directories: [[readBase]] keeps the Exchange-free bucketed
  * scan, and the caller folds [[readDeltas]] (tiny by construction) into
  * it — compaction then rewrites one bucketed base again.
  *
  * Optional `partitionByCol = Some(col)` (exclusive with bucketBy) lays
  * every snapshot AND delta out hive-partitioned by `col` — the
  * directory-pruning layout (`col=v/` subdirs): a reader filtering on
  * `col` opens only the matching directories in every manifest entry,
  * which is what the BM25 standing index's term-hash buckets need
  * ([[graft.operators.Retrieval]]). The spec is recorded in the manifest
  * (`#partitioned-by col`) and validated on open, like the bucket spec —
  * a mismatched writer would silently flatten the layout and lose
  * pruning, so it fails loud instead.
  */
final class Snapshots(spark: SparkSession, root: String, schema: StructType,
                      bucketBy: Option[(String, Int)] = None,
                      partitionByCol: Option[String] = None,
                      compactEvery: Int = Snapshots.DefaultCompactEvery) {

  require(bucketBy.isEmpty || partitionByCol.isEmpty,
    "bucketBy and partitionByCol are mutually exclusive store layouts")
  Snapshots.requireCompactEvery(compactEvery)

  private val rootPath: Path = Paths.get(root)
  private val pointer: Path = rootPath.resolve("current")

  /** Catalog identifier for a snapshot directory (bucketed mode): derived
    * from the NORMALIZED store root via SHA-256 (64 hex-bit prefix) so two
    * stores never collide — a 32-bit `hashCode` prefix plus the fixed
    * bootstrap name `snap-0` made same-session collisions realistic, and
    * `registerTable`'s exists short-circuit would then silently serve one
    * store's files to the other. [[registerTable]] additionally verifies an
    * existing entry's LOCATION before reuse, so even a name collision (or a
    * stale entry surviving an external delete/recreate) fails loud. */
  private def tableFor(snap: String): String = {
    val norm = rootPath.toAbsolutePath.normalize.toString
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    s"graft_snap_${hex}_${snap.replace('-', '_')}"
  }

  private def registerTable(snap: String): Unit = bucketBy.foreach { case (key, n) =>
    val tbl = tableFor(snap)
    val expected = rootPath.resolve(snap).toAbsolutePath.normalize.toString
    if (!spark.catalog.tableExists(tbl))
      spark.sql(
        s"""CREATE TABLE $tbl (${schema.toDDL}) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS
           |LOCATION '$expected'""".stripMargin)
    else {
      // never trust a pre-existing entry blindly: verify location AND the
      // bucket spec AND the schema before reuse (DESCRIBE FORMATTED is
      // driver-only). A stale entry at the SAME location but a different
      // bucket spec (store externally deleted and recreated, old session
      // entry surviving) would otherwise make Spark trust bucket metadata
      // over files hashed into a different bucket count — silently wrong
      // joins, the exact failure this verification exists to catch.
      def fail(what: String, got: String, want: String): Nothing =
        throw new IllegalStateException(
          s"catalog table $tbl $what is '$got', expected '$want' — " +
            "another store registered a colliding table name in this " +
            "session, or a stale entry survived an external change. DROP " +
            "TABLE it (the table is EXTERNAL; files are untouched) and " +
            "reopen the store.")
      val desc = spark.sql(s"DESCRIBE FORMATTED $tbl")
        .select("col_name", "data_type").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val loc = desc.getOrElse("Location", "")
      // hadoop Path tolerates unencoded chars (a raw space in the store
      // root breaks java.net.URI and would fail a LEGITIMATE reuse)
      val locPath = try java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(loc).toUri.getPath)
        .toAbsolutePath.normalize.toString
      catch { case _: Exception => loc }
      if (locPath != expected) fail("location", locPath, expected)
      val gotBuckets = desc.getOrElse("Num Buckets", "").trim
      if (gotBuckets != n.toString) fail("bucket count", gotBuckets, n.toString)
      val gotCols = desc.getOrElse("Bucket Columns", "").replace("`", "").trim
      if (gotCols != s"[$key]") fail("bucket columns", gotCols, s"[$key]")
      val gotSchema = spark.table(tbl).schema
        .map(f => (f.name, f.dataType)).toSeq
      val wantSchema = schema.map(f => (f.name, f.dataType)).toSeq
      if (gotSchema != wantSchema)
        fail("schema", gotSchema.mkString(","), wantSchema.mkString(","))
    }
  }

  /** Create an empty snapshot iff absent (idempotent bootstrap — S6, safe
    * under crash-retry); on an existing store, validate the bucket spec
    * and sweep orphan directories left by a crash between a snapshot
    * write and its manifest commit (they are unreferenced forever, and a
    * continuously-restarting streaming writer would otherwise accumulate
    * them without bound). */
  def init(): Unit = {
    Files.createDirectories(rootPath)
    if (!Files.exists(pointer)) {
      // an empty directory reads as 0 rows under the explicit schema, so
      // only a bucketed store needs its (catalog-registered) table write
      if (bucketBy.isEmpty) Files.createDirectories(rootPath.resolve("snap-0"))
      else writeSnapshot(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), "snap-0")
      commitManifest(Seq("snap-0"))
    } else {
      val live = manifest.toSet
      import scala.jdk.CollectionConverters._
      val listing = Files.list(rootPath) // must close: holds a directory fd
      val orphans =
        try listing.iterator().asScala
          .filter(Files.isDirectory(_))
          .map(_.getFileName.toString)
          .filter(d => Seq("snap-", "delta-", Snapshots.SegmentPrefix)
            .exists(d.startsWith) && !live(d))
          .toList
        finally listing.close()
      orphans.foreach { orphan =>
        if (bucketBy.nonEmpty)
          spark.sql(s"DROP TABLE IF EXISTS ${tableFor(orphan)}")
        deleteRecursively(rootPath.resolve(orphan))
      }
    }
  }

  def read(): DataFrame = bucketBy match {
    case Some(_) =>
      val m = manifest
      registerTable(m.head) // fresh session: catalog entry may not exist yet
      val base = spark.table(tableFor(m.head))
      // deltas (plain parquet) union in AFTER the bucketed base: callers
      // that need per-key precedence across deltas (versioned rows) read
      // [[readBase]]/[[readDeltas]] instead and merge themselves
      m.tail.foldLeft(base)((acc, d) =>
        acc.unionAll(spark.read.schema(schema)
          .parquet(rootPath.resolve(d).toString)))
    case None =>
      val dirs = manifest.map(d => rootPath.resolve(d).toString)
      partitionByCol match {
        // hive-partitioned dirs must load one root at a time: partition
        // discovery across multiple roots demands a single common base
        // and fails loud on the snapshot/delta sibling layout
        case Some(_) =>
          dirs.map(d => spark.read.schema(schema).parquet(d))
            .reduce(_ unionAll _)
        case None => spark.read.schema(schema).parquet(dirs: _*)
      }
  }

  /** The base snapshot only (bucketed stores: the catalog table, so joins
    * on the bucket key plan Exchange-free), excluding any deltas. */
  def readBase(): DataFrame = bucketBy match {
    case Some(_) =>
      val snap = manifest.head
      registerTable(snap)
      spark.table(tableFor(snap))
    case None =>
      spark.read.schema(schema)
        .parquet(rootPath.resolve(manifest.head).toString)
  }

  /** All delta directories since the base, each row tagged with `_seq` —
    * the 1-based manifest commit order — so callers can apply last-writer-
    * wins (or any per-key precedence) across deltas. None when the store
    * has no deltas. */
  def readDeltas(): Option[DataFrame] = {
    val dirs = manifest.tail
    if (dirs.isEmpty) None
    else Some(dirs.zipWithIndex.map { case (d, i) =>
      spark.read.schema(schema).parquet(rootPath.resolve(d).toString)
        .withColumn("_seq", org.apache.spark.sql.functions.lit((i + 1).toLong))
    }.reduce(_ unionAll _))
  }

  /** Number of delta directories since the last base snapshot — the
    * caller's compaction trigger. */
  def deltaCount: Int = manifest.size - 1

  /** The live directory names: the base first, then deltas and segments
    * in commit order. */
  def live: Seq[String] = manifest

  /** The path of one live directory. */
  def dir(entry: String): String = rootPath.resolve(entry).toString

  /** Ledger of TOKEN-named delta directories a compaction has folded into
    * a base snapshot. Token idempotence must survive [[replace]]: without
    * this, a replayed epoch whose delta was just compacted away would
    * re-append its rows as duplicates (the manifest alone forgets
    * consumed tokens). Costs are kept off the hot path: tokenless appends
    * (content-idempotent callers like the item-store merge) never read
    * the ledger, auto-named (`delta-<nanotime>`, purely numeric) deltas
    * are never recorded, and retention is bounded to the most recent
    * [[Snapshots.MaxConsumedTokens]] entries in append order — far beyond
    * any streaming engine's replay horizon (the engine replays at most
    * the epochs since its last checkpoint, not months of history). */
  private val tokensFile = rootPath.resolve("consumed-tokens")

  private def consumedTokens: Seq[String] =
    if (Files.exists(tokensFile)) {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(tokensFile).asScala.filter(_.nonEmpty).toSeq
    } else Seq.empty

  private def recordConsumed(dirs: Seq[String]): Unit = {
    // token deltas only: auto-generated names are purely-numeric suffixes
    // (and purely-numeric TOKENS are rejected at append time)
    val deltas = dirs.filter(d =>
      d.startsWith("delta-") && !d.stripPrefix("delta-").matches("[0-9]+"))
    if (deltas.nonEmpty) {
      val known = consumedTokens
      val fresh = deltas.filterNot(known.toSet)
      val merged = (known ++ fresh).takeRight(Snapshots.MaxConsumedTokens)
      val tmp = rootPath.resolve("consumed-tokens.tmp")
      Files.write(tmp, merged.mkString("\n").getBytes)
      Files.move(tmp, tokensFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Write `df` as one new delta directory and commit it to the manifest.
    * I/O is O(df), independent of the store size.
    *
    * @param token optional idempotency key (e.g. a streaming epoch id): the
    *   delta directory is named by it, and an append whose token is already
    *   in the manifest — or in the consumed-tokens ledger a compaction
    *   leaves behind — is a NO-OP: a replayed micro-batch (crash between
    *   sink commit and engine checkpoint) cannot double-append, even when
    *   the replay races a compaction that already folded the delta into
    *   the base. A crash between the directory write and the manifest
    *   commit leaves an orphan that [[init]] sweeps and the retry
    *   overwrites. */
  def appendDelta(df: DataFrame, token: Option[String] = None): Unit = {
    token.foreach { t =>
      require(t.matches("[A-Za-z0-9._-]+"),
        s"delta token must be a plain directory-name fragment, got '$t'")
      require(!t.matches("[0-9]+"),
        s"purely numeric token '$t' is reserved for auto-named deltas — " +
          "prefix it (e.g. 'epoch-" + t + "') to keep cross-compaction " +
          "replay protection")
    }
    val old = manifest
    val delta = token.map(t => s"delta-$t").getOrElse(s"delta-${System.nanoTime()}")
    // the ledger read is paid only on TOKENED appends — the
    // content-idempotent tokenless path stays O(batch) with no extra I/O
    val replayed = old.contains(delta) ||
      (token.isDefined && consumedTokens.contains(delta))
    if (!replayed) {
      val w = df.write.mode("overwrite")
      partitionByCol.fold(w)(c => w.partitionBy(c))
        .parquet(rootPath.resolve(delta).toString)
      commitManifest(old :+ delta)
    }
  }

  /** The one commit step of a delta log: an empty `delta` is skipped (one
    * `head(1)` job) — a replayed or all-duplicate batch appends nothing
    * and must not advance the compaction cadence; otherwise it is
    * appended under `token` ([[appendDelta]]'s replay protection), and
    * once [[deltaCount]] reaches `compactEvery` the log folds into one
    * base via `replace(compacted)`. `compacted` is evaluated only then:
    * [[read]] for first-writer-wins stores, the signed-count fold for
    * additive ones. Callers materialize `delta` first when its plan is
    * not already cheap to run twice. */
  def commit(delta: DataFrame, token: Option[String] = None,
             compacted: => DataFrame = read()): Unit =
    if (delta.head(1).nonEmpty) {
      appendDelta(delta, token)
      if (deltaCount >= compactEvery) replace(compacted)
    }

  /** Write `df` as one new segment directory (`seg-<nanotime>`) and commit
    * it after the last manifest entry, or in its place when
    * `replaceLast` — the replaced directory is deleted only after the
    * swap, so a crash leaves either the old entry live or an orphan that
    * [[init]] sweeps. The caller guarantees `df` shares no key with any
    * other live entry; readers rely on that to union segments without a
    * fold. I/O is O(df). */
  def appendSegment(df: DataFrame, replaceLast: Boolean): Unit = {
    require(bucketBy.isEmpty && partitionByCol.isEmpty,
      "segments are plain parquet directories")
    val old = manifest
    require(!replaceLast || old.size > 1, "the base snapshot is not a segment")
    val seg = s"${Snapshots.SegmentPrefix}${System.nanoTime()}"
    df.write.mode("overwrite").parquet(dir(seg))
    commitManifest(if (replaceLast) old.init :+ seg else old :+ seg)
    if (replaceLast) deleteRecursively(rootPath.resolve(old.last))
  }

  /** Write `df` as the next base snapshot, swap the manifest, GC every
    * superseded directory (old base and deltas). `replace(read())` is the
    * delta-log compaction. Consumed delta names are recorded BEFORE the
    * manifest swap: a crash between the two leaves both the ledger entry
    * and the live delta — reads stay correct and a replayed append is
    * still a no-op; the next replace re-records idempotently. */
  def replace(df: DataFrame): Unit = {
    val previous = manifest
    val snap = s"snap-${System.nanoTime()}"
    writeSnapshot(df, snap)
    recordConsumed(previous)
    commitManifest(Seq(snap))
    previous.foreach { d =>
      if (bucketBy.nonEmpty)
        spark.sql(s"DROP TABLE IF EXISTS ${tableFor(d)}") // EXTERNAL: files stay
      deleteRecursively(rootPath.resolve(d))
    }
  }

  private def writeSnapshot(df: DataFrame, snap: String): Unit = bucketBy match {
    case Some((key, n)) =>
      // crash-retry safety: a previous attempt may have left the table
      // and/or a half-written directory with no manifest entry — clear
      // both so the CTAS (which has no overwrite mode with bucketBy)
      // cannot wedge the store on TableAlreadyExists / non-empty location
      spark.sql(s"DROP TABLE IF EXISTS ${tableFor(snap)}")
      deleteRecursively(rootPath.resolve(snap))
      df.write.format("parquet")
        .bucketBy(n, key).sortBy(key)
        .option("path", rootPath.resolve(snap).toString)
        .saveAsTable(tableFor(snap))
    case None =>
      val w = df.write.mode("overwrite")
      partitionByCol.fold(w)(c => w.partitionBy(c))
        .parquet(rootPath.resolve(snap).toString)
  }

  private def bucketHeader: Seq[String] =
    bucketBy.toSeq.map { case (key, n) => s"#bucketed-by $key $n" } ++
      partitionByCol.toSeq.map(c => s"#partitioned-by $c")

  /** Directory names from the manifest, after validating that the stored
    * bucket spec matches this instance's — mismatched bucketing must fail
    * loud, never return wrong joins. */
  private def manifest: Seq[String] = {
    val lines = new String(Files.readAllBytes(pointer)).trim
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    val stored = lines.filter(_.startsWith("#")) match {
      case Seq() => None
      case metas => metas.collectFirst {
        case m if m.startsWith("#bucketed-by ") =>
          val Array(key, n) = m.stripPrefix("#bucketed-by ").split(" ")
          (key, n.toInt)
      }
    }
    if (stored != bucketBy)
      throw new IllegalStateException(
        s"store at $root records bucket spec ${specStr(stored)} but was " +
          s"opened with ${specStr(bucketBy)} — Spark trusts declared " +
          "bucketing, so a mismatch silently corrupts joins. Reopen with " +
          "the recorded spec; to change specs, compact through an instance " +
          "matching the recorded one and rewrite with the new one. (A store " +
          "with no recorded spec was written unbucketed.)")
    val storedPart = lines.collectFirst {
      case m if m.startsWith("#partitioned-by ") =>
        m.stripPrefix("#partitioned-by ").trim
    }
    if (storedPart != partitionByCol)
      throw new IllegalStateException(
        s"store at $root records partition layout " +
          s"${storedPart.getOrElse("none")} but was opened with " +
          s"${partitionByCol.getOrElse("none")} — a mismatched writer " +
          "would flatten the hive-partitioned layout and silently lose " +
          "directory pruning. Reopen with the recorded layout.")
    lines.filterNot(_.startsWith("#"))
  }

  private def specStr(s: Option[(String, Int)]): String =
    s.map { case (k, n) => s"bucketed-by($k, $n)" }.getOrElse("unbucketed")

  private def commitManifest(dirs: Seq[String]): Unit = {
    val tmp = rootPath.resolve("current.tmp")
    Files.write(tmp, (bucketHeader ++ dirs).mkString("\n").getBytes)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
    }
}

object Snapshots {
  /** Consumed-token ledger retention (append-ordered tail). A streaming
    * engine replays at most the epochs since its last checkpoint —
    * typically single digits — so 10k retained tokens is orders of
    * magnitude past any real replay horizon while bounding the ledger
    * read that tokened appends pay. */
  val MaxConsumedTokens: Int = 10000

  /** Delta depth at which [[Snapshots.commit]] compacts, unless the store
    * names its own. */
  val DefaultCompactEvery: Int = 16

  /** Name prefix of an [[appendSegment]] directory. */
  val SegmentPrefix: String = "seg-"

  /** The compaction-depth rule for every delta log, including the
    * standing indexes that compact through their own stores: 0 would
    * rewrite the whole store on every commit. */
  def requireCompactEvery(compactEvery: Int): Unit =
    require(compactEvery >= 1, s"compactEvery must be >= 1, got " +
      s"$compactEvery — 0 would rewrite the whole store every commit")
}
