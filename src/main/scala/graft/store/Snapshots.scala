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
  *    shares: return on a replayed token before the delta is built, skip
  *    an empty delta, append, and compact once
  *    [[deltaCount]] reaches `compactEvery` — amortized
  *    O(store / compactEvery) per batch. Its two store users are
  *    [[ClaimLog]] (first-writer-wins keys; compacts to [[read]]) and
  *    [[CountLog]] (signed counts; compacts to the per-key sums); the
  *    append-only `Trending` and `SessionPipeline` logs call it
  *    directly.
  *  - [[appendSegment]] — adds one `seg-` directory after the last
  *    manifest entry, or in place of it. A writer that keeps every entry
  *    disjoint on its key (the clustered [[ItemStore]]) grows its open
  *    tail this way in O(tail) I/O; the `seg-` prefix marks the entry as
  *    disjoint, so a reader may union it without a fold.
  *
  * The manifest is newline-separated: optional `#`-prefixed metadata
  * lines, then directory names — first the base snapshot, then deltas
  * and segments in commit order (a bare single line is exactly the old
  * pointer format, so pre-delta stores read unchanged). A manifest with a
  * `#bucketed-by` line was written by the bucketed layout earlier
  * releases offered; its snapshots are catalog tables this class no
  * longer registers, so opening one FAILS LOUD instead of reading files
  * whose layout it does not know.
  *
  * Optional `partitionByCol = Some(col)` lays every snapshot AND delta out
  * hive-partitioned by `col` — the directory-pruning layout (`col=v/`
  * subdirs): a reader filtering on `col` opens only the matching
  * directories in every manifest entry, which is what the BM25 standing
  * index's term-hash buckets need ([[graft.operators.Retrieval]]). The
  * spec is recorded in the manifest (`#partitioned-by col`) and validated
  * on open — a mismatched writer would silently flatten the layout and
  * lose pruning, so it fails loud instead.
  */
final class Snapshots(spark: SparkSession, root: String, schema: StructType,
                      partitionByCol: Option[String] = None,
                      compactEvery: Int = Snapshots.DefaultCompactEvery) {

  Snapshots.requireCompactEvery(compactEvery)

  private val rootPath: Path = Paths.get(root)
  private val pointer: Path = rootPath.resolve("current")

  /** Create an empty snapshot iff absent (idempotent bootstrap — S6, safe
    * under crash-retry; an empty directory reads as 0 rows under the
    * explicit schema, so no Spark job); on an existing store, validate the
    * manifest's layout lines and sweep orphan directories left by a crash
    * between a snapshot write and its manifest commit (they are
    * unreferenced forever, and a continuously-restarting streaming writer
    * would otherwise accumulate them without bound). */
  def init(): Unit = {
    Files.createDirectories(rootPath)
    if (!Files.exists(pointer)) {
      Files.createDirectories(rootPath.resolve("snap-0"))
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
      orphans.foreach(orphan => ParquetSurgery.deleteRecursively(rootPath.resolve(orphan)))
    }
  }

  def read(): DataFrame = {
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

  /** The base snapshot only, excluding any deltas. */
  def readBase(): DataFrame =
    spark.read.schema(schema).parquet(rootPath.resolve(manifest.head).toString)

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
    * (content-idempotent callers) never read the ledger, auto-named
    * (`delta-<nanotime>`, purely numeric) deltas are never recorded, and
    * retention is bounded to the most recent
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
  def appendDelta(df: DataFrame, token: Option[String] = None): Unit =
    freshDelta(token).foreach(append(df, _))

  /** The one commit step of a delta log. A `token` already committed
    * ([[appendDelta]]'s replay check) returns before `delta` is
    * evaluated, so a crash replay runs no job. Otherwise `delta` is
    * evaluated once; an empty one is skipped (one `head(1)` job) — an
    * all-duplicate batch appends nothing and must not advance the
    * compaction cadence; a non-empty one is appended under `token`, and
    * once [[deltaCount]] reaches `compactEvery` the log folds into one
    * base via `replace(compacted)`. `compacted` is evaluated only then:
    * [[read]] for first-writer-wins stores ([[ClaimLog]]), the
    * signed-count fold for additive ones ([[CountLog]]). Callers
    * materialize `delta` when its plan is not already cheap to run
    * twice. */
  def commit(delta: => DataFrame, token: Option[String] = None,
             compacted: => DataFrame = read()): Unit =
    freshDelta(token).foreach { name =>
      val df = delta
      if (df.head(1).nonEmpty) {
        append(df, name)
        if (deltaCount >= compactEvery) replace(compacted)
      }
    }

  /** The directory name of the next delta under `token` (auto-named
    * without one), or None when the token was already committed: it is in
    * the manifest or in the consumed-tokens ledger. The ledger read is
    * paid only on TOKENED appends — the content-idempotent tokenless path
    * stays O(batch) with no extra I/O. */
  private def freshDelta(token: Option[String]): Option[String] = {
    token.foreach { t =>
      require(t.matches("[A-Za-z0-9._-]+"),
        s"delta token must be a plain directory-name fragment, got '$t'")
      require(!t.matches("[0-9]+"),
        s"purely numeric token '$t' is reserved for auto-named deltas — " +
          "prefix it (e.g. 'epoch-" + t + "') to keep cross-compaction " +
          "replay protection")
    }
    val delta = token.map(t => s"delta-$t").getOrElse(s"delta-${System.nanoTime()}")
    val replayed = manifest.contains(delta) ||
      (token.isDefined && consumedTokens.contains(delta))
    if (replayed) None else Some(delta)
  }

  /** Write `df` as delta directory `name` and commit it to the manifest. */
  private def append(df: DataFrame, name: String): Unit = {
    write(df, name)
    commitManifest(manifest :+ name)
  }

  /** Write `df` as one new segment directory (`seg-<nanotime>`) and commit
    * it after the last manifest entry, or in its place when
    * `replaceLast` — the replaced directory is deleted only after the
    * swap, so a crash leaves either the old entry live or an orphan that
    * [[init]] sweeps. The caller guarantees `df` shares no key with any
    * other live entry; readers rely on that to union segments without a
    * fold. I/O is O(df). */
  def appendSegment(df: DataFrame, replaceLast: Boolean): Unit = {
    require(partitionByCol.isEmpty, "segments are plain parquet directories")
    val old = manifest
    require(!replaceLast || old.size > 1, "the base snapshot is not a segment")
    val seg = s"${Snapshots.SegmentPrefix}${System.nanoTime()}"
    df.write.mode("overwrite").parquet(dir(seg))
    commitManifest(if (replaceLast) old.init :+ seg else old :+ seg)
    if (replaceLast) ParquetSurgery.deleteRecursively(rootPath.resolve(old.last))
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
    write(df, snap)
    recordConsumed(previous)
    commitManifest(Seq(snap))
    previous.foreach(d => ParquetSurgery.deleteRecursively(rootPath.resolve(d)))
  }

  /** Write `df` as directory `entry`, in the store's partition layout. */
  private def write(df: DataFrame, entry: String): Unit = {
    val w = df.write.mode("overwrite")
    partitionByCol.fold(w)(c => w.partitionBy(c)).parquet(dir(entry))
  }

  private def layoutHeader: Seq[String] =
    partitionByCol.toSeq.map(c => s"#partitioned-by $c")

  /** Directory names from the manifest, after validating its layout
    * lines: a bucketed store and a mismatched partition layout both fail
    * loud, never read wrong. */
  private def manifest: Seq[String] = {
    val lines = new String(Files.readAllBytes(pointer)).trim
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    lines.find(_.startsWith("#bucketed-by")).foreach { line =>
      throw new IllegalStateException(
        s"store at $root has the manifest line '$line': the bucketed " +
          "layout is no longer supported. Rewrite the store with a " +
          "release that reads it, or rebuild it from its source.")
    }
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

  private def commitManifest(dirs: Seq[String]): Unit = {
    val tmp = rootPath.resolve("current.tmp")
    Files.write(tmp, (layoutHeader ++ dirs).mkString("\n").getBytes)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
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
