package graft.store

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The O(touched files) FILE SURGEON shared by the plain-parquet
  * deletion legs ([[CorpusForget]] for corpus rows, [[PackForget]] for
  * pack-stream masking): replace single part files of a live parquet
  * dataset without rewriting the dataset and without a manifest to
  * pointer-swap.
  *
  * Crash discipline (heal-first, deterministic names): a replacement is
  * STAGED in a dot-prefixed directory NEXT TO the target (same
  * filesystem, invisible to Spark's listing — Hadoop skips '.'-named
  * paths), then renamed to its final deterministic name
  * (`<base>.forget.parquet`) with `ATOMIC_MOVE` — the name only ever
  * appears fully written — and only then is the original deleted. A
  * crash leaves (old only), (old + new: the documented
  * duplicate-window) or (new only); [[healPending]] resolves the
  * middle state by dropping the stale original, and sweeps any staging
  * residue, making every operation idempotent under retry.
  *
  * Public surface: [[compact]] (periodic maintenance a deployment
  * schedules) and its receipt; the per-file verbs stay the forget
  * legs' internals. */
object ParquetSurgery {

  val StagePrefix = ".graft-forget-stage-"

  /** [[compact]]'s staging dir and commit marker (both dot-named —
    * invisible to Spark's listing and to [[dataFiles]]). */
  val CompactStageName = ".graft-compact-stage"
  val CompactMarkerName = ".graft-compact-commit"

  /** Driver-side thread cap for per-file surgery ([[inParallel]]): a
    * scattered takedown over many files must not serialize into
    * touched-count × per-job latency (the measured failure shape: 15
    * one-file jobs at ~1 s each), but an unbounded fan-out would flood
    * the scheduler with tiny jobs. 8 concurrent single-file rewrites
    * keeps the local[32] scheduler fed without starving a concurrent
    * query; on a cluster, each rewrite is one small job and the
    * scheduler pools them fairly. */
  val SurgeryParallelism: Int = 8

  /** Run `op` over `items` on up to [[SurgeryParallelism]] threads —
    * the batched form of the per-touched-file driver loop. Safe because
    * each file's surgery is independent by construction: its staging
    * dir is freshly created next to it, its deterministic replacement
    * name is its own, and Spark schedules concurrent jobs from one
    * session. Per-file atomic heal-first semantics are untouched — this
    * parallelizes ACROSS files, never within one file's
    * stage-rename-delete sequence. Results return in input order.
    *
    * Failure semantics (exactly what runs, exactly what rethrows): the
    * first item to FAIL trips a shared flag BEFORE its future settles,
    * so every item whose task starts after that deterministically SKIPS
    * its surgery — a failing batch never keeps performing new file
    * surgeries behind the caller's back; items already IN FLIGHT when
    * the failure lands finish their own atomic sequence (never
    * interrupted mid stage-rename-delete, and never future-cancelled:
    * `cancel(false)` on a running `FutureTask` would detach `get()`
    * from the still-running body). The collector awaits EVERY future —
    * nothing is still running when it returns — then rethrows the
    * first REAL failure in input order (skip markers are never
    * surfaced as the cause). A failed batch is re-runnable as a whole:
    * [[healPending]] covers every file's crash window, completed items
    * are idempotent, and skipped items simply run on the retry. */
  def inParallel[A, B](items: Seq[A])(op: A => B): Seq[B] =
    if (items.sizeIs <= 1) items.map(op)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(SurgeryParallelism, items.size))
      try {
        // trip-on-first-failure: set by the failing task itself BEFORE
        // its future settles, so any task starting after a failure is
        // deterministically skipped (no race against the collector)
        val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
        val futures = items.map { a =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = {
              if (failed.get())
                throw new java.util.concurrent.CancellationException(
                  "skipped: an earlier file surgery in this batch failed")
              try op(a)
              catch { case e: Throwable => failed.set(true); throw e }
            }
          })
        }
        val outcomes = new Array[Either[Throwable, B]](futures.size)
        var firstFailure: Option[Throwable] = None
        // await every future — get() blocks until the task's body has
        // actually finished (flag-skipped tasks settle immediately);
        // no future is ever cancel()ed, so nothing runs past here
        futures.zipWithIndex.foreach { case (f, i) =>
          try outcomes(i) = Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              e.getCause match {
                case skip: java.util.concurrent.CancellationException =>
                  outcomes(i) = Left(skip) // flag-skipped at start
                case real =>
                  if (firstFailure.isEmpty) firstFailure = Some(real)
                  outcomes(i) = Left(real)
              }
          }
        }
        firstFailure.foreach(e => throw e)
        require(outcomes.forall(_.isRight),
          "file surgeries were skipped without a recorded failure")
        outcomes.iterator.map(_.toOption.get).toSeq
      } finally { pool.shutdown(); () }
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }

  /** Drop originals whose deterministic replacement exists; sweep stale
    * staging dirs; resolve a crashed [[compact]] (forward past the
    * commit marker, back before it). Run before every read or
    * mutation. */
  def healPending(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      healCompactionState(dir)
      // collect BEFORE deleting — a walk must not mutate under itself
      val (pending, staleTmp) = {
        val s = Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          val all = s.iterator().asScala.toList
          (all.filter(_.getFileName.toString.endsWith(".forget.parquet")),
            all.filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.startsWith(StagePrefix)))
        } finally s.close()
      }
      pending.foreach { p =>
        val orig = p.getParent.resolve(p.getFileName.toString
          .stripSuffix(".forget.parquet") + ".parquet")
        Files.deleteIfExists(orig); ()
      }
      staleTmp.foreach(deleteRecursively)
    }
  }

  /** Data files of the dataset (hidden '_'/'.' paths excluded — the
    * same filter Spark's own listing applies). Empty after a takedown
    * that killed every row: readers must report 0, not throw on schema
    * inference over a bare `_SUCCESS`. */
  def dataFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        // segments relative to the dataset root: a hidden ('.'/'_')
        // segment anywhere below it hides the file (Spark's own listing
        // rule) — covers [[StagePrefix]] dirs and the compact stage
        n.endsWith(".parquet") && !root.relativize(p).iterator()
          .asScala.exists { seg =>
            val sn = seg.getFileName.toString
            sn.startsWith("_") || sn.startsWith(".")
          }
      }.toList
    } finally s.close()
  }

  /** Replace one part file with `replacement`'s rows (one staged part,
    * atomic rename, drop original). An EMPTY replacement just deletes
    * the original — the file died whole.
    *
    * The replacement keeps the deterministic name
    * `<base>.forget.parquet` PERMANENTLY, and a later takedown touching
    * the same file therefore compounds (`<base>.forget.forget.parquet`,
    * and so on) — INTENDED: the suffix chain is what lets
    * [[healPending]] resolve every crash state without a manifest
    * (each level's `X.forget.parquet` names exactly the `X` it
    * supersedes; renaming back to the base name would make a heal
    * delete the WRONG file). The name grows one constant suffix per
    * takedown batch that touches the file — cosmetic, bounded by the
    * takedown count, and filesystem name limits (255 bytes ≈ 17
    * batches on one file) are far beyond any plausible per-file
    * takedown history; a periodic compaction rewrite of the dataset
    * resets the chain wholesale if a deployment ever cares. */
  def replaceFile(spark: SparkSession, original: Path,
                  replacement: DataFrame): Unit = {
    // ONE staged single-part write evaluates the replacement exactly
    // once — formerly localCheckpoint + head + write, three Spark jobs
    // per touched file; emptiness ("the file died whole") is read from
    // the staged part's parquet footer, which costs no job at all
    val tmp = Files.createTempDirectory(original.getParent, StagePrefix)
    replacement.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val one = {
      val s = Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      } finally s.close()
    }
    require(one.size <= 1, s"expected at most one part file, got $one")
    if (one.nonEmpty && parquetRowCount(spark, one.head) > 0L) {
      val target: Path = original.getParent.resolve(
        original.getFileName.toString.stripSuffix(".parquet")
          + ".forget.parquet")
      Files.move(one.head, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    deleteRecursively(tmp)
    // deterministic-name replacement is in place (or the file died
    // whole) — dropping the original completes this file
    Files.deleteIfExists(original); ()
  }

  /** `f` over one parquet file's footer, read on the driver — no Spark
    * job. */
  def readFooter[A](spark: SparkSession, p: Path)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): A = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri),
      spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try f(r.getFooter) finally r.close()
  }

  /** Row count straight from a parquet file's footer — free relative to
    * a Spark job (the writer just produced the file; its footer is in
    * page cache). */
  private def parquetRowCount(spark: SparkSession, p: Path): Long =
    readFooter(spark, p)(_.getBlocks.stream().mapToLong(_.getRowCount).sum())

  /** [[compact]]'s receipt: rows carried through, file counts either
    * side, and how many inputs wore a `.forget` chain. */
  final case class CompactReceipt(rows: Long, filesBefore: Long,
                                  filesAfter: Long, chainedBefore: Long)

  /** PERIODIC MAINTENANCE for a surgery-worn dataset — the compaction
    * rewrite [[replaceFile]]'s scaladoc gestures at: repeated takedowns
    * grow `<base>.forget.forget….parquet` name chains and shrink
    * touched files toward coalesce(1) fragments; this rewrites the
    * dataset into ~`targetBytes` parts under FRESH names (the chain
    * resets wholesale) and leaves row content identical.
    *
    * Crash discipline (the hot-path heal rule cannot cover a
    * cross-file rewrite — a merged part has no single original its
    * name could supersede — so compaction carries its own bounded
    * commit record): the compacted copy is staged COMPLETELY under the
    * dot-named [[CompactStageName]] (invisible to readers), then a
    * commit marker listing every staged part and every original is
    * published with one ATOMIC_MOVE — the marker's existence is the
    * commit point, and the swap (move staged parts in, delete listed
    * originals, drop marker, drop stage) is executed by
    * [[healCompactionState]], the SAME code every later
    * [[healPending]] runs: a crash anywhere resumes forward after the
    * marker (moves and deletes are idempotent; data never disappears —
    * parts move in before originals go) and rolls back before it (a
    * stage without a marker was never authoritative and is swept,
    * originals untouched). The duplicate window mid-swap matches the
    * takedown one already documented on [[replaceFile]].
    *
    * Run it between takedowns, not concurrently with one (both verbs
    * heal first; the takedown legs already serialize per store).
    * Partition-DIRECTORY layouts are rewritten flat — compact a
    * hive-partitioned dataset per partition dir. At scale each part is
    * one task's sequential write; `targetBytes` defaults to the
    * classic 128 MiB scan unit. */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L << 20): CompactReceipt = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    healPending(dir)
    val files = dataFiles(dir)
    if (files.isEmpty) return CompactReceipt(0L, 0L, 0L, 0L)
    val root = Paths.get(dir)
    val chained = files.count(_.getFileName.toString.contains(".forget."))
    val totalBytes = files.map(Files.size).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .min(1 << 20).toInt
    val stage = root.resolve(CompactStageName)
    deleteRecursively(stage)
    // read the exact healed file list (not the dir: nothing may race in)
    spark.read.parquet(files.map(_.toString): _*)
      .repartition(nOut).write.mode("overwrite").parquet(stage.toString)
    val staged = {
      val s = Files.list(stage)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
            !n.startsWith(".")).toList.sorted
      } finally s.close()
    }
    require(staged.nonEmpty, s"compaction of $dir staged no parts")
    // staged names carry Spark's per-run uuid — a collision with a live
    // file would make the swap's REPLACE_EXISTING destructive
    staged.foreach(n => require(!Files.exists(root.resolve(n)),
      s"staged part $n collides with a live file in $dir"))
    val rows = spark.read.parquet(stage.toString).count()
    // the commit point: marker published whole via temp + atomic move
    val tmp = Files.createTempFile(root, ".graft-compact-marker", ".tmp")
    Files.write(tmp,
      (staged.map("stage:" + _) ++
        files.map(f => "orig:" + root.relativize(f).toString))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(tmp, root.resolve(CompactMarkerName),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    healCompactionState(dir) // the swap IS the roll-forward — one path
    CompactReceipt(rows, files.size.toLong, staged.size.toLong, chained)
  }

  /** Resolve a [[compact]] in any crash state — called first by every
    * [[healPending]]. Marker present ⇒ the staged copy is complete and
    * authoritative: finish the swap (idempotent under re-crash: a part
    * already moved is skipped, a listed original already deleted is a
    * no-op). Marker absent but stage present ⇒ pre-commit crash: sweep
    * the stage, originals stand untouched. */
  private def healCompactionState(dir: String): Unit = {
    val root = Paths.get(dir)
    val marker = root.resolve(CompactMarkerName)
    val stage = root.resolve(CompactStageName)
    if (Files.exists(marker)) {
      import scala.jdk.CollectionConverters._
      val lines = Files.readAllLines(marker).asScala.toList
      lines.collect { case l if l.startsWith("stage:") =>
        l.stripPrefix("stage:") }.foreach { n =>
        val from = stage.resolve(n)
        if (Files.exists(from))
          Files.move(from, root.resolve(n),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        else require(Files.exists(root.resolve(n)),
          s"compacted part $n of $dir missing from both the stage and " +
            "the dataset — the committed compaction cannot complete")
      }
      lines.collect { case l if l.startsWith("orig:") =>
        l.stripPrefix("orig:") }.foreach { n =>
        Files.deleteIfExists(root.resolve(n)); () }
      Files.deleteIfExists(marker)
      deleteRecursively(stage)
    } else if (Files.exists(stage)) deleteRecursively(stage)
  }
}
