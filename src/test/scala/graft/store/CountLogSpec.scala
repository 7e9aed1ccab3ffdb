package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.countJobs

/** The additive count log ([[CountLog]]): per-key sums over every delta,
  * a key leaving only when all of its sums are 0; replayed tokens fold
  * nothing twice; compaction changes no total; a negative sum fails loud
  * naming the root and the row; a store written by hand in the delta-log
  * layout reopens with the same totals. */
class CountLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false)))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-countlog-$name").toString

  private def fresh(root: String, compactEvery: Int = 16): CountLog = {
    val log = new CountLog(spark, root, schema, "k", compactEvery)
    log.init()
    log
  }

  private def counts(rows: (String, Long, Long)*): DataFrame =
    rows.toDF("k", "a", "b")

  private def totals(log: CountLog): Map[String, (Long, Long)] =
    log.totals().as[(String, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap

  private def manifest(root: String): String =
    new String(Files.readAllBytes(Paths.get(root, "current")))

  private def dirs(root: String): Set[String] = {
    val listing = Files.list(Paths.get(root))
    try listing.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
    finally listing.close()
  }

  test("a key leaves the totals only when every one of its sums is 0") {
    val log = fresh(tmp("multi"))
    log.add(counts(("x", 2L, 1L), ("y", 1L, 0L), ("z", 1L, 1L)), "b0")
    log.add(counts(("x", -2L, 0L), ("y", -1L, 0L), ("z", 0L, -1L)), "r1")
    assert(totals(log) == Map("x" -> ((0L, 1L)), "z" -> ((1L, 0L))))
    assert(log.checkedTotals().count() == 2L)
  }

  test("add evaluates the delta once; a replayed token folds nothing " +
    "twice, also after the delta was compacted") {
    val root = tmp("replay")
    val log = fresh(root, compactEvery = 2)
    val evals = spark.sparkContext.longAccumulator("countlog-evals")
    val counted = udf { (a: Long) => evals.add(1L); a }
    val b0 = counts(("x", 1L, 1L), ("y", 2L, 0L))
      .withColumn("a", counted($"a"))
    log.add(b0, "b0")
    assert(evals.value == 2L, "the delta's plan ran more than once")
    val once = manifest(root)
    // the replayed token is recognised before the delta is built
    assert(countJobs(log.add(b0, "b0")) == 0 && evals.value == 2L)
    assert(manifest(root) == once && totals(log) ==
      Map("x" -> ((1L, 1L)), "y" -> ((2L, 0L))))
    log.add(counts(("x", 1L, 0L)), "b1") // second delta: compacts
    assert(!manifest(root).contains("delta-b0"))
    assert(countJobs(log.add(counts(("x", 1L, 1L), ("y", 2L, 0L)), "b0")) == 0)
    assert(totals(log) == Map("x" -> ((2L, 1L)), "y" -> ((2L, 0L))))
  }

  test("compaction at compactEvery leaves totals identical and one base " +
    "directory") {
    val root = tmp("compact")
    val log = fresh(root, compactEvery = 3)
    val reference = fresh(tmp("compact-ref"), compactEvery = 100)
    val deltas = Seq(
      counts(("x", 1L, 2L), ("y", 3L, 0L)),
      counts(("x", -1L, 0L), ("z", 4L, 4L)),
      counts(("y", -3L, 0L), ("z", 1L, -4L), ("w", 0L, 7L)))
    deltas.zipWithIndex.foreach { case (d, i) =>
      log.add(d, s"b$i")
      reference.add(d, s"b$i")
      if (i < 2) assert(dirs(root).size == i + 2, s"compacted early: ${dirs(root)}")
    }
    assert(totals(log) == totals(reference))
    assert(totals(log) == Map("x" -> ((0L, 2L)), "z" -> ((5L, 0L)),
      "w" -> ((0L, 7L))))
    val live = manifest(root).split("\n").toSeq
    assert(live.size == 1 && live.head.startsWith("snap-"), live)
    assert(dirs(root) == live.toSet, "superseded directories left behind")
  }

  test("over-retraction fails naming the root, the row and \"negative " +
    "total\"; the collected-rows check runs no job") {
    val root = tmp("negative")
    val log = fresh(root)
    log.add(counts(("x", 1L, 1L), ("y", 1L, 1L)), "b0")
    log.add(counts(("x", -2L, 0L)), "r1")
    val e = intercept[IllegalArgumentException](log.checkedTotals())
    for (part <- Seq(root, "[x,-1,1]", "negative total"))
      assert(e.getMessage.contains(part), e.getMessage)
    val rows = log.totals().collect().toSeq
    var e2: IllegalArgumentException = null
    assert(countJobs {
      e2 = intercept[IllegalArgumentException](log.requireNonNegative(rows))
    } == 0)
    assert(e2.getMessage == e.getMessage)
    log.requireNonNegative(rows.filter(_.getString(0) == "y"))
  }

  test("a store in the delta-log layout written by hand (manifest plus " +
    "delta-b0/delta-r1 directories) reopens with the same totals") {
    val root = tmp("layout")
    Files.createDirectories(Paths.get(root, "snap-0"))
    counts(("x", 3L, 1L), ("y", 1L, 1L)).write.parquet(s"$root/delta-b0")
    counts(("y", -1L, -1L)).write.parquet(s"$root/delta-r1")
    Files.write(Paths.get(root, "current"),
      "snap-0\ndelta-b0\ndelta-r1".getBytes)
    val log = fresh(root)
    assert(totals(log) == Map("x" -> ((3L, 1L))))
    log.add(counts(("x", 3L, 1L), ("y", 1L, 1L)), "b0") // a replay
    log.add(counts(("y", -1L, -1L)), "r1")
    assert(manifest(root) == "snap-0\ndelta-b0\ndelta-r1")
    log.add(counts(("y", 2L, 0L)), "b1")
    assert(totals(log) == Map("x" -> ((3L, 1L)), "y" -> ((2L, 0L))))
  }
}
