package graft.store

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.countJobs

/** [[Snapshots.init]] on a new store: the empty `snap-0` is an empty
  * directory, made with no Spark job; every write shape reads it back as
  * 0 rows and then writes as usual, and a `snap-0` written as an empty
  * parquet table still opens. A store the removed bucketed layout wrote
  * fails loud. */
class SnapshotsInitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("p", LongType)))

  private def rows(s: Snapshots): Set[(Long, Long)] = s.read().as[(Long, Long)].collect().toSet

  private val batch = Seq((1L, 0L), (2L, 1L))

  test("init of an unbucketed store runs no job; every mode reads it empty, then writes") {
    def fresh(partitioned: Boolean) = {
      val root = Files.createTempDirectory("graft-snap-init").toString
      val s = new Snapshots(spark, root, schema,
        partitionByCol = if (partitioned) Some("p") else None, compactEvery = 2)
      assert(countJobs(s.init()) == 0)
      assert(s.read().count() == 0 && s.readBase().count() == 0 && s.deltaCount == 0)
      s
    }
    // replace
    val replaced = fresh(partitioned = false)
    replaced.replace(batch.toDF("k", "p"))
    assert(rows(replaced) == batch.toSet)
    // a delta log, through the commit step and its compaction
    val log = fresh(partitioned = false)
    log.commit(batch.toDF("k", "p"))
    assert(rows(log) == batch.toSet && log.deltaCount == 1)
    log.commit(Seq((3L, 1L)).toDF("k", "p"))
    assert(rows(log) == (batch :+ ((3L, 1L))).toSet && log.deltaCount == 0)
    // segments
    val segs = fresh(partitioned = false)
    segs.appendSegment(batch.toDF("k", "p"), replaceLast = false)
    segs.appendSegment(Seq((3L, 1L)).toDF("k", "p"), replaceLast = true)
    assert(rows(segs) == Set((3L, 1L)))
    // hive-partitioned
    val part = fresh(partitioned = true)
    part.appendDelta(batch.toDF("k", "p"), token = Some("e-1"))
    assert(rows(part) == batch.toSet)
    part.replace(part.read())
    assert(rows(part) == batch.toSet)
  }

  test("a bucketed store keeps its table write and reads it empty, then merges") {
    // a manifest the bucketed layout wrote, made by hand: every read and
    // write refuses it, naming the store and the line, before it changes
    // a file
    val root = Files.createTempDirectory("graft-snap-init-b")
    batch.toDF("k", "p").write.parquet(root.resolve("snap-1").toString)
    val manifest = "#bucketed-by k 2\nsnap-1"
    Files.write(root.resolve("current"), manifest.getBytes)
    val s = new Snapshots(spark, root.toString, schema)
    val ops = Seq[(String, () => Any)]("init" -> (() => s.init()), "read" -> (() => s.read()),
      "readBase" -> (() => s.readBase()), "live" -> (() => s.live),
      "deltaCount" -> (() => s.deltaCount), "replace" -> (() => s.replace(batch.toDF("k", "p"))),
      "appendDelta" -> (() => s.appendDelta(batch.toDF("k", "p"))),
      "commit" -> (() => s.commit(batch.toDF("k", "p"))),
      "appendSegment" -> (() => s.appendSegment(batch.toDF("k", "p"), replaceLast = false)))
    ops.foreach { case (op, f) =>
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains(root.toString) && e.getMessage.contains("#bucketed-by k 2") &&
        e.getMessage.contains("no longer supported"), s"$op: ${e.getMessage}")
    }
    assert(Files.readString(root.resolve("current")) == manifest)
    val listing = Files.list(root)
    try assert(listing.iterator().asScala.map(_.getFileName.toString).toSet == Set("current", "snap-1"))
    finally listing.close()
    assert(spark.read.parquet(root.resolve("snap-1").toString).as[(Long, Long)].collect().toSet == batch.toSet)
  }

  test("a snap-0 written as an empty parquet table still opens") {
    val root = Files.createTempDirectory("graft-snap-init-old")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(root.resolve("snap-0").toString)
    Files.write(root.resolve("current"), "snap-0".getBytes)
    val s = new Snapshots(spark, root.toString, schema)
    s.init()
    assert(s.read().count() == 0)
    s.appendDelta(batch.toDF("k", "p"))
    assert(rows(s) == batch.toSet)
    // and an item store over it reads through its file index
    val items = Files.createTempDirectory("graft-snap-init-items")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.schema.Item.schema).write.parquet(items.resolve("snap-0").toString)
    Files.write(items.resolve("current"), "snap-0".getBytes)
    val st = new ItemStore(spark, items.toString)
    st.init()
    assert(st.current().count() == 0 && st.latestId().isEmpty && st.count() == 0)
  }
}
