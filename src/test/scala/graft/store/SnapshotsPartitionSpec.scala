package graft.store

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The hive-partitioned [[Snapshots]] layout (`partitionByCol`), added for
  * the BM25 standing index: snapshots and deltas lay out `col=v/` dirs for
  * directory pruning, the spec is recorded in the manifest, and a
  * mismatched open fails loud instead of silently flattening the layout. */
class SnapshotsPartitionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("p", LongType)))

  test("partitioned store: layout on disk, roundtrip, partitioned deltas") {
    val root = Files.createTempDirectory("graft-snap-part").toString
    val s = new Snapshots(spark, root, schema, partitionByCol = Some("p"))
    s.init()
    s.replace(Seq((1L, 0L), (2L, 1L), (3L, 1L)).toDF("k", "p"))
    // the snapshot directory carries the pruning layout
    val snapDirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
    assert(snapDirs.length == 1)
    assert(snapDirs.head.listFiles().count(f =>
      f.isDirectory && f.getName.startsWith("p=")) == 2)
    assert(s.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 0L), (2L, 1L), (3L, 1L)))
    // deltas keep the same layout and union in
    s.appendDelta(Seq((4L, 0L)).toDF("k", "p"), token = Some("e-1"))
    assert(s.deltaCount == 1)
    assert(s.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 0L), (2L, 1L), (3L, 1L), (4L, 0L)))
    // compaction folds back to one partitioned base
    s.replace(s.read())
    assert(s.deltaCount == 0)
    assert(s.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 0L), (2L, 1L), (3L, 1L), (4L, 0L)))
  }

  test("a mismatched partition spec fails loud on open") {
    val root = Files.createTempDirectory("graft-snap-part2").toString
    val s = new Snapshots(spark, root, schema, partitionByCol = Some("p"))
    s.init()
    // opened WITHOUT the recorded layout → must refuse, not flatten
    val flat = new Snapshots(spark, root, schema)
    val e1 = intercept[IllegalStateException](flat.read())
    assert(e1.getMessage.contains("partition layout"))
    // opened with a DIFFERENT column → must refuse too
    val other = new Snapshots(spark, root, schema, partitionByCol = Some("k"))
    val e2 = intercept[IllegalStateException](other.read())
    assert(e2.getMessage.contains("partition layout"))
  }
}
