package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ingest.{BulkFetch, FakeFetcher}
import graft.schema.Item

/** The raw item reader [[ItemsStream]] plans its id ranges onto: one
  * fetch per id of each partition, tombstone nulls, and the downstream
  * normalization shared with the batch fetch. */
class ItemsSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val bodies = Map(
    1L -> """{"id":1,"type":"story","by":"alice","time":100,"title":"t"}""",
    2L -> """{"id":2,"type":"comment","by":"bob","time":110,"parent":1}""",
    4L -> """{"id":4,"type":"comment","time":120}""")

  /** Each partition's (id, body) rows, read through [[ItemsReaderFactory]]. */
  private def readRanges(ranges: Seq[(Long, Long)], fetcher: String) =
    ranges.map { case (lo, hi) =>
      val reader = new ItemsReaderFactory()
        .createReader(IdRangePartition(lo, hi, fetcher))
      val rows = Iterator.continually(reader).takeWhile(_.next()).map { r =>
        val row = r.get()
        row.getLong(0) -> Option(row.getUTF8String(1)).map(_.toString)
      }.toList
      reader.close()
      rows
    }

  test("reads the id range across partitions; missing ids yield null bodies") {
    ItemsSource.registerFake("t1", new FakeFetcher(bodies, maxId = 5))
    val parts = readRanges(Seq((1L, 2L), (3L, 4L), (5L, 5L)), "fake:t1")
    // each partition reads exactly its own interval, in id order
    assert(parts.map(_.map(_._1)) == Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L)))
    val rows = parts.flatten.toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(rows(1L).isDefined && rows(3L).isEmpty && rows(5L).isEmpty)
  }

  test("composes with Item.normalize into typed archive rows") {
    val fetcher = new FakeFetcher(bodies, maxId = 5)
    ItemsSource.registerFake("t2", fetcher)
    import spark.implicits._
    val raw = readRanges(Seq((1L, 3L), (4L, 5L)), "fake:t2").flatten
      .map { case (id, body) => (id, body.orNull) }.toDF("id", "body")
    val viaReader = Item.normalize(raw, lit(999L))
    val fetched = BulkFetch.fetchItems(spark, fetcher, 1L, 5L, parallelism = 2,
      retrievedAt = 999L)
    val items = fetched.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("author")).toMap
    assert(items.keySet == Set(1L, 2L, 4L)) // 3,5 tombstoned
    assert(items(1L) == "alice" && items(4L) == null)
    // the stream's reader rows normalize to exactly the batch fetch's rows
    assert(viaReader.collect().map(_.toSeq).toSet ==
      fetched.collect().map(_.toSeq).toSet)
  }
}
