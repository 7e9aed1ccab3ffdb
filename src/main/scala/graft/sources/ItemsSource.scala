package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.{Fetcher, HttpFetcher}

/** The raw HN item rows (SURVEY.md S1-S4) that [[ItemsStream]] reads:
  * `(id, body)`, a null body for a missing or deleted id;
  * [[graft.schema.Item.normalize]] is the downstream relational step
  * (F8/P8/P9). The batch fetch is [[graft.ingest.BulkFetch]].
  *
  * A fetcher spec selects the transport: "http" (the real API, only
  * usable with egress) or "fake:<key>" resolving through [[registerFake]]
  * — test/local-mode injection of scripted fetchers.
  */
object ItemsSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("body", StringType, nullable = true)))

  /** Scripted-fetcher injection for tests/local mode (single-JVM only —
    * a cluster deployment constructs fetchers from options instead). */
  private val fakes = TrieMap.empty[String, Fetcher]
  def registerFake(key: String, f: Fetcher): Unit = fakes.put(key, f)

  private[graft] def resolve(spec: String): Fetcher = spec match {
    case "http" => new HttpFetcher()
    case s if s.startsWith("fake:") =>
      fakes.getOrElse(s.stripPrefix("fake:"),
        throw new IllegalArgumentException(s"unregistered fake fetcher: $s"))
    case other =>
      throw new IllegalArgumentException(s"unknown fetcher spec: $other")
  }
}

/** One task's contiguous id interval `[lower, upper]`: the reference's
  * fetch thread pool (hnarchive.py:133-154) re-expressed as Spark tasks.
  * A fetch failure fails the task (the reference's consumer-thread
  * re-raise); Spark's task retry is the outer retry loop around the
  * fetcher's own per-request backoff. */
case class IdRangePartition(lower: Long, upper: Long, fetcherSpec: String)
  extends InputPartition

/** Reads an [[IdRangePartition]] as [[ItemsSource.schema]] rows, one
  * fetch per id. */
final class ItemsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[IdRangePartition]
    new PartitionReader[InternalRow] {
      private val fetcher = ItemsSource.resolve(p.fetcherSpec)
      private var id = p.lower - 1
      private var body: Option[String] = None

      override def next(): Boolean = {
        if (id >= p.upper) return false
        id += 1
        body = fetcher.fetch(id)
        true
      }

      override def get(): InternalRow =
        InternalRow(id, body.map(UTF8String.fromString).orNull)

      override def close(): Unit = ()
    }
  }
}
