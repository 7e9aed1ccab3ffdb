package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] takes `(spark, sfDir)` and reads
  * through here, so the scale factor is purely an input path concern and the
  * same plan runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1+ (bench).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Footer schemas, keyed per (dir, table): schema inference on a
    * schemaless `read.parquet` runs a footer-read JOB on every call, and
    * every query execution re-resolves its tables — so an uncached loader
    * pays 1–3 jobs per run just to rediscover schemas that never change.
    * The test tables are immutable driver artifacts; caching their
    * inferred schema per path is exactly what a production deployment
    * gets from a catalog/metastore. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts arrives in whatever physical shape the generator chose —
    * nanosecond parquet (which Spark 4 refuses to read as a timestamp:
    * read as a nanos-long via the legacy conf and truncate to micros) or
    * naive microseconds (which Spark 4 infers as TIMESTAMP_NTZ: cast to
    * the session type, since watermarks and window() require TIMESTAMP).
    * Either way the file is timezone-naive and the session TZ is pinned
    * UTC, so the resulting instant matches DuckDB's naive reading; never
    * output sub-second values in oracle-checked queries.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views for `spark.sql` use (events goes
    * through its nanos-normalizing loader), plus the native functions SQL
    * text can call by name ([[graft.functions.register]]). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    graft.functions.register(spark)
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
  }
}
