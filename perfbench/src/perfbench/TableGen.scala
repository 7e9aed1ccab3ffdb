package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic generator for the relational test tables the declared
  * queries read (`Tables.names`), shaped like the sf0.01 tables described in
  * FIXTURES.md: a TPC-H-like star schema, an `events` stream, a word-soup
  * `documents` corpus with planted near-duplicates, and unit-norm 64-d
  * `embeddings`.
  *
  * The tables depend only on [[Seed]] and this file, so the expected result
  * digests in `expected.tsv` stay valid for every workload seed and every
  * version of the program; `run.py` writes them once per version of this
  * file, in a JVM of their own, before a run starts. Each table is written
  * as ONE parquet file
  * `<dir>/<name>.parquet`, the layout `Tables.load` and DuckDB both read.
  * Timestamps are written timezone-naive (TIMESTAMP_NTZ), as the reference
  * tables are.
  */
object TableGen {
  /** Seed of the generated tables; fixed so `expected.tsv` holds for every
    * workload seed. */
  val Seed = 42L
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val LineItems = 60000
  val Events = 10000
  val Users = 150
  val Documents = 500
  val Vectors = 500
  val Dim = 64

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Array("blue", "old", "red", "small", "new", "hot", "large", "cold")
  private val nouns = Array("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
  private val partTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("view", "click", "signup", "purchase", "error")
  private val langs = Array("en", "de", "es", "fr", "zh")
  val vocab: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private def pick(r: java.util.SplittableRandom, xs: String*): String = xs(r.nextInt(xs.size))

  private def money(r: java.util.SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  private def day(r: java.util.SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val r = new java.util.SplittableRandom(seed)
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit =
      writeOne(spark, dir, name, schema, rows)
    val int = IntegerType; val long = LongType; val str = StringType
    val dbl = DoubleType; val ts = TimestampNTZType
    def schema(cols: (String, DataType)*): StructType =
      StructType(cols.map { case (n, t) => StructField(n, t) })

    table("region", schema("r_regionkey" -> int, "r_name" -> str),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    table("nation", schema("n_nationkey" -> int, "n_name" -> str, "n_regionkey" -> int),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    table("customer", schema("c_custkey" -> long, "c_name" -> str, "c_nationkey" -> int,
      "c_acctbal" -> dbl, "c_mktsegment" -> str),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), segments(r.nextInt(segments.length)))))
    table("supplier", schema("s_suppkey" -> long, "s_name" -> str, "s_nationkey" -> int,
      "s_acctbal" -> dbl),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    table("part", schema("p_partkey" -> long, "p_name" -> str, "p_brand" -> str,
      "p_type" -> str, "p_size" -> int, "p_retailprice" -> dbl),
      (0 until Parts).map(i => Row(i.toLong,
        adjectives(r.nextInt(adjectives.length)) + " " + nouns(r.nextInt(nouns.length)),
        s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val orderEpoch = LocalDateTime.of(1995, 1, 1, 0, 0)
    table("orders", schema("o_orderkey" -> long, "o_custkey" -> long,
      "o_Orderstatus" -> str, "o_totalprice" -> dbl, "o_orderdate" -> ts,
      "o_orderpriority" -> str),
      (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong,
        pick(r, "F", "O", "P"), money(r, 1000.0, 500000.0),
        day(r, orderEpoch, 2404), priorities(r.nextInt(priorities.length)))))
    val shipEpoch = LocalDateTime.of(1995, 1, 2, 0, 0)
    table("lineitem", schema("l_orderkey" -> long, "l_partkey" -> long,
      "l_suppkey" -> long, "l_linenumber" -> int, "l_quantity" -> dbl,
      "l_extendedprice" -> dbl, "l_discount" -> dbl, "l_tax" -> dbl,
      "l_returnflag" -> str, "l_linestatus" -> str, "l_shipdate" -> ts),
      (0 until LineItems).map(_ => Row(r.nextInt(Orders).toLong,
        r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(r, 900.0, 105000.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        pick(r, "A", "N", "R"), pick(r, "O", "F"),
        day(r, shipEpoch, 2498))))
    // events: ids in time order, ~30 days from 2024-01-01, microsecond stamps
    val evEpochMicros = 1704067200L * 1000000L
    val meanGapMicros = 30L * 86400L * 1000000L / Events
    var tMicros = evEpochMicros
    table("events", schema("event_id" -> long, "ts" -> ts, "user_id" -> long,
      "event_type" -> str, "value" -> dbl, "props" -> str),
      (0 until Events).map { i =>
        tMicros += (-math.log(1.0 - r.nextDouble()) * meanGapMicros).toLong
        val t = LocalDateTime.ofEpochSecond(Math.floorDiv(tMicros, 1000000L),
          (Math.floorMod(tMicros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
        Row(i.toLong, t, r.nextInt(Users).toLong, eventTypes(r.nextInt(eventTypes.length)),
          math.round(-math.log(1.0 - r.nextDouble()) * 5000.0) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      })
    // documents: 10..100 words of the shared vocabulary; ~5% are copies of
    // another document of the same source block (`src<i % 20>`) with " dup"
    // appended: planted near-duplicates that the block-wise pair queries
    // (q22) find. Two copies of one source are exact duplicates of each other.
    val base = Array.fill(Documents) {
      Array.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val texts = base.indices.map { i =>
      if (r.nextInt(100) < 5) base(r.nextInt(Documents / 20) * 20 + i % 20) + " dup"
      else base(i)
    }
    table("documents", schema("doc_id" -> long, "text" -> str, "lang" -> str,
      "source" -> str, "n_chars" -> long),
      texts.zipWithIndex.map { case (t, i) =>
        val l = if (r.nextInt(100) < 41) "en" else langs(1 + r.nextInt(4))
        Row(i.toLong, t, l, s"src${i % 20}", t.length.toLong)
      })
    table("embeddings", schema("vec_id" -> long,
      "embedding" -> ArrayType(FloatType), "label" -> int),
      (0 until Vectors).map { i =>
        val v = Array.fill(Dim)(gaussian(r))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
  }

  private def gaussian(r: java.util.SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  private def writeOne(spark: SparkSession, dir: String, name: String,
                       schema: StructType, rows: Seq[Row]): Unit = {
    val staging = Paths.get(dir, s".$name.staging")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    deleteTree(staging)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }
}
