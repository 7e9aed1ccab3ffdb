package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.ingest.{Fetcher, HttpFetcher, Update}
import graft.render.Render
import graft.sources.ItemsSource
import graft.store.ItemStore
import graft.streaming.LivestreamRunner

/** Command-line surface mirroring the reference's subcommands (SURVEY.md
  * §3; `main` hnarchive.py:568-741) so a reference user can run the same
  * verbs against the Spark engine:
  *
  *   get          --db DIR [--lower N] [--upper N] [--threads N]
  *   update       --db DIR [--threads N]
  *   update_items --db DIR --days N [--only_mature] [--threads N]
  *   livestream   --db DIR [--max_items N] [--commit_period N]
  *   html_render  --db DIR --ids 1,2,3 [--output TEMPLATE]   ({id} substituted)
  *
  * plus the engine's analytics surface beyond the reference:
  *
  *   query        --name qNN_xxx [--sf DIR] [--out DIR] [--limit N]
  *                runs any registered query; writes parquet to --out or
  *                prints the first N rows
  *
  * `--fetcher http|fake:KEY` selects the transport (http needs egress).
  * The store is clustered by id: the first `get` into an empty store
  * writes the base, later `get`, `update` and `livestream` batches append
  * above the max id and rewrite only the open tail, and `get`'s store
  * size is read from the parquet footers (see ItemStore).
  *
  * Each verb accepts only its own options (`verbOptions`); any other
  * `--name` fails, naming it and the verb, rather than being ignored.
  */
object Cli {

  /** The options each verb reads. */
  private val verbOptions: Map[String, Set[String]] = Map(
    "get" -> Set("db", "fetcher", "lower", "upper", "threads"),
    "update" -> Set("db", "fetcher", "threads"),
    "update_items" -> Set("db", "fetcher", "days", "only_mature", "threads"),
    "livestream" -> Set("db", "fetcher", "max_items", "commit_period"),
    "html_render" -> Set("db", "ids", "output"),
    "query" -> Set("name", "sf", "out", "limit"),
    "trending" -> Set("store", "checkpoint", "fetcher", "start", "key", "window", "k",
      "compact_every", "drain", "timeout_sec", "limit"),
    "datacard" -> Set("sf", "threshold_milli", "out"))

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }
  private def flag(args: Array[String], name: String): Boolean =
    args.contains(s"--$name")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Cli <get|update|update_items|livestream|html_render> ...")
    val cmd = args.head
    val rest = args.tail
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cmd, rest)
    finally spark.stop()
  }

  private def fetcherOf(rest: Array[String]): Fetcher =
    ItemsSource.resolve(opt(rest, "fetcher").getOrElse("http"))

  def run(spark: SparkSession, cmd: String, rest: Array[String]): Unit = {
    val accepted = verbOptions.getOrElse(cmd, sys.error(s"unknown command: $cmd"))
    rest.filter(_.startsWith("--")).map(_.stripPrefix("--")).find(!accepted(_))
      .foreach(o => throw new IllegalArgumentException(s"$cmd does not accept --$o " +
        s"(it accepts ${accepted.toSeq.sorted.map("--" + _).mkString(" ")})"))
    if (cmd == "query") { runQuery(spark, rest); return }
    if (cmd == "trending") { runTrending(spark, rest); return }
    if (cmd == "datacard") { runDataCard(spark, rest); return }
    val db = opt(rest, "db").getOrElse(sys.error("--db required"))
    val store = new ItemStore(spark, db)
    val threads = opt(rest, "threads").map(_.toInt).getOrElse(4)
    val now = () => System.currentTimeMillis() / 1000

    cmd match {
      case "get" =>
        store.init()
        val fetcher = fetcherOf(rest)
        val lower = opt(rest, "lower").map(_.toLong)
          .orElse(store.latestId().map(_ + 1)).getOrElse(1L)
        val upper = opt(rest, "upper").map(_.toLong).getOrElse(fetcher.latestId())
        val batch = ingest.BulkFetch.fetchItems(spark, fetcher, lower, upper,
          threads, now())
        store.merge(batch)
        println(s"[get] merged ids [$lower,$upper]; store=${store.count()}")

      case "update" =>
        val rounds = Update.catchUp(spark, store, fetcherOf(rest), threads, now)
        println(s"[update] $rounds rounds; latest=${store.latestId()}")

      case "update_items" =>
        val days = opt(rest, "days").map(_.toInt).getOrElse(1)
        val n = Update.recrawl(spark, store, fetcherOf(rest), days,
          flag(rest, "only_mature"), threads, now)
        println(s"[update_items] re-crawled $n ids")

      case "livestream" =>
        val maxItems = opt(rest, "max_items").map(_.toInt).getOrElse(Int.MaxValue)
        val period = opt(rest, "commit_period").map(_.toInt).getOrElse(200)
        val n = LivestreamRunner.run(spark, store, fetcherOf(rest), maxItems, period)
        println(s"[livestream] merged $n items")

      case "html_render" =>
        val ids = opt(rest, "ids").getOrElse(sys.error("--ids required"))
          .split(",").map(_.trim.toLong)
        val items = store.current()
        ids.foreach { id =>
          val tree = Render.buildTree(items, id)
          val opts = if (tree.item.itemType == "poll") Render.pollOptions(items, id) else Nil
          val html = Render.renderPage(tree, opts)
          opt(rest, "output") match {
            case Some(template) =>
              val path = Paths.get(template.replace("{id}", id.toString))
              Files.writeString(path, html)
              println(s"[html_render] wrote $path")
            case None => println(html)
          }
        }

    }
  }

  /** `trending --store DIR --checkpoint DIR [--fetcher SPEC] [--start N]
    * [--key COL] [--window DUR] [--k N] [--compact_every N] [--drain |
    * --timeout_sec N]` — the streaming trending-top-k pipeline
    * ([[graft.streaming.Trending]]) as a CLI verb, closing the loop the
    * way `livestream` does for ingestion. `--drain` processes everything
    * the fetcher has and stops (bounded fetchers / tests); otherwise the
    * stream runs until `--timeout_sec` (default: forever). Prints the
    * store's newest windows on exit. */
  private def runTrending(spark: SparkSession, rest: Array[String]): Unit = {
    val storeRoot = opt(rest, "store").getOrElse(sys.error("--store required"))
    val checkpoint = opt(rest, "checkpoint")
      .getOrElse(sys.error("--checkpoint required"))
    val q = streaming.Trending.start(
      spark,
      fetcherSpec = opt(rest, "fetcher").getOrElse("http"),
      startId = opt(rest, "start").map(_.toLong).getOrElse(0L),
      storeRoot = storeRoot,
      checkpointDir = checkpoint,
      keyCol = opt(rest, "key").getOrElse("author"),
      windowDur = opt(rest, "window").getOrElse("10 minutes"),
      k = opt(rest, "k").map(_.toInt).getOrElse(3),
      compactEvery = opt(rest, "compact_every").map(_.toInt).getOrElse(64))
    try {
      if (flag(rest, "drain")) q.processAllAvailable()
      else opt(rest, "timeout_sec") match {
        case Some(s) => q.awaitTermination(s.toLong * 1000L)
        case None    => q.awaitTermination()
      }
    } finally q.stop()
    val trends = streaming.Trending.store(spark, storeRoot).read()
      .orderBy(org.apache.spark.sql.functions.col("window_start").desc,
        org.apache.spark.sql.functions.col("rank").asc)
    println(s"[trending] store=$storeRoot windows committed:")
    trends.show(opt(rest, "limit").map(_.toInt).getOrElse(20), truncate = false)
  }

  /** `datacard --sf DIR [--threshold_milli N] [--out DIR]` — build the
    * release data card ([[graft.pipeline.DataCard]]) over the documents
    * table and print (or write) the tall metric frame. */
  private def runDataCard(spark: SparkSession, rest: Array[String]): Unit = {
    val sf = opt(rest, "sf").getOrElse("/root/testdata/sf0.01")
    val card = graft.pipeline.DataCard.build(
      Tables.documents(spark, sf), "doc_id", "text", "lang", "source",
      thresholdMilli = opt(rest, "threshold_milli").map(_.toInt).getOrElse(800))
    val df = graft.pipeline.DataCard.toDF(spark, card)
    opt(rest, "out") match {
      case Some(dir) =>
        df.coalesce(1).write.mode("overwrite").parquet(dir)
        println(s"[datacard] -> $dir")
      case None => df.show(100, truncate = false)
    }
  }

  private def runQuery(spark: SparkSession, rest: Array[String]): Unit = {
    val name = opt(rest, "name").getOrElse(
      sys.error("--name required; available: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; available: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    val sf = opt(rest, "sf").getOrElse("/root/testdata/sf0.01")
    val df = fn(spark, sf)
    opt(rest, "out") match {
      case Some(dir) =>
        df.write.mode("overwrite").parquet(dir)
        // count the freshly written parquet (footer row counts, no full
        // column scan) — the df's own observe() metrics never populate here
        // because DataFrameWriter executes its own separate QueryExecution
        val n = spark.read.parquet(dir).count()
        println(s"[query] $name -> $dir ($n rows)")
      case None =>
        df.show(opt(rest, "limit").map(_.toInt).getOrElse(20), truncate = false)
    }
  }
}
