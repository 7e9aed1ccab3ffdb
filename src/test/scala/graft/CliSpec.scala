package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.FakeFetcher
import graft.sources.ItemsSource
import graft.store.ItemStore

/** The reference's command surface end-to-end: get → update → html_render
  * against a scripted upstream. */
class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("get + update + html_render round-trip") {
    val db = Files.createTempDirectory("graft-cli-db").toString
    val items = Map(
      1L -> """{"id":1,"type":"story","by":"alice","time":100,"title":"Hello","score":3}""",
      2L -> """{"id":2,"type":"comment","by":"bob","time":110,"text":"hi","parent":1}""")
    ItemsSource.registerFake("cli1", new FakeFetcher(items, maxId = 2))

    Cli.run(spark, "get", Array("--db", db, "--fetcher", "fake:cli1",
      "--lower", "1", "--upper", "2", "--threads", "2"))
    val store = new ItemStore(spark, db)
    assert(store.current().count() == 2)

    // upstream grows; update catches up
    ItemsSource.registerFake("cli2", new FakeFetcher(items +
      (3L -> """{"id":3,"type":"comment","by":"eve","time":120,"parent":1}"""),
      maxId = 3))
    Cli.run(spark, "update", Array("--db", db, "--fetcher", "fake:cli2"))
    assert(store.current().count() == 3)

    val outDir = Files.createTempDirectory("graft-cli-html")
    Cli.run(spark, "html_render", Array("--db", db, "--ids", "1",
      "--output", s"$outDir/page_{id}.html"))
    val html = Files.readString(outDir.resolve("page_1.html"))
    assert(html.contains("<h1>Hello</h1>"))
    assert(html.contains("""<div class="comment" id="2">"""))
    assert(html.contains("""<div class="comment" id="3">"""))
  }

  /** The message `args` fails with, which must name the option and the
    * verb; the store directory stays empty. Callers pass an unregistered
    * fake fetcher, so a verb that ran anyway could not reach the network. */
  private def rejected(verb: String, option: String, args: String*): String = {
    val db = Files.createTempDirectory("graft-cli-opts")
    val e = intercept[IllegalArgumentException](
      Cli.run(spark, verb, (Seq("--db", db.toString) ++ args).toArray))
    assert(e.getMessage.contains(s"$verb does not accept --$option"), e.getMessage)
    val listing = Files.list(db)
    try assert(!listing.iterator().hasNext, "the store was opened") finally listing.close()
    e.getMessage
  }

  test("get fails loud on an option it does not read: --buckets") {
    val msg = rejected("get", "buckets", "--fetcher", "fake:unregistered", "--buckets", "4")
    assert(msg.contains("--lower") && msg.contains("--upper"), msg)
  }

  test("livestream fails loud on an option it does not read: --compact_every") {
    val msg = rejected("livestream", "compact_every", "--fetcher", "fake:unregistered",
      "--compact_every", "8", "--max_items", "1")
    assert(msg.contains("--commit_period"), msg)
  }

  test("trending verb drains the feed and commits ranked windows") {
    // one finalized 10-min window [600,1200): u1 x2 beats u2 x1; item 9
    // is the far-future watermark pusher that finalizes it
    val feed = Map(
      1L -> (610L, "u1"), 2L -> (700L, "u1"), 3L -> (800L, "u2"),
      9L -> (1000000L, "u9"))
    ItemsSource.registerFake("cli-trend", new graft.ingest.Fetcher {
      def fetch(id: Long): Option[String] = feed.get(id).map {
        case (t, by) => s"""{"id":$id,"type":"comment","by":"$by","time":$t}"""
      }
      def latestId(): Long = 9L
    })
    val store = Files.createTempDirectory("graft-cli-trend").toString
    Cli.run(spark, "trending", Array("--store", store,
      "--checkpoint", Files.createTempDirectory("graft-cli-trend-ck").toString,
      "--fetcher", "fake:cli-trend", "--key", "author",
      "--window", "10 minutes", "--k", "2", "--drain"))
    val got = graft.streaming.Trending.store(spark, store).read().collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getLong(4)))
      .toSet
    assert(got == Set((600L, 1L, "u1", 2L), (600L, 2L, "u2", 1L)), got)
  }

  test("query verb runs a registered query and writes parquet") {
    val out = Files.createTempDirectory("graft-cli-query").toString + "/res"
    Cli.run(spark, "query", Array("--name", "q01_pricing_summary",
      "--sf", "/root/testdata/sf0.001", "--out", out))
    val res = spark.read.parquet(out)
    assert(res.count() > 0)
    assert(res.columns.contains("l_returnflag"))
    val e = intercept[RuntimeException] {
      Cli.run(spark, "query", Array("--name", "nope"))
    }
    assert(e.getMessage.contains("unknown query"))
  }

  test("datacard verb writes the tall metric frame") {
    val out = Files.createTempDirectory("graft-cli-card").toString + "/card"
    Cli.run(spark, "datacard", Array("--sf", "/root/testdata/sf0.001",
      "--threshold_milli", "500", "--out", out))
    val res = spark.read.parquet(out)
    val m = res.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("n_docs") == 500L)
    assert(m("near_dup_clusters") > 0L)
    assert(m.keys.exists(_.startsWith("lang_docs.")))
  }
}
