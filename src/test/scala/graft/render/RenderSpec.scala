package graft.render

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** R1-R5 golden rendering vs the reference's bs4 structure. */
class RenderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // story 1 with comments 2,3 (3 older than 2 → renders first), reply 4 under 3
  private val items = Seq(
    (1L, "story", Option("alice"), 1704439689L, Option.empty[String],
      Option("https://example.com"), Option(42L), Option("Big <News>"), Option.empty[Long]),
    (2L, "comment", Option("bob"), 1704450000L, Option("later<p>thoughts"),
      None, None, None, Option(1L)),
    (3L, "comment", None, 1704440000L, None, None, None, None, Option(1L)),
    (4L, "comment", Option("carol"), 1704460000L, Option("reply"),
      None, None, None, Option(3L))
  ).toDF("id", "type", "author", "time", "text", "url", "score", "title", "parent")

  test("buildTree assembles children sorted by time with id tie-break") {
    val tree = Render.buildTree(items, 1L)
    assert(tree.item.id == 1L)
    assert(tree.children.map(_.item.id) == Seq(3L, 2L)) // 3 earlier than 2
    assert(tree.children.head.children.map(_.item.id) == Seq(4L))
  }

  test("buildTree fails loud naming a root id absent from the store") {
    val e = intercept[NoSuchElementException](Render.buildTree(items, 99L))
    assert(e.getMessage.contains("item 99 is not in the store"), e.getMessage)
  }

  test("buildTree over a stored archive: at most 3 jobs, nodes fetched by " +
    "a pushed-down In filter, no join against the items") {
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("graft-render-store").toString
    val st = new graft.store.ItemStore(spark, dir)
    st.init()
    // story 1 with 30 comments (id i replies to i / 2), then unrelated items
    val bodies = (1L -> """{"id":1,"type":"story","by":"s","time":1,"title":"t"}""") +:
      ((2L to 31L).map(i => i -> s"""{"id":$i,"type":"comment","by":"u$i","time":$i,"parent":${i / 2}}""") ++
        (32L to 400L).map(i => i -> s"""{"id":$i,"type":"story","by":"v","time":$i}"""))
    st.merge(graft.schema.Item.normalize(bodies.toDF("id", "body"), lit(100L)))
    val items = st.current()
    Render.buildTree(items, 32L) // warm: first-use planning of the scan
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.flush(spark.sparkContext)
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(jl)
    val tree =
      try { val t = Render.buildTree(items, 1L); org.apache.spark.GraftTestBus.flush(spark.sparkContext); t }
      finally { spark.listenerManager.unregister(qel); spark.sparkContext.removeSparkListener(jl) }
    def ids(n: Render.Node): Seq[Long] = n.item.id +: n.children.flatMap(ids)
    assert(ids(tree).sorted == (1L to 31L))
    assert(tree.children.map(_.item.id) == Seq(2L, 3L)) // (time, id) order kept
    assert(jobs.get <= 3, s"${jobs.get} jobs for one page")
    assert(plans.exists(p => p.contains("FileScan parquet") && p.contains("In(id, [")),
      s"no pushed In filter on the items scan:\n${plans.mkString("\n")}")
    assert(!plans.exists(_.contains("Join")), s"a join against items:\n${plans.mkString("\n")}")
  }

  test("story page: escaped title, url link, userinfo, nested sorted comments") {
    val html = Render.renderPage(Render.buildTree(items, 1L))
    assert(html.contains("""<h1><a href="https://example.com">Big &lt;News&gt;</a></h1>"""))
    assert(html.contains("""<span>42 points</span>"""))
    assert(html.contains("2024 Jan 05 07:28:09"))
    // deleted comment renders [deleted] author and text
    assert(html.contains("""news.ycombinator.com/user?id=[deleted]"""))
    // comment 3's div contains nested comment 4
    val c3 = html.indexOf("""<div class="comment" id="3">""")
    val c4 = html.indexOf("""<div class="comment" id="4">""")
    val c2 = html.indexOf("""<div class="comment" id="2">""")
    assert(c3 >= 0 && c4 > c3 && c2 > c4)
    // fix_ptags applied to comment text
    assert(html.contains("<p>later</p><p>thoughts</p>"))
    assert(html.contains("<style>"))
  }

  test("poll page appends options inside the poll div") {
    val poll = Render.RItem(9L, "poll", Some("p"), 1704439689L, None, None,
      Some(5L), Some("Which?"), None)
    val opts = Seq(
      Render.RItem(10L, "pollopt", None, 0L, Some("opt A"), None, Some(3L), None, Some(9L)),
      Render.RItem(11L, "pollopt", None, 0L, Some("opt B"), None, Some(1L), None, Some(9L)))
    val html = Render.renderPage(Render.Node(poll, Nil), opts)
    assert(html.contains("<p>opt A</p>"))
    assert(html.contains("<p>3 points</p>"))
    val pollEnd = html.indexOf("</div></body>")
    assert(html.indexOf("opt B") < pollEnd) // options nested inside poll div
  }

  test("job renders title and optional text, no userinfo") {
    val job = Render.RItem(7L, "job", None, 0L, Some("apply<p>now"), None, None,
      Some("Hiring"), None)
    val html = Render.renderPage(Render.Node(job, Nil))
    assert(html.contains("<h1>Hiring</h1>"))
    assert(html.contains("<p>apply</p><p>now</p>"))
    assert(!html.contains("user?id="))
  }
}
