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
    assert(jobs.get == 0, s"${jobs.get} jobs for one page")
    assert(plans.exists(idScanFilter.findFirstIn(_).isDefined),
      s"no In filter on id in an id-range scan:\n${plans.mkString("\n")}")
    assert(!plans.exists(_.contains("Join")), s"a join against items:\n${plans.mkString("\n")}")
  }

  /** An id-range scan of the store, with an `IN` or `INSET` on `id` among
    * its filters, in a plan's string. */
  private val idScanFilter = """IdRangeScan .*filters=\[.*\bid#\d+L (IN|INSET) """.r

  // ---- per-directory child lists (a disjoint default store) ----

  private def store(bodies: Seq[(Long, String)], parts: Int = 4): graft.store.ItemStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-render-lists").toString
    val st = new graft.store.ItemStore(spark, dir)
    st.init()
    st.merge(graft.ingest.BulkFetch.fetchItems(spark,
      new graft.ingest.FakeFetcher(bodies.toMap, bodies.map(_._1).max), 1L, bodies.map(_._1).max,
      parallelism = parts, retrievedAt = 100L))
    st
  }

  private def comment(i: Long, parent: Long, time: Long) =
    i -> s"""{"id":$i,"type":"comment","by":"u$i","time":$time,"parent":$parent}"""
  private def story(i: Long) = i -> s"""{"id":$i,"type":"story","by":"s","time":$i,"title":"t$i"}"""

  /** (job, tasks) of every job `f` starts, and its result. */
  private def jobsOf[A](f: => A): (A, Seq[Int]) = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        tasks.add(j.stageInfos.map(_.numTasks).sum)
    }
    org.apache.spark.GraftTestBus.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val a = try { val a = f; org.apache.spark.GraftTestBus.flush(spark.sparkContext); a }
      finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (a, tasks.asScala.toSeq)
  }

  private def ids(n: Render.Node): Seq[Long] = n.item.id +: n.children.flatMap(ids)

  /** The executed plan of every query `f` runs, and its result. */
  private def plansOf[A](f: => A): (A, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(n: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(n: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val a = try { val a = f; org.apache.spark.GraftTestBus.flush(spark.sparkContext); a }
      finally spark.listenerManager.unregister(qel)
    import scala.jdk.CollectionConverters._
    (a, plans.asScala.toSeq)
  }

  test("child lists: an unchanged store renders with no job; after an append " +
    "the next render reads only the new tail's lists, on the driver") {
    // stories 101 and 201 with comments in their own base files (ids
    // 101-200 and 201-300 of 400 items over 4 base files)
    val bodies = (1L to 400L).map {
      case i if i == 101L || i == 201L => story(i)
      case i if i > 101L && i < 150L => comment(i, i - 1, i)
      case i if i > 201L && i < 250L => comment(i, 201L, i)
      case i => story(i)
    }
    val st = store(bodies)
    Render.buildTree(st.current(), 101L) // the first render reads the base's lists
    val (t201, jobs) = jobsOf(Render.buildTree(st.current(), 201L))
    assert(ids(t201).sorted == (201L to 249L))
    assert(jobs.isEmpty, s"jobs: $jobs")
    // an append: a story with a reply, and a reply to story 201, in a new tail
    val base = st.current().inputFiles.toSet
    st.merge(graft.schema.Item.normalize(Seq(story(401L), comment(402L, 401L, 402L),
      comment(403L, 201L, 403L)).toDF("id", "body"), org.apache.spark.sql.functions.lit(101L)))
    val ((t401, jobs2), plans) = plansOf(jobsOf(Render.buildTree(st.current(), 401L)))
    assert(ids(t401) == Seq(401L, 402L))
    assert(jobs2.isEmpty, s"jobs: $jobs2")
    // the child-list read and the node fetch each list the tail's one file
    val Seq(tail) = (st.current().inputFiles.toSet -- base).toSeq
      .map(f => java.nio.file.Paths.get(java.net.URI.create(f)).getFileName)
    val scanned = plans.flatMap("""files=\[([^\]]*)\]""".r.findAllMatchIn(_).map(_.group(1)))
    assert(plans.size == 2 && scanned == Seq(tail.toString, tail.toString), plans.mkString("\n"))
    // a page across the base and the tail: two file partitions, one job
    val (t2, jobs3) = jobsOf(Render.buildTree(st.current(), 201L))
    assert(ids(t2).sorted == ((201L to 249L) :+ 403L))
    assert(jobs3.size == 1, s"jobs: $jobs3")
    assert(jobsOf(Render.buildTree(st.current(), 101L))._2.isEmpty)
  }

  test("child-list pages equal the TreeExpand path over seeded random forests") {
    import org.apache.spark.sql.functions.lit
    for (seed <- Seq(3, 4)) {
      val rnd = new scala.util.Random(seed)
      // each item replies to an earlier one or starts a story; times are
      // shuffled so page order is by (time, id), not by id
      val bodies = (1L to 300L).map { i =>
        if (i == 1L || rnd.nextInt(8) == 0) story(i)
        else comment(i, 1L + rnd.nextInt(i.toInt - 1), rnd.nextInt(50).toLong)
      }
      val st = store(bodies, parts = 1 + rnd.nextInt(4))
      val roots = bodies.filter(_._2.contains("story")).map(_._1).take(4) :+ 2L
      def check(clue: String): Unit = roots.foreach { r =>
        assert(graft.store.ItemStore.childrenOf(st.current()).nonEmpty)
        val filtered = st.current().where(lit(true))
        assert(graft.store.ItemStore.childrenOf(filtered).isEmpty, "a filtered frame took the lists")
        val viaLists = Render.buildTree(st.current(), r)
        assert(viaLists == Render.buildTree(filtered, r), s"$clue root $r")
        def ordered(n: Render.Node): Unit = {
          assert(n.children.map(c => (c.item.time, c.item.id)) ==
            n.children.map(c => (c.item.time, c.item.id)).sorted, s"$clue root $r")
          n.children.foreach(ordered)
        }
        ordered(viaLists)
      }
      check(s"seed $seed")
      // an update rewrites the base hash-partitioned: the lists still hold
      val moved = (2L to 300L).filter(_ => rnd.nextInt(10) == 0).map(i => comment(i, 1L, i))
      st.merge(graft.schema.Item.normalize(moved.toDF("id", "body"), lit(101L)))
      check(s"seed $seed after an update")
    }
  }

  test("child lists fail on a cycle with TreeExpand's maxDepth error") {
    import org.apache.spark.sql.functions.lit
    // 2 and 3 reply to each other
    val st = store(Seq(story(1L), comment(2L, 3L, 2L), comment(3L, 2L, 3L), story(4L)), parts = 1)
    val viaLists = intercept[IllegalStateException](Render.buildTree(st.current(), 2L))
    val viaExpand = intercept[IllegalStateException](
      Render.buildTree(st.current().where(lit(true)), 2L))
    assert(viaLists.getMessage.contains("maxDepth=1000"), viaLists.getMessage)
    assert(viaLists.getMessage == viaExpand.getMessage)
    assert(ids(Render.buildTree(st.current(), 1L)) == Seq(1L))
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

  test("poll options from a stored archive: (time, id) order, inside the poll div") {
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("graft-render-poll").toString
    val st = new graft.store.ItemStore(spark, dir)
    st.init()
    def opt(i: Long, poll: Long, time: Long, text: String, score: Long) =
      i -> s"""{"id":$i,"type":"pollopt","by":"p","time":$time,"poll":$poll,"text":"$text","score":$score}"""
    // options 12 and 13 tie on time: id breaks the tie, so the order is
    // neither by id (11, 12, 13) nor by text or score
    val first = Seq(story(1L),
      10L -> """{"id":10,"type":"poll","by":"p","time":100,"title":"Which?","score":5}""",
      opt(11L, 10L, 300L, "opt C", 2L), opt(12L, 10L, 200L, "opt B", 7L))
    val second = Seq(opt(13L, 10L, 200L, "opt A", 1L), comment(14L, 10L, 400L),
      opt(15L, 99L, 50L, "other poll", 9L))
    st.merge(graft.schema.Item.normalize(first.toDF("id", "body"), lit(100L)))
    st.merge(graft.schema.Item.normalize(second.toDF("id", "body"), lit(100L)))
    val items = st.current()
    val opts = Render.pollOptions(items, 10L)
    assert(opts.map(_.id) == Seq(12L, 13L, 11L))
    assert(opts.head == Render.RItem(12L, "pollopt", Some("p"), 200L, Some("opt B"), None,
      Some(7L), None, None))
    val html = Render.renderPage(Render.buildTree(items, 10L), opts)
    val pollStart = html.indexOf("""<div class="poll" id="10">""")
    // the poll div's close: the </div> that brings the nesting back to 0
    val divs = """<div|</div>""".r.findAllMatchIn(html).filter(_.start >= pollStart).toSeq
    val pollEnd = divs.scanLeft(0)((d, m) => d + (if (m.matched == "<div") 1 else -1)).tail
      .zip(divs).collectFirst { case (0, m) => m.start }.get
    val at = Seq("opt B", "opt A", "opt C").map(html.indexOf(_))
    assert(pollStart >= 0 && at == at.sorted && at.head > pollStart && at.last < pollEnd, html)
    assert(html.indexOf("""<div class="comment" id="14">""") > pollEnd)
    assert(!html.contains("other poll"))
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
