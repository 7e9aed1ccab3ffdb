package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.ingest.BulkFetch
import graft.render.Render
import graft.store.ItemStore
import graft.streaming.LivestreamRunner

/** The `archive` workload: hnarchive's own job on a [[Corpus]] generated
  * from the seed. One bulk `get` of the first [[BulkItems]] ids into a fresh
  * store with CLI defaults (no buckets, no delta log), then a closed loop of
  * rounds; a round is one livestream commit of 200 items, one story page
  * rendered and eight point lookups. Writes and reads interleave, so a store
  * change that helps only one side shows here.
  *
  * The mix is not taken from observed traffic. It is set so that commits,
  * renders and lookups each take about a third of a round on a 4-core host
  * (one commit about 1.1 s, one render about 1.4 s, one lookup about
  * 0.14 s). `wall_s` then weighs a relative change of any one kind equally:
  * a change that makes commits 20% faster and renders 20% slower reads flat.
  * The rendered story is drawn uniformly from the stories of the bulk range,
  * so tree sizes follow the corpus's own distribution; the looked-up id is
  * drawn uniformly from the archived ids.
  */
object ArchiveWorkload {
  val BulkItems = 100000
  val CommitItems = 200
  val RendersPerRound = 1
  val LookupsPerRound = 8
  /** Ids generated past the bulk range: room for 150 commits. */
  private val LiveIds = 150 * CommitItems * 11 / 10
  /** Seconds for the get and for one round on a 4-core host; they set how
    * many rounds fill `--seconds`. */
  private val NominalGetS = 4.0
  private val NominalRoundS = 3.6

  private val sleeps = new java.util.concurrent.atomic.AtomicLong()
  /** The runner's backoff sleep: counted, never slept, so a run never
    * waits on the wall clock. */
  private val noSleep: Long => Unit = _ => sleeps.incrementAndGet()

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val corpus = t.span("setup/corpus")(new Corpus(ctx.seed, BulkItems + LiveIds))
    // maxitem sits well past every id a run consumes, so the livestream
    // never waits on its 50-id gap-skip margin
    val fetcher = new CorpusFetcher(corpus, corpus.size.toLong)
    val children = corpus.childLists()
    val cpus = spark.sparkContext.defaultParallelism

    t.span("setup/warm")(warmUp(ctx, corpus, fetcher, cpus))
    Corpus.fetchCalls.set(0); Corpus.fetchHits.set(0); sleeps.set(0)

    val rnd = new scala.util.Random(ctx.seed)
    val stories = (1 to BulkItems).filter(i => corpus.kind(i) == Corpus.Story)
    val rounds = math.max(1, math.round((ctx.seconds - NominalGetS) / NominalRoundS).toInt)
    val root = ctx.dir("archive/store")
    val store = new ItemStore(spark, root)
    var hwm = 0

    val t0 = System.nanoTime()
    val get = ctx.timed("get", "bulk") {
      t.span("ingest.get") {
        store.init()
        val batch = BulkFetch.fetchItems(spark, fetcher, 1L, BulkItems.toLong, cpus,
          System.currentTimeMillis() / 1000)
        t.span("store.merge")(store.merge(batch))
      }
    }(_ => None)
    hwm = BulkItems
    val commitFetchS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var renderNodes = List.empty[Int]
    (1 to rounds).foreach { round =>
      val expectedEnd = nextHwm(corpus, hwm, CommitItems)
      val fetch0 = Corpus.fetchNanos.get()
      ctx.timed("commit", s"round$round") {
        t.span("streaming.commit") {
          LivestreamRunner.run(spark, store, fetcher, maxItems = CommitItems,
            commitPeriod = CommitItems, sleep = noSleep)
        }
      } { n =>
        if (n == CommitItems.toLong) None else Some(s"committed $n items, expected $CommitItems")
      }
      commitFetchS += (Corpus.fetchNanos.get() - fetch0) / 1e9
      hwm = expectedEnd
      (1 to RendersPerRound).foreach { _ =>
        val story = stories(rnd.nextInt(stories.size))
        val expected = corpus.preorder(story, hwm, children)
        ctx.timed("render", s"story$story") {
          val items = store.current()
          val tree = t.span("render.build_tree")(Render.buildTree(items, story.toLong))
          val page = t.span("render.page")(Render.renderPage(tree))
          (tree, page)
        } { out =>
          val (tree, page) = out.asInstanceOf[(Render.Node, String)]
          val got = flatten(tree)
          if (got != expected) Some(s"page nodes ${got.take(5)}.. differ from ${expected.take(5)}..")
          else if (!page.startsWith("<html>")) Some("page is not an html document")
          else None
        }
        renderNodes = expected.size :: renderNodes
      }
      (1 to LookupsPerRound).foreach { _ =>
        val id = 1L + rnd.nextInt(hwm)
        ctx.timed("lookup", s"item$id") {
          t.span("store.lookup")(store.current().filter(col("id") === id).collect())
        } { rows => checkLookup(corpus, id, rows.asInstanceOf[Array[Row]]) }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9

    // the archive must hold exactly the generated items up to the high-water mark
    val storeCheck = verifyStore(ctx, store, corpus, hwm)
    val live = (1 to hwm).count(i => corpus.exists(i.toLong))
    val bytes = Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .count(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
    val ops = ctx.ops.map { o =>
      if (storeCheck.isDefined && (o.kind == "get" || o.kind == "commit"))
        o.copy(ok = false, error = storeCheck.get)
      else o
    }
    def lat(kind: String) = ops.filter(_.kind == kind).map(_.latencyS)
    val metrics = Seq(
      ("get_items_per_s", BulkItems / get.latencyS, "items/s"),
      ("commit_p50_s", Stats.pct(lat("commit"), 0.5), "s"),
      ("commit_p90_s", Stats.pct(lat("commit"), 0.9), "s"),
      ("render_p50_s", Stats.pct(lat("render"), 0.5), "s"),
      ("render_p90_s", Stats.pct(lat("render"), 0.9), "s"),
      ("lookup_p50_s", Stats.pct(lat("lookup"), 0.5), "s"),
      ("lookup_p90_s", Stats.pct(lat("lookup"), 0.9), "s"),
      ("store_bytes_per_item", bytes.toDouble / live, "B/item"))
    val calls = Corpus.fetchCalls.get()
    val layer = Seq(
      ("ingest.fetch_calls", calls.toDouble, "count"),
      ("ingest.items_per_fetch", if (calls == 0) 0.0 else Corpus.fetchHits.get().toDouble / calls, "ratio"),
      ("ingest.backoff_sleeps", sleeps.get().toDouble, "count"),
      ("streaming.commit_fetch_s", Stats.mean(commitFetchS.toSeq), "s"),
      ("store.live_files", files.toDouble, "count"),
      ("render.nodes_per_page", Stats.mean(renderNodes.map(_.toDouble)), "count"))
    Outcome(ops, wall, metrics, layer)
  }

  /** Highest id after consuming `n` more live items past `hwm`. */
  private def nextHwm(corpus: Corpus, hwm: Int, n: Int): Int = {
    var id = hwm; var left = n
    while (left > 0) { id += 1; if (corpus.exists(id.toLong)) left -= 1 }
    require(id + 50 < corpus.size, "corpus exhausted: raise LiveIds")
    id
  }

  private def flatten(n: Render.Node): Seq[Long] =
    n.item.id +: n.children.flatMap(flatten)

  private def values(r: Row): IndexedSeq[Any] =
    (0 until 13).map(i => if (r.isNullAt(i)) null else r.get(i))

  private def checkLookup(corpus: Corpus, id: Long, rows: Array[Row]): Option[String] =
    (corpus.expectedRow(id), rows.toSeq) match {
      case (None, Seq()) => None
      case (Some(want), Seq(r)) =>
        val got = values(r)
        if (got == want) None else Some(s"item $id: got $got, expected $want")
      case (want, got) => Some(s"item $id: got ${got.size} rows, expected ${want.size}")
    }

  /** Compare the whole store with the corpus: row count and the sum of row
    * hashes (every column but `retrieved`). */
  private def verifyStore(ctx: Ctx, store: ItemStore, corpus: Corpus, hwm: Int): Option[String] = {
    val (n, h) = ctx.tracer.span("setup/verify") {
      store.current().rdd.mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r => n += 1; h += Corpus.rowHash(values(r)) }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    var wantN = 0L; var wantH = 0L
    (1 to hwm).foreach { i =>
      corpus.expectedRow(i.toLong).foreach { row => wantN += 1; wantH += Corpus.rowHash(row) }
    }
    if (n == wantN && h == wantH) None
    else Some(s"store holds $n rows (hash $h), expected $wantN rows (hash $wantH)")
  }

  /** One small get, commit, render and lookup on a throw-away store, so the
    * timed ops run with classes loaded and code generated. */
  private def warmUp(ctx: Ctx, corpus: Corpus, fetcher: CorpusFetcher, cpus: Int): Unit = {
    val spark = ctx.spark
    val root = ctx.dir("archive/warm")
    val store = new ItemStore(spark, root)
    store.init()
    store.merge(BulkFetch.fetchItems(spark, fetcher, 1L, 3000L, cpus, 0L))
    LivestreamRunner.run(spark, store, fetcher, maxItems = CommitItems,
      commitPeriod = CommitItems, sleep = noSleep)
    val story = (1 to 3000).find(i => corpus.kind(i) == Corpus.Story).get
    Render.renderPage(Render.buildTree(store.current(), story.toLong))
    (1 to 3).foreach(i => store.current().filter(col("id") === i.toLong).collect())
    TableGen.deleteTree(Paths.get(root))
  }
}
