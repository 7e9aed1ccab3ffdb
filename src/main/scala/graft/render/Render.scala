package graft.render

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.TreeExpand
import graft.store.ItemStore

/** R1-R5: the HTML rendering pipeline (SURVEY.md §2.10; reference
  * `/root/reference/hnarchive.py:292-488`). The data-parallel part — subtree
  * expansion — runs via [[TreeExpand]] (replacing the reference's
  * one-query-per-node recursion, SURVEY.md E3): one driver pass over the
  * store's cached child lists or the collected edge table within its
  * budget, distributed rounds past it;
  * rendering itself happens on the driver after a bounded collect, same as
  * the reference's post-query Python.
  */
object Render {

  final case class RItem(
      id: Long, itemType: String, author: Option[String], time: Long,
      text: Option[String], url: Option[String], score: Option[Long],
      title: Option[String], parent: Option[Long])

  final case class Node(item: RItem, children: Seq[Node])

  /** R1 `build_item_tree` (hnarchive.py:306-319): subtree expansion +
    * driver-side assembly, children sorted by (time, id) — the reference's
    * `list_children(sort=time)` (O2) with an id tie-break for determinism.
    * When `items` is exactly [[ItemStore.current]] (no filter or
    * projection on top) within the driver budget, the page's ids come from
    * [[TreeExpand.expandCollected]] over the store's cached child lists,
    * read once per directory (a tail on the driver, with no job). Any
    * other frame goes through [[TreeExpand.expand]], with the root as a
    * local relation (it returns a depth-0 row for it either way). Both
    * fail with the same maxDepth error on a cycle. The page's nodes are then fetched with
    * `id IN (expanded ids)`, which the store's file index pushes down, so
    * an id-clustered store reads only the files holding the page: on the
    * driver with no job when they form one file partition (a page in one
    * file), else in one job. A root id absent from `items` fails loud
    * naming it. */
  def buildTree(items: DataFrame, rootId: Long): Node = {
    val ids = ItemStore.childrenOf(items)
      .flatMap(TreeExpand.expandCollected(_, Seq(rootId)))
      .map(_.asScala.map(_.get(0)).toSeq)
      .getOrElse {
        val edges = items.select(col("id"), col("parent"))
        val roots = items.sparkSession.createDataFrame(java.util.List.of(Row(rootId)),
          StructType(Seq(StructField("id", LongType))))
        TreeExpand.expand(edges, roots).select(col("id")).collect().map(_.get(0)).toSeq
      }.distinct
    val byId = rItems(items.filter(col("id").isin(ids.toIndexedSeq: _*)))
      .map(i => i.id -> i).toMap
    if (!byId.contains(rootId))
      throw new NoSuchElementException(s"buildTree: item $rootId is not in the store")
    val childMap = byId.values.toSeq
      .filter(i => i.id != rootId && i.parent.exists(byId.contains))
      .groupBy(_.parent.get)
    def assemble(id: Long): Node = Node(byId(id),
      childMap.getOrElse(id, Nil).sortBy(i => (i.time, i.id)).map(i => assemble(i.id)))
    assemble(rootId)
  }

  /** J4 poll → pollopt lookup: the options of poll `pollId` in `items`,
    * sorted by (time, id) like a comment's children. */
  def pollOptions(items: DataFrame, pollId: Long): Seq[RItem] =
    rItems(items.filter(col("poll") === pollId)).toSeq.sortBy(i => (i.time, i.id))

  /** Collect `items` as [[RItem]]s. */
  private def rItems(items: DataFrame): Array[RItem] =
    items.select("id", "type", "author", "time", "text", "url", "score", "title", "parent")
      .collect().map(r => RItem(
        r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.toString), r.getLong(3),
        Option(r.get(4)).map(_.toString), Option(r.get(5)).map(_.toString),
        Option(r.get(6)).map(_.asInstanceOf[Long]),
        Option(r.get(7)).map(_.toString),
        Option(r.get(8)).map(_.asInstanceOf[Long])))

  // ---- string-building (driver-side presentation, R2-R5) ----

  private val fmt = DateTimeFormatter
    .ofPattern("yyyy MMM dd HH:mm:ss", Locale.US).withZone(ZoneOffset.UTC)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  private def escAttr(s: String): String = esc(s).replace("\"", "&quot;")

  /** F1 `_fix_ptags` — driver-side twin of
    * [[graft.functions.TextFuncs.fixPtags]]. */
  def fixPtags(text: String): String =
    "<p>" + text.replace("<p>", "</p><p>") + "</p>"

  private def userInfo(author: String, id: Long, time: Long,
                       score: Option[Long]): String = {
    val date = fmt.format(Instant.ofEpochSecond(time))
    val base = s"""<p><a href="https://news.ycombinator.com/user?id=${escAttr(author)}">${esc(author)}</a>""" +
      s""" | <a href="https://news.ycombinator.com/item?id=$id">$date</a>"""
    score match {
      case Some(sc) => base + s""" | <span>$sc points</span></p>"""
      case None => base + "</p>"
    }
  }

  /** R2 `html_render_comment` (hnarchive.py:321-345). */
  def renderComment(i: RItem): String = {
    val author = i.author.getOrElse("[deleted]")
    val text = i.text.getOrElse("[deleted]")
    s"""<div class="${i.itemType}" id="${i.id}">""" +
      userInfo(author, i.id, i.time, None) + fixPtags(text) + "</div>"
  }

  /** R3 `html_render_comment_tree` (hnarchive.py:347-353). */
  def renderCommentTree(n: Node): String = {
    val self = renderComment(n.item)
    self.stripSuffix("</div>") + n.children.map(renderCommentTree).mkString + "</div>"
  }

  /** `html_render_job` (hnarchive.py:355-368). */
  def renderJob(i: RItem): String =
    s"""<div class="${i.itemType}" id="${i.id}"><h1>${esc(i.title.getOrElse(""))}</h1>""" +
      i.text.map(fixPtags).getOrElse("") + "</div>"

  /** `html_render_story` (hnarchive.py:390-428). */
  def renderStory(i: RItem): String = {
    val h1 = i.url match {
      case Some(u) => s"""<h1><a href="${escAttr(u)}">${esc(i.title.getOrElse(""))}</a></h1>"""
      case None => s"<h1>${esc(i.title.getOrElse(""))}</h1>"
    }
    s"""<div class="${i.itemType}" id="${i.id}">""" + h1 +
      i.text.map(fixPtags).getOrElse("") +
      userInfo(i.author.getOrElse(""), i.id, i.time, Some(i.score.getOrElse(0L))) +
      "</div>"
  }

  /** `html_render_pollopt` (hnarchive.py:377-388) — class only, no id. */
  def renderPollopt(i: RItem): String =
    s"""<div class="${i.itemType}">""" + fixPtags(i.text.getOrElse("")) +
      s"<p>${i.score.getOrElse(0L)} points</p></div>"

  /** `html_render_poll` (hnarchive.py:370-375): story shell + options
    * (the J4 poll → pollopt lookup is [[pollOptions]], run by
    * [[renderPage]]'s caller). */
  def renderPoll(i: RItem, options: Seq[RItem]): String = {
    val story = renderStory(i)
    story.stripSuffix("</div>") + options.map(renderPollopt).mkString + "</div>"
  }

  private val css = """
    .comment,
    .job,
    .poll,
    .pollopt,
    .story
    {
        padding-left: 20px;
        margin-top: 4px;
        margin-right: 4px;
        margin-bottom: 4px;
    }
    .job, .poll, .story
    {
        border: 2px solid blue;
    }
    body > .story + .comment,
    body > .comment + .comment
    {
        margin-top: 10px;
    }
    .comment, .pollopt
    {
        border: 1px solid black;
    }
    """

  /** R5 `html_render_page` (hnarchive.py:430-488): page skeleton + type
    * dispatch. `pollOptions` supplies the J4 join result for poll pages. */
  def renderPage(tree: Node, pollOptions: Seq[RItem] = Nil): String = {
    val item = tree.item
    val body = item.itemType match {
      case "comment" => renderCommentTree(tree)
      case "job" => renderJob(item)
      case "poll" =>
        renderPoll(item, pollOptions) + tree.children.map(renderCommentTree).mkString
      case "story" =>
        renderStory(item) + tree.children.map(renderCommentTree).mkString
      case other =>
        throw new IllegalArgumentException(s"unrenderable type: $other")
    }
    s"<html><head><style>$css</style></head><body>$body</body></html>"
  }
}
