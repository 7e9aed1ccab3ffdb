package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.ingest.Fetcher

/** An HN-shaped item corpus generated from the seed: stories with
  * heavy-tailed comment trees whose comments arrive over later ids, polls
  * with their pollopts, jobs, ~2% tombstones (ids the API returns null for),
  * ~1% deleted and ~1% dead comments, and HN-like text lengths.
  *
  * The structure (type, parent, time, flags) is held in arrays; bodies are
  * generated on demand from `(seed, id)`. The generator also states what the
  * archive must hold: [[expectedRow]] is the normalized row for an id and
  * [[preorder]] the node ids of a rendered page.
  */
final class Corpus(val seed: Long, val size: Int) extends Serializable {
  import Corpus._

  val kind = new Array[Byte](size + 1)
  val parent = new Array[Int](size + 1)
  val time = new Array[Long](size + 1)
  val flags = new Array[Byte](size + 1)
  val planned = new Array[Int](size + 1)

  locally {
    val r = new SplittableRandom(seed)
    val active = mutable.ArrayBuffer.empty[Int]
    val remaining = new Array[Int](size + 1)
    val comments = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    var t = 1600000000L
    var pendingOpts = 0
    var poll = 0
    def heavyTail(): Int =
      if (r.nextInt(100) < 30) 0
      else math.min(1500, (1.5 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.1)).toInt)
    def root(id: Int, k: Byte): Unit = {
      kind(id) = k
      val b = heavyTail()
      planned(id) = b
      if (b > 0) { remaining(id) = b; active += id }
    }
    var id = 1
    while (id <= size) {
      t += r.nextInt(12)
      time(id) = t
      if (pendingOpts > 0) {
        kind(id) = PollOpt; parent(id) = poll; pendingOpts -= 1
      } else {
        val u = r.nextInt(1000)
        if (u < 20) kind(id) = Tombstone
        else if (u < 80 || active.isEmpty) root(id, Story)
        else if (u < 85) kind(id) = Job
        else if (u < 88) { root(id, Poll); poll = id; pendingOpts = 2 + r.nextInt(4) }
        else {
          val slot = r.nextInt(active.size)
          val story = active(slot)
          val tree = comments.getOrElseUpdate(story, mutable.ArrayBuffer.empty[Int])
          kind(id) = Comment
          parent(id) = if (tree.isEmpty || r.nextInt(100) < 35) story
            else tree(r.nextInt(tree.size))
          tree += id
          val f = r.nextInt(100)
          flags(id) = if (f == 0) DeletedFlag else if (f == 1) DeadFlag else 0
          remaining(story) -= 1
          if (remaining(story) == 0) {
            active(slot) = active.last
            active.remove(active.size - 1)
            comments.remove(story)
          }
        }
      }
      id += 1
    }
  }

  def exists(id: Long): Boolean = id >= 1 && id <= size && kind(id.toInt) != Tombstone

  private def words(r: SplittableRandom, chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      if (sb.nonEmpty) sb.append(if (r.nextInt(40) == 0) "<p>" else " ")
      sb.append(Vocab(r.nextInt(Vocab.length)))
      if (r.nextInt(60) == 0) sb.append("&#x27;s")
    }
    sb.toString
  }

  /** HN-like length: log-normal around `median` characters, capped. */
  private def length(r: SplittableRandom, median: Double, cap: Int): Int = {
    val g = math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) *
      math.cos(2.0 * math.Pi * r.nextDouble())
    math.max(1, math.min(cap, (median * math.exp(0.9 * g)).toInt))
  }

  /** Column values of the normalized item, in `Item.schema` order without
    * `retrieved`: id, deleted, type, author, time, text, dead, parent, poll,
    * url, score, title, descendants. None for a tombstone. */
  def expectedRow(id: Long): Option[IndexedSeq[Any]] = {
    if (!exists(id)) return None
    val i = id.toInt
    val r = new SplittableRandom(seed * 1000003L + id)
    val author = s"user${(math.pow(r.nextDouble(), 3) * 20000).toInt}"
    val score = 1L + (1.0 / math.pow(1.0 - r.nextDouble(), 0.8)).toLong
    def title() = words(r, 20 + r.nextInt(60))
    val k = kind(i)
    val deleted = (flags(i) & DeletedFlag) != 0
    Some(k match {
      case Story =>
        val ask = r.nextInt(10) == 0
        IndexedSeq(id, false, "story", author, time(i),
          if (ask) words(r, length(r, 400, 6000)) else null, false, null, null,
          if (ask) null else s"https://site${r.nextInt(5000)}.example/p/$id",
          score, title(), planned(i).toLong)
      case Comment if deleted =>
        IndexedSeq(id, true, "comment", null, time(i), null, false,
          parent(i).toLong, null, null, null, null, null)
      case Comment =>
        IndexedSeq(id, false, "comment", author, time(i), words(r, length(r, 180, 4000)),
          (flags(i) & DeadFlag) != 0, parent(i).toLong, null, null, null, null, null)
      case Job =>
        IndexedSeq(id, false, "job", author, time(i), null, false, null, null,
          s"https://jobs.example/$id", score, title(), null)
      case Poll =>
        IndexedSeq(id, false, "poll", author, time(i), words(r, length(r, 200, 2000)),
          false, null, null, null, score, title(), planned(i).toLong)
      case _ =>
        IndexedSeq(id, false, "pollopt", author, time(i), words(r, 5 + r.nextInt(40)),
          false, null, parent(i).toLong, null, score, null, null)
    })
  }

  /** The HN API JSON body for an id (None for a tombstone). */
  def body(id: Long): Option[String] = expectedRow(id).map { row =>
    val keys = Seq("id", "deleted", "type", "by", "time", "text", "dead", "parent",
      "poll", "url", "score", "title", "descendants")
    keys.zip(row).collect {
      case (k, v: String) => "\"" + k + "\":\"" + v + "\""
      case ("deleted" | "dead", false) => ""
      case (k, v) if v != null => "\"" + k + "\":" + v
    }.filter(_.nonEmpty).mkString("{", ",", "}")
  }

  /** Ids of a rendered page rooted at `root` over the archive ids `<= hwm`,
    * in pre-order with children sorted by (time, id). */
  def preorder(root: Int, hwm: Int, children: Map[Int, Seq[Int]]): Seq[Long] = {
    val out = mutable.ArrayBuffer.empty[Long]
    def visit(id: Int): Unit = {
      out += id.toLong
      children.getOrElse(id, Nil).filter(_ <= hwm)
        .sortBy(c => (time(c), c)).foreach(visit)
    }
    visit(root)
    out.toSeq
  }

  /** Child lists of every item (ids ascending). */
  def childLists(): Map[Int, Seq[Int]] = {
    val m = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    var id = 1
    while (id <= size) {
      if (kind(id) == Comment) m.getOrElseUpdate(parent(id), mutable.ArrayBuffer.empty) += id
      id += 1
    }
    m.view.mapValues(_.toSeq).toMap
  }
}

object Corpus {
  val Tombstone: Byte = 0
  val Story: Byte = 1
  val Comment: Byte = 2
  val Job: Byte = 3
  val Poll: Byte = 4
  val PollOpt: Byte = 5
  val DeletedFlag: Byte = 1
  val DeadFlag: Byte = 2

  private val Vocab = Array("the", "a", "of", "to", "and", "is", "in", "that", "it",
    "for", "you", "this", "but", "with", "not", "are", "on", "be", "have", "as",
    "rust", "spark", "startup", "code", "data", "model", "users", "server", "memory",
    "paper", "company", "design", "google", "price", "open", "source", "query",
    "python", "latency", "build", "scale", "team", "market", "privacy", "browser")

  /** Stable 64-bit hash of a row given as column values. */
  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(v => if (v == null) "\u0001" else v.toString).mkString("\u0000")
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) |
      (scala.util.hashing.MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL)
  }

  /** Fetch counters. Every copy of [[CorpusFetcher]] runs in this JVM
    * (local mode), so one set of counters sees driver and task calls. */
  val fetchCalls = new AtomicLong()
  val fetchHits = new AtomicLong()
  val fetchNanos = new AtomicLong()
}

/** The benchmark's stand-in for the HN API: serves only generated items.
  * `latest` is what `maxitem` reports. */
final class CorpusFetcher(corpus: Corpus, latest: Long) extends Fetcher {
  def fetch(id: Long): Option[String] = {
    val t0 = System.nanoTime()
    val b = corpus.body(id)
    Corpus.fetchCalls.incrementAndGet()
    if (b.isDefined) Corpus.fetchHits.incrementAndGet()
    Corpus.fetchNanos.addAndGet(System.nanoTime() - t0)
    b
  }
  def latestId(): Long = latest
}
