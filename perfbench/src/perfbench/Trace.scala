package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One harness span: a call into one layer of the program. Times are
  * `System.nanoTime` values. `op` is the id of the timed operation the span
  * belongs to (0 = set-up). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, var end: Long = -1L)

/** One Spark job, attributed to the span that was open on the driver thread
  * when it was submitted and to the `graft.<module>` that submitted it (the
  * first `graft.` frame of its stages' call sites). */
final class JobRec(val id: Int, val span: Int, val module: String, val start: Long) {
  var end: Long = -1L
  /** Stages that ran at least one task (skipped and reused stages do not). */
  val ranStages = mutable.Set.empty[Int]
  def stages: Int = ranStages.size
  var tasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var gcNs = 0L
  var schedDelayNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var bytesWritten = 0L
}

/** Spans around layer calls plus one record per Spark job. With tracing off
  * `span` only runs its body, so the untraced run pays nothing but a branch.
  * Everything stays in memory until [[TraceReport]] writes it out. */
final class Tracer(val enabled: Boolean) {
  private val PropKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stack = mutable.Stack.empty[Span]
  private var sc: SparkContext = _
  var currentOp = 0

  // listener times are epoch milliseconds; map them onto the nanoTime clock
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis()
  def epochToNano(ms: Long): Long = nanoBase + (ms - epochBase) * 1000000L

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    sc.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0),
        currentOp, System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Module of the first `graft.` frame in a call site, e.g.
    * `graft.store.Snapshots.replace(...)` gives `store`. */
  private def graftModule(details: String): Option[String] =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { frame =>
      val parts = frame.takeWhile(_ != '(').split('.')
      if (parts.length > 3) parts(1) else "graft"
    }

  /** Call-site module of each SQL execution: adaptive query stages,
    * broadcasts and subqueries run their jobs on Spark's own threads, so
    * their stages carry no program frame, but their execution's call site
    * does. */
  private val executionModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** The submitting module: the stage call site, else the SQL execution's;
    * jobs with neither were submitted by the harness itself (executing a
    * returned plan, a lookup's collect) or by Spark's threads for them. */
  private def moduleOf(e: SparkListenerJobStart): String =
    e.stageInfos.headOption.flatMap(s => graftModule(s.details))
      .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionModule.get(id.toLong))))
      .getOrElse("harness")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toInt).getOrElse(0)
      val j = new JobRec(e.jobId, span, moduleOf(e), epochToNano(e.time))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(id => stageJob.put(id, j))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        graftModule(s.details).foreach(m => executionModule.put(s.executionId, m))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = epochToNano(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          j.ranStages += e.stageId
          if (m != null) {
            j.runNs += m.executorRunTime * 1000000L
            j.cpuNs += m.executorCpuTime
            j.gcNs += m.jvmGCTime * 1000000L
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.diskBytesSpilled
            j.bytesWritten += m.outputMetrics.bytesWritten
            val delay = e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              e.taskInfo.gettingResultTime
            j.schedDelayNs += math.max(0L, delay) * 1000000L
          }
        }
      }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
}
