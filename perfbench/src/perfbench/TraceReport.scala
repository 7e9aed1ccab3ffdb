package perfbench

/** Per-layer metrics and the trace file of a traced run. A span's layer is
  * the part of its name before the first '.', so `queries.build` belongs to
  * `queries`; `op/...` spans are the timed ops and `setup/...` the set-up.
  * Self time is a span's duration minus the part of it covered by child
  * spans and by the Spark jobs submitted while it was the innermost span. */
final class TraceReport(t: Tracer, ops: Seq[OpResult]) {
  private val spans = t.spans.toSeq.filter(_.end >= 0)
  private val jobs = t.jobs.values().toArray(Array.empty[JobRec]).toSeq.filter(_.end >= 0)
  private val byParent = spans.groupBy(_.parent)
  private val jobsBySpan = jobs.groupBy(_.span)

  private def dur(s: Span): Double = (s.end - s.start) / 1e9
  private def layer(s: Span): String =
    if (s.name.startsWith("op/") || s.name.startsWith("setup/")) s.name.takeWhile(_ != '/')
    else s.name.takeWhile(_ != '.')

  /** Length of the union of intervals, clipped to [lo, hi], in seconds. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  private def descendants(s: Span): Seq[Span] =
    byParent.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))
  /** Jobs submitted under a span or any span below it. */
  def jobsUnder(s: Span): Seq[JobRec] =
    (s +: descendants(s)).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))

  def self(s: Span): Double = dur(s) - covered(
    byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
      jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end)), s.start, s.end)

  private def named(n: String): Seq[Span] = spans.filter(_.name == n)
  private def timedOps(kind: String): Seq[Span] = spans.filter(_.name.startsWith(s"op/$kind/"))
  private def meanDur(n: String) = Stats.mean(named(n).map(dur))
  private def perSpan(ss: Seq[Span])(f: Seq[JobRec] => Double): Double =
    if (ss.isEmpty) 0.0 else ss.map(s => f(jobsUnder(s))).sum / ss.size
  private def jobWall(js: Seq[JobRec]): Double = covered(js.map(j => (j.start, j.end)), Long.MinValue, Long.MaxValue)

  /** Counters only the archive workload measures; other workloads read 0. */
  private val archiveCounters = Seq(
    ("ingest.fetch_calls", "count"), ("ingest.items_per_fetch", "ratio"),
    ("ingest.backoff_sleeps", "count"), ("streaming.commit_fetch_s", "s"),
    ("store.live_files", "count"), ("render.nodes_per_page", "count"))

  /** Every per-layer metric: (name, value, unit). Metrics of layers the
    * workload does not load read 0. */
  def metrics(gcS: Double, heapPeakMb: Double, extra: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val queryOps = timedOps("query")
    val build = named("queries.build"); val exec = named("exec.exec")
    val execJobs = exec.flatMap(jobsUnder)
    val nq = math.max(1, queryOps.size).toDouble
    val sumOps = queryOps.map(dur).sum
    val stages = execJobs.map(_.stages).sum.toDouble
    val tasks = execJobs.map(_.tasks).sum.toDouble
    val execS = exec.map(dur).sum
    val commits = named("streaming.commit")
    val renders = timedOps("render")
    val lookups = named("store.lookup")
    val commitJobs = commits.flatMap(jobsUnder)
    // the livestream fetches on the driver thread, outside any job
    val commitFetchS = extra.find(_._1 == "streaming.commit_fetch_s").map(_._2).getOrElse(0.0)
    val commitSelf = commits.map { c =>
      dur(c) - covered(jobsUnder(c).map(j => (j.start, j.end)), c.start, c.end) - commitFetchS
    }
    val accounted = (build ++ named("catalyst.plan") ++ exec).map(dur).sum
    Seq(
      ("queries.build_s", meanDur("queries.build"), "s"),
      ("queries.build_jobs", build.flatMap(jobsUnder).size / nq, "count"),
      ("queries.build_share", if (sumOps > 0) build.map(dur).sum / sumOps else 0.0, "ratio"),
      ("queries.accounted_share", if (sumOps > 0) accounted / sumOps else 0.0, "ratio"),
      ("catalyst.plan_s", meanDur("catalyst.plan"), "s"),
      ("exec.exec_s", meanDur("exec.exec"), "s"),
      ("exec.jobs", execJobs.size / nq, "count"),
      ("exec.stages", stages / nq, "count"),
      ("exec.tasks", tasks / nq, "count"),
      ("exec.tasks_per_stage", if (stages > 0) tasks / stages else 0.0, "count"),
      ("exec.parallelism", if (execS > 0) execJobs.map(_.runNs).sum / 1e9 / execS else 0.0, "ratio"),
      ("exec.task_cpu_s", execJobs.map(_.cpuNs).sum / 1e9 / nq, "s"),
      ("exec.task_gc_s", execJobs.map(_.gcNs).sum / 1e9 / nq, "s"),
      ("exec.sched_delay_s", execJobs.map(_.schedDelayNs).sum / 1e9 / nq, "s"),
      ("exec.shuffle_write_bytes", execJobs.map(_.shuffleWrite).sum / nq, "B"),
      ("exec.shuffle_read_bytes", execJobs.map(_.shuffleRead).sum / nq, "B"),
      ("exec.spill_bytes", execJobs.map(_.spill).sum / nq, "B"),
      ("pipeline.curate_s", meanDur("pipeline.curate"), "s"),
      ("pipeline.curate_jobs", perSpan(named("pipeline.curate"))(_.size.toDouble), "count"),
      ("pipeline.exec_s", meanDur("pipeline.exec"), "s"),
      ("ingest.get_s", meanDur("ingest.get"), "s"),
      ("store.commit_jobs", perSpan(commits)(_.size.toDouble), "count"),
      ("store.commit_job_s", perSpan(commits)(jobWall), "s"),
      ("store.write_bytes_per_item",
        if (commits.isEmpty) 0.0
        else commitJobs.map(_.bytesWritten).sum.toDouble / (commits.size * ArchiveWorkload.CommitItems),
        "B/item"),
      ("store.lookup_jobs", perSpan(lookups)(_.size.toDouble), "count"),
      ("streaming.commit_self_s", Stats.mean(commitSelf), "s"),
      ("render.build_tree_s", meanDur("render.build_tree"), "s"),
      ("render.page_s", meanDur("render.page"), "s"),
      ("render.jobs_per_page", perSpan(renders)(_.size.toDouble), "count"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB")) ++
      archiveCounters.map { case (n, u) => (n, extra.find(_._1 == n).map(_._2).getOrElse(0.0), u) }
  }

  /** Per-layer table: spans, total and self seconds, and Spark jobs by the
    * graft module that submitted them. */
  def layerTable(): Seq[Map[String, Any]] = {
    val timed = spans.filter(_.op > 0)
    val rows = timed.groupBy(layer).toSeq.sortBy(_._1).map { case (l, ss) =>
      Map("layer" -> l, "spans" -> ss.size, "total_s" -> ss.map(dur).sum,
        "self_s" -> ss.map(self).sum)
    }
    val opIds = timed.map(_.id).toSet
    val timedJobs = jobs.filter(j => opIds.contains(j.span))
    rows ++ timedJobs.groupBy(_.module).toSeq.sortBy(_._1).map { case (m, js) =>
      Map("layer" -> s"spark:$m", "spans" -> js.size, "total_s" -> js.map(j => (j.end - j.start) / 1e9).sum,
        "self_s" -> jobWall(js))
    }
  }

  /** One row per timed op: latency and its split over the layers. */
  def opRows(): Seq[Map[String, Any]] = spans.filter(s => s.name.startsWith("op/")).map { s =>
    val kids = descendants(s)
    def sum(n: String) = kids.filter(_.name == n).map(dur).sum
    val js = jobsUnder(s)
    val o = ops.find(_.id == s.op)
    Map("op" -> s.op, "name" -> s.name.stripPrefix("op/"), "latency_s" -> dur(s),
      "ok" -> o.exists(_.ok),
      "build_s" -> (sum("queries.build") + sum("pipeline.curate")),
      "plan_s" -> sum("catalyst.plan"),
      "exec_s" -> (sum("exec.exec") + sum("pipeline.exec")), "jobs" -> js.size,
      "build_jobs" -> kids.filter(_.name == "queries.build").flatMap(jobsUnder).size,
      "tasks" -> js.map(_.tasks).sum, "task_run_s" -> js.map(_.runNs).sum / 1e9,
      "job_modules" -> js.groupBy(_.module).map { case (m, x) => m -> x.size })
  }

  def spanRows(): Seq[Map[String, Any]] = {
    val base = if (spans.isEmpty) 0L else spans.map(_.start).min
    spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_s" -> (s.start - base) / 1e9, "end_s" -> (s.end - base) / 1e9,
      "self_s" -> self(s))) ++
      jobs.sortBy(_.id).map(j => Map("job" -> j.id, "span" -> j.span, "module" -> j.module,
        "start_s" -> (j.start - base) / 1e9, "end_s" -> (j.end - base) / 1e9,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_run_s" -> j.runNs / 1e9,
        "task_cpu_s" -> j.cpuNs / 1e9, "task_gc_s" -> j.gcNs / 1e9,
        "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead,
        "spill_bytes" -> j.spill, "bytes_written" -> j.bytesWritten))
  }
}
