package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM (started by `perfbench/run.py`).
  *
  * {{{
  * perfbench.Main tables <work dir> <tables dir>
  * perfbench.Main run    <workload> <seed> <seconds> <trace 0|1> <work dir> <tables dir>
  *                       <expected.tsv> <result.json> <launch epoch ns> [corrupt-op]
  * perfbench.Main record <work dir> <tables dir> <dump dir>
  * }}}
  *
  * `tables` writes the query tables of [[TableGen]]; `run` writes one JSON
  * document to `<result.json>`; `record` dumps every llm query result for
  * the DuckDB oracle compare plus their digests.
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(args.tail)
    case Some("tables") => tables(args(1), args(2))
    case Some("record") => record(args(1), args(2), args(3))
    case _ => sys.error("usage: perfbench.Main tables|run|record ...")
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcNanos(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  private def run(a: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, tables, expectedPath, out, launchedS) =
      a.take(9)
    val corrupt = a.lift(9)
    val loadStart = loadAvg()
    val tracer = new Tracer(traceS == "1")
    val spark = session(work)
    tracer.attach(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, seedS.toLong, secondsS.toInt,
      Expected.load(expectedPath, corrupt), launchedS.toLong)
    val heap = new HeapAfterGc
    var gc0 = 0L
    val outcome = workload match {
      case "llm" | "archive" =>
        // set-up ends where the first timed op starts; reset the JVM
        // counters there (the first op reads them before its clock starts)
        ctx.beforeFirstOp = () => { gc0 = gcNanos(); heap.reset() }
        if (workload == "archive") ArchiveWorkload.run(ctx) else QueryWorkload.run(ctx, tables)
      case other => sys.error(s"unknown workload: $other")
    }
    val gcS = (gcNanos() - gc0) / 1e9
    val heapPeakMb = heap.peakBytes / 1048576.0
    tracer.drain()
    val ops = outcome.ops
    val failed = ops.count(!_.ok)
    val setupS = (ctx.firstOpNanos - ctx.launchedNanos) / 1e9
    val lat = ops.filter(o => o.kind == "query" || o.kind == "funnel" || o.kind == "lookup")
      .map(_.latencyS)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", outcome.wallS, "s"),
      ("failed_frac", failed.toDouble / math.max(1, ops.size), "ratio"),
      // on archive the read query is the point lookup (`select_item`)
      ("query_p50_s", Stats.pct(lat, 0.5), "s"),
      ("query_p90_s", Stats.pct(lat, 0.9), "s")) ++ outcome.metrics
    val report = new TraceReport(tracer, ops)
    val layer = if (tracer.enabled) report.metrics(gcS, heapPeakMb, outcome.layer) else Nil
    val doc = Map(
      "workload" -> workload, "seed" -> seedS.toLong, "seconds" -> secondsS.toInt,
      "trace" -> tracer.enabled,
      "attempted" -> ops.size, "failed" -> failed,
      "end_to_end" -> e2e.map(m => Map("name" -> m._1, "value" -> m._2, "unit" -> m._3)),
      "per_layer" -> layer.map(m => Map("name" -> m._1, "value" -> m._2, "unit" -> m._3)),
      "ops" -> ops.map(o => Map("op" -> o.id, "kind" -> o.kind, "name" -> o.name,
        "latency_s" -> o.latencyS, "ok" -> o.ok, "error" -> o.error)),
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> spark.sparkContext.master,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg()),
      "trace_detail" -> (if (!tracer.enabled) Map.empty[String, Any] else Map(
        "layers" -> report.layerTable(), "ops" -> report.opRows(), "spans" -> report.spanRows())))
    Files.write(Paths.get(out), Json.of(doc).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def tables(work: String, dir: String): Unit = {
    val spark = session(work)
    TableGen.write(spark, dir, TableGen.Seed)
    spark.stop()
  }

  /** Dump each llm query result as parquet (the layout the DuckDB oracle
    * compare reads) and print its digest, for `record_expected.py`. */
  private def record(work: String, data: String, dump: String): Unit = {
    val spark = session(work)
    val ctx = new Ctx(spark, new Tracer(false), work, 0L, 0, new Expected(Map.empty), 0L)
    val names = QueryWorkload.Llm
    val lines = names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, data)
      val d = Digest.of(df.queryExecution.executedPlan, ordered = true)
      spark.catalog.clearCache()
      graft.SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(Paths.get(dump, n).toString)
      spark.catalog.clearCache()
      s"$n\tordered\t${d.rows}\t${d.hex}"
    }
    val funnel = QueryWorkload.funnelDigest(ctx, data)
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(Paths.get(dump, "oracle_sql.json"),
      Json.of(oracle).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(dump, "digests.tsv"),
      (lines :+ s"${QueryWorkload.Funnel}\tunordered\t${funnel.rows}\t${funnel.hex}")
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Peak heap in use right after a collection: the live set, which unlike
  * the raw peak does not grow with how lazily the collector runs. */
final class HeapAfterGc {
  @volatile private var peak = 0L
  def reset(): Unit = peak = 0L
  def peakBytes: Long = peak
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }, null, null)
    case _ => ()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def of(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
