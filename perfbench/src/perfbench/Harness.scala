package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation as the closed loop saw it. */
final case class OpResult(id: Int, kind: String, name: String, latencyS: Double,
                          ok: Boolean, error: String = "")

/** What every workload hands back: the timed ops, the wall of the timed op
  * list, and workload-specific end-to-end metrics (name -> (value, unit)). */
final case class Outcome(ops: Seq[OpResult], wallS: Double,
                         metrics: Seq[(String, Double, String)],
                         layer: Seq[(String, Double, String)])

/** Everything a workload needs: the session, the tracer, its private work
  * directory (inside the checkout), and the seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val seed: Long, val seconds: Int,
                val expected: Expected, val launchedNanos: Long) {
  private val results = mutable.ArrayBuffer.empty[OpResult]
  /** Epoch nanoseconds at the start of the first timed op. */
  var firstOpNanos = -1L
  /** Runs once, just before the first timed op starts its clock. */
  var beforeFirstOp: () => Unit = () => ()

  def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Run one timed op: latency covers `body` only; the check runs after the
    * clock stops. An op that throws, or whose check returns an error
    * message, counts as failed. */
  def timed(kind: String, name: String)(body: => Any)(check: Any => Option[String]): OpResult = {
    if (firstOpNanos < 0) {
      beforeFirstOp()
      firstOpNanos = epochNanos()
    }
    val id = results.size + 1
    tracer.currentOp = id
    val t0 = System.nanoTime()
    val r = try {
      val out = tracer.span(s"op/$kind/$name")(body)
      val dt = (System.nanoTime() - t0) / 1e9
      val err = try check(out) catch { case NonFatal(e) => Some(s"check threw $e") }
      OpResult(id, kind, name, dt, err.isEmpty, err.getOrElse(""))
    } catch {
      case NonFatal(e) =>
        OpResult(id, kind, name, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    tracer.currentOp = 0
    results += r
    r
  }

  def ops: Seq[OpResult] = results.toSeq

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Expected result digests (`expected.tsv`): op name -> (ordered, rows, hash). */
final class Expected(val entries: Map[String, (Boolean, Long, String)]) {
  def check(name: String, d: Digest): Option[String] = entries.get(name) match {
    case None => Some(s"no expected digest for $name")
    case Some((_, rows, hash)) =>
      if (rows == d.rows && hash == d.hex) None
      else Some(s"digest mismatch: got ${d.rows} rows ${d.hex}, expected $rows rows $hash")
  }
  def ordered(name: String): Boolean = entries.get(name).forall(_._1)
}

object Expected {
  def load(path: String, corrupt: Option[String]): Expected = {
    val p = Paths.get(path)
    val rows = if (!Files.exists(p)) Map.empty[String, (Boolean, Long, String)]
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split('\t')
        f(0) -> ((f(1) == "ordered", f(2).toLong, f(3)))
      }.toMap
    // negative control: flip one bit of one expected digest
    val flipped = corrupt.fold(rows) { name =>
      val (o, n, h) = rows.getOrElse(name, sys.error(s"no expected digest to corrupt: $name"))
      rows.updated(name, (o, n, f"${java.lang.Long.parseUnsignedLong(h, 16) ^ 1L}%016x"))
    }
    new Expected(flipped)
  }
}

/** Sample statistics. Percentiles are Harrell-Davis estimates: a mean of
  * all order statistics weighted by a Beta kernel centred on the quantile.
  * With the few dozen ops of one run this is much steadier than a single
  * order statistic, which jumps wherever the sorted latencies have a gap. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 1) return s.head
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      p * (n + 1), (1 - p) * (n + 1))
    var acc = 0.0
    var prev = 0.0
    for (i <- 1 to n) {
      val c = beta.cumulativeProbability(i.toDouble / n)
      acc += (c - prev) * s(i - 1)
      prev = c
    }
    acc
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
