package graft.operators

/** Scoped session-conf overrides shared by the driver-loop operators —
  * see [[ConfWindow]]'s scaladoc for the locking contract. */
private[graft] object ConfWindow {

  /** Per-(session, conf-key) monitor for scoped conf windows (weak session
    * keys: a lock must not pin a stopped session). */
  private val confLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.locks.ReentrantLock]]())

  /** Scoped override of a session conf (`key` := `want`) for the duration
    * of an operator's driver loop — the one-job head() and
    * keep-parallelism windows below. The conf is session-scoped, so the
    * flip is visible to any query issued on the SAME session during the
    * window (documented at the public entry points — use a separate
    * session for concurrency-sensitive work); only a lock HOLDER ever
    * writes the conf, so two concurrent windows cannot clobber each
    * other's saved value. A contender that fails `tryLock` runs WITHOUT
    * the override (losing only the latency optimization) instead of
    * blocking behind the other operator's whole window. `restore()` is
    * idempotent. */
  private[graft] final class ConfWindow(spark: org.apache.spark.sql.SparkSession,
                                 key: String, want: String,
                                 default: String) {
    private var held: java.util.concurrent.locks.ReentrantLock = null
    private var prev: String = null
    def suspend(): Unit = if (held == null) {
      val l = confLocks
        .computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
        .computeIfAbsent(key, _ => new java.util.concurrent.locks.ReentrantLock())
      if (l.tryLock()) {
        // conf access can throw (session stopped mid-call) — the lock must
        // not leak, or every later expansion on this session degrades
        try {
          prev = spark.conf.get(key, default)
          if (prev != want) { spark.conf.set(key, want); held = l }
          else l.unlock() // already there (possibly another window's doing)
        } catch { case t: Throwable =>
          if (held == null) l.unlock()
          throw t
        }
      }
    }
    def restore(): Unit = if (held != null) {
      try spark.conf.set(key, prev)
      finally { held.unlock(); held = null }
    }
  }

  /** Every frontier measurement is a `head(cap+1)` whose source has ≤ 32
    * partitions; Spark's incremental limit (start at 1 partition, scale by
    * `spark.sql.limit.scaleUpFactor`) turns each into 2-4 SEQUENTIAL jobs
    * — pure driver-latency tax at the per-round cadence. One job over all
    * partitions is strictly better here at any scale: per-partition work
    * is still bounded by the limit (tasks stop at cap+1 rows), and one
    * 32-task job beats three job round-trips. */
  def headOneJob(spark: org.apache.spark.sql.SparkSession) =
    new ConfWindow(spark, "spark.sql.limit.initialNumPartitions", "64", "1")

  /** AQE coalesces a small exchange down to one partition by output SIZE —
    * correct when the exchange feeds comparably-sized work, wrong when a
    * compact materialization (an inverted index, a signature table) feeds
    * a multiplying join downstream: the whole expansion then runs on one
    * task. Scope this window around the materialization so it keeps the
    * session's parallelism; downstream stages inherit it. */
  def keepParallelism(spark: org.apache.spark.sql.SparkSession) =
    new ConfWindow(spark,
      "spark.sql.adaptive.coalescePartitions.enabled", "false", "true")

}
