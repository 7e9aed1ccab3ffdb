package graft

import org.apache.spark.sql.SparkSession

/** The one session every main starts: `local[cpus]`, one shuffle
  * partition per core, UTC session time zone, no UI, adaptive execution
  * at Spark's default (on). Callers set their own log level. */
object GraftSession {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
