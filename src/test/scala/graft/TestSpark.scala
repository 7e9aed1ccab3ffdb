package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The number of Spark jobs `f` starts on the shared session; the
    * listener bus is flushed before and after, so the count is exact. */
  def countJobs(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.GraftTestBus.flush(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }
}
