package graft

/** Dev tool: time one named query and print its formatted physical plan.
  * Usage: scripts/run.sh graft.Explain <queryName> [sfDir] [plan]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val showPlan = args.contains("plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    sys.env.get("SPARK_GRAFT_AQE")
      .foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.contains("SPARK_GRAFT_JOBLOG")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, Long]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            starts.put(j.jobId, j.time)
            val props = Option(j.properties)
            val site = props.map(_.getProperty("spark.job.description",
              props.get.getProperty("spark.callSite.short", "?"))).getOrElse("?")
            println(f"[jobstart] id=${j.jobId}%3d stages=${j.stageInfos.map(_.name).mkString(" | ").take(160)} desc=${String.valueOf(site).take(80)}")
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val dur = j.time - starts.getOrDefault(j.jobId, j.time)
            println(f"[job] id=${j.jobId}%3d dur=${dur / 1e3}%6.2fs")
          }
        })
    }
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (showPlan) df.explain("formatted")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = Bench.runFully(SparkEntry.queries(name)(spark, sfDir))
      println(f"[explain] $name rep=$i rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    if (args.contains("planafter")) {
      // the EXECUTED plan after a run — with AQE this is the final
      // re-optimized plan (ReusedExchange, AQEShuffleRead, runtime join
      // strategy changes), which `explain` before execution cannot show
      val df2 = SparkEntry.queries(name)(spark, sfDir)
      Bench.runFully(df2)
      println("== Executed Plan (post-AQE) ==")
      println(df2.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
