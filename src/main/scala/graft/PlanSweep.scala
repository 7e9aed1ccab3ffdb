package graft

/** Dev tool: sweep EVERY declared query's optimized plan for the
  * duplicated-expensive-expression signature — a Filter whose condition
  * embeds a higher-order-function subtree (`aggregate(`/`transform(`/
  * `filter(` over arrays) or one of the engine's heavy custom
  * expressions. That is the shape left behind when PushDownPredicates
  * or an inferred constraint substitutes an expensive projected alias
  * below its projection (guide §4.4), re-evaluating it per row: the
  * round-17/18 audits found and fixed six instances (winnow family,
  * nearest-centroid family, pack forget/repair masks, DSIR weight,
  * curriculum score), each worth 2-3× of its scan stage.
  *
  * Prints one line per query: `name nFilterHits maxCondLen` and the
  * offending condition prefix for hits. A hit is WORTH REVIEWING, not
  * automatically a defect — cheap per-member folds in a filter are
  * fine; per-token folds are not.
  *
  * Usage: scripts/run.sh graft.PlanSweep [sfDir]
  * QueriesSpec asserts [[filterHits]] is empty for every query.
  */
object PlanSweep {
  private val Needles = Seq("aggregate(", "filter(", "winnow_select", "pin_eval",
    "nearest_centroid", "nearest_residual", "transform(")

  /** The Filter lines of an optimized plan whose condition embeds one of
    * the needles. */
  def filterHits(plan: String): Seq[String] =
    plan.linesIterator.filter { l =>
      val t = l.dropWhile(c => c == ' ' || c == '+' || c == '-' || c == ':')
      t.startsWith("Filter ") && Needles.exists(t.contains)
    }.toSeq

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    var hits = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, sfDir).queryExecution
        val bad = filterHits(qe.optimizedPlan.toString)
        // join-strategy census (physical plan): a SortMergeJoin whose
        // one side is provably bounded (deletion lists, component maps,
        // sidecars) is a missed broadcast — reviewed by hand
        val smjN = qe.sparkPlan.toString.linesIterator
          .count(_.contains("SortMergeJoin"))
        if (smjN > 0) println(s"[plansweep] $name smj=$smjN")
        if (bad.isEmpty) println(s"[plansweep] $name clean")
        else {
          hits += bad.size
          bad.foreach(l => println(
            s"[plansweep] $name HIT len=${l.length}: ${l.trim.take(400)}"))
        }
      } catch {
        case e: Throwable =>
          println(s"[plansweep] $name ERROR ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(160)}")
      } finally spark.catalog.clearCache()
    }
    println(s"[plansweep] done: $hits filter hits across " +
      s"${SparkEntry.queries.size} queries")
    spark.stop()
  }
}
