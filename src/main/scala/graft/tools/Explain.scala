package graft.tools

/** Plan-inspection / micro-profiling entry point:
  *   runMain graft.tools.Explain <sfDir> <query> [reps] [--plan]
  * Times a SparkEntry query `reps` times (first run includes planning; later
  * runs show steady-state) and optionally prints the formatted physical plan
  * — the loop used to check pushdown/broadcast/codegen before promoting an
  * implementation (builder contract: iterate on .explain until the plan is
  * the one you'd want at 100 TB).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val rest = args.drop(1).filter(a => a.nonEmpty && !a.startsWith("--"))
    val (numArgs, nameArgs) = rest.partition(_.forall(_.isDigit))
    require(nameArgs.nonEmpty,
      "usage: runMain graft.tools.Explain <sfDir> <query|all> [reps] [--plan] " +
        "— no query name given (an all-digits name would be read as reps)")
    val names =
      if (nameArgs.contains("all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else nameArgs.toSeq
    val reps = numArgs.headOption.map(_.toInt).getOrElse(2)
    val showPlan = args.contains("--plan")
    val spark = graft.util.HostMetrics.session()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Fs.warmStorage(sfDir)
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[explain] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs ($n rows)")
      }
      if (showPlan) println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
