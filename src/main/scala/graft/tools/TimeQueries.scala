package graft.tools

import graft.util.HostMetrics.{TaskCpu, timed}

/** Targeted re-timer for individual registry queries (dev only).
  *
  * Usage: runMain graft.tools.TimeQueries <name> [<name> ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (default 3).
  *
  * Runs each named query REPS times after the standard bench warm-up and
  * prints every attempt with the hypervisor steal seconds accrued during
  * it — the adjudication tool for "is this bench entry a regression or
  * host contamination" (see HostMetrics.stealSec). Min-of-reps with
  * ~zero steal is the steady-state number comparable to bench budgets.
  *
  * Also prints per-rep executor CPU seconds (HostMetrics.TaskCpu): steal
  * stretches WALL time but not CPU consumed, so when the host is too
  * contaminated for wall-clock adjudication, compare min-of-reps CPU
  * between two builds run back-to-back — a real per-row regression shows
  * up in CPU; pure steal does not.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass at least one registry query name")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = graft.util.HostMetrics.session()
    spark.sparkContext.setLogLevel("ERROR")
    val cpu = TaskCpu.on(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()
    graft.util.Fs.warmStorage(sfDir)
    val unknown = args.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    for (name <- args) {
      val runs = (1 to reps).map { i =>
        val t = timed(spark, cpu) { graft.SparkEntry.queries(name)(spark, sfDir).count() }
        println(f"[time] $name rep$i: ${t.wall}%.2fs (steal ${t.steal}%.2fs, cpu ${t.cpu}%.2fs)")
        t
      }
      println(f"[time] $name MIN: ${runs.map(_.wall).min}%.2fs over $reps reps" +
        f" (min cpu ${runs.map(_.cpu).min}%.2fs)")
    }
    spark.stop()
  }
}
