package graft.tools

import graft.util.HostMetrics.{TaskCpu, timed}

/** Paired conf A/B (dev only): for each named query, alternate executions
  * with the candidate conf OFF (baseline) and ON, in counterbalanced order
  * (even-index queries baseline-first, odd-index candidate-first), within ONE
  * session. Per-query min-of-reps deltas are immune to the ±30% host drift
  * that makes run-level sweeps incomparable on this host. Runtime-settable
  * SQL confs only (plans rebuild per execution, so the toggle applies).
  *
  * Usage: runMain graft.tools.PairSweep <k=v>[;k=v...] <query|all> [...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS (per arm, default 3)
  */
object PairSweep {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PairSweep <k=v[;k=v]> <query|all> [...]")
    val confs = args(0).split(";").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2); (k, v)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = graft.util.HostMetrics.session()
    spark.sparkContext.setLogLevel("ERROR")
    val baselineVals = confs.map { case (k, _) => k -> spark.conf.get(k) }
    println(s"[pair] candidate: ${confs.map(c => s"${c._1}=${c._2}").mkString(";")}" +
      s" (baseline: ${baselineVals.map(c => s"${c._1}=${c._2}").mkString(";")})")
    val cpu = TaskCpu.on(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.util.Fs.warmStorage(sfDir)
    val names =
      if (args.drop(1).contains("all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    def run(n: String, cand: Boolean) = {
      confs.zip(baselineVals).foreach { case ((k, v), (_, bv)) =>
        spark.conf.set(k, if (cand) v else bv)
      }
      timed(spark, cpu) { graft.SparkEntry.queries(n)(spark, sfDir).count() }
    }
    var totBase = 0.0; var totCand = 0.0; var totBaseCpu = 0.0; var totCandCpu = 0.0
    names.zipWithIndex.foreach { case (n, i) =>
      val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      val runs = (1 to reps).flatMap(_ => order.map(c => c -> run(n, c)))
      val base = runs.filter(!_._1).map(_._2)
      val cand = runs.filter(_._1).map(_._2)
      val (bw, bc) = (base.map(_.wall).min, base.map(_.cpu).min)
      val (cw, cc) = (cand.map(_.wall).min, cand.map(_.cpu).min)
      totBase += bw; totCand += cw; totBaseCpu += bc; totCandCpu += cc
      println(f"[pair] $n%-30s base $bw%6.2f/$bc%6.2f  cand $cw%6.2f/$cc%6.2f  " +
        f"dWall ${cw - bw}%+6.2f  dCpu ${cc - bc}%+6.2f")
    }
    println(f"[pair] TOTAL base $totBase%.1f/$totBaseCpu%.1f  cand $totCand%.1f/$totCandCpu%.1f" +
      f"  dWall ${totCand - totBase}%+.1f  dCpu ${totCandCpu - totBaseCpu}%+.1f")
    spark.stop()
  }
}
