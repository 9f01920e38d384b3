package perfbench

/** Per-layer metrics of a traced run, each averaged per traced iteration
  * and named `<module>.<metric>` after the engine's packages. Every name
  * is reported on every workload; a layer a workload does not reach
  * reads 0. */
object Layers {
  val Modules = Seq("sources", "operators", "run", "sinks", "streaming", "util", "x")
  /** The five broadcast-probe sites, then a control that stages through
    * `graft.util.Staging` without a probe. */
  val MixQueries = Seq("x181_frequent_triples", "x115_kcore", "x163_bfs_hops",
    "x202_partition_modularity", "x213_bradley_terry", "x3_minhash_neardup")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def metrics(t: Tracer, spans: Spans, w: Workload, samples: Seq[Map[String, Any]],
      traced: Set[Int]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    val inTrace = spans.all.filter(s => traced(s.iter) && s.endMs >= 0)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Modules.foreach { m =>
      val l = t.layers.getOrElse(m, new LayerTotals)
      out(s"$m.jobs") = l.jobs / n
      out(s"$m.job_wall_s") = l.jobWallMs / 1e3 / n
      out(s"$m.task_cpu_s") = l.cpuNs / 1e9 / n
      out(s"$m.shuffle_bytes") = l.shuffleBytes / n
      out(s"$m.spill_bytes") = l.spillBytes / n
    }
    val jobs = t.jobs.values.filter(_.endMs >= 0)
    out("run.driver_self_s") = inTrace.filter(_.module == "run")
      .map(s => (s.endMs - s.startMs) - t.jobCoverMs(s.startMs, s.endMs, jobs)).sum / 1e3 / n
    out("sources.rows_read") = t.rowsRead / n
    out("sources.bytes_read") = t.bytesRead / n
    out("sources.files_read") = t.filesRead / n
    out("sinks.rows_written") = t.rowsWritten / n
    out("sinks.bytes_written") = t.bytesWritten / n
    out("sinks.files_written") = t.filesWritten / n
    out("util.staging_jobs") = t.stagingJobs / n
    out("util.staged_bytes") = t.stagedBytes / n
    MixQueries.foreach { q =>
      val ss = inTrace.filter(_.name == s"x.$q")
      val per = math.max(1, ss.size).toDouble
      out(s"x.$q.run_s") = ss.map(_.nanos).sum / 1e9 / per
      out(s"x.$q.jobs") = ss.flatMap(s => t.bySpan.get(s.id)).map(_.jobs).sum / per
      out(s"x.$q.task_cpu_s") = ss.flatMap(s => t.bySpan.get(s.id)).map(_.cpuNs).sum / 1e9 / per
    }
    out("config.parse_s") = inTrace.filter(_.name == "config.parse").map(_.nanos).sum / 1e9 / n
    val cold = samples.find(_("phase") == "cold")
    out("jvm.gc_s") = cold.map(_("gc_s").asInstanceOf[Double]).getOrElse(0.0)
    out("jvm.jit_s") = cold.map(_("jit_s").asInstanceOf[Double]).getOrElse(0.0)
    val ts = samples.filter(s => traced(s("iter").asInstanceOf[Int]))
    out("host.steal_s") = ts.map(_("steal_s").asInstanceOf[Double]).sum / n
    out("host.loadavg") = ts.map(_("loadavg").asInstanceOf[Double]).sum / n
    def runS(phase: String) = samples.filter(_("phase") == phase).map(_("unstolen_s").asInstanceOf[Double])
    out("trace.overhead_s") = median(runS("traced")) - median(runS("warm"))
    // workload-specific counters (operators.*, sinks commit counters, streaming.*)
    out ++= w.layerMetrics(t, traced)
    out.toMap
  }
}
