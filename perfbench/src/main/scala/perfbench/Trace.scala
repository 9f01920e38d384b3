package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Executor task CPU, the one counter the untraced run keeps: wall time on
  * a shared host absorbs steal, task CPU does not. */
final class CpuMeter extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) { cpuNs.addAndGet(e.taskMetrics.executorCpuTime); () }
}

/** Epoch milliseconds place a span against Spark's job events; `nanos`
  * times spans shorter than a millisecond. */
final case class Span(id: Int, name: String, parent: Int, iter: Int, startMs: Long,
    var endMs: Long = -1L, var nanos: Long = 0L) {
  def module: String = name.takeWhile(_ != '.')
}

/** Spans around the benchmark's calls into the engine. Each span's id and
  * module ride on the `perfbench.span` local property, so every Spark job a span
  * triggers (including jobs of streaming queries started inside it, whose
  * threads inherit local properties) carries the span that caused it. */
final class Spans(spark: SparkSession) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var iter = 0
  var enabled = false

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1), iter,
        System.currentTimeMillis())
      all += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Spans.Key)
      sc.setLocalProperty(Spans.Key, s"${s.id}|${s.module}")
      val t0 = System.nanoTime()
      try body
      finally {
        s.nanos = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Spans.Key, prev)
      }
    }
}
object Spans { val Key = "perfbench.span" }

/** Totals one layer accumulates over the traced iterations. */
final class LayerTotals {
  var jobs, jobWallMs, cpuNs, shuffleBytes, spillBytes = 0L
}

/** One stage's task metrics, summed over its tasks. */
final class StageTotals(val job: Int) {
  var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill, recordsIn, recordsOut = 0L
}

final case class JobRec(id: Int, startMs: Long, module: String, span: Int,
    query: Option[String], batch: Option[Long], var endMs: Long = -1L)

/** The traced run's instruments, registered only for the traced half of a
  * run and read after the listener bus has drained:
  *
  *  - every Spark job is attributed to the graft module whose frame is the
  *    first `graft.*` frame of its call site (the SQL execution's call site
  *    when the job belongs to one, so jobs that AQE or broadcast threads
  *    submit still land on the module that ran the query); a job with no
  *    engine frame falls back to the module of the span that triggered it;
  *  - task metrics (CPU, run time, GC, shuffle, spill, records) are summed
  *    per stage, and a stage's CPU, shuffle and spill are charged to its
  *    job's module;
  *  - driver-side SQL metrics give the file counts of scans and writes;
  *  - jobs with a `graft.util.Staging` frame anywhere in their call site
  *    are staging jobs, and RDD block updates give the bytes that
  *    checkpoints and persists stage;
  *  - streaming progress events give per-micro-batch phase durations. */
final class Tracer extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.LinkedHashMap.empty[Int, StageTotals]
  val layers = mutable.LinkedHashMap.empty[String, LayerTotals]
  val bySpan = mutable.HashMap.empty[Int, LayerTotals]
  private val execDetails = mutable.HashMap.empty[Long, String]
  private val metricName = mutable.HashMap.empty[Long, String]
  var rowsRead, bytesRead, rowsWritten, bytesWritten = 0L
  var filesRead, filesWritten, stagedBytes, stagingJobs = 0L
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  def layer(m: String): LayerTotals = layers.getOrElseUpdate(m, new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val (span, spanModule) = prop(Spans.Key).map(_.split('|')) match {
      case Some(Array(id, m)) => (id.toInt, m)
      case _                  => (-1, "bench")
    }
    val site = prop("spark.sql.execution.id").flatMap(id => execDetails.get(id.toLong))
      .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
    val rec = JobRec(e.jobId, e.time, Tracer.moduleOf(site).getOrElse(spanModule), span,
      prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong))
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = e.jobId)
    layer(rec.module).jobs += 1
    if (site.contains("graft.util.Staging")) stagingJobs += 1
    if (span >= 0) bySpan.getOrElseUpdate(span, new LayerTotals).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      layer(j.module).jobWallMs += e.time - j.startMs
      if (j.span >= 0) bySpan.getOrElseUpdate(j.span, new LayerTotals).jobWallMs += e.time - j.startMs
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val shuffle = m.shuffleWriteMetrics.bytesWritten
      val st = stages.getOrElseUpdate(e.stageId, new StageTotals(stageJob.getOrElse(e.stageId, -1)))
      st.cpuNs += m.executorCpuTime
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += shuffle
      st.spill += m.diskBytesSpilled
      st.recordsIn += m.inputMetrics.recordsRead
      st.recordsOut += m.outputMetrics.recordsWritten
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        val targets = Seq(layer(j.module)) ++
          (if (j.span >= 0) Seq(bySpan.getOrElseUpdate(j.span, new LayerTotals)) else Nil)
        targets.foreach { t =>
          t.cpuNs += m.executorCpuTime
          t.shuffleBytes += shuffle
          t.spillBytes += m.diskBytesSpilled
        }
      }
      rowsRead += m.inputMetrics.recordsRead
      bytesRead += m.inputMetrics.bytesRead
      rowsWritten += m.outputMetrics.recordsWritten
      bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) stagedBytes += b.memSize + b.diskSize
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execDetails(s.executionId) = s.details
        nameMetrics(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => nameMetrics(u.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
        u.sqlPlanMetrics.foreach(m => metricName(m.accumulatorId) = m.name)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) =>
          metricName.get(id) match {
            case Some("number of files read")    => filesRead += v
            case Some("number of written files") => filesWritten += v
            case _                               =>
          }
        }
      case _ =>
    }
  }

  private def nameMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => metricName(m.accumulatorId) = m.name)
    p.children.foreach(nameMetrics)
  }

  /** Registered on the session's streaming query manager beside this listener. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e; () }
  }

  /** Milliseconds of [from, to) covered by at least one of `jobs`. */
  def jobCoverMs(from: Long, to: Long, js: Iterable[JobRec]): Long = {
    val iv = js.filter(j => j.endMs > from && j.startMs < to)
      .map(j => (math.max(j.startMs, from), math.min(j.endMs, to))).toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (s, t) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = t }
      else curE = math.max(curE, t)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object Tracer {
  /** `graft.<module>.X` -> module. Classes of the root package (the query
    * registry) count as `x`; the engine's Spark bridge counts as `util`. */
  def moduleOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") =>
        val parts = l.takeWhile(_ != '(').split('.')
        if (parts.length > 3) parts(1) else "x"
      case l if l.startsWith("org.apache.spark.sql.graftbridge.") => "util"
    }
}
