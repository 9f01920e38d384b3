package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One iteration's outcome: the timed units of work it ran (days,
  * micro-batches or queries), and how many of its operations were
  * attempted and failed. */
final case class IterResult(units: Seq[Timed], attempted: Int, failed: Int)

/** A workload drives the engine through its public entry points. `iterate`
  * is timed; `check` (after each iteration) and `finish` are not. */
trait Workload {
  def hasNext: Boolean
  def iterate(i: Int): IterResult
  /** Failed output checks of iteration `i` (empty when all hold). */
  def check(i: Int): Seq[String]
  def checksRun(i: Int): Int
  /** End-of-run exports for the Python-side checks, plus stored bytes and
    * live rows under the workload's sink paths. */
  def finish(): Map[String, Any]
  /** Workload-specific per-layer metrics over iterations `iters`. */
  def layerMetrics(t: Tracer, iters: Set[Int]): Map[String, Double] = Map.empty
}

/** The benchmark's JVM program: one session, one workload, a closed loop
  * (the next iteration starts when the previous one returns).
  *
  *   --workload daily_pipeline|stream_scd2|operator_mix --work <dir>
  *   --inputs <dir> --configs <dir> --iterations <n>
  *   --seed <n> --cpus <n> --trace 0|1
  *
  * Prints `READY` once the session is set up, then runs one cold
  * iteration (the run's only warm-up) and `iterations` measured ones, and
  * writes `<work>/result.json` (and `<work>/trace.json` when traced). */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = opt("cpus").toInt
    val work = opt("work")
    val t0 = System.nanoTime()
    Unstolen.start()
    HeapPeak.install()
    val spark = session(cpus, work)
    val t1 = System.nanoTime()
    // warm-up: codegen compiler, shuffle and parquet machinery
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.functions.GraftFunctions.register(spark)
    System.err.println(f"[perfbench] set-up: session ${(t1 - t0) / 1e9}%.2f s, " +
      f"warm-up ${(System.nanoTime() - t1) / 1e9}%.2f s")
    println("READY")
    System.out.flush()
    // halt rather than stop: the outputs are on disk, and a graceful
    // session stop would only add seconds to every run
    val code =
      try { run(spark, opt); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // graft.Bench's session settings
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.ansi.enabled", "false")
      // keep every file the session writes inside the work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(spark: SparkSession, opt: Map[String, String]): Unit = {
    val work = opt("work")
    val iterations = opt("iterations").toInt
    val traced = opt("trace") == "1"
    val spans = new Spans(spark)
    val cpu = new CpuMeter
    spark.sparkContext.addSparkListener(cpu)
    val w: Workload = opt("workload") match {
      case "daily_pipeline" => new DailyPipeline(spark, spans, work, opt("inputs"), opt("configs"))
      case "stream_scd2"    => new StreamScd2(spark, spans, work, opt("inputs"), opt("configs"))
      case "operator_mix"   => new OperatorMix(spark, spans, work, opt("inputs"))
      case other            => sys.error(s"unknown workload $other")
    }
    val proc = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val units = mutable.ArrayBuffer.empty[(Int, Timed)]
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

    val tracer = new Tracer
    def tracing(on: Boolean): Unit = {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(tracer)
        spark.streams.addListener(tracer.streamListener)
      } else {
        spark.sparkContext.removeSparkListener(tracer)
        spark.streams.removeListener(tracer.streamListener)
      }
      spans.enabled = on
    }

    /** One timed iteration with its host context, then its checks; the
      * tracer, when on, sees the iteration and not the checks. */
    def once(i: Int, phase: String): Double = {
      spans.iter = i
      // every measured iteration starts from the same heap: only what
      // earlier ones retain (a second collection after Spark's cleaner has
      // released what the first one found unreachable)
      val g = System.nanoTime()
      if (i > 0) { System.gc(); Thread.sleep(200); System.gc() }
      val heapBase = HeapPeak.startWindow()
      System.err.println(f"[perfbench] gc $i: ${(System.nanoTime() - g) / 1e9}%.2f s")
      if (phase == "traced") tracing(true)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val c0 = cpu.cpuNs.get; val p0 = proc.getProcessCpuTime
      val st0 = graft.util.HostMetrics.stealSec(); val la = graft.util.HostMetrics.loadAvg()
      val g0 = gcMs; val j0 = jitMs
      val t0 = Unstolen.mark()
      val r = try spans("bench.iteration")(w.iterate(i)) catch {
        case e: Throwable =>
          e.printStackTrace()
          failures += s"iteration $i: $e"
          IterResult(Nil, 1, 1)
      }
      val it = Unstolen.timed("iteration", t0, Unstolen.mark())
      System.err.println(f"[perfbench] iteration $i ($phase): ${it.wallS}%.2f s, unstolen ${it.unstolenS}%.2f s")
      val p1 = proc.getProcessCpuTime
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val st1 = graft.util.HostMetrics.stealSec()
      if (phase == "traced") tracing(false)
      samples += Map("iter" -> i, "phase" -> phase, "wall_s" -> it.wallS, "unstolen_s" -> it.unstolenS,
        "task_cpu_s" -> (cpu.cpuNs.get - c0) / 1e9, "process_cpu_s" -> (p1 - p0) / 1e9,
        "steal_s" -> (if (st0 < 0 || st1 < 0) -1.0 else st1 - st0), "loadavg" -> la,
        "gc_s" -> (gcMs - g0) / 1e3, "jit_s" -> (jitMs - j0) / 1e3,
        "heap_base_mb" -> heapBase / 1048576.0, "heap_peak_mb" -> HeapPeak.windowPeakBytes / 1048576.0)
      r.units.foreach(u => units += ((i, u)))
      attempted += r.attempted; failed += r.failed
      val bad = try timed(s"checks $i")(spans("bench.check")(w.check(i))) catch {
        case e: Throwable => e.printStackTrace(); Seq(s"check raised $e")
      }
      attempted += w.checksRun(i); failed += bad.size
      failures ++= bad.map(b => s"iteration $i: $b")
      it.unstolenS
    }

    val cold = once(0, "cold")
    // traced and untraced iterations alternate, so the two medians see
    // about the same warm-up state and their difference is the tracing
    // overhead
    val n = if (traced) math.max(2, iterations + iterations % 2) else iterations
    (1 to n).iterator.takeWhile(_ => w.hasNext).foreach { k =>
      once(k, if (traced && k % 2 == 0) "traced" else "warm")
    }
    val heapPeak = samples.filter(_("phase") != "cold")
      .map(_("heap_peak_mb").asInstanceOf[Double]).maxOption.getOrElse(0.0)
    // the heap the run retains: old generation after a full collection
    System.gc()
    val heapRetained = oldGenAfterGc()
    val fin = timed("finish")(spans("bench.check")(w.finish()))
    val extraChecks = fin.getOrElse("failures", Nil).asInstanceOf[Seq[String]]
    attempted += fin.getOrElse("checks", 0).asInstanceOf[Int]
    failed += extraChecks.size
    failures ++= extraChecks

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"), "seed" -> opt("seed").toLong, "cpus" -> opt("cpus").toInt,
      "cold_run_s" -> cold, "warmup_iterations" -> 1,
      "samples" -> samples.toSeq,
      "units" -> units.toSeq.map { case (it, u) =>
        Map("iter" -> it, "name" -> u.name, "wall_s" -> u.wallS, "unstolen_s" -> u.unstolenS) },
      "heap_peak_mb" -> heapPeak,
      "heap_retained_mb" -> heapRetained / 1048576.0,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "finish" -> (fin - "failures" - "checks"))
    if (traced) {
      val tracedIters = samples.filter(_("phase") == "traced").map(_("iter").asInstanceOf[Int]).toSet
      result("layers") = Layers.metrics(tracer, spans, w, samples.toSeq, tracedIters)
      Json.write(s"$work/trace.json", Map(
        "spans" -> spans.all.toSeq.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "iter" -> s.iter, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.nanos / 1e9)),
        "jobs" -> tracer.jobs.values.toSeq.map(j => Map("id" -> j.id, "module" -> j.module,
          "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
        "stages" -> tracer.stages.toSeq.map { case (id, st) => Map("id" -> id,
          "job" -> st.job, "module" -> tracer.jobs.get(st.job).map(_.module).getOrElse("bench"),
          "task_cpu_s" -> st.cpuNs / 1e9, "task_run_s" -> st.runMs / 1e3, "gc_s" -> st.gcMs / 1e3,
          "shuffle_read_bytes" -> st.shuffleRead, "shuffle_write_bytes" -> st.shuffleWrite,
          "spill_bytes" -> st.spill, "records_in" -> st.recordsIn, "records_out" -> st.recordsOut)
        }))
    }
    Json.write(s"$work/result.json", result.toMap)
  }

  private def timed[A](what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Old-generation bytes in use after the most recent collection. */
  def oldGenAfterGc(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => HeapPeak.isOld(p.getName))
      .flatMap(p => Option(p.getCollectionUsage).map(_.getUsed)).sum
  }
}

/** Result files: Scala maps, sequences and numbers as JSON. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), mapper.writeValueAsString(v))
  }
}

/** Peak old-generation occupancy after a collection within a window (one
  * iteration): a listener on every collector's notifications. G1 seldom
  * reclaims old regions within an iteration, so the peak is what the
  * window started with plus what it promotes or allocates as humongous
  * objects (broadcast blocks, collected arrays). */
object HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  def isOld(pool: String): Boolean = pool.contains("Old Gen") || pool.contains("Tenured")

  @volatile var windowPeakBytes = 0L

  /** Starts a new window for [[windowPeakBytes]]; returns the old generation now. */
  def startWindow(): Long = synchronized {
    val now = Main.oldGenAfterGc()
    windowPeakBytes = now
    now
  }

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        def old(m: java.util.Map[String, java.lang.management.MemoryUsage]) =
          m.asScala.collect { case (k, u) if isOld(k) => u.getUsed }.sum
        val after = old(info.getGcInfo.getMemoryUsageAfterGc)
        HeapPeak.synchronized { if (after > windowPeakBytes) windowPeakBytes = after }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _                      =>
  }
}
