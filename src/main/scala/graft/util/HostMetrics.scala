package graft.util

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** The one measurement module behind every timing entry point —
  * [[graft.Bench]], [[graft.Verify]] and the dev tools under
  * `graft.tools` (TimeQueries, PairSweep, VariantSweep, Explain,
  * ScaleProbe). The session they measure in, how task CPU is counted,
  * how one execution is timed and cleaned up after, and how steal and
  * load are read live here once, so the bench's recorded numbers, the
  * oracle dump and the adjudication tools' re-timings can never
  * silently diverge. */
object HostMetrics {
  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** 1-minute load average at call time; -1.0 if unavailable. Inside a
    * guest VM this counts ONLY our own runnable threads — see
    * [[stealSec]] for the channel that sees the host. */
  def loadAvg(): Double = {
    val la = osBean.getSystemLoadAverage
    if (la.isNaN) -1.0 else math.round(la * 100) / 100.0
  }

  /** Cumulative hypervisor STEAL time in seconds (/proc/stat field 8,
    * USER_HZ = 100 jiffies/s). A co-tenant on the HOST is invisible to
    * the load average but shows up here: CPU-seconds the host took from
    * us while we were runnable. The per-interval DELTA is the direct,
    * quantitative contamination tag (r10's 404 s vs 259 s bench
    * adjudication). -1.0 when the kernel doesn't expose it. */
  def stealSec(): Double = {
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else -1.0
    } catch { case _: Throwable => -1.0 }
  }

  /** The bench session: `local[SPARK_GRAFT_CPUS]` (default 4) with as
    * many shuffle partitions, UTC, no UI. Every timing entry point and
    * the oracle dump build their session here, so the oracle diff
    * verifies exactly what the bench times. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The bench's separated sweeps put ~288 queries between a query's
      // two attempts; at the default 100-entry codegen class cache, sweep
      // B re-Janino-compiles every stage of every query — measured +30%
      // on the total and +8 s on codegen-heavy x187 with ZERO steal.
      // Sized to hold both sweeps' generated classes (~2k stages).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // ANSI mode (Spark 4's new default) pays an overflow-check branch on
      // every integer op; paired A/B (r15, same session, interleaved, min
      // of reps) measured x187's hot wedge aggregate at −52% task CPU and
      // −2.8 s wall with ANSI off, x213 −5 cpu-s, the rest neutral. The
      // engine's arithmetic is overflow-audited (DECIMAL wherever a sum
      // can exceed BIGINT — see x193's t³ note), so ANSI's only effect on
      // declared queries is the per-op check cost; result-identity under
      // the flip is proven by the full DuckDB oracle diff run in this same
      // session (graft.Verify). SPARK_GRAFT_ANSI=true restores strict
      // mode at no code change (scale-deployment escape hatch).
      .config("spark.sql.ansi.enabled", sys.env.getOrElse("SPARK_GRAFT_ANSI", "false"))
      .getOrCreate()
    LocalFs.install(s)
    s
  }

  /** Executor task-CPU accounting: hypervisor steal stretches WALL time
    * but not CPU consumed, so CPU seconds are the steal-immune
    * adjudication signal — a real per-row regression shows up in CPU,
    * pure steal does not. Register one per session with [[TaskCpu.on]]. */
  final class TaskCpu extends SparkListener {
    private val nanos = new AtomicLong(0L)

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) nanos.addAndGet(m.executorCpuTime)
    }

    /** Cumulative task-CPU nanoseconds once the counter is quiet.
      * Listener events are async, so the poll attributes every task to
      * the execution that ran it before the next one starts. Bounded
      * (ADVICE r13): if task-end events keep trickling in (any background
      * activity), return the last read after ~2 s — CPU attribution is
      * advisory and must never hang a timing run. */
    def settled(): Long = {
      var prev = -1L; var cur = nanos.get(); var polls = 0
      while (cur != prev && polls < 40) {
        Thread.sleep(50); prev = cur; cur = nanos.get(); polls += 1
      }
      cur
    }
  }

  object TaskCpu {
    def on(spark: SparkSession): TaskCpu = {
      val t = new TaskCpu
      spark.sparkContext.addSparkListener(t)
      t
    }
  }

  /** Generated classes Janino has compiled in this JVM so far, driver and
    * (in local mode) executor side together. Each compile is a cache miss
    * of Spark's codegen cache, so a rising count across runs of one plan
    * shape is code recompiled rather than reused. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One execution's wall seconds, hypervisor steal seconds accrued
    * during it (-1 where the kernel has no steal field), executor
    * task-CPU seconds and the generated classes compiled during it. */
  final case class Timing(wall: Double, steal: Double, cpu: Double, compiles: Long)

  /** Times `body`, then drops what it left behind: `clearCache` drops
    * SQL-cached relations but NOT localCheckpoint blocks
    * (Staging.LocalCheckpoint is eager and registers in the block
    * manager; ContextCleaner only frees them on a driver GC, every
    * 30 min by default). Accumulated across a sweep they turned into
    * eviction churn that inflated heavy late-sweep queries (x189 in-bench
    * 7-13 s vs 1.6 s isolated, zero steal), so each execution's staged
    * blocks are freed as soon as its timing is recorded. */
  def timed(spark: SparkSession, cpu: TaskCpu)(body: => Unit): Timing = {
    val c0 = cpu.settled()
    val st0 = stealSec()
    val k0 = codegenCompiles()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val compiles = codegenCompiles() - k0
    val st = stealSec()
    val cpuSec = (cpu.settled() - c0) / 1e9
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    Timing(wall, if (st0 < 0 || st < 0) -1.0 else st - st0, cpuSec, compiles)
  }

  /** Order-insensitive content signature: the sorted column names, the
    * row count and the exact sum of each row's xxhash64 over those
    * columns. Equal content gives equal signatures whatever the row
    * order; a changed value or a duplicated row changes the sum. The sum
    * runs in DECIMAL(38,0) — exact for up to ~10^19 rows — because a
    * BIGINT sum of 64-bit hashes overflows within a few rows, which
    * throws under ANSI. */
  def signature(df: DataFrame): (Seq[String], Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.toSeq
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (cols, r.getLong(0), r.getDecimal(1))
  }
}
