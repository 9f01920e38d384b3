package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import graft.config.JobConfig
import graft.run.{PipelineRunner, PipelineStep, StreamingOrchestrator}
import graft.sources.VersionedParquet
import scala.jdk.CollectionConverters._

/** Helpers shared by the workloads. */
object Io {
  def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  /** A config template with `${KEY}` placeholders filled in. */
  def fill(template: String, vars: Map[String, String]): String =
    vars.foldLeft(template) { case (t, (k, v)) => t.replace("${" + k + "}", v) }

  def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close() }
  }

  /** Bytes on disk under `root`, Hadoop checksum files included. */
  def bytes(root: String): Long = files(root).map(Files.size).sum

  /** Rows of a parquet sink; 0 before its first write. */
  def rows(spark: SparkSession, path: String): Long =
    if (Files.exists(Paths.get(path))) spark.read.parquet(path).count() else 0L

  /** Distinct keys, current rows and all rows of an SCD2 dimension, in one job. */
  def dimCounts(dim: DataFrame, key: String): (Long, Long, Long) = {
    val r = dim.agg(F.countDistinct(key), F.count(F.when(F.col("is_current"), 1)), F.count(F.lit(1))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def isConflict(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(_.isInstanceOf[VersionedParquet.ConflictException])

  /** JSON manifest written by the generator: a list of flat objects. */
  def manifest(p: String): Seq[Map[String, Any]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.readValue(read(p), classOf[java.util.List[java.util.Map[String, Object]]])
      .asScala.toSeq.map(_.asScala.toMap)
  }
  def num(m: Map[String, Any], k: String): Long = m(k).asInstanceOf[Number].longValue
}

/** The reference's daily DAG, `fetch_prices >> calculate_daily_range >>
  * register >> scd2_daily_ranges`, as four JSON job configs run in
  * sequence through [[PipelineRunner]]; one iteration is one day, whose
  * input is a raw CSV day-drop (the drops are reused in rotation, the
  * trade date advances every day, so each day changes every key of the
  * growing SCD2 dimension). */
final class DailyPipeline(spark: SparkSession, spans: Spans, work: String,
    inputs: String, configs: String) extends Workload {
  private val drops = Io.manifest(s"$inputs/manifest.json")
  private val steps = Seq("fetch_prices", "calculate_daily_range", "register", "scd2_daily_ranges")
  private val templates = steps.map(s => s -> Io.read(s"$configs/$s.json")).toMap
  private val sinks = s"$work/sinks"
  private var expectedErrors = 0L
  private var conflicts = 0
  private val commitsAt = scala.collection.mutable.HashMap.empty[Int, Int]
  private val rowsIn = scala.collection.mutable.HashMap.empty[Int, Long]
  private val badRows = scala.collection.mutable.HashMap.empty[Int, Long]
  private var lastErrors = 0L
  private var reportRowsTotal = 0L
  private var daysRun = 0

  private val runner = new PipelineRunner(spark) {
    override protected def runAttempt(cfg: JobConfig, token: Option[String]): Unit =
      spans(s"run.step.${cfg.jobName}") {
        try super.runAttempt(cfg, token)
        // counted while spans are on, i.e. in traced iterations only
        catch { case e: Throwable => if (Io.isConflict(e) && spans.enabled) conflicts += 1; throw e }
      }
  }

  def hasNext = true
  private def day(i: Int) = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
  private def drop(i: Int) = drops(i % drops.size)

  def iterate(i: Int): IterResult = {
    val vars = Map("WORK" -> work, "CONFIGS" -> configs, "DROP" -> drop(i)("path").toString,
      "DATE" -> day(i).toString, "DAY" -> f"$i%04d")
    var failed = 0
    val t0 = Unstolen.mark()
    steps.foreach { s =>
      val cfg = spans("config.parse")(JobConfig.parse(Io.fill(templates(s), vars)))
      // a step that fails after its retries fails the rest of the day
      if (failed > 0) failed += 1
      else try runner.run(Seq(PipelineStep(s, cfg))) catch { case _: Throwable => failed += 1 }
    }
    // the DAG's unit of latency is the whole day; per-step times are the
    // traced run's `run.step.*` spans
    val units = Seq(Unstolen.timed("day", t0, Unstolen.mark()))
    expectedErrors += Io.num(drop(i), "null_keys") + Io.num(drop(i), "duplicates")
    rowsIn(i) = Io.num(drop(i), "rows")
    daysRun = i + 1
    IterResult(units, steps.size, failed)
  }

  def checksRun(i: Int) = 3
  def check(i: Int): Seq[String] = {
    val errors = Io.rows(spark, s"$sinks/errors")
    badRows(i) = errors - lastErrors
    lastErrors = errors
    val ranges = spark.read.parquet(s"$sinks/daily_ranges").count()
    val report = Io.files(s"$sinks/report")
      .filter(_.getFileName.toString.startsWith(f"ranges_$i%04d_"))
    // the single-file CSV is gzip-compressed under a `.csv` name, so no
    // reader infers its codec: count its lines directly
    val reportRows = report.map { f =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(Files.newInputStream(f)), "UTF-8"))
      try in.lines().count() - 1 finally in.close()
    }.sum
    reportRowsTotal += reportRows
    val versions = VersionedParquet.versions(s"$sinks/range_dim").size
    commitsAt(i) = versions + VersionedParquet.versions(s"$sinks/ranges_log").size
    Seq(
      if (errors != expectedErrors) Some(s"error sink holds $errors rows, $expectedErrors defects injected") else None,
      if (report.size != 1 || reportRows != ranges) Some(s"report file(s) ${report.size} hold $reportRows rows, daily_ranges $ranges") else None,
      if (versions != i + 1) Some(s"range_dim has $versions versions after ${i + 1} days") else None
    ).flatten
  }

  def finish(): Map[String, Any] = {
    val dim = VersionedParquet.read(spark, s"$sinks/range_dim")
    dim.filter(F.col("is_current")).drop("effective_from", "effective_to", "is_current", "scd_bucket")
      .write.mode("overwrite").parquet(s"$work/check/dim_current")
    val (keys, nCurrent, dimRows) = Io.dimCounts(dim, "part_key")
    val live = Seq("prices", "daily_ranges", "ranges_by_day", "errors")
      .map(s => Io.rows(spark, s"$sinks/$s")).sum +
      VersionedParquet.read(spark, s"$sinks/ranges_log").count() + dimRows + reportRowsTotal
    Map("checks" -> 1,
      "failures" -> (if (nCurrent != keys) Seq(s"range_dim has $nCurrent current rows for $keys keys") else Nil),
      "days" -> (0 until daysRun).map(i => Map("day" -> day(i).toString, "drop" -> drop(i)("path"))),
      "dim_current" -> s"$work/check/dim_current",
      "stored_bytes" -> Io.bytes(sinks), "live_rows" -> live)
  }

  override def layerMetrics(t: Tracer, iters: Set[Int]): Map[String, Double] = {
    val n = math.max(1, iters.size).toDouble
    val in = iters.toSeq.map(rowsIn).sum.toDouble
    val bad = iters.toSeq.map(badRows).sum.toDouble
    val commits = iters.toSeq.map(i => commitsAt(i) - commitsAt.getOrElse(i - 1, 0)).sum.toDouble
    Map("operators.rows_in" -> in / n, "operators.bad_rows" -> bad / n,
      "operators.good_ratio" -> (if (in > 0) 1 - bad / in else 0.0),
      "sinks.commits" -> commits / n, "sinks.conflicts" -> conflicts.toDouble / n)
  }
}

/** A streaming SCD2 job (`mode: streaming`, AvailableNow) that drains a
  * backlog of small change files, one file per micro-batch. Each
  * iteration lands the next [[StreamScd2.FilesPerIteration]] files and
  * runs the job to exhaustion; the first iteration also lands the full
  * customer snapshot that initializes the dimension. */
final class StreamScd2(spark: SparkSession, spans: Spans, work: String,
    inputs: String, configs: String) extends Workload {
  import StreamScd2.FilesPerIteration
  private val backlog = Io.manifest(s"$inputs/manifest.json")
  private val landing = s"$work/landing"
  private val sinks = s"$work/sinks"
  private val template = Io.read(s"$configs/stream_scd2.json")
  private var landed = 0
  private var expectedErrors, expectedAudit = 0L
  private val batches = scala.collection.mutable.HashMap.empty[Int, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]]
  private val skipped = scala.collection.mutable.HashMap.empty[Int, Long]
  private val commits = scala.collection.mutable.HashMap.empty[Int, Long]
  private val rowsIn = scala.collection.mutable.HashMap.empty[Int, Long]
  private val badRows = scala.collection.mutable.HashMap.empty[Int, Long]
  private var lastBatch = -1L
  private var dimQuery = ""
  private var lastVersions = 0
  private var lastAuditVersions = 0
  private var lastErrors = 0L
  Files.createDirectories(Paths.get(landing))

  def hasNext: Boolean = landed + FilesPerIteration <= backlog.size

  def iterate(i: Int): IterResult = {
    val n = if (i == 0) FilesPerIteration + 1 else FilesPerIteration
    // land the next files; a move keeps the generator's increasing mtimes,
    // which fix the file source's processing order
    (landed until landed + n).foreach { f =>
      val name = f"chg_$f%06d.parquet"
      Files.move(Paths.get(inputs, name), Paths.get(landing, name), StandardCopyOption.ATOMIC_MOVE)
      val m = backlog(f)
      expectedErrors += Io.num(m, "null_keys")
      expectedAudit += Io.num(m, "rows") - Io.num(m, "null_keys") - Io.num(m, "redelivered")
    }
    landed += n
    val cfg = spans("config.parse")(JobConfig.parse(Io.fill(template, Map("WORK" -> work))))
    val qs = spans("run.stream.stream_scd2") {
      val qs = new StreamingOrchestrator(spark).run(cfg)
      qs.foreach(_.awaitTermination())
      qs.foreach(_.stop())
      qs
    }
    qs.foreach(q => q.exception.foreach(e => throw e))
    dimQuery = qs.head.id.toString
    val mine = qs.head.recentProgress.toSeq.filter(p => p.batchId > lastBatch && p.numInputRows > 0)
    lastBatch = qs.head.recentProgress.map(_.batchId).maxOption.getOrElse(lastBatch)
    batches(i) = mine
    rowsIn(i) = mine.map(_.numInputRows).sum
    val units = mine.map { p =>
      val a = Unstolen.nanosOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      Unstolen.timed("micro_batch", a, a + p.durationMs.get("triggerExecution").longValue * 1000000L)
    }
    IterResult(units, mine.size, 0)
  }

  def checksRun(i: Int) = 4
  def check(i: Int): Seq[String] = {
    val n = if (i == 0) FilesPerIteration + 1 else FilesPerIteration
    val versions = VersionedParquet.versions(s"$sinks/customer_dim").size
    val auditVersions = VersionedParquet.versions(s"$sinks/audit").size
    skipped(i) = batches(i).size - (versions - lastVersions)
    commits(i) = (versions - lastVersions) + (auditVersions - lastAuditVersions).toLong
    lastVersions = versions; lastAuditVersions = auditVersions
    val errors = Io.rows(spark, s"$sinks/errors")
    badRows(i) = errors - lastErrors
    lastErrors = errors
    val audit = VersionedParquet.read(spark, s"$sinks/audit").count()
    Seq(
      if (batches(i).size != n) Some(s"${batches(i).size} data micro-batches for $n landed files") else None,
      if (skipped(i) != 0) Some(s"${skipped(i)} micro-batches of new data committed no dimension version") else None,
      if (errors != expectedErrors) Some(s"error sink holds $errors rows, $expectedErrors null keys landed") else None,
      if (audit != expectedAudit) Some(s"audit sink holds $audit rows, expected $expectedAudit") else None
    ).flatten
  }

  def finish(): Map[String, Any] = {
    val dim = VersionedParquet.read(spark, s"$sinks/customer_dim")
    dim.filter(F.col("is_current")).drop("effective_from", "effective_to", "is_current", "scd_bucket")
      .write.mode("overwrite").parquet(s"$work/check/dim_current")
    val (keys, nCurrent, dimRows) = Io.dimCounts(dim, "cust_key")
    val live = dimRows + VersionedParquet.read(spark, s"$sinks/audit").count() +
      Io.rows(spark, s"$sinks/errors")
    Map("checks" -> 1,
      "failures" -> (if (nCurrent != keys) Seq(s"customer_dim has $nCurrent current rows for $keys keys") else Nil),
      "landed" -> (0 until landed).map(f => s"$landing/" + f"chg_$f%06d.parquet"),
      "dim_current" -> s"$work/check/dim_current",
      "stored_bytes" -> Io.bytes(sinks), "live_rows" -> live)
  }

  override def layerMetrics(t: Tracer, iters: Set[Int]): Map[String, Double] = {
    val n = math.max(1, iters.size).toDouble
    // the streaming listener's record of the dimension sink's data batches
    val ps = t.progress.map(_.progress).filter(p => p.id.toString == dimQuery && p.numInputRows > 0).toSeq
    def phase(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / n
    val jobs = t.jobs.values.filter(j => j.endMs >= 0 && j.query.isDefined && j.batch.isDefined)
      .groupBy(j => (j.query.get, j.batch.get))
    // time the sink spent in its micro-batch body outside any Spark job
    val commitSelf = ps.map { p =>
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      // addBatch is followed only by the offset commit within a trigger
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        ms("triggerExecution") - ms("commitOffsets")
      val add = ms("addBatch")
      val js = jobs.getOrElse((p.id.toString, p.batchId), Nil)
      add - t.jobCoverMs(end - add, end, js)
    }.sum
    val in = iters.toSeq.map(rowsIn).sum.toDouble
    val bad = iters.toSeq.map(badRows).sum.toDouble
    val c = iters.toSeq.map(commits).sum.toDouble
    Map("operators.rows_in" -> in / n, "operators.bad_rows" -> bad / n,
      "operators.good_ratio" -> (if (in > 0) 1 - bad / in else 0.0),
      "sinks.commits" -> c / n,
      "sinks.files_per_commit" -> (if (c > 0) t.filesWritten / c else 0.0),
      "sinks.commit_self_s" -> commitSelf / 1e3 / n,
      "streaming.batches" -> ps.size / n, "streaming.input_rows" -> in / n,
      "streaming.skipped_batches" -> iters.toSeq.map(skipped).sum / n,
      "streaming.query_planning_s" -> phase("queryPlanning"),
      "streaming.get_batch_s" -> phase("getBatch"),
      "streaming.add_batch_s" -> phase("addBatch"),
      "streaming.wal_commit_s" -> phase("walCommit"))
  }
}

object StreamScd2 { val FilesPerIteration = 2 }

/** Six registry operators through `SparkEntry.queries`, each result
  * written out for an order-independent content hash. Every pass runs
  * them in the same order: the cold pass's time and what the warm pass
  * still compiles depend on the order, and so would vary from run to run
  * with any order the seed chose. */
final class OperatorMix(spark: SparkSession, spans: Spans, work: String,
    inputs: String) extends Workload {
  def hasNext = true
  def iterate(i: Int): IterResult = {
    var failed = 0
    val units = Layers.MixQueries.map { q =>
      val t0 = Unstolen.mark()
      try spans(s"x.$q") {
        graft.SparkEntry.queries(q)(spark, inputs)
          .write.mode("overwrite").parquet(s"$work/out/$q/pass_$i")
      } catch { case _: Throwable => failed += 1 }
      val unit = Unstolen.timed(q, t0, Unstolen.mark())
      // as graft.Bench does after each query: free its cached relations
      // and its staged (locally checkpointed) blocks
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      unit
    }
    IterResult(units, units.size, failed)
  }
  def checksRun(i: Int) = 0
  def check(i: Int): Seq[String] = Nil
  // the Python side hashes every result and counts its rows
  def finish(): Map[String, Any] = Map("checks" -> 0, "out" -> s"$work/out",
    "stored_bytes" -> Io.bytes(s"$work/out"))
}
