package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.config._
import graft.operators.Validations
import graft.sinks.SinkWriter
import graft.sources.SourceReader
import graft.util.Staging
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The engine's job runner — the open re-implementation of the reference's
  * closed `com.xyz.spark.etl.main.Orchestrator` jar entry point
  * (/root/reference/example-shareprice.py:81,148), whose behavior is fully
  * declared by the config template (/root/reference/spark.json). Lifecycle
  * follows SURVEY.md §3.2 verbatim:
  *
  *   parse config → spark-conf passthrough → duplicate-run guard →
  *   pre-exec scripts → phase_1 bind inputs (+ junk-char cleanup,
  *   metadata mapping, projection) → phase_2 validations (null-key, keyed
  *   dedup; bad rows → error sink; threshold gate) → phase_2 SQL transform
  *   chain (each step registers outputDFName) → phase_3 sinks (load
  *   strategies, fan-out, reconciliation) → archive inputs → post-exec.
  *
  * All query processing is delegated to Spark SQL (spark.json:57 is the
  * reference's only query interface) — the orchestrator's job is correct
  * view registration, routing, and conf; Catalyst does the optimizing.
  */
class Orchestrator(spark: SparkSession) {

  /** Run one job end-to-end. Returns the last transformation's frame (for
    * tests / chaining); all declared sinks have been written on return.
    * `"mode": "streaming"` dispatches to [[StreamingOrchestrator]] and runs
    * the currently-available data to exhaustion (AvailableNow). */
  def run(cfg: JobConfig): DataFrame = run(cfg, None)

  /** `commitToken`: stable identity of one logical pipeline-step execution
    * across its retry attempts (O2). When set (and `tempPath` exists), each
    * sink and error write that commits drops a marker file; a retry of the
    * same token skips already-committed writes, so a job that fails AFTER
    * an append-mode sink committed doesn't re-append (duplicate) its rows
    * on the next attempt (ADVICE r1 — SCD2 is merge-idempotent, simpleInsert append is not).
    * Markers are cleared when the run succeeds. */
  def run(cfg: JobConfig, commitToken: Option[String]): DataFrame =
    runHolding(cfg, commitToken)._1

  /** [[run]], also returning the frames the run staged, which the result
    * may read. A caller that keeps using the result keeps them; one that
    * discards it frees them with [[Staging.release]] ([[PipelineRunner]]
    * does after every step). A failed run has already freed them, so a
    * retried attempt does not pile a second copy on top. */
  private[run] def runHolding(cfg: JobConfig,
      commitToken: Option[String]): (DataFrame, Seq[DataFrame]) = {
    graft.util.LocalFs.install(spark)
    Orchestrator.onePageAggregation(spark)
    if (cfg.mode == "streaming") {
      new StreamingOrchestrator(spark).run(cfg).foreach { q => q.awaitTermination(); q.stop() }
      return (null, Nil)
    }
    cfg.sparkConfig.foreach { case (k, v) => spark.conf.set(k, v) }
    // graft's custom expressions are part of the SQL surface a config-driven
    // job can use (the reference's only query interface is sqlQuery text)
    graft.functions.GraftFunctions.register(spark)

    // P3: the _RUNNING marker guards against CONCURRENT duplicate runs, so
    // it must be released when this run ends (success OR failure) — holding
    // it until JVM exit would turn every transient failure into a permanent
    // one under the pipeline retry loop (O2)
    val marker = if (cfg.duplicateRunCheck) Some(acquireRunMarker(cfg)) else None
    val staged = mutable.ArrayBuffer.empty[DataFrame]
    try {
      val out = runPhases(cfg, commitToken, staged)
      marker.foreach { m =>
        Files.writeString(m.resolveSibling(s"${cfg.jobName}_SUCCESS"),
          java.time.Instant.now().toString)
      }
      clearCommitMarkers(cfg, commitToken)
      (out, staged.toSeq)
    } catch {
      case e: Throwable => staged.foreach(Staging.release); throw e
    } finally marker.foreach { m =>
      Files.deleteIfExists(m)
      Orchestrator.untrackMarker(m)
    }
  }

  private def runPhases(cfg: JobConfig, commitToken: Option[String],
      staged: mutable.Buffer[DataFrame]): DataFrame = {
    cfg.preExecution.scripts.foreach(runScript)

    // phase_1 — bind inputs as named temp views
    val inputFrames = cfg.inputs.map { in =>
      val raw = SourceReader.read(spark, in)
      val cleaned =
        if (cfg.preExecution.junkCharacterRemoval) SourceReader.stripJunkCharacters(raw) else raw
      cleaned.createOrReplaceTempView(in.dataFrameName)
      in.dataFrameName -> cleaned
    }.toMap

    // phase_2 — validations: one tagged frame per validated view, its rules in config order
    val tagged = cfg.validations.map(_.dataFrameName).distinct.map { name =>
      name -> cfg.validations.filter(_.dataFrameName == name)
        .foldLeft(Validations.untagged(spark.table(name))) {
          case (t, NullValueCheck(_, pks))          => Validations.tagNullKeys(t, pks)
          case (t, DuplicateRecordCheck(_, pks, o)) => Validations.tagDuplicates(t, pks, o)
        }
    }
    val last = runTagged(cfg, tagged, commitToken, staged,
      (df, s, _) => SinkWriter.write(spark, df, s))

    cfg.archiveInput.foreach { a =>
      cfg.inputs.flatMap(_.path).foreach(p =>
        SinkWriter.archiveInput(p, a.archivePath, a.deleteSourceAfterArchival))
    }
    cfg.postExecutionScripts.foreach(runScript)
    last.getOrElse(inputFrames.values.lastOption.orNull)
  }

  /** One micro-batch of a [[StreamingOrchestrator]] job: `batch` is the
    * streamed input `name`, tagged when it is validated. The commit token
    * `<identity>_<batchId>` lets a replay skip the writes it committed.
    * `ivf` holds the ingest of each ivfMaintainedIngest sink, by sink
    * index. */
  private[run] def runMicroBatch(cfg: JobConfig, name: String, batch: DataFrame,
      streamBatch: (Long, String), ivf: Map[Int, (DataFrame, Long) => Unit]): Unit = {
    val token = Some(s"${streamBatch._2}_${streamBatch._1}")
    val tagged = if (cfg.validations.exists(_.dataFrameName == name)) Seq(name -> batch) else Nil
    batch.createOrReplaceTempView(name)
    val staged = mutable.ArrayBuffer.empty[DataFrame]
    try {
      runTagged(cfg, tagged, token, staged, (df, s, i) => ivf.get(i) match {
        case Some(ingest) => ingest(df, streamBatch._1)
        case None         => SinkWriter.write(spark, df, s, Some(streamBatch))
      })
      clearCommitMarkers(cfg, token)
    } finally staged.foreach(Staging.release)
  }

  /** The phases after tagging, shared by a batch step and each streaming
    * micro-batch, which differ only in how a sink writes (`write` gets the
    * frame, the sink and its index). Returns the last transformation's
    * frame.
    *
    * Each tagged frame is staged once: the gate's counts come from the
    * staging pass's own statistics, and the error-sink rows, the
    * re-registered good view and everything downstream read the staged
    * blocks. The input is parsed once and shuffled for dedup once,
    * and every consumer sees the same dedup tie-break decision. Staging is
    * LocalCheckpoint, not persist(): re-registering the good view under the
    * validated frame's name uncaches every cached plan that names the view,
    * so the input was parsed again anyway; and a cache of the unaliased
    * phase-1 frame, which survives that, raised the daily_pipeline
    * benchmark's heap peak from ~218 MB to 264-292 MB. */
  private def runTagged(cfg: JobConfig, tagged: Seq[(String, DataFrame)],
      commitToken: Option[String], staged: mutable.Buffer[DataFrame],
      write: (DataFrame, SinkSpec, Int) => Unit): Option[DataFrame] = {
    // row counts this run has already taken, by view name: reconciliation
    // compares against them instead of recounting the batch
    val rows = mutable.HashMap.empty[String, Long]
    val routed = tagged.map { case (name, t) =>
      val s = Staging.LocalCheckpoint.stage(t, s"validated_$name")
      staged += s
      // the staging pass counted the untagged rows: no job of its own
      rows(name) = Staging.stagedNulls(s, Validations.ErrorReason)
      (name, Validations.route(s), Staging.stagedRows(s) - rows(name))
    }
    // threshold denominator: SURVIVING rows counted once per validated
    // frame, plus every rejected row
    if (routed.nonEmpty) cfg.thresholdLimit.foreach(Validations.thresholdGate(
      routed.map(r => rows(r._1)).sum, routed.map(_._3).sum, _))
    routed.zipWithIndex.foreach { case ((name, r, nBad), i) =>
      // the error write commits under the token like a sink, so a retried
      // attempt does not append the same rejected rows again
      for (es <- cfg.errorSink if nBad > 0 && !committed(cfg, commitToken, s"err$i")) {
        SinkWriter.writeErrors(spark, r.bad, cfg.jobName, es)
        markCommitted(cfg, commitToken, s"err$i")
      }
      r.good.createOrReplaceTempView(name)
    }

    // phase_2 — transformation chain (spark.json:54-65); sqlQuery may be
    // inline SQL or a .sql file path (spark.json:57); a step without SQL
    // dispatches its functionName to the named-operator registry
    var last = Option.empty[DataFrame]
    cfg.transformations.foreach { t =>
      val out =
        if (t.sqlQuery.nonEmpty) spark.sql(Orchestrator.resolveSql(t.sqlQuery))
        else TransformFunctions.dispatch(spark, t)
      // pre-flight plan lint: a typo'd join predicate is invisible at dev
      // scale and a cluster-week at 100 TB — catch it before execution.
      // warn: surface findings, never block (a cross join CAN be a tiny
      // intentional dim×dim); strict: fail the step on error/warn findings
      if (cfg.planAudit != "off") {
        val findings =
          (if (cfg.planAudit == "strict")
            graft.util.PlanAudit.assertSafe(out, allowWarnings = false)
          else graft.util.PlanAudit.audit(out)) ++
          // staging lint: a SQL step whose subquery/CTE re-evaluates a
          // shuffle pipeline per consumer multiplies the dominant pass at
          // scale (warn-only even in strict mode — identical copies are
          // exchange-reused; the finding prices the divergent risk)
          graft.util.PlanAudit.repeatedSubtrees(out)
        findings.filter(_.severity != "info")
          .foreach(f => System.err.println(
            s"[plan-audit] ${t.outputDFName}: ${f.severity} ${f.node} — ${f.detail}"))
      }
      // a count-validated output is staged once: its exact staged row
      // count is the check, and the sinks and reconciliation read the same
      // blocks instead of evaluating the transformation a second time. The
      // caller still gets the transformation's own frame, whose plan the
      // plan lints (PlanAudit, PlanHygiene) read.
      val view = t.countValidation match {
        case Some(min) =>
          val counted = Staging.LocalCheckpoint.stage(out, s"counted_${t.outputDFName}")
          staged += counted
          rows(t.outputDFName) = Validations.countValidation(Staging.stagedRows(counted), min)
          counted
        case None => rows -= t.outputDFName; out
      }
      view.createOrReplaceTempView(t.outputDFName)
      last = Some(out)
    }

    // phase_3 — sinks (fan-out persists once when several sinks share a
    // frame; per-sink commit markers make the retry loop idempotent)
    cfg.sinks.zipWithIndex.groupBy(_._1.dataFrameName).foreach { case (name, sinksIdx) =>
      val df = spark.table(name)
      val (done, pending) = sinksIdx.partition { case (_, i) => committed(cfg, commitToken, s"sink$i") }
      done.foreach { case (s, i) =>
        System.err.println(s"[orchestrator] sink $name[$i] already committed in a prior attempt; skipping")
      }
      val cached = if (pending.sizeIs > 1) df.persist() else df
      // the batch size every reconciled sink of this frame compares
      // against: a count this run already took, else one count (of the
      // fan-out cache, which is freed only after reconciliation)
      lazy val batchRows = rows.getOrElse(name, cached.count())
      // pre-write snapshot for append-sink reconciliation (V5): an append
      // target accumulates prior batches, so "target == batch" can never
      // hold — the checkable contract is the DELTA this write added, which
      // needs the target's state captured before the write
      val preStates: Map[Int, Orchestrator.PreState] = pending.collect {
        case (s, i) if s.reconciliation && isAppendSink(s) && s.path.isDefined =>
          i -> appendPreState(s, s.path.get)
      }.toMap
      try {
        pending.foreach { case (s, i) =>
          write(cached, s, i)
          markCommitted(cfg, commitToken, s"sink$i")
        }
        sinksIdx.filter(_._1.reconciliation).foreach { case (s, i) =>
          s.path.foreach(p => reconcileSink(name, batchRows, s, p, preStates.get(i)))
        }
      } finally if (pending.sizeIs > 1) { cached.unpersist(); () }
    }
    last
  }

  private def isDeltaFormat(s: SinkSpec): Boolean =
    s.format == "delta" || s.format == "deltalake"

  private def isAppendSink(s: SinkSpec): Boolean =
    s.loadType.toLowerCase == "simpleinsert" && s.savemode.equalsIgnoreCase("append")

  /** The append target's pre-write state: for delta sinks the latest
    * committed VERSION (so the post-write check reads exactly this batch
    * back through the change feed); for plain file sinks its data files
    * (none for a first write). */
  private def appendPreState(s: SinkSpec, p: String): Orchestrator.PreState =
    if (isDeltaFormat(s))
      Orchestrator.PreVersion(graft.sources.VersionedParquet.versions(p).lastOption.getOrElse(-1L))
    else Orchestrator.PreFiles(dataFiles(p))

  /** The data files under a plain file target, with their lengths. Hidden
    * and metadata entries (`_SUCCESS`, `.crc`, `_temporary/`) are skipped,
    * as Spark's own file index skips them; `k=v` partition directories
    * are data. The walk lists plain statuses: a located status
    * (`listFiles`) loads each local file's permissions, one `ls` process
    * per file. */
  private def dataFiles(p: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Map.empty
    def hidden(n: String) = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    def walk(dir: org.apache.hadoop.fs.Path): Iterator[(String, Long)] =
      fs.listStatus(dir).iterator.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Iterator.single(s.getPath.toString -> s.getLen)
      }
    walk(fs.makeQualified(root)).toMap
  }

  /** V5 reconciliation re-read (ADVICE r1) against `batchRows`, the row
    * count of the frame the sink wrote: delta sinks go through the
    * manifest reader (not a registered Spark datasource), file sinks are
    * re-read with the sink's own options (csv header would otherwise count
    * as a data row). Append-mode sinks — whose target holds more than this
    * batch by design — reconcile against the DELTA instead of the whole
    * target: delta-format appends read this batch back via the change feed
    * and count it; plain file appends check that the files the target
    * held before the write are all still there, unchanged, and that the
    * files the write added hold exactly the batch — so the check reads
    * this batch, not the target's whole history. SCD2 targets are the
    * merged dimension, not this batch — still skipped. */
  private def reconcileSink(name: String, batchRows: => Long, s: SinkSpec, p: String,
      preState: Option[Orchestrator.PreState]): Unit = {
    val lt = s.loadType.toLowerCase
    if (lt == "scdtype2insert") {
      System.err.println(s"[reconcile] skipped for sink $name → $p: " +
        "scd2 target is the merged dimension, not this batch")
      return
    }
    def fail(why: String) =
      throw new IllegalStateException(s"append reconciliation failed for sink $name → $p: $why")
    if (isAppendSink(s)) {
      preState match {
        case None =>
          // committed by a prior attempt — the pre-write state is gone, so
          // the delta is unreconstructable for plain files; don't invent one
          System.err.println(s"[reconcile] skipped for sink $name → $p: " +
            "append sink committed by a prior attempt (no pre-write state)")
        case Some(Orchestrator.PreVersion(v)) =>
          val appended = graft.sources.VersionedParquet.readChanges(spark, p, v)
            .filter(col("_change_type") === "insert").count()
          if (appended != batchRows)
            fail(s"change feed holds $appended rows, batch had $batchRows")
        case Some(Orchestrator.PreFiles(before)) =>
          val after = dataFiles(p)
          val lost = before.count { case (f, len) => !after.get(f).contains(len) }
          if (lost > 0) fail(s"$lost data file(s) it held before the write are gone or rewritten")
          val added = (after -- before.keys).keys.toSeq
          val grew =
            if (added.isEmpty) 0L
            else spark.read.format(s.format).options(s.options).load(added: _*).count()
          if (grew != batchRows) fail(s"target grew by $grew rows, batch had $batchRows")
      }
      return
    }
    val target =
      if (isDeltaFormat(s)) graft.sources.VersionedParquet.read(spark, p)
      else spark.read.format(s.format).options(s.options).load(p)
    if (target.count() != batchRows)
      throw new IllegalStateException(s"reconciliation failed for sink $name → $p")
  }

  /** Marker path for one write of this (job, pipeline-step-execution):
    * sink `i` is `sink<i>`, the error write of the `i`-th validated frame
    * `err<i>`. Needs both a commit token and a tempPath to be trackable. */
  private def commitMarker(cfg: JobConfig, token: Option[String], part: String): Option[java.nio.file.Path] =
    for (t <- token; tmp <- cfg.tempPath)
      yield Paths.get(tmp, "_commits", s"${cfg.jobName}_${t}_$part")

  private def committed(cfg: JobConfig, token: Option[String], part: String): Boolean =
    commitMarker(cfg, token, part).exists(Files.exists(_))

  private def markCommitted(cfg: JobConfig, token: Option[String], part: String): Unit =
    commitMarker(cfg, token, part).foreach { m =>
      Files.createDirectories(m.getParent)
      Files.writeString(m, java.time.Instant.now().toString)
    }

  private def clearCommitMarkers(cfg: JobConfig, token: Option[String]): Unit =
    (cfg.sinks.indices.map(i => s"sink$i") ++
      cfg.validations.map(_.dataFrameName).distinct.indices.map(i => s"err$i"))
      .foreach(commitMarker(cfg, token, _).foreach(Files.deleteIfExists(_)))

  /** P3 duplicate-run guard (spark.json:8-9): marker-file check-and-create
    * under the temp path; caller releases the marker when the run ends, a
    * shutdown hook covers hard JVM death. ONE static hook over a live set
    * — a hook per acquisition would leak a whole Thread object per run in
    * a long-lived scheduler process (hooks are never deregistered).
    * Single-scheduler assumption documented in SURVEY.md §7.4 (matches
    * the reference's one-Airflow-DAG model). */
  private def acquireRunMarker(cfg: JobConfig): java.nio.file.Path = {
    val tmp = cfg.tempPath.getOrElse(sys.error("duplicateRunCheck needs tempPath"))
    Files.createDirectories(Paths.get(tmp))
    val marker = Paths.get(tmp, s"${cfg.jobName}_RUNNING")
    try Files.createFile(marker) // atomic check-and-create
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"duplicate run detected for job ${cfg.jobName} ($marker exists)")
    }
    Orchestrator.trackMarker(marker)
    marker
  }

  /** P2/W13 pre-/post-exec scripts (spark.json:28-30,102-106). */
  private def runScript(script: String): Unit = {
    import scala.sys.process._
    val code = Seq("bash", "-c", script).!
    if (code != 0) throw new IllegalStateException(s"script failed ($code): $script")
  }
}

object Orchestrator {
  /** What an append sink's target held before the write. */
  private[run] sealed trait PreState
  /** A versioned target's latest committed version (-1: none yet). */
  private[run] final case class PreVersion(version: Long) extends PreState
  /** A plain file target's data files and their lengths. */
  private[run] final case class PreFiles(files: Map[String, Long]) extends PreState

  /** Run markers not yet released; the ONE registered shutdown hook
    * sweeps them on hard JVM death (see acquireRunMarker). */
  private val liveMarkers =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val hookInstalled: Unit = {
    sys.addShutdownHook {
      liveMarkers.forEach(m => Files.deleteIfExists(m))
    }
    ()
  }
  private[run] def trackMarker(m: java.nio.file.Path): Unit = {
    hookInstalled
    liveMarkers.add(m); ()
  }
  private[run] def untrackMarker(m: java.nio.file.Path): Unit = {
    liveMarkers.remove(m); ()
  }

  private val FastAggMap = "spark.sql.codegen.aggregate.map.twolevel.enabled"

  /** Turns off Spark's row-based first-level hash map for aggregation,
    * unless the session set the key itself (a job's `sparkConfig` may
    * still turn it back on). With that map, an aggregating task holds two
    * memory pages (`spark.buffer.pageSize`, 16 MB at a 3 GB heap) once
    * one key misses it: the map's own batch and the regular map's first
    * page. Pages are humongous G1 arrays that Spark's page pool keeps
    * across young collections, so how many a job leaves in the old
    * generation depends on how its tasks interleave: a day of perfbench's
    * `daily_pipeline` (4 vCPUs) peaked at 173, 189 or 205 MB from run to
    * run with the map, and at 141 MB in every run without it. */
  private[run] def onePageAggregation(spark: SparkSession): Unit =
    if (!spark.sessionState.conf.contains(FastAggMap)) spark.conf.set(FastAggMap, "false")

  /** Inline SQL, or the contents of a `.sql` file when the string is a
    * path to one (spark.json:57 "<Spark SQL Query| sql file path>").
    * Shared by the batch and streaming orchestrators so the same config is
    * portable between modes. */
  private[run] def resolveSql(sql: String): String = {
    val t = sql.trim
    if (t.toLowerCase.endsWith(".sql") && !t.contains("\n") &&
        Files.exists(Paths.get(t)))
      new String(Files.readAllBytes(Paths.get(t)), "UTF-8")
    else sql
  }
}

/** O1/O2 — the DAG layer: the reference runs 4 Orchestrator jobs in
  * sequence on an ephemeral cluster, exchanging data only through storage
  * (/root/reference/example-shareprice.py:148-153). Locally that collapses
  * to an in-process sequence of jobs over one SparkSession with a per-step
  * retry loop (retries: 3, example-shareprice.py:64 / deploy.yaml:19). */
final case class PipelineStep(name: String, config: JobConfig, retries: Int = 3)

class PipelineRunner(spark: SparkSession) {
  private val orchestrator = new Orchestrator(spark)

  /** One attempt of one step — the seam the retry-accounting spec
    * overrides to inject deterministic failures (a real write-write
    * conflict needs two schedulers racing the same dimension; the unit
    * under test here is the retry BUDGET and the failure NAMING). */
  protected def runAttempt(cfg: JobConfig, token: Option[String]): Unit = {
    // a step's result frame is discarded, so the blocks it staged go too
    val (_, staged) = orchestrator.runHolding(cfg, token)
    staged.foreach(Staging.release)
  }

  def run(steps: Seq[PipelineStep]): Unit = steps.foreach(runStep)

  /** O4 concurrency (example-shareprice.py:73 / deploy.yaml:11): groups run
    * in sequence; steps WITHIN a group run concurrently, bounded by
    * `concurrency`. Spark schedules the concurrent jobs fairly on one
    * session; parallel steps must use distinct dataFrameNames (temp views
    * are session-scoped, same as the reference's storage-isolated steps). */
  def runGroups(groups: Seq[Seq[PipelineStep]], concurrency: Int = 4): Unit =
    groups.foreach { group =>
      if (group.sizeIs <= 1) group.foreach(runStep)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(concurrency, group.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            group.map(st => scala.concurrent.Future(runStep(st)))),
          scala.concurrent.duration.Duration.Inf)
        finally { pool.shutdown(); () }
      }
    }

  private def runStep(step: PipelineStep): Unit = {
    var attempt = 0
    var done = false
    var lastErr: Throwable = null
    // one token per step EXECUTION, stable across its retry attempts, so
    // committed append sinks are skipped on retry (see Orchestrator.run)
    val token = s"${step.name}_${java.util.UUID.randomUUID().toString.take(8)}"
    while (!done && attempt <= step.retries) {
      try { runAttempt(step.config, Some(token)); done = true }
      catch {
        case e: Throwable =>
          lastErr = e; attempt += 1
          // O2 retry accounting surfaces write-write conflicts BY NAME
          // (VERDICT r14 #5): a conflict-aborted versioned commit is a
          // normal contention outcome whose retry converges — the log and
          // the final O7 failure must say which commit won, not die as an
          // anonymous exception under the generic budget
          System.err.println(PipelineRunner.conflictIn(e) match {
            case Some(c) => s"[pipeline] step ${step.name} attempt $attempt " +
              s"aborted on a write-write conflict (will retry): ${c.getMessage}"
            case None =>
              s"[pipeline] step ${step.name} attempt $attempt failed: ${e.getMessage}"
          })
      }
    }
    if (!done) throw new IllegalStateException(
      PipelineRunner.conflictIn(lastErr) match {
        case Some(c) => s"step ${step.name} failed after ${step.retries + 1} " +
          s"attempts — the last attempt aborted on a write-write conflict: ${c.getMessage}"
        case None => s"step ${step.name} failed after ${step.retries + 1} attempts"
      }, lastErr)
  }
}

object PipelineRunner {
  /** The typed conflict inside a step failure, however deep the step's
    * machinery wrapped it (sink → orchestrator → executor layers). */
  private[graft] def conflictIn(
      e: Throwable): Option[graft.sources.VersionedParquet.ConflictException] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .collectFirst { case c: graft.sources.VersionedParquet.ConflictException => c }
}
