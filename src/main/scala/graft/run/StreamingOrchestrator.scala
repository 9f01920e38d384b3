package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.config._
import graft.operators.Validations
import graft.sinks.SinkWriter
import graft.streaming.StreamingJobs

/** Streaming execution of the SAME declarative job model (SURVEY.md §2.8):
  * `"mode": "streaming"` reruns phase_1 sources as `readStream`, leaves the
  * phase_2 SQL chain untouched (Spark SQL is shared between batch and
  * streaming plans), and routes every phase_3 sink through
  * `foreachBatch` so the batch load strategies — including scdType2Insert —
  * work per micro-batch (stateful SCD2 merge is not expressible in pure
  * streaming SQL; SURVEY.md §7.4).
  *
  * Validation mapping in streaming:
  *  - nullValueCheck: stateless filter; bad rows become their own stream
  *    into the error sink.
  *  - duplicateRecordCheck: `dropDuplicatesWithinWatermark` on the primary
  *    keys when the input declares a watermark (bounded state — the only
  *    dedup that survives an unbounded stream), plain `dropDuplicates`
  *    otherwise.
  */
class StreamingOrchestrator(spark: SparkSession) {

  /** Start all sinks; returns the running queries (callers decide whether
    * to awaitTermination or processAllAvailable). */
  def run(cfg: JobConfig, trigger: Trigger = Trigger.AvailableNow()): Seq[StreamingQuery] = {
    cfg.sparkConfig.foreach { case (k, v) => spark.conf.set(k, v) }
    // same SQL surface as batch: custom expressions callable from sqlQuery
    graft.functions.GraftFunctions.register(spark)
    val tmp = cfg.tempPath.getOrElse {
      // a fresh checkpoint per run re-reads EVERY existing input file, so
      // append sinks duplicate across reruns — fine for tests/one-shots,
      // a footgun for scheduled jobs (the ivfMaintainedIngest sink hard-
      // requires tempPath for this reason); warn rather than guess intent
      System.err.println(s"[streaming] job ${cfg.jobName}: no tempPath — " +
        "using a FRESH checkpoint; a rerun will re-read all input files " +
        "(append sinks duplicate). Set tempPath for restartable streams.")
      java.nio.file.Files.createTempDirectory(s"graft-stream-${cfg.jobName}").toString
    }

    // phase_1 — streaming sources (file formats only; schema from a batch probe)
    cfg.inputs.foreach { in =>
      val stream = in.format match {
        case "sql" => spark.sql(in.sql.get)
        case f @ ("parquet" | "orc" | "json" | "csv" | "text") =>
          val path = in.path.get
          val schema = spark.read.format(f).options(in.options).load(path).schema
          val base = StreamingJobs.fileStream(spark, path, schema, f,
            in.options.get("maxFilesPerTrigger").map(_.toInt).getOrElse(10))
          val projected =
            if (in.selectColumns.nonEmpty) base.select(in.selectColumns.map(col): _*) else base
          (in.watermarkColumn, in.watermarkDelay) match {
            case (Some(c), Some(d)) => projected.withWatermark(c, d)
            case _                  => projected
          }
        case other => sys.error(s"streaming mode does not support format '$other'")
      }
      stream.createOrReplaceTempView(in.dataFrameName)
    }

    // phase_2 — validations
    var errorStreams = Seq.empty[DataFrame]
    cfg.validations.foreach {
      case NullValueCheck(name, pks) =>
        val routed = Validations.nullKeyCheck(spark.table(name), pks)
        errorStreams :+= routed.bad
        routed.good.createOrReplaceTempView(name)
      case DuplicateRecordCheck(name, pks, _) =>
        val df = spark.table(name)
        val deduped =
          if (df.queryExecution.analyzed.toString.contains("EventTimeWatermark"))
            df.dropDuplicatesWithinWatermark(pks)
          else df.dropDuplicates(pks)
        deduped.createOrReplaceTempView(name)
    }

    // phase_2 — SQL chain (identical to batch, incl. .sql file references).
    // Named-operator dispatch (TransformFunctions) is BATCH-ONLY: most
    // registered operators aggregate/join in ways a streaming plan can't
    // express incrementally — fail the step loudly instead of handing
    // spark.sql an empty string
    cfg.transformations.foreach { t =>
      if (t.sqlQuery.isEmpty) sys.error(
        s"streaming transformation '${t.outputDFName}': functionName " +
          s"dispatch ('${t.functionName}') is batch-only — give the step " +
          "a sqlQuery, or run the job in batch mode")
      spark.sql(Orchestrator.resolveSql(t.sqlQuery)).createOrReplaceTempView(t.outputDFName)
    }

    // phase_3 — sinks through the batch writers; the self-maintaining
    // vector store is a first-class declarable sink (the reference's
    // everything-from-config ethos extended to the r12 ops loop). If a
    // later sink fails to START (e.g. a misconfigured store sink), stop
    // the queries already started — an orphaned query writing against a
    // half-failed job is the worst of both worlds
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    val sinkQueries = try cfg.sinks.zipWithIndex.map { case (s, i) =>
      val q =
        if (s.loadType.equalsIgnoreCase("ivfMaintainedIngest"))
          startMaintainedIvf(spark.table(s.dataFrameName), s, cfg,
            checkpoint = s"$tmp/${cfg.jobName}_sink$i", trigger)
        else StreamingJobs.startForeachBatch(spark.table(s.dataFrameName), s,
          checkpoint = s"$tmp/${cfg.jobName}_sink$i", trigger)
      started += q
      q
    } catch {
      case e: Throwable =>
        started.foreach(q => try q.stop() catch { case _: Throwable => () })
        throw e
    }
    // same orphan rule as the sink starts: if an ERROR query fails to
    // start, stop everything already running (sinks included)
    val errorQueries = try cfg.errorSink.toSeq.flatMap { es =>
      errorStreams.zipWithIndex.map { case (bad, i) =>
        val q = StreamingJobs.start(bad, s"$tmp/${cfg.jobName}_err$i", trigger) {
          (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) SinkWriter.writeErrors(batch.sparkSession, batch, cfg.jobName, es)
        }
        started += q
        q
      }
    } catch {
      case e: Throwable =>
        started.foreach(q => try q.stop() catch { case _: Throwable => () })
        throw e
    }
    sinkQueries ++ errorQueries
  }

  /** `loadType: "ivfMaintainedIngest"` — the drift-maintained IVF vector
    * store ([[graft.streaming.StreamingJobs.ivfMaintainBatch]]) declared
    * as an ordinary config sink. The sink's `path` is the layout; the
    * seed geometry and drift queries are BATCH parquet paths in
    * `options` (they parameterize the store — they are not part of the
    * stream):
    *
    * {{{
    *   {"dataFrameName": "embeddings", "loadType": "ivfMaintainedIngest",
    *    "path": "/stores/docs_ivf",
    *    "options": {"centroidsPath": "/stores/seed_centroids",
    *                "queriesPath": "/stores/drift_probes",
    *                "driftEvery": "8", "driftThreshold": "0.05"}}
    * }}}
    *
    * Column names and policy knobs mirror the Scala defaults key-for-key
    * (idCol/centroidIdCol/vecCol/qIdCol, k, nprobe, driftEvery,
    * driftThreshold, targetBytes, compactEvery); unknown keys and
    * malformed numbers are LOUD config errors (a typo'd knob silently
    * running the default is the config-surface bug class this registry
    * bans). The refresh geometry is the library default (one exact Lloyd
    * step); callers needing a custom re-quantizer use the Scala surface.
    *
    * Requires an explicit `tempPath`: the store's exactly-once watermark
    * is keyed by MICRO-BATCH ID, which only a durable checkpoint keeps
    * monotone across runs. With a fresh checkpoint every rerun, newly
    * arrived files re-batch into already-committed bids and are silently
    * skipped. A store is bound to one checkpoint lineage for its life;
    * pointing a NEW checkpoint at an existing store is safe only as a
    * full replay of the exact same input set. */
  private def startMaintainedIvf(stream: DataFrame, s: SinkSpec,
      cfg: JobConfig, checkpoint: String, trigger: Trigger): StreamingQuery = {
    val o = s.options
    require(cfg.tempPath.isDefined,
      "ivfMaintainedIngest sink needs an explicit tempPath: the store's " +
        "exactly-once watermark is keyed by micro-batch id, which only a " +
        "durable checkpoint keeps monotone — a fresh temp checkpoint per " +
        "run would alias NEW data into committed bids and silently drop it")
    val allowed = Set("centroidsPath", "queriesPath", "idCol",
      "centroidIdCol", "vecCol", "qIdCol", "k", "nprobe", "driftEvery",
      "driftThreshold", "targetBytes", "compactEvery")
    val unknown = o.keySet -- allowed
    require(unknown.isEmpty,
      s"ivfMaintainedIngest sink: unknown options ${unknown.toSeq.sorted.mkString(", ")} " +
        s"— allowed: ${allowed.toSeq.sorted.mkString(", ")}")
    def req(k: String) = o.getOrElse(k,
      sys.error(s"ivfMaintainedIngest sink needs options.$k"))
    def num[A](k: String, dflt: A, parse: String => A): A =
      o.get(k).map(v => try parse(v.trim) catch {
        case _: NumberFormatException =>
          sys.error(s"ivfMaintainedIngest sink: options.$k = '$v' is not a number")
      }).getOrElse(dflt)
    StreamingJobs.startIvfIngestWithMaintenance(
      stream,
      seedCentroids = spark.read.parquet(req("centroidsPath")),
      idCol = o.getOrElse("idCol", "vec_id"),
      centroidIdCol = o.getOrElse("centroidIdCol", "centroid_id"),
      vecCol = o.getOrElse("vecCol", "embedding"),
      layoutPath = s.path.getOrElse(
        sys.error("ivfMaintainedIngest sink needs a path (the layout dir)")),
      checkpoint = checkpoint,
      driftQueries = spark.read.parquet(req("queriesPath")),
      qIdCol = o.getOrElse("qIdCol", "q_id"),
      k = num("k", 10, _.toInt),
      nprobe = num("nprobe", 3, _.toInt),
      driftEvery = num("driftEvery", 8, _.toInt),
      driftThreshold = num("driftThreshold", 0.05, _.toDouble),
      targetBytes = num("targetBytes", 8L << 20, _.toLong),
      compactEvery = num("compactEvery", 8, _.toInt),
      trigger = trigger)
  }

  /** Run to exhaustion of currently-available data (AvailableNow semantics),
    * then stop — the batch-like entry point used by scheduled micro-batch
    * jobs and tests. */
  def runOnce(cfg: JobConfig): Unit = {
    val qs = run(cfg)
    qs.foreach(_.awaitTermination())
    qs.foreach(_.stop())
  }
}
