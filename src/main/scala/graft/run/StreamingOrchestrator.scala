package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.{InnerLike, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef, EventTimeWatermark, Filter,
  Generate, Join, LeafNode, LogicalPlan, Project, ResolvedHint, SubqueryAlias, Union, View, WithCTE}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.config._
import graft.operators.Validations
import graft.sinks.SinkWriter
import graft.streaming.StreamingJobs

/** Streaming execution of the SAME declarative job model (SURVEY.md §2.8):
  * `"mode": "streaming"` reads the job's one file input as a stream and
  * starts ONE query, whose `foreachBatch` hands each micro-batch to the
  * batch [[Orchestrator]]'s phases, so the batch load strategies —
  * including scdType2Insert — work per micro-batch. `sql` inputs are
  * static side views, bound when the query starts: its session, which
  * each micro-batch runs in, is cloned from the caller's then.
  *
  * The stream plan keeps only what needs streaming state or every row,
  * in config order:
  *  - nullValueCheck: stateless tagging; tagged rows reach the
  *    micro-batch with their `error_reason` and go to the error sink.
  *  - duplicateRecordCheck: `dropDuplicatesWithinWatermark` on the primary
  *    keys and `error_reason` when the input declares a watermark (bounded
  *    state — the only dedup that survives an unbounded stream), plain
  *    `dropDuplicates` otherwise. A tagged row never collides with an
  *    untagged one, as a rejected row never outranks an accepted one in
  *    batch. Unlike a bypass union of tagged and deduplicated rows, the
  *    one branch scans each micro-batch's files once.
  */
class StreamingOrchestrator(spark: SparkSession) {

  /** Start the job's one query, returned as a one-element sequence
    * (callers decide whether to awaitTermination or processAllAvailable). */
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
    // a checkpoint of the old one-query-per-sink layout: the one new
    // checkpoint would re-read every input file those sinks already hold
    val old = graft.util.Fs.list(java.nio.file.Paths.get(tmp))
      .filter(_.getFileName.toString.matches(s"\\Q${cfg.jobName}\\E_(sink|err)\\d+"))
    require(old.isEmpty, s"streaming job ${cfg.jobName}: ${old.mkString(", ")} is a " +
      "per-sink checkpoint of the old layout; finish those queries and remove it")
    // each store's options are parsed and its geometry bound once, here
    val ivf = cfg.sinks.zipWithIndex.collect {
      case (s, i) if s.loadType.equalsIgnoreCase("ivfMaintainedIngest") =>
        require(cfg.tempPath.isDefined, "ivfMaintainedIngest sink needs an explicit " +
          "tempPath: its exactly-once watermark is keyed by micro-batch id")
        i -> SinkWriter.ivfIngest(spark, s)
    }.toMap

    // phase_1 — the one streamed file input (schema from a batch probe);
    // `sql` inputs are static views over the session's tables
    val (static, streamed) = cfg.inputs.partition(_.format == "sql")
    val in = streamed match {
      case Seq(in) => in
      case ins => sys.error(s"streaming job ${cfg.jobName} streams exactly one file input; " +
        s"its file inputs are: ${ins.map(_.dataFrameName).mkString(", ")}")
    }
    val stream = in.format match {
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
    require(cfg.validations.forall(_.dataFrameName == in.dataFrameName),
      s"streaming validations must name the streamed input '${in.dataFrameName}'")
    refuseStatefulSteps(cfg, in.dataFrameName, stream, static)

    val job = cfg.copy(tempPath = Some(tmp))
    val checkpoint = s"$tmp/${cfg.jobName}_checkpoint"
    val identity = SinkWriter.streamIdentity(checkpoint)
    Seq(StreamingJobs.start(validated(cfg, in, stream), checkpoint, trigger) {
      (batch: DataFrame, bid: Long) =>
        new Orchestrator(batch.sparkSession).runMicroBatch(
          job, in.dataFrameName, batch, bid -> identity, ivf)
    })
  }

  /** `stream` with null keys tagged and repeats dropped. The dedup keys
    * carry `error_reason`, so a tagged row never collides with an
    * untagged one. */
  private def validated(cfg: JobConfig, in: InputSpec, stream: DataFrame): DataFrame =
    if (cfg.validations.isEmpty) stream
    else cfg.validations.foldLeft(Validations.untagged(stream)) {
      case (t, NullValueCheck(_, pks)) => Validations.tagNullKeys(t, pks)
      case (t, DuplicateRecordCheck(_, pks, _)) =>
        val keys = pks :+ Validations.ErrorReason
        if (in.watermarkColumn.isDefined && in.watermarkDelay.isDefined)
          t.dropDuplicatesWithinWatermark(keys)
        else t.dropDuplicates(keys)
    }

  /** Refuses, naming the step, what a micro-batch would silently answer
    * differently: named-operator dispatch (batch-only — most registered
    * operators aggregate or join in ways a streaming plan can't express
    * incrementally), and a step whose plan over the stream holds anything
    * but row-at-a-time operators — an aggregate, dedup, window, limit or
    * sort would see one micro-batch instead of the stream. The views are
    * bound and the chain analyzed in the caller's session, which each
    * micro-batch's session is cloned from. */
  private def refuseStatefulSteps(cfg: JobConfig, name: String, stream: DataFrame,
      static: Seq[InputSpec]): Unit = {
    stream.createOrReplaceTempView(name)
    static.foreach { s =>
      val side = graft.sources.SourceReader.read(spark, s)
      require(!side.isStreaming, s"streaming input '${s.dataFrameName}': its sql reads " +
        "the stream — declare it as a transformation")
      side.createOrReplaceTempView(s.dataFrameName)
    }
    cfg.transformations.foreach { t =>
      if (t.sqlQuery.isEmpty) sys.error(
        s"streaming transformation '${t.outputDFName}': functionName " +
          s"dispatch ('${t.functionName}') is batch-only — give the step " +
          "a sqlQuery, or run the job in batch mode")
      val out = spark.sql(Orchestrator.resolveSql(t.sqlQuery))
      out.queryExecution.analyzed.collectWithSubqueries {
        case p if p.isStreaming && !StreamingOrchestrator.perRow(p) => p.nodeName
      }.headOption.foreach(node => sys.error(
        s"streaming transformation '${t.outputDFName}': a $node over the stream " +
          "would answer per micro-batch — run the step in batch mode"))
      out.createOrReplaceTempView(t.outputDFName)
    }
  }
}

object StreamingOrchestrator {
  /** A plan node over the stream whose answer on a micro-batch is its
    * answer on the stream restricted to that batch's rows. A union or
    * join is one when no static row is emitted with every batch: a union
    * of streams only, a join with exactly one streaming side that pads
    * no unmatched static row. */
  private def perRow(p: LogicalPlan): Boolean = p match {
    case _: LeafNode | _: Project | _: Filter | _: Generate | _: SubqueryAlias | _: View |
        _: EventTimeWatermark | _: ResolvedHint | _: WithCTE | _: CTERelationDef => true
    case u: Union => u.children.forall(_.isStreaming)
    case j: Join => (j.joinType, j.left.isStreaming, j.right.isStreaming) match {
      case (_: InnerLike, l, r)                           => l != r
      case (LeftOuter | LeftSemi | LeftAnti, true, false) => true
      case (RightOuter, false, true)                      => true
      case _                                              => false
    }
    case _ => false
  }
}
