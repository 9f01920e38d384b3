package graft.config

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Declarative job model — the capability surface of the reference's
  * config-driven Spark ETL runner (see /root/reference/spark.json, whose
  * three phases are: phase_1 bind inputs, phase_2 validate+transform,
  * phase_3 write). Re-expressed as a Scala case-class tree; parsing is
  * hand-rolled over Jackson's untyped tree (Jackson ships with Spark, so
  * no extra dependency in the zero-egress build).
  *
  * Reference evidence (file:line in /root/reference):
  *  - sparkConfig passthrough            spark.json:3-6
  *  - thresholdLimit / duplicateRunCheck spark.json:7-8
  *  - tempPath / archive flags           spark.json:9-12
  *  - input spec (format/header/mapping/selectColumns) spark.json:14-23
  *  - preExecution (junkCharacterRemoval, scripts)     spark.json:26-31
  *  - additionalInputs (table or sql)    spark.json:32-38
  *  - validations (nullValueCheck, duplicateRecordCheck) spark.json:40-52
  *  - transformations (sqlQuery → outputDFName chain)  spark.json:54-65
  *  - sinks (loadType incl. scdType2Insert, formats, singleFile,
  *    compression, reconciliation, error sink)         spark.json:68-107
  */
final case class JobConfig(
    jobName: String,
    sparkConfig: Map[String, String] = Map.empty,
    thresholdLimit: Option[Double] = None, // fraction in [0,1]
    duplicateRunCheck: Boolean = false,
    tempPath: Option[String] = None,
    archiveInput: Option[ArchiveSpec] = None,
    preExecution: PreExecSpec = PreExecSpec(),
    inputs: Seq[InputSpec] = Nil,
    validations: Seq[ValidationSpec] = Nil,
    transformations: Seq[TransformStep] = Nil,
    sinks: Seq[SinkSpec] = Nil,
    errorSink: Option[SinkSpec] = None,
    postExecutionScripts: Seq[String] = Nil,
    mode: String = "batch", // batch | streaming (SURVEY §2.8 extension)
    planAudit: String = "warn" // off | warn | strict (graft.util.PlanAudit)
)

final case class ArchiveSpec(archivePath: String, deleteSourceAfterArchival: Boolean)

final case class PreExecSpec(
    junkCharacterRemoval: Boolean = false,
    scripts: Seq[String] = Nil
)

/** One bound input → a named temp view (spark.json:14-23,32-38). */
final case class InputSpec(
    dataFrameName: String,
    format: String, // csv|parquet|orc|json|xml|text|jdbc|sql
    path: Option[String] = None,
    header: Boolean = true,
    options: Map[String, String] = Map.empty,
    selectColumns: Seq[String] = Nil,
    metadataPath: Option[String] = None, // external column-mapping file
    // jdbc-shaped inputs (spark.json:34-37)
    jdbcUrl: Option[String] = None,
    tableName: Option[String] = None,
    tableQuery: Option[String] = None,
    // additional-input SQL over already-registered views (spark.json:36-38)
    sql: Option[String] = None,
    // streaming extension (SURVEY §2.8): late-data bound for this input
    watermarkColumn: Option[String] = None,
    watermarkDelay: Option[String] = None
)

/** External metadata mapping entry (spark.json:21-22; format is ours). */
final case class ColumnMapping(sourceColumn: String, targetColumn: String, dataType: String)

sealed trait ValidationSpec { def dataFrameName: String }
/** Rows with NULL in any primary key are invalid (spark.json:43-46). */
final case class NullValueCheck(dataFrameName: String, primaryKeys: Seq[String])
    extends ValidationSpec
/** Keep first row per key by orderBy; rest invalid (spark.json:47-52). */
final case class DuplicateRecordCheck(
    dataFrameName: String,
    primaryKeys: Seq[String],
    orderByCols: Seq[String]
) extends ValidationSpec

/** One transformation step (spark.json:54-65). A step WITH `sqlQuery`
  * runs the SQL (functionName stays a label, the reference's shape); a
  * step WITHOUT `sqlQuery` dispatches `functionName` to the named-operator
  * registry ([[graft.run.TransformFunctions]]) with `options` as its
  * parameters — the config-surface path to the engine's `graft.x`
  * operators. */
final case class TransformStep(
    functionName: String,
    sqlQuery: String,
    outputDFName: String,
    countValidation: Option[Long] = None, // min expected rows (spark.json:66)
    options: Map[String, String] = Map.empty // named-operator parameters
)

/** One sink (spark.json:68-107). loadType: simpleInsert | truncateInsert |
  * scdType2Insert (spark.json:73). */
final case class SinkSpec(
    dataFrameName: String,
    loadType: String = "simpleInsert",
    format: String = "parquet",
    path: Option[String] = None,
    savemode: String = "append",
    compression: Option[String] = None,
    singleFile: Boolean = false,
    outputFileNamePrefix: Option[String] = None,
    partitionBy: Seq[String] = Nil,
    reconciliation: Boolean = false,
    options: Map[String, String] = Map.empty,
    // scd2 parameters (semantics pinned in SURVEY.md §7.3)
    scdKeys: Seq[String] = Nil,
    scdTrackedCols: Seq[String] = Nil,
    // bucketed table output (co-located joins; SURVEY.md §4 shuffle notes)
    bucketBy: Seq[String] = Nil,
    numBuckets: Int = 0,
    sortBy: Seq[String] = Nil,
    // z-order layout on exactly two integer cell columns (graft.x.Layout):
    // output files become tight hyper-rectangles in both dimensions, so
    // min/max stats prune either predicate
    zorderBy: Seq[String] = Nil,
    // jdbc sinks
    jdbcUrl: Option[String] = None,
    tableName: Option[String] = None
) {
  // options of the removed raw-layout SCD2 store and its inner retry loop:
  // a silently ignored key is the config bug class rejected everywhere else
  for (k <- Seq("scdVersioned", "scdStagingPath", "scdConflictRetries"))
    require(!options.contains(k), s"sink $dataFrameName: option '$k' was removed — " +
      "partitioned SCD2 always commits through the versioned store, and " +
      "PipelineRunner retries a step that loses a write-write conflict")
}

object JobConfig {
  private val mapper = new ObjectMapper()

  /** Parse a job-config JSON string into the model. Unknown keys ignored
    * (forward-compatible, like the reference's template-driven configs). */
  def parse(json: String): JobConfig = {
    val root = asScala(mapper.readValue(json, classOf[java.util.Map[String, Object]]))
    fromMap(root)
  }

  def parseFile(path: String): JobConfig =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  private def asScala(m: java.util.Map[String, Object]): Map[String, Any] =
    m.asScala.toMap.map { case (k, v) => k -> convert(v) }

  private def convert(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.toMap.map { case (k, x) => k.toString -> convert(x) }
    case l: java.util.List[_] => l.asScala.toList.map(convert)
    case other                => other
  }

  private def str(m: Map[String, Any], k: String): Option[String] =
    m.get(k).map(_.toString).filter(_.nonEmpty)
  private def bool(m: Map[String, Any], k: String, dflt: Boolean = false): Boolean =
    m.get(k).exists {
      case b: java.lang.Boolean => b
      case s: String            => s.equalsIgnoreCase("true")
      case _                    => dflt
    }
  private def strs(m: Map[String, Any], k: String): Seq[String] =
    m.get(k).collect { case l: List[_] => l.map(_.toString) }.getOrElse(Nil)
  private def obj(m: Map[String, Any], k: String): Option[Map[String, Any]] =
    m.get(k).collect { case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]] }
  private def objs(m: Map[String, Any], k: String): Seq[Map[String, Any]] =
    m.get(k).collect { case l: List[_] =>
      l.collect { case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]] }
    }.getOrElse(Nil)
  private def strMap(m: Map[String, Any], k: String): Map[String, String] =
    obj(m, k).getOrElse(Map.empty).map { case (a, b) => a -> b.toString }

  /** "30%" | "0.3" → 0.3 (spark.json:7). */
  private[graft] def parseThreshold(s: String): Double = {
    val t = s.trim
    if (t.endsWith("%")) t.dropRight(1).trim.toDouble / 100.0 else t.toDouble
  }

  private def fromMap(root: Map[String, Any]): JobConfig = {
    val inputs = objs(root, "inputs").map { in =>
      InputSpec(
        dataFrameName = str(in, "dataFrameName").getOrElse(sys.error("input needs dataFrameName")),
        format = str(in, "format").getOrElse("parquet").toLowerCase,
        path = str(in, "path"),
        header = bool(in, "header", dflt = true) || !in.contains("header"),
        options = strMap(in, "options"),
        selectColumns = strs(in, "selectColumns"),
        metadataPath = str(in, "metadataPath"),
        jdbcUrl = str(in, "jdbcUrl"),
        tableName = str(in, "tableName"),
        tableQuery = str(in, "tableQuery"),
        sql = str(in, "sql"),
        watermarkColumn = str(in, "watermarkColumn"),
        watermarkDelay = str(in, "watermarkDelay")
      )
    }
    val validations = objs(root, "validations").map { v =>
      // loud on unknown types: a typo'd validation silently never running
      // is the config bug class the dispatch surfaces reject everywhere else
      str(v, "type").map(_.toLowerCase) match {
        case Some("nullvaluecheck") =>
          NullValueCheck(str(v, "dataFrameName").get, strs(v, "primaryKeys"))
        case Some("duplicaterecordcheck") =>
          DuplicateRecordCheck(str(v, "dataFrameName").get, strs(v, "primaryKeys"), strs(v, "orderByCols"))
        case Some(other) => sys.error(
          s"unknown validation type '$other' (nullValueCheck|duplicateRecordCheck)")
        case None => sys.error("validation needs a type " +
          "(nullValueCheck|duplicateRecordCheck)")
      }
    }
    val transforms = objs(root, "transformations").map { t =>
      val fn = str(t, "functionName")
      val sql = str(t, "sqlQuery")
      if (sql.isEmpty && fn.isEmpty)
        sys.error("transformation needs sqlQuery or a functionName to dispatch")
      TransformStep(
        functionName = fn.getOrElse("step"),
        sqlQuery = sql.getOrElse(""),
        outputDFName = str(t, "outputDFName").getOrElse(sys.error("transformation needs outputDFName")),
        countValidation = str(t, "countValidation").map(_.toLong),
        options = strMap(t, "options")
      )
    }
    def sink(s: Map[String, Any]): SinkSpec = SinkSpec(
      dataFrameName = str(s, "dataFrameName").get,
      loadType = str(s, "loadType").getOrElse("simpleInsert"),
      format = str(s, "format").getOrElse("parquet").toLowerCase,
      path = str(s, "path"),
      savemode = str(s, "savemode").getOrElse("append"),
      compression = str(s, "compression"),
      singleFile = bool(s, "singleFile"),
      outputFileNamePrefix = str(s, "outputFileNamePrefix"),
      partitionBy = strs(s, "partitionBy"),
      reconciliation = bool(s, "reconciliation"),
      options = strMap(s, "options"),
      scdKeys = strs(s, "scdKeys"),
      scdTrackedCols = strs(s, "scdTrackedCols"),
      bucketBy = strs(s, "bucketBy"),
      numBuckets = str(s, "numBuckets").map(_.toInt).getOrElse(0),
      sortBy = strs(s, "sortBy"),
      zorderBy = strs(s, "zorderBy"),
      jdbcUrl = str(s, "jdbcUrl"),
      tableName = str(s, "tableName")
    )
    JobConfig(
      jobName = str(root, "jobName").getOrElse("job"),
      sparkConfig = strMap(root, "sparkConfig"),
      thresholdLimit = str(root, "thresholdLimit").map(parseThreshold),
      duplicateRunCheck = bool(root, "duplicateRunCheck"),
      tempPath = str(root, "tempPath"),
      archiveInput = obj(root, "archiveInput").map(a =>
        ArchiveSpec(str(a, "archivePath").get, bool(a, "deleteSourceAfterArchival"))),
      preExecution = obj(root, "preExecution")
        .map(p => PreExecSpec(bool(p, "junkCharacterRemoval"), strs(p, "scripts")))
        .getOrElse(PreExecSpec()),
      inputs = inputs,
      validations = validations,
      transformations = transforms,
      sinks = objs(root, "sinks").map(sink),
      errorSink = obj(root, "errorSink").map(sink),
      postExecutionScripts = strs(root, "postExecutionScripts"),
      mode = str(root, "mode").getOrElse("batch"),
      planAudit = str(root, "planAudit").getOrElse("warn")
    )
  }
}
