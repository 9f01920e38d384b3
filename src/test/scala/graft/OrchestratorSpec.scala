package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import graft.config.JobConfig
import graft.run.{Orchestrator, PipelineRunner, PipelineStep}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** End-to-end job + pipeline runs mirroring the reference's 4-step
  * share-price DAG shape (fetch → calculate_daily_range → register → scd2,
  * /root/reference/example-shareprice.py:148-153) over the fixtures. */
class OrchestratorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sfDir

  private def tmpDir(): String =
    Files.createTempDirectory("graft-orch").toString

  /** Over the tasks that end while it is registered: the rows read from
    * storage (files, cached and checkpointed blocks alike) and the rows CSV
    * file scans output (their "number of output rows" metric). */
  private final class ReadProbe extends SparkListener {
    val recordsRead, csvScanRows = new AtomicLong
    private val csvScanMetrics = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private def scans(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan csv"))
        p.metrics.filter(_.name == "number of output rows")
          .foreach(m => csvScanMetrics.add(m.accumulatorId))
      p.children.foreach(scans)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart          => scans(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => scans(u.sparkPlanInfo)
      case _                                          =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskMetrics != null) recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      e.taskInfo.accumulables.foreach { a =>
        if (csvScanMetrics.contains(a.id))
          a.update.foreach(v => csvScanRows.addAndGet(v.asInstanceOf[Long]))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.add(e.jobId); () }

    /** Wait until the listener has seen every event posted so far: a
      * fence job's end arrives after them on the same queue. */
    def drain(): Unit = {
      val f = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(60, "s"))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!f.jobIds.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(f.jobIds.forall(ended.contains), "listener bus did not drain")
    }
  }

  /** What a [[ReadProbe]] saw while `body` ran. */
  private def probing(body: => Unit): ReadProbe = {
    val probe = new ReadProbe
    spark.sparkContext.addSparkListener(probe)
    try { body; probe.drain(); probe }
    finally spark.sparkContext.removeSparkListener(probe)
  }

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A 20-row CSV day-drop over (order_key, line_no) with a null-key rule
    * on part_key and a dedup rule keeping the highest ingest_seq:
    *  - 8 clean rows;
    *  - n1, n2: only a null key;
    *  - d_keep beats d_drop1, d_drop2: only duplicates;
    *  - b_null has a null key AND outranks its duplicate b_keep, which,
    *    once b_null is routed out, has no rival left and survives;
    *  - bb1, bb2: null keys and duplicates of each other;
    *  - t_a, t_b, t_c: one key, tied on ingest_seq — one survives.
    * Sequentially routed: 5 null-key rows, then 4 duplicates, 11 good. */
  private def validatedCsvJob(dir: String, threshold: String, sinkLoad: String = "truncateInsert") = {
    writeCsvDrop(dir)
    JobConfig.parse(
      s"""{
         |"jobName": "validated_drop",
         |"thresholdLimit": "$threshold",
         |"inputs": [${csvDropInput(dir)}],
         |"validations": [
         |  {"type": "nullValueCheck", "dataFrameName": "raw", "primaryKeys": ["part_key"]},
         |  {"type": "duplicateRecordCheck", "dataFrameName": "raw",
         |   "primaryKeys": ["order_key", "line_no"], "orderByCols": ["ingest_seq"]}],
         |"transformations": [{"functionName": "keep", "outputDFName": "kept",
         |  "sqlQuery": "SELECT order_key, line_no, part_key, ingest_seq, payload FROM raw"}],
         |"sinks": [{"dataFrameName": "kept", "loadType": "$sinkLoad", "format": "parquet",
         |  "path": "$dir/kept", "reconciliation": true}],
         |"errorSink": {"dataFrameName": "errors", "format": "parquet", "savemode": "append",
         |  "path": "$dir/errors"}
         |}""".stripMargin)
  }

  /** The 20-row day-drop [[validatedCsvJob]] describes, 13 distinct
    * order keys, under `dir`/drop with its column mapping. */
  private def writeCsvDrop(dir: String): Unit = {
    val rows = Seq(
      "1,1,10,1,c1", "1,2,11,1,c2", "2,1,12,1,c3", "3,1,13,1,c4",
      "4,1,14,1,c5", "5,1,15,1,c6", "6,1,16,1,c7", "7,1,17,1,c8",
      "8,1,,1,n1", "9,1,,1,n2",
      "10,1,20,5,d_keep", "10,1,20,3,d_drop1", "10,1,21,1,d_drop2",
      "11,1,,9,b_null", "11,1,30,2,b_keep",
      "12,1,,1,bb1", "12,1,,2,bb2",
      "13,1,40,7,t_a", "13,1,41,7,t_b", "13,1,42,7,t_c")
    Files.createDirectories(Paths.get(dir, "drop"))
    Files.writeString(Paths.get(dir, "drop", "day.csv"),
      ("ORDER_KEY,LINE_NO,PART_KEY,SEQ,PAYLOAD" +: rows).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(dir, "mapping.json"),
      """[{"sourceColumn": "ORDER_KEY", "targetColumn": "order_key", "dataType": "bigint"},
        | {"sourceColumn": "LINE_NO", "targetColumn": "line_no", "dataType": "int"},
        | {"sourceColumn": "PART_KEY", "targetColumn": "part_key", "dataType": "bigint"},
        | {"sourceColumn": "SEQ", "targetColumn": "ingest_seq", "dataType": "bigint"},
        | {"sourceColumn": "PAYLOAD", "targetColumn": "payload", "dataType": "string"}]""".stripMargin)
    ()
  }

  private def csvDropInput(dir: String) =
    s"""{"dataFrameName": "raw", "format": "csv", "path": "$dir/drop", "header": true,
       |  "options": {"inferSchema": "false"}, "metadataPath": "$dir/mapping.json"}""".stripMargin

  test("validated CSV step: one staged pass routes as the sequential rules, " +
      "reads the CSV once, and the gate trips at the same share") {
    val dir = tmpDir()
    val cfg = validatedCsvJob(dir, "45%") // 9 of 20 rejected: 45% passes
    val probe = probing(new PipelineRunner(spark).run(Seq(PipelineStep("drop", cfg))))
    assert(probe.csvScanRows.get == 20,
      s"CSV scans output ${probe.csvScanRows.get} rows: the 20-row input was parsed more than once")

    val errs = spark.read.parquet(s"$dir/errors")
    def payloads(reason: String) = errs.filter(col("error_reason") === reason)
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    assert(payloads("null_primary_key") == Seq("b_null", "bb1", "bb2", "n1", "n2"))
    val dups = payloads("duplicate_record")
    assert(dups.count(_.startsWith("d_")) == 2 && dups.contains("d_drop1") &&
      dups.contains("d_drop2"), s"dedup rejects: $dups")
    assert(dups.count(_.startsWith("t_")) == 2, s"one of three tied rows survives: $dups")
    assert(errs.count() == 9)

    // one tie-break decision: rejected + written = the input, as a multiset
    val cols = Seq("order_key", "line_no", "part_key", "ingest_seq", "payload")
    val kept = spark.read.parquet(s"$dir/kept")
    assert(kept.count() == 11 && kept.filter(col("payload") === "b_keep").count() == 1)
    val input = spark.read.option("header", "true").csv(s"$dir/drop")
      .select(col("ORDER_KEY").cast("bigint").as("order_key"),
        col("LINE_NO").cast("int").as("line_no"), col("PART_KEY").cast("bigint").as("part_key"),
        col("SEQ").cast("bigint").as("ingest_seq"), col("PAYLOAD").as("payload"))
    val routed = errs.select(cols.map(col): _*).unionByName(kept.select(cols.map(col): _*))
    assert(routed.exceptAll(input).isEmpty && input.exceptAll(routed).isEmpty)

    // the gate: 9 of 20 is 45% — over a 44% limit, at a 45% limit not
    val e = intercept[IllegalStateException](
      new Orchestrator(spark).run(validatedCsvJob(tmpDir(), "44%")))
    assert(e.getMessage.contains("9/20 invalid"), e.getMessage)
  }

  test("staged blocks: freed after a step, and after every failed attempt; " +
      "a direct run's result stays usable") {
    val before = persisted()
    new PipelineRunner(spark).run(Seq(PipelineStep("ok", validatedCsvJob(tmpDir(), "50%"))))
    assert((persisted() -- before).isEmpty, "a successful step left staged blocks behind")

    val failing = validatedCsvJob(tmpDir(), "50%", sinkLoad = "noSuchLoad")
    val e = intercept[IllegalStateException](
      new PipelineRunner(spark).run(Seq(PipelineStep("bad", failing, retries = 2))))
    assert(e.getMessage.contains("after 3 attempts"), e.getMessage)
    assert((persisted() -- before).isEmpty, "failed attempts left staged blocks behind")

    // a direct caller's result reads the staged blocks, so they stay
    val out = new Orchestrator(spark).run(validatedCsvJob(tmpDir(), "50%"))
    val held = persisted() -- before
    assert(held.nonEmpty)
    assert(out.count() == 11)
    held.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
  }

  test("count-validated transformation: staged once, so its input is read " +
      "once and the check takes the staged row count") {
    // no validations: only the transformation's own staging can keep the
    // count and the sink write from each evaluating the aggregate
    def job(dir: String, minRows: Int) = {
      writeCsvDrop(dir)
      JobConfig.parse(
        s"""{
           |"jobName": "counted_drop",
           |"inputs": [${csvDropInput(dir)}],
           |"transformations": [{"functionName": "per_order", "outputDFName": "per_order",
           |  "sqlQuery": "SELECT order_key, COUNT(*) AS n, MAX(ingest_seq) AS top FROM raw GROUP BY order_key",
           |  "countValidation": "$minRows"}],
           |"sinks": [{"dataFrameName": "per_order", "loadType": "truncateInsert", "format": "parquet",
           |  "path": "$dir/per_order", "reconciliation": true}]
           |}""".stripMargin)
    }
    val dir = tmpDir()
    val before = persisted()
    val probe = probing(new PipelineRunner(spark).run(Seq(PipelineStep("counted", job(dir, 13)))))
    assert(probe.csvScanRows.get == 20,
      s"CSV scans output ${probe.csvScanRows.get} rows: the 20-row input was read more than once")
    val written = spark.read.parquet(s"$dir/per_order")
    assert(written.count() == 13 && written.agg(sum("n")).head().getLong(0) == 20L)
    assert((persisted() -- before).isEmpty, "the staged output outlived its step")

    val e = intercept[IllegalStateException](new Orchestrator(spark).run(job(tmpDir(), 14)))
    assert(e.getMessage.contains("13 rows < expected 14"), e.getMessage)
    assert((persisted() -- before).isEmpty, "a failed run left its staged output behind")
  }

  test("single job: inputs → validations → SQL chain → parquet sink → error sink") {
    val out = tmpDir()
    val cfg = JobConfig.parse(
      s"""{
         |"jobName": "daily_range",
         |"thresholdLimit": "90%",
         |"inputs": [
         |  {"dataFrameName": "orders", "format": "parquet", "path": "$sf/orders.parquet"},
         |  {"dataFrameName": "lineitem", "format": "parquet", "path": "$sf/lineitem.parquet",
         |   "selectColumns": ["l_orderkey", "l_extendedprice", "l_linenumber"]}
         |],
         |"validations": [
         |  {"type": "duplicateRecordCheck", "dataFrameName": "lineitem",
         |   "primaryKeys": ["l_orderkey", "l_linenumber"], "orderByCols": ["l_extendedprice"]}
         |],
         |"transformations": [
         |  {"functionName": "daily_range",
         |   "sqlQuery": "SELECT CAST(o.o_orderdate AS DATE) AS trade_date, MAX(l.l_extendedprice) - MIN(l.l_extendedprice) AS price_range FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey GROUP BY CAST(o.o_orderdate AS DATE)",
         |   "outputDFName": "ranges", "countValidation": "100"}
         |],
         |"sinks": [
         |  {"dataFrameName": "ranges", "loadType": "simpleInsert", "format": "parquet",
         |   "path": "$out/ranges", "savemode": "overwrite", "reconciliation": true}
         |],
         |"errorSink": {"dataFrameName": "errors", "format": "parquet", "path": "$out/errors"}
         |}""".stripMargin)
    new Orchestrator(spark).run(cfg)
    val written = spark.read.parquet(s"$out/ranges")
    assert(written.count() > 100)
    assert(written.columns.toSet == Set("trade_date", "price_range"))
    // fixture lineitem has duplicate (okey, lineno) pairs → error sink written
    val errs = spark.read.parquet(s"$out/errors")
    assert(errs.count() > 0)
    assert(errs.columns.contains("error_reason") && errs.columns.contains("error_job"))
  }

  test("append sinks reconcile against the written delta, not the whole target") {
    val out = tmpDir()
    def cfg(sinkJson: String) = JobConfig.parse(
      s"""{
         |"jobName": "append_recon",
         |"inputs": [{"dataFrameName": "nation", "format": "parquet", "path": "$sf/nation.parquet"}],
         |"transformations": [
         |  {"functionName": "pick",
         |   "sqlQuery": "SELECT n_nationkey, n_name FROM nation",
         |   "outputDFName": "picked"}
         |],
         |"sinks": [$sinkJson]
         |}""".stripMargin)
    // plain-format append: target grows by exactly the batch on every run;
    // the target already holds 2,000 rows of earlier runs, which the check
    // must not read (it counts only the files the write added)
    spark.read.parquet(s"$sf/nation.parquet").select("n_nationkey", "n_name")
      .crossJoin(spark.range(80)).drop("id").write.parquet(s"$out/pq")
    val pq =
      s"""{"dataFrameName": "picked", "loadType": "simpleInsert", "format": "parquet",
         | "path": "$out/pq", "savemode": "append", "reconciliation": true}""".stripMargin
    val probe = probing {
      new Orchestrator(spark).run(cfg(pq))
      new Orchestrator(spark).run(cfg(pq))
    }
    assert(spark.read.parquet(s"$out/pq").count() == 2050) // + 25 nations × 2 appends
    assert(probe.recordsRead.get < 2000,
      s"reconciling two 25-row appends read ${probe.recordsRead.get} rows")
    // delta-format append: the change feed replays exactly this batch,
    // whose row count is reconciled
    val dl =
      s"""{"dataFrameName": "picked", "loadType": "simpleInsert", "format": "delta",
         | "path": "$out/dl", "savemode": "append", "reconciliation": true}""".stripMargin
    new Orchestrator(spark).run(cfg(dl))
    new Orchestrator(spark).run(cfg(dl))
    assert(graft.sources.VersionedParquet.read(spark, s"$out/dl").count() == 50)
  }

  test("threshold gate aborts a job with too many invalid rows") {
    val out = tmpDir()
    val cfg = JobConfig.parse(
      s"""{
         |"jobName": "gate",
         |"thresholdLimit": "1%",
         |"inputs": [{"dataFrameName": "li", "format": "parquet", "path": "$sf/lineitem.parquet"}],
         |"validations": [
         |  {"type": "duplicateRecordCheck", "dataFrameName": "li",
         |   "primaryKeys": ["l_returnflag"], "orderByCols": ["l_orderkey"]}
         |],
         |"sinks": [{"dataFrameName": "li", "format": "parquet", "path": "$out/x", "savemode": "overwrite"}]
         |}""".stripMargin)
    intercept[IllegalStateException] { new Orchestrator(spark).run(cfg) }
  }

  test("duplicate-run guard blocks concurrent runs, releases after completion") {
    val tmp = tmpDir()
    val mk = (name: String) => JobConfig.parse(
      s"""{
         |"jobName": "$name", "duplicateRunCheck": true, "tempPath": "$tmp",
         |"inputs": [{"dataFrameName": "r", "format": "parquet", "path": "$sf/region.parquet"}],
         |"transformations": [{"functionName": "t", "sqlQuery": "SELECT * FROM r", "outputDFName": "o"}]
         |}""".stripMargin)
    // a concurrent run holds the marker → refused
    Files.createFile(Paths.get(tmp, "guarded_RUNNING"))
    intercept[IllegalStateException] { new Orchestrator(spark).run(mk("guarded")) }
    Files.delete(Paths.get(tmp, "guarded_RUNNING"))
    // normal run: succeeds, releases the marker, records success —
    // so a sequential re-run (and the pipeline retry loop) still works
    new Orchestrator(spark).run(mk("guarded"))
    assert(!Files.exists(Paths.get(tmp, "guarded_RUNNING")))
    assert(Files.exists(Paths.get(tmp, "guarded_SUCCESS")))
    new Orchestrator(spark).run(mk("guarded"))
    // a FAILED run must also release the marker (retry-ability)
    val bad = mk("failing").copy(transformations = Seq(
      graft.config.TransformStep("t", "SELECT * FROM does_not_exist", "o")))
    intercept[Exception] { new Orchestrator(spark).run(bad) }
    assert(!Files.exists(Paths.get(tmp, "failing_RUNNING")))
  }

  test("4-step pipeline: fetch → daily_range → register → scd2 (reference DAG shape)") {
    val base = tmpDir()
    // step 1 "fetch_prices": project the raw orders feed to a staging table
    val fetch = JobConfig.parse(
      s"""{
         |"jobName": "fetch_prices",
         |"inputs": [{"dataFrameName": "orders", "format": "parquet", "path": "$sf/orders.parquet"}],
         |"transformations": [{"functionName": "stage",
         |  "sqlQuery": "SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS trade_date FROM orders",
         |  "outputDFName": "prices"}],
         |"sinks": [{"dataFrameName": "prices", "format": "parquet", "path": "$base/prices", "savemode": "overwrite"}]
         |}""".stripMargin)
    // step 2 "calculate_daily_range"
    val calc = JobConfig.parse(
      s"""{
         |"jobName": "calculate_daily_range",
         |"inputs": [{"dataFrameName": "prices", "format": "parquet", "path": "$base/prices"}],
         |"transformations": [{"functionName": "range",
         |  "sqlQuery": "SELECT trade_date, MAX(o_totalprice) - MIN(o_totalprice) AS price_range, COUNT(*) AS n FROM prices GROUP BY trade_date",
         |  "outputDFName": "ranges"}],
         |"sinks": [{"dataFrameName": "ranges", "format": "parquet", "path": "$base/ranges", "savemode": "overwrite"}]
         |}""".stripMargin)
    // step 3 "register": dedup + quality-gate the ranges
    val register = JobConfig.parse(
      s"""{
         |"jobName": "register",
         |"thresholdLimit": "50%",
         |"inputs": [{"dataFrameName": "ranges", "format": "parquet", "path": "$base/ranges"}],
         |"validations": [
         |  {"type": "nullValueCheck", "dataFrameName": "ranges", "primaryKeys": ["trade_date"]}],
         |"transformations": [{"functionName": "registered",
         |  "sqlQuery": "SELECT trade_date, price_range, n FROM ranges", "outputDFName": "registered"}],
         |"sinks": [{"dataFrameName": "registered", "format": "parquet", "path": "$base/registered", "savemode": "overwrite"}]
         |}""".stripMargin)
    // step 4 "scd2_daily_ranges": SCD2-load the dimension
    val scd2 = JobConfig.parse(
      s"""{
         |"jobName": "scd2_daily_ranges",
         |"inputs": [{"dataFrameName": "registered", "format": "parquet", "path": "$base/registered"}],
         |"transformations": [{"functionName": "dim_in",
         |  "sqlQuery": "SELECT trade_date, price_range, n FROM registered", "outputDFName": "dim_in"}],
         |"sinks": [{"dataFrameName": "dim_in", "loadType": "scdType2Insert", "format": "parquet",
         |  "path": "$base/dim", "scdKeys": ["trade_date"], "scdTrackedCols": ["price_range", "n"]}]
         |}""".stripMargin)

    new PipelineRunner(spark).run(Seq(
      PipelineStep("fetch_prices", fetch),
      PipelineStep("calculate_daily_range", calc),
      PipelineStep("register", register),
      PipelineStep("scd2_daily_ranges", scd2)))

    val dim = spark.read.parquet(s"$base/dim")
    val nDates = spark.read.parquet(s"$base/ranges").count()
    assert(dim.count() == nDates) // first load: one current version per date
    assert(dim.filter(col("is_current")).count() == nDates)

    // run step 4 again with mutated input → changed keys get second versions
    spark.read.parquet(s"$base/registered")
      .withColumn("price_range",
        when(dayofmonth(col("trade_date")) === 1, col("price_range") + 1).otherwise(col("price_range")))
      .write.mode("overwrite").parquet(s"$base/registered2")
    val scd2b = JobConfig.parse(scdJson(base))
    new Orchestrator(spark).run(scd2b)
    val dim2 = spark.read.parquet(s"$base/dim")
    assert(dim2.filter(col("is_current")).count() == nDates)
    assert(dim2.count() > nDates) // closed versions exist
    assert(dim2.filter(!col("is_current")).count() == dim2.count() - nDates)
  }

  private def scdJson(base: String): String =
    s"""{
       |"jobName": "scd2_again",
       |"inputs": [{"dataFrameName": "registered", "format": "parquet", "path": "$base/registered2"}],
       |"transformations": [{"functionName": "dim_in",
       |  "sqlQuery": "SELECT trade_date, price_range, n FROM registered", "outputDFName": "dim_in"}],
       |"sinks": [{"dataFrameName": "dim_in", "loadType": "scdType2Insert", "format": "parquet",
       |  "path": "$base/dim", "scdKeys": ["trade_date"], "scdTrackedCols": ["price_range", "n"]}]
       |}""".stripMargin

  test("plan audit: flags cartesian/BNLJ, strict mode fails the job pre-execution") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("pa_l")
    Seq((2L, "b")).toDF("id", "w").createOrReplaceTempView("pa_r")
    // a tiny side gets broadcast, so the cross join plans as BNLJ (warn);
    // with broadcast off it is the true CartesianProduct (error) — the
    // shape it takes when BOTH sides are big, which is the fatal case
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val (cross, crossF) =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = spark.sql("SELECT * FROM pa_l CROSS JOIN pa_r")
        (df, graft.util.PlanAudit.audit(df)) // plan fixed while broadcast is off
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert(crossF.exists(f => f.severity == "error" && f.node == "CartesianProduct"))
    val theta = spark.sql("SELECT * FROM pa_l l JOIN pa_r r ON l.id < r.id")
    assert(graft.util.PlanAudit.audit(theta)
      .exists(f => f.severity == "warn" && f.node == "BroadcastNestedLoopJoin"))
    // an equi join is clean (broadcast or sort-merge, either way no finding)
    val equi = spark.sql("SELECT * FROM pa_l l JOIN pa_r r ON l.id = r.id")
    assert(graft.util.PlanAudit.audit(equi).forall(_.severity == "info"))
    intercept[RuntimeException](graft.util.PlanAudit.assertSafe(cross))

    // strict mode stops the step BEFORE execution; warn mode lets it run
    val out = tmpDir()
    def cfg(mode: String) = JobConfig.parse(
      s"""{
         |"jobName": "audit_$mode", "planAudit": "$mode",
         |"inputs": [
         |  {"dataFrameName": "nation", "format": "parquet", "path": "$sf/nation.parquet"},
         |  {"dataFrameName": "region", "format": "parquet", "path": "$sf/region.parquet"}
         |],
         |"transformations": [
         |  {"functionName": "boom",
         |   "sqlQuery": "SELECT * FROM nation CROSS JOIN region",
         |   "outputDFName": "boom_out"}
         |],
         |"sinks": [
         |  {"dataFrameName": "boom_out", "loadType": "simpleInsert",
         |   "format": "parquet", "path": "$out/boom_$mode", "savemode": "overwrite"}
         |]
         |}""".stripMargin)
    val e = intercept[RuntimeException](new Orchestrator(spark).run(cfg("strict")))
    assert(e.getMessage.contains("plan audit failed"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/boom_strict")),
      "strict audit must fail before the sink writes")
    new Orchestrator(spark).run(cfg("warn")) // intentional tiny cross: runs
    assert(spark.read.parquet(s"$out/boom_warn").count() == 25 * 5)
  }

  test("repeatedSubtrees: flags a shuffle pipeline re-expanded by a " +
      "twice-referenced view; a shuffle-free view re-reference stays clean") {
    import spark.implicits._
    Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
      .createOrReplaceTempView("rs_base")
    // the view BODY aggregates (shuffle work); each SQL reference
    // re-expands it verbatim in the analyzed plan — the alias node is
    // exempt, but the walk must descend and flag the repeated Aggregate
    spark.sql("SELECT k, COUNT(*) AS n FROM rs_base GROUP BY k")
      .createOrReplaceTempView("rs_agg")
    val dup = spark.sql(
      "SELECT a.k, a.n, b.n AS n2 FROM rs_agg a JOIN rs_agg b ON a.k = b.k")
    assert(graft.util.PlanAudit.repeatedSubtrees(dup)
      .exists(f => f.node == "RepeatedSubtree" &&
        f.detail.contains("Aggregate")),
      "repeated shuffle fragment inside a twice-referenced view not flagged")
    // re-referencing a plain source view twice is a source re-read, not a
    // re-evaluated pipeline: no shuffle under the alias, no finding
    val srcDup = spark.sql(
      "SELECT a.k FROM rs_base a JOIN rs_base b ON a.k = b.k")
    assert(graft.util.PlanAudit.repeatedSubtrees(srcDup).isEmpty,
      "shuffle-free source re-reference must not flag")
  }

  test("similarity-maintenance and validation registry entries dispatch " +
      "correctly and reject bad options loudly") {
    import org.apache.spark.sql.functions.col
    import graft.config.TransformStep
    import graft.run.TransformFunctions
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.createOrReplaceTempView("tf_emb")
    emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
      .createOrReplaceTempView("tf_cents")
    emb.filter(col("vec_id") >= 4 && col("vec_id") < 9)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
      .createOrReplaceTempView("tf_cents2")
    emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding"))
      .createOrReplaceTempView("tf_qs")
    val layout = tmpDir() + "/emb_by_cell"
    def step(fn: String, opts: (String, String)*) = TransformStep(
      functionName = fn, sqlQuery = "", outputDFName = fn + "_out",
      countValidation = None, options = opts.toMap)

    // build → stats frame reflects the written store
    val built = TransformFunctions.dispatch(spark,
      step("ivfBuildLayout", "input" -> "tf_emb", "centroids" -> "tf_cents",
        "path" -> layout)).head()
    val n = emb.count()
    assert(built.getAs[Long]("rows") == n && built.getAs[Long]("cells") == 4)
    // rebuild under NEW centroids: every row rewritten, new geometry
    val rebuilt = TransformFunctions.dispatch(spark,
      step("ivfRebuild", "centroids" -> "tf_cents2", "path" -> layout)).head()
    assert(rebuilt.getAs[Long]("rows_rewritten") == n)
    assert(rebuilt.getAs[Long]("cells") == 5)
    // probe the rebuilt store ≡ the inline ivfTopK under the same geometry
    val probed = TransformFunctions.dispatch(spark,
      step("ivfProbe", "input" -> "tf_qs", "centroids" -> "tf_cents2",
        "path" -> layout, "k" -> "5", "nprobe" -> "2"))
      .orderBy("q_id", "rank").collect().toSeq
    val inline = graft.x.Similarity.ivfTopK(emb,
        spark.table("tf_qs"), spark.table("tf_cents2"),
        "vec_id", "q_id", "centroid_id", "embedding", k = 5, nprobe = 2)
      .orderBy("q_id", "rank").collect().toSeq
    assert(probed == inline, "config-dispatched probe diverged from inline ivfTopK")

    // ivfAssign ≡ the direct call
    val assigned = TransformFunctions.dispatch(spark,
      step("ivfAssign", "input" -> "tf_qs", "idCol" -> "q_id",
        "centroids" -> "tf_cents2"))
      .orderBy("q_id").collect().toSeq
    val assignedDirect = graft.x.Similarity.assignToCentroids(
        spark.table("tf_qs"), spark.table("tf_cents2"),
        "q_id", "centroid_id", "embedding")
      .orderBy("q_id").collect().toSeq
    assert(assigned == assignedDirect && assigned.nonEmpty)
    // ivfAppend lands a batch in the store (the incremental-ingest
    // config path): the stats frame counts base + batch rows
    emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .limit(2).createOrReplaceTempView("tf_batch")
    val appended = TransformFunctions.dispatch(spark,
      step("ivfAppend", "input" -> "tf_batch", "centroids" -> "tf_cents2",
        "path" -> layout)).head()
    assert(appended.getAs[Long]("rows") == n + 2, s"append stats: $appended")

    // merkleDiff through the registry ≡ the direct Validations call
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("tf_a")
    spark.sql("SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN 'EDITED' " +
      "ELSE n_name END AS n_name FROM tf_a").createOrReplaceTempView("tf_b")
    val viaCfg = TransformFunctions.dispatch(spark,
      step("merkleDiff", "input" -> "tf_a", "against" -> "tf_b",
        "keyExpr" -> "cast(n_nationkey as string)",
        "rowExpr" -> "concat(cast(n_nationkey as string), '|', n_name)"))
      .orderBy("leaf").collect().toSeq
    import org.apache.spark.sql.functions.{concat, lit}
    val k = col("n_nationkey").cast("string")
    val direct = graft.operators.Validations.merkleDiff(
        graft.operators.Validations.merkleLeaves(
          spark.table("tf_a").select("n_nationkey", "n_name"),
          k, concat(k, lit("|"), col("n_name"))),
        graft.operators.Validations.merkleLeaves(
          spark.table("tf_b"), k, concat(k, lit("|"), col("n_name"))))
      .orderBy("leaf").collect().toSeq
    assert(viaCfg == direct && viaCfg.nonEmpty)
    // merkleDrill localizes the same injected edit to a level-2 leaf
    val drilled = TransformFunctions.dispatch(spark,
      step("merkleDrill", "input" -> "tf_a", "against" -> "tf_b",
        "keyExpr" -> "cast(n_nationkey as string)",
        "rowExpr" -> "concat(cast(n_nationkey as string), '|', n_name)",
        "levels" -> "2"))
    assert(drilled.count() == 1, "one edited key must drill to one leaf path")

    // a typo'd knob must fail naming the accepted keys, not run a default
    val typo = intercept[RuntimeException](TransformFunctions.dispatch(spark,
      step("psiDrift", "input" -> "tf_a", "against" -> "tf_b",
        "valueCol" -> "n_nationkey", "lo" -> "0", "hi" -> "30",
        "nbuckets" -> "10")))
    assert(typo.getMessage.contains("unknown options nbuckets"), typo.getMessage)
    // a missing required knob must fail loudly, not silently default
    val missing = intercept[RuntimeException](TransformFunctions.dispatch(spark,
      step("psiDrift", "input" -> "tf_a", "against" -> "tf_b",
        "valueCol" -> "n_nationkey", "lo" -> "0")))
    assert(missing.getMessage.contains("needs options.hi"), missing.getMessage)
  }

  test("pipeline step retries then surfaces the failure") {
    val bad = JobConfig.parse(
      """{"jobName": "boom",
        |"inputs": [{"dataFrameName": "nope", "format": "parquet", "path": "/nonexistent/path"}]
        |}""".stripMargin)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      new PipelineRunner(spark).run(Seq(PipelineStep("boom", bad, retries = 2)))
    }
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("a conflict-aborting step counts against the retry budget and the " +
      "final failure NAMES the conflict (O2/O7, VERDICT r14 #5)") {
    // deterministic conflict injection through the attempt seam: a real
    // write-write conflict needs two racing schedulers — the unit under
    // test is the budget and the naming, not the race
    var attempts = 0
    val runner = new PipelineRunner(spark) {
      override protected def runAttempt(cfg: JobConfig,
          token: Option[String]): Unit = {
        attempts += 1
        throw new RuntimeException("sink dim failed", // the sink wrapper layer
          new graft.sources.VersionedParquet.ConflictException(
            "overwritePartitions(/tmp/dim): write-write conflict — this " +
              "merge read version 4 but commit 5 modified touched " +
              "partition(s) of {12}"))
      }
    }
    val cfg = JobConfig.parse("""{"jobName": "contended"}""")
    val e = intercept[IllegalStateException] {
      runner.run(Seq(PipelineStep("contended", cfg, retries = 2)))
    }
    assert(attempts == 3, "a conflict abort must consume the normal retry budget")
    assert(e.getMessage.contains("after 3 attempts"), e.getMessage)
    assert(e.getMessage.contains("write-write conflict"), e.getMessage)
    assert(e.getMessage.contains("commit 5"),
      s"the failure must name the conflicting commit: ${e.getMessage}")
    // the typed conflict stays reachable for programmatic handlers
    assert(graft.run.PipelineRunner
      .conflictIn(e).exists(_.getMessage.contains("commit 5")))
  }
}
