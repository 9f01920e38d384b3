package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config.JobConfig
import graft.run.Orchestrator
import java.nio.file.Files

/** The declarative job model in streaming mode (`"mode": "streaming"`):
  * same config shape, file-stream sources, shared SQL chain, foreachBatch
  * sinks — including SCD2 per micro-batch. */
class StreamingOrchestratorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sfDir

  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft-sevents").toString
    graft.sources.SourceReader.readEvents(spark, s"$sf/events.parquet")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming job: source -> dedup validation -> SQL -> parquet sink") {
    val out = Files.createTempDirectory("graft-sout").toString
    val nEvents = spark.read.parquet(eventsDir).count()
    val cfg = JobConfig.parse(
      s"""{
         |"jobName": "stream_purchases",
         |"mode": "streaming",
         |"tempPath": "$out/ckpt",
         |"inputs": [{"dataFrameName": "events", "format": "parquet", "path": "$eventsDir",
         |  "watermarkColumn": "ts", "watermarkDelay": "1 day",
         |  "options": {"maxFilesPerTrigger": "10"}}],
         |"validations": [
         |  {"type": "duplicateRecordCheck", "dataFrameName": "events",
         |   "primaryKeys": ["event_id"], "orderByCols": ["ts"]}],
         |"transformations": [{"functionName": "purchases",
         |  "sqlQuery": "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
         |  "outputDFName": "purchases"}],
         |"sinks": [{"dataFrameName": "purchases", "format": "parquet",
         |  "path": "$out/purchases", "savemode": "append"}]
         |}""".stripMargin)
    new Orchestrator(spark).run(cfg)
    val written = spark.read.parquet(s"$out/purchases")
    val expected = spark.read.parquet(eventsDir)
      .filter(col("event_type") === "purchase").count()
    assert(written.count() == expected)
    assert(written.columns.toSet == Set("event_id", "user_id", "value"))
  }

  test("streaming SCD2: mid-swap crash + batch replay yields no duplicate versions") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths}
    val base = F.createTempDirectory("graft-scdx").toString
    val in = s"$base/in"; val dim = s"$base/dim"; val ckpt = s"$base/ckpt"
    F.createDirectories(Paths.get(in))
    def cfg = JobConfig.parse(
      s"""{
         |"jobName": "scd_stream",
         |"mode": "streaming",
         |"tempPath": "$ckpt",
         |"inputs": [{"dataFrameName": "src", "format": "parquet", "path": "$in",
         |  "options": {"maxFilesPerTrigger": "1"}}],
         |"sinks": [{"dataFrameName": "src", "loadType": "scdType2Insert",
         |  "format": "parquet", "path": "$dim",
         |  "scdKeys": ["id"], "scdTrackedCols": ["v"]}]
         |}""".stripMargin)
    // micro-batch 0: three keys at v1
    Seq((1L, "a1"), (2L, "b1"), (3L, "c1")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    new Orchestrator(spark).run(cfg)
    // micro-batch 1: keys 1-2 change, key 4 appears
    Seq((1L, "a2"), (2L, "b2"), (4L, "d1")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    new Orchestrator(spark).run(cfg)
    val want = spark.read.parquet(dim).collect().map(_.toString).sorted
    assert(want.length == 6) // 3 v1 + 2 closed-replacing v2 + 1 new = 6 rows

    // Reconstruct the EXACT crash window of the batch-1 swap: the merged
    // staging is fully written, the old dimension was moved aside, and the
    // JVM died before staging moved in and before the micro-batch
    // committed. Disk: staging = post-batch-1 dim, old = pre-batch-1 dim,
    // dimension path absent. Checkpoint: batch 1's commit marker deleted,
    // so the restarted stream REPLAYS it (at-least-once delivery).
    val dim2 = spark.read.parquet(dim)
    dim2.collect() // materialize before the files underneath move
    val staging = s"${dim}_scd2_staging"; val old = s"${dim}_scd2_old"
    dim2.write.parquet(staging)
    // pre-batch-1 dim: its 3 v1 rows, all still current
    spark.read.parquet(staging)
      .filter(col("effective_from") === spark.read.parquet(staging)
        .agg(min("effective_from")).head().getTimestamp(0))
      .withColumn("effective_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
      .write.parquet(old)
    graft.util.Fs.walk(Paths.get(dim)).reverse.foreach(F.deleteIfExists(_))
    val commit1 = Paths.get(s"$ckpt/scd_stream_sink0/commits/1")
    assert(F.exists(commit1), "batch 1 commit marker expected in checkpoint")
    F.delete(commit1)
    F.deleteIfExists(Paths.get(s"$ckpt/scd_stream_sink0/commits/.1.crc"))

    // restart: recovery must complete the interrupted swap, then the
    // replayed merge must be a no-op (same tracked hashes) — the
    // exactly-once EFFECT on an at-least-once channel
    new Orchestrator(spark).run(cfg)
    val got = spark.read.parquet(dim).collect().map(_.toString).sorted
    assert(got.sameElements(want), "replayed batch must not open duplicate versions")
    val dups = spark.read.parquet(dim).groupBy("id", "effective_from")
      .count().filter(col("count") > 1).count()
    assert(dups == 0)
    assert(spark.read.parquet(dim).filter(col("is_current")).count() == 4)
    assert(!F.exists(Paths.get(staging)) && !F.exists(Paths.get(old)))
  }

  test("ivfMaintainedIngest sink: the self-maintaining vector store from " +
    "one JSON config — exactly-once across a full restart-replay") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sivfcfg").toString
    val in = s"$base/in"; val layout = s"$base/store"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // stream the whole fixture as 4 micro-batches
    val n = emb.count()
    val step = (n / 4 + 1).toInt
    (0L until n by step).foreach { lo =>
      emb.filter(col("vec_id") >= lo && col("vec_id") < lo + step)
        .coalesce(1).write.mode("append").parquet(in)
    }
    emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
      .write.parquet(s"$base/seed")
    emb.filter(col("vec_id") >= 90 && col("vec_id") < 95)
      .select(col("vec_id").as("q_id"), col("embedding"))
      .write.parquet(s"$base/probes")
    def cfg(ckpt: String) = JobConfig.parse(
      s"""{
         |"jobName": "ivf_store",
         |"mode": "streaming",
         |"tempPath": "$base/$ckpt",
         |"inputs": [{"dataFrameName": "embeddings", "format": "parquet",
         |  "path": "$in", "options": {"maxFilesPerTrigger": "1"}}],
         |"sinks": [{"dataFrameName": "embeddings",
         |  "loadType": "ivfMaintainedIngest", "path": "$layout",
         |  "options": {"centroidsPath": "$base/seed",
         |              "queriesPath": "$base/probes",
         |              "k": "5", "nprobe": "2",
         |              "driftEvery": "4", "driftThreshold": "0.5",
         |              "compactEvery": "0"}}]
         |}""".stripMargin)
    new Orchestrator(spark).run(cfg("ckpt1"))
    // the store is complete, self-describing, and probes exactly like the
    // inline IVF over the same corpus + seed geometry (threshold 0.5 keeps
    // the fixture's geometry un-rebuilt, so the probe oracle is exact)
    assert(spark.read.parquet(layout).count() == emb.count())
    val seed = spark.read.parquet(s"$base/seed")
    assert(graft.x.Similarity.readCentroids(spark, layout)
      .exists(_.count() == seed.count()))
    val queries = spark.read.parquet(s"$base/probes")
    val fromStore = graft.x.Similarity.ivfTopKFromLayout(spark, layout,
      queries, seed, "vec_id", "q_id", "centroid_id", "embedding",
      k = 5, nprobe = 2)
    val inline = graft.x.Similarity.ivfTopK(emb, queries, seed,
      "vec_id", "q_id", "centroid_id", "embedding", k = 5, nprobe = 2)
    assert(fromStore.exceptAll(inline).isEmpty &&
      inline.exceptAll(fromStore).isEmpty,
      "config-declared store diverged from the inline IVF")
    // full restart with a FRESH checkpoint replays every micro-batch:
    // the watermark suppresses each one — exactly-once across restarts
    new Orchestrator(spark).run(cfg("ckpt2"))
    assert(spark.read.parquet(layout).count() == emb.count(),
      "checkpoint-loss replay duplicated rows in the store")
    // a missing policy parameter names its option key
    val bad = JobConfig.parse(
      s"""{"jobName": "ivf_bad", "mode": "streaming", "tempPath": "$base/ck3",
         |"inputs": [{"dataFrameName": "embeddings", "format": "parquet",
         |  "path": "$in"}],
         |"sinks": [{"dataFrameName": "embeddings",
         |  "loadType": "ivfMaintainedIngest", "path": "$layout",
         |  "options": {"queriesPath": "$base/probes"}}]}""".stripMargin)
    val e = intercept[RuntimeException] { new Orchestrator(spark).run(bad) }
    assert(e.getMessage.contains("options.centroidsPath"))
    // a TYPO'D knob must not silently run the default
    val typo = JobConfig.parse(
      s"""{"jobName": "ivf_typo", "mode": "streaming", "tempPath": "$base/ck4",
         |"inputs": [{"dataFrameName": "embeddings", "format": "parquet",
         |  "path": "$in"}],
         |"sinks": [{"dataFrameName": "embeddings",
         |  "loadType": "ivfMaintainedIngest", "path": "$layout",
         |  "options": {"centroidsPath": "$base/seed",
         |              "queriesPath": "$base/probes",
         |              "driftThreshhold": "0.01"}}]}""".stripMargin)
    val e2 = intercept[RuntimeException] { new Orchestrator(spark).run(typo) }
    assert(e2.getMessage.contains("driftThreshhold") &&
      e2.getMessage.contains("unknown options"))
    // and the store REQUIRES a durable checkpoint: without tempPath a
    // fresh temp checkpoint per run would alias new data into committed
    // bids and silently drop it — the config must be rejected up front
    val noTmp = JobConfig.parse(
      s"""{"jobName": "ivf_notmp", "mode": "streaming",
         |"inputs": [{"dataFrameName": "embeddings", "format": "parquet",
         |  "path": "$in"}],
         |"sinks": [{"dataFrameName": "embeddings",
         |  "loadType": "ivfMaintainedIngest", "path": "$layout",
         |  "options": {"centroidsPath": "$base/seed",
         |              "queriesPath": "$base/probes"}}]}""".stripMargin)
    val e3 = intercept[RuntimeException] { new Orchestrator(spark).run(noTmp) }
    assert(e3.getMessage.contains("tempPath"))
  }

  test("a rerun of a streaming SCD2 job reuses its generated code and " +
    "leaves the caller's session conf as it was") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sreuse").toString
    val in = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    val cfg = JobConfig.parse(
      s"""{
         |"jobName": "reuse",
         |"mode": "streaming",
         |"tempPath": "$base/ckpt",
         |"inputs": [{"dataFrameName": "changes", "format": "parquet", "path": "$in",
         |  "options": {"maxFilesPerTrigger": "1"},
         |  "watermarkColumn": "ts", "watermarkDelay": "10 minutes"}],
         |"validations": [
         |  {"type": "nullValueCheck", "dataFrameName": "changes", "primaryKeys": ["id"]},
         |  {"type": "duplicateRecordCheck", "dataFrameName": "changes",
         |   "primaryKeys": ["id", "change_id"], "orderByCols": ["ts"]}],
         |"transformations": [{"functionName": "stage", "outputDFName": "staged",
         |  "sqlQuery": "SELECT id, change_id, ts, v FROM changes"}],
         |"sinks": [
         |  {"dataFrameName": "staged", "loadType": "scdType2Insert", "format": "parquet",
         |   "path": "$base/dim", "scdKeys": ["id"], "scdTrackedCols": ["v"],
         |   "options": {"scdBuckets": "4"}},
         |  {"dataFrameName": "staged", "loadType": "simpleInsert", "savemode": "append",
         |   "format": "deltalake", "path": "$base/audit"}],
         |"errorSink": {"dataFrameName": "errors", "format": "parquet", "savemode": "append",
         |  "path": "$base/errors"}
         |}""".stripMargin)
    // file f: keys 1-5 (a value change on two of them), one null key and
    // one redelivered row the dedup drops
    def land(f: Int): Unit = {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + f * 60000L
      val rows = (1L to 5L).map(k => (Option(k), f * 10L + k,
        new java.sql.Timestamp(t0 + k), if (k <= 2) s"v$f" else "v")) :+
        ((Option.empty[Long], f * 10L + 9, new java.sql.Timestamp(t0), "null"))
      (rows :+ rows.head).toDF("id", "change_id", "ts", "v")
        .coalesce(1).write.mode("append").parquet(in)
    }
    val key = "spark.sql.artifact.isolation.enabled"
    def run(): Int = {
      val qs = new graft.run.StreamingOrchestrator(spark).run(cfg)
      qs.foreach(_.awaitTermination())
      qs.foreach(_.stop())
      qs.foreach(q => q.exception.foreach(e => throw e))
      qs.head.recentProgress.count(_.numInputRows > 0)
    }
    // first run: initialize plus two merges, so every stage shape exists
    (0 until 3).foreach(land)
    assert(spark.conf.getAll.get(key).isEmpty)
    assert(run() == 3)
    assert(spark.conf.getAll.get(key).isEmpty, s"run left $key set on the caller's session")
    (3 until 5).foreach(land)
    spark.conf.set(key, "true")
    try {
      val c0 = graft.util.HostMetrics.codegenCompiles()
      val batches = run()
      val compiles = graft.util.HostMetrics.codegenCompiles() - c0
      assert(batches == 2)
      assert(compiles <= 2L * batches,
        s"rerun compiled $compiles generated classes over $batches micro-batches")
      assert(spark.conf.getAll.get(key).contains("true"))
    } finally spark.conf.unset(key)
    val dim = graft.sources.VersionedParquet.read(spark, s"$base/dim")
    assert(dim.filter(col("is_current")).count() == 5)
    assert(dim.count() == 5 + 2 * 4) // two keys change in each of files 1-4
    assert(spark.read.parquet(s"$base/errors").count() == 5)
    assert(graft.sources.VersionedParquet.read(spark, s"$base/audit").count() == 25)
  }

  test("unwatermarked aggregation in append mode fails fast, not silently") {
    val out = Files.createTempDirectory("graft-sscd").toString
    val cfg = JobConfig.parse(
      s"""{
         |"jobName": "stream_scd",
         |"mode": "streaming",
         |"tempPath": "$out/ckpt",
         |"inputs": [{"dataFrameName": "events", "format": "parquet", "path": "$eventsDir",
         |  "options": {"maxFilesPerTrigger": "10"}}],
         |"transformations": [{"functionName": "user_last",
         |  "sqlQuery": "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id",
         |  "outputDFName": "user_counts"}],
         |"sinks": [{"dataFrameName": "user_counts", "format": "parquet",
         |  "path": "$out/counts", "savemode": "append"}]
         |}""".stripMargin)
    // aggregate without watermark in append mode is invalid — complete mode
    // isn't what foreachBatch sinks use, so the engine should surface the
    // analysis error rather than hang
    intercept[Exception] { new Orchestrator(spark).run(cfg) }
  }
}
