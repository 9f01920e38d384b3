package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamingJobs
import graft.config.SinkSpec
import java.nio.file.Files

/** Streaming extension (SURVEY.md §2.8): the events fixture replayed as a
  * file stream must produce the same windowed aggregates as the batch path
  * (shared plan), and foreachBatch must reuse the batch sink machinery. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sfDir

  // stage a normalized (session-TZ timestamp) events copy for streaming
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft-events").toString
    graft.sources.SourceReader.readEvents(spark, s"$sf/events.parquet")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("stream-static enrichment equals the batch join and keeps unmatched events") {
    import spark.implicits._
    val batchDf = spark.read.parquet(eventsDir)
    // dimension covering only EVEN users: left-join must keep the rest
    val dim = (0L until 200L by 2).map(u => (u, s"seg${u % 3}")).toDF("user_id", "segment")
    val expected = batchDf.join(dim, Seq("user_id"), "left")
      .groupBy("segment").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
      maxFilesPerTrigger = 1)
    val enriched = StreamingJobs.enrichWithStatic(stream, dim, Seq("user_id"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out").groupBy("segment").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got === expected)
      assert(got.contains(null)) // unmatched users survived the left join
    } finally q.stop()
  }

  test("streaming windowed counts equal the batch plan over the same data") {
    val batchDf = spark.read.parquet(eventsDir)
    val batch = StreamingJobs.windowedCounts(batchDf, "ts", "1 hour")
      .orderBy("window_start", "event_type").collect()

    val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
      maxFilesPerTrigger = 1)
    val agg = StreamingJobs.windowedCounts(stream, "ts", "1 hour", watermark = "2 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .orderBy("window_start", "event_type").collect()
      assert(streamed.length == batch.length)
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("session windows produce bounded per-user sessions") {
    val batchDf = spark.read.parquet(eventsDir)
    val sessions = StreamingJobs.sessionized(batchDf, "ts", "user_id", gap = "5 minutes")
    val n = sessions.count()
    assert(n > 0 && n <= batchDf.count())
    // session integrity: event counts across sessions sum to total events
    assert(sessions.agg(sum("n_events")).head().getLong(0) == batchDf.count())
  }

  test("dropDuplicatesWithinWatermark removes injected stream dupes") {
    val batchDf = spark.read.parquet(eventsDir)
    val dupDir = Files.createTempDirectory("graft-dupes").toString
    batchDf.union(batchDf.limit(200)).write.mode("overwrite").parquet(dupDir)
    val stream = StreamingJobs.fileStream(spark, dupDir, batchDf.schema,
      maxFilesPerTrigger = 10)
    val dedup = StreamingJobs.dedupWithinWatermark(stream, "ts", Seq("event_id"),
      watermark = "10 days")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == batchDf.count())
    } finally q.stop()
  }

  test("foreachBatch routes a stream through the batch sink machinery") {
    val batchDf = spark.read.parquet(eventsDir)
    val outDir = Files.createTempDirectory("graft-fb").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
      maxFilesPerTrigger = 10)
    val q = StreamingJobs.startForeachBatch(
      stream.filter(col("event_type") === "purchase"),
      SinkSpec("purchases", format = "parquet", path = Some(outDir), savemode = "append"),
      ckpt)
    try q.awaitTermination(60000) finally q.stop()
    val written = spark.read.parquet(outDir)
    assert(written.count() == batchDf.filter(col("event_type") === "purchase").count())
  }

  test("cross-batch streaming dedup via the incremental fingerprint store") {
    import spark.implicits._
    // dropDuplicatesWithinWatermark bounds dedup state by the watermark;
    // content recurring ARBITRARILY far apart needs the persistent store —
    // incrementalExact inside foreachBatch is exactly that composition
    val in = Files.createTempDirectory("graft-incdedup-in").toString
    val out = Files.createTempDirectory("graft-incdedup-out").toString
    val store = s"$out/fps"
    Seq((1L, "first unique doc"), (2L, "second unique doc"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((3L, "first unique doc"), (4L, "third unique doc"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stream = StreamingJobs.fileStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val admitted = graft.x.Dedup.incrementalExact(batch, "text", "doc_id", store)
        if (!admitted.isEmpty)
          admitted.write.mode("append").parquet(s"$out/admitted")
      }
      .start()
    q.awaitTermination(); q.stop()
    // docs 1 and 3 share content across micro-batches: whichever batch ran
    // first wins, the other is rejected by the store (batch order follows
    // file mtimes, which can tie — the dedup guarantee is order-agnostic)
    val admitted = spark.read.parquet(s"$out/admitted")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(admitted.length == 3 && admitted.contains(2L) && admitted.contains(4L))
    assert(admitted.contains(1L) ^ admitted.contains(3L))
  }

  test("cross-batch streaming NEAR-dedup via the incremental band store") {
    import spark.implicits._
    // the near-dup twin of the fingerprint-store composition: a re-crawl
    // arriving micro-batches apart is caught by the persistent band
    // buckets even when watermark-bounded state has long expired
    val in = Files.createTempDirectory("graft-incnd-in").toString
    val out = Files.createTempDirectory("graft-incnd-out").toString
    val store = s"$out/bands"
    Seq((1L, "the quick brown fox jumps over the lazy dog again and again today"),
        (2L, "an entirely different report about structured streaming state"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((3L, "the quick brown fox jumps over the lazy dog again and again today"),
        (4L, "a third document sharing no shingles with either earlier one"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stream = StreamingJobs.fileStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val admitted = graft.x.Dedup.incrementalNearDup(batch, "text", "doc_id", store)
        if (!admitted.isEmpty)
          admitted.write.mode("append").parquet(s"$out/admitted")
      }
      .start()
    q.awaitTermination(); q.stop()
    // 1 and 3 are copies across micro-batches: exactly one wins (order
    // follows file mtimes, which can tie — the guarantee is order-agnostic)
    val admitted = spark.read.parquet(s"$out/admitted")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(admitted.length == 3 && admitted.contains(2L) && admitted.contains(4L))
    assert(admitted.contains(1L) ^ admitted.contains(3L))
  }

  test("streaming curation: quality gate + incremental near-dedup per micro-batch") {
    import spark.implicits._
    // the batch curation stages recompose for streams: the gate is a
    // per-batch filter (stateless) and cross-batch dedup rides the
    // persistent band store — no global pairwise stage needed
    val in = Files.createTempDirectory("graft-scur-in").toString
    val out = Files.createTempDirectory("graft-scur-out").toString
    val store = s"$out/bands"
    Seq((1L, "a clean article with plenty of distinct words in it today"),
        (2L, "spam spam spam spam spam spam spam spam"))  // fails the gate
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((3L, "a clean article with plenty of distinct words in it today"), // re-crawl of 1
        (4L, "another well formed document about something else entirely"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stream = StreamingJobs.fileStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val stats = graft.x.TextAnalysis.repetitionStats(batch, "text", "doc_id")
        val gated = batch.join(
          stats.filter(col("keep") && col("n_tokens") >= 5).select("doc_id"),
          Seq("doc_id"), "left_semi")
        val admitted = graft.x.Dedup.incrementalNearDup(gated, "text", "doc_id", store)
        if (!admitted.isEmpty)
          admitted.write.mode("append").parquet(s"$out/admitted")
      }
      .start()
    q.awaitTermination(); q.stop()
    val admitted = spark.read.parquet(s"$out/admitted")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 2 gated out; one of {1, 3} deduped against the store; 4 admitted
    assert(admitted.length == 2 && admitted.contains(4L))
    assert(admitted.contains(1L) ^ admitted.contains(3L))
  }

  test("streaming passage decontamination masks benchmark leaks per micro-batch") {
    import spark.implicits._
    // the decontamination benchmark set is STATIC (eval suites change
    // rarely), so the streaming composition is passageDecontaminate inside
    // foreachBatch against the same benchmark frame — each arriving crawl
    // slice gets its leak extents localized without global state
    val in = Files.createTempDirectory("graft-pdecon-in").toString
    val out = Files.createTempDirectory("graft-pdecon-out").toString
    val quote = "name every planet of the solar system in order from the sun"
    val bench = Seq((100L, quote)).toDF("doc_id", "text")
    Seq((1L, s"intro words here $quote closing words"),
        (2L, "clean document with original content and nothing quoted anywhere"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((3L, s"$quote right at the start this time"),
        (4L, "another clean one entirely"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stream = StreamingJobs.fileStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ext = graft.x.TextAnalysis.passageDecontaminate(
          batch, bench, "text", "doc_id", windowTokens = 8)
        if (!ext.isEmpty) ext.write.mode("append").parquet(s"$out/extents")
      }
      .start()
    q.awaitTermination(); q.stop()
    val ext = spark.read.parquet(s"$out/extents")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // quote = 12 tokens: doc 1 leaks at [3, 15) (3-token prefix), doc 3 at
    // [0, 12); clean docs emit nothing
    assert(ext == Set((1L, 3, 15), (3L, 0, 12)))
  }

  test("streaming drift monitor: per-micro-batch PSI against a static reference") {
    import spark.implicits._
    // psiDrift composes into foreachBatch unchanged: the reference
    // snapshot is static (yesterday's accepted distribution) and each
    // arriving slice is scored against it — the alerting pattern for a
    // continuously-loading table, no global state needed
    val in = Files.createTempDirectory("graft-psi-in").toString
    val out = Files.createTempDirectory("graft-psi-out").toString
    val ref = (1 to 1000).map(i => i % 100).toDF("v")
    // batch 1 matches the reference; batch 2 is shifted by half the range
    (1 to 500).map(i => i % 100).toDF("v").coalesce(1).write.mode("append").parquet(in)
    (1 to 500).map(i => 50 + i % 50).toDF("v").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val stream = StreamingJobs.fileStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val psi = graft.x.Profiler.psiDrift(ref, batch, "v",
          nBuckets = 10, lo = 0.0, hi = 100.0)
          .select(lit(id).as("batch_id"), col("psi")).limit(1)
        psi.write.mode("append").parquet(s"$out/psi")
      }
      .start()
    q.awaitTermination(); q.stop()
    val psis = spark.read.parquet(s"$out/psi")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(psis.size == 2)
    val (low, high) = (psis.values.min, psis.values.max)
    assert(low < 0.05, s"matching batch must read stable, got $low")
    assert(high > 0.25, s"shifted batch must flag, got $high")
  }

  test("streaming HLL register store equals the batch sketch after all batches") {
    val batchDf = spark.read.parquet(eventsDir)
    val store = Files.createTempDirectory("graft-hllstore").resolve("regs").toString
    val ckpt = Files.createTempDirectory("graft-hllckpt").toString
    val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
      maxFilesPerTrigger = 1) // several micro-batches → real cross-batch merge
    val q = StreamingJobs.startHllRegisterStore(stream, Seq("event_type"),
      "user_id", store, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = graft.x.Sketches.hllEstimateFromRegisters(
        graft.sources.VersionedParquet.read(spark, store), Seq("event_type"))
      .orderBy("event_type").collect().toSeq
    // each batch commits a version and vacuums down to the last two
    val vs = graft.sources.VersionedParquet.versions(store)
    assert(vs.size <= 2, s"vacuum left versions $vs")
    val direct = graft.x.Sketches.hllDistinct(batchDf, Seq("event_type"), "user_id")
      .orderBy("event_type").collect().toSeq
    assert(streamed == direct)
  }

  test("left-outer interval join pads unmatched rows once the watermark passes") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def stage(rows: Seq[Seq[(Long, java.sql.Timestamp, String)]]): String = {
      val dir = Files.createTempDirectory("graft-ojoin").toString
      rows.zipWithIndex.foreach { case (batch, i) =>
        batch.toDF("event_id", "ts", "k").coalesce(1)
          .write.mode("append").parquet(dir)
      }
      // stamp ascending mtimes so micro-batches replay in write order
      import scala.jdk.CollectionConverters._
      val parts = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 60000 + i * 1000))
      }
      dir
    }
    // left: A matches, B has no right row; a far-future pusher on BOTH
    // sides advances the watermark so B's null-padded row can flush
    val ldir = stage(Seq(
      Seq((1L, t("2024-01-01 10:00:00"), "A"), (2L, t("2024-01-01 10:00:00"), "B")),
      Seq((9L, t("2024-01-01 13:00:00"), "ZL"))))
    val rdir = stage(Seq(
      Seq((11L, t("2024-01-01 09:58:00"), "A")),
      Seq((19L, t("2024-01-01 13:00:00"), "ZR"))))
    val schema = spark.read.parquet(ldir).schema
    val joined = StreamingJobs.intervalJoin(
      StreamingJobs.fileStream(spark, ldir, schema, maxFilesPerTrigger = 1),
      StreamingJobs.fileStream(spark, rdir, schema, maxFilesPerTrigger = 1),
      leftTs = "ts", rightTs = "ts", keys = Seq("k"),
      lower = "5 minutes", upper = "0 seconds", watermark = "10 minutes",
      joinType = "left_outer")
    val q = joined.select(col("event_id"), col("r_event_id"))
      .writeStream.outputMode("append").format("memory").queryName("oj_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("oj_out")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(got.contains((1L, 11L)), s"matched pair missing: $got")
      assert(got.contains((2L, -1L)), s"null-padded unmatched row missing: $got")
      // the pushers sit at the watermark frontier — never null-padded yet
      assert(!got.exists(_._1 == 9L), s"frontier row must not flush: $got")
    } finally q.stop()
  }

  test("stream-stream interval join matches the equivalent batch join") {
    val batchDf = spark.read.parquet(eventsDir)
    // left: purchases; right: views by the same user within the 5 minutes
    // BEFORE the purchase — the classic attribution join
    val lB = batchDf.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val rB = batchDf.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("r_ts"), col("event_id").as("r_event_id"))
    val expected = lB.join(rB,
        lB("user_id") === rB("user_id") &&
        col("r_ts") >= col("ts") - expr("INTERVAL 5 minutes") &&
        col("r_ts") <= col("ts"))
      .select(col("event_id"), col("r_event_id")).orderBy("event_id", "r_event_id").collect()

    val mkStream = () => StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
      maxFilesPerTrigger = 100)
    val joined = StreamingJobs.intervalJoin(
      mkStream().filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id")),
      mkStream().filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id")),
      leftTs = "ts", rightTs = "ts", keys = Seq("user_id"),
      lower = "5 minutes", upper = "0 seconds", watermark = "2 hours")
    val q = joined.select(col("event_id"), col("r_event_id"))
      .writeStream.outputMode("append").format("memory").queryName("ij_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ij_out").orderBy("event_id", "r_event_id").collect()
      assert(got.length == expected.length,
        s"stream join rows ${got.length} != batch ${expected.length}")
      assert(got.sameElements(expected))
    } finally q.stop()
  }
}
