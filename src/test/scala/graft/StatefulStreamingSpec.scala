package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config.JobConfig
import graft.run.Orchestrator
import graft.streaming.StreamingJobs
import graft.sources.VersionedParquet
import java.nio.file.Files

class StatefulStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sfDir

  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft-stateful").toString
    graft.sources.SourceReader.readEvents(spark, s"$sf/events.parquet")
      // time-ranged files → micro-batches arrive in event-time order, the
      // ordering contract statefulSessions documents
      .repartitionByRange(4, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    // FileStreamSource orders files by MODIFICATION TIME; a simultaneous
    // write leaves ties, making batch order arbitrary — stamp ascending
    // mtimes so micro-batches replay in event-time order
    import scala.jdk.CollectionConverters._
    val parts = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000 + i * 1000))
    }
    dir
  }

  test("bitmap store: exact streaming distinct, replay-idempotent merge") {
    val batchDf = spark.read.parquet(eventsDir)
    val store = Files.createTempDirectory("graft-bmstore").resolve("words").toString
    def runBatches(ckptName: String): Unit = {
      val ckpt = Files.createTempDirectory(ckptName).toString
      val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
        maxFilesPerTrigger = 2)
      val q = StreamingJobs.startBitmapStore(stream, Seq("event_type"),
        "user_id", store, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    runBatches("graft-bmck1")
    def counts() = graft.x.Sketches
      .bitmapDistinct(VersionedParquet.read(spark, store), Seq("event_type"))
      .select("event_type", "distinct_cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the streamed store answers the EXACT batch distinct — not an estimate
    val exact = batchDf.groupBy("event_type")
      .agg(countDistinct("user_id").as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts() == exact, "streamed bitmap distinct must be exact")
    // bit_or is idempotent: a full replay (fresh checkpoint) is a no-op
    runBatches("graft-bmck2")
    assert(counts() == exact, "replay was not idempotent")
  }

  test("HLL register store: a crashed write leaves the answer unchanged, " +
      "a fresh-checkpoint replay is idempotent, at most 2 versions remain") {
    val batchDf = spark.read.parquet(eventsDir)
    val store = Files.createTempDirectory("graft-hllcrash").resolve("regs").toString
    def runBatches(ckptName: String): Unit = {
      val ckpt = Files.createTempDirectory(ckptName).toString
      val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
        maxFilesPerTrigger = 2)
      val q = StreamingJobs.startHllRegisterStore(stream, Seq("event_type"),
        "user_id", store, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    runBatches("graft-hllck1")
    def estimate() = graft.x.Sketches.hllEstimateFromRegisters(
        VersionedParquet.read(spark, store), Seq("event_type"))
      .orderBy("event_type").collect().toSeq
    val afterFirst = estimate()
    assert(afterFirst == graft.x.Sketches.hllDistinct(batchDf, Seq("event_type"),
      "user_id").orderBy("event_type").collect().toSeq)
    assert(VersionedParquet.versions(store).size <= 2,
      s"vacuum left versions ${VersionedParquet.versions(store)}")
    // a crash after the data stage, before the manifest publish: a data
    // dir no manifest references, holding registers that would change
    // the answer if anything read them
    graft.x.Sketches.hllRegisters(
        batchDf.withColumn("user_id", col("user_id") + 1000000L),
        Seq("event_type"), "user_id")
      .write.parquet(java.nio.file.Paths.get(store, "data", "c-torn").toString)
    assert(estimate() == afterFirst, "an unpublished data dir changed the answer")
    // a full replay of every batch (fresh checkpoint, same data) must be a
    // no-op under max-merge
    val versionsBefore = VersionedParquet.versions(store)
    runBatches("graft-hllck2")
    assert(estimate() == afterFirst, "replay was not idempotent")
    val vs = VersionedParquet.versions(store)
    assert(vs.max > versionsBefore.max, "the replay committed nothing")
    assert(vs.size <= 2, s"vacuum left versions $vs")
  }

  test("sketch stores refuse a pre-versioned generation or flat store, naming it") {
    import org.apache.hadoop.fs.Path
    val batchDf = spark.read.parquet(eventsDir)
    val regs = graft.x.Sketches.hllRegisters(batchDf, Seq("event_type"), "user_id")
    val base = Files.createTempDirectory("graft-sketchold")
    val genStore = base.resolve("gens").toString
    regs.write.parquet(s"$genStore/gen=00000001")
    val fs = new Path(genStore).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(s"$genStore/gen=00000001", "_GRAFT_COMMIT"), true).close()
    val flatStore = base.resolve("flat").toString
    regs.write.parquet(flatStore)
    def listing(p: String) =
      graft.util.Fs.walk(java.nio.file.Paths.get(p)).map(_.toString).toSet
    for (store <- Seq(genStore, flatStore)) {
      val before = listing(store)
      val ckpt = Files.createTempDirectory("graft-sketcholdck").toString
      val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
        maxFilesPerTrigger = 2)
      val e = intercept[IllegalArgumentException] {
        val q = StreamingJobs.startHllRegisterStore(stream, Seq("event_type"),
          "user_id", store, ckpt)
        try q.processAllAvailable() finally q.stop()
      }
      assert(e.getMessage.contains(store) && e.getMessage.contains("_graft_log"),
        e.getMessage)
      assert(listing(store) == before, s"a refused store was modified: $store")
      intercept[IllegalArgumentException] {
        StreamingJobs.startBitmapStore(stream, Seq("event_type"), "user_id", store, ckpt)
      }
    }
  }

  test("flatMapGroupsWithState sessions agree with session_window on closed sessions") {
    val batchDf = spark.read.parquet(eventsDir)
    val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
      maxFilesPerTrigger = 1)
    val sessions = StreamingJobs.statefulSessions(spark, stream, gapMs = 5 * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("stateful_sessions").start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table("stateful_sessions")
    assert(emitted.count() > 0)

    // reference: batch session_window over the same data (session_end there
    // is last_ts + gap; the stateful op reports last event time directly)
    val ref = StreamingJobs.sessionized(batchDf, "ts", "user_id", gap = "5 minutes")
      .select(col("user_id"), col("session_start"), col("n_events"),
        round(col("session_value"), 2).as("v"))
    val got = emitted.select(col("user_id"), col("session_start"),
      col("n_events"), round(col("total_value"), 2).as("v"))
    // every emitted (closed) session must match a reference session exactly
    assert(got.exceptAll(ref).isEmpty,
      "stateful sessions must be a subset of batch session_window sessions")
    // and most sessions should have closed (only per-user tails stay open)
    val openPerUser = batchDf.select("user_id").distinct().count()
    assert(emitted.count() >= ref.count() - openPerUser)
  }

  test("statefulHeavyHitters keeps MG guarantees across micro-batches with bounded state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-hh").toString
    // batch 1: group A — heavy 'x' (6/10) over a small tail
    (Seq.fill(6)(("A", "x")) ++ Seq("y1", "y2", "y3", "y4").map(("A", _)))
      .toDF("grp", "item").coalesce(1).write.mode("overwrite").parquet(s"$dir/b")
    // batch 2: more A traffic (x now 16/30) + a brand-new group B
    (Seq.fill(10)(("A", "x")) ++ (1 to 10).map(i => ("A", s"z$i")) :+ (("B", "only")))
      .toDF("grp", "item").coalesce(1).write.mode("append").parquet(s"$dir/b")
    import scala.jdk.CollectionConverters._
    val parts = Files.list(java.nio.file.Paths.get(s"$dir/b")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(Files.getLastModifiedTime(_))
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000 + i * 1000))
    }
    val schema = spark.read.parquet(s"$dir/b").schema
    val stream = StreamingJobs.fileStream(spark, s"$dir/b", schema, maxFilesPerTrigger = 1)
    val hh = StreamingJobs.statefulHeavyHitters(spark, stream, "grp", "item", capacity = 4)
    val q = hh.writeStream.outputMode("update")
      .format("memory").queryName("hh_stream").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("hh_stream")
    // group A's final snapshot reflects BOTH batches (state carried over)
    val latestA = out.filter(col("group") === "A" && col("n") === 30)
    assert(latestA.count() > 0, "second-batch snapshot must exist with cumulative n")
    assert(latestA.count() <= 4, "snapshot honors the m-counter contract")
    // true(x) = 16 > n/(m+1) = 6 → guaranteed tracked, with bracketing bounds
    val x = latestA.filter(col("term") === "x").head()
    assert(x.getAs[Long]("count") >= 16L &&
      x.getAs[Long]("count") - x.getAs[Long]("error") <= 16L)
    // a group born in batch 2 starts its own summary: exact at tiny n
    val b = out.filter(col("group") === "B").head()
    assert(b.getAs[Long]("n") == 1L && b.getAs[String]("term") == "only" &&
      b.getAs[Long]("count") == 1L && b.getAs[Long]("error") == 0L)
  }

  test("statefulTopK: state carries across batches; final snapshot equals the batch backfill") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-topk").toString
    // batch 1: group A only
    Seq(("A", 9.0, "a1"), ("A", 8.0, "a2"), ("A", 7.0, "a3"), ("A", 1.0, "a4"))
      .toDF("grp", "v", "item").coalesce(1).write.mode("overwrite").parquet(s"$dir/b")
    // batch 2: a new global best for A, a loser, and a brand-new group B
    Seq(("A", 100.0, "win"), ("A", 0.5, "meh"), ("B", 3.0, "b1"))
      .toDF("grp", "v", "item").coalesce(1).write.mode("append").parquet(s"$dir/b")
    import scala.jdk.CollectionConverters._
    val parts = Files.list(java.nio.file.Paths.get(s"$dir/b")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(Files.getLastModifiedTime(_))
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000 + i * 1000))
    }
    val schema = spark.read.parquet(s"$dir/b").schema
    val stream = StreamingJobs.fileStream(spark, s"$dir/b", schema, maxFilesPerTrigger = 1)
    val tk = StreamingJobs.statefulTopK(spark, stream, "grp", "v", "item", k = 3)
    val q = tk.writeStream.outputMode("update")
      .format("memory").queryName("topk_stream").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("topk_stream")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getString(3)))
      .toSet
    // batch-1 snapshot re-emitted in Update mode
    assert(out.contains(("A", 1, 9.0, "a1")))
    // final snapshot: batch-2 state merged over carried batch-1 state
    val expected = Seq(("A", 9.0, "a1"), ("A", 8.0, "a2"), ("A", 7.0, "a3"),
        ("A", 1.0, "a4"), ("A", 100.0, "win"), ("A", 0.5, "meh"), ("B", 3.0, "b1"))
      .toDF("grp", "v", "item")
      .groupBy($"grp")
      .agg(graft.functions.TopKAgg.topKBy($"v", $"item", 3).as("tk"))
      .select($"grp", posexplode($"tk"))
      .select($"grp", ($"pos" + 1).cast("int").as("rank"),
        $"col.ord", $"col.item")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getString(3)))
    assert(expected.toSet.subsetOf(out),
      s"stream snapshots must contain the batch backfill; missing ${expected.toSet -- out}")
    // the new group's first snapshot is exact
    assert(out.contains(("B", 1, 3.0, "b1")))
  }

  test("statefulTransitions: pairs connect across batch boundaries " +
      "through the frontier; late rows drop") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-trans").toString
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // batch 1: u1 A(0),B(1); u2 X(0)
    Seq((1L, ts(0), 0L, "A"), (1L, ts(1), 1L, "B"), (2L, ts(0), 10L, "X"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/b")
    // batch 2: u1 C(5) connects B→C through state; u1 LATE(0.5) drops;
    // u2 Y(3)
    Seq((1L, ts(5), 2L, "C"), (1L, new java.sql.Timestamp(1700000000500L),
        3L, "LATE"), (2L, ts(3), 11L, "Y"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(s"$dir/b")
    import scala.jdk.CollectionConverters._
    val parts = Files.list(java.nio.file.Paths.get(s"$dir/b")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(Files.getLastModifiedTime(_))
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000 + i * 1000))
    }
    val schema = spark.read.parquet(s"$dir/b").schema
    val stream = StreamingJobs.fileStream(spark, s"$dir/b", schema,
      maxFilesPerTrigger = 1)
    val tr = StreamingJobs.statefulTransitions(spark, stream, "user_id",
      "ts", "event_id", "event_type")
    val q = tr.writeStream.outputMode("append")
      .format("memory").queryName("trans_stream").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("trans_stream")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    assert(out === Set(("1", "A", "B"), ("1", "B", "C"), ("2", "X", "Y")),
      s"transition stream wrong: $out")
  }

  test("statefulEwma snapshots equal the batch EWMA bit-for-bit") {
    val batchDf = spark.read.parquet(eventsDir)
    val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
      maxFilesPerTrigger = 1)
    val snaps = StreamingJobs.statefulEwma(spark, stream, "event_type", "ts",
      "value", windowDays = 20)
    val q = snaps.writeStream.outputMode("update")
      .format("memory").queryName("stateful_ewma").start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table("stateful_ewma")
    assert(emitted.count() > 0)
    val ref = graft.x.EventAnalytics.ewmaDaily(batchDf, "ts", "event_type",
      "value", windowDays = 20)
      .withColumnRenamed("event_type", "series")
    // files are event-time-ordered, so the LAST emission per (series, day)
    // is that day's complete window — and must equal the batch op exactly
    // (partial-day emissions along the way are <= the final value)
    val lastPerDay = emitted.groupBy("series", "day")
      .agg(max(col("ewma")).as("ewma"))
    assert(lastPerDay.exceptAll(ref).isEmpty && ref.exceptAll(lastPerDay).isEmpty,
      "streamed EWMA must reproduce the batch EWMA for every (series, day)")
  }

  test("statefulHolt: frozen snapshots equal batch Holt; late rows drop") {
    import spark.implicits._
    val batchDf = spark.read.parquet(eventsDir)
    val dir = Files.createTempDirectory("graft-holt-stream").toString
    // copy the time-ranged files so the late-data phase can append here
    import scala.jdk.CollectionConverters._
    val parts = Files.list(java.nio.file.Paths.get(eventsDir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = java.nio.file.Paths.get(dir, p.getFileName.toString)
      Files.copy(p, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - 60000 + i * 1000))
    }
    val stream = StreamingJobs.fileStream(spark, dir, batchDf.schema,
      maxFilesPerTrigger = 1)
    // graceDays=1: a file-boundary day stays mutable until the next file
    // moves the frontier past it, then freezes complete
    val snaps = StreamingJobs.statefulHolt(spark, stream, "event_type", "ts",
      "value", graceDays = 1)
    val q = snaps.writeStream.outputMode("update")
      .format("memory").queryName("stateful_holt").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("stateful_holt").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
      // batch reference: every day from the 2nd onward must have an
      // emission matching level/trend/forecast within the ROUND(6) slack
      val ref = graft.x.EventAnalytics.holtForecast(batchDf, "ts",
          "event_type", "value")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("level"), col("trend"), col("forecast_next"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
      val firstDay = ref.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val want = ref.filter(r => r._2 != firstDay(r._1))
      want.foreach { w =>
        assert(emitted.exists(e => e._1 == w._1 && e._2 == w._2 &&
          math.abs(e._3 - w._3) < 6e-7 && math.abs(e._4 - w._4) < 6e-7 &&
          math.abs(e._5 - w._5) < 6e-7),
          s"no emission matches batch row $w")
      }
      // the causal stream never emits the batch op's peeking day-1 row
      assert(!emitted.exists(e => e._2 == firstDay(e._1)))
      // late-data contract: a file whose rows are all far behind the
      // frozen frontier produces NO state change and NO emissions
      val before = spark.table("stateful_holt").count()
      batchDf.filter(to_date(col("ts")) === "2024-01-02")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("stateful_holt").count() === before,
        "late rows behind the frozen boundary must be dropped, not folded")
    } finally q.stop()
  }

  test("statefulCusum reproduces the batch CUSUM under its calibration") {
    import spark.implicits._
    val batchDf = spark.read.parquet(eventsDir)
    // per-series reference moments computed EXACTLY like the batch op
    val refs = batchDf
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
      .groupBy("event_type")
      .agg(sum(col("v").cast("decimal(28,6)")).as("sx"),
        sum((col("v") * col("v")).cast("decimal(28,6)")).as("sxx"),
        count(lit(1)).as("n"))
      .collect().map { r =>
        val n = r.getLong(3).toDouble
        val mu = r.getDecimal(1).doubleValue() / n
        val varx = r.getDecimal(2).doubleValue() / n - mu * mu
        r.getString(0) -> ((mu, math.sqrt(math.max(varx, 0.0))))
      }.toMap
    val stream = StreamingJobs.fileStream(spark, eventsDir, batchDf.schema,
      maxFilesPerTrigger = 1)
    val snaps = StreamingJobs.statefulCusum(spark, stream, "event_type", "ts",
      "value", refs)
    val q = snaps.writeStream.outputMode("update")
      .format("memory").queryName("stateful_cusum").start()
    try q.processAllAvailable() finally q.stop()
    val emitted = spark.table("stateful_cusum")
    assert(emitted.count() > 0)
    // files replay in event-time order, so per (series, day) the emission
    // carrying the day's COMPLETE total (max x) is the final statistic
    val lastPerDay = emitted.groupBy("series", "day")
      .agg(max_by(struct(col("x"), col("sPlus"), col("sMinus")), col("x")).as("f"))
      .select(col("series").as("event_type"), col("day"),
        col("f.sPlus").as("s_plus_s"), col("f.sMinus").as("s_minus_s"))
    // the batch op uses its own in-sample moments — identical to `refs`
    // by construction, so the trajectories must agree bit-for-bit
    val ref = graft.x.EventAnalytics
      .cusumChangepoints(batchDf, "ts", "event_type", "value")
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("s_plus"), col("s_minus"))
    val joined = lastPerDay.join(ref, Seq("event_type", "day"))
    assert(joined.count() == ref.count(), "every batch day must be streamed")
    val diffs = joined.filter(col("s_plus_s") =!= col("s_plus") ||
      col("s_minus_s") =!= col("s_minus"))
    assert(diffs.count() == 0,
      s"stream/batch divergence: ${diffs.take(3).mkString(", ")}")
  }

  test("streaming incremental near-dedup: equals the sequential batch path, " +
    "replay after the store commit is a no-op") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sneardup").toString
    val in = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    // batch 0: 1 and 2 are near-dups (2 should drop as the larger sibling id)
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely different words live over here now"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    // batch 1: 4 near-dups retained doc 1 (store hit), 5 is fresh
    Thread.sleep(1100) // distinct mtimes -> deterministic file order
    Seq((4L, "alpha beta gamma delta epsilon zeta eta kappa"),
      (5L, "yet another unrelated document body of words"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val store = s"$base/store"; val admitted = s"$base/admitted"
    val stream = StreamingJobs.fileStream(spark, in, schema, maxFilesPerTrigger = 1)
    val q = StreamingJobs.startIncrementalNearDup(stream, "text", "doc_id",
      store, admitted, s"$base/ckpt", n = 3, k = 16, bands = 4)
    q.awaitTermination()
    val sid = graft.sinks.SinkWriter.streamIdentity(s"$base/ckpt")
    val got = spark.read.parquet(s"$admitted/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // sequential batch-mode reference on a fresh store
    val refStore = s"$base/refstore"
    val b0 = spark.read.parquet(in).filter($"doc_id" <= 3)
    val b1 = spark.read.parquet(in).filter($"doc_id" > 3)
    val r0 = graft.x.Dedup.incrementalNearDup(b0, "text", "doc_id", refStore,
      n = 3, k = 16, bands = 4).select("doc_id").collect().map(_.getLong(0))
    val r1 = graft.x.Dedup.incrementalNearDup(b1, "text", "doc_id", refStore,
      n = 3, k = 16, bands = 4).select("doc_id").collect().map(_.getLong(0))
    assert(got.sameElements((r0 ++ r1).sorted),
      s"stream ${got.mkString(",")} vs batch ${(r0 ++ r1).sorted.mkString(",")}")
    assert(got.contains(1L) && !got.contains(2L) && !got.contains(4L),
      s"near-dup semantics broke: ${got.mkString(",")}")
    // at-least-once replay of the LAST batch after its store commit
    // (crash window (b) in the scaladoc): the tagged commit is recognized,
    // nothing recomputes, the committed output survives un-clobbered
    val versionsBefore = graft.sources.VersionedParquet.versions(store)
    val admittedBefore = spark.read.parquet(s"$admitted/batch=*")
      .collect().map(_.toString).sorted
    StreamingJobs.incrementalNearDupBatch(b1, streamBatch = 1L -> sid, "text", "doc_id",
      store, admitted, n = 3, k = 16, bands = 4)
    assert(graft.sources.VersionedParquet.versions(store) == versionsBefore,
      "replay appended a duplicate store version")
    val admittedAfter = spark.read.parquet(s"$admitted/batch=*")
      .collect().map(_.toString).sorted
    assert(admittedAfter.sameElements(admittedBefore),
      "replay clobbered the committed admitted output")
    // an EARLIER batch (bid strictly below the newest watermark) must also
    // be a no-op: detection reads ONE manifest (the newest tagged
    // version's watermark), not a scan of every version for a matching tag
    StreamingJobs.incrementalNearDupBatch(b0, streamBatch = 0L -> sid, "text", "doc_id",
      store, admitted, n = 3, k = 16, bands = 4)
    assert(graft.sources.VersionedParquet.versions(store) == versionsBefore,
      "below-watermark replay appended a store version")
    assert(spark.read.parquet(s"$admitted/batch=*")
      .collect().map(_.toString).sorted.sameElements(admittedBefore),
      "below-watermark replay clobbered committed output")
  }

  test("streaming SCD2 into a versioned dimension: replay of a committed " +
      "micro-batch is a no-op (no version churn, no duplicated history); " +
      "a crash-redo of an UNcommitted batch converges to one commit") {
    import spark.implicits._
    import graft.sinks.SinkWriter
    import graft.sources.VersionedParquet
    val base = Files.createTempDirectory("graft-sscd2v").toString
    val in = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    Seq((1L, "a1"), (2L, "b1"), (3L, "c1"))
      .toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // distinct mtimes -> deterministic batch order
    Seq((2L, "b2"), (4L, "d1"))
      .toDF("id", "v").coalesce(1).write.mode("append").parquet(in)
    val dim = s"$base/dim"
    val sink = graft.config.SinkSpec("dim", loadType = "scdType2Insert",
      format = "parquet", path = Some(dim), scdKeys = Seq("id"),
      scdTrackedCols = Seq("v"), options = Map("scdBuckets" -> "4"))
    val schema = spark.read.parquet(in).schema
    val stream = StreamingJobs.fileStream(spark, in, schema, maxFilesPerTrigger = 1)
    StreamingJobs.startForeachBatch(stream, sink, s"$base/ckpt").awaitTermination()
    // the replay watermark is scoped to the stream's identity — the same
    // checkpoint string gives manual redo calls the same identity
    val sid = SinkWriter.streamIdentity(s"$base/ckpt")

    // two micro-batches → init + one merge, hwm = 1 in the newest manifest
    val versions = VersionedParquet.versions(dim)
    assert(versions.size == 2, s"expected init + merge, got $versions")
    assert(VersionedParquet.commitMeta(dim, versions.max)
      .get(s"scd2BatchHwm.$sid").contains("1"))
    val contentBefore = VersionedParquet.read(spark, dim)
      .select("id", "v", "is_current").collect().map(_.toString).sorted
    assert(contentBefore.length == 5) // 4 current + 1 closed (id=2)

    // at-least-once replay of BOTH committed batches (the foreachBatch
    // crash-redo channel): detected from one manifest-meta read, skipped
    // whole — version log untouched, content untouched
    val b1 = Seq((2L, "b2"), (4L, "d1")).toDF("id", "v")
    SinkWriter.write(spark, b1, sink, Some(1L -> sid))
    SinkWriter.write(spark,
      Seq((1L, "a1"), (2L, "b1"), (3L, "c1")).toDF("id", "v"), sink, Some(0L -> sid))
    assert(VersionedParquet.versions(dim) == versions,
      "replay of a committed micro-batch churned the version log")
    assert(VersionedParquet.read(spark, dim)
      .select("id", "v", "is_current").collect().map(_.toString).sorted
      .sameElements(contentBefore), "replay changed the dimension content")

    // crash window: batch 2 dies AFTER its data stage, BEFORE its manifest
    // publish → nothing committed; the redo (same bid, the at-least-once
    // contract) lands exactly one new version
    val b2 = Seq((3L, "c2")).toDF("id", "v")
    intercept[RuntimeException] {
      SinkWriter.scd2InsertPartitioned(spark, b2, sink, nBuckets = 4,
        midCommitHook = () => throw new RuntimeException("injected crash"),
        streamBatch = Some(2L -> sid))
    }
    assert(VersionedParquet.versions(dim) == versions,
      "crashed batch must publish nothing")
    SinkWriter.write(spark, b2, sink, Some(2L -> sid))
    val after = VersionedParquet.versions(dim)
    assert(after.size == versions.size + 1, s"redo must commit once, got $after")
    assert(VersionedParquet.commitMeta(dim, after.max)
      .get(s"scd2BatchHwm.$sid").contains("2"))
    val healed = VersionedParquet.read(spark, dim)
    assert(healed.filter(col("is_current")).count() == 4)
    assert(healed.filter(col("id") === 3L).count() == 2) // c1 closed + c2
    // and a SECOND redo of the now-committed batch is a no-op
    SinkWriter.write(spark, b2, sink, Some(2L -> sid))
    assert(VersionedParquet.versions(dim) == after,
      "post-commit redo churned the version log")
  }

  test("streaming SCD2: a restart with a FRESH checkpoint (batch ids reset " +
      "to 0) merges all new data — the replay watermark is identity-scoped, " +
      "never a silent skip of batches 0..k") {
    import spark.implicits._
    import graft.sinks.SinkWriter
    import graft.sources.VersionedParquet
    val base = Files.createTempDirectory("graft-sscd2fresh").toString
    val in = s"$base/in"
    Files.createDirectories(java.nio.file.Paths.get(in))
    Seq((1L, "a1"), (2L, "b1")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100)
    Seq((1L, "a2"), (3L, "c1")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in)
    val dim = s"$base/dim"
    val sink = graft.config.SinkSpec("dim", loadType = "scdType2Insert",
      format = "parquet", path = Some(dim), scdKeys = Seq("id"),
      scdTrackedCols = Seq("v"), options = Map("scdBuckets" -> "4"))
    val schema = spark.read.parquet(in).schema
    // run 1 on checkpoint A: two micro-batches commit, hwm.idA = 1
    StreamingJobs.startForeachBatch(
      StreamingJobs.fileStream(spark, in, schema, maxFilesPerTrigger = 1),
      sink, s"$base/ckptA").awaitTermination()
    val afterRun1 = VersionedParquet.versions(dim)
    assert(afterRun1.size == 2)

    // checkpoint A is lost (corruption/retention — the routine ops move);
    // NEW source data arrives and the stream restarts on checkpoint B:
    // its batch ids restart at 0 and 1, BELOW run 1's watermark. Both
    // carry data run 1 never saw — they must merge, not be skipped.
    val src2 = s"$base/in2" // fresh source dir: only the new file
    Files.createDirectories(java.nio.file.Paths.get(src2))
    Seq((2L, "b2"), (4L, "d1")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src2)
    StreamingJobs.startForeachBatch(
      StreamingJobs.fileStream(spark, src2, schema, maxFilesPerTrigger = 1),
      sink, s"$base/ckptB").awaitTermination()

    val healed = VersionedParquet.read(spark, dim)
    // id=2 history: b1 closed + b2 current; id=4 fresh insert — the data
    // the UNqualified watermark silently dropped (VERDICT r14 #2)
    assert(healed.filter($"id" === 2L && $"is_current" && $"v" === "b2").count() == 1,
      "fresh-checkpoint batch 0 was skipped — new data lost")
    assert(healed.filter($"id" === 2L && !$"is_current" && $"v" === "b1").count() == 1)
    assert(healed.filter($"id" === 4L && $"is_current" && $"v" === "d1").count() == 1)
    assert(healed.filter($"is_current").count() == 4) // ids 1..4
    // run 2 committed under ITS OWN identity; run 1's watermark survives
    val newest = VersionedParquet.commitMeta(dim, VersionedParquet.versions(dim).max)
    val sidA = SinkWriter.streamIdentity(s"$base/ckptA")
    val sidB = SinkWriter.streamIdentity(s"$base/ckptB")
    assert(newest.get(s"scd2BatchHwm.$sidA").contains("1"),
      "run 1's watermark was not re-carried")
    assert(newest.contains(s"scd2BatchHwm.$sidB"))
    // and a replay WITHIN checkpoint B's identity is still skipped whole
    val before = VersionedParquet.versions(dim)
    SinkWriter.write(spark,
      Seq((2L, "b2"), (4L, "d1")).toDF("id", "v"), sink, Some(0L -> sidB))
    assert(VersionedParquet.versions(dim) == before,
      "same-identity replay churned the version log")
  }

  test("near-dedup replay detection survives an untagged newest commit " +
    "(pre-upgrade maintenance rewrite)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-legacyhwm").toString
    val store = s"$base/store"; val admitted = s"$base/admitted"
    val sid = graft.sinks.SinkWriter.streamIdentity(s"$base/ckpt")
    val b0 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different words live over here now")).toDF("doc_id", "text")
    StreamingJobs.incrementalNearDupBatch(b0, streamBatch = 0L -> sid, "text", "doc_id",
      store, admitted, n = 3, k = 16, bands = 4)
    val admittedBefore = spark.read.parquet(s"$admitted/batch=${sid}_0")
      .collect().map(_.toString).sorted
    assert(admittedBefore.nonEmpty)
    // a maintenance rewrite from BEFORE meta was carried forward: the
    // newest version carries no replay watermark at all
    graft.sources.VersionedParquet.write(
      graft.sources.VersionedParquet.read(spark, store), store, "overwrite")
    assert(graft.sources.VersionedParquet.commitMeta(store,
      graft.sources.VersionedParquet.versions(store).max).isEmpty)
    // replaying the committed batch must still be detected (backward scan
    // to the newest TAGGED manifest) — an undetected replay recomputes an
    // EMPTY admitted set against the populated store and clobbers the
    // committed batch output
    val versionsBefore = graft.sources.VersionedParquet.versions(store)
    StreamingJobs.incrementalNearDupBatch(b0, streamBatch = 0L -> sid, "text", "doc_id",
      store, admitted, n = 3, k = 16, bands = 4)
    assert(graft.sources.VersionedParquet.versions(store) == versionsBefore,
      "replay after an untagged commit appended a store version")
    assert(spark.read.parquet(s"$admitted/batch=${sid}_0")
      .collect().map(_.toString).sorted.sameElements(admittedBefore),
      "replay after an untagged commit clobbered committed output")
  }

  test("streaming near-dedup: a restart on a FRESH checkpoint (batch ids " +
      "reset to 0) admits its new documents; run 1's output stays as it was") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sneardupfresh").toString
    val in = s"$base/in"
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different words live over here now"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // distinct mtimes -> deterministic batch order
    Seq((3L, "yet another unrelated document body of words"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val store = s"$base/store"; val admitted = s"$base/admitted"
    def run(src: String, ckpt: String): Unit =
      StreamingJobs.startIncrementalNearDup(
        StreamingJobs.fileStream(spark, src, schema, maxFilesPerTrigger = 1),
        "text", "doc_id", store, admitted, ckpt, n = 3, k = 16, bands = 4)
        .awaitTermination()
    // run 1 on checkpoint A: batches 0 and 1 admit docs 1, 2 and 3
    run(in, s"$base/ckptA")
    val sidA = graft.sinks.SinkWriter.streamIdentity(s"$base/ckptA")
    def run1Files() = graft.util.Fs.walk(java.nio.file.Paths.get(admitted))
      .filter(p => p.toString.contains(s"batch=${sidA}_") && Files.isRegularFile(p))
      .map(p => p.toString -> java.util.Arrays.hashCode(Files.readAllBytes(p))).sorted
    val run1 = run1Files()
    assert(run1.nonEmpty)

    // checkpoint A is lost; NEW documents arrive and the stream restarts
    // on checkpoint B, whose batch 0 sits BELOW run 1's batch ids
    val in2 = s"$base/in2"
    Seq((4L, "fresh words that no earlier document ever used"),
      (5L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in2)
    run(in2, s"$base/ckptB")
    val got = spark.read.parquet(s"$admitted/batch=*")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // doc 4 is new and admitted; doc 5 near-duplicates retained doc 1
    assert(got.sameElements(Seq(1L, 2L, 3L, 4L)),
      s"fresh-checkpoint batch skipped or mis-admitted: ${got.mkString(",")}")
    assert(run1Files() == run1, "run 2 rewrote run 1's admitted output")

    // a replay WITHIN checkpoint B's identity is still skipped whole
    val sidB = graft.sinks.SinkWriter.streamIdentity(s"$base/ckptB")
    val before = graft.sources.VersionedParquet.versions(store)
    val admittedB = spark.read.parquet(s"$admitted/batch=${sidB}_0")
      .collect().map(_.toString).sorted
    StreamingJobs.incrementalNearDupBatch(spark.read.parquet(in2),
      streamBatch = 0L -> sidB, "text", "doc_id", store, admitted,
      n = 3, k = 16, bands = 4)
    assert(graft.sources.VersionedParquet.versions(store) == before,
      "same-identity replay appended a store version")
    assert(spark.read.parquet(s"$admitted/batch=${sidB}_0")
      .collect().map(_.toString).sorted.sameElements(admittedB),
      "same-identity replay clobbered committed output")
  }

  test("streaming near-dedup refuses a store tagged by another replay protocol") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-neardupold").toString
    val store = s"$base/store"; val admitted = s"$base/admitted"
    // a store written by the old protocol: its newest tagged commit holds
    // only the unqualified batch tags, with no stream identity
    graft.sources.VersionedParquet.write(Seq((0, 1L)).toDF("band", "bh"),
      store, "append", Map("streamBatchId" -> "3", "streamBatchHwm" -> "3"))
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.incrementalNearDupBatch(
        Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
        streamBatch = 0L -> "abc", "text", "doc_id", store, admitted,
        n = 3, k = 16, bands = 4)
    }
    assert(e.getMessage.contains(store), e.getMessage)
    assert(graft.sources.VersionedParquet.versions(store) == Seq(0L))
    assert(!Files.exists(java.nio.file.Paths.get(admitted)))
  }

  test("streaming IVF ingest: probe equals full rebuild, compaction rides " +
    "the cadence, replay and crash-redo converge") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("centroid_id"), $"embedding")
    val queries = emb.filter($"vec_id" >= 90 && $"vec_id" < 93)
      .select($"vec_id".as("q_id"), $"embedding")
    val base = Files.createTempDirectory("graft-sivf").toString
    val layout = s"$base/by_cell"
    graft.x.Similarity.writeIvfLayout(emb.filter($"vec_id" < 50), centroids,
      "vec_id", "centroid_id", "embedding", layout)
    // stream vec_id 50..90 as four single-file micro-batches; every 2nd
    // batch triggers the in-stream compaction pass
    val in = s"$base/in"
    (50 until 90 by 10).foreach { lo =>
      emb.filter($"vec_id" >= lo && $"vec_id" < lo + 10)
        .coalesce(1).write.mode("append").parquet(in)
    }
    val stream = StreamingJobs.fileStream(spark, in,
      spark.read.parquet(in).schema, maxFilesPerTrigger = 1)
    val q = StreamingJobs.startIvfIngest(stream, centroids, "vec_id",
      "centroid_id", "embedding", layout, s"$base/ckpt",
      targetBytes = 64L * 1024 * 1024, compactEvery = 2)
    q.awaitTermination()
    def dataFiles() = new java.io.File(layout).listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
    // the cadence fired: batch-sized ingest files were folded into
    // compact-* bins somewhere in the layout
    assert(dataFiles().exists(_.getName.startsWith("compact-")),
      "in-stream compaction never ran")
    // the streamed store probes exactly like a full rebuild over the union
    def probeLayout() = graft.x.Similarity.ivfTopKFromLayout(spark, layout,
      queries, centroids, "vec_id", "q_id", "centroid_id", "embedding",
      k = 5, nprobe = 2)
    val inline90 = graft.x.Similarity.ivfTopK(emb.filter($"vec_id" < 90),
      queries, centroids, "vec_id", "q_id", "centroid_id", "embedding",
      k = 5, nprobe = 2)
    val streamed = probeLayout()
    assert(streamed.exceptAll(inline90).isEmpty &&
      inline90.exceptAll(streamed).isEmpty,
      "streamed layout diverged from the full rebuild")
    // crash-redo: a partial earlier attempt of the NEXT batch left a stray
    // deterministic-named file (content from a different split); the redo
    // must erase it, publish the real rows, and land on the exact answer
    val cellDir = new java.io.File(layout).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).head
    val donor = cellDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val stray = new java.io.File(cellDir, "ingest-4-999.parquet")
    java.nio.file.Files.copy(donor.toPath, stray.toPath)
    StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" >= 90), bid = 4L,
      centroids, "vec_id", "centroid_id", "embedding", layout,
      targetBytes = 64L * 1024 * 1024, compactEvery = 2)
    assert(!stray.exists(), "crash-redo left the stray partial file")
    val full = graft.x.Similarity.ivfTopK(emb, queries, centroids,
      "vec_id", "q_id", "centroid_id", "embedding", k = 5, nprobe = 2)
    val redone = probeLayout()
    assert(redone.exceptAll(full).isEmpty && full.exceptAll(redone).isEmpty,
      "crash-redo layout diverged (stray rows or missing rows)")
    // at-least-once replay AT the watermark: skipped whole — not one file
    // touched (same paths, same mtimes)
    def listing() = dataFiles().map(f => f.getPath -> f.lastModified()).toMap
    val before = listing()
    StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" >= 90), bid = 4L,
      centroids, "vec_id", "centroid_id", "embedding", layout,
      targetBytes = 64L * 1024 * 1024, compactEvery = 2)
    assert(listing() == before, "at-watermark replay touched the layout")
    // and BELOW the watermark (an older batch replayed after a restart)
    StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" >= 50 && $"vec_id" < 60),
      bid = 0L, centroids, "vec_id", "centroid_id", "embedding", layout,
      targetBytes = 64L * 1024 * 1024, compactEvery = 2)
    assert(listing() == before, "below-watermark replay touched the layout")
    // an EMPTY micro-batch (routine under AvailableNow / quiet sources):
    // publishes nothing but still advances the watermark, so its own
    // replay is skipped whole like any committed batch
    StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" < -1), bid = 5L,
      centroids, "vec_id", "centroid_id", "embedding", layout,
      targetBytes = 64L * 1024 * 1024, compactEvery = 0)
    assert(listing() == before, "empty batch published files")
    val hwm = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$layout/_ingest_hwm")).trim
    assert(hwm == "5", s"empty batch did not advance the watermark: $hwm")
  }

  test("IVF rebuild: equals a from-scratch build on the new centroids, " +
    "carries the ingest watermark through the swap") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cent0 = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("centroid_id"), $"embedding")
    // refreshed geometry: a different centroid set (how it was computed —
    // Lloyd, sampling — is irrelevant to the rebuild's contract)
    val cent1 = emb.filter($"vec_id" >= 20 && $"vec_id" < 30)
      .select(($"vec_id" - 20).as("centroid_id"), $"embedding")
    val queries = emb.filter($"vec_id" >= 90 && $"vec_id" < 93)
      .select($"vec_id".as("q_id"), $"embedding")
    val base = Files.createTempDirectory("graft-ivfrebuild").toString
    val layout = s"$base/by_cell"
    graft.x.Similarity.writeIvfLayout(emb.filter($"vec_id" < 70), cent0,
      "vec_id", "centroid_id", "embedding", layout)
    // live store grows via the exactly-once ingest (hwm -> 0)
    StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" >= 70), bid = 0L,
      cent0, "vec_id", "centroid_id", "embedding", layout, compactEvery = 0)
    val (rows, cells) = graft.x.Similarity.rebuildIvfLayout(spark, layout,
      cent1, "vec_id", "centroid_id", "embedding")
    assert(rows == emb.count(), s"rebuild lost rows: $rows")
    assert(cells > 1)
    assert(!new java.io.File(s"$layout.rebuilt").exists() &&
      !new java.io.File(s"$layout.replaced").exists(), "swap left residue")
    // the defining contract: rebuilt store == writeIvfLayout from scratch
    // on (full corpus, new centroids), probe-for-probe
    val fresh = s"$base/fresh"
    graft.x.Similarity.writeIvfLayout(emb, cent1,
      "vec_id", "centroid_id", "embedding", fresh)
    def probe(path: String) = graft.x.Similarity.ivfTopKFromLayout(spark,
      path, queries, cent1, "vec_id", "q_id", "centroid_id", "embedding",
      k = 5, nprobe = 2)
    val a = probe(layout); val b = probe(fresh)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "rebuilt store diverged from a from-scratch build")
    // the watermark survived the swap: replaying the pre-rebuild batch
    // must NOT re-append its rows as duplicates into the fresh geometry
    val rowsBefore = spark.read.parquet(layout).count()
    StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" >= 70), bid = 0L,
      cent1, "vec_id", "centroid_id", "embedding", layout, compactEvery = 0)
    assert(spark.read.parquet(layout).count() == rowsBefore,
      "post-rebuild replay duplicated an already-ingested batch")
    // the rebuilt store is self-describing: the refreshed geometry rode
    // the swap as the hidden _centroids dir
    val persisted = graft.x.Similarity.readCentroids(spark, layout)
    assert(persisted.exists(_.count() == cent1.count()),
      "rebuild did not persist the refreshed centroids into the store")
  }

  test("IVF rebuild vs concurrent ingest: a batch starting mid-rebuild is " +
    "refused; one that slips past aborts the rebuild loudly, zero rows lost") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cent0 = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("centroid_id"), $"embedding")
    val cent1 = emb.filter($"vec_id" >= 20 && $"vec_id" < 30)
      .select(($"vec_id" - 20).as("centroid_id"), $"embedding")
    val base = Files.createTempDirectory("graft-ivfrace").toString
    val layout = s"$base/by_cell"
    graft.x.Similarity.writeIvfLayout(emb.filter($"vec_id" < 60), cent0,
      "vec_id", "centroid_id", "embedding", layout)
    StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" >= 60 && $"vec_id" < 70),
      bid = 0L, cent0, "vec_id", "centroid_id", "embedding", layout,
      compactEvery = 0)
    val marker = new java.io.File(s"$layout.rebuilt")
    var refusalSeen = false
    val hook: () => Unit = () => {
      assert(marker.exists(), "hook fired before the rebuild staged")
      // guard 2: a batch that STARTS while the rebuild is staged refuses
      // to publish (its micro-batch fails and will replay post-swap)
      refusalSeen = intercept[IllegalArgumentException] {
        StreamingJobs.ivfIngestBatch(
          emb.filter($"vec_id" >= 70 && $"vec_id" < 80), bid = 1L,
          cent0, "vec_id", "centroid_id", "embedding", layout,
          compactEvery = 0)
      }.getMessage.contains("refusing to publish")
      // but a COMMITTED batch's replay must skip SILENTLY even
      // mid-rebuild: the marker sits after the replay-skip, or a rebuild
      // that crashed post-staging would wedge the maintenance stream's
      // replayed cadence forever (it must reach the rebuild leg to
      // converge) — no exception here IS the assertion
      StreamingJobs.ivfIngestBatch(
        emb.filter($"vec_id" >= 60 && $"vec_id" < 70), bid = 0L,
        cent0, "vec_id", "centroid_id", "embedding", layout,
        compactEvery = 0)
      // guard 1's race: a batch whose publish began BEFORE the rebuild
      // staged never saw the marker — simulate that interleaving by
      // moving the staged dir aside for the publish and restoring it
      val aside = new java.io.File(s"$base/staged-aside")
      assert(marker.renameTo(aside), "could not move the staged dir aside")
      StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" >= 70), bid = 1L,
        cent0, "vec_id", "centroid_id", "embedding", layout,
        compactEvery = 0)
      assert(aside.renameTo(marker), "could not restore the staged dir")
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      graft.x.Similarity.rebuildIvfLayout(spark, layout, cent1,
        "vec_id", "centroid_id", "embedding", midRebuildHook = hook)
    }
    assert(ex.getMessage.contains("_ingest_hwm advanced"))
    assert(refusalSeen, "mid-rebuild ivfIngestBatch did not refuse")
    // abort cleanup: the staged dir is gone (a surviving one would block
    // every future ingest publish), and the LIVE store is fully intact —
    // original corpus, pre-rebuild batch, AND the mid-rebuild batch
    assert(!marker.exists(), "aborted rebuild left the staged dir behind")
    assert(spark.read.parquet(layout).count() == emb.count(),
      "the raced batch's rows were lost")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$layout/_ingest_hwm")).trim == "1",
      "the raced batch's watermark advance was lost")
    // documented recovery: quiesce (no concurrent writer) + re-run — the
    // rebuild converges and INCLUDES the raced batch's rows
    val (rows, _) = graft.x.Similarity.rebuildIvfLayout(spark, layout, cent1,
      "vec_id", "centroid_id", "embedding")
    assert(rows == emb.count(), s"retried rebuild lost rows: $rows")
    // and the carried watermark still suppresses the raced batch's replay
    val before = spark.read.parquet(layout).count()
    StreamingJobs.ivfIngestBatch(emb.filter($"vec_id" >= 70), bid = 1L,
      cent1, "vec_id", "centroid_id", "embedding", layout, compactEvery = 0)
    assert(spark.read.parquet(layout).count() == before,
      "post-retry replay duplicated the raced batch")
  }

  test("drift-triggered IVF maintenance: the policy rebuilds on drifted " +
    "geometry, equals the manual twin byte-for-byte, and drift resets") {
    import spark.implicits._
    // a DRIFTING stream with engineered geometry: the seed quantizer
    // knows two clusters A≈(10,0) and B≈(0,10); later batches introduce
    // cluster C≈(5,5) — ON the A/B cell boundary, so the stale geometry
    // SPLITS C between both cells by jitter sign. A C query probing
    // nprobe=1 cell then finds only the same-sign half of its true
    // neighbors (recall ~0.5), while a re-quantized geometry gives C its
    // own cell (recall ~1) — the drift the monitor exists to price.
    // array<float> vectors — the repo-wide embedding contract
    // (FIXTURES.md; DotProductFloat reads float lanes)
    def jit(i: Int, m: Int) = 0.01f * (i % m)
    def aPt(i: Int) =
      (i.toLong, Array(10.0f + jit(i, 10), jit(i, 7), 0.0f, 0.0f))
    def bPt(i: Int) =
      (i.toLong, Array(jit(i, 7), 10.0f + jit(i, 10), 0.0f, 0.0f))
    // C's cell under the STALE geometry is decided only by the sign of d
    // (the w component is equidistant from both A and B, so it cancels);
    // its cosine NEIGHBORS are decided only by w. Sign and w are
    // decorrelated, so each query's true top-5 mixes both cells.
    def cPt(i: Int) = {
      val s = if (i % 4 < 2) 1 else -1
      val d = s * (0.1f + 0.01f * (i % 4))
      val w = 2.0f + 0.1f * (i % 10)
      (i.toLong, Array(5.0f + d, 5.0f - d, w, 0.0f))
    }
    def mk(rows: Seq[(Long, Array[Float])]) = rows.toDF("vec_id", "embedding")
    val seed = Seq((0L, Array(10.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 10.0f, 0.0f, 0.0f))).toDF("centroid_id", "embedding")
    // held-out C points judge the drift (never ingested)
    val queries = mk((140 until 145).map(cPt))
      .select($"vec_id".as("q_id"), $"embedding")
    val batches = Seq(
      mk((0 until 30).map(aPt) ++ (30 until 60).map(bPt)),
      mk((100 until 120).map(cPt)),
      mk((120 until 140).map(cPt)),
      mk((60 until 70).map(aPt)))
    val base = Files.createTempDirectory("graft-ivfpolicy").toString
    val layoutP = s"$base/policy"; val layoutM = s"$base/manual"
    // the rebuild geometry: a true RE-QUANTIZATION (deterministic
    // farthest-first re-seed over today's corpus + one exact Lloyd
    // refine) — the `refresh` a production rebuild would use when the
    // corpus has drifted past what moving the old centroids can fix
    val requantize: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (corpus, _) => {
        val codes = corpus.select($"vec_id",
          graft.x.Similarity.int8Codes($"embedding").as("c"))
        val seeds = graft.x.Similarity
          .farthestFirstSeeds(codes, "vec_id", "c", k = 3)
          .select($"seed_rank".cast("long").as("centroid_id"), $"vec_id")
        val seeded = seeds.join(corpus, "vec_id")
          .select($"centroid_id",
            transform($"embedding", v => v.cast("double")).as("embedding"))
        graft.x.Similarity.refreshedCentroids(corpus, seeded,
          "vec_id", "centroid_id", "embedding")
      }
    // --- the policy store: one call per micro-batch, cadence every 2 ---
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val trace = batches.zipWithIndex.map { case (b, bid) =>
      StreamingJobs.ivfMaintainBatch(b, bid.toLong, seed,
        "vec_id", "centroid_id", "embedding", layoutP, queries, "q_id",
        k = 5, nprobe = 1, driftEvery = 2, driftThreshold = 0.02,
        refresh = requantize, compactEvery = 0)
    }
    // cadences leave no persisted blocks behind: a long-running stream
    // must not grow the block manager one localCheckpoint per cadence
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).isEmpty,
      "ivfMaintainBatch leaked localCheckpoint blocks")
    assert(trace(0).isEmpty && trace(2).isEmpty, "cadence fired off-schedule")
    val (drift1, rebuilt1) = trace(1).get
    val (drift3, rebuilt3) = trace(3).get
    assert(rebuilt1, f"drifted geometry did not trigger a rebuild (drift $drift1%.3f)")
    // the trace the ops story claims: the rebuild RESET the drift — the
    // post-rebuild cadence measures a (much) smaller gap
    assert(drift3 < drift1,
      f"drift did not reset after the rebuild: $drift1%.3f -> $drift3%.3f")
    // --- the manual twin: same batches through the r11 primitives, the
    // rebuild applied by hand at the same point with the same refresh ---
    var current = seed
    batches.zipWithIndex.foreach { case (b, bid) =>
      StreamingJobs.ivfIngestBatch(b, bid.toLong, current,
        "vec_id", "centroid_id", "embedding", layoutM, compactEvery = 0)
      if (bid % 2 == 1) {
        val corpus = spark.read.parquet(layoutM).drop("cell")
        val fresh = graft.util.Staging.LocalCheckpoint.stage(
          requantize(corpus, current), "manual-fresh")
        val policyRebuilt = if (bid == 1) rebuilt1 else rebuilt3
        if (policyRebuilt) {
          graft.x.Similarity.rebuildIvfLayout(spark, layoutM, fresh,
            "vec_id", "centroid_id", "embedding")
          current = fresh
        }
      }
    }
    // equality gate: the post-policy store probes BYTE-IDENTICALLY to the
    // manual composition at the same point (deterministic geometry, exact
    // integer Lloyd means, per-row deterministic assignment)
    val centP = graft.x.Similarity.readCentroids(spark, layoutP).get
    def probe(path: String) = graft.x.Similarity.ivfTopKFromLayout(spark,
      path, queries, centP, "vec_id", "q_id", "centroid_id", "embedding",
      k = 5, nprobe = 1)
    val a = probe(layoutP); val b = probe(layoutM)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "policy store diverged from the manual ingest+rebuild composition")
    // and the stores' own geometry agrees with the twin's tracked frame
    assert(centP.exceptAll(current).isEmpty && current.exceptAll(centP).isEmpty,
      "persisted centroids diverged from the manual twin's")
    // an all-empty store at the cadence answers drift 0 instead of
    // crashing schema inference on a dir holding only hidden files
    val emptyStore = s"$base/empty"
    val r = StreamingJobs.ivfMaintainBatch(
      mk(Seq.empty[(Long, Array[Float])]), 1L, seed,
      "vec_id", "centroid_id", "embedding", emptyStore, queries, "q_id",
      k = 5, nprobe = 1, driftEvery = 2, driftThreshold = 0.02,
      refresh = requantize, compactEvery = 0)
    assert(r.contains((0.0, false)), s"empty-store cadence returned $r")
  }

  test("sql file path works as a transformation step (spark.json:57)") {
    val tmp = Files.createTempDirectory("graft-sqlfile").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$tmp/step.sql"),
      "SELECT r_regionkey, UPPER(r_name) AS region FROM regions_in")
    val out = new Orchestrator(spark).run(JobConfig.parse(
      s"""{
         |"jobName": "sqlfile",
         |"inputs": [{"dataFrameName": "regions_in", "format": "parquet", "path": "$sf/region.parquet"}],
         |"transformations": [{"functionName": "t", "sqlQuery": "$tmp/step.sql", "outputDFName": "o"}]
         |}""".stripMargin))
    assert(out.columns.toSeq == Seq("r_regionkey", "region"))
    assert(out.count() == 5)
  }
}
