package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.config.SinkSpec
import graft.sinks.SinkWriter
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-sink").toString

  test("singleFile writes exactly one renamed file with prefix and extension") {
    val out = tmpDir() + "/single"
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    SinkWriter.write(spark, df,
      SinkSpec("t", format = "csv", path = Some(out), singleFile = true,
        outputFileNamePrefix = Some("report"), options = Map("header" -> "true")))
    val files = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toList
    assert(files.size == 1, s"expected exactly one file, got $files")
    assert(files.head.startsWith("report_") && files.head.endsWith(".csv"))
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 2)
  }

  test("fan-out writes one frame to multiple sinks (array-of-sinks contract)") {
    val base = tmpDir()
    val cfg = graft.config.JobConfig.parse(
      s"""{"jobName": "fan_out",
         |"inputs": [{"dataFrameName": "t", "format": "sql",
         |  "sql": "SELECT * FROM VALUES (1, 'x'), (2, 'y'), (3, 'z') AS t(id, v)"}],
         |"sinks": [
         |  {"dataFrameName": "t", "format": "parquet", "path": "$base/p", "savemode": "overwrite"},
         |  {"dataFrameName": "t", "format": "json", "path": "$base/j", "savemode": "overwrite"},
         |  {"dataFrameName": "t", "format": "orc", "path": "$base/o", "savemode": "overwrite"}
         |]}""".stripMargin)
    new graft.run.Orchestrator(spark).run(cfg)
    assert(spark.read.parquet(s"$base/p").count() == 3)
    assert(spark.read.json(s"$base/j").count() == 3)
    assert(spark.read.orc(s"$base/o").count() == 3)
  }

  test("truncateInsert replaces prior contents") {
    val out = tmpDir() + "/tr"
    val s1 = SinkSpec("t", loadType = "truncateInsert", format = "parquet", path = Some(out))
    SinkWriter.write(spark, Seq((1, "old")).toDF("id", "v"), s1)
    SinkWriter.write(spark, Seq((2, "new"), (3, "new")).toDF("id", "v"), s1)
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(back.filter($"v" === "old").count() == 0)
  }

  test("scd2Insert bootstraps then versions through the sink path") {
    val out = tmpDir() + "/dim"
    val sink = SinkSpec("t", loadType = "scdType2Insert", format = "parquet",
      path = Some(out), scdKeys = Seq("id"), scdTrackedCols = Seq("v"))
    SinkWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), sink)
    SinkWriter.write(spark, Seq((1L, "a2"), (2L, "b")).toDF("id", "v"), sink)
    val dim = spark.read.parquet(out)
    assert(dim.count() == 3) // closed v=a + current v=a2 + untouched b
    import org.apache.spark.sql.functions.col
    assert(dim.filter(col("is_current")).count() == 2)
    assert(dim.filter(!col("is_current")).select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("partitionBy writes hive-style partition dirs and prunes on read") {
    val out = tmpDir() + "/part"
    val df = Seq((1, "AUTOMOBILE", 10.0), (2, "BUILDING", 20.0), (3, "AUTOMOBILE", 30.0))
      .toDF("id", "segment", "bal")
    SinkWriter.write(spark, df, SinkSpec("t", format = "parquet",
      path = Some(out), savemode = "overwrite", partitionBy = Seq("segment")))
    val listing = Files.list(Paths.get(out))
    val dirs =
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("segment=")).toSet
      finally listing.close()
    assert(dirs == Set("segment=AUTOMOBILE", "segment=BUILDING"))
    val pruned = spark.read.parquet(out).filter($"segment" === "BUILDING")
    assert(pruned.count() == 1)
    // partition filter reaches the scan, not a post-filter over both dirs
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(segment"))
  }

  test("zorderBy sink layout clusters both dimensions per output file") {
    val out = tmpDir() + "/zorder"
    val n = 4096
    val df = (0 until n).map(i => (i.toLong % 64, i.toLong * 2654435761L % 64, i))
      .toDF("xc", "yc", "payload")
    SinkWriter.write(spark, df,
      SinkSpec("t", format = "parquet", path = Some(out), savemode = "overwrite",
        zorderBy = Seq("xc", "yc"), options = Map("zorderPartitions" -> "8")))
    val back = spark.read.parquet(out)
    assert(back.count() == n && back.columns.toSet == Set("xc", "yc", "payload"))
    // per-file bounding boxes must be materially tighter than the 64x64
    // domain (the whole point of the layout: min/max stats prune both dims)
    val files = Files.list(Paths.get(out)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toList
    assert(files.size > 1)
    val boxes = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.max("xc").minus(org.apache.spark.sql.functions.min("xc")).as("dx"),
          org.apache.spark.sql.functions.max("yc").minus(org.apache.spark.sql.functions.min("yc")).as("dy"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    assert(boxes.forall { case (dx, dy) => dx < 64 || dy < 64 },
      s"every file spans the full domain in both dims: $boxes")
    assert(boxes.count { case (dx, dy) => dx <= 32 && dy <= 32 } * 2 >= boxes.size,
      s"at least half the files should sit in a quarter-domain box: $boxes")
  }

  test("errors sink stamps job name and timestamp") {
    val out = tmpDir() + "/err"
    val bad = Seq((1, "dup")).toDF("id", "why")
    SinkWriter.writeErrors(spark, bad, "jobX",
      SinkSpec("errors", format = "parquet", path = Some(out)))
    val back = spark.read.parquet(out)
    assert(back.columns.toSet.contains("error_job") && back.columns.toSet.contains("error_ts"))
    assert(back.select("error_job").as[String].head() == "jobX")
  }

  test("archiveInput moves or copies the consumed input") {
    val src = Files.createTempDirectory("graft-in")
    Files.writeString(src.resolve("data.csv"), "a,b\n1,2\n")
    val arch = tmpDir()
    SinkWriter.archiveInput(src.toString, arch, deleteSource = true)
    assert(!Files.exists(src))
    assert(Files.exists(Paths.get(arch, src.getFileName.toString, "data.csv")))
  }

  test("compaction: FFD bins merge small files, rows preserved, big files untouched") {
    import spark.implicits._
    val dir = tmpDir()
    // 12 tiny single-row files + 1 larger file written separately
    (1 to 12).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    (100L to 400L).map(i => (i, s"bulk$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeRows = before.orderBy("id").collect().toSeq
    val nBefore = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
      .count()
    // target comfortably above tiny-file size so they bin together, but
    // below the bulk file's size so it is left alone
    val bulkBytes = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
      .mapToLong(p => Files.size(p)).max().getAsLong
    val (binsMerged, removed, added) =
      graft.sinks.Compaction.compact(spark, dir, targetBytes = bulkBytes)
    assert(binsMerged >= 1 && removed >= 2 && added == binsMerged)
    val nAfter = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
      .count()
    assert(nAfter == nBefore - removed + added, s"$nBefore -> $nAfter")
    assert(nAfter < nBefore)
    // content identical
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == beforeRows)
    // idempotent: nothing left to merge at this target after one more run
    val (again, _, _) = graft.sinks.Compaction.compact(spark, dir, bulkBytes)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == beforeRows)
  }

  test("unknown savemode fails loudly instead of silently appending") {
    val out = tmpDir() + "/bad"
    val df = Seq((1, "a")).toDF("id", "v")
    val e = intercept[RuntimeException] {
      SinkWriter.write(spark, df,
        SinkSpec("t", format = "parquet", path = Some(out), savemode = "overwrit"))
    }
    assert(e.getMessage.contains("unknown savemode 'overwrit'"))
  }

  test("singleFile GCs abandoned staging dirs but spares in-flight ones") {
    val out = tmpDir() + "/single"
    // abandoned by a run that crashed 2 h ago: must be collected
    val stale = Paths.get(out + "_staging_12345")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-crashed.csv"), "junk")
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    // fresh mtime = a concurrent writer's in-flight dir: must survive
    // (deleting it mid-write corrupts that run's output)
    val live = Paths.get(out + "_staging_67890")
    Files.createDirectories(live)
    Files.writeString(live.resolve("part-inflight.csv"), "live")
    SinkWriter.write(spark, Seq((1, "a")).toDF("id", "v"),
      SinkSpec("t", format = "csv", path = Some(out), singleFile = true))
    assert(!Files.exists(stale), "stale staging dir not GC'd")
    assert(Files.exists(live), "in-flight staging dir of a concurrent writer deleted")
    val siblings = Files.list(Paths.get(out).getParent).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains("_staging_")).toList
    assert(siblings == List(live.getFileName.toString), s"staging dirs left: $siblings")
  }

  test("compaction: crash between publish and retire heals — no permanent duplicates") {
    val dir = tmpDir()
    (1 to 6).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val rows = spark.read.parquet(dir).orderBy("id").collect().toSeq
    val sources = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    // save the source bytes so the crash state can be reconstructed
    val saved = sources.map(s => s -> Files.readAllBytes(Paths.get(s))).toMap
    val target = sources.map(s => Files.size(Paths.get(s))).sum + 4096
    val (merged1, _, _) = graft.sinks.Compaction.compact(spark, dir, target)
    assert(merged1 == 1)
    // reconstruct "crashed after publish, before retire": merged file AND
    // the original sources AND the bin's journal all present (the id comes
    // from the published name — plan() hashes FileSystem URIs, not nio paths)
    saved.foreach { case (p, bytes) => Files.write(Paths.get(p), bytes) }
    val mergedFile = Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("compact-"))
      .getOrElse(fail("no published compact file"))
    val id = mergedFile.getFileName.toString
      .stripPrefix("compact-").stripSuffix(".parquet")
    Files.write(Paths.get(dir, graft.sinks.Compaction.journalName(id)),
      (graft.sinks.Compaction.mergedName(id) +: sources).mkString("\n").getBytes("UTF-8"))
    assert(spark.read.parquet(dir).count() == rows.size * 2L) // the crash window
    // any later run must heal the window, not merge the duplicates forever
    graft.sinks.Compaction.compact(spark, dir, target)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == rows)
    sources.foreach(s => assert(!Files.exists(Paths.get(s)), s"source not retired: $s"))
    assert(!Files.exists(Paths.get(dir, graft.sinks.Compaction.journalName(id))))
  }

  test("compaction: crash before publish rolls back — sources kept, journal dropped") {
    val dir = tmpDir()
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val rows = spark.read.parquet(dir).orderBy("id").collect().toSeq
    val sources = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    val id = graft.sinks.Compaction.binId(sources)
    // journal written, merged file never published (crash mid-stage)
    Files.write(Paths.get(dir, graft.sinks.Compaction.journalName(id)),
      (graft.sinks.Compaction.mergedName(id) +: sources).mkString("\n").getBytes("UTF-8"))
    val target = sources.map(s => Files.size(Paths.get(s))).sum + 4096
    val (merged, _, _) = graft.sinks.Compaction.compact(spark, dir, target)
    assert(merged == 1) // rollback, then the normal pass re-merges the bin
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == rows)
    assert(!Files.exists(Paths.get(dir, graft.sinks.Compaction.journalName(id))))
  }

  test("compaction: an orphaned temp journal is dropped, never parsed as a journal") {
    val dir = tmpDir()
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"row$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val rows = spark.read.parquet(dir).orderBy("id").collect().toSeq
    val sources = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    val id = graft.sinks.Compaction.binId(sources)
    // crash BEFORE the journal rename: only the .tmp exists — the bin
    // never started, so recovery must delete the tmp and touch nothing
    Files.write(Paths.get(dir, graft.sinks.Compaction.journalName(id) + ".tmp"),
      (graft.sinks.Compaction.mergedName(id) +: sources).mkString("\n").getBytes("UTF-8"))
    val target = sources.map(s => Files.size(Paths.get(s))).sum + 4096
    val (merged, _, _) = graft.sinks.Compaction.compact(spark, dir, target)
    assert(merged == 1)
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == rows)
    val leftovers = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(".compact-journal-")).toList
    assert(leftovers.isEmpty, s"journal leftovers: $leftovers")
  }
}
