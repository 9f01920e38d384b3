package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config.{InputSpec, SinkSpec}
import graft.sinks.SinkWriter
import graft.sources.{SourceReader, VersionedParquet}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** S7 excel and S9 delta-substitute formats (SURVEY.md §7.4). */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("versioned table: append/overwrite commits, snapshot reads, time travel") {
    val path = Files.createTempDirectory("graft-vp").toString + "/tbl"
    val sink = (m: String) => SinkSpec("t", format = "deltalake", path = Some(path), savemode = m)
    SinkWriter.write(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), sink("append"))
    SinkWriter.write(spark, Seq((3, "c")).toDF("id", "v"), sink("append"))
    assert(VersionedParquet.versions(path) == Seq(0L, 1L))

    val latest = SourceReader.read(spark, InputSpec("tbl", "deltalake", Some(path)))
    assert(latest.count() == 3)
    // time travel to the first commit
    val v0 = SourceReader.read(spark, InputSpec("tbl0", "deltalake", Some(path),
      options = Map("versionAsOf" -> "0")))
    assert(v0.count() == 2)
    assert(v0.select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))

    // overwrite starts a fresh snapshot; old versions stay readable
    SinkWriter.write(spark, Seq((9, "z")).toDF("id", "v"), sink("overwrite"))
    assert(SourceReader.read(spark, InputSpec("tbl2", "deltalake", Some(path))).count() == 1)
    assert(SourceReader.read(spark, InputSpec("tbl1", "deltalake", Some(path),
      options = Map("versionAsOf" -> "1"))).count() == 3)
  }

  test("versioned table compaction rewrites the snapshot, keeps history") {
    val path = Files.createTempDirectory("graft-cmp").toString + "/tbl"
    // many tiny appends → many files
    (0 until 4).foreach { i =>
      VersionedParquet.write(Seq((i, s"v$i")).toDF("id", "v").repartition(2), path, "append")
    }
    val before = VersionedParquet.read(spark, path)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    VersionedParquet.compact(spark, path, targetFiles = 1)
    val vs = VersionedParquet.versions(path)
    assert(vs.size == 5) // 4 appends + 1 compaction commit
    val after = VersionedParquet.read(spark, path)
    assert(after.collect().map(r => (r.getInt(0), r.getString(1))).toSet == before)
    assert(after.inputFiles.length == 1)
    // history intact: version 0 still readable
    assert(VersionedParquet.read(spark, path, Some(vs.head)).count() == 1)
    // already compact → no new commit
    VersionedParquet.compact(spark, path, targetFiles = 1)
    assert(VersionedParquet.versions(path).size == 5)
  }

  test("compaction carries the replaced snapshot's commit meta forward") {
    val path = Files.createTempDirectory("graft-cmpmeta").toString + "/tbl"
    VersionedParquet.write(Seq((1, "a")).toDF("id", "v").repartition(2),
      path, "append", Map("streamBatchId" -> "6", "streamBatchHwm" -> "7"))
    VersionedParquet.compact(spark, path, targetFiles = 1)
    val vs = VersionedParquet.versions(path)
    // the streaming near-dedup replay watermark rides the NEWEST version's
    // meta — a maintenance compaction must not erase it (vacuum keeps only
    // the newest version, so a lost hwm would reopen the replay-overwrite
    // crash window)
    assert(VersionedParquet.commitMeta(path, vs.max) ==
      Map("streamBatchId" -> "6", "streamBatchHwm" -> "7"),
      "compaction dropped the snapshot's commit meta")
  }

  test("vacuum reclaims unreferenced files and prunes time travel") {
    val path = Files.createTempDirectory("graft-vac").toString + "/tbl"
    VersionedParquet.write(Seq((1, "a")).toDF("id", "v"), path, "overwrite")  // v0
    VersionedParquet.write(Seq((2, "b")).toDF("id", "v"), path, "append")     // v1 (carries v0 files)
    VersionedParquet.write(Seq((9, "z")).toDF("id", "v"), path, "overwrite")  // v2 (orphans v0/v1 files)
    val removed = VersionedParquet.vacuum(path, keepVersions = 1)
    assert(removed >= 2) // v0's and v1's data files are dead
    assert(VersionedParquet.versions(path) == Seq(2L))
    assert(VersionedParquet.read(spark, path).count() == 1)
    intercept[IllegalArgumentException] {
      VersionedParquet.read(spark, path, Some(0L))
    }
    // keepVersions honors shared files: append-carried files survive
    val p2 = Files.createTempDirectory("graft-vac2").toString + "/tbl"
    VersionedParquet.write(Seq((1, "a")).toDF("id", "v"), p2, "overwrite")
    VersionedParquet.write(Seq((2, "b")).toDF("id", "v"), p2, "append")
    assert(VersionedParquet.vacuum(p2, keepVersions = 1) == 0) // v1 still references v0's files
    assert(VersionedParquet.read(spark, p2).count() == 2)
  }

  test("vacuum keeps live data of a table under a directory named data") {
    val path = Files.createTempDirectory("graft-vacdata").toString + "/data/tbl"
    VersionedParquet.write(Seq((1, "a")).toDF("id", "v"), path, "overwrite")
    VersionedParquet.write(Seq((2, "b")).toDF("id", "v"), path, "append")
    VersionedParquet.write(Seq((3, "c")).toDF("id", "v"), path, "append")
    // an orphan from a crashed commit, older than the grace period
    val orphan = Paths.get(path, "data", "c-orphan")
    Files.createDirectories(orphan)
    val f = Files.writeString(orphan.resolve("part-0.parquet"), "torn")
    val old = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000)
    Files.setLastModifiedTime(f, old); Files.setLastModifiedTime(orphan, old)
    assert(VersionedParquet.vacuum(path, keepVersions = 1, orphanGraceMs = 0) == 1)
    assert(!Files.exists(orphan), "the orphan dir survived")
    assert(VersionedParquet.read(spark, path).as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("manifests list files relative to the table: a copied table reads its " +
      "own files; absolute entries written before still read, and a copy's " +
      "vacuum leaves them alone") {
    val base = Files.createTempDirectory("graft-vpcopy")
    def copyTable(from: String, to: java.nio.file.Path): Unit =
      graft.util.Fs.walk(Paths.get(from)).foreach { p =>
        val t = to.resolve(Paths.get(from).relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    val orig = base.resolve("orig").toString
    VersionedParquet.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), orig, "overwrite")
    VersionedParquet.write(Seq((3, "c")).toDF("id", "v"), orig, "append")
    val copy = base.resolve("copy")
    copyTable(orig, copy)
    graft.util.Fs.walk(Paths.get(orig)).reverse.foreach(Files.delete)
    val c = copy.toString
    assert(VersionedParquet.read(spark, c).count() == 3)
    assert(VersionedParquet.read(spark, c, Some(0L)).count() == 2)
    assert(VersionedParquet.readChanges(spark, c, fromVersion = 0)
      .select("id").as[Int].collect().toSeq == Seq(3))

    // a manifest from before: absolute entries, as older builds wrote them
    val legacy = base.resolve("legacy").toString
    VersionedParquet.write(Seq((1, "a")).toDF("id", "v"), legacy, "overwrite")
    val abs = graft.util.Fs.walk(Paths.get(legacy, "data"))
      .map(_.toAbsolutePath.toString).filter(_.endsWith(".parquet"))
    Files.writeString(Paths.get(legacy, "_graft_log", "0.json"),
      abs.map("\"" + _ + "\"").mkString("""{"version": 0, "files": [""", ",", "]}"))
    // a copy's absolute entries name the ORIGINAL's files: dropping them
    // from the copy's history must not delete them
    val legacyCopy = base.resolve("legacy-copy").toString
    copyTable(legacy, Paths.get(legacyCopy))
    VersionedParquet.write(Seq((9, "z")).toDF("id", "v"), legacyCopy, "overwrite")
    VersionedParquet.vacuum(legacyCopy, keepVersions = 1, orphanGraceMs = 0)
    VersionedParquet.write(Seq((2, "b")).toDF("id", "v"), legacy, "append")
    VersionedParquet.vacuum(legacy, keepVersions = 1, orphanGraceMs = 0)
    assert(VersionedParquet.read(spark, legacy).as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "a"), (2, "b")))
  }

  test("versioned table change feed: manifest diffs yield insert/delete rows") {
    val path = Files.createTempDirectory("graft-cdf").toString + "/tbl"
    VersionedParquet.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), path, "overwrite") // v0
    VersionedParquet.write(Seq((3, "c")).toDF("id", "v"), path, "append")              // v1
    VersionedParquet.write(Seq((9, "z")).toDF("id", "v"), path, "overwrite")           // v2

    // (0, 1]: just the appended row as an insert
    val c01 = VersionedParquet.readChanges(spark, path, fromVersion = 0, toVersion = Some(1))
    assert(c01.select("id", "_change_type").as[(Int, String)].collect().toSet ==
      Set((3, "insert")))

    // (0, 2]: v1 insert, then the overwrite deletes all 3 visible rows and
    // inserts the new one
    val c02 = VersionedParquet.readChanges(spark, path, fromVersion = 0)
    val got = c02.select("id", "_change_type", "_commit_version")
      .as[(Int, String, Long)].collect().toSet
    assert(got == Set((3, "insert", 1L),
      (1, "delete", 2L), (2, "delete", 2L), (3, "delete", 2L), (9, "insert", 2L)))

    // empty range keeps the table schema plus the CDF columns
    val none = VersionedParquet.readChanges(spark, path, fromVersion = 2)
    assert(none.isEmpty &&
      none.columns.toSeq == Seq("id", "v", "_change_type", "_commit_version"))

    // declarative surface: an input with changesSince binds the feed, so a
    // config-driven incremental step consumes commits, not snapshots
    val viaConfig = SourceReader.read(spark, graft.config.InputSpec(
      "tbl_changes", "deltalake", Some(path),
      options = Map("changesSince" -> "0", "changesUntil" -> "1")))
    assert(viaConfig.select("id", "_change_type").as[(Int, String)].collect().toSet ==
      Set((3, "insert")))
  }

  test("excel source reads a standard xlsx (shared strings + numbers)") {
    val dir = Files.createTempDirectory("graft-xlsx")
    val file = dir.resolve("book.xlsx")
    writeMinimalXlsx(file.toString,
      shared = Seq("name", "qty", "widget", "gear"),
      sheetRows = Seq(
        // header row: shared strings 0,1
        Seq(("A1", "s", "0"), ("B1", "s", "1")),
        Seq(("A2", "s", "2"), ("B2", "", "5")),
        Seq(("A3", "s", "3"), ("B3", "", "12"))))
    val df = SourceReader.read(spark, InputSpec("book", "excel", Some(file.toString)))
    assert(df.columns.toSeq == Seq("name", "qty"))
    val rows = df.orderBy("name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("gear", "widget"))
    assert(rows.map(_.getString(1)).toSeq == Seq("12", "5"))
  }

  test("excel source handles sparse rows and missing refs") {
    val dir = Files.createTempDirectory("graft-xlsx2")
    val file = dir.resolve("sparse.xlsx")
    writeMinimalXlsx(file.toString,
      shared = Seq("x"),
      sheetRows = Seq(
        Seq(("A1", "s", "0"), ("C1", "", "7")), // gap at B1
        Seq(("A2", "", "1"))))
    val df = SourceReader.read(spark, InputSpec("sparse", "excel", Some(file.toString),
      header = false, options = Map("header" -> "false")))
    assert(df.columns.length == 3)
    val r = df.collect().map(r => (0 until 3).map(i => Option(r.getString(i)).orNull).toList)
    assert(r.contains(List("x", null, "7")))
  }

  test("excel sink round-trips through the excel source (nulls stay null)") {
    val dir = Files.createTempDirectory("graft-xlsx-sink").toString
    val df = Seq(("alpha", "1", "x&<y>"), ("beta", null, "plain"), ("gamma", "3", null))
      .toDF("name", "qty", "note")
    SinkWriter.write(spark, df,
      SinkSpec("book", format = "excel", path = Some(dir),
        options = Map("header" -> "true")))
    val back = SourceReader.read(spark, InputSpec("book", "excel", Some(dir)))
    assert(back.columns.toSeq == Seq("name", "qty", "note"))
    val rows = back.collect()
      .map(r => (0 until 3).map(i => Option(r.getString(i)).orNull).toList).toSet
    assert(rows == Set(List("alpha", "1", "x&<y>"), List("beta", null, "plain"),
      List("gamma", "3", null)))
  }

  /** Emit the minimal standard-conformant workbook the reader targets. */
  private def writeMinimalXlsx(path: String, shared: Seq[String],
      sheetRows: Seq[Seq[(String, String, String)]]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(Paths.get(path)))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    entry("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst>${shared.map(s => s"<si><t>$s</t></si>").mkString}</sst>""")
    val rowsXml = sheetRows.zipWithIndex.map { case (cells, i) =>
      val cellsXml = cells.map { case (ref, t, v) =>
        val tAttr = if (t.nonEmpty) s""" t="$t"""" else ""
        s"""<c r="$ref"$tAttr><v>$v</v></c>"""
      }.mkString
      s"""<row r="${i + 1}">$cellsXml</row>"""
    }.mkString
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet><sheetData>$rowsXml</sheetData></worksheet>""")
    zos.close()
  }
}
