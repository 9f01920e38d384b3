package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import graft.config.JobConfig
import graft.run.Orchestrator
import graft.util.LocalFs
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The fork-free local file system: a job starts no process from Hadoop,
  * and every answer it gives matches the stock `LocalFileSystem`/`LocalFs`. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The process starts with a Hadoop frame on their stack while `body`
    * runs, each as its command line and its innermost Hadoop frame. */
  private def hadoopProcessStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          .find(_.startsWith("org.apache.hadoop."))
          .map(frame => s"${e.getString("command")} at $frame")
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  private def validatedCsvJob(dir: String) = JobConfig.parse(
    s"""{
       |"jobName": "forks_batch",
       |"thresholdLimit": "50%",
       |"inputs": [{"dataFrameName": "raw", "format": "csv", "path": "$dir/drop",
       |  "header": true, "options": {"inferSchema": "false"}}],
       |"validations": [
       |  {"type": "nullValueCheck", "dataFrameName": "raw", "primaryKeys": ["id"]},
       |  {"type": "duplicateRecordCheck", "dataFrameName": "raw",
       |   "primaryKeys": ["id"], "orderByCols": ["v"]}],
       |"transformations": [{"functionName": "keep", "outputDFName": "kept",
       |  "sqlQuery": "SELECT id, day, v FROM raw"}],
       |"sinks": [
       |  {"dataFrameName": "kept", "loadType": "truncateInsert", "format": "parquet",
       |   "path": "$dir/kept", "reconciliation": true},
       |  {"dataFrameName": "kept", "loadType": "simpleInsert", "savemode": "append",
       |   "format": "parquet", "path": "$dir/by_day", "partitionBy": ["day"],
       |   "reconciliation": true},
       |  {"dataFrameName": "kept", "loadType": "simpleInsert", "savemode": "append",
       |   "format": "deltalake", "path": "$dir/log", "reconciliation": true}],
       |"errorSink": {"dataFrameName": "errors", "format": "parquet", "savemode": "append",
       |  "path": "$dir/errors"}
       |}""".stripMargin)

  private def streamingScd2Job(dir: String) = JobConfig.parse(
    s"""{
       |"jobName": "forks_stream",
       |"mode": "streaming",
       |"tempPath": "$dir/ckpt",
       |"inputs": [{"dataFrameName": "changes", "format": "parquet", "path": "$dir/in",
       |  "options": {"maxFilesPerTrigger": "1"}}],
       |"validations": [
       |  {"type": "nullValueCheck", "dataFrameName": "changes", "primaryKeys": ["id"]}],
       |"sinks": [{"dataFrameName": "changes", "loadType": "scdType2Insert", "format": "parquet",
       |  "path": "$dir/dim", "scdKeys": ["id"], "scdTrackedCols": ["v"],
       |  "options": {"scdBuckets": "4"}}],
       |"errorSink": {"dataFrameName": "errors", "format": "parquet", "savemode": "append",
       |  "path": "$dir/errors"}
       |}""".stripMargin)

  test("a validated batch step and a streaming SCD2 job start no process from Hadoop") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-forks").toString
    Files.createDirectories(Paths.get(dir, "drop"))
    Files.writeString(Paths.get(dir, "drop", "day.csv"),
      Seq("id,day,v", "1,d1,a", "2,d1,b", "3,d2,c", "3,d2,d", ",d2,e").mkString("", "\n", "\n"))
    (0 until 2).foreach { f =>
      Seq((Option(1L), s"v$f"), (Option(2L + f), "w"), (Option.empty[Long], "null"))
        .toDF("id", "v").coalesce(1).write.mode("append").parquet(s"$dir/in")
    }
    // Hadoop's Shell runs `setsid` and `getconf` once per JVM, when the
    // class initializes; that happens before, not per file
    Class.forName("org.apache.hadoop.util.Shell")
    val starts = hadoopProcessStarts {
      // the second run appends to, and reconciles against, existing targets
      new Orchestrator(spark).run(validatedCsvJob(dir))
      new Orchestrator(spark).run(validatedCsvJob(dir))
      new Orchestrator(spark).run(streamingScd2Job(dir))
    }
    assert(starts.isEmpty, s"${starts.size} process starts from Hadoop:\n${starts.mkString("\n")}")
    // the jobs did their writes
    assert(spark.read.parquet(s"$dir/kept").count() == 3)
    assert(spark.read.parquet(s"$dir/by_day").count() == 6)
    assert(graft.sources.VersionedParquet.read(spark, s"$dir/log").count() == 6)
    assert(graft.sources.VersionedParquet.read(spark, s"$dir/dim").count() == 4) // 1 v0→v1, 2, 3
    assert(graft.util.Fs.walk(Paths.get(dir, "kept")).exists(_.getFileName.toString.endsWith(".crc")),
      "parquet writes lost their .crc files")
  }

  private val LocalUri = URI.create("file:///")

  private def stockFs(): FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(LocalUri, new Configuration()); fs
  }
  private def graftFs(): FileSystem = {
    val fs = new LocalFs.Checksummed; fs.initialize(LocalUri, new Configuration()); fs
  }
  private def context(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(LocalUri, conf)
  }
  private val sides = Seq("stock" -> (() => stockFs()), "graft" -> (() => graftFs()))

  /** The permission bits of a local file, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  test("parity: permissions after umask, .crc files, and a corrupt file failing its checksum") {
    val root = Files.createTempDirectory("graft-localfs-perm")
    sides.foreach { case (name, mk) =>
      val fs = mk()
      val base = new Path(root.toUri.toString, name)
      fs.mkdirs(new Path(base, "d/e"))
      fs.mkdirs(new Path(base, "x"), new FsPermission("750"))
      val out = fs.create(new Path(base, "d/f"))
      out.write("hello".getBytes("UTF-8")); out.close()
      val out2 = fs.create(new Path(base, "g"), new FsPermission("640"), false, 4096,
        1.toShort, 1L << 20, null)
      out2.write("hello".getBytes("UTF-8")); out2.close()
      fs.mkdirs(new Path(base, "t"))
      fs.setPermission(new Path(base, "t"), new FsPermission("1777")) // sticky: the chmod fallback
    }
    val rels = Seq("d", "d/e", "d/f", "d/.f.crc", "g", "x", "t")
    rels.foreach { r =>
      assert(mode(root.resolve(s"graft/$r")) == mode(root.resolve(s"stock/$r")),
        s"$r: mode ${mode(root.resolve(s"graft/$r")).toOctalString} vs stock " +
          mode(root.resolve(s"stock/$r")).toOctalString)
    }
    assert(Seq("d", "d/f", "g", "x", "t").map(r => mode(root.resolve(s"graft/$r")).toOctalString) ==
      Seq("755", "644", "640", "750", "1777"))
    Seq("d/.f.crc", ".g.crc").foreach { c =>
      assert(Files.readAllBytes(root.resolve(s"graft/$c"))
        .sameElements(Files.readAllBytes(root.resolve(s"stock/$c"))), s"$c differs")
    }
    sides.foreach { case (name, mk) =>
      Files.writeString(root.resolve(s"$name/d/f"), "jello") // same length, stale .crc
      val in = mk().open(new Path(root.toUri.toString, s"$name/d/f"))
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    }
  }

  test("parity: FileContext.rename onto an existing file, with and without OVERWRITE") {
    val root = Files.createTempDirectory("graft-localfs-rename")
    def outcome(name: String, fc: FileContext): (String, String, Seq[String]) = {
      val base = new Path(root.toUri.toString, name)
      fc.mkdir(base, FsPermission.getDirDefault, true)
      def write(p: Path, s: String): Unit = {
        val o = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        o.write(s.getBytes("UTF-8")); o.close()
      }
      val (src, dst) = (new Path(base, "src"), new Path(base, "dst"))
      write(src, "new"); write(dst, "old")
      val refused = intercept[FileAlreadyExistsException](fc.rename(src, dst))
      assert(fc.util.exists(src))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (refused.getClass.getName, Files.readString(root.resolve(s"$name/dst")),
        graft.util.Fs.list(root.resolve(name)).map(_.getFileName.toString).sorted)
    }
    val want = outcome("stock", context("org.apache.hadoop.fs.local.LocalFs"))
    val got = outcome("graft", context(classOf[LocalFs.Context].getName))
    assert(got == want)
    assert(want._2 == "new" && want._3 == Seq(".dst.crc", "dst"))
  }

  test("parity: getFileLinkStatus of a file, a missing path, and a symlink " +
    "addressed qualified and unqualified") {
    val root = Files.createTempDirectory("graft-localfs-link")
    Files.writeString(root.resolve("target"), "12345")
    Files.createSymbolicLink(root.resolve("link"), root.resolve("target"))
    def view(s: FileStatus) = (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "",
      s.getLen, s.isFile, s.getPath.toString)
    val paths = Seq(
      new Path(root.toUri.toString, "target"), new Path(root.toString, "target"),
      new Path(root.toUri.toString, "link"), new Path(root.toString, "link"))
    val results = sides.map { case (_, mk) =>
      val fs = mk()
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(root.toString, "missing")))
      paths.map(p => view(fs.getFileLinkStatus(p)))
    }
    assert(results(1) == results(0))
    // the stock code resolves the path string as written: a qualified
    // link is not seen as one, an unqualified link is
    assert(results(1).map(_._1) == Seq(false, false, false, true))
    assert(results(1)(3)._2.endsWith(s"${root}/target"))
  }

  test("install is idempotent, evicts a cached stock file system, and leaves " +
    "a user-set fs.file.impl alone") {
    val conf = spark.sparkContext.hadoopConfiguration
    val stockConf = new Configuration(conf)
    stockConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    FileSystem.getLocal(conf).close()
    assert(!FileSystem.getLocal(stockConf).isInstanceOf[LocalFs.Checksummed])
    LocalFs.install(spark)
    val fs = FileSystem.getLocal(conf)
    assert(fs.isInstanceOf[LocalFs.Checksummed] && fs.getRawFileSystem.isInstanceOf[LocalFs])
    assert(conf.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs.Context].getName)
    LocalFs.install(spark)
    assert(FileSystem.getLocal(conf) eq fs)
    assert(conf.get("fs.file.impl") == classOf[LocalFs.Checksummed].getName)

    val user = new Configuration(false)
    user.set("fs.file.impl", "org.example.UserFs")
    user.set("fs.AbstractFileSystem.file.impl", "org.example.UserContext")
    LocalFs.install(user)
    assert(user.get("fs.file.impl") == "org.example.UserFs")
    assert(user.get("fs.AbstractFileSystem.file.impl") == "org.example.UserContext")
    assert(FileSystem.getLocal(conf) eq fs)
  }
}
