package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config.SinkSpec
import graft.sinks.SinkWriter
import java.nio.file.{Files, Paths}

/** Partition-scoped SCD2 (SURVEY.md §4/§7.4): a batch must rewrite only
  * the bucket partitions its staged keys touch. */
class Scd2PartitionedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("second batch rewrites only touched bucket partitions") {
    import graft.sources.VersionedParquet
    val path = Files.createTempDirectory("graft-scdp").toString + "/dim"
    val sink = SinkSpec("dim", loadType = "scdType2Insert", format = "parquet",
      path = Some(path), scdKeys = Seq("id"), scdTrackedCols = Seq("v"),
      options = Map("scdBuckets" -> "8"))
    // each bucket's data files at one version
    def bucketFiles(v: Long): Map[Int, Set[String]] = (0 until 8).map(b =>
      b -> VersionedParquet.readPartitions(spark, path, Seq(b.toString), Some(v))
        .inputFiles.toSet).toMap

    val snapshot = (1L to 200L).map(k => (k, s"v$k")).toDF("id", "v")
    SinkWriter.write(spark, snapshot, sink)
    // batch 2: mutate exactly one key → exactly one bucket partition changes
    SinkWriter.write(spark, Seq((7L, "CHANGED")).toDF("id", "v"), sink)
    val Seq(v0, v1) = VersionedParquet.versions(path)
    val (before, after) = (bucketFiles(v0), bucketFiles(v1))
    assert(before.values.forall(_.nonEmpty), s"expected 8 filled buckets, got $before")
    // every other bucket carries the very same files forward
    val changed = (0 until 8).filter(b => before(b) != after(b))
    assert(changed.size == 1, s"expected exactly one rewritten bucket, got $changed")

    // correctness: key 7 has closed + current version; all other keys intact
    val dim = VersionedParquet.read(spark, path)
    assert(dim.count() == 201)
    val k7 = dim.filter($"id" === 7).orderBy("effective_from").collect()
    assert(k7.length == 2)
    assert(!k7(0).getAs[Boolean]("is_current") && k7(0).getAs[String]("v") == "v7")
    assert(k7(1).getAs[Boolean]("is_current") && k7(1).getAs[String]("v") == "CHANGED")
    assert(dim.filter($"is_current").count() == 200)
  }

  test("scdVersioned: a crash mid-commit leaves ALL partitions old; the " +
      "published commit flips ALL touched partitions at once — never mixed") {
    import graft.sources.VersionedParquet
    val path = Files.createTempDirectory("graft-scdv").toString + "/dim"
    val sink = SinkSpec("dim", loadType = "scdType2Insert", format = "parquet",
      path = Some(path), scdKeys = Seq("id"), scdTrackedCols = Seq("v"),
      options = Map("scdBuckets" -> "8"))
    val b1 = (1L to 200L).map(k => (k, s"v$k")).toDF("id", "v")
    SinkWriter.write(spark, b1, sink)
    val dim1 = VersionedParquet.read(spark, path)
    assert(dim1.count() == 200 && dim1.filter($"is_current").count() == 200)

    // batch 2 touches MANY buckets (every 10th key changes), then the
    // process dies after the data write, before the manifest publish
    val b2 = (1L to 200L).filter(_ % 10 == 0)
      .map(k => (k, s"CHANGED$k")).toDF("id", "v")
    val boom = intercept[RuntimeException] {
      SinkWriter.scd2InsertPartitioned(spark, b2, sink, nBuckets = 8,
        midCommitHook = () => throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage == "injected crash")
    // every partition still reads at the OLD version — no mixed state
    val afterCrash = VersionedParquet.read(spark, path)
    assert(afterCrash.count() == 200, "crash mid-commit must publish nothing")
    assert(afterCrash.filter($"v".startsWith("CHANGED")).count() == 0,
      "no partition may show the new version before the manifest lands")

    // the re-run converges: ONE commit flips every touched bucket together
    SinkWriter.write(spark, b2, sink)
    val healed = VersionedParquet.read(spark, path)
    assert(healed.count() == 220) // 200 current + 20 closed versions
    assert(healed.filter($"is_current" && $"v".startsWith("CHANGED")).count() == 20)
    assert(healed.filter($"is_current").count() == 200)
    // untouched keys' history is intact (carried files, not rewritten)
    assert(healed.filter($"id" === 7).count() == 1)
    // version history: init, the (only) successful merge — the crashed
    // attempt never became a version, only an unreferenced data dir
    assert(VersionedParquet.versions(path).size == 2,
      s"got versions ${VersionedParquet.versions(path)}")
    // time travel still sees the pre-merge snapshot whole
    val v0 = VersionedParquet.read(spark, path,
      Some(VersionedParquet.versions(path).min))
    assert(v0.count() == 200 && v0.filter($"v".startsWith("CHANGED")).count() == 0)
  }

  test("scdVersioned edge contracts: empty batch no-ops; stray partitions " +
      "in an overwritePartitions frame abort before publish") {
    import graft.sources.VersionedParquet
    val path = Files.createTempDirectory("graft-scdv-e").toString + "/dim"
    val sink = SinkSpec("dim", loadType = "scdType2Insert", format = "parquet",
      path = Some(path), scdKeys = Seq("id"), scdTrackedCols = Seq("v"),
      options = Map("scdBuckets" -> "4"))
    SinkWriter.write(spark, (1L to 20L).map(k => (k, s"v$k")).toDF("id", "v"), sink)
    val v1 = VersionedParquet.versions(path).max
    // empty batch: no merge, no new version
    SinkWriter.write(spark, Seq.empty[(Long, String)].toDF("id", "v"), sink)
    assert(VersionedParquet.versions(path).max == v1, "empty batch must not commit")
    assert(VersionedParquet.read(spark, path).count() == 20)
    // a frame carrying rows OUTSIDE `touched` would duplicate the carried
    // files of their partitions — must abort loudly, publishing nothing
    val dim = VersionedParquet.read(spark, path)
    val e = intercept[IllegalArgumentException] {
      VersionedParquet.overwritePartitions(dim, path, "scd_bucket",
        touched = Seq(dim.select("scd_bucket").head().getInt(0).toString))
    }
    assert(e.getMessage.contains("outside touched"), e.getMessage)
    assert(VersionedParquet.versions(path).max == v1, "stray-partition abort must not commit")
    assert(VersionedParquet.read(spark, path).count() == 20)
  }

  test("whole-snapshot compact refuses a partition-scoped table") {
    import graft.sources.VersionedParquet
    val path = Files.createTempDirectory("graft-scdv-c").toString + "/dim"
    val sink = SinkSpec("dim", loadType = "scdType2Insert", format = "parquet",
      path = Some(path), scdKeys = Seq("id"), scdTrackedCols = Seq("v"),
      options = Map("scdBuckets" -> "4"))
    SinkWriter.write(spark, (1L to 40L).map(k => (k, s"v$k")).toDF("id", "v"), sink)
    // compacting would rewrite the snapshot into the flat layout and break
    // partition attribution for the NEXT partial commit — must refuse now
    val e = intercept[IllegalArgumentException](
      VersionedParquet.compact(spark, path, targetFiles = 1))
    assert(e.getMessage.contains("partition-scoped"), e.getMessage)
    // the table is untouched and still merges fine afterwards
    SinkWriter.write(spark, Seq((3L, "CHANGED")).toDF("id", "v"), sink)
    val dim = VersionedParquet.read(spark, path)
    assert(dim.filter($"is_current").count() == 40)
    assert(dim.filter($"v" === "CHANGED" && $"is_current").count() == 1)
  }

  test("partitioned and unpartitioned SCD2 agree on the merged content") {
    val p1 = Files.createTempDirectory("graft-scdp1").toString + "/dim"
    val p2 = Files.createTempDirectory("graft-scdp2").toString + "/dim"
    val mk = (p: String, opts: Map[String, String]) => SinkSpec("dim",
      loadType = "scdType2Insert", format = "parquet", path = Some(p),
      scdKeys = Seq("id"), scdTrackedCols = Seq("v"), options = opts)
    val b1 = (1L to 50L).map(k => (k, s"v$k")).toDF("id", "v")
    val b2 = (1L to 60L).map(k => (k, if (k % 5 == 0) s"w$k" else s"v$k")).toDF("id", "v")
    SinkWriter.write(spark, b1, mk(p1, Map("scdBuckets" -> "4")))
    SinkWriter.write(spark, b2, mk(p1, Map("scdBuckets" -> "4")))
    SinkWriter.write(spark, b1, mk(p2, Map.empty))
    SinkWriter.write(spark, b2, mk(p2, Map.empty))
    val a = graft.sources.VersionedParquet.read(spark, p1).select("id", "v", "is_current")
    val b = spark.read.parquet(p2).select("id", "v", "is_current")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("refusals: a raw-layout target and each removed sink option fail " +
      "loudly, naming it, and publish nothing") {
    val mk = (p: String, opts: Map[String, String]) => SinkSpec("dim",
      loadType = "scdType2Insert", format = "parquet", path = Some(p),
      scdKeys = Seq("id"), scdTrackedCols = Seq("v"), options = opts)
    val b1 = (1L to 40L).map(k => (k, s"v$k")).toDF("id", "v")

    // a raw hive-directory dimension (the pre-versioned layout): merging
    // into it would initialize a versioned table that hides its rows
    val pRaw = Files.createTempDirectory("graft-scdraw").toString + "/dim"
    b1.withColumn("scd_bucket", graft.operators.Scd2.bucketCol(Seq("id"), 4))
      .write.partitionBy("scd_bucket").parquet(pRaw)
    def listing() = graft.util.Fs.walk(Paths.get(pRaw)).map(_.toString).toSet
    val rawFiles = listing()
    val e = intercept[IllegalArgumentException] {
      SinkWriter.write(spark, Seq((3L, "CHANGED")).toDF("id", "v"),
        mk(pRaw, Map("scdBuckets" -> "4")))
    }
    assert(e.getMessage.contains(pRaw) && e.getMessage.contains("_graft_log"),
      e.getMessage)
    assert(listing() == rawFiles, "a refused write must leave the target as it was")
    assert(spark.read.parquet(pRaw).filter($"v" === "CHANGED").count() == 0)

    // the removed options: loud at construction and at config parse
    for (k <- Seq("scdVersioned", "scdStagingPath", "scdConflictRetries")) {
      val p = Files.createTempDirectory("graft-scdopt").toString + "/dim"
      val eOpt = intercept[IllegalArgumentException] {
        SinkWriter.write(spark, b1, mk(p, Map("scdBuckets" -> "4", k -> "1")))
      }
      assert(eOpt.getMessage.contains(s"'$k'"), eOpt.getMessage)
      assert(!Files.exists(Paths.get(p)), s"$k: nothing may be written")
      val eParse = intercept[IllegalArgumentException] {
        graft.config.JobConfig.parse(
          s"""{"sinks": [{"dataFrameName": "dim", "loadType": "scdType2Insert",
             |  "path": "$p", "options": {"scdBuckets": "4", "$k": "1"}}]}""".stripMargin)
      }
      assert(eParse.getMessage.contains(s"'$k'"), eParse.getMessage)
    }
  }

  test("empty FIRST batch must not initialize a zero-file versioned table") {
    import graft.sources.VersionedParquet
    val path = Files.createTempDirectory("graft-scdv-e0").toString + "/dim"
    val sink = SinkSpec("dim", loadType = "scdType2Insert", format = "parquet",
      path = Some(path), scdKeys = Seq("id"), scdTrackedCols = Seq("v"),
      options = Map("scdBuckets" -> "4"))
    SinkWriter.write(spark, Seq.empty[(Long, String)].toDF("id", "v"), sink)
    assert(VersionedParquet.versions(path).isEmpty,
      "an empty first batch must not commit a zero-file manifest")
    // the next real batch initializes normally (no empty-schema
    // readPartitions puzzle — ADVICE r13)
    SinkWriter.write(spark, (1L to 10L).map(k => (k, s"v$k")).toDF("id", "v"), sink)
    assert(VersionedParquet.read(spark, path).count() == 10)
  }
}
