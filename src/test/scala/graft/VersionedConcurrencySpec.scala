package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config.{JobConfig, SinkSpec}
import graft.operators.Scd2
import graft.run.{PipelineRunner, PipelineStep}
import graft.sinks.SinkWriter
import graft.sources.VersionedParquet
import java.nio.file.{Files, Paths}

/** The VersionedParquet write-write contract, ENFORCED (VERDICT r13 #1):
  * concurrent SCD2 merges over DISJOINT buckets both commit; merges over
  * OVERLAPPING buckets get one winner and one loud abort naming the
  * conflicting version — never a silent lost update. Interleavings are
  * produced deterministically through the `midCommitHook` seam (fired
  * after the data stage, before the commit lock), not by racing threads.
  */
class VersionedConcurrencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkSink(p: String) = SinkSpec("dim",
    loadType = "scdType2Insert", format = "parquet", path = Some(p),
    scdKeys = Seq("id"), scdTrackedCols = Seq("v"),
    options = Map("scdBuckets" -> "8"))

  /** Bucket of a business key under the sink's hashing (8 buckets). */
  private def bucketOf(k: Long): Int =
    Seq(k).toDF("id").select(Scd2.bucketCol(Seq("id"), 8)).head().getInt(0)

  /** Two keys guaranteed to land in DIFFERENT buckets. */
  private lazy val (keyA, keyB) = {
    val ka = 1L
    val kb = (2L to 64L).find(bucketOf(_) != bucketOf(ka)).get
    (ka, kb)
  }

  test("disjoint-bucket merges interleave: both commits land, neither " +
      "loses the other's update") {
    val path = Files.createTempDirectory("graft-vc-disj").toString + "/dim"
    val sink = mkSink(path)
    SinkWriter.write(spark, (1L to 200L).map(k => (k, s"v$k")).toDF("id", "v"), sink)

    // writer 1 merges keyA; after it stages its data (but before it
    // commits), writer 2 completes a WHOLE merge of keyB — a different
    // bucket. Writer 1's conflict check must see its touched bucket's
    // files unchanged and publish, carrying writer 2's files forward.
    val w2 = Seq((keyB, "W2")).toDF("id", "v")
    SinkWriter.scd2InsertPartitioned(spark,
      Seq((keyA, "W1")).toDF("id", "v"), sink, nBuckets = 8,
      midCommitHook = () => SinkWriter.write(spark, w2, sink))

    val dim = VersionedParquet.read(spark, path)
    assert(dim.filter($"id" === keyA && $"is_current" && $"v" === "W1").count() == 1)
    assert(dim.filter($"id" === keyB && $"is_current" && $"v" === "W2").count() == 1)
    assert(dim.filter($"is_current").count() == 200)
    assert(dim.count() == 202) // two closed versions
    assert(VersionedParquet.versions(path).size == 3, "init + both merges")
  }

  test("overlapping-bucket merges: one winner, one loud abort naming the " +
      "conflicting version — and the re-run converges") {
    val path = Files.createTempDirectory("graft-vc-ovl").toString + "/dim"
    val sink = mkSink(path)
    SinkWriter.write(spark, (1L to 200L).map(k => (k, s"v$k")).toDF("id", "v"), sink)

    // both writers mutate keyA's bucket; writer 2 commits first (from
    // inside writer 1's hook), so writer 1's optimistic base is stale on
    // a TOUCHED bucket and its publish must abort
    val w2 = Seq((keyA, "W2")).toDF("id", "v")
    val boom = intercept[RuntimeException] {
      SinkWriter.scd2InsertPartitioned(spark,
        Seq((keyA, "W1")).toDF("id", "v"), sink, nBuckets = 8,
        midCommitHook = () => SinkWriter.write(spark, w2, sink))
    }
    assert(boom.getMessage.contains("write-write conflict"), boom.getMessage)
    assert(boom.getMessage.contains("commit 1"), boom.getMessage)

    // writer 2's update is intact — nothing was silently replaced
    val dim = VersionedParquet.read(spark, path)
    assert(dim.filter($"id" === keyA && $"is_current" && $"v" === "W2").count() == 1)
    assert(dim.filter($"is_current").count() == 200)
    assert(VersionedParquet.versions(path).size == 2, "init + writer 2 only")

    // the aborted merge re-runs against the advanced table and lands
    SinkWriter.write(spark, Seq((keyA, "W1")).toDF("id", "v"), sink)
    val healed = VersionedParquet.read(spark, path)
    assert(healed.filter($"id" === keyA && $"is_current" && $"v" === "W1").count() == 1)
    assert(healed.filter($"id" === keyA).count() == 3) // v, W2, W1 history
  }

  test("a merge that loses an overlapping-bucket race converges through " +
      "the step retry with BOTH updates in history") {
    val path = Files.createTempDirectory("graft-vc-retry").toString + "/dim"
    val sink = mkSink(path)
    SinkWriter.write(spark, (1L to 200L).map(k => (k, s"v$k")).toDF("id", "v"), sink)
    // writer 1 runs as a pipeline step; on its FIRST attempt writer 2
    // commits an overlapping-bucket update from inside writer 1's hook, so
    // that attempt aborts and the step loop re-runs the whole merge
    val w1 = Seq((keyA, "W1")).toDF("id", "v")
    val w2 = Seq((keyA, "W2")).toDF("id", "v")
    var attempts, conflicts = 0
    val runner = new PipelineRunner(spark) {
      override protected def runAttempt(cfg: JobConfig,
          token: Option[String]): Unit = {
        attempts += 1
        val first = attempts == 1
        try SinkWriter.scd2InsertPartitioned(spark, w1, sink, nBuckets = 8,
          midCommitHook = () => if (first) SinkWriter.write(spark, w2, sink))
        catch { case e: VersionedParquet.ConflictException => conflicts += 1; throw e }
      }
    }
    runner.run(Seq(PipelineStep("w1", JobConfig.parse("""{"jobName": "w1"}"""),
      retries = 1)))
    assert(attempts == 2 && conflicts == 1,
      s"expected one conflict abort, then success: $attempts attempts, $conflicts conflicts")
    val dim = VersionedParquet.read(spark, path)
    // attempt 2 merged ON TOP of writer 2's commit: W2 closed, W1 current
    assert(dim.filter($"id" === keyA).count() == 3, "v, W2, W1 history expected")
    assert(dim.filter($"id" === keyA && $"is_current" && $"v" === "W1").count() == 1)
    assert(dim.filter($"id" === keyA && !$"is_current" && $"v" === "W2").count() == 1)
    assert(dim.filter($"is_current").count() == 200)
    assert(VersionedParquet.versions(path).size == 3, "init + w2 + retried w1")
  }

  test("overwritePartitions with a stale baseVersion aborts on touched " +
      "overlap, proceeds on disjoint touch") {
    val path = Files.createTempDirectory("graft-vc-base").toString + "/dim"
    val df = (0L to 63L).map(k => (k, s"v$k", (k % 4).toInt)).toDF("id", "v", "b")
    VersionedParquet.writePartitioned(df, path, "b") // v0
    val p0 = VersionedParquet.readPartitions(spark, path, Seq("0"))
      .withColumn("v", lit("x"))
    VersionedParquet.overwritePartitions(p0, path, "b", Seq("0"), Some(0L)) // v1
    // stale base 0, touching the partition v1 rewrote → conflict
    val e = intercept[RuntimeException] {
      VersionedParquet.overwritePartitions(p0, path, "b", Seq("0"), Some(0L))
    }
    assert(e.getMessage.contains("write-write conflict") &&
      e.getMessage.contains("commit 1"), e.getMessage)
    // stale base 0, but touching a DIFFERENT partition → interleaves fine
    val p1 = VersionedParquet.readPartitions(spark, path, Seq("1"))
      .withColumn("v", lit("y"))
    VersionedParquet.overwritePartitions(p1, path, "b", Seq("1"), Some(0L)) // v2
    val snap = VersionedParquet.read(spark, path)
    assert(snap.filter($"b" === 0 && $"v" === "x").count() == 16)
    assert(snap.filter($"b" === 1 && $"v" === "y").count() == 16)
    assert(snap.count() == 64)
  }

  test("compact aborts when a commit lands between its snapshot read and " +
      "its publish — the intervening append is never dropped") {
    val dir = Files.createTempDirectory("graft-vc-cmp").toString
    val t = s"$dir/tbl"
    VersionedParquet.write(Seq((1L, "a")).toDF("id", "v"), t, "overwrite")
    VersionedParquet.write(Seq((2L, "b")).toDF("id", "v"), t, "append")
    val sneak = Seq((3L, "c")).toDF("id", "v")
    val e = intercept[RuntimeException] {
      VersionedParquet.compact(spark, t, targetFiles = 1,
        midCommitHook = () => VersionedParquet.write(sneak, t, "append"))
    }
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(VersionedParquet.read(spark, t).count() == 3,
      "the append that raced the compaction must survive")
    // re-run on the quiet table succeeds
    VersionedParquet.compact(spark, t, targetFiles = 1)
    assert(VersionedParquet.read(spark, t).count() == 3)
    assert(VersionedParquet.snapshotFileCount(t) == 1)
  }

  test("a stale commit lock (crashed holder) is reclaimed; a fresh one is " +
      "not silently stolen") {
    val dir = Files.createTempDirectory("graft-vc-lock").toString
    val t = s"$dir/tbl"
    VersionedParquet.write(Seq((1L, "a")).toDF("id", "v"), t, "overwrite")
    val lock = Paths.get(t, "_graft_log", ".commit.lock")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - VersionedParquet.staleLockMs - 60000))
    // an abandoned lock from a crashed writer must not wedge the table
    VersionedParquet.write(Seq((2L, "b")).toDF("id", "v"), t, "append")
    assert(VersionedParquet.read(spark, t).count() == 2)
    assert(!Files.exists(lock), "the reclaimed lock must be released")
  }

  test("vacuum collects conflict-aborted orphan data dirs, age-gated so " +
      "an in-flight stage survives") {
    val path = Files.createTempDirectory("graft-vc-orphan").toString + "/dim"
    val df = (0L to 31L).map(k => (k, s"v$k", (k % 4).toInt)).toDF("id", "v", "b")
    VersionedParquet.writePartitioned(df, path, "b") // v0
    val p0 = VersionedParquet.readPartitions(spark, path, Seq("0"))
      .withColumn("v", lit("x"))
    VersionedParquet.overwritePartitions(p0, path, "b", Seq("0"), Some(0L)) // v1
    // a conflict-aborted commit stages data, then aborts at the lock —
    // its data dir is referenced by no manifest (the r14 normal outcome)
    intercept[RuntimeException] {
      VersionedParquet.overwritePartitions(p0, path, "b", Seq("0"), Some(0L))
    }
    def dataDirs() = graft.util.Fs.list(Paths.get(path, "data")).size
    val before = dataDirs()
    assert(before == 3, s"expected v0 + v1 + orphan staged dirs, got $before")
    // a graceful vacuum (default-sized grace) keeps the young orphan —
    // it is indistinguishable from a concurrent commit's in-flight stage
    assert(VersionedParquet.vacuum(path, keepVersions = 2) == 0)
    assert(dataDirs() == 3)
    // grace elapsed (0 here) → the orphan is collected, live data intact
    val removed = VersionedParquet.vacuum(path, keepVersions = 2, orphanGraceMs = 0)
    assert(removed > 0, "orphan files must count in the return")
    assert(dataDirs() == 2)
    val snap = VersionedParquet.read(spark, path)
    assert(snap.count() == 32)
    assert(snap.filter($"b" === 0 && $"v" === "x").count() == 8)
    // time travel to v0 still works (its manifest was kept)
    assert(VersionedParquet.read(spark, path, Some(0L))
      .filter($"v" === "x").count() == 0)
  }

  test("contended stale-lock reclaim: writers racing an injected stale lock " +
      "never lose a commit — every success is its own version, every " +
      "failure a typed loud conflict (VERDICT r14 #1)") {
    val dir = Files.createTempDirectory("graft-vc-reclaim").toString
    val t = s"$dir/tbl"
    VersionedParquet.write(Seq((0L, "init")).toDF("id", "v"), t, "overwrite")
    val lock = Paths.get(t, "_graft_log", ".commit.lock")
    var committed = 0
    (1 to 6).foreach { i =>
      // a crashed holder's abandoned lock, stamped and aged past the
      // staleness budget — BOTH writers walk the reclaim path together
      Files.writeString(lock, "dead-holder-token")
      Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - VersionedParquet.staleLockMs - 60000))
      val before = VersionedParquet.versions(t).max
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq("a", "b").map { tag =>
        new Thread(() =>
          try VersionedParquet.write(
            Seq((i.toLong, s"r$i-$tag")).toDF("id", "v"), t, "append")
          catch { case e: Throwable => errs.add(e); () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      // the old delete-based reclaim could admit both writers and let the
      // second ATOMIC_MOVE silently REPLACE the first's manifest — a lost
      // commit. Now: failures may only be the publish backstop's typed
      // loud conflict, and every SUCCESS must survive as its own version.
      errs.forEach(e => assert(e.isInstanceOf[VersionedParquet.ConflictException],
        s"only loud typed conflicts are acceptable under contention, got $e"))
      val ok = 2 - errs.size()
      committed += ok
      assert(VersionedParquet.versions(t).max == before + ok,
        s"round $i: $ok successful append(s) must land as $ok new version(s)")
    }
    assert(VersionedParquet.read(spark, t).count() == 1 + committed,
      "a committed append's rows were silently lost")
    assert(!Files.exists(lock), "all locks must be released after the race")
  }

  test("release only deletes the holder's OWN lock: an overstayed holder " +
      "whose lock was reclaimed must not delete its successor's") {
    val dir = Files.createTempDirectory("graft-vc-token")
    val lock = dir.resolve(".commit.lock")
    Files.createFile(lock)
    Files.writeString(lock, "successor-token")
    VersionedParquet.releaseOwnLock(lock, "overstayed-original-token")
    assert(Files.exists(lock), "the successor's lock was deleted — the r14 " +
      "finally-block hole that admitted a third writer")
    VersionedParquet.releaseOwnLock(lock, "successor-token")
    assert(!Files.exists(lock), "the true owner must release")
  }

  test("rename-based reclaim: a stale lock is collected; a FRESH lock " +
      "caught in the race window is restored, never stolen; a vanished " +
      "lock is a no-op") {
    val dir = Files.createTempDirectory("graft-vc-rreclaim")
    val lock = dir.resolve(".commit.lock")
    def reclaimLeftovers() = graft.util.Fs.list(dir)
      .filter(_.getFileName.toString.startsWith(".commit.lock.reclaim-"))
    // stale → reclaimed and the reclaim rename cleaned up
    Files.createFile(lock)
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - VersionedParquet.staleLockMs - 60000))
    VersionedParquet.reclaimStaleLock(lock)
    assert(!Files.exists(lock) && reclaimLeftovers().isEmpty)
    // fresh (the age check raced a release+reacquire) → restored in place
    Files.createFile(lock)
    Files.writeString(lock, "live-holder")
    VersionedParquet.reclaimStaleLock(lock)
    assert(Files.exists(lock) &&
      new String(Files.readAllBytes(lock), "UTF-8") == "live-holder",
      "a live holder's fresh lock was stolen")
    assert(reclaimLeftovers().isEmpty)
    // already renamed away by another reclaimer → quiet no-op
    Files.delete(lock)
    VersionedParquet.reclaimStaleLock(lock)
    assert(!Files.exists(lock) && reclaimLeftovers().isEmpty)
  }

  test("manifest publish refuses to replace an existing version: a " +
      "double-admitted loser collides loudly and the winner's manifest " +
      "survives byte-for-byte") {
    val dir = Files.createTempDirectory("graft-vc-pub")
    val target = dir.resolve("5.json")
    Files.writeString(target, """{"version": 5, "files": ["winner"]}""")
    val staged = Files.createTempFile(dir, ".5", ".staging")
    Files.writeString(staged, """{"version": 5, "files": ["loser"]}""")
    val e = intercept[VersionedParquet.ConflictException] {
      VersionedParquet.publishNoReplace("tbl", staged, target)
    }
    assert(e.getMessage.contains("publish race"), e.getMessage)
    assert(new String(Files.readAllBytes(target), "UTF-8").contains("winner"),
      "the winner's manifest was replaced — a lost commit")
    assert(!Files.exists(staged), "the loser's staging must be cleaned up")
    // and a free slot publishes atomically, staging consumed
    val target2 = dir.resolve("6.json")
    val staged2 = Files.createTempFile(dir, ".6", ".staging")
    Files.writeString(staged2, """{"version": 6, "files": []}""")
    VersionedParquet.publishNoReplace("tbl", staged2, target2)
    assert(Files.exists(target2) && !Files.exists(staged2))
  }

  test("partition values that would hive-escape are rejected at every " +
      "entry point — never a silent empty match") {
    val path = Files.createTempDirectory("graft-vc-dirsafe").toString + "/dim"
    val ok = Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "p")
    VersionedParquet.writePartitioned(ok, path, "p")
    val eRead = intercept[IllegalArgumentException] {
      VersionedParquet.readPartitions(spark, path, Seq("a b"))
    }
    assert(eRead.getMessage.contains("directory-safe"), eRead.getMessage)
    val eTouch = intercept[IllegalArgumentException] {
      VersionedParquet.overwritePartitions(ok, path, "p", Seq("a=b"))
    }
    assert(eTouch.getMessage.contains("directory-safe"), eTouch.getMessage)
    // a bad value INSIDE the frame aborts pre-publish (staged names check)
    val bad = Seq((3L, "z", "c d")).toDF("id", "v", "p")
    val eWrite = intercept[IllegalArgumentException] {
      VersionedParquet.writePartitioned(bad, path, "p")
    }
    assert(eWrite.getMessage.contains("directory-safe"), eWrite.getMessage)
    assert(VersionedParquet.versions(path).size == 1,
      "rejected values must not have committed anything")
  }
}
