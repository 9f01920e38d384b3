package graft.util

import org.apache.spark.sql.DataFrame

/** Where multi-pass operators materialize reused intermediates.
  *
  * The dedup/scoring pipelines reference some frames from several
  * downstream stages (minhash signatures feed both sides of the bucket
  * self-join; per-round component labels feed the next round), so they
  * must be materialized with TRUNCATED lineage or each consumer re-runs
  * the producing pipeline. HOW to materialize is a deployment decision,
  * not an operator decision:
  *
  *  - [[Staging.LocalCheckpoint]] pins blocks in executor storage — free
  *    and fast, right for local runs and tests, but the blocks die with an
  *    executor, and on a 1000-executor cluster an hours-long dedup job WILL
  *    lose executors (spot reclaim, OOM) and fail mid-pipeline.
  *  - [[Staging.PathStaging]] writes each intermediate as a parquet staged
  *    table under a job-scoped directory (on a cluster: the job's scratch
  *    prefix on the shared store) — survives executor loss, restartable,
  *    and inspectable; costs one write+read round trip per stage.
  *
  * Operators take a `staging` parameter defaulting to the local impl, so
  * existing call sites and oracle results are unchanged while cluster
  * callers inject durability.
  */
trait Staging {
  /** A materialized, lineage-truncated frame equal to `df`. `hint` names
    * the artifact (signatures, candidates, labels…) for debuggability. */
  def stage(df: DataFrame, hint: String): DataFrame
}

object Staging {

  /** Eager local checkpoint: executor-memory blocks, no durability.
    * The checkpoint's PRESERVED origin statistics are dropped when they
    * exceed any physically possible size — in iterative loops that
    * reference the previous stage twice (union + anti-join), preserved
    * estimates SQUARE per iteration until Catalyst's stats visitor
    * spends minutes multiplying million-digit BigInts per planning pass
    * (found by the r14 `[scale-graph]` probe; see
    * [[org.apache.spark.sql.graftbridge.ColumnBridge.capCheckpointStats]]). */
  object LocalCheckpoint extends Staging {
    override def stage(df: DataFrame, hint: String): DataFrame =
      org.apache.spark.sql.graftbridge.ColumnBridge
        .capCheckpointStats(df.localCheckpoint(true))
  }

  /** Free the executor blocks of the local checkpoints `df` reads — what
    * [[LocalCheckpoint]] staged for it; frames from [[PathStaging]] hold
    * none. Non-blocking; `df` must not be evaluated afterwards. */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRdds(df)
      .foreach(_.unpersist(blocking = false))

  /** Durable parquet staged tables under `root` — one numbered directory
    * per stage call. Call [[cleanup]] when the job's outputs are safely
    * materialized (the staged intermediates are scratch, not results).
    *
    * Listing and cleanup go through the Hadoop FileSystem resolved FROM the
    * root path (not java.nio), so a cluster scratch prefix on the shared
    * store — `s3a://bucket/job-123/`, `hdfs://nn/tmp/...` — is listed and
    * recursively deleted for real; local-FS roots behave identically. */
  final class PathStaging(root: String) extends Staging {
    private val n = new java.util.concurrent.atomic.AtomicInteger(0)
    override def stage(df: DataFrame, hint: String): DataFrame = {
      val path = s"$root/stage-${n.incrementAndGet()}-$hint"
      df.write.mode("errorifexists").parquet(path)
      df.sparkSession.read.parquet(path)
    }
    private def rootFs = {
      val p = new org.apache.hadoop.fs.Path(root)
      val conf = org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration
      (p.getFileSystem(conf), p)
    }
    def stagedPaths: Seq[String] = {
      val (fs, p) = rootFs
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).map(_.getPath.toString).toSeq.sorted
    }
    def cleanup(): Unit = {
      val (fs, p) = rootFs
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
  }
}
