package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftbridge.ColumnBridge

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

  /** Eager local checkpoint: executor-memory blocks, no durability. The
    * one job that materializes the blocks also counts their rows and
    * bytes, and the staged frame carries both as its statistics
    * ([[org.apache.spark.sql.graftbridge.ColumnBridge.localCheckpointWithStats]]).
    * Catalyst's join selection and [[broadcastIfSmall]] then see true
    * sizes, read as [[stagedRows]] with no further job, and the statistics
    * cannot compound across a loop that joins each stage to the last. */
  object LocalCheckpoint extends Staging {
    override def stage(df: DataFrame, hint: String): DataFrame =
      ColumnBridge.localCheckpointWithStats(df)
  }

  /** The exact row count of a frame [[LocalCheckpoint]] staged. */
  def stagedRows(df: DataFrame): Long = df.queryExecution.optimizedPlan.stats.rowCount.get.toLong

  /** `df` with a broadcast hint when its size is at most the session's
    * `spark.sql.autoBroadcastJoinThreshold` (−1 never broadcasts). Runs
    * no job: the size is the optimized plan's, exact for a
    * [[LocalCheckpoint]]-staged frame and an upper bound for a filter or
    * projection of one. A caller that knows a bound on the row count
    * (an aggregate it already took) passes it as `maxRows`, and the size
    * is that many rows of `df`'s schema. */
  def broadcastIfSmall(df: DataFrame, maxRows: Option[Long] = None): DataFrame = {
    val size = maxRows match {
      case Some(n) => BigInt(n) * (8 + df.schema.map(_.dataType.defaultSize).sum)
      case None    => df.queryExecution.optimizedPlan.stats.sizeInBytes
    }
    if (size <= ColumnBridge.broadcastThreshold(df.sparkSession)) broadcast(df) else df
  }

  /** Free the executor blocks of the local checkpoints `df` reads — what
    * [[LocalCheckpoint]] staged for it; frames from [[PathStaging]] hold
    * none. Non-blocking; `df` must not be evaluated afterwards. */
  def release(df: DataFrame): Unit =
    ColumnBridge.checkpointRdds(df)
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
