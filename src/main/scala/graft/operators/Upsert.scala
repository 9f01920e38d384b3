package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VersionedParquet

/** Key-based upsert (MERGE) into a versioned table: staged rows replace
  * current rows with the same business key, brand-new keys insert, and
  * untouched keys carry forward — the "latest version wins" load type
  * (Delta's `MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`), the
  * most common load pattern after plain appends when history is NOT
  * wanted (SCD2 is the history-keeping sibling, SURVEY.md §7.3).
  *
  * Implementation is an anti-join + union: current rows whose key does
  * not appear in the batch survive, the batch inserts wholesale. The
  * batch side is the small one, so its distinct keys broadcast and the
  * current table is touched map-side only; the result commits as one
  * new version (snapshot isolation + time travel for free).
  *
  * At 100 TB the anti-join rewrites the whole table into the new
  * commit; partition the dimension by a stable key bucket and scope the
  * rewrite to touched partitions — the same evolution documented for
  * SCD2 in SURVEY.md §4 — before reaching for this on fact-sized data
  * (where [[IncrementalAgg]] or plain appends are the right tool).
  *
  * Duplicate keys WITHIN the batch are the caller's contract to resolve
  * first ([[Validations.dedup]]); this operator inserts the batch as
  * given. Re-running the same batch converges to the same table
  * (replaced rows are replaced with identical content), so retries are
  * safe at the table level. */
object Upsert {

  /** NULL business keys are legal values, same contract as [[Scd2.merge]]:
    * the anti-join is null-safe (`<=>`), so a batch row keyed NULL REPLACES
    * the current NULL-keyed row instead of silently duplicating it (a plain
    * equi anti-join never matches NULL to NULL, so the old row would
    * survive every merge alongside each batch's new one). */
  private def replaceByKey(current: DataFrame, batch: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val keys = batch.select(keyCols.map(col): _*).distinct().alias("k")
    val cond = keyCols.map(k => col(s"c.$k") <=> col(s"k.$k")).reduce(_ && _)
    current.alias("c").join(broadcast(keys), cond, "left_anti")
      .unionByName(batch)
  }

  def upsert(spark: SparkSession, batch: DataFrame, path: String,
      keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "upsert needs business keys")
    val next =
      if (VersionedParquet.versions(path).isEmpty) batch
      else replaceByKey(VersionedParquet.read(spark, path), batch, keyCols)
    VersionedParquet.write(next, path, "overwrite")
  }

  /** The same MERGE semantics against a REAL Delta Lake table
    * ([[graft.sources.DeltaLogReader]]/[[graft.sources.DeltaLogWriter]]):
    * read the current snapshot from the transaction log, anti-join +
    * union exactly like [[upsert]], and publish the merged table as ONE
    * overwrite commit — previous files are tombstoned by `remove`
    * actions, so time travel to every pre-merge version keeps working
    * and any spec-compliant Delta reader sees the merge atomically.
    *
    * This is copy-on-write MERGE at table granularity — correct always,
    * and the right tool for dimension-sized Delta tables. The
    * production-scale refinement is FILE-level copy-on-write (rewrite
    * only data files whose per-file key min/max overlap the batch,
    * carried in `add.stats`); our writer records no stats by declared
    * scope, so that pruning is out of reach here and documented rather
    * than half-done. A first call on a non-table seeds it (initial
    * commit = the batch). */
  def upsertDelta(spark: SparkSession, batch: DataFrame, path: String,
      keyCols: Seq[String],
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): Long = {
    require(keyCols.nonEmpty, "upsert needs business keys")
    import graft.sources.{DeltaLogReader, DeltaLogWriter}
    val next =
      if (!DeltaLogReader.isDeltaTable(path)) batch
      else replaceByKey(DeltaLogReader.read(spark, path), batch, keyCols)
    // the merged frame re-reads the files the commit is about to
    // tombstone — materialize it BEFORE publishing (pass a durable
    // PathStaging on a cluster so executor loss mid-commit can't lose it)
    val staged = staging.stage(next, "delta_upsert")
    DeltaLogWriter.write(staged, path, "overwrite")
  }
}
