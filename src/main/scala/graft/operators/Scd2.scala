package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.BoundTimestamp

/** W3 scdType2Insert — Slowly-Changing-Dimension type-2 merge, the one load
  * strategy in the reference with real algorithmic content
  * (/root/reference/spark.json:73 `loadType: scdType2Insert`, spark.json:91
  * `savemode: scd2`; exercised by the `scd2_daily_ranges` pipeline step,
  * /root/reference/example-shareprice.py:150,153). The reference leaves the
  * algorithm implicit; semantics are pinned in SURVEY.md §7.3:
  *
  * Inputs: staged batch S (one row per business key — run V2 dedup first),
  * current dimension D carrying (…, effective_from, effective_to, is_current).
  * Output = union of
  *   (a) D rows not current, or current-and-unchanged  → carried forward
  *   (b) current rows whose tracked columns changed    → closed
  *       (effective_to = batchTs, is_current = false)
  *   (c) one new current version per changed or brand-new key
  *       (effective_from = batchTs, effective_to = null, is_current = true)
  *
  * Idempotent: re-running the same batch finds no hash differences, so the
  * output equals the input dimension (the duplicate-run guard P3's semantic
  * backstop).
  *
  * Scale notes: one shuffle on the business key for the join; change
  * detection is a single xxhash64 over tracked columns (codegen'd, no UDF).
  * At 100 TB the dimension is written partitioned by a stable bucket of the
  * business key so a batch rewrites only touched partitions (SURVEY.md §4,
  * `SinkWriter.scd2InsertPartitioned`); `bucketCol` builds that key.
  */
object Scd2 {

  val EffectiveFrom = "effective_from"
  val EffectiveTo = "effective_to"
  val IsCurrent = "is_current"

  private def trackedHash(cols: Seq[String]): Column =
    xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)

  /** Initialize a dimension from a first full snapshot. */
  def initialize(snapshot: DataFrame, batchTs: java.sql.Timestamp): DataFrame =
    snapshot
      .withColumn(EffectiveFrom, BoundTimestamp(batchTs))
      .withColumn(EffectiveTo, lit(null).cast("timestamp"))
      .withColumn(IsCurrent, lit(true))

  /** Merge a staged batch into the current dimension (SURVEY.md §7.3).
    *
    * @param dim        current dimension incl. effective_from/to, is_current
    * @param staged     staged rows: business cols only (no SCD bookkeeping)
    * @param keys       business key columns
    * @param trackedCols columns whose change opens a new version
    * @param batchTs    version boundary timestamp for this batch
    *
    * `batchTs` enters the plan as a [[graft.functions.BoundTimestamp]],
    * not a literal: the closed-row and opened-row stages then generate the
    * same code at every batch timestamp, so a stream's later micro-batches
    * reuse the classes its first one compiled.
    */
  def merge(
      dim: DataFrame,
      staged: DataFrame,
      keys: Seq[String],
      trackedCols: Seq[String],
      batchTs: java.sql.Timestamp
  ): DataFrame = {
    val businessCols = dim.columns.filterNot(Set(EffectiveFrom, EffectiveTo, IsCurrent)).toSeq

    val current = dim.filter(col(IsCurrent))
    val history = dim.filter(!col(IsCurrent))

    // explicit presence tags: side presence must not be inferred from key
    // nullability — the join is null-safe (<=>), so a NULL business key is
    // a legal value and would otherwise be silently dropped
    val s = staged.withColumn("__h", trackedHash(trackedCols))
      .withColumn("__sp", lit(true))
    val c = current.withColumn("__h", trackedHash(trackedCols))
      .withColumn("__cp", lit(true))

    // One full-outer join on the business key classifies every key:
    //   staged-only → new; both+hash-diff → changed; both+same → unchanged;
    //   dim-only → untouched current. Keys referenced through the s/c
    //   aliases: staged and dim often derive from the same base frame, and
    //   unqualified attributes would self-resolve to a trivially-true
    //   predicate (classic Spark self-join trap).
    val joined = s.alias("s").join(c.alias("c"),
      keys.map(k => col(s"s.$k") <=> col(s"c.$k")).reduce(_ && _), "full_outer")

    val sPresent = col("s.__sp").isNotNull
    val cPresent = col("c.__cp").isNotNull
    val changed = sPresent && cPresent && col("s.__h") =!= col("c.__h")
    val isNew = sPresent && !cPresent

    // (a) current rows carried forward: unchanged or untouched
    val carried = joined
      .filter(cPresent && !changed)
      .select(dim.columns.map(cn => col(s"c.$cn")).toSeq: _*)

    // (b) changed current rows, closed at batchTs
    val closed = joined
      .filter(changed)
      .select(dim.columns.map(cn => col(s"c.$cn")).toSeq: _*)
      .withColumn(EffectiveTo, BoundTimestamp(batchTs))
      .withColumn(IsCurrent, lit(false))

    // (c) new versions: changed keys + brand-new keys
    val opened = joined
      .filter(changed || isNew)
      .select(businessCols.map(cn => col(s"s.$cn")).toSeq: _*)
      .withColumn(EffectiveFrom, BoundTimestamp(batchTs))
      .withColumn(EffectiveTo, lit(null).cast("timestamp"))
      .withColumn(IsCurrent, lit(true))

    val out = history
      .unionByName(carried)
      .unionByName(closed)
      .unionByName(opened.select(dim.columns.map(col).toSeq: _*))
    out
  }

  /** Stable partition bucket of the business key for partition-scoped
    * rewrites at scale (SURVEY.md §4): an int in [0, nBuckets). */
  def bucketCol(keys: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int").as("scd_bucket")
}
