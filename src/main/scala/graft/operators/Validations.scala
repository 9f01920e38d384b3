package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StringType

/** Phase-2 validation operators (reference: /root/reference/spark.json:40-52,
  * threshold gate spark.json:7, reconciliation spark.json:80). Each validator
  * returns (good, bad) so the caller can route `bad` to the error sink
  * (spark.json:97-101) with an `error_reason` column.
  *
  * The null-key and dedup rules also come as TAGGING steps over one frame
  * ([[untagged]] → [[tagNullKeys]] / [[tagDuplicates]] → [[route]]): each
  * step sets the nullable `error_reason` of the rows it rejects, so a
  * job's whole validation chain is one plan that can be materialized once
  * and split into good and bad rows without recomputation.
  * [[nullKeyCheck]] and [[dedup]] are that chain with a single rule.
  *
  * Scale notes: the null-key rule is a pure narrow projection (no shuffle).
  * The dedup rule shuffles once on the primary keys — unavoidable for keyed
  * dedup — and uses `row_number` so it is one hash-partitioned sort, not a
  * self-join.
  */
object Validations {

  final case class Routed(good: DataFrame, bad: DataFrame)

  /** The rejection column the tagging rules set and the error sink keeps. */
  val ErrorReason = "error_reason"

  /** `df` with an all-null `error_reason`: the start of a tagging chain. */
  def untagged(df: DataFrame): DataFrame =
    df.withColumn(ErrorReason, lit(null).cast(StringType))

  /** Split a tagged frame: untagged rows (without the column) are good,
    * tagged rows (with their reason) are bad. */
  def route(tagged: DataFrame): Routed = Routed(
    good = tagged.filter(col(ErrorReason).isNull).drop(ErrorReason),
    bad = tagged.filter(col(ErrorReason).isNotNull))

  /** V1 null-key rule (spark.json:43-46): rows with NULL in ANY declared
    * primary key are invalid. A row an earlier rule rejected keeps its
    * first reason. */
  def tagNullKeys(tagged: DataFrame, primaryKeys: Seq[String]): DataFrame = {
    val anyNull: Column = primaryKeys.map(col(_).isNull).reduce(_ || _)
    tagged.withColumn(ErrorReason,
      coalesce(col(ErrorReason), when(anyNull, lit("null_primary_key"))))
  }

  /** V2 duplicate-record rule (spark.json:47-52): among rows sharing
    * `primaryKeys`, keep the first by `orderByCols` DESC; rest are invalid.
    * Only rows every earlier rule passed compete (the flag joins the
    * window key), so the chain routes exactly as running the rules one
    * after another over each rule's good rows. Ties on `orderByCols` are
    * broken arbitrarily, once per evaluation of the plan. */
  def tagDuplicates(tagged: DataFrame, primaryKeys: Seq[String],
      orderByCols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(primaryKeys.map(col) :+ col(ErrorReason).isNull: _*)
      .orderBy(orderByCols.map(col(_).desc): _*)
    tagged.withColumn(ErrorReason, coalesce(col(ErrorReason),
      when(row_number().over(w) > 1, lit("duplicate_record"))))
  }

  /** V1 null-key validation as a split: [[tagNullKeys]] alone. */
  def nullKeyCheck(df: DataFrame, primaryKeys: Seq[String]): Routed =
    route(tagNullKeys(untagged(df), primaryKeys))

  /** V2 duplicate-record validation as a split: [[tagDuplicates]] alone. */
  def dedup(df: DataFrame, primaryKeys: Seq[String], orderByCols: Seq[String]): Routed =
    route(tagDuplicates(untagged(df), primaryKeys, orderByCols))

  /** Referential-integrity validation (extension of the phase-2 family):
    * child rows whose foreign-key tuple has no match in `parent` are
    * invalid. SQL FK semantics: a NULL anywhere in the FK tuple is NOT a
    * violation (route those through [[nullKeyCheck]] if they should be).
    *
    * Shape: one anti/semi join pair against the DISTINCT parent keys —
    * dimension-sized parents broadcast, so the fact side is map-side only;
    * a huge parent degrades to one co-partitioned shuffle join. */
  def refIntegrityCheck(child: DataFrame, parent: DataFrame,
      fk: Seq[(String, String)]): Routed = {
    val pkeys = parent.select(fk.map { case (_, p) => col(p) }: _*).distinct()
    val cond = fk.map { case (c, p) => child(c) === pkeys(p) }.reduce(_ && _)
    val anyNull = fk.map { case (c, _) => col(c).isNull }.reduce(_ || _)
    val nonNull = child.filter(!anyNull)
    Routed(
      good = child.filter(anyNull).unionByName(nonNull.join(pkeys, cond, "left_semi")),
      bad = nonNull.join(pkeys, cond, "left_anti")
        .withColumn("error_reason", lit("fk_orphan"))
    )
  }

  /** Accepted-values validation: rows whose `column` is outside the
    * declared domain are invalid (NULL counts as invalid here — an
    * unexpected NULL in an enum column is exactly what this check is
    * for). Pure narrow filter, no shuffle. */
  def acceptedValues(df: DataFrame, column: String, allowed: Seq[String]): Routed = {
    val ok = col(column).isin(allowed: _*)
    Routed(
      good = df.filter(ok),
      bad = df.filter(!ok || col(column).isNull)
        .withColumn("error_reason", lit(s"unexpected_value:$column"))
    )
  }

  /** V4 threshold gate (spark.json:7, e.g. "30%"): abort when the invalid
    * fraction exceeds the limit. Takes counts, not frames: the caller
    * derives both from whatever it already materialized (the
    * orchestrator takes them from one aggregate over its staged, tagged
    * input). */
  def thresholdGate(goodCount: Long, badCount: Long, limit: Double): Unit = {
    val total = goodCount + badCount
    if (total > 0 && badCount.toDouble / total > limit)
      throw new IllegalStateException(
        f"validation threshold exceeded: $badCount/$total invalid (${badCount.toDouble / total}%.3f > $limit%.3f)")
  }

  /** V3 transformed-count validation (spark.json:66). */
  def countValidation(df: DataFrame, minRows: Long): Long = {
    val n = df.count()
    if (n < minRows)
      throw new IllegalStateException(s"count validation failed: $n rows < expected $minRows")
    n
  }

  /** V5 reconciliation (spark.json:80): re-read the written target and
    * compare row count (and optionally an order-independent content
    * checksum via xor of row hashes) against what we intended to write. */
  def reconcile(written: DataFrame, target: DataFrame, checksum: Boolean = false): Boolean = {
    if (written.count() != target.count()) return false
    if (!checksum) return true
    def sig(df: DataFrame): Long = {
      val cols = df.columns.sorted.toIndexedSeq.map(col)
      df.select(xxhash64(cols: _*).as("h"))
        .agg(expr("bit_xor(h)").as("s")) // xor: order-independent, overflow-free
        .collect()(0).getLong(0)
    }
    sig(written) == sig(target)
  }

  /** V5 extension — Merkle-style RANGE reconciliation: where [[reconcile]]
    * answers "are these tables identical?", this answers "WHICH key ranges
    * differ?", the anti-entropy primitive behind replica repair
    * (Cassandra/Dynamo-style): re-sync ships only the differing leaves'
    * rows, not the table.
    *
    * Leaves: rows bucket by a portable hash of the KEY (so the same row
    * lands in the same leaf on both sides regardless of layout/engine);
    * each leaf's signature is the XOR of portable ROW hashes — XOR is
    * order-independent and overflow-free, so leaf signatures are exact
    * under any partitioning. One shuffle of (leaf, hash) pairs per table,
    * `fanout` rows out. Caller contract: `rowStr` must render doubles
    * through DECIMAL (float formatting is not engine-portable).
    *
    * XOR caveat (inherent to xor sketches, shared with [[reconcile]]'s
    * checksum): an EVEN number of identical rows cancels to 0, so an edit
    * applied to both rows of an identical pair is invisible to the
    * signature (counts still catch adds/drops). Feed unique rows — or
    * include a uniquifier column in `rowStr` — when the table allows
    * full duplicates. */
  def merkleLeaves(df: DataFrame, keyStr: Column, rowStr: Column,
      fanout: Int = 256): DataFrame = {
    require(fanout >= 2 && fanout <= (1 << 20), s"fanout $fanout out of range")
    df.select(
        pmod(graft.functions.PolyHash56(keyStr), lit(fanout.toLong)).as("leaf"),
        graft.functions.PolyHash56(rowStr).as("__h"))
      .groupBy("leaf")
      .agg(expr("bit_xor(__h)").as("xor_hash"), count(lit(1)).as("cnt"))
  }

  /** Differing leaves between two tables' [[merkleLeaves]] trees: full
    * outer join on leaf id, keep leaves whose signature or count
    * disagrees (including leaves present on one side only). */
  def merkleDiff(aLeaves: DataFrame, bLeaves: DataFrame): DataFrame = {
    val a = aLeaves.select(col("leaf"), col("xor_hash").as("a_xor"),
      col("cnt").as("a_cnt"))
    val b = bLeaves.select(col("leaf"), col("xor_hash").as("b_xor"),
      col("cnt").as("b_cnt"))
    a.join(b, Seq("leaf"), "full_outer")
      .filter(not(col("a_xor") <=> col("b_xor")) ||
        not(col("a_cnt") <=> col("b_cnt")))
  }

  /** Multi-level Merkle drill-down: where [[merkleDiff]] localizes drift to
    * 1/`fanout` of the key space, drilling `levels` deep localizes it to
    * 1/`fanout^levels` (2 levels × 256 = 1/65,536) — the granularity a real
    * 100 TB anti-entropy repair ships, at one extra aggregate per level.
    *
    * The level-`k` leaf path is `hash(key) mod fanout^k`: level 1 reads the
    * low `log2(fanout)` bits, level 2 the next ones, so a path PREFIXES its
    * parent — no second hash needed, and the drill filter for "rows in a
    * differing parent" is a single `pmod(h, fanout^(k-1)) IN hot` predicate.
    *
    * Scale shape: level 1 aggregates the full table once (partial-agg'd, ≤
    * `fanout` rows shuffle). Each deeper level re-scans ONLY rows whose
    * parent path differs — the hot-path list is driver-collected (bounded by
    * `fanout^k`, in practice ≈ #edits) and applied as a narrow filter, so a
    * 3-row drift drills through a 100 TB table touching 3/256 then 3/65,536
    * of it. If more than `maxDrillPaths` parents differ the filter is
    * skipped (full re-scan at finer grain — same answer, more IO) rather
    * than building a megabyte `IN` list.
    *
    * Returns the differing deepest-level leaves as
    * `(leaf_1 … leaf_levels, a_xor, b_xor, a_cnt, b_cnt)` where `leaf_i` is
    * the level-`i` bucket on the root→leaf path. Same XOR-cancellation
    * caveat as [[merkleLeaves]]. */
  def merkleDrill(a: DataFrame, b: DataFrame, keyStr: Column, rowStr: Column,
      levels: Int = 2, fanout: Int = 256, maxDrillPaths: Int = 4096): DataFrame = {
    require(levels >= 1 && levels <= 4, s"levels $levels out of range [1,4]")
    require(fanout >= 2 && (fanout & (fanout - 1)) == 0 && fanout <= (1 << 16),
      s"fanout $fanout must be a power of two in [2, 65536]")
    // the tree consumes levels*log2(fanout) bits of the 55-bit key hash;
    // deeper than the hash has bits would alias paths (and overflow mod)
    require(levels * java.lang.Long.numberOfTrailingZeros(fanout.toLong) <= 55,
      s"levels=$levels x fanout=$fanout exceeds the 55-bit hash")
    val keyHash = graft.functions.PolyHash56(keyStr)

    def leavesAt(df: DataFrame, level: Int, hot: Option[Seq[Long]]): DataFrame = {
      val mod = math.pow(fanout.toDouble, level.toDouble).toLong
      val base = hot match {
        case Some(ids) => df.filter(pmod(keyHash, lit(mod / fanout)).isin(ids: _*))
        case None      => df
      }
      base.select(pmod(keyHash, lit(mod)).as("leaf"),
          graft.functions.PolyHash56(rowStr).as("__h"))
        .groupBy("leaf")
        .agg(expr("bit_xor(__h)").as("xor_hash"), count(lit(1)).as("cnt"))
    }

    var level = 1
    var diff = merkleDiff(leavesAt(a, 1, None), leavesAt(b, 1, None))
    var clean = false
    while (level < levels && !clean) {
      // ≤ fanout^level rows, in practice ≈ #differing ranges: bounded scalar
      val parents = diff.select("leaf").collect().map(_.getLong(0)).toSeq
      if (parents.isEmpty) clean = true // nothing to drill into: stop —
      // the common clean-comparison case pays ONE pass, not `levels`
      else {
        val hot = if (parents.length <= maxDrillPaths) Some(parents)
                  else None // huge drift: full finer scan, same answer
        level += 1
        diff = merkleDiff(leavesAt(a, level, hot), leavesAt(b, level, hot))
      }
    }
    // decompose the path id into per-level bucket columns, root first
    val shift = java.lang.Long.numberOfTrailingZeros(fanout.toLong)
    val leafCols = (1 to levels).map(i =>
      pmod(shiftright(col("leaf"), shift * (i - 1)), lit(fanout.toLong))
        .as(s"leaf_$i"))
    diff.select(leafCols ++ Seq(col("a_xor"), col("b_xor"),
      col("a_cnt"), col("b_cnt")): _*)
  }

  /** Key-wise snapshot diff audit: classify every key between two versions
    * of a table as added / removed / changed / unchanged, plus per-column
    * change counts over the changed rows — the migration/CDC-backfill
    * review surface (what a datafold-style "data diff" report shows) that
    * [[reconcile]]'s boolean and [[merkleDiff]]'s range localization both
    * stop short of.
    *
    * Plan: both sides pre-project to keys + compared columns (scan prunes
    * to exactly those), ONE full-outer shuffle join on the key, then a
    * single-row aggregate of codegen'd conditional sums (partial-agg
    * map-side, so the post-join traffic is one row per partition), finally
    * unpivoted to tidy (metric, cnt) rows with `stack`. No UDFs, no second
    * pass over either table. At 100 TB the full-outer join on the primary
    * key is the irreducible cost; if both versions are bucketed by the key
    * (W11 layout) it runs exchange-free.
    *
    * Null semantics: a column change is `NOT (a.c <=> b.c)` — NULL→value
    * and value→NULL count as changes, NULL→NULL does not. */
  def snapshotDiff(a: DataFrame, b: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compareCols.nonEmpty, "keys and compareCols required")
    val proj = (keys ++ compareCols).map(col)
    val aSel = a.select(proj: _*).withColumn("__a", lit(1))
    val bSel = b.select(proj: _*).withColumn("__b", lit(1))
    // alias-qualified join keys: a and b often share lineage (b is "a
    // after edits"), so frame-apply column refs would be ambiguous
    val j = aSel.as("va").join(bSel.as("vb"),
      keys.map(k => col(s"va.$k") <=> col(s"vb.$k")).reduce(_ && _),
      "full_outer")
    val inA = col("__a").isNotNull
    val inB = col("__b").isNotNull
    val colChanged = compareCols.map(c => !(col(s"va.$c") <=> col(s"vb.$c")))
    val anyChanged = colChanged.reduce(_ || _)
    val statusAggs = Seq(
      sum(when(!inA && inB, 1L).otherwise(0L)).as("added"),
      sum(when(inA && !inB, 1L).otherwise(0L)).as("removed"),
      sum(when(inA && inB && anyChanged, 1L).otherwise(0L)).as("changed"),
      sum(when(inA && inB && !anyChanged, 1L).otherwise(0L)).as("unchanged"))
    val colAggs = compareCols.zip(colChanged).map { case (c, ch) =>
      sum(when(inA && inB && ch, 1L).otherwise(0L)).as(s"col_changed:$c") }
    val one = j.agg((statusAggs ++ colAggs).head,
      (statusAggs ++ colAggs).tail: _*)
    val metrics = one.columns
    val stackExpr = metrics.map(m => s"'$m', `$m`").mkString(", ")
    one.selectExpr(s"stack(${metrics.length}, $stackExpr) AS (metric, cnt)")
  }
}
