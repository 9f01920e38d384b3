package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped executor-tuning knobs for operators whose hot aggregation is a
  * custom object aggregate (`TypedImperativeAggregate` — LPA's `mode`,
  * HyperBall's packed-register max).
  *
  * Why this exists ([scale-graph2], r15): `ObjectHashAggregateExec` falls
  * back from hash to SORT-based aggregation once a partition's hash map
  * holds `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * groups — and the default is 128, a guard sized for UNBOUNDED buffers
  * like collect_list. A per-node aggregation has groups ≈ nodes, so at
  * any real scale every partition blows through 128 immediately and the
  * whole round pays an external sort of the edge-sized input PLUS
  * per-row buffer serialization. Measured at the 16× probe scale
  * (1.6 M nodes, 6.4 M edges, local[32]): one LPA mode round 2673 s CPU
  * → 410 s with the threshold raised (6.5×); one HyperBall hop 368 s →
  * 105 s (3.5×). At fixture scale nothing crosses 128 per partition
  * often enough to notice — the classic invisible-at-small-SF defect the
  * probes exist to catch.
  *
  * Safety: raising the threshold trades the sort for hash-map residency,
  * so it is ONLY correct for aggregates whose per-group buffer is
  * BOUNDED — LPA's mode map is capped by a node's distinct neighbor
  * labels (≤ degree), HyperBall's register array is a fixed 256 bytes.
  * [[maxHashGroups]] (2^20) bounds worst-case residency at
  * ~2^20 × ~0.5 KB ≈ 0.5 GB per partition; a deployment whose partitions
  * hold MORE groups than that still degrades to the (correct, slower)
  * sort fallback instead of OOMing. Never use this around unbounded
  * buffers (collect_list/collect_set).
  */
object Tuning {
  private val FallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Hash-aggregation group budget per partition for BOUNDED object
    * aggregates: past this, ObjectHashAggregate's sort fallback is the
    * right memory protection again. */
  val maxHashGroups: Int = 1 << 20

  /** Run `body` (plan + EXECUTE — the exec captures the conf at planning,
    * so any job the body triggers must start inside the scope) with the
    * object-agg fallback threshold raised to [[maxHashGroups]]; always
    * restores the previous value.
    *
    * Session-conf caveat: confs are session-wide, so a CONCURRENT query
    * planned inside this scope also sees the raised threshold. That is
    * benign here — the raise only trades sort for
    * bounded hash residency — but it is why this helper sets a bounded
    * constant rather than taking an arbitrary caller value. */
  def withBoundedObjectAgg[A](spark: SparkSession)(body: => A): A = {
    val prev = spark.conf.getOption(FallbackKey)
    spark.conf.set(FallbackKey, maxHashGroups.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(FallbackKey, v)
      case None    => spark.conf.unset(FallbackKey)
    }
  }
}
