/** Bridge into Spark's classic Column <-> Expression conversion, which is
  * `private[sql]` at the Scala level in Spark 4 (the Column class itself no
  * longer exposes `.expr`). Declared under org.apache.spark.sql so the
  * access qualifier admits it — the one place this library steps inside
  * Spark's package namespace, kept deliberately minimal. */
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime function registration on a live session — the same
    * FunctionRegistry write `SparkSessionExtensions.injectFunction` does at
    * session build time, for callers that receive an already-built session
    * (the Orchestrator's contract). `sessionState` is `@Unstable` rather
    * than private, but the classic-session downcast belongs here with the
    * rest of the internal-API surface. */
  def registerFunction(
      spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** The local-checkpoint RDDs `df`'s plan reads (a staged frame is one). */
  def checkpointRdds(df: org.apache.spark.sql.Dataset[Row]): Seq[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].logicalPlan
      .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }

  /** Drop a checkpointed frame's PRESERVED statistics when they are
    * garbage (r14, found by the `[scale-graph]` probe). Spark 4's
    * `Dataset.localCheckpoint` truncates lineage but carries the ORIGIN
    * plan's estimated `Statistics` onto the `LogicalRDD`
    * (`LogicalRDD.fromDataset` → `rewriteStatsAndConstraints`,
    * unconditionally). In an iterative operator whose next plan
    * references the previous checkpoint MORE THAN ONCE (union with an
    * anti-join against the accumulated set — the SCC closure, kCore,
    * bfsHops shape), the estimated sizeInBytes therefore SQUARES per
    * iteration: by depth ~20 the preserved BigInt has millions of digits
    * and Catalyst's stats visitor spends MINUTES in
    * `BigInteger.multiply` per planning pass — measured 20+ min of
    * driver CPU on a 200k-edge graph whose execution takes seconds.
    *
    * The threshold is the estimate's BIT LENGTH, not a size cutoff:
    * merely-overflowed estimates (a 3-way join of modest scans crosses
    * 8 EiB immediately) are routine, harmless — an estimate that large
    * never broadcasts, and stripping it would ALSO strip downstream
    * frames' realistic broadcast hints (measured: 7 bench queries
    * regressed 2× when r14 first capped at Long.MaxValue) — so those
    * are KEPT, and only estimates past 2^1024 bytes (~10^308 — beyond
    * IEEE double, reachable only by a multiplicative feedback loop) are
    * dropped. Squaring then self-limits: digits double per iteration
    * from the 63-bit default, cross the threshold within ~5 iterations,
    * reset — BigInts stay ≤ ~2 kbit forever, and planning stays O(plan). */
  def capCheckpointStats(df: org.apache.spark.sql.Dataset[Row]): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.logicalPlan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.stats.sizeInBytes.bitLength > 1024 =>
        val stripped = org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(ds.sparkSession, None, None)
        org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, stripped)
      case _ => ds
    }
  }
}
