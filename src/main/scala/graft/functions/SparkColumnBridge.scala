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

  /** A local checkpoint of `df` whose `LogicalRDD` carries EXACT
    * statistics. One job over the lazily checkpointed RDD materializes its
    * blocks and returns each partition's row count, `UnsafeRow` bytes and
    * per-column null counts; the `LogicalRDD` is rebuilt with those as its
    * origin statistics (the null counts as column statistics that hold
    * nothing else), keeping its output, RDD, partitioning and ordering.
    * An eager `localCheckpoint` runs the same one job but carries the origin
    * plan's ESTIMATED statistics instead, which compound in loops that
    * read the previous stage twice (union + anti-join). */
  def localCheckpointWithStats(df: org.apache.spark.sql.Dataset[Row]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    val cp = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].localCheckpoint(false)
    val lr = cp.logicalPlan.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val otherRowBytes = 8L + lr.output.map(_.dataType.defaultSize.toLong).sum
    val width = lr.output.size
    val parts = lr.rdd.sparkContext.runJob(lr.rdd, (it: Iterator[InternalRow]) => {
      var rows, bytes = 0L
      val nulls = new Array[Long](width)
      it.foreach { r =>
        rows += 1
        bytes += (r match { case u: UnsafeRow => u.getSizeInBytes.toLong; case _ => otherRowBytes })
        var i = 0
        while (i < width) { if (r.isNullAt(i)) nulls(i) += 1; i += 1 }
      }
      (rows, bytes, nulls)
    })
    val nulls = parts.map(_._3).foldLeft(new Array[Long](width))((a, b) => a.lazyZip(b).map(_ + _))
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(math.max(1L, parts.map(_._2).sum)),
      rowCount = Some(BigInt(parts.map(_._1).sum)),
      attributeStats = org.apache.spark.sql.catalyst.expressions.AttributeMap(
        lr.output.zip(nulls).map { case (a, n) =>
          a -> org.apache.spark.sql.catalyst.plans.logical.ColumnStat(nullCount = Some(BigInt(n)))
        }))
    val exact = org.apache.spark.sql.execution.LogicalRDD(
      lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, lr.stream)(cp.sparkSession, Some(stats), Some(lr.constraints))
    org.apache.spark.sql.classic.Dataset.ofRows(cp.sparkSession, exact)
  }

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes (−1: off). */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
}
