package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Scd2
import java.sql.Timestamp

/** SCD2 semantics pinned in SURVEY.md §7.3, including the property-style
  * invariants over a random update stream: one current row per key,
  * non-overlapping gapless version intervals, idempotent re-merge. */
class Scd2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private def snapshot(rows: Seq[(Long, String, Double)]): DataFrame =
    rows.toDF("id", "name", "bal")

  test("merge classifies unchanged / changed / new keys") {
    val dim = Scd2.initialize(snapshot(Seq((1L, "a", 10.0), (2L, "b", 20.0))), ts("2024-01-01"))
    val staged = snapshot(Seq((1L, "a", 10.0), (2L, "b", 99.0), (3L, "c", 30.0)))
    val out = Scd2.merge(dim, staged, Seq("id"), Seq("name", "bal"), ts("2024-06-01"))

    // key 1 unchanged: single current row, original effective_from
    val k1 = out.filter($"id" === 1).collect()
    assert(k1.length == 1 && k1(0).getAs[Boolean](Scd2.IsCurrent))
    assert(k1(0).getAs[Timestamp](Scd2.EffectiveFrom) == ts("2024-01-01"))
    // key 2 changed: closed old version + new current
    val k2 = out.filter($"id" === 2).orderBy(Scd2.EffectiveFrom).collect()
    assert(k2.length == 2)
    assert(!k2(0).getAs[Boolean](Scd2.IsCurrent) &&
      k2(0).getAs[Timestamp](Scd2.EffectiveTo) == ts("2024-06-01"))
    assert(k2(1).getAs[Boolean](Scd2.IsCurrent) && k2(1).getAs[Double]("bal") == 99.0)
    // key 3 new: one current row effective from the batch
    val k3 = out.filter($"id" === 3).collect()
    assert(k3.length == 1 && k3(0).getAs[Boolean](Scd2.IsCurrent) &&
      k3(0).getAs[Timestamp](Scd2.EffectiveFrom) == ts("2024-06-01"))
  }

  test("NULL business keys are legal values, not dropped (null-safe join)") {
    val dim = Scd2.initialize(
      Seq((Option(1L), "a", 10.0), (Option.empty[Long], "nullkey", 20.0))
        .toDF("id", "name", "bal"), ts("2024-01-01"))
    val staged = Seq((Option(1L), "a", 10.0), (Option.empty[Long], "nullkey", 99.0))
      .toDF("id", "name", "bal")
    val out = Scd2.merge(dim, staged, Seq("id"), Seq("name", "bal"), ts("2024-06-01"))
    // the NULL-key row changed: closed + reopened, nothing silently lost
    val nk = out.filter($"id".isNull).orderBy(Scd2.EffectiveFrom).collect()
    assert(nk.length == 2)
    assert(!nk(0).getAs[Boolean](Scd2.IsCurrent) && nk(0).getAs[Double]("bal") == 20.0)
    assert(nk(1).getAs[Boolean](Scd2.IsCurrent) && nk(1).getAs[Double]("bal") == 99.0)
    assert(out.count() == 3)
  }

  test("re-merging the same batch is a no-op (idempotency / P3 backstop)") {
    val dim = Scd2.initialize(snapshot(Seq((1L, "a", 10.0), (2L, "b", 20.0))), ts("2024-01-01"))
    val staged = snapshot(Seq((1L, "a", 11.0), (2L, "b", 20.0)))
    val once = Scd2.merge(dim, staged, Seq("id"), Seq("name", "bal"), ts("2024-02-01"))
    val twice = Scd2.merge(once, staged, Seq("id"), Seq("name", "bal"), ts("2024-03-01"))
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("invariants hold over a random multi-batch update stream") {
    val rnd = new scala.util.Random(42)
    val keys = (1L to 40L)
    var dim = Scd2.initialize(
      snapshot(keys.map(k => (k, s"n$k", 100.0))), ts("2024-01-01"))
    val batchDates = Seq("2024-02-01", "2024-03-01", "2024-04-01", "2024-05-01")
    batchDates.foreach { d =>
      // each batch mutates a random ~third of keys and adds one new key
      val staged = snapshot(
        keys.map(k => (k, s"n$k", if (rnd.nextDouble() < 0.33) rnd.nextInt(1000).toDouble else 100.0)) :+
        ((1000L + rnd.nextInt(100000), "fresh", 1.0)))
      dim = Scd2.merge(dim, staged, Seq("id"), Seq("name", "bal"), ts(d))
      dim = dim.localCheckpoint() // keep the growing plan from re-deriving randoms
    }
    val cur = dim.filter(col(Scd2.IsCurrent))
    // (a) exactly one current row per key
    assert(cur.groupBy("id").count().filter($"count" =!= 1).isEmpty)
    // every key's latest version is the current one
    assert(dim.groupBy("id").agg(max(Scd2.EffectiveFrom).as("m")).count() == cur.count())
    // (b) per key: intervals non-overlapping and gapless (prev.effective_to == next.effective_from)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy(Scd2.EffectiveFrom)
    val gaps = dim
      .withColumn("next_from", lead(Scd2.EffectiveFrom, 1).over(w))
      .filter(col("next_from").isNotNull)
      .filter(col(Scd2.EffectiveTo).isNull || col(Scd2.EffectiveTo) =!= col("next_from"))
    assert(gaps.isEmpty, "found overlapping or gapped version intervals")
    // closed rows are exactly the non-current ones
    assert(dim.filter(!col(Scd2.IsCurrent) && col(Scd2.EffectiveTo).isNull).isEmpty)
  }

  test("the batch timestamp is exact to the microsecond, codegen'd or " +
    "interpreted, and stays an expression in the optimized plan") {
    import org.apache.spark.sql.Row
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00.000001")
    val t1 = Timestamp.valueOf("2024-06-01 12:34:56.123456")
    def merged = Scd2.merge(
      Scd2.initialize(snapshot(Seq((1L, "a", 10.0), (2L, "b", 20.0))), t0),
      snapshot(Seq((1L, "a", 10.0), (2L, "b", 99.0), (3L, "c", 30.0))),
      Seq("id"), Seq("name", "bal"), t1)
    // what the literal-timestamp merge wrote
    val want = Set(
      Row(1L, "a", 10.0, t0, null, true),
      Row(2L, "b", 20.0, t0, t1, false),
      Row(2L, "b", 99.0, t1, null, true),
      Row(3L, "c", 30.0, t1, null, true))
    assert(merged.collect().toSet == want)
    val interpreted = Map(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")
    val prev = interpreted.keys.map(k => k -> spark.conf.getAll.get(k)).toMap
    try {
      interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(merged.collect().toSet == want)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t1)
    val bound = merged.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.exists(_.exists(_ == graft.functions.BoundTimestamp(micros)))
    }
    assert(bound.contains(true), "the batch timestamp was folded out of the plan")
  }

  test("a second merge of the same shape at a new batch timestamp compiles no new classes") {
    val dim = Scd2.initialize(snapshot(Seq((1L, "a", 10.0), (2L, "b", 20.0))), ts("2024-01-01"))
    val staged = snapshot(Seq((1L, "a", 11.0), (3L, "c", 30.0)))
    def mergeAt(d: String) =
      Scd2.merge(dim, staged, Seq("id"), Seq("name", "bal"), ts(d)).collect()
    mergeAt("2024-02-01")
    val c0 = graft.util.HostMetrics.codegenCompiles()
    assert(mergeAt("2024-03-01").length == 4)
    assert(graft.util.HostMetrics.codegenCompiles() - c0 == 0)
  }
}
