package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Validations

class ValidationsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("nullKeyCheck routes rows with any null key to bad") {
    val df = Seq(
      (Some(1L), Some("a"), "r1"),
      (None, Some("b"), "r2"),
      (Some(3L), None, "r3"),
      (Some(4L), Some("d"), "r4")
    ).toDF("k1", "k2", "payload")
    val r = Validations.nullKeyCheck(df, Seq("k1", "k2"))
    assert(r.good.select("payload").as[String].collect().sorted.toSeq == Seq("r1", "r4"))
    assert(r.bad.select("payload").as[String].collect().sorted.toSeq == Seq("r2", "r3"))
    assert(r.bad.columns.contains("error_reason"))
  }

  test("dedup keeps exactly the first row per key by orderBy desc") {
    val df = Seq(
      (1L, 3, "keep1"), (1L, 1, "drop"), (1L, 2, "drop"),
      (2L, 9, "keep2"),
      (3L, 1, "keep3"), (3L, 1, "dup-tie")
    ).toDF("k", "ord", "tag")
    val r = Validations.dedup(df, Seq("k"), Seq("ord", "tag"))
    val kept = r.good.select("tag").as[String].collect().sorted.toSeq
    assert(kept == Seq("keep1", "keep2", "keep3"))
    assert(r.bad.count() == 3)
    // idempotence: dedup of deduped output changes nothing
    val again = Validations.dedup(r.good, Seq("k"), Seq("ord", "tag"))
    assert(again.bad.count() == 0)
  }

  test("thresholdGate fires only above the limit") {
    Validations.thresholdGate(goodCount = 70, badCount = 30, limit = 0.30) // 30% == limit: pass
    intercept[IllegalStateException] {
      Validations.thresholdGate(goodCount = 69, badCount = 31, limit = 0.30)
    }
  }

  test("countValidation enforces a minimum row count") {
    assert(Validations.countValidation(5L, 5) == 5L)
    intercept[IllegalStateException] { Validations.countValidation(5L, 6) }
  }

  test("refIntegrityCheck routes orphan FKs, passes NULL FKs through") {
    val parent = Seq((1L, "p1"), (2L, "p2")).toDF("pk", "name")
    val child = Seq(
      (10L, Some(1L)), (11L, Some(2L)), (12L, Some(9L)), (13L, None)
    ).toDF("id", "fk")
    val r = Validations.refIntegrityCheck(child, parent, Seq("fk" -> "pk"))
    assert(r.bad.select("id").as[Long].collect().toSeq === Seq(12L))
    assert(r.good.select("id").as[Long].collect().sorted.toSeq === Seq(10L, 11L, 13L))
    assert(r.bad.columns.contains("error_reason"))
  }

  test("acceptedValues flags out-of-domain values and NULLs") {
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("zz")), (4L, None))
      .toDF("id", "v")
    val r = Validations.acceptedValues(df, "v", Seq("a", "b"))
    assert(r.bad.select("id").as[Long].collect().sorted.toSeq === Seq(3L, 4L))
    assert(r.good.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("histogram buckets a declared domain with clamped edges") {
    val df = Seq(-5.0, 0.0, 9.9, 10.0, 55.0, 99.9, 100.0, 150.0).toDF("v")
    // domain [0, 100), 10 buckets: -5 and 150 dropped, 100 clamps to bucket 9
    val h = graft.x.Profiler.histogram(df, "v", nBuckets = 10, lo = 0.0, hi = 100.0)
      .orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(h === Seq(
      (0, 0.0, 10.0, 2L),   // 0.0, 9.9
      (1, 10.0, 20.0, 1L),  // 10.0
      (5, 50.0, 60.0, 1L),  // 55.0
      (9, 90.0, 100.0, 2L)  // 99.9, 100.0 (clamped)
    ))
  }

  test("correlationMatrix matches known correlations and is partition-invariant") {
    // y = 2x exactly → corr 1; z anti-correlated with x → corr -1
    val df = (1 to 100).map(i => (i.toDouble, 2.0 * i, 101.0 - i)).toDF("x", "y", "z")
    val c = graft.x.Profiler.correlationMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(c(("x", "y")) === 1.0)
    assert(c(("x", "z")) === -1.0)
    assert(c(("y", "z")) === -1.0)
    // bit-identical under repartitioning (exact integer moments)
    val again = graft.x.Profiler.correlationMatrix(df.repartition(13), Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(c === again)
  }

  test("standardize z-scores per group, nulls degenerate groups, partition-invariant") {
    val df = Seq(
      ("a", 10.0), ("a", 20.0), ("a", 30.0), // mean 20, σ 10 → z = -1, 0, 1
      ("b", 5.0), ("b", 5.0),                // zero variance → NULL
      ("c", 42.0)                            // n = 1 → NULL
    ).toDF("g", "v")
    val z = graft.x.Profiler.standardize(df, "v", Seq("g"))
    val a = z.filter($"g" === "a").orderBy("v")
      .select("v_z").as[Double].collect().toSeq
    assert(a === Seq(-1.0, 0.0, 1.0))
    assert(z.filter($"g" =!= "a").filter($"v_z".isNotNull).count() === 0)
    val again = graft.x.Profiler.standardize(df.repartition(7), "v", Seq("g"))
      .filter($"g" === "a").orderBy("v").select("v_z").as[Double].collect().toSeq
    assert(a === again)
  }

  test("winsorize clips to the interpolated quantiles and keeps the original") {
    // 0..100: P10 = 10.0, P90 = 90.0 (exact interpolation on the 101-point grid)
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val w = graft.x.Profiler.winsorize(df, "v", 0.10, 0.90)
    assert(w.agg(min("v_w"), max("v_w")).head() ===
      org.apache.spark.sql.Row(10.0, 90.0))
    // interior values untouched; original column still present
    assert(w.filter($"v" === 50.0).select("v_w").head().getDouble(0) === 50.0)
    assert(w.filter($"v" === 0.0).select("v_w").head().getDouble(0) === 10.0)
    assert(w.columns.contains("v"))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged with " +
      "per-column change counts and NULL-safe comparison") {
    val a = Seq(
      (1, Some("a"), Some(10)), // unchanged
      (2, Some("b"), Some(20)), // v2 changes
      (3, None: Option[String], Some(30)), // v1 NULL -> value: changed
      (4, Some("d"), None: Option[Int]), // removed in b
      (5, None: Option[String], None: Option[Int]) // NULLs equal: unchanged
    ).toDF("id", "v1", "v2")
    val b = Seq(
      (1, Some("a"), Some(10)),
      (2, Some("b"), Some(99)),
      (3, Some("c"), Some(30)),
      (5, None: Option[String], None: Option[Int]),
      (6, Some("f"), Some(60)) // added
    ).toDF("id", "v1", "v2")
    val got = Validations.snapshotDiff(a, b, Seq("id"), Seq("v1", "v2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "added" -> 1L, "removed" -> 1L, "changed" -> 2L, "unchanged" -> 2L,
      "col_changed:v1" -> 1L, "col_changed:v2" -> 1L))
    // self-diff is all-unchanged even when b shares a's lineage
    val self = Validations.snapshotDiff(a, a, Seq("id"), Seq("v1", "v2"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(self("unchanged") === 5L && self("added") === 0L &&
      self("removed") === 0L && self("changed") === 0L)
  }

  test("reconcile compares counts and content checksums order-independently") {
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "v")
    val shuffled = a.orderBy(rand(seed = 7))
    assert(Validations.reconcile(a, shuffled, checksum = true))
    val tampered = Seq((1, "x"), (2, "y"), (3, "Z")).toDF("id", "v")
    assert(!Validations.reconcile(a, tampered, checksum = true))
    assert(!Validations.reconcile(a, a.limit(2)))
  }
}
