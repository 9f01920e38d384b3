package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.util.Staging
import graft.x.Graph

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Staging that records each staged frame's physical plan before
    * delegating to the real local checkpoint — the only way to see a
    * round's plan, since the returned frame is itself already staged. */
  private class PlanCapture extends Staging {
    val plans = scala.collection.mutable.LinkedHashMap[String, SparkPlan]()
    override def stage(df: DataFrame, hint: String): DataFrame = {
      plans(hint) = df.queryExecution.executedPlan
      Staging.LocalCheckpoint.stage(df, hint)
    }
  }

  /** Shuffles sitting DIRECTLY over the (projected/filtered/sorted) edge
    * scan — i.e. a re-shuffle of the static edge side. Shuffles above a
    * join/agg that merely CONTAIN the scan deeper down don't count; a
    * path through a PARTIAL-mode aggregate doesn't either (what moves
    * after a map-side combine is combine-reduced, not data-sized). The
    * exemption is restricted to Partial mode (or group-only distinct
    * nodes, whose partial phase combines the same way): a Final/Complete
    * aggregate on the path stays TRANSPARENT, so a data-sized exchange
    * stacked above an already-aggregated edge frame is still flagged —
    * group-by-(src,dst)-like aggs guarantee no key reduction. */
  private def edgeSideShuffles(plan: SparkPlan,
      scanCols: Seq[String] = Seq("src", "dst")): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    def isPartialOnly(a: BaseAggregateExec): Boolean =
      a.aggregateExpressions.forall(_.mode == Partial)
    def unaryPathToEdgeScan(p: SparkPlan): Boolean = p match {
      case r: RDDScanExec => r.output.map(_.name) == scanCols
      case a: HashAggregateExec =>
        if (isPartialOnly(a)) false else unaryPathToEdgeScan(a.child)
      case a: ObjectHashAggregateExec =>
        if (isPartialOnly(a)) false else unaryPathToEdgeScan(a.child)
      case a: SortAggregateExec =>
        if (isPartialOnly(a)) false else unaryPathToEdgeScan(a.child)
      case u if u.children.size == 1 => unaryPathToEdgeScan(u.children.head)
      case _ => false
    }
    plan.collect {
      case s: ShuffleExchangeExec if unaryPathToEdgeScan(s.child) => s
    }
  }

  private def hasEdgeScan(plan: SparkPlan,
      scanCols: Seq[String] = Seq("src", "dst")): Boolean =
    plan.collect {
      case r: RDDScanExec if r.output.map(_.name) == scanCols => r
    }.nonEmpty

  test("pageRank: exact match to a scalar integer reference; layout-invariant; mass-conserving") {
    import spark.implicits._
    // self-loop (2,2) must drop, duplicate (2,3) must dedup, 6 is dangling
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 1L),
      (1L, 4L), (2L, 2L), (2L, 3L), (1L, 6L))
    val got = Graph.pageRank(raw.toDF("src", "dst"), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // the identical recurrence, scalar Longs (Scala / is floor on non-negatives)
    val edges = raw.filter(e => e._1 != e._2).distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val od = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = 1000000000L / n
    var ref = nodes.map(_ -> base).toMap
    for (_ <- 1 to 4) {
      val dang = nodes.filterNot(od.contains).map(ref).sum
      val inc = edges.groupBy(_._2).view
        .mapValues(_.map(e => ref(e._1) / od(e._1)).sum).toMap
      ref = nodes.map(v =>
        v -> ((15L * base + 85L * (inc.getOrElse(v, 0L) + dang / n)) / 100L)).toMap
    }
    assert(got == ref, s"got $got\nref $ref")
    // dangling node received teleport + redistributed mass, not zero
    assert(got(6L) > 0L)
    // hub 1 (three in-edges) outranks everything
    assert(got(1L) == got.values.max)

    // exact integers ⇒ bit-identical under any partitioning
    val got2 = Graph.pageRank(raw.toDF("src", "dst").repartition(7), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)

    // div flooring leaks < 1 nano per node per round; mass otherwise conserved
    val total = got.values.sum
    assert(total <= 1000000000L && total >= 1000000000L - 5 * n * 100,
      s"mass off: $total")
  }

  test("personalizedPageRank: scalar reference; seed locality; layout-invariant") {
    import spark.implicits._
    // seed component {1,2,3} cycle + tail 3->4; disconnected pair 10->11
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L))
    val got = Graph.personalizedPageRank(raw.toDF("src", "dst"), "src", "dst",
        seeds = Seq(1L), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // identical recurrence in scalar Longs, teleport/restart only to seed 1
    val edges = raw.distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val od = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = 1000000000L
    var ref = nodes.map(v => v -> (if (v == 1L) base else 0L)).toMap
    for (_ <- 1 to 4) {
      val dang = nodes.filterNot(od.contains).map(ref).sum
      val inc = edges.groupBy(_._2).view
        .mapValues(_.map(e => ref(e._1) / od(e._1)).sum).toMap
      ref = nodes.map(v => v -> (((if (v == 1L) 15L * base else 0L) +
        85L * (inc.getOrElse(v, 0L) + (if (v == 1L) dang else 0L))) / 100L)).toMap
    }
    assert(got == ref, s"got $got\nref $ref")
    // mass never reaches the disconnected component; seed holds the max
    assert(got(10L) === 0L && got(11L) === 0L)
    assert(got(1L) == got.values.max)
    // walk distance ordering within the component: 2 (1 hop) > 4 (2 hops
    // via the 3-split); everything reachable from the seed has mass
    assert(got(2L) > got(4L) && got(3L) > 0L && got(4L) > 0L)

    val got2 = Graph.personalizedPageRank(raw.toDF("src", "dst").repartition(5),
        "src", "dst", seeds = Seq(1L), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("hyperBall: corrected estimates track exact ball sizes; layout-invariant") {
    import spark.implicits._
    // directed path 1->2->3->4: exact Σ|ball(v,h)| = 4, 7, 9, 10
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got = Graph.hyperBall(raw.toDF("src", "dst"), "src", "dst", maxHops = 3)
      .orderBy("h").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq === Seq(0, 1, 2, 3))
    assert(got.forall(_._2 == 4L))
    val exact = Seq(4.0, 7.0, 9.0, 10.0)
    got.zip(exact).foreach { case ((h, _, tot), ex) =>
      assert(math.abs(tot - ex) / ex < 0.05,
        s"h=$h total_reach $tot should be within 5% of $ex")
    }
    // neighborhood function is monotone
    assert(got.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
    val got2 = Graph.hyperBall(raw.toDF("src", "dst").repartition(5),
        "src", "dst", maxHops = 3)
      .orderBy("h").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got2.toSeq === got.toSeq)
  }

  test("triangles: exact counts, dedup/self-loop hygiene, hub-skew orientation") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant 5—1,
    // a duplicate edge, a reversed duplicate, and a self-loop
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (2L, 1L), (3L, 2L), (4L, 4L))
    val got = Graph.triangles(raw.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((4L, 3L, 0.5)))        // deg 4 (K4 + pendant), C(4,2)=6 → 3/6
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((3L, 3L, 1.0)))
    assert(got(4L) == ((3L, 3L, 1.0)))
    assert(got(5L) == ((1L, 0L, 0.0)))
    // global count: Σ per-node / 3
    assert(got.values.map(_._2).sum == 12L)
  }

  test("bipartiteProject: co-occurrence weights, degree cap drops whole keys") {
    import spark.implicits._
    val m = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (11L, 2L),                              // duplicate membership dedups
      (12L, 1L), (12L, 2L), (12L, 3L), (12L, 4L))
    val got = Graph.bipartiteProject(m.toDF("order", "part"), "order", "part")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 3L && got((1L, 3L)) == 2L && got((2L, 3L)) == 2L
      && got((3L, 4L)) == 1L)
    // cap 3: order 12 (degree 4) drops entirely; its exclusive pairs vanish
    val capped = Graph.bipartiteProject(m.toDF("order", "part"), "order", "part",
      maxLeftDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!capped.contains((3L, 4L)) && capped((1L, 2L)) == 2L)
    val audit = Graph.oversizedLeftKeys(m.toDF("order", "part"), "order", "part", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(audit.toSeq == Seq(12L -> 4L))
    // degree-1 left keys emit no pairs and are dropped by the r15
    // explode rewrite's >= 2 guard — output-identical to the join form
    val withSingleton = (m :+ (13L, 9L)).toDF("order", "part")
    val single = Graph.bipartiteProject(withSingleton, "order", "part")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(single == got, s"singleton key changed the projection: $single")
  }

  test("associationRules: hand-checked supports, confidence, lift; minSupport prunes") {
    import spark.implicits._
    // b1{A,B,C} b2{A,B} b3{A,C} b4{B,D} (+1 duplicate membership to dedup)
    val m = Seq((1L, "A"), (1L, "B"), (1L, "C"), (2L, "A"), (2L, "B"),
      (2L, "B"), (3L, "A"), (3L, "C"), (4L, "B"), (4L, "D"))
    val got = Graph.associationRules(m.toDF("basket", "item"), "basket", "item",
        minSupport = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)), (r.getDouble(5), r.getDouble(6))))
      .toMap
    // pairs below minSupport ((B,C), (B,D)) emit no rule in either direction
    assert(got.keySet == Set(("A", "B"), ("B", "A"), ("A", "C"), ("C", "A")))
    assert(got(("A", "B")) == (((2L, 3L, 3L), (2.0 / 3.0, 8.0 / 9.0))))
    assert(got(("B", "A")) == (((2L, 3L, 3L), (2.0 / 3.0, 8.0 / 9.0))))
    assert(got(("A", "C")) == (((2L, 3L, 2L), (2.0 / 3.0, 4.0 / 3.0))))
    assert(got(("C", "A")) == (((2L, 2L, 3L), (1.0, 4.0 / 3.0))))
  }

  test("adamicAdar: scores non-edges only, hand-checked weights, hub cap") {
    import spark.implicits._
    // path 1-2-3-4: candidates (1,3) via center 2 and (2,4) via center 3
    // (both centers have degree 2); (1,4) has no common neighbor
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val rows = Graph.adamicAdar(raw.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet === Set((1L, 3L), (2L, 4L)))
    val t2 = BigDecimal(1.0 / math.log(2.0)).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows((1L, 3L))._1 === 1L && math.abs(rows((1L, 3L))._2 - t2) < 1e-9)
    assert(rows((2L, 4L))._1 === 1L && math.abs(rows((2L, 4L))._2 - t2) < 1e-9)
    // a candidate with TWO common neighbors sums both terms: square
    // 1-2-5-3-1 gives (2,3)... use 4-cycle 1-2,2-3,3-4,4-1: (1,3) via
    // centers 2 and 4 (deg 2 each) -> aa = 2/ln(2)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val c = Graph.adamicAdar(cyc.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(c((1L, 3L))._1 === 2L && math.abs(c((1L, 3L))._2 - 2 * t2) < 1e-9)
    // existing edges are never candidates; hub cap drops the K4 center
    val star = (2L to 9L).map(i => (1L, i)) // star: all wedges through hub 1
    val capped = Graph.adamicAdar(star.toDF("src", "dst"), "src", "dst",
      maxCenterDegree = 4)
    assert(capped.count() === 0L, "hub above the cap contributes no wedges")
  }

  test("frequentTriples: hand-checked supports; Apriori prune is lossless") {
    import spark.implicits._
    // baskets: {1,2,3} x3, {1,2,3,4} x1, {5,6,7} x1, {1,2} x1
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 1L), (12L, 2L), (12L, 3L),
      (13L, 1L), (13L, 2L), (13L, 3L), (13L, 4L),
      (14L, 5L), (14L, 6L), (14L, 7L),
      (15L, 1L), (15L, 2L))
    val df = rows.toDF("b", "i")
    val got = Graph.frequentTriples(df, "b", "i", minSupport = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getLong(3), r.getDouble(4))).toSeq
    // only (1,2,3) reaches support 2 (it has 4); {5,6,7} appears once,
    // triples with 4 appear once — all pruned
    assert(got.map(t => (t._1, t._2)) === Seq(((1L, 2L, 3L), 4L)))
    assert(math.abs(got.head._3 - 4.0 / 6.0) < 1e-12)
    // minSupport=1 recovers every triple the naive expansion would emit
    val all = Graph.frequentTriples(df, "b", "i", minSupport = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = rows.groupBy(_._1).values.flatMap { bs =>
      bs.map(_._2).distinct.sorted.combinations(3).map {
        case Seq(a, b, c) => (a, b, c) }
    }.toSet
    assert(all === naive, s"got $all expected $naive")
  }

  test("kCore peels with cascade to the exact fixpoint") {
    import spark.implicits._
    // triangle {1,2,3} + a chain 3—4—5: k=2 must drop 5, CASCADE-drop 4
    // (its degree falls to 1 only after 5 leaves), and keep the triangle
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val got = Graph.kCore(raw.toDF("src", "dst"), "src", "dst", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree: empty core
    assert(Graph.kCore(raw.toDF("src", "dst"), "src", "dst", k = 10).isEmpty)
  }

  test("broadcast-gated operators: shuffled joins at threshold -1, same results") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // spark.sql.autoBroadcastJoinThreshold = -1 closes every
    // Staging.broadcastIfSmall gate, forcing the five operators onto their
    // shuffled-join fallbacks (the 100 TB big-side branch): no gated join
    // may plan as a BroadcastHashJoin, and every result must equal the
    // default-threshold run, whose gates broadcast
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val baskets = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (11L, 3L), (12L, 1L), (12L, 2L), (12L, 3L), (12L, 4L)).toDF("b", "i")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L)).toDF("node", "label")
    val prefs = Seq((1L, 2L, 2L), (2L, 1L, 1L), (1L, 3L, 1L), (3L, 2L, 1L)).toDF("w", "l", "n")
    def runAll(): Seq[(String, Seq[String], Seq[SparkPlan])] = {
      def run(name: String)(f: Staging => DataFrame) = {
        val cap = new PlanCapture
        val out = f(cap)
        (name, out.collect().map(_.toString).sorted.toSeq,
          cap.plans.values.toSeq :+ out.queryExecution.executedPlan)
      }
      Seq(
        run("frequentTriples")(st => Graph.frequentTriples(baskets, "b", "i",
          minSupport = 2, staging = st)),
        run("kCore")(st => Graph.kCore(edges, "src", "dst", k = 2, staging = st)),
        run("bfsHops")(st => Graph.bfsHops(edges, "src", "dst", Seq(1L),
          maxHops = 3, staging = st)),
        run("modularity")(st => Graph.modularity(edges, "src", "dst",
          Staging.LocalCheckpoint.stage(labels, "labels"), staging = st)),
        run("bradleyTerry")(st => graft.x.EventAnalytics.bradleyTerry(prefs,
          "w", "l", "n", iters = 3, staging = st)))
    }
    def bhj(plans: Seq[SparkPlan]) =
      plans.map(_.collect { case j: BroadcastHashJoinExec => j }.size).sum
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val bc = runAll()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sh = runAll()
      bc.zip(sh).foreach { case ((name, bcRows, bcPlans), (_, shRows, shPlans)) =>
        assert(bcRows.nonEmpty, s"$name: empty result")
        assert(bcRows == shRows, s"$name fallback diverged: broadcast=$bcRows shuffled=$shRows")
        assert(bhj(bcPlans) > 0, s"$name: no broadcast join at the default threshold")
        assert(bhj(shPlans) == 0, s"$name planned a BroadcastHashJoin with the " +
          s"threshold off:\n${shPlans.mkString("\n")}")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("degreeAssortativity: exact closed form on a hand-checked graph") {
    import spark.implicits._
    // star 1—{2,3,4}: every edge links deg 3 to deg 1 → r = −1 exactly
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val r = Graph.degreeAssortativity(star.toDF("src", "dst"), "src", "dst")
      .collect()(0)
    assert(r.getLong(0) == 3L && r.getDouble(1) == -1.0)
  }

  test("edgeNeighborScores: common neighbors credit all three triangle edges") {
    import spark.implicits._
    // K4 on {1,2,3,4} + pendant 5—1: every K4 edge has the other two
    // nodes as common neighbors; the pendant edge has none
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L))
    val got = Graph.edgeNeighborScores(raw.toDF("src", "dst"), "src", "dst")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // edge (2,3): common {1,4}; union = deg2+deg3−2−common = 3+3−2−2 = 2
    assert(got((2L, 3L)) == ((2L, 3L, 3L, 1.0)))
    // edge (1,2): deg1 = 4 (pendant), union = 4+3−2−2 = 3 → 2/3
    assert(got((1L, 2L)) == ((2L, 4L, 3L, 2.0 / 3.0)))
    // pendant edge (1,5): no common neighbors, guard yields 0.0
    assert(got((1L, 5L)) == ((0L, 4L, 1L, 0.0)))
  }

  test("labelPropagation: two cliques converge to their min labels; layout-invariant") {
    import spark.implicits._
    // clique {1,2,3} bridged to clique {10,11,12} by one edge 3-10
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: every node takes its neighborhood min → clique mins spread
    // rounds 2-3: stable communities {1,2,3}→1 and {10,11,12}→min-reachable
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(Set(got(10L), got(11L), got(12L)).size == 1,
      s"right clique split: $got")
    val shuffled = Graph.labelPropagation(edges.repartition(7), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == got)
  }

  test("iterative rounds never re-shuffle the staged edge side (pageRank + LPA)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 1L),
      (1L, 4L), (1L, 6L), (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
      .toDF("src", "dst")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // static plans so EnsureRequirements' exchanges are inspectable
      spark.conf.set("spark.sql.adaptive.enabled", "false")

      val prCap = new PlanCapture
      val pr = Graph.pageRank(edges, "src", "dst", iters = 2, staging = prCap)
      val prRound2 = prCap.plans("pr-ranks-2")
      assert(hasEdgeScan(prRound2), s"round-2 plan lost the edge scan:\n$prRound2")
      assert(edgeSideShuffles(prRound2).isEmpty,
        s"pageRank round 2 re-shuffled the static edges:\n$prRound2")

      val lpCap = new PlanCapture
      val lp = Graph.labelPropagation(edges, "src", "dst", iters = 2, staging = lpCap)
      val lpRound2 = lpCap.plans("lpa-labels-2")
      assert(hasEdgeScan(lpRound2), s"round-2 plan lost the edge scan:\n$lpRound2")
      assert(edgeSideShuffles(lpRound2).isEmpty,
        s"labelPropagation round 2 re-shuffled the static edges:\n$lpRound2")

      // hyperBall: packed-register rounds join edges(dst) ⋈ regs(node);
      // the staged edge side must stay exchange-free in round 2 as well
      val hbCap = new PlanCapture
      val hb = Graph.hyperBall(edges, "src", "dst", maxHops = 2, staging = hbCap)
      val hbRound2 = hbCap.plans("hb-regs-2")
      assert(hasEdgeScan(hbRound2), s"round-2 plan lost the edge scan:\n$hbRound2")
      assert(edgeSideShuffles(hbRound2).isEmpty,
        s"hyperBall round 2 re-shuffled the static edges:\n$hbRound2")

      // personalizedPageRank shares pageRank's staged layout verbatim
      val pprCap = new PlanCapture
      val ppr = Graph.personalizedPageRank(edges, "src", "dst",
        seeds = Seq(1L), iters = 2, staging = pprCap)
      val pprRound2 = pprCap.plans("ppr-ranks-2")
      assert(hasEdgeScan(pprRound2), s"round-2 plan lost the edge scan:\n$pprRound2")
      assert(edgeSideShuffles(pprRound2).isEmpty,
        s"personalizedPageRank round 2 re-shuffled the static edges:\n$pprRound2")

      // the pinning is pure layout: results identical to the default path
      pr.collect(); lp.collect(); hb.collect(); ppr.collect()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("r9 iterative family: hits rounds >=2, scc BFS depths >=2 and per-round " +
    "block-restriction keep their staged edge sides exchange-free; " +
    "louvainStep never re-shuffles the staged symmetric edges; " +
    "kmeansLloyd assignment is exchange-free") {
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")

      // hits: the a-step joins on src, the h-step on dst — each reads its
      // own pinned layout, so round-2 plans move only score rows
      val wEdges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 2L),
        (4L, 1L, 1L), (1L, 4L, 1L), (2L, 4L, 3L)).toDF("src", "dst", "w")
      val hitsCap = new PlanCapture
      val hits = Graph.hits(wEdges, "src", "dst", "w", iters = 2,
        staging = hitsCap)
      val ew = Seq("src", "dst", "w")
      val a2 = hitsCap.plans("hits-a2")
      assert(hasEdgeScan(a2, ew), s"a-step round 2 lost the edge scan:\n$a2")
      assert(edgeSideShuffles(a2, ew).isEmpty,
        s"hits a-step round 2 re-shuffled the staged edges:\n$a2")
      val h2 = hitsCap.plans("hits-h2")
      assert(hasEdgeScan(h2, ew), s"h-step round 2 lost the edge scan:\n$h2")
      assert(edgeSideShuffles(h2, ew).isEmpty,
        s"hits h-step round 2 re-shuffled the staged edges:\n$h2")

      // scc: 3-cycle + a tail so the forward closure runs >= 2 depths;
      // the per-round block restriction reads the hash(src) edge layout
      // and each BFS depth reads its closure-direction be layout
      val dEdges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
        .toDF("src", "dst")
      val sccCap = new PlanCapture
      val scc = Graph.stronglyConnectedComponents(dEdges, "src", "dst",
        maxRounds = 3, maxDepth = 10, staging = sccCap)
      val bef1 = sccCap.plans("scc-bef-1")
      assert(hasEdgeScan(bef1), s"round-1 restriction lost the edge scan:\n$bef1")
      assert(edgeSideShuffles(bef1).isEmpty,
        s"scc block-restriction re-shuffled the staged edge list:\n$bef1")
      val bc = Seq("src", "dst", "block")
      val fwd2 = sccCap.plans("scc-cfalse-2-1")
      assert(hasEdgeScan(fwd2, bc), s"fwd depth-2 lost the be scan:\n$fwd2")
      assert(edgeSideShuffles(fwd2, bc).isEmpty,
        s"scc forward BFS depth 2 re-shuffled the block edges:\n$fwd2")
      val bwd2 = sccCap.plans("scc-ctrue-2-1")
      assert(hasEdgeScan(bwd2, bc), s"bwd depth-2 lost the be scan:\n$bwd2")
      assert(edgeSideShuffles(bwd2, bc).isEmpty,
        s"scc backward BFS depth 2 re-shuffled the block edges:\n$bwd2")

      // louvainStep: the staged symmetric edge list is consumed by the
      // degree agg (in place on its hash(a) layout) and the sweep join —
      // neither may move it again; only score-/degree-sized frames shuffle
      val lvCap = new PlanCapture
      val lv = Graph.louvainStep(wEdges, "src", "dst", "w", staging = lvCap)
      val lvPlan = lv.queryExecution.executedPlan
      val sy = Seq("a", "b", "w")
      assert(hasEdgeScan(lvPlan, sy), s"louvain plan lost the sym scan:\n$lvPlan")
      assert(edgeSideShuffles(lvPlan, sy).isEmpty,
        s"louvainStep re-shuffled the staged symmetric edges:\n$lvPlan")

      // kmeansLloyd: centroids are literals, the argmin a per-row fold —
      // the returned assignment must contain NO exchange at all
      val vecs = Seq(
        (1L, Seq(0, 0, 0, 0)), (2L, Seq(1, 0, 0, 0)), (3L, Seq(0, 1, 0, 0)),
        (4L, Seq(90, 90, 90, 90)), (5L, Seq(91, 90, 90, 90)),
        (6L, Seq(0, 0, 90, 90)), (7L, Seq(1, 0, 90, 90))
      ).toDF("vec_id", "codes")
      val km = graft.x.Similarity.kmeansLloyd(vecs, "vec_id", "codes",
        k = 3, iters = 3, dim = 4)
      val kmShuffles = km.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(kmShuffles.isEmpty,
        s"kmeansLloyd assignment shuffled the points:\n${km.queryExecution.executedPlan}")

      // the rest of the staged-layout traversal family: rounds/steps >= 2
      // must read the pinned hash(src) edge layout without re-exchange
      val spCap = new PlanCapture
      val sp = Graph.shortestPaths(wEdges, "src", "dst", "w",
        sources = Seq(1L), rounds = 2, staging = spCap)
      val sp2 = spCap.plans("sssp-d2")
      val ewc = Seq("src", "dst", "w")
      assert(hasEdgeScan(sp2, ewc), s"sssp round 2 lost the edge scan:\n$sp2")
      assert(edgeSideShuffles(sp2, ewc).isEmpty,
        s"shortestPaths round 2 re-shuffled the staged edges:\n$sp2")
      val rwCap = new PlanCapture
      val rw = Graph.randomWalks(dEdges, "src", "dst", steps = 2,
        walksPerNode = 2, staging = rwCap)
      val rw2 = rwCap.plans("walk-2")
      assert(hasEdgeScan(rw2), s"walk step 2 lost the edge scan:\n$rw2")
      assert(edgeSideShuffles(rw2).isEmpty,
        s"randomWalks step 2 re-shuffled the staged edges:\n$rw2")
      val bfsCap = new PlanCapture
      val bfs = Graph.bfsHops(dEdges, "src", "dst", Seq(1L), maxHops = 2,
        staging = bfsCap)
      val bfs2 = bfsCap.plans("bfs-v2")
      assert(hasEdgeScan(bfs2), s"bfs hop 2 lost the edge scan:\n$bfs2")
      assert(edgeSideShuffles(bfs2).isEmpty,
        s"bfsHops hop 2 re-shuffled the staged edges:\n$bfs2")

      // the layouts are pure plumbing: every op still returns sane rows
      assert(sp.count() >= 1 && rw.count() >= 1 && bfs.count() >= 1)
      assert(hits.count() == 4)
      val sccRows = scc.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(sccRows == Map(1L -> ((1L, true)), 2L -> ((1L, true)),
        3L -> ((1L, true)), 4L -> ((4L, true)), 5L -> ((5L, true))),
        s"scc labels wrong: $sccRows")
      assert(lv.count() == 4)
      assert(km.count() == 7)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("kCore rounds >=2: weak frontier broadcasts, per-round state is node-scale") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    // triangle {1,2,3} with tail 3-10-11: k=2 peels 11 (round 1), then the
    // cascade peels 10 (round 2), then converges on the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L))
      .toDF("src", "dst")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cap = new PlanCapture
      val core = Graph.kCore(edges, "src", "dst", k = 2, staging = cap)
      // r15 incremental-degree contract: per-round staging is the (v, deg)
      // frame, the edge list stages exactly once
      assert(cap.plans.contains("kcore-deg-2") &&
        !cap.plans.keys.exists(_ == "kcore-edges-2"),
        s"per-round state is not the node-scale deg frame: ${cap.plans.keys}")
      val round2 = cap.plans("kcore-deg-2")
      // the tiny cascade frontier rides broadcasts: two semi-joins count
      // removed edges off the staged e0, one anti-join drops weak nodes
      val semi = round2.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j
      }
      val anti = round2.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      }
      assert(semi.size == 2 && anti.size == 1,
        s"round-2 frontier did not broadcast (semi=${semi.size}, " +
          s"anti=${anti.size}):\n$round2")
      // … so neither staged input needs an exchange: the only shuffle in
      // the round is the removed-edge count agg (frontier-scale), never a
      // re-shuffle of the staged edge or deg frames
      def staticInputPath(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p match {
          case r: RDDScanExec => r.output.map(_.name).toSet.subsetOf(Set("a", "b", "v", "deg"))
          case j: BroadcastHashJoinExec => staticInputPath(j.left)
          case u if u.children.size == 1 => staticInputPath(u.children.head)
          case _ => false
        }
      val staticShuffles = round2.collect {
        case s: ShuffleExchangeExec if staticInputPath(s.child) => s
      }
      assert(staticShuffles.isEmpty,
        s"round-2 re-shuffled a staged frame:\n$round2")
      // and the peel itself is correct: the triangle survives with deg 2
      val got = core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"core wrong: $got")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bfsHops: layer numbers exact, horizon unlabeled, shortcut wins") {
    import spark.implicits._
    // path 1-2-3-4-5-6 plus shortcut 1-4: node 4 is 1 hop via shortcut,
    // not 3 via the path; node 6 is beyond maxHops=3 from seed 1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 4L))
      .toDF("src", "dst")
    val got = graft.x.Graph.bfsHops(e, "src", "dst", Seq(1L), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L),
      s"bfs layers wrong: $got")
    // undirected: seeding from the other end reaches backwards
    val rev = graft.x.Graph.bfsHops(e, "src", "dst", Seq(6L), maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev == Map(6L -> 0L, 5L -> 1L), s"reverse reach wrong: $rev")
  }

  test("louvainStep: barbell picks in-triangle moves on unit weights; " +
      "a heavy bridge flips the move; exact ties break to min id") {
    import spark.implicits._
    // two triangles {1,2,3},{4,5,6} bridged by 3-4
    def barbell(bridgeW: Long) = Seq(
      (1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (4L, 5L, 1L), (4L, 6L, 1L), (5L, 6L, 1L),
      (3L, 4L, bridgeW)).toDF("src", "dst", "w")
    val unit = graft.x.Graph.louvainStep(barbell(1L), "src", "dst", "w")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // m=7, 2m=14; e.g. node 1: gain(→2)=14−2·2=10 beats gain(→3)=14−2·3=8;
    // node 3: gains to 1 and 2 tie at 8 → min id 1 wins over bridge (5)
    assert(unit === Map(
      1L -> ((2L, 2L, 10L)), 2L -> ((2L, 1L, 10L)), 3L -> ((3L, 1L, 8L)),
      4L -> ((3L, 5L, 8L)), 5L -> ((2L, 6L, 10L)), 6L -> ((2L, 5L, 10L))),
      s"unit-weight sweep wrong: $unit")
    // weight-10 bridge: 2m=32, k3=k4=12; gain(3→4)=32·10−144=176 beats
    // the in-triangle 8 — the move follows the weighted gain, not topology
    val heavy = graft.x.Graph.louvainStep(barbell(10L), "src", "dst", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(heavy(3L) === 4L && heavy(4L) === 3L, s"heavy bridge sweep: $heavy")
  }

  test("stronglyConnectedComponents: cycles settle to min-id labels, " +
      "direction matters, budget exhaustion is flagged not hidden") {
    import spark.implicits._
    // 1→2→3→1 and 4→5→6→4 joined one-way by 3→4; 7→1 dangling in;
    // 8↔9 a detached 2-cycle
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L), (7L, 1L), (8L, 9L), (9L, 8L)).toDF("src", "dst")
    val got = graft.x.Graph.stronglyConnectedComponents(e, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got === Map(
      1L -> ((1L, true)), 2L -> ((1L, true)), 3L -> ((1L, true)),
      4L -> ((4L, true)), 5L -> ((4L, true)), 6L -> ((4L, true)),
      7L -> ((7L, true)), 8L -> ((8L, true)), 9L -> ((8L, true))),
      s"scc labels wrong: $got")
    // one round settles only the first pivot's SCC; the rest surface
    // with converged = false (audit, not silence)
    val partial = graft.x.Graph
      .stronglyConnectedComponents(e, "src", "dst", maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(partial.filter(_._2).keySet === Set(1L, 2L, 3L),
      s"round-1 settled set wrong: $partial")
    assert(partial.filterNot(_._2).keySet === Set(4L, 5L, 6L, 7L, 8L, 9L))
    // DEPTH truncation is audited too: a 5-cycle under maxDepth = 2
    // leaves both closures with live frontiers, so the whole block must
    // surface converged = false with the provisional block-min label —
    // the pre-r9 behavior silently settled {1} as its own component and
    // later emitted the fwd/bwd leftovers as separate converged "SCCs"
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    val trunc = graft.x.Graph
      .stronglyConnectedComponents(cyc, "src", "dst",
        maxRounds = 5, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(trunc === (1L to 5L).map(_ -> ((1L, false))).toMap,
      s"depth-truncated block must be wholly unsettled: $trunc")
    // and with the depth budget restored the same graph settles exactly
    val ok = graft.x.Graph
      .stronglyConnectedComponents(cyc, "src", "dst",
        maxRounds = 5, maxDepth = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(ok === (1L to 5L).map(_ -> ((1L, true))).toMap,
      s"5-cycle must settle at depth 5: $ok")
    // a closure that completes EXACTLY at maxDepth is not truncation:
    // chain 1->2->3 under maxDepth = 2 finishes its forward BFS on the
    // last permitted depth (final frontier has no unvisited successors)
    // and must settle all three singleton SCCs exactly — the extra
    // expansion probe distinguishes this from the 5-cycle case above
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val exact = graft.x.Graph
      .stronglyConnectedComponents(chain, "src", "dst",
        maxRounds = 3, maxDepth = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(exact === Map(1L -> ((1L, true)), 2L -> ((2L, true)),
      3L -> ((3L, true))),
      s"chain at exact depth budget must settle singletons: $exact")
  }

  test("jpColoring: proper coloring (no monochrome edge), triangles take " +
      "3 colors, full convergence within budget, layout-invariant") {
    import spark.implicits._
    // triangle {1,2,3} + path 3-4-5 + isolated-in-edge-set pair 6-7
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val got = graft.x.Graph.jpColoring(e, "src", "dst", maxRounds = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // everything colored within budget, nothing flagged
    assert(got.values.forall(_._1 >= 0L), s"uncolored nodes: $got")
    // proper: no edge joins two same-colored nodes
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (6L, 7L)).foreach {
      case (a, b) => assert(got(a)._1 != got(b)._1,
        s"monochrome edge ($a,$b): $got")
    }
    // the triangle needs exactly colors {0,1,2}
    assert(Set(got(1L)._1, got(2L)._1, got(3L)._1) === Set(0L, 1L, 2L))
    // deterministic under repartition
    val again = graft.x.Graph.jpColoring(e.repartition(5), "src", "dst",
        maxRounds = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === again, "coloring changed under repartition")
  }

  test("randomWalks: every hop follows an edge, dead ends terminate, " +
      "and the corpus is layout-invariant") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst") // node 4 is a dead end
    val walks = graft.x.Graph.randomWalks(e, "src", "dst", steps = 3,
      walksPerNode = 2)
    val rows = walks.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val edges = Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L))
    rows.groupBy(t => (t._1, t._2)).values.foreach { path =>
      val byStep = path.sortBy(_._3).map(_._4)
      byStep.sliding(2).filter(_.length == 2).foreach { p =>
        assert(edges.contains((p(0), p(1))), s"non-edge hop $p in $byStep")
      }
    }
    // walks starting at the dead end emit only step 0
    assert(rows.filter(t => t._1 == 4L).map(_._3).max === 0L)
    // determinism under a different input layout
    val again = graft.x.Graph.randomWalks(e.repartition(7), "src", "dst",
        steps = 3, walksPerNode = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSet === again.toSet, "walks changed under repartition")
  }

  test("hits: star authority dominates; hand-checked round-1 values") {
    import spark.implicits._
    // hubs 1,2,3 all point at 4; 4 points at 5
    val e = Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "w")
    val one = graft.x.Graph.hits(e, "src", "dst", "w", iters = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getDecimal(1).longValueExact(), r.getDecimal(2).longValueExact())))
      .toMap
    // a1: 4←(1,2,3)=3, 5←4=1, others 0; h1: 1,2,3 = a1(4)=3, 4 = a1(5)=1
    assert(one === Map(1L -> ((0L, 3L)), 2L -> ((0L, 3L)), 3L -> ((0L, 3L)),
      4L -> ((3L, 1L)), 5L -> ((1L, 0L))), s"round-1 hits wrong: $one")
    // after 3 rounds the star center still holds max authority and the
    // spokes the max hub score
    val three = graft.x.Graph.hits(e, "src", "dst", "w", iters = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getDecimal(1).longValueExact(), r.getDecimal(2).longValueExact())))
      .toMap
    val maxA = three.values.map(_._1).max
    val maxH = three.values.map(_._2).max
    assert(three(4L)._1 == maxA && three(1L)._2 == maxH,
      s"3-round hits ranking wrong: $three")
  }

  test("shortestPaths: relax-min rounds reach the true SSSP; parallel " +
      "edges collapse; unreached nodes stay absent") {
    import spark.implicits._
    val e = Seq((1L, 2L, 5L), (1L, 2L, 7L), (2L, 3L, 1L), (1L, 3L, 10L),
      (3L, 1L, 2L), (4L, 1L, 1L)).toDF("src", "dst", "w")
    val got = graft.x.Graph.shortestPaths(e, "src", "dst", "w",
        sources = Seq(1L), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1→2→3 (6) beats the direct 1→3 (10); node 4 is unreachable FROM 1
    assert(got === Map(1L -> 0L, 2L -> 5L, 3L -> 6L), s"sssp wrong: $got")
    // one round only relaxes one edge deep: 3 still holds the direct 10
    val r1 = graft.x.Graph.shortestPaths(e, "src", "dst", "w",
        sources = Seq(1L), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 0L, 2L -> 5L, 3L -> 10L), s"round-1 wrong: $r1")
  }

  test("modularity: exact integer decomposition on the barbell partition") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "label")
    val got = graft.x.Graph.modularity(edges, "src", "dst", labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // m=7; each triangle: 3 nodes, D=2+2+3=7, L=3, q_num = 4·7·3 − 49 = 35
    assert(got === Map(1L -> ((3L, 7L, 3L, 35L)), 4L -> ((3L, 7L, 3L, 35L))),
      s"modularity rows wrong: $got")
    // Q = Σ q_num / (4m²) = 70/196; the all-in-one-community partition is 0
    val one = graft.x.Graph.modularity(edges, "src", "dst",
        labels.withColumn("label", org.apache.spark.sql.functions.lit(1L)))
      .collect().map(r => r.getLong(4)).sum
    assert(one === 0L, s"single-community q_num sum should be 0, got $one")
  }

  test("bfsHops: exact staged counts test each frontier with no job, one job " +
    "fewer per round, with the labels the probing path gives") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    // seed 1 reaches 2 and 3 at hop 1, 4 at hop 2, 5 at hop 3; at
    // maxHops 5, rounds 2-5 test a frontier (round 5's is empty)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    /** LocalCheckpoint's blocks without their row count, as PathStaging
      * stages: bfsHops probes each frontier with `isEmpty`. */
    object Uncounted extends Staging {
      override def stage(df: DataFrame, hint: String): DataFrame = {
        val s = Staging.LocalCheckpoint.stage(df, hint)
        s.sparkSession.createDataFrame(s.rdd, s.schema)
      }
    }
    val group = "graph-spec-bfs-jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Boolean] // is it a probe
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.stageInfos.exists(_.name.startsWith("isEmpty at"))); ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.add(e.jobId); () }
    }
    // every event posted so far has reached the listener once a fence
    // job's end has
    def drain(): Unit = {
      val f = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(60, "s"))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!f.jobIds.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(f.jobIds.forall(ended.contains), "listener bus did not drain")
    }
    /** The labels, and bfsHops's own jobs: all of them, and its probes. */
    def run(st: Staging): (Seq[(Long, Long)], Int, Int) = {
      jobs.clear()
      spark.sparkContext.setJobGroup(group, "bfsHops jobs")
      val out = try Graph.bfsHops(edges, "src", "dst", Seq(1L), maxHops = 5, staging = st)
      finally spark.sparkContext.clearJobGroup()
      drain()
      val all = jobs.asScala.toSeq
      (out.as[(Long, Long)].collect().toSeq.sorted, all.size, all.count(identity))
    }
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.sparkContext.addSparkListener(listener)
    try {
      Seq(prevThreshold, "-1").foreach { threshold =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        val (counted, countedJobs, countedProbes) = run(Staging.LocalCheckpoint)
        val (probed, probedJobs, probes) = run(Uncounted)
        assert(counted == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 3L)))
        assert(probed == counted, s"threshold $threshold")
        assert(countedProbes == 0, s"threshold $threshold")
        // a probe is one job per round, more when its first partitions are empty
        assert(probes >= 4, s"threshold $threshold: $probes probe jobs over 4 rounds")
        // the unsized stages broadcast nothing; with no broadcasts the
        // two runs differ by the probes alone
        if (threshold == "-1")
          assert(probedJobs - probes == countedJobs, s"$countedJobs jobs vs $probedJobs")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
