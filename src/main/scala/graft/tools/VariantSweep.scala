package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.HostMetrics.{TaskCpu, signature, timed}

/** Paired CODE-variant A/B (dev only; the PairSweep of implementation
  * shapes): times two DataFrame constructions of the SAME result in one
  * session, interleaved A/B/A/B with min-of-reps wall + task CPU — the
  * only comparison immune to this host's regime storms (a cross-build
  * TimeQueries pair put x213's old build at 103 cpu-s when its bench
  * kept-CPU was 15.7; same-session interleaving cannot be fooled that
  * way). Also asserts both variants return identical content
  * (HostMetrics.signature) before timing, so an inequivalent
  * "optimization" fails loudly here instead of at the oracle.
  *
  * Usage: runMain graft.tools.VariantSweep <case>[ <case>...]
  * Cases: prefs | bipartite | bfs | kcore | all
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS (default 3)
  */
object VariantSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val known = Seq("prefs", "bipartite", "bfs", "kcore")
    val cases = if (args.isEmpty || args.contains("all")) known else args.toSeq
    val unknown = cases.filterNot(known.contains)
    require(unknown.isEmpty,
      s"unknown cases: ${unknown.mkString(", ")} (known: ${known.mkString(" | ")} | all)")
    val spark = graft.util.HostMetrics.session()
    spark.sparkContext.setLogLevel("ERROR")
    val cpu = TaskCpu.on(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.util.Fs.warmStorage(sfDir)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // consecutive-part edges within each order: the graph the bfs and
    // kcore cases run on
    def edgeFrame(): DataFrame = {
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
    }

    def once(f: () => DataFrame) = timed(spark, cpu) { f().count() }
    def ab(name: String, a: () => DataFrame, b: () => DataFrame): Unit = {
      // equality gate first: same columns, row count and content hash
      val (sa, sb) = (signature(a()), signature(b()))
      require(sa == sb, s"$name: variants DISAGREE a=$sa b=$sb")
      println(s"[var] $name: equal ($sa)")
      val runs = (1 to reps).flatMap(_ => Seq("A" -> once(a), "B" -> once(b)))
      def mins(tag: String) = {
        val xs = runs.filter(_._1 == tag).map(_._2)
        (xs.map(_.wall).min, xs.map(_.cpu).min)
      }
      val (aw, ac) = mins("A"); val (bw, bc) = mins("B")
      println(f"[var] $name%-12s A $aw%6.2f/$ac%7.2f  B $bw%6.2f/$bc%7.2f  " +
        f"dWall ${bw - aw}%+6.2f  dCpu ${bc - ac}%+7.2f")
    }

    if (cases.contains("prefs")) {
      // A: the pre-r15 self-join prefs; B: precedencePrefs explode
      def prefsOld(): DataFrame = {
        val p = li.select(col("l_orderkey").as("o"),
          col("l_linenumber").as("ln"), col("l_partkey").as("p"))
        val a = p.select(col("o"), col("ln").as("ln_a"), col("p").as("pa"))
        val b = p.select(col("o"), col("ln").as("ln_b"), col("p").as("pb"))
        a.join(b, Seq("o"))
          .filter(col("ln_a") < col("ln_b") && col("pa") =!= col("pb"))
          .groupBy(col("pa").as("w"), col("pb").as("l"))
          .agg(count(lit(1)).as("n"))
      }
      def prefsNew(): DataFrame = graft.util.Tuning.withBoundedObjectAgg(spark) {
        graft.x.EventAnalytics.precedencePrefs(li,
          "l_orderkey", "l_linenumber", "l_partkey")
      }
      ab("prefs", prefsOld _, prefsNew _)
    }
    if (cases.contains("bipartite")) {
      def bipOld(cap: Int)(): DataFrame = {
        val m = li.select(col("l_orderkey").as("l"), col("l_partkey").as("r")).distinct()
        val kept = m.join(
          m.groupBy("l").agg(count(lit(1)).as("__dl"))
            .filter(col("__dl") <= cap).select("l"), "l")
        kept.select(col("l"), col("r").as("a"))
          .join(kept.select(col("l"), col("r").as("b")), "l")
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).cast("long").as("weight"))
      }
      def bipNew(cap: Int)(): DataFrame =
        graft.x.Graph.bipartiteProject(li, "l_orderkey", "l_partkey", cap)
      ab("bipartite", bipOld(100) _, bipNew(100) _)
    }
    if (cases.contains("bfs")) {
      // A: pre-r15 bfsHops (no frontier broadcast gate, no empty-frontier
      // break); B: size-gated broadcasts (Staging.broadcastIfSmall)
      def bfsOld(): DataFrame = {
        val directed = edgeFrame().filter(col("src") =!= col("dst"))
          .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        val edges = directed.union(
            directed.select(col("dst").as("src"), col("src").as("dst")))
          .repartition(col("src")).dropDuplicates("src", "dst")
          .sortWithinPartitions("src").localCheckpoint(true)
        import spark.implicits._
        var frontier = Seq(1L, 2L, 3L).toDF("node")
        var visited = frontier.withColumn("dist", lit(0L)).localCheckpoint(true)
        for (h <- 1 to 3) {
          val next = edges
            .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node")).distinct()
            .join(visited.select("node"), Seq("node"), "left_anti")
            .withColumn("dist", lit(h.toLong))
          visited = visited.unionByName(next).localCheckpoint(true)
          frontier = visited.filter(col("dist") === h).select("node")
        }
        visited
      }
      def bfsNew(): DataFrame =
        graft.x.Graph.bfsHops(edgeFrame(), "src", "dst",
          seeds = Seq(1L, 2L, 3L), maxHops = 3)
      ab("bfs", bfsOld _, bfsNew _)
    }
    if (cases.contains("kcore")) {
      // A: pre-r15 kCore (degrees recomputed from the shrinking edge list,
      // edge list re-staged per round); B: incremental-degree kCore
      def kcoreOld(): DataFrame = {
        val k = 30; val broadcastWeakLimit = 1000000L; val maxIters = 50
        var e = edgeFrame().filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
          .distinct().localCheckpoint(true)
        def degs(ef: DataFrame): DataFrame =
          ef.select(col("a").as("v")).unionAll(ef.select(col("b").as("v")))
            .groupBy("v").agg(count(lit(1)).as("deg"))
        var round = 0; var converged = false
        while (!converged && round < maxIters) {
          val deg = degs(e)
          val weakAll = deg.filter(col("deg") < 30).select("v")
          val nWeak = weakAll.limit(broadcastWeakLimit.toInt + 1).count()
          if (nWeak == 0L) converged = true
          else {
            round += 1
            val weak =
              if (nWeak <= broadcastWeakLimit) broadcast(weakAll) else weakAll
            e = e.join(weak.select(col("v").as("a")), Seq("a"), "left_anti")
              .join(weak.select(col("v").as("b")), Seq("b"), "left_anti")
              .select("a", "b").localCheckpoint(true)
          }
        }
        val _ = k
        degs(e).select(col("v").as("node"), col("deg").cast("long").as("deg"))
      }
      def kcoreNew(): DataFrame =
        graft.x.Graph.kCore(edgeFrame(), "src", "dst", k = 30)
      ab("kcore", kcoreOld _, kcoreNew _)
    }
    spark.stop()
  }
}
