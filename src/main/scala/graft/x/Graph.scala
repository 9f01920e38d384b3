package graft.x

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Staging

/** Iterative graph analytics over plain edge DataFrames.
  *
  * The curation use case (ref: the web-hygiene stage of
  * `dags/transform/spark.json`-style pipelines, generalized): link-graph
  * importance scores are a standard quality/weighting signal for crawl
  * corpora, and co-occurrence graphs (items in a session, parts in an
  * order) yield popularity ranks for retrieval and sampling weights.
  */
object Graph {

  /** Damped PageRank (Page et al. 1999) in exact integer "nano-rank"
    * arithmetic.
    *
    * Every quantity is a scaled BIGINT (`scale` ≙ rank mass 1.0): the
    * per-edge contribution is `rank div outdeg`, the dangling mass is
    * redistributed as `dangling div n`, and the update is
    * `new = ((100-damp)·base + damp·(incoming + dangling div n)) div 100`
    * — floor divisions over non-negative integers and BIGINT sums, which
    * ARE associative where double sums are not. So the final ranks are
    * bit-identical under any partitioning, any aggregation order, and any
    * engine — the [[Sampling.weightedSample]] exact-integer discipline
    * applied to an iterative fixpoint. (The div-flooring leaks ≤1 nano
    * per node per round out of the total mass; that loss is itself
    * deterministic.)
    *
    * Scale shape: `edges`/`nodes`/`outdeg` are staged once and re-read
    * every round, never recomputed — and staged ALREADY HASH-PARTITIONED
    * (and sorted) on `src`, the per-round join key, so every round's
    * rank⋈edge⋈outdeg join moves ONLY the small ranks frame: the static
    * edge side satisfies the join's required distribution from its
    * checkpointed layout (`localCheckpoint` pins the physical plan's
    * `outputPartitioning`/`outputOrdering` in the `LogicalRDD`) and is
    * never re-shuffled after round 1. `ranks` itself stays partitioned on
    * `node` through the round-closing join, so the dangling anti-join and
    * the nodes⋈incoming join are exchange-free too — per round, only the
    * dst-keyed SUM shuffle and one scalar move. On a durable
    * [[graft.util.Staging.PathStaging]] deployment the same pinning is
    * bucketBy(src) on the staged edge table. Ranks re-stage per round to
    * cut lineage; nothing larger than one scalar per round reaches the
    * driver — same job shape as [[Similarity.kmeansStep]] loops.
    */
  def pageRank(edgesIn: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, dampNum: Long = 85L, scale: Long = 1000000000L,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(iters >= 1, s"pageRank needs iters >= 1, got $iters")
    require(dampNum >= 0 && dampNum <= 100, s"dampNum is a percentage, got $dampNum")
    // repartition BEFORE the dedup: hash(src) satisfies the (src, dst)
    // grouping's ClusteredDistribution (subset rule), so the dedup agg
    // runs in place and the staged frame carries hash(src) + src order —
    // one shuffle total, and rounds >= 2 never move the edge side again
    val edges = staging.stage(
      edgesIn.filter(col(srcCol) =!= col(dstCol))
        .select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .repartition(col("src")).dropDuplicates("src", "dst")
        .sortWithinPartitions("src"), "pr-edges")
    val nodes = staging.stage(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct(), "pr-nodes")
    val outdeg = staging.stage(
      edges.groupBy("src").agg(count(lit(1)).as("__od"))
        .sortWithinPartitions("src"), "pr-outdeg")
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty graph")
    val base = scale / n
    var ranks = nodes.withColumn("rank_nano", lit(base))
    for (i <- 1 to iters) {
      val dangling = ranks
        .join(outdeg, ranks("node") === outdeg("src"), "left_anti")
        .agg(coalesce(sum("rank_nano"), lit(0L))).head().getLong(0)
      val incoming = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("node"), expr("rank_nano div __od").as("__c"))
        .groupBy("node").agg(sum("__c").as("__in"))
      ranks = staging.stage(
        nodes.join(incoming, Seq("node"), "left")
          .select(col("node"), expr(
            s"(${(100L - dampNum) * base} + $dampNum * " +
              s"(coalesce(__in, 0L) + ${dangling / n})) div 100")
            .as("rank_nano")),
        s"pr-ranks-$i")
    }
    ranks
  }

  /** Personalized PageRank (Haveliwala 2002; the random-walk-with-restart
    * variant of [[pageRank]]): the teleport vector concentrates on
    * `seeds` instead of spreading uniformly, so rank mass measures
    * proximity TO THE SEED SET — the standard "related items" /
    * neighborhood-relevance score (seed = a user's purchases, rank =
    * recommendation weights; seed = known-spam hosts, rank = spam
    * proximity a la TrustRank's inverse).
    *
    * Same exact integer nano-rank discipline as [[pageRank]] — teleport
    * `scale div |seeds|` to each seed, dangling mass returns to the
    * seeds (the walk restarts), floor-div updates over BIGINTs — so
    * results are bit-identical under any partitioning/engine. Seeds
    * absent from the graph are dropped (their teleport share too: the
    * divisor is the REQUESTED distinct seed count, keeping shares
    * stable as the graph drifts under a fixed seed list).
    *
    * Scale shape: identical to [[pageRank]] — edges/nodes/outdeg staged
    * once, hash-partitioned + sorted on `src`; rounds ≥ 2 never
    * re-shuffle the edge side; the seed indicator is a literal IN over
    * a driver-small list, never a join. */
  def personalizedPageRank(edgesIn: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], iters: Int = 5, dampNum: Long = 85L,
      scale: Long = 1000000000L,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(iters >= 1, s"personalizedPageRank needs iters >= 1, got $iters")
    require(dampNum >= 0 && dampNum <= 100, s"dampNum is a percentage, got $dampNum")
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    require(seeds.size <= 100000, s"seed list is a driver literal; got ${seeds.size}")
    val seedList = seeds.distinct
    val k = seedList.size
    val base = scale / k
    val inSeeds = s"node IN (${seedList.mkString(", ")})"
    val edges = staging.stage(
      edgesIn.filter(col(srcCol) =!= col(dstCol))
        .select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .repartition(col("src")).dropDuplicates("src", "dst")
        .sortWithinPartitions("src"), "ppr-edges")
    val nodes = staging.stage(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct(), "ppr-nodes")
    val outdeg = staging.stage(
      edges.groupBy("src").agg(count(lit(1)).as("__od"))
        .sortWithinPartitions("src"), "ppr-outdeg")
    var ranks = nodes.withColumn("rank_nano",
      expr(s"CASE WHEN $inSeeds THEN ${base}L ELSE 0L END"))
    for (i <- 1 to iters) {
      val dangling = ranks
        .join(outdeg, ranks("node") === outdeg("src"), "left_anti")
        .agg(coalesce(sum("rank_nano"), lit(0L))).head().getLong(0)
      val incoming = edges
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("node"), expr("rank_nano div __od").as("__c"))
        .groupBy("node").agg(sum("__c").as("__in"))
      ranks = staging.stage(
        nodes.join(incoming, Seq("node"), "left")
          .select(col("node"), expr(
            s"((CASE WHEN $inSeeds THEN ${(100L - dampNum) * base} ELSE 0 END)" +
              s" + $dampNum * (coalesce(__in, 0L) + " +
              s"(CASE WHEN $inSeeds THEN ${dangling / k} ELSE 0 END))) div 100")
            .as("rank_nano")),
        s"ppr-ranks-$i")
    }
    ranks
  }

  /** HyperBall (Boldi & Vigna 2013; Palmer et al.'s ANF with HLL
    * counters): the neighborhood function N(h) = Σ_v |ball(v, h)|
    * estimated by giving every node a HyperLogLog sketch of its
    * reachable set and max-merging neighbor sketches for `maxHops`
    * rounds — the standard way to read GLOBAL distance structure
    * (effective diameter, average distance, connectivity growth) from a
    * 100 TB graph where all-pairs BFS is impossible. Exact all-source
    * BFS is Θ(n·m); this is O(h·m) rows moved with 256 registers per
    * node, and every arithmetic step is the engine-exact register
    * discipline of [[Sketches.hllRegisters]] (md5 buckets, BIGINT rho,
    * DECIMAL zeta) so the estimates replay bit-identically UP TO the
    * ROUND-6 quantization below: the small-range (linear-counting)
    * correction calls libm log(), which is not correctly-rounded across
    * libm implementations, so a last-ulp estimate difference is possible
    * before rounding (the same caveat
    * [[Sketches.hllEstimateFromRegisters]] documents; the registers and
    * all integer state ARE bit-exact).
    *
    * Per round: ball_h(v) = ball_{h−1}(v) ∪ ⋃_{(v,w)∈E} ball_{h−1}(w),
    * which on register rows is one edge⋈regs join (edges staged
    * hash-partitioned + sorted on `dst`, the per-round join key — the
    * [[pageRank]] no-reshuffle discipline) and one (node, j) max-agg
    * seeded by an explicit repartition(node) so the agg runs in place
    * and the NEXT round's join finds regs already hash(node)-placed.
    * Register rows per node are min(ball, 256) — bounded state, exactly
    * the property that makes this the billion-node algorithm.
    *
    * Returns one row per h ∈ [0, maxHops]: the node count, the summed
    * reach estimate (per-node IEEE estimate → ROUND 6 → DECIMAL sum, so
    * the aggregate is association-free), and the average ball size.
    * N(h) flattening out IS the effective-diameter readout. */
  def hyperBall(edgesIn: DataFrame, srcCol: String, dstCol: String,
      maxHops: Int, staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, s"maxHops must be in [1,64], got $maxHops")
    val directed = edgesIn.filter(col(srcCol) =!= col(dstCol))
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val edges = staging.stage(
      directed.repartition(col("dst")).dropDuplicates("src", "dst")
        .sortWithinPartitions("dst"), "hb-edges")
    val nodes = staging.stage(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct(), "hb-nodes")
    // Registers ride PACKED as one array<byte>(256) per node, so each
    // round's edge join moves |E| slim rows, not |E|·256 register rows
    // — the representation HyperBall proper uses. The (j, mj) row form
    // appears only at h=0 construction; merges are the custom
    // register-wise max aggregate (order-independent, so the packed
    // path is value-identical to the row form the oracle replays).
    val m = 256
    // per-node estimate from the packed array: present / zeta in exact
    // integer+DECIMAL arithmetic, the hllEstimateFromRegisters formula,
    // then Flajolet's small-range (linear counting) correction — balls
    // start at size 1, exactly the regime where the raw HLL estimate is
    // ~0.72m regardless of truth; HyperBall proper applies the same
    // switch
    def estOf(regs: DataFrame, h: Int): DataFrame =
      regs
        .select(
          expr("CAST(size(filter(__regs, x -> x > 0)) AS BIGINT)").as("__present"),
          expr("aggregate(__regs, CAST(0 AS DECIMAL(38,0)), (acc, x) -> " +
            "acc + (CASE WHEN x > 0 THEN " +
            "CAST(shiftleft(CAST(1 AS BIGINT), 56 - x) AS DECIMAL(38,0)) " +
            "ELSE CAST(0 AS DECIMAL(38,0)) END))").as("__zp"))
        .select(
          (lit(Sketches.hllAlpha(m) * (m.toLong * m.toLong).toDouble) *
            lit((1L << 56).toDouble) /
            (col("__zp") + (lit(m.toLong) - col("__present"))
              .cast("decimal(38,0)") * lit(java.math.BigDecimal.valueOf(1L << 56)))
              .cast("double")).as("est"),
          (lit(m.toLong) - col("__present")).as("v_zero"))
        .withColumn("__e",
          when(col("v_zero") > 0 && col("est") <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m.toDouble) / col("v_zero").cast("double")))
            .otherwise(col("est")))
        .agg(count(lit(1)).cast("long").as("n_nodes"),
          sum(round(col("__e"), 6).cast("decimal(28,6)")).as("__t"))
        .select(lit(h).as("h"), col("n_nodes"),
          col("__t").cast("double").as("total_reach"),
          (col("__t").cast("double") / col("n_nodes").cast("double"))
            .as("avg_reach"))
    var regs = staging.stage(
      Sketches.hllRegisters(nodes, Seq("node"), "node")
        .select(col("node"), expr(s"transform(sequence(0, ${m - 1}), " +
          "i -> CAST(CASE WHEN i = __j THEN __mj ELSE 0 END AS BYTE))")
          .as("__regs"))
        .repartition(col("node")), "hb-regs-0")
    var out = estOf(regs, 0)
    // the register-max fold is an ObjectHashAggregate with a FIXED
    // 256-byte buffer per node; the default 128-group sort fallback
    // made every hop an external sort of the edge-sized union —
    // measured 3.5× CPU at the 16× probe ([scale-graph2], r15); see
    // graft.util.Tuning for the bounded-buffer safety argument
    graft.util.Tuning.withBoundedObjectAgg(edgesIn.sparkSession) {
      for (h <- 1 to maxHops) {
        val prop = edges
          .join(regs.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("src").as("node"), col("__regs"))
        regs = staging.stage(
          regs.unionByName(prop)
            .repartition(col("node"))
            .groupBy("node")
            .agg(graft.functions.HllRegsMaxAgg.regsMax(col("__regs"), m)
              .as("__regs")),
          s"hb-regs-$h")
        out = out.unionByName(estOf(regs, h))
      }
    }
    out
  }

  /** Exact per-node triangle counts + local clustering coefficient over an
    * undirected graph (edges canonicalized to `a < b`, self-loops and
    * duplicates dropped).
    *
    * Uses the degree-ordered orientation (Chiba–Nishizeki / Schank &
    * Wagner's node-iterator-core, the shape behind every distributed
    * triangle counter): each edge points from its lower-(degree, id)
    * endpoint to the higher one, wedges form only between a node's
    * OUT-neighbors, and each triangle materializes exactly once — at its
    * unique minimum-rank corner. Out-degrees under this orientation are
    * bounded by O(√m) regardless of raw degree, so a celebrity hub with
    * 10⁸ neighbors contributes wedges only through its (rare) higher-rank
    * neighbors instead of the 10¹⁶ pairs the naive wedge join would build
    * — the orientation IS the skew guard, with zero recall loss.
    *
    * Shape at 100 TB: one edge-keyed dedup shuffle, one degree agg, the
    * wedge self-join keyed on the wedge center, and the closing equi-join
    * against canonical edges on (x, y) — every join an AQE-friendly
    * two-column equi-join. Counts are BIGINT; the coefficient
    * `2·tri / (deg·(deg−1))` is ONE double division per node. */
  /** Neighborhood-overlap link scores for every existing edge: common
    * neighbors, Jaccard `|N(a)∩N(b)| / |N(a)∪N(b)∖{a,b}|`, and the
    * Adamic–Adar-style raw counts — the classic link-prediction /
    * edge-strength features (Liben-Nowell & Kleinberg 2003), used in
    * curation to score co-occurrence edges before thresholding a
    * similarity graph.
    *
    * Common neighbors of edge (a,b) = triangles through that edge, so
    * this rides the same degree-ordered wedge machinery as [[triangles]]
    * — the orientation again bounds the wedge fanout by O(√m), and each
    * (edge, common-neighbor) is found exactly once. Counts are BIGINT;
    * the Jaccard is ONE double division per edge. Edges whose endpoints
    * share no neighbor score 0 via the left join. */
  /** Canonical undirected edges (a < b, no self-loops, dedup'd). */
  private def canonicalEdges(edgesIn: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edgesIn
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))

  /** Triangle triples (u, x, y): u the minimum-(degree, id)-rank corner,
    * x < y by id — each triangle exactly once, wedge fanout bounded by
    * the degree orientation (see [[triangles]]). */
  private def triangleTriples(e: DataFrame, deg: DataFrame): DataFrame = {
    val oriented = e
      .join(deg.select(col("v").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("__db")), "b")
      .select(
        when(struct(col("__da"), col("a")) < struct(col("__db"), col("b")),
          struct(col("a").as("u"), col("b").as("w")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.w").as("w"))
    oriented.select(col("u"), col("w").as("x"))
      .join(oriented.select(col("u"), col("w").as("y")), "u")
      .filter(col("x") < col("y"))
      .join(e.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
  }

  def edgeNeighborScores(edgesIn: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = canonicalEdges(edgesIn, srcCol, dstCol)
    val deg = degrees(e)
    // every triangle contributes one common neighbor to EACH of its three
    // edges — explode the canonical edge triple and count per edge
    val common = triangleTriples(e, deg)
      .select(explode(array(
        struct(least(col("u"), col("x")).as("a"),
          greatest(col("u"), col("x")).as("b")),
        struct(least(col("u"), col("y")).as("a"),
          greatest(col("u"), col("y")).as("b")),
        struct(col("x").as("a"), col("y").as("b")))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    e.join(common, Seq("a", "b"), "left")
      .join(deg.select(col("v").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("__db")), "b")
      .withColumn("common", coalesce(col("common"), lit(0L)).cast("long"))
      .select(col("a"), col("b"), col("common"),
        col("__da").cast("long").as("deg_a"),
        col("__db").cast("long").as("deg_b"),
        // |N(a)∪N(b)∖{a,b}| = da + db − 2 − common (a∈N(b), b∈N(a) always)
        when(col("__da") + col("__db") - 2 - col("common") > 0,
          col("common").cast("double") /
            (col("__da") + col("__db") - 2 - col("common")).cast("double"))
          .otherwise(lit(0.0)).as("jaccard"))
  }

  /** Adamic–Adar link prediction over NON-edges (Adamic & Adar 2003;
    * the strongest of the classic local similarity indices in the
    * Liben-Nowell & Kleinberg study): for every distance-2 pair (a, b)
    * not already linked, AA = Σ_{w ∈ N(a)∩N(b)} 1/ln(deg w) — common
    * neighbors weighted down by their promiscuity. The "who to connect
    * next" / related-entity scorer; complements [[edgeNeighborScores]],
    * which scores edges that already EXIST.
    *
    * Candidates come from wedges through each center w, which is
    * quadratic in center degree — `maxCenterDegree` drops hub centers
    * with the standard audit contract ([[oversizedLeftKeys]] on the
    * adjacency frame surfaces them). The cap is PRINCIPLED here, not
    * just protective: a hub's term is 1/ln(deg) → 0, so dropped centers
    * are precisely the ones that contribute least.
    *
    * Each wedge contributes one fixed-shape `1/ln(deg)` double
    * quantized to DECIMAL(18,8), so the per-pair sum is
    * association-free; the top-N cut orders by (aa DESC, a, b) — a
    * total order. Shape: one canonical-edge dedup (staged — it feeds the
    * adjacency build twice and the final anti-join), a constant-size
    * degree aggregate whose cap filter drops hub adjacency rows BEFORE
    * any fan-out (a mega-hub never reaches the list aggregation), one
    * shuffle grouping the surviving adjacency into per-center SORTED
    * neighbor lists, a two-level generator over each capped list (anchor
    * index, then the sorted suffix slice — a < b for free), one (a, b)
    * agg, an anti-join against the edge set, TakeOrderedAndProject. The
    * list-explode replaces the former center-keyed self-join — one
    * exchange instead of two probe sides over the fattest frame, same
    * wedges, measured ~20% faster at sf0.1 and structurally cheaper at
    * scale. */
  def adamicAdar(edgesIn: DataFrame, srcCol: String, dstCol: String,
      maxCenterDegree: Int = 1000, topN: Int = 100,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(maxCenterDegree >= 2, s"maxCenterDegree must be >= 2, got $maxCenterDegree")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val e = staging.stage(canonicalEdges(edgesIn, srcCol, dstCol), "aa-edges")
    val adj = e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))
    // hub guard BEFORE any fan-out: degrees are a constant-size count
    // aggregate, and over-cap centers' adjacency rows drop at this join —
    // a 10M-neighbor hub never reaches the list aggregation below (which
    // would otherwise buffer its full neighbor array before the size
    // filter could discard it)
    val kept = adj.join(
      adj.groupBy("w").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg").between(2, maxCenterDegree)).select("w"), "w")
    // e is canonical-distinct, so the per-center neighbor sets need no
    // re-dedup; post-guard, the collected list is ≤ maxCenterDegree ids
    // and the pair fanout ≤ d·(d−1)/2 wedges per center
    val adjList = kept.groupBy("w")
      .agg(sort_array(collect_list(col("n"))).as("__ns"))
    // two-level explode: anchor index i, then the SORTED suffix slice —
    // a < b for free, and no per-center materialization of the full
    // d(d−1)/2 struct array (the flatten(transform(transform(struct)))
    // form measured 1.8× slower: it builds and copies every pair struct
    // before the generator streams them)
    // the per-wedge term rides as a FIXED-POINT LONG (the DECIMAL(18,8)
    // quantization × 1e8 — an exact integer): the hot (a, b) aggregate
    // sums plain longs instead of wide decimals, and the final
    // sum/1e8 double is bit-identical to casting the decimal sum (the
    // long total stays exact below 2^53 for any maxCenterDegree ≤ ~6e7)
    adjList
      .select(col("__ns"),
        ((lit(1.0) / log(size(col("__ns")).cast("double")))
          .cast("decimal(18,8)") * lit(100000000L)).cast("long").as("__t"),
        explode(expr("sequence(1, size(__ns) - 1)")).as("__i"))
      .select(col("__t"),
        expr("element_at(__ns, __i)").as("a"),
        explode(expr("slice(__ns, __i + 1, size(__ns) - __i)")).as("b"))
      .groupBy("a", "b")
      .agg(sum("__t").as("__aa"), count(lit(1)).cast("long").as("common"))
      .join(e, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("common"),
        (col("__aa").cast("double") / lit(1e8)).as("aa"))
      .orderBy(col("aa").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Bipartite co-occurrence projection: distinct (left, right)
    * membership → the weighted right–right graph, edge weight = number
    * of shared left keys. THE graph builder for everything above it:
    * parts-per-order → co-purchase ([[pageRank]], [[triangles]]), docs-
    * per-cluster → similarity graphs, users-per-session → co-visitation.
    *
    * The projection is quadratic in LEFT degree (a left key with d
    * members emits d·(d−1)/2 pairs), so `maxLeftDegree` drops left keys
    * past the cap — the mega-order/mega-session skew guard, same
    * contract as every other cap in this library: no silent truncation,
    * audit the dropped keys via [[oversizedLeftKeys]]. Below the cap the
    * output is exact. One distinct shuffle, one degree agg, then the
    * pair fan-out as the [[adamicAdar]] sorted-suffix two-level explode
    * over per-left-key membership lists (r15): the previous left-keyed
    * SELF-JOIN planned as a broadcast hash join whose build side could
    * not reuse the probe side's exchange, so the distinct + degree-guard
    * subtree EXECUTED TWICE (x119 plan: operators 1-19 duplicated as
    * 21-40); the explode consumes `kept` once and emits a < b for free
    * from the sorted list. The collect_list buffer is bounded by the
    * degree guard that runs BEFORE it (≤ maxLeftDegree ids, ≤ ~8 KB at
    * the 1000 default), the same bounded-buffer argument as adamicAdar's
    * adjacency lists. */
  def bipartiteProject(df: DataFrame, leftCol: String, rightCol: String,
      maxLeftDegree: Int = 1000): DataFrame = {
    require(maxLeftDegree >= 2, s"maxLeftDegree must be >= 2, got $maxLeftDegree")
    val m = df.select(col(leftCol).as("l"), col(rightCol).as("r")).distinct()
    // degree-1 keys emit no pairs — dropping them here (≥ 2, exactly
    // adamicAdar's between(2, cap)) is output-identical and keeps the
    // suffix explode off size-1 lists, where sequence(1, size-1) would
    // otherwise step DOWN through index 0
    val kept = m.join(
      m.groupBy("l").agg(count(lit(1)).as("__dl"))
        .filter(col("__dl").between(2, maxLeftDegree)).select("l"), "l")
    kept.groupBy("l")
      .agg(sort_array(collect_list(col("r"))).as("__ns"))
      .select(col("__ns"),
        explode(expr("sequence(1, size(__ns) - 1)")).as("__i"))
      .select(expr("element_at(__ns, __i)").as("a"),
        explode(expr("slice(__ns, __i + 1, size(__ns) - __i)")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).cast("long").as("weight"))
  }

  /** Audit surface for [[bipartiteProject]]'s degree cap: the left keys
    * whose membership exceeds the cap, with their degrees — hottest
    * first, nothing silently dropped. */
  def oversizedLeftKeys(df: DataFrame, leftCol: String, rightCol: String,
      maxLeftDegree: Int): DataFrame =
    df.select(col(leftCol).as("l"), col(rightCol).as("r")).distinct()
      .groupBy("l").agg(count(lit(1)).as("deg"))
      .filter(col("deg") > maxLeftDegree)
      .orderBy(col("deg").desc)

  /** Association rules (support / confidence / lift) over (basket, item)
    * memberships — the market-basket formulation (Agrawal et al. 1993)
    * restricted to the pairwise rules that cover the overwhelming share
    * of production use (recommendations, query expansion, co-occurrence
    * weighting). For every ordered pair a→c co-occurring in at least
    * `minSupport` baskets:
    *
    *   confidence(a→c) = supp(a,c) / supp(a)
    *   lift(a→c)       = supp(a,c)·N / (supp(a)·supp(c))
    *
    * with N the kept-basket count. All supports are exact BIGINT counts;
    * the two ratios are single IEEE divisions of exact integer products,
    * so the output is bit-deterministic under any partitioning (the x145
    * oracle hash-compares them unrounded).
    *
    * Shape at scale: one distinct shuffle on (basket, item), one basket-
    * size aggregate, one basket-keyed self-join whose fanout
    * `maxBasketSize` bounds (audit the dropped baskets via
    * [[oversizedLeftKeys]] — same no-silent-truncation contract as
    * [[bipartiteProject]]), then the `minSupport` filter prunes the pair
    * table BEFORE the two item-support joins run; the scalar N joins by
    * broadcast. No all-pairs stage: everything downstream of the capped
    * self-join is linear in the number of FREQUENT pairs. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2, maxBasketSize: Int = 1000,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val m = df.select(col(basketCol).as("b"), col(itemCol).as("i")).distinct()
    // `kept` feeds three independent subtrees (item supports, both sides
    // of the pair self-join, and the basket count N); exchange reuse is
    // not guaranteed across them, so stage it once.
    val kept = staging.stage(m.join(
      m.groupBy("b").agg(count(lit(1)).as("__sz"))
        .filter(col("__sz") <= maxBasketSize).select("b"), "b"), "ar-kept")
    val itemSupp = kept.groupBy(col("i")).agg(count(lit(1)).cast("long").as("supp"))
    val pairSupp = kept.select(col("b"), col("i").as("x"))
      .join(kept.select(col("b"), col("i").as("y")), "b")
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).cast("long").as("pair_supp"))
      .filter(col("pair_supp") >= minSupport)
    val total = kept.select(countDistinct(col("b")).cast("long").as("__n"))
    val directed = pairSupp.select(col("x").as("ante"), col("y").as("cons"), col("pair_supp"))
      .unionAll(pairSupp.select(col("y").as("ante"), col("x").as("cons"), col("pair_supp")))
    directed
      .join(itemSupp.select(col("i").as("ante"), col("supp").as("ante_supp")), "ante")
      .join(itemSupp.select(col("i").as("cons"), col("supp").as("cons_supp")), "cons")
      .crossJoin(broadcast(total))
      .select(col("ante"), col("cons"), col("pair_supp"), col("ante_supp"),
        col("cons_supp"),
        (col("pair_supp").cast("double") / col("ante_supp").cast("double"))
          .as("confidence"),
        ((col("pair_supp") * col("__n")).cast("double") /
          (col("ante_supp") * col("cons_supp")).cast("double")).as("lift"))
  }

  /** Frequent 3-itemsets via one Apriori level (Agrawal & Srikant 1994)
    * on top of [[associationRules]]'s pair layer: candidate triples are
    * generated ONLY from frequent pairs joined on their shared first
    * item and pruned by the third sub-pair (the downward-closure
    * property makes this lossless), and only the surviving candidates
    * are counted against baskets. The prune is the entire point at
    * scale: the triple-occurrence frame explodes baskets through
    * FREQUENT pairs only — on a skewed corpus that is orders of
    * magnitude below the naive 3-way basket self-join, with zero recall
    * loss at the same `minSupport`.
    *
    * Shape: the pair layer is [[associationRules]]'s capped self-join
    * (same `maxBasketSize` audit contract via [[oversizedLeftKeys]]);
    * candidates are a frequent-pair self-join on the first item plus a
    * (y,z) semi-join; the count stage joins basket-pair occurrences
    * (pre-filtered to frequent (x,y)) to basket items with z > y, then
    * semi-joins candidates BEFORE the final (x,y,z) count — everything
    * an equi-join on slim columns, supports exact BIGINTs, one IEEE
    * division per output row for the support ratio. */
  def frequentTriples(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2, maxBasketSize: Int = 1000,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 3, s"maxBasketSize must be >= 3, got $maxBasketSize")
    val m = df.select(col(basketCol).as("b"), col(itemCol).as("i")).distinct()
    // Stage the reused frames: `kept` feeds the pair self-join (both
    // sides), the z-item join, and N; `bp` — the capped basket self-join,
    // the heaviest frame here — sits under both the frequent-pair
    // aggregation and the triple-count stage; `freqPairs` under FOUR
    // subtrees (candidate join x2, candidate prune, count-stage gate).
    // Exchange reuse across distinct join subtrees is not guaranteed, so
    // without staging the self-join can execute twice and the pair
    // aggregation four times.
    val kept = staging.stage(m.join(
      m.groupBy("b").agg(count(lit(1)).as("__sz"))
        .filter(col("__sz") <= maxBasketSize).select("b"), "b"), "ft-kept")
    val bp = staging.stage(kept.select(col("b"), col("i").as("x"))
      .join(kept.select(col("b"), col("i").as("y")), "b")
      .filter(col("x") < col("y")), "ft-basket-pairs")
    val freqPairs = staging.stage(bp.groupBy("x", "y")
      .agg(count(lit(1)).cast("long").as("ps"))
      .filter(col("ps") >= minSupport)
      .select("x", "y"), "ft-freq-pairs")
    // Apriori candidates: (x,y)+(x,z) frequent with y<z, pruned by (y,z)
    val cands = staging.stage(freqPairs
      .join(freqPairs.select(col("x"), col("y").as("z")), "x")
      .filter(col("y") < col("z"))
      .join(freqPairs.select(col("x").as("y"), col("y").as("z")),
        Seq("y", "z"), "left_semi"), "ft-cands")
    // minSupport prunes freqPairs (and cands, bounded below it by
    // downward closure) to a sliver of bp — 3.6k pairs vs 1.2M basket
    // pairs at sf0.1. Broadcast the pruned sides when their staged size
    // fits the broadcast threshold: bp then flows filter→join→filter→count
    // in one unshuffled span until the triple aggregation, where two
    // SortMergeJoins would SORT bp twice; past the threshold the semi
    // joins fall back to shuffles, the correct plan for a weakly-pruned
    // pair layer.
    val fpSide = Staging.broadcastIfSmall(freqPairs)
    val candsSide = Staging.broadcastIfSmall(cands)
    val total = kept.select(countDistinct(col("b")).cast("long").as("__n"))
    bp.join(fpSide, Seq("x", "y"), "left_semi")
      .join(kept.select(col("b"), col("i").as("z")), "b")
      .filter(col("y") < col("z"))
      .join(candsSide, Seq("x", "y", "z"), "left_semi")
      .groupBy("x", "y", "z").agg(count(lit(1)).cast("long").as("supp"))
      .filter(col("supp") >= minSupport)
      .crossJoin(broadcast(total))
      .select(col("x"), col("y"), col("z"), col("supp"),
        (col("supp").cast("double") / col("__n").cast("double")).as("support"))
  }

  /** k-core decomposition membership: iteratively peel nodes of degree
    * < k (with the cascade — removing a weak node lowers its neighbors)
    * until fixpoint; returns the surviving nodes with their within-core
    * degrees. The standard graph-curation density gate: spam/link-farm
    * filtering keeps the k-core, collaboration analytics report core
    * membership, and community pipelines use it as a cheap seed.
    *
    * Degrees are maintained INCREMENTALLY (r15): the canonical edge set
    * stages ONCE, the per-round state is the node-scale (v, deg) frame,
    * and a peel round decrements survivor degrees by their edges into
    * the weak frontier instead of recomputing degrees from the shrunken
    * edge list. Exactness: an original edge is alive at round r iff both
    * endpoints are alive, so for a survivor v the alive edges lost this
    * round are exactly the e0 rows pairing v with a weak node — the
    * semi-join counts them from e0 directly (edges whose other endpoint
    * died EARLIER already left v's count when that node was peeled, and
    * weak-weak edges only touch nodes the anti-join drops). The pre-r15
    * shape recomputed degrees from scratch (a 2|E| shuffle) and
    * re-checkpointed the full edge list EVERY round — measured 9.6
    * kept-cpu-s on x115's 12-round cascade vs 4.3 for this form, with
    * identical per-round weak sets and fixpoint.
    *
    * The weak frontier (after the first peel, typically tiny) BROADCASTS
    * into the removed-edge semi-joins and the survivor anti-join whenever
    * it fits the session's broadcast threshold
    * ([[graft.util.Staging.broadcastIfSmall]]), leaving the staged edge
    * side entirely unshuffled — per-round shuffle bytes are O(edges
    * removed) + O(nodes), never O(|E|); a huge first peel (sparse graph,
    * high k) exceeds it and falls back to shuffled joins, the correct
    * plan for two big sides. The per-round driver scalar is ONE count+sum
    * aggregate over the staged node-scale deg frame (never the edge
    * list): the count answers "converged?" and sizes the frontier, the
    * weak-degree sum bounds the removed-edge frame's rows and sizes ITS
    * broadcast — a removed frame that might exceed the threshold falls
    * back to the shuffled outer join instead of an unbounded broadcast
    * build.
    * The deg frame re-stages per round to cut lineage, the
    * [[pageRank]] loop discipline — node-scale, not edge-scale. Rounds
    * are data-dependent but bounded by `maxIters`.
    * Everything is integer — the fixpoint is engine- and
    * layout-invariant, so a SQL replay that unrolls ≥ the convergence
    * round count reproduces it exactly (extra unrolled rounds are
    * no-ops). */
  def kCore(edgesIn: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIters: Int = 50,
      staging: Staging = Staging.LocalCheckpoint,
      roundObserver: Int => Unit = _ => ()): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e0 = staging.stage(canonicalEdges(edgesIn, srcCol, dstCol), "kcore-edges-0")
    var deg = staging.stage(degrees(e0), "kcore-deg-0")
    var round = 0
    var converged = false
    while (!converged && round < maxIters) {
      val weakAll = deg.filter(col("deg") < k).select("v")
      // per-round check: one aggregate over the STAGED node-scale deg frame
      // (the pre-r15 check recomputed degrees from the full edge list just
      // to count the weak set). The count ends the loop and sizes the weak
      // frontier; the weak-degree SUM is a provable upper bound on this
      // round's removed-edge rows, so it sizes the removed frame.
      val probe = deg.filter(col("deg") < k)
        .agg(count(lit(1)), coalesce(sum("deg"), lit(0L))).first()
      val (nWeak, weakDegSum) = (probe.getLong(0), probe.getLong(1))
      if (nWeak == 0L) converged = true
      else {
        round += 1
        roundObserver(round)
        val weak = Staging.broadcastIfSmall(weakAll, Some(nWeak))
        // alive edges lost to this round's peel, counted per survivor:
        // e0 rows whose OTHER endpoint is weak (see exactness note above)
        val removedAll = e0.join(weak.select(col("v").as("a")), Seq("a"), "left_semi")
          .select(col("b").as("v"))
          .unionAll(
            e0.join(weak.select(col("v").as("b")), Seq("b"), "left_semi")
              .select(col("a").as("v")))
          .groupBy("v").agg(count(lit(1)).as("__rm"))
        val removed = Staging.broadcastIfSmall(removedAll, Some(weakDegSum))
        deg = staging.stage(
          deg.join(weak, Seq("v"), "left_anti")
            .join(removed, Seq("v"), "left")
            .select(col("v"),
              (col("deg") - coalesce(col("__rm"), lit(0L))).as("deg")),
          s"kcore-deg-$round")
      }
    }
    deg.select(col("v").as("node"), col("deg").cast("long").as("deg"))
  }

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over all (symmetrized) edges — Newman 2002's "do hubs link to
    * hubs" coefficient, the one-number structural fingerprint that
    * separates social graphs (positive) from web/biology graphs
    * (negative). All five moments ride ONE aggregation as DECIMAL(38,0)
    * (x = deg_a, y = deg_b over both edge orientations, so Σx = Σy and
    * the symmetric closed form needs only n, Σx, Σx², Σxy); IEEE math
    * happens once, on exact operands. */
  def degreeAssortativity(edgesIn: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val e = canonicalEdges(edgesIn, srcCol, dstCol)
    val deg = degrees(e)
    val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .join(deg.select(col("v").as("a"), col("deg").as("__x")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("__y")), "b")
    sym.agg(count(lit(1)).cast(d38).as("__n"),
        sum(col("__x").cast(d38)).as("__sx"),
        sum((col("__x") * col("__x")).cast(d38)).as("__sxx"),
        sum((col("__x") * col("__y")).cast(d38)).as("__sxy"))
      .select(
        (col("__n") / 2).cast("long").as("n_edges"),
        ((col("__n") * col("__sxy") - col("__sx") * col("__sx")).cast("double") /
         (col("__n") * col("__sxx") - col("__sx") * col("__sx")).cast("double"))
          .as("assortativity"))
  }

  def triangles(edgesIn: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = canonicalEdges(edgesIn, srcCol, dstCol)
    val deg = degrees(e)
    val tri = triangleTriples(e, deg)
    val perNode = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("v"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("coeff", when(col("deg") >= 2,
        (col("triangles") * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"))
        .otherwise(lit(0.0)))
      .select(col("v").as("node"), col("deg").cast("long").as("deg"),
        col("triangles").cast("long").as("triangles"), col("coeff"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection, made fully DETERMINISTIC: labels start as node ids; each
    * round EVERY node simultaneously takes the most frequent label among
    * its neighbors (undirected view), ties broken by the smallest label.
    * Classic LPA breaks ties randomly and updates asynchronously — fine
    * for exploration, useless for a reproducible pipeline; synchronous
    * min-tie-break makes the round a pure function of the previous
    * labeling, so any engine/layout replays it bit-for-bit (the oracle
    * unrolls the rounds as CTEs, same discipline as [[pageRank]]).
    *
    * Scale shape per round: one neighbor-keyed equi-join of labels to the
    * staged undirected edge list — the edges are staged ONCE
    * hash-partitioned and sorted on `dst`, the per-round join key, and
    * the labels frame stays hash(node)-partitioned through the argmax
    * agg, so the join needs NO exchange on either side (on a durable
    * PathStaging deployment: bucketBy(dst) the staged edges) — then ONE
    * per-node `mode(label, deterministic = true)` agg: Spark's
    * deterministic mode ties to the LOWEST value, which IS the argmax-by-
    * (count desc, label asc) contract, so the former two-agg chain
    * ((node,label) count + struct-max argmax, TWO exchanges per round)
    * collapses to a single exchange on hash(node). mode() is an object
    * agg (per-group label→count open hash map) rather than codegen'd —
    * the map is bounded by the node's distinct neighbor-label count
    * (≤ degree), the same cardinality the count agg materialized as rows,
    * and partial merge still combines map-side, so the trade is one
    * whole-stage-codegen span for half the shuffles (measured 1.6-2×
    * faster per round at sf0.1 — and at the 16× probe scale only AFTER
    * raising the object-agg sort-fallback threshold, whose 128-group
    * default silently turned every round into an external sort; the
    * rounds now run under [[graft.util.Tuning.withBoundedObjectAgg]],
    * which is what makes mode() the right choice at scale and not just
    * at fixture size). Labels re-stage per round to cut
    * lineage; nothing reaches the driver. `iters` is a fixed budget, not a
    * convergence loop — LPA oscillates on bipartite structures under
    * synchronous update, so a fixed round count is the reproducible
    * choice (and what an at-scale run does anyway). */
  def labelPropagation(edgesIn: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(iters >= 1, s"labelPropagation needs iters >= 1, got $iters")
    val directed = edgesIn.filter(col(srcCol) =!= col(dstCol))
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    // staged pre-partitioned on dst, the per-round join key (see
    // [[pageRank]]): hash(dst) satisfies the (src, dst) dedup grouping via
    // the subset rule, so one shuffle builds layout + dedup together and
    // rounds >= 2 move only the labels frame — which itself stays
    // hash(node)-partitioned through the argmax agg, so the label⋈edge
    // join is exchange-free on BOTH sides
    val edges = staging.stage(
      directed.union(directed.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("dst")).dropDuplicates("src", "dst")
        .sortWithinPartitions("dst"), "lpa-edges")
    val nodes = staging.stage(
      edges.select(col("src").as("node")).distinct(), "lpa-nodes")
    var labels = nodes.withColumn("label", col("node"))
    // mode() is an ObjectHashAggregate whose DEFAULT sort-fallback
    // threshold (128 groups/partition) turns every per-node round into an
    // external sort + per-row buffer serialization once nodes outgrow the
    // fixture — measured 6.5× CPU at the 16× probe ([scale-graph2], r15).
    // The mode buffer is bounded by a node's distinct neighbor labels, so
    // the bounded-object-agg budget applies; see graft.util.Tuning.
    graft.util.Tuning.withBoundedObjectAgg(edgesIn.sparkSession) {
      for (i <- 1 to iters) {
        labels = staging.stage(
          edges
            .join(labels.select(col("node").as("dst"), col("label")), Seq("dst"))
            .groupBy(col("src").as("node"))
            .agg(mode(col("label"), deterministic = true).as("label")),
          s"lpa-labels-$i")
      }
    }
    labels
  }

  /** Multi-source BFS hop distance over the undirected graph: every node
    * within `maxHops` of any seed, labeled with its minimum hop count —
    * the frontier-expansion primitive behind "degrees of separation",
    * contamination-radius, and seed-expansion curation (grow a trusted
    * domain set by k hops; everything past the horizon stays unlabeled).
    *
    * Per round ONE join: frontier ⋈ staged edges, one distinct, one
    * anti-join against the visited set. The frontier BROADCASTS into the
    * edge join when it fits the session's broadcast threshold
    * ([[graft.util.Staging.broadcastIfSmall]]; its size is bounded by the
    * staged visited set it filters): without the hint Catalyst could
    * broadcast-build the EDGE list each round (and at scale would
    * re-shuffle it into a sort-merge join) — with it the staged edges
    * stream map-side and a round's shuffle bytes are O(frontier
    * fan-out), never O(|E|). The visited set broadcasts into the
    * anti-join under the same threshold, read off its exact staged
    * size. Past the threshold the joins fall back to shuffles, the right
    * plan for a frontier/visited set that big. An EMPTY frontier
    * short-circuits the remaining rounds outright — they would union
    * nothing (output identical), and at fixture scale those no-op rounds
    * were real wall.
    * Synchronous frontiers make `dist` the true
    * BFS layer number: a node is labeled the FIRST round it is reached,
    * and the anti-join keeps later rounds from relabeling it. The
    * frontier is data-dependent but bounded by the node set; `maxHops`
    * bounds rounds (no convergence probe — the fixed-round
    * reproducibility choice [[labelPropagation]] documents; the empty-
    * frontier break is not a convergence probe, it skips provable
    * no-ops). */
  def bfsHops(edgesIn: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], maxHops: Int,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(maxHops >= 1, s"bfsHops needs maxHops >= 1, got $maxHops")
    require(seeds.nonEmpty, "bfsHops needs at least one seed")
    val directed = edgesIn.filter(col(srcCol) =!= col(dstCol))
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val edges = staging.stage(
      directed.union(directed.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src")).dropDuplicates("src", "dst")
        .sortWithinPartitions("src"), "bfs-edges")
    val spark = edgesIn.sparkSession
    import spark.implicits._
    var frontier = seeds.toDF("node")
    var visited = staging.stage(frontier.withColumn("dist", lit(0L)), "bfs-v0")
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      if (frontier.isEmpty) exhausted = true
      else {
        val fSide = Staging.broadcastIfSmall(frontier.withColumnRenamed("node", "src"))
        val vSide = Staging.broadcastIfSmall(visited.select("node"))
        val next = edges
          .join(fSide, Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(vSide, Seq("node"), "left_anti")
          .withColumn("dist", lit(h.toLong))
        visited = staging.stage(visited.unionByName(next), s"bfs-v$h")
        frontier = visited.filter(col("dist") === h).select("node")
        h += 1
      }
    }
    visited
  }

  /** Jones–Plassmann greedy graph coloring (1993) with DETERMINISTIC
    * hash priorities: per round, every still-uncolored node whose
    * (md5-priority, id) beats all uncolored neighbors colors itself with
    * the smallest color absent from its already-colored neighborhood —
    * the conflict-free parallel scheduling primitive (color classes =
    * batches safe to update concurrently: SCD2 partition rewrites,
    * graph-mutation batches, register allocation). Classic JP draws
    * random priorities — irreproducible; the portable md5 weight (the
    * [[randomWalks]] / rendezvous trick) keeps the expected O(log n)
    * round bound AND bit-exact replay on any engine.
    *
    * Shape per round: one neighbor join among uncolored nodes (local-max
    * test), one join of winners to colored neighbors + a first-gap fold
    * over each sorted color set (pure HOF), both on the node-keyed
    * exchange. Rounds are a fixed budget; nodes still uncolored at the
    * budget emit color = −1 with `colored_round` = −1 — the SCC-style
    * audit flag, nothing silent. */
  def jpColoring(edgesIn: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 8,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 64, s"maxRounds out of range")
    val e0 = canonicalEdges(edgesIn, srcCol, dstCol)
    val edges = staging.stage(
      e0.unionAll(e0.select(col("b").as("a"), col("a").as("b")))
        .repartition(col("a")).sortWithinPartitions("a"), "jp-edges")
    val pri = conv(substring(md5(concat(lit("jp:"),
      col("node").cast("string"))), 1, 8), 16, 10).cast("long")
    var unc = staging.stage(
      edges.select(col("a").as("node")).distinct()
        .withColumn("pri", pri), "jp-unc-0")
    val spark = edgesIn.sparkSession
    var colored: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("color",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("colored_round",
          org.apache.spark.sql.types.LongType))))
    var r = 0
    while (r < maxRounds && !unc.isEmpty) {
      r += 1
      // local maxima among uncolored: no uncolored neighbor with a
      // strictly greater (pri, id)
      val beaten = edges
        .join(unc.select(col("node").as("a"), col("pri").as("__pa")), Seq("a"))
        .join(unc.select(col("node").as("b"), col("pri").as("__pb")), Seq("b"))
        .filter(col("__pb") > col("__pa") ||
          (col("__pb") === col("__pa") && col("b") > col("a")))
        .select(col("a").as("node")).distinct()
      val winners = unc.join(beaten, Seq("node"), "left_anti")
      // smallest color missing from the colored neighborhood: first-gap
      // fold over the sorted distinct neighbor colors
      val nbrColors = edges
        .join(winners.select(col("node").as("a")), Seq("a"))
        .join(colored.select(col("node").as("b"), col("color")), Seq("b"))
        .groupBy(col("a").as("node"))
        .agg(array_sort(collect_set(col("color"))).as("__cs"))
      val assigned = winners.select("node")
        .join(nbrColors, Seq("node"), "left")
        .select(col("node"),
          aggregate(coalesce(col("__cs"), array().cast("array<bigint>")),
            lit(0L), (acc, c) => when(c === acc, acc + 1).otherwise(acc))
            .as("color"),
          lit(r.toLong).as("colored_round"))
      colored = staging.stage(colored.unionByName(assigned), s"jp-c$r")
      unc = staging.stage(unc.join(assigned.select("node"), Seq("node"),
        "left_anti"), s"jp-unc-$r")
    }
    val leftover = unc.select(col("node"), lit(-1L).as("color"),
      lit(-1L).as("colored_round"))
    colored.unionByName(leftover)
  }

  /** Deterministic hash-seeded random walks — the DeepWalk/node2vec
    * corpus generator (Perozzi 2014) made REPLAYABLE: `walksPerNode`
    * walks start at every node; at step s, walk (start, widx) at node u
    * moves to the out-neighbor v with the highest rendezvous weight
    * md5(start|widx|s|v) (ties → smallest v) — [[graft.x.Sampling
    * .rendezvousShard]]'s HRW trick applied to neighbor choice, so the
    * "randomness" is a pure function of the walk identity and any
    * engine/layout replays the identical corpus (sampling-based walks
    * are the classic irreproducible training-data step). Well-mixed
    * md5 bits make the per-step choice uniform over neighbors in
    * aggregate; walks at dead-end nodes simply end.
    *
    * Shape per step: one src-keyed equi-join of the walk frontier to
    * the staged edge list + one (start, widx)-keyed struct-max argmax
    * — the [[labelPropagation]] exchange pattern; output is one row per
    * (walk, step), corpus-scale, never collected. */
  def randomWalks(edgesIn: DataFrame, srcCol: String, dstCol: String,
      steps: Int, walksPerNode: Int,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(steps >= 1 && steps <= 64, s"steps $steps out of range")
    require(walksPerNode >= 1 && walksPerNode <= 64,
      s"walksPerNode $walksPerNode out of range")
    val edges = staging.stage(edgesIn
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(col("src")).sortWithinPartitions("src"), "walk-edges")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    var cur = staging.stage(nodes
      .select(col("node").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("widx"))
      .withColumn("cur", col("start")), "walk-0")
    var out = cur.select(col("start"), col("widx"), lit(0L).as("step"),
      col("cur").as("node"))
    for (s <- 1 to steps) {
      val weight = conv(substring(md5(concat_ws("|",
        col("start").cast("string"), col("widx").cast("string"),
        lit(s.toString), col("dst").cast("string"))), 1, 8), 16, 10)
        .cast("long")
      cur = staging.stage(cur
        .join(edges, cur("cur") === edges("src"))
        .groupBy(col("start"), col("widx"))
        .agg(max(struct(weight.as("w"), (-col("dst")).as("nd"))).as("m"))
        .select(col("start"), col("widx"), (-col("m.nd")).as("cur")),
        s"walk-$s")
      out = out.unionByName(cur.select(col("start"), col("widx"),
        lit(s.toLong).as("step"), col("cur").as("node")))
    }
    out
  }

  /** Weighted HITS (Kleinberg 1999) hubs-and-authorities over a DIRECTED
    * graph, kept EXACT by running the power iteration UNNORMALIZED in
    * DECIMAL(38,0): from h₀ = 1, each round computes
    * aₖ(v) = Σ_{u→v} w·hₖ₋₁(u) then hₖ(u) = Σ_{u→v} w·aₖ(v) — pure
    * integer arithmetic, so the scores (and therefore the RANKING, which
    * is what HITS is for) replay bit-for-bit on any engine; the usual
    * per-round L2 normalization only rescales and is where float
    * nondeterminism would creep in, so it is omitted and the caller
    * normalizes once at the end if a bounded score is wanted. Magnitudes
    * grow like (Σdeg·w)^(2·iters): DECIMAL(38,0) holds iters = 3 for
    * weighted degrees up to ~10⁶ — far past any per-node mass a sane
    * graph has; overflow surfaces as NULL, not a wrong number.
    *
    * Shape per round: two src/dst-keyed equi-joins + two keyed sum aggs.
    * The a-step joins on `src`, the h-step on `dst`, so the edge list is
    * staged TWICE — once hash(src)-sorted, once hash(dst)-sorted (the
    * [[pageRank]] pinned-layout discipline, one copy per join key): every
    * round's big edge side satisfies its join's required distribution
    * from the checkpointed layout and is never re-shuffled; only the
    * node-sized score frames and the post-join mass aggregation move. */
  def hits(edgesIn: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 3,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(iters >= 1 && iters <= 6, s"iters $iters out of range")
    val d38 = "decimal(38,0)"
    // repartition BEFORE the dedup agg: hash(src) satisfies the
    // (src, dst) grouping's ClusteredDistribution, so one shuffle yields
    // the deduped frame already in the a-step's join layout
    val eSrc = staging.stage(edgesIn
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(col("src"))
      .groupBy("src", "dst").agg(sum("w").cast(d38).as("w"))
      .sortWithinPartitions("src"), "hits-edges-src")
    val eDst = staging.stage(
      eSrc.repartition(col("dst")).sortWithinPartitions("dst"),
      "hits-edges-dst")
    val nodes = staging.stage(
      eSrc.select(col("src").as("node"))
        .union(eSrc.select(col("dst").as("node"))).distinct(), "hits-nodes")
    var h = nodes.withColumn("h", lit(1L).cast(d38))
    var a = nodes.withColumn("a", lit(0L).cast(d38))
    for (k <- 1 to iters) {
      a = staging.stage(nodes.join(
        eSrc.join(h.select(col("node").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("w") * col("h")).cast(d38).as("__a")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("__a"), lit(0L).cast(d38)).as("a")),
        s"hits-a$k")
      h = staging.stage(nodes.join(
        eDst.join(a.select(col("node").as("dst"), col("a")), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("w") * col("a")).cast(d38).as("__h")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("__h"), lit(0L).cast(d38)).as("h")),
        s"hits-h$k")
    }
    nodes.join(a, Seq("node")).join(h, Seq("node"))
      .select(col("node"), col("a").as("authority"), col("h").as("hub"))
  }

  /** Budgeted Bellman–Ford single-source shortest paths over a DIRECTED
    * weighted graph with non-negative integer weights: `rounds` rounds of
    * synchronous edge relaxation — after round k every node holds the
    * exact min-cost over paths of ≤ k edges, so with rounds ≥ graph
    * diameter the result is the true SSSP distance (Bellman 1958; the
    * round-synchronous form is the standard distributed/semiring
    * formulation). Fixed rounds, min-merge, integer adds: bit-exact on
    * any engine/layout, same reproducibility contract as
    * [[labelPropagation]]'s fixed iteration budget.
    *
    * Shape per round: ONE src-keyed equi-join of the frontier-less dist
    * frame to the edge list + one node-keyed min aggregate — the dist
    * frame stays hash(node)-partitioned through the agg and the edges
    * stage hash(src)-partitioned once, so rounds ≥ 2 re-shuffle only the
    * relaxation candidates. Parallel edges collapse to their min weight
    * at staging. Unreached nodes are absent (no ∞ sentinel rows). */
  def shortestPaths(edgesIn: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, sources: Seq[Long], rounds: Int,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"rounds $rounds out of range")
    require(sources.nonEmpty, "shortestPaths needs at least one source")
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val edges = staging.stage(edgesIn
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("w") >= 0 && col("src").isNotNull && col("dst").isNotNull)
      .groupBy("src", "dst").agg(min("w").as("w"))
      .repartition(col("src")).sortWithinPartitions("src"), "sssp-edges")
    var dist = staging.stage(
      sources.distinct.toDF("node").withColumn("dist", lit(0L)), "sssp-d0")
    for (r <- 1 to rounds) {
      val relaxed = edges
        .join(dist.select(col("node").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = staging.stage(
        dist.unionByName(relaxed).groupBy("node").agg(min("dist").as("dist")),
        s"sssp-d$r")
    }
    dist
  }

  /** Strongly connected components of a DIRECTED graph by iterated
    * forward–backward partitioning with the min-id pivot (Fleischer,
    * Hendrickson & Pınar 2000) — the classic distributed SCC scheme:
    * per round, every surviving block picks its smallest node as pivot,
    * computes the block-restricted forward and backward reachability of
    * the pivot (two frontier BFS loops over the block-filtered edge
    * list), and splits into pivot-SCC (reached both ways — DONE, labeled
    * with the pivot), forward-only, backward-only, and unreached
    * sub-blocks. Every SCC is isolated after finitely many rounds; the
    * min-id pivot makes each round a pure function of the graph, so the
    * output is deterministic on any engine or layout.
    *
    * Scale shape: all three frames (edges, active blocks, reach sets)
    * stay distributed; each BFS step is one src-keyed equi-join +
    * anti-join (the [[bfsHops]] shape) over edges pre-filtered to
    * still-active blocks, so work SHRINKS as components settle. Rounds ×
    * depth are driver-side loop counters only — no data reaches the
    * driver beyond empty-frontier probes. `maxRounds`/`maxDepth` bound
    * the loops; BOTH budget exhaustions are audited, never silent:
    * blocks still active at `maxRounds`, and blocks whose forward or
    * backward BFS was genuinely depth-truncated — the final frontier
    * still had UNVISITED successors at `maxDepth`, checked by one extra
    * expansion probe so a closure that completes exactly on the last
    * permitted depth stays exact (a truncated closure under-reaches, so
    * that block's settle/split is untrustworthy — the whole block is
    * pulled out instead) — are emitted with `converged = false` and
    * their block-min as a provisional label. */
  def stronglyConnectedComponents(edgesIn: DataFrame, srcCol: String,
      dstCol: String, maxRounds: Int = 10, maxDepth: Int = 30,
      staging: Staging = Staging.LocalCheckpoint,
      roundObserver: Int => Unit = _ => ()): DataFrame = {
    require(maxRounds >= 1 && maxDepth >= 1, "positive budgets required")
    // hash(src)-sorted layout: the per-round block-restriction join keys
    // on src first, so the full edge list never re-shuffles after this
    // (repartition BEFORE the dedup — the subset rule lets the (src, dst)
    // dedup agg run in place, one shuffle total)
    val edges = staging.stage(edgesIn
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst") &&
        col("src").isNotNull && col("dst").isNotNull)
      .repartition(col("src")).dropDuplicates("src", "dst")
      .sortWithinPartitions("src"), "scc-edges")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    var active = staging.stage(
      nodes.withColumn("block", lit(0L)), "scc-active-0")
    val spark = edgesIn.sparkSession
    var done: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType))))
    // blocks pulled out mid-run because a closure hit maxDepth — kept
    // with their block key and emitted converged = false at the end
    var unsettled: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("block",
          org.apache.spark.sql.types.LongType))))
    var round = 0
    while (round < maxRounds && !active.isEmpty) {
      round += 1
      roundObserver(round)
      // block-restricted edges: both endpoints still active, same block.
      // Staged TWICE — hash(src, block)-sorted for the forward closure
      // and hash(dst, block)-sorted for the backward one — so every BFS
      // depth's big edge side satisfies its frontier join's distribution
      // from the checkpointed layout (the [[pageRank]] discipline; depth
      // can reach maxDepth, so the per-depth saving compounds)
      val beF = staging.stage(edges
        .join(active.select(col("node").as("src"), col("block")), Seq("src"))
        .join(active.select(col("node").as("dst"),
          col("block").as("__db")), Seq("dst"))
        .filter(col("block") === col("__db"))
        .select("src", "dst", "block")
        .repartition(col("src"), col("block"))
        .sortWithinPartitions("src", "block"), s"scc-bef-$round")
      val beB = staging.stage(
        beF.repartition(col("dst"), col("block"))
          .sortWithinPartitions("dst", "block"), s"scc-beb-$round")
      val pivots = staging.stage(
        active.groupBy("block").agg(min("node").as("node")),
        s"scc-pivots-$round")
      // returns (closure, blocks whose BFS was DEPTH-TRUNCATED). A
      // truncated closure under-reaches, so classifications derived from
      // it for that block are unsafe. Truncation is decided by ONE extra
      // expansion probe of the final frontier, not by mere frontier
      // non-emptiness: a closure that completes exactly at maxDepth (the
      // last frontier has no unvisited successors) stays exact.
      def closure(reversed: Boolean): (DataFrame, DataFrame) = {
        val (f, t) = if (reversed) ("dst", "src") else ("src", "dst")
        val be = if (reversed) beB else beF
        // the frontier is RE-DERIVED from the staged visited set by depth
        // tag each iteration (the [[bfsHops]] discipline) — holding the
        // raw `next` plan instead chains an unstaged lineage that re-
        // evaluates the whole closure-so-far at every depth: O(depth²)
        // joins, invisible on shallow fixture graphs and found by the
        // [scale-graph] probe at depth ~20+ (r14). One job per depth.
        var visited = staging.stage(
          pivots.select("block", "node").withColumn("__d", lit(0)),
          s"scc-c$reversed-0-$round")
        var frontier = visited.select("node", "block")
        var depth = 0
        def expand(fr: DataFrame, vis: DataFrame): DataFrame = be
          .join(fr.select(col("node").as(f), col("block")), Seq(f, "block"))
          .select(col(t).as("node"), col("block")).distinct()
          .join(vis, Seq("node", "block"), "left_anti")
        while (depth < maxDepth && !frontier.isEmpty) {
          depth += 1
          val next = expand(frontier, visited).withColumn("__d", lit(depth))
          visited = staging.stage(visited.unionByName(next),
            s"scc-c$reversed-$depth-$round")
          frontier = visited.filter(col("__d") === depth).select("node", "block")
        }
        val truncated =
          if (frontier.isEmpty) frontier.select("block").distinct()
          else staging.stage(expand(frontier, visited).select("block").distinct(),
            s"scc-trunc$reversed-$round")
        (visited.drop("__d"), truncated)
      }
      val (fwd, fTrunc) = closure(reversed = false)
      val (bwd, bTrunc) = closure(reversed = true)
      val tainted = staging.stage(fTrunc.unionByName(bTrunc).distinct(),
        s"scc-tainted-$round")
      val cls = active
        .join(fwd.withColumn("__f", lit(1)), Seq("node", "block"), "left")
        .join(bwd.withColumn("__b", lit(1)), Seq("node", "block"), "left")
        .join(tainted.withColumn("__trunc", lit(1)), Seq("block"), "left")
      // depth-truncated blocks: the pivot's SCC may extend past the
      // truncated reach, so neither the "settled" set nor the sub-block
      // split is trustworthy — pull the WHOLE block out as unsettled
      // (emitted converged = false below), never a silent wrong label
      unsettled = staging.stage(unsettled.unionByName(
        cls.filter(col("__trunc").isNotNull).select("node", "block")),
        s"scc-unsettled-$round")
      val clean = cls.filter(col("__trunc").isNull)
      val settled = clean.filter(col("__f").isNotNull && col("__b").isNotNull)
        .join(pivots.select(col("block"), col("node").as("comp")), Seq("block"))
        .select("node", "comp")
      done = staging.stage(done.unionByName(settled), s"scc-done-$round")
      // survivors re-block on (old block, side) and re-key by block min
      val rest = clean.filter(col("__f").isNull || col("__b").isNull)
        .select(col("node"), col("block"),
          coalesce(col("__f"), lit(0)).as("__f"),
          coalesce(col("__b"), lit(0)).as("__b"))
      active = staging.stage(rest
        .withColumn("__nb", min("node").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("block", "__f", "__b")))
        .select(col("node"), col("__nb").as("block")), s"scc-active-$round")
    }
    val converged = done.withColumn("converged", lit(true))
    // budget-unsettled = blocks still active at maxRounds PLUS blocks
    // whose closure hit maxDepth; both carry provisional block-min labels
    val leftover = active.unionByName(unsettled)
      .withColumn("comp", min("node").over(
        org.apache.spark.sql.expressions.Window.partitionBy("block")))
      .select(col("node"), col("comp")).withColumn("converged", lit(false))
    converged.unionByName(leftover)
  }

  /** EXACT modularity decomposition of a community partition over an
    * unweighted undirected graph (Newman & Girvan 2004): per community c,
    * the internal edge count L_c, total degree D_c, and the integer
    * numerator q_num = 4m·L_c − D_c², so that Q = Σ_c q_num / (4m²).
    * Everything emitted is exact BIGINT — no floats anywhere, so any
    * engine agrees row-for-row and the caller picks its own precision
    * for the final division (the one IEEE op in the whole computation).
    * The standard companion to [[labelPropagation]] / [[louvainStep]]:
    * "did the sweep actually improve the partition" is a q_num sum
    * comparison, not a float tolerance check.
    *
    * Shape: degree agg, two label joins on the canonical edge list (one
    * per endpoint) filtered to intra-community edges, label-keyed count
    * aggs, and the scalar m broadcast via a single-row crossJoin. Each
    * join is node-keyed equi — at 100 TB the labels frame is the small
    * side and broadcasts when it fits. The canonicalized edge list feeds
    * THREE subtrees (m, degrees, the intra-edge join), so it is staged —
    * the input scan and the canonicalize-distinct exchange run once, not
    * per consumer. */
  def modularity(edgesIn: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String = "node",
      labelCol: String = "label",
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    val e = staging.stage(canonicalEdges(edgesIn, srcCol, dstCol),
      "modularity-edges")
    val lab = labels.select(col(nodeCol).cast("long").as("__n"),
      col(labelCol).cast("long").as("__l"))
    // one-row-per-node labels vs the edge frame: broadcast the label side
    // whenever it fits the session's broadcast threshold, leaving the edge
    // side entirely unshuffled (x202 before-plan without it: Exchange+Sort
    // of the edge side on (label, b)). Past the threshold the joins fall
    // back to shuffles — the correct plan for two big sides. Labels from
    // a staged frame ([[labelPropagation]]) carry their exact size.
    val mRow = e.agg(count(lit(1)).as("__m"))
    val deg = degrees(e)
    val dc = deg.join(Staging.broadcastIfSmall(lab), deg("v") === lab("__n"))
      .groupBy(col("__l").as("label"))
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_tot"))
    val lin = e
      .join(Staging.broadcastIfSmall(lab.select(col("__n").as("a"), col("__l").as("__la"))), "a")
      .join(Staging.broadcastIfSmall(lab.select(col("__n").as("b"), col("__l").as("__lb"))), "b")
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(count(lit(1)).as("l_in"))
    dc.join(lin, Seq("label"), "left")
      .withColumn("l_in", coalesce(col("l_in"), lit(0L)))
      .crossJoin(broadcast(mRow))
      .select(col("label"), col("n_nodes"), col("d_tot"), col("l_in"),
        (lit(4L) * col("__m") * col("l_in") - col("d_tot") * col("d_tot"))
          .as("q_num"))
  }

  /** One SYNCHRONOUS Louvain move sweep (Blondel et al. 2008, phase-1
    * step) from singleton communities over a weighted undirected graph:
    * every node simultaneously evaluates joining each neighbor's
    * (singleton) community and takes the best strictly-positive
    * modularity gain, ties broken by the smallest neighbor id; nodes with
    * no positive gain stay put. Classic Louvain sweeps nodes SEQUENTIALLY
    * in arbitrary order — irreproducible across layouts; the synchronous
    * sweep is a pure function of the input graph, so any engine replays
    * it bit-for-bit (same determinism contract as [[labelPropagation]]).
    *
    * Exactness: from singletons, ΔQ(i→{j}) = w_ij/m − k_i·k_j/(2m²)
    * with k = weighted degree and m = total edge weight. Scaling by the
    * positive constant 2m² preserves both sign and order, so the sweep
    * compares gain_num = 2m·w_ij − k_i·k_j in exact BIGINT — a borderline
    * move cannot flip between engines (the [[degreeAssortativity]] /
    * abTest cross-multiplication discipline).
    *
    * Shape: the symmetrized edge list and the degree frame are staged
    * (each feeds 2–3 subtrees — the input scan runs once, not per
    * consumer); then one degree agg exchange, edge⋈degree joins on each
    * endpoint, the scalar 2m as a broadcast single-row crossJoin, and
    * the per-node argmax as ONE struct-max hash agg (LPA's trick —
    * max over (gain, −neighbor) needs no window sort). Per-node state is
    * one struct; nothing quadratic, nothing on the driver. */
  def louvainStep(edgesIn: DataFrame, srcCol: String, dstCol: String,
      weightCol: String,
      staging: Staging = Staging.LocalCheckpoint): DataFrame = {
    val e = edgesIn
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
    // sym feeds THREE subtrees (degrees, 2m, the scored sweep) and deg
    // two — staged so the input scan + symmetrize run exactly once
    val sym = staging.stage(
      e.unionAll(e.select(col("b").as("a"), col("a").as("b"), col("w"))),
      "louvain-sym")
    val deg = staging.stage(
      sym.groupBy(col("a").as("v")).agg(sum("w").as("k")), "louvain-deg")
    val twoM = sym.agg(sum("w").as("__2m")) // Σ over both orientations = 2m
    val scored = sym
      .join(deg.select(col("v").as("a"), col("k").as("__ka")), "a")
      .join(deg.select(col("v").as("b"), col("k").as("__kb")), "b")
      .crossJoin(broadcast(twoM))
      .withColumn("__gain", col("__2m") * col("w") - col("__ka") * col("__kb"))
    val best = scored.filter(col("__gain") > 0)
      .groupBy(col("a").as("node"))
      .agg(max(struct(col("__gain").as("g"), (-col("b")).as("nb"))).as("m"))
      .select(col("node"), (-col("m.nb")).as("joins"), col("m.g").as("gain_num"))
    deg.select(col("v").as("node"), col("k"))
      .join(best, Seq("node"), "left")
      .select(col("node"), col("k"),
        coalesce(col("joins"), col("node")).as("joins"),
        coalesce(col("gain_num"), lit(0L)).as("gain_num"))
  }
}
