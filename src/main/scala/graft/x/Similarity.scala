package graft.x

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions._

/** Similarity search over embedding columns (SURVEY.md §2.9 X3) —
  * brute-force exact top-k as the correctness baseline, LSH-bucketed
  * approximate search as the 100 TB scale path, and embedding-cosine
  * near-duplicate detection for dedup pipelines.
  *
  * Scale design: queries are a SMALL set (broadcast side); the corpus is
  * the large side and is never self-joined without bucketing. Exact top-k
  * is broadcast-join + per-query window top-k (TakeOrdered semantics, no
  * global sort). The LSH variant buckets both sides by random-hyperplane
  * signature so each corpus row is compared only against queries landing
  * in its bucket; recall is tunable via `planes` or, at fixed bucket
  * granularity, via multi-probe (1-bit-flip neighbor buckets).
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector.
    * `queries(qIdCol, vecCol)` is broadcast; corpus scans once. Norms are
    * computed once per row on each side BEFORE pairing, so each of the
    * n_corpus × n_query candidates evaluates one dot product, not three. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, vecCol: String, k: Int
  ): DataFrame =
    rankTopK(cosineScored(corpus, queries, idCol, qIdCol, vecCol), idCol, qIdCol, k)

  /** Hard-negative mining for retrieval training: per query, the top-k
    * most similar corpus items that are NOT known positives — the
    * standard dense-retriever training step (a model learns little from
    * random negatives; it learns from near-misses). `positives` is the
    * labeled (query, item) relevance set; it is anti-joined BEFORE the
    * ranking window, so positives never consume candidate slots — the
    * result is top-k of the non-positive corpus, not top-k with holes.
    *
    * Shape at 100 TB: identical to [[bruteForceTopK]] (queries broadcast,
    * one codegen'd dot product per (query, item), per-query
    * WindowGroupLimit — no global sort); the positives set is label data
    * (tiny by nature) and joins map-side. For a corpus too large to
    * brute-force, mine within probed IVF cells instead — the composition
    * [[ivfPqTopKFromLayout]] + this anti-join shape carries over. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, positives: DataFrame,
      idCol: String, qIdCol: String, vecCol: String, k: Int): DataFrame =
    rankTopK(
      cosineScored(corpus, queries, idCol, qIdCol, vecCol)
        .join(positives.select(col(qIdCol), col(idCol)), Seq(qIdCol, idCol), "left_anti"),
      idCol, qIdCol, k)

  private def cosineScored(corpus: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(qIdCol), col(vecCol).as("__qv"))
      .withColumn("__qn", l2Norm(col("__qv")))
    corpus
      .withColumn("__cn", l2Norm(col(vecCol)))
      .join(broadcast(q), col(idCol) =!= col(qIdCol)) // exclude self-match
      .withColumn("cosine",
        when(col("__cn") * col("__qn") === 0.0, lit(null).cast("double"))
          .otherwise(dotProduct(col(vecCol), col("__qv")) / (col("__cn") * col("__qn"))))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (Achlioptas'
    * database-friendly projection: entries in {−1, +1} preserve pairwise
    * distances in expectation exactly like Gaussian projections, at one
    * multiply per term). Drawn from `java.util.Random(seed)` — the JDK
    * spec FIXES that generator's algorithm, so every JVM, every executor,
    * every retry, and the oracle-SQL generator (which inlines the matrix
    * as ±1 literals) derive the identical matrix from one seed; the plan
    * ships dim×outDim constants, no RNG state ever crosses the wire. */
  def jlSigns(dim: Int, outDim: Int, seed: Long = 42L): Array[Array[Double]] = {
    require(dim >= 1 && outDim >= 1, s"bad JL shape $dim -> $outDim")
    val rnd = new java.util.Random(seed)
    Array.fill(outDim, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Project a `dim`-sized vector onto `signs.length` JL components:
    * out_j = Σ_i vec_i · signs_ji, summed in fixed left-to-right order so
    * the fold replays bit-exactly (the [[graft.functions.DotProductFloat]]
    * association contract). Because `signs` is a compile-time constant
    * matrix, the whole projection unrolls into codegen'd scalar
    * arithmetic — no lambda interpretation, no per-row hash evaluation.
    *
    * Why at 100 TB: a 64-dim float corpus shrinks 4× at outDim = 16 —
    * projected vectors are the cheap FIRST pass (shortlist by projected
    * cosine, re-rank survivors with full vectors), the same
    * coarse-then-exact shape as [[ivfPqTopKFromLayout]]'s ADC. JL's
    * guarantee is distance preservation within ε with high probability,
    * independent of the source dimension. */
  def jlProject(vec: Column, signs: Array[Array[Double]]): Column = {
    val dim = signs(0).length
    array(signs.map { row =>
      (1 to dim).map(i => element_at(vec, i).cast("double") * lit(row(i - 1)))
        .reduce(_ + _)
    }.toIndexedSeq: _*)
  }

  /** [[jlProject]] as a two-select frame transform: each output component
    * is its own named column in the first select (its own codegen unit),
    * and a second stacked select assembles the array. Numerically
    * identical to `jlProject(...)` in one expression — the only
    * difference is generated-code shape: one array() of outDim 64-term
    * sums is a single dim×outDim-term expression tree whose first-run
    * Janino compile dominates the job at small scale (and bloats every
    * executor's code cache at large scale); per-component columns keep
    * each generated method at `dim` terms. */
  def jlProjectCols(df: DataFrame, vecCol: String,
      signs: Array[Array[Double]], outCol: String): DataFrame = {
    val dim = signs(0).length
    val keep = df.columns.filterNot(_ == vecCol).map(col).toIndexedSeq
    val comps = signs.zipWithIndex.map { case (row, j) =>
      (1 to dim).map(i => element_at(col(vecCol), i).cast("double") * lit(row(i - 1)))
        .reduce(_ + _).as(s"__jl$j")
    }.toIndexedSeq
    df.select(keep ++ comps: _*)
      .select(keep :+ array(signs.indices.map(j => col(s"__jl$j")): _*)
        .as(outCol): _*)
  }

  /** Symmetric int8 quantization of a float vector: codes_i =
    * round(v_i / max|v| · 127), rounded as `floor(x + 0.5)` — one
    * deterministic IEEE expression with no banker's-rounding ambiguity,
    * so any engine replays the codes bit-for-bit. A zero/null vector
    * quantizes to all-zero codes (no 0/0). The per-vector scale is
    * implicit (max|v|/127) and CANCELS in cosine, so ranking needs only
    * the codes.
    *
    * Why at 100 TB: int8 codes are 4× smaller than float32 — the corpus
    * half of a retrieval index drops from 256 B to 64 B/vector at
    * dim 64 — and the quantized cosine is INTEGER arithmetic: the dot
    * and squared norms are exact BIGINT sums (order-independent, no
    * float-reduction nondeterminism), with one double division at the
    * finish. The standard serving trick (FAISS SQ8) expressed as pure
    * Catalyst HOFs. */
  def int8Codes(vec: Column): Column = {
    val maxabs = array_max(transform(vec, v => abs(v.cast("double"))))
    when(maxabs.isNull || maxabs === 0.0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec,
        v => floor(v.cast("double") / maxabs * 127.0 + lit(0.5)).cast("int")))
  }

  /** Exact top-k by quantized cosine over [[int8Codes]] columns: the
    * same broadcast + WindowGroupLimit shape as [[bruteForceTopK]], with
    * the float dot replaced by exact integer sums. */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, codesCol: String, k: Int): DataFrame = {
    // norms and the per-pair dot are the codegen'd fused integer loops
    // (DotProductInt) — exact long sums, bit-identical to the HOF forms,
    // no intermediate array in the n_corpus × n_queries hot loop
    def sq(c: Column): Column = graft.functions.DotProductInt.dot(c, c)
    val q = queries.select(col(qIdCol), col(codesCol).as("__qc"))
      .withColumn("__qn2", sq(col("__qc")))
    val scored = corpus
      .withColumn("__cn2", sq(col(codesCol)))
      .join(broadcast(q), col(idCol) =!= col(qIdCol))
      .withColumn("cosine", {
        val dot = graft.functions.DotProductInt.dot(col(codesCol), col("__qc"))
        when(col("__cn2") * col("__qn2") === 0L, lit(null).cast("double"))
          .otherwise(dot.cast("double") /
            (sqrt(col("__cn2").cast("double")) * sqrt(col("__qn2").cast("double"))))
      })
    rankTopK(scored, idCol, qIdCol, k)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher): merge per-query
    * ranked lists from heterogeneous retrievers — canonically BM25
    * ([[graft.x.TextAnalysis.bm25TopK]]) and dense cosine
    * ([[bruteForceTopK]] / [[ivfPqTopKFromLayout]]) — by summing
    * `1/(kRrf + rank)` per list, treating absence as zero. RRF needs no
    * score calibration between systems (it consumes only RANKS), which
    * is exactly why it's the default hybrid-search combiner; kRrf = 60
    * is the paper's constant.
    *
    * Determinism: each contribution is one correctly-rounded IEEE
    * division and contributions sum in the fixed `rankings` order, so an
    * oracle replaying the same expressions matches bit-for-bit; final
    * ties (same fused score) break on ascending id.
    *
    * Shape at 100 TB: the inputs are already top-k lists — |queries|·k
    * rows each, tiny regardless of corpus size — so the fusion is a
    * (q, id)-keyed join of driver-small frames; ALL the heavy lifting
    * stays inside the upstream retrievers where it's already bounded. */
  /** Retrieval-quality evaluator: per-query recall@k of an approximate
    * retriever's top-k list against the exact one — the number every ANN
    * config decision (nprobe, JL dim, int8 vs float, LSH planes) should
    * be read from, produced by the library itself so the measurement
    * composes with any retriever pair here ([[int8TopK]] vs
    * [[bruteForceTopK]], [[ivfTopKFromLayout]] vs exact, …).
    *
    * Contract: both inputs carry `(qIdCol, idCol, rank)` as produced by
    * the shared [[rankTopK]]; rows with rank > k are ignored so callers
    * can pass deeper lists. recall = |approx ∩ exact| / |exact| per query
    * (exact lists shorter than k — tiny corpora — divide by their true
    * size, not k). Scale shape: both sides are top-k lists (|Q|·k rows);
    * the intersection and counts are joins on frames that small — the
    * corpus is never touched.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, qIdCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k > 0, s"recallAtK needs k > 0, got $k")
    val a = approx.filter(col("rank") <= k).select(col(qIdCol), col(idCol))
    val e = exact.filter(col("rank") <= k).select(col(qIdCol), col(idCol))
    val hits = a.join(e, Seq(qIdCol, idCol))
      .groupBy(col(qIdCol)).agg(count(lit(1)).as("__hit"))
    e.groupBy(col(qIdCol)).agg(count(lit(1)).as("__ex"))
      .join(hits, Seq(qIdCol), "left")
      .select(col(qIdCol),
        coalesce(col("__hit"), lit(0L)).cast("long").as("n_hit"),
        col("__ex").cast("long").as("n_exact"),
        (coalesce(col("__hit"), lit(0L)).cast("double") /
          col("__ex").cast("double")).as("recall"))
  }

  /** Exact BIGINT squared L2 between two [[int8Codes]] vectors —
    * the codegen'd fused loop ([[graft.functions.SqDistInt]]; bit-identical
    * to the zip_with/aggregate HOF form it replaced, without the
    * per-pair intermediate array the HOF materializes). */
  private def int8SqDist(a: Column, b: Column): Column =
    graft.functions.SqDistInt.dist(a, b)

  /** One distributed Lloyd refresh of an int8 coarse quantizer: assign
    * every corpus vector to its nearest centroid (exact BIGINT L2, ties
    * to the lowest centroid id), then move each centroid to its cell's
    * per-dimension grid-quantized mean — round-half-up on the int grid,
    * `⌊(2s+n)/(2n)⌋` per lane, exact in double at int8 magnitudes (the
    * x211 recipe, so any engine replays the refresh bit-for-bit). Cells
    * that captured no vectors keep their previous centroid.
    *
    * This is the "what would a re-quantization give me TODAY" half of
    * [[ivfRecallDrift]]: a live IVF store keeps its build-time geometry
    * across appends (moving centroids means rebuilding the layout), and
    * this step computes the refreshed geometry without touching the
    * store. Fully distributed, unlike [[kmeansLloyd]]'s driver-looped
    * iterations: one broadcast of the k-row centroid frame, one argmin
    * agg, one (cell × dim) mean agg — at 100 TB only k·dim rows ever
    * aggregate past the corpus scan. The output frame is multiply
    * consumed by any probe that follows — stage it. */
  def int8LloydUpdate(corpus: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, codesCol: String): DataFrame = {
    val c = centroids.select(col(centroidIdCol).cast("long").as("__cid"),
      col(codesCol).as("__cc"))
    // argmin as ONE struct-min hash agg (no window sort): lexicographic
    // min over (dist, cid) = smallest distance, ties to the lowest cell
    val assigned = corpus.crossJoin(broadcast(c))
      .withColumn("__d", int8SqDist(col(codesCol), col("__cc")))
      .groupBy(col(idCol), col(codesCol))
      .agg(min(struct(col("__d").as("d"), col("__cid").as("cid"))).as("__m"))
      .select(col("__m.cid").as("__cell"), col(codesCol))
    val moved = assigned
      .select(col("__cell"), posexplode(col(codesCol)).as(Seq("__i", "__v")))
      .groupBy("__cell", "__i")
      .agg(sum(col("__v").cast("long")).as("__s"), count(lit(1)).as("__n"))
      .withColumn("__q", floor((lit(2.0) * col("__s") + col("__n")) /
        (lit(2.0) * col("__n"))).cast("int"))
      .groupBy(col("__cell"))
      .agg(sort_array(collect_list(struct(col("__i"), col("__q")))).as("__a"))
      .select(col("__cell"),
        transform(col("__a"), e => e.getField("__q")).as("__nc"))
    c.join(moved, c("__cid") === moved("__cell"), "left")
      .select(col("__cid").as(centroidIdCol),
        coalesce(col("__nc"), col("__cc")).as(codesCol))
  }

  /** IVF top-k entirely in [[int8Codes]] space: corpus vectors live in
    * their single nearest-centroid cell (exact BIGINT L2 argmin, ties to
    * the lowest cell id), each query probes its `nprobe` nearest cells,
    * and ranking inside the probed cells is the exact-integer cosine of
    * [[int8TopK]]. The integer geometry makes cell assignment and probe
    * selection bit-deterministic across engines — the property
    * [[ivfRecallDrift]] needs to compare two quantizers honestly.
    *
    * Scale shape: same as [[ivfTopK]] — centroids and queries broadcast,
    * the corpus scans once, per-query ranking is a WindowGroupLimit
    * top-k. `centroids` is consumed by BOTH the corpus assignment and the
    * query probe — pass a staged frame when it was computed by a shuffle
    * pipeline (e.g. [[int8LloydUpdate]] output). */
  def int8IvfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, qIdCol: String, centroidIdCol: String, codesCol: String,
      k: Int, nprobe: Int = 3): DataFrame = {
    def sq(c: Column): Column = graft.functions.DotProductInt.dot(c, c)
    val c = centroids.select(col(centroidIdCol).cast("long").as("__cid"),
      col(codesCol).as("__cc"))
    val assigned = corpus.crossJoin(broadcast(c))
      .withColumn("__d", int8SqDist(col(codesCol), col("__cc")))
      .groupBy(col(idCol), col(codesCol))
      .agg(min(struct(col("__d").as("d"), col("__cid").as("cid"))).as("__m"))
      .select(col(idCol), col(codesCol), col("__m.cid").as("__cell"))
    // the query side is tiny (small-query contract) — a window over the
    // broadcast-scale frame picks the nprobe nearest cells per query
    val qw = Window.partitionBy(col(qIdCol))
      .orderBy(col("__d").asc, col("__cid").asc)
    val qcells = queries.crossJoin(broadcast(c))
      .withColumn("__d", int8SqDist(col(codesCol), col("__cc")))
      .withColumn("__rn", row_number().over(qw))
      .filter(col("__rn") <= nprobe)
      .select(col(qIdCol), col(codesCol).as("__qc"), col("__cid").as("__cell"))
      .withColumn("__qn2", sq(col("__qc")))
    val scored = assigned
      .withColumn("__cn2", sq(col(codesCol)))
      .join(broadcast(qcells), Seq("__cell"))
      .filter(col(idCol) =!= col(qIdCol))
      .withColumn("cosine", {
        val dot = graft.functions.DotProductInt.dot(col(codesCol), col("__qc"))
        when(col("__cn2") * col("__qn2") === 0L, lit(null).cast("double"))
          .otherwise(dot.cast("double") /
            (sqrt(col("__cn2").cast("double")) * sqrt(col("__qn2").cast("double"))))
      })
    rankTopK(scored, idCol, qIdCol, k)
  }

  /** ANN-recall drift monitor: the ops question a live vector store asks
    * after N appends — "my IVF layout still uses its build-time coarse
    * quantizer; how much recall@k is that stale geometry costing vs a
    * re-quantized rebuild?" Computes, per query, recall@k against exact
    * brute force ([[int8TopK]]) for BOTH quantizers — `staleCentroids`
    * (the store's build-time geometry) and `freshCentroids` (typically
    * [[int8LloydUpdate]] over today's corpus) — and their difference:
    * `drift > 0` means a rebuild would recover that much recall, so the
    * monitor's output is directly the rebuild-scheduling signal.
    *
    * The probe geometry is evaluated WITHOUT touching the store: cell
    * assignment is a pure function of (vector, centroids)
    * ([[appendToIvfLayout]]'s invariant — base-then-append probes
    * byte-identically to a full rebuild on the same centroids, proven by
    * x143's shared oracle), so ranking the corpus frame against each
    * centroid set reproduces exactly what a layout probe would return.
    * Scale shape: two [[int8IvfTopK]] probes + one exact pass, all
    * broadcast-join + WindowGroupLimit — the corpus scans three times and
    * shuffles never; the staged exact top-k (|Q|·k rows) feeds both
    * recall joins. */
  def ivfRecallDrift(corpus: DataFrame, queries: DataFrame,
      staleCentroids: DataFrame, freshCentroids: DataFrame,
      idCol: String, qIdCol: String, centroidIdCol: String, codesCol: String,
      k: Int, nprobe: Int = 3,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint
  ): DataFrame = {
    val exact = staging.stage(
      int8TopK(corpus, queries, idCol, qIdCol, codesCol, k), "drift-exact")
    val live = int8IvfTopK(corpus, queries, staleCentroids,
      idCol, qIdCol, centroidIdCol, codesCol, k, nprobe)
    val fresh = int8IvfTopK(corpus, queries, freshCentroids,
      idCol, qIdCol, centroidIdCol, codesCol, k, nprobe)
    val rLive = recallAtK(live, exact, qIdCol, idCol, k)
      .select(col(qIdCol), col("n_exact"),
        col("n_hit").as("n_hit_live"), col("recall").as("recall_live"))
    val rFresh = recallAtK(fresh, exact, qIdCol, idCol, k)
      .select(col(qIdCol), col("n_hit").as("n_hit_fresh"),
        col("recall").as("recall_fresh"))
    rLive.join(rFresh, Seq(qIdCol))
      .select(col(qIdCol), col("n_exact"), col("n_hit_live"),
        col("n_hit_fresh"), col("recall_live"), col("recall_fresh"),
        (col("recall_fresh") - col("recall_live")).as("drift"))
  }

  def rrfFuse(rankings: Seq[DataFrame], qCol: String, idCol: String,
      rankCol: String, k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val contribs = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(qCol), col(idCol),
        (lit(1.0) / (lit(kRrf.toDouble) + col(rankCol).cast("double")))
          .as(s"__c$i"))
    }
    val joined = contribs.reduce((a, b) => a.join(b, Seq(qCol, idCol), "full_outer"))
    val fused = contribs.indices
      .map(i => coalesce(col(s"__c$i"), lit(0.0))).reduce(_ + _)
    val w = Window.partitionBy(col(qCol)).orderBy(col("__rrf").desc, col(idCol).asc)
    joined.withColumn("__rrf", fused)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qCol), col(idCol), col("__rrf").as("rrf_score"), col("rank"))
  }

  /** Two-stage coarse-to-fine retrieval: shortlist by cosine in the JL
    * projected space ([[jlProject]] — 4× smaller vectors), then re-rank
    * ONLY the shortlist with exact full-vector cosine. This is the
    * standard serving composition (compressed first pass bounds the
    * expensive pass); with `shortlist` ≫ k the exact top-k is recovered
    * with high probability at a fraction of the full-vector work — and
    * the full float corpus is only ever touched for |queries|·shortlist
    * rows, not |corpus| rows.
    *
    * Shape at 100 TB: stage 1 is [[bruteForceTopK]] over projected
    * vectors (broadcast queries + WindowGroupLimit); stage 2 joins the
    * shortlist BACK to the corpus on id — a semi-join-sized probe of the
    * full-vector store, which is the entire point: the wide column is
    * read for shortlist rows only (with the corpus laid out id-sorted,
    * that read also row-group-prunes). */
  def twoStageTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      qIdCol: String, vecCol: String, signs: Array[Array[Double]],
      shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val pc = corpus.select(col(idCol),
      jlProject(col(vecCol), signs).cast("array<float>").as("__pvec"))
    val pq = queries.select(col(qIdCol),
      jlProject(col(vecCol), signs).cast("array<float>").as("__pvec"))
    val coarse = bruteForceTopK(pc, pq, idCol, qIdCol, "__pvec", shortlist)
      .select(col(qIdCol), col(idCol))
    val full = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .withColumn("__cn", l2Norm(col("__cv")))
    val qfull = queries.select(col(qIdCol), col(vecCol).as("__qv"))
      .withColumn("__qn", l2Norm(col("__qv")))
    val rescored = coarse
      .join(full, idCol).join(broadcast(qfull), qIdCol)
      .withColumn("cosine",
        when(col("__cn") * col("__qn") === 0.0, lit(null).cast("double"))
          .otherwise(dotProduct(col("__cv"), col("__qv")) / (col("__cn") * col("__qn"))))
    rankTopK(rescored, idCol, qIdCol, k)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, the CCMatrix/LASER
    * miner): for each source vector, the best target match scored by
    *   margin(x, y) = cos(x, y) / (avgₖNN(x)/2 + avgₖNN(y)/2)
    * — absolute cosine misleads (hub vectors are "close" to everything);
    * dividing by both sides' mean k-NN similarity cancels hubness, which
    * is why production parallel-corpus mining ranks by margin, not
    * cosine. Emits one row per source with its best-margin target.
    *
    * Determinism: the k-NN mean folds in rank order (sorted struct fold,
    * same association trick as the funnel), each margin is one division
    * of replayable doubles, ties break on ascending target id.
    *
    * Shape: candidate generation is [[bruteForceTopK]] both directions —
    * exact at demo scale; at 100 TB swap the candidate stage for the IVF
    * layout probe ([[ivfPqTopKFromLayout]]) and keep the margin scoring
    * unchanged (it only consumes the two top-k lists, |src|·k and
    * |tgt|·k rows — tiny). The mean-normalizer aggregations group on the
    * same keys the top-k windows partition on, so they reuse the
    * existing exchanges. */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val fwd = bruteForceTopK(tgt,
        src.select(col(idCol).as("__sid"), col(vecCol)), idCol, "__sid", vecCol, k)
      .withColumnRenamed(idCol, "__tid")
    val bwd = bruteForceTopK(src,
        tgt.select(col(idCol).as("__tid2"), col(vecCol)), idCol, "__tid2", vecCol, k)
    def avgTopK(df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(
        (aggregate(
          transform(array_sort(collect_list(struct(col("rank"), col("cosine")))),
            s => s.getField("cosine")),
          lit(0.0), (a, v) => a + v) / lit(2.0 * k)).as("__avg"))
    val ax = avgTopK(fwd, "__sid").withColumnRenamed("__avg", "__ax")
    val ay = avgTopK(bwd, "__tid2").withColumnRenamed("__avg", "__ay")
      .withColumnRenamed("__tid2", "__tid")
    val w = Window.partitionBy(col("__sid"))
      .orderBy(col("margin").desc, col("__tid").asc)
    fwd.join(ax, "__sid").join(ay, "__tid")
      .withColumn("margin", col("cosine") / (col("__ax") + col("__ay")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__sid").as("src_id"), col("__tid").as("tgt_id"),
        col("cosine"), col("margin"))
  }

  private def rankTopK(scored: DataFrame, idCol: String, qIdCol: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(idCol).asc)
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(qIdCol), col(idCol), col("cosine"), col("__rk").as("rank"))
  }

  /** Approximate top-k: corpus and queries both signed with the same
    * deterministic hyperplane LSH; candidates are same-bucket pairs only.
    * Linear in corpus size; recall grows as `planes` shrinks — or, without
    * coarsening any bucket, via `multiProbe`: each query additionally
    * probes every 1-bit-flip neighbor of its signature
    * ([[graft.functions.VectorFunctions.hyperplaneProbes]]), recovering
    * neighbors that fell one hyperplane margin away. The probe fan-out
    * multiplies only the broadcast (query) side by planes+1; the corpus
    * still carries ONE signature per row and is never re-scanned. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, qIdCol: String, vecCol: String, k: Int,
      dim: Int = 64, planes: Int = 8, multiProbe: Boolean = false
  ): DataFrame = {
    val qBase = queries.select(col(qIdCol), col(vecCol).as("__qv"))
    val q = (if (multiProbe)
        qBase.withColumn("__sig", explode(hyperplaneProbes(col("__qv"), dim, planes)))
      else qBase.withColumn("__sig", hyperplaneSignature(col("__qv"), dim, planes)))
      .withColumn("__qn", l2Norm(col("__qv")))
    val scored = corpus
      .withColumn("__sig", hyperplaneSignature(col(vecCol), dim, planes))
      .withColumn("__cn", l2Norm(col(vecCol)))
      .join(broadcast(q), Seq("__sig"))
      .filter(col(idCol) =!= col(qIdCol))
      .withColumn("cosine",
        when(col("__cn") * col("__qn") === 0.0, lit(null).cast("double"))
          .otherwise(dotProduct(col(vecCol), col("__qv")) / (col("__cn") * col("__qn"))))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(idCol).asc)
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(qIdCol), col(idCol), col("cosine"), col("__rk").as("rank"))
  }

  /** Audit surface for [[cosineNearDupPairs]]' `maxBucket` skew guard: the
    * hyperplane-signature buckets whose occupancy exceeds the cap, with
    * their counts, hottest first — no silent cap, same contract as
    * [[graft.x.Dedup.oversizedLshBuckets]]. */
  def oversizedSignatureBuckets(
      corpus: DataFrame, vecCol: String,
      dim: Int = 64, planes: Int = 8, maxBucket: Int = 10000
  ): DataFrame =
    corpus.select(hyperplaneSignature(col(vecCol), dim, planes).as("__sig"))
      .groupBy(col("__sig")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .orderBy(col("n").desc)

  /** Embedding-cosine near-duplicate pairs (cosine ≥ threshold), LSH-
    * bucketed so no full self-cross-join forms. Exact within buckets.
    *
    * `multiProbe` extends candidate generation to signature pairs ONE
    * hyperplane apart: side A explodes each vector's 1-bit-flip probe set
    * ([[graft.functions.VectorFunctions.hyperplaneProbes]]) while side B
    * keeps its exact signature — every hamming-≤1 pair meets in some
    * bucket through exactly one ordering, so no dedup pass is needed and
    * the fan-out multiplies ONE side by planes+1, not the join output.
    * The cosine verify stays exact either way; multi-probe only widens
    * which candidates get verified (recall, not precision).
    *
    * `maxBucket` (skew guard): a bucket holding n vectors contributes
    * n²/2 candidate rows to the self-join, and the mass-duplicate corpus
    * segment — boilerplate pages, zero-vector embedding batches — is
    * EXACTLY what a near-dup operator meets in production, so one
    * degenerate signature would otherwise re-create the quadratic the
    * bucketing exists to avoid. Buckets whose EXACT-signature occupancy
    * exceeds the cap are excluded from both sides (under multi-probe,
    * probe rows landing in an excluded bucket are dropped with it); the
    * survivors bound the join at maxBucket²/2 per bucket. Legitimate
    * occupancy is ~n/2^planes for near-uniform corpora — size the cap
    * ≥ c·n/2^planes (or raise `planes` with the corpus) and audit what
    * was dropped via [[oversizedSignatureBuckets]] — no silent cap. */
  def cosineNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int = 64, planes: Int = 8,
      multiProbe: Boolean = false, maxBucket: Int = 10000,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint
  ): DataFrame = {
    // staged: the signature+norm frame feeds the hot-bucket aggregate and
    // BOTH join sides — three evaluations of the dim×planes signature per
    // vector without truncation (the per-consumer recompute class)
    val signed = staging.stage(corpus
      .withColumn("__sig", hyperplaneSignature(col(vecCol), dim, planes))
      .withColumn("__n", l2Norm(col(vecCol))) // norm once per vector, not per pair
      .select(col("__sig"), col(idCol), col(vecCol), col("__n")),
      "neardup-signed")
    // the hot set is tiny by construction (buckets over the cap), so the
    // exclusion is a broadcast anti-join on both sides — no shuffle or
    // count-window sort of the corpus-sized frame just to tag hot buckets
    val hot = signed.groupBy(col("__sig")).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket).select("__sig")
    val a =
      (if (multiProbe) corpus
        .withColumn("__sig", explode(hyperplaneProbes(col(vecCol), dim, planes)))
        .withColumn("__n", l2Norm(col(vecCol)))
        .select(col("__sig"), col(idCol).as("id_a"), col(vecCol).as("__va"), col("__n").as("__na"))
      else signed.select(col("__sig"), col(idCol).as("id_a"), col(vecCol).as("__va"), col("__n").as("__na")))
        .join(broadcast(hot), Seq("__sig"), "left_anti")
    val b = signed.select(col("__sig"), col(idCol).as("id_b"), col(vecCol).as("__vb"), col("__n").as("__nb"))
      .join(broadcast(hot), Seq("__sig"), "left_anti")
    a.join(b, Seq("__sig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        when(col("__na") * col("__nb") === 0.0, lit(null).cast("double"))
          .otherwise(dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb"))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Audit surface for [[semanticNearDupPairs]]' `maxCell` guard: the
    * coarse cells whose occupancy exceeds the cap, hottest first — the
    * degenerate-centroid / mass-duplicate case, same no-silent-cap
    * contract as [[oversizedSignatureBuckets]]. */
  def oversizedCells(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String, maxCell: Int
  ): DataFrame =
    assignToCentroids(corpus, centroids, idCol, centroidIdCol, vecCol)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCell)
      .orderBy(col("n").desc)

  /** SemDeDup-style semantic near-duplicate pairs: assign every vector to
    * its nearest coarse centroid ([[assignToCentroids]] — k-means cells,
    * refined via [[kmeansStep]]), then verify cosine ≥ `threshold` ONLY
    * within each cell. This is the embedding-dedup recipe for the
    * "same meaning, different words" class (translations, paraphrases,
    * templated rewrites) that text shingles miss entirely.
    *
    * Versus [[cosineNearDupPairs]] (hyperplane LSH buckets): cells are
    * DETERMINISTIC — no seeded hashing — so the whole operator replays in
    * the SQL oracle, and cell geometry adapts to the corpus (centroids
    * live where the data is) where random hyperplanes don't. Cost is
    * Σ|cell|²/2 cosines — k tracks corpus size exactly as SemDeDup
    * prescribes (their 100k clusters at web scale).
    *
    * `nprobe` (boundary recall): at 1, a pair straddling a cell boundary
    * is missed — the classic coarse-quantizer trade. At n, the PROBE side
    * of the join additionally carries each vector's n nearest cells while
    * the home side stays rank-1 (the [[lshTopK]] multi-probe shape: the
    * fan-out multiplies one side by n, never the join output), so a
    * boundary pair is found whenever either member's probe set reaches
    * the other's home cell; matches through several shared cells
    * normalize and dedup. Verification stays exact either way — nprobe
    * widens which candidates get VERIFIED, not what passes.
    *
    * `maxCell` (skew guard): a degenerate centroid set or a
    * mass-duplicate class concentrates the corpus into ONE cell and
    * re-creates the quadratic; cells over the cap (HOME occupancy — the
    * physical-layout notion) drop from both join sides (bounding the
    * join at nprobe·maxCell²/2 per cell) and surface via
    * [[oversizedCells]] — no silent cap. */
  def semanticNearDupPairs(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String,
      threshold: Double, maxCell: Int = 10000, nprobe: Int = 1,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint
  ): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val c = centroids.select(col(centroidIdCol), col(vecCol).as("__cv"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__d").asc, col(centroidIdCol).asc)
    // staged: the assignment feeds the occupancy count AND both join sides
    // — without truncation each consumer re-runs the broadcast-assign pass
    val assigned = staging.stage(
      corpus.select(col(idCol), col(vecCol))
        .crossJoin(broadcast(c))
        .withColumn("__d", euclideanDistance(col(vecCol), col("__cv")))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= nprobe)
        .withColumn("__n", l2Norm(col(vecCol))) // norm once per vector
        .select(col(centroidIdCol).as("cell"), col(idCol), col(vecCol),
          col("__n"), col("__rk")),
      "semantic-cells")
    val home = assigned.filter(col("__rk") === 1)
    val hot = home.groupBy(col("cell")).agg(count(lit(1)).as("__cn"))
      .filter(col("__cn") > maxCell).select("cell")
    val a = assigned.join(broadcast(hot), Seq("cell"), "left_anti")
      .select(col("cell"), col(idCol).as("id_a"),
        col(vecCol).as("__va"), col("__n").as("__na"))
    val b = home.join(broadcast(hot), Seq("cell"), "left_anti")
      .select(col("cell"), col(idCol).as("id_b"),
        col(vecCol).as("__vb"), col("__n").as("__nb"))
    val joined = a.join(b, Seq("cell"))
    val scored =
      (if (nprobe == 1)
        // probe set == home cell: each unordered pair meets exactly once
        // under id_a < id_b — no normalization or dedup pass needed
        joined.filter(col("id_a") < col("id_b"))
      else
        // a pair can meet through either ordering and several shared
        // cells: normalize the orientation and dedup (cosine is computed
        // from the same two vectors every time — bit-identical, so
        // distinct collapses the copies exactly)
        joined.filter(col("id_a") =!= col("id_b")))
      .withColumn("cosine",
        when(col("__na") * col("__nb") === 0.0, lit(null).cast("double"))
          .otherwise(dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb"))))
      .filter(col("cosine") >= threshold)
    if (nprobe == 1) scored.select("id_a", "id_b", "cosine")
    else scored
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cosine"))
      .distinct()
  }

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `centroids` (small broadcast frame (centroidId, vecCol)); search then
    * probes only the closest cell(s). This is the classic inverted-file
    * ANN layout re-expressed as a partition key at 100 TB. */
  def assignToCentroids(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String
  ): DataFrame = {
    val c = centroids.select(col(centroidIdCol), col(vecCol).as("__cv"))
    val scored = corpus.crossJoin(broadcast(c))
      .withColumn("__d", euclideanDistance(col(vecCol), col("__cv")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__d").asc, col(centroidIdCol).asc)
    scored.withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .select(corpus.columns.map(col).toSeq :+ col(centroidIdCol).as("cell"): _*)
  }

  /** One Lloyd (k-means) refinement step for the IVF coarse quantizer:
    * assign every vector to its nearest centroid, then recompute each
    * cell's per-dimension mean. The mean is accumulated in MICRO-UNIT
    * integers (`round(x*1e6)` per element) so the result is exact,
    * commutative, and independent of partitioning / aggregation order —
    * the property that makes distributed k-means reproducible run-to-run
    * (naive double sums drift with partition count) and lets the SQL
    * oracle replay the step bit-for-bit. One broadcast (centroids), one
    * explode, one shuffle (cell × dim aggregation) per step.
    *
    * Returns (cell, dim, n, mean) — callers loop steps by collecting the
    * (tiny) centroid frame back and re-broadcasting, exactly how
    * distributed Lloyd iterations work at 100 TB: the corpus is scanned
    * once per step, only k×dim numbers move to the driver. */
  def kmeansStep(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String
  ): DataFrame = {
    val assigned = assignToCentroids(corpus, centroids, idCol, centroidIdCol, vecCol)
    assigned
      .select(col("cell"), posexplode(col(vecCol)))
      .select(col("cell"), col("pos").as("dim"),
        round(col("col").cast("double") * 1000000.0).cast("long").as("__q"))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"), sum("__q").as("__sq"))
      .withColumn("mean",
        col("__sq").cast("double") / col("n").cast("double") / 1000000.0)
      .select(col("cell"), col("dim").cast("long").as("dim"), col("n"), col("mean"))
  }

  /** IVF probe search: the corpus is first assigned to coarse cells
    * ([[assignToCentroids]]); each query then ranks ONLY the vectors in its
    * `nprobe` nearest cells. Fully deterministic (no seeded hashing), so
    * unlike hyperplane LSH this scale path is oracle-checkable end-to-end.
    *
    * At 100 TB: the assignment is a one-off write of the corpus
    * partitioned by `cell`; a probe query then partition-prunes down to
    * nprobe/nCells of the data, and the per-cell ranking is a broadcast
    * join + windowed top-k exactly like [[bruteForceTopK]] — no shuffle of
    * the corpus at query time. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, qIdCol: String, centroidIdCol: String, vecCol: String,
      k: Int, nprobe: Int = 3
  ): DataFrame = {
    val assigned = assignToCentroids(corpus, centroids, idCol, centroidIdCol, vecCol)
    val qc = queryCells(queries, centroids, qIdCol, centroidIdCol, vecCol, nprobe)
    probeScore(assigned, qc, idCol, qIdCol, vecCol, k)
  }

  /** Each query's `nprobe` nearest cells: (qIdCol, __qv, cell, __qn). */
  private def queryCells(
      queries: DataFrame, centroids: DataFrame,
      qIdCol: String, centroidIdCol: String, vecCol: String, nprobe: Int
  ): DataFrame = {
    val c = centroids.select(col(centroidIdCol), col(vecCol).as("__cv"))
    val wq = Window.partitionBy(col(qIdCol)).orderBy(col("__d").asc, col(centroidIdCol).asc)
    queries.select(col(qIdCol), col(vecCol).as("__qv"))
      .crossJoin(broadcast(c))
      .withColumn("__d", euclideanDistance(col("__qv"), col("__cv")))
      .withColumn("__rk", row_number().over(wq))
      .filter(col("__rk") <= nprobe)
      .select(col(qIdCol), col("__qv"), col(centroidIdCol).as("cell"))
      .withColumn("__qn", l2Norm(col("__qv")))
  }

  /** Rank an assigned (cell-tagged) corpus against query cells: broadcast
    * join on the cell + windowed per-query top-k — shared by the inline
    * and the materialized-layout probe paths. */
  private def probeScore(
      assigned: DataFrame, qCells: DataFrame,
      idCol: String, qIdCol: String, vecCol: String, k: Int
  ): DataFrame = {
    val scored = assigned
      .withColumn("__cn", l2Norm(col(vecCol)))
      .join(broadcast(qCells), Seq("cell"))
      .filter(col(idCol) =!= col(qIdCol))
      .withColumn("cosine",
        when(col("__cn") * col("__qn") === 0.0, lit(null).cast("double"))
          .otherwise(dotProduct(col(vecCol), col("__qv")) / (col("__cn") * col("__qn"))))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(idCol).asc)
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(qIdCol), col(idCol), col("cosine"), col("__rk").as("rank"))
  }

  /** Materialize the IVF layout: the corpus, assigned to coarse cells and
    * written hive-partitioned BY the cell — the one-off write that turns
    * cell membership from a computed column into a physical directory
    * layout. After it, a probe query prunes to nprobe/nCells of the data
    * at the SCAN (PartitionFilters, files never opened), which is the
    * 100 TB IVF story the inline [[ivfTopK]] only simulates. */
  def writeIvfLayout(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String, path: String
  ): Unit = {
    val assigned = assignToCentroids(corpus, centroids, idCol, centroidIdCol, vecCol)
    // through the sink layer, not a raw writer: the layout is an ordinary
    // partitioned parquet sink, so a config-driven pipeline step can
    // produce it with `"partitionBy": ["cell"]` and inherit every sink
    // behavior (markers, compression, sizing conf) for free
    graft.sinks.SinkWriter.write(corpus.sparkSession, assigned,
      graft.config.SinkSpec("ivf_layout", "simpleInsert", "parquet",
        Some(path), savemode = "overwrite", partitionBy = Seq("cell")))
  }

  /** Incremental maintenance of a [[writeIvfLayout]] table: assign ONLY
    * the new batch to the EXISTING centroids and append its rows into the
    * matching cell partitions — the steady-state ingest path of a live
    * embedding store, where rebuilding the layout per batch would
    * re-write the whole corpus. Assignment is per-row deterministic, so
    * base-then-append probes byte-identically to a full rebuild over the
    * union (x143 shares x15/x46's oracle for exactly this reason).
    *
    * Centroids must be the SAME frame the base layout used — moving
    * centroids changes the cell geometry and requires a rebuild (that is
    * k-means maintenance, not layout maintenance). Appends accumulate
    * small files per cell; compact on the usual sink-sizing cadence.
    * Writer exclusivity vs rebuilds/compaction: PLANS.md "Store
    * concurrency contracts". */
  def appendToIvfLayout(
      newBatch: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String, path: String
  ): Unit = {
    // writer-exclusivity guard, same as the streaming ingest's: an
    // append overlapping a rebuild writes rows the rebuild's corpus read
    // never saw into the soon-retired store — retired and deleted with
    // it, silently (a plain append has no watermark, so nothing would
    // even replay it). Fail-stop instead; checked again after the write,
    // before returning success, to catch a rebuild that staged mid-write.
    val fsPath = new org.apache.hadoop.fs.Path(path + ".rebuilt")
    val fs = fsPath.getFileSystem(
      newBatch.sparkSession.sparkContext.hadoopConfiguration)
    require(!fs.exists(fsPath),
      s"appendToIvfLayout($path): a rebuild is staged ($fsPath exists) — " +
        "refusing to append; re-run the append after the rebuild " +
        "completes (it will assign against the NEW geometry)")
    val assigned = assignToCentroids(newBatch, centroids, idCol, centroidIdCol, vecCol)
    graft.sinks.SinkWriter.write(newBatch.sparkSession, assigned,
      graft.config.SinkSpec("ivf_layout_append", "simpleInsert", "parquet",
        Some(path), savemode = "append", partitionBy = Seq("cell")))
    require(!fs.exists(fsPath),
      s"appendToIvfLayout($path): a rebuild staged MID-APPEND ($fsPath " +
        "exists) — this batch's rows may be retired with the old store " +
        "(if the rebuild read the corpus before they landed) or already " +
        "carried into the rebuilt one (if after). Check the rebuilt " +
        "store for this batch's ids before re-appending; an unkeyed " +
        "blind retry can duplicate it")
  }

  /** Re-quantization rebuild of a live [[writeIvfLayout]] store — the
    * ACTION priced by [[ivfRecallDrift]]'s signal, closing the ops loop:
    * ingest ([[appendToIvfLayout]] / streaming
    * [[graft.streaming.StreamingJobs.startIvfIngest]]) keeps the
    * build-time geometry; the monitor reports the recall a refresh would
    * recover; this op performs the refresh. Reads the layout's full
    * corpus, re-assigns every row to `newCentroids`
    * ([[assignToCentroids]] — per-row deterministic, so the rebuilt
    * store probes byte-identically to [[writeIvfLayout]] from scratch on
    * (corpus, newCentroids); asserted in the spec), writes the new
    * cell-partitioned layout beside the old one, then swaps.
    *
    * The streaming ingest's `_ingest_hwm` watermark is CARRIED into the
    * rebuilt store before the swap — without it, an at-least-once replay
    * of an already-ingested batch after a rebuild would re-append its
    * rows into the fresh layout as duplicates.
    *
    * SINGLE-WRITER CONTRACT (PLANS.md "Store concurrency contracts"): the
    * rebuild assumes no concurrent writer on the layout. A batch published
    * between the corpus read and the swap would otherwise be retired with
    * the old store while the carried watermark claims it committed —
    * silent loss. Two guards convert that race into a loud abort:
    * (1) the watermark is SNAPSHOTTED before the corpus read and re-read
    * immediately before the swap; any advance aborts the rebuild (staged
    * dir deleted, live store untouched — quiesce the ingest and re-run);
    * (2) [[graft.streaming.StreamingJobs.ivfIngestBatch]] refuses to
    * publish while `<layout>.rebuilt` exists, so a batch STARTING
    * mid-rebuild fails its micro-batch and replays after the swap (its
    * bid is above the carried watermark). A rebuild that CRASHES after
    * staging leaves `<layout>.rebuilt` behind, which pauses ingest
    * publishes until the rebuild re-runs (it overwrites the staged dir
    * and converges) — fail-stop, never silent. `midRebuildHook` is a
    * test-only fault-injection seam between the staging write and the
    * pre-swap watermark re-read; production callers leave the default.
    *
    * The refreshed geometry is persisted INSIDE the rebuilt store as the
    * hidden `_centroids` parquet dir (swapped atomically with the data),
    * so maintenance loops ([[graft.streaming.StreamingJobs.ivfMaintainBatch]])
    * can recover the store's current centroids after a restart.
    *
    * Swap = two renames under deterministic names
    * (`<layout>.rebuilt` → staged result, `<layout>.replaced` → old
    * store): a crash before the first rename changes nothing (re-running
    * the rebuild overwrites the staged dir and converges); a crash
    * between the renames leaves the store path empty but both halves
    * intact under their deterministic names for forward completion. A
    * reader in the swap window fails loudly rather than seeing a
    * half-store. Deployments needing a no-gap swap front the layout with
    * a versioned manifest ([[graft.sources.VersionedParquet]]), where
    * the swap is one commit — the same caveat as
    * [[graft.sinks.Compaction]]'s isolation note.
    *
    * Returns (rows rewritten, cells in the new layout). */
  def rebuildIvfLayout(
      spark: org.apache.spark.sql.SparkSession, layoutPath: String,
      newCentroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String,
      midRebuildHook: () => Unit = () => ()
  ): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(layoutPath)
    val fs = live.getFileSystem(conf)
    require(fs.exists(live), s"no layout at $layoutPath")
    val staged = new org.apache.hadoop.fs.Path(layoutPath + ".rebuilt")
    val retired = new org.apache.hadoop.fs.Path(layoutPath + ".replaced")
    val hwm = new org.apache.hadoop.fs.Path(live, "_ingest_hwm")
    // complete read (loops to EOF) — a prefix read would compare/copy a
    // TRUNCATED (lower) watermark
    def readHwm(): Option[String] =
      if (fs.exists(hwm))
        Some(new String(graft.util.Fs.readSmallFile(fs, hwm), "UTF-8").trim)
      else None
    // writer-race guard, half 1: snapshot the ingest watermark BEFORE the
    // corpus read — the staged store must carry the watermark CONSISTENT
    // with the rows it actually read, not whatever a concurrent publish
    // advanced it to afterwards
    val hwmBefore = readHwm()
    // corpus = every ingested row; the old geometry ("cell") is dropped,
    // everything else (including rows landed by appends) round-trips
    val corpus = spark.read.parquet(layoutPath).drop("cell")
    val assigned = assignToCentroids(corpus, newCentroids,
      idCol, centroidIdCol, vecCol)
    graft.sinks.SinkWriter.write(spark, assigned,
      graft.config.SinkSpec("ivf_layout_rebuild", "simpleInsert", "parquet",
        Some(staged.toString), savemode = "overwrite",
        partitionBy = Seq("cell")))
    // carry the SNAPSHOTTED watermark forward (see scaladoc) — and the
    // refreshed geometry, hidden beside the data it describes
    hwmBefore.foreach { v =>
      val out = fs.create(
        new org.apache.hadoop.fs.Path(staged, "_ingest_hwm"), true)
      try out.write(v.getBytes("UTF-8")) finally out.close()
    }
    writeCentroidsInto(newCentroids, staged.toString)
    val stats = spark.read.parquet(staged.toString)
      .agg(count(lit(1)), countDistinct(col("cell"))).head()
    midRebuildHook()
    // writer-race guard, half 2: re-read immediately before the swap; a
    // concurrent ivfIngestBatch commit mid-rebuild advanced the watermark
    // for rows the staged store never read — abort LOUDLY (live store
    // untouched, staged deleted so the ingest's .rebuilt refusal lifts)
    // instead of silently retiring that batch's files
    val hwmNow = readHwm()
    if (hwmNow != hwmBefore) {
      fs.delete(staged, true)
      throw new java.util.ConcurrentModificationException(
        s"rebuildIvfLayout($layoutPath) aborted: _ingest_hwm advanced " +
          s"$hwmBefore -> $hwmNow during the rebuild — a concurrent " +
          "ivfIngestBatch published mid-rebuild. The live store is " +
          "untouched; quiesce the ingest stream and re-run the rebuild.")
    }
    // the swap (crash contract in the scaladoc)
    if (fs.exists(retired)) fs.delete(retired, true)
    require(fs.rename(live, retired), s"swap: could not retire $live")
    require(fs.rename(staged, live), s"swap: could not publish $staged")
    fs.delete(retired, true)
    (stats.getLong(0), stats.getLong(1))
  }

  /** Persist a centroid frame as the hidden `_centroids` parquet dir
    * inside an IVF store (underscore prefix — invisible to parquet
    * readers and partition discovery of the store itself). The store
    * becomes self-describing: maintenance loops recover its CURRENT
    * geometry after a restart instead of trusting a caller-held frame
    * that a rebuild may have invalidated. Deterministic and idempotent
    * (overwrite), so re-persisting the same frame is a no-op in content. */
  def writeCentroidsInto(centroids: DataFrame, storePath: String): Unit =
    centroids.write.mode("overwrite").parquet(s"$storePath/_centroids")

  /** The store's current geometry, if it is self-describing (seeded by
    * [[graft.streaming.StreamingJobs.ivfMaintainBatch]] or written by a
    * [[rebuildIvfLayout]]); None for stores whose callers hold the
    * centroid frame externally. */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
      storePath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$storePath/_centroids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** One float-space Lloyd refresh returned as a CENTROID FRAME: runs
    * [[kmeansStep]] (exact micro-unit integer means — bit-deterministic
    * across partitionings) and reassembles its (cell, dim, n, mean) rows
    * into (centroidIdCol, vecCol) arrays; cells that captured no vectors
    * keep their previous centroid. This is the default `refresh` of the
    * drift-triggered maintenance policy — the "what a re-quantization
    * would use TODAY" geometry in the store's own float space. Vectors
    * come back as array<double> regardless of the input's float width
    * (the mean is a double; [[assignToCentroids]] casts per-element). */
  def refreshedCentroids(corpus: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String): DataFrame = {
    val moved = kmeansStep(corpus, centroids, idCol, centroidIdCol, vecCol)
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mean")))).as("__a"))
      .select(col("cell"),
        transform(col("__a"), e => e.getField("mean")).as("__nv"))
    val c = centroids.select(col(centroidIdCol),
      transform(col(vecCol), v => v.cast("double")).as("__ov"))
    c.join(moved, c(centroidIdCol) === moved("cell"), "left")
      .select(col(centroidIdCol), coalesce(col("__nv"), col("__ov")).as(vecCol))
  }

  /** IVF probe against a materialized [[writeIvfLayout]] table. The probe
    * cell set (queries × nprobe ids — tiny by the small-query contract) is
    * collected and pushed as an IN-list on the PARTITION column, so the
    * scan's PartitionFilters prune every non-probed cell directory before
    * a single file opens. Results are identical to [[ivfTopK]] on the same
    * corpus/centroids (asserted in ExtensionOpsSpec). */
  def ivfTopKFromLayout(
      spark: org.apache.spark.sql.SparkSession, layoutPath: String,
      queries: DataFrame, centroids: DataFrame,
      idCol: String, qIdCol: String, centroidIdCol: String, vecCol: String,
      k: Int, nprobe: Int = 3,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint
  ): DataFrame = {
    // referenced by the collect AND the probe join; tiny by the small-query
    // contract, but materialized through the seam so cluster callers can
    // make even this frame durable alongside the rest of the pipeline
    val qc = staging.stage(
      queryCells(queries, centroids, qIdCol, centroidIdCol, vecCol, nprobe),
      "ivf-query-cells")
    val probeCells = qc.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val assigned = spark.read.parquet(layoutPath)
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      // partition-type inference may narrow the directory value to int;
      // normalize back to the assignment's long so downstream joins and
      // callers see the written schema
      .withColumn("cell", col("cell").cast("long"))
    probeScore(assigned, qc, idCol, qIdCol, vecCol, k)
  }

  /** Product-quantization encode: split each vector into `subspaces`
    * subvectors of `subDim` dims and replace each with the index of its
    * nearest codebook entry (L2 argmin, ties → lowest code). 64 float
    * dims compress to `subspaces` small ints — the memory/bandwidth step
    * that, layered on IVF cells, is the canonical billion-scale ANN
    * stack (IVF-PQ).
    *
    * Plan: corpus explodes to `subspaces` rows/vector and joins the
    * BROADCAST codebook (subspaces × C tiny rows); per-(vector, subspace)
    * argmin is `min(struct(dist, code))` — a plain aggregate with map-side
    * partials, no window, no self-join; codes reassemble ordered by
    * subspace. One shuffle keyed on the vector id.
    *
    * `codebook(codeCol, vecCol)` carries FULL-dimension vectors sliced the
    * same way as the corpus (so any `kmeansStep`-refined or sampled frame
    * works as-is). */
  def pqEncode(
      corpus: DataFrame, codebook: DataFrame,
      idCol: String, codeCol: String, vecCol: String,
      subspaces: Int, subDim: Int
  ): DataFrame =
    pqEncodeLong(corpus, codebook, idCol, codeCol, vecCol, subspaces, subDim)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("code")))).as("__a"))
      .select(col(idCol), transform(col("__a"), e => e.getField("code")).as("codes"))

  /** [[pqEncode]] in long form — (idCol, s, code) — the shape the ADC
    * join consumes directly. */
  def pqEncodeLong(
      corpus: DataFrame, codebook: DataFrame,
      idCol: String, codeCol: String, vecCol: String,
      subspaces: Int, subDim: Int
  ): DataFrame = {
    val cb = subspaced(codebook, codeCol, vecCol, subspaces, subDim)
      .withColumnRenamed("__sv", "__cbv").withColumnRenamed(codeCol, "code")
    subspaced(corpus, idCol, vecCol, subspaces, subDim)
      .join(broadcast(cb), Seq("s"))
      .withColumn("__d", euclideanDistance(col("__sv"), col("__cbv")))
      .groupBy(col(idCol), col("s"))
      .agg(min(struct(col("__d"), col("code"))).as("__m"))
      .select(col(idCol), col("s"), col("__m.code").as("code"))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each query
    * precomputes its `subspaces × C` distance table against the codebook
    * (broadcast), and a corpus vector's approximate distance is the SUM of
    * its codes' table entries — the corpus side never touches floats
    * again. Table entries are quantized to DECIMAL(20,10) before the sum
    * so the distributed aggregate is exact (same determinism contract as
    * the text scoring ops). */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
      idCol: String, qIdCol: String, codeCol: String, vecCol: String,
      subspaces: Int, subDim: Int, k: Int
  ): DataFrame = {
    val enc = pqEncodeLong(corpus, codebook, idCol, codeCol, vecCol, subspaces, subDim)
    val cb = subspaced(codebook, codeCol, vecCol, subspaces, subDim)
      .withColumnRenamed("__sv", "__cbv").withColumnRenamed(codeCol, "code")
    val qt = subspaced(queries, qIdCol, vecCol, subspaces, subDim)
      .withColumnRenamed("__sv", "__qv")
      .join(broadcast(cb), Seq("s"))
      .withColumn("__d",
        euclideanDistance(col("__qv"), col("__cbv")).cast("decimal(20,10)"))
      .select(col(qIdCol), col("s"), col("code"), col("__d"))
    val adc = enc.join(broadcast(qt), Seq("s", "code"))
      .groupBy(col(qIdCol), col(idCol))
      .agg(sum("__d").as("__dist"))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("__dist").asc, col(idCol).asc)
    adc.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(qIdCol), col(idCol),
        col("__dist").cast("double").as("adc_dist"), col("__rk").as("rank"))
  }

  /** Materialize the IVF-PQ layout: the canonical billion-scale ANN table.
    * Each corpus vector is assigned to its coarse cell
    * ([[assignToCentroids]]) and PQ-encoded ([[pqEncode]]); what lands on
    * disk is `(idCol, codes)` hive-partitioned BY the cell — the float
    * vector column is GONE. At 100 TB that is the whole story: 64 floats
    * (256 B) become `subspaces` small ints (~8 B), a 30× shrink of the
    * corpus table, and the probe below never reads a float from the corpus
    * side — queries rank against codes alone.
    *
    * Build cost: one broadcast-assign pass + one encode shuffle keyed on
    * the vector id, then the id-join of cell to codes — a one-off write
    * that amortizes over every query, exactly like [[writeIvfLayout]]. */
  def writeIvfPqLayout(
      corpus: DataFrame, centroids: DataFrame, codebook: DataFrame,
      idCol: String, centroidIdCol: String, codeCol: String, vecCol: String,
      subspaces: Int, subDim: Int, path: String
  ): Unit = {
    val assigned = assignToCentroids(corpus, centroids, idCol, centroidIdCol, vecCol)
      .select(col(idCol), col("cell"))
    val enc = pqEncode(corpus, codebook, idCol, codeCol, vecCol, subspaces, subDim)
    graft.sinks.SinkWriter.write(corpus.sparkSession, assigned.join(enc, Seq(idCol)),
      graft.config.SinkSpec("ivfpq_layout", "simpleInsert", "parquet",
        Some(path), savemode = "overwrite", partitionBy = Seq("cell")))
  }

  /** IVF-PQ probe against a materialized [[writeIvfPqLayout]] table: the
    * probe cell set prunes partitions at the scan (same IN-list push as
    * [[ivfTopKFromLayout]] — non-probed cell directories never open), and
    * ranking inside the probed cells is ADC over the stored codes: each
    * query's `subspaces × C` distance table rides a broadcast, a corpus
    * row's distance is the sum of its codes' entries, and the corpus side
    * never touches a float (the layout doesn't even HAVE the float column
    * — asserted on the scan schema in ExtensionOpsSpec). DECIMAL(20,10)
    * table entries keep the distributed sum exact, so the whole pipeline
    * — coarse quantize, prune, ADC rank — replays in the SQL oracle.
    *
    * Results match [[ivfPqTopK]] (the inline twin) bit-for-bit; accuracy
    * vs float IVF ([[ivfTopKFromLayout]]) is the standard PQ trade. */
  def ivfPqTopKFromLayout(
      spark: org.apache.spark.sql.SparkSession, layoutPath: String,
      queries: DataFrame, centroids: DataFrame, codebook: DataFrame,
      idCol: String, qIdCol: String, centroidIdCol: String, codeCol: String,
      vecCol: String, subspaces: Int, subDim: Int, k: Int, nprobe: Int = 3,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint
  ): DataFrame = {
    val qc = staging.stage(
      queryCells(queries, centroids, qIdCol, centroidIdCol, vecCol, nprobe)
        .select(col(qIdCol), col("cell")), "ivfpq-query-cells")
    val probeCells = qc.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val layout = spark.read.parquet(layoutPath)
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      .withColumn("cell", col("cell").cast("long")) // partition-type inference may narrow to int
    val encCell = layout
      .select(col(idCol), col("cell"), posexplode(col("codes")))
      .select(col(idCol), col("cell"), col("pos").as("s"), col("col").as("code"))
    adcProbeScore(encCell, qc, queries, codebook,
      idCol, qIdCol, codeCol, vecCol, subspaces, subDim, k)
  }

  /** Inline IVF-PQ (no materialized layout): assign, encode, and ADC-rank
    * in one plan — the semantics twin of [[ivfPqTopKFromLayout]] for
    * ad-hoc runs and for asserting the layout path changes nothing. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebook: DataFrame, idCol: String, qIdCol: String,
      centroidIdCol: String, codeCol: String, vecCol: String,
      subspaces: Int, subDim: Int, k: Int, nprobe: Int = 3
  ): DataFrame = {
    val assigned = assignToCentroids(corpus, centroids, idCol, centroidIdCol, vecCol)
      .select(col(idCol), col("cell"))
    val encCell = pqEncodeLong(corpus, codebook, idCol, codeCol, vecCol,
      subspaces, subDim).join(assigned, Seq(idCol))
    val qc = queryCells(queries, centroids, qIdCol, centroidIdCol, vecCol, nprobe)
      .select(col(qIdCol), col("cell"))
    adcProbeScore(encCell, qc, queries, codebook,
      idCol, qIdCol, codeCol, vecCol, subspaces, subDim, k)
  }

  /** ADC ranking of a cell-tagged encoded corpus `(idCol, cell, s, code)`
    * against per-query probe cells: the query distance tables join their
    * probe cells into one (cell, s, code, q, d) frame — tiny by the
    * small-query contract (queries × nprobe × subspaces × C rows) — which
    * broadcasts, so the only shuffle on the corpus side is the final
    * (query, id) distance aggregation of `subspaces` rows per candidate. */
  private def adcProbeScore(
      encCell: DataFrame, qCells: DataFrame,
      queries: DataFrame, codebook: DataFrame,
      idCol: String, qIdCol: String, codeCol: String, vecCol: String,
      subspaces: Int, subDim: Int, k: Int
  ): DataFrame = {
    val cb = subspaced(codebook, codeCol, vecCol, subspaces, subDim)
      .withColumnRenamed("__sv", "__cbv").withColumnRenamed(codeCol, "code")
    val qt = subspaced(queries, qIdCol, vecCol, subspaces, subDim)
      .withColumnRenamed("__sv", "__qv")
      .join(broadcast(cb), Seq("s"))
      .withColumn("__d",
        euclideanDistance(col("__qv"), col("__cbv")).cast("decimal(20,10)"))
      .select(col(qIdCol), col("s"), col("code"), col("__d"))
    val qtc = qt.join(qCells, Seq(qIdCol)) // (q, cell, s, code, d)
    val adc = encCell.join(broadcast(qtc), Seq("cell", "s", "code"))
      .filter(col(idCol) =!= col(qIdCol))
      .groupBy(col(qIdCol), col(idCol))
      .agg(sum("__d").as("__dist"))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("__dist").asc, col(idCol).asc)
    adc.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(qIdCol), col(idCol),
        col("__dist").cast("double").as("adc_dist"), col("__rk").as("rank"))
  }

  /** (id, s, __sv): one row per subspace with the vector's s-th slice. */
  private def subspaced(df: DataFrame, idCol: String, vecCol: String,
      subspaces: Int, subDim: Int): DataFrame =
    df.select(col(idCol), explode(sequence(lit(0), lit(subspaces - 1))).as("s"),
        col(vecCol))
      .select(col(idCol), col("s"),
        slice(col(vecCol), col("s") * subDim + 1, lit(subDim)).as("__sv"))

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * greedily pick `k` of each query's candidates maximizing
    *
    *   λ·rel(d)  −  (1−λ)·max_{s ∈ selected} dot(d, s)
    *
    * — the standard diversified-retrieval step between first-stage
    * retrieval and a context window: near-duplicate passages waste
    * prompt slots, so the second pick is penalized for similarity to
    * the first, and so on. Round 1 maximizes λ·rel alone (empty set's
    * max); ties break toward the smaller id, making the whole greedy
    * trajectory deterministic and oracle-replayable.
    *
    * Shape at 100 TB: `cands` is a first-stage top-N per query
    * ([[bruteForceTopK]] / [[ivfPqTopKFromLayout]] output joined back to
    * vectors), so the frame is queries × N rows and the whole operator is
    * ONE query-keyed shuffle: `collect_list` gathers each query's bounded
    * candidate pool (O(N·dim) per group — [[graft.functions.TopKAgg]]'s
    * memory contract) and the greedy trajectory runs in registers inside
    * the codegen'd [[graft.functions.MmrSelectExpr]]. The original
    * k-round DataFrame formulation (anti-join + broadcast-join + argmax
    * per round) re-scanned the candidate frame k times behind k job
    * barriers — same algebra, strictly worse engine shape; the per-round
    * plans are preserved in the expression's Scaladoc contract and the
    * x149 oracle still replays them round by round. */
  def mmrSelect(cands: DataFrame, qIdCol: String, idCol: String,
      relCol: String, vecCol: String, k: Int, lambda: Double): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda=$lambda outside [0,1]")
    cands
      .groupBy(col(qIdCol))
      .agg(collect_list(struct(col(idCol).cast("long").as("id"),
        col(relCol).cast("double").as("rel"),
        // cast here so array<double> embeddings (the common Scala/SQL
        // shape) stay accepted by the tolerant public API while the raw
        // expression stays strict about its array<float> read
        col(vecCol).cast("array<float>").as("vec"))).as("__cands"))
      .select(col(qIdCol),
        explode(graft.functions.MmrSelectExpr.select(col("__cands"), k, lambda))
          .as("__p"))
      .select(col(qIdCol), col("__p.rank").as("rank"), col("__p.id").as(idCol),
        col("__p.rel").as("rel"), col("__p.score").as("mmr_score"))
  }

  /** Exact integer Gram matrix over [[int8Codes]]-quantized embeddings:
    * G(i,j) = Σ_rows q_i·q_j for the upper triangle i ≤ j — the
    * d(d+1)/2 exact second moments behind PCA / whitening / covariance.
    * The eigen-solve on the resulting d×d matrix is a driver-side O(d³)
    * epilogue over ≤ a few thousand numbers ([[topEigen]]); the DATA-scale
    * work — the moments — is this one distributed pass.
    *
    * Plan: one narrow projection builds each row's flattened
    * upper-triangular outer product as an array-of-structs HOF expression
    * (pure codegen, no UDF), explode, then groupBy(i,j) sum. Partial
    * aggregation collapses every task to ≤ d(d+1)/2 rows before the single
    * Exchange, so shuffle traffic is #partitions · 2080 rows at d=64 —
    * independent of corpus size: the shape that holds at 100 TB. Exact:
    * int8 × int8 products summed in BIGINT, no float reduction order.
    * Indices are 1-based (matches SQL `generate_subscripts`). */
  def gramMatrix(vecs: DataFrame, codesCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim $dim out of range")
    // flat upper-triangular product array + posexplode, with the
    // pos→(i,j) decode deferred to a broadcast join on the AGGREGATED
    // frame (d(d+1)/2 rows): the hot per-row loop allocates one long[]
    // instead of d(d+1)/2 three-field structs — measured 3.1 s → ~2 s
    // at sf0.1 before the struct removal
    val prods = flatten(transform(sequence(lit(1), lit(dim)), i =>
      transform(sequence(i, lit(dim)), j =>
        element_at(col(codesCol), i).cast("long") *
          element_at(col(codesCol), j).cast("long"))))
    val spark = vecs.sparkSession
    import spark.implicits._
    val posMap = (1 to dim).flatMap(i => (i to dim).map(j => (i, j)))
      .zipWithIndex.map { case ((i, j), p) => (p, i, j) }
      .toDF("__pos", "i", "j")
    vecs.select(posexplode(prods).as(Seq("__pos", "__p")))
      .groupBy("__pos").agg(sum("__p").as("g"))
      .join(broadcast(posMap), "__pos")
      .select(col("i"), col("j"), col("g"))
  }

  /** Deterministic farthest-first k-means seeding (Gonzalez 1985 — the
    * max-min traversal k-means++ approximates in expectation, made exact
    * and layout-independent): seed 1 is the min-id point; each further
    * seed is the point MAXIMIZING its distance to the chosen set, ties
    * to the smaller id. Distances are exact BIGINT squared euclidean
    * over [[int8Codes]], so selection never depends on float reduction
    * order and any engine replays the same seed sequence.
    *
    * Shape: the only per-round distributed work is ONE narrow map
    * (distance of every point to the single new seed, zip_with fold —
    * no join, the seed rides as a broadcast 1-row crossJoin) folded into
    * the running min, plus a (max dist, min id) struct-argmax reduce.
    * Driver sees k scalars total (the argmax row per round) — the
    * bounded-scalar contract the IVF/union-find paths already follow.
    * O(n·k) distance evaluations, the algorithm's lower bound. */
  def farthestFirstSeeds(vecs: DataFrame, idCol: String, codesCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k $k out of range")
    val spark = vecs.sparkSession
    import spark.implicits._
    def dist(a: Column, b: Column): Column =
      graft.functions.SqDistInt.dist(a, b) // fused exact loop, HOF-identical
    val base = graft.util.Staging.LocalCheckpoint.stage(vecs.select(
      col(idCol).cast("long").as("id"), col(codesCol).as("c")), "ffs-base")
    val first = base.orderBy("id").limit(1).collect()(0)
    var seeds = Seq((1, first.getLong(0), 0L))
    var cur = base.filter(col("id") === first.getLong(0))
      .select(col("c").as("__sc"))
    var mind = graft.util.Staging.LocalCheckpoint.stage(base.crossJoin(broadcast(cur))
      .select(col("id"), col("c"), dist(col("c"), col("__sc")).as("__d")), "ffs-mind-1")
    for (r <- 2 to k) {
      // (max dist, min id) argmax as one struct-max reduce
      val next = mind.agg(max(struct(col("__d").as("d"), (-col("id")).as("ni")))
        .as("m")).select((-col("m.ni")).as("id"), col("m.d")).collect()(0)
      seeds = seeds :+ ((r, next.getLong(0), next.getLong(1)))
      cur = base.filter(col("id") === next.getLong(0)).select(col("c").as("__sc"))
      mind = graft.util.Staging.LocalCheckpoint.stage(mind.crossJoin(broadcast(cur))
        .select(col("id"), col("c"),
          least(col("__d"), dist(col("c"), col("__sc"))).as("__d")), s"ffs-mind-$r")
    }
    seeds.toDF("seed_rank", "vec_id", "dist_num")
  }

  /** Quantized-centroid Lloyd k-means over [[int8Codes]] vectors, seeded
    * by [[farthestFirstSeeds]] — the full clustering loop (seed → assign
    * → update, `iters` times) made EXACT: centroids re-quantize to the
    * int8 grid each update (per-dimension round-half-up mean,
    * ⌊(2s+n)/(2n)⌋ in exact arithmetic), so every distance is a plain
    * BIGINT and the argmin is ONE struct-min over (dist, cid) — no
    * rational-denominator comparisons, no float ties, any engine replays
    * the same assignment sequence bit-for-bit. Quantizing centroids to
    * the code grid costs ≤ d/4 of squared-distance resolution per
    * centroid — noise at dim 64 against inter-cluster gaps, and the
    * codes themselves live on that grid anyway (the int8 serving stack).
    *
    * Shape per iter: assignment is a PER-ROW FOLD over the k centroids
    * shipped as literal arrays — pure map-side, zero exchanges, the
    * points never move (the former broadcast-crossJoin form re-shuffled
    * every point ×k through a (vec, c) re-aggregation each iteration);
    * then one (cid, dim) sum agg whose k·d centroid sums (≤ 4096
    * scalars) come to the driver to rebuild the literals — the
    * bounded-driver-scalar contract. Returns per-point
    * (vec_id, cluster, dist_num) after the LAST assignment. */
  /** Simplified silhouette on SQUARED int8 distances (the
    * centroid-based variant of Rousseeuw 1987 — O(n·k), not the O(n²)
    * full silhouette): per point, a = d²(own centroid),
    * b = min d²(other centroid), s = (b−a)/max(a,b) ∈ [−1, 1]; points
    * equal to their centroid (max = 0) score 0. Each per-point s
    * quantizes to DECIMAL(18,8) BEFORE the per-cluster mean (the x184
    * portability recipe), so the reported means are engine-exact.
    * Shape: one map-side two-smallest fold over the literal centroids
    * per point (no crossJoin, no point-scale shuffle) + one
    * cluster-keyed aggregate. */
  def simplifiedSilhouette(vecs: DataFrame, idCol: String, codesCol: String,
      k: Int, iters: Int, dim: Int): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2 clusters, got $k")
    val (_, cents) = kmeansLloydFull(vecs, idCol, codesCol, k, iters, dim)
    def dist(a: Column, b: Column): Column =
      graft.functions.SqDistInt.dist(a, b) // fused exact loop, HOF-identical
    // ONE per-row fold over the literal centroids keeps the TWO smallest
    // (distance, cid) structs: m1 IS the final assignment (a = m1.d,
    // cluster = m1.cid — same strict-< / ascending-cid tiebreak as
    // [[kmeansLloydFull]]'s fold, so this replays the last assignment
    // bit-for-bit) and m2.d is b = min distance to any OTHER centroid.
    // Pure map-side; the only exchange left is the k-row cluster agg.
    // (The former shape — broadcast crossJoin ×k, an (id, cluster) min
    // agg, two id-keyed joins back to the assignment — shuffled the
    // point set three times for the same numbers.)
    val sortedC = cents.sortBy(_._1)
    val cl = typedLit(sortedC.map(_._2))
    val cidArr = typedLit(sortedC.map(_._1))
    val two = aggregate(
      sequence(lit(1), lit(sortedC.size)),
      struct(
        struct(lit(Long.MaxValue).as("d"), lit(Int.MaxValue).as("cid")).as("m1"),
        struct(lit(Long.MaxValue).as("d"), lit(Int.MaxValue).as("cid")).as("m2")),
      (acc, i) => {
        val d = dist(col("c"), element_at(cl, i))
        val cand = struct(d.as("d"), element_at(cidArr, i).as("cid"))
        when(d < acc.getField("m1").getField("d"),
          struct(cand.as("m1"), acc.getField("m1").as("m2")))
          .when(d < acc.getField("m2").getField("d"),
            struct(acc.getField("m1").as("m1"), cand.as("m2")))
          .otherwise(acc)
      })
    vecs.select(col(idCol).cast("long").as("id"), col(codesCol).as("c"))
      .select(col("id"), two.as("t"))
      .select(col("t.m1.cid").as("cluster"),
        col("t.m1.d").as("a"), col("t.m2.d").as("b"))
      .withColumn("__s", when(greatest(col("a"), col("b")) === 0L, lit(0.0))
        .otherwise((col("b") - col("a")).cast("double") /
          greatest(col("a"), col("b")).cast("double"))
        .cast("decimal(18,8)"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_points"), sum("__s").as("__ss"))
      .select(col("cluster").cast("long").as("cluster"), col("n_points"),
        round(col("__ss").cast("double") / col("n_points"), 6)
          .as("mean_silhouette"))
  }

  def kmeansLloyd(vecs: DataFrame, idCol: String, codesCol: String,
      k: Int, iters: Int, dim: Int): DataFrame =
    kmeansLloydFull(vecs, idCol, codesCol, k, iters, dim)._1

  /** [[kmeansLloyd]] plus the centroid set the final assignment was made
    * against — [[simplifiedSilhouette]] needs distances to OTHER
    * centroids without re-deriving the state. */
  def kmeansLloydFull(vecs: DataFrame, idCol: String, codesCol: String,
      k: Int, iters: Int, dim: Int): (DataFrame, Seq[(Int, Seq[Int])]) = {
    require(iters >= 1 && iters <= 16, s"iters $iters out of range")
    val spark = vecs.sparkSession
    import spark.implicits._
    def dist(a: Column, b: Column): Column =
      graft.functions.SqDistInt.dist(a, b) // fused exact loop, HOF-identical
    val base = graft.util.Staging.LocalCheckpoint.stage(vecs.select(
      col(idCol).cast("long").as("id"), col(codesCol).as("c")), "kmeans-base")
    val seedIds = farthestFirstSeeds(base, "id", "c", k)
      .select(col("seed_rank"), col("vec_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    var cents = base
      .join(seedIds.toSeq.toDF("cid", "id"), Seq("id"))
      .select(col("cid"), col("c").as("cl"))
      .collect().map(r => (r.getInt(0), r.getSeq[Int](1)))
      .toSeq.sortBy(_._1)
    var assign: DataFrame = null
    for (it <- 1 to iters) {
      // centroids ride as LITERAL arrays and the argmin is a per-row fold
      // — the assignment pass is pure map-side (no crossJoin ×k, no
      // (id, c) re-aggregation shuffle per iteration; at 100 TB the
      // points never move, only the k·dim centroid-update rows do).
      // Ascending-cid fold with strict < == min(struct(d, cid)): smallest
      // distance, ties to the smallest cid — bit-identical to the
      // join-based form.
      val sortedC = cents.sortBy(_._1)
      val cl = typedLit(sortedC.map(_._2))
      val cidArr = typedLit(sortedC.map(_._1))
      val best = aggregate(
        sequence(lit(1), lit(sortedC.size)),
        struct(lit(Long.MaxValue).as("d"), lit(Int.MaxValue).as("cid")),
        (acc, i) => {
          val d = dist(col("c"), element_at(cl, i))
          when(d < acc.getField("d"),
            struct(d.as("d"), element_at(cidArr, i).as("cid")))
            .otherwise(acc)
        })
      assign = base.select(col("id"), col("c"), best.as("m"))
        .select(col("id"), col("c"), col("m.cid").as("cluster"),
          col("m.d").as("dist_num"))
      if (it < iters) {
        val sums = assign
          .select(col("cluster"), posexplode(col("c")).as(Seq("i", "v")))
          .groupBy("cluster", "i")
          .agg(sum(col("v").cast("long")).as("s"), count(lit(1)).as("n"))
          .collect().map(r => (r.getInt(0), r.getInt(1),
            r.getLong(2), r.getLong(3)))
        val byC = sums.groupBy(_._1)
        cents = cents.map { case (cid, old) =>
          byC.get(cid) match {
            case Some(rows) =>
              val lanes = rows.map(t => t._2 -> {
                // round-half-up mean on the int grid: ⌊(2s+n)/(2n)⌋,
                // exact in double at these magnitudes
                val (s, n) = (t._3, t._4)
                math.floor((2.0 * s + n) / (2.0 * n)).toInt
              }).toMap
              (cid, (0 until dim).map(i => lanes.getOrElse(i, 0)))
            case None => (cid, old) // empty cluster keeps its centroid
          }
        }
      }
    }
    (assign.select(col("id").as(idCol), col("cluster"), col("dist_num")),
      cents)
  }

  /** Driver-side dominant eigenpair of a symmetric matrix given as its
    * upper triangle (the [[gramMatrix]] output collected — ≤ d(d+1)/2
    * scalars, a bounded driver payload by design): deterministic power
    * iteration from the all-ones vector with fixed iteration count.
    * Returns (eigenvalue, eigenvector). For PCA: feed the CENTERED gram
    * (G/n − μμᵀ); the projection onto the returned vector is then a
    * narrow per-row map. Public-knowledge numerics (von Mises iteration). */
  def topEigen(upper: Seq[(Int, Int, Long)], dim: Int,
      iters: Int = 100): (Double, Array[Double]) = {
    val m = Array.ofDim[Double](dim, dim)
    upper.foreach { case (i, j, g) => m(i - 1)(j - 1) = g.toDouble
                                      m(j - 1)(i - 1) = g.toDouble }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(dim)(r => {
        var s = 0.0; var c = 0; while (c < dim) { s += m(r)(c) * v(c); c += 1 }; s })
      val n = math.sqrt(w.map(x => x * x).sum)
      if (n == 0.0) return (0.0, v)
      v = w.map(_ / n)
      lambda = n
      it += 1
    }
    (lambda, v)
  }
}
