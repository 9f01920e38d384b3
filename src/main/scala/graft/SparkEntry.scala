package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IncrementalAgg, Scd2, Upsert, Validations}
import graft.sources.SourceReader
import graft.config.ColumnMapping
import graft.x.{Dedup, EventAnalytics, Graph, Multimodal, Privacy, Profiler, Sampling, Similarity, Sketches, TextAnalysis}
import graft.functions.TopKAgg
import graft.streaming.StreamingJobs

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB-equivalent oracle SQL where the operator is
  * SQL-expressible. Naming: q* = Tier-B relational surface (the reference's
  * transformation phase is arbitrary Spark SQL, /root/reference/spark.json:57),
  * v* = Tier-A validation operators (spark.json:40-52), etl_* = source/
  * load-strategy operators, x* = LLM-pipeline extension ops (SURVEY.md §2.9),
  * mm_* = multimodal, ev_* = event/window ops shared with streaming.
  *
  * Determinism rules (oracle hash-match at sf0.01):
  *  - double aggregations go through DECIMAL casts so partial-aggregation
  *    order can't perturb low bits (sum over decimal is exact & commutative);
  *  - timestamps in outputs are formatted to strings; counts/ranks cast to
  *    BIGINT on both engines; every computed column aliased identically.
  */
object SparkEntry {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Registering the 10 fixture views costs ~10 parquet footer reads; memoize
  // per (session, dir) — temp views are session-scoped, so a dir-only key
  // would skip registration for a fresh session in the same JVM.
  @volatile private var registeredKey: (Int, String) = null

  private def reg(s: SparkSession, dir: String): Unit =
    if (registeredKey != ((System.identityHashCode(s), dir))) {
    tables.foreach { t =>
      // events.ts has shipped in several parquet encodings across fixture
      // builds; SourceReader.readEvents adapts to whichever is on disk.
      val df =
        if (t == "events") SourceReader.readEvents(s, s"$dir/$t.parquet")
        else s.read.parquet(s"$dir/$t.parquet")
      df.createOrReplaceTempView(t)
    }
    registeredKey = (System.identityHashCode(s), dir)
  }

  private def sqlQ(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => { reg(s, dir); s.sql(q) }

  /** Like [[sqlQ]] but with graft's custom expressions registered as SQL
    * functions first — the surface a config-driven job sees after
    * [[graft.functions.GraftFunctions.register]] / GraftExtensions. */
  private def sqlX(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => { reg(s, dir); graft.functions.GraftFunctions.register(s); s.sql(q) }

  /** Flagship query on sf=0.001 (the reference pipeline's own
    * calculate_daily_range shape, example-shareprice.py:149). */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_daily_range")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- Tier B: relational SQL surface (SURVEY.md §2.4) ----
    "q01_agg" -> sqlQ("""
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

    "q02_daily_range" -> sqlQ("""
      SELECT CAST(o.o_orderdate AS DATE) AS trade_date,
        CAST(MAX(l.l_extendedprice) - MIN(l.l_extendedprice) AS DOUBLE) AS price_range,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY CAST(o.o_orderdate AS DATE)
      ORDER BY trade_date"""),

    "q03_star_join" -> sqlQ("""
      SELECT r.r_name AS region, n.n_name AS nation,
        CAST(SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
      ORDER BY region, nation"""),

    "q04_semi_join" -> ((s, dir) => {
      reg(s, dir)
      val c = s.table("customer")
      val o = s.table("orders").filter(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // anti-join against the FILTERED right side (customers with no
    // completed order) — every customer has SOME order in the fixtures,
    // so the unfiltered anti was vacuously empty and its oracle hash
    // proved nothing; the status filter makes the result non-empty
    // (~5% of customers) and exercises filter-under-anti pushdown
    "q05_anti_join" -> ((s, dir) => {
      reg(s, dir)
      val c = s.table("customer")
      val o = s.table("orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_custkey")
    }),

    "q06_window_rank" -> sqlQ("""
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(rn AS BIGINT) AS rn, CAST(rnk AS BIGINT) AS rnk,
             CAST(drnk AS BIGINT) AS drnk, CAST(nt AS BIGINT) AS nt
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
          RANK()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
          DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk,
          NTILE(4)     OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS nt
        FROM orders) t
      WHERE rn <= 3
      ORDER BY o_custkey, rn"""),

    "q07_window_analytic" -> sqlQ("""
      SELECT o_custkey, o_orderkey,
        LAG(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
        FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      FROM orders
      ORDER BY o_custkey, o_orderkey"""),

    "q08_rollup" -> sqlQ("""
      SELECT COALESCE(r.r_name, 'ALL') AS region, COALESCE(n.n_name, 'ALL') AS nation,
        CAST(COUNT(*) AS BIGINT) AS n_supp,
        CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY ROLLUP(r.r_name, n.n_name)
      ORDER BY region, nation"""),

    "q09_topk" -> sqlQ("""
      SELECT s.s_suppkey, s.s_name,
        CAST(SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_suppkey, s.s_name
      ORDER BY revenue DESC, s_suppkey
      LIMIT 10"""),

    "q10_setops" -> sqlQ("""
      SELECT 'union' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000) u
      UNION ALL
      SELECT 'intersect' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000) i
      UNION ALL
      SELECT 'except' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 5000) e
      ORDER BY op, c_custkey"""),

    "q11_string_fns" -> sqlQ("""
      SELECT p_partkey,
        UPPER(p_name) AS uname,
        SUBSTRING(p_name, 1, 5) AS prefix,
        CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        REPLACE(p_brand, 'Brand#', 'B') AS brand_short,
        LPAD(CAST(p_size AS STRING), 4, '0') AS size_pad,
        TRIM(CONCAT('  ', p_type, '  ')) AS type_trim,
        REGEXP_REPLACE(p_name, '[aeiou]', '_') AS devowel
      FROM part
      ORDER BY p_partkey"""),

    "q12_date_fns" -> sqlQ("""
      SELECT o_orderkey,
        CAST(o_orderdate AS DATE) AS od,
        CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
        DATE_FORMAT(DATE_TRUNC('month', o_orderdate), 'yyyy-MM-dd') AS month_start,
        CAST(DATEDIFF(DATE '2002-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_to_2002,
        DATE_ADD(CAST(o_orderdate AS DATE), 30) AS due_date
      FROM orders
      ORDER BY o_orderkey"""),

    "q13_conditional" -> sqlQ("""
      SELECT o_orderkey,
        CASE WHEN o_totalprice > 300000 THEN 'high'
             WHEN o_totalprice > 100000 THEN 'mid'
             ELSE 'low' END AS price_bucket,
        COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status2,
        IF(o_orderpriority = '1-URGENT', 1, 0) AS is_urgent
      FROM orders
      ORDER BY o_orderkey"""),

    "q14_json_fns" -> sqlQ("""
      SELECT event_id,
        GET_JSON_OBJECT(props, '$.k') AS k_str,
        CAST(GET_JSON_OBJECT(props, '$.k') AS BIGINT) AS k_num
      FROM events
      ORDER BY event_id"""),

    "q15_array_explode" -> sqlQ("""
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT doc_id, EXPLODE(SPLIT(TRIM(text), '\\s+')) AS tok FROM documents) t
      GROUP BY doc_id, tok
      ORDER BY doc_id, tok"""),

    "q16_subquery" -> sqlQ("""
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
      ORDER BY o_orderkey"""),

    "q17_cte" -> sqlQ("""
      WITH nat_rev AS (
        SELECT n.n_name, SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(28,6))) AS rev_d
        FROM lineitem l
          JOIN orders o   ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name)
      -- above-average filter via unbounded window instead of two scalar
      -- subqueries: Spark inlines (not materializes) CTEs, so subqueries
      -- would evaluate the whole join tree three times
      SELECT n_name, CAST(rev_d AS DOUBLE) AS revenue
      FROM (SELECT n_name, rev_d,
              SUM(rev_d) OVER () AS tot, COUNT(*) OVER () AS n
            FROM nat_rev) t
      WHERE rev_d * n > tot
      ORDER BY n_name"""),

    "q18_grouping_sets" -> sqlQ("""
      SELECT COALESCE(c.c_mktsegment, 'ALL') AS seg,
             COALESCE(o.o_orderpriority, 'ALL') AS pri,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), (c_mktsegment, o_orderpriority), ())
      ORDER BY seg, pri"""),

    "q19_distinct" -> sqlQ("""
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_pri,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders"""),

    "q20_having" -> sqlQ("""
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      GROUP BY l_suppkey
      HAVING COUNT(*) > 600
      ORDER BY l_suppkey"""),

    "q21_pivot" -> ((s, dir) => {
      reg(s, dir)
      s.table("events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0)
        .select(col("user_id"), col("click").cast("long").as("click"),
          col("error").cast("long").as("error"), col("purchase").cast("long").as("purchase"),
          col("signup").cast("long").as("signup"), col("view").cast("long").as("view"))
        .orderBy("user_id")
    }),

    "q25_lambda_fns" -> sqlQ("""
      SELECT doc_id,
        CAST(SIZE(FILTER(SPLIT(TRIM(text), '\\s+'), w -> LENGTH(w) > 3)) AS BIGINT) AS n_long,
        CAST(AGGREGATE(TRANSFORM(FILTER(SPLIT(TRIM(text), '\\s+'), w -> LENGTH(w) > 3),
                                 w -> LENGTH(w)), 0, (a, x) -> a + x) AS BIGINT) AS long_chars,
        CAST(ARRAY_MAX(TRANSFORM(SPLIT(TRIM(text), '\\s+'), w -> LENGTH(w))) AS BIGINT) AS max_word_len
      FROM documents
      ORDER BY doc_id"""),

    "q26_left_join_agg" -> sqlQ("""
      SELECT c.c_custkey, c.c_name,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(COALESCE(o.o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_name
      ORDER BY c.c_custkey"""),

    "q27_full_outer" -> sqlQ("""
      WITH open_o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_open
                      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
           done_o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_done
                      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
      SELECT COALESCE(open_o.k, done_o.k) AS custkey,
             COALESCE(n_open, 0) AS n_open, COALESCE(n_done, 0) AS n_done
      FROM open_o FULL OUTER JOIN done_o ON open_o.k = done_o.k
      ORDER BY custkey"""),

    "q28_cube" -> sqlQ("""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS pri,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, pri"""),

    "q29_math_fns" -> sqlQ("""
      SELECT o_orderkey,
        ABS(o_totalprice - 100000) AS dist_from_100k,
        CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_k_floor,
        CAST(CEIL(o_totalprice / 1000) AS BIGINT) AS price_k_ceil,
        ROUND(SQRT(o_totalprice), 6) AS sqrt_price,
        POWER(CAST(o_orderkey % 9 AS DOUBLE), 2) AS mod_sq,
        PMOD(o_orderkey, 7) AS m7,
        GREATEST(o_totalprice, 50000.0) AS hi_clamp,
        LEAST(o_totalprice, 50000.0) AS lo_clamp,
        CAST(SIGN(o_totalprice - 100000) AS INT) AS over_100k
      FROM orders
      ORDER BY o_orderkey"""),

    "q22_range_join" -> sqlQ("""
      SELECT b.band_name, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders o
      JOIN (VALUES ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0),
                   ('high', 300000.0, 1000000.0)) AS b(band_name, lo, hi)
        ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
      GROUP BY b.band_name
      ORDER BY band_name"""),

    // RANGE frame (value-based window): trailing-30-day running totals —
    // peers at the same day all enter the frame, unlike ROWS; decimal
    // casts keep the framed sums exact across engines
    "q35_window_range_frame" -> sqlQ("""
      SELECT o_orderkey, o_custkey, d,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_30d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS total_30d
      FROM (SELECT o_orderkey, o_custkey, o_totalprice,
              CAST(DATEDIFF(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT) AS d
            FROM orders)
      WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      ORDER BY o_orderkey"""),

    "q31_percentiles" -> sqlQ("""
      SELECT l_returnflag,
        ROUND(PERCENTILE(l_quantity, 0.25), 4) AS p25_qty,
        ROUND(PERCENTILE(l_quantity, 0.5), 4) AS p50_qty,
        ROUND(PERCENTILE(l_quantity, 0.75), 4) AS p75_qty,
        ROUND(PERCENTILE(l_extendedprice, 0.5), 4) AS p50_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // graft's custom Catalyst expressions exposed as SQL functions
    // (GraftExtensions/GraftFunctions): the reference's only query
    // interface is sqlQuery text, so the extension surface must be
    // reachable from pure SQL — this query runs entirely through it.
    "q32_ext_functions" -> sqlX("""
      WITH q AS (SELECT embedding AS qv, poly_hash56(CAST(label AS STRING)) AS qfp
                 FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id,
             ROUND(dot_f32(e.embedding, q.qv), 6) AS dot,
             ROUND(cosine_f32(e.embedding, q.qv), 6) AS cosine,
             poly_hash56(CAST(e.label AS STRING)) AS label_fp,
             CAST(hamming64(poly_hash56(CAST(e.label AS STRING)), q.qfp) AS BIGINT) AS label_dist
      FROM embeddings e, q
      WHERE e.vec_id < 200
      ORDER BY e.vec_id"""),

    // the custom TypedImperativeAggregate through the same SQL surface:
    // per-doc simhash signatures and their hamming distance to doc 1,
    // computed entirely in SQL text a config job could ship verbatim
    "q33_sql_simhash" -> sqlX("""
      WITH sig AS (
        SELECT d.doc_id, simhash_agg(poly_hash56(t.tok)) AS sh
        FROM documents d LATERAL VIEW EXPLODE(SPLIT(TRIM(d.text), '\\s+')) t AS tok
        GROUP BY d.doc_id),
      q AS (SELECT sh AS qsh FROM sig WHERE doc_id = 1)
      SELECT s.doc_id, CAST(hamming64(s.sh, q.qsh) AS BIGINT) AS dist
      FROM sig s, q
      ORDER BY s.doc_id"""),

    // quantile sketches (KLL/GK) differ across engines like HLL does, so
    // the checked contract mirrors q23's: the sketch estimate must land
    // inside a rank envelope of the exact distribution (±5 rank-percent is
    // ~500× looser than accuracy=10000 guarantees — a real regression
    // would still trip it), alongside bit-checked exact percentiles.
    "q34_approx_percentile" -> sqlQ("""
      SELECT l_returnflag,
        ROUND(PERCENTILE(l_extendedprice, 0.5), 4) AS exact_p50,
        APPROX_PERCENTILE(l_extendedprice, 0.5, 10000)
          BETWEEN PERCENTILE(l_extendedprice, 0.45) AND PERCENTILE(l_extendedprice, 0.55)
          AS p50_in_envelope,
        APPROX_PERCENTILE(l_extendedprice, 0.99, 10000)
          BETWEEN PERCENTILE(l_extendedprice, 0.97) AND PERCENTILE(l_extendedprice, 1.0)
          AS p99_in_envelope
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // HLL sketches differ across engines, so the checked contract is the
    // one an approx op actually makes: the estimate lands within its error
    // envelope of the exact count (rsd default 5%; 10% ≈ 2σ).
    "q23_approx_distinct" -> sqlQ("""
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             ABS(CAST(APPROX_COUNT_DISTINCT(l_orderkey) AS DOUBLE)
                 - COUNT(DISTINCT l_orderkey)) <= 0.1 * COUNT(DISTINCT l_orderkey)
               AS approx_within_10pct
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    "q24_udf" -> ((s, dir) => {
      reg(s, dir)
      // the engine's scalar-UDF registry surface (SURVEY.md §2.4): register
      // then call from SQL like any built-in
      s.udf.register("graft_slug",
        (name: String) => name.toLowerCase.replace(' ', '-') + "-" + name.length)
      s.sql("""
        SELECT p_partkey, graft_slug(p_name) AS slug
        FROM part ORDER BY p_partkey""")
    }),

    "q30_udaf" -> ((s, dir) => {
      reg(s, dir)
      // the typed-Aggregator UDAF registry surface (SURVEY §2.4 UDF row):
      // exact weighted mean — decimal sums keep it order-independent, so
      // the oracle can reproduce it with plain SQL arithmetic
      import org.apache.spark.sql.expressions.Aggregator
      import org.apache.spark.sql.{Encoder, Encoders}
      // exact integer-cents arithmetic: sums are order-independent Longs,
      // so partial aggregation at any parallelism (and the oracle's SQL
      // reformulation) lands on the identical double
      val wavg = new Aggregator[(Double, Double), (Long, Long), Double] {
        def zero = (0L, 0L)
        def reduce(b: (Long, Long), a: (Double, Double)) =
          (b._1 + Math.round(a._1 * 100) * Math.round(a._2 * 100),
           b._2 + Math.round(a._2 * 100))
        def merge(x: (Long, Long), y: (Long, Long)) = (x._1 + y._1, x._2 + y._2)
        def finish(b: (Long, Long)): Double =
          if (b._2 == 0) 0.0 else b._1.toDouble / (b._2.toDouble * 100.0)
        def bufferEncoder: Encoder[(Long, Long)] =
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
        def outputEncoder: Encoder[Double] = Encoders.scalaDouble
      }
      s.udf.register("graft_wavg", org.apache.spark.sql.functions.udaf(wavg))
      s.sql("""
        SELECT l_returnflag,
               ROUND(graft_wavg(l_extendedprice, l_quantity), 4) AS wavg_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    "x10_asof_join" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      graft.operators.AsOfJoin.asOf(purchases, clicks,
          keys = Seq("user_id"), timeCol = "ts", rightCols = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("value"),
          col("right_event_id"), col("right_value"))
        .orderBy("event_id")
    }),

    "etl_formats_roundtrip" -> ((s, dir) => {
      reg(s, dir)
      // S2/S3/S4/S5/S6/S7/S8 source connectors: write the nation table out
      // as csv, json, xml, orc, xlsx and line-text, read each back through
      // SourceReader, and 6-way-join — the output matches the original
      // table only if EVERY format round-trips both values and null handling
      val base = java.nio.file.Files.createTempDirectory("graft-fmt").toString
      // nation is a 25-row dimension: write each format as ONE file (32
      // near-empty part files per format would triple the read-back's file
      // listing + schema inference for no parallelism gain)
      val nation = s.table("nation").repartition(1)
      nation.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      nation.write.mode("overwrite").json(s"$base/json")
      nation.write.mode("overwrite").format("xml")
        .option("rowTag", "nation").save(s"$base/xml")
      nation.write.mode("overwrite").orc(s"$base/orc")
      graft.sinks.ExcelSink.write(nation, s"$base/xlsx", header = true)
      // S8 text is a line format: serialize key|name, split on read-back
      nation.select(concat_ws("|", col("n_nationkey"), col("n_name")))
        .write.mode("overwrite").text(s"$base/text")
      val c = SourceReader.read(s, graft.config.InputSpec("nation_csv", "csv", Some(s"$base/csv")))
        .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name_csv"))
      val j = SourceReader.read(s, graft.config.InputSpec("nation_json", "json", Some(s"$base/json")))
        .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name_json"))
      val x = SourceReader.read(s, graft.config.InputSpec("nation_xml", "xml", Some(s"$base/xml"),
          options = Map("rowTag" -> "nation")))
        .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name_xml"))
      val o = SourceReader.read(s, graft.config.InputSpec("nation_orc", "orc", Some(s"$base/orc")))
        .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name_orc"))
      val e = SourceReader.read(s, graft.config.InputSpec("nation_xlsx", "xlsx", Some(s"$base/xlsx"),
          header = true))
        .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name_xlsx"))
      val t = SourceReader.read(s, graft.config.InputSpec("nation_text", "text", Some(s"$base/text")))
        .select(split(col("value"), "\\|").getItem(0).cast("long").as("k"),
          split(col("value"), "\\|").getItem(1).as("name_text"))
      c.join(j, "k").join(x, "k").join(o, "k").join(e, "k").join(t, "k")
        .filter(col("name_csv") === col("name_json") && col("name_json") === col("name_xml")
          && col("name_xml") === col("name_orc") && col("name_orc") === col("name_xlsx")
          && col("name_xlsx") === col("name_text"))
        .select(col("k").as("n_nationkey"), col("name_csv").as("n_name"))
        .orderBy("n_nationkey")
    }),

    // ---- Tier A: validation operators (SURVEY.md §2.3) ----
    "v1_null_route" -> ((s, dir) => {
      reg(s, dir)
      val df = s.table("orders")
        .select(col("o_orderkey"), expr("NULLIF(o_orderstatus, 'O')").as("k"))
      Validations.nullKeyCheck(df, Seq("k")).bad.orderBy("o_orderkey")
    }),

    "v2_dedup" -> ((s, dir) => {
      reg(s, dir)
      Validations.dedup(s.table("lineitem"), Seq("l_orderkey"),
          Seq("l_linenumber", "l_partkey", "l_suppkey")) // full tiebreak: (okey,lineno) is not unique in the fixture
        .good.select("l_orderkey", "l_linenumber", "l_partkey")
        .orderBy("l_orderkey")
    }),

    // ---- Tier A: load strategies / sources ----
    "etl_scd2_merge" -> ((s, dir) => {
      reg(s, dir)
      val cust = s.table("customer")
      val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val ts1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      val dim = Scd2.initialize(cust, ts0)
      // staged batch: +100 balance for custkey%10==0; new keys for %97==0
      val updated = cust.withColumn("c_acctbal",
        when(pmod(col("c_custkey"), lit(10)) === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
      val fresh = cust.filter(pmod(col("c_custkey"), lit(97)) === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("c_name", concat(lit("NEW-"), col("c_name")))
      val staged = updated.unionByName(fresh)
      Scd2.merge(dim, staged, Seq("c_custkey"),
          Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), ts1)
        .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("c_acctbal"),
          date_format(col(Scd2.EffectiveFrom), "yyyy-MM-dd").as("eff_from"),
          coalesce(date_format(col(Scd2.EffectiveTo), "yyyy-MM-dd"), lit("open")).as("eff_to"),
          col(Scd2.IsCurrent).as("is_current"))
        .orderBy("c_custkey", "eff_from")
    }),

    "etl_meta_mapping" -> ((s, dir) => {
      reg(s, dir)
      // decimal(12,2) mapping exercised inside; final cast to double because
      // the driver's hash stringifies parquet decimals ("73.00") differently
      // from DuckDB decimals ("73.0") — r1 hash_match=false came from this.
      SourceReader.applyMetadataMapping(s.table("supplier"), Seq(
        ColumnMapping("s_suppkey", "supplier_id", "bigint"),
        ColumnMapping("s_name", "supplier_name", "string"),
        ColumnMapping("s_acctbal", "balance", "decimal(12,2)")
      )).withColumn("balance", col("balance").cast("double"))
        .orderBy("supplier_id")
    }),

    "etl_junk_chars" -> ((s, dir) => {
      reg(s, dir)
      val dirty = s.table("documents")
        .select(col("doc_id"),
          concat(col("text"), expr("CHR(7)"), lit("tail"), expr("CHR(1000)")).as("text"))
      SourceReader.stripJunkCharacters(dirty).orderBy("doc_id")
    }),

    // ---- X: dedup extension ops (SURVEY.md §2.9) ----
    "x1_exact_dedup" -> ((s, dir) => {
      reg(s, dir)
      Dedup.exactByContent(s.table("documents"), "text", "doc_id")
        .select("doc_id", "text").orderBy("doc_id")
    }),

    "x2_jaccard_pairs" -> ((s, dir) => {
      reg(s, dir)
      Dedup.ngramJaccardPairs(s.table("documents"), "text", "doc_id", n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Incremental dedup against the persistent fingerprint store: day 1
    // admits the first crawl slice, day 2's full recrawl admits ONLY
    // content never seen before (in-batch dupes keep the lowest doc_id).
    // The whole two-day flow replays in SQL via the portable fingerprint.
    "x49_incremental_dedup" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val store = java.nio.file.Files
        .createTempDirectory("fp_store").resolve("fps").toString
      Dedup.incrementalExact(docs.filter(col("doc_id") < 250),
        "text", "doc_id", store).count() // day-1 commit
      Dedup.incrementalExact(docs, "text", "doc_id", store) // day-2 recrawl
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // the near-dup twin: day-1 batch seeds a band-bucket store, the day-2
    // recrawl admits only docs near-duplicate of neither the retained
    // corpus nor a smaller batch sibling — the full band pipeline
    // (portable minhash + 55-bit band folds) replays in the oracle
    "x58_incremental_neardup" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val store = java.nio.file.Files
        .createTempDirectory("band_store").resolve("bands").toString
      Dedup.incrementalNearDup(docs.filter(col("doc_id") < 250),
        "text", "doc_id", store).count() // day-1 commit
      Dedup.incrementalNearDup(docs, "text", "doc_id", store) // day-2 recrawl
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // Asymmetric overlap coefficient (inter / min size): catches partial
    // copies Jaccard structurally misses when sizes differ; same single
    // capped co-shingle join as x2, different denominator
    "x48_containment_pairs" -> ((s, dir) => {
      reg(s, dir)
      Dedup.containmentPairs(s.table("documents"), "text", "doc_id",
          n = 3, threshold = 0.6)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 4).as("containment"))
        .orderBy("id_a", "id_b")
    }),

    // Per-doc benchmark n-gram overlap fraction (GPT-3-style contamination
    // analysis): surfaces partial benchmark leaks that exact-fingerprint
    // decontamination (x23/x25) cannot see, with the leak size quantified
    "x47_contamination" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      TextAnalysis.contaminationReport(docs, bench, "text", "doc_id", n = 3)
        .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
          col("n_contaminated").cast("long").as("n_contaminated"),
          col("overlap_frac"))
        .orderBy("doc_id")
    }),

    // eval hygiene for a PER-DOCUMENT split: which train docs share
    // content with the held-out test side? Near-dup pairs straddling a
    // plain hash split surface here — the leakage x57's cluster-keyed
    // split exists to prevent
    "x66_split_contamination" -> ((s, dir) => {
      reg(s, dir)
      // staged: the split assignment feeds both the train and test sides
      // of the contamination join — truncate lineage so the hash split
      // (and its upstream scan) evaluates once, not per consumer
      val split = graft.util.Staging.LocalCheckpoint.stage(
        Sampling.trainTestSplit(s.table("documents"), "doc_id",
          testFraction = 0.1, validationFraction = 0.1), "x66-split")
      val train = split.filter(col("split") === "train")
      val testSide = split.filter(col("split") === "test")
      TextAnalysis.contaminationReport(train, testSide, "text", "doc_id", n = 3)
        .filter(col("n_contaminated") > 0)
        .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
          col("n_contaminated").cast("long").as("n_contaminated"),
          col("overlap_frac"))
        .orderBy("doc_id")
    }),

    // Substring-level dedup — the modality document-level Jaccard misses:
    // every 10th doc gets the same 12-token boilerplate tail, and the
    // operator must emit exactly the [tail start, tail end) extent per
    // marked doc (5 consecutive hit windows at L=8 merge into one span),
    // plus any organic repeated 8-grams, which the oracle replays
    // identically by grouping on the gram itself.
    "x52_repeated_passages" -> ((s, dir) => {
      reg(s, dir)
      val marked = s.table("documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(col("text"),
            lit(" the quick brown fox jumps over the lazy dog again and again")))
          .otherwise(col("text")).as("text"))
      Dedup.repeatedPassages(marked, "text", "doc_id", windowTokens = 8)
        .select(col("doc_id"), col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"),
          col("span_tokens").cast("long").as("span_tokens"),
          col("n_windows").cast("long").as("n_windows"))
        .orderBy("doc_id", "start_tok")
    }),
    "x77_winnowing" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.winnow(s.table("documents"), "text", "doc_id", n = 3, w = 4)
        .orderBy("doc_id", "pos")
    }),

    // Passage-level decontamination: whole-doc fingerprints (x23/x25) and
    // gram counts (x47) can't LOCALIZE a leak — this emits the exact spans
    // to mask. Benchmark docs carry an 11-token canary passage; marked
    // training docs quote it verbatim, and the operator must emit exactly
    // the [quote start, quote end) extent per marked doc (plus organic
    // 8-gram overlaps with benchmark texts, replayed identically).
    "x53_passage_decontaminate" -> ((s, dir) => {
      reg(s, dir)
      val (train, bench) = passageLeakFixture(s)
      TextAnalysis.passageDecontaminate(train, bench, "text", "doc_id",
          windowTokens = 8)
        .select(col("doc_id"), col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"),
          col("span_tokens").cast("long").as("span_tokens"),
          col("n_windows").cast("long").as("n_windows"))
        .orderBy("doc_id", "start_tok")
    }),

    // The surgery step on x53's extents: leaks are CUT, not dropped with
    // their documents — masked docs rebuild from surviving tokens, clean
    // docs pass through byte-identical.
    "x55_mask_spans" -> ((s, dir) => {
      reg(s, dir)
      val (train, bench) = passageLeakFixture(s)
      val ext = TextAnalysis.passageDecontaminate(train, bench, "text",
        "doc_id", windowTokens = 8)
      TextAnalysis.maskSpans(train, ext, "text", "doc_id")
        .select(col("doc_id"), col("masked"))
        .orderBy("doc_id")
    }),

    // Oracle = the exact n-gram-Jaccard pairs (same SQL as x2): the LSH
    // stage only GENERATES candidates, the verify stage keeps exactly the
    // pairs with true jaccard ≥ threshold, and on this fixture (pair
    // jaccards well above 0.5) banding recall is 1 — checked, not assumed.
    "x3_minhash_neardup" -> ((s, dir) => {
      reg(s, dir)
      Dedup.minhashNearDupPairs(s.table("documents"), "text", "doc_id",
          n = 3, k = 32, bands = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Portable-hash simhash (PolyHash56 base + universal-parity bits) means
    // the oracle can rebuild every signature in SQL and replay the whole
    // hamming-pair computation exactly.
    "x4_simhash_neardup" -> ((s, dir) => {
      reg(s, dir)
      Dedup.simhashNearDupPairs(s.table("documents"), "text", "doc_id", maxHamming = 8)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "x5_cosine_topk" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
          "vec_id", "q_id", "embedding", k = 10)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),

    // dense-retriever hard negatives: top-k excluding labeled positives,
    // which are anti-joined BEFORE ranking so they never consume slots
    "x65_hard_negatives" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val positives = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), (col("vec_id") + 100).as("vec_id"))
      Similarity.hardNegatives(emb, queries, positives,
          "vec_id", "q_id", "embedding", k = 10)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),

    // The seeded hyperplane buckets make a general top-k unverifiable, so
    // the checked contract is the one LSH actually guarantees: a query
    // IDENTICAL to a corpus vector lands in its twin's bucket (equal
    // signatures, recall 1) and the twin's cosine 1.0 outranks every
    // organic candidate (max ≈ 0.51) — top-1 is deterministic.
    "x6_lsh_topk" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
        .select((col("vec_id") + 100000L).as("q_id"), col("embedding"))
      Similarity.lshTopK(emb, q, "vec_id", "q_id", "embedding",
          k = 1, dim = 64, planes = 6)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id")
    }),

    // Oracle-checkable despite the LSH buckets: identical vectors always
    // share a hyperplane signature (recall 1 for exact dups), and the 0.99
    // threshold admits ONLY the injected dups (max organic cosine ≈ 0.51),
    // so the output is exactly the injected pair set.
    "x7_cosine_neardup" -> ((s, dir) => {
      reg(s, dir)
      // The fixture's clusters are loose (max pairwise cosine ≈ 0.51), so
      // inject exact duplicates under shifted ids — the operator must find
      // precisely those pairs via its LSH buckets.
      val emb = s.table("embeddings")
      val dupes = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
        .withColumn("vec_id", col("vec_id") + 100000L)
      Similarity.cosineNearDupPairs(emb.unionByName(dupes), "vec_id", "embedding",
          threshold = 0.99, dim = 64, planes = 6)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup-style semantic near-dup: deterministic k-means cells bound
    // the pairwise cosine verify — unlike the seeded hyperplane buckets of
    // x7, the WHOLE operator replays in SQL (cells, join, cosines), so the
    // oracle checks the full semantics, not just an injected-pair contract.
    "x54_semantic_neardup" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val dupes = emb.filter(pmod(col("vec_id"), lit(7)) === 0)
        .withColumn("vec_id", col("vec_id") + 100000L)
      val centroids = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.semanticNearDupPairs(emb.unionByName(dupes), centroids,
          "vec_id", "centroid_id", "embedding", threshold = 0.99)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    "x11_ivf_assign" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val centroids = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.assignToCentroids(emb, centroids, "vec_id", "centroid_id", "embedding")
        .select(col("vec_id"), col("label"), col("cell"))
        .orderBy("vec_id")
    }),

    // The deterministic ANN scale path (IVF probe: rank only the nprobe
    // nearest cells) — unlike hyperplane LSH, exactly replayable in SQL.
    "x15_ivf_topk" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val centroids = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") >= 490 && col("vec_id") < 500)
        .select(col("vec_id").as("q_id"), col("embedding"))
      Similarity.ivfTopK(emb, queries, centroids,
          "vec_id", "q_id", "centroid_id", "embedding", k = 10, nprobe = 3)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),

    // The MATERIALIZED IVF path, driven end-to-end from ONE JSON config:
    // corpus written hive-partitioned by cell (ivfBuildLayout step), then
    // probed with partition pruning (ivfProbe step) — non-probed cell
    // directories never open (PartitionFilters plan asserted in
    // ExtensionOpsSpec, excerpt in PLANS.md). Same parameters as x15,
    // same oracle by construction: the layout changes WHERE the cell
    // restriction applies (scan vs join), never the result. The former
    // x46 entry invoked the same two operators directly in Scala — merged
    // here in r13 (the x23→x25 registry-flattening template) so the
    // config-dispatch surface of the similarity-maintenance family is
    // what the oracle checks; the direct path stays covered by
    // ExtensionOpsSpec's layout≡inline equality suites.
    "etl_ivf_config" -> ((s, dir) => {
      reg(s, dir)
      val layout = java.nio.file.Files
        .createTempDirectory("ivf_cfg").resolve("embeddings_by_cell").toString
      val cfg = graft.config.JobConfig.parse(
        s"""{
           |"jobName": "ivf_from_config",
           |"inputs": [{"dataFrameName": "emb", "format": "parquet",
           |  "path": "$dir/embeddings.parquet"}],
           |"transformations": [
           |  {"functionName": "centroids", "outputDFName": "cents",
           |   "sqlQuery": "SELECT vec_id AS centroid_id, embedding FROM emb WHERE vec_id < 10"},
           |  {"functionName": "queries", "outputDFName": "qs",
           |   "sqlQuery": "SELECT vec_id AS q_id, embedding FROM emb WHERE vec_id >= 490 AND vec_id < 500"},
           |  {"functionName": "ivfBuildLayout", "outputDFName": "layout_stats",
           |   "options": {"input": "emb", "centroids": "cents", "path": "$layout"},
           |   "countValidation": 1},
           |  {"functionName": "ivfProbe", "outputDFName": "probed",
           |   "options": {"input": "qs", "centroids": "cents", "path": "$layout",
           |     "k": "10", "nprobe": "3"}},
           |  {"functionName": "project",
           |   "sqlQuery": "SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine, CAST(rank AS BIGINT) AS rank FROM probed ORDER BY q_id, rank",
           |   "outputDFName": "probe_out", "countValidation": 1}]
           |}""".stripMargin)
      new graft.run.Orchestrator(s).run(cfg)
    }),

    // Incremental IVF maintenance: base layout from the first 300
    // vectors, the rest APPENDED batch-wise against the same centroids —
    // the live-store ingest path. Probe result must equal x15/x46's full
    // build (same oracle by construction): assignment is per-row
    // deterministic, so WHERE a row was written never changes WHAT the
    // probe returns.
    "x143_ivf_incremental" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val centroids = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") >= 490 && col("vec_id") < 500)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val layout = java.nio.file.Files
        .createTempDirectory("ivf_inc").resolve("embeddings_by_cell").toString
      Similarity.writeIvfLayout(emb.filter(col("vec_id") < 300), centroids,
        "vec_id", "centroid_id", "embedding", layout)
      Similarity.appendToIvfLayout(emb.filter(col("vec_id") >= 300), centroids,
        "vec_id", "centroid_id", "embedding", layout)
      Similarity.ivfTopKFromLayout(s, layout, queries, centroids,
          "vec_id", "q_id", "centroid_id", "embedding", k = 10, nprobe = 3)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),

    // Per-group top-k as a bounded-heap aggregate (functions.TopKAgg):
    // like the WindowGroupLimit plan the optimizer builds for an
    // adjacent rank filter, ≤ k entries per (map task × group) reach
    // the shuffle — but with a hash-grouped heap instead of a map-side
    // sort + post-shuffle window sort, and composable with sibling
    // aggregates in the same groupBy. Exact and deterministic (part_key
    // tie-break); the oracle IS the window formulation it replaces.
    "x144_grouped_topk" -> ((s, dir) => {
      reg(s, dir)
      s.table("part")
        .groupBy(col("p_brand"))
        .agg(TopKAgg.topKBy(col("p_retailprice"),
          col("p_partkey").cast("long"), 3).as("tk"))
        .select(col("p_brand"), explode(col("tk")).as("e"))
        .select(col("p_brand"), col("e.ord").as("retailprice"),
          col("e.item").as("part_key"))
        .orderBy(col("p_brand"), col("retailprice").desc, col("part_key"))
    }),

    // Market-basket association rules over order baskets: pairwise
    // support/confidence/lift with exact BIGINT supports (ratios are
    // single IEEE divisions of integer products — bit-deterministic,
    // hash-compared unrounded). The minSupport filter prunes the pair
    // table before any item-support join runs.
    "x145_association_rules" -> ((s, dir) => {
      reg(s, dir)
      Graph.associationRules(
          s.table("lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy("ante", "cons")
    }),

    // CMS inner-product join-size estimation: predict |lineitem ⋈
    // lineitem on l_suppkey| (the self-join blow-up check) from two
    // sketch scans, never by running the join; exact Σc² alongside for
    // the oracle's upper-bound + tightness contract
    "x146_join_size_estimate" -> ((s, dir) => {
      reg(s, dir)
      val li = s.table("lineitem")
      val sk = Sketches.cmsBuild(li, "l_suppkey", depth = 4, widthBits = 8)
      val est = Sketches.cmsJoinSizeEstimate(sk, sk, depth = 4, widthBits = 8)
      val exact = li.groupBy("l_suppkey").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).cast("long").as("exact_join_size"))
      est.crossJoin(broadcast(exact))
        .select(col("est_join_size"), col("exact_join_size"),
          (col("est_join_size").cast("double") /
            col("exact_join_size").cast("double")).as("ratio"))
    }),

    // exact distinct via word-aligned bitmaps: one row per occupied
    // 64-id word, bit_or partial-combines map-side, popcount sums to the
    // EXACT count — the lossless sibling of x128's HLL when ids are
    // integers; n_words is the store's size (compactness audit)
    "x147_bitmap_distinct" -> ((s, dir) => {
      reg(s, dir)
      val words = Sketches.bitmapWords(s.table("lineitem"),
        Seq("l_returnflag"), "l_partkey")
      Sketches.bitmapDistinct(words, Seq("l_returnflag"))
        .join(s.table("lineitem").groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").cast("long").as("exact")),
          Seq("l_returnflag"))
        .select(col("l_returnflag"), col("distinct_cnt"), col("n_words"),
          col("exact"))
        .orderBy("l_returnflag")
    }),

    // day-over-day returning users from persisted daily bitmaps: the
    // retention question answered by a word-keyed join + popcount of the
    // AND — never re-joining raw events; exact, unlike any sketch path
    "x148_bitmap_retention" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events").withColumn("day", to_date(col("ts")))
      val words = Sketches.bitmapWords(ev, Seq("day"), "user_id")
      val active = Sketches.bitmapDistinct(words, Seq("day"))
        .select(col("day"), col("distinct_cnt").as("active"))
      val prev = words.select(date_add(col("day"), 1).as("day"), col("__w"),
        col("__bits").as("__prev"))
      val ret = words.join(prev, Seq("day", "__w"))
        .groupBy("day")
        .agg(sum(bit_count(col("__bits").bitwiseAND(col("__prev"))))
          .cast("long").as("returning"))
      active.join(ret, Seq("day"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("active"),
          coalesce(col("returning"), lit(0L)).as("returning"))
        .orderBy("day")
    }),

    // MMR diversified re-ranking between first-stage retrieval and the
    // context window: greedy λ·rel − (1−λ)·max-sim-to-selected over each
    // query's top-12 candidate pool, k=5 picks — near-duplicate passages
    // stop wasting prompt slots; the greedy trajectory is deterministic
    // (id tie-break) and replayed round-by-round in the oracle
    "x149_mmr_diversify" -> ((s, dir) => {
      reg(s, dir)
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.dotProduct
      val emb = s.table("embeddings")
      val corpus = emb.filter(col("vec_id") < 200)
        .select(col("vec_id").as("id"), col("embedding"))
      val qs = emb.filter(col("vec_id") >= 490 && col("vec_id") < 500)
        .select(col("vec_id").as("q_id"), col("embedding").as("__qv"))
      val scored = corpus.crossJoin(broadcast(qs))
        .withColumn("rel", dotProduct(col("embedding"), col("__qv")))
      val w = Window.partitionBy("q_id").orderBy(col("rel").desc, col("id"))
      val cands = scored.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 12)
        .select(col("q_id"), col("id"), col("rel"), col("embedding"))
      Similarity.mmrSelect(cands, "q_id", "id", "rel", "embedding",
          k = 5, lambda = 0.7)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("id"),
          col("rel"), col("mmr_score"))
        .orderBy("q_id", "rank")
    }),

    // incremental view maintenance for an append-only join: the rows a
    // refresh ADDS are ΔA⋈(B_old∪ΔB) ∪ A_old⋈ΔB — deltas broadcast, the
    // stored tables never join each other; the oracle derives the same
    // delta independently as (full join) EXCEPT ALL (old join)
    "x150_incremental_join" -> ((s, dir) => {
      reg(s, dir)
      import graft.operators.IncrementalJoin
      val o = s.table("orders")
      val l = s.table("lineitem")
      val aNew = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val aOld = o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      val bNew = l.filter(col("l_linenumber") >= 4)
      val bOld = l.filter(col("l_linenumber") < 4)
      IncrementalJoin.deltaJoinAppend(aOld, aNew, bOld, bNew,
          "o_orderkey", "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).cast("long").as("delta_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("delta_qty"))
        .orderBy("o_orderpriority")
    }),

    // the HDR persist-and-merge pattern as an oracle row (x128's shape
    // for histograms): per-day bucket rows count-sum into the full
    // period and must answer the same quantiles as the direct sketch
    "x175_hdr_daily_merge" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events")
        .withColumn("day", to_date(col("ts")))
        .withColumn("v", floor(col("value") * 100))
      val daily = Sketches.hdrHistogram(ev, Seq("event_type", "day"), "v", p = 5)
      val merged = Sketches.hdrMerge(daily.drop("day"), Seq("event_type"))
      Sketches.hdrQuantiles(merged, Seq("event_type"),
          Seq("0.5", "0.9", "0.99"), p = 5)
        .select(col("event_type"), col("q"), col("n"),
          col("q_value").cast("long").as("q_value"))
        .orderBy("event_type", "q")
    }),

    // Holt-Winters triple smoothing: x168's Holt plus a 7-slot seasonal
    // queue — two-period classical init, fold from observation 15;
    // honest pre-day fitted values, IEEE-identical array-state folds
    "x178_holt_winters" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.holtWintersForecast(s.table("events"), "ts",
          "event_type", "value", period = 7)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x"), col("level"), col("trend"), col("seasonal"),
          col("fitted"), col("forecast_next"))
        .orderBy("event_type", "day")
    }),

    // personalized PageRank: x99's integer fixpoint with the teleport
    // (and dangling restart) concentrated on a seed set — proximity-to-
    // seeds scores for related-item recommendation; same staged-edge
    // no-reshuffle discipline, seed test is a literal IN, never a join
    "x179_personalized_pagerank" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.personalizedPageRank(e, "src", "dst", seeds = Seq(1L, 2L, 3L),
          iters = 4)
        .orderBy("node")
    }),

    // HyperBall neighborhood function: per-node HLL balls max-merged
    // along edges for 3 rounds — distance structure (reach growth,
    // effective diameter) without all-pairs BFS; register arithmetic is
    // engine-exact so even the ESTIMATES hash-match the oracle
    "x180_hyperball_reach" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.hyperBall(e, "src", "dst", maxHops = 3)
        .orderBy("h")
    }),

    // isotonic (PAVA) calibration: per-bin event rates projected onto
    // the monotone cone with exact-integer pooling — the probability-
    // calibration step between a ranking score and a threshold decision
    "x197_isotonic_calibration" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events")
        .withColumn("label", (col("user_id") + col("event_id")) % 3 === 0)
      Profiler.isotonicCalibrate(ev, "value", "label", nBins = 10,
          lo = 0.0, hi = 100.0)
        .orderBy("bin")
    }),

    // exact Spearman: Pearson over integer doubled-midranks (the MWU
    // identity), DECIMAL moments, one IEEE chain — the monotone-
    // dependence screen next to x107's linear correlations
    "x196_spearman" -> ((s, dir) => {
      reg(s, dir)
      val li = s.table("lineitem")
        .select(floor(col("l_quantity")).as("xq"),
          floor(col("l_extendedprice") * 100).as("yc"))
      Profiler.spearman(li, "xq", "yc")
    }),

    // per-group quantile transform: rank/(n+1) uniform marginals via
    // the per-group two-phase rank — standardize's outlier-proof
    // sibling, deterministic under the (value, id) total order
    "x194_quantile_transform" -> ((s, dir) => {
      reg(s, dir)
      val o = s.table("orders")
        .withColumn("cents", floor(col("o_totalprice") * 100))
      Profiler.quantileTransform(o, Seq("o_orderpriority"), "cents",
          "o_orderkey")
        .orderBy("o_orderkey")
    }),

    // exact ACF at lags 1..7 in cross-multiplied integers — the
    // period-detection readout behind the seasonal ops' period choice
    "x195_autocorrelation" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.autocorrelation(s.table("events"), "ts", "event_type",
          "value", maxLag = 7)
        .orderBy("event_type", "lag")
    }),

    // Mann-Whitney U with exact midrank-tie arithmetic (doubled rank
    // sums stay integer), tie-corrected z, rank-biserial effect size —
    // x185's stochastic-dominance sibling on the same parallel cumsum
    "x193_mann_whitney_u" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events")
        .withColumn("cents", floor(col("value") * 100))
      Profiler.mannWhitneyU(ev, "cents", "event_type", "click", "view")
    }),

    // one-way ANOVA: does order priority explain order value at all —
    // F and eta^2 from exact DECIMAL moments on one shuffle
    "x191_anova_f" -> ((s, dir) => {
      reg(s, dir)
      val o = s.table("orders")
        .withColumn("cents", floor(col("o_totalprice") * 100))
      Profiler.anovaF(o, "o_orderpriority", "cents")
    }),

    // Cramer's V: bounded [0,1] categorical association, comparable
    // across pairs — chi^2 over the FULL r x c grid (empty cells
    // contribute e), DECIMAL-quantized cell terms
    "x192_cramers_v" -> ((s, dir) => {
      reg(s, dir)
      Profiler.cramersV(s.table("customer"), "c_mktsegment", "c_nationkey")
    }),

    // Hill tail index of the token-frequency head: the "is the corpus
    // still Zipfian" health check — top-k order statistics by a total
    // order, ln terms DECIMAL-quantized, one division
    "x190_hill_tail_index" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.hillTailIndex(s.table("documents"), "text", k = 20)
    }),

    // full DBSCAN on the x162 grid: grid-join neighbors, core test,
    // connected components over core-core edges, min-core border
    // assignment — deterministic cluster ids, no all-pairs stage
    "x189_dbscan_clusters" -> ((s, dir) => {
      reg(s, dir)
      val pts = s.table("customer").select(col("c_custkey").as("id"),
        pmod(col("c_custkey") * 37, lit(499)).as("x"),
        pmod(col("c_custkey") * 101, lit(503)).as("y"))
      graft.x.Spatial.dbscan(pts, "id", "x", "y", radius = 12, minPts = 4)
        .orderBy("id")
    }),

    // Markov next-event baseline with a TEMPORAL train/test split:
    // argmax successor table trained before Jan 25, scored after —
    // the eval-harness shape (time split, coverage reported) that makes
    // sequence-model baselines honest
    "x188_next_event_accuracy" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.nextEventAccuracy(s.table("events"), "user_id", "ts",
          "event_id", "event_type", cutoff = "2024-01-25")
    }),

    // Adamic-Adar link prediction on the co-purchase graph: distance-2
    // non-edges scored by 1/ln(deg) over common neighbors (DECIMAL-
    // quantized terms), hub centers capped (their terms -> 0 anyway),
    // deterministic (aa DESC, a, b) top-100
    "x187_adamic_adar" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.adamicAdar(e, "src", "dst", maxCenterDegree = 1000, topN = 100)
    }),

    // per-priority revenue Gini: rank-formula concentration in exact
    // DECIMAL moments, per-group ranks from range-partitioned carry-ins
    // (no group ever sorts on one task)
    "x186_gini_concentration" -> ((s, dir) => {
      reg(s, dir)
      val o = s.table("orders")
        .withColumn("cents", floor(col("o_totalprice") * 100))
      Profiler.gini(o, Seq("o_orderpriority"), "cents", "o_orderkey")
        .orderBy("o_orderpriority")
    }),

    // exact two-sample KS: max CDF gap between click and view value
    // distributions in cross-multiplied integers over a parallel
    // cumsum (no single-partition sort), Smirnov p-value at the end
    "x185_ks_test" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events")
        .withColumn("cents", floor(col("value") * 100))
      Profiler.ksTest(ev, "cents", "event_type", "click", "view")
    }),

    // mutual information + NMI between segment and nation: per-cell
    // double chains quantized to DECIMAL(18,8) so the cell sum is
    // association-free — the dependence profile for feature selection
    "x184_mutual_information" -> ((s, dir) => {
      reg(s, dir)
      Profiler.mutualInformation(s.table("customer"),
        "c_mktsegment", "c_nationkey")
    }),

    // TextRank keywords: PageRank's integer fixpoint over the adjacency
    // co-occurrence graph with PolyHash56 word ids — tokenize, hash,
    // rank, top-20 by (rank, word); composed entirely from engine
    // primitives the oracle already replays exactly
    "x183_textrank_keywords" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.textRankKeywords(s.table("documents"), "text", "doc_id",
          iters = 4, topK = 20)
    }),

    // two-feature OLS price model: exact DECIMAL(38,0) moments on one
    // shuffle, Cramer's 3x3 solve as a fixed double expression — x109's
    // trend widened to multiple regression with R^2
    "x182_ols2_price_model" -> ((s, dir) => {
      reg(s, dir)
      val li = s.table("lineitem").select(col("l_returnflag"),
        floor(col("l_quantity")).as("x1"),
        floor(col("l_discount") * 100).as("x2"),
        floor(col("l_extendedprice") * 100).as("y"))
      Profiler.ols2(li, "x1", "x2", "y", Seq("l_returnflag"))
        .orderBy("l_returnflag")
    }),

    // Apriori level-3: frequent triples generated only from frequent
    // pairs (downward closure — lossless prune), counted only after the
    // candidate semi-join; x145's basket caps and exact supports
    "x181_frequent_triples" -> ((s, dir) => {
      reg(s, dir)
      Graph.frequentTriples(
          s.table("lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minSupport = 2)
        .orderBy("x", "y", "z")
    }),

    // RFM segmentation: exact equal-count tiling by the DISTRIBUTED
    // global rank (no single-partition NTILE window anywhere); scores
    // 1..5 higher=better, standard marketing labels from the triple
    "x177_rfm_segments" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.rfmSegments(s.table("orders"), "o_custkey",
          "o_orderdate", "o_totalprice", asOf = "1998-12-31")
        .orderBy("id")
    }),

    // t-closeness audit (Li et al. 2007) — the distribution-leak check
    // k-anonymity and l-diversity miss: a quasi-group whose SENSITIVE
    // distribution diverges from the global one leaks even when large
    // and diverse. Ordered EMD in EXACT cross-multiplied integers; one
    // IEEE division per group at the end
    "x176_t_closeness" -> ((s, dir) => {
      reg(s, dir)
      Privacy.tClosenessAudit(s.table("customer"), Seq("c_mktsegment"),
          "c_nationkey", threshold = 0.15)
        .orderBy("c_mktsegment")
    }),

    // EXACT 7-day rolling distinct users from the daily bitmap store —
    // x138's HLL answers made lossless: day d ORs the word rows of
    // [d−6, d] (≤ 7·universe/64 rows per day), popcount sums the truth
    "x174_bitmap_rolling_distinct" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events").withColumn("day", to_date(col("ts")))
      val words = Sketches.bitmapWords(ev, Seq("day"), "user_id")
      val days = words.select(col("day").as("d")).distinct()
      val rolled = days.join(words,
          col("day") <= col("d") && col("day") >= date_sub(col("d"), 6))
        .groupBy(col("d"), col("__w"))
        .agg(expr("bit_or(__bits)").as("__bits"))
      Sketches.bitmapDistinct(rolled, Seq("d"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("distinct_cnt").as("rolling_users"), col("n_words"))
        .orderBy("day")
    }),

    // top pre-conversion paths with per-path conversion rates — the
    // qualitative companion to x171's removal effects, same absorption
    // rule, deterministic (users DESC, path) top-N cut
    "x173_conversion_paths" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.conversionPaths(s.table("events"), "user_id", "ts",
          "event_id", "event_type", convType = "purchase",
          maxLen = 4, topN = 15)
        .orderBy(col("users").desc, col("path"))
    }),

    // deterministic Poisson bootstrap: resampling as ONE pass of exact
    // integer hash-weights — the error bar a sampled metric should
    // carry, replayable down to the resampling plan itself
    "x172_bootstrap_ci" -> ((s, dir) => {
      reg(s, dir)
      Profiler.bootstrapMeanCi(s.table("lineitem"), Seq("l_returnflag"),
          "l_quantity",
          concat(col("l_orderkey"), lit(":"), col("l_linenumber")), reps = 32)
        .orderBy("l_returnflag")
    }),

    // Markov removal-effect attribution: journeys as a first-order
    // chain, channel credit = conversion-probability drop when the
    // channel is knocked out — exact 10^12-scaled integer fixed point,
    // the principled sibling of x127's last-touch
    "x171_markov_attribution" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.markovAttribution(s.table("events"), "user_id", "ts",
          "event_id", "event_type", convType = "purchase", iters = 12)
        .orderBy("channel")
    }),

    // Kaplan–Meier churn curve with censoring: still-active users
    // contribute at-risk time without counting as churn — the mistake
    // "avg lifetime of churned users" bakes in; prefix product fold
    "x170_kaplan_meier" -> ((s, dir) => {
      reg(s, dir)
      val durs = EventAnalytics.conversionDurations(s.table("events"),
        "user_id", "ts", "event_type", "purchase")
      EventAnalytics.kaplanMeier(durs, "dur", "event")
        .orderBy("t_days")
    }),

    // the x151 sketch applied in the INVERSE direction: per-row
    // percentile lookup against broadcast cumulative bucket rows — a
    // history-sized question answered without touching history
    "x169_hdr_cdf_lookup" -> ((s, dir) => {
      reg(s, dir)
      val li = s.table("lineitem")
        .withColumn("price_usd", floor(col("l_extendedprice")))
      val hist = Sketches.hdrHistogram(li, Seq("l_returnflag"), "price_usd", p = 5)
      val probes = li.filter(pmod(col("l_orderkey"), lit(100)) === 0)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("price_usd"))
      Sketches.hdrCdf(hist, probes, Seq("l_returnflag"), "price_usd", p = 5)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("long").as("n_probes"),
          sum(col("cdf").cast("decimal(18,9)")).cast("double").as("cdf_sum"),
          min("cdf").as("cdf_min"), max("cdf").as("cdf_max"))
        .orderBy("l_returnflag")
    }),

    // Holt level+trend smoothing: the EWMA that doesn't lag a trending
    // series; honest fitted values (each day predicted from pre-day
    // state) via array-state prefix folds
    "x168_holt_forecast" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.holtForecast(s.table("events"), "ts", "event_type",
          "value")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x"), col("level"), col("trend"), col("fitted"),
          col("forecast_next"))
        .orderBy("event_type", "day")
    }),

    // cohort LTV curves: retention's monetized sibling — cumulative
    // purchase revenue per cohort week, diluted by FULL cohort size
    // (no survivorship bias); decimal running totals, one division/row
    "x167_cohort_ltv" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.cohortLtv(s.table("events"), "user_id", "ts", "value",
          col("event_type") === "purchase")
        .orderBy("cohort_week", "week_offset")
    }),

    // CUSUM changepoints: slack-adjusted one-sided cumulative sums —
    // the small-persistent-shift detector a per-day z-score misses;
    // prefix folds over the tiny per-series day array
    "x166_cusum_changepoints" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.cusumChangepoints(s.table("events"), "ts", "event_type",
          "value")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("x"), col("s_plus"), col("s_minus"), col("alarm"))
        .orderBy("event_type", "day")
    }),

    // frequency-ordered dictionary encoding (vocab building): dense ids
    // via range-partitioned ranking + per-range offsets — never a global
    // single-partition row_number; id 0 = most frequent token
    "x165_dictionary_encode" -> ((s, dir) => {
      reg(s, dir)
      val toks = s.table("documents").select(
        explode(expr("filter(split(lower(trim(text)), '\\\\s+'), w -> length(w) > 0)"))
          .as("token"))
      Profiler.dictionaryEncode(toks, "token", minCount = 5)
        .orderBy("id")
    }),

    // classical additive decomposition: 7-day centered DECIMAL trend,
    // weekday-mean seasonal, residual — what anomaly z-scores should
    // consume instead of the raw series (Monday dips aren't incidents)
    "x164_seasonal_decompose" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.seasonalDecompose(s.table("events"), "ts", "event_type",
          "value")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("v"), col("trend"), col("seasonal"), col("residual"))
        .orderBy("event_type", "day")
    }),

    // multi-source BFS hop distance (seed-expansion primitive): per
    // round one frontier ⋈ staged-edges join — the x99/x134 "edge side
    // never re-shuffles" discipline — plus a visited anti-join; dist is
    // the true BFS layer (first-reach wins)
    "x163_bfs_hops" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.bfsHops(e, "src", "dst", seeds = Seq(1L, 2L, 3L), maxHops = 3)
        .orderBy("node")
    }),

    // DBSCAN's noise split over the grid-bucketed neighbor join: points
    // with < minPts neighbors within the radius are outliers — one
    // O(n·density) pair frame + one id-keyed count, never all-pairs
    "x162_density_outliers" -> ((s, dir) => {
      reg(s, dir)
      val pts = s.table("customer").select(col("c_custkey").as("id"),
        pmod(col("c_custkey") * 37, lit(499)).as("x"),
        pmod(col("c_custkey") * 101, lit(503)).as("y"))
      graft.x.Spatial.densityOutliers(pts, "id", "x", "y",
          radius = 12, minPts = 3)
        .orderBy("id")
    }),

    // Flesch / Flesch–Kincaid readability: vowel-group syllables with a
    // 1-per-word floor, sentence runs floored at 1 — regexp-count
    // integer arithmetic + two fixed IEEE chains, zero shuffles
    "x161_readability" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.readabilityScores(s.table("documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    // sketch cube: the (type, day) HLL registers built ONCE, every
    // coarser grouping set — per-type, per-day, global — derived by
    // max-merging register rows; a 100 TB distinct-count lattice costs
    // one scan + three tiny re-aggregations, never a GROUPING SETS
    // rescan per level
    "x160_hll_gset_distinct" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events")
        .withColumn("day", date_format(to_date(col("ts")), "yyyy-MM-dd"))
      val regs = Sketches.hllRegisters(ev, Seq("event_type", "day"), "user_id")
      def estOf(merged: DataFrame, gcols: Seq[String]) =
        Sketches.hllEstimateFromRegisters(merged, gcols)
      val fine = estOf(regs, Seq("event_type", "day"))
        .select(col("event_type"), col("day"), col("est"))
      val byType = estOf(regs.groupBy("event_type", "__j")
          .agg(max("__mj").as("__mj")), Seq("event_type"))
        .select(col("event_type"), lit("ALL").as("day"), col("est"))
      val byDay = estOf(regs.groupBy("day", "__j")
          .agg(max("__mj").as("__mj")), Seq("day"))
        .select(lit("ALL").as("event_type"), col("day"), col("est"))
      val total = estOf(regs.groupBy("__j").agg(max("__mj").as("__mj")),
          Seq.empty)
        .select(lit("ALL").as("event_type"), lit("ALL").as("day"), col("est"))
      fine.unionByName(byType).unionByName(byDay).unionByName(total)
        .orderBy("event_type", "day")
    }),

    // audience-overlap matrix from the x147 bitmap stores: |A ∩ B| is a
    // word-keyed join + popcount of the AND — the id lists are never
    // materialized or re-joined; Jaccard falls out with the per-segment
    // distinct counts. Exact, unlike the KMV/HLL overlap estimates
    "x159_audience_overlap" -> ((s, dir) => {
      reg(s, dir)
      val words = Sketches.bitmapWords(s.table("events"), Seq("event_type"),
        "user_id")
      val sizes = Sketches.bitmapDistinct(words, Seq("event_type"))
        .select(col("event_type"), col("distinct_cnt"))
      val pairs = Sketches.bitmapIntersect(words, words,
          Seq("event_type"), Seq("event_type"))
        .filter(col("a_event_type") < col("b_event_type"))
        .filter(col("overlap_cnt") > 0)
      pairs
        .join(sizes.select(col("event_type").as("a_event_type"),
          col("distinct_cnt").as("__na")), Seq("a_event_type"))
        .join(sizes.select(col("event_type").as("b_event_type"),
          col("distinct_cnt").as("__nb")), Seq("b_event_type"))
        .select(col("a_event_type"), col("b_event_type"), col("overlap_cnt"),
          (col("overlap_cnt").cast("double") /
            (col("__na") + col("__nb") - col("overlap_cnt")).cast("double"))
            .as("jaccard"))
        .orderBy("a_event_type", "b_event_type")
    }),

    // Benford first-digit audit: the data-forensics screen as a 9-row
    // digit histogram (exact string-of-BIGINT digits, no float log10 in
    // the assignment); chi-square terms rank the deviation
    "x158_benford_audit" -> ((s, dir) => {
      reg(s, dir)
      Profiler.benfordAudit(s.table("lineitem"), "l_extendedprice")
        .orderBy("digit")
    }),

    // two families composed: funnel conversion lag (first view → first
    // subsequent purchase per user) quantiled through the x151 HDR
    // sketch — the conversion-latency SLO readout, no data-scale sort
    "x157_funnel_lag_quantiles" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("vts"))
      val lags = ev.filter(col("event_type") === "purchase")
        .join(v, Seq("user_id"))
        .filter(col("ts") >= col("vts"))
        .groupBy(col("user_id"), col("vts")).agg(min(col("ts")).as("pts"))
        .select(((unix_micros(col("pts")) - unix_micros(col("vts"))) / 1000000L)
          .cast("long").as("lag_s"))
      val hist = Sketches.hdrHistogram(lags, Seq.empty, "lag_s", p = 5)
      Sketches.hdrQuantiles(hist, Seq.empty, Seq("0.5", "0.9", "0.99"), p = 5)
        .select(col("q"), col("n"), col("q_value").cast("long").as("q_value"))
        .orderBy("q")
    }),

    // Jaro–Winkler as a codegen'd Catalyst expression on the SQL surface
    // — the record-linkage comparator Spark lacks, exercised over a
    // blocked pair set (never un-blocked; the x45/x44 discipline)
    "x156_jaro_winkler" -> sqlX("""
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        jaro_winkler(a.c_name, b.c_name) AS name_jw,
        jaro_winkler(a.c_mktsegment, b.c_mktsegment) AS seg_jw
      FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
      ORDER BY id_a"""),

    // gaps-and-islands: longest consecutive-day streak per user via the
    // day − row_number island key — no calendar self-join; per-user
    // argmax ties break toward the earliest streak
    "x155_activity_streaks" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.activityStreaks(s.table("events"), "user_id", "ts")
        .select(col("user_id"), col("best_streak"),
          date_format(col("streak_start"), "yyyy-MM-dd").as("streak_start"),
          date_format(col("streak_end"), "yyyy-MM-dd").as("streak_end"),
          col("n_streaks"))
        .orderBy("user_id")
    }),

    // daily OHLC candlestick bars — the reference flagship's share-price
    // family completed: open/close via (ts, id)-struct min_by/max_by in
    // the SAME single aggregate as the extremes, no ordering window
    "x153_ohlc_bars" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.ohlcBars(s.table("events"), "event_type", "ts",
          "event_id", "value")
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("open"), col("high"), col("low"), col("close"), col("n_obs"))
        .orderBy("event_type", "day")
    }),

    // time-weighted average price over irregular ticks: each value holds
    // until the next observation — burst-proof where the tick mean isn't;
    // microsecond-BIGINT durations, decimal-cast products, one division
    "x154_twap" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.timeWeightedAvg(s.table("events"), "event_type", "ts",
          "event_id", "value")
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("twa"), 6).as("twa"), col("span_us"), col("n_obs"))
        .orderBy("event_type", "day")
    }),

    // interpolated Kneser–Ney bigram LM scoring: discounted seen-bigram
    // mass redistributed by continuation probability — the principled
    // fluency scorer next to x94's stupid backoff, same split fixture
    "x152_kneser_ney" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val lm = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      TextAnalysis.kneserNeyLogProb(docs, lm, "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"),
          col("mean_nll"))
        .orderBy("doc_id")
    }),

    // mergeable quantiles via HDR-histogram buckets: bit-length exponent
    // + 2^5 linear sub-buckets (≤3.1% relative error), no floating log
    // anywhere — a persistable per-segment sketch whose p50/p90/p99 are
    // read from ≤ ~2k bucket rows per group, never a data-scale sort
    "x151_hdr_quantiles" -> ((s, dir) => {
      reg(s, dir)
      val li = s.table("lineitem")
        .withColumn("price_usd", floor(col("l_extendedprice")))
      val hist = Sketches.hdrHistogram(li, Seq("l_returnflag"), "price_usd", p = 5)
      Sketches.hdrQuantiles(hist, Seq("l_returnflag"),
          Seq("0.5", "0.9", "0.99"), p = 5)
        .select(col("l_returnflag"), col("q"), col("n"),
          col("q_value").cast("long").as("q_value"))
        .orderBy("l_returnflag", "q")
    }),

    // IVF-PQ end-to-end: the canonical billion-scale ANN stack composed —
    // coarse cells prune the SCAN (PartitionFilters on the hive-partition
    // column), PQ codes replace floats for ranking (the materialized
    // layout has no embedding column at all: ~30× smaller corpus table,
    // zero float reads at query time). Decimal-exact ADC sums make the
    // whole composed path — assign, encode, prune, rank — replayable in
    // SQL.
    "x51_ivfpq_topk" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val centroids = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val cb = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("code"), col("embedding"))
      val queries = emb.filter(col("vec_id") >= 490 && col("vec_id") < 500)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val layout = java.nio.file.Files
        .createTempDirectory("ivfpq_layout").resolve("codes_by_cell").toString
      Similarity.writeIvfPqLayout(emb, centroids, cb, "vec_id", "centroid_id",
        "code", "embedding", subspaces = 8, subDim = 8, layout)
      Similarity.ivfPqTopKFromLayout(s, layout, queries, centroids, cb,
          "vec_id", "q_id", "centroid_id", "code", "embedding",
          subspaces = 8, subDim = 8, k = 10, nprobe = 3)
        .select(col("q_id"), col("vec_id"), col("adc_dist"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),

    // ---- X: text analysis (SURVEY.md §2.9 X4) ----
    "x8_text_stats" -> ((s, dir) => {
      reg(s, dir)
      val d = s.table("documents")
      d.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.subwordTokenEstimate(col("text")).cast("long").as("n_subwords"),
        TextAnalysis.charCount(col("text")).cast("long").as("n_chars_m"),
        round(TextAnalysis.avgWordLength(col("text")), 4).as("avg_word_len"),
        round(TextAnalysis.stopwordRatio(col("text")), 4).as("stopword_ratio"),
        round(TextAnalysis.punctRatio(col("text")), 4).as("punct_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality")
      ).orderBy("doc_id")
    }),

    "x9_langid_fingerprint" -> ((s, dir) => {
      reg(s, dir)
      val d = s.table("documents")
      d.select(
        col("doc_id"), col("lang"),
        TextAnalysis.languageIdHeuristic(col("text")).as("lang_guess"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.minShingleFingerprint(col("text")).as("min_shingle_fp")
      ).orderBy("doc_id")
    }),

    "x14_redact_pii" -> ((s, dir) => {
      reg(s, dir)
      // fixture text carries no PII by construction; inject deterministic
      // synthetic emails/urls/phones so the redaction paths actually fire
      val dirty = s.table("documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" see https://example.org/d/"), col("doc_id"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit(" call +1 (415) 555-0123 now")).otherwise(lit(""))).as("text"))
      val (em, ur, ph) = TextAnalysis.piiCounts(col("text"))
      dirty.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("redacted"),
        em.cast("long").as("n_emails"), ur.cast("long").as("n_urls"),
        ph.cast("long").as("n_phones"))
        .orderBy("doc_id")
    }),

    // PII as EXTENTS through the generic span surgery: piiExtents emits
    // the same [start_tok, end_tok) coordinates the decontamination
    // extents use, and maskSpans applies them unchanged — one masking
    // mechanism for every extent source
    "x63_pii_extents_mask" -> ((s, dir) => {
      reg(s, dir)
      val dirty = s.table("documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com for details")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" see https://example.org/d/"), col("doc_id"), lit(" today")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" call +1555000"),
              lpad(col("doc_id").cast("string"), 4, "0"), lit(" now")))
            .otherwise(lit(""))).as("text"))
      val ext = TextAnalysis.piiExtents(dirty, "text", "doc_id")
      val counts = ext.groupBy("doc_id").agg(count(lit(1)).as("n_pii"))
      TextAnalysis.maskSpans(dirty, ext, "text", "doc_id")
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_pii"), lit(0L)).as("n_pii"),
          col("masked"))
        .orderBy("doc_id")
    }),

    "x12_chunking" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.chunkDocuments(s.table("documents"), "text", "doc_id",
          chunkTokens = 30, overlap = 5)
        .select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
          col("chunk_text"), col("chunk_tokens").cast("long").as("chunk_tokens"))
        .orderBy("doc_id", "chunk_index")
    }),

    "x13_quantize" -> ((s, dir) => {
      reg(s, dir)
      val (q, amax) = graft.functions.VectorFunctions.quantizeInt8(col("embedding"))
      s.table("embeddings")
        .select(col("vec_id"), round(amax, 6).as("amax"), posexplode(q))
        .select(col("vec_id"), col("amax"), col("pos").cast("long").as("idx"),
          col("col").cast("long").as("q"))
        .orderBy("vec_id", "idx")
    }),

    // ---- events: window/session ops (shared batch/streaming code, §2.8) ----
    "ev1_window_agg" -> ((s, dir) => {
      reg(s, dir)
      StreamingJobs.windowedCounts(s.table("events"), "ts", "1 hour")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
          col("event_type"), col("n").cast("long").as("n"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    "ev2_session_window" -> ((s, dir) => {
      reg(s, dir)
      StreamingJobs.sessionized(s.table("events"), "ts", "user_id", gap = "5 minutes")
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events").cast("long").as("n_events"),
          round(col("session_value"), 2).as("session_value"))
        .orderBy("user_id", "session_start")
    }),

    // ---- X: deterministic sampling / packing / weighting ----
    "x16_stratified_sample" -> ((s, dir) => {
      reg(s, dir)
      // data-mix rebalancing: halve English, quarter zh, keep the rest
      Sampling.stratifiedSample(s.table("documents"), "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 0.25))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    "x17_train_test_split" -> ((s, dir) => {
      reg(s, dir)
      Sampling.trainTestSplit(s.table("documents"), "doc_id",
          testFraction = 0.1, validationFraction = 0.1)
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    }),

    "x18_seq_packing" -> ((s, dir) => {
      reg(s, dir)
      val chunks = TextAnalysis.chunkDocuments(s.table("documents"), "text", "doc_id",
          chunkTokens = 30, overlap = 5)
        .withColumn("shard", pmod(col("doc_id"), lit(8)))
      TextAnalysis.packSequences(chunks, "shard", Seq("doc_id", "chunk_index"),
          "chunk_tokens", maxTokens = 512)
        .select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
          col("shard"), col("pack_id"), col("pack_offset").cast("long").as("pack_offset"))
        .orderBy("doc_id", "chunk_index")
    }),

    "x19_tfidf" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.tfidf(s.table("documents"), "text", "doc_id")
        .filter(col("tf") >= 4)
        .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
          col("dfreq").cast("long").as("dfreq"), round(col("tfidf"), 4).as("tfidf"))
        .orderBy("doc_id", "term")
    }),

    // pairwise matches → clusters: the step a dedup pipeline needs before
    // it can keep one canonical doc per near-dup group
    "x21_dedup_clusters" -> ((s, dir) => {
      reg(s, dir)
      val pairs = Dedup.ngramJaccardPairs(s.table("documents"), "text", "doc_id",
          n = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // near-dup clusters feed the split decision: every member of a
    // cluster shares a split_key, so no near-copy pair straddles the
    // train/test boundary (the leakage the dedup literature warns about)
    "x57_leakage_safe_split" -> ((s, dir) => {
      reg(s, dir)
      val pairs = Dedup.ngramJaccardPairs(s.table("documents"), "text", "doc_id",
          n = 3, threshold = 0.5)
      val clusters = Dedup.connectedComponents(pairs)
      Sampling.leakageSafeSplit(s.table("documents"), "doc_id", clusters,
          testFraction = 0.1, validationFraction = 0.1)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")
    }),

    // one exact Lloyd refinement of the IVF coarse quantizer (micro-unit
    // integer means: partitioning-independent AND SQL-replayable)
    "x22_kmeans_step" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val centroids = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.kmeansStep(emb, centroids, "vec_id", "centroid_id", "embedding")
        .select(col("cell"), col("dim"), col("n"), round(col("mean"), 6).as("mean"))
        .orderBy("cell", "dim")
    }),

    "x20_bm25" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.bm25(s.table("documents"), "text", "doc_id")
        .filter(col("tf") >= 4)
        .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"),
          col("dfreq").cast("long").as("dfreq"), col("dl").cast("long").as("dl"),
          round(col("bm25"), 4).as("bm25"))
        .orderBy("doc_id", "term")
    }),

    // threshold calibration for the near-dup family: the similarity
    // distribution of candidate pairs at a LOW floor (0.1), bucketed, with
    // the "pairs kept at or above this bucket" cumulative — the number a
    // pipeline owner reads before picking x2/x3's production threshold.
    // Pure composition: ngramJaccardPairs (x2) feeding Profiler.histogram
    // (x36) feeding a ranking window
    "x75_similarity_calibration" -> ((s, dir) => {
      reg(s, dir)
      val pairs = Dedup.ngramJaccardPairs(s.table("documents"), "text", "doc_id",
        n = 3, threshold = 0.0)
      val h = Profiler.histogram(pairs, "jaccard", nBuckets = 10, lo = 0.0, hi = 1.0)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      h.withColumn("pairs_at_or_above", sum("cnt").over(w))
        .select(col("bucket").cast("long").as("bucket"), col("cnt"),
          col("pairs_at_or_above").cast("long").as("pairs_at_or_above"))
        .orderBy("bucket")
    }),

    // record linkage: parts plus typo-corrupted twins (6th char → 'x',
    // ids shifted) resolve into entities — block on the 4-char name
    // prefix, verify at levenshtein ≤ 2, keep the min-id canonical row
    "x74_entity_resolution" -> ((s, dir) => {
      reg(s, dir)
      val base = s.table("part").select(col("p_partkey").as("id"), col("p_name").as("name"))
      val corrupted = base.filter(pmod(col("id"), lit(17)) === 0)
        .select((col("id") + 1000000L).as("id"),
          concat(substring(col("name"), 1, 5), lit("x"),
            expr("substring(name, 7)")).as("name"))
      val entities = base.unionByName(corrupted)
        .withColumn("blk", substring(col("name"), 1, 4))
      Dedup.resolveEntities(entities, "id", "name", "blk", maxDist = 2)
        .select(col("entity_id"), col("name"),
          col("n_members").cast("long").as("n_members"))
        .orderBy("entity_id")
    }),

    // fuzzy eval-leakage guard: same benchmark convention as x23, but a
    // train doc drops when its 3-gram Jaccard vs ANY benchmark doc
    // reaches 0.5 — catches edited near-copies exact fingerprints miss
    "x72_fuzzy_decontaminate" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      TextAnalysis.jaccardDecontaminate(docs, bench, "text", "doc_id")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // mixture-design input: per-language doc/token totals with exact
    // shares and cumulative share in descending-token order
    "x71_token_budget" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.tokenBudget(s.table("documents"), "text", Seq("lang"))
        .select(col("lang"), col("docs").cast("long").as("docs"),
          col("tokens").cast("long").as("tokens"),
          col("share"), col("cum_share"), col("rank").cast("long").as("rank"))
        .orderBy("rank")
    }),

    // open-vocabulary heavy hitters: a deterministic skewed stream (two
    // ~25%-share items + a ~997-item tail) through the bounded-memory
    // Misra-Gries sketch; the contract checks the sketch's PROVEN
    // guarantees against exact counts on the real 32-partition execution —
    // presence above n/(m+1) and the two-sided [count-error, count] bound
    "x70_heavy_hitters" -> ((s, dir) => {
      reg(s, dir)
      val m = 64
      val stream = s.table("events").select(
        when(pmod(col("event_id"), lit(4)) < 2,
          concat(lit("heavy_"), pmod(col("event_id"), lit(2)).cast("string")))
        .otherwise(concat(lit("tail_"), pmod(col("event_id"), lit(997)).cast("string")))
        .as("item"))
      val sketch = stream.agg(
        graft.functions.FrequentItemsAgg.frequentItems(col("item"), m).as("sk"),
        count(lit(1)).as("n"))
      val exact = stream.groupBy("item").agg(count(lit(1)).as("exact_count"))
      exact.crossJoin(broadcast(sketch))
        .filter(col("exact_count") * (m + 1) > col("n"))
        .select(col("item"), col("exact_count").cast("long").as("exact_count"),
          exists(col("sk"), x => x("term") === col("item")).as("in_sketch"),
          exists(col("sk"), x => x("term") === col("item") &&
            x("count") >= col("exact_count") &&
            x("count") - x("error") <= col("exact_count")).as("bounds_ok"))
        .orderBy("item")
    }),

    // fastText-shaped corpus filter: tokens hash into 4096 buckets, the
    // "model" is a deterministic (bucket, fixed-point weight) table, and a
    // doc's score is the mean bucket weight — exact integer margins make
    // the classifier engine-replayable
    "x69_quality_classifier" -> ((s, dir) => {
      reg(s, dir)
      val weights = s.range(4096).select(col("id").as("bucket"),
        (((col("id") * 2654435761L) % 2001L) - 1000L).as("weight"))
      TextAnalysis.hashedLinearScore(s.table("documents"), weights, "text", "doc_id", 4096)
        // score stays an UNROUNDED double: both engines run the identical
        // (margin/1000)/n association over identical integers, so the bits
        // match (same contract as x30/x59 means); rounding would instead
        // create half-tie disagreements
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("score"), col("label").cast("long").as("label"))
        .orderBy("doc_id")
    }),

    // sub-document dedup: documents re-chunked into 12-token paragraphs
    // (the fixture has no newlines), then each distinct paragraph survives
    // only at its first (doc, pos) occurrence corpus-wide and docs are
    // reassembled — the Lee-et-al-style boilerplate-removal granularity
    "x68_paragraph_dedup" -> ((s, dir) => {
      reg(s, dir)
      val toks = filter(split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0)
      val nChunks = greatest(ceil(size(toks) / lit(12.0)).cast("int"), lit(1))
      val docs = s.table("documents").select(col("doc_id"),
        concat_ws("\n\n", transform(sequence(lit(0), nChunks - 1),
          g => concat_ws(" ", slice(toks, g * 12 + 1, lit(12))))).as("text"))
      Dedup.paragraphDedup(docs, "text", "doc_id")
        .select(col("doc_id"), col("text"),
          col("kept_paras").cast("long").as("kept_paras"),
          col("total_paras").cast("long").as("total_paras"))
        .orderBy("doc_id")
    }),

    // sparse retrieval: every 97th doc contributes a 6-token query (tokens
    // 3..8 of its own text); top-5 docs per query by summed BM25 — exact
    // decimal score sums make the ranking engine-replayable
    "x67_bm25_retrieval" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(filter(
            split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0), 3, 6))
            .as("q_text"))
      TextAnalysis.bm25TopK(docs, qs, "text", "doc_id", "q_text", "q_id", k = 5)
        .select(col("q_id"), col("doc_id"),
          col("matched_terms").cast("long").as("matched_terms"),
          round(col("score"), 6).as("score"), col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),
    "x78_hybrid_rrf" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(filter(
            split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0), 3, 6))
            .as("q_text"))
      val sparse = TextAnalysis.bm25TopK(docs, qs, "text", "doc_id",
        "q_text", "q_id", k = 10)
      val emb = s.table("embeddings")
      val qv = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val dense = Similarity.bruteForceTopK(emb, qv, "vec_id", "q_id",
          "embedding", k = 10)
        .withColumnRenamed("vec_id", "doc_id")
      Similarity.rrfFuse(
          Seq(sparse.select("q_id", "doc_id", "rank"),
            dense.select("q_id", "doc_id", "rank")),
          "q_id", "doc_id", "rank", k = 5)
        .select(col("q_id"), col("doc_id"),
          round(col("rrf_score"), 6).as("rrf_score"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),
    // zone-map data skipping on the real Delta log: the write clusters by
    // date so file [min,max] ranges are disjoint; readPruned opens ONLY
    // files overlapping the 1997 window (skipping asserted in the spec) —
    // the result is identical to a plain filtered scan, which is exactly
    // what the oracle replays
    // binned interval-overlap join: 30-day order exposure windows ×
    // generated weekly maintenance windows, rewritten as an equi-join on
    // 16-day bins (first-shared-bin dedup) — the linear plan where the
    // naive non-equi join nested-loops; the oracle runs the naive join,
    // proving the rewrite's result equivalence
    "x97_interval_join" -> ((s, dir) => {
      reg(s, dir)
      val epoch = lit("1970-01-01").cast("date")
      val ordersIv = s.table("orders").select(col("o_orderkey"), col("o_totalprice"),
        datediff(col("o_orderdate").cast("date"), epoch).cast("long").as("o_lo"))
        .withColumn("o_hi", col("o_lo") + 30)
      val windowsIv = s.range(80).select(
        add_months(lit("1995-01-01").cast("date"), col("id").cast("int")).as("w_start"))
        .select(col("w_start"), datediff(col("w_start"), epoch).cast("long").as("w_lo"))
        .withColumn("w_hi", col("w_lo") + 7)
      graft.operators.IntervalJoin.overlap(ordersIv, windowsIv,
          "o_lo", "o_hi", "w_lo", "w_hi", binSize = 16)
        .groupBy(date_format(col("w_start"), "yyyy-MM-dd").as("w_start"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("w_start")
    }),
    // KMV theta sketch distinct-count: k smallest PolyHash56 values are a
    // pure function of the value SET, so even the ESTIMATE replays exactly
    // — alongside the exact count it is judged against
    "x100_kmv_distinct" -> ((s, dir) => {
      reg(s, dir)
      import graft.functions.KmvSketchAgg
      val k = 128
      s.table("lineitem")
        .select(col("l_returnflag"),
          KmvSketchAgg.hash55(col("l_partkey").cast("string")).as("h"),
          col("l_partkey"))
        .groupBy("l_returnflag")
        .agg(KmvSketchAgg.kmvSketch(col("h"), k).as("sk"),
          countDistinct("l_partkey").as("exact"))
        .select(col("l_returnflag"), KmvSketchAgg.estimate(col("sk"), k).as("est"),
          col("exact"))
        .orderBy("l_returnflag")
    }),
    // KMV set algebra: customer-audience overlap between two order-priority
    // segments from the SKETCHES alone (no re-scan) — the union/Jaccard/
    // intersection composition HLL registers cannot express
    "x101_kmv_overlap" -> ((s, dir) => {
      reg(s, dir)
      import graft.functions.KmvSketchAgg
      val k = 128
      val o = s.table("orders").select(col("o_orderpriority").as("p"),
        KmvSketchAgg.hash55(col("o_custkey").cast("string")).as("h"),
        col("o_custkey"))
      def sk(p: String, as: String) = o.filter(col("p") === p)
        .agg(KmvSketchAgg.kmvSketch(col("h"), k).as(as))
      def cust(p: String) = o.filter(col("p") === p).select("o_custkey").distinct()
      val exact = cust("1-URGENT").join(cust("2-HIGH"), Seq("o_custkey"))
        .agg(count(lit(1)).as("exact_inter"))
      sk("1-URGENT", "ska").crossJoin(sk("2-HIGH", "skb")).crossJoin(exact)
        .select(
          KmvSketchAgg.jaccard(col("ska"), col("skb"), k).as("jaccard_est"),
          KmvSketchAgg.intersectionEstimate(col("ska"), col("skb"), k).as("inter_est"),
          col("exact_inter"))
    }),
    // sorted-neighborhood merge/purge: customers pair when their names
    // sort within a 4-row window and banded edit distance accepts — the
    // two-phase distributed rank means no global-window task exists
    "x102_sorted_neighborhood" -> ((s, dir) => {
      reg(s, dir)
      Dedup.sortedNeighborhoodPairs(s.table("customer"), "c_name", "c_custkey",
          window = 4, maxDist = 1)
        .orderBy("id_a", "id_b")
    }),
    // lossless prefix-filtered set-similarity self-join: candidates form
    // only on each doc's rarest-first gram prefix — skew-safe WITHOUT the
    // maxDocFreq recall trade; the oracle is the unfiltered all-pairs
    // join, so a single missed pair fails the hash
    "x103_prefix_filter" -> ((s, dir) => {
      reg(s, dir)
      Dedup.prefixFilterPairs(s.table("documents"), "text", "doc_id",
          n = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    // Theil-Sen robust slope: median of pairwise slopes — each slope one
    // IEEE division of exact integer differences; exact median selection
    "x123_theil_sen" -> ((s, dir) => {
      reg(s, dir)
      val daily = s.table("events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg((sum(col("value").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
        .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")))
      Profiler.theilSen(daily, "x", "cents", Seq("event_type"))
        .orderBy("event_type")
    }),
    // register-based HLL distinct over the portable 55-bit hash: the
    // fixed-memory sibling of x100's KMV — register index, rank and the
    // power-of-two denominator are integer-exact, the estimate one shared
    // IEEE expression, so even the approximation oracle-matches
    "x124_hll_distinct" -> ((s, dir) => {
      reg(s, dir)
      Sketches.hllDistinct(s.table("lineitem"), Seq("l_returnflag"), "l_partkey", b = 8)
        .join(s.table("lineitem").groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").cast("long").as("exact")),
          Seq("l_returnflag"))
        .select(col("l_returnflag"), col("est"), col("v_zero"), col("exact"))
        .orderBy("l_returnflag")
    }),
    // Change feed on the CONFIG surface (r15, VERDICT r14 #4): a versioned
    // table gets three commits — full write, append, shrinking overwrite —
    // and a zero-Scala config step consumes "what changed since version 0"
    // through the `versionedChanges` registry entry. The oracle
    // reconstructs the same insert/delete tags from the slice definitions:
    // an append's delta is its new rows; an overwrite lists every prior
    // row deleted and every new row inserted (manifest-diff CDF semantics).
    "etl_changefeed_config" -> ((s, dir) => {
      reg(s, dir)
      import graft.sources.VersionedParquet
      val base = java.nio.file.Files.createTempDirectory("graft-cdf").toString
      val tbl = s"$base/tbl"
      val orders = s.table("orders")
        .select(col("o_orderkey"), col("o_custkey")).repartition(4)
      VersionedParquet.write(
        orders.filter(pmod(col("o_orderkey"), lit(4)) === 0), tbl, "overwrite") // v0
      VersionedParquet.write(
        orders.filter(pmod(col("o_orderkey"), lit(4)) === 1), tbl, "append")    // v1
      VersionedParquet.write(
        orders.filter(pmod(col("o_orderkey"), lit(8)) < 2), tbl, "overwrite")   // v2
      val cfg = graft.config.JobConfig.parse(
        s"""{
           |"jobName": "changefeed_from_config",
           |"transformations": [
           |  {"functionName": "versionedChanges", "outputDFName": "changes",
           |   "options": {"path": "$tbl", "fromVersion": "0"}},
           |  {"functionName": "project",
           |   "sqlQuery": "SELECT o_orderkey, o_custkey, _change_type, _commit_version FROM changes ORDER BY _commit_version, _change_type, o_orderkey",
           |   "outputDFName": "changes_out"}]
           |}""".stripMargin)
      new graft.run.Orchestrator(s).run(cfg)
    }),
    // count-min point-frequency estimates: the any-key complement of
    // x70's Misra-Gries top-k — depth x width counters, min over rows,
    // integer end to end (est >= true by construction)
    "x125_cms_counts" -> ((s, dir) => {
      reg(s, dir)
      val events = s.table("events")
      val sketch = Sketches.cmsBuild(events, "user_id", depth = 4, widthBits = 8)
      val truth = events.groupBy("user_id").agg(count(lit(1)).as("true_cnt"))
      val probes = truth.orderBy(col("true_cnt").desc, col("user_id")).limit(10)
      Sketches.cmsEstimate(sketch, probes, "user_id", depth = 4, widthBits = 8)
        .join(probes, Seq("user_id"))
        .select(col("user_id"), col("est").cast("long").as("est"),
          col("true_cnt").cast("long").as("true_cnt"))
        .orderBy("user_id")
    }),
    // Hilbert-curve clustered layout (the locality-tighter sibling of
    // x26's z-order): a codegen'd integer state machine, exercised through
    // its registered SQL surface; per-zone coordinate ranges SHOW the
    // clustering the layout buys at file-skipping time
    "x126_hilbert_layout" -> sqlX("""
      WITH cells AS (
        SELECT pmod(l_partkey, 1024) AS cx, pmod(l_suppkey, 1024) AS cy,
               hilbert_idx(pmod(l_partkey, 1024), pmod(l_suppkey, 1024), 10) AS d
        FROM lineitem)
      SELECT shiftright(d, 14) AS zone, CAST(COUNT(*) AS BIGINT) AS cnt,
             MIN(d) AS min_d, MAX(d) AS max_d,
             MIN(cx) AS min_cx, MAX(cx) AS max_cx,
             MIN(cy) AS min_cy, MAX(cy) AS max_cy
      FROM cells GROUP BY 1 ORDER BY zone"""),
    // marketing-style last-touch attribution: each purchase credited to
    // the user's most recent prior non-purchase event within 7 days —
    // one user-keyed window, no self-join
    "x127_attribution" -> ((s, dir) => {
      reg(s, dir)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val sevenDaysUs = 7L * 86400L * 1000000L
      val withPrior = s.table("events").withColumn("prior",
        last(when(col("event_type") =!= "purchase",
            struct(col("ts").as("pts"), col("event_id").as("pid"),
              col("event_type").as("ptype"))),
          ignoreNulls = true).over(w))
      val inWindow = col("prior").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("prior.pts")) <= sevenDaysUs
      withPrior.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          when(inWindow, col("prior.pid")).as("touch_id"),
          when(inWindow, col("prior.ptype")).as("touch_type"),
          when(inWindow, unix_micros(col("ts")) - unix_micros(col("prior.pts")))
            .as("gap_us"))
        .orderBy("event_id")
    }),
    // the HLL persist-and-merge pattern x128's registers exist for:
    // per-day register rows re-aggregated (max per (type, j)) into the
    // full-period sketch — merging never rescans the events
    "x128_hll_daily_merge" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events").withColumn("day", to_date(col("ts")))
      val daily = Sketches.hllRegisters(ev, Seq("event_type", "day"), "user_id")
      val merged = daily.groupBy(col("event_type"), col("__j"))
        .agg(max(col("__mj")).as("__mj"))
      Sketches.hllEstimateFromRegisters(merged, Seq("event_type"))
        .join(s.table("events").groupBy("event_type")
          .agg(countDistinct("user_id").cast("long").as("exact")), Seq("event_type"))
        .select(col("event_type"), col("est"), col("v_zero"), col("exact"))
        .orderBy("event_type")
    }),
    // equal-frequency feature binning: NTILE over a deterministic total
    // order — the bucketizer a training pipeline fits per feature; bin
    // boundaries come out with the counts
    "x129_quantile_binning" -> sqlQ("""
      WITH binned AS (
        SELECT l_returnflag,
               NTILE(10) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bin,
               l_extendedprice
        FROM lineitem)
      SELECT l_returnflag, CAST(bin AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      FROM binned GROUP BY l_returnflag, bin
      ORDER BY l_returnflag, bin"""),
    // smoothed target encoding (mean encoding with an m-estimate prior):
    // the standard categorical feature for tabular models; all divisions
    // are one IEEE expression over exact BIGINT counts so the encodings
    // replay bit-for-bit
    "x130_target_encoding" -> sqlQ("""
      WITH joined AS (
        SELECT p.p_brand,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS hit
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      prior AS (
        SELECT CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p
        FROM joined),
      agg AS (
        SELECT p_brand, CAST(SUM(hit) AS BIGINT) AS hits,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM joined GROUP BY p_brand)
      SELECT a.p_brand, a.hits, a.cnt,
             (CAST(a.hits AS DOUBLE) + CAST(50.0 AS DOUBLE) * pr.p) /
             (CAST(a.cnt AS DOUBLE) + CAST(50.0 AS DOUBLE)) AS encoded
      FROM agg a CROSS JOIN prior pr
      ORDER BY p_brand"""),
    // recency-weighted engagement: per-user score Σ 2^(55 - age_days) —
    // exponential half-life-one-day decay in EXACT power-of-two integers
    // (DECIMAL sum), the feature-store recency signal with no float drift
    "x131_decayed_engagement" -> sqlQ("""
      SELECT user_id,
        CAST(SUM(CAST(SHIFTLEFT(CAST(1 AS BIGINT),
          55 - LEAST(DATEDIFF((SELECT MAX(CAST(ts AS DATE)) FROM events),
                              CAST(ts AS DATE)), 55))
          AS DECIMAL(38,0))) AS STRING) AS score56,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),
    // join-key skew diagnosis: the measurement behind the salting
    // decision — skew_ratio is the direct input to the salt factor R
    "x132_key_skew" -> ((s, dir) => {
      reg(s, dir)
      Profiler.keySkew(s.table("lineitem"),
          Seq("l_partkey", "l_suppkey", "l_returnflag"))
        .orderBy("key_col")
    }),
    // salting correctness: the R=8-salted join must produce EXACTLY the
    // plain join's rows (the oracle runs the unsalted join) — the
    // mitigation changes the shuffle, never the answer
    "x133_salted_join" -> ((s, dir) => {
      reg(s, dir)
      import graft.operators.SkewOps
      val big = s.table("lineitem")
      val small = s.table("supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      SkewOps.saltedJoin(big, small, Seq("l_suppkey"), saltFactor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).cast("long").as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("s_nationkey")
    }),
    // deterministic synchronous label propagation over the part-supplier
    // bipartite graph: 3 rounds, most-frequent-neighbor-label with
    // smallest-label tie-break — community detection a pipeline can replay
    "x134_label_propagation" -> ((s, dir) => {
      reg(s, dir)
      val edges = s.table("lineitem").select(col("l_partkey").as("src"),
        (col("l_suppkey") + lit(1000000L)).as("dst")).distinct()
      Graph.labelPropagation(edges, "src", "dst", iters = 3)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("label"))
        .orderBy("node")
    }),
    // rendezvous (highest-random-weight) routing: stable shard assignment
    // under topology change — hash(id) mod N moves ~everything when N
    // grows; HRW moves only the new shard's winners
    "x135_rendezvous_routing" -> ((s, dir) => {
      reg(s, dir)
      val routed = s.table("documents")
        .select(col("doc_id"), Sampling.rendezvousShard(col("doc_id"), 8).as("shard"))
      routed.groupBy("shard")
        .agg(count(lit(1)).cast("long").as("cnt"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")
    }),
    // Spark 4 VariantType surface: parse once into the binary variant
    // encoding, typed extraction + canonical re-serialization — the
    // at-scale replacement for per-access get_json_object re-parsing (q14)
    "x136_variant_json" -> sqlQ("""
      SELECT event_id,
             VARIANT_GET(PARSE_JSON(props), '$.k', 'bigint') AS k_num,
             TO_JSON(PARSE_JSON(props)) AS normalized
      FROM events
      WHERE VARIANT_GET(PARSE_JSON(props), '$.k', 'bigint') % 7 = 0
      ORDER BY event_id"""),
    // Merkle range reconciliation: localize WHICH of 256 key ranges
    // differ between a table and its drifted copy — re-sync ships leaves,
    // not tables; the 3 injected edits must surface as ≤3 leaves
    // Merkle range reconciliation driven from ONE JSON config: the edited
    // twin is a SQL step, the diff is a merkleDiff functionName step whose
    // keyExpr/rowExpr options carry the same portable-hash caller contract
    // as the Scala API. The former x137 entry invoked Validations
    // .merkleDiff directly — merged here in r13 (x23→x25 template); the
    // direct path stays exercised by x140_merkle_drill and ValidationsSpec.
    "etl_merkle_config" -> ((s, dir) => {
      reg(s, dir)
      val keyE = "concat(cast(l_orderkey as string), '|', cast(l_linenumber as string))"
      val rowE = s"concat($keyE, '|', cast(cast(l_quantity as decimal(18,2)) as string))"
      val cfg = graft.config.JobConfig.parse(
        s"""{
           |"jobName": "merkle_from_config",
           |"inputs": [{"dataFrameName": "li", "format": "parquet",
           |  "path": "$dir/lineitem.parquet"}],
           |"transformations": [
           |  {"functionName": "edited_twin", "outputDFName": "li_b",
           |   "sqlQuery": "SELECT * EXCEPT (l_quantity), CASE WHEN l_orderkey IN (1, 7, 42) AND l_linenumber = 1 THEN l_quantity + 1.0 ELSE l_quantity END AS l_quantity FROM li"},
           |  {"functionName": "merkleDiff", "outputDFName": "diff",
           |   "options": {"input": "li", "against": "li_b",
           |     "keyExpr": "$keyE", "rowExpr": "$rowE"}},
           |  {"functionName": "project",
           |   "sqlQuery": "SELECT CAST(leaf AS BIGINT) AS leaf, a_xor, b_xor, CAST(a_cnt AS BIGINT) AS a_cnt, CAST(b_cnt AS BIGINT) AS b_cnt FROM diff ORDER BY leaf",
           |   "outputDFName": "diff_out", "countValidation": 1}]
           |}""".stripMargin)
      new graft.run.Orchestrator(s).run(cfg)
    }),
    // 2-level Merkle drill-down: localize the same 3 injected edits to
    // 1/65,536 key ranges (≤3 second-level leaves) — level 2 re-scans only
    // rows whose level-1 leaf differed, the anti-entropy repair shape
    "x140_merkle_drill" -> ((s, dir) => {
      reg(s, dir)
      import graft.operators.Validations
      val keyStr = concat(col("l_orderkey").cast("string"), lit("|"),
        col("l_linenumber").cast("string"))
      def rowStr = concat(keyStr, lit("|"),
        col("l_quantity").cast("decimal(18,2)").cast("string"))
      val a = s.table("lineitem")
      val b = a.withColumn("l_quantity",
        when(col("l_orderkey").isin(1L, 7L, 42L) && col("l_linenumber") === 1,
          col("l_quantity") + 1.0).otherwise(col("l_quantity")))
      Validations.merkleDrill(a, b, keyStr, rowStr, levels = 2)
        .select(col("leaf_1").cast("long").as("leaf_1"),
          col("leaf_2").cast("long").as("leaf_2"),
          col("a_xor"), col("b_xor"),
          col("a_cnt").cast("long").as("a_cnt"),
          col("b_cnt").cast("long").as("b_cnt"))
        .orderBy("leaf_1", "leaf_2")
    }),
    // key-wise snapshot diff audit: added/removed/changed/unchanged counts
    // plus per-column change counts between two table versions — ONE
    // full-outer join on the key + one single-row conditional aggregate
    "x198_table_diff" -> ((s, dir) => {
      reg(s, dir)
      import graft.operators.Validations
      val a = s.table("lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)").as("l_quantity"),
        col("l_extendedprice").cast("decimal(18,2)").as("l_extendedprice"),
        col("l_shipdate"))
      val b = a.filter(col("l_orderkey") % 97 =!= 0)
        .withColumn("l_quantity",
          when(col("l_orderkey") % 31 === 0 && col("l_linenumber") === 1,
            col("l_quantity") + 1).otherwise(col("l_quantity")))
        .unionByName(a.filter(col("l_orderkey") % 89 === 0)
          .withColumn("l_linenumber", col("l_linenumber") + 10))
      Validations.snapshotDiff(a, b,
          keys = Seq("l_orderkey", "l_linenumber"),
          compareCols = Seq("l_quantity", "l_extendedprice", "l_shipdate"))
        .orderBy("metric")
    }),
    // exact int8 Gram matrix (the PCA/whitening moments): one narrow
    // outer-product expression + one partial-aggregated shuffle of
    // <= d(d+1)/2 rows per task — corpus-size-independent exchange
    "x199_gram_matrix" -> ((s, dir) => {
      reg(s, dir)
      val codes = s.table("embeddings")
        .select(Similarity.int8Codes(col("embedding")).as("c"))
      Similarity.gramMatrix(codes, "c", dim = 64)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          col("g"))
        .orderBy("i", "j")
    }),
    // DTW distance between per-type daily value sequences: nested-fold
    // DP in pure HOFs over exact cents, pairs parallelize independently
    "x215_dtw_distance" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.dtwPairs(s.table("events"), "ts", "event_type", "value")
        .orderBy("series_a", "series_b")
    }),
    // Copeland head-to-head majority scores over the same preference
    // pairs — all-integer Condorcet audit for the BT fit
    "x214_copeland" -> ((s, dir) => {
      reg(s, dir)
      // sorted-suffix explode prefs (r15, was a lineitem self-join that
      // scanned+shuffled the projection twice); copelandScores stages its
      // input eagerly, so the bounded-object-agg scope covers the collect
      graft.util.Tuning.withBoundedObjectAgg(s) {
        val prefs = EventAnalytics.precedencePrefs(s.table("lineitem"),
          "l_orderkey", "l_linenumber", "l_partkey")
        EventAnalytics.copelandScores(prefs, "w", "l", "n")
          .orderBy("item")
      }
    }),
    // Bradley-Terry strengths from line-order precedence preferences
    // (lower linenumber "wins"): 3 quantized MM rounds, scale-free
    "x213_bradley_terry" -> ((s, dir) => {
      reg(s, dir)
      // same prefs shape as x214 (see that entry's r15 note); the
      // bt-games stage inside bradleyTerry materializes within the scope
      graft.util.Tuning.withBoundedObjectAgg(s) {
        val prefs = EventAnalytics.precedencePrefs(s.table("lineitem"),
          "l_orderkey", "l_linenumber", "l_partkey")
        EventAnalytics.bradleyTerry(prefs, "w", "l", "n", iters = 3)
          .orderBy("item")
      }
    }),
    // simplified silhouette over the x211 clustering: per point
    // (b−a)/max(a,b) on exact squared distances, per-term DECIMAL(18,8)
    "x212_silhouette" -> ((s, dir) => {
      reg(s, dir)
      val codes = s.table("embeddings").select(col("vec_id"),
        Similarity.int8Codes(col("embedding")).as("c"))
      Similarity.simplifiedSilhouette(codes, "vec_id", "c", k = 5,
          iters = 2, dim = 64)
        .orderBy("cluster")
    }),
    // full Lloyd k-means on int8 codes: Gonzalez seeds, grid-quantized
    // centroids each update, exact BIGINT assignment distances
    "x211_kmeans_lloyd" -> ((s, dir) => {
      reg(s, dir)
      val codes = s.table("embeddings").select(col("vec_id"),
        Similarity.int8Codes(col("embedding")).as("c"))
      Similarity.kmeansLloyd(codes, "vec_id", "c", k = 5, iters = 2, dim = 64)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_points"), sum("dist_num").as("inertia"),
          min("vec_id").as("min_id"))
        .orderBy("cluster")
    }),
    // deterministic farthest-first (Gonzalez) k-means seeding over int8
    // codes: exact BIGINT max-min distances, k driver scalars total
    "x210_kmeanspp_seeds" -> ((s, dir) => {
      reg(s, dir)
      val codes = s.table("embeddings").select(col("vec_id"),
        Similarity.int8Codes(col("embedding")).as("c"))
      Similarity.farthestFirstSeeds(codes, "vec_id", "c", k = 5)
        .select(col("seed_rank").cast("long").as("seed_rank"),
          col("vec_id"), col("dist_num"))
        .orderBy("seed_rank")
    }),
    // PassJoin: LOSSLESS typo-threshold edit join via segment signatures
    // (pigeonhole on d+1 segments) — no in-block self-join anywhere; the
    // oracle replays the naive quadratic definition and must agree exactly
    "x219_passjoin_pairs" -> ((s, dir) => {
      reg(s, dir)
      Dedup.passJoinPairs(s.table("documents"), "text", "doc_id",
          blockCol = "source", maxDist = 2, prefixLen = 40)
        .orderBy("id_a", "id_b")
    }),
    // pre-join output-volume audit for x44's dist-0 contract: every 10th
    // doc collapses to ONE boilerplate text, and the audit must price its
    // m*(m-1)/2 pair rows per (source, prefix) group BEFORE any pair join
    // runs - pure integer arithmetic, one aggregation
    "x220_dup_mass_audit" -> ((s, dir) => {
      reg(s, dir)
      val marked = s.table("documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0,
          lit("identical boilerplate body text"))
          .otherwise(col("text")).as("text"),
        col("source"))
      Dedup.exactPrefixDupMass(marked, "text", "source", prefixLen = 40)
        .orderBy(col("dist0_pairs").desc, col("b"), col("p"))
    }),
    // calibration audit of the heuristic quality score against the
    // fixture's language label: per-decile mean-predicted vs observed
    // rates and the share-weighted ECE — whether the score can be
    // TRUSTED as a probability, not merely as a ranking
    "x221_calibration_bins" -> ((s, dir) => {
      reg(s, dir)
      val scored = s.table("documents").select(
        TextAnalysis.qualityScore(col("text")).as("q"),
        (col("lang") === "en").as("is_en"))
      graft.x.Profiler.calibrationBins(scored, "q", "is_en", nBins = 10)
        .orderBy("bin")
    }),
    // ANN-recall drift monitor: the live IVF store keeps its BUILD-TIME
    // coarse quantizer across appends (cent0 = the first 5 vectors);
    // one distributed Lloyd refresh over today's corpus gives the
    // geometry a rebuild would use. recall@10 of both probe geometries
    // against exact brute force, per query — drift = the recall a
    // rebuild would recover, i.e. the rebuild-scheduling signal. All
    // int8-exact (assignment, probe cells, grid-quantized Lloyd means),
    // so the whole monitor replays in the oracle
    "x226_ivf_recall_drift" -> ((s, dir) => {
      reg(s, dir)
      val codes = s.table("embeddings").select(col("vec_id"),
        Similarity.int8Codes(col("embedding")).as("c"))
      val corpus = codes.filter(col("vec_id") < 490 || col("vec_id") >= 500)
      val queries = codes.filter(col("vec_id") >= 490 && col("vec_id") < 500)
        .select(col("vec_id").as("q_id"), col("c"))
      val stale = codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("centroid_id"), col("c"))
      // the refreshed quantizer feeds both sides of its probe (corpus
      // assignment + query cells) — staged so the Lloyd aggs run once
      val fresh = graft.util.Staging.LocalCheckpoint.stage(Similarity.int8LloydUpdate(
        corpus, stale, "vec_id", "centroid_id", "c"), "ivf-fresh-quantizer")
      Similarity.ivfRecallDrift(corpus, queries, stale, fresh,
          "vec_id", "q_id", "centroid_id", "c", k = 10, nprobe = 2)
        .orderBy("q_id")
    }),
    // Unicode canonicalization before fingerprinting: every doc gets a
    // decomposed (e + combining acute) and a precomposed (é) variant of
    // the same suffix — byte-different, canonically equal. Raw md5 keys
    // see 2n distinct docs; after the codegen'd NFC expression the pair
    // collapses (distinct_norm_fp = n) — the dedup bug the op exists for
    "x225_nfc_dedup_keys" -> ((s, dir) => {
      reg(s, dir)
      import graft.functions.NfcNormalizeExpr.normalize
      val base = s.table("documents").select(col("doc_id"), col("text"))
      val dec = base.select((col("doc_id") * 2).as("vid"),
        concat(col("text"), lit(" café naïve")).as("t"))
      val pre = base.select((col("doc_id") * 2 + 1).as("vid"),
        concat(col("text"), lit(" café naïve")).as("t"))
      dec.unionByName(pre).agg(
        count(lit(1)).cast("long").as("n_variants"),
        countDistinct(md5(col("t"))).cast("long").as("distinct_raw_fp"),
        countDistinct(md5(normalize(col("t")))).cast("long")
          .as("distinct_norm_fp"),
        sum(when(normalize(col("t")) =!= col("t"), 1L).otherwise(0L))
          .cast("long").as("n_changed"))
    }),
    // corpus-law gate: Zipf rank-frequency slope + r2 over the unigram
    // table (natural text ~ -1; boilerplate flattens it) — distributed
    // rank, quantized-ln exact-moment OLS
    "x224_zipf_fit" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.zipfFit(s.table("documents"), "text")
    }),
    // token-space mixture drift: JS divergence between the English and
    // non-English sides of the corpus — symmetric, finite, <= ln 2; the
    // unigram twin of x90's numeric PSI
    "x223_js_divergence" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      TextAnalysis.tokenJsDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text")
    }),
    // label QC: chance-corrected agreement between two quality gates
    // (the composite score at 0.8 vs a length+punctuation rule) — raw
    // agreement flatters under class imbalance; kappa divides chance out
    "x222_cohens_kappa" -> ((s, dir) => {
      reg(s, dir)
      val rated = s.table("documents").select(
        (TextAnalysis.qualityScore(col("text")) >= 0.8).as("rater_a"),
        (TextAnalysis.charCount(col("text")).between(50, 20000) &&
          TextAnalysis.punctRatio(col("text")) <= 0.2).as("rater_b"))
      graft.x.Profiler.cohensKappa(rated, "rater_a", "rater_b")
    }),
    // Jones-Plassmann coloring of the part-CHAIN graph (consecutive
    // lineitems, x180's construction — degree ~6, where JP's expected
    // O(log n) rounds hold; the dense copurchase projection stalls a
    // 12-round budget at ~10 colored/round): md5 priorities, first-gap
    // fold for the smallest free color, budget-flagged leftovers
    "x218_jp_coloring" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      // RECURRING consecutive pairs only (count >= 2): a lineitem-derived
      // graph over 2k parts is dense (deg ~45) at any threshold 1 — JP
      // colors ~n/(deg+1) nodes/round, so the budget wants a sparse graph
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
        .select(least(col("l_partkey"), col("dst")).as("src"),
          greatest(col("l_partkey"), col("dst")).as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
      Graph.jpColoring(e, "src", "dst", maxRounds = 16)
        .select(col("node").cast("long").as("node"), col("color"),
          col("colored_round"))
        .orderBy("node")
    }),
    // deterministic random walks over the transition graph: HRW md5
    // neighbor choice — the replayable DeepWalk corpus generator
    "x217_random_walks" -> ((s, dir) => {
      reg(s, dir)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = s.table("events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull && col("prev") =!= col("event_type"))
        .groupBy(col("prev").as("a"), col("event_type").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val types = trans.select(col("a").as("t"))
        .union(trans.select(col("b").as("t"))).distinct()
        .withColumn("tid", row_number().over(Window.orderBy("t")).cast("long"))
      val e = trans
        .join(types.select(col("t").as("a"), col("tid").as("src")), "a")
        .join(types.select(col("t").as("b"), col("tid").as("dst")), "b")
      Graph.randomWalks(e, "src", "dst", steps = 4, walksPerNode = 2)
        .join(types.select(col("tid").as("node"), col("t").as("event_type")),
          "node")
        .join(types.select(col("tid").as("start"), col("t").as("start_type")),
          "start")
        .select(col("start_type"), col("widx").cast("long").as("widx"),
          col("step"), col("event_type"))
        .orderBy("start_type", "widx", "step")
    }),
    // weighted HITS hubs/authorities, unnormalized exact DECIMAL(38,0)
    // power iteration (ranking-preserving; normalization is a rescale)
    "x209_hits" -> ((s, dir) => {
      reg(s, dir)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = s.table("events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull && col("prev") =!= col("event_type"))
        .groupBy(col("prev").as("a"), col("event_type").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val types = trans.select(col("a").as("t"))
        .union(trans.select(col("b").as("t"))).distinct()
        .withColumn("tid", row_number().over(Window.orderBy("t")).cast("long"))
      val e = trans
        .join(types.select(col("t").as("a"), col("tid").as("src")), "a")
        .join(types.select(col("t").as("b"), col("tid").as("dst")), "b")
      Graph.hits(e, "src", "dst", "cnt", iters = 3)
        .join(types.select(col("tid").as("node"), col("t").as("event_type")),
          "node")
        .select(col("event_type"), col("authority").cast("double")
          .as("authority"), col("hub").cast("double").as("hub"))
        .orderBy("event_type")
    }),
    // budgeted Bellman-Ford SSSP over the weighted transition graph
    // (w = max_cnt − cnt + 1): 4 synchronous relax+min rounds, exact
    "x208_shortest_paths" -> ((s, dir) => {
      reg(s, dir)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = s.table("events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull && col("prev") =!= col("event_type"))
        .groupBy(col("prev").as("a"), col("event_type").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val mx = trans.agg(max("cnt").as("mc"))
      val wed = trans.crossJoin(broadcast(mx))
        .select(col("a"), col("b"), (col("mc") - col("cnt") + 1).as("w"))
      val types = wed.select(col("a").as("t"))
        .union(wed.select(col("b").as("t"))).distinct()
        .withColumn("tid", row_number().over(Window.orderBy("t")).cast("long"))
      val e = wed
        .join(types.select(col("t").as("a"), col("tid").as("src")), "a")
        .join(types.select(col("t").as("b"), col("tid").as("dst")), "b")
      Graph.shortestPaths(e, "src", "dst", "w", sources = Seq(1L), rounds = 4)
        .join(types.select(col("tid").as("node"), col("t").as("event_type")),
          "node")
        .select(col("event_type"), col("dist"))
        .orderBy("event_type")
    }),
    // per-state next-event entropy + perplexity: exact counts, each
    // −p·ln p term quantized to DECIMAL(18,8) before the sum (x184 recipe)
    "x207_transition_entropy" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.transitionEntropy(s.table("events"), "user_id", "ts",
          "event_id", "event_type")
        .orderBy("from_type")
    }),
    // strongly connected components (FW-BW, min pivot) of the directed
    // event-type transition graph thresholded at 90% of the max count
    "x206_scc" -> ((s, dir) => {
      reg(s, dir)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = s.table("events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull && col("prev") =!= col("event_type"))
        .groupBy(col("prev").as("a"), col("event_type").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val mx = trans.agg(max("cnt").as("mc"))
      val kept = trans.crossJoin(broadcast(mx))
        .filter(col("cnt") * 10 >= col("mc") * 9)
      // dense ids by name rank (tiny dictionary); min-id pivots then map
      // back to "alphabetically smallest type in the SCC" labels
      val types = kept.select(col("a").as("t"))
        .union(kept.select(col("b").as("t"))).distinct()
        .withColumn("tid", row_number().over(Window.orderBy("t")).cast("long"))
      val e = kept
        .join(types.select(col("t").as("a"), col("tid").as("src")), "a")
        .join(types.select(col("t").as("b"), col("tid").as("dst")), "b")
      Graph.stronglyConnectedComponents(e, "src", "dst")
        .join(types.select(col("tid").as("node"), col("t").as("event_type")),
          "node")
        .join(types.select(col("tid").as("comp"), col("t").as("scc")), "comp")
        .select(col("event_type"), col("scc"), col("converged"))
        .orderBy("event_type")
    }),
    // Heaps-law vocabulary growth: term→min-doc converts the sequential
    // set-union into bucket partials; cumsum runs over 20 bucket rows
    "x205_vocab_growth" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.vocabGrowth(s.table("documents"), "doc_id", "text",
          buckets = 20)
        .select(col("bucket").cast("long").as("bucket"), col("docs_cum"),
          col("tokens_cum"), col("vocab_cum"))
        .orderBy("bucket")
    }),
    // Welch's unequal-variance t on a continuous metric: exact DECIMAL
    // moments per variant, one fixed double chain for t and the WS df
    "x204_welch_ttest" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.welchTTest(
        s.table("events").select(
          (col("user_id") % 2).cast("string").as("variant"), col("value")),
        "variant", "value")
    }),
    // fixed-period periodogram of daily order revenue: driver-computed
    // integer trig tables broadcast to both engines, DECIMAL(38,0) sums
    "x203_periodogram" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.periodogram(s.table("orders"), "o_orderdate",
          "o_totalprice", periods = Seq(7, 30, 91, 365))
        .orderBy("period")
    }),
    // exact modularity decomposition of the x134 LPA partition: per
    // community L_c, D_c and integer numerator 4m·L_c − D_c² — no floats
    "x202_partition_modularity" -> ((s, dir) => {
      reg(s, dir)
      // the distinct edge list feeds BOTH the LPA prelude and modularity's
      // three subtrees (m, degrees, intra-edge join) — staged once so the
      // lineitem scan + distinct exchange run once, not per consumer
      val edges = graft.util.Staging.LocalCheckpoint.stage(s.table("lineitem").select(
        col("l_partkey").as("src"), (col("l_suppkey") + lit(1000000L)).as("dst")).distinct(), "x202-edges")
      val labels = Graph.labelPropagation(edges, "src", "dst", iters = 3)
      Graph.modularity(edges, "src", "dst", labels)
        .select(col("label"), col("n_nodes"), col("d_tot").cast("long")
          .as("d_tot"), col("l_in"), col("q_num").cast("long").as("q_num"))
        .orderBy("label")
    }),
    // synchronous Louvain move sweep over the weighted copurchase graph:
    // exact BIGINT gain comparison 2m·w_ij − k_i·k_j, struct-max argmax
    "x201_louvain_step" -> ((s, dir) => {
      reg(s, dir)
      val edges = Graph.bipartiteProject(s.table("lineitem"), "l_orderkey",
        "l_partkey", maxLeftDegree = 100)
      Graph.louvainStep(edges, "a", "b", "weight")
        .orderBy("node")
    }),
    // inter-event burstiness (Goh–Barabási B): exact integer gap moments
    // under one user-keyed exchange, three-op IEEE epilogue
    "x200_burstiness" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.burstiness(s.table("events"), "user_id", "ts", "event_id")
        .select(col("user_id"), col("n_gaps"), col("sum_us"),
          round(col("burstiness"), 6).as("burstiness"))
        .orderBy("user_id")
    }),
    // token-budget selection: best-first corpus assembly under a global
    // token budget — the running sum is range-partitioned cumsum + carry
    // offsets, never a single-partition window; ranges past the budget
    // are pruned before their window runs
    "x141_token_budget" -> ((s, dir) => {
      reg(s, dir)
      val d = s.table("documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
        TextAnalysis.qualityScore(col("text")).as("pri"))
      Sampling.tokenBudgetSelect(d, "doc_id", "toks", "pri", budget = 15000L)
        .select(col("doc_id"), col("toks"), col("pri"), col("cum_tokens"))
        .orderBy("doc_id")
    }),
    // fractional-epoch mixture: en 2.5 epochs (every doc twice, the
    // deterministic half-share a third time), de 1, fr 0.25 (downsample),
    // es/zh dropped — one narrow explode pass, no shuffle
    "x142_epoch_mixture" -> ((s, dir) => {
      reg(s, dir)
      Sampling.epochMixture(s.table("documents").select("doc_id", "lang"),
          "doc_id", "lang", Map("en" -> 2.5, "de" -> 1.0, "fr" -> 0.25))
        .select(col("doc_id"), col("lang"), col("epoch").cast("long").as("epoch"))
        .orderBy("doc_id", "epoch")
    }),
    // rolling 7-day distinct users from MERGED daily registers — exact
    // rolling distinct needs a 7x re-scan (the `exact` branch shows it);
    // the sketch path merges ≤256 register rows per day instead
    "x138_hll_rolling_distinct" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events").withColumn("day", to_date(col("ts")))
      val daily = Sketches.hllRegisters(ev, Seq("day"), "user_id")
      val days = ev.select(col("day")).distinct()
      val merged = days.as("d").join(daily.as("r"),
          col("r.day") <= col("d.day") &&
            col("r.day") >= date_sub(col("d.day"), 6))
        .groupBy(col("d.day").as("day"), col("r.__j").as("__j"))
        .agg(max(col("r.__mj")).as("__mj"))
      val exact = days.as("d").join(ev.as("e"),
          col("e.day") <= col("d.day") &&
            col("e.day") >= date_sub(col("d.day"), 6))
        .groupBy(col("d.day").as("day"))
        .agg(countDistinct(col("e.user_id")).cast("long").as("exact"))
      Sketches.hllEstimateFromRegisters(merged, Seq("day"))
        .join(exact, Seq("day"))
        .select(col("day"), col("est"), col("v_zero"), col("exact"))
        .orderBy("day")
    }),
    // salted two-phase aggregation: hot grouping keys spread over
    // (key, salt) partials, then combine — the oracle is the PLAIN
    // GROUP BY, so the re-association must be exact (hence the DECIMAL
    // sum; a double sum would change under re-grouping)
    "x139_salted_agg" -> ((s, dir) => {
      reg(s, dir)
      import graft.operators.SkewOps
      import s.implicits._
      SkewOps.saltedAgg(s.table("lineitem"), Seq("l_returnflag"), saltFactor = 8, Seq(
          "sum_qty" -> SkewOps.sumOf($"l_quantity".cast("decimal(18,2)")),
          "cnt" -> SkewOps.countAll,
          "lo" -> SkewOps.minOf($"l_extendedprice"),
          "hi" -> SkewOps.maxOf($"l_extendedprice")))
        .select(col("l_returnflag"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("cnt").cast("long").as("cnt"), col("lo"), col("hi"))
        .orderBy("l_returnflag")
    }),
    // correlated LATERAL subquery (Tier B): per-nation top-2 customers —
    // the dependent-join surface q16's scalar subqueries don't cover
    // Spark 4's WITH RECURSIVE (UnionLoop): the calendar-spine gap-fill
    // — recursion generates the date dimension, a left join zero-fills
    // days a sparse series skipped; the loop is bounded by the literal
    // stop date, not data (the safe recursion shape at any scale)
    "q42_recursive_cte" -> sqlQ("""
      WITH RECURSIVE spine(day) AS (
        SELECT DATE '2024-01-01'
        UNION ALL SELECT date_add(day, 1) FROM spine
        WHERE day < DATE '2024-01-31')
      SELECT t.event_type, date_format(s.day, 'yyyy-MM-dd') AS day,
        CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt
      FROM spine s
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      LEFT JOIN (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2) d
        ON d.event_type = t.event_type AND d.day = s.day
      ORDER BY event_type, day"""),

    "q41_lateral_topn" -> sqlQ("""
      SELECT n.n_name AS nation, t.c_name, t.c_acctbal
      FROM nation n,
      LATERAL (SELECT c_name, c_acctbal FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      ORDER BY nation, c_acctbal DESC, c_name"""),
    // point-in-time feature retrieval: SCD2 dimension versions joined
    // as-of each event's timestamp — the feature-store correctness
    // contract (no future leakage), composed from Scd2 + AsOfJoin
    "x121_pit_join" -> ((s, dir) => {
      reg(s, dir)
      import graft.operators.Scd2
      val cust = s.table("customer")
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      val updated = cust.withColumn("c_acctbal",
        when(pmod(col("c_custkey"), lit(10)) === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
      val dim = Scd2.merge(Scd2.initialize(cust, t0), updated, Seq("c_custkey"),
          Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), t1)
        .select(col("c_custkey").as("user_id"), col("c_acctbal").as("bal"),
          col(Scd2.EffectiveFrom).as("ts"))
      val facts = s.table("events").select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsOfJoin.asOf(facts, dim, Seq("user_id"), "ts", Seq("bal"))
        .select(col("event_id"), col("user_id"), col("right_bal").as("bal_at_event"))
        .orderBy("event_id")
    }),
    // conversion A/B test: chi-square verdict by DECIMAL cross-
    // multiplication against 3.841459 — borderline experiments cannot
    // flip between engines
    "x122_ab_test" -> ((s, dir) => {
      reg(s, dir)
      val perUser = s.table("events").groupBy(col("user_id"))
        .agg(max(col("event_type") === "purchase").as("converted"))
        .withColumn("variant",
          when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B"))
      EventAnalytics.abTest(perUser, "variant", "converted")
    }),
    // length-grouped batching: longest-first global rank (distributed,
    // no single-partition window) cut into fixed batches; the report is
    // per-batch padding waste — all integers
    "x120_length_batches" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("len"))
      Sampling.lengthBatches(docs, "len", "doc_id", batchSize = 64)
        .groupBy("batch_id")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          max(col("len")).as("max_len"), sum(col("len")).as("sum_len"))
        .withColumn("padding_waste",
          (col("n_docs") * col("max_len") - col("sum_len")).cast("long"))
        .orderBy("batch_id")
    }),
    // bipartite projection: orders × parts → the weighted co-purchase
    // graph; quadratic only in capped per-order degree — the graph
    // builder every graph query above composes on
    "x119_copurchase_graph" -> ((s, dir) => {
      reg(s, dir)
      Graph.bipartiteProject(s.table("lineitem"), "l_orderkey", "l_partkey",
          maxLeftDegree = 100)
        .orderBy("a", "b")
    }),
    // cross-source overlap heatmap: fingerprint-keyed join over distinct
    // (fp, source) rows — sources × fingerprints, never documents²
    "x117_source_overlap" -> ((s, dir) => {
      reg(s, dir)
      graft.x.Curation.sourceOverlapMatrix(s.table("documents"), "text", "source")
        .orderBy("src_a", "src_b")
    }),
    // weighted median by token mass: cross-multiplied rational reach
    // test over a RANGE-frame cumsum — no float boundary at the pick
    "x118_weighted_median" -> ((s, dir) => {
      reg(s, dir)
      Profiler.weightedQuantile(s.table("lineitem"), "l_extendedprice",
          "l_quantity", Seq("l_returnflag"))
        .orderBy("l_returnflag")
    }),
    // k-core density gate: iterative peel with cascade to fixpoint — all
    // integer, so the data-dependent round count replays exactly in an
    // unrolled-CTE oracle (extra rounds are no-ops)
    "x115_kcore" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.kCore(e, "src", "dst", k = 30)
        .orderBy("node")
    }),
    // Newman degree assortativity: five exact DECIMAL moments in one
    // aggregation, one closing IEEE division
    "x116_assortativity" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.degreeAssortativity(e, "src", "dst")
    }),
    // link-prediction scores per co-purchase edge: common neighbors via
    // the degree-ordered triangle machinery (each triangle credits all
    // three edges), BIGINT counts, one double division per edge
    "x113_edge_scores" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.edgeNeighborScores(e, "src", "dst")
        .orderBy("a", "b")
    }),
    // FD violation profile: does the candidate determinant actually
    // determine the dependent in this load — all-integer verdicts
    "x114_fd_profile" -> ((s, dir) => {
      reg(s, dir)
      Profiler.functionalDependencies(s.table("orders"), Seq(
          ("o_orderkey", "o_custkey"),
          ("o_custkey", "o_orderpriority"),
          ("o_orderpriority", "o_orderstatus")))
        .orderBy("determinant", "dependent")
    }),
    // survivorship after entity resolution: per-field highest-priority
    // non-null value via ONE lexicographic struct-max aggregation — no
    // per-field window passes, members shuffle once
    "x110_golden_record" -> ((s, dir) => {
      reg(s, dir)
      val c = s.table("customer")
      val feedA = c.select(col("c_custkey").as("cluster"), lit(2).as("prio"),
        (col("c_custkey") * 2).as("rid"),
        when(pmod(col("c_custkey"), lit(3)) === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("seg"),
        col("c_acctbal").as("bal"))
      val feedB = c.select(col("c_custkey").as("cluster"), lit(1).as("prio"),
        (col("c_custkey") * 2 + 1).as("rid"),
        col("c_mktsegment").as("seg"),
        when(pmod(col("c_custkey"), lit(4)) === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal") + 10).as("bal"))
      graft.x.Curation.goldenRecord(feedA.unionByName(feedB), "cluster", "prio", "rid",
          Seq("seg", "bal"))
        .orderBy("cluster")
    }),
    // fixed-radius spatial self-join on an integer grid: 3x3 cell
    // replication on one side, every pair meets exactly once, BIGINT
    // distances — no float epsilon at the radius boundary
    "x111_grid_neighbors" -> ((s, dir) => {
      reg(s, dir)
      val pts = s.table("customer").select(col("c_custkey").as("id"),
        pmod(col("c_custkey") * 37, lit(499)).as("x"),
        pmod(col("c_custkey") * 101, lit(503)).as("y"))
      graft.x.Spatial.gridNeighborPairs(pts, "id", "x", "y", radius = 12)
        .orderBy("id_a", "id_b")
    }),
    // Gopher quality rules in pure integer arithmetic: cross-multiplied
    // thresholds mean no float boundary can flip a flag between engines
    "x112_gopher_flags" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.gopherQualityFlags(s.table("documents"), "text", "doc_id",
          minWords = 20, maxWords = 100000)
        .orderBy("doc_id")
    }),
    // decayed daily revenue signal: every decay weight is a binary
    // exponent and every sum integer/decimal — the EWMA replays
    // bit-for-bit on any layout, unlike a pow(0.5,g) float pipeline
    "x107_ewma" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.ewmaDaily(s.table("events"), "ts", "event_type", "value",
          windowDays = 20)
        .orderBy("event_type", "day")
    }),
    // linear gap reconstruction on a deterministically thinned calendar:
    // one fixed-shape double expression per synthetic day
    "x108_interpolate" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.interpolateDaily(
          s.table("events").filter(dayofmonth(col("ts")) % 3 =!= 0),
          "ts", "event_type", "value")
        .orderBy("event_type", "day")
    }),
    // per-series OLS trend of daily revenue cents vs epoch day: all four
    // moments ride one shuffle as DECIMAL(38,0); IEEE math happens twice
    // per group on exact operands
    "x109_trend" -> ((s, dir) => {
      reg(s, dir)
      val daily = s.table("events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg((sum(col("value").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
        .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")))
      Profiler.trend(daily, "x", "cents", Seq("event_type"))
        .orderBy("event_type")
    }),
    // degree-ordered triangle counting on the co-purchase graph: the
    // orientation bounds wedge fanout by O(√m) — hub skew never builds
    // deg² pairs — and every count is BIGINT with one double per node
    "x106_triangles" -> ((s, dir) => {
      reg(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.triangles(e, "src", "dst")
        .orderBy("node")
    }),
    // exact tf-weighted cosine via the inverted index: integer dot/norm
    // sums through every shuffle, ONE double op per surviving pair —
    // 3-gram terms keep document frequencies (and the join fanout) low
    "x104_tf_cosine" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.tfCosinePairs(s.table("documents"), "text", "doc_id",
          threshold = 0.7, n = 3)
        .orderBy("id_a", "id_b")
    }),
    // BPE round-0 statistics: adjacent char-pair counts weighted by word
    // frequency over the vocabulary (not the corpus) — the argmax is the
    // first tokenizer merge; ties break on (s1, s2) so top-50 is stable
    "x105_bpe_pairs" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.bpePairCounts(
          TextAnalysis.bpeWordInventory(s.table("documents"), "text"))
        .select(col("s1"), col("s2"), col("cnt").cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(50)
    }),
    // co-purchase PageRank: parts linked by order-line adjacency, 5 damped
    // rounds in exact integer nano-rank arithmetic — BIGINT sums are
    // associative, so the fixpoint is bit-identical on any engine/layout
    "x99_pagerank" -> ((s, dir) => {
      reg(s, dir)
      // the fixture duplicates l_linenumber within orders — l_partkey
      // completes a total order so the LEAD sequence is deterministic
      // (equal-key ties can't change the partkey sequence)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val e = s.table("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      Graph.pageRank(e, "src", "dst", iters = 5)
        .orderBy("node")
    }),
    // word2vec preprocessing: frequency-subsampled skip-gram pairs
    // (window 2, t=1e-3) — the drop decision is a salted portable hash
    // against floor(keepProb·2^55), so DuckDB replays the exact multiset
    "x98_skipgram_pairs" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.skipgramPairs(s.table("documents"), "text", "doc_id",
          window = 2, subsampleT = 1e-3, salt = "sg")
        .filter(col("cnt") >= 5)
        .orderBy("center", "context")
    }),
    // PMI collocations: bigrams beating independence at min count 5 —
    // the multi-word-expression mining step before vocab decisions
    "x95_pmi_collocations" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.collocations(s.table("documents"), "text", minCount = 5)
        .orderBy("w1", "w2")
    }),
    // per-column null-rate drift across the mid-January boundary: the
    // data-contract presence check (same null rule both sides, so drift
    // reflects the data, not the probe)
    "x96_null_drift" -> ((s, dir) => {
      reg(s, dir)
      val ev = s.table("events").withColumn("value_n",
        when(col("value") < 100, lit(null).cast("double")).otherwise(col("value")))
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      Profiler.nullRateDrift(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut),
          Seq("value_n", "props"))
        .orderBy("col_name")
    }),
    // stupid-backoff trigram fluency vs an even-doc reference LM: odd docs
    // hit unseen trigrams, so all three backoff tiers fire; per-tier logs
    // quantize to decimal once, making the means engine-replayable
    "x94_stupid_backoff" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      TextAnalysis.stupidBackoffLogProb(docs,
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id")
        .select(col("doc_id"), col("n_trigrams").cast("long").as("n_trigrams"),
          col("mean_nll"))
        .orderBy("doc_id")
    }),
    // k-anonymity release gate: customers in (nation, segment) groups
    // smaller than 15 get both quasi-identifiers masked, auditable via
    // the suppressed flag
    "x92_k_anonymize" -> ((s, dir) => {
      reg(s, dir)
      Privacy.kAnonymize(s.table("customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 15)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("suppressed"))
        .orderBy("c_custkey")
    }),
    // l-diversity audit on the released quasi-groups: a nation where every
    // customer shares one market segment would leak it even at k-anonymity
    "x93_l_diversity" -> ((s, dir) => {
      reg(s, dir)
      Privacy.lDiversityAudit(s.table("customer"), Seq("c_nationkey"),
          "c_mktsegment", l = 3)
        .select(col("c_nationkey"), col("n_rows").cast("long").as("n_rows"),
          col("n_sensitive").cast("long").as("n_sensitive"), col("l_ok"))
        .orderBy("c_nationkey")
    }),
    // ANN evaluation harness: recall@10 of the int8-quantized retriever
    // (x81) against exact float brute force (x5) — both rankings are
    // engine-replayable, so the recall numbers are too
    "x91_recall_at_k" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val exact = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
        "vec_id", "q_id", "embedding", k = 10)
      val codes = emb.select(col("vec_id"), Similarity.int8Codes(col("embedding")).as("codes"))
      val approx = Similarity.int8TopK(codes,
        codes.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("codes")),
        "vec_id", "q_id", "codes", k = 10)
      Similarity.recallAtK(approx, exact, "q_id", "vec_id", k = 10)
        .orderBy("q_id")
    }),
    // PSI drift monitor: order-value distribution pre- vs post-1998 on a
    // fixed 20-bucket grid; per-bucket contributions quantized to decimal
    // so the reported PSI is an exact sum — the drift verdict can't flip
    // across partitionings or engines
    // PSI drift driven from ONE JSON config: the two snapshots are SQL
    // steps, the drift is a psiDrift functionName step. The former x90
    // entry invoked Profiler.psiDrift directly — merged here in r13
    // (x23→x25 template); the operator's decimal-exactness contract is
    // unchanged, so the oracle carries over verbatim.
    "etl_psi_config" -> ((s, dir) => {
      reg(s, dir)
      val cfg = graft.config.JobConfig.parse(
        s"""{
           |"jobName": "psi_from_config",
           |"inputs": [{"dataFrameName": "ord", "format": "parquet",
           |  "path": "$dir/orders.parquet"}],
           |"transformations": [
           |  {"functionName": "pre_cut", "outputDFName": "pre",
           |   "sqlQuery": "SELECT o_totalprice FROM ord WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"},
           |  {"functionName": "post_cut", "outputDFName": "post",
           |   "sqlQuery": "SELECT o_totalprice FROM ord WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'"},
           |  {"functionName": "psiDrift", "outputDFName": "drift",
           |   "options": {"input": "pre", "against": "post",
           |     "valueCol": "o_totalprice", "nBuckets": "20",
           |     "lo": "0.0", "hi": "500000.0"}},
           |  {"functionName": "project",
           |   "sqlQuery": "SELECT * FROM drift ORDER BY bucket",
           |   "outputDFName": "drift_out", "countValidation": 1}]
           |}""".stripMargin)
      new graft.run.Orchestrator(s).run(cfg)
    }),
    // πps weighted sampling: documents kept with probability ∝ n_chars
    // (token-mass-preserving corpus sampling); the inclusion test is
    // exact integer arithmetic on a salted portable hash, so the kept
    // set replays bit-for-bit in any engine
    "x89_weighted_sample" -> ((s, dir) => {
      reg(s, dir)
      Sampling.weightedSample(s.table("documents"), "doc_id", "n_chars", n = 150)
        .select(col("doc_id"), col("n_chars"), col("p_incl"))
        .orderBy("doc_id")
    }),
    // DSIR data selection (Xie et al. 2023): hashed-unigram
    // log-likelihood-ratio weights against a "looks like src0" target
    // corpus, then Gumbel top-100 resample — exact decimal λ-sums and a
    // hash-derived Gumbel key make both the weights and the ranking
    // engine-replayable
    "x88_dsir_select" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      TextAnalysis.dsirResample(docs, docs.filter(col("source") === "src0"),
          "text", "doc_id", n = 100, nBuckets = 4096)
        .select(col("doc_id"), col("n_tokens"),
          col("llr").cast("double").as("llr"),
          col("sel_key").cast("double").as("sel_key"))
        .orderBy("doc_id")
    }),
    // short-to-long curriculum per language: NTILE phases + percent_rank
    // over token count, exchange-parallel per group
    "x87_curriculum_phases" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.curriculumPhases(docs, "n_tokens", "doc_id", Seq("lang"), nPhases = 5)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("phase").cast("long").as("phase"),
          round(col("pct_rank"), 6).as("pct_rank"))
        .orderBy("doc_id")
    }),
    // coarse-to-fine serving stack: JL shortlist (50 of 500) bounds the
    // exact full-vector rerank — the float corpus is probed, not scanned
    "x86_two_stage_topk" -> ((s, dir) => {
      reg(s, dir)
      val signs = Similarity.jlSigns(64, 16)
      val emb = s.table("embeddings")
      Similarity.twoStageTopK(emb,
          emb.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("embedding")),
          "vec_id", "q_id", "embedding", signs, shortlist = 50, k = 10)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),
    // median/MAD outlier fences per order priority — moment-free, so the
    // fence survives a polluted group
    "x85_robust_outliers" -> ((s, dir) => {
      reg(s, dir)
      Profiler.robustOutliers(s.table("orders"), "o_totalprice",
          Seq("o_orderpriority"), z = 3.0)
        .select(col("o_orderpriority"), round(col("med"), 4).as("med"),
          round(col("mad"), 4).as("mad"), col("n"), col("n_outliers"))
        .orderBy("o_orderpriority")
    }),
    // content-defined chunking: %5==0 docs get re-crawled with an injected
    // banner; CDC boundaries re-align after the insertion, so the shared
    // tail surfaces as cross-doc chunk hashes (fixed-size framing would
    // lose every chunk after the edit)
    "x84_cdc_chunks" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val marked = docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("SYNDICATED VIA MIRROR NETWORK :: "), col("text")).as("text"),
            col("lang"), col("source"), col("n_chars")))
      Dedup.contentDefinedChunks(marked, "text", "doc_id")
        .groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= 2)
        .orderBy("chunk_hash")
    }),
    // margin-based bitext mining: best target per source by hubness-
    // corrected margin over even/odd corpus halves
    "x83_margin_mining" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      Similarity.marginMine(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          emb.filter(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", k = 4)
        .select(col("src_id"), col("tgt_id"),
          round(col("cosine"), 6).as("cosine"),
          round(col("margin"), 6).as("margin"))
        .orderBy("src_id")
    }),
    // the corpus release summary: one grouped agg composing the library's
    // own token count + fingerprint primitives
    "x82_dataset_card" -> ((s, dir) => {
      reg(s, dir)
      graft.x.Curation.datasetCard(s.table("documents"), "text", Seq("source", "lang"))
        .orderBy("source", "lang")
    }),
    // int8-quantized retrieval: 4x smaller vectors, exact BIGINT dot /
    // norm sums (order-independent), one double division at the finish
    "x81_int8_quantization" -> ((s, dir) => {
      reg(s, dir)
      val codes = s.table("embeddings").select(col("vec_id"),
        Similarity.int8Codes(col("embedding")).as("codes"))
      val q = codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("codes"))
      Similarity.int8TopK(codes, q, "vec_id", "q_id", "codes", k = 10)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),
    // JL projection as the coarse ANN pass: rank by cosine in the
    // 16-dim projected space (4x smaller vectors); floats stored, exact
    // double ranking — the re-rank-with-full-vectors step is x5 itself
    "x80_random_projection" -> ((s, dir) => {
      reg(s, dir)
      val signs = Similarity.jlSigns(64, 16)
      // staged: the 1,024-term unrolled projection feeds BOTH the corpus
      // side and the filtered query side of the top-k — without lineage
      // truncation each consumer re-evaluates it (the multiply-consumed
      // unstaged-frame defect class; at 100 TB the recompute doubles the
      // dominant scan)
      val proj = graft.util.Staging.LocalCheckpoint.stage(
        Similarity.jlProjectCols(
            s.table("embeddings").select("vec_id", "embedding"),
            "embedding", signs, "pvec")
          .withColumn("pvec", col("pvec").cast("array<float>")),
        "x80-projected")
      val q = proj.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("pvec"))
      Similarity.bruteForceTopK(proj, q, "vec_id", "q_id", "pvec", k = 10)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("q_id", "rank")
    }),
    "x79_delta_skipping" -> ((s, dir) => {
      reg(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft-x79").toString + "/t"
      val orders = s.table("orders").repartitionByRange(8, col("o_orderdate"))
      graft.sources.DeltaLogWriter.write(orders, base,
        statsCols = Seq("o_orderdate"))
      graft.sources.DeltaLogReader.readPruned(s, base, "o_orderdate",
          "1997-01-01 00:00:00", "1997-12-31 23:59:59")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        .select(col("month"), col("n_orders"),
          col("rev").cast("double").as("revenue"))
        .orderBy("month")
    }),

    // eval-leakage guard through the Bloom-filter scale path: every 13th
    // doc stands in for a benchmark set; training docs colliding on
    // normalized fingerprint are dropped. The result must be IDENTICAL to
    // the exact anti-join (bloom has no false negatives; false positives
    // are removed by the exact verify), so it carries the exact
    // definition's oracle SQL — the former x23 entry, merged here in r12
    // (the exact path stays asserted by the bloom≡exact equality suites)
    "x25_bloom_decontaminate" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      TextAnalysis.bloomDecontaminate(docs, bench, "text", "doc_id",
          expectedItems = 1000L)
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // z-order layout: orders z-ordered on (price cell, order day); the
    // checked output is the per-curve-segment bounding box of both
    // dimensions — tight boxes ARE the multi-dim pruning property (each
    // output file's min/max stats cover a small hyper-rectangle)
    "x26_zorder_layout" -> ((s, dir) => {
      reg(s, dir)
      val o = s.table("orders")
        .withColumn("xc", graft.x.Layout.cell(col("o_totalprice"), 0.0, 500000.0, 10))
        // anchored at/below the data minimum (orders span 1992-1998):
        // a mid-range anchor fed NEGATIVE day cells into the interleave,
        // aliasing pre-anchor days into the top of the cell range and
        // weakening the tight-box clustering (ADVICE r2)
        .withColumn("yc", datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))).cast("long"))
      graft.x.Layout.zOrder(o, col("xc"), col("yc"), bits = 12)
        .groupBy(shiftright(col("z"), 14).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("xc").as("min_x"), max("xc").as("max_x"),
          min("yc").as("min_y"), max("yc").as("max_y"))
        .orderBy("bucket")
    }),

    // crawl-dedup URL canonicalization over deterministically-messy URLs:
    // mixed-case scheme/host, default port, tracking params in every
    // position, fragments — canonical forms collapse to the dedup key
    "x50_url_canonicalize" -> ((s, dir) => {
      reg(s, dir)
      val url = concat(
        lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443/Page/"),
        col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("?utm_source=feed&utm_campaign=x&id=1")).otherwise(lit("?id=1")),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("&fbclid=XYZ#frag"))
          .otherwise(lit("#sec")))
      s.table("documents")
        .select(col("doc_id"), url.as("url"),
          graft.x.WebText.canonicalizeUrl(url).as("canonical"))
        .orderBy("doc_id")
    }),

    // crawl consolidation: re-crawls and tracker variants of one page
    // collapse onto the canonical URL, and the richest capture wins
    // (keep-best by content size, deterministic tiebreak) — V2's routed
    // dedup machinery on the canonicalization key
    "x64_url_dedup_keep_best" -> ((s, dir) => {
      reg(s, dir)
      val url = concat(
        lit("HTTPS://"), upper(col("source")), lit(".example.com/page/"),
        pmod(col("doc_id"), lit(100)).cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("?utm_source=rss")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("#top")).otherwise(lit("")))
      val withCanon = s.table("documents").select(col("doc_id"), col("n_chars"),
        graft.x.WebText.canonicalizeUrl(url).as("canonical"))
      Validations.dedup(withCanon, Seq("canonical"), Seq("n_chars", "doc_id")).good
        .select(col("doc_id"), col("canonical"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // per-domain corpus stats over synthesized (deterministic) URLs:
    // parse_url host extraction + registrable-domain rollup — the groupBy
    // a crawl pipeline uses for domain-level quality/robots decisions
    "x27_domain_stats" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents").withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/"),
          col("lang"), lit("/"), col("doc_id").cast("string")))
      docs.withColumn("host", graft.x.WebText.domainOf(col("url")))
        .withColumn("domain", graft.x.WebText.registrableDomain(col("host")))
        .groupBy("host", "domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("host")
    }),

    // crawl-HTML boilerplate removal: script/style subtrees, comments,
    // tags, entities, whitespace — the page is synthesized around the
    // fixture text so the oracle can rebuild and strip it identically
    "x28_html_strip" -> ((s, dir) => {
      reg(s, dir)
      val page = concat(
        lit("<html><head><style>p {color: red}</style><title>t</title></head><body><h1>"),
        col("lang"),
        lit("</h1><!-- boilerplate --><p>"), col("text"),
        lit(" &amp; more &lt;raw&gt; &quot;quoted&quot;&nbsp;end</p>" +
          "<script>var x = 1 < 2;</script></body></html>"))
      s.table("documents")
        .select(col("doc_id"), graft.x.WebText.stripHtml(page).as("clean"))
        .orderBy("doc_id")
    }),

    "x29_accent_fold" -> ((s, dir) => {
      reg(s, dir)
      val accented = concat(lit("Café Über Niño À L'École "), col("text"))
      s.table("documents")
        .select(col("doc_id"),
          substring(graft.x.WebText.foldAccents(lower(accented)), 1, 60).as("folded"))
        .orderBy("doc_id")
    }),

    // unigram-LM surprisal quality score (perplexity proxy); decimal-
    // quantized logs make the distributed sum exact, hence hash-matchable
    // IVF-PQ's other half: PQ-encode the corpus (8 subspaces × argmin
    // code) and answer top-k by asymmetric distance — the corpus side of
    // the query never touches floats, only 8 table lookups per vector
    // epoch shuffle: reproducible (shard, pos) permutation — parallel
    // per-shard windows, never a single-partition global sort
    "x32_epoch_shuffle" -> ((s, dir) => {
      reg(s, dir)
      Sampling.shuffleShards(s.table("documents"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),

    "x45_daily_deltas" -> ((s, dir) => {
      reg(s, dir)
      val sparse = s.table("events").filter(pmod(col("event_id"), lit(37)) === 0)
      EventAnalytics.dailyDeltas(sparse, "ts", "event_type")
        .orderBy("event_type", "day")
    }),
    "x76_sessionize" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.sessionStats(s.table("events"), "user_id", "ts",
          "event_id", gapSeconds = 1800)
        .select(col("user_id"), col("session_idx"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("session_end"),
          col("n_events"), col("duration_us"))
        .orderBy("user_id", "session_idx")
    }),

    "x44_edit_distance" -> ((s, dir) => {
      reg(s, dir)
      // block on (source, 20-char length band): near-identical docs share
      // both, and the band divides the per-block quadratic
      val blocked = s.table("documents").withColumn("blk",
        concat(col("source"), lit("|"), floor(col("n_chars") / 20).cast("string")))
      Dedup.editDistancePairs(blocked, "text", "doc_id",
          blockCol = "blk", maxDist = 40)
        .orderBy("id_a", "id_b")
    }),
    // token-LCS verify over the same blocks as x44: the reorder-tolerant
    // sibling of edit distance, nested-fold DP (x215's machinery),
    // exact cross-multiplied ratio threshold
    "x216_lcs_pairs" -> ((s, dir) => {
      reg(s, dir)
      val blocked = s.table("documents").withColumn("blk",
        concat(col("source"), lit("|"), floor(col("n_chars") / 20).cast("string")))
      Dedup.lcsPairs(blocked, "text", "doc_id", blockCol = "blk",
          minRatioPct = 60, prefixTokens = 40)
        .orderBy("id_a", "id_b")
    }),

    "x43_gap_fill" -> ((s, dir) => {
      reg(s, dir)
      // ~3% of events → guaranteed calendar gaps per type
      val sparse = s.table("events").filter(pmod(col("event_id"), lit(37)) === 0)
      EventAnalytics.fillDailyGaps(sparse, "ts", "event_type")
        .orderBy("event_type", "day")
    }),

    "x42_standardize" -> ((s, dir) => {
      reg(s, dir)
      Profiler.standardize(s.table("events"), "value", Seq("event_type"))
        .select(col("event_id"), col("event_type"), round(col("value_z"), 6).as("z"))
        .orderBy("event_id")
    }),

    "x41_correlation" -> ((s, dir) => {
      reg(s, dir)
      Profiler.correlationMatrix(s.table("lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"), scale = 2)
        .orderBy("col_a", "col_b")
    }),

    "x40_top_terms" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.topTermsPerGroup(s.table("documents"), "text", "lang", k = 5)
        .orderBy("lang", "rank")
    }),

    "x39_winsorize" -> ((s, dir) => {
      reg(s, dir)
      // clip the heavy-tailed price column at [P5, P95]; ROUND(…,4) absorbs
      // any 1-ulp quantile difference between engines (same trick as q31)
      Profiler.winsorize(s.table("lineitem"), "l_extendedprice", 0.05, 0.95)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          round(col("l_extendedprice_w"), 4).as("clipped"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "clipped")
    }),

    "x38_group_cap" -> ((s, dir) => {
      reg(s, dir)
      Sampling.capPerGroup(s.table("documents"), "source", "doc_id", k = 10)
        .select("doc_id", "source").orderBy("doc_id")
    }),

    "x37_ngram_counts" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.ngramCounts(s.table("documents"), "text", n = 3, minCount = 3L)
        .orderBy("gram")
    }),

    "v3_ref_integrity" -> ((s, dir) => {
      reg(s, dir)
      // corrupt ~1% of supplier FKs, then catch exactly those as orphans
      val li = s.table("lineitem").select(col("l_orderkey"), col("l_linenumber"),
        when(pmod(col("l_orderkey") + col("l_linenumber"), lit(97)) === 0,
          col("l_suppkey") + 1000000L).otherwise(col("l_suppkey")).as("l_suppkey"))
      Validations.refIntegrityCheck(li, s.table("supplier"),
          Seq("l_suppkey" -> "s_suppkey"))
        .bad.orderBy("l_orderkey", "l_linenumber")
    }),

    "v4_accepted_values" -> ((s, dir) => {
      reg(s, dir)
      Validations.acceptedValues(s.table("events")
          .select(col("event_id"), expr("NULLIF(event_type, 'signup')").as("event_type")),
          "event_type", Seq("click", "view", "purchase"))
        .bad.orderBy("event_id")
    }),

    "x36_histogram" -> ((s, dir) => {
      reg(s, dir)
      Profiler.histogram(s.table("orders"), "o_totalprice",
          nBuckets = 20, lo = 0.0, hi = 600000.0)
        .orderBy("bucket")
    }),

    "etl_pipeline_e2e" -> ((s, dir) => {
      reg(s, dir)
      // the reference DAG shape (example-shareprice.py:148-153) end to end
      // THROUGH the declarative surface: JSON configs → Orchestrator phases
      // → PipelineRunner steps → parquet sinks, then the final table is
      // oracle-checked — this verifies the config machinery itself, not
      // just the operators it dispatches to
      val base = java.nio.file.Files.createTempDirectory("graft-e2e").toString
      val fetch = graft.config.JobConfig.parse(
        s"""{
           |"jobName": "fetch_prices",
           |"inputs": [
           |  {"dataFrameName": "orders_in", "format": "parquet", "path": "$dir/orders.parquet"},
           |  {"dataFrameName": "lineitem_in", "format": "parquet", "path": "$dir/lineitem.parquet",
           |   "selectColumns": ["l_orderkey", "l_extendedprice"]}],
           |"transformations": [{"functionName": "stage",
           |  "sqlQuery": "SELECT CAST(o.o_orderdate AS DATE) AS trade_date, l.l_extendedprice FROM orders_in o JOIN lineitem_in l ON o.o_orderkey = l.l_orderkey",
           |  "outputDFName": "prices"}],
           |"sinks": [{"dataFrameName": "prices", "format": "parquet",
           |  "path": "$base/prices", "savemode": "overwrite"}]
           |}""".stripMargin)
      val calc = graft.config.JobConfig.parse(
        s"""{
           |"jobName": "calculate_daily_range",
           |"inputs": [{"dataFrameName": "prices", "format": "parquet", "path": "$base/prices"}],
           |"validations": [
           |  {"type": "nullValueCheck", "dataFrameName": "prices", "primaryKeys": ["trade_date"]}],
           |"transformations": [{"functionName": "range",
           |  "sqlQuery": "SELECT trade_date, CAST(MAX(l_extendedprice) - MIN(l_extendedprice) AS DOUBLE) AS price_range, CAST(COUNT(*) AS BIGINT) AS n_lines FROM prices GROUP BY trade_date",
           |  "outputDFName": "ranges", "countValidation": 1}],
           |"sinks": [{"dataFrameName": "ranges", "format": "parquet",
           |  "path": "$base/ranges", "savemode": "overwrite"}]
           |}""".stripMargin)
      new graft.run.PipelineRunner(s).run(Seq(
        graft.run.PipelineStep("fetch_prices", fetch),
        graft.run.PipelineStep("calculate_daily_range", calc)))
      s.read.parquet(s"$base/ranges").orderBy("trade_date")
    }),

    "etl_curation_config" -> ((s, dir) => {
      reg(s, dir)
      // the whole x60 curation pipeline from ONE JSON config, zero Scala:
      // a functionName step dispatches the registered `curate` operator
      // (spark.json:54-65's functionName half, closed in r12 — see
      // graft.run.TransformFunctions), then a plain SQL step projects the
      // oracle-checked columns. Mirrors x60_curate_e2e through
      // run/Orchestrator, so the dispatch machinery itself is the thing
      // under oracle here.
      val cfg = graft.config.JobConfig.parse(
        s"""{
           |"jobName": "curation_from_config",
           |"inputs": [{"dataFrameName": "docs", "format": "parquet",
           |  "path": "$dir/documents.parquet"}],
           |"transformations": [
           |  {"functionName": "curate", "outputDFName": "curated",
           |   "options": {"input": "docs", "textCol": "text", "idCol": "doc_id"}},
           |  {"functionName": "project",
           |   "sqlQuery": "SELECT doc_id, lang, split FROM curated ORDER BY doc_id",
           |   "outputDFName": "curated_out", "countValidation": 1}]
           |}""".stripMargin)
      new graft.run.Orchestrator(s).run(cfg)
    }),

    "etl_upsert_merge" -> ((s, dir) => {
      reg(s, dir)
      // seed the dimension with all suppliers, then upsert a batch that
      // rewrites every %7==0 row (+1000 balance) and adds new high keys
      val base = java.nio.file.Files.createTempDirectory("graft-ups").toString
      val dim = s"$base/dim"
      val sup = s.table("supplier").select(col("s_suppkey"), col("s_name"),
        col("s_acctbal").cast("decimal(18,2)").as("bal"))
      Upsert.upsert(s, sup, dim, Seq("s_suppkey"))
      val batch = sup.filter(pmod(col("s_suppkey"), lit(7)) === 0)
        .withColumn("bal", col("bal") + 1000)
        .unionByName(sup.filter(pmod(col("s_suppkey"), lit(13)) === 0)
          .withColumn("s_suppkey", col("s_suppkey") + 500000L)
          .withColumn("s_name", concat(lit("NEW-"), col("s_name"))))
      Upsert.upsert(s, batch, dim, Seq("s_suppkey"))
      graft.sources.VersionedParquet.read(s, dim)
        .select(col("s_suppkey"), col("s_name"), col("bal").cast("double").as("bal"))
        .orderBy("s_suppkey")
    }),

    "etl_incremental_agg" -> ((s, dir) => {
      reg(s, dir)
      // materialized-view maintenance over the versioned table's change
      // feed: two appends then a shrinking overwrite (retractions), each
      // followed by a delta refresh — the final state must equal the
      // direct aggregate of the last snapshot (the oracle's batch SQL)
      val base = java.nio.file.Files.createTempDirectory("graft-incr").toString
      val src = s"$base/src"; val state = s"$base/state"
      // each commit is a slice of a small dimension-sized feed: write it as
      // few files (32 near-empty parts per commit would tax the 3 change-feed
      // re-reads for no parallelism gain — same reasoning as formats_roundtrip)
      val orders = s.table("orders").select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price")).repartition(4)
      import graft.sources.VersionedParquet
      VersionedParquet.write(orders.filter(pmod(col("o_orderkey"), lit(4)) === 0), src, "overwrite")
      VersionedParquet.write(orders.filter(pmod(col("o_orderkey"), lit(4)) === 1), src, "append")
      // first refresh catches up across BOTH commits in one delta pass
      IncrementalAgg.refresh(s, src, state, Seq("o_custkey"), Seq("price"))
      VersionedParquet.write(orders.filter(pmod(col("o_orderkey"), lit(8)) < 2), src, "overwrite")
      IncrementalAgg.refresh(s, src, state, Seq("o_custkey"), Seq("price"))
      VersionedParquet.read(s, state)
        .select(col("o_custkey"), col("cnt").cast("long").as("n_orders"),
          col("sum_price").cast("double").as("total_price"))
        .orderBy("o_custkey")
    }),

    "q36_funnel" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.funnel(s.table("events"), "user_id", "ts", "event_id",
          "event_type", Seq("signup", "view", "click", "purchase"))
        .orderBy("stage_idx")
    }),

    "q39_exists_subquery" -> sqlQ("""
      SELECT c.c_custkey, c.c_name
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
                          AND o2.o_totalprice < 1000)
      ORDER BY c.c_custkey"""),

    "q38_funnel_windowed" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.funnelWithin(s.table("events"), "user_id", "ts", "event_id",
          "event_type", Seq("signup", "view", "click", "purchase"), maxGap = "3 days")
        .orderBy("stage_idx")
    }),

    "q37_retention" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.retention(s.table("events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    }),

    // first-order path analysis: (event → next event) counts + per-source
    // transition probability over each user's time-ordered history
    "q40_event_transitions" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.transitionMatrix(s.table("events"),
          "user_id", "ts", "event_id", "event_type")
        .orderBy("from_type", "to_type")
    }),

    // the 100 TB profile: HLL++ cardinalities keep the whole profile ONE
    // streaming agg pass — no Expand, no input duplication per distinct
    // column (the exact mode pays both; it runs here as the verification-
    // scale twin, its n_distinct oracle-checked directly as exact_nd).
    // Checked contract mirrors q23: non_null/nulls/min/max are bit-exact,
    // exact_nd is bit-exact, and each HLL estimate must land within 10%
    // (≈2σ at the default 5% rsd) of the exact cardinality. The Expand-free
    // approx plan shape is asserted in EventAnalyticsSpec ("profiler approx
    // mode"). This single query covers BOTH Profiler modes — the former
    // standalone exact entry (x33_profile) was a strict subset and was
    // merged away (VERDICT r10 #7, rationale in COVERAGE.md).
    "x33b_profile_approx" -> ((s, dir) => {
      reg(s, dir)
      val df = s.table("orders").select(col("o_orderkey"), col("o_custkey"),
        expr("NULLIF(o_orderstatus, 'O')").as("status_nullable"), col("o_orderpriority"))
      val cols = Seq("o_orderkey", "o_custkey", "status_nullable", "o_orderpriority")
      val approx = Profiler.profile(df, cols, exact = false)
      // the exact twin judges the envelope AND surfaces its own exact
      // distinct count for the oracle — at scale the approx profile runs
      // alone (the whole point), so the comparison stays out of the
      // operator and in this checked contract
      val exact = Profiler.profile(df, cols).select(col("column_name"),
        col("n_distinct").as("__exact_nd"))
      approx.join(exact, Seq("column_name"))
        .select(col("column_name"), col("non_null"), col("nulls"),
          (abs(col("n_distinct").cast("double") - col("__exact_nd")) <=
            lit(0.1) * col("__exact_nd")).as("nd_within_10pct"),
          col("__exact_nd").cast("long").as("exact_nd"),
          col("min_value"), col("max_value"))
        .orderBy("column_name")
    }),

    "x34_anomaly" -> ((s, dir) => {
      reg(s, dir)
      EventAnalytics.dailyAnomalies(s.table("events"), "ts", "event_type", z = 2)
        .orderBy("event_type", "day")
    }),

    "x35_mixture_rebalance" -> ((s, dir) => {
      reg(s, dir)
      // 3:1:1:1 target mix over four sources; other sources dropped
      Sampling.mixtureRebalance(s.table("documents"), "doc_id", "source",
          Map("src0" -> 3L, "src1" -> 1L, "src2" -> 1L, "src3" -> 1L))
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    }),

    // α=0.5 temperature flattening over the (en-heavy) language mix:
    // weights = isqrt(counts), thresholds exact-integer, fully replayable
    "x61_temperature_mix" -> ((s, dir) => {
      reg(s, dir)
      Sampling.temperatureRebalance(s.table("documents"), "doc_id", "lang",
          Seq("de", "en", "es", "fr", "zh"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }),

    "x31_pq_topk" -> ((s, dir) => {
      reg(s, dir)
      val emb = s.table("embeddings")
      val cb = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("code"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding"))
      Similarity.pqTopK(emb, queries, cb, "vec_id", "q_id", "code", "embedding",
          subspaces = 8, subDim = 8, k = 5)
        .orderBy("q_id", "rank")
    }),

    "x30_unigram_quality" -> ((s, dir) => {
      reg(s, dir)
      // mean_nll is emitted UNROUNDED: the decimal sum is exact, so the
      // final double division is one IEEE op both engines agree on
      // bit-for-bit, while ROUND at a half-way boundary is not (2/500
      // rows flipped the 6th decimal between HALF_UP and round-half-even)
      TextAnalysis.unigramLogProb(s.table("documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("mean_nll"))
        .orderBy("doc_id")
    }),

    // the composed curation pipeline: quality gate → exact dedup →
    // near-dup cluster keep-one → deterministic split, end-to-end as one
    // operator — the oracle replays all four stages over the same corpus
    "x60_curate_e2e" -> ((s, dir) => {
      reg(s, dir)
      graft.x.Curation.curate(s.table("documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id")
    }),

    // the pipeline's lineage surface: docs remaining after each stage
    "x62_curation_report" -> ((s, dir) => {
      reg(s, dir)
      graft.x.Curation.curationReport(s.table("documents"), "text", "doc_id")
        .orderBy("stage")
    }),

    // row-level lineage off the same stage chain: each document's final
    // disposition (which stage dropped it / which split kept it) plus the
    // surviving representative that stands in for the two duplicate classes
    "x73_curation_lineage" -> ((s, dir) => {
      reg(s, dir)
      graft.x.Curation.curationLineage(s.table("documents"), "text", "doc_id")
        .select(col("doc_id"), col("outcome"),
          col("kept_by").cast("long").as("kept_by"))
        .orderBy("doc_id")
    }),

    // the bigram tier of the same fluency stack: add-one-smoothed
    // transition NLL, decimal-exact like x30 (raw -ln cast ONCE to
    // DECIMAL(18,8), exact decimal per-doc sums, one final IEEE division)
    "x59_bigram_quality" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.bigramLogProb(s.table("documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams").cast("long").as("n_bigrams"),
          col("mean_nll"))
        .orderBy("doc_id")
    }),

    "x24_repetition_filter" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.repetitionStats(s.table("documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          round(col("uniq_ratio"), 4).as("uniq_ratio"),
          round(col("top_share"), 4).as("top_share"), col("keep"))
        .orderBy("doc_id")
    }),

    "x56_ngram_repetition" -> ((s, dir) => {
      reg(s, dir)
      TextAnalysis.ngramRepetitionStats(s.table("documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_chars"),
          round(col("top_share"), 4).as("top_share"),
          round(col("dup_frac"), 4).as("dup_frac"), col("keep"))
        .orderBy("doc_id")
    }),

    // ---- multimodal plumbing (SURVEY.md §2.9 X5) ----
    "mm1_meta_filter" -> ((s, dir) => {
      reg(s, dir)
      val media = Multimodal.synthesizeFromText(s.table("documents"), "doc_id", "text")
      Multimodal.filterByMeta(media, "image", minWidth = 200)
        .select(col("media_id"), col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("media_id")
    }),

    // The stub featurizer is pure integer/double arithmetic over the
    // payload bytes (sequential double fold), so the oracle replays it —
    // including the Java-long checksum wraparound (HUGEINT mod 2^64) and
    // every float feature value — exactly.
    "mm2_features" -> ((s, dir) => {
      reg(s, dir)
      val media = Multimodal.synthesizeFromText(s.table("documents"), "doc_id", "text")
      Multimodal.extractFeatures(s, media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"),
          col("checksum"), posexplode(col("features")))
        .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          col("pos").cast("long").as("idx"), col("col").as("feat"))
        .orderBy("media_id", "idx")
    }),

    "mm3_frame_sample" -> ((s, dir) => {
      reg(s, dir)
      val media = Multimodal.synthesizeFromText(s.table("documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, everyMs = 10000)
        .select(col("media_id"), col("frame_ms"))
        .orderBy("media_id", "frame_ms")
    }),

    // Perceptual-hash media near-dup: every 7th doc gets a "re-encoded"
    // copy (one trailing byte appended — distinct BYTES, so exactByContent
    // keeps both) and the pHash pigeonhole join must recover exactly the
    // copy pairs plus whatever organically-close feature pairs exist. The
    // stub featurizer + the pHash sign fold are deterministic arithmetic,
    // so DuckDB replays hash and pairs bit-for-bit (full O(n²) join on the
    // oracle side — the pigeonhole bucketing is the thing under test).
    "mm4_phash_neardup" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val reenc = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("text", concat(col("text"), lit(".")))
      val media = Multimodal.synthesizeFromText(
        docs.unionByName(reenc), "doc_id", "text")
      val feats = Multimodal.extractFeatures(s, media).toDF()
      Multimodal.phashNearDupPairs(feats, "media_id", "features", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // The composed video-dedup pipeline: frame-sample → per-frame decode
    // (stub seam) → per-frame pHash → aligned-frame bucket join → matched-
    // frame fraction. Every other synthetic video gets a re-encoded copy
    // at doc_id+300000 — the shift preserves kind (300000 ≡ 0 mod 3) and
    // durationMs (300000·137 ≡ 0 mod 60000), so the copy lives on the
    // SAME frame grid while its payload differs; the pipeline must
    // recover the copy pairs from frame content alone.
    "mm5_video_neardup" -> ((s, dir) => {
      reg(s, dir)
      val docs = s.table("documents")
      val reenc = docs.filter(pmod(col("doc_id"), lit(6)) === 5)
        .withColumn("doc_id", col("doc_id") + 300000L)
        .withColumn("text", concat(col("text"), lit(".")))
      val media = Multimodal.synthesizeFromText(
        docs.unionByName(reenc), "doc_id", "text")
      Multimodal.videoNearDupPairs(s, media, everyMs = 10000,
          maxHamming = 2, minMatchFrac = 0.5)
        .select(col("id_a"), col("id_b"),
          col("n_matched").cast("long").as("n_matched"), col("match_frac"))
        .orderBy("id_a", "id_b")
    }),

    // shot-boundary detection: per-video lag window over sampled-frame
    // pHashes — a cut is a >= minHamming jump; frames never leave their
    // video, so there is NO join surface (the cheap precursor to
    // per-scene keyframe sampling in a video curation pipeline)
    "mm6_scene_cuts" -> ((s, dir) => {
      reg(s, dir)
      val media = Multimodal.synthesizeFromText(s.table("documents"),
        "doc_id", "text")
      Multimodal.sceneCuts(s, media, everyMs = 10000, minHamming = 3)
        .orderBy("media_id", "cut_ms")
    }),
    // audio activity segments: window decode through the stub seam,
    // exact-decimal mean-energy threshold, gaps-and-islands rollup
    "mm7_audio_segments" -> ((s, dir) => {
      reg(s, dir)
      val media = Multimodal.synthesizeFromText(s.table("documents"),
        "doc_id", "text")
      Multimodal.audioActivitySegments(s, media, everyMs = 5000)
        .select(col("media_id"), col("seg_start_ms").cast("long")
          .as("seg_start_ms"), col("seg_end_ms").cast("long")
          .as("seg_end_ms"), col("n_windows"), col("avg_energy"))
        .orderBy("media_id", "seg_start_ms")
    })
  )

  /** Shared x53/x55 oracle CTE chain: the leak fixture, benchmark/train
    * window grams, and the merged leak extents (`ext`), with `train` and
    * `ttoks` left in scope for x55's rebuild. */
  private val passageLeakCtes: String = """bench AS (
        SELECT doc_id, text || ' judge the model answer on this exact benchmark prompt please carefully' AS text
        FROM documents WHERE doc_id % 13 = 0),
      train AS (
        SELECT doc_id,
          CASE WHEN doc_id % 17 = 1
               THEN text || ' judge the model answer on this exact benchmark prompt please carefully'
               ELSE text END AS text
        FROM documents WHERE doc_id % 13 <> 0),
      btoks AS (SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\s+') AS t FROM bench),
      bwins AS (
        SELECT DISTINCT
          t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
          t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS gram
        FROM btoks, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) - 6)) AS i)
        WHERE LEN(t) >= 8),
      ttoks AS (SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\s+') AS t FROM train),
      twins AS (
        SELECT doc_id, i - 1 AS off,
          t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
          t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS gram
        FROM ttoks, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) - 6)) AS i)
        WHERE LEN(t) >= 8),
      hits AS (SELECT DISTINCT w.doc_id, w.off FROM twins w JOIN bwins USING (gram)),
      grp AS (
        SELECT doc_id, off,
          off - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY off) AS g
        FROM hits),
      ext AS (
        SELECT doc_id, MIN(off) AS start_tok, MAX(off) + 8 AS end_tok,
          COUNT(*) AS n_windows
        FROM grp GROUP BY doc_id, g)"""

  /** Shared x53/x55 fixture: benchmark docs carry an 11-token canary
    * passage; marked training docs quote it verbatim. */
  private def passageLeakFixture(s: SparkSession): (DataFrame, DataFrame) = {
    val docs = s.table("documents")
    val canary =
      " judge the model answer on this exact benchmark prompt please carefully"
    val bench = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .select(col("doc_id"), concat(col("text"), lit(canary)).as("text"))
    val train = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(17)) === 1, concat(col("text"), lit(canary)))
          .otherwise(col("text")).as("text"))
    (train, bench)
  }

  // ------------------------------------------------------------- oracle SQL

  /** 64-term explicit dot product — an addition chain with a fixed
    * association order, so DuckDB folds the same IEEE doubles Spark's
    * `aggregate()` does (both left-to-right). */
  private def dotSql(a: String, b: String): String =
    (1 to 64).map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)").mkString("(", " + ", ")")

  /** x80: the 16 projected REAL columns, generated from the SAME constant
    * JL sign matrix the engine unrolls — each chain is the engine's fixed
    * left-to-right association, then one float rounding. */
  private lazy val jlProjSql: String = {
    val signs = graft.x.Similarity.jlSigns(64, 16)
    (1 to 16).map { j =>
      val chain = (1 to 64).map(i =>
        s"CAST(embedding[$i] AS DOUBLE)*(${signs(j - 1)(i - 1)})")
        .mkString("(", " + ", ")")
      s"CAST($chain AS REAL) AS p$j"
    }.mkString(", ")
  }
  private def pDotSql(a: String, b: String): String =
    (1 to 16).map(i => s"CAST($a.p$i AS DOUBLE)*CAST($b.p$i AS DOUBLE)")
      .mkString("(", " + ", ")")

  /** x81: exact BIGINT dot over int8 code lists (integer addition is
    * associative — no ordering caveat needed). */
  private def idotSql(a: String, b: String): String =
    (1 to 64).map(i => s"CAST($a[$i] AS BIGINT)*CAST($b[$i] AS BIGINT)")
      .mkString("(", " + ", ")")

  /** x149: greedy MMR replayed as k unrolled rounds. Round i joins the
    * i−1 prior single-row-per-query picks and takes GREATEST of the
    * [[dotSql]] chains — associative max over identical IEEE doubles, so
    * it equals the engine's incremental running greatest. `1−λ` is
    * interpolated from the SAME Scala double subtraction the engine
    * performs (0.30000000000000004 for λ=0.7), not re-derived in SQL. */
  private def mmrOracleSql(k: Int, lambda: Double): String = {
    val lam = lambda.toString
    val oneMinus = (1.0 - lambda).toString
    val rounds = (2 to k).map { i =>
      val joins = (1 to i - 1).map(j => s"JOIN s$j p$j USING (q_id)").mkString(" ")
      val excl = (1 to i - 1).map(j => s"c.id <> p$j.id").mkString(" AND ")
      val dots = (1 to i - 1).map(j => dotSql("c.embedding", s"p$j.embedding"))
      val maxsim = if (i == 2) dots.head else dots.mkString("GREATEST(", ", ", ")")
      s"""p$i AS (
        SELECT c.q_id, c.id, c.rel, c.embedding, $maxsim AS maxsim
        FROM cands c $joins
        WHERE $excl),
      s$i AS (
        SELECT q_id, $i AS rank, id, rel,
               $lam*rel - $oneMinus*maxsim AS score, embedding
        FROM p$i
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY $lam*rel - $oneMinus*maxsim DESC, id) = 1)"""
    }.mkString(",\n      ")
    val unioned = (1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                 WHERE vec_id >= 490 AND vec_id < 500),
      corpus AS (SELECT vec_id AS id, embedding FROM embeddings WHERE vec_id < 200),
      scored AS (SELECT q_id, id, ${dotSql("qv", "embedding")} AS rel, embedding
                 FROM q CROSS JOIN corpus),
      cands AS (SELECT q_id, id, rel, embedding FROM scored
                QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY rel DESC, id) <= 12),
      s1 AS (SELECT q_id, 1 AS rank, id, rel, $lam*rel AS score, embedding
             FROM cands
             QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY $lam*rel DESC, id) = 1),
      $rounds
      SELECT q_id, CAST(rank AS BIGINT) AS rank, id, rel, score AS mmr_score
      FROM ($unioned)
      ORDER BY q_id, rank"""
  }

  /** 64-term explicit squared-euclidean — same fixed-association trick as
    * [[dotSql]] so DuckDB reproduces the engine's fold bit-for-bit. */
  private def eucSql(a: String, b: String): String =
    "SQRT(" + (1 to 64).map(i =>
      s"(CAST($a[$i] AS DOUBLE)-CAST($b[$i] AS DOUBLE))*(CAST($a[$i] AS DOUBLE)-CAST($b[$i] AS DOUBLE))")
      .mkString("(", " + ", ")") + ")"

  private val stopwordList = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "at", "by", "be")
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** CTE chain replaying [[graft.x.WebText.canonicalizeUrl]] over any
    * synthesized `url` expression — shared by x50 (row-level replay) and
    * x64 (keep-best consolidation on the canonical key). Emits CTEs
    * `u`..`parts`; select [[canonicalCase]] from `parts`. */
  private def canonChain(urlSql: String): String = s"""u AS (
        SELECT doc_id, $urlSql AS url FROM documents),
      s1 AS (SELECT doc_id, url, REGEXP_REPLACE(url, '#.*', '', 'g') AS v FROM u),
      s2 AS (SELECT doc_id, url, REGEXP_REPLACE(v, '([?&])(${graft.x.WebText.TrackingParams})=[^&]*&', '\\1', 'g') AS v FROM s1),
      s3 AS (SELECT doc_id, url, REGEXP_REPLACE(v, '([?&])(${graft.x.WebText.TrackingParams})=[^&]*&', '\\1', 'g') AS v FROM s2),
      s4 AS (SELECT doc_id, url, REGEXP_REPLACE(v, '([?&])(${graft.x.WebText.TrackingParams})=[^&]*&', '\\1', 'g') AS v FROM s3),
      s5 AS (SELECT doc_id, url, REGEXP_REPLACE(v, '[?&](${graft.x.WebText.TrackingParams})=[^&]*$$', '', 'g') AS v FROM s4),
      s6 AS (SELECT doc_id, url, REGEXP_REPLACE(v, '\\?$$', '', 'g') AS v FROM s5),
      parts AS (
        SELECT doc_id, url, v,
          LOWER(REGEXP_EXTRACT(v, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          LOWER(REGEXP_EXTRACT(v, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
          REGEXP_REPLACE(v, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+', '', 'g') AS rest
        FROM s6)"""

  private val canonicalCase: String = """CASE WHEN scheme = '' OR hostport = '' THEN v
             ELSE scheme || '://' ||
               CASE WHEN scheme = 'http' THEN REGEXP_REPLACE(hostport, ':80$', '', 'g')
                    WHEN scheme = 'https' THEN REGEXP_REPLACE(hostport, ':443$', '', 'g')
                    ELSE hostport END ||
               CASE WHEN rest = '' THEN '/' ELSE rest END END"""

  /** DuckDB replay of the full MinHash/LSH band pipeline behind
    * x58_incremental_neardup: 3-gram shingle poly-hashes → `k` universal
    * affine min-hashes → `bands` 55-bit polynomial band folds, each
    * constant re-derived from [[graft.functions.PortableHash]] so the two
    * engines agree by construction. Produces CTE `bb(doc_id, band, bh)`. */
  private def bandBucketCtes(k: Int, bands: Int): String = {
    import graft.functions.{PortableHash => PH, PolyHash56}
    val r = k / bands
    val mins = (0 until k).map(i =>
      s"MIN((${PH.minhashA(i)} * h31 + ${PH.minhashB(i)}) % ${PH.M31}) AS mh_$i")
      .mkString(",\n               ")
    val bandSelects = (0 until bands).map { b =>
      val fold = ((b * r) until ((b + 1) * r)).foldLeft("CAST(0 AS BIGINT)") {
        (acc, i) => s"(($acc * 131 + mh_$i) & ${PolyHash56.Mask55})"
      }
      s"SELECT doc_id, $b AS band, $fold AS bh FROM mh"
    }.mkString("\n        UNION ALL\n        ")
    s"""toksb AS (
        SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\\s+') AS t FROM documents),
      gramsb AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toksb, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) - 1)) AS i)
        WHERE LEN(t) >= 3
        UNION
        SELECT doc_id, ARRAY_TO_STRING(t, ' ') AS shingle
        FROM toksb WHERE LEN(t) < 3),
      shb AS (
        SELECT DISTINCT doc_id, ${polySql("shingle")} % ${PH.M31} AS h31
        FROM gramsb),
      mh AS (SELECT doc_id, $mins FROM shb GROUP BY doc_id),
      bb AS (
        $bandSelects)"""
  }

  /** DuckDB replay of [[graft.functions.KmvSketchAgg.spread55]]: the same
    * `(h·A + B) mod 2^55` bijection, HUGEINT keeping the 74-bit product
    * exact where the engine uses DECIMAL(38,0). */
  private def spreadSql(e: String): String = {
    import graft.functions.KmvSketchAgg.{SpreadA, SpreadB}
    s"CAST((CAST($e AS HUGEINT) * $SpreadA + $SpreadB) % ${1L << 55} AS BIGINT)"
  }

  /** DuckDB replay of [[graft.x.Graph.pageRank]]'s integer recurrence,
    * unrolled to `iters` CTE rounds over `e`/`nodes`/`od`/`nn`/`r0`:
    * dangling mass = ranks of nodes with no out-edge, per-edge
    * contribution = `r // d`, update = `(15·base + 85·(in + dang//n))
    * // 100` — DuckDB `//` is the same floor division as Spark's `div`
    * on these non-negative BIGINTs. */
  /** Unrolled k-core peel rounds (see x115): round r removes nodes whose
    * degree over the surviving edges is < k; unrolling PAST the measured
    * convergence round count is safe because converged rounds are
    * identity transforms. */
  private def kCoreIterCtes(rounds: Int, k: Int): String =
    (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT v, COUNT(*) AS deg FROM
           (SELECT a AS v FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
         GROUP BY 1),
      e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
              WHERE a NOT IN (SELECT v FROM d$r WHERE deg < $k)
                AND b NOT IN (SELECT v FROM d$r WHERE deg < $k))"""
    }.mkString(",\n      ")

  private def pageRankIterCtes(iters: Int): String =
    (1 to iters).map { k =>
      s"""dang$k AS (
        SELECT COALESCE(SUM(r), 0) AS dm FROM r${k - 1} p
        LEFT JOIN od ON p.node = od.src WHERE od.src IS NULL),
      inc$k AS (
        SELECT e.dst AS node, SUM(p.r // od.d) AS s
        FROM e JOIN r${k - 1} p ON e.src = p.node JOIN od ON od.src = e.src
        GROUP BY e.dst),
      r$k AS (
        SELECT n.node,
               (15 * (SELECT 1000000000 // n FROM nn)
                + 85 * (COALESCE(i.s, 0)
                        + (SELECT dm FROM dang$k) // (SELECT n FROM nn))) // 100 AS r
        FROM nodes n LEFT JOIN inc$k i ON n.node = i.node)"""
    }.mkString(",\n      ")

  /** x197: one PAVA pass — find the FIRST adjacent block pair violating
    * monotonicity (exact cross-multiplied test) and merge it. Each pass
    * removes one violation; nBins−1 passes reach the unique fixpoint
    * (pool order doesn't change the L2 projection). */
  private def pavaPassSql(k: Int): String = {
    val prev = s"b${k - 1}"
    s"""or$k AS MATERIALIZED (
         SELECT blk, bp, bn, ROW_NUMBER() OVER (ORDER BY blk) AS rn FROM (
           SELECT blk, SUM(pos) AS bp, SUM(n) AS bn
           FROM $prev GROUP BY blk)),
       mg$k AS MATERIALIZED (
         WITH vi AS (SELECT MIN(a.rn) AS rn FROM or$k a
           JOIN or$k c ON c.rn = a.rn + 1
           WHERE a.bp * c.bn > c.bp * a.bn)
         SELECT
           (SELECT a.blk FROM or$k a, vi WHERE a.rn = vi.rn) AS keep,
           (SELECT c.blk FROM or$k c, vi WHERE c.rn = vi.rn + 1) AS absorb),
       b$k AS MATERIALIZED (SELECT bin, n, pos,
           CASE WHEN mg$k.absorb IS NOT NULL AND blk = mg$k.absorb
                THEN mg$k.keep ELSE blk END AS blk
         FROM $prev, mg$k)"""
  }

  /** x180: one HyperBall round — propagate register rows backward along
    * edges (ball(src) absorbs ball(dst)), then (node, j) max-merge. */
  private def hyperBallRoundsSql(rounds: Int): String =
    (1 to rounds).map { h =>
      s"""p$h AS (SELECT e0.src AS node, r.j, r.mj
           FROM e0 JOIN r${h - 1} r ON r.node = e0.dst),
         r$h AS (SELECT node, j, MAX(mj) AS mj FROM (
             SELECT node, j, mj FROM r${h - 1}
             UNION ALL SELECT node, j, mj FROM p$h) u GROUP BY 1, 2)"""
    }.mkString(",\n      ")

  /** x180: per-node HLL estimate from round-h registers, ROUND 6 →
    * exact DECIMAL sum (the engine's association-free aggregate). */
  private def hyperBallEstSql(h: Int): String =
    s"""z$h AS (SELECT node, COUNT(*) AS present,
          SUM(CAST((CAST(1 AS BIGINT) << (56 - mj)) AS DECIMAL(38,0))) AS zp
        FROM r$h GROUP BY 1),
       s$h AS (SELECT CAST($h AS INT) AS h, CAST(COUNT(*) AS BIGINT) AS n_nodes,
          SUM(CAST(ROUND(CASE
            WHEN (256 - present) > 0 AND ($hllEstSql) <= 640.0
            THEN 256.0 * LN(256.0 / CAST(256 - present AS DOUBLE))
            ELSE ($hllEstSql) END, 6) AS DECIMAL(28,6))) AS t FROM z$h)"""

  /** x179: [[pageRankIterCtes]] with the teleport + dangling restart
    * concentrated on the seed set (damp fixed at 85, matching the
    * engine default). `base` = scale div |seeds|. */
  private def pprIterCtes(iters: Int, seedsSql: String, base: Long, k: Int): String =
    (1 to iters).map { kk =>
      s"""dang$kk AS (
        SELECT COALESCE(SUM(r), 0) AS dm FROM r${kk - 1} p
        LEFT JOIN od ON p.node = od.src WHERE od.src IS NULL),
      inc$kk AS (
        SELECT e.dst AS node, SUM(p.r // od.d) AS s
        FROM e JOIN r${kk - 1} p ON e.src = p.node JOIN od ON od.src = e.src
        GROUP BY e.dst),
      r$kk AS (
        SELECT n.node,
               ((CASE WHEN n.node IN $seedsSql THEN ${15L * base} ELSE 0 END)
                + 85 * (COALESCE(i.s, 0)
                        + (CASE WHEN n.node IN $seedsSql
                           THEN (SELECT dm FROM dang$kk) // $k ELSE 0 END))) // 100 AS r
        FROM nodes n LEFT JOIN inc$kk i ON n.node = i.node)"""
    }.mkString(",\n      ")

  /** DuckDB replay of [[graft.functions.PolyHash56]]: identical fold,
    * identical 55-bit mask (`&` keeps BIGINT products overflow-free on both
    * engines). Empty string → 0, matching the Scala loop. */
  /** One hex nibble's value (0-15) via alphabet position — DuckDB has no
    * base-16 `conv`, but STRPOS over the md5 alphabet is the same
    * integer (the Spark side uses `conv(c, 16, 10)`). */
  private def hexNibbleSql(c: String): String =
    s"(STRPOS('0123456789abcdef', $c) - 1)"

  /** [[graft.x.Sketches.cmsIndex]] in DuckDB: first two md5 hex chars of
    * the depth-prefixed key, decoded as an 8-bit counter address. */
  private def cmsIndexSql(i: String, key: String): String = {
    val h = s"MD5(CONCAT(CAST($i AS VARCHAR), '|', CAST($key AS VARCHAR)))"
    s"(16 * ${hexNibbleSql(s"SUBSTR($h, 1, 1)")} + ${hexNibbleSql(s"SUBSTR($h, 2, 1)")})"
  }

  /** [[graft.x.Sketches.hllRegisters]] in DuckDB: the hs→nz→reg CTE chain
    * (md5 hex → register j + zero-stripped tail → leading-zero-bit rank).
    * `selectCols` may alias (e.g. `CAST(ts AS DATE) AS day`); `carryCols`
    * are the resulting plain names carried through nz/reg. */
  private def hllRegSql(fromSql: String, selectCols: String,
      carryCols: String, valueExpr: String): String =
    s"""hs AS (SELECT $selectCols, MD5(CAST($valueExpr AS VARCHAR)) AS h
       FROM $fromSql),
      nz AS (SELECT $carryCols,
        (16 * ${hexNibbleSql("SUBSTR(h, 1, 1)")}
            + ${hexNibbleSql("SUBSTR(h, 2, 1)")}) AS j,
        REGEXP_REPLACE(SUBSTR(h, 3, 30), '^0*', '') AS t FROM hs),
      reg AS (SELECT $carryCols, j,
        CASE WHEN t = '' THEN 48 ELSE LEAST(
          4 * (30 - LENGTH(t)) +
          (CASE WHEN ${hexNibbleSql("SUBSTR(t, 1, 1)")} >= 8 THEN 0
                WHEN ${hexNibbleSql("SUBSTR(t, 1, 1)")} >= 4 THEN 1
                WHEN ${hexNibbleSql("SUBSTR(t, 1, 1)")} >= 2 THEN 2
                ELSE 3 END) + 1, 48) END AS rho FROM nz)"""

  /** The HLL estimate over columns `zp`/`present` — textually ONE IEEE
    * expression, kept identical to `Sketches.hllEstimateFromRegisters`. */
  private val hllEstSql: String =
    "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + " +
      "CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)) " +
      "* CAST(65536.0 AS DOUBLE)) * CAST(72057594037927936.0 AS DOUBLE) " +
      s"/ CAST(zp + CAST(256 - present AS DECIMAL(38,0)) * " +
      s"CAST(${1L << 56} AS DECIMAL(38,0)) AS DOUBLE)"

  /** x171: one Markov fixed-point run — `iters` rounds of the exact
    * integer update v(s) = Σ c(s,t)·val(t) div total(s), with the
    * removed channel (if any) valued 0 like NULL. Round CTEs are
    * `v$tag$k`; read v(START) from `v$tag$iters`. */
  private def markovRunSql(tag: String, removed: Option[String], iters: Int): String = {
    val removedClause = removed.map(c => s"WHEN tm.tt = '$c' THEN 0").getOrElse("")
    (1 to iters).map { k =>
      val prev = if (k == 1) "v0" else s"v$tag${k - 1}"
      s"""v$tag$k AS (
        SELECT tm.f AS s,
          SUM(tm.c * CASE WHEN tm.tt = 'CONV' THEN CAST(1000000000000 AS BIGINT)
                          WHEN tm.tt = 'NULL' THEN 0
                          $removedClause
                          ELSE COALESCE(v.v, 0) END) // MIN(tm.tot) AS v
        FROM tm LEFT JOIN $prev v ON v.s = tm.tt
        GROUP BY tm.f)"""
    }.mkString(",\n      ")
  }

  /** x163: BFS frontier rounds — f_h = distinct neighbors of f_{h-1}
    * minus everything already in v_{h-1}; v_h appends f_h at dist h.
    * First-reach-wins exactly like the engine's anti-join. */
  private def bfsRoundSql(rounds: Int): String =
    (1 to rounds).map { h =>
      s"""f$h AS (SELECT DISTINCT e.dst AS node
           FROM e JOIN f${h - 1} ON e.src = f${h - 1}.node
           WHERE e.dst NOT IN (SELECT node FROM v${h - 1})),
         v$h AS (SELECT node, dist FROM v${h - 1}
                 UNION ALL SELECT node, CAST($h AS BIGINT) AS dist FROM f$h)"""
    }.mkString(",\n      ")

  /** [[graft.functions.HilbertIndex]] in DuckDB: the xy2d walk unrolled
    * to `bits` CTE rounds r1..r{bits} over state (x, y, d) seeded by r0;
    * each round reads the PREVIOUS round's row, so the conditional swap
    * and the d increment use the same pre-round values the loop does. */
  private def hilbertRoundsSql(bits: Int): String =
    (0 until bits).map { k =>
      val s = 1L << (bits - 1 - k)
      s"""r${k + 1} AS (SELECT cx, cy,
        CASE WHEN (y & $s) = 0 THEN
          (CASE WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END) ELSE x END AS x,
        CASE WHEN (y & $s) = 0 THEN
          (CASE WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END) ELSE y END AS y,
        d + ${s * s} * CAST(xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
                                (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END))
                       AS BIGINT) AS d
        FROM r$k)"""
    }.mkString(",\n      ")

  /** First `chars` md5 hex chars as a BIGINT (Horner over nibbles) — the
    * DuckDB twin of Spark's `conv(substring(md5(e), 1, chars), 16, 10)`. */
  private def hexIntSql(h: String, chars: Int): String =
    (2 to chars).map(i => hexNibbleSql(s"SUBSTR($h, $i, 1)"))
      // BIGINT seed so the Horner chain can't overflow 32-bit integers
      .foldLeft(s"CAST(${hexNibbleSql(s"SUBSTR($h, 1, 1)")} AS BIGINT)")(
        (acc, nib) => s"($acc * 16 + $nib)")

  /** Integer trig table for x203's periodogram: the SAME
    * round(cos/sin·10⁶) values [[graft.x.EventAnalytics.periodogram]]
    * computes on the driver, rendered as SQL VALUES rows so the oracle
    * replays identical tables (libm trig never runs inside either
    * engine's query). */
  private def trigTableSql(periods: Seq[Int]): String =
    periods.flatMap(p => (0 until p).map { r =>
      val ang = 2.0 * math.Pi * r / p
      s"($p, $r, ${math.round(math.cos(ang) * 1e6)}, " +
        s"${math.round(math.sin(ang) * 1e6)})"
    }).mkString(",\n        ")

  /** Exact int8 squared-euclidean in SQL list ops (x210/x211). */
  private def i8DistSql(pc: String, sc: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, 65), i -> " +
      s"CAST($pc[i] - $sc[i] AS BIGINT) * CAST($pc[i] - $sc[i] AS BIGINT))), " +
      s"(a, x) -> a + x)"

  /** Shared x210/x211 CTE chain: int8 codes (as x81/x199) + the
    * farthest-first seed traversal — s1..s5 picks, d1..d4 running-min
    * frames, every stage MATERIALIZED (each is referenced twice — the
    * x197 chained-CTE lesson applied at authoring time). */
  private def ffSeedCtesSql: String = {
    val rounds = (2 to 5).map { r =>
      val pick = s"""s$r AS MATERIALIZED (
        SELECT vec_id, d FROM d${r - 1} ORDER BY d DESC, vec_id LIMIT 1)"""
      val fold = if (r == 5) "" else s""",
      d$r AS MATERIALIZED (
        SELECT p.vec_id, p.c, LEAST(p.d, ${i8DistSql("p.c", "s.sc")}) AS d
        FROM d${r - 1} p, (SELECT codes.c AS sc FROM codes
                           JOIN s$r ON codes.vec_id = s$r.vec_id) s)"""
      pick + fold
    }.mkString(",\n      ")
    s"""sc0 AS (
        SELECT vec_id, embedding,
          LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS m
        FROM embeddings),
      codes AS (
        SELECT vec_id,
          CASE WHEN m IS NULL OR m = 0 THEN LIST_TRANSFORM(embedding, x -> 0)
               ELSE LIST_TRANSFORM(embedding, x ->
                 CAST(FLOOR(CAST(x AS DOUBLE) / m * 127.0 + 0.5) AS INT)) END AS c
        FROM sc0),
      s1 AS MATERIALIZED (SELECT MIN(vec_id) AS id FROM codes),
      d1 AS MATERIALIZED (
        SELECT p.vec_id, p.c, ${i8DistSql("p.c", "s.sc")} AS d
        FROM codes p, (SELECT codes.c AS sc FROM codes
                       JOIN s1 ON codes.vec_id = s1.id) s),
      $rounds"""
  }

  /** Shared x211/x212 CTE chain on top of [[ffSeedCtesSql]]: seed
    * centroids, iter-1 assignment/update (grid-quantized means), the
    * full iter-2 distance map (`alld2`) and the final assignment
    * (`asg2`). */
  private def lloydCtesSql: String = s"""cent0 AS MATERIALIZED (
        SELECT 1 AS cid, codes.c AS cl FROM codes JOIN s1 ON codes.vec_id = s1.id
        UNION ALL SELECT 2, codes.c FROM codes JOIN s2 ON codes.vec_id = s2.vec_id
        UNION ALL SELECT 3, codes.c FROM codes JOIN s3 ON codes.vec_id = s3.vec_id
        UNION ALL SELECT 4, codes.c FROM codes JOIN s4 ON codes.vec_id = s4.vec_id
        UNION ALL SELECT 5, codes.c FROM codes JOIN s5 ON codes.vec_id = s5.vec_id),
      asg1 AS MATERIALIZED (
        SELECT vec_id, c, cid, d FROM (
          SELECT vec_id, c, cid, d,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM (SELECT p.vec_id, p.c, ct.cid,
                       ${i8DistSql("p.c", "ct.cl")} AS d
                FROM codes p CROSS JOIN cent0 ct))
        WHERE rn = 1),
      upd1 AS MATERIALIZED (
        SELECT cid, i, SUM(v) AS s, COUNT(*) AS n FROM (
          SELECT cid, UNNEST(c) AS v, generate_subscripts(c, 1) AS i
          FROM asg1)
        GROUP BY 1, 2),
      cent1 AS MATERIALIZED (
        SELECT c0.cid, COALESCE(cu.cl, c0.cl) AS cl
        FROM cent0 c0 LEFT JOIN (
          SELECT cid,
                 list(CAST(FLOOR((2.0 * s + n) / (2.0 * n)) AS INT)
                      ORDER BY i) AS cl
          FROM upd1 GROUP BY 1) cu ON cu.cid = c0.cid),
      alld2 AS MATERIALIZED (
        SELECT p.vec_id, ct.cid, ${i8DistSql("p.c", "ct.cl")} AS d
        FROM codes p CROSS JOIN cent1 ct),
      asg2 AS MATERIALIZED (
        SELECT vec_id, cid, d FROM (
          SELECT vec_id, cid, d,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          FROM alld2)
        WHERE rn = 1)"""

  /** One synchronous LPA round (see x134): count neighbor labels, take
    * the (count desc, label asc) argmax per node. */
  private def lpaRoundSql(i: Int): String =
    s"""n$i AS (SELECT e.src AS node, l${i - 1}.label, COUNT(*) AS c
        FROM e JOIN l${i - 1} ON e.dst = l${i - 1}.node GROUP BY 1, 2),
      l$i AS (SELECT node, label FROM (
        SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
          ORDER BY c DESC, label) AS rn FROM n$i) WHERE rn = 1)"""

  private def polySql(e: String): String =
    s"(CASE WHEN $e = '' THEN 0 ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ord(c) AS BIGINT))), " +
      s"(a, b) -> (a*131 + b) & ${graft.functions.PolyHash56.Mask55}) END)"

  /** Per-subspace euclidean over slice `s` (a column from RANGE) of two
    * 64-dim lists — same fixed association as [[eucSql]] so the doubles
    * match the engine's fold bit-for-bit. */
  private def subEucSql(a: String, b: String, subDim: Int = 8): String =
    "SQRT(" + (1 to subDim).map { i =>
      val ai = s"CAST($a[s*$subDim+$i] AS DOUBLE)"
      val bi = s"CAST($b[s*$subDim+$i] AS DOUBLE)"
      s"($ai - $bi)*($ai - $bi)"
    }.mkString("(", " + ", ")") + ")"

  /** Shared oracle for the inline (x15) and materialized-layout (x46) IVF
    * probes — identical by construction. */
  private lazy val ivfProbeSql: String = s"""
      WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
      assigned AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${eucSql("e.embedding", "c.cv")} ASC, c.centroid_id ASC) AS rk
          FROM embeddings e, c) WHERE rk = 1),
      q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id >= 490 AND vec_id < 500),
      qcells AS (
        SELECT q_id, qv, cell FROM (
          SELECT q.q_id, q.qv, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY q.q_id
              ORDER BY ${eucSql("q.qv", "c.cv")} ASC, c.centroid_id ASC) AS rk
          FROM q, c) WHERE rk <= 3),
      scored AS (
        SELECT qc.q_id, a.vec_id,
          ${dotSql("a.embedding", "qc.qv")} /
          (SQRT(${dotSql("a.embedding", "a.embedding")}) * SQRT(${dotSql("qc.qv", "qc.qv")})) AS cosine
        FROM assigned a JOIN qcells qc ON a.cell = qc.cell AND a.vec_id <> qc.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
      SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 10
      ORDER BY q_id, rank"""

  /** DuckDB replay of [[graft.x.Layout.zValue]]: the identical bit
    * interleave as an OR-chain of shift/mask terms. */
  private def zSql(x: String, y: String, bits: Int): String = {
    // mirror zValue's negative-input clamp so the replay stays bit-exact
    val (xc, yc) = (s"GREATEST(0, $x)", s"GREATEST(0, $y)")
    (0 until bits).map(i =>
      s"(((($xc >> $i) & 1) << ${2 * i}) | ((($yc >> $i) & 1) << ${2 * i + 1}))")
      .mkString("(", " | ", ")")
  }

  /** Exact decontamination result — oracle for BOTH x23 (exact broadcast
    * anti-join) and x25 (Bloom prefilter + exact verify, equal by
    * construction). */
  private def decontaminateSql: String = s"""
      WITH fp AS (
        SELECT doc_id, lang,
          ${polySql("REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')")} AS f
        FROM documents),
      b AS (SELECT DISTINCT f FROM fp WHERE doc_id % 13 = 0)
      SELECT doc_id, lang FROM fp
      WHERE f NOT IN (SELECT f FROM b)
      ORDER BY doc_id"""

  /** Shared CTE chain computing exact n-gram-Jaccard shingle/intersection
    * stats — consumed by the x2/x3 pair oracle and the x21 clustering
    * oracle (which wraps it in a recursive CTE). */
  /** Exact 3-gram Jaccard machinery (`toks`/`grams`/`sizes`/`inter` CTEs)
    * over any relation with (doc_id, text) — `from` parameterized so the
    * composed-pipeline oracles can run it on a FILTERED corpus. */
  private def jaccardCtesFrom(from: String): String = s"""toks AS (
        SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\\s+') AS t FROM $from),
      grams AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) - 1)) AS i)
        WHERE LEN(t) >= 3),
      sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)"""

  private val jaccardCtes = jaccardCtesFrom("documents")

  /** The composed curation pipeline's stage CTEs (x60/x62): quality gate
    * (`gate`), exact dedup (`ek`), near-dup keep-one (`nk`) — each stage's
    * relation named so both the row-level replay and the per-stage count
    * report read off the same chain. */
  private lazy val curationCtes: String = s"""tk AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS tok
        FROM documents),
      tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk
             WHERE LENGTH(tok) > 0 GROUP BY 1, 2),
      st AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_uniq,
                    MAX(c) AS top_count FROM tc GROUP BY 1),
      gate AS (
        SELECT doc_id FROM st
        WHERE CAST(n_uniq AS DOUBLE) / n_tokens >= 0.3
          AND CAST(top_count AS DOUBLE) / n_tokens <= 0.2
          AND n_tokens >= 5),
      kept AS (
        SELECT d.doc_id, d.text, d.lang FROM documents d JOIN gate USING (doc_id)),
      fpk AS (
        SELECT doc_id, text, lang,
               ${polySql("REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')")} AS f
        FROM kept),
      ek AS (
        SELECT fpk.doc_id, fpk.text, fpk.lang FROM fpk
        JOIN (SELECT f, MIN(doc_id) AS m FROM fpk GROUP BY f) b
          ON b.f = fpk.f AND b.m = fpk.doc_id),
      ${jaccardCtesFrom("ek")},
      p AS (
        SELECT id_a, id_b
        FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION
        SELECT id_b AS src, id_a AS dst FROM p),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src),
      nk AS (
        SELECT ek.doc_id, ek.lang FROM ek
        LEFT JOIN comp ON comp.doc_id = ek.doc_id
        WHERE comp.doc_id IS NULL OR comp.cluster_id = ek.doc_id)"""

  /** Exact n-gram-Jaccard near-dup pairs — the oracle for BOTH x2 (the
    * exact operator) and x3 (MinHash+LSH, whose exact-Jaccard verify stage
    * reproduces this set whenever banding recall is 1, as on this fixture). */
  private val jaccardPairsSql = s"""
      WITH $jaccardCtes
      SELECT id_a, id_b,
        ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 4) AS jaccard
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
      ORDER BY id_a, id_b"""

  def oracleSql: Map[String, String] = Map(
    "q01_agg" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(COUNT(*) AS BIGINT) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_daily_range" -> """
      SELECT CAST(o.o_orderdate AS DATE) AS trade_date,
        CAST(MAX(l.l_extendedprice) - MIN(l.l_extendedprice) AS DOUBLE) AS price_range,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY CAST(o.o_orderdate AS DATE)
      ORDER BY trade_date""",

    "q03_star_join" -> """
      SELECT r.r_name AS region, n.n_name AS nation,
        CAST(SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
      ORDER BY region, nation""",

    "q04_semi_join" -> """
      SELECT c.c_custkey, c.c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      ORDER BY c.c_custkey""",

    "q05_anti_join" -> """
      SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderstatus = 'F')
      ORDER BY c.c_custkey""",

    "q06_window_rank" -> """
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(rn AS BIGINT) AS rn, CAST(rnk AS BIGINT) AS rnk,
             CAST(drnk AS BIGINT) AS drnk, CAST(nt AS BIGINT) AS nt
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
          RANK()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
          DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk,
          NTILE(4)     OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS nt
        FROM orders) t
      WHERE rn <= 3
      ORDER BY o_custkey, rn""",

    "q07_window_analytic" -> """
      SELECT o_custkey, o_orderkey,
        LAG(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
        FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      FROM orders
      ORDER BY o_custkey, o_orderkey""",

    "q08_rollup" -> """
      SELECT COALESCE(r.r_name, 'ALL') AS region, COALESCE(n.n_name, 'ALL') AS nation,
        CAST(COUNT(*) AS BIGINT) AS n_supp,
        CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY ROLLUP(r.r_name, n.n_name)
      ORDER BY region, nation""",

    "q09_topk" -> """
      SELECT s.s_suppkey, s.s_name,
        CAST(SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_suppkey, s.s_name
      ORDER BY revenue DESC, s_suppkey
      LIMIT 10""",

    "q10_setops" -> """
      SELECT 'union' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000) u
      UNION ALL
      SELECT 'intersect' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000) i
      UNION ALL
      SELECT 'except' AS op, c_custkey FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 5000) e
      ORDER BY op, c_custkey""",

    "q11_string_fns" -> """
      SELECT p_partkey,
        UPPER(p_name) AS uname,
        SUBSTRING(p_name, 1, 5) AS prefix,
        CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        REPLACE(p_brand, 'Brand#', 'B') AS brand_short,
        LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        TRIM(CONCAT('  ', p_type, '  ')) AS type_trim,
        REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devowel
      FROM part
      ORDER BY p_partkey""",

    "q12_date_fns" -> """
      SELECT o_orderkey,
        CAST(o_orderdate AS DATE) AS od,
        CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
        STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
        CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
        CAST(o_orderdate AS DATE) + 30 AS due_date
      FROM orders
      ORDER BY o_orderkey""",

    "q13_conditional" -> """
      SELECT o_orderkey,
        CASE WHEN o_totalprice > 300000 THEN 'high'
             WHEN o_totalprice > 100000 THEN 'mid'
             ELSE 'low' END AS price_bucket,
        COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status2,
        CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS is_urgent
      FROM orders
      ORDER BY o_orderkey""",

    "q14_json_fns" -> """
      SELECT event_id,
        JSON_EXTRACT_STRING(props, '$.k') AS k_str,
        CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_num
      FROM events
      ORDER BY event_id""",

    "q15_array_explode" -> """
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT doc_id, UNNEST(STR_SPLIT_REGEX(TRIM(text), '\s+')) AS tok FROM documents) t
      GROUP BY doc_id, tok
      ORDER BY doc_id, tok""",

    "q16_subquery" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders
      WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
      ORDER BY o_orderkey""",

    "q17_cte" -> """
      WITH nat_rev AS (
        SELECT n.n_name, SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(28,6))) AS rev_d
        FROM lineitem l
          JOIN orders o   ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n   ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name)
      SELECT n_name, CAST(rev_d AS DOUBLE) AS revenue
      FROM (SELECT n_name, rev_d,
              SUM(rev_d) OVER () AS tot, COUNT(*) OVER () AS n
            FROM nat_rev) t
      WHERE rev_d * n > tot
      ORDER BY n_name""",

    "q18_grouping_sets" -> """
      SELECT COALESCE(c.c_mktsegment, 'ALL') AS seg,
             COALESCE(o.o_orderpriority, 'ALL') AS pri,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), (c_mktsegment, o_orderpriority), ())
      ORDER BY seg, pri""",

    "q19_distinct" -> """
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_pri,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders""",

    "q20_having" -> """
      SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      GROUP BY l_suppkey
      HAVING COUNT(*) > 600
      ORDER BY l_suppkey""",

    "q21_pivot" -> """
      SELECT user_id,
        CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
      FROM events GROUP BY user_id ORDER BY user_id""",

    "q25_lambda_fns" -> """
      SELECT doc_id,
        CAST(LEN(LIST_FILTER(STR_SPLIT_REGEX(TRIM(text), '\s+'), w -> LENGTH(w) > 3)) AS BIGINT) AS n_long,
        CAST(LIST_SUM(LIST_TRANSFORM(LIST_FILTER(STR_SPLIT_REGEX(TRIM(text), '\s+'), w -> LENGTH(w) > 3),
                                     w -> LENGTH(w))) AS BIGINT) AS long_chars,
        CAST(LIST_MAX(LIST_TRANSFORM(STR_SPLIT_REGEX(TRIM(text), '\s+'), w -> LENGTH(w))) AS BIGINT) AS max_word_len
      FROM documents
      ORDER BY doc_id""",

    "q26_left_join_agg" -> """
      SELECT c.c_custkey, c.c_name,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(COALESCE(o.o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_name
      ORDER BY c.c_custkey""",

    "q27_full_outer" -> """
      WITH open_o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_open
                      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
           done_o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_done
                      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
      SELECT COALESCE(open_o.k, done_o.k) AS custkey,
             COALESCE(n_open, 0) AS n_open, COALESCE(n_done, 0) AS n_done
      FROM open_o FULL OUTER JOIN done_o ON open_o.k = done_o.k
      ORDER BY custkey""",

    "q28_cube" -> """
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS pri,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, pri""",

    "q29_math_fns" -> """
      SELECT o_orderkey,
        ABS(o_totalprice - 100000) AS dist_from_100k,
        CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_k_floor,
        CAST(CEIL(o_totalprice / 1000) AS BIGINT) AS price_k_ceil,
        ROUND(SQRT(o_totalprice), 6) AS sqrt_price,
        POWER(CAST(o_orderkey % 9 AS DOUBLE), 2) AS mod_sq,
        o_orderkey % 7 AS m7,
        GREATEST(o_totalprice, 50000.0) AS hi_clamp,
        LEAST(o_totalprice, 50000.0) AS lo_clamp,
        CAST(SIGN(o_totalprice - 100000) AS INTEGER) AS over_100k
      FROM orders
      ORDER BY o_orderkey""",

    "q22_range_join" -> """
      SELECT b.band_name, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders o
      JOIN (VALUES ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0),
                   ('high', 300000.0, 1000000.0)) AS b(band_name, lo, hi)
        ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
      GROUP BY b.band_name
      ORDER BY band_name""",

    "q24_udf" -> """
      SELECT p_partkey,
             LOWER(REPLACE(p_name, ' ', '-')) || '-' || CAST(LENGTH(p_name) AS VARCHAR) AS slug
      FROM part ORDER BY p_partkey""",

    "q30_udaf" -> """
      SELECT l_returnflag,
        ROUND(
          CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
          / (CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) * 100.0),
          4) AS wavg_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "x10_asof_join" -> """
      SELECT p.event_id, p.user_id, STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS ts, p.value,
             c.event_id AS right_event_id, c.value AS right_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.event_id""",

    "etl_formats_roundtrip" -> """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name
      FROM nation ORDER BY n_nationkey""",

    "v1_null_route" -> """
      SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS k,
             'null_primary_key' AS error_reason
      FROM orders
      WHERE NULLIF(o_orderstatus, 'O') IS NULL
      ORDER BY o_orderkey""",

    "v2_dedup" -> """
      SELECT l_orderkey, l_linenumber, l_partkey FROM (
        SELECT l_orderkey, l_linenumber, l_partkey,
          ROW_NUMBER() OVER (PARTITION BY l_orderkey
            ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC) AS rn
        FROM lineitem) t
      WHERE rn = 1
      ORDER BY l_orderkey""",

    "etl_scd2_merge" -> """
      WITH staged_mod AS (SELECT * FROM customer WHERE c_custkey % 10 = 0)
      SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
             '2024-01-01' AS eff_from, 'open' AS eff_to, TRUE AS is_current
      FROM customer WHERE c_custkey % 10 <> 0
      UNION ALL
      SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
             '2024-01-01' AS eff_from, '2024-06-01' AS eff_to, FALSE AS is_current
      FROM staged_mod
      UNION ALL
      SELECT c_custkey, c_name, ROUND(c_acctbal + 100.0, 2) AS c_acctbal,
             '2024-06-01' AS eff_from, 'open' AS eff_to, TRUE AS is_current
      FROM staged_mod
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey, 'NEW-' || c_name AS c_name,
             ROUND(c_acctbal, 2) AS c_acctbal,
             '2024-06-01' AS eff_from, 'open' AS eff_to, TRUE AS is_current
      FROM customer WHERE c_custkey % 97 = 0
      ORDER BY c_custkey, eff_from""",

    "etl_meta_mapping" -> """
      SELECT s_suppkey AS supplier_id, s_name AS supplier_name,
             CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS balance
      FROM supplier ORDER BY supplier_id""",

    "etl_junk_chars" -> """
      SELECT doc_id,
        REGEXP_REPLACE(text || CHR(7) || 'tail' || CHR(1000),
                       '[^\x20-\x7E\t\n\r]', '', 'g') AS text
      FROM documents ORDER BY doc_id""",

    "x1_exact_dedup" -> """
      SELECT doc_id, text FROM (
        SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents) t
      WHERE rn = 1 ORDER BY doc_id""",

    "x2_jaccard_pairs" -> jaccardPairsSql,

    "x49_incremental_dedup" -> s"""
      WITH fp AS (
        SELECT doc_id, lang,
          ${polySql("REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')")} AS f
        FROM documents),
      d1 AS (SELECT DISTINCT f FROM fp WHERE doc_id < 250),
      best AS (SELECT f, MIN(doc_id) AS keep FROM fp GROUP BY f)
      SELECT fp.doc_id, fp.lang FROM fp
      JOIN best ON best.f = fp.f AND best.keep = fp.doc_id
      WHERE fp.f NOT IN (SELECT f FROM d1)
      ORDER BY fp.doc_id""",

    "x58_incremental_neardup" -> s"""
      WITH ${bandBucketCtes(32, 8)},
      b1 AS (SELECT doc_id, band, bh FROM bb WHERE doc_id < 250),
      bmin1 AS (SELECT band, bh, MIN(doc_id) AS m FROM b1 GROUP BY 1, 2),
      blocked1 AS (
        SELECT DISTINCT b1.doc_id FROM b1
        JOIN bmin1 USING (band, bh) WHERE bmin1.m < b1.doc_id),
      adm1 AS (
        SELECT DISTINCT doc_id FROM b1
        WHERE doc_id NOT IN (SELECT doc_id FROM blocked1)),
      store1 AS (SELECT DISTINCT band, bh FROM b1 JOIN adm1 USING (doc_id)),
      hit2 AS (SELECT DISTINCT bb.doc_id FROM bb JOIN store1 USING (band, bh)),
      miss2 AS (
        SELECT doc_id, band, bh FROM bb
        WHERE doc_id NOT IN (SELECT doc_id FROM hit2)),
      bmin2 AS (SELECT band, bh, MIN(doc_id) AS m FROM miss2 GROUP BY 1, 2),
      blocked2 AS (
        SELECT DISTINCT miss2.doc_id FROM miss2
        JOIN bmin2 USING (band, bh) WHERE bmin2.m < miss2.doc_id),
      adm2 AS (
        SELECT DISTINCT doc_id FROM miss2
        WHERE doc_id NOT IN (SELECT doc_id FROM blocked2))
      SELECT d.doc_id, d.lang FROM documents d JOIN adm2 USING (doc_id)
      ORDER BY d.doc_id""",

    "x48_containment_pairs" -> s"""
      WITH $jaccardCtes
      SELECT id_a, id_b,
        ROUND(CAST(n_inter AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 4) AS containment
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE) >= 0.6
      ORDER BY id_a, id_b""",

    "x47_contamination" -> """
      WITH toks AS (
        SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\s+') AS t FROM documents),
      grams AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) - 1)) AS i)
        WHERE LEN(t) >= 3),
      bg AS (SELECT DISTINCT shingle FROM grams WHERE doc_id % 13 = 0)
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        CAST(COUNT(b.shingle) AS BIGINT) AS n_contaminated,
        ROUND(CAST(COUNT(b.shingle) AS DOUBLE) / COUNT(*), 4) AS overlap_frac
      FROM grams g LEFT JOIN bg b ON g.shingle = b.shingle
      GROUP BY g.doc_id
      ORDER BY g.doc_id""",

    "x66_split_contamination" -> s"""
      WITH cls AS (
        SELECT doc_id,
          CASE WHEN ${polySql("CAST(doc_id AS VARCHAR) || ':split'")} % 1000000 < 100000
                 THEN 'test'
               WHEN ${polySql("CAST(doc_id AS VARCHAR) || ':split'")} % 1000000 < 200000
                 THEN 'validation'
               ELSE 'train' END AS split
        FROM documents),
      toks AS (
        SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\\s+') AS t FROM documents),
      grams AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) - 1)) AS i)
        WHERE LEN(t) >= 3),
      bg AS (
        SELECT DISTINCT shingle FROM grams JOIN cls USING (doc_id)
        WHERE split = 'test'),
      tr AS (
        SELECT g.doc_id, g.shingle FROM grams g JOIN cls USING (doc_id)
        WHERE split = 'train')
      SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        CAST(COUNT(b.shingle) AS BIGINT) AS n_contaminated,
        ROUND(CAST(COUNT(b.shingle) AS DOUBLE) / COUNT(*), 4) AS overlap_frac
      FROM tr LEFT JOIN bg b ON tr.shingle = b.shingle
      GROUP BY tr.doc_id
      HAVING COUNT(b.shingle) > 0
      ORDER BY tr.doc_id""",

    "x3_minhash_neardup" -> jaccardPairsSql,

    // replay the simhash pipeline exactly: portable token hash → 64
    // universal-parity bit votes → per-pair hamming over the bit columns
    // (comparing per-bit signs avoids packing a 64-bit BIGINT, whose top
    // bit would overflow DuckDB's checked SUM)
    "x4_simhash_neardup" -> s"""
      WITH tok AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(TRIM(text), '\\s+')) AS tok
        FROM documents),
      th AS (SELECT doc_id, ${polySql("tok")} % ${graft.functions.PortableHash.M31} AS h31 FROM tok),
      bits AS (
        SELECT doc_id, r.b,
          SUM(CASE WHEN ((((((r.b + 1) * ${graft.functions.PortableHash.Lcg64A}) % ${graft.functions.PortableHash.M31}) * h31
                         + (((r.b + 7) * ${graft.functions.PortableHash.LcgB}) % ${graft.functions.PortableHash.M31}))
                        % ${graft.functions.PortableHash.M31}) & 1) = 1
               THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN RANGE(64) r(b)
        GROUP BY doc_id, r.b),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(CASE WHEN (a.s > 0) <> (b.s > 0) THEN 1 ELSE 0 END) AS hamming
        FROM bits a JOIN bits b ON a.b = b.b AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
      FROM pairs WHERE hamming <= 8
      ORDER BY id_a, id_b""",

    // identical vectors always share an LSH signature (recall 1 for exact
    // dups) and the 0.99 threshold excludes every organic pair (max cosine
    // ≈ 0.51), so the result is exactly the injected duplicate pairs; the
    // self-cosine dot/(√d·√d) rounds to 1.0 at 6 decimals on both engines
    "x6_lsh_topk" -> """
      SELECT vec_id + 100000 AS q_id, vec_id, 1.0 AS cosine,
             CAST(1 AS BIGINT) AS rank
      FROM embeddings WHERE vec_id % 25 = 0
      ORDER BY q_id""",

    "x7_cosine_neardup" -> """
      SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cosine
      FROM embeddings WHERE vec_id % 7 = 0
      ORDER BY id_a, id_b""",

    // full-semantics replay (the point of deterministic cells): rank-1
    // centroid assignment, within-cell self-join, exact cosine folds
    "x54_semantic_neardup" -> s"""
      WITH corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 7 = 0),
      c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
      assigned AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${eucSql("e.embedding", "c.cv")} ASC, c.centroid_id ASC) AS rk
          FROM corpus e, c) WHERE rk = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          ${dotSql("a.embedding", "b.embedding")} /
          (SQRT(${dotSql("a.embedding", "a.embedding")}) *
           SQRT(${dotSql("b.embedding", "b.embedding")})) AS cosine
        FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM pairs
      WHERE cosine >= 0.99
      ORDER BY id_a, id_b""",

    "x9_langid_fingerprint" -> s"""
      WITH t AS (
        SELECT doc_id, lang, text,
               STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS lt
        FROM documents),
      votes AS (
        SELECT doc_id, lang, text, lt,
          LEN(LIST_INTERSECT(lt, ['the','and','of','to','is','in','that','it'])) AS en,
          LEN(LIST_INTERSECT(lt, ['el','la','de','que','y','los','las','una'])) AS es,
          LEN(LIST_INTERSECT(lt, ['der','die','das','und','ist','nicht','ein','mit'])) AS de,
          LEN(LIST_INTERSECT(lt, ['le','la','les','des','est','une','dans','pour'])) AS fr
        FROM t)
      SELECT doc_id, lang,
        -- ASCII corpus: the CJK/Cyrillic/Arabic char-range branches of the
        -- heuristic can never fire, leaving the Latin stopword vote chain
        CASE WHEN es > en AND es >= de AND es >= fr THEN 'es'
             WHEN de > en AND de >= fr THEN 'de'
             WHEN fr > en THEN 'fr'
             ELSE 'en' END AS lang_guess,
        ${polySql("REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')")} AS fp,
        CASE WHEN LEN(lt) >= 3 THEN
          LIST_MIN(LIST_TRANSFORM(RANGE(1, LEN(lt) - 1),
            i -> ${polySql("lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2]")}))
        ELSE ${polySql("ARRAY_TO_STRING(lt, ' ')")} END AS min_shingle_fp
      FROM votes
      ORDER BY doc_id""",

    "x15_ivf_topk" -> ivfProbeSql,

    // the materialized layout changes the PHYSICAL plan only (partition
    // pruning at the scan instead of a post-assignment join filter); the
    // answer — and therefore the oracle — is x15's, verbatim
    // the config-dispatched layout build + probe must land exactly where
    // the direct invocation landed (former x46, merged r13)
    "etl_ivf_config" -> ivfProbeSql,
    // incremental build writes the same logical table, so the same probe
    "x143_ivf_incremental" -> ivfProbeSql,

    // replays the stub featurizer arithmetic exactly: payload = UTF-8 text
    // bytes (ASCII fixture → ord(char) = byte), checksum = Java long
    // 31*h+b wraparound tracked as HUGEINT mod 2^64 then sign-mapped,
    // features = sequential double fold of float(byte/255) terms
    "mm2_features" -> """
      WITH base AS (
        SELECT doc_id AS media_id,
          CASE WHEN doc_id % 3 = 0 THEN 'image'
               WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
          LENGTH(text) AS n_bytes, text
        FROM documents),
      chk AS (
        SELECT media_id,
          list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
            list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT))),
            (a, b) -> (a*31 + b) % CAST(18446744073709551616 AS HUGEINT)) AS h
        FROM base),
      feats AS (
        SELECT b.media_id, r.i,
          CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(list_filter(range(1, LENGTH(b.text) + 1), p -> (p - 1) % 16 = r.i),
                p -> CAST(CAST(ord(b.text[p]) AS REAL) / CAST(255 AS REAL) AS DOUBLE))),
              (a, x) -> a + x)
            / GREATEST(LENGTH(b.text) // 16, 1) AS REAL) AS feat
        FROM base b CROSS JOIN RANGE(16) r(i))
      SELECT b.media_id, b.kind, CAST(b.n_bytes AS BIGINT) AS n_bytes,
        CAST(CASE WHEN c.h >= CAST(9223372036854775808 AS HUGEINT)
                  THEN c.h - CAST(18446744073709551616 AS HUGEINT)
                  ELSE c.h END AS BIGINT) AS checksum,
        CAST(f.i AS BIGINT) AS idx, f.feat
      FROM base b JOIN chk c ON b.media_id = c.media_id
                  JOIN feats f ON b.media_id = f.media_id
      ORDER BY b.media_id, idx""",

    "q35_window_range_frame" -> """
      SELECT o_orderkey, o_custkey, d,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_30d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS total_30d
      FROM (SELECT o_orderkey, o_custkey, o_totalprice,
              CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d
            FROM orders)
      WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      ORDER BY o_orderkey""",

    "q34_approx_percentile" -> """
      SELECT l_returnflag,
             ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS exact_p50,
             TRUE AS p50_in_envelope,
             TRUE AS p99_in_envelope
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "q23_approx_distinct" -> """
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
             TRUE AS approx_within_10pct
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "x16_stratified_sample" -> s"""
      SELECT doc_id, lang FROM documents
      WHERE ${polySql("CAST(doc_id AS VARCHAR) || ':sample'")} % 1000000 <
        CASE WHEN lang = 'zh' THEN 250000
             WHEN lang = 'en' THEN 500000
             ELSE 1000000 END
      ORDER BY doc_id""",

    "x17_train_test_split" -> s"""
      WITH b AS (
        SELECT lang, ${polySql("CAST(doc_id AS VARCHAR) || ':split'")} % 1000000 AS hb
        FROM documents)
      SELECT lang,
        CASE WHEN hb < 100000 THEN 'test'
             WHEN hb < 200000 THEN 'validation'
             ELSE 'train' END AS split,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY 1, 2
      ORDER BY lang, split""",

    "x18_seq_packing" -> """
      WITH toks AS (SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\s+') AS t
                    FROM documents WHERE LENGTH(TRIM(text)) > 0),
      ch AS (
        SELECT doc_id, s // 25 AS ci, ARRAY_TO_STRING(t[s+1 : s+30], ' ') AS chunk_text
        FROM toks, LATERAL (SELECT UNNEST(RANGE(0, LEN(t), 25)) AS s)),
      tc AS (SELECT doc_id, ci,
               LEN(STR_SPLIT_REGEX(TRIM(chunk_text), '\s+')) AS ctok FROM ch),
      cum AS (
        SELECT doc_id, ci, doc_id % 8 AS shard,
          SUM(ctok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id, ci
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ctok AS cm
        FROM tc)
      SELECT doc_id, CAST(ci AS BIGINT) AS chunk_index, CAST(shard AS BIGINT) AS shard,
             CAST(cm // 512 AS BIGINT) AS pack_id, CAST(cm % 512 AS BIGINT) AS pack_offset
      FROM cum
      ORDER BY doc_id, chunk_index""",

    "x19_tfidf" -> """
      WITH terms AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
             WHERE LENGTH(term) > 0 GROUP BY 1, 2),
      dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
      n AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM documents)
      SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
             CAST(d.dfreq AS BIGINT) AS dfreq,
             ROUND(t.tf * (LN(CAST(nn + 1 AS DOUBLE) / (d.dfreq + 1)) + 1.0), 4) AS tfidf
      FROM tf t JOIN dfr d USING (term), n
      WHERE t.tf >= 4
      ORDER BY t.doc_id, t.term""",

    // transitive closure of the exact near-dup pair set via recursive CTE,
    // each node labeled with the minimum reachable doc_id — the same
    // fixpoint the Spark label-propagation loop converges to
    "x21_dedup_clusters" -> s"""
      WITH RECURSIVE $jaccardCtes,
      p AS (
        SELECT id_a, id_b
        FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION
        SELECT id_b AS src, id_a AS dst FROM p),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src)
      SELECT doc_id, cluster_id FROM comp
      ORDER BY doc_id""",

    "x57_leakage_safe_split" -> s"""
      WITH RECURSIVE $jaccardCtes,
      p AS (
        SELECT id_a, id_b
        FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM p
        UNION
        SELECT id_b AS src, id_a AS dst FROM p),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        FROM reach GROUP BY src),
      keyed AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS split_key
        FROM documents d LEFT JOIN comp c USING (doc_id)),
      b AS (
        SELECT doc_id, split_key,
               ${polySql("CAST(split_key AS VARCHAR) || ':split'")} % 1000000 AS hb
        FROM keyed)
      SELECT doc_id, split_key,
        CASE WHEN hb < 100000 THEN 'test'
             WHEN hb < 200000 THEN 'validation'
             ELSE 'train' END AS split
      FROM b ORDER BY doc_id""",

    "x22_kmeans_step" -> s"""
      WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
      asg AS (
        SELECT vec_id, embedding, cell FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${eucSql("e.embedding", "c.cv")} ASC, c.centroid_id ASC) AS rk
          FROM embeddings e, c) WHERE rk = 1),
      q AS (
        SELECT cell, i - 1 AS dim,
          CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        FROM asg, LATERAL (SELECT UNNEST(RANGE(1, LEN(embedding) + 1)) AS i))
      SELECT cell, CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        ROUND(CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS mean
      FROM q GROUP BY cell, dim
      ORDER BY cell, dim""",

    "q31_percentiles" -> """
      SELECT l_returnflag,
        ROUND(QUANTILE_CONT(l_quantity, 0.25), 4) AS p25_qty,
        ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS p50_qty,
        ROUND(QUANTILE_CONT(l_quantity, 0.75), 4) AS p75_qty,
        ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS p50_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    "q32_ext_functions" -> s"""
      WITH q AS (SELECT embedding AS qv, ${polySql("CAST(label AS VARCHAR)")} AS qfp
                 FROM embeddings WHERE vec_id = 0)
      SELECT e.vec_id,
             ROUND(${dotSql("e.embedding", "q.qv")}, 6) AS dot,
             ROUND(${dotSql("e.embedding", "q.qv")} /
                   (SQRT(${dotSql("e.embedding", "e.embedding")}) * SQRT(${dotSql("q.qv", "q.qv")})), 6) AS cosine,
             ${polySql("CAST(e.label AS VARCHAR)")} AS label_fp,
             CAST(bit_count(xor(${polySql("CAST(e.label AS VARCHAR)")}, q.qfp)) AS BIGINT) AS label_dist
      FROM embeddings e, q
      WHERE e.vec_id < 200
      ORDER BY e.vec_id""",

    // replays the simhash bit votes (same universal-parity transforms as
    // the x4 oracle) and compares bit SIGNS to doc 1's — identical to
    // hamming64 over the packed signatures by construction
    "q33_sql_simhash" -> s"""
      WITH tok AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(TRIM(text), '\\s+')) AS tok
        FROM documents),
      th AS (SELECT doc_id, ${polySql("tok")} % ${graft.functions.PortableHash.M31} AS h31 FROM tok),
      bits AS (
        SELECT doc_id, r.b,
          SUM(CASE WHEN ((((((r.b + 1) * ${graft.functions.PortableHash.Lcg64A}) % ${graft.functions.PortableHash.M31}) * h31
                         + (((r.b + 7) * ${graft.functions.PortableHash.LcgB}) % ${graft.functions.PortableHash.M31}))
                        % ${graft.functions.PortableHash.M31}) & 1) = 1
               THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN RANGE(64) r(b)
        GROUP BY doc_id, r.b),
      q AS (SELECT b, s > 0 AS qs FROM bits WHERE doc_id = 1)
      SELECT a.doc_id, CAST(SUM(CASE WHEN (a.s > 0) <> q.qs THEN 1 ELSE 0 END) AS BIGINT) AS dist
      FROM bits a JOIN q USING (b)
      GROUP BY a.doc_id
      ORDER BY a.doc_id""",

    "x26_zorder_layout" -> s"""
      WITH c AS (
        SELECT LEAST(1023, GREATEST(0,
                 CAST(FLOOR((o_totalprice - 0.0) / 500000.0 * 1023.0) AS BIGINT))) AS xc,
               CAST(DATEDIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS yc
        FROM orders),
      z AS (SELECT xc, yc, ${zSql("xc", "yc", 12)} AS z FROM c)
      SELECT z >> 14 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(xc) AS min_x, MAX(xc) AS max_x,
             MIN(yc) AS min_y, MAX(yc) AS max_y
      FROM z GROUP BY 1
      ORDER BY bucket""",

    "x32_epoch_shuffle" -> s"""
      WITH h AS (
        SELECT doc_id,
          ${polySql("CAST(doc_id AS VARCHAR) || ':epoch0:shard'")} % 8 AS shard,
          ${polySql("CAST(doc_id AS VARCHAR) || ':epoch0:pos'")} AS ord
        FROM documents)
      SELECT doc_id, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1 AS BIGINT) AS pos
      FROM h
      ORDER BY shard, pos""",

    "x45_daily_deltas" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE event_id % 37 = 0
        GROUP BY 1, 2),
      grid AS (
        SELECT event_type, CAST(UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY event_type),
      filled AS (
        SELECT g.event_type, g.day, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS filled_cnt
        FROM grid g LEFT JOIN daily d
          ON g.event_type = d.event_type AND g.day = d.day)
      SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day, filled_cnt,
        CAST(filled_cnt - LAG(filled_cnt) OVER w AS BIGINT) AS delta,
        CASE WHEN LAG(filled_cnt) OVER w > 0 THEN
          ROUND(CAST(filled_cnt - LAG(filled_cnt) OVER w AS DOUBLE) /
                CAST(LAG(filled_cnt) OVER w AS DOUBLE) * 100.0, 4)
        END AS pct_change
      FROM filled
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
      ORDER BY event_type, day""",

    // microsecond-exact gap rule: epoch_us mirrors Spark's unix_micros
    "x76_sessionize" -> """
      WITH marked AS (
        SELECT user_id, ts, event_id,
          CASE WHEN LAG(ts) OVER w IS NULL
                 OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM marked)
      SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
      FROM sess GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx""",

    "x44_edit_distance" -> """
      WITH t AS (
        SELECT doc_id AS id, SUBSTR(text, 1, 80) AS p,
               source || '|' || CAST(n_chars // 20 AS VARCHAR) AS b
        FROM documents)
      SELECT a.id AS id_a, c.id AS id_b,
             CAST(levenshtein(a.p, c.p) AS INT) AS dist
      FROM t a JOIN t c ON a.b = c.b AND a.id < c.id
      WHERE ABS(LENGTH(a.p) - LENGTH(c.p)) <= 40
        AND levenshtein(a.p, c.p) <= 40
      ORDER BY id_a, id_b""",

    "x43_gap_fill" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE event_id % 37 = 0
        GROUP BY 1, 2),
      grid AS (
        SELECT event_type, CAST(UNNEST(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY event_type)
      SELECT g.event_type, STRFTIME(g.day, '%Y-%m-%d') AS day,
        CAST(COALESCE(d.cnt, 0) AS BIGINT) AS filled_cnt,
        CAST(LAST_VALUE(d.cnt IGNORE NULLS) OVER (
          PARTITION BY g.event_type ORDER BY g.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS carried_cnt
      FROM grid g LEFT JOIN daily d
        ON g.event_type = d.event_type AND g.day = d.day
      ORDER BY g.event_type, g.day""",

    // replay per-group standardization: same scaled integers and exact
    // moments, same fixed IEEE sequence for each row's z
    "x42_standardize" -> """
      WITH i AS (
        SELECT event_id, event_type,
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS HUGEINT) AS xi
        FROM events),
      m AS (
        SELECT event_id, event_type, xi,
          CAST(COUNT(*) OVER (PARTITION BY event_type) AS HUGEINT) AS n,
          CAST(SUM(xi) OVER (PARTITION BY event_type) AS HUGEINT) AS s,
          CAST(SUM(xi*xi) OVER (PARTITION BY event_type) AS HUGEINT) AS q
        FROM i)
      SELECT event_id, event_type,
        CASE WHEN n > 1 AND (n*q - s*s) > 0 THEN
          ROUND(CAST(n*xi - s AS DOUBLE) /
            SQRT(CAST(n*q - s*s AS DOUBLE) * (CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))), 6)
        END AS z
      FROM m
      ORDER BY event_id""",

    // replay the exact-moment correlation: the same scaled integers, the
    // same HUGEINT moment sums, the same one-shot IEEE finish
    "x41_correlation" -> """
      WITH i AS (
        SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT) AS q,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS e,
               CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS HUGEINT) AS d
        FROM lineitem),
      m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(q) AS HUGEINT) AS sq, CAST(SUM(e) AS HUGEINT) AS se,
               CAST(SUM(d) AS HUGEINT) AS sd,
               CAST(SUM(q*q) AS HUGEINT) AS pqq, CAST(SUM(q*e) AS HUGEINT) AS pqe,
               CAST(SUM(q*d) AS HUGEINT) AS pqd, CAST(SUM(e*e) AS HUGEINT) AS pee,
               CAST(SUM(e*d) AS HUGEINT) AS ped, CAST(SUM(d*d) AS HUGEINT) AS pdd
        FROM i)
      SELECT * FROM (
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
          ROUND(CAST(n*pqe - sq*se AS DOUBLE) /
            (SQRT(CAST(n*pqq - sq*sq AS DOUBLE)) * SQRT(CAST(n*pee - se*se AS DOUBLE))), 6) AS corr
        FROM m
        UNION ALL
        SELECT 'l_quantity', 'l_discount',
          ROUND(CAST(n*pqd - sq*sd AS DOUBLE) /
            (SQRT(CAST(n*pqq - sq*sq AS DOUBLE)) * SQRT(CAST(n*pdd - sd*sd AS DOUBLE))), 6)
        FROM m
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount',
          ROUND(CAST(n*ped - se*sd AS DOUBLE) /
            (SQRT(CAST(n*pee - se*se AS DOUBLE)) * SQRT(CAST(n*pdd - sd*sd AS DOUBLE))), 6)
        FROM m)
      ORDER BY col_a, col_b""",

    "x40_top_terms" -> """
      WITH toks AS (
        SELECT lang, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS term
        FROM documents),
      counts AS (
        SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM toks WHERE LENGTH(term) > 0
        GROUP BY lang, term)
      SELECT lang, CAST(rank AS INT) AS rank, term, cnt FROM (
        SELECT lang, term, cnt,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term ASC) AS rank
        FROM counts) t
      WHERE rank <= 5
      ORDER BY lang, rank""",

    "x39_winsorize" -> """
      WITH q AS (SELECT QUANTILE_CONT(l_extendedprice, 0.05) AS lo,
                        QUANTILE_CONT(l_extendedprice, 0.95) AS hi
                 FROM lineitem)
      SELECT l_orderkey, l_linenumber, l_partkey,
             ROUND(LEAST(GREATEST(l_extendedprice, lo), hi), 4) AS clipped
      FROM lineitem, q
      ORDER BY l_orderkey, l_linenumber, l_partkey, clipped""",

    "x38_group_cap" -> s"""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY ${polySql("CAST(doc_id AS VARCHAR) || ':cap'")} % 1000000, doc_id) AS rn
        FROM documents) t
      WHERE rn <= 10
      ORDER BY doc_id""",

    "x37_ngram_counts" -> """
      WITH toks AS (
        SELECT STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
        FROM documents WHERE LENGTH(TRIM(text)) > 0),
      grams AS (
        SELECT ARRAY_TO_STRING(t[s : s+2], ' ') AS gram
        FROM toks, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) - 1)) AS s)
        WHERE LEN(t) >= 3)
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM grams GROUP BY gram
      HAVING COUNT(*) >= 3
      ORDER BY gram""",

    "v3_ref_integrity" -> """
      WITH li AS (
        SELECT l_orderkey, l_linenumber,
          CASE WHEN (l_orderkey + l_linenumber) % 97 = 0
               THEN l_suppkey + 1000000 ELSE l_suppkey END AS l_suppkey
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, l_suppkey, 'fk_orphan' AS error_reason
      FROM li
      WHERE l_suppkey IS NOT NULL
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
      ORDER BY l_orderkey, l_linenumber""",

    "v4_accepted_values" -> """
      SELECT event_id, NULLIF(event_type, 'signup') AS event_type,
             'unexpected_value:event_type' AS error_reason
      FROM events
      WHERE NULLIF(event_type, 'signup') IS NULL
         OR NULLIF(event_type, 'signup') NOT IN ('click', 'view', 'purchase')
      ORDER BY event_id""",

    "x36_histogram" -> """
      WITH b AS (
        SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - 0.0) * 20.0 / 600000.0),
                                   0.0), 19.0) AS INT) AS bucket
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_totalprice >= 0.0 AND o_totalprice <= 600000.0)
      SELECT bucket, bucket * 30000.0 + 0.0 AS bucket_lo,
             (bucket + 1) * 30000.0 + 0.0 AS bucket_hi,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY bucket
      ORDER BY bucket""",

    "etl_pipeline_e2e" -> """
      SELECT CAST(o.o_orderdate AS DATE) AS trade_date,
        CAST(MAX(l.l_extendedprice) - MIN(l.l_extendedprice) AS DOUBLE) AS price_range,
        CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY CAST(o.o_orderdate AS DATE)
      ORDER BY trade_date""",

    "etl_upsert_merge" -> """
      SELECT s_suppkey, s_name,
        CAST(CAST(s_acctbal AS DECIMAL(18,2))
             + CASE WHEN s_suppkey % 7 = 0 THEN 1000 ELSE 0 END AS DOUBLE) AS bal
      FROM supplier
      UNION ALL
      SELECT s_suppkey + 500000 AS s_suppkey, 'NEW-' || s_name AS s_name,
        CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
      FROM supplier WHERE s_suppkey % 13 = 0
      ORDER BY s_suppkey""",

    // the incremental state after append/append/shrinking-overwrite must
    // equal the batch aggregate of the final snapshot
    "etl_incremental_agg" -> """
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders WHERE o_orderkey % 8 < 2
      GROUP BY o_custkey
      ORDER BY o_custkey""",

    // replay the funnel fold exactly: per user, time-sort the events
    // (ts, id, type — struct comparison is positional on both engines),
    // map to stage codes, left-fold "advance iff this event is the next
    // stage", then one row per completed stage via series-unnest
    "q36_funnel" -> """
      WITH per_user AS (
        SELECT user_id,
          list_reduce(
            list_prepend(0,
              list_transform(
                list_sort(list(struct_pack(t := ts, i := event_id, e := event_type))),
                x -> CASE WHEN x.e = 'signup' THEN 0 WHEN x.e = 'view' THEN 1
                          WHEN x.e = 'click' THEN 2 WHEN x.e = 'purchase' THEN 3
                          ELSE -1 END)),
            (a, b) -> CASE WHEN b = a THEN a + 1 ELSE a END) AS depth
        FROM events GROUP BY user_id)
      SELECT CAST(k AS INT) AS stage_idx,
        CASE k WHEN 1 THEN 'signup' WHEN 2 THEN 'view'
               WHEN 3 THEN 'click' WHEN 4 THEN 'purchase' END AS stage,
        CAST(COUNT(*) AS BIGINT) AS users_reached
      FROM per_user, UNNEST(generate_series(1, depth)) AS u(k)
      WHERE depth >= 1
      GROUP BY k
      ORDER BY stage_idx""",

    "q39_exists_subquery" -> """
      SELECT c.c_custkey, c.c_name
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
                          AND o2.o_totalprice < 1000)
      ORDER BY c.c_custkey""",

    // replay the windowed-funnel fold: state packs (stage, last-µs) into
    // one BIGINT; 259200000000 µs = the 3-day conversion window
    "q38_funnel_windowed" -> """
      WITH per_user AS (
        SELECT user_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(
                list_sort(list(struct_pack(t := ts, i := event_id, e := event_type))),
                x -> CAST((CASE WHEN x.e = 'signup' THEN 1 WHEN x.e = 'view' THEN 2
                                WHEN x.e = 'click' THEN 3 WHEN x.e = 'purchase' THEN 4
                                ELSE 0 END) AS BIGINT) * 10000000000000000
                     + epoch_us(x.t))),
            (a, b) -> CASE
              WHEN b // 10000000000000000 - 1 = a // 10000000000000000
                   AND (a // 10000000000000000 = 0
                        OR b % 10000000000000000 - a % 10000000000000000 <= 259200000000)
              THEN (a // 10000000000000000 + 1) * 10000000000000000 + b % 10000000000000000
              ELSE a END) // 10000000000000000 AS depth
        FROM events GROUP BY user_id)
      SELECT CAST(k AS INT) AS stage_idx,
        CASE k WHEN 1 THEN 'signup' WHEN 2 THEN 'view'
               WHEN 3 THEN 'click' WHEN 4 THEN 'purchase' END AS stage,
        CAST(COUNT(*) AS BIGINT) AS users_reached
      FROM per_user, UNNEST(generate_series(1, depth)) AS u(k)
      WHERE depth >= 1
      GROUP BY k
      ORDER BY stage_idx""",

    "q37_retention" -> """
      WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
        FROM events GROUP BY user_id),
      act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        FROM events)
      SELECT STRFTIME(cw, '%Y-%m-%d') AS cohort_week,
        CAST(date_diff('day', cw, w) // 7 AS INT) AS week_offset,
        CAST(COUNT(*) AS BIGINT) AS active_users
      FROM act JOIN firsts USING (user_id)
      GROUP BY cw, week_offset
      ORDER BY cohort_week, week_offset""",

    "q40_event_transitions" -> """
      WITH steps AS (
        SELECT event_type AS from_type,
          LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events),
      agg AS (
        SELECT from_type, to_type, COUNT(*) AS cnt
        FROM steps WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type)
      SELECT from_type, to_type, CAST(cnt AS BIGINT) AS n,
        ROUND(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY from_type) AS DOUBLE), 4) AS p
      FROM agg
      ORDER BY from_type, to_type""",

    // exact stats are bit-checked; the HLL cardinality is checked as its
    // envelope contract (within 10% of exact ⇒ TRUE on the oracle side)
    "x33b_profile_approx" -> """
      SELECT column_name, non_null, nulls, TRUE AS nd_within_10pct,
             exact_nd, min_value, max_value
      FROM (
        SELECT 'o_orderkey' AS column_name,
          CAST(COUNT(o_orderkey) AS BIGINT) AS non_null,
          CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS nulls,
          CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS exact_nd,
          CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
          CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(COUNT(o_custkey) AS BIGINT),
          CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
          CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
          CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'status_nullable', CAST(COUNT(NULLIF(o_orderstatus, 'O')) AS BIGINT),
          CAST(COUNT(*) - COUNT(NULLIF(o_orderstatus, 'O')) AS BIGINT),
          CAST(COUNT(DISTINCT NULLIF(o_orderstatus, 'O')) AS BIGINT),
          CAST(MIN(NULLIF(o_orderstatus, 'O')) AS VARCHAR),
          CAST(MAX(NULLIF(o_orderstatus, 'O')) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', CAST(COUNT(o_orderpriority) AS BIGINT),
          CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
          CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
          CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
        FROM orders)
      ORDER BY column_name""",

    // exact-integer z-score test: (n-1)(nc-S)^2 > z^2 * n (nQ-S^2), all in
    // HUGEINT (DuckDB) / DECIMAL(38,0) (Spark) — identical verdicts because
    // both sides are exact integers, no float stddev anywhere
    "x34_anomaly" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
          CAST(SUM(cnt) AS HUGEINT) AS s, CAST(SUM(cnt*cnt) AS HUGEINT) AS q
        FROM daily GROUP BY 1)
      SELECT d.event_type, STRFTIME(d.day, '%Y-%m-%d') AS day, d.cnt,
        ((n - 1) * (n * CAST(d.cnt AS HUGEINT) - s) * (n * CAST(d.cnt AS HUGEINT) - s)
          > 4 * n * (n * q - s * s)) AS is_anomaly
      FROM daily d JOIN stats USING (event_type)
      ORDER BY event_type, day""",

    "x35_mixture_rebalance" -> s"""
      WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
               CASE source WHEN 'src0' THEN 3 ELSE 1 END AS w
        FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')
        GROUP BY source),
      nout AS (SELECT MIN(cnt * 6 // w) AS n_out FROM c),
      thr AS (SELECT source, (1000000 * w * n_out) // (6 * cnt) AS t FROM c, nout)
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents d JOIN thr ON d.source = thr.source
      WHERE ${polySql("CAST(doc_id AS VARCHAR) || ':mixture'")} % 1000000 < thr.t
      GROUP BY d.source
      ORDER BY d.source""",

    "x61_temperature_mix" -> s"""
      WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt,
               GREATEST(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT), 1) AS w
        FROM documents
        WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
        GROUP BY lang),
      tot AS (SELECT SUM(w) AS wt FROM c),
      nout AS (SELECT MIN(cnt * wt // w) AS n_out FROM c, tot),
      thr AS (
        SELECT lang,
               (CAST(1000000 AS HUGEINT) * w * n_out)
                 // (CAST(wt AS HUGEINT) * cnt) AS t
        FROM c, tot, nout)
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents d JOIN thr ON d.lang = thr.lang
      WHERE ${polySql("CAST(doc_id AS VARCHAR) || ':mixture'")} % 1000000 < thr.t
      GROUP BY d.lang
      ORDER BY d.lang""",

    "x31_pq_topk" -> s"""
      WITH sub AS (SELECT UNNEST(RANGE(8)) AS s),
      cb AS (SELECT vec_id AS code, embedding AS cv FROM embeddings WHERE vec_id < 16),
      enc AS (
        SELECT vec_id, s, code FROM (
          SELECT e.vec_id, sub.s, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, sub.s
              ORDER BY ${subEucSql("e.embedding", "cb.cv")} ASC, cb.code ASC) AS rk
          FROM embeddings e, sub, cb) t
        WHERE rk = 1),
      qt AS (
        SELECT q.vec_id AS q_id, sub.s, cb.code,
               CAST(${subEucSql("q.embedding", "cb.cv")} AS DECIMAL(20,10)) AS d
        FROM embeddings q, sub, cb WHERE q.vec_id < 3),
      adc AS (
        SELECT qt.q_id, e.vec_id, SUM(qt.d) AS dist
        FROM enc e JOIN qt ON qt.s = e.s AND qt.code = e.code
        GROUP BY qt.q_id, e.vec_id),
      ranked AS (
        SELECT q_id, vec_id, dist,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, vec_id ASC) AS rk
        FROM adc)
      SELECT q_id, vec_id, CAST(dist AS DOUBLE) AS adc_dist, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rank""",

    // passage-dedup oracle groups on the gram STRING where the engine
    // groups on its 55-bit poly-hash — equal by injectivity-up-to-
    // collision (odds ~ windows²/2⁵⁵, immaterial at any fixture scale);
    // the output carries only offsets, so no hash value needs replaying
    "x52_repeated_passages" -> """
      WITH marked AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 0
               THEN text || ' the quick brown fox jumps over the lazy dog again and again'
               ELSE text END AS text
        FROM documents),
      toks AS (SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\s+') AS t FROM marked),
      wins AS (
        SELECT doc_id, i - 1 AS off,
          t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
          t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS gram
        FROM toks, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) - 6)) AS i)
        WHERE LEN(t) >= 8),
      rep AS (
        SELECT gram FROM wins GROUP BY gram
        HAVING COUNT(DISTINCT doc_id) >= 2 AND COUNT(*) <= 100000),
      hits AS (SELECT DISTINCT w.doc_id, w.off FROM wins w JOIN rep USING (gram)),
      grp AS (
        SELECT doc_id, off,
          off - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY off) AS g
        FROM hits),
      ext AS (
        SELECT doc_id, MIN(off) AS start_tok, MAX(off) + 8 AS end_tok,
          COUNT(*) AS n_windows
        FROM grp GROUP BY doc_id, g)
      SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok,
        CAST(end_tok AS BIGINT) AS end_tok,
        CAST(end_tok - start_tok AS BIGINT) AS span_tokens,
        CAST(n_windows AS BIGINT) AS n_windows
      FROM ext
      ORDER BY doc_id, start_tok""",

    // rightmost-min-per-window replayed via the same h*2^31 + (2^31-1-pos)
    // numeric key the engine minimizes, carried as HUGEINT
    "x77_winnowing" -> s"""
      WITH toks AS (
        SELECT doc_id, STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS a
        FROM documents),
      occ AS (
        SELECT doc_id, LEN(a) - 2 AS ng,
          UNNEST(GENERATE_SERIES(1, LEN(a) - 2)) AS i, a
        FROM toks WHERE LEN(a) >= 3),
      g AS (
        SELECT doc_id, ng, i - 1 AS s,
          CAST(${polySql("ARRAY_TO_STRING(a[i:i+2], ' ')")} AS HUGEINT) AS h
        FROM occ),
      k AS (
        SELECT doc_id, ng, s, h * 2147483648 + (2147483647 - s) AS key FROM g),
      m AS (
        SELECT doc_id, ng, s,
          MIN(key) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mkey
        FROM k),
      sel AS (
        SELECT DISTINCT doc_id,
          CAST(2147483647 - (mkey % 2147483648) AS BIGINT) AS pos,
          CAST((mkey - (mkey % 2147483648)) // 2147483648 AS BIGINT) AS fp
        FROM m WHERE s <= ng - 4 OR s = 0)
      SELECT doc_id, pos, fp FROM sel ORDER BY doc_id, pos""",

    // same gram-string grouping trick as x52: the output carries only
    // offsets, so the oracle joins on the 8-token gram itself where the
    // engine semi-joins on its broadcast poly-hash set
    "x53_passage_decontaminate" -> s"""
      WITH $passageLeakCtes
      SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok,
        CAST(end_tok AS BIGINT) AS end_tok,
        CAST(end_tok - start_tok AS BIGINT) AS span_tokens,
        CAST(n_windows AS BIGINT) AS n_windows
      FROM ext
      ORDER BY doc_id, start_tok""",

    // x53's extents applied: positions inside any [start, end) span drop,
    // survivors STRING_AGG back in order; docs with no extents keep their
    // original text byte-identically
    "x55_mask_spans" -> s"""
      WITH $passageLeakCtes,
      pos AS (
        SELECT doc_id, i, t[i] AS tok
        FROM ttoks, LATERAL (SELECT UNNEST(RANGE(1, LEN(t) + 1)) AS i)),
      keep AS (
        SELECT p.doc_id, p.i, p.tok FROM pos p
        WHERE NOT EXISTS (SELECT 1 FROM ext e
          WHERE e.doc_id = p.doc_id
            AND p.i - 1 >= e.start_tok AND p.i - 1 < e.end_tok)),
      rebuilt AS (
        SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY i) AS m
        FROM keep GROUP BY doc_id)
      SELECT t.doc_id,
        CASE WHEN t.doc_id IN (SELECT doc_id FROM ext)
             THEN COALESCE(r.m, '') ELSE t.text END AS masked
      FROM train t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
      ORDER BY t.doc_id""",

    // IVF-PQ composed oracle: the assigned/qcells CTEs are x15's coarse
    // quantizer, enc/qt/adc are x31's PQ encode + decimal ADC; the join
    // through (assigned, qcells) applies the per-query cell restriction
    // the engine's partition pruning + broadcast probe-table join apply
    "x51_ivfpq_topk" -> s"""
      WITH sub AS (SELECT UNNEST(RANGE(8)) AS s),
      c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
      cb AS (SELECT vec_id AS code, embedding AS cv FROM embeddings WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id
              ORDER BY ${eucSql("e.embedding", "c.cv")} ASC, c.centroid_id ASC) AS rk
          FROM embeddings e, c) WHERE rk = 1),
      enc AS (
        SELECT vec_id, s, code FROM (
          SELECT e.vec_id, sub.s, cb.code,
            ROW_NUMBER() OVER (PARTITION BY e.vec_id, sub.s
              ORDER BY ${subEucSql("e.embedding", "cb.cv")} ASC, cb.code ASC) AS rk
          FROM embeddings e, sub, cb) t
        WHERE rk = 1),
      q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id >= 490 AND vec_id < 500),
      qcells AS (
        SELECT q_id, cell FROM (
          SELECT q.q_id, c.centroid_id AS cell,
            ROW_NUMBER() OVER (PARTITION BY q.q_id
              ORDER BY ${eucSql("q.qv", "c.cv")} ASC, c.centroid_id ASC) AS rk
          FROM q, c) WHERE rk <= 3),
      qt AS (
        SELECT q.q_id, sub.s, cb.code,
          CAST(${subEucSql("q.qv", "cb.cv")} AS DECIMAL(20,10)) AS d
        FROM q, sub, cb),
      adc AS (
        SELECT qt.q_id, e.vec_id, SUM(qt.d) AS dist
        FROM enc e
        JOIN assigned a ON a.vec_id = e.vec_id
        JOIN qcells qc ON qc.cell = a.cell
        JOIN qt ON qt.q_id = qc.q_id AND qt.s = e.s AND qt.code = e.code
        WHERE e.vec_id <> qt.q_id
        GROUP BY qt.q_id, e.vec_id),
      ranked AS (
        SELECT q_id, vec_id, dist,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, vec_id ASC) AS rk
        FROM adc)
      SELECT q_id, vec_id, CAST(dist AS DOUBLE) AS adc_dist, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 10
      ORDER BY q_id, rank""",

    "x30_unigram_quality" -> """
      WITH toks AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS tok
        FROM documents),
      t2 AS (SELECT doc_id, tok FROM toks WHERE LEN(tok) > 0),
      tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM t2 GROUP BY doc_id, tok),
      vocab AS (SELECT tok, SUM(c) AS gc FROM tf GROUP BY tok),
      tot AS (SELECT SUM(gc) AS n FROM vocab)
      SELECT tf.doc_id, CAST(SUM(tf.c) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(-LN(CAST(gc AS DOUBLE) / CAST(n AS DOUBLE))
                           AS DECIMAL(18,8)) * tf.c) AS DOUBLE)
               / CAST(SUM(tf.c) AS DOUBLE) AS mean_nll
      FROM tf JOIN vocab USING (tok), tot
      GROUP BY tf.doc_id
      ORDER BY tf.doc_id""",

    "x60_curate_e2e" -> s"""
      WITH RECURSIVE $curationCtes,
      sb AS (
        SELECT doc_id, lang,
               ${polySql("CAST(doc_id AS VARCHAR) || ':split'")} % 1000000 AS hb
        FROM nk)
      SELECT doc_id, lang,
        CASE WHEN hb < 100000 THEN 'test'
             WHEN hb < 200000 THEN 'validation'
             ELSE 'train' END AS split
      FROM sb ORDER BY doc_id""",

    // identical oracle to x60 — the config-dispatched pipeline must land
    // on exactly the rows the directly-invoked operator lands on
    "etl_curation_config" -> s"""
      WITH RECURSIVE $curationCtes,
      sb AS (
        SELECT doc_id, lang,
               ${polySql("CAST(doc_id AS VARCHAR) || ':split'")} % 1000000 AS hb
        FROM nk)
      SELECT doc_id, lang,
        CASE WHEN hb < 100000 THEN 'test'
             WHEN hb < 200000 THEN 'validation'
             ELSE 'train' END AS split
      FROM sb ORDER BY doc_id""",

    "x62_curation_report" -> s"""
      WITH RECURSIVE $curationCtes
      SELECT '0_input' AS stage, CAST(COUNT(*) AS BIGINT) AS docs FROM documents
      UNION ALL SELECT '1_quality_gate', CAST(COUNT(*) AS BIGINT) FROM gate
      UNION ALL SELECT '2_exact_dedup', CAST(COUNT(*) AS BIGINT) FROM ek
      UNION ALL SELECT '3_near_dup', CAST(COUNT(*) AS BIGINT) FROM nk
      ORDER BY stage""",

    // reads the identical CTE chain as x60/x62 and labels every input doc:
    // keeper = min doc per fingerprint class, representative = recursive
    // component minimum, split thresholds = x60's
    "x73_curation_lineage" -> s"""
      WITH RECURSIVE $curationCtes,
      keeper AS (
        SELECT fpk.doc_id, b.m AS keep
        FROM fpk JOIN (SELECT f, MIN(doc_id) AS m FROM fpk GROUP BY f) b
          ON b.f = fpk.f),
      sb AS (
        SELECT doc_id, ${polySql("CAST(doc_id AS VARCHAR) || ':split'")} % 1000000 AS hb
        FROM nk),
      sp AS (
        SELECT doc_id,
          CASE WHEN hb < 100000 THEN 'test'
               WHEN hb < 200000 THEN 'validation'
               ELSE 'train' END AS split
        FROM sb)
      SELECT d.doc_id,
        CASE WHEN k.keep IS NULL THEN 'dropped_quality'
             WHEN k.keep <> d.doc_id THEN 'dropped_exact_dup'
             WHEN c.cluster_id IS NOT NULL AND c.cluster_id <> d.doc_id
               THEN 'dropped_near_dup'
             ELSE 'kept_' || sp.split END AS outcome,
        CASE WHEN k.keep <> d.doc_id THEN k.keep
             WHEN c.cluster_id IS NOT NULL AND c.cluster_id <> d.doc_id
               THEN c.cluster_id END AS kept_by
      FROM documents d
      LEFT JOIN keeper k ON k.doc_id = d.doc_id
      LEFT JOIN comp c ON c.doc_id = d.doc_id
      LEFT JOIN sp ON sp.doc_id = d.doc_id
      ORDER BY d.doc_id""",

    "x59_bigram_quality" -> """
      WITH toksq AS (
        SELECT doc_id,
               LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                           t -> LENGTH(t) > 0) AS a
        FROM documents),
      bg AS (
        SELECT doc_id, a[i] AS w1, a[i+1] AS w2
        FROM toksq, LATERAL (SELECT UNNEST(RANGE(1, LEN(a))) AS i)
        WHERE LEN(a) >= 2),
      docbig AS (
        SELECT doc_id, w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
      corpusbig AS (
        SELECT w1, w2, SUM(c) AS gb FROM docbig GROUP BY 1, 2),
      ctx AS (SELECT w1, SUM(gb) AS cw1 FROM corpusbig GROUP BY 1),
      vocab AS (
        SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT UNNEST(a) AS tok FROM toksq))
      SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
             CAST(SUM(CAST(-LN(CAST(gb + 1 AS DOUBLE) / CAST(cw1 + v AS DOUBLE))
                           AS DECIMAL(18,8)) * d.c) AS DOUBLE)
               / CAST(SUM(d.c) AS DOUBLE) AS mean_nll
      FROM docbig d
        JOIN corpusbig USING (w1, w2)
        JOIN ctx USING (w1), vocab
      GROUP BY d.doc_id
      ORDER BY d.doc_id""",

    "x27_domain_stats" -> """
      WITH u AS (
        SELECT doc_id, lang, n_chars,
               'https://' || source || '.example.com/' || lang || '/' ||
                 CAST(doc_id AS VARCHAR) AS url
        FROM documents),
      h AS (SELECT *, REGEXP_EXTRACT(url, 'https?://([^/]+)', 1) AS host FROM u)
      SELECT host,
             CASE WHEN LEN(STRING_SPLIT(host, '.')) <= 2 THEN host
                  ELSE STRING_SPLIT(host, '.')[-2] || '.' || STRING_SPLIT(host, '.')[-1]
             END AS domain,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
      FROM h
      GROUP BY host
      ORDER BY host""",

    // identical synthesis + identical RE2-safe strip chain ('g' flag makes
    // DuckDB's regexp_replace global like Spark's)
    // mirrors canonicalizeUrl step-for-step ('g' flag: DuckDB replaces
    // first-match-only by default, Spark replaces all)
    "x50_url_canonicalize" -> s"""
      WITH ${canonChain(
        """'HTTPS://WWW.' || UPPER(source) || '.Example.COM:443/Page/' || CAST(doc_id AS VARCHAR)
          || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_campaign=x&id=1' ELSE '?id=1' END
          || CASE WHEN doc_id % 2 = 0 THEN '&fbclid=XYZ#frag' ELSE '#sec' END""")}
      SELECT doc_id, url, $canonicalCase AS canonical
      FROM parts
      ORDER BY doc_id""",

    "x64_url_dedup_keep_best" -> s"""
      WITH ${canonChain(
        """'HTTPS://' || UPPER(source) || '.example.com/page/' || CAST(doc_id % 100 AS VARCHAR)
          || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=rss' ELSE '' END
          || CASE WHEN doc_id % 3 = 0 THEN '#top' ELSE '' END""")},
      c AS (SELECT doc_id, $canonicalCase AS canonical FROM parts),
      r AS (
        SELECT c.doc_id, c.canonical, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.canonical
                                  ORDER BY d.n_chars DESC, c.doc_id DESC) AS rn
        FROM c JOIN documents d USING (doc_id))
      SELECT doc_id, canonical, CAST(n_chars AS BIGINT) AS n_chars
      FROM r WHERE rn = 1
      ORDER BY doc_id""",

    "x28_html_strip" -> s"""
      WITH page AS (
        SELECT doc_id,
          '<html><head><style>p {color: red}</style><title>t</title></head><body><h1>'
          || lang || '</h1><!-- boilerplate --><p>' || text ||
          ' &amp; more &lt;raw&gt; &quot;quoted&quot;&nbsp;end</p><script>var x = 1 < 2;</script></body></html>'
          AS html
        FROM documents)
      SELECT doc_id, TRIM(REGEXP_REPLACE(
        REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
          REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
            html,
            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
            '<[^>]+>', ' ', 'g'),
          '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
          '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
        '\\s+', ' ', 'g')) AS clean
      FROM page
      ORDER BY doc_id""",

    "x29_accent_fold" -> s"""
      SELECT doc_id,
             SUBSTRING(TRANSLATE(LOWER('Café Über Niño À L''École ' || text),
               '${graft.x.WebText.AccentFrom}', '${graft.x.WebText.AccentTo}'), 1, 60) AS folded
      FROM documents
      ORDER BY doc_id""",

    // bloom prefilter + exact verify ≡ exact anti-join, so the ORACLE is
    // the exact definition; x23 (the plain exact anti-join query) merged
    // into this row in r12 — its path stays asserted by the bloom≡exact
    // equality suites (ExtensionOpsSpec "bloom", GuardsSpec NULL routing),
    // the x33→x33b registry-flattening template
    "x25_bloom_decontaminate" -> decontaminateSql,

    "x24_repetition_filter" -> """
      WITH toks AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS tok
        FROM documents),
      tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks
             WHERE LENGTH(tok) > 0 GROUP BY 1, 2),
      st AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_uniq,
                    MAX(c) AS top_count FROM tc GROUP BY 1)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        ROUND(CAST(n_uniq AS DOUBLE) / n_tokens, 4) AS uniq_ratio,
        ROUND(CAST(top_count AS DOUBLE) / n_tokens, 4) AS top_share,
        (CAST(n_uniq AS DOUBLE) / n_tokens >= 0.3
         AND CAST(top_count AS DOUBLE) / n_tokens <= 0.2) AS keep
      FROM st ORDER BY doc_id""",

    "x56_ngram_repetition" -> s"""
      WITH toks AS (
        SELECT doc_id, STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS a
        FROM documents),
      tot AS (
        SELECT doc_id,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(a, t -> LENGTH(t))), 0) AS BIGINT) AS n_chars
        FROM toks),
      occ2 AS (
        SELECT doc_id, UNNEST(GENERATE_SERIES(1, LEN(a) - 1)) AS start, a
        FROM toks),
      g2 AS (
        SELECT doc_id,
               ${polySql("ARRAY_TO_STRING(a[start:start+1], ' ')")} AS gh,
               LENGTH(REPLACE(ARRAY_TO_STRING(a[start:start+1], ' '), ' ', '')) AS chars
        FROM occ2),
      c2 AS (
        SELECT doc_id, gh, COUNT(*) AS c, COUNT(*) * MAX(chars) AS chars
        FROM g2 GROUP BY 1, 2
        HAVING COUNT(*) >= 2),
      top AS (
        SELECT doc_id, chars AS top_chars FROM (
          SELECT doc_id, chars,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY c DESC, chars DESC) AS rn
          FROM c2) WHERE rn = 1),
      occ5 AS (
        SELECT doc_id, UNNEST(GENERATE_SERIES(1, LEN(a) - 4)) AS start, a
        FROM toks),
      g5 AS (
        SELECT doc_id, start,
               ${polySql("ARRAY_TO_STRING(a[start:start+4], ' ')")} AS gh
        FROM occ5),
      d5 AS (
        SELECT doc_id, gh FROM g5 GROUP BY 1, 2 HAVING COUNT(*) > 1),
      cov0 AS (
        SELECT g5.doc_id, UNNEST(GENERATE_SERIES(g5.start, g5.start + 4)) AS p
        FROM g5 JOIN d5 USING (doc_id, gh)),
      cov AS (SELECT DISTINCT doc_id, p FROM cov0),
      pos0 AS (
        SELECT doc_id, UNNEST(GENERATE_SERIES(1, LEN(a))) AS p, a FROM toks),
      pos AS (SELECT doc_id, p, LENGTH(a[p]) AS l FROM pos0),
      dupc AS (
        SELECT cov.doc_id, SUM(pos.l) AS dup_chars
        FROM cov JOIN pos USING (doc_id, p) GROUP BY 1)
      SELECT t.doc_id, t.n_chars,
        ROUND(CASE WHEN t.n_chars = 0 THEN 0.0
              ELSE CAST(COALESCE(tp.top_chars, 0) AS DOUBLE) / t.n_chars END, 4) AS top_share,
        ROUND(CASE WHEN t.n_chars = 0 THEN 0.0
              ELSE CAST(COALESCE(d.dup_chars, 0) AS DOUBLE) / t.n_chars END, 4) AS dup_frac,
        (CASE WHEN t.n_chars = 0 THEN 0.0
              ELSE CAST(COALESCE(tp.top_chars, 0) AS DOUBLE) / t.n_chars END <= 0.2
         AND CASE WHEN t.n_chars = 0 THEN 0.0
              ELSE CAST(COALESCE(d.dup_chars, 0) AS DOUBLE) / t.n_chars END <= 0.3) AS keep
      FROM tot t
      LEFT JOIN top tp USING (doc_id)
      LEFT JOIN dupc d USING (doc_id)
      ORDER BY doc_id""",

    "x20_bm25" -> """
      WITH terms AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS term
        FROM documents),
      t2 AS (SELECT doc_id, term FROM terms WHERE LENGTH(term) > 0),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
      lens AS (SELECT doc_id, COUNT(*) AS dl FROM t2 GROUP BY 1),
      dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
      st AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS nd FROM lens)
      SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
             CAST(d.dfreq AS BIGINT) AS dfreq, CAST(l.dl AS BIGINT) AS dl,
             ROUND(LN((nd - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / avgdl)), 4) AS bm25
      FROM tf t JOIN dfr d USING (term) JOIN lens l USING (doc_id), st
      WHERE t.tf >= 4
      ORDER BY t.doc_id, t.term""",

    // replays x2's jaccard doubles, the engine's exact bucket arithmetic
    // (floor over identical IEEE inputs), and the descending cumulative
    "x75_similarity_calibration" -> s"""
      WITH $jaccardCtes,
      j AS (
        SELECT CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jac
        FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.0),
      h AS (
        SELECT CAST(LEAST(GREATEST(FLOOR((jac - 0.0) * 10.0 / 1.0), 0.0), 9.0) AS INT) AS bucket,
               COUNT(*) AS cnt
        FROM j WHERE jac <= 1.0 GROUP BY 1)
      SELECT CAST(bucket AS BIGINT) AS bucket, CAST(cnt AS BIGINT) AS cnt,
        CAST(SUM(cnt) OVER (ORDER BY bucket DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS pairs_at_or_above
      FROM h ORDER BY bucket""",

    // replays corruption, blocking, the banded-levenshtein verify (plain
    // levenshtein ≤ maxDist — x44 proved the equivalence), the recursive
    // transitive closure, and min-id canonical selection
    "x74_entity_resolution" -> """
      WITH RECURSIVE base AS (
        SELECT p_partkey AS id, p_name AS name FROM part),
      corr AS (
        SELECT id + 1000000 AS id,
               SUBSTR(name, 1, 5) || 'x' || SUBSTR(name, 7) AS name
        FROM base WHERE id % 17 = 0),
      all_e AS (SELECT * FROM base UNION ALL SELECT * FROM corr),
      blocked AS (
        SELECT id, SUBSTR(name, 1, 80) AS p, SUBSTR(name, 1, 4) AS b
        FROM all_e),
      prs AS (
        SELECT a.id AS id_a, c.id AS id_b
        FROM blocked a JOIN blocked c ON a.b = c.b AND a.id < c.id
        WHERE ABS(LENGTH(a.p) - LENGTH(c.p)) <= 2
          AND levenshtein(a.p, c.p) <= 2),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM prs
        UNION SELECT id_b, id_a FROM prs),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      cmp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS c FROM reach GROUP BY src),
      ent AS (
        SELECT a.id, a.name, COALESCE(cmp.c, a.id) AS entity_id
        FROM all_e a LEFT JOIN cmp ON cmp.id = a.id),
      agg AS (SELECT entity_id, COUNT(*) AS n_members FROM ent GROUP BY 1)
      SELECT e.entity_id, e.name, CAST(a.n_members AS BIGINT) AS n_members
      FROM ent e JOIN agg a USING (entity_id)
      WHERE e.id = e.entity_id
      ORDER BY entity_id""",

    // string shingles in the oracle vs 8-byte NGramPolyHash in the engine
    // — the same equivalence x2/x48 already validate
    "x72_fuzzy_decontaminate" -> s"""
      WITH ${jaccardCtesFrom("documents")},
      bgrams AS (SELECT doc_id AS bid, shingle FROM grams WHERE doc_id % 13 = 0),
      bsizes AS (SELECT bid, COUNT(*) AS bsz FROM bgrams GROUP BY bid),
      binter AS (
        SELECT g.doc_id, b.bid, COUNT(*) AS i
        FROM grams g JOIN bgrams b USING (shingle) GROUP BY 1, 2),
      flagged AS (
        SELECT DISTINCT i.doc_id FROM binter i
        JOIN sizes s ON s.doc_id = i.doc_id
        JOIN bsizes b ON b.bid = i.bid
        WHERE CAST(i.i AS DOUBLE) / CAST(s.sz + b.bsz - i.i AS DOUBLE) >= 0.5)
      SELECT doc_id, lang FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
      ORDER BY doc_id""",

    // shares replay exactly: BIGINT token totals divided in the same
    // association order on both engines
    "x71_token_budget" -> """
      WITH g AS (
        SELECT lang, COUNT(*) AS docs,
          SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                   ELSE LEN(STR_SPLIT_REGEX(TRIM(text), '\s+')) END) AS tokens
        FROM documents GROUP BY 1),
      t AS (SELECT SUM(tokens) AS total FROM g),
      r AS (SELECT lang, docs, tokens,
              SUM(tokens) OVER (ORDER BY tokens DESC, lang
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              ROW_NUMBER() OVER (ORDER BY tokens DESC, lang) AS rank
            FROM g)
      SELECT lang, CAST(docs AS BIGINT) AS docs, CAST(tokens AS BIGINT) AS tokens,
             CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share,
             CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
             CAST(rank AS BIGINT) AS rank
      FROM r, t ORDER BY rank""",

    // the sketch side cannot be replayed (content below the guarantee
    // threshold depends on the partition split); the contract is the
    // q23-style envelope: exact counts + the guarantee booleans, which
    // the Misra-Gries theorems force to TRUE on every valid execution
    "x70_heavy_hitters" -> """
      WITH stream AS (
        SELECT CASE WHEN event_id % 4 < 2
                 THEN 'heavy_' || CAST(event_id % 2 AS VARCHAR)
                 ELSE 'tail_' || CAST(event_id % 997 AS VARCHAR) END AS item
        FROM events),
      ex AS (SELECT item, COUNT(*) AS exact_count FROM stream GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM stream)
      SELECT item, CAST(exact_count AS BIGINT) AS exact_count,
             TRUE AS in_sketch, TRUE AS bounds_ok
      FROM ex, n WHERE exact_count * 65 > n ORDER BY item""",

    // replays the token bucketing (PolyHash56 % 4096), the synthesized
    // fixed-point model, and the exact integer margin sum; IEEE math only
    // in the final (margin/1000)/n division, same association order
    "x69_quality_classifier" -> s"""
      WITH toks AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS tok
        FROM documents),
      t2 AS (SELECT doc_id, tok FROM toks WHERE LENGTH(tok) > 0),
      b AS (SELECT doc_id, ${polySql("tok")} % 4096 AS bucket FROM t2),
      w AS (SELECT g AS bucket, ((g * 2654435761) % 2001) - 1000 AS weight
            FROM (SELECT UNNEST(RANGE(0, 4096)) AS g)),
      m AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(COALESCE(weight, 0)) AS margin
            FROM b LEFT JOIN w USING (bucket) GROUP BY 1)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        (CAST(margin AS DOUBLE) / 1000.0) / n_tokens AS score,
        CAST(((CAST(margin AS DOUBLE) / 1000.0) / n_tokens > 0) AS BIGINT) AS label
      FROM m ORDER BY doc_id""",

    // replays the 12-token re-chunking, elects each paragraph's keeper by
    // ROW_NUMBER over (doc, pos) — identical to the engine's min-struct
    // election — and reassembles survivors in position order
    "x68_paragraph_dedup" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                 x -> LENGTH(x) > 0) AS toks
        FROM documents),
      built AS (
        SELECT doc_id,
          LIST_TRANSFORM(RANGE(0, GREATEST(CAST(CEIL(LEN(toks) / 12.0) AS BIGINT), 1)),
            g -> ARRAY_TO_STRING(LIST_SLICE(toks, g*12 + 1, g*12 + 12), ' ')) AS paras
        FROM t),
      praw AS (
        SELECT doc_id, UNNEST(paras) AS para,
               UNNEST(RANGE(0, LEN(paras))) AS pos
        FROM built),
      p AS (SELECT * FROM praw WHERE LENGTH(TRIM(para)) > 0),
      k AS (
        SELECT doc_id, pos, para,
          ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        FROM p),
      agg AS (
        SELECT doc_id,
          COALESCE(ARRAY_TO_STRING(LIST(para ORDER BY pos) FILTER (WHERE rn = 1),
            chr(10) || chr(10)), '') AS text,
          COUNT(*) FILTER (WHERE rn = 1) AS kept_paras,
          COUNT(*) AS total_paras
        FROM k GROUP BY doc_id)
      SELECT doc_id, text, CAST(kept_paras AS BIGINT) AS kept_paras,
             CAST(total_paras AS BIGINT) AS total_paras
      FROM agg ORDER BY doc_id""",

    // replays x20's IEEE weight arithmetic, then quantizes each weight to
    // DECIMAL(18,8) exactly once — the exact-decimal sum makes the
    // per-(query, doc) score and the ranking engine-independent
    "x67_bm25_retrieval" -> """
      WITH terms AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS term
        FROM documents),
      t2 AS (SELECT doc_id, term FROM terms WHERE LENGTH(term) > 0),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
      lens AS (SELECT doc_id, COUNT(*) AS dl FROM t2 GROUP BY 1),
      dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
      st AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS nd FROM lens),
      w AS (SELECT t.doc_id, t.term,
              CAST(LN((nd - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / avgdl))
                AS DECIMAL(18,8)) AS wgt
            FROM tf t JOIN dfr d USING (term) JOIN lens l USING (doc_id), st),
      q AS (SELECT doc_id AS q_id,
              LIST_SLICE(LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                         t -> LENGTH(t) > 0), 3, 8) AS toks
            FROM documents WHERE doc_id % 97 = 0),
      qt AS (SELECT DISTINCT q_id, UNNEST(toks) AS term FROM q),
      scored AS (SELECT qt.q_id, w.doc_id, COUNT(*) AS matched_terms,
                        SUM(wgt) AS score
                 FROM w JOIN qt USING (term) GROUP BY 1, 2),
      ranked AS (SELECT q_id, doc_id, matched_terms, score,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY score DESC, doc_id) AS rk
                 FROM scored)
      SELECT q_id, doc_id, CAST(matched_terms AS BIGINT) AS matched_terms,
             ROUND(CAST(score AS DOUBLE), 6) AS score, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 5
      ORDER BY q_id, rank""",

    // x67's BM25 ranking (k=10) + x5's dense ranking over the %97 query
    // set, fused as 1/(60+rank) sums — contributions added sparse-then-
    // dense, each one correctly-rounded division, so doubles match
    "x78_hybrid_rrf" -> s"""
      WITH terms AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS term
        FROM documents),
      t2 AS (SELECT doc_id, term FROM terms WHERE LENGTH(term) > 0),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t2 GROUP BY 1, 2),
      lens AS (SELECT doc_id, COUNT(*) AS dl FROM t2 GROUP BY 1),
      dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
      st AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS nd FROM lens),
      w AS (SELECT t.doc_id, t.term,
              CAST(LN((nd - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / avgdl))
                AS DECIMAL(18,8)) AS wgt
            FROM tf t JOIN dfr d USING (term) JOIN lens l USING (doc_id), st),
      q AS (SELECT doc_id AS q_id,
              LIST_SLICE(LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
                         t -> LENGTH(t) > 0), 3, 8) AS toks
            FROM documents WHERE doc_id % 97 = 0),
      qt AS (SELECT DISTINCT q_id, UNNEST(toks) AS term FROM q),
      sscored AS (SELECT qt.q_id, w.doc_id, SUM(wgt) AS score
                  FROM w JOIN qt USING (term) GROUP BY 1, 2),
      sranked AS (SELECT q_id, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY score DESC, doc_id) AS rk
                  FROM sscored),
      s10 AS (SELECT q_id, doc_id, rk FROM sranked WHERE rk <= 10),
      qv AS (SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
             WHERE vec_id % 97 = 0),
      dscored AS (
        SELECT qv.q_id, e.vec_id AS doc_id,
          ${dotSql("e.embedding", "qv.qvec")} /
          (SQRT(${dotSql("e.embedding", "e.embedding")}) * SQRT(${dotSql("qv.qvec", "qv.qvec")})) AS cosine
        FROM embeddings e, qv WHERE e.vec_id <> qv.q_id),
      dranked AS (SELECT q_id, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY cosine DESC, doc_id) AS rk
                  FROM dscored),
      d10 AS (SELECT q_id, doc_id, rk FROM dranked WHERE rk <= 10),
      fused AS (
        SELECT COALESCE(s.q_id, d.q_id) AS q_id,
          COALESCE(s.doc_id, d.doc_id) AS doc_id,
          COALESCE(CAST(1 AS DOUBLE) / (60 + s.rk), CAST(0 AS DOUBLE)) +
          COALESCE(CAST(1 AS DOUBLE) / (60 + d.rk), CAST(0 AS DOUBLE)) AS rrf
        FROM s10 s FULL OUTER JOIN d10 d
          ON s.q_id = d.q_id AND s.doc_id = d.doc_id),
      outr AS (SELECT q_id, doc_id, rrf,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY rrf DESC, doc_id) AS rank
               FROM fused)
      SELECT q_id, doc_id, ROUND(rrf, 6) AS rrf_score, CAST(rank AS BIGINT) AS rank
      FROM outr WHERE rank <= 5
      ORDER BY q_id, rank""",

    // the NAIVE overlap join — if the binned rewrite dropped or
    // duplicated a single pair, counts or sums would diverge
    "x97_interval_join" -> """
      WITH w AS (
        SELECT CAST(UNNEST(RANGE(DATE '1995-01-01', DATE '2001-09-01',
                                 INTERVAL 1 MONTH)) AS DATE) AS w_start),
      wiv AS (
        SELECT w_start, DATE_DIFF('day', DATE '1970-01-01', w_start) AS w_lo,
               DATE_DIFF('day', DATE '1970-01-01', w_start) + 7 AS w_hi
        FROM w),
      oiv AS (
        SELECT o_orderkey, o_totalprice,
               DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS o_lo,
               DATE_DIFF('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 30 AS o_hi
        FROM orders)
      SELECT STRFTIME(w_start, '%Y-%m-%d') AS w_start,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM oiv JOIN wiv ON oiv.o_lo < wiv.w_hi AND wiv.w_lo < oiv.o_hi
      GROUP BY w_start
      ORDER BY w_start""",

    // bottom-k of the distinct hash set via ROW_NUMBER — the sketch is a
    // pure function of the set, so the estimate divides identical operands
    "x100_kmv_distinct" -> s"""
      WITH hs AS (
        SELECT DISTINCT l_returnflag,
               ${spreadSql(polySql("CAST(l_partkey AS VARCHAR)"))} AS h
        FROM lineitem),
      ex AS (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact
             FROM lineitem GROUP BY 1),
      rk AS (SELECT l_returnflag, h,
                    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS r,
                    COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
             FROM hs),
      est AS (SELECT l_returnflag,
                CASE WHEN MAX(nd) < 128 THEN CAST(MAX(nd) AS DOUBLE)
                     ELSE 127.0 * 3.6028797018963968e16 /
                          CAST(MAX(CASE WHEN r = 128 THEN h END) AS DOUBLE) END AS est
              FROM rk GROUP BY 1)
      SELECT e.l_returnflag, e.est, CAST(x.exact AS BIGINT) AS exact
      FROM est e JOIN ex x USING (l_returnflag)
      ORDER BY l_returnflag""",

    // the same bottom-k lists composed with plain set ops: union sketch =
    // bottom-k of the merged sets, ρ = |u∩a∩b|/|u|, intersection = ρ·|a∪b|
    "x101_kmv_overlap" -> s"""
      WITH ska AS (
        SELECT DISTINCT ${spreadSql(polySql("CAST(o_custkey AS VARCHAR)"))} AS h
        FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY h LIMIT 128),
      skb AS (
        SELECT DISTINCT ${spreadSql(polySql("CAST(o_custkey AS VARCHAR)"))} AS h
        FROM orders WHERE o_orderpriority = '2-HIGH' ORDER BY h LIMIT 128),
      u AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
            ORDER BY h LIMIT 128),
      m AS (SELECT COUNT(*) AS c FROM u
            WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
      ue AS (SELECT CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
                         ELSE 127.0 * 3.6028797018963968e16 /
                              CAST(MAX(h) AS DOUBLE) END AS est,
                    COUNT(*) AS nu FROM u),
      ex AS (SELECT COUNT(*) AS exact_inter FROM
               (SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderpriority = '1-URGENT') a
             JOIN (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderpriority = '2-HIGH') b USING (o_custkey))
      SELECT CAST(m.c AS DOUBLE) / CAST(ue.nu AS DOUBLE) AS jaccard_est,
             (CAST(m.c AS DOUBLE) / CAST(ue.nu AS DOUBLE)) * ue.est AS inter_est,
             CAST(ex.exact_inter AS BIGINT) AS exact_inter
      FROM m, ue, ex""",

    // the naive single-partition ROW_NUMBER is fine for the oracle at
    // sf0.01 — the engine's distributed two-phase rank must agree exactly
    "x102_sorted_neighborhood" -> """
      WITH t AS (
        SELECT c_custkey AS id, c_name AS k,
               ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS r
        FROM customer)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(LEVENSHTEIN(a.k, b.k) AS BIGINT) AS dist
      FROM t a JOIN t b ON b.r > a.r AND b.r <= a.r + 3
      WHERE LEVENSHTEIN(a.k, b.k) <= 1
      ORDER BY id_a, id_b""",

    // the UNFILTERED all-pairs join at the same threshold: the prefix
    // filter claims losslessness, so any missed pair fails the hash
    "x103_prefix_filter" -> s"""
      WITH $jaccardCtes
      SELECT id_a, id_b,
        CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard
      FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
      ORDER BY id_a, id_b""",

    // same pairwise slopes, same (s, xa, ya, xb, yb) total order, same
    // lower-median selection
    "x123_theil_sen" -> """
      WITH daily AS (
        SELECT event_type,
               DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
        FROM events GROUP BY 1, CAST(ts AS DATE)),
      p AS (SELECT a.event_type,
                   CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s,
                   a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
            FROM daily a JOIN daily b ON a.event_type = b.event_type
              AND (a.x < b.x OR (a.x = b.x AND a.y < b.y)) AND a.x <> b.x),
      r AS (SELECT event_type, s,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                     ORDER BY s, xa, ya, xb, yb) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS m
            FROM p)
      SELECT event_type, MIN(s) AS ts_slope, CAST(MAX(m) AS BIGINT) AS n_pairs
      FROM r WHERE rn * 2 = m OR rn * 2 = m + 1
      GROUP BY 1 ORDER BY event_type""",

    "x124_hll_distinct" -> s"""
      WITH ${hllRegSql("lineitem", "l_returnflag", "l_returnflag", "l_partkey")},
      mj AS (SELECT l_returnflag, j, MAX(rho) AS mj FROM reg GROUP BY 1, 2),
      z AS (SELECT l_returnflag, COUNT(*) AS present,
              SUM(CAST((CAST(1 AS BIGINT) << (56 - mj)) AS DECIMAL(38,0))) AS zp
            FROM mj GROUP BY 1),
      ex AS (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact
             FROM lineitem GROUP BY 1)
      SELECT z.l_returnflag, $hllEstSql AS est,
        CAST(256 - present AS BIGINT) AS v_zero,
        CAST(ex.exact AS BIGINT) AS exact
      FROM z JOIN ex USING (l_returnflag)
      ORDER BY l_returnflag""",

    // the change feed's insert/delete tags reconstructed from the commit
    // slice definitions: an append's delta is its new rows; an overwrite
    // deletes every prior row and inserts its own (manifest-diff CDF)
    "etl_changefeed_config" -> """
      SELECT * FROM (
        SELECT o_orderkey, o_custkey, 'insert' AS _change_type,
               CAST(1 AS BIGINT) AS _commit_version
        FROM orders WHERE o_orderkey % 4 = 1
        UNION ALL
        SELECT o_orderkey, o_custkey, 'insert', CAST(2 AS BIGINT)
        FROM orders WHERE o_orderkey % 8 < 2
        UNION ALL
        SELECT o_orderkey, o_custkey, 'delete', CAST(2 AS BIGINT)
        FROM orders WHERE o_orderkey % 4 < 2
      ) ORDER BY _commit_version, _change_type, o_orderkey""",

    // the same register pipeline built PER DAY first, then merged by
    // max(mj) — must equal the direct sketch, and the estimate expression
    // is the shared one
    "x128_hll_daily_merge" -> s"""
      WITH ${hllRegSql("events", "event_type, CAST(ts AS DATE) AS day",
        "event_type, day", "user_id")},
      mjd AS (SELECT event_type, day, j, MAX(rho) AS mj
              FROM reg GROUP BY 1, 2, 3),
      mj AS (SELECT event_type, j, MAX(mj) AS mj FROM mjd GROUP BY 1, 2),
      z AS (SELECT event_type, COUNT(*) AS present,
              SUM(CAST((CAST(1 AS BIGINT) << (56 - mj)) AS DECIMAL(38,0))) AS zp
            FROM mj GROUP BY 1),
      ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact
             FROM events GROUP BY 1)
      SELECT z.event_type, $hllEstSql AS est,
        CAST(256 - present AS BIGINT) AS v_zero,
        CAST(ex.exact AS BIGINT) AS exact
      FROM z JOIN ex USING (event_type)
      ORDER BY event_type""",

    // the xy2d walk unrolled to 10 CTE rounds — same per-round masks,
    // rotations and d increments as the codegen'd expression
    "x126_hilbert_layout" -> s"""
      WITH r0 AS (
        SELECT (l_partkey % 1024) AS cx, (l_suppkey % 1024) AS cy,
               (l_partkey % 1024) AS x, (l_suppkey % 1024) AS y,
               CAST(0 AS BIGINT) AS d
        FROM lineitem),
      ${hilbertRoundsSql(10)}
      SELECT (d >> 14) AS zone, CAST(COUNT(*) AS BIGINT) AS cnt,
             MIN(d) AS min_d, MAX(d) AS max_d,
             MIN(cx) AS min_cx, MAX(cx) AS max_cx,
             MIN(cy) AS min_cy, MAX(cy) AS max_cy
      FROM r10 GROUP BY 1 ORDER BY zone""",

    // same window (user-keyed, (ts, event_id) order, rows to 1 preceding),
    // same 7-day micros cutoff, IGNORE NULLS carry of the last non-purchase
    "x127_attribution" -> """
      WITH t AS (
        SELECT event_id, user_id, event_type, ts,
          LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_id END
            IGNORE NULLS) OVER w AS pid,
          LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
            IGNORE NULLS) OVER w AS ptype,
          LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
            IGNORE NULLS) OVER w AS pts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id,
        CASE WHEN pts IS NOT NULL
              AND epoch_us(ts) - epoch_us(pts) <= 604800000000
             THEN pid END AS touch_id,
        CASE WHEN pts IS NOT NULL
              AND epoch_us(ts) - epoch_us(pts) <= 604800000000
             THEN ptype END AS touch_type,
        CASE WHEN pts IS NOT NULL
              AND epoch_us(ts) - epoch_us(pts) <= 604800000000
             THEN epoch_us(ts) - epoch_us(pts) END AS gap_us
      FROM t WHERE event_type = 'purchase'
      ORDER BY event_id""",

    // identical counter matrix: same prefixed hash per depth row, same
    // high-8-bit counter index, same min-over-rows estimate — BIGINTs only
    "x125_cms_counts" -> s"""
      WITH truth AS (SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY 1),
      probes AS (SELECT user_id, true_cnt FROM truth
                 ORDER BY true_cnt DESC, user_id LIMIT 10),
      cms AS (
        SELECT t.i, ${cmsIndexSql("t.i", "e.user_id")} AS c, COUNT(*) AS cnt
        FROM events e CROSS JOIN range(4) t(i)
        GROUP BY 1, 2),
      addr AS (
        SELECT p.user_id, t.i, ${cmsIndexSql("t.i", "p.user_id")} AS c
        FROM probes p CROSS JOIN range(4) t(i)),
      est AS (SELECT a.user_id, MIN(s.cnt) AS est
              FROM addr a JOIN cms s ON s.i = a.i AND s.c = a.c
              GROUP BY 1)
      SELECT e.user_id, CAST(e.est AS BIGINT) AS est,
             CAST(p.true_cnt AS BIGINT) AS true_cnt
      FROM est e JOIN probes p USING (user_id)
      ORDER BY user_id""",

    // identical NTILE semantics (equal heights, remainder to the first
    // buckets) over the same deterministic total order
    "x129_quantile_binning" -> """
      WITH binned AS (
        SELECT l_returnflag,
               NTILE(10) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bin,
               l_extendedprice
        FROM lineitem)
      SELECT l_returnflag, CAST(bin AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      FROM binned GROUP BY l_returnflag, bin
      ORDER BY l_returnflag, bin""",

    // same BIGINT counts, same single IEEE smoothing expression
    "x130_target_encoding" -> """
      WITH joined AS (
        SELECT p.p_brand,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS hit
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      prior AS (
        SELECT CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p
        FROM joined),
      agg AS (
        SELECT p_brand, CAST(SUM(hit) AS BIGINT) AS hits,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM joined GROUP BY p_brand)
      SELECT a.p_brand, a.hits, a.cnt,
             (CAST(a.hits AS DOUBLE) + CAST(50.0 AS DOUBLE) * pr.p) /
             (CAST(a.cnt AS DOUBLE) + CAST(50.0 AS DOUBLE)) AS encoded
      FROM agg a CROSS JOIN prior pr
      ORDER BY p_brand""",

    // same power-of-two decay sum (DuckDB datediff takes the unit first)
    "x131_decayed_engagement" -> """
      SELECT user_id,
        CAST(SUM(CAST((CAST(1 AS BIGINT) <<
          (55 - LEAST(DATEDIFF('day', CAST(ts AS DATE),
                      (SELECT MAX(CAST(ts AS DATE)) FROM events)), 55)))
          AS DECIMAL(38,0))) AS VARCHAR) AS score56,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
      GROUP BY user_id
      ORDER BY user_id""",

    // same exact counts, same single IEEE divisions, same smallest-key
    // tie-break for the hot key
    "x132_key_skew" -> """
      WITH stats AS (
        SELECT key_col, SUM(cnt) AS n, COUNT(*) AS nd, MAX(cnt) AS mx,
               SUM(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))) AS sq
        FROM (
          SELECT 'l_partkey' AS key_col, CAST(l_partkey AS VARCHAR) AS k,
                 COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2
          UNION ALL
          SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR), COUNT(*)
          FROM lineitem GROUP BY 1, 2
          UNION ALL
          SELECT 'l_returnflag', CAST(l_returnflag AS VARCHAR), COUNT(*)
          FROM lineitem GROUP BY 1, 2)
        GROUP BY key_col),
      tops AS (
        SELECT c.key_col, MIN(c.k) AS top_key
        FROM (
          SELECT 'l_partkey' AS key_col, CAST(l_partkey AS VARCHAR) AS k,
                 COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2
          UNION ALL
          SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR), COUNT(*)
          FROM lineitem GROUP BY 1, 2
          UNION ALL
          SELECT 'l_returnflag', CAST(l_returnflag AS VARCHAR), COUNT(*)
          FROM lineitem GROUP BY 1, 2) c
        JOIN stats s ON c.key_col = s.key_col AND c.cnt = s.mx
        GROUP BY c.key_col)
      SELECT s.key_col, CAST(s.n AS BIGINT) AS n, CAST(s.nd AS BIGINT) AS n_distinct,
             t.top_key,
             CAST(s.mx AS DOUBLE) / CAST(s.n AS DOUBLE) AS top_share,
             CAST(s.sq AS DOUBLE) /
               CAST(CAST(s.n AS DECIMAL(38,0)) * CAST(s.n AS DECIMAL(38,0)) AS DOUBLE) AS hhi,
             CAST(s.mx AS DOUBLE) * CAST(s.nd AS DOUBLE) / CAST(s.n AS DOUBLE) AS skew_ratio
      FROM stats s JOIN tops t USING (key_col)
      ORDER BY key_col""",

    // the PLAIN join — the salted implementation must reproduce it exactly
    "x133_salted_join" -> """
      SELECT s.s_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey
      ORDER BY s.s_nationkey""",

    // identical synchronous rounds unrolled as CTEs: same undirected edge
    // set, same most-frequent/smallest-label argmax per round
    "x134_label_propagation" -> s"""
      WITH d AS (SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
                 FROM lineitem),
      e AS (SELECT src, dst FROM d UNION SELECT dst, src FROM d),
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
      ${(1 to 3).map(lpaRoundSql).mkString(",\n      ")}
      SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
      FROM l3 ORDER BY node""",

    // same per-(id, shard) md5 weights, same (weight desc, shard) argmax
    "x135_rendezvous_routing" -> s"""
      WITH w AS (
        SELECT d.doc_id, t.s,
          ${hexIntSql(
            "MD5(CONCAT(CAST(d.doc_id AS VARCHAR), ':shard', CAST(t.s AS VARCHAR)))",
            8)} AS wt
        FROM documents d CROSS JOIN range(8) t(s)),
      a AS (SELECT doc_id, s FROM (
        SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY wt DESC, s) AS rn FROM w) WHERE rn = 1)
      SELECT CAST(s AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS cnt,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM a GROUP BY 1 ORDER BY shard""",

    // DuckDB JSON: typed extract; the canonical (minified, sorted-key)
    // form Spark's variant round-trip emits is reconstructed from the
    // typed value — DuckDB's JSON cast preserves source spacing
    "x136_variant_json" -> """
      SELECT event_id,
             CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS k_num,
             CONCAT('{"k":',
               CAST(CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS VARCHAR),
               '}') AS normalized
      FROM events
      WHERE CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) % 7 = 0
      ORDER BY event_id""",

    // identical leaf bucketing, row hashes and XOR signatures in SQL
    "etl_merkle_config" -> s"""
      WITH a AS (
        SELECT CONCAT(CAST(l_orderkey AS VARCHAR), '|',
                      CAST(l_linenumber AS VARCHAR)) AS k,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS q
        FROM lineitem),
      b AS (
        SELECT CONCAT(CAST(l_orderkey AS VARCHAR), '|',
                      CAST(l_linenumber AS VARCHAR)) AS k,
               CAST(CAST(CASE WHEN l_orderkey IN (1, 7, 42) AND l_linenumber = 1
                              THEN l_quantity + 1.0 ELSE l_quantity END
                    AS DECIMAL(18,2)) AS VARCHAR) AS q
        FROM lineitem),
      al AS (SELECT ${polySql("k")} % 256 AS leaf,
                    BIT_XOR(${polySql("CONCAT(k, '|', q)")}) AS a_xor,
                    COUNT(*) AS a_cnt
             FROM a GROUP BY 1),
      bl AS (SELECT ${polySql("k")} % 256 AS leaf,
                    BIT_XOR(${polySql("CONCAT(k, '|', q)")}) AS b_xor,
                    COUNT(*) AS b_cnt
             FROM b GROUP BY 1)
      SELECT CAST(leaf AS BIGINT) AS leaf, a_xor, b_xor,
             CAST(a_cnt AS BIGINT) AS a_cnt, CAST(b_cnt AS BIGINT) AS b_cnt
      FROM al FULL OUTER JOIN bl USING (leaf)
      WHERE a_xor IS DISTINCT FROM b_xor OR a_cnt IS DISTINCT FROM b_cnt
      ORDER BY leaf""",

    // level-1 diff feeds the drill filter; level-2 path = hash mod 256^2,
    // decomposed root-first into (leaf_1, leaf_2)
    "x140_merkle_drill" -> s"""
      WITH a AS (
        SELECT CONCAT(CAST(l_orderkey AS VARCHAR), '|',
                      CAST(l_linenumber AS VARCHAR)) AS k,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) AS q
        FROM lineitem),
      b AS (
        SELECT CONCAT(CAST(l_orderkey AS VARCHAR), '|',
                      CAST(l_linenumber AS VARCHAR)) AS k,
               CAST(CAST(CASE WHEN l_orderkey IN (1, 7, 42) AND l_linenumber = 1
                              THEN l_quantity + 1.0 ELSE l_quantity END
                    AS DECIMAL(18,2)) AS VARCHAR) AS q
        FROM lineitem),
      al1 AS (SELECT ${polySql("k")} % 256 AS leaf,
                     BIT_XOR(${polySql("CONCAT(k, '|', q)")}) AS a_x,
                     COUNT(*) AS a_c
              FROM a GROUP BY 1),
      bl1 AS (SELECT ${polySql("k")} % 256 AS leaf,
                     BIT_XOR(${polySql("CONCAT(k, '|', q)")}) AS b_x,
                     COUNT(*) AS b_c
              FROM b GROUP BY 1),
      d1 AS (SELECT leaf FROM al1 FULL OUTER JOIN bl1 USING (leaf)
             WHERE a_x IS DISTINCT FROM b_x OR a_c IS DISTINCT FROM b_c),
      al2 AS (SELECT ${polySql("k")} % 65536 AS path,
                     BIT_XOR(${polySql("CONCAT(k, '|', q)")}) AS a_xor,
                     COUNT(*) AS a_cnt
              FROM a WHERE ${polySql("k")} % 256 IN (SELECT leaf FROM d1)
              GROUP BY 1),
      bl2 AS (SELECT ${polySql("k")} % 65536 AS path,
                     BIT_XOR(${polySql("CONCAT(k, '|', q)")}) AS b_xor,
                     COUNT(*) AS b_cnt
              FROM b WHERE ${polySql("k")} % 256 IN (SELECT leaf FROM d1)
              GROUP BY 1)
      SELECT CAST(path % 256 AS BIGINT) AS leaf_1,
             CAST(path // 256 AS BIGINT) AS leaf_2,
             a_xor, b_xor,
             CAST(a_cnt AS BIGINT) AS a_cnt, CAST(b_cnt AS BIGINT) AS b_cnt
      FROM al2 FULL OUTER JOIN bl2 USING (path)
      WHERE a_xor IS DISTINCT FROM b_xor OR a_cnt IS DISTINCT FROM b_cnt
      ORDER BY leaf_1, leaf_2""",

    // snapshot diff: same synthetic b-version (drop %97, bump quantity on
    // %31/line-1, re-key %89 as new lines) rebuilt in SQL; status + per-
    // column change counts from one FULL OUTER JOIN on the key
    "x198_table_diff" -> """
      WITH a AS (
        SELECT l_orderkey AS k1, l_linenumber AS k2,
               CAST(l_quantity AS DECIMAL(18,2)) AS q,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
               l_shipdate AS d
        FROM lineitem),
      b AS (
        SELECT k1, k2,
               CASE WHEN k1 % 31 = 0 AND k2 = 1 THEN q + 1 ELSE q END AS q,
               p, d
        FROM a WHERE k1 % 97 <> 0
        UNION ALL
        SELECT k1, k2 + 10, q, p, d FROM a WHERE k1 % 89 = 0),
      j AS (
        SELECT a.k1 AS ak, b.k1 AS bk,
               a.q AS aq, b.q AS bq, a.p AS ap, b.p AS bp,
               a.d AS ad, b.d AS bd
        FROM a FULL OUTER JOIN b ON a.k1 = b.k1 AND a.k2 = b.k2),
      g AS (
        SELECT
          SUM(CASE WHEN ak IS NULL THEN 1 ELSE 0 END) AS added,
          SUM(CASE WHEN bk IS NULL THEN 1 ELSE 0 END) AS removed,
          SUM(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                    AND (aq IS DISTINCT FROM bq OR ap IS DISTINCT FROM bp
                         OR ad IS DISTINCT FROM bd)
              THEN 1 ELSE 0 END) AS changed,
          SUM(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                    AND NOT (aq IS DISTINCT FROM bq OR ap IS DISTINCT FROM bp
                             OR ad IS DISTINCT FROM bd)
              THEN 1 ELSE 0 END) AS unchanged,
          SUM(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                    AND aq IS DISTINCT FROM bq THEN 1 ELSE 0 END) AS c_q,
          SUM(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                    AND ap IS DISTINCT FROM bp THEN 1 ELSE 0 END) AS c_p,
          SUM(CASE WHEN ak IS NOT NULL AND bk IS NOT NULL
                    AND ad IS DISTINCT FROM bd THEN 1 ELSE 0 END) AS c_d
        FROM j)
      SELECT metric, CAST(cnt AS BIGINT) AS cnt FROM (
        SELECT 'added' AS metric, added AS cnt FROM g
        UNION ALL SELECT 'removed', removed FROM g
        UNION ALL SELECT 'changed', changed FROM g
        UNION ALL SELECT 'unchanged', unchanged FROM g
        UNION ALL SELECT 'col_changed:l_quantity', c_q FROM g
        UNION ALL SELECT 'col_changed:l_extendedprice', c_p FROM g
        UNION ALL SELECT 'col_changed:l_shipdate', c_d FROM g)
      ORDER BY metric""",

    // exact integer Gram matrix over the same int8 codes as x81:
    // element/index pairs via UNNEST + generate_subscripts, upper
    // triangle by self-join on vec_id with i <= j, BIGINT product sums
    "x199_gram_matrix" -> """
      WITH sc AS (
        SELECT vec_id, embedding,
          LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS m
        FROM embeddings),
      codes AS (
        SELECT vec_id,
          CASE WHEN m IS NULL OR m = 0 THEN LIST_TRANSFORM(embedding, x -> 0)
               ELSE LIST_TRANSFORM(embedding, x ->
                 CAST(FLOOR(CAST(x AS DOUBLE) / m * 127.0 + 0.5) AS INT)) END AS c
        FROM sc),
      el AS (
        SELECT vec_id, UNNEST(c) AS v, generate_subscripts(c, 1) AS i
        FROM codes)
      SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
             CAST(SUM(CAST(a.v AS BIGINT) * CAST(b.v AS BIGINT)) AS BIGINT) AS g
      FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
      ORDER BY i, j""",

    // farthest-first seeds: same int8 codes as x81/x199; per round a
    // MATERIALIZED min-dist frame (referenced twice — the x197 lesson)
    // and a (d DESC, id) LIMIT 1 argmax; exact BIGINT distances
    "x210_kmeanspp_seeds" -> s"""
      WITH $ffSeedCtesSql
      SELECT CAST(1 AS BIGINT) AS seed_rank, s1.id AS vec_id,
             CAST(0 AS BIGINT) AS dist_num FROM s1
      UNION ALL SELECT 2, vec_id, CAST(d AS BIGINT) FROM s2
      UNION ALL SELECT 3, vec_id, CAST(d AS BIGINT) FROM s3
      UNION ALL SELECT 4, vec_id, CAST(d AS BIGINT) FROM s4
      UNION ALL SELECT 5, vec_id, CAST(d AS BIGINT) FROM s5
      ORDER BY seed_rank""",

    // Lloyd on the same seed chain: grid-quantized centroid updates
    // (⌊(2s+n)/(2n)⌋ per lane), argmin by (d, cid) ROW_NUMBER; empty
    // clusters keep their previous centroid via the LEFT JOIN COALESCE
    "x211_kmeans_lloyd" -> s"""
      WITH $ffSeedCtesSql,
      $lloydCtesSql
      SELECT CAST(cid AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(SUM(d) AS BIGINT) AS inertia, MIN(vec_id) AS min_id
      FROM asg2 GROUP BY 1 ORDER BY cluster""",

    // LCS verify: same blocks as x44, same nested-fold shape as x215
    // with the eq?diag+1:max(up,left) recurrence; exact 2·lcs·100
    // cross-multiplied threshold on both sides
    "x216_lcs_pairs" -> s"""
      WITH t AS (
        SELECT doc_id AS id,
               list_transform(STR_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')[1:40],
                              tk -> ${polySql("tk")}) AS p,
               source || '|' || CAST(n_chars // 20 AS VARCHAR)
                 || '|' || SUBSTR(TRIM(LOWER(text)), 1, 8) AS b
        FROM documents),
      pairs AS (
        SELECT a.id AS id_a, c.id AS id_b, a.p AS xs, c.p AS ys
        FROM t a JOIN t c ON a.b = c.b AND a.id < c.id
        WHERE LEAST(len(a.p), len(c.p)) * 200 >= 60 * (len(a.p) + len(c.p))),
      scored AS (
        SELECT id_a, id_b,
               list_reduce(
                 list_prepend(
                   list_reduce(
                     list_prepend(
                       [CASE WHEN xs[1] = ys[1] THEN CAST(1 AS BIGINT)
                             ELSE CAST(0 AS BIGINT) END],
                       list_transform(xs[2:], x -> [x])),
                     (arr, xl) -> list_append(arr,
                       GREATEST(arr[len(arr)],
                         CASE WHEN xl[1] = ys[1] THEN 1 ELSE 0 END))),
                   list_transform(ys[2:], y -> [y])),
                 (prev, yl) -> list_reduce(
                   list_prepend(
                     [GREATEST(prev[1],
                        CASE WHEN xs[1] = yl[1] THEN CAST(1 AS BIGINT)
                             ELSE CAST(0 AS BIGINT) END)],
                     list_transform(xs[2:], x -> [x])),
                   (arr, xl) -> list_append(arr,
                     GREATEST(
                       CASE WHEN xl[1] = yl[1] THEN prev[len(arr)] + 1
                            ELSE 0 END,
                       prev[len(arr) + 1], arr[len(arr)]))))
               [len(xs)] AS lcs,
               CAST(len(xs) AS BIGINT) AS n_a, CAST(len(ys) AS BIGINT) AS n_b
        FROM pairs)
      SELECT id_a, id_b, CAST(lcs AS BIGINT) AS lcs, n_a, n_b
      FROM scored
      WHERE lcs * 200 >= 60 * (n_a + n_b)
      ORDER BY id_a, id_b""",

    // DTW: the IDENTICAL nested fold in DuckDB list lambdas (acc and
    // element types must match, so scalars ride as 1-element lists)
    "x215_dtw_distance" -> """
      WITH daily AS (
        SELECT CAST(event_type AS VARCHAR) AS series, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        FROM events GROUP BY 1, 2),
      seqs AS (
        SELECT series, list(v ORDER BY d) AS vs FROM daily GROUP BY 1),
      pairs AS (
        SELECT a.series AS series_a, b.series AS series_b,
               a.vs AS xs, b.vs AS ys
        FROM seqs a JOIN seqs b ON a.series < b.series)
      SELECT series_a, series_b,
             CAST(len(xs) AS BIGINT) AS len_a,
             CAST(len(ys) AS BIGINT) AS len_b,
             list_reduce(
               list_prepend(
                 list_reduce(
                   list_prepend([ABS(xs[1] - ys[1])],
                                list_transform(xs[2:], x -> [x])),
                   (arr, xl) -> list_append(arr,
                     arr[len(arr)] + ABS(xl[1] - ys[1]))),
                 list_transform(ys[2:], y -> [y])),
               (prev, yl) -> list_reduce(
                 list_prepend([prev[1] + ABS(xs[1] - yl[1])],
                              list_transform(xs[2:], x -> [x])),
                 (arr, xl) -> list_append(arr,
                   ABS(xl[1] - yl[1]) + LEAST(prev[len(arr) + 1],
                     prev[len(arr)], arr[len(arr)]))))
             [len(xs)] AS dtw
      FROM pairs
      ORDER BY series_a, series_b""",

    // Copeland: directed counts full-outer-merged with their reverses,
    // integer sign sums
    "x214_copeland" -> """
      WITH li AS (
        SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p
        FROM lineitem),
      pr AS (
        SELECT a.p AS w, b.p AS l, COUNT(*) AS n
        FROM li a JOIN li b ON a.o = b.o AND a.ln < b.ln AND a.p <> b.p
        GROUP BY 1, 2),
      m AS (
        SELECT COALESCE(f.w, r.l) AS i, COALESCE(f.l, r.w) AS j,
               COALESCE(f.n, 0) AS nij, COALESCE(r.n, 0) AS nji
        FROM pr f FULL OUTER JOIN pr r ON f.w = r.l AND f.l = r.w)
      SELECT CAST(i AS BIGINT) AS item,
             CAST(SUM(CASE WHEN nij > nji THEN 1 ELSE 0 END) AS BIGINT) AS beats,
             CAST(SUM(CASE WHEN nij < nji THEN 1 ELSE 0 END) AS BIGINT) AS losses,
             CAST(SUM(CASE WHEN nij > nji THEN 1
                           WHEN nij < nji THEN -1 ELSE 0 END) AS BIGINT)
               AS copeland
      FROM m GROUP BY 1 ORDER BY item""",

    // Bradley-Terry: 3 unrolled MM rounds, every term and strength
    // quantized to DECIMAL(18,8) (x184 recipe); rounds MATERIALIZED
    "x213_bradley_terry" -> s"""
      WITH li AS (
        SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p
        FROM lineitem),
      pr AS (
        SELECT a.p AS w, b.p AS l, COUNT(*) AS n
        FROM li a JOIN li b ON a.o = b.o AND a.ln < b.ln AND a.p <> b.p
        GROUP BY 1, 2),
      g AS MATERIALIZED (
        SELECT i, j, SUM(n) AS n FROM (
          SELECT w AS i, l AS j, n FROM pr
          UNION ALL SELECT l AS i, w AS j, n FROM pr)
        GROUP BY 1, 2),
      wi AS MATERIALIZED (SELECT w AS i, SUM(n) AS wins FROM pr GROUP BY 1),
      s0 AS MATERIALIZED (
        SELECT DISTINCT i, CAST(1 AS DECIMAL(18,8)) AS s FROM g),
      ${(1 to 3).map(k => s"""s$k AS MATERIALIZED (
        SELECT base.i,
          CASE WHEN d.d IS NULL OR d.d = 0 THEN CAST(0 AS DECIMAL(18,8))
               ELSE CAST(CAST(COALESCE(wi.wins, 0) AS DOUBLE) /
                         CAST(d.d AS DOUBLE) AS DECIMAL(18,8)) END AS s
        FROM s${k - 1} base
        LEFT JOIN (
          SELECT g.i,
                 SUM(CAST(CAST(g.n AS DOUBLE) /
                     (CAST(si.s AS DOUBLE) + CAST(sj.s AS DOUBLE))
                     AS DECIMAL(18,8))) AS d
          FROM g JOIN s${k - 1} si ON si.i = g.i
                 JOIN s${k - 1} sj ON sj.i = g.j
          GROUP BY 1) d ON d.i = base.i
        LEFT JOIN wi ON wi.i = base.i)""").mkString(",\n      ")}
      SELECT CAST(s3.i AS BIGINT) AS item,
             CAST(COALESCE(wi.wins, 0) AS BIGINT) AS wins,
             CAST(s3.s AS DOUBLE) AS strength
      FROM s3 LEFT JOIN wi ON wi.i = s3.i
      ORDER BY item""",

    // silhouette: the same final centroid set; b from the full distance
    // map minus the own-cluster row, per-point s quantized pre-mean
    "x212_silhouette" -> s"""
      WITH $ffSeedCtesSql,
      $lloydCtesSql,
      sb AS (
        SELECT a2.vec_id, a2.cid AS cluster, a2.d AS a, MIN(o.d) AS b
        FROM asg2 a2 JOIN alld2 o
          ON o.vec_id = a2.vec_id AND o.cid <> a2.cid
        GROUP BY 1, 2, 3),
      sil AS (
        SELECT cluster,
          CAST(CASE WHEN GREATEST(a, b) = 0 THEN 0.0
               ELSE CAST(b - a AS DOUBLE) / CAST(GREATEST(a, b) AS DOUBLE) END
            AS DECIMAL(18,8)) AS s2
        FROM sb)
      SELECT CAST(cluster AS BIGINT) AS cluster,
             CAST(COUNT(*) AS BIGINT) AS n_points,
             ROUND(CAST(SUM(s2) AS DOUBLE) / COUNT(*), 6) AS mean_silhouette
      FROM sil GROUP BY 1 ORDER BY cluster""",

    // PassJoin oracle: the NAIVE quadratic definition — every same-source
    // pair within the length prefilter, full levenshtein — which the
    // segment-signature path must reproduce exactly (losslessness IS the
    // contract; the recall proof is this hash equality plus the
    // PropertySpec brute-force replay)
    "x221_calibration_bins" -> s"""
      WITH q AS (
        SELECT ROUND(
            (CASE WHEN LENGTH(text) BETWEEN 50 AND 20000 THEN 1.0
                  WHEN LENGTH(text) BETWEEN 20 AND 50 THEN 0.5 ELSE 0.0 END) * 0.4 +
            (CASE WHEN (CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS DOUBLE)
                        / LEN(STR_SPLIT_REGEX(TRIM(text), '\\s+'))) BETWEEN 2.0 AND 12.0
                  THEN 1.0 ELSE 0.3 END) * 0.4 +
            (CASE WHEN (CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                        / GREATEST(LENGTH(text), 1)) <= 0.2 THEN 1.0 ELSE 0.2 END) * 0.2,
            4) AS q,
          (lang = 'en') AS is_en
        FROM documents),
      b AS (
        SELECT CAST(LEAST(GREATEST(FLOOR(q * 10.0), 0.0), 9.0) AS BIGINT) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          SUM(CAST(q AS DECIMAL(18,8))) AS sp
        FROM q WHERE q IS NOT NULL AND q >= 0.0 AND q <= 1.0
        GROUP BY 1),
      p AS (
        SELECT bin, n, pos,
          CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
          CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS mean_pred,
          CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
          ABS(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) AS abs_gap
        FROM b)
      SELECT bin, n, pos,
        ROUND(share, 6) AS share,
        ROUND(mean_pred, 6) AS mean_pred,
        ROUND(frac_pos, 6) AS frac_pos,
        ROUND(abs_gap, 6) AS abs_gap,
        ROUND(CAST(SUM(CAST(share * abs_gap AS DECIMAL(18,8))) OVER () AS DOUBLE),
          6) AS ece
      FROM p ORDER BY bin""",

    // recall drift: int8 codes (x91's machinery), build-time centroids
    // cent0, one grid-quantized Lloyd refresh (x211's ⌊(2s+n)/(2n)⌋
    // lanes, empty cells keep their centroid), nprobe=2 probe cells and
    // exact-integer argmin/cosine throughout — both probe geometries and
    // the exact list replay bit-for-bit, recalls are single double
    // divisions of exact counts
    "x226_ivf_recall_drift" -> s"""
      WITH sc0 AS (
        SELECT vec_id, embedding,
          LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS m
        FROM embeddings),
      codes AS (
        SELECT vec_id,
          CASE WHEN m IS NULL OR m = 0 THEN LIST_TRANSFORM(embedding, x -> 0)
               ELSE LIST_TRANSFORM(embedding, x ->
                 CAST(FLOOR(CAST(x AS DOUBLE) / m * 127.0 + 0.5) AS INT)) END AS c
        FROM sc0),
      corpus AS (SELECT vec_id, c FROM codes
                 WHERE vec_id < 490 OR vec_id >= 500),
      q AS (SELECT vec_id AS q_id, c AS qc FROM codes
            WHERE vec_id >= 490 AND vec_id < 500),
      cent0 AS MATERIALIZED (
        SELECT vec_id AS cid, c AS cl FROM codes WHERE vec_id < 5),
      asg0 AS MATERIALIZED (
        SELECT vec_id, c, cid FROM (
          SELECT p.vec_id, p.c, ct.cid,
                 ROW_NUMBER() OVER (PARTITION BY p.vec_id
                   ORDER BY ${i8DistSql("p.c", "ct.cl")}, ct.cid) AS rn
          FROM corpus p CROSS JOIN cent0 ct) WHERE rn = 1),
      upd AS (
        SELECT cid, i, SUM(v) AS s, COUNT(*) AS n FROM (
          SELECT cid, UNNEST(c) AS v, generate_subscripts(c, 1) AS i
          FROM asg0)
        GROUP BY 1, 2),
      cent1 AS MATERIALIZED (
        SELECT c0.cid, COALESCE(cu.cl, c0.cl) AS cl
        FROM cent0 c0 LEFT JOIN (
          SELECT cid, list(CAST(FLOOR((2.0 * s + n) / (2.0 * n)) AS INT)
                           ORDER BY i) AS cl
          FROM upd GROUP BY 1) cu ON cu.cid = c0.cid),
      asg1 AS MATERIALIZED (
        SELECT vec_id, c, cid FROM (
          SELECT p.vec_id, p.c, ct.cid,
                 ROW_NUMBER() OVER (PARTITION BY p.vec_id
                   ORDER BY ${i8DistSql("p.c", "ct.cl")}, ct.cid) AS rn
          FROM corpus p CROSS JOIN cent1 ct) WHERE rn = 1),
      qc0 AS (
        SELECT q_id, qc, cid FROM (
          SELECT q.q_id, q.qc, ct.cid,
                 ROW_NUMBER() OVER (PARTITION BY q.q_id
                   ORDER BY ${i8DistSql("q.qc", "ct.cl")}, ct.cid) AS rn
          FROM q CROSS JOIN cent0 ct) WHERE rn <= 2),
      qc1 AS (
        SELECT q_id, qc, cid FROM (
          SELECT q.q_id, q.qc, ct.cid,
                 ROW_NUMBER() OVER (PARTITION BY q.q_id
                   ORDER BY ${i8DistSql("q.qc", "ct.cl")}, ct.cid) AS rn
          FROM q CROSS JOIN cent1 ct) WHERE rn <= 2),
      lsc AS (
        SELECT qc0.q_id, a.vec_id,
          CAST(${idotSql("a.c", "qc0.qc")} AS DOUBLE) /
          (SQRT(CAST(${idotSql("a.c", "a.c")} AS DOUBLE)) *
           SQRT(CAST(${idotSql("qc0.qc", "qc0.qc")} AS DOUBLE))) AS cosine
        FROM asg0 a JOIN qc0 ON a.cid = qc0.cid AND a.vec_id <> qc0.q_id),
      live AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id) AS rk
          FROM lsc) WHERE rk <= 10),
      fsc AS (
        SELECT qc1.q_id, a.vec_id,
          CAST(${idotSql("a.c", "qc1.qc")} AS DOUBLE) /
          (SQRT(CAST(${idotSql("a.c", "a.c")} AS DOUBLE)) *
           SQRT(CAST(${idotSql("qc1.qc", "qc1.qc")} AS DOUBLE))) AS cosine
        FROM asg1 a JOIN qc1 ON a.cid = qc1.cid AND a.vec_id <> qc1.q_id),
      fresh AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id) AS rk
          FROM fsc) WHERE rk <= 10),
      esc AS (
        SELECT q.q_id, p.vec_id,
          CAST(${idotSql("p.c", "q.qc")} AS DOUBLE) /
          (SQRT(CAST(${idotSql("p.c", "p.c")} AS DOUBLE)) *
           SQRT(CAST(${idotSql("q.qc", "q.qc")} AS DOUBLE))) AS cosine
        FROM corpus p, q WHERE p.vec_id <> q.q_id),
      ex AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id) AS rk
          FROM esc) WHERE rk <= 10),
      hl AS (SELECT q_id, COUNT(*) AS h FROM live JOIN ex
             USING (q_id, vec_id) GROUP BY 1),
      hf AS (SELECT q_id, COUNT(*) AS h FROM fresh JOIN ex
             USING (q_id, vec_id) GROUP BY 1),
      ne AS (SELECT q_id, COUNT(*) AS n FROM ex GROUP BY 1)
      SELECT ne.q_id, CAST(n AS BIGINT) AS n_exact,
             CAST(COALESCE(hl.h, 0) AS BIGINT) AS n_hit_live,
             CAST(COALESCE(hf.h, 0) AS BIGINT) AS n_hit_fresh,
             CAST(COALESCE(hl.h, 0) AS DOUBLE) / CAST(n AS DOUBLE)
               AS recall_live,
             CAST(COALESCE(hf.h, 0) AS DOUBLE) / CAST(n AS DOUBLE)
               AS recall_fresh,
             CAST(COALESCE(hf.h, 0) AS DOUBLE) / CAST(n AS DOUBLE)
               - CAST(COALESCE(hl.h, 0) AS DOUBLE) / CAST(n AS DOUBLE)
               AS drift
      FROM ne LEFT JOIN hl ON ne.q_id = hl.q_id
              LEFT JOIN hf ON ne.q_id = hf.q_id
      ORDER BY ne.q_id""",

    "x225_nfc_dedup_keys" -> """
      WITH v AS (
        SELECT doc_id * 2 AS vid,
          text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS t
        FROM documents
        UNION ALL
        SELECT doc_id * 2 + 1,
          text || ' caf' || chr(233) || ' na' || chr(239) || 've'
        FROM documents)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_variants,
        CAST(COUNT(DISTINCT md5(t)) AS BIGINT) AS distinct_raw_fp,
        CAST(COUNT(DISTINCT md5(nfc_normalize(t))) AS BIGINT)
          AS distinct_norm_fp,
        CAST(SUM(CASE WHEN nfc_normalize(t) <> t THEN 1 ELSE 0 END)
          AS BIGINT) AS n_changed
      FROM v""",

    "x224_zipf_fit" -> s"""
      WITH toks AS (
        SELECT UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS term
        FROM documents),
      f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks
            WHERE LENGTH(term) > 0 GROUP BY 1),
      r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS rnk
            FROM f),
      p AS (SELECT CAST(LN(CAST(rnk AS DOUBLE)) AS DECIMAL(18,8)) AS x,
                   CAST(LN(CAST(c AS DOUBLE)) AS DECIMAL(18,8)) AS y
            FROM r),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              SUM(x) AS msx, SUM(y) AS msy, SUM(x*y) AS msxy,
              SUM(x*x) AS msxx, SUM(y*y) AS msyy
            FROM p),
      d AS (SELECT n, CAST(n AS DOUBLE) AS nd,
              CAST(msx AS DOUBLE) AS sx, CAST(msy AS DOUBLE) AS sy,
              CAST(msxy AS DOUBLE) AS sxy, CAST(msxx AS DOUBLE) AS sxx,
              CAST(msyy AS DOUBLE) AS syy
            FROM m),
      e AS (SELECT n, nd, sx, sy, syy,
              nd*sxx - sx*sx AS den, nd*sxy - sx*sy AS num
            FROM d)
      SELECT n AS n_terms,
        ROUND(CASE WHEN den = 0 THEN NULL ELSE num/den END, 6) AS slope,
        ROUND(CASE WHEN den = 0 THEN NULL
          ELSE (sy - (num/den)*sx)/nd END, 6) AS intercept,
        ROUND(CASE WHEN den*(nd*syy - sy*sy) = 0 THEN NULL
          ELSE num*num/(den*(nd*syy - sy*sy)) END, 6) AS r2
      FROM e""",

    "x223_js_divergence" -> s"""
      WITH ta AS (
        SELECT UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS term
        FROM documents WHERE lang = 'en'),
      tb AS (
        SELECT UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS term
        FROM documents WHERE lang <> 'en'),
      fa AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS ca FROM ta
             WHERE LENGTH(term) > 0 GROUP BY 1),
      fb AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cb FROM tb
             WHERE LENGTH(term) > 0 GROUP BY 1),
      j AS (
        SELECT COALESCE(fa.ca, 0) AS ca, COALESCE(fb.cb, 0) AS cb,
          (SELECT SUM(ca) FROM fa) AS na, (SELECT SUM(cb) FROM fb) AS nb
        FROM fa FULL OUTER JOIN fb USING (term)),
      terms AS (
        SELECT
          CAST(CASE WHEN ca > 0 THEN
            (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) *
            LN((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) /
               ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                 + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
            ELSE 0.0 END AS DECIMAL(18,8)) AS tp,
          CAST(CASE WHEN cb > 0 THEN
            (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) *
            LN((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) /
               ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
                 + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
            ELSE 0.0 END AS DECIMAL(18,8)) AS tq,
          CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS sh,
          CASE WHEN ca > 0 THEN 1 ELSE 0 END AS ia,
          CASE WHEN cb > 0 THEN 1 ELSE 0 END AS ib,
          na, nb
        FROM j)
      SELECT CAST(MAX(na) AS BIGINT) AS tokens_a,
        CAST(MAX(nb) AS BIGINT) AS tokens_b,
        CAST(SUM(ia) AS BIGINT) AS terms_a,
        CAST(SUM(ib) AS BIGINT) AS terms_b,
        CAST(SUM(sh) AS BIGINT) AS shared_terms,
        ROUND(CAST(SUM(tp) + SUM(tq) AS DOUBLE) / 2.0, 6) AS js_nats,
        ROUND(CAST(SUM(tp) + SUM(tq) AS DOUBLE) / 2.0 / 0.6931471805599453,
          6) AS js_bits
      FROM terms""",

    "x222_cohens_kappa" -> s"""
      WITH r AS (
        SELECT
          (ROUND(
            (CASE WHEN LENGTH(text) BETWEEN 50 AND 20000 THEN 1.0
                  WHEN LENGTH(text) BETWEEN 20 AND 50 THEN 0.5 ELSE 0.0 END) * 0.4 +
            (CASE WHEN (CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS DOUBLE)
                        / LEN(STR_SPLIT_REGEX(TRIM(text), '\\s+'))) BETWEEN 2.0 AND 12.0
                  THEN 1.0 ELSE 0.3 END) * 0.4 +
            (CASE WHEN (CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                        / GREATEST(LENGTH(text), 1)) <= 0.2 THEN 1.0 ELSE 0.2 END) * 0.2,
            4) >= 0.8) AS a,
          (LENGTH(text) BETWEEN 50 AND 20000
            AND (CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1)) <= 0.2) AS b
        FROM documents
        WHERE TRUE),
      m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
          CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS HUGEINT) AS ra_t,
          CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS HUGEINT) AS ra_f,
          CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS HUGEINT) AS cb_t,
          CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS HUGEINT) AS cb_f
        FROM r WHERE a IS NOT NULL AND b IS NOT NULL)
      SELECT n, agree,
        ROUND(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        ROUND(CAST(ra_t * cb_t + ra_f * cb_f AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
        ROUND(CASE WHEN CAST(ra_t * cb_t + ra_f * cb_f AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 1.0 THEN NULL
          ELSE (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
                - CAST(ra_t * cb_t + ra_f * cb_f AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
               / (1.0 - CAST(ra_t * cb_t + ra_f * cb_f AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END,
          6) AS kappa
      FROM m""",

    "x220_dup_mass_audit" -> """
      WITH marked AS (
        SELECT doc_id,
          CASE WHEN doc_id % 10 = 0 THEN 'identical boilerplate body text'
               ELSE text END AS text,
          source
        FROM documents),
      g AS (SELECT source AS b, SUBSTR(text, 1, 40) AS p,
              CAST(COUNT(*) AS BIGINT) AS members
            FROM marked GROUP BY 1, 2)
      SELECT b, p, members,
        CAST((members * (members - 1)) // 2 AS BIGINT) AS dist0_pairs
      FROM g WHERE members >= 2
      ORDER BY dist0_pairs DESC, b, p""",

    "x219_passjoin_pairs" -> """
      WITH t AS (
        SELECT doc_id AS id, SUBSTR(text, 1, 40) AS p, source AS b
        FROM documents WHERE text IS NOT NULL)
      SELECT a.id AS id_a, c.id AS id_b,
             CAST(levenshtein(a.p, c.p) AS INT) AS dist
      FROM t a JOIN t c ON a.b = c.b AND a.id < c.id
        AND ABS(LENGTH(a.p) - LENGTH(c.p)) <= 2
      WHERE levenshtein(a.p, c.p) <= 2
      ORDER BY id_a, id_b""",

    // JP coloring: 12 unrolled MATERIALIZED rounds — beaten set, winners,
    // neighbor-color first-gap fold, union/anti bookkeeping — over the
    // x119 copurchase edges with the same md5('jp:'||node) priorities
    "x218_jp_coloring" -> {
      val rounds = (1 to 16).map { r =>
        val (u0, c0) = (s"u${r - 1}", s"c${r - 1}")
        s"""bt$r AS MATERIALIZED (
        SELECT DISTINCT e.a AS node
        FROM e JOIN $u0 ua ON ua.node = e.a
               JOIN $u0 ub ON ub.node = e.b
        WHERE ub.pri > ua.pri OR (ub.pri = ua.pri AND e.b > e.a)),
      w$r AS MATERIALIZED (
        SELECT u.node FROM $u0 u LEFT JOIN bt$r b ON b.node = u.node
        WHERE b.node IS NULL),
      nc$r AS MATERIALIZED (
        SELECT w.node, list_sort(list(DISTINCT c.color)) AS cs
        FROM w$r w JOIN e ON e.a = w.node
                   JOIN $c0 c ON c.node = e.b
        GROUP BY 1),
      a$r AS MATERIALIZED (
        SELECT w.node,
          COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT), nc.cs),
            (acc, x) -> CASE WHEN x = acc THEN acc + 1 ELSE acc END),
            CAST(0 AS BIGINT)) AS color,
          CAST($r AS BIGINT) AS rnd
        FROM w$r w LEFT JOIN nc$r nc ON nc.node = w.node),
      c$r AS MATERIALIZED (
        SELECT node, color, rnd FROM $c0
        UNION ALL SELECT node, color, rnd FROM a$r),
      u$r AS MATERIALIZED (
        SELECT u.node, u.pri FROM $u0 u
        LEFT JOIN a$r a ON a.node = u.node WHERE a.node IS NULL)"""
      }.mkString(",\n      ")
      s"""
      WITH ch AS (
        SELECT l_partkey AS src,
               LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_partkey) AS dst
        FROM lineitem),
      ce AS (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM ch WHERE dst IS NOT NULL AND src <> dst
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      e AS MATERIALIZED (
        SELECT a, b FROM ce UNION ALL SELECT b AS a, a AS b FROM ce),
      u0 AS MATERIALIZED (
        SELECT node, ${hexIntSql(
          "MD5(CONCAT('jp:', CAST(node AS VARCHAR)))", 8)} AS pri
        FROM (SELECT DISTINCT a AS node FROM e)),
      c0 AS MATERIALIZED (
        SELECT CAST(NULL AS BIGINT) AS node, CAST(NULL AS BIGINT) AS color,
               CAST(NULL AS BIGINT) AS rnd WHERE FALSE),
      $rounds
      SELECT CAST(node AS BIGINT) AS node, color, rnd AS colored_round
      FROM c16
      UNION ALL
      SELECT CAST(node AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
      FROM u16
      ORDER BY node"""
    },

    // walks: same dense tids, same md5 HRW weights (hexIntSql = the
    // x135-proven conv(substring(md5..)) equivalent), steps MATERIALIZED
    "x217_random_walks" -> s"""
      WITH o AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      t AS (
        SELECT prev AS a, event_type AS b, COUNT(*) AS cnt
        FROM o WHERE prev IS NOT NULL AND prev <> event_type
        GROUP BY 1, 2),
      n0 AS (SELECT a AS t FROM t UNION SELECT b FROM t),
      ty AS (SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS tid
             FROM n0),
      e AS (SELECT sa.tid AS a, sb.tid AS b
            FROM (SELECT DISTINCT a, b FROM t) d
            JOIN ty sa ON sa.t = d.a JOIN ty sb ON sb.t = d.b),
      w0 AS (SELECT ty.tid AS start, r.wi AS widx, ty.tid AS cur
             FROM ty, RANGE(2) r(wi)),
      ${(1 to 4).map(s => s"""s$s AS MATERIALIZED (
        SELECT start, widx, cur FROM (
          SELECT w.start, w.widx, e.b AS cur,
            ROW_NUMBER() OVER (PARTITION BY w.start, w.widx
              ORDER BY ${hexIntSql(
                "MD5(CONCAT(CAST(w.start AS VARCHAR), '|', " +
                "CAST(w.widx AS VARCHAR), '|', '" + s + "', '|', " +
                "CAST(e.b AS VARCHAR)))", 8)} DESC, e.b) AS rn
          FROM ${if (s == 1) "w0" else s"s${s - 1}"} w
          JOIN e ON e.a = w.cur) WHERE rn = 1)""").mkString(",\n      ")},
      path AS (
        SELECT start, widx, 0 AS step, cur AS node FROM w0
        UNION ALL SELECT start, widx, 1, cur FROM s1
        UNION ALL SELECT start, widx, 2, cur FROM s2
        UNION ALL SELECT start, widx, 3, cur FROM s3
        UNION ALL SELECT start, widx, 4, cur FROM s4)
      SELECT ts.t AS start_type, CAST(p.widx AS BIGINT) AS widx,
             CAST(p.step AS BIGINT) AS step, tn.t AS event_type
      FROM path p JOIN ty ts ON ts.tid = p.start
                  JOIN ty tn ON tn.tid = p.node
      ORDER BY start_type, widx, step""",

    // HITS: three unrolled a/h rounds in HUGEINT over the same graph;
    // missing-side nodes COALESCE to 0 each round, one DOUBLE cast at end
    "x209_hits" -> s"""
      WITH o AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      t AS (
        SELECT prev AS a, event_type AS b, COUNT(*) AS cnt
        FROM o WHERE prev IS NOT NULL AND prev <> event_type
        GROUP BY 1, 2),
      n AS (SELECT a AS t FROM t UNION SELECT b FROM t),
      h0 AS (SELECT t AS node, CAST(1 AS HUGEINT) AS h FROM n),
      ${(1 to 3).map(k => s"""a$k AS (
        SELECT n.t AS node, COALESCE(s.v, 0) AS a FROM n LEFT JOIN (
          SELECT t.b, SUM(CAST(t.cnt AS HUGEINT) * p.h) AS v
          FROM t JOIN h${k - 1} p ON p.node = t.a GROUP BY 1) s
        ON s.b = n.t),
      h$k AS (
        SELECT n.t AS node, COALESCE(s.v, 0) AS h FROM n LEFT JOIN (
          SELECT t.a, SUM(CAST(t.cnt AS HUGEINT) * q.a) AS v
          FROM t JOIN a$k q ON q.node = t.b GROUP BY 1) s
        ON s.a = n.t)""").mkString(",\n      ")}
      SELECT a3.node AS event_type, CAST(a3.a AS DOUBLE) AS authority,
             CAST(h3.h AS DOUBLE) AS hub
      FROM a3 JOIN h3 USING (node)
      ORDER BY event_type""",

    // SSSP: same weighted graph; rounds unrolled as MATERIALIZED CTEs
    // (each round references its predecessor twice — the x197 lesson);
    // the alphabetically-first type is the source
    "x208_shortest_paths" -> s"""
      WITH o AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      t AS (
        SELECT prev AS a, event_type AS b, COUNT(*) AS cnt
        FROM o WHERE prev IS NOT NULL AND prev <> event_type
        GROUP BY 1, 2),
      mx AS (SELECT MAX(cnt) AS mc FROM t),
      e AS (SELECT a, b, mx.mc - cnt + 1 AS w FROM t, mx),
      n AS (SELECT a AS t FROM e UNION SELECT b FROM e),
      d0 AS (SELECT (SELECT MIN(t) FROM n) AS node, 0 AS dist),
      ${(1 to 4).map(k => s"""d$k AS MATERIALIZED (
        SELECT node, MIN(dist) AS dist FROM (
          SELECT node, dist FROM d${k - 1}
          UNION ALL
          SELECT e.b AS node, d.dist + e.w AS dist
          FROM d${k - 1} d JOIN e ON e.a = d.node)
        GROUP BY 1)""").mkString(",\n      ")}
      SELECT node AS event_type, CAST(dist AS BIGINT) AS dist
      FROM d4 ORDER BY event_type""",

    // entropy: LEAD pairs under the same (ts, event_id) order; terms
    // CAST to DECIMAL(18,8) pre-sum so both engines add identical values
    "x207_transition_entropy" -> """
      WITH o AS (
        SELECT event_type,
               LEAD(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events),
      t AS (
        SELECT event_type AS from_type, nxt AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
      wi AS (
        SELECT from_type, to_type, n,
               SUM(n) OVER (PARTITION BY from_type) AS ni
        FROM t),
      h AS (
        SELECT from_type, MAX(ni) AS n_total, COUNT(*) AS fanout,
               SUM(CAST(-(CAST(n AS DOUBLE) / CAST(ni AS DOUBLE)) *
                        LN(CAST(n AS DOUBLE) / CAST(ni AS DOUBLE))
                   AS DECIMAL(18,8))) AS hs
        FROM wi GROUP BY 1)
      SELECT from_type, CAST(n_total AS BIGINT) AS n_total,
             CAST(fanout AS BIGINT) AS fanout,
             CAST(hs AS DOUBLE) AS entropy,
             ROUND(EXP(CAST(hs AS DOUBLE)), 6) AS perplexity
      FROM h ORDER BY from_type""",

    // SCC oracle: transitive closure of the same thresholded transition
    // graph via recursive CTE; SCC label = min type over mutual pairs
    "x206_scc" -> """
      WITH RECURSIVE o AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events),
      t AS (
        SELECT prev AS a, event_type AS b, COUNT(*) AS cnt
        FROM o WHERE prev IS NOT NULL AND prev <> event_type
        GROUP BY 1, 2),
      mx AS (SELECT MAX(cnt) AS mc FROM t),
      kept AS (SELECT a, b FROM t, mx WHERE cnt * 10 >= mc * 9),
      n AS (SELECT a AS t FROM kept UNION SELECT b FROM kept),
      reach(s, d) AS (
        SELECT a, b FROM kept
        UNION
        SELECT r.s, k.b FROM reach r JOIN kept k ON k.a = r.d),
      mutual AS (
        SELECT r1.d AS v, r1.s AS m
        FROM reach r1 JOIN reach r2 ON r2.s = r1.d AND r2.d = r1.s),
      cand AS (
        SELECT t AS v, t AS m FROM n
        UNION ALL
        SELECT v, m FROM mutual)
      SELECT v AS event_type, MIN(m) AS scc, TRUE AS converged
      FROM cand GROUP BY v
      ORDER BY event_type""",

    // vocab growth: same lower/trim/\s+ tokens, term→MIN(doc_id) first
    // occurrences, FLOOR(id·20/(max+1)) buckets, 20-row running sums
    "x205_vocab_growth" -> """
      WITH mx AS (SELECT MAX(doc_id) AS md FROM documents),
      toks AS (
        SELECT doc_id,
               UNNEST(STR_SPLIT_REGEX(TRIM(LOWER(text)), '\s+')) AS term
        FROM documents),
      tnz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
      tk AS (
        SELECT doc_id,
               CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                    ELSE LEN(STR_SPLIT_REGEX(TRIM(text), '\s+')) END AS toks
        FROM documents),
      pb AS (
        SELECT CAST(FLOOR(tk.doc_id * 20.0 / (mx.md + 1)) AS INT) + 1 AS bucket,
               COUNT(*) AS docs, SUM(toks) AS tks
        FROM tk, mx GROUP BY 1),
      fo AS (SELECT term, MIN(doc_id) AS fd FROM tnz GROUP BY 1),
      nt AS (
        SELECT CAST(FLOOR(fo.fd * 20.0 / (mx.md + 1)) AS INT) + 1 AS bucket,
               COUNT(*) AS nv
        FROM fo, mx GROUP BY 1)
      SELECT CAST(pb.bucket AS BIGINT) AS bucket,
             CAST(SUM(pb.docs) OVER w AS BIGINT) AS docs_cum,
             CAST(SUM(pb.tks) OVER w AS BIGINT) AS tokens_cum,
             CAST(SUM(COALESCE(nt.nv, 0)) OVER w AS BIGINT) AS vocab_cum
      FROM pb LEFT JOIN nt ON nt.bucket = pb.bucket
      WINDOW w AS (ORDER BY pb.bucket ROWS UNBOUNDED PRECEDING)
      ORDER BY bucket""",

    // Welch t: same exact DECIMAL moments; the double chain mirrors the
    // engine expression shape op-for-op so both round identically
    "x204_welch_ttest" -> """
      WITH u AS (
        SELECT CAST(user_id % 2 AS VARCHAR) AS variant,
               CAST(value AS DECIMAL(18,6)) AS v
        FROM events),
      s AS (
        SELECT variant, COUNT(*) AS n, SUM(v) AS s,
               SUM(CAST(v * v AS DECIMAL(38,12))) AS q
        FROM u GROUP BY 1),
      a AS (SELECT n, CAST(s AS DOUBLE) AS sd, CAST(q AS DOUBLE) AS qd
            FROM s WHERE variant = '0'),
      b AS (SELECT n, CAST(s AS DOUBLE) AS sd, CAST(q AS DOUBLE) AS qd
            FROM s WHERE variant = '1'),
      d AS (
        SELECT a.n AS n_a, b.n AS n_b, a.sd AS sum_a, b.sd AS sum_b,
               (a.qd - a.sd * a.sd / a.n) / (a.n - 1) / a.n AS se2a,
               (b.qd - b.sd * b.sd / b.n) / (b.n - 1) / b.n AS se2b,
               a.sd / a.n - b.sd / b.n AS md
        FROM a, b)
      SELECT '0' AS variant_a, '1' AS variant_b,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             sum_a, sum_b,
             ROUND(md / SQRT(se2a + se2b), 6) AS t,
             ROUND((se2a + se2b) * (se2a + se2b) /
                   (se2a * se2a / (n_a - 1) + se2b * se2b / (n_b - 1)), 4)
               AS df,
             CAST(2 AS BIGINT) AS n_variants
      FROM d""",

    // periodogram: identical integer trig VALUES (driver-rendered),
    // HUGEINT moment sums exact; power = A² + B² in DOUBLE over the
    // exact A/B casts (same fixed IEEE chain as the Spark side)
    "x203_periodogram" -> s"""
      WITH daily AS (
        SELECT o_orderdate AS day,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS v
        FROM orders GROUP BY 1),
      c AS (SELECT day, CAST(v * 100 AS BIGINT) AS cents FROM daily),
      d0 AS (SELECT MIN(day) AS d0 FROM c),
      trig(p, r, c_num, s_num) AS (VALUES
        ${trigTableSql(Seq(7, 30, 91, 365))}),
      e AS (
        SELECT c.cents, trig.p, trig.c_num, trig.s_num
        FROM c, d0, trig
        WHERE trig.r = DATEDIFF('day', d0.d0, c.day) % trig.p),
      agg AS (
        SELECT p, COUNT(*) AS n_days,
               SUM(CAST(cents AS HUGEINT) * c_num) AS a,
               SUM(CAST(cents AS HUGEINT) * s_num) AS b
        FROM e GROUP BY 1)
      SELECT CAST(p AS BIGINT) AS period, CAST(n_days AS BIGINT) AS n_days,
             CAST(a AS DOUBLE) AS a_num, CAST(b AS DOUBLE) AS b_num,
             CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
               + CAST(b AS DOUBLE) * CAST(b AS DOUBLE) AS power
      FROM agg ORDER BY period""",

    // modularity of the l3 LPA labels: same unrolled rounds as x134, then
    // per-label degree/internal-edge counts and the exact 4m·L − D² row
    "x202_partition_modularity" -> s"""
      WITH d AS (SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000 AS dst
                 FROM lineitem),
      e AS (SELECT src, dst FROM d UNION SELECT dst, src FROM d),
      l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
      ${(1 to 3).map(lpaRoundSql).mkString(",\n      ")},
      m AS (SELECT COUNT(*) AS m FROM d),
      deg AS (SELECT src AS v, COUNT(*) AS dg FROM e GROUP BY 1),
      dc AS (SELECT l3.label, COUNT(*) AS n_nodes, SUM(deg.dg) AS d_tot
             FROM deg JOIN l3 ON l3.node = deg.v GROUP BY 1),
      ie AS (SELECT la.label, COUNT(*) AS l_in
             FROM d JOIN l3 la ON la.node = d.src
                    JOIN l3 lb ON lb.node = d.dst
             WHERE la.label = lb.label GROUP BY 1)
      SELECT CAST(dc.label AS BIGINT) AS label,
             CAST(dc.n_nodes AS BIGINT) AS n_nodes,
             CAST(dc.d_tot AS BIGINT) AS d_tot,
             CAST(COALESCE(ie.l_in, 0) AS BIGINT) AS l_in,
             CAST(4 * m.m * COALESCE(ie.l_in, 0) - dc.d_tot * dc.d_tot
                  AS BIGINT) AS q_num
      FROM dc LEFT JOIN ie ON ie.label = dc.label, m
      ORDER BY label""",

    // Louvain sweep: copurchase edges rebuilt as in x119, symmetrized;
    // gain in exact BIGINT (2m·w − k_a·k_b), argmax via ROW_NUMBER
    "x201_louvain_step" -> """
      WITH m AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r FROM lineitem),
      e AS (SELECT a.r AS a, b.r AS b, CAST(COUNT(*) AS BIGINT) AS w
            FROM m a JOIN m b ON a.l = b.l AND a.r < b.r GROUP BY 1, 2),
      sym AS (SELECT a, b, w FROM e UNION ALL SELECT b AS a, a AS b, w FROM e),
      deg AS (SELECT a AS v, SUM(w) AS k FROM sym GROUP BY 1),
      tm AS (SELECT SUM(w) AS m2 FROM sym),
      scored AS (
        SELECT s.a, s.b, tm.m2 * s.w - da.k * db.k AS gain
        FROM sym s
        JOIN deg da ON da.v = s.a
        JOIN deg db ON db.v = s.b, tm),
      best AS (
        SELECT a, b, gain,
               ROW_NUMBER() OVER (PARTITION BY a ORDER BY gain DESC, b) AS rk
        FROM scored WHERE gain > 0)
      SELECT CAST(d.v AS BIGINT) AS node, CAST(d.k AS BIGINT) AS k,
             CAST(COALESCE(b.b, d.v) AS BIGINT) AS joins,
             CAST(COALESCE(b.gain, 0) AS BIGINT) AS gain_num
      FROM deg d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.a = d.v
      ORDER BY node""",

    // burstiness: same exact-moment recipe — gaps in BIGINT micros,
    // Σg² in HUGEINT (DECIMAL(38,0) on the Spark side), the shared n
    // cancels so B = (sqrt(num) - Σg)/(sqrt(num) + Σg)
    "x200_burstiness" -> """
      WITH g AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events),
      a AS (
        SELECT user_id, COUNT(*) AS n_gaps, SUM(gap) AS s,
               SUM(CAST(gap AS HUGEINT) * CAST(gap AS HUGEINT)) AS s2
        FROM g WHERE gap IS NOT NULL
        GROUP BY user_id
        HAVING COUNT(*) >= 2),
      n AS (
        SELECT user_id, n_gaps, s,
               CAST(n_gaps * s2 - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
                    AS DOUBLE) AS num
        FROM a)
      SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
             CAST(s AS BIGINT) AS sum_us,
             CASE WHEN s = 0 THEN 0.0
                  ELSE ROUND((SQRT(num) - CAST(s AS DOUBLE)) /
                             (SQRT(num) + CAST(s AS DOUBLE)), 6) END
               AS burstiness
      FROM n ORDER BY user_id""",

    // same token / quality expressions as x8; the selection is the
    // inclusive running sum over (pri DESC, doc_id) cut at the budget —
    // ROWS frame spelled out (RANGE would pool priority ties)
    "x141_token_budget" -> """
      WITH t AS (
        SELECT doc_id,
          CAST(LEN(STR_SPLIT_REGEX(TRIM(text), '\s+')) AS BIGINT) AS toks,
          ROUND(
            (CASE WHEN LENGTH(text) BETWEEN 50 AND 20000 THEN 1.0
                  WHEN LENGTH(text) BETWEEN 20 AND 50 THEN 0.5 ELSE 0.0 END) * 0.4 +
            (CASE WHEN (CAST(LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g')) AS DOUBLE)
                        / LEN(STR_SPLIT_REGEX(TRIM(text), '\s+'))) BETWEEN 2.0 AND 12.0
                  THEN 1.0 ELSE 0.3 END) * 0.4 +
            (CASE WHEN (CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
                        / GREATEST(LENGTH(text), 1)) <= 0.2 THEN 1.0 ELSE 0.2 END) * 0.2,
            4) AS pri
        FROM documents),
      c AS (
        SELECT doc_id, toks, pri,
               SUM(toks) OVER (ORDER BY pri DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t)
      SELECT doc_id, toks, pri, CAST(cum AS BIGINT) AS cum_tokens
      FROM c WHERE cum <= 15000
      ORDER BY doc_id""",

    // the window formulation the heap aggregate replaces — identical
    // selection by construction (same (price DESC, partkey ASC) rank)
    "x144_grouped_topk" -> """
      SELECT p_brand, CAST(p_retailprice AS DOUBLE) AS retailprice,
             CAST(p_partkey AS BIGINT) AS part_key
      FROM (SELECT p_brand, p_partkey, p_retailprice,
              ROW_NUMBER() OVER (PARTITION BY p_brand
                ORDER BY p_retailprice DESC, p_partkey) AS rn
            FROM part)
      WHERE rn <= 3
      ORDER BY p_brand, retailprice DESC, part_key""",

    // same basket/pair/support construction; both engines divide the
    // same exact integers, so confidence/lift hash-match unrounded
    "x145_association_rules" -> """
      WITH m AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      kept AS (SELECT m.* FROM m
        JOIN (SELECT b FROM m GROUP BY b HAVING COUNT(*) <= 1000) s USING (b)),
      isupp AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS supp FROM kept GROUP BY i),
      psupp AS (
        SELECT a.i AS x, c.i AS y, CAST(COUNT(*) AS BIGINT) AS pair_supp
        FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      n AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM kept),
      d AS (
        SELECT x AS ante, y AS cons, pair_supp FROM psupp
        UNION ALL SELECT y, x, pair_supp FROM psupp)
      SELECT d.ante, d.cons, d.pair_supp,
             sa.supp AS ante_supp, sc.supp AS cons_supp,
             CAST(d.pair_supp AS DOUBLE) / CAST(sa.supp AS DOUBLE) AS confidence,
             CAST(d.pair_supp * n.n AS DOUBLE)
               / CAST(sa.supp * sc.supp AS DOUBLE) AS lift
      FROM d JOIN isupp sa ON d.ante = sa.i
             JOIN isupp sc ON d.cons = sc.i
             CROSS JOIN n
      ORDER BY ante, cons""",

    // same md5 cell indexing as x125; self inner product needs no join
    // in SQL (Σ cnt² per depth row, min over rows)
    "x146_join_size_estimate" -> s"""
      WITH cms AS (
        SELECT t.i, ${cmsIndexSql("t.i", "l.l_suppkey")} AS c,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem l CROSS JOIN range(4) t(i)
        GROUP BY 1, 2),
      ip AS (SELECT i, SUM(cnt * cnt) AS ip FROM cms GROUP BY i),
      est AS (SELECT MIN(ip) AS est FROM ip),
      ex AS (SELECT SUM(c * c) AS ex FROM
        (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY l_suppkey))
      SELECT CAST(est.est AS BIGINT) AS est_join_size,
             CAST(ex.ex AS BIGINT) AS exact_join_size,
             CAST(est.est AS DOUBLE) / CAST(ex.ex AS DOUBLE) AS ratio
      FROM est CROSS JOIN ex""",

    // the bitmap path is EXACT, so the oracle computes everything
    // independently: distinct_cnt must equal COUNT(DISTINCT id) and
    // n_words must equal COUNT(DISTINCT id // 64)
    "x147_bitmap_distinct" -> """
      SELECT l_returnflag,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_cnt,
        CAST(COUNT(DISTINCT l_partkey // 64) AS BIGINT) AS n_words,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact
      FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",

    // greedy MMR unrolled: round i joins the i-1 single-row-per-query
    // prior picks, GREATEST of the fixed-association dots = the engine's
    // running greatest; pick via ROW_NUMBER (score DESC, id) = the
    // engine's struct-argmax tie-break
    "x149_mmr_diversify" -> mmrOracleSql(k = 5, lambda = 0.7),

    // merge is count-sum lossless, so the oracle answers from the
    // DIRECT full-period sketch (x151's bucket arithmetic on cents)
    "x175_hdr_daily_merge" -> """
      WITH v AS (SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v
                 FROM events WHERE FLOOR(value * 100) >= 0),
      bk AS (SELECT event_type,
               CASE WHEN v < 64 THEN v
               ELSE CAST(length(bin(v)) - 1 - 5 AS BIGINT) * 32
                    + (v >> (length(bin(v)) - 1 - 5)) END AS b
             FROM v),
      h AS (SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM bk GROUP BY 1, 2),
      c AS (SELECT event_type, b, cnt,
              SUM(cnt) OVER (PARTITION BY event_type ORDER BY b) AS cum,
              SUM(cnt) OVER (PARTITION BY event_type) AS n
            FROM h),
      qs AS (SELECT UNNEST(['0.5', '0.9', '0.99']) AS q),
      pick AS (SELECT event_type, q, MIN(b) AS b, MAX(n) AS n
               FROM c CROSS JOIN qs
               WHERE cum >= CEIL(CAST(q AS DECIMAL(10,6)) * n)
               GROUP BY 1, 2)
      SELECT event_type, q, CAST(n AS BIGINT) AS n,
        CAST(CASE WHEN b < 64 THEN b
             ELSE ((b % 32) + 32) << (CAST(b // 32 AS INT) - 1) END AS BIGINT)
          AS q_value
      FROM pick ORDER BY event_type, q""",

    // unrolled merge-first-violation passes reach the same unique
    // monotone fixpoint as the engine's stack PAVA; exact integer
    // pools, identical final divisions
    "x197_isotonic_calibration" -> s"""
      WITH e AS (
        SELECT CAST(value AS DOUBLE) AS s,
          ((user_id + event_id) % 3 = 0) AS label
        FROM events
        WHERE value IS NOT NULL AND value >= 0.0 AND value <= 100.0),
      b0 AS MATERIALIZED (
        SELECT bin, n, pos, bin AS blk FROM (
          SELECT CAST(LEAST(GREATEST(FLOOR((s - 0.0) * 10.0 / 100.0), 0.0),
              9.0) AS BIGINT) AS bin,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos
          FROM e GROUP BY 1)),
      ${(1 to 9).map(pavaPassSql).mkString(",\n      ")},
      fin AS (SELECT blk, SUM(pos) AS bp, SUM(n) AS bn FROM b9 GROUP BY blk)
      SELECT b.bin, b.n, b.pos,
        ROUND(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS raw_rate,
        ROUND(CAST(fin.bp AS DOUBLE) / CAST(fin.bn AS DOUBLE), 6) AS iso_rate
      FROM b9 b JOIN fin USING (blk) ORDER BY b.bin""",

    // same doubled-midrank integers from a plain cumsum, HUGEINT
    // Pearson moments, identical final expression
    "x196_spearman" -> """
      WITH b AS (SELECT CAST(FLOOR(l_quantity) AS BIGINT) AS x,
                   CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
                 FROM lineitem
                 WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      cx AS (SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
      rx AS (SELECT v, 2 * (SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) - c) + c + 1 AS r2 FROM cx),
      cy AS (SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
      ry AS (SELECT v, 2 * (SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) - c) + c + 1 AS r2 FROM cy),
      j AS (SELECT CAST(rx.r2 AS HUGEINT) AS a, CAST(ry.r2 AS HUGEINT) AS d
            FROM b JOIN rx ON rx.v = b.x JOIN ry ON ry.v = b.y),
      m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(a) AS sx, SUM(d) AS sy,
              SUM(a * d) AS sxy, SUM(a * a) AS sxx, SUM(d * d) AS syy
            FROM j)
      SELECT CAST(n AS BIGINT) AS n,
        ROUND(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
          THEN CAST(n * sxy - sx * sy AS DOUBLE) /
            (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
             SQRT(CAST(n * syy - sy * sy AS DOUBLE))) END, 6) AS spearman_rho
      FROM m""",

    // per-group ROW_NUMBER truth for the two-phase rank; same
    // rank/(n+1) expression, ROUND 6
    "x194_quantile_transform" -> """
      WITH b AS (SELECT o_orderpriority,
                   CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderkey
                 FROM orders),
      r AS (SELECT o_orderpriority, o_orderkey, cents,
              ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY cents, o_orderkey) AS rk,
              COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM b)
      SELECT o_orderpriority, o_orderkey, cents,
        ROUND(CAST(rk AS DOUBLE) / CAST(n + 1 AS DOUBLE), 6) AS q
      FROM r ORDER BY o_orderkey""",

    // same windows, same cross-multiplied (n·x−S) sums, one division
    "x195_autocorrelation" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(x) AS BIGINT) AS s FROM daily GROUP BY 1),
      led AS (SELECT d.event_type, d.x, m.n, m.s,
                LEAD(d.x, 1) OVER w AS l1, LEAD(d.x, 2) OVER w AS l2,
                LEAD(d.x, 3) OVER w AS l3, LEAD(d.x, 4) OVER w AS l4,
                LEAD(d.x, 5) OVER w AS l5, LEAD(d.x, 6) OVER w AS l6,
                LEAD(d.x, 7) OVER w AS l7
              FROM daily d JOIN m USING (event_type)
              WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day)),
      den AS (SELECT event_type,
                SUM(CAST(n*x - s AS HUGEINT) * CAST(n*x - s AS HUGEINT))
                  AS den
              FROM led GROUP BY 1),
      nums AS (
        SELECT event_type, lag, num, np FROM (
          SELECT event_type, 1 AS lag,
            SUM(CAST(n*x - s AS HUGEINT) * CAST(n*l1 - s AS HUGEINT)) AS num,
            CAST(COUNT(*) AS BIGINT) AS np FROM led WHERE l1 IS NOT NULL GROUP BY 1
          UNION ALL SELECT event_type, 2,
            SUM(CAST(n*x - s AS HUGEINT) * CAST(n*l2 - s AS HUGEINT)),
            CAST(COUNT(*) AS BIGINT) FROM led WHERE l2 IS NOT NULL GROUP BY 1
          UNION ALL SELECT event_type, 3,
            SUM(CAST(n*x - s AS HUGEINT) * CAST(n*l3 - s AS HUGEINT)),
            CAST(COUNT(*) AS BIGINT) FROM led WHERE l3 IS NOT NULL GROUP BY 1
          UNION ALL SELECT event_type, 4,
            SUM(CAST(n*x - s AS HUGEINT) * CAST(n*l4 - s AS HUGEINT)),
            CAST(COUNT(*) AS BIGINT) FROM led WHERE l4 IS NOT NULL GROUP BY 1
          UNION ALL SELECT event_type, 5,
            SUM(CAST(n*x - s AS HUGEINT) * CAST(n*l5 - s AS HUGEINT)),
            CAST(COUNT(*) AS BIGINT) FROM led WHERE l5 IS NOT NULL GROUP BY 1
          UNION ALL SELECT event_type, 6,
            SUM(CAST(n*x - s AS HUGEINT) * CAST(n*l6 - s AS HUGEINT)),
            CAST(COUNT(*) AS BIGINT) FROM led WHERE l6 IS NOT NULL GROUP BY 1
          UNION ALL SELECT event_type, 7,
            SUM(CAST(n*x - s AS HUGEINT) * CAST(n*l7 - s AS HUGEINT)),
            CAST(COUNT(*) AS BIGINT) FROM led WHERE l7 IS NOT NULL GROUP BY 1))
      SELECT n1.event_type, CAST(n1.lag AS INT) AS lag,
        m.n AS n_obs, n1.np AS n_pairs,
        ROUND(CASE WHEN den.den > 0 THEN
          CAST(n1.num AS DOUBLE) / CAST(den.den AS DOUBLE) END, 6) AS acf
      FROM nums n1 JOIN den USING (event_type) JOIN m USING (event_type)
      ORDER BY event_type, lag""",

    // plain cumsum replay; identical integer doubled-rank and tie sums,
    // identical z / effect-size expressions
    "x193_mann_whitney_u" -> """
      WITH w AS (SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
                 FROM events
                 WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      base AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
                 CAST(SUM(b) AS BIGINT) AS cb
               FROM w GROUP BY 1),
      cum AS (SELECT v, ca, cb,
                SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) - ca AS beforeA,
                SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) - cb AS beforeB
              FROM base),
      m AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
              CAST(SUM(cb) AS BIGINT) AS nb,
              CAST(SUM(ca * (2 * (beforeA + beforeB) + ca + cb + 1))
                AS BIGINT) AS twoRa,
              CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                AS BIGINT) AS ties
            FROM cum)
      SELECT na AS n_a, nb AS n_b,
        CAST(twoRa - na * (na + 1) AS DOUBLE) / 2.0 AS u_a,
        ROUND(CASE WHEN na > 0 AND nb > 0 AND (na + nb) >= 2 AND
            ((CAST(na + nb AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
             (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0)))
            > 0.0 THEN
          (CAST(twoRa - na * (na + 1) AS DOUBLE) / 2.0 -
           CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0) /
          SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
            ((CAST(na + nb AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
             (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0))))
          END, 6) AS z,
        ROUND(CASE WHEN na > 0 AND nb > 0 THEN
          2.0 * (CAST(twoRa - na * (na + 1) AS DOUBLE) / 2.0) /
          (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) - 1.0 END, 6)
          AS r_rank_biserial
      FROM m""",

    // HUGEINT moments, same per-group (Σx)²/n terms DECIMAL-quantized,
    // same fixed double F / eta^2 expressions
    "x191_anova_f" -> """
      WITH b AS (SELECT o_orderpriority AS g,
                   CAST(FLOOR(o_totalprice * 100) AS HUGEINT) AS x
                 FROM orders
                 WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
      m AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS s,
              SUM(x*x) AS ss FROM b GROUP BY 1),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(n) AS nn, SUM(s) AS S,
              SUM(ss) AS SS FROM m),
      bt AS (SELECT SUM(CAST((CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
               / CAST(n AS DOUBLE) AS DECIMAL(38,8))) AS B FROM m)
      SELECT t.k AS groups, CAST(t.nn AS BIGINT) AS n,
        CAST(t.SS AS DOUBLE) - CAST(t.S AS DOUBLE) * CAST(t.S AS DOUBLE)
          / CAST(t.nn AS DOUBLE) AS sst,
        CAST(bt.B AS DOUBLE) - CAST(t.S AS DOUBLE) * CAST(t.S AS DOUBLE)
          / CAST(t.nn AS DOUBLE) AS ssb,
        ROUND(CASE WHEN t.k >= 2 AND CAST(t.nn AS DOUBLE) > CAST(t.k AS DOUBLE)
            AND (CAST(t.SS AS DOUBLE) - CAST(bt.B AS DOUBLE)) > 0.0 THEN
          ((CAST(bt.B AS DOUBLE) - CAST(t.S AS DOUBLE) * CAST(t.S AS DOUBLE)
            / CAST(t.nn AS DOUBLE)) / (CAST(t.k AS DOUBLE) - 1.0)) /
          ((CAST(t.SS AS DOUBLE) - CAST(bt.B AS DOUBLE)) /
            (CAST(t.nn AS DOUBLE) - CAST(t.k AS DOUBLE))) END, 6) AS f_stat,
        ROUND(CASE WHEN (CAST(t.SS AS DOUBLE) - CAST(t.S AS DOUBLE) *
            CAST(t.S AS DOUBLE) / CAST(t.nn AS DOUBLE)) > 0.0 THEN
          (CAST(bt.B AS DOUBLE) - CAST(t.S AS DOUBLE) * CAST(t.S AS DOUBLE)
            / CAST(t.nn AS DOUBLE)) / (CAST(t.SS AS DOUBLE) -
            CAST(t.S AS DOUBLE) * CAST(t.S AS DOUBLE) / CAST(t.nn AS DOUBLE))
          END, 6) AS eta_sq
      FROM t, bt""",

    // full r x c expected grid (empty cells included), same DECIMAL
    // cell terms, same final chi2 / V expressions
    "x192_cramers_v" -> """
      WITH b AS (SELECT c_mktsegment AS a, c_nationkey AS bb FROM customer
                 WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
      cells AS (SELECT a, bb, CAST(COUNT(*) AS BIGINT) AS o
                FROM b GROUP BY 1, 2),
      ca AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM b GROUP BY 1),
      cb AS (SELECT bb, CAST(COUNT(*) AS BIGINT) AS cb FROM b GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
      dims AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ca) AS r,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM cb) AS c),
      grid AS (SELECT ca.a, cb.bb, ca.ca, cb.cb,
                 COALESCE(cells.o, 0) AS oo
               FROM ca CROSS JOIN cb
               LEFT JOIN cells ON cells.a = ca.a AND cells.bb = cb.bb),
      chi AS (SELECT COALESCE(SUM(CAST(
                (CAST(oo AS DOUBLE) - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                  / CAST(n.n AS DOUBLE)) *
                (CAST(oo AS DOUBLE) - CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
                  / CAST(n.n AS DOUBLE)) /
                (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n.n AS DOUBLE))
                AS DECIMAL(18,8))), CAST(0 AS DECIMAL(18,8))) AS chi2
              FROM grid, n)
      SELECT n.n AS n, dims.r AS rows_dim, dims.c AS cols_dim,
        ROUND(CAST(chi.chi2 AS DOUBLE), 6) AS chi2,
        ROUND(CASE WHEN dims.r >= 2 AND dims.c >= 2 THEN
          SQRT(CAST(chi.chi2 AS DOUBLE) / (CAST(n.n AS DOUBLE) *
            (CAST(LEAST(dims.r, dims.c) AS DOUBLE) - 1.0))) END, 6)
          AS cramers_v
      FROM chi, n, dims""",

    // same tokens, same (freq DESC, token) order statistics, same
    // DECIMAL(18,8) ln terms and final expressions
    "x190_hill_tail_index" -> """
      WITH t AS (
        SELECT UNNEST(LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                                  x -> LENGTH(x) > 0)) AS tok
        FROM documents),
      freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1),
      v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
              CAST(SUM(c) AS BIGINT) AS tot FROM freq),
      top AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn
              FROM freq ORDER BY c DESC, tok LIMIT 21),
      bdy AS (SELECT c AS xk1 FROM top WHERE rn = 21),
      hterm AS (SELECT top.c, bdy.xk1,
                  CAST(LN(CAST(top.c AS DOUBLE) / CAST(bdy.xk1 AS DOUBLE))
                    AS DECIMAL(18,8)) AS tt
                FROM top, bdy WHERE rn <= 20),
      a AS (SELECT SUM(tt) AS s, CAST(SUM(c) AS BIGINT) AS head,
              MAX(xk1) AS xk1 FROM hterm)
      SELECT CAST(20 AS INT) AS k, v.vocab, CAST(a.xk1 AS BIGINT)
          AS boundary_freq,
        ROUND(CAST(a.head AS DOUBLE) / CAST(v.tot AS DOUBLE), 6)
          AS head_share,
        ROUND(CASE WHEN a.s > 0 THEN 20.0 / CAST(a.s AS DOUBLE) END, 6)
          AS alpha_hill
      FROM a, v""",

    // all-pairs truth + recursive-closure components — the engine's
    // grid join, union-find labels and min-core border rule must
    // reproduce this relation exactly
    "x189_dbscan_clusters" -> """
      WITH RECURSIVE
      p AS MATERIALIZED (
        SELECT c_custkey AS id, (c_custkey * 37) % 499 AS x,
               (c_custkey * 101) % 503 AS y
        FROM customer),
      pr AS MATERIALIZED (
        SELECT a.id AS id_a, b.id AS id_b
        FROM p a JOIN p b ON a.id < b.id
        WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 144),
      cnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS nn FROM
                (SELECT id_a AS id FROM pr UNION ALL SELECT id_b FROM pr)
              GROUP BY 1),
      pts AS (SELECT p.id, CAST(p.x AS BIGINT) AS x, CAST(p.y AS BIGINT) AS y,
                COALESCE(cnt.nn, 0) AS nn
              FROM p LEFT JOIN cnt USING (id)),
      core AS MATERIALIZED (SELECT id FROM pts WHERE nn + 1 >= 4),
      ce AS MATERIALIZED (
        SELECT id_a, id_b FROM pr
        JOIN core ca ON ca.id = pr.id_a
        JOIN core cb ON cb.id = pr.id_b),
      edges AS (SELECT id_a AS src, id_b AS dst FROM ce
                UNION SELECT id_b, id_a FROM ce),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      comp AS (SELECT src AS id, LEAST(src, MIN(dst)) AS comp
               FROM reach GROUP BY src),
      clab AS (SELECT core.id, COALESCE(comp.comp, core.id) AS cluster
               FROM core LEFT JOIN comp USING (id)),
      adj AS (SELECT id_a AS id, id_b AS nb FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
      blab AS (SELECT adj.id, MIN(clab.cluster) AS bc
               FROM adj JOIN clab ON clab.id = adj.nb GROUP BY adj.id)
      SELECT pts.id, pts.x, pts.y, pts.nn AS n_neighbors,
        CASE WHEN pts.nn + 1 >= 4 THEN 'core'
             WHEN blab.bc IS NOT NULL THEN 'border'
             ELSE 'noise' END AS role,
        CAST(CASE WHEN pts.nn + 1 >= 4 THEN clab.cluster
                  ELSE blab.bc END AS BIGINT) AS cluster
      FROM pts LEFT JOIN clab ON clab.id = pts.id
      LEFT JOIN blab ON blab.id = pts.id
      ORDER BY pts.id""",

    // same per-user LEAD transitions, same (count DESC, next) argmax,
    // same split boundary and ratio expressions
    "x188_next_event_accuracy" -> """
      WITH tr AS (
        SELECT ts, event_type AS p,
          LEAD(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS nxt
        FROM events),
      t2 AS (SELECT * FROM tr WHERE nxt IS NOT NULL),
      train AS (SELECT p, nxt FROM t2 WHERE ts < TIMESTAMP '2024-01-25'),
      test AS (SELECT p, nxt FROM t2 WHERE ts >= TIMESTAMP '2024-01-25'),
      cnts AS (SELECT p, nxt, COUNT(*) AS c FROM train GROUP BY 1, 2),
      pred AS (SELECT p, nxt AS prd FROM (
                 SELECT p, nxt, ROW_NUMBER() OVER
                   (PARTITION BY p ORDER BY c DESC, nxt) AS rn
                 FROM cnts) WHERE rn = 1),
      j AS (SELECT test.p, test.nxt, pred.prd
            FROM test LEFT JOIN pred USING (p)),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
              CAST(SUM(CASE WHEN prd IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS covered,
              CAST(SUM(CASE WHEN prd = nxt THEN 1 ELSE 0 END)
                AS BIGINT) AS correct
            FROM j)
      SELECT n_test, covered, correct,
        CASE WHEN n_test > 0 THEN
          CAST(correct AS DOUBLE) / CAST(n_test AS DOUBLE) END AS acc_total,
        CASE WHEN covered > 0 THEN
          CAST(correct AS DOUBLE) / CAST(covered AS DOUBLE) END AS acc_covered
      FROM m""",

    // naive wedge expansion with the same cap, same DECIMAL(18,8) term
    // quantization, same anti-join and total-order cut
    "x187_adamic_adar" -> """
      WITH raw AS (
        SELECT l_partkey AS src,
               LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_partkey) AS dst
        FROM lineitem),
      e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE dst IS NOT NULL AND src <> dst),
      deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM
                (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
      kept AS (SELECT adj.w, adj.n, deg.deg FROM adj
               JOIN deg ON deg.v = adj.w WHERE deg.deg <= 1000),
      wed AS (SELECT p.n AS a, q.n AS b, p.deg
              FROM kept p JOIN kept q ON p.w = q.w AND p.n < q.n),
      sc AS (SELECT a, b,
               SUM(CAST(1.0 / LN(CAST(deg AS DOUBLE)) AS DECIMAL(18,8))) AS aa,
               CAST(COUNT(*) AS BIGINT) AS common
             FROM wed GROUP BY 1, 2),
      nc AS (SELECT sc.a, sc.b, sc.common, sc.aa FROM sc
             LEFT JOIN e ON e.a = sc.a AND e.b = sc.b WHERE e.a IS NULL)
      SELECT a, b, common, CAST(aa AS DOUBLE) AS aa FROM nc
      ORDER BY aa DESC, a, b LIMIT 100""",

    // plain per-group ROW_NUMBER is the truth the two-phase rank must
    // equal; HUGEINT moments, identical final double expression
    "x186_gini_concentration" -> """
      WITH b AS (SELECT o_orderpriority AS g,
                   CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v,
                   o_orderkey AS id
                 FROM orders),
      r AS (SELECT g, v, ROW_NUMBER() OVER
              (PARTITION BY g ORDER BY v, id) AS rk FROM b),
      m AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
              CAST(SUM(v) AS HUGEINT) AS s,
              CAST(SUM(CAST(rk AS HUGEINT) * v) AS HUGEINT) AS rs
            FROM r GROUP BY 1)
      SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n,
        CAST(s AS DOUBLE) AS total,
        ROUND(CASE WHEN s > 0 THEN
          2.0 * CAST(rs AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
          - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) END, 6) AS gini
      FROM m ORDER BY o_orderpriority""",

    // plain window cumsum is the truth the parallel-cumsum must equal;
    // identical integer gap numerators and final IEEE expressions
    "x185_ks_test" -> """
      WITH w AS (SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
                 FROM events
                 WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      base AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
                 CAST(SUM(b) AS BIGINT) AS cb
               FROM w GROUP BY 1),
      tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                CAST(SUM(cb) AS BIGINT) AS nb FROM base),
      cum AS (SELECT v,
                SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS cuma,
                SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS cumb
              FROM base),
      sc AS (SELECT v, ABS(cuma * nb - cumb * na) AS num FROM cum, tot),
      mx AS (SELECT MAX(num) AS dnum FROM sc),
      at AS (SELECT MIN(v) AS ks_at FROM sc, mx WHERE num = dnum)
      SELECT na AS n_a, nb AS n_b, CAST(dnum AS BIGINT) AS d_num, ks_at,
        ROUND(CAST(dnum AS DOUBLE) /
          (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS d_stat,
        ROUND(LEAST(1.0, GREATEST(0.0,
          2.0 * (EXP(-2.0 * ((SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) + 0.12 +
              0.11 / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))) *
              (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
              * ((SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) + 0.12 +
              0.11 / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))) *
              (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))))
           - EXP(-8.0 * ((SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) + 0.12 +
              0.11 / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))) *
              (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
              * ((SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) + 0.12 +
              0.11 / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))) *
              (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))))
           + EXP(-18.0 * ((SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) + 0.12 +
              0.11 / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))) *
              (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))))
              * ((SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))) + 0.12 +
              0.11 / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) /
              (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))) *
              (CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))))
          ))), 6) AS p_approx
      FROM tot, mx, at""",

    // same exact counts, same per-cell double chain, same DECIMAL(18,8)
    // quantization before the sum, same final IEEE NMI expression
    "x184_mutual_information" -> """
      WITH b AS (SELECT c_mktsegment AS a, c_nationkey AS bb FROM customer
                 WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL),
      cells AS (SELECT a, bb, CAST(COUNT(*) AS BIGINT) AS cab
                FROM b GROUP BY 1, 2),
      ca AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ca FROM b GROUP BY 1),
      cb AS (SELECT bb, CAST(COUNT(*) AS BIGINT) AS cb FROM b GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
      mi AS (SELECT COALESCE(SUM(CAST(
               (CAST(cab AS DOUBLE) / CAST(n.n AS DOUBLE)) *
               LN((CAST(cab AS DOUBLE) * CAST(n.n AS DOUBLE)) /
                  (CAST(ca.ca AS DOUBLE) * CAST(cb.cb AS DOUBLE)))
               AS DECIMAL(18,8))), CAST(0 AS DECIMAL(18,8))) AS mi
             FROM cells JOIN ca USING (a) JOIN cb USING (bb), n),
      ha AS (SELECT COALESCE(SUM(CAST(
               -(CAST(ca AS DOUBLE) / CAST(n.n AS DOUBLE)) *
               LN(CAST(ca AS DOUBLE) / CAST(n.n AS DOUBLE))
               AS DECIMAL(18,8))), CAST(0 AS DECIMAL(18,8))) AS ha
             FROM ca, n),
      hb AS (SELECT COALESCE(SUM(CAST(
               -(CAST(cb AS DOUBLE) / CAST(n.n AS DOUBLE)) *
               LN(CAST(cb AS DOUBLE) / CAST(n.n AS DOUBLE))
               AS DECIMAL(18,8))), CAST(0 AS DECIMAL(18,8))) AS hb
             FROM cb, n)
      SELECT n.n AS n, CAST(mi.mi AS DOUBLE) AS mi,
        CAST(ha.ha AS DOUBLE) AS h_a, CAST(hb.hb AS DOUBLE) AS h_b,
        CASE WHEN ha.ha > 0 AND hb.hb > 0 THEN
          CAST(mi.mi AS DOUBLE) /
          SQRT(CAST(ha.ha AS DOUBLE) * CAST(hb.hb AS DOUBLE)) END AS nmi
      FROM mi, ha, hb, n""",

    // same tokens, same PolyHash56 ids, same unrolled integer fixpoint
    // (pageRankIterCtes), same (rank DESC, word) total-order cut
    "x183_textrank_keywords" -> s"""
      WITH t AS (
        SELECT LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
                           x -> LENGTH(x) > 0) AS a
        FROM documents),
      adj AS (
        SELECT a[i] AS w1, a[i+1] AS w2
        FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(a))) AS i)
        WHERE a[i] <> a[i+1]),
      e AS (
        SELECT src, dst FROM (
          SELECT ${polySql("w1")} AS src, ${polySql("w2")} AS dst FROM adj
          UNION ALL
          SELECT ${polySql("w2")} AS src, ${polySql("w1")} AS dst FROM adj)
        WHERE src <> dst GROUP BY src, dst),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      r0 AS (SELECT node, (SELECT 1000000000 // n FROM nn) AS r FROM nodes),
      ${pageRankIterCtes(4)},
      vocab AS (
        SELECT w AS word, ${polySql("w")} AS h FROM (
          SELECT DISTINCT w1 AS w FROM adj
          UNION SELECT DISTINCT w2 FROM adj))
      SELECT v.word, CAST(r.r AS BIGINT) AS rank_nano
      FROM r4 r JOIN vocab v ON v.h = r.node
      ORDER BY rank_nano DESC, word LIMIT 20""",

    // HUGEINT moments mirror the engine's DECIMAL(38,0) exactly; the
    // Cramer solve is the same double expression text, so ROUND-6
    // coefficients hash-match
    "x182_ols2_price_model" -> """
      WITH b AS (
        SELECT l_returnflag,
          CAST(FLOOR(l_quantity) AS HUGEINT) AS x1,
          CAST(FLOOR(l_discount * 100) AS HUGEINT) AS x2,
          CAST(FLOOR(l_extendedprice * 100) AS HUGEINT) AS y
        FROM lineitem),
      m AS (SELECT l_returnflag,
          CAST(COUNT(*) AS HUGEINT) AS n,
          SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
          SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
          SUM(x1*y) AS s1y, SUM(x2*y) AS s2y, SUM(y*y) AS syy
        FROM b GROUP BY 1),
      d AS (SELECT l_returnflag, CAST(n AS BIGINT) AS nb,
          CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
          CAST(s2 AS DOUBLE) AS s2d, CAST(sy AS DOUBLE) AS syd,
          CAST(s11 AS DOUBLE) AS s11d, CAST(s12 AS DOUBLE) AS s12d,
          CAST(s22 AS DOUBLE) AS s22d, CAST(s1y AS DOUBLE) AS s1yd,
          CAST(s2y AS DOUBLE) AS s2yd, CAST(syy AS DOUBLE) AS syyd
        FROM m),
      c AS (SELECT *,
          nd * (s11d * s22d - s12d * s12d)
            - s1d * (s1d * s22d - s12d * s2d)
            + s2d * (s1d * s12d - s11d * s2d) AS det
        FROM d),
      e AS (SELECT *,
          CASE WHEN det <> 0.0 AND nd >= 3.0 THEN
            (syd * (s11d * s22d - s12d * s12d)
             - s1d * (s1yd * s22d - s12d * s2yd)
             + s2d * (s1yd * s12d - s11d * s2yd)) / det END AS b0,
          CASE WHEN det <> 0.0 AND nd >= 3.0 THEN
            (nd * (s1yd * s22d - s12d * s2yd)
             - syd * (s1d * s22d - s12d * s2d)
             + s2d * (s1d * s2yd - s1yd * s2d)) / det END AS b1,
          CASE WHEN det <> 0.0 AND nd >= 3.0 THEN
            (nd * (s11d * s2yd - s1yd * s12d)
             - s1d * (s1d * s2yd - s1yd * s2d)
             + syd * (s1d * s12d - s11d * s2d)) / det END AS b2
        FROM c)
      SELECT l_returnflag, nb AS n,
        ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
        ROUND(CASE WHEN det <> 0.0 AND nd >= 3.0
            AND (syyd - syd * syd / nd) <> 0.0 THEN
          1.0 - (syyd - b0 * syd - b1 * s1yd - b2 * s2yd)
            / (syyd - syd * syd / nd) END, 6) AS r2
      FROM e ORDER BY l_returnflag""",

    // the naive 3-way basket self-join IS the truth the Apriori prune
    // must preserve (downward closure makes the prune lossless)
    "x181_frequent_triples" -> """
      WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                 FROM lineitem),
      kept AS MATERIALIZED (SELECT m.b, m.i FROM m JOIN (
                 SELECT b FROM m GROUP BY b HAVING COUNT(*) <= 1000) s
               USING (b)),
      t AS (SELECT a.i AS x, c.i AS y, d.i AS z,
              CAST(COUNT(*) AS BIGINT) AS supp
            FROM kept a
            JOIN kept c ON a.b = c.b AND a.i < c.i
            JOIN kept d ON a.b = d.b AND c.i < d.i
            GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
      n AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM kept)
      SELECT x, y, z, supp,
        CAST(supp AS DOUBLE) / CAST(n.n AS DOUBLE) AS support
      FROM t, n ORDER BY x, y, z""",

    // register-exact replay: same md5 buckets/rho, same max-merge per
    // round, same ROUND-6 DECIMAL reach sums — hashes match exactly
    "x180_hyperball_reach" -> s"""
      WITH e0 AS (
        SELECT src, dst FROM (
          SELECT l_partkey AS src,
                 LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber, l_partkey) AS dst
          FROM lineitem)
        WHERE dst IS NOT NULL AND src <> dst
        GROUP BY src, dst),
      nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
      ${hllRegSql("nodes", "node", "node", "node")},
      r0 AS (SELECT node, j, MAX(rho) AS mj FROM reg GROUP BY 1, 2),
      ${hyperBallRoundsSql(3)},
      ${(0 to 3).map(hyperBallEstSql).mkString(",\n      ")}
      SELECT h, n_nodes, CAST(t AS DOUBLE) AS total_reach,
        CAST(t AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS avg_reach
      FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
            UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
      ORDER BY h""",

    // x99's unrolled-CTE replay with the seeded teleport/restart rule;
    // same floor-div integer arithmetic, so hashes match exactly
    "x179_personalized_pagerank" -> s"""
      WITH e AS (
        SELECT src, dst FROM (
          SELECT l_partkey AS src,
                 LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber, l_partkey) AS dst
          FROM lineitem)
        WHERE dst IS NOT NULL AND src <> dst
        GROUP BY src, dst),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
      r0 AS (SELECT node, CASE WHEN node IN (1, 2, 3)
               THEN 333333333 ELSE 0 END AS r FROM nodes),
      ${pprIterCtes(4, "(1, 2, 3)", 333333333L, 3)}
      SELECT node, CAST(r AS BIGINT) AS rank_nano FROM r4 ORDER BY node""",

    // same two-period init, same fold, same IEEE order: list_reduce
    // replays the engine's aggregate() left fold element for element
    "x178_holt_winters" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(18,2))) AS v
        FROM events GROUP BY 1, 2),
      g AS (
        SELECT event_type,
          list(CAST(v AS DOUBLE) ORDER BY day) AS vs,
          list(day ORDER BY day) AS ds
        FROM daily GROUP BY 1 HAVING COUNT(*) >= 15),
      g2 AS (
        SELECT event_type, vs, ds,
          list_reduce(vs[1:7], (a, b) -> a + b) / 7.0 AS a1,
          list_reduce(vs[8:14], (a, b) -> a + b) / 7.0 AS a2
        FROM g),
      g3 AS (
        SELECT event_type, vs, ds,
          ([a2, (a2 - a1) / 7.0] || list_transform(range(1, 8),
            i -> ((vs[i] - a1) + (vs[i + 7] - a2)) / 2.0)) AS ini
        FROM g2),
      ex AS (SELECT event_type, vs, ds, ini,
        UNNEST(RANGE(15, LEN(vs) + 1)) AS i FROM g3),
      st AS (
        SELECT event_type, ds, vs, i,
          list_reduce(list_prepend(ini, list_transform(vs[15:i], x -> [x])),
            (s, e2) -> [0.25 * (e2[1] - s[3]) + 0.75 * (s[1] + s[2]),
              0.1 * ((0.25 * (e2[1] - s[3]) + 0.75 * (s[1] + s[2])) - s[1])
                + 0.9 * s[2]] || s[4:9]
              || [0.25 * (e2[1] - (0.25 * (e2[1] - s[3])
                    + 0.75 * (s[1] + s[2]))) + 0.75 * s[3]]) AS cur,
          list_reduce(list_prepend(ini, list_transform(vs[15:i-1], x -> [x])),
            (s, e2) -> [0.25 * (e2[1] - s[3]) + 0.75 * (s[1] + s[2]),
              0.1 * ((0.25 * (e2[1] - s[3]) + 0.75 * (s[1] + s[2])) - s[1])
                + 0.9 * s[2]] || s[4:9]
              || [0.25 * (e2[1] - (0.25 * (e2[1] - s[3])
                    + 0.75 * (s[1] + s[2]))) + 0.75 * s[3]]) AS prev
        FROM ex)
      SELECT event_type, STRFTIME(ds[i], '%Y-%m-%d') AS day, vs[i] AS x,
        ROUND(cur[1], 6) AS level, ROUND(cur[2], 6) AS trend,
        ROUND(cur[9], 6) AS seasonal,
        ROUND(prev[1] + prev[2] + prev[3], 6) AS fitted,
        ROUND(cur[1] + cur[2] + cur[3], 6) AS forecast_next
      FROM st ORDER BY event_type, day""",

    // same metric triple, same rank-tile formula (ROW_NUMBER replays the
    // engine's (metric, id) total order), same CASE ladder
    "x177_rfm_segments" -> """
      WITH base AS (
        SELECT o_custkey AS id,
          CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
            DATE '1998-12-31') AS BIGINT) AS r_days,
          CAST(COUNT(*) AS BIGINT) AS freq,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
        FROM orders GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
      r AS (SELECT id, CAST(1 + ((ROW_NUMBER() OVER
               (ORDER BY r_days DESC, id DESC)) - 1) * 5 // n.n AS INT)
               AS r_score FROM base, n),
      f AS (SELECT id, CAST(1 + ((ROW_NUMBER() OVER
               (ORDER BY freq ASC, id ASC)) - 1) * 5 // n.n AS INT)
               AS f_score FROM base, n),
      mo AS (SELECT id, CAST(1 + ((ROW_NUMBER() OVER
               (ORDER BY m ASC, id ASC)) - 1) * 5 // n.n AS INT)
               AS m_score FROM base, n)
      SELECT b.id, b.r_days, b.freq, CAST(b.m AS DOUBLE) AS monetary,
        r.r_score, f.f_score, mo.m_score,
        CASE WHEN r.r_score >= 4 AND f.f_score >= 4 AND mo.m_score >= 4
               THEN 'champion'
             WHEN r.r_score >= 4 AND f.f_score >= 3 THEN 'loyal'
             WHEN mo.m_score >= 4 AND r.r_score >= 3 THEN 'big_spender'
             WHEN r.r_score <= 2 AND f.f_score >= 3 THEN 'at_risk'
             WHEN r.r_score <= 2 AND f.f_score <= 2 THEN 'hibernating'
             ELSE 'regular' END AS segment
      FROM base b JOIN r USING (id) JOIN f USING (id) JOIN mo USING (id)
      ORDER BY id""",

    // cross-multiplied integer EMD replayed with the same cumulative
    // window; the flag compares the UNROUNDED t on both engines
    "x176_t_closeness" -> """
      WITH g AS (SELECT c_nationkey AS v, CAST(COUNT(*) AS BIGINT) AS gc
                 FROM customer GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
      mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM g),
      sizes AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS ng
                FROM customer GROUP BY 1),
      grpc AS (SELECT c_mktsegment, c_nationkey AS v,
                 CAST(COUNT(*) AS BIGINT) AS c
               FROM customer GROUP BY 1, 2),
      f AS (SELECT s.c_mktsegment, s.ng, g.v, g.gc,
              COALESCE(grpc.c, 0) AS c
            FROM sizes s CROSS JOIN g
            LEFT JOIN grpc ON grpc.c_mktsegment = s.c_mktsegment AND grpc.v = g.v),
      r AS (SELECT c_mktsegment, ng,
              SUM(c * (SELECT n FROM tot) - gc * ng)
                OVER (PARTITION BY c_mktsegment ORDER BY v) AS r
            FROM f),
      sagg AS (SELECT c_mktsegment, ng,
                 CAST(SUM(ABS(r)) AS DECIMAL(38,0)) AS s
               FROM r GROUP BY 1, 2),
      tv AS (SELECT c_mktsegment, ng,
               CAST(s AS DOUBLE) / CAST((SELECT m FROM mm) - 1 AS DOUBLE)
                 / CAST(ng * (SELECT n FROM tot) AS DOUBLE) AS t
             FROM sagg)
      SELECT c_mktsegment, ng AS n_rows, ROUND(t, 6) AS t,
        (t <= 0.15) AS t_ok
      FROM tv ORDER BY c_mktsegment""",

    // independent truth: exact trailing-window COUNT(DISTINCT) via the
    // same 7-day range join over raw (day, user) pairs; n_words from
    // the word-level OR replayed
    "x174_bitmap_rolling_distinct" -> """
      WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      days AS (SELECT DISTINCT day AS dd FROM d),
      ex AS (SELECT days.dd, CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS rolling_users
             FROM days JOIN d t ON t.day <= days.dd AND t.day >= days.dd - 6
             GROUP BY 1),
      w AS (SELECT days.dd, t.user_id // 64 AS wrd
            FROM days JOIN d t ON t.day <= days.dd AND t.day >= days.dd - 6
            GROUP BY 1, 2),
      nw AS (SELECT dd, CAST(COUNT(*) AS BIGINT) AS n_words FROM w GROUP BY 1)
      SELECT STRFTIME(ex.dd, '%Y-%m-%d') AS day, ex.rolling_users, nw.n_words
      FROM ex JOIN nw USING (dd) ORDER BY day""",

    // same path construction as x171's CTEs, list-ordered path strings,
    // same deterministic top-N cut
    "x173_conversion_paths" -> """
      WITH ranked AS (
        SELECT user_id, event_type AS t,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
        FROM events),
      fp AS (SELECT user_id, MIN(r) AS fpr FROM ranked
             WHERE t = 'purchase' GROUP BY 1),
      per_user AS (
        SELECT k.user_id, (MAX(f.fpr) IS NOT NULL) AS conv,
          array_to_string(list(k.t ORDER BY k.r)[1:4], '>') AS path
        FROM ranked k LEFT JOIN fp f USING (user_id)
        WHERE f.fpr IS NULL OR k.r < f.fpr
        GROUP BY k.user_id),
      direct AS (
        SELECT user_id, TRUE AS conv, '(direct)' AS path FROM fp
        WHERE user_id NOT IN (SELECT user_id FROM per_user)),
      allp AS (SELECT * FROM per_user UNION ALL SELECT * FROM direct)
      SELECT path, CAST(COUNT(*) AS BIGINT) AS users,
        CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS conversions,
        CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS cvr
      FROM allp GROUP BY path
      ORDER BY users DESC, path LIMIT 15""",

    // same portable hash → same integer cutoffs → same weights; replica
    // means via decimal sums; same rank-based interval picks
    "x172_bootstrap_ci" -> {
      val cuts = graft.x.Profiler.poissonCutoffs20
      val m31 = graft.functions.PortableHash.M31
      val ka = graft.functions.PortableHash.KnuthA
      val lb = graft.functions.PortableHash.LcgB
      val wCase = "CASE " + cuts.zipWithIndex
        .map { case (c, k) => s"WHEN u < ${c}" + s" THEN $k" }
        .mkString(" ") + s" ELSE ${cuts.length} END"
      s"""
      WITH ex AS (
        SELECT l_returnflag,
          CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
          ${polySql("CAST(l_orderkey AS VARCHAR) || ':' || " +
            "CAST(l_linenumber AS VARCHAR) || ':boot'")}
            % $m31 AS h,
          r.rep
        FROM lineitem CROSS JOIN RANGE(32) r(rep)),
      us AS (
        SELECT l_returnflag, x, rep,
          ((((rep + 1) * $ka) % $m31) * h + (((rep + 1) * $lb) % $m31))
            % $m31 % ${1L << 20} AS u
        FROM ex),
      wts AS (SELECT l_returnflag, x, rep, $wCase AS w FROM us),
      means AS (
        SELECT l_returnflag, rep,
          CAST(SUM(x * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) / 100.0 AS m
        FROM wts GROUP BY 1, 2 HAVING SUM(w) > 0),
      ranked AS (
        SELECT l_returnflag, m, rep,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY m, rep) AS rk
        FROM means),
      lo AS (SELECT l_returnflag, ROUND(m, 6) AS ci_lo FROM ranked WHERE rk = 2),
      hi AS (SELECT l_returnflag, ROUND(m, 6) AS ci_hi FROM ranked WHERE rk = 31),
      est AS (
        SELECT l_returnflag,
          ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS mean_est,
          CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY 1)
      SELECT est.l_returnflag, est.n_rows, est.mean_est, lo.ci_lo, hi.ci_hi
      FROM est JOIN lo USING (l_returnflag) JOIN hi USING (l_returnflag)
      ORDER BY l_returnflag"""
    },

    // path construction replayed (rank / first-purchase absorb / lag +
    // terminal), then 5 exact-integer fixed-point runs (base + one per
    // channel) unrolled to 12 rounds each
    "x171_markov_attribution" -> {
      val runs = Seq("b" -> None, "rc" -> Some("click"), "re" -> Some("error"),
        "rs" -> Some("signup"), "rv" -> Some("view"))
        .map { case (t, r) => markovRunSql(t, r, 12) }.mkString(",\n      ")
      val chan = Seq("click" -> "rc", "error" -> "re", "signup" -> "rs",
        "view" -> "rv")
        .map { case (c, t) =>
          s"""SELECT '$c' AS channel,
            GREATEST(sc.vb - (SELECT CAST(v AS BIGINT) FROM v${t}12
                              WHERE s = 'START'), 0) AS eff
          FROM sc""" }
        .mkString(" UNION ALL ")
      s"""
      WITH ranked AS (
        SELECT user_id, event_type AS t,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
        FROM events),
      fp AS (SELECT user_id, MIN(r) AS fpr FROM ranked
             WHERE t = 'purchase' GROUP BY 1),
      kept AS (
        SELECT k.user_id, k.t, f.fpr,
          ROW_NUMBER() OVER (PARTITION BY k.user_id ORDER BY k.r) AS rr
        FROM ranked k LEFT JOIN fp f USING (user_id)
        WHERE f.fpr IS NULL OR k.r < f.fpr),
      mid AS (
        SELECT COALESCE(LAG(t) OVER (PARTITION BY user_id ORDER BY rr),
                 'START') AS f, t AS tt
        FROM kept),
      term AS (
        SELECT t AS f,
          CASE WHEN fpr IS NOT NULL THEN 'CONV' ELSE 'NULL' END AS tt
        FROM kept QUALIFY rr = MAX(rr) OVER (PARTITION BY user_id)),
      direct AS (
        SELECT 'START' AS f, 'CONV' AS tt FROM fp
        WHERE user_id NOT IN (SELECT DISTINCT user_id FROM kept)),
      trans AS (
        SELECT f, tt, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT * FROM mid UNION ALL SELECT * FROM term
              UNION ALL SELECT * FROM direct)
        GROUP BY 1, 2),
      tot AS (SELECT f, CAST(SUM(c) AS BIGINT) AS tot FROM trans GROUP BY 1),
      tm AS (SELECT t.f, t.tt, t.c, o.tot FROM trans t JOIN tot o USING (f)),
      v0 AS (SELECT f AS s, CAST(0 AS BIGINT) AS v FROM tot),
      $runs,
      sc AS (SELECT (SELECT CAST(v AS BIGINT) FROM vb12 WHERE s = 'START') AS vb),
      effs AS ($chan),
      te AS (SELECT CAST(SUM(eff) AS BIGINT) AS total FROM effs)
      SELECT e.channel,
        CAST(sc.vb AS DOUBLE) / 1.0E12 AS base_cvr,
        CAST(sc.vb - e.eff AS DOUBLE) / 1.0E12 AS removed_cvr,
        CAST(e.eff AS BIGINT) AS removal_effect,
        CASE WHEN te.total > 0
             THEN CAST(e.eff AS DOUBLE) / CAST(te.total AS DOUBLE)
             ELSE 0.0 END AS attribution_share
      FROM effs e CROSS JOIN sc CROSS JOIN te
      ORDER BY channel"""
    },

    // same censoring rule, same cumulative at-risk counts, same
    // left-to-right product fold via list_reduce
    "x170_kaplan_meier" -> """
      WITH firsts AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS f FROM events GROUP BY 1),
      convs AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS p FROM events
        WHERE event_type = 'purchase' GROUP BY 1),
      m AS (SELECT CAST(MAX(ts) AS DATE) AS md FROM events),
      durs AS (
        SELECT f.user_id, (c.p IS NOT NULL) AS ev,
          CASE WHEN c.p IS NOT NULL
               THEN date_diff('day', f.f, c.p)
               ELSE date_diff('day', f.f, m.md) END AS dur
        FROM firsts f LEFT JOIN convs c USING (user_id) CROSS JOIN m),
      byd AS (
        SELECT dur, CAST(COUNT(*) AS BIGINT) AS al,
          CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM durs GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM durs),
      risk AS (
        SELECT dur, d,
          CAST(tot.n - COALESCE(SUM(al) OVER (ORDER BY dur
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS n_risk
        FROM byd CROSS JOIN tot),
      steps AS (SELECT dur, d, n_risk FROM risk WHERE d > 0),
      arr AS (
        SELECT list(dur ORDER BY dur) AS ts,
          list(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
               ORDER BY dur) AS fs,
          list(d ORDER BY dur) AS dsl,
          list(n_risk ORDER BY dur) AS ns
        FROM steps),
      ex AS (SELECT ts, fs, dsl, ns, UNNEST(RANGE(1, LEN(ts) + 1)) AS i FROM arr)
      SELECT CAST(ts[i] AS BIGINT) AS t_days, dsl[i] AS d, ns[i] AS n_risk,
        ROUND(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:i]),
          (s, x) -> s * x), 6) AS survival
      FROM ex ORDER BY t_days""",

    // the x151 bucket arithmetic + cumulative counts; probe rows join
    // their bucket's cum/n
    "x169_hdr_cdf_lookup" -> """
      WITH v AS (SELECT l_returnflag, l_orderkey, l_linenumber,
                   CAST(FLOOR(l_extendedprice) AS BIGINT) AS v
                 FROM lineitem WHERE FLOOR(l_extendedprice) >= 0),
      bk AS (SELECT l_returnflag,
               CASE WHEN v < 64 THEN v
               ELSE CAST(length(bin(v)) - 1 - 5 AS BIGINT) * 32
                    + (v >> (length(bin(v)) - 1 - 5)) END AS b
             FROM v),
      h AS (SELECT l_returnflag, b, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM bk GROUP BY 1, 2),
      c AS (SELECT l_returnflag, b,
              SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY b) AS cum,
              SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
            FROM h),
      probes AS (
        SELECT l_returnflag,
          CASE WHEN v < 64 THEN v
          ELSE CAST(length(bin(v)) - 1 - 5 AS BIGINT) * 32
               + (v >> (length(bin(v)) - 1 - 5)) END AS b
        FROM v WHERE l_orderkey % 100 = 0),
      cdfs AS (
        SELECT p.l_returnflag,
          CAST(c.cum AS DOUBLE) / CAST(c.n AS DOUBLE) AS cdf
        FROM probes p JOIN c ON c.l_returnflag = p.l_returnflag AND c.b = p.b)
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_probes,
        CAST(SUM(CAST(cdf AS DECIMAL(18,9))) AS DOUBLE) AS cdf_sum,
        MIN(cdf) AS cdf_min, MAX(cdf) AS cdf_max
      FROM cdfs GROUP BY 1 ORDER BY l_returnflag""",

    // the same level/trend fold with DOUBLE[2] state on both engines;
    // the inner new-level expression is written out twice identically
    "x168_holt_forecast" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(18,2))) AS v
        FROM events GROUP BY 1, 2),
      g AS (
        SELECT event_type,
          list(CAST(v AS DOUBLE) ORDER BY day) AS vs,
          list(day ORDER BY day) AS ds
        FROM daily GROUP BY 1 HAVING COUNT(*) >= 2),
      ex AS (
        SELECT event_type, vs, ds, UNNEST(RANGE(1, LEN(vs) + 1)) AS i
        FROM g),
      st AS (
        SELECT event_type, ds, vs, i,
          list_reduce(
            list_prepend([vs[1], vs[2] - vs[1]],
              list_transform(vs[2:i], x -> [x, CAST(0 AS DOUBLE)])),
            (s, e2) -> [0.2 * e2[1] + 0.8 * (s[1] + s[2]),
              0.1 * (0.2 * e2[1] + 0.8 * (s[1] + s[2]) - s[1]) + 0.9 * s[2]])
            AS cur,
          CASE WHEN i >= 2 THEN list_reduce(
            list_prepend([vs[1], vs[2] - vs[1]],
              list_transform(vs[2:i-1], x -> [x, CAST(0 AS DOUBLE)])),
            (s, e2) -> [0.2 * e2[1] + 0.8 * (s[1] + s[2]),
              0.1 * (0.2 * e2[1] + 0.8 * (s[1] + s[2]) - s[1]) + 0.9 * s[2]])
          END AS prev
        FROM ex)
      SELECT event_type, STRFTIME(ds[i], '%Y-%m-%d') AS day, vs[i] AS x,
        ROUND(cur[1], 6) AS level, ROUND(cur[2], 6) AS trend,
        ROUND(prev[1] + prev[2], 6) AS fitted,
        ROUND(cur[1] + cur[2], 6) AS forecast_next
      FROM st ORDER BY event_type, day""",

    // q37's cohort arithmetic with decimal revenue cumsums
    "x167_cohort_ltv" -> """
      WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
        FROM events GROUP BY 1),
      sizes AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_users
                FROM firsts GROUP BY 1),
      weekly AS (
        SELECT f.cw,
          CAST(date_diff('day', f.cw,
            CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT) AS week_offset,
          SUM(CAST(e.value AS DECIMAL(18,2))) AS rev
        FROM events e JOIN firsts f USING (user_id)
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2),
      c AS (SELECT cw, week_offset, rev,
              SUM(rev) OVER (PARTITION BY cw ORDER BY week_offset) AS cum
            FROM weekly)
      SELECT STRFTIME(c.cw, '%Y-%m-%d') AS cohort_week, c.week_offset,
        s.cohort_users,
        CAST(c.rev AS DOUBLE) AS week_rev, CAST(c.cum AS DOUBLE) AS cum_rev,
        CAST(c.cum AS DOUBLE) / CAST(s.cohort_users AS DOUBLE) AS ltv_per_user
      FROM c JOIN sizes s USING (cw)
      ORDER BY cohort_week, week_offset""",

    // identical left-to-right folds via list_reduce with the prepend-0
    // trick; alarms compare the UNROUNDED statistics on both engines
    "x166_cusum_changepoints" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(18,2))) AS v
        FROM events GROUP BY 1, 2),
      g AS (
        SELECT event_type,
          list(CAST(v AS DOUBLE) ORDER BY day) AS vs,
          list(day ORDER BY day) AS ds,
          CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS mu,
          CAST(SUM(CAST(v * v AS DECIMAL(28,6))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS ex2
        FROM daily GROUP BY 1),
      gs AS (
        SELECT event_type, vs, ds, mu,
          SQRT(GREATEST(ex2 - mu * mu, CAST(0 AS DOUBLE))) AS sigma
        FROM g),
      e AS (
        SELECT event_type, vs, ds, mu, sigma,
          UNNEST(RANGE(1, LEN(vs) + 1)) AS i
        FROM gs),
      st AS (
        SELECT event_type, ds, vs, mu, sigma, i,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), vs[1:i]),
            (s, x) -> GREATEST(CAST(0 AS DOUBLE),
              s + (x - mu) - 0.5 * sigma)) AS sp,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), vs[1:i]),
            (s, x) -> GREATEST(CAST(0 AS DOUBLE),
              s + -(x - mu) - 0.5 * sigma)) AS sm
        FROM e)
      SELECT event_type, STRFTIME(ds[i], '%Y-%m-%d') AS day, vs[i] AS x,
        ROUND(sp, 6) AS s_plus, ROUND(sm, 6) AS s_minus,
        (sp > 4.0 * sigma OR sm > 4.0 * sigma) AS alarm
      FROM st ORDER BY event_type, day""",

    // the same (cnt DESC, token) total order as one ROW_NUMBER
    "x165_dictionary_encode" -> """
      WITH toks AS (
        SELECT UNNEST(LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
          x -> LENGTH(x) > 0)) AS token
        FROM documents),
      c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks
            GROUP BY 1 HAVING COUNT(*) >= 5)
      SELECT token,
        CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS id,
        cnt
      FROM c ORDER BY id""",

    // decimal window trend, decimal-summed weekday means, identical
    // IEEE chains; isodow−1 = Spark's weekday (Monday 0)
    "x164_seasonal_decompose" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          SUM(CAST(value AS DECIMAL(18,2))) AS v
        FROM events GROUP BY 1, 2),
      t AS (
        SELECT event_type, day, CAST(v AS DOUBLE) AS vd,
          CASE WHEN COUNT(*) OVER w7 = 7
               THEN CAST(SUM(v) OVER w7 AS DOUBLE) / 7.0 END AS trend,
          ISODOW(day) - 1 AS dow
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      s AS (
        SELECT event_type, dow,
          SUM(CAST(vd - trend AS DECIMAL(18,6))) AS sd, COUNT(*) AS c
        FROM t WHERE trend IS NOT NULL GROUP BY 1, 2),
      se AS (SELECT event_type, dow,
               CAST(sd AS DOUBLE) / CAST(c AS DOUBLE) AS seasonal FROM s)
      SELECT t.event_type, STRFTIME(t.day, '%Y-%m-%d') AS day,
        ROUND(vd, 6) AS v, ROUND(trend, 6) AS trend,
        ROUND(seasonal, 6) AS seasonal,
        ROUND(vd - trend - seasonal, 6) AS residual
      FROM t LEFT JOIN se ON se.event_type = t.event_type AND se.dow = t.dow
      ORDER BY t.event_type, day""",

    // frontier rounds unrolled: f_h = neighbors of f_{h-1} not yet in
    // v_{h-1}; UNION (distinct) canonicalizes the undirected edges
    "x163_bfs_hops" -> s"""
      WITH d0 AS (
        SELECT src, dst FROM (
          SELECT l_partkey AS src,
                 LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber, l_partkey) AS dst
          FROM lineitem)
        WHERE dst IS NOT NULL AND src <> dst),
      e AS (SELECT src, dst FROM d0 UNION SELECT dst, src FROM d0),
      f0 AS (SELECT UNNEST([CAST(1 AS BIGINT), CAST(2 AS BIGINT),
                            CAST(3 AS BIGINT)]) AS node),
      v0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM f0),
      ${bfsRoundSql(3)}
      SELECT node, dist FROM v3 ORDER BY node""",

    // x111's all-pairs truth re-aggregated into per-point neighbor
    // counts — the bucketed path must produce exactly these
    "x162_density_outliers" -> """
      WITH p AS (SELECT c_custkey AS id, (c_custkey * 37) % 499 AS x,
                        (c_custkey * 101) % 503 AS y FROM customer),
      n AS (SELECT a.id, CAST(COUNT(*) AS BIGINT) AS n_neighbors
            FROM p a JOIN p b ON a.id <> b.id
            WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 144
            GROUP BY 1)
      SELECT p.id, CAST(p.x AS BIGINT) AS x, CAST(p.y AS BIGINT) AS y,
        COALESCE(n.n_neighbors, CAST(0 AS BIGINT)) AS n_neighbors,
        COALESCE(n.n_neighbors, CAST(0 AS BIGINT)) < 3 AS is_outlier
      FROM p LEFT JOIN n USING (id) ORDER BY id""",

    // same regexp counts (RE2/Java dialects agree on these character
    // classes), same floors, same IEEE chains
    "x161_readability" -> """
      WITH t AS (
        SELECT doc_id, text,
          LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
            x -> LENGTH(x) > 0) AS w
        FROM documents),
      c AS (
        SELECT doc_id,
          CAST(LEN(w) AS BIGINT) AS n_words,
          GREATEST(CAST(1 AS BIGINT),
            CAST(LEN(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
          CAST(LEN(regexp_extract_all(LOWER(text), '[aeiouy]+')) AS BIGINT)
            + CAST(LEN(LIST_FILTER(w, x -> NOT regexp_matches(x, '[aeiouy]')))
                AS BIGINT) AS n_syllables
        FROM t)
      SELECT doc_id, n_words, n_sentences, n_syllables,
        ROUND(206.835
          - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4)
          AS flesch,
        ROUND(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
          - 15.59, 4) AS fk_grade
      FROM c WHERE n_words > 0 ORDER BY doc_id""",

    // one register CTE, three max-merge lattices, the shared estimate
    // expression on every level
    "x160_hll_gset_distinct" -> s"""
      WITH ${hllRegSql("events",
        "event_type, STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day",
        "event_type, day", "user_id")},
      mj AS (SELECT event_type, day, j, MAX(rho) AS mj FROM reg GROUP BY 1, 2, 3),
      zfine AS (SELECT event_type, day, COUNT(*) AS present,
          SUM(CAST((CAST(1 AS BIGINT) << (56 - mj)) AS DECIMAL(38,0))) AS zp
        FROM mj GROUP BY 1, 2),
      tmj AS (SELECT event_type, j, MAX(mj) AS mj FROM mj GROUP BY 1, 2),
      ztype AS (SELECT event_type, COUNT(*) AS present,
          SUM(CAST((CAST(1 AS BIGINT) << (56 - mj)) AS DECIMAL(38,0))) AS zp
        FROM tmj GROUP BY 1),
      dmj AS (SELECT day, j, MAX(mj) AS mj FROM mj GROUP BY 1, 2),
      zday AS (SELECT day, COUNT(*) AS present,
          SUM(CAST((CAST(1 AS BIGINT) << (56 - mj)) AS DECIMAL(38,0))) AS zp
        FROM dmj GROUP BY 1),
      gmj AS (SELECT j, MAX(mj) AS mj FROM mj GROUP BY 1),
      ztot AS (SELECT COUNT(*) AS present,
          SUM(CAST((CAST(1 AS BIGINT) << (56 - mj)) AS DECIMAL(38,0))) AS zp
        FROM gmj)
      SELECT event_type, day, est FROM (
        SELECT event_type, day, $hllEstSql AS est FROM zfine
        UNION ALL
        SELECT event_type, 'ALL' AS day, $hllEstSql AS est FROM ztype
        UNION ALL
        SELECT 'ALL' AS event_type, day, $hllEstSql AS est FROM zday
        UNION ALL
        SELECT 'ALL' AS event_type, 'ALL' AS day, $hllEstSql AS est FROM ztot)
      ORDER BY event_type, day""",

    // independent truth: distinct-pair self-join overlap counts; the
    // bitmap path must be EXACTLY these numbers
    "x159_audience_overlap" -> """
      WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
      p AS (SELECT a.event_type AS a_event_type, b.event_type AS b_event_type,
              CAST(COUNT(*) AS BIGINT) AS overlap_cnt
            FROM d a JOIN d b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2),
      c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1)
      SELECT p.a_event_type, p.b_event_type, p.overlap_cnt,
        CAST(p.overlap_cnt AS DOUBLE)
          / CAST(ca.n + cb.n - p.overlap_cnt AS DOUBLE) AS jaccard
      FROM p JOIN c ca ON ca.event_type = p.a_event_type
             JOIN c cb ON cb.event_type = p.b_event_type
      ORDER BY 1, 2""",

    // integer-string first digit, LN-ratio shares, same chi-square shape
    "x158_benford_audit" -> """
      WITH v AS (SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS v FROM lineitem),
      d AS (SELECT CAST(SUBSTR(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
            FROM v WHERE v >= 1),
      c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
      n AS (SELECT SUM(cnt) AS n FROM c)
      SELECT digit, cnt,
        ROUND(CAST(cnt AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS obs_share,
        ROUND(LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0), 6) AS benford_share,
        ROUND((CAST(cnt AS DOUBLE) - CAST(n.n AS DOUBLE)
                 * (LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0)))
              * (CAST(cnt AS DOUBLE) - CAST(n.n AS DOUBLE)
                 * (LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0)))
              / (CAST(n.n AS DOUBLE)
                 * (LN(1.0 + 1.0 / CAST(digit AS DOUBLE)) / LN(10.0))), 6)
          AS chi2_term
      FROM c CROSS JOIN n ORDER BY digit""",

    // first-view/first-purchase lag replayed, then the same x151 HDR
    // bucket arithmetic ungrouped
    "x157_funnel_lag_quantiles" -> """
      WITH fv AS (SELECT user_id, MIN(ts) AS vts FROM events
                  WHERE event_type = 'view' GROUP BY 1),
      pp AS (SELECT e.user_id, fv.vts, MIN(e.ts) AS pts
             FROM events e JOIN fv USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts >= fv.vts
             GROUP BY 1, 2),
      l AS (SELECT (epoch_us(pts) - epoch_us(vts)) // 1000000 AS v FROM pp),
      bk AS (SELECT CASE WHEN v < 64 THEN v
               ELSE CAST(length(bin(v)) - 1 - 5 AS BIGINT) * 32
                    + (v >> (length(bin(v)) - 1 - 5)) END AS b
             FROM l WHERE v >= 0),
      h AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bk GROUP BY 1),
      c AS (SELECT b, cnt, SUM(cnt) OVER (ORDER BY b) AS cum,
              SUM(cnt) OVER () AS n FROM h),
      qs AS (SELECT UNNEST(['0.5', '0.9', '0.99']) AS q),
      pick AS (SELECT q, MIN(b) AS b, MAX(n) AS n
               FROM c CROSS JOIN qs
               WHERE cum >= CEIL(CAST(q AS DECIMAL(10,6)) * n)
               GROUP BY 1)
      SELECT q, CAST(n AS BIGINT) AS n,
        CAST(CASE WHEN b < 64 THEN b
             ELSE ((b % 32) + 32) << (CAST(b // 32 AS INT) - 1) END AS BIGINT)
          AS q_value
      FROM pick ORDER BY q""",

    // DuckDB's jaro_winkler_similarity IS the reference semantics the
    // expression was built to match (0.7 boost threshold, prefix<=4)
    "x156_jaro_winkler" -> """
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        jaro_winkler_similarity(a.c_name, b.c_name) AS name_jw,
        jaro_winkler_similarity(a.c_mktsegment, b.c_mktsegment) AS seg_jw
      FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
      ORDER BY id_a""",

    // the island key replays as day − row_number; the per-user pick via
    // QUALIFY (len DESC, start) = the engine's struct-argmax tie-break
    "x155_activity_streaks" -> """
      WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      g AS (SELECT user_id, day,
              day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY day) AS INT) AS grp
            FROM d),
      s AS (SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
              CAST(COUNT(*) AS BIGINT) AS len
            FROM g GROUP BY user_id, grp),
      n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks
            FROM s GROUP BY 1)
      SELECT s.user_id, len AS best_streak,
        STRFTIME(streak_start, '%Y-%m-%d') AS streak_start,
        STRFTIME(streak_end, '%Y-%m-%d') AS streak_end, n.n_streaks
      FROM s JOIN n USING (user_id)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY s.user_id
        ORDER BY len DESC, streak_start) = 1
      ORDER BY user_id""",

    // open/close replayed via ROW_NUMBER in the same (ts, id) replay
    // order the engine's struct-argmin/argmax uses
    "x153_ohlc_bars" -> """
      WITH o AS (
        SELECT event_type, CAST(ts AS DATE) AS day, value,
          ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
            ORDER BY ts, event_id) AS rn_a,
          ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
            ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events)
      SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day,
        MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        MAX(value) AS high, MIN(value) AS low,
        MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM o GROUP BY 1, 2 ORDER BY event_type, day""",

    // epoch_us mirrors unix_micros; the decimal product/IEEE-division
    // split is the engine's exactly
    "x154_twap" -> """
      WITH t AS (
        SELECT event_type, CAST(ts AS DATE) AS day, value,
          COALESCE(LEAD(epoch_us(ts)) OVER (PARTITION BY event_type,
              CAST(ts AS DATE) ORDER BY ts, event_id) - epoch_us(ts), 0) AS dur,
          ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
            ORDER BY ts, event_id) AS rn
        FROM events),
      a AS (
        SELECT event_type, day,
          SUM(CAST(value AS DECIMAL(18,6)) * dur) AS wsum,
          SUM(dur) AS span,
          MAX(CASE WHEN rn = 1 THEN value END) AS firstv,
          COUNT(*) AS n
        FROM t GROUP BY 1, 2)
      SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day,
        ROUND(CASE WHEN span > 0 THEN CAST(wsum AS DOUBLE) / CAST(span AS DOUBLE)
             ELSE firstv END, 6) AS twa,
        CAST(span AS BIGINT) AS span_us, CAST(n AS BIGINT) AS n_obs
      FROM a ORDER BY event_type, day""",

    // same count tables, same interpolated-KN expression shape (x94's
    // LN + DECIMAL(18,8) truncation contract)
    "x152_kneser_ney" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                                   x -> LENGTH(x) > 0) AS a
        FROM documents),
      lmt AS (SELECT a FROM t WHERE doc_id % 2 = 0),
      big AS (
        SELECT a[i] AS w1, a[i+1] AS w2, COUNT(*) AS c2
        FROM lmt, LATERAL (SELECT UNNEST(RANGE(1, LEN(a))) AS i)
        WHERE LEN(a) >= 2 GROUP BY 1, 2),
      ctx AS (SELECT w1, SUM(c2) AS c1dot, COUNT(*) AS n1plus FROM big GROUP BY 1),
      cont AS (SELECT w2, COUNT(*) AS nctx FROM big GROUP BY 1),
      tot AS (SELECT COUNT(*) AS ntypes, COUNT(DISTINCT w2) AS v FROM big),
      dt AS (
        SELECT doc_id, a[i] AS w1, a[i+1] AS w2, COUNT(*) AS c
        FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(a))) AS i)
        WHERE LEN(a) >= 2 GROUP BY 1, 2, 3),
      j AS (
        SELECT dt.doc_id, dt.c, big.c2, ctx.c1dot, ctx.n1plus, cont.nctx,
               tot.ntypes, tot.v
        FROM dt LEFT JOIN big USING (w1, w2)
                LEFT JOIN ctx USING (w1)
                LEFT JOIN cont USING (w2), tot),
      sc AS (
        SELECT doc_id, c,
          CAST(-(LN(
            CASE WHEN c1dot IS NOT NULL THEN
              (CASE WHEN c2 IS NOT NULL
                    THEN (CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                         / CAST(c1dot AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END)
              + ((CAST(0.75 AS DOUBLE) * CAST(n1plus AS DOUBLE))
                 / CAST(c1dot AS DOUBLE))
                * (CAST(COALESCE(nctx, 0) + 1 AS DOUBLE)
                   / CAST(ntypes + v AS DOUBLE))
            ELSE CAST(COALESCE(nctx, 0) + 1 AS DOUBLE)
                 / CAST(ntypes + v AS DOUBLE) END
          )) AS DECIMAL(18,8)) * c AS s
        FROM j)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(SUM(s) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS mean_nll
      FROM sc GROUP BY 1 ORDER BY doc_id""",

    // same integer bucket arithmetic replayed: bit-length exponent via
    // length(bin(v)), decimal-exact rank threshold, lower-bound decode
    "x151_hdr_quantiles" -> """
      WITH v AS (SELECT l_returnflag, CAST(FLOOR(l_extendedprice) AS BIGINT) AS v
                 FROM lineitem WHERE FLOOR(l_extendedprice) >= 0),
      bk AS (SELECT l_returnflag,
               CASE WHEN v < 64 THEN v
               ELSE CAST(length(bin(v)) - 1 - 5 AS BIGINT) * 32
                    + (v >> (length(bin(v)) - 1 - 5)) END AS b
             FROM v),
      h AS (SELECT l_returnflag, b, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM bk GROUP BY 1, 2),
      c AS (SELECT l_returnflag, b, cnt,
              SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY b) AS cum,
              SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
            FROM h),
      qs AS (SELECT UNNEST(['0.5', '0.9', '0.99']) AS q),
      pick AS (SELECT l_returnflag, q, MIN(b) AS b, MAX(n) AS n
               FROM c CROSS JOIN qs
               WHERE cum >= CEIL(CAST(q AS DECIMAL(10,6)) * n)
               GROUP BY 1, 2)
      SELECT l_returnflag, q, CAST(n AS BIGINT) AS n,
        CAST(CASE WHEN b < 64 THEN b
             ELSE ((b % 32) + 32) << (CAST(b // 32 AS INT) - 1) END AS BIGINT)
          AS q_value
      FROM pick ORDER BY l_returnflag, q""",

    // independent truth for the join delta: bag difference of the full
    // join vs the old-only join (projection commutes with bag difference
    // because the old bag is a sub-bag of the full one)
    "x150_incremental_join" -> """
      WITH full_j AS (
        SELECT o_orderpriority, l_quantity
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      old_j AS (
        SELECT o_orderpriority, l_quantity
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 10 <> 0 AND l_linenumber < 4),
      delta AS (SELECT * FROM full_j EXCEPT ALL SELECT * FROM old_j)
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS delta_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS delta_qty
      FROM delta GROUP BY 1 ORDER BY o_orderpriority""",

    // independent join-based truth: users active on day d AND d-1
    "x148_bitmap_retention" -> """
      WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      a AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS active FROM d GROUP BY 1),
      r AS (SELECT t.day, CAST(COUNT(*) AS BIGINT) AS returning
            FROM d t JOIN d p ON p.user_id = t.user_id AND p.day = t.day - 1
            GROUP BY 1)
      SELECT STRFTIME(a.day, '%Y-%m-%d') AS day, a.active,
             COALESCE(r.returning, CAST(0 AS BIGINT)) AS returning
      FROM a LEFT JOIN r USING (day) ORDER BY day""",

    // repeats = floor(epochs) + (hash-share < frac(epochs)); the same
    // :epochs-salted bucket hash as the Spark side, unrolled per row via
    // generate_series
    "x142_epoch_mixture" -> s"""
      WITH r AS (
        SELECT doc_id, lang,
          CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1 WHEN 'fr' THEN 0
          END
          + CASE WHEN ${polySql("CAST(doc_id AS VARCHAR) || ':epochs'")} % 1000000 <
                      CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 0
                                WHEN 'fr' THEN 250000 END
                 THEN 1 ELSE 0 END AS rep
        FROM documents WHERE lang IN ('en', 'de', 'fr'))
      SELECT doc_id, lang, CAST(e.epoch AS BIGINT) AS epoch
      FROM r JOIN generate_series(0, 2) e(epoch) ON e.epoch < r.rep
      ORDER BY doc_id, epoch""",

    // same daily registers, same trailing-window max-merge, shared
    // estimate expression; exact branch is the same 7x range join
    "x138_hll_rolling_distinct" -> s"""
      WITH ${hllRegSql("events", "CAST(ts AS DATE) AS day", "day", "user_id")},
      mjd AS (SELECT day, j, MAX(rho) AS mj FROM reg GROUP BY 1, 2),
      days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      merged AS (
        SELECT d.day, r.j, MAX(r.mj) AS mj
        FROM days d JOIN mjd r ON r.day <= d.day AND r.day >= d.day - 6
        GROUP BY 1, 2),
      z AS (SELECT day, COUNT(*) AS present,
              SUM(CAST((CAST(1 AS BIGINT) << (56 - mj)) AS DECIMAL(38,0))) AS zp
            FROM merged GROUP BY 1),
      ex AS (SELECT d.day, COUNT(DISTINCT e.user_id) AS exact
             FROM days d JOIN (SELECT CAST(ts AS DATE) AS day, user_id
                               FROM events) e
               ON e.day <= d.day AND e.day >= d.day - 6
             GROUP BY 1)
      SELECT z.day, $hllEstSql AS est,
             CAST(256 - present AS BIGINT) AS v_zero,
             CAST(ex.exact AS BIGINT) AS exact
      FROM z JOIN ex USING (day)
      ORDER BY day""",

    // the plain one-phase GROUP BY — salting must re-associate exactly
    "x139_salted_agg" -> """
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag""",

    // DuckDB's native LATERAL over the same correlated top-2
    "q42_recursive_cte" -> """
      WITH RECURSIVE spine(day) AS (
        SELECT DATE '2024-01-01'
        UNION ALL SELECT day + 1 FROM spine WHERE day < DATE '2024-01-31')
      SELECT t.event_type, STRFTIME(s.day, '%Y-%m-%d') AS day,
        CAST(COALESCE(d.cnt, 0) AS BIGINT) AS cnt
      FROM spine s
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      LEFT JOIN (SELECT event_type, CAST(ts AS DATE) AS day,
                   COUNT(*) AS cnt
                 FROM events GROUP BY 1, 2) d
        ON d.event_type = t.event_type AND d.day = s.day
      ORDER BY t.event_type, 2""",

    "q41_lateral_topn" -> """
      SELECT n.n_name AS nation, t.c_name, t.c_acctbal
      FROM nation n,
      LATERAL (SELECT c_name, c_acctbal FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      ORDER BY nation, c_acctbal DESC, c_name""",

    // the two-version dimension stated directly, probed with DuckDB's
    // native ASOF join — the engine's Scd2+AsOfJoin must agree row-for-row
    "x121_pit_join" -> """
      WITH dim AS (
        SELECT c_custkey AS user_id, c_acctbal AS bal,
               TIMESTAMP '2024-01-01 00:00:00' AS vts
        FROM customer
        UNION ALL
        SELECT c_custkey, c_acctbal + 100.0, TIMESTAMP '2024-01-15 00:00:00'
        FROM customer WHERE c_custkey % 10 = 0)
      SELECT f.event_id, f.user_id, d.bal AS bal_at_event
      FROM events f ASOF LEFT JOIN dim d
        ON f.user_id = d.user_id AND f.ts >= d.vts
      ORDER BY f.event_id""",

    // identical 2x2 counts, identical cross-multiplied verdict and one
    // identical double expression for the statistic
    "x122_ab_test" -> """
      WITH pu AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS converted,
               CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        FROM events GROUP BY user_id),
      s AS (SELECT
              CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS HUGEINT) AS na,
              CAST(SUM(CASE WHEN variant = 'A' AND converted THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
              CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS HUGEINT) AS nb,
              CAST(SUM(CASE WHEN variant = 'B' AND converted THEN 1 ELSE 0 END) AS HUGEINT) AS cb
            FROM pu)
      SELECT 'A' AS variant_a, 'B' AS variant_b,
             CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
             CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
             CAST((na + nb) * (ca*(nb-cb) - cb*(na-ca)) * (ca*(nb-cb) - cb*(na-ca)) AS DOUBLE)
               / CAST(na * nb * (ca+cb) * (na+nb-ca-cb) AS DOUBLE) AS chi2,
             (na + nb) * (ca*(nb-cb) - cb*(na-ca)) * (ca*(nb-cb) - cb*(na-ca)) * 1000000
               > na * nb * (ca+cb) * (na+nb-ca-cb) * 3841459 AS significant,
             CAST(2 AS BIGINT) AS n_variants
      FROM s""",

    // single-partition ROW_NUMBER is fine at oracle scale; the engine's
    // distributed rank must produce the identical batching
    "x120_length_batches" -> """
      WITH d AS (
        SELECT doc_id,
               CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                    ELSE LEN(STR_SPLIT_REGEX(TRIM(text), '\s+')) END AS len
        FROM documents),
      r AS (SELECT doc_id, len,
                   ROW_NUMBER() OVER (ORDER BY len DESC, doc_id) AS rn
            FROM d),
      b AS (SELECT (rn - 1) // 64 AS batch_id, len FROM r)
      SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MAX(len) AS BIGINT) AS max_len,
             CAST(SUM(len) AS BIGINT) AS sum_len,
             CAST(COUNT(*) * MAX(len) - SUM(len) AS BIGINT) AS padding_waste
      FROM b GROUP BY 1 ORDER BY batch_id""",

    // the same distinct-membership self-join (no order exceeds the cap
    // at this scale, so the capped and exact relations coincide)
    "x119_copurchase_graph" -> """
      WITH m AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r FROM lineitem)
      SELECT a.r AS a, b.r AS b, CAST(COUNT(*) AS BIGINT) AS weight
      FROM m a JOIN m b ON a.l = b.l AND a.r < b.r
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // raw text as the join key (the engine's xxhash64 is a cheap alias
    // for the same distinct-content relation)
    "x117_source_overlap" -> """
      WITH fps AS (SELECT DISTINCT source AS src_a, text FROM documents),
      sz AS (SELECT src_a, COUNT(*) AS na FROM fps GROUP BY 1)
      SELECT a.src_a, b.src_a AS src_b, CAST(COUNT(*) AS BIGINT) AS overlap,
             CAST(MAX(sz.na) AS BIGINT) AS distinct_a,
             CAST(COUNT(*) AS DOUBLE) / CAST(MAX(sz.na) AS DOUBLE) AS share_of_a
      FROM fps a JOIN fps b ON a.text = b.text
      JOIN sz ON sz.src_a = a.src_a
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // the same RANGE-frame cumulative weights and the same integer
    // cross-multiplied reach test
    "x118_weighted_median" -> """
      WITH t AS (SELECT l_returnflag, l_extendedprice AS v,
                        CAST(l_quantity AS BIGINT) AS w FROM lineitem),
      c AS (SELECT l_returnflag, v, w,
              SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
              SUM(w) OVER (PARTITION BY l_returnflag) AS tot
            FROM t)
      SELECT l_returnflag, MIN(v) AS wq, CAST(MAX(tot) AS BIGINT) AS total_weight
      FROM c WHERE cum * 2 >= tot * 1
      GROUP BY 1 ORDER BY 1""",

    // 6 unrolled peel rounds (measured convergence: 3 at sf0.01; extra
    // rounds are identity) — integer fixpoint, exact replay
    "x115_kcore" -> s"""
      WITH raw AS (
        SELECT l_partkey AS src,
               LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_partkey) AS dst
        FROM lineitem),
      e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
             FROM raw WHERE dst IS NOT NULL AND src <> dst),
      ${kCoreIterCtes(6, 30)}
      SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM
        (SELECT a AS v FROM e6 UNION ALL SELECT b FROM e6)
      GROUP BY 1 ORDER BY node""",

    // HUGEINT moments over the symmetrized edge list; one division
    "x116_assortativity" -> """
      WITH raw AS (
        SELECT l_partkey AS src,
               LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_partkey) AS dst
        FROM lineitem),
      e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE dst IS NOT NULL AND src <> dst),
      deg AS (SELECT v, COUNT(*) AS deg FROM
                (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      j AS (SELECT da.deg AS x, db.deg AS y
            FROM sym JOIN deg da ON da.v = sym.a JOIN deg db ON db.v = sym.b),
      m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(x) AS HUGEINT) AS sx,
                   CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
            FROM j)
      SELECT CAST(n / 2 AS BIGINT) AS n_edges,
             CAST(n*sxy - sx*sx AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
               AS assortativity
      FROM m""",

    // naive triangle enumeration credited to all three member edges, then
    // degree algebra — identical integers, one identical division
    "x113_edge_scores" -> """
      WITH raw AS (
        SELECT l_partkey AS src,
               LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_partkey) AS dst
        FROM lineitem),
      e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE dst IS NOT NULL AND src <> dst),
      deg AS (SELECT v, COUNT(*) AS deg FROM
                (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      cm AS (SELECT a, b, COUNT(*) AS common FROM (
               SELECT u AS a, v AS b FROM t
               UNION ALL SELECT u, w FROM t
               UNION ALL SELECT v, w FROM t) GROUP BY 1, 2)
      SELECT e.a, e.b, CAST(COALESCE(cm.common, 0) AS BIGINT) AS common,
             CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
             CASE WHEN da.deg + db.deg - 2 - COALESCE(cm.common, 0) > 0
                  THEN CAST(COALESCE(cm.common, 0) AS DOUBLE) /
                       CAST(da.deg + db.deg - 2 - COALESCE(cm.common, 0) AS DOUBLE)
                  ELSE 0.0 END AS jaccard
      FROM e LEFT JOIN cm ON cm.a = e.a AND cm.b = e.b
        JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
      ORDER BY e.a, e.b""",

    // one aggregate per candidate pair, all-integer outputs
    "x114_fd_profile" -> """
      WITH p1 AS (
        SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_keys,
               CAST(SUM(GREATEST(nd - 1, 0)) AS BIGINT) AS excess_values,
               SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
        FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS nd
              FROM orders GROUP BY 1)),
      p2 AS (
        SELECT 'o_custkey', 'o_orderpriority',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(GREATEST(nd - 1, 0)) AS BIGINT),
               SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
        FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nd
              FROM orders GROUP BY 1)),
      p3 AS (
        SELECT 'o_orderpriority', 'o_orderstatus',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(GREATEST(nd - 1, 0)) AS BIGINT),
               SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
        FROM (SELECT o_orderpriority, COUNT(DISTINCT o_orderstatus) AS nd
              FROM orders GROUP BY 1))
      SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
      ORDER BY determinant, dependent""",

    // per-field ROW_NUMBER over (prio DESC, rid DESC) among non-null rows
    // — the windowed restatement of the engine's struct-max rule
    "x110_golden_record" -> """
      WITH f AS (
        SELECT c_custkey AS cluster, 2 AS prio, c_custkey*2 AS rid,
               CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS seg,
               c_acctbal AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey, 1, c_custkey*2+1, c_mktsegment,
               CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_acctbal + 10 END
        FROM customer),
      s AS (SELECT cluster, seg FROM (
              SELECT cluster, seg, ROW_NUMBER() OVER (PARTITION BY cluster
                ORDER BY prio DESC, rid DESC) AS rn
              FROM f WHERE seg IS NOT NULL) WHERE rn = 1),
      b AS (SELECT cluster, bal FROM (
              SELECT cluster, bal, ROW_NUMBER() OVER (PARTITION BY cluster
                ORDER BY prio DESC, rid DESC) AS rn
              FROM f WHERE bal IS NOT NULL) WHERE rn = 1)
      SELECT s.cluster, s.seg, b.bal
      FROM s JOIN b ON b.cluster = s.cluster
      ORDER BY s.cluster""",

    // brute-force all-pairs within the radius — the engine's grid join
    // must produce the identical relation
    "x111_grid_neighbors" -> """
      WITH p AS (SELECT c_custkey AS id, (c_custkey * 37) % 499 AS x,
                        (c_custkey * 101) % 503 AS y FROM customer)
      SELECT a.id AS id_a, b.id AS id_b,
             CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist2
      FROM p a JOIN p b ON a.id < b.id
      WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 144
      ORDER BY id_a, id_b""",

    // identical integer counts and cross-multiplied comparisons — the
    // flags cannot disagree by a float boundary
    "x112_gopher_flags" -> """
      WITH t AS (
        SELECT doc_id,
               LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                           x -> LENGTH(x) > 0) AS a
        FROM documents),
      m AS (
        SELECT doc_id, LEN(a) AS n_words,
               COALESCE(LIST_SUM(LIST_TRANSFORM(a, x -> LENGTH(x))), 0) AS n_chars,
               LEN(LIST_FILTER(a, x -> REGEXP_MATCHES(x, '[a-z]'))) AS n_alpha_words,
               LEN(LIST_FILTER(a, x -> LIST_CONTAINS(
                 ['the','be','to','of','and','that','have','with','a','in'], x)))
                 AS n_stop_hits
        FROM t)
      SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(n_alpha_words AS BIGINT) AS n_alpha_words,
             CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
             n_words BETWEEN 20 AND 100000 AS wc_ok,
             n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS mwl_ok,
             n_alpha_words * 10 >= n_words * 8 AS alpha_ok,
             n_stop_hits >= 2 AS stop_ok,
             (n_words BETWEEN 20 AND 100000) AND
             (n_chars >= n_words * 3 AND n_chars <= n_words * 10) AND
             (n_alpha_words * 10 >= n_words * 8) AND (n_stop_hits >= 2) AS pass
      FROM m ORDER BY doc_id""",

    // HUGEINT carries the exact shifted terms; the closing two divisions
    // are the only IEEE ops, in the same order as the engine
    "x107_ewma" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS cents
        FROM events GROUP BY 1, 2),
      sh AS (
        SELECT d.event_type, d.day + CAST(g AS INTEGER) AS day,
               SUM(d.cents * (CAST(1 AS BIGINT) << CAST(20 - g AS INTEGER))) AS s
        FROM daily d, LATERAL (SELECT UNNEST(RANGE(0, 21)) AS g)
        GROUP BY 1, 2)
      SELECT d.event_type, STRFTIME(d.day, '%Y-%m-%d') AS day,
             CAST(sh.s AS DOUBLE) / 1048576.0 / 100.0 AS ewma
      FROM daily d JOIN sh ON sh.event_type = d.event_type AND sh.day = d.day
      ORDER BY d.event_type, d.day""",

    // same thinning filter, same LEAD lookup, same single interpolation
    // expression — synthetic days materialize once each
    "x108_interpolate" -> """
      WITH f AS (SELECT * FROM events WHERE DATE_PART('day', ts) % 3 <> 0),
      daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
                FROM f GROUP BY 1, 2),
      nx AS (SELECT event_type, day AS d0, v AS v0,
                    LEAD(day) OVER (PARTITION BY event_type ORDER BY day) AS d1,
                    LEAD(v) OVER (PARTITION BY event_type ORDER BY day) AS v1
             FROM daily),
      ex AS (SELECT event_type, d0, v0, d1, v1,
                    CAST(UNNEST(CASE WHEN d1 IS NULL
                      THEN [CAST(d0 AS TIMESTAMP)]
                      ELSE RANGE(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                 INTERVAL 1 DAY) END) AS DATE) AS day
             FROM nx)
      SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day,
             CASE WHEN day = d0 THEN v0
                  ELSE v0 + (v1 - v0) *
                       (CAST(DATE_DIFF('day', d0, day) AS DOUBLE) /
                        CAST(DATE_DIFF('day', d0, d1) AS DOUBLE)) END AS value,
             day <> d0 AS interpolated
      FROM ex ORDER BY event_type, day""",

    // HUGEINT moments, then the identical two-division closed form —
    // the intercept re-states the slope expression so the tree matches
    "x109_trend" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        FROM events GROUP BY 1, 2),
      m AS (SELECT event_type,
              CAST(COUNT(*) AS HUGEINT) AS n,
              CAST(SUM(DATE_DIFF('day', DATE '1970-01-01', day)) AS HUGEINT) AS sx,
              CAST(SUM(cents) AS HUGEINT) AS sy,
              CAST(SUM(CAST(DATE_DIFF('day', DATE '1970-01-01', day) AS HUGEINT)
                       * cents) AS HUGEINT) AS sxy,
              CAST(SUM(CAST(DATE_DIFF('day', DATE '1970-01-01', day) AS HUGEINT)
                       * DATE_DIFF('day', DATE '1970-01-01', day)) AS HUGEINT) AS sxx
            FROM daily GROUP BY 1)
      SELECT event_type, CAST(n AS BIGINT) AS n,
             CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE) AS slope,
             (CAST(sy AS DOUBLE) -
              (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
      FROM m ORDER BY event_type""",

    // naive canonical-triple enumeration (a<b<c) — the engine's oriented
    // wedge join must produce the identical triangle relation
    "x106_triangles" -> """
      WITH raw AS (
        SELECT l_partkey AS src,
               LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber, l_partkey) AS dst
        FROM lineitem),
      e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
            FROM raw WHERE dst IS NOT NULL AND src <> dst),
      deg AS (SELECT v, COUNT(*) AS deg FROM
                (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      pn AS (SELECT x AS v, COUNT(*) AS tri FROM
               (SELECT u AS x FROM t UNION ALL SELECT v FROM t
                UNION ALL SELECT w FROM t) GROUP BY 1)
      SELECT deg.v AS node, CAST(deg.deg AS BIGINT) AS deg,
             CAST(COALESCE(pn.tri, 0) AS BIGINT) AS triangles,
             CASE WHEN deg.deg >= 2
                  THEN CAST(COALESCE(pn.tri, 0) * 2 AS DOUBLE) /
                       CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
                  ELSE 0.0 END AS coeff
      FROM deg LEFT JOIN pn ON pn.v = deg.v
      ORDER BY node""",

    // identical integer dot and norm operands, identical one-shot double
    // formula — association order never varies, so raw doubles hash-match
    "x104_tf_cosine" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                                   x -> LENGTH(x) > 0) AS a
        FROM documents),
      tc AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM (
          SELECT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS tok
          FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(a) - 1)) AS i)
          WHERE LEN(a) >= 3) GROUP BY 1, 2),
      n2 AS (SELECT doc_id, SUM(tf*tf) AS n2 FROM tc GROUP BY 1),
      d AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.tf*b.tf) AS d
            FROM tc a JOIN tc b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT id_a, id_b,
             CAST(d AS DOUBLE) / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cos
      FROM d JOIN n2 na ON na.doc_id = id_a JOIN n2 nb ON nb.doc_id = id_b
      WHERE CAST(d AS DOUBLE) / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= 0.7
      ORDER BY id_a, id_b""",

    // vocabulary-weighted char-pair counts; the LIMIT boundary is safe
    // because the (cnt DESC, s1, s2) order is total
    "x105_bpe_pairs" -> """
      WITH w AS (
        SELECT word, COUNT(*) AS cnt FROM (
          SELECT UNNEST(LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                                    x -> LENGTH(x) > 0)) AS word
          FROM documents)
        GROUP BY 1),
      p AS (SELECT SUBSTR(word, i, 1) AS s1, SUBSTR(word, i+1, 1) AS s2,
                   SUM(cnt) AS cnt
            FROM w, LATERAL (SELECT UNNEST(RANGE(1, LENGTH(word))) AS i)
            WHERE LENGTH(word) >= 2 GROUP BY 1, 2)
      SELECT s1, s2, CAST(cnt AS BIGINT) AS cnt
      FROM p ORDER BY cnt DESC, s1, s2 LIMIT 50""",

    // the identical integer recurrence unrolled: floor divisions and
    // BIGINT sums only, so the 5-round fixpoint matches bit-for-bit
    "x99_pagerank" -> s"""
      WITH e AS (
        SELECT src, dst FROM (
          SELECT l_partkey AS src,
                 LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber, l_partkey) AS dst
          FROM lineitem)
        WHERE dst IS NOT NULL AND src <> dst
        GROUP BY src, dst),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      od AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      r0 AS (SELECT node, (SELECT 1000000000 // n FROM nn) AS r FROM nodes),
      ${pageRankIterCtes(5)}
      SELECT node, CAST(r AS BIGINT) AS rank_nano FROM r5 ORDER BY node""",

    // full replay of the subsample decision: identical keep-probability
    // doubles, identical 55-bit poly hash of (doc_id:pos:salt), identical
    // integer comparison — then positions re-compact and pair via a
    // bounded self-join equivalent to the engine's offset explode
    "x98_skipgram_pairs" -> s"""
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'),
                                   x -> LENGTH(x) > 0) AS a
        FROM documents),
      toks AS (
        SELECT doc_id, i AS pos, a[i] AS tok
        FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(a) + 1)) AS i)),
      freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
      n AS (SELECT SUM(c) AS n FROM freq),
      th AS (
        SELECT tok, CAST(FLOOR(LEAST(CAST(1 AS DOUBLE),
            SQRT(1e-3 / (CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE)))
            + 1e-3 / (CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE)))
            * 3.6028797018963968e16) AS BIGINT) AS keep
        FROM freq, n),
      kept AS (
        SELECT toks.doc_id, toks.pos, toks.tok
        FROM toks JOIN th USING (tok)
        WHERE ${polySql("(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR) || ':sg')")} < keep),
      comp AS (
        SELECT doc_id, tok,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS np
        FROM kept)
      SELECT c1.tok AS center, c2.tok AS context, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM comp c1 JOIN comp c2
        ON c1.doc_id = c2.doc_id AND c2.np BETWEEN c1.np - 2 AND c1.np + 2
       AND c2.np <> c1.np
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
      ORDER BY center, context""",

    // integer counts + one fixed-association double per pair, quantized
    // to decimal — B spans ALL bigram events, minCount only gates output
    "x95_pmi_collocations" -> """
      WITH t AS (
        SELECT LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                           x -> LENGTH(x) > 0) AS a
        FROM documents),
      uni AS (SELECT tok AS w, COUNT(*) AS c1
              FROM (SELECT UNNEST(a) AS tok FROM t) GROUP BY 1),
      n AS (SELECT SUM(c1) AS n FROM uni),
      big AS (
        SELECT a[i] AS w1, a[i+1] AS w2, COUNT(*) AS c2
        FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(a))) AS i)
        WHERE LEN(a) >= 2 GROUP BY 1, 2),
      btot AS (SELECT SUM(c2) AS b FROM big)
      SELECT w1, w2, CAST(c2 AS BIGINT) AS c2,
        CAST(CAST(LN((CAST(c2 AS DOUBLE) / CAST(b AS DOUBLE)) /
               ((CAST(u1.c1 AS DOUBLE) / CAST(n.n AS DOUBLE)) *
                (CAST(u2.c1 AS DOUBLE) / CAST(n.n AS DOUBLE))))
             AS DECIMAL(18,8)) AS DOUBLE) AS pmi
      FROM big JOIN uni u1 ON big.w1 = u1.w
               JOIN uni u2 ON big.w2 = u2.w, n, btot
      WHERE c2 >= 5
      ORDER BY w1, w2""",

    // two single-pass conditional-count aggregates; rates and drift are
    // single IEEE divisions/subtractions on both engines
    "x96_null_drift" -> """
      WITH e AS (
        SELECT ts, CASE WHEN value < 100 THEN NULL ELSE value END AS value_n, props
        FROM events),
      a AS (SELECT COUNT(*) AS n, COUNT(*) FILTER (WHERE value_n IS NULL) AS cv,
                   COUNT(*) FILTER (WHERE props IS NULL) AS cp
            FROM e WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
      b AS (SELECT COUNT(*) AS n, COUNT(*) FILTER (WHERE value_n IS NULL) AS cv,
                   COUNT(*) FILTER (WHERE props IS NULL) AS cp
            FROM e WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
      SELECT 'value_n' AS col_name,
        CAST(a.cv AS DOUBLE) / CAST(a.n AS DOUBLE) AS null_rate_a,
        CAST(b.cv AS DOUBLE) / CAST(b.n AS DOUBLE) AS null_rate_b,
        CAST(b.cv AS DOUBLE) / CAST(b.n AS DOUBLE)
          - CAST(a.cv AS DOUBLE) / CAST(a.n AS DOUBLE) AS drift
      FROM a, b
      UNION ALL
      SELECT 'props',
        CAST(a.cp AS DOUBLE) / CAST(a.n AS DOUBLE),
        CAST(b.cp AS DOUBLE) / CAST(b.n AS DOUBLE),
        CAST(b.cp AS DOUBLE) / CAST(b.n AS DOUBLE)
          - CAST(a.cp AS DOUBLE) / CAST(a.n AS DOUBLE)
      FROM a, b
      ORDER BY col_name""",

    // replays the LM count tables from even docs, the three-tier backoff
    // CASE with identical double association, and the decimal-exact
    // per-doc sums — x59's contract extended one order up
    "x94_stupid_backoff" -> """
      WITH t AS (
        SELECT doc_id, LIST_FILTER(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                                   x -> LENGTH(x) > 0) AS a
        FROM documents),
      lmt AS (SELECT a FROM t WHERE doc_id % 2 = 0),
      uni AS (SELECT tok AS w, COUNT(*) AS c1
              FROM (SELECT UNNEST(a) AS tok FROM lmt) GROUP BY 1),
      tot AS (SELECT SUM(c1) AS n_lm, COUNT(*) AS v_lm FROM uni),
      big AS (
        SELECT a[i] AS w1, a[i+1] AS w2, COUNT(*) AS c2
        FROM lmt, LATERAL (SELECT UNNEST(RANGE(1, LEN(a))) AS i)
        WHERE LEN(a) >= 2 GROUP BY 1, 2),
      tri AS (
        SELECT a[i] AS w1, a[i+1] AS w2, a[i+2] AS w3, COUNT(*) AS c3
        FROM lmt, LATERAL (SELECT UNNEST(RANGE(1, LEN(a) - 1)) AS i)
        WHERE LEN(a) >= 3 GROUP BY 1, 2, 3),
      dt AS (
        SELECT doc_id, a[i] AS w1, a[i+1] AS w2, a[i+2] AS w3, COUNT(*) AS c
        FROM t, LATERAL (SELECT UNNEST(RANGE(1, LEN(a) - 1)) AS i)
        WHERE LEN(a) >= 3 GROUP BY 1, 2, 3, 4),
      j AS (
        SELECT dt.doc_id, dt.c, tri.c3, b12.c2 AS ctx12, b23.c2 AS b23,
               u2.c1 AS u2, u3.c1 AS u3, tot.n_lm, tot.v_lm
        FROM dt LEFT JOIN tri USING (w1, w2, w3)
                LEFT JOIN big b12 ON dt.w1 = b12.w1 AND dt.w2 = b12.w2
                LEFT JOIN big b23 ON dt.w2 = b23.w1 AND dt.w3 = b23.w2
                LEFT JOIN uni u2 ON dt.w2 = u2.w
                LEFT JOIN uni u3 ON dt.w3 = u3.w, tot),
      sc AS (
        SELECT doc_id, c,
          CAST(-(CASE
            WHEN c3 IS NOT NULL THEN LN(CAST(c3 AS DOUBLE) / CAST(ctx12 AS DOUBLE))
            WHEN b23 IS NOT NULL THEN
              LN((CAST(0.4 AS DOUBLE) * CAST(b23 AS DOUBLE)) / CAST(u2 AS DOUBLE))
            ELSE LN(((CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE))
                     * CAST(COALESCE(u3, 0) + 1 AS DOUBLE))
                    / CAST(n_lm + v_lm AS DOUBLE))
          END) AS DECIMAL(18,8)) * c AS s
        FROM j)
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
             CAST(SUM(s) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS mean_nll
      FROM sc GROUP BY 1 ORDER BY doc_id""",

    // group sizes + the <15 mask rule replay directly; quasi columns are
    // strings on both sides after masking
    "x92_k_anonymize" -> """
      WITH n AS (
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS qn
        FROM customer GROUP BY 1, 2)
      SELECT c_custkey,
        CASE WHEN qn < 15 THEN '*' ELSE CAST(c.c_nationkey AS VARCHAR) END AS c_nationkey,
        CASE WHEN qn < 15 THEN '*' ELSE c.c_mktsegment END AS c_mktsegment,
        qn < 15 AS suppressed
      FROM customer c JOIN n USING (c_nationkey, c_mktsegment)
      ORDER BY c_custkey""",

    "x93_l_diversity" -> """
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
             COUNT(DISTINCT c_mktsegment) >= 3 AS l_ok
      FROM customer GROUP BY c_nationkey
      ORDER BY c_nationkey""",

    // replays BOTH retrievals — x5's exact float ranking and x81's
    // integer-exact int8 ranking — then intersects the two top-10 lists;
    // counts are integers, recall one IEEE division
    "x91_recall_at_k" -> s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      fsc AS (
        SELECT q.q_id, e.vec_id,
          ${dotSql("e.embedding", "q.qv")} /
          (SQRT(${dotSql("e.embedding", "e.embedding")}) * SQRT(${dotSql("q.qv", "q.qv")})) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      ex AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
          FROM fsc) WHERE rk <= 10),
      sc AS (
        SELECT vec_id, embedding,
          LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS m
        FROM embeddings),
      codes AS (
        SELECT vec_id,
          CASE WHEN m IS NULL OR m = 0 THEN LIST_TRANSFORM(embedding, x -> 0)
               ELSE LIST_TRANSFORM(embedding, x ->
                 CAST(FLOOR(CAST(x AS DOUBLE) / m * 127.0 + 0.5) AS INT)) END AS c
        FROM sc),
      q8 AS (SELECT vec_id AS q_id, c AS qc FROM codes WHERE vec_id < 5),
      isc AS (
        SELECT q8.q_id, e.vec_id,
          CAST(${idotSql("e.c", "q8.qc")} AS DOUBLE) /
          (SQRT(CAST(${idotSql("e.c", "e.c")} AS DOUBLE)) *
           SQRT(CAST(${idotSql("q8.qc", "q8.qc")} AS DOUBLE))) AS cosine
        FROM codes e, q8 WHERE e.vec_id <> q8.q_id),
      ap AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
          FROM isc) WHERE rk <= 10),
      hits AS (SELECT q_id, COUNT(*) AS h FROM ap JOIN ex USING (q_id, vec_id) GROUP BY 1),
      ne AS (SELECT q_id, COUNT(*) AS n FROM ex GROUP BY 1)
      SELECT ne.q_id, CAST(COALESCE(h, 0) AS BIGINT) AS n_hit,
             CAST(n AS BIGINT) AS n_exact,
             CAST(COALESCE(h, 0) AS DOUBLE) / CAST(n AS DOUBLE) AS recall
      FROM ne LEFT JOIN hits ON ne.q_id = hits.q_id
      ORDER BY ne.q_id""",

    // replays the fixed-grid bucketing (x36's arithmetic), add-one
    // smoothing, and the DECIMAL(18,8)-quantized PSI contributions; the
    // total is a sum of ≤20 exact decimals on both sides
    "etl_psi_config" -> """
      WITH ba AS (
        SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - 0.0) * 20.0 / 500000.0),
                                   0.0), 19.0) AS INT) AS bucket
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND o_totalprice IS NOT NULL AND o_totalprice >= 0.0 AND o_totalprice <= 500000.0),
      bb AS (
        SELECT CAST(LEAST(GREATEST(FLOOR((o_totalprice - 0.0) * 20.0 / 500000.0),
                                   0.0), 19.0) AS INT) AS bucket
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND o_totalprice IS NOT NULL AND o_totalprice >= 0.0 AND o_totalprice <= 500000.0),
      ca AS (SELECT bucket, COUNT(*) AS c FROM ba GROUP BY 1),
      cb AS (SELECT bucket, COUNT(*) AS c FROM bb GROUP BY 1),
      grid AS (SELECT CAST(UNNEST(RANGE(0, 20)) AS INT) AS bucket),
      counts AS (
        SELECT g.bucket, COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
        FROM grid g LEFT JOIN ca ON g.bucket = ca.bucket
                    LEFT JOIN cb ON g.bucket = cb.bucket),
      tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts),
      per AS (
        SELECT bucket, ca, cb,
          CAST((CAST(ca + 1 AS DOUBLE) / CAST(na + 20 AS DOUBLE)
                - CAST(cb + 1 AS DOUBLE) / CAST(nb + 20 AS DOUBLE))
               * LN((CAST(ca + 1 AS DOUBLE) / CAST(na + 20 AS DOUBLE))
                    / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 20 AS DOUBLE)))
               AS DECIMAL(18,8)) AS contrib
        FROM counts, tot),
      t2 AS (SELECT SUM(contrib) AS psi FROM per)
      SELECT bucket, CAST(ca AS BIGINT) AS cnt_a, CAST(cb AS BIGINT) AS cnt_b,
             CAST(contrib AS DOUBLE) AS contrib, CAST(psi AS DOUBLE) AS psi
      FROM per, t2 ORDER BY bucket""",

    // replays the exact-integer πps inclusion test in HUGEINT — both
    // engines compare hash·ΣW against n·w·2^55 with no float anywhere,
    // so the kept set is identical; p_incl is one IEEE division
    "x89_weighted_sample" -> s"""
      WITH tot AS (
        SELECT SUM(CAST(CASE WHEN n_chars > 0 THEN n_chars ELSE 0 END AS HUGEINT)) AS w
        FROM documents)
      SELECT doc_id, n_chars,
        LEAST(1.0, 150.0 * CAST(n_chars AS DOUBLE) / CAST(w AS DOUBLE)) AS p_incl
      FROM documents, tot
      WHERE n_chars IS NOT NULL AND n_chars > 0
        AND CAST(${polySql("CAST(doc_id AS VARCHAR) || ':wsample'")} AS HUGEINT) * w
            < CAST(150 AS HUGEINT) * CAST(n_chars AS HUGEINT)
              * CAST(36028797018963968 AS HUGEINT)
      ORDER BY doc_id""",

    // replays the bucket hashing, the add-one-smoothed λ table (LN cast
    // ONCE to DECIMAL(18,8)), the exact per-doc decimal sums, and the
    // hash-derived Gumbel key — the top-100 ranking compares exact
    // decimals, so the selected set is engine-independent
    "x88_dsir_select" -> s"""
      WITH toks AS (
        SELECT doc_id, UNNEST(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS tok
        FROM documents),
      t2 AS (SELECT doc_id, tok FROM toks WHERE LENGTH(tok) > 0),
      b AS (SELECT doc_id, ${polySql("tok")} % 4096 AS bucket FROM t2),
      tgt AS (SELECT b.bucket FROM b JOIN documents USING (doc_id)
              WHERE source = 'src0'),
      rc AS (SELECT bucket, COUNT(*) AS rc FROM b GROUP BY 1),
      tc AS (SELECT bucket, COUNT(*) AS tc FROM tgt GROUP BY 1),
      grid AS (SELECT UNNEST(RANGE(0, 4096)) AS bucket),
      counts AS (
        SELECT g.bucket, COALESCE(rc.rc, 0) AS rc, COALESCE(tc.tc, 0) AS tc
        FROM grid g LEFT JOIN rc ON g.bucket = rc.bucket
                    LEFT JOIN tc ON g.bucket = tc.bucket),
      tot AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM counts),
      lam AS (
        SELECT bucket,
          CAST(LN((CAST(tc + 1 AS DOUBLE) / CAST(ttot + 4096 AS DOUBLE)) /
                  (CAST(rc + 1 AS DOUBLE) / CAST(rtot + 4096 AS DOUBLE)))
               AS DECIMAL(18,8)) AS lam
        FROM counts, tot),
      sc AS (
        SELECT doc_id, COUNT(*) AS n_tokens, SUM(lam) AS llr
        FROM b JOIN lam USING (bucket) GROUP BY 1),
      keyed AS (
        SELECT doc_id, n_tokens, llr,
          llr + CAST(-LN(-LN(
              (CAST(${polySql("CAST(doc_id AS VARCHAR) || ':dsir'")} AS DOUBLE) + 0.5)
              / 3.6028797018963968e16)) AS DECIMAL(18,8)) AS sel_key
        FROM sc),
      sel AS (SELECT * FROM keyed ORDER BY sel_key DESC, doc_id LIMIT 100)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(llr AS DOUBLE) AS llr, CAST(sel_key AS DOUBLE) AS sel_key
      FROM sel ORDER BY doc_id""",

    // NTILE and PERCENT_RANK are SQL-standard in both engines; ties break
    // on doc_id so the phases replay exactly
    "x87_curriculum_phases" -> """
      WITH d AS (
        SELECT doc_id, lang,
          CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
               ELSE LEN(STR_SPLIT_REGEX(TRIM(text), '\s+')) END AS BIGINT) AS n_tokens
        FROM documents)
      SELECT doc_id, lang, n_tokens,
        CAST(NTILE(5) OVER w AS BIGINT) AS phase,
        ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
      FROM d
      WINDOW w AS (PARTITION BY lang ORDER BY n_tokens, doc_id)
      ORDER BY doc_id""",

    // stage 1 replays x80's projected ranking to a 50-deep shortlist;
    // stage 2 replays x5's exact cosine over just those candidates
    "x86_two_stage_topk" -> s"""
      WITH proj AS (SELECT vec_id, $jlProjSql FROM embeddings),
      q AS (SELECT vec_id AS q_id, ${(1 to 16).map(i => s"p$i").mkString(", ")}
            FROM proj WHERE vec_id < 5),
      cscored AS (
        SELECT q.q_id, e.vec_id,
          ${pDotSql("e", "q")} /
          (SQRT(${pDotSql("e", "e")}) * SQRT(${pDotSql("q", "q")})) AS pcos
        FROM proj e, q WHERE e.vec_id <> q.q_id),
      short AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY pcos DESC, vec_id) AS rk
          FROM cscored) WHERE rk <= 50),
      qv AS (SELECT vec_id AS q_id, embedding AS qvec FROM embeddings
             WHERE vec_id < 5),
      rescored AS (
        SELECT s.q_id, s.vec_id,
          ${dotSql("e.embedding", "qv.qvec")} /
          (SQRT(${dotSql("e.embedding", "e.embedding")}) *
           SQRT(${dotSql("qv.qvec", "qv.qvec")})) AS cosine
        FROM short s JOIN embeddings e ON s.vec_id = e.vec_id
                     JOIN qv ON s.q_id = qv.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        FROM rescored)
      SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 10
      ORDER BY q_id, rank""",

    // exact interpolated medians (QUANTILE_CONT ≡ percentile, proven by
    // q31); the fence multiplies double-cast constants in Spark's order
    "x85_robust_outliers" -> """
      WITH med AS (
        SELECT o_orderpriority, QUANTILE_CONT(o_totalprice, 0.5) AS med
        FROM orders GROUP BY 1),
      mad AS (
        SELECT o.o_orderpriority,
          QUANTILE_CONT(ABS(o.o_totalprice - m.med), 0.5) AS mad
        FROM orders o JOIN med m USING (o_orderpriority) GROUP BY 1),
      f AS (
        SELECT o.o_orderpriority, m.med, d.mad, COUNT(*) AS n,
          SUM(CASE WHEN ABS(o.o_totalprice - m.med) >
                CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * d.mad
              THEN 1 ELSE 0 END) AS n_outliers
        FROM orders o JOIN med m USING (o_orderpriority)
                      JOIN mad d USING (o_orderpriority)
        GROUP BY 1, 2, 3)
      SELECT o_orderpriority, ROUND(med, 4) AS med, ROUND(mad, 4) AS mad,
        CAST(n AS BIGINT) AS n, CAST(n_outliers AS BIGINT) AS n_outliers
      FROM f ORDER BY o_orderpriority""",

    // rolling-hash boundaries replayed per char position; extents via the
    // same lag-over-ends window; chunk hashes via polySql on substrings
    "x84_cdc_chunks" -> s"""
      WITH marked AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, 'SYNDICATED VIA MIRROR NETWORK :: ' || text
        FROM documents WHERE doc_id % 5 = 0),
      base AS (SELECT doc_id, text FROM marked WHERE LENGTH(text) >= 1),
      cand AS (
        SELECT doc_id, text,
          UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(text) - 7, 0))) AS p
        FROM base),
      bnd AS (
        SELECT doc_id, p + 7 AS e FROM cand
        WHERE ${polySql("SUBSTRING(text, p, 8)")} % 32 = 0),
      ends AS (
        SELECT DISTINCT doc_id, e FROM (
          SELECT doc_id, e FROM bnd
          UNION ALL SELECT doc_id, LENGTH(text) FROM base)),
      ext AS (
        SELECT doc_id,
          COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s, e
        FROM ends),
      ch AS (
        SELECT ext.doc_id,
          ${polySql("SUBSTRING(b.text, s, e - s + 1)")} AS chunk_hash
        FROM ext JOIN base b USING (doc_id))
      SELECT chunk_hash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY chunk_hash""",

    // one symmetric scored CTE serves both top-k directions (IEEE multiply
    // is commutative, so norm order doesn't matter); the k-NN means fold
    // in rank order via list_reduce, mirroring the engine's sorted fold
    "x83_margin_mining" -> s"""
      WITH src AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
      tgt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
      scored AS (
        SELECT s.vec_id AS sid, t.vec_id AS tid,
          ${dotSql("t.embedding", "s.embedding")} /
          (SQRT(${dotSql("t.embedding", "t.embedding")}) *
           SQRT(${dotSql("s.embedding", "s.embedding")})) AS cosine
        FROM src s, tgt t),
      f4 AS (SELECT * FROM (
          SELECT sid, tid, cosine,
            ROW_NUMBER() OVER (PARTITION BY sid ORDER BY cosine DESC, tid) AS rk
          FROM scored) WHERE rk <= 4),
      b4 AS (SELECT * FROM (
          SELECT sid, tid, cosine,
            ROW_NUMBER() OVER (PARTITION BY tid ORDER BY cosine DESC, sid) AS rk
          FROM scored) WHERE rk <= 4),
      ax AS (SELECT sid,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 LIST(cosine ORDER BY rk)), (a, x) -> a + x) / 8 AS ax
             FROM f4 GROUP BY sid),
      ay AS (SELECT tid,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 LIST(cosine ORDER BY rk)), (a, x) -> a + x) / 8 AS ay
             FROM b4 GROUP BY tid),
      m AS (
        SELECT f4.sid, f4.tid, f4.cosine,
          f4.cosine / (ax.ax + ay.ay) AS margin
        FROM f4 JOIN ax USING (sid) JOIN ay USING (tid)),
      r AS (SELECT sid, tid, cosine, margin,
              ROW_NUMBER() OVER (PARTITION BY sid
                ORDER BY margin DESC, tid) AS rk
            FROM m)
      SELECT sid AS src_id, tid AS tgt_id,
        ROUND(cosine, 6) AS cosine, ROUND(margin, 6) AS margin
      FROM r WHERE rk = 1
      ORDER BY src_id""",

    "x82_dataset_card" -> s"""
      WITH g AS (
        SELECT source, lang, COUNT(*) AS docs,
          SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                   ELSE LEN(STR_SPLIT_REGEX(TRIM(text), '\\s+')) END) AS tokens,
          COUNT(DISTINCT ${polySql("REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')")}) AS uniq
        FROM documents GROUP BY 1, 2),
      t AS (SELECT SUM(tokens) AS total FROM g)
      SELECT source, lang, CAST(docs AS BIGINT) AS docs,
        CAST(tokens AS BIGINT) AS tokens,
        CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS token_share,
        CAST(tokens AS DOUBLE) / CAST(docs AS DOUBLE) AS mean_tokens,
        CAST(docs - uniq AS DOUBLE) / CAST(docs AS DOUBLE) AS dup_rate
      FROM g, t ORDER BY source, lang""",

    "x81_int8_quantization" -> s"""
      WITH sc AS (
        SELECT vec_id, embedding,
          LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS m
        FROM embeddings),
      codes AS (
        SELECT vec_id,
          CASE WHEN m IS NULL OR m = 0 THEN LIST_TRANSFORM(embedding, x -> 0)
               ELSE LIST_TRANSFORM(embedding, x ->
                 CAST(FLOOR(CAST(x AS DOUBLE) / m * 127.0 + 0.5) AS INT)) END AS c
        FROM sc),
      q AS (SELECT vec_id AS q_id, c AS qc FROM codes WHERE vec_id < 5),
      scored AS (
        SELECT q.q_id, e.vec_id,
          CAST(${idotSql("e.c", "q.qc")} AS DOUBLE) /
          (SQRT(CAST(${idotSql("e.c", "e.c")} AS DOUBLE)) *
           SQRT(CAST(${idotSql("q.qc", "q.qc")} AS DOUBLE))) AS cosine
        FROM codes e, q WHERE e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
      SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 10
      ORDER BY q_id, rank""",

    "x80_random_projection" -> s"""
      WITH proj AS (SELECT vec_id, $jlProjSql FROM embeddings),
      q AS (SELECT vec_id AS q_id, ${(1 to 16).map(i => s"p$i").mkString(", ")}
            FROM proj WHERE vec_id < 5),
      scored AS (
        SELECT q.q_id, e.vec_id,
          ${pDotSql("e", "q")} /
          (SQRT(${pDotSql("e", "e")}) * SQRT(${pDotSql("q", "q")})) AS cosine
        FROM proj e, q WHERE e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
      SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 10
      ORDER BY q_id, rank""",

    // skipping is a pure scan optimization: the oracle is the plain
    // filtered aggregate the pruned read must equal byte-for-byte
    "x79_delta_skipping" -> """
      SELECT STRFTIME(o_orderdate, '%Y-%m') AS month,
        CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 23:59:59'
      GROUP BY 1 ORDER BY 1""",

    "x5_cosine_topk" -> s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT q.q_id, e.vec_id,
          ${dotSql("e.embedding", "q.qv")} /
          (SQRT(${dotSql("e.embedding", "e.embedding")}) * SQRT(${dotSql("q.qv", "q.qv")})) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
      SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 10
      ORDER BY q_id, rank""",

    "x65_hard_negatives" -> s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      pos AS (SELECT vec_id AS q_id, vec_id + 100 AS pid FROM embeddings WHERE vec_id < 5),
      scored AS (
        SELECT q.q_id, e.vec_id,
          ${dotSql("e.embedding", "q.qv")} /
          (SQRT(${dotSql("e.embedding", "e.embedding")}) * SQRT(${dotSql("q.qv", "q.qv")})) AS cosine
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
          AND NOT EXISTS (SELECT 1 FROM pos
                          WHERE pos.q_id = q.q_id AND pos.pid = e.vec_id)),
      ranked AS (
        SELECT q_id, vec_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rk
        FROM scored)
      SELECT q_id, vec_id, ROUND(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rank
      FROM ranked WHERE rk <= 10
      ORDER BY q_id, rank""",

    "x11_ivf_assign" -> s"""
      WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 10),
      d AS (SELECT e.vec_id, e.label, c.centroid_id,
              ${eucSql("e.embedding", "c.cv")} AS dist
            FROM embeddings e, c),
      r AS (SELECT vec_id, label, centroid_id,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rk
            FROM d)
      SELECT vec_id, label, centroid_id AS cell FROM r WHERE rk = 1
      ORDER BY vec_id""",

    "x8_text_stats" -> s"""
      SELECT doc_id,
        CAST(LEN(STR_SPLIT_REGEX(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subwords,
        CAST(LENGTH(text) AS BIGINT) AS n_chars_m,
        ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS DOUBLE)
              / LEN(STR_SPLIT_REGEX(TRIM(text), '\\s+')), 4) AS avg_word_len,
        ROUND(CAST(LEN(LIST_INTERSECT(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+'), $stopwordList)) AS DOUBLE)
              / GREATEST(LEN(STR_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')), 1), 4) AS stopword_ratio,
        ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
              / GREATEST(LENGTH(text), 1), 4) AS punct_ratio,
        ROUND(
          (CASE WHEN LENGTH(text) BETWEEN 50 AND 20000 THEN 1.0
                WHEN LENGTH(text) BETWEEN 20 AND 50 THEN 0.5 ELSE 0.0 END) * 0.4 +
          (CASE WHEN (CAST(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) AS DOUBLE)
                      / LEN(STR_SPLIT_REGEX(TRIM(text), '\\s+'))) BETWEEN 2.0 AND 12.0
                THEN 1.0 ELSE 0.3 END) * 0.4 +
          (CASE WHEN (CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                      / GREATEST(LENGTH(text), 1)) <= 0.2 THEN 1.0 ELSE 0.2 END) * 0.2, 4) AS quality
      FROM documents ORDER BY doc_id""",

    "x14_redact_pii" -> """
      WITH dirty AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
          CASE WHEN doc_id % 7 = 0 THEN ' see https://example.org/d/' || doc_id ELSE '' END ||
          CASE WHEN doc_id % 11 = 0 THEN ' call +1 (415) 555-0123 now' ELSE '' END AS t
        FROM documents)
      SELECT doc_id,
        REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          'https?://[^\s]+', '<URL>', 'g'),
          '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS redacted,
        CAST(LEN(REGEXP_EXTRACT_ALL(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(LEN(REGEXP_EXTRACT_ALL(t, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        CAST(LEN(REGEXP_EXTRACT_ALL(
          REGEXP_REPLACE(REGEXP_REPLACE(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
                         'https?://[^\s]+', ' ', 'g'),
          '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS BIGINT) AS n_phones
      FROM dirty
      ORDER BY doc_id""",

    "x63_pii_extents_mask" -> """
      WITH dirty AS (
        SELECT doc_id,
          text ||
          CASE WHEN doc_id % 2 = 0
               THEN ' contact user' || doc_id || '@example.com for details'
               ELSE '' END ||
          CASE WHEN doc_id % 3 = 0
               THEN ' see https://example.org/d/' || doc_id || ' today'
               ELSE '' END ||
          CASE WHEN doc_id % 5 = 0
               THEN ' call +1555000' || LPAD(CAST(doc_id AS VARCHAR), 4, '0') || ' now'
               ELSE '' END AS t
        FROM documents),
      toksp AS (SELECT doc_id, STR_SPLIT_REGEX(TRIM(t), '\s+') AS a FROM dirty),
      pos AS (
        SELECT doc_id, a, UNNEST(GENERATE_SERIES(1, LEN(a))) AS p FROM toksp),
      tok AS (
        SELECT doc_id, p, a[p] AS tk,
          (REGEXP_MATCHES(a[p], '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
           OR REGEXP_MATCHES(a[p], 'https?://[^\s]+')
           OR REGEXP_MATCHES(a[p], '\+?[0-9][0-9()\-.]{6,}[0-9]')) AS is_pii
        FROM pos),
      n AS (
        SELECT doc_id,
               CAST(COUNT(*) FILTER (WHERE is_pii) AS BIGINT) AS n_pii
        FROM tok GROUP BY 1),
      m AS (
        SELECT doc_id,
               COALESCE(STRING_AGG(CASE WHEN NOT is_pii THEN tk END, ' ' ORDER BY p),
                        '') AS rejoined
        FROM tok GROUP BY 1)
      SELECT d.doc_id, n.n_pii,
        CASE WHEN n.n_pii = 0 THEN d.t ELSE m.rejoined END AS masked
      FROM dirty d JOIN n USING (doc_id) JOIN m USING (doc_id)
      ORDER BY d.doc_id""",

    "x12_chunking" -> """
      WITH toks AS (SELECT doc_id, STR_SPLIT_REGEX(TRIM(text), '\s+') AS t
                    FROM documents WHERE LENGTH(TRIM(text)) > 0),
      ch AS (
        SELECT doc_id, s // 25 AS ci, ARRAY_TO_STRING(t[s+1 : s+30], ' ') AS chunk_text
        FROM toks, LATERAL (SELECT UNNEST(RANGE(0, LEN(t), 25)) AS s))
      SELECT doc_id, CAST(ci AS BIGINT) AS chunk_index, chunk_text,
             CAST(LEN(STR_SPLIT_REGEX(TRIM(chunk_text), '\s+')) AS BIGINT) AS chunk_tokens
      FROM ch
      ORDER BY doc_id, chunk_index""",

    "x13_quantize" -> """
      WITH m AS (
        SELECT vec_id, embedding,
               LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS amax
        FROM embeddings)
      SELECT vec_id, ROUND(amax, 6) AS amax, CAST(i - 1 AS BIGINT) AS idx,
             CAST(CASE WHEN amax = 0 THEN 0
                  ELSE ROUND(CAST(embedding[i] AS DOUBLE) * 127.0 / amax) END AS BIGINT) AS q
      FROM m, LATERAL (SELECT UNNEST(RANGE(1, LEN(embedding) + 1)) AS i)
      ORDER BY vec_id, idx""",

    "ev1_window_agg" -> """
      SELECT STRFTIME(TIME_BUCKET(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             STRFTIME(TIME_BUCKET(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS window_end,
             event_type, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
      FROM events
      GROUP BY TIME_BUCKET(INTERVAL '1 hour', ts), event_type
      ORDER BY window_start, event_type""",

    "ev2_session_window" -> """
      WITH marked AS (
        SELECT user_id, ts, value,
          CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '5 minutes'
               THEN 1 ELSE 0 END AS new_session
        FROM events),
      numbered AS (
        SELECT user_id, ts, value,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id,
        STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        STRFTIME(MAX(ts) + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS session_value
      FROM numbered
      GROUP BY user_id, sid
      ORDER BY user_id, session_start""",

    "mm1_meta_filter" -> """
      SELECT doc_id AS media_id,
             CAST(doc_id % 640 + 32 AS INTEGER) AS width,
             CAST(doc_id % 480 + 32 AS INTEGER) AS height
      FROM documents
      WHERE doc_id % 3 = 0 AND doc_id % 640 + 32 >= 200
      ORDER BY media_id""",

    "mm3_frame_sample" -> """
      SELECT doc_id AS media_id, frame_ms
      FROM documents,
        LATERAL (SELECT UNNEST(RANGE(0, (doc_id * 137) % 60000 + 1, 10000)) AS frame_ms)
      WHERE doc_id % 3 = 2
      ORDER BY media_id, frame_ms""",

    // replays the stub featurizer (same arithmetic as mm2's oracle), then
    // the pHash sign fold: mean = left-to-right double fold of the 16
    // floats / 16, bit i set when feat_i > mean (2^i terms are exact
    // integers, so SUM order doesn't matter), pairs = full self-join at
    // hamming ≤ 3 — the engine's pigeonhole bucketing must produce exactly
    // this set
    "mm4_phash_neardup" -> """
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text || '.' FROM documents WHERE doc_id % 7 = 0),
      feats AS (
        SELECT d.doc_id AS media_id, r.i,
          CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(list_filter(range(1, LENGTH(d.text) + 1), p -> (p - 1) % 16 = r.i),
                p -> CAST(CAST(ord(d.text[p]) AS REAL) / CAST(255 AS REAL) AS DOUBLE))),
              (a, x) -> a + x)
            / GREATEST(LENGTH(d.text) // 16, 1) AS REAL) AS feat
        FROM all_docs d CROSS JOIN RANGE(16) r(i)),
      means AS (
        SELECT media_id,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(feat AS DOUBLE) ORDER BY i)), (a, x) -> a + x)
            / CAST(16 AS DOUBLE) AS m
        FROM feats GROUP BY media_id),
      ph AS (
        SELECT f.media_id,
          CAST(SUM(CASE WHEN CAST(f.feat AS DOUBLE) > m.m
                        THEN CAST(POWER(2, f.i) AS BIGINT) ELSE 0 END) AS BIGINT) AS phv
        FROM feats f JOIN means m USING (media_id)
        GROUP BY f.media_id)
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             CAST(bit_count(xor(a.phv, b.phv)) AS BIGINT) AS hamming
      FROM ph a JOIN ph b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.phv, b.phv)) <= 3
      ORDER BY id_a, id_b""",

    // replays the whole composed video pipeline: synthetic meta (duration
    // from the id), frame grid (RANGE ≡ Spark's sequence: every multiple
    // of 10000 ≤ dur), the frame decoder stub (whole-payload fold starting
    // at byte offset kk = frame index), the 16-bit pHash sign fold, then
    // aligned-frame pairs as a full join ON ms — the engine's pigeonhole
    // bucketing must produce exactly this set — and the matched-frame
    // fraction as one IEEE division of exact longs
    "mm5_video_neardup" -> """
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 300000, text || '.' FROM documents WHERE doc_id % 6 = 5),
      vids AS (
        SELECT doc_id AS media_id, text, (doc_id * 137) % 60000 AS dur
        FROM all_docs WHERE doc_id % 3 = 2),
      frames AS (
        SELECT media_id, text, f.ms, CAST(f.ms // 10000 AS INTEGER) AS kk
        FROM vids, LATERAL (SELECT UNNEST(RANGE(0, dur + 1, 10000)) AS ms) f),
      feats AS (
        SELECT fr.media_id, fr.ms, r.i,
          CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(list_filter(range(1, LENGTH(fr.text) + 1),
                p -> p > fr.kk AND (p - 1 - fr.kk) % 16 = r.i),
                p -> CAST(CAST(ord(fr.text[p]) AS REAL) / CAST(255 AS REAL) AS DOUBLE))),
              (a, x) -> a + x)
            / GREATEST((LENGTH(fr.text) - fr.kk) // 16, 1) AS REAL) AS feat
        FROM frames fr CROSS JOIN RANGE(16) r(i)),
      means AS (
        SELECT media_id, ms,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(feat AS DOUBLE) ORDER BY i)), (a, x) -> a + x)
            / CAST(16 AS DOUBLE) AS m
        FROM feats GROUP BY media_id, ms),
      ph AS (
        SELECT f.media_id, f.ms,
          CAST(SUM(CASE WHEN CAST(f.feat AS DOUBLE) > m.m
                        THEN CAST(POWER(2, f.i) AS BIGINT) ELSE 0 END) AS BIGINT) AS phv
        FROM feats f JOIN means m ON f.media_id = m.media_id AND f.ms = m.ms
        GROUP BY f.media_id, f.ms),
      counts AS (SELECT media_id, COUNT(*) AS nf FROM ph GROUP BY media_id),
      matched AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b, COUNT(*) AS n_matched
        FROM ph a JOIN ph b ON a.media_id < b.media_id AND a.ms = b.ms
        WHERE bit_count(xor(a.phv, b.phv)) <= 2
        GROUP BY a.media_id, b.media_id)
      SELECT m.id_a, m.id_b, CAST(m.n_matched AS BIGINT) AS n_matched,
        CAST(m.n_matched AS DOUBLE) / CAST(LEAST(ca.nf, cb.nf) AS DOUBLE) AS match_frac
      FROM matched m JOIN counts ca ON ca.media_id = m.id_a
        JOIN counts cb ON cb.media_id = m.id_b
      WHERE CAST(m.n_matched AS DOUBLE) / CAST(LEAST(ca.nf, cb.nf) AS DOUBLE) >= 0.5
      ORDER BY id_a, id_b""",

    // mm5's frame/pHash replay minus the re-encoded union, then a
    // per-video LAG window — same stub decode, same hash fold
    "mm6_scene_cuts" -> """
      WITH vids AS (
        SELECT doc_id AS media_id, text, (doc_id * 137) % 60000 AS dur
        FROM documents WHERE doc_id % 3 = 2),
      frames AS (
        SELECT media_id, text, f.ms, CAST(f.ms // 10000 AS INTEGER) AS kk
        FROM vids, LATERAL (SELECT UNNEST(RANGE(0, dur + 1, 10000)) AS ms) f),
      feats AS (
        SELECT fr.media_id, fr.ms, r.i,
          CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(list_filter(range(1, LENGTH(fr.text) + 1),
                p -> p > fr.kk AND (p - 1 - fr.kk) % 16 = r.i),
                p -> CAST(CAST(ord(fr.text[p]) AS REAL) / CAST(255 AS REAL) AS DOUBLE))),
              (a, x) -> a + x)
            / GREATEST((LENGTH(fr.text) - fr.kk) // 16, 1) AS REAL) AS feat
        FROM frames fr CROSS JOIN RANGE(16) r(i)),
      means AS (
        SELECT media_id, ms,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(feat AS DOUBLE) ORDER BY i)), (a, x) -> a + x)
            / CAST(16 AS DOUBLE) AS m
        FROM feats GROUP BY media_id, ms),
      ph AS (
        SELECT f.media_id, f.ms,
          CAST(SUM(CASE WHEN CAST(f.feat AS DOUBLE) > m.m
                        THEN CAST(POWER(2, f.i) AS BIGINT) ELSE 0 END) AS BIGINT) AS phv
        FROM feats f JOIN means m ON f.media_id = m.media_id AND f.ms = m.ms
        GROUP BY f.media_id, f.ms),
      lagged AS (
        SELECT media_id, ms, phv,
          LAG(phv) OVER (PARTITION BY media_id ORDER BY ms) AS prev
        FROM ph)
      SELECT media_id, CAST(ms AS BIGINT) AS cut_ms,
        CAST(bit_count(xor(phv, prev)) AS BIGINT) AS hamming
      FROM lagged
      WHERE prev IS NOT NULL AND bit_count(xor(phv, prev)) >= 3
      ORDER BY media_id, cut_ms""",

    // audio segments: the mm6 frame-decode CTEs at everyMs=5000 over the
    // audio third; energy = the same 16-lane fold mean, quantized to
    // DECIMAL(18,9) so the per-media threshold compare is exact
    "mm7_audio_segments" -> """
      WITH auds AS (
        SELECT doc_id AS media_id, text, (doc_id * 137) % 60000 AS dur
        FROM documents WHERE doc_id % 3 = 1),
      frames AS (
        SELECT media_id, text, f.ms, CAST(f.ms // 5000 AS INTEGER) AS kk
        FROM auds, LATERAL (SELECT UNNEST(RANGE(0, dur + 1, 5000)) AS ms) f),
      feats AS (
        SELECT fr.media_id, fr.ms, r.i,
          CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(list_filter(range(1, LENGTH(fr.text) + 1),
                p -> p > fr.kk AND (p - 1 - fr.kk) % 16 = r.i),
                p -> CAST(CAST(ord(fr.text[p]) AS REAL) / CAST(255 AS REAL) AS DOUBLE))),
              (a, x) -> a + x)
            / GREATEST((LENGTH(fr.text) - fr.kk) // 16, 1) AS REAL) AS feat
        FROM frames fr CROSS JOIN RANGE(16) r(i)),
      en AS (
        SELECT media_id, ms,
          CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(feat AS DOUBLE) ORDER BY i)), (a, x) -> a + x)
            / CAST(16.0 AS DOUBLE) AS DECIMAL(18,9)) AS e
        FROM feats GROUP BY media_id, ms),
      th AS (SELECT media_id, SUM(e) AS s, COUNT(*) AS n
             FROM en GROUP BY 1),
      act AS (
        SELECT en.media_id, en.ms, en.e
        FROM en JOIN th USING (media_id)
        WHERE en.e * th.n > th.s),
      isl AS (
        SELECT media_id, ms, e,
          CAST(ms // 5000 AS BIGINT) -
            ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY ms) AS grp
        FROM act)
      SELECT media_id, CAST(MIN(ms) AS BIGINT) AS seg_start_ms,
             CAST(MAX(ms) AS BIGINT) AS seg_end_ms,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             ROUND(CAST(SUM(e) AS DOUBLE) / COUNT(*), 6) AS avg_energy
      FROM isl GROUP BY media_id, grp
      ORDER BY media_id, seg_start_ms"""
  )
}
