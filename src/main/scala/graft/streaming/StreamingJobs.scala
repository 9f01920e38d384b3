package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.config.SinkSpec
import graft.sinks.SinkWriter
import graft.sources.VersionedParquet

/** Streaming extension (SURVEY.md §2.8, mandated by the north star — the
  * reference itself is batch-only, deploy.yaml:13 schedules reruns). Design:
  * the same job model with streaming sources; transformations are unchanged
  * because Spark SQL is shared between batch and streaming plans; sinks
  * reuse the batch writers through `foreachBatch` — which is also the only
  * way to run the SCD2 merge per micro-batch (stateful merge is not
  * expressible in pure streaming SQL; SURVEY.md §7.4).
  *
  * Scale notes: every aggregation here carries a watermark so state is
  * bounded (unbounded state is the way streaming jobs die at scale);
  * dedupWithinWatermark keeps only the key+timestamp in state, not rows.
  * Every query starts through [[start]], so its micro-batches run under
  * the executor's shared classloader and reuse the generated code that
  * earlier queries and batches of the same plan shape compiled.
  */
object StreamingJobs {

  private val IsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Starts `stream` as a foreachBatch query checkpointed at `checkpoint` —
    * the one `.start()` behind every graft streaming query.
    *
    * `start()` clones the session, and with artifact isolation on (Spark's
    * default) the clone's tasks run under a fresh per-session executor
    * classloader. Spark's codegen cache is keyed on the classloader as
    * well as the code, so every query run would Janino-compile its
    * byte-identical stages again (~29 of ~48 compiles per `stream_scd2`
    * iteration). Isolation exists for session-scoped artifacts (jars and
    * class files added to one session, as Spark Connect does); graft adds
    * none, so the shared classloader loses nothing.
    *
    * The clone copies the conf inside `start()`, so the key is set to
    * false on the caller's session only for that call and then restored
    * to exactly what it was (explicit value, or unset). The lock keeps
    * two concurrent starts on one session from restoring each other's
    * flipped value. */
  def start(stream: DataFrame, checkpoint: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    graft.util.LocalFs.install(stream.sparkSession)
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)
    val conf = stream.sparkSession.conf
    synchronized {
      val prev = conf.getAll.get(IsolationKey)
      conf.set(IsolationKey, "false")
      try writer.start()
      finally prev match {
        case Some(v) => conf.set(IsolationKey, v)
        case None    => conf.unset(IsolationKey)
      }
    }
  }

  /** File-stream source over a parquet directory (the fixtures' `events`
    * table replayed as a stream; schema must be provided in streaming). */
  def fileStream(spark: SparkSession, path: String, schema: StructType,
      format: String = "parquet", maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .format(format)
      .load(path)

  /** Tumbling/sliding window aggregation with watermarked late-data bound.
    * slide == window ⇒ tumbling. */
  def windowedCounts(events: DataFrame, tsCol: String, windowDur: String,
      slideDur: Option[String] = None, watermark: String = "10 minutes",
      groupCols: Seq[String] = Seq("event_type")): DataFrame = {
    val win = slideDur match {
      case Some(s) => window(col(tsCol), windowDur, s)
      case None    => window(col(tsCol), windowDur)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(win +: groupCols.map(col): _*)
      // decimal-cast sum: exact & order-independent, so batch, streaming,
      // and the DuckDB oracle all agree bit-for-bit
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++ groupCols.map(col) ++
        Seq(col("n"), col("total_value")): _*)
  }

  /** Session windows: activity grouped by gaps ≥ `gap` per user. */
  def sessionized(events: DataFrame, tsCol: String, userCol: String,
      gap: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(userCol), col("n_events"), col("session_value"))

  /** Streaming dedup with bounded state. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Custom per-key state (SURVEY.md §2.8): sessionize events with
    * `flatMapGroupsWithState` — the escape hatch when windowed/session
    * aggregates can't express the state machine (here: emit one summary row
    * per CLOSED session, keyed by user; a session closes when a later event
    * for the key exceeds the gap, so per-user tail sessions stay in state
    * until more data arrives). State per key is one constant-size summary,
    * so it stays bounded. Production deployments add a GroupStateTimeout to
    * flush idle tails; kept timeout-free here so AvailableNow drains
    * deterministically.
    *
    * Ordering contract: rows are sorted within each micro-batch, but a key's
    * events must not regress across batches (feed time-ordered batches, as
    * a replayed log or watermark-sorted source does) — otherwise a stale
    * event can split a session that event-time sessionization would merge. */
  final case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  final case class SessionSummary(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  def statefulSessions(spark: SparkSession, events: DataFrame, gapMs: Long):
      org.apache.spark.sql.Dataset[SessionSummary] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMs * 1000L
    // state tracks epoch MICROS — session boundaries must agree with
    // event-time sessionization at full timestamp precision
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(java.lang.Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((java.lang.Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    events
      .selectExpr("user_id", "unix_micros(ts) AS ts_us", "value")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Double)], state: GroupState[SessionState]) =>
          var closed = List.empty[SessionSummary]
          var cur = state.getOption
          rows.toSeq.sortBy(_._2).foreach { case (_, ts, v) =>
            cur match {
              case Some(s) if ts - s.lastTs < gapUs =>
                cur = Some(s.copy(lastTs = ts, n = s.n + 1, total = s.total + v))
              case Some(s) =>
                closed ::= SessionSummary(user, toTs(s.start), toTs(s.lastTs), s.n, s.total)
                cur = Some(SessionState(ts, ts, 1, v))
              case None =>
                cur = Some(SessionState(ts, ts, 1, v))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
      }
  }

  /** Stream-stream interval join (SURVEY.md §2.8): match rows from two
    * streams whose event times fall within `[lower, upper]` of each other.
    * BOTH sides carry watermarks and the join condition bounds event time
    * in BOTH directions — the two requirements Structured Streaming needs
    * to know when buffered state can be evicted; without them the join
    * state grows without bound and the job dies at scale. Inner join only
    * here (outer interval joins additionally delay emission to the
    * watermark horizon). */
  /** `joinType` extends the inner default to Structured Streaming's
    * outer variants ("left_outer"/"right_outer"/"full_outer"): the
    * watermark + both-sided time bound make the state store provably
    * expirable, so the engine can emit the null-padded unmatched rows
    * once the watermark passes the join window — WITHOUT the bound an
    * outer stream-stream join is rejected (unmatched rows could match
    * forever). Outer rows therefore arrive LATE by up to
    * watermark + upper: the correctness/latency trade every streaming
    * outer join carries. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, keys: Seq[String],
      lower: String = "0 seconds", upper: String = "5 minutes",
      watermark: String = "10 minutes", joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r0 = right.withWatermark(rightTs, watermark)
    // disambiguate column names: keys stay shared, payloads get prefixed
    val r = r0.columns.foldLeft(r0) { (df, c) =>
      if (keys.contains(c)) df else df.withColumnRenamed(c, s"r_$c")
    }
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val timeCond =
      col(s"r_$rightTs") >= col(leftTs) - expr(s"INTERVAL $lower") &&
      col(s"r_$rightTs") <= col(leftTs) + expr(s"INTERVAL $upper")
    val joined = l.join(r, keyCond && timeCond, joinType)
    keys.foldLeft(joined)((df, k) => df.drop(r(k)))
  }

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension — the bread-and-butter streaming pattern (enrich clicks
    * with user/product attributes). The dimension is broadcast, so the
    * stream side never shuffles and no join state accumulates (the
    * static side is bounded; Structured Streaming re-plans it per
    * micro-batch, which also picks up dimension file changes between
    * batches). Use `left` to keep events whose key has no dimension row
    * yet — dropping them silently is the classic enrichment bug. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame, keys: Seq[String],
      joinType: String = "left"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, joinType)

  /** Per-group state of [[statefulHeavyHitters]]: observation total +
    * the Misra-Gries counter map (bounded at 2·capacity between purges). */
  final case class HHState(n: Long, counts: Map[String, Long])
  /** One tracked counter in the group's current summary. `count` upper-
    * bounds the item's true frequency in the stream so far, `count -
    * error` lower-bounds it; any item with true frequency > n/(m+1) is
    * guaranteed tracked (the [[graft.functions.FrequentItemsAgg]]
    * guarantees, which survive incremental maintenance — each micro-batch
    * is just more observations on the same summary). */
  final case class HHSnapshot(group: String, n: Long, term: String,
      count: Long, error: Long)

  /** Continuously-maintained heavy hitters per group: the
    * [[graft.functions.FrequentItemsAgg]] Misra-Gries summary held as
    * flatMapGroupsWithState state, re-emitted (Update mode) for every
    * group that saw traffic in the micro-batch. The streaming form of
    * "top URLs / user agents / error keys right now" over an open
    * vocabulary — per-group state is m..2m counters FOREVER, regardless
    * of stream length or vocabulary, which is the whole point: an exact
    * streaming groupBy(item).count() holds one state row per distinct
    * item and dies on an unbounded domain.
    *
    * Observations run through the SAME `mgObserve`/`mgTruncate`
    * primitives as the batch aggregate — one sketch implementation, one
    * set of proofs; emitted snapshots are truncated to m counters and
    * carry the same (count, error) interval semantics as x70. */
  def statefulHeavyHitters(spark: SparkSession, items: DataFrame,
      groupCol: String, itemCol: String, capacity: Int):
      org.apache.spark.sql.Dataset[HHSnapshot] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.functions.FrequentItemsAgg.{mgObserve, mgTruncate}
    items
      .select(col(groupCol).cast("string"), col(itemCol).cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HHState, HHSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (group: String, rows: Iterator[(String, String)], state: GroupState[HHState]) =>
          val prev = state.getOption.getOrElse(HHState(0L, Map.empty))
          val counts = scala.collection.mutable.HashMap.empty[String, Long] ++ prev.counts
          var n = prev.n
          rows.foreach { case (_, item) => n += 1; mgObserve(counts, item, capacity) }
          state.update(HHState(n, counts.toMap))
          val out = counts.clone()
          if (out.size > capacity) mgTruncate(out, capacity)
          val err = n / (capacity + 1)
          out.toSeq.sortBy { case (k, c) => (-c, k) }.iterator
            .map { case (k, c) => HHSnapshot(group, n, k, c + err, err) }
      }
  }

  /** Per-group state of [[statefulTopK]]: the current ≤ k best
    * (ord, item) pairs — bounded regardless of stream length. */
  final case class TopKState(entries: Seq[(Double, String)])
  /** One row of a group's refreshed top-k, best-first (`rank` 1-based;
    * ties on ord break by item ASC — the [[graft.functions.TopKAgg]]
    * total order, so a batch backfill reproduces the stream's answer). */
  final case class TopKSnapshot(group: String, rank: Int, ord: Double,
      item: String)

  /** Continuously-maintained per-group top-k: the [[graft.functions
    * .TopKAgg]] bounded heap held as flatMapGroupsWithState state,
    * re-emitted (Update mode) for every group that saw traffic in the
    * micro-batch — "current leaderboard per group" over an unbounded
    * stream with ≤ k doubles+strings of state per group forever.
    * Selection runs through the SAME `Buffer.offer` primitive as the
    * batch aggregate — one top-k implementation, one total order
    * ((ord DESC, item ASC)), so [[graft.functions.TopKAgg.topKBy]] over
    * the accumulated history equals the stream's latest snapshot
    * exactly. Rows with null group/ord/item are dropped (the batch
    * aggregate's null contract). */
  def statefulTopK(spark: SparkSession, items: DataFrame, groupCol: String,
      ordCol: String, itemCol: String, k: Int):
      org.apache.spark.sql.Dataset[TopKSnapshot] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.functions.TopKAgg.{Buffer, Entry}
    require(k > 0, s"statefulTopK k must be positive, got $k")
    items
      .select(col(groupCol).cast("string"), col(ordCol).cast("double"),
        col(itemCol).cast("string"))
      .na.drop()
      .as[(String, Double, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TopKState, TopKSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (group: String, rows: Iterator[(String, Double, String)],
            state: GroupState[TopKState]) =>
          val buf = new Buffer(k, itemIsLong = false)
          state.getOption.foreach(_.entries.foreach { case (o, it) =>
            buf.offer(Entry(o, it))
          })
          rows.foreach { case (_, o, it) => buf.offer(Entry(o, it)) }
          state.update(TopKState(buf.heap.toSeq.map(e =>
            (e.ord, e.item.asInstanceOf[String]))))
          buf.entriesBestFirst.iterator.zipWithIndex.map { case (e, i) =>
            TopKSnapshot(group, i + 1, e.ord, e.item.asInstanceOf[String])
          }
      }
  }

  final case class TransState(lastUs: Long, lastId: Long, lastType: String)
  final case class Transition(user: String, from_type: String,
    to_type: String, at_us: Long)

  /** Streaming twin of [[graft.x.EventAnalytics.transitionMatrix]]'s pair
    * extraction: per-user consecutive event-type transitions emitted LIVE
    * from `flatMapGroupsWithState`, with the (ts, id, type) frontier as
    * the ONLY state — three scalars per user forever, however long the
    * stream runs. Within a batch rows fold in strict (ts, id) order
    * (same total order as the batch op), and a transition spanning a
    * micro-batch boundary connects through the stored frontier, so the
    * emitted pair stream equals the batch extraction over the
    * accumulated history. Rows at or behind the frontier DROP — the
    * explicit no-retro-correction late-data contract [[statefulEwma]] /
    * [[statefulHolt]] established. Emits the PAIRS (Append mode), not
    * counts: one state op then serves the transition matrix, the entropy
    * score, and the SCC/SSSP graph builds as ordinary downstream
    * aggregations. */
  def statefulTransitions(spark: SparkSession, events: DataFrame,
      userCol: String, tsCol: String, idCol: String, typeCol: String):
      org.apache.spark.sql.Dataset[Transition] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col(userCol).cast("string"), unix_micros(col(tsCol)),
        col(idCol).cast("long"), col(typeCol).cast("string"))
      .na.drop()
      .as[(String, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: String, rows: Iterator[(String, Long, Long, String)],
            state: GroupState[TransState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption
            .getOrElse(TransState(Long.MinValue, Long.MinValue, null))
          val out = Seq.newBuilder[Transition]
          sorted.foreach { case (_, us, id, tp) =>
            val fresh = us > st.lastUs || (us == st.lastUs && id > st.lastId)
            if (fresh) {
              if (st.lastType != null) out += Transition(user, st.lastType, tp, us)
              st = TransState(us, id, tp)
            } // else: late arrival behind the frontier — dropped by contract
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class EwmaState(days: Map[Int, Long])
  final case class EwmaSnapshot(series: String, day: String, ewma: Double)

  final case class HoltState(nFolded: Long, firstCents: Long, level: Double,
    trend: Double, frozenDay: Int, days: Map[Int, Long])
  final case class HoltSnapshot(series: String, day: String, level: Double,
    trend: Double, forecast_next: Double)

  /** Streaming twin of [[graft.x.EventAnalytics.holtForecast]]: per-series
    * Holt level+trend state maintained live, emitting a snapshot per
    * (series, day) as data arrives.
    *
    * Holt's recursion is a fold over the FULL day sequence, so unbounded
    * exactness would need unbounded state. The contract instead: day
    * sums within `graceDays` of the series frontier stay mutable (each
    * batch re-folds them PROVISIONALLY from the frozen prefix and
    * re-emits); once a day falls `graceDays` behind the frontier it is
    * folded irrevocably into the frozen (level, trend) pair and its
    * snapshot is final. Rows older than the frozen boundary are DROPPED
    * from the recursion (the explicit late-data contract — same "no
    * retro-correction" stance as [[statefulEwma]], made visible by the
    * freeze). State per series: two doubles + ≤ graceDays day sums.
    *
    * Exactness: cents are integers; `cents/100.0` is the same
    * correctly-rounded double as the batch op's DECIMAL(18,2)→DOUBLE
    * cast, and each fold step runs the identical IEEE expression order
    * (`α·x + (1−α)·(l+b)`, `β·(l′−l) + (1−β)·b`), so for any day whose
    * window is complete the last emitted snapshot equals the batch
    * `holtForecast` row bit-for-bit. The batch op's day-1 row (whose
    * level peeks at day 2 through the init) has no streaming
    * counterpart — emissions start at the second folded day, exactly
    * where the recursion becomes causal. */
  def statefulHolt(spark: SparkSession, events: DataFrame, seriesCol: String,
      tsCol: String, valueCol: String, alpha: Double = 0.2,
      beta: Double = 0.1, graceDays: Int = 14):
      org.apache.spark.sql.Dataset[HoltSnapshot] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"alpha/beta must be in (0,1), got $alpha/$beta")
    require(graceDays >= 0 && graceDays <= 366,
      s"graceDays must be in [0, 366], got $graceDays")
    val oma = 1.0 - alpha
    val omb = 1.0 - beta
    events
      .select(col(seriesCol).cast("string"),
        datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date")).as("d"),
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HoltState, HoltSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Int, Long)],
         state: GroupState[HoltState]) =>
          val st = state.getOption
            .getOrElse(HoltState(0L, 0L, 0.0, 0.0, Int.MinValue, Map.empty))
          val days = scala.collection.mutable.HashMap.empty[Int, Long] ++ st.days
          // a batch of exclusively-late rows changes nothing: don't
          // re-emit (or re-fold) the unchanged provisional tail
          var changed = false
          rows.foreach { case (_, d, c) =>
            if (d > st.frozenDay) { days(d) = days.getOrElse(d, 0L) + c; changed = true }
          }
          if (days.isEmpty || !changed) Iterator.empty
          else {
            def dayStr(d: Int) = java.time.LocalDate.ofEpochDay(d.toLong).toString
            val out = scala.collection.mutable.ArrayBuffer.empty[HoltSnapshot]
            val fb = days.keys.max - graceDays
            var (nf, fc, l, b) = (st.nFolded, st.firstCents, st.level, st.trend)
            var frozen = st.frozenDay
            days.keys.filter(_ <= fb).toSeq.sorted.foreach { d =>
              val c = days.remove(d).get
              val x = c.toDouble / 100.0
              if (nf == 0L) { fc = c; nf = 1L }
              else {
                if (nf == 1L) { val x1 = fc.toDouble / 100.0; l = x1; b = x - x1 }
                val nl = alpha * x + oma * (l + b)
                val nb = beta * (nl - l) + omb * b
                l = nl; b = nb; nf += 1L
                out += HoltSnapshot(series, dayStr(d), l, b, l + b)
              }
              frozen = d
            }
            var (pn, pfc, pl, pb) = (nf, fc, l, b)
            days.keys.toSeq.sorted.foreach { d =>
              val x = days(d).toDouble / 100.0
              if (pn == 0L) { pfc = days(d); pn = 1L }
              else {
                if (pn == 1L) { val x1 = pfc.toDouble / 100.0; pl = x1; pb = x - x1 }
                val nl = alpha * x + oma * (pl + pb)
                val nb = beta * (nl - pl) + omb * pb
                pl = nl; pb = nb; pn += 1L
                out += HoltSnapshot(series, dayStr(d), pl, pb, pl + pb)
              }
            }
            state.update(HoltState(nf, fc, l, b, frozen, days.toMap))
            out.iterator
          }
      }
  }

  /** Streaming twin of [[graft.x.EventAnalytics.ewmaDaily]]: per-series
    * exponentially-decayed daily value (1-day half-life, trailing
    * `windowDays`) maintained in `flatMapGroupsWithState`. State is the
    * trailing window's (epoch-day → cents) map — BOUNDED at windowDays+1
    * longs per series regardless of stream length. Each trigger emits a
    * snapshot for every day the batch TOUCHED, computed BEFORE the window
    * truncation, so with in-event-time-order arrival (the ordering
    * contract statefulSessions documents) every emitted day carries its
    * complete trailing window and the latest snapshot per (series, day)
    * is the day's final answer; late data older than the retained window
    * is absorbed into state but cannot retro-correct emitted days.
    *
    * Exactness matches the batch op bit-for-bit: cents are integers, the
    * weighted sum runs in BigInt with binary-exponent weights, and the
    * closing toDouble/÷2^W/÷100 is the identical correctly-rounded
    * sequence — a backfill with ewmaDaily reproduces exactly what the
    * live stream emitted. */
  def statefulEwma(spark: SparkSession, events: DataFrame, seriesCol: String,
      tsCol: String, valueCol: String, windowDays: Int = 30):
      org.apache.spark.sql.Dataset[EwmaSnapshot] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(windowDays >= 0 && windowDays <= 60,
      s"windowDays must be in [0, 60], got $windowDays")
    events
      .select(col(seriesCol).cast("string"),
        datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date")).as("d"),
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Int, Long)],
         state: GroupState[EwmaState]) =>
          val days = scala.collection.mutable.HashMap.empty[Int, Long] ++
            state.getOption.map(_.days).getOrElse(Map.empty)
          val rows2 = rows
          val touched = scala.collection.mutable.TreeSet.empty[Int]
          rows2.foreach { case (_, d, c) =>
            days(d) = days.getOrElse(d, 0L) + c
            touched += d
          }
          if (days.isEmpty) Iterator.empty
          else {
            val maxDay = days.keys.max
            // emit from the PRE-truncation map: an earlier touched day's
            // window may legitimately reach below maxDay - windowDays
            val out = touched.toSeq.map { day =>
              val sum = days.iterator
                .filter { case (d, _) => d <= day && day - d <= windowDays }
                .map { case (d, c) => BigInt(c) << (windowDays - (day - d)) }
                .sum
              EwmaSnapshot(series,
                java.time.LocalDate.ofEpochDay(day.toLong).toString,
                sum.toDouble / math.pow(2.0, windowDays) / 100.0)
            }
            state.update(EwmaState(
              days.filter { case (d, _) => maxDay - d <= windowDays }.toMap))
            out.iterator
          }
      }
  }

  final case class CusumState(days: Map[Int, Long])
  final case class CusumSnapshot(series: String, day: String, x: Double,
    sPlus: Double, sMinus: Double, alarm: Boolean)

  /** Streaming CUSUM monitor — the live sibling of
    * [[graft.x.EventAnalytics.cusumChangepoints]], run the way production
    * CUSUM is actually deployed: `muRef`/`sigmaRef` are CALIBRATED ON
    * HISTORY (the batch op's in-sample moments over a stable period) and
    * the stream is judged against that frozen reference — re-estimating μ
    * on the monitored window would let a slow drift recalibrate itself
    * invisible. State per series is the day→cents map ([[statefulEwma]]'s
    * representation; daily series stay tiny), so late events fold into
    * their day and every touched day re-emits its corrected statistic.
    * The fold is bit-identical to the batch op's (cents→double, the same
    * IEEE sequence), so a backfill reproduces exactly what the monitor
    * emitted. */
  def statefulCusum(spark: SparkSession, events: DataFrame, seriesCol: String,
      tsCol: String, valueCol: String, refs: Map[String, (Double, Double)],
      kSigma: Double = 0.5, hSigma: Double = 4.0):
      org.apache.spark.sql.Dataset[CusumSnapshot] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col(seriesCol).cast("string"),
        datediff(to_date(col(tsCol)), lit("1970-01-01").cast("date")).as("d"),
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, rows: Iterator[(String, Int, Long)],
         state: GroupState[CusumState]) =>
          val days = scala.collection.mutable.HashMap.empty[Int, Long] ++
            state.getOption.map(_.days).getOrElse(Map.empty)
          val touched = scala.collection.mutable.TreeSet.empty[Int]
          rows.foreach { case (_, d, c) =>
            days(d) = days.getOrElse(d, 0L) + c
            touched += d
          }
          val ref = refs.get(series)
          if (days.isEmpty || ref.isEmpty) Iterator.empty
          else {
            val (muRef, sigmaRef) = ref.get
            state.update(CusumState(days.toMap))
            val sorted = days.toSeq.sortBy(_._1)
            def round6(v: Double): Double =
              BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            // a touched day can correct every LATER day's statistic too;
            // re-emit from the earliest touched day forward
            val from = touched.min
            var sp = 0.0
            var sm = 0.0
            val out = scala.collection.mutable.ArrayBuffer.empty[CusumSnapshot]
            sorted.foreach { case (d, cents) =>
              val x = cents / 100.0
              sp = math.max(0.0, sp + (x - muRef) - kSigma * sigmaRef)
              sm = math.max(0.0, sm + -(x - muRef) - kSigma * sigmaRef)
              if (d >= from)
                out += CusumSnapshot(series,
                  java.time.LocalDate.ofEpochDay(d.toLong).toString, x,
                  round6(sp), round6(sm),
                  sp > hSigma * sigmaRef || sm > hSigma * sigmaRef)
            }
            out.iterator
          }
      }
  }

  /** Run any transformed stream into the batch sink machinery per
    * micro-batch — this is how scdType2Insert works in streaming mode.
    * The micro-batch id AND the stream's identity (derived from the
    * checkpoint location — [[graft.sinks.SinkWriter.streamIdentity]])
    * reach [[graft.sinks.SinkWriter.write]]: a bucketed scdType2Insert
    * carries `scd2BatchHwm.<identity>` in each commit manifest, so an
    * at-least-once replay of an already-committed batch is detected from
    * one manifest-meta read and skipped whole — no duplicated history
    * rows (the merge is content-idempotent anyway) and no spurious
    * version churn on the dimension's log — while a restart with a FRESH
    * checkpoint (batch ids reset to 0) is a NEW identity whose batches
    * all merge. A batch whose commit loses a write-write conflict fails
    * the query; restarting it replays that batch from the checkpoint. */
  def startForeachBatch(stream: DataFrame, sink: SinkSpec,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val identity = SinkWriter.streamIdentity(checkpoint)
    start(stream, checkpoint, trigger) { (batch: DataFrame, bid: Long) =>
      SinkWriter.write(batch.sparkSession, batch, sink, Some(bid -> identity))
    }
  }

  /** Streaming distinct-count via HLL registers: each micro-batch's
    * register rows ([[graft.x.Sketches.hllRegisters]]) are merged into a
    * register STORE by `max(mj)` per (group, j) — the idempotent,
    * lossless merge the register representation exists for. State is the
    * store itself (≤ groups × 2^b rows), NOT streaming state: no
    * watermark needed, the merge is associative and commutative, and a
    * replayed batch can only re-assert maxima it already set, so the
    * store is exactly-once-correct under at-least-once foreachBatch
    * (contrast a count store, where replays double-count).
    * [[graft.x.Sketches.hllEstimateFromRegisters]] over
    * `VersionedParquet.read(storeDir)` gives the running estimate at any
    * time, equal to the batch sketch of everything ingested so far.
    * Store layout and crash safety: [[startMergedSketchStore]]. */
  def startHllRegisterStore(stream: DataFrame, groupCols: Seq[String],
      valueCol: String, storeDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startMergedSketchStore(stream, storeDir, checkpoint, trigger)(
      batch => graft.x.Sketches.hllRegisters(batch, groupCols, valueCol))(
      (cur, incoming) => cur.unionByName(incoming)
        .groupBy((groupCols :+ "__j").map(col): _*)
        .agg(max(col("__mj")).as("__mj")))

  /** The bitmap sibling of [[startHllRegisterStore]] — EXACT streaming
    * distinct over non-negative integer ids: each batch's
    * [[graft.x.Sketches.bitmapWords]] rows `bit_or`-merge into the store
    * (idempotent, so batch replay after a crash is a no-op). Read back
    * with `VersionedParquet.read(storeDir)` +
    * [[graft.x.Sketches.bitmapDistinct]] / `bitmapIntersect` for exact
    * audience counts and overlaps without rescanning history. */
  def startBitmapStore(stream: DataFrame, groupCols: Seq[String],
      idCol: String, storeDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startMergedSketchStore(stream, storeDir, checkpoint, trigger)(
      batch => graft.x.Sketches.bitmapWords(batch, groupCols, idCol))(
      (cur, incoming) =>
        graft.x.Sketches.bitmapMerge(cur.unionByName(incoming), groupCols))

  /** Persist-and-merge loop shared by the sketch stores: `build` turns a
    * batch into mergeable sketch rows, `merge` folds them into the latest
    * version of the [[VersionedParquet]] table at `storeDir` (it must be
    * idempotent under batch replay — max for HLL registers, bit_or for
    * bitmaps), and the merged rows commit as a new overwrite version. A
    * crash before the manifest publish leaves only an unreferenced data
    * dir, which readers never see and `vacuum` reclaims; a replay re-merges
    * rows the store already holds, so no replay watermark is needed.
    * Each batch vacuums down to its own version and the one before. A
    * non-empty directory that is not a versioned table (a store an older
    * build wrote) is refused when the query starts. Like every
    * [[VersionedParquet]] table, the store lives on a local or locally
    * mounted file system. */
  private def startMergedSketchStore(stream: DataFrame, storeDir: String,
      checkpoint: String, trigger: Trigger)(build: DataFrame => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): StreamingQuery = {
    VersionedParquet.requireVersioned(storeDir, "sketch store")
    start(stream, checkpoint, trigger) { (batch: DataFrame, _: Long) =>
      val incoming = build(batch)
      val merged =
        if (VersionedParquet.versions(storeDir).isEmpty) incoming
        else merge(VersionedParquet.read(batch.sparkSession, storeDir), incoming)
      VersionedParquet.write(merged, storeDir, "overwrite")
      VersionedParquet.vacuum(storeDir, keepVersions = 2)
      ()
    }
  }

  /** One micro-batch of the streaming near-dedup (the foreachBatch body
    * of [[startIncrementalNearDup]], exposed so the crash-replay spec can
    * re-invoke a batch directly). `streamBatch` is the (micro-batch id,
    * [[SinkWriter.streamIdentity]]) pair, as in [[SinkWriter.write]].
    * Exactly-once EFFECT on an at-least-once channel, without a second
    * marker system — the band store's own versioned commit IS the marker:
    *
    *  1. replay detection: each store append carries the stream replay
    *     watermark ([[VersionedParquet.batchMeta]]), the same
    *     identity-qualified one partitioned SCD2 uses, and a batch that
    *     [[VersionedParquet.batchCommitted]] reports committed is skipped
    *     WHOLE — one backward manifest scan, no Spark job, and including
    *     its `persistAdmitted`, because a later batch of the same stream
    *     only runs after the earlier one finished. A restart on a fresh
    *     checkpoint is a new identity whose batches all run. VACUUM
    *     SAFETY: [[VersionedParquet.vacuum]] always keeps the newest
    *     version and every tagged commit re-carries the watermark, so
    *     vacuum can never reopen crash window (b) below.
    *  2. ordering inside [[graft.x.Dedup.incrementalNearDup]]:
    *     `persistAdmitted` runs BEFORE the store commit, and the admitted
    *     output goes to a batch-scoped directory
    *     (`admittedDir/batch=<identity>_<bid>`, overwrite; the identity
    *     keeps a fresh checkpoint's batch 0 off the first lineage's).
    *     Crash windows: (a) after persist, before commit — replay
    *     recomputes against the UNCHANGED store, reproduces the identical
    *     admitted set (the decision is deterministic in (store, batch)),
    *     overwrites the same directory, then commits; (b) after commit —
    *     replay sees the watermark and touches nothing. Without it, window
    *     (b) would be fatal: the replayed batch now HITS the store on its
    *     own buckets, admits nothing, and an unconditional overwrite would
    *     clobber the committed output with an empty directory.
    *
    * A batch whose admitted set is EMPTY commits no store version (there
    * is nothing to append), so its replay recomputes — and deterministically
    * admits nothing again; idempotent without a marker. A store whose
    * newest tagged commit carries another protocol's tags is refused
    * before any write.
    *
    * SINGLE WRITER (PLANS.md "Store concurrency contracts"): the
    * admit/reject decision is deterministic in (store state, batch) —
    * two concurrent admitters would each decide against a store missing
    * the other's bands. foreachBatch sequencing is the serialization;
    * never point two ingest streams at one store path. */
  def incrementalNearDupBatch(batch: DataFrame, streamBatch: (Long, String),
      textCol: String, idCol: String, storePath: String, admittedDir: String,
      n: Int = 3, k: Int = 32, bands: Int = 8,
      compactAtFiles: Int = 64, compactTarget: Int = 4): Unit =
    if (!VersionedParquet.batchCommitted(storePath, streamBatch)) {
      val (bid, identity) = streamBatch
      graft.x.Dedup.incrementalNearDup(batch, textCol, idCol, storePath,
        n = n, k = k, bands = bands,
        persistAdmitted = adm => adm.write.mode("overwrite")
          .parquet(s"$admittedDir/batch=${identity}_$bid"),
        compactAtFiles = compactAtFiles, compactTarget = compactTarget,
        storeMeta = VersionedParquet.batchMeta(storePath, Some(streamBatch)))
      ()
    }

  /** Streaming twin of [[graft.x.Dedup.incrementalNearDup]]: each
    * micro-batch admits only documents that are near-duplicates of
    * neither the retained corpus (the persistent band store) nor a
    * smaller-id batch sibling, appends the admitted documents' band
    * buckets to the store, and lands the admitted rows under
    * `admittedDir/batch=<identity>_<bid>`. Store compaction rides the
    * batch path's own `compactAtFiles` cadence — the standing maintenance
    * a continuously-ingesting dedup store needs. Read the running corpus
    * as `spark.read.parquet(s"$admittedDir/batch=*")` or each batch
    * directory individually. Exactly-once contract and crash windows:
    * [[incrementalNearDupBatch]]. */
  def startIncrementalNearDup(docs: DataFrame, textCol: String, idCol: String,
      storePath: String, admittedDir: String, checkpoint: String,
      n: Int = 3, k: Int = 32, bands: Int = 8,
      compactAtFiles: Int = 64, compactTarget: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val identity = SinkWriter.streamIdentity(checkpoint)
    start(docs, checkpoint, trigger) { (batch: DataFrame, bid: Long) =>
      incrementalNearDupBatch(batch, bid -> identity, textCol, idCol, storePath,
        admittedDir, n, k, bands, compactAtFiles, compactTarget)
    }
  }

  /** One micro-batch of the streaming IVF-layout ingest (the foreachBatch
    * body of [[startIvfIngest]], exposed so the replay/crash spec can
    * re-invoke a batch id directly). Exactly-once EFFECT on an
    * at-least-once channel, for a plain hive-partitioned layout that has
    * no version log to hang a commit tag on:
    *
    *  1. replay detection: `<layout>/_ingest_hwm` holds the largest
    *     committed batch id (one tiny file read per batch; the
    *     underscore prefix hides it from parquet readers and partition
    *     discovery). Micro-batch ids from a checkpointed stream are
    *     strictly increasing and foreachBatch runs batches sequentially,
    *     so `bid <= hwm` means this batch's files are ALL published —
    *     skip whole. COROLLARY: the store is bound to ONE checkpoint
    *     lineage for its life — a fresh checkpoint restarts bids at 0,
    *     so pointing one at an existing store is safe only as a full
    *     replay of the exact same input set; rerunning with a fresh
    *     checkpoint after NEW files arrived re-batches them into
    *     already-committed bids and silently skips them (which is why
    *     the config surface requires an explicit durable tempPath).
    *  2. deterministic redo: assignment to the (fixed) coarse centroids
    *     is per-row deterministic, and every published file is named
    *     `ingest-<bid>-<i>.parquet`, so a crashed attempt of a bid ABOVE
    *     the watermark is erased exactly — delete `ingest-<bid>-*`
    *     across cell directories (driver metadata work, the same class
    *     as compaction planning), then re-stage and re-publish. File
    *     SPLITS may differ between attempts; the delete-by-name pass is
    *     what makes that irrelevant.
    *  3. publish order: the batch writes to a dot-prefixed staging dir
    *     (invisible to readers), each staged part is RENAMED into its
    *     cell directory (per-file atomic on HDFS/local; an object store
    *     without atomic rename should point `layoutPath` at a
    *     rename-capable store or front it with a versioned manifest),
    *     and the hwm advances only after every rename — a crash anywhere
    *     before that leaves bid above the watermark and replays through
    *     step 2.
    *  4. maintenance: every `compactEvery` batches, AFTER the hwm
    *     commit, [[graft.sinks.Compaction.compactPartitioned]] folds the
    *     accumulated batch-sized files back to `targetBytes` bins —
    *     strictly within cell directories, so probes stay
    *     partition-pruned and byte-identical (the x46/x143 invariant).
    *     Running after the commit means a crash mid-compaction never
    *     re-runs THIS batch's ingest; the compaction itself converges by
    *     re-running on the next cadence hit ([[graft.sinks.Compaction]]'s
    *     crash contract, including its documented old+new duplicate
    *     window — callers needing stricter isolation put the layout
    *     behind a versioned manifest).
    *  5. writer exclusivity (PLANS.md "Store concurrency contracts"):
    *     publishes are refused while a
    *     [[graft.x.Similarity.rebuildIvfLayout]] is staged
    *     (`<layout>.rebuilt` exists) — the refused micro-batch fails its
    *     query, stays above the watermark, and replays into the rebuilt
    *     store. The marker is checked after the replay-skip (so a
    *     crashed rebuild never wedges committed replays — the
    *     maintenance loop's replayed cadence re-runs and converges it),
    *     before the publish renames, and again with a published-part
    *     existence probe immediately before the watermark commit (a
    *     swap landing mid-batch makes the commit abort and the batch
    *     replay). A publish whose COMMIT lands in the one remaining
    *     window (between that final probe and the hwm rename, with the
    *     swap in between) is lost silently if the rebuild's own
    *     pre-swap watermark re-read also missed it — a
    *     milliseconds-scale double race; deployments that cannot accept
    *     even that front the layout with a versioned manifest
    *     ([[graft.sources.VersionedParquet]]), where ingest and rebuild
    *     serialize on one commit log. The drift-policy loop
    *     ([[ivfMaintainBatch]]) has NO window at all: ingest and
    *     rebuild run in one sequential foreachBatch body. */
  def ivfIngestBatch(batch: DataFrame, bid: Long, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String,
      layoutPath: String, targetBytes: Long = 8L << 20,
      compactEvery: Int = 8): Unit = {
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(layoutPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer-exclusivity guard (PLANS.md "Store concurrency contracts"):
    // while a rebuild is staged (`<layout>.rebuilt` exists), a publish
    // would land rows into the soon-retired store — rows the rebuild's
    // corpus read never saw. Refuse LOUDLY: the failed micro-batch stays
    // above the watermark and replays after the swap into the fresh
    // geometry. Checked AFTER the replay-skip below (a committed batch
    // publishes nothing, so skipping it is always safe — and must stay
    // possible, or a rebuild that crashed post-staging would wedge the
    // self-maintaining stream forever: the replayed cadence batch has to
    // reach ivfMaintainBatch's rebuild leg, which overwrites the staged
    // dir and converges), then again immediately before the first
    // publish rename.
    val rebuiltMarker = new org.apache.hadoop.fs.Path(layoutPath + ".rebuilt")
    def requireNoRebuild(): Unit = require(!fs.exists(rebuiltMarker),
      s"ivfIngestBatch(bid=$bid): a rebuild of $layoutPath is staged " +
        s"($rebuiltMarker exists) — refusing to publish; this batch " +
        "replays after the rebuild completes (a CRASHED rebuild must be " +
        "re-run to converge, or its stale staging dir deleted)")
    val hwmPath = new org.apache.hadoop.fs.Path(root, "_ingest_hwm")
    // COMPLETE read (Fs.readSmallFile loops to EOF): a partial
    // InputStream.read could return a prefix of the watermark, and a
    // truncated value parses LOWER — re-admitting committed batches
    val prevHwm: Long = if (fs.exists(hwmPath)) {
      val s = new String(graft.util.Fs.readSmallFile(fs, hwmPath), "UTF-8").trim
      if (s.isEmpty) -1L else s.toLong
    } else -1L
    if (bid <= prevHwm) return
    requireNoRebuild()
    // stage: deterministic assignment, partitioned by cell, invisible to
    // readers (dot prefix) — same directory shape the layout itself uses
    val staging = new org.apache.hadoop.fs.Path(root, s".ingest-staging-$bid")
    graft.x.Similarity
      .assignToCentroids(batch, centroids, idCol, centroidIdCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
    // erase a crashed earlier attempt of THIS bid (scaladoc step 2)
    if (fs.exists(root)) fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .foreach { d =>
        fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.startsWith(s"ingest-$bid-"))
          .foreach(f => fs.delete(f.getPath, false))
      }
    // publish: rename each staged part under its bid-deterministic name
    // (re-check the rebuild marker NOW — the staging write above takes
    // seconds, plenty of time for a rebuild to start)
    requireNoRebuild()
    var firstPublished: Option[org.apache.hadoop.fs.Path] = None
    fs.listStatus(staging).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .foreach { cellDir =>
        val target = new org.apache.hadoop.fs.Path(root, cellDir.getPath.getName)
        fs.mkdirs(target)
        fs.listStatus(cellDir.getPath).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .zipWithIndex.foreach { case (p, i) =>
            val dst = new org.apache.hadoop.fs.Path(target,
              s"ingest-$bid-$i.parquet")
            // rename reports failure as FALSE, not an exception — an
            // unchecked failure here would delete the staged rows below
            // and still advance the watermark, losing the batch forever
            require(fs.rename(p, dst), s"publish: rename $p -> $dst failed")
            if (firstPublished.isEmpty) firstPublished = Some(dst)
          }
      }
    fs.delete(staging, true)
    // commit guard: if a rebuild's swap landed between our publish and
    // this commit, our parts died with the retired store — advancing the
    // watermark NOW would write it into the REBUILT store, marking the
    // batch committed and suppressing the replay that would recover it
    // (silent loss). Verify no rebuild is staged and that the store still
    // holds our first part; abort loudly otherwise so the batch replays
    // into the new store. (A swap landing between this check and the
    // rename below remains a theoretical window — see the scaladoc's
    // residual-window note and the versioned-manifest escape hatch.)
    requireNoRebuild()
    firstPublished.foreach { p => require(fs.exists(p),
      s"commit: published part $p vanished — a rebuild swapped the store " +
        s"mid-batch; aborting so bid=$bid replays into the new store") }
    // commit: advance the watermark (write-temp-then-rename; the brief
    // absent-hwm window a crash here opens is closed by step 2's redo)
    val tmp = new org.apache.hadoop.fs.Path(root, s"._ingest_hwm.tmp")
    val out = fs.create(tmp, true)
    try out.write(bid.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(hwmPath)) fs.delete(hwmPath, false)
    require(fs.rename(tmp, hwmPath), s"commit: rename $tmp -> $hwmPath failed")
    // maintenance cadence, strictly after the commit (scaladoc step 4)
    if (compactEvery > 0 && bid % compactEvery == (compactEvery - 1).toLong) {
      graft.sinks.Compaction.compactPartitioned(spark, layoutPath, targetBytes)
      ()
    }
  }

  /** Streaming twin of [[graft.x.Similarity.appendToIvfLayout]] +
    * [[graft.sinks.Compaction.compactPartitioned]]: each micro-batch of
    * embeddings is assigned to the EXISTING coarse centroids and
    * published into the cell-partitioned layout, and every
    * `compactEvery` batches the accumulated batch-sized files are folded
    * back to `targetBytes` bins — the standing ingest+maintenance loop
    * of a live 100 TB vector store, where file counts otherwise grow
    * linearly with batches while probe pruning opens every one of them.
    * Probes ([[graft.x.Similarity.ivfTopKFromLayout]]) stay
    * byte-identical to a full rebuild over the union throughout
    * (assignment is per-row deterministic and compaction never crosses a
    * cell directory). Exactly-once contract and crash windows:
    * [[ivfIngestBatch]]. Centroid drift is the monitor's job, not the
    * ingest's — watch it with [[graft.x.Similarity.ivfRecallDrift]] and
    * rebuild when the recall gap prices a rewrite. */
  def startIvfIngest(embeddings: DataFrame, centroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String,
      layoutPath: String, checkpoint: String,
      targetBytes: Long = 8L << 20, compactEvery: Int = 8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    start(embeddings, checkpoint, trigger) { (batch: DataFrame, bid: Long) =>
      ivfIngestBatch(batch, bid, centroids, idCol, centroidIdCol, vecCol,
        layoutPath, targetBytes, compactEvery)
    }

  /** One micro-batch of the SELF-MAINTAINING IVF store: the drift-policy
    * composition of the whole r11 ops loop — ingest
    * ([[ivfIngestBatch]]) → monitor
    * ([[graft.x.Similarity.ivfRecallDrift]], the x226 surface) → rebuild
    * ([[graft.x.Similarity.rebuildIvfLayout]]) — as ONE foreachBatch
    * body, exposed for direct spec/probe invocation like its siblings.
    *
    *  - Geometry is STORE-OWNED: the current centroids live in the
    *    hidden `<layout>/_centroids` dir (seeded from `seedCentroids` on
    *    first contact, re-written atomically with the data by every
    *    rebuild's swap), so a restarted stream assigns with the geometry
    *    the layout was actually built on — a caller-held frame would go
    *    stale at the first triggered rebuild and quietly mis-cell every
    *    row after it.
    *  - Cadence: every `driftEvery` batches (after the ingest commit),
    *    the refreshed geometry `refresh(corpus, current)` (default:
    *    [[graft.x.Similarity.refreshedCentroids]], one exact Lloyd step)
    *    is priced by the drift monitor over `driftQueries`: recall@k of
    *    the store's stale geometry vs the refreshed one, both measured
    *    against exact top-k in bit-deterministic [[graft.x.Similarity.int8Codes]]
    *    space (the corpus scans three times, shuffles never).
    *  - Trigger: `mean(drift) > driftThreshold` fires the rebuild —
    *    running INSIDE the same sequential foreachBatch, so the
    *    single-writer contract the rebuild requires holds by
    *    construction (PLANS.md "Store concurrency contracts").
    *  - Crash behavior: each leg keeps its own contract. A replayed
    *    committed batch skips the ingest (watermark) but re-evaluates
    *    the cadence — drift, refresh, and rebuild are deterministic
    *    functions of the (unchanged) store, so the re-run converges to
    *    the same store instead of corrupting it.
    *
    * Returns Some((meanDrift, rebuilt)) when the cadence fired (the
    * observability record the trace probe and specs consume), None
    * otherwise. Scale shape: the policy adds ONE corpus re-scan per
    * cadence hit (amortized over `driftEvery` batches) and the k-row
    * centroid/drift frames — the ingest path itself is untouched. */
  def ivfMaintainBatch(batch: DataFrame, bid: Long, seedCentroids: DataFrame,
      idCol: String, centroidIdCol: String, vecCol: String,
      layoutPath: String, driftQueries: DataFrame, qIdCol: String,
      k: Int = 10, nprobe: Int = 3,
      driftEvery: Int = 8, driftThreshold: Double = 0.05,
      refresh: (DataFrame, DataFrame) => DataFrame = null,
      targetBytes: Long = 8L << 20, compactEvery: Int = 8
  ): Option[(Double, Boolean)] = {
    val spark = batch.sparkSession
    val S = graft.x.Similarity
    val current = S.readCentroids(spark, layoutPath).getOrElse {
      // first contact: make the store self-describing. Deterministic and
      // idempotent — a crash between this write and the first commit just
      // re-writes the same seed on replay.
      S.writeCentroidsInto(seedCentroids, layoutPath)
      seedCentroids
    }
    ivfIngestBatch(batch, bid, current, idCol, centroidIdCol, vecCol,
      layoutPath, targetBytes, compactEvery)
    if (driftEvery <= 0 || bid % driftEvery != (driftEvery - 1).toLong) None
    else {
      // a store whose every batch so far was EMPTY has watermarks and
      // geometry but no cell= data dirs — schema inference over only
      // hidden files would throw; the honest cadence answer is drift 0
      val fs2 = new org.apache.hadoop.fs.Path(layoutPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasData = fs2.listStatus(new org.apache.hadoop.fs.Path(layoutPath))
        .exists(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      if (!hasData) return Some((0.0, false))
      val corpus = spark.read.parquet(layoutPath).drop("cell")
      val doRefresh = Option(refresh).getOrElse(
        (c: DataFrame, cent: DataFrame) =>
          S.refreshedCentroids(c, cent, idCol, centroidIdCol, vecCol))
      // every localCheckpoint this cadence creates (the staged `fresh`
      // plus ivfRecallDrift's staged exact top-k) is freed before the
      // batch returns — clearCache does NOT free checkpoint blocks and
      // ContextCleaner only gets them on a driver GC, so a long-running
      // stream would otherwise grow its persisted-RDD set one cadence at
      // a time (the exact accumulation Bench unpersists per query)
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      try {
        // staged: consumed by the drift probe AND (on trigger) the rebuild
        val fresh = graft.util.Staging.LocalCheckpoint.stage(
          doRefresh(corpus, current), "ivf-fresh-centroids")
        def codes(df: DataFrame, id: String) =
          df.select(col(id), S.int8Codes(col(vecCol)).as("__c8"))
        val drift = S.ivfRecallDrift(
          codes(corpus, idCol), codes(driftQueries, qIdCol),
          codes(current, centroidIdCol), codes(fresh, centroidIdCol),
          idCol, qIdCol, centroidIdCol, "__c8", k, nprobe)
          .agg(avg(col("drift"))).head()
        val meanDrift = if (drift.isNullAt(0)) 0.0 else drift.getDouble(0)
        val rebuilt = meanDrift > driftThreshold
        // the rebuild persists `fresh` into the staged store's _centroids,
        // so the geometry swap is atomic with the data swap — the next
        // batch's readCentroids sees old+old or new+new, never a mix
        if (rebuilt) S.rebuildIvfLayout(spark, layoutPath, fresh,
          idCol, centroidIdCol, vecCol)
        Some((meanDrift, rebuilt))
      } finally {
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => persistedBefore.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
      }
    }
  }
}
