package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.SinkSpec
import graft.operators.Scd2
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Phase-3 load strategies and writers (reference:
  * /root/reference/spark.json:68-107). Covers W1 simpleInsert /
  * W2 truncateInsert / W3 scdType2Insert load types (spark.json:73), the
  * file-format surface (spark.json:92), compression (spark.json:93),
  * single-file output with name prefix (spark.json:77-78, W6), partitioned
  * output, JDBC sinks (spark.json:71,74), multi-sink fan-out (the sink
  * section is an array, spark.json:69-96, W10), and the error-record sink
  * (spark.json:97-101, W8).
  *
  * Scale notes: fan-out (`Orchestrator`'s sink phase) persists the source
  * frame once and reuses it per sink; singleFile is an explicit opt-in
  * (coalesce(1) is a deliberate bottleneck the reference exposes for small
  * handoff files, not a default);
  * everything else writes with full parallelism and inherits
  * maxRecordsPerFile / partitionBy sizing from conf (spark.json:4-5).
  */
object SinkWriter {

  /** Write `df` through the sink's load strategy. `streamBatch` is the
    * (micro-batch id, [[streamIdentity]]) pair of a foreachBatch body: an
    * scdType2Insert into a bucketed dimension carries it into
    * [[scd2InsertPartitioned]]'s replay guard, every other load ignores
    * it. Callers outside a stream pass neither value. */
  def write(spark: SparkSession, df: DataFrame, sink: SinkSpec,
      streamBatch: Option[(Long, String)] = None): Unit =
    writeLaid(spark, applyZOrder(df, sink), sink, streamBatch)

  /** Stable identity of one streaming write lineage: the hash of its
    * checkpoint location STRING. Same checkpoint dir = same identity =
    * batch ids continue monotonically (replays of committed batches are
    * skipped); a FRESH checkpoint = a new identity whose watermark is −1,
    * so its restarted batch numbering merges everything. Callers that
    * thread batch ids by hand must pass the SAME string they derive
    * identity from on every run. */
  def streamIdentity(checkpointLocation: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpointLocation.getBytes("UTF-8"))
    d.take(6).map(b => f"$b%02x").mkString
  }

  // W11+ z-order layout pass: one range shuffle + in-partition sort on
  // the interleaved key, applied before any load strategy so every file
  // the writer emits covers a tight (x, y) box (the helper column is
  // dropped; projection preserves the in-partition order)
  private def applyZOrder(df: DataFrame, sink: SinkSpec): DataFrame =
    if (sink.zorderBy.isEmpty) df
    else {
      require(sink.zorderBy.size == 2,
        s"zorderBy takes exactly two integer cell columns, got ${sink.zorderBy}")
      graft.x.Layout.zOrder(df,
        org.apache.spark.sql.functions.col(sink.zorderBy.head),
        org.apache.spark.sql.functions.col(sink.zorderBy(1)),
        zCol = "__graft_z",
        numPartitions = sink.options.get("zorderPartitions").map(_.toInt).getOrElse(0))
        .drop("__graft_z")
    }

  private def writeLaid(spark: SparkSession, df: DataFrame, sink: SinkSpec,
      streamBatch: Option[(Long, String)]): Unit = {
    sink.loadType.toLowerCase match {
      case "simpleinsert"   => writeFile(df, sink, SaveMode.valueOf(camel(sink.savemode)))
      case "truncateinsert" => writeFile(df, sink, SaveMode.Overwrite)
      case "scdtype2insert" => scd2Insert(spark, df, sink, streamBatch)
      // maintained aggregate table: fold this batch into the versioned
      // state at `path` (keys/sums from options aggKeys/aggSumCols) —
      // the load strategy form of graft.operators.IncrementalAgg, reused
      // verbatim by streaming foreachBatch
      case "incrementalagginsert" =>
        val keys = sink.options.getOrElse("aggKeys",
          sys.error("incrementalAggInsert needs options.aggKeys")).split(",").map(_.trim).toSeq
        val sums = sink.options.get("aggSumCols").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        graft.operators.IncrementalAgg.applyBatch(spark, df,
          sink.path.getOrElse(sys.error(s"sink ${sink.dataFrameName} needs path")),
          keys, sums)
      // MERGE-style upsert into the versioned table: batch rows replace
      // same-key current rows, new keys insert (keys from scdKeys)
      case "upsertinsert" =>
        graft.operators.Upsert.upsert(spark, df,
          sink.path.getOrElse(sys.error(s"sink ${sink.dataFrameName} needs path")),
          sink.scdKeys)
      case "ivfmaintainedingest" => // a streaming job writes it through [[ivfIngest]]
        sys.error(s"sink ${sink.dataFrameName}: ivfMaintainedIngest runs only in streaming mode")
      case other            => sys.error(s"unknown loadType '$other'")
    }
    // W9 sftp sink (spark.json:83-87): push the written output to the
    // remote dir through the RemoteFs transport seam
    for (rd <- sink.options.get("remoteDirPath"); p <- sink.path)
      graft.sources.SourceReader.remoteFs.upload(p, rd)
  }

  // loud on unknown values: a typo'd savemode silently defaulting to Append
  // is the config bug class the dispatch surfaces reject everywhere else
  // (a truncate intent running as append duplicates the target forever)
  private def camel(m: String): String = m.toLowerCase match {
    case "append"        => "Append"
    case "overwrite"     => "Overwrite"
    case "ignore"        => "Ignore"
    case "errorifexists" => "ErrorIfExists"
    case other           =>
      sys.error(s"unknown savemode '$other' (append|overwrite|ignore|errorIfExists)")
  }

  private def writeFile(df: DataFrame, sink: SinkSpec, mode: SaveMode): Unit = {
    if (sink.format == "jdbc") {
      val w = df.write.mode(mode).format("jdbc")
        .option("url", sink.jdbcUrl.getOrElse(""))
        .option("dbtable", sink.tableName.getOrElse(""))
        .options(sink.options)
      // truncateInsert on JDBC: TRUNCATE instead of DROP (W2)
      val w2 = if (mode == SaveMode.Overwrite) w.option("truncate", "true") else w
      w2.save()
      return
    }
    val path = sink.path.getOrElse(sys.error(s"sink ${sink.dataFrameName} needs path"))
    if (sink.format == "deltalake" || sink.format == "delta") {
      // W4 delta sink. Default: versioned-parquet substitute (SURVEY.md
      // §7.4 — the engine's own table layer with CDF/compact/vacuum).
      // option log=delta writes a REAL Delta transaction log instead
      // (DeltaLogWriter), for tables a foreign Delta reader must open;
      // SourceReader auto-detects `_delta_log` and reads either back.
      val m = if (mode == SaveMode.Overwrite) "overwrite" else "append"
      if (sink.options.get("log").contains("delta"))
        graft.sources.DeltaLogWriter.write(df, path, m)
      else
        graft.sources.VersionedParquet.write(df, path, m)
      return
    }
    if (sink.format == "excel" || sink.format == "xlsx") {
      // W4 excel sink (spark.json:92) — small-handoff single file, like W6
      val prefix = sink.outputFileNamePrefix.getOrElse(sink.dataFrameName)
      ExcelSink.write(df, path,
        header = sink.options.get("header").forall(_.toBoolean),
        fileName = s"$prefix.xlsx")
      return
    }
    if (sink.singleFile) { writeSingleFile(df, sink, path); return }
    var w = df.write.mode(mode).format(sink.format).options(sink.options)
    sink.compression.foreach(c => w = w.option("compression", c))
    if (sink.partitionBy.nonEmpty) w = w.partitionBy(sink.partitionBy: _*)
    if (sink.bucketBy.nonEmpty) {
      // Bucketed catalog table: both sides of a future equi-join written
      // with the same bucketing join with ZERO shuffle (SURVEY.md §4). Needs
      // a table identity — use tableName (path rides along as table location).
      val table = sink.tableName.getOrElse(sink.dataFrameName)
      w = w.option("path", path).bucketBy(sink.numBuckets, sink.bucketBy.head, sink.bucketBy.tail: _*)
      if (sink.sortBy.nonEmpty) w = w.sortBy(sink.sortBy.head, sink.sortBy.tail: _*)
      w.saveAsTable(table)
      return
    }
    w.save(path)
  }

  /** W6 single-file output + deterministic name (spark.json:77-78,89):
    * stage via coalesce(1) to a temp dir, then driver-side rename of the
    * part file to `{prefix}_{ts}.{ext}` in the target dir.
    *
    * Single-writer per target path (the duplicateRunCheck guard's job);
    * the stale-staging GC additionally age-gates on mtime so that even
    * two writers racing the same path (overlapping schedules with the
    * guard disabled) can't delete each other's in-flight staging dir —
    * only dirs a crashed run abandoned ≥ 1 h ago are collected. */
  def writeSingleFile(df: DataFrame, sink: SinkSpec, path: String): Unit = {
    // GC staging dirs a crashed earlier run left behind (their names are
    // unique per run, so they would otherwise accumulate forever)
    val target = Paths.get(path.stripSuffix("/"))
    val stalePrefix = target.getFileName.toString + "_staging_"
    val staleBefore = System.currentTimeMillis() - 60L * 60 * 1000
    Option(target.toAbsolutePath.getParent).filter(Files.exists(_)).foreach(parent =>
      graft.util.Fs.list(parent)
        .filter(_.getFileName.toString.startsWith(stalePrefix))
        .filter(p => scala.util.Try(
          Files.getLastModifiedTime(p).toMillis < staleBefore).getOrElse(false))
        .foreach(deleteRecursively))
    val staging = path.stripSuffix("/") + "_staging_" + System.nanoTime()
    var w = df.coalesce(1).write.mode(SaveMode.Overwrite).format(sink.format).options(sink.options)
    sink.compression.foreach(c => w = w.option("compression", c))
    w.save(staging)
    val part = graft.util.Fs.list(Paths.get(staging)).map(_.toString)
      .find(p => p.contains("part-") && !p.endsWith(".crc"))
      .getOrElse(sys.error(s"no part file produced under $staging"))
    val ext = sink.format match {
      case "csv" => "csv"; case "json" => "json"; case "text" => "txt"
      case f => f
    }
    val prefix = sink.outputFileNamePrefix.getOrElse(sink.dataFrameName)
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
      .format(java.time.LocalDateTime.now())
    Files.createDirectories(Paths.get(path))
    Files.move(Paths.get(part), Paths.get(path, s"${prefix}_$ts.$ext"),
      StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(Paths.get(staging))
  }

  /** W3: read current dimension (if any) from the sink path, merge the
    * staged frame via [[Scd2.merge]], rewrite. First batch initializes.
    * With option `scdBuckets=N`, dispatches to the partition-scoped variant. */
  def scd2Insert(spark: SparkSession, staged: DataFrame, sink: SinkSpec,
      streamBatch: Option[(Long, String)] = None): Unit = {
    sink.options.get("scdBuckets") match {
      case Some(n) =>
        scd2InsertPartitioned(spark, staged, sink, n.toInt, streamBatch = streamBatch)
        return
      case None    =>
    }
    val path = sink.path.getOrElse(sys.error("scd2 sink needs path"))
    recoverScd2Swap(path)
    val batchTs = java.sql.Timestamp.from(java.time.Instant.now())
    val merged =
      if (graft.util.Fs.nonEmptyDir(Paths.get(path))) {
        // re-read WITH the sink's options (the reconcile path's rule): a
        // csv dimension read without `header` would merge its header row
        // as data
        val dim = spark.read.format(sink.format).options(sink.options).load(path)
        Scd2.merge(dim, staged, sink.scdKeys, sink.scdTrackedCols, batchTs)
      } else Scd2.initialize(staged, batchTs)
    // Rewrite via staging dir then swap — the source of the read and the
    // target of the write are the same path, so a direct overwrite would
    // truncate its own input mid-plan. Swap order (ADVICE r1): move the old
    // dim ASIDE (not delete-first), move staging in, then drop the old copy
    // — a crash at any point leaves either the old or the new dimension on
    // disk, and recoverScd2Swap on the next run completes the interrupted
    // step instead of starting from an empty table.
    val staging = path.stripSuffix("/") + "_scd2_staging"
    val old = path.stripSuffix("/") + "_scd2_old"
    merged.write.mode(SaveMode.Overwrite).format(sink.format).save(staging)
    deleteRecursively(Paths.get(old)) // stale leftover from an earlier crash
    if (Files.exists(Paths.get(path))) Files.move(Paths.get(path), Paths.get(old))
    Files.move(Paths.get(staging), Paths.get(path))
    deleteRecursively(Paths.get(old))
  }

  /** Startup recovery for an interrupted scd2Insert swap: if the dimension
    * path is missing but the staging (complete merged frame — writes finish
    * before the swap begins) or the moved-aside copy survives, restore it. */
  private def recoverScd2Swap(path: String): Unit = {
    val p = Paths.get(path.stripSuffix("/"))
    val staging = Paths.get(path.stripSuffix("/") + "_scd2_staging")
    val old = Paths.get(path.stripSuffix("/") + "_scd2_old")
    if (!Files.exists(p) && Files.exists(staging) && Files.exists(old)) {
      Files.move(staging, p); deleteRecursively(old)
    } else if (!Files.exists(p) && Files.exists(old)) {
      Files.move(old, p)
    }
  }

  /** W3 at 100 TB (SURVEY.md §4/§7.4): the dimension is a
    * [[graft.sources.VersionedParquet]] table written partitioned by a
    * stable bucket of the business key ([[Scd2.bucketCol]]). A batch
    * (1) computes the buckets its staged keys land in, (2) reads ONLY
    * those buckets at the newest version, (3) merges, and (4) commits the
    * rewritten buckets with ONE manifest rename, carrying every untouched
    * bucket's files forward — at real scale the overwhelming majority are
    * never read or rewritten. A reader (or a crash) never observes some
    * buckets at the new version and others at the old; a crash before
    * the rename leaves only an unreferenced data dir. The write targets a
    * fresh immutable data dir, never the files its lineage reads, so the
    * merge needs no materialization. Read the dimension with
    * `VersionedParquet.read(path)`, not a raw directory scan. A target
    * that is a non-empty directory without `_graft_log` (a raw-layout
    * table from before the versioned store) is refused: initializing a
    * versioned table over it would silently hide its rows from every read.
    *
    * Concurrency: the merge passes the version it READ to
    * `overwritePartitions` as the optimistic base. A concurrent merge that
    * committed an overlapping bucket in between makes this commit abort
    * with the typed `VersionedParquet.ConflictException`, publishing
    * nothing; merges over disjoint buckets interleave freely. Nothing is
    * retried here: `PipelineRunner` retries the step, whose re-run merges
    * at the advanced version, and in a stream the failed micro-batch is
    * replayed from the checkpoint.
    *
    * Streaming replays (`streamBatch` = (foreachBatch id, stream identity
    * from [[streamIdentity]])): each commit carries the stream replay
    * watermark of [[graft.sources.VersionedParquet.batchMeta]], and a
    * batch that [[graft.sources.VersionedParquet.batchCommitted]] reports
    * committed is skipped whole — one manifest-meta read, no Spark job.
    * The watermark is identity-qualified: a restart with a fresh
    * checkpoint (batch ids reset to 0) or a second query writing the
    * same dimension merges everything, and a replay re-merge is
    * content-idempotent anyway. */
  def scd2InsertPartitioned(spark: SparkSession, staged: DataFrame, sink: SinkSpec,
      nBuckets: Int, midCommitHook: () => Unit = () => (),
      streamBatch: Option[(Long, String)] = None): Unit = {
    import graft.sources.VersionedParquet
    val path = sink.path.getOrElse(sys.error("scd2 sink needs path"))
    VersionedParquet.requireVersioned(path, s"scd2 sink ${sink.dataFrameName}")
    // replay guard first: one manifest read, before any Spark job
    if (streamBatch.exists(VersionedParquet.batchCommitted(path, _))) return
    val batchTs = java.sql.Timestamp.from(java.time.Instant.now())
    val stagedB = staged.withColumn("scd_bucket", Scd2.bucketCol(sink.scdKeys, nBuckets))
    if (VersionedParquet.versions(path).isEmpty) {
      // an empty FIRST batch must not commit: a zero-file manifest would
      // make the next merge's readPartitions return an empty-schema frame
      // and fail with an unresolved-column puzzle instead of initializing
      // (ADVICE r13) — mirror the merge branch's empty-batch no-op
      if (staged.isEmpty) return
      VersionedParquet.writePartitioned(Scd2.initialize(stagedB, batchTs), path,
        "scd_bucket", VersionedParquet.batchMeta(path, streamBatch))
    } else {
      val touched = stagedB.select("scd_bucket").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted.map(_.toString)
      if (touched.isEmpty) return // empty batch: nothing to merge, no version
      val base = VersionedParquet.versions(path).max
      val merged = Scd2.merge(
        VersionedParquet.readPartitions(spark, path, touched, Some(base)),
        stagedB, sink.scdKeys, sink.scdTrackedCols, batchTs)
      VersionedParquet.overwritePartitions(merged, path, "scd_bucket",
        touched, Some(base), VersionedParquet.batchMeta(path, streamBatch), midCommitHook)
    }
  }

  /** `loadType: "ivfMaintainedIngest"` — the drift-maintained IVF vector
    * store ([[graft.streaming.StreamingJobs.ivfMaintainBatch]]) as a config
    * sink of a streaming job: returns the ingest of one micro-batch under
    * its id, with the options checked and the seed and probe frames bound
    * once, when the stream starts. `path` is the layout; `options` hold
    * the BATCH parquet paths `centroidsPath` (seed geometry) and
    * `queriesPath` (drift probes), and the Scala defaults' knobs key for
    * key (idCol/centroidIdCol/vecCol/qIdCol, k, nprobe, driftEvery,
    * driftThreshold, targetBytes, compactEvery). Unknown keys and
    * malformed numbers are LOUD config errors: a typo'd knob must not
    * silently run the default. The refresh geometry is the library
    * default (one exact Lloyd step).
    *
    * The job needs an explicit `tempPath`: the store's exactly-once
    * watermark is keyed by MICRO-BATCH ID, which only a durable checkpoint
    * keeps monotone across runs (a fresh one re-batches new files into
    * committed ids, which are then skipped). A store is bound to one
    * checkpoint lineage for its life. */
  private[graft] def ivfIngest(spark: SparkSession, s: SinkSpec): (DataFrame, Long) => Unit = {
    val o = s.options
    val allowed = Set("centroidsPath", "queriesPath", "idCol",
      "centroidIdCol", "vecCol", "qIdCol", "k", "nprobe", "driftEvery",
      "driftThreshold", "targetBytes", "compactEvery")
    val unknown = o.keySet -- allowed
    require(unknown.isEmpty,
      s"ivfMaintainedIngest sink: unknown options ${unknown.toSeq.sorted.mkString(", ")} " +
        s"— allowed: ${allowed.toSeq.sorted.mkString(", ")}")
    def req(k: String) = o.getOrElse(k,
      sys.error(s"ivfMaintainedIngest sink needs options.$k"))
    def num[A](k: String, dflt: A, parse: String => A): A =
      o.get(k).map(v => try parse(v.trim) catch {
        case _: NumberFormatException =>
          sys.error(s"ivfMaintainedIngest sink: options.$k = '$v' is not a number")
      }).getOrElse(dflt)
    val (centroids, queries) =
      (spark.read.parquet(req("centroidsPath")), spark.read.parquet(req("queriesPath")))
    val layout = s.path.getOrElse(
      sys.error("ivfMaintainedIngest sink needs a path (the layout dir)"))
    val (k, nprobe, driftEvery, driftThreshold, targetBytes, compactEvery) =
      (num("k", 10, _.toInt), num("nprobe", 3, _.toInt), num("driftEvery", 8, _.toInt),
        num("driftThreshold", 0.05, _.toDouble), num("targetBytes", 8L << 20, _.toLong),
        num("compactEvery", 8, _.toInt))
    (batch, bid) => {
      graft.streaming.StreamingJobs.ivfMaintainBatch(batch, bid, centroids,
        o.getOrElse("idCol", "vec_id"), o.getOrElse("centroidIdCol", "centroid_id"),
        o.getOrElse("vecCol", "embedding"), layout, queries,
        o.getOrElse("qIdCol", "q_id"), k, nprobe, driftEvery, driftThreshold,
        targetBytes = targetBytes, compactEvery = compactEvery)
      ()
    }
  }

  /** W8 error-record sink (spark.json:97-101): `bad` frames already carry
    * `error_reason`; stamp the job + time and write with the same machinery.
    * `error_ts` is one timestamp per call, taken when the write is planned
    * (as `current_timestamp()` was) but bound outside the generated code,
    * so each error write of a stream reuses the first one's classes. */
  def writeErrors(spark: SparkSession, bad: DataFrame, jobName: String, sink: SinkSpec): Unit = {
    val stamped = bad
      .withColumn("error_job", lit(jobName))
      .withColumn("error_ts", graft.functions.BoundTimestamp(java.time.Instant.now()))
    write(spark, stamped, sink)
  }

  /** W12 archive-input-after-load (spark.json:10-12). */
  def archiveInput(inputPath: String, archivePath: String, deleteSource: Boolean): Unit = {
    val src = Paths.get(inputPath)
    if (!Files.exists(src)) return
    Files.createDirectories(Paths.get(archivePath))
    val dest = Paths.get(archivePath, src.getFileName.toString)
    if (deleteSource) Files.move(src, dest, StandardCopyOption.REPLACE_EXISTING)
    else copyRecursively(src, dest)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.util.Fs.walk(p).sortBy(_.toString)(Ordering[String].reverse)
      .foreach(Files.delete)

  private def copyRecursively(src: java.nio.file.Path, dest: java.nio.file.Path): Unit =
    graft.util.Fs.walk(src).foreach { p =>
      val target = dest.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
      }
    }
}
