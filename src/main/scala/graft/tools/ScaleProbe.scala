package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.x.Dedup

/** Scaling evidence for the near-dedup pipeline: inflate the documents
  * fixture K× (ids shifted so copies count as near-dup pairs) and time
  * MinHash-LSH end-to-end. Linear growth here is the load-bearing claim
  * behind the 100 TB design (PLANS.md). */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.drop(1).headOption.map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(1, 4, 16))
    // SPARK_GRAFT_PROBES=incneardup,ngramrep runs a subset; unset runs all
    val onlyProbes = sys.env.get("SPARK_GRAFT_PROBES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def on(tag: String): Boolean = onlyProbes.forall(_.contains(tag))
    val spark = graft.util.HostMetrics.session()
    spark.sparkContext.setLogLevel("ERROR")
    // executor task-CPU, the steal-immune channel the graph probes report
    val cpu = graft.util.HostMetrics.TaskCpu.on(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // warm the session so factor-1 isn't charged for JVM startup,
    // and the storage cache so fixture reads aren't cold-disk luck
    graft.util.Fs.warmStorage(sfDir)
    docs.count(); spark.range(100000).selectExpr("sum(id)").collect()

    // ANN scaling: cosine near-dup over an inflated embedding corpus.
    // With FIXED planes the in-bucket candidate count grows ~n²/2^planes —
    // the probe shows planes must track log2(n) to hold the per-bucket
    // occupancy (and thus total cost per row) roughly constant.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    if (on("ann")) Seq((1, 8), (4, 8), (16, 8), (64, 8), (64, 12)).foreach { case (k, planes) =>
      val base = (0 until k).map { i =>
        // per-copy deterministic sign-flip pattern: flipping a different
        // subset of dimensions per copy sends cross-copy cosines toward 0
        // (reverse/scale tricks preserve direction and make copies mutual
        // near-dups — measured the hard way)
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L))
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else expr(s"transform(embedding, (x, j) -> " + // murmur mix: a linear-mod-2 pattern collapses to parity classes
              s"float(x * (case when pmod(hash(j, $i), 2) = 0 then 1.0 else -1.0 end)))"))
      }.reduce(_ unionByName _)
      // sentinel exact duplicates: the probe must FIND these ~100 pairs, so
      // a zero-pair run can't silently mean "detection broke"
      val sentinels = emb.filter(col("vec_id") < 100)
        .withColumn("vec_id", col("vec_id") + 90000000L)
      val inflated = base.unionByName(sentinels)
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      // uncapped here on purpose: this probe measures how planes must track
      // log2(n); the skew cap has its own probe below
      val pairs = graft.x.Similarity.cosineNearDupPairs(
        inflated, "vec_id", "embedding", threshold = 0.99, dim = 64, planes = planes,
        maxBucket = Int.MaxValue).count()
      println(f"[scale-ann] vecs=$n%6d planes=$planes%2d  " +
        f"neardup=${(System.nanoTime() - t0) / 1e9}%6.2fs  pairs=$pairs")
      spark.catalog.clearCache()
    }
    // PQ ADC probe: corpus inflates, codebook/queries fixed — corpus-side
    // work per vector is 8 subspace argmins at encode + 8 table lookups at
    // query, so growth should be linear with a flat per-row cost
    if (on("pq")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val cb = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("code"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val t0 = System.nanoTime()
      val rows = graft.x.Similarity.pqTopK(inflated, queries, cb,
        "vec_id", "q_id", "code", "embedding", subspaces = 8, subDim = 8, k = 10).count()
      println(f"[scale-pq] vecs=$n%7d  pq_topk=${(System.nanoTime() - t0) / 1e9}%6.2fs  rows=$rows")
      spark.catalog.clearCache()
    }

    // gram-matrix probe: corpus inflates K× but the post-partial-agg
    // exchange stays ≤ partitions · d(d+1)/2 rows — wall time should grow
    // linearly (scan + per-row outer product) while the shuffle is flat
    if (on("gram")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val codes = inflated.select(
        graft.x.Similarity.int8Codes(col("embedding")).as("c"))
      val t0 = System.nanoTime()
      val cells = graft.x.Similarity.gramMatrix(codes, "c", dim = 64).count()
      println(f"[scale-gram] vecs=$n%7d  gram=${(System.nanoTime() - t0) / 1e9}%6.2fs  cells=$cells")
      spark.catalog.clearCache()
    }

    // bloom decontamination probe: corpus inflates, blocklist fixed — the
    // corpus path is a map-side probe, so this should be scan-bound linear
    if (on("bloom")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", concat(col("text"), lit(" b" + i))))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val bench = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      val t0 = System.nanoTime()
      val kept = graft.x.TextAnalysis.bloomDecontaminate(
        inflated, bench, "text", "doc_id", expectedItems = 1000L).count()
      println(f"[scale-bloom] docs=$n%7d  decontaminate=${(System.nanoTime() - t0) / 1e9}%6.2fs  kept=$kept")
      spark.catalog.clearCache()
    }

    // event-analytics probe: inflate events by cloning users (user_id
    // shifted per copy) — user count grows, per-user history stays fixed,
    // which is exactly how real event logs grow. Funnel/retention shuffle
    // once on user and fold O(per-user) state, so wall time should be
    // scan/shuffle-bound linear; anomaly's post-shuffle state is days ×
    // series regardless of event count.
    if (on("events")) {
      // same schema-adaptive read path as SparkEntry.reg
      val events = graft.sources.SourceReader.readEvents(spark, s"$sfDir/events.parquet")
      Seq(1, 4, 16).foreach { k =>
        val inflated = (0 until k).map(i =>
          events.withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L))
            .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L)))
          .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
        val n = inflated.count()
        var t0 = System.nanoTime()
        val fr = graft.x.EventAnalytics.funnel(inflated, "user_id", "ts", "event_id",
          "event_type", Seq("signup", "view", "click", "purchase")).count()
        val tF = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val rr = graft.x.EventAnalytics.retention(inflated, "user_id", "ts").count()
        val tR = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val ar = graft.x.EventAnalytics.dailyAnomalies(inflated, "ts", "event_type").count()
        val tA = (System.nanoTime() - t0) / 1e9
        println(f"[scale-events] events=$n%8d  funnel=$tF%6.2fs($fr)  " +
          f"retention=$tR%6.2fs($rr)  anomaly=$tA%6.2fs($ar)")
        spark.catalog.clearCache()
      }
    }

    // Skew probe (VERDICT r2): the two exact-pair paths with adversarial
    // fixtures that re-create the quadratic the caps exist to bound.
    // (a) stop-gram-heavy corpus: every document ends with the same words,
    //     so two shingles acquire n-document posting lists — the uncapped
    //     co-shingle join holds 2n² rows for them alone and must grow ~4×
    //     per corpus doubling; the capped join excludes the stop grams and
    //     stays ~linear. Output parity: the capped run still finds every
    //     discriminative-gram pair.
    if (on("skew-pairs")) Seq(1, 2, 4).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", concat(
            regexp_replace(col("text"), "(\\S+)", "$1x" + i),
            lit(" zzcommon yycommon xxcommon wwcommon"))))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      var t0 = System.nanoTime()
      val capped = Dedup.ngramJaccardPairs(inflated, "text", "doc_id",
        n = 3, threshold = 0.5, maxDocFreq = 1000).count()
      val tC = (System.nanoTime() - t0) / 1e9
      val hot = Dedup.hotShingles(inflated, "text", "doc_id", n = 3,
        maxDocFreq = 1000).count()
      val tU = if (k <= 2) { // uncapped at 4× is the blowup itself — skip
        t0 = System.nanoTime()
        Dedup.ngramJaccardPairs(inflated, "text", "doc_id",
          n = 3, threshold = 0.5, maxDocFreq = Int.MaxValue).count()
        (System.nanoTime() - t0) / 1e9
      } else Double.NaN
      println(f"[skew-jaccard] docs=$n%6d  capped=$tC%6.2fs pairs=$capped " +
        f"hot_grams=$hot  uncapped=$tU%6.2fs")
      spark.catalog.clearCache()
    }
    // (b) dominant-block fuzzy dedup: every document in ONE block — the
    //     uncapped join is n²/2 length-filtered banded-levenshtein
    //     candidates; the cap sub-bands the block so cost tracks
    //     n·maxBlock instead. Sizes run to 8k rows (32M uncapped
    //     candidates) because below that the per-pair work hides in task
    //     overhead and the quadratic doesn't separate from noise.
    if (on("skew-edit")) Seq(1, 4, 16).foreach { k =>
      val oneBlock = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _)
        .limit(500 * k).withColumn("blk", lit("all"))
        .repartition(32).localCheckpoint(true)
      val n = oneBlock.count()
      var t0 = System.nanoTime()
      val capped = Dedup.editDistancePairs(oneBlock, "text", "doc_id", "blk",
        maxDist = 2, maxBlock = 250).count()
      val tC = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val uncapped = Dedup.editDistancePairs(oneBlock, "text", "doc_id", "blk",
        maxDist = 2, maxBlock = Int.MaxValue).count()
      val tU = (System.nanoTime() - t0) / 1e9
      println(f"[skew-editdist] docs=$n%5d  capped(250)=$tC%6.2fs pairs=$capped  " +
        f"uncapped=$tU%6.2fs pairs=$uncapped")
      spark.catalog.clearCache()
    }
    // (b2) PassJoin vs the in-block quadratic at a TYPO threshold (d=2):
    //     same one-block worst case; the segment-signature path draws
    //     candidates from (length, segment) equality — growth tracks the
    //     corpus, not its square — while the uncapped self-join pays
    //     n²/2 banded-DP candidates. Both are lossless, so the pair
    //     counts printed MUST match — the probe doubles as an
    //     equivalence check on a corpus 100× the property test's.
    //     Sentinel one-substitution copies guarantee dist-1 pairs exist.
    if (on("passjoin")) Seq(1, 4, 16).foreach { k =>
      val base0 = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).limit(500 * k)
        .localCheckpoint(true)
      // sentinels derive FROM the kept corpus (limit is unordered — an
      // independent docs.limit(100) could pick rows base0 dropped,
      // silently voiding the dist-1 guarantee)
      val sentinels = base0.limit(100)
        .withColumn("doc_id", col("doc_id") + 90000000L)
        .withColumn("text", concat(lit("q"), expr("substring(text, 2)")))
      val oneBlock = base0.unionByName(sentinels)
        .withColumn("blk", lit("all"))
        .repartition(32).localCheckpoint(true)
      val n = oneBlock.count()
      var t0 = System.nanoTime()
      val pj = Dedup.passJoinPairs(oneBlock, "text", "doc_id", "blk",
        maxDist = 2).count()
      val tP = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val ed = Dedup.editDistancePairs(oneBlock, "text", "doc_id", "blk",
        maxDist = 2, maxBlock = Int.MaxValue).count()
      val tE = (System.nanoTime() - t0) / 1e9
      val tag = if (pj == ed) "agree" else "MISMATCH"
      println(f"[scale-passjoin] docs=$n%5d  passjoin=$tP%6.2fs pairs=$pj  " +
        f"quadratic=$tE%6.2fs pairs=$ed  [$tag]")
      spark.catalog.clearCache()
    }

    // (c) mass-duplicate embedding bucket: half the corpus shares ONE
    //     vector (the zero-vector / boilerplate-embedding batch), so one
    //     hyperplane bucket holds n/2 rows ⇒ n²/8 uncapped candidate rows.
    //     The cap drops that bucket (auditable) and the run stays linear —
    //     the mass-dup class itself is exactByContent's job, not the
    //     pairwise verifier's.
    if (on("skew-cosine")) Seq(1, 2, 4).foreach { k =>
      val base = (0 until k).map(i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _)
      val inflated = base.filter(pmod(col("vec_id"), lit(2)) === 1)
        .unionByName(base.filter(pmod(col("vec_id"), lit(2)) === 0)
          .withColumn("embedding", expr("transform(embedding, x -> float(1.0))")))
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      var t0 = System.nanoTime()
      val capped = graft.x.Similarity.cosineNearDupPairs(inflated, "vec_id",
        "embedding", threshold = 0.99, dim = 64, planes = 8, maxBucket = 1000).count()
      val tC = (System.nanoTime() - t0) / 1e9
      val over = graft.x.Similarity.oversizedSignatureBuckets(inflated,
        "embedding", dim = 64, planes = 8, maxBucket = 1000).count()
      val tU = { // uncapped at every size: the 4× point IS the evidence
        t0 = System.nanoTime()
        graft.x.Similarity.cosineNearDupPairs(inflated, "vec_id", "embedding",
          threshold = 0.99, dim = 64, planes = 8, maxBucket = Int.MaxValue).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[skew-cosine] vecs=$n%6d  capped=$tC%6.2fs pairs=$capped " +
        f"hot_buckets=$over  uncapped=$tU%6.2fs")
      spark.catalog.clearCache()
    }
    // (d) mass-duplicate simhash class: half the docs carry the SAME
    //     boilerplate text, so every pigeonhole chunk has one bucket with
    //     n/2 rows ⇒ (maxHamming+1)·n²/8 uncapped candidate rows. Same
    //     contract: cap drops the degenerate class, audit surfaces it.
    if (on("skew-simhash")) Seq(1, 2, 4).foreach { k =>
      val base = (0 until k).map(i =>
        docs.limit(2000).withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1x" + i)))
        .reduce(_ unionByName _)
      val inflated = base.filter(pmod(col("doc_id"), lit(2)) === 1)
        .unionByName(base.filter(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("text", lit("cookie consent banner please accept our terms and conditions")))
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      var t0 = System.nanoTime()
      val capped = Dedup.simhashNearDupPairs(inflated, "text", "doc_id",
        maxHamming = 3, maxBucket = 500).count()
      val tC = (System.nanoTime() - t0) / 1e9
      val over = Dedup.oversizedSimhashBuckets(inflated, "text", "doc_id",
        maxHamming = 3, maxBucket = 500).count()
      val tU = {
        t0 = System.nanoTime()
        Dedup.simhashNearDupPairs(inflated, "text", "doc_id",
          maxHamming = 3, maxBucket = Int.MaxValue).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[skew-simhash] docs=$n%6d  capped=$tC%6.2fs pairs=$capped " +
        f"hot_buckets=$over  uncapped=$tU%6.2fs")
      spark.catalog.clearCache()
    }

    // incremental-dedup probe: a FIXED-size daily batch against a growing
    // fingerprint store — the claim is that batch cost tracks the batch,
    // not the accumulated history (the store side is 8-byte hashes, and
    // the anti-join shuffles hashes, never documents)
    if (on("incdedup")) {
      val storeRoot = java.nio.file.Files
        .createTempDirectory("scaleprobe_fps").toString
      val store = s"$storeRoot/fps"
      Seq(0, 1, 4, 16).foreach { gen =>
        // seed the store with gen×5000 historical fingerprints
        if (gen > 0) {
          val hist = (0 until gen).map(i =>
            docs.withColumn("doc_id", col("doc_id") + lit((i + 100).toLong * 1000000L))
              .withColumn("text", concat(col("text"), lit(" h" + gen + "_" + i))))
            .reduce(_ unionByName _)
          graft.x.Dedup.incrementalExact(hist, "text", "doc_id", store).count()
        }
        val batch = docs.withColumn("text", concat(col("text"), lit(" fresh" + gen)))
        val t0 = System.nanoTime()
        val admitted = graft.x.Dedup.incrementalExact(batch, "text", "doc_id", store).count()
        val storeN = graft.sources.VersionedParquet.read(spark, store).count()
        println(f"[scale-incdedup] store=$storeN%7d  batch=5000  " +
          f"admit=${(System.nanoTime() - t0) / 1e9}%6.2fs  admitted=$admitted")
        spark.catalog.clearCache()
      }
    }

    // semantic-cells probe: corpus inflates over a FIXED centroid set —
    // cell sizes grow linearly, so the within-cell verify grows ~n²/k per
    // cell. Like the fixed-planes ANN probe above, this measures the
    // design rule the operator documents: k must TRACK corpus size
    // (SemDeDup's 100k clusters at web scale), it is not a free constant.
    if (on("semantic")) Seq(1, 2, 4).foreach { k =>
      // per-copy sign-flip decorrelation + ~100 sentinel exact dups — the
      // same constant-density recipe as the [scale-ann] probe (identical
      // copies would make the pair count itself quadratic by construction)
      val base = (0 until k).map { i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L))
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else expr(s"transform(embedding, (x, j) -> " +
              s"float(x * (case when pmod(hash(j, $i), 2) = 0 then 1.0 else -1.0 end)))"))
      }.reduce(_ unionByName _)
      val sentinels = emb.filter(col("vec_id") < 100)
        .withColumn("vec_id", col("vec_id") + 90000000L)
      val inflated = base.unionByName(sentinels)
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val centroids = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val t0 = System.nanoTime()
      val pairs = graft.x.Similarity.semanticNearDupPairs(inflated, centroids,
        "vec_id", "centroid_id", "embedding", threshold = 0.99,
        maxCell = Int.MaxValue).count()
      println(f"[scale-semantic] vecs=$n%6d cells=10  " +
        f"neardup=${(System.nanoTime() - t0) / 1e9}%6.2fs  pairs=$pairs")
      spark.catalog.clearCache()
    }

    // video-dedup probe: the video corpus inflates (per-copy token
    // suffixes decorrelate frame features), frame grid fixed. What this
    // probe MEASURES is the 16-bit hash contract's ceiling: organic
    // collisions per aligned frame grow ~n²/2^B (birthday bound), so at
    // ~10⁴+ videos the stub's 16-bit space saturates and the pair count
    // goes quadratic — the documented design rule is B ≥ 2·log₂(n)
    // (production featurizers are 512-dim: a 64-bit fold has headroom to
    // ~10⁹ videos, exactly like the text simhash).
    if (on("video")) Seq(1, 4, 16).foreach { k =>
      // every token gets a per-copy suffix: payload bytes shift everywhere,
      // so frame features decorrelate across copies and near-dup DENSITY
      // stays constant as the corpus grows (a trailing-byte-only change
      // would leave all copies mutual near-dups — quadratic pairs)
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 3000000L))
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1v" + i)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val media = graft.x.Multimodal.synthesizeFromText(inflated, "doc_id", "text")
      val n = media.filter(col("meta.kind") === "video").count()
      val t0 = System.nanoTime()
      val pairs = graft.x.Multimodal.videoNearDupPairs(spark, media,
        everyMs = 10000, maxHamming = 2, minMatchFrac = 0.5).count()
      println(f"[scale-video] videos=$n%7d  " +
        f"video_neardup=${(System.nanoTime() - t0) / 1e9}%6.2fs  pairs=$pairs")
      spark.catalog.clearCache()
    }

    // passage-dedup probe: corpus inflates with constant repeated-passage
    // DENSITY (every 10th doc carries the same 9-token boilerplate tail, so
    // the repeated class grows WITH the corpus). The shape claim under
    // test: no self-join anywhere — one 8-byte fingerprint per token
    // through two hash shuffles — so runtime stays linear even as the
    // repeated class reaches thousands of members, where any pairwise
    // formulation would grow quadratically in the class size.
    if (on("passages")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", concat(
            regexp_replace(col("text"), "(\\S+)", "$1x" + i),
            when(pmod(col("doc_id"), lit(10)) === 0,
              lit(" shared boilerplate tail repeated across documents every single time"))
              .otherwise(lit("")))))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val ext = Dedup.repeatedPassages(inflated, "text", "doc_id",
        windowTokens = 8).count()
      println(f"[scale-passages] docs=$n%7d  " +
        f"repeated_passages=${(System.nanoTime() - t0) / 1e9}%6.2fs  extents=$ext")
      spark.catalog.clearCache()
    }

    // incremental NEAR-dedup probe: fixed batch vs a growing band-bucket
    // store — same flat-cost claim as [scale-incdedup], now for the LSH
    // twin: the probe shuffles (band, 8-byte fold) pairs, never text, and
    // the intra-batch decision is one aggregation (no candidate pairs)
    if (on("incneardup")) {
      val storeRoot = java.nio.file.Files
        .createTempDirectory("scaleprobe_bands").toString
      val store = s"$storeRoot/bands"
      Seq(0, 1, 4, 16).foreach { gen =>
        if (gen > 0) {
          // per-token suffix: history docs are near-dups of NOTHING else
          // (an appended word would leave jaccard ≈ 0.9 and the whole
          // batch would store-hit — measured the hard way)
          val hist = (0 until gen).map(i =>
            docs.withColumn("doc_id", col("doc_id") + lit((i + 100).toLong * 1000000L))
              .withColumn("text",
                regexp_replace(col("text"), "(\\S+)", "$1h" + gen + "_" + i)))
            .reduce(_ unionByName _)
          Dedup.incrementalNearDup(hist, "text", "doc_id", store).count()
        }
        val batch = docs.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1f" + gen))
        val t0 = System.nanoTime()
        val admitted = Dedup.incrementalNearDup(batch, "text", "doc_id", store).count()
        val storeN = graft.sources.VersionedParquet.read(spark, store).count()
        println(f"[scale-incneardup] store_buckets=$storeN%8d  batch=5000  " +
          f"admit=${(System.nanoTime() - t0) / 1e9}%6.2fs  admitted=$admitted")
        spark.catalog.clearCache()
      }
    }

    // composed-curation probe: the four-stage pipeline end-to-end. The
    // copy-suffix keeps near-dup DENSITY constant (each copy is near-dup
    // of nothing) while the ORGANIC dup classes inside each copy still
    // exercise exact dedup and the capped pairwise stage — so growth
    // should track the corpus, dominated by the jaccard+components
    // stages x21 already proves linear.
    if (on("curate")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1x" + i)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      var kept = 0L
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        kept = graft.x.Curation.curate(inflated, "text", "doc_id").count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale-curate] docs=$n%7d  curate=${times.min}%6.2fs  kept=$kept")
      spark.catalog.clearCache()
    }

    // n-gram repetition probe: doc-keyed aggregations only, so growth
    // must be linear regardless of cross-doc duplication
    if (on("ngramrep")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      // two timed runs, best reported: a one-shot count at this fixture
      // size is dominated by codegen + host-noise spikes, not the plan
      var flagged = 0L
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        flagged = graft.x.TextAnalysis.ngramRepetitionStats(inflated, "text", "doc_id")
          .filter(!col("keep")).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale-ngramrep] docs=$n%7d  " +
        f"stats=${times.min}%6.2fs  flagged=$flagged")
      spark.catalog.clearCache()
    }

    // paragraph-dedup probe: copies keep their text VERBATIM, so every
    // paragraph's election group grows ∝ K — the mass-duplication worst
    // case (boilerplate everywhere). The plan reduces each group with a
    // min, never a self-join, so growth must stay linear even here.
    if (on("paradedup")) Seq(1, 4, 16).foreach { k =>
      val withParas = docs.withColumn("text",
        regexp_replace(col("text"), "((\\S+\\s+){11}\\S+)\\s+", "$1\n\n"))
      val inflated = (0 until k).map(i =>
        withParas.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      var kept = 0L
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        kept = Dedup.paragraphDedup(inflated, "text", "doc_id")
          .agg(sum("kept_paras")).head().getLong(0)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale-paradedup] docs=$n%7d  dedup=${times.min}%6.2fs  kept=$kept")
      spark.catalog.clearCache()
    }

    // heavy-hitter probe: stream grows K× AND the tail vocabulary grows
    // with it (open vocabulary — the regime the sketch exists for). The
    // sketch moves m counters per map task regardless of vocab; the exact
    // top-k it replaces shuffles one row per distinct item. Both are
    // linear in stream length here, but the exact path's shuffle rows
    // grow with vocab while the sketch's stay constant — that gap is the
    // printed evidence.
    if (on("heavyhitters")) Seq(1, 4, 16).foreach { k =>
      val n0 = 1000000L
      // no checkpoint: the source is a codegen'd range (no storage to warm,
      // nothing cached to pressure the heap at 16M rows); both timed paths
      // pay the identical generation cost
      val stream = spark.range(0, n0 * k, 1, 32).select(
        when(col("id") % 4 < 2, concat(lit("h"), (col("id") % 8).cast("string")))
          .otherwise(concat(lit("t"), (col("id") % (50000L * k)).cast("string")))
          .as("item"))
      val n = n0 * k
      val t0 = System.nanoTime()
      val sk = stream.agg(
        graft.functions.FrequentItemsAgg.frequentItems(col("item"), 256).as("sk"))
        .select(size(col("sk"))).head().getInt(0)
      val tSketch = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val exactRows = stream.groupBy("item").count()
        .orderBy(col("count").desc, col("item")).limit(256).count()
      val tExact = (System.nanoTime() - t1) / 1e9
      println(f"[scale-hh] n=$n%9d vocab~${50000L * k + 8}%8d  " +
        f"sketch=$tSketch%6.2fs (counters=$sk)  exact_topk=$tExact%6.2fs (rows=$exactRows)")
      spark.catalog.clearCache()
      // localCheckpoint blocks outlive catalog.clearCache — drop them so the
      // next (bigger) round isn't timed under this round's storage pressure
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    // retrieval probe: corpus inflates (per-copy token suffix so copies
    // aren't spurious matches), query set FIXED — the weight matrix and
    // the map-side broadcast join grow linearly; the rank heap keeps the
    // final exchange at k rows per (partition, query)
    if (on("retrieval")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1x" + i)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val qs = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(filter(
            split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0), 3, 6))
            .as("q_text"))
        .withColumn("q_text", regexp_replace(col("q_text"), "(\\S+)", "$1x0"))
      var rows = 0L
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        rows = graft.x.TextAnalysis.bm25TopK(inflated, qs,
          "text", "doc_id", "q_text", "q_id", k = 10).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale-retrieval] docs=$n%7d  bm25_topk=${times.min}%6.2fs  rows=$rows")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    // fuzzy-decontamination probe: corpus inflates, benchmark FIXED — the
    // benchmark grams broadcast once and the corpus is a single map-side
    // pass; only (train, bench) hits shuffle, so growth must be linear
    if (on("fuzzydecon")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val bench = docs.filter(col("doc_id") % 13 === 0)
      var kept = 0L
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        kept = graft.x.TextAnalysis.jaccardDecontaminate(
          inflated, bench, "text", "doc_id").count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale-fuzzydecon] docs=$n%7d  decon=${times.min}%6.2fs  kept=$kept")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    // winnowing: one doc-keyed window pass — time should track corpus
    // size linearly and the sketch should hold ~2/(w+1) of the gram count
    // (the density claim behind the (w+1)/2x posting-store shrink)
    if (on("winnow")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val grams = inflated.select(
        greatest(size(split(lower(trim(col("text"))), "\\s+")) - 2, lit(0))
          .as("g")).agg(sum("g")).head().getLong(0)
      val t0 = System.nanoTime()
      val fps = graft.x.TextAnalysis.winnow(inflated, "text", "doc_id",
        n = 3, w = 4).count()
      println(f"[scale-winnow] docs=$n%7d  winnow=${(System.nanoTime() - t0) / 1e9}%6.2fs  " +
        f"fps=$fps%8d  grams=$grams%8d  density=${fps.toDouble / grams}%.3f")
      spark.catalog.clearCache()
    }

    // sessionize: the lag + running-sum window chain plans as ONE
    // user-keyed exchange; inflating users (not events-per-user) must
    // scale linearly with flat per-event cost
    if (on("sessionize")) Seq(1, 4, 16).foreach { k =>
      // same schema-adaptive read path as reg()
      val ev = graft.sources.SourceReader.readEvents(spark, s"$sfDir/events.parquet")
      val inflated = (0 until k).map(i =>
        ev.withColumn("user_id", col("user_id") + lit(i.toLong * 10000000L))
          .withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val sessions = graft.x.EventAnalytics.sessionStats(inflated,
        "user_id", "ts", "event_id", gapSeconds = 1800).count()
      println(f"[scale-sessionize] events=$n%8d  sessions=${(System.nanoTime() - t0) / 1e9}%6.2fs  " +
        f"n_sessions=$sessions")
      spark.catalog.clearCache()
    }

    // DSIR probe: raw corpus inflates K× while the target stays fixed —
    // the production shape (the target is a small curated corpus; the raw
    // pool is the 100 TB crawl). The bucket-stats aggs stay ≤nBuckets
    // rows, the λ broadcast is constant, so cost must track the one
    // (id, bucket) shuffle linearly.
    if (on("dsir")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val target = docs.filter(col("source") === "src0")
      var picked = 0L
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        picked = graft.x.TextAnalysis.dsirResample(
          inflated, target, "text", "doc_id", n = 100).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale-dsir] docs=$n%7d  select=${times.min}%6.2fs  picked=$picked")
      spark.catalog.clearCache()
    }

    // stupid-backoff probe: both the LM corpus and the scored corpus
    // inflate together — the worst case, since every gram count table
    // (uni/bi/tri) grows with the corpus and every doc-side join is a
    // gram-keyed shuffle join. Linearity here means the co-partitioned
    // join plan holds; superlinear growth would mean a broadcast flipped
    // into a replicated join somewhere.
    if (on("backoff")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val lm = inflated.filter(pmod(col("doc_id"), lit(2)) === 0)
      var scored = 0L
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        scored = graft.x.TextAnalysis.stupidBackoffLogProb(
          inflated, lm, "text", "doc_id").count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale-backoff] docs=$n%7d  score=${times.min}%6.2fs  scored=$scored")
      spark.catalog.clearCache()
    }

    // interval-join probe: BOTH interval sides inflate K× — the regime
    // where the naive non-equi join is K² and the binned equi-join is K.
    // Linear growth in the binned timings is the whole point of the
    // rewrite; the naive reference runs at factor 1 only (at 16× it would
    // be 256× that number).
    if (on("intervaljoin")) {
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("lo"))
        .withColumn("hi", col("lo") + 30)
      def windows(k: Int) = spark.range(80L * k).select(col("id").as("w_id"),
        (lit(9131L) + (col("id") % 80) * 30 + (col("id") / 80)).as("wlo"))
        .withColumn("whi", col("wlo") + 7)
      val w1 = windows(1)
      val naiveT0 = System.nanoTime()
      val naivePairs = ord.join(w1, ord("lo") < w1("whi") && w1("wlo") < ord("hi")).count()
      println(f"[scale-intervaljoin] factor=1 naive_pairs=$naivePairs " +
        f"naive=${(System.nanoTime() - naiveT0) / 1e9}%6.2fs (K² reference)")
      Seq(1, 4, 16).foreach { k =>
        val left = (0 until k).map(i =>
          ord.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 100000000L)))
          .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
        val right = windows(k).repartition(32).localCheckpoint(true)
        val (nl, nr) = (left.count(), right.count())
        val t0 = System.nanoTime()
        val pairs = graft.operators.IntervalJoin.overlap(
          left, right, "lo", "hi", "wlo", "whi", binSize = 16).count()
        println(f"[scale-intervaljoin] left=$nl%8d right=$nr%6d  " +
          f"overlap=${(System.nanoTime() - t0) / 1e9}%6.2fs  pairs=$pairs")
        spark.catalog.clearCache()
      }
    }

    // pagerank probe: K disjoint copies of the co-purchase graph — nodes
    // and edges both K×, 5 rounds each. The per-round plan is one
    // src-keyed join + one dst-keyed sum, so wall time must track K
    // linearly; superlinear would mean the rank-edge join degenerated.
    if (on("pagerank")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      Seq(1, 4, 16).foreach { k =>
        val inflated = (0 until k).map(i =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L))
            .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
        val edges = inflated.withColumn("dst", lead("l_partkey", 1).over(w))
          .filter(col("dst").isNotNull)
          .select(col("l_partkey").as("src"), col("dst"))
        val t0 = System.nanoTime()
        val ranked = graft.x.Graph.pageRank(edges, "src", "dst", iters = 5).count()
        println(f"[scale-pagerank] lines=${inflated.count()}%8d  " +
          f"pr5=${(System.nanoTime() - t0) / 1e9}%6.2fs  nodes=$ranked")
        spark.catalog.clearCache()
      }
    }

    // kcore probe: K disjoint graph copies — per-copy peel structure is
    // identical, so the round count stays fixed and wall time must track
    // K linearly. The cascade frontier stays under the broadcast threshold
    // throughout, so every round ≥2 runs the broadcast anti-join path
    // (the shape GraphSpec pins); superlinear growth would mean the
    // degree agg or the per-round weak-set aggregate degenerated.
    if (on("kcore")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      Seq(1, 4, 16).foreach { k =>
        val inflated = (0 until k).map(i =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L))
            .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
        val edges = inflated.withColumn("dst", lead("l_partkey", 1).over(w))
          .filter(col("dst").isNotNull)
          .select(col("l_partkey").as("src"), col("dst"))
        val t0 = System.nanoTime()
        val core = graft.x.Graph.kCore(edges, "src", "dst", k = 4).count()
        println(f"[scale-kcore] lines=${inflated.count()}%8d  " +
          f"kcore4=${(System.nanoTime() - t0) / 1e9}%6.2fs  nodes=$core")
        spark.catalog.clearCache()
      }
    }

    // KMV probe: values inflate K× per group; the sketch moves ≤k longs
    // per map task per group, so time must track the scan linearly AND the
    // estimate must stay inside the ~1/sqrt(k) band as the true
    // cardinality grows 16× — accuracy that degrades with scale would
    // make the sketch useless exactly where it matters.
    if (on("kmv")) {
      import graft.functions.KmvSketchAgg
      Seq(1, 4, 16).foreach { k =>
        val inflated = spark.range(200000L * k).select(
          (col("id") % 4).as("g"),
          KmvSketchAgg.hash55(concat(lit("v"), col("id").cast("string"))).as("h"))
          .repartition(32).localCheckpoint(true)
        val n = inflated.count()
        val t0 = System.nanoTime()
        val ests = inflated.groupBy("g")
          .agg(KmvSketchAgg.kmvSketch(col("h"), 256).as("sk"))
          .select(KmvSketchAgg.estimate(col("sk"), 256).as("est"))
          .collect().map(_.getDouble(0))
        val trueCard = 50000.0 * k
        val worstErr = ests.map(e => math.abs(e - trueCard) / trueCard).max
        println(f"[scale-kmv] values=$n%8d  sketch=${(System.nanoTime() - t0) / 1e9}%6.2fs  " +
          f"worst_rel_err=$worstErr%.4f")
        spark.catalog.clearCache()
      }
    }

    // HLL probe: values inflate, the SHUFFLE stays ≤ m register rows per
    // group — the whole point of the sketch. Wall time must be scan-bound
    // linear while the post-shuffle row count stays constant at m, and the
    // estimate must stay inside the 1.04/sqrt(m) envelope as n grows.
    if (on("hll")) {
      import graft.x.Sketches
      Seq(1, 4, 16).foreach { k =>
        val inflated = spark.range(200000L * k).select(
          (col("id") % 4).cast("string").as("g"),
          concat(lit("v"), (col("id") / 4).cast("long").cast("string")).as("v"))
          .repartition(32).localCheckpoint(true)
        val n = inflated.count()
        val t0 = System.nanoTime()
        val regs = Sketches.hllRegisters(inflated, Seq("g"), "v")
          .localCheckpoint(true)
        val regRows = regs.count()
        val ests = Sketches.hllEstimateFromRegisters(regs, Seq("g"))
          .select("est").collect().map(_.getDouble(0))
        val trueCard = 50000.0 * k
        val worstErr = ests.map(e => math.abs(e - trueCard) / trueCard).max
        println(f"[scale-hll] values=$n%8d  sketch=${(System.nanoTime() - t0) / 1e9}%6.2fs  " +
          f"reg_rows=$regRows%5d (cap ${4 * 256})  worst_rel_err=$worstErr%.4f")
        spark.catalog.clearCache()
      }
    }

    // Hilbert layout probe: index cost is a per-row constant (one codegen
    // loop, no shuffle until the layout sort), so indexing K× the rows
    // must be linear; the sort is the same exchange any layout write pays.
    if (on("hilbert")) {
      import graft.functions.HilbertIndex.hilbertIdx
      Seq(1, 4, 16).foreach { k =>
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val inflated = (0 until k).map(i =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
          .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
        val n = inflated.count()
        val t0 = System.nanoTime()
        val zones = inflated.select(
            hilbertIdx(pmod(col("l_partkey"), lit(1024)),
              pmod(col("l_suppkey"), lit(1024)), 10).as("d"))
          .groupBy(shiftright(col("d"), 14).as("zone")).count().count()
        println(f"[scale-hilbert] rows=$n%8d  index+zone=${(System.nanoTime() - t0) / 1e9}%6.2fs  zones=$zones")
        spark.catalog.clearCache()
      }
    }

    // LPA probe: K disjoint copies of the part-supplier graph — community
    // structure is a per-copy invariant, so labels per copy must be
    // identical (shifted) and wall time linear in K: each round is one
    // edge-sized join + two hash aggs, nothing quadratic.
    if (on("lpa")) Seq(1, 4).foreach { k =>
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val base = li.select(col("l_partkey").as("src"),
        (col("l_suppkey") + lit(1000000L)).as("dst")).distinct()
      val inflated = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong * 10000000L)).as("src"),
          (col("dst") + lit(i.toLong * 10000000L)).as("dst")))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val e = inflated.count()
      val t0 = System.nanoTime()
      val communities = graft.x.Graph.labelPropagation(inflated, "src", "dst", iters = 3)
        .select(countDistinct("label")).head().getLong(0)
      println(f"[scale-lpa] edges=$e%8d  lpa3=${(System.nanoTime() - t0) / 1e9}%6.2fs  communities=$communities")
      spark.catalog.clearCache()
    }

    // triangle probe: K disjoint copies of the co-purchase graph. Wedge
    // count under the degree orientation is a per-copy invariant, so both
    // wedges and wall time must track K linearly — superlinear growth
    // would mean the orientation stopped bounding the wedge fanout.
    if (on("triangles")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      Seq(1, 4, 16).foreach { k =>
        val inflated = (0 until k).map(i =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L))
            .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
        val edges = inflated.withColumn("dst", lead("l_partkey", 1).over(w))
          .filter(col("dst").isNotNull)
          .select(col("l_partkey").as("src"), col("dst"))
        val t0 = System.nanoTime()
        val tri = graft.x.Graph.triangles(edges, "src", "dst")
          .agg(sum("triangles")).collect()(0).getLong(0) / 3
        println(f"[scale-triangles] lines=${inflated.count()}%8d  " +
          f"tri=${(System.nanoTime() - t0) / 1e9}%6.2fs  triangles=$tri")
        spark.catalog.clearCache()
      }
    }

    // sorted-neighborhood probe: customers inflated K× with per-copy name
    // suffixes (copies sort adjacent but never pair across copies at
    // maxDist 1). The rank is two exchanges + a partition-parallel window;
    // the neighbor join carries (window−1)·n slim rows — time must track
    // K·log K (the range sort), nothing quadratic.
    if (on("sortedneighborhood")) {
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
      Seq(1, 4, 16).foreach { k =>
        val inflated = (0 until k).map(i =>
          cust.withColumn("c_custkey", col("c_custkey") + lit(i.toLong * 10000000L))
            .withColumn("c_name", concat(col("c_name"), lit("#" + i))))
          .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
        val n = inflated.count()
        val t0 = System.nanoTime()
        val pairs = Dedup.sortedNeighborhoodPairs(inflated, "c_name", "c_custkey",
          window = 4, maxDist = 1).count()
        println(f"[scale-sortedneighborhood] rows=$n%8d  " +
          f"snm=${(System.nanoTime() - t0) / 1e9}%6.2fs  pairs=$pairs")
        spark.catalog.clearCache()
      }
    }

    // prefix-filter probe: copy-suffixed tokens keep near-dup density
    // constant (the lsh probe's discipline). The candidate join fans out
    // on per-doc rarest grams whose doc-frequency is scale-invariant
    // here, so time must track the corpus linearly.
    if (on("prefixfilter")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1x" + i)))
        .reduce(_ unionByName _)
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val pairs = Dedup.prefixFilterPairs(inflated, "text", "doc_id",
        n = 3, threshold = 0.5).count()
      println(f"[scale-prefixfilter] docs=$n%7d  " +
        f"ppjoin=${(System.nanoTime() - t0) / 1e9}%7.2fs  pairs=$pairs")
      spark.catalog.clearCache()
    }

    // corpus-law probes: JS divergence and the Zipf fit are one
    // tokenize+count pass plus vocabulary-scale work — cost must track
    // the corpus linearly while the vocabulary (and thus the join/rank
    // side) grows sublinearly
    if (on("jsdiv")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _)
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val js = graft.x.TextAnalysis.tokenJsDivergence(
        inflated.filter(col("lang") === "en"),
        inflated.filter(col("lang") =!= "en"), "text").head()
      val t1 = System.nanoTime()
      val z = graft.x.TextAnalysis.zipfFit(inflated, "text").head()
      println(f"[scale-jsdiv] docs=$n%7d  js=${(t1 - t0) / 1e9}%6.2fs " +
        f"(${js.getDouble(5)}%.4f nats)  zipf=${(System.nanoTime() - t1) / 1e9}%6.2fs " +
        f"(slope=${z.getDouble(1)}%.3f, terms=${z.getLong(0)})")
      spark.catalog.clearCache()
    }

    // spatial probe: K× points on a growing grid (constant density — the
    // cell side scales with √K so points-per-cell holds). Cost is the
    // two cell-keyed shuffles + bounded per-cell pairs → linear.
    if (on("spatial")) Seq(1, 4, 16).foreach { k =>
      val side = 499L * math.sqrt(k.toDouble).round
      val pts = spark.range(0, 1500L * k).select(col("id"),
        pmod(col("id") * 37, lit(side)).as("x"),
        pmod(col("id") * 101, lit(side + 4)).as("y"))
        .repartition(32).localCheckpoint(true)
      val n = pts.count()
      val t0 = System.nanoTime()
      val pairs = graft.x.Spatial.gridNeighborPairs(pts, "id", "x", "y", 12L).count()
      println(f"[scale-spatial] points=$n%8d  grid=${(System.nanoTime() - t0) / 1e9}%6.2fs  pairs=$pairs")
      spark.catalog.clearCache()
    }

    // bipartite-projection probe: K disjoint order-sets — per-order degree
    // (the quadratic term) is fixed, so pairs and time track K linearly.
    if (on("bipartite")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      Seq(1, 4, 16).foreach { k =>
        val inflated = (0 until k).map(i =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L))
            .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
        val n = inflated.count()
        val t0 = System.nanoTime()
        val edges = graft.x.Graph.bipartiteProject(inflated, "l_orderkey",
          "l_partkey", maxLeftDegree = 100).count()
        println(f"[scale-bipartite] lines=$n%8d  " +
          f"project=${(System.nanoTime() - t0) / 1e9}%6.2fs  edges=$edges")
        spark.catalog.clearCache()
      }
    }

    // token-budget probe: corpus inflates K×, budget FIXED — the range
    // exchange is corpus-linear (every selection pays one sort shuffle),
    // but the cumsum window must track the SELECTED slice, not the
    // corpus: over-budget ranges are pruned before their window runs, so
    // the kept-row count stays flat while input grows 16×. Superlinear
    // window time here would mean the pruning regressed to windowing
    // everything.
    if (on("tokenbudget")) Seq(1, 4, 16).foreach { k =>
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
        .reduce(_ unionByName _)
        .select(col("doc_id"),
          graft.x.TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
          graft.x.TextAnalysis.qualityScore(col("text")).as("pri"))
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val kept = graft.x.Sampling.tokenBudgetSelect(
        inflated, "doc_id", "toks", "pri", budget = 15000L).count()
      println(f"[scale-tokenbudget] docs=$n%8d  " +
        f"select=${(System.nanoTime() - t0) / 1e9}%6.2fs  kept=$kept")
      spark.catalog.clearCache()
    }

    // Grouped top-k, heap aggregate vs window: BOTH ship ≤ k rows per
    // (map task × group) — the optimizer's InferWindowGroupLimit sees the
    // adjacent rank filter — so the probe isolates what actually differs:
    // the window path sorts every map partition on (group, ord) and
    // re-sorts groups after the exchange; the TopKAgg path replaces both
    // sorts with a hash-grouped O(n log k) heap. Both should scale
    // linearly; the heap's advantage is the constant (and composability).
    if (on("groupedtopk")) Seq(1, 4, 16).foreach { k =>
      val rows = 500000L * k
      val inflated = spark.range(rows).select(
        pmod(col("id") * 2654435761L, lit(1000)).as("g"),
        pmod(col("id") * 40503L, lit(1000003)).cast("double").as("v"),
        col("id"))
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val viaAgg = inflated.groupBy(col("g"))
        .agg(graft.functions.TopKAgg.topKBy(col("v"), col("id"), 10).as("tk"))
        .select(explode(col("tk"))).count()
      val t1 = System.nanoTime()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v").desc, col("id"))
      val viaWin = inflated.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10).count()
      val t2 = System.nanoTime()
      println(f"[scale-groupedtopk] rows=$n%9d  heap=${(t1 - t0) / 1e9}%6.2fs  " +
        f"window=${(t2 - t1) / 1e9}%6.2fs  rows_out=$viaAgg/$viaWin")
      spark.catalog.clearCache()
    }

    // Bitmap retention: user universe inflates ×k, days fixed. Word rows
    // grow as universe/64 per day (dense ids), the retention join stays
    // word-keyed — time should track the id universe linearly with a flat
    // per-word cost, and the answer is exact at every size.
    if (on("bitmap")) Seq(1, 4, 16).foreach { k =>
      val ev = graft.sources.SourceReader.readEvents(spark, s"$sfDir/events.parquet")
      val inflated = (0 until k).map(i =>
        ev.withColumn("user_id", col("user_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)
        .withColumn("day", to_date(col("ts")))
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val words = graft.x.Sketches.bitmapWords(inflated, Seq("day"), "user_id")
        .localCheckpoint(true)
      val t1 = System.nanoTime()
      val prev = words.select(date_add(col("day"), 1).as("day"), col("__w"),
        col("__bits").as("__prev"))
      val returning = words.join(prev, Seq("day", "__w"))
        .agg(sum(bit_count(col("__bits").bitwiseAND(col("__prev"))))).head().getLong(0)
      val t2 = System.nanoTime()
      val wordRows = words.count()
      println(f"[scale-bitmap] events=$n%8d  words=$wordRows%7d  " +
        f"build=${(t1 - t0) / 1e9}%6.2fs  retention=${(t2 - t1) / 1e9}%6.2fs  " +
        f"returning=$returning")
      spark.catalog.clearCache()
    }

    // Bootstrap CI: rows inflate ×k, replicas fixed at 32 — per-row cost
    // is one string hash + 32 integer draws, so time should be linear
    // with a flat per-row constant, and the interval should narrow ~1/√k.
    if (on("bootstrap")) Seq(1, 4, 16).foreach { k =>
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val inflated = (0 until k).map(i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val row = graft.x.Profiler.bootstrapMeanCi(inflated, Seq("l_returnflag"),
          "l_quantity",
          concat(col("l_orderkey"), lit(":"), col("l_linenumber")), reps = 32)
        .filter(col("l_returnflag") === "A").head()
      val width = row.getAs[Double]("ci_hi") - row.getAs[Double]("ci_lo")
      println(f"[scale-bootstrap] rows=$n%8d  " +
        f"time=${(System.nanoTime() - t0) / 1e9}%6.2fs  ci_width=$width%.6f")
      spark.catalog.clearCache()
    }

    // MMR: queries inflate ×k, candidate pool fixed at 12 — the operator
    // is ONE query-keyed shuffle; time should stay flat while work grows
    // linearly in queries (the greedy runs in registers per group).
    if (on("mmr")) Seq(1, 4, 16).foreach { k =>
      val emb2 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val corpus = emb2.filter(col("vec_id") < 200)
        .select(col("vec_id").as("id"), col("embedding"))
      val qs = (0 until k).map(i =>
        emb2.filter(col("vec_id") >= 400)
          .select((col("vec_id") + lit(i.toLong * 1000000L)).as("q_id"),
            col("embedding").as("__qv")))
        .reduce(_ unionByName _).localCheckpoint(true)
      val nq = qs.count()
      val scored = corpus.crossJoin(broadcast(qs))
        .withColumn("rel", graft.functions.VectorFunctions
          .dotProduct(col("embedding"), col("__qv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("rel").desc, col("id"))
      val cands = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 12)
        .select(col("q_id"), col("id"), col("rel"), col("embedding"))
        .repartition(32).localCheckpoint(true) // time the MMR, not stage 1
      val t0 = System.nanoTime()
      val picks = graft.x.Similarity.mmrSelect(cands, "q_id", "id", "rel",
        "embedding", k = 5, lambda = 0.7).count()
      println(f"[scale-mmr] queries=$nq%6d  " +
        f"time=${(System.nanoTime() - t0) / 1e9}%6.2fs  picks=$picks")
      spark.catalog.clearCache()
    }

    // HyperBall: disjoint graph copies ×k — per-node reach is invariant
    // (copies never connect), so avg_reach must stay constant while the
    // per-round |E|-row shuffle grows linearly; packed byte-array
    // registers keep the row width flat at ~256B regardless of ball size
    if (on("hyperball")) Seq(1, 4, 16).foreach { k =>
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      val base = li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead("l_partkey", 1).over(w))
        .filter(col("dst").isNotNull)
        .select(col("l_partkey").as("src"), col("dst"))
      val inflated = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong * 10000000L)).as("src"),
          (col("dst") + lit(i.toLong * 10000000L)).as("dst")))
        .reduce(_ unionByName _).repartition(32).localCheckpoint(true)
      val ne = inflated.count()
      val t0 = System.nanoTime()
      val rows = graft.x.Graph.hyperBall(inflated, "src", "dst", maxHops = 2)
        .orderBy("h").collect()
      val avg2 = rows.last.getDouble(3)
      println(f"[scale-hyperball] edges=$ne%8d  " +
        f"time=${(System.nanoTime() - t0) / 1e9}%6.2fs  avg_reach_h2=$avg2%.3f")
      spark.catalog.clearCache()
    }

    if (on("lsh")) factors.foreach { k =>
      // each copy's tokens get a copy-suffix, so copies are NOT near-dups of
      // each other: near-dup density per doc stays constant as the corpus
      // grows (otherwise duplicate groups grow quadratically and the probe
      // measures an adversarial dedup workload, not scaling)
      val inflated = (0 until k).map(i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1x" + i)))
        .reduce(_ unionByName _)
        .repartition(32).localCheckpoint(true)
      val n = inflated.count()
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashNearDupPairs(inflated, "text", "doc_id",
        n = 3, k = 32, bands = 8, threshold = 0.5).count()
      println(f"[scale] docs=$n%7d  lsh_neardup=${(System.nanoTime() - t0) / 1e9}%7.2fs  pairs=$pairs")
      spark.catalog.clearCache()
    }

    // Streaming IVF ingest under sustained batches: without in-stream
    // compaction the layout's file count grows linearly with batches
    // (probe pruning then opens one footer per batch per probed cell —
    // the 10^4-batches/10^4-footers failure mode); with the compaction
    // cadence the count sawtooths around a bound set by the cadence and
    // targetBytes, while every probe stays byte-identical to a rebuild
    // (asserted in StatefulStreamingSpec; this probe shows the GROWTH
    // law the spec's 4 batches cannot).
    if (on("sivf")) {
      val centroids = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("scale-sivf")
      def dataFiles(dir: String): Int = {
        val root = new java.io.File(dir)
        if (!root.exists()) 0
        else root.listFiles().filter(_.isDirectory).flatMap(_.listFiles())
          .count(_.getName.endsWith(".parquet"))
      }
      Seq(0 -> "nocompact", 8 -> "compact8").foreach { case (ce, tag) =>
        val layout = s"$tmp/$tag"
        (0 until 32).foreach { b =>
          val batch = emb.withColumn("vec_id",
            col("vec_id") + lit(b.toLong * 1000000L))
          graft.streaming.StreamingJobs.ivfIngestBatch(batch, b.toLong,
            centroids, "vec_id", "centroid_id", "embedding", layout,
            targetBytes = 64L * 1024 * 1024, compactEvery = ce)
          if (b % 8 == 7)
            println(f"[scale-sivf] $tag%-10s batches=${b + 1}%3d  files=${dataFiles(layout)}%4d")
        }
      }
    }

    // drift-policy probe (r12): the self-maintaining IVF store's recall
    // trace under REAL distribution drift. The stream starts in two known
    // clusters (the seed geometry), then shifts to a boundary cluster the
    // seed SPLITS across cells (the StatefulStreamingSpec geometry at
    // 1000×: sign decides the stale cell, w decides cosine neighbors, so
    // stale recall ≈ 0.5 on drifted queries). The trace must show drift
    // spike at the first post-shift cadence, the rebuild firing, and
    // drift RESET at the next cadence — the closed ops loop, measured.
    if (on("ivfdrift")) {
      val S = graft.x.Similarity
      val perCluster = 50000 * factors.max
      def fvec(cols: Column*) = array(cols.map(_.cast("float")): _*)
      def aCluster(ids: Column) = spark.range(perCluster).select(
        (ids + col("id")).as("vec_id"),
        fvec(lit(10.0) + (col("id") % 10) * 0.01, (col("id") % 7) * 0.01,
          lit(0.0), lit(0.0)).as("embedding"))
      def bCluster(ids: Column) = spark.range(perCluster).select(
        (ids + col("id")).as("vec_id"),
        fvec((col("id") % 7) * 0.01, lit(10.0) + (col("id") % 10) * 0.01,
          lit(0.0), lit(0.0)).as("embedding"))
      def cCluster(ids: Column, n: Int) = {
        val d = (when(col("id") % 4 < 2, 1.0).otherwise(-1.0)) *
          (lit(0.1) + (col("id") % 4) * 0.01)
        spark.range(n).select((ids + col("id")).as("vec_id"),
          fvec(lit(5.0) + d, lit(5.0) - d, lit(2.0) + (col("id") % 10) * 0.1,
            lit(0.0)).as("embedding"))
      }
      val seedC = Seq((0L, Array(10.0f, 0f, 0f, 0f)), (1L, Array(0f, 10.0f, 0f, 0f)))
      import spark.implicits._
      val seed = seedC.toDF("centroid_id", "embedding")
      val queries = cCluster(lit(90000000L), 50)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val requant: (org.apache.spark.sql.DataFrame,
          org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
        (corpus, _) => {
          val codes = corpus.select(col("vec_id"),
            S.int8Codes(col("embedding")).as("c"))
          val seeds = S.farthestFirstSeeds(codes, "vec_id", "c", k = 3)
            .select(col("seed_rank").cast("long").as("centroid_id"), col("vec_id"))
          S.refreshedCentroids(
            corpus, seeds.join(corpus, "vec_id")
              .select(col("centroid_id"),
                transform(col("embedding"), v => v.cast("double")).as("embedding")),
            "vec_id", "centroid_id", "embedding")
        }
      val layout = java.nio.file.Files.createTempDirectory("scale-ivfdrift")
        .toString + "/store"
      // drift ONSET is small by nature: the bulk keeps arriving from the
      // known clusters (perCluster rows/batch) while the new region C
      // appears at 40 rows/batch — the monitor must price the recall the
      // stale geometry loses on the emerging region while it is still a
      // rounding error of the corpus (C splits across both stale cells by
      // construction, so C queries at nprobe=1 see ~half their neighbors)
      val batches = Seq(
        aCluster(lit(0L)).unionAll(bCluster(lit(10000000L))), // stationary
        aCluster(lit(20000000L)).unionAll(cCluster(lit(80000000L), 40)),
        bCluster(lit(30000000L)).unionAll(cCluster(lit(81000000L), 40)),
        aCluster(lit(40000000L)))                             // stationary again
      batches.zipWithIndex.foreach { case (batch, bid) =>
        val t0 = System.nanoTime()
        val res = graft.streaming.StreamingJobs.ivfMaintainBatch(
          batch, bid.toLong, seed, "vec_id", "centroid_id", "embedding",
          layout, queries, "q_id", k = 10, nprobe = 1,
          driftEvery = 2, driftThreshold = 0.02, refresh = requant,
          targetBytes = 64L * 1024 * 1024, compactEvery = 0)
        val dt = (System.nanoTime() - t0) / 1e9
        res match {
          case Some((drift, rebuilt)) => println(
            f"[scale-ivfdrift] bid=$bid  drift=$drift%.4f  rebuilt=$rebuilt  $dt%.1fs")
          case None => println(
            f"[scale-ivfdrift] bid=$bid  (ingest only)  $dt%.1fs")
        }
      }
    }
    // [scale-graph] (VERDICT r13 #6): the iterative graph tail's 100×
    // claim, MEASURED instead of asserted — kcore and SCC on a synthetic
    // directed graph grown 1×/4×/16×, recording ROUNDS (observer seam),
    // WALL, and executor TASK-CPU (the steal-immune Bench channel). The
    // graph is web-shaped on purpose (what x206's "work shrinks as
    // components settle" story assumes): two giant SCCs — a Hamiltonian
    // cycle plus a multiplicative jump per half, so BFS frontiers double
    // and reachability closes in O(log n) depths — joined by one-way
    // cross edges, plus a CONSTANT 16-node permuted-chain tail (FW-BW
    // serializes on disjoint singleton structure sharing a block, so a
    // tail that grew with n would measure the pivot scheme's worst case,
    // not the scaling claim; a chain also walks ONE edge per BFS depth,
    // which is why it stays short and maxDepth carries headroom).
    // Evidence = rounds FLAT across K (the tail's log₂16-ish splits
    // dominate), CPU linear; super-linear CPU or climbing rounds would
    // name a real defect.
    if (on("graph")) {
      Seq(1, 4, 16).foreach { k =>
        val n = 100000L * k
        val half = n / 2
        val bSize = half - 16 // component B: [half, n-16); tail: last 16 ids
        def cycleJump(lo: Long, size: Long) = {
          val ids = spark.range(size)
          ids.select((col("id") + lo).as("src"),
              (pmod(col("id") + 1, lit(size)) + lo).as("dst"))
            .unionAll(ids.select((col("id") + lo).as("src"),
              (pmod(col("id") * 7 + 1, lit(size)) + lo).as("dst")))
        }
        // 1024 one-way A→B cross edges (B is reachable from A, never back)
        val cross = spark.range(1024).select(
          (col("id") * 13 % half).as("src"),
          (pmod(col("id") * 131, lit(bSize)) + half).as("dst"))
        // constant 16-node singleton chain in PERMUTED id order hanging
        // off B (multiplier 5, coprime to 16 and properly scrambling —
        // 31 ≡ −1 mod 16 just REVERSES the chain, making every min-id
        // pivot the chain's terminal node: one settled node per round,
        // measured as 16 serial rounds), so min-id pivots land mid-chain
        // and the FW-BW splits stay balanced — log₂, never linear
        val tail0 = n - 16
        val tail = spark.range(15).select(
          (pmod(col("id") * 5, lit(16)) + tail0).as("src"),
          (pmod((col("id") + 1) * 5, lit(16)) + tail0).as("dst"))
          .unionAll(spark.range(1).select(lit(half).as("src"), lit(tail0).as("dst")))
        val edges = cycleJump(0, half).unionAll(cycleJump(half, bSize))
          .unionAll(cross).unionAll(tail)
          .repartition(32).localCheckpoint(true)
        val ne = edges.count()
        println(f"[scale-graph] k=$k built edges=$ne — running scc")

        var sccRounds = 0
        var c0 = cpu.settled(); var t0 = System.nanoTime()
        val comps = graft.x.Graph.stronglyConnectedComponents(edges, "src", "dst",
          maxRounds = 30, maxDepth = 96, roundObserver = r => sccRounds = r)
        val nComp = comps.select("comp").distinct().count()
        val unconv = comps.filter(!col("converged")).count()
        val tScc = (System.nanoTime() - t0) / 1e9
        val cScc = (cpu.settled() - c0) / 1e9
        spark.catalog.clearCache()
        println(f"[scale-graph] k=$k scc done in $tScc%.1fs ($sccRounds rounds) — running kcore")

        var coreRounds = 0
        c0 = cpu.settled(); t0 = System.nanoTime()
        // k=3: the cycle+jump halves sit at degree ~4 with sparse
        // degree-3 defect nodes (neighbor coincidences) — a k=4 gate
        // unravels the WHOLE graph through the defects (measured: 13
        // cascade rounds to nodes=0), so the stable claim is the k=3
        // core: the tail peels, both halves survive, rounds flat
        val core = graft.x.Graph.kCore(edges, "src", "dst", k = 3,
          roundObserver = r => coreRounds = r).count()
        val tCore = (System.nanoTime() - t0) / 1e9
        val cCore = (cpu.settled() - c0) / 1e9
        println(f"[scale-graph] edges=$ne%8d  scc=$tScc%6.2fs cpu=$cScc%7.2fs " +
          f"rounds=$sccRounds%2d comps=$nComp%7d unconverged=$unconv%4d  " +
          f"kcore3=$tCore%6.2fs cpu=$cCore%7.2fs rounds=$coreRounds%2d nodes=$core%7d")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }

    // kcore-only rerun of the [scale-graph] synthetic web graph (r15):
    // the incremental-degree kCore must be re-probed on the SAME graph
    // the r14 row measured the from-scratch version on — rounds flat,
    // core exact, CPU/wall vs the recorded 9.4/33.3/124.6 cpu-s row
    if (on("kcore3")) {
      factors.foreach { k =>
        val n = 100000L * k
        val half = n / 2
        val bSize = half - 16
        def cycleJump(lo: Long, size: Long) = {
          val ids = spark.range(size)
          ids.select((col("id") + lo).as("src"),
              (pmod(col("id") + 1, lit(size)) + lo).as("dst"))
            .unionAll(ids.select((col("id") + lo).as("src"),
              (pmod(col("id") * 7 + 1, lit(size)) + lo).as("dst")))
        }
        val cross = spark.range(1024).select(
          (col("id") * 13 % half).as("src"),
          (pmod(col("id") * 131, lit(bSize)) + half).as("dst"))
        val tail0 = n - 16
        val tail = spark.range(15).select(
          (pmod(col("id") * 5, lit(16)) + tail0).as("src"),
          (pmod((col("id") + 1) * 5, lit(16)) + tail0).as("dst"))
          .unionAll(spark.range(1).select(lit(half).as("src"), lit(tail0).as("dst")))
        val edges = cycleJump(0, half).unionAll(cycleJump(half, bSize))
          .unionAll(cross).unionAll(tail)
          .repartition(32).localCheckpoint(true)
        val ne = edges.count()
        var coreRounds = 0
        val c0 = cpu.settled(); val t0 = System.nanoTime()
        val core = graft.x.Graph.kCore(edges, "src", "dst", k = 3,
          roundObserver = r => coreRounds = r).count()
        val tCore = (System.nanoTime() - t0) / 1e9
        val cCore = (cpu.settled() - c0) / 1e9
        println(f"[scale-kcore3] edges=$ne%8d  kcore3=$tCore%6.2fs " +
          f"cpu=$cCore%7.2fs rounds=$coreRounds%2d nodes=$core%7d")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }

    // versioned SCD2 probe: the dimension inflates K× while the batch
    // stays FIXED (50 changed keys) and `scdBuckets` TRACKS the
    // dimension (256·K — the scaladoc's sizing rule, so bucket size
    // stays constant and the touched fraction SHRINKS). The 100 TB claim of the atomic-commit path is that a
    // merge costs O(touched buckets), not O(dimension): readPartitions
    // prunes at the manifest and overwritePartitions carries every
    // untouched bucket's files forward without reading them. Flat merge
    // time across K is the evidence; a linear climb means either the
    // pruning broke or files stopped being bucket-bounded (the
    // stagePartitioned repartition — measured 89 s → seconds at K=16
    // when it was missing).
    // [scale-graph2] (VERDICT r14 #6): the remaining top-CPU iteratives —
    // label propagation (x134), bipartite co-purchase projection (x119),
    // HyperBall reach (x180) — on the same 1×/4×/16× harness as
    // [scale-graph]: wall, executor task-CPU, and the structural
    // invariant each operator's 100× claim rests on. All three have
    // FIXED round budgets (iters/maxHops/1-pass), so the claim is pure
    // per-round linearity: CPU ~K with flat per-edge cost. LPA runs on
    // the same web-shaped cycle+jump graph; the projection runs on a
    // bipartite membership with BOUNDED left degree (the cap is the
    // operator's own skew contract — a mega-key sentinel asserts it
    // drops loudly-auditable, not silently); HyperBall's per-round state
    // is min(ball, 256) registers per node, so its join moves |E| slim
    // rows regardless of reach — the property the probe checks by
    // verifying CPU stays ~linear while REACH grows multiplicatively.
    if (on("graph2")) {
      Seq(1, 4, 16).foreach { k =>
        val n = 100000L * k
        val half = n / 2
        def cycleJump(lo: Long, size: Long) = {
          val ids = spark.range(size)
          ids.select((col("id") + lo).as("src"),
              (pmod(col("id") + 1, lit(size)) + lo).as("dst"))
            .unionAll(ids.select((col("id") + lo).as("src"),
              (pmod(col("id") * 7 + 1, lit(size)) + lo).as("dst")))
        }
        val edges = cycleJump(0, half).unionAll(cycleJump(half, n - half))
          .repartition(32).localCheckpoint(true)
        val ne = edges.count()

        // LPA: fixed 3 rounds; per round ONE exchange-free label⋈edge
        // join + ONE hash(node) mode-agg — CPU must track K linearly
        var c0 = cpu.settled(); var t0 = System.nanoTime()
        val nLabels = graft.x.Graph.labelPropagation(edges, "src", "dst", iters = 3)
          .select("label").distinct().count()
        val tLpa = (System.nanoTime() - t0) / 1e9
        val cLpa = (cpu.settled() - c0) / 1e9
        spark.catalog.clearCache()

        // bipartite projection: n/8 left keys × degree 8 → 28 pairs per
        // left key, ~3.5n pairs total; plus ONE mega-key past the cap
        // that must be dropped (the skew contract), leaving the rest exact
        val d = 8L
        val membership = spark.range(n).select(
            (col("id") / d).cast("long").as("order_id"),
            (pmod(col("id") * 131 + col("id") / d, lit(n / 4))).as("part_id"))
          .unionAll(spark.range(500).select(
            lit(-1L).as("order_id"), col("id").as("part_id")))
          .repartition(32).localCheckpoint(true)
        membership.count()
        c0 = cpu.settled(); t0 = System.nanoTime()
        val pairs = graft.x.Graph.bipartiteProject(
          membership, "order_id", "part_id", maxLeftDegree = 100).count()
        val tProj = (System.nanoTime() - t0) / 1e9
        val cProj = (cpu.settled() - c0) / 1e9
        val dropped = graft.x.Graph.oversizedLeftKeys(
          membership, "order_id", "part_id", 100).count()
        spark.catalog.clearCache()

        // HyperBall: 3 hops over the jump graph (balls double per hop) —
        // state stays 256 registers/node, so CPU must track K, not reach
        c0 = cpu.settled(); t0 = System.nanoTime()
        val hb = graft.x.Graph.hyperBall(edges, "src", "dst", maxHops = 3)
          .agg(max("total_reach")).head().getDouble(0)
        val tHb = (System.nanoTime() - t0) / 1e9
        val cHb = (cpu.settled() - c0) / 1e9
        println(f"[scale-graph2] edges=$ne%8d  lpa3=$tLpa%6.2fs cpu=$cLpa%7.2fs " +
          f"labels=$nLabels%7d  proj=$tProj%6.2fs cpu=$cProj%7.2fs pairs=$pairs%9d " +
          f"dropped=$dropped  hb3=$tHb%6.2fs cpu=$cHb%7.2fs reach=$hb%12.0f")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }

    // [scale-manifest] (VERDICT r14 #3): the versioned store's DATA path
    // is probe-proven flat ([scale-scd2v] below); the untested axis is the
    // driver-side manifest METADATA walk — every commit lists the log
    // (O(V) dir entries), parses the latest manifest (O(B) file entries),
    // and publishes a COMPLETE file list (O(B)); the replay-hwm read scans
    // backward to the newest tagged manifest; a conflict abort walks the
    // intervening manifests (memoized since r15); vacuum parses every kept
    // manifest. Evidence wanted: commit latency FLAT from early to late in
    // a long history (a super-linear walk makes late commits slower), hwm
    // read ~O(1), conflict/vacuum linear in history. If any axis goes
    // super-linear, the fix is a checkpointed manifest (complete list
    // every N commits + deltas between — Delta's answer); this probe
    // decides whether it is needed. All commits here are REAL (the
    // streaming scd2 path end-to-end at one key per batch), so the
    // measured latency is the true per-commit overhead a 100 TB
    // deployment's scheduler would see.
    if (on("manifest")) {
      def runManifest(nVersions: Int, nBuckets: Int): Unit = {
        val path = java.nio.file.Files
          .createTempDirectory("scaleprobe_manifest").toString + "/dim"
        val sink = graft.config.SinkSpec("dim", loadType = "scdType2Insert",
          format = "parquet", path = Some(path),
          scdKeys = Seq("bkey"), scdTrackedCols = Seq("payload"),
          options = Map("scdBuckets" -> nBuckets.toString))
        val dim = spark.range(nBuckets * 4L).select(col("id").as("bkey"),
          concat(lit("v"), col("id")).as("payload"))
        graft.sinks.SinkWriter.write(spark, dim, sink) // v0: nBuckets files
        val sid = graft.sinks.SinkWriter.streamIdentity(s"$path-probe-ckpt")
        val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
        (1 until nVersions).foreach { i =>
          val batch = spark.range(1).select(
            lit((i.toLong * 37) % (nBuckets * 4L)).as("bkey"),
            concat(lit("w"), lit(i)).as("payload"))
          val t0 = System.nanoTime()
          graft.sinks.SinkWriter.write(spark, batch, sink, Some(i.toLong -> sid))
          lat += (System.nanoTime() - t0) / 1e9
        }
        def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
        val early = med(lat.take(10).toSeq); val late = med(lat.takeRight(10).toSeq)
        // replay-guard read: one backward scan to the newest tagged
        // manifest + return, NO Spark job — the hot no-op path
        val t1 = System.nanoTime()
        graft.sinks.SinkWriter.write(spark,
          spark.range(1).select(lit(0L).as("bkey"), lit("x").as("payload")),
          sink, Some(1L -> sid))
        val tHwm = (System.nanoTime() - t1) / 1e9
        // snapshot metadata read: log listing + newest manifest parse
        val t2 = System.nanoTime()
        val nFiles = graft.sources.VersionedParquet.snapshotFileCount(path)
        val tSnap = (System.nanoTime() - t2) / 1e9
        // conflict abort: stale base half the history back, overlapping
        // touched bucket → the breadcrumb search walks ~V/2 manifests
        val vs = graft.sources.VersionedParquet.versions(path)
        val base = vs(vs.size / 2)
        val touchedKey = ((vs.size / 2 + 1).toLong * 37) % (nBuckets * 4L)
        val touchedBucket = spark.range(1).select(lit(touchedKey).as("bkey"))
          .select(graft.operators.Scd2.bucketCol(Seq("bkey"), nBuckets))
          .head().getInt(0)
        val frame = graft.sources.VersionedParquet.readPartitions(
          spark, path, Seq(touchedBucket.toString))
        val t3 = System.nanoTime()
        val conflicted = try {
          graft.sources.VersionedParquet.overwritePartitions(frame, path,
            "scd_bucket", Seq(touchedBucket.toString), Some(base))
          false
        } catch { case _: graft.sources.VersionedParquet.ConflictException => true }
        val tConf = (System.nanoTime() - t3) / 1e9
        // vacuum walk with nothing to drop: parse every kept manifest +
        // orphan-scan the data root — the pure metadata-walk cost
        val t4 = System.nanoTime()
        graft.sources.VersionedParquet.vacuum(path, keepVersions = nVersions + 8)
        val tVac = (System.nanoTime() - t4) / 1e9
        println(f"[scale-manifest] V=$nVersions%4d B=$nBuckets%5d files=$nFiles%5d  " +
          f"commit_early=$early%5.2fs commit_late=$late%5.2fs  " +
          f"hwm_replay=${tHwm * 1000}%7.1fms  snap_meta=${tSnap * 1000}%7.1fms  " +
          f"conflict=${tConf * 1000}%7.1fms(hit=$conflicted)  " +
          f"vacuum_walk=${tVac * 1000}%7.1fms")
        spark.catalog.clearCache()
      }
      // version axis (1×/4×/16×) at fixed buckets, then bucket axis at
      // fixed history — the two dimensions the metadata walk scales in
      Seq(40, 160, 640).foreach(v => runManifest(v, 256))
      Seq(1024, 4096).foreach(b => runManifest(40, b))
    }

    if (on("scd2v")) Seq(1, 4, 16).foreach { k =>
      val path = java.nio.file.Files
        .createTempDirectory("scaleprobe_scd2v").toString + "/dim"
      val nBuckets = 256 * k
      val dim = spark.range(k.toLong * 200000L).select(
        col("id").as("bkey"),
        concat(lit("v"), col("id")).as("payload"))
      val sink = graft.config.SinkSpec("dim", loadType = "scdType2Insert",
        format = "parquet", path = Some(path),
        scdKeys = Seq("bkey"), scdTrackedCols = Seq("payload"),
        options = Map("scdBuckets" -> nBuckets.toString))
      val t0i = System.nanoTime()
      graft.sinks.SinkWriter.write(spark, dim, sink)
      val dtInit = (System.nanoTime() - t0i) / 1e9
      // fixed-size batch: 50 keys spread over the id space touch ≤ 50
      // of the 256·K buckets (constant rows behind them, since bucket
      // size is constant by the sizing rule) — the merge must read and
      // rewrite only those
      val batch = spark.range(50).select(
        (col("id") * lit(k.toLong * 4000L)).as("bkey"),
        concat(lit("w"), col("id")).as("payload"))
      val t0 = System.nanoTime()
      graft.sinks.SinkWriter.write(spark, batch, sink)
      val dt = (System.nanoTime() - t0) / 1e9
      val cur = graft.sources.VersionedParquet.read(spark, path)
        .filter(col("is_current")).count()
      println(f"[scale-scd2v] dim=${k * 200000}%8d  buckets=$nBuckets%5d  " +
        f"init=$dtInit%6.2fs  batch=50  merge=$dt%6.2fs  current=$cur")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
