package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.x.{Dedup, EventAnalytics, Layout, TextAnalysis}
import graft.sources.VersionedParquet

/** Round-3 guard behaviors (ADVICE r2 + VERDICT r2 skew caps): each test
  * pins the FIX, not just the happy path — null routing, vacuumed-history
  * errors, quote-safe funnel stages, id-type widening, and the
  * document-frequency / block-size caps with their audit surfaces. */
class GuardsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bloomDecontaminate routes NULL-text rows exactly like decontaminate") {
    val train = Seq((1L, "keep me"), (2L, "drop me"), (3L, null.asInstanceOf[String]),
      (4L, "also keep")).toDF("doc_id", "text")
    val bench = Seq(Tuple1("drop me")).toDF("text")
    val exact = TextAnalysis.decontaminate(train, bench, "text", "doc_id")
    val bloom = TextAnalysis.bloomDecontaminate(train, bench, "text", "doc_id",
      expectedItems = 100L)
    // the NULL-text row must survive BOTH paths (a NULL fingerprint cannot
    // be in the benchmark set); before the fix the bloom path dropped it
    assert(exact.filter(col("doc_id") === 3L).count() == 1)
    assert(bloom.filter(col("doc_id") === 3L).count() == 1)
    assert(exact.exceptAll(bloom).isEmpty && bloom.exceptAll(exact).isEmpty)
  }

  test("readChanges fails loudly when fromVersion predates vacuumed history") {
    val dir = java.nio.file.Files.createTempDirectory("vp_vacuum_guard").toString
    val t = s"$dir/tbl"
    VersionedParquet.write(Seq((1L, "a")).toDF("id", "v"), t, "overwrite") // v0
    VersionedParquet.write(Seq((2L, "b")).toDF("id", "v"), t, "append")    // v1
    VersionedParquet.write(Seq((3L, "c")).toDF("id", "v"), t, "append")    // v2
    // full history retained: change feed from the beginning is fine
    assert(VersionedParquet.readChanges(spark, t, -1L).count() == 3)
    VersionedParquet.vacuum(t, keepVersions = 2) // drops v0's manifest
    // watermark inside retained history still works (v1 survives as prev)
    assert(VersionedParquet.readChanges(spark, t, 1L)
      .filter(col("_change_type") === "insert").count() == 1)
    // watermark older than retained history must error, not fabricate a
    // snapshot-sized "insert" delta that double-counts carried rows
    val e = intercept[IllegalArgumentException] {
      VersionedParquet.readChanges(spark, t, 0L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("versioned table: racing writers claim distinct versions, no manifest clobbered") {
    val dir = java.nio.file.Files.createTempDirectory("vp_race").toString
    val t = s"$dir/tbl"
    VersionedParquet.write(Seq((0L, "seed")).toDF("id", "v"), t, "overwrite")
    // two writers race the commit: the per-table commit lock serializes
    // allocation + carried-list computation + publish, so they land on
    // DISTINCT versions AND the later commit's carried file list includes
    // the earlier one's files — concurrent appends LINEARIZE (r14; the
    // r13 protocol serialized version numbers only and documented the
    // lost-update window as a caller contract).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val futures = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          gate.await()
          VersionedParquet.write(Seq((i.toLong, s"w$i")).toDF("id", "v"), t, "append")
        }
      })
    }
    gate.countDown()
    futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val vs = VersionedParquet.versions(t)
    assert(vs.size == 3, s"expected seed + 2 distinct appended versions, got $vs")
    // every manifest parses and reads (nothing clobbered or truncated);
    // linearized appends: the newest snapshot carries BOTH writers' rows
    // no matter how their stages interleaved
    vs.foreach(v => VersionedParquet.read(spark, t, Some(v)).count())
    assert(VersionedParquet.read(spark, t).count() == 3,
      "a concurrent append's files were dropped from the final manifest")
  }

  test("versioned-table maintenance is config-dispatchable: vacuumVersions " +
      "reclaims history, compactVersioned bounds files and refuses " +
      "partition-scoped tables (VERDICT r13 #3)") {
    import graft.run.TransformFunctions
    def step(fn: String, opts: (String, String)*) = graft.config.TransformStep(
      functionName = fn, sqlQuery = "", outputDFName = fn + "_out",
      countValidation = None, options = opts.toMap)
    val dir = java.nio.file.Files.createTempDirectory("vp_maint").toString
    val t = s"$dir/tbl"
    VersionedParquet.write(Seq((1L, "a")).toDF("id", "v"), t, "overwrite")
    VersionedParquet.write(Seq((2L, "b")).toDF("id", "v"), t, "append")
    VersionedParquet.write(Seq((3L, "c")).toDF("id", "v"), t, "append")
    // compact the 3-file snapshot to 1 as a config step
    val c = TransformFunctions.dispatch(spark,
      step("compactVersioned", "path" -> t, "targetFiles" -> "1")).head()
    assert(c.getAs[Int]("snapshot_files") == 1 && c.getAs[Int]("versions") == 4)
    assert(VersionedParquet.read(spark, t).count() == 3)
    // vacuum history down to the latest version as a config step
    val v = TransformFunctions.dispatch(spark,
      step("vacuumVersions", "path" -> t, "keepVersions" -> "1")).head()
    assert(v.getAs[Int]("versions_kept") == 1 && v.getAs[Int]("files_removed") >= 3)
    assert(VersionedParquet.read(spark, t).count() == 3)
    // the partition-scoped refusal surfaces through the dispatch path too
    val pt = s"$dir/ptbl"
    VersionedParquet.writePartitioned(
      Seq((1L, "x", "0"), (2L, "y", "1")).toDF("id", "v", "b"), pt, "b")
    val e = intercept[IllegalArgumentException] {
      TransformFunctions.dispatch(spark, step("compactVersioned", "path" -> pt))
    }
    assert(e.getMessage.contains("partition-scoped"), e.getMessage)
    // a typo'd knob is a loud config error, same rule as every entry
    val typo = intercept[RuntimeException] {
      TransformFunctions.dispatch(spark,
        step("vacuumVersions", "path" -> t, "keepVersion" -> "2"))
    }
    assert(typo.getMessage.contains("unknown options"), typo.getMessage)
  }

  test("funnel stages containing quotes neither break the parse nor the match") {
    def at(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val events = Seq(
      (1L, at(1), 10L, "it's view"), (1L, at(2), 11L, "o'brien buy"),
      (2L, at(3), 12L, "it's view")).toDF("user_id", "ts", "event_id", "etype")
    val out = EventAnalytics.funnel(events, "user_id", "ts", "event_id", "etype",
      Seq("it's view", "o'brien buy")).orderBy("stage_idx").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1, "it's view", 2L), (2, "o'brien buy", 1L)))
    val within = EventAnalytics.funnelWithin(events, "user_id", "ts", "event_id",
      "etype", Seq("it's view", "o'brien buy"), "2 minutes")
    assert(within.count() == 2)
  }

  test("connectedComponents widens Int ids on the driver fast path") {
    val pairs = Seq((1, 2), (2, 3), (10, 11)).toDF("id_a", "id_b")
    // before the fix: ClassCastException (IntegerType rows read via getLong)
    val comp = Dedup.connectedComponents(pairs)
    val byComp = comp.groupBy("comp").agg(sort_array(collect_list("id")).as("ids"))
      .collect().map(_.getAs[Seq[Long]]("ids").toList).toSet
    assert(byComp == Set(List(1L, 2L, 3L), List(10L, 11L)))
  }

  test("ngramJaccardPairs document-frequency cap drops only stop-gram overlap") {
    // docs 1,2: genuine near-dups; every doc shares the stop trigram
    // "of the and"; docs 3-6 overlap ONLY through it
    val docs = Seq(
      (1L, "alpha beta gamma delta of the and"),
      (2L, "alpha beta gamma delta of the and epsilon"),
      (3L, "zeta eta theta of the and"),
      (4L, "iota kappa lambda of the and"),
      (5L, "mu nu xi of the and"),
      (6L, "omicron pi rho of the and")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
      threshold = 0.1)
    // cap at df>3: the 6-doc stop-grams leave the universe; the true pair
    // survives on its discriminative grams, stop-gram-only pairs vanish
    val capped = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
      threshold = 0.1, maxDocFreq = 3)
    val cappedPairs = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cappedPairs.contains((1L, 2L)))
    assert(uncapped.count() > capped.count())
    // audit surface: the hot grams are reported, hottest first
    val hot = Dedup.hotShingles(docs, "text", "doc_id", n = 3, maxDocFreq = 3)
    assert(hot.count() >= 1)
    assert(hot.select(max("__df")).as[Long].head() == 6L)
    // a cap nothing exceeds is bit-identical to the uncapped default
    val wide = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
      threshold = 0.1, maxDocFreq = 1000)
    assert(uncapped.exceptAll(wide).isEmpty && wide.exceptAll(uncapped).isEmpty)
  }

  test("editDistancePairs block cap sub-bands oversized blocks deterministically") {
    val rows = (0 until 40).map(i => (i.toLong, s"document number $i", "big")) :+
      (99L, "tiny block doc", "small")
    val df = rows.toDF("doc_id", "text", "source")
    val uncapped = Dedup.editDistancePairs(df, "text", "doc_id", "source",
      maxDist = 3)
    // cap far above every block: identical output
    val wide = Dedup.editDistancePairs(df, "text", "doc_id", "source",
      maxDist = 3, maxBlock = 1000)
    assert(uncapped.exceptAll(wide).isEmpty && wide.exceptAll(uncapped).isEmpty)
    // cap of 10 splits the 40-row block into 4 salts: pairs only form
    // within a salt, so the capped result is a strict subset
    val capped = Dedup.editDistancePairs(df, "text", "doc_id", "source",
      maxDist = 3, maxBlock = 10)
    assert(capped.count() < uncapped.count())
    assert(capped.exceptAll(uncapped).isEmpty)
    // and deterministic: same call, same pairs
    val again = Dedup.editDistancePairs(df, "text", "doc_id", "source",
      maxDist = 3, maxBlock = 10)
    assert(capped.exceptAll(again).isEmpty && again.exceptAll(capped).isEmpty)
    val over = Dedup.oversizedBlocks(df, "source", maxBlock = 10).collect()
    assert(over.length == 1 && over.head.getString(0) == "big" &&
      over.head.getInt(2) == 4)
  }

  test("editDistancePairs absorbs mass duplication via the prefix collapse; " +
    "oversizedPrefixBlocks is the audit that matches the cap") {
    import spark.implicits._
    // 200 copies of ONE text + 3 distinct texts, all in one block: the
    // raw-row audit flags the block, but the operator's distinct-prefix
    // cap never salts (4 distinct prefixes), so recall stays full
    val rows = (0 until 200).map(i => (i.toLong, "the same boilerplate text", "s")) ++
      Seq((900L, "the same boilerplate texx", "s"),
        (901L, "something else entirely here", "s"),
        (902L, "zzz unrelated third string", "s"))
    val df = rows.toDF("doc_id", "text", "source")
    assert(Dedup.oversizedBlocks(df, "source", maxBlock = 50).count() == 1)
    assert(Dedup.oversizedPrefixBlocks(df, "text", "source",
      maxBlock = 50).isEmpty, "4 distinct prefixes must not flag at cap 50")
    val pairs = Dedup.editDistancePairs(df, "text", "doc_id", "source",
      maxDist = 2, maxBlock = 50)
    // all 200·199/2 identical-copy pairs at dist 0, plus every copy
    // paired with the 1-edit variant — nothing lost to salting
    assert(pairs.filter(col("dist") === 0).count() == 200L * 199 / 2)
    assert(pairs.filter(col("dist") === 1).count() == 200)
    // and the distinct-prefix cap still salts genuine prefix diversity:
    // 4 distinct prefixes over cap 2 -> flagged with 2 sub-bands
    val pover = Dedup.oversizedPrefixBlocks(df, "text", "source",
      maxBlock = 2).collect()
    assert(pover.length == 1 && pover.head.getLong(1) == 4 &&
      pover.head.getInt(2) == 2, s"got ${pover.mkString(",")}")
    // the dist-0 output-volume audit prices the unbounded quadratic mass
    // the maxBlock knob deliberately does not cap: one group of 200
    // copies -> 200*199/2 pair rows, and that count equals what the
    // operator actually emitted at dist 0 above
    val mass = Dedup.exactPrefixDupMass(df, "text", "source").collect()
    assert(mass.length == 1 && mass.head.getAs[Long]("members") == 200L &&
      mass.head.getAs[Long]("dist0_pairs") == 200L * 199 / 2,
      s"got ${mass.mkString(",")}")
  }

  test("operators stage through a durable path identically to local checkpoints") {
    val root = java.nio.file.Files.createTempDirectory("graft_staging").toString
    val st = new graft.util.Staging.PathStaging(root)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "completely different words over here now"),
      (4L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val local = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      n = 3, k = 8, bands = 4, threshold = 0.3)
    val staged = Dedup.minhashNearDupPairs(docs, "text", "doc_id",
      n = 3, k = 8, bands = 4, threshold = 0.3, staging = st)
    assert(local.exceptAll(staged).isEmpty && staged.exceptAll(local).isEmpty)
    // the intermediates really went through the path, named per artifact
    val names = st.stagedPaths.map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(names.exists(_.endsWith("minhash-signatures")))
    assert(names.exists(_.endsWith("lsh-candidates")))
    assert(names.exists(_.endsWith("neardup-pairs")))
    // per-round label staging on the distributed components path
    val pairs = staged.select("id_a", "id_b")
    val localCc = Dedup.connectedComponents(pairs, driverThreshold = 0L)
    val stagedCc = Dedup.connectedComponents(pairs, driverThreshold = 0L, staging = st)
    assert(localCc.exceptAll(stagedCc).isEmpty && stagedCc.exceptAll(localCc).isEmpty)
    assert(st.stagedPaths.map(p => p.substring(p.lastIndexOf('/') + 1))
      .exists(_.endsWith("cc-labels-0")))
    st.cleanup()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root)))
  }

  test("simhash bucket cap drops only the mass-duplicate class, auditable") {
    // 30 identical boilerplate docs (one simhash → one bucket per chunk)
    // plus two distinct near-dup docs the capped run must still find
    val boiler = (1L to 30L).map(i =>
      (i, "cookie consent banner please accept our terms and conditions"))
    // identical pair (hamming 0 — deterministic at any bound): the test
    // pins the CAP's behavior, recall-at-distance is pinned elsewhere
    val real = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val df = (boiler ++ real).toDF("doc_id", "text")
    val capped = Dedup.simhashNearDupPairs(df, "text", "doc_id",
      maxHamming = 3, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate class (435 pairs uncapped) is dropped wholesale…
    assert(capped.forall { case (a, b) => a >= 100L && b >= 100L })
    // …while pairs outside hot buckets survive
    assert(capped.contains((100L, 101L)))
    // and the drop is auditable: every chunk's boiler bucket at occupancy 30
    val over = Dedup.oversizedSimhashBuckets(df, "text", "doc_id",
      maxHamming = 3, maxBucket = 10).collect()
    assert(over.nonEmpty && over.forall(_.getLong(2) == 30L))
    // cap above occupancy ⇒ bit-identical to uncapped (the oracle contract)
    val wide = Dedup.simhashNearDupPairs(df, "text", "doc_id",
      maxHamming = 3, maxBucket = 1000)
    val un = Dedup.simhashNearDupPairs(df, "text", "doc_id",
      maxHamming = 3, maxBucket = Int.MaxValue)
    assert(wide.exceptAll(un).isEmpty && un.exceptAll(wide).isEmpty)
  }

  test("cosine bucket cap drops only the mass-duplicate bucket, auditable") {
    import graft.x.Similarity
    val rnd = new scala.util.Random(7)
    def vec(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextFloat() * 2 - 1)
    }
    // 40 copies of ONE vector (zero-information embedding batch) + two
    // near-identical distinct vectors + background noise
    val v = vec(1)
    val near = v.clone(); near(0) = near(0) + 1e-4f
    val boiler = (1000L to 1039L).map(i => (i, Array.fill(64)(0.5f)))
    val rows = boiler ++ Seq((1L, v), (2L, near)) ++
      (10L to 29L).map(i => (i, vec(i.toInt)))
    val corpus = rows.toDF("vec_id", "embedding")
    val capped = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.99, dim = 64, planes = 4, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)), "near-identical pair outside the hot bucket survives")
    assert(capped.forall { case (a, b) => a < 1000L && b < 1000L },
      "the 40-copy bucket is dropped wholesale")
    val over = Similarity.oversizedSignatureBuckets(corpus, "embedding",
      dim = 64, planes = 4, maxBucket = 10).collect()
    assert(over.length >= 1 && over.exists(_.getLong(1) >= 40L))
    // cap above occupancy ⇒ identical to uncapped
    val wide = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.99, dim = 64, planes = 4, maxBucket = 1000)
    val un = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
      threshold = 0.99, dim = 64, planes = 4, maxBucket = Int.MaxValue)
    assert(wide.exceptAll(un).isEmpty && un.exceptAll(wide).isEmpty)
  }

  test("LSH bucket cap is auditable: dropped buckets surface with occupancy") {
    // 30 identical docs: every band bucket holds all 30 signatures
    val docs = (1L to 30L).map(i => (i, "same exact content every time here"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleHashes(docs, "text", "doc_id", n = 3)
    val sigs = Dedup.minhashSignatures(sh, "doc_id", k = 8)
    val over = Dedup.oversizedLshBuckets(sigs, "doc_id", k = 8, bands = 4,
      maxBucket = 10).collect()
    assert(over.length == 4 && over.forall(_.getLong(2) == 30L))
    // and the capped candidate generation really drops them
    assert(Dedup.lshCandidatePairs(sigs, "doc_id", k = 8, bands = 4,
      maxBucket = 10).count() == 0)
    assert(Dedup.lshCandidatePairs(sigs, "doc_id", k = 8, bands = 4,
      maxBucket = 100).count() == 30L * 29 / 2)
  }

  test("derived maxDocFreq cap scales with the corpus and stays exact under it") {
    // the formula: 1000 floor until 0.5% of the corpus exceeds it
    assert(Dedup.deriveDocFreqCap(500L) == 1000)
    assert(Dedup.deriveDocFreqCap(200000L) == 1000)
    assert(Dedup.deriveDocFreqCap(1000000L) == 5000)
    assert(Dedup.deriveDocFreqCap(1000000000L) == 5000000)
    // exactness property: when no gram's df exceeds the derived cap (true
    // for any corpus under 1000 docs — df ≤ nDocs ≤ floor), the derived
    // default is BIT-identical to an uncapped run
    val docs = Seq(
      (1L, "alpha beta gamma delta of the and"),
      (2L, "alpha beta gamma delta of the and epsilon"),
      (3L, "zeta eta theta of the and"),
      (4L, "iota kappa lambda of the and")).toDF("doc_id", "text")
    val derived = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
      threshold = 0.1) // default = DerivedDocFreqCap
    val uncapped = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
      threshold = 0.1, maxDocFreq = Int.MaxValue)
    assert(derived.exceptAll(uncapped).isEmpty && uncapped.exceptAll(derived).isEmpty)
    val derivedC = Dedup.containmentPairs(docs, "text", "doc_id", n = 3,
      threshold = 0.3)
    val uncappedC = Dedup.containmentPairs(docs, "text", "doc_id", n = 3,
      threshold = 0.3, maxDocFreq = Int.MaxValue)
    assert(derivedC.exceptAll(uncappedC).isEmpty && uncappedC.exceptAll(derivedC).isEmpty)
    // invalid caps fail loudly, not as a silent uncapped run
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
        threshold = 0.1, maxDocFreq = 0).count()
    }
  }

  test("fingerprint-store compaction bounds small files without changing admissions") {
    import graft.sources.VersionedParquet
    def store() = java.nio.file.Files
      .createTempDirectory("fp_compact").resolve("fps").toString
    val (raw, compacted) = (store(), store())
    def batch(day: Int) = // 3 new docs/day + 2 repeats of day-0 content
      ((0 until 3).map(i => (day * 10L + i, s"day $day doc $i")) ++
        Seq((day * 10L + 8, "day 0 doc 0"), (day * 10L + 9, "day 0 doc 1")))
        .toDF("doc_id", "text")
    // 12 daily batches against both stores: maintenance OFF vs compact at 6
    val admits = (0 until 12).map { d =>
      val a = Dedup.incrementalExact(batch(d), "text", "doc_id", raw,
        compactAtFiles = 0).select("doc_id").as[Long].collect().sorted.toSeq
      val b = Dedup.incrementalExact(batch(d), "text", "doc_id", compacted,
        compactAtFiles = 6, compactTarget = 2).select("doc_id").as[Long]
        .collect().sorted.toSeq
      (a, b)
    }
    // identical admissions every day — compaction is invisible to dedup
    admits.foreach { case (a, b) => assert(a == b) }
    // day-0 repeats dedup IN-batch, later repeats against the store: every
    // day admits exactly its 3 first-seen docs
    admits.foreach { case (a, _) => assert(a.size == 3) }
    // the raw store accumulated one file set per day; the compacted one is
    // bounded by the maintenance target regardless of history length
    assert(VersionedParquet.snapshotFileCount(raw) >= 12)
    assert(VersionedParquet.snapshotFileCount(compacted) <= 6)
    // and the fingerprint SETS are identical — compaction rewrote layout only
    val fa = VersionedParquet.read(spark, raw).as[Long].collect().toSet
    val fb = VersionedParquet.read(spark, compacted).as[Long].collect().toSet
    assert(fa == fb)
  }

  test("band-store compaction bounds small files without changing admissions") {
    import graft.sources.VersionedParquet
    def store() = java.nio.file.Files
      .createTempDirectory("band_compact").resolve("bands").toString
    val (raw, compacted) = (store(), store())
    def batch(day: Int) = {
      // every token carries the (day, i) tag, so docs share NO shingles
      // across tags; 8/9 are exact copies of day-0 docs 0/1
      def doc(i: Long, tag: String) =
        (day * 10L + i, (1 to 10).map(t => s"w${t}_$tag").mkString(" "))
      ((0L until 3L).map(i => doc(i, s"${day}_$i")) ++
        Seq(doc(8L, "0_0"), doc(9L, "0_1"))).toDF("doc_id", "text")
    }
    val admits = (0 until 12).map { d =>
      val a = Dedup.incrementalNearDup(batch(d), "text", "doc_id", raw,
        compactAtFiles = 0).select("doc_id").as[Long].collect().sorted.toSeq
      val b = Dedup.incrementalNearDup(batch(d), "text", "doc_id", compacted,
        compactAtFiles = 6, compactTarget = 2).select("doc_id").as[Long]
        .collect().sorted.toSeq
      (a, b)
    }
    // identical admissions every day — compaction is invisible to dedup
    admits.foreach { case (a, b) => assert(a == b) }
    // day 0 admits its 3 fresh docs (8/9 are copies of 0/1); later days
    // admit 3 fresh docs, their 8/9 rows blocked by the persistent store
    admits.foreach { case (a, _) => assert(a.size == 3) }
    assert(VersionedParquet.snapshotFileCount(raw) >= 12)
    assert(VersionedParquet.snapshotFileCount(compacted) <= 6)
    // bucket SETS identical — compaction rewrote layout only
    val fa = VersionedParquet.read(spark, raw)
      .select("band", "bh").as[(Int, Long)].collect().toSet
    val fb = VersionedParquet.read(spark, compacted)
      .select("band", "bh").as[(Int, Long)].collect().toSet
    assert(fa == fb)
  }

  test("zValue clamps negative cells instead of aliasing them high") {
    val df = Seq((-5L, 3L), (0L, 3L)).toDF("x", "y")
    val zs = df.select(Layout.zValue(col("x"), col("y"), 12).as("z"))
      .as[Long].collect()
    assert(zs(0) == zs(1)) // negative x behaves as cell 0, not cell 4095
  }

  test("readSmallFile returns the complete marker and caps corruption") {
    val dir = java.nio.file.Files.createTempDirectory("graft-marker")
    val p = new org.apache.hadoop.fs.Path(s"$dir/_hwm")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // content longer than any single buffered chunk: the read must loop
    // to EOF, not return a prefix (a truncated watermark parses LOWER
    // and re-admits committed batches — the bug class this helper fixes)
    val content = ("15" + "\n" + "x" * 20000).getBytes("UTF-8")
    val out = fs.create(p, true); try out.write(content) finally out.close()
    val got = graft.util.Fs.readSmallFile(fs, p)
    assert(java.util.Arrays.equals(got, content),
      s"read ${got.length} of ${content.length} bytes")
    // a multi-MiB "marker" is corruption worth failing on, not buffering
    val big = new org.apache.hadoop.fs.Path(s"$dir/_big")
    val o2 = fs.create(big, true)
    try o2.write(new Array[Byte](2 << 20)) finally o2.close()
    intercept[IllegalArgumentException] {
      graft.util.Fs.readSmallFile(fs, big)
    }
  }

  test("HostMetrics reads non-negative load and monotone steal on this kernel") {
    // both helpers return -1.0 BY DESIGN where the metric doesn't exist
    // (no getSystemLoadAverage, no /proc/stat steal field — macOS,
    // Windows, some container kernels): cancel there instead of failing
    assume(graft.util.HostMetrics.loadAvg() >= 0.0,
      "load average unavailable on this platform")
    val s1 = graft.util.HostMetrics.stealSec()
    assume(s1 >= 0.0, "steal metric unavailable on this platform")
    val s2 = graft.util.HostMetrics.stealSec()
    assert(s2 >= s1, s"steal not monotone: $s1 -> $s2")
  }

  test("HostMetrics signature gate holds under ANSI; task-CPU settle is bounded") {
    import graft.util.HostMetrics.{TaskCpu, signature}
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val cpu = TaskCpu.on(spark)
    try {
      val base = spark.range(1000).select(col("id"), (col("id") % 7).as("g"))
      // the data does overflow a BIGINT sum of row hashes under ANSI —
      // the failure the DECIMAL signature exists to avoid
      intercept[ArithmeticException] {
        base.select(sum(xxhash64(col("g"), col("id")))).head()
      }
      val sig = signature(base)
      assert(sig._2 == 1000L)
      // shuffled row order and column order: same content, same signature
      assert(signature(base.repartition(5).orderBy(rand(7)).select("g", "id")) == sig)
      // one changed value
      assert(signature(base.withColumn("g",
        when(col("id") === 500L, lit(99L)).otherwise(col("g")))) != sig)
      // one duplicated row
      val dup = signature(base.unionAll(base.filter(col("id") === 3L)))
      assert(dup._2 == 1001L && dup._3 != sig._3)

      // settled CPU after a job that does work is positive
      val c0 = cpu.settled()
      spark.range(0, 3000000, 1, 4).selectExpr("sum(id * id % 13)").head()
      assert(cpu.settled() > c0)
      // and a settle returns within its ~2 s bound even while task-end
      // events keep arriving from a concurrent job stream
      @volatile var busy = true
      val bg = new Thread(() => while (busy) spark.range(0, 20000, 1, 8).count())
      bg.start()
      try {
        Thread.sleep(300)
        val t0 = System.nanoTime()
        cpu.settled()
        val secs = (System.nanoTime() - t0) / 1e9
        assert(secs < 3.0, s"settle took ${secs}s")
      } finally { busy = false; bg.join() }
    } finally {
      spark.sparkContext.removeSparkListener(cpu)
      spark.conf.set("spark.sql.ansi.enabled", ansi)
    }
  }

  test("staged frames carry exact statistics: one job, true row count, no compounding") {
    import graft.util.Staging
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
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
    def stats(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.stats

    val df = spark.range(0, 10000, 1, 4).filter(col("id") % 3 =!= 0)
      .select(col("id"), (col("id") * 2).as("x"))
    val truth = df.count()
    spark.sparkContext.addSparkListener(listener)
    val staged = try {
      drain()
      val before = started.get
      val s = Staging.LocalCheckpoint.stage(df, "exact")
      drain()
      // the stage job, then the fence job
      assert(started.get - before == 2, s"stage ran ${started.get - before - 1} jobs, not 1")
      s
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(stats(staged).rowCount.contains(BigInt(truth)))
    // two non-null BIGINTs: an 8-byte null bitmap and two 8-byte words
    assert(stats(staged).sizeInBytes == BigInt(truth * 24))
    assert(staged.count() == truth)

    // BFS shape: each round joins the edges to the previous stage and
    // anti-joins it, so an estimate carried over from the origin plan
    // multiplies by the edge size every round
    val edges = Staging.LocalCheckpoint.stage(spark.range(0, 200)
      .select(col("id").as("src"), ((col("id") * 7 + 1) % 200).as("dst")), "edges")
    var visited = Staging.LocalCheckpoint.stage(
      spark.range(0, 1).select(col("id").as("node"), lit(0L).as("dist")), "v0")
    for (r <- 1 to 30) {
      val next = edges
        .join(visited.filter(col("dist") === r - 1).select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(r.toLong))
      visited = Staging.LocalCheckpoint.stage(visited.unionByName(next), s"v$r")
      val bits = stats(visited).sizeInBytes.bitLength
      assert(bits <= 64, s"round $r: staged sizeInBytes has $bits bits")
      assert(stats(visited).rowCount.contains(BigInt(visited.count())))
    }
    Staging.release(edges)
    Staging.release(visited)
  }
}
