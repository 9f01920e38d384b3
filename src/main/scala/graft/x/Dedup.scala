package graft.x

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2.9 X1/X2): exact, MinHash+LSH, SimHash, and exact n-gram
  * Jaccard verification. All pure DataFrame ops — no MLlib, no UDFs — so
  * every stage is shuffle-planned by Catalyst and codegen'd.
  *
  * Scale design:
  *  - exact dedup: one shuffle on the content hash (not the content itself —
  *    64-bit xxhash64 keys shuffle ~16 bytes/row instead of whole documents).
  *  - MinHash/LSH: cost is linear in corpus size — shingle explode →
  *    per-doc signature (one shuffle, map-side partial min) → band buckets →
  *    within-bucket candidate pairs only. No O(n²) cross join ever forms;
  *    skew guard drops degenerate buckets (> maxBucket) the way production
  *    near-dedup pipelines cap posting lists.
  *  - verification joins candidates back to shingle sets and computes true
  *    Jaccard, so LSH false positives are filtered exactly.
  */
object Dedup {

  /** X1 exact dedup on arbitrary key columns: deterministic keep-lowest
    * `tieBreaker` per key (dropDuplicates keeps an arbitrary row, which is
    * not reproducible across runs — a window is). */
  def exact(df: DataFrame, keys: Seq[String], tieBreaker: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tieBreaker).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact content dedup by 64-bit content hash — at 100 TB, shuffling the
    * hash instead of the document body is the difference between a 16-byte
    * and a multi-KB shuffle record per row. (Collision odds at 2⁶⁴ are
    * negligible for corpus sizes below ~10⁹ docs; use two seeds if not.) */
  def exactByContent(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    exact(df.withColumn("__ch", xxhash64(col(contentCol))), Seq("__ch"), idCol)
      .drop("__ch")

  /** Paragraph-level corpus dedup: split every document on `sep`, keep ONE
    * copy of each distinct paragraph corpus-wide (the lexicographically
    * first `(idCol, position)` occurrence), and reassemble the surviving
    * paragraphs back into documents. This is the sub-document granularity
    * between whole-doc [[exactByContent]] and span-level
    * [[repeatedPassages]]: boilerplate blocks (navigation, footers,
    * license stanzas) repeated across millions of pages are removed
    * everywhere but their first occurrence, while the unique prose around
    * them survives — dropping or keeping whole documents would do the
    * wrong thing on both counts.
    *
    * Whitespace-only paragraphs are dropped and separators normalized to
    * `sep` on reassembly; documents whose every paragraph was deduplicated
    * away come back with empty text (kept_paras = 0), so row counts are
    * auditable. Output: `(idCol, textCol (rebuilt), kept_paras,
    * total_paras)`.
    *
    * Shape at 100 TB: two shuffles, both linear — (1) paragraphs shuffle
    * by `(hash, paragraph)` for the keeper election (the 8-byte
    * [[graft.functions.PolyHash56]] prefix makes key comparisons cheap;
    * the paragraph itself stays in the key so the election is EXACT even
    * under hash collisions — the bytes ride the shuffle anyway for
    * reassembly); (2) survivors regroup by document. No self-join, no
    * skew surface: a paragraph duplicated n times is n rows in one
    * election group, reduced by a min — never n² anything. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol),
      posexplode(filter(split(col(textCol), java.util.regex.Pattern.quote(sep)),
        p => length(trim(p)) > 0)).as(Seq("__pos", "__para")))
    val w = Window.partitionBy(graft.functions.PolyHash56(col("__para")), col("__para"))
    paras
      .withColumn("__keep",
        min(struct(col(idCol).as("i"), col("__pos").as("p"))).over(w))
      .withColumn("__f", col("__keep.i") === col(idCol) && col("__keep.p") === col("__pos"))
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(when(col("__f"), struct(col("__pos"), col("__para"))))),
          s => s("__para"))).as(textCol),
        sum(when(col("__f"), 1L).otherwise(0L)).as("kept_paras"),
        count(lit(1)).as("total_paras"))
  }

  /** Incremental exact dedup against a persistent fingerprint store — the
    * form corpus dedup actually runs in production: each day's crawl batch
    * dedups within itself AND against everything ever admitted, without
    * re-reading historical documents. The store holds ONLY 8-byte content
    * fingerprints (portable PolyHash56 of whitespace-normalized text, so
    * the whole flow replays in the SQL oracle), committed through the
    * versioned table layer — so the store itself has atomic commits, time
    * travel, and compaction for the million-small-batches case.
    *
    * Returns the batch rows admitted (first-seen content, lowest `idCol`
    * per duplicate group) and appends their fingerprints as one commit.
    * Replay-safe: re-running an already-committed batch finds every
    * fingerprint in the store and admits nothing — idempotence on an
    * at-least-once scheduler, same contract as the SCD2 path.
    *
    * At 100 TB: the anti-join shuffles 8-byte hashes, never documents; a
    * decade of 10⁹ docs is ~8 GB of store — and the same Bloom-prefilter
    * trick as [[TextAnalysis.bloomDecontaminate]] turns the historical
    * probe map-side when even that join matters. The result is staged
    * BEFORE the store commit: the admitted set must not lazily re-read a
    * store that now contains its own fingerprints.
    *
    * Two-phase commit ordering: `persistAdmitted` (the caller's durable
    * write of the admitted rows) runs BEFORE the fingerprint-store commit.
    * A crash between the two phases replays as at-least-once — the rerun
    * re-admits and re-writes the same rows (so `persistAdmitted` should be
    * idempotent, e.g. an overwrite of the batch's output path) and then
    * commits the fingerprints. The inverse ordering would lose data: a
    * store commit that lands before the output is durable makes the replay
    * admit NOTHING, permanently dropping the batch's first-seen documents.
    * Callers that persist the returned frame themselves (tests, local
    * runs) accept that crash window by leaving the default no-op.
    *
    * NULL text fingerprints as the empty string (a NULL key would never
    * match the store's left_anti probe, so null-text rows would be
    * re-admitted on every replay and NULLs would pile up in the store);
    * the first null/empty-text row is admitted once and the class is
    * deduped thereafter like any other content.
    *
    * Store lifecycle: every batch appends one commit, so a year of daily
    * batches is ~365 small files — the anti-join probe goes
    * metadata-bound long before it goes data-bound. When the snapshot's
    * file count reaches `compactAtFiles`, the store is compacted to
    * `compactTarget` files as a new version (maintenance runs AFTER the
    * append commit, so the two-phase persist/commit ordering above is
    * untouched, and replay idempotence is snapshot-based — an overwrite
    * commit changes file layout, never the fingerprint set). The store is
    * fingerprints-only (8 bytes/row): a handful of files holds billions of
    * docs; size `compactTarget` ≈ store bytes / 256 MB on a cluster.
    * `compactAtFiles = 0` disables maintenance. */
  def incrementalExact(batch: DataFrame, textCol: String, idCol: String,
      storePath: String,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint,
      persistAdmitted: DataFrame => Unit = _ => (),
      compactAtFiles: Int = 64, compactTarget: Int = 4): DataFrame = {
    val spark = batch.sparkSession
    val fps = batch.withColumn("__fp",
      TextAnalysis.fingerprint(coalesce(col(textCol), lit(""))))
    val inBatch = exact(fps, Seq("__fp"), idCol)
    val unseen =
      if (graft.sources.VersionedParquet.versions(storePath).nonEmpty)
        inBatch.join(graft.sources.VersionedParquet.read(spark, storePath),
          Seq("__fp"), "left_anti")
      else inBatch
    val admitted = staging.stage(unseen, "incremental-dedup-admitted")
    val out = admitted.drop("__fp")
    persistAdmitted(out)
    if (admitted.limit(1).count() > 0) {
      graft.sources.VersionedParquet.write(admitted.select("__fp"), storePath, "append")
      if (compactAtFiles > 0 &&
          graft.sources.VersionedParquet.snapshotFileCount(storePath) >= compactAtFiles)
        graft.sources.VersionedParquet.compact(spark, storePath, compactTarget)
    }
    out
  }

  /** Incremental NEAR-dedup against a persistent band-bucket store — the
    * MinHash/LSH twin of [[incrementalExact]]: each batch admits only
    * documents that are near-duplicates of NEITHER the retained corpus
    * (all previously admitted documents, represented by their LSH band
    * buckets) NOR a smaller-id batch sibling, then appends the admitted
    * documents' buckets to the store. The store never holds text or
    * signatures — only distinct `(band, bh)` pairs, 12 bytes of state per
    * band per retained doc, so a billion-doc retained corpus is a few GB.
    *
    * Semantics (deterministic, engine-independent, oracle-replayed):
    *   1. store hit — any of the doc's `bands` buckets already in the
    *      store ⇒ dropped (near-dup of a retained doc, LSH-approximate
    *      exactly like [[minhashNearDupPairs]]'s candidate stage);
    *   2. intra-batch — among store MISSES, a doc is dropped iff some
    *      bucket it occupies contains a smaller-id miss. Each
    *      bucket-connected group admits its minimum like the
    *      keep-one-per-cluster convention; on a collision CHAIN
    *      (d1<d2<d3, buckets {d1,d2},{d2,d3}) this drops d3 where strict
    *      sequential greedy would admit it — the difference is confined
    *      to within-batch chains and documented here by design, because
    *      the bucket-minimum rule needs ONE aggregation where sequential
    *      greedy needs an iterative frontier.
    *
    * Shape at 100 TB: band buckets shuffle as (band, 8-byte fold) — never
    * text; the store probe is a semi-join on those 12-byte keys; the
    * intra-batch decision is a groupBy-min plus one co-keyed join-back —
    * NO candidate-pair materialization anywhere, so a mass-duplicate
    * batch (the boilerplate-crawl worst case) costs the same as a clean
    * one and there is no bucket cap to tune. Two-phase ordering, NULL
    * handling, replay idempotence and store compaction all follow
    * [[incrementalExact]]'s contract (null text hashes as the empty
    * string; `persistAdmitted` runs before the store commit; maintenance
    * compacts AFTER the append). */
  def incrementalNearDup(batch: DataFrame, textCol: String, idCol: String,
      storePath: String, n: Int = 3, k: Int = 32, bands: Int = 8,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint,
      persistAdmitted: DataFrame => Unit = _ => (),
      compactAtFiles: Int = 64, compactTarget: Int = 4,
      storeMeta: Map[String, String] = Map.empty): DataFrame = {
    val spark = batch.sparkSession
    val withTxt = batch.withColumn("__txt", coalesce(col(textCol), lit("")))
    // (id, band, bh): staged — referenced by the store probe, the
    // intra-batch decision (twice), and the store append
    val bb = staging.stage(
      bandBuckets(minhashSignatures(
        shingleHashes(withTxt, "__txt", idCol, n), idCol, k), idCol, k, bands),
      "incremental-neardup-bands")
    val hitIds =
      if (graft.sources.VersionedParquet.versions(storePath).nonEmpty)
        bb.join(graft.sources.VersionedParquet.read(spark, storePath),
            Seq("band", "bh"), "left_semi")
          .select(col(idCol)).distinct()
      else bb.select(col(idCol)).limit(0)
    val missBuckets = bb.join(hitIds, Seq(idCol), "left_anti")
    val bucketMin = missBuckets.groupBy(col("band"), col("bh"))
      .agg(min(col(idCol)).as("__bmin"))
    val blockedIds = missBuckets.join(bucketMin, Seq("band", "bh"))
      .filter(col("__bmin") < col(idCol))
      .select(col(idCol)).distinct()
    val admitted = staging.stage(
      batch.join(hitIds.union(blockedIds), Seq(idCol), "left_anti"),
      "incremental-neardup-admitted")
    persistAdmitted(admitted)
    if (admitted.limit(1).count() > 0) {
      val newBuckets = bb.join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
        .select("band", "bh").distinct()
      // storeMeta rides the version manifest — the streaming twin tags each
      // append with its stream replay watermark (VersionedParquet.batchMeta)
      // so an at-least-once replay can recognize a committed batch
      graft.sources.VersionedParquet.write(newBuckets, storePath, "append",
        storeMeta)
      if (compactAtFiles > 0 &&
          graft.sources.VersionedParquet.snapshotFileCount(storePath) >= compactAtFiles)
        graft.sources.VersionedParquet.compact(spark, storePath, compactTarget)
    }
    admitted
  }

  /** Word-level shingles (n-grams) of the whitespace-tokenized text.
    * Returns (idCol, shingle) exploded — distinct per doc. Tokenization is
    * materialized in its own projection (so the split runs once per row,
    * not once per reference inside the generator) and each gram is built
    * from n direct element_at lookups — no per-gram array slice copies. */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val toks = col("__toks")
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)
    )
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
      .select(col(idCol), explode(array_distinct(
        when(size(toks) >= n, grams).otherwise(array(concat_ws(" ", toks)))
      )).as("shingle"))
  }

  /** Hashed shingles (idCol, __sh): the 55-bit poly-hash of each distinct
    * word n-gram, via the fused [[graft.functions.NGramPolyHash]] — values
    * bit-identical to `PolyHash56(shingle string)` but with NO gram-string
    * materialization. This is the form every pipeline stage actually
    * consumes (signatures, co-shingle joins); the dominant explode+shuffle
    * carries 8-byte longs that never existed as strings. */
  def shingleHashes(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
      .select(col(idCol), explode(array_distinct(
        graft.functions.NGramPolyHash(col("__toks"), n))).as("__sh"))

  /** MinHash signature: k independent min-hashes per doc, as k agg columns
    * over the hashed shingles ([[shingleHashes]] output). One shuffle;
    * min() combines map-side.
    *
    * Permutations are universal affine transforms of ONE portable base hash
    * — `(a_i * (h mod M31) + b_i) mod M31` — instead of k seeded xxhash64
    * calls: one fold + k multiply-adds per shingle (cheaper), and the
    * whole signature is replayable in the DuckDB oracle
    * ([[graft.functions.PolyHash56]]). */
  def minhashSignatures(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    import graft.functions.{PortableHash => PH}
    val h31 = pmod(col("__sh"), lit(PH.M31))
    val aggs = (0 until k).map(i =>
      min((lit(PH.minhashA(i)) * h31 + lit(PH.minhashB(i))) % lit(PH.M31)).as(s"mh_$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Audit surface for [[lshCandidatePairs]]' `maxBucket` skew guard:
    * the (band, bucket-hash) buckets that exceed the cap and get dropped,
    * with their occupancy — no silent cap, same contract as
    * [[hotShingles]] / [[oversizedBlocks]]. */
  def oversizedLshBuckets(signatures: DataFrame, idCol: String, k: Int,
      bands: Int, maxBucket: Int): DataFrame =
    bandBuckets(signatures, idCol, k, bands)
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .orderBy(col("n").desc)

  /** X2 MinHash+LSH candidate pairs: band the k-signature into `bands`
    * rows of k/bands hashes; docs sharing any band bucket are candidates.
    * Returns distinct (id_a, id_b) with id_a < id_b.
    *
    * @param maxBucket skew guard: buckets larger than this are dropped
    *                  (degenerate shingles — e.g. empty docs — would
    *                  otherwise create a quadratic bucket); audit what was
    *                  dropped via [[oversizedLshBuckets]].
    */
  def lshCandidatePairs(
      signatures: DataFrame,
      idCol: String,
      k: Int,
      bands: Int,
      maxBucket: Int = 1000
  ): DataFrame = {
    val capped = bandBuckets(signatures, idCol, k, bands)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
      .filter(col("__n") <= maxBucket)
      .drop("__n")
    val a = capped.select(col("band"), col("bh"), col(idCol).as("id_a"))
    val b = capped.select(col("band"), col("bh"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** (idCol, band, bh): each signature's banded bucket memberships — the
    * band hash is a portable polynomial fold of the band's minhashes (each
    * < 2^31, so acc*131 + mh stays under 2^63 with the 55-bit mask). */
  private def bandBuckets(signatures: DataFrame, idCol: String, k: Int,
      bands: Int): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    val bandHashes = (0 until bands).map { b =>
      val folded = ((b * r) until ((b + 1) * r)).foldLeft(lit(0L)) {
        (acc, i) => (acc * 131 + col(s"mh_$i")).bitwiseAND(graft.functions.PolyHash56.Mask55)
      }
      struct(lit(b).as("band"), folded.as("bh"))
    }
    signatures
      .select(col(idCol), explode(array(bandHashes: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bh"))
  }

  /** Exact pairwise Jaccard over shingle sets for a candidate-pair frame —
    * the verification stage after LSH. Cost is proportional to the
    * CANDIDATES, not the corpus: hashed shingles ([[shingleHashes]]) are
    * first semi-joined down to docs that appear in a pair (LSH keeps that
    * set small by design), then co-shingle-joined on the 8-byte hash
    * (within-doc collision odds ~ grams²/2⁵⁵ — immaterial). Per-doc
    * `sizes` rides a broadcast, so the verify stage adds no extra shuffle
    * of the pair set. */
  def jaccardForPairs(sh: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val candDocs = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val shc = sh.join(broadcast(candDocs), Seq(idCol), "left_semi")
      .select(col(idCol), col("__sh"))
    val sizes = shc.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = shc.select(col(idCol).as("id_a"), col("__sh"))
      .join(shc.select(col(idCol).as("id_b"), col("__sh")), Seq("__sh"))
      .join(pairs, Seq("id_a", "id_b"), "left_semi")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("sz", "sz_a")), Seq("id_a"))
      .join(broadcast(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("sz", "sz_b")), Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }

  /** Sentinel for the exact pair family's `maxDocFreq`: derive the cap
    * from the corpus instead of trusting a fixed constant. See
    * [[deriveDocFreqCap]]. */
  val DerivedDocFreqCap: Int = -1

  /** Corpus-derived document-frequency cap: `max(1000, 0.5% of docs)`.
    *
    * Rationale: a word n-gram present in more than ~0.5% of a web corpus
    * is corpus-wide boilerplate ("of the and", cookie banners, license
    * headers) — it cannot discriminate near-duplicates at any useful
    * threshold, while its f² contribution to the co-shingle join grows
    * with the corpus. A FIXED default has no safe value: 100k is
    * exact-but-quadratic at 10⁹ docs (a df-100k gram still admits ~5×10⁹
    * pair rows) and 1k would cap legitimate grams in a 10⁷-doc corpus
    * slice with heavy templating. Scaling the cap with n keeps the
    * worst-case join volume Σf² ≤ (grams/cap)·cap² = grams·cap linear-ish
    * in corpus size at fixed cap FRACTION, and the 1000 floor keeps
    * verification-scale fixtures bit-identical to uncapped. */
  def deriveDocFreqCap(nDocs: Long): Int =
    math.max(1000L, math.ceil(nDocs * 0.005).toLong).min(Int.MaxValue.toLong).toInt

  /** Per-shingle document frequencies ABOVE `maxDocFreq` — the audit
    * surface for [[ngramJaccardPairs]]' skew cap, so a capped run is never
    * silent: callers inspect exactly which stop-grams were excluded and how
    * hot they were. Returns (__sh, __df) ordered hottest-first. */
  def hotShingles(df: DataFrame, textCol: String, idCol: String, n: Int,
      maxDocFreq: Int): DataFrame =
    shingleHashes(df, textCol, idCol, n)
      .groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .orderBy(col("__df").desc)

  /** Full exact n-gram-Jaccard near-dup pairs (co-shingle join → Jaccard ≥
    * threshold). Oracle-expressible in ANSI SQL; the MinHash path above is
    * the 100 TB approximation of exactly this.
    *
    * Skew guard (`maxDocFreq`): a stop-shingle appearing in f documents
    * contributes f² rows to the co-shingle self-join — ONE "of the and"
    * trigram across a web corpus re-creates the quadratic blowup the
    * operator otherwise avoids. Shingles with document frequency above the
    * cap are excluded from BOTH the intersection and the set sizes, i.e.
    * Jaccard is computed over the sub-cap shingle universe. The default is
    * [[DerivedDocFreqCap]]: the cap scales with the corpus
    * ([[deriveDocFreqCap]] — max(1000, 0.5% of docs)) instead of a fixed
    * constant that is quadratic at web scale; pass an explicit value to
    * pin it.
    *
    * Exactness: the capped result is BIT-IDENTICAL to uncapped whenever no
    * shingle's document frequency exceeds the cap (nothing is excluded —
    * true for the verification fixtures under the derived floor). When the
    * cap does bite, only corpus-wide boilerplate grams leave the universe,
    * and the error is bounded: a pair sharing h excluded grams with
    * sub-cap union u scores jaccard' ≥ (true_inter − h)/u, so a MISSED
    * pair at threshold t must have had more than (1−t)·|A∩B| of its
    * overlap inside df-above-cap stop-grams — i.e. its qualifying overlap
    * was majority boilerplate, which is exactly the overlap a near-dup
    * pipeline should not count. The excluded set is auditable via
    * [[hotShingles]] — no silent cap. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
      threshold: Double, maxDocFreq: Int = DerivedDocFreqCap,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame =
    coShinglePairScores(df, textCol, idCol, n, maxDocFreq, staging, "jaccard-pairs") {
      base => base
        .withColumn("jaccard", col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }

  /** Asymmetric containment pairs: overlap coefficient
    * `|grams(a) ∩ grams(b)| / min(|grams(a)|, |grams(b)|)` ≥ threshold —
    * the dedup measure Jaccard structurally MISSES when sizes differ: a
    * document fully quoted inside a 10× larger one has Jaccard ≤ 0.1 at
    * any threshold, but containment 1.0. Standard in training-data
    * pipelines for catching partial copies, quote-wrapped reposts, and
    * expanded re-edits. Same single co-shingle join (and the same
    * `maxDocFreq` skew cap — [[DerivedDocFreqCap]] by default, see
    * [[ngramJaccardPairs]] for the derivation and exactness bound — with
    * the [[hotShingles]] audit) as [[ngramJaccardPairs]]; only the
    * denominator differs. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
      threshold: Double, maxDocFreq: Int = DerivedDocFreqCap,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame =
    coShinglePairScores(df, textCol, idCol, n, maxDocFreq, staging, "containment-pairs") {
      base => base
        .withColumn("containment", col("inter").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"))
        .filter(col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    }

  /** Shared engine for the exact pairwise-overlap family: one capped
    * co-shingle self-join into per-pair (inter, sz_a, sz_b) stats, scored
    * by the caller. One co-shingle join straight into intersection counts
    * — materializing candidate pairs and re-joining would double the
    * dominant shuffle; co-grouped pairs that never share a shingle score 0
    * on any overlap measure, so skipping them is exact. Hashed shingles
    * from the start: the dominant shuffle carries longs that never existed
    * as gram strings. */
  private def coShinglePairScores(df: DataFrame, textCol: String, idCol: String,
      n: Int, maxDocFreq: Int, staging: graft.util.Staging, hint: String)(
      score: DataFrame => DataFrame): DataFrame = {
    require(maxDocFreq == DerivedDocFreqCap || maxDocFreq > 0,
      s"maxDocFreq must be positive or DerivedDocFreqCap, got $maxDocFreq")
    // the derived cap needs the doc count — one metadata-cheap count job
    // against the source, dwarfed by the co-shingle join it protects
    val cap =
      if (maxDocFreq == DerivedDocFreqCap) deriveDocFreqCap(df.count())
      else maxDocFreq
    // persisted: both join sides and the sizes agg reference it
    val shAll = shingleHashes(df, textCol, idCol, n).persist()
    // document-frequency cap: the hot set is tiny by construction (grams in
    // >maxDocFreq docs), so it broadcasts and the exclusion is a map-side
    // anti-join — no extra shuffle on the corpus-sized shingle stream
    val hot = shAll.groupBy(col("__sh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > cap).select("__sh")
    val sh = shAll.join(broadcast(hot), Seq("__sh"), "left_anti")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = sh.select(col(idCol).as("id_a"), col("__sh"))
      .join(sh.select(col(idCol).as("id_b"), col("__sh")), Seq("__sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val base = inter
      .join(broadcast(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("sz", "sz_a")), Seq("id_a"))
      .join(broadcast(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("sz", "sz_b")), Seq("id_b"))
    // materialize the (small) result, then release the shingle cache —
    // otherwise every call leaks pinned partitions into the session
    val out = staging.stage(score(base), hint)
    shAll.unpersist()
    out
  }

  /** Entity resolution over STRUCTURED records — the record-linkage
    * sibling of document dedup: rows whose `nameCol` differs only by
    * typo-level noise (OCR, re-keyed vendor names, crawl-duplicated
    * product titles) are clustered into one entity and each entity keeps
    * one canonical row. The classic three-stage shape:
    *
    *   0. exact-name collapse — the pairwise stage runs over DISTINCT
    *      `(nameCol, blockCol)` values, each represented by its minimum
    *      row id: a crawl with the same product title duplicated a
    *      million times costs one hash aggregation, not 10¹² levenshtein
    *      calls (the same stage-ordering principle as
    *      [[graft.x.Curation.curate]]);
    *   1. blocking + bounded verify — [[editDistancePairs]] within
    *      `blockCol` (pick it the way a real MDM pipeline does: region ×
    *      name prefix…), banded levenshtein ≤ `maxDist`, `maxBlock` skew
    *      cap + [[oversizedPrefixBlocks]] audit, all inherited;
    *   2. transitive closure — [[connectedComponents]] labels each
    *      member with the cluster's minimum id;
    *   3. canonical selection — the minimum-id member represents the
    *      entity (`entity_id` IS the representative's id, so references
    *      stay resolvable; name representatives are min-per-name, so the
    *      component minimum is the global minimum row id of the entity).
    *      Callers wanting a richer survivorship rule (most non-null
    *      fields, freshest capture) compose
    *      [[graft.operators.Validations.dedup]]'s keep-best ordering on
    *      `entity_id` instead — the same mechanism x64 uses for crawl
    *      consolidation.
    *
    * Returns one row per ENTITY: the canonical member's full row plus
    * `entity_id` and `n_members`. Cost is the capped Σ|distinct-block|²
    * verify plus key-keyed shuffles — never corpus-quadratic, and never
    * quadratic in DUPLICATION either. */
  def resolveEntities(df: DataFrame, idCol: String, nameCol: String,
      blockCol: String, maxDist: Int = 2, prefixLen: Int = 80,
      maxBlock: Int = 100000): DataFrame = {
    val nameKeys = df.groupBy(col(nameCol), col(blockCol))
      .agg(min(col(idCol)).as("__nk"))
    val pairs = editDistancePairs(
      nameKeys.select(col("__nk").as(idCol), col(nameCol), col(blockCol)),
      nameCol, idCol, blockCol, maxDist, prefixLen, maxBlock)
      .select("id_a", "id_b")
    val comps = connectedComponents(pairs)
    val entityOfName = nameKeys
      .join(comps.select(col("id").as("__nk"), col("comp")), Seq("__nk"), "left")
      .withColumn("entity_id", coalesce(col("comp"), col("__nk")))
      .select(col(nameCol), col(blockCol), col("entity_id"))
    val withEntity = df.join(entityOfName, Seq(nameCol, blockCol))
    val wEnt = Window.partitionBy("entity_id")
    withEntity
      .withColumn("n_members", count(lit(1)).over(wEnt))
      .filter(col(idCol) === col("entity_id"))
      .drop(idCol)
  }

  /** Generic block-cap audit: blocks whose ROW count exceeds `maxBlock`,
    * with the sub-band fan-out each one gets. NOTE: since the r9
    * exact-prefix collapse, [[editDistancePairs]]' salting decision keys
    * on DISTINCT (block, prefix) counts, not raw rows — audit that cap
    * with [[oversizedPrefixBlocks]], which replays the operator's own
    * collapsed frame; this raw-row form remains the audit for ops that
    * cap on rows (and the general-purpose block profiler). */
  def oversizedBlocks(df: DataFrame, blockCol: String, maxBlock: Int): DataFrame =
    df.groupBy(col(blockCol).as("b")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBlock)
      .withColumn("sub_bands", ceil(col("n") / maxBlock).cast("int"))
      .orderBy(col("n").desc)

  /** THE audit surface for [[editDistancePairs]]' cap: blocks whose
    * DISTINCT-prefix count exceeds `maxBlock` — computed over exactly
    * the collapsed (block, substring(text, 1, prefixLen)) frame the
    * operator salts on, so a flagged block here IS a salted
    * (recall-degraded, 1/sub_bands) block there and an unflagged block
    * ran at full recall. Pass the SAME prefixLen/maxBlock as the
    * operator call. */
  def oversizedPrefixBlocks(df: DataFrame, textCol: String,
      blockCol: String, maxBlock: Int, prefixLen: Int = 80): DataFrame =
    oversizedBlocks(
      df.select(col(blockCol).as("__b"),
          substring(col(textCol), 1, prefixLen).as("__p")).distinct(),
      "__b", maxBlock)

  /** Audit surface for [[editDistancePairs]]' UNBOUNDED dist-0 output
    * (see the output-volume contract in its scaladoc): the exact-prefix
    * groups with ≥ 2 members, each with the m·(m−1)/2 pair rows it will
    * emit, largest first. Run this BEFORE the join on a corpus suspected
    * of mass duplication — the summed `dist0_pairs` column IS the output
    * volume the maxBlock knob does not bound. */
  def exactPrefixDupMass(df: DataFrame, textCol: String,
      blockCol: String, prefixLen: Int = 80): DataFrame =
    df.select(col(blockCol).as("b"),
        substring(col(textCol), 1, prefixLen).as("p"))
      .groupBy("b", "p").agg(count(lit(1)).as("members"))
      .filter(col("members") >= 2)
      // integer division, not `/` (which is IEEE on longs): the product
      // m·(m−1) is even, so `div` is exact at any group size
      .withColumn("dist0_pairs", expr("(members * (members - 1)) div 2"))
      .orderBy(col("dist0_pairs").desc)

  /** Typo-level fuzzy duplicate pairs: edit distance ≤ `maxDist` over
    * text PREFIXES, within blocks — catches character-level corruption
    * (OCR noise, mojibake, re-typed titles) that shingle Jaccard misses
    * and vice versa. Blocking bounds the quadratic term: pairs form only
    * inside a block (source, domain, length band…), so cost is
    * Σ|block|², not n² — pick blocks the way a crawl pipeline already
    * partitions (per-source × length-band here — near-identical texts
    * have near-identical lengths, so banding costs little recall and
    * divides the quadratic). The prefix cap bounds each comparison at
    * prefixLen·maxDist cells: the distance runs through Spark's BANDED
    * levenshtein (threshold argument → O(n·d) diagonal band, -1 when the
    * band is exceeded), and a length-difference pre-filter skips the DP
    * for pairs that cannot pass (|len_a − len_b| lower-bounds edit
    * distance). The DP itself runs only over DISTINCT in-block prefixes
    * (exact-prefix collapse + member expansion — see the stage-0 comment
    * in the body): recall-lossless, and the duplication-heavy corpora
    * this op exists for stop paying quadratic DP on their boilerplate.
    *
    * OUTPUT-VOLUME contract on mass-duplicated corpora: identical-prefix
    * member pairs emit as dist-0 rows OUTSIDE the `maxBlock` salt (the
    * collapse makes them one group, and the salt caps DISTINCT prefixes
    * — deliberately, so an oversized block never loses its exact dups),
    * which means a prefix duplicated n times contributes n·(n−1)/2
    * OUTPUT rows that no knob here bounds: the DP cost collapses to
    * one group row, but the result itself is inherently quadratic in
    * the duplication factor. On corpora where million-fold boilerplate
    * is plausible, measure first with [[exactPrefixDupMass]] and gate
    * the mass upstream with [[exactByContent]] (which elects one keeper
    * per group instead of emitting pairs) before running the pair
    * join. */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, maxDist: Int, prefixLen: Int = 80,
      maxBlock: Int = 100000,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    // Stage 0 — exact-prefix collapse (the [[resolveEntities]] stage-0
    // principle applied INSIDE the verify): the quadratic runs over
    // DISTINCT (block, prefix) values, each represented by its minimum
    // id, and member pairs are expanded back afterwards by two id-keyed
    // joins. Lossless by construction — lev(p, p) = 0 so same-prefix
    // member pairs emit dist 0 directly, and cross-group pairs all share
    // their groups' distance — and the guard that matters at 100 TB: a
    // boilerplate prefix duplicated a million times costs ONE group row
    // in the self-join, not 10¹² banded-DP calls. (Output size for the
    // duplicated mass is inherently quadratic; only the DP work
    // collapses.)
    val rows = staging.stage(df.select(col(idCol).as("id"),
      substring(col(textCol), 1, prefixLen).as("p"), col(blockCol).as("b")),
      "edp-rows")
    val grp = staging.stage(
      rows.groupBy("b", "p").agg(min("id").as("gid")), "edp-groups")
    // Block-size cap (skew guard): join cost is Σ|block|², so ONE dominant
    // block — a crawl with 90% of docs from a single (source × length-band)
    // — re-creates the quadratic the blocking scheme exists to divide.
    // Blocks over `maxBlock` DISTINCT PREFIXES (post-collapse — audit
    // with [[oversizedPrefixBlocks]], which replays this exact frame;
    // raw-row counts would re-flag mass duplication the collapse
    // already absorbed)
    // are deterministically sub-banded by representative-id hash into
    // ⌈n/maxBlock⌉ salts and group pairs form only within a salt: every
    // row is kept, cost drops from n² to ~n·maxBlock, and the recall
    // inside an oversized block degrades gracefully to ~1/salts (the same
    // contract as lshCandidatePairs' maxBucket). Below the cap the salt is
    // constant 0 — the output is bit-identical to the uncapped join (the
    // default cap is far above any verification-scale block).
    // The salt fan-out joins in from the (tiny, broadcast) oversized-block
    // set rather than a count window: a window would shuffle+sort EVERY
    // group on the block key just to tag the handful of hot blocks, while
    // the broadcast join leaves the main frame un-shuffled (the count agg
    // shuffles block keys with map-side partials — rows stay put).
    val over = oversizedBlocks(grp, "b", maxBlock)
      .select(col("b"), col("sub_bands"))
    val t = grp
      .join(broadcast(over), Seq("b"), "left")
      .withColumn("__salt",
        when(col("sub_bands").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("gid")), col("sub_bands"))))
      .select(col("gid"), col("p"), col("b"), col("__salt"))
    val a = t.toDF("gid_a", "p_a", "b", "__salt")
    val c = t.toDF("gid_b", "p_b", "b", "__salt")
    val repPairs = a.join(c, Seq("b", "__salt"))
      .filter(col("gid_a") < col("gid_b"))
      .filter(abs(length(col("p_a")) - length(col("p_b"))) <= maxDist)
      .withColumn("dist", expr(s"levenshtein(p_a, p_b, $maxDist)"))
      .filter(col("dist") >= 0)
      .select(col("b"), col("p_a"), col("p_b"), col("dist"))
    // expansion: every member pair across the two groups, re-oriented to
    // id_a < id_b (each unordered pair appears in exactly one group pair)
    val cross = repPairs
      .join(rows.select(col("b"), col("p").as("p_a"), col("id").as("__ia")),
        Seq("b", "p_a"))
      .join(rows.select(col("b"), col("p").as("p_b"), col("id").as("__ib")),
        Seq("b", "p_b"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("dist").cast("int").as("dist"))
    // identical-prefix member pairs: dist 0 without any DP (and immune to
    // the salt split — an oversized block never loses its exact dups)
    val intra = rows.select(col("b"), col("p"), col("id").as("id_a"))
      .join(rows.select(col("b"), col("p"), col("id").as("id_b")), Seq("b", "p"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("dist"))
    cross.unionByName(intra)
  }

  /** PassJoin (Li, Deng & Feng, ICDE 2011): LOSSLESS small-distance edit
    * join via segment signatures — the scale path for typo-level
    * thresholds (`maxDist` ≤ ~4, entity names, titles, URLs) where
    * [[editDistancePairs]]' in-block quadratic is overkill. Pigeonhole:
    * split each string into `maxDist + 1` contiguous segments; ≤ maxDist
    * edits cannot touch every segment, so two strings within the
    * threshold share at least one segment VERBATIM at a position shifted
    * by at most maxDist. Candidates therefore come from an equi-join on
    * (block, target-length, segment-index, segment-content) — the
    * shorter side publishes its d+1 segments, the longer side publishes
    * the substrings those segments could land on ((d+1)·(2d+1) probes
    * per target length, (d+1)²·(2d+1) rows per string at most — constant
    * fan-out, NO in-block self-join anywhere) — and only candidates pay
    * the banded-levenshtein verify. Recall is exactly 100%: the x219
    * property test replays random corpora against the brute-force
    * definition.
    *
    * Pairs whose SHORTER side is under `maxDist + 1` chars can't carry
    * d+1 non-empty segments; both sides of such a pair are ≤ 2·maxDist
    * chars (length filter), so they route through a tiny all-pairs
    * fallback over that length class — disjoint from the segment path
    * (shorter ≥ d+1 there), together exhaustive.
    *
    * Shape at 100 TB: two generator explodes with constant fan-out, one
    * equi-join on slim signature keys, a candidate distinct, two
    * id-keyed joins to fetch prefixes, one banded DP per candidate. The
    * signature join inherits the corpus' duplication skew on (segment,
    * length) keys the way every signature scheme does — at typo
    * thresholds the key carries ⌈l/(d+1)⌉ chars, selective by
    * construction; the distance contract is over `prefixLen`-capped
    * prefixes, same as [[editDistancePairs]]. */
  def passJoinPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, maxDist: Int, prefixLen: Int = 80,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8, s"maxDist $maxDist out of [1,8]")
    require(prefixLen >= maxDist + 1, s"prefixLen $prefixLen too short")
    val d = maxDist
    val dp1 = d + 1
    val rows = staging.stage(df
      .select(col(idCol).as("id"),
        substring(col(textCol), 1, prefixLen).as("p"), col(blockCol).as("b"))
      .filter(col("p").isNotNull)
      .withColumn("l", length(col("p"))), "pj-rows")
    // balanced split of a length-L string into d+1 segments: the first
    // (d+1 − L mod (d+1)) take ⌊L/(d+1)⌋ chars, the rest one more
    def segStart(lExpr: String, i: String) =
      s"1 + ($i - 1) * ($lExpr div $dp1) + greatest(0, $i - 1 - ($dp1 - $lExpr % $dp1))"
    def segLen(lExpr: String, i: String) =
      s"($lExpr div $dp1) + IF($i > $dp1 - $lExpr % $dp1, 1, 0)"
    // index side: each string of length >= d+1 publishes its d+1 segments
    val idx = rows.filter(col("l") >= dp1)
      .select(col("b"), col("l"), col("id").as("sid"), col("p"),
        explode(expr(
          s"""transform(sequence(1, $dp1), i -> named_struct(
              'i', i, 'st', ${segStart("l", "i")}, 'ln', ${segLen("l", "i")}))"""))
          .as("sg"))
      .select(col("b"), col("l"), col("sg.i").as("i"),
        expr("substring(p, sg.st, sg.ln)").as("seg"), col("sid"))
    // probe side: each string publishes, for every candidate partner
    // length tl in [max(d+1, l−d), l], the substrings segment i of a
    // length-tl string could occupy here (start shifted by at most d)
    val prb = rows.filter(col("l") >= dp1)
      .select(col("b"), col("id").as("rid"), col("p"), col("l").as("lr"),
        explode(expr(
          s"""flatten(transform(sequence(greatest($dp1, l - $d), l), tl ->
                flatten(transform(sequence(1, $dp1), i ->
                  transform(sequence(
                      greatest(1, ${segStart("tl", "i")} - $d),
                      least(l - (${segLen("tl", "i")}) + 1,
                            ${segStart("tl", "i")} + $d)),
                    s -> named_struct('tl', tl, 'i', i, 's', s,
                      'ln', ${segLen("tl", "i")}))))))"""))
          .as("pc"))
      .select(col("b"), col("pc.tl").as("l"), col("pc.i").as("i"),
        expr("substring(p, pc.s, pc.ln)").as("seg"), col("rid"), col("lr"))
    val segCands = idx.join(prb, Seq("b", "l", "i", "seg"))
      // index side is the shorter (or equal-with-id-order) string — each
      // unordered pair survives exactly one orientation
      .filter(col("l") < col("lr") ||
        (col("l") === col("lr") && col("sid") < col("rid")))
      .select(col("b"), least(col("sid"), col("rid")).as("ia"),
        greatest(col("sid"), col("rid")).as("ib"))
    // short-pair fallback: a pair whose shorter side has < d+1 chars has
    // both sides <= 2d chars — all-pairs over that tiny length class
    val shortA = rows.filter(col("l") <= d)
      .select(col("b"), col("id").as("sid"), col("l").as("la"))
    val shortB = rows.filter(col("l") <= 2 * d)
      .select(col("b"), col("id").as("rid"), col("l").as("lb"))
    val shortCands = shortA.join(shortB, Seq("b"))
      .filter(col("sid") =!= col("rid") &&
        abs(col("la") - col("lb")) <= d)
      .select(col("b"), least(col("sid"), col("rid")).as("ia"),
        greatest(col("sid"), col("rid")).as("ib"))
    // prefix fetch joins include the BLOCK key: ids only unique per
    // block (a natural shape under per-source id spaces) must not leak
    // another block's text into the verify
    segCands.unionByName(shortCands).distinct()
      .join(rows.select(col("b"), col("id").as("ia"), col("p").as("p_a")),
        Seq("b", "ia"))
      .join(rows.select(col("b"), col("id").as("ib"), col("p").as("p_b")),
        Seq("b", "ib"))
      .withColumn("dist", expr(s"levenshtein(p_a, p_b, $d)"))
      .filter(col("dist") >= 0)
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        col("dist").cast("int").as("dist"))
  }

  /** Token-level LCS similarity verify over the SAME blocking as
    * [[editDistancePairs]] (per-source × length-band, capped + audited):
    * for each in-block pair, the longest common TOKEN subsequence of the
    * two prefixes and the dice-style ratio 2·lcs/(n_a+n_b) — the
    * reorder-tolerant sibling of edit distance (insertion-only edits and
    * moved sentences crater levenshtein but keep LCS high; boilerplate
    * detection wants both views). The DP runs as the x215 nested-fold
    * expression — pure HOFs over the token arrays, exact integers, no
    * UDF — with the classic LCS recurrence (eq ? diag+1 : max(left, up))
    * and the same Σ|block|² cost contract as the levenshtein verify.
    * Emits pairs at ratio·(n_a+n_b) ≥ 2·minRatioNum·… kept exact: the
    * filter cross-multiplies 2·lcs·100 ≥ minRatioPct·(n_a+n_b), so no
    * float threshold exists anywhere. */
  def lcsPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, minRatioPct: Int, prefixTokens: Int = 40,
      gateChars: Int = 8, maxBlock: Int = 100000): DataFrame = {
    require(minRatioPct >= 0 && minRatioPct <= 100,
      s"minRatioPct $minRatioPct out of range")
    require(gateChars >= 0 && gateChars <= 64,
      s"gateChars $gateChars out of range")
    def lcsCol(xs: Column, ys: Column): Column = {
      val n = size(xs)
      // row i over xs for the first y: prefix-any-match scan
      val firstRow = aggregate(
        slice(xs, lit(2), n - 1),
        array(when(element_at(xs, 1) === element_at(ys, 1), 1L).otherwise(0L)),
        (arr, xv) => concat(arr, array(
          greatest(element_at(arr, size(arr)),
            when(xv === element_at(ys, 1), 1L).otherwise(0L)))))
      val full = aggregate(
        slice(ys, lit(2), size(ys) - 1),
        firstRow,
        (prev, yv) => aggregate(
          slice(xs, lit(2), n - 1),
          array(greatest(element_at(prev, 1),
            when(element_at(xs, 1) === yv, 1L).otherwise(0L))),
          (arr, xv) => concat(arr, array(
            greatest(
              when(xv === yv, element_at(prev, size(arr)) + 1L)
                .otherwise(lit(0L)),
              element_at(prev, size(arr) + 1),
              element_at(arr, size(arr)))))))
      when(n === 0 || size(ys) === 0, lit(0L)).otherwise(element_at(full, n))
    }
    // tokens ride as PORTABLE 55-bit hashes: the DP needs only equality,
    // and hashed lists keep the fold's accumulator/element types uniform
    // for the oracle's list_reduce (and the comparisons branch-cheap)
    val toks = transform(
      slice(split(lower(trim(col(textCol))), "\\s+"), 1, prefixTokens),
      t => graft.functions.PolyHash56(t))
    // prefix gate: pairs must also share the first `gateChars` chars —
    // an O(n·k)-cell interpreted DP must NOT run on every in-block pair
    // (measured: ungated, sf0.1's Σ|block|² × 1600 cells = 80 s).
    // Near-identical docs share their opening; pairs that diverge in the
    // first `gateChars` chars are [[editDistancePairs]]' (prefix-free,
    // native banded levenshtein) territory. gateChars = 0 disables —
    // the exhaustive-block mode for candidate-verify-sized inputs.
    val gated =
      if (gateChars == 0) col(blockCol)
      else concat(col(blockCol), lit("|"),
        substring(lower(trim(col(textCol))), 1, gateChars))
    // tokenize ONLY docs whose gate-block has a partner: the group-size
    // semi-join is a cheap count agg, and it keeps the per-doc hash
    // transform off the (overwhelmingly unpaired) majority — measured
    // 7.7 s → sub-second at sf0.1 where 58 of 12.5M possible pairs
    // survive the gate
    val pre0 = df.withColumn("__gb", gated)
    val multi = pre0.groupBy(col("__gb")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(col("__gb"))
    val pre = pre0.join(multi, Seq("__gb"), "left_semi")
    val over = oversizedBlocks(pre, "__gb", maxBlock)
      .select(col("b"), col("sub_bands"))
    val t = pre.select(col(idCol).as("id"), toks.as("p"), col("__gb").as("b"))
      .join(broadcast(over), Seq("b"), "left")
      .withColumn("__salt",
        when(col("sub_bands").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col("id")), col("sub_bands"))))
      .select(col("id"), col("p"), col("b"), col("__salt"))
    val a = t.toDF("id_a", "p_a", "b", "__salt")
    val c = t.toDF("id_b", "p_b", "b", "__salt")
    a.join(c, Seq("b", "__salt"))
      .filter(col("id_a") < col("id_b"))
      // upper bound: lcs <= min(n_a, n_b); skip the DP when even that
      // cannot reach the threshold (the length-difference prefilter)
      .withColumn("__na", size(col("p_a")).cast("long"))
      .withColumn("__nb", size(col("p_b")).cast("long"))
      .filter(least(col("__na"), col("__nb")) * 2 * 100 >=
        lit(minRatioPct) * (col("__na") + col("__nb")))
      .withColumn("lcs", lcsCol(col("p_a"), col("p_b")))
      .filter(col("lcs") * 2 * 100 >= lit(minRatioPct) * (col("__na") + col("__nb")))
      .select(col("id_a"), col("id_b"), col("lcs"),
        col("__na").as("n_a"), col("__nb").as("n_b"))
  }

  /** (idCol, off, __fp): the sliding `windowTokens`-token window
    * fingerprint at every 0-based token offset — one
    * [[graft.functions.NGramPolyHash]] value per position, no gram
    * strings materialized. Docs shorter than the window emit nothing
    * (they cannot CONTAIN an L-token passage; whole-short-doc duplication
    * is [[exactByContent]]'s job). */
  private[x] def passageWindows(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int): DataFrame =
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
      .filter(size(col("__toks")) >= windowTokens)
      .select(col(idCol), posexplode(
        graft.functions.NGramPolyHash(col("__toks"), windowTokens)))
      .select(col(idCol), col("pos").as("off"), col("col").as("__fp"))

  /** Audit surface for [[repeatedPassages]]' `maxFreq` cap: window
    * fingerprints whose total occurrence count exceeds the cap — the
    * corpus-universal boilerplate passages reported ONCE each instead of
    * as an extent in every host document. Hottest first. */
  def hotPassages(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int, maxFreq: Int): DataFrame =
    passageWindows(df, textCol, idCol, windowTokens)
      .groupBy(col("__fp")).agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > maxFreq)
      .orderBy(col("__occ").desc)

  /** X2c substring-level (passage) dedup: maximal extents of token spans
    * ≥ `windowTokens` long that repeat across ≥ `minDocs` distinct
    * documents — licenses, boilerplate headers, quoted passages. This is
    * the dedup modality document-level Jaccard/MinHash structurally MISS:
    * a 200-token license inside otherwise-unrelated 10k-token documents
    * moves whole-doc Jaccard by ~2% at any threshold, but every one of its
    * windows repeats verbatim. Returns `(idCol, start_tok, end_tok,
    * span_tokens, n_windows)` with 0-based token offsets, `end_tok`
    * exclusive — the spans a training pipeline masks or cuts.
    *
    * Shape — and why it scales where the pair family can't: there is NO
    * self-join anywhere. Every doc explodes into one 8-byte fingerprint
    * per token position ([[graft.functions.NGramPolyHash]] — no gram
    * strings ever exist); repeated fingerprints are found by ONE group-by
    * on the hash (map-side partial counts), survivors semi-join back
    * (co-partitioned on the same key — no second shuffle of the corpus),
    * and runs of consecutive hit offsets merge per doc with the classic
    * islands trick (off − row_number is constant within a run). Total
    * cost is O(corpus tokens) rows through two hash shuffles — linear at
    * any duplication level, proven flat-per-token in ScaleProbe.
    *
    * Any repeated span of length S ≥ windowTokens produces S−windowTokens+1
    * consecutive hit windows in each host doc and therefore ONE extent of
    * exactly [span start, span end) — window granularity costs nothing at
    * the extent level. Overlapping repeats from different sources merge
    * into one extent (for masking that is the right answer; per-source
    * attribution would key extents by fingerprint instead).
    *
    * `maxFreq` (reporting cap, auditable via [[hotPassages]]): a passage
    * in a million docs is corpus-universal boilerplate — emitting a
    * million identical extents restates what ONE audit row says better.
    * Unlike the pair family's caps this is NOT a cost guard (the group-by
    * is linear regardless); it keeps the OUTPUT proportional to
    * information. Set it to Int.MaxValue to emit everything. */
  def repeatedPassages(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int, minDocs: Int = 2, maxFreq: Int = 100000,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be positive, got $windowTokens")
    require(minDocs >= 2, s"minDocs < 2 would flag every window, got $minDocs")
    val wins = passageWindows(df, textCol, idCol, windowTokens).persist()
    val rep = wins.groupBy(col("__fp"))
      .agg(countDistinct(col(idCol)).as("__nd"), count(lit(1)).as("__occ"))
      .filter(col("__nd") >= minDocs && col("__occ") <= maxFreq)
      .select("__fp")
    val hits = wins.join(rep, Seq("__fp"), "left_semi")
    val out = staging.stage(mergeWindowExtents(hits, idCol, windowTokens),
      "repeated-passages")
    wins.unpersist()
    out
  }

  /** Merge a (idCol, off) window-hit frame into maximal per-doc extents
    * via the islands trick (off − row_number is constant within a run of
    * consecutive offsets). Shared by [[repeatedPassages]] and
    * [[TextAnalysis.passageDecontaminate]]. */
  private[x] def mergeWindowExtents(hits: DataFrame, idCol: String,
      windowTokens: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("off").asc)
    hits
      .select(col(idCol), col("off"))
      .withColumn("__grp", col("off") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("off").as("start_tok"),
        (max("off") + windowTokens).as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok")).as("span_tokens"), col("n_windows"))
  }

  /** MinHash-LSH near-dedup end-to-end: candidates → exact-Jaccard verify →
    * pairs ≥ threshold. Linear-cost scale path for [[ngramJaccardPairs]]. */
  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.8,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    val sh = shingleHashes(df, textCol, idCol, n).persist()
    // materialize the signatures: lshCandidatePairs references them on BOTH
    // sides of its bucket self-join, and without truncation each side
    // re-runs the whole shingle+32-agg pipeline (measured 3.5s → 1.1s for
    // the candidate stage at sf0.1). Same for the candidate set, which the
    // verify stage references twice. The staging seam decides HOW: local
    // checkpoint here, durable staged tables on a cluster (Staging).
    val sigs = staging.stage(minhashSignatures(sh, idCol, k), "minhash-signatures")
    val cands = staging.stage(lshCandidatePairs(sigs, idCol, k, bands), "lsh-candidates")
    val out = staging.stage(jaccardForPairs(sh, idCol, cands)
      .filter(col("jaccard") >= threshold), "neardup-pairs")
    sh.unpersist()
    out
  }

  /** Connected components over an undirected near-dup pair list — the step
    * that turns pairwise matches into CLUSTERS so a dedup pipeline can keep
    * one canonical doc per group. Label propagation to the minimum
    * reachable id: each round every node adopts the smallest label among
    * itself and its neighbors (one join + one groupBy-min shuffle per
    * round), converging in O(cluster diameter) rounds — near-dup clusters
    * have tiny diameters, and `maxIter` caps pathological chains. Labels
    * are materialized per round (at 100 TB: a staged table) so lineage
    * doesn't deepen; convergence is detected by a change count, so the
    * loop stops as soon as labels are stable. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      driverThreshold: Long = 1 << 20,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    // ids are normalized to LongType up front (ADVICE r2): the driver
    // union-find fast path reads getLong, and without the cast a caller
    // with Int ids would hit a ClassCastException only when the edge count
    // happened to fall under driverThreshold. String ids fail here loudly
    // at analysis time instead — the documented contract is numeric ids.
    val edges = staging.stage(
      pairs.select(col("id_a").cast("long").as("src"),
          col("id_b").cast("long").as("dst"))
        .union(pairs.select(col("id_b").cast("long").as("src"),
          col("id_a").cast("long").as("dst"))), "cc-edges")
    // Adaptive strategy (same spirit as AQE's runtime join switch): the
    // edge list of a near-dup graph is orders of magnitude smaller than
    // the corpus (it's the MATCHES, not the documents), so when it fits
    // comfortably on the driver a single union-find pass replaces ~4
    // Spark jobs per propagation round. The distributed label-propagation
    // path below remains the correctness-identical fallback for edge sets
    // that don't fit (both converge to the min-reachable-id labeling).
    val nEdges = edges.count()
    if (nEdges <= driverThreshold) {
      val es = edges.filter(col("src") < col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by MIN root so labels match the propagation path
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      return parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "comp")
    }
    var labels = staging.stage(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")), "cc-labels-0")
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
        .groupBy(col("src").as("id")).agg(min("dcomp").as("ncomp"))
      // the change flag is computed in the same pass as the update (ncomp <
      // comp ⇔ this round improved the label), so convergence detection is
      // a count over the already-materialized checkpoint — not a second
      // join against the previous labels
      val updated = staging.stage(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          coalesce(col("ncomp") < col("comp"), lit(false)).as("__chg")),
        s"cc-labels-${i + 1}")
      changed = updated.filter(col("__chg")).count()
      labels = updated.drop("__chg")
      i += 1
    }
    labels
  }

  /** X2b SimHash: 64-bit signature where bit b is the sign of Σ±1 over
    * token hashes' bit b. Near-dups have small Hamming distance. One
    * shuffle with map-side combine via the custom [[graft.functions.SimHashAgg]]
    * TypedImperativeAggregate (single int[64] buffer per doc — see that
    * file for the promotion from 64 composed sum-aggregates).
    * Note (r15): per-doc object aggregates cross ObjectHashAggregate's
    * 128-group sort-fallback threshold on any real partition; this frame
    * is LAZY, so callers that materialize it over a large corpus should
    * do so inside [[graft.util.Tuning.withBoundedObjectAgg]] (the int[64]
    * buffer is bounded — the [scale-graph2] fix's safety argument). */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .withColumn("h", graft.functions.PolyHash56(col("tok")))
    tok.groupBy(col(idCol))
      .agg(graft.functions.SimHashAgg.simhash(col("h")).as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Audit surface for [[simhashNearDupPairs]]' `maxBucket` skew guard:
    * the (chunk, chunk-value) buckets whose occupancy exceeds the cap,
    * hottest first — no silent cap, same contract as
    * [[oversizedLshBuckets]]. */
  def oversizedSimhashBuckets(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int, maxBucket: Int): DataFrame =
    simhashChunks(simhash(df, textCol, idCol), idCol, maxHamming)
      .groupBy(col("chunk"), col("ch")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)
      .orderBy(col("n").desc)

  /** (idCol, simhash, chunk, ch): pigeonhole chunk memberships of each
    * signature — maxHamming+1 chunks, so any pair within the hamming bound
    * shares at least one identical chunk.
    *
    * Bits are distributed EVENLY (⌊64/n⌋ or ⌈64/n⌉ per chunk), never by a
    * fixed ⌈64/n⌉ stride: the stride layout leaves the last chunk EMPTY
    * whenever ⌈64/n⌉·(n−1) ≥ 64 (e.g. 9 chunks of 8 bits cover 64 at chunk
    * 8 → 0 bits), and an empty chunk is a single bucket every row shares —
    * a silent all-pairs cross join hiding inside the "bucketed" plan. Even
    * distribution keeps every chunk non-empty for any maxHamming < 32, and
    * the pigeonhole argument (≤ maxHamming differing bits across
    * maxHamming+1 non-empty chunks ⇒ some chunk identical) stays intact. */
  private def simhashChunks(sig: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val chunks = pigeonholeChunks(64, maxHamming + 1, col("simhash"))
    sig.select(col(idCol), col("simhash"), explode(array(chunks: _*)).as("cb"))
      .select(col(idCol), col("simhash"), col("cb.chunk"), col("cb.ch"))
  }

  /** Even pigeonhole split of `totalBits` into `nChunks` non-empty bit
    * ranges of a signature column: chunk i of width ⌊total/n⌋(+1 for the
    * first total%n chunks). Shared by the 64-bit text simhash and the
    * 16-bit media pHash paths. */
  private[x] def pigeonholeChunks(totalBits: Int, nChunks: Int,
      sigCol: Column): Seq[Column] = {
    require(nChunks <= totalBits, s"$nChunks chunks over $totalBits bits")
    val base = totalBits / nChunks
    val rem = totalBits % nChunks
    val bounds = (0 until nChunks).scanLeft(0)((lo, i) =>
      lo + base + (if (i < rem) 1 else 0))
    (0 until nChunks).map { cI =>
      val lo = bounds(cI)
      val bits = bounds(cI + 1) - lo
      val mask = if (bits >= 64) -1L else (1L << bits) - 1L
      struct(lit(cI).as("chunk"),
        shiftright(sigCol, lo).bitwiseAND(mask).as("ch"))
    }
  }

  /** SimHash near-dup pairs within `maxHamming`, bucketed by pigeonhole:
    * the 64-bit signature is split into maxHamming+1 chunks, so any pair
    * within the bound shares at least one identical chunk — candidate
    * generation is a bucket join, not a cross join, at ANY bound (a fixed
    * chunk count would silently lose recall past its design distance).
    *
    * `maxBucket` (skew guard): a mass-duplicate corpus segment — the
    * boilerplate pages this operator exists to find — puts its whole
    * duplicate class into ONE (chunk, value) bucket per chunk, n²/2
    * candidate rows each. Buckets over the cap are dropped from both join
    * sides, bounding the join at maxBucket²/2 per bucket; the chunks get
    * NARROW as maxHamming grows (width = ⌈64/(maxHamming+1)⌉ bits), so
    * legitimate uniform occupancy is ~n/2^width per chunk — size the cap
    * accordingly and audit drops via [[oversizedSimhashBuckets]]. */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming $maxHamming out of range")
    // the whole candidate pipeline materializes INSIDE this scope (the
    // `out` stage below is eager), so the SimHashAgg per-doc aggregation
    // — a bounded int[64] buffer, groups ≈ docs, far past the 128-group
    // sort-fallback default on any real partition — runs hash-resident:
    // paired A/B (r15, PairSweep, fallbackThreshold 128 → 2^20) measured
    // x4_simhash_neardup at −4.6 cpu-s (−26%) with wall flat-to-better
    graft.util.Tuning.withBoundedObjectAgg(df.sparkSession) {
    val sig = simhash(df, textCol, idCol).persist()
    val bucketed = simhashChunks(sig, idCol, maxHamming)
    // hot set is tiny (buckets over the cap): broadcast anti-join both
    // sides instead of count-window-sorting the whole bucketed frame
    val hot = bucketed.groupBy(col("chunk"), col("ch")).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBucket).select("chunk", "ch")
    val capped = bucketed.join(broadcast(hot), Seq("chunk", "ch"), "left_anti")
    val a = capped.select(col("chunk"), col("ch"),
      col(idCol).as("id_a"), col("simhash").as("sig_a"))
    val b = capped.select(col("chunk"), col("ch"),
      col(idCol).as("id_b"), col("simhash").as("sig_b"))
    val out = staging.stage(a.join(b, Seq("chunk", "ch"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming),
      "simhash-pairs") // materialize, then release the signature cache
    sig.unpersist()
    out
    }
  }

  /** Content-defined chunking (the FastCDC/rsync family): split each
    * document at positions where the rolling `window`-char hash satisfies
    * `h mod 2^maskBits == 0`. Boundaries are a LOCAL property of the
    * content, so inserting or deleting a prefix shifts every byte offset
    * but leaves every boundary AFTER the edit in place — the chunks
    * downstream of the edit re-align and hash identically, which is
    * exactly what fixed-size chunking cannot do (one inserted byte
    * re-frames every later chunk). Expected chunk length ≈ 2^maskBits
    * chars; the final chunk always closes at end-of-document, so chunks
    * tile [1, len] exactly.
    *
    * This is the storage/near-identical-revision dedup modality the
    * document-level family doesn't cover: shared chunk hashes across
    * revisions/mirrors of the same page localize WHAT stayed identical.
    * Chunk hashes are [[graft.functions.PolyHash56]] of the chunk text —
    * oracle-replayable, like every fingerprint in this library.
    *
    * Shape at 100 TB: the boundary scan is a narrow generator (one
    * window hash per char, codegen'd), the extent assembly is ONE
    * doc-keyed window pass, and everything downstream joins on 8-byte
    * chunk hashes — never chunk text. Emits (id, start, end, chunk_hash)
    * with 1-based inclusive extents. */
  def contentDefinedChunks(df: DataFrame, textCol: String, idCol: String,
      window: Int = 8, maskBits: Int = 5): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(maskBits >= 1 && maskBits <= 20, s"maskBits $maskBits out of range")
    val modulus = 1L << maskBits
    val len = length(col(textCol))
    val base = df.filter(len >= 1).select(col(idCol), col(textCol))
    val bnd = base
      .select(col(idCol), col(textCol),
        explode(sequence(lit(1), greatest(len - (window - 1), lit(0)))).as("__p"))
      .filter(pmod(graft.functions.PolyHash56(
        substring(col(textCol), col("__p"), lit(window))), lit(modulus)) === 0)
      .select(col(idCol), (col("__p") + (window - 1)).as("end"))
    val ends = bnd.unionByName(base.select(col(idCol), len.as("end"))).distinct()
    val w = Window.partitionBy(col(idCol)).orderBy(col("end"))
    ends
      .withColumn("start", coalesce(lag(col("end"), 1).over(w), lit(0)) + 1)
      .join(base, Seq(idCol))
      .select(col(idCol), col("start"), col("end"),
        graft.functions.PolyHash56(substring(col(textCol), col("start"),
          col("end") - col("start") + 1)).as("chunk_hash"))
  }

  /** Dense 1-based global row number under `sortCols` — which MUST form a
    * total order (append a unique id as the final key) — WITHOUT the
    * single-partition window `row_number() OVER (ORDER BY …)` compiles to.
    * Two-phase: range-repartition on the sort key, rank inside each range
    * in parallel, then add per-range offsets. The offsets frame is one row
    * per partition (driver-scale), broadcast back onto the ranked rows; the
    * two identical range exchanges dedupe under ReuseExchange. A global
    * window would funnel all 100 TB through ONE task; this keeps the rank
    * as parallel as the range split and is exactly how sort-order-dependent
    * ops (sorted-neighborhood blocking below) stay distributed.
    *
    * The range-partitioned frame is STAGED before fan-out: both the rank
    * window and the per-partition counts read it, and without truncated
    * lineage each branch re-runs the scan + range exchange (visible as a
    * doubled `Scan parquet` in the un-staged plan). */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = staging.stage(
      df.repartitionByRange(parts, sortCols: _*)
        .withColumn("__pid", spark_partition_id()),
      "global-rank-ranged")
    val w = Window.partitionBy("__pid").orderBy(sortCols: _*)
    val rn = ranged.withColumn("__rn", row_number().over(w).cast("long"))
    // one count per range partition; the cumulative-offset window runs
    // over `parts` rows, not data rows
    val wOff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val off = ranged.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
      .select("__pid", "__off")
    rn.join(broadcast(off), Seq("__pid"))
      .withColumn("rank", col("__off") + col("__rn"))
      .drop("__pid", "__rn", "__off")
  }

  /** Sorted-neighborhood record linkage (Hernández & Stolfo's merge/purge):
    * sort the corpus by a fuzzy blocking key, then compare only rows whose
    * sort positions differ by < `window` — candidates are O(n·window)
    * instead of the O(Σ|block|²) of equality blocking, and near-identical
    * keys that equality blocking separates (serial typos, off-by-one ids,
    * trailing-whitespace variants) land adjacent. Complements
    * [[editDistancePairs]]: that op needs a block key that already agrees
    * between variants; this one only needs the CORRUPTION to sort nearby.
    *
    * Emits (id_a, id_b, dist) where id_a precedes id_b in (key, id) order
    * and banded `levenshtein(key_a, key_b, maxDist)` accepts — the
    * length-difference pre-filter skips DP for pairs that cannot pass.
    *
    * Shape at 100 TB: [[globalRowNumber]] keeps the sort distributed; the
    * neighbor step is a shift-explode equi-join on the dense rank (each row
    * emits `window−1` probes at rank+g), an AQE-friendly bigint join that
    * shuffles (window−1)·n slim rows — no windowed self-comparison ever
    * collapses onto one task, and no quadratic block exists to cap. */
  def sortedNeighborhoodPairs(df: DataFrame, keyCol: String, idCol: String,
      window: Int, maxDist: Int,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // staged: both the probe and base side of the neighbor join read the
    // ranked frame — unstaged, each side re-runs the rank window
    val t = staging.stage(globalRowNumber(
      df.select(col(idCol).as("id"), col(keyCol).as("k")),
      Seq(col("k"), col("id")), staging), "sorted-neighborhood-ranks")
    val probes = t.select(col("id").as("id_a"), col("k").as("k_a"),
        col("rank"), explode(sequence(lit(1), lit(window - 1))).as("__g"))
      .withColumn("__r2", col("rank") + col("__g"))
      .drop("rank", "__g")
    val base = t.select(col("id").as("id_b"), col("k").as("k_b"),
      col("rank").as("__r2"))
    probes.join(base, "__r2")
      .filter(abs(length(col("k_a")) - length(col("k_b"))) <= maxDist)
      .withColumn("dist", expr(s"levenshtein(k_a, k_b, $maxDist)").cast("long"))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
  }

  /** Prefix-filtered exact set-similarity self-join (Bayardo et al.'s
    * All-Pairs / Xiao et al.'s PPJoin prefix filter): distinct word
    * n-gram sets, tokens ordered globally rarest-first; two sets with
    * Jaccard ≥ `threshold` MUST share a token within each one's first
    * `sz − ⌈threshold·sz⌉ + 1` tokens, so candidates form only on prefix
    * tokens. Unlike [[ngramJaccardPairs]]' `maxDocFreq` cap — which trades
    * recall on corpus-hot shingles for a bounded join — the prefix filter
    * is LOSSLESS at the same skew protection: hot tokens sort to the END
    * of every set, so they enter a prefix only for a document that is
    * nearly all-boilerplate, and the candidate join fans out on the
    * globally rarest tokens per doc.
    *
    * Shape at 100 TB: one token-keyed shuffle attaches document
    * frequencies ([[shingleHashes]] longs — gram strings never
    * materialize), one doc-keyed agg builds the ordered set, the candidate
    * join carries prefix entries only (≈ (1−threshold)·tokens), and
    * verification joins the bounded per-doc arrays for the candidate pairs
    * alone. A size-compatibility filter (`min ≥ threshold·max`) prunes
    * candidates the length bound already rejects. */
  def prefixFilterPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
      threshold: Double,
      staging: graft.util.Staging = graft.util.Staging.LocalCheckpoint): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // `sh` is deliberately NOT staged: it has no upstream shuffle (scan +
    // explode), so its two consumers re-run a narrow pass — cheaper than
    // materializing the exploded corpus. `sets` IS staged: it sits above
    // the (shingle-join + doc-keyed collect) shuffles and feeds the prefix
    // explode AND both verify-join sides — unstaged, that pipeline re-runs
    // three times (three corpus shuffles at 100 TB instead of one).
    val sh = shingleHashes(df, textCol, idCol, n)
    val freq = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
    val sets = staging.stage(sh.join(freq, "__sh")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__o"))
      .select(col(idCol),
        transform(col("__o"), e => e("__sh")).as("__set"),
        size(col("__o")).as("__sz")), "ppjoin-ordered-sets")
    val pref = sets.select(col(idCol), col("__sz"),
      explode(slice(col("__set"), lit(1),
        (col("__sz") - ceil(lit(threshold) * col("__sz")) + 1).cast("int")))
        .as("__sh"))
    val cand = pref.select(col(idCol).as("id_a"), col("__sz").as("__sza"), col("__sh"))
      .join(pref.select(col(idCol).as("id_b"), col("__sz").as("__szb"), col("__sh")),
        "__sh")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("__sza"), col("__szb")).cast("double") >=
        lit(threshold) * greatest(col("__sza"), col("__szb")).cast("double"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sets.select(col(idCol).as("id_a"), col("__set").as("__sa"),
        col("__sz").as("__sza")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__set").as("__sb"),
        col("__sz").as("__szb")), "id_b")
      .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("__i").cast("double") /
        (col("__sza") + col("__szb") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
