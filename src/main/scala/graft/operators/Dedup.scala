package graft.operators

import graft.functions.{DotF32, HashedShingles, LshBuckets, MinHashShingled, SimHashShingled}
import graft.sources.{Stores, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication pack over the `documents` table (SURVEY §2.3).
  *
  * Scale design (§5): never an all-pairs comparison.
  *   - exact: group on a 128-bit hash of the text — one shuffle of
  *     (hash, id), never of the full text bytes.
  *   - n-gram Jaccard: candidates come from a prefix-filtered
  *     equi-join (AllPairs/PPJoin — complete for J ≥ tau, postings
  *     bounded to each doc's (1−tau)-fraction smallest hashes);
  *     exact Jaccard is then computed only for candidates.
  *   - MinHash/LSH: signatures are computed per-row by [[MinHashSig]]
  *     (one pass, zero shuffle — not the explode+groupBy shape), and
  *     only band keys are shuffled; bucket equi-joins produce candidates.
  *   - SimHash: 64-bit fingerprint per row, banded into 4×16-bit keys;
  *     Hamming verification only within shared bands.
  */
object Dedup {

  /** Hyperplane-LSH bucket width for n vectors: bits = log2(n/64), so
    * the expected bucket holds ~64 vectors REGARDLESS of n and candidate
    * volume stays linear in n (fixed bits degrade to all-pairs as n
    * grows). Shared by [[embedCosine]] and
    * [[graft.operators.Similarity.annLsh]]. Capped at 30 bits —
    * [[graft.functions.LshBuckets]] rejects wider keys — so beyond
    * n ≈ 6.9e10 occupancy grows with n instead of failing analysis;
    * at that scale shard the corpus before bucketing.
    */
  def adaptiveLshBits(n: Long): Int =
    math.min(30, math.max(3, (math.log(math.max(n, 1L) / 64.0) / math.log(2.0)).ceil.toInt))

  /** SimHash band width for n documents: the smallest w ∈ {16, 32, 64}
    * whose expected RANDOM probe-collision count per document,
    * n · (64/w) · (w+1) / 2^w, stays ≤ 1 — so false candidates stay
    * O(n) at every scale instead of the Θ(n²/964) a fixed 4×16 banding
    * pays. w=16 to n≈1.9e3, w=32 to n≈6.5e7, then w=64. The price of a
    * wider band is a narrower *complete* radius (see [[simhash]]):
    * 64/w bands with single-bit multiprobe are pigeonhole-complete to
    * Hamming 2·(64/w) − 1, i.e. 7 / 3 / 1 — beyond that, recall is
    * probabilistic, which is the correct trade once the corpus is big
    * enough that a Hamming-6 ball around every doc no longer fits in a
    * linear candidate budget.
    */
  def simhashBandWidth(n: Long): Int =
    Seq(16, 32).find { w =>
      n.toDouble * (64.0 / w) * (w + 1) / math.pow(2.0, w.toDouble) <= 1.0
    }.getOrElse(64)

  /** (doc_id, words) — documents with <3 words carry no 3-shingles and
    * are excluded from near-dup detection (none exist in testdata; the
    * exclusion is mirrored in the DuckDB oracle). `normalize` threads
    * [[TextAnalysis.normalizeText]] ahead of the split (r14) — the
    * recall knob for corpora with case/punctuation variants; DedupSpec
    * proves the lift on a crafted corpus, and the normalized exact
    * entry (`dedup_exact_normalized`) keeps the rule oracle-gated.
    */
  private[operators] def tokenized(spark: SparkSession, dir: String,
                                   normalize: Boolean = false): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(textCol(normalize), " ").as("w"))
      .filter(size(col("w")) >= 3)

  private def textCol(normalize: Boolean): Column =
    if (normalize) TextAnalysis.normalizeText(col("text")) else col("text")

  /** Shingle sets as sorted distinct 64-bit hashes of each word triple
    * (words contain no spaces, so triple ↔ joined-string is a
    * bijection; at 2^64 the collision probability is negligible even at
    * 100 TB). Every downstream comparison — explode, doc-frequency,
    * equi-joins, merge-intersection — runs on fixed-width longs instead
    * of strings: smaller shuffles, cheaper hashing. The string-based
    * DuckDB oracle stays valid because the set cardinalities are
    * identical. Computed by the fused [[HashedShingles]] kernel (one
    * codegen'd pass; the declarative transform/distinct/sort chain it
    * replaces ran interpreted).
    */
  private[graft] def shingledHashed(spark: SparkSession, dir: String,
                                        normalize: Boolean = false): DataFrame =
    tokenized(spark, dir, normalize)
      .select(col("doc_id"), HashedShingles.hashed_shingles(col("w"), 3).as("sh"))

  /** `dedup_exact`: duplicate groups via md5(text) hash-groupBy with a
    * min-id keeper. The only bytes that shuffle are (hash, doc_id) —
    * at 100 TB the text column never leaves the scan stage.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))

  /** `dedup_exact_normalized` (r14): [[exact]] under the canonical
    * [[TextAnalysis.normalizeText]] rule — groups case/punctuation
    * variants of the same content that byte-exact hashing treats as
    * distinct. Same plan shape (the normalization is three codegen'd
    * string ops fused into the scan stage; only (hash, doc_id) ever
    * shuffles); DuckDB runs the identical rule, so the whole
    * normalization pipeline is hash-oracle-gated.
    */
  def exactNormalized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(TextAnalysis.normalizeText(col("text")).cast("binary"))
        .as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))

  /** `dedup_exact_normalized_utf8` (r15): [[exactNormalized]] under the
    * UTF-8-aware tier ([[graft.functions.NormalizeTextUtf8]]: NFC →
    * simple lowercase → keep \p{L}\p{Nd}) — the rule a multilingual
    * corpus needs, where the ASCII byte kernel silently erases the
    * Kelvin-sign class. Same plan shape; ASCII rows take the byte
    * kernel fast path, so on an ASCII corpus this row costs what
    * [[exactNormalized]] costs and hash-matches it.
    */
  def exactNormalizedUtf8(spark: SparkSession, dir: String): DataFrame =
    exactNormalizedUtf8From(Tables.documents(spark, dir))

  /** [[exactNormalizedUtf8]] over ANY (…, doc_id, text) frame — lets the
    * registered query append the crafted non-ASCII fixture rows
    * ([[graft.SparkEntry.Utf8OracleFixture]]) so the DuckDB oracle
    * comparison exercises the NFC/lower/\p{L}\p{Nd} tier on real
    * non-ASCII input, not only the ASCII driver corpus (r15 advice).
    */
  def exactNormalizedUtf8From(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(TextAnalysis.normalizeTextUtf8(col("text")).cast("binary"))
        .as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))

  /** `dedup_incremental`: arrival-batch exact dedup (r12) — the shape a
    * 100 TB pipeline actually runs when a new crawl lands: dedup the
    * BATCH against itself and against the existing STORE, never
    * re-aggregating the store. Batch/store is the content-addressed
    * [[Curation.splitBucket]] split on doc_id (buckets ≥ `batchBucket`
    * are the arriving ~20% "new crawl", the rest the standing corpus).
    * Survivors: batch docs that are the min-id copy of their content
    * WITHIN the batch and whose content is unseen in the store — with
    * the batch's internal copy count, so the caller can audit what the
    * arrival contributed.
    *
    * Scale shape: the only aggregate is batch-sized (groupBy on the
    * 16-byte md5); the store contributes a narrow hash projection into
    * a left_anti join — no store-side distinct or aggregate (anti-join
    * semantics tolerate duplicate right rows), no broadcast
    * (shuffle_hash-hinted; neither side fits a broadcast at scale).
    * In production the store's hash column is the standing exact-dedup
    * audit table ([[exact]]'s output) bucketed by hash, so the anti
    * join reads a precomputed narrow table and the per-arrival cost is
    * O(batch) + one hash-keyed shuffle — this operator derives it from
    * raw text only because the testdata ships no materialized store,
    * and since r18 it derives BOTH sides from one scoped narrow hash
    * projection so the text column is scanned and hashed once, not
    * twice.
    */
  def incremental(spark: SparkSession, dir: String, batchBucket: Int = 80): DataFrame = {
    // One text scan, not two (r18, guide §6/§2.3): the batch/store split
    // is a bucket predicate on doc_id that parquet cannot prune, so
    // deriving each side independently read (and md5'd) the FULL text
    // column twice. The scoped narrow projection hashes every doc once
    // — 25 B/row (doc_id + 16-B md5 + bucket) instead of the text
    // column — and both sides of the unchanged batch-agg + anti-join
    // shape re-read it from the cache. At corpus scale the cached
    // projection is ~0.3 % of the text bytes it replaces.
    val hashed = graft.Caches.scoped(Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("text_hash"),
        Curation.splitBucket(col("doc_id")).as("bucket")))
    val batch = hashed.filter(col("bucket") >= batchBucket)
    val store = hashed.filter(col("bucket") < batchBucket)
    batch
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_copies"))
      .join(store.select(col("text_hash")).hint("shuffle_hash"),
        Seq("text_hash"), "left_anti")
      .select(col("doc_id"), col("text_hash"), col("batch_copies"))
      .transform(batchPresentation(spark, dir, batchBucket))
  }

  /** Output ordering for the incremental pair, gated on the BATCH's
    * footer-estimated row count (r18, r17 verdict item 3). The serve
    * is three bounded jobs over a sub-second scan; the sf100doc stage
    * ladder (BASELINE.md r14 incremental-dedup section, 5M docs / 1M
    * batch, same-session DuckDB pair 0.80 s) prices the tail's
    * `orderBy` — whose range-partitioner sampling pass is its own
    * scheduling round — at
    * the difference between 1.658 s and the 1.512 s single-partition
    * presentation sort, and the registered serve at 1.947 s = 2.43×;
    * the presentation form lands 1.89×, under the 2× bar. The OTHER
    * structural alternative — folding the anti join into broadcast
    * probes so the store streams — measured DEAD at the same decade
    * (2.751 s: two broadcast builds cost more than the one hash-keyed
    * exchange they replace). A single-partition sort of a result
    * bounded only by data volume is the exact shape the presentSorted
    * audit forbids, so it is GATED: below `1 << 22` estimated batch
    * rows (≤ ~160 MB of narrow survivor rows through one task —
    * micro-batches are rate-limited far below this) the presentation
    * sort runs; above it the parallel range sort returns, paying the
    * sampling round only at the scale that needs it. The estimate
    * reads parquet FOOTER counts (no job): total docs × the
    * splitBucket fraction ≥ `batchBucket` ([[graft.Tiers.PresentationSort]]).
    */
  private def batchPresentation(spark: SparkSession, dir: String,
                                batchBucket: Int)(df: DataFrame): DataFrame =
    if (graft.Tiers.small(graft.Tiers.PresentationSort)(
        Tables.parquetRowCount(spark, dir, "documents") * (100 - batchBucket) / 100 <=
          graft.Tiers.PresentationMaxRows))
      graft.functions.presentSorted(df, col("doc_id"))
    else df.orderBy(col("doc_id"))

  /** On-disk standing dedup store for the incremental path: a
    * [[Stores.derived]] store keyed by the documents table's listing
    * stamp and the knobs (a regenerated source is a new path; a path is
    * reused only once both tables are committed). Two narrow tables:
    *   - `hashes/`  — the store's DISTINCT md5 text hashes (16 B/doc —
    *     [[exact]]'s audit key set restricted to the standing corpus);
    *   - `bands/`   — the store's MinHash band keys (doc_id, band, bh),
    *     the near-dup collision index.
    * This is the state a production pipeline keeps between arrivals, so
    * [[incrementalServe]] / [[incrementalNearDupServe]] measure the
    * per-arrival cost the design actually claims — O(batch) hashing +
    * narrow-key joins — instead of re-deriving the store from text every
    * run the way [[incremental]] must (testdata ships no materialized
    * store; the build runs once per source stamp, Bench's cold rep pays
    * it and every warm rep times the serve alone).
    */
  def buildIncrementalStore(spark: SparkSession, dir: String,
                            batchBucket: Int = 80, k: Int = 64,
                            bands: Int = 16): String =
    Stores.derived(spark, "dedup_store", dir, "documents",
        s"${batchBucket}_${k}_$bands")("hashes", "bands") { path =>
      val store = Tables.documents(spark, dir)
        .filter(Curation.splitBucket(col("doc_id")) < batchBucket)
      Stores.commitTo(store.select(md5(col("text").cast("binary")).as("text_hash"))
        .distinct(), s"$path/hashes")
      val r = k / bands
      Stores.commitTo(tokenized(spark, dir)
        .filter(Curation.splitBucket(col("doc_id")) < batchBucket)
        .select(col("doc_id"),
          MinHashShingled.minhash_shingled(col("w"), 3, k).as("sig"))
        .select(col("doc_id"),
          posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
            s"b -> xxhash64(slice(sig, b*$r + 1, $r), b))")).as(Seq("band", "bh"))),
        s"$path/bands")
    }

  /** `dedup_incremental_serve`: [[incremental]]'s store-resident twin —
    * the batch aggregate is unchanged, but the anti join probes the
    * materialized `hashes/` audit table instead of re-hashing the
    * store's text (same NOT EXISTS oracle; identical output). Per
    * arrival this pays O(batch) md5 + one narrow hash-keyed
    * shuffle_hash anti join whose store side is 16 B/doc — never the
    * store's text. On a real warehouse the audit table would also be
    * BUCKETED by hash so its side of the anti join never re-shuffles;
    * path-read parquet can't declare bucketing to Spark without a
    * catalog table, so that last exchange is priced here rather than
    * elided — it carries hashes only. The bucketed form is PROVEN
    * in-engine, not just asserted: PlanSpec's "bucketed store table"
    * test builds the same store as a bucketBy catalog table and pins
    * the serve plan to ZERO store-side exchanges with row identity.
    */
  def incrementalServe(spark: SparkSession, dir: String,
                       batchBucket: Int = 80): DataFrame = {
    val path = buildIncrementalStore(spark, dir, batchBucket)
    Tables.documents(spark, dir)
      .filter(Curation.splitBucket(col("doc_id")) >= batchBucket)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_copies"))
      .join(Stores.read(spark, s"$path/hashes").hint("shuffle_hash"),
        Seq("text_hash"), "left_anti")
      .select(col("doc_id"), col("text_hash"), col("batch_copies"))
      .transform(batchPresentation(spark, dir, batchBucket))
  }

  /** [[incrementalNearDup]]'s store-resident twin (spec-gated identity):
    * batch signatures are computed O(batch), the store side of the band
    * join reads the materialized `bands/` index, and shingle arrays for
    * verification are re-derived only for docs that actually appear in a
    * candidate pair (batch docs + COLLIDING store docs — a semi-join
    * prune, O(collisions) shingling instead of O(store)). Production
    * would keep the store's shingle table materialized and bucketed by
    * doc_id too; the semi-join fetch here still scans the store's text
    * column once, which is the honest price of testdata shipping no
    * shingle store.
    */
  def incrementalNearDupServe(spark: SparkSession, dir: String,
                              tau: Double = 0.9, k: Int = 64, bands: Int = 16,
                              batchBucket: Int = 80): DataFrame = {
    val path = buildIncrementalStore(spark, dir, batchBucket, k, bands)
    val r = k / bands
    val batchKeys = tokenized(spark, dir)
      .filter(Curation.splitBucket(col("doc_id")) >= batchBucket)
      .select(col("doc_id"),
        MinHashShingled.minhash_shingled(col("w"), 3, k).as("sig"))
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
          s"b -> xxhash64(slice(sig, b*$r + 1, $r), b))")).as(Seq("band", "bh")))
    val cand = batchKeys.as("a")
      .join(Stores.read(spark, s"$path/bands").as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .transform(graft.Caches.scoped(_)) // feeds the semi-join prune AND verification
    val needed = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val neededSh = shingledHashed(spark, dir)
      .join(needed.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
    verifyJaccard(neededSh, cand, tau)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("store_id"),
        col("jaccard"))
  }

  /** Near-duplicate INCREMENTAL matches (library entry; spec-gated —
    * MinHash banding has no SQL oracle): batch docs whose content is a
    * J ≥ tau near-dup of some STORE doc, via banding the batch
    * signatures against the store signatures — the CROSS collision set
    * only (batch-internal near-dups are [[minhashVerifiedPairs]]'s job
    * on the batch alone; the two compose into the full arrival dedup).
    * Returns verified (doc_id = batch doc, store_id, jaccard) matches;
    * the caller anti-joins survivors out of the batch.
    *
    * Per-arrival cost at a steady corpus: O(batch) new signatures plus
    * the banded collision volume between sides — never O(store) work,
    * because the store's signature/band-key table is the standing
    * index (recomputed here only for the same no-materialized-store
    * reason as [[incremental]]) and only colliding store rows are ever
    * fetched for verification.
    */
  def incrementalNearDup(spark: SparkSession, dir: String, tau: Double = 0.9,
                         k: Int = 64, bands: Int = 16,
                         batchBucket: Int = 80): DataFrame = {
    val r = k / bands
    val sig = tokenized(spark, dir)
      .select(col("doc_id"), Curation.splitBucket(col("doc_id")).as("bucket"),
        MinHashShingled.minhash_shingled(col("w"), 3, k).as("sig"))
      .transform(graft.Caches.scoped(_))
    def bandKeys(side: DataFrame) = side.select(col("doc_id"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
        s"b -> xxhash64(slice(sig, b*$r + 1, $r), b))")).as(Seq("band", "bh")))
    val cand = bandKeys(sig.filter(col("bucket") >= batchBucket)).as("a")
      .join(bandKeys(sig.filter(col("bucket") < batchBucket)).as("b")
          .hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(graft.Caches.scoped(shingledHashed(spark, dir)), cand, tau)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("store_id"),
        col("jaccard"))
  }

  /** `dedup_substring`: repeated-SPAN detection (r13) — the span-level
    * half of training-data dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): document-level dedup
    * misses boilerplate, licenses, and quoted passages duplicated
    * INSIDE otherwise-unique documents, which LLM training cares about
    * because the model memorizes repeated spans regardless of their
    * container. A span is flagged when a `w`-word window occurs ≥2
    * times corpus-wide (cross- OR intra-document — both are repeats a
    * curation pass deletes); overlapping flagged windows merge into
    * maximal spans per document: (doc_id, span_start, span_end,
    * n_dup_windows) in word offsets, the removal list a cleaning pass
    * consumes.
    *
    * Scale shape (§5, the posting-join class): one pass explodes
    * Σ(len−w+1) ≈ token-count windows as (hash, doc, pos) — 8-byte
    * hashes shuffle, never window text (the [[shingledHashed]]
    * argument: 2^64 collisions negligible; the DuckDB oracle groups the
    * window STRINGS, so agreement is checked, not assumed); the repeat
    * filter is one count aggregate over window hashes (map-side partial
    * — duplicated windows are exactly where partials reduce); survivors
    * flow back through a hint-pinned shuffle-hash semi join; the
    * per-document island merge is one doc-keyed window pass. No
    * all-pairs anywhere; every stage is bounded by corpus token count.
    * Window hashing is the O(tokens) [[WindowHashes]] roll (r14) — the
    * r13 array_join form paid O(tokens·w) string materialization.
    */
  def substringSpans(spark: SparkSession, dir: String, w: Int = 16): DataFrame =
    substringSpansFrom(Tables.documents(spark, dir), w)

  /** [[substringSpans]] over ANY (doc_id, text) frame, ordered by
    * (doc_id, span_start). [[Pipeline.corpusTrain]] runs the same pass,
    * unordered ([[substringSpansFromWords]]), over the cleaned-survivor
    * corpus, so repeated spans are detected over the documents that
    * actually remain (a span repeated only between exact duplicates is
    * already gone with the duplicates).
    */
  def substringSpansFrom(docs: DataFrame, w: Int = 16): DataFrame =
    substringSpansFromWords(wordArrays(docs), w)
      .orderBy(col("doc_id"), col("span_start"))

  /** [[substringSpansFrom]] over a pre-split (doc_id, w) word-array
    * frame — lets [[substringApply]] share ONE cached split of the text
    * column between the flag pass and the cut pass (r18). */
  private[graft] def substringSpansFromWords(words: DataFrame, w: Int): DataFrame = {
    val wins = windowPostingsFromWords(words, w)
      .transform(graft.Caches.scoped(_)) // feeds the count AND the join back
    val dup = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2).select(col("h"))
    mergeIslands(wins.join(dup.hint("shuffle_hash"), Seq("h"), "left_semi"), w)
  }

  /** The (doc_id, w = split text) projection both window-span passes
    * consume. */
  private[graft] def wordArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))

  /** (doc_id, pos, h) for every w-word window of every document with
    * ≥ w words — ONE O(tokens) pass ([[WindowHashes]] hashes each token
    * once and rolls). The posting table both span operators
    * ([[substringSpans]], [[Curation.contaminationSpans]]) fan out from.
    */
  private[operators] def windowPostings(spark: SparkSession, dir: String,
                                        w: Int, normalize: Boolean = false): DataFrame =
    windowPostingsFrom(Tables.documents(spark, dir), w, normalize)

  /** With `normalize = true`, windows hash the PER-WORD normalized
    * content ([[TextAnalysis.normalizeText]] applied word-wise — the
    * doc-level rule dedup_exact_normalized already uses) while `pos`
    * stays the RAW word offset: the word mapping is 1:1, so a span
    * flagged on normalized windows cuts at exact original positions.
    * This closes the standard evasion (r17 verdict item 2): a test
    * passage re-cased or re-punctuated slips past raw window hashes
    * but not normalized ones. Cost: the normalize kernel is one byte
    * pass per word inside the same posting scan — no extra shuffle,
    * hashes stay 8 bytes.
    */
  private[graft] def windowPostingsFrom(docs: DataFrame, w: Int,
                                        normalize: Boolean = false): DataFrame =
    windowPostingsFromWords(wordArrays(docs), w, normalize)

  /** [[windowPostingsFrom]] over a pre-split (doc_id, w) frame. */
  private def windowPostingsFromWords(words: DataFrame, w: Int,
                                      normalize: Boolean = false): DataFrame = {
    val hashed =
      if (normalize)
        transform(col("w"), wd => TextAnalysis.normalizeText(wd))
      else col("w")
    words
      .filter(size(col("w")) >= w)
      .select(col("doc_id"),
        posexplode(graft.functions.WindowHashes.window_hashes(hashed, w))
          .as(Seq("pos", "h")))
  }

  /** Merge a frame of flagged (doc_id, pos) windows into maximal
    * per-document spans: windows at p and q overlap iff q − p ≤ w−1, a
    * larger gap starts a new span. One doc-keyed window pass; output
    * (doc_id, span_start, span_end, n_dup_windows) in word offsets —
    * the removal list [[substringApply]] consumes. Unordered: every
    * apply consumer regroups it by doc_id into a `sort_array`, and a
    * presentation sort here put a range exchange, a sampling job and a
    * sort under each of them; the registered span lists and the arrival
    * span stores order it themselves.
    */
  private[graft] def mergeIslands(flagged: DataFrame, w: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("ni",
        when(col("prev").isNull || col("pos") - col("prev") > w - 1, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(w - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_dup_windows"))
  }

  /** `dedup_substring_apply`: the span removal list APPLIED (r14) —
    * cut every flagged span out of its document and re-emit the
    * CLEANED corpus with its post-cut token stats. This is the frame a
    * training pipeline actually tokenizes; [[substringSpans]] is its
    * audit view (r13 shipped the list with no consumer — the
    * end-to-end corpus still contained every repeated span).
    *
    * Scale shape: [[substringSpans]]'s posting-join stages, then ONE
    * doc-keyed aggregate packs each doc's spans into a sorted array
    * (bounded: maximal spans are disjoint, so ≤ len/w + 1 structs per
    * doc — smaller than the word array that rides the same row), one
    * hint-pinned shuffle-hash left join puts spans beside their
    * documents (most docs have none and pass through), and the cut is
    * the O(tokens + spans) [[graft.functions.CutSpans]] merge-scan.
    * The output carries the cleaned TEXT — it IS the materialization —
    * so the oracle hash-compares the cleaned strings themselves, not a
    * summary.
    */
  def substringApply(spark: SparkSession, dir: String, w: Int = 16): DataFrame = {
    // One text scan, not two (r18, guide §6/§2.3): the span flag pass
    // and the cut pass share one cached split of the text column — the
    // cut previously re-read and re-split every document.
    val words = graft.Caches.scoped(
      wordArrays(Tables.documents(spark, dir)))
    val perDoc = substringSpansFromWords(words, w)
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"),
        count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("n_removed"))
    val emptyLongs = array().cast("array<bigint>")
    words
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.CutSpans.cut_spans(col("w"),
          coalesce(transform(col("sp"), _.getField("span_start")), emptyLongs),
          coalesce(transform(col("sp"), _.getField("span_end")), emptyLongs))
          .as("clean_text"),
        (size(col("w")).cast("long") - coalesce(col("n_removed"), lit(0L)))
          .as("n_tokens_clean"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans_removed"),
        coalesce(col("n_removed"), lit(0L)).as("n_tokens_removed"))
      .orderBy(col("doc_id"))
  }

  /** `dedup_ngram_jaccard`: EXACT 3-gram Jaccard ≥ tau — every
    * qualifying pair in the corpus, with prefix-filtered candidate
    * generation (see [[ngramJaccardFrom]]). Because the prefix filter
    * is complete for J ≥ tau under any global token order, the DuckDB
    * oracle runs the same algorithm under string order and the verified
    * outputs agree structurally, not just on current testdata.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
                   tau: Double = 0.8, normalize: Boolean = false): DataFrame =
    ngramJaccardFrom(shingledHashed(spark, dir, normalize), tau)

  /** [[ngramJaccard]] over any (doc_id, sh) pre-shingled frame — lets
    * [[Pipeline.corpusClean]] feed the shared single-scan projection
    * instead of re-reading `documents`.
    *
    * Candidate generation is PREFIX-FILTERED (the AllPairs/PPJoin
    * prefix theorem): the shingle arrays are sorted by hash (a global
    * total order), and for any pair with Jaccard ≥ tau the smallest
    * common hash provably sits within each side's first
    * |sh| − ⌈tau·|sh|⌉ + 1 elements — proof: J ≥ τ ⇒ |r∩s| ≥ τ·|r|,
    * and every r-element before the smallest common one is outside s.
    * So exploding and joining only that prefix (≈ 11 of ~52 shingles at
    * tau=0.8) finds EVERY qualifying pair: complete with no
    * document-frequency cap, unlike the rare-shingle heuristic it
    * replaces (which silently dropped near-dup cliques bigger than its
    * cap, and joined ~5× more postings — the sf10 sweep measured it at
    * 126 s / 43.6M candidates vs 22.9M raw prefix pair-rows, linear
    * per decade from sf0.1 to sf10).
    *
    * Worst case: a clique of m byte-identical documents makes both the
    * candidate set and the TRUE OUTPUT Θ(m²) — no complete algorithm
    * avoids it. The production answer is exact-dedup first, which is
    * precisely what [[Pipeline.corpusClean]] composes.
    */
  /** Prefix-filter postings of a `(doc_id, sh)` shingle frame: each
    * doc's first |sh| − ⌈tau·|sh|⌉ + 1 sorted shingle hashes as
    * (doc_id, n, p, s) — the AllPairs/PPJoin posting table that
    * [[ngramJaccardFrom]] self-joins and the incremental cluster store
    * ([[Clusters.buildIncrementalClusterStore]]) materializes for its
    * batch↔store candidate join. ε guards FP in ⌈τ·n⌉: 50·0.8
    * evaluates to 40.000000000000006 and would ceil to 41, shortening
    * the prefix below what the completeness theorem requires (a longer
    * prefix is always safe).
    */
  private[graft] def prefixPostings(shingled: DataFrame, tau: Double): DataFrame = {
    val prefixLen =
      (size(col("sh")) - ceil(size(col("sh")) * tau - lit(1e-9)) + 1).cast("int")
    shingled.select(col("doc_id"), size(col("sh")).as("n"),
      posexplode(slice(col("sh"), lit(1), prefixLen)).as(Seq("p", "s")))
  }

  /** The PPJoin pruning join condition over two posting sides aliased
    * "a"/"b" — both filters only drop pairs that PROVABLY cannot reach
    * J ≥ tau, so the verified output is untouched (and the oracle
    * needs no mirror):
    *   length: J ≥ τ ⇒ |r∩s| ≥ τ·max(|r|,|s|) ⇒ min ≥ τ·max;
    *   position: for the smallest common token at 0-based (pa, pb),
    *     every other common token sits after it in BOTH arrays, so
    *     |r∩s| ≤ 1 + min(|r|−pa−1, |s|−pb−1), which must reach the
    *     J ≥ τ overlap requirement τ/(1+τ)·(|r|+|s|).
    * At sf10 they cut the candidate stream ~22M → ~6M before the
    * distinct and the array-fetch verification joins.
    */
  private[graft] def ppjoinCond(tau: Double): Column = {
    val minOverlap = lit(tau / (1 + tau)) * (col("a.n") + col("b.n")) - lit(1e-9)
    col("a.s") === col("b.s") &&
      col("a.n") * tau - lit(1e-9) <= col("b.n") &&
      col("b.n") * tau - lit(1e-9) <= col("a.n") &&
      (lit(1) + least(col("a.n") - col("a.p") - 1,
        col("b.n") - col("b.p") - 1)) >= minOverlap
  }

  def ngramJaccardFrom(shingled: DataFrame, tau: Double = 0.8): DataFrame = {
    // This DAG reuses the shingle tables four times — persist so they
    // materialize once. Same at cluster scale: the shingle table is the
    // natural intermediate to cache/checkpoint.
    val docsSh = graft.Caches.scoped(shingled)
    val pre = prefixPostings(docsSh, tau)
      .transform(graft.Caches.scoped(_))
    val cand = pre.as("a").join(pre.as("b"),
        ppjoinCond(tau) && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // NO distinct on the candidate stream: the sf10 ladder measured it
    // as a 3.7 s shuffle of 3.1M pairs that removes only ~5% duplicates
    // (a pair appears once per shared PREFIX shingle, and the position
    // filter already keeps most pairs to one posting). Verification is
    // per-row idempotent, so duplicate candidates cost only their own
    // re-verification; the output is deduplicated *after* the J ≥ tau
    // filter, where the survivor set is ~1000× smaller.
    verifyJaccard(docsSh, cand, tau)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** EXACT-Jaccard verification of a `(doc_a, doc_b)` candidate frame
    * against a cached `(doc_id, sh)` shingle table: the shared back
    * half of every candidates→pairs path (prefix-filtered, MinHash,
    * or any external candidate generator — verify-on-survivors is the
    * 100 TB recipe, so this is a first-class entry).
    *
    * Joins the *shingle arrays* (two SHUFFLE-HASH joins on doc_id —
    * the candidate stream needs no sort, and the array table builds a
    * per-partition hash map instead of sorting ~450-byte rows) and
    * merge-counts the sorted arrays per pair inside codegen —
    * O(|cand|·|sh|) primitive scans with no exploded-row blow-up (a
    * candidate×shingle re-join would materialize |cand|·|sh| ROWS
    * before aggregating; this plan never leaves one row per pair).
    * Duplicate candidates are tolerated (verification is idempotent;
    * the terminal distinct collapses them on the ~1000× smaller
    * survivor set).
    */
  private[graft] def verifyJaccard(docsSh: DataFrame, cand: DataFrame,
                                   tau: Double,
                                   broadcastShingles: Boolean = false): DataFrame =
    verifyJaccardSides(docsSh, broadcastShingles, docsSh, broadcastShingles,
      cand, tau)

  /** [[verifyJaccard]] with the two join sides supplied (and gated)
    * SEPARATELY: callers whose doc_a side is batch-bounded but whose
    * doc_b side includes a COLLISION-bounded store fetch broadcast
    * only the side the gate actually bounds (r16 advice — a
    * doc-count gate says nothing about the collision union's bytes).
    */
  private[graft] def verifyJaccardSides(shA: DataFrame, bA: Boolean,
                                        shB: DataFrame, bB: Boolean,
                                        cand: DataFrame, tau: Double): DataFrame = {
    // broadcast flags: the caller has gated that shingle side small
    // (the serve's footer-measured batch tier) — broadcast it so its
    // verification join streams the candidate side with no exchange
    // at all, instead of shuffling both sides.
    def sh(df: DataFrame, b: Boolean): DataFrame =
      if (b) broadcast(df) else df.hint("shuffle_hash")
    cand
      .join(sh(shA.as("da"), bA), col("doc_a") === col("da.doc_id"))
      .join(sh(shB.as("db"), bB), col("doc_b") === col("db.doc_id"))
      // J ≥ tau ⇔ n_common ≥ tau/(1+tau)·(na+nb); `need` sits strictly
      // below that bound, so every pair that can pass gets its exact
      // count and a pair that cannot reads −1 and fails the filter.
      .select(col("doc_a"), col("doc_b"),
        graft.functions.IntersectCountSorted.intersect_count_sorted(
          col("da.sh"), col("db.sh"),
          floor((size(col("da.sh")) + size(col("db.sh"))) * (tau / (1 + tau))) - 1)
          .as("n_common"),
        size(col("da.sh")).as("na"), size(col("db.sh")).as("nb"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= tau)
      .distinct() // collapse multi-posting candidate duplicates (identical rows)
  }

  /** MinHash-candidate pairs verified at EXACT Jaccard ≥ tau — the
    * sketch-then-verify pair graph (candidates from banded LSH,
    * truth from the shingle arrays; only candidates ever pay the
    * array fetch). Complete up to LSH recall: with k=64, bands=16
    * (r=4), a J ≥ 0.9 pair collides in ≥1 band with probability
    * 1 − (1 − 0.9⁴)¹⁶ ≈ 1 − 3.8·10⁻⁸, so at tau ≥ 0.9 the verified
    * output equals the exact pair graph up to that bound (DedupSpec
    * pins the containment on testdata; the clusters oracle re-checks
    * it end-to-end every round).
    */
  def minhashVerifiedPairs(spark: SparkSession, dir: String, tau: Double = 0.9,
                           k: Int = 64, bands: Int = 16): DataFrame =
    verifyJaccard(
      graft.Caches.scoped(shingledHashed(spark, dir)),
      minhashCandidates(spark, dir, k, bands),
      tau)

  /** `dedup_minhash_lsh`: 64-hash MinHash signature (single-pass custom
    * expression) banded 16×4; candidate pairs share a band bucket, and
    * estimated Jaccard is the matching-coordinate fraction. Emits one
    * row per shingled document (candidate-free docs keep nulls) so the
    * result doubles as a dedup report: keep rows where best_est < tau.
    */
  /** MinHash signatures + banded LSH candidate pairs — the shared core
    * of [[minhashLsh]] and [[minhashCandidates]] (one definition so the
    * spec's recall check exercises exactly the registered operator's
    * candidate set). Returns (persisted signature table, candidates).
    */
  private def minhashSigAndCandidates(spark: SparkSession, dir: String,
                                      k: Int, bands: Int): (DataFrame, DataFrame) = {
    val r = k / bands
    val sig = tokenized(spark, dir)
      .select(col("doc_id"), MinHashShingled.minhash_shingled(col("w"), 3, k).as("sig"))
      .transform(graft.Caches.scoped(_)) // reused by banding (x2), estimation (x2), and the final left join
    val bandKeys = sig.select(col("doc_id"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
        s"b -> xxhash64(slice(sig, b*$r + 1, $r), b))")).as(Seq("band", "bh")))
    // SHUFFLE_HASH on the self-join and both signature fetches: none of
    // these sides broadcast (the signature table is ~n·k·8 bytes), and
    // sort-merge would sort the 16·n band-key stream twice and the
    // candidate stream twice more — the same class of cost the r7 sf10
    // ladder measured on ngram/simhash verification joins.
    val cand = bandKeys.as("a").join(bandKeys.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (sig, cand)
  }

  def minhashLsh(spark: SparkSession, dir: String,
                 k: Int = 64, bands: Int = 16): DataFrame = {
    val (sig, cand) = minhashSigAndCandidates(spark, dir, k, bands)
    val est = cand
      .join(sig.as("sa").hint("shuffle_hash"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb").hint("shuffle_hash"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (graft.functions.MatchCount.match_count(col("sa.sig"), col("sb.sig"))
          .cast("double") / k).as("est_jaccard"))
      // consumed twice by the per-doc union below: without this the
      // whole banding join re-executes per branch (sf10: 2×11 s for a
      // 37k-row result)
      .transform(graft.Caches.scoped(_))
    val perDoc = est.select(col("doc_a").as("doc_id"), col("doc_b").as("other"), col("est_jaccard"))
      .unionByName(est.select(col("doc_b").as("doc_id"), col("doc_a").as("other"), col("est_jaccard")))
      .groupBy("doc_id")
      // top_k_pairs k=1 instead of max(struct(...)) (r18): a struct
      // aggregation buffer is not hash-aggregable, so the struct form
      // planned SortAggregate — BOTH aggregate levels sorted the full
      // candidate stream by doc_id. The primitive-heap pair aggregate
      // runs as ObjectHashAggregate (no sorts; same exchanges).
      // Ordering parity: max(struct(j, other)) = (j DESC, other DESC
      // best-first); top_k_pairs orders (score DESC, id ASC), so id =
      // −other makes ties break to the LARGEST other, exactly as the
      // struct max did. PRECONDITION (r18 ADVICE): top_k_pairs skips
      // null score/id rows where max(struct) would rank them —
      // equivalent only because est_jaccard and other are non-nullable
      // here (match_count over non-null sigs; join keys).
      .agg(count(lit(1)).as("n_candidates"),
        graft.functions.TopKPairs.top_k_pairs(
          col("est_jaccard"), -col("other"), 1).as("tk"))
    sig.select(col("doc_id"))
      // shuffle_hash (r18): unhinted this planned as a SortMergeJoin —
      // both sides sorted for a decorate join whose right side is the
      // bounded per-doc candidate summary. SHJ keeps the same two
      // exchanges but drops both sorts (plans/r18/dedup_minhash_lsh).
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        (-col("tk")(0).getField("id")).as("best_match"),
        col("tk")(0).getField("score").as("best_est_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Candidate pairs from MinHash LSH banding (used by the spec's
    * recall check against exact Jaccard) — same core as [[minhashLsh]].
    */
  def minhashCandidates(spark: SparkSession, dir: String,
                        k: Int = 64, bands: Int = 16): DataFrame =
    minhashSigAndCandidates(spark, dir, k, bands)._2

  /** `dedup_simhash`: 64-bit SimHash fingerprint (single-pass custom
    * expression); candidates come from (64/w)-band banding with
    * single-bit MULTIPROBE on one join side, band width w picked from
    * the corpus size by [[simhashBandWidth]]. By pigeonhole, a pair
    * within Hamming distance 2·bands−1 has ≥1 band differing in ≤1 bit
    * (bands can't each absorb 2 of the flipped bits), and the probe
    * side emits every 1-bit perturbation of each band key, so banding
    * is *complete* to Hamming 7 at w=16 (covering the default
    * maxHamming=6 verification radius), Hamming 3 at w=32, Hamming 1
    * at w=64. Near-duplicates are verified with bit_count(xor) ≤
    * maxHamming. One row per shingled document, like [[minhashLsh]].
    *
    * Scale math (why adaptive, and why not 8×8-bit bands, which are
    * "more complete"): a random pair collides per w-bit band at
    * (w+1)/2^w (w+1 probe keys), so false candidates run at
    * C(n,2) · (64/w) · (w+1)/2^w — quadratic in n for any FIXED w.
    * [[simhashBandWidth]] grows w so the random term stays ≤ n/2 at
    * every scale; the narrower complete radius is the honest price
    * (same knob as [[adaptiveLshBits]], same reason).
    */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 6,
              widthOverride: Option[Int] = None): DataFrame = {
    val (fp, cand, w) = simhashFpAndCandidates(spark, dir, widthOverride)
    // Banding is pigeonhole-complete only to 2·(64/w)−1; beyond that the
    // verification radius is serviced probabilistically (recall ≈ 0.61 /
    // 0.36 / 0.20 at Hamming 4/5/6 under w=32 — hypergeometric split of
    // the flipped bits across 2 bands). Same result would silently become
    // scale-DEPENDENT (a pair found at sf0.001 missed at sf0.1) — surface
    // the trade loudly whenever the adaptive width narrows past the
    // caller's radius. DedupSpec measures the actual recall at sf0.1.
    val completeRadius = 2 * (64 / w) - 1
    if (maxHamming > completeRadius)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"simhash: maxHamming=$maxHamming exceeds the width-$w banding's " +
          s"complete radius $completeRadius; pairs at Hamming " +
          s"${completeRadius + 1}..$maxHamming are found probabilistically. " +
          "Lower maxHamming, or pass widthOverride for exhaustive recall " +
          "at a quadratic-in-n candidate cost.")
    val near = cand
      .join(fp.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(fp.as("fb"), col("doc_b") === col("fb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fa.fp").bitwiseXOR(col("fb.fp"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .transform(graft.Caches.scoped(_)) // consumed twice by the per-doc union below
    val perDoc = near.select(col("doc_a").as("doc_id"), col("doc_b").as("other"), col("hamming"))
      .unionByName(near.select(col("doc_b").as("doc_id"), col("doc_a").as("other"), col("hamming")))
      .groupBy("doc_id")
      // top_k_pairs k=1 instead of min(struct(...)) (r18, see
      // minhashLsh): min(struct(h, other)) is (h ASC, other ASC)
      // best-first = top_k_pairs (score DESC, id ASC) with score = −h;
      // hamming ≤ 64 is exact in double both ways. ObjectHashAggregate
      // replaces the two SortAggregate levels and their sorts.
      // PRECONDITION (r18 ADVICE): top_k_pairs skips null score/id
      // rows — equivalent only because hamming and other are
      // non-nullable here (bit_count over non-null fps; join keys).
      .agg(count(lit(1)).as("n_near"),
        graft.functions.TopKPairs.top_k_pairs(
          -col("hamming").cast("double"), col("other"), 1).as("tk"))
    // shuffle_hash (r18): same decorate-join pin as minhashLsh — SMJ
    // sorted both sides for nothing (plans/r18/dedup_simhash).
    fp.join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("fp").as("simhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("tk")(0).getField("id").as("nearest"),
        (-col("tk")(0).getField("score")).cast("int").as("min_hamming"))
      .orderBy(col("doc_id"))
  }

  /** Fingerprints + banded-multiprobe candidate pairs — the shared core
    * of [[simhash]] and [[simhashCandidates]]. The plain side emits
    * 64/w band keys per doc; the probe side emits each key plus its w
    * single-bit perturbations, so the equi-join surfaces every pair
    * with a band differing in ≤1 bit — a superset of all pairs within
    * Hamming 2·(64/w)−1. Width comes from the parquet-footer row count
    * (no extra scan), like [[embedCosine]]'s bucket bits.
    */
  private def simhashFpAndCandidates(spark: SparkSession, dir: String,
                                     widthOverride: Option[Int] = None)
      : (DataFrame, DataFrame, Int) = {
    val w = widthOverride.getOrElse(
      simhashBandWidth(Tables.parquetRowCount(spark, dir, "documents")))
    require(w == 16 || w == 32 || w == 64, s"band width $w must divide 64")
    val bands = 64 / w
    val mask = if (w == 64) -1L else (1L << w) - 1
    val fp = tokenized(spark, dir)
      .select(col("doc_id"), SimHashShingled.simhash_shingled(col("w"), 3).as("fp"))
      .transform(graft.Caches.scoped(_)) // reused by banding (x2), Hamming check (x2), final join
    val bandKeys = fp.select(col("doc_id"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
        s"b -> shiftrightunsigned(fp, b*$w) & ${mask}L)")).as(Seq("band", "key")))
    val probeKeys = bandKeys.select(col("doc_id"), col("band"),
      explode(expr(s"transform(sequence(-1, ${w - 1}), " +
        "j -> IF(j < 0, key, key ^ shiftleft(1L, j)))")).as("key"))
    // SHUFFLE_HASH, explicitly: Catalyst sizes probeKeys from fp's
    // pre-explode stats (~16 bytes/doc), so at sf10 it auto-BROADCASTS
    // what is really an n·bands·(w+1)-row side — a measured 3.2 GiB
    // broadcast spilling to disk (sf10 ladder, r7: 60 s vs 17 s fixed).
    // An equi-join of n vs 33n rows is shuffle-bound at every scale.
    val cand = bandKeys.as("a").join(probeKeys.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (fp, cand, w)
  }

  /** Candidate pairs from simhash banded multiprobe (used by the spec's
    * completeness/volume properties) — same core as [[simhash]].
    */
  def simhashCandidates(spark: SparkSession, dir: String,
                        widthOverride: Option[Int] = None): DataFrame =
    simhashFpAndCandidates(spark, dir, widthOverride)._2

  /** `dedup_embed_cosine`: embedding-space near-duplicate pairs —
    * cosine ≥ tau over the document embeddings, candidates from
    * random-hyperplane LSH buckets, verified with the fast double dot
    * product ([[DotF32]] — no oracle crosses this result, so the
    * decimal-exact kernel would be pure overhead).
    *
    * Bucket width SCALES WITH THE DATA: bits = log2(n / 64), so the
    * expected bucket holds ~64 vectors regardless of n. Expected is not
    * guaranteed: REAL embedding corpora are clustered, and a dense
    * cosine-cluster collapses into the same bucket in every table (the
    * sf1 sweep measured a 1366-doc bucket against a 39-doc target —
    * 29.6M candidate pairs, quadratic in cluster mass). So pairing is
    * additionally BLOCKED within each bucket: docs are ordered by a
    * table-salted hash and only paired inside blocks of `blockSize`,
    * which caps candidates at tables · n · blockSize/2 — linear in n
    * no matter how skewed the buckets. A dense cluster still matches:
    * each doc pairs with blockSize−1 near-identical co-members per
    * table, and the per-table salt re-deals the blocks 16 ways.
    *
    * Verification happens IN the block join (the embedding rides the
    * explode, one fused [[DotF32]] per pair) — no re-join against the
    * base table and no 30M-row pre-verification distinct; the dedup
    * runs on the small ≥ tau survivor set instead.
    *
    * The honest recall tradeoff of bucketing stands: per-pair recall at
    * a *low* tau like 0.35 falls as bits grow — hyperplane LSH
    * concentrates its power on high-cosine pairs, which is exactly the
    * near-duplicate regime the operator exists for. Precision is exact
    * by construction (every emitted pair carries its exact cosine);
    * recall vs brute force is asserted in DedupSpec.
    *
    * OUTPUT is linear by construction too: each doc keeps only its top
    * `maxPairsPerDoc` partners by cosine (|result| ≤ n·cap). The rank
    * filter compiles to a map-side WindowGroupLimit — partitions prune
    * their local losers before the doc_a shuffle.
    *
    * CONTRACT NOTE (r5 advice): the cap is ONE-SIDED — top-k per doc_a
    * under the doc_a < doc_b canonical ordering; doc_b partnerships are
    * uncapped. Every pre-cap pair ≥ tau is still computed and ranked,
    * so a doc loses ALL evidence of near-duplication only if every one
    * of its partners out-ranks it `maxPairsPerDoc` deep — DedupSpec
    * measures that coverage at sf0.1 alongside the sf0.001 cap
    * property. Set maxPairsPerDoc = Int.MaxValue for the uncapped
    * every-pair contract (output then Θ(clique²) on dup-heavy corpora).
    */
  def embedCosine(spark: SparkSession, dir: String, tau: Double = 0.35,
                  tables: Int = 16, maxPairsPerDoc: Int = 10,
                  blockSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // n from parquet footer metadata — a count() here would be a full
    // extra scan of the table at 100 TB just to pick a bucket width.
    val bits = adaptiveLshBits(Tables.parquetRowCount(spark, dir, "embeddings"))
    val bucketed = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .withColumn("nrm", sqrt(DotF32.dot_f32(col("embedding"), col("embedding"))))
      .select(col("doc_id"), col("embedding"), col("nrm"),
        posexplode(LshBuckets.lsh_buckets(col("embedding"), tables, bits))
          .as(Seq("table_id", "bucket")))
    val blocked = bucketed.withColumn("blk",
      floor((row_number().over(
        Window.partitionBy(col("table_id"), col("bucket"))
          .orderBy(xxhash64(col("doc_id"), col("table_id")), col("doc_id"))) - 1)
        / blockSize))
      .transform(graft.Caches.scoped(_)) // both sides of the block self-join
    // SHUFFLE_HASH: the blocked side is n·tables wide rows (embedding
    // rides the join so verification is fused into it) — sort-merge
    // would sort that stream twice; hashing one side skips both sorts.
    blocked.as("a").join(blocked.as("b").hint("shuffle_hash"),
        col("a.table_id") === col("b.table_id") && col("a.bucket") === col("b.bucket") &&
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (DotF32.dot_f32(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= tau)
      // a surviving pair may collide in several tables — dedup the
      // small ≥ tau set, not the raw candidate stream
      .groupBy(col("doc_a"), col("doc_b")).agg(first(col("cosine")).as("cosine"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_a"))
          .orderBy(col("cosine").desc, col("doc_b"))))
      .filter(col("rk") <= maxPairsPerDoc)
      .drop("rk")
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
