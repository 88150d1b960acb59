package graft.operators

import graft.functions.HashedShingles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning — the composed LLM-training-data use
  * case the operator packs exist for, as one declarative plan:
  *
  *   quality gate → exact-duplicate keeper → near-duplicate removal
  *
  * Survivors emerge with their token counts, ready for tokenization
  * budgeting. Stage semantics are exactly the verified operators'
  * ([[TextAnalysis.quality]], [[Dedup.exact]], [[Dedup.ngramJaccard]]),
  * so the whole pipeline stays DuckDB-oracle-checkable; the joins are
  * left_semi/left_anti on doc_id — no row multiplication anywhere.
  *
  * Scale shape: ONE scan of `documents`. All three stages read a shared
  * persisted projection carrying every text-derived column they need —
  * fused [[graft.functions.TextStats]] counts, the md5 exact-dup hash,
  * and the shingle array — and the raw text is dropped before the
  * persist, so at 100 TB the dominant cost (the text scan) is paid
  * once and the cached intermediate is the compact derived form.
  *
  * Each public entry point builds its whole plan in
  * [[graft.Sessions.withoutAqe]] of the caller's session. The returned
  * frame belongs to that session, so the regime holds for whatever the
  * caller runs on it.
  */
object Pipeline {

  def corpusClean(spark: SparkSession, dir: String,
                  minQuality: Double = 0.5, tau: Double = 0.8): DataFrame =
    cleanSurvivors(graft.Sessions.withoutAqe(spark), dir, minQuality, tau).orderBy(col("doc_id"))

  /** The three-stage survivor frame (doc_id, n_tokens, quality_score),
    * unordered — shared by [[corpusClean]] and [[corpusTrain]] (the
    * r14 stage ladder over it is recorded in BASELINE.md's
    * pipeline_corpus_train row). */
  private[graft] def cleanSurvivors(spark: SparkSession, dir: String,
                                    minQuality: Double = 0.5,
                                    tau: Double = 0.8): DataFrame = {
    val base = graft.sources.Tables.documents(spark, dir)
      .withColumn("ts", TextAnalysis.statsCol)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        col("ts.n_tokens").cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col("ts")).as("quality_score"),
        md5(col("text").cast("binary")).as("text_hash"),
        // <3 words ⇒ no 3-shingles ⇒ excluded from near-dup detection
        // (Dedup.tokenized's filter, as a null here)
        when(size(col("w")) >= 3,
          HashedShingles.hashed_shingles(col("w"), 3)).as("sh"))
      .transform(graft.Caches.scoped(_))
    // exact dedup: survivors are each hash group's min-id keeper
    val keepers = base.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // near-dup removal: the higher id of every Jaccard>=tau pair drops
    val nearLosers = Dedup.ngramJaccardFrom(
        base.filter(col("sh").isNotNull).select(col("doc_id"), col("sh")), tau)
      .select(col("doc_b").as("doc_id")).distinct()
    base
      .filter(col("quality_score") >= minQuality)
      .join(keepers, Seq("doc_id"), "left_semi")
      // shuffle_hash (r18): the near-loser anti join planned sort-merge,
      // sorting the whole quality-gated corpus side above its exchange
      // (plans/r18/pipeline_corpus_clean node 51); the loser-id side is
      // the natural hash build. BUILD-SIZE ASSUMPTION (r18 ADVICE): SHJ
      // removes SMJ's spill path, and the per-partition build is the
      // loser-id set — 8 B/duplicate-doc ids, scaling with the corpus
      // DUPLICATE RATE, not its volume. Even a pathological 90%-dup
      // corpus builds ~0.9·n·8 B across ALL partitions (~7 GB/10⁹ docs
      // cluster-wide, KBs per task at any sane partitioning); a corpus
      // where that per-partition slice threatens executor memory has
      // its duplicate mass concentrated by key skew. The pipeline plans
      // without AQE, so no skew split runs here, and no build-size gate
      // guards this pin yet (ROADMAP item 3).
      .join(nearLosers.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
  }

  /** `pipeline_corpus_train`: the corpus a training run actually
    * tokenizes — [[corpusClean]]'s three stages COMPOSED with span-level
    * dedup applied to the survivors:
    *
    *   quality gate → exact keeper → near-dup removal →
    *   repeated-span cut ([[Dedup.substringSpansFromWords]] over the
    *   SURVIVOR corpus + the CutSpans materialization)
    *
    * Spans are detected over the documents that actually remain, not
    * the raw corpus: a window repeated only between removed duplicates
    * is already gone with them (Lee et al. dedup the kept set), so the
    * cut list is exactly the residual cross-document repetition
    * doc-level dedup cannot reach. Output: the CLEANED text itself plus
    * post-cut token stats and the quality score — hash-gated end to end
    * by a DuckDB oracle that recomputes all four stages from scratch.
    *
    * Scale shape: corpusClean's one stats/hash/shingle scan, plus ONE
    * survivor-restricted text scan shared by the window pass and the
    * cut (semi join on survivor ids, cached as the compact survivor
    * projection); the span machinery itself shuffles 8-byte window
    * hashes, never text, and every join is hint-pinned shuffle-hash.
    */
  def corpusTrain(spark: SparkSession, dir: String,
                  minQuality: Double = 0.5, tau: Double = 0.8,
                  w: Int = 16): DataFrame = {
    val s = graft.Sessions.withoutAqe(spark)
    val survivors = cleanSurvivors(s, dir, minQuality, tau)
      .transform(graft.Caches.scoped(_)) // semi-join prune + quality output
    // CACHED survivor text, by measurement: the A/B at sf10 (1M docs)
    // reads cache 18.25 s vs recompute 21.76 s — the second scan +
    // semi join costs more than the persist. The scale trade is
    // acceptable because MEMORY_AND_DISK degrades to a disk-backed
    // temp copy whose write+read ≈ the re-scan it replaces (never
    // catastrophically worse, unlike a broadcast), while saving the
    // duplicated semi join; a deployment that cannot afford local
    // spill space for its survivor set materializes it to the output
    // store anyway (clean_text IS the product).
    val docs = graft.sources.Tables.documents(s, dir)
      .join(survivors.select(col("doc_id")).hint("shuffle_hash"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
      .transform(graft.Caches.scoped(_)) // window pass + cut, one scan
    val perDoc = Dedup.substringSpansFromWords(Dedup.wordArrays(docs), w)
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"),
        count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("n_removed"))
    val emptyLongs = array().cast("array<bigint>")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("wd"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(survivors.select(col("doc_id"), col("quality_score"))
        .hint("shuffle_hash"), Seq("doc_id"))
      .select(col("doc_id"),
        graft.functions.CutSpans.cut_spans(col("wd"),
          coalesce(transform(col("sp"), _.getField("span_start")), emptyLongs),
          coalesce(transform(col("sp"), _.getField("span_end")), emptyLongs))
          .as("clean_text"),
        (size(col("wd")).cast("long") - coalesce(col("n_removed"), lit(0L)))
          .as("n_tokens_clean"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans_removed"),
        col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** `pipeline_corpus_full` (r15, r14 verdict item 2): the corpus a
    * training run ACTUALLY consumes, end to end in one registered,
    * oracle-gated materialization —
    *
    *   quality gate → exact keeper → near-dup removal →
    *   span cut (repeated spans ∪ test-leakage spans) →
    *   source-mixture resample → token-budget shard packing
    *
    * Composition choices, stated because they ARE the semantics:
    *   - the split is the content-addressed [[Curation.splitBucket]]
    *     assignment over SURVIVOR docs (train <90 / val 90-94 /
    *     test ≥95); the output is the packed TRAIN corpus (the val/
    *     test materializations are separate products);
    *   - span-dedup and decontamination share ONE window pass but are
    *     genuinely distinct rules: a train doc's flagged windows are
    *     the TRAIN-corpus repeats (count ≥ 2 over train survivors —
    *     Lee et al. dedup the corpus being trained on; counting test
    *     occurrences here would smuggle the leakage rule into the
    *     repeat rule) UNIONED with the windows occurring in any TEST
    *     survivor ([[Curation.decontaminate]]'s GPT-3-appendix-C
    *     direction), merged into islands and cut ONCE on original word
    *     offsets — sequential cuts would re-hash the residual text a
    *     second time and manufacture seam windows no curation pass
    *     wants. Val docs (buckets 90-94) belong to neither rule;
    *   - mixing rates are computed over the decontaminated train set
    *     (the composition's actual source histogram, not the raw
    *     corpus's), with [[Curation.mixCorpus]]'s integer arithmetic;
    *   - packing orders by doc_id with post-cut token counts, via the
    *     two-phase distributed prefix-sum ([[Curation.packCore]]).
    *
    * Scale shape: corpusClean's one stats/hash/shingle scan + ONE
    * survivor-restricted text scan feeding the window pass, the cut,
    * and the mix counts; 8-byte window hashes shuffle (never text);
    * the flag check is ONE hint-pinned semi join against the dup ∪
    * test hash union (semi joins tolerate the union's duplicates);
    * rates and block prefixes broadcast (bounded rows); the pack runs
    * on the narrow (id, tokens) projection and text re-attaches by one
    * hash join. The DuckDB oracle recomputes every stage from scratch
    * and hash-compares the final text + shard assignment.
    */
  /** Token-pricing knob (r17, r16 verdict item 4): with `bpeMerges`
    * set, the pack/mix TAIL prices documents in SUBWORD tokens of the
    * cleaned text — `n_tokens` and the shard budget switch to the
    * [[graft.functions.BpeCount]] count under the caller's merge table
    * (train it once with [[Bpe.mergesFor]] and thread it everywhere a
    * deployment prices, including the arrival twin
    * [[graft.streaming.EventStream.arrivalCorpusTrain]], so batch and
    * streaming bill in the same unit). Mix rates are doc-count-based
    * ([[Curation.mixRatesFor]]) and therefore pricing-independent; the
    * upstream cleaning stages never look at token counts at all.
    * `pipeline_corpus_full_bpe` registers the priced variant rows-only
    * (the merge loop is not SQL-expressible); CurationSpec gates it
    * against a sequential fold over the per-doc subword counts.
    */
  def corpusFull(spark: SparkSession, dir: String,
                 minQuality: Double = 0.5, tau: Double = 0.8, w: Int = 16,
                 weights: Map[String, Int] = Map("src0" -> 30, "src1" -> 30),
                 defaultWeight: Int = 1, budgetPct: Int = 50,
                 budgetTokens: Long = 50000L,
                 bpeMerges: Option[Array[String]] = None): DataFrame = {
    val mixed = mixedTrain(graft.Sessions.withoutAqe(spark), dir, minQuality, tau, w, weights,
      defaultWeight, budgetPct, bpeMerges)
    // packAssignments, not packCore (r18): the shard-id frame feeds a
    // hash join on doc_id — packCore's presentation sort was a wasted
    // range exchange + sort here.
    val packed = Curation.packAssignments(
      mixed.select(col("doc_id"), col("n_tokens"), Curation.docBlock(spark, dir)),
      budgetTokens)
    packed.select(col("doc_id"), col("shard_id"))
      .join(mixed.select(col("doc_id"), col("source"), col("clean_text"),
        col("n_tokens")).hint("shuffle_hash"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("clean_text"),
        col("n_tokens"), col("shard_id"))
      .orderBy(col("doc_id"))
  }

  /** [[corpusFull]] through its MIXED train frame (doc_id, source,
    * clean_text, n_tokens) — every stage up to and including the
    * source-mixture resample, before the pack tail. Shared by the
    * shard-packing tail above and the fixed-context tokenized tail
    * ([[corpusTokenized]]), which replace the tail differently but
    * must agree on the corpus they feed from.
    */
  private[graft] def mixedTrain(spark: SparkSession, dir: String,
                                minQuality: Double = 0.5, tau: Double = 0.8,
                                w: Int = 16,
                                weights: Map[String, Int] = Map("src0" -> 30, "src1" -> 30),
                                defaultWeight: Int = 1, budgetPct: Int = 50,
                                bpeMerges: Option[Array[String]] = None): DataFrame = {
    val survivors = cleanSurvivors(spark, dir, minQuality, tau)
    val docs = graft.sources.Tables.documents(spark, dir)
      .join(survivors.select(col("doc_id")).hint("shuffle_hash"),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("wd"),
        Curation.splitBucket(col("doc_id")).cast("long").as("bucket"))
      .filter(col("bucket") < 90 || col("bucket") >= 95) // val: neither rule
      .transform(graft.Caches.scoped(_)) // window pass + cut: one text scan
    val posted = docs
      .filter(size(col("wd")) >= w)
      .select(col("doc_id"), col("bucket"),
        posexplode(graft.functions.WindowHashes.window_hashes(col("wd"), w))
          .as(Seq("pos", "h")))
      .transform(graft.Caches.scoped(_)) // dup count + test vocab + train stream
    // Flagged-window rule as ONE aggregate (r19, r18 verdict item 5):
    // a window is cut when it repeats within the train survivors
    // (count ≥ 2) OR occurs in any test survivor. The r18 form derived
    // dupH (an aggregate over the train postings) and testH (a raw
    // projection of the test postings) separately and unioned them into
    // the semi join's build side — three exchanges on the flag path,
    // with the test postings crossing UNAGGREGATED. One conditional
    // aggregate over the whole posted cache computes both counts in a
    // single pass; the semi join's build side reuses the aggregate's
    // hash partitioning on h, so the union exchange disappears
    // (guide §2.4 "two operations keyed the same way share one
    // exchange") and the test stream gets map-side partial aggregation.
    // Semantics identical: a semi join tolerates the union's
    // duplicates, so (train_cnt ≥ 2) OR (test_cnt ≥ 1) IS dupH ∪ testH.
    val flagH = posted.groupBy(col("h")).agg(
        count(when(col("bucket") < 90, 1)).as("tc"),
        count(when(col("bucket") >= 95, 1)).as("xc"))
      .filter(col("tc") >= 2 || col("xc") >= 1)
      .select(col("h"))
    val flagged = posted.filter(col("bucket") < 90)
      .select(col("doc_id"), col("pos"), col("h"))
      .join(flagH.hint("shuffle_hash"), Seq("h"), "left_semi")
    val perDoc = Dedup.mergeIslands(flagged, w)
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"),
        sum(col("span_end") - col("span_start") + 1).as("n_removed"))
    val emptyLongs = array().cast("array<bigint>")
    val train = docs.filter(col("bucket") < 90)
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        graft.functions.CutSpans.cut_spans(col("wd"),
          coalesce(transform(col("sp"), _.getField("span_start")), emptyLongs),
          coalesce(transform(col("sp"), _.getField("span_end")), emptyLongs))
          .as("clean_text"),
        (size(col("wd")).cast("long") - coalesce(col("n_removed"), lit(0L)))
          .as("n_tokens"))
      .transform(graft.Caches.scoped(_)) // mix counts + pack input + text join
    // pricing knob: the tail bills whitespace words (the cut already
    // computed them) or subword tokens of the clean text (one codegen'd
    // kernel pass over the cached train frame)
    val priced = bpeMerges.fold(train)(m => train
      .withColumn("n_tokens",
        graft.functions.BpeCount.bpe_count(col("clean_text"), m)))
    val rates = Curation.mixRatesFor(priced, weights, defaultWeight, budgetPct)
    priced
      .withColumn("mix_bucket", Curation.splitBucket(
        concat(col("doc_id").cast("string"), lit(":mix"))).cast("long"))
      .join(broadcast(rates), Seq("source"))
      .filter(col("mix_bucket") < col("rate_pct"))
      .select(col("doc_id"), col("source"), col("clean_text"), col("n_tokens"))
  }

  /** `pipeline_corpus_tokenized` (r18, r17 verdict item 1): the
    * TENSOR-FEED product — the engine's BPE priced shards
    * ([[corpusFull]] `_bpe`) still shipped TEXT; a training run
    * consumes fixed-context token-ID sequences. This tail takes the
    * same mixed train corpus ([[mixedTrain]] — every cleaning /
    * decontamination / mixing stage identical by construction),
    * encodes each cleaned document to ids under the corpus's
    * deterministic merge table ([[graft.functions.BpeCount.bpe_encode]],
    * one codegen'd kernel pass), appends one document-boundary token
    * per doc, lays the ids out in `corpus_shuffle_pack`'s
    * content-addressed GLOBAL SHUFFLE order (training wants each
    * context an unbiased sample stream, not a crawl slice), and packs
    * them into back-to-back `ctxLen`-token sequences
    * ([[Bpe.sequencePack]]). Output: (seq_id, tokens array<int> of
    * exactly ctxLen, n_pad) — only the FINAL sequence ever pads.
    *
    * Rows-only for the DuckDB gate (the merge loop is not
    * SQL-expressible); CurationSpec gates the whole tail against a
    * sequential from-scratch encode+pack reference, and TextSpec pins
    * `size(bpe_encode) ≡ bpe_count` corpus-wide.
    */
  def corpusTokenized(spark: SparkSession, dir: String, ctxLen: Int = 512,
                      minQuality: Double = 0.5, tau: Double = 0.8, w: Int = 16,
                      weights: Map[String, Int] = Map("src0" -> 30, "src1" -> 30),
                      defaultWeight: Int = 1, budgetPct: Int = 50,
                      numMerges: Int = Bpe.DefaultMerges): DataFrame = {
    val s = graft.Sessions.withoutAqe(spark)
    val merges = Bpe.mergesFor(s, dir, numMerges)
    val mixed = mixedTrain(s, dir, minQuality, tau, w, weights,
      defaultWeight, budgetPct)
    Bpe.sequencePack(mixed.select(col("doc_id"), col("clean_text")),
      merges, ctxLen)
  }
}
