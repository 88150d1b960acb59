package graft.operators

import graft.Tiers
import graft.functions.presentSorted
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines (SURVEY §2.5
  * extension): PII redaction, deterministic split assignment, and
  * per-language corpus statistics. Like the text-analysis pack, these
  * are shuffle-free map stages (plus one tiny groupBy for the stats) —
  * the shapes that run at 100 TB without a second thought.
  */
object Curation {

  /** Redaction patterns — written to the common subset of Java regex
    * (Spark) and RE2 (DuckDB oracle): character classes and bounded
    * repetition only, no backreferences or lookaround.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9][0-9 -]{7,}[0-9]"

  /** PII scrub over any (doc_id, text) frame — the reusable core, so
    * the spec can drive it with crafted PII rows (the synthetic corpus
    * itself is PII-free, which only proves the no-op path).
    * IPs are replaced before phones: an IPv4 is digits-and-dots and
    * must not be half-eaten by the looser phone pattern.
    */
  def piiScrubFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "[EMAIL]"),
          Ipv4Re, "[IP]"),
        PhoneRe, "[PHONE]").as("clean_text"))

  /** `text_pii_scrub`: match counts + redacted text per document. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubFrom(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Deterministic split bucket in [0, 100): three md5 hex chars of the
    * key give 4096 equiprobable states folded mod 100 (bias < 0.1%).
    * Content-addressed assignment is what training pipelines need:
    * stable under reprocessing and corpus growth (a document never
    * migrates between splits), reproducible with no RNG state, and
    * computable as a pure map — unlike rand() (nondeterministic under
    * task retry) or row_number (global sort, and every append reshuffles
    * the assignment).
    */
  private[graft] def splitBucket(key: Column): Column = {
    val h = md5(key.cast("string"))
    (ascii(substring(h, 1, 1)) * 65536 +
      ascii(substring(h, 2, 1)) * 256 +
      ascii(substring(h, 3, 1))) % 100
  }

  /** `split_train_test`: 90/5/5 train/val/test assignment keyed on
    * doc_id.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), splitBucket(col("doc_id")).cast("long").as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))

  /** `corpus_sample_stratified`: deterministic per-language downsampling
    * — the standard rebalancing step in corpus assembly (e.g. cap the
    * dominant language while keeping the long tail whole). Keep
    * decisions are content-addressed like [[splitAssign]]: a salted
    * md5 bucket in [0,100) per doc compared against the stratum's keep
    * rate, so the sample is stable under reprocessing and appends, needs
    * no RNG state, and runs as a pure map. The salt decorrelates the
    * sample from the train/val/test assignment (both hash doc_id; an
    * unsalted bucket would make a 50% sample exactly the train half).
    */
  def sampleStratified(spark: SparkSession, dir: String,
                       ratesPct: Map[String, Int] = Map("en" -> 50),
                       defaultPct: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("ts", TextAnalysis.statsCol)
      .select(col("doc_id"), TextAnalysis.langPred(col("ts")).as("lang_pred"),
        splitBucket(concat(col("doc_id").cast("string"), lit(":sample")))
          .cast("long").as("sample_bucket"))
    val rate = ratesPct.foldLeft(lit(defaultPct)) { case (acc, (lang, pct)) =>
      when(col("lang_pred") === lang, lit(pct)).otherwise(acc)
    }
    docs.filter(col("sample_bucket") < rate).orderBy(col("doc_id"))
  }

  /** `corpus_mix`: deterministic mixture resampling — re-weight the
    * corpus's SOURCE composition to target weights under a total
    * budget, the data-mixing step of pretraining curation (upsample
    * curated sources, downsample crawl). Exact integer arithmetic end
    * to end so the DuckDB oracle reproduces the output bit-for-bit:
    * budget = total·budgetPct/100; per-source target
    * n_s = budget·w_s/ΣW (ΣW over sources PRESENT); acceptance
    * rate_s = min(100, 100·n_s/c_s); accept iff the content-addressed
    * mix bucket (md5 of doc_id||":mix" — [[splitBucket]]'s rule under
    * a salt that decorrelates it from the split and sample buckets)
    * falls below rate_s. A source whose count falls short of its
    * target SATURATES at 100% (take everything) rather than inventing
    * mass — the standard mixture-shortfall behavior, visible to the
    * caller through the emitted rate_pct column. Sampling without
    * replacement only: upsampling-by-repetition is the trainer's
    * epoch-weighting knob, not a corpus materialization.
    *
    * Scale shape: ONE bounded aggregate (per-source counts — source-
    * cardinality rows, the IvfCells centroid-state class of driver
    * state), broadcast back as a tiny rate table into a map-side
    * hash-bucket filter. No corpus-sized shuffle anywhere; the filter
    * is a pure map, stable under reprocessing and appends.
    */
  def mixCorpus(spark: SparkSession, dir: String,
                weights: Map[String, Int] = Map("src0" -> 30, "src1" -> 30),
                defaultWeight: Int = 1, budgetPct: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val rates = mixRatesFor(docs, weights, defaultWeight, budgetPct)
    docs
      .withColumn("mix_bucket",
        splitBucket(concat(col("doc_id").cast("string"), lit(":mix")))
          .cast("long"))
      .join(broadcast(rates), Seq("source"))
      .filter(col("mix_bucket") < col("rate_pct"))
      .select(col("doc_id"), col("source"), col("rate_pct"))
      .orderBy(col("doc_id"))
  }

  /** [[mixCorpus]]'s bounded rate table over ANY (…, source) frame —
    * the reusable half [[Pipeline.corpusFull]] feeds with the
    * decontaminated train set. ONE source-cardinality aggregate
    * collected to the driver (the IvfCells centroid-state class),
    * returned as a broadcast-ready (source, rate_pct) frame; the
    * integer arithmetic is [[mixCorpus]]'s scaladoc contract verbatim.
    */
  private[graft] def mixRatesFor(docs: DataFrame, weights: Map[String, Int],
                                     defaultWeight: Int, budgetPct: Int): DataFrame = {
    val spark = docs.sparkSession
    val wcol = weights.foldLeft(lit(defaultWeight)) { case (acc, (s, w)) =>
      when(col("source") === s, lit(w)).otherwise(acc)
    }
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .withColumn("wt", wcol.cast("long"))
      .collect() // bounded by source cardinality
    val total = counts.map(_.getLong(1)).sum
    val sumW = counts.map(_.getLong(2)).sum
    val budget = total * budgetPct / 100
    import spark.implicits._
    counts.map { r =>
      val (s, c, w) = (r.getString(0), r.getLong(1), r.getLong(2))
      (s, math.min(100L, 100L * (budget * w / sumW) / c))
    }.toSeq.toDF("source", "rate_pct")
  }

  /** `corpus_pack_shards`: assign documents to fixed-token-budget
    * training shards by global running token count — the distributed
    * prefix-sum, done the way it must be at 100 TB: a GLOBAL
    * `sum().over(orderBy(...))` window would move the whole corpus into
    * one partition, so the running sum is two-phase instead — per-block
    * partitioned cumsums (parallel) plus an exclusive prefix over the
    * tiny block-totals table (the only unpartitioned window, bounded to
    * ≤ ~10k rows by the adaptive block size), broadcast back. Shard id
    * is the exclusive global prefix DIV budget: exact integer
    * arithmetic, so the DuckDB oracle's single-window form matches
    * bit-for-bit.
    */
  def packShards(spark: SparkSession, dir: String,
                 budgetTokens: Long = 50000L): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .withColumn("ts", TextAnalysis.statsCol)
      .select(col("doc_id"), col("ts.n_tokens").cast("long").as("n_tokens"),
        docBlock(spark, dir))
    packCore(toks, budgetTokens)
  }

  /** Generic entry point: pack ANY (doc_id, n_tokens) frame — doc_id of
    * any orderable type (string hashes, UUIDs, ...), unique per doc.
    * Blocks come from `repartitionByRange` over the id: range partitions
    * are totally ordered by construction, which is the only property the
    * two-phase prefix needs (every row of block i precedes every row of
    * block i+1 in id order). Result is invariant to the sampled range
    * boundaries. One extra range shuffle vs the numeric fast path.
    */
  /** `corpus_shuffle_pack` (r15): token-budget shard packing in a
    * GLOBALLY SHUFFLED order — the step a pretraining pipeline runs
    * between curation and tokenization that [[packShards]] deliberately
    * does not: packing in doc_id order bakes source/time locality into
    * every shard (a shard ≈ one crawl slice), where training wants each
    * shard to be an unbiased corpus sample. The shuffle is
    * content-addressed, not RNG: order by md5(doc_id || ":shuffle"),
    * tie-broken by doc_id — deterministic under reprocessing,
    * decorrelated from the split/sample/mix buckets by the salt, and
    * exactly expressible in the DuckDB oracle (hex md5 compares
    * identically as ASCII in both engines). Same two-phase distributed
    * prefix-sum as corpus_pack_shards: range partitions over the
    * shuffle key are the ordered blocks (totally ordered by
    * construction), per-block cumsums run in parallel, and only the
    * tiny block-totals table sees an unpartitioned window. Output is
    * presented by doc_id; shard_id carries the shuffled assignment.
    */
  def packShardsShuffled(spark: SparkSession, dir: String,
                         budgetTokens: Long = 50000L, blocks: Int = 0): DataFrame = {
    val nBlocks =
      if (blocks > 0) blocks
      else math.max(32, spark.sparkContext.defaultParallelism * 4)
    val toks = Tables.documents(spark, dir)
      .withColumn("ts", TextAnalysis.statsCol)
      .select(col("doc_id"), col("ts.n_tokens").cast("long").as("n_tokens"),
        md5(concat(col("doc_id").cast("string"), lit(":shuffle"))).as("skey"))
      .repartitionByRange(nBlocks, col("skey"), col("doc_id"))
      .withColumn("blk", spark_partition_id().cast("long"))
    packCore(toks, budgetTokens, orderCols = Seq("skey", "doc_id"))
  }

  def packShardsFrom(docs: DataFrame, budgetTokens: Long = 50000L,
                     blocks: Int = 0): DataFrame = {
    val nBlocks =
      if (blocks > 0) blocks
      else math.max(32, docs.sparkSession.sparkContext.defaultParallelism * 4)
    val toks = docs.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .repartitionByRange(nBlocks, col("doc_id"))
      .withColumn("blk", spark_partition_id().cast("long"))
    packCore(toks, budgetTokens)
  }

  /** The `blk` column of the numeric-id packers: doc_id DIV a block
    * size adapted to `dir`'s footer documents count, so the block-totals
    * table stays at ≤ ~10k rows. No extra shuffle; it needs an ordered
    * NUMERIC doc_id (dense not needed — the block prefix fixes
    * arbitrary block sizes). String-keyed corpora use packShardsFrom,
    * which range-partitions any orderable key instead.
    */
  private[graft] def docBlock(spark: SparkSession, dir: String): Column = {
    val blockSize = math.max(1000L, Tables.parquetRowCount(spark, dir, "documents") / 10000L)
    (col("doc_id") / blockSize).cast("long").as("blk")
  }

  /** Two-phase distributed prefix-sum over (doc_id, n_tokens, blk), blk
    * order-consistent with doc_id order: per-block partitioned cumsums in
    * parallel, an exclusive prefix over the tiny block-totals table (the
    * only unpartitioned window, ≤ ~10k rows by construction), broadcast
    * back. Shard id = exclusive global prefix DIV budget — exact integer
    * arithmetic, so the DuckDB oracle's single-window form matches
    * bit-for-bit.
    */
  private[graft] def packCore(toksIn: DataFrame, budgetTokens: Long,
                              orderCols: Seq[String] = Seq("doc_id"),
                              startOffset: Long = 0L): DataFrame =
    packAssignments(toksIn, budgetTokens, orderCols, startOffset)
      .orderBy(col("doc_id"))

  /** [[packCore]] without the doc_id presentation sort (r18): consumers
    * that immediately hash-join the assignments back to the corpus
    * (Pipeline.corpusFull, the arrival pack twin) paid a full range
    * exchange + sort the join then threw away. The registered pack
    * queries keep [[packCore]]'s ordered contract.
    */
  private[graft] def packAssignments(toksIn: DataFrame, budgetTokens: Long,
                                     orderCols: Seq[String] = Seq("doc_id"),
                                     startOffset: Long = 0L): DataFrame =
    withPrefixOffsets(toksIn, orderCols, startOffset)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"off DIV $budgetTokens").as("shard_id"))

  /** The two-phase prefix-sum CORE: every input column plus `off`,
    * each row's EXCLUSIVE global prefix of `n_tokens` in (`blk`,
    * orderCols) order — shard packing divides it by a budget
    * ([[packCore]]), fixed-context sequence packing turns it into a
    * token coordinate ([[Bpe.sequencePack]]). Input must carry `blk`
    * order-consistent with orderCols across blocks.
    */
  private[graft] def withPrefixOffsets(toksIn: DataFrame,
                                       orderCols: Seq[String] = Seq("doc_id"),
                                       startOffset: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Both phases consume the tokenized projection — uncached, the
    // block-totals aggregate re-runs the whole scan INCLUDING the
    // TextStats kernel (the dominant per-row cost) a second time.
    val toks = graft.Caches.scoped(toksIn)
    val cumIn = sum(col("n_tokens")).over(
      Window.partitionBy(col("blk")).orderBy(orderCols.map(col): _*))
    val blockTotals = toks.groupBy(col("blk")).agg(sum(col("n_tokens")).as("blk_tot"))
    val blkPrefix = coalesce(
      sum(col("blk_tot")).over(
        Window.orderBy(col("blk")).rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val prefixes = blockTotals.select(col("blk"), blkPrefix.as("blk_prefix"))
    toks.withColumn("cum_in", cumIn)
      .join(broadcast(prefixes), Seq("blk"))
      .withColumn("off",
        col("blk_prefix") + col("cum_in") - col("n_tokens") + lit(startOffset))
      .drop("cum_in", "blk_prefix")
  }

  /** `corpus_contamination`: test-split documents whose 3-gram content
    * is substantially contained in some train-split document — the
    * train/test leakage check every training pipeline needs before a
    * benchmark number can be trusted. Containment(test in train) =
    * |sh(test) ∩ sh(train)| / |sh(test)| ≥ minContain.
    *
    * Scale shape: candidates come from a ONE-SIDED prefix filter — the
    * containment bound constrains only the test side: a pair with
    * |t∩r| ≥ ⌈c·|t|⌉ must share a shingle with the first
    * |t| − ⌈c·|t|⌉ + 1 elements of t under ANY fixed total order, so
    * only that prefix joins against the full train postings. The order
    * used is GLOBAL DOCUMENT FREQUENCY, rarest first (canonical
    * AllPairs): prefixes then hold each doc's rarest shingles, whose
    * posting lists are shortest, so candidate volume tracks true
    * near-dup mass instead of stopword-shingle frequency — at 2-gram
    * widths a hash-ordered prefix degenerates toward test×train
    * all-pairs on "of the"-class shingles (measured 10.8 s at sf1;
    * df-ordered: linear). Test shingles absent from train sort first
    * (df null) and generate zero candidates. The test split is 5% of
    * the corpus by construction, so the exploded prefix side stays
    * small; exact containment is then verified per candidate with the
    * codegen'd sorted-merge intersect. One row per contaminated test
    * doc with its worst contaminator.
    *
    * The prefix machinery only pays for itself when the threshold is
    * selective: below c = 0.2 the operator switches to a direct
    * co-occurrence COUNT plan (see the inline comment) that computes
    * |t∩r| as a posting-join row count instead — same output, one
    * join + one aggregate. Both plans share the test-vocabulary
    * pushdown and the broadcast-or-shuffle test-side guard.
    */
  def contamination(spark: SparkSession, dir: String,
                    minContain: Double = 0.3, ngram: Int = 3,
                    pushdown: String = "auto"): DataFrame =
    contaminationFrom(Tables.documents(spark, dir),
      Tables.parquetRowCount(spark, dir, "documents"), minContain, ngram, pushdown)

  /** `corpus_contamination_spans` (r14): SPAN-level test-set
    * decontamination — the exact-substring use case Lee et al. 2021
    * runs span dedup for. [[contamination]] scores whole test documents
    * by n-gram containment; this flags the exact REGIONS of each test
    * doc that appear verbatim (as `w`-word windows) anywhere in train,
    * merged into maximal spans — the list an eval-set curation pass
    * cuts (or a train-side pass removes) before the score is trusted.
    *
    * Reuses the window-posting machinery wholesale
    * ([[Dedup.windowPostings]] — one O(tokens) pass, 8-byte hashes,
    * never window text): the train side contributes only its DISTINCT
    * window hashes (narrow, one aggregate), the test side (5% of the
    * corpus by the content-addressed split) flows through one
    * hint-pinned shuffle-hash semi join, and the island merge is
    * [[Dedup.mergeIslands]]'s one doc-keyed window pass. The DuckDB
    * oracle groups window STRINGS (same surrogate-checking convention
    * as dedup_substring).
    */
  def contaminationSpans(spark: SparkSession, dir: String, w: Int = 16): DataFrame = {
    val posted = Dedup.windowPostings(spark, dir, w)
      .withColumn("bucket", splitBucket(col("doc_id")))
      .transform(graft.Caches.scoped(_)) // train + test sides, one pass
    // No distinct on the train hashes: semi-join semantics tolerate
    // duplicate build rows, and most windows are unique — a pre-
    // aggregate would pay a full extra shuffle to remove almost nothing.
    val trainH = posted.filter(col("bucket") < 90).select(col("h"))
    Dedup.mergeIslands(
        posted.filter(col("bucket") >= 95).select(col("doc_id"), col("pos"), col("h"))
          .join(trainH.hint("shuffle_hash"), Seq("h"), "left_semi"), w)
      .withColumnRenamed("n_dup_windows", "n_contaminated_windows")
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** `corpus_decontaminate`: [[contaminationSpans]]'s TRAIN-side apply
    * — the decontamination a pipeline actually ships. The span
    * direction flips (train windows semi-joined against the TEST
    * window hashes: the spans to CUT are the train regions that leak
    * test content — GPT-3-appendix-C / Lee-et-al practice removes
    * contaminated TRAIN text, never the benchmark), then the flagged
    * islands are cut out of each train document with the O(tokens +
    * spans) [[graft.functions.CutSpans]] merge-scan and the cleaned
    * train corpus is re-emitted with post-cut token stats —
    * [[Dedup.substringApply]]'s materialization tail over
    * [[contaminationSpans]]'s mirrored flag stage. Scale shape is the
    * sum of its two parents': 8-byte window hashes shuffle (never
    * text), one hint-pinned shuffle-hash semi join, one doc-keyed
    * island window, one shuffle-hash span join into the cut. DuckDB
    * oracle groups window STRINGS and hash-compares the cleaned text
    * itself (the dedup_substring_apply convention).
    */
  /** `normalize = true` registers as `corpus_decontaminate_normalized`:
    * window hashes take the per-word [[TextAnalysis.normalizeText]]
    * form (case/punctuation-folded — the re-cased-leak evasion
    * closed), spans still cut at RAW word offsets; the DuckDB oracle
    * normalizes its window strings with the identical rule and joins
    * them on a separator outside the normalized alphabet.
    */
  def decontaminate(spark: SparkSession, dir: String, w: Int = 16,
                    normalize: Boolean = false): DataFrame = {
    // One text scan, not two (r18, guide §6/§2.3 — the mixedTrain
    // shape): the flag pass and the cut pass both need the split word
    // arrays, so cache them once instead of re-reading and re-splitting
    // the text column for the cut. Val docs (90-94) feed neither side,
    // so the cache drops them up front.
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"),
        splitBucket(col("doc_id")).as("bucket"))
      .filter(col("bucket") < 90 || col("bucket") >= 95)
      .transform(graft.Caches.scoped(_)) // window pass + cut: one text scan
    val hashed =
      if (normalize)
        org.apache.spark.sql.functions.transform(col("w"),
          wd => graft.operators.TextAnalysis.normalizeText(wd))
      else col("w")
    val posted = base
      .filter(size(col("w")) >= w)
      .select(col("doc_id"), col("bucket"),
        posexplode(graft.functions.WindowHashes.window_hashes(hashed, w))
          .as(Seq("pos", "h")))
      .transform(graft.Caches.scoped(_)) // train + test sides, one pass
    val testH = posted.filter(col("bucket") >= 95).select(col("h"))
    val spans = Dedup.mergeIslands(
      posted.filter(col("bucket") < 90).select(col("doc_id"), col("pos"), col("h"))
        .join(testH.hint("shuffle_hash"), Seq("h"), "left_semi"), w)
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(
        sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("sp"),
        count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("n_removed"))
    val emptyLongs = array().cast("array<bigint>")
    base
      .filter(col("bucket") < 90)
      .select(col("doc_id"), col("w"))
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

  /** [[contamination]] over any (doc_id, text) frame — the reusable
    * core, so the Zipfian-skew stress spec can drive it with a crafted
    * corpus (a hot shingle in ~30% of documents) and pin both gate
    * branches. `nDocs` feeds the broadcast guards (the caller knows the
    * corpus size; the dir entry reads it from the parquet footers).
    */
  def contaminationFrom(docs: DataFrame, nDocs: Long,
                        minContain: Double = 0.3, ngram: Int = 3,
                        pushdown: String = "auto"): DataFrame = {
    require(Set("auto", "set", "bloom", "none")(pushdown),
      s"pushdown must be auto|set|bloom|none, got '$pushdown'")
    // Split assignment inline (same content-addressed splitBucket as
    // splitAssign — a pure map of doc_id, so joining the splitAssign
    // OUTPUT would re-scan the corpus to attach a derivable column).
    // Val docs (buckets 90-94) belong to neither side of the check.
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= ngram)
      .select(col("doc_id"),
        graft.functions.HashedShingles.hashed_shingles(col("w"), ngram).as("sh"),
        splitBucket(col("doc_id")).as("bucket"))
      .filter(col("bucket") < 90 || col("bucket") >= 95)
      .transform(graft.Caches.scoped(_))
    val test = sh.filter(col("bucket") >= 95)
    val train = sh.filter(col("bucket") < 90)
    val trainPost0 = train.select(col("doc_id").as("train_id"), explode(col("sh")).as("s"))
    // Test-vocabulary pushdown: every downstream consumer of the train
    // posting stream (the df aggregate, the candidate join) only ever
    // looks at shingles that occur in some TEST doc, so when the test
    // split's distinct-shingle set is broadcastable (the benchmark-set
    // case: 5% of ≤2M docs ≈ ≤8M hashes ≈ tens of MB) a map-side
    // semi-join prunes the stream BEFORE either shuffle — at sf10 this
    // is 23.6M → 8.3M posting rows into both the df aggregate and the
    // candidate join (measured; a shuffle-side semi-join is a net LOSS
    // here because the filter itself then costs the full posting
    // shuffle it was meant to avoid). Beyond the broadcast budget the
    // "bloom" pushdown takes over (see below); past even that, the
    // unfiltered stream is used — the plan stays correct at any scale,
    // the pushdown is purely an optimization. df values of surviving
    // shingles are identical either way, so the prefix order — and the
    // output — are byte-identical.
    //
    // pushdown = "bloom" (registered as `corpus_contamination_bloom`):
    // the exact key set is replaced by a [[graft.functions.BloomFilters]]
    // filter at 12 bits/key — 1.5 B/key vs ~30 B/key for an exact
    // hash-set, i.e. ~20× more test-vocabulary keys per broadcast byte,
    // which is the regime between "vocab fits as a set" and "no
    // pushdown at all". Build is ONE aggregation job over the test
    // postings (partials OR map-side; the driver holds the single
    // bounded filter — the IvfCells centroid-state class, not a
    // data-sized collect); the probe is a codegen'd map-side bit test,
    // no join. False positives only admit extra train postings into
    // the EXACT joins downstream, where they match nothing — output
    // identical to "set"/"none" by construction (CurationSpec pins all
    // branches row-identical; sized from Σ|sh(test)|, an upper bound
    // on the distinct count, so the FP rate only improves on dup-heavy
    // test splits).
    def setPruned = trainPost0.join(
      broadcast(test.select(explode(col("sh")).as("s")).distinct()),
      Seq("s"), "left_semi")
    def bloomPruned = {
      val nKeys = Option(test.agg(sum(size(col("sh")))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val filter = graft.functions.BloomFilters.build(
        test.select(explode(col("sh")).as("s")), col("s"), math.max(nKeys, 1L))
      trainPost0.filter(
        graft.functions.BloomFilters.bloom_contains(col("s"), filter))
    }
    val trainPost = pushdown match {
      case "none"  => trainPost0
      case "bloom" => bloomPruned
      case "set"   => setPruned
      case "auto"  =>
        // Three regimes by corpus size (test vocab scales with nDocs):
        // exact set while it fits the broadcast budget, bloom for the
        // next ~20× (1.5 B/key vs ~30 B/key buys exactly that factor at
        // the same executor-heap spend), unfiltered beyond — each tier
        // is the cheapest correct plan for its regime, and the output
        // is identical across all three by the FP argument above.
        val fitsSet = Tiers.small(Tiers.ContaminationSet)(
          nDocs <= Tiers.ContaminationSetMaxDocs)
        val fitsBloom = Tiers.small(Tiers.ContaminationBloom)(
          nDocs <= Tiers.ContaminationBloomMaxDocs)
        if (fitsSet) setPruned else if (fitsBloom) bloomPruned else trainPost0
    }
    // TWO physical plans, selected by how much the prefix filter can
    // actually prune. The prefix keeps |t| − ⌈c·|t|⌉ + 1 ≈ (1−c)·|t|
    // of each test doc's postings, so at low thresholds (c < 0.2 —
    // including the registered c = 0.05 leakage sweep) it keeps ~95%
    // of them: candidate volume ≈ the full co-occurrence join, and the
    // dfreq aggregate, the rarity window, AND the per-pair array
    // fetches are pure overhead on top of it. In that regime the
    // direct COUNT plan is strictly less work: shingle arrays are
    // sorted DISTINCT sets ([[graft.functions.HashedShingles]]), so
    // |t∩r| is exactly the pair's row count in the posting
    // co-occurrence join — one join + one aggregate, no arrays ever
    // shuffled (sf10, c=0.05: 18.2 → ~9 s warm). At selective
    // thresholds the prefix plan wins instead: it excludes each test
    // doc's most FREQUENT shingles, which contribute the bulk of
    // co-occurrence pairs on skewed corpora.
    val verified =
      if (Tiers.small(Tiers.ContaminationCount)(minContain < Tiers.CountPlanMaxContain)) {
        test.select(col("doc_id").as("test_id"), size(col("sh")).as("sz"),
            explode(col("sh")).as("s"))
          .hint("shuffle_hash").join(trainPost, Seq("s"))
          .groupBy(col("test_id"), col("train_id"), col("sz"))
          .agg(count(lit(1)).as("inter"))
          .select(col("test_id"), col("train_id"),
            (col("inter").cast("double") / col("sz").cast("double"))
              .as("containment"))
          .filter(col("containment") >= minContain)
      } else {
        val dfreq = graft.Caches.scoped(
          trainPost.groupBy(col("s")).agg(count(lit(1)).as("df")))
        val wByRarity = org.apache.spark.sql.expressions.Window
          .partitionBy(col("test_id")).orderBy(col("df").asc_nulls_first, col("s"))
        // SHUFFLE_HASH on every candidate-path join: the test-prefix side
        // is the small stream at each step (test is 5% of the corpus, and
        // the prefix keeps ~(1−c) of its postings) while relPost/train
        // scale with the corpus — past any broadcast threshold — and
        // sort-merge would sort the big posting streams once per join
        // (the r7 sf10 ladder measured this class of cost at 2–4 s per
        // join on ngram).
        //
        // The df attach is the ZIPFIAN POSTING join (same shape and same
        // gate as TextAnalysis.keywords): dfreq is a per-shingle
        // dimension, and shingle frequency is Zipf-skewed — a hot
        // shingle ("of the X"-class) can sit in a large fraction of the
        // corpus, so hash-partitioning the test postings on s pins that
        // shingle's whole stream onto one reducer. Gate on the MEASURED
        // vocabulary (dfreq is cached; the count is one bounded job):
        // broadcastable → map-side attach, no shuffle at all; bigger →
        // Skew.saltedReplicateJoin spreads every hot shingle across its
        // fanout of reducers. Both branches are row-identical (left join
        // semantics preserved — test shingles absent from train keep
        // their null df and sort first), pinned by SkewSpec.
        val testPost = test
          .select(col("doc_id").as("test_id"), size(col("sh")).as("sz"),
            explode(col("sh")).as("s"))
        val withDf =
          if (Tiers.small(Tiers.ContaminationDf)(dfreq.count() <= Tiers.BroadcastVocabMax))
            testPost.join(broadcast(dfreq), Seq("s"), "left")
          else Skew.saltedReplicateJoin(testPost, dfreq, "s", joinType = "left")
        val testPre = withDf
          .withColumn("rn", row_number().over(wByRarity))
          .filter(col("rn") <=
            (col("sz") - ceil(col("sz") * minContain - lit(1e-9)) + 1).cast("int"))
          .select(col("test_id"), col("s"))
        // NO distinct on the candidate stream (ngram lesson, r7): a pair
        // appears once per shared prefix shingle, so only truly-
        // contaminated pairs duplicate meaningfully — and those are
        // exactly the rare rows. Verification is per-row idempotent;
        // duplicates are collapsed AFTER the ≥ minContain filter, where
        // the survivor set is orders of magnitude smaller than the
        // candidate stream.
        val cand = testPre.hint("shuffle_hash").join(trainPost, Seq("s"))
          .select(col("test_id"), col("train_id"))
        // Verification fetch order is chosen so the candidate stream
        // shuffles at its NARROWEST: join the train arrays first (the
        // 16-byte (test_id, train_id) pairs shuffle; the train side is
        // the per-partition build), then attach the test arrays map-side
        // via broadcast when the test split is small enough (same guard
        // as the vocabulary pushdown above) — the rows carrying ~450 B
        // shingle arrays then never shuffle again. Fetching test arrays
        // first would push the array-carrying rows through the train_id
        // shuffle (~2.7 GB at sf10 vs ~100 MB this way).
        val testArrays = test.select(col("doc_id").as("test_id"), col("sh").as("tsh"))
        val testFetch =
          if (Tiers.small(Tiers.ContaminationTestArrays)(nDocs <= Tiers.ContaminationSetMaxDocs))
            broadcast(testArrays)
          else testArrays.hint("shuffle_hash")
        cand
          .join(train.select(col("doc_id").as("train_id"), col("sh").as("rsh"))
            .hint("shuffle_hash"), Seq("train_id"))
          .join(testFetch, Seq("test_id"))
          // need sits at or below the smallest passing count, so every
          // pair that passes keeps its exact count; the rest read −1
          .select(col("test_id"), col("train_id"),
            (graft.functions.IntersectCountSorted.intersect_count_sorted(
              col("tsh"), col("rsh"), ceil(size(col("tsh")) * minContain) - 1)
              .cast("double") /
              size(col("tsh")).cast("double")).as("containment"))
          .filter(col("containment") >= minContain)
          .groupBy(col("test_id"), col("train_id"))
          .agg(first(col("containment")).as("containment"))
      }
    verified
      .groupBy(col("test_id"))
      // top_k_pairs k=1 instead of max(struct(...)) (r18, see
      // Dedup.minhashLsh): the struct buffer forced SortAggregate at
      // both levels; the primitive-heap aggregate runs as
      // ObjectHashAggregate. id = −train_id keeps the struct max's
      // largest-train_id tie-break under top_k_pairs' (score DESC,
      // id ASC) order. PRECONDITION (r18 ADVICE): top_k_pairs SKIPS
      // null score/id rows where max(struct) would still rank them —
      // equivalent only because containment (a division of non-null
      // counts) and train_id (a join key) are non-nullable here; a
      // future nullable input must re-audit this swap.
      .agg(count(lit(1)).as("n_contaminating"),
        graft.functions.TopKPairs.top_k_pairs(
          col("containment"), -col("train_id"), 1).as("tk"))
      .select(col("test_id").as("doc_id"), col("n_contaminating"),
        col("tk")(0).getField("score").as("max_containment"),
        (-col("tk")(0).getField("id")).as("worst_train_doc"))
      .orderBy(col("doc_id"))
  }

  /** `corpus_stats`: per-predicted-language corpus summary — document
    * and token counts, char volume, high-quality share, mean document
    * length. One scan + one tiny shuffle (≤5 language keys with
    * map-side partials). Every aggregate is an exact integer sum; the
    * only double is one final division, so the DuckDB oracle matches
    * bit-for-bit without decimal-accumulator machinery.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs
      .withColumn("ts", TextAnalysis.statsCol)
      .select(TextAnalysis.langPred(col("ts")).as("lang_pred"),
        col("ts.n_tokens").cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        when(TextAnalysis.qualityScore(col("ts")) >= 0.5, 1L).otherwise(0L).as("hi_q"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("hi_q")).as("n_high_quality"))
      .withColumn("avg_doc_tokens",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .transform(presentSorted(_, col("lang_pred")))
  }
}
