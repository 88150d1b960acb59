package graft.operators

import graft.functions.{RollingHash, TextStats}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis pack over the `documents` table (SURVEY §2.5).
  *
  * Everything here is per-row column arithmetic — no shuffle at all
  * except the final presentation ORDER BY, so each operator scales as a
  * pure map stage over the scan. All ratios are single double divisions
  * of exact integer counts (deterministic across engines, SURVEY §4).
  *
  * Every counting statistic comes from ONE pass of the codegen'd
  * [[TextStats]] kernel (whole-stage codegen CSE evaluates it once per
  * row however many fields a query reads) — the declarative
  * `size(filter(split(text), λ))` trees it replaced ran interpreted,
  * re-splitting the text ~20× per row across langid + quality +
  * corpus_stats.
  */
object TextAnalysis {

  /** BPE-ish token pattern: letter runs, digit runs, or single
    * non-alphanumeric marks — the pre-tokenization split most BPE
    * vocabularies assume. The DuckDB oracle uses this regex verbatim;
    * [[TextStats]] counts its matches in the fused byte scan.
    */
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Stopword list used by the quality score (English function words;
    * the synthetic corpus draws from a SQL-ish vocabulary where only
    * 'the' and 'a' occur, which is fine — the *ratio machinery* is what
    * the operator contributes).
    */
  val Stopwords: Seq[String] = TextStats.Stopwords

  /** Per-language marker words for the heuristic language ID. */
  val LangMarkers: Seq[(String, Seq[String])] = TextStats.LangMarkers

  /** The fused per-row statistics struct (see [[TextStats.Schema]]). */
  private[graft] def statsCol: Column = TextStats.text_stats(col("text"))

  /** Canonical text normalization for dedup recall (r14): lowercase,
    * punctuation → space, whitespace collapsed, trimmed. Real corpora
    * carry case/punctuation variants of the same content that raw
    * `split(text, ' ')` tokenization treats as distinct — Lee et al.
    * 2021 §4 normalize before matching for exactly this reason. NFKC
    * folding is deliberately NOT applied: Spark's `lower` and DuckDB's
    * `lower` agree on ASCII, but Unicode normalization differs between
    * engines (DuckDB ships NFC only), so the rule is restricted to the
    * oracle-checkable subset — on the ASCII corpora this library's
    * gates run against (the fingerprint oracle asserts ASCII), that IS
    * the full rule. The rule is expressible verbatim in DuckDB
    * (`lower` + two `regexp_replace` + `trim`), so every normalized
    * variant stays hash-oracle-gated; the Spark side evaluates it as
    * the ONE-PASS [[graft.functions.NormalizeText]] byte kernel (the
    * three-regex chain measured 14.3 s at sf10 — ~30× the
    * un-normalized dedup; the kernel is bit-identical on ASCII,
    * ExprSpec-pinned against the chain).
    */
  def normalizeText(c: Column): Column =
    graft.functions.NormalizeText.normalize_text(c)

  /** UTF-8-aware normalization tier (r15): NFC → simple lowercase →
    * keep \p{L}\p{Nd} — see [[graft.functions.NormalizeTextUtf8]].
    * Bit-identical to [[normalizeText]] on ASCII (fast-path delegation,
    * ExprSpec-pinned); on multilingual corpora it folds the
    * Kelvin-sign-class codepoints the ASCII kernel erases.
    */
  def normalizeTextUtf8(c: Column): Column =
    graft.functions.NormalizeTextUtf8.normalize_text_utf8(c)

  /** `text_tokens`: whitespace token count, regex (BPE-ish) token
    * count, and mean token length (non-space chars / tokens).
    */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ts", statsCol)
      .select(col("doc_id"),
        col("ts.n_tokens").cast("long").as("n_tokens"),
        col("ts.n_bpe").cast("long").as("n_bpe_tokens"),
        ((length(col("text")) - col("ts.n_space")).cast("double") /
          col("ts.n_tokens").cast("double")).as("avg_token_len"))
      .orderBy(col("doc_id"))

  private[operators] def stopRatio(ts: Column): Column =
    ts("n_stop").cast("double") / ts("n_tokens").cast("double")

  private[operators] def alphaRatio(ts: Column): Column =
    ts("n_alpha").cast("double") / length(col("text")).cast("double")

  /** The [0,1] quality score — length/stopword/alpha ratios folded into
    * the standard cheap pre-filter in front of expensive pipeline
    * stages (dedup, embedding) at 100 TB. Also consumed by
    * [[Curation.corpusStats]] and [[Pipeline]].
    */
  private[graft] def qualityScore(ts: Column): Column = {
    val len = length(col("text")).cast("double")
    least(len / 500.0, lit(1.0)) * 0.25 + stopRatio(ts) * 0.25 + alphaRatio(ts) * 0.5
  }

  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ts", statsCol)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_measured"),
        col("ts.n_tokens").cast("long").as("n_tokens"),
        stopRatio(col("ts")).as("stopword_ratio"),
        alphaRatio(col("ts")).as("alpha_ratio"),
        qualityScore(col("ts")).as("quality_score"))
      .orderBy(col("doc_id"))

  /** The predicted-language column over a [[TextStats]] struct.
    * Prediction is the first language (in [[LangMarkers]] order)
    * achieving the maximal positive marker count; no marker hits →
    * 'und'. foldRight builds when(en)...otherwise(when(es)...):
    * first-match priority makes ties deterministic in both engines.
    */
  private[operators] def langPred(ts: Column): Column = {
    val scores = LangMarkers.map { case (lang, _) => lang -> ts(s"s_$lang") }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), rest) =>
      when(s === best && best > 0, lang).otherwise(rest)
    }
  }

  /** `text_langid`: stopword-marker language heuristic. */
  def langid(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ts", statsCol)
      .select(col("doc_id") +:
        LangMarkers.map { case (lang, _) =>
          col(s"ts.s_$lang").cast("long").as(s"score_$lang") } :+
        langPred(col("ts")).as("lang_pred"): _*)
      .orderBy(col("doc_id"))

  /** `text_repetition`: Gopher/RefinedWeb-class repetition signals —
    * top-word fraction and vocabulary richness — per document. The
    * [[graft.functions.WordStats]] kernel computes the whole
    * word-frequency profile in one map-side pass; the declarative form
    * (explode → groupBy(doc, word) → groupBy(doc)) shuffles the entire
    * token stream twice, the single largest avoidable shuffle in a
    * 100 TB curation sweep. Ratios are single double divisions of
    * exact integer counts (engine-deterministic, SURVEY §4).
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws", graft.functions.WordStats.word_stats(col("text")))
      .select(col("doc_id"),
        col("ws.n_words").cast("long").as("n_words"),
        col("ws.n_distinct").cast("long").as("n_distinct_words"),
        col("ws.top_n").cast("long").as("top_word_n"),
        (col("ws.top_n").cast("double") / col("ws.n_words").cast("double"))
          .as("top_word_frac"),
        (col("ws.n_distinct").cast("double") / col("ws.n_words").cast("double"))
          .as("distinct_word_frac"))
      .orderBy(col("doc_id"))

  /** `text_fingerprint`: winnowing rolling-hash fingerprint via the
    * [[RollingHash]] custom expression (rows-only; verified against an
    * independent reimplementation in TextSpec).
    */
  def fingerprint(spark: SparkSession, dir: String, window: Int = 16): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        RollingHash.rolling_fingerprint(col("text"), window).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** `text_keywords`: top-k TF-IDF keywords per document — the rarity
    * scoring a curation pipeline uses for keyword extraction and
    * quality weighting. idf is the raw N/df ratio (no log): rank order
    * per document is identical (log is monotone) and the score stays
    * ONE IEEE division of exact integers, so the DuckDB oracle matches
    * bit-for-bit where a libm-vs-StrictMath `ln` would drift in the
    * last ulp.
    *
    * This is the registered query that carries the engine's ZIPFIAN
    * POSTING join (SURVEY §5 skew): term frequencies follow Zipf — at
    * web scale the head word appears in nearly every document, so the
    * tf⋈df posting join concentrates the hot word's full posting list
    * onto one reducer under plain hash partitioning. The plan gates on
    * the MEASURED vocabulary (the df table is cached and counted — one
    * extra bounded job):
    *   - vocab ≤ [[graft.Tiers.BroadcastVocabMax]]: broadcast the
    *     dictionary; the posting stream never shuffles at all (skew
    *     vacuously solved). Real web corpora blow past this fast — the
    *     token domain (URLs, numbers, typos, code identifiers) grows
    *     with the corpus, which is exactly why the salted path exists.
    *   - bigger: [[Skew.saltedReplicateJoin]] — the dictionary
    *     replicates fanout×, the hot key's postings spread across
    *     fanout reducers, no reducer holds more than ~1/fanout of
    *     any key. AQE's skew-split does not cover this join (it is
    *     hint-pinned shuffle-hash, and aggregation feeds it), so the
    *     salt is structural, not runtime, mitigation.
    * Both branches produce identical rows (SkewSpec pins the identity
    * and the salted plan's shape; BASELINE.md carries the forced A/B
    * at sf10).
    *
    * Downstream of the join everything collapses map-side: the rank
    * filter compiles to a Partial WindowGroupLimit, so only ~k rows
    * per document cross the final shuffle.
    */
  def keywords(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val nDocs = Tables.parquetRowCount(spark, dir, "documents")
    // Distinct (doc, word) term frequencies — read by both the
    // dictionary aggregation and the posting join. Term frequency is a
    // PER-DOCUMENT statistic, so the r19 form computes it map-side with
    // the [[graft.functions.WordTf]] kernel and explodes the
    // already-aggregated pairs: the old explode → groupBy(doc_id, word)
    // plan shuffled the full distinct-pair stream once per consumer
    // (guide §2.4 — the aggregation is logically local to each row, the
    // Exchange was pure overhead), and its df aggregate consumed the
    // raw token stream instead of distinct pairs. The pair frame is
    // RECOMPUTED per consumer (two scans), not persisted, from the
    // measured sf10 A/B (BASELINE.md text_keywords section: recomputed
    // beat cached 7.17 s vs 8.25 s — the MEMORY_AND_DISK persist of the
    // corpus-scale projection costs more than the second columnar
    // scan+kernel it saves, and at 100 TB the persist is a full
    // materialization of the distinct-token table to local disk).
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.WordTf.word_tf(col("text"))).as("wt"))
      .select(col("doc_id"), col("wt.word").as("word"), col("wt.tf").as("tf"))
    // The dictionary: one row per distinct word. Cached BEFORE the
    // count so the gate's job is also the join side's materialization.
    val df = graft.Caches.scoped(
      tf.groupBy(col("word")).agg(count(lit(1)).as("df")))
    val joined =
      if (graft.Tiers.small(graft.Tiers.KeywordsVocab)(
          df.count() <= graft.Tiers.BroadcastVocabMax))
        tf.join(broadcast(df), Seq("word"))
      else Skew.saltedReplicateJoin(tf, df, "word")
    joined
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        ((col("tf") * nDocs).cast("double") / col("df")).as("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("word"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }
}
