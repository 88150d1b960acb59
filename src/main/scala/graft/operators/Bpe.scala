package graft.operators

import graft.sources.{Stores, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE-class subword token counting (r16, r15 verdict item 5): shard
  * budgets and mix rates everywhere else in the engine price
  * WHITESPACE tokens, but a training run's budget is SUBWORD tokens —
  * at 100 TB the difference decides how many shards a corpus packs
  * into. This module keeps the operator engine-native and fully
  * deterministic with zero external artifacts:
  *
  *   - [[train]]: classic BPE merge learning (Sennrich et al. 2016,
  *     byte-level init) on a deterministic hash-sampled word histogram
  *     — ONE distributed aggregate over the sample, then a driver
  *     loop over the collected ≤ `VocabWords` (word, count) rows. The
  *     collected state is bounded by knob, the same SURVEY §5
  *     exception class as the IVF centroid matrix; ties break
  *     lexicographically so retraining is bit-deterministic.
  *   - [[mergesFor]]: merges memoized per [[Stores.derivedPath]] key
  *     (the documents listing stamp + the merge count) — the one key
  *     every derived store in the repo uses.
  *   - `text_tokens_bpe` ([[tokensBpe]]): per-doc whitespace vs BPE
  *     counts through the codegen'd [[graft.functions.BpeCount]]
  *     kernel (one text scan; the merge table rides as a broadcast
  *     reference object).
  *   - `corpus_pack_shards_bpe` ([[packShardsBpe]]): `corpus_pack_shards`
  *     budgeting on BPE counts — the same two-phase distributed
  *     prefix-sum, pricing shards in the unit the tokenizer bills.
  *
  * The merge-application loop is not SQL-expressible, so both queries
  * are rows-only for the DuckDB gate; TextSpec carries the correctness
  * weight (independent apply-in-rank-order reference implementation,
  * train determinism, whitespace decomposition, merge monotonicity).
  */
object Bpe {

  /** Driver-side training-sample bounds: at most `SampleDocs` docs by
    * deterministic hash, at most `VocabWords` distinct words by
    * (count desc, word) — the collected histogram is the only driver
    * state and both knobs cap it regardless of corpus size.
    */
  val SampleDocs = 4096L
  val VocabWords = 1 << 16
  val DefaultMerges = 256

  /** Learn `numMerges` byte-level merges from a (word, count)
    * histogram. Symbols are ISO-8859-1 strings of UTF-8 bytes (the
    * [[graft.functions.BpeCount]] convention); each learned merge is
    * "left right". Deterministic: the argmax pair ties break on the
    * (left, right) pair itself, ascending.
    */
  private[graft] def train(words: Seq[(String, Long)], numMerges: Int): Array[String] = {
    // word -> symbol array (UTF-8 bytes as ISO-8859-1 chars)
    var syms: Array[(Array[String], Long)] = words.map { case (w, c) =>
      val b = new String(w.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      (b.map(_.toString).toArray, c)
    }.toArray
    val merges = Seq.newBuilder[String]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      val counts = new java.util.HashMap[String, Long]()
      syms.foreach { case (ss, c) =>
        var i = 0
        while (i < ss.length - 1) {
          val k = ss(i) + " " + ss(i + 1)
          counts.merge(k, c, (a, b) => a + b)
          i += 1
        }
      }
      var bestK: String = null
      var bestC = 1L // a merge must occur at least twice to be worth a rule
      counts.forEach { (k, c) =>
        if (c > bestC || (c == bestC && bestK != null && k < bestK)) {
          bestK = k; bestC = c
        }
      }
      if (bestK == null) done = true
      else {
        merges += bestK
        val sep = bestK.indexOf(' ')
        val l = bestK.substring(0, sep)
        val r = bestK.substring(sep + 1)
        val fused = l + r
        syms = syms.map { case (ss, c) =>
          if (ss.length < 2) (ss, c)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](ss.length)
            var i = 0
            while (i < ss.length) {
              if (i < ss.length - 1 && ss(i) == l && ss(i + 1) == r) {
                out += fused; i += 2
              } else { out += ss(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        m += 1
      }
    }
    merges.result().toArray
  }

  private val mergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** Merge table for a corpus dir, trained once per derived-store key
    * ([[Stores.derivedPath]]: a regenerated source is a new key). */
  private[graft] def mergesFor(spark: SparkSession, dir: String,
                               numMerges: Int = DefaultMerges): Array[String] = {
    val key = Stores.derivedPath(spark, "bpe_merges", dir, "documents", numMerges.toString)
    mergeCache.computeIfAbsent(key, _ => {
      val n = Tables.parquetRowCount(spark, dir, "documents")
      val every = math.max(1L, n / SampleDocs)
      // Words come from the KERNEL's own segmentation (bpe_words =
      // Character.isWhitespace boundaries), not a regex re-statement:
      // Java \s is ASCII-only, so training on split(text, "\\s+")
      // tokenized Unicode-whitespace text differently at train vs
      // apply time (r16 advice) — one shared rule, by construction.
      val hist = Tables.documents(spark, dir)
        .filter(pmod(xxhash64(col("doc_id")), lit(every)) === 0)
        .select(explode(graft.functions.BpeCount.bpe_words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w"))
        .limit(VocabWords)
        .collect() // bounded by VocabWords — the §5 centroid-class state
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      train(hist, numMerges)
    })
  }

  /** `text_tokens_bpe`: whitespace vs subword counts per document. */
  def tokensBpe(spark: SparkSession, dir: String,
                numMerges: Int = DefaultMerges): DataFrame = {
    val merges = mergesFor(spark, dir, numMerges)
    Tables.documents(spark, dir)
      .withColumn("ts", TextAnalysis.statsCol)
      .select(col("doc_id"),
        col("ts.n_tokens").cast("long").as("n_tokens_ws"),
        graft.functions.BpeCount.bpe_count(col("text"), merges).as("n_tokens_bpe"))
      .orderBy(col("doc_id"))
  }

  /** `corpus_pack_shards_bpe`: [[Curation.packShards]] priced in
    * subword tokens — same adaptive blocking, same two-phase prefix.
    */
  def packShardsBpe(spark: SparkSession, dir: String,
                    budgetTokens: Long = 50000L,
                    numMerges: Int = DefaultMerges): DataFrame = {
    val merges = mergesFor(spark, dir, numMerges)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.BpeCount.bpe_count(col("text"), merges).as("n_tokens"),
        Curation.docBlock(spark, dir))
    Curation.packCore(toks, budgetTokens)
  }

  /** Fixed-context SEQUENCE packing (r18): encode each (doc_id, text
    * column named clean_text) document to token ids, append one EOS
    * per document, concatenate the streams in the content-addressed
    * shuffle order ([[Curation.packShardsShuffled]]'s
    * md5(doc_id || ":shuffle") key — deterministic, decorrelated from
    * the split/mix buckets), and chunk into back-to-back sequences of
    * exactly `ctxLen` ids. Only the final sequence pads (with
    * [[graft.functions.BpeCount.padId]]); every other sequence is
    * dense, documents crossing boundaries freely — the GPT-style
    * packed-stream layout.
    *
    * Scale shape — no token-granularity explode anywhere:
    *   1. one codegen'd encode pass produces each doc's id ARRAY (ids
    *      shuffle as packed int arrays, ≈4 B/token — comparable to
    *      the text bytes every other pipeline stage already moves);
    *   2. the doc→sequence coordinate is the same two-phase
    *      distributed prefix-sum as shard packing
    *      ([[Curation.withPrefixOffsets]] over n_ids+1), so the global
    *      order costs one range exchange plus the tiny block-totals
    *      window, never a single ordered window over the corpus;
    *   3. a document spanning sequences emits ⌈len/ctx⌉+1 bounded
    *      FRAGMENTS (seq_id, slice) — array slices, not exploded rows;
    *   4. one hash exchange on seq_id reassembles each sequence from
    *      its ≤ ctxLen tokens of fragments (sort_array over the ≤
    *      fragment count per sequence — bounded, skew-free since every
    *      sequence holds exactly ctxLen tokens by construction).
    */
  def sequencePack(docs: DataFrame, merges: Array[String],
                   ctxLen: Int = 512, blocks: Int = 0): DataFrame = {
    val coord = tokenCoordinates(docs, merges, blocks, 0L)
    assembleSequences(tokenFragments(coord, ctxLen), ctxLen,
      graft.functions.BpeCount.padId(merges.length))
  }

  /** Offset-coordinated encoded docs (`doc_id`, `ids`, `off`,
    * `n_tokens`), shared with the arrival twin
    * ([[graft.streaming.EventStream.seqPackArrivalBatch]]).
    *
    * The encoded id ARRAYS run through the prefix-sum machinery
    * directly. A narrow shape (coordinate a 24 B/doc (doc_id, skey,
    * n_tokens) frame, then join the cached ids back) saves one heavy
    * exchange but measured slower locally (sf100doc arrival loop, 500k
    * docs ≈ 86M tokens/batch, local[32]: direct 4.4-5.3 s/batch,
    * narrow-cached 5.7-6.3), so only the direct shape is kept.
    */
  private[graft] def tokenCoordinates(docs: DataFrame, merges: Array[String],
                                      blocks: Int, startOffset: Long): DataFrame = {
    val spark = docs.sparkSession
    val eos = graft.functions.BpeCount.eosId(merges.length)
    val nBlocks =
      if (blocks > 0) blocks
      else math.max(32, spark.sparkContext.defaultParallelism * 4)
    val enc = docs.select(col("doc_id"),
      md5(concat(col("doc_id").cast("string"), lit(":shuffle"))).as("skey"),
      concat(graft.functions.BpeCount.bpe_encode(col("clean_text"), merges),
        array(lit(eos))).as("ids"))
    Curation.withPrefixOffsets(
      enc.withColumn("n_tokens", size(col("ids")).cast("long"))
        .repartitionByRange(nBlocks, col("skey"), col("doc_id"))
        .withColumn("blk", spark_partition_id().cast("long")),
      orderCols = Seq("skey", "doc_id"), startOffset = startOffset)
      .select(col("doc_id"), col("ids"), col("off"), col("n_tokens"))
  }

  /** Stage 2: each offset-coordinated doc (`ids`, `off`, `n_tokens`)
    * slices into its ≤ ⌈len/ctx⌉+1 bounded (seq_id, fpos, frag)
    * fragments — array slices, never exploded rows.
    */
  private[graft] def tokenFragments(offs: DataFrame, ctxLen: Int): DataFrame =
    offs.select(col("ids"), col("off"), col("n_tokens"),
        explode(expr(
          s"""transform(sequence(off DIV $ctxLen, (off + n_tokens - 1) DIV $ctxLen),
             |  s -> named_struct(
             |    'seq_id', s,
             |    'fstart', greatest(s * $ctxLen, off),
             |    'fend', least((s + 1) * $ctxLen, off + n_tokens)))""".stripMargin))
          .as("f"))
      .select(col("f.seq_id").as("seq_id"), col("f.fstart").as("fpos"),
        expr("slice(ids, cast(f.fstart - off + 1 as int), " +
          "cast(f.fend - f.fstart as int))").as("frag"))

  /** Stage 3: one hash exchange on seq_id reassembles each sequence
    * (≤ ctxLen tokens of fragments each — skew-free by construction);
    * any sequence short of ctxLen pads with `pad` (in a complete
    * stream that is only the final one).
    */
  private[graft] def assembleSequences(frags: DataFrame, ctxLen: Int,
                                       pad: Int): DataFrame =
    frags.groupBy(col("seq_id"))
      .agg(sort_array(collect_list(struct(col("fpos"), col("frag")))).as("fs"),
        sum(size(col("frag"))).as("n_fill"))
      .select(col("seq_id"),
        flatten(transform(col("fs"), _.getField("frag"))).as("toks0"),
        col("n_fill"))
      .select(col("seq_id"),
        when(col("n_fill") < ctxLen,
          concat(col("toks0"),
            array_repeat(lit(pad), (lit(ctxLen) - col("n_fill")).cast("int"))))
          .otherwise(col("toks0")).as("tokens"),
        (lit(ctxLen) - col("n_fill")).cast("long").as("n_pad"))
      .orderBy(col("seq_id"))
}
