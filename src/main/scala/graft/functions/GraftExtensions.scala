package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Registers every graft custom expression in the session's
  * FunctionRegistry, so the whole kernel library is callable from plain
  * SQL — `SELECT hmac_sha256(payload, secret)`,
  * `SELECT minhash_shingled(words, 3, 64)` — not only through the
  * Scala Column API. Installed by [[graft.Sessions]] via
  * `SparkSession.builder.withExtensions` (the standard
  * SparkSessionExtensions injection point, usable as
  * `spark.sql.extensions=graft.functions.GraftExtensions` in any
  * deployment).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn: argument $pos must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Wrap each builder so a wrong argument count raises a clear
    // arity error naming the function, not a raw MatchError.
    def reg(name: String, usage: String)(builder: PartialFunction[Seq[Expression], Expression]): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage),
        (args: Seq[Expression]) => builder.applyOrElse(args, (a: Seq[Expression]) =>
          throw new IllegalArgumentException(
            s"$name: wrong number of arguments (${a.length}); usage: $usage"))))

    reg("hmac_sha256", "hmac_sha256(data, key) - hex HMAC-SHA256 signature") {
      case Seq(d, k) => HmacSha256(d, k)
    }
    reg("lenient_timestamp", "lenient_timestamp(s) - multi-format lenient parse") {
      // session zone injected by the analyzer's ResolveTimeZone rule
      case Seq(s) => LenientTimestamp(s)
    }
    reg("rolling_fingerprint", "rolling_fingerprint(text, window) - winnowing fingerprint") {
      case Seq(t, w) => RollingHash(t, intArg(w, "rolling_fingerprint", 2))
    }
    reg("minhash_sig", "minhash_sig(tokens, k) - MinHash signature of a token array") {
      case Seq(t, k) => MinHashSig(t, intArg(k, "minhash_sig", 2))
    }
    reg("simhash64", "simhash64(tokens) - 64-bit SimHash of a token array") {
      case Seq(t) => SimHash64(t)
    }
    reg("hashed_shingles", "hashed_shingles(words, n) - sorted distinct n-gram hashes") {
      case Seq(w, n) => HashedShingles(w, intArg(n, "hashed_shingles", 2))
    }
    reg("minhash_shingled", "minhash_shingled(words, n, k) - MinHash over word n-grams") {
      case Seq(w, n, k) =>
        MinHashShingled(w, intArg(n, "minhash_shingled", 2), intArg(k, "minhash_shingled", 3))
    }
    reg("simhash_shingled", "simhash_shingled(words, n) - SimHash over word n-grams") {
      case Seq(w, n) => SimHashShingled(w, intArg(n, "simhash_shingled", 2))
    }
    reg("intersect_count_sorted",
        "intersect_count_sorted(a, b[, need]) - |A∩B| of sorted long arrays; -1 if below need") {
      case Seq(a, b) => IntersectCountSorted(a, b)
      case Seq(a, b, n) => IntersectCountSorted(a, b, Cast(n, LongType))
    }
    reg("match_count", "match_count(a, b) - positions where two long arrays agree") {
      case Seq(a, b) => MatchCount(a, b)
    }
    reg("dot_decimal", "dot_decimal(a, b) - decimal-exact float-vector dot product") {
      case Seq(a, b) => DotDecimal(a, b)
    }
    reg("dot_f32", "dot_f32(a, b) - double-precision float-vector dot product") {
      case Seq(a, b) => DotF32(a, b)
    }
    reg("lsh_buckets", "lsh_buckets(emb, tables, bits) - hyperplane LSH bucket ids") {
      case Seq(e, t, b) =>
        LshBuckets(e, intArg(t, "lsh_buckets", 2), intArg(b, "lsh_buckets", 3))
    }
    reg("first_int", "first_int(s) - first decimal digit run as INT, null if absent/overflow") {
      case Seq(s) => FirstInt(s)
    }
    reg("word_stats", "word_stats(text) - (n_words, n_distinct, top_n) word-frequency profile") {
      case Seq(t) => WordStats(t)
    }
    reg("word_tf", "word_tf(text) - array<struct<word,tf>> per-document term frequencies") {
      case Seq(t) => WordTf(t)
    }
    reg("date_str", "date_str(ts) - timestamp as 'yyyy-MM-dd' in the session zone") {
      // session zone injected by the analyzer's ResolveTimeZone rule
      case Seq(ts) => DateStr(ts)
    }
    reg("sum_scaled", "sum_scaled(x, scale) - exact fixed-point SUM (128-bit accumulator), double out") {
      case Seq(x, s) => org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression(
        SumScaled(x, intArg(s, "sum_scaled", 2)),
        org.apache.spark.sql.catalyst.expressions.aggregate.Complete, isDistinct = false)
    }
  }
}
