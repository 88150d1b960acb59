package graft.perfbench

import graft.etl.Marketing
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** One row of the packed train corpus (`Pipeline.corpusFull`,
  * `EventStream.arrivalCorpusTrain`). */
final case class CorpusRow(docId: Long, source: String, cleanText: String,
                           nTokens: Long, shardId: Long)

object CorpusRow {
  def of(r: Row): CorpusRow =
    CorpusRow(r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
}

/** Output checkers. Each returns the failures it found (empty = pass),
  * so the self-test can feed them corrupted results. */
object Checks {

  /** `got` and `want` must be the same canonical row strings. */
  def sameRows(label: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val firstDiff = got.zipAll(want, "<none>", "<none>").find { case (g, w) => g != w }
      Some(s"$label: ${got.size} rows != ${want.size} expected; first difference " +
        firstDiff.map { case (g, w) => s"got [$g] want [$w]" }.getOrElse(""))
    }

  /** /debug/matches answered independently: one grouped aggregate per
    * feed over all campaigns, then a lookup of the requested campaign's
    * row. */
  def matchesByGroup(spark: SparkSession, dir: String): String => Array[Row] = {
    def side(feed: org.apache.spark.sql.DataFrame, value: String): Map[String, Row] =
      feed.groupBy(col("utm_campaign"))
        .agg(count(lit(1)).as("n"), graft.functions.dsum(col(value)).as("v"))
        .collect().map(r => r.getString(0) -> r).toMap
    val ads = side(Marketing.adsFeed(spark, dir), "cost")
    val crm = side(Marketing.crmFeed(spark, dir), "amount")
    def row(name: String, groups: Map[String, Row], campaign: String): Row =
      groups.get(campaign).fold(Row(name, 0L, null))(r => Row(name, r.getLong(1), r.get(2)))
    campaign => Array(row("ads", ads, campaign), row("crm", crm, campaign))
  }

  /** The corpus output contract: every doc_id comes from the input, the
    * shards are the token-budget packing of the doc_id-ordered output
    * (a doc's shard is the tokens before it DIV the budget, so no doc
    * starts past its shard's budget), and no two outputs share an input
    * text (the exact keeper runs before the span cut). Two outputs may
    * share a cleaned text: the cut works on each document's original
    * words, so different documents can be cut down to the same words. */
  def corpusOutput(label: String, rows: Seq[CorpusRow], inputText: Map[Long, String],
                   budgetTokens: Long): Seq[String] = {
    val foreign = rows.map(_.docId).filterNot(inputText.contains)
    val ordered = rows.sortBy(_.docId)
    val prefix = ordered.scanLeft(0L)(_ + _.nTokens)
    val misPacked = ordered.zip(prefix).filter { case (r, p) => r.shardId != p / budgetTokens }
    val dupTexts = rows.filter(r => inputText.contains(r.docId)).groupBy(r => inputText(r.docId))
      .collect { case (_, rs) if rs.size > 1 => rs }
    Seq(
      if (rows.isEmpty) Some(s"$label: empty output") else None,
      if (foreign.nonEmpty)
        Some(s"$label: ${foreign.size} doc_ids not in the input, e.g. ${foreign.head}")
      else None,
      misPacked.headOption.map { case (r, p) =>
        s"$label: ${misPacked.size} docs outside their shard's $budgetTokens-token " +
          s"window, e.g. doc ${r.docId} in shard ${r.shardId} after $p tokens"
      },
      dupTexts.headOption.map(rs =>
        s"$label: ${dupTexts.size} input texts kept more than once, e.g. docs " +
          s"${rs.map(_.docId).mkString(",")}: [${inputText(rs.head.docId).take(60)}]")).flatten
  }

  /** Order-independent digest of a corpus output. */
  def digest(rows: Seq[CorpusRow]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sortBy(_.docId).foreach(r => md.update(r.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every repetition of a deterministic run must produce one digest. */
  def sameDigest(label: String, digests: Seq[String]): Option[String] =
    if (digests.distinct.size <= 1) None
    else Some(s"$label: output differs across repetitions (${digests.distinct.size} digests)")

  /** The arrival identity: the materialized arrival corpus equals the
    * batch pipeline over the same documents. */
  def sameCorpus(label: String, got: Seq[CorpusRow], want: Seq[CorpusRow]): Option[String] =
    sameRows(label, got.sortBy(_.docId).map(_.toString), want.sortBy(_.docId).map(_.toString))
}
