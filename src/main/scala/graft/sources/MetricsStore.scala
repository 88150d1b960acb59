package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Date-partitioned metrics storage — the reference's own scale answer
  * (SYSTEM_DESIGN.md: partition by date/channel) realized as a parquet
  * layout Spark prunes natively.
  *
  * Writing `partitionBy("date")` turns every date-ranged query
  * (filter_since, channel, funnel, export) into a directory prune: the
  * scan lists only matching `date=...` directories instead of reading
  * 100 TB and filtering. The channel sub-partition is deliberately NOT
  * used — channel cardinality is tiny (≤ a few dozen) and a
  * date×channel matrix would fragment files below HDFS block size at
  * daily volume; channel stays a pushed row-group filter instead.
  *
  * The commit, the clustered write and the resolve-once read are the
  * shared store rules of [[Stores]]; this object names them for the
  * metrics layout.
  */
object MetricsStore {

  /** Persist consolidated metrics partitioned by date and mark the store
    * committed ([[Stores.commitTo]]). Overwrite is idempotent per the
    * reference's re-ingest contract: same input, same partitions, same
    * rows. Rows are clustered on `date` before the write
    * ([[Stores.clustered]]), so each date directory holds a bounded
    * handful of files instead of one per upstream task.
    */
  def write(metrics: DataFrame, path: String): Unit =
    Stores.commitTo(metrics, path, Some("date"))

  /** Read back; date filters become partition pruning (verified by
    * PlanSpec — the scan's `PartitionFilters` must carry them). Resolved
    * once per commit ([[Stores.read]]).
    */
  def read(spark: SparkSession, path: String): DataFrame = Stores.read(spark, path)
}
