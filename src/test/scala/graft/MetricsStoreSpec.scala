package graft

import java.nio.file.{Files, Paths}

import graft.etl.MetricsQueries
import graft.sources.{MetricsStore, Stores}
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The store's read cache: a relation is resolved once per `_SUCCESS`
  * commit, and every rewrite — through [[MetricsStore.write]], around it,
  * or without a marker — is visible to the next read. */
class MetricsStoreSpec extends AnyFunSuite with TmpDirs {
  lazy val spark: SparkSession = Sessions.local(4)
  val dir = "/root/testdata/sf0.01"

  private lazy val metrics = MetricsQueries.metrics(spark, dir)
  private val Dropped = "2024-01-10"
  private def partial = metrics.filter(col("date") =!= Dropped)

  /** Rows as sorted strings over sorted columns, `date` as its string:
    * the store moves `date` last and reads it back as a DATE. */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.withColumn("date", col("date").cast("string")).select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
  }

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobs[A](body: => A): (A, Int) = {
    val (a, starts) = ListenerDrain.jobStarts(spark.sparkContext)(body)
    (a, starts.size)
  }

  private def withStore(body: String => Unit): Unit =
    body(tmpDir("graft_metrics_store") + "/store")

  test("a second read of an unchanged store launches no job, same rows") {
    withStore { store =>
      MetricsStore.write(metrics, store)
      val (first, resolving) = jobs(MetricsStore.read(spark, store))
      assert(resolving >= 1, "the first read after a write did not resolve the store")
      val (second, reused) = jobs(MetricsStore.read(spark, store))
      assert(reused == 0, s"an unchanged store was resolved again ($reused jobs)")
      assert(canon(second) == canon(first))
      assert(canon(second) == canon(metrics))
    }
  }

  test("MetricsStore.write of different rows is visible to the next read") {
    withStore { store =>
      MetricsStore.write(partial, store)
      assert(canon(MetricsStore.read(spark, store)) == canon(partial))
      val marker = Paths.get(store, "_SUCCESS").toFile
      val first = marker.lastModified
      MetricsStore.write(metrics, store)
      // a marker clock too coarse to tell the two commits apart
      assert(marker.setLastModified(first))
      val back = MetricsStore.read(spark, store)
      assert(canon(back) == canon(metrics))
      assert(back.filter(col("date") === Dropped).count() > 0)
    }
  }

  test("a rewrite that bypasses MetricsStore.write is seen through the marker stamp") {
    withStore { store =>
      MetricsStore.write(metrics, store)
      assert(canon(MetricsStore.read(spark, store)) == canon(metrics))
      partial.write.mode("overwrite").partitionBy("date").parquet(store)
      assert(Stores.committed(store))
      assert(canon(MetricsStore.read(spark, store)) == canon(partial))
    }
  }

  test("without a _SUCCESS marker every read resolves again and sees current rows") {
    withStore { store =>
      MetricsStore.write(metrics, store)
      MetricsStore.read(spark, store)
      Files.delete(Paths.get(store, "_SUCCESS"))
      assert(!Stores.committed(store))
      for (_ <- 1 to 2) {
        val (back, n) = jobs(MetricsStore.read(spark, store))
        assert(n >= 1, "a store without a marker was served from the cache")
        assert(canon(back) == canon(metrics))
      }
      // a writer that disables the marker
      partial.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("date").parquet(store)
      assert(!Stores.committed(store))
      assert(canon(MetricsStore.read(spark, store)) == canon(partial))
    }
  }

  test("the cached relation still prunes date partitions") {
    withStore { store =>
      MetricsStore.write(metrics, store)
      MetricsStore.read(spark, store)
      val (cached, n) = jobs(MetricsStore.read(spark, store))
      assert(n == 0)
      val day = cached.filter(col("date") === Dropped)
      val plan = day.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains(Dropped),
        s"the date filter did not become a partition prune:\n$plan")
      assert(canon(day) == canon(metrics.filter(col("date") === Dropped)))
    }
  }
}
