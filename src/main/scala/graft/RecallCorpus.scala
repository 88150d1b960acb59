package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Builds the ANN recall-probe corpus for the regime where the hybrid
  * planner actually takes the bucket path (n ≳ 400k at the r8-retuned
  * probe budget): a factor-F scale-up of an embeddings table PLUS a
  * planted realistic near-dup neighbor set for the vec_id < 8 query
  * vectors — the corpus class the bucket path claims to serve, which
  * the driver testdata deliberately lacks (its queries' true top-10
  * sit ~3.5σ into the random-pair tail; see Similarity.annLsh's
  * honesty note).
  *
  * Background copies extend [[ScaleData.scaledEmbeddings]]'s
  * perturbation family past its 128-transform period: copy j applies a
  * signed permutation — rotation by (j·17) mod 64 composed with a
  * per-copy elementwise sign mask drawn from a deterministic RNG
  * seeded by j. Distinct (rotation, mask) pairs are distinct orthogonal
  * transforms, so no two copies collide for ANY factor: within-copy
  * cosine structure is preserved exactly, cross-copy cosines are
  * randomized, and no background vector is a near-dup of a query.
  * Copy 0 is verbatim, preserving the vec_id < 8 query set.
  *
  * Planted neighbors: 12 per query at target cosines 0.72 … 0.94
  * (step 0.02) — neighbor = cos·q̂ + sin·ŵ with ŵ a deterministic
  * random unit vector orthogonalized against q̂. Background cosines to
  * any query concentrate below ~0.65 at n ≤ a few million (max of
  * n samples of N(0, 1/√64)), so each query's true top-10 is exactly
  * its 10 closest planted neighbors — but recall is still measured
  * against actual brute force ([[RecallProbe]]), assuming nothing.
  *
  * Usage: runMain graft.RecallCorpus <srcDir> <dstDir> <factor>
  * (ids: background copy j shifts by j·10^11; planted ids start at
  * 9·10^11 — far above any ScaleData-shifted id, so no collisions.)
  */
object RecallCorpus {

  private val Dim = 64
  private val CopyShift = 100000000000L // 10^11
  private val PlantBase = 900000000000L

  /** Deterministic ±1 sign mask for copy j. */
  private def signMask(j: Int): Array[Int] = {
    val rng = new java.util.Random(0x5EEDL * (j + 1))
    Array.fill(Dim)(if (rng.nextBoolean()) 1 else -1)
  }

  def scaled(spark: SparkSession, srcDir: String, factor: Int): DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, srcDir)
      .select(col("vec_id"), col("embedding"))
    (0 until factor).map { j =>
      if (j == 0) emb
      else {
        val r = (j * 17) % Dim
        val rotated =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, Dim - r), slice(col("embedding"), 1, r))
        val mask = signMask(j)
        val masked = zip_with(rotated, lit(mask), (v, s) => v * s)
        emb.select((col("vec_id") + lit(j * CopyShift)).as("vec_id"),
          masked.cast("array<float>").as("embedding"))
      }
    }.reduce(_ unionByName _)
  }

  /** 12 near-dup neighbors per query row, cosines 0.72 … 0.94. */
  def planted(spark: SparkSession, srcDir: String): DataFrame = {
    val qs = graft.sources.Tables.embeddings(spark, srcDir)
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
    require(qs.nonEmpty, "no query vectors (vec_id < 8) in source embeddings")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = for {
      (qid, q) <- qs.toSeq
      qHat = normalize(q)
      i <- 0 until 12
    } yield {
      val c = 0.72 + 0.02 * i
      val rng = new java.util.Random(1000L * qid + i)
      val w = Array.fill(Dim)(rng.nextGaussian())
      val dotWQ = w.indices.map(k => w(k) * qHat(k)).sum
      val wPerp = normalize(w.indices.map(k => w(k) - dotWQ * qHat(k)).toArray)
      val s = math.sqrt(1 - c * c)
      val v = qHat.indices.map(k => (c * qHat(k) + s * wPerp(k)).toFloat).toArray
      Row(PlantBase + qid * 100L + i, v.toSeq)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
  }

  /** PLANTED-CLUSTER corpus (r18, r17 verdict item 7): `n` vectors in
    * `clusters` clusters — member = G·center(cluster) + noise(id),
    * both components deterministic xxhash64 uniforms in [-1, 1], so
    * within-cluster cosine concentrates near G²/(G²+1) (≈0.61 at the
    * default G = 1.25: clustered enough that a query's true top-k is
    * same-cluster, far below any dedup threshold) and cross-cluster
    * cosine near 0. This is IVF's FAVORABLE regime — real embedding
    * corpora are clustered, and the coarse quantizer's cells align
    * with true neighborhoods — the counterpart to [[scaled]]'s
    * near-random background, which is its worst case. The knn
    * contract quotes both curves ([[RecallProbe]]'s
    * SPARK_GRAFT_KNN_CLUSTERED mode).
    */
  def clustered(spark: SparkSession, n: Long, clusters: Int,
                g: Double = 1.25): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(0, ${Dim - 1}), k -> cast(
              |  ((pmod(xxhash64('ctr', (vec_id % $clusters) * $Dim + k), 2001) - 1000) / 1000.0) * $g
              |  + (pmod(xxhash64('nz', vec_id * $Dim + k), 2001) - 1000) / 1000.0
              |  as float))""".stripMargin).as("embedding"))

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, factorS) = args
    val factor = factorS.toInt
    val spark = Sessions.local(Sessions.cores())
    val out = scaled(spark, srcDir, factor).unionByName(planted(spark, srcDir))
    out.repartition(32).write.mode("overwrite")
      .parquet(s"$dstDir/embeddings.parquet")
    val n = spark.read.parquet(s"$dstDir/embeddings.parquet").count()
    println(s"[recall-corpus] wrote $n vectors to $dstDir (factor $factor + planted)")
    spark.stop()
  }
}
