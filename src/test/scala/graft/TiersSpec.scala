package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The forced-tier sweep: every registered query that consults a cost
  * gate returns the rows it returns on its own with every gate forced
  * to its small side, and again with every gate forced to its large
  * side; and every gate is reached on both sides by some query.
  */
class TiersSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  val testdata = "/root/testdata/sf0.001"

  /** Gates no registered query consults, with the StreamingSpec cases
    * that force them. */
  private val ArrivalGates = {
    val allLarge = "arrival clusters: every arrival gate forced large equals the same recompute"
    val nullKeys = "latest-batch-wins tier matches keys holding a null (equals the window form)"
    Map(
      Tiers.ArrivalBatch -> Seq(allLarge,
        "arrival batch gate: text ceiling derives from the session heap"),
      Tiers.LatestWindow -> Seq(allLarge, nullKeys,
        "arrival clusters: delta-log labels equal a full batch recompute"),
      Tiers.LatestKeys -> Seq(allLarge, nullKeys),
      Tiers.LiteralIn -> Seq(allLarge))
  }

  /** Gates reached only on one side of another gate. Forcing every gate
    * to the other side never reaches them, so that run is repeated with
    * the outer gate held at the side that does. */
  private val Nested = Map(
    Tiers.MergeStar -> (Tiers.MergeDriver -> Tiers.Small),
    Tiers.ContaminationDf -> (Tiers.ContaminationCount -> Tiers.Large),
    Tiers.ContaminationTestArrays -> (Tiers.ContaminationCount -> Tiers.Large))

  /** `name`'s rows as a sorted multiset, without the wall-clock
    * `ingested_at`, and the gates it consulted. It reads a fresh copy of
    * the testdata, so every derived store it reads is built under the
    * forcing; the copy and those stores are deleted after. */
  private def run(name: String, forced: (String, Tiers.Side)*): (Seq[String], Set[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tiers_src").toFile
    try {
      FileUtils.copyDirectory(new File(testdata), dir)
      Tiers.forcing(forced: _*) {
        val df: DataFrame = SparkEntry.queries(name)(spark, dir.getPath)
        df.drop("ingested_at").collect().map(_.toString).sorted.toSeq
      }
    } finally {
      Caches.release()
      (TmpDirs.derivedStores(dir.getPath) :+ dir).foreach(FileUtils.deleteQuietly)
    }
  }

  test("every gated query returns the same rows with all gates forced small, then large") {
    val reached = scala.collection.mutable.Map[Tiers.Side, Set[String]]().withDefaultValue(Set())
    val diverged = Seq.newBuilder[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val (auto, gates) = run(name)
      if (gates.nonEmpty) info(s"$name consults ${gates.toSeq.sorted.mkString(", ")}")
      for (side <- Seq(Tiers.Small, Tiers.Large) if gates.nonEmpty) {
        val all = Tiers.gates.map(_ -> side)
        val holds = Nested.values.filter { case (outer, s) => s != side && gates(outer) }
          .toSeq.distinct
        for (held <- Seq(Nil, holds).distinct) {
          val sides = (all ++ held).toMap
          val label = s"$name forced $side" + held.map(h => s", ${h._1} held ${h._2}").mkString
          scala.util.Try(run(name, sides.toSeq: _*)) match {
            case scala.util.Success((rows, consulted)) =>
              if (rows != auto) diverged += s"$label: ${rows.size} rows vs ${auto.size}"
              reached(side) ++= consulted.filter(sides(_) == side)
            case scala.util.Failure(e) => diverged += s"$label: $e"
          }
        }
      }
    }
    assert(diverged.result().isEmpty, diverged.result().mkString("\n"))
    val swept = Tiers.gates.toSet -- ArrivalGates.keySet
    for (side <- Seq(Tiers.Small, Tiers.Large))
      assert(swept.subsetOf(reached(side)),
        s"no query reached ${(swept -- reached(side)).mkString(", ")} forced $side")
  }

  test("the gates the sweep leaves out are forced by named StreamingSpec cases") {
    val cases = new StreamingSpec().testNames
    for ((gate, names) <- ArrivalGates; n <- names)
      assert(cases.contains(n), s"$gate: no StreamingSpec case named '$n'")
  }

  test("an unknown gate name fails") {
    assertThrows[IllegalArgumentException](Tiers.forcing("no_such_gate" -> Tiers.Small)(()))
    assertThrows[IllegalArgumentException](Tiers.small("no_such_gate")(true))
  }

  test("a forced decision runs no probe job; forced small collects every row") {
    val df = spark.range(0, 10).toDF("id")
    val (rows, jobs) = org.apache.spark.ListenerDrain.jobStarts(spark.sparkContext)(
      Tiers.forcing(Tiers.LosersDriver -> Tiers.Large)(
        Tiers.collectUpTo(Tiers.LosersDriver, df, 1)))
    assert(rows == (None, Set(Tiers.LosersDriver)) && jobs.isEmpty)
    val (small, _) = Tiers.forcing(Tiers.LosersDriver -> Tiers.Small)(
      Tiers.collectUpTo(Tiers.LosersDriver, df, 1))
    assert(small.map(_.length).contains(10))
    assert(Tiers.collectUpTo(Tiers.LosersDriver, df, 1).isEmpty)
    assert(Tiers.collectUpTo(Tiers.LosersDriver, df, 10).map(_.length).contains(10))
  }
}
