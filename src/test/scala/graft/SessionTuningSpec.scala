package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Sessions come from one factory: no source file other than
  * [[SessionTuning]] calls the session builder, except the three specs
  * that test the `.withExtensions` builder path itself, and a
  * factory-built session carries every setting the mains rely on. */
class SessionTuningSpec extends SparkSpecBase {

  test("only SessionTuning and the three extension specs call the session builder") {
    // split so that this file does not match itself
    val call = "SparkSession" + ".builder"
    val allowed = Set(
      "src/main/scala/graft/SessionTuning.scala",
      "src/test/scala/graft/AnnSpec.scala",
      "src/test/scala/graft/GraftSpec.scala",
      "src/test/scala/graft/FixedPointSumRuleSpec.scala")
    val files = Files.walk(Paths.get("src")).iterator.asScala
      .map(_.toString).filter(_.endsWith(".scala")).toSeq
    assert(files.contains("src/main/scala/graft/SessionTuning.scala"),
      s"run from the repository root; found ${files.size} .scala files under src")
    val offenders = files.filterNot(allowed)
      .filter(f => Files.readString(Paths.get(f)).contains(call))
    assert(offenders.isEmpty,
      s"build sessions with SessionTuning.local/service: ${offenders.sorted.mkString(", ")}")
  }

  test("SessionTuning.local: master, partitions, UTC, parquet reads, no UI, AQE on, shuffle tuning") {
    val expected = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      // Spark's defaults, which the mains used to set explicitly
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true") ++
      SessionTuning.localConfigMap.asScala.map { case (k, v) => k -> v.toString }
    assert(expected.contains("spark.shuffle.sort.bypassMergeThreshold"))
    assert(expected.map { case (k, _) => k -> spark.conf.get(k) } == expected)
  }
}
