package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Sessions come from one factory: no source file other than
  * [[SessionTuning]] calls the session builder, and a factory-built
  * session carries every setting and SQL name the mains rely on. */
class SessionTuningSpec extends SparkSpecBase {

  private def scalaFiles(root: String): Seq[String] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.map(_.toString).filter(_.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only SessionTuning and the three extension specs call the session builder") {
    // split so that this file does not match itself
    val call = "SparkSession" + ".builder"
    val files = scalaFiles("src")
    assert(files.contains("src/main/scala/graft/SessionTuning.scala"),
      s"run from the repository root; found ${files.size} .scala files under src")
    val offenders = files.filterNot(_ == "src/main/scala/graft/SessionTuning.scala")
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

  test("a factory-built session resolves the graft SQL names with no registration call") {
    val r = spark.sql(
      """SELECT cosine_sim(a, b) AS c, dot_product(a, b) AS d, l2_dist(a, b) AS l,
        |  hamming_dist(a, b) AS h, jaccard_sim(a, b) AS j
        |FROM (SELECT array(1.0f, 0.0f) AS a, array(1.0f, 0.0f) AS b)""".stripMargin)
      .collect().head
    assert((0 until 5).map(r.getDouble) == Seq(1.0, 1.0, 0.0, 0.0, 1.0), r)
    val s = spark.sql("SELECT dsum(v, 2) FROM VALUES (0.1D), (0.2D) AS t(v)").collect().head
    assert(s.getDouble(0) == 0.3, s)
  }

  test("graft.localFinishEdges is the only graft.* conf key under src/main") {
    val key = "\"graft\\.[A-Za-z0-9_.]+\"".r
    val keys = scalaFiles("src/main").flatMap(f => key.findAllIn(Files.readString(Paths.get(f))))
    assert(keys.toSet == Set("\"graft.localFinishEdges\""), keys)
  }
}
