package graft.tools

import org.apache.spark.sql.functions._

/** Dumps `.explain("formatted")` for the ARTIFACT BUILDER frames the
  * r18 round touched (they run inside Materialize, so query-level plan
  * dumps never show them): the winnowing fingerprint table with and
  * without the trailing distinct (the r18 change), and the LPA
  * adjacency. Usage: Test/runMain graft.tools.BuildPlans <sfDir>
  */
object BuildPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.SessionTuning.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.table(spark, sfDir, "documents")
    println("===================== winnow_fp build (r18: no distinct) =====================")
    graft.operators.Dedup.winnowingFingerprints(docs).explain("formatted")
    println("===================== winnow_fp build + distinct (r17 shape) =====================")
    graft.operators.Dedup.winnowingFingerprints(docs).distinct().explain("formatted")
    spark.stop()
  }
}
