package graft

/** Plan inspection main: dumps `.explain("formatted")` for representative
  * queries so scan pushdown / broadcast / TakeOrderedAndProject /
  * whole-stage-codegen coverage can be reviewed (SURVEY.md §4 checklist).
  * Usage: runMain graft.Plans <sfDir> [queryName ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_tpch_q1", "q03_filter_cmp", "q16_star_join",
        "q40_knn_cosine", "q43_knn_filtered", "q60_bm25", "q82_bfs_varlength")
    val spark = SessionTuning.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n===================== $n =====================")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
