package graft
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = SessionTuning.local(32)
    spark.sparkContext.setLogLevel("WARN")
    Tables.All.foreach(n => Tables.table(spark, sfDir, n).count())
    args.drop(1).foreach { q =>
      // Bench's honest protocol: rebuild the frame per rep (a re-counted
      // RDD would reuse its own shuffle files — skipped stages time ~0),
      // force the full physical plan, min of 3
      Bench.force(SparkEntry.queries(q)(spark, sfDir)) // untimed warm
      spark.catalog.clearCache()
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        Bench.force(df)
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (t, tBuild)
      }
      println(f"TIMED $q ${reps.map(_._1).min}%.3f s  reps=${reps.map(r => f"${r._1}%.3f(b${r._2}%.2f)").mkString(",")}")
    }
    spark.stop()
  }
}
