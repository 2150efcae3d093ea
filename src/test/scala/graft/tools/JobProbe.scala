package graft.tools

import org.apache.spark.sql.graft.JobMeter

/** Diagnostic main: for each named query, report the WARM wall time and
  * the number of Spark jobs + stages one execution schedules. The job
  * count is the driver-environment noise amplifier (r11 VERDICT: the
  * heavy bench rows stack 8-12 jobs each, and every job pays the
  * scheduler floor twice under co-tenancy) — this probe is the
  * before/after evidence for collapsing them.
  *
  * Usage: sbt "Test/runMain graft.tools.JobProbe q123 q60 q62"
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val verbose = sys.env.get("JOBPROBE_VERBOSE").exists(_ == "1")

    graft.Tables.All.foreach(n => graft.Tables.table(spark, sfDir, n).count())

    val prefixes = args.toSeq
    val selected = graft.SparkEntry.allDefs.sortBy(_.name)
      .filter(q => prefixes.isEmpty || prefixes.exists(q.name.startsWith))
    selected.foreach { q =>
      // one untimed warm pass (codegen + derived-table builds)
      try graft.Bench.force(q.fn(spark, sfDir)) catch { case e: Throwable =>
        println(s"JOBPROBE ${q.name} FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      val m = JobMeter(spark) {
        val t0 = System.nanoTime()
        try graft.Bench.force(q.fn(spark, sfDir)) catch { case _: Throwable => }
        (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      if (verbose) m.descriptions.foreach(d => println(s"  JOB ${d.take(60)}"))
      if (sys.env.get("JOBPROBE_EXPLAIN").contains("1"))
        try println(q.fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode))
        catch { case _: Throwable => }
      // value peek (JOBPROBE_ROWS=1): first rows, outside the timed run
      val peek = if (sys.env.get("JOBPROBE_ROWS").contains("1"))
        try " rows=" + q.fn(spark, sfDir).limit(3).collect().map(_.toString).mkString(";")
        catch { case _: Throwable => " rows=ERR" }
      else ""
      println(f"JOBPROBE ${q.name}%-28s warm=${m.value}%.3fs jobs=${m.jobs} stages=${m.stages}$peek")
    }
    spark.stop()
  }
}
