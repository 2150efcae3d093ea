package graft.tools


/** Measures the scaling exponent of selected queries across dataset
  * dirs (r12/r13 VERDICT ask #1). For each (dir, query): one untimed
  * warm pass (codegen + per-dir derived-table builds — edges, indexes,
  * invariants — which are one-time ingest costs, not query costs), then
  * min-of-REPS timed full executions (Bench.force). Prints one
  * `SCALEPROBE` line per measurement and a final exponent table
  * (exponent = log(T_big/T_small) / log(rows_big/rows_small), using
  * lineitem rows as the scale proxy).
  *
  * Usage: Test/runMain graft.tools.ScaleProbe q149 q148 ...
  *   SCALEPROBE_DIRS=dirA,dirB (default sf0.1 + target/scaleprobe/sf1)
  *   SCALEPROBE_REPS=3
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SCALEPROBE_DIRS",
      "/root/testdata/sf0.1,/root/repo/target/scaleprobe/sf1")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val reps = sys.env.get("SCALEPROBE_REPS").map(_.toInt).getOrElse(3)
    val spark = graft.SessionTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    val selected = graft.SparkEntry.allDefs.sortBy(_.name)
      .filter(q => args.isEmpty || args.exists(q.name.startsWith))
    require(selected.nonEmpty, "no queries matched")

    // dump the selected oracles for the DuckDB twin (tools/scale_duck.py)
    val oraclePath = java.nio.file.Paths.get("/root/repo/target/scaleprobe")
    java.nio.file.Files.createDirectories(oraclePath)
    val json = selected.flatMap(q => q.oracle.map(o =>
        "  \"" + q.name + "\": " + com.fasterxml.jackson.databind.json.JsonMapper
          .builder().build().writeValueAsString(o)))
      .mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(oraclePath.resolve("oracle_sql.json"),
      json.getBytes("UTF-8"))

    val rows = new scala.collection.mutable.ArrayBuffer[(String, String, Double, Long)]
    dirs.foreach { dir =>
      val nRows = graft.Tables.table(spark, dir, "lineitem").count()
      // touch every table once (listing/schema jobs out of the timings)
      graft.Tables.All.foreach(n => graft.Tables.table(spark, dir, n).count())
      selected.foreach { q =>
        try {
          graft.Bench.force(q.fn(spark, dir)) // warm: codegen + derived builds
          spark.catalog.clearCache()
          val times = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            graft.Bench.force(q.fn(spark, dir))
            val t = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            t
          }
          val best = times.min
          rows += ((q.name, dir, best, nRows))
          println(f"SCALEPROBE q=${q.name} dir=$dir rows=$nRows min=$best%.3f " +
            s"reps=[${times.map(t => f"$t%.3f").mkString(",")}]")
        } catch { case e: Throwable =>
          println(s"SCALEPROBE q=${q.name} dir=$dir FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
    if (dirs.size == 2) {
      println("SCALEPROBE exponent table (T ~ rows^e): e = ln(T1/T0)/ln(N1/N0)")
      val byQ = rows.groupBy(_._1)
      selected.map(_.name).foreach { q =>
        byQ.get(q).filter(_.size == 2).foreach { rs =>
          val Seq(a, b) = rs.sortBy(_._4).toSeq
          val e = math.log(b._3 / a._3) / math.log(b._4.toDouble / a._4)
          println(f"SCALEEXP $q%-30s t0=${a._3}%.3f t1=${b._3}%.3f n1/n0=${b._4 / a._4} exp=$e%.2f")
        }
      }
    }
    spark.stop()
  }
}
