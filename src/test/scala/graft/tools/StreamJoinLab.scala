package graft.tools

import org.apache.spark.sql.functions._

/** Where do the streaming pins (q147 stream-stream interval join, q131
  * session agg; AvailableNow, memory sink) spend their seconds, and do
  * the §5 state-store levers move them? Grid: state-store provider
  * (default HDFS-backed vs RocksDB) × shuffle-partition count, three
  * reps each, per-batch durationMs from the query's progress events.
  * Usage: runMain graft.tools.StreamJoinLab <sfDir> [join|sessions]
  */
object StreamJoinLab {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val shape = args.drop(1).headOption.getOrElse("join")
    val spark = graft.SessionTuning.local(32)
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.All.foreach(n => graft.Tables.table(spark, sfDir, n).count())
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    val rocksCls =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    for {
      provider <- Seq("default", "rocksdb")
      parts <- Seq(1, 2, 4, 8, 16)
      rep <- 1 to 3
    } {
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      val prevProv = spark.conf
        .get("spark.sql.streaming.stateStore.providerClass", "")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      if (provider == "rocksdb")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", rocksCls)
      val t0 = System.nanoTime()
      val out = shape match {
        case "sessions" => graft.streaming.StreamingOps.sessionAgg(
          graft.streaming.StreamingOps.eventsStream(spark, sfDir),
          "30 minutes", "1 hour")
        case _ => graft.streaming.StreamingOps.intervalJoin(
          graft.streaming.StreamingOps.eventsStream(spark, sfDir))
      }
      val om = if (shape == "sessions") "complete" else "append"
      val qn = s"lab147_${provider}_${parts}_$rep"
      val shm = new java.io.File("/dev/shm")
      val ck = java.nio.file.Files.createTempDirectory(shm.toPath, "lab147-")
      val q = out.writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", ck.toString)
        .outputMode(om)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      require(q.awaitTermination(300000))
      val t3 = System.nanoTime()
      val batches = q.recentProgress.map { p =>
        val d = p.durationMs
        s"b${p.batchId}(rows=${p.numInputRows} trig=${d.get("triggerExecution")} " +
          s"addBatch=${d.get("addBatch")} stCommit=${
            Option(p.stateOperators).map(_.map(_.commitTimeMs).mkString("/")).getOrElse("")})"
      }.mkString(" ")
      q.stop()
      val sink = spark.table(qn).localCheckpoint(true)
      spark.catalog.dropTempView(qn)
      graft.Bench.force(sink)
      val t6 = System.nanoTime()
      org.apache.spark.sql.graft.CheckpointBlocks.unpersist(sink)
      if (provider == "rocksdb") {
        if (prevProv.isEmpty)
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProv)
      }
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      println(f"$shape prov=$provider%-8s parts=$parts%2d rep=$rep: " +
        f"TOTAL=${(t6 - t0) / 1e6}%6.0f ms  await=${(t3 - t0) / 1e6}%6.0f  $batches")
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(ck)
      try walk.iterator().asScala.toSeq.reverse.foreach(_.toFile.delete())
      finally walk.close()
    }
    spark.stop()
  }
}
