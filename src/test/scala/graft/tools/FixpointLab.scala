package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CheckpointBlocks, JobMeter}

/** Driver finish vs distributed loop for the three iterative graph
  * operators — `Graph.kCore`, `Dedup.components` and
  * `Graph.lpaCommunities` — called as they are, with
  * `graft.localFinishEdges` at its default and at 0 (every round
  * distributed). Per operator and gate it prints the wall time and the
  * Spark job count of two phases, `call` (the operator up to its
  * returned frame) and `consume` (forcing that frame), min over reps.
  *
  * The input is a seeded random graph generated in the session:
  * canonical distinct pairs `(a < b)` over `symEdges / 4` nodes, about
  * `symEdges` edges once symmetrized (mean degree ~4, so the 3-core
  * peel takes several rounds). Given a dataset dir instead, it reads
  * the co-purchase projection q182/q186 run on. The pairs are
  * checkpointed first, so only operator work is timed.
  *
  * Usage: sbt "Test/runMain graft.tools.FixpointLab [symEdges=500000]
  * [reps=3] [k=3] [sfDir]"
  */
object FixpointLab {

  def main(args: Array[String]): Unit = {
    val symEdges = args.lift(0).fold(500000L)(_.toLong)
    val reps = args.lift(1).fold(3)(_.toInt)
    val k = args.lift(2).fold(3)(_.toInt)
    val spark = graft.SparkSpecBase.session
    val pairs = (args.lift(3) match {
      case Some(dir) =>
        val op = graft.Tables.table(spark, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        op.as("x").join(op.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
          .groupBy(col("x.p").as("a"), col("y.p").as("b")).agg(count(lit(1)).as("w"))
          .where(col("w") >= 2).select("a", "b")
      case None =>
        val nodes = math.max(2L, symEdges / 4)
        def end(salt: Int) = pmod(xxhash64(col("id"), lit(salt)), lit(nodes))
        spark.range(symEdges / 2).select(end(1).as("x"), end(2).as("y"))
          .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
          .where(col("a") < col("b")).distinct()
    }).localCheckpoint(true)
    val n = pairs.count()
    println(s"pairs=$n (symmetrized ${2 * n}), " +
      s"partitions=${pairs.rdd.getNumPartitions}, cores=${spark.sparkContext.defaultParallelism}")

    /** (value, seconds, jobs) of `f`. */
    def phase[T](f: => T): (T, Double, Long) = {
      val m = JobMeter(spark) {
        val t0 = System.nanoTime()
        (f, (System.nanoTime() - t0) / 1e9)
      }
      (m.value._1, m.value._2, m.jobs)
    }
    val ops = Seq[(String, DataFrame => DataFrame)](
      s"kCore k=$k" -> (graft.operators.Graph.kCore(_, k)),
      "components" -> (graft.operators.Dedup.components(_, maxIters = 100)),
      "LPA iters=3" -> (graft.operators.Graph.lpaCommunities(_, 3)))
    println(f"${"operator"}%-12s ${"gate"}%-8s ${"call s"}%8s ${"jobs"}%5s " +
      f"${"consume s"}%10s ${"jobs"}%5s ${"total s"}%8s ${"rows"}%8s")
    for ((name, op) <- ops; gate <- Seq("default", "0")) {
      if (gate == "0") spark.conf.set("graft.localFinishEdges", "0")
      else spark.conf.unset("graft.localFinishEdges")
      val runs = (1 to reps).map { _ =>
        val (res, callS, callJobs) = phase(op(pairs))
        val (rows, useS, useJobs) = phase(graft.Bench.force(res))
        CheckpointBlocks.unpersistAll(res)
        (callS + useS, callS, callJobs, useS, useJobs, rows)
      }
      val (total, callS, callJobs, useS, useJobs, rows) = runs.minBy(_._1)
      println(f"$name%-12s $gate%-8s $callS%8.3f $callJobs%5d $useS%10.3f $useJobs%5d " +
        f"$total%8.3f $rows%8d   reps=${runs.map(r => f"${r._1}%.3f").mkString(",")}")
    }
    spark.conf.unset("graft.localFinishEdges")
    spark.stop()
  }
}
