package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** r14 hardening specs: the folded PageRank superstep's equivalence on
  * the PERSONALIZED branch (the r13 cross-check, PERF_r14.md §1, only
  * exercised the uniform base), the oversized-inline-seed guard, and
  * pinStaticPlan's thread safety (the shared-conf race from r13 ADVICE).
  */
class GraphPinSpec extends SparkSpecBase {

  /** A small directed graph with cycles, hubs and a zero-in-degree node. */
  private def testEdges: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (2L, 6L), (7L, 1L), (7L, 5L), (8L, 7L),
      (5L, 1L), (6L, 2L), (4L, 8L), (9L, 3L), (9L, 8L), (1L, 9L)
    ).toDF("src", "dst").withColumn("label", lit("e"))
  }

  private def invariantsOf(e: DataFrame): (DataFrame, DataFrame) = {
    val s = e.select("src", "dst")
    val nodes = s.select(col("src").as("node"))
      .unionAll(s.select(col("dst").as("node"))).distinct()
    val eDeg = s.join(s.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .select(col("src"), col("dst"), col("deg"))
    (nodes, eDeg)
  }

  /** e6-snapped ranks keyed by node (the PERF_r14.md §1 cross-check idiom: exact
    * integer comparison, robust to partition-order ULP drift). */
  private def snapped(df: DataFrame): Map[Long, Long] =
    df.select(col("node"),
        floor(col("rank") * 1000000 + 0.5).cast("long").as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("folded superstep == node-frame path for SEEDED pageRank") {
    val e = testEdges
    val seeds = Seq(2L, 7L)
    import spark.implicits._
    // node-frame path: derived invariants + a restart FRAME
    val nodeFrame = Graph.pageRank(e, iters = 3,
      restart = Some(seeds.toDF("node")))
    // folded path: supplied invariants + inline seed ids
    val folded = Graph.pageRank(e, iters = 3,
      invariants = Some(invariantsOf(e)),
      restartIdsInline = Some(seeds))
    val a = snapped(nodeFrame)
    val b = snapped(folded)
    assert(a == b, s"seeded folded != node-frame: ${a.toSeq.sorted} vs ${b.toSeq.sorted}")
    // non-seed zero-in-degree mass decays to 0 under personalization
    assert(b.keySet.contains(8L))
  }

  test("folded superstep == node-frame path for UNIFORM pageRank") {
    val e = testEdges
    val nodeFrame = Graph.pageRank(e, iters = 3)
    val folded = Graph.pageRank(e, iters = 3,
      invariants = Some(invariantsOf(e)))
    assert(snapped(nodeFrame) == snapped(folded))
  }

  test("oversized inline seed set is rejected, not silently uniform") {
    val e = testEdges
    val ids = (1L to (Graph.SeedInlineCap + 1).toLong).toSeq
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(e, iters = 1,
        invariants = Some(invariantsOf(e)),
        restartIdsInline = Some(ids))
    }
    assert(ex.getMessage.contains("SeedInlineCap"))
  }

  test("pinStaticPlan never mutates the session conf under concurrency") {
    import spark.implicits._
    val conf = spark.conf
    val prev = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val rounds = 40
      val pinner = new Thread(() => {
        try (1 to rounds).foreach { i =>
          val df = Seq((i, "a"), (i + 1, "b")).toDF("k", "v")
            .groupBy("v").agg(sum(col("k")).as("s"))
          val pinned = SessionTuning.pinStaticPlan(df)
          if (pinned.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
            errors.add(s"pin $i: plan is adaptive")
        } catch { case t: Throwable => errors.add(s"pinner: $t") }
      })
      val planner = new Thread(() => {
        try (1 to rounds).foreach { i =>
          // a CONCURRENT unpinned query must keep its adaptive plan and
          // must never observe the session conf flipped off
          val df = Seq((i, "x"), (i + 2, "y")).toDF("k", "v")
            .groupBy("v").agg(max(col("k")).as("m"))
          if (!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
            errors.add(s"concurrent $i: plan lost AQE")
          if (conf.get("spark.sql.adaptive.enabled") != "true")
            errors.add(s"concurrent $i: session conf observed off")
        } catch { case t: Throwable => errors.add(s"planner: $t") }
      })
      pinner.start(); planner.start()
      pinner.join(120000); planner.join(120000)
      assert(errors.isEmpty, errors.toArray.mkString("; "))
    } finally conf.set("spark.sql.adaptive.enabled", prev)
  }
}
