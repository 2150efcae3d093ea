package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression checks (SURVEY.md §4): the plans that make
  * the engine scale must not silently degrade — pushdown reaching the
  * parquet scan, column pruning, broadcast star joins, top-k without a
  * global sort, partial+final aggregation. */
class PlanSpec extends SparkSpecBase {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("filters and column pruning push into the parquet scan (P14)") {
    val p = plan("q03_filter_cmp")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThan(p_size,40)"))
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_size:int,p_retailprice:double>"))
  }

  test("star join broadcasts every dimension (only the fact table shuffles)") {
    val p = plan("q16_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, "all 4 dims broadcast")
    assert(!p.contains("SortMergeJoin"), "no sort-merge on dimension joins")
  }

  test("knn compiles to TakeOrderedAndProject reading only needed columns (V1/V9/W4)") {
    val p = plan("q40_knn_cosine")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      "scan must prune to id+vector")
  }

  test("aggregation runs partial then final (A2/A3)") {
    val p = plan("q01_tpch_q1")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final hash agg")
    assert(p.contains("PushedFilters:"), "shipdate filter pushed")
  }

  test("filtered knn pushes the label filter below the top-k (V7)") {
    val p = plan("q43_knn_filtered")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("In(label, [1,3,5])") || p.contains("label"), "label filter pushed")
  }

  test("fusion legs hold at most K rows; no window, exchange or full-outer join (F1/F4)") {
    // every rank-fusion site (operators.Fusion) ranks and fuses its legs
    // on the driver: the F1 and F4 dataset rows, VelesQL hybrid and
    // NEAR_FUSED rrf. Every plan a row runs — each leg collection and the
    // fused frame — comes from the SQL execution events. No plan holds a
    // Window, a full-outer join or an Exchange: every leg (vector or
    // per-row BM25) is one scan, and the fused frame shuffles nothing.
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlanInfo}
    import org.apache.spark.sql.graft.JobMeter
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    for ((q, maxRows) <- Seq("q51_fusion_rrf" -> 2 * 20, "q62_hybrid_rrf" -> 10,
        "q104_vql_hybrid" -> 2 * 2000, "q116_vql_fused_filtered" -> 2 * 2000)) {
      val m = JobMeter(spark) {
        val df = SparkEntry.queries(q)(spark, sfDir)
        df.collect()
        df
      }
      assert(m.plans.nonEmpty, s"$q: no SQL execution seen")
      m.plans.foreach { p =>
        val ns = nodes(p)
        assert(!ns.exists(_.nodeName == "Window"), s"$q: a rank window runs:\n${p.simpleString}")
        assert(!ns.exists(_.simpleString.contains("FullOuter")), s"$q: legs merged by a full-outer join")
        assert(!ns.exists(_.nodeName == "Exchange"),
          s"$q: a fusion plan shuffles:\n${ns.map(_.nodeName).mkString(", ")}")
      }
      // the fused frame: a local relation of ≤ legs × K id/score rows
      // under its final top k, nothing to shuffle
      val fused = m.value.queryExecution.executedPlan
      assert(!fused.exists(_.nodeName.contains("Exchange")), s"$q: the fused frame shuffles:\n$fused")
      val local = fused.collect { case l: LocalTableScanExec => l }
      assert(local.size == 1 && local.head.rows.size <= maxRows,
        s"$q: fused rows ${local.map(_.rows.size)} (at most $maxRows)")
    }
  }

  test("Fusion.legs: each leg is its score's top K from one job, ties by id, nulls never rank") {
    import graft.operators.{Fusion, Knn}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.JobMeter
    val emb = Tables.table(spark, sfDir, "embeddings")
    val q = functions.VectorFunctions.syntheticQuery(64)
    // a rounded score leaves ties for the id order to break; a null score
    // on some rows must leave them out of the leg
    val sim = functions.VectorFunctions.cosine_sim(col("embedding"), functions.VectorFunctions.vecLit(q))
    val tied = when(col("vec_id") % 7 =!= 0, round(sim, 1))
    val m = JobMeter(spark)(Fusion.legs(emb, col("vec_id"), Seq(sim -> true, tied -> false), 20))
    assert((m.jobs, m.stages, m.shuffleBytes) == ((1L, 1L, 0L)), "(jobs, stages, shuffle bytes)")
    val Seq(a, b) = m.value
    def top(score: org.apache.spark.sql.Column, asc: Boolean) =
      emb.where(score.isNotNull).select(col("vec_id"), score.as("s"))
        .orderBy(if (asc) col("s").asc else col("s").desc, col("vec_id")).limit(20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a.ids.zip(a.rows.map(_._2)) == top(sim, asc = false))
    assert(b.ids.zip(b.rows.map(_._2)) == top(tied, asc = true))
    assert(a.rows.size == 20 && b.ids.forall(_.asInstanceOf[Long] % 7 != 0))
    assert(a.ids == Knn.topK(emb, "embedding", q, 20, idCol = "vec_id")
      .collect().map(_.getAs[Long]("vec_id")).toSeq)
  }

  test("VelesQL hybrid ranks top-K per leg through the language (q104)") {
    val p = plan("q104_vql_hybrid")
    assert(p.contains("TakeOrderedAndProject"), "vector leg limited before ranking")
    assert(!p.contains("windowspecdefinition(score"),
      "no unpartitioned rank window over raw scores")
  }
}
