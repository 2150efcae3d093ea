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

  test("fusion legs rank top-K candidates, never the whole table (F1/F4)") {
    // one check for every rank-fusion site (operators.Fusion): the F1 and
    // F4 dataset rows, VelesQL hybrid and NEAR_FUSED rrf. Every Window
    // must (a) carry a partition key (an empty spec is the r1
    // global-window scale-killer) and (b) sit above a
    // TakeOrderedAndProject, so it ranks K rows, not the table; and the
    // legs merge by union + aggregate, never by a full-outer join.
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q51_fusion_rrf", "q62_hybrid_rrf", "q104_vql_hybrid",
        "q116_vql_fused_filtered")) {
      val p = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val windows = p.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q: rank windows present")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty, s"$q: window must be partition-keyed: $w")
        assert(w.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
          s"$q: window must rank a top-K leg:\n$w")
      }
      assert(!p.exists {
        case j: BaseJoinExec => j.joinType == FullOuter
        case _ => false
      }, s"$q: legs merged by a full-outer join:\n$p")
    }
  }

  test("VelesQL hybrid ranks top-K per leg through the language (q104)") {
    val p = plan("q104_vql_hybrid")
    assert(p.contains("TakeOrderedAndProject"), "vector leg limited before ranking")
    assert(!p.contains("windowspecdefinition(score"),
      "no unpartitioned rank window over raw scores")
  }
}
