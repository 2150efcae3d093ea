package graft

import org.apache.spark.sql.functions._

/** Compiled-plan memo on [[Graft.sql]] (SURVEY §4.3 item 4): identical
  * (query, params, scope, stamps) calls reuse the compiled DataFrame;
  * anything that could change the result — different param values, a
  * collection publish, wall-clock NOW — compiles fresh. */
class PlanCacheSpec extends SparkSpecBase {
  import spark.implicits._

  test("second value-identical execution skips compile; results identical") {
    val g = Graft(spark, sfDir)
    val q = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000 ORDER BY o_orderkey LIMIT 5"
    val c0 = g.compileCount.get()
    val r1 = g.sql(q).collect().toSeq
    assert(g.compileCount.get() == c0 + 1)
    val r2 = g.sql(q).collect().toSeq
    assert(g.compileCount.get() == c0 + 1, "second execution must not recompile")
    assert(r1 == r2)
  }

  test("different param values compile separately (values are baked into the plan)") {
    val g = Graft(spark, sfDir)
    val q = "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 3"
    val v1 = functions.VectorFunctions.syntheticQuery(64)
    val v2 = (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat)
    val c0 = g.compileCount.get()
    val a = g.sql(q, Map("q" -> v1)).select("vec_id").collect().map(_.getLong(0)).toSeq
    g.sql(q, Map("q" -> v1)).collect()
    assert(g.compileCount.get() == c0 + 1, "same vector must hit the cache")
    val b = g.sql(q, Map("q" -> v2)).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(g.compileCount.get() == c0 + 2, "new vector must compile")
    assert(a != b || a.nonEmpty) // both legs executed for real
  }

  test("a collection publish invalidates the cached plan (content stamp)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-plancache").toString
    val g = Graft(spark, tmp)
    g.collections.create("c")
    g.collections.upsert("c", Seq((1L, "a"), (2L, "b")).toDF("id", "payload"))
    val q = "SELECT id, payload FROM c ORDER BY id"
    assert(g.sql(q).count() == 2)
    val c0 = g.compileCount.get()
    g.sql(q).collect()
    assert(g.compileCount.get() == c0, "pre-publish re-run must hit the cache")
    g.collections.upsert("c", Seq((3L, "c")).toDF("id", "payload"))
    val rows = g.sql(q).collect()
    assert(g.compileCount.get() == c0 + 1, "publish must invalidate the plan")
    assert(rows.length == 3, "post-publish plan must see the new generation")
    graft.Collections.deleteRec(java.nio.file.Paths.get(tmp))
  }

  test("a publish invalidates a memoized hybrid plan: the hot request returns the new point") {
    // the fused legs run at compile, so the memoized plan is one payload
    // scan over the fused ids; an upsert re-stamps the collection and the
    // same request recompiles its legs over the new generation
    val tmp = java.nio.file.Files.createTempDirectory("graft-plancache-hy").toString
    val g = Graft(spark, tmp)
    g.collections.create("h", idCol = "id", vectorCol = Some("vector"))
    g.collections.upsert("h", Seq((1L, Seq(1f, 0f), "alpha beta"), (2L, Seq(0f, 1f), "gamma"))
      .toDF("id", "vector", "text"))
    val q = "SELECT * FROM h WHERE text MATCH 'alpha' AND vector NEAR $v LIMIT 10 " +
      "USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)"
    val v = Map("v" -> Seq(1f, 0f))
    def ids() = g.sql(q, v).collect().map(_.getAs[Long]("id")).toSeq
    assert(ids() == Seq(1L, 2L))
    val c0 = g.compileCount.get()
    assert(ids() == Seq(1L, 2L))
    assert(g.compileCount.get() == c0, "the hot request must hit the memo")
    g.collections.upsert("h", Seq((3L, Seq(1f, 0f), "alpha")).toDF("id", "vector", "text"))
    assert(ids() == Seq(1L, 3L, 2L), "post-publish plan must rank the new point")
    assert(g.compileCount.get() == c0 + 1, "publish must invalidate the plan")
    assert(ids() == Seq(1L, 3L, 2L))
    assert(g.compileCount.get() == c0 + 1, "the next hot request hits the new plan")
    graft.Collections.deleteRec(java.nio.file.Paths.get(tmp))
  }

  test("subquery-bearing texts cache (tables stamped from the AST)") {
    val g = Graft(spark, sfDir)
    val q = """SELECT c_custkey, c_acctbal FROM customer
              |WHERE c_acctbal > (SELECT min(o_totalprice) FROM orders
              |                   WHERE o_custkey = customer.c_custkey)
              |ORDER BY c_custkey LIMIT 5""".stripMargin
    val c0 = g.compileCount.get()
    val a = g.sql(q).collect().toSeq
    assert(g.compileCount.get() == c0 + 1)
    val b = g.sql(q).collect().toSeq
    assert(g.compileCount.get() == c0 + 1,
      "correlated-subquery text must hit the memo on the second call")
    assert(a == b)
  }

  test("a publish to a table referenced ONLY inside a subquery invalidates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-plancache-sq").toString
    val g = Graft(spark, tmp)
    g.collections.create("outer_c")
    g.collections.create("inner_c")
    g.collections.upsert("outer_c", Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v"))
    g.collections.upsert("inner_c", Seq((1L, 10.0)).toDF("id", "v"))
    val q = "SELECT id, v FROM outer_c WHERE v > (SELECT max(v) FROM inner_c) ORDER BY id"
    assert(g.sql(q).collect().map(_.getLong(0)).toSeq == Seq(2L))
    val c0 = g.compileCount.get()
    g.sql(q).collect()
    assert(g.compileCount.get() == c0, "pre-publish re-run must hit the cache")
    // the publish touches ONLY the subquery's table — the regex-keyed
    // r11 memo could not see it (it bailed on multi-SELECT texts); the
    // AST-walked key stamps it and recompiles
    g.collections.upsert("inner_c", Seq((2L, 60.0)).toDF("id", "v"))
    val rows = g.sql(q).collect()
    assert(g.compileCount.get() == c0 + 1,
      "publish to the subquery table must invalidate the plan")
    assert(rows.isEmpty, "post-publish plan must see the new inner max (60 > all outer v)")
    graft.Collections.deleteRec(java.nio.file.Paths.get(tmp))
  }

  test("a publish to a table referenced only in a HAVING subquery invalidates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-plancache-hv").toString
    val g = Graft(spark, tmp)
    g.collections.create("docs_h")
    g.collections.create("bar_h")
    g.collections.upsert("docs_h",
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp"))
    g.collections.upsert("bar_h", Seq((1L, 1.0)).toDF("id", "v"))
    val q = "SELECT grp, count(*) AS count FROM docs_h GROUP BY grp " +
      "HAVING count(*) > (SELECT max(v) FROM bar_h) ORDER BY grp"
    assert(g.sql(q).collect().map(_.getString(0)).toSeq == Seq("a"))
    val c0 = g.compileCount.get()
    g.sql(q).collect()
    assert(g.compileCount.get() == c0, "re-run must hit the cache")
    // raise the HAVING bar via the subquery-only table: the stamp walk
    // must see it (r12 self-review: ofSelect skipped HAVING values)
    g.collections.upsert("bar_h", Seq((2L, 5.0)).toDF("id", "v"))
    val rows = g.sql(q).collect()
    assert(g.compileCount.get() == c0 + 1,
      "publish to the HAVING-subquery table must invalidate")
    assert(rows.isEmpty, "no group exceeds the new max(v)=5 bar")
    graft.Collections.deleteRec(java.nio.file.Paths.get(tmp))
  }

  test("NOW-relative queries are never cached") {
    val g = Graft(spark, sfDir)
    val q = "SELECT event_id FROM events WHERE ts > NOW() - INTERVAL '36500 days' LIMIT 1"
    val c0 = g.compileCount.get()
    g.sql(q).collect()
    g.sql(q).collect()
    assert(g.compileCount.get() == c0 + 2, "wall-clock plans must compile fresh")
    // with a FIXED epoch the plan is deterministic and cacheable
    g.sql(q, fixedNowEpoch = Some(4102444800L)).collect()
    g.sql(q, fixedNowEpoch = Some(4102444800L)).collect()
    assert(g.compileCount.get() == c0 + 3, "fixed-epoch NOW plans may cache")
  }
}
