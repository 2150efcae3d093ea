package graft

import org.apache.spark.sql.functions._

/** r15 review findings on the query-language surface, pinned: fusion
  * clauses are consumed or rejected (never silently ignored), HAVING
  * without aggregation errors, extra MATCH conjuncts keep filtering in
  * hybrid mode, cross-alias MATCH comparisons resolve, alias-qualified
  * indexed paths resolve, LIMIT/OFFSET values are range-checked, and
  * the plan-cache param key is injection-proof. */
class VelesqlHardeningSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val g = Graft(spark, sfDir)
  private def vec64: Seq[Float] = graft.functions.VectorFunctions.syntheticQuery(64)

  test("HAVING without GROUP BY or aggregates is rejected, not dropped") {
    val e = intercept[graft.velesql.SemanticError] {
      g.sql("SELECT doc_id FROM documents HAVING count(*) > 1000000").collect()
    }
    assert(e.getMessage.contains("HAVING"), e.getMessage)
  }

  test("USING FUSION without a consumer is rejected (no silent no-op)") {
    // plain NEAR, no MATCH leg: the clause used to be silently dropped
    val e = intercept[graft.velesql.SemanticError] {
      g.sql("SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5 " +
        "USING FUSION (strategy='rrf', k=60)", Map("q" -> vec64)).collect()
    }
    assert(e.getMessage.contains("FUSION"), e.getMessage)
  }

  test("select-level USING FUSION drives NEAR_FUSED like the condition-level clause") {
    val q1 = vec64
    val q2 = vec64.zipWithIndex.map { case (v, i) =>
      (v * 0.3f + math.cos(i * 1.7).toFloat) }
    def run(sql: String) = g.sql(sql, Map("a" -> q1, "b" -> q2))
      .select("vec_id").collect().map(_.toString).toSeq
    val condLevel = run("SELECT vec_id FROM embeddings WHERE vector " +
      "NEAR_FUSED [$a, $b] USING FUSION 'rrf' (k=60) LIMIT 5")
    val selLevel = run("SELECT vec_id FROM embeddings WHERE vector " +
      "NEAR_FUSED [$a, $b] LIMIT 5 USING FUSION (strategy='rrf', k=60)")
    val dflt = run("SELECT vec_id FROM embeddings WHERE vector " +
      "NEAR_FUSED [$a, $b] LIMIT 5")
    assert(selLevel == condLevel)
    // and RRF genuinely differs from the default average strategy here
    assert(selLevel != dflt, "rrf top-5 unexpectedly equals average top-5")
  }

  test("hybrid fusion: a second MATCH conjunct stays a FILTER") {
    // one MATCH fuses; the other must restrict rows (it used to be
    // silently stripped alongside the fused leg)
    val both = g.sql("SELECT doc_id FROM corpus WHERE text MATCH 'data' " +
      "AND text MATCH 'zzzznevermatches' AND vector NEAR $q LIMIT 10 " +
      "USING FUSION (strategy='rrf', k=60)", Map("q" -> vec64)).collect()
    assert(both.isEmpty, s"unmatched second MATCH must filter all rows, got ${both.length}")
    val one = g.sql("SELECT doc_id FROM corpus WHERE text MATCH 'data' " +
      "AND vector NEAR $q LIMIT 10 USING FUSION (strategy='rrf', k=60)",
      Map("q" -> vec64)).collect()
    assert(one.nonEmpty)
  }

  test("MATCH WHERE compares one alias's property against another's") {
    val rows = g.sql(
      "MATCH (c:Customer)-[:placed]->(o:Order) WHERE c.id < o.id RETURN c.id, o.id")
      .collect()
    assert(rows.nonEmpty) // order node ids are offset +10M, so all pairs
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("alias-qualified indexed path resolves (o.items[0].sku)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vql-hard-").toString
    val g2 = Graft(spark, dir)
    g2.collections.create("ords")
    g2.collections.upsert("ords", Seq(
      (1L, Seq(("sku-a", 2)), "x"), (2L, Seq(("sku-b", 5)), "y"))
      .toDF("id", "items", "tag")
      .withColumn("items", col("items").cast(
        "array<struct<sku:string,qty:int>>")))
    val rows = g2.sql("SELECT o.items[0].sku AS s FROM ords AS o")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("sku-a", "sku-b"), rows)
    // unqualified form still works
    val rows2 = g2.sql("SELECT items[0].sku AS s FROM ords")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rows2 == rows)
  }

  test("LIMIT/OFFSET reject negatives and values past Int.MaxValue") {
    for (bad <- Seq("SELECT doc_id FROM documents LIMIT -5",
        "SELECT doc_id FROM documents LIMIT 4294967297",
        "SELECT doc_id FROM documents LIMIT 5 OFFSET -1")) {
      val e = intercept[Exception](g.sql(bad).collect())
      assert(e.getMessage != null, bad)
    }
    // LIMIT 2^32+1 used to WRAP to 1 and return a single row silently —
    // any outcome but that is acceptable; an error is what ships
  }

  test("hybrid fusion rejects a non-RRF strategy and a vector_weight outside [0, 1]") {
    def reject(fusion: String): String = intercept[graft.velesql.SemanticError] {
      g.sql("SELECT doc_id FROM corpus WHERE text MATCH 'data' AND vector NEAR $q " +
        s"LIMIT 5 USING FUSION ($fusion)", Map("q" -> vec64)).collect()
    }.getMessage
    // 'weighted' used to run RRF silently
    assert(reject("strategy='weighted', k=60").contains("RRF"))
    // w = 2 gave the text leg the weight 1 - w = -1
    assert(reject("strategy='rrf', vector_weight=2").contains("vector_weight"))
    assert(reject("vector_weight=-0.5").contains("vector_weight"))
  }

  test("weighted NEAR_FUSED weights must be >= 0 and sum to 1") {
    val q2 = vec64.map(_ * -1f)
    def run(params: String) = g.sql("SELECT vec_id FROM embeddings WHERE vector " +
      s"NEAR_FUSED [$$a, $$b] USING FUSION 'weighted' ($params) LIMIT 5",
      Map("a" -> vec64, "b" -> q2)).collect()
    assert(run("avg_weight = 0.6, max_weight = 0.2, hit_weight = 0.2").length == 5)
    Seq("avg_weight = 0.9, max_weight = 0.3, hit_weight = 0.2",
      "avg_weight = 1.2, max_weight = -0.4, hit_weight = 0.2").foreach { p =>
      val e = intercept[graft.velesql.SemanticError](run(p))
      assert(e.getMessage.contains("sum to 1"), e.getMessage)
    }
  }

  test("fusion options: keys are case-insensitive, and unknown, string or bad values are rejected") {
    val q2 = vec64.map(_ * -1f)
    def fused(clause: String) = g.sql("SELECT vec_id, score FROM embeddings WHERE vector " +
      s"NEAR_FUSED [$$a, $$b] $clause LIMIT 5", Map("a" -> vec64, "b" -> q2))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the condition-level form used to keep key case: K = 30 ran with k = 60
    val k30 = fused("USING FUSION 'rrf' (k = 30)")
    assert(fused("USING FUSION 'rrf' (K = 30)") == k30)
    assert(fused("USING FUSION 'rrf' (k = 60)") != k30)
    def reject(sql: String): String =
      intercept[graft.velesql.VelesError](g.sql(sql, Map("a" -> vec64, "b" -> q2, "q" -> vec64))
        .collect()).getMessage
    def nearFused(clause: String) =
      s"SELECT vec_id FROM embeddings WHERE vector NEAR_FUSED [$$a, $$b] $clause LIMIT 5"
    def hybrid(opts: String) = "SELECT doc_id FROM corpus WHERE text MATCH 'data' AND " +
      s"vector NEAR $$q LIMIT 5 USING FUSION ($opts)"
    // a key outside the strategy's set used to be ignored
    assert(reject(hybrid("strategy = 'rrf', vector_wieght = 0.2")).contains("vector_wieght"))
    assert(reject(nearFused("USING FUSION 'rrf' (vector_weight = 0.7)")).contains("vector_weight"))
    assert(reject(nearFused("USING FUSION 'average' (k = 5)")).contains("'k'"))
    // a string option other than strategy used to be dropped
    assert(reject("SELECT vec_id FROM embeddings WHERE vector NEAR_FUSED [$a, $b] " +
      "LIMIT 5 USING FUSION (strategy = 'rrf', k = '30')").contains("'k'"))
    // k = -1 divided rank 1 by zero; k = -30 gave the top ranks negative scores
    for (k <- Seq("-1", "-30", "-0.5")) {
      assert(reject(nearFused(s"USING FUSION 'rrf' (k = $k)")).contains("k must be"), k)
      assert(reject(hybrid(s"strategy = 'rrf', k = $k")).contains("k must be"), k)
    }
    for (k <- Seq(Double.PositiveInfinity, Double.NaN))
      intercept[IllegalArgumentException](graft.operators.Fusion.options("rrf", Map("k" -> k)))
  }

  test("NEAR_FUSED takes at most 10 vectors, rejected before any Spark job") {
    val vecs = (0 until 11).map(i => s"v$i" -> vec64.map(_ * (i + 1).toFloat)).toMap
    def sql(n: Int) = "SELECT vec_id FROM embeddings WHERE vector NEAR_FUSED " +
      s"[${(0 until n).map("$v" + _).mkString(", ")}] USING FUSION 'rrf' LIMIT 5"
    assert(g.sql(sql(10), vecs).collect().length == 5)
    val m = org.apache.spark.sql.graft.JobMeter(spark) {
      intercept[graft.velesql.SemanticError](g.sql(sql(11), vecs).collect()).getMessage
    }
    assert(m.value.contains("at most 10"), m.value)
    assert(m.jobs == 0, s"a rejected NEAR_FUSED ran ${m.jobs} Spark jobs")
  }

  test("plan-cache param key is delimiter-injection-proof") {
    val q = "SELECT doc_id FROM documents WHERE lang = $a LIMIT 5"
    // old rendering: these two maps produced the SAME key, so the
    // second call was served the first call's baked plan
    val collided = g.sql(q,
      Map("a" -> "en;17:b=16:java.lang.String=1:y")).collect()
    assert(collided.isEmpty)
    val real = g.sql(q, Map("a" -> "en", "b" -> "y")).collect()
    assert(real.nonEmpty, "distinct param map was served the colliding cached plan")
  }
}
