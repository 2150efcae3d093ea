package graft

import graft.operators.Quantization
import org.apache.spark.sql.functions._

/** Engine facade: VelesQL in → DataFrame out, parse cache, explain,
  * guardrails wiring; SQ8 quantization round-trip. */
class GraftSpec extends SparkSpecBase {

  private lazy val g = Graft(spark, sfDir)

  test("facade runs VelesQL end-to-end with params") {
    val q = graft.functions.VectorFunctions.syntheticQuery(64)
    val rows = g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5",
      Map("q" -> q)).collect()
    assert(rows.length == 5)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("parse cache returns the identical AST instance on a hit") {
    val sql = "SELECT c_custkey FROM customer WHERE c_acctbal > 100"
    val a1 = g.parse(sql)
    val a2 = g.parse(sql)
    assert(a1 eq a2) // cache.rs:88-110 — hit avoids re-parsing
  }

  test("explain is available through the facade") {
    val out = g.explain("SELECT * FROM orders WHERE o_totalprice > 10 LIMIT 3")
    assert(out.contains("TableScan(orders)") && out.contains("Limit(3)"))
  }

  test("guardrails wired through the facade reject huge queries") {
    val strict = new Graft(spark, sfDir, maxCost = 1L)
    intercept[graft.velesql.CostLimitError] {
      strict.sql("SELECT * FROM lineitem")
    }
  }

  test("distance functions usable from SQL via registry and via extensions") {
    // the spec session comes from SessionTuning, which installs
    // GraftExtensions: the metrics resolve with no registration call
    Tables.table(spark, sfDir, "embeddings").createOrReplaceTempView("emb_sql")
    val cos = spark.sql(
      """SELECT vec_id, cosine_sim(embedding, array(0.5f, 0.5f)) FROM emb_sql LIMIT 1""")
    assert(cos.count() == 1)
    val r = spark.sql(
      """SELECT vec_id, l2_dist(embedding, embedding) AS d FROM emb_sql LIMIT 5""")
      .collect()
    assert(r.length == 5 && r.forall(_.getDouble(1) == 0.0))
  }

  test("error taxonomy matches the reference (error.rs)") {
    intercept[graft.velesql.SyntaxError](g.sql("SELEC * FROM orders"))
    intercept[graft.velesql.NotFoundError](g.sql("SELECT * FROM no_such_table"))
    intercept[graft.velesql.SemanticError](
      g.sql("SELECT o_custkey, COUNT(*) FROM orders HAVING COUNT(*) > 1"))
    intercept[graft.velesql.SemanticError](
      g.sql("SELECT vec_id FROM embeddings WHERE vector NEAR $missing"))
  }

  test("SQ8 quantization round-trips within one code step") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val dec = Quantization.sq8Decode(Quantization.withSq8(emb, "embedding"))
    val r = dec.select("embedding", "vec_approx", "sq8_scale").first()
    val orig = r.getSeq[Float](0)
    val approx = r.getSeq[Float](1)
    val step = r.getDouble(2)
    orig.zip(approx).foreach { case (o, a) =>
      assert(math.abs(o - a) <= step * 0.51 + 1e-6,
        s"dequantized $a too far from $o (step $step)")
    }
  }

  test("WITH quantization='binary' runs the two-phase path with high recall") {
    val q = graft.functions.VectorFunctions.syntheticQuery(64)
    val exact = g.sql(
      "SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 10", Map("q" -> q))
      .collect().map(_.getLong(0)).toSet
    val quant = g.sql(
      "SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 10 WITH (quantization='binary', oversampling=8)",
      Map("q" -> q)).collect().map(_.getLong(0)).toSet
    assert(quant.size == 10)
    assert((quant & exact).size >= 9, s"recall too low: ${(quant & exact).size}/10")
    // mode knobs are accepted-and-ignored in exact mode (vector.rs:69-115)
    val modeOk = g.sql(
      "SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5 WITH (mode='fast', ef_search=64)",
      Map("q" -> q))
    assert(modeOk.count() == 5)
  }

  test("BM25 materialized index gives identical scores to direct scoring") {
    import graft.operators.Bm25
    // the materialized index is the posting-list shape of index/bm25.rs
    val docs = Tables.table(spark, sfDir, "documents")
    val direct = Bm25.score(docs, "spark join filter", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val viaIndex = Bm25Postings.postingScores(docs, "spark join filter")
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(10).toMap
    assert(direct.size == 10 && direct.keySet == viaIndex.keySet)
    direct.foreach { case (id, s) => assert(math.abs(s - viaIndex(id)) < 1e-12) }
  }

  test("compaction consolidates collection files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val cols = new Collections(spark, dir)
    cols.create("c")
    cols.upsert("c", (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      .repartition(8))
    cols.compact("c", 1)
    // compaction flattens to exactly numFiles parquet files and vacuums
    // superseded generations on the next publish cycle
    assert(cols.table("c").get.inputFiles.length == 1)
    assert(cols.count("c") == 100)
    cols.drop("c")
  }

  test("SQ8 codes stay within [0, 255]") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val sq = Quantization.withSq8(emb, "embedding")
    val bad = sq.select(explode(col("sq8_codes")).as("c"))
      .where(col("c") < 0 || col("c") > 255)
    assert(bad.count() == 0)
  }
}
