package graft

import graft.operators.{Knn, Pq}
import graft.velesql.{Catalog, Compiler, SemanticError}
import org.apache.spark.sql.functions._

/** Product quantization (beyond-reference V11+): per-subspace codebooks,
  * narrow codes index, ADC ordering, two-phase exact rerank — the
  * `WITH (quantization = 'pq')` path. Recall itself is oracle-pinned by
  * q133_pq_recall; these specs pin structure and semantics. */
class PqSpec extends SparkSpecBase {

  private val dim = 64
  private lazy val emb = Tables.table(spark, sfDir, "embeddings")

  test("training is deterministic and shapes are m × k × dim/m") {
    val a = Pq.train(emb, "embedding", dim, m = 4, k = 8)
    val b = Pq.train(emb, "embedding", dim, m = 4, k = 8)
    assert(a.length == 4 && a.forall(_.length == 8) &&
      a.forall(_.forall(_.length == dim / 4)))
    assert(a.flatten.flatten.toSeq == b.flatten.flatten.toSeq,
      "same data must train identical codebooks")
    intercept[IllegalArgumentException] {
      Pq.train(emb, "embedding", dim, m = 7, k = 8) // 64 % 7 != 0
    }
  }

  test("defaultM: divisor snap with upward fallback under the 8-subspace floor") {
    assert(Pq.defaultM(64) == 8,   "historical 64D operating point")
    assert(Pq.defaultM(768) == 96, "~8 dims/subspace at 768D (8-bit PQ convention)")
    // r16 ADVICE: downward-only snap degraded awkward dims
    assert(Pq.defaultM(100) == 10, "down-snap from 12 lands at 10 (≥ floor)")
    assert(Pq.defaultM(127) == 127, "prime dim: scalar subspaces, not m=1")
  }

  test("residual ADC ordering equals its scalar reference (per-cell tables fold)") {
    // the folded literal tables (dot(q,cent) + cross(cent, cb) + shared
    // dot/norm) must reproduce cosine(q, centroid[cell] + decode(codes))
    // exactly — the algebra, not just the ranking
    val (cents, cb, combined) = graft.operators.IvfPq.materializedIndexAt(
      spark, IndexSource.table(spark, sfDir, "embeddings"), "embedding",
      "vec_id", dim, cells = 8, m = 4, k = 8)
    assert(combined.columns.sorted.toSeq == Seq("cell", "codes", "vec_id"))
    val q = functions.VectorFunctions.syntheticQuery(dim).toArray
    val (ord, asc) = Pq.adcOrderingResidual(col("codes"), col("cell"),
      q, cb, cents, "cosine")
    assert(!asc)
    val centOf = cents.toMap
    val sub = dim / 4
    combined.withColumn("__adc", ord).collect().foreach { r =>
      val cell = r.getInt(r.fieldIndex("cell"))
      val codes = r.getSeq[Int](r.fieldIndex("codes"))
      val vhat = centOf(cell).map(_.toDouble)
      for (i <- 0 until 4; t <- 0 until sub)
        vhat(i * sub + t) += cb(i)(codes(i))(t)
      val dot = vhat.zip(q).map { case (a, b) => a * b }.sum
      val n2 = vhat.map(x => x * x).sum
      val expected = if (n2 > 0) dot / math.sqrt(n2) else -2.0
      val got = r.getDouble(r.fieldIndex("__adc"))
      assert(math.abs(got - expected) < 1e-6,
        s"cell=$cell codes=$codes: adc=$got expected=$expected")
    }
  }

  test("pq via the language: exact reranked scores, filter-then-search") {
    val q = functions.VectorFunctions.syntheticQuery(dim)
    val c = new Compiler(spark, new Catalog(spark, sfDir), Map("q" -> q))
    val rows = c.run(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5 " +
        "WITH (quantization = 'pq', oversampling = 16)").collect()
    assert(rows.length == 5)
    // scores are EXACT cosines (rerank phase), not ADC approximations
    val byId = Knn.topK(emb, "embedding", q, emb.count().toInt, "cosine",
      idCol = "vec_id").select("vec_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(math.abs(r.getDouble(1) - byId(r.getLong(0))) < 1e-9)
    }
    // filter-then-search: a residual WHERE bounds the candidate pool
    val filtered = c.run(
      "SELECT vec_id, score FROM embeddings WHERE label = 3 AND vector NEAR $q " +
        "LIMIT 5 WITH (quantization = 'pq', oversampling = 16)").collect()
    val label3 = emb.where(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(filtered.nonEmpty && filtered.forall(r => label3(r.getLong(0))))
  }

  test("pq phase 1 plans the codegen ADC kernel over the narrow codes scan") {
    val q = functions.VectorFunctions.syntheticQuery(dim)
    val c = new Compiler(spark, new Catalog(spark, sfDir), Map("q" -> q))
    val df = c.run("SELECT vec_id, score FROM embeddings WHERE vector NEAR $q " +
      "LIMIT 5 WITH (quantization = 'pq', oversampling = 16)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pq_adc_score"),
      s"phase-1 ordering must be the codegen kernel, not a HOF chain:\n$plan")
    // the ordering input is the materialized residual-codes table — the
    // scan that feeds the kernel must read only its narrow columns
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(readSchemas.exists(s =>
      s.contains("codes") && s.contains("cell") && !s.contains("embedding")),
      s"expected a narrow (id, cell, codes) scan feeding ADC; schemas: $readSchemas")
  }

  test("pq validation: probing-mode conflict and unsupported metric fail loudly") {
    val q = functions.VectorFunctions.syntheticQuery(dim)
    val c = new Compiler(spark, new Catalog(spark, sfDir), Map("q" -> q))
    intercept[Exception] { // SemanticError via Graft.sql; raw IAE here
      c.run("SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5 " +
        "WITH (quantization = 'pq', mode = 'fast')")
    }
    val cb = Pq.train(emb, "embedding", dim, m = 4, k = 8)
    intercept[IllegalArgumentException] {
      Pq.adcOrdering(col("codes"), q.toArray, cb, "hamming")
    }
  }
}
