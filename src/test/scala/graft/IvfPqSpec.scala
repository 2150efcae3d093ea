package graft

import graft.operators.{Dedup, IvfPq}
import graft.velesql.{Catalog, Compiler}
import org.apache.spark.sql.functions._

/** IVF-PQ composed tier (beyond-reference V8+V11): coarse cell probe +
  * narrow-codes ADC + exact rerank, `WITH (mode=…, index='ivf',
  * quantization='pq')`. Recall is oracle-pinned by q139_ivfpq_recall;
  * these specs pin structure, pruning, and validation. Plus the
  * decontamination operator (q140's engine). */
class IvfPqSpec extends SparkSpecBase {

  private val dim = 64
  private lazy val emb = Tables.table(spark, sfDir, "embeddings")

  private def run(vql: String) = {
    val q = functions.VectorFunctions.syntheticQuery(dim)
    new Compiler(spark, new Catalog(spark, sfDir), Map("q" -> q)).run(vql)
  }

  test("combined index is (id, cell, codes) and cells agree with IVF") {
    val (cents, cb, combined) = IvfPq.materializedIndexAt(spark,
      IndexSource.table(spark, sfDir, "embeddings"), "embedding", "vec_id",
      dim, cells = 8, m = 8, k = 32)
    assert(combined.columns.sorted.toSeq == Seq("cell", "codes", "vec_id"),
      "phase-1 must scan the narrow combined table only")
    assert(cents.length == 8 && cb.length == 8)
    val cellVals = combined.select("cell").distinct().collect().map(_.getInt(0))
    assert(cellVals.forall(c => c >= 0 && c < 8))
  }

  test("ivfpq phase 1 prunes unprobed cells (pushed cell filter)") {
    val df = run("SELECT vec_id, score FROM embeddings WHERE vector NEAR $q " +
      "LIMIT 10 WITH (mode = 'fast', index = 'ivf', quantization = 'pq')")
    val plan = df.queryExecution.executedPlan.toString
    // the codes-table scan must carry the cell membership filter — at
    // cluster scale that is the row-group/partition pruning
    assert(plan.contains("cell#") && (plan.contains("cell#") && plan.contains("IN (") || plan.contains("In(cell")),
      s"expected a cell membership filter in:\n$plan")
    assert(df.collect().length == 10)
  }

  test("ivfpq agrees with the exact top-k on most of the accurate tier") {
    val approx = run("SELECT vec_id FROM embeddings WHERE vector NEAR $q " +
      "LIMIT 10 WITH (mode = 'accurate', index = 'ivf', quantization = 'pq')")
    val exact = run("SELECT vec_id FROM embeddings WHERE vector NEAR $q " +
      "LIMIT 10 WITH (mode = 'perfect')")
    val inter = approx.join(exact, "vec_id").count()
    assert(inter >= 8, s"accurate-tier ivfpq recall too low: $inter/10")
  }

  test("ivfpq scores are exact (rerank) and filter-then-search holds") {
    val filtered = run("SELECT vec_id, score FROM embeddings WHERE label = 3 " +
      "AND vector NEAR $q LIMIT 5 " +
      "WITH (mode = 'accurate', index = 'ivf', quantization = 'pq')").collect()
    val label3 = emb.where(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(filtered.nonEmpty && filtered.forall(r => label3(r.getLong(0))))
    // exact rerank: the returned score equals the true metric score
    val q = functions.VectorFunctions.syntheticQuery(dim)
    val byId = emb.select(col("vec_id"),
        graft.functions.VectorFunctions.cosine_sim(col("embedding"),
          graft.functions.VectorFunctions.vecLit(q)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    filtered.foreach(r =>
      assert(math.abs(r.getDouble(1) - byId(r.getLong(0))) < 1e-9))
  }

  test("pq with a probing mode but no ivf index fails loudly") {
    val e = intercept[Exception] {
      run("SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5 " +
        "WITH (quantization = 'pq', mode = 'fast')")
    }
    assert(e.getMessage.contains("index='ivf'"))
  }

  test("contamination finds planted cross-split gram overlaps; dfCap drops boilerplate") {
    val docs = Tables.table(spark, sfDir, "documents")
    val grams = Dedup.wordGrams(docs, 3)
    val train = grams.where(col("doc_id") % 97 =!= 0)
    val bench = grams.where(col("doc_id") % 97 === 0)
    val hits = Dedup.contamination(train, bench)
    val rows = hits.collect()
    assert(rows.nonEmpty, "expected at least one contaminated train doc")
    // every reported doc must genuinely share a gram with the bench split
    val benchGrams = bench.select("g").distinct().collect().map(_.getString(0)).toSet
    val trainByDoc = train.collect().groupBy(_.getLong(0))
    rows.foreach { r =>
      val shared = trainByDoc(r.getLong(0)).map(_.getString(1)).count(benchGrams)
      assert(shared == r.getLong(1), s"doc ${r.getLong(0)}: $shared vs ${r.getLong(1)}")
    }
    // a df cap of 1 keeps only globally-unique grams → no overlap survives
    assert(Dedup.contamination(train, bench, dfCap = Some(1L)).count() == 0)
  }
}
