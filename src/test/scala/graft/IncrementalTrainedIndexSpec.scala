package graft

import org.apache.spark.sql.functions._

/** Epoch-frozen trained-index maintenance (r11 VERDICT ask #2): IVF
  * centroids / PQ codebooks are corpus statistics and
  * FREEZE per collection epoch — a publish re-encodes only its touched
  * buckets against the frozen model (file-level asserts below), and
  * only [[Collections.retrainIndexes]] re-trains. Reference analog: the
  * in-place index update on insert (index/hnsw/native_index.rs:317) —
  * per-batch index upkeep bounded by the batch, not the collection.
  */
class IncrementalTrainedIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val derivedRoot =
    java.nio.file.Paths.get(s"${sys.props("java.io.tmpdir")}/graft-derived")

  private def entries(sub: String, colName: String): Set[String] =
    if (!java.nio.file.Files.exists(derivedRoot)) Set.empty
    else Collections.children(derivedRoot).map(_.getFileName.toString)
      .filter(n => n.contains(sub) && n.contains(colName) &&
        !n.contains(".tmp-")).toSet

  private def vec(i: Long): Seq[Float] =
    (0 until 16).map { d =>
      var z = i * 0x9E3779B97F4A7C15L + d * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (((z >>> 11).toDouble / (1L << 53).toDouble) - 0.5).toFloat
    }

  test("a publish re-encodes only touched buckets; models stay frozen; retrain re-trains") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-trainidx").toString
    val g = Graft(spark, tmp)
    val colName = s"tvec${System.nanoTime() % 100000}"
    g.collections.create(colName, idCol = "id", vectorCol = Some("vec"),
      buckets = 8)
    g.collections.upsert(colName,
      (1L to 200L).map(i => (i, vec(i))).toDF("id", "vec"))
    val q = vec(9999L)
    def run(opts: String): Seq[Long] =
      g.sql(s"SELECT id, score FROM $colName WHERE vector NEAR $$q LIMIT 5 " +
        s"WITH ($opts)", Map("q" -> q))
        .select("id").collect().map(_.getLong(0)).toSeq

    // build all three trained tiers once
    assert(run("mode = 'accurate', index = 'ivf'").nonEmpty)
    assert(run("quantization = 'pq', oversampling = 4").nonEmpty)
    assert(run("mode = 'accurate', index = 'hnsw'").nonEmpty)

    val centsBefore = entries(s"ivf8_centroids_$colName", colName)
    val booksBefore = entries(s"ivfpqr8_8x256_codebooks_$colName", colName)
    val cellsBefore = entries("ivf8_cells_p", colName)
    val codesBefore = entries("ivfpqr8_8x256_codes_p", colName)
    assert(centsBefore.size == 1, s"one frozen centroid table: $centsBefore")
    assert(booksBefore.size == 1, s"one frozen codebook table: $booksBefore")
    assert(cellsBefore.size == 8, s"8 cell-assignment pieces: $cellsBefore")
    assert(codesBefore.size == 8, s"8 code pieces: $codesBefore")

    // a 1-row upsert re-points exactly one storage bucket
    g.collections.upsert(colName, Seq((7L, vec(7777L))).toDF("id", "vec"))
    assert(run("mode = 'accurate', index = 'ivf'").nonEmpty)
    assert(run("quantization = 'pq', oversampling = 4").nonEmpty)
    assert(run("mode = 'accurate', index = 'hnsw'").nonEmpty)

    // models FROZEN: no new centroid/codebook materialization
    assert(entries(s"ivf8_centroids_$colName", colName) == centsBefore,
      "publish must not re-train centroids")
    assert(entries(s"ivfpqr8_8x256_codebooks_$colName", colName) == booksBefore,
      "publish must not re-train codebooks")
    // encodings: exactly 1 new piece each (old piece survives one
    // Materialize retention cycle)
    assert(cellsBefore.subsetOf(entries("ivf8_cells_p", colName)))
    assert((entries("ivf8_cells_p", colName) -- cellsBefore).size == 1,
      s"expected 1 rebuilt cell piece, got ${entries("ivf8_cells_p", colName) -- cellsBefore}")
    assert((entries("ivfpqr8_8x256_codes_p", colName) -- codesBefore).size == 1,
      s"expected 1 rebuilt code piece, got ${entries("ivfpqr8_8x256_codes_p", colName) -- codesBefore}")

    // retrain: the epoch bump re-trains the model on current content
    assert(g.collections.retrainIndexes(colName) == 1L)
    assert(run("mode = 'accurate', index = 'ivf'").nonEmpty)
    assert((entries(s"ivf8_centroids_$colName", colName) -- centsBefore).size == 1,
      "retrain must produce a new centroid generation")

    // correctness: the probed ivf results are a subset of the exact
    // top-k universe over current content
    val exact = graft.operators.Knn.topK(g.collections.table(colName).get,
      "vec", q, 200, "cosine", idCol = "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(run("mode = 'accurate', index = 'ivf'").toSet.subsetOf(exact))

    // delete EVERY point: buckets remain in the manifest but carry no
    // rows — the hnsw tier's index is legitimately empty, not a crash
    g.collections.delete(colName, (1L to 200L))
    assert(run("mode = 'accurate', index = 'hnsw'").isEmpty,
      "an emptied collection must return zero hits, not error")
    Collections.deleteRec(java.nio.file.Paths.get(tmp))
  }

  test("retireKinds reclaims renamed-kind artifacts, spares current kinds and other tokens") {
    // r17 review finding: pruneStaleSiblings can't see across a kind
    // rename, so the pq*→ivfpqr* upgrade would strand every r16-era
    // codes table in the temp dir forever without this sweep
    java.nio.file.Files.createDirectories(derivedRoot)
    val tok = s"sweeptok${System.nanoTime() % 100000}"
    def mk(kind: String, token: String): java.nio.file.Path = {
      val p = derivedRoot.resolve(
        s"v4_${kind.length}k${kind}_${token.length}t${token}__deadbeef")
      java.nio.file.Files.createDirectories(p)
      p
    }
    val old1 = mk("pq8x32_codes_p3_c1", tok)
    val old2 = mk("ivfpq8_8x32_codes_c1", tok)
    val cur = mk("ivfpqr8_8x256_codes_c1", tok)
    val otherTok = mk("pq8x32_codes_p3_c1", tok + "x")
    val otherName = mk("pq8x32_codes_p3_c2", tok)
    try {
      Materialize.retireKinds(tok, s"spec_${System.nanoTime()}")(k =>
        k.endsWith("_c1") && (k.startsWith("pq") ||
          (k.startsWith("ivfpq") && !k.startsWith("ivfpqr"))))
      assert(!java.nio.file.Files.exists(old1), "retired pq kind must be swept")
      assert(!java.nio.file.Files.exists(old2), "retired ivfpq kind must be swept")
      assert(java.nio.file.Files.exists(cur), "current ivfpqr kind must survive")
      assert(java.nio.file.Files.exists(otherTok), "other tokens untouched")
      assert(java.nio.file.Files.exists(otherName), "other collections untouched")
    } finally Seq(cur, otherTok, otherName, old1, old2)
      .foreach(p => if (java.nio.file.Files.exists(p)) Collections.deleteRec(p))
  }

  test("payload-only upsert dirties its hnsw cell (no stale graph)") {
    // r12 ADVICE (high): the per-cell signature hashed only (id, vector),
    // so a same-vector payload change left the cell hash unchanged and
    // the cached graph kept serving the OLD payload to residual WHERE
    // predicates and SELECTed columns. sig2 hashes every column.
    val tmp = java.nio.file.Files.createTempDirectory("graft-hnswpay").toString
    val g = Graft(spark, tmp)
    val colName = s"pvec${System.nanoTime() % 100000}"
    g.collections.create(colName, idCol = "id", vectorCol = Some("vec"),
      buckets = 4)
    g.collections.upsert(colName,
      (1L to 60L).map(i => (i, vec(i), s"old$i")).toDF("id", "vec", "tag"))
    val q = vec(5L) // near id=5 so it lands in top-k
    def hits(): Map[Long, String] =
      g.sql(s"SELECT id, tag FROM $colName WHERE vector NEAR $$q LIMIT 5 " +
        "WITH (mode = 'accurate', index = 'hnsw')", Map("q" -> q))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = hits()
    assert(first.get(5L).contains("old5"), s"expected id=5 in top-5: $first")
    // same id, SAME vector, new payload — only the payload column moves
    g.collections.upsert(colName, Seq((5L, vec(5L), "new5")).toDF("id", "vec", "tag"))
    val second = hits()
    assert(second.get(5L).contains("new5"),
      s"payload-only upsert must be visible through the hnsw tier: $second")
    // residual predicate over the updated payload must see the new value
    val filtered = g.sql(
      s"SELECT id FROM $colName WHERE vector NEAR $$q AND tag = 'new5' LIMIT 5 " +
        "WITH (mode = 'accurate', index = 'hnsw')", Map("q" -> q))
      .collect().map(_.getLong(0)).toSet
    assert(filtered == Set(5L), s"residual WHERE must see new payload: $filtered")
    Collections.deleteRec(java.nio.file.Paths.get(tmp))
  }
}
