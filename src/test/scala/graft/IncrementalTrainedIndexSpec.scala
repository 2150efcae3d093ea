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

  /** The `tier` artifacts in the collection's own subtree. */
  private def entries(g: Graft, tier: String, colName: String): Set[String] = {
    val home = g.collections.indexHome(colName)
    if (!java.nio.file.Files.exists(home)) Set.empty
    else Collections.children(home).map(_.getFileName.toString)
      .filter(n => n.startsWith(s"$tier.") && !n.contains(".tmp-")).toSet
  }

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

    val centsBefore = entries(g, "ivf8_centroids", colName)
    val booksBefore = entries(g, "ivfpqr8_8x256_codebooks", colName)
    val cellsBefore = entries(g, "ivf8_cells", colName)
    val codesBefore = entries(g, "ivfpqr8_8x256_codes", colName)
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
    assert(entries(g, "ivf8_centroids", colName) == centsBefore,
      "publish must not re-train centroids")
    assert(entries(g, "ivfpqr8_8x256_codebooks", colName) == booksBefore,
      "publish must not re-train codebooks")
    // encodings: exactly 1 new piece each (the delta's; every base
    // piece's artifact stays with its dir)
    assert(cellsBefore.subsetOf(entries(g, "ivf8_cells", colName)))
    assert((entries(g, "ivf8_cells", colName) -- cellsBefore).size == 1,
      s"expected 1 rebuilt cell piece, got ${entries(g, "ivf8_cells", colName) -- cellsBefore}")
    assert((entries(g, "ivfpqr8_8x256_codes", colName) -- codesBefore).size == 1,
      s"expected 1 rebuilt code piece, got ${entries(g, "ivfpqr8_8x256_codes", colName) -- codesBefore}")

    // retrain: the epoch bump re-trains the model on current content
    assert(g.collections.retrainIndexes(colName) == 1L)
    assert(run("mode = 'accurate', index = 'ivf'").nonEmpty)
    assert((entries(g, "ivf8_centroids", colName) -- centsBefore).size == 1,
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

  test("the startup sweep deletes aged retired kinds, counts/ and orphaned keys, nothing else") {
    // a private flat root: every retired kind, the `counts/` sidecar dir,
    // an old-layout collection artifact (`<dir>_col_<name>` names no
    // dir) and a subtree of a collection dir that is gone, all aged past
    // grace, beside a current kind of a live dataset dir, another live
    // token's artifact, a subtree of a live dir and one young orphan
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("graft-sweep")
    val ds = Files.createTempDirectory("graft-sweep-ds").toString
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - Collections.DefaultGraceMs - 60000L)
    def mk(name: String, old: Boolean = true): Path = {
      val p = Files.createDirectories(root.resolve(name))
      Files.createFile(p.resolve("part-0.parquet"))
      if (old) Files.setLastModifiedTime(p, aged)
      p
    }
    def v4(kind: String, token: String): String = {
      val t = Materialize.tokenKey(token)
      s"v4_${kind.length}k${kind}_${t.length}t${t}__deadbeef"
    }
    Files.createDirectories(root.resolve("c"))
    val garbage = Seq(
      mk(v4("hnswv2m8s16c8_embeddings_c3", ds)), mk(v4("hnswsig2v8_embeddings", ds)),
      mk(v4("pq8x32_codes_p0_embeddings", ds)), mk(v4("ivfpq8_8x32_codes_embeddings", ds)),
      mk("counts"), mk(v4("lsh6_p3_docs", s"${ds}_col_docs")),
      mk(s"c/${Materialize.tokenKey(s"$ds/gone")}"))
    val kept = Seq(
      mk(v4("ivfpqr8_8x256_codes_p0_embeddings", ds)),
      mk(v4("lsh6_p0_embeddings", sfDir)),
      mk(s"c/${Materialize.tokenKey(ds)}"),
      mk(v4("lsh6_p3_docs", s"${ds}_col_young"), old = false))
    try {
      Materialize.sweep(root, Collections.DefaultGraceMs)
      garbage.foreach(p => assert(!Files.exists(p), s"$p survived the sweep"))
      kept.foreach(p => assert(Files.exists(p), s"$p was swept"))
    } finally Seq(root, java.nio.file.Paths.get(ds)).foreach(Collections.deleteRec)
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
