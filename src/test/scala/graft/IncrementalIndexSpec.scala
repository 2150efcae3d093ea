package graft

import org.apache.spark.sql.functions._

/** Incremental LSH index maintenance over the bucketed collection layout
  * (`pieces` of [[graft.operators.Ann.materializedIndexAt]]): an upsert that
  * re-points K storage buckets must rebuild exactly K index pieces on
  * the next indexed query — the index-side twin of the partition-pruned
  * merge (reference in-place index insert, native_index.rs:317). */
class IncrementalIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private val derivedRoot =
    java.nio.file.Paths.get(s"${sys.props("java.io.tmpdir")}/graft-derived")

  private def pieceDirs(colName: String): Set[String] =
    if (!java.nio.file.Files.exists(derivedRoot)) Set.empty
    else Collections.children(derivedRoot).map(_.getFileName.toString)
      .filter(n => n.contains("lsh6_p") && n.contains(s"_$colName") &&
        !n.contains(".tmp-")).toSet

  test("an upsert rebuilds only the touched bucket's index piece") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-incidx").toString
    val g = Graft(spark, tmp)
    val colName = s"ivec${System.nanoTime() % 100000}" // unique piece-cache namespace
    g.collections.create(colName, idCol = "id", vectorCol = Some("vec"),
      buckets = 8)
    val rows = (1L to 200L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 0.37 + d * 1.3).toFloat))
    }
    g.collections.upsert(colName, rows.toDF("id", "vec"))
    val q = (0 until 8).map(d => math.cos(d * 0.7).toFloat)
    def search(): Seq[Long] =
      g.sql(s"SELECT id, score FROM $colName WHERE vector NEAR $$q LIMIT 5 " +
        "WITH (mode = 'fast')", Map("q" -> q))
        .select("id").collect().map(_.getLong(0)).toSeq

    search() // builds all 8 pieces
    val before = pieceDirs(colName)
    assert(before.size == 8, s"expected 8 piece caches, got ${before.size}: $before")

    // a 1-row upsert re-points exactly one storage bucket
    g.collections.upsert(colName,
      Seq((1L, (0 until 8).map(d => math.cos(1 * 0.37 + d * 1.3).toFloat)))
        .toDF("id", "vec"))
    val exactAfter = graft.operators.Knn.topK(
      g.collections.table(colName).get, "vec", q, 5, "cosine", idCol = "id")
      .select("id").collect().map(_.getLong(0)).toSeq
    val got = search()
    val after = pieceDirs(colName)
    // 7 pieces unchanged (same cache dirs), exactly 1 new piece; the old
    // piece of the rewritten bucket survives one cycle (Materialize
    // retention), so the count grows by exactly 1
    assert(before.subsetOf(after), s"untouched pieces must survive: ${before -- after}")
    assert((after -- before).size == 1,
      s"expected exactly 1 rebuilt piece, got ${(after -- before).size}")
    // fast-tier results still come from the (partial) probe — assert the
    // probed subset relation against the exact top-k universe
    assert(got.toSet.subsetOf(
      graft.operators.Knn.topK(g.collections.table(colName).get, "vec", q, 200,
        "cosine", idCol = "id").select("id").collect().map(_.getLong(0)).toSet))
    assert(exactAfter.nonEmpty)
    Collections.deleteRec(java.nio.file.Paths.get(tmp))
  }
}
