package graft

/** r15 review findings on the analytics operators, pinned. */
class OperatorsHardeningSpec extends SparkSpecBase {
  import spark.implicits._

  test("bfsVarLength rejects non-positive depth instead of NPEing") {
    val e = Seq((1L, 2L, "x")).toDF("src", "dst", "label")
    val s = Seq(1L).toDF("start")
    for (bad <- Seq(0, -1, 11))
      intercept[IllegalArgumentException](
        operators.Graph.bfsVarLength(e, s, bad))
  }

  test("Knn.batch with no queries returns an empty frame, not reduce-on-empty") {
    val df = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val out = operators.Knn.batch(df, "vec", Nil, k = 5)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq == Seq("query_id", "id", "score"))
  }

  test("embeddingNearDupLsh degrades to empty output on an empty slice") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "vec")
    val out = operators.Dedup.embeddingNearDupLsh(empty, "vec", "id", 0.9)
    assert(out.collect().isEmpty)
  }

  test("IVF cell assignments follow the model epoch") {
    // the cells cache key must carry the MODEL stamp — a key on the data
    // sources only served assignments computed under retired centroids
    // after a retrain (r15 review finding)
    val token = s"hardspec-${System.nanoTime()}"
    def epochFile(n: Int): java.nio.file.Path = {
      val p = java.nio.file.Files.createTempFile("graft-epoch-", ".txt")
      java.nio.file.Files.writeString(p, f"$n%020d " + "x" * (n % 97))
      p
    }
    val table = IndexSource.table(spark, sfDir, "embeddings")
    val keys = table.keys.asInstanceOf[IndexSource.Shared].copy(token = token)
    def cellsArtifacts(): Int = {
      val parent = java.nio.file.Paths.get(
        s"${sys.props("java.io.tmpdir")}/graft-derived")
      val s = java.nio.file.Files.list(parent)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(p =>
          p.getFileName.toString.contains("ivf4_cells_p0_embeddings") &&
            p.getFileName.toString.contains(token) &&
            !p.getFileName.toString.contains(".tmp-"))
      } finally s.close()
    }
    operators.Ivf.materializedIndexAt(spark,
      table.copy(keys = keys.copy(stamp = keys.stamp :+ epochFile(1))), "embedding", k = 4)
    val afterFirst = cellsArtifacts()
    assert(afterFirst >= 1)
    operators.Ivf.materializedIndexAt(spark,
      table.copy(keys = keys.copy(stamp = keys.stamp :+ epochFile(2))), "embedding", k = 4)
    assert(cellsArtifacts() > afterFirst,
      "retrained model did not produce a fresh cell-assignment artifact")
  }

  test("CheckpointBlocks.unpersist frees a checkpoint under a Project") {
    val ck = (1 to 100).map(i => (i.toLong, i.toString)).toDF("id", "v")
      .localCheckpoint(true)
    val projected = ck.drop("v") // the components/lpaCommunities shape
    def persisted = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    org.apache.spark.sql.graft.CheckpointBlocks.unpersist(projected, blocking = true)
    assert(persisted == before - 1,
      s"Project-over-checkpoint was not freed (before=$before after=$persisted)")
  }
}
