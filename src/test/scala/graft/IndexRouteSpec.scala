package graft

import graft.operators.{Ann, Hnsw, Ivf, IvfPq, Knn, Pq}
import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobMeter

/** Every ANN tier over every source shape, through the one maintenance
  * route ([[IndexSource]] → [[Materialize.pieces]]): a dataset table (one
  * piece), a bucketed collection with a delta and a delete, a flat
  * (`createIndex`'d) collection, a compacted one and one emptied by REST
  * `POST /empty`. Each tier must index exactly the visible rows. */
class IndexRouteSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-idxroute")
  private lazy val g = Graft(spark, tmp.toString)

  private def vec(i: Long, s: Double): Seq[Float] =
    (0 until 16).map(d => math.sin(i * s + d * 1.3).toFloat)

  /** A 4-bucket collection of 200 rows `(id, vec, label)`. */
  private def collection(name: String): Unit = {
    g.collections.create(name, idCol = "id", vectorCol = Some("vec"), buckets = 4)
    g.collections.upsert(name,
      (1L to 200L).map(i => (i, vec(i, 0.37), (i % 3).toInt)).toDF("id", "vec", "label"))
  }

  private final case class Shape(src: IndexSource, visible: DataFrame,
      vecCol: String, idCol: String, dim: Int)

  /** A collection name whose artifact and data paths a URI escapes. */
  private val Escaped = "my docs 50%off"

  private lazy val shapes: Seq[(String, Shape)] = {
    for (n <- Seq("bucketed", Escaped)) {
      collection(n)
      g.collections.upsert(n, (1L to 20L).map(i => (i, vec(i, 0.71), 2)).toDF("id", "vec", "label"))
      g.collections.delete(n, 21L to 25L)
    }
    collection("flat")
    g.collections.createIndex("flat", "Point", "label", "range")
    collection("compacted")
    g.collections.compact("compacted")
    collection("emptied")
    val srv = new RestServer(g, port = 0).start()
    try {
      val r = HttpClient.newHttpClient().send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/collections/emptied/empty"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
    } finally srv.stop()
    val table = Shape(IndexSource.table(spark, sfDir, "embeddings"),
      Tables.table(spark, sfDir, "embeddings"), "embedding", "vec_id", 64)
    ("dataset table" -> table) +: Seq("bucketed", Escaped, "flat", "compacted", "emptied").map { n =>
      n -> Shape(g.catalog.indexSource(n).get, g.collections.table(n).get, "vec", "id", 16)
    }
  }

  test("the source shapes are what they claim") {
    val s = shapes.toMap
    assert(s("dataset table").src.pieces.parts.size == 1)
    val bucketed = g.collections.readManifest("bucketed").get
    assert(bucketed.buckets == 4 && bucketed.segments.size == 2)
    assert(s("bucketed").src.pieces.parts.size == bucketed.entries.size + 1,
      "one piece per base bucket plus one per delta (a delete has no dir)")
    assert(s(Escaped).visible.select("id").as[Long].collect().sorted.toSeq ==
      ((1L to 20L) ++ (26L to 200L)), s"'$Escaped' holds the bucketed shape's rows")
    for (n <- Seq("flat", "compacted")) {
      assert(g.collections.readManifest(n).get.buckets == 0, s"$n is not flat")
      assert(s(n).src.pieces.parts.size == 1, s"$n: one piece per flat dir")
    }
    assert(s("emptied").src.pieces.parts.isEmpty && s("emptied").visible.isEmpty)
  }

  /** `graft-derived` entries of a token, temp copies excluded. */
  private def derivedOf(token: String): Seq[java.nio.file.Path] = {
    val t = Materialize.tokenKey(token)
    val derived = java.nio.file.Paths.get(s"${sys.props("java.io.tmpdir")}/graft-derived")
    Collections.children(derived).filter { p =>
      val n = p.getFileName.toString
      n.contains(s"t${t}__") && !n.contains(".tmp-")
    }
  }

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  for (name <- Seq("dataset table", "bucketed", Escaped, "flat", "compacted", "emptied")) {
    test(s"$name: every tier indexes exactly the visible rows") {
      val sh = shapes.toMap.apply(name)
      import sh._
      val q = functions.VectorFunctions.syntheticQuery(dim)
      val exact = Knn.topK(visible, vecCol, q, 10, "cosine", idCol)
        .select(idCol, "score").collect().toSeq
      // LSH at radius = planes probes every bucket: the exact top-k
      val lsh = Ann.search(Ann.materializedIndexAt(spark, src, vecCol, Ann.Planes, dim),
        vecCol, q, 10, Ann.Planes, radius = Ann.Planes, idCol = idCol)
      assert(lsh.select(idCol, "score").collect().toSeq == exact, "lsh")
      // IVF at nprobe = cells probes every cell: the exact top-k
      val (cents, cells) = Ivf.materializedIndexAt(spark, src, vecCol, Ivf.Cells)
      val ivf = Ivf.search(cells, vecCol, q, 10, cents, nprobe = Ivf.Cells, idCol = idCol)
      assert(ivf.select(idCol, "score").collect().toSeq == exact, "ivf")
      // IVF-PQ codes: the residual encoding of the visible rows
      val m = Pq.defaultM(dim)
      val (pqCents, cb, codes) = IvfPq.materializedIndexAt(spark, src, vecCol, idCol,
        dim, Ivf.Cells, m, Pq.K)
      assert(rows(codes, idCol, "cell", "codes") ==
        rows(Pq.encodeResidual(visible, vecCol, idCol, cb, pqCents), idCol, "cell", "codes"),
        "ivfpq codes")
      // HNSW: the graph over the visible IVF cells
      val (_, graph) = Hnsw.materializedIndexAt(spark, src, vecCol, idCol, "cosine", Ivf.Cells)
      val graphCols = Seq(idCol, "cell", "neighbors", "neighbors1", "level")
      assert(rows(graph, graphCols: _*) == rows(Hnsw.buildGraph(
        Ivf.buildIndex(visible, vecCol, cents).orderBy(idCol), vecCol, idCol, "cosine"),
        graphCols: _*), "hnsw graph")
      if (name == "emptied") {
        assert(exact.isEmpty && cells.isEmpty && codes.isEmpty && graph.isEmpty)
        for (w <- Seq("mode = 'accurate'", "mode = 'accurate', index = 'ivf'",
            "mode = 'accurate', index = 'hnsw'", "quantization = 'pq'",
            "mode = 'accurate', index = 'ivf', quantization = 'pq'"))
          assert(g.sql(s"SELECT id FROM emptied WHERE vector NEAR $$q LIMIT 5 WITH ($w)",
            Map("q" -> q)).collect().isEmpty, w)
      } else assert(exact.size == 10)
    }
  }

  test("HNSW cell graphs cached before a schema widening read null-filled") {
    collection("widened")
    val q = vec(500L, 0.37)
    def hnsw(cols: String) = g.sql(s"SELECT $cols FROM widened WHERE vector NEAR $$q " +
      "LIMIT 3 WITH (mode = 'accurate', index = 'hnsw')", Map("q" -> q)).collect()
    assert(hnsw("id").length == 3)
    // one delta row with a new column: only its cell's graph rebuilds
    g.collections.upsert("widened", Seq((500L, q, 1, "new")).toDF("id", "vec", "label", "tag"))
    val rows = hnsw("id, tag").map(r => r.getLong(0) -> Option(r.getString(1))).toSeq
    assert(rows.head == (500L -> Some("new")), rows)
    assert(rows.tail.forall(_._2.isEmpty), rows)
  }

  test("an upsert to a flat collection rebuilds its one piece; models stay") {
    collection("flatup")
    g.collections.createIndex("flatup", "Point", "label", "range")
    def entries(kind: String): Set[String] =
      derivedOf(s"${tmp}_col_flatup").map(_.getFileName.toString).filter(_.contains(kind)).toSet
    def build(): Unit = {
      val src = g.catalog.indexSource("flatup").get
      assert(src.pieces.parts.map(_.index) == Seq(0))
      Ivf.materializedIndexAt(spark, src, "vec", Ivf.Cells)
      IvfPq.materializedIndexAt(spark, src, "vec", "id", 16, Ivf.Cells, Pq.defaultM(16), Pq.K)
    }
    build()
    val (cents, books) = (entries("ivf8_centroids_flatup"), entries("_codebooks_flatup"))
    val (cells, codes) = (entries("ivf8_cells_p0_flatup"), entries("_codes_p0_flatup"))
    assert(Seq(cents, books, cells, codes).forall(_.size == 1))
    g.collections.upsert("flatup", Seq((7L, vec(7L, 0.9), 1)).toDF("id", "vec", "label"))
    assert(g.collections.readManifest("flatup").get.buckets == 0, "still flat")
    build()
    assert(entries("ivf8_centroids_flatup") == cents && entries("_codebooks_flatup") == books,
      "an upsert must not re-train the models")
    assert((entries("ivf8_cells_p0_flatup") -- cells).size == 1, "one new cell piece")
    assert((entries("_codes_p0_flatup") -- codes).size == 1, "one new code piece")
  }

  test("a refresh writes every missing piece in one job") {
    collection("pins")
    def src = g.catalog.indexSource("pins").get
    val first = JobMeter(spark)(Ann.materializedIndexAt(spark, src, "vec", Ann.Planes, 16))
    assert(src.pieces.parts.size == 4)
    assert((first.jobs, first.writes.size) == ((1L, 1)),
      "a fresh 4-bucket collection's first LSH build: (jobs, writes)")
    val m = Pq.defaultM(16)
    def hnsw() = Hnsw.materializedIndexAt(spark, src, "vec", "id", "cosine", Ivf.Cells)
    IvfPq.materializedIndexAt(spark, src, "vec", "id", 16, Ivf.Cells, m, Pq.K)
    hnsw()
    g.collections.upsert("pins", (300L until 310L).map(i => (i, vec(i, 0.37), 1))
      .toDF("id", "vec", "label"))
    for ((tier, refresh) <- Seq[(String, () => Any)](
        "lsh" -> (() => Ann.materializedIndexAt(spark, src, "vec", Ann.Planes, 16)),
        "ivf" -> (() => Ivf.materializedIndexAt(spark, src, "vec", Ivf.Cells)),
        "ivfpq" -> (() => IvfPq.materializedIndexAt(spark, src, "vec", "id", 16,
          Ivf.Cells, m, Pq.K)))) {
      val r = JobMeter(spark)(refresh())
      assert((r.jobs, r.writes.size) == ((1L, 1)), s"$tier one-delta refresh: (jobs, writes)")
    }
    // HNSW: the signature piece (one write job), the cell-hash aggregate
    // (its shuffle stage and the collect) and ONE write for every cell
    // graph the delta dirtied (buildGraph's cell shuffle and the write)
    val h = JobMeter(spark)(hnsw())
    assert((h.jobs, h.writes.size) == ((5L, 2)), "hnsw one-delta refresh: (jobs, writes)")
    // a one-id upsert moves one point: at most its old and new cell rebuild
    def graphs = derivedOf(s"${tmp}_col_pins").map(_.getFileName.toString)
      .filter(_.contains("hnswv2")).toSet
    val before = graphs
    g.collections.upsert("pins", Seq((5L, vec(5L, 0.91), 1)).toDF("id", "vec", "label"))
    Ivf.materializedIndexAt(spark, src, "vec", Ivf.Cells)
    val one = JobMeter(spark)(hnsw())
    val rebuilt = graphs -- before
    assert(rebuilt.nonEmpty && rebuilt.size <= 2 && one.writes.size == 2,
      s"rebuilt $rebuilt in ${one.writes.size - 1} graph writes")
  }

  test("index artifacts hold no zero-row file and at most one file per piece partition") {
    // a private copy of the dataset table: its own cache token, so the
    // check sees only artifacts this build wrote
    val dsDir = java.nio.file.Files.createTempDirectory("graft-idxroute-ds")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/embeddings.parquet"),
      dsDir.resolve("embeddings.parquet"))
    val all = Shape(IndexSource.table(spark, dsDir.toString, "embeddings"),
      Tables.table(spark, dsDir.toString, "embeddings"), "embedding", "vec_id", 64) +:
      Seq("bucketed", "flat", "compacted", "emptied").map(shapes.toMap)
    val conf = spark.sessionState.newHadoopConf()
    def rowsOf(f: java.nio.file.Path): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }
    for (sh <- all) {
      import sh._
      val m = Pq.defaultM(dim)
      Ann.materializedIndexAt(spark, src, vecCol, Ann.Planes, dim)
      Ivf.materializedIndexAt(spark, src, vecCol, Ivf.Cells)
      IvfPq.materializedIndexAt(spark, src, vecCol, idCol, dim, Ivf.Cells, m, Pq.K)
      Hnsw.materializedIndexAt(spark, src, vecCol, idCol, "cosine", Ivf.Cells)
      val partitions = src.pieces.parts.map(p =>
        p.index -> spark.read.parquet(p.dir.toString).rdd.getNumPartitions).toMap
      for (d <- derivedOf(src.token) if java.nio.file.Files.isDirectory(d)) {
        val files = Collections.children(d).filter(_.getFileName.toString.endsWith(".parquet"))
        // a piece artifact: one file per input partition of its piece; a
        // cell graph: one file (the walk relies on it); a model: no cap
        val name = d.getFileName.toString
        val cap = "_p(\\d+)_".r.findFirstMatchIn(name).map(p => partitions(p.group(1).toInt))
          .orElse(Option.when(name.contains("hnswv2"))(1))
        cap.foreach(c => assert(files.size <= c, s"$d holds ${files.size} files, cap $c"))
        // an index artifact never holds a zero-row file; a model trained
        // on no rows keeps the one schema-carrying file an empty write leaves
        val counts = files.map(rowsOf)
        if (cap.isDefined || counts.exists(_ > 0))
          assert(counts.forall(_ > 0), s"zero-row file in $d: ${files.zip(counts)}")
      }
    }
    Collections.deleteRec(dsDir)
  }
}
