package graft

import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobMeter
import org.apache.spark.sql.types._

/** The delta-segment layout ([[Collections.FrameManifest]]): a write
  * publishes one small delta dir (or, for a delete, only ids) over an
  * untouched base, and reads layer them newest-first. Every case here
  * must read back exactly what a full rewrite reads — same rows, same
  * schema. The points reference is a second collection with a range
  * index, which takes the full-rewrite path on every write; the edges
  * reference is a model of merge-by-id kept in the test. */
class DeltaLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-delta-$tag").toString

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect().map(_.toString).toSeq.sorted
  }

  /** Base (`-g`) and delta (`-d`) data dirs of a frame. */
  private def dataDirs(dir: String, name: String, frame: String): Set[String] =
    Collections.children(java.nio.file.Paths.get(dir, name)).map(_.getFileName.toString)
      .filter(n => n.startsWith(s"$frame-g") || n.startsWith(s"$frame-d")).toSet

  test("points: the delta layout reads exactly what a full rewrite reads") {
    val dir = tmpDir("points")
    val cols = new Collections(spark, dir)
    cols.create("d", buckets = 4)
    cols.create("f", buckets = 4)
    // an index puts "f" on the full-rewrite path for every write
    cols.createIndex("f", "Point", "id", "range")
    def both(op: String => Unit): Unit = { op("d"); op("f") }
    def segments: Int = cols.readManifest("d").get.segments.size
    def same(step: String, c: Collections = cols): Unit = {
      val d = c.table("d").get
      val f = cols.table("f").get
      assert(d.schema == f.schema, s"$step: schema ${d.schema} vs ${f.schema}")
      assert(rows(d) == rows(f), s"$step: rows differ")
    }
    def up(data: Seq[(java.lang.Long, String, java.lang.Long)]): DataFrame =
      data.toDF("id", "payload", "score")

    both(cols.upsert(_, up((1L to 200L).map(i => (Long.box(i), s"v$i", Long.box(i))))))
    same("base")
    assert(segments == 0 && cols.readManifest("d").get.rows.contains(200L))

    both(cols.upsert(_, up(Seq((Long.box(3L), "u3", Long.box(30L)),
      (Long.box(201L), "u201", Long.box(2010L))))))
    assert(segments == 1, "an upsert publishes one delta segment")
    same("upsert")

    both(cols.delete(_, Seq(4L, 5L, 201L)))
    assert(segments == 2, "a delete publishes one id-only segment")
    same("delete")

    both(cols.upsert(_, up(Seq((Long.box(3L), "u3b", Long.box(31L))))))
    same("re-upsert of the same id")

    both(cols.upsert(_, up(Seq((Long.box(4L), "u4", Long.box(40L)),
      (Long.box(201L), "u201b", Long.box(2011L))))))
    same("delete then re-upsert")

    both(cols.upsert(_, up(Seq((Long.box(7L), "first", Long.box(1L)),
      (Long.box(7L), "second", Long.box(2L))))))
    same("within-batch duplicate ids")
    assert(cols.get("d", Seq(7L)).select("payload").as[String].collect().toSeq ==
      Seq("second"), "the later row of a batch wins")

    both(cols.upsert(_, up(Seq((null, "n1", Long.box(1L)), (null, "n2", Long.box(2L)),
      (Long.box(8L), "u8", Long.box(80L))))))
    same("null ids")
    both(cols.delete(_, Seq(9L)))
    same("a delete keeps null-id rows")

    both(cols.upsert(_, Seq((10L, "w10", 100L, 7L)).toDF("id", "payload", "score", "extra")))
    same("schema widening")
    assert(cols.get("d", Seq(11L)).select("extra").first().isNullAt(0))
    val widened = segments

    both(cols.upsert(_, Seq((12L, "t12", 1.5)).toDF("id", "payload", "score")))
    same("type change")
    assert(segments == 0 && widened > 0, "a type change folds into a full rewrite")

    // 200 base rows fold past 40 superseded ids
    both(cols.upsert(_, Seq((13L, "s13", 2.5)).toDF("id", "payload", "score")))
    assert(segments == 1)
    both(cols.upsert(_, (14L to 60L).map(i => (i, s"f$i", i * 0.5)).toDF("id", "payload", "score")))
    assert(segments == 0, "crossing the fold threshold rewrites the base")
    same("fold")
    both(cols.delete(_, Seq(20L)))
    assert(segments == 1)
    same("delete after a fold")

    same("a fresh Collections over the same dir", new Collections(spark, dir))
    Collections.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("edges: the delta layout reads exactly what merge-by-id gives, auto ids included") {
    val dir = tmpDir("edges")
    val cols = new Collections(spark, dir)
    cols.create("g", buckets = 4)
    // the model: id -> (src, dst, label, weight)
    val model = scala.collection.mutable.Map[Long, (Long, Long, String, Double)]()
    def segments: Int = cols.readManifest("g", "edges").get.segments.size
    def check(step: String, c: Collections = cols): Unit = {
      val e = c.edges("g").get
      assert(e.schema.map(f => f.name -> f.dataType) == Seq("id" -> LongType,
        "src" -> LongType, "dst" -> LongType, "label" -> StringType,
        "weight" -> DoubleType), s"$step: schema ${e.schema}")
      val got = e.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))).toSeq
      assert(got.map(_._1).distinct.size == got.size, s"$step: duplicate edge ids")
      assert(got.toMap == model.toMap, s"$step: edges differ")
    }
    def put(es: Seq[(Long, Long, Long, String, Double)]): Unit = {
      cols.upsertEdges("g", es.toDF("id", "src", "dst", "label", "weight"))
      es.foreach { case (i, s, d, l, w) => model(i) = (s, d, l, w) }
    }

    put((1L to 100L).map(i => (i, i, i + 1, if (i % 2 == 0) "a" else "b", i * 0.1)))
    check("base")
    assert(segments == 0)

    put(Seq((5L, 9L, 9L, "a", 0.5), (101L, 1L, 2L, "b", 1.0)))
    assert(segments == 1, "an edge upsert publishes one delta segment")
    check("upsert")
    // the delta file is sorted by (label, src) like the base
    val delta = cols.readManifest("g", "edges").get.segments.last.dir.get
    val deltaRows = spark.read.parquet(java.nio.file.Paths.get(dir, "g", delta).toString)
      .select("label", "src").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(deltaRows == deltaRows.sorted)

    cols.deleteEdges("g", Seq(6L, 101L))
    Seq(6L, 101L).foreach(model.remove)
    assert(segments == 2, "an edge delete publishes one id-only segment")
    check("delete")

    put(Seq((6L, 3L, 4L, "b", 0.6)))
    check("delete then re-upsert")
    put(Seq((5L, 7L, 7L, "b", 0.7)))
    check("re-upsert of the same id")

    cols.upsertEdges("g", Seq((8L, 1L, 1L, "a", 0.1), (8L, 2L, 2L, "a", 0.2))
      .toDF("id", "src", "dst", "label", "weight"))
    model(8L) = (2L, 2L, "a", 0.2)
    check("within-batch duplicate ids")

    // auto ids start above the stored max (101 was deleted: 100 stands)
    // and above the batch's explicit max
    cols.upsertEdges("g", Seq((Some(103L), 1L, 5L, "c", 1.5), (None, 2L, 5L, "c", 2.5),
      (None, 3L, 5L, "c", 3.5)).toDF("id", "src", "dst", "label", "weight"))
    model(103L) = (1L, 5L, "c", 1.5)
    model(104L) = (2L, 5L, "c", 2.5)
    model(105L) = (3L, 5L, "c", 3.5)
    check("auto ids")
    val id = JobMeter(spark)(cols.upsertEdges("g",
      Seq((9L, 9L, "c", 9.5)).toDF("src", "dst", "label", "weight")))
    model(106L) = (9L, 9L, "c", 9.5)
    check("auto ids without an id column")
    assert(id.jobs >= 3, "id-less rows pay the stored-max job")

    val explicitOnly = JobMeter(spark)(put(Seq((7L, 1L, 9L, "a", 0.9))))
    assert(explicitOnly.jobs < id.jobs,
      s"explicit ids skip the stored-max job: ${explicitOnly.jobs} vs ${id.jobs}")
    check("explicit ids")

    // 100 base rows fold past 20 superseded ids
    assert(segments > 0 && cols.readManifest("g", "edges").get.segmentIds < 20)
    put((30L to 45L).map(i => (i, 4L, 4L, "b", 4.0)))
    assert(segments == 0, "crossing the fold threshold rewrites the base")
    check("fold")
    put(Seq((46L, 5L, 5L, "a", 5.0)))
    assert(segments == 1)
    check("a fresh Collections over the same dir", new Collections(spark, dir))

    // widening, then a type change: the full-rewrite fallback
    cols.upsertEdges("g", Seq((10L, 1L, 2L, "a", 1.0, 3L))
      .toDF("id", "src", "dst", "label", "weight", "extra"))
    assert(cols.edges("g").get.where(col("id") === 11L).select("extra").first().isNullAt(0))
    assert(cols.edges("g").get.where(col("id") === 10L).select("extra").first().getLong(0) == 3L)
    val before = segments
    cols.upsertEdges("g", Seq((12L, 1L, 2L, "a", 1.0, 4.5))
      .toDF("id", "src", "dst", "label", "weight", "extra"))
    assert(before > 0 && segments == 0, "a type change folds into a full rewrite")
    assert(cols.edges("g").get.where(col("id") === 10L).select("extra").first().getDouble(0) == 3.0)
    Collections.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("job and file pins: a delete runs no job, an upsert adds one data dir") {
    val dir = tmpDir("pins")
    val cols = new Collections(spark, dir)
    cols.create("c", buckets = 4)
    cols.upsert("c", (1L to 500L).map(i => (i, s"v$i")).toDF("id", "payload"))
    val del = JobMeter(spark)(cols.delete("c", Seq(17L)))
    assert(del.jobs == 0, s"a single-id delete ran ${del.jobs} jobs")
    assert(cols.get("c", Seq(17L)).count() == 0)

    val before = dataDirs(dir, "c", "points")
    cols.upsert("c", (1000L until 1050L).map(i => (i, s"n$i")).toDF("id", "payload"))
    val added = dataDirs(dir, "c", "points") -- before
    assert(added.size == 1 && (before -- dataDirs(dir, "c", "points")).isEmpty,
      s"a 50-point upsert must add exactly one data dir, added $added")
    assert(cols.count("c") == 549)

    cols.upsertEdges("c", (1L to 200L).map(i => (i, i, i + 1, "e")).toDF("id", "src", "dst", "label"))
    val edgeDel = JobMeter(spark)(cols.deleteEdges("c", Seq(3L)))
    assert(edgeDel.jobs == 0, s"a single-id edge delete ran ${edgeDel.jobs} jobs")
    val eBefore = dataDirs(dir, "c", "edges")
    cols.upsertEdges("c", (300L until 320L).map(i => (i, 1L, 2L, "e")).toDF("id", "src", "dst", "label"))
    assert((dataDirs(dir, "c", "edges") -- eBefore).size == 1)
    assert(cols.edges("c").get.count() == 219)
    Collections.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("REST exact kNN over deltas is still one job, one stage, no shuffle") {
    val dir = tmpDir("rest")
    val g = Graft(spark, dir)
    val r = new scala.util.Random(3)
    def vec(): Seq[Float] = Seq.fill(4)(r.nextFloat())
    g.collections.create("v", idCol = "id", vectorCol = Some("vector"), buckets = 4)
    g.collections.upsert("v", (1L to 400L).map(i => (i, vec())).toDF("id", "vector"))
    // the REST points route casts to array<float>, which admits null
    // elements where the bulk load declared none: still an upsert delta
    g.collections.upsert("v", (1L to 10L).map(i => (i, vec())).toDF("id", "vector")
      .withColumn("vector", col("vector").cast("array<float>")))
    g.collections.delete("v", Seq(20L))
    assert(g.collections.readManifest("v").get.segments.size == 2)
    val srv = new RestServer(g, port = 0).start()
    val client = HttpClient.newHttpClient()
    def post(json: String): String = {
      val resp = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/collections/v/search"))
        .POST(HttpRequest.BodyPublishers.ofString(json))
        .header("Content-Type", "application/json").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body().take(300))
      resp.body()
    }
    try {
      post("""{"vector": [0.1, 0.2, 0.3, 0.4], "top_k": 10}""")
      val knn = JobMeter(spark)(post("""{"vector": [0.4, 0.3, 0.2, 0.1], "top_k": 10}"""))
      assert((knn.jobs, knn.stages, knn.shuffleBytes) == ((1L, 1L, 0L)),
        "POST search over deltas: (jobs, stages, shuffle bytes)")
      val exact = graft.operators.Knn.topK(g.collections.table("v").get, "vector",
        Seq(0.4f, 0.3f, 0.2f, 0.1f), 10, "cosine", idCol = "id")
        .select("id").as[Long].collect().toSeq
      val got = "\"id\":(\\d+)".r.findAllMatchIn(knn.value).map(_.group(1).toLong).toSeq
      assert(got == exact && !got.contains(20L))
    } finally {
      srv.stop()
      Collections.deleteRec(java.nio.file.Paths.get(dir))
    }
  }

  test("edge grace retention is COUNT-capped: an edge storm cannot retain unbounded copies") {
    def storm(cap: Int): Int = {
      val dir = tmpDir(s"edgecap$cap")
      val cols = new Collections(spark, dir,
        generationGraceMs = 600000L, graceRetainMax = cap)
      cols.create("c", buckets = 2)
      (1 to 12).foreach(i => cols.upsertEdges("c",
        Seq((i.toLong, 1L, 2L, "x")).toDF("id", "src", "dst", "label")))
      assert(cols.edges("c").get.count() == 12)
      val n = dataDirs(dir, "c", "edges").count(_.startsWith("edges-g"))
      Collections.deleteRec(java.nio.file.Paths.get(dir))
      n
    }
    // capped: ≤ cap grace-held base dirs + the bases the 2 retained
    // manifests reference; uncapped: one full copy per rewrite survives
    // the whole window
    val capped = storm(3)
    val uncapped = storm(1000)
    assert(capped <= 3 + 4, s"storm retained $capped edge dirs (cap 3 + ≤4 referenced)")
    assert(uncapped > capped, s"cap had no effect: capped=$capped uncapped=$uncapped")
  }
}
