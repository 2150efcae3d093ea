package graft

import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Collection-level storage mode (reference `StorageMode::{Full,SQ8,
  * Binary}`, collection/types.rs:32-61, quantization.rs:20-29): the
  * quantization regime is fixed at create time and becomes the default
  * for every NEAR on that collection; a per-query WITH still overrides. */
class StorageModeSpec extends SparkSpecBase {

  private def freshGraft(): Graft = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-storagemode").toString
    Graft(spark, tmp)
  }

  private def seed(g: Graft, name: String, mode: Option[String]): Unit = {
    import spark.implicits._
    g.collections.create(name, idCol = "id", vectorCol = Some("vec"),
      storageMode = mode)
    val rows = (1L to 50L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 0.37 + d * 1.3).toFloat))
    }
    g.collections.upsert(name, rows.toDF("id", "vec"))
  }

  private val q = (0 until 8).map(d => math.cos(d * 0.7).toFloat)

  private def run(g: Graft, sql: String): Seq[(Long, Double)] =
    g.sql(sql, Map("q" -> q)).select("id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("sq8 storage mode routes bare NEAR through the int8 path; WITH overrides") {
    val g = freshGraft()
    seed(g, "quantized", Some("sq8"))
    seed(g, "fullcol", None)
    val bare = run(g, "SELECT id, score FROM quantized WHERE vector NEAR $q LIMIT 5")
    val explicitSq8 = run(g,
      "SELECT id, score FROM quantized WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'sq8')")
    val overridden = run(g,
      "SELECT id, score FROM quantized WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'full')")
    val exact = run(g, "SELECT id, score FROM fullcol WHERE vector NEAR $q LIMIT 5")
    // the default IS the declared mode
    assert(bare == explicitSq8, s"bare $bare vs explicit sq8 $explicitSq8")
    // explicit WITH restores the exact path
    assert(overridden == exact, s"override $overridden vs exact $exact")
    // and the sq8 regime actually computed approximate scores
    assert(bare.map(_._2) != exact.map(_._2),
      "sq8 scores should differ from exact (dequantization error)")
  }

  test("pq storage mode routes bare NEAR through the codes index (beyond-ref)") {
    import spark.implicits._
    val g = freshGraft()
    // dim 16 (Pq.defaultM(16) = 8 subspaces); 200 rows so codebooks train
    g.collections.create("pqcol", idCol = "id", vectorCol = Some("vec"),
      storageMode = Some("pq"))
    val rows = (1L to 200L).map { i =>
      (i, (0 until 16).map(d => math.sin(i * 0.37 + d * 1.3).toFloat))
    }
    g.collections.upsert("pqcol", rows.toDF("id", "vec"))
    val q16 = (0 until 16).map(d => math.cos(d * 0.7).toFloat)
    def run16(sql: String): Seq[(Long, Double)] =
      g.sql(sql, Map("q" -> q16)).select("id", "score")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val bare = run16("SELECT id, score FROM pqcol WHERE vector NEAR $q LIMIT 5")
    val explicitPq = run16(
      "SELECT id, score FROM pqcol WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'pq')")
    val exact = run16(
      "SELECT id, score FROM pqcol WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'full')")
    assert(bare == explicitPq, s"bare $bare vs explicit pq $explicitPq")
    // PQ reranks exactly, so every returned (id, score) matches the
    // exact score for that id even when the candidate set differs
    val exactById = exact.toMap
    bare.foreach { case (id, sc) =>
      exactById.get(id).foreach(e => assert(math.abs(e - sc) < 1e-9))
    }
    // an explicitly requested probing tier the implicit pq can't compose
    // with (LSH) must WORK (the implicit default yields), not error
    val probed = run16(
      "SELECT id, score FROM pqcol WHERE vector NEAR $q LIMIT 5 WITH (mode = 'accurate')")
    assert(probed.nonEmpty)
    // an EXPLICIT pq + LSH probing still conflicts loudly
    val e = intercept[Exception] {
      run16("SELECT id FROM pqcol WHERE vector NEAR $q LIMIT 5 " +
        "WITH (mode = 'accurate', quantization = 'pq')")
    }
    assert(e.getMessage.contains("index='ivf'"))
  }

  test("f16/bf16 kernels match IEEE half-precision constants") {
    import graft.functions.VectorKernels._
    // binary16 nearest to 0.1 is 0x2E66 = 0.0999755859375
    assert(f16RoundScalar(0.1f) == java.lang.Float.intBitsToFloat(0x3DCCC000))
    assert(f16RoundScalar(1.0f) == 1.0f)
    assert(f16RoundScalar(-2.5f) == -2.5f) // exactly representable
    assert(f16RoundScalar(65504f) == 65504f) // max normal half
    // 65520 is halfway to the next grid point — round-to-even → Inf
    assert(f16RoundScalar(65520f).isPosInfinity)
    assert(f16RoundScalar(-65520f).isNegInfinity)
    val minSub = java.lang.Math.scalb(1.0f, -24) // smallest subnormal half
    assert(f16RoundScalar(minSub) == minSub)
    assert(f16RoundScalar(minSub / 2) == 0.0f) // halfway → even → 0
    assert(f16RoundScalar(minSub * 1.5f) == minSub * 2) // halfway → even → 2u
    assert(f16RoundScalar(Float.NaN).isNaN)
    // bfloat16 nearest to 0.1 is 0x3DCD0000 = 0.10009765625
    assert(bf16RoundScalar(0.1f) == java.lang.Float.intBitsToFloat(0x3DCD0000))
    assert(bf16RoundScalar(1.0f) == 1.0f)
    assert(bf16RoundScalar(3.3895314E38f) == 3.3895314E38f) // bf16 max normal
    assert(bf16RoundScalar(Float.MaxValue).isPosInfinity) // rounds past max → Inf
    assert(bf16RoundScalar(Float.NaN).isNaN)
    // idempotence: a rounded value is a fixpoint (publish-path safety)
    val probe = Seq(0.1f, -0.37f, 1e-6f, 123.456f, 65504f, minSub * 3)
    probe.foreach { f =>
      assert(f16RoundScalar(f16RoundScalar(f)) == f16RoundScalar(f))
      assert(bf16RoundScalar(bf16RoundScalar(f)) == bf16RoundScalar(f))
    }
  }

  test("f16 storage mode rounds vectors at write; NEAR scores the rounded values") {
    import spark.implicits._
    val g = freshGraft()
    seed(g, "halfcol", Some("f16"))
    seed(g, "fullcol2", None)
    // stored vectors ARE the f16-rounded values
    val stored = g.collections.table("halfcol").get
      .orderBy("id").limit(1).select("vec").collect()(0).getSeq[Float](0)
    val expected = (0 until 8).map(d =>
      graft.functions.VectorKernels.f16RoundScalar(
        math.sin(1 * 0.37 + d * 1.3).toFloat))
    assert(stored == expected)
    // bare NEAR is the exact f32 path over those rounded values —
    // same ids as the full twin, scores shifted by the precision loss
    val half = run(g, "SELECT id, score FROM halfcol WHERE vector NEAR $q LIMIT 5")
    val full = run(g, "SELECT id, score FROM fullcol2 WHERE vector NEAR $q LIMIT 5")
    assert(half.map(_._1) == full.map(_._1))
    assert(half.map(_._2) != full.map(_._2),
      "f16 rounding should move cosine scores")
    half.zip(full).foreach { case ((_, hs), (_, fs)) =>
      assert(math.abs(hs - fs) < 1e-3, s"f16 error too large: $hs vs $fs")
    }
    // quantized tiers compose on top of the rounded store
    val sk = run(g,
      "SELECT id, score FROM halfcol WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'binary')")
    assert(sk.nonEmpty)
    // bf16 collection works end-to-end too
    seed(g, "bhalf", Some("bf16"))
    val b1 = g.collections.table("bhalf").get
      .orderBy("id").limit(1).select("vec").collect()(0).getSeq[Float](0)
    assert(b1 == (0 until 8).map(d =>
      graft.functions.VectorKernels.bf16RoundScalar(
        math.sin(1 * 0.37 + d * 1.3).toFloat)))
    // bare WITH (rerank=true) on a half-precision collection keeps its
    // sketch-prefilter two-phase meaning (f16 drops like 'full' in the
    // quantization-default resolution) — identical to an explicit
    // binary sketch request, NOT a silent exact scan
    val viaRerank = run(g,
      "SELECT id, score FROM halfcol WHERE vector NEAR $q LIMIT 5 WITH (rerank = true)")
    val viaBinary = run(g,
      "SELECT id, score FROM halfcol WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'binary', oversampling = 2)")
    assert(viaRerank == viaBinary)
    // f16/bf16 are storage modes, not read-time quantization regimes:
    // an explicit WITH quantization='f16' is a loud error anywhere
    val e = intercept[graft.velesql.SemanticError](run(g,
      "SELECT id FROM fullcol2 WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'f16')"))
    assert(e.getMessage.contains("quantization"))
  }

  test("create validates the mode; REST create persists and reports it") {
    val g = freshGraft()
    intercept[IllegalArgumentException] {
      g.collections.create("bad", storageMode = Some("int4"))
    }
    val srv = new RestServer(g, port = 0).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val client = HttpClient.newHttpClient()
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      assert(post("/collections",
        """{"name": "sq8col", "vector_col": "vec", "storage_mode": "sq8"}""")
        .statusCode() == 200)
      assert(g.collections.storageModeOf("sq8col").contains("sq8"))
      val info = get("/collections/sq8col")
      assert(info.statusCode() == 200 && info.body().contains("\"storage_mode\":\"sq8\""))
      assert(post("/collections",
        """{"name": "badcol", "storage_mode": "int4"}""").statusCode() == 400)
      // pq is a valid storage mode over REST too (engine accepts it)
      assert(post("/collections",
        """{"name": "pqrest", "vector_col": "vec", "storage_mode": "pq"}""")
        .statusCode() == 200)
      assert(g.collections.storageModeOf("pqrest").contains("pq"))
      // a graph_schema that is not a JSON object must 400, not silently
      // create the collection schemaless
      val strAsSchema = post("/collections",
        """{"name": "gstr", "graph_schema": "{\"schemaless\": false}"}""")
      assert(strAsSchema.statusCode() == 400 &&
        strAsSchema.body().contains("JSON object"), strAsSchema.body())
      // nonsense numeric search fields are 400s, not Spark 500s
      val vec = (0 until 8).map(i => math.sin(i * 0.3).toFloat)
      val badOs = post("/collections/sq8col/search",
        s"""{"vector": [${vec.mkString(", ")}], "top_k": 3,
           | "quantization": "binary", "oversampling": -1}""".stripMargin)
      assert(badOs.statusCode() == 400 &&
        badOs.body().contains("positive"), badOs.body())
    } finally srv.stop()
  }
}
