package graft

import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions.col

/** Integration tests for the REST façade (S8) — real HTTP round-trips
  * against an ephemeral-port server over the sf0.001 test tables.
  * Route + shape contract: velesdb-server/src/lib.rs:74-124, types.rs. */
class RestServerSpec extends SparkSpecBase {

  private lazy val g = Graft(spark, sfDir)
  private lazy val srv = new RestServer(g, port = 0).start()
  private lazy val base = { val p = srv.boundPort; s"http://127.0.0.1:$p" }
  private val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
  private def delete(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /collections/:name/indexes/retrain bumps the trained-index epoch") {
    // this spec's Graft roots at the READ-ONLY test dataset dir, so the
    // throwaway collection must not outlive the test (r12: leaked rt*
    // dirs were contaminating /root/testdata)
    val cn = s"rt${System.nanoTime % 100000}"
    g.collections.create(cn)
    try {
      val r = post(s"/collections/$cn/indexes/retrain", "{}")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"index_epoch\":1"), r.body())
      val r2 = post(s"/collections/$cn/indexes/retrain", "{}")
      assert(r2.body().contains("\"index_epoch\":2"), r2.body())
      assert(g.collections.indexEpoch(cn) == 2L)
      assert(post("/collections/rt_no_such/indexes/retrain", "{}").statusCode() == 404)
    } finally g.collections.drop(cn)
  }

  test("search rejects non-numeric vector elements (jackson coerces text to 0.0)") {
    val r = post("/collections/documents/search",
      """{"vector": ["n", "o", "t"], "top_k": 2}""")
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("vector"), r.body())
  }

  test("GET /health") {
    val r = get("/health")
    assert(r.statusCode() == 200 && r.body().contains("\"ok\""))
  }

  test("keep-alive GET /health round trips do not wait on delayed ACKs") {
    // with Nagle on, the body write of every response waited ~40 ms for
    // the client's delayed ACK of the header write (median ≈ 44 ms)
    assert(get("/health").statusCode() == 200) // connection is open
    val ms = Seq.fill(20) {
      val t0 = System.nanoTime()
      assert(get("/health").statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    assert(ms(ms.size / 2) < 20.0, s"GET /health round trips (ms): ${ms.mkString(", ")}")
  }

  test("REST rows render byte-identically to Dataset.toJSON") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val payload = StructType(Seq(StructField("text", StringType),
      StructField("price", DoubleType), StructField("missing", LongType)))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("sid", StringType),
      StructField("payload", payload),
      StructField("vector", ArrayType(FloatType)),
      StructField("tags", MapType(StringType, IntegerType)),
      StructField("nested", StructType(Seq(StructField("xs",
        ArrayType(StructType(Seq(StructField("b", LongType), StructField("c", StringType)))))))),
      StructField("ts", TimestampType), StructField("d", DateType),
      StructField("dec", DecimalType(20, 4)), StructField("f", FloatType)))
    val rows = Seq(
      Row(1L, "0123", Row("quote \" back\\ nl\n é ☃", 9.5, null),
        Seq(0.25f, -1.5f, Float.NaN), Map("a" -> 1, "b" -> null),
        Row(Seq(Row(7L, null), null)),
        java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456"),
        java.sql.Date.valueOf("1969-12-31"), BigDecimal("-12345.6789").bigDecimal,
        Float.PositiveInfinity),
      Row(-9L, null, Row(null, Double.NaN, null), null, Map.empty[String, Int],
        Row(null), null, null, null, Float.NegativeInfinity),
      Row(Long.MaxValue, "", null, Seq.empty[Float], null, null,
        new java.sql.Timestamp(0L), java.sql.Date.valueOf("2000-01-01"),
        BigDecimal("0.0001").bigDecimal, Float.NaN),
      Row(3L, "x", Row("", Double.PositiveInfinity, 4L), Seq(Float.MinPositiveValue),
        Map("k" -> -1), Row(Seq.empty[Row]), null, null,
        BigDecimal("9999999999999999.9999").bigDecimal, -0.0f),
      Row(4L, "y", Row("z", Double.NegativeInfinity, null), null, null, null,
        null, null, null, 1e-45f))
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    for (df <- Seq(frame, frame.orderBy(col("id").desc).limit(3),
        frame.select(col("id"), col("payload")), frame.where(col("id") < -100L)))
      assert(RestServer.jsonRows(df).toSeq == df.toJSON.collect().toSeq)
    assert(RestServer.jsonRows(frame.where(col("id") < -100L)).isEmpty)
  }

  test("r15 REST hardening: reject-not-coerce + scope 404s") {
    // non-numeric point id is a 400, not a silent null-id row
    val cn = s"rh${System.nanoTime % 100000}"
    g.collections.create(cn)
    try {
      val bad = post(s"/collections/$cn/points",
        """{"points":[{"id":"not-a-number","vector":[1.0,0.0]}]}""")
      assert(bad.statusCode() == 400, bad.body())
      val noId = post(s"/collections/$cn/points",
        """{"points":[{"vector":[1.0,0.0]}]}""")
      assert(noId.statusCode() == 400, noId.body())
      // edge with a non-numeric id is a 400, not a silent auto-assign
      val badEdge = post(s"/collections/$cn/graph/edges",
        """{"edges":[{"id":"5","source":1,"target":2,"label":"x"}]}""")
      assert(badEdge.statusCode() == 400, badEdge.body())
    } finally g.collections.drop(cn)
    // graph routes 404 on names that exist nowhere (they used to answer
    // from the derived dataset graph)
    assert(get("/collections/no_such_thing/graph/nodes/5/degree")
      .statusCode() == 404)
    assert(post("/collections/no_such_thing/graph/pagerank", "{}")
      .statusCode() == 404)
    // ...but dataset tables keep the derived-graph scope
    assert(get("/collections/documents/graph/nodes/5/degree")
      .statusCode() == 200)
    // edge-listing limit is validated (used to 500 via Dataset.limit(-4))
    assert(get("/collections/documents/graph/edges?label=placed&limit=-5")
      .statusCode() == 400)
    // multi-search strategy is a closed set (no raw splice into VelesQL)
    val badStrat = post("/collections/embeddings/search/multi",
      """{"vectors":[[1.0]],"strategy":"rrf' LIMIT 1 --"}""")
    assert(badStrat.statusCode() == 400, badStrat.body().take(200))
  }

  test("string-id collections: point GET and DELETE work over REST") {
    val cn = s"sid${System.nanoTime % 100000}"
    g.collections.create(cn)
    try {
      import spark.implicits._
      g.collections.upsert(cn,
        Seq(("doc-abc", 1.5), ("doc-xyz", 2.5)).toDF("id", "v"))
      val r = get(s"/collections/$cn/points/doc-abc")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("doc-abc"))
      val d = delete(s"/collections/$cn/points/doc-abc")
      assert(d.statusCode() == 200, d.body())
      // string ids are quoted on the wire; numeric ids stay JSON numbers
      // (r15 ADVICE — always-quoting regressed {"id":123} clients)
      assert(d.body().contains(""""id":"doc-abc""""), d.body())
      assert(get(s"/collections/$cn/points/doc-abc").statusCode() == 404)
      assert(get(s"/collections/$cn/points/doc-xyz").statusCode() == 200)
      // numeric-LOOKING string ids: dispatch follows the id COLUMN's
      // type, not the path segment's lexical shape — "0123" must resolve
      // by string equality and echo byte-identically quoted, never as
      // the JSON number 123 (r16 ADVICE)
      g.collections.upsert(cn,
        Seq(("0123", 3.5), ("+5", 4.5)).toDF("id", "v"))
      assert(get(s"/collections/$cn/points/0123").statusCode() == 200)
      val d2 = delete(s"/collections/$cn/points/0123")
      assert(d2.statusCode() == 200, d2.body())
      assert(d2.body().contains(""""id":"0123""""), d2.body())
      assert(get(s"/collections/$cn/points/0123").statusCode() == 404)
      val d3 = delete(s"/collections/$cn/points/+5")
      assert(d3.body().contains(""""id":"+5""""), d3.body())
      assert(get(s"/collections/$cn/points/+5").statusCode() == 404)
    } finally g.collections.drop(cn)
  }

  test("POST /analytics/events: batch and stream modes return identical rows") {
    // canonical row strings: fields sorted, numerics rounded 6dp (double
    // sums may differ in the last ulp between any two plans)
    def canonRows(body: String): Seq[String] = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      import scala.jdk.CollectionConverters._
      m.readTree(body).get("results").elements().asScala.map { row =>
        row.properties().asScala.toSeq.sortBy(_.getKey).map { e =>
          val v = e.getValue
          s"${e.getKey}=${if (v.isNumber) f"${v.asDouble}%.6f" else v.asText}"
        }.mkString(",")
      }.toSeq.sorted
    }
    for (op <- Seq("window", "sessions", "attribution")) {
      val byMode = Seq("batch", "stream").map { mode =>
        val r = post("/analytics/events",
          s"""{"op":"$op","mode":"$mode","limit":100000}""")
        assert(r.statusCode() == 200, s"$op/$mode: ${r.body().take(400)}")
        assert(r.body().contains(s""""mode":"$mode""""), r.body().take(200))
        mode -> canonRows(r.body())
      }.toMap
      assert(byMode("batch").nonEmpty, s"$op returned no rows")
      assert(byMode("batch") == byMode("stream"),
        s"$op: batch/stream rows diverge\n batch=${byMode("batch").take(3)}\n stream=${byMode("stream").take(3)}")
    }
    // error surface: unknown op / unknown mode / bad duration / bad
    // limit are 400s, not 500s
    assert(post("/analytics/events", """{"op":"nope"}""").statusCode() == 400)
    assert(post("/analytics/events",
      """{"op":"sessions","mode":"sideways"}""").statusCode() == 400)
    val badDur = post("/analytics/events",
      """{"op":"sessions","params":{"gap":"13 parsecs"}}""")
    assert(badDur.statusCode() == 400, badDur.body().take(200))
    assert(post("/analytics/events",
      """{"op":"sessions","limit":-1}""").statusCode() == 400)
  }

  test("POST /query runs VelesQL with params and returns the unified shape") {
    val vec = graft.functions.VectorFunctions.syntheticQuery(64)
      .mkString("[", ",", "]")
    val r = post("/query",
      s"""{"query": "SELECT vec_id, score FROM embeddings WHERE vector NEAR $$q LIMIT 5",
         | "params": {"q": $vec}}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"type\":\"search\""))
    assert(r.body().contains("\"count\":5"))
    assert(r.body().contains("\"vec_id\""))
  }

  test("POST search with the JSON filter condition DSL (SearchRequest.filter)") {
    // {"condition": {...}} lowers to a parameterized VelesQL WHERE and
    // runs filter-then-NEAR (reference search_with_filter)
    val vec = (0 until 64).map(i => math.sin(i * 0.7).toFloat)
    val body =
      s"""{"vector": [${vec.mkString(", ")}], "top_k": 5,
         | "filter": {"condition": {"type": "and", "conditions": [
         |   {"type": "in", "field": "label", "values": [1, 2]},
         |   {"type": "gte", "field": "vec_id", "value": 0}]}}}""".stripMargin
    val r = post("/collections/embeddings/search", body)
    assert(r.statusCode() == 200, r.body())
    val ids = """"id":(\d+)""".r.findAllMatchIn(r.body()).map(_.group(1).toLong).toSeq
    assert(ids.nonEmpty && ids.size <= 5)
    // every hit satisfies the filter
    val lab12 = Tables.table(spark, sfDir, "embeddings")
      .where(org.apache.spark.sql.functions.col("label").isin(1, 2))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.forall(lab12), s"hits outside filter: ${ids.filterNot(lab12)}")
    // malformed filter → 400, unknown type → 400
    assert(post("/collections/embeddings/search",
      s"""{"vector": [${vec.mkString(", ")}], "filter": {"nope": 1}}""")
      .statusCode() == 400)
    assert(post("/collections/embeddings/search",
      s"""{"vector": [${vec.mkString(", ")}],
         | "filter": {"condition": {"type": "regex", "field": "x"}}}""".stripMargin)
      .statusCode() == 400)
    // repeated identical requests serve through the compiled-plan memo:
    // the route compiles via Graft.sql, so the second round-trip must
    // not re-run the compiler (r11 VERDICT ask #8)
    val r2a = post("/collections/embeddings/search", body)
    val cAfterWarm = g.compileCount.get()
    val r2b = post("/collections/embeddings/search", body)
    assert(r2b.statusCode() == 200, r2b.body())
    assert(g.compileCount.get() == cAfterWarm,
      "identical search request must hit the plan memo, not recompile")
    def idsOf(b: String) =
      """"id":(\d+)""".r.findAllMatchIn(b).map(_.group(1).toLong).toSeq
    assert(idsOf(r2a.body()) == idsOf(r2b.body()))
    // batch items carry per-item filters (q57 semantics over HTTP)
    val batch = post("/collections/embeddings/search/batch",
      s"""{"searches": [
         |  {"vector": [${vec.mkString(", ")}], "top_k": 3,
         |   "filter": {"condition": {"type": "eq", "field": "label", "value": 1}}},
         |  {"vector": [${vec.mkString(", ")}], "top_k": 3}]}""".stripMargin)
    assert(batch.statusCode() == 200, batch.body())
    val lab1 = Tables.table(spark, sfDir, "embeddings")
      .where(org.apache.spark.sql.functions.col("label") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // item 1's three hits serialize first; item 2 is unfiltered
    val firstIds = """"id":(\d+)""".r.findAllMatchIn(batch.body())
      .map(_.group(1).toLong).toSeq.take(3)
    assert(firstIds.size == 3 && firstIds.forall(lab1), batch.body().take(400))
    // hybrid honors vector_weight and the filter
    val hy = post("/collections/corpus/search/hybrid",
      s"""{"query": "merge parquet", "vector": [${vec.mkString(", ")}],
         | "top_k": 5, "vector_weight": 0.8,
         | "filter": {"condition": {"type": "is_not_null", "field": "doc_id"}}}""".stripMargin)
    assert(hy.statusCode() == 200, hy.body().take(400))
    assert(post("/collections/corpus/search/hybrid",
      s"""{"query": "x", "vector": [${vec.mkString(", ")}], "vector_weight": 1.5}""")
      .statusCode() == 400)
    // text search accepts the filter too (filter-then-score, T3)
    val txt = post("/collections/documents/search/text",
      """{"query": "merge parquet", "top_k": 5,
        | "filter": {"condition": {"type": "gte", "field": "n_chars", "value": 100}}}""".stripMargin)
    assert(txt.statusCode() == 200, txt.body().take(300))
  }

  test("POST /collections/embeddings/search returns id/score/payload rows") {
    val vec = graft.functions.VectorFunctions.syntheticQuery(64)
      .mkString("[", ",", "]")
    val r = post("/collections/embeddings/search",
      s"""{"vector": $vec, "top_k": 3}""")
    assert(r.statusCode() == 200, r.body())
    val hits = "\"id\":".r.findAllIn(r.body()).length
    assert(hits == 3, s"expected 3 results, body: ${r.body().take(300)}")
    assert(r.body().contains("\"score\":") && r.body().contains("\"payload\":{"))
  }

  test("POST /collections/documents/search/text runs BM25 via the language") {
    val r = post("/collections/documents/search/text",
      """{"query": "spark stream", "top_k": 4}""")
    assert(r.statusCode() == 200, r.body())
    assert("\"id\":".r.findAllIn(r.body()).length == 4, r.body().take(300))
  }

  test("collection CRUD round-trip over HTTP") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rest").toString
    val g2 = Graft(spark, tmp)
    val s2 = new RestServer(g2, port = 0).start()
    try {
      val b = s"http://127.0.0.1:${s2.boundPort}"
      def send(r: HttpRequest): HttpResponse[String] =
        client.send(r, HttpResponse.BodyHandlers.ofString())
      val created = send(HttpRequest.newBuilder(URI.create(s"$b/collections"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name": "notes", "id_col": "id", "vector_col": "embedding"}""")).build())
      assert(created.statusCode() == 200 && created.body().contains("created"))
      val listed = send(HttpRequest.newBuilder(URI.create(s"$b/collections")).GET().build())
      assert(listed.body().contains("notes"))
      val flushed = send(HttpRequest.newBuilder(URI.create(s"$b/collections/notes/flush"))
        .POST(HttpRequest.BodyPublishers.noBody()).build())
      assert(flushed.statusCode() == 200 && flushed.body().contains("flushed"))
      val dropped = send(HttpRequest.newBuilder(URI.create(s"$b/collections/notes"))
        .DELETE().build())
      assert(dropped.statusCode() == 200 && dropped.body().contains("deleted"))
      val relisted = send(HttpRequest.newBuilder(URI.create(s"$b/collections")).GET().build())
      assert(!relisted.body().contains("notes"))
    } finally s2.stop()
  }

  test("GET empty is the is_empty check; POST empty clears points AND edges") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rest-empty").toString
    val g2 = Graft(spark, tmp)
    val s2 = new RestServer(g2, port = 0).start()
    try {
      val b = s"http://127.0.0.1:${s2.boundPort}"
      def p(path: String, body: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      def get2(path: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      p("/collections", """{"name": "g", "id_col": "id"}""")
      // reference parity: GET /collections/{n}/empty is the is_empty CHECK
      assert(get2("/collections/g/empty").body().contains("\"is_empty\":true"))
      p("/collections/g/points",
        """{"points": [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]}""")
      p("/collections/g/graph/edges",
        """{"edges": [{"id": 7, "source": 1, "target": 2, "label": "knows"}]}""")
      assert(get2("/collections/g/empty").body().contains("\"is_empty\":false"))
      assert(get2("/collections/g/graph/edges/7").statusCode() == 200)
      // POST empty clears BOTH frames: a kept edge frame would let MATCH
      // traverse dangling edges against an empty node set
      assert(p("/collections/g/empty", "").statusCode() == 200)
      assert(get2("/collections/g/empty").body().contains("\"is_empty\":true"))
      assert(get2("/collections/g/graph/edges/7").statusCode() == 404)
    } finally s2.stop()
  }

  test("points upsert/get/delete round-trip, then vector search sees the data") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rest-pts").toString
    val g2 = Graft(spark, tmp)
    val s2 = new RestServer(g2, port = 0).start()
    try {
      val b = s"http://127.0.0.1:${s2.boundPort}"
      def p(path: String, body: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      def get2(path: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      p("/collections", """{"name": "pts", "vector_col": "embedding"}""")
      val up = p("/collections/pts/points",
        """{"points": [
          |  {"id": 1, "vector": [1.0, 0.0], "payload": {"tag": "a"}},
          |  {"id": 2, "vector": [0.0, 1.0], "payload": {"tag": "b"}},
          |  {"id": 3, "vector": [0.9, 0.1], "payload": {"tag": "a"}}]}""".stripMargin)
      assert(up.statusCode() == 200 && up.body().contains("\"upserted\":3"), up.body())
      val got = get2("/collections/pts/points/2")
      assert(got.statusCode() == 200 && got.body().contains("\"tag\":\"b\""), got.body())
      // nearest to [1, 0] must be id 1 then id 3
      val sr = p("/collections/pts/search", """{"vector": [1.0, 0.0], "top_k": 2}""")
      assert(sr.statusCode() == 200, sr.body())
      val ids = "\"id\":(\\d+)".r.findAllMatchIn(sr.body()).map(_.group(1)).toSeq
      assert(ids == Seq("1", "3"), sr.body().take(300))
      val del = client.send(HttpRequest.newBuilder(URI.create(s"$b/collections/pts/points/1"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 200)
      // numeric id stays a JSON number on the wire (r15 ADVICE)
      assert(del.body().contains(""""id":1"""), del.body())
      assert(get2("/collections/pts/points/1").statusCode() == 404)
      // empty: remaining points removed, collection still listed
      val emp = p("/collections/pts/empty", "")
      assert(emp.statusCode() == 200 && emp.body().contains("emptied"), emp.body())
      assert(get2("/collections/pts/points/2").statusCode() == 404)
      assert(get2("/collections").body().contains("pts"))
    } finally s2.stop()
  }

  test("POST /collections/{n}/search/batch and /query/explain") {
    val vec = graft.functions.VectorFunctions.syntheticQuery(64).mkString("[", ",", "]")
    val br = post("/collections/embeddings/search/batch",
      s"""{"searches": [{"vector": $vec, "top_k": 2}, {"vector": $vec, "top_k": 3}]}""")
    assert(br.statusCode() == 200, br.body())
    assert("\"id\":".r.findAllIn(br.body()).length == 5, br.body().take(300))
    val er = post("/query/explain",
      """{"query": "SELECT o_orderkey FROM orders WHERE o_totalprice > 10 LIMIT 3"}""")
    assert(er.statusCode() == 200 && er.body().contains("steps"), er.body())
  }

  test("POST /collections/{n}/search/multi fuses multiple query vectors") {
    val a = graft.functions.VectorFunctions.syntheticQuery(64).mkString("[", ",", "]")
    val b = (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat)
      .mkString("[", ",", "]")
    val mr = post("/collections/embeddings/search/multi",
      s"""{"vectors": [$a, $b], "top_k": 4, "strategy": "rrf", "rrf_k": 60}""")
    assert(mr.statusCode() == 200, mr.body())
    assert("\"id\":".r.findAllIn(mr.body()).length == 4, mr.body().take(300))
    val wr = post("/collections/embeddings/search/multi",
      s"""{"vectors": [$a, $b], "top_k": 4, "strategy": "weighted"}""")
    assert(wr.statusCode() == 200, wr.body())
    // weights must be >= 0 and sum to 1 (fusion/strategy.rs:95-122)
    val bw = post("/collections/embeddings/search/multi",
      s"""{"vectors": [$a, $b], "top_k": 4, "strategy": "weighted",
         | "avg_weight": 0.9, "max_weight": 0.3, "hit_weight": 0.2}""".stripMargin)
    assert(bw.statusCode() == 400 && bw.body().contains("sum to 1"), bw.body())
  }

  test("search/multi rejects a negative rrf_k with a 400") {
    val a = graft.functions.VectorFunctions.syntheticQuery(64).mkString("[", ",", "]")
    // k = -1 divided rank 1 by zero and answered 200
    for (k <- Seq(-1, -30)) {
      val r = post("/collections/embeddings/search/multi",
        s"""{"vectors": [$a, $a], "top_k": 4, "strategy": "rrf", "rrf_k": $k}""")
      assert(r.statusCode() == 400 && r.body().contains("k must be"), r.body())
    }
  }

  test("search/multi takes at most 10 vectors: a 400 before any Spark job") {
    val a = graft.functions.VectorFunctions.syntheticQuery(64).mkString("[", ",", "]")
    val body = Seq.fill(11)(a).mkString("""{"vectors": [""", ", ", """], "top_k": 4}""")
    val m = org.apache.spark.sql.graft.JobMeter(spark)(
      post("/collections/embeddings/search/multi", body))
    assert(m.value.statusCode() == 400 && m.value.body().contains("at most 10"), m.value.body())
    assert(m.jobs == 0, s"an 11-vector search/multi ran ${m.jobs} Spark jobs")
  }

  test("graph routes: node degree and BFS traverse") {
    // node 1 = customer 1; out-degree = orders placed (q80's surface)
    val dg = get("/collections/documents/graph/nodes/1/degree")
    assert(dg.statusCode() == 200, dg.body())
    assert(dg.body().contains("\"out_degree\":") && dg.body().contains("\"in_degree\":"))
    val tr = post("/collections/documents/graph/traverse",
      """{"source": 1, "max_depth": 2, "limit": 5, "rel_types": ["placed", "contains"]}""")
    assert(tr.statusCode() == 200, tr.body())
    assert(tr.body().contains("\"stats\":{\"visited\":"), tr.body().take(300))
    assert("\"node\":".r.findAllIn(tr.body()).length <= 5)
    // traverse result must agree with the operator-level BFS
    import spark.implicits._
    val expected = graft.operators.Graph.bfsVarLength(
      graft.operators.Graph.edges(spark, sfDir), Seq(1L).toDF("start"), 2,
      Seq("placed", "contains")).count()
    assert(tr.body().contains(s""""visited":$expected"""), tr.body().take(300))
  }

  test("POST /collections/corpus/search/hybrid fuses text + vector (q104 agreement)") {
    // the one route where a parser-ordering regression (LIMIT before
    // USING FUSION) would only surface in production — pin it end-to-end
    val qvec = graft.functions.VectorFunctions.syntheticQuery(64)
    val vec = qvec.mkString("[", ",", "]")
    val r = post("/collections/corpus/search/hybrid",
      s"""{"query": "spark stream", "vector": $vec, "top_k": 5}""")
    assert(r.statusCode() == 200, r.body())
    assert("\"id\":".r.findAllIn(r.body()).length == 5, r.body().take(300))
    assert(r.body().contains("\"score\":") && r.body().contains("\"payload\":{"), r.body().take(300))
    // id/score agreement with the language-level hybrid path (q104 shape)
    val expected = g.sql(
      """SELECT doc_id, score FROM corpus
        |WHERE text MATCH 'spark stream' AND vector NEAR $q
        |LIMIT 5
        |USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)""".stripMargin,
      Map("q" -> qvec)).collect().map(_.getLong(0))
    val got = "\"id\":(\\d+)".r.findAllMatchIn(r.body()).map(_.group(1).toLong).toSeq
    assert(got.sorted.toSeq == expected.sorted.toSeq, s"got $got expected ${expected.toSeq}")
  }

  test("/query 'type' comes from the compiler's AST, not string sniffing") {
    // a literal containing "MATCH (" must stay type=rows
    val r1 = post("/query",
      """{"query": "SELECT doc_id FROM documents WHERE text LIKE '%MATCH (%' LIMIT 3"}""")
    assert(r1.statusCode() == 200 && r1.body().contains("\"type\":\"rows\""), r1.body().take(200))
    // grouped aggregate → aggregation
    val r2 = post("/query",
      """{"query": "SELECT lang, count(*) AS n FROM documents GROUP BY lang"}""")
    assert(r2.statusCode() == 200 && r2.body().contains("\"type\":\"aggregation\""), r2.body().take(200))
    // graph MATCH → graph
    val r3 = post("/query",
      """{"query": "MATCH (c:Customer)-[:placed]->(o:Order) RETURN c.id AS s LIMIT 1"}""")
    assert(r3.statusCode() == 200 && r3.body().contains("\"type\":\"graph\""), r3.body().take(200))
    // text MATCH condition → search
    val r4 = post("/query",
      """{"query": "SELECT doc_id FROM documents WHERE text MATCH 'spark' LIMIT 2"}""")
    assert(r4.statusCode() == 200 && r4.body().contains("\"type\":\"search\""), r4.body().take(200))
  }

  test("GET /metrics exposes per-route request and error counters") {
    get("/health")
    post("/query", """{"query": "SELEKT broken"}""") // counted as an error
    val m = get("/metrics")
    assert(m.statusCode() == 200, m.body())
    assert(m.body().contains("graft_requests_total{route=\"/health\"}"), m.body())
    assert(m.body().contains("graft_requests_total{route=\"/query\"}"), m.body())
    val err = "graft_errors_total (\\d+)".r.findFirstMatchIn(m.body()).map(_.group(1).toLong)
    assert(err.exists(_ >= 1), m.body())
  }

  test("collection names are validated (no path traversal), unknown → 404") {
    // traversal attempts are 400 before touching the filesystem
    val c1 = post("/collections", """{"name": "../evil"}""")
    assert(c1.statusCode() == 400, s"${c1.statusCode()} ${c1.body()}")
    val d1 = delete("/collections/%2e%2e")
    assert(d1.statusCode() == 400, s"${d1.statusCode()} ${d1.body()}")
    val d2 = delete("/collections/..")
    assert(d2.statusCode() == 400, s"${d2.statusCode()} ${d2.body()}")
    // unknown-but-valid names are 404, not 500
    val p1 = post("/collections/nope/points", """{"points": [{"id": 1}]}""")
    assert(p1.statusCode() == 404, s"${p1.statusCode()} ${p1.body()}")
    val g1 = get("/collections/nope")
    assert(g1.statusCode() == 404, s"${g1.statusCode()} ${g1.body()}")
    val s1 = post("/collections/nope/search/text", """{"query": "x"}""")
    assert(s1.statusCode() == 404, s"${s1.statusCode()} ${s1.body()}")
    // built-in dataset tables are queryable but NOT point-mutable: 404,
    // not a missing-sidecar 500 or a silent no-op drop
    val p2 = post("/collections/customer/points", """{"points": [{"id": 1}]}""")
    assert(p2.statusCode() == 404, s"${p2.statusCode()} ${p2.body()}")
    val d3 = delete("/collections/customer")
    assert(d3.statusCode() == 404, s"${d3.statusCode()} ${d3.body()}")
  }

  test("search routes reach the quantized tiers (SearchRequest WITH parity)") {
    val vec = (0 until 64).map(i => math.sin(i * 0.7).toFloat)
    // REST quantization='pq' agrees with the language-level path
    val r = post("/collections/embeddings/search",
      s"""{"vector": [${vec.mkString(", ")}], "top_k": 5,
         | "quantization": "pq", "oversampling": 16}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    val restIds = """"id":(\d+)""".r.findAllMatchIn(r.body()).map(_.group(1).toLong).toSeq
    val langIds = g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5" +
        " WITH (quantization = 'pq', oversampling = 16)",
      Map("q" -> vec)).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(restIds == langIds, s"REST $restIds vs language $langIds")
    // invalid enum values reject with 400 — no client text reaches the
    // generated VelesQL (the injection shape the closed set forecloses)
    assert(post("/collections/embeddings/search",
      s"""{"vector": [${vec.mkString(", ")}], "mode": "fast', ef_search = 1"}""")
      .statusCode() == 400)
    assert(post("/collections/embeddings/search",
      s"""{"vector": [${vec.mkString(", ")}], "quantization": "nope"}""")
      .statusCode() == 400)
    // batch items accept the same fields
    val batch = post("/collections/embeddings/search/batch",
      s"""{"searches": [{"vector": [${vec.mkString(", ")}], "top_k": 3,
         |  "quantization": "int8"}]}""".stripMargin)
    assert(batch.statusCode() == 200, batch.body())
    // the partitioned-HNSW tier is reachable over the wire and agrees
    // with the language-level path (r11)
    val h = post("/collections/embeddings/search",
      s"""{"vector": [${vec.mkString(", ")}], "top_k": 5,
         | "mode": "accurate", "index": "hnsw"}""".stripMargin)
    assert(h.statusCode() == 200, h.body())
    val hIds = """"id":(\d+)""".r.findAllMatchIn(h.body()).map(_.group(1).toLong).toSeq
    val hLang = g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5" +
        " WITH (mode = 'accurate', index = 'hnsw')",
      Map("q" -> vec)).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(hIds == hLang, s"REST $hIds vs language $hLang")
  }

  test("filter DSL edge shapes: empty IN matches nothing; errors are valid JSON") {
    val vec = (0 until 64).map(i => math.sin(i * 0.7).toFloat)
    // reference In { values: [] } deserializes and matches nothing
    val r = post("/collections/embeddings/search",
      s"""{"vector": [${vec.mkString(", ")}], "top_k": 5,
         | "filter": {"condition": {"type": "in", "field": "label", "values": []}}}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    assert(""""id":""".r.findAllIn(r.body()).isEmpty, s"empty IN matched rows: ${r.body()}")
    // a quote in client-controlled text must still yield a parseable
    // JSON error body (message goes through the jackson mapper)
    val bad = post("/collections/embeddings/search",
      s"""{"vector": [${vec.mkString(", ")}],
         | "filter": {"condition": {"type": "we\\"ird", "field": "x"}}}""".stripMargin)
    assert(bad.statusCode() == 400)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bad.body())
    assert(parsed.has("error") && parsed.get("error").asText.contains("we\"ird"))
  }

  test("snapshot routes: create, time-travel read, restore, drop") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rest-snap").toString
    val g2 = Graft(spark, tmp)
    val s2 = new RestServer(g2, port = 0).start()
    try {
      val b = s"http://127.0.0.1:${s2.boundPort}"
      def send(r: HttpRequest): HttpResponse[String] =
        client.send(r, HttpResponse.BodyHandlers.ofString())
      def post2(path: String, body: String) =
        send(HttpRequest.newBuilder(URI.create(s"$b$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build())
      def get2(path: String) =
        send(HttpRequest.newBuilder(URI.create(s"$b$path")).GET().build())
      post2("/collections", """{"name": "notes", "id_col": "id"}""")
      post2("/collections/notes/points",
        """{"points": [{"id": 1, "payload": {"body": "old"}}]}""")
      val created = post2("/collections/notes/snapshots", """{"tag": "v1"}""")
      assert(created.statusCode() == 201 && created.body().contains("v1"))
      // mutate past the snapshot
      post2("/collections/notes/points",
        """{"points": [{"id": 1, "payload": {"body": "new"}},
          |            {"id": 2, "payload": {"body": "more"}}]}""".stripMargin)
      assert(get2("/collections/notes/snapshots").body().contains("v1"))
      // time travel: the snapshot page shows the OLD row, live has 2 points
      val page = get2("/collections/notes/snapshots/v1/points?limit=10")
      assert(page.statusCode() == 200 && page.body().contains("\"count\":1")
        && page.body().contains("old"), page.body().take(300))
      assert(get2("/collections/notes").body().contains("\"points_count\":2"))
      // restore publishes the v1 state back
      val restored = post2("/collections/notes/snapshots/v1/restore", "")
      assert(restored.statusCode() == 200 && restored.body().contains("restored"))
      assert(get2("/collections/notes").body().contains("\"points_count\":1"))
      // drop; then 404s — and traversal tags are 400, not file access
      val dropped = send(HttpRequest.newBuilder(
        URI.create(s"$b/collections/notes/snapshots/v1")).DELETE().build())
      assert(dropped.statusCode() == 200 && dropped.body().contains("deleted"))
      assert(get2("/collections/notes/snapshots/v1/points").statusCode() == 404)
      assert(send(HttpRequest.newBuilder(
        URI.create(s"$b/collections/notes/snapshots/v1")).DELETE().build())
        .statusCode() == 404)
      assert(get2("/collections/notes/snapshots/../points").statusCode() != 200)
      assert(post2("/collections/notes/snapshots", """{"tag": ".."}""")
        .statusCode() == 400)
    } finally s2.stop()
  }

  test("keyset scroll pagination: points, snapshot points and edge listing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rest-scroll").toString
    val g2 = Graft(spark, tmp)
    val s2 = new RestServer(g2, port = 0).start()
    try {
      val b = s"http://127.0.0.1:${s2.boundPort}"
      def send(r: HttpRequest) = client.send(r, HttpResponse.BodyHandlers.ofString())
      def p(path: String, body: String) =
        send(HttpRequest.newBuilder(URI.create(s"$b$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build())
      def get2(path: String) =
        send(HttpRequest.newBuilder(URI.create(s"$b$path")).GET().build())
      p("/collections", """{"name": "sc"}""")
      val pts = (1 to 25).map(i => s"""{"id": $i, "payload": {"v": $i}}""")
        .mkString("[", ",", "]")
      assert(p("/collections/sc/points", s"""{"points": $pts}""").statusCode() == 200)

      // page through all 25 points at limit 10: 10 + 10 + 5, cursors chain,
      // ids arrive in order with no overlap
      def idsOf(body: String): Seq[Long] =
        "\"id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
      def nextOf(body: String): Option[Long] =
        "\"next_after_id\":(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toLong)
      val p1 = get2("/collections/sc/points?limit=10")
      assert(p1.statusCode() == 200, p1.body())
      assert(idsOf(p1.body()) == (1L to 10L) && nextOf(p1.body()).contains(10L), p1.body())
      val p2 = get2(s"/collections/sc/points?limit=10&after_id=${nextOf(p1.body()).get}")
      assert(idsOf(p2.body()) == (11L to 20L) && nextOf(p2.body()).contains(20L))
      val p3 = get2(s"/collections/sc/points?limit=10&after_id=${nextOf(p2.body()).get}")
      assert(idsOf(p3.body()) == (21L to 25L), p3.body())
      assert(p3.body().contains("\"next_after_id\":null"), p3.body())
      // bad cursor type → 400
      assert(get2("/collections/sc/points?after_id=xyz").statusCode() == 400)

      // snapshot points page with the same contract (immutable cursor)
      p("/collections/sc/snapshots", """{"tag": "s1"}""")
      val sp = get2("/collections/sc/snapshots/s1/points?limit=20")
      assert(idsOf(sp.body()).size == 20 && nextOf(sp.body()).contains(20L), sp.body().take(300))
      val sp2 = get2("/collections/sc/snapshots/s1/points?limit=20&after_id=20")
      assert(idsOf(sp2.body()) == (21L to 25L) && sp2.body().contains("\"next_after_id\":null"))

      // edges: label-scoped keyset on (source, target)
      val edges = (1 to 12).map(i => s"""{"source": ${i % 4}, "target": $i, "label": "likes"}""")
        .mkString("[", ",", "]")
      assert(p("/collections/sc/graph/edges", s"""{"edges": $edges}""").statusCode() == 200)
      val e1 = get2("/collections/sc/graph/edges?label=likes&limit=5")
      assert(e1.statusCode() == 200, e1.body())
      val c1 = ("\"next_after_source\":(\\d+),\"next_after_target\":(\\d+)".r
        .findFirstMatchIn(e1.body()))
      assert(c1.isDefined, e1.body().take(300))
      val e2 = get2(s"/collections/sc/graph/edges?label=likes&limit=5" +
        s"&after_source=${c1.get.group(1)}&after_target=${c1.get.group(2)}")
      assert(e2.statusCode() == 200)
      val pairs = (r: String) => ("\"source\":(\\d+),\"target\":(\\d+)".r
        .findAllMatchIn(r).map(m => (m.group(1).toLong, m.group(2).toLong)).toSeq)
      val all = pairs(e1.body()) ++ pairs(e2.body())
      assert(all.distinct.size == all.size, s"overlapping pages: $all")
      assert(all == all.sorted, s"pages out of order: $all")
      // after_target without after_source → 400
      assert(get2("/collections/sc/graph/edges?label=likes&after_target=3")
        .statusCode() == 400)
    } finally { s2.stop(); Collections.deleteRec(java.nio.file.Paths.get(tmp)) }
  }

  test("error taxonomy maps to HTTP codes") {
    // unknown collection → 404 (NotFoundError)
    val nf = post("/query", """{"query": "SELECT x FROM nope LIMIT 1"}""")
    assert(nf.statusCode() == 404, s"${nf.statusCode()} ${nf.body()}")
    // syntax error → 400
    val syn = post("/query", """{"query": "SELEKT nonsense"}""")
    assert(syn.statusCode() == 400 && syn.body().contains("error"))
    // unknown WITH key → 400 (SemanticError, round-5 validation)
    val sem = post("/query", """{"query": "SELECT o_orderkey FROM orders LIMIT 1 WITH (bogus = 1)"}""")
    assert(sem.statusCode() == 400 && sem.body().contains("unknown WITH option"))
  }
}
