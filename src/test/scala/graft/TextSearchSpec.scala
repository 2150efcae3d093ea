package graft

import graft.operators.Bm25
import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.JobMeter
import org.apache.spark.sql.types._

/** Query-time BM25 on user collections: per-row scores from one stats
  * job ([[Bm25.scoreColumns]]) must equal the posting-list index on
  * adversarial text, MATCH … LIMIT k must be the BM25 top k, an
  * all-short-token query must match nothing, and the text leg and the
  * REST search routes must stay within their job budgets with no
  * shuffle. */
class TextSearchSpec extends SparkSpecBase {
  import spark.implicits._

  /** The reference tokenizer on the driver (bm25.rs:114-120). */
  private def tokens(text: String): Seq[String] =
    if (text == null) Nil
    else text.toLowerCase.split("[^a-z0-9]+").filter(_.length > 1).toSeq

  /** Brute-force BM25 over (id, text), best first (score desc, id asc). */
  private def bruteForce(docs: Seq[(Long, String)], query: String): Seq[(Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> tokens(t) }.filter(_._2.nonEmpty)
    val n = toks.size
    val avgdl = toks.map(_._2.size).sum.toDouble / n
    val terms = tokens(query).distinct
    val df = terms.map(t => t -> toks.count(_._2.contains(t))).toMap
    toks.flatMap { case (id, ts) =>
      val parts = terms.filter(ts.contains).map { t =>
        val tf = ts.count(_ == t).toDouble
        val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        idf * (tf * (Bm25.K1 + 1.0)) /
          (tf + Bm25.K1 * (1.0 - Bm25.B + Bm25.B * ts.size / avgdl))
      }
      if (parts.isEmpty) None else Some(id -> parts.sum)
    }.sortBy { case (id, s) => (-s, id) }
  }

  private val vocab = Seq("spark", "stream", "join", "parquet", "merge",
    "index", "vector", "graph", "query", "data", "a", "x", "7", "42")

  /** Adversarial text: null, empty, punctuation-only, 1-char tokens,
    * mixed case, repeated terms. */
  private def genDocs(seed: Long, n: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val text = r.nextInt(10) match {
        case 0 => null
        case 1 => ""
        case 2 => "!!! ,,, --- ..."
        case 3 => "a b c x 7"
        case _ =>
          val words = Seq.fill(1 + r.nextInt(12)) {
            val w = vocab(r.nextInt(vocab.size))
            if (r.nextInt(4) == 0) w.toUpperCase else w
          }
          words.mkString(if (r.nextBoolean()) " " else ", ")
      }
      (i.toLong * 7 + 3, text)
    }
  }

  private val queries = Seq("spark join", "SPARK spark Spark", "stream, merge! index",
    "a x 7", "", "!!", "zzzz never", "data data query 42")

  test("per-row scores equal the posting-list index on adversarial text") {
    for (seed <- Seq(1L, 2L)) {
      val docs = genDocs(seed, 300).toDF("doc_id", "text")
      val idx = Bm25.buildIndex(docs)
      for (q <- queries) {
        val got = Bm25.score(docs, q).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val exp = Bm25.searchIndex(idx, q).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got.keySet == exp.keySet, s"seed $seed query '$q'")
        got.foreach { case (id, s) =>
          assert(math.abs(s - exp(id)) < 1e-12, s"seed $seed query '$q' doc $id: $s vs ${exp(id)}")
        }
      }
    }
    // an empty collection scores nothing, by both shapes
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(Bm25.score(empty, "spark join").count() == 0)
    assert(Bm25.searchIndex(Bm25.buildIndex(empty), "spark join").count() == 0)
  }

  /** A user collection of `docs` with 4-d vectors, in a fresh data dir. */
  private def withCollection(docs: Seq[(Long, String)])(body: Graft => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-text").toString
    val g = Graft(spark, dir)
    g.collections.create("docs", idCol = "id", vectorCol = Some("vector"), buckets = 4)
    val r = new scala.util.Random(7)
    g.collections.upsert("docs", docs.map { case (id, t) =>
      (id, Seq.fill(4)(r.nextFloat()), t)
    }.toDF("id", "vector", "text").repartition(4))
    try body(g) finally g.collections.drop("docs")
  }

  /** Runs `body` against a REST server over `g`; the function it gets
    * POSTs a JSON body to a route under /collections/docs and returns
    * the 200 response body. */
  private def withRest(g: Graft)(body: ((String, String) => String) => Unit): Unit = {
    val srv = new RestServer(g, port = 0).start()
    val client = HttpClient.newHttpClient()
    def post(route: String, json: String): String = {
      val resp = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/collections/docs/$route"))
        .POST(HttpRequest.BodyPublishers.ofString(json))
        .header("Content-Type", "application/json").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body().take(300))
      resp.body()
    }
    try body(post) finally srv.stop()
  }

  test("REST search/text top_k on a user collection is the BM25 ranking") {
    val docs = genDocs(3, 400)
    withCollection(docs) { g =>
      withRest(g) { post =>
        for (q <- Seq("spark join", "merge parquet vector", "GRAPH")) {
          val resp = post("search/text", s"""{"query": "$q", "top_k": 10}""")
          val it = new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp).get("results").elements()
          val got = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .map(n => n.get("id").asLong -> n.get("score").asDouble).toSeq
          val exp = bruteForce(docs, q).take(10)
          assert(got.map(_._1) == exp.map(_._1), s"query '$q'")
          got.zip(exp).foreach { case ((_, s), (_, e)) => assert(math.abs(s - e) < 1e-9) }
        }
      }
    }
  }

  test("a MATCH with no token longer than one character matches nothing") {
    val docs = genDocs(4, 50)
    withCollection(docs) { g =>
      // scored (the only MATCH) and unscored (a second MATCH) leaves
      assert(g.sql("SELECT id FROM docs WHERE text MATCH 'a'").count() == 0)
      assert(g.sql("SELECT id FROM docs WHERE text MATCH 'spark' AND text MATCH 'a x'")
        .count() == 0)
      assert(g.sql("SELECT id FROM docs WHERE text MATCH '!!' OR NOT text MATCH 'a'")
        .count() == 50)
      // a collection emptied by deletes: no rows, no error
      g.collections.delete("docs", docs.map(_._1))
      assert(g.sql("SELECT id FROM docs WHERE text MATCH 'spark join' LIMIT 10").count() == 0)
    }
  }

  test("job budget: BM25 top-k is one stats job plus one shuffle-free scan") {
    withCollection(genDocs(5, 400)) { g =>
      g.sql("SELECT * FROM docs WHERE text MATCH 'index' LIMIT 10").collect() // warm
      // fresh query text: a plan-memo miss, so the stats job is counted
      val bm25 = JobMeter(spark) {
        g.sql("SELECT * FROM docs WHERE text MATCH 'spark stream' LIMIT 10").collect()
      }
      assert(bm25.jobs <= 3, s"BM25 MATCH … LIMIT 10 ran ${bm25.jobs} jobs")
      assert(bm25.shuffleBytes == 0,
        s"BM25 MATCH … LIMIT 10 shuffled ${bm25.shuffleBytes} bytes")
      val q = Seq(0.1f, 0.2f, 0.3f, 0.4f).toList
      val hybrid = "SELECT * FROM docs WHERE text MATCH 'merge vector' AND vector NEAR $v " +
        "LIMIT 10 USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)"
      g.sql(hybrid.replace("merge vector", "graph"), Map("v" -> q)).collect() // warm
      val hJobs = JobMeter(spark)(g.sql(hybrid, Map("v" -> q)).collect()).jobs
      assert(hJobs <= 5, s"hybrid ran $hJobs jobs")
    }
  }

  test("job budget: REST search routes collect their top-k without an exchange") {
    withCollection(genDocs(6, 400)) { g =>
      withRest(g) { post =>
        // warm each route, then measure a fresh request (a plan-memo miss)
        post("search", """{"vector": [0.1, 0.2, 0.3, 0.4], "top_k": 10}""")
        val knn =
          JobMeter(spark)(post("search", """{"vector": [0.4, 0.3, 0.2, 0.1], "top_k": 10}"""))
        assert((knn.jobs, knn.stages, knn.shuffleBytes) == ((1L, 1L, 0L)),
          "POST search: (jobs, stages, shuffle bytes)")
        post("search/text", """{"query": "index", "top_k": 10}""")
        val text =
          JobMeter(spark)(post("search/text", """{"query": "spark stream", "top_k": 10}"""))
        assert(text.jobs <= 2, s"search/text ran ${text.jobs} jobs")
        assert(text.shuffleBytes == 0, s"search/text shuffled ${text.shuffleBytes} bytes")
        post("search/hybrid", """{"query": "graph", "vector": [0.1, 0.2, 0.3, 0.4], "top_k": 10}""")
        val hJobs = JobMeter(spark)(post("search/hybrid",
          """{"query": "merge vector", "vector": [0.4, 0.3, 0.2, 0.1], "top_k": 10}""")).jobs
        assert(hJobs <= 3, s"search/hybrid ran $hJobs jobs")
      }
    }
  }
}
