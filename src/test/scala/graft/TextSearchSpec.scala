package graft

import graft.Bm25Postings.{postingScores, tokenArray}
import graft.operators.Bm25
import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.JobMeter
import org.apache.spark.sql.types._

/** Query-time BM25: per-row scores from one stats job
  * ([[Bm25.scoreColumns]]) must equal a posting-list computation on
  * adversarial text and the documents table, MATCH … LIMIT k must be
  * the BM25 top k, an all-short-token query must match nothing, and the
  * text leg and the REST search routes must stay within their job
  * budgets with no shuffle. */
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
    val inputs = Seq(1L, 2L).map(seed => s"seed $seed" -> genDocs(seed, 300).toDF("doc_id", "text")) :+
      ("sf0.001 documents" -> Tables.table(spark, sfDir, "documents"))
    for ((input, docs) <- inputs; q <- queries :+ "spark join filter") {
      val got = Bm25.score(docs, q).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val exp = postingScores(docs, q)
      assert(got.keySet == exp.keySet, s"$input query '$q'")
      got.foreach { case (id, s) =>
        assert(math.abs(s - exp(id)) < 1e-12, s"$input query '$q' doc $id: $s vs ${exp(id)}")
      }
    }
    // the ranked top 10 of the dataset table (q60's shape) is the
    // posting scores' top 10
    val docs = Tables.table(spark, sfDir, "documents")
    val top = Bm25.score(docs, "spark join filter", 10).collect().map(_.getLong(0)).toSet
    assert(top.size == 10 &&
      top == postingScores(docs, "spark join filter").toSeq.sortBy(e => (-e._2, e._1)).take(10).map(_._1).toSet)
    // an empty collection scores nothing, by both shapes
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(Bm25.score(empty, "spark join").count() == 0)
    assert(postingScores(empty, "spark join").isEmpty)
  }

  test("the BM25 score kernel equals the Column formula it replaced, bit for bit") {
    import org.apache.spark.sql.functions._
    // the reference: the tokenizer as a token array and the score as a
    // Column formula with the corpus stats as literals
    def reference(docs: org.apache.spark.sql.DataFrame, q: String): Map[Long, Double] = {
      val terms = Bm25.queryTerms(q)
      val tok = tokenArray(col("text"))
      val st = docs.where(size(tok) > 0).agg(count(lit(1)), (sum(size(tok)) +:
        terms.map(t => sum(array_contains(tok, t).cast("int")))): _*).head()
      val n = st.getLong(0)
      val avgdl = if (n == 0) 0.0 else st.getLong(1).toDouble / n
      val live = terms.zipWithIndex.map { case (t, i) =>
        t -> Option(st.get(2 + i)).fold(0L)(_.asInstanceOf[Long]) }.filter(_._2 > 0)
      val score = if (live.isEmpty) lit(0.0) else {
        val dlen = size(tok)
        val s = live.map { case (t, df) =>
          val tf = dlen - size(array_remove(tok, t))
          val idf = log((lit(n) - df + 0.5) / (lit(df) + 0.5) + 1.0)
          idf * (tf * (lit(Bm25.K1) + 1.0)) /
            (tf + lit(Bm25.K1) * (lit(1.0) - Bm25.B + lit(Bm25.B) * dlen / avgdl))
        }.reduce(_ + _)
        when(arrays_overlap(tok, array(live.map(t => lit(t._1)): _*)), s).otherwise(lit(0.0))
      }
      docs.select(col("doc_id"), score).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val unicode = Seq("Straße SPARK join", "\u212Aelvin join", "\u0130stanbul spark",
      "ÀÉÎ stream ßpark", "spark_join spark-join", "x\u0000y spark", "\uD83D\uDD25spark\uD83D\uDD25 join",
      "SPARK\tJOIN\nspark", "a1 b2 c33 spark9")
    val docs = (genDocs(9, 300) ++ unicode.zipWithIndex.map { case (t, i) => (10000L + i, t) })
      .toDF("doc_id", "text")
    for (q <- queries ++ Seq("kelvin join", "stanbul spark", "spark9 c33")) {
      val (score, hit) = Bm25.scoreColumns(docs, q)
      val got = docs.select(col("doc_id"), score, hit).collect()
      val exp = reference(docs, q)
      got.foreach { r =>
        val id = r.getLong(0)
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(exp(id)), s"query '$q' doc $id: ${r.getDouble(1)} vs ${exp(id)}")
        assert(r.getBoolean(2) == (exp(id) > 0.0), s"query '$q' doc $id: match ${r.getBoolean(2)}")
      }
    }
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
      // corpus stats, both legs from one scan, the payload scan
      val h = JobMeter(spark)(g.sql(hybrid, Map("v" -> q)).collect())
      assert(h.jobs <= 3, s"hybrid ran ${h.jobs} jobs")
      assert(h.shuffleBytes == 0, s"hybrid shuffled ${h.shuffleBytes} bytes")
    }
  }

  test("a fused search with the largest LIMIT returns every row") {
    // the candidate pool follows LIMIT up to the result cap: a pool of
    // Int.MaxValue once sized each leg heap to it
    import org.apache.spark.sql.execution.SparkPlanInfo
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    withCollection(genDocs(9, 300)) { g =>
      val q = Seq(0.1f, 0.2f, 0.3f, 0.4f).toList
      val q2 = Seq(0.3f, 0.1f, 0.4f, 0.2f).toList
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def ids(resp: String): Seq[Long] = {
        val it = mapper.readTree(resp).get("results").elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().get("id").asLong).toSeq
      }
      for (sql <- Seq(
          "SELECT id, score FROM docs WHERE text MATCH 'spark join' AND vector NEAR $v " +
            "LIMIT %d USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)",
          "SELECT id, score FROM docs WHERE vector NEAR_FUSED [$v, $w] USING FUSION 'rrf' " +
            "LIMIT %d")) {
        def run(limit: Int) = JobMeter(spark)(
          g.sql(sql.format(limit), Map("v" -> q, "w" -> q2)).collect().toSeq)
        val all = run(Int.MaxValue).value
        assert(all.size == 300, s"$sql: ${all.size} rows")
        assert(all == all.sortBy(r => (-r.getDouble(1), r.getLong(0))), sql)
        // the optimizer drops a Limit its local relation cannot exceed:
        // the final ordering must still sort the fused rows in place
        for (limit <- Seq(300, 5000)) {
          val m = run(limit)
          assert(m.value == all, s"$sql LIMIT $limit")
          assert(m.shuffleBytes == 0 && !m.plans.exists(nodes(_).exists(_.nodeName == "Exchange")),
            s"$sql LIMIT $limit: ${m.plans.map(nodes(_).map(_.nodeName).mkString(", "))}")
        }
        assert(run(10).value == all.take(10), sql)
      }
      withRest(g) { post =>
        val hybrid = ids(post("search/hybrid",
          s"""{"query": "spark join", "vector": [0.1, 0.2, 0.3, 0.4], "top_k": ${Int.MaxValue}}"""))
        val multi = ids(post("search/multi",
          s"""{"vectors": [[0.1, 0.2, 0.3, 0.4], [0.3, 0.1, 0.4, 0.2]], "top_k": ${Int.MaxValue}}"""))
        assert(hybrid.size == 300 && hybrid.distinct.size == 300, s"search/hybrid: ${hybrid.size}")
        assert(multi.size == 300 && multi.distinct.size == 300, s"search/multi: ${multi.size}")
      }
    }
  }

  test("WITH (timeout_ms) bounds the compile: every job of a timed MATCH and hybrid runs in its job group") {
    withCollection(genDocs(8, 200)) { g =>
      val q = Seq(0.1f, 0.2f, 0.3f, 0.4f).toList
      for (sql <- Seq(
          "SELECT * FROM docs WHERE text MATCH 'spark join' LIMIT 10 WITH (timeout_ms = 600000)",
          "SELECT * FROM docs WHERE text MATCH 'merge vector' AND vector NEAR $v LIMIT 10 " +
            "WITH (timeout_ms = 600000) " +
            "USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)")) {
        // a fresh text: the compile's jobs (corpus stats, fused legs) run
        val m = JobMeter(spark)(g.collect(sql, Map("v" -> q)))
        assert(m.value.nonEmpty && m.jobs >= 2, s"$sql: ${m.jobs} jobs")
        assert(m.groups.forall(_.startsWith("graft-timeout-")) && m.groups.distinct.size == 1,
          s"$sql: job groups ${m.groups}")
      }
      // the REST search routes carry a body's timeout_ms the same way
      // (multi: both legs from one scan, then the payload scan)
      withRest(g) { post =>
        for ((route, body) <- Seq(
            "search/text" -> """{"query": "stream index", "top_k": 10, "timeout_ms": 600000}""",
            "search/hybrid" -> ("""{"query": "parquet graph", "vector": [0.4, 0.3, 0.2, 0.1], """ +
              """"top_k": 10, "timeout_ms": 600000}"""),
            "search/multi" -> ("""{"vectors": [[0.2, 0.1, 0.4, 0.3], [0.3, 0.4, 0.1, 0.2]], """ +
              """"top_k": 10, "timeout_ms": 600000}"""))) {
          val m = JobMeter(spark)(post(route, body))
          assert(m.value.contains("\"results\":[{") && m.jobs >= 2, s"$route: ${m.jobs} jobs")
          assert(m.groups.forall(_.startsWith("graft-timeout-")) && m.groups.distinct.size == 1,
            s"$route: job groups ${m.groups}")
        }
      }
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
        // fused routes: fresh = the leg jobs (hybrid: corpus stats, then
        // both legs from one scan) + the payload scan; hot = the payload
        // scan of the memoized plan; one stage each, nothing shuffled
        val hot = """{"query": "graph", "vector": [0.1, 0.2, 0.3, 0.4], "top_k": 10}"""
        val multiHot = """{"vectors": [[0.1, 0.2, 0.3, 0.4], [0.3, 0.1, 0.4, 0.2]], "top_k": 10}"""
        for ((route, warm, fresh, freshJobs) <- Seq(
            ("search/hybrid", hot,
              """{"query": "merge vector", "vector": [0.4, 0.3, 0.2, 0.1], "top_k": 10}""", 3L),
            ("search/multi", multiHot,
              """{"vectors": [[0.4, 0.3, 0.2, 0.1], [0.2, 0.4, 0.1, 0.3]], "top_k": 10}""", 2L))) {
          post(route, warm)
          for ((kind, body, budget) <- Seq(("fresh", fresh, freshJobs), ("hot", warm, 1L))) {
            val m = JobMeter(spark)(post(route, body))
            assert(m.jobs <= budget, s"$route $kind ran ${m.jobs} jobs")
            assert(m.stages <= m.jobs, s"$route $kind ran ${m.stages} stages in ${m.jobs} jobs")
            assert(m.shuffleBytes == 0, s"$route $kind shuffled ${m.shuffleBytes} bytes")
          }
        }
      }
    }
  }
}
