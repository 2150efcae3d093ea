package graft

import org.apache.spark.sql.functions._

/** Round-5 features: WITH-key validation, WITH (rerank=true) two-phase
  * routing, filter-then-search for NEAR_FUSED/hybrid candidate legs, and
  * the materialized IVF index (train-once, probe+rerank in-query). */
class R5FeaturesSpec extends SparkSpecBase {

  private lazy val g = Graft(spark, sfDir)
  private val q = graft.functions.VectorFunctions.syntheticQuery(64)

  test("unknown WITH option is a loud SemanticError, not a silent no-op") {
    val e = intercept[graft.velesql.SemanticError](
      g.sql("SELECT o_orderkey FROM orders LIMIT 1 WITH (bogus = 1)"))
    assert(e.getMessage.contains("unknown WITH option 'bogus'"))
  }

  test("WITH rerank / quantization reject malformed values") {
    val e1 = intercept[graft.velesql.SemanticError](
      g.sql("SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5 WITH (rerank = 'maybe')",
        Map("q" -> q)))
    assert(e1.getMessage.contains("rerank"))
    val e2 = intercept[graft.velesql.SemanticError](
      g.sql("SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'bogus')",
        Map("q" -> q)))
    assert(e2.getMessage.contains("quantization"))
  }

  test("WITH (rerank=true) routes the two-phase sketch path (k×2 candidates)") {
    // rerank=true alone == explicit binary quantization with the default
    // rerank multiplier 2 (search_with_rerank, index/hnsw/index/search
    // .rs:118-159; config.rs:228,240) — identical deterministic results
    val viaRerank = g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5 WITH (rerank = true)",
      Map("q" -> q)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaQuant = g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'binary', oversampling = 2)",
      Map("q" -> q)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaRerank == viaQuant)
    assert(viaRerank.size == 5)
    // rerank=false is the exact scan — same as no WITH at all
    val off = g.sql(
      "SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5 WITH (rerank = false)",
      Map("q" -> q)).collect().map(_.getLong(0)).toSeq
    val exact = g.sql(
      "SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5",
      Map("q" -> q)).collect().map(_.getLong(0)).toSeq
    assert(off == exact)
  }

  test("WITH quantization='int8' regimes match the reference semantics") {
    import graft.operators.Quantization
    import org.apache.spark.sql.Row
    // int8 alone = "fast, approximate": scores ARE dequantized-vector
    // scores (QuantizationMode::Int8, with_clause.rs:15-16) — check them
    // against a brute-force compute over Quantization.sq8Decode
    val got = g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'int8')",
      Map("q" -> q)).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val emb = Tables.table(spark, sfDir, "embeddings")
    val dec = Quantization.sq8Decode(Quantization.withSq8(emb, "embedding"))
      .withColumn("s", graft.functions.VectorFunctions.cosine_sim(
        col("vec_approx"), graft.functions.VectorFunctions.vecLit(q)))
      .select("vec_id", "s").collect()
      .map { case Row(id: Long, s: Double) => id -> s }.toMap
    got.foreach { case (id, s) =>
      assert(math.abs(s - dec(id)) < 1e-9, s"approx score mismatch for $id") }
    // int8 + rerank=true = dual two-phase: final scores are EXACT (f32
    // rerank) and recall is high at 2× oversampling on this data
    val reranked = g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'int8', rerank = true, oversampling = 4)",
      Map("q" -> q)).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5",
      Map("q" -> q)).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exactScores = exact.toMap
    reranked.foreach { case (id, s) =>
      exactScores.get(id).foreach(es => assert(math.abs(s - es) < 1e-9,
        s"reranked score for $id must be the exact f32 score")) }
    assert((reranked.map(_._1).toSet & exact.map(_._1).toSet).size >= 4,
      "int8+rerank recall too low at 4x oversampling")
  }

  test("vector-only WITH keys on fused/hybrid/non-vector queries are rejected") {
    val b = (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat)
    // NEAR_FUSED ignores rerank/quantization — must error, not no-op
    val e1 = intercept[graft.velesql.SemanticError](g.sql(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR_FUSED [$a, $b] LIMIT 5 WITH (rerank = true)",
      Map("a" -> q, "b" -> b)))
    assert(e1.getMessage.contains("plain vector NEAR"))
    // non-vector query with a quantization key — same
    val e2 = intercept[graft.velesql.SemanticError](g.sql(
      "SELECT o_orderkey FROM orders LIMIT 1 WITH (quantization = 'int8')"))
    assert(e2.getMessage.contains("plain vector NEAR"))
  }

  test("filtered NEAR_FUSED returns LIMIT rows when they exist (filter-then-search)") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val labels = emb.where(col("label").isin(1, 2))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(labels.size >= 5, s"test data: need ≥5 rows with label in (1,2), got ${labels.size}")
    val b = (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat)
    val rows = g.sql(
      """SELECT vec_id, score FROM embeddings
        |WHERE label IN (1, 2) AND vector NEAR_FUSED [$a, $b] USING FUSION 'rrf'
        |LIMIT 5""".stripMargin,
      Map("a" -> q, "b" -> b)).collect()
    assert(rows.length == 5, s"filtered fused must fill LIMIT, got ${rows.length}")
    rows.foreach(r => assert(labels.contains(r.getLong(0)),
      s"row ${r.getLong(0)} violates the WHERE filter"))
    // ranks are WITHIN the filtered set: some filtered row holds rank 1
    // of leg A, so the max fused score is ≥ 1/(60+1) — under the old
    // post-filter semantics the legs ranked ALL rows and every surviving
    // score could sit below that when the global top ranks are filtered out
    rows.foreach(r => assert(r.getDouble(1) <= 2.0 / 61 + 1e-12))
    assert(rows.map(_.getDouble(1)).max >= 1.0 / 61 - 1e-12)
  }

  test("differential fuzz: filtered NEAR_FUSED agrees with a window-rank reference") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val emb = Tables.table(spark, sfDir, "embeddings")
    val b = (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat)
    def leaf(): (String, Column) = rnd.nextInt(4) match {
      case 0 => ("label IN (1, 2, 3)", col("label").isin(1, 2, 3))
      case 1 => ("vec_id < 30", col("vec_id") < 30)
      case 2 => ("label >= 5", col("label") >= 5)
      case 3 => ("vec_id BETWEEN 5 AND 45", col("vec_id").between(5, 45))
    }
    def tree(depth: Int): (String, Column) =
      if (depth == 0) leaf()
      else rnd.nextInt(4) match {
        case 0 => leaf()
        case 1 =>
          val (ls, lc) = tree(depth - 1); val (rs, rc) = tree(depth - 1)
          (s"($ls AND $rs)", lc && rc)
        case 2 =>
          val (ls, lc) = tree(depth - 1); val (rs, rc) = tree(depth - 1)
          (s"($ls OR $rs)", lc || rc)
        case 3 =>
          val (is, ic) = tree(depth - 1); (s"NOT ($is)", !ic)
      }
    for (i <- 1 to 8) {
      val (ws, wc) = tree(2)
      val got = g.sql(
        s"SELECT vec_id, score FROM embeddings WHERE $ws AND " +
          "vector NEAR_FUSED [$a, $b] USING FUSION 'rrf' LIMIT 10",
        Map("a" -> q, "b" -> b)).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // independent reference: rank each leg with a window over the
      // FILTERED frame, RRF-sum, top 10 — built with raw DataFrame ops,
      // not the compiler's candidate-leg machinery
      val f = emb.where(wc)
      val legs = Seq(q, b).map { v =>
        f.select(col("vec_id"), graft.functions.VectorFunctions.cosine_sim(
            col("embedding"), graft.functions.VectorFunctions.vecLit(v)).as("s"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(pmod(hash(col("vec_id")), lit(1)))
              .orderBy(col("s").desc, col("vec_id"))))
          .where(col("rnk") <= 2000)
          .select(col("vec_id"), (lit(1.0) / (lit(60.0) + col("rnk"))).as("p"))
      }
      val exp = legs.reduce(_ unionAll _).groupBy("vec_id")
        .agg(sum(col("p")).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == exp.map(_._1), s"tree $i: $ws → ids diverged")
      got.zip(exp).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-9, s"tree $i: $ws → score diverged") }
    }
  }

  test("fusion parity table: hybrid and NEAR_FUSED rrf/weighted match a plain-Scala reference") {
    import graft.functions.VectorFunctions
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import spark.implicits._
    type Leg = Seq[(Long, Double)]
    val dir = java.nio.file.Files.createTempDirectory("graft-fusion-parity").toString
    val g2 = Graft(spark, dir)
    // two groups of 2,100 rows, each over the 2,000-row candidate pool:
    // group A's vectors sit near qa, group B's near qb, three distinct
    // values per group, and the texts repeat, so every leg is tie-heavy
    val vals = Seq(Seq(Seq(1f, 0f, 0f, 0f), Seq(1f, 0.1f, 0f, 0f), Seq(1f, 0.2f, 0.05f, 0f)),
      Seq(Seq(0f, 1f, 0f, 0f), Seq(0f, 1f, 0.1f, 0f), Seq(0.05f, 1f, 0.2f, 0f)))
    val texts = Seq(Seq("alpha one", "alpha two two", "alpha", "gamma"),
      Seq("beta one", "beta beta", "beta", "gamma"))
    val rows = (0 until 4200).map { i =>
      (i.toLong, vals(i / 2100)(i % 3), texts(i / 2100)(i % 4), ((i / 7) % 3).toLong)
    }
    for ((c, n) <- Seq("par" -> 4200, "gone" -> 60)) {
      g2.collections.create(c, idCol = "id", vectorCol = Some("vector"), buckets = 4)
      g2.collections.upsert(c, rows.take(n).toDF("id", "vector", "text", "cat").repartition(4))
    }
    g2.collections.delete("gone", rows.take(60).map(_._1))
    val srv = new graft.server.RestServer(g2, port = 0).start()
    val http = HttpClient.newHttpClient()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val (qa, qa2, qb) = (Seq(1f, 0.05f, 0f, 0f), Seq(1f, 0.15f, 0.02f, 0f), Seq(0f, 1f, 0.05f, 0f))
    // plain-Scala reference over the collected per-row scores
    def order(hib: Boolean)(x: (Long, Double), y: (Long, Double)): Boolean =
      if (x._2 != y._2) (if (hib) x._2 > y._2 else x._2 < y._2) else x._1 < y._1
    def top(rows: Leg, hib: Boolean, k: Int): Leg = rows.sortWith(order(hib)).take(k)
    def rrf(legs: Seq[(Leg, Double)]): Leg = top(legs.flatMap { case (l, w) =>
      l.zipWithIndex.map { case ((id, _), i) => id -> w / (60.0 + (i + 1)) }
    }.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sum }.toSeq, true, 10)
    def weighted(legs: Seq[Leg]): Leg = top(legs.flatten.groupBy(_._1).map { case (id, xs) =>
      val s = xs.map(_._2)
      id -> (0.5 * (s.sum / s.size) + 0.3 * s.max + 0.2 * (s.size / legs.size.toDouble))
    }.toSeq, true, 10)
    try for ((name, coll, vs, text, cat) <- Seq(
        ("tie-heavy legs", "par", Seq(qa, qa2), "alpha", None),
        ("disjoint legs", "par", Seq(qa, qb), "beta", None),
        ("empty text leg", "par", Seq(qa, qb), "zzzz", None),
        ("filtered frame", "par", Seq(qb, qa2), "gamma", Some(1L)),
        ("collection emptied by deletes", "gone", Seq(qa, qb), "alpha", None))) {
      val frame = g2.catalog.table(coll)
      val f = cat.fold(frame)(c => frame.where(col("cat") === c))
      def collected(df: org.apache.spark.sql.DataFrame): Leg =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val vLegs = vs.map(q => top(collected(f.select(col("id"),
        VectorFunctions.cosine_sim(col("vector"), VectorFunctions.vecLit(q)))), true, 2000))
      val (bm25, hit) = graft.operators.Bm25.scoreColumns(frame, text, "text")
      val tLeg = top(collected(f.where(hit).select(col("id"), bm25)), true, 2000)
      name match {
        case "tie-heavy legs" => assert(vLegs.head.map(_._2).distinct.size < 4 &&
          tLeg.map(_._2).distinct.size < tLeg.size, "legs hold ties")
        case "disjoint legs" => assert(vLegs(0).map(_._1).intersect(vLegs(1).map(_._1)).isEmpty &&
          vLegs(0).map(_._1).intersect(tLeg.map(_._1)).isEmpty, "legs are disjoint")
        case "empty text leg" => assert(tLeg.isEmpty)
        case _ =>
      }
      val where = cat.fold("")(c => s"cat = $c AND ")
      def vql(sql: String, params: Map[String, Any]): Leg =
        collected(g2.sql(sql, params).select("id", "score"))
      val filter = cat.fold("")(c =>
        s""","filter":{"condition":{"type":"eq","field":"cat","value":$c}}""")
      val rest = json.readTree(http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/collections/$coll/search/hybrid"))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"query":"$text","vector":""" +
          s"""${vs.head.mkString("[", ",", "]")},"top_k":10,"vector_weight":0.7$filter}"""))
        .header("Content-Type", "application/json").build(),
        HttpResponse.BodyHandlers.ofString()).body()).get("results")
      val hybridRef = rrf(Seq(vLegs.head -> 0.7, tLeg -> 0.3))
      val nf = s"SELECT * FROM $coll WHERE ${where}vector NEAR_FUSED [$$a, $$b] USING FUSION "
      val ab = Map("a" -> vs(0), "b" -> vs(1))
      for ((kind, got, exp) <- Seq(
          ("hybrid VelesQL", vql(s"SELECT id, score FROM $coll WHERE ${where}text MATCH '$text' " +
            "AND vector NEAR $v LIMIT 10 USING FUSION(strategy = 'rrf', k = 60, " +
            "vector_weight = 0.7)", Map("v" -> vs.head)), hybridRef),
          ("hybrid REST", (0 until rest.size).map(i =>
            (rest.get(i).get("id").asLong, rest.get(i).get("score").asDouble)), hybridRef),
          ("NEAR_FUSED rrf", vql(nf + "'rrf' (k = 60) LIMIT 10", ab),
            rrf(vLegs.map(_ -> 1.0))),
          ("NEAR_FUSED weighted", vql(nf.replace("SELECT *", "SELECT id, score") +
            "'weighted' (avg_weight = 0.5, max_weight = 0.3, hit_weight = 0.2) LIMIT 10", ab),
            weighted(vLegs)))) {
        assert(got.map(_._1) == exp.map(_._1), s"$name / $kind: ids $got vs $exp")
        got.zip(exp).foreach { case ((_, gs), (_, es)) =>
          assert(math.abs(gs - es) <= 1e-12, s"$name / $kind: score $gs vs $es") }
        assert(got.isEmpty == (coll == "gone"), s"$name / $kind: ${got.size} rows")
      }
    } finally {
      srv.stop(); g2.collections.drop("par"); g2.collections.drop("gone")
    }
  }

  test("IVF probe prunes on the cell key at the scan (q59 plan)") {
    import org.apache.spark.sql.execution.ExplainMode
    val df = SparkEntry.queries("q59_ivf_fullprobe")(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // probing nprobe cells must reach the parquet scan as a pushed IN
    // filter over the cell-clustered materialized index (row-group
    // min/max pruning — the partitionBy("cell") layout at cluster scale)
    assert(p.contains("PushedFilters:") && p.contains("In(cell"), p.take(2000))
    // and the query itself never trains: no driver-side Lloyd aggregation
    assert(!p.contains("ObjectHashAggregate"), "training leaked into the query plan")
  }

  test("BFS leaves at most one live checkpoint (superseded blocks freed in-loop)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val e = graft.operators.Graph.edges(spark, sfDir)
    import spark.implicits._
    val starts = Tables.table(spark, sfDir, "customer")
      .limit(20).select(col("c_custkey").as("start"))
    val res = graft.operators.Graph.bfsVarLength(e, starts, maxDepth = 6)
    res.count() // consume
    val live = sc.getPersistentRDDs.size - before
    assert(live <= 1, s"expected ≤1 live checkpoint RDD after BFS, got $live")
  }

  test("Dedup.components: chains, cliques, and singleton-pair clusters") {
    import spark.implicits._
    // a 5-node chain (diameter 4 — forces multiple propagation rounds),
    // a triangle, and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain: cluster 1
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle: cluster 10
      (20L, 21L)) // pair: cluster 20
      .toDF("a", "b")
    val got = graft.operators.Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(got(_) == 1L), s"chain: $got")
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L), s"triangle: $got")
    assert(Seq(20L, 21L).forall(got(_) == 20L), s"pair: $got")
    // non-convergence guard: a 5-chain can't settle in 1 round —
    // DISTRIBUTED path only (the driver-local union-find finish always
    // reaches the fixpoint; gate 0 forces every round distributed)
    spark.conf.set("graft.localFinishEdges", "0")
    try intercept[IllegalStateException](
      graft.operators.Dedup.components(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b"),
        maxIters = 1).collect())
    finally spark.conf.unset("graft.localFinishEdges")
  }

  test("Dedup.components: local union-find finish ≡ distributed rounds (r17 path parity)") {
    import spark.implicits._
    // chain (diameter 4 — multi-round distributed), triangle, pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    def run(): Map[Long, Long] =
      graft.operators.Dedup.components(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run() // default gate: whole fixpoint on the driver
    spark.conf.set("graft.localFinishEdges", "0")
    val dist = try run() // gate 0: every round distributed
      finally spark.conf.unset("graft.localFinishEdges")
    assert(local == dist)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("Dedup.chunkDedup: first occurrence wins, within-doc dups drop, order kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"), // both chunks unique
      (2L, "a b c x y z"), // "a b c" already seen in doc 1 → dropped
      (3L, "x y z"), // whole doc is doc 2's surviving chunk → emptied
      (4L, "p q r p q r"), // within-doc repeat → second copy dropped
      (5L, "!!! ???")) // token-less doc survives as (0, 0, "")
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.chunkDedup(docs, chunkWords = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got.size == 5)
    assert(got(1L) == ((2L, 0L, "a b c d e f")))
    assert(got(2L) == ((2L, 1L, "x y z")))
    assert(got(3L) == ((1L, 1L, "")))
    assert(got(4L) == ((2L, 1L, "p q r")))
    assert(got(5L) == ((0L, 0L, "")))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.chunkDedup(docs, chunkWords = 0))
  }

  test("Dedup.duplicateSpans: maximal spans at any alignment, self-repeats count") {
    import spark.implicits._
    val docs = Seq(
      // docs 1/2 share a 5-token passage, offset differently → the two
      // overlapping 4-gram windows must merge into ONE 5-token span
      (1L, "the quick brown fox jumps over lazy dogs"),
      (2L, "said the quick brown fox jumps aloud"),
      // self-repetition: 4-gram "p q r s" occurs twice WITHIN doc 3 →
      // two disjoint spans of 4 in the same doc
      (3L, "p q r s gap1 gap2 p q r s"),
      // shorter than n → no grams, zero report
      (4L, "one two three"),
      (5L, "entirely unique words nowhere else repeated ever")) // no dups
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.duplicateSpans(docs, n = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size == 5)
    // "the quick brown fox jumps" = 5 tokens in both docs
    assert(got(1L) == ((8L, 1L, 5L)), s"got ${got(1L)}")
    assert(got(2L) == ((7L, 1L, 5L)), s"got ${got(2L)}")
    assert(got(3L) == ((10L, 2L, 8L)), s"got ${got(3L)}")
    assert(got(4L) == ((3L, 0L, 0L)))
    assert(got(5L) == ((7L, 0L, 0L)))
    intercept[IllegalArgumentException](
      graft.operators.Dedup.duplicateSpans(docs, n = 1))
  }

  test("Dedup.incrementalExact: corpus dups, in-batch dups, and keeps") {
    import spark.implicits._
    val corpus = Seq((100L, "alpha"), (101L, "beta")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha"), // already in corpus → dup_corpus
      (2L, "gamma"), // fresh, first → keep
      (3L, "gamma"), // repeat within batch → dup_batch
      (4L, "alpha")) // dup of corpus AND of batch row 1
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.incrementalExact(batch, corpus, md5(col("text")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
    assert(got(1L) == ((true, false, false)))
    assert(got(2L) == ((false, false, true)))
    assert(got(3L) == ((false, true, false)))
    assert(got(4L) == ((true, true, false)))
  }

  test("property: components equals union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(30)
      val pairs = (1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (pairs.nonEmpty) {
        // in-test union-find oracle (path compression, min-root)
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
            parent(hi) = lo }
        }
        val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
          .map(x => x -> find(x)).toMap
        val got = graft.operators.Dedup.components(pairs.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"trial $trial (n=$n, ${pairs.size} edges)")
      }
    }
  }

  test("concurrent upserts to one collection serialize (no lost updates)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-conc").toString
    val cols = new Collections(spark, dir)
    cols.create("conc", idCol = "id")
    val threads = (0 until 4).map { t =>
      new Thread(() => cols.upsert("conc",
        (t * 100 until t * 100 + 25).map(i => (i.toLong, s"v$t")).toDF("id", "v")))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // 4 disjoint batches of 25 — a racy points.tmp swap would lose whole
    // batches; the per-instance lock must land all 100
    assert(cols.count("conc") == 100)
  }

  test("a reader planned before a publish survives the generation swap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gen").toString
    val cols = new Collections(spark, dir)
    cols.create("g")
    cols.upsert("g", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // plan against the CURRENT generation (table resolves the symlink)
    val planned = cols.table("g").get
    cols.upsert("g", Seq((3L, "c")).toDF("id", "v")) // publish #2 swaps the link
    // the superseded generation is retained one publish, so the old plan
    // still collects (old swap semantics deleted its files mid-plan)
    assert(planned.count() == 2)
    assert(cols.count("g") == 3) // fresh reads see the new generation
  }

  test("Ivf.materializedIndexAt trains once per dataset and probes exactly") {
    import graft.operators.{Ivf, Knn}
    val src = IndexSource.table(spark, sfDir, "embeddings")
    val (cents, cells) = Ivf.materializedIndexAt(spark, src, "embedding", k = 4)
    assert(cents.nonEmpty && cents.length <= 4)
    val emb = Tables.table(spark, sfDir, "embeddings")
    assert(cells.count() == emb.count()) // assignment covers every vector
    // a second call is served from the materialized cache with the SAME
    // centroids (deterministic training + content-keyed Materialize)
    val (cents2, _) = Ivf.materializedIndexAt(spark, src, "embedding", k = 4)
    assert(cents.map(_._1).sameElements(cents2.map(_._1)))
    cents.zip(cents2).foreach { case ((_, a), (_, b)) => assert(a.sameElements(b)) }
    // full-nprobe search over the materialized index == exact top-k
    val viaIvf = Ivf.search(cells, "embedding", q, 5, cents, nprobe = cents.length,
      idCol = "vec_id").select("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = Knn.topK(emb, "embedding", q, 5, "cosine", idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(viaIvf == exact)
  }
}
