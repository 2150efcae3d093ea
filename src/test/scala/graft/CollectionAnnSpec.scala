package graft

import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.functions._

/** Materialized ANN structures over USER collections (the reference's
  * auto-indexed-collection surface, index/hnsw/native_index.rs:317):
  * LSH buckets / IVF cells / PQ codes stamp on the current points
  * generation and rebuild after a publish. Recall + rebuild semantics
  * are oracle-pinned by q142_collection_ann; these specs pin plan
  * structure, generation invalidation, and REST reachability. */
class CollectionAnnSpec extends SparkSpecBase {

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-colann")
  private lazy val g = {
    val g0 = Graft(spark, tmp.toString)
    import spark.implicits._
    val rows = (1L to 200L).map { i =>
      (i, (0 until 16).map(d => math.sin(i * 0.37 + d * 1.3).toFloat))
    }
    g0.collections.create("vecs", idCol = "id", vectorCol = Some("vec"))
    g0.collections.upsert("vecs", rows.toDF("id", "vec"))
    g0
  }
  private val q: Seq[Float] = (0 until 16).map(d => math.cos(d * 0.7).toFloat)

  /** The `graft-derived` cache token of a collection's index source. */
  private def tokenOf(name: String): String =
    Materialize.tokenKey(Collections.indexToken(tmp.toString, name))

  /** `graft-derived` cache entries of one collection's index source. */
  private def derivedOf(name: String): Set[String] = {
    val parent = java.nio.file.Paths.get(s"${sys.props("java.io.tmpdir")}/graft-derived")
    if (!java.nio.file.Files.isDirectory(parent)) Set.empty
    else {
      val s = java.nio.file.Files.list(parent)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).filter(_.contains(tokenOf(name))).toSet
      } finally s.close()
    }
  }

  test("probed collection search scans the materialized bucket index, pruned") {
    val df = g.sql("SELECT id, score FROM vecs WHERE vector NEAR $q LIMIT 10 " +
      "WITH (mode = 'accurate')", Map("q" -> q))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("bucket"), s"expected the bucket index scan in:\n$plan")
    assert(df.collect().length == 10)
  }

  test("ivf tier on a collection probes cells, not the base frame") {
    val df = g.sql("SELECT id FROM vecs WHERE vector NEAR $q LIMIT 10 " +
      "WITH (mode = 'accurate', index = 'ivf')", Map("q" -> q))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cell"), s"expected the cell index scan in:\n$plan")
    assert(df.collect().length == 10)
  }

  test("a publish invalidates the materialized index (new generation stamp)") {
    import spark.implicits._
    // the q vector itself lands after the index was first materialized
    g.collections.upsert("vecs", Seq((999L, q)).toDF("id", "vec"))
    val after = g.sql("SELECT id FROM vecs WHERE vector NEAR $q LIMIT 3 " +
      "WITH (mode = 'accurate')", Map("q" -> q))
      .collect().map(_.getLong(0)).toSeq
    assert(after.headOption.contains(999L),
      s"rebuilt index must surface the upserted exact match, got $after")
    // and the exact scan agrees on the winner
    val exact = g.sql("SELECT id FROM vecs WHERE vector NEAR $q LIMIT 1",
      Map("q" -> q)).collect().map(_.getLong(0)).toSeq
    assert(exact == Seq(999L))
  }

  test("never-written collections fall back cleanly (no index source)") {
    g.collections.create("emptycol", idCol = "id", vectorCol = Some("vec"))
    // LSH tier: on-the-fly signature path over the empty declared frame
    val lsh = g.sql("SELECT id FROM emptycol WHERE vector NEAR $q LIMIT 5 " +
      "WITH (mode = 'accurate')", Map("q" -> q))
    assert(lsh.collect().isEmpty)
    // trained structures need data: loud failure, not a silent empty
    val e = intercept[Exception] {
      g.sql("SELECT id FROM emptycol WHERE vector NEAR $q LIMIT 5 " +
        "WITH (mode = 'accurate', index = 'ivf')", Map("q" -> q))
    }
    assert(e.getMessage.contains("written user collection"))
  }

  test("concurrent first-touch probes race one index build safely") {
    import spark.implicits._
    // a FRESH collection so no index exists yet: N threads all trigger
    // the materialize; the synchronized build + atomic publish must
    // yield one index and identical, correct results for every thread
    g.collections.create("racecol", idCol = "id", vectorCol = Some("vec"))
    val rows = (1L to 120L).map { i =>
      (i, (0 until 16).map(d => math.sin(i * 0.53 + d * 0.9).toFloat))
    }
    g.collections.upsert("racecol", rows.toDF("id", "vec"))
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 4).map(_ => Future {
        g.sql("SELECT id FROM racecol WHERE vector NEAR $q LIMIT 5 " +
          "WITH (mode = 'accurate')", Map("q" -> q))
          .collect().map(_.getLong(0)).toSeq
      })
      val results = Await.result(Future.sequence(futures), 120.seconds)
      assert(results.distinct.size == 1,
        s"racing probes disagreed: ${results.distinct}")
      assert(results.head.size == 5)
    } finally pool.shutdown()
  }

  test("superseded index generations are pruned (keep current + one)") {
    import spark.implicits._
    g.collections.create("gc", idCol = "id", vectorCol = Some("vec"))
    // r11: the LSH index over a bucketed collection is maintained PER
    // STORAGE PIECE (`pieces` of Ann.materializedIndexAt) — retention applies
    // per piece: each bucket keeps its current cache plus at most the
    // one superseded sibling
    def pieceGens(): Map[String, Int] = {
      // v4 key shape: v4_<len>k<kind>_<len>t<token>__<stamp>
      val piece = s"^v4_\\d+k(lsh6_p\\d+)_gc_\\d+t${java.util.regex.Pattern.quote(tokenOf("gc"))}__.*$$".r
      derivedOf("gc").toSeq.flatMap {
        case piece(p) => Some(p)
        case _ => None
      }.groupBy(identity).view.mapValues(_.size).toMap
    }
    for (round <- 1 to 3) {
      val rows = (1L to (50L * round)).map { i =>
        (i, (0 until 16).map(d => math.sin(i * 0.29 + d * 1.1).toFloat))
      }
      g.collections.upsert("gc", rows.toDF("id", "vec"))
      g.sql("SELECT id FROM gc WHERE vector NEAR $q LIMIT 5 " +
        "WITH (mode = 'accurate')", Map("q" -> q)).collect()
    }
    val gens = pieceGens()
    assert(gens.nonEmpty, "current piece caches must survive")
    gens.foreach { case (p, n) =>
      assert(n <= 2, s"stale index generations not pruned for $p: $n")
    }
  }

  test("every probing tier shares one filtered, delta-aware probe route") {
    import spark.implicits._
    // 4 id-hash buckets, then one delta segment that re-labels and moves
    // ids 1-40 and deletes 41-45: a stale base copy of any of them
    // would surface with its old label or as a deleted id
    def vec(i: Long, s: Double) = (0 until 16).map(d => math.sin(i * s + d * 1.3).toFloat)
    g.collections.create("tiers", idCol = "id", vectorCol = Some("vec"), buckets = 4)
    g.collections.upsert("tiers", (1L to 300L).map(i => (i, vec(i, 0.37), (i % 3).toInt, 1))
      .toDF("id", "vec", "label", "version"))
    g.collections.upsert("tiers", (1L to 40L).map(i => (i, vec(i, 0.71), ((i + 1) % 3).toInt, 2))
      .toDF("id", "vec", "label", "version"))
    g.collections.delete("tiers", 41L to 45L)
    assert(g.collections.readManifest("tiers").get.segments.nonEmpty,
      "the collection must carry a delta segment")
    val live = g.collections.table("tiers").get.select("id", "label", "version")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // the query sits on a re-labelled delta row that passes the filter
    val qv = vec(3L, 0.71)
    assert(live(3L) == ((1, 2)))
    val tiers = Seq("mode = 'fast'", "mode = 'balanced'", "mode = 'accurate'",
      "mode = 'accurate', index = 'ivf'", "mode = 'accurate', index = 'hnsw'",
      "mode = 'accurate', index = 'ivf', quantization = 'pq'")
    tiers.foreach { w =>
      val rows = g.sql("SELECT id, label, version FROM tiers WHERE label = 1 " +
        s"AND vector NEAR $$q LIMIT 8 WITH ($w)", Map("q" -> qv)).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
      assert(rows.nonEmpty && rows.size <= 8, s"$w: ${rows.size} rows")
      assert(rows.map(_._1).distinct.size == rows.size, s"$w: duplicate ids $rows")
      rows.foreach { case (id, label, version) =>
        assert(label == 1, s"$w: row $id fails the filter")
        assert(live.get(id).contains((label, version)),
          s"$w: row $id ($label, v$version) is superseded or deleted")
      }
      assert(rows.head._1 == 3L, s"$w: the exact delta match must rank first, got $rows")
    }
  }

  test("a bad WITH clause fails before any index is materialized") {
    import spark.implicits._
    g.collections.create("unbuilt", idCol = "id", vectorCol = Some("vec"), buckets = 4)
    g.collections.upsert("unbuilt", (1L to 100L).map { i =>
      (i, (0 until 16).map(d => math.sin(i * 0.41 + d * 0.8).toFloat))
    }.toDF("id", "vec"))
    val before = derivedOf("unbuilt")
    Seq("mode = 'accurate', quantization = 'pq'",
      "mode = 'accurate', index = 'hnsw', quantization = 'pq'",
      "mode = 'accurate', index = 'ivf', quantization = 'bogus'",
      "mode = 'accurate', rerank = 'maybe'").foreach { w =>
      val m = org.apache.spark.sql.graft.JobMeter(spark) {
        intercept[graft.velesql.SemanticError] {
          g.sql(s"SELECT id FROM unbuilt WHERE vector NEAR $$q LIMIT 5 WITH ($w)",
            Map("q" -> q))
        }
      }
      assert(m.jobs == 0, s"$w ran ${m.jobs} Spark job(s) before failing: ${m.descriptions}")
      assert(derivedOf("unbuilt") == before, s"$w materialized an index before failing")
    }
  }

  test("pq over probed ivf cells with a WHERE reads each cells piece once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    g.collections.create("pqcells", idCol = "id", vectorCol = Some("vec"))
    g.collections.upsert("pqcells", (1L to 200L).map { i =>
      (i, (0 until 16).map(d => math.sin(i * 0.37 + d * 1.3).toFloat), (i % 3).toInt)
    }.toDF("id", "vec", "label"))
    val df = g.sql("SELECT id, label FROM pqcells WHERE label = 1 AND vector NEAR $q " +
      "LIMIT 10 WITH (mode = 'accurate', index = 'ivf', quantization = 'pq')", Map("q" -> q))
    val rows = df.collect()
    assert(rows.length == 10 && rows.forall(_.getInt(1) == 1), rows.toSeq)
    // one scan per cells piece (a bucketed collection has several), none twice
    val cellPaths = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten.filter(_.contains("ivf8_cells"))
    assert(cellPaths.nonEmpty && cellPaths.distinct.size == cellPaths.size,
      s"a cells piece is scanned twice in:\n${df.queryExecution.executedPlan}")
  }

  test("REST search reaches the probed tiers on a user collection") {
    val srv = new RestServer(g, port = 0).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val client = HttpClient.newHttpClient()
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json").build(),
          HttpResponse.BodyHandlers.ofString())
      val body = s"""{"vector": [${q.mkString(", ")}], "top_k": 3,
                    | "mode": "accurate", "index": "ivf"}""".stripMargin
      val r = post("/collections/vecs/search", body)
      assert(r.statusCode() == 200, r.body())
      val ids = """"id":(\d+)""".r.findAllMatchIn(r.body()).map(_.group(1).toLong).toSeq
      assert(ids.nonEmpty, r.body())
      // hnsw is a valid kind since r11 — without a probing mode it is
      // still a loud 400 (no silent no-op); truly unknown kinds reject
      // at the route layer before any VelesQL is generated
      val bad = post("/collections/vecs/search",
        s"""{"vector": [${q.mkString(", ")}], "top_k": 3, "index": "hnsw"}""")
      assert(bad.statusCode() == 400 && bad.body().contains("probing mode"))
      val unknown = post("/collections/vecs/search",
        s"""{"vector": [${q.mkString(", ")}], "top_k": 3, "index": "btree"}""")
      assert(unknown.statusCode() == 400 && unknown.body().contains("unknown index"))
    } finally srv.stop()
  }

  test("a point without a vector never ranks: every NEAR tier agrees, per metric") {
    import spark.implicits._
    // 40 points near q; ids 3, 13, 23, 33 have no vector. The exact,
    // LSH, IVF, NEAR_FUSED and hybrid answers must be the same ids, none
    // vector-less, and every score present (an ascending metric used to
    // rank the null scores first)
    val nulls = Set(3L, 13L, 23L, 33L)
    val q8 = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val rows = (0L until 40L).map { i =>
      (i, if (nulls(i)) None else Some(q8.updated(1 + (i % 7).toInt, 0.01f * i)),
        if (nulls(i)) "alpha" else "beta")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-nullvec").toString
    val g2 = Graft(spark, dir)
    try for (metric <- Seq("cosine", "euclidean", "dot")) {
      val c = s"p_$metric"
      g2.collections.create(c, idCol = "id", vectorCol = Some("vector"), metric = metric,
        buckets = 2)
      g2.collections.upsert(c, rows.toDF("id", "vector", "text"))
      val near = s"SELECT id, score FROM $c WHERE vector NEAR $$q LIMIT 5"
      val answers = Seq(
        "exact" -> near,
        "lsh" -> s"$near WITH (mode = 'accurate')",
        "ivf" -> s"$near WITH (mode = 'accurate', index = 'ivf')",
        "near_fused" -> (s"SELECT id, score FROM $c WHERE vector NEAR_FUSED [$$q, $$q] " +
          "USING FUSION 'rrf' LIMIT 5"),
        "hybrid" -> (s"SELECT * FROM $c WHERE text MATCH 'alpha' AND vector NEAR $$q LIMIT 5 " +
          "USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)")
      ).map { case (tier, sql) =>
        tier -> g2.sql(sql, Map("q" -> q8)).select("id", "score").collect()
          .map(r => (r.getLong(0), Option(r.get(1)))).toSeq
      }
      answers.foreach { case (tier, got) =>
        assert(got.forall(_._2.isDefined), s"$metric/$tier: a null score ranks: $got")
        if (tier != "hybrid")
          assert(!got.exists(r => nulls(r._1)), s"$metric/$tier: a vector-less point ranks: $got")
        else // the text leg alone ranks the vector-less points, after the vector leg's best
          assert(got.map(_._1).take(1) == Seq(0L) && got.count(r => nulls(r._1)) <= 4,
            s"$metric/$tier: $got")
      }
      val ids = answers.toMap.map { case (t, got) => t -> got.map(_._1) }
      assert(ids("exact") == Seq(0L, 1L, 2L, 4L, 5L), s"$metric: exact ${ids("exact")}")
      Seq("lsh", "ivf", "near_fused").foreach(t =>
        assert(ids(t) == ids("exact"), s"$metric/$t: ${ids(t)} vs exact ${ids("exact")}"))
    } finally graft.Collections.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("drop reclaims the collection's index artifacts, count sidecars and cached listings") {
    import spark.implicits._
    val name = "dropme"
    def create(seed: Double): Unit = {
      g.collections.create(name, idCol = "id", vectorCol = Some("vec"))
      g.collections.upsert(name, (1L to 120L).map { i =>
        (i, (0 until 16).map(d => math.sin(i * seed + d * 0.9).toFloat))
      }.toDF("id", "vec"))
    }
    def tiers(): Seq[Seq[Long]] = Seq("mode = 'accurate'", "mode = 'accurate', index = 'ivf'",
        "mode = 'accurate', index = 'hnsw'").map { w =>
      g.sql(s"SELECT id FROM $name WHERE vector NEAR $$q LIMIT 5 WITH ($w)", Map("q" -> q))
        .collect().map(_.getLong(0)).toSeq
    }
    val counts = java.nio.file.Paths.get(s"${sys.props("java.io.tmpdir")}/graft-derived/counts")
    def sidecars(): Seq[String] =
      if (!java.nio.file.Files.isDirectory(counts)) Nil
      else {
        val s = java.nio.file.Files.list(counts)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).filter(_.contains(tokenOf(name))).toSeq
        } finally s.close()
      }
    create(0.53)
    tiers()
    assert(derivedOf(name).nonEmpty && sidecars().nonEmpty, "the tiers built their artifacts")
    g.collections.drop(name)
    assert(derivedOf(name).isEmpty, s"stranded artifacts: ${derivedOf(name)}")
    assert(sidecars().isEmpty, s"stranded count sidecars: ${sidecars()}")
    // the same name over new rows reads the new rows on every tier
    create(0.29)
    val exact = g.sql(s"SELECT id FROM $name WHERE vector NEAR $$q LIMIT 5", Map("q" -> q))
      .collect().map(_.getLong(0)).toSeq
    assert(tiers().forall(_.head == exact.head), s"re-created collection: ${tiers()} vs $exact")
    g.collections.drop(name)
  }

  test("dropping a collection spares one whose name differs only in a non-word char") {
    import spark.implicits._
    // `a b` and `a_b` once mapped to one file-name token, so dropping
    // `a b` deleted `a_b`'s live artifacts
    val (gone, kept) = ("a b", "a_b")
    for (n <- Seq(gone, kept)) {
      g.collections.create(n, idCol = "id", vectorCol = Some("vec"))
      g.collections.upsert(n, (1L to 120L).map { i =>
        (i, (0 until 16).map(d => math.sin(i * 0.41 + d * 0.9).toFloat))
      }.toDF("id", "vec"))
    }
    def tiers(n: String): Seq[Seq[Long]] = Seq("mode = 'accurate'",
        "mode = 'accurate', index = 'ivf'").map { w =>
      g.sql(s"SELECT id FROM `$n` WHERE vector NEAR $$q LIMIT 5 WITH ($w)", Map("q" -> q))
        .collect().map(_.getLong(0)).toSeq
    }
    try {
      tiers(gone)
      tiers(kept)
      val hot = org.apache.spark.sql.graft.JobMeter(spark)(tiers(kept))
      val built = derivedOf(kept)
      assert(built.nonEmpty && derivedOf(gone).nonEmpty, "both built their artifacts")
      assert(built.intersect(derivedOf(gone)).isEmpty, "the two share no artifact")
      g.collections.drop(gone)
      assert(derivedOf(gone).isEmpty, s"stranded artifacts: ${derivedOf(gone)}")
      assert(derivedOf(kept) == built, s"'$kept' lost artifacts: ${built -- derivedOf(kept)}")
      // no rebuild: the same answers from as many jobs as a hot read
      val after = org.apache.spark.sql.graft.JobMeter(spark)(tiers(kept))
      assert(after.value == hot.value)
      assert(after.jobs <= hot.jobs, s"'$kept' rebuilt: ${after.descriptions} vs ${hot.descriptions}")
    } finally Seq(gone, kept).filter(g.collections.exists).foreach(g.collections.drop)
  }
}
