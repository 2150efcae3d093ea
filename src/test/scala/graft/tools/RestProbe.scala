package graft.tools

import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.JobMeter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-kind REST probe over the serving benchmark's shape: one 4-bucket
  * user collection of 5,000 points × 64-d clustered vectors, texts of
  * 8–20 Zipf words from a 2,000-word vocabulary, 4 categories, a price,
  * and 10,000 `link` edges; `local[4]`, one client over HTTP/1.1
  * keep-alive. For `GET /health` and each of the seven serving read
  * kinds (exact, category-filtered and `mode: accurate` kNN, BM25
  * `search/text`, `search/hybrid`, two-vector RRF `search/multi`, 2-hop
  * MATCH, point GET) it prints one
  * table row for `reps` hot requests (the kind's first request, repeated)
  * and one for `reps` fresh ones: median ms, Spark jobs, stages run,
  * shuffle bytes (written + read) and codegen compiles. Then it prints the
  * physical plan the exact-kNN route collected, and one row per write
  * kind — a 50-point upsert (30 replaced ids, 20 new), a 50-edge upsert
  * and a single-id point delete, `reps` requests each — with median ms,
  * jobs, stages, shuffle bytes and the files and bytes each request added
  * under the collection dir.
  * Usage: sbt "Test/runMain graft.tools.RestProbe [reps=9]"
  */
object RestProbe {

  private val Points = 5000
  private val Dim = 64
  private val Edges = 10000
  private val Vocab = 2000
  private val Clusters = 32
  private val K = 10

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(9)
    val spark = graft.SparkSpecBase.session
    val r = new SplittableRandom(11)
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(Clusters)(normalize(Array.fill(Dim)(r.nextGaussian().toFloat)))
    val vectors = Array.fill(Points)(normalize(
      centers(r.nextInt(Clusters)).map(x => (x + 0.08 * r.nextGaussian()).toFloat)))
    val zipfCdf = {
      val w = Array.tabulate(Vocab)(i => 1.0 / (i + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
      s"w${math.min(Vocab - 1, if (i >= 0) i else -i - 1)}"
    }
    val categories = Seq("c0", "c1", "c2", "c3")
    val points = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until Points).map(i => Row(i.toLong, vectors(i).toSeq,
        Seq.fill(8 + r.nextInt(13))(word()).mkString(" "),
        categories(r.nextInt(4)), r.nextDouble(1, 1000))), 4),
      StructType(Seq(StructField("id", LongType),
        StructField("vector", ArrayType(FloatType, containsNull = false)),
        StructField("text", StringType), StructField("category", StringType),
        StructField("price", DoubleType))))
    val edges = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until Edges).map(i => Row(i.toLong, r.nextInt(Points).toLong,
        r.nextInt(Points).toLong, "link")), 4),
      StructType(Seq(StructField("id", LongType), StructField("src", LongType),
        StructField("dst", LongType), StructField("label", StringType))))

    val dir = java.nio.file.Files.createTempDirectory("restprobe").toString
    val g = graft.Graft(spark, dir)
    g.collections.create("docs", idCol = "id", vectorCol = Some("vector"), buckets = 4)
    g.collections.upsert("docs", points)
    g.collections.upsertEdges("docs", edges)

    @volatile var lastPlan: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = lastPlan = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    /** (method, path, body) of a fresh request of `kind`. */
    def request(kind: String): (String, String, String) = {
      val base = "/collections/docs"
      def near(): Array[Float] =
        normalize(vectors(r.nextInt(Points)).map(x => (x + 0.05 * r.nextGaussian()).toFloat))
      val v = near()
      val vq = s""""vector":${v.mkString("[", ",", "]")},"top_k":$K"""
      // mid-frequency query words: Zipf ranks 10..199
      val text = s""""query":"w${10 + r.nextInt(190)} w${10 + r.nextInt(190)}""""
      val node = r.nextInt(Points)
      kind match {
        case "health" => ("GET", "/health", null)
        case "knn_exact" => ("POST", s"$base/search", s"{$vq}")
        case "knn_filtered" => ("POST", s"$base/search", s"""{$vq,"filter":{"condition":""" +
          s"""{"type":"eq","field":"category","value":"${categories(r.nextInt(4))}"}}}""")
        case "knn_ann" => ("POST", s"$base/search", s"""{$vq,"mode":"accurate"}""")
        case "bm25" => ("POST", s"$base/search/text", s"{$text,\"top_k\":$K}")
        case "hybrid" => ("POST", s"$base/search/hybrid", s"{$text,$vq}")
        case "fused" => ("POST", s"$base/search/multi", s"""{"vectors":[${v.mkString("[", ",", "]")},""" +
          s"""${near().mkString("[", ",", "]")}],"top_k":$K,"strategy":"rrf"}""")
        case "match2" => ("POST", s"$base/match", s"""{"match":"MATCH (a {id: $node})""" +
          """-[:link]->(b)-[:link]->(c) RETURN c.id AS d"}""")
        case "get" => ("GET", s"$base/points/$node", null)
      }
    }

    val srv = new RestServer(g, port = 0).start()
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    /** (ms, jobs, stages, shuffle bytes, codegen compiles) of one request. */
    def call(req: (String, String, String)): Seq[Double] = {
      val (method, path, body) = req
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}$path"))
      val built = method match {
        case "GET" => b.GET().build()
        case "DELETE" => b.DELETE().build()
        case _ => b.header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val m = JobMeter(spark) {
        val t0 = System.nanoTime()
        val resp = http.send(built, HttpResponse.BodyHandlers.ofString())
        (resp, (System.nanoTime() - t0) / 1e6)
      }
      val (resp, ms) = m.value
      require(resp.statusCode() == 200, s"$path: ${resp.body().take(300)}")
      Seq(ms, m.jobs.toDouble, m.stages.toDouble, m.shuffleBytes.toDouble,
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles).toDouble)
    }
    val colDir = java.nio.file.Paths.get(dir, "docs")
    /** Size of every file under the collection dir, by path. */
    def files(): Map[String, Long] = {
      val s = java.nio.file.Files.walk(colDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally s.close()
    }
    var nextPoint = Points.toLong
    var nextEdge = Edges.toLong
    val existing = new scala.util.Random(5).shuffle((0 until Points).map(_.toLong))
    var used = 0
    def replaced(n: Int): Seq[Long] = { used += n; existing.slice(used - n, used) }
    /** (method, path, body) of a fresh write of `kind`. */
    def write(kind: String): (String, String, String) = kind match {
      case "upsert 50 points" =>
        val ids = replaced(30) ++ (0 until 20).map { _ => nextPoint += 1; nextPoint }
        ("POST", "/collections/docs/points", ids.map { id =>
          val v = normalize(Array.fill(Dim)(r.nextGaussian().toFloat))
          s"""{"id":$id,"vector":${v.mkString("[", ",", "]")},"payload":""" +
            s"""{"text":"${word()} ${word()}","category":"c0","price":1.5}}"""
        }.mkString("""{"points":[""", ",", "]}"))
      case "upsert 50 edges" =>
        ("POST", "/collections/docs/graph/edges", (0 until 50).map { _ =>
          nextEdge += 1
          s"""{"id":$nextEdge,"source":${r.nextInt(Points)},"target":${r.nextInt(Points)},""" +
            """"label":"link"}"""
        }.mkString("""{"edges":[""", ",", "]}"))
      case "delete 1 point" =>
        (("DELETE", s"/collections/docs/points/${replaced(1).head}", null))
    }
    /** (ms, jobs, stages, shuffle bytes, new files, new bytes) of one write. */
    def callWrite(req: (String, String, String)): Seq[Double] = {
      val before = files()
      val m = call(req)
      val added = files().filter { case (p, _) => !before.contains(p) }
      m.take(4) ++ Seq(added.size.toDouble, added.values.sum.toDouble)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def row(kind: String, runs: Seq[Seq[Double]]): String = {
      val m = runs.transpose.map(median)
      f"| $kind%-20s | ${m(0)}%7.1f | ${m(1)}%4.0f | ${m(2)}%6.0f | ${m(3)}%9.0f | ${m(4)}%8.0f |"
    }
    try {
      println(s"median of $reps requests per row")
      println("| kind                 |      ms | jobs | stages | shuffle B | compiles |")
      println("|---|---|---|---|---|---|")
      for (kind <- Seq("health", "knn_exact", "knn_filtered", "knn_ann", "bm25", "hybrid",
          "fused", "match2", "get")) {
        val hot = request(kind)
        call(hot) // first request: ANN index build, BM25 stats, codegen
        println(row(s"$kind hot", Seq.fill(reps)(call(hot))))
        println(row(s"$kind fresh", Seq.fill(reps)(call(request(kind)))))
      }
      call(request("knn_exact"))
      println(s"---- exact kNN REST plan\n${lastPlan.executedPlan}")
      println(s"---- writes, median of $reps requests per row")
      println("| write                |      ms | jobs | stages | shuffle B | new files | new B |")
      println("|---|---|---|---|---|---|---|")
      for (kind <- Seq("upsert 50 points", "upsert 50 edges", "delete 1 point")) {
        val m = Seq.fill(reps)(callWrite(write(kind))).transpose.map(median)
        println(f"| $kind%-20s | ${m(0)}%7.1f | ${m(1)}%4.0f | ${m(2)}%6.0f | ${m(3)}%9.0f |" +
          f" ${m(4)}%9.0f | ${m(5)}%5.0f |")
      }
    } finally { srv.stop(); g.collections.drop("docs"); spark.stop() }
  }
}
