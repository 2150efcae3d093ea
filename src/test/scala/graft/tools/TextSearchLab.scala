package graft.tools

import graft.server.RestServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** BM25 and hybrid REST reads on a user collection, the shape of the
  * serving benchmark: 5,000 points × 64-d with Zipf-ish text over a
  * 2,000-word vocabulary in a 4-bucket collection, `local[4]`. Prints,
  * per kind, p50 ms / jobs / shuffle bytes over 11 fresh two-term
  * queries, the first BM25 read after a 50-point upsert, and each kind's
  * physical plan.
  * Usage: sbt "Test/runMain graft.tools.TextSearchLab"
  */
object TextSearchLab {

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkSpecBase.session
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textlab").toString
    val g = graft.Graft(spark, dir)
    val r = new scala.util.Random(11)
    def word(): String = s"w${(math.pow(r.nextDouble(), 2) * 2000).toInt}"
    def vec(): Seq[Float] = {
      val v = Seq.fill(64)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    def points(ids: Range) = ids.map(i =>
      (i.toLong, vec(), Seq.fill(8 + r.nextInt(16))(word()).mkString(" ")))
      .toDF("id", "vector", "text")
    g.collections.create("docs", idCol = "id", vectorCol = Some("vector"), buckets = 4)
    g.collections.upsert("docs", points(0 until 5000).repartition(4))

    val srv = new RestServer(g, port = 0).start()
    val http = HttpClient.newHttpClient()
    val jobs = new AtomicLong
    val shuffle = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
        }
    })
    // mid-frequency query words: ranks 100..600 of the Zipf-ish vocabulary
    def query(): String = s"w${100 + r.nextInt(500)} w${100 + r.nextInt(500)}"
    def body(kind: String, q: String): String = kind match {
      case "text" => s"""{"query": "$q", "top_k": 10}"""
      case "hybrid" => s"""{"query": "$q", "vector": ${vec().mkString("[", ",", "]")}, "top_k": 10}"""
    }
    /** (ms, jobs, shuffle bytes) of one REST search. */
    def call(kind: String, q: String): (Double, Long, Long) = {
      org.apache.spark.sql.graft.ListenerDrain(spark)
      val (j0, s0) = (jobs.get, shuffle.get)
      val t0 = System.nanoTime()
      val resp = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/collections/docs/search/$kind"))
        .POST(HttpRequest.BodyPublishers.ofString(body(kind, q)))
        .header("Content-Type", "application/json").build(),
        HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t0) / 1e6
      require(resp.statusCode() == 200, resp.body().take(300))
      org.apache.spark.sql.graft.ListenerDrain(spark)
      (ms, jobs.get - j0, shuffle.get - s0)
    }
    def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)
    try {
      for (kind <- Seq("text", "hybrid")) {
        val first = call(kind, query())
        val runs = Seq.fill(11)(call(kind, query()))
        println(f"$kind%-6s first ${first._1}%7.0f ms | fresh p50 ${median(runs.map(_._1))}%6.0f ms" +
          f" (min ${runs.map(_._1).min}%5.0f, max ${runs.map(_._1).max}%5.0f)" +
          s" | jobs ${median(runs.map(_._2))} | shuffle bytes ${median(runs.map(_._3))}")
      }
      g.collections.upsert("docs", points(5000 until 5050))
      val after = call("text", query())
      println(f"text   first read after a 50-point upsert ${after._1}%6.0f ms, jobs ${after._2}")
      val q = query()
      val v = vec().toList
      for ((kind, sql, params) <- Seq(
          ("text", s"SELECT * FROM docs WHERE text MATCH '$q' LIMIT 10", Map.empty[String, Any]),
          ("hybrid", s"SELECT * FROM docs WHERE text MATCH '$q' AND vector NEAR $$v LIMIT 10" +
            " USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)", Map[String, Any]("v" -> v)))) {
        val df = g.sql(sql, params)
        df.collect()
        println(s"---- $kind physical plan\n${df.queryExecution.executedPlan}")
      }
    } finally { srv.stop(); g.collections.drop("docs"); spark.stop() }
  }
}
