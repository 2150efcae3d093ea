package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Graft
import graft.velesql.Parser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, struct}

/** One serving read. `vec`, `cat`, `words` and `node` are the request's
  * parameters; which ones a kind uses is fixed by the kind. */
final case class Req(kind: String, hot: Boolean, vec: Array[Float], cat: String,
    words: Seq[String], node: Long) {
  def queryText: String = words.mkString(" ")
}

/** The write operations of the serve-write script. */
sealed trait WriteOp { def kind: String }
final case class Upsert(points: Seq[Point]) extends WriteOp { val kind = "upsert" }
final case class UpsertEdges(edges: Seq[Edge]) extends WriteOp { val kind = "upsert_edges" }
final case class Delete(ids: Seq[Long]) extends WriteOp { val kind = "delete" }

object Requests {
  val Collection = "docs"
  val K = 10

  /** Read kinds and their share of the read mix. */
  val ReadMix: Seq[(String, Double)] = Seq(
    "knn_exact" -> 0.30, "knn_filtered" -> 0.15, "knn_ann" -> 0.15,
    "bm25" -> 0.10, "hybrid" -> 0.10, "match2" -> 0.10, "get" -> 0.10)

  val mapper = new ObjectMapper()

  /** A fresh read of `kind`: the query vector is a stored point's vector
    * plus noise, the text query two mid-frequency words, the start node
    * and the GET id random stored ids. */
  def fresh(c: Corpus, r: java.util.SplittableRandom, kind: String, hot: Boolean): Req = {
    val base = c.points(r.nextInt(c.nPoints)).vector
    val v = Corpus.normalize(base.map(x => (x + 0.05 * r.nextGaussian()).toFloat))
    Req(kind, hot, v, Corpus.Categories(r.nextInt(Corpus.Categories.length)),
      Seq(c.queryWord(r), c.queryWord(r)), r.nextInt(c.nPoints).toLong)
  }

  def matchText(node: Long): String =
    s"MATCH (a {id: $node})-[:${Corpus.EdgeLabel}]->(b)-[:${Corpus.EdgeLabel}]->(c) RETURN c.id AS d"

  /** VelesQL text + params the REST route builds for a search kind. The
    * vector param is a List, as the route's JSON decoding yields, so an
    * in-process call and a REST call of one request share a plan-memo
    * entry (the memo key includes the param's class). */
  def vql(q: Req): (String, Map[String, Any]) = {
    val n = Collection
    val v: Map[String, Any] = Map("__v" -> q.vec.toList)
    def lit(s: String) = s"'${s.replace('\'', ' ')}'"
    q.kind match {
      case "knn_exact" => (s"SELECT * FROM $n WHERE vector NEAR $$__v LIMIT $K", v)
      case "knn_filtered" =>
        (s"SELECT * FROM $n WHERE category = $$f0 AND vector NEAR $$__v LIMIT $K",
          v + ("f0" -> q.cat))
      case "knn_ann" =>
        (s"SELECT * FROM $n WHERE vector NEAR $$__v LIMIT $K WITH (mode = 'accurate')", v)
      case "bm25" => (s"SELECT * FROM $n WHERE text MATCH ${lit(q.queryText)} LIMIT $K", Map.empty)
      case "hybrid" =>
        (s"SELECT * FROM $n WHERE text MATCH ${lit(q.queryText)} AND vector NEAR $$__v LIMIT $K" +
          " USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)", v)
      case "match2" => (matchText(q.node), Map.empty)
      case other => throw new IllegalArgumentException(s"no VelesQL for $other")
    }
  }

  private def vecJson(v: Array[Float]): String = v.map(_.toString).mkString("[", ",", "]")

  /** (method, path, body) of the REST request for a read. */
  def rest(q: Req): (String, String, String) = {
    val base = s"/collections/$Collection"
    val vq = s"\"vector\":${vecJson(q.vec)},\"top_k\":$K"
    val txt = Stats.str(q.queryText)
    q.kind match {
      case "knn_exact" => ("POST", s"$base/search", s"{$vq}")
      case "knn_filtered" => ("POST", s"$base/search",
        s"{$vq,\"filter\":{\"condition\":{\"type\":\"eq\",\"field\":\"category\",\"value\":${Stats.str(q.cat)}}}}")
      case "knn_ann" => ("POST", s"$base/search", s"{$vq,\"mode\":\"accurate\"}")
      case "bm25" => ("POST", s"$base/search/text", s"{\"query\":$txt,\"top_k\":$K}")
      case "hybrid" => ("POST", s"$base/search/hybrid", s"{\"query\":$txt,$vq}")
      case "match2" => ("POST", s"$base/match", s"{\"match\":${Stats.str(matchText(q.node))}}")
      case "get" => ("GET", s"$base/points/${q.node}", null)
    }
  }

  def pointDoc(p: Point): String =
    s"{\"id\":${p.id},\"vector\":${vecJson(p.vector)},\"text\":${Stats.str(p.text)}," +
      s"\"category\":${Stats.str(p.category)},\"price\":${p.price}}"

  /** REST requests of a write op (a 10-id delete is 10 single-id calls —
    * the REST surface deletes one point per request). */
  def rest(w: WriteOp): Seq[(String, String, String)] = {
    val base = s"/collections/$Collection"
    w match {
      case Upsert(ps) => Seq(("POST", s"$base/points", ps.map { p =>
        s"{\"id\":${p.id},\"vector\":${vecJson(p.vector)},\"payload\":{\"text\":" +
          s"${Stats.str(p.text)},\"category\":${Stats.str(p.category)},\"price\":${p.price}}}"
      }.mkString("{\"points\":[", ",", "]}")))
      case UpsertEdges(es) => Seq(("POST", s"$base/graph/edges", es.map(e =>
        s"{\"id\":${e.id},\"source\":${e.src},\"target\":${e.dst},\"label\":\"${Corpus.EdgeLabel}\"}")
        .mkString("{\"edges\":[", ",", "]}")))
      case Delete(ids) => ids.map(id => ("DELETE", s"$base/points/$id", null))
    }
  }

  /** Result rows of a read as JSON strings, in the REST response shape. */
  def rows(kind: String, body: String): Seq[JsonNode] = {
    val n = mapper.readTree(body)
    if (kind == "get") Seq(n)
    else {
      val it = n.get("results").elements()
      val b = Seq.newBuilder[JsonNode]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }
}

/** Blocking HTTP client for the in-process REST server. */
final class RestClient(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(30)).build()

  /** (status, body). */
  def call(method: String, path: String, body: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(150))
    val req = method match {
      case "GET" => b.GET().build()
      case "DELETE" => b.DELETE().build()
      case _ => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    }
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

/** The calls a REST route makes, issued in-process, with a span around
  * each layer call: parse, compile, plan, execute. */
final class InProcess(g: Graft) {
  import Requests.Collection

  /** identity of the DataFrame a (query, params) call returned before:
    * the plan memo hits when the same instance comes back */
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  val sqlCalls = new java.util.concurrent.atomic.AtomicLong()
  val memoHits = new java.util.concurrent.atomic.AtomicLong()

  private def sql(text: String, params: Map[String, Any], scope: Option[String],
      tr: Tracer): DataFrame = {
    // a fresh parse of the request text, timed on its own; the route's
    // own parse goes through Graft's parse cache inside graft.sql
    if (tr.enabled) tr.span("velesql.parse")(Parser.parse(text))
    val df = tr.span("graft.sql")(g.sql(text, params, graphScope = scope))
    val key = text + "\u0000" + params.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${v match { case s: Seq[_] => s.mkString(",") case o => o }}" }
      .mkString(";") + scope
    sqlCalls.incrementAndGet()
    val prev = seen.putIfAbsent(key, df)
    if (prev != null) { if (prev eq df) memoHits.incrementAndGet() else seen.put(key, df) }
    df
  }

  private def run(df: DataFrame, tr: Tracer): Array[String] = {
    val js = df.toJSON
    tr.span("catalyst.plan")(js.queryExecution.executedPlan)
    tr.span("spark.execute")(js.collect())
  }

  /** Result rows (JSON) of a read, shaped like the route's response rows. */
  def read(q: Req, tr: Tracer): Seq[JsonNode] = tr.span("server.request") {
    val out: Array[String] = q.kind match {
      case "get" =>
        tr.span("spark.execute")(g.collections.get(Collection, Seq(q.node)).toJSON.collect())
      case "match2" =>
        val (text, params) = Requests.vql(q)
        run(sql(text, params, Some(Collection), tr), tr)
      case _ =>
        val (text, params) = Requests.vql(q)
        val df = sql(text, params, None, tr)
        val idCol = g.catalog.metaOf(Collection).idCol
        val rest = df.columns.filterNot(c => c == idCol || c == "score")
        run(df.select(col(idCol).as("id"),
          if (df.columns.contains("score")) col("score") else lit(1.0).as("score"),
          struct(rest.map(col).toIndexedSeq: _*).as("payload")), tr)
    }
    out.toSeq.map(s => Requests.mapper.readTree(s))
  }

  /** A write op through the Collections calls the REST routes make. */
  def write(w: WriteOp, tr: Tracer): Unit = tr.span("server.request") {
    import g.spark.implicits._
    w match {
      case Upsert(ps) =>
        val df = g.spark.read.json(g.spark.createDataset(ps.map(Requests.pointDoc)))
          .withColumn("id", col("id").cast("long"))
          .withColumn("vector", col("vector").cast("array<float>"))
        tr.span("collections.upsert")(g.collections.upsert(Collection, df))
      case UpsertEdges(es) =>
        val docs = es.map(e =>
          s"{\"id\":${e.id},\"src\":${e.src},\"dst\":${e.dst},\"label\":\"${Corpus.EdgeLabel}\"}")
        val df = g.spark.read.json(g.spark.createDataset(docs))
          .withColumn("src", col("src").cast("long"))
          .withColumn("dst", col("dst").cast("long"))
          .withColumn("id", col("id").cast("long"))
        tr.span("collections.upsert_edges")(g.collections.upsertEdges(Collection, df))
      case Delete(ids) =>
        tr.span("collections.delete")(g.collections.delete(Collection, ids))
    }
  }
}
