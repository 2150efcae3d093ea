package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.Graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Thin REST façade over [[Graft]] (SURVEY.md §2.1 S8).
  *
  * Route surface follows the reference server
  * (crates/velesdb-server/src/lib.rs:74-124 route list; request/response
  * shapes from src/types.rs:90-320):
  *
  *   - `GET  /health`                         → `{"status":"ok"}`
  *   - `POST /query`                          → `{query, params}` → unified
  *     response `{type, count, timing_ms, results}` (types.rs:296-320)
  *   - `POST /query/explain`                  → `{query}` → `{steps}`
  *   - `POST /analytics/events`               → `{op: window|sessions|attribution,
  *                                               mode?: batch|stream, params?, limit?}`
  *                                               — mode picks plain-batch twin vs
  *                                               micro-batch execution, same rows
  *   - `GET  /collections` / `POST /collections` / `DELETE|GET /collections/{n}`
  *   - `POST /collections/{n}/points`         → `{points: [{id, vector, payload}]}`
  *   - `GET|DELETE /collections/{n}/points/{id}`
  *   - `POST /collections/{n}/search`         → `{vector, top_k, mode?, ef_search?}`
  *   - `POST /collections/{n}/search/batch`   → `{searches: [SearchRequest…]}`
  *   - `POST /collections/{n}/search/multi`   → `{vectors, top_k, strategy, …}`
  *     (multi-query fused search → NEAR_FUSED; types.rs:214-234)
  *   - `POST /collections/{n}/search/text`    → `{query, top_k}` (ranked
  *     BM25: the top_k rows by score desc, id asc)
  *   - `POST /collections/{n}/search/hybrid`  → `{query, vector, top_k}` (RRF)
  *   - `POST /collections/{n}/match`          → `{match}` (MATCH … RETURN … —
  *     covers the reference's graph traverse/degree routes via the language)
  *
  * Every search route is sugar that compiles to VelesQL text and runs
  * through the same [[Graft.sql]] path as the language — the server adds
  * NO second query engine (the reference handlers likewise delegate to
  * `Database`). Built on the JDK's `com.sun.net.httpserver` (public JDK
  * API) so the zero-dependency build constraint holds.
  *
  * Also served for parity: `GET /collections/{n}/empty` (the reference's
  * `is_empty` check, handlers/collections.rs:212-241), `POST
  * /collections/{n}/empty` (extension: delete all points AND all edges —
  * an emptied collection must not keep edges whose endpoints are gone),
  * `POST /collections/{n}/flush` (no-op acknowledgment — parquet
  * upserts are durable; the reference flushes its WAL), graph
  * `nodes/{id}/degree` + `traverse`, per-collection mutable edges
  * (`POST /collections/{n}/graph/edges` upsert + `DELETE …/edges/{id}`,
  * graph_api.rs:40-107 / velesdb-server lib.rs:74-124 — MATCH, degree
  * and traverse on a USER collection run over ITS edge store; on the
  * built-in dataset tables they run over the derived TPC-H graph), and
  * `GET /metrics` (Prometheus text counters per route), and (r8)
  * `/collections/{n}/indexes` POST/GET/DELETE (handlers/indexes.rs —
  * property/range indexes realized as range-clustered parquet, see
  * `Collections.createIndex`; with that, every reference route is
  * served).
  *
  * Driver-sided by design: each result row is rendered to JSON inside the
  * query plan ([[RestServer.jsonRows]]) and collected, so routes are
  * for top-k/aggregate-sized answers, not bulk export — identical to the
  * reference's HTTP contract. Bulk reads go through KEYSET scroll
  * pagination (`GET /collections/{n}/points?limit=&after_id=`, the
  * snapshot points route, and the edge listing's
  * `after_source`/`after_target`): cursor predicates push into the
  * pruned parquet scan, so page k never re-reads pages 1..k-1 — the
  * bound on every driver-side collect is explicit in the API.
  */
class RestServer(g: Graft, port: Int = 0) {

  import RestServer.jsonRows

  private val mapper = new ObjectMapper()
  // TCP_NODELAY on every accepted connection: a response leaves as two
  // writes (headers, then body), and with Nagle on the body waits for
  // the client's delayed ACK of the headers (~40 ms per request). The
  // JDK's ServerConfig reads this property once, at class init, i.e. at
  // the first HttpServer.create in the JVM — so it is set before it.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  // small pool: a long Spark query must not block /health or /metrics
  // (and concurrent mutation is what the Collections lock serializes)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  private val startedAt = System.nanoTime()
  private val requestCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val errorCount = new java.util.concurrent.atomic.AtomicLong()
  /** Known route verbs under /collections/{name}/… — everything else is
    * labeled "other" so a noisy client can't grow the counter map (and
    * the /metrics payload) without bound. */
  private val KnownVerbs = Set("search", "points", "graph", "match", "empty", "flush",
    "batch", "multi", "text", "hybrid", "traverse", "nodes", "degree", "edges",
    "indexes", "shortest_paths", "pagerank", "triangles", "components",
    "communities", "modularity", "kcore", "link_predict", "snapshots", "restore")
  private def countRequest(path: String, code: Int): Unit = {
    // low-cardinality route label: collapse collection names and ids
    val route = path.split("/").filter(_.nonEmpty).toList match {
      case "collections" :: Nil => "/collections"
      case "collections" :: _ :: rest =>
        val tail = rest.map {
          case s if s.forall(_.isDigit) => "{id}"
          case s if KnownVerbs(s) => s
          case _ => "other"
        }
        ("collections" :: "{name}" :: tail).mkString("/", "/", "")
      case "health" :: _ => "/health"
      case "metrics" :: _ => "/metrics"
      case "query" :: Nil => "/query"
      case "query" :: "explain" :: Nil => "/query/explain"
      case "query" :: _ => "/query/other"
      case "analytics" :: "events" :: Nil => "/analytics/events"
      case "analytics" :: _ => "/analytics/other"
      case _ => "/other"
    }
    requestCounts.computeIfAbsent(route,
      _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    if (code >= 400) errorCount.incrementAndGet()
  }

  /** Collection names reach the filesystem (`dataDir/<name>/…`): restrict
    * to a safe charset so `..`/`/` (raw or percent-encoded — the JDK
    * server does NOT normalize) can never traverse out of the data dir.
    * EVERY route that hands a name to `Collections`/`Catalog` must pass
    * through [[safeName]] or the non-throwing [[isSafeName]] first. */
  private def isSafeName(name: String): Boolean =
    name.nonEmpty && name.length <= 128 &&
      name.forall(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.') &&
      !name.contains("..") && name != "."
  private def safeName(name: String): String = {
    if (!isSafeName(name)) badRequest(s"invalid collection name")
    name
  }
  /** 404 early for routes that would otherwise surface missing-file or
    * missing-path errors as 500s. */
  private def existing(name: String): String = {
    safeName(name)
    if (!g.catalog.exists(name)) throw Halt(404,
      mapper.writeValueAsString(java.util.Map.of("error", s"collection not found: $name")))
    name
  }
  /** Point-mutation routes need a USER collection (meta.json sidecar) —
    * built-in dataset tables pass `catalog.exists` but have no sidecar,
    * and mutating them must be a 404, not a missing-file 500 or a silent
    * no-op drop. */
  private def existingUserCollection(name: String): String = {
    safeName(name)
    if (!g.collections.exists(name)) throw Halt(404,
      mapper.writeValueAsString(java.util.Map.of("error", s"collection not found: $name")))
    name
  }

  /** The collection's id column name and whether it is string-TYPED —
    * the /points/{id} routes dispatch (and quote their echo) on the
    * column's type, never on whether the path segment happens to parse
    * as a number (r16 ADVICE: a stored string id "0123" routed to the
    * long-delete branch, deleted nothing, and echoed back as the JSON
    * number 123). One meta read + one manifest lookup per request (the
    * manifest parse itself is LRU-cached per generation in
    * Collections). A collection with no written manifest keeps the
    * numeric default (long ids are the create-time default schema). */
  private def idColInfo(cn: String): (String, Boolean) = {
    val idc = g.collections.metaOf(cn)._1
    (idc, g.collections.manifestSchema(cn).exists(
      _.fields.find(_.name == idc)
        .exists(_.dataType == org.apache.spark.sql.types.StringType)))
  }

  /** Bound port (useful when constructed with port 0 for tests). */
  def boundPort: Int = server.getAddress.getPort

  def start(): RestServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdown() } // non-daemon threads would pin the JVM

  // ---------------- routing ----------------

  server.createContext("/health", exchange(_ => ok("""{"status":"ok"}""")))

  server.createContext("/metrics", exchange { _ =>
    // Prometheus text exposition (the reference's /metrics route,
    // main.rs prometheus feature) — request/error counters per route
    val sb = new StringBuilder
    sb ++= "# TYPE graft_requests_total counter\n"
    requestCounts.forEach { (route, n) =>
      sb ++= s"""graft_requests_total{route="$route"} ${n.get()}""" += '\n'
    }
    sb ++= "# TYPE graft_errors_total counter\n"
    sb ++= s"graft_errors_total ${errorCount.get()}\n"
    sb ++= "# TYPE graft_uptime_seconds gauge\n"
    sb ++= s"graft_uptime_seconds ${(System.nanoTime() - startedAt) / 1000000000L}\n"
    (200, sb.toString)
  })

  server.createContext("/query", exchange { ex =>
    requirePost(ex)
    val body = json(ex)
    val query = text(body, "query").getOrElse(badRequest("missing 'query'"))
    val params = paramMap(body.get("params"))
    timedRows(query, params) { (rows, ms) =>
      // query class comes from the compiler's own parsed AST (Graft
      // .classify) — not re-guessed from the text, so a literal containing
      // "MATCH (" or "NEAR" cannot flip the label
      val qtype = g.classify(query)
      s"""{"type":"$qtype","count":${rows.length},"timing_ms":$ms,"results":[${rows.mkString(",")}]}"""
    }
  })

  server.createContext("/query/explain", exchange { ex =>
    requirePost(ex)
    val body = json(ex)
    val query = text(body, "query").getOrElse(badRequest("missing 'query'"))
    val steps = g.explain(query).split("\n").toSeq
    ok(mapper.writeValueAsString(java.util.Map.of("steps", steps.asJava)))
  })

  private val analyticsStreamSlots = new java.util.concurrent.Semaphore(2)

  // One-shot events analytics with an EXPLICIT execution mode — the
  // REST face of StreamingOps' mode-agnosticism. `mode: "batch"`
  // (default) runs the transform as its plain batch twin (the one-shot
  // shape that beats the oracle at 60×, PERF_r14 §4); `mode: "stream"`
  // runs the identical transform as a real micro-batch query to
  // completion. Same rows either way (RestServerSpec pins it); the
  // collect is limit-bounded like every REST read.
  server.createContext("/analytics", exchange { ex =>
    requirePost(ex)
    if (ex.getRequestURI.getPath.stripSuffix("/") != "/analytics/events")
      badRequest("unknown analytics route (POST /analytics/events)")
    val b = json(ex)
    val op = text(b, "op").getOrElse(badRequest("missing 'op'"))
    val mode = text(b, "mode").getOrElse("batch")
    if (mode != "batch" && mode != "stream")
      badRequest(s"unknown mode '$mode' (batch|stream)")
    val limit = math.min(intOr(b, "limit", 1000), 100000)
    if (limit <= 0) badRequest("limit must be positive")
    val opParams = Option(b.get("params")).filter(_.isObject).map { o =>
      o.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String])
    // a stream-mode run can legitimately hold its HTTP thread for
    // minutes — cap the concurrent count well under the pool size so
    // health/query routes always have threads (429 past the cap)
    if (mode == "stream" && !analyticsStreamSlots.tryAcquire())
      (429, """{"error":"analytics stream capacity busy, retry later"}""")
    else try {
      timed { ms =>
        val df = try graft.streaming.StreamingOps
            .eventsAnalytics(g.spark, g.dataDir, op, mode, opParams)
          catch { case e: IllegalArgumentException => badRequest(e.getMessage) }
        try {
          val shaped = df.orderBy(df.columns.map(col).toIndexedSeq: _*).limit(limit)
          val rows = jsonRows(shaped)
          s"""{"op":"$op","mode":"$mode","count":${rows.length},""" +
            s""""timing_ms":${ms()},"results":[${rows.mkString(",")}]}"""
        } finally
          // stream mode hands back an eager localCheckpoint — free its
          // blocks like the graph handlers do (no-op for the lazy batch
          // frame; r15 review finding)
          org.apache.spark.sql.graft.CheckpointBlocks.unpersist(df)
      }
    } finally if (mode == "stream") analyticsStreamSlots.release()
  })

  server.createContext("/collections", exchange { ex =>
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val parts = path.split("/").filter(_.nonEmpty) // collections[, name[, verb...]]
    (ex.getRequestMethod, parts.toList) match {
      case ("GET", "collections" :: Nil) =>
        ok(mapper.writeValueAsString(g.collections.list().asJava))
      case ("POST", "collections" :: Nil) =>
        val b = json(ex)
        val name = safeName(text(b, "name").getOrElse(badRequest("missing 'name'")))
        val sm = text(b, "storage_mode")
        sm.foreach { m =>
          if (!Set("full", "sq8", "binary", "pq", "f16", "bf16").contains(m))
            badRequest(
              s"unknown storage_mode '$m' (expected full/sq8/binary/pq/f16/bf16)")
        }
        // CollectionType::Graph { schema } (types.rs:53-61): the graph
        // schema is part of the create request; parse rejects → 400, and
        // a present-but-non-object value (e.g. the schema sent as a
        // JSON-encoded STRING) must also 400 — silently creating the
        // collection schemaless would skip the validation the client
        // believes is active
        val gs = Option(b.get(
          "graph_schema")).map { n =>
          if (!n.isObject)
            badRequest("graph_schema must be a JSON object")
          n.toString
        }
        g.collections.create(name,
          idCol = text(b, "id_col").getOrElse("id"),
          vectorCol = text(b, "vector_col"),
          metric = text(b, "metric").getOrElse("cosine"),
          storageMode = sm,
          graphSchema = gs)
        ok(mapper.writeValueAsString(java.util.Map.of("name", name, "status", "created")))
      case ("GET", "collections" :: name :: "graph" :: "schema" :: Nil) =>
        g.collections.graphSchemaOf(existingUserCollection(name)) match {
          case Some(s) => ok(graft.GraphSchema.render(s))
          case None => error(404, s"collection $name has no graph schema")
        }
      case ("GET", "collections" :: name :: Nil) =>
        val n = g.catalog.table(existing(name)).count()
        val info = new java.util.HashMap[String, Object]()
        info.put("name", name)
        info.put("points_count", Long.box(n))
        g.catalog.metaOf(name).storageMode.foreach(info.put("storage_mode", _))
        ok(mapper.writeValueAsString(info))
      case ("DELETE", "collections" :: name :: Nil) =>
        g.collections.drop(existingUserCollection(name))
        ok(mapper.writeValueAsString(java.util.Map.of("name", name, "status", "deleted")))
      case ("GET", "collections" :: name :: "empty" :: Nil) =>
        // the reference's is_empty check (handlers/collections.rs:212-241).
        // Both frames must be empty — mirrors POST empty's invariant that
        // an emptied collection holds neither points nor edges. isEmpty
        // is a limit-1 existence probe, not a full count.
        val n = existing(name)
        val empty = g.catalog.table(n).isEmpty &&
          g.collections.edges(n).forall(_.isEmpty)
        ok(mapper.writeValueAsString(java.util.Map.of(
          "is_empty", java.lang.Boolean.valueOf(empty))))
      case ("POST", "collections" :: name :: "empty" :: Nil) =>
        // delete every point AND every edge, keep collection + metadata:
        // leaving the edge frame would let MATCH traverse dangling edges
        // against an empty node set
        g.collections.deleteWhere(existingUserCollection(name), lit(true))
        g.collections.emptyEdges(name)
        ok(mapper.writeValueAsString(java.util.Map.of("name", name, "status", "emptied")))
      case ("POST", "collections" :: name :: "flush" :: Nil) =>
        // parquet writes are durable at upsert time — flush is a no-op
        // acknowledged for API parity (the reference flushes its WAL)
        ok(mapper.writeValueAsString(java.util.Map.of("name", existing(name), "status", "flushed")))
      case ("POST", "collections" :: name :: "points" :: Nil) =>
        val b = json(ex)
        val pts = Option(b.get("points")).filter(_.isArray)
          .getOrElse(badRequest("missing 'points'"))
        if (pts.isEmpty) badRequest("'points' must be non-empty")
        val (idCol, vecColOpt, _) = g.collections.metaOf(existingUserCollection(name))
        // points → one flat JSON doc per point (payload fields inlined) →
        // spark.read.json infers the batch schema; id/vector get their
        // collection-declared types so the merge-by-id upsert aligns
        val docs = pts.elements().asScala.map { p =>
          val o = mapper.createObjectNode()
          // reject-not-coerce: a missing or non-numeric id used to
          // cast("long") to NULL and land an unreachable point
          // (r15 review finding)
          val pid = Option(p.get("id")).filter(_.isNumber)
            .getOrElse(badRequest("every point needs a numeric 'id'"))
          o.set[JsonNode](idCol, pid)
          vecColOpt.foreach(vc => Option(p.get("vector")).foreach(o.set[JsonNode](vc, _)))
          Option(p.get("payload")).filter(_.isObject).foreach { pay =>
            pay.properties().asScala.foreach(e => o.set[JsonNode](e.getKey, e.getValue))
          }
          o.toString
        }.toSeq
        import g.spark.implicits._
        var df = g.spark.read.json(g.spark.createDataset(docs))
          .withColumn(idCol, col(idCol).cast("long"))
        vecColOpt.filter(df.columns.contains).foreach { vc =>
          df = df.withColumn(vc, col(vc).cast("array<float>"))
        }
        g.collections.upsert(name, df)
        ok(s"""{"status":"ok","upserted":${docs.length}}""")
      case ("GET", "collections" :: name :: "points" :: Nil) =>
        // Scroll listing (the reference's pagination contract for bulk
        // reads): KEYSET cursor, not offset — `?limit=N&after_id=X`
        // returns points with id > X ordered by id, plus
        // `next_after_id` (null when exhausted). Keyset keeps every
        // page a PRUNED scan: the id predicate pushes into the
        // parquet read and the bucketed layout's id-sorted row groups
        // skip everything before the cursor, so page k never pays for
        // pages 1..k-1 the way OFFSET does — the only shape that
        // holds on a 100 TB collection. Cursor stability: each page
        // resolves the then-current generation; a publish between
        // pages lands its changes in later pages only (same
        // read-committed scroll the reference documents).
        val n = existingUserCollection(name)
        val qs = queryParams(ex)
        val limit = math.min(
          qs.get("limit").flatMap(_.toIntOption).getOrElse(100), 10000)
        if (limit <= 0) badRequest("limit must be positive")
        val idCol = g.catalog.metaOf(n).idCol
        g.collections.table(n) match {
          case None => ok(s"""{"points":[],"count":0,"next_after_id":null}""")
          case Some(t) =>
            val after = qs.get("after_id")
            val isNum = t.schema.find(_.name == idCol)
              .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
            val cursor: Option[org.apache.spark.sql.Column] = after.map { a =>
              if (isNum) col(idCol) > a.toLongOption.getOrElse(
                badRequest(s"after_id must be numeric for this collection, got '$a'"))
              else col(idCol) > a
            }
            // limit+1 probes has-more without a count pass
            val page = jsonRows(cursor.fold(t)(t.where(_))
              .orderBy(col(idCol)).limit(limit + 1))
            val hasMore = page.length > limit
            val out = if (hasMore) page.dropRight(1) else page
            val nextId =
              if (!hasMore || out.isEmpty) "null"
              else {
                val last = mapper.readTree(out.last).get(idCol)
                if (last == null) "null" else last.toString
              }
            ok(s"""{"points":[${out.mkString(",")}],"count":${out.length},"next_after_id":$nextId}""")
        }
      case ("GET", "collections" :: name :: "points" :: id :: Nil) =>
        // string-id collections are first-class (the keyset scroll
        // already supports them); id.toLong made every such point
        // unreachable over REST (r15 review finding). Dispatch on the id
        // COLUMN's type, not the path segment's lexical shape — on a
        // string-id collection a stored id like "0123" or "+5" parses as
        // a long and used to route to the wrong branch (r16 ADVICE).
        val cn = existingUserCollection(name)
        val (idc, stringIds) = idColInfo(cn)
        val rows = (if (stringIds) None else id.toLongOption) match {
          case Some(l) => jsonRows(g.collections.get(cn, Seq(l)))
          case None =>
            g.collections.table(cn)
              .map(t => jsonRows(t.where(col(idc).cast("string") === id).limit(2)))
              .getOrElse(Array.empty[String])
        }
        if (rows.isEmpty) error(404, s"point $id not found in $name")
        else ok(rows.head)
      case ("DELETE", "collections" :: name :: "points" :: id :: Nil) =>
        val cn = existingUserCollection(name)
        // same column-type dispatch as GET: a string-id collection
        // deletes by string equality even for numeric-looking segments
        val (idc, stringIds) = idColInfo(cn)
        (if (stringIds) None else id.toLongOption) match {
          case Some(l) => g.collections.delete(cn, Seq(l))
          case None =>
            g.collections.deleteWhere(cn, col(idc).cast("string") === id)
        }
        // numeric ids stay JSON numbers on the wire (the pre-r15 shape);
        // string-COLUMN ids are always quoted, so the echoed value is
        // byte-identical to the stored id ("0123" must not echo as 123
        // — r16 ADVICE)
        val idJson =
          if (stringIds) mapper.writeValueAsString(id)
          else id.toLongOption.map(_.toString)
            .getOrElse(mapper.writeValueAsString(id))
        ok(s"""{"status":"deleted","id":$idJson}""")
      case ("POST", "collections" :: name :: "search" :: "batch" :: Nil) =>
        existing(name)
        val b = json(ex)
        val searches = Option(b.get("searches")).filter(_.isArray)
          .getOrElse(badRequest("missing 'searches'"))
        val t0 = System.nanoTime()
        val parts = searches.elements().asScala.zipWithIndex.map { case (s, i) =>
          val vec = floatSeq(s.get("vector")).getOrElse(badRequest("search missing 'vector'"))
          val k = intOr(s, "top_k", 10)
          // each batch item is a full SearchRequest: per-item filter
          // (q57's per-query-filter semantics) + mode/ef passthrough
          val params = scala.collection.mutable.Map[String, Any]("__v" -> vec)
          val fSql = filterFragment(s, params)
          val w = searchWithOpts(s)
          (i, searchResponse(name,
            s"SELECT * FROM $name WHERE ${fSql}vector NEAR $$__v LIMIT $k$w",
            params.toMap))
        }.toSeq
        // a failed item fails the BATCH with its own status — embedding
        // an error body inside a 200 let retrying clients treat the
        // batch as fully succeeded (r15 review finding)
        parts.find(_._2._1 != 200).foreach { case (i, (code, body)) =>
          throw Halt(code, s"""{"error":"batch item $i failed","item":$body}""")
        }
        val ms = (System.nanoTime() - t0) / 1e6
        ok(s"""{"results":[${parts.map(_._2._2).mkString(",")}],"timing_ms":$ms}""")
      case ("POST", "collections" :: name :: "search" :: "multi" :: Nil) =>
        // multi-query fused search (main.rs:110, types.rs:214-234) →
        // NEAR_FUSED through the language
        existing(name)
        val b = json(ex)
        val vecsNode = Option(b.get("vectors")).filter(_.isArray)
          .getOrElse(badRequest("missing 'vectors'"))
        val vecs = vecsNode.elements().asScala.zipWithIndex.map { case (v, i) =>
          s"__v$i" -> floatSeq(v).getOrElse(badRequest("'vectors' must be arrays"))
        }.toSeq
        if (vecs.isEmpty) badRequest("'vectors' must be non-empty")
        val k = intOr(b, "top_k", 10)
        val strategy = text(b, "strategy").getOrElse("rrf")
        // closed set, like mode/quantization: client text must never
        // splice raw into the generated VelesQL (r15 review finding)
        if (!Set("rrf", "average", "maximum", "weighted").contains(strategy))
          badRequest(s"unknown strategy '$strategy' (rrf|average|maximum|weighted)")
        // body field → fusion option; the kernel checks each value and
        // fills an absent one with its default (operators.Fusion.options)
        val fopts = (strategy match {
          case "rrf" => Seq("rrf_k" -> "k")
          case "weighted" => Seq("avg_weight", "max_weight", "hit_weight").map(w => w -> w)
          case _ => Nil
        }).flatMap { case (field, opt) =>
          Option(b.get(field)).filter(_.isNumber).map(v => s"$opt = ${v.asDouble}")
        }
        val fparams = if (fopts.isEmpty) "" else fopts.mkString("(", ", ", ")")
        searchResponse(name,
          s"SELECT * FROM $name WHERE vector NEAR_FUSED [${vecs.map("$" + _._1).mkString(", ")}]" +
            s" USING FUSION '$strategy' $fparams LIMIT $k${withClause(timeoutOpt(b))}",
          vecs.toMap)
      case ("POST", "collections" :: name :: "search" :: Nil) =>
        existing(name)
        val b = json(ex)
        val vec = floatSeq(b.get("vector")).getOrElse(badRequest("missing 'vector'"))
        val k = intOr(b, "top_k", 10)
        val w = searchWithOpts(b)
        // SearchRequest.filter (types.rs:110-113): the JSON condition DSL
        // ({"condition": {"type": "eq", ...}}) lowers to a VelesQL WHERE
        // fragment with $-params for every value (no string injection);
        // search is then filter-then-NEAR, matching search_with_filter
        val params = scala.collection.mutable.Map[String, Any]("__v" -> vec)
        val filterSql = filterFragment(b, params)
        searchResponse(name,
          s"SELECT * FROM $name WHERE ${filterSql}vector NEAR $$__v LIMIT $k$w",
          params.toMap)
      case ("POST", "collections" :: name :: "search" :: "text" :: Nil) =>
        existing(name)
        val b = json(ex)
        val q = text(b, "query").getOrElse(badRequest("missing 'query'"))
        val k = intOr(b, "top_k", 10)
        val tcol = g.catalog.metaOf(name).textCol.getOrElse("text")
        // TextSearchRequest.filter (types.rs:182-184): filtered text
        // search is filter-then-score (T3 exact semantics)
        val params = scala.collection.mutable.Map[String, Any]()
        val fSql = filterFragment(b, params)
        searchResponse(name,
          s"SELECT * FROM $name WHERE $fSql$tcol MATCH ${matchLit(q)} LIMIT $k" +
            withClause(timeoutOpt(b)),
          params.toMap)
      case ("POST", "collections" :: name :: "search" :: "hybrid" :: Nil) =>
        existing(name)
        val b = json(ex)
        val q = text(b, "query").getOrElse(badRequest("missing 'query'"))
        val vec = floatSeq(b.get("vector")).getOrElse(badRequest("missing 'vector'"))
        val k = intOr(b, "top_k", 10)
        // HybridSearchRequest (types.rs:189-205): vector_weight (text
        // weight = 1 - it) and the optional JSON filter, which runs
        // BEFORE both legs (residual-filter-before-legs, q116 semantics)
        val vw = Option(b.get("vector_weight")).filter(_.isNumber)
          .map(_.asDouble).getOrElse(0.5)
        if (vw < 0.0 || vw > 1.0) badRequest("vector_weight must be in [0, 1]")
        val params = scala.collection.mutable.Map[String, Any]("__v" -> vec)
        val fSql = filterFragment(b, params)
        val tcol = g.catalog.metaOf(name).textCol.getOrElse("text")
        searchResponse(name,
          s"SELECT * FROM $name WHERE $fSql$tcol MATCH ${matchLit(q)} AND vector NEAR $$__v LIMIT $k" +
            withClause(timeoutOpt(b)) +
            s" USING FUSION(strategy = 'rrf', k = 60, vector_weight = $vw)",
          params.toMap)
      case ("POST", "collections" :: name :: "graph" :: "edges" :: Nil) =>
        // AddEdge batch (graph_api.rs:40-107): {edges: [{id?, source,
        // target, label, properties?}]}; id auto-assigned when absent
        existingUserCollection(name)
        val b = json(ex)
        val es = Option(b.get("edges")).filter(_.isArray)
          .getOrElse(badRequest("missing 'edges'"))
        if (es.isEmpty) badRequest("'edges' must be non-empty")
        // storage-structural column names are reserved: a property named
        // id/src/dst/label (or source/target) could otherwise override
        // the edge structure — silently retargeting merge-by-id or
        // null-ing src via a type-widened cast
        val reserved = Set("id", "src", "dst", "label", "source", "target")
        val docs = es.elements().asScala.map { e =>
          val o = mapper.createObjectNode()
          Option(e.get("properties")).filter(_.isObject).foreach { p =>
            p.properties().asScala
              .filterNot(en => reserved(en.getKey))
              .foreach(en => o.set[JsonNode](en.getKey, en.getValue))
          }
          // structural fields AFTER properties — they always win.
          // A PRESENT but non-numeric id is a 400, not a silent
          // auto-assign of a different id (r15 review finding)
          Option(e.get("id")).foreach { n =>
            if (!n.isNumber) badRequest(s"edge 'id' must be numeric, got $n")
            o.put("id", n.asLong)
          }
          o.put("src", Option(e.get("source")).filter(_.isNumber).map(_.asLong)
            .getOrElse(badRequest("edge missing 'source'")))
          o.put("dst", Option(e.get("target")).filter(_.isNumber).map(_.asLong)
            .getOrElse(badRequest("edge missing 'target'")))
          o.put("label", text(e, "label").getOrElse(badRequest("edge missing 'label'")))
          o.toString
        }.toSeq
        import g.spark.implicits._
        var df = g.spark.read.json(g.spark.createDataset(docs))
          .withColumn("src", col("src").cast("long"))
          .withColumn("dst", col("dst").cast("long"))
        if (df.columns.contains("id")) df = df.withColumn("id", col("id").cast("long"))
        g.collections.upsertEdges(name, df)
        ok(s"""{"status":"ok","upserted":${docs.length}}""")
      case ("DELETE", "collections" :: name :: "graph" :: "edges" :: id :: Nil) =>
        g.collections.deleteEdges(existingUserCollection(name), Seq(id.toLong))
        ok(s"""{"status":"deleted","id":$id}""")
      case ("GET", "collections" :: name :: "graph" :: "edges" :: Nil) =>
        // by-label edge listing (handlers/graph/handlers.rs:20-80):
        // ?label= is REQUIRED — same 400 as the reference ("listing all
        // edges requires pagination"); ?limit=N (default 1000) bounds the
        // driver-side collect (documented extension: the reference
        // returns the unbounded set)
        val qs = queryParams(ex)
        val label = qs.getOrElse("label",
          badRequest("Query parameter 'label' is required"))
        val e = edgesFor(existing(name)).where(col("label") === label)
        // EdgeResponse shape: src/dst → source/target, remaining columns
        // nest under properties (the reference's open HashMap); derived
        // dataset edges carry no id → field omitted (to_json's generator
        // skips null fields, JSONOptions ignoreNullFields)
        val others = e.columns.filterNot(Set("id", "src", "dst", "label")).toSeq
        val idCol = if (e.columns.contains("id")) col("id") else lit(null).cast("long")
        val lim = math.min(
          posInt("limit", qs.get("limit").map(_.toInt).getOrElse(1000)), 10000)
        // keyset scroll over the (source, target, id) order:
        // ?after_source=S&after_target=T[&after_id=I] resumes strictly
        // past that key — pushed predicates prune the (label, src)-
        // clustered edge frame, so later pages skip earlier row groups.
        // The id tiebreaker (null-safe: derived dataset edges carry no
        // id, but are UNIQUE per (label, src, dst) by construction —
        // each label's builder aggregates on the pair) keeps a page
        // boundary inside a parallel-edge group from skipping its
        // remaining edges (user edge stores auto-assign ids).
        val cursored = (qs.get("after_source").map(_.toLong),
            qs.get("after_target").map(_.toLong),
            qs.get("after_id").map(_.toLong)) match {
          case (Some(as), Some(at), Some(aid)) =>
            e.where(col("src") > as || (col("src") === as && col("dst") > at) ||
              (col("src") === as && col("dst") === at && idCol > aid))
          case (Some(as), Some(at), None) =>
            e.where(col("src") > as || (col("src") === as && col("dst") > at))
          case (Some(as), None, None) => e.where(col("src") > as)
          case (None, _, _) if qs.contains("after_target") || qs.contains("after_id") =>
            badRequest("after_target/after_id require after_source")
          case (Some(_), None, Some(_)) =>
            badRequest("after_id requires after_target")
          case _ => e
        }
        val page = jsonRows(cursored.select(idCol.as("id"), col("src").as("source"),
            col("dst").as("target"), col("label"),
            struct(others.map(col): _*).as("properties"))
          .orderBy(col("source"), col("target"), col("id").asc_nulls_first)
          .limit(lim + 1))
        val hasMore = page.length > lim
        val rows = if (hasMore) page.dropRight(1) else page
        val nextCursor =
          if (!hasMore || rows.isEmpty) """"next_after_source":null"""
          else {
            val last = mapper.readTree(rows.last)
            val idPart = Option(last.get("id")).filterNot(_.isNull)
              .map(i => s""","next_after_id":$i""").getOrElse("")
            s""""next_after_source":${last.get("source")},"next_after_target":${last.get("target")}$idPart"""
          }
        ok(s"""{"edges":[${rows.mkString(",")}],"count":${rows.length},$nextCursor}""")
      case ("GET", "collections" :: name :: "graph" :: "edges" :: id :: Nil) =>
        // get_edge (graph_api.rs:270) — edge row by id
        val rows = g.collections.edges(existingUserCollection(name))
          .map(e => jsonRows(e.where(col("id") === id.toLong)))
          .getOrElse(Array.empty[String])
        if (rows.isEmpty) error(404, s"edge $id not found in $name")
        else ok(rows.head)
      case ("GET", "collections" :: name :: "graph" :: "nodes" :: id :: "edges" :: Nil) =>
        // outgoing/incoming/by-label edge listing for a node
        // (graph_api.rs:287-299); ?direction=out|in|both&label=L&limit=N
        val qs = queryParams(ex)
        val nid = id.toLong
        val dirFilter = qs.getOrElse("direction", "both") match {
          case "out" => col("src") === nid
          case "in" => col("dst") === nid
          case _ => col("src") === nid || col("dst") === nid
        }
        val base = edgesFor(existing(name)).where(dirFilter)
        val byLabel = qs.get("label").fold(base)(l => base.where(col("label") === l))
        val lim = math.min(
          posInt("limit", qs.get("limit").map(_.toInt).getOrElse(100)), 10000)
        val rows = jsonRows(byLabel.orderBy(col("src"), col("dst")).limit(lim))
        ok(s"""{"edges":[${rows.mkString(",")}],"count":${rows.length}}""")
      case ("GET", "collections" :: name :: "graph" :: "nodes" :: id :: "degree" :: Nil) =>
        // DegreeResponse shape (handlers/graph/types.rs:84-89)
        val nid = id.toLong
        val e = edgesFor(name)
        val Array(outD, inD) = e.agg(
          sum(when(col("src") === nid, 1L).otherwise(0L)),
          sum(when(col("dst") === nid, 1L).otherwise(0L)))
          .collect().head.toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long])).toArray
        ok(s"""{"in_degree":$inD,"out_degree":$outD}""")
      case ("POST", "collections" :: name :: "graph" :: "traverse" :: Nil) =>
        // TraverseRequest (handlers/graph/types.rs:29-45): source,
        // max_depth, limit, rel_types; BFS (strategy 'dfs' visits the
        // same node set — match_exec.rs BFS is the one distributed shape)
        val b = json(ex)
        val source = Option(b.get("source")).filter(_.isNumber).map(_.asLong)
          .getOrElse(badRequest("missing 'source'"))
        val depth = posInt("max_depth", intOr(b, "max_depth", 3))
        if (depth > 10) badRequest("max_depth capped at 10")
        val limit = posInt("limit", intOr(b, "limit", 100))
        val rels = Option(b.get("rel_types")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        timed { ms =>
          import g.spark.implicits._
          val starts = Seq(source).toDF("start")
          // checkpoint once: stats count + row collect then both read the
          // materialized blocks instead of re-running the BFS twice
          val res = graft.operators.Graph.bfsVarLength(
            edgesFor(name), starts, depth, rels)
            .localCheckpoint(true)
          try {
            val visited = res.count()
            val rows = jsonRows(res.orderBy(col("depth"), col("node"))
              .select(col("node"), col("depth")).limit(limit))
            s"""{"results":[${rows.mkString(",")}],"next_cursor":null,""" +
              s""""has_more":${visited > limit},"stats":{"visited":$visited,"timing_ms":${ms()}}}"""
          } finally org.apache.spark.sql.graft.CheckpointBlocks.unpersist(res)
        }
      case ("POST", "collections" :: name :: "graph" :: "shortest_paths" :: Nil) =>
        // beyond-reference: bounded Bellman-Ford over the collection's
        // edge store (or the derived graph) — Graph.shortestPaths
        val b = json(ex)
        // reject (not silently drop) non-numeric ids: a partially-valid
        // array would otherwise 200 with silently incomplete results
        val startsArr = Option(b.get("starts")).filter(_.isArray)
          .map(_.elements().asScala.toSeq).filter(_.nonEmpty)
          .getOrElse(badRequest("missing 'starts' (non-empty array of node ids)"))
        if (startsArr.exists(!_.isNumber))
          badRequest("'starts' elements must be numeric node ids")
        val starts = startsArr.map(_.asLong)
        val maxHops = posInt("max_hops", intOr(b, "max_hops", 3))
        if (maxHops > 10) badRequest("max_hops capped at 10")
        val rels = Option(b.get("rel_types")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        val limit = posInt("limit", intOr(b, "limit", 100))
        timed { ms =>
          import g.spark.implicits._
          // the operator returns a bare checkpoint — free its blocks
          // deterministically after the collect (traverse-handler
          // discipline; the async ContextCleaner is too late for a
          // long-running server taking repeated graph POSTs)
          val res = graft.operators.Graph.shortestPaths(
            edgesFor(name), starts.toDF("start"), maxHops, rels)
          try {
            val rows = jsonRows(res
              .orderBy(col("start"), col("cost"), col("node")).limit(limit))
            s"""{"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
          } finally org.apache.spark.sql.graft.CheckpointBlocks.unpersist(res)
        }
      case ("POST", "collections" :: name :: "graph" :: "pagerank" :: Nil) =>
        // beyond-reference: fixed-iteration PageRank — Graph.pageRank
        val b = json(ex)
        val iters = posInt("iterations", intOr(b, "iterations", 3))
        if (iters > 20) badRequest("iterations capped at 20")
        val damping = Option(b.get("damping")).filter(_.isNumber)
          .map(_.asDouble).getOrElse(0.85)
        if (damping <= 0.0 || damping >= 1.0)
          badRequest(s"damping must be in (0, 1), got $damping")
        // optional personalization: restart mass lands only on `seeds`.
        // Same discipline as shortest_paths' starts: reject (not
        // silently coerce) non-numeric ids, and an explicitly-empty
        // array is a 400 — falling back to classic uniform PageRank
        // would silently answer a different question.
        val seeds = Option(b.get("seeds")).map { n =>
          if (!n.isArray) badRequest("seeds must be an array of node ids")
          val es = n.elements().asScala.toSeq
          if (es.isEmpty) badRequest("seeds must be non-empty when present")
          es.map { e =>
            // integral ids only: asLong on 1.5 would silently truncate
            // to 1, contradicting the reject-not-coerce discipline
            if (!e.isNumber || !e.canConvertToLong || e.isFloatingPointNumber)
              badRequest(s"seeds must be integral node ids, got $e")
            e.asLong
          }
        }
        val limit = posInt("limit", intOr(b, "limit", 100))
        timed { ms =>
          import g.spark.implicits._
          val restart = seeds.map(_.toDF("node"))
          val res = graft.operators.Graph.pageRank(edgesFor(name), iters,
            damping, restart)
          try {
            val rows = jsonRows(res.orderBy(col("rank").desc, col("node")).limit(limit))
            s"""{"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
          } finally org.apache.spark.sql.graft.CheckpointBlocks.unpersist(res)
        }
      case ("POST", "collections" :: name :: "graph" :: "components" :: Nil) =>
        // beyond-reference: undirected connected components (label
        // propagation — Dedup.components); comp = min node id in the
        // component
        val b = json(ex)
        val rels = Option(b.get("rel_types")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        val limit = posInt("limit", intOr(b, "limit", 100))
        val maxIters = posInt("max_iters", intOr(b, "max_iters", 20))
        if (maxIters > 50) badRequest("max_iters capped at 50")
        timed { ms =>
          val e0 = edgesFor(name)
          val e = if (rels.nonEmpty) e0.where(col("label").isin(rels: _*))
                  else e0
          // the operator returns a bare checkpoint — free its blocks
          // after the collect (shortest-paths handler discipline)
          val res = graft.operators.Dedup.components(
            e.select(col("src").as("a"), col("dst").as("b")),
            maxIters = maxIters)
          try {
            val rows = jsonRows(res.orderBy(col("comp"), col("id")).limit(limit))
            s"""{"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
          } finally org.apache.spark.sql.graft.CheckpointBlocks.unpersist(res)
        }
      case ("POST", "collections" :: name :: "graph" :: "communities" :: Nil) =>
        // beyond-reference: label-propagation communities
        // (Graph.lpaCommunities) — synchronous plurality-vote rounds,
        // undirected; density grouping vs /components' connectivity
        val b = json(ex)
        val iters = posInt("iterations", intOr(b, "iterations", 3))
        if (iters > 20) badRequest("iterations capped at 20")
        val rels = Option(b.get("rel_types")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        val limit = posInt("limit", intOr(b, "limit", 100))
        timed { ms =>
          val res = g.communities(iters, rels, graphScopeFor(name))
          try {
            val rows = jsonRows(res.orderBy(col("community"), col("node")).limit(limit))
            s"""{"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
          } finally org.apache.spark.sql.graft.CheckpointBlocks.unpersist(res)
        }
      case ("POST", "collections" :: name :: "graph" :: "modularity" :: Nil) =>
        // beyond-reference: Newman modularity of the LPA partition —
        // the community-quality report (Graph.modularityByCommunity
        // over Graph.lpaCommunities), undirected
        val b = json(ex)
        val iters = posInt("iterations", intOr(b, "iterations", 3))
        if (iters > 20) badRequest("iterations capped at 20")
        val rels = Option(b.get("rel_types")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        val limit = posInt("limit", intOr(b, "limit", 100))
        timed { ms =>
          // facade derives pairs once and returns the report as a bare
          // checkpoint — rows and the Q sum read ONE execution; an
          // edgeless graph yields an empty report and Q = 0, not a 500
          val rep = g.modularityReport(iters, rels, graphScopeFor(name))
          try {
            val rows = jsonRows(rep.orderBy(col("contribution").desc, col("community"))
              .limit(limit))
            val q = rep.agg(org.apache.spark.sql.functions
                .coalesce(org.apache.spark.sql.functions.sum("contribution"),
                  org.apache.spark.sql.functions.lit(0.0)))
              .collect()(0).getDouble(0)
            s"""{"modularity":$q,"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
          } finally org.apache.spark.sql.graft.CheckpointBlocks.unpersist(rep)
        }
      case ("POST", "collections" :: name :: "graph" :: "kcore" :: Nil) =>
        // beyond-reference: k-core peeling (Graph.kCore) — the
        // density-filtered subgraph where every node keeps >= k
        // neighbors, undirected
        val b = json(ex)
        val k = posInt("k", intOr(b, "k", 2))
        if (k > 64) badRequest("k capped at 64")
        val rels = Option(b.get("rel_types")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        val limit = posInt("limit", intOr(b, "limit", 100))
        timed { ms =>
          val res = g.kCore(k, rels, graphScopeFor(name))
          try {
            val rows = jsonRows(res.orderBy(col("core_deg").desc, col("node")).limit(limit))
            s"""{"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
          } finally org.apache.spark.sql.graft.CheckpointBlocks.unpersist(res)
        }
      case ("POST", "collections" :: name :: "graph" :: "link_predict" :: Nil) =>
        // beyond-reference: Adamic-Adar common-neighbor link prediction
        // (Graph.adamicAdar) over the collection's edge store treated
        // as undirected — suggests NEW (non-adjacent) node pairs
        val b = json(ex)
        val minCommon = posInt("min_common", intOr(b, "min_common", 1))
        val maxDeg = posInt("max_degree", intOr(b, "max_degree", 10000))
        if (maxDeg < 2) badRequest("max_degree must be >= 2")
        val rels = Option(b.get("rel_types")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        val limit = posInt("limit", intOr(b, "limit", 100))
        timed { ms =>
          val rows = jsonRows(g.linkPredict(minCommon, rels, graphScopeFor(name), maxDeg.toLong)
            .orderBy(col("score_micros").desc, col("a"), col("b"))
            .limit(limit))
          s"""{"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
        }
      case ("POST", "collections" :: name :: "graph" :: "triangles" :: Nil) =>
        // beyond-reference: per-node triangle counts (degree-ordered
        // enumeration — Graph.triangleCounts) over the collection's
        // edge store treated as undirected
        val b = json(ex)
        val rels = Option(b.get("rel_types")).filter(_.isArray)
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
        val limit = posInt("limit", intOr(b, "limit", 100))
        timed { ms =>
          val e0 = edgesFor(name)
          val e = if (rels.nonEmpty) e0.where(col("label").isin(rels: _*))
                  else e0
          val pairs = e.select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
            .where(col("a") =!= col("b")).distinct()
          val rows = jsonRows(graft.operators.Graph.triangleCounts(pairs)
            .orderBy(col("n_triangles").desc, col("node")).limit(limit))
          s"""{"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
        }
      case ("POST", "collections" :: name :: "indexes" :: Nil) =>
        // create property/range index (handlers/indexes.rs create_index).
        // Spark shape: range-cluster the collection parquet by the
        // property (see Collections.createIndex scaladoc) — 201 on
        // success like the reference; memory_bytes is 0 because there is
        // no resident structure, the index IS the file layout.
        val n = existingUserCollection(name)
        val b = json(ex)
        val label = text(b, "label").getOrElse(badRequest("missing 'label'"))
        val property = text(b, "property").getOrElse(badRequest("missing 'property'"))
        val itype = text(b, "index_type").getOrElse("range")
        // bad type / missing property throw IllegalArgumentException,
        // which exchange() maps to a 400 with jackson-escaped message
        val card = g.collections.createIndex(n, label, property, itype)
        (201, indexJson(label, property, itype, card))
      case ("POST", "collections" :: name :: "indexes" :: "retrain" :: Nil) =>
        // bump the trained-index epoch (Collections.retrainIndexes):
        // the next indexed query re-trains IVF centroids / PQ codebooks
        // / the HNSW router on current content and re-encodes all
        // buckets — the explicit drift trigger behind the epoch-frozen
        // incremental maintenance
        val n = existingUserCollection(name)
        val epoch = g.collections.retrainIndexes(n)
        ok(s"""{"status":"ok","name":"$n","index_epoch":$epoch}""")
      case ("GET", "collections" :: name :: "indexes" :: Nil) =>
        val idx = g.collections.listIndexes(existingUserCollection(name))
        ok(idx.map(i => indexJson(i("label").toString, i("property").toString,
            i("index_type").toString, i("cardinality").asInstanceOf[Long]))
          .mkString("""{"indexes":[""", ",", "]}"))
      case ("DELETE", "collections" :: name :: "indexes" :: label :: property :: Nil) =>
        val n = existingUserCollection(name)
        if (g.collections.dropIndex(n, label, property))
          ok(mapper.writeValueAsString(java.util.Map.of(
            "status", "deleted", "label", label, "property", property)))
        else error(404, s"index $label/$property not found in $name")
      // ---- snapshots (agent/snapshot.rs SnapshotManager over REST):
      // create/list/restore/drop, plus a read-only time-travel page of
      // the snapshot's points — the live state is untouched by GET.
      case ("POST", "collections" :: name :: "snapshots" :: Nil) =>
        val n = existingUserCollection(name)
        val tag = text(json(ex), "tag").getOrElse(badRequest("missing 'tag'"))
        g.collections.snapshot(n, tag) // bad tag → IllegalArgument → 400
        (201, mapper.writeValueAsString(java.util.Map.of(
          "name", n, "tag", tag, "status", "created")))
      case ("GET", "collections" :: name :: "snapshots" :: Nil) =>
        val tags = g.collections.listSnapshots(existing(name))
        ok(mapper.writeValueAsString(java.util.Map.of(
          "snapshots", java.util.List.of(tags: _*))))
      case ("GET", "collections" :: name :: "snapshots" :: tag :: "points" :: Nil) =>
        // bounded page (limit, default 100, cap 10k) — a snapshot can be
        // arbitrarily large; full exports go through the library read
        val n = existing(name)
        val qs = queryParams(ex)
        val limit = math.min(
          qs.get("limit").flatMap(_.toIntOption).getOrElse(100), 10000)
        if (limit <= 0) badRequest("limit must be positive")
        // same keyset scroll as the live points listing (id-ordered,
        // ?after_id=, string ids compare lexically — r11 ADVICE: forcing
        // a numeric cursor cast string ids to null and silently dropped
        // them from paging) — a snapshot is immutable, so the cursor is
        // additionally stable across any number of later publishes
        val idCol = g.catalog.metaOf(n).idCol
        val snap = g.collections.snapshotTable(n, tag)
        val isNum = snap.schema.find(_.name == idCol)
          .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        val cursored = qs.get("after_id") match {
          case Some(a) if snap.columns.contains(idCol) =>
            if (isNum) snap.where(col(idCol) > a.toLongOption.getOrElse(
              badRequest(s"after_id must be numeric for this collection, got '$a'")))
            else snap.where(col(idCol) > a)
          case _ => snap
        }
        val ordered = if (snap.columns.contains(idCol))
          cursored.orderBy(col(idCol)) else cursored
        val page = jsonRows(ordered.limit(limit + 1))
        val hasMore = page.length > limit
        val rows = if (hasMore) page.dropRight(1) else page
        val nextId =
          if (!hasMore || rows.isEmpty || !snap.columns.contains(idCol)) "null"
          else Option(mapper.readTree(rows.last).get(idCol)).map(_.toString).getOrElse("null")
        ok(s"""{"tag":"$tag","count":${rows.length},"next_after_id":$nextId,"points":[${rows.mkString(",")}]}""")
      case ("POST", "collections" :: name :: "snapshots" :: tag :: "restore" :: Nil) =>
        g.collections.restoreSnapshot(existingUserCollection(name), tag)
        ok(mapper.writeValueAsString(java.util.Map.of(
          "name", name, "tag", tag, "status", "restored")))
      case ("DELETE", "collections" :: name :: "snapshots" :: tag :: Nil) =>
        val n = existingUserCollection(name)
        if (!g.collections.listSnapshots(n).contains(tag))
          error(404, s"snapshot $tag not found on $n")
        else {
          g.collections.dropSnapshot(n, tag)
          ok(mapper.writeValueAsString(java.util.Map.of(
            "tag", tag, "status", "deleted")))
        }
      case ("POST", "collections" :: name :: "match" :: Nil) =>
        val b = json(ex)
        val m = text(b, "match").getOrElse(badRequest("missing 'match'"))
        // a USER collection's MATCH runs over its own edge store
        // (collection.match_query); built-ins use the derived graph.
        // isSafeName BEFORE collections.exists — the exists check itself
        // resolves dataDir/<name>/meta.json on the filesystem
        val scope = graphScopeFor(name)
        timedRows(m, Map.empty, graphScope = scope) { (rows, ms) =>
          s"""{"count":${rows.length},"timing_ms":$ms,"results":[${rows.mkString(",")}]}"""
        }
      case (meth, _) => error(404, s"no route: $meth $path")
    }
  })

  // ---------------- helpers ----------------

  /** id/score/payload rows (types.rs:156-166) for the search endpoints. */
  private def searchResponse(name: String, vql: String,
      params: Map[String, Any]): (Int, String) =
    timed { ms =>
      val rows = g.run(vql, params) { df =>
        val idCol = g.catalog.metaOf(name).idCol
        val rest = df.columns.filterNot(c => c == idCol || c == "score")
        val score = if (df.columns.contains("score")) col("score") else lit(1.0)
        jsonRows(df.select(col(idCol).as("id"), score.as("score"),
          struct(rest.map(col).toIndexedSeq: _*).as("payload")))
      }
      s"""{"results":[${rows.mkString(",")}],"timing_ms":${ms()}}"""
    }

  private def timedRows(vql: String, params: Map[String, Any],
      graphScope: Option[String] = None)(
      render: (Array[String], Double) => String): (Int, String) =
    timed { ms =>
      render(g.run(vql, params, graphScope = graphScope)(jsonRows), ms())
    }

  /** The edge frame a graph route traverses: a USER collection's own
    * mutable edge store (empty until the first edge POST), else the
    * derived dataset graph. isSafeName gates the filesystem-touching
    * exists check — an unsafe name falls through to the derived graph
    * without ever reaching the data dir. */
  private def edgesFor(name: String): DataFrame =
    if (graphScopeFor(name).isDefined)
      g.catalog.scopedToGraph(name).graphEdges
    else graft.operators.Graph.edges(g.spark, g.catalog.dir)

  /** Graph scope resolution shared by every graph route: a USER
    * collection scopes to its own edge store; a DATASET table shares
    * the derived dataset graph (None); a name that exists NOWHERE is a
    * 404 — the old fall-through answered typos confidently from the
    * derived graph on half the routes (r15 review finding). */
  private def graphScopeFor(name: String): Option[String] = {
    safeName(name)
    if (g.collections.exists(name)) Some(name)
    else if (g.catalog.exists(name)) None
    else throw new graft.velesql.NotFoundError(s"collection not found: $name")
  }

  private def timed(run: (() => Double) => String): (Int, String) = {
    val t0 = System.nanoTime()
    val ms = () => (System.nanoTime() - t0) / 1e6
    try (200, run(ms))
    catch {
      case Halt(code, body) => (code, body)
      case e: graft.velesql.SyntaxError => (400, errJson(e))
      case e: graft.velesql.SemanticError => (400, errJson(e))
      case e: graft.velesql.NotFoundError => (404, errJson(e))
      case e: graft.velesql.VelesError => (400, errJson(e))
      case e: Exception => (500, errJson(e))
    }
  }

  private def errJson(e: Throwable): String =
    mapper.writeValueAsString(
      java.util.Map.of("error", Option(e.getMessage).getOrElse(e.getClass.getName)))

  /** Non-local exit for handler validation (converted to a response). */
  private case class Halt(code: Int, body: String) extends RuntimeException
  private def badRequest(msg: String): Nothing =
    // through the mapper, not interpolation: msg may carry client text
    // (e.g. an unknown filter type), and a quote/backslash in it must
    // not produce a malformed JSON error body
    throw Halt(400, mapper.writeValueAsString(java.util.Map.of("error", msg)))

  /** SearchRequest WITH-option passthrough, shared by the single and
    * batch search routes (ast/with_clause.rs:12-47 — the language's WITH
    * options are request fields). `mode` and `quantization` are enum
    * fields in the reference, so they validate against the closed sets
    * here (mirroring Compiler's acceptance) instead of splicing client
    * text into the generated VelesQL. */
  private val SearchModes =
    Set("fast", "balanced", "accurate", "perfect", "exact")
  private val QuantModes = Set("binary", "dual", "hybrid", "int8", "sq8",
    "quantized", "pq", "f32", "full", "exact", "auto", "default")
  private val IndexKinds = Set("lsh", "ivf", "hnsw")
  private def searchWithOpts(b: JsonNode): String = {
    val opts =
      text(b, "mode").map { m =>
        if (!SearchModes.contains(m))
          badRequest(s"unknown mode '$m' (expected one of ${SearchModes.toSeq.sorted.mkString("/")})")
        s"mode = '$m'"
      }.toSeq ++
      text(b, "index").map { i =>
        if (!IndexKinds.contains(i))
          badRequest(s"unknown index '$i' (expected one of ${IndexKinds.toSeq.sorted.mkString("/")})")
        s"index = '$i'"
      }.toSeq ++
      Option(b.get("ef_search")).filter(_.isNumber)
        .map(n => s"ef_search = ${posInt("ef_search", n.asInt)}").toSeq ++
      timeoutOpt(b) ++
      text(b, "quantization").map { q =>
        if (!QuantModes.contains(q))
          badRequest(s"unknown quantization '$q' (expected one of ${QuantModes.toSeq.sorted.mkString("/")})")
        s"quantization = '$q'"
      }.toSeq ++
      Option(b.get("oversampling")).filter(_.isNumber)
        .map(n => s"oversampling = ${posInt("oversampling", n.asInt)}").toSeq
    withClause(opts)
  }
  /** The body's `timeout_ms`: the one WITH option every search route
    * takes (the others tune plain NEAR only). */
  private def timeoutOpt(b: JsonNode): Seq[String] =
    Option(b.get("timeout_ms")).filter(_.isNumber)
      .map(n => s"timeout_ms = ${posLong("timeout_ms", n.asLong)}").toSeq
  private def withClause(opts: Seq[String]): String =
    if (opts.nonEmpty) s" WITH (${opts.mkString(", ")})" else ""
  // numeric request fields fail as 400s HERE, like every other malformed
  // shape on these routes — not as a Spark AnalysisException 500 (a
  // negative oversampling reaches limit(k × os)) or a silent empty 200
  private def posInt(field: String, v: Int): Int = {
    if (v < 1) badRequest(s"$field must be a positive integer, got $v")
    v
  }
  private def posLong(field: String, v: Long): Long = {
    if (v < 1) badRequest(s"$field must be a positive integer, got $v")
    v
  }
  private def requirePost(ex: HttpExchange): Unit =
    if (ex.getRequestMethod != "POST") badRequest("POST required")

  private def ok(body: String): (Int, String) = (200, body)

  /** `"<cond> AND "` for a request carrying the optional `filter` object,
    * empty string otherwise — prepended to the NEAR/MATCH condition so
    * the filter runs BEFORE candidate generation. */
  private def filterFragment(b: JsonNode,
      params: scala.collection.mutable.Map[String, Any]): String =
    Option(b.get("filter")).filter(_.isObject).map { f =>
      val cond = Option(f.get("condition")).filter(_.isObject)
        .getOrElse(badRequest("filter must carry a 'condition' object"))
      jsonConditionToVql(cond, params) + " AND "
    }.getOrElse("")

  /** The reference's JSON filter condition DSL (filter/mod.rs:55-175 —
    * eq/neq/gt/gte/lt/lte/in/contains/is_null/is_not_null/and/or/not/
    * like/ilike, nested via `conditions`) lowered to a parenthesized
    * VelesQL condition. Every VALUE becomes a fresh `$f<n>` parameter
    * registered in `params` — client data never concatenates into the
    * query text. Field names must be identifier-shaped (dot paths ok);
    * anything else is a 400, same as the reference's serde reject. */
  private def jsonConditionToVql(node: JsonNode,
      params: scala.collection.mutable.Map[String, Any]): String = {
    def field(): String = {
      val f = text(node, "field")
        .getOrElse(badRequest("filter condition missing 'field'"))
      if (!f.matches("[A-Za-z_][A-Za-z0-9_.]*"))
        badRequest(s"invalid filter field name")
      f
    }
    def bind(v: JsonNode): String = {
      val key = s"f${params.size}"
      params += key -> jsonScalar(v)
      "$" + key
    }
    def sub(n: JsonNode): String = jsonConditionToVql(n, params)
    text(node, "type").getOrElse(badRequest("filter condition missing 'type'")) match {
      case "eq" => s"${field()} = ${bind(node.get("value"))}"
      case "neq" => s"${field()} != ${bind(node.get("value"))}"
      case "gt" => s"${field()} > ${bind(node.get("value"))}"
      case "gte" => s"${field()} >= ${bind(node.get("value"))}"
      case "lt" => s"${field()} < ${bind(node.get("value"))}"
      case "lte" => s"${field()} <= ${bind(node.get("value"))}"
      case "in" =>
        val vs = Option(node.get("values")).filter(_.isArray)
          .getOrElse(badRequest("filter 'in' needs 'values'"))
        // the reference's In { values: Vec<Value> } accepts an empty
        // list and matches nothing — lower it to a constant-false
        // condition instead of a 400
        if (vs.isEmpty) s"(${field()} IS NULL AND ${field()} IS NOT NULL)"
        else s"${field()} IN (${vs.elements().asScala.map(bind).mkString(", ")})"
      case "contains" => s"${field()} CONTAINS ${bind(node.get("value"))}"
      case "is_null" => s"${field()} IS NULL"
      case "is_not_null" => s"${field()} IS NOT NULL"
      case "like" => s"${field()} LIKE ${bind(node.get("pattern"))}"
      case "ilike" => s"${field()} ILIKE ${bind(node.get("pattern"))}"
      case "and" | "or" =>
        val op = if (text(node, "type").contains("and")) " AND " else " OR "
        val cs = Option(node.get("conditions")).filter(_.isArray)
          .filter(!_.isEmpty)
          .getOrElse(badRequest("filter and/or needs non-empty 'conditions'"))
        cs.elements().asScala.map(sub).mkString("(", op, ")")
      case "not" =>
        val c = Option(node.get("condition")).filter(_.isObject)
          .getOrElse(badRequest("filter 'not' needs 'condition'"))
        s"NOT (${sub(c)})"
      case other => badRequest(s"unknown filter condition type '$other'")
    }
  }

  /** JSON scalar → the param value VelesQL compares with. Narrower than
    * the reference's `Value` (which admits arrays/objects in eq/neq):
    * VelesQL comparisons are scalar-typed, so non-scalar filter values
    * reject with 400 rather than silently comparing representations. */
  private def jsonScalar(v: JsonNode): Any = {
    if (v == null || v.isNull) badRequest("filter value must be a scalar")
    else if (v.isTextual) v.asText
    else if (v.isIntegralNumber) v.asLong
    else if (v.isNumber) v.asDouble
    else if (v.isBoolean) v.asBoolean
    else badRequest("filter value must be a scalar")
  }

  /** URL-decoded query-string parameters (last value wins per key). */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** IndexResponse shape (handlers/indexes.rs) — jackson-escaped since
    * label/property are free client strings. */
  private def indexJson(label: String, property: String, indexType: String,
      cardinality: Long): String = {
    val o = mapper.createObjectNode()
    o.put("label", label)
    o.put("property", property)
    o.put("index_type", indexType)
    o.put("cardinality", cardinality)
    o.put("memory_bytes", 0L)
    o.toString
  }
  private def error(code: Int, msg: String): (Int, String) =
    (code, mapper.writeValueAsString(java.util.Map.of("error", msg)))

  private def exchange(handle: HttpExchange => (Int, String)): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      val (code, body) =
        try handle(ex)
        catch {
          case Halt(c, b) => (c, b)
          case e: graft.velesql.NotFoundError => (404, errJson(e))
          case e: graft.velesql.VelesError => (400, errJson(e))
          case e: IllegalArgumentException => (400, errJson(e))
          case e: Exception => (500, errJson(e))
        }
      countRequest(ex.getRequestURI.getPath, code)
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        if (ex.getRequestURI.getPath.stripSuffix("/") == "/metrics") "text/plain"
        else "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }

  private def json(ex: HttpExchange): JsonNode = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (body.isEmpty) mapper.createObjectNode()
    else try mapper.readTree(body)
    catch { case _: Exception => badRequest("invalid JSON body") }
  }

  private def text(b: JsonNode, field: String): Option[String] =
    Option(b.get(field)).filter(!_.isNull).map(_.asText)
  private def intOr(b: JsonNode, field: String, dflt: Int): Int =
    Option(b.get(field)).filter(_.isNumber).map(_.asInt).getOrElse(dflt)
  private def floatSeq(n: JsonNode): Option[Seq[Float]] =
    // every element must BE numeric — jackson's asDouble coerces text
    // to 0.0, so a string sent where a vector belongs would otherwise
    // silently search with a zero vector (found by the Python SDK's
    // error-surface smoke)
    Option(n).filter(x => x.isArray &&
        x.elements().asScala.forall(_.isNumber))
      .map(_.elements().asScala.map(_.asDouble.toFloat).toSeq)

  /** JSON params → the engine's `Map[String, Any]` (numbers → Double,
    * numeric arrays → Seq[Float] for vectors, string arrays → Seq). */
  private def paramMap(n: JsonNode): Map[String, Any] =
    Option(n).filter(_.isObject).map { o =>
      o.properties().asScala.map { e =>
        val v: Any = e.getValue match {
          case x if x.isTextual => x.asText
          case x if x.isBoolean => x.asBoolean
          case x if x.isIntegralNumber => x.asLong
          case x if x.isNumber => x.asDouble
          case x if x.isArray =>
            val els = x.elements().asScala.toSeq
            if (els.forall(_.isNumber)) els.map(_.asDouble.toFloat)
            else els.map(_.asText)
          case x => x.toString
        }
        e.getKey -> v
      }.toMap
    }.getOrElse(Map.empty)

  /** Inline a user text query as a VelesQL string literal. The grammar's
    * string literal cannot contain `'` (grammar.pest:236-253 parity), and
    * the BM25 tokenizer only keeps [a-z0-9]+ runs — so quotes are noise
    * and are replaced with spaces rather than escaped. */
  private def matchLit(q: String): String = s"'${q.replace('\'', ' ')}'"
}

object RestServer {

  /** The rows of `df` as JSON objects, one string per row. The `to_json`
    * projection is planned with the query: over a top-k it lands in
    * `TakeOrderedAndProject`'s project list, which collects without an
    * exchange. `Dataset.toJSON` (a typed `mapPartitions` above the plan)
    * forces a single-partition shuffle and a second stage. Both render
    * through `JacksonGenerator` with default `JSONOptions` and the session
    * time zone, so the bytes are the same (RestServerSpec pins it). */
  private[graft] def jsonRows(df: DataFrame): Array[String] =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0))
}
