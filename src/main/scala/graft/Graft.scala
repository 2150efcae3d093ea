package graft

import graft.velesql.{Ast, Catalog, Compiler, Explain, Guardrails, Parser}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine facade — what a VelesDB user instantiates after switching.
  *
  * Mirrors the reference's `Database` + per-collection query API
  * (lib.rs:230-346, collection/search/query/mod.rs:78) in one object:
  * VelesQL text in, DataFrame out, with an LRU parse cache
  * (velesql/cache.rs:56-110: cache keyed by query string) and optional
  * cost guardrails (query_cost/mod.rs).
  *
  * {{{
  * val g = Graft(spark, "/data/collections")
  * val hits = g.sql("SELECT * FROM docs WHERE vector NEAR \$q LIMIT 10",
  *                  Map("q" -> queryVec))
  * }}}
  */
class Graft(
    val spark: SparkSession,
    val dataDir: String,
    maxCost: Long = Long.MaxValue,
    parseCacheSize: Int = 256) {

  val catalog = new Catalog(spark, dataDir)
  val collections = new Collections(spark, dataDir)

  /** LRU parse cache (velesql/cache.rs:56-110) — parsing is pure, so the
    * AST is safely shared across executions with different params. */
  private val parseCache =
    new java.util.LinkedHashMap[String, Ast.Query](parseCacheSize, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Ast.Query]): Boolean =
        size() > parseCacheSize
    }

  def parse(sql: String): Ast.Query = parseCache.synchronized {
    val cached = parseCache.get(sql)
    if (cached != null) cached
    else {
      val q = Parser.parse(sql)
        .fold(e => throw new velesql.SyntaxError(e), identity)
      parseCache.put(sql, q)
      q
    }
  }

  /** Compiled-plan memo (SURVEY §4.3 item 4 — the reference caches
    * parsed queries only; compiled-plan reuse is the Spark-side win,
    * since analysis/compile dominates sub-second queries). Keyed by
    * (query text, param VALUES, graph scope, fixed epoch, source
    * CONTENT STAMPS): params are baked into the plan as literals, so
    * only value-identical calls may share it, and every referenced user
    * collection contributes its resolved manifest/generation path — a
    * publish changes the stamp and the next call recompiles against the
    * new generation instead of serving retained-then-vacuumed files.
    * Subquery FROMs are resolved from the AST and stamped like any
    * other table, so correlated/EXISTS shapes cache too. Uncacheable
    * (returns fresh compiles): NOW()-relative queries without a fixed
    * epoch. */
  private val planCacheSize = 128
  private val planCache =
    new java.util.LinkedHashMap[String, DataFrame](planCacheSize, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, DataFrame]): Boolean =
        size() > planCacheSize
    }
  /** Compiles actually executed (cache misses) — spec observability. */
  private[graft] val compileCount = new java.util.concurrent.atomic.AtomicLong()

  /** Every table the query reads, INCLUDING subquery FROMs — walked
    * from the AST (`Ast.SubqueryValue` nodes inside conditions), not
    * guessed from the text. The r11 shape bailed to "never cacheable"
    * on any multi-SELECT text via a regex count, so the subquery-bearing
    * flagship shapes never hit the memo (r11 VERDICT ask #7). */
  private def tablesOf(ast: Ast.Query): Seq[String] = {
    import Ast._
    def ofValue(v: Value): Seq[String] = v match {
      case SubqueryValue(sq) => ofSelect(sq)
      case _ => Nil
    }
    def ofCond(c: Condition): Seq[String] = c match {
      case Compare(_, _, v) => ofValue(v)
      case In(_, vs) => vs.flatMap(ofValue)
      case Between(_, lo, hi) => ofValue(lo) ++ ofValue(hi)
      case And(l, r) => ofCond(l) ++ ofCond(r)
      case Or(l, r) => ofCond(l) ++ ofCond(r)
      case Not(x) => ofCond(x)
      case _ => Nil
    }
    def ofHaving(h: Having): Seq[String] =
      (h.first +: h.rest.map(_._2)).flatMap(t => ofValue(t.value))
    def ofSelect(s: Select): Seq[String] =
      (s.from +: s.joins.map(_.table)) ++
        s.where.toSeq.flatMap(ofCond) ++
        // HAVING terms carry values too (HAVING count(*) > (SELECT …))
        // — an unstamped subquery table here would let a publish serve
        // a stale cached plan
        s.having.toSeq.flatMap(ofHaving)
    (ast.select.toSeq ++ ast.compound.map(_.right)).flatMap(ofSelect) ++
      ast.matchQuery.toSeq.flatMap(_.where.toSeq.flatMap(ofCond))
  }

  private def planKey(query: String, ast: Ast.Query, params: Map[String, Any],
      fixedNowEpoch: Option[Long], graphScope: Option[String]): Option[String] = {
    if (fixedNowEpoch.isEmpty && "(?i)\\bNOW\\b".r.findFirstIn(query).isDefined)
      return None // wall-clock-relative plan: never reusable
    def stampOf(t: String): String =
      if (collections.exists(t))
        // generation path + trained-index epoch: a retrain changes the
        // resolved ANN model without publishing, and a cached plan baked
        // the old materialization paths
        collections.pointsRealPath(t)
          .map(p => s"$p:e${collections.indexEpoch(t)}")
          .getOrElse(s"empty:$t")
      else {
        // dataset (non-collection) tables stamp by their parquet file
        // listing, not a constant — a dir regenerated within a process
        // re-resolves instead of serving a stale file list (r11 ADVICE)
        val p = java.nio.file.Paths.get(s"$dataDir/$t.parquet")
        if (java.nio.file.Files.exists(p))
          s"tbl:$t:${Materialize.pathStamp(p)}"
        else s"tbl:$t"
      }
    val tableStamps = tablesOf(ast).map(stampOf)
    val graphStamps =
      if (ast.matchQuery.isDefined || graphScope.isDefined)
        graphScope match {
          case Some(n) => Seq("graph", stampOf(n),
            collections.edgesRealPath(n).map(_.toString).getOrElse(s"noedges:$n"))
          case None =>
            // the DERIVED dataset graph reads these tables — stamp
            // their listings, not a constant: a regenerated dataset dir
            // must recompile MATCH plans exactly like SELECT plans do
            // (r15 review finding)
            // "embeddings" included: deriveNodes joins it onto customer
            // nodes, so a regenerated embeddings.parquet must invalidate
            // cached MATCH plans with similarity() predicates (r15 ADVICE)
            "graph" +: Seq("orders", "lineitem", "customer", "part",
              "supplier", "embeddings").map(stampOf)
        }
      else Nil
    // param values render with their runtime class: Map("p" -> 1) and
    // Map("p" -> "1") bake different literals and must not share a plan
    // (r11 ADVICE — toString alone collides on type-distinct values).
    // Every component is LENGTH-PREFIXED: with plain delimiters a value
    // containing ";k=java.lang.String:v" rendered identically to a
    // separate entry, so two different param maps could share one baked
    // plan (r15 review finding)
    val paramKey = params.toSeq.sortBy(_._1).map { case (k, v) =>
      val cls = if (v == null) "null" else v.getClass.getName
      val s = String.valueOf(v)
      s"${k.length}:$k=${cls.length}:$cls=${s.length}:$s"
    }.mkString(";")
    Some((query, paramKey, fixedNowEpoch,
      graphScope, tableStamps, graphStamps).toString)
  }

  private lazy val guardrails: Guardrails = {
    val counts = catalog.meta.keys.flatMap { n =>
      try Some(n -> catalog.table(n).count()) catch { case _: Exception => None }
    }.toMap
    // MATCH estimation keys on "edges" — without a real edge count every
    // MATCH costed against the 1M fallback, decoupling admission from
    // the actual graph size (r15 review finding)
    val withEdges =
      try counts + ("edges" -> catalog.graphEdges.count())
      catch { case _: Exception => counts }
    new Guardrails(withEdges, maxCost)
  }

  /** Execute VelesQL text with optional parameters. Errors follow the
    * reference taxonomy (velesql/error.rs): SyntaxError from the parser,
    * NotFoundError for unknown collections, SemanticError for invalid
    * plans, CostLimitError from guardrails.
    *
    * `graphScope`: a USER collection name whose own mutable edge store
    * (graph_api.rs:40-107) backs MATCH queries — the per-collection
    * `collection.match_query` flow; None = the derived dataset graph. */
  def sql(query: String, params: Map[String, Any] = Map.empty,
      fixedNowEpoch: Option[Long] = None,
      graphScope: Option[String] = None): DataFrame = {
    val ast = parse(query)
    val key = planKey(query, ast, params, fixedNowEpoch, graphScope)
    key.flatMap(k => planCache.synchronized(Option(planCache.get(k))))
      .getOrElse {
        // the typed-error pre-check walks EVERY table the query reads —
        // compound right sides and subquery FROMs included (checking
        // only the left SELECT let those surface as raw Spark
        // AnalysisExceptions; r15 review finding)
        tablesOf(ast).foreach { t =>
          if (!catalog.exists(t))
            throw new velesql.NotFoundError(s"collection not found: $t")
        }
        if (maxCost != Long.MaxValue) {
          try guardrails.admit(ast)
          catch { case e: IllegalStateException =>
            throw new velesql.CostLimitError(e.getMessage) }
        }
        val cat = graphScope.fold(catalog)(catalog.scopedToGraph)
        compileCount.incrementAndGet()
        val df =
          try new Compiler(spark, cat, params, fixedNowEpoch).compile(ast)
          catch {
            case e: velesql.VelesError => throw e
            case e: IllegalArgumentException => throw new velesql.SemanticError(e.getMessage)
          }
        key.foreach(k => planCache.synchronized(planCache.put(k, df)))
        df
      }
  }

  /** Weighted shortest paths over the MATCH graph surface — the derived
    * dataset graph, or a USER collection's own edge store via
    * `graphScope` (same scoping rule as [[sql]]). Beyond-reference:
    * the reference stores edge weights but only traverses unweighted.
    * Edges without a weight property cost 1.0 per hop. */
  def shortestPaths(starts: Seq[Long], maxHops: Int,
      relTypes: Seq[String] = Nil,
      graphScope: Option[String] = None): DataFrame = {
    import spark.implicits._
    val cat = graphScope.fold(catalog)(catalog.scopedToGraph)
    operators.Graph.shortestPaths(cat.graphEdges, starts.toDF("start"),
      maxHops, relTypes)
  }

  /** Fixed-iteration PageRank over the same graph surface. */
  def pageRank(iters: Int = 3, damping: Double = 0.85,
      graphScope: Option[String] = None): DataFrame = {
    val cat = graphScope.fold(catalog)(catalog.scopedToGraph)
    operators.Graph.pageRank(cat.graphEdges, iters, damping)
  }

  /** Connected components over the same graph surface (undirected,
    * optionally restricted to `relTypes`): `(id, comp)` with `comp` =
    * the component's minimum node id — label propagation with the
    * checkpointed-superstep discipline
    * ([[operators.Dedup.components]]). */
  def connectedComponents(relTypes: Seq[String] = Nil,
      graphScope: Option[String] = None, maxIters: Int = 20): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cat = graphScope.fold(catalog)(catalog.scopedToGraph)
    val e0 = cat.graphEdges
    val e = if (relTypes.nonEmpty) e0.where(col("label").isin(relTypes: _*))
            else e0
    operators.Dedup.components(
      e.select(col("src").as("a"), col("dst").as("b")), maxIters = maxIters)
  }

  /** The graph surface as canonical UNDIRECTED simple pairs `(a < b)`
    * (optionally restricted to `relTypes`, self-loops dropped) — the
    * shared input shape of [[kCore]]/[[triangles]]/[[linkPredict]]/
    * [[communities]]. One definition so a canonicalization fix lands
    * everywhere at once. */
  private def undirectedPairs(relTypes: Seq[String],
      graphScope: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, greatest, least}
    val cat = graphScope.fold(catalog)(catalog.scopedToGraph)
    val e0 = cat.graphEdges
    val e = if (relTypes.nonEmpty) e0.where(col("label").isin(relTypes: _*))
            else e0
    e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
  }

  /** Label-propagation communities over the same graph surface,
    * undirected (optionally restricted to `relTypes`): `(node,
    * community)` after `iters` synchronous plurality-vote rounds —
    * density grouping, vs [[connectedComponents]]' connectivity
    * grouping; see [[operators.Graph.lpaCommunities]]. Returns a bare
    * checkpoint; free with `CheckpointBlocks.unpersist` after
    * consuming. */
  def communities(iters: Int = 3, relTypes: Seq[String] = Nil,
      graphScope: Option[String] = None): DataFrame =
    operators.Graph.lpaCommunities(undirectedPairs(relTypes, graphScope), iters)

  /** Per-community modularity report of the LPA partition over the
    * same graph surface — derives the pairs ONCE, runs the vote rounds,
    * joins the report, frees the intermediate label checkpoint, and
    * returns the (community-count-sized) report as a bare checkpoint so
    * a caller can read it twice (rows + Q sum) in one execution; free
    * with `CheckpointBlocks.unpersist` after consuming. */
  def modularityReport(iters: Int = 3, relTypes: Seq[String] = Nil,
      graphScope: Option[String] = None): DataFrame = {
    val pairs = undirectedPairs(relTypes, graphScope)
    val labels = operators.Graph.lpaCommunities(pairs, iters)
    val rep = operators.Graph
      .modularityByCommunity(pairs, labels)
      .localCheckpoint(true)
    org.apache.spark.sql.graft.CheckpointBlocks.unpersist(labels)
    rep
  }

  /** k-core over the same graph surface, undirected (optionally
    * restricted to `relTypes`) — iterative peeling, see
    * [[operators.Graph.kCore]]. Returns a projection over a checkpoint,
    * or a parallelized frame when the peel finished on the driver:
    * `CheckpointBlocks.unpersist` after consuming is right either way. */
  def kCore(k: Int, relTypes: Seq[String] = Nil,
      graphScope: Option[String] = None): DataFrame =
    operators.Graph.kCore(undirectedPairs(relTypes, graphScope), k)

  /** Per-node triangle counts over the same graph surface, treating
    * edges as undirected (optionally restricted to `relTypes`) —
    * degree-ordered enumeration, see
    * [[operators.Graph.triangleCounts]]. */
  def triangles(relTypes: Seq[String] = Nil,
      graphScope: Option[String] = None): DataFrame =
    operators.Graph.triangleCounts(undirectedPairs(relTypes, graphScope))

  /** Adamic-Adar link prediction over the same graph surface, treating
    * edges as undirected (optionally restricted to `relTypes`) —
    * common-neighbor scoring of NON-adjacent pairs, see
    * [[operators.Graph.adamicAdar]]. */
  def linkPredict(minCommon: Int = 1, relTypes: Seq[String] = Nil,
      graphScope: Option[String] = None,
      maxDeg: Long = Long.MaxValue): DataFrame =
    operators.Graph.adamicAdar(undirectedPairs(relTypes, graphScope),
      minCommon, maxDeg)

  /** Plan-intent summary (velesql/explain.rs shape). */
  def explain(query: String): String = Explain.render(parse(query))

  /** Query class for the unified response `type` field (types.rs:296-320:
    * graph | search | aggregation | rows) — derived from the parsed AST
    * (cache-shared with execution), never re-guessed from the query text:
    * a string literal containing "MATCH (" or "NEAR" must not flip the
    * label. */
  def classify(query: String): String = Graft.classify(parse(query))

  /** Compile `query` and run `action` on it, honoring `WITH (timeout_ms
    * = N)` (ast/with_clause.rs:97-101): the compile and the action run
    * inside a dedicated job group — compiling runs jobs too (BM25 corpus
    * stats, index refreshes, fused legs) — and a watchdog cancels the
    * group at the deadline and the call surfaces [[velesql.TimeoutError]].
    * Without the option this is a plain compile and run. The REST query
    * and search routes, the REPL and [[collect]] run their queries here. */
  def run[T](query: String, params: Map[String, Any] = Map.empty,
      fixedNowEpoch: Option[Long] = None, graphScope: Option[String] = None)(
      action: DataFrame => T): T = {
    val timeoutMs = parse(query).select
      .flatMap(_.withOptions.get("timeout_ms")).map(_.toDouble.toLong)
    def go = action(sql(query, params, fixedNowEpoch, graphScope))
    timeoutMs match {
      case None => go
      case Some(ms) => Graft.withTimeout(spark, ms)(go)
    }
  }

  /** Execute eagerly: [[run]] with a collect. */
  def collect(query: String, params: Map[String, Any] = Map.empty,
      fixedNowEpoch: Option[Long] = None): Array[org.apache.spark.sql.Row] =
    run(query, params, fixedNowEpoch)(_.collect())
}

object Graft {
  def apply(spark: SparkSession, dataDir: String): Graft = new Graft(spark, dataDir)

  /** AST-level query classification (see [[Graft.classify(query:String)*]]).
    * Search beats aggregation when both appear (a grouped NEAR query is
    * still a search response — the score column is the payload contract). */
  def classify(q: Ast.Query): String =
    if (q.matchQuery.isDefined) "graph"
    else q.select match {
      case Some(sel) =>
        val selects = sel +: q.compound.map(_.right).toSeq
        def isSearch(s: Ast.Select): Boolean =
          s.where.exists(condHasSearch) ||
            s.orderBy.exists(_.expr.isInstanceOf[Ast.OrderBySimilarity])
        def isAgg(s: Ast.Select): Boolean =
          s.groupBy.nonEmpty || (s.selectList match {
            case Ast.SelectItems(items) => items.exists(_.isRight)
            case _ => false
          })
        if (selects.exists(isSearch)) "search"
        else if (selects.exists(isAgg)) "aggregation"
        else "rows"
      case None => "rows"
    }

  private def condHasSearch(c: Ast.Condition): Boolean = c match {
    case _: Ast.VectorNear | _: Ast.VectorNearFused | _: Ast.SimilarityCond |
         _: Ast.TextMatch => true
    case Ast.And(l, r) => condHasSearch(l) || condHasSearch(r)
    case Ast.Or(l, r) => condHasSearch(l) || condHasSearch(r)
    case Ast.Not(x) => condHasSearch(x)
    case _ => false
  }

  /** Run `body` (Spark actions) under a job group cancelled after `ms`
    * milliseconds — the Spark-native rendering of the reference's query
    * timeout (with_clause.rs:97-101): running stages are interrupted
    * cluster-wide via `cancelJobGroup`, not just abandoned. */
  def withTimeout[T](spark: SparkSession, ms: Long)(body: => T): T = {
    val group = s"graft-timeout-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, s"graft query (timeout ${ms}ms)", interruptOnCancel = true)
    @volatile var timedOut = false
    val timer = new java.util.Timer("graft-timeout", true)
    timer.schedule(new java.util.TimerTask {
      override def run(): Unit = {
        timedOut = true
        // ...AndFutureJobs: jobs submitted after the deadline (multi-job
        // queries, e.g. BFS loops) are cancelled too — no race between
        // the watchdog and job submission
        sc.cancelJobGroupAndFutureJobs(group, s"graft timeout after ${ms}ms")
      }
    }, ms)
    try body
    catch {
      case e: Throwable if timedOut =>
        throw new velesql.TimeoutError(s"query exceeded ${ms} ms: ${e.getMessage}")
    } finally {
      timer.cancel()
      sc.clearJobGroup()
    }
  }
}
