package graft.queries

import graft.QueryDef
import graft.velesql.{Catalog, Compiler}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end VelesQL language surface: each query here is VelesQL TEXT
  * run through Parser → Compiler → Catalyst, oracle-checked in DuckDB.
  * This is the "switch engines and keep your queries" proof.
  */
object VelesqlQueries {

  private def vql(name: String, oracle: String, text: String,
      params: Map[String, Any] = Map.empty,
      nowEpoch: Option[Long] = None): QueryDef =
    QueryDef(name, oracle) { (s, d) =>
      new Compiler(s, new Catalog(s, d), params, nowEpoch).run(text)
    }

  private val qvec: Seq[Float] = graft.functions.VectorFunctions.syntheticQuery(64)
  private val qvecSql = qvec.map(_.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")
  /** Second fixed query vector (the same formula the fused/recall pins
    * inline) for multi-leg fusion rows. */
  private val qvecB: Seq[Float] =
    (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat)
  private val qvecBSql = qvecB.map(_.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")

  /** Exact top-10 truth for a recall pin's (fixed) query vector,
    * materialized ONCE per corpus stamp — the brute-force oracle is
    * data, not work: re-scoring the whole corpus on every bench pass
    * re-measured the exact scan five times per pin run (r10 VERDICT
    * floor-tail nit). Keyed on the embeddings parquet listing, so
    * regenerated testdata rebuilds the truth; the 10-row frame reads in
    * milliseconds on every later pass and across JVMs. */
  private def exactTruth(s: SparkSession, d: String, v: Seq[Float]): DataFrame = {
    val qh = java.lang.Long.toHexString(
      v.map(java.lang.Float.floatToIntBits(_).toLong)
        .foldLeft(1125899906842597L)((a, b) => a * 31 + b).abs)
    graft.Materialize(s, d, s"recall_truth10_cos_emb_$qh", Seq("embeddings"), None) {
      graft.operators.Knn.topK(graft.Tables.table(s, d, "embeddings"),
        "embedding", v, 10, "cosine", idCol = "vec_id").select("vec_id")
    }
  }

  /** Shared 3-vector recall-pin body: recall@10 of a probed `WITH (…)`
    * tier against the exact top-10 over three fixed query vectors
    * (30 relevant ids → resolution beyond one query's 10), bar ≥29/30
    * (the reference's ≥0.95 Accurate tier, docs/BENCHMARKS.md:96-102).
    * Shape: the 3 compiled probe legs are tag-unioned into ONE plan
    * BEFORE a single broadcast join against the tag-unioned truths and
    * one final agg — the r10/r11 join-per-leg shape paid a broadcast
    * build + join per leg, and those extra jobs amplified scheduler
    * noise into the bench record (r11 VERDICT ask #1). Legs still run
    * the full Parser → Compiler → WITH-option lowering under test. */
  private def recallPin(s: SparkSession, d: String, withOpts: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    val qb = (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat)
    val qc = (0 until 64).map(i => (math.sin(i * 1.3 + 0.5) * 0.3).toFloat)
    val cat = new Catalog(s, d)
    val legs = Seq(qvec, qb, qc).zipWithIndex.map { case (v, i) =>
      new Compiler(s, cat, Map("q" -> v))
        .run(s"SELECT vec_id FROM embeddings WHERE vector NEAR $$q LIMIT 10 WITH ($withOpts)")
        .select(lit(i).as("qtag"), col("vec_id"))
    }.reduce(_ unionAll _)
    val truths = Seq(qvec, qb, qc).zipWithIndex.map { case (v, i) =>
      exactTruth(s, d, v).select(lit(i).as("qtag"), col("vec_id"))
    }.reduce(_ unionAll _)
    legs.join(broadcast(truths), Seq("qtag", "vec_id"))
      .agg((count(lit(1)) >= lit(29)).cast("int").as("recall_ok"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- core SELECT: predicates (incl. reference Neq-on-NULL), ORDER, LIMIT
    vql("q90_vql_select",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice BETWEEN 100000 AND 200000
        |  AND (o_orderstatus IS NULL OR o_orderstatus <> 'P')
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice BETWEEN 100000 AND 200000 AND o_orderstatus != 'P'
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin),

    // ---- aggregates + GROUP BY + HAVING with reference result naming
    // (`count`, `{fn}_{col}`, alias) — sum over small-int quantities is
    // order-independent in f64, so the oracle hash is exact
    vql("q91_vql_agg",
      """SELECT l_returnflag, count(*) AS count, sum(l_quantity) AS total_qty,
        |       max(l_quantity) AS max_l_quantity
        |FROM lineitem GROUP BY l_returnflag
        |HAVING count(*) > 100 AND sum(l_quantity) > 1000
        |ORDER BY l_returnflag""".stripMargin,
      """SELECT l_returnflag, COUNT(*), SUM(l_quantity) AS total_qty, MAX(l_quantity)
        |FROM lineitem GROUP BY l_returnflag
        |HAVING COUNT(*) > 100 AND SUM(l_quantity) > 1000
        |ORDER BY l_returnflag ASC""".stripMargin),

    // ---- vector NEAR with $param binding, default metric from collection
    // meta, NEAR default LIMIT 10 via explicit LIMIT
    vql("q92_vql_near",
      s"""SELECT vec_id, score FROM (
         |  SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qvecSql) AS score
         |  FROM embeddings ORDER BY score DESC, vec_id LIMIT 10)""".stripMargin,
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 10",
      params = Map("q" -> qvec)),

    // ---- the flagship shape (reference README.md:163-176): similarity
    // threshold + metadata filter + ORDER BY similarity DESC + top-k
    vql("q93_vql_flagship",
      s"""SELECT vec_id, label FROM embeddings
         |WHERE list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qvecSql) > 0.2
         |  AND label IN (1, 2, 3, 4, 5)
         |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qvecSql) DESC,
         |         vec_id LIMIT 10""".stripMargin,
      """SELECT vec_id, label FROM embeddings
        |WHERE similarity(embedding, $q) > 0.2 AND label IN (1, 2, 3, 4, 5)
        |ORDER BY similarity(embedding, $q) DESC, vec_id ASC LIMIT 10""".stripMargin,
      params = Map("q" -> qvec)),

    // ---- text MATCH (BM25 membership) + metadata filter
    vql("q94_vql_match_text",
      """SELECT doc_id, lang FROM documents
        |WHERE len(list_intersect(
        |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 1),
        |        ['spark', 'stream'])) > 0
        |  AND lang = 'en' ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, lang FROM documents
        |WHERE text MATCH 'spark stream' AND lang = 'en'
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- JOIN through the language (all four types parse; inner here)
    vql("q95_vql_join",
      """SELECT c_name, n_name FROM customer
        |JOIN nation ON customer.c_nationkey = nation.n_nationkey
        |WHERE c_acctbal > 9900 ORDER BY c_name""".stripMargin,
      """SELECT c_name, n_name FROM customer
        |JOIN nation ON customer.c_nationkey = nation.n_nationkey
        |WHERE c_acctbal > 9900.0 ORDER BY c_name ASC""".stripMargin),

    // ---- compound UNION (parsed-only in the reference — executed here)
    vql("q96_vql_union",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000""".stripMargin,
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0""".stripMargin),

    // ---- Cypher-subset MATCH: label + property start filter, typed rel,
    // RETURN with AS
    vql("q97_vql_graph",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql})
         |SELECT c.c_custkey AS custkey, e.dst AS order_node FROM customer c
         |JOIN edges e ON e.label = 'placed' AND e.src = c.c_custkey
         |WHERE c.c_mktsegment = 'MACHINERY'
         |ORDER BY custkey, order_node""".stripMargin,
      """MATCH (c:Customer {segment: 'MACHINERY'})-[:placed]->(o:Order)
        |RETURN c.id AS custkey, o.id AS order_node
        |ORDER BY custkey ASC, order_node ASC""".stripMargin),

    // ---- undirected relationship `-[:placed]-` (grammar.pest
    // rel_undirected): matches the edge in EITHER direction, so an Order
    // node on the LEFT binds via the reversed placed edge (its only
    // incident direction) — a directed -> pattern here returns nothing.
    vql("q120_vql_match_undirected",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql}),
         |und AS (SELECT src AS s, dst AS d FROM edges WHERE label = 'placed'
         |        UNION ALL SELECT dst, src FROM edges WHERE label = 'placed')
         |SELECT o.o_orderkey + 10000000 AS order_node, u.d AS peer
         |FROM orders o JOIN und u ON u.s = o.o_orderkey + 10000000
         |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderkey < 3000
         |ORDER BY order_node, peer""".stripMargin,
      """MATCH (o:Order {segment: '1-URGENT'})-[:placed]-(c)
        |WHERE o.id < 10003000 RETURN o.id AS order_node, c.id AS peer
        |ORDER BY order_node ASC, peer ASC""".stripMargin),

    // ---- incoming relationship `<-[:placed]-` (grammar.pest
    // rel_incoming): the edge is traversed dst→src, binding the Customer
    // on the right; same result set as q120's undirected form but
    // through the dedicated "in"-direction compile path
    vql("q121_vql_match_incoming",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql})
         |SELECT o.o_orderkey + 10000000 AS order_node, e.src AS custkey
         |FROM orders o JOIN edges e
         |  ON e.label = 'placed' AND e.dst = o.o_orderkey + 10000000
         |WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderkey < 3000
         |ORDER BY order_node, custkey""".stripMargin,
      """MATCH (o:Order {segment: '1-URGENT'})<-[:placed]-(c:Customer)
        |WHERE o.id < 10003000 RETURN o.id AS order_node, c.id AS custkey
        |ORDER BY order_node ASC, custkey ASC""".stripMargin),

    // ---- temporal: NOW()/INTERVAL arithmetic with folded NOW
    // (2024-01-22T00:00:00Z = 1705881600)
    vql("q98_vql_temporal",
      """SELECT event_type, count(*) AS count FROM events
        |WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
      """SELECT event_type, COUNT(*) FROM events
        |WHERE ts > NOW() - INTERVAL '7 days'
        |GROUP BY event_type ORDER BY event_type ASC""".stripMargin,
      nowEpoch = Some(1705881600L)),

    // ---- quoted identifiers + DISTINCT (grammar.pest:236-253)
    vql("q99_vql_quoted",
      "SELECT DISTINCT o_orderstatus FROM orders",
      "SELECT DISTINCT `o_orderstatus` FROM \"orders\""),

    // ---- LEFT JOIN through the language with IS NULL on the outer side
    vql("q100_vql_left_join",
      """SELECT n_name, s_suppkey FROM nation
        |LEFT JOIN supplier ON nation.n_nationkey = supplier.s_nationkey
        |ORDER BY n_name, s_suppkey""".stripMargin,
      """SELECT n_name, s_suppkey FROM nation
        |LEFT JOIN supplier ON nation.n_nationkey = supplier.s_nationkey
        |ORDER BY n_name ASC, s_suppkey ASC""".stripMargin),

    // ---- HAVING chain with left-assoc OR then AND: ((c1 OR c2) AND c3)
    // — matches SQL parenthesization of the reference's sequential fold
    vql("q101_vql_having_chain",
      """SELECT o_orderpriority, count(*) AS count FROM orders
        |GROUP BY o_orderpriority
        |HAVING ((count(*) > 100000 OR min(o_totalprice) < 2000) AND max(o_totalprice) > 300000)
        |ORDER BY o_orderpriority""".stripMargin,
      """SELECT o_orderpriority, COUNT(*) FROM orders
        |GROUP BY o_orderpriority
        |HAVING COUNT(*) > 100000 OR MIN(o_totalprice) < 2000.0 AND MAX(o_totalprice) > 300000.0
        |ORDER BY o_orderpriority ASC""".stripMargin),

    // ---- LIMIT/OFFSET through the language
    vql("q102_vql_offset",
      """SELECT o_orderkey FROM orders
        |ORDER BY o_orderkey LIMIT 15 OFFSET 30""".stripMargin,
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey ASC LIMIT 15 OFFSET 30"),

    // ---- NEAR_FUSED multi-vector through the language (maximum fusion)
    vql("q103_vql_near_fused",
      s"""SELECT vec_id, score FROM (
         |  SELECT vec_id, greatest(
         |    list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qvecSql),
         |    list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |      [${(0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat.toDouble.toString).mkString(",")}]::DOUBLE[])) AS score
         |  FROM embeddings ORDER BY score DESC, vec_id LIMIT 10)""".stripMargin,
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR_FUSED [$a, $b] USING FUSION 'maximum' LIMIT 10",
      params = Map(
        "a" -> qvec,
        "b" -> (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat))),

    // ---- NEAR_FUSED + selective metadata WHERE: the filter applies
    // BEFORE the candidate legs (filter-then-search, the same contract as
    // plain NEAR — vector.rs:164-239), so per-leg RRF ranks are ranks
    // WITHIN the filtered set and a selective filter can never starve
    // the bounded CandidateK fetch. This query pins that semantics.
    vql("q116_vql_fused_filtered",
      s"""WITH f AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE label IN (1, 2)),
         |la AS (
         |  SELECT vec_id, row_number() OVER (
         |    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qvecSql) DESC,
         |      vec_id) AS rnk
         |  FROM f QUALIFY rnk <= 2000),
         |lb AS (
         |  SELECT vec_id, row_number() OVER (
         |    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |      [${(0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat.toDouble.toString).mkString(",")}]::DOUBLE[]) DESC,
         |      vec_id) AS rnk
         |  FROM f QUALIFY rnk <= 2000)
         |SELECT vec_id, score FROM (
         |  SELECT vec_id, sum(1.0 / (60 + rnk)) AS score
         |  FROM (SELECT * FROM la UNION ALL SELECT * FROM lb) GROUP BY vec_id)
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
      """SELECT vec_id, score FROM embeddings
        |WHERE label IN (1, 2) AND vector NEAR_FUSED [$a, $b] USING FUSION 'rrf'
        |LIMIT 10""".stripMargin,
      params = Map(
        "a" -> qvec,
        "b" -> (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat))),

    // ---- hybrid text+vector through the language (F4, text.rs:113-203):
    // MATCH is a fused leg (weighted RRF), NOT a filter; the lang filter
    // applies BEFORE both legs (filter-then-search, same contract as
    // plain NEAR — vector.rs:164-239), so per-leg ranks are ranks within
    // the filtered doc set. BM25 per-doc scores stay corpus-wide (they
    // don't depend on other docs beyond the corpus stats). Candidate-K:
    // each leg contributes its top-2000 of the FILTERED set only
    // (reference bounded fetch, text.rs:133-134), candidates = the union
    // of the legs' top-K, missing leg contributes 0.
    vql("q104_vql_hybrid",
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, d.lang, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |fc AS (SELECT * FROM corpus WHERE lang = 'en'),
         |vr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |      [${qvec.map(_.toDouble.toString).mkString(",")}]::DOUBLE[]) DESC, doc_id) AS vrank
         |  FROM fc QUALIFY vrank <= 2000),
         |tok AS (SELECT doc_id, u.t AS term
         |  FROM corpus, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
         |  WHERE len(u.t) > 1),
         |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
         |stats AS (SELECT count(*) AS n, avg(CAST(dlen AS DOUBLE)) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('spark', 'stream') GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         |bm AS (SELECT tf.doc_id, sum(
         |    ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl))) AS score
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY tf.doc_id),
         |tr AS (SELECT bm.doc_id, row_number() OVER (ORDER BY bm.score DESC, bm.doc_id) AS trank
         |       FROM bm JOIN fc ON fc.doc_id = bm.doc_id QUALIFY trank <= 2000),
         |cand AS (
         |  SELECT coalesce(vr.doc_id, tr.doc_id) AS doc_id,
         |    coalesce(0.5 / (60 + vrank), 0.0) + coalesce(0.5 / (60 + trank), 0.0) AS score
         |  FROM vr FULL JOIN tr ON tr.doc_id = vr.doc_id)
         |SELECT doc_id, score FROM cand
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      """SELECT doc_id, score FROM corpus
        |WHERE text MATCH 'spark stream' AND vector NEAR $q AND lang = 'en'
        |LIMIT 10
        |USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)""".stripMargin,
      params = Map("q" -> qvec)),

    // ---- var-length MATCH through the language: *1..2 over typed edges,
    // BFS loop vs recursive-CTE oracle (reachable pairs)
    vql("q105_vql_varlength",
      s"""WITH RECURSIVE edges AS (${graft.operators.Graph.edgesSql}),
         |te AS (SELECT * FROM edges WHERE label IN ('placed', 'contains')),
         |starts AS (SELECT c_custkey AS start FROM customer
         |           WHERE c_mktsegment = 'FURNITURE' AND c_custkey < 100),
         |walk(start, node, depth) AS (
         |  SELECT s.start, e.dst, 1 FROM starts s JOIN te e ON e.src = s.start
         |  UNION
         |  SELECT w.start, e.dst, w.depth + 1 FROM walk w
         |  JOIN te e ON e.src = w.node WHERE w.depth < 2)
         |SELECT DISTINCT start, node FROM walk
         |ORDER BY start, node""".stripMargin,
      """MATCH (c:Customer {segment: 'FURNITURE'})-[:placed|contains*1..2]->(x)
        |WHERE c.id < 100
        |RETURN c.id AS start, x.id AS node
        |ORDER BY start ASC, node ASC""".stripMargin),

    // ---- G4 via language: similarity() guard inside MATCH WHERE
    vql("q106_vql_match_sim",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql})
         |SELECT c.c_custkey AS custkey, count(*) AS n_orders
         |FROM customer c
         |JOIN embeddings v ON v.vec_id = c.c_custkey
         |JOIN edges e ON e.label = 'placed' AND e.src = c.c_custkey
         |WHERE list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), $qvecSql) > 0.2
         |GROUP BY c.c_custkey ORDER BY custkey""".stripMargin,
      """MATCH (c:Customer)-[:placed]->(o:Order)
        |WHERE similarity(c.embedding, $q) > 0.2
        |RETURN c.id AS custkey, o.id AS order_node""".stripMargin,
      params = Map("q" -> qvec)) match {
      case qd => // wrap: count orders per customer for a stable aggregate shape
        QueryDef(qd.name, qd.oracle.get) { (s, d) =>
          qd.fn(s, d).groupBy("custkey")
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_orders"))
            .orderBy("custkey")
        }
    },

    // ---- A6 via language: ORDER BY an aggregate
    vql("q107_vql_order_by_agg",
      """SELECT o_custkey, count(*) AS count FROM orders
        |GROUP BY o_custkey
        |ORDER BY count(*) DESC, o_custkey LIMIT 10""".stripMargin,
      """SELECT o_custkey, COUNT(*) FROM orders
        |GROUP BY o_custkey
        |ORDER BY COUNT(*) DESC, o_custkey ASC LIMIT 10""".stripMargin),

    // ---- G1 via language: rel-property threshold through a bound rel
    // alias — `[r:contains]` binds the edge's properties, WHERE filters
    // on r.weight (graph_pattern.rs:86-87; edge properties edge.rs:36-42)
    vql("q109_vql_match_relprop",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql})
         |SELECT src AS order_node, dst AS part_node, weight AS qty FROM edges
         |WHERE label = 'contains' AND weight > 48""".stripMargin,
      """MATCH (o:Order)-[r:contains]->(p:Part)
        |WHERE r.weight > 48
        |RETURN o.id AS order_node, p.id AS part_node, r.weight AS qty""".stripMargin),

    // ---- G5 via language: RETURN similarity(alias.field, $v) projects
    // the score out of a MATCH (match_exec.rs:61-81)
    vql("q110_vql_match_retsim",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql})
         |SELECT c.c_custkey AS custkey, e.dst AS order_node,
         |  list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), $qvecSql) AS sim
         |FROM customer c
         |JOIN embeddings v ON v.vec_id = c.c_custkey
         |JOIN edges e ON e.label = 'placed' AND e.src = c.c_custkey
         |WHERE list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), $qvecSql) > 0.25""".stripMargin,
      """MATCH (c:Customer)-[:placed]->(o:Order)
        |WHERE similarity(c.embedding, $q) > 0.25
        |RETURN c.id AS custkey, o.id AS order_node, similarity(c.embedding, $q) AS sim""".stripMargin,
      params = Map("q" -> qvec)),

    // ---- correlated scalar subquery, decorrelated to a groupBy ⋈ join
    // (ast/values.rs CorrelatedColumn; subquery_optimizer.rs RewriteAsJoin)
    vql("q111_vql_corr_subquery",
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT min(o_totalprice) FROM orders
        |                   WHERE o_custkey = customer.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT MIN(o_totalprice) FROM orders
        |                   WHERE o_custkey = customer.c_custkey)
        |ORDER BY c_custkey ASC""".stripMargin),

    // ---- uncorrelated scalar subquery through the language — lowered to
    // a NATIVE Spark scalar subquery (no compile-time collect)
    vql("q112_vql_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders
        |                      WHERE o_orderpriority = '1-URGENT')
        |ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders
        |                      WHERE o_orderpriority = '1-URGENT')
        |ORDER BY o_orderkey ASC""".stripMargin),

    // ---- scalar subquery WITH grouping (grammar.pest subquery_expr
    // allows group_by/having/limit), driven to the EMPTY case: no group
    // passes HAVING, the scalar is NULL, and `x > NULL` keeps no rows —
    // SQL three-valued logic, not an error. (A populated grouped LIMIT 1
    // has no ORDER BY in the subquery grammar, so only the ≤1-group case
    // is deterministic enough to oracle-pin.)
    vql("q122_vql_subquery_grouped",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT max(o_totalprice) FROM orders
        |  GROUP BY o_orderpriority HAVING count(*) > 1000000000 LIMIT 1)
        |ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT MAX(o_totalprice) FROM orders
        |  GROUP BY o_orderpriority HAVING COUNT(*) > 1000000000 LIMIT 1)
        |ORDER BY o_orderkey ASC""".stripMargin),

    // ---- in-pattern rel property equality `[r:contains {weight: 50.0}]`
    vql("q113_vql_match_relprop_eq",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql})
         |SELECT src AS order_node, dst AS part_node FROM edges
         |WHERE label = 'contains' AND weight = 50.0""".stripMargin,
      """MATCH (o:Order)-[r:contains {weight: 50.0}]->(p:Part)
        |RETURN o.id AS order_node, p.id AS part_node""".stripMargin),

    // ---- named path `p = (…)` binds the array of bound node ids
    // (graph_pattern.rs:24-25). The harness projects the path as a
    // '->'-joined STRING on both sides: the oracle comparator (pandas)
    // cannot sort/hash list cells, so an array-typed column can never
    // pass regardless of values. The array-typed form is asserted in
    // R2FeaturesSpec.
    QueryDef("q114_vql_named_path",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql})
         |SELECT c.c_custkey AS custkey,
         |  array_to_string([c.c_custkey, e.dst], '->') AS p
         |FROM customer c
         |JOIN edges e ON e.label = 'placed' AND e.src = c.c_custkey
         |WHERE c.c_mktsegment = 'MACHINERY'""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.{col, concat_ws}
      new Compiler(s, new Catalog(s, d))
        .run("""MATCH p = (c:Customer {segment: 'MACHINERY'})-[:placed]->(o:Order)
                |RETURN c.id AS custkey, p""".stripMargin)
        .withColumn("p", concat_ws("->", col("p").cast("array<string>")))
    },

    // ---- WITH (quantization='binary') two-phase NEAR on 128-dim vectors
    // — the multi-word (array<bigint>) sketch path; the oracle replicates
    // phase 1 (sign-bit hamming, k×oversampling candidates) and phase 2
    // (exact cosine rerank) explicitly
    vql("q115_vql_quantized_wide", {
      val qw = (qvec ++ qvec).map(_.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")
      s"""WITH wide AS (
         |  SELECT vec_id, embedding || embedding AS embedding FROM embeddings),
         |cand AS (
         |  SELECT vec_id, embedding,
         |    len(list_filter(range(1, 129),
         |        i -> (embedding[i] >= 0) <> (($qw)[i] >= 0))) AS ham
         |  FROM wide ORDER BY ham, vec_id LIMIT 40)
         |SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qw) AS score
         |FROM cand ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
      """SELECT vec_id, score FROM embeddings_wide
        |WHERE vector NEAR $q LIMIT 10
        |WITH (quantization = 'binary', oversampling = 4)""".stripMargin,
      params = Map("q" -> (qvec ++ qvec))),

    // ---- WITH (rerank=true): two-phase search WITHOUT an explicit
    // quantization key (with_clause.rs:106-110; search_with_rerank,
    // index/hnsw/index/search.rs:118-159) — candidate pool = k × the
    // default rerank multiplier 2 (config.rs:228,240), exact rerank after
    vql("q117_vql_rerank", {
      val qw = (qvec ++ qvec).map(_.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")
      s"""WITH wide AS (
         |  SELECT vec_id, embedding || embedding AS embedding FROM embeddings),
         |cand AS (
         |  SELECT vec_id, embedding,
         |    len(list_filter(range(1, 129),
         |        i -> (embedding[i] >= 0) <> (($qw)[i] >= 0))) AS ham
         |  FROM wide ORDER BY ham, vec_id LIMIT 20)
         |SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qw) AS score
         |FROM cand ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
      """SELECT vec_id, score FROM embeddings_wide
        |WHERE vector NEAR $q LIMIT 10
        |WITH (rerank = true)""".stripMargin,
      params = Map("q" -> (qvec ++ qvec))),

    // ---- NEAR_FUSED 'weighted' through the language (fusion/strategy
    // .rs:67-78): avg_weight×avg + max_weight×max + hit_weight×hit_ratio
    // over candidate-K legs
    vql("q119_vql_fused_weighted",
      s"""WITH la AS (
         |  SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qvecSql) AS s
         |  FROM embeddings ORDER BY s DESC, vec_id LIMIT 2000),
         |lb AS (
         |  SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |    [${(0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat.toDouble.toString).mkString(",")}]::DOUBLE[]) AS s
         |  FROM embeddings ORDER BY s DESC, vec_id LIMIT 2000)
         |SELECT vec_id, score FROM (
         |  SELECT vec_id, 0.5 * avg(s) + 0.3 * max(s) + 0.2 * (count(*) / 2.0) AS score
         |  FROM (SELECT * FROM la UNION ALL SELECT * FROM lb) GROUP BY vec_id)
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
      """SELECT vec_id, score FROM embeddings
        |WHERE vector NEAR_FUSED [$a, $b]
        |USING FUSION 'weighted' (avg_weight = 0.5, max_weight = 0.3, hit_weight = 0.2)
        |LIMIT 10""".stripMargin,
      params = Map(
        "a" -> qvec,
        "b" -> (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat))),

    // ---- WITH (quantization='int8') alone: "int8 only (fast,
    // approximate)" (QuantizationMode::Int8, with_clause.rs:15-16) —
    // scores ARE the dequantized-SQ8 scores, no rerank. The SQ8 codec is
    // deterministic double arithmetic (per-vector min/max, 256 levels,
    // quantization.rs:209-216), so the oracle replays it exactly.
    vql("q118_vql_int8", {
      val qd = qvec.map(_.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")
      s"""WITH s AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
         |    CASE WHEN list_aggregate(embedding, 'max') > list_aggregate(embedding, 'min')
         |         THEN CAST(list_aggregate(embedding, 'max') - list_aggregate(embedding, 'min') AS DOUBLE) / 255.0
         |         ELSE 1.0 END AS scale
         |  FROM embeddings),
         |d AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(round((CAST(x AS DOUBLE) - mn) / scale) * scale + mn AS FLOAT)) AS va
         |  FROM s)
         |SELECT vec_id, list_cosine_similarity(CAST(va AS DOUBLE[]), $qd) AS score
         |FROM d ORDER BY score DESC, vec_id LIMIT 5""".stripMargin
    },
      """SELECT vec_id, score FROM embeddings
        |WHERE vector NEAR $q LIMIT 5
        |WITH (quantization = 'int8')""".stripMargin,
      params = Map("q" -> qvec)),

    // ---- V8 partial-probe ANN recall pin (CORRECTNESS row, not just a
    // spec): recall@10 of `WITH (mode = 'accurate')` — LSH probe radius 4,
    // Compiler.scala's quality-tier lowering, a genuinely partial probe
    // (57 of 64 Hamming buckets) — against the exact top-10, over three
    // independent query vectors (30 relevant ids total, so the pin has
    // resolution beyond a single query's 10). The reference bar is
    // recall ≥ 0.95 (docs/BENCHMARKS.md:96-102, mirror of
    // benches/recall_benchmark.rs): hits ≥ ⌈30×0.95⌉ = 29; measured 29/30
    // at sf0.01 and 30/30 at sf0.1 (PERF_r17_ann.md). The oracle row is the
    // constant 1 — a recall dip below the bar flips the engine row to 0
    // and turns this red in CORRECTNESS. (The testdata embeddings are
    // near-uniform directions — the ANN worst case; 'balanced'/'fast'
    // measure ~0.5/~0.25 here and stay spec-gated by monotone recall.)
    QueryDef("q123_ann_recall", "SELECT CAST(1 AS INT) AS recall_ok") { (s, d) =>
      recallPin(s, d, "mode = 'accurate'")
    },

    // ---- V8 via the TRAINED index: same recall pin as q123 but through
    // `WITH (index = 'ivf')` — the k-means cell probe (q59's materialized
    // index) at its accurate tier (nprobe = k-1 of 8 cells; measured
    // 29/30 at sf0.01, 30/30 at sf0.1 — PERF_r17_ann.md). Same ≥0.95 bar.
    QueryDef("q125_ann_recall_ivf", "SELECT CAST(1 AS INT) AS recall_ok") { (s, d) =>
      recallPin(s, d, "mode = 'accurate', index = 'ivf'")
    },

    // ---- V8 via `WITH (index = 'hnsw')`: the reference's graph index
    // (index/hnsw/native_index.rs:230) compiles to q125's plan — route to
    // the 7 nearest of 8 IVF cells, exact top-k inside them — so it hits
    // exactly what q125 hits (IndexRouteSpec pins the identical rows and
    // plans). Same ≥0.95 Accurate bar.
    QueryDef("q195_ann_recall_hnsw", "SELECT CAST(1 AS INT) AS recall_ok") { (s, d) =>
      recallPin(s, d, "mode = 'accurate', index = 'hnsw'")
    },

    // ---- V11+ beyond-reference: PQ ADC recall pin — same shape as
    // q123/q125 but through `WITH (quantization = 'pq')`: narrow-codes
    // ADC ordering + exact rerank. Calibration (PERF_r17.md, same
    // near-uniform worst-case testdata): m=8 k=32 oversampling=16 →
    // 29/30 at sf0.01. Same ≥0.95 bar as the reference's Accurate tier.
    QueryDef("q133_pq_recall", "SELECT CAST(1 AS INT) AS recall_ok") { (s, d) =>
      recallPin(s, d, "quantization = 'pq', oversampling = 16")
    },

    // ---- V8+V11 composed, beyond-reference: IVF-PQ recall pin — the
    // cluster-scale ANN shape (coarse cell probe prunes the scan to
    // nprobe/cells of the NARROW codes table, ADC orders inside, exact
    // rerank). Same shape as q125/q133 but `WITH (mode = 'accurate',
    // index = 'ivf', quantization = 'pq')`. Calibration (PERF_r17_ann.md,
    // near-uniform worst-case testdata): nprobe=7 of 8 cells at the
    // composed default oversampling=64 → 29/30 at sf0.01 and 30/30 at
    // sf0.1. Same ≥0.95 Accurate-tier bar as q123/q125/q133.
    QueryDef("q139_ivfpq_recall", "SELECT CAST(1 AS INT) AS recall_ok") { (s, d) =>
      recallPin(s, d, "mode = 'accurate', index = 'ivf', quantization = 'pq'")
    },

    // ---- P12: scalar $params inside IN lists
    vql("q108_vql_in_params",
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_totalprice > 350000
        |ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ($p1, $p2) AND o_totalprice > $minprice
        |ORDER BY o_orderkey ASC""".stripMargin,
      params = Map("p1" -> "1-URGENT", "p2" -> "2-HIGH", "minprice" -> 350000.0)),

    // ---- W3 edge: OFFSET+LIMIT spanning past the END of the result set
    // returns the partial tail (not an error, not empty) — nation is 25
    // rows at every SF, so OFFSET 20 LIMIT 10 is exactly the last 5.
    // Promotes the r15 OFFSET/LIMIT hardening to an oracle pin.
    vql("q196_vql_offset_tail",
      "SELECT n_name FROM nation ORDER BY n_name ASC LIMIT 10 OFFSET 20",
      "SELECT n_name FROM nation ORDER BY n_name ASC LIMIT 10 OFFSET 20"),

    // ---- G4 edge: alias-vs-alias MATCH WHERE — the RHS of a comparison
    // is ANOTHER alias's bound property (`a.name < b.name`,
    // match_exec.rs:340-399), over a V-shaped pattern binding TWO rel
    // aliases. Promotes the r15 alias-ref-RHS resolution fix from
    // unit-pinned (VelesqlHardeningSpec) to oracle-pinned. Data-
    // dependent: part pairs within one order, name-ordered.
    vql("q197_vql_match_alias_cmp",
      s"""WITH edges AS (${graft.operators.Graph.edgesSql}),
         |ce AS (SELECT * FROM edges WHERE label = 'contains' AND weight > 49),
         |pn AS (SELECT p_partkey + 20000000 AS pid, p_name FROM part)
         |SELECT a.pid AS part_a, b.pid AS part_b
         |FROM ce e1 JOIN ce e2 ON e1.src = e2.src
         |JOIN pn a ON a.pid = e1.dst JOIN pn b ON b.pid = e2.dst
         |WHERE a.p_name < b.p_name
         |ORDER BY part_a ASC, part_b ASC LIMIT 50""".stripMargin,
      """MATCH (a:Part)<-[r1:contains]-(o:Order)-[r2:contains]->(b:Part)
        |WHERE r1.weight > 49 AND r2.weight > 49 AND a.name < b.name
        |RETURN a.id AS part_a, b.id AS part_b
        |ORDER BY part_a ASC, part_b ASC LIMIT 50""".stripMargin),

    // ---- F4 edge: a SECOND MATCH conjunct stays a boolean FILTER while
    // the first becomes the fused text leg (text.rs:221-280; the r15
    // single-conjunct strip). The filter (second MATCH + lang) applies
    // BEFORE both legs (filter-then-search); BM25 per-doc stats stay
    // corpus-wide (deliberate reference fidelity, as in q104).
    vql("q198_vql_hybrid_second_match",
      s"""WITH corpus AS (
         |  SELECT d.doc_id, d.text, d.lang, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |fc AS (SELECT * FROM corpus WHERE lang = 'en'
         |  AND len(list_intersect(
         |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 1),
         |        ['data'])) > 0),
         |vr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |      $qvecSql) DESC, doc_id) AS vrank
         |  FROM fc QUALIFY vrank <= 2000),
         |tok AS (SELECT doc_id, u.t AS term
         |  FROM corpus, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
         |  WHERE len(u.t) > 1),
         |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
         |stats AS (SELECT count(*) AS n, avg(CAST(dlen AS DOUBLE)) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ('spark', 'stream') GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
         |bm AS (SELECT tf.doc_id, sum(
         |    ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |    * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl))) AS score
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY tf.doc_id),
         |tr AS (SELECT bm.doc_id, row_number() OVER (ORDER BY bm.score DESC, bm.doc_id) AS trank
         |       FROM bm JOIN fc ON fc.doc_id = bm.doc_id QUALIFY trank <= 2000),
         |cand AS (
         |  SELECT coalesce(vr.doc_id, tr.doc_id) AS doc_id,
         |    coalesce(0.5 / (60 + vrank), 0.0) + coalesce(0.5 / (60 + trank), 0.0) AS score
         |  FROM vr FULL JOIN tr ON tr.doc_id = vr.doc_id)
         |SELECT doc_id, score FROM cand
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      """SELECT doc_id, score FROM corpus
        |WHERE text MATCH 'spark stream' AND text MATCH 'data'
        |  AND vector NEAR $q AND lang = 'en'
        |LIMIT 10
        |USING FUSION(strategy = 'rrf', k = 60, vector_weight = 0.5)""".stripMargin,
      params = Map("q" -> qvec)),

    // ---- F4/T edge: MATCH under OR is a boolean filter ARM — the r15
    // fix stopped the fused-leg strip from silently deleting the OR
    // branch. Membership semantics: any query term present (len>1
    // tokens), same as q94.
    vql("q199_vql_match_under_or",
      """SELECT doc_id, lang FROM documents
        |WHERE (len(list_intersect(
        |        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 1),
        |        ['spark'])) > 0 OR lang = 'fr')
        |  AND n_chars > 200 ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, lang FROM documents
        |WHERE (text MATCH 'spark' OR lang = 'fr') AND n_chars > 200
        |ORDER BY doc_id ASC""".stripMargin),

    // ---- V6 edge: a SELECT-LEVEL `USING FUSION(…)` clause applies to
    // NEAR_FUSED exactly like the condition-level form
    // (grammar.pest:78-83; r15: used to be silently ignored) —
    // 'average' over the label-filtered frame (filter-then-search).
    vql("q200_vql_fused_select_fusion",
      s"""SELECT vec_id, score FROM (
         |  SELECT vec_id,
         |    (list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qvecSql)
         |     + list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qvecBSql)) / 2.0 AS score
         |  FROM embeddings WHERE label IN (1, 2, 3)
         |  ORDER BY score DESC, vec_id LIMIT 10)""".stripMargin,
      """SELECT vec_id, score FROM embeddings
        |WHERE label IN (1, 2, 3) AND vector NEAR_FUSED [$a, $b]
        |LIMIT 10
        |USING FUSION(strategy = 'average')""".stripMargin,
      params = Map("a" -> qvec, "b" -> qvecB))
  )
}
