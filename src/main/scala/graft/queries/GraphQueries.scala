package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Graph / MATCH operator surface (SURVEY.md §2.10) over the derived
  * customer→order→part→supplier property graph.
  *
  * Fixed-length patterns compile to joins; var-length `*1..n` compiles to
  * the iterative BFS in [[Graph.bfsVarLength]] and is oracle-checked
  * against a DuckDB `WITH RECURSIVE` min-depth walk.
  */
object GraphQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.table(s, d, n)

  /** PageRank loop invariants of the derived dataset graph — node set
    * and out-degrees — MATERIALIZED once per dataset dir: they are
    * edge-table-stable, so deriving them per execution paid two full
    * edge-frame shuffles (checkpoint jobs) every run. */
  private def prInvariants(s: SparkSession, d: String): (DataFrame, DataFrame) = (
    graft.Materialize(s, d, "pr_nodes", Seq("orders", "lineitem"), Some("node")) {
      val e = Graph.edges(s, d).select("src", "dst")
      e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
    },
    graft.Materialize(s, d, "pr_edeg", Seq("orders", "lineitem"), Some("src")) {
      val e = Graph.edges(s, d).select("src", "dst")
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .select(col("src"), col("dst"), col("deg"))
    })

  /** Co-purchase projection shared by q177/q182/q183/q186: parts
    * sharing an order ≥2 times, as canonical `(a < b)` distinct pairs.
    * MATERIALIZED once per dataset dir (a-clustered parquet) — the
    * projected graph is the artifact a production system persists next
    * to its edge store; four analytics queries start from a scan
    * instead of re-running the order×part self-join. Rebuilds when the
    * lineitem parquet changes, like every derived index here. */
  private def coPurchasePairs(s: SparkSession, d: String): DataFrame =
    graft.Materialize(s, d, "copurchase", Seq("lineitem"), Some("a")) {
      val op = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      op.as("x")
        .join(op.as("y"), col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("a"), col("y.p").as("b"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= 2).select("a", "b")
    }

  /** The co-purchase edge CTEs + `rounds` unrolled k=2 peel rounds
    * (`s0` symmetrized, `n_i` = surviving nodes, `s_i` = restricted
    * edges) — the q182 oracle chain. */
  private def kcoreChain(rounds: Int): String = {
    val sb = new StringBuilder(
      """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT x.p AS a, y.p AS b FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |s0 AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e)""".stripMargin)
    for (i <- 1 to rounds) sb.append(
      s""",
         |n$i AS (SELECT u FROM s${i - 1} GROUP BY u HAVING count(*) >= 2),
         |s$i AS (SELECT s.u, s.v FROM s${i - 1} s
         |        JOIN n$i x ON s.u = x.u JOIN n$i y ON s.v = y.u)""".stripMargin)
    sb.toString
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- S5/G9: degree — out-degree per (node, label)
    // (graph_api.rs:270-299: degree = count of outgoing edges)
    QueryDef(
      "q80_out_degree",
      s"""WITH edges AS (${Graph.edgesSql})
         |SELECT label, src, count(*) AS degree FROM edges
         |GROUP BY label, src ORDER BY degree DESC, src LIMIT 20""".stripMargin) { (s, d) =>
      Graph.edges(s, d)
        .groupBy("label", "src").agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("src")).limit(20)
    },

    // ---- G1/G5: fixed 2-hop MATCH
    // (c:Customer {mktsegment:'BUILDING'})-[:placed]->(o)-[:contains]->(p)
    // RETURN c, count(DISTINCT p) — node property filter on the start node,
    // typed relationships, RETURN projection (match_exec.rs:61-81, 221-290)
    QueryDef(
      "q81_match_2hop",
      s"""WITH edges AS (${Graph.edgesSql})
         |SELECT c.c_custkey AS custkey, count(DISTINCT e2.dst) AS n_parts
         |FROM customer c
         |JOIN edges e1 ON e1.label = 'placed' AND e1.src = c.c_custkey
         |JOIN edges e2 ON e2.label = 'contains' AND e2.src = e1.dst
         |WHERE c.c_mktsegment = 'BUILDING'
         |GROUP BY c.c_custkey""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val e = Graph.edges(s, d)
      val e1 = e.where(col("label") === "placed")
        .select(col("src").as("s1"), col("dst").as("d1"))
      val e2 = e.where(col("label") === "contains")
        .select(col("src").as("s2"), col("dst").as("d2"))
      c.join(e1, c("c_custkey") === col("s1"))
        .join(e2, col("d1") === col("s2"))
        .groupBy(c("c_custkey").as("custkey"))
        .agg(countDistinct(col("d2")).as("n_parts"))
    },

    // ---- G3: var-length traversal *1..3 with min-depth semantics,
    // BFS loop-of-joins vs DuckDB recursive CTE
    QueryDef(
      "q82_bfs_varlength",
      s"""WITH RECURSIVE edges AS (${Graph.edgesSql}),
         |starts AS (SELECT c_custkey AS start FROM customer WHERE c_custkey < 20),
         |walk(start, node, depth) AS (
         |  SELECT s.start, e.dst, 1 FROM starts s JOIN edges e ON e.src = s.start
         |  UNION
         |  SELECT w.start, e.dst, w.depth + 1 FROM walk w
         |  JOIN edges e ON e.src = w.node WHERE w.depth < 3)
         |SELECT start, node, min(depth) AS depth FROM walk GROUP BY start, node""".stripMargin) { (s, d) =>
      val starts = t(s, d, "customer").where(col("c_custkey") < 20)
        .select(col("c_custkey").as("start"))
      Graph.bfsVarLength(Graph.edges(s, d), starts, 3)
        .select("start", "node", "depth")
    },

    // ---- G3: typed var-length — only 'placed'/'contains' edges, *1..2
    QueryDef(
      "q83_bfs_typed",
      s"""WITH RECURSIVE edges AS (${Graph.edgesSql}),
         |te AS (SELECT * FROM edges WHERE label IN ('placed', 'contains')),
         |starts AS (SELECT c_custkey AS start FROM customer WHERE c_custkey < 50),
         |walk(start, node, depth) AS (
         |  SELECT s.start, e.dst, 1 FROM starts s JOIN te e ON e.src = s.start
         |  UNION
         |  SELECT w.start, e.dst, w.depth + 1 FROM walk w
         |  JOIN te e ON e.src = w.node WHERE w.depth < 2)
         |SELECT start, node, min(depth) AS depth FROM walk GROUP BY start, node""".stripMargin) { (s, d) =>
      val starts = t(s, d, "customer").where(col("c_custkey") < 50)
        .select(col("c_custkey").as("start"))
      Graph.bfsVarLength(Graph.edges(s, d), starts, 2,
          relTypes = Seq("placed", "contains"))
        .select("start", "node", "depth")
    },

    // ---- G2/G4: MATCH with WHERE similarity() on the start node's
    // embedding (match_exec.rs:340-399) — vector-guarded traversal:
    // (c)-[:placed]->(o) WHERE similarity(c.vec, $q) > 0.2
    QueryDef(
      "q84_match_similarity",
      s"""WITH edges AS (${Graph.edgesSql})
         |SELECT c.c_custkey AS custkey, count(*) AS n_orders
         |FROM customer c
         |JOIN embeddings v ON v.vec_id = c.c_custkey
         |JOIN edges e ON e.label = 'placed' AND e.src = c.c_custkey
         |WHERE list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
         |  [${graft.functions.VectorFunctions.syntheticQuery(64).map(_.toDouble.toString).mkString(",")}]::DOUBLE[]) > 0.2
         |GROUP BY c.c_custkey""".stripMargin) { (s, d) =>
      val q = graft.functions.VectorFunctions.syntheticQuery(64)
      val c = t(s, d, "customer")
      val v = t(s, d, "embeddings")
      val e = Graph.edges(s, d).where(col("label") === "placed")
      val sim = graft.functions.VectorFunctions.cosine_sim(
        col("embedding"), graft.functions.VectorFunctions.vecLit(q))
      c.join(v, v("vec_id") === c("c_custkey"))
        .where(sim > 0.2)
        .join(e, e("src") === c("c_custkey"))
        .groupBy(c("c_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
    },

    // ---- G1: undirected / incoming direction — in-degree of suppliers
    // via reversed 'supplied_by' edges (edge.rs incoming index)
    QueryDef(
      "q85_in_degree",
      s"""WITH edges AS (${Graph.edgesSql})
         |SELECT dst AS node, count(*) AS in_degree FROM edges
         |WHERE label = 'supplied_by'
         |GROUP BY dst""".stripMargin) { (s, d) =>
      Graph.edges(s, d).where(col("label") === "supplied_by")
        .groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("in_degree"))
    },

    // ---- Beyond-reference G: weighted shortest paths (bounded
    // Bellman-Ford, ≤3 hops, customers 1-3 as sources) — the reference
    // stores edge weights (edge.rs:36-42) but only traverses unweighted;
    // this is the distributed SSSP round (one relaxation join + min-agg
    // per hop). Oracle: bounded recursive-CTE path enumeration — same
    // candidate set, same left-to-right float association per path.
    QueryDef(
      "q148_shortest_path",
      s"""WITH RECURSIVE edges AS (${Graph.edgesSql}),
         |walk(start, node, cost, hops) AS (
         |  SELECT src, dst, weight, 1 FROM edges WHERE src IN (1, 2, 3)
         |  UNION ALL
         |  SELECT w.start, e.dst, w.cost + e.weight, w.hops + 1
         |  FROM walk w JOIN edges e ON e.src = w.node
         |  WHERE w.hops < 3)
         |SELECT start, node, round(min(cost), 4) AS cost
         |FROM walk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val starts = t(s, d, "customer").where(col("c_custkey").isin(1, 2, 3))
        .select(col("c_custkey").as("start"))
      Graph.orderedIfSmall(
        Graph.shortestPaths(Graph.edges(s, d), starts, maxHops = 3)
          .select(col("start"), col("node"), round(col("cost"), 4).as("cost")),
        probe = Graph.edges(s, d))(col("start"), col("node"))
    },

    // ---- Beyond-reference G: PageRank, 3 fixed iterations, d = 0.85
    // (simple form, dangling mass ignored) — the canonical Pregel
    // superstep as one contribution join + sum per iteration. The
    // oracle unrolls the SAME three iterations in plain SQL. Two float
    // traps both bit: (1) ranks compare as floor(rank·10⁴ + 0.5)
    // BIGINTs — the seeds and small integer degrees produce EXACT
    // 4-decimal ties (0.17125) where Spark's round() (half-up) and
    // DuckDB's (half-even) disagree by construction; (2) the damping
    // constants must be CAST(0.85 AS DOUBLE) — DuckDB parses a bare
    // 0.85 as DECIMAL(3,2), so (1 - 0.85) is exact 0.15 there while
    // Scala computes the double 0.15000000000000002.
    QueryDef(
      "q149_pagerank",
      s"""WITH edges AS (${Graph.edgesSql}),
         |e AS (SELECT src, dst FROM edges),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT node, 1.0 AS rank FROM nodes),
         |c1 AS (SELECT e.dst AS node, sum(r.rank / g.deg) AS c
         |       FROM r0 r JOIN deg g ON g.node = r.node
         |       JOIN e ON e.src = r.node GROUP BY e.dst),
         |r1 AS (SELECT n.node, (1 - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * coalesce(c1.c, 0) AS rank
         |       FROM nodes n LEFT JOIN c1 ON c1.node = n.node),
         |c2 AS (SELECT e.dst AS node, sum(r.rank / g.deg) AS c
         |       FROM r1 r JOIN deg g ON g.node = r.node
         |       JOIN e ON e.src = r.node GROUP BY e.dst),
         |r2 AS (SELECT n.node, (1 - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * coalesce(c2.c, 0) AS rank
         |       FROM nodes n LEFT JOIN c2 ON c2.node = n.node),
         |c3 AS (SELECT e.dst AS node, sum(r.rank / g.deg) AS c
         |       FROM r2 r JOIN deg g ON g.node = r.node
         |       JOIN e ON e.src = r.node GROUP BY e.dst),
         |r3 AS (SELECT n.node, (1 - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * coalesce(c3.c, 0) AS rank
         |       FROM nodes n LEFT JOIN c3 ON c3.node = n.node)
         |SELECT node, CAST(floor(rank * 10000 + 0.5) AS BIGINT) AS rank_e4
         |FROM r3 ORDER BY node""".stripMargin) {
      (s, d) =>
      Graph.pinIfSmall(
        Graph.orderedIfSmall(
          Graph.pageRank(Graph.edges(s, d), iters = 3,
              invariants = Some(prInvariants(s, d)))
            .select(col("node"),
              floor(col("rank") * 10000 + 0.5).cast(LongType).as("rank_e4")),
          probe = prInvariants(s, d)._1)(col("node")),
        probe = prInvariants(s, d)._1)
    },

    // ---- Beyond-reference G: PERSONALIZED PageRank — random walk with
    // restart at customers 1-10: teleport mass lands only on the seeds
    // ((1−d)·1[v∈seeds]), ranks init to the restart vector, so scores
    // decay with distance from the seed set — the "recommend relative
    // to THESE users" form. Same 3 unrolled iterations as q149's
    // oracle with the indicator base; the q149 float traps apply (the
    // base must be CAST AS DOUBLE — a bare 1.0 is DECIMAL in DuckDB —
    // and ranks compare as floor(rank·10⁴+0.5) BIGINTs). Output keeps
    // only touched nodes (rank_e4 > 0) — the reachable cone of the
    // seeds, not 18k zero rows.
    QueryDef(
      "q193_personalized_pagerank",
      s"""WITH edges AS (${Graph.edgesSql}),
         |e AS (SELECT src, dst FROM edges),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |seeds AS (SELECT DISTINCT src AS node FROM e WHERE src <= 10),
         |b AS (SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL THEN CAST(1 AS DOUBLE)
         |         ELSE CAST(0 AS DOUBLE) END AS base
         |  FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT node, base AS rank FROM b),
         |c1 AS (SELECT e.dst AS node, sum(r.rank / g.deg) AS c
         |       FROM r0 r JOIN deg g ON g.node = r.node
         |       JOIN e ON e.src = r.node GROUP BY e.dst),
         |r1 AS (SELECT b.node, (1 - CAST(0.85 AS DOUBLE)) * b.base + CAST(0.85 AS DOUBLE) * coalesce(c1.c, 0) AS rank
         |       FROM b LEFT JOIN c1 ON c1.node = b.node),
         |c2 AS (SELECT e.dst AS node, sum(r.rank / g.deg) AS c
         |       FROM r1 r JOIN deg g ON g.node = r.node
         |       JOIN e ON e.src = r.node GROUP BY e.dst),
         |r2 AS (SELECT b.node, (1 - CAST(0.85 AS DOUBLE)) * b.base + CAST(0.85 AS DOUBLE) * coalesce(c2.c, 0) AS rank
         |       FROM b LEFT JOIN c2 ON c2.node = b.node),
         |c3 AS (SELECT e.dst AS node, sum(r.rank / g.deg) AS c
         |       FROM r2 r JOIN deg g ON g.node = r.node
         |       JOIN e ON e.src = r.node GROUP BY e.dst),
         |r3 AS (SELECT b.node, (1 - CAST(0.85 AS DOUBLE)) * b.base + CAST(0.85 AS DOUBLE) * coalesce(c3.c, 0) AS rank
         |       FROM b LEFT JOIN c3 ON c3.node = b.node)
         |SELECT node, CAST(floor(rank * 10000 + 0.5) AS BIGINT) AS rank_e4
         |FROM r3 WHERE floor(rank * 10000 + 0.5) > 0 ORDER BY node""".stripMargin) {
      (s, d) =>
      val e = Graph.edges(s, d)
      // seed resolution memoized per corpus stamp (one collect per
      // stamp per JVM, not one job per execution)
      val seedIds = graft.Materialize.memo("ppr_seed_ids_le10", d,
        Seq("orders", "lineitem").map(t => java.nio.file.Paths.get(s"$d/$t.parquet"))) {
        e.where(col("src") <= 10).select(col("src")).distinct()
          .collect().map(_.get(0)).toSeq
      }
      Graph.pinIfSmall(
        Graph.orderedIfSmall(
          Graph.pageRank(e, iters = 3, restartIdsInline = Some(seedIds),
              invariants = Some(prInvariants(s, d)))
            .select(col("node"),
              floor(col("rank") * 10000 + 0.5).cast(LongType).as("rank_e4"))
            .where(col("rank_e4") > 0),
          probe = prInvariants(s, d)._1)(col("node")),
        probe = prInvariants(s, d)._1)
    },

    // ---- Beyond-reference G: per-node triangle counts over the
    // co-purchase projection (parts sharing an order ≥2 times —
    // the market-basket graph; 61 triangles / 165 nodes at sf0.01).
    // Spark enumerates via degree-ordered orientation (each triangle
    // found once at its lowest-degree corner — Σ outdeg² stays
    // near-linear on skewed graphs); the oracle's plain a<b<c id-order
    // join finds the SAME triangle set, so the per-node counts agree
    // while the plans differ — exactly the operator-vs-SQL contract.
    QueryDef(
      "q177_triangles",
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT x.p AS a, y.p AS b FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1
        |        JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |SELECT node, count(*) AS n_triangles FROM n
        |GROUP BY node ORDER BY node""".stripMargin) { (s, d) =>
      // pinned: the wedge-join chain is fully broadcast-hinted under the
      // small-graph gate, so static planning keeps the same joins and
      // drops AQE's stage jobs (PERF_r14.md: 0.478 → 0.441 s, 6 → 4 jobs).
      // The BFS/SSSP loops (q82/q83/q148) measured WORSE pinned — their
      // frontier joins need AQE's runtime small-side detection — and are
      // left adaptive (PERF_r14.md).
      Graph.pinIfSmall(
        Graph.orderedIfSmall(Graph.triangleCounts(coPurchasePairs(s, d)),
          probe = coPurchasePairs(s, d))(col("node")),
        probe = coPurchasePairs(s, d))
    },

    // ---- Beyond-reference G: 2-core of the co-purchase projection —
    // iterative degree-< k peeling to the fixpoint (1535 of ~2000
    // parts survive at sf0.01, converging in 3 rounds). The operator
    // iterates until STABLE (checkpointed supersteps); the oracle
    // unrolls 4 peel rounds — one more than sf0.01 needs, so the last
    // is provably a no-op and the fixpoint claim is itself checked.
    QueryDef(
      "q182_kcore",
      s"""WITH ${kcoreChain(4)}
         |SELECT u AS node, count(*) AS core_deg FROM s4
         |GROUP BY u ORDER BY node""".stripMargin) { (s, d) =>
      Graph.orderedIfSmall(Graph.kCore(coPurchasePairs(s, d), k = 2),
        probe = coPurchasePairs(s, d))(col("node"))
    },

    // ---- Beyond-reference G: Adamic-Adar link prediction over the
    // co-purchase projection — score NON-adjacent part pairs by their
    // shared neighbors, rarer neighbors weighted higher (1/ln deg).
    // Cross-engine exactness: each center's weight snaps to integer
    // MICROS before the per-pair sum (the q179 idiom), so scores are
    // order-independent BIGINT arithmetic; the only float step is
    // ln(deg) on identical integer inputs. minCommon=2 keeps the
    // report to genuinely-supported suggestions.
    QueryDef(
      "q183_adamic_adar",
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT x.p AS a, y.p AS b FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |s AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM s GROUP BY u),
        |w AS (SELECT u, CAST(floor(1000000.0 / ln(deg) + 0.5) AS BIGINT) AS wm
        |      FROM deg WHERE deg >= 2),
        |wedge AS (SELECT x.v AS a, y.v AS b, w.wm
        |          FROM s x JOIN s y ON x.u = y.u AND x.v < y.v
        |          JOIN w ON w.u = x.u),
        |sc AS (SELECT a, b, count(*) AS n_common,
        |              CAST(sum(wm) AS BIGINT) AS score_micros
        |       FROM wedge GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT sc.a, sc.b, sc.n_common, sc.score_micros
        |FROM sc LEFT JOIN e ON e.a = sc.a AND e.b = sc.b
        |WHERE e.a IS NULL ORDER BY sc.a, sc.b""".stripMargin) { (s, d) =>
      Graph.orderedIfSmall(Graph.adamicAdar(coPurchasePairs(s, d), minCommon = 2),
        probe = coPurchasePairs(s, d))(col("a"), col("b"))
    },

    // ---- Beyond-reference G: label-propagation communities over the
    // co-purchase projection — 3 synchronous plurality-vote rounds
    // (Raghavan et al. 2007, deterministic variant: ties to the
    // smallest label, no RNG), unrolled to the same 3 rounds in SQL.
    // Density grouping, vs components' connectivity grouping: at
    // sf0.01 the mostly-connected co-purchase graph splits into ~440
    // communities. Votes are exact integer counts and labels exact
    // ids, so there is no float trap anywhere — hash-exact by
    // construction.
    QueryDef(
      "q186_lpa_communities",
      s"""WITH ${lpaChain(3)}
         |SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS community
         |FROM l3 ORDER BY node""".stripMargin) { (s, d) =>
      Graph.orderedIfSmall(communitiesTab(s, d),
        probe = communitiesTab(s, d))(col("node"))
    },

    // ---- Beyond-reference G: Newman modularity of the q186 LPA
    // partition — the fit-quality report for communities (what
    // silhouette is to q161's k-means): per community, intra-edge
    // count, degree mass, and the contribution e_c/m − (d_c/2m)², all
    // from ONE degree agg + one two-sided label join over the
    // materialized projection. Contributions are a few IEEE double ops
    // on exact integer counts — identical in any engine — so the rows
    // hash-match without snapping; only counts and one division chain
    // appear. Positive total ⇒ denser-than-random grouping.
    QueryDef(
      "q189_modularity",
      s"""WITH ${lpaChain(3)},
         |deg AS (SELECT u, count(*) AS dg FROM s GROUP BY u),
         |m AS (SELECT count(*) AS m FROM e),
         |cdeg AS (SELECT l.label AS community, CAST(sum(d.dg) AS BIGINT) AS degree_sum,
         |         CAST(count(*) AS BIGINT) AS n_nodes
         |         FROM l3 l JOIN deg d ON d.u = l.node GROUP BY 1),
         |intra AS (SELECT la.label AS community, CAST(count(*) AS BIGINT) AS intra_edges
         |          FROM e JOIN l3 la ON la.node = e.a JOIN l3 lb ON lb.node = e.b
         |          WHERE la.label = lb.label GROUP BY 1)
         |SELECT CAST(c.community AS BIGINT) AS community, c.n_nodes,
         |  coalesce(i.intra_edges, 0) AS intra_edges, c.degree_sum,
         |  coalesce(i.intra_edges, 0) * 1.0 / m.m
         |    - (c.degree_sum * 1.0 / (2 * m.m)) * (c.degree_sum * 1.0 / (2 * m.m))
         |    AS contribution
         |FROM cdeg c LEFT JOIN intra i ON i.community = c.community CROSS JOIN m
         |ORDER BY community""".stripMargin) { (s, d) =>
      Graph.orderedIfSmall(
        Graph.modularityByCommunity(coPurchasePairs(s, d), communitiesTab(s, d),
          nodeCol = "node", labelCol = "community"),
        probe = coPurchasePairs(s, d))(col("community"))
    }
  )

  /** The 3-round LPA label table MATERIALIZED once per dataset (the
    * persisted communities artifact a production system ships next to
    * its projected graph — the dedup-cluster-table pattern): q186
    * reads it, q189's modularity report joins against it; the
    * iterative run happens once per corpus stamp. The checkpointed
    * frame the operator returns is freed after the one-time write. */
  private def communitiesTab(s: SparkSession, d: String): DataFrame =
    graft.Materialize(s, d, "lpa3_copurchase", Seq("lineitem"), Some("node")) {
      Graph.lpaCommunities(coPurchasePairs(s, d), iters = 3)
    }

  /** The co-purchase edge CTEs + `rounds` unrolled synchronous LPA
    * rounds (`s` symmetrized, `l_i` = labels after round i) — the q186
    * oracle chain. Each round re-derives every node's label as the
    * plurality (count DESC, label ASC) of its neighbors' previous
    * labels — the exact contract of [[Graph.lpaCommunities]]. */
  private def lpaChain(rounds: Int): String = {
    val sb = new StringBuilder(
      """op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT x.p AS a, y.p AS b FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |s AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM s)""".stripMargin)
    for (i <- 1 to rounds) sb.append(
      s""",
         |l$i AS (SELECT u AS node, label FROM (
         |  SELECT s.u, l.label, count(*) AS c,
         |    row_number() OVER (PARTITION BY s.u ORDER BY count(*) DESC, l.label) AS rn
         |  FROM s JOIN l${i - 1} l ON l.node = s.v GROUP BY s.u, l.label) WHERE rn = 1)""".stripMargin)
    sb.toString
  }
}
