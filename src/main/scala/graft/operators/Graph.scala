package graft.operators

import graft.{Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph storage + traversal operators (SURVEY.md §2.10).
  *
  * Reference model: `GraphEdge { id, source, target, label, properties }`
  * with outgoing/incoming/by-label hash indexes
  * (collection/graph/edge.rs:36-42, 119-131). Spark shape: an `edges`
  * DataFrame `(src, dst, label)`; the reference's four hash indexes are
  * superseded by partition pruning + shuffle-on-key joins (bucket the
  * edges table by `src` for 100 TB co-located traversal joins).
  *
  * Traversal (match_exec.rs:104-218; graph/streaming.rs:158-243) is BFS.
  * Here: an iterative loop of joins — `frontier_{d+1} = frontier_d ⋈
  * edges` with per-depth dedup and a visited anti-join, which is exact
  * cycle handling (better than the reference's approximate visited-set
  * overflow mode past 100k nodes). Depth is capped at 10 like the
  * reference (match_exec.rs:310).
  */
object Graph {

  /** Offsets keep node id spaces disjoint across entity types. */
  val OrderOffset = 10000000L
  val PartOffset = 20000000L
  val SuppOffset = 30000000L

  /** Personalized-PageRank seed sets up to this size inline as an InSet
    * predicate (one bounded collect); larger sets fall back to a
    * broadcast join. See the restart branch in [[pageRank]]. */
  val SeedInlineCap = 10000

  /** Small-graph latency gate for the fused iterative plans: when the
    * PROBE frame's own Catalyst size estimate is within `factor`× the
    * session broadcast threshold, pin `out`'s physical plan statically
    * ([[graft.SessionTuning.pinStaticPlan]]) — the fused superstep/BFS
    * chains are broadcast-hinted and their intermediates bounded by the
    * probe (node set / edge table), so AQE's stage-at-a-time loop only
    * doubles the sequential job count (q149: 9 → 5 jobs). Above the
    * gate — the 1000-executor shape — AQE stays on for skew splits and
    * partition coalescing. */
  def pinIfSmall(out: DataFrame, probe: DataFrame, factor: Long = 8): DataFrame =
    if (smallEnough(probe, factor)) graft.SessionTuning.pinStaticPlan(out) else out

  /** THE broadcast-class size gate (one implementation — five
    * hand-rolled copies with drifting margins invited a wrong-margin
    * paste, r15 review finding): true when `probe`'s own Catalyst
    * estimate is within `factor`× the session broadcast threshold
    * (factor < 1 for tighter-than-threshold gates, e.g. 0.25 for the
    * "×4 fits" form the peel/triangle/superstep hints use). */
  private[operators] def smallEnough(probe: DataFrame, factor: Double): Boolean = {
    val threshold = probe.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 &&
      (try probe.queryExecution.optimizedPlan.stats.sizeInBytes
        <= (factor * threshold).toLong
       catch { case _: Throwable => false })
  }

  /** Global ORDER BY delivery for a result Spark's OWN estimate says is
    * small (same gate as [[pinIfSmall]]): one-partition in-partition
    * sort instead of a range sort. A range sort schedules a
    * RangePartitioner SAMPLING pass over its child — under a pinned
    * static plan that pass RE-EXECUTES the entire upstream chain
    * (broadcast builds are cached futures, but every scan/join/agg runs
    * again — one full extra job measured on q149's superstep chain),
    * and then shuffles to sort what a single task orders in
    * milliseconds. Above the gate the distributed range sort stays —
    * the 1000-executor path, where a graph-sized result can't collapse
    * to one task. Output ordering is identical (a total sort either
    * way). */
  def orderedIfSmall(out: DataFrame, probe: DataFrame, factor: Long = 8)(
      sortCols: Column*): DataFrame = {
    if (smallEnough(probe, factor))
      out.coalesce(1).sortWithinPartitions(sortCols: _*)
    else out.orderBy(sortCols: _*)
  }

  /** The derived property graph over the TPC-H tables, un-materialized:
    * customer -placed-> order -contains-> part -supplied_by-> supplier.
    * Every edge carries a `weight` property (the reference's
    * `GraphEdge.properties`, edge.rs:36-42): placed = order total price,
    * contains / supplied_by = summed line quantity (small exact ints in
    * f64 — order-independent, unlike a money sum). */
  def deriveEdges(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.table(spark, dir, "orders")
    val l = Tables.table(spark, dir, "lineitem")
    val placed = o.select(col("o_custkey").as("src"),
      (col("o_orderkey") + OrderOffset).as("dst"), lit("placed").as("label"),
      col("o_totalprice").cast("double").as("weight"))
    val contains = l.groupBy((col("l_orderkey") + OrderOffset).as("src"),
        (col("l_partkey") + PartOffset).as("dst"))
      .agg(sum(col("l_quantity")).cast("double").as("weight"))
      .select(col("src"), col("dst"), lit("contains").as("label"), col("weight"))
    val suppliedBy = l.groupBy((col("l_partkey") + PartOffset).as("src"),
        (col("l_suppkey") + SuppOffset).as("dst"))
      .agg(sum(col("l_quantity")).cast("double").as("weight"))
      .select(col("src"), col("dst"), lit("supplied_by").as("label"), col("weight"))
    placed.unionAll(contains).unionAll(suppliedBy)
  }

  /** Edge table, materialized once per dataset dir (clustered by src —
    * see [[graft.Materialize]]). The r1 shape re-derived the graph (two
    * distincts over lineitem, ~2 s at sf0.1) inside every graph query;
    * now each query is a plain parquet scan. */
  def edges(spark: SparkSession, dir: String): DataFrame =
    Materialize(spark, dir, "edges", Seq("orders", "lineitem"), Some("src"))(
      deriveEdges(spark, dir))

  /** Typed node table for MATCH queries, materialized once per dataset
    * dir (clustered by id): labels as an array column, customer nodes
    * carry their embedding (the reference stores labels in payload
    * `_labels` — match_exec.rs:242-247). */
  def nodes(spark: SparkSession, dir: String): DataFrame =
    Materialize(spark, dir, "nodes",
      Seq("customer", "orders", "part", "supplier", "embeddings"), Some("id"))(
      deriveNodes(spark, dir))

  /** The derived node table, un-materialized. */
  def deriveNodes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.table(spark, dir, "embeddings")
    val c = Tables.table(spark, dir, "customer")
      .select(col("c_custkey").as("id"),
        array(lit("Customer")).as("labels"),
        col("c_name").as("name"), col("c_mktsegment").as("segment"))
      // customer nodes carry an embedding when one exists (1:1 on id) so
      // MATCH … WHERE similarity(alias.embedding, $v) works (G4)
      .join(emb.select(col("vec_id"), col("embedding")),
        col("id") === col("vec_id"), "left")
      .drop("vec_id")
    val noVec = lit(null).cast("array<float>").as("embedding")
    val o = Tables.table(spark, dir, "orders")
      .select((col("o_orderkey") + OrderOffset).as("id"),
        array(lit("Order")).as("labels"),
        col("o_orderstatus").as("name"), col("o_orderpriority").as("segment"), noVec)
    val p = Tables.table(spark, dir, "part")
      .select((col("p_partkey") + PartOffset).as("id"),
        array(lit("Part")).as("labels"),
        col("p_name").as("name"), col("p_brand").as("segment"), noVec)
    val s = Tables.table(spark, dir, "supplier")
      .select((col("s_suppkey") + SuppOffset).as("id"),
        array(lit("Supplier")).as("labels"),
        col("s_name").as("name"), lit(null).cast("string").as("segment"), noVec)
    c.select("id", "labels", "name", "segment", "embedding")
      .unionAll(o).unionAll(p).unionAll(s)
  }

  /** Same graph as DuckDB SQL (for oracles). */
  val edgesSql: String =
    """SELECT o_custkey AS src, o_orderkey + 10000000 AS dst, 'placed' AS label,
      |         CAST(o_totalprice AS DOUBLE) AS weight FROM orders
      |  UNION ALL
      |  SELECT l_orderkey + 10000000, l_partkey + 20000000, 'contains',
      |         CAST(sum(l_quantity) AS DOUBLE) FROM lineitem GROUP BY 1, 2
      |  UNION ALL
      |  SELECT l_partkey + 20000000, l_suppkey + 30000000, 'supplied_by',
      |         CAST(sum(l_quantity) AS DOUBLE) FROM lineitem GROUP BY 1, 2""".stripMargin

  /** The latency-class broadcast gate for frontier/relaxation joins:
    * true when the edge frame's own Catalyst size estimate is
    * broadcast-class small (≤8× the session threshold — the pinIfSmall
    * family). Under the gate the per-depth frontier (deduped, so
    * bounded by |starts|×|nodes| of an ≤80MB graph) is safely hintable;
    * past it the shuffling joins + AQE remain (the 1000-executor
    * path). */
  private def smallGraphGate(edges: DataFrame): Boolean = smallEnough(edges, 8.0)

  /** Var-length BFS `-[*1..maxDepth]->` from `starts(start)` over
    * `edges(src,dst,label)`: returns (start, node, depth) with the MINIMUM
    * depth per (start, node) — first arrival wins, visited nodes are
    * never re-expanded (exact cycle handling).
    *
    * The loop runs on the driver but every step is a distributed join;
    * each depth shuffles the frontier by `node` against edges by `src`.
    * Reference: match_exec.rs:104-218 (BFS, depth cap 10).
    *
    * Celebrity-node skew (SURVEY §7.4 risk 5): when one frontier node's
    * out-degree dominates (a hub followed by millions), the per-depth
    * `frontier ⋈ edges` puts that node's whole fan-out on ONE reducer.
    * AQE's skew-join split handles moderate skew at runtime; past that,
    * switch the frontier join to [[Skew.saltedJoin]](edges, frontier,
    * "src"/"node", salt) — the edge side spreads the hot key across
    * `salt` reducers and the (small) frontier replicates `salt` times.
    * Equality with the plain join is property-tested (SkewSpec), and the
    * swap is one line here; not the default because the salting shuffle
    * costs ~2× on unskewed graphs (the common case for the TPC-H-derived
    * graph, whose max out-degree is bounded by order line counts). */
  def bfsVarLength(edges: DataFrame, starts: DataFrame, maxDepth: Int,
      relTypes: Seq[String] = Nil): DataFrame = {
    // lower bound too: maxDepth <= 0 left the unrolled accumulator null
    // and surfaced as an NPE from the facade/REST paths (r15 review)
    require(maxDepth >= 1 && maxDepth <= 10,
      "depth must be in 1..10 (match_exec.rs:310)")
    // no cache: [[edges]] is a materialized parquet table, so the
    // handful of re-scans from lazy depths are cheap pruned reads
    val e = (if (relTypes.nonEmpty) edges.where(col("label").isin(relTypes: _*))
             else edges).select("src", "dst")
    val startsFrontier = starts.select(col("start"), col("start").as("node")).distinct()
    // Shallow traversals (maxDepth ≤ 3 — the common MATCH *1..2/*1..3
    // shape) unroll into ONE declarative plan: level-k = distinct
    // (start, node) of level-(k-1) ⋈ edges, min(depth) at the end gives
    // exactly first-arrival depths without per-depth anti-joins,
    // checkpoints or driver-side loop state — a single Spark job
    // (3 joins + 1 agg) instead of ~10 stacked jobs, which was most of
    // q82/q105's wall time (job-floor stacking, r10 VERDICT). The
    // per-level distinct bounds every level at |reached set|, so the
    // no-visited-set re-expansion is ≤ maxDepth × reached — fine at
    // depth 3 at any scale; deeper walks keep the pruned loop below.
    if (maxDepth <= 3) {
      // Small-graph broadcast hint (r14, PERF_r14.md): when the
      // edge frame's own size estimate is broadcast-class (≤8× the
      // session threshold — the pinIfSmall gate family), hint each
      // level's frontier broadcast so the per-depth join STREAMS the
      // edge scan instead of shuffling it; with the per-level distinct
      // kept, the frontier is bounded by |starts|×|nodes| of an ≤80MB
      // graph, so crossing Spark's 512M-row broadcast hard cap needs
      // >256 start nodes each reaching essentially the whole graph —
      // far beyond the reference's own 100k visited-state cap
      // (graph/streaming.rs:33). Past the gate (big graphs — the
      // 1000-executor path) the shuffling joins + AQE stay exactly as
      // before. A/B: q82-shape 0.54→0.39 s, q83-shape 0.30→0.25 s
      // (sf0.1, min of 5, value parity asserted; PERF_r14.md).
      val frontierHint: DataFrame => DataFrame =
        if (smallGraphGate(edges)) broadcast else identity
      var level = startsFrontier
      var acc: DataFrame = null
      for (d <- 1 to maxDepth) {
        val eD = e.select(col("src").as("__esrc"), col("dst").as("__edst"))
        val lvl = frontierHint(level)
        val joined = lvl.join(eD, lvl("node") === col("__esrc"))
          .select(lvl("start"), col("__edst").as("node"))
        // Level 1 skips its dedup exchange (r15, PERF_r15.md: ~5%
        // + one job): the start frontier is already distinct, so a
        // level-1 duplicate requires PARALLEL (src,dst) edges — the
        // final min-depth agg absorbs those unconditionally (result
        // exactness never depends on this), and the only cost of one
        // slipping through is a linear parallel-multiplicity factor on
        // the depth-2 join input, not the combinatorial path blowup
        // the deeper distincts guard against (they stay).
        val next = if (d == 1) joined else joined.distinct()
        val step = next.withColumn("depth", lit(d))
        acc = if (acc == null) step else acc.unionAll(step)
        level = next
      }
      // (start, start) parity with the loop path: the start node is
      // visited at depth 0, so a cycle back to it is never reported
      return acc.groupBy("start", "node").agg(min("depth").as("depth"))
        .where(col("node") =!= col("start"))
    }
    var frontier = startsFrontier
    var visited = startsFrontier
    var acc: DataFrame = null
    // the one LIVE checkpoint: each new checkpoint supersedes the last,
    // whose blocks are then freed immediately (see below)
    var accCkpt: DataFrame = null
    for (d <- 1 to maxDepth) {
      // fresh output attributes per use (alias projections) — the joins
      // below never see a shared attribute id, so un-checkpointed depths
      // compose without ambiguous-self-join resolution
      // NOTE on join strategy (measured, r5): broadcast-hinting the
      // frontier/visited sides (bounded by the depth cap + the
      // reference's 100k visited cap, graph/streaming.rs:33) was tried
      // and is SLOWER in local mode — the per-depth driver collect
      // outweighs local shuffle cost, and AQE already coalesces the
      // small shuffles. On a real cluster with a 100 TB edge table the
      // broadcast shape wins; revisit there (one-line hint).
      val eD = e.select(col("src").as("__esrc"), col("dst").as("__edst"))
      val next = frontier.join(eD, frontier("node") === col("__esrc"))
        .select(frontier("start"), col("__edst").as("node")).distinct()
      // first-arrival-wins: drop nodes already reached at a smaller depth
      val vis = visited.select(col("start").as("__vstart"), col("node").as("__vnode"))
      val fresh = next.join(vis,
        next("start") === col("__vstart") && next("node") === col("__vnode"),
        "left_anti")
      acc = {
        val step = fresh.withColumn("depth", lit(d))
        if (acc == null) step else acc.unionAll(step)
      }
      // Lineage truncation every OTHER depth (r1 eagerly checkpointed
      // frontier AND visited at every depth — nearly all of the local
      // BFS cost): alternation guarantees any lazy layer sits at most one
      // join above a materialized leaf. The checkpoint target is the
      // ACCUMULATED result, not the frontier: it carries every depth so
      // far, so frontier/visited re-derive from it as cheap block reads,
      // the PREVIOUS checkpoint becomes unreferenced and its blocks are
      // freed right here — deterministically, not whenever the async
      // ContextCleaner notices (the r3/r4 bench-tail suspect) — and at
      // most ONE checkpoint (visited-set-sized, small) is ever live.
      if (d % 2 == 0 && d < maxDepth) {
        val c = acc.localCheckpoint(eager = true)
        if (accCkpt != null) org.apache.spark.sql.graft.CheckpointBlocks.unpersist(accCkpt)
        accCkpt = c
        acc = c
        frontier = c.where(col("depth") === d).select(col("start"), col("node"))
        visited = startsFrontier.unionAll(c.select(col("start"), col("node")))
      } else {
        frontier = fresh
        visited = visited.unionAll(fresh)
      }
    }
    acc
  }

  /** Bounded Bellman-Ford single-source shortest paths over the weighted
    * edge table (beyond-reference: the reference's traversal is
    * unweighted BFS only, match_exec.rs:104-218; edge weights exist in
    * its model, edge.rs:36-42, but nothing consumes them).
    *
    * Returns (start, node, cost) with the MINIMUM total weight over
    * paths of ≤ `maxHops` edges — the bounded-hop formulation is
    * deliberate: it is deterministic on any graph (no termination
    * concerns on cycles), it is the oracle-checkable shape (a
    * recursive-CTE enumeration computes the same set), and each hop is
    * ONE relaxation join + min-aggregation — the classic distributed
    * SSSP round, shuffling the frontier by node against src-clustered
    * edges. Lineage per round truncates with the [[bfsVarLength]]
    * eager-checkpoint discipline (one live checkpoint, blocks freed
    * deterministically).
    *
    * Float determinism: a path's cost accumulates left-to-right in both
    * this loop and a recursive-CTE enumeration, so every candidate is
    * the same double and min() picks identical values. */
  def shortestPaths(edges: DataFrame, starts: DataFrame, maxHops: Int,
      relTypes: Seq[String] = Nil): DataFrame = {
    // lower bound guards the facade path too (REST validates separately):
    // maxHops = 0 would "succeed" with an empty frame instead of erroring
    require(maxHops >= 1 && maxHops <= 10,
      "hops must be in 1..10 (match_exec.rs:310)")
    // user edge stores need not carry a weight property — unweighted
    // edges cost 1.0/hop, making this min-hop-count (weighted BFS)
    val ew = if (edges.columns.contains("weight")) edges
             else edges.withColumn("weight", lit(1.0))
    val e = (if (relTypes.nonEmpty) ew.where(col("label").isin(relTypes: _*))
             else ew).select(col("src"), col("dst"), col("weight"))
    var dist = starts.select(col("start"), col("start").as("node"),
      lit(0.0).as("cost")).distinct()
    var prevCkpt: DataFrame = null
    // Fixed hop count ⇒ no per-round action is needed (unlike
    // components' convergence test): rounds chain LAZILY and only every
    // `ckptEvery`-th one eagerly truncates lineage. Relaxation joins
    // grow the plan linearly (not exponentially like a BFS visited-set
    // anti-join), so a few chained rounds cost the analyzer nothing and
    // save a per-round job floor.
    val ckptEvery = 5
    // ≤3 relaxation rounds fuse into ONE lazy plan (r11 VERDICT ask #5):
    // no checkpoint materialization + re-read — the caller's single
    // action runs the whole chain. The inputs are plain scans (edges,
    // starts), so nothing the lazy plan reads gets freed under it.
    val fuseLazy = maxHops <= 3
    // same frontier-broadcast hint as the BFS unroll (the dist frame is
    // deduped per (start,node) by each round's min-agg, same bound)
    val distHint: DataFrame => DataFrame =
      if (smallGraphGate(edges)) broadcast else identity
    for (i <- 1 to maxHops) {
      val eD = e.select(col("src").as("__s"), col("dst").as("__d"),
        col("weight").as("__w"))
      val dH = distHint(dist)
      val relaxed = dH.join(eD, dH("node") === col("__s"))
        .select(dH("start"), col("__d").as("node"),
          (dH("cost") + col("__w")).as("cost"))
      val updated0 = dist.unionAll(relaxed)
        .groupBy("start", "node").agg(min(col("cost")).as("cost"))
      // no i == maxHops checkpoint: the return block below checkpoints
      // the filtered OUTPUT eagerly anyway, so a final-round checkpoint
      // here wrote a near-identical node-sized frame twice per call
      // (r15 review finding); the lazy tail since the last ckptEvery
      // materialization is ≤ ckptEvery rounds — chain depth the
      // analyzer handles for free (same class as the fused ≤3 path)
      if (i % ckptEvery == 0 && i < maxHops) {
        val updated = updated0.localCheckpoint(true)
        if (prevCkpt != null)
          org.apache.spark.sql.graft.CheckpointBlocks.unpersist(prevCkpt)
        prevCkpt = updated
        dist = updated
      } else dist = updated0
    }
    if (fuseLazy) dist.where(col("node") =!= col("start"))
    else {
      // return a BARE checkpoint (LogicalRDD), not a Filter over one: the
      // caller (REST handler, bench loop) can then free the blocks
      // deterministically via CheckpointBlocks.unpersist — on a Filter
      // that call is a silent no-op and the blocks wait for the async
      // ContextCleaner. The loop's final checkpoint is freed here.
      val out = dist.where(col("node") =!= col("start")).localCheckpoint(true)
      if (prevCkpt != null)
        org.apache.spark.sql.graft.CheckpointBlocks.unpersist(prevCkpt)
      out
    }
  }

  /** PageRank, fixed-iteration form (beyond-reference: the canonical
    * iterative distributed graph computation — rank_{k+1}(v) = (1−d) +
    * d·Σ_{u→v} rank_k(u)/outdeg(u), simple form, dangling mass
    * ignored). Each iteration is ONE contribution join + sum-aggregation
    * shuffled on dst — the Pregel superstep shape; lineage truncates
    * with the eager-checkpoint discipline. Fixed `iters` (not
    * convergence-tested) keeps it deterministic and oracle-checkable by
    * unrolling the same iterations in SQL.
    *
    * Personalized variant (`restart` = a seed-node frame with a `node`
    * column): the teleport mass lands ONLY on the seeds —
    * rank_{k+1}(v) = (1−d)·1[v ∈ seeds] + d·Σ contributions, ranks
    * initialized to the restart vector — the random-walk-with-restart
    * recommender ("important relative to THESE nodes"; scores decay
    * with distance from the seed set). `restart = None` is the classic
    * uniform form, bit-identical to before. */
  /** `invariants`: pre-computed `(allNodes(node), eDeg(src, dst, deg))`
    * frames — corpus-stable per edge table, so callers on a
    * materialized graph should persist them once (Materialize
    * discipline) instead of paying the full-shuffle checkpoint jobs
    * that derive them on every execution. `eDeg` is the GraphX-style
    * degree-annotated edge table: folding the out-degree onto each
    * edge removes one join from EVERY superstep. */
  /** `restartIdsInline`: pre-resolved seed ids (callers that memoize the
    * seed collect per corpus stamp — [[graft.Materialize.memo]] — skip
    * the per-execution resolve job this way); `restart` is ignored when
    * set. Capped at [[SeedInlineCap]] — an oversized inline set is
    * rejected at entry (it would otherwise fall through to the uniform
    * base, a silent wrong answer); pass the seed FRAME via `restart`
    * instead, which routes through the broadcast-join path. */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85,
      restart: Option[DataFrame] = None,
      invariants: Option[(DataFrame, DataFrame)] = None,
      restartIdsInline: Option[Seq[Any]] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    require(restartIdsInline.forall(_.size <= SeedInlineCap),
      s"restartIdsInline exceeds SeedInlineCap=$SeedInlineCap; " +
        "pass the seed frame via restart= (broadcast-join path) instead")
    val e = edges.select("src", "dst")
    // nodes (+ per-node teleport base) and the degree-annotated edge
    // table are loop INVARIANTS — materialize each once. Left lazy, the
    // distinct and the degree agg (full shuffles over the edge frame)
    // re-execute inside every superstep. Supplied invariants are
    // parquet-backed already: no checkpoint jobs, cheap scans.
    val derived = invariants.isEmpty
    val allNodes = invariants.map(_._1).getOrElse(
      e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct())
    // personalization seed sets are QUERY-sized, not graph-sized: up to
    // `SeedInlineCap` ids they inline as an InSet predicate (one bounded
    // collect — the bucketsForIds class), so the teleport base is a pure
    // EXPRESSION of the node id — usable both as a projection over
    // allNodes and folded straight into the superstep join below. The
    // join form (huge seed sets) poisons the size estimate — a join
    // output's sizeInBytes is the product of its children's, so
    // downstream superstep joins stop broadcasting the node-sized rank
    // frame and the fused plan's stage count triples. (A checkpoint is
    // worse still: LogicalRDD stats default to unestimable-huge.)
    val seedIds: Option[Array[Any]] =
      restartIdsInline.map(_.toArray).orElse(restart.map { seeds =>
        seeds.select(col("node")).distinct()
          .limit(SeedInlineCap + 1).collect().map(_.get(0))
      })
    // base as a function of the node-id column: uniform 1.0, or the
    // seed-set indicator; None only above the inline cap
    val baseExpr: Option[Column => Column] = seedIds match {
      case None => Some(_ => lit(1.0))
      case Some(ids) if ids.length <= SeedInlineCap =>
        Some(c => when(c.isin(ids.toIndexedSeq: _*), lit(1.0))
          .otherwise(lit(0.0)))
      case _ => None
    }
    val nodes0 = (baseExpr, restart) match {
      case (Some(be), _) =>
        allNodes.select(col("node"), be(col("node")).as("base"))
      case (None, Some(seeds)) =>
        allNodes
          .join(broadcast(seeds.select(col("node")).distinct()
            .withColumn("__s", lit(true))), Seq("node"), "left")
          .select(col("node"),
            when(col("__s"), lit(1.0)).otherwise(lit(0.0)).as("base"))
      case (None, None) =>
        // unreachable by construction: inline ids are capped at entry and
        // a restart-frame collect over the cap keeps restart defined —
        // fail loudly rather than silently computing uniform PageRank
        throw new IllegalStateException(
          "pageRank: no teleport base (oversized seed set without a restart frame)")
    }
    // the seed join over supplied invariants is a scan + broadcast-small
    // join — cheap to re-run per superstep, not worth a checkpoint job
    val nodes = if (derived) nodes0.localCheckpoint(true) else nodes0
    val eDeg = invariants.map(_._2).getOrElse(
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .select(col("src"), col("dst"), col("deg"))
        .localCheckpoint(true))
    var ranks = nodes.select(col("node"), col("base").as("rank"))
    var prevCkpt: DataFrame = null
    // Fixed iteration count ⇒ supersteps chain LAZILY; only every
    // `ckptEvery`-th (and the last) eagerly truncates lineage — the
    // contribution join + sum grow the plan linearly, so a few chained
    // supersteps are analyzer-cheap and each skipped checkpoint saves a
    // full job floor (see shortestPaths for the same discipline).
    // SHORT loops over SUPPLIED invariants go further (r11 VERDICT ask
    // #5): skip even the final checkpoint and return the lazy 3-superstep
    // chain — the caller's one action executes everything, no checkpoint
    // materialization + re-read pass. Only safe when the invariants are
    // parquet-backed (derived invariants are checkpoints we free below,
    // which would break a returned lazy plan that still reads them).
    val ckptEvery = 5
    val fuseLazy = !derived && iters <= 3
    // contrib is node-set-sized (one row per in-degree-≥1 node). When
    // Spark's OWN estimate of the node set fits the session broadcast
    // threshold, hint the superstep's left-outer build side: the node
    // frame then never shuffles — each superstep is ONE exchange (the
    // contribution agg, the graph's actual communication) plus
    // broadcast builds. Above the threshold (big graphs) the hint is
    // withheld and the shuffling SMJ remains the scale path.
    val contribSmall = smallEnough(allNodes, 0.25)
    // FOLDED superstep (r12 VERDICT ask #2 — q149 was the one
    // non-streaming row still over 2×): when the teleport base is a pure
    // expression of the node id, rank_i never needs to exist as a node
    // FRAME — it is an expression over (eDeg ⟕ contrib_{i-1}):
    //   rank_i(src) = (1−d)·base(src) + d·coalesce(contrib_{i-1}(src), 0)
    //   contrib_i(dst) = Σ_{src→dst} rank_i(src) / deg(src)
    // so each superstep is ONE join + the contribution agg instead of
    // two joins — the per-superstep nodes⟕contrib update join (and its
    // broadcast job) disappears; the node frame is joined exactly once,
    // at the end, to give zero-in-degree nodes their teleport-only rank.
    // Exchange count hits the theoretical minimum for fixed-point
    // iteration: `iters` contribution aggs + the final delivery
    // (measured: q149 1.33 → 0.82 s at sf0.1, bit-identical ranks —
    // PERF_r14.md §1). Arithmetic per edge is unchanged, so results match the
    // node-frame path exactly. Same broadcast gate: above the threshold
    // the joins shuffle (SMJ) — the 1000-executor scale path.
    if (!derived && iters <= 5 && baseExpr.isDefined) {
      val be = baseExpr.get
      val eD = invariants.get._2
      def gated(c: DataFrame): DataFrame = if (contribSmall) broadcast(c) else c
      var contrib = eD.groupBy(col("dst").as("cnode"))
        .agg(sum(be(col("src")) / col("deg")).as("c"))
      for (_ <- 2 to iters) {
        contrib = eD.join(gated(contrib), col("src") === col("cnode"), "left")
          .groupBy(col("dst").as("cnode"))
          .agg(sum((lit(1 - damping) * be(col("src"))
            + lit(damping) * coalesce(col("c"), lit(0.0))) / col("deg")).as("c"))
      }
      return allNodes
        .join(gated(contrib), col("node") === col("cnode"), "left")
        .select(col("node"),
          (lit(1 - damping) * be(col("node"))
            + lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
    }
    for (i <- 1 to iters) {
      val contrib0 = ranks
        .join(eDeg, ranks("node") === eDeg("src"))
        .groupBy(col("dst").as("cnode"))
        .agg(sum(col("rank") / col("deg")).as("c"))
      val contrib = if (contribSmall) broadcast(contrib0) else contrib0
      val updated0 = nodes.join(contrib, nodes("node") === col("cnode"), "left")
        .select(nodes("node"),
          (lit(1 - damping) * nodes("base")
            + lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
      if ((i == iters && !fuseLazy) || i % ckptEvery == 0) {
        val updated = updated0.localCheckpoint(true)
        if (prevCkpt != null)
          org.apache.spark.sql.graft.CheckpointBlocks.unpersist(prevCkpt)
        prevCkpt = updated
        ranks = updated
      } else ranks = updated0
    }
    // derived invariants' blocks are dead once the loop ends (supplied
    // ones are parquet frames — nothing to free); the returned ranks is
    // a BARE checkpoint the caller can free the same way (or, on the
    // fused ≤3-iteration path, a lazy plan with nothing to free)
    if (derived) {
      org.apache.spark.sql.graft.CheckpointBlocks.unpersist(nodes)
      org.apache.spark.sql.graft.CheckpointBlocks.unpersist(eDeg)
    }
    ranks
  }

  /** k-core of an UNDIRECTED simple graph given as canonical distinct
    * pairs `(a < b)` (beyond-reference: the standard density filter —
    * iteratively peel nodes of degree < k until the remainder is
    * stable; what survives is the maximal subgraph where every node
    * keeps ≥ k neighbors, the usual seed for community mining and
    * spam/bot-ring detection). Returns `(node, core_deg)` — the
    * surviving nodes with their degree INSIDE the core; empty when the
    * graph has no k-core.
    *
    * INPUT CONTRACT (load-bearing since r17): the pairs MUST be
    * distinct and canonical (`a < b`, no self-loops) — duplicates or
    * reversed pairs silently double degrees and corrupt the peel. Both
    * in-repo producers ([[graft.queries.GraphQueries]]' co-purchase
    * projection, `Graft.undirectedPairs`) canonicalize; external
    * callers must too (the defensive distinct that used to absorb
    * garbage paid a full exchange per call and was removed).
    *
    * Scale shape: each peel round is one degree agg + one semi-join
    * edge restriction — the superstep shape, shuffled on the node key;
    * round count is bounded by the graph's degeneracy ordering depth
    * (typically ≲ 10 on real graphs). Every round's lazy checkpoint is
    * one [[LocalFixpoint.gate]] job, superseded blocks freed in-loop
    * ([[bfsVarLength]] discipline); once the remainder is within
    * `graft.localFinishEdges` the peel finishes on the driver, so at
    * scale only the convergence tail collapses. */
  def kCore(undirected: DataFrame, k: Int, maxIters: Int = 30,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // the per-round keep set is node-sized (bounded by the input's
    // distinct endpoints): under the small-graph gate, hint it broadcast
    // so each peel round's two semi-joins build against one broadcast
    // instead of shuffling the edge frame twice (same gate as
    // triangleCounts; big graphs keep the shuffling joins — scale path)
    val smallKeep = smallEnough(undirected, 0.25)
    val keepHint: DataFrame => DataFrame = if (smallKeep) broadcast else identity
    val e0 = undirected.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
    // No distinct on the symmetrized union: the input contract is
    // canonical DISTINCT pairs (a < b) — every caller (coPurchasePairs,
    // Graft.undirectedPairs) dedups — so the swapped half is disjoint
    // from the original and the union is already a set; the defensive
    // distinct paid a full exchange + dedup inside the materializing
    // job for nothing (r17, guide §2.4).
    var edges = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    var gate = LocalFixpoint.gate(edges)
    var it = 0
    var converged = gate.rows == 0L
    // (measured and NOT adopted: fusing two peel rounds per
    // checkpoint+count halves the sync points but doubles each plan's
    // join depth — a QTime A/B read as a wash inside host noise, so the
    // simpler one-round loop stays)
    while (!converged && it < maxIters && gate.local.isEmpty) {
      val keep = keepHint(edges.groupBy("u").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("u").as("__n")))
      val pruned = edges
        .join(keep, edges("u") === col("__n")).drop("__n")
        .join(keep, edges("v") === col("__n")).drop("__n")
        .localCheckpoint(false)
      // the convergence count doubles as the checkpoint materializer
      val next = LocalFixpoint.gate(pruned)
      org.apache.spark.sql.graft.CheckpointBlocks.unpersist(edges)
      converged = next.rows == gate.rows || next.rows == 0L
      edges = pruned
      gate = next
      it += 1
    }
    gate.local match {
      case Some(g) =>
        org.apache.spark.sql.graft.CheckpointBlocks.unpersist(edges)
        // the same peel over edge indexes: exact integer degrees, so
        // bit-identical to the distributed rounds
        def degrees(alive: Array[Int]): Array[Long] = {
          val d = new Array[Long](g.nodes); alive.foreach(e => d(g.src(e)) += 1); d
        }
        var alive = Array.range(0, g.edges)
        while (!converged && it < maxIters) {
          val deg = degrees(alive)
          val pruned = alive.filter(e => deg(g.src(e)) >= k && deg(g.dst(e)) >= k)
          converged = pruned.length == alive.length || pruned.isEmpty
          alive = pruned
          it += 1
        }
        if (!converged)
          throw new IllegalStateException(s"kCore: no fixpoint after $maxIters rounds")
        val deg = degrees(alive)
        val core = deg.indices.filter(deg(_) > 0).toArray
        LocalFixpoint.frame(undirected.sparkSession, "node", "core_deg")(
          core.map(g.ids), core.map(deg))
      case None if converged =>
        // materialize the result BEFORE freeing the edge blocks it reads
        val out = edges.groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("core_deg"))
          .localCheckpoint(true)
        org.apache.spark.sql.graft.CheckpointBlocks.unpersist(edges)
        LocalFixpoint.nullable(out)
      case None =>
        org.apache.spark.sql.graft.CheckpointBlocks.unpersist(edges)
        throw new IllegalStateException(s"kCore: no fixpoint after $maxIters rounds")
    }
  }

  /** Per-node triangle counts over an UNDIRECTED simple graph given as
    * canonical distinct pairs `(a < b)` (beyond-reference: the classic
    * cohesion statistic behind clustering coefficients and community
    * seeds). One row per node that closes ≥1 triangle: `(node,
    * n_triangles)`.
    *
    * Scale shape — degree-ordered edge orientation: every edge points
    * from its lower-(degree, id) endpoint to the higher one, so each
    * triangle is enumerated exactly once, at its lowest-degree corner,
    * and the wedge join fans out as Σ outdeg(u)² where the orientation
    * bounds outdeg by O(√m) on any graph. That keeps the candidate
    * wedge set near-linear on skewed (power-law) co-occurrence graphs,
    * where the naive `a<b<c` id-ordered join explodes on hub nodes.
    * Three shuffles total (degree agg, wedge join on u, closing join on
    * (v, w)); nothing touches the driver. */
  /** `smallGraph`: None (default) decides from Spark's OWN size
    * estimate of the edge list vs the session broadcast threshold —
    * a projected/sampled graph under it gets explicit broadcast hints
    * on every edge- or node-sized join side, collapsing the plan to
    * two shuffles (the degree agg and the final per-node count, r11
    * VERDICT ask #6); a big graph keeps the shuffling wedge join (the
    * scale path). Some(x) overrides the estimate (a caller-supplied
    * constant would silently force-broadcast a grown projection —
    * self-review r12). */
  def triangleCounts(undirected: DataFrame,
      aCol: String = "a", bCol: String = "b",
      smallGraph: Option[Boolean] = None): DataFrame = {
    val small = smallGraph.getOrElse(smallEnough(undirected, 0.25))
    val hint: DataFrame => DataFrame =
      if (small) broadcast else identity
    val e = undirected.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val deg = hint(e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg")))
    // degree-1 endpoints can't close a triangle: dropping their edges
    // BEFORE orientation shrinks both the wedge join's input and the
    // closing-edge build (on co-occurrence graphs the degree-1 fringe
    // is typically a large share of edges). One peel round only — the
    // full 2-core iteration belongs to kCore, and a single pass already
    // removes the bulk at one cheap semi-join's cost.
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .where(col("da") >= 2 && col("db") >= 2)
    // orient low-(deg, id) → high; carry the target's rank key so the
    // wedge join can order its two legs without re-joining degrees
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("u"),
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("v"),
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")), col("db"))
        .otherwise(col("da")).as("dv"))
    val l = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val r = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    // wedge (x, y) out of u with x before y in orientation order ⇒ the
    // closing edge, if present, is oriented x → y
    val wedges = l.join(hint(r), Seq("u"))
      .where(col("dx") < col("dy") ||
             (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("u"), col("x"), col("y"))
    val closing = hint(oriented.select(col("u").as("x"), col("v").as("y")))
    val tri = wedges.join(closing, Seq("x", "y"))
    tri.select(col("u").as("node"))
      .unionAll(tri.select(col("x").as("node")))
      .unionAll(tri.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Adamic-Adar link prediction over an UNDIRECTED simple graph given
    * as canonical distinct pairs `(a < b)` (beyond-reference: the
    * classic common-neighbor recommender — "parts bought together with
    * the same third parts", co-author suggestion, etc.). Scores every
    * NON-adjacent pair that shares ≥ `minCommon` neighbors:
    * `AA(a, b) = Σ_{z ∈ N(a)∩N(b)} 1 / ln(deg(z))` — rarer shared
    * neighbors count more. One row per predicted link:
    * `(a, b, n_common, score_micros)`.
    *
    * Determinism: each center weight is snapped to integer MICROS
    * (`floor(10⁶/ln(deg) + 0.5)` as BIGINT — the q179 DSIR idiom)
    * BEFORE the per-pair sum, so scores are exact integer arithmetic,
    * identical under any aggregation order or engine. Only nodes with
    * deg ≥ 2 can center a wedge, so ln(deg) ≥ ln 2 > 0 always.
    *
    * Scale shape: wedge enumeration through each center z fans out as
    * Σ deg(z)² — on power-law graphs the hub term dominates, so
    * `maxDeg` caps the centers considered (the df-cap idiom from the
    * shingle joins): hubs carry the LEAST Adamic-Adar mass per wedge
    * (1/ln(deg) → 0) while costing quadrically, so dropping them
    * bounds the join at almost no score loss. Three shuffles (degree
    * agg, wedge self-join on the center, anti-join against existing
    * edges); nothing driver-sized. */
  def adamicAdar(undirected: DataFrame, minCommon: Int = 1,
      maxDeg: Long = Long.MaxValue,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(minCommon >= 1, "minCommon must be >= 1")
    require(maxDeg >= 2, "maxDeg must be >= 2")
    val e = undirected.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b")).distinct()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    val w = deg.where(col("deg") >= 2 && col("deg") <= maxDeg)
      .select(col("u"),
        floor(lit(1000000.0) / log(col("deg")) + lit(0.5))
          .cast("long").as("wm"))
    val l = adj.join(w, Seq("u")).select(col("u"), col("v").as("pa"), col("wm"))
    val r = adj.select(col("u"), col("v").as("pb"))
    val scored = l.join(r, Seq("u")).where(col("pa") < col("pb"))
      .groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("wm")).as("score_micros"))
      .where(col("n_common") >= minCommon)
    // predictions are NEW links only — drop already-connected pairs
    // (wedge pairs are canonical a < b, same key shape as the input)
    scored.join(e, Seq("a", "b"), "left_anti")
  }

  /** Label-propagation communities over an UNDIRECTED simple graph
    * given as canonical distinct pairs `(a < b)` — a load-bearing
    * input contract since r17, exactly as [[kCore]]'s: duplicates or
    * reversed pairs silently double votes (beyond-reference:
    * Raghavan et al. 2007 — the near-linear community detector, the
    * same algorithm GraphFrames ships as `labelPropagation`). This is
    * the SYNCHRONOUS fixed-iteration deterministic variant: every
    * label starts as its node id; each round ALL nodes simultaneously
    * adopt the label held by the plurality of their neighbors, ties
    * resolved to the smallest label. No RNG and no asynchronous sweep
    * order, so the result is reproducible and oracle-checkable by
    * unrolling the same rounds in SQL; a FIXED `iters` (instead of a
    * convergence test) sidesteps synchronous LPA's known two-cycle
    * oscillation on bipartite-ish regions. Distinct from
    * [[graft.operators.Dedup.components]]: components spreads the MIN
    * label (connectivity), LPA spreads the MAJORITY label (density) —
    * a connected graph has one component but many communities.
    * Returns `(node, community)`.
    *
    * Scale shape: each round is ONE join (current labels onto the
    * symmetrized edge list, shuffled on the node key), one
    * (node, label) count aggregation, and one per-node argmin — the
    * Pregel superstep; votes are exact integers, nothing data-sized
    * reaches the driver. Supersteps chain LAZILY — the label frame
    * appears once per level, so the plan grows linearly — and only
    * every `ckptEvery`-th (and the last) round eagerly truncates
    * lineage, each skipped checkpoint saving a full local job floor
    * ([[pageRank]]'s discipline).
    *
    * Within `graft.localFinishEdges` ALL rounds run on the driver over
    * [[LocalFixpoint]]'s primitive edge index, with exact-integer votes
    * and the identical plurality/tie-break. */
  def lpaCommunities(undirected: DataFrame, iters: Int,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e0 = undirected.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
    // no distinct (input contract: canonical distinct pairs — the
    // swapped half is disjoint, see kCore); LAZY checkpoint whose
    // materializing action is the gate job
    val adj = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(false)
    LocalFixpoint.gate(adj).local match {
      case Some(g) =>
        org.apache.spark.sql.graft.CheckpointBlocks.unpersist(adj)
        return pluralityVote(undirected.sparkSession, g, iters)
      case None => // distributed rounds below
    }
    var labels = adj.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    var prevCkpt: DataFrame = null
    val ckptEvery = 5
    for (i <- 1 to iters) {
      // plurality via min(struct(-count, label)): lexicographic struct
      // ordering gives most-votes-first, then smallest label — one
      // aggregation instead of a rank window.
      val updated0 = adj
        .join(labels, adj("v") === labels("node"))
        .groupBy(adj("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
      if (i == iters || i % ckptEvery == 0) {
        val updated = updated0.localCheckpoint(true) // eager — frees input
        if (prevCkpt != null)
          org.apache.spark.sql.graft.CheckpointBlocks.unpersist(prevCkpt)
        prevCkpt = updated
        labels = updated
      } else labels = updated0
    }
    org.apache.spark.sql.graft.CheckpointBlocks.unpersist(adj)
    LocalFixpoint.nullable(labels.select(col("node"), col("label").as("community")))
  }

  /** [[lpaCommunities]]' rounds on the driver: sort the edge rows by
    * (node, neighbor's label) and take each node's longest run, the
    * first (smallest label) on ties — one vote per row, exactly the
    * distributed min(struct(-count, label)) ordering. */
  private def pluralityVote(spark: SparkSession, g: LocalFixpoint.Local,
      iters: Int): DataFrame = {
    var lab = Array.range(0, g.nodes)
    for (_ <- 1 to iters) {
      // synchronous: every vote reads the PREVIOUS round's labels
      val votes = Array.tabulate(g.edges)(e => g.src(e).toLong << 32 | lab(g.dst(e)))
      java.util.Arrays.sort(votes)
      val next = new Array[Int](g.nodes)
      val best = new Array[Int](g.nodes)
      var i = 0
      while (i < votes.length) {
        var j = i
        while (j < votes.length && votes(j) == votes(i)) j += 1
        val u = (votes(i) >>> 32).toInt
        if (j - i > best(u)) { best(u) = j - i; next(u) = votes(i).toInt }
        i = j
      }
      lab = next
    }
    val voters = g.src.distinct
    LocalFixpoint.frame(spark, "node", "community")(
      voters.map(g.ids), voters.map(u => g.ids(lab(u))))
  }

  /** Newman modularity, per community, of a node partition over an
    * UNDIRECTED simple graph given as canonical distinct pairs
    * `(a < b)` (beyond-reference: THE community-quality statistic —
    * Q = Σ_c [e_c/m − (d_c/2m)²], intra-edge share minus the share a
    * degree-preserving random rewiring would give; positive
    * contributions mean denser-than-chance groups). The evaluation
    * companion to [[lpaCommunities]], as silhouette is to k-means.
    * Returns `(community, n_nodes, intra_edges, degree_sum,
    * contribution)`; Q is the contribution sum.
    *
    * Determinism: every input to the float math is an exact integer
    * count (m, e_c, d_c), and each contribution is a fixed chain of
    * scalar IEEE ops on them — identical in any engine, no
    * aggregation-order surface. Scale shape: one degree aggregation,
    * one two-sided label join over the edge list (shuffled on the node
    * key), one community-keyed agg — nothing driver-sized. */
  def modularityByCommunity(undirected: DataFrame, partition: DataFrame,
      nodeCol: String = "node", labelCol: String = "community",
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    val e = undirected.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val lab = partition.select(col(nodeCol).cast("long").as("__n"),
      col(labelCol).cast("long").as("__c"))
    val deg = e.select(col("a").as("__n")).unionAll(e.select(col("b").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__d"))
    val cdeg = lab.join(deg, "__n")
      .groupBy(col("__c").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("__d")).as("degree_sum"))
    val intra = e
      .join(lab.select(col("__n").as("a"), col("__c").as("ca")), Seq("a"))
      .join(lab.select(col("__n").as("b"), col("__c").as("cb")), Seq("b"))
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra_edges"))
    val m = e.agg(count(lit(1)).as("__m"))
    cdeg.join(intra, Seq("community"), "left").crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (coalesce(col("intra_edges"), lit(0L)) * lit(1.0) / col("__m")
          - (col("degree_sum") * lit(1.0) / (lit(2) * col("__m")))
            * (col("degree_sum") * lit(1.0) / (lit(2) * col("__m"))))
          .as("contribution"))
  }
}
