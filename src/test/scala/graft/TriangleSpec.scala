package graft

import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.{CheckpointBlocks, JobMeter, Metered}
import org.apache.spark.sql.types.StructType

/** [[Graph.triangleCounts]] — degree-ordered triangle enumeration vs a
  * brute-force oracle, plus shape cases (complete graph, triangle-free
  * star, pendant edges).
  */
class TriangleSpec extends SparkSpecBase {
  import spark.implicits._

  private def counts(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** O(n³) reference: every unordered node triple with all three edges. */
  private def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val triples = for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if es((a, b)) && es((b, c)) && es((a, c))
    } yield (a, b, c)
    triples.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  test("K4: four triangles, every node in three") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(counts(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("star graph is triangle-free (hub degree does not fabricate wedges)") {
    val star = (2L to 12L).map(i => (1L, i))
    assert(counts(star).isEmpty)
  }

  test("pendant edges join no triangles; counts match brute force") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), // triangle
      (3L, 4L), (4L, 5L)) // pendant path
    val c = counts(g)
    assert(c == brute(g))
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("deterministic pseudo-random graph matches brute force") {
    // 30 nodes, edge (i, j) present when a fixed hash bit fires — no
    // runtime randomness, same graph every run
    val edges = for {
      i <- 1L to 30L; j <- (i + 1) to 30L
      if ((i * 2654435761L + j * 40503L) % 97) < 22
    } yield (i, j)
    assert(counts(edges) == brute(edges))
  }

  test("orientation is input-order independent (reversed pair columns)") {
    val g = Seq((2L, 1L), (3L, 2L), (3L, 1L), (4L, 3L))
    // same graph with swapped endpoints: canonicalization happens in
    // the caller normally, but orientation must still count correctly
    // because (deg, id) ordering ignores the input direction
    assert(counts(g) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    Graph.kCore(edges.toDF("a", "b"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore: path graph has no 2-core, cycle is all 2-core") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(core(path, 2).isEmpty)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(core(cycle, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("kCore: cascading peel (removing a leaf degrades its neighbor)") {
    // triangle 1-2-3 with a tail 3-4-5: peeling 5 drops 4 to degree 1,
    // peeling 4 drops 3 to degree 2 — the triangle alone survives,
    // and it takes multiple rounds to get there
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(core(g, 2) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // the 3-core is empty (triangle degrees are only 2)
    assert(core(g, 3).isEmpty)
  }

  test("kCore: 1-core keeps everything with at least one edge") {
    val g = Seq((1L, 2L), (3L, 4L))
    assert(core(g, 1) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    intercept[IllegalArgumentException](core(g, 0))
  }

  test("kCore: local tail finish ≡ distributed rounds (r17 path parity)") {
    // clique 1-4 (3-core) + cycle 5-8 (2-core) + tails that cascade-peel
    val g = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L),
      (4L, 9L), (9L, 10L), (8L, 11L))
    def run(): Map[Long, Long] = core(g, 2)
    val local = run() // default threshold: whole fixpoint on the driver
    spark.conf.set("graft.localFinishEdges", "0")
    val dist = try run() // threshold 0: every round distributed
      finally spark.conf.unset("graft.localFinishEdges")
    assert(local == dist)
    assert(local == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 2L))
  }

  private def aa(edges: Seq[(Long, Long)], minCommon: Int = 1,
      maxDeg: Long = Long.MaxValue): Map[(Long, Long), (Long, Long)] =
    Graph.adamicAdar(edges.toDF("a", "b"), minCommon, maxDeg)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

  // floor(1e6 / ln(deg) + 0.5) for the degrees the cases below use
  private val w2 = math.floor(1e6 / math.log(2.0) + 0.5).toLong // 1442695
  private val w3 = math.floor(1e6 / math.log(3.0) + 0.5).toLong //  910239

  test("adamicAdar: path predicts the endpoints through the center") {
    // 1-2-3: only non-adjacent pair is (1,3), one common neighbor of
    // degree 2
    assert(aa(Seq((1L, 2L), (2L, 3L))) == Map((1L, 3L) -> (1L, w2)))
  }

  test("adamicAdar: square predicts both diagonals with two centers each") {
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(aa(sq) == Map((1L, 3L) -> (2L, 2 * w2), (2L, 4L) -> (2L, 2 * w2)))
    // minCommon = 3 filters everything
    assert(aa(sq, minCommon = 3).isEmpty)
  }

  test("adamicAdar: existing edges are never predicted (K3 is silent)") {
    assert(aa(Seq((1L, 2L), (2L, 3L), (1L, 3L))).isEmpty)
  }

  test("adamicAdar: hub cap drops high-degree centers (df-cap idiom)") {
    // star 1-{2,3,4}: leaf pairs share only the hub (degree 3)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    assert(aa(star) == Map((2L, 3L) -> (1L, w3), (2L, 4L) -> (1L, w3),
      (3L, 4L) -> (1L, w3)))
    assert(aa(star, maxDeg = 2).isEmpty)
    intercept[IllegalArgumentException](aa(star, maxDeg = 1))
  }

  private def lpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val res = Graph.lpaCommunities(edges.toDF("a", "b"), iters)
    try res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally org.apache.spark.sql.graft.CheckpointBlocks.unpersist(res)
  }

  test("lpaCommunities: bridge between two triangles splits ONE component into TWO communities") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), // triangle A
      (4L, 5L), (4L, 6L), (5L, 6L), // triangle B
      (3L, 4L)) // bridge
    // hand-traced 3 synchronous rounds (plurality, ties → smallest):
    // r1: 1→2 2→1 3→1 4→3 5→4 6→4; r2: 1→1 2→1 3→1 4→4 5→3 6→3;
    // r3: triangle A all 1, triangle B all 3
    assert(lpa(g, 3) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // the SAME graph is one connected component — density vs
    // connectivity is exactly the lpa/components distinction
    val comp = operators.Dedup.components(g.toDF("a", "b"))
      .select("comp").distinct().count()
    assert(comp == 1L)
  }

  test("lpaCommunities: synchronous two-cycle on a single edge (fixed-iters contract)") {
    // 1-2: each round the nodes swap labels — iters parity decides,
    // exactly the documented deterministic contract (no damping/RNG)
    assert(lpa(Seq((1L, 2L)), 1) == Map(1L -> 2L, 2L -> 1L))
    assert(lpa(Seq((1L, 2L)), 2) == Map(1L -> 1L, 2L -> 2L))
  }

  test("lpaCommunities: clique converges to the smallest id in two rounds") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(lpa(k4, 2).values.toSet == Set(1L))
    intercept[IllegalArgumentException](lpa(k4, 0))
  }

  test("lpaCommunities: local finish ≡ distributed rounds (gate 0)") {
    // bridged triangles + a pendant chain: plurality ties (every vote
    // count 1 on the chain) AND real majorities in one graph, over the
    // iters values the tests above hand-traced
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L), (6L, 7L), (7L, 8L))
    for (iters <- 1 to 4) {
      val local = lpa(g, iters) // default gate: driver-local rounds
      spark.conf.set("graft.localFinishEdges", "0")
      val dist = try lpa(g, iters) // gate 0: every round distributed
        finally spark.conf.unset("graft.localFinishEdges")
      assert(local == dist, s"iters=$iters: local $local != distributed $dist")
    }
  }

  /** `f` with `graft.localFinishEdges` at `gate` (None: the default). */
  private def withGate[T](gate: Option[String])(f: => T): T = {
    gate.foreach(spark.conf.set("graft.localFinishEdges", _))
    try f finally spark.conf.unset("graft.localFinishEdges")
  }

  private val GateJob = "graft local-finish gate"

  /** Sorted rows (nulls kept) and schema of an operator result, freed
    * after reading. */
  private def rowsAndSchema(res: DataFrame): (Seq[Row], StructType) =
    try (res.collect().toSeq.sortBy(_.toString), res.schema)
    finally CheckpointBlocks.unpersist(res)

  private def asMap(rows: Seq[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  // clique 1-4 (3-core) + cycle 5-8 (2-core) + tails that cascade-peel
  private val kcoreGraph = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L),
    (4L, 9L), (9L, 10L), (8L, 11L))
  // chain (diameter 4 — multi-round distributed), triangle, pair
  private val componentsGraph = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (11L, 12L), (10L, 12L),
    (20L, 21L))
  // bridged triangles + a pendant chain: plurality ties (every vote
  // count 1 on the chain) AND real majorities in one graph
  private val lpaGraph = Seq((1L, 2L), (1L, 3L), (2L, 3L),
    (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L), (6L, 7L), (7L, 8L))

  test("local finish ≡ distributed: kCore, components and LPA on the parity table") {
    val graphs: Seq[(String, DataFrame)] = Seq(
      "kCore graph" -> kcoreGraph.toDF("a", "b"),
      "components graph" -> componentsGraph.toDF("a", "b"),
      "LPA graph" -> lpaGraph.toDF("a", "b"),
      "null endpoint" -> Seq((Some(1L), Some(2L)), (Some(1L), Some(3L)), (Some(2L), Some(3L)),
        (Some(3L), Option.empty[Long])).toDF("a", "b"),
      "duplicate edge" -> Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b"),
      "self-loop" -> Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b"),
      "isolated pair" -> Seq((1L, 2L), (1L, 3L), (2L, 3L), (20L, 21L)).toDF("a", "b"),
      "empty" -> Seq.empty[(Long, Long)].toDF("a", "b"))
    def ops(g: String): Seq[(String, DataFrame => DataFrame)] = Seq(
      "kCore k=2" -> ((e: DataFrame) => Graph.kCore(e, 2)),
      "components" -> ((e: DataFrame) => operators.Dedup.components(e))) ++
      // the LPA graph over the iters values the tests above hand-traced
      (if (g == "LPA graph") 1 to 4 else Seq(3))
        .map(i => s"LPA iters=$i" -> ((e: DataFrame) => Graph.lpaCommunities(e, i)))
    val local = (for ((g, in) <- graphs; (op, f) <- ops(g)) yield {
      val Metered(res, jobs, _, _) = withGate(None)(JobMeter(spark)(f(in)))
      val atDefault = rowsAndSchema(res)
      // the default gate finishes every null-free graph on the driver
      if (g != "null endpoint")
        assert(jobs.lastOption.contains(GateJob), s"$op on $g ran distributed: $jobs")
      // gate 0 sends every non-empty graph down the distributed loop;
      // -1 does so for the empty one too
      for (gate <- if (g == "empty") Seq("0", "-1") else Seq("0")) {
        val dist = withGate(Some(gate))(rowsAndSchema(f(in)))
        assert(atDefault == dist, s"$op on $g: default gate $atDefault != gate $gate $dist")
      }
      assert(atDefault._2.forall(_.nullable), s"$op on $g: ${atDefault._2}")
      (g, op) -> atDefault._1
    }).toMap
    assert(asMap(local(("kCore graph", "kCore k=2"))) == Map(1L -> 3L, 2L -> 3L,
      3L -> 3L, 4L -> 3L, 5L -> 2L, 6L -> 2L, 7L -> 2L, 8L -> 2L))
    assert(asMap(local(("components graph", "components"))) == Map(1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // a null endpoint is peeled like any degree-1 node: the driver
    // finish used to unbox it and throw
    assert(asMap(local(("null endpoint", "kCore k=2"))) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("local finish: one gate job per operator, none until the result is consumed") {
    val e = lpaGraph.toDF("a", "b")
    for ((op, f) <- Seq[(String, DataFrame => DataFrame)](
        "kCore" -> (Graph.kCore(_, 2)),
        "components" -> (operators.Dedup.components(_)),
        "LPA" -> (Graph.lpaCommunities(_, 3)))) {
      val Metered(res, jobs, _, _) = JobMeter(spark)(f(e))
      // jobs before the gate belong to the input's own plan (components'
      // distinct shuffle); the gate must be the only one and the last
      assert(jobs.count(_ == GateJob) == 1, s"$op: $jobs")
      assert(jobs.last == GateJob, s"$op: $jobs")
      assert(rowsAndSchema(res)._1.nonEmpty)
    }
  }

  test("local finish: a graph exactly at the gate finishes on the driver, one edge over does not") {
    // 9 pairs = 18 symmetrized edges over 8 partitions, some holding
    // more than their share (18 / 8) of the gate: the gate job cannot
    // ship them all, so one more gate job re-reads the blocks
    val e = lpaGraph.toDF("a", "b")
    val expected = rowsAndSchema(Graph.lpaCommunities(e, 3))
    for ((gate, driver) <- Seq("18" -> true, "17" -> false)) {
      val Metered(res, jobs, _, _) =
        withGate(Some(gate))(JobMeter(spark)(Graph.lpaCommunities(e, 3)))
      assert(rowsAndSchema(res) == expected, s"gate $gate")
      assert(jobs.lastOption.contains(GateJob) == driver, s"gate $gate: $jobs")
      assert(jobs.count(_ == GateJob) == (if (driver) 2 else 1), s"gate $gate: $jobs")
    }
  }

  test("modularityByCommunity: bridged triangles, hand-computed Q") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)) // m = 7
    val part = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 3L), (5L, 3L), (6L, 3L)).toDF("node", "community")
    val rows = Graph.modularityByCommunity(g.toDF("a", "b"), part)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // each community: 3 intra edges, degree mass 7 (2+2+3) of 2m = 14
    // → contribution 3/7 − (7/14)² = 0.17857142857142855
    val expected = 3.0 / 7 - 0.25
    assert(rows.keySet == Set(1L, 3L))
    rows.values.foreach { case (n, intra, dsum, c) =>
      assert(n == 3L && intra == 3L && dsum == 7L)
      assert(math.abs(c - expected) < 1e-15)
    }
    // Q > 0: the partition is denser than a random rewiring
    assert(rows.values.map(_._4).sum > 0.35)
    // an everything-in-one-community partition scores Q = 0 exactly
    // (e_c/m = 1 and (d_c/2m)² = 1)
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).map((_, 9L)).toDF("node", "community")
    val q0 = Graph.modularityByCommunity(g.toDF("a", "b"), one)
      .collect().map(_.getDouble(4)).sum
    assert(q0 == 0.0)
  }
}
