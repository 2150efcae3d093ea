package graft

import graft.operators.{Hnsw, Ivf, Knn}
import org.apache.spark.sql.functions._

/** Partitioned HNSW ANN tier (reference index/hnsw/native_index.rs:230 —
  * the navigable-graph structure, re-expressed as IVF-cell routing plus
  * a batch-built per-cell adjacency table walked ef-bounded).
  *
  * The VALUE claim vs the ivf tier is pinned here: at equal probed
  * cells and ≥ IVF's measured recall, the walk SCORES strictly fewer
  * candidates than the full-cell scan. */
class HnswSpec extends SparkSpecBase {

  // sf0.01: the recall calibration scale (q123/q125's bar is measured
  // here; sf0.001's 150-row corpus gives the pins no resolution)
  override val sfDir = "/root/testdata/sf0.01"

  private lazy val emb = Tables.table(spark, sfDir, "embeddings")
  private lazy val cents = Ivf.trainCentroids(emb, "embedding", 8, iters = 2)
  private lazy val cells = Ivf.buildIndex(emb, "embedding", cents)
  private lazy val graph =
    Hnsw.buildGraph(cells, "embedding", "vec_id", "cosine", m = 8)

  private val queries = Seq(
    functions.VectorFunctions.syntheticQuery(64),
    (0 until 64).map(i => (math.cos(i * 0.31) * 0.4 - 0.05).toFloat),
    (0 until 64).map(i => (math.sin(i * 1.3 + 0.5) * 0.3).toFloat))

  test("graph shape: m-bounded neighbor lists, sampled level-1 mesh") {
    val g = graph.cache()
    try {
      val n = g.count()
      assert(n == emb.count(), "every vector must carry adjacency")
      val bad = g.where(size(col("neighbors")) > 16).count()
      assert(bad == 0, "level-0 lists exceed 2m (kNN + reverse links)")
      val lvl1 = g.where(col("level") === 1)
      assert(lvl1.count() > 0 && lvl1.count() < n, "level-1 must be a strict sample")
      // level-0 nodes carry no level-1 links
      assert(g.where(col("level") === 0 && size(col("neighbors1")) > 0).count() == 0)
      // neighbor ids resolve within the same cell
      val ids = g.select(col("cell").as("c2"), col("vec_id").as("nb2"))
      val dangling = g.select(col("cell"), explode(col("neighbors")).as("nb"))
        .join(ids, col("cell") === col("c2") && col("nb") === col("nb2"), "left_anti")
      assert(dangling.count() == 0, "adjacency must stay inside its cell")
    } finally g.unpersist()
  }

  test("accurate-tier recall ≥ IVF's measured bar with strictly fewer scored candidates") {
    val g = graph.cache()
    try {
      g.count()
      var hnswHits = 0L; var ivfHits = 0L
      var hnswCand = 0L; var ivfCand = 0L
      queries.foreach { q =>
        val exact = Knn.topK(emb, "embedding", q, 10, "cosine", idCol = "vec_id")
          .select("vec_id")
        val probes = Ivf.probeCells(cents, q.toArray, 7)
        // ef=24 is the partial-walk regime at this corpus size (cells
        // ~60 rows): the claim under test is equal recall at strictly
        // fewer scored candidates, not walk-covers-the-cell
        val walked = Hnsw.walkCandidates(
          g.where(col("cell").isin(probes: _*)),
          "embedding", "vec_id", "cosine", q, ef = 24)
        hnswCand += walked.count()
        val ivfScan = cells.where(col("cell").isin(probes: _*))
        ivfCand += ivfScan.count()
        hnswHits += Knn.topK(
          walked.drop("cell", "neighbors", "neighbors1", "level"),
          "embedding", q, 10, "cosine", idCol = "vec_id")
          .select("vec_id").join(exact, "vec_id").count()
        ivfHits += Knn.topK(ivfScan.drop("cell"), "embedding", q, 10, "cosine",
          idCol = "vec_id").select("vec_id").join(exact, "vec_id").count()
      }
      assert(hnswHits >= 29, s"recall@10 below the 0.95 bar: $hnswHits/30")
      assert(hnswHits >= ivfHits, s"walk lost recall vs full scan: $hnswHits < $ivfHits")
      assert(hnswCand < ivfCand,
        s"walk must score fewer candidates than the cell scan: $hnswCand vs $ivfCand")
    } finally g.unpersist()
  }

  test("walk is deterministic and search matches across runs") {
    val q = queries.head
    def run() = Hnsw.search(graph, cents, "embedding", q, 5, nprobe = 7,
      ef = 48, metric = "cosine", idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(run() == run())
  }

  test("filtered walk: acceptance gated, navigation intact") {
    val q = queries.head
    val g = graph.withColumn("__keep", col("label") === 1)
    val probes = Ivf.probeCells(cents, q.toArray, 7)
    val out = Hnsw.walkCandidates(
      g.where(col("cell").isin(probes: _*)),
      "embedding", "vec_id", "cosine", q, ef = 48, keepCol = Some("__keep"))
    val rows = out.select("label").collect()
    assert(rows.nonEmpty, "filtered walk returned nothing")
    assert(rows.forall(_.getInt(0) == 1), "a survivor violates the filter")
  }

  test("shuffle-skip widens to one-row-group files above the open-cost cap (r12 ask #3)") {
    // production-sized cell files exceed min(openCostInBytes,
    // maxPartitionBytes); a ONE-ROW-GROUP file is still atomic to the
    // scan, so the walk may skip its co-locating repartition
    val tmp = java.nio.file.Files.createTempDirectory("graft-hnswskip")
    graph.repartition(col("cell")).write.mode("overwrite").parquet(tmp.toString)
    val g2 = spark.read.parquet(tmp.toString)
    val q = queries.head
    val probes = Ivf.probeCells(cents, q.toArray, 7)
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "16")
    try {
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      assert(files.nonEmpty &&
        files.forall(f => java.nio.file.Files.size(f) > 16),
        "fixture must exceed the size cap to exercise the footer path")
      def walk(skip: Boolean) = Hnsw.walkCandidates(
        g2.where(col("cell").isin(probes: _*)),
        "embedding", "vec_id", "cosine", q, ef = 48,
        cellClusteredFiles = skip)
      val skipped = walk(skip = true)
      assert(!skipped.queryExecution.executedPlan.toString.contains("Exchange"),
        "one-row-group files above the cap must still skip the shuffle")
      val shuffled = walk(skip = false)
      assert(shuffled.queryExecution.executedPlan.toString.contains("Exchange"),
        "control: the unskipped walk repartitions by cell")
      val a = skipped.select("vec_id").collect().map(_.getLong(0)).toSet
      val b = shuffled.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(a == b && a.nonEmpty, s"walk result changed under the skip: $a vs $b")
    } finally spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
  }

  test("VelesQL WITH (index='hnsw') routes the tier and composes with filters") {
    val cat = new velesql.Catalog(spark, sfDir)
    val c = new velesql.Compiler(spark, cat,
      Map("q" -> functions.VectorFunctions.syntheticQuery(64)))
    val rows = c.run(
      "SELECT vec_id, score FROM embeddings WHERE vector NEAR $q LIMIT 5 " +
        "WITH (mode = 'accurate', index = 'hnsw')").collect()
    assert(rows.length == 5)
    val filtered = c.run(
      "SELECT vec_id, label, score FROM embeddings WHERE label = 1 " +
        "AND vector NEAR $q LIMIT 5 WITH (mode = 'accurate', index = 'hnsw')")
      .collect()
    assert(filtered.nonEmpty && filtered.forall(_.getInt(1) == 1))
    // hnsw without a probing mode stays an explicit error (no silent no-op)
    intercept[IllegalArgumentException] {
      c.run("SELECT vec_id FROM embeddings WHERE vector NEAR $q LIMIT 5 " +
        "WITH (index = 'hnsw')")
    }
  }

  test("ann serving: repeat adaptive-tier compiles with FRESH query vectors launch zero Spark jobs") {
    // r16 VERDICT #1: the corpus-adaptive tiers ran a count() job per
    // compile — ANN serving pays it per REQUEST (fresh vector ⇒ plan
    // memo miss ⇒ full recompile). The count is now persisted per
    // content stamp (Materialize.countMemo), so a warm-index compile
    // must schedule NOTHING: index relations come from the read memo,
    // centroids/codebooks from the driver memo, the count from its
    // sidecar. Compile-only on purpose — execution jobs are the query's.
    val cat = new velesql.Catalog(spark, sfDir)
    def compile(v: Seq[Float], withOpts: String): Unit = {
      new velesql.Compiler(spark, cat, Map("q" -> v)).run(
        s"SELECT vec_id FROM embeddings WHERE vector NEAR $$q LIMIT 5 WITH ($withOpts)")
      ()
    }
    // warm pass: index build + the one persisted count (jobs allowed)
    compile(queries(0), "mode = 'accurate', index = 'hnsw'")
    compile(queries(0), "quantization = 'pq'")
    val jobs = org.apache.spark.sql.graft.JobMeter(spark) {
      compile(queries(1), "mode = 'accurate', index = 'hnsw'")
      compile(queries(1), "quantization = 'pq'")
    }.jobs
    assert(jobs == 0,
      s"a warm adaptive-tier compile scheduled $jobs Spark job(s); " +
        "the corpus count must come from the persisted memo, not a count() job")
  }

  test("countMemo: persists across JVMs, recounts only on a content re-stamp") {
    val dir = java.nio.file.Files.createTempDirectory("countmemo")
    val src = dir.resolve("points.parquet")
    java.nio.file.Files.write(src, "aaaa".getBytes("UTF-8"))
    val kind = s"corpusn_spec_${System.nanoTime()}"
    var calls = 0
    def count(n: Long): Long =
      Materialize.countMemo(kind, dir.toString, Seq(src)) { calls += 1; n }
    assert(count(42L) == 42L && calls == 1)
    assert(count(99L) == 42L && calls == 1, "same stamp must not recount")
    // fresh-JVM simulation: drop the in-memory entry — the persisted
    // sidecar must answer with ZERO thunk invocations
    Materialize.evictCountMemo(kind, dir.toString)
    assert(count(99L) == 42L && calls == 1, "sidecar miss: a fresh JVM would re-run the count job")
    // content re-stamp (a collection publish): recount exactly once
    java.nio.file.Files.write(src, "bbbbbbbb".getBytes("UTF-8"))
    assert(count(57L) == 57L && calls == 2, "a re-stamped corpus must recount")
    assert(count(0L) == 57L && calls == 2)
    Collections.deleteRec(dir)
  }

  test("rowGroupCache: a hot entry survives cap crossings (LRU eviction)") {
    val cache = new graft.operators.LruVerdictCache(64)
    var reads = 0
    def touchHot(): Boolean =
      cache.getOrElseUpdate("hot", { reads += 1; true })
    touchHot()
    assert(reads == 1)
    // stream 3 caps' worth of cold keys through, re-touching the hot
    // entry between batches — every eviction sweep must spare it
    for (batch <- 0 until 6) {
      (0 until 32).foreach(i =>
        cache.getOrElseUpdate(s"cold-$batch-$i", false))
      touchHot()
    }
    assert(reads == 1, s"hot entry was evicted and re-read ($reads reads)")
    assert(cache.size <= 70, s"cache grew past its cap: ${cache.size}")
    // and a never-retouched cold key from the first batch is gone
    assert(!cache.contains("cold-0-0"))
  }
}
