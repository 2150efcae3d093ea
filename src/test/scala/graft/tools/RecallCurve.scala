package graft.tools

import graft.operators.{Ann, Hnsw, Ivf, Knn, Pq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference-scale ANN recall curve (r15 verdict ask #4): a 100K×768D
  * tile — the corpus shape of the reference's published tier table
  * (benchmarks/README.md:9-15, 34.2%→100% recall across ef) — swept
  * across the PRODUCT's quality tiers for each index structure with the
  * exact parameters the compiler maps each tier to
  * (Compiler.scala tier match: LSH planes=6 radius 1/2/4; IVF cells=8
  * nprobe 2/4/7; HNSW nprobe 2/4/7 × ef 24/48/96; PQ oversample 16;
  * 'perfect' = exact scan). Recall@10 over 10 held-near-cluster queries
  * (100 relevant ids); wall-time = min of 2 timed reps after a warm
  * pass, per query, averaged. Output: the markdown table committed as
  * PERF_r16_ann.md; RecallLedgerSpec pins the committed Accurate+ rows
  * at ≥0.95.
  *
  * Tile: 64 deterministic cluster directions + per-element hash noise —
  * clustered like real embedding corpora (the reference benches
  * `--clusters 25`), deterministic across runs (no RNG state).
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val dim = args.drop(1).headOption.map(_.toInt).getOrElse(768)
    val spark = graft.SessionTuning.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    val tile = s"/tmp/graft_recall_tile_${n}_$dim"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tile))) {
      val t0 = System.nanoTime()
      spark.range(n).select(col("id").as("vec_id"),
        expr(s"""transform(sequence(0, ${dim - 1}), j ->
                 |  cast(cos((id % 64) * 2.39996 + j * 0.713) * 0.5
                 |    + (pmod(xxhash64(id, j), 2001) / 1000.0 - 1.0) * 0.35 as float))"""
          .stripMargin.replace("\n", " ")).as("embedding"))
        .repartition(32)
        .write.mode("overwrite").parquet(tile)
      println(f"TILE built $n x $dim in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val emb = spark.read.parquet(tile).cache()
    emb.count()

    // 10 queries: cluster directions with their own noise phase — near a
    // cluster but not a member (recall is non-trivial)
    val queries: Seq[Seq[Float]] = (0 until 10).map { qi =>
      val cid = (qi * 7 + 3) % 64
      (0 until dim).map(j =>
        (math.cos(cid * 2.39996 + j * 0.713) * 0.5 +
          (math.sin(qi * 13.7 + j * 1.9) * 0.3)).toFloat)
    }

    // GRAFT_CURVE_ONLY=pq,hnsw → run only those index sections (the
    // exact truth always computes; it is the recall denominator)
    val sections: Set[String] = sys.env.get("GRAFT_CURVE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("lsh", "ivf", "hnsw", "pq"))

    def timed[A](f: => A): (A, Double) = {
      f // warm
      val reps = (1 to 2).map { _ =>
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
      }
      (f, reps.min)
    }

    // exact truth (and the 'perfect' tier's wall-time)
    var exactSec = 0.0
    val truth: Map[Int, Set[Long]] = queries.zipWithIndex.map { case (q, i) =>
      val (ids, sec) = timed(
        Knn.topK(emb, "embedding", q, 10, "cosine", idCol = "vec_id")
          .select("vec_id").collect().map(_.getLong(0)).toSet)
      exactSec += sec
      i -> ids
    }.toMap
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    def report(index: String, tier: String, params: String,
        hits: Long, sec: Double): Unit = {
      val r = hits / (10.0 * queries.size)
      rows += f"| $index | $tier | $params | ${r}%.3f | ${sec / queries.size * 1000}%.1f |"
      println(f"CURVE $index $tier $params recall=${r}%.3f avg=${sec / queries.size * 1000}%.1f ms")
    }
    report("exact", "perfect", "full scan", 100L, exactSec)

    // LSH: planes=6 (Ann.Planes), radius per tier
    if (sections("lsh")) {
      val t0 = System.nanoTime()
      val idx = Ann.buildIndex(emb, "embedding", 6, dim = Some(dim)).cache()
      idx.count()
      println(f"BUILD lsh ${(System.nanoTime() - t0) / 1e9}%.1f s")
      for ((tier, r) <- Seq(("fast", 1), ("balanced", 2), ("accurate", 4))) {
        var hits = 0L; var sec = 0.0
        queries.zipWithIndex.foreach { case (q, i) =>
          val (ids, s) = timed(
            Ann.search(idx, "embedding", q, 10, 6, r, idCol = "vec_id")
              .select("vec_id").collect().map(_.getLong(0)).toSet)
          hits += ids.intersect(truth(i)).size; sec += s
        }
        report("lsh", tier, s"planes=6 radius=$r", hits, sec)
      }
      idx.unpersist()
    }

    // IVF: cells=8 (Ivf.Cells), nprobe per tier; exact
    // scoring within probed cells (the product's ivf tier shape)
    val cents = {
      val t0 = System.nanoTime()
      val c = Ivf.trainCentroids(emb, "embedding", 8, iters = 2)
      println(f"BUILD ivf-centroids ${(System.nanoTime() - t0) / 1e9}%.1f s")
      c
    }
    val cells = Ivf.buildIndex(emb, "embedding", cents).cache()
    cells.count()
    if (sections("ivf")) for ((tier, np) <- Seq(("fast", 2), ("balanced", 4), ("accurate", 7))) {
      var hits = 0L; var sec = 0.0
      queries.zipWithIndex.foreach { case (q, i) =>
        val probes = Ivf.probeCells(cents, q.toArray, np)
        val (ids, s) = timed(
          Knn.topK(cells.where(col("cell").isin(probes: _*)),
            "embedding", q, 10, "cosine", idCol = "vec_id")
            .select("vec_id").collect().map(_.getLong(0)).toSet)
        hits += ids.intersect(truth(i)).size; sec += s
      }
      report("ivf", tier, s"cells=8 nprobe=$np", hits, sec)
    }

    // HNSW: IVF router + per-cell graph walk, (nprobe, ef) per tier
    if (sections("hnsw")) {
      val t0 = System.nanoTime()
      val graph = Hnsw.buildGraph(cells, "embedding", "vec_id", "cosine", m = 8).cache()
      graph.count()
      println(f"BUILD hnsw-graph ${(System.nanoTime() - t0) / 1e9}%.1f s")
      // Above the calibration corpus (n > 96·96) the product ROUTES
      // every hnsw tier to the per-cell exact scan over its own probe
      // set (Compiler cost-aware routing, r17): the batch walk reads
      // every probed row anyway, so at scale it loses on BOTH axes —
      // the adaptive accurate walk is a strictly worse linear scan, and
      // the fixed-ef fast/balanced walks keep the cost down while
      // recall collapses with cell size. The 'cal-*' rows keep the
      // unrouted walks in the table as the costs routing avoids.
      val routed = n > 96 * 96
      val efAcc = math.max(96, n / 96)
      val hnswPoints =
        (if (routed)
          Seq(("cal-walk-fast", 2, 24), ("cal-walk-balanced", 4, 48),
            ("cal-walk", 7, efAcc))
        else Seq(("fast", 2, 24), ("balanced", 4, 48), ("accurate", 7, 96))) ++
        sys.env.get("GRAFT_HNSW_EF_SWEEP").toSeq.flatMap(_ =>
          Seq(("cal-ef256", 7, 256), ("cal-ef512", 7, 512), ("cal-ef1024", 7, 1024)))
      for ((tier, np, ef) <- hnswPoints) {
        var hits = 0L; var sec = 0.0
        queries.zipWithIndex.foreach { case (q, i) =>
          val probes = Ivf.probeCells(cents, q.toArray, np)
          val (ids, s) = timed {
            val walked = Hnsw.walkCandidates(
              graph.where(col("cell").isin(probes: _*)),
              "embedding", "vec_id", "cosine", q, ef)
            Knn.topK(walked.drop("cell", "neighbors", "neighbors1", "level"),
              "embedding", q, 10, "cosine", idCol = "vec_id")
              .select("vec_id").collect().map(_.getLong(0)).toSet
          }
          hits += ids.intersect(truth(i)).size; sec += s
        }
        report("hnsw", tier, s"nprobe=$np ef=$ef", hits, sec)
      }
      if (routed) for ((tier, np) <- Seq(("fast", 2), ("balanced", 4), ("accurate", 7))) {
        // the routed tiers: exact scan over each tier's probed cells
        var hits = 0L; var sec = 0.0
        queries.zipWithIndex.foreach { case (q, i) =>
          val probes = Ivf.probeCells(cents, q.toArray, np)
          val (ids, s) = timed(
            Knn.topK(cells.where(col("cell").isin(probes: _*)),
              "embedding", q, 10, "cosine", idCol = "vec_id")
              .select("vec_id").collect().map(_.getLong(0)).toSet)
          hits += ids.intersect(truth(i)).size; sec += s
        }
        report("hnsw", tier, s"nprobe=$np routed-cell-scan", hits, sec)
      }
      graph.unpersist()
    }
    cells.unpersist()

    // PQ: RESIDUAL codes (v − centroid[cell], the product artifact since
    // r17) + codegen ADC + exact rerank, (m, k) dimension-adaptive
    // (Pq.defaultM ~8 dims/subspace, k=256 — 8 at 64D, 96 at 768D). The
    // fixed default pool (os=64) replaces r16's corpus-proportional
    // rows/200.
    if (sections("pq")) {
      val t0 = System.nanoTime()
      val pm = sys.env.get("GRAFT_PQ_M").map(_.toInt).getOrElse(Pq.defaultM(dim))
      val pk = sys.env.get("GRAFT_PQ_K").map(_.toInt).getOrElse(256)
      val cb = Pq.trainResidual(emb, "embedding", dim, cents, pm, pk)
      val enc = Pq.encodeResidual(emb, "embedding", "vec_id", cb, cents).cache()
      enc.count()
      println(f"BUILD pq-residual ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val pqPoints = Seq(("balanced", 16), ("accurate", 64)) ++
        sys.env.get("GRAFT_PQ_OS_SWEEP").toSeq.flatMap(_ =>
          Seq(("cal-os32", 32), ("cal-os128", 128), ("cal-os256", 256)))
      for ((tier, os) <- pqPoints) {
        var hits = 0L; var sec = 0.0
        queries.zipWithIndex.foreach { case (q, i) =>
          val (ord, asc) = Pq.adcOrderingResidual(col("codes"), col("cell"),
            q.toArray, cb, cents, "cosine")
          val (ids, s) = timed {
            val cand = enc.withColumn("__adc", ord)
              .orderBy(if (asc) col("__adc").asc else col("__adc").desc, col("vec_id").asc)
              .limit(10 * os).select("vec_id")
            Knn.topK(emb.join(cand, "vec_id"), "embedding", q, 10, "cosine",
              idCol = "vec_id").select("vec_id").collect().map(_.getLong(0)).toSet
          }
          hits += ids.intersect(truth(i)).size; sec += s
        }
        report("pq", tier, s"residual m=$pm k=$pk oversample=$os", hits, sec)
      }
      // IVF-PQ composed (the cluster-scale product shape, q139's path):
      // probe nprobe cells, ADC-order the probed cells' codes only,
      // exact rerank — same residual artifact, scan bounded by the probe
      for ((tier, np) <- Seq(("fast", 2), ("balanced", 4), ("accurate", 7))) {
        var hits = 0L; var sec = 0.0
        queries.zipWithIndex.foreach { case (q, i) =>
          val probes = Ivf.probeCells(cents, q.toArray, np)
          val (ord, asc) = Pq.adcOrderingResidual(col("codes"), col("cell"),
            q.toArray, cb, cents, "cosine")
          val (ids, s) = timed {
            val cand = enc.where(col("cell").isin(probes: _*))
              .withColumn("__adc", ord)
              .orderBy(if (asc) col("__adc").asc else col("__adc").desc, col("vec_id").asc)
              .limit(10 * 64).select("vec_id")
            Knn.topK(emb.join(cand, "vec_id"), "embedding", q, 10, "cosine",
              idCol = "vec_id").select("vec_id").collect().map(_.getLong(0)).toSet
          }
          hits += ids.intersect(truth(i)).size; sec += s
        }
        report("ivfpq", tier, s"residual m=$pm k=$pk nprobe=$np oversample=64", hits, sec)
      }
      enc.unpersist()
    }

    println("| index | tier | params | recall@10 | avg ms/query |")
    println("|---|---|---|---|---|")
    rows.foreach(println)
    spark.stop()
  }
}
