package graft.operators

import graft.functions.VectorKernels
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index — the second scale path beside LSH
  * (SURVEY.md §2.3 V1 "batch-built HNSW/IVF partitions", §7.1 step 8).
  *
  * Shape: k-means-lite centroids (deterministic seeding, fixed Lloyd
  * iterations, all distributed aggregations) partition the vector space;
  * every vector is assigned to its nearest centroid (`cell` column).
  * Search scores the query against the tiny centroid table on the driver,
  * probes the `nprobe` nearest cells — row-group pruning over the
  * cell-clustered index — and exact-reranks candidates.
  * `nprobe` is the recall/latency knob (the reference's ef analogue).
  *
  * Training + assignment happen at INDEX BUILD time
  * ([[materializedIndexAt]] — the reference builds its index at insert,
  * index/hnsw/native_index.rs:317), never inside a query: queries are
  * probe + rerank only.
  */
object Ivf {

  /** Coarse cells every materialized cell index trains (IVF, IVF-PQ,
    * the partitioned HNSW router). */
  val Cells = 8

  /** Deterministic k-means: seeds = hash-spread sample, `iters` Lloyd
    * rounds, each ONE distributed aggregation over the data (no driver
    * loops over rows — only centroids, which are k×dim small). */
  def trainCentroids(df: DataFrame, vecCol: String, k: Int,
      iters: Int = 5): Array[(Int, Array[Float])] = {
    // deterministic seed pick: k rows with the smallest xxhash of the vector
    // rows without a vector are unsearchable by vector and excluded
    // from the model and the index alike (the exact path scores them
    // null); an unfiltered null previously NPEd the whole build
    val dfv = df.where(col(vecCol).isNotNull)
    var centroids: Array[(Int, Array[Float])] = dfv
      .select(col(vecCol), xxhash64(col(vecCol).cast("string")).as("h"))
      .orderBy(col("h")).limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0).toArray) }
    for (_ <- 1 to iters) {
      // centroids ride the udf closure (k×dim-small, serialized once
      // per stage); the old sparkContext.broadcast was dereferenced on
      // the DRIVER (bc.value into the closure), so it shipped the raw
      // array anyway and leaked one undestroyed broadcast per round
      val means = cellMeans(
        dfv.withColumn("cell", udfAssign(centroids)(col(vecCol))), vecCol)
      centroids = centroids.map { case (c, old) =>
        (c, means.getOrElse(c, old)) // empty cell keeps its centroid
      }
    }
    centroids
  }

  /** Per-cell element-wise mean as ONE typed aggregation column — a
    * single (sums, count) buffer per group regardless of dimension. The
    * r2 shape emitted one `avg` column per dimension, which at 768d was
    * a 768-column aggregate plan. Partial aggregation still applies
    * (ObjectHashAggregate merges buffers map-side). */
  private def cellMeans(dfWithCell: DataFrame, vecCol: String): Map[Int, Array[Float]] = {
    val ss = dfWithCell.sparkSession
    import ss.implicits._
    val vecAvg = new Aggregator[(Int, Array[Double]), (Array[Double], Long), Array[Double]] {
      def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
      def reduce(b: (Array[Double], Long), a: (Int, Array[Double])): (Array[Double], Long) = {
        val v = a._2
        val s = if (b._1.isEmpty) new Array[Double](v.length) else b._1
        var i = 0
        while (i < v.length) { s(i) += v(i); i += 1 }
        (s, b._2 + 1)
      }
      def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) =
        if (x._1.isEmpty) y
        else if (y._1.isEmpty) x
        else {
          var i = 0
          while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
          (x._1, x._2 + y._2)
        }
      def finish(b: (Array[Double], Long)): Array[Double] =
        if (b._2 == 0) Array.empty[Double] else b._1.map(_ / b._2)
      def bufferEncoder: Encoder[(Array[Double], Long)] = implicitly
      def outputEncoder: Encoder[Array[Double]] = implicitly
    }
    dfWithCell
      .select(col("cell"), col(vecCol).cast("array<double>").as("v"))
      .as[(Int, Array[Double])]
      .groupByKey(_._1)
      .agg(vecAvg.toColumn.name("mean"))
      .collect()
      .collect { case (c, m) if m.nonEmpty => c -> m.map(_.toFloat) }
      .toMap
  }

  /** Nearest-centroid cell for ONE vector — the single assignment rule,
    * shared by the build-time UDF and the residual encoders ([[Pq]]):
    * residual codes only decode correctly against the centroid their
    * row was assigned to, so assignment and encoding must never
    * diverge. */
  private[operators] def assignCell(cs: Array[(Int, Array[Float])],
      a: Array[Float]): Int = {
    var best = -1
    var bestD = Double.MaxValue
    cs.foreach { case (c, cen) =>
      val d = VectorKernels.l2Squared(a, cen)
      if (d < bestD) { bestD = d; best = c }
    }
    best
  }

  /** Nearest-centroid assignment as a UDF over the broadcast centroid
    * set (k is small — tens to thousands; the loop is per-row O(k·dim),
    * same cost shape as FAISS IVF assignment). */
  private[operators] def udfAssign(cs: Array[(Int, Array[Float])]) =
    udf { (v: Seq[Float]) => assignCell(cs, v.toArray) }

  /** Index = data + `cell` column ([[materializedIndexAt]] persists it
    * cell-clustered, so probing prunes row groups). */
  def buildIndex(df: DataFrame, vecCol: String,
      centroids: Array[(Int, Array[Float])]): DataFrame =
    // vector-less rows are unsearchable by vector and excluded from the
    // index (exact-path parity: kernels score them null); unfiltered
    // nulls NPEd the assignment udf (r15 review finding)
    df.where(col(vecCol).isNotNull)
      .withColumn("cell", udfAssign(centroids)(col(vecCol)))

  /** Lloyd rounds of every materialized coarse quantizer. */
  private val Iters = 2

  /** The coarse quantizer ALONE — trained/collected/memoized per model
    * stamp (`src.model`), WITHOUT touching the cell-assignment table.
    * Consumers that only route on centroids (residual PQ's encode + ADC
    * constants, [[IvfPq]]) must not pay a corpus-sized full-width cells
    * build as a side effect (r17 review finding: plain
    * `quantization='pq'` wrote a complete corpus copy it never read).
    * Collected table is k×dim-small — the in-memory quantizer cache
    * every ANN engine keeps. `src.name` is part of the cache kind — two
    * vector tables under one token must never share a key prefix, or
    * generation pruning would delete one table's live model when the
    * other rebuilds. */
  def materializedCentroidsAt(spark: SparkSession, src: graft.IndexSource,
      vecCol: String, k: Int): Array[(Int, Array[Float])] = {
    import spark.implicits._
    val kind = s"ivf${k}_centroids_${src.name}"
    graft.Materialize.memo(kind, src.token, src.model) {
      graft.Materialize.atPaths(spark, src.token, kind, src.model, None) {
        trainCentroids(src.frame(), vecCol, k, Iters)
          .toSeq.map { case (c, cen) => (c, cen.toSeq) }.toDF("cell", "centroid")
      }.collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
    }
  }

  /** The IVF index of a source: the trained centroids plus the
    * cell-clustered assignment table. Training + assignment happen at
    * INDEX BUILD time (the reference builds its index at insert,
    * index/hnsw/native_index.rs:317), never inside a query: queries
    * collect the centroid table (k rows) and go straight to probe +
    * rerank. The centroids stamp on `src.model`, so on a user collection
    * the model FREEZES across publishes (centroids are corpus
    * statistics, stable under small batches) and only re-trains when
    * [[graft.Collections.retrainIndexes]] bumps the epoch. The cell
    * assignment caches per (piece dir, model stamp) and is read back
    * minus each piece's superseded ids — a write encodes ONLY its own
    * delta against the frozen model, O(batch) index upkeep per write,
    * and a retrain re-encodes every piece. */
  def materializedIndexAt(spark: SparkSession, src: graft.IndexSource,
      vecCol: String, k: Int): (Array[(Int, Array[Float])], DataFrame) = {
    val centroids = materializedCentroidsAt(spark, src, vecCol, k)
    val cells = graft.Materialize.pieces(spark, src.token,
      b => s"ivf${k}_cells_p${b}_${src.name}", src.pieces, src.model,
      Some("cell"))(buildIndex(_, vecCol, centroids))
    (centroids, cells)
  }

  /** The `nprobe` cells nearest the query: l2² to each centroid of
    * the small in-memory table, ties broken by cell id. The one probe
    * rule of every cell-routed tier (IVF, IVF-PQ, partitioned HNSW). */
  def probeCells(centroids: Array[(Int, Array[Float])], query: Array[Float],
      nprobe: Int): Seq[Int] =
    centroids.map { case (c, cen) => (c, VectorKernels.l2Squared(query, cen)) }
      .sortBy { case (c, d) => (d, c) }
      .take(nprobe).map(_._1).toIndexedSeq

  /** Quality tier → cells probed, calibrated on the near-uniform
    * testdata (the ANN worst case; PERF_r17_ann.md): fast = 2 ≈
    * 0.43-0.53 recall@10, balanced = 4 ≈ 0.77-0.8, accurate = all but
    * one cell ≥ 0.95 — the reference's Accurate bar (vector.rs:84-91),
    * oracle-pinned by q125_ann_recall_ivf. */
  def nprobeOf(tier: String): Int = tier match {
    case "fast" => 2
    case "balanced" => 4
    case _ => Cells - 1
  }

  /** ANN top-k: probe the `nprobe` nearest cells, exact-rerank inside. */
  def search(index: DataFrame, vecCol: String, query: Seq[Float], k: Int,
      centroids: Array[(Int, Array[Float])], nprobe: Int,
      metric: String = "cosine", idCol: String = "id"): DataFrame = {
    val cands = index.where(col("cell").isin(
      probeCells(centroids, query.toArray, nprobe): _*))
    Knn.topK(cands, vecCol, query, k, metric, idCol)
  }
}
