package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ — the composed cluster-scale ANN shape (the classic
  * coarse-quantizer + product-code layout, e.g. FAISS IndexIVFPQ):
  * the trained IVF coarse quantizer ([[Ivf]]) prunes the search to
  * `nprobe` cells, and inside the probed cells the phase-1 scan reads
  * only the NARROW PQ codes `(id, cell, codes)` ([[Pq]]), ADC-ordered
  * against the query's lookup tables; the top k×oversampling ids join
  * back to the probed full-vector frame for exact rerank.
  *
  * Both structures are the existing content-stamped materialized
  * indexes (IVF cells, PQ codebooks/codes); this layer materializes
  * their JOIN once per source piece, clustered AND sorted by `cell`, so a
  * probe is row-group pruning on the codes table — the phase-1 scan
  * never touches vectors, payloads, or unprobed cells. At 100 TB this
  * is the shape that works: the scan cost is
  * (nprobe/cells) × (codes table ≈ base/8), two orders of magnitude
  * under an exact scan, and both factors are knobs.
  *
  * Codes encode per-cell RESIDUALS (v − centroid[cell], the FAISS
  * IndexIVFPQ default; r16 VERDICT #3): a raw-code book spans the whole
  * corpus diameter, so inside a tight cluster every member quantizes to
  * near-identical codes and ADC ranks coarsely — r16 compensated with a
  * corpus-proportional candidate pool (rows/200 = 512 reranked ids at
  * 100K). Residual books span only local offsets; ADC separates cluster
  * members and a small FIXED pool holds the ≥0.95 recall bar at every
  * corpus size. The books stay POOLED across cells, so the query still
  * pays one shared m×k table set plus per-cell constants
  * ([[Pq.adcOrderingResidual]]) — no per-cell retrain, no per-cell plan
  * branches. This artifact also serves the plain `quantization='pq'`
  * tier (same table, ADC over ALL cells instead of the probed ones).
  *
  * Reference anchor: the reference's quality tiers (vector.rs:69-115)
  * and quantized rerank (with_clause.rs:106-131) compose here into one
  * plan; its single-node HNSW has no distributed analogue, this does.
  */
object IvfPq {

  /** The combined `(id, cell, codes)` table of a source, with the frozen
    * models it was encoded against: returns (centroids, codebooks,
    * combined codes table). Both models are keyed by `src.keys` (the
    * epoch freeze of [[Ivf.materializedIndexAt]]); the combined table
    * materializes PER PIECE in one pass over the piece's file (both
    * models applied together — no collection-wide join per write), so
    * upkeep is O(batch). */
  def materializedIndexAt(spark: SparkSession, src: graft.IndexSource,
      vecCol: String, idCol: String, dim: Int, cells: Int, m: Int, k: Int)
      : (Array[(Int, Array[Float])], Array[Array[Array[Float]]], DataFrame) = {
    import spark.implicits._
    // centroids ONLY — the cells table is neither read by the combined
    // artifact nor by either pq query shape, and building it here made
    // every plain-pq first touch write a full-width corpus copy as a
    // side effect (r17 review finding)
    val cents = Ivf.materializedCentroidsAt(spark, src, vecCol, cells)
    // residual codebooks, trained once per model key against the frozen
    // coarse centroids (kind 'ivfpqr': never a raw-code cache's)
    val cb = src.model(spark, s"ivfpqr${cells}_${m}x${k}_codebooks") {
      Pq.trainResidual(src.frame(), vecCol, dim, cents, m, k)
        .zipWithIndex.flatMap { case (book, i) =>
          book.zipWithIndex.map { case (cen, j) => (i, j, cen.toSeq) }
        }.toSeq.toDF("sub", "code", "centroid")
    } { df =>
      val rows = df.collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
      Array.tabulate(m)(i => rows.filter(_._1 == i).sortBy(_._2).map(_._3))
    }
    val combined = src.index(spark, s"ivfpqr${cells}_${m}x${k}_codes", trained = true,
      Some("cell"))(Pq.encodeResidual(_, vecCol, idCol, cb, cents))
    (cents, cb, combined)
  }
}
