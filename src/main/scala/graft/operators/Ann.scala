package graft.operators

import graft.functions.{VectorFunctions, VectorKernels}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Approximate-nearest-neighbor tier (SURVEY.md §2.3 V8/V11, §7.1 step 8).
  *
  * The reference's HNSW (index/hnsw/native_index.rs) is a single-node
  * pointer graph — wrong shape for a cluster. The Spark-native scale path
  * is bucketed LSH: a deterministic random-hyperplane signature assigns
  * every vector to a bucket; search probes the query's bucket plus its
  * Hamming neighbors and exact-reranks only those candidates. The index
  * is just a DataFrame (bucket, id, vector) — written as parquet
  * clustered by bucket, probing becomes row-group pruning, and index
  * build is one distributed pass (vs 52 s single-node HNSW build for
  * 100K×768D — benchmarks/README.md:20-22).
  *
  * `ef_search`-style quality knobs (vector.rs:69-115 Fast/Balanced/
  * Accurate/Perfect) map to the probe radius: more probed buckets →
  * higher recall, linearly more work. VelesQL `NEAR … WITH (mode = …)`
  * is the one probe route (the Compiler picks the radius per tier and
  * probes the materialized index, or [[signatureCol]] when the frame has
  * no index source).
  */
object Ann {

  /** Hyperplanes per signature: 2⁶ = 64 buckets, the plane count every
    * probe radius below is calibrated against. */
  val Planes = 6

  /** Deterministic pseudo-random hyperplane component (plane p, dim i):
    * a splitmix64-style integer hash mapped to [-1, 1). Reproducible
    * across engines and runs — no RNG state. */
  private def planeComponent(p: Int, i: Int): Double = {
    var z = p.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  def planes(nPlanes: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(nPlanes)(p => Array.tabulate(dim)(i => planeComponent(p, i).toFloat))

  /** Signature of one vector under the planes: bit p = sign(v·plane_p). */
  def signature(v: Array[Float], planes: Array[Array[Float]]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      if (VectorKernels.dot(v, planes(p)) >= 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** The LSH signature of a vector column as a Column expression —
    * identical values to [[signature]]/[[buildIndex]]'s `bucket` (when
    * `planeOffset` = 0), and a sum of per-plane bit terms so it stays in
    * codegen. A non-zero `planeOffset` selects an independent plane set
    * (multi-table LSH, [[Dedup.embeddingNearDupLsh]]). */
  def signatureCol(vecCol: Column, nPlanes: Int, dim: Int,
      planeOffset: Int = 0): Column = {
    val ps = Array.tabulate(nPlanes)(p =>
      Array.tabulate(dim)(i => planeComponent(p + planeOffset, i).toFloat))
    val bits: Seq[Column] = ps.toIndexedSeq.zipWithIndex.map { case (plane, p) =>
      when(VectorFunctions.dot_product(vecCol,
        VectorFunctions.vecLit(plane.toSeq)) >= 0.0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).cast(LongType)
  }

  /** Build the LSH index frame: input plus a `bucket` column
    * ([[materializedIndexAt]] persists it sorted by bucket). Pass `dim`
    * (from collection metadata / the query vector) to keep the build a
    * single pass — the `None` fallback costs one stray dim-probe job. */
  def buildIndex(df: DataFrame, vecCol: String, nPlanes: Int,
      dim: Option[Int] = None): DataFrame = {
    val d = dim.getOrElse(
      df.select(size(col(vecCol)).as("__d")).where(col("__d") >= 0)
        .head(1).headOption.map(_.getInt(0)).getOrElse(throw
          new IllegalArgumentException(
            "LSH buildIndex: empty/vector-less frame and no dim given")))
    df.withColumn("bucket", signatureCol(col(vecCol), nPlanes, d))
  }

  /** Buckets within Hamming radius `r` of the query signature, nearest
    * first (the multi-probe sequence). Enumerated combinatorially —
    * Σ_d C(nPlanes, d) masks, NOT a 2^nPlanes scan (the r1 full scan
    * hung the driver past ~24 planes; ≥63 overflowed the shift). */
  def probeBuckets(sig: Long, nPlanes: Int, radius: Int): Seq[Long] = {
    require(nPlanes >= 1 && nPlanes <= 62,
      s"nPlanes must be in [1, 62], got $nPlanes (one sign bit per plane in a long)")
    val r = math.min(radius, nPlanes)
    val total = (0 to r).map(d =>
      (0 until d).foldLeft(1.0)((acc, i) => acc * (nPlanes - i) / (i + 1))).sum
    require(total <= 2e6,
      f"probe set too large: ~$total%.0f buckets for nPlanes=$nPlanes radius=$r")
    val out = Seq.newBuilder[Long]
    for (d <- 0 to r) {
      val layer = scala.collection.mutable.ArrayBuffer.empty[Long]
      def combos(start: Int, left: Int, mask: Long): Unit =
        if (left == 0) layer += (sig ^ mask)
        else {
          var i = start
          while (i <= nPlanes - left) {
            combos(i + 1, left - 1, mask | (1L << i))
            i += 1
          }
        }
      combos(0, d, 0L)
      out ++= layer.sorted // keep the (distance, bucket) probe order
    }
    out.result()
  }

  /** The LSH index of a source, maintained per piece
    * ([[graft.Materialize.pieces]]): the signature is a pure per-row
    * function, so the index decomposes into one cached piece per storage
    * piece (a dataset table's file; a collection's base buckets and
    * delta segments), each stamped by its own dir and read back minus
    * the ids later writes superseded. A write adds one delta dir, so the
    * next indexed query hashes only that batch's rows and reuses every
    * base piece — per-write index upkeep is O(batch), which is what the
    * reference's in-place HNSW insert (native_index.rs:317) costs and
    * what a 100 TB ingest needs. Every piece's files are sorted by
    * bucket, so the probe's pushed `bucket IN (…)` prunes row groups in
    * the one scan over all pieces: the query neither re-hashes
    * a vector nor scans outside its Hamming ball. (The trained tiers —
    * IVF/PQ/HNSW — take the same pieces against EPOCH-FROZEN models;
    * see [[Ivf.materializedIndexAt]] and [[graft.Collections.indexEpoch]].) */
  def materializedIndexAt(spark: org.apache.spark.sql.SparkSession,
      src: graft.IndexSource, vecCol: String, nPlanes: Int, dim: Int): DataFrame =
    graft.Materialize.pieces(spark, src.token, b => s"lsh${nPlanes}_p${b}_${src.name}",
      src.pieces, Nil, Some("bucket"))(buildIndex(_, vecCol, nPlanes, Some(dim)))

  /** ANN top-k: probe buckets within `radius`, exact-rerank candidates.
    * radius = nPlanes probes ALL buckets — honored by skipping the
    * bucket predicate outright (an isin over 2^nPlanes literals would
    * trip probeBuckets' 2e6 enumeration cap past nPlanes 20 and is a
    * pathological plan well before it; r15 review finding). */
  def search(index: DataFrame, vecCol: String, query: Seq[Float], k: Int,
      nPlanes: Int, radius: Int, metric: String = "cosine",
      idCol: String = "id"): DataFrame = {
    val cands =
      if (radius >= nPlanes) index // exact: every bucket qualifies
      else {
        val sig = signature(query.toArray, planes(nPlanes, query.length))
        index.where(col("bucket").isin(probeBuckets(sig, nPlanes, radius): _*))
      }
    Knn.topK(cands, vecCol, query, k, metric, idCol)
  }
}
