package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — beyond-reference scale path for
  * similarity search (the reference's StorageMode stops at SQ8/Binary,
  * quantization.rs:20-29; PQ is the classic third tier: FAISS-style
  * m-subspace codebooks).
  *
  * Shape: the vector is split into `m` subvectors; each subspace gets a
  * `k`-centroid codebook (deterministic k-means, reusing [[Ivf]]'s
  * trainer on sliced frames); a vector is stored as `m` small codes
  * (8 ints vs 64+ floats — the codes table is the ONLY thing the
  * phase-1 scan reads). At query time the driver computes tiny m×k
  * lookup tables against the query once, and the asymmetric-distance
  * (ADC) ordering is pure codegen array lookups — no per-row float
  * math. Top k×oversampling candidate ids join back to the base table
  * for exact rerank, same two-phase contract as the binary-sketch path
  * (SURVEY §2.3 V11).
  *
  * Training + encoding happen at INDEX BUILD time — the product
  * artifact is [[IvfPq.materializedIndexAt]]'s residual-coded
  * `(id, cell, codes)` table (once per dataset, content-stamped like
  * the IVF/LSH/BM25 tables); queries never train.
  */
object Pq {

  /** Centroids per subspace codebook: 8-bit codes ([[defaultM]]). */
  val K = 256

  /** Dimension-adaptive subspace count: ~8 dims per subspace with
    * k=256 centroids — the classic 8-bits-per-subquantizer PQ operating
    * point (FAISS IndexPQ/IndexIVFPQ convention) — floor 8 subspaces,
    * snapped to a divisor of dim: DOWNWARD first, and if that lands
    * under the 8-subspace floor, UPWARD to the smallest divisor ≥
    * target (r16 ADVICE: a downward-only snap silently degraded awkward
    * dims — dim=100 gave m=5, and a prime dim like 127 collapsed to
    * m=1, one codebook for the whole vector). Upward costs more code
    * bytes per row, never recall; a prime dim lands on m=dim (scalar
    * subspaces), still a valid book. At 64D this is the historical m=8
    * (every committed calibration and oracle pin unchanged); at 768D it
    * is 96. Calibration at 100K×768D (RecallCurve r17, residual codes):
    * the r16 (m=48, k=32) point needed a corpus-proportional candidate
    * pool; (m=96, k=256) holds recall@10 = 0.96 at the FIXED default
    * oversampling 64 and 1.00 at 128. */
  def defaultM(dim: Int): Int = {
    val target = math.max(8, dim / 8)
    val down = (target to 1 by -1).find(dim % _ == 0).getOrElse(1)
    if (down >= 8) down
    else (target to dim).find(dim % _ == 0).getOrElse(dim)
  }

  /** Per-subspace codebooks: `m` × `k` centroids of `dim/m` floats.
    * Each subspace trains with [[Ivf.trainCentroids]] over the SLICED
    * frame — deterministic seeding, distributed Lloyd rounds. */
  def train(df: DataFrame, vecCol: String, dim: Int, m: Int, k: Int,
      iters: Int = 2): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m subspaces")
    val sub = dim / m
    Array.tabulate(m) { i =>
      val sliced = df.select(slice(col(vecCol), i * sub + 1, sub).as("sub"))
      Ivf.trainCentroids(sliced, "sub", k, iters)
        .sortBy(_._1).map(_._2)
    }
  }

  /** Nearest-centroid code per subspace for ONE vector (shared by the
    * raw and residual encode UDFs). */
  private[operators] def encodeOne(cb: Array[Array[Array[Float]]],
      a: Array[Float]): Array[Int] = {
    val m = cb.length
    val sub = a.length / m
    Array.tabulate(m) { i =>
      var best = 0
      var bd = Double.MaxValue
      var j = 0
      while (j < cb(i).length) {
        var d = 0.0
        var t = 0
        while (t < sub) {
          val diff = a(i * sub + t) - cb(i)(j)(t); d += diff * diff; t += 1
        }
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      best
    }
  }

  // ---- Residual (IVF-PQ) encoding -----------------------------------
  //
  // Codes quantize v − centroid[cell] instead of v (the FAISS
  // IndexIVFPQ default). A raw-code book must span the whole corpus
  // diameter, so inside a tight cluster every member lands on
  // near-identical codes and ADC ranks coarsely — the r16 compensation
  // grew the candidate pool as corpus/200 (512 ids reranked at 100K).
  // Residuals span only a cell's local spread: ADC separates cluster
  // members and a small FIXED pool suffices at every corpus size
  // (r16 VERDICT #3) — no corpus count on the query path at all.

  private def centroidOf(cents: Array[(Int, Array[Float])],
      cell: Int): Array[Float] =
    // the trainer emits dense 0..k-1 cell ids; fall back to a scan if a
    // caller ever passes a sparse set
    if (cell >= 0 && cell < cents.length && cents(cell)._1 == cell)
      cents(cell)._2
    else cents.find(_._1 == cell).getOrElse(
      throw new IllegalArgumentException(s"PQ residual: unknown cell $cell"))._2

  private def residualOf(cents: Array[(Int, Array[Float])],
      a: Array[Float], cell: Int): Array[Float] = {
    val cen = centroidOf(cents, cell)
    val r = new Array[Float](a.length)
    var i = 0
    while (i < a.length) { r(i) = a(i) - cen(i); i += 1 }
    r
  }

  /** Train codebooks on per-cell residuals POOLED across cells: one
    * shared m×k book (one ADC lookup-table set per query), each
    * subspace spanning only local offsets from the coarse centroids. */
  def trainResidual(df: DataFrame, vecCol: String, dim: Int,
      cents: Array[(Int, Array[Float])], m: Int, k: Int,
      iters: Int = 2): Array[Array[Array[Float]]] =
    train(
      df.where(col(vecCol).isNotNull)
        .select(udfResidual(cents)(col(vecCol)).as("res")),
      "res", dim, m, k, iters)

  private[operators] def udfResidual(cents: Array[(Int, Array[Float])]) =
    udf { (v: Seq[Float]) =>
      val a = v.toArray
      residualOf(cents, a, Ivf.assignCell(cents, a)).toSeq
    }

  /** One-pass (cell, codes) residual encoding against the broadcast
    * models — assignment and encoding share [[Ivf.assignCell]], so a
    * row's codes always decode against its own centroid. */
  private[operators] def udfEncodeResidual(cb: Array[Array[Array[Float]]],
      cents: Array[(Int, Array[Float])]) =
    udf { (v: Seq[Float]) =>
      val a = v.toArray
      val cell = Ivf.assignCell(cents, a)
      (cell, encodeOne(cb, residualOf(cents, a, cell)))
    }

  /** ADC ordering over RESIDUAL codes: v ≈ centroid[cell] + r̂, so
    *   dot(q, v)  = dot(q, cent[cell])      + Σᵢ dotTable[codesᵢ]
    *   |v|²       = |cent[cell]|² + 2·Σᵢ crossTable[cell][codesᵢ]
    *                               + Σᵢ normTable[codesᵢ]
    * The driver folds every cell-dependent term into flat tables once
    * per query (nCells scalars + one nCells×m×k cross table) and the
    * per-row work is ONE codegen kernel call over them
    * ([[org.apache.spark.sql.graft.PqAdcScore]] — the HOF lookup chain
    * it replaces ran on Catalyst's interpreted path and dominated the
    * phase-1 scan at large m). Ordering-only, like [[adcOrdering]] —
    * exact scores come from the rerank phase. */
  private def dotAt(a: Array[Float], off: Int, b: Array[Float]): Double = {
    var s = 0.0; var t = 0
    while (t < b.length) { s += a(off + t) * b(t); t += 1 }
    s
  }

  /** The QUERY-INDEPENDENT halves of the residual-ADC tables — pure
    * model artifacts (|cb|², the cent×cb cross table, |cent|²).
    * Callers on a serving path memoize this per model stamp
    * (Materialize.memo, like the codebooks themselves): the cross
    * table is nCells×m×k doubles and its fill is the dominant
    * table-build cost, so recomputing it per REQUEST would be the same
    * per-request-floor class the r16 count job was — and memoizing also
    * means every cached plan shares ONE array object instead of each
    * retaining its own copy. */
  final case class AdcModelTables(normFlat: Array[Double],
      crossFlat: Array[Double], normC: Array[Double])

  def adcModelTables(codebooks: Array[Array[Array[Float]]],
      cents: Array[(Int, Array[Float])]): AdcModelTables = {
    val m = codebooks.length
    val k = codebooks(0).length
    val normFlat = Array.tabulate(m * k)(x =>
      codebooks(x / k)(x % k).map(v => v.toDouble * v).sum)
    val nCells = cents.map(_._1).maxOption.fold(0)(_ + 1) // none: empty source
    val normC = Array.fill(nCells)(0.0)
    val crossFlat = Array.fill(nCells * m * k)(0.0)
    cents.foreach { case (c, cen) =>
      var t = 0
      var nc = 0.0
      while (t < cen.length) { nc += cen(t).toDouble * cen(t); t += 1 }
      normC(c) = nc
      val sub = cen.length / m
      for (i <- 0 until m; j <- 0 until k)
        crossFlat(c * m * k + i * k + j) = dotAt(cen, i * sub, codebooks(i)(j))
    }
    AdcModelTables(normFlat, crossFlat, normC)
  }

  def adcOrderingResidual(codesCol: Column, cellCol: Column,
      query: Array[Float], codebooks: Array[Array[Array[Float]]],
      cents: Array[(Int, Array[Float])], metric: String,
      model: Option[AdcModelTables] = None): (Column, Boolean) = {
    // an empty source trains no cells, so it holds no codes to order
    if (cents.isEmpty) return (lit(0.0), false)
    val m = codebooks.length
    val k = codebooks(0).length
    val sub = query.length / m
    // per-query tables: m×k dots + nCells scalars — small by design
    val dotFlat = Array.tabulate(m * k)(x =>
      dotAt(query, (x / k) * sub, codebooks(x / k)(x % k)))
    val nCells = cents.map(_._1).max + 1
    val dotQC = Array.fill(nCells)(0.0)
    cents.foreach { case (c, cen) =>
      var t = 0
      var dq = 0.0
      while (t < cen.length) { dq += query(t) * cen(t); t += 1 }
      dotQC(c) = dq
    }
    val mt = model.getOrElse(adcModelTables(codebooks, cents))
    val normFlat = mt.normFlat
    val crossFlat = mt.crossFlat
    val normC = mt.normC
    val mode = metric match {
      case "dot" => 0
      // "euclidean" is the engine's canonical L2 name
      // (VectorFunctions.metrics); the bare "l2" spelling stays an alias
      case "l2" | "euclidean" => 1
      case "cosine" => 2
      case other =>
        throw new IllegalArgumentException(
          s"PQ supports cosine/l2/dot, not '$other'")
    }
    import org.apache.spark.sql.graft.{Bridge, PqAdcScore}
    (Bridge.column(PqAdcScore(
      Bridge.expression(codesCol), Bridge.expression(cellCol),
      dotFlat, normFlat, crossFlat, dotQC, normC, k, mode)),
      mode == 1)
  }

  /** The residual `(id, cell, codes)` projection from in-memory models —
    * the encode step of [[IvfPq.materializedIndexAt]] and the
    * calibration path of `tools/RecallCurve`. */
  def encodeResidual(df: DataFrame, vecCol: String, idCol: String,
      codebooks: Array[Array[Array[Float]]],
      cents: Array[(Int, Array[Float])]): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol), udfEncodeResidual(codebooks, cents)(col(vecCol)).as("rc"))
      .select(col(idCol), col("rc._1").as("cell"), col("rc._2").as("codes"))

  /** ADC ordering column over a `codes` column: the driver computes
    * m×k dot/norm tables against the query ONCE; the per-row cost is m
    * array lookups (codegen `transform`/`aggregate`, no UDF). Returns
    * (orderingColumn, ascending). Ordering-only — exact scores come
    * from the rerank phase. */
  def adcOrdering(codesCol: Column, query: Array[Float],
      codebooks: Array[Array[Array[Float]]], metric: String): (Column, Boolean) = {
    val m = codebooks.length
    val k = codebooks(0).length
    val sub = query.length / m
    def dot(a: Array[Float], off: Int, b: Array[Float]): Double = {
      var s = 0.0; var t = 0
      while (t < b.length) { s += a(off + t) * b(t); t += 1 }
      s
    }
    val dotFlat = (for (i <- 0 until m; j <- 0 until k)
      yield dot(query, i * sub, codebooks(i)(j))).toIndexedSeq
    val normFlat = (for (i <- 0 until m; j <- 0 until k)
      yield codebooks(i)(j).map(x => x.toDouble * x).sum).toIndexedSeq
    def lookupSum(flat: Seq[Double]): Column = aggregate(
      transform(sequence(lit(0), lit(m - 1)),
        i => element_at(typedlit(flat), i * k + element_at(codesCol, i + 1) + 1)),
      lit(0.0), (acc, x) => acc + x)
    val adcDot = lookupSum(dotFlat)
    val adcNormSq = lookupSum(normFlat)
    metric match {
      case "dot" => (adcDot, false)
      // "euclidean" is the engine's canonical L2 name
      // (VectorFunctions.metrics); the bare "l2" spelling stays as an
      // alias — matching only "l2" made every euclidean-metric PQ
      // query throw (r15 review finding)
      case "l2" | "euclidean" => (adcNormSq - lit(2.0) * adcDot, true)
      case "cosine" =>
        // |q| is constant for ordering; guard the zero-vector cell
        (when(adcNormSq > 0.0, adcDot / sqrt(adcNormSq)).otherwise(lit(-2.0)),
          false)
      case other =>
        throw new IllegalArgumentException(
          s"PQ supports cosine/l2/dot, not '$other'")
    }
  }
}
