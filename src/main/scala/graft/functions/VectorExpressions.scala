package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.{Bridge, CosineSimilarity, DotProduct, EuclideanDistance, EuclideanDistanceDouble, HammingDistance, JaccardSimilarity}

/** Column-API facade (plus the SQL names) over the codegen'd distance
  * expressions, mirroring the reference's metric dispatch
  * (distance.rs:64-72) and its `higher_is_better` direction flag
  * (distance.rs:76-81) used for ORDER BY direction and threshold
  * comparison inversion (query/mod.rs:396-417).
  */
object VectorFunctions {
  import org.apache.spark.sql.functions.typedlit

  private def wrap(f: (Expression, Expression) => Expression)(a: Column, b: Column): Column =
    Bridge.column(f(Bridge.expression(a), Bridge.expression(b)))

  def cosine_sim(a: Column, b: Column): Column = wrap(CosineSimilarity.apply)(a, b)
  def dot_product(a: Column, b: Column): Column = wrap(DotProduct.apply)(a, b)
  def l2_dist(a: Column, b: Column): Column = wrap(EuclideanDistance.apply)(a, b)
  def hamming_dist(a: Column, b: Column): Column = wrap(HammingDistance.apply)(a, b)
  def jaccard_sim(a: Column, b: Column): Column = wrap(JaccardSimilarity.apply)(a, b)

  /** Elementwise half-precision round-trip (`fmt` = "f16"/"bf16") over
    * an `array<float>` column — the write-path kernel for the f16/bf16
    * collection storage modes (half_precision.rs). */
  def half_round(v: Column, fmt: String): Column =
    Bridge.column(org.apache.spark.sql.graft.HalfRound(Bridge.expression(v), fmt))

  /** Double-typed L2 — the k-means/silhouette kernel (same IEEE fold as
    * the HOF chain it replaces; see EuclideanDistanceDouble). */
  def l2_dist_d(a: Column, b: Column): Column =
    wrap(EuclideanDistanceDouble.apply)(a, b)

  /** Literal query vector as ArrayType(FloatType) column. */
  def vecLit(v: Seq[Float]): Column = typedlit(v)

  /** Literal centroid as ArrayType(DoubleType) column. */
  def vecLitD(v: Seq[Double]): Column = typedlit(v)

  /** Deterministic synthetic query vector (for tests/benches/oracles). */
  def syntheticQuery(dim: Int): Seq[Float] =
    (0 until dim).map(i => (math.sin(i * 0.7) * 0.5 + 0.1).toFloat)

  /** Metric → (scoreFn, higherIsBetter). Encodes distance.rs:76-81 once. */
  val metrics: Map[String, ((Column, Column) => Column, Boolean)] = Map(
    "cosine" -> ((cosine_sim _, true)),
    "dot" -> ((dot_product _, true)),
    "euclidean" -> ((l2_dist _, false)),
    "hamming" -> ((hamming_dist _, false)),
    "jaccard" -> ((jaccard_sim _, true)))

  /** The five distance functions by SQL name, the list
    * [[graft.GraftExtensions]] injects into every factory-built
    * session. */
  val sqlFunctions: Seq[(String, (Expression, Expression) => Expression)] = Seq(
    "cosine_sim" -> (CosineSimilarity(_, _)),
    "dot_product" -> (DotProduct(_, _)),
    "l2_dist" -> (EuclideanDistance(_, _)),
    "hamming_dist" -> (HammingDistance(_, _)),
    "jaccard_sim" -> (JaccardSimilarity(_, _)))
}
