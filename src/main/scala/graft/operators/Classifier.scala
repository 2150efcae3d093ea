package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Model-based quality classification — the "train a small classifier
  * on labeled documents, score the whole corpus, keep what passes" step
  * of C4/CCNet/FineWeb-style pipelines (the heuristic filters in
  * TextQueries q64/q141 are the rules half; this is the learned half).
  *
  * Features are hashing-trick n-grams (unigrams + bigrams → md5 60-bit
  * id mod dim, the fastText shape): no vocabulary table, engine- and
  * run-reproducible, and the SAME md5 idiom the repo's oracle pins
  * already prove cross-engine (TextQueries header).
  *
  * Training is full-batch logistic regression by gradient descent.
  * Scale shape per iteration: weights BROADCAST down (dim-sized array
  * in the closure), one partial+final agg per doc for margins, one
  * per-feature agg for the gradient, and the driver collects exactly
  * dim+1 numbers (grad + bias) — the [[Clustering]] k-means layout with
  * features in place of centroids. Corpus size only enters through the
  * two aggs.
  *
  * Engine-portability discipline (same as q161's k-means): margins,
  * residuals, gradient coordinates and weight updates all round on the
  * floor(x·1e6 + 0.5)/1e6 grid, so a sequential replay (or another
  * engine) reproduces the weights EXACTLY unless an unrounded sum sits
  * within ~1e-12 of a grid boundary.
  */
object Classifier {

  private def r6(c: Column): Column =
    floor(c * lit(1000000L) + lit(0.5)) / lit(1000000.0)

  private def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Lowercase alnum token array of a text column — THE tokenization
    * convention, defined once (train/serve skew guard: gramFids and
    * scoreText used to carry hand-copied twins; r15 review finding). */
  private def tokenArray(textCol: String): Column =
    filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => length(t) > 0)

  /** Unigrams + adjacent bigrams ("a b") of a token-array column. */
  private def gramsOf(w: Column): Column = concat(
    w,
    zip_with(slice(w, lit(1), greatest(size(w) - 1, lit(0))),
      slice(w, lit(2), greatest(size(w) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b)))

  /** fid = first 15 md5 hex chars mod dim — computed from the digest
    * BYTES by the codegen kernel (bit-parity with the hex/conv chain
    * pinned by TextKernelsSpec). The built-in chain allocated a 32-char
    * hex string + substring + base-16 parse per gram; at ~200 grams/doc
    * that was q173's whole gap to the oracle (PERF_r16.md). */
  private def fidOf(g: Column, dim: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.Md5Fid(
        org.apache.spark.sql.graft.Bridge.expression(g), dim))

  /** Exploded (id, fid) gram occurrences — the map-only front half of
    * both feature shapes below (shared with [[Dsir]], which needs the
    * same hashed unigram+bigram bucket ids). */
  private[operators] def gramFids(df: DataFrame, textCol: String, idCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val toks = df.select(col(idCol), tokenArray(textCol).as("w"))
    val grams = toks.select(col(idCol), explode(gramsOf(col("w"))).as("gram"))
    grams.select(col(idCol), fidOf(col("gram"), dim).as("fid"))
  }

  /** Hashed (id, fid, tf) features: lowercase alnum tokens (the repo
    * convention), unigrams + adjacent bigrams ("a b"), fid = first 15
    * md5 hex chars mod dim. One flatMap + one count agg — no vocab.
    * This is the TRAINING shape: collapsing occurrences to (fid, tf)
    * once pays for itself across GD iterations that each re-touch the
    * feature rows. For one-shot inference use [[scoreText]], which
    * skips this corpus-wide shuffle entirely. */
  def hashedFeatures(df: DataFrame, textCol: String, idCol: String,
      dim: Int): DataFrame =
    gramFids(df, textCol, idCol, dim)
      .groupBy(col(idCol), col("fid"))
      .agg(count(lit(1)).cast("double").as("tf"))

  /** Margin + probability per id under a weight table (fid, w) and
    * bias: margin = r6(Σ tf·w), prob = r6(sigmoid(margin + bias)).
    * `weights` is dim-bounded → broadcast join; one per-id agg. */
  def score(feats: DataFrame, weights: DataFrame, bias: Double,
      idCol: String): DataFrame =
    feats.join(broadcast(weights), "fid")
      .groupBy(col(idCol))
      .agg(r6(sum(col("tf") * col("w"))).as("margin"))
      .withColumn("prob",
        r6(lit(1.0) / (lit(1.0) + exp(-(col("margin") + lit(bias))))))

  /** Fused inference: score documents straight from text with NO
    * shuffle and no row explosion — the weight vector rides the plan as
    * one dense array literal (dim-bounded, the PQ-codebook pattern) and
    * the margin is a per-ROW `aggregate` over the gram array:
    * Σ tf·w ≡ Σ w over occurrences, so the (fid, tf) collapse is
    * skipped; summation-order differences vs the grouped path are
    * absorbed by r6. Docs with zero grams carry no score (parity with
    * the feature-join path, where they have no feature rows). This is
    * the serving path: one map stage end to end. */
  def scoreText(df: DataFrame, textCol: String, idCol: String,
      weights: DataFrame, bias: Double, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val dense = Array.fill(dim)(0.0)
    // by NAME, with a dim cross-check: positional reads broke on column
    // order, and a train/score dim mismatch either crashed (fid >= dim)
    // or silently scored garbage through the wrong hash modulus
    // (r15 review finding)
    weights.select(col("fid").cast("long"), col("w").cast("double"))
      .collect().foreach { r =>
        val fid = r.getLong(0)
        require(fid >= 0 && fid < dim,
          s"weight fid $fid outside dim $dim — train/score dim mismatch")
        dense(fid.toInt) = r.getDouble(1)
      }
    val toks = df.select(col(idCol), tokenArray(textCol).as("w"))
    // one codegen kernel call per row (unigrams then bigrams, the exact
    // gram order + left-to-right IEEE fold of the aggregate() HOF it
    // replaces — HOF lambdas evaluate interpreted per element, and the
    // per-gram md5-hex/conv/concat allocations dominated; r16 lab)
    import org.apache.spark.sql.graft.{Bridge, HashedGramMargin}
    toks.where(size(col("w")) > 0)
      .select(col(idCol),
        r6(Bridge.column(HashedGramMargin(Bridge.expression(col("w")), dense)))
          .as("margin"))
      .withColumn("prob",
        r6(lit(1.0) / (lit(1.0) + exp(-(col("margin") + lit(bias))))))
  }

  /** Trained model: dense weights (index = fid) + bias. */
  final case class Model(weights: IndexedSeq[Double], bias: Double)

  /** Ceiling on the hashed-feature width: 2^20 doubles ≈ 8 MB of
    * driver weights / ≤2^20 gradient rows per collect — comfortable on
    * any driver, and far above useful quality-classifier widths. */
  val MaxTrainDim: Int = 1 << 20

  /** Full-batch logistic GD on (id, fid, tf) features and (id, y∈{0,1})
    * labels. Plain GD, no momentum — determinism over convergence rate;
    * `iters` is small by design (quality classifiers are shallow). */
  def train(feats: DataFrame, labels: DataFrame, idCol: String, dim: Int,
      iters: Int, lr: Double): Model = {
    require(iters >= 0 && dim > 0, s"bad iters=$iters dim=$dim")
    // the per-iteration gradient collect() and the weights-as-literal
    // broadcast are both O(dim) on the DRIVER — that contract is only
    // safe while dim is a hashed-feature width, not a vocabulary
    require(dim <= MaxTrainDim,
      s"dim=$dim exceeds $MaxTrainDim: the gradient collect and the " +
        "weight-array literal are driver-sized by dim; hash features " +
        "into a bounded width instead")
    // Semantics note (r15 review, adjudicated): labeled docs with ZERO
    // feature rows (empty/non-alnum text) contribute no gradient — the
    // inner feats⋈labels join excludes them — while n counts every
    // label, so they damp the step size instead. This matches the
    // score/scoreText convention ("docs with zero grams carry no
    // score") and is pinned by the sequential-equivalence gate; true
    // full-batch LR would need a labels-left-join residual and would
    // change every downstream pinned model output for no quality win
    // on hashed text features.
    val ckpt = org.apache.spark.sql.graft.CheckpointBlocks
    val fl = feats.join(labels, idCol).localCheckpoint(true)
    val n = labels.count().toDouble
    var w = IndexedSeq.fill(dim)(0.0)
    var b = 0.0
    var it = 0
    while (it < iters) {
      // weights ride the plan as a dense array literal (dim-bounded,
      // the scoreText pattern) — a codegen'd element_at, not a Scala
      // UDF that would interpret per feature row
      val wArr = typedlit(w.toSeq)
      val look = (fid: Column) => element_at(wArr, (fid + 1).cast("int"))
      // per-doc residual r = r6(sigmoid(r6(Σ tf·w) + b) − y)
      val resid = fl.groupBy(col(idCol), col("y"))
        .agg(r6(sum(col("tf") * look(col("fid")))).as("m"))
        .select(col(idCol),
          r6(lit(1.0) / (lit(1.0) + exp(-(col("m") + lit(b)))) - col("y"))
            .as("r"))
      // per-feature gradient g_f = r6(Σ tf·r / n) and the bias gradient
      // r6(Σ r / n) in ONE action: the bias is the fid = −1 row of the
      // same agg (resid's exchange is identical in both legs, so Spark
      // reuses it). One job per iteration, not two — and the residual
      // subtree no longer re-executes for a one-number agg.
      val gradRows = fl.join(resid, idCol)
        .select(col("fid"), (col("tf") * col("r")).as("c"))
        .unionAll(resid.select(lit(-1L).as("fid"), col("r").as("c")))
        .groupBy("fid").agg(r6(sum(col("c")) / lit(n)).as("g"))
        .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
      val bg = gradRows.getOrElse(-1, 0.0)
      w = w.indices.map(f => r6d(w(f) - lr * gradRows.getOrElse(f, 0.0)))
      b = r6d(b - lr * bg)
      it += 1
    }
    ckpt.unpersist(fl)
    Model(w, b)
  }

  /** Model weights as a broadcastable (fid, w) frame for [[score]]. */
  def weightsFrame(spark: org.apache.spark.sql.SparkSession,
      model: Model): DataFrame = {
    import spark.implicits._
    model.weights.zipWithIndex
      .map { case (wv, f) => (f.toLong, wv) }.toDF("fid", "w")
  }
}
