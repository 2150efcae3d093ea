package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact vector search operators (SURVEY.md §2.3).
  *
  * Reference: `vector NEAR $v LIMIT k` (grammar.pest:169-171, exec
  * collection/search/vector.rs:18-59) and `similarity(field,$v) OP t`
  * threshold filters with metric-direction inversion
  * (query/mod.rs:163-230, 396-417).
  *
  * Spark shape: score column + `orderBy(score).limit(k)` — Catalyst
  * compiles this to `TakeOrderedAndProject`, a per-partition size-k heap
  * + driver merge: no global sort, no full shuffle, scales linearly with
  * executors. The reference's over-fetch heuristics (4×/10×) are
  * unnecessary: we filter BEFORE the top-k, so results are exact.
  */
object Knn {

  /** Score every row against `query` under `metric`; appends `score`. */
  def scored(df: DataFrame, vecCol: String, query: Seq[Float], metric: String): DataFrame = {
    val (fn, _) = VectorFunctions.metrics(metric)
    df.withColumn("score", fn(col(vecCol), VectorFunctions.vecLit(query)))
  }

  /** Exact top-k by metric direction, deterministic tie-break on `idCol`.
    * A row without a vector has no score and never ranks. */
  def topK(df: DataFrame, vecCol: String, query: Seq[Float], k: Int,
      metric: String = "cosine", idCol: String = "id",
      filter: Option[Column] = None): DataFrame = {
    val (_, higherIsBetter) = VectorFunctions.metrics(metric)
    val base = filter.map(df.where).getOrElse(df).where(col(vecCol).isNotNull)
    val s = scored(base, vecCol, query, metric)
    val ord = if (higherIsBetter) col("score").desc else col("score").asc
    s.orderBy(ord, col(idCol).asc).limit(k)
  }

  /** V10: batch search — one exact top-k leg per (query, optional
    * per-query filter) pair (collection/search/batch.rs:26-128: each
    * BatchQuery carries its own filter). Legs are independent
    * filter→TakeOrderedAndProject passes over the same frame, unioned
    * with a `query_id` — one distributed plan, no driver loop. */
  def batch(df: DataFrame, vecCol: String,
      queries: Seq[(Seq[Float], Option[Column])], k: Int,
      metric: String = "cosine", idCol: String = "id"): DataFrame =
    if (queries.isEmpty)
      // an empty batch is an empty result frame, not reduce-on-empty
      df.select(lit(0).as("query_id"), col(idCol), lit(0.0).as("score"))
        .limit(0)
    else queries.zipWithIndex.map { case ((q, f), i) =>
      topK(df, vecCol, q, k, metric, idCol, f)
        .select(lit(i).as("query_id"), col(idCol), col("score"))
    }.reduce(_ unionAll _)

  /** `similarity(field,$v) OP t` threshold filter. For distance metrics the
    * reference inverts the comparison (`similarity > t` ≡ `distance < t`,
    * query/mod.rs:396-417) — callers pass similarity-space semantics. */
  def thresholdFilter(df: DataFrame, vecCol: String, query: Seq[Float],
      threshold: Double, metric: String = "cosine",
      op: String = ">"): DataFrame = {
    val (_, higherIsBetter) = VectorFunctions.metrics(metric)
    val s = scored(df, vecCol, query, metric)
    val effOp = if (higherIsBetter) op else op match {
      case ">" => "<"
      case ">=" => "<="
      case "<" => ">"
      case "<=" => ">="
      case other => other
    }
    val cond = effOp match {
      case ">" => col("score") > threshold
      case ">=" => col("score") >= threshold
      case "<" => col("score") < threshold
      case "<=" => col("score") <= threshold
      case "=" => col("score") === threshold
      case "!=" => col("score") =!= threshold
    }
    s.where(cond)
  }

  /** k-NN classification — batch scoring with a labeled corpus: each
    * test row's prediction is the majority label of its `k` nearest
    * train rows (vote ties break to the smallest label, the scikit
    * convention). Beyond-reference pipeline tier: similarity search as
    * a classifier (weak labeling / nearest-neighbor eval harness).
    *
    * Scale shape: the TEST batch broadcasts (queries are the small
    * side); ONE pass over train scores |train|×|test| candidates, and
    * the top-k runs two-phase — phase 1 ranks inside (salt, query)
    * groups so each query's candidate stream spreads over `fanout`
    * reducers instead of one, phase 2 ranks only the k×fanout
    * survivors. Global top-k = top-k of per-salt top-k, exactly.
    *
    * Determinism (oracle parity): ranking uses the 6-dp-rounded score
    * as a BIGINT key with train-id tie-break — see the Clustering
    * scaladoc for why rounded keys make cross-engine rank stable. */
  def classify(train: DataFrame, test: DataFrame, vecCol: String,
      labelCol: String, idCol: String, k: Int,
      metric: String = "cosine", fanout: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (fn, higherIsBetter) = VectorFunctions.metrics(metric)
    val q = broadcast(test.select(col(idCol).as("__qid"), col(vecCol).as("__qv")))
    val raw = fn(col(vecCol), col("__qv"))
    val rounded = floor(raw * lit(1000000L) + lit(0.5)).cast("long")
    // distance metrics rank ascending — negate once so both directions
    // share the same descending window
    val rs = if (higherIsBetter) rounded else -rounded
    val scored = train.crossJoin(q)
      .select(col("__qid"), col(idCol).as("__tid"),
        col(labelCol).as("__lbl"), rs.as("__rs"))
    val w1 = Window.partitionBy(col("__salt"), col("__qid"))
      .orderBy(col("__rs").desc, col("__tid"))
    val w2 = Window.partitionBy(col("__qid"))
      .orderBy(col("__rs").desc, col("__tid"))
    val top = scored
      .withColumn("__salt", pmod(xxhash64(col("__tid")), lit(fanout)))
      .withColumn("__r1", row_number().over(w1)).where(col("__r1") <= k)
      .withColumn("__rk", row_number().over(w2)).where(col("__rk") <= k)
    val votes = top.groupBy(col("__qid"), col("__lbl"))
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy("__qid").orderBy(col("votes").desc, col("__lbl"))
    votes.withColumn("__vr", row_number().over(wv)).where(col("__vr") === 1)
      .select(col("__qid").as(idCol), col("__lbl").as("pred_label"),
        col("votes"))
  }

  /** Hard-negative mining — the negative-sampling step of contrastive
    * embedding training (DPR/SBERT shape): for each ANCHOR, the `k`
    * corpus rows most similar to it that carry a DIFFERENT label
    * (same-label rows are positives; the high-similarity different-label
    * rows are the hard negatives a trainer wants). Returns
    * `(idCol, neg_id, neg_label, rank)` per anchor.
    *
    * Scale shape: identical to [[classify]] — anchors broadcast, one
    * scoring pass over the corpus, two-phase salted top-k; the label
    * inequality is a map-side filter before any ranking. Rounded-key
    * ordering with id tie-break for cross-engine rank stability. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, vecCol: String,
      labelCol: String, idCol: String, k: Int,
      fanout: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(anchors.select(col(idCol).as("__qid"),
      col(vecCol).as("__qv"), col(labelCol).as("__qlbl")))
    val rs = floor(VectorFunctions.cosine_sim(col(vecCol), col("__qv"))
      * lit(1000000.0) + lit(0.5)).cast("long")
    val scored = corpus.crossJoin(q)
      .where(col(labelCol) =!= col("__qlbl") && col(idCol) =!= col("__qid"))
      .select(col("__qid"), col(idCol).as("__tid"),
        col(labelCol).as("__lbl"), rs.as("__rs"))
    val w1 = Window.partitionBy(col("__salt"), col("__qid"))
      .orderBy(col("__rs").desc, col("__tid"))
    val w2 = Window.partitionBy(col("__qid"))
      .orderBy(col("__rs").desc, col("__tid"))
    scored
      .withColumn("__salt", pmod(xxhash64(col("__tid")), lit(fanout)))
      .withColumn("__r1", row_number().over(w1)).where(col("__r1") <= k)
      .withColumn("rank", row_number().over(w2)).where(col("rank") <= k)
      .select(col("__qid").as(idCol), col("__tid").as("neg_id"),
        col("__lbl").as("neg_label"), col("rank").cast("long").as("rank"))
  }

  /** MMR — maximal marginal relevance (Carbonell & Goldstein 1998)
    * diversified top-k, the RAG retrieval step that trades relevance
    * against redundancy: greedily pick argmax of
    * `λ·sim(c, query) − (1−λ)·max_{s∈selected} sim(c, s)`.
    *
    * Scale shape: phase 1 is the DISTRIBUTED exact top-`candN`
    * (TakeOrderedAndProject — per-partition heap, no shuffle of scored
    * rows); the greedy loop then runs driver-side over those ≤candN
    * rows — the same top-k-sized collect every RAG stack performs at
    * serialization, NOT a corpus collect. O(k·candN) driver work.
    *
    * Determinism (oracle parity): every similarity is 6-dp-rounded
    * before use, the greedy key is the rounded combined score as a
    * BIGINT with id tie-break, and λ enters as a double (`1 − λ`
    * computed in IEEE, matching a `CAST(λ AS DOUBLE)` oracle — the
    * q149 damping-constant lesson). Cosine only: MMR needs one
    * similarity space for both legs. Ids must be integral (`getLong`). */
  def mmr(df: DataFrame, vecCol: String, query: Seq[Float], k: Int,
      lambda: Double, candN: Int, idCol: String = "id"): DataFrame = {
    require(k >= 1 && candN >= k, "mmr needs k >= 1 and candN >= k")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val rel6 = floor(VectorFunctions.cosine_sim(col(vecCol),
      VectorFunctions.vecLit(query)) * lit(1000000.0) + lit(0.5)).cast("long")
    val cands = df.select(col(idCol), col(vecCol), rel6.as("__rel6"))
      .orderBy(col("__rel6").desc, col(idCol).asc).limit(candN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getLong(2) / 1e6))
    var remaining = cands.toList
    val selected = scala.collection.mutable.ListBuffer.empty[(Long, Array[Float])]
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Double)]
    for (step <- 1 to math.min(k, cands.length)) {
      val best = remaining.map { case (id, v, rel) =>
        val div =
          if (selected.isEmpty) 0.0
          else selected.map(s =>
            r6(graft.functions.VectorKernels.cosine(v, s._2))).max
        val key = math.floor(
          (lambda * rel - (1 - lambda) * div) * 1e6 + 0.5).toLong
        (key, id, v)
      }.minBy { case (key, id, _) => (-key, id) }
      selected += ((best._2, best._3))
      out += ((best._2, step.toLong, best._1 / 1e6))
      remaining = remaining.filterNot(_._1 == best._2)
    }
    out.toSeq.toDF(idCol, "rank", "mmr_score")
  }
}
