package graft.queries

import graft.QueryDef
import graft.operators.Clustering
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic-clustering tier pins (operators.Clustering): deterministic
  * k-means, SemDeDup, and prototype-distance pruning, each replayed
  * value-level by an unrolled DuckDB CTE chain (the q149-pagerank
  * oracle shape — fixed iterations unroll to CTEs).
  *
  * Why these hash-match across engines: see the Clustering scaladoc —
  * seeds verbatim, centroids rounded 6 dp per update, assignment on the
  * ROUNDED distance key with cid tie-break. Measured at sf0.01 the
  * smallest best-vs-second-best rounded-key margin is 3 (×1e-6), so the
  * two engines' last-bit float differences cannot flip a label. */
object ClusteringQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.table(s, dir, name)

  private val K = 8
  private val Iters = 3
  private val Dim = 64

  /** The fitted k-means model for the embeddings table — train once /
    * reuse everywhere: q161/q162/q163/q168 all consume the SAME model,
    * exactly as a pipeline persists one model artifact. Two cache
    * layers: the k×dim centroid table is PERSISTED as a parquet
    * artifact stamped on the corpus (so a fresh JVM — the next verify
    * or bench process — reads k rows instead of re-running the
    * distributed fit), and the collected value is memoized per JVM so
    * repeated query compiles don't re-read it. Both invalidate together
    * when the embeddings parquet changes. */
  private def fitted(s: SparkSession, d: String): Clustering.Centroids =
    graft.Materialize.memo(s"kmeans${K}x${Iters}_embeddings", d,
      Seq(java.nio.file.Paths.get(s"$d/embeddings.parquet"))) {
      import s.implicits._
      val model = graft.Materialize(s, d, s"kmeans${K}x${Iters}_model_embeddings",
        Seq("embeddings"), None) {
        Clustering.fit(t(s, d, "embeddings"), "embedding", "vec_id", K, Iters)
          .map { case (cid, c) => (cid, c.toArray) }.toDF("cid", "c")
      }
      model.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
        .sortBy(_._1).toSeq
    }

  /** Unrolled Lloyd's chain ending in `af(vec_id, cid, rd)` — the final
    * assignment with its rounded distance key. Mirrors Clustering.fit +
    * nearestStruct exactly: c0 = k smallest-id vectors, each a_i uses
    * c_{i-1}, each c_i is the 6-dp-rounded per-dim mean over a_i. */
  private def kmeansChain(k: Int = K, iters: Int = Iters,
      dim: Int = Dim): String = {
    val sb = new StringBuilder(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
         |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k))""".stripMargin)
    for (i <- 1 until iters) {
      sb ++= s""",
                |a$i AS (SELECT vec_id, cid FROM (
                |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
                |    ORDER BY floor(list_distance(e.v, c.c) * 1000000 + 0.5), c.cid) AS rn
                |  FROM e CROSS JOIN c${i - 1} c) WHERE rn = 1),
                |c$i AS (SELECT cid, list(m ORDER BY p) AS c FROM (
                |  SELECT a.cid, g.i AS p, floor(avg(e.v[g.i]) * 1000000 + 0.5) / 1000000.0 AS m
                |  FROM a$i a JOIN e USING (vec_id), generate_series(1, $dim) AS g(i)
                |  GROUP BY a.cid, g.i) GROUP BY cid)""".stripMargin
    }
    sb ++= s""",
              |af AS (SELECT vec_id, cid, rd FROM (
              |  SELECT e.vec_id, c.cid, floor(list_distance(e.v, c.c) * 1000000 + 0.5) AS rd,
              |    row_number() OVER (PARTITION BY e.vec_id
              |      ORDER BY floor(list_distance(e.v, c.c) * 1000000 + 0.5), c.cid) AS rn
              |  FROM e CROSS JOIN c${iters - 1} c) WHERE rn = 1)""".stripMargin
    sb.toString
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- Deterministic Lloyd's k-means over the embeddings table:
    // every vector's final cluster label, bit-matched vs the unrolled
    // DuckDB replay. At sf0.01: 8 balanced clusters (53-71 members).
    QueryDef(
      "q161_kmeans",
      s"""WITH ${kmeansChain()}
         |SELECT vec_id, cid FROM af ORDER BY vec_id""".stripMargin) { (s, d) =>
      Clustering.kmeans(t(s, d, "embeddings"), "embedding", "vec_id",
          k = K, iters = Iters, model = Some(fitted(s, d)))
        .orderBy("vec_id")
    },

    // ---- SemDeDup (Abbas et al. 2023): within-cluster cosine >= 0.4
    // drops every row with a smaller-id semantic twin in its cluster.
    // The cosine itself reuses the q70-proven parity pair
    // (VectorFunctions.cosine_sim ≡ list_cosine_similarity on DOUBLE[]).
    QueryDef(
      "q162_semdedup",
      s"""WITH ${kmeansChain()},
         |dup AS (SELECT DISTINCT y.vec_id AS b
         |  FROM af x JOIN af y ON x.cid = y.cid AND x.vec_id < y.vec_id
         |  JOIN e ex ON ex.vec_id = x.vec_id
         |  JOIN e ey ON ey.vec_id = y.vec_id
         |  WHERE list_cosine_similarity(ex.v, ey.v) >= 0.4)
         |SELECT af.vec_id, af.cid, (dup.b IS NULL) AS keep
         |FROM af LEFT JOIN dup ON dup.b = af.vec_id
         |ORDER BY af.vec_id""".stripMargin) { (s, d) =>
      Clustering.semDedup(t(s, d, "embeddings"), "embedding", "vec_id",
          k = K, iters = Iters, threshold = 0.4, model = Some(fitted(s, d)))
        .orderBy("vec_id")
    },

    // ---- Prototype-distance pruning (Sorscher et al. 2022): keep the
    // nearest 80% of every cluster, rank = rounded own-centroid
    // distance with id tie-break. rank is BIGINT on both sides
    // (row_number parity trap); the rank/n <= 0.8 comparison is the
    // same IEEE division in both engines.
    QueryDef(
      "q163_prototype_prune",
      s"""WITH ${kmeansChain()},
         |r AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY cid ORDER BY rd, vec_id) AS rank,
         |    count(*) OVER (PARTITION BY cid) AS n FROM af)
         |SELECT vec_id, cid, rank, (CAST(rank AS DOUBLE) / n <= 0.8) AS kept
         |FROM r ORDER BY vec_id""".stripMargin) { (s, d) =>
      Clustering.prototypicalityPrune(t(s, d, "embeddings"), "embedding",
          "vec_id", k = K, iters = Iters, keepFraction = 0.8,
          model = Some(fitted(s, d)))
        .orderBy("vec_id")
    },

    // ---- Simplified (centroid-based) silhouette per cluster — the
    // fit-quality report closing the fit → evaluate → prune loop. The
    // oracle extends the unrolled k-means chain with a distance cross
    // join against the FINAL centroid table; per-point math is raw
    // doubles, only the per-cluster mean rounds (6 dp), so ulp-level
    // engine differences vanish in the rounding.
    QueryDef(
      "q168_silhouette",
      s"""WITH ${kmeansChain()},
         |dall AS (SELECT e.vec_id, c.cid, list_distance(e.v, c.c) AS d
         |         FROM e CROSS JOIN c${Iters - 1} c),
         |ab AS (SELECT a.vec_id, a.cid,
         |    max(CASE WHEN d.cid = a.cid THEN d.d END) AS a,
         |    min(CASE WHEN d.cid <> a.cid THEN d.d END) AS b
         |  FROM af a JOIN dall d USING (vec_id) GROUP BY 1, 2),
         |s AS (SELECT cid,
         |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
         |         ELSE 0 END AS s
         |  FROM ab)
         |SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |  floor(avg(s) * 1000000.0 + 0.5) / 1000000.0 AS silhouette
         |FROM s GROUP BY cid ORDER BY cid""".stripMargin) { (s, d) =>
      Clustering.silhouetteByCluster(t(s, d, "embeddings"), "embedding",
          "vec_id", k = K, iters = Iters, model = Some(fitted(s, d)))
        .orderBy("cid")
    },

    // ---- Hard-negative mining (Knn.hardNegatives): for 10 anchors,
    // the 5 most-similar corpus vectors with a DIFFERENT label — the
    // contrastive-training negative-sampling step. Oracle ranks
    // globally (two-phase salted top-k ≡ global top-k by construction).
    QueryDef(
      "q169_hard_negatives",
      """WITH an AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
        |            label AS qlbl FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT an.qid, e.vec_id AS tid, e.label,
        |    CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), an.qv)
        |      * 1000000.0 + 0.5) AS BIGINT) AS rs
        |  FROM embeddings e CROSS JOIN an
        |  WHERE e.label <> an.qlbl AND e.vec_id <> an.qid)
        |SELECT qid AS vec_id, tid AS neg_id, label AS neg_label, rank
        |FROM (SELECT qid, tid, label,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY rs DESC, tid)
        |      AS BIGINT) AS rank
        |  FROM sc) WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.operators.Knn.hardNegatives(emb, emb.where(col("vec_id") < 10),
          "embedding", "label", "vec_id", k = 5)
        .orderBy("vec_id", "rank")
    },

    // ---- Streaming predict (lifecycle pin): a model fit in batch
    // labels a STREAM of vectors micro-batch by micro-batch — predict
    // is a stateless map, so append mode needs no watermark, no state
    // store, no shuffle — and every streamed label must equal the batch
    // label. The train-once/score-forever split is the production
    // serving shape; the pin proves the same model object drives both.
    QueryDef.lifecyclePin("q165_streaming_predict",
      "SELECT CAST(1 AS INT) AS predict_ok") { (s, d) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        .where(col("vec_id") < 100)
      val model = Clustering.fit(emb, "embedding", "vec_id", k = 4, iters = 2)
      val batchLabels = Clustering.predict(emb, "embedding", model)
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val mem = MemoryStream[(Long, Seq[Float])]
      val qn = s"q165_predict_${System.nanoTime()}"
      val q = Clustering.predict(
          mem.toDF().toDF("vec_id", "embedding"), "embedding", model)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      val ok = try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        mem.addData(b1.toSeq: _*)
        q.processAllAvailable()
        mem.addData(b2.toSeq: _*)
        q.processAllAvailable()
        val got = s.table(qn).select("vec_id", "cid").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        got == batchLabels && got.nonEmpty
      } finally { q.stop(); s.catalog.dropTempView(qn) }
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("predict_ok"))
    },

    // ---- k-NN classification (Knn.classify): 20 held-out vectors get
    // the majority label of their 10 nearest train vectors (rounded-key
    // ranking + id tie-break; vote ties to the smallest label). The
    // oracle ranks globally — identical by construction to the
    // operator's two-phase salted top-k (global top-k = top-k of
    // per-salt top-k). Cosine parity pair = the q70-proven
    // list_cosine_similarity(CAST DOUBLE[]) vs the codegen kernel.
    QueryDef(
      "q166_knn_classify",
      """WITH te AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |            FROM embeddings WHERE vec_id < 20),
        |tr AS (SELECT vec_id AS tid, label, CAST(embedding AS DOUBLE[]) AS tv
        |       FROM embeddings WHERE vec_id >= 20),
        |sc AS (SELECT qid, tid, label,
        |    CAST(floor(list_cosine_similarity(tv, qv) * 1000000 + 0.5) AS BIGINT) AS rs
        |  FROM tr CROSS JOIN te),
        |top AS (SELECT qid, label FROM (
        |    SELECT qid, label,
        |      row_number() OVER (PARTITION BY qid ORDER BY rs DESC, tid) AS rk
        |    FROM sc) WHERE rk <= 10),
        |votes AS (SELECT qid, label, count(*) AS votes FROM top GROUP BY 1, 2)
        |SELECT qid AS vec_id, label AS pred_label, votes FROM (
        |  SELECT qid, label, votes,
        |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS vr
        |  FROM votes) WHERE vr = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      graft.operators.Knn.classify(
          emb.where(col("vec_id") >= 20), emb.where(col("vec_id") < 20),
          "embedding", "label", "vec_id", k = 10)
        .orderBy("vec_id")
    }
  )
}
