package graft

import graft.functions.VectorFunctions
import graft.operators.{Ann, Knn, Quantization}
import org.apache.spark.sql.functions._

/** ANN + quantized search recall vs the exact oracle (SURVEY.md §5.2:
  * recall@10 ≥ 0.95 against brute force — the reference's own bar,
  * docs/BENCHMARKS.md:102). */
class AnnSpec extends SparkSpecBase {

  private val q = VectorFunctions.syntheticQuery(64)
  private lazy val emb = Tables.table(spark, sfDir, "embeddings")
  private lazy val exactTop10: Set[Long] =
    Knn.topK(emb, "embedding", q, 10, "cosine", idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet

  test("LSH recall grows monotonically with probe radius (the ef knob)") {
    // Mirrors the reference's ef→recall profile (Fast 34-92% … Perfect
    // 100%, docs/BENCHMARKS.md:96-99 / benchmarks/README.md:9-15): on
    // uniform-random vectors low radii trade recall for probe count,
    // and full radius is exact by construction.
    val nPlanes = 6
    val index = Ann.buildIndex(emb, "embedding", nPlanes)
    val recalls = (1 to nPlanes).map { r =>
      val got = Ann.search(index, "embedding", q, 10, nPlanes, radius = r,
          metric = "cosine", idCol = "vec_id")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (got & exactTop10).size / 10.0
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone: $recalls")
    assert(recalls.last == 1.0, s"full radius must be exact: $recalls")
    assert(recalls(2) >= 0.6, s"radius-3 recall too low: $recalls")
  }

  test("LSH with full probe radius recovers exact search") {
    val nPlanes = 6
    val index = Ann.buildIndex(emb, "embedding", nPlanes)
    val got = Ann.search(index, "embedding", q, 10, nPlanes, radius = nPlanes,
        metric = "cosine", idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == exactTop10)
  }

  test("LSH signature is deterministic and bucket-stable") {
    val planes = Ann.planes(6, 64)
    val sig1 = Ann.signature(q.toArray, planes)
    val sig2 = Ann.signature(q.toArray, Ann.planes(6, 64))
    assert(sig1 == sig2)
    // index assigns the same signature the kernel computes
    val index = Ann.buildIndex(emb, "embedding", 6)
    val row = index.select("vec_id", "embedding", "bucket").first()
    val v = row.getSeq[Float](1).toArray
    assert(row.getLong(2) == Ann.signature(v, planes))
  }

  test("binary-sketch two-phase search reaches recall@10 >= 0.9 at 8x oversampling") {
    val sk = Quantization.withBinarySketch(emb, "embedding", 64)
    val got = Quantization.search(sk, "embedding", q, 10, oversampling = 8,
        metric = "cosine", idCol = "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got & exactTop10).size / 10.0
    assert(recall >= 0.9, s"recall $recall")
  }

  test("IVF: recall grows with nprobe; full probe is exact; assignment is nearest-centroid") {
    import graft.operators.Ivf
    val k = 8
    val centroids = Ivf.trainCentroids(emb, "embedding", k, iters = 3)
    assert(centroids.length == k)
    val index = Ivf.buildIndex(emb, "embedding", centroids).cache()
    // every vector sits in its nearest centroid's cell
    val sample = index.select("embedding", "cell").limit(20).collect()
    sample.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      val best = centroids.minBy { case (c, cen) =>
        (graft.functions.VectorKernels.l2Squared(v, cen), c) }._1
      assert(r.getInt(1) == best)
    }
    val recalls = Seq(1, 4, 8).map { np =>
      val got = Ivf.search(index, "embedding", q, 10, centroids, np,
          metric = "cosine", idCol = "vec_id")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (got & exactTop10).size / 10.0
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone in nprobe: $recalls")
    assert(recalls.last == 1.0, s"nprobe=k must be exact: $recalls")
  }

  test("Ivf.probeCells: nearest cells first, ties by cell id, capped at every cell") {
    import graft.operators.Ivf
    // cells 2 and 0 sit at the same distance from the query, 1 further
    val cents = Array(2 -> Array(1f, 0f), 1 -> Array(3f, 0f), 0 -> Array(-1f, 0f))
    val q = Array(0f, 0f)
    assert(Ivf.probeCells(cents, q, 1) == Seq(0))
    assert(Ivf.probeCells(cents, q, 2) == Seq(0, 2))
    assert(Ivf.probeCells(cents, q, 3) == Seq(0, 2, 1))
    assert(Ivf.probeCells(cents, q, 9) == Seq(0, 2, 1))
  }

  test("sketch packing matches the kernel sketch") {
    val sk = Quantization.withBinarySketch(emb, "embedding", 64)
    sk.select("embedding", "sketch").limit(20).collect().foreach { r =>
      val v = r.getSeq[Float](0)
      assert(r.getLong(1) == Quantization.sketchOf(v))
    }
  }
}
