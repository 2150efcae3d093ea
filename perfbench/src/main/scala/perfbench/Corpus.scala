package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One stored point of the serving collection. */
final case class Point(id: Long, vector: Array[Float], text: String,
    category: String, price: Double) {
  /** Raw user bytes: id + float32 vector + UTF-8 text/category + price. */
  def userBytes: Long = 8L + 4L * vector.length + text.length + category.length + 8L
}

final case class Edge(id: Long, src: Long, dst: Long)

/** Seeded generator for the serving workloads' collection and request
  * parameters: clustered vectors (cluster directions plus noise), texts of
  * 8-20 words drawn Zipf-style from a fixed vocabulary, a 4-value
  * category, a price, and a random directed edge set with no self-loops
  * or duplicates. The engine only ever sees the generated rows. */
final class Corpus(seed: Long, val nPoints: Int, val dim: Int, val nEdges: Int,
    val vocabSize: Int, nClusters: Int) {
  import Corpus._

  private val rnd = new SplittableRandom(seed)

  val centers: Array[Array[Float]] =
    Array.fill(nClusters)(normalize(Array.fill(dim)(rnd.nextDouble(-1, 1).toFloat)))

  val vocab: Array[String] = Array.tabulate(vocabSize)(i => s"w$i")
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** A query term: a mid-frequency word (Zipf ranks 10-199), so every
    * text query matches a similar share of the collection. */
  def queryWord(r: SplittableRandom): String =
    vocab(math.min(vocabSize - 1, 10 + r.nextInt(math.max(1, math.min(190, vocabSize - 10)))))

  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    vocab(math.min(vocabSize - 1, if (i >= 0) i else -i - 1))
  }

  def text(r: SplittableRandom): String =
    Seq.fill(8 + r.nextInt(13))(word(r)).mkString(" ")

  def vector(r: SplittableRandom): Array[Float] = {
    val c = centers(r.nextInt(nClusters))
    normalize(c.map(x => (x + 0.08 * r.nextGaussian()).toFloat))
  }

  def point(id: Long, r: SplittableRandom): Point =
    Point(id, vector(r), text(r), Categories(r.nextInt(Categories.length)),
      math.round(r.nextDouble(1, 1000) * 100) / 100.0 + 0.005)

  val points: Array[Point] = Array.tabulate(nPoints)(i => point(i.toLong, rnd))

  val edges: Array[Edge] = {
    val seen = new java.util.HashSet[(Long, Long)]()
    val out = Array.newBuilder[Edge]
    var id = 0L
    while (id < nEdges) {
      val s = rnd.nextInt(nPoints).toLong
      val d = rnd.nextInt(nPoints).toLong
      if (s != d && seen.add((s, d))) { out += Edge(id, s, d); id += 1 }
    }
    out.result()
  }
}

object Corpus {
  val Categories: Array[String] = Array("c0", "c1", "c2", "c3")
  val EdgeLabel = "link"

  val PointSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("vector", ArrayType(FloatType, containsNull = false)),
    StructField("text", StringType),
    StructField("category", StringType),
    StructField("price", DoubleType)))

  val EdgeSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("src", LongType),
    StructField("dst", LongType), StructField("label", StringType)))

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def pointsFrame(spark: SparkSession, ps: Seq[Point]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ps.map(p =>
        Row(p.id, p.vector.toSeq, p.text, p.category, p.price)), 4),
      PointSchema)

  def edgesFrame(spark: SparkSession, es: Seq[Edge]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(es.map(e =>
        Row(e.id, e.src, e.dst, EdgeLabel)), 4),
      EdgeSchema)

  /** Exact cosine top-k over `ps` as (id, score), best first. */
  def bruteTopK(ps: Iterable[Point], q: Array[Float], k: Int): Seq[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (x: (Long, Double), y: (Long, Double)) => java.lang.Double.compare(x._2, y._2))
    ps.foreach { p =>
      val s = cosine(q, p.vector)
      if (heap.size < k) heap.add((p.id, s))
      else if (s > heap.peek()._2) { heap.poll(); heap.add((p.id, s)) }
    }
    val out = Seq.newBuilder[(Long, Double)]
    while (!heap.isEmpty) out += heap.poll()
    out.result().reverse
  }

  /** BM25 tokenizer shape: lower-case alphanumeric runs. */
  def tokens(s: String): Set[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
}
