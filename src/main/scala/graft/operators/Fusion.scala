package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.CandidateLegs
import org.apache.spark.sql.types.StructField

/** The one ranked-merge kernel (SURVEY.md §2.8, F1–F4): the F1–F4 rows,
  * q124's ranked predictions, VelesQL hybrid and NEAR_FUSED
  * `rrf`/`weighted` rank and fuse their legs here, on the driver, as
  * VelesDB fuses in memory (text.rs:113-203, strategy.rs:224-250). A leg
  * is the ≤ K (id, score) rows of one score over a frame, collected when
  * the query is planned: the legs over one frame share ONE Spark job
  * ([[legs]]), and the fused list is a [[Ranked]] (id named as in the
  * first leg) that callers turn into a local relation or a payload
  * filter. So planning a fused query runs its leg jobs, as planning a
  * BM25 MATCH runs its stats job, and executing it runs no rank window,
  * no union and no aggregate. */
object Fusion {

  /** Each strategy's options and defaults; `hybrid` is text + vector RRF
    * with weights w and 1 − w (text.rs:133-162). */
  private val Defaults: Map[String, Map[String, Double]] = Map(
    "rrf" -> Map("k" -> 60.0),
    "hybrid" -> Map("k" -> 60.0, "vector_weight" -> 0.5),
    "weighted" -> Map("avg_weight" -> 0.5, "max_weight" -> 0.3, "hit_weight" -> 0.2),
    "average" -> Map.empty,
    "maximum" -> Map.empty)

  /** `given` checked against `strategy`'s options and completed with
    * its defaults, once per fused query. An unknown strategy or option, a
    * non-finite or negative `k` (k = −1 divides rank 1 by zero), a
    * `vector_weight` outside [0, 1] and weights that are negative or do
    * not sum to 1 ± 0.001 (strategy.rs:95-122) throw. */
  def options(strategy: String, given: Map[String, Double]): Map[String, Double] = {
    def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)
    val defaults = Defaults.getOrElse(strategy, bad(s"unknown fusion strategy '$strategy'"))
    given.keys.toSeq.sorted.find(!defaults.contains(_)).foreach(k => bad(s"unknown " +
      s"$strategy fusion option '$k' (supported: ${defaults.keys.mkString("{", ", ", "}")})"))
    val p = defaults ++ given
    p.get("k").filterNot(k => k >= 0 && !k.isInfinite)
      .foreach(k => bad(s"fusion k must be a finite number >= 0, got $k"))
    p.get("vector_weight").filterNot(w => w >= 0 && w <= 1)
      .foreach(w => bad(s"vector_weight must be in [0, 1], got $w"))
    val ws = Seq("avg_weight", "max_weight", "hit_weight").flatMap(p.get)
    if (ws.nonEmpty && (ws.exists(w => !(w >= 0)) || math.abs(ws.sum - 1.0) > 0.001))
      bad("weighted fusion weights must be >= 0 and sum to 1, got " +
        s"avg_weight=${ws(0)}, max_weight=${ws(1)}, hit_weight=${ws(2)}")
    p
  }

  /** A ranked candidate list: (id, `score`) rows, best first, the ids in
    * Spark's internal form; `id` names and types them. A leg is the top K
    * rows of a frame by one score ([[legs]]); a fused list is the merge of
    * legs (best = score descending, ties by id). */
  final case class Ranked(id: StructField, rows: CandidateLegs.Rows) {
    /** The list as a local relation (id, `score`). */
    def toDF(spark: SparkSession): DataFrame = CandidateLegs.frame(spark, id, rows)
    /** The ids as Scala values, best first. */
    def ids: Seq[Any] = CandidateLegs.external(id.dataType, rows.map(_._1))
    def take(n: Int): Ranked = copy(rows = rows.take(n))
  }

  /** The top `k` rows of `df` by each `(score, higherIsBetter)`, ties by
    * ascending id: one [[Ranked]] leg per score, ALL from one Spark job
    * over one scan of `df` ([[CandidateLegs.topK]]). A row whose score is
    * null ranks in no leg. */
  def legs(df: DataFrame, id: Column, scores: Seq[(Column, Boolean)], k: Int): Seq[Ranked] = {
    val (f, ranked) = CandidateLegs.topK(df, id, scores, k)
    ranked.map(Ranked(f, _))
  }

  /** One leg: the top `k` rows of `df` by `score`. */
  def leg(df: DataFrame, id: Column, score: Column, k: Int,
      higherIsBetter: Boolean = true): Ranked =
    legs(df, id, Seq(score -> higherIsBetter), k).head

  /** The rows of `df` whose `id` is a `fused` id, each with its fused
    * `score`: an `id IN (…)` filter and a literal score lookup over one
    * scan of `df`, no join. */
  def payload(df: DataFrame, id: Column, fused: Ranked): DataFrame =
    CandidateLegs.payload(df, id, fused.id.dataType, fused.rows)

  /** F1 RRF (strategy.rs:224-250): Σ w / (k + rank) over the legs a row
    * appears in, each leg with its weight w; rank is 1-based. */
  def rrf(ranked: Seq[(Ranked, Double)], k: Double): Ranked =
    fuse(ranked.map(_._1))(_.foldLeft(0.0) { case (s, (leg, rank, _)) =>
      s + ranked(leg)._2 / (k + rank) })

  /** F2: the mean / the max score over the legs a row appears in
    * (strategy.rs:170-221). */
  def average(legs: Seq[Ranked]): Ranked = fuse(legs)(mean)
  def maximum(legs: Seq[Ranked]): Ranked = fuse(legs)(top)

  /** F3 (strategy.rs:67-78): aw × mean + mw × max + hw × legs holding the
    * row / legs. */
  def weighted(legs: Seq[Ranked], aw: Double, mw: Double, hw: Double): Ranked =
    fuse(legs)(p => aw * mean(p) + mw * top(p) + hw * (p.size.toDouble / legs.size))

  /** (leg index, 1-based rank, score) of each appearance of one id. */
  private type Parts = Seq[(Int, Int, Double)]

  /** Spark's `avg`: a 0.0-seeded sum over the count. */
  private def mean(p: Parts): Double = p.foldLeft(0.0)(_ + _._3) / p.size

  /** Spark's `max` over doubles: NaN is greatest, −0.0 equals 0.0 and the
    * first of equal values stays. */
  private def top(p: Parts): Double = p.map(_._3).reduce { (m, x) =>
    if (x != m && java.lang.Double.compare(x, m) > 0) x else m }

  /** Groups every leg row by id — duplicate rows of a leg count twice, as
    * under `unionAll` + `groupBy` — scores each group with `score` and
    * ranks the result best first. */
  private def fuse(legs: Seq[Ranked])(score: Parts => Double): Ranked = {
    require(legs.nonEmpty, "fusion needs at least one leg")
    val idType = legs.head.id.dataType
    legs.foreach(l => require(l.id.dataType == idType,
      s"fused legs disagree on the id type: ${l.id.dataType} vs $idType"))
    val byId = scala.collection.mutable.LinkedHashMap.empty[Any, List[(Int, Int, Double)]]
    for ((l, li) <- legs.zipWithIndex; ((id, s), r) <- l.rows.zipWithIndex)
      byId(id) = (li, r + 1, s) :: byId.getOrElse(id, Nil)
    Ranked(legs.head.id, CandidateLegs.best(idType,
      byId.iterator.map { case (id, ps) => id -> score(ps.reverse) }.toSeq))
  }
}
