package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one ranked-merge kernel (SURVEY.md §2.8, F1–F4): the F1–F4 rows,
  * VelesQL hybrid and NEAR_FUSED `rrf`/`weighted` fuse their legs here,
  * as one lazy `unionAll` + `groupBy(id)` (planning runs no Spark job).
  * A leg is an (id, `score`) frame cut to its top K rows ([[leg]],
  * `Knn.topK`, `Bm25.searchIndex`), its id first under any name. A fused
  * frame is (id, `score`), the id named as in the first leg. */
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

  /** The top `k` rows of `df` by `score` (descending when
    * `higherIsBetter`), ties by ascending id: one TakeOrderedAndProject. */
  def leg(df: DataFrame, id: Column, score: Column, k: Int,
      higherIsBetter: Boolean = true): DataFrame = {
    val l = df.select(id, score.as("score"))
    l.orderBy(order(higherIsBetter), col(l.columns.head)).limit(k)
  }

  /** (id, `rank`): each leg row's 1-based rank by score, ties by id. The
    * window key `pmod(hash(id), 1)` is 0 for every row but not foldable,
    * so the partition spec survives (`lit(0)` folds into an unpartitioned
    * global window); over a leg's K rows one partition costs nothing. */
  def rank(leg: DataFrame, higherIsBetter: Boolean = true): DataFrame = {
    val id = col(leg.columns.head)
    leg.select(id, row_number().over(Window.partitionBy(pmod(hash(id), lit(1)))
      .orderBy(order(higherIsBetter), id)).as("rank"))
  }

  /** F1 RRF (strategy.rs:224-250): Σ w / (k + rank) over the ranked legs
    * a row appears in, each leg with its weight w. */
  def rrf(ranked: Seq[(DataFrame, Double)], k: Double): DataFrame =
    fuse(ranked.map { case (r, w) =>
      r.select(col(r.columns.head), col("rank"), lit(w).as("w"))
    })(sum(col("w") / (lit(k) + col("rank"))))

  /** F2: the mean / the max score over the legs a row appears in
    * (strategy.rs:170-221). */
  def average(legs: Seq[DataFrame]): DataFrame = fuse(legs)(avg(col("score")))
  def maximum(legs: Seq[DataFrame]): DataFrame = fuse(legs)(max(col("score")))

  /** F3 (strategy.rs:67-78): aw × mean + mw × max + hw × legs holding the
    * row / legs. */
  def weighted(legs: Seq[DataFrame], aw: Double, mw: Double, hw: Double): DataFrame =
    fuse(legs)(lit(aw) * avg(col("score")) + lit(mw) * max(col("score"))
      + lit(hw) * (count(lit(1)) / lit(legs.size.toDouble)))

  private def order(higherIsBetter: Boolean): Column =
    if (higherIsBetter) col("score").desc else col("score").asc

  private def fuse(legs: Seq[DataFrame])(score: Column): DataFrame =
    legs.reduce(_ unionAll _).groupBy(legs.head.columns.head).agg(score.as("score"))
}
