package graft.operators

import graft.functions.TextKernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bm25Score, Bridge}

/** BM25 full-text scoring (SURVEY.md §2.9 T1).
  *
  * Parity with the reference (index/bm25.rs): tokenizer = lowercase,
  * split on non-alphanumeric, drop tokens of length ≤ 1 (bm25.rs:114-120);
  * k1 = 1.2, b = 0.75 (bm25.rs:45-58); idf = ln((N − df + 0.5)/(df + 0.5)
  * + 1) (bm25.rs:294-305). All math in f64. N and avgdl count only docs
  * with at least one token.
  *
  * One shape for every frame — dataset tables, the corpus view and user
  * collections alike ([[scoreColumns]], [[score]]): one aggregate job
  * folds (N, Σ dlen, df per query term) per partition and sums the
  * partials on the driver — no shuffle. The stats ride a per-row score
  * kernel over the row's own text (`Bm25Score`, one tokenizing pass, no
  * token array), so a ranked top-k is one scan plus
  * TakeOrderedAndProject: no shuffle, no join back for the payload, and
  * no index artifact to build or keep fresh.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Distinct query terms under the reference tokenizer. */
  def queryTerms(queryText: String): Seq[String] =
    queryText.toLowerCase.split("[^a-z0-9]+").filter(_.length > 1).toSeq.distinct

  /** Whether a row's text holds any of `terms` (MATCH membership): its
    * BM25 score is positive, as in [[scoreColumns]]. Any positive stats
    * make every held term add a positive score and no other term add
    * anything, so unit stats decide membership without a corpus job. An
    * empty term set matches nothing. */
  def matches(text: Column, terms: Seq[String]): Column =
    if (terms.isEmpty) lit(false)
    else Bridge.column(Bm25Score(Bridge.expression(lower(coalesce(text, lit("")))),
      terms.map(_.getBytes("UTF-8")).toArray, Array.fill(terms.size + 1)(1.0), K1, B)) > 0.0

  /** Per-row BM25 for `queryText` over `docs`: the (score, match)
    * columns. The corpus stats come from ONE aggregate job over `docs`
    * ([[corpusStats]]), so the columns apply to `docs` or to any frame
    * filtered from it that still carries `textCol`, and score it with
    * the stats of `docs`. A row holding no query term has match = false
    * and score = 0.0. tf and dlen come from the row's own text, and the
    * stats are not literals of the plan, so a new query compiles no new
    * code. */
  def scoreColumns(docs: DataFrame, queryText: String,
      textCol: String = "text"): (Column, Column) = {
    val terms = queryTerms(queryText)
    val lowered = lower(coalesce(col(textCol), lit("")))
    val (n, avgdl, dfs) =
      if (terms.isEmpty) (0L, 0.0, Nil) else corpusStats(docs, lowered, terms)
    // a term no doc of `docs` holds adds 0.0 to every score: drop it
    val live = terms.zip(dfs).filter(_._2 > 0)
    if (live.isEmpty) return (lit(0.0), lit(false))
    // Spark's `log` is StrictMath.log
    val idf = live.map { case (_, df) => StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0) }
    val score = Bridge.column(Bm25Score(Bridge.expression(lowered),
      live.map(_._1.getBytes("UTF-8")).toArray, (avgdl +: idf).toArray, K1, B))
    // every term a row holds adds a positive score: membership as in
    // [[matches]]
    (score, score > 0.0)
  }

  /** (N, avgdl, df per term) of `docs`, N and avgdl over docs with at
    * least one token. One job: each partition folds its rows into a
    * count vector and the driver sums them, so nothing shuffles. */
  private def corpusStats(docs: DataFrame, lowered: Column,
      terms: Seq[String]): (Long, Double, Seq[Long]) = {
    val nt = terms.size
    val termBytes = terms.map(_.getBytes("UTF-8")).toArray
    val tf = new Array[Int](nt)
    val acc = docs.select(lowered).queryExecution.toRdd
      .aggregate(new Array[Long](nt + 2))(
        (a, r) => {
          val dl = TextKernels.bm25Counts(r.getUTF8String(0), termBytes, tf)
          if (dl > 0) {
            a(0) += 1; a(1) += dl
            var i = 0
            while (i < nt) { if (tf(i) > 0) a(2 + i) += 1; i += 1 }
          }
          a
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    (acc(0), if (acc(0) == 0) 0.0 else acc(1).toDouble / acc(0), acc.toSeq.drop(2))
  }

  /** BM25 scores for `queryText` over `docs(idCol, textCol)`: returns
    * (doc_id, score) for every matching row, the top k by (score desc,
    * doc_id) when k > 0 — [[scoreColumns]] applied to `docs`. */
  def score(docs: DataFrame, queryText: String, k: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (s, hit) = scoreColumns(docs, queryText, textCol)
    val scored = docs.where(hit).select(col(idCol).as("doc_id"), s.as("score"))
    if (k > 0) scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    else scored
  }
}
