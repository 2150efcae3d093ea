package graft

import graft.operators.Bm25

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A posting-list BM25 reference for the per-row kernel's specs. */
object Bm25Postings {

  /** The reference tokenizer as a token array; null text has none. */
  def tokenArray(text: Column): Column =
    filter(split(coalesce(lower(text), lit("")), "[^a-z0-9]+"), t => length(t) > 1)

  /** BM25 over posting lists, the batch-built index shape of
    * index/bm25.rs: the token stream grouped to (term, doc) tf, doc
    * lengths, and a join summed per doc — structurally independent of
    * the per-row kernel it checks. */
  def postingScores(docs: DataFrame, q: String): Map[Long, Double] = {
    val tok = docs.select(col("doc_id"), explode(tokenArray(col("text"))).as("term"))
    val tf = tok.where(col("term").isin(Bm25.queryTerms(q): _*))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dlen"))
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dlen").cast("double")).as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    tf.join(dfreq, "term").join(dl, "doc_id").crossJoin(stats)
      .select(col("doc_id"), (idf * (col("tf") * (lit(Bm25.K1) + 1.0)) / (col("tf") +
        lit(Bm25.K1) * (lit(1.0) - Bm25.B + lit(Bm25.B) * col("dlen") / col("avgdl")))).as("s"))
      .groupBy("doc_id").agg(sum(col("s")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }
}
