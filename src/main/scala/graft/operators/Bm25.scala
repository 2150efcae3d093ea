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
  * with at least one token, in both shapes below.
  *
  * Distributed shape, query time ([[scoreColumns]]): one aggregate job
  * folds (N, Σ dlen, df per query term) per partition and sums the
  * partials on the driver — no shuffle. The stats ride a per-row score
  * kernel over the row's own text (`Bm25Score`, one tokenizing pass, no
  * token array), so a ranked top-k is one scan plus
  * TakeOrderedAndProject: no shuffle, no join back for the payload.
  * Batch-built shape ([[buildIndex]], [[materializedIndex]]): posting
  * lists + doc stats as tables, scored by joining the query-term-pruned
  * postings against the doc-length side.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** Distinct query terms under the reference tokenizer. */
  def queryTerms(queryText: String): Seq[String] =
    queryText.toLowerCase.split("[^a-z0-9]+").filter(_.length > 1).toSeq.distinct

  /** A row's token array, for the posting index ([[buildIndex]]): the
    * tokenizer of [[TextKernels.bm25Counts]], which scores and MATCH
    * membership use, as a split; null text has no tokens. */
  def tokenArray(text: Column): Column =
    filter(split(coalesce(lower(text), lit("")), "[^a-z0-9]+"), t => length(t) > 1)

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

  /** Join the query-term-pruned tf side against the corpus-sized
    * doc-length side, broadcasting tf only when Spark's OWN size
    * estimate clears the session broadcast threshold: a common term's
    * postings are corpus-proportional, and an unconditional hint would
    * bypass the 8 GB broadcast limit at scale. Without column stats the
    * pruned scan keeps the postings table's full-size estimate — the
    * conservative direction (falls back to the shuffling join). */
  private def joinDocSide(docSide: DataFrame, tfSide: DataFrame,
      fitsOverride: Option[Boolean] = None): DataFrame = {
    val fits = fitsOverride.getOrElse {
      val thr = tfSide.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      thr > 0 && estimate(tfSide) <= thr
    }
    if (fits) docSide.join(broadcast(tfSide), "doc_id")
    else tfSide.join(docSide, "doc_id")
  }

  /** Spark's own size estimate; unestimable plans read as "huge" so
    * every gate falls to the conservative shuffle side. */
  private def estimate(df: DataFrame): BigInt =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes
    catch { case _: Throwable => BigInt(Long.MaxValue) }

  /** (doc_id, term) token stream under the reference tokenizer. */
  def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokenArray(col(textCol))).as("term"))

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

  /** Materialized index tables (T2 — the reference's batch-built inverted
    * index, index/bm25.rs posting lists + doc stats, as parquet-able
    * DataFrames). Build once per batch; `searchIndex` then touches only
    * postings for the query terms — no re-tokenization per query. At
    * scale, write `postings` partitioned by a term-hash bucket so a query
    * prunes to its terms' partitions. */
  final case class Index(postings: DataFrame, docStats: DataFrame, corpusStats: DataFrame)

  def buildIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Index = {
    val tok = tokens(docs, idCol, textCol)
    val postings = tok.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    val docStats = tok.groupBy("doc_id").agg(count(lit(1)).as("dlen"))
    val corpusStats = docStats.agg(count(lit(1)).as("n"),
      avg(col("dlen").cast("double")).as("avgdl"))
    Index(postings, docStats, corpusStats)
  }

  /** An index over an arbitrary doc frame, MATERIALIZED once per dataset
    * dir (postings clustered + sorted by term — a query's scoring reads
    * only its terms' row groups). Same scores as building in-query,
    * minus the per-query tokenize + stats pass (~0.4 s at sf0.1). */
  def materializedIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      kind: String, sources: Seq[String])(docs: => DataFrame): Index = {
    val postings =
      graft.Materialize(spark, dir, s"${kind}_postings", sources, Some("term")) {
        tokens(docs, "doc_id", "text")
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      }
    // dlen = Σ tf (total token count per doc) and (n, avgdl) derive
    // from the PREVIOUS artifact, so the expensive corpus
    // tokenize+explode pass runs ONCE per (re)build instead of three
    // times (r15 review finding). A zero-token doc is absent from both
    // shapes identically (explode emits nothing for it either way).
    val docStats =
      graft.Materialize(spark, dir, s"${kind}_docstats", sources, Some("doc_id")) {
        postings.groupBy("doc_id").agg(sum(col("tf")).as("dlen"))
      }
    val corpusStats =
      graft.Materialize(spark, dir, s"${kind}_corpusstats", sources, None) {
        docStats.agg(count(lit(1)).as("n"), avg(col("dlen").cast("double")).as("avgdl"))
      }
    Index(postings, docStats, corpusStats)
  }

  /** The documents-table index. */
  def indexFor(spark: org.apache.spark.sql.SparkSession, dir: String): Index =
    materializedIndex(spark, dir, "bm25", Seq("documents"))(
      graft.Tables.table(spark, dir, "documents"))

  /** Filtered BM25 over a prebuilt index — scores IDENTICAL to running
    * [[score]] on the pre-filtered doc frame (T3's filter-then-score
    * contract), without re-tokenizing anything: per-doc lengths and tf
    * are doc-local (a row filter can't change them), so the filtered
    * corpus stats (n, avgdl) are one agg over docStats ∩ keepIds and
    * the filtered df is a count over the term-pruned postings ∩
    * keepIds. `keepIds` is a (doc_id) frame — query-dependent, so it
    * stays a join input rather than a materialization. */
  def searchIndexFiltered(index: Index, keepIds: DataFrame,
      queryText: String, k: Int = 0): DataFrame = {
    val queryTerms = Bm25.queryTerms(queryText)
    // DISTINCT: a keep set built from a join/explode filter can carry
    // duplicate doc_ids, which would double-count dl rows into n/avgdl
    // and tf rows into every score (r15 review finding)
    val ids = keepIds.select(col("doc_id")).distinct()
    // gate the broadcast on the COMPONENT estimates: a join output's
    // sizeInBytes is the product of its children's, so the joined tf
    // frame always reads as huge even when both inputs are tiny (the
    // same estimate poisoning the PPR seed join hit)
    val thr = index.postings.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val fits = thr > 0 &&
      estimate(index.postings.where(col("term").isin(queryTerms: _*))) +
        estimate(ids) <= thr
    // ONE explicit ids broadcast, REUSED by the dlen join and the
    // postings semi-join (identical subplans → ReusedExchange, one
    // build job); above the gate the joins shuffle — the scale path
    val idsJ = if (fits) broadcast(ids) else ids
    val dl = index.docStats.join(idsJ, "doc_id")
    val tf = index.postings.where(col("term").isin(queryTerms: _*))
      .join(idsJ, "doc_id")
    // TWO independent broadcasts, NOT one folded termStats: the filtered
    // corpus scalar (n, avgdl) is an agg over the corpus-sized dl scan,
    // and folding it into the per-term table (r13) put that agg on the
    // tf-side broadcast build's CRITICAL PATH — stats → termStats build
    // → probe, strictly sequential. Applied as its own crossJoin AFTER
    // the probe join, the stats agg builds CONCURRENTLY with the tf
    // side (broadcast futures overlap): measured 0.272 vs 0.370 s warm
    // pinned at sf0.1, min of 5 (PERF_r14.md; the r13 fold was the q61
    // regression r13 VERDICT flagged). (A tag-union single-agg variant
    // was also measured and REJECTED earlier: 3 jobs but a costlier
    // merge-joined window plan — 0.58 vs 0.44 s.)
    val stats = dl.agg(count(lit(1)).as("n"),
      avg(col("dlen").cast("double")).as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val scored = joinDocSide(dl, tf.join(broadcast(dfreq), "term"),
        Some(fits))
      .crossJoin(broadcast(stats))
      .withColumn("term_score",
        idf * (col("tf") * (lit(K1) + 1.0))
          / (col("tf") + lit(K1) * (lit(1.0) - B + lit(B) * col("dlen") / col("avgdl"))))
      .groupBy("doc_id").agg(sum(col("term_score")).as("score"))
    if (k > 0) scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    else scored
  }

  /** BM25 over a prebuilt index — same scores as [[score]]. The tf side
    * (term-pruned postings) broadcasts into the corpus-sized docStats
    * scan when its size estimate allows ([[joinDocSide]]): no shuffle
    * of docStats, and the doc_id agg runs over matching docs only.
    * postings is unique per (term, doc_id) by construction, so df =
    * count, not countDistinct (which would plan an expand over the
    * same rows). */
  def searchIndex(index: Index, queryText: String, k: Int = 0): DataFrame = {
    val queryTerms = Bm25.queryTerms(queryText)
    val tf = index.postings.where(col("term").isin(queryTerms: _*))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    // single per-term stats broadcast (see searchIndexFiltered)
    val termStats = dfreq.crossJoin(index.corpusStats)
    val scored = joinDocSide(index.docStats, tf.join(broadcast(termStats), "term"))
      .withColumn("term_score",
        idf * (col("tf") * (lit(K1) + 1.0))
          / (col("tf") + lit(K1) * (lit(1.0) - B + lit(B) * col("dlen") / col("avgdl"))))
      .groupBy("doc_id").agg(sum(col("term_score")).as("score"))
    if (k > 0) scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    else scored
  }
}
