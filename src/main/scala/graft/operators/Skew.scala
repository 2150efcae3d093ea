package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-join salting (SURVEY.md §7.4 risk 5: high-degree graph nodes /
  * hot join keys at 100 TB).
  *
  * AQE's skew-join splitting handles sort-merge skew at runtime; salting
  * is the plan-level tool when a single key's fan-out must be spread
  * BEFORE the shuffle (e.g. a BFS frontier hitting a celebrity node).
  * `saltedJoin` replicates the build side `salt` times and spreads the
  * probe side uniformly: probe row → (key, row-position % salt), build
  * row → (key, 0..salt-1), so one hot key lands on `salt` reducers
  * instead of one.
  *
  * COST, measured (q135 at sf0.1): salting a UNIFORM key distribution
  * is ~10× slower than the plain join — the build side is written
  * `salt`× and every probe row pays the salt column — with zero skew to
  * amortize it. Salting is the tool for KNOWN-hot keys (a celebrity
  * node, a null-heavy foreign key), applied to that key's rows only or
  * behind a frequency check; for skew discovered at runtime, AQE's
  * skew-join splitting already handles sort-merge cases for free. Do
  * not salt by default.
  */
object Skew {

  /** Inner equi-join `left.key = right.key` with the hot-key fan-out of
    * `left` spread across `salt` partitions; `right` (the smaller /
    * build side) is replicated `salt` times.
    *
    * Broadcast EXIT (r18, guide §2.4/§3.1): when `right`'s own Catalyst
    * estimate fits the session broadcast threshold, salting is strictly
    * dominated by broadcasting it — every executor probes a local hash
    * relation, so a hot key's fan-out never concentrates on a reducer
    * (the full skew immunity salting buys) and BOTH exchanges disappear
    * (sf0.1: 0.657 → 0.246 s, VERDICT.md row 12). Identical rows: same
    * inner equi-join, same output columns. Above the threshold — the
    * 100 TB shape salting exists for — the salted sort-merge path is
    * unchanged. Force the salted path in tests/probes by setting
    * `spark.sql.autoBroadcastJoinThreshold=-1`. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salt: Int): DataFrame = {
    require(salt >= 1)
    if (Graph.smallEnough(right, 1.0))
      return left.join(broadcast(right), left(key) === right(key))
        .drop(right(key))
    val spark = left.sparkSession
    // DETERMINISTIC hash-of-row salt. Position-based salting
    // (monotonically_increasing_id) was measurably cheaper and spread
    // duplicate rows too, but it is NONDETERMINISTIC under task retry:
    // feeding it into the shuffle key is the SPARK-23207 class of
    // silent duplication/loss when a lost executor forces recompute —
    // disqualifying at exactly the scale salting exists for (r15
    // review finding). The tradeoff: identical probe rows now share a
    // reducer (spread comes from row diversity), and each row pays one
    // wide hash.
    val salted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*),
        lit(salt.toLong)).cast("int"))
    val replicated = right.crossJoin(
      broadcast(spark.range(salt).select(col("id").cast("int").as("__salt"))))
    salted.join(replicated,
        salted(key) === replicated(key) && salted("__salt") === replicated("__salt"))
      .drop(salted("__salt")).drop(replicated("__salt")).drop(replicated(key))
  }
}
