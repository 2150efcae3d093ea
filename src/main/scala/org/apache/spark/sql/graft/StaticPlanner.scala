package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Plans a DataFrame with adaptive execution OFF without ever touching
  * the owning session's shared conf.
  *
  * Why a session TWIN: `InsertAdaptiveSparkPlan` reads its conf from
  * `adaptiveExecutionContext.session.sessionState.conf` directly
  * (bytecode-verified on Spark 4.1), so neither `SQLConf.withExistingConf`
  * (thread-local) nor any per-QueryExecution override can disable AQE for
  * one plan — the only clean lever is WHICH session plans the query.
  * `cloneSession()` shares the SparkContext, shared state (cache manager,
  * external catalog) and a snapshot of the session conf; the twin diverges
  * in exactly one key. Re-rooting a frame costs one re-plan of its
  * already-analyzed logical plan — milliseconds, paid only on pinned
  * (small, latency-sensitive) plans.
  *
  * One twin per session, cached weakly: sessions are few and long-lived,
  * and a dead parent drops its twin with it. The VALUE is held through a
  * WeakReference — the twin strongly references its parent (cloneSession
  * retains the parent session state in its closures), so a strong value
  * would pin the WeakHashMap key forever and no pinned session could
  * ever be GC'd. A collected twin just rebuilds (cloneSession is
  * milliseconds, and any live pinned frame keeps its own twin reachable).
  *
  * Planner-relevant parent conf set AFTER the first pin (shuffle
  * partitions, broadcast threshold/timeout)
  * is re-synced onto the twin on every fetch — cloneSession snapshots
  * the conf once, and a stale snapshot would silently plan subsequent
  * pinned queries under the old settings. */
object StaticPlanner {

  private val twins = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession, java.lang.ref.WeakReference[ClassicSession]]()

  /** Conf keys a user realistically re-tunes mid-session that change
    * what the planner produces. AQE stays pinned off on the twin. */
  private val resyncKeys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.broadcastTimeout")

  private def noAqeTwin(spark: org.apache.spark.sql.SparkSession): ClassicSession =
    twins.synchronized {
      var twin = Option(twins.get(spark)).map(_.get).orNull
      if (twin == null) {
        twin = spark.asInstanceOf[ClassicSession].cloneSession()
        twin.sessionState.conf.setConfString("spark.sql.adaptive.enabled", "false")
        twins.put(spark, new java.lang.ref.WeakReference(twin))
      }
      val parentConf = spark.sessionState.conf
      val twinConf = twin.sessionState.conf
      resyncKeys.foreach { k =>
        parentConf.getConfString(k, null) match {
          case null => if (twinConf.contains(k)) twinConf.unsetConf(k)
          case v => if (twinConf.getConfString(k, null) != v)
            twinConf.setConfString(k, v)
        }
      }
      twin
    }

  /** Re-root `df` on the session's no-AQE twin and force its static
    * physical plan. The returned frame executes identically (same
    * SparkContext, same cache manager); only its planner conf differs. */
  def pin(df: DataFrame): DataFrame = {
    // already on a no-AQE session (e.g. an iterative loop pinning every
    // round, each chained off the last pinned frame): force the plan in
    // place instead of cloning a twin-of-a-twin
    if (!df.sparkSession.sessionState.conf.adaptiveExecutionEnabled) {
      df.queryExecution.executedPlan
      return df
    }
    val out = Dataset.ofRows(noAqeTwin(df.sparkSession), df.queryExecution.analyzed)
    out.queryExecution.executedPlan
    out
  }
}
