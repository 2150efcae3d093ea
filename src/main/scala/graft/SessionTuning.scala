package graft

import org.apache.spark.sql.SparkSession

/** The one place a local-mode `SparkSession` is built: [[local]] for the
  * short-lived mains (Bench, Verify, Plans), the test tools and
  * the spec base; [[service]] for the long-running ones (Serve, Repl).
  * Every session it builds carries [[GraftExtensions]], the engine's one
  * session hook.
  *
  * Why the shuffle settings (measured at `local[32]`, PERF_r12.md): a
  * 32-partition `groupBy` over 369k in-memory longs took 0.47 s — per-
  * EXCHANGE floor, not data. Root cause: with ≤200 shuffle partitions
  * Spark picks the bypass-merge shuffle writer, which opens one file PER
  * REDUCE PARTITION per map task (32×32 = 1024 file creates per
  * exchange), and file creation on this VM's disk is milliseconds.
  * `bypassMergeThreshold=1` forces the single-file sort writer (the
  * same writer Spark always uses above 200 partitions): 0.47 → 0.18 s.
  * Shuffle dirs on tmpfs cut the remaining file cost: → 0.155 s.
  * (Measured and REJECTED: `coalescePartitions.parallelismFirst=
  * false` — it coalesces by BYTES, which serializes CPU-heavy-per-byte
  * sketch merges onto one reduce task: q159 percentile_approx 0.65 →
  * 1.21 s, q151 HLL 0.36 → 0.82 s. Spark's parallelism-first default
  * exists for exactly this shape; with the writer+tmpfs fixes the
  * 32-task floor it protects against is ~2 ms/task anyway.)
  *
  * Cluster mapping: pointing `spark.local.dir` at fast local storage
  * is standard ops practice; the sort writer is the default beyond
  * 200 partitions, so production shapes are unaffected.
  */
object SessionTuning {
  /** Session for a short-lived main, tool or spec: `local[cpus]` with
    * [[localConfigMap]] (tmpfs shuffle dirs). */
  def local(cpus: Int): SparkSession = session(cpus, localConfigMap)

  /** Session for a long-running service: `local[cpus]` with
    * [[serviceConfigMap]] (shuffle dirs stay on disk). */
  def service(cpus: Int): SparkSession = session(cpus, serviceConfigMap)

  /** Adaptive execution and partition coalescing are left at Spark's
    * defaults (both on). Timestamps: driver-generated parquet stamps
    * tz-naive timestamp[us], read as TIMESTAMP (UTC instants) so
    * unix_micros/watermarks keep working; events.parquet carries
    * TIMESTAMP(NANOS), which vanilla Spark 4 rejects, so it is read as
    * long and `Tables` re-derives the timestamp. The first session of a
    * JVM also sweeps the artifact cache once ([[Materialize.sweptOnce]]),
    * before any query runs. */
  private def session(cpus: Int, tuning: java.util.Map[String, Any]): SparkSession = {
    Materialize.sweptOnce
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(tuning)
      .getOrCreate()
  }

  /** Config map for the short-lived mains, tools and specs: sort
    * shuffle writer + tmpfs shuffle dirs. */
  def localConfigMap: java.util.Map[String, Any] =
    configMap(tmpfsLocalDir = true)

  /** Config map for LONG-RUNNING services (Serve / Repl): same shuffle
    * writer, but `spark.local.dir` stays on disk — a RAM-backed tmpfs
    * local dir means a large query's shuffle/spill competes with heap
    * for physical memory (ENOSPC or the OOM-killer instead of a disk
    * spill), which a bounded bench run tolerates and a server must not. */
  def serviceConfigMap: java.util.Map[String, Any] =
    configMap(tmpfsLocalDir = false)

  private def configMap(tmpfsLocalDir: Boolean): java.util.Map[String, Any] = {
    val m = new java.util.HashMap[String, Any]()
    m.put("spark.shuffle.sort.bypassMergeThreshold", "1")
    val shm = new java.io.File("/dev/shm")
    if (tmpfsLocalDir && shm.isDirectory && shm.canWrite)
      m.put("spark.local.dir", "/dev/shm/spark-local")
    m
  }

  /** Pin a STATIC physical plan for `df`: plan it now with adaptive
    * execution off, so later actions reuse the cached QueryExecution
    * instead of AQE's stage-at-a-time loop.
    *
    * Why: AQE materializes every exchange as its own query-stage JOB and
    * re-optimizes between them. For short fixed-point iterative plans
    * whose intermediates are KNOWN small (a fused PageRank superstep
    * chain: node-sized contribution tables, broadcast-hinted joins),
    * that re-planning cannot change anything — the broadcast decisions
    * are already hinted — but doubles the sequential job count (measured
    * on q149: 9 jobs → 5, 0.79 → 0.60 s warm at sf0.1, PERF_r14.md). Callers
    * gate on their own smallness evidence (e.g. pageRank's contribSmall)
    * — large-graph plans keep AQE for skew/coalesce handling.
    *
    * Scope: affects exactly this DataFrame's cached `queryExecution`
    * (the one `collect`/`toRdd` reuse). A `df.write` builds a fresh
    * QueryExecution and sees the session's normal AQE setting.
    *
    * Thread safety: the frame is re-rooted on a cached no-AQE session
    * TWIN ([[org.apache.spark.sql.graft.StaticPlanner]]) — the session-
    * wide conf is never mutated, so concurrent planning on the same
    * session (the REST handler pool, Serve/Repl sharing a session) keeps
    * AQE. Before r14 this toggled the shared conf and an interleaved
    * query could silently plan AQE-off. A thread-local SQLConf override
    * does NOT work here: `InsertAdaptiveSparkPlan` reads
    * `session.sessionState.conf` directly, bypassing `SQLConf.get`. */
  def pinStaticPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.StaticPlanner.pin(df)
}
