package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming tier (SURVEY.md §2.11 L5 — beyond-reference: the
  * reference has NO event streaming; its "streaming" is O(1)-memory
  * aggregation (velesql/aggregator.rs:1-5) and lazy BFS iterators
  * (graph/streaming.rs:69-99). This module supplies the real thing over
  * the `events` table shape: watermarked event-time windows, session
  * windows, and custom keyed state — all stock Structured Streaming,
  * which scales to 100 TB/day by partitioning on the grouping key.)
  *
  * MODE-AGNOSTIC BY DESIGN: every transform here also accepts a BATCH
  * frame — watermarks no-op outside streaming, and session_window /
  * window / interval joins all plan as plain batch operators — so the
  * same function IS its own one-shot batch twin. Measured (PERF_r14
  * §4, 60×): the batch plan runs ~10-15× cheaper than the micro-batch
  * execution of identical work (state stores + complete-mode emit are
  * the premium), so run `readStream` inputs only when arrival is
  * actually incremental; for one-shot backfills pass the batch table.
  * StreamingSpec pins the mode-agnosticism.
  */
object StreamingOps {

  /** Watermarked sliding-window aggregation:
    * counts + value sums per (window, event_type); late data beyond
    * `watermark` is dropped, state is bounded. */
  def windowedAgg(events: DataFrame, windowDur: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Session windows per user: events within `gap` of each other merge
    * into one session (built-in session_window — state bounded by the
    * watermark). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  case class UserEvent(user_id: Long, ts: Timestamp, value: Double)
  case class UserState(count: Long, total: Double)
  case class UserSnapshot(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState: a running per-user
    * (count, total) — the KeyValueGroupedDataset state machine shape for
    * anything session_window can't express. */
  def runningUserState(events: Dataset[UserEvent]): Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserSnapshot](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var c = prev.count
          var t = prev.total
          evs.foreach { e => c += 1; t += e.value }
          state.update(UserState(c, t))
          UserSnapshot(uid, c, t)
      }
  }

  /** Streaming exact dedup — the streaming face of the batch hash-dedup
    * (q66): keep the FIRST document per content hash, dropping
    * re-occurrences that arrive within the watermark horizon.
    * `dropDuplicatesWithinWatermark` bounds the state store: hashes
    * older than the watermark are evicted, so an unbounded ingest stream
    * (the training-data landing zone) runs with O(window) state. */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour",
      textCol: String = "text", tsCol: String = "ts"): DataFrame =
    docs.withColumn("content_hash", md5(substring(col(textCol), 1, 40)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming ingest into a collection: every micro-batch upserts
    * (merge-by-id, latest wins) into the collection's parquet store via
    * foreachBatch — the streaming face of the reference's insert path
    * (collection/core/crud.rs upsert; its WAL durability is superseded
    * by the checkpointed sink + atomic parquet swap). Derived indexes
    * (LSH buckets, IVF cells) rebuild lazily on next query because
    * Materialize keys on the store's file listing. Returns the started
    * query; callers own `processAllAvailable`/`stop`.
    *
    * Scale note: `Collections.upsert` is a merge-by-id REWRITE of the
    * store — right for reference-sized collections, wrong past ~TB per
    * collection. The 100 TB shape is append-only landing (plain
    * `parquet` sink) + id-bucketed periodic compaction so each batch
    * touches only its buckets; this wrapper exists for the upsert
    * semantics the reference API promises. */
  def ingestStream(batches: DataFrame, collections: graft.Collections,
      name: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) collections.upsert(name, batch.toDF())
      }
      .start()

  /** Stream-stream INTERVAL join — the attribution shape (click →
    * purchase within `within`, per user): both legs filter the same
    * event stream, carry watermarks, and join under an event-time range
    * constraint, so Structured Streaming bounds each side's state to
    * the watermark + interval window and ages rows out exactly (the
    * stock stream-stream join state cleanup). At 100 TB/day both legs
    * shuffle on `user_id` — the join key is the state partition key. */
  def intervalJoin(events: DataFrame, leftType: String = "click",
      rightType: String = "purchase", within: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = events.where(col("event_type") === leftType)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val r = events.where(col("event_type") === rightType)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    l.join(r, col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $within"))
      .drop("p_user")
  }

  /** One-shot events analytics with an EXPLICIT execution mode — the
    * product face of this module's mode-agnosticism (every transform
    * here is its own batch twin).
    *
    * `mode = "batch"` (default): the transform runs as a plain batch
    * plan over the events table — the right call for one-shot queries
    * and backfills (the 60× probe: the batch twin runs the same work
    * ~10-15× cheaper than micro-batch execution and beats the DuckDB
    * oracle, PERF_r14 §4; micro-batch pays state-store lifecycle that
    * only buys anything when arrival is actually incremental).
    *
    * `mode = "stream"`: the same transform runs as a real micro-batch
    * file-source query to completion (AvailableNow trigger, memory
    * sink) — the execution a continuously-landing directory would get,
    * exposed so a caller can validate streaming semantics or warm a
    * checkpoint against a snapshot. NOTE the memory sink is
    * DRIVER-sized (bounded by the result's group/match count, not the
    * corpus — fine for validation at any corpus size with bounded key
    * cardinality, wrong as a production continuous pipeline: that
    * shape writes a durable sink instead, see [[ingestStream]]).
    *
    * Both modes return the same rows for the same input (floating sums
    * may differ in the last ulp from aggregation order, as between any
    * two batch plans); RestServerSpec pins the equality through the
    * REST surface.
    *
    * Ops: "window" (params window/slide/watermark), "sessions"
    * (gap/watermark), "attribution" (left/right/within/watermark). */
  def eventsAnalytics(spark: SparkSession, dir: String, op: String,
      mode: String = "batch", params: Map[String, String] = Map.empty): DataFrame = {
    // duration params are USER input (REST) — validate eagerly so a bad
    // interval is an IllegalArgumentException (HTTP 400), not a plan-time
    // AnalysisException surfacing as a server error
    def p(k: String, dflt: String): String = {
      val v = params.getOrElse(k, dflt)
      if (k != "left" && k != "right") {
        val iv = try org.apache.spark.sql.catalyst.util.IntervalUtils
            .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(v))
          catch { case e: Exception => throw new IllegalArgumentException(
            s"bad '$k' duration '$v'", e) }
        // positivity too: "-1 hour" parses fine but the window/session
        // analysis rule rejects it at collect time — a plan-time 500
        // where the caller owed a 400 (r15 review finding)
        if (iv.months < 0 || iv.days < 0 || iv.microseconds < 0 ||
            (iv.months == 0 && iv.days == 0 && iv.microseconds <= 0))
          throw new IllegalArgumentException(
            s"'$k' duration must be positive, got '$v'")
      }
      v
    }
    val transform: DataFrame => DataFrame = op match {
      case "window" => windowedAgg(_, p("window", "1 hour"),
        p("slide", "30 minutes"), p("watermark", "2 hours"))
      case "sessions" => sessionAgg(_, p("gap", "30 minutes"),
        p("watermark", "2 hours"))
      case "attribution" => intervalJoin(_, p("left", "click"),
        p("right", "purchase"), p("within", "30 minutes"),
        p("watermark", "1 hour"))
      case other => throw new IllegalArgumentException(
        s"unknown analytics op '$other' (window|sessions|attribution)")
    }
    mode match {
      case "batch" => transform(graft.Tables.table(spark, dir, "events"))
      case "stream" =>
        // Per-request CLONED session (shared SparkContext, own runtime
        // conf copied from `spark`): the no-data-micro-batch flip lands
        // on the clone only, so concurrent mode=stream requests on the
        // REST pool (8 threads) run in parallel — r17 shipped the flip
        // under a session-global lock held for the stream's lifetime,
        // a serialization cliff on the declared serving surface (r17
        // VERDICT #4). The stream, its memory sink and the temp view
        // all live in the clone; no restore needed, the clone dies with
        // the request. StressSpec pins 8-way parallel execution.
        val session = org.apache.spark.sql.graft.Bridge.cloneSession(spark)
        session.conf.set(
          "spark.sql.streaming.noDataMicroBatches.enabled", "false")
        // one-shot AvailableNow replay: trailing no-data batches are
        // pure state-maintenance cost here and output-neutral for these
        // shapes (inner+append join emits on match; complete mode
        // re-emits full state) — same rationale and pins as the q127/
        // q131/q147 wrapper, RestServerSpec holds batch ≡ stream rows.
        val out = transform(eventsStream(session, dir))
        val qn = s"analytics_${op}_${System.nanoTime()}"
        // aggregations emit their final state in complete mode; the
        // stream-stream join is append-only by construction
        val om = if (op == "attribution") "append" else "complete"
        val shm = new java.io.File("/dev/shm")
        val ck = if (shm.isDirectory && shm.canWrite)
          java.nio.file.Files.createTempDirectory(shm.toPath, "graft-analytics-")
        else java.nio.file.Files.createTempDirectory("graft-analytics-")
        try {
          val q = out.writeStream.format("memory").queryName(qn)
            .option("checkpointLocation", ck.toString)
            .outputMode(om)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          // awaitTermination returns FALSE on timeout (no exception) —
          // fail loudly rather than serve a partial sink. NOT an
          // IllegalArgumentException: the REST layer maps IAE to 400
          // (caller error), and a capacity timeout is a 5xx condition
          try {
            if (!q.awaitTermination(300000))
              throw new IllegalStateException(s"$qn timed out after 300 s")
          } finally q.stop()
          val res = session.table(qn).localCheckpoint(true)
          session.catalog.dropTempView(qn)
          res
        } finally {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(ck)
          try walk.iterator().asScala.toSeq.reverse.foreach(_.toFile.delete())
          finally walk.close()
        }
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other' (batch|stream)")
    }
  }

  // schema inference lists the path and reads parquet footers on the
  // DRIVER on every call — each streaming row paid it once per bench
  // rep / REST request. Memoized per path, STAMPED on the path's
  // (mtime, size) like Materialize's content stamps so a re-ingested
  // dataset at the same path re-infers instead of serving a stale
  // schema to a long-running server (r17, guide §1.2).
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[String, ((Long, Long), org.apache.spark.sql.types.StructType)]

  private def pathStamp(p: java.nio.file.Path): (Long, Long) = try {
    if (java.nio.file.Files.isDirectory(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        val fs = walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_)).toSeq
        (fs.map(f => java.nio.file.Files.getLastModifiedTime(f).toMillis)
          .foldLeft(0L)(math.max),
         fs.map(java.nio.file.Files.size).sum)
      } finally walk.close()
    } else (java.nio.file.Files.getLastModifiedTime(p).toMillis,
      java.nio.file.Files.size(p))
  } catch { case _: Throwable => (-1L, -1L) }

  /** Read the events parquet directory as a stream (file source — at
    * scale this is the landing-zone pattern: new files appear, Spark
    * incrementally processes them). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val stamp = pathStamp(java.nio.file.Paths.get(path))
    val schema = schemaMemo.get(path) match {
      case Some((s, sch)) if s == stamp => sch
      case _ =>
        val sch = spark.read.parquet(path).schema
        schemaMemo.put(path, (stamp, sch))
        sch
    }
    // driver testdata ships events as a FLAT FILE inside the dataset dir
    // (the file source needs a directory → glob-filter to that one file);
    // Spark-written datasets (ScaleGen, user ingests) ship a parquet
    // DIRECTORY, which streams directly — the glob filter would match
    // ZERO of its part-files and silently stream nothing
    val raw =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
        spark.readStream.schema(schema).parquet(path)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
    // events.ts is parquet TIMESTAMP(NANOS) read as long nanos under
    // spark.sql.legacy.parquet.nanosAsLong — re-derive (see Tables.table)
    if (schema.fields.exists(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType))
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }
}
