package graft.queries

import graft.{Graft, QueryDef}
import graft.operators.MultiModal
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CORRECTNESS pins for the surfaces that were previously spec-only —
  * the per-collection mutable edge store, the Structured Streaming tier,
  * and the multimodal column plumbing — so the driver's DuckDB gate sees
  * them every round, not just ScalaTest.
  *
  * Two pin shapes:
  *  - value-level (q127, q128): the Spark result IS oracle-expressible,
  *    so the oracle recomputes the same values in DuckDB.
  *  - boolean-row (q126, like q123/q125): the surface needs CRUD side
  *    effects DuckDB can't replay, so the full lifecycle runs eagerly
  *    in-engine and collapses to one 0/1 row the oracle pins at 1 — any
  *    regression flips the row and turns the round red.
  */
object PipelineQueries {

  /** Run a streaming pin's start→await→stop with shuffle partitions
    * sized for its STATE: every micro-batch instantiates one state
    * store per shuffle partition (×2 sides for a stream-stream join),
    * and the count is frozen at query start. The session's 32 local
    * partitions are pure store overhead at pin volume — a deployment
    * sizes this to the keyspace, which is the knob this models.
    * Restored after the stream terminates (not after start(): the
    * stream clones the session conf on its own thread during batch-0
    * planning). */
  private def withStreamParts[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevNd = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    // One-shot AvailableNow replays don't need trailing NO-DATA batches:
    // those exist to fire event-time timeouts / evict state for a query
    // that keeps running, but these streams terminate right after — the
    // extra batch was pure state-store maintenance cost (StreamJoinLab:
    // ~0.7-1.5 s per run, ~30-40% of q147). Output-neutral for every
    // shape here: the interval join is INNER+append (emits on match, in
    // the data batch), the window/session aggs are complete mode (each
    // batch re-emits full state) — q127/q131/q147 stay oracle-pinned and
    // q205 pins mode=batch ≡ mode=stream row equality. The stateful
    // LIFECYCLE pins (q132 mapGroupsWithState, dropDuplicates...) run
    // outside this wrapper and keep the default. (r17, guide §1.2)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNd)
    }
  }

  /** Data-sized stream partition count: `base` per ~4 MB of the events
    * source, capped at the session's shuffle partitions. The flat 2.4 MB
    * testdata file keeps the original 4 (state-file overhead dominates
    * at pin volume); a 10× corpus gets the parallelism its shuffle needs
    * (PERF_r14.md, 10×/21 MB: q131 ran 4.08 s with 4 partitions, 3.22 s
    * with 32 — the fixed count was the bottleneck, r14 scale probe).
    * Used by the AGGREGATION streams (q127/q131), which shuffle the full
    * event volume; the stream-stream join (q147) keeps its fixed count —
    * it shuffles only the filtered legs but pays TWO state stores per
    * partition, and sizing it up measured slower (2.7 → 3.8 s at 10×). */
  // the directory walk is memoized per path: query-def builds run per
  // bench rep, and the size only steers a partition-count heuristic, so
  // a stale byte count (files landed since first look) is harmless.
  // Only SUCCESSFUL non-empty walks memoize — a pre-ingest miss or a
  // transient IO error must not pin the sizing to 0 for the JVM's life
  private val streamBytesMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private def streamParts(s: SparkSession, d: String, base: Int): Int = {
    val p = java.nio.file.Paths.get(s"$d/events.parquet")
    val bytes = streamBytesMemo.get(p.toString).getOrElse {
      val b = try {
        if (java.nio.file.Files.isDirectory(p)) {
          val walk = java.nio.file.Files.walk(p)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
              .map(java.nio.file.Files.size).sum
          } finally walk.close()
        } else java.nio.file.Files.size(p)
      } catch { case _: Throwable => 0L }
      if (b > 0L) streamBytesMemo.put(p.toString, b)
      b
    }
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(math.max(base, (bytes / (4L << 20)).toInt * base), math.max(base, cap))
  }

  /** Throwaway micro-batch checkpoint dir on the fastest local storage
    * (every batch writes offset/commit logs + one state file per store
    * partition; tmpfs when present — same rationale as
    * [[SessionTuning]]'s shuffle dirs). Deleted after the stream
    * terminates — these pins re-execute from scratch per run. */
  private def withCkpt[T](prefix: String)(body: String => T): T = {
    val shm = new java.io.File("/dev/shm")
    val dir = if (shm.isDirectory && shm.canWrite)
      java.nio.file.Files.createTempDirectory(shm.toPath, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(p => p.toFile.delete())
      finally walk.close()
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- S5 user side, end-to-end (graph_api.rs:40-107): create a
    // throwaway collection with its own edge store, run the full
    // lifecycle — points + edges upsert, mixed explicit/auto edge ids,
    // merge-by-id, typed 1-hop and var-length MATCH over the USER edges,
    // deleteEdges — and pin the conjunction as one boolean row.
    QueryDef.lifecyclePin("q126_edge_store",
      "SELECT CAST(1 AS INT) AS edges_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q126")
      val ok = try {
        val g = Graft(s, tmp.toString)
        g.collections.create("social", idCol = "id", vectorCol = None)
        g.collections.upsert("social",
          Seq((1L, "ann"), (2L, "bob"), (3L, "cat"), (4L, "dan"))
            .toDF("id", "name"))
        g.collections.upsertEdges("social",
          Seq((10L, 1L, 2L, "knows"), (11L, 2L, 3L, "knows"),
            (12L, 3L, 4L, "knows"), (13L, 1L, 4L, "blocks"))
            .toDF("id", "src", "dst", "label"))
        // mixed explicit+auto batch: the auto id must land ABOVE both the
        // stored max (13) and the batch's explicit max (15) — never on 15
        g.collections.upsertEdges("social",
          Seq((Some(15L), 2L, 1L, "follows"), (None, 3L, 1L, "follows"))
            .toDF("id", "src", "dst", "label"))
        val ids = g.collections.edges("social").get
          .select("id").collect().map(_.getLong(0)).toSet
        val idsOk = ids == Set(10L, 11L, 12L, 13L, 15L, 16L)
        val hop = g.sql(
          "MATCH (a:Point)-[:knows]->(b:Point) RETURN a.id AS s, b.id AS d",
          graphScope = Some("social"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val hopOk = hop == Set((1L, 2L), (2L, 3L), (3L, 4L))
        val reach = g.sql(
          "MATCH (a:Point {name: 'ann'})-[:knows*1..3]->(b) RETURN b.id AS d",
          graphScope = Some("social")).collect().map(_.getLong(0)).toSet
        val reachOk = reach == Set(2L, 3L, 4L)
        g.collections.deleteEdges("social", Seq(13L))
        val delOk = g.collections.edges("social").get
          .where(col("id") === 13L).count() == 0
        idsOk && hopOk && reachOk && delOk
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("edges_ok"))
    },

    // ---- §1.1 agent-memory SDK, lifecycle-pinned (agent/mod.rs:1-14):
    // remember / TTL-filtered live views / kind-scoped recall / physical
    // expire, collapsed to one boolean row.
    QueryDef.lifecyclePin("q129_agent_memory",
      "SELECT CAST(1 AS INT) AS memory_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q129")
      val ok = try {
        val cols = new graft.Collections(s, tmp.toString)
        val memName = "agent_memory"
        val mem = new graft.AgentMemory(s, cols, memName)
        mem.create()
        val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
        val now = t0.toInstant.getEpochSecond + 3600 // one hour later
        mem.remember(Seq(
          (1L, "semantic", "likes scala", Seq(1.0f, 0.0f), t0, Some(7200L)),
          (2L, "semantic", "stale fact", Seq(0.0f, 1.0f), t0, Some(60L)),
          (3L, "episodic", "met ann", Seq(0.9f, 0.1f), t0, Option.empty[Long]))
          .toDF("id", "kind", "content", "embedding", "ts", "ttl_seconds"))
        val liveIds = mem.live(now).select("id").collect().map(_.getLong(0)).toSet
        val rec = mem.recall("semantic", Seq(1.0f, 0.0f), 1, now).collect()
        // snapshot BEFORE expiry; restore must bring the dead row back
        mem.snapshot("before_expire")
        mem.expire(now)
        val afterExpire = cols.count(memName) // dead row physically deleted
        // time-travel READ of the snapshot must see all 3 rows while the
        // live (expired) state still has 2 — reading must not publish
        val travel = cols.snapshotTable(memName, "before_expire").count()
        val liveAfterRead = cols.count(memName)
        mem.restore("before_expire")
        val restored = cols.count(memName)
        // recall still works over the restored state
        val rec2 = mem.recall("semantic", Seq(1.0f, 0.0f), 1, now).collect()
        liveIds == Set(1L, 3L) && // id 2's 60 s TTL lapsed; id 3 has none
          rec.length == 1 && rec.head.getAs[Long]("id") == 1L &&
          afterExpire == 2 &&
          travel == 3 && liveAfterRead == 2 && // read-only time travel
          restored == 3 && // snapshot/restore round-trip (agent/snapshot.rs)
          mem.listSnapshots() == Seq("before_expire") &&
          rec2.length == 1 && rec2.head.getAs[Long]("id") == 1L
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("memory_ok"))
    },

    // ---- S9 importers, lifecycle-pinned (velesdb-migrate): Qdrant and
    // Pinecone export lines → normalized point shape → a collection a
    // vector search runs over. String Pinecone ids hash deterministically.
    QueryDef.lifecyclePin("q130_importers",
      "SELECT CAST(1 AS INT) AS import_ok") { (s, _) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-q130")
      val ok = try {
        val q = tmp.resolve("qdrant.jsonl")
        java.nio.file.Files.writeString(q,
          """{"id": 1, "vector": [1.0, 0.0], "payload": {"lang": "en"}}
            |{"id": 2, "vector": [0.0, 1.0], "payload": {"lang": "fr"}}
            |""".stripMargin)
        val p = tmp.resolve("pinecone.jsonl")
        java.nio.file.Files.writeString(p,
          """{"id": "doc-a", "values": [0.6, 0.8], "metadata": {"src": "web"}}
            |{"id": "7", "values": [0.8, 0.6], "metadata": {"src": "pdf"}}
            |""".stripMargin)
        val qd = graft.sources.Importers.fromQdrant(s, q.toString)
        val pc = graft.sources.Importers.fromPinecone(s, p.toString)
        val cols = new graft.Collections(s, tmp.resolve("store").toString)
        cols.create("migrated", idCol = "id", vectorCol = Some("vector"))
        cols.upsert("migrated", qd)
        val qdOk = cols.count("migrated") == 2 &&
          cols.get("migrated", Seq(2L)).select("lang").first().getString(0) == "fr"
        // numeric-string Pinecone id parses as 7; "doc-a" hashes (stable)
        val pcIds = pc.select("id").collect().map(_.getLong(0)).toSet
        val pcOk = pcIds.contains(7L) && pcIds.size == 2
        val top = graft.operators.Knn
          .topK(pc, "vector", Seq(0.6f, 0.8f), 1, "cosine", idCol = "id")
          .collect()
        qdOk && pcOk && top.length == 1 &&
          top.head.getAs[Long]("id") != 7L && // the (0.6,0.8) doc-a row wins
          {
            // r10: chroma + elasticsearch + csv connectors and the
            // Migrate pipeline (field mapping, normalize, dry-run)
            val ch = tmp.resolve("chroma.jsonl")
            java.nio.file.Files.writeString(ch,
              """{"id": 1, "embedding": [3.0, 4.0], "document": "d1", "metadata": {"cat": "a"}}
                |""".stripMargin)
            val es = tmp.resolve("es.jsonl")
            java.nio.file.Files.writeString(es,
              """{"_id": "11", "_source": {"vector": [1.0, 0.0], "title": "t"}}
                |""".stripMargin)
            val cv = tmp.resolve("pts.csv")
            java.nio.file.Files.writeString(cv,
              "id,vector,label\n21,\"[0.1, 0.2]\",x\n")
            val chDf = graft.sources.Importers.fromChroma(s, ch.toString)
            val esDf = graft.sources.Importers.fromElasticsearch(s, es.toString)
            val cvDf = graft.sources.Importers.fromCsv(s, cv.toString)
            val dry = graft.sources.Migrate.run(cols, "m10", chDf, dryRun = true)
            val dryOk = dry == 1L && !cols.exists("m10")
            val n = graft.sources.Migrate.run(cols, "m10", chDf,
              fieldMappings = Map("cat" -> "category"), normalize = true)
            val v = cols.table("m10").get.select("vector").first().getSeq[Float](0)
            dryOk && n == 1L &&
              v.toList == List(0.6f, 0.8f) && // (3,4) normalized
              cols.table("m10").get.columns.contains("category") &&
              esDf.select("id").first().getLong(0) == 11L &&
              cvDf.select("vector").first().getSeq[Float](0).length == 2
          }
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("import_ok"))
    },

    // ---- S2/S3 edge, lifecycle-pinned (crud.rs id semantics): null-id
    // rows ride along upserts untouched and survive targeted deletes;
    // replacing an id touches ONLY that id; an id-less store appends
    // rather than discarding stored rows. Promotes the r15 null-id
    // CollectionsHardeningSpec findings to the oracle gate.
    QueryDef.lifecyclePin("q201_nullid_crud",
      "SELECT CAST(1 AS INT) AS nullid_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q201")
      val ok = try {
        val c = new graft.Collections(s, tmp.resolve("store").toString)
        c.create("nid")
        c.upsert("nid", Seq((Some(1L), "a"), (None, "n1"), (None, "n2"))
          .toDF("id", "v"))
        val afterFirst = c.count("nid") == 3
        c.upsert("nid", Seq((Some(1L), "a2"), (None, "n3")).toDF("id", "v"))
        val rows = c.table("nid").get.collect()
        val afterSecond = rows.length == 4 &&
          rows.count(_.isNullAt(0)) == 3 &&
          rows.filter(!_.isNullAt(0)).map(_.getString(1)).toSeq == Seq("a2")
        c.delete("nid", Seq(1L))
        val afterDelete = c.count("nid") == 3 &&
          c.table("nid").get.collect().forall(_.isNullAt(0))
        // id-less stores append across batches (r15 ADVICE fix)
        c.create("noid")
        c.upsert("noid", Seq(("x", 1)).toDF("v", "n"))
        c.upsert("noid", Seq(("y", 2)).toDF("v", "n"))
        val append = c.count("noid") == 2
        afterFirst && afterSecond && afterDelete && append
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("nullid_ok"))
    },

    // ---- S9 edge, lifecycle-pinned (velesdb-migrate UUID ids): string
    // /UUID point ids hash into the reserved NEGATIVE long range —
    // never colliding with a genuine numeric id in the same import —
    // deterministically across re-imports (re-upsert replaces, not
    // duplicates), and the hashed id round-trips through get/delete.
    QueryDef.lifecyclePin("q202_uuid_import",
      "SELECT CAST(1 AS INT) AS uuid_ok") { (s, _) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-q202")
      val ok = try {
        val q = tmp.resolve("qdrant.jsonl")
        java.nio.file.Files.writeString(q,
          """{"id": "550e8400-e29b-41d4-a716-446655440000", "vector": [1.0, 0.0], "payload": {"k": "u1"}}
            |{"id": "6ba7b810-9dad-11d1-80b4-00c04fd430c8", "vector": [0.0, 1.0], "payload": {"k": "u2"}}
            |{"id": 7, "vector": [0.5, 0.5], "payload": {"k": "n7"}}
            |""".stripMargin)
        val df = graft.sources.Importers.fromQdrant(s, q.toString)
        val ids = df.select("id").collect().map(_.getLong(0))
        val hashedOk = ids.count(_ < 0) == 2 && ids.count(_ == 7L) == 1 &&
          ids.toSet.size == 3
        val c = new graft.Collections(s, tmp.resolve("store").toString)
        c.create("uu", idCol = "id", vectorCol = Some("vector"))
        c.upsert("uu", df)
        c.upsert("uu", df) // re-import: same hashes → replace, not append
        val stable = c.count("uu") == 3
        val hid = ids.min
        val roundTrip = c.get("uu", Seq(hid)).count() == 1
        c.delete("uu", Seq(hid))
        val deleted = c.count("uu") == 2
        hashedOk && stable && roundTrip && deleted
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("uuid_ok"))
    },

    // ---- A5 edge, lifecycle-pinned: HAVING without GROUP BY is a
    // rejection (aggregation.rs:144-149; r15: was silently dropped) —
    // both with a plain select list AND over a global aggregate — while
    // HAVING with GROUP BY stays legal.
    QueryDef.lifecyclePin("q203_having_guard",
      "SELECT CAST(1 AS INT) AS having_ok") { (s, d) =>
      def compiler() =
        new graft.velesql.Compiler(s, new graft.velesql.Catalog(s, d))
      // Compiler.fail raises IllegalArgumentException("VelesQL: …");
      // Graft.sql maps it into the SemanticError taxonomy — accept either
      // surface but ONLY for the HAVING guard (a parse error must not pass)
      def rejectsHaving(q: String): Boolean = try { compiler().run(q); false }
        catch {
          case _: graft.velesql.SemanticError => true
          case e: IllegalArgumentException => e.getMessage.contains("HAVING")
        }
      val rejected =
        rejectsHaving("SELECT o_orderkey FROM orders HAVING min(o_totalprice) > 0") &&
          rejectsHaving("SELECT count(*) AS c FROM orders HAVING count(*) > 0")
      val grouped = compiler()
        .run("""SELECT o_orderpriority, count(*) AS c FROM orders
                |GROUP BY o_orderpriority HAVING count(*) > 0""".stripMargin)
        .collect()
      val allowed = grouped.length == 5 && grouped.forall(_.getLong(1) > 0)
      s.range(1).select(lit(if (rejected && allowed) 1 else 0)
        .cast("int").as("having_ok"))
    },

    // ---- snapshots lifecycle-pinned (agent/snapshot.rs:147-394
    // SnapshotManager create_versioned_snapshot / load_version /
    // list_versions): create → mutate → the time-travel read sees the
    // OLD state while live sees the new; restore republishes the
    // snapshot as the current generation WITHOUT breaking an in-flight
    // reader; list/drop round-trip. Promotes the snapshot unit specs
    // (r16 VERDICT #5) into the oracle gate.
    QueryDef.lifecyclePin("q204_snapshot_timetravel",
      "SELECT CAST(1 AS INT) AS snapshot_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q204")
      val ok = try {
        val c = new graft.Collections(s, tmp.resolve("store").toString)
        c.create("sn")
        c.upsert("sn", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
        c.snapshot("sn", "v1")
        c.upsert("sn", Seq((2L, "b2"), (3L, "c")).toDF("id", "v"))
        val live = c.table("sn").get
        val liveOk = live.count() == 3 &&
          live.where(col("id") === 2L).select("v").first().getString(0) == "b2"
        // time-travel READ: old state, live untouched
        val tt = c.snapshotTable("sn", "v1")
        val ttOk = tt.count() == 2 &&
          tt.where(col("id") === 2L).select("v").first().getString(0) == "b"
        val inflight = c.table("sn").get
        inflight.count() // resolve file lists BEFORE the restore publish
        c.restoreSnapshot("sn", "v1")
        val restoredOk = c.count("sn") == 2 && c.table("sn").get
          .where(col("id") === 2L).select("v").first().getString(0) == "b"
        // the pre-restore plan still reads (generation grace window)
        val inflightOk = inflight.count() == 3
        val listed = c.listSnapshots("sn") == Seq("v1")
        c.dropSnapshot("sn", "v1")
        val dropped = c.listSnapshots("sn").isEmpty
        liveOk && ttOk && restoredOk && inflightOk && listed && dropped
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("snapshot_ok"))
    },

    // ---- L5 mode-agnosticism, lifecycle-pinned: the analytics API's
    // mode='batch' and mode='stream' return IDENTICAL rows per op over
    // the same events table (doubles compared at 6dp — aggregation
    // order differs between any two plans). Promotes RestServerSpec's
    // REST-level equality into the oracle gate (r16 VERDICT #5).
    QueryDef.lifecyclePin("q205_analytics_mode_parity",
      "SELECT CAST(1 AS INT) AS mode_parity_ok") { (s, d) =>
      // row identity comes from the NON-double fields (group keys —
      // windows, user ids, event types: exact across any two plans);
      // doubles compare with a real 1e-6 tolerance, NOT fixed-precision
      // formatting — batch and stream sums legitimately differ in the
      // last ulp from aggregation order, and a value at a .5e-6
      // rounding boundary would make a %.6f comparison flake
      // (r17 review finding)
      def canon(df: DataFrame): Seq[(String, Seq[Double])] = {
        val names = df.columns.sorted.toSeq
        df.collect().map { r =>
          val parts = names.map(cn => cn -> r.get(r.fieldIndex(cn)))
          val key = parts.collect {
            case (cn, v) if !v.isInstanceOf[java.lang.Double] => s"$cn=$v"
          }.mkString(",")
          val nums = parts.collect {
            case (_, v: java.lang.Double) => v.doubleValue()
          }
          (key, nums)
        }.toSeq.sortBy(_._1)
      }
      val ok = Seq("window", "sessions", "attribution").forall { op =>
        val b = canon(StreamingOps.eventsAnalytics(s, d, op, "batch"))
        val st = canon(StreamingOps.eventsAnalytics(s, d, op, "stream"))
        b.nonEmpty && b.size == st.size &&
          b.zip(st).forall { case ((kb, nb), (ks, ns)) =>
            kb == ks && nb.size == ns.size &&
              nb.zip(ns).forall { case (x, y) => math.abs(x - y) <= 1e-6 }
          }
      }
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("mode_parity_ok"))
    },

    // ---- S7/L2 edge, lifecycle-pinned: the generation-GC grace keeps
    // a several-publishes-stale resolved plan readable through a
    // publish storm, while the COUNT cap (r17) bounds retained copies
    // to graceRetainMax + referenced. Promotes ManifestConcurrencySpec's
    // storm findings into the oracle gate (r16 VERDICT #5 + ADVICE).
    QueryDef.lifecyclePin("q206_gc_grace_storm",
      "SELECT CAST(1 AS INT) AS grace_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q206")
      val ok = try {
        val c = new graft.Collections(s, tmp.resolve("store").toString,
          generationGraceMs = 600000L, graceRetainMax = 3)
        c.create("g", buckets = 2)
        c.upsert("g", (1L to 40L).map(i => (i, i * 2)).toDF("id", "score"))
        val reader = c.table("g").get
        reader.count() // resolve file lists, then fall behind
        (1 to 3).foreach(i =>
          c.upsert("g", Seq((i.toLong, 900L + i)).toDF("id", "score")))
        // 3 publishes behind ≤ cap: the stale plan still reads fully
        val staleReads = reader.count() == 40
        (1 to 9).foreach(i =>
          c.upsert("g", Seq((i.toLong, 990L + i)).toDF("id", "score")))
        val dirs = graft.Collections.children(
            tmp.resolve("store").resolve("g"))
          .count(_.getFileName.toString.startsWith("points-g"))
        // ≤ cap grace-held + dirs the retained manifests reference
        val bounded = dirs <= 3 + 4
        val liveOk = c.count("g") == 40
        staleReads && bounded && liveOk
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("grace_ok"))
    },

    // ---- L5 streaming collection ingest, lifecycle-pinned: two
    // micro-batches through the foreachBatch upsert sink must land with
    // merge-by-id semantics (later batch wins per id), and the result
    // must be queryable through the language afterwards.
    QueryDef.lifecyclePin("q136_streaming_ingest",
      "SELECT CAST(1 AS INT) AS ingest_ok") { (s, _) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val tmp = java.nio.file.Files.createTempDirectory("graft-q136")
      val ok = try {
        val g = Graft(s, tmp.resolve("store").toString)
        g.collections.create("landing", idCol = "id", vectorCol = None)
        val mem = MemoryStream[(Long, String)]
        val q = StreamingOps.ingestStream(mem.toDF().toDF("id", "body"),
          g.collections, "landing", tmp.resolve("ckpt").toString)
        try {
          mem.addData((1L, "a"), (2L, "b"))
          q.processAllAvailable()
          mem.addData((2L, "b2"), (3L, "c")) // id 2 replaced by batch 2
          q.processAllAvailable()
        } finally q.stop()
        val rows = g.sql("SELECT id, body FROM landing ORDER BY id")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        rows == Seq((1L, "a"), (2L, "b2"), (3L, "c"))
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("ingest_ok"))
    },

    // ---- Skew salting (SURVEY §7.4 risk 5), value-level: the salted
    // join must produce EXACTLY the plain join's rows — DuckDB computes
    // the plain join directly, so any salt-key leak (dropped row,
    // duplicate from a bad replicate/probe split) breaks the hash.
    // Benchmarked: this is a real lineitem⋈orders shuffle workload.
    QueryDef("q135_skew_salted_join",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      import graft.operators.Skew
      val li = graft.Tables.table(s, d, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity"))
      val ord = graft.Tables.table(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      Skew.saltedJoin(li, ord, "k", salt = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          // Exact sum with DOUBLE output (the correctness driver
          // normalizes Spark decimal(18,4) and DuckDB DECIMAL(38,4)
          // differently — q01 dsum convention); int128 fixed-point
          // aggregate, same value as the decimal sum it replaced
          round(org.apache.spark.sql.graft.FixedPointSum
            .dsumD(col("l_quantity"), 4), 4).as("qty"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- Collection-level storage mode (StorageMode::{Full,SQ8,Binary},
    // collection/types.rs:32-61), lifecycle-pinned: an sq8 collection's
    // bare NEAR must equal the explicit WITH (quantization='sq8') path,
    // an explicit 'full' must restore the exact scores, and the sq8
    // regime must actually be approximate (scores differ from exact).
    QueryDef.lifecyclePin("q137_storage_mode",
      "SELECT CAST(1 AS INT) AS storage_mode_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q137")
      val ok = try {
        val g = Graft(s, tmp.toString)
        val rows = (1L to 40L).map { i =>
          (i, (0 until 8).map(d => math.sin(i * 0.37 + d * 1.3).toFloat))
        }
        g.collections.create("sq8col", idCol = "id", vectorCol = Some("vec"),
          storageMode = Some("sq8"))
        g.collections.upsert("sq8col", rows.toDF("id", "vec"))
        g.collections.create("fullcol", idCol = "id", vectorCol = Some("vec"))
        g.collections.upsert("fullcol", rows.toDF("id", "vec"))
        val q = (0 until 8).map(d => math.cos(d * 0.7).toFloat)
        def run(sql: String): Seq[(Long, Double)] =
          g.sql(sql, Map("q" -> q)).select("id", "score")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val bare = run("SELECT id, score FROM sq8col WHERE vector NEAR $q LIMIT 5")
        val explicitSq8 = run(
          "SELECT id, score FROM sq8col WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'sq8')")
        val overridden = run(
          "SELECT id, score FROM sq8col WHERE vector NEAR $q LIMIT 5 WITH (quantization = 'full')")
        val exact = run("SELECT id, score FROM fullcol WHERE vector NEAR $q LIMIT 5")
        bare == explicitSq8 && overridden == exact &&
          bare.map(_._2) != exact.map(_._2)
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("storage_mode_ok"))
    },

    // ---- Half-precision storage modes (half_precision.rs: f16 IEEE
    // binary16 + bf16, "50% memory, minimal precision loss"),
    // lifecycle-pinned: create-time `storage_mode='f16'/'bf16'` rounds
    // every stored vector through the declared precision at publish
    // (the exact value set VectorData::from_f32_slice holds), reads
    // score full f32 over the rounded values (to_f32_vec). The pin
    // checks the stored values ARE the kernel-rounded ones, NEAR keeps
    // the full twin's ids while its scores move by the precision loss,
    // and the loss is bounded (f16 keeps ~3 decimal digits).
    QueryDef.lifecyclePin("q187_storage_half",
      "SELECT CAST(1 AS INT) AS half_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q187")
      val ok = try {
        val g = Graft(s, tmp.toString)
        val rows = (1L to 40L).map { i =>
          (i, (0 until 8).map(d => math.sin(i * 0.37 + d * 1.3).toFloat))
        }
        for ((name, mode) <- Seq(("hf16", Some("f16")), ("hbf16", Some("bf16")),
            ("hfull", None))) {
          g.collections.create(name, idCol = "id", vectorCol = Some("vec"),
            storageMode = mode)
          g.collections.upsert(name, rows.toDF("id", "vec"))
        }
        def stored(name: String): Map[Long, Seq[Float]] =
          g.collections.table(name).get.select("id", "vec").collect()
            .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
        import graft.functions.VectorKernels.{bf16RoundScalar, f16RoundScalar}
        val roundedOk = stored("hf16").forall { case (id, v) =>
          v == rows(id.toInt - 1)._2.map(f16RoundScalar)
        } && stored("hbf16").forall { case (id, v) =>
          v == rows(id.toInt - 1)._2.map(bf16RoundScalar)
        }
        val q = (0 until 8).map(d => math.cos(d * 0.7).toFloat)
        def run(name: String): Seq[(Long, Double)] =
          g.sql(s"SELECT id, score FROM $name WHERE vector NEAR $$q LIMIT 5",
            Map("q" -> q)).select("id", "score")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val (hf, hb, full) = (run("hf16"), run("hbf16"), run("hfull"))
        // f16 (10 mantissa bits) preserves this top-5 ORDER; bf16 (7
        // bits, ~0.4% per-component error) genuinely flips the
        // 1.8e-4-separated ranks 1-2 — so bf16 pins the id SET and
        // per-id score proximity, not positions. That flip is the
        // documented precision trade, not a defect.
        val fullById = full.toMap
        val searchOk = hf.map(_._1) == full.map(_._1) &&
          hb.map(_._1).toSet == full.map(_._1).toSet &&
          hf.map(_._2) != full.map(_._2) &&
          hf.zip(full).forall { case ((_, a), (_, b)) => math.abs(a - b) < 1e-3 } &&
          hb.forall { case (id, sc) => math.abs(sc - fullById(id)) < 1e-2 }
        roundedOk && searchOk
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("half_ok"))
    },

    // ---- Incremental MERGE upsert + generation retention (reference:
    // in-place id-replace crud.rs:19-127, compaction/autovacuum
    // storage/compaction.rs), lifecycle-pinned: a batch rewrites ONLY
    // the bucket files its ids hash to (file-level assert — the
    // O(batch)-not-O(collection) ingest shape at 100 TB), deletes are
    // bucket-pruned, retention bounds superseded generations, vacuum
    // reclaims to the current one, and the upsert→delete→vacuum→compact
    // sequence lands exactly the expected rows.
    QueryDef.lifecyclePin("q194_merge_lifecycle",
      "SELECT CAST(1 AS INT) AS merge_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q194")
      val ok = try {
        val g = Graft(s, tmp.toString)
        val cols = g.collections
        cols.create("mc", idCol = "id", buckets = 8)
        cols.upsert("mc", (1L to 400L).map(i => (i, s"v$i")).toDF("id", "payload"))
        def files = cols.table("mc").get.inputFiles.toSet
        val before = files
        cols.upsert("mc", Seq((1L, "v1b"), (2L, "v2b")).toDF("id", "payload"))
        val afterUpsert = files
        val incrementalOk = (before -- afterUpsert).size <= 2 &&
          before.intersect(afterUpsert).nonEmpty
        val beforeDel = files
        cols.delete("mc", Seq(3L))
        val prunedDeleteOk = (beforeDel -- files).size <= 1
        cols.snapshot("mc", "pin")
        cols.vacuum("mc")
        val gens = graft.Collections.children(tmp.resolve("mc"))
          .count(_.getFileName.toString.startsWith("points.manifest-"))
        cols.compact("mc", 1)
        val contentOk = cols.count("mc") == 399 &&
          cols.get("mc", Seq(1L)).select("payload").first().getString(0) == "v1b" &&
          cols.get("mc", Seq(3L)).count() == 0 &&
          cols.snapshotTable("mc", "pin").count() == 399
        incrementalOk && prunedDeleteOk && gens == 1 && contentOk
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("merge_ok"))
    },

    // ---- Strict graph schema (collection/graph/schema.rs:1-300),
    // lifecycle-pinned: declared node/edge types + typed properties are
    // accepted; unknown labels, mistyped properties, and reversed
    // endpoints reject with SemanticError; MATCH runs over the typed
    // edges that landed.
    QueryDef.lifecyclePin("q138_graph_schema",
      "SELECT CAST(1 AS INT) AS schema_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q138")
      val ok = try {
        val g = Graft(s, tmp.toString)
        val schema =
          """{"schemaless": false,
            | "node_types": [{"name": "Person", "properties": {"name": "string"}},
            |                {"name": "Doc", "properties": {"title": "string"}}],
            | "edge_types": [{"name": "wrote", "from_type": "Person",
            |                 "to_type": "Doc", "properties": {"year": "integer"}}]}""".stripMargin
        g.collections.create("kg", idCol = "id", graphSchema = Some(schema))
        g.collections.upsert("kg",
          Seq((1L, Seq("Person"), "ann"), (2L, Seq("Doc"), "paper"))
            .toDF("id", "labels", "name"))
        def rejects(f: => Unit): Boolean =
          try { f; false } catch { case _: graft.velesql.SemanticError => true }
        val badNode = rejects(g.collections.upsert("kg",
          Seq((9L, Seq("Alien"), "zork")).toDF("id", "labels", "name")))
        val badEdge = rejects(g.collections.upsertEdges("kg",
          Seq((10L, 1L, 2L, "likes")).toDF("id", "src", "dst", "label")))
        val badProp = rejects(g.collections.upsertEdges("kg",
          Seq((10L, 1L, 2L, "wrote", "not-a-year"))
            .toDF("id", "src", "dst", "label", "year")))
        val badEndpoint = rejects(g.collections.upsertEdges("kg",
          Seq((10L, 2L, 1L, "wrote")).toDF("id", "src", "dst", "label")))
        g.collections.upsertEdges("kg",
          Seq((10L, 1L, 2L, "wrote", 2020L)).toDF("id", "src", "dst", "label", "year"))
        val matched = g.sql(
          "MATCH (a)-[:wrote]->(b) RETURN a.id AS src_id, b.id AS dst_id",
          graphScope = Some("kg")).collect()
        badNode && badEdge && badProp && badEndpoint &&
          matched.length == 1 && matched.head.getLong(0) == 1L &&
          matched.head.getLong(1) == 2L
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("schema_ok"))
    },

    // ---- ANN index tiers over USER collections, lifecycle-pinned (the
    // reference's primary search surface is its auto-indexed
    // collections, index/hnsw/native_index.rs:317): the materialized
    // LSH / IVF / PQ structures — previously dataset-table-only — build
    // against a collection's CURRENT points generation and REBUILD when
    // an upsert publishes a new one. Pins: (1) accurate LSH probe vs
    // perfect recall ≥ 8/10; (2) IVF cell probe likewise; (3) PQ ADC
    // rerank returns exact scores; (4) after upserting a vector equal to
    // the query, the probed search finds it at rank 1 — stale index
    // would miss it (build-on-read stamp invalidation).
    QueryDef.lifecyclePin("q142_collection_ann",
      "SELECT CAST(1 AS INT) AS collection_ann_ok") { (s, _) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-q142")
      val ok = try {
        val g = Graft(s, tmp.toString)
        val dim = 16
        val rows = (1L to 200L).map { i =>
          (i, (0 until dim).map(d => math.sin(i * 0.37 + d * 1.3).toFloat))
        }
        g.collections.create("vecs", idCol = "id", vectorCol = Some("vec"))
        g.collections.upsert("vecs", rows.toDF("id", "vec"))
        val q = (0 until dim).map(d => math.cos(d * 0.7).toFloat)
        def ids(sql: String): Seq[Long] =
          g.sql(sql, Map("q" -> q)).select("id").collect().map(_.getLong(0)).toSeq
        def scores(sql: String): Map[Long, Double] =
          g.sql(sql, Map("q" -> q)).select("id", "score")
            .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val perfect = ids("SELECT id FROM vecs WHERE vector NEAR $q LIMIT 10")
        val lsh = ids("SELECT id FROM vecs WHERE vector NEAR $q LIMIT 10 " +
          "WITH (mode = 'accurate')")
        val ivf = ids("SELECT id FROM vecs WHERE vector NEAR $q LIMIT 10 " +
          "WITH (mode = 'accurate', index = 'ivf')")
        val exactScores = scores("SELECT id, score FROM vecs WHERE vector NEAR $q LIMIT 10")
        val pqScores = scores("SELECT id, score FROM vecs WHERE vector NEAR $q " +
          "LIMIT 10 WITH (quantization = 'pq', oversampling = 16)")
        val lshOk = lsh.toSet.intersect(perfect.toSet).size >= 8
        val ivfOk = ivf.toSet.intersect(perfect.toSet).size >= 8
        val pqOk = pqScores.nonEmpty && pqScores.forall { case (id, sc) =>
          exactScores.get(id).forall(e => math.abs(e - sc) < 1e-9)
        }
        // upsert the query vector itself: the probed search must see the
        // new generation (a stale materialized index would miss id 999)
        g.collections.upsert("vecs", Seq((999L, q)).toDF("id", "vec"))
        val after = ids("SELECT id FROM vecs WHERE vector NEAR $q LIMIT 3 " +
          "WITH (mode = 'accurate')")
        val rebuildOk = after.headOption.contains(999L)
        lshOk && ivfOk && pqOk && rebuildOk
      } finally graft.Collections.deleteRec(tmp)
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("collection_ann_ok"))
    },

    // ---- §2.13 language-surface contract, lifecycle-pinned: the error
    // taxonomy (Syntax/NotFound/Semantic/CostLimit raised for the right
    // inputs), EXPLAIN intent rendering, parse-cache identity, and the
    // cost guardrails — all previously ScalaTest-only.
    QueryDef.lifecyclePin("q134_language_contract",
      "SELECT CAST(1 AS INT) AS contract_ok") { (s, d) =>
      val g = Graft(s, d)
      val syntaxOk =
        try { g.sql("SELEC nope"); false }
        catch { case _: graft.velesql.SyntaxError => true }
      val notFoundOk =
        try { g.sql("SELECT * FROM no_such_table"); false }
        catch { case _: graft.velesql.NotFoundError => true }
      val semanticOk =
        try { g.sql("SELECT doc_id FROM documents LIMIT 5 WITH (bogus_key = 1)"); false }
        catch { case _: graft.velesql.SemanticError => true }
      val ex = g.explain(
        "SELECT doc_id FROM documents WHERE n_chars > 10 ORDER BY doc_id LIMIT 5")
      val explainOk = ex.contains("TableScan") && ex.contains("Limit(5)")
      val ast1 = g.parse("SELECT doc_id FROM documents")
      val ast2 = g.parse("SELECT doc_id FROM documents")
      val cacheOk = ast1 eq ast2 // LRU hit returns the SAME AST instance
      val costOk = {
        val limited = new Graft(s, d, maxCost = 1L)
        try { limited.sql("SELECT * FROM lineitem"); false }
        catch { case _: graft.velesql.CostLimitError => true }
      }
      val ok = syntaxOk && notFoundOk && semanticOk && explainOk && cacheOk && costOk
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("contract_ok"))
    },

    // ---- L5 Structured Streaming, value-level: the events FILE STREAM
    // through the watermarked window aggregation (micro-batch execution,
    // AvailableNow trigger, memory sink), checked against DuckDB's batch
    // time_bucket over the same rows. 6h tumbling windows are
    // epoch-aligned in both engines (2000-01-01 origin is a multiple of
    // 6h from the epoch), so win_start/win_end hash-match exactly.
    QueryDef("q127_streaming_window",
      """SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start,
        |  time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR AS win_end,
        |  event_type, count(*) AS cnt, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin) { (s, d) =>
      val agg = StreamingOps.windowedAgg(
        StreamingOps.eventsStream(s, d), "6 hours", "6 hours", "1 hour")
      val qn = s"q127_sink_${System.nanoTime()}"
      withStreamParts(s, streamParts(s, d, 4)) { withCkpt("graft-q127-") { ck =>
        val q = agg.writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", ck)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        // awaitTermination returns FALSE on timeout (no exception) — a
        // silent false would read a partial sink and misreport a
        // sessionization/windowing bug instead of the timeout
        try require(q.awaitTermination(300000), s"$qn timed out after 300 s")
        finally q.stop()
      } }
      // materialize off the sink, then DROP its temp view — a run per
      // bench rep would otherwise accumulate memory-sink tables in the
      // long-lived shared session
      val out = s.table(qn)
        .select(col("win_start"), col("win_end"), col("event_type"),
          col("cnt"), round(col("total_value"), 4).as("total_value"))
        .orderBy(col("win_start"), col("event_type"))
        .localCheckpoint(true)
      s.catalog.dropTempView(qn)
      out
    },

    // ---- L5 session windows, value-level: the events file stream
    // through gap-based session_window aggregation, checked against
    // classic SQL sessionization in DuckDB (lag-gap marks → running sum
    // session ids). Spark's session end = last event + gap, mirrored by
    // max(ts) + INTERVAL on the oracle side.
    QueryDef("q131_streaming_sessions",
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS session_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val agg = StreamingOps.sessionAgg(
        StreamingOps.eventsStream(s, d), "30 minutes", "1 hour")
      val qn = s"q131_sink_${System.nanoTime()}"
      withStreamParts(s, streamParts(s, d, 4)) { withCkpt("graft-q131-") { ck =>
        val q = agg.writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", ck)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        // see q127: FALSE from awaitTermination means timeout, fail loudly
        try require(q.awaitTermination(300000), s"$qn timed out after 300 s")
        finally q.stop()
      } }
      val out = s.table(qn)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("session_value"), 4).as("session_value"))
        .orderBy(col("user_id"), col("session_start"))
        .localCheckpoint(true)
      s.catalog.dropTempView(qn)
      out
    },

    // ---- L5 stream-stream interval join, value-level: click→purchase
    // attribution per user within 30 minutes, both legs watermarked file
    // streams (state bounded by watermark + interval, stock
    // stream-stream join cleanup), checked against the plain batch
    // interval join in DuckDB. Append mode — every joined pair is
    // emitted exactly once.
    QueryDef("q147_streaming_join",
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  c.user_id, round(p.value, 4) AS purchase_value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val joined = StreamingOps.intervalJoin(StreamingOps.eventsStream(s, d))
      val qn = s"q147_sink_${System.nanoTime()}"
      withStreamParts(s, 4) { withCkpt("graft-q147-") { ck =>
        val q = joined.writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", ck)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        // see q127: FALSE from awaitTermination means timeout, fail loudly
        try require(q.awaitTermination(300000), s"$qn timed out after 300 s")
        finally q.stop()
      } }
      val out = s.table(qn)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          round(col("purchase_value"), 4).as("purchase_value"))
        .orderBy(col("click_id"), col("purchase_id"))
        .localCheckpoint(true)
      s.catalog.dropTempView(qn)
      out
    },

    // ---- L5 keyed state + streaming dedup, lifecycle-pinned: the two
    // streaming surfaces a SQL oracle can't replay (multi-batch state
    // evolution). mapGroupsWithState must CARRY state across micro-
    // batches; dropDuplicatesWithinWatermark must keep first arrivals
    // only. Both run on MemoryStreams with explicit batch boundaries.
    QueryDef.lifecyclePin("q132_streaming_state",
      "SELECT CAST(1 AS INT) AS state_ok") { (s, _) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      def ts(t: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(t)

      // keyed state: snapshots after batch 1 then batch 2 show carry
      val mem = MemoryStream[StreamingOps.UserEvent]
      val qn = s"q132_state_${System.nanoTime()}"
      val q = StreamingOps.runningUserState(mem.toDS())
        .writeStream.format("memory").queryName(qn)
        .outputMode("update").start()
      val stateOk = try {
        mem.addData(StreamingOps.UserEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
          StreamingOps.UserEvent(1L, ts("2024-01-01 10:01:00"), 2.0))
        q.processAllAvailable()
        mem.addData(StreamingOps.UserEvent(1L, ts("2024-01-01 10:05:00"), 4.0))
        q.processAllAvailable()
        val snaps = s.table(qn).as[StreamingOps.UserSnapshot].collect()
          .filter(_.user_id == 1L).sortBy(_.n_events)
          .map(u => (u.n_events, u.total_value)).toSeq
        snaps == Seq((2L, 3.0), (3L, 7.0)) // batch-2 state carried 2 -> 3
      } finally { q.stop(); s.catalog.dropTempView(qn) }

      // streaming dedup: duplicate content within the watermark dropped
      val mem2 = MemoryStream[(java.sql.Timestamp, Long, String)]
      val qn2 = s"q132_dedup_${System.nanoTime()}"
      val body = "the quick brown fox jumps over the lazy dog again"
      val q2 = StreamingOps.dedupStream(
          mem2.toDF().toDF("ts", "doc_id", "text"), "1 hour")
        .writeStream.format("memory").queryName(qn2)
        .outputMode("append").start()
      val dedupOk = try {
        mem2.addData((ts("2024-01-01 10:00:00"), 1L, body),
          (ts("2024-01-01 10:05:00"), 2L, body), // same-batch dup
          (ts("2024-01-01 10:10:00"), 3L, "a different document body"))
        q2.processAllAvailable()
        mem2.addData((ts("2024-01-01 10:20:00"), 4L, body)) // cross-batch dup
        q2.processAllAvailable()
        val ids = s.table(qn2).select("doc_id").collect().map(_.getLong(0)).toSet
        ids == Set(1L, 3L) // first arrival per hash survives, 2 and 4 drop
      } finally { q2.stop(); s.catalog.dropTempView(qn2) }

      s.range(1).select(
        lit(if (stateOk && dedupOk) 1 else 0).cast("int").as("state_ok"))
    },

    // ---- Multimodal columns, value-level: documents → opaque binary
    // media (bytes = UTF-8 text, a deterministic stand-in) → the
    // mapPartitions feature kernel (16-bin nibble histogram + mean byte)
    // → per-kind rollup, plus the frame-sampler row count. The oracle
    // recomputes the same features character-wise in DuckDB — valid
    // because the corpus is pure ASCII (1 char = 1 byte; unicode(c) =
    // byte value), which makes the STUB kernel fully oracle-checkable
    // even though a real codec would not be.
    QueryDef("q128_multimodal",
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(n_chars AS BIGINT) AS n_bytes,
        |    CAST(doc_id % 7 + 1 AS BIGINT) AS declared_frames,
        |    list_avg(list_transform(string_split(text, ''),
        |      c -> unicode(c))) AS feat_mean,
        |    list_avg(list_transform(string_split(text, ''),
        |      c -> CASE WHEN unicode(c) < 16 THEN 1.0 ELSE 0.0 END)) AS hist0
        |  FROM documents)
        |SELECT kind, count(*) AS n, round(avg(n_bytes), 4) AS avg_bytes,
        |  round(avg(feat_mean), 4) AS avg_feat,
        |  round(avg(hist0), 6) AS avg_hist0,
        |  CAST(sum(CASE WHEN kind = 'video' THEN declared_frames ELSE 0 END) AS BIGINT) AS n_frames
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin) { (s, d) =>
      val media = MultiModal.mediaFromDocuments(s, d)
      val feats = MultiModal.extractFeatures(media)
      val frames = MultiModal.sampleFrames(media)
        .groupBy(lit("video").as("kind")).agg(count(lit(1)).as("n_frames"))
      feats.groupBy(col("kind")).agg(
          count(lit(1)).as("n"),
          round(avg(col("meta.n_bytes")), 4).as("avg_bytes"),
          round(avg(col("feat_mean")), 4).as("avg_feat"),
          round(avg(element_at(col("feat_hist"), 1)), 6).as("avg_hist0"))
        .join(frames, Seq("kind"), "left")
        .withColumn("n_frames", coalesce(col("n_frames"), lit(0L)))
        .orderBy(col("kind"))
    }
  )
}
