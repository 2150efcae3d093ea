package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import com.fasterxml.jackson.databind.JsonNode
import graft.Graft
import graft.server.RestServer

import scala.jdk.CollectionConverters._

/** The serving workload over one user collection, in two phases after
  * the set-up:
  *
  *  - read phase: a fixed list of reads in the mix's shares (half of each
  *    kind repeats the kind's hot request, half carry fresh parameters),
  *    taken by the clients from a shared queue, no writes;
  *  - write phase: a fixed list of ops in blocks of 10 (6 fresh reads,
  *    one of each kind but GET, 2 upserts of 50 points, 1 upsert of 50
  *    edges, 1 delete of 10 ids, which the REST surface takes as 10
  *    single-id requests);
  *    no two ops touch the same point, so the expected final state does
  *    not depend on how the clients interleave.
  *
  * Both lists are fixed by the seed and the run time, so every run of a
  * seed sends the same requests and makes the same number of publishes.
  * Untraced runs drive the REST server with one closed-loop thread per
  * client. A traced run uses one client: a short REST read phase with no
  * spans, then both phases in-process through the calls the routes make,
  * alternating traced and untraced reads of each kind. */
object Serve {
  import Requests.{Collection, K}

  final case class Sizes(points: Int, dim: Int, edges: Int, vocab: Int, clusters: Int)
  val Full = Sizes(points = 5000, dim = 64, edges = 10000, vocab = 2000, clusters = 32)
  val Tiny = Sizes(points = 800, dim = 16, edges = 1600, vocab = 200, clusters = 8)

  /** Id-hash buckets of the collection, sized per the engine's create-time
    * guidance (one bucket per ~1 MB here; each bucket is one rewrite and
    * index-piece unit). */
  private val Buckets = 4

  /** Per full 10 s of run time, the read phase deals one 20-card deck and
    * the write phase runs one 10-op block. One closed-loop client: on a
    * few-core host a second client's request queues for the same cores and
    * the publish lock, which made latencies swing from run to run. */
  private val Clients = 1
  private val DeckSize = 20
  private val UnitSeconds = 10.0

  /** One timed operation. `ms` is +Infinity when the op failed. */
  final case class Sample(kind: String, hot: Boolean, write: Boolean,
      startNs: Long, endNs: Long, ms: Double)

  /** The benchmark's own copy of the collection's state. */
  final class Model(val corpus: Corpus) {
    val points = new java.util.concurrent.ConcurrentHashMap[Long, Point]()
    corpus.points.foreach(p => points.put(p.id, p))
    val deleted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val edgeIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    corpus.edges.foreach(e => edgeIds.add(e.id))
    /** ids whose write was not acknowledged: their state is unknown */
    val unknown = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    lazy val adjacency: Map[Long, Array[Long]] =
      corpus.edges.groupBy(_.src).map { case (s, es) => s -> es.map(_.dst) }
    lazy val tokens: Array[Set[String]] = corpus.points.map(p => Corpus.tokens(p.text))

    def userBytes: Long =
      points.values().asScala.map(_.userBytes).sum +
        edgeIds.size.toLong * (24L + Corpus.EdgeLabel.length)

    def apply(w: WriteOp, acked: Boolean): Unit = w match {
      case Upsert(ps) => ps.foreach { p =>
        if (acked) { points.put(p.id, p); deleted.remove(p.id) } else unknown.add(p.id)
      }
      case UpsertEdges(es) => if (acked) es.foreach(e => edgeIds.add(e.id))
      case Delete(ids) => ids.foreach { id =>
        if (acked) { points.remove(id); deleted.add(id) } else unknown.add(id)
      }
    }
  }

  /** Deck of read kinds in the mix's shares (`size` cards); with
    * `hotHalf`, alternate cards of each kind are hot. */
  def deck(size: Int, hotHalf: Boolean): Seq[(String, Boolean)] =
    Requests.ReadMix.flatMap { case (k, w) =>
      (0 until math.round(w * size).toInt).map(i => (k, hotHalf && i % 2 == 0))
    }

  def shuffled[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  /** The hot set: one fixed request per kind. The set-up's first touch
    * of each kind is its hot request, so hot reads find their plan in the
    * memo, as repeated requests of a running service do. */
  def hotSet(c: Corpus, r: SplittableRandom): Map[String, Req] =
    Requests.ReadMix.map { case (k, _) => k -> Requests.fresh(c, r, k, hot = true) }.toMap

  /** `decks` shuffled decks of reads, half hot. */
  def readList(c: Corpus, hot: Map[String, Req], decks: Int, r: SplittableRandom): Seq[Req] =
    (0 until decks).flatMap(_ => shuffled(deck(DeckSize, hotHalf = true), r)).map { case (k, h) =>
      if (h) hot(k) else Requests.fresh(c, r, k, hot = false)
    }

  /** Write-phase block: the op order is fixed, so every run makes the same
    * reads right after the same publishes (the first BM25, hybrid or ANN
    * read after a publish rebuilds that index's touched pieces). */
  private val Block: Seq[String] = Seq("upsert", "knn_exact", "bm25", "upsert", "knn_ann",
    "hybrid", "upsert_edges", "match2", "delete", "knn_filtered")

  /** `blocks` blocks of 10 ops. Every write takes its ids from `pool`
    * (existing ids, without replacement) or mints new ones, so no two ops
    * touch one point. */
  def opList(c: Corpus, blocks: Int, pool: Iterator[Long], firstNew: Long,
      r: SplittableRandom): Seq[Either[Req, WriteOp]] = {
    var nextId = firstNew
    var nextEdge = firstNew
    (0 until blocks).flatMap { _ =>
      Block.map {
        case "upsert" =>
          val over = pool.take(30).toSeq
          val added = (0 until 20).map { _ => nextId += 1; nextId }
          Right(Upsert((over ++ added).map(id => c.point(id, r))))
        case "upsert_edges" =>
          Right(UpsertEdges((0 until 50).map { _ =>
            nextEdge += 1
            val s = r.nextInt(c.nPoints).toLong
            Edge(nextEdge, s, (s + 1 + r.nextInt(c.nPoints - 1)) % c.nPoints)
          }))
        case "delete" => Right(Delete(pool.take(10).toSeq))
        case read => Left(Requests.fresh(c, r, read, hot = false))
      }
    }
  }

  final case class SetupStats(seconds: Double, loadMs: Seq[Double], touchMs: Seq[(String, Double)]) {
    def annFirstS: Double = touchMs.find(_._1 == "knn_ann").map(_._2 / 1e3).getOrElse(Double.NaN)
  }

  /** Fresh data dir: create, bulk-load points and edges, then touch every
    * read kind once with its hot request (ANN index build, BM25 postings,
    * codegen). */
  def setup(spark: org.apache.spark.sql.SparkSession, c: Corpus, dir: Path,
      hot: Map[String, Req]): (Graft, InProcess, SetupStats) = {
    val t0 = System.nanoTime()
    val g = new Graft(spark, dir.toString)
    g.collections.create(Collection, idCol = "id", vectorCol = Some("vector"),
      buckets = Buckets)
    def timed(body: => Unit): Double = {
      val a = System.nanoTime(); body; (System.nanoTime() - a) / 1e6
    }
    val loadMs = Seq(
      timed(g.collections.upsert(Collection, Corpus.pointsFrame(spark, c.points.toSeq))),
      timed(g.collections.upsertEdges(Collection, Corpus.edgesFrame(spark, c.edges.toSeq))))
    val ip = new InProcess(g)
    val touchMs = Requests.ReadMix.map { case (k, _) => k -> timed(ip.read(hot(k), Tracer.off)) }
    (g, ip, SetupStats((System.nanoTime() - t0) / 1e9, loadMs, touchMs))
  }

  /** Check a read-phase answer against the benchmark's own model. */
  def checkRead(m: Model, gates: Gates, q: Req, rows: Seq[JsonNode], recall: Recall): Unit = {
    val c = m.corpus
    def id(r: JsonNode) = r.get("id").asLong
    q.kind match {
      case "knn_exact" | "knn_filtered" =>
        val gate = s"${q.kind}_topk"
        val qv = if (gates.corrupted(gate)) q.vec.map(-_) else q.vec
        val cand = if (q.kind == "knn_filtered") c.points.filter(_.category == q.cat).toSeq
          else c.points.toSeq
        val exp = Corpus.bruteTopK(cand, qv, K)
        val got = rows.map(r => (id(r), r.get("score").asDouble))
        val kth = exp.last._2
        val ok = got.size == exp.size && got.map(_._1).distinct.size == got.size &&
          got.forall { case (i, s) =>
            val p = c.points(i.toInt)
            val t = Corpus.cosine(qv, p.vector)
            math.abs(t - s) < 1e-3 && t >= kth - 1e-4 &&
              (q.kind != "knn_filtered" || p.category == q.cat)
          }
        gates.check(gate, ok, s"got ${got.take(10)} expected ${exp.take(10)}")
      case "knn_ann" =>
        val exp = Corpus.bruteTopK(c.points, q.vec, K).map(_._1).toSet
        recall.add(rows.map(id).count(exp.contains), exp.size)
      case "bm25" =>
        val terms = if (gates.corrupted("bm25_term")) Set("zzzz") else Corpus.tokens(q.queryText)
        val matching = m.tokens.count(_.exists(terms.contains))
        val ok = rows.size == math.min(K, matching) && rows.forall(r =>
          Corpus.tokens(r.get("payload").get("text").asText).exists(terms.contains))
        gates.check("bm25_term", ok, s"query '${q.queryText}' got ${rows.size} rows of $matching matching")
      case "hybrid" =>
        val bound = if (gates.corrupted("hybrid_ids")) 0 else c.nPoints
        gates.check("hybrid_ids", rows.nonEmpty && rows.size <= K &&
          rows.forall(r => id(r) >= 0 && id(r) < bound), s"hybrid rows ${rows.map(id)}")
      case "match2" =>
        val shift = if (gates.corrupted("match2_adjacency")) 1L else 0L
        val exp = m.adjacency.getOrElse(q.node, Array.empty[Long])
          .flatMap(b => m.adjacency.getOrElse(b, Array.empty[Long])).map(_ + shift).toSet
        val got = rows.map(_.get("d").asLong).toSet
        gates.check("match2_adjacency", got.subsetOf(exp) && (exp - q.node).subsetOf(got),
          s"start ${q.node} got ${got.toSeq.sorted.take(20)} expected ${exp.toSeq.sorted.take(20)}")
      case "get" =>
        val p = c.points(q.node.toInt)
        gates.check("get_payload", samePoint(rows.headOption, p, gates.corrupted("get_payload")),
          s"id ${q.node} got ${rows.headOption.map(_.toString.take(120))}")
    }
  }

  /** Does a returned point row carry exactly the stored payload? */
  def samePoint(row: Option[JsonNode], p: Point, corrupt: Boolean): Boolean = row.exists { r =>
    val text = if (corrupt) p.text + "#" else p.text
    val v = r.get("vector")
    r.get("id").asLong == p.id && r.get("text").asText == text &&
      r.get("category").asText == p.category && r.get("price").asDouble == p.price &&
      v != null && v.size == p.vector.length &&
      p.vector.indices.forall(i => math.abs(v.get(i).asDouble - p.vector(i)) < 1e-6)
  }

  final class Recall {
    private var hit = 0L
    private var total = 0L
    def add(h: Int, t: Int): Unit = synchronized { hit += h; total += t }
    def value: Double = synchronized { if (total == 0) Double.NaN else hit.toDouble / total }
  }

  /** Size of every file under `dir`, by relative path. */
  def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Runs one read or write op over REST (`rest`) or in-process. */
  final class Executor(m: Model, gates: Gates, recall: Recall,
      rest: Option[RestClient], ip: InProcess) {
    def read(q: Req, check: Boolean, tr: Tracer): (Sample, Seq[JsonNode]) = {
      val t0 = System.nanoTime()
      val rows: Option[Seq[JsonNode]] = try rest match {
        case Some(cl) =>
          val (meth, path, body) = Requests.rest(q)
          val (code, out) = cl.call(meth, path, body)
          if (code == 200) Some(Requests.rows(q.kind, out))
          else { gates.check("request_status", ok = false, s"${q.kind} $code ${out.take(200)}"); None }
        case None => Some(ip.read(q, tr))
      } catch { case e: Exception => gates.check("request_error", ok = false, e.toString); None }
      val t1 = System.nanoTime()
      rows.foreach { rs =>
        if (check) checkRead(m, gates, q, rs, recall)
        else gates.check("read_shape", rs.size <= K || q.kind == "match2", s"${q.kind} ${rs.size} rows")
      }
      (Sample(q.kind, q.hot, write = false, t0, t1,
        if (rows.isDefined) (t1 - t0) / 1e6 else Double.PositiveInfinity), rows.getOrElse(Nil))
    }

    /** One sample per request: over REST a 10-id delete is 10 requests;
      * in-process it is one batch call. */
    def write(w: WriteOp, tr: Tracer): Seq[Sample] = {
      def timed(body: => Boolean): Sample = {
        val t0 = System.nanoTime()
        val ok = try body
          catch { case e: Exception => gates.check("request_error", ok = false, e.toString); false }
        val t1 = System.nanoTime()
        Sample(w.kind, hot = false, write = true, t0, t1,
          if (ok) (t1 - t0) / 1e6 else Double.PositiveInfinity)
      }
      val samples = rest match {
        case Some(cl) => Requests.rest(w).map { case (meth, path, body) => timed {
          val (code, out) = cl.call(meth, path, body)
          if (code != 200) gates.check("request_status", ok = false, s"${w.kind} $code ${out.take(200)}")
          code == 200
        } }
        case None => Seq(timed { ip.write(w, tr); true })
      }
      val ok = samples.forall(!_.ms.isInfinite)
      m.apply(w, ok)
      if (ok) readYourWrite(w)
      samples
    }

    /** The writer reads back one point it just wrote (or deleted). */
    private def readYourWrite(w: WriteOp): Unit = {
      val corrupt = gates.corrupted("read_your_writes")
      def fetch(id: Long): Option[JsonNode] = rest match {
        case Some(cl) =>
          val (code, body) = cl.call("GET", s"/collections/$Collection/points/$id", null)
          if (code == 200) Some(Requests.mapper.readTree(body)) else None
        case None => ip.read(Req("get", hot = false, Array.empty, "", Nil, id), Tracer.off).headOption
      }
      w match {
        case Upsert(ps) =>
          val p = ps(ps.size / 2)
          gates.check("read_your_writes", samePoint(fetch(p.id), p, corrupt), s"upserted id ${p.id}")
        case Delete(ids) if ids.nonEmpty =>
          gates.check("read_your_writes", fetch(ids.head).isEmpty != corrupt,
            s"deleted id ${ids.head} still readable")
        case _ => ()
      }
    }
  }

  /** Closed loop: `clients` threads take the next op from a shared list
    * as soon as their previous op returns. */
  def drive[T](clients: Int, ops: Seq[T], run: (Int, T) => Seq[Sample]): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val arr = ops.toIndexedSeq
    val threads = (0 until clients).map { ci =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < arr.size) { run(i, arr(i)).foreach(out.add); i = next.getAndIncrement() }
      }, s"perfbench-client-$ci")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  def run(ctx: Ctx): Outcome = {
    val sz = if (ctx.tiny) Tiny else Full
    val corpus = new Corpus(ctx.seed, sz.points, sz.dim, sz.edges, sz.vocab, sz.clusters)
    val model = new Model(corpus)
    val units = math.max(1, (ctx.seconds / UnitSeconds).toInt)

    val dataDir = ctx.runDir.resolve("data")
    val hot = hotSet(corpus, new SplittableRandom(ctx.seed ^ 0x4075L))
    val (g, ip, setupStats) = setup(ctx.spark, corpus, dataDir, hot)
    val colDir = dataDir.resolve(Collection)
    val recall = new Recall()
    val server = new RestServer(g, 0).start()
    val client = new RestClient(server.boundPort)
    val ex = new Executor(model, ctx.gates, recall, Some(client), ip)
    val exIn = new Executor(model, ctx.gates, recall, None, ip)
    val tracer = new Tracer(ctx.trace)

    // write-phase ids: existing ids in seeded order; new ids far above
    val order = shuffled(corpus.points.indices.map(_.toLong), new SplittableRandom(ctx.seed ^ 0x1d5L))
    val blocks = if (ctx.trace) 1 else units
    val ops = opList(corpus, blocks, order.iterator, 1000000000L,
      new SplittableRandom(ctx.seed * 31L + 7))

    var publishes = 0L
    var newBytes = 0L
    var newFiles = 0L
    var batchBytes = 0L
    val firstAnnAfterPublish = scala.collection.mutable.ArrayBuffer[Double]()
    val traced = scala.collection.mutable.ArrayBuffer[(Sample, Counts, Int)]()
    val untracedIn = scala.collection.mutable.ArrayBuffer[Sample]()
    var published = false
    var memoRead = (0L, 0L)

    // one in-process op of a traced run; one client, so counter deltas
    // belong to exactly this op
    def inProc(op: Either[Req, WriteOp], tr: Tracer, reqId: Long, check: Boolean): Seq[Sample] = {
      org.apache.spark.perfbench.ListenerDrain(ctx.spark.sparkContext)
      val before = ctx.counters.snapshot()
      val filesBefore = if (op.isRight) files(colDir) else Map.empty[String, Long]
      val (s, nRows) = tracer.request(reqId) {
        op.fold(q => { val (s, rs) = exIn.read(q, check, tr); (s, rs.size) },
          w => (exIn.write(w, tr).head, 0))
      }
      org.apache.spark.perfbench.ListenerDrain(ctx.spark.sparkContext)
      val delta = ctx.counters.snapshot() - before
      op match {
        case Right(w) =>
          val added = files(colDir).filter { case (p, _) => !filesBefore.contains(p) }
          publishes += 1
          newBytes += added.values.sum
          newFiles += added.size
          batchBytes += (w match {
            case Upsert(ps) => ps.map(_.userBytes).sum
            case UpsertEdges(es) => es.size * (24L + Corpus.EdgeLabel.length)
            case Delete(ids) => ids.size * 8L
          })
          published = true
        case Left(q) if q.kind == "knn_ann" && published =>
          firstAnnAfterPublish += s.ms; published = false
        case _ => ()
      }
      if (tr.enabled) traced += ((s, delta, nRows)) else untracedIn += s
      Seq(s)
    }

    val t0 = System.nanoTime()
    val (readS, writeS, restS) = try {
      if (!ctx.trace) {
        val reads = readList(corpus, hot, units, new SplittableRandom(ctx.seed * 7919L))
        val rs = drive(Clients, reads, (_, q: Req) => Seq(ex.read(q, check = true, Tracer.off)._1))
        val ws = drive(Clients, ops, (_, op: Either[Req, WriteOp]) =>
          op.fold(q => Seq(ex.read(q, check = false, Tracer.off)._1), w => ex.write(w, Tracer.off)))
        (rs, ws, Nil)
      } else {
        val restReads = readList(corpus, hot, 1, new SplittableRandom(ctx.seed * 7919L))
          .take(DeckSize / 2)
        val a = drive(1, restReads, (_, q: Req) => Seq(ex.read(q, check = true, Tracer.off)._1))
        val calls0 = (ip.sqlCalls.get, ip.memoHits.get)
        val reads = readList(corpus, hot, 1, new SplittableRandom(ctx.seed * 7919L + 1))
        // every other read of each kind is traced
        val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
        val rs = drive(1, reads, (i, q: Req) => {
          seen(q.kind) += 1
          inProc(Left(q), if (seen(q.kind) % 2 == 1) tracer else Tracer.off, i, check = true)
        })
        memoRead = (ip.sqlCalls.get - calls0._1, ip.memoHits.get - calls0._2)
        val ws = drive(1, ops, (i, op: Either[Req, WriteOp]) => inProc(op, tracer, 1000 + i, check = false))
        (rs, ws, a)
      }
    } finally server.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val heapMb = Main.liveHeapMb()

    // restart: a fresh Graft over the same dir must hold every
    // acknowledged write and none of the acknowledged deletes
    restartCheck(ctx, dataDir, model)

    val writes = writeS.filter(_.write)
    val all = restS ++ readS ++ writeS
    val attempted = all.size.toLong
    val failed = all.count(_.ms.isInfinite).toLong
    def span(ss: Seq[Sample]) = (ss.map(_.endNs).max - ss.map(_.startNs).min) / 1e9

    val record = Seq(
      "sizes" -> Stats.objJson(Seq("points" -> sz.points.toString, "dim" -> sz.dim.toString,
        "edges" -> sz.edges.toString, "vocab" -> sz.vocab.toString,
        "hot_set" -> hot.size.toString,
        "clients" -> Clients.toString,
        "read_phase_reads" -> readS.size.toString, "write_phase_ops" -> writeS.size.toString,
        "write_phase_writes" -> writes.size.toString)),
      "setup" -> Stats.objJson(Seq("s" -> Stats.num(setupStats.seconds),
        "load_ms" -> setupStats.loadMs.map(Stats.num).mkString("[", ",", "]"),
        "first_touch_ms" -> Stats.objJson(setupStats.touchMs.map { case (k, v) => k -> Stats.num(v) }))),
      "read_kinds" -> Stats.objJson(Requests.ReadMix.map { case (k, _) =>
        val ks = readS.filter(_.kind == k)
        k -> Stats.objJson(Seq("n" -> ks.size.toString,
          "hot_p50_ms" -> Stats.num(Stats.median(ks.filter(_.hot).map(_.ms))),
          "fresh_p50_ms" -> Stats.num(Stats.median(ks.filter(!_.hot).map(_.ms)))))
      }),
      "write_kinds" -> Stats.objJson(Seq("upsert", "upsert_edges", "delete").map { k =>
        val ks = writes.filter(_.kind == k)
        k -> Stats.objJson(Seq("n" -> ks.size.toString, "p50_ms" -> Stats.num(Stats.median(ks.map(_.ms)))))
      }),
      "wall_s" -> Stats.num(wall))

    if (!ctx.trace) {
      val writeMs = writes.map(_.ms)
      Outcome(Seq(
        ("setup_s", setupStats.seconds, "s"),
        ("read_ops_per_s", readS.count(!_.ms.isInfinite) / span(readS), "ops/s"),
        ("read_p50_ms", Stats.pct(readS.map(_.ms), 50), "ms"),
        ("read_p95_ms", Stats.pct(readS.map(_.ms), 95), "ms"),
        ("write_p50_ms", Stats.pct(writeMs, 50), "ms"),
        ("write_p90_ms", Stats.pct(writeMs, 90), "ms"),
        ("recall_at_10", recall.value, "ratio"),
        ("space_amp", files(colDir).values.sum.toDouble / model.userBytes, "ratio"),
        ("batch_pass_s", span(writeS), "s"),
        ("heap_live_mb", heapMb, "MB"),
        ("ops_ok_ratio", 1.0 - failed.toDouble / math.max(1, attempted), "ratio")),
        attempted, failed, record)
    } else {
      val spans = tracer.all
      Tracer.dump(ctx, spans)
      def spanMs(name: String): Double = Stats.median(spans.filter(_.name == name).map(_.durNs / 1e6))
      val tReads = traced.filter(!_._1.write).toSeq
      val sumC = traced.map(_._2).foldLeft(Counts.zero)(_ + _)
      val nOps = math.max(1, traced.size).toDouble
      val readSet = readS.toSet
      val tReadPhase = tReads.filter(t => readSet.contains(t._1)).map(_._1.ms)
      val layer = Seq(
        ("server.overhead_ms", Stats.median(restS.map(_.ms)) - Stats.median(tReadPhase), "ms"),
        ("velesql.parse_ms", spanMs("velesql.parse"), "ms"),
        ("graft.sql_ms", spanMs("graft.sql"), "ms"),
        ("graft.memo_hit_ratio", memoRead._2.toDouble / math.max(1, memoRead._1), "ratio"),
        ("catalyst.plan_ms", spanMs("catalyst.plan"), "ms"),
        ("codegen.compiles_per_op", sumC.compiles / nOps, "count"),
        ("spark.execute_ms", spanMs("spark.execute"), "ms"),
        ("spark.jobs_per_op", sumC.jobs / nOps, "count"),
        ("spark.stages_per_op", sumC.stages / nOps, "count"),
        ("spark.tasks_per_op", sumC.tasks / nOps, "count"),
        ("spark.input_rows_per_result_row",
          tReads.map(_._2.inputRows).sum.toDouble / math.max(1, tReads.map(_._3).sum), "ratio"),
        ("spark.shuffle_bytes_per_op", sumC.shuffleBytes / nOps, "bytes"),
        ("spark.spill_bytes_per_op", sumC.spillBytes / nOps, "bytes")) ++
        Requests.ReadMix.map { case (k, _) =>
          (s"op.${k}_ms", Stats.median(tReads.filter(_._1.kind == k).map(_._1.ms)), "ms")
        } ++ Seq(
        ("ann.index_build_s", setupStats.annFirstS, "s"),
        ("ann.first_after_publish_ms", Stats.median(firstAnnAfterPublish.toSeq), "ms"),
        ("collections.upsert_ms", spanMs("collections.upsert"), "ms"),
        ("collections.upsert_edges_ms", spanMs("collections.upsert_edges"), "ms"),
        ("collections.delete_ms", spanMs("collections.delete"), "ms"),
        ("collections.write_amp", newBytes.toDouble / math.max(1, batchBytes), "ratio"),
        ("collections.files_per_publish", newFiles.toDouble / math.max(1, publishes), "count"),
        ("trace.overhead_ms", Stats.median(tReadPhase) - Stats.median(untracedIn.toSeq.map(_.ms)), "ms"))
      Outcome(layer, attempted, failed, record ++ Seq("self_ms" -> Tracer.selfSummary(spans)))
    }
  }

  def restartCheck(ctx: Ctx, dataDir: Path, m: Model): Unit = {
    val g2 = new Graft(ctx.spark, dataDir.toString)
    val rows = g2.collections.table(Collection).get
      .select("id", "text", "category", "price").collect()
    val stored = rows.map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getDouble(3))).toMap
    val corrupt = ctx.gates.corrupted("restart_durability")
    val missing = m.points.asScala.filter { case (id, p) =>
      !m.unknown.contains(id) &&
        !stored.get(id).contains((if (corrupt) p.text + "#" else p.text, p.category, p.price))
    }.keys.take(5)
    val resurrected = m.deleted.asScala.filter(id => !m.unknown.contains(id) && stored.contains(id)).take(5)
    val edgeIds = g2.collections.edges(Collection).get.select("id").collect().map(_.getLong(0)).toSet
    val lostEdges = m.edgeIds.asScala.filterNot(edgeIds.contains).take(5)
    ctx.gates.check("restart_durability",
      missing.isEmpty && resurrected.isEmpty && lostEdges.isEmpty,
      s"missing/stale points $missing, deleted but present $resurrected, lost edges $lostEdges")
  }
}
