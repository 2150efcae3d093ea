package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One timed layer call: `parent` is the id of the span that was open on
  * the same thread when this one started (0 = none); spans of one request
  * share `request`. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, request: Long, name: String,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans are recorded around the benchmark's
  * calls into each layer's public functions; nothing is written until
  * the run ends. A disabled tracer runs the body with no bookkeeping. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val req = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Run `body` as request `id`: every span opened inside carries it. */
  def request[T](id: Long)(body: => T): T = {
    val prev = req.get()
    req.set(id)
    try body finally req.set(prev)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(0), req.get(), name, t0, t1))
      }
    }

  def all: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }
}

object Tracer {
  val off = new Tracer(false)

  /** Writes the spans, one JSON object per line, to the run's trace file. */
  def dump(ctx: Ctx, spans: Seq[Span]): Unit = ctx.traceOut.foreach { out =>
    java.nio.file.Files.createDirectories(out.getParent)
    val lines = spans.sortBy(_.start).map(s => Stats.objJson(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "request" -> s.request.toString, "name" -> Stats.str(s.name),
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)))
    java.nio.file.Files.write(out, lines.asJava)
  }

  /** Per span name: count, median duration and median self time (ms). */
  def selfSummary(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    Stats.objJson(spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Stats.objJson(Seq("n" -> ss.size.toString,
        "p50_ms" -> Stats.num(Stats.median(ss.map(_.durNs / 1e6))),
        "self_p50_ms" -> Stats.num(Stats.median(ss.map(s => self(s.id) / 1e6))),
        "self_total_ms" -> Stats.num(ss.map(s => self(s.id)).sum / 1e6)))
    })
  }

  /** Self time of every span: its duration minus the part of its
    * interval covered by its child spans (overlaps merged). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Spark-side work counters, read as deltas around single-client calls. */
final class JobCounters extends SparkListener {
  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val inputRows = new AtomicLong()
  val shuffleBytes = new AtomicLong()
  val spillBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** (jobs, stages, tasks, input rows, shuffle bytes, spill bytes, codegen
    * compiles) — compiles come from Spark's process-wide CodegenMetrics. */
  def snapshot(): Counts = Counts(jobs.get, stages.get, tasks.get,
    inputRows.get, shuffleBytes.get, spillBytes.get,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

final case class Counts(jobs: Long, stages: Long, tasks: Long, inputRows: Long,
    shuffleBytes: Long, spillBytes: Long, compiles: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, inputRows - o.inputRows, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, compiles - o.compiles)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, inputRows + o.inputRows, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, compiles + o.compiles)
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0)
}
