package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import graft.Graft
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, runDir: Path, tmpDir: Path, seed: Long,
    seconds: Double, trace: Boolean, tiny: Boolean, gates: Gates, counters: JobCounters, traceOut: Option[Path])

/** A workload's measurements: metric name → (value, unit) in emit order,
  * op counts, and free-form run-record fields (JSON values). */
final case class Outcome(metrics: Seq[(String, Double, String)], attempted: Long,
    failed: Long, record: Seq[(String, String)])

/** JVM side of the benchmark (run by perfbench/run.py, which builds it,
  * generates the analytics tables and checks analytics answers).
  *
  * Prints `PERFBENCH_RECORD <json>` (seed, sizes, quiet-host probe, gate
  * counts, per-kind detail) and then `PERFBENCH_RESULT <json>` with
  * `correct`, `attempted`, `failed` and the metrics. */
object Main {
  val EndToEnd: Seq[String] = Seq("setup_s", "read_ops_per_s", "read_p50_ms",
    "read_p95_ms", "write_p50_ms", "write_p90_ms", "recall_at_10", "space_amp",
    "batch_pass_s", "heap_live_mb", "ops_ok_ratio")

  /** Per-layer metrics in emit order; a layer a workload leaves idle
    * reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "server.overhead_ms" -> "ms", "velesql.parse_ms" -> "ms", "graft.sql_ms" -> "ms",
    "graft.memo_hit_ratio" -> "ratio", "catalyst.plan_ms" -> "ms",
    "codegen.compiles_per_op" -> "count", "spark.execute_ms" -> "ms",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.input_rows_per_result_row" -> "ratio",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes") ++
    Requests.ReadMix.map { case (k, _) => s"op.${k}_ms" -> "ms" } ++ Seq(
    "ann.index_build_s" -> "s", "ann.first_after_publish_ms" -> "ms",
    "collections.upsert_ms" -> "ms", "collections.upsert_edges_ms" -> "ms",
    "collections.delete_ms" -> "ms", "collections.write_amp" -> "ratio",
    "collections.files_per_publish" -> "count", "trace.overhead_ms" -> "ms") ++
    Analytics.Queries.flatMap(q => Seq(s"analytics.$q.s" -> "s",
      s"analytics.$q.jobs" -> "count", s"analytics.$q.shuffle_bytes" -> "bytes"))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Live heap: what the heap pools held right after a full GC. */
  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  private def session(cpus: Int, runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config(graft.SessionTuning.serviceConfigMap)
      // every file a run writes stays under its own run dir
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Quiet-host probe: three exact kNN calls on a 200-point collection after
    * one warm-up call. A wide spread marks a co-tenant run; the probe is
    * recorded only and never drops or repeats a run. */
  private def probe(spark: SparkSession, dir: Path, seed: Long): Seq[Double] = {
    val c = new Corpus(seed ^ 0x9b0bL, 200, 16, 0, 50, 4)
    val g = new Graft(spark, dir.toString)
    g.collections.create("probe", idCol = "id", vectorCol = Some("vector"))
    g.collections.upsert("probe", Corpus.pointsFrame(spark, c.points.toSeq))
    val q = Corpus.normalize(c.vector(new SplittableRandom(seed)))
    val text = "SELECT * FROM probe WHERE vector NEAR $v LIMIT 10"
    val params = Map[String, Any]("v" -> q.toSeq)
    g.sql(text, params).collect()
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      g.sql(text, params).collect()
      (System.nanoTime() - t0) / 1e6
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    // build step: the analytics queries' DuckDB oracle SQL, as JSON
    opts.get("dump-oracle").foreach { out =>
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(out), Stats.objJson(Analytics.Queries.map(q =>
        q -> sql.get(q).map(Stats.str).getOrElse("null"))))
      return
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(runDir)
    val spark = session(cpus, runDir)
    val counters = new JobCounters()
    spark.sparkContext.addSparkListener(counters)
    val ctx = Ctx(spark, runDir, Paths.get(System.getProperty("java.io.tmpdir")), seed,
      opt("seconds").toDouble, opt("trace") == "1", opts.get("tiny").contains("1"),
      new Gates(opts.get("corrupt").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet), counters,
      opts.get("trace-out").map(Paths.get(_)))

    val probeMs = probe(spark, runDir.resolve("probe"), seed)
    val out = workload match {
      case "serve" => Serve.run(ctx)
      case "analytics" => Analytics.run(ctx, Paths.get(opt("data")), Paths.get(opt("results")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val values = out.metrics.map { case (n, v, u) => n -> (v, u) }.toMap
    val metrics =
      // a layer the workload leaves idle, or one with no sample, reads 0
      if (ctx.trace) Main.PerLayer.map { case (n, u) =>
        (n, values.get(n).map(_._1).filterNot(_.isNaN).getOrElse(0.0), u) }
      else EndToEnd.map(n => (n, values(n)._1, values(n)._2))
    val record = Seq(
      "workload" -> Stats.str(workload), "seed" -> seed.toString,
      "trace" -> ctx.trace.toString, "cpus" -> cpus.toString,
      "quiet_probe_ms" -> probeMs.map(Stats.num).mkString("[", ",", "]"),
      "quiet_probe_spread_ms" -> Stats.num(probeMs.max - probeMs.min),
      "gates" -> ctx.gates.json) ++ out.record
    println("PERFBENCH_RECORD " + Stats.objJson(record))
    println("PERFBENCH_RESULT " + Stats.objJson(Seq(
      "correct" -> ctx.gates.ok.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "failed_gates" -> ctx.gates.failed.keys.toSeq.sorted.map(Stats.str).mkString("[", ",", "]"),
      "metrics" -> Stats.metricsJson(metrics))))
    System.out.flush()
    spark.stop()
  }
}
