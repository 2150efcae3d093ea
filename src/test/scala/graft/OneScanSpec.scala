package graft

import graft.operators.{Ann, Knn}

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ImmutableDirScan, JobMeter}

/** The one-scan read of a frame's base and deltas
  * ([[Collections.Visibility]]) and of an index's pieces
  * ([[Materialize.pieces]]). Every step of an adversarial write sequence
  * must read back row for row what a driver-side model of upsert and
  * delete holds: on the points frame, on a point get, on the edges frame
  * and on an LSH index over the points (radius = planes, so exact). */
class OneScanSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(s"graft-onescan-$tag")

  private def vec(i: Long, s: Double): Seq[Float] =
    (0 until 8).map(d => math.sin(i * s + d * 1.3).toFloat)

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** One write of the sequence: rows `(id, tag)` to upsert (a null id
    * too), or ids to delete. */
  private sealed trait Op
  private final case class Up(rows: Seq[(Option[Long], String)]) extends Op
  private final case class Del(ids: Seq[Long]) extends Op

  /** Upsert → delete → re-upsert of id 6 across three segments, a
    * delete-only segment, a batch repeating id 8 (the later row wins),
    * null ids in the base and in a delta, a delete of an id only a delta
    * held, and a re-upsert of an id a delete-only segment removed. */
  private val base: Seq[(Option[Long], String)] =
    (1L to 200L).map(i => (Some(i), s"b$i")) ++ Seq((None, "null-b1"), (None, "null-b2"))
  private val steps: Seq[Op] = Seq(
    Up(Seq((Some(5L), "u5"), (Some(6L), "u6"), (Some(201L), "u201"), (None, "null-d"))),
    Del(Seq(6L, 7L)),
    Up(Seq((Some(6L), "r6"))),
    Up(Seq((Some(8L), "first8"), (Some(9L), "u9"), (Some(8L), "last8"))),
    Del(Seq(201L)),
    Up(Seq((Some(7L), "r7"), (Some(5L), "again5"))))

  /** The model after `ops`: id → tag (last write wins), plus null-id rows. */
  private def model(ops: Seq[Op]): (Map[Long, String], Seq[String]) =
    ops.foldLeft((Map.empty[Long, String], Seq.empty[String])) {
      case ((m, nulls), Up(rows)) =>
        rows.foldLeft((m, nulls)) {
          case ((m1, n1), (Some(id), t)) => (m1 + (id -> t), n1)
          case ((m1, n1), (None, t)) => (m1, n1 :+ t)
        }
      case ((m, nulls), Del(ids)) => (m -- ids, nulls)
    }

  private def modelRows(ops: Seq[Op]): Seq[String] = {
    val (m, nulls) = model(ops)
    sorted(m.toSeq.map { case (i, t) => Row(i, t) } ++ nulls.map(t => Row(null, t)))
  }

  private def points(rows: Seq[(Option[Long], String)]): DataFrame =
    rows.map { case (id, t) => (id.map(Long.box).orNull, t, vec(id.getOrElse(-1L), 0.37)) }
      .toDF("id", "tag", "vec")

  test("points, point gets and an LSH index read exactly the model at every step") {
    val dir = tmpDir("points")
    val g = Graft(spark, dir.toString)
    val cols = g.collections
    cols.create("c", idCol = "id", vectorCol = Some("vec"), buckets = 4)
    cols.upsert("c", points(base))
    val q = vec(3L, 0.5)
    for (n <- 0 to steps.size) {
      if (n > 0) steps(n - 1) match {
        case Up(rows) => cols.upsert("c", points(rows))
        case Del(ids) => cols.delete("c", ids)
      }
      val ops = Up(base) +: steps.take(n)
      assert(cols.readManifest("c").get.segments.size == n, s"step $n is not a segment")
      val expect = modelRows(ops)
      val table = cols.table("c").get
      assert(sorted(table.select("id", "tag").collect().toSeq) == expect, s"table, step $n")
      val ids = Seq(5L, 6L, 7L, 8L, 9L, 201L)
      assert(sorted(cols.get("c", ids).select("id", "tag").collect().toSeq) ==
        expect.filter(r => ids.exists(i => r.startsWith(s"[$i,"))), s"get, step $n")
      val index = Ann.materializedIndexAt(spark, g.catalog.indexSource("c").get, "vec",
        Ann.Planes, 8)
      assert(sorted(index.select("id", "tag").collect().toSeq) == expect, s"lsh index, step $n")
      val hits = Ann.search(index, "vec", q, 10, Ann.Planes, radius = Ann.Planes)
      assert(hits.select("id", "score").collect().toSeq ==
        Knn.topK(table, "vec", q, 10, "cosine", "id").select("id", "score").collect().toSeq,
        s"lsh search, step $n")
    }
    Collections.deleteRec(dir)
  }

  test("the edges frame reads exactly the model at every step") {
    val dir = tmpDir("edges")
    val cols = new Collections(spark, dir.toString)
    cols.create("c", buckets = 4)
    def edges(rows: Seq[(Option[Long], String)]): DataFrame =
      rows.collect { case (Some(id), t) => (id, id, id + 1, t) }.toDF("id", "src", "dst", "label")
    cols.upsertEdges("c", edges(base))
    for (n <- 0 to steps.size) {
      if (n > 0) steps(n - 1) match {
        case Up(rows) => cols.upsertEdges("c", edges(rows))
        case Del(ids) => cols.deleteEdges("c", ids)
      }
      assert(cols.readManifest("c", "edges").get.segments.size == n, s"step $n is not a segment")
      val (m, _) = model(Up(base) +: steps.take(n))
      assert(sorted(cols.edges("c").get.select("id", "label").collect().toSeq) ==
        sorted(m.toSeq.map { case (i, t) => Row(i, t) }), s"edges, step $n")
    }
    Collections.deleteRec(dir)
  }

  test("a segment-free read is the bare scan; deltas add no scan") {
    val dir = tmpDir("plan")
    val cols = new Collections(spark, dir.toString)
    cols.create("c", idCol = "id", vectorCol = Some("vec"), buckets = 4)
    cols.upsert("c", points(base))
    def plan = cols.table("c").get.queryExecution.executedPlan
    def scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    assert(scans == 1 && !plan.toString.contains("_metadata"), plan.toString)
    (1 to 3).foreach(i => cols.upsert("c", points(Seq((Some(i.toLong), s"d$i")))))
    cols.delete("c", Seq(50L))
    assert(scans == 1, plan.toString)
    Collections.deleteRec(dir)
  }

  test("a read lists only the dirs no earlier read listed: 37 dirs, no listing job") {
    val dir = tmpDir("listing")
    val g = Graft(spark, dir.toString)
    val cols = g.collections
    cols.create("c", idCol = "id", vectorCol = Some("vec"), buckets = 16)
    cols.upsert("c", points((1L to 2000L).map(i => (Some(i), s"b$i"))))
    (1 to 20).foreach(i => cols.upsert("c", points(Seq((Some(i.toLong), s"d$i")))))
    def lsh() = Ann.materializedIndexAt(spark, g.catalog.indexSource("c").get, "vec",
      Ann.Planes, 8)
    cols.table("c").get
    lsh()
    cols.upsert("c", points(Seq((Some(21L), "d21"))))
    val read = JobMeter(spark)(cols.table("c").get)
    assert(read.jobs == 0, s"16 base dirs + 21 delta dirs: ${read.jobs} listing jobs")
    assert(read.value.where(col("id") === 21L).select("tag").as[String].collect().toSeq == Seq("d21"))
    // the index over the same 37 pieces: the refresh writes the new
    // delta's piece, and the read of all 37 artifact dirs lists only it
    val index = JobMeter(spark)(lsh())
    assert(index.jobs == 1 && index.writes.size == 1,
      s"37 pieces after one write: ${index.jobs} jobs, ${index.writes.size} writes")
    assert(index.value.where(col("id") === 21L).select("tag").as[String].collect().toSeq ==
      Seq("d21"))
    Collections.deleteRec(dir)
  }

  test("a dir rebuilt under its old name reads its new files once forgotten") {
    val dir = tmpDir("forget")
    val artifact = dir.resolve("artifact").toString
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
    def write(ids: Seq[Long]): Unit = ids.toDF("id").write.mode("overwrite").parquet(artifact)
    def read() = ImmutableDirScan(spark, Seq(artifact), schema).as[Long].collect().sorted.toSeq
    write(Seq(1L, 2L))
    assert(read() == Seq(1L, 2L))
    write(Seq(3L))
    ImmutableDirScan.forget(artifact)
    assert(read() == Seq(3L))
    Collections.deleteRec(dir)
  }

  test("two threads refresh one collection's pieces concurrently: no deadlock, one build") {
    val dir = tmpDir("race")
    val g = Graft(spark, dir.toString)
    val q = vec(11L, 0.37)
    def load(name: String): Unit = {
      g.collections.create(name, idCol = "id", vectorCol = Some("vec"), buckets = 4)
      g.collections.upsert(name, points(base))
      g.collections.upsert(name, points(Seq((Some(3L), "x3"), (Some(300L), "x300"))))
    }
    def near(name: String, w: String): Seq[String] =
      g.sql(s"SELECT id, score FROM $name WHERE vector NEAR $$q LIMIT 10 WITH ($w)",
        Map("q" -> q)).collect().map(_.toString).toSeq
    val lsh = "mode = 'accurate'"
    val ivf = "mode = 'accurate', index = 'ivf'"
    // the single-threaded reference: the same data and requests, in turn
    load("solo")
    val solo = JobMeter(spark)((near("solo", lsh), near("solo", lsh), near("solo", ivf)))
    load("race")
    val pool = Executors.newFixedThreadPool(2)
    val raced = try JobMeter(spark) {
      val a = pool.submit(new Callable[Seq[String]] { def call() = near("race", lsh) })
      val b = pool.submit(new Callable[(Seq[String], Seq[String])] {
        def call() = (near("race", lsh), near("race", ivf))
      })
      (a.get(5, TimeUnit.MINUTES), b.get(5, TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    val (ra, (rb, rIvf)) = raced.value
    val (sLsh, _, sIvf) = solo.value
    assert(ra == sLsh && rb == sLsh && rIvf == sIvf && sLsh.size == 10)
    def derived(w: Seq[String]) = w.filter(_.contains("graft-derived"))
    assert(derived(raced.writes).size == derived(solo.writes).size,
      s"a piece was built twice:\n${raced.writes.mkString("\n")}\nvs\n${solo.writes.mkString("\n")}")
    Collections.deleteRec(dir)
  }
}
