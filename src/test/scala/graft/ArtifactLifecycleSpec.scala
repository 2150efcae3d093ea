package graft

import graft.operators.{Ann, Ivf, IvfPq, Pq}
import java.nio.file.{Files, Path}

/** A collection owns its index artifacts: with no grace window, every
  * write, fold, compaction, retrain, vacuum and drop leaves the
  * collection's `graft-derived` subtree holding exactly one artifact per
  * (tier, live piece, live epoch) — a piece is live while its dir exists,
  * an epoch while it is the current one or the one before — and nothing
  * else; a drop deletes the subtree and spares every other collection's. */
class ArtifactLifecycleSpec extends SparkSpecBase {
  import spark.implicits._

  private def vec(i: Long, s: Double): Seq[Float] =
    (0 until 16).map(d => math.sin(i * s + d * 1.3).toFloat)

  private val m = Pq.defaultM(16)
  /** Every tier as (artifact tier, trained against the models). */
  private val tiers = Seq(s"lsh${Ann.Planes}" -> false, s"ivf${Ivf.Cells}_cells" -> true,
    s"ivfpqr${Ivf.Cells}_${m}x${Pq.K}_codes" -> true)
  private val models = Seq(s"ivf${Ivf.Cells}_centroids", s"ivfpqr${Ivf.Cells}_${m}x${Pq.K}_codebooks")

  private def names(home: Path): Set[String] =
    if (!Files.isDirectory(home)) Set.empty
    else Collections.children(home).map(_.getFileName.toString).toSet

  test("every write, fold, compaction, retrain, vacuum and drop keeps one artifact per live piece and epoch") {
    val dir = Files.createTempDirectory("graft-lifecycle")
    val c = new Collections(spark, dir.toString, generationGraceMs = 0)
    def load(n: String, ids: Seq[Long], s: Double): Unit =
      c.upsert(n, ids.map(i => (i, vec(i, s), (i % 3).toInt)).toDF("id", "vec", "label"))
    // every artifact a read built: (collection, artifact dir, the piece's
    // top-level data dir or None for a model, epoch or None for LSH)
    val built = scala.collection.mutable.Set.empty[(String, Path, Option[String], Option[Long])]
    def read(n: String): Unit = {
      val keys = c.indexKeys(n)
      val src = IndexSource(keys, c.pieces(n), () => c.table(n).get)
      val rows = c.count(n)
      assert(Ann.materializedIndexAt(spark, src, "vec", Ann.Planes, 16).count() == rows, s"$n lsh")
      assert(Ivf.materializedIndexAt(spark, src, "vec", Ivf.Cells)._2.count() == rows, s"$n ivf")
      assert(IvfPq.materializedIndexAt(spark, src, "vec", "id", 16, Ivf.Cells, m, Pq.K)._3
        .count() == rows, s"$n ivfpq")
      for (p <- src.pieces.parts; (tier, trained) <- tiers)
        built += ((n, keys.piece(tier, p, trained),
          Some(dir.resolve(n).relativize(p.dir).getName(0).toString),
          Some(keys.epoch).filter(_ => trained)))
      models.foreach(t => built += ((n, keys.model(t), None, Some(keys.epoch))))
    }
    def check(n: String, at: String): Unit = {
      val epoch = c.indexEpoch(n)
      val live = built.collect {
        case (`n`, a, piece, e) if piece.forall(d => Files.isDirectory(dir.resolve(n).resolve(d))) &&
            e.forall(x => x == epoch || x == epoch - 1) => a.getFileName.toString
      }.toSet
      val pieces = c.pieces(n).parts.map(_.dir.getFileName).toSet
      assert(pieces.nonEmpty, s"$n $at: no pieces")
      assert(names(c.indexHome(n)) == live, s"$n after $at: extra " +
        s"${names(c.indexHome(n)) -- live}, missing ${live -- names(c.indexHome(n))}")
    }
    // a retrain publishes nothing: its stale epochs go at the next pass
    def step(n: String, at: String, publishes: Boolean = true)(f: => Unit): Unit = {
      f
      if (publishes) check(n, at)
      read(n)
      if (publishes) check(n, s"$at + read")
    }
    val all = Seq("bucketed", "flat", "a b")
    for (n <- all :+ "a_b") {
      c.create(n, idCol = "id", vectorCol = Some("vec"), buckets = 4)
      load(n, 1L to 200L, 0.37)
      if (n == "flat") c.createIndex(n, "Point", "label", "range")
      read(n)
    }
    val control = names(c.indexHome("a_b"))
    assert(control.size == tiers.size * c.pieces("a_b").parts.size + models.size)
    for (n <- all) {
      step(n, "upsert")(load(n, 190L to 205L, 0.71))
      step(n, "delete")(c.delete(n, 10L to 14L))
      step(n, "folding upsert")(load(n, 1L to 120L, 0.53))
      step(n, "compact")(c.compact(n))
      step(n, "retrain", publishes = false)(c.retrainIndexes(n))
      step(n, "vacuum")(c.vacuum(n))
      step(n, "second retrain", publishes = false)(c.retrainIndexes(n))
      step(n, "vacuum")(c.vacuum(n))
      assert(!names(c.indexHome(n)).exists(_.contains(".e0")), s"$n kept epoch 0")
    }
    assert(c.readManifest("bucketed").get.buckets == 0, "compact flattened the bucketed layout")
    for (n <- all) {
      c.drop(n)
      assert(!Files.exists(c.indexHome(n)), s"$n: the subtree outlived its drop")
    }
    assert(names(c.indexHome("a_b")) == control, "dropping `a b` touched `a_b`'s artifacts")
    c.drop("a_b")
    Collections.deleteRec(dir)
  }

  test("a GC pass spares what another handle retrained and published after it read the epoch") {
    val dir = Files.createTempDirectory("graft-lifecycle")
    val a = new Collections(spark, dir.toString, generationGraceMs = 0)
    val b = new Collections(spark, dir.toString, generationGraceMs = 0)
    def load(ids: Seq[Long]): Unit = b.upsert("two", ids.map(i => (i, vec(i, 0.37))).toDF("id", "vec"))
    def read(c: Collections): Unit = {
      val src = IndexSource(c.indexKeys("two"), c.pieces("two"), () => c.table("two").get)
      assert(IvfPq.materializedIndexAt(spark, src, "vec", "id", 16, Ivf.Cells, m, Pq.K)._3
        .count() == c.count("two"))
    }
    a.create("two", vectorCol = Some("vec"), buckets = 2)
    load(1L to 200L)
    a.retrainIndexes("two")
    read(a)
    // a's pass reads epoch 1; meanwhile b retrains to 2 and publishes a
    // delta, and its reads build both; then a's pass lists the subtree
    val seen = a.indexEpoch("two")
    b.retrainIndexes("two")
    read(b)
    load(201L to 220L)
    read(b)
    val built = names(b.indexHome("two"))
    assert(built.exists(_.contains(s".e${seen + 1}-")), s"no epoch-${seen + 1} artifact in $built")
    Materialize.gcOwned(a.indexHome("two"), dir.resolve("two"), seen, 0)
    assert(names(a.indexHome("two")) == built, "a stale pass deleted a newer epoch's or piece's artifact")
    read(a)
    assert(names(a.indexHome("two")) == built, "a read after the pass rebuilt an artifact")
    a.drop("two")
    Collections.deleteRec(dir)
  }
}
