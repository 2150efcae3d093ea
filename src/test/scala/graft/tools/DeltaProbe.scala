package graft.tools

import graft.operators.Ann

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.JobMeter
import org.apache.spark.sql.types._

/** Delta-count probe: how reads and index upkeep cost as delta segments
  * pile up on one collection. A 4-bucket user collection of 5,000
  * points × 64-d clustered vectors takes 50-point upserts (30 replaced
  * ids, 20 new), `local[4]`. At 0, 1, 3 and 10 deltas it prints one row:
  * hot exact kNN and hot `mode = 'accurate'` LSH (`Graft.sql` + collect,
  * median of 5 after one warm-up), the FileScan count of each executed
  * plan and the Spark jobs of one hot call, plus the jobs of every LSH
  * index refresh since the previous row (the first row: the first build
  * of the four base pieces), and the dirs and bytes of the collection's
  * artifact subtree. Two last rows follow a `compact` and then a
  * `vacuum`, both through a zero-grace handle on the same dir, so they
  * show what the GC keeps once the grace window has passed: the index
  * artifacts of the live pieces only. Then it prints both executed plans
  * at 0 and 10 deltas.
  * Usage: sbt "Test/runMain graft.tools.DeltaProbe"
  */
object DeltaProbe {

  private val Points = 5000
  private val Dim = 64
  private val Clusters = 32
  private val Batch = 50
  private val Checkpoints = Seq(0, 1, 3, 10)

  def main(args: Array[String]): Unit = {
    val spark = graft.SparkSpecBase.session
    val r = new SplittableRandom(13)
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(Clusters)(normalize(Array.fill(Dim)(r.nextGaussian().toFloat)))
    def vector(): Seq[Float] = normalize(
      centers(r.nextInt(Clusters)).map(x => (x + 0.08 * r.nextGaussian()).toFloat)).toSeq
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("vector", ArrayType(FloatType, containsNull = false))))
    def rows(ids: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, vector())), 1), schema)

    val dir = java.nio.file.Files.createTempDirectory("deltaprobe").toString
    val g = graft.Graft(spark, dir)
    g.collections.create("docs", idCol = "id", vectorCol = Some("vector"), buckets = 4)
    g.collections.upsert("docs", rows(0L until Points.toLong))
    val q = vector()
    def query(w: String) = s"SELECT id, score FROM docs WHERE vector NEAR $$q LIMIT 10$w"
    val exact = query("")
    val lsh = query(" WITH (mode = 'accurate')")
    def refresh(): Long = JobMeter(spark)(Ann.materializedIndexAt(spark,
      g.catalog.indexSource("docs").get, "vector", Ann.Planes, Dim)).jobs
    def scans(sql: String): Int =
      "FileScan ".r.findAllMatchIn(
        g.sql(sql, Map("q" -> q)).queryExecution.executedPlan.toString).size
    def hot(sql: String): (Double, Int, Long) = {
      def run() = g.sql(sql, Map("q" -> q)).collect()
      run()
      val ms = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      (ms(2), scans(sql), JobMeter(spark)(run()).jobs)
    }

    val home = g.collections.indexHome("docs")
    def artifacts(): String = {
      val dirs = graft.Collections.children(home).filterNot(_.getFileName.toString.contains(".tmp-"))
      val bytes = dirs.map { d =>
        val s = java.nio.file.Files.walk(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
        } finally s.close()
      }.sum
      s"${dirs.size} | $bytes"
    }
    var deltas = 0
    var next = Points.toLong
    var refreshes = Seq(refresh())
    val plans = Seq.newBuilder[String]
    def row(label: Any): Unit = {
      val (em, es, ej) = hot(exact)
      val (lm, ls, lj) = hot(lsh)
      println(f"| $label | $em%.1f | $es | $ej | $lm%.1f | $ls | $lj | " +
        s"${refreshes.mkString(", ")} | ${artifacts()} |")
      refreshes = Nil
    }
    println("| deltas | exact ms | exact FileScans | exact jobs | lsh ms | lsh FileScans " +
      "| lsh jobs | refresh jobs since last row | artifact dirs | artifact bytes |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    for (c <- Checkpoints) {
      while (deltas < c) {
        val replaced = (0 until 30).map(_ => r.nextLong(Points.toLong))
        g.collections.upsert("docs", rows(replaced.distinct ++ (next until next + 20)))
        next += 20
        deltas += 1
        refreshes :+= refresh()
      }
      row(c)
      if (c == Checkpoints.head || c == Checkpoints.last)
        for ((name, sql) <- Seq("exact kNN" -> exact, "accurate LSH" -> lsh))
          plans += s"-- $name, $c deltas:\n" +
            g.sql(sql, Map("q" -> q)).queryExecution.executedPlan.toString
    }
    val noGrace = new graft.Collections(spark, dir, generationGraceMs = 0)
    noGrace.compact("docs")
    refreshes = Seq(refresh())
    row("compact")
    noGrace.vacuum("docs")
    row("compact + vacuum")
    plans.result().foreach(println)
    graft.Collections.deleteRec(java.nio.file.Paths.get(dir))
  }
}
