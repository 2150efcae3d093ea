package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic ~K× scale-up of a testdata dir (r12/r13 VERDICT ask #1:
  * the scale adjudications need MEASUREMENT, not argument). Each table is
  * tiled K times with disjoint key offsets — tile k's keys are
  * `key + k·stride` where stride = the source key-space size — so
  * referential integrity, key density, per-key fan-outs and value
  * distributions are preserved exactly, and every derived structure
  * (graph, postings, sessions) scales by K with unchanged shape
  * parameters (out-degree, doc length, session gap). Timestamps are NOT
  * shifted: tile k's events replay the same month over 10× the users,
  * which is how event volume actually grows.
  *
  * Key-space checks (graph id offsets, Graph.scala:26-28): tiled
  * orderkeys stay < 10M (1.5M max), partkeys < 10M, so the +10M/+20M/+30M
  * node-id spaces stay disjoint at K ≤ 50.
  *
  * embeddings tile with the CUSTOMER stride so the customer↔embedding
  * 1:1 pairing (Graph.deriveNodes) keeps its per-tile coverage; the
  * doc_id↔vec_id pairing (hybrid q62) is NOT preserved across tiles —
  * vector-similarity queries are out of the probe's scope (their cost is
  * kernel-bound, not shuffle-bound; the iterative/streaming/text classes
  * are what the scale question is about).
  *
  * Usage: Test/runMain graft.tools.ScaleGen [srcDir] [outDir] [K]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/root/repo/target/scaleprobe/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.SessionTuning.local(32)
    spark.sparkContext.setLogLevel("WARN")

    val tiles = spark.range(k).select(col("id").as("__tile"))
    def tiled(name: String, offsets: Map[String, Long], files: Int): Unit = {
      val t = graft.Tables.table(spark, src, name)
      val cols = t.columns.map { c =>
        offsets.get(c) match {
          case Some(stride) => (col(c) + col("__tile") * stride).as(c)
          case None => col(c)
        }
      }
      val scaled = t.crossJoin(tiles).select(cols.toIndexedSeq: _*)
      scaled.repartition(files).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"SCALEGEN $name x$k -> $out/$name.parquet")
    }
    def copied(name: String): Unit = {
      graft.Tables.table(spark, src, name).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"SCALEGEN $name copied (dimension)")
    }

    // strides = source key-space sizes, derived from the actual data so
    // any source sf works (sf0.1 keys are dense 0-based)
    def keyMax(name: String, c: String): Long =
      graft.Tables.table(spark, src, name).agg(max(col(c))).collect()(0).getLong(0)
    val oStride = keyMax("orders", "o_orderkey") + 1
    val cStride = keyMax("customer", "c_custkey") + 1
    val pStride = keyMax("part", "p_partkey") + 1
    val sStride = keyMax("supplier", "s_suppkey") + 1
    val dStride = keyMax("documents", "doc_id") + 1
    val eStride = keyMax("events", "event_id") + 1
    val uStride = keyMax("events", "user_id") + 1
    require(oStride * k <= graft.operators.Graph.OrderOffset,
      s"tiled orderkeys ($oStride x $k) would cross the order node-id offset")
    require(pStride * k <= graft.operators.Graph.OrderOffset,
      s"tiled partkeys ($pStride x $k) would cross the part node-id offset")

    copied("region"); copied("nation")
    tiled("customer", Map("c_custkey" -> cStride), 8)
    tiled("supplier", Map("s_suppkey" -> sStride), 4)
    tiled("part", Map("p_partkey" -> pStride), 8)
    tiled("orders", Map("o_orderkey" -> oStride, "o_custkey" -> cStride), 16)
    tiled("lineitem", Map("l_orderkey" -> oStride, "l_partkey" -> pStride,
      "l_suppkey" -> sStride), 32)
    tiled("events", Map("event_id" -> eStride, "user_id" -> uStride), 16)
    tiled("documents", Map("doc_id" -> dStride), 16)
    tiled("embeddings", Map("vec_id" -> cStride), 8)
    spark.stop()
  }
}
