package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver finish of [[Graph.kCore]], [[Dedup.components]] and
  * [[Graph.lpaCommunities]]: below a size gate each distributed round
  * is pure job-scheduling floor (r17/r18: 3-10× per operator), so the
  * operator runs its kernel on the driver. It does when, and only when,
  * the symmetrized edge checkpoint's EXACT row count is ≤
  * `graft.localFinishEdges` (default 1M: 16 MB of longs, a broadcast
  * build side's class), no row has a null endpoint (inert in the
  * distributed loop, unboxed to 0 here) and the ids are longs (others
  * need Spark's per-type `min` ordering). [[frame]] and [[nullable]]
  * give both branches the same schema. */
private[operators] object LocalFixpoint {

  val GateConf = "graft.localFinishEdges"
  val DefaultGate = 1000000L

  /** Job description of the gate's jobs (names the path in listeners). */
  val GateJob = "graft local-finish gate"

  /** A driver-finished graph: `ids` are the distinct endpoints in
    * ascending order and edge `i` runs `src(i) → dst(i)` as indexes into
    * `ids`, rows kept with their multiplicity. Index order IS id order,
    * so min-index roots and tie-breaks are the distributed min-id ones. */
  final class Local(val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {
    def nodes: Int = ids.length
    def edges: Int = src.length
  }

  /** The gate job's row and null-endpoint counts; edges if local. */
  final case class Gate(rows: Long, nullRows: Long, local: Option[Local])

  /** Materializes the lazy edge checkpoint `edges(u, v)`, counts it and
    * decides, in one job. That job also ships each partition's
    * endpoints as primitive longs while the partition is null-free and
    * within `gate / partitions` rows — so what reaches the driver before
    * the decision is bounded by the gate — and a small graph costs no
    * further job. A skewed small graph re-reads the materialized blocks
    * in one more. */
  def gate(edges: DataFrame): Gate = {
    val spark = edges.sparkSession
    val limit = spark.conf.get(GateConf, DefaultGate.toString).toLong
    val longIds = edges.schema.fields.take(2).forall(_.dataType == LongType)
    val rdd = edges.queryExecution.toRdd
    val share = if (longIds) limit / math.max(1, rdd.getNumPartitions) else -1L
    val parts = gateJob(spark)(
      spark.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => scan(it, share)))
    val rows = parts.map(_._1).sum
    val nullRows = parts.map(_._2).sum
    if (!longIds || nullRows > 0 || rows > limit) return Gate(rows, nullRows, None)
    val packed = if (parts.forall(_._3 != null)) parts.map(_._3) else gateJob(spark)(
      spark.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => scan(it, Long.MaxValue)._3))
    Gate(rows, nullRows, Some(index(packed)))
  }

  /** (rows, null-endpoint rows, interleaved endpoints or null) of one
    * partition; packing stops past `share` rows or at a null. */
  private def scan(it: Iterator[InternalRow], share: Long): (Long, Long, Array[Long]) = {
    var rows, nulls = 0L
    var buf = if (share >= 0) new scala.collection.mutable.ArrayBuilder.ofLong else null
    it.foreach { r =>
      rows += 1
      if (r.isNullAt(0) || r.isNullAt(1)) { nulls += 1; buf = null }
      else if (buf != null && rows > share) buf = null
      else if (buf != null) { buf += r.getLong(0); buf += r.getLong(1) }
    }
    (rows, nulls, if (buf == null) null else buf.result())
  }

  private def gateJob[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(GateJob)
    try body finally sc.setLocalProperty("spark.job.description", prev)
  }

  private def index(packed: Array[Array[Long]]): Local = {
    val flat = packed.flatten
    val us = Array.tabulate(flat.length / 2)(i => flat(2 * i))
    val vs = Array.tabulate(flat.length / 2)(i => flat(2 * i + 1))
    java.util.Arrays.sort(flat) // every endpoint, now unpacked into us/vs
    var n = 0
    for (x <- flat) if (n == 0 || flat(n - 1) != x) { flat(n) = x; n += 1 }
    val ids = java.util.Arrays.copyOf(flat, n)
    new Local(ids, us.map(java.util.Arrays.binarySearch(ids, _)),
      vs.map(java.util.Arrays.binarySearch(ids, _)))
  }

  /** A kernel's `(keyCol, valueCol)` result as one `parallelize`, sliced
    * so a node-sized result at the gate doesn't feed the downstream
    * write or join as ONE task. */
  def frame(spark: SparkSession, keyCol: String, valueCol: String)(
      keys: Array[Long], values: Array[Long]): DataFrame = {
    val rows = keys.indices.map(i => Row(keys(i), values(i)))
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, rows.size / 100000))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices),
      StructType(Seq(StructField(keyCol, LongType), StructField(valueCol, LongType))))
  }

  /** The distributed result with every column nullable, as [[frame]]'s
    * — whatever the input's nullability. A projection, so
    * `CheckpointBlocks.unpersist` still reaches the checkpoint below. */
  def nullable(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c =>
      Bridge.column(KnownNullable(Bridge.expression(df(c)))).as(c)): _*)
}
