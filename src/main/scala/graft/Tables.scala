package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table catalog over the driver's parquet test tables.
  *
  * Mirrors the reference's `Database { data_dir, collections }`
  * (reference: crates/velesdb-core/src/lib.rs:230-235) — a directory of
  * named collections — except collections are parquet-backed DataFrames
  * and the SparkSession catalog supersedes the hand-rolled registry.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session relation memo, content-stamped: `spark.read.parquet`
    * pays 1-2 one-task listing/schema jobs per call, and the bench/
    * verify loops resolve the same ten tables thousands of times. The
    * key includes the file listing's (name, mtime, size) hash, so a
    * regenerated dataset dir WITHIN a process re-resolves (same
    * staleness contract as Materialize's stamped paths) while repeat
    * reads are driver-side map hits. DataFrames are held through
    * SoftReferences — see [[Materialize.readMemo]]'s self-reference
    * note (a plain value would pin its own weak session key). */
  private val cache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), java.lang.ref.SoftReference[DataFrame]]]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val perSession = cache.synchronized {
      var m = cache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap
          .empty[(String, String), java.lang.ref.SoftReference[DataFrame]]
        cache.put(spark, m)
      }
      m
    }
    val stamp = Materialize.pathStamp(java.nio.file.Paths.get(path))
    perSession.get((path, stamp)).flatMap(r => Option(r.get())) match {
      case Some(df) => df
      case None =>
        val df = load(spark, dir, path, name)
        perSession.put((path, stamp), new java.lang.ref.SoftReference(df))
        df
    }
  }

  /** Tables at or above this size get a SCAN COPY: the driver-generated
    * parquet carries ONE row group per table, and row groups are
    * Spark's split unit — so every scan of the 10.8 MB lineitem ran as
    * ONE task on a 32-core box (DuckDB parallelizes inside a row
    * group; Spark cannot). The copy is the ingest-side layout
    * normalization any lakehouse does on landing: the same rows,
    * Spark-written as [[ScanCopyFiles]] files, materialized once per
    * content stamp. Production parquet writers emit a row group per
    * ~128 MB and never hit this. */
  private val ScanCopyMinBytes = 512L * 1024
  private val ScanCopyFiles = 16

  private def load(spark: SparkSession, dir: String, path: String,
      name: String): DataFrame = {
    val raw = loadRaw(spark, path, name)
    if (java.nio.file.Files.size(java.nio.file.Paths.get(path)) < ScanCopyMinBytes)
      raw
    else Materialize(spark, dir, s"scancopy_$name", Seq(name), None) {
      // sortBeforeRepartition (default on) makes the round-robin split
      // deterministic, so rebuilds are content-identical
      raw.repartition(ScanCopyFiles)
    }
  }

  private def loadRaw(spark: SparkSession, path: String, name: String): DataFrame = {
    val df = spark.read.parquet(path)
    // events.ts is parquet TIMESTAMP(NANOS): with
    // spark.sql.legacy.parquet.nanosAsLong=true it arrives as Long nanos —
    // re-derive the micros-precision timestamp (matches DuckDB's ns→µs
    // truncation of the same column).
    if (name == "events" &&
        df.schema.fields.exists(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType)) {
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    } else df
  }
}
