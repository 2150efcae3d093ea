package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The one parquet scan over IMMUTABLE dirs under a known schema: a
  * collection's base and delta dirs, and the published artifact dirs of
  * an index ([[graft.Materialize.readMemo]]). Each dir is listed once.
  *
  * `spark.read.parquet(dirs)` gives every read a fresh file-status cache
  * and lists all its dirs again; past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) dirs
  * that listing is a Spark job, so a 16-bucket collection with 17 deltas
  * (or an index over as many pieces) paid one job per read. The dirs
  * here never change after publish, so every scan shares one bounded
  * listing cache: a read lists only the dirs no earlier read listed
  * (after a write, its one new dir). The relation is the one
  * `spark.read.schema(schema).parquet(dirs)` builds: no partition
  * columns, the schema read as nullable, `_metadata` available.
  *
  * An artifact dir's name is its content stamp, so a dir deleted by
  * hand and rebuilt comes back under the SAME name with new files: a
  * publisher calls [[forget]] on it.
  *
  * Lives in `org.apache.spark.sql` for access to the `private[spark]`
  * nullable schema — same pattern as [[StaticPlanner]].
  */
object ImmutableDirScan {
  /** Leaf files per dir (keyed by its path, with or without a scheme),
    * least recently read evicted past `MaxDirs`. */
  private val MaxDirs = 4096
  private object Listings extends FileStatusCache {
    private val byDir = new java.util.LinkedHashMap[String, Array[FileStatus]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[FileStatus]]): Boolean = size() > MaxDirs
    }
    private def key(p: Path) = p.toUri.getPath
    override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
      byDir.synchronized(Option(byDir.get(key(p))))
    override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit =
      byDir.synchronized { byDir.put(key(p), files); () }
    override def invalidateAll(): Unit = byDir.synchronized(byDir.clear())
    def remove(p: Path): Unit = byDir.synchronized { byDir.remove(key(p)); () }
    def removeUnder(p: Path): Unit = byDir.synchronized {
      val k = key(p)
      byDir.keySet().removeIf(d => d == k || d.startsWith(k + "/")); ()
    }
  }

  def apply(spark: SparkSession, dirs: Seq[String], schema: StructType): DataFrame = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new InMemoryFileIndex(s, dirs.map(new Path(_)), Map.empty, Some(schema), Listings)
    s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(s))
  }

  /** Drop `dir`'s listing: it was (re)published. */
  def forget(dir: String): Unit = Listings.remove(new Path(dir))

  /** Drop the listings of `root` and of every dir under it: it was
    * deleted. */
  def forgetUnder(root: String): Unit = Listings.removeUnder(new Path(root))
}
