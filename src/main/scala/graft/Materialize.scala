package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import Collections.deleteRec

/** Materialize a derived frame ONCE as parquet under
  * `java.io.tmpdir/graft-derived`, optionally clustered by a key column.
  * Dataset-dir artifacts sit in the flat root, keyed by a per-file
  * listing (path, mtime, size) of every source ([[shared]]); a
  * collection's sit in its own subtree ([[IndexSource.Owned]], [[gcOwned]],
  * [[dropUnder]]). At cluster scale the same derived tables become bucketed tables
  * (bucketBy + metastore) so downstream joins co-locate.
  *
  * Publication is crash/cross-process safe: builders write to a private
  * temp dir and atomically rename into place — a reader either sees the
  * complete directory or none of it, and the slower of two racing
  * builders simply discards its copy (same key ⇒ same content).
  */
object Materialize {

  def apply(spark: SparkSession, dir: String, kind: String,
      sources: Seq[String], partCol: Option[String])(build: => DataFrame): DataFrame =
    at(spark, shared(kind, dir, sources.map(t => Paths.get(s"$dir/$t.parquet"))),
      partCol)(build)

  /** Build once at `path` and read it back through [[readMemo]]. Trained
    * models and dataset-dir derived tables are such artifacts, clustered
    * by `partCol` (one repartition shuffle); index pieces are built in
    * batches instead ([[artifacts]]).
    *
    * BUILDER CONTRACT: after the frame is written, every localCheckpoint
    * anywhere in the builder's plan is freed (`CheckpointBlocks
    * .unpersistAll` — checkpoint lineage is truncated, so freed blocks
    * FAIL on access rather than recompute). A builder must therefore own
    * its checkpoints outright: do not pass a plan that embeds a
    * checkpointed frame shared with live code outside the builder
    * (e.g. a cached corpus-key table another query still reads). All
    * current builders read parquet/local relations, which is the shape
    * to keep. */
  def at(spark: SparkSession, path: Path, partCol: Option[String])(
      build: => DataFrame): DataFrame = {
    lockOf(path).synchronized {
      if (!Files.exists(path.resolve("_SUCCESS"))) {
        val b = build
        // cluster AND sort by the key: tight per-row-group min/max stats
        // → pushed key filters prune row groups on read
        val clustered = partCol.map(c =>
          b.repartition(spark.sessionState.conf.numShufflePartitions, col(c))
            .sortWithinPartitions(col(c)))
          .getOrElse(b)
        writeThen(clustered, path) { tmp =>
          publish(tmp, path)
          pruneStaleSiblings(path)
        }
        // iterative builders (LPA labels, dedup components) return
        // projections over localCheckpoints — once written to parquet
        // those blocks are dead; free them now instead of waiting for
        // the async ContextCleaner
        org.apache.spark.sql.graft.CheckpointBlocks.unpersistAll(b)
      }
    }
    readMemo(spark, Seq(path))
  }

  /** Builds are serialized PER KEY, not globally: a single object lock
    * convoyed every materialization in the JVM behind whichever build
    * was slowest. Same-key racers still dedup on their shared lock; a
    * dir's lock goes when a GC or drop deletes the dir. */
  private val buildLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  private def lockOf(path: Path): Object =
    buildLocks.getOrElseUpdate(path.toString, new Object)

  /** One artifact of a batched build ([[artifacts]]): `tag` is the value
    * its rows carry in the build's [[PieceCol]], `dir` where it publishes. */
  final case class Part(tag: Int, dir: Path)

  /** The tag column of a batched build. */
  val PieceCol = "__piece"

  /** Build every missing artifact of `parts` in ONE Spark job and return
    * each part's published dir, in `parts` order. `build(tags)` returns
    * the rows of those parts with their tag in an int [[PieceCol]]. The
    * rows are sorted within their partitions by (tag, `partCol`) — no
    * repartition shuffle, so a part holds at most one file per input
    * partition of its build and no zero-row file — and written once,
    * partitioned by the tag, into one temp dir; each part's subdir then
    * publishes atomically at its own dir (with `_SUCCESS`), so every
    * later use reuses it per part. Locks on the missing dirs are taken
    * in sorted order, so two batches over overlapping dirs cannot
    * deadlock, and a dir a racer published while this one waited is not
    * built again. */
  def artifacts(spark: SparkSession, parts: Seq[Part],
      partCol: Option[String])(build: Seq[Int] => DataFrame): Seq[Path] = {
    def missing = parts.filterNot(p => Files.exists(p.dir.resolve("_SUCCESS")))
      .distinctBy(_.dir)
    def locked(dirs: List[Path])(f: => Unit): Unit = dirs match {
      case Nil => f
      case d :: rest => lockOf(d).synchronized(locked(rest)(f))
    }
    if (missing.nonEmpty) locked(missing.map(_.dir).sortBy(_.toString).toList) {
      val dirty = missing
      if (dirty.nonEmpty) {
        val b = build(dirty.map(_.tag))
        writeThen(b.sortWithinPartitions((PieceCol +: partCol.toSeq).map(col): _*),
            dirty.head.dir, Some(PieceCol)) { tmp =>
          dirty.foreach { p =>
            // a part with no rows has no subdir: it publishes empty
            val sub = Files.createDirectories(tmp.resolve(s"$PieceCol=${p.tag}"))
            Files.createFile(sub.resolve("_SUCCESS"))
            publish(sub, p.dir)
            pruneStaleSiblings(p.dir)
          }
          deleteRec(tmp)
        }
        org.apache.spark.sql.graft.CheckpointBlocks.unpersistAll(b)
      }
    }
    parts.map(_.dir)
  }

  /** Write `df` into a private temp sibling of `path` and hand it to
    * `publish`; a failed write or publish must not strand its partial
    * copy (every cleanup skips young `.tmp-` names: they may be a live
    * build's). */
  private def writeThen(df: DataFrame, path: Path, partitionBy: Option[String] = None)(
      publish: Path => Unit): Unit = {
    val tmp = path.resolveSibling(
      s"${path.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    try {
      partitionBy.fold(df.write)(df.write.partitionBy(_))
        .mode("overwrite").parquet(tmp.toString)
      publish(tmp)
    } catch { case e: Throwable =>
      try deleteRec(tmp) catch { case _: Throwable => () }
      throw e
    }
  }

  private def derived: Path = Paths.get(s"${sys.props("java.io.tmpdir")}/graft-derived")

  /** Per-session memo of resolved parquet relations. `spark.read
    * .parquet` runs 1-2 one-task driver jobs (file listing + footer
    * schema read) per CALL — query defs that re-resolve the same derived
    * table on every execution paid that floor 3× per recall-pin leg
    * (r11 VERDICT "job stacking"). An artifact dir's NAME fixes its
    * content, so new content ⇒ new path ⇒ new cache row.
    *
    * Keyed weakly per session, and the DataFrames are held through
    * SoftReferences: a Dataset strongly references its SparkSession, so
    * a plain value map would make every weak KEY reachable from its own
    * value and pin stopped sessions (plus all their plans) forever —
    * the WeakHashMap self-reference trap. Soft values cost at worst a
    * re-resolve after a GC pressure spike.
    *
    * Several dirs read as ONE relation. `schema`, when given, is the read
    * schema (no footer job; narrower files null-fill), and the read goes
    * through [[org.apache.spark.sql.graft.ImmutableDirScan]]: published
    * artifact dirs never change, so each is listed once. */
  private val readCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, java.lang.ref.SoftReference[DataFrame]]]()
  def readMemo(spark: SparkSession, dirs: Seq[Path],
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val key = (dirs.map(_.toString) ++ schema.map(_.json)).mkString("\n")
    val perSession = readCache.synchronized {
      var m = readCache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap
          .empty[String, java.lang.ref.SoftReference[DataFrame]]
        readCache.put(spark, m)
      }
      m
    }
    perSession.get(key).flatMap(r => Option(r.get())) match {
      case Some(df) => df
      case None =>
        val df = schema match {
          case Some(s) => org.apache.spark.sql.graft.ImmutableDirScan(spark, dirs.map(_.toString), s)
          case None => spark.read.parquet(dirs.map(_.toString): _*)
        }
        perSession.put(key, new java.lang.ref.SoftReference(df))
        df
    }
  }

  /** Per-piece incremental materialization — the one maintenance route
    * of every ANN index: one artifact per immutable piece dir (a dataset
    * table's file; a collection's base dirs and delta segments), at
    * `dirOf(piece)`, so after a write the next use builds only the
    * delta's piece, and every missing piece builds in ONE Spark job
    * ([[artifacts]]). `build` gets the piece read under the source's
    * authoritative schema and must keep the id column. The index reads
    * as ONE relation under `build`'s schema (a piece built before a
    * widening null-fills), minus the superseded rows: the frame's
    * [[Collections.Visibility]] with each delta's artifact dir standing
    * in for its segment's dir. Zero pieces is an empty index. */
  def pieces(spark: SparkSession, ps: Collections.Pieces,
      dirOf: Collections.Piece => Path,
      partCol: Option[String])(build: DataFrame => DataFrame): DataFrame = {
    val empty = build(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ps.schema))
    if (ps.parts.isEmpty) empty
    else {
      val dirs = artifacts(spark, ps.parts.map(p => Part(p.index, dirOf(p))), partCol) { tags =>
        ps.parts.filter(p => tags.contains(p.index)).map(p =>
          build(spark.read.schema(ps.schema).parquet(p.dir.toString))
            .withColumn(PieceCol, lit(p.index)))
          .reduce(_.union(_))
      }
      val segmentDirs = ps.parts.zip(dirs).collect {
        case (p, d) if p.segment >= 0 => p.segment -> d.getFileName.toString
      }.toMap
      ps.visibility(readMemo(spark, dirs, Some(empty.schema)), ps.idCol, segmentDirs.get)
    }
  }

  /** Retention for superseded generations of a flat-root artifact: a
    * NEW stamp of (kind, token) makes every OLDER same-prefix sibling
    * stale (a regenerated dataset table). Keep the newest OTHER sibling
    * for in-flight readers, delete anything older. Collection artifacts
    * follow their piece dirs instead ([[gcOwned]]). */
  private def pruneStaleSiblings(current: Path): Unit =
    if (current.getParent == derived) keyParts(current.getFileName.toString).foreach {
      case (kind, t) =>
        val prefix = keyPrefix(kind, t)
        val key = current.getFileName.toString
        val stale = entries(derived).filter(p => p.getFileName.toString.startsWith(prefix) &&
          p.getFileName.toString != key && !p.getFileName.toString.contains(".tmp-"))
        stale.sortBy(p => Files.getLastModifiedTime(p).toMillis)
          .dropRight(1) // newest other generation survives one more build
          .foreach(deleteRec)
    }

  /** The (kind, token key) identity prefix of a cache key. LENGTH-PREFIXED:
    * kind and the token key both admit '_' — the same char that used
    * to join them — so v3's `v3_<kind>_<token>__` was ambiguous
    * (kind='a'/token='b_c' and kind='a_b'/token='c' shared a prefix and
    * could prune each other's LIVE generations as stale; r15 review
    * finding). The digit counts pin the boundaries unambiguously. */
  private def keyPrefix(kind: String, tokenKey: String): String =
    s"v4_${kind.length}k${kind}_${tokenKey.length}t${tokenKey}__"

  /** `token` as a file-name segment, one-to-one: `[A-Za-z0-9.-]` stays,
    * and every other UTF-8 byte, '_' included, becomes `_` and two hex
    * digits. A lossy form would let collections `a b` and `a_b` share a
    * key ([[fromTokenKey]] inverts it). */
  private[graft] def tokenKey(token: String): String = {
    val sb = new StringBuilder
    token.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
          c == '.' || c == '-') sb += c
      else sb ++= f"_${b & 0xff}%02x"
    }
    sb.toString
  }

  /** The token a [[tokenKey]] encodes; None where none does (e.g. the
    * older, lossy keys). */
  private[graft] def fromTokenKey(key: String): Option[String] =
    if (!key.matches("([A-Za-z0-9.-]|_[0-9a-f]{2})*")) None
    else Some(new String("_([0-9a-f]{2})|[^_]".r.findAllMatchIn(key).map(m =>
      Option(m.group(1)).fold(m.matched.head.toByte)(Integer.parseInt(_, 16).toByte)).toArray,
      "UTF-8"))

  /** A flat-root artifact dir keyed by (kind, `token`, the listing of
    * every source): dataset-dir tables change only by regeneration. */
  private[graft] def shared(kind: String, token: String, sources: Seq[Path]): Path =
    derived.resolve(keyPrefix(kind, tokenKey(token)) + sources.map { f =>
      // fail fast: a silently-missing source would stamp a constant and
      // pin a stale cache forever (r3 ADVICE)
      require(Files.exists(f), s"Materialize($kind): missing source $f")
      pathStamp(f)
    }.mkString("_"))

  /** The artifact subtree of the collection whose dir is `colDir`. */
  private[graft] def home(colDir: Path): Path =
    derived.resolve("c").resolve(tokenKey(colDir.toAbsolutePath.normalize.toString))

  /** Driver-side memo for the SMALL collected halves of an index (IVF
    * centroids, PQ codebooks — k×dim-scale arrays): ONE entry per
    * `slot`, recomputed when `stamp` (the artifact it was collected
    * from) changes — the in-memory quantizer cache every ANN engine
    * keeps. */
  private val memoCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Any)]
  def memoAt[T](slot: String, stamp: String)(f: => T): T =
    memoCache.get(slot) match {
      case Some((k, v)) if k == stamp => v.asInstanceOf[T]
      case _ =>
        val v = f
        memoCache.put(slot, (stamp, v))
        v
    }

  /** [[memoAt]] keyed like a [[shared]] artifact of `sources`. */
  def memo[T](kind: String, token: String, sources: Seq[Path])(f: => T): T =
    memoAt(s"${kind}_$token", shared(kind, token, sources).toString)(f)

  /** Deletes `dir` (an artifact, or a collection's subtree) and forgets
    * every in-memory entry kept for it or under it: [[memoAt]] slots,
    * build locks, [[readMemo]] relations and dir listings. */
  def dropUnder(dir: Path): Unit = {
    def under(k: String) = k == dir.toString || k.startsWith(s"$dir/")
    memoCache.filterInPlace { case (slot, _) => !under(slot) }
    buildLocks.filterInPlace { case (k, _) => !under(k) }
    readCache.synchronized(readCache.values().forEach(
      _.filterInPlace { case (k, _) => !k.split("\n").exists(under) }))
    org.apache.spark.sql.graft.ImmutableDirScan.forgetUnder(dir.toString)
    deleteRec(dir)
  }

  /** The one liveness rule of a collection's artifact subtree, run by
    * its GC pass in ONE listing: an artifact
    * `<tier>.<e<epoch>-<born>|p>[.<tokenKey(piece dir)>]`
    * ([[IndexSource.Owned]]) lives while its piece's top-level dir under
    * `colDir` exists and its epoch is at least `epoch - 1` (a newer one
    * is a concurrent retrain's); a temp dir, until `graceMs` old. The
    * piece dirs are checked AFTER the listing, so an artifact another
    * handle built for a piece it just published is never taken for dead. */
  private[graft] def gcOwned(home: Path, colDir: Path, epoch: Long, graceMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - graceMs
    val tops = scala.collection.mutable.Map.empty[String, Boolean]
    def pieceLive(key: String) = fromTokenKey(key).map(_.takeWhile(_ != '/')).exists(top =>
      tops.getOrElseUpdate(top,
        scala.util.Try(Files.isDirectory(colDir.resolve(top))).getOrElse(false)))
    entries(home).foreach { p =>
      val n = p.getFileName.toString
      def dead = n.split("\\.", 3) match {
        case Array(_, mark, rest @ _*) =>
          val epochLive = mark == "p" || mark.startsWith("e") &&
            mark.drop(1).takeWhile(_ != '-').toLongOption.exists(_ >= epoch - 1)
          !epochLive || rest.headOption.exists(!pieceLive(_))
        case _ => true
      }
      quietly(if (if (n.contains(".tmp-")) Files.getLastModifiedTime(p).toMillis < cutoff
        else dead) dropUnder(p))
    }
  }

  /** [[sweep]], once per JVM at session start ([[SessionTuning]]). */
  lazy val sweptOnce: Unit =
    try sweep(derived, Collections.DefaultGraceMs) catch { case scala.util.control.NonFatal(_) => () }

  /** Deletes every entry of flat root `root` older than `graceMs` that
    * is a retired kind (`hnswv2*`/`hnswsig2v*` graphs, raw-code
    * `pq*`/`ivfpq<digit>*` tables, `counts/`), a v4 artifact whose token
    * names no dir (a deleted dataset dir; any old-layout collection
    * artifact, as `<dataDir>_col_<name>` is never a dir) or a `c/`
    * subtree whose collection dir is gone. */
  private[graft] def sweep(root: Path, graceMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - graceMs
    def gone(token: String) =
      !fromTokenKey(token).exists(t => scala.util.Try(Files.isDirectory(Paths.get(t))).getOrElse(false))
    def retired(kind: String) = kind.startsWith("hnswv2") || kind.startsWith("hnswsig2v") ||
      kind.startsWith("pq") || (kind.startsWith("ivfpq") && kind.lift(5).exists(_.isDigit))
    val garbage = entries(root).filter { p =>
      val n = p.getFileName.toString
      n == "counts" || keyParts(n).exists { case (kind, t) => retired(kind) || gone(t) }
    } ++ entries(root.resolve("c")).filter(p => gone(p.getFileName.toString))
    garbage.foreach(p => quietly(if (Files.getLastModifiedTime(p).toMillis < cutoff) deleteRec(p)))
  }

  /** `f`, skipping an entry a concurrent delete removed under it. */
  private def quietly(f: => Unit): Unit =
    try f catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }

  /** The (kind, token key) of a v4 cache key —
    * `v4_<len>k<kind>_<len>t<token>__<stamp>`; the length prefixes make
    * the split unambiguous. None for any other name and for temp dirs. */
  private def keyParts(name: String): Option[(String, String)] = {
    def field(s: String, tag: Char): Option[(String, String)] = {
      val n = s.takeWhile(_.isDigit)
      val rest = s.drop(n.length)
      if (n.isEmpty || n.length > 4 || rest.length <= n.toInt || rest.head != tag) None
      else Some(rest.substring(1, 1 + n.toInt) -> rest.drop(1 + n.toInt))
    }
    if (!name.startsWith("v4_") || name.contains(".tmp-")) None
    else for {
      (kind, r1) <- field(name.drop(3), 'k') if r1.startsWith("_")
      (token, r2) <- field(r1.drop(1), 't') if r2.startsWith("__")
    } yield kind -> token
  }

  private def entries(dir: Path): Seq[Path] =
    if (Files.exists(dir)) Collections.children(dir) else Nil

  /** Content stamp of a live path, the stamp of [[shared]] keys and of
    * callers whose path does NOT embed one (e.g. raw dataset tables):
    * its recursive (name, mtime, size) listing folded into one hex token,
    * content-sensitive for directories (parquet dirs report meaningless
    * lastModified/length at the top level).
    *
    * Granularity assumption (r4 ADVICE, accepted): a rewrite that keeps
    * every file's name, byte size AND millisecond mtime identical maps to
    * the same key and would serve the stale cache. Parquet writers
    * (task-UUID part files, varying encoded sizes) don't do that in
    * practice — sources here are only ever regenerated wholesale. */
  def pathStamp(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(f: Path): Unit =
      if (Files.isDirectory(f)) {
        import scala.jdk.CollectionConverters._
        val s = Files.list(f)
        val children = try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
        children.foreach(walk)
      } else md.update(
        s"${f.getFileName}:${Files.getLastModifiedTime(f).toMillis}:${Files.size(f)};"
          .getBytes("UTF-8"))
    walk(p)
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Atomic publish: rename tmp → target; if another process already
    * published the same key, keep theirs and drop ours. */
  private def publish(tmp: Path, target: Path): Unit = {
    try {
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      org.apache.spark.sql.graft.ImmutableDirScan.forget(target.toString)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.AccessDeniedException
           | _: java.nio.file.DirectoryNotEmptyException =>
        if (!Files.exists(target.resolve("_SUCCESS")))
          throw new IllegalStateException(
            s"Materialize: $target exists without _SUCCESS — remove it and retry")
        deleteRec(tmp)
    }
  }

}
