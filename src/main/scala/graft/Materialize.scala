package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Materialize a derived frame ONCE per dataset dir as parquet,
  * optionally clustered by a key column. The cache key includes a
  * per-file listing (path, mtime, size) of every source, so regenerated
  * testdata rebuilds and partial rewrites are content-sensitive. At
  * cluster scale the same derived tables become bucketed tables
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
    atPaths(spark, dir, kind,
      sources.map(t => Paths.get(s"$dir/$t.parquet")), partCol)(build)

  /** Path-stamped variant: `token` is the cache identity (the dataset
    * dir, or a collection's identity), `sources` the concrete files/dirs
    * whose listing stamps the content. Trained models and dataset-dir
    * derived tables are such artifacts, clustered by `partCol` (one
    * repartition shuffle) and read back through [[readMemo]]; index
    * pieces are built in batches instead ([[artifacts]]).
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
  /** Builds are serialized PER KEY, not globally: a single object lock
    * convoyed every materialization in the JVM behind whichever build
    * was slowest (an index rewrite is hours at scale, and an unrelated
    * collection's already-built artifact only needs the existence
    * check). Same-key racers still dedup on their shared lock; the
    * lock map grows one tiny Object per content stamp, the same rate
    * as the cache itself. */
  private val buildLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  def atPaths(spark: SparkSession, token: String, kind: String,
      sources: Seq[Path], partCol: Option[String])(build: => DataFrame): DataFrame = {
    val key = cacheKey(kind, token, sources)
    val path = derived.resolve(key)
    buildLocks.getOrElseUpdate(key, new Object).synchronized {
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
          pruneStaleSiblings(key, kind, token, path)
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

  /** One artifact of a batched build ([[artifacts]]): `tag` is the value
    * its rows carry in the build's [[PieceCol]]; the rest is its cache
    * identity, as in [[atPaths]]. */
  final case class Part(tag: Int, kind: String, sources: Seq[Path])

  /** The tag column of a batched build. */
  val PieceCol = "__piece"

  /** Build every missing artifact of `parts` in ONE Spark job and return
    * each part's published dir, in `parts` order. `build(tags)` returns
    * the rows of those parts with their tag in an int [[PieceCol]]. The
    * rows are sorted within their partitions by (tag, `partCol`) — no
    * repartition shuffle, so a part holds at most one file per input
    * partition of its build and no zero-row file — and written once,
    * partitioned by the tag, into one temp dir; each part's subdir then
    * publishes atomically under its own key (with `_SUCCESS`, and its own
    * stale generations pruned), so every later use reuses it per part.
    * Locks on the missing keys are taken in sorted key order, so two
    * batches over overlapping keys cannot deadlock, and a key a racer
    * published while this one waited is not built again. */
  def artifacts(spark: SparkSession, token: String, parts: Seq[Part],
      partCol: Option[String])(build: Seq[Int] => DataFrame): Seq[Path] = {
    val keyed = parts.map(p => p -> cacheKey(p.kind, token, p.sources))
    def missing = keyed.filterNot { case (_, k) =>
      Files.exists(derived.resolve(k).resolve("_SUCCESS"))
    }.distinctBy(_._2)
    def locked(keys: List[String])(f: => Unit): Unit = keys match {
      case Nil => f
      case k :: rest => buildLocks.getOrElseUpdate(k, new Object).synchronized(locked(rest)(f))
    }
    if (missing.nonEmpty) locked(missing.map(_._2).sorted.toList) {
      val dirty = missing
      if (dirty.nonEmpty) {
        val b = build(dirty.map(_._1.tag))
        writeThen(b.sortWithinPartitions((PieceCol +: partCol.toSeq).map(col): _*),
            derived.resolve(dirty.head._2), Some(PieceCol)) { tmp =>
          dirty.foreach { case (p, key) =>
            // a part with no rows has no subdir: it publishes empty
            val sub = Files.createDirectories(tmp.resolve(s"$PieceCol=${p.tag}"))
            Files.createFile(sub.resolve("_SUCCESS"))
            publish(sub, derived.resolve(key))
            pruneStaleSiblings(key, p.kind, token, derived.resolve(key))
          }
          deleteRec(tmp)
        }
        org.apache.spark.sql.graft.CheckpointBlocks.unpersistAll(b)
      }
    }
    keyed.map { case (_, k) => derived.resolve(k) }
  }

  /** Write `df` into a private temp sibling of `path` and hand it to
    * `publish`; a failed write or publish must not strand its partial
    * copy (prune skips `.tmp-` names by design, so nothing else ever
    * reclaims one). */
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
    * (r11 VERDICT "job stacking"). Derived paths embed their content
    * stamp in the directory NAME, so a cached relation can never go
    * stale: new content ⇒ new path ⇒ new cache row.
    *
    * Keyed weakly per session, and the DataFrames are held through
    * SoftReferences: a Dataset strongly references its SparkSession, so
    * a plain value map would make every weak KEY reachable from its own
    * value and pin stopped sessions (plus all their plans) forever —
    * the WeakHashMap self-reference trap. Soft values cost at worst a
    * re-resolve after a GC pressure spike.
    *
    * Several dirs read as ONE relation: one scan whose read partitions
    * pack small files across dirs. `schema`, when given, is the read
    * schema — no footer job runs, and files written under a narrower
    * one null-fill; [[pieces]] passes the schema its build plan already
    * knows. Such a read goes through
    * [[org.apache.spark.sql.graft.ImmutableDirScan]], the scan collection
    * frames use too: published artifact dirs never change, so each is
    * listed once, and a read over more than 32 dirs runs no listing job. */
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

  /** Content stamp of an arbitrary live path (used by callers whose
    * path does NOT embed the stamp — e.g. raw dataset tables): the same
    * (name, mtime, size) walk as [[atPaths]] keys, driver-side only. */
  def pathStamp(p: Path): String = listingHash(p)

  /** Per-piece incremental materialization — the one maintenance route
    * of every ANN index (LSH buckets, IVF cells, IVF-PQ codes): one
    * cached artifact per (piece dir, extraSources).
    * Piece dirs are immutable (a dataset table's parquet file; a
    * collection's base buckets or flat dirs and its delta segments,
    * [[Collections.FrameManifest]]), so after a write the next use
    * builds only the new delta's piece; a fold rebuilds all of them.
    * Every missing piece builds in ONE Spark job ([[artifacts]]). `build`
    * receives the piece's frame read under the source's authoritative
    * schema (null-filling columns a pre-widening file lacks) and must
    * keep the id column.
    *
    * The index reads as ONE relation over every piece's artifact,
    * under the schema of `build` over the source's current schema (known
    * without a footer job; a piece built before a widening null-fills),
    * minus the superseded rows: the frame's [[Collections.Visibility]]
    * with each delta piece's artifact dir standing in for its segment's
    * dir. Zero pieces (an emptied collection) is an empty index: `build`
    * over an empty frame of that schema, nothing cached. */
  def pieces(spark: SparkSession, token: String, kindFor: Int => String,
      ps: Collections.Pieces, extraSources: Seq[Path],
      partCol: Option[String])(build: DataFrame => DataFrame): DataFrame = {
    val empty = build(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ps.schema))
    if (ps.parts.isEmpty) empty
    else {
      val dirs = artifacts(spark, token, ps.parts.map(p =>
          Part(p.index, kindFor(p.index), (p.dir +: extraSources).distinct)), partCol) { tags =>
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

  /** Retention for superseded index generations: building a NEW stamp of
    * (kind, token) makes every OLDER same-prefix sibling stale — without
    * pruning, each collection publish strands a full index copy forever
    * (unbounded temp growth in any long-lived process; the same leak a
    * 100 TB deployment would hit on its index store). Mirror
    * [[Collections.publish]]'s policy: keep the newest OTHER sibling for
    * in-flight readers (their plans resolved file lists already), delete
    * anything older. */
  private def pruneStaleSiblings(key: String, kind: String, token: String,
      current: Path): Unit = {
    val prefix = keyPrefix(kind, token)
    val parent = current.getParent
    if (parent == null || !Files.exists(parent)) return
    val stale = entries(parent).filter(p => p.getFileName.toString.startsWith(prefix) &&
      p.getFileName.toString != key && !p.getFileName.toString.contains(".tmp-"))
    stale.sortBy(p => Files.getLastModifiedTime(p).toMillis)
      .dropRight(1) // newest other generation survives one more build
      .foreach(Collections.deleteRec)
  }

  /** Recursive (name, mtime, size) listing folded into one hex token —
    * content-sensitive for directories (parquet dirs report meaningless
    * lastModified/length at the top level).
    *
    * Granularity assumption (r4 ADVICE, accepted): a rewrite that keeps
    * every file's name, byte size AND millisecond mtime identical maps to
    * the same key and would serve the stale cache. Parquet writers
    * (task-UUID part files, varying encoded sizes) don't do that in
    * practice — sources here are only ever regenerated wholesale. */
  /** The (kind, token) identity prefix of a cache key. LENGTH-PREFIXED:
    * kind and the token key both admit '_' — the same char that used
    * to join them — so v3's `v3_<kind>_<token>__` was ambiguous
    * (kind='a'/token='b_c' and kind='a_b'/token='c' shared a prefix and
    * could prune each other's LIVE generations as stale; r15 review
    * finding). The digit counts pin the boundaries unambiguously. */
  private def keyPrefix(kind: String, token: String): String = {
    val t = tokenKey(token)
    s"v4_${kind.length}k${kind}_${t.length}t${t}__"
  }

  /** `token` as a file-name segment, one-to-one: `[A-Za-z0-9.-]` stays,
    * and every other UTF-8 byte, '_' included, becomes `_` and two hex
    * digits. A lossy form would let collections `a b` and `a_b` share a
    * token, so dropping one would reclaim the other's artifacts. */
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

  private def cacheKey(kind: String, token: String, sources: Seq[Path]): String =
    keyPrefix(kind, token) + sources.map { f =>
      // fail fast: a silently-missing source would stamp a constant and
      // pin a stale cache forever (r3 ADVICE)
      require(Files.exists(f), s"Materialize($kind): missing source $f")
      listingHash(f)
    }.mkString("_")

  /** Driver-side memo for the SMALL collected halves of an index (IVF
    * centroids, PQ codebooks — k×dim-scale arrays): keyed by the same
    * content stamp as [[atPaths]], so a data change invalidates both
    * together, but the collect job runs once per stamp per JVM instead
    * of once per query compile. This is the in-memory quantizer cache
    * every ANN engine keeps; bounded — entries are tiny and stale
    * stamps are dropped when a newer stamp of the same (kind, token)
    * memoizes. */
  private val memoCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, Any)]
  def memo[T](kind: String, token: String, sources: Seq[Path])(f: => T): T = {
    val key = cacheKey(kind, token, sources)
    val prefix = s"${kind}_$token"
    memoCache.get(prefix) match {
      case Some((k, v)) if k == key => v.asInstanceOf[T]
      case _ =>
        val v = f
        memoCache.put(prefix, (key, v))
        v
    }
  }

  /** One-time reclamation of artifacts whose KIND a code upgrade
    * retired: [[pruneStaleSiblings]] only retires same-(kind, token)
    * generations, so renaming a kind (e.g. r17's raw-code `pq*`/`ivfpq*`
    * → residual `ivfpqr*`) strands every old-kind directory — corpus-
    * sized code tables sitting in the temp dir forever on a long-lived
    * host. Callers name the retired-kind predicate; the sweep runs once
    * per (note, token) per JVM and only parses v4 names (the
    * length-prefixed grammar makes kind extraction unambiguous). */
  private val retiredSweeps =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  def retireKinds(token: String, note: String)(
      pred: String => Boolean): Unit =
    retiredSweeps.getOrElseUpdate(s"$note|$token", {
      entries(derived).filter(p => keyParts(p.getFileName.toString).exists {
        case (kind, t) => t == tokenKey(token) && pred(kind) }).foreach(Collections.deleteRec)
    })

  /** Reclaims everything kept for `token`, a source that no longer exists
    * (a dropped collection): every artifact dir keyed by it, and its
    * [[memo]], [[readMemo]] and listing-cache entries. In-flight temp
    * dirs are left to the builds that own them. */
  def reclaim(token: String): Unit = {
    def ours(name: String) = keyParts(name).exists(_._2 == tokenKey(token))
    memoCache.filterInPlace { case (_, (key, _)) => !ours(key) }
    buildLocks.filterInPlace { case (key, _) => !ours(key) }
    readCache.synchronized {
      readCache.values().forEach { m =>
        m.filterInPlace { case (key, _) => !key.split("\n").exists(d =>
          Option(Paths.get(d).getFileName).exists(f => ours(f.toString))) }
        ()
      }
    }
    entries(derived).filter(p => ours(p.getFileName.toString)).foreach { p =>
      org.apache.spark.sql.graft.ImmutableDirScan.forget(p.toString)
      Collections.deleteRec(p)
    }
  }

  /** The (kind, token key) of a v4 cache key —
    * `v4_<len>k<kind>_<len>t<token>__<stamp>`; the length prefixes make
    * the split unambiguous. None for any other name and for temp dirs. */
  private def keyParts(name: String): Option[(String, String)] = {
    def field(s: String, tag: Char): Option[(String, String)] = {
      val digits = s.takeWhile(_.isDigit)
      if (digits.isEmpty || digits.length > 4) None
      else {
        val len = digits.toInt
        val after = s.drop(digits.length)
        if (after.length > len && after.head == tag) Some(after.substring(1, 1 + len) ->
          after.drop(1 + len))
        else None
      }
    }
    if (!name.startsWith("v4_") || name.contains(".tmp-")) None
    else for {
      (kind, r1) <- field(name.drop(3), 'k') if r1.startsWith("_")
      (token, r2) <- field(r1.drop(1), 't') if r2.startsWith("__")
    } yield kind -> token
  }

  private def entries(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
      } finally s.close()
    }

  private def listingHash(p: Path): String = {
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

  private def deleteRec(p: Path): Unit = Collections.deleteRec(p)
}
