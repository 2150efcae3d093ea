package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Collection lifecycle + point CRUD (SURVEY.md §2.1 S1-S4).
  *
  * Reference: `Database { data_dir, collections }` with create/open/list/
  * delete (lib.rs:230-346) and `Collection::upsert/get/delete`
  * (collection/core/crud.rs:19-341). Spark shape: a collection is a
  * JSON meta sidecar plus manifest-named parquet frames (points, edges);
  * upsert is merge-by-id (latest write wins) published as a delta
  * segment, delete is a tombstone id set ([[Collections.FrameManifest]]).
  * Index structures (LSH buckets, IVF cells) are derived tables built
  * per immutable piece rather than incrementally mutated; BM25 needs
  * none (it scores per row).
  *
  * Mutations are serialized per instance (the reference's collection
  * RwLock, lib.rs `Arc<RwLock<_>>`): concurrent REST upserts/deletes
  * against one store would otherwise race on the points.tmp swap.
  * Cross-process writers are NOT coordinated (same as the reference's
  * single-process ownership of a data dir).
  */
object Collections {

  /** The default `generationGraceMs`, also [[Materialize.sweep]]'s. */
  private[graft] val DefaultGraceMs = 600000L

  /** Built-in VelesQL catalog names a user collection must not shadow. */
  private[graft] val ReservedNames: Set[String] =
    graft.Tables.All.toSet ++ Set("corpus", "embeddings_wide")

  /** Shared (thread-safe after config) mapper for the JSON sidecars. */
  private[graft] val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Children of a directory with the `Files.list` stream CLOSED — the
    * raw iterator leaks a directory handle per call in a long session. */
  private[graft] def children(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Recursive delete, shared by every temp/generation cleanup site so
    * deletion-behavior fixes (handle leaks, symlinks) live in ONE place. */
  private[graft] def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) children(p).foreach(deleteRec)
    Files.deleteIfExists(p)
  }

  /** One write layered over a frame's base: `dir` is the write's own
    * immutable data dir (None for a delete), `ids` the sorted distinct
    * non-null ids it supersedes — rows with these ids in the base and in
    * every EARLIER segment are no longer visible. */
  private[graft] final case class Segment(dir: Option[String], ids: Array[Long])

  /** Frame manifest (points and edges): the Iceberg-shaped answer to
    * "don't rewrite 100 TB per batch". A generation is an immutable set
    * of parquet dirs NAMED by a manifest file, not a single directory.
    * The BASE is one full write of the frame:
    *
    *  - `buckets > 0` (hash-bucketed points): `entries` maps bucket index
    *    → relative leaf dir (`points-g<uuid>/__b=N`); rows hash-bucket by
    *    `xxhash64(id)`, files are id-sorted, so a point get scans only the
    *    leaf dirs its ids hash to.
    *  - `buckets == 0` (flat): `dirs` lists whole data dirs — the edge
    *    frame, range-clustered indexed collections (the property
    *    clustering IS the layout) and compacted/empty frames.
    *
    * `segments` layer the writes since the base in order, the reference's
    * tombstone model (a Roaring deletion bitmap folded by autovacuum,
    * column_store/mod.rs:420-573): an upsert publishes ONE small delta
    * dir holding only its batch plus the ids it supersedes, a delete
    * publishes ids only — no parquet, no Spark job. A write therefore
    * costs O(batch), not O(collection). Readers scan the base and every
    * delta as one relation and keep a row only if its segment is the
    * last that touched its id (newest wins, [[Visibility]]); the id sets
    * are manifest-known literals, so no join is needed. A write that
    * would take the segments' ids past [[FoldFraction]] of the base's
    * `rows` is a full rewrite instead, which folds everything into a new
    * base. With no segments the read plan is the base scan alone.
    *
    * `schema` is the frame's authoritative merged schema (JSON
    * StructType): readers pass it to the parquet scan explicitly, so a
    * file written before a schema-widening batch null-fills without a
    * distributed mergeSchema footer job, and writers detect column-type
    * conflicts without IO. `rows` is the base's row count (read from
    * the parquet footers when the base is written; None on manifests
    * that predate it). */
  private[graft] final case class FrameManifest(
      buckets: Int,
      entries: Map[Int, String],
      dirs: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      segments: Seq[Segment] = Nil,
      rows: Option[Long] = None) {
    /** Top-level `<frame>-g*` dir names this manifest references. */
    def topDirs: Set[String] =
      (entries.values ++ dirs ++ segments.flatMap(_.dir))
        .map(_.takeWhile(_ != '/')).toSet

    /** Relative dirs of the base, in bucket order. */
    def baseDirs: Seq[String] = entries.toSeq.sortBy(_._1).map(_._2) ++ dirs

    /** Each id's last writer, grouped by segment. Computed once per
      * parsed manifest (parses are cached). */
    lazy val visibility: Visibility = {
      val last = scala.collection.mutable.LongMap.empty[Int]
      segments.iterator.zipWithIndex.foreach { case (s, i) => s.ids.foreach(last(_) = i) }
      val by = Array.fill(segments.size)(Array.newBuilder[Long])
      last.foreach { case (id, s) => by(s) += id }
      Visibility(by.map(_.result().sorted).toIndexedSeq)
    }

    /** Segment ordinal → its delta dir (a delete has none). */
    def segmentDir(s: Int): Option[String] = segments.lift(s).flatMap(_.dir)

    /** Ids written or deleted since the base (with repeats). */
    def segmentIds: Long = segments.map(_.ids.length.toLong).sum
  }

  /** The fold rule: segments fold into a new base once their ids exceed
    * this fraction of the base's rows — the reference's autovacuum
    * threshold (20% deleted rows, column_store/mod.rs:420-573). */
  private[graft] val FoldFraction = 0.2

  /** Which rows of ONE scan over a frame's base and its deltas are live:
    * `last(s)` holds the ids whose last writer is segment s (a delete's
    * ids too). A row from segment s (the base is −1) is visible iff
    * last(id) = s, an id no segment touched counting as last = −1; a
    * null id is always visible (it sits outside upsert semantics).
    *
    * Every row a delta holds carries an id its own segment touched, so
    * an untouched id can only come from the base: the predicate looks up
    * a row's segment — the dir of its file, `_metadata.file_path` — only
    * for touched ids, and an untouched row costs one hash-set probe per
    * segment that last-touched something. */
  final case class Visibility(last: IndexedSeq[Array[Long]]) {
    /** `scan` (a file scan) without its superseded rows; `dirOf(s)`
      * names the dir whose files hold segment s's rows (None for a
      * delete). With no touched id this is `scan` itself, so a
      * segment-free read plans as the bare scan. */
    def apply(scan: DataFrame, idCol: String,
        dirOf: Int => Option[String]): DataFrame = {
      val touched = last.zipWithIndex.filter(_._1.nonEmpty)
      if (touched.isEmpty) scan
      else {
        val id = col(idCol)
        val path = col("_metadata.file_path")
        // file_path is a URI: match the dir's name in its encoded form
        // (a space reads as %20, a '%' as %25)
        def fromLast(s: Int) = dirOf(s).fold(lit(false)) { d =>
          path.contains(new org.apache.hadoop.fs.Path(s"/$d").toUri.getRawPath + "/")
        }
        val (ids0, s0) = touched.head
        val rule = touched.tail.foldLeft(when(id.isin(ids0.toIndexedSeq: _*), fromLast(s0))) {
          case (c, (ids, s)) => c.when(id.isin(ids.toIndexedSeq: _*), fromLast(s))
        }.otherwise(lit(true))
        scan.where(id.isNull || rule)
      }
    }
  }

  /** One cached index piece: `index` names it in the `…_p<N>_` kind
    * family (bucket N of the base, or `buckets + i` for segment i),
    * `dir` is its immutable source dir and `segment` the manifest
    * segment whose rows it holds (−1: the base). */
  final case class Piece(index: Int, dir: Path, segment: Int)

  /** A frame's pieces with the authoritative read schema, the id column
    * and the frame's [[Visibility]], which a reader of the pieces'
    * artifacts applies as it does to the frame itself. */
  final case class Pieces(parts: Seq[Piece],
      schema: org.apache.spark.sql.types.StructType, idCol: String,
      visibility: Visibility)
}

/** @param retainGenerations how many manifest generations (current
  *   included) of each frame survive a publish before [[vacuum]]-style
  *   GC removes unreferenced data dirs — ≥2 keeps the just-superseded
  *   generation alive for in-flight readers whose plans resolved file
  *   lists already. Segment writes (see [[Collections.FrameManifest]])
  *   leave the base referenced, so only folds, full rewrites and
  *   compactions retire base dirs (the reference's compaction/autovacuum
  *   analog, storage/compaction.rs / column_store/mod.rs:420-573).
  * @param generationGraceMs minimum AGE before an unreferenced data dir
  *   is physically deleted. The count-based window alone is not a
  *   correctness guarantee: under rapid successive publishes a reader's
  *   resolved plan can fall more than `retainGenerations` publishes
  *   behind mid-execution and hit FAILED_READ_FILE on vanished parquet
  *   (found by StressSpec's 12-thread storm, r16). Deletion requires
  *   BOTH beyond-retention AND older-than-grace — the same
  *   time-based tombstone retention Delta Lake uses for vacuum safety.
  *   Manifest files themselves stay count-pruned (cheap, and readers
  *   hold resolved FILE lists, not manifests).
  * @param graceRetainMax hard COUNT cap on grace-retained unreferenced
  *   data dirs, per frame. A full rewrite (fold, type change, indexed
  *   layout) leaves a full copy of the frame behind, so an age-only
  *   grace makes steady-state disk = rewrite-rate × grace × frame size
  *   — a streaming foreachBatch sink or a REST upsert storm retained
  *   hundreds of full copies where the old count window kept 2, and
  *   vacuum() no longer reclaimed them either (r16 ADVICE). Points and
  *   edges share this GC. Beyond the cap, the OLDEST unreferenced dirs delete
  *   regardless of age: a reader must now fall `graceRetainMax`
  *   publishes behind mid-execution to notice, instead of
  *   `retainGenerations` — bounded disk with the same Delta-style
  *   safety shape. */
class Collections(spark: SparkSession, dataDir: String,
    retainGenerations: Int = 2,
    generationGraceMs: Long = Collections.DefaultGraceMs,
    graceRetainMax: Int = 16) {
  import Collections.{children, deleteRec, FrameManifest}

  private def root: Path = Paths.get(dataDir)
  /** Every name→path resolve goes through here: a name must be ONE
    * plain path segment. The REST layer validates its own charset, but
    * library callers (adapters, Migrate, user code) hit this API
    * directly — without the check, create("../x") escapes the data dir
    * and drop("..") recursively deletes its PARENT (r15 review
    * finding). The charset stays permissive (existing stores must keep
    * resolving); only traversal is blocked. */
  private def colDir(name: String): Path = {
    require(name.nonEmpty && !name.contains("/") && !name.contains("\\") &&
      name != "." && name != "..",
      s"invalid collection name '$name'")
    root.resolve(name)
  }
  private def metaPath(name: String): Path = colDir(name).resolve("meta.json")

  /** S1: create — empty collection with metadata sidecar.
    *
    * `storageMode` is the reference's per-collection quantization regime
    * fixed at create time (`StorageMode::{Full,SQ8,Binary}`,
    * collection/types.rs:32-61, quantization.rs:20-29): searches on the
    * collection default to that regime without a per-query WITH clause
    * (an explicit WITH quantization still overrides). "full" is the
    * exact default; "sq8"/"binary" route NEAR through the matching
    * quantized path; "pq" (beyond-reference) routes through the
    * materialized product-quantization codes index, whose subspace
    * count `Pq.defaultM` picks from the vector dimension. */
  /** `graphSchema` is the reference's create-time graph schema
    * (`CollectionType::Graph { schema }`, types.rs:53-61): a JSON
    * document parsed by [[GraphSchema.parse]]. When strict (schemaless
    * = false), every later point/edge upsert validates labels and
    * property value types against it and rejects with a SemanticError. */
  /** `buckets` fixes the id-hash bucket count of the points layout at
    * create time (like the reference's create-time storage regime): each
    * bucket is one file of a base rewrite, one point-get scan unit and
    * one index piece, so size it to ~0.1–1 GB of data per bucket at the
    * collection's target scale (16 covers request-sized stores; a 100 TB
    * collection wants 10⁵-ish). More buckets = narrower gets and index
    * pieces, more files. */
  def create(name: String, idCol: String = "id",
      vectorCol: Option[String] = None, metric: String = "cosine",
      storageMode: Option[String] = None,
      graphSchema: Option[String] = None,
      buckets: Int = 16): Unit = {
    require(!exists(name), s"collection $name already exists")
    // built-in dataset/derived table names shadow user collections in
    // the VelesQL catalog (Catalog.table prefers the meta map) — a
    // collection created under one would be silently unreachable
    // (r15 review finding)
    require(!Collections.ReservedNames.contains(name),
      s"'$name' is a reserved dataset table name")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    storageMode.foreach { m =>
      require(Set("full", "sq8", "binary", "pq", "f16", "bf16").contains(m),
        s"unknown storage mode '$m' (expected full/sq8/binary/pq/f16/bf16)")
    }
    // parse BEFORE creating anything: an invalid schema must not leave
    // a half-created collection behind
    val parsedSchema = graphSchema.map(GraphSchema.parse)
    // a new collection owns no artifacts, even where a deleted one sat
    Materialize.dropUnder(indexHome(name))
    Files.createDirectories(colDir(name))
    // Jackson-built sidecar: interpolating caller-supplied idCol/
    // vectorCol/metric (REST passes them through verbatim) could inject
    // fields or corrupt the JSON with a quote (r15 review finding)
    val metaNode = Collections.jsonMapper.createObjectNode()
    metaNode.put("idCol", idCol)
    vectorCol match {
      case Some(v) => metaNode.put("vectorCol", v)
      case None => metaNode.putNull("vectorCol")
    }
    metaNode.put("metric", metric)
    storageMode.foreach(m => metaNode.put("storageMode", m))
    metaNode.put("buckets", buckets)
    Files.writeString(metaPath(name),
      Collections.jsonMapper.writeValueAsString(metaNode))
    parsedSchema.foreach(s => Files.writeString(
      colDir(name).resolve("graph_schema.json"), GraphSchema.render(s)))
  }

  /** The collection's graph schema sidecar, if one was declared. */
  def graphSchemaOf(name: String): Option[GraphSchema] = {
    val p = colDir(name).resolve("graph_schema.json")
    if (Files.exists(p)) Some(GraphSchema.parse(Files.readString(p))) else None
  }

  def exists(name: String): Boolean = Files.exists(metaPath(name))

  def list(): Seq[String] =
    if (!Files.exists(root)) Nil
    else children(root)
      .filter(p => Files.exists(p.resolve("meta.json")))
      .map(_.getFileName.toString).sorted

  /** S1: drop (lib.rs:337-346). The collection's artifact subtree and every
    * in-memory entry kept for it go with it ([[Materialize.dropUnder]]). */
  def drop(name: String): Unit = this.synchronized {
    val dir = colDir(name)
    deleteRec(dir)
    Materialize.dropUnder(indexHome(name))
    org.apache.spark.sql.graft.ImmutableDirScan.forgetUnder(dir.toString)
  }

  /** The collection's own index-artifact subtree, keyed by its dir. */
  private[graft] def indexHome(name: String): Path = Materialize.home(colDir(name))

  /** The keys of the collection's index artifacts ([[IndexSource.Owned]]);
    * the meta sidecar, written once at create, dates the collection. */
  def indexKeys(name: String): IndexSource.Owned =
    IndexSource.Owned(indexHome(name), colDir(name), indexEpoch(name),
      metaPath(name).toFile.lastModified)

  private def idColOf(name: String): String = metaOf(name)._1

  /** The parsed meta sidecar (Jackson — a real JSON parse; the old
    * regex field-grabs silently misread values containing quotes). */
  private def metaNodeOf(name: String): com.fasterxml.jackson.databind.JsonNode =
    Collections.jsonMapper.readTree(Files.readString(metaPath(name)))

  private def metaText(n: com.fasterxml.jackson.databind.JsonNode,
      k: String): Option[String] =
    Option(n.get(k)).filter(v => !v.isNull).map(_.asText)

  /** (idCol, vectorCol, metric) from the collection's meta sidecar. */
  def metaOf(name: String): (String, Option[String], String) = {
    val n = metaNodeOf(name)
    (metaText(n, "idCol").getOrElse("id"), metaText(n, "vectorCol"),
      metaText(n, "metric").getOrElse("cosine"))
  }

  /** The collection's create-time storage mode, if one was declared
    * ("full"/"sq8"/"binary"/"pq"/"f16"/"bf16"); None means exact
    * full-precision. */
  def storageModeOf(name: String): Option[String] =
    metaText(metaNodeOf(name), "storageMode")

  /** The collection's create-time bucket count (16 when predating the
    * bucketed layout). */
  def bucketsOf(name: String): Int = {
    val n = metaNodeOf(name)
    Option(n.get("buckets")).filter(_.isNumber).map(_.asInt).getOrElse(16)
  }

  // ---- frame manifest IO (Collections.FrameManifest scaladoc has the
  // layout story); `frame` is "points" or "edges" ----

  private def manifestLink(name: String, frame: String = "points"): Path =
    colDir(name).resolve(s"$frame.manifest.json")

  /** The CURRENT manifest, resolved through its symlink (readers that
    * parsed it keep addressing immutable dirs across a concurrent
    * publish — the manifest analog of the old generation-symlink read). */
  private[graft] def readManifest(name: String,
      frame: String = "points"): Option[FrameManifest] =
    manifestPath(name, frame).map(parseManifest)

  private def manifestPath(name: String, frame: String): Option[Path] = {
    val link = manifestLink(name, frame)
    if (!Files.exists(link)) None
    else Some(
      if (Files.isSymbolicLink(link)) link.getParent.resolve(Files.readSymbolicLink(link))
      else link)
  }

  /** Parsed-manifest LRU: a manifest file is immutable once written (a
    * publish writes a NEW `<frame>.manifest-*` and re-points the
    * symlink), so (path, mtime, size) is a sound identity. REST point
    * routes resolve meta + schema per REQUEST (r16 ADVICE follow-up:
    * the id-type dispatch made the hottest route parse the manifest —
    * incl. `DataType.fromJson` of the full schema — twice per hit);
    * access-ordered cap keeps retired generations from pinning a
    * long-lived server. */
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, FrameManifest](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, FrameManifest]): Boolean =
        size() > 256
    })

  private def parseManifest(p: Path): FrameManifest = {
    val key = s"$p:${Files.getLastModifiedTime(p).toMillis}:${Files.size(p)}"
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val m = parseManifest0(p)
    manifestCache.put(key, m)
    m
  }

  private def parseManifest0(p: Path): FrameManifest = {
    val n = Collections.jsonMapper.readTree(Files.readString(p))
    val entries = Option(n.get("entries")).map { e =>
      e.fields().asScala.map(kv => kv.getKey.toInt -> kv.getValue.asText()).toMap
    }.getOrElse(Map.empty[Int, String])
    val dirs = Option(n.get("dirs")).map(d =>
      d.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val schema = Option(n.get("schema")).filterNot(_.isNull).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s.asText())
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val segments = Option(n.get("segments")).map(_.elements().asScala.map { s =>
      Collections.Segment(Option(s.get("dir")).filterNot(_.isNull).map(_.asText()),
        s.get("ids").elements().asScala.map(_.asLong()).toArray)
    }.toSeq).getOrElse(Nil)
    val rows = Option(n.get("rows")).filter(_.isNumber).map(_.asLong())
    FrameManifest(n.get("buckets").asInt(), entries, dirs, schema, segments, rows)
  }

  private def renderManifest(m: FrameManifest): String = {
    val root = Collections.jsonMapper.createObjectNode()
    root.put("buckets", m.buckets)
    val e = root.putObject("entries")
    m.entries.toSeq.sortBy(_._1).foreach { case (b, d) => e.put(b.toString, d) }
    val ds = root.putArray("dirs")
    m.dirs.foreach(ds.add)
    m.schema.foreach(s => root.put("schema", s.json))
    m.rows.foreach(r => root.put("rows", r))
    val segs = root.putArray("segments")
    m.segments.foreach { s =>
      val o = segs.addObject()
      s.dir.foreach(o.put("dir", _))
      val ids = o.putArray("ids")
      s.ids.foreach(i => ids.add(i))
    }
    Collections.jsonMapper.writeValueAsString(root)
  }

  /** Write a new manifest generation and atomically swap the symlink;
    * then GC manifests/dirs beyond the retention window. */
  private def publishManifest(name: String, m: FrameManifest,
      frame: String = "points"): Unit = {
    val dir = colDir(name)
    val mf = dir.resolve(
      s"$frame.manifest-${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}.json")
    Files.writeString(mf, renderManifest(m))
    val link = manifestLink(name, frame)
    val tmp = dir.resolve(s"$frame.manifest.lnk-${mf.getFileName}")
    Files.createSymbolicLink(tmp, mf.getFileName)
    Files.move(tmp, link, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    gcFrame(name, frame, retainGenerations)
  }

  /** Generation retention, one policy for both frames: keep the
    * `retain` newest `<frame>.manifest-*` files (always including the
    * one the symlink targets), delete older manifests, then delete every
    * base (`<frame>-g*`) and delta (`<frame>-d*`) data dir no retained
    * manifest references. Index artifacts follow their piece dirs and
    * epochs ([[Materialize.gcOwned]]): the same retention, grace and cap. */
  private def gcFrame(name: String, frame: String, retain: Int): Unit = {
    val dir = colDir(name)
    val current = manifestPath(name, frame)
    val listed = children(dir)
    val manifests = listed
      .filter(p => p.getFileName.toString.startsWith(s"$frame.manifest-"))
      .sortBy(p => (Files.getLastModifiedTime(p).toMillis, p.getFileName.toString))
      .reverse
    val keep = (current.toSeq ++ manifests).distinct.take(math.max(retain, 1))
    manifests.filterNot(keep.contains).foreach(Files.deleteIfExists(_))
    val referenced = keep.filter(Files.exists(_)).map(parseManifest)
      .flatMap(_.topDirs).toSet
    // unreferenced dirs younger than the grace window stay: an in-flight
    // reader may still hold their file paths (see generationGraceMs) —
    // they age out on a later publish/vacuum. Generation dirs are
    // immutable after publish, so mtime IS creation time. The grace is
    // COUNT-capped at graceRetainMax (newest-first): beyond the cap the
    // oldest delete regardless of age, or a rewrite storm retains a
    // full frame copy per rewrite for the whole window (r16 ADVICE —
    // bounded disk beats an unbounded in-flight guarantee).
    // The cap counts BASE dirs (`<frame>-g*`) only: one fold retires
    // every delta dir (`<frame>-d*`) of its base at once, and counting
    // those would delete the just-retired base under its in-flight
    // readers. Deltas are batch-sized, so age alone bounds them.
    val cutoff = System.currentTimeMillis() - generationGraceMs
    val (bases, deltas) = listed
      .filter { p =>
        val n = p.getFileName.toString
        (n.startsWith(s"$frame-g") || n.startsWith(s"$frame-d")) && !referenced.contains(n)
      }
      .sortBy(p => (Files.getLastModifiedTime(p).toMillis, p.getFileName.toString))
      .reverse
      .partition(_.getFileName.toString.startsWith(s"$frame-g"))
    val (graced, overCap) = bases.splitAt(math.max(graceRetainMax, 0))
    (graced ++ deltas).filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .foreach(deleteRec)
    overCap.foreach(deleteRec)
    Materialize.gcOwned(indexHome(name), dir, indexEpoch(name), generationGraceMs)
  }

  /** Drop every generation but the current one, for both frames — the
    * explicit vacuum (reference autovacuum, column_store/mod.rs:420-573).
    * Superseded manifests are deleted immediately; unreferenced data
    * dirs additionally honor generationGraceMs (an in-flight reader may
    * still hold their file paths), aging out on a later pass. Segments
    * stay: they are part of the current generation. Snapshots are
    * physical copies and unaffected. */
  def vacuum(name: String): Unit = this.synchronized {
    Seq("points", "edges").filter(f => Files.exists(manifestLink(name, f)))
      .foreach(gcFrame(name, _, retain = 1))
  }

  // ---- trained-index epochs -------------------------------------------
  //
  // Trained ANN models (IVF centroids, PQ codebooks) are corpus STATISTICS,
  // stable under small batches, so they freeze per EPOCH, which names them
  // ([[IndexSource.Owned]]): a write encodes only its own delta against
  // them, like the reference's in-place insert (native_index.rs:317).

  private def indexEpochPath(name: String): Path = colDir(name).resolve("index_epoch")

  /** Current trained-index epoch (0 until the first retrain). A
    * malformed/empty sidecar reads as 0 rather than failing the query
    * (it only ever means "pre-first-retrain"). */
  def indexEpoch(name: String): Long = {
    val p = indexEpochPath(name)
    if (!Files.exists(p)) 0L
    else Files.readString(p).trim.split("\\s+").headOption
      .flatMap(_.toLongOption).getOrElse(0L)
  }

  /** Bump the epoch: the next indexed query re-trains every model on
    * the then-current content and re-encodes all buckets against it.
    * Returns the new epoch. Written via tmp + atomic rename, so a
    * concurrent [[indexEpoch]] reader never sees a partial file. */
  def retrainIndexes(name: String): Long = this.synchronized {
    require(exists(name), s"collection $name does not exist")
    val next = indexEpoch(name) + 1
    val p = indexEpochPath(name)
    val tmp = p.resolveSibling(s"index_epoch.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** The index pieces of the points frame — one per base dir (bucket
    * index → RESOLVED immutable leaf dir on the bucketed layout, the
    * i-th whole data dir on the flat one) and one per delta segment
    * (index `buckets` or `dirs` count + i), each tagged with the segment
    * its rows belong to. An emptied bucketed frame has zero base pieces.
    * Derived indexes cache one artifact per piece dir
    * ([[graft.Materialize.pieces]]), so after a write the next indexed
    * query builds only the new delta's piece and reuses every base
    * piece, read under the manifest's [[Collections.Visibility]]. The
    * collection must have been written. */
  def pieces(name: String): Collections.Pieces = {
    val m = readManifest(name).getOrElse(
      throw new IllegalStateException(s"collection $name has no points yet"))
    val dir = colDir(name)
    val base =
      if (m.buckets > 0) m.entries.toSeq.sortBy(_._1)
      else m.dirs.zipWithIndex.map(_.swap)
    val firstDelta = if (m.buckets > 0) m.buckets else m.dirs.size
    val deltas = m.segments.zipWithIndex.collect {
      case (Collections.Segment(Some(d), _), i) =>
        Collections.Piece(firstDelta + i, dir.resolve(d), i)
    }
    Collections.Pieces(
      base.map { case (b, rel) => Collections.Piece(b, dir.resolve(rel), -1) } ++ deltas,
      m.schema.get, idColOf(name), m.visibility) // every manifest writer records its schema
  }

  /** The points frame's authoritative schema (manifest-carried). */
  def manifestSchema(name: String): Option[org.apache.spark.sql.types.StructType] =
    readManifest(name).flatMap(_.schema)

  /** The id → bucket routing expression. Stable across the collection's
    * lifetime: xxhash64 (fixed seed) of the id's string form, so int/
    * long/string id representations of the same value route identically;
    * null ids pin to bucket 0. */
  private def bucketExpr(idc: org.apache.spark.sql.Column, buckets: Int) =
    coalesce(pmod(xxhash64(idc.cast("string")), lit(buckets.toLong)), lit(0L))
      .cast("int")

  /** Buckets a request-sized id list routes to (one narrow local job —
    * must agree exactly with [[bucketExpr]], so it IS bucketExpr). */
  private def bucketsForIds(ids: Seq[Long], buckets: Int): Set[Int] = {
    import spark.implicits._
    ids.toDF("__id").select(bucketExpr(col("__id"), buckets).as("b"))
      .collect().map(_.getInt(0)).toSet
  }

  private def readPaths(paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema match {
      case Some(s) if paths.isEmpty =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case Some(s) => org.apache.spark.sql.graft.ImmutableDirScan(spark, paths, s)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  /** A manifest's rows: ONE scan of `baseDirs` (the base, or the
    * buckets a point get prunes it to) and every delta dir under the
    * manifest schema, minus the superseded rows
    * ([[Collections.Visibility]]). With no segments this is the base scan
    * alone. */
  private def manifestFrame(name: String, m: FrameManifest, idc: => String,
      baseDirs: Seq[String]): DataFrame = {
    val paths = (baseDirs ++ m.segments.flatMap(_.dir)).map(colDir(name).resolve(_).toString)
    val scan = readPaths(paths, m.schema)
    if (paths.isEmpty || m.segments.isEmpty) scan else m.visibility(scan, idc, m.segmentDir)
  }

  /** S3: read all points (empty frame with no schema if never written).
    * Manifest layout: the scan gets the manifest's authoritative schema
    * and the referenced immutable dirs — a concurrent publish writes a
    * NEW manifest + new dirs, so a planned read never races a rewrite. */
  def table(name: String): Option[DataFrame] =
    readManifest(name).map(m => manifestFrame(name, m, idColOf(name), m.baseDirs))

  /** The collection's mutable edge frame (graph_api.rs:40-107) — a second
    * manifest-published frame next to `points`, keyed by the long `id`
    * column; None until the first [[upsertEdges]]. */
  def edges(name: String): Option[DataFrame] =
    readManifest(name, "edges").map(m => manifestFrame(name, m, "id", m.baseDirs))

  /** The edge-side content stamp: the RESOLVED current edges manifest
    * (every edge write publishes a new one). None until the first edge
    * write. */
  def edgesRealPath(name: String): Option[java.nio.file.Path] =
    manifestPath(name, "edges")

  /** The content stamp of this collection's points (the plan memo's):
    * the RESOLVED current manifest file (every publish writes a new
    * one). None until the first write. */
  def pointsRealPath(name: String): Option[java.nio.file.Path] =
    manifestPath(name, "points")

  /** S2: upsert — insert-or-replace by id (crud.rs:19-127). Batch
    * semantics: the incoming batch wins over stored rows; within a batch,
    * later rows win (matching upsert ordering).
    *
    * Schema semantics are OPEN (widening), deliberately: the reference's
    * payload is an untyped JSON map (`payload: HashMap`), and the REST
    * points route infers each batch's schema from its own JSON — so a
    * later batch may carry payload fields earlier batches lacked, and
    * vice versa. A column absent on one side null-fills rather than
    * raising. The flip side, documented: a misspelled column name in a
    * batch silently becomes a NEW column (old rows null there) instead
    * of an error — same as writing a misspelled key into the reference's
    * payload map. Pinned by MultiModalCrudSpec "upsert widens". */
  /** On the bucketed layout with integral ids, an upsert costs O(batch):
    * one job collects the batch's ids, then ONE delta file holding only
    * the batch (deduped by [[mergeById]]'s rules when it repeats an id)
    * is published as a segment that supersedes those ids — no stored row
    * is read or rewritten (reference: in-place id-replace,
    * crud.rs:19-127). A batch that would push the segments past
    * [[Collections.FoldFraction]] of the base's rows folds instead: a
    * full rewrite into a new bucketed base. The same full rewrite serves the
    * first write, collections range-clustered by an index (the
    * clustering IS the layout), a shared column whose type changes
    * (unionByName coercion must rewrite every file to keep one type per
    * column) and non-integral ids (segments hold long ids). */
  def upsert(name: String, batch0: DataFrame): Unit = this.synchronized {
    validateNodeBatch(name, batch0)
    val batch = halfRoundIfConfigured(name, batch0)
    val idc = idColOf(name)
    def rewrite(): Unit = publishPoints(name, mergeById(table(name), batch, idc))
    readManifest(name) match {
      case Some(m) if m.buckets > 0 && listIndexes(name).isEmpty
          && batch.columns.contains(idc) && integralIds(m, idc)
          && typesCompatible(m.schema, batch.schema) =>
        batchIds(batch, idc, foldBudget(name, m)) match {
          case Some(ids) =>
            val superseded = ids.flatten.distinct.sorted
            writeDelta(name, "points", m,
              if (superseded.length == ids.count(_.isDefined)) batch
              else mergeById(None, batch, idc),
              superseded, Seq(col(idc)))
          case None => rewrite()
        }
      case _ => rewrite()
    }
  }

  /** Shared columns must keep their stored type for an incremental
    * merge — a type change rewrites everything (full path) so no two
    * files ever disagree on a column's type. Nullability is not part of
    * the type here: file scans read every column as nullable, and a
    * REST batch's `cast("array<float>")` admits null elements where a
    * bulk load declared none. */
  private def typesCompatible(
      stored: Option[org.apache.spark.sql.types.StructType],
      batch: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    def loose(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(loose(e), containsNull = true)
      case MapType(k, v, _) => MapType(loose(k), loose(v), valueContainsNull = true)
      case StructType(fs) =>
        StructType(fs.map(f => f.copy(dataType = loose(f.dataType), nullable = true)))
      case other => other
    }
    stored.exists { s =>
      val types = s.fields.map(f => f.name -> loose(f.dataType)).toMap
      batch.fields.forall(f => types.get(f.name).forall(_ == loose(f.dataType)))
    }
  }

  /** Segments record ids as longs: only integral id columns qualify. */
  private def integralIds(m: FrameManifest, idc: String): Boolean = {
    import org.apache.spark.sql.types._
    m.schema.flatMap(_.fields.find(_.name == idc)).exists(_.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
  }

  /** The batch's ids (None for a null id), collected in ONE job — or
    * None when the batch has more than `budget` rows: such a write folds
    * anyway, so the collect never returns more ids than the segments
    * may take. Each task ships at most `budget + 1` ids. */
  private def batchIds(batch: DataFrame, idc: String,
      budget: Long): Option[Array[Option[Long]]] =
    if (budget <= 0) None
    else {
      val cap = budget + 1
      val parts = batch.select(col(idc).cast("long")).rdd.mapPartitions { rows =>
        val ids = Array.newBuilder[Option[Long]]
        var n = 0L
        rows.foreach { r =>
          n += 1
          if (n <= cap) ids += (if (r.isNullAt(0)) None else Some(r.getLong(0)))
        }
        Iterator((n, if (n <= cap) ids.result() else Array.empty[Option[Long]]))
      }.collect()
      if (parts.map(_._1).sum > budget) None else Some(parts.flatMap(_._2))
    }

  /** The fold rule as a budget: how many more superseded ids the
    * segments of `m` may take before they pass
    * [[Collections.FoldFraction]] of the base's rows. */
  private def foldBudget(name: String, m: FrameManifest): Long =
    (Collections.FoldFraction *
      m.rows.getOrElse(footerRows(m.baseDirs.map(colDir(name).resolve)))).toLong -
      m.segmentIds

  /** Row count of the parquet files under `dirs`, read from their footers
    * in this JVM (no Spark job). */
  private def footerRows(dirs: Seq[Path]): Long = {
    def files(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) children(p).flatMap(files) else Seq(p)
    val conf = spark.sessionState.newHadoopConf()
    dirs.filter(Files.exists(_)).flatMap(files)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Publish `rows` as ONE delta segment of `frame` that supersedes
    * `ids`: a single file sorted by `sortBy`, with the manifest schema
    * widened by the batch's new columns. */
  private def writeDelta(name: String, frame: String, m: FrameManifest,
      rows: DataFrame, ids: Array[Long],
      sortBy: Seq[org.apache.spark.sql.Column]): Unit = {
    val gen = colDir(name).resolve(s"$frame-d${java.util.UUID.randomUUID()}")
    rows.coalesce(1).sortWithinPartitions(sortBy: _*)
      .write.mode(SaveMode.Overwrite).parquet(gen.toString)
    publishManifest(name, m.copy(
      segments = m.segments :+ Collections.Segment(Some(gen.getFileName.toString), ids),
      schema = Some(unionSchema(m.schema, rows.schema))), frame)
  }

  /** One file per bucket per write: repartition on the bucket key puts
    * each bucket in exactly one task, sorted by id inside for tight
    * row-group id stats (pruned point gets). */
  private def writeBucketed(df: DataFrame, idc: String, buckets: Int,
      gen: Path): Unit =
    df.withColumn("__b", bucketExpr(col(idc), buckets))
      .repartition(col("__b"))
      .sortWithinPartitions(col("__b"), col(idc))
      .write.partitionBy("__b").mode(SaveMode.Overwrite).parquet(gen.toString)

  private def bucketDirsOf(gen: Path): Map[Int, String] =
    children(gen).filter(_.getFileName.toString.startsWith("__b="))
      .map { p =>
        p.getFileName.toString.stripPrefix("__b=").toInt ->
          s"${gen.getFileName}/${p.getFileName}"
      }.toMap

  /** Old columns keep their position and type; genuinely new columns
    * append. Everything nullable: any file written before a widening
    * batch null-fills the new columns. */
  private def unionSchema(
      old: Option[org.apache.spark.sql.types.StructType],
      add: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val oldFields = old.map(_.fields.toSeq).getOrElse(Nil)
    val names = oldFields.map(_.name).toSet
    org.apache.spark.sql.types.StructType(
      (oldFields ++ add.fields.filterNot(f => names(f.name)))
        .map(_.copy(nullable = true)))
  }

  /** Half-precision storage modes (`f16`/`bf16` — half_precision.rs):
    * round the vector column through the configured precision at WRITE
    * time, so the stored values are exactly the value set a
    * half-precision store holds while every read path (NEAR scoring,
    * ANN tiers, snapshots) stays f32. Parquet has no 2-byte float
    * physical type to shrink the file itself, but the zeroed low
    * mantissa bits compress away under the column codec — the 100 TB
    * saving lands in storage and scan IO either way. Idempotent
    * (rounding a rounded value is a no-op), so re-publishes through
    * compaction/index paths are safe. */
  private def halfRoundIfConfigured(name: String, df: DataFrame): DataFrame =
    storageModeOf(name).filter(m => m == "f16" || m == "bf16") match {
      case Some(m) =>
        metaOf(name)._2.filter(df.columns.contains) match {
          case Some(vc) => df.withColumn(vc,
            graft.functions.VectorFunctions.half_round(
              col(vc).cast("array<float>"), m))
          case None => df
        }
      case None => df
    }

  /** Strict-schema node validation: a batch's `labels` must all be
    * declared node types (validate_node_type, schema.rs:211-225). A
    * strict graph collection also REQUIRES labels — an untyped node has
    * no type to validate. */
  private def validateNodeBatch(name: String, batch: DataFrame): Unit =
    graphSchemaOf(name).filterNot(_.schemaless).foreach { sch =>
      def fail(msg: String): Nothing = throw new graft.velesql.SemanticError(msg)
      if (!batch.columns.contains("labels"))
        fail(s"collection '$name' has a strict graph schema: point batches " +
          "need a 'labels' column naming each node's type")
      // a null/empty labels array would slip past the unknown-label
      // check below (explode drops those rows) and land an UNTYPED node
      // in a strict graph — every row must declare at least one type
      val lc = labelsCol(batch).get
      val untyped = batch.where(lc.isNull || size(lc) === 0).limit(1).count()
      if (untyped > 0)
        fail(s"collection '$name' has a strict graph schema: every point " +
          "must carry at least one label")
      val labels = batch.select(explode(lc).as("__l")).distinct()
        .collect().map(_.getString(0)).toSeq
      val unknown = labels.filterNot(l => sch.nodeType(l).isDefined)
      if (unknown.nonEmpty)
        fail(s"node type(s) ${unknown.mkString("'", "', '", "'")} not allowed. " +
          s"Valid types: ${sch.nodeTypes.map(_.name).mkString(", ")}")
    }

  /** The batch's `labels` column normalized to array<string> (payload
    * labels may arrive as an array OR a scalar — same tolerance as
    * [[graft.velesql.Catalog.scopedToGraph]]), None when absent. */
  private def labelsCol(df: DataFrame): Option[org.apache.spark.sql.Column] =
    df.schema.find(_.name == "labels").map(_.dataType).map {
      case _: org.apache.spark.sql.types.ArrayType => col("labels").cast("array<string>")
      case _ => array(col("labels").cast("string"))
    }

  /** Insert-or-replace by key: the incoming batch wins over stored
    * rows, and WITHIN a batch later rows win (ties keyed by
    * monotonically_increasing_id — exact input order per partition,
    * partition-ordered across them). Rows whose id is NULL are outside
    * upsert semantics and are SPLIT OUT before the window and unioned
    * back untouched — never grouped under a surrogate key, because a
    * nondeterministic shuffle key is the SPARK-23207-class hazard: a
    * task retry recomputes different key values and silently
    * duplicates or drops rows (r15 advice). __seq remains
    * monotonically_increasing_id, which is deterministic for the
    * request-shaped inputs this store sees (parallelized batches, file
    * scans); it is only an ORDER key inside an id partition, so a
    * retry on a shuffled upstream batch can at worst flip which of two
    * same-id duplicates wins, never duplicate or lose a row — callers
    * handing a shuffled batch with duplicate explicit ids should dedup
    * first. A store with no id column on EITHER side appends (union,
    * widening): the old early-return published only the batch,
    * silently discarding every stored row (r15 advice). */
  private def mergeById(existing: Option[DataFrame], batch: DataFrame,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hasId = batch.columns.contains(idCol) ||
      existing.exists(_.columns.contains(idCol))
    if (!hasId) return existing match {
      case Some(old0) => old0.unionByName(batch, allowMissingColumns = true)
      case None => batch
    }
    val incoming = batch.withColumn("__pri", lit(1))
      .withColumn("__seq", monotonically_increasing_id())
    val unioned = existing match {
      case Some(old0) => incoming.unionByName(
        old0.withColumn("__pri", lit(0)).withColumn("__seq", lit(-1L)),
        allowMissingColumns = true)
      case None => incoming
    }
    val nullRows = unioned.where(col(idCol).isNull).drop("__pri", "__seq")
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__pri").desc, col("__seq").desc)
    unioned.where(col(idCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__pri", "__seq", "__rn")
      .unionByName(nullRows)
  }

  /** S5: edge upsert (graph_api.rs:40-107 `add_edge`) — merge by edge id
    * into the collection's own `edges` frame: `(id, src, dst, label,
    * …property columns)`, on the same manifest, segment and GC model as
    * points ([[Collections.FrameManifest]]): a write publishes one delta
    * file of its batch sorted by (label, src), superseding the batch's
    * ids, and folds into a full (label, src)-clustered rewrite past the
    * same threshold. A type change rewrites in full. A batch with new
    * property columns widens the schema (missing columns null-fill — the
    * reference's `properties: HashMap` is open too).
    * Rows without an id get one auto-assigned (above both the stored max
    * and the batch's explicit max, like the reference's add_edge id
    * counter) INSIDE the instance lock, so concurrent REST writers can't
    * be handed the same ids and an auto id can't collide with an explicit
    * id in the same batch; the stored-max job runs only when the batch
    * has id-less rows. Duplicate EXPLICIT ids remain the caller's
    * choice — merge-by-id makes that a replace, not corruption.
    * Divergence from the reference, documented: the reference's counter
    * is monotonic for the process lifetime; max-stored+1 means deleting
    * the HIGHEST-id edge lets the next auto insert reuse that id (no
    * counter is persisted). Callers that need never-reused ids should
    * pass explicit ids. */
  def upsertEdges(name: String, batch0: DataFrame): Unit = this.synchronized {
    validateEdgeBatch(name, batch0)
    val withId =
      if (batch0.columns.contains("id")) batch0.withColumn("id", col("id").cast("long"))
      else batch0.withColumn("id", lit(null).cast("long"))
    val stored = readManifest(name, "edges").filter(m => typesCompatible(m.schema, withId.schema))
    val given = stored.flatMap(m => batchIds(withId, "id", foldBudget(name, m)))
    val (explicitMax, idless) = given match {
      case Some(g) => (g.flatten.maxOption, g.count(_.isEmpty).toLong)
      case None => // a bulk or first write: one aggregate instead of a collect
        val r = withId.agg(max(col("id")),
          org.apache.spark.sql.functions.count(when(col("id").isNull, 1))).first()
        (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1))
    }
    // autos start above BOTH the stored max and the batch's explicit max
    // (numbering the id-less rows only: counting explicit-id rows too
    // handed an auto row an offset that could land exactly on an
    // explicit id in the same batch)
    val start =
      if (idless == 0) 0L
      else math.max(
        edges(name).flatMap(df => Option(df.agg(max(col("id"))).first().get(0)))
          .fold(0L)(_.asInstanceOf[Long] + 1L),
        explicitMax.fold(0L)(_ + 1L))
    val batch =
      if (idless == 0) withId
      else {
        import org.apache.spark.sql.expressions.Window
        // single-partition window over the id-less rows; a bulk load
        // pays one sort here, as it did before
        val w = Window.partitionBy(col("id").isNull)
          .orderBy(monotonically_increasing_id())
        withId.withColumn("id", coalesce(col("id"),
          lit(start) + row_number().over(w).cast("long") - 1L))
      }
    (stored, given) match {
      case (Some(m), Some(g)) =>
        val superseded = (g.flatten ++ (start until start + idless)).distinct.sorted
        writeDelta(name, "edges", m,
          if (superseded.length == g.length) batch else mergeById(None, batch, "id"),
          superseded, Seq("label", "src").filter(batch.columns.contains).map(col))
      case _ => publishEdges(name, mergeById(edges(name), batch, "id"))
    }
  }

  /** Strict-schema edge validation (validate_edge_type,
    * schema.rs:230-283), raised as SemanticError (REST: 400):
    *  1. every `label` must be a declared edge type;
    *  2. every property column (beyond id/src/dst/label) must be
    *     declared by some edge type present in the batch, with a Spark
    *     type satisfying the declared ValueType;
    *  3. endpoints that EXIST in the points frame must carry the edge
    *     type's from/to node type in their labels. (Dangling endpoints
    *     stay permitted — this store allows edges ahead of points; the
    *     reference's in-memory store requires the nodes first, a
    *     documented divergence of the batch-first shape.)
    * The batch is request-sized, so the distinct-label collect and the
    * endpoint-check join are driver-cheap. */
  private def validateEdgeBatch(name: String, batch: DataFrame): Unit =
    graphSchemaOf(name).filterNot(_.schemaless).foreach { sch =>
      def fail(msg: String): Nothing = throw new graft.velesql.SemanticError(msg)
      if (!batch.columns.contains("label"))
        fail(s"collection '$name' has a strict graph schema: edge batches " +
          "need a 'label' column naming each edge's type")
      val labels = batch.select("label").distinct()
        .collect().map(_.getString(0)).toSeq
      val unknown = labels.filterNot(l => sch.edgeType(l).isDefined)
      if (unknown.nonEmpty)
        fail(s"edge type(s) ${unknown.mkString("'", "', '", "'")} not allowed. " +
          s"Valid types: ${sch.edgeTypes.map(_.name).mkString(", ")}")
      val present = labels.flatMap(sch.edgeType)
      val reserved = Set("id", "src", "dst", "label")
      batch.schema.fields.filterNot(f => reserved(f.name)).foreach { f =>
        val declaring = present.filter(_.properties.contains(f.name))
        if (declaring.isEmpty)
          fail(s"edge property '${f.name}' is not declared by any edge type " +
            s"in this batch (${labels.mkString(", ")})")
        declaring.foreach { et =>
          val vt = et.properties(f.name)
          if (!GraphSchema.sparkTypeOk(vt, f.dataType))
            fail(s"edge property '${f.name}' on '${et.name}' expects $vt, " +
              s"got ${f.dataType.simpleString}")
        }
      }
      table(name).foreach { pts =>
        val idCol = idColOf(name)
        val nodeLabels = labelsCol(pts).getOrElse(array(lit("Point")))
        val nodes = pts.select(col(idCol).as("__nid"), nodeLabels.as("__nlab"))
        import spark.implicits._
        val defs = present.map(e => (e.name, e.fromType, e.toType))
          .toDF("label", "__ft", "__tt")
        val bad = batch.select(col("src"), col("dst"), col("label"))
          .join(defs, "label")
          .join(nodes.select(col("__nid").as("src"), col("__nlab").as("__slab")),
            Seq("src"), "left")
          .join(nodes.select(col("__nid").as("dst"), col("__nlab").as("__dlab")),
            Seq("dst"), "left")
          .where((col("__slab").isNotNull && !array_contains(col("__slab"), col("__ft"))) ||
            (col("__dlab").isNotNull && !array_contains(col("__dlab"), col("__tt"))))
          .select("label", "src", "dst").limit(1).collect()
        bad.headOption.foreach { r =>
          val et = sch.edgeType(r.getString(0)).get
          fail(s"edge '${r.getString(0)}' (${r.get(1)} -> ${r.get(2)}) " +
            s"expects endpoint types '${et.fromType}' -> '${et.toType}'")
        }
      }
    }

  /** S5: edge removal by id (graph_api.rs `remove_edge`) — a
    * manifest-only segment, like [[delete]]. */
  def deleteEdges(name: String, ids: Seq[Long]): Unit = this.synchronized {
    val hide = ids.distinct.sorted.toArray
    readManifest(name, "edges") match {
      case Some(m) if hide.nonEmpty && hide.length <= foldBudget(name, m) =>
        publishManifest(name,
          m.copy(segments = m.segments :+ Collections.Segment(None, hide)), "edges")
      case _ => edges(name).foreach(df =>
        publishEdges(name, df.where(!col("id").isin(ids: _*))))
    }
  }

  /** Delete every edge (keeps the frame's schema). Used by the REST
    * empty route: an emptied collection holds neither points nor edges,
    * so a later MATCH can't traverse edges whose endpoints are gone. */
  def emptyEdges(name: String): Unit = this.synchronized {
    edges(name).foreach(df => publishEdges(name, df.limit(0)))
  }

  /** Property indexes (G7/G8, reference `collection/graph/property_index
    * .rs` + `range_index.rs`; REST `handlers/indexes.rs`). Spark shape:
    * there is no in-memory index structure to build — "create index"
    * RANGE-CLUSTERS the collection's parquet by the property
    * (repartitionByRange + sortWithinPartitions), so parquet row-group
    * min/max stats turn property predicates into pruned reads; every
    * later publish re-applies the clustering, which is the incremental
    * maintenance the reference does on insert. One physical sort order
    * exists per collection, so the FIRST recorded index defines the
    * clustering; further indexes still benefit from per-row-group stats
    * when correlated with the leading order (documented divergence:
    * the reference holds N independent hash maps in memory; at 100 TB
    * that model doesn't survive, clustering does). `label` is recorded
    * verbatim for API parity — a collection's points are one node set,
    * so clustering is label-agnostic. */
  def listIndexes(name: String): Seq[Map[String, Any]] = {
    val p = indexesPath(name)
    if (!Files.exists(p)) Nil
    else {
      val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
      (0 until arr.size()).map { i =>
        val n = arr.get(i)
        Map[String, Any](
          "label" -> n.get("label").asText(),
          "property" -> n.get("property").asText(),
          "index_type" -> n.get("index_type").asText(),
          "cardinality" -> n.get("cardinality").asLong())
      }
    }
  }

  /** COST AT SCALE, explicit: creating an index REPUBLISHES the whole
    * collection — a full parquet rewrite — because the "index" IS the
    * physical clustering. At 100 TB that is a one-time full-scan +
    * full-write job (hours, not seconds), the same order of work as any
    * engine's index build over the same bytes; it is NOT a metadata
    * flip. Plan index creation before bulk load when possible (create,
    * then upsert: every publish clusters incrementally and no rewrite
    * is ever needed), and expect later `createIndex` calls on a loaded
    * collection to cost a full rewrite. Ongoing maintenance is free-ish:
    * each upsert already rewrites the merged frame, so re-applying the
    * clustering adds only the range-partition shuffle to a write that
    * was happening anyway. */
  def createIndex(name: String, label: String, property: String,
      indexType: String): Long = this.synchronized {
    require(indexType == "hash" || indexType == "range",
      s"Invalid index_type: $indexType. Valid: hash, range")
    val existing = table(name)
    existing.foreach { df =>
      require(df.columns.contains(property),
        s"property '$property' not present in collection '$name'")
    }
    // cardinality is informational (IndexResponse parity) — HLL++ approx
    // instead of an exact distinct: one pass, no shuffle of the full
    // column at 100 TB (probabilistically exact on small stores). HLL
    // ignores NULLs, but schemaless payloads null-fill by design, so
    // NULL counts as one distinct value explicitly — same contract as
    // the exact distinct().count() this replaced.
    val cardinality = existing
      .map(_.agg((approx_count_distinct(col(property)) +
        coalesce(max(when(col(property).isNull, 1L).otherwise(0L)), lit(0L)))
        .as("c")).first().getLong(0))
      .getOrElse(0L)
    val entry = Map[String, Any]("label" -> label, "property" -> property,
      "index_type" -> indexType, "cardinality" -> cardinality)
    // re-creating an existing index replaces IN PLACE: appending would
    // move it to the tail and silently flip which property drives the
    // physical clustering (headOption below) on an idempotent retry
    val before = listIndexes(name)
    val updated =
      if (before.exists(i => i("label") == label && i("property") == property))
        before.map(i =>
          if (i("label") == label && i("property") == property) entry else i)
      else before :+ entry
    writeIndexes(name, updated)
    // republish so the new clustering takes effect immediately
    existing.foreach(df => publishPoints(name, df))
    cardinality
  }

  def dropIndex(name: String, label: String, property: String): Boolean =
    this.synchronized {
      val before = listIndexes(name)
      val kept = before.filterNot(i =>
        i("label") == label && i("property") == property)
      if (kept.size == before.size) false
      else { writeIndexes(name, kept); true }
    }

  private def indexesPath(name: String): Path = colDir(name).resolve("indexes.json")

  private def writeIndexes(name: String, idx: Seq[Map[String, Any]]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    idx.foreach { i =>
      val o = arr.addObject()
      o.put("label", i("label").toString)
      o.put("property", i("property").toString)
      o.put("index_type", i("index_type").toString)
      o.put("cardinality", i("cardinality").asInstanceOf[Long])
    }
    // temp + ATOMIC_MOVE: listIndexes reads without the instance lock
    // (REST GET path), so an in-place truncate-then-write could hand a
    // concurrent reader a torn file
    val tmp = indexesPath(name).resolveSibling(
      s"indexes.json.tmp-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, m.writeValueAsString(arr))
    Files.move(tmp, indexesPath(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Clustering for the points frame per the first recorded index —
    * applied on every publish so upserts keep the layout indexed.
    * Partition count comes from the session's shuffle-partitions config,
    * NOT `df.rdd.getNumPartitions`: under AQE, materializing the RDD
    * forces the final physical plan and EXECUTES the merge's shuffle
    * stages, so the publish would run the whole merge twice. The range
    * shuffle's sampling distributes small frames over few non-empty
    * partitions anyway; big frames want the configured width. */
  private def clusterForIndexes(name: String, df: DataFrame,
      partitions: Option[Int] = None): DataFrame =
    listIndexes(name).headOption.map(_("property").toString)
      .filter(df.columns.contains) match {
      case Some(prop) =>
        val parts = partitions.getOrElse(
          math.max(1, spark.sessionState.conf.numShufflePartitions))
        df.repartitionByRange(parts, col(prop)).sortWithinPartitions(col(prop))
      case None => df
    }

  /** S3: get by ids (crud.rs:250). Bucket-pruned on the manifest
    * layout: only the base leaf dirs the ids hash to are scanned (plus
    * row-group pruning inside them — files are id-sorted), in the same
    * scan as the request-sized delta files. */
  def get(name: String, ids: Seq[Long]): DataFrame = {
    val idCol = idColOf(name)
    readManifest(name) match {
      case Some(m) if m.buckets > 0 && m.schema.isDefined =>
        val bs = if (ids.isEmpty) Set.empty[Int]
          else bucketsForIds(ids, m.buckets)
        manifestFrame(name, m, idCol, bs.toSeq.sorted.flatMap(m.entries.get))
          .where(col(idCol).isin(ids: _*))
      case _ =>
        table(name).map(_.where(col(idCol).isin(ids: _*)))
          .getOrElse(spark.emptyDataFrame)
    }
  }

  /** S3: delete by ids (crud.rs:291). On the bucketed layout with
    * integral ids this is a manifest-only publish — one segment naming
    * the ids, no parquet written and no Spark job (the reference's
    * deletion-bitmap tombstone) — unless it crosses the fold threshold
    * ([[upsert]]); the indexed layout and non-integral ids fall back to
    * the full filter-and-rewrite. */
  def delete(name: String, ids: Seq[Long]): Unit = this.synchronized {
    val idc = idColOf(name)
    // keep = NOT coalesce(id IN ids, false): for a null-id row `isin`
    // is NULL and a bare !NULL is NULL, so the un-coalesced filter
    // silently deleted every null-id point (the exact trap deleteWhere
    // documents; r15 review finding)
    def keep(df: DataFrame) =
      df.where(!coalesce(col(idc).isin(ids: _*), lit(false)))
    val hide = ids.distinct.sorted.toArray
    readManifest(name) match {
      case Some(m) if m.buckets > 0 && listIndexes(name).isEmpty
          && hide.nonEmpty && integralIds(m, idc) && hide.length <= foldBudget(name, m) =>
        publishManifest(name,
          m.copy(segments = m.segments :+ Collections.Segment(None, hide)))
      case _ =>
        table(name).foreach(df => publishPoints(name, keep(df)))
    }
  }

  /** Delete every row matching `predicate` — a pure filter-and-rewrite:
    * the matching set never leaves the executors (no driver id collect).
    * Rows where the predicate is NULL (e.g. a comparison on a NULL
    * column) do NOT match and are kept: keep = NOT coalesce(pred, false),
    * because `!NULL` is NULL and a bare `where(!pred)` would silently
    * delete them. */
  def deleteWhere(name: String, predicate: org.apache.spark.sql.Column): Unit =
    this.synchronized {
      table(name).foreach(df =>
        publishPoints(name, df.where(!coalesce(predicate, lit(false)))))
    }

  /** S3: count (crud.rs:328 len). */
  def count(name: String): Long = table(name).map(_.count()).getOrElse(0L)

  // ---- snapshots (agent/snapshot.rs:147-394 SnapshotManager:
  // create_versioned_snapshot / load_version / list_versions). Spark
  // shape: a snapshot is the current points frame COPIED (parquet
  // rewrite) under snapshots/<tag>; restore publishes that copy as a
  // fresh generation through the same atomic-symlink machinery as
  // upsert, so in-flight readers are never broken. The copy — not a
  // generation re-link — is deliberate: generations older than one
  // publish are garbage-collected, while a snapshot must survive any
  // number of later writes. Cost is O(frame) parquet I/O at snapshot
  // time; for agent-memory-sized stores that is trivial, and at scale
  // it is the honest durability price (the reference serializes the
  // full MemoryState to bytes too, snapshot.rs:147-188).

  private def snapDir(name: String): Path = colDir(name).resolve("snapshots")

  /** Persist the current state under `tag` (overwrites a same-named
    * snapshot, like the reference's versioned re-save). Covers BOTH
    * frames — the reference SnapshotManager serializes the full
    * MemoryState (snapshot.rs:147-188); points-only restore would leave
    * edges referencing endpoint states that never coexisted. */
  /** Tag syntax shared by every snapshot entry point. "." and ".." are
    * excluded explicitly: a tag is used as ONE path segment under
    * snapshots/, and those two are the only values the segment grammar
    * admits that escape it — snapshot("..") would otherwise Overwrite
    * the collection's live points path. */
  private def requireValidTag(tag: String): Unit =
    require(tag.matches("[A-Za-z0-9_.-]+") && tag != "." && tag != "..",
      s"invalid snapshot tag '$tag'")

  def snapshot(name: String, tag: String): Unit = this.synchronized {
    requireValidTag(tag)
    val df = table(name).getOrElse(
      throw new graft.velesql.NotFoundError(s"collection $name has no data to snapshot"))
    df.write.mode(SaveMode.Overwrite).parquet(
      snapDir(name).resolve(tag).resolve("points").toString)
    edges(name).foreach(e => e.write.mode(SaveMode.Overwrite).parquet(
      snapDir(name).resolve(tag).resolve("edges").toString))
  }

  /** Replace the live state with snapshot `tag` (load_version → the
    * restored state becomes current; later writes build on it). Edges
    * restore to the snapshot's edge frame — or to empty when the
    * snapshot predates the first edge upsert. */
  def restoreSnapshot(name: String, tag: String): Unit = this.synchronized {
    requireValidTag(tag)
    val p = snapDir(name).resolve(tag)
    if (!Files.exists(p))
      throw new graft.velesql.NotFoundError(s"snapshot $tag not found on $name")
    // pre-edges-coverage snapshots wrote points at the tag root; accept
    // both layouts so existing snapshots stay restorable
    val pts = if (Files.exists(p.resolve("points"))) p.resolve("points") else p
    publishPoints(name, spark.read.parquet(pts.toString))
    if (Files.exists(p.resolve("edges")))
      publishEdges(name, spark.read.parquet(p.resolve("edges").toString))
    else edges(name).foreach(e => publishEdges(name, e.limit(0)))
  }

  def listSnapshots(name: String): Seq[String] =
    if (!Files.exists(snapDir(name))) Nil
    else children(snapDir(name)).map(_.getFileName.toString).sorted

  def dropSnapshot(name: String, tag: String): Unit = this.synchronized {
    requireValidTag(tag)
    deleteRec(snapDir(name).resolve(tag))
  }

  /** Time-travel READ: the points frame as of snapshot `tag`, with the
    * live state untouched — the cheap way to diff "now vs then" or to
    * audit what a training run actually saw, without [[restoreSnapshot]]
    * rewriting the current generation. The returned frame addresses the
    * snapshot's immutable parquet directly (snapshots survive any number
    * of later publishes, unlike superseded generations, which GC). */
  def snapshotTable(name: String, tag: String): DataFrame = {
    requireValidTag(tag)
    val p = snapDir(name).resolve(tag)
    if (!Files.exists(p))
      throw new graft.velesql.NotFoundError(s"snapshot $tag not found on $name")
    val pts = if (Files.exists(p.resolve("points"))) p.resolve("points") else p
    spark.read.parquet(pts.toString)
  }

  /** Time-travel read of the edge frame; None when the snapshot
    * predates the first edge upsert (old points-only layout). */
  def snapshotEdges(name: String, tag: String): Option[DataFrame] = {
    requireValidTag(tag)
    val p = snapDir(name).resolve(tag)
    if (!Files.exists(p))
      throw new graft.velesql.NotFoundError(s"snapshot $tag not found on $name")
    if (Files.exists(p.resolve("edges")))
      Some(spark.read.parquet(p.resolve("edges").toString))
    else None
  }

  /** L2: compaction — rewrite the collection into `numFiles` parquet
    * files and vacuum superseded generations (the reference's
    * vacuum/compaction, column_store/mod.rs:420-573 /
    * storage/compaction.rs). Compaction flattens: the base and every
    * segment become one FLAT generation (the next upsert re-buckets with
    * one full rewrite). Segments already fold on their own past the
    * fold threshold, so ingest-heavy collections usually want [[vacuum]]
    * instead, which reclaims without flattening. */
  def compact(name: String, numFiles: Int = 1): Unit = this.synchronized {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    table(name).foreach { df =>
      // indexed layout: the range clustering IS the rewrite, so it gets
      // the requested file count directly — clustering AFTER a coalesce
      // re-expanded to the session shuffle width and silently ignored
      // numFiles (r15 review finding); unindexed frames just coalesce
      val clustered = clusterForIndexes(name, df, partitions = Some(numFiles))
      val flat = if (clustered eq df) df.coalesce(numFiles) else clustered
      publishFlat(name, "points", flat, df.schema)
    }
  }

  /** Write `df` as a flat base generation of `frame` and publish it
    * (no segments); `schema` is the frame's schema before any
    * clustering projection. */
  private def publishFlat(name: String, frame: String, df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val gen = colDir(name).resolve(s"$frame-g${java.util.UUID.randomUUID()}")
    df.write.mode(SaveMode.Overwrite).parquet(gen.toString)
    publishManifest(name, FrameManifest(0, Map.empty,
      Seq(gen.getFileName.toString), Some(unionSchema(None, schema)),
      rows = Some(footerRows(Seq(gen)))), frame)
  }

  /** Full points rewrite into a fresh base generation (folds every
    * segment). Unindexed collections with an id column write the
    * hash-bucketed layout (enabling later delta segments); indexed ones
    * write flat range-clustered (parquet stats ARE the index —
    * IndexStoreSpec invariants). */
  private def publishPoints(name: String, df0: DataFrame): Unit = {
    val idc = idColOf(name)
    if (listIndexes(name).nonEmpty || !df0.columns.contains(idc))
      publishFlat(name, "points", clusterForIndexes(name, df0), df0.schema)
    else {
      val buckets = bucketsOf(name)
      val gen = colDir(name).resolve(s"points-g${java.util.UUID.randomUUID()}")
      writeBucketed(df0, idc, buckets, gen)
      publishManifest(name, FrameManifest(buckets,
        bucketDirsOf(gen), Nil, Some(unionSchema(None, df0.schema)),
        rows = Some(footerRows(Seq(gen)))))
    }
  }

  /** Full edge rewrite into a fresh flat base generation (folds every
    * segment). Edge frames cluster by (label, src): typed MATCH
    * traversals filter on `label` and probe by `src`, so tight per-file/
    * row-group min-max stats prune both — the user-collection mirror of
    * the derived dataset graph's src-clustered Materialize. Request-
    * sized stores pay nothing; at scale this is the layout BFS wants. */
  private def publishEdges(name: String, df: DataFrame): Unit = {
    val clustered =
      if (Seq("label", "src").forall(df.columns.contains)) {
        val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
        df.repartitionByRange(parts, col("label"), col("src"))
          .sortWithinPartitions(col("label"), col("src"))
      } else df
    publishFlat(name, "edges", clustered, df.schema)
  }
}
