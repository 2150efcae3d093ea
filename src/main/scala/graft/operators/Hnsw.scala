package graft.operators

import graft.functions.VectorKernels
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Partitioned HNSW ANN tier (SURVEY.md §2.3 V8; reference
  * index/hnsw/native_index.rs:230,338 — a single-node navigable
  * small-world pointer graph).
  *
  * The reference's structure can't ship to a cluster as pointers, but
  * its two load-bearing ideas can:
  *
  *  1. PARTITION the space coarsely (reuse the IVF k-means cells — the
  *     same router the `index='ivf'` tier probes), so a query touches
  *     `nprobe` cells' files only (pushed `cell IN (…)` scan pruning);
  *  2. inside each cell, search a NAVIGABLE GRAPH instead of scanning:
  *     each node stores its `m` nearest neighbors (level 0) and a
  *     deterministic ~1/`levelStride` sample of nodes forms level 1
  *     with its own neighbor links (the "hierarchy" — a coarse mesh to
  *     find a good entry point fast). A greedy descent on level 1
  *     followed by a best-first, `ef`-bounded expansion on level 0
  *     evaluates O(ef·m) distances per cell, not O(|cell|).
  *
  * The graph is built batch-side (one distributed pass, per-cell
  * in-task construction) and serialized as a parquet adjacency table
  * clustered by `cell` — the index IS a DataFrame, like the LSH/IVF
  * tiers. Per-query cost: prune to probed cells, one small shuffle to
  * co-locate each cell's adjacency in a task, walk, exact-rerank ≤
  * nprobe·ef survivors. vs IVF at equal recall the scan volume matches
  * (same probed cells) but the SCORED candidate set shrinks from every
  * probed row to the walk's frontier — asserted by HnswSpec.
  *
  * Scale note: a cell's adjacency must fit one task (the same bound the
  * per-cell k-means/PQ training already assumes); size `Ivf.Cells`
  * so cells stay ~10⁵-10⁶ rows at the target scale. Graph build is the
  * reference's INSERTION algorithm (search-then-link,
  * native_index.rs:317): each node searches the graph built so far with
  * an `efConstruction`-bounded expansion and links to its `m` best —
  * O(n·ef·m) kernel evals per cell, ~linear in |cell|
  * (HnswBuildCostSpec pins the growth on a counter). The r11 half-matrix
  * build was O(|cell|²/2): at 10⁶-row cells that is ~5×10¹¹ kernel evals
  * per rebuild — the build, not the walk, was the scale-killer
  * (r11 VERDICT ask #3).
  */
/** Bounded LRU memo for expensive boolean verdicts (parquet footer
  * reads) — the repo's access-order LinkedHashMap idiom (Graft's parse
  * cache), synchronized because contention here is one footer verdict
  * per index file on the PLANNING path. Exact LRU: each insert past
  * `cap` evicts only the single least-recently-touched key, so hot
  * entries deterministically survive any number of cap crossings.
  * The verdict thunk is evaluated outside the lock — two threads may
  * compute the same verdict once each (benign: it's a pure read). */
private[graft] final class LruVerdictCache(cap: Int) {
  private val map = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Boolean](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
        size() > cap
    })

  def size: Int = map.size
  def contains(key: String): Boolean = map.containsKey(key)

  def getOrElseUpdate(key: String, verdict: => Boolean): Boolean = {
    val hit = map.get(key)
    if (hit != null) hit.booleanValue()
    else {
      val v = verdict
      map.put(key, java.lang.Boolean.valueOf(v))
      v
    }
  }
}

object Hnsw {

  /** Kernel evaluations spent in [[buildGraph]] since JVM start —
    * diagnostic counter for the build-cost spec (exact in local mode
    * where tasks share the JVM; per-executor on a cluster). */
  val buildKernelEvals = new java.util.concurrent.atomic.LongAdder

  /** Metric name → (kernel, higherIsBetter) — the driver-side twin of
    * [[graft.functions.VectorFunctions.metrics]] (distance.rs:76-81). */
  private def kernelOf(metric: String)
      : ((Array[Float], Array[Float]) => Double, Boolean) = metric match {
    case "cosine" => (VectorKernels.cosine, true)
    case "dot" => (VectorKernels.dot, true)
    case "euclidean" => (VectorKernels.l2, false)
    case "hamming" => (VectorKernels.hamming, false)
    case "jaccard" => (VectorKernels.jaccard, true)
    case other => throw new IllegalArgumentException(s"unknown metric '$other'")
  }

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalArgumentException(
      s"HNSW needs an integral id column, got ${Option(other).map(_.getClass).orNull}")
  }

  /** Footer-verified "this file is one row group" — the unit parquet
    * hands a scan task whole, so the file can't be split regardless of
    * size. Cached per (path, size, mtime): index files are write-once
    * dirs, and stamping the mtime means even an in-place same-size
    * rewrite can't serve a stale verdict. Bounded with exact LRU
    * eviction (a full clear() would thundering-herd one footer re-read
    * per LIVE file on the next query; evicting only the stalest key
    * keeps every hot index's verdict across any cap crossing). */
  private[graft] val rowGroupCache = new LruVerdictCache(4096)
  private def isSingleRowGroup(file: String,
      hconf: org.apache.hadoop.conf.Configuration): Boolean = {
    val p = java.nio.file.Paths.get(new java.net.URI(file))
    val size = java.nio.file.Files.size(p)
    val mtime = java.nio.file.Files.getLastModifiedTime(p).toMillis
    rowGroupCache.getOrElseUpdate(s"$file#$size#$mtime", {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), hconf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size == 1 finally r.close()
    })
  }

  /** Deterministic level-1 membership: ~1/stride of nodes by id hash —
    * no RNG state, same sample on every rebuild. */
  private def isLevel1(id: Long, stride: Int): Boolean = {
    var z = id * 0x9E3779B97F4A7C15L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    ((z ^ (z >>> 27)) & Long.MaxValue) % stride == 0
  }

  /** Build the adjacency frame over an IVF-cell-assigned frame: input
    * columns + `neighbors` (≤2m bidirectional level-0 links, best
    * first), `neighbors1` (≤m links within the level-1 mesh; empty for
    * level-0 nodes) and `level` (0/1).
    *
    * Each cell's graph is built inside its task by INCREMENTAL
    * search-then-link insertion (the reference's insert algorithm,
    * native_index.rs:317): nodes enter in ascending-id order (fully
    * deterministic — rebuilds are bit-identical across JVMs, which the
    * Materialize cache identity requires); each inserted node runs an
    * `efConstruction`-bounded best-first search over the graph built so
    * far, links bidirectionally to its `m` best candidates, and
    * overfull endpoints prune to their 2m best — O(n·ef·m) kernel
    * evals, not the half-matrix O(n²/2). */
  def buildGraph(cells: DataFrame, vecCol: String, idCol: String,
      metric: String, m: Int = 8, levelStride: Int = 16,
      efConstruction: Int = 64): DataFrame = {
    val inSchema = cells.schema
    val outSchema = inSchema
      .add("neighbors", ArrayType(LongType, containsNull = false))
      .add("neighbors1", ArrayType(LongType, containsNull = false))
      .add("level", IntegerType)
    val idIdx = inSchema.fieldIndex(idCol)
    val vecIdx = inSchema.fieldIndex(vecCol)
    val cellIdx = inSchema.fieldIndex("cell")
    val (kern, hib) = kernelOf(metric)
    val mm = m
    val stride = levelStride
    val efC = math.max(efConstruction, m + 1)
    cells.repartition(col("cell")).mapPartitions { it =>
      val all = it.toArray
      all.groupBy(_.getInt(cellIdx)).iterator.flatMap { case (_, rows0) =>
        // ascending-id insertion order (determinism)
        val rows = rows0.sortBy(r => asLong(r.get(idIdx)))
        val n = rows.length
        val ids = Array.tabulate(n)(i => asLong(rows(i).get(idIdx)))
        val vecs = Array.tabulate(n)(i => rows(i).getSeq[Float](vecIdx).toArray)
        def better(a: Double, b: Double): Boolean = if (hib) a > b else a < b
        def sim(a: Int, b: Int): Double = {
          buildKernelEvals.increment()
          kern(vecs(a), vecs(b))
        }
        // One incremental graph structure per level. Links are stored
        // with the score BETWEEN THE ENDPOINTS so pruning an overfull
        // node needs no re-evaluation.
        final class InsertGraph(cap: Int, members: Array[Int]) {
          // members: node indices in insertion order
          val nbr = new Array[scala.collection.mutable.ArrayBuffer[(Int, Double)]](n)
          members.foreach(i => nbr(i) = scala.collection.mutable.ArrayBuffer.empty)
          private var inserted = 0
          private def link(a: Int, b: Int, s: Double): Unit = {
            val l = nbr(a)
            l += ((b, s))
            if (l.length > cap) {
              // drop the worst link, ties to the larger id (keep best)
              var worst = 0
              var wi = 1
              while (wi < l.length) {
                val w = l(worst); val c = l(wi)
                if (better(w._2, c._2) || (w._2 == c._2 && ids(c._1) > ids(w._1)))
                  worst = wi
                wi += 1
              }
              l.remove(worst)
            }
          }
          /** efSearch-bounded best-first over the inserted prefix;
            * returns accepted (score, idx) best-first. */
          def searchCandidates(q: Int, ef: Int, entry: Int): Seq[(Double, Int)] = {
            val ordCand = Ordering.by[(Double, Int), (Double, Long)] {
              case (s, i) => (if (hib) s else -s, -ids(i))
            }
            val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ordCand)
            val res = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ordCand.reverse)
            val visited = scala.collection.mutable.HashSet.empty[Int]
            // hard visit bound (the walk's maxVisited discipline): on
            // tie-degenerate data the ef-beam termination alone can
            // touch the whole prefix, which would quietly reintroduce
            // the quadratic build this algorithm replaces
            val maxVisited = ef * 8
            val es = sim(q, entry)
            visited.add(entry)
            cand.enqueue((es, entry))
            res.enqueue((es, entry))
            while (cand.nonEmpty && visited.size < maxVisited) {
              val (cs, ci) = cand.dequeue()
              if (res.size >= ef && better(res.head._1, cs)) cand.clear()
              else nbr(ci).foreach { case (nb, _) =>
                if (!visited.contains(nb) && visited.size < maxVisited) {
                  visited.add(nb)
                  val s = sim(q, nb)
                  if (res.size < ef || better(s, res.head._1) || s == res.head._1) {
                    cand.enqueue((s, nb))
                    res.enqueue((s, nb))
                    if (res.size > ef) res.dequeue()
                  }
                }
              }
            }
            res.dequeueAll.reverse.toSeq // best first
          }
          /** Insert the next member: search the prefix, link to the m
            * best bidirectionally. */
          def insert(q: Int, entry: Int): Unit = {
            if (inserted > 0)
              searchCandidates(q, efC, entry).take(mm).foreach { case (s, j) =>
                link(q, j, s); link(j, q, s)
              }
            inserted += 1
          }
          def linksOf(i: Int): Seq[Long] =
            nbr(i).sortBy { case (j, s) => (if (hib) -s else s, ids(j)) }
              .map { case (j, _) => ids(j) }.toSeq
        }
        val allIdx = Array.range(0, n)
        val l0 = new InsertGraph(2 * mm, allIdx)
        var i = 0
        while (i < n) { l0.insert(i, 0); i += 1 }
        // level-1 mesh: the deterministic ~1/stride sample, built by the
        // same insertion algorithm among its members (cap m)
        val lvl1Idx = allIdx.filter(i => isLevel1(ids(i), stride))
        val isL1 = lvl1Idx.toSet
        val l1 = new InsertGraph(mm, lvl1Idx)
        var a = 0
        while (a < lvl1Idx.length) { l1.insert(lvl1Idx(a), lvl1Idx(0)); a += 1 }
        (0 until n).iterator.map { i =>
          val lvl = if (isL1(i)) 1 else 0
          val nb1 = if (lvl == 1) l1.linksOf(i) else Seq.empty[Long]
          Row.fromSeq(rows(i).toSeq :+ l0.linksOf(i) :+ nb1 :+ lvl)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Walk the probed cells' graphs: per cell, greedy descent on level 1
    * picks the entry, then a best-first `ef`-bounded expansion on level
    * 0 collects the candidate set. Emits each cell's ≤`ef` best rows
    * (rows whose optional `keepCol` is false are NAVIGATED but never
    * EMITTED — filtered-HNSW acceptance, the filter-then-search
    * contract). Output schema = input schema. */
  /** `cellClusteredFiles = true` asserts the input's PARQUET FILES each
    * hold only complete cells (our Materialize graph layout — written
    * repartitioned by cell). The walk then skips its per-query
    * co-locating shuffle when no file can SPLIT across read partitions
    * (every file ≤ the session's minimum split size — files at or under
    * it always map to one partition; a partition holding several whole
    * files still sees complete cells). Larger files fall back to the
    * shuffle: a split mid-row-group-boundary could tear a cell into two
    * partial graphs and silently degrade the walk. */
  def walkCandidates(probed: DataFrame, vecCol: String, idCol: String,
      metric: String, query: Seq[Float], ef: Int,
      keepCol: Option[String] = None,
      cellClusteredFiles: Boolean = false): DataFrame = {
    val inSchema = probed.schema
    val idIdx = inSchema.fieldIndex(idCol)
    val vecIdx = inSchema.fieldIndex(vecCol)
    val cellIdx = inSchema.fieldIndex("cell")
    val nbIdx = inSchema.fieldIndex("neighbors")
    val nb1Idx = inSchema.fieldIndex("neighbors1")
    val lvlIdx = inSchema.fieldIndex("level")
    val keepIdx = keepCol.map(inSchema.fieldIndex)
    val (kern, hib) = kernelOf(metric)
    val q = query.toArray
    val efN = ef
    val maxVisited = ef * 16 // hard bound on pathological meshes
    // The walk groups by cell WITHIN a task partition, so skipping the
    // co-locating shuffle is safe iff no cell's rows can be split across
    // tasks. The index writer puts each cell wholly inside one FILE
    // (buildGraph's hash partitioning by cell, one file per cell), so the
    // only split risk is Spark slicing a single file — which parquet resolves
    // at ROW-GROUP granularity (a row group goes to the split holding
    // its middle byte). Two sufficient conditions per file, either one
    // qualifies: (a) small enough that the scan packer never slices it,
    // or (b) exactly ONE row group (footer check — r12 VERDICT ask #3:
    // production-sized cell files exceed the size cap, but a one-row-
    // group file is atomic no matter its size). Footer reads memoize per
    // (path, size) — index files are write-once.
    val skipShuffle = cellClusteredFiles && (try {
      val conf = probed.sparkSession.sessionState.conf
      val cap = math.min(conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes)
      val hconf = probed.sparkSession.sessionState.newHadoopConf()
      val files = probed.inputFiles
      files.nonEmpty && files.forall { f =>
        val p = java.nio.file.Paths.get(new java.net.URI(f))
        java.nio.file.Files.size(p) <= cap || isSingleRowGroup(f, hconf)
      }
    } catch { case _: Throwable => false })
    val colocated = if (skipShuffle) probed else probed.repartition(col("cell"))
    colocated.mapPartitions { it =>
      val all = it.toArray
      all.groupBy(_.getInt(cellIdx)).iterator.flatMap { case (_, rows) =>
        val byId = scala.collection.mutable.LongMap.empty[Row]
        rows.foreach(r => byId(asLong(r.get(idIdx))) = r)
        def vecOf(r: Row) = r.getSeq[Float](vecIdx).toArray
        def score(r: Row) = kern(q, vecOf(r))
        def better(a: Double, b: Double) = if (hib) a > b else a < b
        if (rows.isEmpty) Iterator.empty
        else {
          // entry: greedy descent on the level-1 mesh from the smallest
          // level-1 id (deterministic); cells too small to have one
          // start from the smallest id outright
          val lvl1 = rows.filter(_.getInt(lvlIdx) == 1)
          var cur = (if (lvl1.nonEmpty) lvl1 else rows)
            .minBy(r => asLong(r.get(idIdx)))
          var curScore = score(cur)
          var moved = true
          while (moved && lvl1.nonEmpty) {
            moved = false
            cur.getSeq[Long](nb1Idx).foreach { nb =>
              byId.get(nb).foreach { r =>
                val s = score(r)
                if (better(s, curScore)) { cur = r; curScore = s; moved = true }
              }
            }
          }
          // level-0 best-first with an ef-bounded ACCEPTED result set:
          // navigation visits any node (graph connectivity), results
          // admit only rows passing the optional keep predicate
          // (filtered-HNSW acceptance)
          val ordCand = Ordering.by[(Double, Long), (Double, Long)] {
            case (s, id) => (if (hib) s else -s, -id)
          } // dequeue = best (goodness, then smaller id)
          val candidates = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ordCand)
          // results: reversed ordering → head/dequeue = worst accepted
          val results = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ordCand.reverse)
          val visited = scala.collection.mutable.HashSet.empty[Long]
          def accepted(r: Row): Boolean =
            keepIdx.forall(ki => !r.isNullAt(ki) && r.getBoolean(ki))
          def offer(r: Row, s: Double, id: Long): Unit =
            if (accepted(r)) {
              results.enqueue((s, id))
              if (results.size > efN) results.dequeue()
            }
          val entryId = asLong(cur.get(idIdx))
          visited.add(entryId)
          candidates.enqueue((curScore, entryId))
          offer(cur, curScore, entryId)
          var evals = 1
          var done = false
          while (!done && candidates.nonEmpty && evals < maxVisited) {
            val (cs, cid) = candidates.dequeue()
            if (results.size >= efN && better(results.head._1, cs)) done = true
            else byId(cid).getSeq[Long](nbIdx).foreach { nb =>
              if (!visited.contains(nb)) {
                visited.add(nb)
                byId.get(nb).foreach { r =>
                  val s = score(r)
                  evals += 1
                  if (results.size < efN || better(s, results.head._1) ||
                      s == results.head._1) {
                    candidates.enqueue((s, nb))
                    offer(r, s, nb)
                  }
                }
              }
            }
          }
          val keep = results.iterator.map(_._2).toSet
          rows.iterator.filter(r => keep.contains(asLong(r.get(idIdx))))
        }
      }
    }(Encoders.row(inSchema))
  }

  /** Level-0 link count and level-1 sampling stride of the
    * materialized graphs ([[buildGraph]]'s defaults). */
  private val M = 8
  private val LevelStride = 16

  /** The materialized partitioned-HNSW index for a source: the IVF
    * centroid router (shared with the `index='ivf'` tier — same cells,
    * same probe routing) plus the cell-clustered adjacency table, kept
    * PER CELL over the epoch-frozen router. The adjacency couples rows
    * WITHIN a cell, across storage pieces, so the rebuild unit is the
    * cell, not the piece; [[buildGraph]] builds each cell on its own in
    * ascending-id order, so a cell's graph depends only on its rows.
    * Every cell whose rows changed rebuilds in ONE Spark job, published
    * per cell ([[graft.Materialize.artifacts]]), and the graphs read as
    * one relation. */
  def materializedIndexAt(spark: SparkSession, src: graft.IndexSource,
      vecCol: String, idCol: String, metric: String, kCells: Int)
      : (Array[(Int, Array[Float])], DataFrame) = {
    val (cents, cells) = Ivf.materializedIndexAt(spark, src, vecCol, kCells)
    val name = src.name
    // v2 in the kind: the r12 insertion build produces different (still
    // contract-conforming) adjacency than the r11 half-matrix build — a
    // stale same-key cache from the old algorithm must not be served.
    // kCells too: the graph's `cell` column is an assignment under the
    // CURRENT cell count — without it a cell-count change served a
    // graph partitioned under the old k (r15 review finding)
    val graphKind = s"hnswv2m${M}s${LevelStride}c${kCells}_${metric}_$name"
    // Per-cell incremental maintenance:
    //  1. per-row (id, cell, hash) signature tables cache per
    //     (piece dir, model stamp) — a write computes only its own
    //     delta's table;
    //  2. per-cell hash = order-independent XOR over the LIVE rows
    //     (pieces read minus their superseded ids; k-cells-sized,
    //     collected once per content stamp and memoized);
    //  3. each cell's graph materializes with that hash as its
    //     extraStamp — ONLY cells whose live rows changed rebuild,
    //     each at the insertion build's O(|cell|·ef·m).
    // A 1-id upsert therefore computes one small signature table and
    // rebuilds ≤2 cell graphs (IncrementalTrainedIndexSpec pins this
    // at the file level); the reference's in-place insert
    // (native_index.rs:317) has the same touched-cells cost shape.
    // The signature hashes the WHOLE row (to_json of every column), not
    // just (id, vector) — the cached cell graph carries all columns
    // (residual __keep predicates and SELECTed payload evaluate against
    // it), so a payload-only upsert must dirty its cell or the walk
    // serves stale payload. Per-row (`_rows_`), so superseded rows can
    // be filtered out before the XOR.
    val sigs = graft.Materialize.pieces(spark, src.token,
      b => s"hnswsig2v${kCells}_${metric}_p${b}_rows_$name", src.pieces,
      src.model, None)(
      _.where(col(vecCol).isNotNull)
        .select(col(idCol), Ivf.udfAssign(cents)(col(vecCol)).as("cell"),
          xxhash64(to_json(struct(col("*")))).as("h")))
    val cellHashes: Seq[(Int, String)] = graft.Materialize.memo(
        s"hnswhashes2v${kCells}_${metric}_$name", src.token,
        (src.stamp ++ src.model).distinct) {
      // bit_xor: order-independent and overflow-free (an ANSI sum of
      // 64-bit hashes overflows); live ids are unique, so XOR
      // cancellation needs a true hash collision
      sigs.groupBy("cell").agg(expr("bit_xor(h)").as("h"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0),
          java.lang.Long.toHexString(r.getLong(1)) + "n" + r.getLong(2)))
        .sortBy(_._1).toSeq
    }
    // a source with no vectors (an emptied collection) has no cells —
    // the index is legitimately EMPTY, not an error
    val empty = buildGraph(cells.limit(0), vecCol, idCol, metric, M, LevelStride)
    // every dirty cell's graph builds in ONE job (buildGraph builds each
    // cell on its own, so one pass over `cell IN dirty` split by cell is
    // exact) and publishes per cell; the graphs read as ONE relation
    // under the current schema: one scan per probe, not one per cell,
    // and a graph cached before a schema widening null-fills the new
    // columns
    val graph =
      if (cellHashes.isEmpty) empty
      else graft.Materialize.readMemo(spark, graft.Materialize.artifacts(spark, src.token,
        cellHashes.map { case (c, h) =>
          graft.Materialize.Part(c, s"${graphKind}_c$c", src.model, Some(h))
        }, None) { dirty =>
          buildGraph(cells.where(col("cell").isin(dirty: _*)), vecCol, idCol,
            metric, M, LevelStride).withColumn(graft.Materialize.PieceCol, col("cell"))
        }, Some(empty.schema))
    (cents, graph)
  }

  /** ANN top-k through the graph: probe cells, walk, exact-rerank. */
  def search(graph: DataFrame, centroids: Array[(Int, Array[Float])],
      vecCol: String, query: Seq[Float], k: Int, nprobe: Int, ef: Int,
      metric: String = "cosine", idCol: String = "id"): DataFrame = {
    val cells = Ivf.probeCells(centroids, query.toArray, nprobe)
    val cand = walkCandidates(
      graph.where(col("cell").isin(cells: _*)),
      vecCol, idCol, metric, query, ef)
      .drop("cell", "neighbors", "neighbors1", "level")
    Knn.topK(cand, vecCol, query, k, metric, idCol)
  }
}
