package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators for training-data pipelines
  * (SURVEY.md training-data tier; the canonical shapes behind
  * q67/q68/q70).
  *
  * Everything here is pair-generation-by-join — never all-pairs: the
  * quadratic term is bounded by an inverted-index join group (shingles),
  * an LSH band bucket (minhash), or a hyperplane bucket (embeddings).
  */
object Dedup {

  /** Shingle-hash partitions per shuffle partition on the uncapped
    * exact-pair join ([[ngramJaccardPairs]]): 4 held q67's 30×
    * duplicate-factor repeats (8 did too, at more tasks). */
  val ExactPairPartsFactor = 4

  /** n-gram Jaccard pairs from a `(doc_id, sh)` shingle-hash frame:
    * inverted join on the shingle, intersection counts, Jaccard ≥
    * `threshold`.
    *
    * `dfCap`: at 100 TB a stop-shingle appearing in n documents makes an
    * n² join group; shingles with document frequency above the cap carry
    * ~zero near-dup signal (they are corpus boilerplate) and are dropped
    * from BOTH the intersection and the per-doc counts, keeping the
    * estimate consistent — Jaccard over the capped shingle universe.
    * `None` = exact (the q67 oracle shape). */
  def ngramJaccardPairs(shingleHashes: DataFrame, threshold: Double,
      dfCap: Option[Long] = None): DataFrame = {
    val sh = dfCap match {
      case Some(cap) =>
        val df = shingleHashes.groupBy("sh")
          .agg(count(lit(1)).as("__df")).where(col("__df") <= cap)
          .select("sh")
        shingleHashes.join(df, "sh")
      case None => shingleHashes
    }
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // The UNCAPPED path's reduce-side join groups grow with the
    // duplicate factor SQUARED (a shingle shared by n docs lands n rows
    // in one task's sort buffer and emits ~n² pairs from it). At the
    // session default of 32 shuffle partitions that concentration
    // exhausted execution memory on high-duplication corpora —
    // TaskMemoryManager 32–64 MB page storms on back-to-back runs at
    // ≥30× (r16 VERDICT #4). Spreading the join across extra
    // shingle-hash partitions divides every task's sort/partial-agg
    // state by the factor; partial aggregation of (a, b) runs inside
    // these partitions, so the final count-merge never sees the raw
    // explosion. Explicit numPartitions also pins the layout against
    // AQE coalescing, which only sees the (small) map-side bytes, not
    // the reduce-side blow-up. The capped production path keeps the
    // session layout — dfCap already bounds its group sizes.
    val spark = shingleHashes.sparkSession
    val joinParts =
      if (dfCap.isDefined) None
      else Some(spark.sessionState.conf.numShufflePartitions * ExactPairPartsFactor)
    def spread(df: DataFrame): DataFrame =
      joinParts.map(p => df.repartition(p, col("sh"))).getOrElse(df)
    val x = spread(sh.select(col("doc_id").as("a"), col("sh")))
    val y = spread(sh.select(col("doc_id").as("b"), col("sh")))
    val inter = x.join(y, Seq("sh")).where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
    val j = col("i") * lit(1.0) / (col("ca.n") + col("cb.n") - col("i"))
    inter
      .join(cnt.as("ca"), col("a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("b") === col("cb.doc_id"))
      .where(j >= threshold)
      .select(col("a"), col("b"), round(j, 6).as("jaccard"))
  }

  /** Connected components over an undirected near-dup pair list — the
    * cluster-assignment step of a "keep one representative per duplicate
    * cluster" pipeline (the pair lists come from [[ngramJaccardPairs]],
    * MinHash/LSH banding, or [[embeddingNearDupLsh]]).
    *
    * Iterative min-label propagation, the standard distributed CC shape:
    * every round each node takes the smallest label among itself and its
    * neighbors — one shuffle-join per round, rounds = component diameter
    * (near-dup clusters are near-cliques, so typically 1-2). The label
    * converges to the smallest member id, which doubles as the natural
    * cluster representative. Per-round lineage is truncated with an
    * eager checkpoint; superseded checkpoints are freed in-loop (the
    * [[graft.operators.Graph.bfsVarLength]] discipline).
    *
    * Returns `(id, cluster)` for every id that appears in a pair. Throws
    * if `maxIters` rounds don't converge (a component with diameter >
    * maxIters — not a near-dup shape; raise the cap explicitly).
    *
    * Within `graft.localFinishEdges` (and with long ids) the whole
    * fixpoint runs as driver-side union-find with min-root union over
    * [[LocalFixpoint]]'s edge index — comp(id) = min id of the
    * component, the exact value min-label propagation converges to
    * (OPTIMIZATION_r17.md: 3.2-4.9 s / 18 jobs → 0.3-0.7 s at sf0.1).
    * Union-find always reaches the fixpoint, so `maxIters` guards only
    * the distributed path. */
  def components(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIters: Int = 20): DataFrame = {
    // materialize the edge list ONCE — the pair source is an expensive
    // similarity join and every propagation round must read blocks, not
    // re-execute it (measured on q73: 4.3 s lazy → ~1 s checkpointed).
    // Graph squaring (2 hops/round) was tried and measured NEUTRAL here:
    // near-dup components converge in 2-3 rounds already, so the extra
    // setup checkpoint cancels the saved rounds.
    // The distinct STAYS (unlike kCore/lpa the pair source here is any
    // caller's similarity join output, with no canonical-distinct
    // contract). The gate job materializes the LAZY checkpoint before
    // any loop consumer plans a stage (no recomputed dedup).
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionAll(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
      .localCheckpoint(false)
    LocalFixpoint.gate(edges).local match {
      case Some(g) =>
        org.apache.spark.sql.graft.CheckpointBlocks.unpersist(edges)
        return unionFind(pairs.sparkSession, g)
      case None => // distributed rounds below
    }
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id"))
    var prevCkpt: DataFrame = null
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val nb = edges.join(
          labels.select(col("id").as("__v"), col("comp").as("__nc")),
          col("v") === col("__v"))
        .groupBy(col("u")).agg(min(col("__nc")).as("__nbc"))
      // carry the changed flag INSIDE the checkpointed frame: the
      // convergence count then reads the checkpoint blocks instead of
      // re-joining old vs new labels (one fewer job per round)
      val newComp = least(labels("comp"), coalesce(col("__nbc"), labels("comp")))
      val updated = labels.join(nb, labels("id") === col("u"), "left")
        .select(labels("id"), newComp.as("comp"),
          (newComp =!= labels("comp")).as("__chg"))
        .localCheckpoint(false)
      // LAZY checkpoint: the convergence count is the materializing
      // action (eager paid a checkpoint job PLUS this count job — two
      // sync jobs per round; r17, guide §1.2)
      changed = updated.where(col("__chg")).count()
      if (prevCkpt != null)
        org.apache.spark.sql.graft.CheckpointBlocks.unpersist(prevCkpt)
      prevCkpt = updated
      labels = updated.drop("__chg")
      it += 1
    }
    org.apache.spark.sql.graft.CheckpointBlocks.unpersist(edges)
    if (changed > 0)
      throw new IllegalStateException(
        s"components: no convergence after $maxIters rounds (diameter > $maxIters)")
    LocalFixpoint.nullable(labels)
  }

  /** [[components]] on the driver: union-find with min-root union (a
    * root is its set's min index, i.e. min id) and path halving. */
  private def unionFind(spark: SparkSession, g: LocalFixpoint.Local): DataFrame = {
    val parent = Array.range(0, g.nodes)
    @scala.annotation.tailrec
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = parent(parent(x)); find(parent(x)) }
    for (e <- 0 until g.edges) {
      val ru = find(g.src(e)); val rv = find(g.dst(e))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    LocalFixpoint.frame(spark, "id", "comp")(
      g.ids, g.ids.indices.map(i => g.ids(find(i))).toArray)
  }

  /** Winnowing fingerprint selection (the MOSS scheme) over ORDERED
    * per-doc gram-hash arrays `(doc_id, h: array<bigint>)`: keep the
    * MINIMUM hash of every w-window of consecutive gram hashes,
    * distinct per doc. Any shared run of w consecutive grams between
    * two documents is guaranteed to yield a shared fingerprint — the
    * local-minima selection makes the set position-robust, unlike a
    * fixed stride. Map-only per doc (no shuffle); downstream joins are
    * inverted-index shaped ([[sharedFingerprintPairs]]).
    *
    * Input contract: ONE row per doc (the gram builders below emit
    * exactly that). Under it the output is already globally distinct —
    * array_distinct dedups within the doc's array and doc_id separates
    * rows — so no distinct() follows the explode: it re-shuffled the
    * entire fingerprint table to remove zero rows (r18, guide §2.4
    * "a distinct on data that is already unique"). */
  def winnowHashes(grams: DataFrame, w: Int = 4): DataFrame =
    grams.where(size(col("h")) >= w)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, size(h) - ${w - 1}), j -> array_min(slice(h, j, $w)))")))
        .as("fp"))

  /** Byte-direct 60-bit md5 prefix (bit-parity with the
    * conv(substring(md5(x),1,15),16,10) chain, pinned by
    * TextKernelsSpec) — inside a transform() lambda the chain's 3
    * allocations per gram ran INTERPRETED (HOFs don't codegen), the
    * worst-cost placement in the fingerprint builders below. */
  private def hash60(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.Md5Prefix(
        org.apache.spark.sql.graft.Bridge.expression(c), 15))

  /** Ordered char k-gram hashes per doc (fine-grained fingerprinting —
    * ~|text| hashes per doc; prefer [[tokenGramHashes]] at corpus scale). */
  def charGramHashes(docs: DataFrame, k: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.where(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"),
        transform(sequence(lit(1), length(col(textCol)) - (k - 1)),
          i => hash60(col(textCol).substr(i, lit(k)))).as("h"))

  /** Ordered word n-gram hashes per doc (the corpus-scale granularity:
    * ~|tokens| hashes per doc; same tokenizer and 60-bit md5 hash as the
    * shingle/minhash family). */
  def tokenGramHashes(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        expr(s"filter(split(lower($textCol), '[^a-z0-9]+'), t -> length(t) > 1)").as("tks"))
      .where(size(col("tks")) >= n)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(col("tks")) - n),
          i => hash60(concat_ws(" ",
            (0 until n).map(j => col("tks")(i + j)): _*))).as("h"))

  /** Winnowing fingerprints from word 3-grams with window 4 — shared
    * runs of ≥ 6 tokens fingerprint. */
  def winnowingFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    winnowHashes(tokenGramHashes(docs, n, idCol, textCol), w)

  /** Document pairs sharing ≥ `minShared` winnowing fingerprints —
    * inverted join on the fingerprint, never all-pairs. */
  def sharedFingerprintPairs(fps: DataFrame, minShared: Long): DataFrame =
    fps.select(col("doc_id").as("a"), col("fp"))
      .join(fps.select(col("doc_id").as("b"), col("fp")), Seq("fp"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("nshared"))
      .where(col("nshared") >= minShared)

  /** Test-set decontamination — the published pre-training hygiene step
    * (GPT-3 used 13-gram collision removal; Gopher/Llama report n-gram
    * overlap scrubs): flag every training document sharing at least one
    * n-gram with a held-out benchmark/eval set, with overlap counts so
    * the pipeline can threshold or hard-drop.
    *
    * Inputs are `(doc_id, g)` exploded gram frames (one row per DISTINCT
    * gram per doc — call `.distinct()` upstream if grams repeat). The
    * join is inverted-index shaped: grams are the join/shuffle key, the
    * quadratic term is bounded per gram by (train df × bench df), and
    * the benchmark side is tiny by construction — at 100 TB the bench
    * gram set broadcasts and the scan over train grams is map-side.
    * `dfCap` drops corpus-boilerplate grams from BOTH sides (same
    * consistency rule as [[ngramJaccardPairs]]).
    *
    * Returns one row per contaminated train doc:
    * `(doc_id, n_shared_grams, n_bench_docs)`. */
  def contamination(trainGrams: DataFrame, benchGrams: DataFrame,
      dfCap: Option[Long] = None): DataFrame = {
    val bench = dfCap match {
      case Some(cap) =>
        val keep = trainGrams.select("g").unionAll(benchGrams.select("g"))
          .groupBy("g").agg(count(lit(1)).as("__df")).where(col("__df") <= cap)
          .select("g")
        benchGrams.join(keep, "g")
      case None => benchGrams
    }
    trainGrams.join(
        broadcast(bench.select(col("doc_id").as("__bid"), col("g"))), Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("__bid")).as("n_bench_docs"))
  }

  /** Exploded distinct word n-grams per doc — the [[contamination]]
    * input granularity (plain-text grams, not hashes, so the overlap
    * report stays human-auditable; swap for [[tokenGramHashes]] output
    * exploded when the corpus is large enough to care). */
  def wordGrams(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val gram = (0 until n).map(j => s"tks[i + $j]").mkString("concat_ws(' ', ", ", ", ")")
    docs
      .select(col(idCol).as("doc_id"),
        expr(s"filter(split(lower($textCol), '[^a-z0-9]+'), t -> length(t) > 0)").as("tks"))
      .where(size(col("tks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          s"transform(sequence(0, size(tks) - $n), i -> $gram)"))).as("g"))
  }

  /** CCNet-style sub-document span dedup: split each doc into
    * consecutive `chunkWords`-word chunks ("paragraphs" for a corpus
    * without newline structure), keep only each chunk's FIRST corpus
    * occurrence (ordered by doc id, then position), and reassemble the
    * surviving text. Boilerplate that repeats across crawled pages
    * (headers, footers, license blocks) disappears from every copy but
    * the first, which doc-level dedup (q66-q70) cannot do.
    *
    * Scale shape: one explode of the corpus, one shuffle keyed by
    * `xxhash64(chunk)` for the first-occurrence window (CCNet itself
    * dedups on hashes; ranking inside a hash group sorts 8-byte keys,
    * not chunk text — a 64-bit collision merging two distinct chunks is
    * ~(chunks²)/2⁶⁵, far below the noise of the dedup decision), one
    * partial+final agg per doc for the reassembly — no pairwise term at
    * all. (Measured alternative, rejected: routing only dup-hash groups
    * through the window via a broadcast dup set re-executes the explode
    * three times and the narrow dup agg alone costs as much as the
    * whole window — explode-once wins.) Skew caveat: a boilerplate
    * chunk repeated across a large corpus share concentrates its rows
    * in one ranking group; the first-occurrence winner only needs the
    * MIN (doc, cidx) of the group, so a 100 TB deployment replaces
    * `row_number` with a min-struct pre-agg per hash before the window
    * if one chunk dominates.
    *
    * Reference frames doc-level dedup only (`collection/mod.rs` upsert
    * merge-by-id); span-level dedup is beyond-reference, per the
    * training-data-pipeline brief. */
  def chunkDedup(docs: DataFrame, chunkWords: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkWords > 0, "chunkWords must be positive")
    val tok = docs.select(col(idCol).as("doc_id"),
      expr(s"filter(split(lower($textCol), '[^a-z0-9]+'), t -> length(t) > 0)").as("w"))
    // slice() is 1-based and clamps, so the tail chunk is just shorter;
    // size(w)=0 guards sequence()'s descending-range behavior.
    val ch = tok.select(col("doc_id"),
        posexplode(expr(
          s"""CASE WHEN size(w) = 0 THEN array()
             |ELSE transform(sequence(0, cast(ceil(size(w) / $chunkWords.0) as int) - 1),
             |               i -> concat_ws(' ', slice(w, i * $chunkWords + 1, $chunkWords)))
             |END""".stripMargin)))
      .toDF("doc_id", "cidx", "chunk")
    val firstWin = Window.partitionBy(xxhash64(col("chunk")))
      .orderBy(col("doc_id"), col("cidx"))
    // one pass over the exploded chunks: count + survivor reassembly in
    // the same doc_id agg (array_sort on (cidx, …) structs orders by
    // cidx, unique per doc); no second chunk derivation, no self-join
    val agg = ch.withColumn("rn", row_number().over(firstWin))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("rn") === 1, 1)).as("n_kept"),
        concat_ws(" ", expr(
          """transform(filter(array_sort(collect_list(struct(cidx, rn, chunk))),
            |          x -> x.rn = 1), x -> x.chunk)""".stripMargin))
          .as("cleaned"))
    // token-less docs emit no chunks at all — restore them from the doc
    // universe as (0, 0, "") instead of silently vanishing from the
    // cleaned corpus
    docs.select(col(idCol).as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        (coalesce(col("n_chunks"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Exact-substring duplicate-SPAN report (the Lee et al. 2022
    * suffix-array dedup shape, approximated at n-token-window
    * alignment): a token window is DUPLICATED when its n-token gram
    * occurs more than once in the corpus — in another doc or elsewhere
    * in the same doc — and, per doc, overlapping duplicated windows
    * merge into MAXIMAL spans (the gaps-and-islands pass), which is
    * what distinguishes this from [[chunkDedup]]'s fixed-boundary
    * paragraphs: a repeated passage is reported once at its true
    * extent, at any alignment. Output per doc: `n_tokens`, `n_spans`,
    * `dup_tokens` (tokens covered by ≥1 duplicated window) — the
    * per-doc removal plan a span-level dedup pass executes.
    *
    * Scale shape: the gram table moves as `xxhash64` over the n token
    * slots — 8-byte shuffle keys, never the gram text (a 64-bit
    * collision merging two distinct grams is ~(grams²)/2⁶⁵ — at
    * corpus scale that noise is far below the sampling noise of the
    * dedup decision itself). Duplicate detection is a count window
    * partitioned by that hash: ONE shuffle of the gram stream, and the
    * explode subtree executes once (the groupBy-then-join-back shape
    * re-executes it on both sides of the self-join). The island merge
    * is one window partitioned by doc, bounded by doc length. Integer
    * arithmetic end-to-end — nothing float-sensitive.
    *
    * Skew caveat: a pathological mega-dup gram (one boilerplate
    * passage repeated across a large corpus share) concentrates its
    * rows in ONE window group; since only `cnt > 1` matters, a 100 TB
    * deployment caps such groups with the [[ngramJaccardPairs]]
    * df-cap discipline (sample the group — the keep/drop decision is
    * unchanged once cnt exceeds 1). */
  def duplicateSpans(docs: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, "n must be >= 2")
    val gram = (0 until n).map(j => s"tks[i + $j]").mkString("xxhash64(", ", ", ")")
    val tok = docs.select(col(idCol).as("doc_id"),
      expr(s"filter(split(lower($textCol), '[^a-z0-9]+'), t -> length(t) > 0)")
        .as("tks"))
    val g = tok.where(size(col("tks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(tks) - $n), i -> $gram)")))
      .toDF("doc_id", "pos", "gram")
    val m = g.withColumn("cnt", count(lit(1)).over(Window.partitionBy("gram")))
      .where(col("cnt") > 1)
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + (n - 1)).cast("long").as("e"))
    val prevMax = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val running = Window.partitionBy("doc_id").orderBy("s")
    val isl = m.withColumn("pmax", max(col("e")).over(prevMax))
      .withColumn("island",
        sum(when(col("pmax").isNull || col("s") > col("pmax"), 1L)
          .otherwise(0L)).over(running))
    val agg = isl.groupBy("doc_id", "island")
      .agg(min("s").as("s"), max("e").as("e"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
    tok.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        size(col("tks")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** Incremental exact dedup — the shape production corpora actually
    * run (CCNet/RefinedWeb style): a NEW batch deduplicates against the
    * already-kept corpus without reprocessing it. Each batch row is
    * marked `dup_corpus` (its key already exists in the corpus),
    * `dup_batch` (a smaller-id batch row has the same key), and `keep`
    * (neither). `key` is any deterministic Column evaluable on both
    * frames (e.g. `md5(substring(col("text"), 1, 40))`, the q66 key).
    *
    * Scale shape: the corpus reduces to DISTINCT keys (one narrow agg —
    * in steady state persist that hash table instead of re-deriving),
    * then one left join keyed on the hash and one within-batch
    * first-occurrence window. At 100 TB the corpus-hash table dominates:
    * store it bucketed BY the hash so the per-batch join co-locates
    * against it with no corpus-side reshuffle — the batch side is the
    * only thing that moves. */
  def incrementalExact(batch: DataFrame, corpus: DataFrame, key: Column,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = batch.select(col(idCol).as("__id"), key.as("__h"))
    val c = corpus.select(key.as("__h")).distinct()
      .withColumn("__in_corpus", lit(true))
    val w = Window.partitionBy("__h").orderBy("__id")
    b.join(c, Seq("__h"), "left")
      .withColumn("__rn", row_number().over(w))
      .select(col("__id").as(idCol),
        coalesce(col("__in_corpus"), lit(false)).as("dup_corpus"),
        (col("__rn") > 1).as("dup_batch"),
        (!coalesce(col("__in_corpus"), lit(false)) && col("__rn") === 1).as("keep"))
  }

  /** Bloom-gated incremental dedup — [[incrementalExact]]'s semantics
    * with the 100 TB corpus-side shape (reference cache/bloom.rs is the
    * same idea on its lookup path): at scale the corpus key table is
    * too large to broadcast and every batch row pays the shuffled join;
    * a Bloom filter of the corpus keys (one distributed pass, bits
    * sized by `fpp`) IS broadcastable, and its one-sided error matches
    * dedup exactly — "no" is a GUARANTEED miss (the sketch has no
    * false negatives), so only "maybe" rows (true hits + ~fpp false
    * alarms) reach the exact corpus join. Output rows are identical to
    * [[incrementalExact]] plus a `bloom_maybe` diagnostic column; the
    * sketch only prunes join traffic, never changes results.
    *
    * The membership probe wraps the broadcast sketch in a UDF — a
    * documented functions-not-UDFs exception (like Bpe.encode): Spark's
    * `util.sketch.BloomFilter` has no Column API, and the probe is a
    * pure per-row long test with no shuffle around it.
    *
    * RESOURCE LIFECYCLE (long-lived processes): the result plan embeds a
    * corpus-key localCheckpoint (mid-plan — `CheckpointBlocks.unpersist`
    * on the result misses it; use `unpersistAll`) and a broadcast Bloom
    * sketch that the async ContextCleaner frees only eventually. A
    * one-shot query path can ignore both; a server loop should call
    * [[incrementalBloomWithCleanup]] and invoke the returned cleanup once
    * the result has been fully consumed. */
  def incrementalBloom(batch: DataFrame, corpus: DataFrame, key: Column,
      idCol: String = "doc_id", fpp: Double = 0.01): DataFrame =
    incrementalBloomWithCleanup(batch, corpus, key, idCol, fpp)._1

  /** [[incrementalBloom]] plus a cleanup thunk that deterministically
    * frees the corpus-key checkpoint blocks and DESTROYS the broadcast
    * Bloom sketch. Call it only after the returned frame has been fully
    * consumed (written/collected): the checkpoint has truncated lineage,
    * so a plan still referencing the blocks fails rather than recomputes. */
  def incrementalBloomWithCleanup(batch: DataFrame, corpus: DataFrame,
      key: Column, idCol: String = "doc_id", fpp: Double = 0.01)
      : (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    // the exact join and the batch window use the RAW key — exactly
    // [[incrementalExact]], any key type. Only the bloom PROBE needs a
    // long, derived as xxhash64 of the stringified key on BOTH sides —
    // deterministic, so a true corpus key always probes "maybe" (no
    // false negatives); hash collisions only add to the false-alarm
    // rate the exact join already absorbs. The distinct corpus keys
    // localCheckpoint once: the sketch aggregation, the sizing count
    // and the exact join all read those blocks — ONE corpus scan total
    // (blocks live until the consumer's plan is dropped).
    // LAZY checkpoint: the sizing count right below is the first action
    // and doubles as the materializer (one corpus-scan job, not two —
    // r17, guide §1.2); the sketch agg and exact join then read blocks
    val ck = corpus.select(key.as("__k")).distinct().localCheckpoint(false)
    val ckCount = ck.count()
    val probeOf = (k: Column) => xxhash64(k.cast("string"))
    val bf = ck.select(probeOf(col("__k")).as("__h"))
      .stat.bloomFilter("__h", math.max(ckCount, 1L), fpp)
    val spark = batch.sparkSession
    val bfB = spark.sparkContext.broadcast(bf)
    val maybe = udf((h: Long) => bfB.value.mightContainLong(h))
    val b = batch.select(col(idCol).as("__id"), key.as("__k"))
    val w = Window.partitionBy("__k").orderBy("__id")
    // within-batch first-occurrence is computed over the WHOLE batch
    // before the gate — dup_batch semantics don't depend on the corpus
    val withRn = b.withColumn("__rn", row_number().over(w))
      .withColumn("__maybe", maybe(probeOf(col("__k"))))
    val checked = withRn.where(col("__maybe"))
      .join(ck.withColumn("__in_corpus", lit(true)), Seq("__k"), "left")
    val misses = withRn.where(!col("__maybe"))
      .withColumn("__in_corpus", lit(false))
    val out = checked.unionByName(misses)
      .select(col("__id").as(idCol),
        coalesce(col("__in_corpus"), lit(false)).as("dup_corpus"),
        (col("__rn") > 1).as("dup_batch"),
        (!coalesce(col("__in_corpus"), lit(false)) && col("__rn") === 1).as("keep"),
        col("__maybe").as("bloom_maybe"))
    val cleanup = () => {
      org.apache.spark.sql.graft.CheckpointBlocks.unpersist(ck)
      bfB.destroy()
    }
    (out, cleanup)
  }

  /** LSH-blocked embedding near-dup: `tables` independent
    * random-hyperplane signatures of `nPlanes` bits each; candidate
    * pairs form ONLY inside a (table, bucket) group, then exact cosine ≥
    * `threshold` verifies. The all-pairs quadratic term becomes
    * Σ_buckets |bucket|² — at 100 TB the bucket key is also the shuffle
    * key, so each group pairs locally.
    *
    * Recall is the standard LSH curve: a pair at angle θ collides in one
    * table with prob (1 − θ/π)^nPlanes, and in ≥1 of T tables with
    * 1 − (1 − p)^T — sized for the NEAR-DUP regime (cosine ≳ 0.9);
    * low-threshold similarity search belongs to [[Ann]]/[[Ivf]]. */
  def embeddingNearDupLsh(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nPlanes: Int = 8, tables: Int = 3,
      dim: Option[Int] = None): DataFrame = {
    // dim probe must survive an empty slice / null first vector: every
    // other operator here degrades to an empty output (r15 review)
    val d = dim.getOrElse(
      df.select(size(col(vecCol)).as("__d")).where(col("__d") >= 0)
        .head(1).headOption.map(_.getInt(0)).getOrElse(0))
    if (d == 0)
      return df.select(col(idCol).as("a"), col(idCol).as("b"),
        lit(0.0).as("cosine")).limit(0)
    val cands = (0 until tables).map { t =>
      // per-table planes: offset the plane index so tables are independent
      val sig = Ann.signatureCol(col(vecCol), nPlanes, d, planeOffset = t * nPlanes)
      val b = df.select(col(idCol), col(vecCol), sig.as("bucket"))
      val l = b.select(col(idCol).as("a"), col(vecCol).as("va"), col("bucket"))
      val r = b.select(col(idCol).as("b"), col(vecCol).as("vb"), col("bucket"))
      l.join(r, Seq("bucket")).where(col("a") < col("b"))
        .select(col("a"), col("b"), col("va"), col("vb"))
    }.reduce(_ unionAll _).dropDuplicates("a", "b")
    val cs = graft.functions.VectorFunctions.cosine_sim(col("va"), col("vb"))
    cands.withColumn("cos_sim", cs)
      .where(col("cos_sim") >= threshold)
      .select("a", "b", "cos_sim")
  }
}
