package graft.velesql

import graft.functions.VectorFunctions
import graft.operators.{Ann, Bm25, Fusion, Graph, Hnsw, Ivf, IvfPq, Knn, Pq, Quantization}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Ast._

/** VelesQL → DataFrame compiler.
  *
  * This is the architectural inversion of the reference: where VelesDB
  * interprets the AST directly over in-memory structures (match-arm
  * dispatch at collection/search/query/mod.rs:163-336), we LOWER the AST
  * to declarative DataFrame transformations and let Catalyst pick the
  * physical plan — filters push into the parquet scan, top-k compiles to
  * TakeOrderedAndProject, joins broadcast/shuffle by size.
  *
  * Replicated reference semantics:
  *  - `Neq` is TRUE on a missing/NULL field (filter/matching.rs:9-43
  *    `is_none_or`) → compiled as `col.isNull || col =!= v`.
  *  - metric-direction inversion for similarity thresholds and ORDER BY
  *    (query/mod.rs:396-417, distance.rs:76-103).
  *  - LIMIT defaults to 10 when NEAR is present, capped at 100_000
  *    (query/mod.rs:61, 84-87).
  *  - HAVING chains fold strictly left-to-right with no AND/OR precedence
  *    (query/aggregation.rs:611-644).
  *  - aggregate result naming: `count` / `{fn}_{col}` / alias
  *    (query/aggregation.rs:273-289).
  *  - interval months = 30 days (ast/values.rs:136-163).
  *  - scan score = 1.0 (query/mod.rs:778-819); similarity score wins on
  *    the score column when a similarity condition is present.
  */
class Compiler(
    spark: SparkSession,
    catalog: Catalog,
    params: Map[String, Any] = Map.empty,
    /** NOW() folded once per query for determinism (reference folds at
      * eval time — ast/values.rs:102-122). Epoch seconds. */
    fixedNowEpoch: Option[Long] = None) {

  private val LimitCap = 100000
  private val NearDefaultLimit = 10
  /** Per-leg candidate pool for candidate-leg fusion (hybrid, NEAR_FUSED
    * rrf/weighted). The reference fetches a bounded candidate set per leg
    * (text.rs:133-134); each leg is collected as ≤ K rows and ranked and
    * fused on the driver (operators.Fusion). A larger LIMIT raises the
    * pool to it, up to LimitCap. Every such query shares one epilogue
    * (`withPayload` in compileSelect). */
  private val CandidateK = 2000
  /** NEAR_FUSED takes ≤10 vectors (SURVEY V6), one candidate leg each. */
  private val MaxFusedVectors = 10
  /** WITH keys consumed ONLY by the plain vector NEAR branch — rejected
    * with a clear error anywhere else (fused/hybrid/non-vector), because
    * an accepted-but-ignored option is a silent no-op. */
  private val VectorOnlyWithKeys = Seq("mode", "ef_search", "rerank",
    "quantization", "oversampling", "index")
  /** The closed WITH-option vocabulary (ast/with_clause.rs:82-131 +
    * aggregation caps); anything else is a SemanticError. One derived
    * set: adding a vector key above keeps both checks in sync. */
  private val KnownWithKeys =
    VectorOnlyWithKeys.toSet ++ Set("timeout_ms", "max_groups", "group_limit")

  /** The plain-NEAR WITH options ([[nearOptions]]). `probe` is the
    * probing tier (fast/balanced/accurate); None is the exact scan. */
  private case class NearOptions(probe: Option[String], index: Option[String],
      quant: Option[String], rerank: Boolean, oversampling: Option[Int])

  /** Parses and cross-checks every plain-NEAR WITH option
    * (ast/with_clause.rs:82-131) in one place, so a bad clause fails
    * before any index is materialized. */
  private def nearOptions(w: Map[String, String],
      storageMode: Option[String]): NearOptions = {
    // WITH (mode=…) / (ef_search=N): the reference's quality tiers
    // (vector.rs:84-91 — ef ≤64 Fast, ≤128 Balanced, ≤256 Accurate,
    // else Perfect); 'perfect' / 'exact' / absent = exact scan.
    val probe = w.get("mode").orElse(w.get("ef_search").map(_.toDouble.toInt match {
      case e if e <= 64 => "fast"
      case e if e <= 128 => "balanced"
      case e if e <= 256 => "accurate"
      case _ => "perfect"
    })) match {
      case Some(t @ ("fast" | "balanced" | "accurate")) => Some(t)
      case Some("perfect" | "exact") | None => None
      case Some(other) => fail(s"unknown WITH mode '$other'")
    }
    // WITH (index = …) picks the structure behind a probing tier: LSH
    // buckets (default), trained IVF cells or partitioned HNSW. On the
    // exact scan it would be a silent no-op.
    val index = w.get("index").map {
      case k @ ("lsh" | "ivf" | "hnsw") => k
      case other => fail(s"unknown WITH index '$other' (supported: lsh, ivf, hnsw)")
    }
    if (index.isDefined && probe.isEmpty)
      fail("WITH index requires a probing mode (fast/balanced/accurate)")
    // Quantization names follow QuantizationMode::parse
    // (with_clause.rs:27-35) plus our 'binary' sketch and 'pq'. The
    // collection's create-time storage mode is the default regime
    // (collection/types.rs:32-61); an explicit WITH overrides it. "full"
    // and the write-time f16/bf16 modes are dropped here, so a bare
    // WITH rerank=true keeps its sketch-prefilter meaning on them.
    val quant0 = w.get("quantization")
      .orElse(storageMode.filterNot(m => m == "full" || m == "f16" || m == "bf16")).map {
        case q @ ("binary" | "dual" | "hybrid" | "int8" | "sq8" | "quantized" | "pq") => q
        case "f32" | "full" | "exact" | "auto" | "default" => "f32"
        case other => fail(s"unknown WITH quantization '$other'")
      }
    // PQ codes compose only with the IVF cells they were trained on. An
    // IMPLICIT storage-mode 'pq' yields to the other probing tiers (the
    // user asked for mode=…, not for PQ); an explicit one is an error.
    val pqConflict = quant0.contains("pq") && probe.isDefined && !index.contains("ivf")
    if (pqConflict && w.contains("quantization"))
      fail("quantization='pq' composes only with index='ivf' probing " +
        "(the LSH buckets and HNSW graphs aren't trained with the codebooks); " +
        "add index='ivf' or drop the mode for a full-codes ADC scan")
    val rerank = w.get("rerank") match {
      case Some("true") | Some("1") => true
      case Some("false") | Some("0") | None => false
      case Some(other) => fail(s"WITH rerank expects true/false, got '$other'")
    }
    NearOptions(probe, index, if (pqConflict) None else quant0, rerank,
      w.get("oversampling").map(_.toDouble.toInt))
  }

  def run(sql: String): DataFrame =
    Parser.parse(sql).fold(e => throw new IllegalArgumentException(e), compile)

  def compile(q: Query): DataFrame = q match {
    case Query(Some(sel), None, None) => compileSelect(sel)
    case Query(Some(sel), Some(Compound(op, right)), None) =>
      val l = compileSelect(sel)
      val r = compileSelect(right)
      op match {
        case "union" => l.union(r).distinct()
        case "union_all" => l.unionAll(r)
        case "intersect" => l.intersect(r)
        case "except" => l.except(r)
      }
    case Query(None, None, Some(m)) => compileMatch(m)
    case other => throw new IllegalArgumentException(s"unsupported query: $other")
  }

  // =================== SELECT ===================

  def compileSelect(sel: Select): DataFrame = {
    // validation parity (validation.rs:226-257): >1 vector-search legs
    // OR-combined is rejected (needs a union of vector searches); one
    // similarity() OR metadata stays supported (union mode, q47)
    sel.where.foreach { w =>
      if (countVectorConds(w) > 1 && hasMultiSimInOr(w))
        fail("Multiple similarity() in OR are not supported. Use AND instead.")
    }
    // WITH keys are a closed set (ast/with_clause.rs:82-131: mode,
    // ef_search, timeout_ms, rerank, quantization, oversampling; plus the
    // aggregation caps, aggregation.rs:87-88). A typo'd key silently
    // changing nothing is worse than an error — reject loudly.
    sel.withOptions.keys.find(!KnownWithKeys.contains(_)).foreach { k =>
      fail(s"unknown WITH option '$k' (supported: ${KnownWithKeys.toSeq.sorted.mkString(", ")})")
    }
    // WHERE: extract NEAR / NEAR_FUSED (top-k drivers), compile the rest
    val (near, residual) = sel.where.map(extractNear).getOrElse((None, None))
    val simScore = sel.where.flatMap(lastSimilarity)
    val textScore = sel.where.flatMap(firstTextMatch)

    // hybrid text+vector search (F4, text.rs:113-203): `MATCH … AND
    // vector NEAR … USING FUSION(…)` merges the two legs by weighted RRF
    // (vector leg w/(k+rank), text leg (1-w)/(k+rank), w default 0.5) —
    // the MATCH is a leg, not a filter, so it leaves the residual tree.
    // Only a TOP-LEVEL AND conjunct qualifies as the leg; MATCHes under
    // OR/NOT (and any second MATCH) stay filters.
    val hybridText: Option[TextMatch] =
      if (sel.fusion.isDefined && near.exists(_.isInstanceOf[VectorNear]))
        sel.where.flatMap(hybridTextLeg)
      else None

    // no-silent-no-op for the fusion clause itself: USING FUSION must be
    // consumed by NEAR_FUSED (strategy/params) or by a hybrid MATCH+NEAR
    // pair — anything else used to silently ignore it (r15 review finding)
    if (sel.fusion.isDefined && hybridText.isEmpty &&
        !near.exists(_.isInstanceOf[VectorNearFused]))
      fail("USING FUSION applies only to NEAR_FUSED or a hybrid " +
        "MATCH + NEAR pair (the MATCH must be a top-level AND conjunct)")

    // vector-search-only WITH keys are CONSUMED only by the plain NEAR
    // branch; accepting them on fused/hybrid/non-vector queries would be
    // the silent no-op the closed-set key check exists to prevent
    if (!(near.exists(_.isInstanceOf[VectorNear]) && hybridText.isEmpty)) {
      VectorOnlyWithKeys
        .find(sel.withOptions.contains)
        .foreach(k => fail(s"WITH $k applies only to plain vector NEAR queries " +
          "(not NEAR_FUSED, hybrid fusion, or non-vector queries)"))
    }

    // the fusion clause is checked once, before any table is read: a
    // rejected query runs no Spark job
    val (fusionStrategy, fusionOpts) = near match {
      case Some(VectorNearFused(vs, fusion0)) =>
        if (vs.size > MaxFusedVectors)
          fail(s"NEAR_FUSED takes at most $MaxFusedVectors vectors, got ${vs.size}")
        // a condition-level clause wins over a select-level one
        val fusion = fusion0.orElse(sel.fusion)
        val strategy = fusion.map(_.strategy).getOrElse("average")
        (strategy, Fusion.options(strategy, fusion.map(_.params).getOrElse(Map.empty)))
      case _ if hybridText.isDefined =>
        // the reference fuses hybrid legs by weighted RRF only
        // (text.rs:150-162): any other strategy would be a silent no-op
        if (sel.fusion.get.strategy != "rrf")
          fail(s"hybrid MATCH + NEAR fuses by RRF only, got strategy '${sel.fusion.get.strategy}'")
        ("hybrid", Fusion.options("hybrid", sel.fusion.get.params))
      case _ => ("", Map.empty[String, Double])
    }

    val meta = catalog.metaOf(sel.from)
    // alias every frame by its table name (or AS alias) so qualified
    // refs like `customer.c_nationkey` resolve
    var df = catalog.table(sel.from).as(sel.fromAlias.getOrElse(sel.from))

    // joins (grammar.pest:99-107; reference executes only the PK inner
    // join — query/join.rs:123-198; we execute all four types + USING)
    for (j <- sel.joins) {
      val right = catalog.table(j.table).as(j.alias.getOrElse(j.table))
      df =
        if (j.using.nonEmpty) df.join(right, j.using, j.joinType)
        else {
          val (lc, rc) = j.on.get
          df.join(right, resolve(df, lc) === col(rc), j.joinType)
        }
    }

    // residual predicate (metadata + similarity thresholds + text match);
    // in hybrid mode the FUSED MATCH conjunct leaves the filter tree —
    // and only that one: other MATCHes keep filtering
    val residualAll = residual.orElse(sel.where.filter(_ => near.isEmpty))
      .flatMap(c => hybridText match {
        case Some(leg) => stripConjunct(c, leg)
        case None => Some(c)
      })

    // CORRELATED scalar subqueries (top-level AND conjuncts) decorrelate
    // to groupBy-on-correlation-keys + join (subquery_optimizer.rs
    // RewriteAsJoin — the distributed strategy; PerRow is a driver loop)
    val (corrConjs, residualCond) = residualAll match {
      case Some(cond) if near.isEmpty =>
        val (corr, plain) = flattenAnd(cond).partition {
          case Compare(_, _, SubqueryValue(sq)) => isCorrelated(sq)
          case _ => false
        }
        // a correlated subquery buried under OR/NOT can't decorrelate to
        // a key join — reject with a real error, not an unresolved column
        def buried(c: Condition): Boolean = c match {
          case Compare(_, _, SubqueryValue(sq)) => isCorrelated(sq)
          case And(l, r) => buried(l) || buried(r)
          case Or(l, r) => buried(l) || buried(r)
          case Not(i) => buried(i)
          case _ => false
        }
        if (plain.exists(buried))
          fail("correlated scalar subqueries must be AND-composed at the top level of WHERE")
        (corr, plain.reduceOption(And.apply))
      case other => (Seq.empty[Condition], other)
    }

    // Set when a branch below already applied `residualCond` (the
    // filter-before-top-k contract) / scored a MATCH (its match flag).
    var residualApplied = false
    var scoredTm: Option[(TextMatch, Column)] = None

    // The epilogue of every candidate-leg fusion. The fused rows are
    // known on the driver: a query reading only id and score returns them
    // as a local relation (leg ids ⊆ the filtered frame's ids; r6 verdict
    // #5), and any other query fetches their payload from the filtered
    // frame its legs drew from by an `id IN (fused ids)` filter and a
    // literal score lookup — no join, no broadcast job. A query that ends
    // in the default ranked top L (no ORDER BY, grouping or DISTINCT)
    // fetches only the fused top L + OFFSET ids: its final (score desc,
    // id) top L holds no other id.
    val kCand = math.max(math.min(sel.limit.getOrElse(NearDefaultLimit), LimitCap), CandidateK)
    def withPayload(filtered: DataFrame, fused: Fusion.Ranked): DataFrame = {
      val idScoreOnly = (sel.selectList match {
        case SelectItems(items) => items.forall {
          case Left(ColumnItem(n, _)) => n == meta.idCol || n == "score"
          case _ => false
        }
        case SelectAll => false
      }) && sel.orderBy.forall(_.expr match {
        case OrderByColumn(n) => n == meta.idCol || n == "score"
        case _ => false
      }) && sel.groupBy.isEmpty
      val rankedTop = sel.orderBy.isEmpty && sel.groupBy.isEmpty && !sel.distinct &&
        (sel.selectList match {
          case SelectItems(items) => items.forall(_.isLeft)
          case SelectAll => true
        })
      // one partition, so the final ordering sorts it in place: a fused
      // list no longer than LIMIT loses its Limit to the optimizer, and a
      // Sort over the local scan's several partitions would range-shuffle
      if (idScoreOnly) fused.toDF(spark).coalesce(1)
      else Fusion.payload(filtered, col(meta.idCol), if (!rankedTop) fused else fused.take(
        math.min(sel.limit.getOrElse(NearDefaultLimit), LimitCap) + sel.offset.getOrElse(0)))
    }

    // score column (reference score conventions: W1/V2/S6)
    val scored: DataFrame = near match {
      case Some(VectorNear(v)) if hybridText.isDefined =>
        val vec = vecOf(v)
        val (fn, hib) = VectorFunctions.metrics(meta.metric)
        val vcolName = meta.vectorCol.getOrElse(fail("hybrid NEAR needs a vector column"))
        val w = fusionOpts("vector_weight")
        val sim = fn(col(vcolName), VectorFunctions.vecLit(vec))
        // filter-then-search parity with plain NEAR (vector.rs:164-239):
        // the residual WHERE restricts BOTH legs BEFORE the bounded
        // candidate fetch, so a selective filter on a collection larger
        // than CandidateK can't starve the legs and WHERE means the same
        // thing across NEAR, hybrid, and NEAR_FUSED.
        val dfH = residualCond match {
          case Some(c) => residualApplied = true; df.where(compileCond(c, df, meta))
          case None => df
        }
        // text leg: corpus-wide BM25 stats (over `df`, not q61's filtered
        // ones: the reference's hybrid_search_with_filter ranks against the
        // global text index, text.rs:221-280), top-kCand over the FILTERED
        // doc set, so a selective filter can't starve the leg.
        val qtext = hybridText.get.query
        // per-row scores: both legs from one scan of dfH, one job; a row
        // holding no query term has a null text score
        val (score, hit) = Bm25.scoreColumns(df, qtext, textColOf(meta))
        val Seq(vLeg, tLeg) =
          Fusion.legs(dfH, col(meta.idCol), Seq(sim -> hib, when(hit, score) -> true), kCand)
        withPayload(dfH, Fusion.rrf(Seq(vLeg -> w, tLeg -> (1.0 - w)), fusionOpts("k")))
      case Some(VectorNear(v)) =>
        val vec = vecOf(v)
        val (fn, hib) = VectorFunctions.metrics(meta.metric)
        val vcolName = meta.vectorCol.getOrElse(
          fail("NEAR on a collection without a vector column"))
        // every WITH option is validated here, before any index call: a
        // rejected query never materializes an index
        val opts = nearOptions(sel.withOptions, meta.storageMode)
        // Residual filters run BEFORE the sketch/top-k phase (the
        // filter-then-search contract — Knn.scala, vector.rs:164-239);
        // a post-filter could empty the k×oversampling candidate pool.
        val dfF0 = residualCond match {
          case Some(c) => residualApplied = true; df.where(compileCond(c, df, meta))
          case None => df
        }
        // Dataset tables AND written user collections resolve an index
        // source; joins and derived frames have none.
        lazy val srcOpt = if (sel.joins.isEmpty) catalog.indexSource(sel.from) else None
        def indexSrc(withKey: String): graft.IndexSource = srcOpt.getOrElse(
          fail(s"WITH $withKey needs a dataset table or a written user " +
            "collection (its index is materialized per source; joins/derived " +
            "frames can't use it)"))
        // The probe step of every materialized tier: alias the index like
        // the FROM table, apply the residual WHERE, keep `key IN probes`
        // (pushed into the clustered scan, pruning row groups), drop key.
        def probe(index: DataFrame, key: String, probes: Seq[Any]): DataFrame = {
          val idx = index.as(sel.fromAlias.getOrElse(sel.from))
          residualCond.fold(idx)(c => idx.where(compileCond(c, idx, meta)))
            .where(col(key).isin(probes: _*)).drop(key)
        }
        // a point without a vector has no score and never ranks, on every
        // tier (the IVF cells never hold one)
        val dfF = (opts.probe match {
          case Some(t) if opts.index.exists(Set("ivf", "hnsw")) =>
            // The trained IVF cells: `index = 'ivf'` probes them, and
            // partitioned HNSW (native_index.rs:230) routes through the
            // same centroids and nprobe, then walks an ef-bounded graph
            // inside each probed cell instead of scanning it.
            val src = indexSrc(s"index='${opts.index.get}'")
            val (cents, cells) = Ivf.materializedIndexAt(spark, src, vcolName, Ivf.Cells)
            val probes = Ivf.probeCells(cents, vec.toArray, Ivf.nprobeOf(t))
            // Corpus count for the HNSW route, persisted per content
            // stamp (Materialize.countMemo): no Spark job on any later
            // compile, fresh query vectors included (r16 VERDICT #1).
            def corpusN = graft.Materialize.countMemo(
              s"corpusn_${vcolName}_${src.name}", src.token, src.stamp)(cells.count())
            // Above the calibration corpus (96·96) the walk never pays:
            // its only saving is exact-kernel evals, its per-visit
            // bookkeeping costs more, and recall at a fixed ef decays as
            // cells grow (RecallCurve r16, PERF_r17_ann). So every HNSW
            // tier there scans its probed cells exactly — the ivf plan —
            // and the adjacency never builds.
            if (opts.index.contains("ivf") || corpusN > 96L * 96L)
              probe(cells, "cell", probes)
            else {
              val (_, graph) = Hnsw.materializedIndexAt(spark, src, vcolName,
                meta.idCol, meta.metric, Ivf.Cells)
              // walk budget per tier; accurate is the sf-scale
              // calibration floor (PERF_r11.md: nprobe 7, ef 96 → ≥29/30)
              val ef = t match { case "fast" => 24; case "balanced" => 48; case _ => 96 }
              val idx = graph.as(sel.fromAlias.getOrElse(sel.from))
              // filter-then-search: the residual predicate gates ACCEPTANCE
              // inside the walk (navigation still crosses non-matching
              // nodes — filtered-HNSW), so survivors all satisfy it
              val (probedIdx, keepCol) = residualCond match {
                case Some(c) =>
                  (idx.withColumn("__keep", compileCond(c, idx, meta)), Some("__keep"))
                case None => (idx, None)
              }
              Hnsw.walkCandidates(
                probedIdx.where(col("cell").isin(probes: _*)),
                vcolName, meta.idCol, meta.metric, vec, ef, keepCol,
                // the graph is written clustered by cell, so the walk may
                // skip its co-locating shuffle when no file can split
                cellClusteredFiles = true)
                .drop("cell", "neighbors", "neighbors1", "level", "__keep")
            }
          case Some(t) =>
            // LSH Hamming-ball probe, radius per tier, calibrated on the
            // near-uniform testdata (PERF_r17_ann.md): fast r=1 ≈ 0.25,
            // balanced r=2 ≈ 0.45-0.57, accurate r=4 ≥ 0.95 recall@10,
            // oracle-pinned by q123_ann_recall.
            val radius = t match { case "fast" => 1; case "balanced" => 2; case _ => 4 }
            val sig = Ann.signature(vec.toArray, Ann.planes(Ann.Planes, vec.length))
            val probes = Ann.probeBuckets(sig, Ann.Planes, radius)
            srcOpt match {
              case Some(src) =>
                probe(Ann.materializedIndexAt(spark, src, vcolName, Ann.Planes,
                  vec.length), "bucket", probes)
              // no index source: on-the-fly signatures, a full scan
              case None =>
                dfF0.where(Ann.signatureCol(col(vcolName), Ann.Planes, vec.length)
                  .isin(probes: _*))
            }
          case None => dfF0
        }).where(col(vcolName).isNotNull)
        // Three quantization regimes (QuantizationMode, with_clause.rs:12-22):
        //   binary/dual/hybrid (+ bare rerank=true) → sketch prefilter,
        //     exact rerank (Dual: "int8 for candidates, f32 for rerank");
        //   int8/sq8/quantized + rerank=true → SQ8-approx candidate
        //     ordering, exact rerank;
        //   int8/sq8/quantized alone → "int8 only (fast, approximate)":
        //     scores ARE the dequantized-vector scores, no rerank.
        val quant = opts.quant
        val isInt8 = quant.exists(q => q == "int8" || q == "sq8" || q == "quantized")
        val isSketch = quant.exists(q => q == "binary" || q == "dual" || q == "hybrid")
        val k = sel.limit.getOrElse(NearDefaultLimit)
        if (quant.contains("pq")) {
          // Beyond-reference fourth regime: product quantization. Phase 1
          // orders the NARROW materialized codes table (id + m ints) by
          // the ADC lookup score — the scan never touches vectors or
          // payloads — and the top k×oversampling ids join back to the
          // filtered frame for exact rerank. With a residual WHERE the
          // candidates are the filtered frame's own rows, ranked once
          // over `dfF ⋈ codes`. ADC is ordering-only, so 'pq' is
          // two-phase by construction (rerank implicit).
          val pqSrc = indexSrc("quantization='pq'")
          // m adapts to the vector width (~8 dims/subspace; 64D keeps
          // the historical m=8): a fixed m=8 quantized 768D vectors to
          // noise (r16 RecallCurve)
          val m = Pq.defaultM(vec.length)
          // ONE residual-code artifact serves both pq regimes (IvfPq
          // scaladoc): codes quantize v − centroid[cell], so ADC ranks
          // tightly inside clusters and a FIXED candidate pool holds the
          // recall bar at every corpus size.
          //  - probing (tier + index='ivf'): phase 1 scans only the
          //    probed cells — row-group-pruned by the cell clustering —
          //    and rerank joins back to dfF, which the tier match above
          //    already scoped to the same probed cells (+ residual
          //    filter). q139_ivfpq_recall pins the accurate tier.
          //  - plain pq: same table, ADC over ALL cells. q133 pins the
          //    EXPLICIT-oversampling contract at 16.
          val (cents, cb, combined) = IvfPq.materializedIndexAt(spark, pqSrc,
            vcolName, meta.idCol, vec.length, Ivf.Cells, m, Pq.K)
          val codes = opts.probe match {
            case Some(t) => combined.where(col("cell").isin(
              Ivf.probeCells(cents, vec.toArray, Ivf.nprobeOf(t)): _*))
            case None => combined
          }
          // fixed default pool, calibrated on residual codes (RecallCurve
          // 100K×768D: recall@10 ≥0.95 at os=64; near-uniform sf-scale
          // worst case holds its floor at 16 — q133's explicit pin)
          val osEff = opts.oversampling.getOrElse(64)
          // query-independent ADC tables (|cb|², cent×cb cross, |cent|²)
          // memoized per model stamp, like the codebooks: rebuilding the
          // nCells×m×k cross table per request would be the same
          // per-request floor the r16 count job was, and memoizing lets
          // every cached plan share one array object
          val adcModel = graft.Materialize.memo(
            s"ivfpqr${Ivf.Cells}_${m}x${Pq.K}_adctables_${pqSrc.name}", pqSrc.token,
            pqSrc.model) {
            Pq.adcModelTables(cb, cents)
          }
          // the codes columns are renamed so they cannot collide with a
          // payload column of the filtered frame they join onto
          val pqCodes = codes.select(col(meta.idCol),
            col("cell").as("__pq_cell"), col("codes").as("__pq_codes"))
          val (ord, asc) = Pq.adcOrderingResidual(col("__pq_codes"), col("__pq_cell"),
            vec.toArray, cb, cents, meta.metric, model = Some(adcModel))
          def topByAdc(ranked: DataFrame): DataFrame = ranked.withColumn("__adc", ord)
            .orderBy(if (asc) col("__adc").asc else col("__adc").desc,
              col(meta.idCol).asc)
            .limit(k * osEff)
          // filter-then-search: with a residual WHERE, candidates are the
          // filtered frame's rows, so dfF (the probed cells or the base)
          // is read once; without one, the narrow codes-only phase 1
          // picks ids and they join back to dfF
          val candidates = residualCond match {
            case Some(_) =>
              topByAdc(dfF.join(pqCodes, meta.idCol :: Nil))
                .drop("__pq_cell", "__pq_codes", "__adc")
            case None =>
              dfF.join(topByAdc(pqCodes).select(meta.idCol), meta.idCol :: Nil)
          }
          candidates
            .withColumn("score", fn(col(vcolName), VectorFunctions.vecLit(vec)))
        } else if (isInt8 && !opts.rerank) {
          Quantization.sq8Decode(Quantization.withSq8(dfF, vcolName))
            .withColumn("score", fn(col("vec_approx"), VectorFunctions.vecLit(vec)))
            .drop("vec_approx", "sq8_codes", "sq8_min", "sq8_scale")
        } else {
          // a bare rerank=true is two-phase too (search_with_rerank,
          // index/hnsw/index/search.rs:118-159), pool k×2 (config.rs:228,240)
          val oversample = opts.oversampling.getOrElse(if (quant.isDefined) 4 else 2)
          val base =
            if (isSketch || (opts.rerank && quant.isEmpty)) {
              val sk = Quantization.withBinarySketch(dfF, vcolName, vec.length)
              Quantization.hammingToQuery(sk, vec)
                .orderBy(col("__ham").asc, col(meta.idCol).asc)
                .limit(k * oversample)
                .drop("__ham", "sketch")
            } else if (isInt8) { // int8 + rerank=true
              val approx = fn(col("vec_approx"), VectorFunctions.vecLit(vec))
              val ord = if (hib) col("__as").desc else col("__as").asc
              Quantization.sq8Decode(Quantization.withSq8(dfF, vcolName))
                .withColumn("__as", approx)
                .orderBy(ord, col(meta.idCol).asc)
                .limit(k * oversample)
                .drop("__as", "vec_approx", "sq8_codes", "sq8_min", "sq8_scale")
            } else dfF // 'f32' / absent → exact scan
          base.withColumn("score", fn(col(vcolName), VectorFunctions.vecLit(vec)))
        }
      case Some(VectorNearFused(vs, _)) =>
        val vecs = vs.map(vecOf)
        val (fn, hib) = VectorFunctions.metrics(meta.metric)
        val vcol = col(meta.vectorCol.getOrElse(fail("NEAR_FUSED needs a vector column")))
        val sims = vecs.map(v => fn(vcol, VectorFunctions.vecLit(v)))
        // filter-then-search, same contract as plain NEAR: candidate legs
        // draw from the WHERE-filtered frame (vector.rs:164-239), and a
        // point without a vector never ranks
        val dfF = (residualCond match {
          case Some(c) => residualApplied = true; df.where(compileCond(c, df, meta))
          case None => df
        }).where(vcol.isNotNull)
        // rrf and weighted fuse one candidate-K leg per vector (the
        // bounded fetch of hybrid), all from one scan; average and
        // maximum score every row
        def legs = Fusion.legs(dfF, col(meta.idCol), sims.map(_ -> hib), kCand)
        fusionStrategy match {
          case "average" =>
            dfF.withColumn("score", sims.reduce(_ + _) / lit(sims.size.toDouble))
          case "maximum" =>
            dfF.withColumn("score", greatest(sims: _*))
          case "rrf" =>
            withPayload(dfF, Fusion.rrf(legs.map(_ -> 1.0), fusionOpts("k")))
          case "weighted" =>
            withPayload(dfF, Fusion.weighted(legs, fusionOpts("avg_weight"),
              fusionOpts("max_weight"), fusionOpts("hit_weight")))
        }
      case _ =>
        (simScore, textScore) match {
          case (Some(SimilarityCond(field, v, _, _)), _) =>
            val (fn, _) = VectorFunctions.metrics(meta.metric)
            df.withColumn("score", fn(col(field), VectorFunctions.vecLit(vecOf(v))))
          case (None, Some(tm @ TextMatch(_, qtext))) =>
            // MATCH is an ordinary boolean leaf of WHERE: every row keeps
            // a score (0.0 when no query term is present) and a match
            // flag, so rows with no matching term survive for NOT/OR
            // branches (reference filter semantics evaluate MATCH
            // per-row). The flag feeds the residual filter.
            val (score, hit) = Bm25.scoreColumns(df, qtext, textColOf(meta))
            scoredTm = Some((tm, hit))
            df.withColumn("score", score)
          case _ => df.withColumn("score", lit(1.0)) // scan score (S6)
        }
    }

    val filtered1 = residualCond match {
      case Some(cond) if !residualApplied =>
        scored.where(compileCond(cond, scored, meta, scoredTm))
      case _ => scored
    }
    // decorrelated scalar-subquery conjuncts: aggregate ⋈ outer + compare
    val filtered = corrConjs.foldLeft(filtered1) {
      case (acc0, Compare(outerCol, op, SubqueryValue(sq))) =>
        applyCorrelatedScalar(acc0, outerCol, op, sq)
      case (_, other) => fail(s"unsupported correlated condition $other")
    }

    // aggregation or plain projection
    val hasAggs = sel.selectList match {
      case SelectItems(items) => items.exists(_.isRight)
      case _ => false
    }

    // HAVING outside an aggregation used to be silently dropped —
    // compileAgg (which owns the filter) never ran (r15 review
    // finding); the reference rejects it (aggregation.rs:144-149)
    if (sel.having.isDefined && sel.groupBy.isEmpty && !hasAggs)
      fail("HAVING requires GROUP BY or an aggregate select list")

    var out: DataFrame =
      if (sel.groupBy.nonEmpty || hasAggs) compileAgg(sel, filtered)
      else filtered

    // ORDER BY
    if (sel.orderBy.nonEmpty) {
      val sorts = sel.orderBy.map(o => orderCol(o, meta))
      out = out.orderBy(sorts: _*)
    } else if (near.isDefined) {
      // NEAR default ordering by metric direction (distance.rs:95-103);
      // fused scores (RRF/hybrid) are always higher-is-better
      val fusedScore = hybridText.isDefined ||
        near.exists(_.isInstanceOf[VectorNearFused])
      val (_, hib) = VectorFunctions.metrics(meta.metric)
      val ord = if (hib || fusedScore) col("score").desc else col("score").asc
      out = out.orderBy(ord, col(meta.idCol).asc)
    } else if (!hasAggs && sel.groupBy.isEmpty && scoredTm.exists { case (tm, _) =>
        sel.where.exists(w => flattenAnd(w).contains(tm)) }) {
      // ranked text search: a top-level AND MATCH orders by BM25 score
      // like NEAR orders by similarity, so MATCH … LIMIT k is the top k
      out = out.orderBy(col("score").desc, col(meta.idCol).asc)
    }

    // projection (after ORDER BY so sort can reference unselected cols)
    if (!hasAggs && sel.groupBy.isEmpty) {
      sel.selectList match {
        case SelectAll =>
          // DISTINCT * dedups by id (search/query/distinct.rs:12-35: `*`
          // dedups on point id, not the full row)
          if (sel.distinct) out = out.dropDuplicates(meta.idCol)
        case SelectItems(items) =>
          val cols = items.collect { case Left(ColumnItem(n, a)) =>
            val c = resolve(out, n)
            a.map(c.as).getOrElse(c)
          }
          out = out.select(cols: _*)
          if (sel.distinct) out = out.dropDuplicates()
      }
    }

    // LIMIT / OFFSET (+ NEAR default 10, cap 100_000 — query/mod.rs:61,84-87)
    val effLimit = sel.limit.map(l => math.min(l, LimitCap))
      .orElse(if (near.isDefined) Some(NearDefaultLimit) else None)
    sel.offset.foreach(o => out = out.offset(o))
    effLimit.foreach(l => out = out.limit(l))
    out
  }

  private def compileAgg(sel: Select, df: DataFrame): DataFrame = {
    val items = sel.selectList match {
      case SelectItems(is) => is
      case SelectAll => fail("SELECT * with GROUP BY is not valid VelesQL")
    }
    val aggs = items.collect { case Right(a) => a } ++
      sel.having.toSeq.flatMap(h => (h.first +: h.rest.map(_._2)).map(_.agg)) ++
      sel.orderBy.collect { case OrderByItem(OrderByAggregate(a), _) => a }
    val aggCols = aggs.distinctBy(_.resultName).map(aggColumn)
    val hasGroup = sel.groupBy.nonEmpty

    // alias each group expression to its literal path so projections can
    // re-reference it (indexed paths like items[0].sku aren't re-resolvable
    // against the aggregated frame)
    var out =
      if (aggCols.isEmpty)
        // GROUP BY with no aggregate anywhere (select list, HAVING or
        // ORDER BY): the grouped result is the distinct group keys —
        // non-group select items then fail ANALYSIS with a typed error
        // instead of aggCols.head crashing here (found by ParserFuzzSpec)
        df.select(sel.groupBy.map(g => resolve(df, g).as(g)): _*).distinct()
      else if (hasGroup) df.groupBy(sel.groupBy.map(g => resolve(df, g).as(g)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      else df.agg(aggCols.head, aggCols.tail: _*)

    // WITH (max_groups=N | group_limit=N): error when the aggregation
    // produces more groups (aggregation.rs:87-88, 405-407; hard cap 1M).
    // Divergence, documented: WITHOUT the option we are unlimited — the
    // reference's default 10k cap protects its in-memory hash map, while
    // Spark aggregation spills; the guardrail only runs when asked for.
    val maxGroups = sel.withOptions.get("max_groups")
      .orElse(sel.withOptions.get("group_limit"))
      .map(v => math.min(math.max(v.toDouble.toLong, 1L), 1000000L))
    maxGroups.foreach { mg =>
      if (!hasGroup) fail("max_groups requires GROUP BY")
      val gc = out.agg(count(lit(1)).as("__gc"))
      out = out.crossJoin(broadcast(gc))
        .where(assert_true(col("__gc") <= mg,
          lit(s"Too many groups (limit: $mg)")).isNull)
        .drop("__gc")
    }

    // HAVING: strictly left-to-right fold (query/aggregation.rs:611-644);
    // HAVING without GROUP BY is an error (aggregation.rs:144-149)
    sel.having.foreach { h =>
      if (!hasGroup) fail("HAVING requires GROUP BY")
      val first = havingCol(h.first)
      val folded = h.rest.foldLeft(first) { case (acc, (op, term)) =>
        if (op == "AND") acc && havingCol(term) else acc || havingCol(term)
      }
      out = out.where(folded)
    }

    // project in declared order: group cols (exact-name lookup — they were
    // aliased to their literal paths above) + aggregates
    val proj = items.map {
      case Left(ColumnItem(n, a)) =>
        val c = if (sel.groupBy.contains(n)) out.col(s"`$n`") else resolve(out, n)
        a.map(c.as).getOrElse(c)
      case Right(a) => col(a.resultName)
    }
    out.select(proj: _*)
  }

  private def aggColumn(a: AggregateItem): Column = {
    val c = a match {
      case AggregateItem("count", "*", _) => count(lit(1))
      case AggregateItem("count", arg, _) => count(resolveName(arg))
      case AggregateItem("sum", arg, _) => sum(resolveName(arg))
      case AggregateItem("avg", arg, _) => avg(resolveName(arg))
      case AggregateItem("min", arg, _) => min(resolveName(arg))
      case AggregateItem("max", arg, _) => max(resolveName(arg))
      case other => fail(s"unknown aggregate $other")
    }
    c.as(a.resultName)
  }

  private def havingCol(t: HavingTerm): Column =
    cmp(col(t.agg.resultName), t.op, literal(t.value))

  private def orderCol(o: OrderByItem, meta: CollectionMeta): Column = {
    val base = o.expr match {
      case OrderByColumn(n) => col(n)
      case OrderByAggregate(a) => col(a.resultName)
      case OrderBySimilarity(field, v) =>
        val (fn, hib) = VectorFunctions.metrics(meta.metric)
        val c = fn(col(field), VectorFunctions.vecLit(vecOf(v)))
        // distance metrics invert the direction (ordering.rs:147-162)
        return o.ascending match {
          case Some(true) => if (hib) c.asc else c.desc
          case _ => if (hib) c.desc else c.asc
        }
    }
    o.ascending match {
      case Some(true) | None => base.asc
      case Some(false) => base.desc
    }
  }

  private def textColOf(meta: CollectionMeta): String = meta.textCol.getOrElse("text")

  // =================== conditions ===================

  /** Pull a top-level (AND-composed) NEAR/NEAR_FUSED out of the tree. */
  private def extractNear(c: Condition): (Option[Condition], Option[Condition]) = c match {
    case n: VectorNear => (Some(n), None)
    case n: VectorNearFused => (Some(n), None)
    case And(l, r) =>
      val (nl, rl) = extractNear(l)
      val (nr, rr) = extractNear(r)
      // two AND-composed NEARs would silently drop one — reject like the
      // OR-composed case (use NEAR_FUSED for multi-vector queries)
      if (nl.isDefined && nr.isDefined)
        fail("multiple NEAR conditions in one WHERE — use NEAR_FUSED")
      val near = nl.orElse(nr)
      val residual = (rl, rr) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b)
      }
      (near, residual)
    case other => (None, Some(other))
  }

  /** Last similarity() condition (its score wins — query/mod.rs:419-425). */
  private def lastSimilarity(c: Condition): Option[SimilarityCond] = c match {
    case s: SimilarityCond => Some(s)
    case And(l, r) => lastSimilarity(r).orElse(lastSimilarity(l))
    case Or(l, r) => lastSimilarity(r).orElse(lastSimilarity(l))
    case Not(i) => lastSimilarity(i)
    case _ => None
  }

  /** The TextMatch eligible to become a hybrid fusion leg: a TOP-LEVEL
    * AND conjunct only. A MATCH under OR/NOT is a boolean filter arm —
    * fusing it (and stripping it from the residual) would silently
    * delete the OR branch (r15 review finding); it stays a filter. */
  private def hybridTextLeg(c: Condition): Option[TextMatch] = c match {
    case t: TextMatch => Some(t)
    case And(l, r) => hybridTextLeg(l).orElse(hybridTextLeg(r))
    case _ => None
  }

  /** Remove exactly `target` from the top-level AND tree (the one
    * conjunct hybrid mode fuses instead of filtering); every OTHER
    * condition — including additional MATCH conjuncts, which remain
    * ordinary filters — survives. None if nothing remains. */
  private def stripConjunct(c: Condition, target: Condition): Option[Condition] =
    c match {
      case t if t == target => None
      case And(l, r) => (stripConjunct(l, target), stripConjunct(r, target)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b)
      }
      case other => Some(other)
    }

  private def firstTextMatch(c: Condition): Option[TextMatch] = c match {
    case t: TextMatch => Some(t)
    case And(l, r) => firstTextMatch(l).orElse(firstTextMatch(r))
    case Or(l, r) => firstTextMatch(l).orElse(firstTextMatch(r))
    case Not(i) => firstTextMatch(i)
    case _ => None
  }

  def compileCond(c: Condition, df: DataFrame, meta: CollectionMeta,
      scoredTm: Option[(TextMatch, Column)] = None): Column = c match {
    case Compare(column, op, v) =>
      val cc = resolve(df, column)
      op match {
        // Neq passes on missing field (matching.rs is_none_or)
        case "!=" | "<>" => cc.isNull || cc =!= literal(v)
        case _ => cmp(cc, op, literal(v))
      }
    case In(column, vs) => resolve(df, column).isin(vs.map(rawLiteral): _*)
    case Between(column, lo, hi) =>
      resolve(df, column).between(literal(lo), literal(hi))
    case Like(column, pat, ci) =>
      if (ci) resolve(df, column).ilike(pat) else resolve(df, column).like(pat)
    case IsNull(column, neg) =>
      if (neg) resolve(df, column).isNotNull else resolve(df, column).isNull
    case And(l, r) =>
      compileCond(l, df, meta, scoredTm) && compileCond(r, df, meta, scoredTm)
    case Or(l, r) =>
      compileCond(l, df, meta, scoredTm) || compileCond(r, df, meta, scoredTm)
    case Not(i) => !compileCond(i, df, meta, scoredTm)
    case SimilarityCond(field, v, op, t) =>
      val (fn, hib) = VectorFunctions.metrics(meta.metric)
      val score = fn(col(field), VectorFunctions.vecLit(vecOf(v)))
      // metric-direction inversion (query/mod.rs:396-417)
      val effOp = if (hib) op else op match {
        case ">" => "<"; case ">=" => "<="; case "<" => ">"; case "<=" => ">="
        case o => o
      }
      cmp(score, effOp, lit(t))
    case t: TextMatch if scoredTm.exists(_._1 == t) =>
      // the scored frame already carries this MATCH's membership flag
      scoredTm.get._2
    case TextMatch(_, qtext) =>
      // membership in the BM25 match set (any query term present)
      Bm25.matches(col(textColOf(meta)), Bm25.queryTerms(qtext))
    case _: VectorNear | _: VectorNearFused =>
      fail("NEAR must be AND-composed at the top level of WHERE")
  }

  // ---- validation (validation.rs:226-257 parity) ----

  private def countVectorConds(c: Condition): Int = c match {
    case _: SimilarityCond | _: VectorNear | _: VectorNearFused => 1
    case And(l, r) => countVectorConds(l) + countVectorConds(r)
    case Or(l, r) => countVectorConds(l) + countVectorConds(r)
    case Not(i) => countVectorConds(i)
    case _ => 0
  }

  private def hasMultiSimInOr(c: Condition): Boolean = c match {
    case Or(l, r) => (countVectorConds(l) > 0 && countVectorConds(r) > 0) ||
      hasMultiSimInOr(l) || hasMultiSimInOr(r)
    case And(l, r) => hasMultiSimInOr(l) || hasMultiSimInOr(r)
    case Not(i) => hasMultiSimInOr(i)
    case _ => false
  }

  // ---- correlated scalar subqueries (ast/values.rs CorrelatedColumn,
  //      subquery_optimizer.rs strategies) ----

  private def flattenAnd(c: Condition): Seq[Condition] = c match {
    case And(l, r) => flattenAnd(l) ++ flattenAnd(r)
    case other => Seq(other)
  }

  /** Tables/aliases visible inside the subquery's own scope. */
  private def subScope(sq: Select): Set[String] =
    Set(sq.from) ++ sq.fromAlias ++ sq.joins.map(_.table) ++ sq.joins.flatMap(_.alias)

  private def isOuterRef(sq: Select, name: String): Boolean = {
    val parts = name.split("\\.")
    parts.length > 1 && !subScope(sq).contains(parts.head)
  }

  private def isCorrelated(sq: Select): Boolean = {
    def walk(c: Condition): Boolean = c match {
      case Compare(_, _, ColumnRef(n)) => isOuterRef(sq, n)
      case And(l, r) => walk(l) || walk(r)
      case Or(l, r) => walk(l) || walk(r)
      case Not(i) => walk(i)
      case _ => false
    }
    sq.where.exists(walk)
  }

  /** Decorrelate `outerCol OP (SELECT agg(x) FROM t WHERE t.k = outer.k
    * AND …)` into `groupBy(k).agg ⋈ outer` + compare — ONE distributed
    * aggregation and a key join instead of a per-row subquery
    * (subquery_optimizer.rs RewriteAsJoin; PerRow would be a driver
    * loop). Join type tracks SQL empty-group semantics: for sum/avg/min/
    * max an empty scalar subquery is NULL → comparison false → inner
    * join. COUNT over an empty group is 0, not NULL — outer rows with no
    * matching inner rows must compare against 0, so count uses a LEFT
    * join + coalesce(__sq, 0). */
  private def applyCorrelatedScalar(outer: DataFrame, outerCol: String,
      op: String, sq: Select): DataFrame = {
    if (sq.groupBy.nonEmpty || sq.having.isDefined || sq.joins.nonEmpty ||
        sq.limit.isDefined || sq.orderBy.nonEmpty)
      fail("correlated scalar subquery supports the single-table aggregate shape")
    val aggItem = sq.selectList match {
      case SelectItems(Seq(Right(a))) => a
      case _ => fail("correlated scalar subquery must select exactly one aggregate")
    }
    val conjs = sq.where.map(flattenAnd).getOrElse(Nil)
    val (corrs, innerPreds) = conjs.partition {
      case Compare(_, "=", ColumnRef(n)) => isOuterRef(sq, n)
      case _ => false
    }
    if (corrs.isEmpty) fail("correlated subquery: no equality correlation found")
    val pairs = corrs.collect { case Compare(ic, _, ColumnRef(on)) => (ic, on) }
    val subMeta = catalog.metaOf(sq.from)
    val sub0 = catalog.table(sq.from).as(sq.fromAlias.getOrElse(sq.from))
    val sub = innerPreds.reduceOption(And.apply)
      .map(c => sub0.where(compileCond(c, sub0, subMeta))).getOrElse(sub0)
    val keyCols = pairs.zipWithIndex.map { case ((ic, _), i) =>
      resolve(sub, ic).as(s"__ck$i") }
    val grouped = sub.groupBy(keyCols: _*).agg(aggColumn(aggItem))
      .withColumnRenamed(aggItem.resultName, "__sq")
    val cond = pairs.zipWithIndex.map { case ((_, on), i) =>
      grouped(s"__ck$i") === resolve(outer, on) }.reduce(_ && _)
    val isCount = aggItem match {
      case AggregateItem("count", _, _) => true
      case _ => false
    }
    val sqVal = if (isCount) coalesce(col("__sq"), lit(0L)) else col("__sq")
    outer.join(grouped, cond, if (isCount) "left" else "inner")
      .where(cmp(resolve(outer, outerCol), op, sqVal))
      .drop("__sq")
      .drop(pairs.indices.map(i => s"__ck$i"): _*)
  }

  private def cmp(c: Column, op: String, v: Column): Column = op match {
    // conscious divergence (SURVEY §7.4.3): the reference compares floats
    // with |a−b| < f64::EPSILON (filter/matching.rs:64) — a ±1-ulp
    // tolerance around 1.0-scale values. We use SQL exact equality: it is
    // what every SQL engine (and the DuckDB oracle) does, and the ulp
    // tolerance is unobservable for values that were parsed, not computed.
    case "=" => c === v
    case "!=" | "<>" => c =!= v
    case ">" => c > v
    case ">=" => c >= v
    case "<" => c < v
    case "<=" => c <= v
  }

  // =================== values ===================

  private def vecOf(v: VectorValue): Seq[Float] = v match {
    case VectorValue(Some(lit), _) => lit
    case VectorValue(_, Some(p)) => params.get(p) match {
      case Some(s: Seq[_]) => s.map(x => x.asInstanceOf[Number].floatValue())
      case Some(a: Array[Float]) => a.toSeq
      case other => fail(s"parameter $$$p is not a vector: $other")
    }
    case _ => fail("empty vector value")
  }

  def literal(v: Value): Column = v match {
    case IntValue(x) => lit(x)
    case FloatValue(x) => lit(x)
    case StringValue(x) => lit(x)
    case BoolValue(x) => lit(x)
    case NullValue => lit(null)
    case Parameter(name) => params.get(name) match {
      case Some(x) => lit(x)
      case None => fail(s"unbound parameter $$$name")
    }
    case TemporalValue(t) => timestamp_seconds(lit(epochOf(t)))
    case ColumnRef(n) => resolveName(n)
    case SubqueryValue(sq) =>
      // NATIVE Spark scalar subquery (subquery_optimizer.rs CacheResult
      // strategy): the subquery plan executes inside the outer query —
      // Catalyst evaluates an uncorrelated scalar subquery once and
      // broadcasts the value. The r1 shape collect()ed at compile time.
      org.apache.spark.sql.graft.Bridge.scalarSubquery(compileSelect(sq))
  }

  private def rawLiteral(v: Value): Any = v match {
    case IntValue(x) => x
    case FloatValue(x) => x
    case StringValue(x) => x
    case BoolValue(x) => x
    case NullValue => null
    case Parameter(name) => params.getOrElse(name, fail(s"unbound parameter $$$name"))
    case other => fail(s"unsupported IN value $other")
  }

  /** Evaluate temporal arithmetic to epoch seconds (ast/values.rs:91-163;
    * month = 30 days at values.rs:136-163). */
  private def epochOf(t: Temporal): Long = t match {
    case Now => fixedNowEpoch.getOrElse(System.currentTimeMillis() / 1000)
    case Interval(raw) => intervalSeconds(raw)
    case TemporalArith(l, op, r) =>
      val (a, b) = (epochOf(l), epochOf(r))
      if (op == '+') a + b else a - b
  }

  private def intervalSeconds(raw: String): Long = {
    val m = """(\d+)\s*(\w+)""".r.findFirstMatchIn(raw.trim)
      .getOrElse(fail(s"bad interval '$raw'"))
    val n = m.group(1).toLong
    m.group(2).toLowerCase match {
      case s if s.startsWith("sec") => n
      case s if s.startsWith("min") => n * 60
      case s if s.startsWith("hour") => n * 3600
      case s if s.startsWith("day") => n * 86400
      case s if s.startsWith("week") => n * 604800
      case s if s.startsWith("month") => n * 2592000 // 30 days (values.rs:163)
      case u => fail(s"unknown interval unit $u")
    }
  }

  // =================== MATCH (graph) ===================

  /** Compile a Cypher-subset MATCH to joins over nodes/edges
    * (match_exec.rs:104-218). Fixed-length hops become per-hop joins;
    * var-length hops use the BFS loop. */
  def compileMatch(m0: MatchQuery): DataFrame = {
    // G10 leg-order heuristic (the reference's start-node selection,
    // match_exec.rs start filtering): when the pattern's FIRST node is
    // unconstrained but its LAST carries labels/properties, compile the
    // REVERSED pattern (rel directions flipped) so the traversal fans
    // out from the selective end — semantically identical, and at scale
    // the first join's probe side is the filtered frame, not the whole
    // node table. Skipped for var-length hops (BFS direction is part of
    // min-depth semantics) and named paths (the id array is ordered).
    val m = {
      val p = m0.pattern
      def sel(np: NodePattern) = np.properties.size * 2 + np.labels.size
      val reversible = p.nodes.size > 1 && p.name.isEmpty &&
        p.rels.forall(r => r.minHops == 1 && r.maxHops == 1)
      if (reversible && sel(p.nodes.head) == 0 && sel(p.nodes.last) > 0)
        m0.copy(pattern = GraphPattern(p.nodes.reverse,
          p.rels.reverse.map(r => r.copy(direction = r.direction match {
            case "out" => "in"
            case "in" => "out"
            case other => other
          })), p.name))
      else m0
    }
    val nodes = catalog.graphNodes
    val edges = catalog.graphEdges

    // internal binding columns use `alias__prop` (dots would collide with
    // Spark's nested-field resolution); RETURN restores `alias.prop` names
    def nodeFrame(np: NodePattern, idx: Int): DataFrame = {
      val alias = np.alias.getOrElse(s"_n$idx")
      var df = nodes
      np.labels.foreach(l => df = df.where(array_contains(col("labels"), l)))
      np.properties.foreach { case (k, v) => df = df.where(col(k) === literal(v)) }
      df.select(df.columns.toIndexedSeq.map(c => col(c).as(s"${alias}__$c")): _*)
    }

    val aliases = m.pattern.nodes.zipWithIndex.map { case (np, i) =>
      np.alias.getOrElse(s"_n$i")
    }
    var acc = nodeFrame(m.pattern.nodes.head, 0)
    for (((rel, node), i) <- m.pattern.rels.zip(m.pattern.nodes.tail).zipWithIndex) {
      val fromAlias = aliases(i)
      val toAlias = node.alias.getOrElse(s"_n${i + 1}")
      val nf = nodeFrame(node, i + 1)
      val e0 = if (rel.types.nonEmpty) edges.where(col("label").isin(rel.types: _*)) else edges
      // `[r:TYPE {prop: v}]` — equality filters on edge properties,
      // applied to the edge frame before the join (graph_pattern.rs:86-87)
      val e1 = rel.properties.foldLeft(e0) { case (f, (k, v)) =>
        f.where(col(k) === literal(v))
      }
      if (rel.minHops == 1 && rel.maxHops == 1) {
        // a bound rel alias `[r:…]` carries the edge's property columns
        // into the match frame as r__<prop> (WHERE r.weight > …, RETURN)
        val propCols = rel.alias.toSeq.flatMap { a =>
          e1.columns.filterNot(c => c == "src" || c == "dst").toSeq
            .map(c => col(c).as(s"${a}__$c"))
        }
        val (sCol, dCol) = rel.direction match {
          case "in" => ("dst", "src")
          case _ => ("src", "dst") // undirected treated as outgoing + reverse union
        }
        val e =
          if (rel.direction == "undirected")
            e1.select(col("src").as("s") +: col("dst").as("d") +: propCols: _*)
              .unionAll(e1.select(col("dst").as("s") +: col("src").as("d") +: propCols: _*))
          else e1.select(col(sCol).as("s") +: col(dCol).as("d") +: propCols: _*)
        acc = acc.join(e, col(s"${fromAlias}__id") === col("s"))
          .join(nf, col("d") === col(s"${toAlias}__id"))
          .drop("s", "d")
      } else {
        // var-length: BFS from the current binding of `fromAlias`; a
        // property filter constrains EVERY traversed edge
        val starts = acc.select(col(s"${fromAlias}__id").as("start")).distinct()
        val reach = Graph.bfsVarLength(e1, starts, rel.maxHops, rel.types)
          .where(col("depth") >= rel.minHops)
          .select(col("start"), col("node"))
        acc = acc.join(reach, col(s"${fromAlias}__id") === col("start"))
          .join(nf, col("node") === col(s"${toAlias}__id"))
          .drop("start", "node")
      }
    }

    m.where.foreach { w =>
      acc = acc.where(compileMatchCond(w, acc))
    }

    // `p = (a)-[…]->(b)`: the named path binds to the array of node ids
    // along the pattern's bound nodes (graph_pattern.rs:24-25)
    def pathArray: Column = array(aliases.map(a => col(s"${a}__id")): _*)
    def simColOf(field: String, v: VectorValue): Column =
      VectorFunctions.cosine_sim(mcol(field), VectorFunctions.vecLit(vecOf(v)))

    var out = acc
    if (m.returns.exists(_.expr == ReturnAll)) {
      // keep all bound columns
    } else {
      val cols = m.returns.map { r =>
        r.expr match {
          case ReturnProperty(a, p) => col(s"${a}__$p").as(r.as.getOrElse(s"$a.$p"))
          case ReturnAlias(a) if m.pattern.name.contains(a) =>
            pathArray.as(r.as.getOrElse(a))
          case ReturnAlias(a) => col(s"${a}__id").as(r.as.getOrElse(a))
          // RETURN similarity(alias.field, $v) (match_exec.rs:61-81)
          case ReturnSimilarityOf(f, v) =>
            simColOf(f, v).as(r.as.getOrElse("similarity"))
          // bare similarity(): the score of the WHERE clause's similarity
          case ReturnSimilarity => m.where.flatMap(lastSimilarity) match {
            case Some(SimilarityCond(f, v, _, _)) =>
              simColOf(f, v).as(r.as.getOrElse("similarity"))
            case None =>
              fail("similarity() RETURN requires similarity(field, $v) or a similarity() in WHERE")
          }
          case ReturnAll => col("*")
        }
      }
      out = out.select(cols: _*)
    }
    m.orderBy.foreach { o => out = out.orderBy(orderCol(o, CollectionMeta())) }
    m.limit.foreach(l => out = out.limit(l))
    out
  }

  /** MATCH WHERE over `alias.property` columns (match_exec.rs:340-399). */
  private def compileMatchCond(c: Condition, df: DataFrame): Column = c match {
    // a ColumnRef VALUE is another alias's bound property — it needs
    // the same alias__prop rewrite as the left side (a bare
    // resolveName produced an unresolvable `b.age` against the joined
    // frame's `b__age`; r15 review finding)
    case Compare(column, op, ColumnRef(ref)) => cmp(mcol(column), op, mcol(ref))
    case Compare(column, op, v) => cmp(mcol(column), op, literal(v))
    case In(column, vs) => mcol(column).isin(vs.map(rawLiteral): _*)
    case Between(column, lo, hi) => mcol(column).between(literal(lo), literal(hi))
    case Like(column, p, ci) => if (ci) mcol(column).ilike(p) else mcol(column).like(p)
    case IsNull(column, neg) => if (neg) mcol(column).isNotNull else mcol(column).isNull
    case And(l, r) => compileMatchCond(l, df) && compileMatchCond(r, df)
    case Or(l, r) => compileMatchCond(l, df) || compileMatchCond(r, df)
    case Not(i) => !compileMatchCond(i, df)
    case SimilarityCond(field, v, op, t) =>
      // similarity(alias.embedding, $v) on node payloads
      // (match_exec.rs:340-399); cosine — higher is better, no inversion
      val score = VectorFunctions.cosine_sim(mcol(field),
        VectorFunctions.vecLit(vecOf(v)))
      cmp(score, op, lit(t))
    case other => fail(s"unsupported MATCH condition $other")
  }

  private def mcol(name: String): Column = col(name.replace(".", "__"))

  // =================== util ===================

  /** Resolve a possibly alias-qualified column path against `df`,
    * including `items[0].sku`-style array indices (json_path.rs:36-61,
    * 0-based like the reference). */
  private def resolve(df: DataFrame, name: String): Column = resolveName(name)

  private val segRx = """([^\[\]]+)(?:\[(\d+)\])?""".r
  private def resolveName(name: String): Column =
    if (!name.contains("[")) col(name)
    else {
      // everything up to (and including) the first indexed segment's
      // NAME resolves as one dotted reference — Spark's own resolution
      // handles frame qualifiers (o.items) and struct fields alike.
      // Hand-folding from col(firstSegment) broke alias-qualified
      // indexed paths: col("o") is a frame alias, not a column
      // (r15 review finding).
      val segs = name.split("\\.").toSeq
      val firstIdx = segs.indexWhere(_.contains("["))
      val m0 = segRx.findFirstMatchIn(segs(firstIdx))
        .getOrElse(fail(s"bad path segment '${segs(firstIdx)}' in $name"))
      val base0 = col((segs.take(firstIdx) :+ m0.group(1)).mkString("."))
      val indexed = Option(m0.group(2)).map(i => base0.getItem(i.toInt)).getOrElse(base0)
      segs.drop(firstIdx + 1).foldLeft(indexed) { (acc, seg) =>
        val m = segRx.findFirstMatchIn(seg)
          .getOrElse(fail(s"bad path segment '$seg' in $name"))
        val base = acc.getField(m.group(1))
        Option(m.group(2)).map(i => base.getItem(i.toInt)).getOrElse(base)
      }
    }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"VelesQL: $msg")
}
