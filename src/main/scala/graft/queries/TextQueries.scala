package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Fusion
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Full-text (BM25) + text-analysis + deduplication operator surface
  * (SURVEY.md §2.9 and the training-data-pipeline tier).
  *
  * BM25 parity with the reference (index/bm25.rs): tokenizer = lowercase,
  * split on non-alphanumeric, DROP tokens of length ≤ 1 (bm25.rs:114-120);
  * params k1=1.2 b=0.75 (bm25.rs:45-58); idf = ln((N - df + 0.5)/(df +
  * 0.5) + 1) (bm25.rs:294-305). All math in f64 in both engines.
  *
  * Scale shape: BM25 rows score per row ([[graft.operators.Bm25]]): one
  * shuffle-free job folds the corpus stats, then a scan scores each row
  * from its own text under a partition-local top-k — no posting table,
  * no join, no exchange.
  *
  * Cross-engine hashing: md5 (identical hex in Spark and DuckDB); 60-bit
  * ints from the first 15 hex chars via conv()/CAST('0x…') — verified to
  * parse identically.
  */
object TextQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.table(s, d, n)

  /** Cross-engine-stable 6-dp rounding for NON-NEGATIVE ratios: Spark's
    * round() is half-up but DuckDB's is half-even, so an exact 6-dp tie
    * (reachable whenever a ratio denominator is a power of two, e.g.
    * 1/128 = 0.0078125) hashes differently — the q149 rank_e4 trap.
    * floor(x·10⁶ + 0.5)/10⁶ is the same IEEE arithmetic in both engines
    * (identical to Spark's half-up on non-negatives). SQL twin:
    * [[r6Sql]]. */
  private def r6(c: Column): Column =
    floor(c * lit(1000000L) + lit(0.5)) / lit(1000000.0)

  /** DuckDB twin of [[r6]] — splice around a non-negative expression. */
  private def r6Sql(e: String): String =
    s"floor(($e) * 1000000 + 0.5) / 1000000.0"

  /** BM25 tokens per doc (reference tokenizer: bm25.rs:114-120). */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
        t => length(t) > 1)).as("term"))

  private val duckTok =
    """SELECT doc_id, u.t AS term
      |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
      |  WHERE len(u.t) > 1""".stripMargin

  private def bm25Sql(terms: Seq[String], k: Int, docFilter: String = ""): String = {
    val termList = terms.map(x => s"'$x'").mkString(", ")
    s"""WITH docs0 AS (SELECT * FROM documents $docFilter),
       |tok AS (SELECT doc_id, u.t AS term
       |  FROM docs0, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
       |  WHERE len(u.t) > 1),
       |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n, avg(CAST(dlen AS DOUBLE)) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       |       WHERE term IN ($termList) GROUP BY doc_id, term),
       |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term)
       |SELECT tf.doc_id, sum(
       |    ln((n - df + 0.5) / (df + 0.5) + 1.0)
       |    * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl))
       |  ) AS score
       |FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |GROUP BY tf.doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Shingle table MATERIALIZED once per dataset dir: (doc_id, shingle,
    * sh64 = xxhash64, base60 = 60-bit md5) — the index-build side of the
    * dedup family, amortized like the reference's insert-time indexes.
    * q67/q68 then start from a parquet scan instead of re-tokenizing. */
  private def shinglesTab(s: SparkSession, d: String): DataFrame =
    graft.Materialize(s, d, "shingles", Seq("documents"), Some("doc_id")) {
      shingles(t(s, d, "documents"))
        .withColumn("sh64", xxhash64(col("shingle")))
        .withColumn("base60", hash60(col("shingle")))
    }

  /** DSIR gram-bucket occurrences MATERIALIZED once per dataset dir
    * (`(doc_id, fid, cnt)`, 4096 buckets — Dsir.occurrences): both DSIR
    * passes (distribution agg, per-doc score) start from this parquet
    * scan instead of re-exploding the corpus per execution. */
  private def dsirOccTab(s: SparkSession, d: String): DataFrame =
    graft.Materialize(s, d, "dsir_occ4096", Seq("documents"), Some("doc_id")) {
      graft.operators.Dsir.occurrences(t(s, d, "documents"), dim = 4096)
    }

  /** Dedup cluster assignment MATERIALIZED once per dataset dir: the
    * persisted artifact a production dedup pass ships (doc_id →
    * smallest-id cluster representative over the ≥0.8-Jaccard pair
    * graph). q73 reads it; q146's retention funnel joins against it —
    * the iterative components run happens once per corpus stamp, like
    * every other derived index here, and rebuilds on corpus change. */
  private def clustersTab(s: SparkSession, d: String): DataFrame =
    graft.Materialize(s, d, "dedup_clusters", Seq("documents"), Some("doc_id")) {
      val sh = shinglesTab(s, d).select(col("doc_id"), col("sh64").as("sh"))
      val pairs = graft.operators.Dedup.ngramJaccardPairs(sh, 0.8)
      graft.operators.Dedup.components(pairs)
        .select(col("id").as("doc_id"), col("comp").as("cluster"))
    }

  /** 3-word shingles per doc (distinct), from len>1 tokens. */
  private def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 1).as("tks"))
      .where(size(col("tks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(tks) - 3), i -> concat(tks[i], ' ', tks[i+1], ' ', tks[i+2]))"))
        .as("shingle"))
      .distinct()

  private val duckShingles =
    """SELECT DISTINCT doc_id, sh AS shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tks) - 1),
      |         i -> tks[i] || ' ' || tks[i+1] || ' ' || tks[i+2])) AS sh
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                      t -> len(t) > 1) AS tks
      |        FROM documents)
      |  WHERE len(tks) >= 3)""".stripMargin


  /** Carter-Wegman MinHash family over a 60-bit md5 base: h_i = ((base %%
    * P) * A_i + B_i) %% P with P = 2^31-1 — products stay < 2^62, so the
    * arithmetic is portable to any engine with exact i64 (DuckDB parity).
    */
  private val MinhashP = 2147483647L
  private val MinhashA: Seq[Long] = Seq(1103527590L, 59559188L, 1163074433L, 119106031L, 1222621276L, 178652874L, 1282168119L, 238199717L, 1341714962L, 297746560L, 1401261805L, 357293403L, 1460808648L, 416840246L, 1520355491L, 476387089L)
  private val MinhashB: Seq[Long] = Seq(471684861L, 1459339182L, 299509856L, 1287164177L, 127334851L, 1114989172L, 2102643493L, 942814167L, 1930468488L, 770639162L, 1758293483L, 598464157L, 1586118478L, 426289152L, 1413943473L, 254114147L)

  /** 60-bit integer hash of a string column — identical in DuckDB via
    * CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT). Byte-direct
    * codegen kernel (bit-parity with the conv/substring chain pinned by
    * TextKernelsSpec); the chain allocated a 32-char hex string, a
    * substring and a base-16 parse per row. */
  private def hash60(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.Md5Prefix(
        org.apache.spark.sql.graft.Bridge.expression(c), 15))

  val defs: Seq[QueryDef] = Seq(

    // ---- T1: `col MATCH 'query'` → BM25 top-10 (index/bm25.rs)
    QueryDef(
      "q60_bm25",
      bm25Sql(Seq("spark", "join", "filter"), 10)) { (s, d) =>
      graft.operators.Bm25.score(t(s, d, "documents"), "spark join filter", 10)
    },

    // ---- T3: BM25 with metadata filter — filter BEFORE indexing/scoring
    // (exact; the reference over-fetches 4× then post-filters, text.rs:56-91)
    QueryDef(
      "q61_bm25_filtered",
      bm25Sql(Seq("vector", "query"), 10, "WHERE lang = 'en'")) { (s, d) =>
      // scoring the filtered frame takes the corpus stats over it
      graft.operators.Bm25.score(t(s, d, "documents").where(col("lang") === "en"),
        "vector query", 10)
    },

    // ---- F4: hybrid text+vector RRF — BM25 leg + cosine leg over the
    // 1:1 doc_id↔vec_id pairing, weighted w/(60+rank) + (1-w)/(60+rank),
    // w = 0.5 (text.rs:113-203, weights at 133-134)
    QueryDef(
      "q62_hybrid_rrf",
      s"""WITH bm AS (${bm25Sql(Seq("spark", "join", "filter"), 50).replace("\n", "\n  ")}),
         |bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bm),
         |vec AS (
         |  SELECT vec_id AS doc_id, row_number() OVER (
         |    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |             [${graft.functions.VectorFunctions.syntheticQuery(64).map(_.toDouble.toString).mkString(",")}]::DOUBLE[]) DESC,
         |    vec_id) AS rnk
         |  FROM embeddings QUALIFY rnk <= 50)
         |SELECT doc_id, sum(w / (60 + rnk)) AS score FROM (
         |  SELECT doc_id, rnk, 0.5 AS w FROM bmr
         |  UNION ALL SELECT doc_id, rnk, 0.5 AS w FROM vec)
         |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      // each top-50 leg is collected on its own (the BM25 leg scores the
      // documents scan per row, the vector leg the embeddings scan), then
      // ranked and fused on the driver
      import graft.functions.VectorFunctions
      val q = VectorFunctions.syntheticQuery(64)
      val docs = t(s, d, "documents")
      val (bm25, hit) = graft.operators.Bm25.scoreColumns(docs, "spark join filter")
      val bmLeg = Fusion.leg(docs, col("doc_id"), when(hit, bm25), 50)
      val vecLeg = Fusion.leg(t(s, d, "embeddings"), col("vec_id").as("doc_id"),
        VectorFunctions.cosine_sim(col("embedding"), VectorFunctions.vecLit(q)), 50)
      Fusion.rrf(Seq(bmLeg -> 0.5, vecLeg -> 0.5), 60).take(10).toDF(s)
    },

    // ---- Text analysis: language-ID heuristic (stopword ratio over
    // whitespace tokens) — training-data-pipeline tier
    QueryDef(
      "q63_lang_id",
      """SELECT doc_id,
        |  round(len(list_filter(string_split_regex(text, '\s+'),
        |        t -> lower(t) IN ('the','a','of','to','and','in','is','it')))
        |    * 1.0 / len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)), 6)
        |    AS stop_ratio,
        |  CASE WHEN len(list_filter(string_split_regex(text, '\s+'),
        |        t -> lower(t) IN ('the','a','of','to','and','in','is','it')))
        |    * 1.0 / len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) > 0.08
        |    THEN 'en' ELSE 'other' END AS pred_lang
        |FROM documents""".stripMargin) { (s, d) =>
      val stop = Seq("the", "a", "of", "to", "and", "in", "is", "it")
      val ws = filter(split(col("text"), "\\s+"), x => length(x) > 0)
      val nStop = size(filter(split(col("text"), "\\s+"),
        x => lower(x).isin(stop.map(lit(_)): _*)))
      val ratio = nStop * lit(1.0) / size(ws)
      t(s, d, "documents").select(col("doc_id"),
        round(ratio, 6).as("stop_ratio"),
        when(ratio > 0.08, "en").otherwise("other").as("pred_lang"))
    },

    // ---- Text analysis: quality scoring (length / token stats / digit ratio)
    QueryDef(
      "q64_quality_score",
      """SELECT doc_id, n_chars,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_tokens,
        |  round(CAST(n_chars AS DOUBLE)
        |    / len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)), 6) AS chars_per_token,
        |  round(len(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / n_chars, 6) AS digit_ratio
        |FROM documents WHERE n_chars > 0""".stripMargin) { (s, d) =>
      val nTok = size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
      t(s, d, "documents").where(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
          round(col("n_chars").cast("double") / nTok, 6).as("chars_per_token"),
          round(length(regexp_replace(col("text"), "[^0-9]", "")) * lit(1.0)
            / col("n_chars"), 6).as("digit_ratio"))
    },

    // ---- Text analysis: token counting histogram (whitespace + wordpiece-ish
    // len>1 alnum tokens)
    QueryDef(
      "q65_token_hist",
      """SELECT len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |          t -> len(t) > 1)) // 10 AS bucket,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select((size(filter(split(lower(col("text")), "[^a-z0-9]+"),
          x => length(x) > 1)).cast(LongType) / 10).cast(LongType).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    },

    // ---- Token counting under a BPE-ish pre-tokenizer regex (the
    // GPT-2-style split shape: optional-space word runs, digit runs,
    // punctuation runs, whitespace runs) — the cost estimator a training
    // pipeline runs before the real tokenizer. Deterministic leftmost
    // matching agrees between Java regex (Spark codegen) and RE2
    // (DuckDB), oracle-checked per doc.
    QueryDef(
      "q74_bpe_tokens",
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")),
            lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"), lit(0)))
            .cast(LongType).as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // ---- Dedup: exact (hash-groupBy on normalized 40-char prefix —
    // collision groups planted in the testdata)
    QueryDef(
      "q66_exact_dedup",
      """SELECT md5(substr(text, 1, 40)) AS h, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .groupBy(md5(substring(col("text"), 1, 40)).as("h"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
        .where(col("n") > 1)
    },

    // ---- Dedup: n-gram (3-shingle) Jaccard via inverted shingle join —
    // the distributed shape: explode→join on shingle→count intersections;
    // no O(n²) pair enumeration
    QueryDef(
      "q67_ngram_jaccard",
      s"""WITH sh AS ($duckTokToShingles),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2)
         |SELECT a, b, round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
         |FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
         |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8""".stripMargin) { (s, d) =>
      // join on 64-bit shingle hashes: same intersection counts (collision
      // odds ~(n_shingles)²/2^65), ~2.5× narrower shuffle than strings.
      // dfCap=None here (exact, oracle parity); at 100 TB pass a cap so
      // stop-shingles can't form n² join groups (Dedup.ngramJaccardPairs)
      val sh = shinglesTab(s, d).select(col("doc_id"), col("sh64").as("sh"))
      graft.operators.Dedup.ngramJaccardPairs(sh, 0.8)
    },

    // ---- Dedup cluster assignment: connected components over the
    // near-dup pair graph (min-label propagation), label = smallest
    // member id = the cluster representative a pipeline keeps. Oracle =
    // transitive closure by recursive CTE over the same q67 pair set.
    QueryDef(
      "q73_dedup_clusters",
      s"""WITH RECURSIVE sh AS ($duckTokToShingles),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a, b FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
         |  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v AND e.v <> r.u)
         |SELECT u AS doc_id, least(u, min(v)) AS cluster
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin) { (s, d) =>
      clustersTab(s, d).orderBy("doc_id")
    },

    // ---- Dedup: MinHash + LSH (16 hashes = 4 bands × 4 rows, banded
    // bucket-join for candidates, exact-Jaccard verify ≥ 0.8). The
    // scale path: signatures are one groupBy, candidates come from the
    // band-bucket join — never all-pairs.
    QueryDef(
      "q68_minhash_lsh",
      s"""WITH sh AS ($duckTokToShingles),
         |shb AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS base,
         |    shingle FROM sh),
         |mh16 AS (
         |  SELECT doc_id,
         |    min(((base % 2147483647) * 1103527590 + 471684861) % 2147483647) AS mh0,
         |    min(((base % 2147483647) * 59559188 + 1459339182) % 2147483647) AS mh1,
         |    min(((base % 2147483647) * 1163074433 + 299509856) % 2147483647) AS mh2,
         |    min(((base % 2147483647) * 119106031 + 1287164177) % 2147483647) AS mh3,
         |    min(((base % 2147483647) * 1222621276 + 127334851) % 2147483647) AS mh4,
         |    min(((base % 2147483647) * 178652874 + 1114989172) % 2147483647) AS mh5,
         |    min(((base % 2147483647) * 1282168119 + 2102643493) % 2147483647) AS mh6,
         |    min(((base % 2147483647) * 238199717 + 942814167) % 2147483647) AS mh7,
         |    min(((base % 2147483647) * 1341714962 + 1930468488) % 2147483647) AS mh8,
         |    min(((base % 2147483647) * 297746560 + 770639162) % 2147483647) AS mh9,
         |    min(((base % 2147483647) * 1401261805 + 1758293483) % 2147483647) AS mh10,
         |    min(((base % 2147483647) * 357293403 + 598464157) % 2147483647) AS mh11,
         |    min(((base % 2147483647) * 1460808648 + 1586118478) % 2147483647) AS mh12,
         |    min(((base % 2147483647) * 416840246 + 426289152) % 2147483647) AS mh13,
         |    min(((base % 2147483647) * 1520355491 + 1413943473) % 2147483647) AS mh14,
         |    min(((base % 2147483647) * 476387089 + 254114147) % 2147483647) AS mh15
         |  FROM shb GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || ',' || CAST(mh1 AS VARCHAR) || ',' || CAST(mh2 AS VARCHAR) || ',' || CAST(mh3 AS VARCHAR) AS band_sig FROM mh16 UNION ALL
         |  SELECT doc_id, 1 AS band, CAST(mh4 AS VARCHAR) || ',' || CAST(mh5 AS VARCHAR) || ',' || CAST(mh6 AS VARCHAR) || ',' || CAST(mh7 AS VARCHAR) AS band_sig FROM mh16 UNION ALL
         |  SELECT doc_id, 2 AS band, CAST(mh8 AS VARCHAR) || ',' || CAST(mh9 AS VARCHAR) || ',' || CAST(mh10 AS VARCHAR) || ',' || CAST(mh11 AS VARCHAR) AS band_sig FROM mh16 UNION ALL
         |  SELECT doc_id, 3 AS band, CAST(mh12 AS VARCHAR) || ',' || CAST(mh13 AS VARCHAR) || ',' || CAST(mh14 AS VARCHAR) || ',' || CAST(mh15 AS VARCHAR) AS band_sig FROM mh16),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM sig x JOIN sig y ON x.band = y.band AND x.band_sig = y.band_sig
         |                        AND x.doc_id < y.doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.a, c.b, count(*) AS i
         |          FROM cand c JOIN sh x ON x.doc_id = c.a
         |                      JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
         |          GROUP BY c.a, c.b)
         |SELECT a, b, round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
         |FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
         |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8""".stripMargin) { (s, d) =>
      val sh = shinglesTab(s, d)
      // ONE md5 per shingle (precomputed in the shingle table), then 16
      // Carter-Wegman hashes h_i = ((base%P)*A_i + B_i) % P as pure
      // mod-p arithmetic — overflow-free i64 in both engines, all 16
      // mins in one partial+final aggregation
      val shb = sh.withColumn("base", col("base60"))
      val mhCols = (0 until 16).map(i =>
        min(((col("base") % MinhashP) * MinhashA(i) + MinhashB(i)) % MinhashP).as(s"mh$i"))
      val mh16 = shb.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
      val bandStructs = (0 until 4).map { b =>
        struct(lit(b.toLong).as("band"),
          concat_ws(",", (0 until 4).map(r => col(s"mh${b * 4 + r}").cast("string")): _*)
            .as("band_sig"))
      }
      val sig = mh16.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
      val cand = sig.as("x").join(sig.as("y"),
          col("x.band") === col("y.band") && col("x.band_sig") === col("y.band_sig")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(sh.as("sx"), col("a") === col("sx.doc_id"))
        .join(sh.as("sy"), col("b") === col("sy.doc_id")
          && col("sy.shingle") === col("sx.shingle"))
        .groupBy("a", "b").agg(count(lit(1)).as("i"))
      val j = col("i") * lit(1.0) / (col("ca.n") + col("cb.n") - col("i"))
      inter
        .join(cnt.as("ca"), col("a") === col("ca.doc_id"))
        .join(cnt.as("cb"), col("b") === col("cb.doc_id"))
        .where(j >= 0.8)
        .select(col("a"), col("b"), round(j, 6).as("jaccard"))
    },

    // ---- Dedup: SimHash 32-bit fingerprint per doc (bit j = sign of
    // Σ_tokens tf·(2·bit_j(md5(token)) − 1)); bit j comes from the first
    // 8 md5 hex chars as a 32-bit int — integer shifts only, no float
    // round-trip (the r1 pow()/division version hash-mismatched).
    // The final CAST(... AS BIGINT) is load-bearing: DuckDB sum(BIGINT)
    // yields HUGEINT, which pandas reads as float64 and the value hash
    // then never matches Spark's int64.
    QueryDef(
      "q69_simhash",
      """WITH tok AS (
        |  SELECT doc_id, u.t AS term, count(*) AS tf
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS u(t)
        |  WHERE len(u.t) > 1 GROUP BY doc_id, u.t),
        |bits AS (
        |  SELECT doc_id, b.j,
        |    sum(tf * (2 * ((CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) >> j) % 2) - 1)) AS w
        |  FROM tok, (SELECT unnest(range(0, 32)) AS j) b
        |  GROUP BY doc_id, b.j)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin) { (s, d) =>
      // all 32 bit-weights in ONE partial+final aggregation (the r1
      // shape crossJoined a 32-row bit table → 32× the rows and an
      // extra shuffle); the oracle keeps the per-bit formulation —
      // same values, different plan
      // h = first 8 md5 hex chars as a 32-bit int, via the byte-direct
      // Md5Prefix kernel (bit-parity with the conv/substring chain
      // pinned by TextKernelsSpec; the chain allocated 3 objects per
      // distinct (doc, term) row — ~10% of this row's time, r17 lab)
      val tok = tokens(t(s, d, "documents"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("h", org.apache.spark.sql.graft.Bridge.column(
          org.apache.spark.sql.graft.Md5Prefix(
            org.apache.spark.sql.graft.Bridge.expression(col("term")), 8)))
      val wCols = (0 until 32).map(j =>
        sum(col("tf") * (lit(2) * (shiftright(col("h"), j) % 2) - 1)).as(s"w$j"))
      val sim = (0 until 32).map(j =>
        when(col(s"w$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
      tok.groupBy("doc_id").agg(wCols.head, wCols.tail: _*)
        .select(col("doc_id"), sim.as("simhash"))
    },

    // ---- Fingerprinting: winnowing (rolling word-3-gram hash +
    // window-4 min selection, the MOSS scheme) — pairs sharing ≥ 20
    // fingerprints. Guarantee: any shared run of ≥ 6 tokens
    // fingerprints. Fingerprint table materialized once per dataset
    // (index-build side); the query is a parquet scan + inverted join.
    QueryDef(
      "q72_winnowing",
      """WITH tks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 1) AS tk
        |  FROM documents),
        |hs AS (SELECT doc_id, list_transform(range(1, len(tk) - 1), i ->
        |    CAST(concat('0x', substr(md5(tk[CAST(i AS INT)] || ' ' || tk[CAST(i+1 AS INT)]
        |      || ' ' || tk[CAST(i+2 AS INT)]), 1, 15)) AS BIGINT)) AS h
        |  FROM tks WHERE len(tk) >= 3),
        |fp AS (SELECT DISTINCT doc_id, u.f AS fp FROM (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(h) - 2), j ->
        |    list_aggregate(h[CAST(j AS INT):CAST(j+3 AS INT)], 'min'))) AS fps
        |  FROM hs WHERE len(h) >= 4),
        |  unnest(fps) AS u(f))
        |SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS nshared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 20""".stripMargin) { (s, d) =>
      val fps = graft.Materialize(s, d, "winnow_fp", Seq("documents"), Some("doc_id")) {
        graft.operators.Dedup.winnowingFingerprints(t(s, d, "documents"))
      }
      graft.operators.Dedup.sharedFingerprintPairs(fps, 20)
    },

    // ---- T4: trigram similarity ranking (pg_trgm-style, the reference's
    // trigram LIKE-acceleration index re-expressed as a ranking query:
    // index/trigram/mod.rs:1-36 — char 3-grams, Jaccard to the pattern)
    QueryDef(
      "q71_trigram_similarity",
      """WITH tg AS (
        |  SELECT p_partkey, u.g AS gram FROM (
        |    SELECT p_partkey, list_distinct(list_transform(
        |      range(1, len(lower(p_name)) - 1),
        |      i -> substr(lower(p_name), CAST(i AS INT), 3))) AS grams
        |    FROM part WHERE len(p_name) >= 3) , unnest(grams) AS u(g)),
        |qg AS (SELECT DISTINCT substr('widget steel', CAST(i AS INT), 3) AS gram
        |       FROM range(1, len('widget steel') - 1) t(i)),
        |cnt AS (SELECT p_partkey, count(*) AS n FROM tg GROUP BY p_partkey),
        |qn AS (SELECT count(*) AS m FROM qg),
        |inter AS (SELECT p_partkey, count(*) AS i FROM tg JOIN qg USING (gram)
        |          GROUP BY p_partkey)
        |SELECT p_partkey, round(i * 1.0 / (n + m - i), 6) AS sim
        |FROM inter JOIN cnt USING (p_partkey) CROSS JOIN qn
        |ORDER BY sim DESC, p_partkey LIMIT 20""".stripMargin) { (s, d) =>
      val pattern = "widget steel"
      val part = t(s, d, "part").where(length(col("p_name")) >= 3)
      val tg = part.select(col("p_partkey"),
          explode(array_distinct(expr(
            "transform(sequence(1, length(lower(p_name)) - 2), i -> substring(lower(p_name), i, 3))")))
            .as("gram"))
      val qGrams = pattern.toLowerCase.sliding(3).toSeq.distinct
      val m = qGrams.size
      val cnt = tg.groupBy("p_partkey").agg(count(lit(1)).as("n"))
      val inter = tg.where(col("gram").isin(qGrams: _*))
        .groupBy("p_partkey").agg(count(lit(1)).as("i"))
      val sim = col("i") * lit(1.0) / (col("n") + lit(m) - col("i"))
      inter.join(cnt, "p_partkey")
        .select(col("p_partkey"), round(sim, 6).as("sim"))
        .orderBy(col("sim").desc, col("p_partkey")).limit(20)
    },

    // ---- Near-dup: embedding cosine pairs over label blocking (the
    // blocked all-pairs shape; blocking key bounds the quadratic term)
    QueryDef(
      "q70_embedding_neardup",
      """SELECT a.vec_id AS a, b.vec_id AS b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) AS cos_sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) > 0.4""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val a = emb.select(col("vec_id").as("a"), col("label"), col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("b"), col("label"), col("embedding").as("eb"))
      val cs = graft.functions.VectorFunctions.cosine_sim(col("ea"), col("eb"))
      a.join(b, Seq("label")).where(col("a") < col("b"))
        .withColumn("cos_sim", cs)
        .where(col("cos_sim") > 0.4)
        .select("a", "b", "cos_sim")
    },

    // ---- Decontamination: flag training documents sharing any word
    // n-gram with the held-out benchmark split (doc_id % 97 = 0 plays
    // the eval set) — the published pre-training hygiene step (GPT-3's
    // 13-gram collision scrub; 3-grams here carry the same signal on the
    // tiny-vocab synthetic corpus). Inverted gram join via
    // Dedup.contamination: the bench gram set is tiny and broadcasts;
    // never all-pairs.
    QueryDef(
      "q140_decontamination",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> len(t) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, u.g FROM (
        |    SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS gs
        |    FROM tok WHERE len(w) >= 3), unnest(gs) AS u(g))
        |SELECT t.doc_id,
        |  CAST(count(DISTINCT t.g) AS BIGINT) AS n_shared_grams,
        |  CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
        |FROM grams t JOIN grams b ON t.g = b.g
        |  AND t.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val grams = graft.operators.Dedup.wordGrams(t(s, d, "documents"), 3)
      graft.operators.Dedup.contamination(
          grams.where(col("doc_id") % 97 =!= 0),
          grams.where(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    },

    // ---- Quality: Gopher-style repetition filters (Rae et al. 2021
    // §A1.1 shape) — top-unigram mass fraction and duplicate-bigram
    // fraction per doc, with the keep/drop verdict a pipeline would
    // filter on. One explode + two partial aggs per doc; no shuffle
    // beyond the per-doc groupBy. Thresholds sit at the corpus's p75-p90
    // (top_frac ≤ 0.12, dup_bigram ≤ 0.05) so the verdict genuinely
    // splits the data. Verdicts compare the ROUNDED metrics on both
    // engines, so the boundary is hash-stable.
    QueryDef(
      "q141_quality_gopher",
      s"""WITH tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                             t -> len(t) > 0) AS w
        |  FROM documents),
        |uni AS (SELECT doc_id, u.t AS term, count(*) AS c
        |        FROM tok, unnest(w) AS u(t) GROUP BY doc_id, u.t),
        |topu AS (SELECT doc_id, ${r6Sql("max(c) * 1.0 / sum(c)")} AS top_frac
        |         FROM uni GROUP BY doc_id),
        |bi AS (SELECT doc_id, list_transform(range(1, len(w)),
        |         i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)]) AS bg
        |       FROM tok WHERE len(w) >= 2),
        |dup AS (SELECT doc_id,
        |          ${r6Sql("1.0 - len(list_distinct(bg)) * 1.0 / len(bg)")} AS dup_bigram_frac
        |        FROM bi)
        |SELECT doc_id, top_frac, dup_bigram_frac,
        |  (top_frac <= 0.12 AND dup_bigram_frac <= 0.05) AS keep
        |FROM topu JOIN dup USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = t(s, d, "documents").select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)").as("w"))
      val topu = tok.select(col("doc_id"), explode(col("w")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(r6(max(col("c")) * lit(1.0) / sum(col("c"))).as("top_frac"))
      // Spark bracket indexing is 0-based (DuckDB's is 1-based): bigram i
      // pairs w[i-1], w[i] here and w[i], w[i+1] there — same bigrams
      val dup = tok.where(size(col("w")) >= 2)
        .select(col("doc_id"), expr(
          "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i - 1], w[i]))").as("bg"))
        .select(col("doc_id"),
          r6(lit(1.0) - size(array_distinct(col("bg"))) * lit(1.0) / size(col("bg")))
            .as("dup_bigram_frac"))
      topu.join(dup, "doc_id")
        .select(col("doc_id"), col("top_frac"), col("dup_bigram_frac"),
          (col("top_frac") <= 0.12 && col("dup_bigram_frac") <= 0.05).as("keep"))
        .orderBy("doc_id")
    },

    // ---- Quality: unigram language-model score (the CCNet shape —
    // perplexity-filtering against a reference LM, here the corpus's own
    // unigram distribution): bits/token = avg −log2 p(term). Two
    // shuffles total (term df agg + per-doc agg); the term-frequency
    // table is vocabulary-sized and broadcasts at any corpus scale.
    QueryDef(
      "q143_unigram_logprob",
      s"""WITH tok AS (SELECT doc_id, u.t AS term FROM (
        |    SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                               t -> len(t) > 0) AS w
        |    FROM documents), unnest(w) AS u(t)),
        |tf AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
        |tot AS (SELECT sum(c) AS n FROM tf)
        |SELECT doc_id, ${r6Sql("avg(-log2(c * 1.0 / n))")} AS bits_per_token
        |FROM tok JOIN tf USING (term) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = t(s, d, "documents").select(col("doc_id"),
        explode(expr("filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)"))
          .as("term"))
      val tf = tok.groupBy("term").agg(count(lit(1)).as("c"))
      val tot = tf.agg(sum(col("c")).as("n"))
      tok.join(broadcast(tf), "term").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(r6(avg(-log2(col("c") * lit(1.0) / col("n")))).as("bits_per_token"))
        .orderBy("doc_id")
    },

    // ---- Mixing: deterministic per-source sampling rates (the
    // data-mixture step of a pretraining pipeline — e.g. upsample
    // curated sources, downsample crawl): keep iff
    // md5-hash(doc_id) mod 1000 < rate×1000. Hash-gated Bernoulli is
    // reproducible across engines AND across runs — no RNG state, no
    // sampleBy seed drift; the decision is a map-side filter.
    QueryDef(
      "q144_source_mixing",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS h,
        |    CASE WHEN CAST(substring(source, 4) AS INT) < 5 THEN 1000
        |         WHEN CAST(substring(source, 4) AS INT) < 10 THEN 500
        |         ELSE 200 END AS gate
        |  FROM documents)
        |WHERE h < gate ORDER BY doc_id""".stripMargin) { (s, d) =>
      val sid = substring(col("source"), 4, 10).cast("int")
      val gate = when(sid < 5, 1000).when(sid < 10, 500).otherwise(200)
      val h = hash60(col("doc_id").cast("string")) % 1000
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), h.as("h"), gate.as("gate"))
        .where(col("h") < col("gate"))
        .select("doc_id", "source").orderBy("doc_id")
    },

    // ---- Packing: greedy sequence packing into fixed token budgets
    // (the sample-packing step before pretraining): per source, docs in
    // id order accumulate BPE-ish token counts; a doc's pack is its
    // STARTING offset ÷ budget. One window per source partition — the
    // partition key is the shuffle key, packs never cross sources.
    QueryDef(
      "q145_sequence_packing",
      """SELECT doc_id, source, tok,
        |  CAST(floor(coalesce(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS pack
        |FROM (
        |  SELECT doc_id, source,
        |    len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS tok
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = size(regexp_extract_all(lower(col("text")),
        lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"), lit(0))).cast(LongType)
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "documents")
        .select(col("doc_id"), col("source"), tok.as("tok"))
        .withColumn("pack",
          floor(coalesce(sum(col("tok")).over(w), lit(0L)) / 2048).cast(LongType))
        .orderBy("doc_id")
    },

    // ---- Pipeline composition: end-to-end near-dup RETENTION — the
    // report a dedup pass actually ships: shingle Jaccard pairs →
    // connected components → keep one representative (min id) per
    // cluster → per-source kept/dropped counts. Composes q67's pair
    // join and q73's label propagation into the funnel deliverable.
    QueryDef(
      "q146_dedup_retention",
      s"""WITH RECURSIVE sh AS ($duckTokToShingles),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a, b FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
         |  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v AND e.v <> r.u),
         |clus AS (SELECT u AS doc_id, least(u, min(v)) AS cluster
         |         FROM reach GROUP BY u)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (WHERE c.cluster IS NOT NULL AND c.cluster <> d.doc_id)
         |       AS BIGINT) AS n_dropped
         |FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
      t(s, d, "documents").join(clustersTab(s, d), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("cluster").isNotNull && col("cluster") =!= col("doc_id"),
            lit(1))).as("n_dropped"))
        .orderBy("source")
    },

    // ---- Pipeline composition: the CLEANING FUNNEL — the per-source
    // report a C4/Gopher-style filtering pass ships: docs drop at the
    // FIRST failing stage (language → repetition → quality), counts per
    // stage per source. Composes the q63 stop-ratio rule, the q141
    // repetition metrics, and a chars-per-token bar; all stage
    // comparisons run on r6(metric) so the verdicts are
    // hash-stable across engines. Thresholds sit at corpus p10/p75-p90
    // so every stage genuinely fires.
    QueryDef(
      "q150_cleaning_funnel",
      s"""WITH tok AS (
        |  SELECT doc_id, source, n_chars,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> len(t) > 0) AS w
        |  FROM documents WHERE n_chars > 0),
        |m AS (
        |  SELECT doc_id, source,
        |    ${r6Sql("len(list_filter(w, t -> t IN ('the','a','of','to','and','in','is','it'))) * 1.0 / len(w)")} AS stop_ratio,
        |    ${r6Sql("n_chars * 1.0 / len(w)")} AS cpt,
        |    w
        |  FROM tok WHERE len(w) >= 2),
        |uni AS (SELECT doc_id, u.t AS term, count(*) AS c
        |        FROM m, unnest(w) AS u(t) GROUP BY doc_id, u.t),
        |topu AS (SELECT doc_id, ${r6Sql("max(c) * 1.0 / sum(c)")} AS top_frac
        |         FROM uni GROUP BY doc_id),
        |bi AS (SELECT doc_id, list_transform(range(1, len(w)),
        |         i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)]) AS bg
        |       FROM m),
        |dup AS (SELECT doc_id,
        |          ${r6Sql("1.0 - len(list_distinct(bg)) * 1.0 / len(bg)")} AS dup2
        |        FROM bi),
        |v AS (
        |  SELECT m.source,
        |    (stop_ratio < 0.015) AS fail_lang,
        |    (top_frac > 0.12 OR dup2 > 0.05) AS fail_rep,
        |    (cpt > 5.8) AS fail_q
        |  FROM m JOIN topu USING (doc_id) JOIN dup USING (doc_id))
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE fail_lang) AS BIGINT) AS n_fail_lang,
        |  CAST(count(*) FILTER (WHERE NOT fail_lang AND fail_rep) AS BIGINT) AS n_fail_rep,
        |  CAST(count(*) FILTER (WHERE NOT fail_lang AND NOT fail_rep AND fail_q) AS BIGINT) AS n_fail_quality,
        |  CAST(count(*) FILTER (WHERE NOT fail_lang AND NOT fail_rep AND NOT fail_q) AS BIGINT) AS n_kept
        |FROM v GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val stop = Seq("the", "a", "of", "to", "and", "in", "is", "it")
      val tok = t(s, d, "documents").where(col("n_chars") > 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)").as("w"))
        .where(size(col("w")) >= 2)
      val m = tok.select(col("doc_id"), col("source"), col("w"),
        r6(size(filter(col("w"), x => x.isin(stop.map(lit(_)): _*)))
          * lit(1.0) / size(col("w"))).as("stop_ratio"),
        r6(col("n_chars") * lit(1.0) / size(col("w"))).as("cpt"))
      val topu = m.select(col("doc_id"), explode(col("w")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(r6(max(col("c")) * lit(1.0) / sum(col("c"))).as("top_frac"))
      val dup = m.select(col("doc_id"), expr(
          "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i - 1], w[i]))").as("bg"))
        .select(col("doc_id"),
          r6(lit(1.0) - size(array_distinct(col("bg"))) * lit(1.0) / size(col("bg")))
            .as("dup2"))
      val v = m.join(topu, "doc_id").join(dup, "doc_id")
        .select(col("source"),
          (col("stop_ratio") < 0.015).as("fail_lang"),
          (col("top_frac") > 0.12 || col("dup2") > 0.05).as("fail_rep"),
          (col("cpt") > 5.8).as("fail_q"))
      v.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          count(when(col("fail_lang"), 1)).as("n_fail_lang"),
          count(when(!col("fail_lang") && col("fail_rep"), 1)).as("n_fail_rep"),
          count(when(!col("fail_lang") && !col("fail_rep") && col("fail_q"), 1))
            .as("n_fail_quality"),
          count(when(!col("fail_lang") && !col("fail_rep") && !col("fail_q"), 1))
            .as("n_kept"))
        .orderBy("source")
    },

    // ---- Sampling: EXACT per-source quotas (the other half of the
    // mixture step next to q144's rate-gated Bernoulli): each source
    // contributes exactly min(n, 10) docs, chosen by md5(doc_id) order —
    // deterministic across engines and runs, no RNG state. Scale shape:
    // one shuffle on the stratum key; the rank window sees only its own
    // stratum, and the quota bounds what survives — at 100 TB the
    // per-stratum sort is the standard top-k-per-group plan (window +
    // filter ≈ per-partition heaps after AQE), never a global sort.
    QueryDef(
      "q152_stratified_sample",
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          row_number().over(w).cast(LongType).as("rk"))
        .where(col("rk") <= 10)
        .orderBy("doc_id")
    },

    // ---- Keyword extraction: per-doc top-3 TF-IDF terms (tagging /
    // corpus-analysis step; sklearn-style smooth idf = ln((1+N)/(1+df))+1).
    // The ranking key is r6(score) + term so the kept set is hash-stable
    // across engines (raw f64 products may differ in the last ulp; a
    // rank flip there would swap rows, not just wiggle a value — and on
    // exact 6-dp ties Spark/DuckDB round() disagree, hence r6).
    // Scale shape: tf is a partial+final agg, df is vocabulary-sized and
    // broadcasts, the per-doc rank window sees ≤ |doc vocab| rows.
    QueryDef(
      "q153_tfidf_keywords",
      s"""WITH tok AS (SELECT doc_id, u.t AS term FROM (
        |    SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                               t -> len(t) > 0) AS w
        |    FROM documents), unnest(w) AS u(t)),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok)
        |SELECT doc_id, term, score FROM (
        |  SELECT tf.doc_id, tf.term,
        |    ${r6Sql("c * (ln((1.0 + n) / (1.0 + df)) + 1.0)")} AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY ${r6Sql("c * (ln((1.0 + n) / (1.0 + df)) + 1.0)")} DESC, tf.term) AS rk
        |  FROM tf JOIN dfq USING (term) CROSS JOIN nd)
        |WHERE rk <= 3 ORDER BY doc_id, term""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = t(s, d, "documents").select(col("doc_id"),
        explode(expr("filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)"))
          .as("term"))
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      // ONE tokenize pass: df comes from a window over tf (tf has one
      // row per (doc, term), so rows-per-term == docs-per-term) instead
      // of a groupBy+join whose branch would re-scan — the split/explode
      // subtrees never canonicalize equal (lambda variables), so
      // exchange reuse can't dedup them and every extra branch is a
      // full regex pass over the corpus, the dominant cost of tf-idf.
      val withDf = tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("term")))
      // n = docs with >=1 token == docs whose text has an alphanumeric
      // char: a per-row predicate, no second tokenize.
      val nd = t(s, d, "documents")
        .where(col("text").rlike("[a-zA-Z0-9]"))
        .agg(count(lit(1)).as("n"))
      val scored = withDf.crossJoin(broadcast(nd))
        .withColumn("score",
          r6(col("c") * (log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))) + lit(1.0))))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("score"))
        .orderBy("doc_id", "term")
    },

    // ---- Corpus diagnostics: pairwise SOURCE overlap — Jaccard over
    // each source's distinct 3-word-shingle set (the cross-source
    // contamination report a dedup pass ships next to q146's retention
    // funnel). Starts from the materialized shingle table. Scale shape:
    // the candidate join is INVERTED (keyed on shingle) — a shingle
    // appearing in s sources yields s(s-1)/2 pair increments, bounded by
    // source-count², never doc-count²; the per-source set sizes are one
    // partial+final agg. Pairs sharing zero shingles are absent on both
    // engines (inner-join semantics both sides).
    QueryDef(
      "q154_source_overlap",
      s"""WITH sh0 AS ($duckTokToShingles),
         |sh AS (SELECT DISTINCT d.source, s.shingle
         |       FROM sh0 s JOIN documents d USING (doc_id)),
         |cnt AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT x.source AS src_a, y.source AS src_b, count(*) AS i
         |          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.source < y.source
         |          GROUP BY 1, 2)
         |SELECT src_a, src_b, ${r6Sql("i * 1.0 / (ca.n + cb.n - i)")} AS jaccard
         |FROM inter JOIN cnt ca ON ca.source = src_a JOIN cnt cb ON cb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      // pair generation WITHOUT a self-join OR a separate distinct:
      // collect_set dedups inside ONE groupBy(shingle) shuffle (the old
      // shape paid a (source, shingle) distinct exchange first), then
      // in-row ordered-pair expansion (sorted set ⇒ a < b) and the pair
      // count agg. The grouped (shingle → source set) table is itself
      // MATERIALIZED per corpus stamp — it is the cross-source overlap
      // index a contamination report ships (the shinglesTab
      // discipline), so re-runs start from a scan. Per-source set sizes
      // come from the same deduped frame (explode of ≤|sources|
      // entries — tiny). Same Σ_shingle |sources|² bound as the join
      // form.
      val grouped = graft.Materialize(s, d, "src_shingles",
        Seq("documents"), Some("shingle")) {
        val docsrc = t(s, d, "documents").select(col("doc_id"), col("source"))
        shinglesTab(s, d).select(col("doc_id"), col("shingle"))
          .join(docsrc, "doc_id")
          .groupBy("shingle")
          .agg(sort_array(collect_set(col("source"))).as("ss"))
      }
      val cnt = grouped.select(explode(col("ss")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      val inter = grouped
        .where(size(col("ss")) >= 2)
        .select(explode(expr(
          """flatten(transform(ss, (a, i) ->
            |  transform(slice(ss, i + 2, size(ss)),
            |            b -> struct(a AS src_a, b AS src_b))))""".stripMargin)).as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(count(lit(1)).as("i"))
      inter.join(broadcast(cnt).as("ca"), col("src_a") === col("ca.source"))
        .join(broadcast(cnt).as("cb"), col("src_b") === col("cb.source"))
        .select(col("src_a"), col("src_b"),
          r6(col("i") * lit(1.0) / (col("ca.n") + col("cb.n") - col("i")))
            .as("jaccard"))
        .orderBy("src_a", "src_b")
    },

    // ---- Cleaning: PII redaction (the privacy pass of a pre-training
    // pipeline): a staged regexp_replace chain — emails → <EMAIL>,
    // phone-shaped runs → <PHONE>, then any leftover digit run →
    // <NUM> — over the events props payload (the corpus's only column
    // with digit/identifier shapes; stage order matters because each
    // stage must not see text a broader earlier stage already masked).
    // n_redacted counts matches per stage via regexp_extract_all (this
    // DuckDB build has no regexp_count). Scale shape: map-only — regex
    // stages fuse into one whole-stage-codegen projection, no shuffle,
    // no UDF. Beyond-reference, per the training-data-pipeline brief.
    QueryDef(
      "q157_pii_redaction",
      """SELECT event_id,
        |  regexp_replace(s2, '[0-9]+', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(s1, '\+?[0-9][0-9() .-]{6,}[0-9]'))
        |     + len(regexp_extract_all(s2, '[0-9]+')) AS BIGINT) AS n_redacted
        |FROM (
        |  SELECT event_id, props, s1,
        |    regexp_replace(s1, '\+?[0-9][0-9() .-]{6,}[0-9]', '<PHONE>', 'g') AS s2
        |  FROM (
        |    SELECT event_id, props,
        |      regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                     '<EMAIL>', 'g') AS s1
        |    FROM events))
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val phone = """\+?[0-9][0-9() .-]{6,}[0-9]"""
      val num = "[0-9]+"
      t(s, d, "events")
        .select(col("event_id"), col("props"),
          regexp_replace(col("props"), email, "<EMAIL>").as("s1"))
        .select(col("event_id"), col("props"), col("s1"),
          regexp_replace(col("s1"), phone, "<PHONE>").as("s2"))
        .select(col("event_id"),
          regexp_replace(col("s2"), num, "<NUM>").as("redacted"),
          (size(expr(s"regexp_extract_all(props, '${email.replace("\\", "\\\\")}', 0)"))
            + size(expr(s"regexp_extract_all(s1, '${phone.replace("\\", "\\\\")}', 0)"))
            + size(expr(s"regexp_extract_all(s2, '$num', 0)")))
            .cast(LongType).as("n_redacted"))
        .orderBy("event_id")
    },

    // ---- Sub-document span dedup (the CCNet paragraph-dedup shape;
    // operator: Dedup.chunkDedup): 10-word chunks, first corpus
    // occurrence wins, survivors reassemble in position order. At
    // sf0.01, 151 of 2949 chunks are corpus-duplicated, so the pin
    // exercises real drops. See the operator scaladoc for the
    // hash-keyed 100 TB variant.
    QueryDef(
      "q158_chunk_dedup",
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> len(t) > 0) AS w
        |  FROM documents),
        |ch AS (SELECT doc_id, i AS cidx,
        |         array_to_string(w[(i*10+1):(i*10+10)], ' ') AS chunk
        |       FROM tok, unnest(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS u(i)),
        |kept AS (SELECT doc_id, cidx, chunk FROM (
        |    SELECT doc_id, cidx, chunk,
        |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
        |    FROM ch) WHERE rn = 1),
        |cnt AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1),
        |ka AS (SELECT doc_id, count(*) AS n_kept,
        |         string_agg(chunk, ' ' ORDER BY cidx) AS cleaned
        |       FROM kept GROUP BY 1)
        |SELECT d.doc_id, coalesce(cnt.n_chunks, 0) AS n_chunks,
        |  coalesce(cnt.n_chunks, 0) - coalesce(ka.n_kept, 0) AS n_dropped,
        |  coalesce(ka.cleaned, '') AS cleaned
        |FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
        |  LEFT JOIN ka ON d.doc_id = ka.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      graft.operators.Dedup.chunkDedup(t(s, d, "documents"), chunkWords = 10)
        .orderBy("doc_id")
    },

    // ---- Incremental dedup (operator: Dedup.incrementalExact): the
    // production shape — a new batch (odd doc ids here) dedups against
    // the already-kept corpus (even ids) without reprocessing it. Key =
    // q66's 40-char-prefix hash. At sf0.01: 12 corpus-dups, 6
    // batch-dups, 232 of 250 kept — all three branches exercised.
    QueryDef(
      "q160_incremental_dedup",
      """WITH corpus AS (SELECT DISTINCT md5(substr(text, 1, 40)) AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |batch AS (SELECT doc_id, md5(substr(text, 1, 40)) AS h
        |  FROM documents WHERE doc_id % 2 = 1),
        |m AS (SELECT b.doc_id, (c.h IS NOT NULL) AS dup_corpus,
        |        row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rn
        |      FROM batch b LEFT JOIN corpus c ON b.h = c.h)
        |SELECT doc_id, dup_corpus, rn > 1 AS dup_batch,
        |  (NOT dup_corpus AND rn = 1) AS keep
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val key = md5(substring(col("text"), 1, 40))
      graft.operators.Dedup.incrementalExact(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0), key)
        .orderBy("doc_id")
    },

    // ---- Bloom-gated incremental dedup (lifecycle pin — the 100 TB
    // execution shape of q160: the corpus key table is too big to
    // broadcast, its Bloom filter isn't; "no" is a guaranteed miss, so
    // only "maybe" traffic reaches the exact join). The pin asserts
    // the THREE contracts that make the gate sound: (1) results are
    // row-identical to the ungated exact path; (2) the sketch has no
    // false negatives — every true corpus duplicate was gated
    // "maybe"; (3) the realized false-alarm rate on genuinely-new
    // keys stays within 5× the configured fpp (sanity, not tightness).
    QueryDef.lifecyclePin("q192_bloom_dedup",
      "SELECT CAST(1 AS INT) AS bloom_ok") { (s, d) =>
      import graft.operators.Dedup
      val docs = t(s, d, "documents")
      val key = xxhash64(substring(col("text"), 1, 40))
      val batch = docs.where(col("doc_id") % 2 === 1)
      val corpus = docs.where(col("doc_id") % 2 === 0)
      val exact = Dedup.incrementalExact(batch, corpus, key)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3))).toSet
      val gatedRows = Dedup.incrementalBloom(batch, corpus, key, fpp = 0.01)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3), r.getBoolean(4)))
      val sameResults = gatedRows.map(t4 => (t4._1, t4._2, t4._3, t4._4)).toSet == exact
      val noFalseNegatives = gatedRows.forall(r => !r._2 || r._5)
      val newRows = gatedRows.filterNot(_._2)
      val falseAlarms = newRows.count(_._5)
      val fpOk = newRows.isEmpty ||
        falseAlarms.toDouble / newRows.length <= 5 * 0.01
      val ok = sameResults && noFalseNegatives && fpOk && gatedRows.nonEmpty
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("bloom_ok"))
    },

    // ---- Exact-substring duplicate SPANS (operator:
    // Dedup.duplicateSpans — the Lee et al. 2022 suffix-array dedup
    // shape at 4-token alignment): duplicated windows merge into
    // maximal per-doc spans via gaps-and-islands. Distinct from q158's
    // fixed chunks: any alignment, true extents. At sf0.01: 369 docs
    // carry 659 spans (up to 5 per doc — the island merge is
    // exercised), 5013 dup tokens. Integer-only output; the oracle's
    // sum() casts to BIGINT (HUGEINT parity trap).
    QueryDef(
      "q178_dup_spans",
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                t -> len(t) > 0) AS w
        |  FROM documents),
        |g AS (SELECT doc_id, i AS pos, array_to_string(w[(i+1):(i+4)], ' ') AS gram
        |      FROM tok, unnest(range(0, greatest(len(w) - 3, 0))) AS u(i)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |m AS (SELECT g.doc_id, g.pos AS s, g.pos + 3 AS e FROM g JOIN dup USING (gram)),
        |o AS (SELECT doc_id, s, e,
        |        max(e) OVER (PARTITION BY doc_id ORDER BY s
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM m),
        |isl AS (SELECT doc_id, s, e,
        |        sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY s) AS island FROM o),
        |sp AS (SELECT doc_id, island, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |        CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens FROM sp GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens
        |FROM tok t LEFT JOIN agg a USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      graft.operators.Dedup.duplicateSpans(t(s, d, "documents"), n = 4)
        .orderBy("doc_id")
    },

    // ---- DSIR importance weights (operator: Dsir.importanceWeights —
    // Xie et al. 2023, deterministic ranking form): hashed
    // unigram+bigram buckets (q173's md5 convention, 4096 buckets),
    // add-one-smoothed target (lang='en') vs raw distributions,
    // per-bucket log-ratio snapped to integer micros BEFORE the
    // per-doc sum — document weights are exact BIGINT arithmetic, so
    // the cross-engine compare has no float-association surface at
    // all (the only floats are per-bucket ln's on identical inputs).
    QueryDef(
      "q179_dsir_weights",
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(w) AS gram FROM tok
        |  UNION ALL
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok)
        |),
        |occ AS (SELECT doc_id,
        |        CAST(concat('0x', substr(md5(gram),1,15)) AS BIGINT) % 4096 AS fid,
        |        count(*) AS cnt FROM g GROUP BY 1, 2),
        |b AS (SELECT fid,
        |        sum(CASE WHEN d.lang = 'en' THEN cnt ELSE 0 END) AS ct,
        |        sum(cnt) AS cr
        |      FROM occ JOIN documents d USING (doc_id) GROUP BY fid),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
        |               CAST(sum(cr) AS BIGINT) AS nr FROM b),
        |bw AS (SELECT fid,
        |        CAST(floor((ln(ct + 1.0) - ln(CAST(nt + 4096 AS DOUBLE))
        |          - ln(cr + 1.0) + ln(CAST(nr + 4096 AS DOUBLE)))
        |          * 1000000 + 0.5) AS BIGINT) AS c_micro
        |       FROM b, tot),
        |pd AS (SELECT occ.doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |         CAST(sum(cnt * c_micro) AS BIGINT) AS w_micro
        |       FROM occ JOIN bw USING (fid) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(pd.w_micro, 0) AS BIGINT) AS w_micro
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      graft.operators.Dsir.importanceWeightsFromOcc(
          t(s, d, "documents"), dsirOccTab(s, d), col("lang") === "en",
          dim = 4096)
        .orderBy("doc_id")
    },

    // ---- Corpus profile / data card (the report every curation run
    // publishes next to its output): per-source doc count, English
    // share, token volume, median doc length, mean char length — ONE
    // pass, one partial+final agg keyed by source. Float discipline:
    // median of BIGINTs interpolates to exact halves in both engines;
    // avg_chars divides an exact BIGINT sum once.
    QueryDef(
      "q181_corpus_profile",
      """WITH tok AS (SELECT doc_id, source, lang, n_chars,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        t -> len(t) > 0)) AS n_tok
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  median(n_tok) AS median_tokens,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |FROM tok GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      t(s, d, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          size(filter(split(lower(col("text")), "[^a-z0-9]+"),
            t => length(t) > 0)).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(col("n_tok")).as("total_tokens"),
          expr("percentile(n_tok, 0.5)").as("median_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("source")
    },

    // ---- RAG sliding-window chunker (operator: Chunking.slidingWindow):
    // 32-token windows, stride 16 (50% overlap), last window short, 0
    // tokens → no rows. Map-only — the whole thing fuses into one
    // codegen projection (no shuffle). Value-level incl. the
    // reassembled chunk text; at sf0.01: 500 docs → 1-6 chunks each.
    QueryDef(
      "q164_rag_chunks",
      """WITH tok AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
        |g AS (SELECT doc_id, w, n,
        |    unnest(range(0, CAST(greatest(0, ceil((n - 32) / 16.0)) AS BIGINT) + 1)) AS chunk_id
        |  FROM c)
        |SELECT doc_id, chunk_id,
        |  array_to_string(w[CAST(chunk_id * 16 + 1 AS BIGINT):CAST(chunk_id * 16 + 32 AS BIGINT)], ' ') AS chunk,
        |  len(w[CAST(chunk_id * 16 + 1 AS BIGINT):CAST(chunk_id * 16 + 32 AS BIGINT)]) AS n_tokens
        |FROM g ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      graft.operators.Chunking.slidingWindow(t(s, d, "documents"), "text",
          "doc_id", windowTokens = 32, strideTokens = 16)
        .orderBy("doc_id", "chunk_id")
    },

    // ---- BPE tokenizer TRAINING (lifecycle pin): the distributed
    // merge-learning loop (vocabulary-sized iterations, one argmax row
    // to the driver per merge) must learn EXACTLY the merge list a
    // sequential Sennrich-style replay learns on the collected word-freq
    // table, and the encode UDF must tokenize documents exactly as the
    // model's own per-word replay does. Not SQL-expressible (the merge
    // scan is sequential), so the conjunction pins as one boolean row.
    QueryDef.lifecyclePin("q172_bpe_train",
      "SELECT CAST(1 AS INT) AS bpe_ok") { (s, d) =>
      import graft.operators.Bpe
      val docs = t(s, d, "documents")
      val words = Bpe.wordFreqs(docs, "text")
      val model = Bpe.train(words, nMerges = 8)

      // sequential replay on the collected vocabulary (vocab-sized)
      val wf = words.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val replay = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var stop = false
      while (!stop && replay.length < 8) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        wf.foreach { case (w, f) =>
          val sym = Bpe.Model(replay.toSeq).tokenize(w)
          var i = 0
          while (i + 1 < sym.length) {
            val k = (sym(i), sym(i + 1))
            counts(k) = counts.getOrElse(k, 0L) + f
            i += 1
          }
        }
        if (counts.isEmpty) stop = true
        else {
          val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, a, b) }
          if (c < 2L) stop = true else replay += ((a, b))
        }
      }
      val trainOk = model.merges == replay.toSeq && model.merges.length == 8

      // encode parity: the distributed UDF path ≡ the model's own replay
      val sample = docs.where(col("doc_id") < 3).select("doc_id", "text")
      val enc = Bpe.encode(sample, "text", model)
        .select("doc_id", "tokens").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val encodeOk = sample.collect().forall { r =>
        val expect = "[^a-z0-9]+".r.split(r.getString(1).toLowerCase)
          .iterator.filter(_.nonEmpty).flatMap(model.tokenize).toSeq
        enc(r.getLong(0)) == expect
      }
      // merges actually compress: fewer tokens than characters
      val compressOk = enc.values.forall(t => t.exists(_.length > 1))
      val ok = trainOk && encodeOk && compressOk
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("bpe_ok"))
    },

    // ---- Model-based quality scoring, INFERENCE path (the score-the-
    // corpus half of the C4/FineWeb classifier step), value-level: the
    // hashing-trick features (unigram+bigram md5 mod 1024) and the
    // margin/sigmoid scoring must agree with DuckDB replaying the same
    // pipeline under the same DERIVED weight formula w(f) =
    // (f·2654435761 mod 1000)/1000 − ½ (a fixed pseudo-model: the pin
    // needs weights both engines can compute — a trained model's floats
    // can't ride static oracle SQL; training itself is q174). Margins
    // land on a 5e-4 grid, so r6 is far from every boundary.
    QueryDef(
      "q173_classifier_score",
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(w) AS gram FROM tok
        |  UNION ALL
        |  SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok)
        |),
        |f AS (SELECT doc_id,
        |        CAST(concat('0x', substr(md5(gram),1,15)) AS BIGINT) % 1024 AS fid,
        |        CAST(count(*) AS DOUBLE) AS tf
        |      FROM g GROUP BY doc_id, fid),
        |sc AS (SELECT doc_id, floor(sum(tf * (((fid * 2654435761) % 1000)/1000.0 - 0.5)) * 1000000 + 0.5)/1000000.0 AS margin
        |       FROM f GROUP BY doc_id)
        |SELECT doc_id, margin,
        |  floor((1.0/(1.0 + exp(-margin))) * 1000000 + 0.5)/1000000.0 AS prob
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.operators.Classifier
      val weights = s.range(1024).select(col("id").as("fid"),
        (((col("id") * 2654435761L) % 1000) / 1000.0 - 0.5).as("w"))
      Classifier.scoreText(t(s, d, "documents"), "text", "doc_id",
          weights, bias = 0.0, dim = 1024)
        .orderBy("doc_id")
    },

    // ---- Classifier TRAINING (lifecycle pin): distributed full-batch
    // logistic GD (weights broadcast, two aggs + dim+1 driver numbers
    // per iteration) must reproduce a sequential replay on the
    // collected features to within ONE r6 grid step per coordinate —
    // the q161 k-means rounding discipline; a sum that lands within an
    // ulp of a 0.5e-6 boundary can round either way between the
    // distributed and sequential sum orders (measured: exactly one of
    // 256 coordinates at sf0.01), while any LOGIC divergence is ~1e-3
    // scale — and the trained model must actually separate the classes
    // it was fit on (mean P(en) > mean P(¬en)).
    QueryDef.lifecyclePin("q174_classifier_train",
      "SELECT CAST(1 AS INT) AS train_ok") { (s, d) =>
      import graft.operators.Classifier
      val dim = 256
      val docs = t(s, d, "documents")
      val feats = Classifier.hashedFeatures(docs, "text", "doc_id", dim)
        .localCheckpoint(true)
      val labels = docs.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      val model = Classifier.train(feats, labels, "doc_id", dim,
        iters = 3, lr = 0.5)

      // sequential-equivalence check on a BOUNDED subset: train the
      // same GD distributed on ≤1000 docs and replay it driver-side.
      // At the sf0.01 correctness gate the cap exceeds the corpus, so
      // the gate still replays EVERY document; at scale the collect
      // stays driver-sized (the equivalence property is
      // scale-invariant — an unbounded feats.collect() here was the
      // one collect in the repo that grew with the corpus). The cap is
      // the 1000th-smallest ACTUAL doc id — a fixed `< 1000` assumed
      // dense low ids and went vacuously green (empty vs empty) on any
      // corpus whose ids start higher
      val capRow = labels.select(col("doc_id")).orderBy("doc_id")
        .limit(1000).agg(max("doc_id")).collect()
      require(capRow.nonEmpty && !capRow(0).isNullAt(0),
        "sequential-equivalence subset is empty: no labeled documents")
      val idCap = capRow(0).getLong(0)
      val subFeats = feats.where(col("doc_id") <= idCap)
      val subLabels = labels.where(col("doc_id") <= idCap)
      val subModel = Classifier.train(subFeats, subLabels, "doc_id", dim,
        iters = 3, lr = 0.5)

      // sequential replay on the collected subset, same rounding grid
      def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      val f = subFeats.collect().map(r => (r.getLong(0), r.getLong(1).toInt,
        r.getDouble(2)))
      val ys = subLabels.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val n = ys.size.toDouble
      var w = IndexedSeq.fill(dim)(0.0)
      var b = 0.0
      (1 to 3).foreach { _ =>
        val m = f.groupBy(_._1).map { case (id, rows) =>
          id -> r6d(rows.map { case (_, fid, tf) => tf * w(fid) }.sum)
        }
        val r = m.map { case (id, mm) =>
          id -> r6d(1.0 / (1.0 + math.exp(-(mm + b))) - ys(id))
        }
        val g = f.groupBy(_._2).map { case (fid, rows) =>
          fid -> r6d(rows.map { case (id, _, tf) => tf * r(id) }.sum / n)
        }
        val bg = r6d(r.values.sum / n)
        w = w.indices.map(fid => r6d(w(fid) - 0.5 * g.getOrElse(fid, 0.0)))
        b = r6d(b - 0.5 * bg)
      }
      val trainOk = subModel.weights.zip(w).forall {
        case (a, c) => math.abs(a - c) <= 1.01e-6
      } && math.abs(subModel.bias - b) <= 1.01e-6

      // the model separates its own classes
      val scored = Classifier.score(feats,
          Classifier.weightsFrame(s, model), model.bias, "doc_id")
        .join(labels, "doc_id")
        .groupBy("y").agg(avg("prob").as("p"))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val sepOk = scored(1.0) > scored(0.0)
      org.apache.spark.sql.graft.CheckpointBlocks.unpersist(feats)
      val ok = trainOk && sepOk
      s.range(1).select(lit(if (ok) 1 else 0).cast("int").as("train_ok"))
    },

    // ---- Streaming quality gate (lifecycle pin): the batch-trained
    // quality classifier scores a live STREAM micro-batch by
    // micro-batch with labels identical to batch scoring — the q165
    // train-once/score-forever contract for the LEARNED filter.
    // Classifier.scoreText is one map-stage projection (weights ride
    // as a dense array literal, margin = per-row aggregate over the
    // gram array — no shuffle, no state), so append mode needs no
    // watermark and composes with any Structured Streaming source;
    // this is the shape a production ingest gate runs.
    QueryDef.lifecyclePin("q191_streaming_classify",
      "SELECT CAST(1 AS INT) AS stream_classify_ok") { (s, d) =>
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.operators.Classifier
      val dim = 256
      val docs = t(s, d, "documents").where(col("doc_id") < 200)
      val feats = Classifier.hashedFeatures(docs, "text", "doc_id", dim)
        .localCheckpoint(true)
      val labels = docs.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      val model = Classifier.train(feats, labels, "doc_id", dim,
        iters = 2, lr = 0.5)
      org.apache.spark.sql.graft.CheckpointBlocks.unpersist(feats)
      val w = Classifier.weightsFrame(s, model)
      val batch = Classifier.scoreText(docs, "text", "doc_id", w, model.bias, dim)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = MemoryStream[(Long, String)]
      val qn = s"q191_gate_${System.nanoTime()}"
      val q = Classifier.scoreText(mem.toDF().toDF("doc_id", "text"),
          "text", "doc_id", w, model.bias, dim)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      val ok = try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        mem.addData(b1.toSeq: _*)
        q.processAllAvailable()
        mem.addData(b2.toSeq: _*)
        q.processAllAvailable()
        val got = s.table(qn).collect()
          .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
        got == batch && got.nonEmpty
      } finally { q.stop(); s.catalog.dropTempView(qn) }
      s.range(1).select(lit(if (ok) 1 else 0).cast("int")
        .as("stream_classify_ok"))
    },

    // ---- Bigram LM perplexity with backoff (between q143's unigram LM
    // and CCNet's 5-gram KenLM): the model — bigram/unigram counts —
    // builds from the EVEN doc_ids and scores the held-out ODD docs, so
    // unseen bigrams and unseen words genuinely exercise the smoothing:
    // p(w2|w1) = (c2 + 0.4·p1(w2)) / (c1(w1) + 0.4), with Laplace
    // unigrams p1(w) = (c1(w)+1)/(n+V+1) keeping every p > 0. Scale
    // shape: bigrams are one lead-window per doc (shuffle on doc_id),
    // count tables are vocabulary-sized term-keyed joins (the BM25
    // class — broadcast here, shuffle joins at corpus scale), scoring
    // is one per-doc agg. bits = avg(−log2 p), r6 on the final avg.
    QueryDef(
      "q175_bigram_lm",
      """WITH tokall AS (SELECT doc_id, unnest(w) AS term, generate_subscripts(w, 1) AS pos FROM (
        |    SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS w
        |    FROM documents)),
        |mtok AS (SELECT * FROM tokall WHERE doc_id % 2 = 0),
        |c1 AS (SELECT term, count(*) AS c FROM mtok GROUP BY term),
        |tot AS (SELECT sum(c) AS n, count(*) AS v FROM c1),
        |bg AS (SELECT doc_id, term AS w1,
        |         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |       FROM tokall WHERE doc_id % 2 = 1),
        |bgx AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM (
        |        SELECT doc_id, term AS w1, lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |        FROM mtok) WHERE w2 IS NOT NULL GROUP BY w1, w2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor(avg(-log2( (coalesce(c2.c, 0) + 0.4 * ((coalesce(u.c, 0) + 1.0) / (tot.n + tot.v + 1.0)))
        |                   / (coalesce(p.c, 0) + 0.4) )) * 1000000 + 0.5)/1000000.0 AS bits
        |FROM bgx
        |  LEFT JOIN c2 ON c2.w1 = bgx.w1 AND c2.w2 = bgx.w2
        |  LEFT JOIN c1 p ON p.term = bgx.w1
        |  LEFT JOIN c1 u ON u.term = bgx.w2
        |  CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // bigrams come straight off the per-doc token ARRAY (adjacent
      // pairs via a transform + explode) — the r11 shape posexploded to
      // a row stream and ran a doc-partitioned lead window over it,
      // paying TWO full window shuffles of the corpus token stream for
      // what is a map-only projection (same bigram multiset: lead over
      // pos ordering ≡ adjacency in the array)
      val docsTok = t(s, d, "documents").select(col("doc_id"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), t -> length(t) > 0)")
          .as("w"))
      val mtokW = docsTok.where(col("doc_id") % 2 === 0)
      def bigrams(df: DataFrame): DataFrame =
        df.where(size(col("w")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))"))
            .as("bg"))
          .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      // the trained LM (unigram counts, bigram counts, totals) is a
      // corpus-stamped MODEL artifact — materialized once like the dedup
      // shingles; scoring passes read three small parquets instead of
      // re-counting the training half per execution
      val c1 = graft.Materialize(s, d, "lm2_unigrams", Seq("documents"),
        Some("term")) {
        mtokW.select(explode(col("w")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c"))
      }
      val tot = graft.Materialize(s, d, "lm2_totals", Seq("documents"), None) {
        c1.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
      }
      val c2 = graft.Materialize(s, d, "lm2_bigrams", Seq("documents"),
        Some("w1")) {
        bigrams(mtokW).groupBy("w1", "w2").agg(count(lit(1)).as("c2c"))
      }
      val p1 = (coalesce(col("uc"), lit(0L)) + 1.0) /
        (col("n") + col("v") + 1.0)
      bigrams(docsTok.where(col("doc_id") % 2 === 1))
        .join(broadcast(c2), Seq("w1", "w2"), "left")
        .join(broadcast(c1.select(col("term").as("w1"), col("c").as("pc"))),
          Seq("w1"), "left")
        .join(broadcast(c1.select(col("term").as("w2"), col("c").as("uc"))),
          Seq("w2"), "left")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          r6(avg(-log2(
            (coalesce(col("c2c"), lit(0L)) + lit(0.4) * p1) /
              (coalesce(col("pc"), lit(0L)) + 0.4)))).as("bits"))
        .orderBy("doc_id")
    },

    // ---- Cleaning: boilerplate n-gram report (the RefinedWeb/CCNet
    // line-dedup step re-scoped to this corpus's shape): a 3-gram is
    // "boilerplate" within its SOURCE when it recurs across ≥2 distinct
    // docs of that source — in a web corpus the unit is the line and
    // the scope the domain (nav bars, cookie banners); the synthetic
    // docs have no newlines, so the shingle is the repetition unit and
    // the source the scope. Per doc: distinct-gram count, boilerplate
    // count, fraction (the filter key a cleaning pass thresholds on).
    // Scale shape: starts from the MATERIALIZED shingle table; df rides
    // a (source, shingle) window over the one derived frame (no second
    // tokenize — the q153 discipline), the per-doc report is one
    // partial+final agg, and nothing is doc²: a gram seen in s docs
    // costs s rows, never s².
    QueryDef(
      "q184_boilerplate_ngrams",
      s"""WITH sh0 AS ($duckTokToShingles),
         |sh AS (SELECT s.doc_id, d.source, s.shingle
         |       FROM sh0 s JOIN documents d USING (doc_id)),
         |df AS (SELECT source, shingle, count(*) AS df FROM sh GROUP BY 1, 2),
         |per AS (SELECT s.doc_id, count(*) AS n_grams,
         |    count(CASE WHEN f.df >= 2 THEN 1 END) AS n_boiler
         |  FROM sh s JOIN df f ON f.source = s.source AND f.shingle = s.shingle
         |  GROUP BY 1)
         |SELECT d.doc_id, d.source,
         |  CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(p.n_boiler, 0) AS BIGINT) AS n_boiler,
         |  ${r6Sql("coalesce(p.n_boiler, 0) * 1.0 / greatest(coalesce(p.n_grams, 0), 1)")} AS boiler_frac
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docsrc = t(s, d, "documents").select(col("doc_id"), col("source"))
      val sh = shinglesTab(s, d).select(col("doc_id"), col("shingle"))
        .join(docsrc, "doc_id")
      // shingles are DISTINCT per doc, so count-per-(source, shingle)
      // IS the within-source document frequency
      val withDf = sh.withColumn("df",
        count(lit(1)).over(Window.partitionBy("source", "shingle")))
      val per = withDf.groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        count(when(col("df") >= 2, 1)).as("n_boiler"))
      t(s, d, "documents").select(col("doc_id"), col("source"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          r6(coalesce(col("n_boiler"), lit(0L)) * lit(1.0) /
            greatest(coalesce(col("n_grams"), lit(0L)), lit(1L))).as("boiler_frac"))
        .orderBy("doc_id")
    },

    // ---- Mixture monitoring: per-source unigram KL divergence vs the
    // corpus distribution — KL(P_src ‖ P_corpus) = Σ_t p·ln(p/q), the
    // drift report a mixing pass (q144/q152) watches to catch a source
    // whose token distribution wanders from the blend it was weighted
    // for. q ≥ p·(n_src/n_corpus) > 0 by construction (every source
    // term is a corpus term), so the log never sees zero.
    // Determinism: counts are exact integers; each (source, term)
    // contribution is a few scalar IEEE double ops on those integers
    // (identical in any engine) snapped to integer NANOS before the
    // per-source sum — the q179/q183 idiom — so the sum is exact
    // BIGINT arithmetic under any aggregation order. floor (not round)
    // dodges the half-up/half-even engine split.
    // Scale shape: ONE tokenize pass into a (source, term) count — the
    // only corpus-sized shuffle; the count frame is source×vocab-sized
    // and localCheckpoints so the totals branches (per-source, per-term,
    // corpus) re-read cached blocks instead of re-running the regex
    // explode (the q153 one-tokenize-pass discipline, via checkpoint
    // because THREE branches need the frame); those totals broadcast
    // back onto it.
    QueryDef(
      "q185_source_kl",
      """WITH tok AS (SELECT d.source, u.t AS term
        |  FROM documents d, unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(t)
        |  WHERE len(u.t) > 1),
        |sc AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sc GROUP BY 1),
        |ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS cc FROM sc GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM sc),
        |contrib AS (SELECT sc.source,
        |    CAST(floor((sc.c * 1.0 / st.n)
        |      * ln((sc.c * 1.0 / st.n) / (ct.cc * 1.0 / tot.nn))
        |      * 1000000000 + 0.5) AS BIGINT) AS nanos
        |  FROM sc JOIN st USING (source) JOIN ct USING (term) CROSS JOIN tot)
        |SELECT c.source, st.n AS n_tokens,
        |  CAST(sum(c.nanos) AS BIGINT) / 1000000000.0 AS kl_nats
        |FROM contrib c JOIN st ON st.source = c.source
        |GROUP BY c.source, st.n ORDER BY c.source""".stripMargin) { (s, d) =>
      val tok = t(s, d, "documents").select(col("source"),
        explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
          t => length(t) > 1)).as("term"))
      val sc0 = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val st = sc0.groupBy("source").agg(sum("c").as("n"))
      val ct = sc0.groupBy("term").agg(sum("c").as("cc"))
      val tot = sc0.agg(sum("c").as("nn"))
      val contrib = sc0
        .join(broadcast(st), "source")
        .join(broadcast(ct), "term")
        .crossJoin(broadcast(tot))
        .withColumn("p", col("c") * lit(1.0) / col("n"))
        .withColumn("q", col("cc") * lit(1.0) / col("nn"))
        .withColumn("nanos",
          floor(col("p") * log(col("p") / col("q")) * lit(1000000000L) + lit(0.5))
            .cast(LongType))
      contrib.groupBy("source")
        .agg(sum("nanos").as("m"), first(col("n")).as("n_tokens"))
        .select(col("source"), col("n_tokens"),
          (col("m") / lit(1000000000.0)).as("kl_nats"))
        .orderBy("source")
    },

    // ---- Mixture planning: the temperature-reweighted source blend
    // (the "mixing card" a pre-training run is configured from, τ = 0.5
    // — the multilingual-sampling standard that upsamples small
    // sources): per source, raw token share → sqrt-tempered weight →
    // planned tokens out of a 1M-token budget → implied epochs over the
    // source (>1e4 in epochs_e4 means the plan re-reads that source).
    // τ = 0.5 makes the tempering an IEEE sqrt — exact in any engine,
    // unlike a general pow — and the weight NORMALIZATION (the one
    // cross-source float sum) snaps each weight to integer PICOS first
    // (the q179/q185 idiom), so the sum is exact BIGINT arithmetic
    // under any aggregation order; everything downstream divides those
    // exact integers. Scale shape: one tokenize pass into per-source
    // counts (the only corpus-sized work); the 20-row plan math is
    // driver-trivial but stays declarative.
    QueryDef(
      "q188_mixture_plan",
      """WITH tok AS (SELECT d.source, u.t AS term
        |  FROM documents d, unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(t)
        |  WHERE len(u.t) > 1),
        |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM st),
        |w AS (SELECT source, n,
        |    CAST(floor(sqrt(n * 1.0 / tot.nn) * 1000000000000 + 0.5) AS BIGINT) AS wp
        |  FROM st CROSS JOIN tot),
        |tw AS (SELECT CAST(sum(wp) AS BIGINT) AS t FROM w)
        |SELECT source, n AS n_tokens, wp AS weight_e12,
        |  CAST(floor(wp * 1.0 / tw.t * 1000000 + 0.5) AS BIGINT) AS planned_tokens,
        |  CAST(floor((wp * 1.0 / tw.t * 1000000) / n * 10000 + 0.5) AS BIGINT) AS epochs_e4
        |FROM w CROSS JOIN tw ORDER BY source""".stripMargin) { (s, d) =>
      val tok = t(s, d, "documents").select(col("source"),
        explode(filter(split(lower(col("text")), "[^a-z0-9]+"),
          t => length(t) > 1)).as("term"))
      val st = tok.groupBy("source").agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // 20 rows; both branches below reuse it
      val tot = st.agg(sum("n").as("nn"))
      val w = st.crossJoin(broadcast(tot))
        .withColumn("wp",
          floor(sqrt(col("n") * lit(1.0) / col("nn")) * lit(1000000000000L) + lit(0.5))
            .cast(LongType))
      val tw = w.agg(sum("wp").as("t"))
      w.crossJoin(broadcast(tw))
        .select(col("source"), col("n").as("n_tokens"), col("wp").as("weight_e12"),
          floor(col("wp") * lit(1.0) / col("t") * lit(1000000L) + lit(0.5))
            .cast(LongType).as("planned_tokens"),
          floor((col("wp") * lit(1.0) / col("t") * lit(1000000L)) / col("n")
            * lit(10000L) + lit(0.5)).cast(LongType).as("epochs_e4"))
        .orderBy("source")
    }
  )

  /** DuckDB shingle CTE body reused by q67/q68. */
  private lazy val duckTokToShingles: String =
    duckShingles.replace("\n", "\n  ")
}
