package graft.velesql

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Collection catalog: name → DataFrame + the metadata the reference keeps
  * in each collection's config.json (dimension, metric, id column —
  * reference: crates/velesdb-core/src/lib.rs:230-306,
  * collection/types.rs:32-61).
  *
  * `MetadataOnly` collections are plain tables; `Vector` collections name
  * their vector column + metric; `Graph` collections add an edges frame.
  */
final case class CollectionMeta(
    idCol: String = "id",
    vectorCol: Option[String] = None,
    metric: String = "cosine",
    textCol: Option[String] = None,
    // per-collection quantization regime fixed at create time
    // (StorageMode, collection/types.rs:32-61): the default WITH
    // quantization for NEAR on this collection; "full"/None = exact
    storageMode: Option[String] = None)

object Catalog {
  /** Testdata collection registry: every driver table, with vector/text
    * metadata where the table carries embeddings or documents. */
  val builtins: Map[String, CollectionMeta] = Map(
    "embeddings" -> CollectionMeta("vec_id", Some("embedding"), "cosine"),
    "documents" -> CollectionMeta("doc_id", None, "cosine", Some("text")),
    "events" -> CollectionMeta("event_id"),
    "orders" -> CollectionMeta("o_orderkey"),
    "lineitem" -> CollectionMeta("l_orderkey"),
    "customer" -> CollectionMeta("c_custkey"),
    "supplier" -> CollectionMeta("s_suppkey"),
    "part" -> CollectionMeta("p_partkey"),
    "nation" -> CollectionMeta("n_nationkey"),
    "region" -> CollectionMeta("r_regionkey"),
    // derived multi-modal collection: text + vector on one table (the
    // reference's Collection bundles both — collection/types.rs:132-165)
    "corpus" -> CollectionMeta("doc_id", Some("embedding"), "cosine", Some("text")),
    // derived 128-dim collection (embedding ∥ embedding): exercises the
    // multi-word binary sketch path (real embeddings are 768+ dims)
    "embeddings_wide" -> CollectionMeta("vec_id", Some("embedding"), "cosine"))
}

class Catalog(spark: SparkSession, val dir: String) {

  val meta: Map[String, CollectionMeta] = Catalog.builtins

  /** User-created collections ([[graft.Collections]] sidecar dirs) are
    * first-class VelesQL targets: the reference's `db.get_collection(n)
    * .execute_query(…)` flow (lib.rs:230-346) maps to `Graft.sql` over
    * any collection created through the CRUD API. */
  private lazy val userCollections = new graft.Collections(spark, dir)

  /** Backing parquet of a built-in meta name (derived tables map to
    * their source files). */
  private def builtinSources(name: String): Seq[java.nio.file.Path] = {
    val srcs = name match {
      case "corpus" => Seq("documents", "embeddings")
      case "embeddings_wide" => Seq("embeddings")
      case other => Seq(other)
    }
    srcs.map(t => java.nio.file.Paths.get(s"$dir/$t.parquet"))
  }

  def exists(name: String): Boolean =
    // a built-in name only exists when its parquet is actually there —
    // a collections-only data dir used to list ten phantom tables and
    // then die in the listing stamp instead of 404ing (r15 review)
    (meta.contains(name) &&
      builtinSources(name).forall(java.nio.file.Files.exists(_))) ||
      userCollections.exists(name)

  def table(name: String): DataFrame =
    if (!meta.contains(name) && userCollections.exists(name))
      userCollections.table(name).getOrElse {
        // created but never written: synthesize an empty frame with the
        // DECLARED schema (id + vector from the meta sidecar) so queries
        // that reference those columns return zero rows — the reference's
        // empty collection behaves this way (crud.rs: empty store) — not
        // an unresolved-column analysis error.
        // Type assumption (r4 ADVICE, accepted): ids are LongType and
        // vectors ArrayType(FloatType) — the reference's point model is
        // exactly u64 id + Vec<f32> (types.rs:75-82), so a first write
        // can't legitimately change these; payload columns are unknowable
        // until the first write and still fail analysis by design
        import org.apache.spark.sql.types._
        val (idCol, vecCol, _) = userCollections.metaOf(name)
        val fields = StructField(idCol, LongType) +:
          vecCol.map(v => StructField(v, ArrayType(FloatType))).toSeq
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(fields))
      }
    else if (name == "corpus") {
      // materialized once per dataset dir: hybrid queries touch corpus
      // several times per plan (base + vector leg + text leg)
      graft.Materialize(spark, dir, "corpus",
        Seq("documents", "embeddings"), Some("doc_id")) {
        val d = Tables.table(spark, dir, "documents")
        val e = Tables.table(spark, dir, "embeddings")
        d.join(e, d("doc_id") === e("vec_id")).drop("vec_id")
      }
    } else if (name == "embeddings_wide") {
      val e = Tables.table(spark, dir, "embeddings")
      e.select(col("vec_id"), col("label"),
        concat(col("embedding"), col("embedding")).as("embedding"))
    } else Tables.table(spark, dir, name)

  /** The source every ANN tier builds over ([[graft.IndexSource]]):
    * a dataset table is one piece stamped on its parquet file; a USER
    * collection keeps its artifacts in its own subtree, freezes its
    * models per index epoch and carries one piece per base dir and
    * delta segment — the next indexed query after a write builds only
    * that write's delta piece (the reference's insert-time index update,
    * index/hnsw/native_index.rs:317, re-expressed as build-on-read).
    * None for derived frames (corpus, embeddings_wide) and never-written
    * collections — callers fall back to on-the-fly filtering or fail
    * with their own message. */
  def indexSource(name: String): Option[graft.IndexSource] =
    if (meta.contains(name))
      if (Tables.All.contains(name)) Some(graft.IndexSource.table(spark, dir, name))
      else None // derived frames: no stable file to stamp
    else if (userCollections.exists(name))
      userCollections.pointsRealPath(name).map(_ =>
        graft.IndexSource(userCollections.indexKeys(name),
          userCollections.pieces(name), () => table(name)))
    else None

  def metaOf(name: String): CollectionMeta =
    meta.getOrElse(name,
      if (userCollections.exists(name)) {
        val (idCol, vecCol, metric) = userCollections.metaOf(name)
        CollectionMeta(idCol, vecCol, metric,
          storageMode = userCollections.storageModeOf(name))
      } else CollectionMeta())

  /** Graph node table for MATCH queries: typed nodes from the derived
    * customer→order→part→supplier graph, materialized once per dataset
    * dir ([[Graph.nodes]]). */
  lazy val graphNodes: DataFrame = Graph.nodes(spark, dir)

  lazy val graphEdges: DataFrame = Graph.edges(spark, dir)

  /** A catalog whose MATCH graph is a USER collection's own mutable edge
    * store (graph_api.rs:40-107) instead of the derived dataset graph:
    * nodes = the collection's points (id + `labels` payload column when
    * present, else the `Point` label), edges = its [[graft.Collections
    * .upsertEdges]] frame. Non-user collections fall through to `this` —
    * the derived graph stays the default surface. */
  def scopedToGraph(name: String): Catalog = {
    if (!userCollections.exists(name)) return this
    val uc = userCollections
    val (idCol, _, _) = uc.metaOf(name)
    new Catalog(spark, dir) {
      override lazy val graphNodes: DataFrame = {
        // read inside the LAZY override: edge-only routes (degree,
        // traverse, node edge listing) never touch the points frame
        val pts = table(name) // includes the empty-with-declared-schema case
        val withId = if (idCol == "id") pts else pts.withColumnRenamed(idCol, "id")
        withId.schema.find(_.name == "labels").map(_.dataType) match {
          // payload labels may arrive as an array OR a scalar (read.json
          // infers a bare string payload as StringType — casting that to
          // array<string> is an AnalysisException, not a graph)
          case Some(_: org.apache.spark.sql.types.ArrayType) =>
            withId.withColumn("labels", col("labels").cast("array<string>"))
          case Some(_) =>
            withId.withColumn("labels", array(col("labels").cast("string")))
          case None => withId.withColumn("labels", array(lit("Point")))
        }
      }
      override lazy val graphEdges: DataFrame =
        uc.edges(name).getOrElse {
          import org.apache.spark.sql.types._
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("id", LongType), StructField("src", LongType),
              StructField("dst", LongType), StructField("label", StringType))))
        }
    }
  }
}
