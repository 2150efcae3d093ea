package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Path, Paths}

/** What every ANN tier (LSH buckets, IVF cells, IVF-PQ codes, the HNSW
  * router and graphs) builds over: one source, one maintenance route
  * ([[Materialize.pieces]]).
  *
  * @param token  the `graft-derived` cache identity (the dataset dir, or
  *               a collection's identity)
  * @param name   the table or collection name, part of every artifact's
  *               kind, so two vector tables under one token never share
  *               a generation-pruning prefix
  * @param stamp  the content stamp: files whose listing changes on every
  *               write (a dataset table's parquet, a collection's current
  *               points manifest) — keys the per-content memos (corpus
  *               count, HNSW cell hashes)
  * @param model  the stamp of TRAINED models (IVF centroids, PQ
  *               codebooks): a collection's index-epoch sidecar
  *               ([[Collections.indexEpoch]]), so models freeze across
  *               writes and a write encodes only its own delta; a dataset
  *               table, whose content never changes without a full
  *               regeneration, uses its own stamp
  * @param pieces the immutable piece dirs the encodings cache per, each
  *               tagged with its segment, and the visibility rule a reader
  *               of their artifacts applies — zero pieces is an empty
  *               index; every missing piece builds in one Spark job and
  *               the index reads as one scan
  * @param frame  the source's rows, the training input of the models
  */
final case class IndexSource(token: String, name: String, stamp: Seq[Path],
    model: Seq[Path], pieces: Collections.Pieces, frame: () => DataFrame)

object IndexSource {

  /** A dataset-dir table as an index source: one base piece (the
    * table's parquet file, nothing hidden) read under the raw file's schema,
    * with the model stamped on the same file. */
  def table(spark: SparkSession, dir: String, table: String): IndexSource = {
    val file = Paths.get(s"$dir/$table.parquet")
    val idCol = velesql.Catalog.builtins.get(table).fold("id")(_.idCol)
    // the footer-schema read is a Spark job: once per file stamp per JVM
    val schema = Materialize.memo(s"rawschema_$table", dir, Seq(file)) {
      spark.read.parquet(file.toString).schema
    }
    IndexSource(dir, table, Seq(file), Seq(file),
      Collections.Pieces(Seq(Collections.Piece(0, file, -1)), schema, idCol,
        Collections.Visibility(IndexedSeq.empty)),
      () => Tables.table(spark, dir, table))
  }
}
