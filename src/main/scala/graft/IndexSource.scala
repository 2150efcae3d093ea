package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Path, Paths}

/** What every ANN tier (LSH buckets, IVF cells, IVF-PQ codes) builds
  * over: one source, one maintenance route ([[Materialize.pieces]]).
  *
  * @param keys   where the source's artifacts live and what names them
  * @param pieces the immutable piece dirs the encodings cache per, each
  *               tagged with its segment, and the visibility rule a reader
  *               of their artifacts applies — zero pieces is an empty
  *               index; every missing piece builds in one Spark job and
  *               the index reads as one scan
  * @param frame  the source's rows, the training input of the models
  */
final case class IndexSource(keys: IndexSource.Keys, pieces: Collections.Pieces,
    frame: () => DataFrame) {

  /** The `tier` index, one artifact per piece; a `trained` piece is
    * encoded against, and keyed by, the source's models. */
  def index(spark: SparkSession, tier: String, trained: Boolean, partCol: Option[String])(
      build: DataFrame => DataFrame): DataFrame =
    Materialize.pieces(spark, pieces, keys.piece(tier, _, trained), partCol)(build)

  /** Trained model `tier` (IVF centroids, PQ codebooks): built once at
    * its key, collected once per key per JVM. */
  def model[T](spark: SparkSession, tier: String)(build: => DataFrame)(
      collect: DataFrame => T): T =
    keys.memo(tier)(collect(Materialize.at(spark, keys.model(tier), None)(build)))
}

object IndexSource {

  /** The artifact dirs of one source: one per trained model `tier`, one
    * per (tier, piece), and a driver memo per model ([[Materialize.memoAt]]). */
  sealed trait Keys {
    def model(tier: String): Path
    def piece(tier: String, p: Collections.Piece, trained: Boolean): Path
    def memo[T](tier: String)(f: => T): T
  }

  /** A dataset table's keys: flat-root dirs of `token` (the dataset dir)
    * whose kind names the tier, piece and `table`, stamped by their files'
    * listing ([[Materialize.shared]]); models are stamped by `stamp`, the
    * table's own file. */
  final case class Shared(token: String, table: String, stamp: Seq[Path]) extends Keys {
    def model(tier: String): Path = Materialize.shared(s"${tier}_$table", token, stamp)
    def piece(tier: String, p: Collections.Piece, trained: Boolean): Path =
      Materialize.shared(s"${tier}_p${p.index}_$table", token,
        (p.dir +: (if (trained) stamp else Nil)).distinct)
    def memo[T](tier: String)(f: => T): T = Materialize.memo(s"${tier}_$table", token, stamp)(f)
  }

  /** A user collection's keys: dirs of its own subtree `home`. A model is
    * `<tier>.e<epoch>-<born>`: by the index `epoch` ([[Collections.indexEpoch]])
    * it freezes across writes; by the creation time `born` a collection
    * re-created under its name never meets the old one's models or memo.
    * A piece artifact adds its immutable piece dir, relative to the
    * collection dir `dir`: `<tier>.e<epoch>-<born>.<piece>` when trained,
    * `<tier>.p.<piece>` when not ([[Materialize.gcOwned]]). */
  final case class Owned(home: Path, dir: Path, epoch: Long, born: Long) extends Keys {
    private def mark(trained: Boolean) = if (trained) s"e$epoch-$born" else "p"
    def model(tier: String): Path = home.resolve(s"$tier.${mark(true)}")
    def piece(tier: String, p: Collections.Piece, trained: Boolean): Path =
      home.resolve(s"$tier.${mark(trained)}." + Materialize.tokenKey(dir.relativize(p.dir).toString))
    def memo[T](tier: String)(f: => T): T =
      Materialize.memoAt(home.resolve(tier).toString, model(tier).toString)(f)
  }

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
    IndexSource(Shared(dir, table, Seq(file)),
      Collections.Pieces(Seq(Collections.Piece(0, file, -1)), schema, idCol,
        Collections.Visibility(IndexedSeq.empty)),
      () => Tables.table(spark, dir, table))
  }
}
