package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending,
  GenericInternalRow, GetMapValue, InSet, Literal, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DataType, DoubleType, MapType, StructField, StructType}

/** The Spark side of driver-side rank fusion ([[graft.operators.Fusion]]):
  * collect the top-k (id, score) rows of several scores over ONE frame in
  * one job, order candidate rows as Spark would, and hand fused rows back
  * as a local relation or as an `id IN (…)` filter plus a score lookup.
  *
  * Ids stay in Spark's internal form (a `java.lang.Long`, a `UTF8String`,
  * …) from the scan to the fused frame, and every ordering is Spark's own
  * `LazilyGeneratedOrdering` over (score, id) — the one
  * `TakeOrderedAndProjectExec` uses — so NaN, −0.0 and string ids break
  * ties exactly as `orderBy(score, id).limit(k)` does. Lives in
  * `org.apache.spark.sql` for the internal row and ordering API. */
object CandidateLegs {

  /** (id, score) rows, best first. */
  type Rows = IndexedSeq[(Any, Double)]

  /** For each `(score, higherIsBetter)` of `scores`, the top `k` rows of
    * `df` by that score, ties by ascending id; rows whose score is null
    * never rank. ONE job: each partition feeds every row to one bounded
    * heap per score and ships the heaps' (id, score) pairs; the driver
    * merges them. The partition-bound top-k merge of REPOSE (ICDE 2021):
    * nothing shuffles. Returns the id's field and one ranked list per
    * score. */
  def topK(df: DataFrame, id: Column, scores: Seq[(Column, Boolean)],
      k: Int): (StructField, Seq[Rows]) = {
    val proj = df.select(id +: scores.zipWithIndex.map { case ((s, _), i) =>
      s.cast(DoubleType).as(s"__leg$i") }: _*)
    val idField = proj.schema.head
    val idType = idField.dataType
    val n = scores.size
    // over the projected row: score i sits at ordinal i + 1
    val onRow = scores.zipWithIndex.map { case ((_, hib), i) => ordering(idType, i + 1, hib) }
    val qe = proj.queryExecution
    val parts = if (k <= 0) Array.empty[Array[(Array[Any], Array[Double])]]
      else SQLExecution.withNewExecutionId(qe, Some("fusion legs")) {
        qe.toRdd.mapPartitions { it =>
          // worst kept row at each heap's head; a heap grows as it fills,
          // so a large k costs only the rows a partition holds
          val heaps = onRow.map(o =>
            new java.util.PriorityQueue[InternalRow](math.min(k, 1024), o.reverse))
          it.foreach { r =>
            var i = 0
            while (i < n) {
              if (!r.isNullAt(i + 1)) {
                val h = heaps(i)
                if (h.size < k) h.add(r.copy())
                else if (onRow(i).lt(r, h.peek)) { h.poll(); h.add(r.copy()) }
              }
              i += 1
            }
          }
          Iterator.single(heaps.zipWithIndex.map { case (h, i) =>
            val rs = h.toArray(new Array[InternalRow](0))
            (rs.map(_.get(0, idType)), rs.map(_.getDouble(i + 1)))
          }.toArray)
        }.collect()
      }
    val legs = (0 until n).map { i =>
      best(idType, parts.toIndexedSeq.flatMap { p =>
        val (ids, ss) = p(i)
        ids.indices.map(j => ids(j) -> ss(j))
      }, scores(i)._2).take(k)
    }
    (idField, legs)
  }

  /** `rows` sorted by score (descending when `higherIsBetter`), ties by
    * ascending id, under Spark's ordering for the id's type. */
  def best(idType: DataType, rows: Iterable[(Any, Double)],
      higherIsBetter: Boolean = true): Rows = {
    val o = ordering(idType, 1, higherIsBetter)
    val a = rows.map { case (i, s) => new GenericInternalRow(Array[Any](i, s)): InternalRow }
      .toArray
    java.util.Arrays.sort(a, o)
    a.toIndexedSeq.map(r => r.get(0, idType) -> r.getDouble(1))
  }

  /** Fused rows as a local relation (id, `score`): no scan, no job to
    * plan. */
  def frame(spark: SparkSession, id: StructField, rows: Rows): DataFrame = {
    val schema = StructType(Seq(id, StructField("score", DoubleType)))
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], LocalRelation(
      DataTypeUtils.toAttributes(schema),
      rows.map { case (i, s) => new GenericInternalRow(Array[Any](i, s)): InternalRow }))
  }

  /** The rows of `df` whose `id` is a fused id, each with its fused
    * `score` (replacing any column of that name): an `id IN (…)` filter
    * and a literal-map lookup, so no join and no broadcast job. A null id
    * matches nothing, as under an equi-join. */
  def payload(df: DataFrame, id: Column, idType: DataType, rows: Rows): DataFrame = {
    val live = rows.filter(_._1 != null)
    val idExpr = ExpressionUtils.expression(id)
    val scores = Literal(new ArrayBasedMapData(new GenericArrayData(live.map(_._1).toArray),
      new GenericArrayData(live.map(_._2: Any).toArray)),
      MapType(idType, DoubleType, valueContainsNull = false))
    // InSet, not In: the id set is a referenced object, so a fresh
    // request's payload scan reuses the generated code of the last one
    df.where(ExpressionUtils.column(InSet(idExpr, live.map(_._1).toSet)))
      .withColumn("score", ExpressionUtils.column(GetMapValue(scores, idExpr)))
  }

  /** Internal id values as Scala ones (`Long`, `String`, …). */
  def external(idType: DataType, ids: Seq[Any]): Seq[Any] =
    ids.map(CatalystTypeConverters.createToScalaConverter(idType))

  private def ordering(idType: DataType, scoreAt: Int,
      higherIsBetter: Boolean): LazilyGeneratedOrdering =
    new LazilyGeneratedOrdering(Seq(
      SortOrder(BoundReference(scoreAt, DoubleType, nullable = true),
        if (higherIsBetter) Descending else Ascending),
      SortOrder(BoundReference(0, idType, nullable = true), Ascending)))
}
