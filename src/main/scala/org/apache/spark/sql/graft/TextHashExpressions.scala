package org.apache.spark.sql.graft

import graft.functions.TextKernels
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen twins of the classifier/DSIR hashed-feature convention
  * `conv(substring(md5(gram), 1, 15), 16, 10) % dim` (Classifier.fidOf).
  * The built-in chain allocates a 32-char hex string, a 15-char
  * substring and a base-16 parse PER GRAM — at ~200 grams/doc that
  * chain (not the HOF-vs-explode plan shape) was q173's entire gap to
  * the DuckDB oracle (PERF_r16.md: both plan shapes measured
  * ~equal). These kernels digest the UTF-8 bytes directly and reduce
  * the top 60 bits mod dim; bit-parity with the built-in chain is
  * pinned by TextKernelsSpec.
  */

/** fid of one gram string: md5-top-60-bits % dim (LongType). */
case class Md5Fid(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(dim > 0, s"Md5Fid: dim must be positive, got $dim")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_fid"

  override def nullSafeEval(g: Any): Any =
    TextKernels.fid(g.asInstanceOf[UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g =>
      s"${ev.value} = graft.functions.TextKernels.fid($g, $dim);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** First `nibbles` (1..15) hex chars of md5(child) as LongType — the
  * byte-direct twin of `conv(substring(md5(x), 1, nibbles), 16, 10)`
  * (cast to bigint). Shared by the dedup 60-bit shingle/fingerprint
  * hash (nibbles=15) and simhash's 32-bit bit source (nibbles=8);
  * bit-parity with the built-in chain is pinned by TextKernelsSpec. */
case class Md5Prefix(child: Expression, nibbles: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nibbles >= 1 && nibbles <= 15,
    s"Md5Prefix: nibbles must be in 1..15 (16 reads the sign bit), got $nibbles")
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix"

  override def nullSafeEval(g: Any): Any =
    TextKernels.md5Prefix(g.asInstanceOf[UTF8String], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g =>
      s"${ev.value} = graft.functions.TextKernels.md5Prefix($g, $nibbles);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-document margin Σ weights[fid(gram)] over unigrams then adjacent
  * bigrams of a token array — one kernel call per row replacing the
  * interpreted `aggregate(gramsOf(w))` fold AND its per-gram
  * md5-hex/conv/concat allocations. The dense weight vector rides the
  * plan as a reference object (the dim-bounded broadcast-as-literal
  * pattern of EuclideanDistanceDouble's centroid side). */
case class HashedGramMargin(tokens: Expression, weights: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  require(weights.nonEmpty, "HashedGramMargin: weights must be non-empty")
  private def dim: Int = weights.length

  override def child: Expression = tokens
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hashed_gram_margin"

  override def nullSafeEval(t: Any): Any = {
    val ad = t.asInstanceOf[ArrayData]
    TextKernels.requireNoNullElements(ad, prettyName)
    TextKernels.gramMargin(ad, weights, dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("gramWeights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, t =>
      s"""graft.functions.TextKernels.requireNoNullElements($t, "$prettyName");
         |${ev.value} = graft.functions.TextKernels.gramMargin($t, $wRef, $dim);
         |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(tokens = c)
}

/** A row's BM25 score over its lower-cased text
  * ([[graft.functions.TextKernels.bm25Score]]): the query terms and the
  * corpus stats ride the plan as reference objects, not literals, so a
  * query with new terms or stats reuses the generated code of the last
  * one with as many terms instead of compiling its own. */
case class Bm25Score(lowered: Expression, terms: Array[Array[Byte]], stats: Array[Double],
    k1: Double, b: Double) extends UnaryExpression with ExpectsInputTypes {
  require(stats.length == terms.length + 1, "Bm25Score: stats = (avgdl, idf per term)")

  override def child: Expression = lowered
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "bm25_score"

  override def nullSafeEval(t: Any): Any =
    TextKernels.bm25Score(t.asInstanceOf[UTF8String], terms, stats, k1, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("bm25Terms", terms, "byte[][]")
    val sRef = ctx.addReferenceObj("bm25Stats", stats, "double[]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.bm25Score($t, $tRef, $sRef, ${k1}D, ${b}D);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(lowered = c)
}
