package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Add, Ascending, Attribute, Descending, Expression, GreaterThanOrEqual, If, In, InSet, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

import graft.operators.Ann

/** The ANN rewrite rule from SURVEY.md §4.3 item 3: turn
  *
  *   Limit k ∘ Sort(metric(vec, LITERAL) DESC/ASC, …) ∘ child
  *
  * into
  *
  *   Limit k ∘ Sort(…) ∘ Filter(lshSig(vec) IN probeBuckets(sig(LITERAL))) ∘ child
  *
  * The probe predicate recomputes the random-hyperplane signature from
  * the vector column itself (the same deterministic planes as
  * [[graft.operators.Ann.buildIndex]]), so it applies whether or not the
  * plan still carries a materialized `bucket` column (column pruning
  * strips it when unselected). On a bucket-partitioned index table the
  * identical expression folds into partition pruning; on a raw frame it
  * evaluates inline. Either way the sort only orders candidates inside
  * the Hamming ball.
  *
  * Opt-in (the ANN contract trades exactness for probe-bound work):
  * `spark.conf.set("graft.ann.rewrite", "true")`. The probe is the
  * LSH index's `Ann.Planes` planes at radius `Ann.Radius`, the balanced
  * tier (the reference's ef tiers — vector.rs:69-115). Injected as a
  * pre-CBO rule so it runs exactly once per plan; an idempotence guard
  * skips sorts whose child already filters on this probe set.
  */
case class AnnTopKRule(enabled: () => Boolean) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled()) return plan
    plan.transformDown {
      // column pruning may leave a Project between the limit pair and the
      // Sort — match both shapes
      case gl @ GlobalLimit(_, ll @ LocalLimit(_, s: Sort)) =>
        gl.copy(child = ll.copy(child = rewriteSort(s)))
      case gl @ GlobalLimit(_, ll @ LocalLimit(_, p @ Project(_, s: Sort))) =>
        gl.copy(child = ll.copy(child =
          p.copy(child = rewriteSort(s))))
    }
  }

  /** Insert the probe filter under a qualifying similarity Sort; returns
    * the sort unchanged when it does not qualify. */
  private def rewriteSort(s: Sort): Sort = s match {
    case Sort(SortOrder(simExpr, direction, _, _) +: _, true, child, _) =>
      simVec(simExpr) match {
        // only a NEAREST-first top-k qualifies: Descending for
        // higher-is-better metrics (cosine/dot/jaccard), Ascending for
        // distances (l2/hamming). A farthest-first sort over the nearest
        // buckets would not approximate the requested query at all.
        case Some((vecAttr, q, higherIsBetter)) if
            (if (higherIsBetter) direction == Descending else direction == Ascending) =>
          val sig = Ann.signature(q, Ann.planes(Ann.Planes, q.length))
          val probes = Ann.probeBuckets(sig, Ann.Planes, Ann.Radius)
          if (alreadyProbed(child, probes)) s
          else s.copy(child = Filter(
            In(signatureExpr(vecAttr, q.length),
              probes.map(b => Literal(b, LongType))), child))
        case _ => s
      }
    case other => other
  }

  /** (vector attribute, query literal, higher-is-better) of a
    * distance-ordered sort key. */
  private def simVec(e: Expression): Option[(Attribute, Array[Float], Boolean)] = e match {
    case d: VectorDistanceExpression if d.right.foldable =>
      val higherIsBetter = d match {
        case _: EuclideanDistance | _: HammingDistance => false
        case _ => true
      }
      d.left match {
        case a: Attribute =>
          Option(d.right.eval(null))
            .map(arr => (a, arr.asInstanceOf[ArrayData].toFloatArray(), higherIsBetter))
        case _ => None
      }
    case _ => None
  }

  /** The LSH signature as an expression over the vector column — the
    * same bit construction as Ann.buildIndex, so values agree with any
    * materialized `bucket` column. */
  private def signatureExpr(vec: Attribute, dim: Int): Expression =
    Ann.planes(Ann.Planes, dim).toIndexedSeq.zipWithIndex.map { case (plane, p) =>
      If(GreaterThanOrEqual(
          DotProduct(vec, Literal.create(plane.toSeq, ArrayType(FloatType))),
          Literal(0.0, DoubleType)),
        Literal(1L << p, LongType), Literal(0L, LongType)): Expression
    }.reduce(Add(_, _))

  /** Idempotence guard: any Filter below already constraining to this
    * probe set (as In or the optimizer's InSet form). */
  private def alreadyProbed(p: LogicalPlan, probes: Seq[Long]): Boolean = {
    val probeSet: Set[Any] = probes.toSet.map((b: Long) => b.asInstanceOf[Any])
    p.collectFirst {
      case f: Filter if f.condition.exists {
        case In(_, vs) if vs.forall(_.isInstanceOf[Literal]) &&
          vs.map(_.asInstanceOf[Literal].value).toSet == probeSet => true
        case InSet(_, hset) if hset == probeSet => true
        case _ => false
      } => f
    }.isDefined
  }
}
