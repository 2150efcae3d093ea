package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, UnscaledValue, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Optimizer rewrite: the ubiquitous exact-money-agg idioms
  *
  *   CAST(sum(CAST(x AS DECIMAL(p≤18, s))) AS DOUBLE)
  *   CAST(avg(CAST(x AS DECIMAL(p≤18, s))) AS DOUBLE)
  *
  * become [[FixedPointSum]] / [[FixedPointAvg]] over the SAME decimal cast's unscaled
  * long — Spark's stock `Sum` widens its buffer to `DECIMAL(p+10, s)`,
  * which at p > 8 exceeds the compact-long decimal range and churns a
  * JavaBigDecimal per row, while the int128 aggregate's update/merge
  * are a handful of primitive long ops inside whole-stage codegen
  * (PERF_r14.md, 18M rows: 1.02 s stock → 0.57 s). Spark's own
  * `DecimalAggregates` rule does the same unscaled-long trick but only
  * fires at p ≤ 8 — too narrow for money columns; this rule is its
  * wide-precision sibling.
  *
  * Exactness: the per-row feed keeps the ORIGINAL `Cast(x, decimal)`
  * (identical rounding, identical null behavior), the int128 buffer is
  * exact for ~2^64 rows, and finalization single-rounds through
  * `MakeDecimal` — outputs are BIT-IDENTICAL to the stock plan
  * (FixedPointSumSpec pins grouped/window/property-random parity). The
  * one divergence is in stock Sum's favor-less corner: past the
  * 28-digit buffer the stock plan nulls (legacy) or throws (ansi)
  * while this aggregate returns the true sum.
  *
  * Applies to grouped aggregates and window frames; skips DISTINCT
  * sums (the distinct dedup keys on the pre-rewrite child). FILTER
  * clauses ride along on the AggregateExpression unchanged. On by
  * default (it is an exact rewrite, like any optimizer rule); escape
  * hatch `spark.conf.set("graft.dsum.rewrite", "false")`.
  */
case class FixedPointSumRule(enabled: () => Boolean) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled()) return plan
    // window frames first: the analyzer SPLITS the idiom — the frame's
    // sum lands in a Window node and the double cast in the Project
    // above it — so the rewrite re-aliases the window expression (same
    // exprId, now double-typed) and strips the consumers' casts
    val windowed = plan.transformDown {
      case p @ Project(projList, w: Window) =>
        val rewritable = w.windowExpressions.flatMap {
          case a @ Alias(we @ WindowExpression(ae: AggregateExpression, _), _) =>
            rewriteAgg(ae).flatMap { r =>
              // every reference to this frame's output must be a cast
              // to double, else its decimal value is consumed somewhere
              val refs = projList.flatMap(_.collect {
                case att: AttributeReference if att.exprId == a.exprId => att })
              val casted = projList.flatMap(_.collect {
                case Cast(att: AttributeReference, DoubleType, _, _)
                    if att.exprId == a.exprId => att })
              if (refs.nonEmpty && refs.size == casted.size)
                Some(a.exprId -> Alias(we.copy(windowFunction = r), a.name)(
                  exprId = a.exprId, qualifier = a.qualifier,
                  explicitMetadata = a.explicitMetadata,
                  nonInheritableMetadataKeys = a.nonInheritableMetadataKeys))
              else None
            }.toSeq
          case _ => Nil
        }.toMap
        if (rewritable.isEmpty) p
        else {
          val newWin = w.copy(windowExpressions = w.windowExpressions.map {
            case a: Alias => rewritable.getOrElse(a.exprId, a)
            case o => o
          })
          val newList = projList.map(_.transform {
            case Cast(att: AttributeReference, DoubleType, _, _)
                if rewritable.contains(att.exprId) =>
              rewritable(att.exprId).toAttribute
          }.asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression])
          Project(newList, newWin)
        }
    }
    // grouped aggregates: the cast stays attached inside the Aggregate's
    // result expressions — a plain expression transform
    windowed.transformAllExpressions {
      case c @ Cast(ae: AggregateExpression, DoubleType, _, _) =>
        rewriteAgg(ae).getOrElse(c)
    }
  }

  /** The int128 twin of `ae` when it is a non-distinct Sum or Average
    * over a long-backed decimal (p ≤ 18: unscaled value fits one
    * long). AVG finalizes through the harvested stock Average tree
    * (see [[FixedPointAvg]]), so its rounding/overflow semantics are
    * the stock plan's by construction. */
  private def rewriteAgg(ae: AggregateExpression): Option[AggregateExpression] =
    ae match {
      case AggregateExpression(Sum(inner, _), _, false, _, _) =>
        decimalType(inner).map { dt =>
          ae.copy(aggregateFunction = FixedPointSum(UnscaledValue(inner), dt.scale))
        }
      case AggregateExpression(avg @ Average(inner, _), _, false, _, _) =>
        decimalType(inner).map { dt =>
          ae.copy(aggregateFunction =
            FixedPointAvg(UnscaledValue(inner), dt.precision, dt.scale, avg.evalMode))
        }
      case _ => None
    }

  private def decimalType(e: Expression): Option[DecimalType] = e.dataType match {
    case dt: DecimalType if dt.precision <= 18 => Some(dt)
    case _ => None
  }
}
