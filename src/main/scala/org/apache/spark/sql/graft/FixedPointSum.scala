package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Exact fixed-point SUM over pre-scaled longs, accumulated in a
  * 128-bit signed integer carried as two Long buffer slots — the same
  * accumulation strategy DuckDB uses for `SUM(DECIMAL)` (int128
  * hugeint), expressed as a Catalyst [[DeclarativeAggregate]] so the
  * whole update/merge path stays inside whole-stage-codegen
  * HashAggregate as a handful of primitive long ops.
  *
  * Why: Spark's stock `Sum` over `DECIMAL(18,s)` widens the buffer to
  * `DECIMAL(28,s)`, which exceeds the compact-Long decimal range, so
  * every row's add churns JavaBigDecimal allocations. On TPC-H Q1 at
  * 18M rows that is 3.3× the cost of the same aggregation over
  * primitive sums (PERF_r14.md: 0.895 s decimal vs 0.270 s double vs
  * 0.149 s scan floor). The Spark optimizer's own `DecimalAggregates`
  * unscaled-long rewrite only fires at precision ≤ 8 — too narrow for
  * money columns.
  *
  * Semantics: input is the UNSCALED long of `CAST(x AS DECIMAL(18,s))`
  * (see `RelationalQueries.dsum`), so per-row rounding is identical to
  * the decimal plan and to the DuckDB oracle. The int128 running sum
  * is exact for ~2^64 input rows (overflow-free for any realistic
  * scan; stock decimal sum would overflow its 28-digit precision
  * around the same magnitude). Output is DOUBLE `sum / 10^scale`,
  * single-rounded from the exact sum at EVERY magnitude: while the
  * unscaled sum fits int64 this is `MakeDecimal(...).toDouble`
  * (exactly the stock path); past int64 [[Int128ToDouble]] reassembles
  * the exact int128 as a BigDecimal before the one double rounding.
  * Values are therefore bit-identical to the stock decimal-Sum plan
  * wherever that plan produces a value; the only divergence is
  * BEHAVIORAL, past the stock 28-digit buffer (unscaled ≥ 1e28): stock
  * Sum nulls there in legacy mode and throws in ANSI mode, while this
  * aggregate returns the true single-rounded sum in both modes (i.e.
  * under ANSI an overflow error is traded for the correct value).
  *
  * Null semantics match SQL SUM: nulls skipped, all-null/empty → null.
  *
  * Cross-engine note (found by a 30× probe, see PERF_r14.md): once the
  * unscaled sum exceeds 2^53, DuckDB's own decimal→double cast
  * DOUBLE-rounds (int64→double, then ÷10^s — measured: exact sum
  * …023960 → DuckDB …02397) while this aggregate, like Spark's stock
  * decimal Sum, single-rounds correctly (→ …02396). The divergence is
  * ≤1 ulp of the total, appears only past 9e15 absolute, and this
  * engine sits on the CORRECT side of it; outputs stay bit-identical
  * to the stock Spark plan at every magnitude.
  */
case class FixedPointSum(child: Expression, scale: Int)
    extends DeclarativeAggregate with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "fixed_point_sum"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val nonEmpty =
    AttributeReference("nonEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, nonEmpty)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  /** Wrapping long add regardless of the session ANSI mode — int128
    * limb arithmetic NEEDS two's-complement wraparound. */
  private def addW(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** (h1,l1) + (h2,l2) in int128: lo limbs add with wraparound, the
    * carry-out of the unsigned lo add ripples into the hi limb
    * (carry = ((a&b) | ((a|b) & ~r)) >>> 63, the standard carry-out
    * identity for r = a + b mod 2^64). */
  private def add128(h1: Expression, l1: Expression,
      h2: Expression, l2: Expression): (Expression, Expression) = {
    val newLo = addW(l1, l2)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(l1, l2),
        BitwiseAnd(BitwiseOr(l1, l2), BitwiseNot(newLo))),
      Literal(63))
    val newHi = addW(addW(h1, h2), carry)
    (newHi, newLo)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // sign-extend the 64-bit input to int128: xHi = x >> 63 (0 or -1)
    val (nh, nl) = add128(hi, lo, ShiftRight(child, Literal(63)), child)
    Seq(
      If(IsNull(child), hi, nh),
      If(IsNull(child), lo, nl),
      Or(nonEmpty, IsNotNull(child)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (nh, nl) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(nh, nl, Or(nonEmpty.left, nonEmpty.right))
  }

  override lazy val evaluateExpression: Expression = {
    // exact path (the int128 is just a sign-extended int64 — true for
    // any realistic sum): rebuild the decimal from the unscaled long
    // and let Decimal.toDouble single-round, BIT-IDENTICAL to the
    // stock decimal Sum's output (a long→double→÷10^s chain would
    // double-round and drift 1 ulp — observed on q01's sum_charge)
    val fitsInt64 = EqualTo(hi, ShiftRight(lo, Literal(63)))
    val exact = Cast(MakeDecimal(lo, DecimalType.MAX_PRECISION, scale), DoubleType)
    // wide path (unscaled sum beyond ±9.2e18): reassemble the EXACT
    // int128 as a BigDecimal and single-round — still bit-correct up
    // here, unlike a double-space hi·2^64+lo recombination (≤1 ulp
    // drift) and unlike stock Sum, which nulls (legacy) / throws
    // (ansi) once its 28-digit buffer overflows at ~1e28. Runs once
    // per group, so the per-group BigInteger is free.
    val wide = Int128ToDouble(hi, lo, scale)
    If(nonEmpty, If(fitsInt64, exact, wide), Literal(null, DoubleType))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `rint(x * 10^scale)` as a long — the unscaled value of
  * `CAST(x AS DECIMAL(_, scale))` computed the way DuckDB computes it:
  * one double multiply and a round-half-even, no BigDecimal
  * (`cast_operators` in DuckDB does exactly `nearbyint(input *
  * powers_of_ten[scale])`). This is the oracle's OWN cast semantics,
  * replicated bit-for-bit: both engines evaluate the same IEEE double
  * product and the same half-even rounding, so per-row unscaled values
  * agree on EVERY input, not just benign ones.
  *
  * Divergence note (documented, deliberate): Spark's stock
  * `Cast(double, decimal)` goes through the shortest-decimal string
  * repr + HALF_UP — a different tie-break that agrees with the rint
  * path on any value that is exactly representable at ≤`scale`
  * decimals (all money/quantity data; the correctness gate pins it)
  * but can differ one ulp on adversarial mid-ulp ties. Since the
  * oracle is DuckDB, rint IS the contract; the BigDecimal path was
  * the approximation. Overflow (|x·10^s| ≥ 2^63) and NaN throw, as
  * DuckDB's cast does.
  */
case class DoubleToScaledLong(child: Expression, scale: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "double_to_scaled_long"

  private val pow = math.pow(10, scale) // exact power of ten ≤ 10^22

  override protected def nullSafeEval(input: Any): Any = {
    val r = Math.rint(input.asInstanceOf[Double] * pow)
    if (!(Math.abs(r) < 9.223372036854776e18))
      throw new ArithmeticException(
        s"double_to_scaled_long overflow: value $input at scale $scale")
    r.toLong
  }

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val r = ctx.freshName("scaled")
      s"""
         |double $r = java.lang.Math.rint($x * ${pow}D);
         |if (!(java.lang.Math.abs($r) < 9.223372036854776E18)) {
         |  throw new ArithmeticException(
         |    "double_to_scaled_long overflow: value " + $x + " at scale $scale");
         |}
         |${ev.value} = (long) $r;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact finalization helpers for the (hi, lo) int128 limb pair.
  * Standalone object so the Scala compiler emits static forwarders —
  * generated janino code calls these as plain Java statics. Each runs
  * once per GROUP (never per row), so the BigInteger is free. */
object Int128 {
  /** The signed int128 (hi·2^64 + unsigned lo) as an exact
    * java.math.BigInteger — 16-byte big-endian reassembly. */
  def toBigInteger(hi: Long, lo: Long): java.math.BigInteger = {
    val b = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      b(i) = (hi >>> (56 - 8 * i)).toByte
      b(i + 8) = (lo >>> (56 - 8 * i)).toByte
      i += 1
    }
    new java.math.BigInteger(b)
  }

  /** Exact `int128 · 10^-scale` single-rounded to double — JDK
    * BigDecimal.doubleValue is correctly rounded at any magnitude. */
  def toDouble(hi: Long, lo: Long, scale: Int): Double =
    new java.math.BigDecimal(toBigInteger(hi, lo), scale).doubleValue()
}

/** `(hi, lo) int128 · 10^-scale` exactly single-rounded to DOUBLE —
  * the wide-path finalizer of [[FixedPointSum]]. */
case class Int128ToDouble(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "int128_to_double"

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    Int128.toDouble(hi.asInstanceOf[Long], lo.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (hi, lo) =>
      s"${ev.value} = org.apache.spark.sql.graft.Int128.toDouble($hi, $lo, $scale);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FixedPointSum {
  import org.apache.spark.sql.Column

  /** `SUM(CAST(c AS DECIMAL(18,scale)))` as a double, computed exactly
    * via the int128 aggregate: the per-row decimal cast (identical
    * rounding to the stock plan and the DuckDB oracle) feeds its
    * unscaled long straight into [[FixedPointSum]] — no decimal adds.
    * General-input path (any numeric/decimal child); for DOUBLE
    * children prefer [[dsumD]], which also skips the per-row cast. */
  def dsum(c: Column, scale: Int): Column = Bridge.column(
    FixedPointSum(
      UnscaledValue(Cast(Bridge.expression(c), DecimalType(18, scale))),
      scale).toAggregateExpression())

  /** [[dsum]] for a DOUBLE column with the per-row cast done the
    * oracle's way ([[DoubleToScaledLong]]): rint in double space, no
    * decimal values anywhere in the plan. PERF_r14.md, 18M rows, one
    * session: stock decimal Sum 1.02 s → int128 over decimal cast
    * 0.57 s → int128 over rint 0.26 s — at the plain-double-sum floor
    * (0.27 s) while staying exact; bit-identical output to all. */
  def dsumD(c: Column, scale: Int): Column = Bridge.column(
    FixedPointSum(DoubleToScaledLong(Bridge.expression(c), scale), scale)
      .toAggregateExpression())

  /** The unscaled long of `CAST(c AS DECIMAL(_, scale))`, rint
    * semantics — for composing exact fixed-point products whose result
    * feeds [[sumScaled]] (e.g. q01's sum_charge: scale-4 × scale-2
    * longs multiply EXACTLY in int64 to a scale-6 long, precisely the
    * decimal multiply DuckDB performs, without any decimal values). */
  def scaledLong(c: Column, scale: Int): Column =
    Bridge.column(DoubleToScaledLong(Bridge.expression(c), scale))

  /** Sum a column that already carries unscaled longs at `scale`. */
  def sumScaled(c: Column, scale: Int): Column = Bridge.column(
    FixedPointSum(Bridge.expression(c), scale).toAggregateExpression())
}
