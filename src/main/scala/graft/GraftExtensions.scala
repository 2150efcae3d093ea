package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.{DoubleToScaledLong, FixedPointSum}
import org.apache.spark.sql.types.DoubleType

/** The engine's one session hook. [[SessionTuning]] installs it on
  * every session it builds, so Bench, Verify, Serve, the REPL, the
  * tools and the specs all resolve the same SQL names with no
  * registration call: the five distance metrics
  * ([[graft.functions.VectorFunctions.sqlFunctions]]) and `dsum(x,
  * scale)`. It injects functions only, no optimizer rule, so a
  * session's plans are Spark's own.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      builder)

  override def apply(e: SparkSessionExtensions): Unit = {
    graft.functions.VectorFunctions.sqlFunctions.foreach { case (name, f) =>
      e.injectFunction(fn(name, es => f(es(0), es(1))))
    }
    e.injectFunction(fn("dsum", dsum))
  }

  /** `dsum(x, scale)`: the exact money/quantity sum as SQL — the int128
    * [[FixedPointSum]] behind the relational rows. Input is taken as
    * DOUBLE and scaled by the oracle-exact rint cast
    * ([[DoubleToScaledLong]]), the same semantics as the DataFrame-side
    * `FixedPointSum.dsumD`: one function, one rounding contract. */
  private def dsum(es: Seq[Expression]): Expression = {
    if (es.length != 2)
      throw new IllegalArgumentException(
        s"dsum expects exactly (value, scale), got ${es.length} argument(s)")
    val scale = es(1) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"dsum scale must be an integer literal, got $other")
    }
    FixedPointSum(DoubleToScaledLong(Cast(es(0), DoubleType), scale), scale)
      .toAggregateExpression()
  }
}
