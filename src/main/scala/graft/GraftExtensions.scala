package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: injects the five distance metrics
  * ([[graft.functions.VectorFunctions.sqlFunctions]]) into a session's
  * function registry at build time, so `spark.sql("SELECT
  * cosine_sim(a, b) …")` works with no imperative registration call.
  * Install it on a session builder with `.withExtensions(new
  * GraftExtensions)`, or with the conf
  * `spark.sql.extensions=graft.GraftExtensions`.
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
    // opt-in ANN top-k rewrite (SURVEY §4.3): bucket-prunes similarity
    // sorts over LSH-indexed frames when graft.ann.rewrite=true
    e.injectPreCBORule { session =>
      org.apache.spark.sql.graft.AnnTopKRule(() =>
        session.conf.get("graft.ann.rewrite", "false").toBoolean)
    }
    // exact rewrite, on by default: CAST(sum(CAST(x AS DECIMAL(≤18,s)))
    // AS DOUBLE) → the int128 FixedPointSum (bit-identical, ~2× at 18M
    // rows); graft.dsum.rewrite=false to escape
    e.injectPreCBORule { session =>
      // marker for VectorFunctions.register(): a session built with the
      // extensions already carries this rule, so the imperative path
      // must not add a second copy (r15 review finding)
      session.conf.set("graft.extensions.installed", "true")
      org.apache.spark.sql.graft.FixedPointSumRule(() =>
        session.conf.get("graft.dsum.rewrite", "true").toBoolean)
    }
  }
}
