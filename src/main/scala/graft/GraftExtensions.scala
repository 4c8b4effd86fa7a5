package graft

import graft.functions.FixedPointDot
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Cluster-install surface for the engine's custom Catalyst pieces —
  * the `SparkSessionExtensions` path: set
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * and every session on the cluster gets `fixed_dot` resolved by the
  * analyzer for SQL text, with codegen, and two planner strategies: the
  * AS-OF JOIN operator's and the one-split file scan fast path
  * (`graft.plans.OneSplitScanStrategy`). This is the deployment story
  * for the 1000-executor cluster: extensions ship in the jar and are
  * active from the first query.
  *
  * The DataFrame API needs none of it for expressions: every custom
  * expression has a Column constructor (`VectorFunctions.fixedDot`,
  * `AnnPq.encode`, ...) that builds the Catalyst node directly, so no
  * build path reads or writes the session's function registry. Each
  * strategy has a per-session install for environments that can't set
  * cluster conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("fixed_dot"),
      new ExpressionInfo(
        classOf[FixedPointDot].getName,
        null,
        "fixed_dot",
        "fixed_dot(a, b) - exact fixed-point dot product of two float arrays " +
          "(sum of floor(a[i]*b[i]*1e15) as BIGINT)",
        "", "", "", "math_funcs", "", "", "built-in"),
      (exprs: Seq[Expression]) => FixedPointDot(exprs.head, exprs(1))))

    // the custom AS-OF JOIN operator's planner strategy (the per-session
    // fallback is AsofJoinOps.asofJoin appending to extraStrategies)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // one-split file scans planned as one partition (the per-session
    // fallback is Tables appending to extraStrategies)
    ext.injectPlannerStrategy(_ => graft.plans.OneSplitScanStrategy)
  }
}
