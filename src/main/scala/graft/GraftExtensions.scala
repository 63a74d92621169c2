package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.NativeFunctions

/** The one place graft enters a session: sessions built with
  * `spark.sql.extensions=graft.GraftExtensions` get the top-k planner
  * strategy and every native function of [[NativeFunctions.all]] as
  * SQL-callable functions (`SELECT vec_dot_f(a, b)`). The Column helpers
  * in `graft.functions` only call them by name. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Grouped top-k: plans graft.plans.TopKPerKey logical nodes as
    // partial→final bounded-heap passes (map-side k-reduction the window
    // formulation cannot do).
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPerKeyStrategy)
    for (f <- NativeFunctions.all)
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.builder))
  }
}
