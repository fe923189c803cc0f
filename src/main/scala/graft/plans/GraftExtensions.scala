package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions that put graft into every session they
  * build: all of [[GraftFunctions.table]]'s functions, usable from SQL
  * text, the as-of join strategy and its column-pruning rule.
  *
  *   spark.builder.withExtensions(new GraftExtensions)
  *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  *   SELECT delta_r(eta1, phi1, eta2, phi2) ...
  *   SELECT weighted_histogram(mass, w, 0.0, 160.0, 40) ...
  *
  * A child of such a session (`spark.newSession()`) carries the same
  * extensions. For a session built without them use
  * `GraftSession.attach(spark)`, which adds the functions.
  *
  * graft's optional rewrites are not session state: a query opts in
  * per DataFrame with `RangeJoinRewrite.on`, `SpatialJoinRewrite.on`
  * or `ApproxDistinctRewrite.on`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
    // whole-operator extension (SURVEY §2.7 path c): as-of join planning
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // custom optimizer rule: column pruning through the as-of node
    ext.injectOptimizerRule(_ => AsOfJoinPruning)
  }
}
