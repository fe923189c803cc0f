package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions that put graft into every session they
  * build: all of [[GraftFunctions.table]]'s functions, usable from SQL
  * text, the as-of join strategy and graft's optimizer rules.
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
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(f => ext.injectFunction((f.id, f.info, f.builder)))
    // whole-operator extension (SURVEY §2.7 path c): as-of join planning
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // custom optimizer rule: column pruning through the as-of node
    ext.injectOptimizerRule(_ => AsOfJoinPruning)
    // custom optimizer rule: bucketed range-join rewrite (gated on
    // spark.graft.rangeJoin.bucketWidth — inactive unless set)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectOptimizerRule(_ => SpatialJoinRewrite)
    // custom optimizer rule: exact COUNT(DISTINCT) -> HLL estimate
    // (gated on spark.graft.approxDistinct — inactive unless true)
    ext.injectOptimizerRule(_ => ApproxDistinctRewrite)
  }
}
