package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.SparkSpec.assumeAllQueryFixtures
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.collection.mutable

/** Structural lock on the "zero codegen fallbacks" claim: run every
  * query and FAIL if Spark's CodeGenerator logs a compile error (the
  * janino 64 KB path) anywhere outside the documented-benign
  * allowlist. This is how d05's silent 4.8× interpreted-eval
  * regression would have been caught the round it was introduced —
  * the ERROR line scrolls by harmlessly in test logs otherwise.
  *
  * Queries are driven through `toRdd` (the write-shaped path): a
  * count() would let the optimizer prune the output projections, which
  * is exactly where oversized codegen hides. A self-emitted event
  * inside the run guards against the probe going deaf.
  *
  * No allowlist (round 10): the one historical fallback — m13 under a
  * DOWNSTREAM filter whose predicate-pushdown inlined the softmax 4×
  * into one fused filter+count stage — came from the test's filter
  * shape, not from m13's own plan, and the test was rewritten to
  * aggregate-based validation. Every query must now stay in codegen. */
class CodegenHealthSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val benign = Set.empty[String]

  test("no query falls out of codegen") {
    assumeAllQueryFixtures()
    val errors = mutable.Map.empty[String, Int]
    var current = "(none)"
    val appender = new AbstractAppender(
      "graft-codegen-probe", null, null, false, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = {
        if (event.getLoggerName.contains("CodeGenerator") &&
          event.getLevel.toString == "ERROR") {
          errors.synchronized {
            errors(current) = errors.getOrElse(current, 0) + 1
          }
        }
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    try {
      current = "wire-check"
      LogManager.getLogger(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
        .error("probe wiring self-test")
      assert(errors.contains("wire-check"),
        "appender did not even capture a self-emitted CodeGenerator error")
      errors.remove("wire-check")
      // Two phases so ASYNC compile errors (broadcast-exchange threads
      // finishing after the action returns) cannot launder through the
      // allowlist: the strict phase runs every non-allowlisted query and
      // fails on ANY error seen during it — the per-name map is only the
      // error message, never the pass/fail criterion — and the benign
      // queries run LAST, so a late strict-phase error lands in the
      // strict total, not in a benign query's window.
      val (benignQs, strictQs) =
        SparkEntry.queries.toSeq.sortBy(_._1).partition(q => benign(q._1))
      strictQs.foreach { case (name, fn) =>
        current = name
        // toRdd, not count(): a count would let the optimizer PRUNE the
        // output projections — exactly where oversized codegen hides
        fn(spark, dir).queryExecution.toRdd.count()
      }
      // drain: a no-op action plus a short grace so in-flight broadcast
      // compiles attribute before the phase boundary
      current = "(strict-drain)"
      spark.range(1).queryExecution.toRdd.count()
      Thread.sleep(250)
      val strictErrors = errors.synchronized { errors.toMap }
      assert(strictErrors.isEmpty,
        s"codegen compile failures in the strict phase: " +
          strictErrors.toSeq.sorted.map { case (k, v) => s"$k($v)" }
            .mkString(", "))
      benignQs.foreach { case (name, fn) =>
        current = name
        fn(spark, dir).queryExecution.toRdd.count()
      }
    } finally {
      cfg.getRootLogger.removeAppender("graft-codegen-probe")
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
