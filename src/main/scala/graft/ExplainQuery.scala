package graft

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic main: print the formatted plan of one registered query.
  * usage: graft.ExplainQuery <queryName> [sfDir] [run]
  * With "run", executes it and prints the FINAL adaptive plan + timing. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val doRun = args.length > 2 && args(2) == "run"
    val spark = GraftSession.mainSession(GraftSession.mainCores("graft.ExplainQuery"), "ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (doRun) {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      println(df.queryExecution.executedPlan.toString)
    } else {
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
